package perfbench

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions._

/** The `functions` layer alone: rows/s of graft's native Expressions over
  * a fixed in-memory batch of documents, evaluated by a generated
  * projection on the calling thread (no scheduler, no scan). */
object Kernels {
  private val Dim = 64

  def probe(spark: SparkSession, docs: Seq[(Long, String)], minSeconds: Double): Seq[(String, Double)] = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val r = new scala.util.Random(docs.size)
    val mat = Array.fill(16, Dim)(r.nextGaussian())
    val schema = StructType(Seq(StructField("text", StringType), StructField("html", StringType),
      StructField("toks", ArrayType(StringType)), StructField("sh", ArrayType(StringType)),
      StructField("v", ArrayType(DoubleType))))
    val shingles = docs.map { case (_, t) =>
      t.split(" ").sliding(3).map(_.mkString(" ")).toSeq.distinct }
    val data = docs.zip(shingles).map { case ((_, t), sh) =>
      Row(t, s"<html><body><p>$t</p><div>${t.take(40)}</div></body></html>", t.split(" ").toSeq, sh,
        Seq.fill(Dim)(r.nextGaussian()))
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
    val kernels: Seq[(String, Column)] = Seq(
      "minhash_bands" -> minhash_bands(col("sh"), 128, 32),
      "word_shingles" -> word_shingles(col("text"), 3),
      "simhash_wide" -> simhash_wide(col("toks"), 2),
      "html_text" -> html_text(col("html")),
      "nfc_normalize" -> nfc_normalize(col("text")),
      "text_quality_stats" -> text_quality_stats(col("text")),
      "repetition_stats" -> repetition_stats(col("toks")),
      "srp_signature" -> srp_signature(col("v"), 16),
      "vec_mat_cosines" -> vec_mat_cosines(col("v"), mat),
      "fnv1a64" -> fnv1a64(col("text"), 0xcbf29ce484222325L))
    kernels.map { case (name, k) =>
      val Project(list, rel: LocalRelation) = df.select(k.as("o")).queryExecution.analyzed: @unchecked
      val proj = UnsafeProjection.create(Seq(BindReferences.bindReference(list.head, rel.output)))
      val rows: Array[InternalRow] = rel.data.toArray
      rows.foreach(proj(_)) // warm the JIT
      var n = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < minSeconds * 1e9) {
        var i = 0
        while (i < rows.length) { proj(rows(i)); i += 1 }
        n += rows.length
      }
      (name, n / ((System.nanoTime() - t0) / 1e9))
    }
  }
}
