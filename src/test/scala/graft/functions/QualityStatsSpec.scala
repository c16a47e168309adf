package graft.functions

import graft.SparkSpec
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** The fused one-pass text_quality_stats Expression must reproduce the
  * composed-builtin quality projection bit-for-bit — on the real
  * documents fixture and on the adversarial token shapes (empty text,
  * repeated/trailing spaces, unicode, case-folded stopwords). */
class QualityStatsSpec extends SparkSpec {

  private def both(df: org.apache.spark.sql.DataFrame) = {
    val fused = df.select((col("doc_id") +:
      TextAnalysis.qualityCols(col("text"))): _*).orderBy("doc_id").collect()
    val composed = df.select((col("doc_id") +:
      TextAnalysis.qualityColsComposed(col("text"))): _*).orderBy("doc_id").collect()
    (fused, composed)
  }

  test("fused quality stats equal the composed plan on the documents fixture") {
    val docs = graft.tables.Tables.documents(spark, sf())
      .withColumn("text", coalesce(col("text"), lit("")))
    val (fused, composed) = both(docs)
    assert(fused.length == composed.length && fused.nonEmpty)
    fused.zip(composed).foreach { case (f, c) =>
      assert(f == c, s"fused=$f composed=$c")
    }
  }

  test("fused quality stats equal the composed plan on adversarial shapes") {
    import spark.implicits._
    val docs = Seq(
      (1L, ""),
      (2L, " "),
      (3L, "  double  spaces  "),
      (4L, "The AND of TO a IN is THE the"),
      (5L, "punct!!! 100% (really)?"),
      (6L, "dup dup dup dup"),
      (7L, "café naïve 中文 😀 mixed"),
      (8L, "no-spaces-at-all"),
      (9L, "a"),
      (10L, "trailing space ")
    ).toDF("doc_id", "text")
    val (fused, composed) = both(docs)
    fused.zip(composed).foreach { case (f, c) =>
      assert(f == c, s"fused=$f composed=$c")
    }
  }

  test("q_text_quality plans one scan with no regexp or array_distinct") {
    val plan = graft.SparkEntry.queries("q_text_quality")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(plan.contains("text_quality_stats"), plan)
    assert(!plan.contains("regexp_replace") && !plan.contains("array_distinct"),
      s"quality projection still multi-pass:\n$plan")
  }
}
