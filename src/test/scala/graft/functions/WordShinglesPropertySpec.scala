package graft.functions

import graft.SparkSpec
import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** The DuckDB oracle reproduces shingling with a list comprehension that
  * must stay in lockstep with the engine. The engine itself has two
  * implementations — the native WordShingles Expression (hot paths) and
  * the builtin-function chain in TextOps.shingles (documentation of the
  * semantics). This test pins them to each other over randomized inputs
  * (seeded), including empty tokens, repeated runs and short texts. */
class WordShinglesPropertySpec extends SparkSpec {
  import spark.implicits._

  test("native word_shingles ≡ builtin-function shingles for random inputs") {
    val rnd = new scala.util.Random(2026)
    val vocab = Vector("a", "bb", "ccc", "", "x", "yy", "a") // dupes + empty
    val texts = (1 to 300).map { _ =>
      val n = rnd.nextInt(13)
      (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    } :+ "" :+ "one" :+ "one two" :+ "one two three" :+ "  " :+ "a a a a"
    val both = texts.toDF("t").select(
      GraftFunctions.word_shingles(col("t"), 3).as("native"),
      TextOps.shingles(TextOps.tokens(col("t")), 3).as("builtin"),
      col("t"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"diverged on input '${r.getString(2)}'")
    }
  }

  test("native word_ngrams ≡ driver-side sliding windows for random inputs") {
    val rnd = new scala.util.Random(2027)
    val vocab = Vector("a", "bb", "ccc", "", "x", "yy", "a")
    val texts = (1 to 300).map { _ =>
      val n = rnd.nextInt(13)
      (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    } :+ "" :+ "one" :+ "one two" :+ "  " :+ "a a a a"
    Seq(1, 2, 3).foreach { w =>
      val rows = texts.toDF("t").select(
        GraftFunctions.word_ngrams(col("t"), w).as("native"), col("t"))
        .collect()
      rows.foreach { r =>
        val toks = r.getString(1).split(" ", -1).toSeq
        val expect =
          if (toks.length < w) Seq.empty[String]
          else toks.sliding(w).map(_.mkString(" ")).toSeq
        assert(r.getSeq[String](0) == expect,
          s"w=$w diverged on input '${r.getString(1)}'")
      }
    }
  }
}
