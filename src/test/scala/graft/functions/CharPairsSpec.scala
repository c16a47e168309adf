package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CharPairsSpec extends SparkSpec {
  import spark.implicits._

  private def pairsOf(s: String): Seq[String] = {
    Seq(s).toDF("t")
      .select(GraftFunctions.char_pairs(col("t")).as("p"))
      .as[Seq[String]].head()
  }

  test("adjacent pairs within words, with multiplicity") {
    assert(pairsOf("banana") ==
      Seq("ba", "an", "na", "an", "na"))
  }

  test("uppercase folds; non-letters (digits, punct, unicode) split words") {
    assert(pairsOf("Ab-cd") == Seq("ab", "cd"))
    assert(pairsOf("x9yz") == Seq("yz"))
    assert(pairsOf("naïve") == Seq("na", "ve"),
      "multi-byte chars are word separators by design (ASCII-only rule)")
  }

  test("single letters, empty and spaces emit nothing") {
    assert(pairsOf("a b c") == Seq.empty)
    assert(pairsOf("") == Seq.empty)
    assert(pairsOf("  ") == Seq.empty)
  }

  test("pair counts over a corpus match a JVM recount") {
    val docs = Seq("the theme theater", "The other brother",
      "123 go-go GO", "ααα abc").toDF("text")
    val got = docs.select(explode(GraftFunctions.char_pairs(col("text")))
        .as("pair"))
      .groupBy("pair").count()
      .as[(String, Long)].collect().toMap
    val want = Seq("the theme theater", "The other brother",
        "123 go-go GO", "ααα abc")
      .flatMap(_.toLowerCase.split("[^a-z]+").filter(_.length >= 2)
        .flatMap(w => w.sliding(2)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == want)
  }
}
