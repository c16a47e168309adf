package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

/** [[ExactPercentile]] is the builtin `percentile`, bit for bit: the
  * swap into oracle-checked queries relies on it. Groups are drawn with
  * ties, nulls, NaN and single values; an all-null group is empty. */
class ExactPercentileSpec extends SparkSpec {
  import spark.implicits._

  private val value: Gen[Option[Double]] = Gen.frequency(
    5 -> Gen.choose(-1e3, 1e3).map(Option(_)),
    4 -> Gen.oneOf(-2.5, 0.0, 1.0, 1.0, 7.25).map(Option(_)),
    1 -> Gen.const(Some(Double.NaN)),
    1 -> Gen.const(None))
  private val group: Gen[List[Option[Double]]] =
    Gen.frequency(1 -> value.map(List(_)), 4 -> Gen.choose(2, 30).flatMap(Gen.listOfN(_, value)))
  private val probe: Gen[Double] =
    Gen.frequency(3 -> Gen.choose(0.0, 1.0), 2 -> Gen.oneOf(0.0, 0.25, 0.5, 0.75, 1.0))

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (u, v) => same(u, v) }
    case _ => a == b
  }

  test("exact_percentile ≡ builtin percentile over ties, nulls, NaN and " +
       "n = 1, scalar and array forms") {
    val prop = Prop.forAll(Gen.listOfN(4, group), probe, Gen.listOfN(3, probe)) {
      (groups, p, ps) =>
        val rows = for ((g, i) <- groups.zipWithIndex; v <- g) yield (i, v)
        rows.toDF("g", "v").groupBy("g").agg(
            GraftFunctions.exact_percentile(col("v"), p).as("e"),
            percentile(col("v"), lit(p)).as("b"),
            GraftFunctions.exact_percentile(col("v"), ps).as("ea"),
            percentile(col("v"), array(ps.map(lit): _*)).as("ba"))
          .collect().forall(r => same(r.get(1), r.get(2)) && same(r.get(3), r.get(4)))
    }
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(r.passed, r)
  }
}
