package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

/** The equivalences the exact-decimal-sum discipline rests on
  * ([[DecimalSum]]): `dec6_micros(v)` is the unscaled value of
  * `CAST(v AS DECIMAL(18,6))`, and `dec6Sum` is bit-identical to the
  * decimal-cast sum it replaces. The generator leans on the rounding
  * boundary (values whose micros end in exactly .5, and their
  * neighbours), where the fast path must defer to the exact one. */
class Dec6MicrosSpec extends SparkSpec {
  import spark.implicits._

  private val value: Gen[Double] = Gen.frequency(
    4 -> Gen.choose(-1e6, 1e6),
    2 -> Gen.choose(-1e11, 1e11),
    3 -> Gen.choose(-2000000L, 2000000L).map(k => (k + 0.5) / 1e6),
    2 -> Gen.choose(-100000, 100000).map(k => k / 128.0),
    1 -> Gen.choose(-50, 50).map(k => Math.nextUp((k + 0.5) / 1e6)),
    1 -> Gen.oneOf(0.0, 1.0, -1.0, 0.0000005, -0.0000005, 1.0000005, 99999999999.999999))
  private val values: Gen[List[Option[Double]]] =
    Gen.listOfN(40, Gen.frequency(9 -> value.map(Option(_)), 1 -> Gen.const(None)))

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(25), p)
    assert(r.passed, r)
  }

  test("dec6_micros(v) ≡ the unscaled CAST(v AS DECIMAL(18,6)), nulls " +
       "included") {
    check(Prop.forAll(values) { vs =>
      vs.toDF("v").select(GraftFunctions.dec6_micros(col("v")),
          col("v").cast("decimal(18,6)")).collect().forall { r =>
        if (r.isNullAt(1)) r.isNullAt(0)
        else r.getLong(0) == r.getDecimal(1).unscaledValue().longValueExact()
      }
    })
  }

  test("dec6Sum ≡ sum(CAST(v AS DECIMAL(28,6))) cast to double, bit for " +
       "bit, per group") {
    check(Prop.forAll(values, Gen.choose(1, 4)) { (vs, groups) =>
      vs.zipWithIndex.map { case (v, i) => (i % groups, v) }.toDF("g", "v")
        .groupBy("g").agg(Dec6Micros.dec6Sum(col("v")).as("fast"),
          sum(col("v").cast("decimal(28,6)")).cast("double").as("cast"))
        .collect().forall(r => r.get(1) == r.get(2))
    })
  }
}
