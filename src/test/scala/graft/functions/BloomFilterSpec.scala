package graft.functions

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.functions._

class BloomFilterSpec extends SparkSpec {
  import spark.implicits._

  private val K = 5
  private val M = 1 << 12

  test("no false negatives: every inserted key probes true") {
    val keys = (1 to 500).map(i => s"key_$i")
    val bf = keys.toDF("k").repartition(7)
      .agg(BloomSketch.bloom(K, M)(col("k")).as("bf"))
    val hits = keys.toDF("k").crossJoin(bf)
      .filter(GraftFunctions.bloom_contains(col("bf"), col("k"), K))
      .count()
    assert(hits == 500L, "a Bloom filter can never drop a member")
  }

  test("sketch words are bit-identical under any partitioning") {
    val keys = (1 to 1000).map(i => s"k$i").toDF("k")
    def words(parts: Int): Seq[Long] =
      keys.repartition(parts)
        .agg(BloomSketch.bloom(K, M)(col("k")).as("bf"))
        .as[Seq[Long]].head()
    assert(words(1) == words(13),
      "bitwise-OR merge must make the sketch partitioning-invariant")
  }

  test("false-positive rate on non-members stays near theory") {
    val bf = (1 to 1000).map(i => s"member_$i").toDF("k")
      .agg(BloomSketch.bloom(K, M)(col("k")).as("bf"))
    val probes = (1 to 2000).map(i => s"absent_$i").toDF("k")
    val fp = probes.crossJoin(bf)
      .filter(GraftFunctions.bloom_contains(col("bf"), col("k"), K))
      .count()
    // n=1000, m=4096, k=5 → p ≈ (1-e^{-kn/m})^k ≈ 0.217; allow 2x slack
    assert(fp < 2000 * 0.45, s"fp rate ${fp / 2000.0} is out of family")
    assert(fp > 0, "with n/m this high, zero FPs would mean a broken probe")
  }

  test("bloomSemiJoin equals the plain semi-join, broadcast disabled") {
    val d = sf()
    val orders = Tables.orders(spark, d)
    val dim = Tables.customer(spark, d).filter(col("c_acctbal") > 9000)
    val got = spark.sessionState.conf
    val prev = got.getConfString("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      // force the shuffle-join regime the operator exists for
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val viaBloom = graft.operators.Joins
        .bloomSemiJoin(orders, dim, "o_custkey", "c_custkey")
        .select("o_orderkey").as[Long].collect().sorted.toSeq
      val plain = orders.join(dim,
          orders("o_custkey") === dim("c_custkey"), "left_semi")
        .select("o_orderkey").as[Long].collect().sorted.toSeq
      assert(viaBloom == plain)
      assert(plain.nonEmpty, "fixture must actually select something")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
