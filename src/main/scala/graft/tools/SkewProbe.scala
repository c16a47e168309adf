package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Skew
import graft.tables.Tables

/** Decade-scale skew-join probe (judge r10 ask #8): plant a 40%-hot join
  * key on the events fact table at a scaled SF dir, force a sort-merge
  * join (broadcast off — the 100 TB case where the dim does not fit),
  * and measure three executions of the IDENTICAL join:
  *
  *   1. unsalted, AQE skew-join DISABLED — the straggler baseline (one
  *      reducer owns 40% of the table);
  *   2. unsalted, AQE skew-join ENABLED (skew thresholds sized so the
  *      hot partition is over-threshold, as it would be at 100 TB where
  *      a 40% partition dwarfs any advisory size) — asserts the runtime
  *      split is visible as `skew=true` on the executed join;
  *   3. [[Skew.saltedJoin]] — the source-side mitigation.
  *
  * Emits ONE JSON line (the bench-artifact row): row counts, whether
  * AQE split, and the three wall times, so the artifact records either
  * "AQE splits" or "salting wins by ratio r" at the probed decade.
  * Deterministic by construction: the key is a pure function of
  * event_id, and all three paths must return the same join cardinality
  * (checked) — the probe measures the same relational result. */
object SkewProbe {

  final case class Result(nBig: Long, nJoin: Long, hotShare: Double,
                          aqeSplit: Boolean, tNoSkewSec: Double,
                          tAqeSec: Double, tSaltedSec: Double)

  /** 40%-hot keyed fact side + a 5-fan keyset right side (the SkewSpec
    * fact-fact shape, scaled): key = 'hot' for event_id ≡ 0..3 (mod 10),
    * else one of 1000 uniform tail keys. */
  def buildSides(events: DataFrame): (DataFrame, DataFrame) = {
    // carry the wide per-row payload (value, props): shuffle blocks are
    // lz4-compressed, and a key-only projection compresses the
    // constant-key hot partition so much better than the mixed-key tail
    // that its measured BYTES can fall under factor×median even at 40%
    // of the rows — the payload keeps compressed size ∝ row count, which
    // is also the realistic fact-table shape
    val keyed = events.withColumn("k",
        when(pmod(col("event_id"), lit(10)) < 4, lit("hot"))
          .otherwise(concat(lit("k"), pmod(col("event_id"), lit(1000)))))
      .select(col("k"), col("event_id").as("lv"), col("value"), col("props"))
    // the rv-repartition is a semantic no-op that breaks the k-hash
    // partitioning the distinct leaves behind: without it the join's
    // right child is Sort(Generate(HashAgg(shuffle))) — partitioning
    // reused, no fresh exchange — and AQE's OptimizeSkewedJoin pattern
    // (sort-merge join whose BOTH children sit directly on shuffle
    // stages) never matches, silently disabling the split this probe
    // exists to measure
    val right = keyed.select("k").distinct()
      .withColumn("rv", explode(array((1 to 5).map(lit): _*)))
      .repartition(col("rv"))
    (keyed, right)
  }

  private def timed(df: DataFrame): (Double, String, Long) = {
    val t0 = System.nanoTime()
    // run THIS QueryExecution (a write would plan a fresh one and leave
    // the adaptive plan unfinalized); toRdd streams, nothing collects
    val n = df.queryExecution.toRdd.count()
    ((System.nanoTime() - t0) / 1e9, df.queryExecution.executedPlan.toString, n)
  }

  /** Run the three-way probe. `skewThreshold` sizes AQE's
    * skewedPartitionThresholdInBytes/advisoryPartitionSizeInBytes for
    * the probed decade (the 100 TB situation is "hot partition ≫ any
    * advisory size"; at local decades the absolute bytes must scale
    * down with the data for the same over-threshold relation to hold). */
  def run(spark: SparkSession, sfDir: String, salts: Int = 8,
          skewThreshold: String = "8MB",
          mapTasks: Option[Int] = None): Result = {
    val keep = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // AQE splits a skewed REDUCE partition along MAP-output block
      // boundaries, so the probe needs several map tasks feeding the
      // join shuffle — a one-row-group sf dir (one parquet split = one
      // mapper) has nothing to subdivide and skew-join silently no-ops
      // however skewed the key is. The scaled decades have many files;
      // small fixtures pass mapTasks to restore mappers via an upstream
      // round-robin repartition.
      val ev0 = Tables.events(spark, sfDir)
      val (big, small) = buildSides(
        mapTasks.fold(ev0)(n => ev0.repartition(n)))
      val nBig = big.count()
      val hotShare = big.filter(col("k") === "hot").count().toDouble / nBig

      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val (tNoSkew, planNoSkew, nNoSkew) = timed(big.join(small, Seq("k")))
      require(planNoSkew.contains("SortMergeJoin"),
        s"probe requires a sort-merge join, got:\n$planNoSkew")

      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        sys.env.getOrElse("SPARK_GRAFT_SKEW_FACTOR", "2"))
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", skewThreshold)
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", skewThreshold)
      val (tAqe, planAqe, nAqe) = timed(big.join(small, Seq("k")))
      val aqeSplit = planAqe.contains("skew=true")
      if (sys.env.contains("SPARK_GRAFT_SKEW_DEBUG"))
        println(s"[skewprobe] AQE plan:\n$planAqe")

      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val (tSalted, _, nSalted) =
        timed(Skew.saltedJoin(big, small, Seq("k"), "lv", salts))

      require(nNoSkew == nAqe && nAqe == nSalted,
        s"all paths must agree: $nNoSkew / $nAqe / $nSalted")
      Result(nBig, nNoSkew, hotShare, aqeSplit, tNoSkew, tAqe, tSalted)
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val threshold = sys.env.getOrElse("SPARK_GRAFT_SKEW_THRESHOLD", "8MB")
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    val r = run(spark, sfDir, skewThreshold = threshold)
    val line =
      f"""{"metric":"skew_probe","sf":"$sfDir","n_big":${r.nBig},""" +
      f""""n_join":${r.nJoin},"hot_share":${r.hotShare}%.4f,""" +
      f""""aqe_split":${r.aqeSplit},"threshold":"$threshold",""" +
      f""""t_unsalted_noskew_sec":${r.tNoSkewSec}%.3f,""" +
      f""""t_unsalted_aqe_sec":${r.tAqeSec}%.3f,""" +
      f""""t_salted_sec":${r.tSaltedSec}%.3f,""" +
      f""""salted_vs_straggler":${r.tNoSkewSec / r.tSaltedSec}%.3f}"""
    println(line)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line + "\n")
    }
    spark.stop()
  }
}
