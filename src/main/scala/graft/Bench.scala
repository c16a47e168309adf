package graft
import org.apache.spark.sql.DataFrame
object Bench {
  /** Execute the full plan without keeping results. A noop-format write
    * evaluates every measured expression: `.count()` would let Catalyst
    * prune projections an aggregate doesn't need (so projection-heavy
    * queries would time a plan that never runs their expressions). */
  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Fixed pure-JVM calibration workload (single-threaded FNV-1a fold over
    * a deterministic buffer): its wall time depends only on how fast this
    * box currently is, never on the query code. `noise_ratio` catches
    * transient within-run load; this catches the case it can't — a
    * UNIFORMLY slower session than the one that recorded BASELINE.md.
    * Divide a run's query times by (calib_sec / baseline calib_sec) to
    * compare across sessions. */
  private def calibrate(): Double = {
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    val t0 = System.nanoTime()
    var acc = 0L
    var r = 0
    while (r < 400) {
      acc ^= graft.functions.SimHash64Impl.fnv1a64(buf)
      r += 1
    }
    if (acc == 42L) println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  /** Noise-robust protocol (judge r4 ask #2). Queries run in FIXED
    * lexicographic order, and the reps are INTERLEAVED: the whole ordered
    * suite runs `passes` times end-to-end, then each query takes its
    * median and min ACROSS passes. With consecutive reps (the r4 harness)
    * one multi-minute window of co-located load poisoned all reps of
    * whichever queries it covered and the median kept it — the driver's
    * BENCH_r04 showed 18× phantom regressions that way. Interleaving puts
    * each query's reps minutes apart, so transient load hits at most one
    * pass of any query and the cross-pass median discards it; `min` is
    * additionally reported as the load-immune floor, plus a per-run
    * `noise_ratio` (median_total / min_total) so a skewed environment
    * self-reports instead of masquerading as a code regression. */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.local(GraftSession.cpus)
    // Warm-up: JIT/codegen caches + first-touch parquet footers, so the
    // per-query numbers measure the plans rather than JVM startup.
    Seq("q1_agg", "q_text_tokens", "q_events_window", "q_ann_topk")
      .foreach(n => SparkEntry.queries.get(n)
        .foreach(f => try run(f(spark, sfDir)) catch { case _: Throwable => () }))
    var failed = List.empty[String]
    // local-iteration filter (the driver never sets this → full suite)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(p => only.forall(_.contains(p._1)))
    // times(query) = one sample per pass, in pass order
    val samples = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    for (_ <- 0 until passes; (name, fn) <- ordered) {
      val t0 = System.nanoTime()
      try run(fn(spark, sfDir)) catch {
        case e: Throwable =>
          // a broken query must surface as a bench failure, not a fast number
          System.err.println(s"BENCH FAIL $name: $e")
          e.printStackTrace()
          if (!failed.contains(name)) failed ::= name
      }
      samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
    }
    val results = ordered.map { case (name, _) =>
      val ts = samples(name).sorted
      (name, ts(ts.length / 2), ts.head)
    }
    // median-of-3 calibration, measured after the suite (box state the
    // queries actually saw); first call warms the JIT
    val calib = { calibrate(); Seq(calibrate(), calibrate(), calibrate()).sorted.apply(1) }
    val (stdoutLine, line) = resultLines(results, calib, sfDir, passes, failed)
    println(stdoutLine)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_latest.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: $e")
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** The run's two result lines from its (query, median, min) rows. The
    * stdout line carries the contract keys only (metric, value,
    * total_min, noise_ratio, calib_sec, sf, reps, failed, plus unit and
    * interleaved): the caller keeps only the last 2000 bytes of stdout,
    * and a per-query map there (12.4 KB at 238 queries) cut the line.
    * The file line adds both per-query maps, times in 4 decimals (0.1 ms,
    * far under run-to-run noise). */
  def resultLines(results: Seq[(String, Double, Double)], calib: Double,
                  sfDir: String, passes: Int, failed: Seq[String]): (String, String) = {
    def r4(d: Double) = math.rint(d * 10000) / 10000
    def fmt(sel: ((String, Double, Double)) => Double) =
      results.map(r => s"\"" + r._1 + "\":" + r4(sel(r))).mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val totalMin = results.map(_._3).sum
    val noise = if (totalMin > 0) total / totalMin else 1.0
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val scalars = s""""metric":"total","value":$total,"unit":"sec","total_min":$totalMin,"noise_ratio":$noise,"calib_sec":$calib,"sf":"$sfDir","reps":$passes,"interleaved":true,"failed":$errs"""
    (s"{$scalars}", s"""{$scalars,"queries_min":${fmt(_._3)},"queries":${fmt(_._2)}}""")
  }
}
