package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Runs one workload closed-loop with one client thread and writes the
  * run's records (ops, set-up times, box, trace) for the Python side.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <inputDir> <workDir> <cpus>
  */
object Main {
  final case class Done(id: Int, op: Op, ms: Double, error: String, rows: Int,
                        traced: Boolean, repeat: Boolean, result: Result,
                        unrefreshed: Option[Result], round: Int, clockMs: Double)

  /** The FNV-1a fold graft.Bench calibrates with: box speed, not code. */
  private def calibrate(): Double = {
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    val t0 = System.nanoTime()
    var acc = 0L
    var r = 0
    while (r < 400) { acc ^= graft.functions.SimHash64Impl.fnv1a64(buf); r += 1 }
    if (acc == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** A fixed Spark job that runs no graft code: planning, scheduling and
    * `partitions` small tasks, with the same literals each time so its
    * generated code is cached. Its latency follows the host's speed for
    * the work the ops do; the gated times are divided by its median. */
  private def reference(spark: SparkSession, partitions: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000L * partitions, 1L, partitions).selectExpr("id % 97 AS k")
      .filter("k = 3").collect()
    (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, dir, work, cpus) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val phases = ArrayBuffer[(String, Double)]()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit = phases += ((name, (System.currentTimeMillis() - jvmStart) / 1000.0))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      // the status store keeps 1000 jobs and executions by default: bounded
      // here, so the heap at run end reflects graft's state, not the run length
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // box speed for the box record
    val calib = calibrate()
    phase("session")
    val tracer = new Tracer(spark, trace)
    val c = new Ctx(spark, dir, work, seed)
    val wl: Workload = name match {
      case "interactive" => new Interactive(c)
      case "maintained" => new Maintained(c)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    // reference latencies with the round they were taken in (-1: set-up)
    val refMs = ArrayBuffer[(Int, Double)]()
    val refParts = if (wl.referenceOnAllCores) cpus.toInt else 1
    def sampleReference(round: Int, n: Int): Unit =
      (0 until n).foreach(_ => refMs += ((round, reference(spark, refParts))))
    (0 until 3).foreach(_ => reference(spark, refParts))

    val setups = (0 until 3).map { rep =>
      sampleReference(-1, 5)
      val t0 = System.nanoTime()
      wl.setup(tracer, rep)
      (System.nanoTime() - t0) / 1e9
    }
    phase("setup")

    val done = ArrayBuffer[Done]()
    val seen = scala.collection.mutable.Set[String]()
    val coin = new scala.util.Random(seed ^ 0x5eed)
    // the reference job and each op's untimed preparation run between
    // ops; their time is left out of the loop's clock. The loop runs whole
    // rounds: the first warms the JVM up on the measured inputs, then at
    // least two more are measured, for at least `seconds`
    var asideNs = 0L
    var rounds = 0
    val t0 = System.nanoTime()
    var measuredFrom = Long.MaxValue
    val hardStop = t0 + (seconds * 6e9).toLong
    def more = rounds < 3 || !wl.atBoundary || System.nanoTime() - measuredFrom < seconds * 1e9
    while (more && System.nanoTime() < hardStop) {
      val op = wl.next()
      val id = done.size
      val traced = trace && coin.nextBoolean()
      val repeat = !seen.add(op.key)
      val a0 = System.nanoTime()
      sampleReference(rounds, wl.referencesPerOp)
      var side: Option[Result] = None
      var t1 = 0L
      val (result, err, ns) =
        try {
          side = op.prepare()
          t1 = System.nanoTime()
          val (r, ns) = tracer.op(id, traced)(op.run(tracer))
          (r, "", ns)
        } catch { case e: Throwable =>
          if (t1 == 0L) t1 = System.nanoTime()
          (null, s"${e.getClass.getSimpleName}: ${e.getMessage}", System.nanoTime() - t1)
        }
      asideNs += t1 - a0
      done += Done(id, op, ns / 1e6, err, Option(result).map(_.rows.length).getOrElse(0),
        traced, repeat, result, side, rounds, (System.nanoTime() - t0 - asideNs) / 1e6)
      if (wl.atBoundary) {
        rounds += 1
        if (rounds == 1) measuredFrom = System.nanoTime()
      }
    }
    wl.close()
    phase("loop")
    val ok = done.filter(_.error.isEmpty)
    val extra = wl.extra(ok.filter(_.round >= 1).map(d => (d.op, d.ms)).toSeq)

    val kernels = if (!trace) Nil else {
      val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
        .limit(2000).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      Kernels.probe(spark, docs, 0.2)
    }
    phase("post")
    writeChecks(s"$work/checks.jsonl", done.toSeq)
    val records = done.map(_.copy(result = null, unrefreshed = None))
    done.clear()
    // heap retained by graft and Spark, without the results kept for checking
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    phase("written")
    val out = new PrintWriter(new File(s"$work/run.json"), "UTF-8")
    try out.print(Json.obj(
      "box" -> Json.obj(
        "nproc" -> Runtime.getRuntime.availableProcessors().toString,
        "cpus" -> cpus,
        "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
        "spark" -> Json.str(spark.version),
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
        "calib_s" -> Json.num(calib)),
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "reference_ms" -> Json.arr(refMs.map { case (r, ms) => Json.arr(Seq(r.toString, Json.num(ms))) }),
      "phases" -> Json.obj(phases.map { case (n, v) => n -> Json.num(v) }.toSeq: _*),
      "heap_mb" -> Json.num(heapMb),
      "extra" -> Json.arr(extra.map { case (n, v, u) =>
        Json.obj("name" -> Json.str(n), "value" -> Json.num(v), "unit" -> Json.str(u)) }),
      "kernels" -> Json.obj(kernels.map { case (n, v) => n -> Json.num(v) }: _*),
      "ops" -> Json.arr(records.map(d => Json.obj(
        "id" -> d.id.toString, "kind" -> Json.str(d.op.kind), "key" -> Json.str(d.op.key),
        "layer" -> Json.str(d.op.layer), "ms" -> Json.num(d.ms), "error" -> Json.str(d.error),
        "rows" -> d.rows.toString, "in_rows" -> d.op.inputRows.toString,
        "traced" -> d.traced.toString, "repeat" -> d.repeat.toString,
        "round" -> d.round.toString, "clock_ms" -> Json.num(d.clockMs)))),
      "spans" -> Json.arr(tracer.spans.map(s => Json.arr(Seq(s.id, s.parent, s.op).map(_.toString) ++
        Seq(Json.str(s.name), s.start.toString, s.end.toString)))),
      "jobs" -> Json.arr(tracer.jobs.values.map(j => Json.obj(
        "id" -> j.id.toString, "span" -> j.span.toString, "op" -> j.op.toString,
        "start" -> j.start.toString, "end" -> j.end.toString, "stages" -> j.stages.toString,
        "tasks" -> j.tasks.toString, "failed_tasks" -> j.failedTasks.toString,
        "run_ms" -> j.runMs.toString, "cpu_ns" -> j.cpuNs.toString, "gc_ms" -> j.gcMs.toString,
        "in_bytes" -> j.inBytes.toString, "in_rows" -> j.inRows.toString,
        "out_bytes" -> j.outBytes.toString, "out_rows" -> j.outRows.toString,
        "shuffle_read" -> j.shuffleRead.toString, "shuffle_write" -> j.shuffleWrite.toString,
        "spill" -> j.spill.toString))),
      "op_counters" -> Json.obj(tracer.ops.toSeq.sortBy(_._1).map { case (id, c) =>
        id.toString -> Json.obj("analysis_ms" -> Json.num(c.analysisMs),
          "optimization_ms" -> Json.num(c.optimizationMs), "planning_ms" -> Json.num(c.planningMs),
          "compile_ns" -> c.compileNs.toString, "compiles" -> c.compiles.toString,
          "batches" -> c.batches.toString, "batch_ms" -> c.batchMs.toString,
          "stream_queries" -> c.queries.toString)
      }: _*),
      "index_bytes" -> (wl match { case m: Maintained => m.indexBytes; case _ => 0L }).toString
    )) finally out.close()
    spark.stop()
  }

  /** One line per op: the key, its oracle SQL and the rows it returned;
    * an untimed unrefreshed twin of the op comes first, as its own kind. */
  private def writeChecks(path: String, done: Seq[Done]): Unit = {
    val out = new PrintWriter(new File(path), "UTF-8")
    def line(d: Done, kind: String, r: Result) = Json.obj(
      "id" -> d.id.toString, "kind" -> Json.str(kind), "key" -> Json.str(d.op.key),
      "sql" -> Json.str(d.op.sql),
      "cols" -> Json.arr(r.cols.map { case (n, t) => Json.arr(Seq(Json.str(n), Json.str(t.simpleString))) }),
      "rows" -> Json.arr(r.rows.map(Json.value)))
    try done.foreach { d =>
      d.unrefreshed.foreach(r => out.println(line(d, "unrefreshed_" + d.op.kind, r)))
      if (d.result != null) out.println(line(d, d.op.kind, d.result))
    } finally out.close()
  }
}
