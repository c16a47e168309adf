package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.operators.Dedup

/** `maintained`: a persisted MinHash index kept up to date over seeded
  * "days". Each day probes a batch against the index (graft.operators),
  * then feeds the batch to the maintained streaming dedup loop
  * (graft.streaming), which appends the admitted rows as one micro-batch
  * and is the index's only appender, as its contract asks; day 0 and
  * every `K`-th day after it also remove rows and compact the index, out
  * of band under the maintenance lease. The stream writes from its own
  * session; each op refreshes the index tables in the session it reads
  * them from before its timing starts, and day 2's probe, the first after
  * a streamed append with no compaction between, is also run once untimed
  * without that refresh, so a stale read of the streamed rows is reported
  * by name. The check replays the same days against exact Jaccard in
  * DuckDB. */
final class Maintained(c: Ctx) extends Workload {
  import c._
  private val K = 2
  private val tau = 0.5
  private var tag = ""
  private var day = 0
  private var queue: List[Op] = Nil
  private val nDays = rows("days")

  private lazy val days = spark.read.parquet(s"$dir/days.parquet").cache()
  private lazy val removals = spark.read.parquet(s"$dir/removals.parquet").cache()
  /** The index's table-name prefix, as graft.operators.Dedup derives it. */
  private def stem = "mh_idx_" + java.security.MessageDigest.getInstance("MD5")
    .digest(tag.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
  private def shingleTable = stem + "_shingles"
  private def refresh(session: org.apache.spark.sql.SparkSession): Unit =
    Seq(stem + "_bands", shingleTable).foreach(session.catalog.refreshTable)
  private def streamSession = org.apache.spark.sql.PerfbenchShim.streamSession(query)
  private def batch(d: Int): DataFrame = days.filter(col("day") === d).select("doc_id", "text")

  // the streaming loop: started before the first day, stopped in `close`
  private lazy val mem = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    MemoryStream[(Long, String)]
  }
  private val matches = new java.util.concurrent.ConcurrentHashMap[Long, Array[Row]]()
  private var query: StreamingQuery = _
  private val matchSchema = Seq(("batch_id", LongType), ("corpus_id", LongType), ("jaccard", DoubleType))

  private def result(df: DataFrame) =
    Result(df.schema.fields.map(f => (f.name, f.dataType)).toSeq, df.collect())
  private def op(kind: String, d: Int, layer: String, in: Long,
                 prepare: () => Option[Result])(body: Tracer => Result) =
    Op(kind, s"$kind($d)", layer, "", in, body, prepare)
  private def refreshed(session: => org.apache.spark.sql.SparkSession) =
    () => { refresh(session); None }

  def setup(t: Tracer, rep: Int): Unit = {
    tag = s"$work/index-$rep"
    t.span("operators.build") {
      Dedup.writeMinhashIndex(load(t, "documents"), "doc_id", "text", tag)
    }
  }

  private def dayOps(d: Int): List[Op] = {
    val n = rows(s"day$d")
    def probeDf = Dedup.minhashIncrementalPersisted(batch(d), "doc_id", "text", tag, tau)
    // day 2 follows a streamed append that no compaction rewrote: probe
    // once as a caller would, without refreshing, then refresh for the
    // timed probe
    val probe = op("probe", d, "operators", n, () => {
      val unrefreshed = if (d == 2) Some(result(probeDf)) else None
      refresh(spark)
      unrefreshed
    }) { t => exec(t, "operators", probeDf) }
    val batchRows = batch(d).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val append = op("append", d, "streaming", n, refreshed(streamSession)) { t =>
      val before = matches.size
      t.span("streaming.build") {
        mem.addData(batchRows: _*)
        query.processAllAvailable()
      }
      require(matches.size == before + 1, "one micro-batch per day")
      Result(matchSchema, matches.get(before.toLong))
    }
    val maintenance = if (d % K != 0) Nil else List(
      op("remove", d, "operators", n, refreshed(spark)) { t =>
        val gone = t.span("operators.build") {
          Dedup.removeFromMinhashIndex(load(t, "documents").join(
            removals.filter(col("day") === d).select("doc_id"), "doc_id"), "doc_id", "text", tag)
        }
        Result(Seq(("removed", LongType)), Array(Row(gone)))
      },
      op("compact", d, "operators", n, refreshed(spark)) { t =>
        t.span("operators.build")(Dedup.compactMinhashIndex(spark, tag))
        t.span("spark.execute")(result(spark.table(shingleTable).select(count(lit(1)).as("n"))))
      })
    probe :: append :: maintenance
  }

  def next(): Op = {
    if (query == null) {
      import spark.implicits._
      query = graft.streaming.EventStreams.minhashDedupStreamMaintained(
        mem.toDS().toDF("doc_id", "text"), "doc_id", "text", tag, tau, s"$work/checkpoint",
        (id, out) => matches.put(id, out.collect()): Unit)
    }
    if (queue.isEmpty) {
      require(day < nDays, s"the generator wrote only $nDays days")
      queue = dayOps(day)
      day += 1
    }
    val op = queue.head
    queue = queue.tail
    op
  }

  override def referencesPerOp: Int = 5
  override def referenceOnAllCores: Boolean = true
  override def close(): Unit = if (query != null) query.stop()

  /** Rounds end with a removal and compaction: the first is day 0, each
    * later one `K` days. */
  def atBoundary: Boolean = queue.isEmpty && day > 0 && (day - 1) % K == 0

  /** Bytes on disk of the index tables. */
  def indexBytes: Long = {
    val root = new java.io.File(s"$work/warehouse")
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L) else f.length
    Option(root.listFiles).toSeq.flatten.filter(_.getName.startsWith(stem)).map(size).sum
  }

  override def extra(done: Seq[(Op, Double)]): Seq[(String, Double, String)] = {
    def p50(kind: String) = {
      val xs = done.filter(_._1.kind == kind).map(_._2).sorted
      if (xs.isEmpty) Double.NaN else xs(xs.size / 2)
    }
    refresh(spark)
    val indexed = spark.table(shingleTable).count()
    Seq(("probe_p50_ms", p50("probe"), "ms"), ("append_p50_ms", p50("append"), "ms"),
      ("index_bytes_per_row", indexBytes.toDouble / indexed, "bytes/row"))
  }
}
