package graft.operators

import graft.SparkSpec
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The [[PersistedIndex]] lifecycle contract, run unchanged over all
  * three index families (MinHash, SRP, IVF-PQ). */
class PersistedIndexSpec extends SparkSpec {
  import spark.implicits._

  /** One family: its fixture, its public lifecycle entry points, a probe
    * whose result compaction must not change, and its maintained-batch
    * step (as its public stream starter wires it). `extra` rows carry
    * ids the corpus does not. */
  private case class Family(name: String, idCol: String, valueCol: String,
      corpus: DataFrame, extra: DataFrame, index: String => PersistedIndex,
      write: (DataFrame, String) => Unit,
      append: (DataFrame, String) => DataFrame,
      remove: (DataFrame, String) => Long,
      compact: String => Unit,
      probe: String => DataFrame,
      step: String => DataFrame => (DataFrame, DataFrame))

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa")
  private def doc(seed: Int): String = {
    val r = new scala.util.Random(seed)
    (1 to 30).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
  }
  private def vec(seed: Int): Seq[Double] = {
    val r = new scala.util.Random(seed)
    Seq.fill(12)(r.nextGaussian())
  }
  private def docs(ids: Range) = ids.map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
  private def vecs(ids: Range) = ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
  // copies of corpus rows under fresh ids: they probe/serve to their originals
  private def docCopies = (1 to 5).map(i => (1000L + i, doc(i))).toDF("doc_id", "text")
  private def vecCopies = (1 to 5).map(i => (1000L + i, vec(i).map(_ * 1.5)))
    .toDF("vec_id", "embedding")

  private lazy val families = Seq(
    Family("minhash", "doc_id", "text", docs(1 to 30), docs(100 to 105),
      PersistedIndex.minhash,
      (c, t) => Dedup.writeMinhashIndex(c, "doc_id", "text", t),
      (a, t) => Dedup.appendMinhashIndex(a, "doc_id", "text", t),
      (r, t) => Dedup.removeFromMinhashIndex(r, "doc_id", "text", t),
      t => Dedup.compactMinhashIndex(spark, t),
      t => Dedup.minhashIncrementalPersisted(docCopies, "doc_id", "text", t, 0.5),
      t => EventStreams.dedupStep(Dedup.minhashPersistedPairs(
        _, "doc_id", "text", t, 0.5), "doc_id")),
    Family("srp", "vec_id", "embedding", vecs(1 to 30), vecs(100 to 105),
      PersistedIndex.embed,
      (c, t) => Dedup.writeEmbedIndex(c, "vec_id", "embedding", t,
        bits = 8, tables = 4),
      (a, t) => Dedup.appendEmbedIndex(a, "vec_id", "embedding", t),
      (r, t) => Dedup.removeFromEmbedIndex(r, "vec_id", "embedding", t),
      t => Dedup.compactEmbedIndex(spark, t),
      t => Dedup.embedIncrementalPersisted(vecCopies, "vec_id", "embedding", t, 0.99),
      t => EventStreams.dedupStep(Dedup.embedPersistedPairs(
        _, "vec_id", "embedding", t, 0.99), "vec_id")),
    Family("ivfpq", "vec_id", "embedding", vecs(1 to 40), vecs(100 to 105),
      t => PersistedIndex.ann(t, Similarity.loadIndexCodebooks(spark, t)),
      (c, t) => Similarity.writeAnnIndex(c, "vec_id", "embedding", t),
      (a, t) => Similarity.appendAnnIndex(a, "vec_id", "embedding", t),
      (r, t) => Similarity.removeFromAnnIndex(r, "vec_id", "embedding", t),
      t => Similarity.compactAnnIndex(spark, t),
      t => Similarity.annIvfPqServe(vecCopies, "vec_id", "embedding", t, k = 3),
      t => snap => (Similarity.annIvfPqServe(snap, "vec_id", "embedding", t,
        k = 3).localCheckpoint(), snap)))

  /** Write a fresh index for `f`, run `body` with its tag and
    * description, then drop every table it may have left. */
  private def withIndex(f: Family)(body: (String, PersistedIndex) => Unit): Unit = {
    val tag = s"pi_${f.name}_${System.nanoTime()}"
    f.write(f.corpus, tag)
    val index = f.index(tag)
    try body(tag, index)
    finally (index.tables.map(_.name) ++ index.frozen :+ Similarity.annStatsTable(tag))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  private def fingerprints(index: PersistedIndex): Seq[Option[String]] =
    (index.tables.map(_.name) ++ index.frozen).map(Dedup.tableFingerprint(spark, _))

  private def counts(index: PersistedIndex): Seq[Long] =
    index.tables.map(t => spark.table(t.name).count())

  /** Every table's properties and the (path, length) of each file
    * under its location, by a fresh listing. */
  private def state(index: PersistedIndex): Seq[(Map[String, String], Set[(String, Long)])] =
    index.tables.map { t =>
      val loc = spark.sql(s"DESCRIBE EXTENDED ${t.name}")
        .filter(col("col_name") === "Location").head().getString(1)
      val p = new org.apache.hadoop.fs.Path(loc)
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(s => (s.getPath.toString, s.getLen)).toSet
      (Dedup.tableProps(spark, t.name), files)
    }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** A live lease on `key` held by another writer, for the body. */
  private def leaseHeldElsewhere[T](key: String)(body: => T): T = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(wh, key + "_lease")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, false)
    out.writeLong(System.currentTimeMillis()); out.close()
    try body finally { fs.delete(path, false); () }
  }

  /** The `spark.job.description` of every job `body` runs, in order. */
  private def jobLabels(body: => Unit): Seq[String] = {
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        labels.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
        ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      // the listener bus delivers in order: once a sentinel job's start
      // arrives, every job of `body` has been seen
      sc.setJobDescription("sentinel")
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!labels.contains("sentinel") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    labels.asScala.toSeq.takeWhile(_ != "sentinel")
  }

  /** The number of `MinHashBands` expressions in the executed plan of
    * every action `body` runs that has one, in order. */
  private def minhashBandsPerPlan(body: => Unit): Seq[Int] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val helper = new AdaptiveSparkPlanHelper {}
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    @volatile var sentinel = false
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val n = helper.collect(qe.executedPlan)(p => p).map(_.expressions
          .map(_.collect { case m: graft.functions.MinHashBands => m }.size).sum).sum
        if (n > 0) counts.add(n)
        if (qe.executedPlan.toString.contains("minhash_sentinel")) sentinel = true
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit("minhash_sentinel").as("s")).collect()
      val deadline = System.currentTimeMillis() + 30000
      while (!sentinel && System.currentTimeMillis() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    counts.asScala.toSeq
  }

  test("minhash: an append evaluates each doc's band signature once in " +
       "every table's write plan") {
    val f = families.head
    withIndex(f) { (tag, _) =>
      val perPlan = minhashBandsPerPlan(f.append(f.extra, tag): Unit)
      info(s"MinHashBands per write plan: $perPlan")
      assert(perPlan.size == 2 && perPlan.forall(_ == 1), perPlan)
    }
  }

  for (f <- families) {
    test(s"${f.name}: while the lease is held, append, remove and compact " +
         "fail fast and leave the index unchanged") {
      withIndex(f) { (tag, index) =>
        val before = counts(index)
        leaseHeldElsewhere(index.primary) {
          Seq[() => Any](() => f.append(f.extra, tag),
              () => f.remove(f.corpus.limit(1), tag), () => f.compact(tag))
            .foreach { op =>
              val e = intercept[IllegalStateException](op())
              assert(e.getMessage.contains("maintenance lease"), e.getMessage)
            }
        }
        assert(counts(index) == before)
      }
    }

    test(s"${f.name}: removing a row that was never indexed fails the " +
         "as-indexed require; tables and fingerprint stay unchanged") {
      withIndex(f) { (tag, index) =>
        val (n, fp) = (counts(index), fingerprints(index))
        val e = intercept[IllegalArgumentException](f.remove(f.extra.limit(1), tag))
        assert(e.getMessage.contains("must carry exactly the indexed"), e.getMessage)
        assert(counts(index) == n && fingerprints(index) == fp)
      }
    }

    test(s"${f.name}: compaction after an append leaves probe results " +
         "bit-equal") {
      withIndex(f) { (tag, _) =>
        f.append(f.extra, tag)
        val before = sorted(f.probe(tag))
        assert(before.nonEmpty, "the probe must hit the planted copies")
        f.compact(tag)
        assert(sorted(f.probe(tag)) == before)
      }
    }

    test(s"${f.name}: after append then remove, every table's fingerprint " +
         "is the resulting corpus's") {
      withIndex(f) { (tag, index) =>
        f.append(f.extra, tag)
        val gone = f.corpus.filter(col(f.idCol) <= 3)
        assert(f.remove(gone, tag) == 3L)
        val now = f.corpus.filter(col(f.idCol) > 3).unionByName(f.extra)
        val fp = Dedup.corpusFingerprint(now, f.idCol, f.valueCol)
        assert(fingerprints(index).forall(_.contains(fp)), fingerprints(index))
      }
    }

    test(s"${f.name}: a maintained batch reads its commits guard under the " +
         "lease; a batch id another writer committed first is a no-op") {
      withIndex(f) { (tag, index) =>
        var handedOut = 0
        def batch(df: DataFrame, id: Long): Unit =
          EventStreams.maintainedBatch(index, df, id, f.idCol, f.valueCol,
            (_, _) => handedOut += 1)(f.step(tag))
        // a batch that cannot take the lease reads nothing: not even the
        // intent marker is set before the lease
        leaseHeldElsewhere(index.primary) {
          intercept[IllegalStateException](batch(f.extra, 7L))
        }
        assert(index.streamRecord(spark) == PersistedIndex.StreamRecord(None, None))
        // another writer commits batch 7
        batch(f.extra, 7L)
        assert(handedOut == 1)
        val (n, fp) = (counts(index), fingerprints(index))
        // this writer's batch 7 then takes the lease: a no-op
        batch(f.extra, 7L)
        assert(handedOut == 1, "a committed batch was served again")
        assert(counts(index) == n && fingerprints(index) == fp)
      }
    }

    test(s"${f.name}: a healthy maintained batch labels every job " +
         "maintainedBatch:<phase> and runs no guard, purge or commit job; " +
         "removal and compaction label theirs") {
      withIndex(f) { (tag, index) =>
        val written = state(index)
        val labels = jobLabels(EventStreams.maintainedBatch(index, f.extra, 0L,
          f.idCol, f.valueCol, (_, out) => out.collect(): Unit)(f.step(tag)))
        info(s"${labels.size} jobs: ${labels.groupBy(identity).view.mapValues(_.size).toMap}")
        assert(labels.nonEmpty && labels.forall(_.startsWith("maintainedBatch:")), labels)
        assert(!labels.exists(l => Seq(":guard", ":purge", ":commit").exists(l.endsWith)),
          labels)
        if (f.name == "minhash") assert(labels.size <= 12, labels)
        // each table's append is one clustering shuffle and its write: the
        // index and the batch cannot fill a key, so a capped table reads
        // no occupancy
        assert(labels.count(_.contains(":append:")) <= 4, labels)
        // the append added at most one file per bucket id to each
        // bucketed table
        for (((t, (_, was)), (_, now)) <- index.tables.zip(written).zip(state(index))
             if !t.partitioned) {
          val added = (now -- was).toSeq.map(f => new org.apache.hadoop.fs.Path(f._1).getName)
            .filterNot(n => n.startsWith("_") || n.startsWith("."))
            .map(org.apache.spark.sql.execution.datasources.BucketingUtils.getBucketId)
          assert(added.nonEmpty && added.forall(_.isDefined) &&
            added.distinct.size == added.size, s"${t.name}: $added")
        }
        // the batch's append left tables with several files per bucket
        // or cell: the first compaction rewrites them
        val rewrites = index.tables.map(t => s":rewrite:${t.name}")
        val compaction = jobLabels(f.compact(tag))
        info(s"compaction after the batch: ${compaction.size} jobs")
        assert(compaction.forall(_.startsWith("compact")) &&
          rewrites.forall(r => compaction.exists(_.endsWith(r))), compaction)
        val removal = jobLabels(f.remove(f.corpus.filter(col(f.idCol) === 1), tag))
        info(s"removal: ${removal.size} jobs")
        assert(removal.nonEmpty && removal.forall(l =>
          l.startsWith("removeFrom") && l.contains(":")), removal)
        if (f.name == "minhash") assert(removal.size <= 8, removal)
        // the removal rewrote every table to one file per bucket or cell:
        // compaction then skips them all and leaves them untouched
        val before = state(index)
        assert(jobLabels(f.compact(tag)).isEmpty)
        assert(state(index) == before)
        val empty = jobLabels(assert(f.remove(f.corpus.filter(lit(false)), tag) == 0L))
        assert(empty.isEmpty, empty)
        assert(state(index) == before)
      }
    }

    test(s"${f.name}: a batch that crashed after its first table's write " +
         "is purged on replay after a compaction and a removal: no double " +
         "append, exact fingerprint; a compacted commit stays a no-op") {
      withIndex(f) { (tag, index) =>
        def batch(fault: String => Unit = _ => ()): Unit =
          EventStreams.maintainedBatch(index, f.extra, 0L, f.idCol, f.valueCol,
            (_, _) => (), fault)(f.step(tag))
        val second = s"append:${index.tables(1).name}"
        val boom = intercept[RuntimeException](batch(p =>
          if (p == second) throw new RuntimeException("boom")))
        assert(boom.getMessage == "boom")
        assert(index.streamRecord(spark) == PersistedIndex.StreamRecord(None, Some(0L)))
        val extraIds = f.extra.select(col(f.idCol).cast("long")).as[Long].collect().toSeq
        def batchRows(t: String) = spark.table(t).filter(col(index.idCol).isin(extraIds: _*))
        assert(batchRows(index.primary).count() > 0, "the crash left no first-table rows")
        f.compact(tag)
        val gone = f.corpus.filter(col(f.idCol) <= 2)
        assert(f.remove(gone, tag) == 2L)
        batch()
        assert(index.streamRecord(spark) == PersistedIndex.StreamRecord(Some(0L), Some(0L)))
        for (t <- index.tables.map(_.name))
          assert(batchRows(t).count() == batchRows(t).distinct().count(),
            s"double append in $t")
        val byId = index.tables.find(_.keys == Seq(index.idCol)).get.name
        val admitted = batchRows(byId).select(index.idCol).as[Long].collect().toSeq
        assert(admitted.nonEmpty && admitted.distinct.size == admitted.size)
        val now = f.corpus.filter(col(f.idCol) > 2)
          .unionByName(f.extra.filter(col(f.idCol).isin(admitted: _*)))
        val fp = Dedup.corpusFingerprint(now, f.idCol, f.valueCol)
        assert(fingerprints(index).forall(_.contains(fp)), fingerprints(index))
        // the committed id travels with the compaction's rewrite too
        f.compact(tag)
        val n = counts(index)
        batch()
        assert(counts(index) == n && fingerprints(index).forall(_.contains(fp)))
      }
    }
  }
}
