package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{classic, Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** One data table of a [[PersistedIndex]]: bucketed on `keys`, or
  * partitioned by `keys.head` when `partitioned`. `rows` projects the
  * table's rows out of the family encoder's output. A `capped` table
  * keeps at most the index's recorded maxBucket smallest ids per key
  * (the write-time boilerplate cap: applied at write, preserved by
  * appends, re-applied by compaction). */
private[graft] final case class IndexTable(name: String, keys: Seq[String],
    rows: DataFrame => DataFrame, partitioned: Boolean = false,
    capped: Boolean = false)

/** A persisted similarity index (MinHash bands, SRP sketches or IVF-PQ
  * codes) and the ONE implementation of its lifecycle: write, ensure,
  * append, remove, compact and the maintained stream's crash purge.
  * A family supplies only its description: the data `tables` and their
  * layouts, the `idCol` they share (`corpus_id` or `vid`), the `frozen`
  * side tables that are never rewritten (the ANN codebooks), the
  * `geometry` property keys, its `encode`r (the signed rows of an
  * admitted frame, given the caller's id and value columns and the
  * recorded geometry) and a `tap` on the primary table's rows, applied
  * in the result stage of every save of that table.
  *
  * Lifecycle contract:
  *  - LEASE: every maintenance step (append / remove / compact, and a
  *    maintained stream's whole guard → purge → serve → append → commit
  *    batch) runs under [[Dedup.withMaintenanceLease]] on the primary
  *    (first) table; a concurrent writer on the same tag fails fast
  *    with IllegalStateException.
  *  - SWAP RECOVERY: under the lease, [[Dedup.recoverSwappedTable]]
  *    first heals a crash inside an earlier rewrite's rename dance; the
  *    tables must then exist and the geometry is read ONCE from the
  *    primary table's properties, so no caller can disagree with the
  *    stored layout.
  *  - COMMIT RECORD: a maintained stream keeps its record in the
  *    primary table's properties, read under the lease with no Spark
  *    job. `graft.stream.committed` is the last committed batch id; it
  *    is set in the primary's fingerprint-merge ALTER, which is the
  *    append's last step, so the primary's fingerprint is always the
  *    last committed state's. foreachBatch ids are monotone, so a batch
  *    whose id is ≤ the committed one is a no-op. `graft.stream.pending`,
  *    the intent marker, is set to the batch id before the first table
  *    write; a marker newer than the commit means an attempt crashed
  *    somewhere between its first write and its commit, and only then
  *    does the replay probe for and purge that attempt's rows. Both
  *    keys travel with every rewrite ([[Dedup.swapRewriteTable]]),
  *    survive removal and compaction, and vanish with a fresh write.
  *  - ID UNIQUENESS: the crash purge treats any id of the replayed
  *    batch already in the index as residue of an uncommitted attempt,
  *    so maintained-stream ids must be globally unique: disjoint from
  *    the indexed corpus and never reused across batches.
  *  - ADDITIVE FINGERPRINT: every data and frozen table carries
  *    [[Dedup.corpusFingerprint]] of the indexed corpus (row count and
  *    an exact decimal sum of per-row hashes). Appends add the admitted
  *    rows' delta and removals subtract theirs, so `ensure` keeps
  *    verifying over corpus ∪ appended \ removed; removed rows must be
  *    passed exactly as indexed (validated).
  * Removal rewrites each data table, and compaction each one that is
  * not already compact, through the layout-preserving swap
  * ([[Dedup.swapRewriteTable]]), never through a tombstone, so the
  * serving path reads no extra relation. */
private[graft] final case class PersistedIndex(
    tag: String,
    tables: Seq[IndexTable],
    idCol: String,
    frozen: Seq[String],
    geometry: Seq[String],
    encode: (DataFrame, String, String, Map[String, Int]) => DataFrame,
    tap: DataFrame => DataFrame = identity) {

  /** The lease key, stream-record and geometry holder. */
  def primary: String = tables.head.name

  private def fingerprinted: Seq[String] = tables.map(_.name) ++ frozen

  /** Write the index from scratch: drop stale tables (and with them
    * any stream record), encode once, write each table in its layout,
    * run `sides` (the family's frozen tables), then stamp fingerprint
    * and geometry. */
  def write(corpus: DataFrame, idCol: String, valueCol: String,
            geom: Map[String, Int], sides: () => Unit = () => ()): Unit = {
    val spark = corpus.sparkSession
    // a previous JVM may have left a managed location behind with no
    // catalog entry: dropStaleTable removes both forms
    fingerprinted.foreach(Dedup.dropStaleTable(spark, _))
    // the signatures are consumed once per table: spread and cache them
    // so they are computed once, in parallel
    val (signed, release) = Dedup.spreadBounded(
      encode(corpus, idCol, valueCol, geom), col(this.idCol))
    try {
      tables.foreach(t =>
        save(t, t.name, cap(t, t.rows(signed), geom), "overwrite", geom))
      sides()
      val fp = Dedup.corpusFingerprint(corpus, idCol, valueCol)
      fingerprinted.foreach(Dedup.setTableProps(spark, _, Seq(Dedup.FingerprintProp -> fp)))
      tables.foreach(t => Dedup.setTableProps(spark, t.name,
        geom.map { case (k, v) => k -> v.toString }.toSeq))
    } finally release()
  }

  /** Run `write` only when a table is missing or, with `verify`, when
    * the corpus fingerprint differs from the recorded one (the corpus is
    * by-name: never evaluated on an unverified hit). Returns the tag. */
  def ensure(spark: SparkSession, corpus: => DataFrame, idCol: String,
             valueCol: String, verify: Boolean)(write: => Unit): String = {
    val missing = !fingerprinted.forall(spark.catalog.tableExists)
    val stale = !missing && verify && {
      val fp = Dedup.corpusFingerprint(corpus, idCol, valueCol)
      !fingerprinted.forall(Dedup.tableFingerprint(spark, _).contains(fp))
    }
    if (missing || stale) write
    tag
  }

  /** The maintenance entry: lease, swap recovery, existence check and
    * one property read of the primary table, then `body` with what it
    * holds ([[PersistedIndex.State]]). Reentrant. */
  def maintain[T](spark: SparkSession, what: String)
                 (body: PersistedIndex.State => T): T =
    Dedup.withMaintenanceLease(spark, primary, what) {
      tables.foreach(t => Dedup.recoverSwappedTable(spark, t.name))
      require(fingerprinted.forall(spark.catalog.tableExists),
        s"$what: no index for tag '$tag' — write it first")
      val props = Dedup.tableProps(spark, primary)
      body(PersistedIndex.State(Dedup.requiredIntProps(props, primary, geometry, what),
        props.get(Dedup.FingerprintProp).map(Dedup.fingerprintCount),
        PersistedIndex.StreamRecord(props)))
    }

  /** Append `admitted` under the lease; returns its frozen snapshot. */
  def append(admitted: DataFrame, idCol: String, valueCol: String,
             what: String): DataFrame =
    maintain(admitted.sparkSession, what)(appendWith(_, admitted, idCol,
      valueCol, PersistedIndex.Phases(admitted.sparkSession, what)))

  /** The append body, for a caller already inside [[maintain]]. The
    * input is frozen first, its fingerprint delta observed by that same
    * job: an admitted frame usually derives from a dedup that reads
    * these very tables, and would re-resolve after the first table's
    * write. With a maintained stream's `batch` id, the intent marker is
    * set before the first write and the commit is recorded with the
    * fingerprint merge. A capped table's new rows rank AFTER the rows
    * already indexed under their key, so earlier-indexed ids win and no
    * key exceeds the cap. That needs the index's occupancy of the
    * batch's keys, read only when the cap can bind: a key holds at most
    * one row per indexed doc, and the primary's fingerprint count
    * (`state.indexed`) bounds the indexed docs, so while it plus the
    * admitted rows stays within maxBucket every row is kept as is. An
    * index with no recorded fingerprint always reads the occupancy. An
    * admitted set of no rows writes no table and sets no marker; its
    * commit is still recorded. */
  def appendWith(state: PersistedIndex.State, admitted: DataFrame, idCol: String,
                 valueCol: String, phase: PersistedIndex.Phases,
                 batch: Option[Long] = None): DataFrame = {
    val (spark, geom) = (admitted.sparkSession, state.geom)
    val (snap, delta, signed) = phase("admit") {
      val (snap, delta) = Dedup.freezeFingerprinted(admitted, idCol, valueCol)
      (snap, delta, encode(snap, idCol, valueCol, geom))
    }
    val n = Dedup.fingerprintCount(delta)
    val writes = if (n == 0) Nil else tables
    if (writes.nonEmpty) batch.foreach(id => Dedup.setTableProps(spark, primary,
      Seq(Dedup.PendingProp -> id.toString)))
    writes.foreach { t =>
      val rows = t.rows(signed)
      val binds = t.capped && state.indexed.forall(_ + n > geom(Dedup.MaxBucketProp))
      val kept = if (!binds) rows else {
        // occupancy of the batch's own keys only: the semi-join and the
        // count both keep the index table's bucketing (no index Exchange)
        val keys = t.keys.map(col)
        val have = spark.table(t.name).join(rows.select(keys: _*), t.keys, "left_semi")
          .groupBy(keys: _*).agg(count(lit(1)).as("__have"))
        // the batch is clustered once, in the write's own layout, before
        // the occupancy join: the cap's windows and the write then run
        // without another Exchange
        Dedup.cappedOffsetIds(clustered(t, rows, geom).join(have, t.keys, "left")
            .withColumn("__have", coalesce(col("__have"), lit(0L))),
            t.keys, geom(Dedup.MaxBucketProp))
          .select(rows.columns.map(col): _*)
      }
      phase(s"append:${t.name}")(save(t, t.name, kept, "append", geom))
    }
    phase("commit")(Dedup.mergeTableFingerprints(spark, fingerprinted, delta,
      batch.map(Dedup.CommittedProp -> _.toString).toSeq))
    snap
  }

  /** The maintained stream's record on the primary table. */
  def streamRecord(spark: SparkSession): PersistedIndex.StreamRecord =
    PersistedIndex.StreamRecord(Dedup.tableProps(spark, primary))

  /** Purge the `removed` rows, passed exactly as indexed, by an
    * anti-join rewrite of every data table; the fingerprint is
    * subtracted. The frozen id set is broadcast ([[idSet]]) when it fits
    * `spark.sql.autoBroadcastJoinThreshold` at 8 bytes an id: each
    * table's rewrite then keeps its bucketed scan's layout and runs as
    * one job with no shuffle. A removal whose freeze observes no rows
    * rewrites nothing. Rows a removed id displaced under a cap do not
    * resurrect (a rebuild restores them). Returns the number of ids
    * purged. */
  def remove(removed: DataFrame, idCol: String, valueCol: String,
             what: String): Long = {
    val spark = removed.sparkSession
    val phase = PersistedIndex.Phases(spark, what)
    maintain(spark, what) { state =>
      val geom = state.geom
      // read once per table rewrite; the freeze observes the row count
      // and the fingerprint delta
      val (snap, delta) = phase("freeze")(Dedup.freezeFingerprinted(removed, idCol, valueCol))
      val Array(dn, dh) = delta.split(":")
      val n = dn.toLong
      val ids = idSet(spark, snap.select(col(idCol).cast("long").as(this.idCol)), n)
      val byId = tables.find(_.keys == Seq(this.idCol)).get.name
      val purged = if (n == 0) 0L else phase("probe")(
        spark.table(byId).join(ids, Seq(this.idCol), "left_semi").count())
      // the fingerprint subtracts the WHOLE removal set: a row that was
      // never indexed (or a duplicate) would silently corrupt it
      require(purged == n,
        s"$what: $n removal rows but $purged matched indexed " +
        s"rows in '$tag' — `removed` must carry exactly the indexed " +
        "(id, value) rows, no extras and no duplicates")
      if (n > 0) {
        tables.foreach(t => phase(s"rewrite:${t.name}")(rewrite(spark, t, geom,
          _.join(ids, Seq(this.idCol), "left_anti"))))
        phase("commit")(Dedup.mergeTableFingerprints(spark, fingerprinted,
          s"${-n}:${-BigInt(dh)}"))
      }
      purged
    }
  }

  /** Rewrite, in its own layout, every data table that is not already
    * [[compacted]] (capped tables re-apply the cap — idempotent, since
    * appends preserve it), collapsing the files appends left behind;
    * properties carry over verbatim. A table with at most one file per
    * bucket or partition is skipped: a rewrite would write the same rows
    * in the same layout, so compacting after a removal, or twice, runs
    * no job. */
  def compact(spark: SparkSession, what: String): Unit = {
    val phase = PersistedIndex.Phases(spark, what)
    maintain(spark, what)(s => tables.filterNot(compacted(spark, _)).foreach(t =>
      phase(s"rewrite:${t.name}")(rewrite(spark, t, s.geom, cap(t, _, s.geom)))))
  }

  /** Crash-recovery purge for a maintained batch whose earlier attempt
    * set the intent marker and never committed, inside [[maintain]]: if
    * that attempt left any of `ids` in the data tables (an append is
    * several writes, so a crash can land any prefix), rewrite them out.
    * Every fingerprint is reset to the primary table's, which only the
    * commit moves. One probe job; `ids` is frozen only when a rewrite
    * runs, and broadcast as in [[remove]]. */
  def purgeUncommitted(spark: SparkSession, geom: Map[String, Int],
                       ids: DataFrame): Unit = {
    if (!tables.map(t => spark.table(t.name).select(idCol)).reduce(_ unionByName _)
        .join(ids, Seq(idCol), "left_semi").isEmpty) {
      val o = Observation()
      val frozen = ids.observe(o, count(lit(1)).as("n")).localCheckpoint()
      val idsS = idSet(spark, frozen, o.get("n").asInstanceOf[Long])
      tables.foreach(rewrite(spark, _, geom, _.join(idsS, Seq(idCol), "left_anti")))
    }
    Dedup.tableFingerprint(spark, primary).foreach(fp => fingerprinted.tail
      .foreach(Dedup.setTableProps(spark, _, Seq(Dedup.FingerprintProp -> fp))))
  }

  /** `ids`, a frozen set of `n` ids, marked for broadcast when `n` ids
    * of 8 bytes fit `spark.sql.autoBroadcastJoinThreshold` (-1 turns it
    * off). The anti-join of a rewrite then keeps the bucketed scan's
    * partitioning, so the layout repartition falls away; a larger set
    * keeps the shuffled join. */
  private def idSet(spark: SparkSession, ids: DataFrame, n: Long): DataFrame = {
    val limit = spark.asInstanceOf[classic.SparkSession].sessionState.conf
      .autoBroadcastJoinThreshold
    if (n * 8 <= limit) broadcast(ids) else ids
  }

  /** Whether table `t` is already compact, by a fresh listing of its
    * location (never the session's cached file index, which can miss
    * files another session appended): a bucketed table has at most one
    * data file per bucket id, a partitioned one at most one per
    * partition directory. Paths Spark ignores (a component starting
    * with `_` or `.`) are skipped; a file with no bucket id in its name
    * makes a bucketed table not compact. Every fresh write and rewrite
    * leaves one file per bucket or cell, and appends preserve the cap,
    * so rewriting a compact table would change nothing. */
  private def compacted(spark: SparkSession, t: IndexTable): Boolean = {
    val root = new Path(spark.asInstanceOf[classic.SparkSession].sessionState.catalog
      .getTableMetadata(TableIdentifier(t.name)).location)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(dir: Path): Seq[Path] = fs.listStatus(dir).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      .flatMap(s => if (s.isDirectory) files(s.getPath) else Seq(s.getPath))
    val data = files(root)
    if (t.partitioned) data.groupBy(_.getParent).values.forall(_.size == 1)
    else {
      val ids = data.map(p => BucketingUtils.getBucketId(p.getName))
      ids.forall(_.isDefined) && ids.distinct.size == ids.size
    }
  }

  private def cap(t: IndexTable, rows: DataFrame,
                  geom: Map[String, Int]): DataFrame =
    if (t.capped) Dedup.cappedTopIds(rows, t.keys, geom(Dedup.MaxBucketProp))
    else rows

  /** The tasks a bucketed table is written in: the gcd of its bucket
    * count and the session's parallelism. Because it divides the bucket
    * count, `pmod(murmur3(keys), tasks)` is a function of the bucket id,
    * so each bucket lands whole in one task. */
  private def writeTasks(spark: SparkSession, geom: Map[String, Int]): Int =
    BigInt(geom(Dedup.BucketsProp)).gcd(spark.sparkContext.defaultParallelism).toInt

  /** `rows` of bucketed table `t` hash-clustered into [[writeTasks]]
    * tasks on its keys: one file per bucket on an append. */
  private def clustered(t: IndexTable, rows: DataFrame,
                        geom: Map[String, Int]): DataFrame =
    rows.repartition(writeTasks(rows.sparkSession, geom), t.keys.map(col): _*)

  /** Save `rows` as table `name` in `t`'s layout, one file per bucket
    * or cell. A bucketed table is written in [[writeTasks]] tasks: an
    * overwrite repartitions into one partition per bucket and coalesces
    * whole buckets into those tasks (no second shuffle; a rewrite's
    * bucketed scan already has that partitioning, so it runs no shuffle
    * at all), an append is [[clustered]] (a capped append already is,
    * and the planner drops the repeated exchange). A partitioned table
    * gathers each cell. */
  private def save(t: IndexTable, name: String, rows: DataFrame,
                   mode: String, geom: Map[String, Int]): Unit = {
    val buckets = geom(Dedup.BucketsProp)
    val keys = t.keys.map(col)
    val laid =
      if (t.partitioned) rows.repartition(keys: _*)
      else if (mode == "overwrite") rows.repartition(buckets, keys: _*)
        .coalesce(writeTasks(rows.sparkSession, geom))
      else clustered(t, rows, geom)
    val w = (if (t.name == primary) tap(laid) else laid)
      .write.format("parquet").mode(mode)
    if (t.partitioned) w.partitionBy(t.keys: _*).saveAsTable(name)
    else w.bucketBy(buckets, t.keys.head, t.keys.tail: _*)
      .sortBy(t.keys.head, t.keys.tail: _*).saveAsTable(name)
  }

  /** Rewrite table `t` through `xform` with the rename-swap. The
    * rewrite's read forces the bucketed scan: the auto-bucketed-scan
    * rule otherwise un-buckets it once the explicit repartition is
    * eliminated against the scan's claimed partitioning, each bucket
    * scatters across scan tasks and the write fans back out (852 files
    * survived a 32-bucket rewrite without this; exactly 32 with it). */
  private def rewrite(spark: SparkSession, t: IndexTable,
                      geom: Map[String, Int],
                      xform: DataFrame => DataFrame): Unit = {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try Dedup.swapRewriteTable(spark, t.name, geometry,
      (df, tmp) => save(t, tmp, xform(df), "overwrite", geom))
    finally spark.conf.set(key, prev)
  }
}

private[graft] object PersistedIndex {

  /** A maintained stream's record: the last committed batch id and the
    * intent marker, the id of the last batch whose append began. */
  final case class StreamRecord(committed: Option[Long], pending: Option[Long]) {
    /** Whether batch `id` is already applied (ids are monotone). */
    def done(id: Long): Boolean = committed.exists(_ >= id)
    /** Whether an attempt crashed between its marker and its commit. */
    def crashed: Boolean = pending.exists(p => committed.forall(_ < p))
  }

  object StreamRecord {
    /** The record held in the primary table's properties `props`. */
    def apply(props: Map[String, String]): StreamRecord = {
      def id(k: String) = props.get(k).map(_.toLong)
      StreamRecord(id(Dedup.CommittedProp), id(Dedup.PendingProp))
    }
  }

  /** What [[PersistedIndex.maintain]] reads of the primary table under
    * the lease, in one property read: the recorded geometry, the row
    * count of the recorded fingerprint (`indexed`, an upper bound on the
    * indexed docs; None when none is recorded) and the stream record. */
  final case class State(geom: Map[String, Int], indexed: Option[Long],
                         record: StreamRecord)

  /** Labels each job of one operator's phase `<operator>:<phase>` in
    * `spark.job.description`, restoring the caller's label after. Each
    * phase first calls `fault` with its name (a test's crash point). */
  final case class Phases(spark: SparkSession, operator: String,
                          fault: String => Unit = _ => ()) {
    def apply[T](phase: String)(body: => T): T = {
      fault(phase)
      val (sc, key) = (spark.sparkContext, "spark.job.description")
      val prev = sc.getLocalProperty(key)
      sc.setLocalProperty(key, s"$operator:$phase")
      try body finally sc.setLocalProperty(key, prev)
    }
  }

  // ---------------------------------------- the three families' descriptions

  /** MinHash: `…_bands` (corpus_id, band, h) bucketed and capped on
    * (band, h); `…_shingles` (corpus_id, sh, bandsig) bucketed on
    * corpus_id — the shingle table also stores the full band signature
    * that the streaming twin's first-colliding-band rule needs. The
    * bands are exploded from an expression, not the bare `bandsig`
    * column: Spark infers `size(bandsig) > 0 AND isnotnull(bandsig)` for
    * a generator over an attribute and pushes it below the projection,
    * which would run `minhash_bands` three times per doc (a null
    * signature explodes to no rows either way). */
  def minhash(tag: String): PersistedIndex = {
    val (bt, st) = Dedup.indexTables(tag)
    PersistedIndex(tag,
      Seq(IndexTable(bt, Seq("band", "h"), _.select(col("corpus_id"),
            posexplode(coalesce(col("bandsig"), typedLit(Array.empty[Long])))
              .as(Seq("band", "h"))), capped = true),
          IndexTable(st, Seq("corpus_id"), identity)),
      "corpus_id", Nil,
      Seq(Dedup.MinhashNumPermProp, Dedup.MinhashBandsProp,
        Dedup.MaxBucketProp, Dedup.BucketsProp),
      (df, id, text, g) => df.select(col(id).as("corpus_id"),
          GraftFunctions.word_shingles(col(text), 3).as("sh"))
        .withColumn("bandsig", GraftFunctions.minhash_bands(col("sh"),
          g(Dedup.MinhashNumPermProp), g(Dedup.MinhashBandsProp))))
  }

  /** SRP: `…_sigs` (corpus_id, sk, tbl, sig) bucketed and capped on
    * (tbl, sig), the 992-bit sketch riding along for the in-task pair
    * gate; `…_vecs` (corpus_id, v, nrm, sk, sigarr) bucketed on
    * corpus_id for the exact-cosine verify and the streaming twin. */
  def embed(tag: String): PersistedIndex = {
    val (sigT, vecT) = Dedup.embedIndexTables(tag)
    PersistedIndex(tag,
      Seq(IndexTable(sigT, Seq("tbl", "sig"), _.select(col("corpus_id"),
            col("sk"), posexplode(col("sigarr")).as(Seq("tbl", "sig"))),
            capped = true),
          IndexTable(vecT, Seq("corpus_id"), identity)),
      "corpus_id", Nil,
      Seq(Dedup.EmbedBitsProp, Dedup.EmbedTablesProp,
        Dedup.MaxBucketProp, Dedup.BucketsProp),
      (df, id, vec, g) => df.select(col(id).as("corpus_id"),
          col(vec).cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
        .withColumn("sk", Dedup.sketchCol(col("v")))
        .withColumn("sigarr", array((0 until g(Dedup.EmbedTablesProp)).map(t =>
          GraftFunctions.srp_signature(col("v"), g(Dedup.EmbedBitsProp),
            t.toLong)): _*)))
  }

  /** IVF-PQ: `…_codes` (vid, sub, code) partitioned by `cell`, so a
    * serve's probed cells prune the scan; `…_vecs` (vid, v, nrm)
    * bucketed on vid for the exact rerank; the trained `…_coarse` and
    * `…_pq` codebooks are frozen. `books` (by-name, loaded at most once)
    * encodes with the frozen codebooks. With `drift` = (observation,
    * nlist), the codes write collects the per-cell drift baseline in
    * its result stage, from the `sub = 0` rows (one per vector), so the
    * accumulator totals are exact under task retry. */
  def ann(tag: String, books: => Similarity.Codebooks,
          drift: Option[(Observation, Int)] = None): PersistedIndex = {
    val (codesT, vecsT, coarseT, pqT) = Similarity.annIndexTables(tag)
    lazy val cbs = books
    def driftAggs(nlist: Int): Seq[Column] = (1 to nlist).flatMap { c =>
      val hit = col("sub") === 0 && col("cell") === c
      Seq(sum(when(hit, lit(1L)).otherwise(lit(0L))).as(s"n_$c"),
        sum(when(hit, col("__q")).otherwise(lit(0L))).as(s"q_$c"))
    }
    PersistedIndex(tag,
      Seq(IndexTable(codesT, Seq("cell"), _.select(col("vid"), col("cell"),
            col("__q"), posexplode(col("__codes")).as(Seq("sub", "code"))),
            partitioned = true),
          IndexTable(vecsT, Seq("vid"), _.select("vid", "v", "nrm"))),
      "vid", Seq(coarseT, pqT),
      Seq(Similarity.AnnMProp, Similarity.AnnKsubProp,
        Similarity.AnnNlistProp, Dedup.BucketsProp),
      (df, id, vec, _) => Similarity.annEncode(df, id, vec, cbs),
      tap = df => drift.fold(df) { case (o, nlist) =>
        val aggs = driftAggs(nlist)
        df.observe(o, aggs.head, aggs.tail: _*)
      }.drop("__q"))
  }
}
