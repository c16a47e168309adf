package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
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
  *  - COMMITS GUARD: a maintained stream records one (batch id,
  *    post-batch fingerprint) row per applied batch in the
  *    [[Dedup.commitsTableName]] table, read under the lease. A write
  *    or a removal drops that table; it reseeds from the index's
  *    then-current fingerprint at the next stream start.
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
  * Removal and compaction rewrite each data table through the
  * layout-preserving swap ([[Dedup.swapRewriteTable]]), never through a
  * tombstone, so the serving path reads no extra relation. */
private[graft] final case class PersistedIndex(
    tag: String,
    tables: Seq[IndexTable],
    idCol: String,
    frozen: Seq[String],
    geometry: Seq[String],
    encode: (DataFrame, String, String, Map[String, Int]) => DataFrame,
    tap: DataFrame => DataFrame = identity) {

  /** The lease key, commits-table owner and geometry holder. */
  def primary: String = tables.head.name

  private def fingerprinted: Seq[String] = tables.map(_.name) ++ frozen

  /** Write the index from scratch: drop stale tables (the commits table
    * too), encode once, write each table in its layout, run `sides`
    * (the family's frozen tables), then stamp fingerprint and geometry. */
  def write(corpus: DataFrame, idCol: String, valueCol: String,
            geom: Map[String, Int], sides: () => Unit = () => ()): Unit = {
    val spark = corpus.sparkSession
    GraftFunctions.ensureRegistered(spark)
    // a previous JVM may have left a managed location behind with no
    // catalog entry: dropStaleTable removes both forms
    (fingerprinted :+ Dedup.commitsTableName(primary))
      .foreach(Dedup.dropStaleTable(spark, _))
    // the signatures are consumed once per table: spread and cache them
    // so they are computed once, in parallel
    val (signed, release) = Dedup.spreadBounded(
      encode(corpus, idCol, valueCol, geom), col(this.idCol))
    try {
      tables.foreach(t =>
        save(t, t.name, cap(t, t.rows(signed), geom), "overwrite", geom))
      sides()
      val fp = Dedup.corpusFingerprint(corpus, idCol, valueCol)
      fingerprinted.foreach(Dedup.setTableFingerprint(spark, _, fp))
      val props = geom.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ")
      tables.foreach(t =>
        spark.sql(s"ALTER TABLE ${t.name} SET TBLPROPERTIES ($props)"))
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
    * one geometry read, then `body` with the geometry. Reentrant. */
  def maintain[T](spark: SparkSession, what: String)
                 (body: Map[String, Int] => T): T =
    Dedup.withMaintenanceLease(spark, primary, what) {
      GraftFunctions.ensureRegistered(spark)
      tables.foreach(t => Dedup.recoverSwappedTable(spark, t.name))
      require(fingerprinted.forall(spark.catalog.tableExists),
        s"$what: no index for tag '$tag' — write it first")
      body(Dedup.requiredIntProps(spark, primary, geometry, what))
    }

  /** Append `admitted` under the lease; returns its frozen snapshot. */
  def append(admitted: DataFrame, idCol: String, valueCol: String,
             what: String): DataFrame =
    maintain(admitted.sparkSession, what)(
      appendWith(_, admitted, idCol, valueCol))

  /** The append body, for a caller already inside [[maintain]]. The
    * input is frozen first: an admitted frame usually derives from a
    * dedup that reads these very tables, and would re-resolve after the
    * first table's write. A capped table's new rows rank AFTER the rows
    * already indexed under their key, so earlier-indexed ids win and no
    * key exceeds the cap. */
  def appendWith(geom: Map[String, Int], admitted: DataFrame, idCol: String,
                 valueCol: String): DataFrame = {
    val spark = admitted.sparkSession
    val snap = Dedup.ensureFrozen(admitted)
    val signed = encode(snap, idCol, valueCol, geom)
    tables.foreach { t =>
      val rows = t.rows(signed)
      val kept = if (!t.capped) rows else {
        val keys = t.keys
        val max = geom(Dedup.MaxBucketProp)
        // per-key occupancy: a partial-agg count grouped on the table's
        // own bucket keys (no Exchange)
        val have = spark.table(t.name).groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__have"))
        Dedup.cappedOffsetIds(Dedup.cappedTopIds(rows, keys, max)
            .join(have, keys, "left")
            .withColumn("__have", coalesce(col("__have"), lit(0L))), keys, max)
          .select(rows.columns.map(col): _*)
      }
      save(t, t.name, kept, "append", geom)
    }
    Dedup.mergeTableFingerprints(spark, fingerprinted,
      Dedup.corpusFingerprint(snap, idCol, valueCol))
    snap
  }

  /** Purge the `removed` rows, passed exactly as indexed, by an
    * anti-join rewrite of every data table; the fingerprint is
    * subtracted and the commits table dropped. Rows a removed id
    * displaced under a cap do not resurrect (a rebuild restores them).
    * Returns the number of ids purged. */
  def remove(removed: DataFrame, idCol: String, valueCol: String,
             what: String): Long = {
    val spark = removed.sparkSession
    maintain(spark, what) { geom =>
      // read once per table rewrite and once for the fingerprint delta
      val snap = removed.localCheckpoint()
      val ids = snap.select(col(idCol).cast("long").as(this.idCol))
      val byId = tables.find(_.keys == Seq(this.idCol)).get.name
      val purged = spark.table(byId).join(ids, Seq(this.idCol), "left_semi").count()
      // the fingerprint subtracts the WHOLE removal set: a row that was
      // never indexed (or a duplicate) would silently corrupt it
      val removedCount = snap.count()
      require(purged == removedCount,
        s"$what: $removedCount removal rows but $purged matched indexed " +
        s"rows in '$tag' — `removed` must carry exactly the indexed " +
        "(id, value) rows, no extras and no duplicates")
      tables.foreach(rewrite(spark, _, geom,
        _.join(ids, Seq(this.idCol), "left_anti")))
      val Array(dn, dh) = Dedup.corpusFingerprint(snap, idCol, valueCol).split(":")
      Dedup.mergeTableFingerprints(spark, fingerprinted,
        s"${-dn.toLong}:${-BigInt(dh)}")
      Dedup.dropStaleTable(spark, Dedup.commitsTableName(primary))
      purged
    }
  }

  /** Rewrite every data table once in its own layout (capped tables
    * re-apply the cap — idempotent, since appends preserve it),
    * collapsing the files appends left behind; properties carry over
    * verbatim. */
  def compact(spark: SparkSession, what: String): Unit =
    maintain(spark, what)(geom =>
      tables.foreach(t => rewrite(spark, t, geom, cap(t, _, geom))))

  /** Crash-recovery purge for a maintained batch, inside [[maintain]]:
    * if an uncommitted attempt left any of `ids` in the data tables (an
    * append is several writes plus a fingerprint merge, so a crash can
    * land any prefix), rewrite them out and reset every fingerprint to
    * `fp`, the last committed state. One probe job; `ids` is frozen only
    * when a purge runs. Returns true when it ran. */
  def purgeUncommitted(spark: SparkSession, geom: Map[String, Int],
                       ids: DataFrame, fp: String): Boolean = {
    val hit = !tables.map(t => spark.table(t.name).select(idCol))
      .reduce(_ unionByName _)
      .join(ids, Seq(idCol), "left_semi").isEmpty
    if (hit) {
      val idsS = ids.localCheckpoint()
      tables.foreach(rewrite(spark, _, geom, _.join(idsS, Seq(idCol), "left_anti")))
      fingerprinted.foreach(Dedup.setTableFingerprint(spark, _, fp))
    }
    hit
  }

  private def cap(t: IndexTable, rows: DataFrame,
                  geom: Map[String, Int]): DataFrame =
    if (t.capped) Dedup.cappedTopIds(rows, t.keys, geom(Dedup.MaxBucketProp))
    else rows

  /** Save `rows` as table `name` in `t`'s layout. A fresh write
    * repartitions on the layout keys so each bucket or cell lands as ~1
    * file; a bucketed append keeps its input's tasks (one job fewer on
    * the per-batch path), a partitioned one still gathers each cell. */
  private def save(t: IndexTable, name: String, rows: DataFrame,
                   mode: String, geom: Map[String, Int]): Unit = {
    val buckets = geom(Dedup.BucketsProp)
    val keys = t.keys.map(col)
    val laid =
      if (t.partitioned) rows.repartition(keys: _*)
      else if (mode == "overwrite") rows.repartition(buckets, keys: _*)
      else rows
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

/** The three families' descriptions. */
private[graft] object PersistedIndex {

  /** MinHash: `…_bands` (corpus_id, band, h) bucketed and capped on
    * (band, h); `…_shingles` (corpus_id, sh, bandsig) bucketed on
    * corpus_id — the shingle table also stores the full band signature
    * that the streaming twin's first-colliding-band rule needs. */
  def minhash(tag: String): PersistedIndex = {
    val (bt, st) = Dedup.indexTables(tag)
    PersistedIndex(tag,
      Seq(IndexTable(bt, Seq("band", "h"), _.select(col("corpus_id"),
            posexplode(col("bandsig")).as(Seq("band", "h"))), capped = true),
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
