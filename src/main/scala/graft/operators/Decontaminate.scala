package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.GraftFunctions

/** Benchmark decontamination (SURVEY.md §2.2): remove training documents
  * that overlap an evaluation set by shared word n-grams — the standard
  * "n-gram collision" decontamination pass every serious pretraining
  * pipeline runs (Brown et al. 2020, "Language Models are Few-Shot
  * Learners", appendix C, used 13-gram collisions; the width is a knob
  * here).
  *
  * Scale design: the benchmark side is an EVAL set — thousands to a few
  * million rows against a 100 TB corpus — so its distinct n-gram set is
  * the natural broadcast side. The corpus side never shuffles text: the
  * native `word_shingles` Expression (already-distinct per-doc n-grams)
  * explodes scan-side, the broadcast semi-join keeps only colliding
  * (doc, n-gram) rows, and the one real shuffle is the per-doc collision
  * count over that filtered — tiny — set. The broadcast is size-gated
  * like Curation's loser set: an adversarially huge benchmark degrades to
  * a shuffle join instead of blowing the 8 GB broadcast limit.
  *
  * The reference has no decontamination surface; this is part of the
  * beyond-reference training-pipeline family.
  */
object Decontaminate {

  /** Above this many distinct benchmark n-grams, fall back to a shuffle
    * join (same rationale/threshold shape as Curation.MaxBroadcastLosers). */
  val MaxBroadcastNgrams = 10000000L

  /** The 8-byte xxhash64 set is ~5× smaller than the average English
    * 5-gram string, so the hash path's broadcast gate admits 5× the
    * row count at the same byte budget — this factor is what makes
    * [[reportHashPrefiltered]] broadcast in regimes where the string
    * path must shuffle. */
  val HashBudgetFactor = 5L

  /** Distinct benchmark n-grams (one column `sg`), size-gated broadcast,
    * PERSISTED so the size-gate count and the downstream join(s) share one
    * execution of the benchmark-shingle subtree (advisor r6 — previously
    * the count probe re-ran it uncached). Returns the gated relation plus
    * a cleanup that unpersists it; call cleanup AFTER the report has been
    * materialized (same contract as Curation.curateManaged). */
  private def benchNgramsManaged(benchmark: DataFrame, textCol: String,
                                 w: Int, maxBroadcast: Long)
      : (DataFrame, Long, () => Unit) = {
    val sg = benchmark
      .select(explode(GraftFunctions.word_shingles(col(textCol), w)).as("sg"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the count probe materializes the cache — the price of never handing
    // an unbounded set to the broadcast machinery; the join below then
    // reads the cached relation instead of re-running the subtree
    val n = sg.count()
    val gated = if (n <= maxBroadcast) broadcast(sg) else sg
    (gated, n, () => { sg.unpersist(blocking = true); () })
  }

  /** Contamination report: corpus docs sharing ≥ `minShared` distinct
    * w-grams with the benchmark set → (doc_id, n_shared). One-shot
    * convenience over [[reportManaged]] — leaves the internal benchmark
    * n-gram cache to LRU eviction. */
  def report(corpus: DataFrame, benchmark: DataFrame, idCol: String,
             textCol: String, w: Int = 5, minShared: Int = 1,
             maxBroadcast: Long = MaxBroadcastNgrams): DataFrame =
    reportManaged(corpus, benchmark, idCol, textCol, w, minShared,
      maxBroadcast)._1

  /** [[report]] plus the cache-lifecycle handle: (plan, cleanup). Invoke
    * cleanup after materializing the plan; long-lived sessions running
    * repeated decontamination passes should always use this variant. */
  def reportManaged(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, w: Int = 5, minShared: Int = 1,
                    maxBroadcast: Long = MaxBroadcastNgrams)
      : (DataFrame, () => Unit) = {
    require(w > 0 && minShared > 0,
      s"w/minShared must be positive, got ($w, $minShared)")
    val corpusSg = corpus.select(col(idCol).as("doc_id"),
      explode(GraftFunctions.word_shingles(col(textCol), w)).as("sg"))
    val (bench, _, cleanup) =
      benchNgramsManaged(benchmark, textCol, w, maxBroadcast)
    val out = corpusSg
      .join(bench, "sg")
      // word_shingles emits per-doc DISTINCT n-grams, so a plain count is
      // already the distinct-collision count
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    (out, cleanup)
  }

  /** The 100 TB contamination path for benchmarks TOO LARGE to broadcast
    * as strings: broadcast the 8-byte xxhash64 set of benchmark n-grams
    * (~5× smaller than the average English 5-gram string, so a 5× bigger
    * eval set still fits the broadcast budget), semi-join corpus n-grams
    * against it SCAN-SIDE so non-colliding rows die before any string
    * shuffle, then exact-string-join only the tiny survivor set so a hash
    * collision can never flag a clean doc. The prefilter admits a
    * superset and the exact join decides — the result is provably
    * IDENTICAL to [[report]] and shares its DuckDB oracle; what changes
    * is the shuffle volume (colliding rows only, instead of every corpus
    * n-gram when the string set overflows the gate). */
  def reportHashPrefiltered(corpus: DataFrame, benchmark: DataFrame,
                            idCol: String, textCol: String, w: Int = 5,
                            minShared: Int = 1,
                            maxBroadcast: Long = MaxBroadcastNgrams): DataFrame =
    reportHashPrefilteredManaged(corpus, benchmark, idCol, textCol, w,
      minShared, maxBroadcast)._1

  /** [[reportHashPrefiltered]] plus the cache-lifecycle handle. */
  def reportHashPrefilteredManaged(corpus: DataFrame, benchmark: DataFrame,
                                   idCol: String, textCol: String,
                                   w: Int = 5, minShared: Int = 1,
                                   maxBroadcast: Long = MaxBroadcastNgrams)
      : (DataFrame, () => Unit) = {
    require(w > 0 && minShared > 0,
      s"w/minShared must be positive, got ($w, $minShared)")
    // persisted once, read twice: the hash-set build and the exact verify
    val (bench, n, cleanup) =
      benchNgramsManaged(benchmark, textCol, w, maxBroadcast)
    val benchHashes = bench.select(xxhash64(col("sg")).as("__h")).distinct()
    // gate on the HASH set's bytes, not the string row gate: 8 bytes/row
    // vs ~40 for a 5-gram string → HashBudgetFactor more rows fit the
    // same broadcast budget. In the target regime (n > maxBroadcast, so
    // the strings must shuffle) the hash set still broadcasts until
    // n > 5× the gate.
    val gatedHashes =
      if (n <= maxBroadcast * HashBudgetFactor) broadcast(benchHashes)
      else benchHashes
    val corpusSg = corpus.select(col(idCol).as("doc_id"),
      explode(GraftFunctions.word_shingles(col(textCol), w)).as("sg"))
    val survivors = corpusSg.join(gatedHashes,
      xxhash64(col("sg")) === col("__h"), "left_semi")
    val out = survivors
      .join(bench, "sg")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    (out, cleanup)
  }

  /** Decontaminated corpus: drop every doc flagged by [[report]]. The
    * anti-join's right side is per-doc ids (≤ corpus row count, usually
    * far smaller) — left to AQE to broadcast when it fits. One-shot
    * convenience over [[cleanManaged]] — leaves the internal benchmark
    * n-gram cache to LRU eviction; long-lived sessions running repeated
    * passes should use the managed variant. */
  def clean(corpus: DataFrame, benchmark: DataFrame, idCol: String,
            textCol: String, w: Int = 5, minShared: Int = 1,
            maxBroadcast: Long = MaxBroadcastNgrams): DataFrame =
    cleanManaged(corpus, benchmark, idCol, textCol, w, minShared,
      maxBroadcast)._1

  /** [[clean]] plus the cache-lifecycle handle: (plan, cleanup). Invoke
    * cleanup after the anti-join output is materialized. */
  def cleanManaged(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                   textCol: String, w: Int = 5, minShared: Int = 1,
                   maxBroadcast: Long = MaxBroadcastNgrams)
      : (DataFrame, () => Unit) = {
    val (rep, cleanup) = reportManaged(corpus, benchmark, idCol, textCol,
      w, minShared, maxBroadcast)
    (corpus.join(rep.select(col("doc_id").as("__contaminated_id")),
      col(idCol) === col("__contaminated_id"), "left_anti"), cleanup)
  }

  /** SURGICAL decontamination: instead of dropping whole contaminated
    * documents ([[clean]]), excise exactly the benchmark-colliding
    * w-gram spans and keep the rest of each document — the span-removal
    * posture (the FLAN/eval-leak variant of Lee et al.'s ExactSubstr
    * cut) for corpora where whole-doc drops waste too much clean text.
    *
    * Flagging rule: a span-start occurrence (doc, pos) is flagged when
    * its w-gram appears ANYWHERE in the benchmark (positional
    * `word_ngrams` on the corpus side — every occurrence, not the
    * per-doc-distinct set the report counts). The benchmark side is the
    * same size-gated broadcast distinct-n-gram set as [[report]]; the
    * covered-run merge / reassembly is [[Dedup.cutFlaggedSpans]].
    * Returns one row per corpus doc (untouched docs included, cut_frac
    * 0) — the write-back shape a curation pipeline wants. */
  def cutContaminated(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                      textCol: String, w: Int = 5,
                      maxBroadcast: Long = MaxBroadcastNgrams): DataFrame =
    cutContaminatedManaged(corpus, benchmark, idCol, textCol, w,
      maxBroadcast)._1

  /** [[cutContaminated]] plus the cache-lifecycle handle: (plan,
    * cleanup). Invoke cleanup after the cut output is materialized. */
  def cutContaminatedManaged(corpus: DataFrame, benchmark: DataFrame,
                             idCol: String, textCol: String, w: Int = 5,
                             maxBroadcast: Long = MaxBroadcastNgrams)
      : (DataFrame, () => Unit) = {
    require(w > 0, s"w must be positive, got $w")
    val base = corpus.select(col(idCol).as("doc_id"),
      coalesce(col(textCol), lit("")).as("text"))
    val (bench, _, cleanup) =
      benchNgramsManaged(benchmark, textCol, w, maxBroadcast)
    val flagged = base.select(col("doc_id"),
        posexplode(GraftFunctions.word_ngrams(col("text"), w))
          .as(Seq("pos", "sg")))
      .join(bench, Seq("sg"), "left_semi")
      .select("doc_id", "pos")
    (Dedup.cutFlaggedSpans(base, flagged, w), cleanup)
  }
}
