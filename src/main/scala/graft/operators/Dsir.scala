package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Data Selection via Importance Resampling (Xie et al. 2023, DSIR):
  * score every raw document by how target-like its hashed-n-gram bag is.
  * The importance estimator is two bag-of-hashed-ngrams multinomials —
  * p_target fit on the docs the caller marks as target (a trusted
  * high-quality slice), p_raw on the rest — and a doc's log importance
  * weight is the sum over its n-gram occurrences of
  * log p_target(bucket) − log p_raw(bucket), Laplace-smoothed.
  *
  * The reference has no data-selection surface (it pages rows,
  * base.py:1472); this is the §2.2 pipeline family's curation-by-target
  * shape: the standard way a 100 TB crawl is skewed toward a quality
  * domain before training.
  *
  * Cross-engine feature hashing: buckets are the first two hex chars of
  * `md5(ngram)` — 256 string-keyed buckets with no hex→int conversion,
  * reproducible verbatim in the DuckDB oracle (same trick as the
  * md5-threshold samplers, Sampling.scala:17).
  *
  * Scale posture: features (unigrams + bigrams) come from one scan-side
  * explode of two native codegen arrays — `word_ngrams` keeps duplicate
  * n-grams, the multiplicity a counting model needs (vs the distinct
  * `word_shingles` LSH wants) — so there is NO per-doc window/sort
  * anywhere. The model is one partial-agg groupBy onto 256 rows (both
  * multinomials in a single pass over the feature stream: conditional
  * sums on the target flag); scoring broadcast-joins that bounded
  * λ-table back onto the same feature stream and partial-aggregates
  * per-doc sums. Two scans of the corpus total (fit, then score) — the
  * canonical shape: a 1000-executor run shuffles 256 rows for the model
  * and one partially-aggregated row per (doc, task) for the scores.
  * Per-occurrence λ terms are cast DECIMAL(28,6) before summing so the
  * per-doc sum is partition-order-proof (exact-sum discipline). */
object Dsir {

  /** Hashed-bucket count: 256 via the leading 2 hex chars of md5. */
  val Buckets = 256

  private def featStream(docs: DataFrame, idCol: String, textCol: String,
                         isTarget: Column): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    docs
      .select(col(idCol).as("doc_id"), isTarget.as("is_tgt"),
        explode(concat(TextOps.tokens(t), GraftFunctions.word_ngrams(t, 2)))
          .as("feat"))
      .withColumn("b", substring(md5(col("feat")), 1, 2))
  }

  /** The per-bucket λ table with its totals attached: (b, lam, tgt_tot,
    * raw_tot). Both multinomials in ONE pass: conditional partial-agg
    * sums onto 256 rows; totals via a window over the GROUPED rows
    * (bounded at |buckets| rows regardless of corpus size —
    * mixtureWeights pattern). */
  private def lambdaFrame(feats: DataFrame, alpha: Double): DataFrame = {
    val w = Window.partitionBy()
    feats
      .groupBy("b")
      .agg(sum(when(col("is_tgt"), 1L).otherwise(0L)).as("tgt_c"),
        sum(when(!col("is_tgt"), 1L).otherwise(0L)).as("raw_c"))
      .withColumn("tgt_tot", sum(col("tgt_c")).over(w))
      .withColumn("raw_tot", sum(col("raw_c")).over(w))
      .withColumn("lam",
        log((col("tgt_c") + alpha) / (col("tgt_tot") + alpha * Buckets)) -
          log((col("raw_c") + alpha) / (col("raw_tot") + alpha * Buckets)))
  }

  /** The FROZEN λ snapshot for scan-side re-scoring (`dsir_score`
    * Expression; streaming admission via EventStreams.dsirStream): all
    * 256 buckets' λ as 6-decimal micros, indexed by bucket byte.
    * Buckets the training corpus never hashed into get the zero-count λ
    * (a NEW stream n-gram must score like any other unseen feature, not
    * 0). Rounding to micros here uses the same shortest-repr HALF_UP
    * path as the batch op's DECIMAL(28,6) cast, so scores from the
    * snapshot match the batch weights bit-for-bit (spec-asserted). The
    * collect is the legitimately-bounded codebook shape: 256 rows. */
  def lambdaSnapshotMicros(docs: DataFrame, idCol: String, textCol: String,
                           isTarget: Column,
                           alpha: Double = 1.0): Array[Long] = {
    val rows = lambdaFrame(featStream(docs, idCol, textCol, isTarget), alpha)
      .select("b", "lam", "tgt_tot", "raw_tot").collect()
    def micros(d: Double): Long =
      java.math.BigDecimal.valueOf(d)
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .movePointRight(6).longValueExact()
    val out = Array.fill(256) {
      if (rows.isEmpty) 0L
      else {
        val (tgtTot, rawTot) =
          (rows.head.getAs[Long]("tgt_tot"), rows.head.getAs[Long]("raw_tot"))
        micros(math.log(alpha / (tgtTot + alpha * Buckets)) -
          math.log(alpha / (rawTot + alpha * Buckets)))
      }
    }
    rows.foreach { r =>
      out(Integer.parseInt(r.getAs[String]("b"), 16)) =
        micros(r.getAs[Double]("lam"))
    }
    out
  }

  /** Per-doc DSIR log importance weights: (doc_id, is_target, n_feats,
    * log_weight). `isTarget` marks the trusted slice (e.g.
    * `col("source") === "wiki"`); every doc is scored, so callers can
    * sanity-check that the target slice itself ranks high. `alpha` is
    * the Laplace pseudo-count. */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
                        isTarget: Column, alpha: Double = 1.0): DataFrame = {
    val feats = featStream(docs, idCol, textCol, isTarget)
    val lam = lambdaFrame(feats, alpha).select("b", "lam")
    feats
      .join(broadcast(lam), "b")
      .groupBy("doc_id")
      .agg(max(col("is_tgt")).as("is_target"),
        count(lit(1)).as("n_feats"),
        // emitted at the sum's own 6-decimal precision, NOT re-rounded:
        // the decimal sum terminates at 6 decimals, so a coarser
        // half-up round would sit exactly ON half boundaries where
        // decimal-string (Spark) and binary-double (DuckDB) rounding
        // legitimately disagree — the exact sum is identical on both
        sum(col("lam").cast("decimal(28,6)")).cast("double")
          .as("log_weight"))
  }

  /** The SELECT step of DSIR — Gumbel-top-k importance resampling
    * (Vieira 2014 / Kool et al. 2019: the k largest log wᵢ + Gᵢ are a
    * without-replacement sample ∝ wᵢ): each doc perturbs its log weight
    * with a DETERMINISTIC Gumbel draw, Gᵢ = −ln(−ln(Uᵢ)), where Uᵢ is
    * the md5(seed|id) hash key's leading 8 hex chars mapped to
    * (0,1) — the same pure-function-of-(seed,id) discipline as the
    * md5-threshold samplers, so the selection is rerun/partition/
    * ingestion-stable and a restarted job admits exactly the same docs.
    *
    * Scale posture: the Gumbel perturbation is a scan-side projection
    * over [[importanceWeights]]' output; selection is orderBy+limit —
    * Spark plans TakeOrderedAndProject (per-partition top-k, then a
    * k-row driver merge), never a global sort. */
  def resampleTopK(docs: DataFrame, idCol: String, textCol: String,
                   isTarget: Column, k: Int, seed: String = "g42",
                   alpha: Double = 1.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = importanceWeights(docs, idCol, textCol, isTarget, alpha)
    val key = md5(concat(lit(seed + "|"), col("doc_id").cast("string")))
    // 32 uniform bits; +0.5 centers so U is never 0 or 1 (ln-safe)
    val v = conv(substring(key, 1, 8), 16, 10).cast("long")
    val u = (v.cast("double") + 0.5) / 4294967296.0
    w.withColumn("score", col("log_weight") + (-log(-log(u))))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }
}
