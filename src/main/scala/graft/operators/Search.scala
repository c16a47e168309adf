package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 keyword retrieval over a document corpus — the ranked-search
  * primitive a curation pipeline uses to inspect a corpus ("show me the
  * docs about X"), mine domain subsets, or audit decontamination misses
  * (Robertson & Zaragoza 2009, "The Probabilistic Relevance Framework:
  * BM25 and Beyond"; the idf form is Lucene's non-negative variant
  * ln(1 + (N - df + 0.5)/(df + 0.5))).
  *
  * Fully declarative — NO driver-side statistics probe: corpus size and
  * total token mass ride along as a broadcast 1-row aggregate, the query
  * term set is a literal `isin` pushed into the scan-side explode (every
  * non-matching token dies before any shuffle), per-(doc, term)
  * frequencies and the per-term document frequencies are partial
  * aggregations over the matching rows only, and the final top-k is
  * sort+limit (TakeOrderedAndProject — no full sort). Per-doc scores sum
  * as DECIMAL(28,6) (repo exact-sum discipline) so ranking is bit-stable
  * under any partitioning; the emitted/ordering score is rounded to 4dp
  * with doc_id as the total-order tiebreak.
  *
  * The reference has no search surface; this is part of the
  * beyond-reference training-pipeline family.
  */
object Search {

  private val Dec = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 6)

  /** Top-k BM25 matches for `terms`: (idCol, score, n_terms_hit).
    * Scores rounded 4dp; ties resolve by ascending id. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k: Int = 10,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && k > 0, "need at least one term and k > 0")
    val base = docs.select(col(idCol).as("doc_id"),
      split(coalesce(col(textCol), lit("")), " ").as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("dl"))
    // corpus stats as a broadcast 1-row relation: dl is an integer token
    // count, so the sum is exact (no fp-order concerns). The attach
    // plans as BroadcastNestedLoopJoin with IdentityBroadcastMode over
    // the single aggregate row — Spark's canonical scalar-attach shape
    // (1×n, linear; the "no BNLJ" plan smell applies to PAIR generation,
    // not scalar attaches).
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(col("dl").cast("long")).as("tot_dl"))
    // scan-side term filter: only query-term occurrences survive the scan
    val tf = base.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
    // one row per (doc, term) above → count(*) per term = document freq;
    // at most |terms| rows — always broadcast
    val dfRel = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1)
    val norm = col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") /
      (col("tot_dl").cast("double") / col("n_docs")))
    val termScore = idf * col("tf") * lit(k1 + 1) / norm
    tf.join(broadcast(dfRel), "tok")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), termScore.as("s"))
      .groupBy("doc_id")
      .agg(round(sum(col("s").cast(Dec)).cast("double"), 4).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-group characteristic keywords — class-based TF-IDF (the c-TF-IDF
    * shape BERTopic popularized for labeling clusters/sources): treat each
    * group's concatenated text as one document, score each (group, term)
    * by tf · ln(1 + |groups| / df) with df = how many groups contain the
    * term, keep the top `k` terms per group. The corpus-exploration
    * report a curation pipeline prints per source/cluster.
    *
    * Shape: one scan-side explode → partial-aggregated (group, term)
    * counts; df is a second partial agg over those GROUPED rows (vocab-
    * sized, shuffle equi-join — not broadcast: a 100 TB vocabulary
    * doesn't fit a broadcast); |groups| rides as a broadcast 1-row agg;
    * top-k per group is one window over the (group, term) rows — the
    * q_topk_per_group shape. ln of a ratio of integers + one multiply:
    * bit-identical across engines (same discipline as BM25's idf). */
  def tfidfKeywords(docs: DataFrame, groupCol: String, textCol: String,
                    k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val tf = docs.select(col(groupCol).as("grp"),
        explode(split(coalesce(col(textCol), lit("")), " ")).as("tok"))
      .groupBy("grp", "tok").agg(count(lit(1)).as("tf"))
    val nGroups = docs.select(countDistinct(col(groupCol)).as("n_groups"))
    val dfRel = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val score = col("tf") * log(lit(1.0) +
      col("n_groups").cast("double") / col("df"))
    val w = Window.partitionBy("grp")
      .orderBy(col("__s").desc, col("tok"))
    tf.join(dfRel, "tok")
      .crossJoin(broadcast(nGroups))
      .withColumn("__s", score)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("grp").as(groupCol), col("tok"), col("tf"),
        round(col("__s"), 6).as("tfidf"), col("rk"))
  }

  /** Hybrid lexical+semantic retrieval via reciprocal-rank fusion
    * (Cormack, Clarke & Büttcher 2009: rrf(d) = Σ 1/(rrfK + rank_d)) —
    * the standard way to combine BM25 and embedding rankings without
    * score calibration, and the retrieval shape a training-data pipeline
    * uses to mine topic subsets (keyword precision + semantic recall).
    *
    * Shape: each ranker produces its own top-`poolSize` pool exactly as
    * it would standalone ([[bm25]] unchanged; brute-force cosine against
    * ONE broadcast query vector — swap in the IVF/PQ candidate path at
    * corpus scale), so the expensive work stays in the rankers; fusion
    * is a full-outer equi-join of two ≤poolSize relations + one fixed
    * double-op sequence (1/(K+r) additions are single correctly-rounded
    * IEEE ops — DuckDB reproduces the fused order bit-for-bit). Docs
    * missing from a pool contribute 0 from that ranker. Output:
    * (doc_id, rrf 6dp, lex_rank, sem_rank nullable), top-k by
    * (rrf desc, doc_id). */
  def hybridRrf(docs: DataFrame, docId: String, textCol: String,
                emb: DataFrame, vecId: String, vecCol: String,
                terms: Seq[String], queryVecId: Long,
                k: Int = 10, poolSize: Int = 50,
                rrfK: Int = 60): DataFrame = {
    require(poolSize >= k && rrfK > 0, "need poolSize >= k and rrfK > 0")
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.GraftFunctions.vec_dot(a, b)
    // both pool windows rank ≤ poolSize rows AFTER their limit — bounded
    // single-partition sorts, not data-sized ones
    val lex = bm25(docs, docId, textCol, terms, poolSize)
      .select(col("doc_id"), col("score"))
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select("doc_id", "lex_rank")
    val e = emb.select(col(vecId).as("doc_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = e.filter(col("doc_id") === queryVecId)
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    val sem = e.crossJoin(broadcast(q))
      .select(col("doc_id"),
        (dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(poolSize)
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(col("cos").desc, col("doc_id"))))
      .select("doc_id", "sem_rank")
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("__rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK) + col("sem_rank")), lit(0.0)))
      .orderBy(col("__rrf").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), round(col("__rrf"), 6).as("rrf"),
        col("lex_rank"), col("sem_rank"))
  }

  /** Positional PHRASE search — exact adjacent-term match ("fast table"
    * as consecutive tokens, not two AND'd terms), the positional-postings
    * half of a lexical index that [[bm25]]'s bag-of-words scoring can't
    * express. Shape: each phrase term's postings are SHIFTED to the
    * phrase-start position they would imply (term i at token p starts a
    * phrase at p − i), and a phrase occurrence is the INTERSECTION of
    * all m shifted posting lists — m−1 equi-joins on (doc, start).
    *
    * Scale posture: the `isin` term filter kills non-phrase tokens ON
    * THE SCAN (postings for a 3-term phrase are a sliver of the token
    * stream), so the joins shuffle only matching-term (doc, pos) longs;
    * no window, no per-doc sort; count = partial-agg groupBy. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, s"need a multi-term phrase, got $phrase")
    val postings = docs.select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), " "))
          .as(Seq("pos", "term")))
      .filter(col("term").isin(phrase: _*))
    var acc = postings.filter(col("term") === phrase.head)
      .select(col(idCol), col("pos"))
    for (i <- 1 until phrase.size) {
      val shifted = postings.filter(col("term") === phrase(i))
        .select(col(idCol), (col("pos") - i).as("pos"))
      acc = acc.join(shifted, Seq(idCol, "pos"))
    }
    acc.groupBy(col(idCol)).agg(count(lit(1)).as("n_matches"))
  }
}
