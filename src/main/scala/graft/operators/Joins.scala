package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Join strategies for hostile key distributions at scale (SURVEY.md §4).
  *
  * AQE's skew-join split handles moderate skew automatically; these are
  * the explicit tools for when the planner can't: salting for a fact side
  * with pathological hot keys, and bucketing for repeated co-located
  * fact-fact joins.
  */
object Joins {

  /** Salted equi-join: spread each hot fact key over `salts` shuffle
    * partitions by appending a salt to the join key; the (small) dim side
    * is exploded ×salts so every salted fact row still meets its match.
    * Result set is identical to a plain equi-join — only the shuffle
    * distribution changes. Use when one key holds a double-digit share of
    * the fact table; cost is salts× the dim shuffle size. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                 dimKey: String, salts: Int, how: String = "inner"): DataFrame = {
    require(salts > 0)
    // dim rows exist once per salt copy: an unmatched dim row under a
    // right/full outer join would surface `salts` times — only
    // fact-preserving join types keep the plain-join result set
    require(Set("inner", "left", "leftouter", "leftsemi", "semi", "leftanti", "anti")
      .contains(how.toLowerCase.replace("_", "")),
      s"saltedJoin supports fact-preserving join types only, got '$how'")
    // deterministic spread: hash of the whole fact row modulo salts
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(fact.columns.map(col).toSeq: _*), lit(salts)).cast("int"))
    val explodedDim = dim.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    saltedFact.join(explodedDim,
        saltedFact(factKey) === explodedDim(dimKey) &&
          saltedFact("__salt") === explodedDim("__salt"), how)
      .drop("__salt")
  }

  /** Bloom-filtered semi-join — the selective-join scale pattern (the
    * explicit form of runtime row-level filtering): when the dim side is
    * selective but too large to broadcast as a hash relation, its keys
    * are crushed into a fixed-size Bloom filter (one partial-agg pass,
    * bitwise-OR merge), the filter rides to every fact task as ONE
    * broadcast row, and a native codegen `bloom_contains` probe kills
    * non-matching fact rows AT THE SCAN — before the shuffle. The exact
    * left-semi join then decides the survivors, absorbing the bounded
    * false-positive rate: output PROVABLY equals the plain semi-join
    * (no false negatives by construction), only the shuffled fact bytes
    * change. At 100 TB a 1%-selective dim turns the fact shuffle into
    * ~1% of itself for 16 KB of broadcast state.
    *
    * Keys hash by their canonical string form on both the build and
    * probe side (cast once, scan-side). */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                    dimKey: String, mBits: Int = 1 << 17,
                    kHashes: Int = 5): DataFrame = {
    val bf = dim.agg(graft.functions.BloomSketch.bloom(kHashes, mBits)(
      col(dimKey).cast("string")).as("__bf"))
    fact.crossJoin(broadcast(bf))
      .filter(graft.functions.GraftFunctions.bloom_contains(
        col("__bf"), col(factKey).cast("string"), kHashes))
      .drop("__bf")
      .join(dim.select(col(dimKey).as(factKey)).distinct(),
        Seq(factKey), "left_semi")
  }

  /** Fuzzy (edit-distance) equi-join — the entity-resolution primitive:
    * all (left, right) pairs with levenshtein ≤ `maxDist`, WITHOUT the
    * n·m cross product. Candidate generation is character-q-gram PREFIX
    * FILTERING (Gravano et al. 2001 give the q-gram count bound;
    * Chaudhuri et al. 2006 the prefix principle): d edits create at most
    * d·q new distinct q-gram values, so a matching pair's gram SETS
    * overlap in ≥ max(|A|,|B|) − d·q values, and under any common total
    * order two sets meeting that bound must share one of their
    * (d·q + 1) SMALLEST grams. Ordering by corpus gram frequency
    * (rarest first) makes those prefix grams precisely the most
    * selective ones, so the candidate equi-join fans out on rare grams
    * only. Candidates then verify with the exact levenshtein (plus the
    * |len difference| ≤ d necessary condition) — a superset prefilter +
    * exact verify, so the output PROVABLY equals brute force (the
    * oracle runs brute force; the property spec re-proves it on random
    * perturbations).
    *
    * Strings with ≤ d·q distinct grams (in particular anything shorter
    * than q chars) can meet the edit bound with zero shared grams; both-
    * short pairs go through an explicit short-bucket cross join instead
    * (bounded: at web scale "short" is a tiny fixed-length stratum —
    * names/titles below ~q·(d+1) chars; long×short pairs still ride the
    * prefix join, where the long side's own bound m_long − d·q ≥ 1
    * applies).
    *
    * Scale posture: gram df is ONE partial-aggregated count over the
    * distinct (id, gram) streams; prefix selection is a per-string
    * window (partitions bounded by string length, never by corpus
    * size); the candidate join shuffles (id, 1-3 char gram) pairs —
    * d·q + 1 rows per string — and the verify join fetches the two
    * strings BY ID. No stage touches n·m anything. */
  def fuzzyJoin(left: DataFrame, right: DataFrame,
                leftId: String, leftStr: String,
                rightId: String, rightStr: String,
                maxDist: Int, q: Int = 3): DataFrame = {
    require(maxDist >= 0 && q >= 2,
      s"need maxDist >= 0 and q >= 2, got ($maxDist, $q)")
    import org.apache.spark.sql.expressions.Window
    val prefixLen = maxDist * q + 1
    val l = left.select(col(leftId).as("lid"),
      coalesce(col(leftStr), lit("")).as("ls"))
    val r = right.select(col(rightId).as("rid"),
      coalesce(col(rightStr), lit("")).as("rs"))

    // distinct positional q-grams per string; a pos past len-q+1 drops
    // out (sequence is padded to at least [1] so short strings explode
    // zero rows rather than a descending sequence)
    def grams(df: DataFrame, id: String, s: String): DataFrame =
      df.select(col(id), col(s))
        .withColumn("__p", explode(
          sequence(lit(1), greatest(length(col(s)) - (q - 1), lit(1)))))
        .filter(col("__p") <= length(col(s)) - (q - 1))
        .select(col(id), expr(s"substring($s, __p, $q)").as("g"))
        .distinct()

    val lg = grams(l, "lid", "ls")
    val rg = grams(r, "rid", "rs")
    // common total order: corpus-wide gram frequency over both sides,
    // rarest first (ties by gram value) — one partial-agg count
    val dfreq = lg.select(col("g")).unionAll(rg.select(col("g")))
      .groupBy("g").agg(count(lit(1)).as("__df"))

    def prefix(gr: DataFrame, id: String): DataFrame = {
      val w = Window.partitionBy(col(id)).orderBy(col("__df"), col("g"))
      gr.join(dfreq, "g")
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= prefixLen)
        .select(col(id), col("g"))
    }

    val candidates = prefix(lg, "lid").join(prefix(rg, "rid"), "g")
      .select(col("lid"), col("rid")).distinct()

    // both-short pairs: ≤ d·q distinct grams each (includes len < q)
    def shorts(base: DataFrame, gr: DataFrame, id: String): DataFrame =
      base.join(gr.groupBy(id).agg(count(lit(1)).as("__m")), Seq(id), "left")
        .filter(coalesce(col("__m"), lit(0L)) <= maxDist.toLong * q)
        .select(col(id))
    val shortPairs = shorts(l, lg, "lid").crossJoin(shorts(r, rg, "rid"))

    candidates.unionAll(shortPairs).distinct()
      .join(l, "lid").join(r, "rid")
      // |len diff| ≤ d is necessary for ed ≤ d: prune before the DP
      .filter(abs(length(col("ls")) - length(col("rs"))) <= maxDist)
      .withColumn("dist", levenshtein(col("ls"), col("rs")))
      .filter(col("dist") <= maxDist)
      .select("lid", "rid", "ls", "rs", "dist")
  }

  /** Write both sides bucketed by their join keys so subsequent joins are
    * shuffle-free (bucket-local sort-merge). The 100 TB pattern for a fact
    * table joined repeatedly on the same key — pay one shuffle at write
    * time, none per query. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
}
