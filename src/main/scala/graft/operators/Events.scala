package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.exact_percentile

/** Batch analogs of the streaming event operators (SURVEY.md §2.2/2.3):
  * tumbling-window aggregation and gap-based sessionization. The streaming
  * versions live in graft.streaming.EventStreams; these batch shapes are
  * what the DuckDB oracle can check.
  */
object Events {

  private val Dec = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 6)

  /** Tumbling-window aggregate via Spark's `window()` — counts and an
    * exact-decimal value sum per (window, event_type). Partial aggregation
    * combines map-side before the single shuffle on (window, type). */
  def tumblingAgg(events: DataFrame, ts: String, typeCol: String,
                  valueCol: String, width: String): DataFrame =
    events.groupBy(window(col(ts), width), col(typeCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol).cast(Dec)).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col(typeCol), col("n_events"), col("sum_value"))

  /** HOPPING (sliding) window aggregate — tumbling's overlapping twin:
    * counts and exact-decimal sums per (window, event_type) for windows
    * of `width` starting every `slide`. Spark's `window()` emits each
    * event into width/slide windows scan-side (a bounded generate, no
    * self-join); the aggregation partial-combines map-side exactly like
    * [[tumblingAgg]] — one shuffle of (window, type) grouped rows. The
    * dashboard shape for "hourly stats refreshed every 15 min". */
  def hoppingAgg(events: DataFrame, ts: String, typeCol: String,
                 valueCol: String, width: String, slide: String): DataFrame =
    events.groupBy(window(col(ts), width, slide), col(typeCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol).cast(Dec)).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col(typeCol), col("n_events"), col("sum_value"))

  /** Equi-width histogram of `valueCol` per `typeCol` group: `nbins`
    * buckets over [lo, hi), out-of-range values clamped into the edge
    * buckets (the monitoring convention — a spike off the charts still
    * shows at the edge). Bucket assignment is scan-side integer math on
    * the raw double (floor((v−lo)/binWidth), one correctly-rounded IEEE
    * op sequence — deterministic across engines); ONE partial-agg
    * groupBy shuffles at most |types|·nbins grouped rows regardless of
    * corpus size. Empty buckets are absent (a dense axis is a bounded
    * client-side concern, not a cluster job). */
  def histogram(events: DataFrame, typeCol: String, valueCol: String,
                lo: Double, hi: Double, nbins: Int): DataFrame = {
    require(nbins >= 1 && hi > lo,
      s"need nbins >= 1 and hi > lo, got ($nbins, [$lo, $hi))")
    val binWidth = (hi - lo) / nbins
    val raw = floor((col(valueCol) - lo) / binWidth).cast("long")
    val bucket = least(greatest(raw, lit(0L)), lit(nbins - 1L))
    events.groupBy(col(typeCol), bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast(Dec)).cast("double").as("sum_value"))
      .withColumn("bin_lo", lit(lo) + col("bucket") * binWidth)
      .orderBy(typeCol, "bucket")
  }

  /** Trailing time-range rolling aggregate: for every event, the count and
    * exact-decimal sum of `valueCol` over the SAME USER's events in the
    * last `windowSeconds` (inclusive of the current event and of peers at
    * the exact same timestamp — RANGE frame semantics, identical on Spark
    * and DuckDB). One shuffle on `userCol`; within a partition the frame
    * is a sliding two-pointer pass over the time-sorted events, so cost is
    * linear per user regardless of window width. The frame key is epoch
    * MICROSECONDS (integer) — a double epoch would lose sub-second events
    * to rounding at large timestamps. */
  def rolling(events: DataFrame, userCol: String, ts: String,
              valueCol: String, windowSeconds: Long,
              idCol: String = "event_id"): DataFrame = {
    require(windowSeconds > 0, s"windowSeconds must be positive, got $windowSeconds")
    val us = unix_micros(col(ts))
    val w = Window.partitionBy(col(userCol)).orderBy(us)
      .rangeBetween(-windowSeconds * 1000000L, Window.currentRow)
    events.select(col(idCol), col(userCol),
      count(lit(1)).over(w).as("n_win"),
      sum(col(valueCol).cast(Dec)).over(w).cast("double").as("sum_win"))
  }

  /** Per-user inter-event deltas: gap to the previous event (microseconds,
    * integer-exact) and the previous event's id — the lead/lag layer under
    * funnels, retention and dwell-time analyses. Single shuffle on
    * `userCol`; first event of a user has null gap/prev. */
  def deltas(events: DataFrame, userCol: String, ts: String,
             tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(ts), col(tieBreak))
    events.select(col(tieBreak), col(userCol),
      (unix_micros(col(ts)) - unix_micros(lag(col(ts), 1).over(w))).as("gap_us"),
      lag(col(tieBreak), 1).over(w).as("prev_event_id"))
  }

  /** Two-step funnel conversion: per user, the FIRST `stepA` event and
    * the first `stepB` event AT OR AFTER it; `converted` iff that B lands
    * within `windowSeconds` of A. Shape: one conditional aggregation for
    * the A anchor (min over a filtered column — partial-agg, no window),
    * then B events join the broadcast-able per-user anchor and a second
    * conditional min picks the earliest qualifying B. Two shuffles on
    * user_id total, both partial-aggregated; never a per-user event sort.
    * Users with no A event are absent (they aren't in the funnel). */
  def funnel(events: DataFrame, userCol: String, ts: String,
             typeCol: String, stepA: String, stepB: String,
             windowSeconds: Long): DataFrame = {
    val anchors = events.filter(col(typeCol) === stepA)
      .groupBy(col(userCol)).agg(min(col(ts)).as("a_ts"))
    val bAfter = events.filter(col(typeCol) === stepB)
      .join(anchors, userCol)
      .filter(col(ts) >= col("a_ts"))
      .groupBy(col(userCol)).agg(min(col(ts)).as("b_ts_min"))
    anchors.join(bAfter, Seq(userCol), "left")
      .select(col(userCol),
        date_format(col("a_ts"), "yyyy-MM-dd HH:mm:ss").as("a_ts_s"),
        date_format(col("b_ts_min"), "yyyy-MM-dd HH:mm:ss").as("b_ts_s"),
        (col("b_ts_min").isNotNull &&
          unix_micros(col("b_ts_min")) - unix_micros(col("a_ts"))
            <= windowSeconds * 1000000L).as("converted"))
  }

  /** k-step ordered funnel — the general form of [[funnel]]: the user
    * must hit `steps(0)`, then `steps(1)` at-or-after it, … through
    * `steps(k-1)`, with the whole chain completing within
    * `windowSeconds` of the anchor. Semantics are the greedy
    * earliest-completion chain (anchor = FIRST step-1 event; stage i =
    * first step-i event at-or-after stage i-1) — the standard funnel
    * reading, and the one reproducible as k-1 conditional-min
    * aggregations.
    *
    * Scale posture: each stage is one filter + equi-join + partial-agg
    * min on the user key — k-1 bounded shuffles of (user, ts) rows,
    * never a per-user event sort; a hot user costs map-side combine,
    * not a window partition. Output: one row per user who hit the
    * anchor, formatted stage timestamps, the furthest stage reached,
    * and the conversion flag. */
  def funnelSteps(events: DataFrame, userCol: String, ts: String,
                  typeCol: String, steps: Seq[String],
                  windowSeconds: Long): DataFrame = {
    require(steps.size >= 2, s"need >= 2 steps, got ${steps.size}")
    require(steps.distinct.size == steps.size, s"steps must be distinct: $steps")
    val k = steps.size
    var acc = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(ts)).as("ts_1"))
    for (i <- 2 to k) {
      val prev = s"ts_${i - 1}"
      val nxt = events.filter(col(typeCol) === steps(i - 1))
        .join(acc.select(col(userCol), col(prev)), userCol)
        .filter(col(ts) >= col(prev))
        .groupBy(col(userCol)).agg(min(col(ts)).as(s"ts_$i"))
      acc = acc.join(nxt, Seq(userCol), "left")
    }
    // the chain is monotone (stage i needs stage i-1), so the furthest
    // stage is 1 + the count of later non-null stage timestamps
    val nStages = (2 to k).map(i =>
      when(col(s"ts_$i").isNotNull, 1).otherwise(0))
      .foldLeft(lit(1))(_ + _)
    val stageCols = (1 to k).map(i =>
      date_format(col(s"ts_$i"), "yyyy-MM-dd HH:mm:ss").as(s"ts_${i}_s"))
    acc.select(col(userCol) +: stageCols :+
      nStages.as("n_stages") :+
      (col(s"ts_$k").isNotNull &&
        unix_micros(col(s"ts_$k")) - unix_micros(col("ts_1"))
          <= windowSeconds * 1000000L).as("converted"): _*)
  }

  /** Retention cohort matrix: users cohorted by the DAY of their first
    * event; each (cohort_day, day_offset) cell counts the cohort's users
    * active that many days later. Two aggregations (first-event per user,
    * then distinct user-day activity joined to the cohort) — the
    * classic triangle retention report, all partial-aggregated. */
  def retentionCohorts(events: DataFrame, userCol: String,
                       ts: String): DataFrame = {
    val firstDay = events.groupBy(col(userCol))
      .agg(to_date(min(col(ts))).as("cohort_day"))
    val activity = events
      .select(col(userCol), to_date(col(ts)).as("day")).distinct()
    activity.join(firstDay, userCol)
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Exponentially-decayed (time-weighted) aggregates per type — the
    * trending-score primitive: recent events count ~1, events a
    * half-life ago count ½. The reference instant is the corpus max(ts)
    * (a deterministic 1-row agg broadcast back — never wall-clock
    * "now", which no oracle could reproduce); ages are integer epoch
    * MICROS turned into seconds by one exact double division, the
    * decay weight is exp(−λ·age) with λ = ln2/halfLife precomputed ON
    * THE DRIVER and planted as one double literal (computing ln(2) on
    * each engine risks a last-ulp split), and every per-event term is
    * quantized DECIMAL(28,6) before summing (the Dsir discipline) so
    * the totals are bit-stable under any partitioning and reproducible
    * in SQL. ONE partial-agg groupBy — |types| grouped rows shuffle. */
  def decayedAgg(events: DataFrame, typeCol: String, ts: String,
                 valueCol: String, halfLifeSeconds: Double): DataFrame = {
    require(halfLifeSeconds > 0,
      s"halfLifeSeconds must be positive, got $halfLifeSeconds")
    val lambda = math.log(2.0) / halfLifeSeconds
    val ref = events.agg(max(unix_micros(col(ts))).as("__ref_us"))
    val age = (col("__ref_us") - unix_micros(col(ts))).cast("double") / 1e6
    val wgt = exp(lit(-lambda) * age)
    events.crossJoin(broadcast(ref))
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n"),
        sum(wgt.cast(Dec)).cast("double").as("decayed_n"),
        sum((col(valueCol) * wgt).cast(Dec)).cast("double").as("decayed_sum"))
      .orderBy(typeCol)
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * (prev_type, next_type, n, p) where p = n / Σ_next n — the
    * what-happens-after report (and the input to next-event prediction
    * / funnel discovery). One lag window per user (single shuffle,
    * user-bounded partitions — the [[deltas]] layer), then a partial-agg
    * count onto |types|² rows; the row-probability normalizer is a
    * window over the GROUPED rows (cardinality-bounded, the
    * mixtureWeights pattern). A user's first event has no predecessor
    * and is excluded (no null-state row). p is int/int double division
    * rounded 6dp on both engines. */
  def transitions(events: DataFrame, userCol: String, ts: String,
                  typeCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(ts), col(tieBreak))
    events
      .select(col(typeCol).as("next_type"),
        lag(col(typeCol), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n") /
        sum(col("n")).over(Window.partitionBy(col("prev_type"))), 6))
      .orderBy("prev_type", "next_type")
  }

  /** Z-score anomaly flags: events whose value deviates more than
    * `threshold` standard deviations from their TYPE's mean. The per-type
    * mean/std come from exact DECIMAL sufficient statistics (Σv, Σv² —
    * order-independent partial aggs, so the flags are bit-stable under
    * any partitioning, unlike a running-moments stddev), broadcast back
    * onto the scan; the z computation is one fixed double-op sequence.
    * Population std (÷n) — the monitoring convention. */
  def anomalies(events: DataFrame, typeCol: String, valueCol: String,
                idCol: String, threshold: Double): DataFrame = {
    val D = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 6)
    val stats = events.groupBy(col(typeCol))
      .agg(count(lit(1)).as("__n"),
        sum(col(valueCol).cast(D)).cast("double").as("__s"),
        sum((col(valueCol) * col(valueCol)).cast(D)).cast("double").as("__ss"))
      // variance clamped at 0 before the root: ss/n - (s/n)^2 can round
      // to a tiny NEGATIVE for (near-)constant groups after the decimal →
      // double casts; sqrt(negative) would be a NaN std, which PASSES the
      // =!= 0.0 guard below and (via Spark's NaN-greater-than-everything
      // ordering) spuriously flags the whole group. Clamped, degenerate
      // groups get std exactly 0.0 and flag nothing.
      .select(col(typeCol), (col("__s") / col("__n")).as("__mean"),
        sqrt(greatest(col("__ss") / col("__n") -
          (col("__s") / col("__n")) * (col("__s") / col("__n")),
          lit(0.0))).as("__std"))
    events.join(broadcast(stats), typeCol)
      // zero-variance groups flag NOTHING: the null z falls out of the
      // threshold filter (ANSI mode would otherwise throw on the /0;
      // DuckDB's NaN comparisons are false — same observable semantics)
      .withColumn("z", when(col("__std") =!= 0.0,
        (col(valueCol) - col("__mean")) / col("__std")))
      .filter(abs(col("z")) > threshold)
      .select(col(idCol), col(typeCol), col(valueCol), round(col("z"), 6).as("z"))
  }

  /** Robust outlier flags: modified z-score over (median, MAD) —
    * Iglewicz & Hoaglin 1993. The mean/std gate of [[anomalies]] has a
    * masking problem: a few extreme values inflate the std they are
    * judged against; median and median-absolute-deviation have a 50%
    * breakdown point, so contamination cannot hide itself. The robust
    * twin a data-cleaning pass runs next to the z-score gate.
    *
    * Two exact grouped `percentile` passes (the repo's documented
    * exact-quantile anchor, ≡ DuckDB quantile_cont bit-for-bit;
    * approx_percentile is the 100 TB twin — it buffers each group),
    * each broadcast back onto the scan; the z arithmetic is one fixed
    * IEEE op sequence, 1.4826 ≈ 1/Φ⁻¹(3/4) rescales MAD to σ under
    * normality. Zero-MAD groups flag nothing (null z falls out of the
    * threshold filter, same guard as [[anomalies]]). */
  def robustOutliers(events: DataFrame, typeCol: String, valueCol: String,
                     idCol: String, threshold: Double = 3.5): DataFrame = {
    val med = events.groupBy(col(typeCol))
      .agg(exact_percentile(col(valueCol), 0.5).as("__med"))
    val withMed = events.join(broadcast(med), typeCol)
    val mad = withMed.groupBy(col(typeCol))
      .agg(exact_percentile(abs(col(valueCol) - col("__med")), 0.5).as("__mad"))
    withMed.join(broadcast(mad), typeCol)
      .withColumn("z", when(col("__mad") =!= 0.0,
        (col(valueCol) - col("__med")) / (lit(1.4826) * col("__mad"))))
      .filter(abs(col("z")) > threshold)
      .select(col(idCol), col(typeCol), col(valueCol),
        round(col("z"), 6).as("robust_z"))
  }

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous event of the same user exceeds `gapSeconds`. lag + running
    * sum over one window partition per user — a single shuffle on user_id,
    * and AQE handles skewed users. */
  def sessionize(events: DataFrame, userCol: String, ts: String,
                 tieBreak: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(ts), col(tieBreak))
    val gapped = events
      .withColumn("__prev", lag(col(ts), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        unix_micros(col(ts)) - unix_micros(col("__prev")) > gapSeconds * 1000000L,
        1L).otherwise(0L))
      .withColumn("session", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    gapped.groupBy(col(userCol), col("session"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col(ts)), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
        date_format(max(col(ts)), "yyyy-MM-dd HH:mm:ss").as("sess_end"))
      .orderBy(col(userCol), col("session"))
  }

  /** Daily EWMA smoothing per event type (α = ½, pandas
    * ewm(adjust=False) recursion s_d = y_d/2 + s_{d-1}/2) — the
    * monitoring line drawn over the daily aggregates, beside the
    * decayed trends and the OLS drift fit. α is FIXED at ½ on purpose:
    * every weight is then an exact binary power 2^{-k}, so the closed
    * form s_d = Σ_j y_j·2^{-k(j,d)} multiplies by exponent shifts
    * (EXACT in IEEE — no pow(), whose last-ulp behavior differs across
    * libm builds), and the only rounding is the house DECIMAL(28,6)
    * per-term quantization before the order-independent sum.
    *
    * Scale posture: the corpus-scale pass is the daily partial-agg
    * groupBy; the recursion unrolls as a self-join over GROUPED rows —
    * fan bounded at days² per type (a report window, not data) — the
    * mixtureWeights cardinality-bounded discipline. */
  def dailyEwma(events: DataFrame, typeCol: String, ts: String,
                valueCol: String): DataFrame = {
    val daily = events
      .groupBy(col(typeCol), to_date(col(ts)).as("__day"))
      .agg(sum(col(valueCol).cast(Dec)).cast("double").as("__y"),
        count(lit(1)).as("n"))
    val w = Window.partitionBy(col(typeCol)).orderBy(col("__day"))
    val idx = daily.withColumn("__d", row_number().over(w))
    val a = idx.select(col(typeCol), col("__day"), col("n"),
      col("__d").as("__da"))
    val b = idx.select(col(typeCol).as("__tb"), col("__d").as("__j"),
      col("__y").as("__yb"))
    a.join(b, a(typeCol) === col("__tb") && col("__j") <= col("__da"))
      // weight exponent: day 1 keeps 2^-(d-1) (the recursion's seed),
      // day j>1 contributes 2^-(d-j+1)
      .withColumn("__k", when(col("__j") === 1, col("__da") - 1)
        .otherwise(col("__da") - col("__j") + 1))
      // exponent clamp: shiftleft masks the shift amount mod 64
      // (1L<<64 == 1), so once a type's history spans >= 65 active days
      // the oldest terms would silently regain ~full weight. Terms with
      // __k > 62 are DROPPED in both engines (the identical predicate is
      // in the oracle SQL): their weight is <= 2^-63 ≈ 1.1e-19, so for
      // any daily sum bounded by ~1e9 the dropped contribution is below
      // the DECIMAL(28,12) per-term quantum — the clamp is the defined
      // semantics, not an approximation the oracle could disagree on.
      .where(col("__k") <= 62)
      .withColumn("__term", expr(
        "__yb / CAST(shiftleft(CAST(1 AS BIGINT), __k) AS DOUBLE)"))
      .groupBy(col(typeCol), col("__day"), col("n"))
      // scale-12 quantization, NOT the house 6: repeated halving of a
      // ~6dp value terminates one digit past any coarser scale with an
      // exact trailing 5, exactly where Spark's HALF_UP and DuckDB's
      // HALF_EVEN decimal casts disagree; at scale 12 a term either
      // terminates exactly (no rounding) or carries ~17 arbitrary
      // digits (no boundary)
      .agg(sum(col("__term").cast(
        org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)))
        .cast("double").as("__e"))
      .select(col(typeCol),
        date_format(col("__day"), "yyyy-MM-dd").as("day_s"),
        col("n"), round(col("__e"), 6).as("ewma"))
  }

  /** Per-group simple OLS trend fit — slope/intercept/r² of metric vs
    * time (the "is this metric drifting" readout next to the corr and
    * decayed-trend ops; r² = corr², but slope-per-second is what a
    * monitoring page plots). x is seconds since the CORPUS min
    * timestamp (a broadcast 1-row agg — centering keeps Σx² inside the
    * decimal sums' range and is deterministic where per-group mins
    * would couple groups to partition layout... the corpus min is one
    * value both engines agree on).
    *
    * ONE partial-agg pass collects all five sufficient statistics (Σx,
    * Σy, Σxy, Σx², Σy² — each term quantized DECIMAL(28,6) pre-sum, the
    * anomalies/corr discipline); the closed forms are fixed IEEE op
    * sequences the oracle mirrors textually. Degenerate groups
    * (constant x or constant y) yield null slope/intercept/r² via the
    * zero-denominator guards, mirrored. */
  def linregByGroup(events: DataFrame, typeCol: String, ts: String,
                    valueCol: String): DataFrame = {
    val minTs = events.agg(min(unix_micros(col(ts))).as("__t0"))
    val st = events.crossJoin(broadcast(minTs))
      .withColumn("__x",
        (unix_micros(col(ts)) - col("__t0")).cast("double") / 1000000.0)
      .withColumn("__y", col(valueCol).cast("double"))
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast(Dec)).cast("double").as("sx"),
        sum(col("__y").cast(Dec)).cast("double").as("sy"),
        sum((col("__x") * col("__y")).cast(Dec)).cast("double").as("sxy"),
        sum((col("__x") * col("__x")).cast(Dec)).cast("double").as("sxx"),
        sum((col("__y") * col("__y")).cast(Dec)).cast("double").as("syy"))
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    val cv = col("n") * col("sxy") - col("sx") * col("sy")
    st.withColumn("slope", when(dx > 0.0, cv / dx))
      .withColumn("intercept",
        when(dx > 0.0, (col("sy") - cv / dx * col("sx")) / col("n")))
      .withColumn("r2", when(dx > 0.0 && dy > 0.0, cv * cv / (dx * dy)))
      .select(col(typeCol), col("n"), round(col("slope"), 6).as("slope"),
        round(col("intercept"), 6).as("intercept"),
        round(col("r2"), 6).as("r2"))
  }

  /** Last-touch marketing attribution: each conversion event credits the
    * LATEST touch event of the same user at-or-before it within the
    * lookback window; the report is per-channel credited conversions and
    * exact-decimal credited value (plus an `unattributed` row for
    * conversions with no qualifying touch). This is the as-of join worn
    * as a product feature: the heavy lift is [[TemporalJoins.asOfJoin]]
    * backward with tolerance — ONE carry window per user over the
    * unioned stream, never a per-(conversion, touch) pair join — and the
    * report is a |channels|-bounded partial-agg groupBy on top.
    *
    * Determinism: touches are pre-collapsed to one row per (user, ts)
    * with the lexicographically SMALLEST channel (same-instant touches
    * can't make the carry order-dependent); the oracle's native ASOF
    * join sees the identical collapsed relation. */
  def attribution(events: DataFrame, userCol: String, ts: String,
                  typeCol: String, valueCol: String,
                  conversionType: String, touchTypes: Seq[String],
                  lookbackSeconds: Long): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(conversionType),
      s"touch types must be non-empty and exclude the conversion type")
    val conv = events.filter(col(typeCol) === conversionType)
      .select(col(userCol), col(ts), col(valueCol))
    val touches = events.filter(col(typeCol).isin(touchTypes: _*))
      .groupBy(col(userCol), col(ts))
      .agg(min(col(typeCol)).as("channel"))
    TemporalJoins.asOfJoin(conv, touches, userCol, ts, Seq("channel"),
        direction = "backward", toleranceSec = Some(lookbackSeconds))
      .groupBy(coalesce(col("asof_channel"), lit("unattributed"))
        .as("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col(valueCol).cast(Dec)).cast("double").as("credited_value"))
  }

  /** Welch two-sample t-test A/B report over a metric, one row per
    * experiment group — the unequal-variance test (Welch 1947) an
    * experimentation pipeline publishes per metric/surface. Arms are
    * assigned at the UNIT level (user, not event) by the repo's
    * deterministic md5 hash key ([[Sampling.hashKey]] — the
    * q_split_assign discipline), so every event of a unit lands in the
    * same arm and reruns/backfills reproduce the assignment exactly.
    *
    * Scale posture: ONE partial-agg groupBy over the event scan computes
    * both arms' sufficient statistics (n, Σv, Σv² as exact
    * DECIMAL(28,6) sums — the [[anomalies]] discipline: running-moments
    * variance would round by merge order) conditionally in the same
    * pass; everything after is per-group scalar arithmetic on a
    * |groups|-bounded relation. No window, no second scan.
    *
    * Determinism: every derived value is a fixed sequence of
    * correctly-rounded IEEE ops on the decimal-cast sums, mirrored
    * textually in the oracle; `significant` compares the UNROUNDED t.
    * Degenerate guards (both-constant arms → se²=0 → null t; an arm
    * with n<2 → null variance) surface as null t/df and
    * significant=false on both engines. */
  def abtestWithArms(events: DataFrame, typeCol: String, valueCol: String,
                     armCol: String, critical: Double = 1.96): DataFrame = {
    val v = col(valueCol)
    val st = events.groupBy(col(typeCol))
      .agg(count(when(col(armCol) === "A", lit(1))).as("n_a"),
        count(when(col(armCol) === "B", lit(1))).as("n_b"),
        sum(when(col(armCol) === "A", v).cast(Dec)).cast("double").as("__sa"),
        sum(when(col(armCol) === "B", v).cast(Dec)).cast("double").as("__sb"),
        sum(when(col(armCol) === "A", v * v).cast(Dec)).cast("double").as("__ssa"),
        sum(when(col(armCol) === "B", v * v).cast(Dec)).cast("double").as("__ssb"))
    // sample variance (ss - s*s/n)/(n-1), clamped at 0 (the anomalies
    // guard: decimal→double casts can round a constant group's variance
    // to a tiny negative); n<2 arms yield null via the when guard.
    def sampleVar(ss: Column, s: Column, n: Column): Column =
      when(n >= 2, greatest((ss - s * s / n) / (n - lit(1)), lit(0.0)))
    val derived = st
      .withColumn("mean_a", col("__sa") / col("n_a"))
      .withColumn("mean_b", col("__sb") / col("n_b"))
      .withColumn("__va", sampleVar(col("__ssa"), col("__sa"), col("n_a")))
      .withColumn("__vb", sampleVar(col("__ssb"), col("__sb"), col("n_b")))
      .withColumn("__se2", col("__va") / col("n_a") + col("__vb") / col("n_b"))
      .withColumn("__t", when(col("__se2") > 0.0,
        (col("mean_a") - col("mean_b")) / sqrt(col("__se2"))))
      // Welch–Satterthwaite df; the denominator is 0 exactly when se2
      // is, so the same guard covers it
      .withColumn("__df", when(col("__se2") > 0.0,
        col("__se2") * col("__se2") /
          ((col("__va") / col("n_a")) * (col("__va") / col("n_a")) / (col("n_a") - lit(1)) +
           (col("__vb") / col("n_b")) * (col("__vb") / col("n_b")) / (col("n_b") - lit(1)))))
    derived.select(col(typeCol), col("n_a"), col("n_b"),
      round(col("mean_a"), 6).as("mean_a"),
      round(col("mean_b"), 6).as("mean_b"),
      round(col("__t"), 6).as("t_stat"),
      round(col("__df"), 4).as("df"),
      coalesce(abs(col("__t")) > critical, lit(false)).as("significant"))
  }

  /** [[abtestWithArms]] with the deterministic 50/50 hash-arm assignment
    * on `unitCol` (md5 key < 0x8000 → arm A). */
  def abtest(events: DataFrame, typeCol: String, valueCol: String,
             unitCol: String, seed: String = "ab42",
             critical: Double = 1.96): DataFrame = {
    val arm = when(graft.operators.Sampling.hashKey(seed,
      col(unitCol)) < lit("8000"), lit("A")).otherwise(lit("B"))
    abtestWithArms(events.withColumn("__arm", arm), typeCol, valueCol,
      "__arm", critical)
  }
}
