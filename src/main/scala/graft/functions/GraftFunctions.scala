package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.types.DoubleType

/** The SQL-text names of graft's native expressions (`minhash_bands(...)`
  * in `spark.sql` or `expr`). Column code needs none of this: the
  * [[GraftFunctions]] handles build their Expressions directly.
  *
  * Installed by `graft.GraftSession.local` (`withExtensions`), by
  * `spark.sql.extensions=graft.functions.GraftExtensions` on a cluster,
  * and by `Table.query` / `Tables.registerViews`, the raw-SQL entry points,
  * through [[GraftFunctions.ensureRegistered]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = GraftExtensions.inject(e)
}

object GraftExtensions {
  private def info(clazz: Class[_], name: String) =
    new ExpressionInfo(clazz.getName, name)

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("rolling_hash"), info(classOf[RollingHash], "rolling_hash"),
        (es: Seq[Expression]) => RollingHash(es.head)),
      (FunctionIdentifier("simhash64"), info(classOf[SimHash64], "simhash64"),
        (es: Seq[Expression]) => SimHash64(es.head)),
      (FunctionIdentifier("simhash_wide"), info(classOf[SimHashWide], "simhash_wide"),
        (es: Seq[Expression]) => SimHashWide(es.head, es(1).eval().asInstanceOf[Int])),
      (FunctionIdentifier("vec_dot"), info(classOf[VecDot], "vec_dot"),
        (es: Seq[Expression]) => VecDot(es.head, es(1))),
      (FunctionIdentifier("ham_xor"), info(classOf[HamXor], "ham_xor"),
        (es: Seq[Expression]) => HamXor(es.head, es(1))),
      (FunctionIdentifier("srp_sketch"), info(classOf[SrpSketch], "srp_sketch"),
        (es: Seq[Expression]) => SrpSketch(es.head,
          es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int],
          es(3).eval() match {
            case i: Int => i.toLong
            case l: Long => l
          })),
      (FunctionIdentifier("minhash_bands"), info(classOf[MinHashBands], "minhash_bands"),
        (es: Seq[Expression]) => MinHashBands(es.head,
          es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int])),
      (FunctionIdentifier("word_shingles"), info(classOf[WordShingles], "word_shingles"),
        (es: Seq[Expression]) => WordShingles(es.head, es(1).eval().asInstanceOf[Int])),
      (FunctionIdentifier("word_ngrams"), info(classOf[WordNgrams], "word_ngrams"),
        (es: Seq[Expression]) => WordNgrams(es.head, es(1).eval().asInstanceOf[Int])),
      // the micros table arrives as a foldable array<bigint> literal,
      // decoded once at resolution (vec_mat_cosines pattern)
      (FunctionIdentifier("dsir_score"), info(classOf[DsirScore], "dsir_score"),
        (es: Seq[Expression]) => DsirScore(es.head, DsirScore.fromLiteral(es(1)))),
      // the NB model arrives as four foldable array literals (vocab,
      // per-token lambda micros, OOV row, priors), decoded once at
      // resolution into the expression's reference-object hash map
      (FunctionIdentifier("nb_scores"), info(classOf[NbScores], "nb_scores"),
        (es: Seq[Expression]) => NbScores(es.head,
          NbScores.fromStringLiteral(es(1)),
          NbScores.fromNestedLongLiteral(es(2)),
          NbScores.fromLongLiteral(es(3)),
          NbScores.fromLongLiteral(es(4)))),
      (FunctionIdentifier("fnv1a64"), info(classOf[Fnv1a64Col], "fnv1a64"),
        (es: Seq[Expression]) => Fnv1a64Col(es.head,
          es(1).eval().asInstanceOf[Long])),
      (FunctionIdentifier("word_chunks"), info(classOf[WordChunks], "word_chunks"),
        (es: Seq[Expression]) => WordChunks(es.head,
          es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int])),
      (FunctionIdentifier("nfc_normalize"), info(classOf[NfcNormalize], "nfc_normalize"),
        (es: Seq[Expression]) => NfcNormalize(es.head)),
      // the codebook argument is a foldable nested-array literal, decoded
      // ONCE at resolution into the expression's reference-object matrix
      (FunctionIdentifier("vec_mat_cosines"), info(classOf[VecMatCosines], "vec_mat_cosines"),
        (es: Seq[Expression]) => VecMatCosines(es.head, VecMatCosines.fromLiteral(es(1)))),
      (FunctionIdentifier("media_header"), info(classOf[MediaHeader], "media_header"),
        (es: Seq[Expression]) => MediaHeader(es.head)),
      (FunctionIdentifier("html_text"), info(classOf[HtmlText], "html_text"),
        (es: Seq[Expression]) => HtmlText(es.head)),
      (FunctionIdentifier("audio_header"), info(classOf[AudioHeader], "audio_header"),
        (es: Seq[Expression]) => AudioHeader(es.head)),
      (FunctionIdentifier("mp4_header"), info(classOf[Mp4Header], "mp4_header"),
        (es: Seq[Expression]) => Mp4Header(es.head)),
      (FunctionIdentifier("image_dhash"), info(classOf[ImageDhash], "image_dhash"),
        (es: Seq[Expression]) => ImageDhash(es.head,
          es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int])),
      (FunctionIdentifier("bmp_synth"), info(classOf[BmpSynth], "bmp_synth"),
        (es: Seq[Expression]) => BmpSynth(es.head, es(1), es(2))),
      (FunctionIdentifier("pcm_fingerprint"), info(classOf[PcmFingerprint], "pcm_fingerprint"),
        (es: Seq[Expression]) => PcmFingerprint(es.head,
          es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int])),
      (FunctionIdentifier("wav_synth"), info(classOf[WavSynth], "wav_synth"),
        (es: Seq[Expression]) => WavSynth(es.head, es(1), es(2))),
      (FunctionIdentifier("video_dhash"), info(classOf[VideoDhash], "video_dhash"),
        (es: Seq[Expression]) => VideoDhash(es.head,
          es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int],
          es(3).eval().asInstanceOf[Int])),
      // vocabularies arrive as a foldable nested-array literal, decoded
      // once at resolution (same pattern as vec_mat_cosines)
      (FunctionIdentifier("marker_counts"), info(classOf[MarkerCounts], "marker_counts"),
        (es: Seq[Expression]) => MarkerCounts(es.head, {
          val a = es(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          (0 until a.numElements()).map(i => a.getArray(i).toObjectArray(
            org.apache.spark.sql.types.StringType).map(_.toString).toSeq)
        })),
      (FunctionIdentifier("repetition_stats"), info(classOf[RepetitionStats], "repetition_stats"),
        (es: Seq[Expression]) => RepetitionStats(es.head)),
      (FunctionIdentifier("text_quality_stats"),
        info(classOf[QualityStats], "text_quality_stats"),
        (es: Seq[Expression]) => QualityStats(es.head)),
      (FunctionIdentifier("byte_histogram"), info(classOf[ByteHistogram], "byte_histogram"),
        (es: Seq[Expression]) => ByteHistogram(es.head, es(1).eval().asInstanceOf[Int])),
      (FunctionIdentifier("srp_signature"), info(classOf[SrpSignature], "srp_signature"),
        (es: Seq[Expression]) => SrpSignature(es.head, es(1).eval().asInstanceOf[Int],
          if (es.length > 2) es(2).eval() match {
            case i: Int => i.toLong
            case l: Long => l
          } else 0L)),
      (FunctionIdentifier("dec6_micros"), info(classOf[Dec6Micros], "dec6_micros"),
        (es: Seq[Expression]) => Dec6Micros(es.head)),
      // drop-in exact-quantile anchor: bit-compatible with the builtin
      // percentile but with an unboxed flat buffer (see ExactPercentile);
      // the analyzer wraps the returned AggregateFunction like any builtin
      (FunctionIdentifier("char_pairs"), info(classOf[CharPairs], "char_pairs"),
        (es: Seq[Expression]) => CharPairs(es.head)),
      // k rides as a literal (like byte_histogram's nbins); the probe is
      // a pure scan-side boolean — the pre-shuffle pruning filter
      (FunctionIdentifier("bloom_contains"),
        info(classOf[BloomContains], "bloom_contains"),
        (es: Seq[Expression]) => BloomContains(es.head, es(1),
          // a typed analysis error beats the ClassCastException/NPE a
          // BIGINT literal or non-foldable k would otherwise throw here
          es(2).eval() match {
            case i: Int => i
            case l: Long => l.toInt
            case other => throw new IllegalArgumentException(
              s"bloom_contains: the k argument must be an INT or BIGINT " +
                s"literal, got ${Option(other).getOrElse("a non-foldable expression")}")
          })),
      (FunctionIdentifier("exact_percentile"),
        info(classOf[ExactPercentile], "exact_percentile"),
        (es: Seq[Expression]) => {
          val (ps, isArray) = ExactPercentile.percentagesFromLiteral(es(1))
          ExactPercentile(org.apache.spark.sql.catalyst.expressions.Cast(
            es.head, org.apache.spark.sql.types.DoubleType), ps, isArray)
        })
    )

  def inject(e: SparkSessionExtensions): Unit =
    all.foreach { case (id, fi, builder) => e.injectFunction((id, fi, builder)) }
}

/** Column handles for graft's native expressions. Each wraps its Catalyst
  * Expression directly, so it evaluates on any session, registered or not;
  * the function registry ([[GraftExtensions]]) serves SQL text only. */
object GraftFunctions {
  /** Install the SQL-text names on an existing session (idempotent). */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    GraftExtensions.all.foreach { case (id, fi, builder) =>
      reg.registerFunction(id, fi, builder)
    }
  }

  def rolling_hash(c: Column): Column = column(RollingHash(expression(c)))
  def simhash64(c: Column): Column = column(SimHash64(expression(c)))
  def simhash_wide(c: Column, parts: Int): Column = column(SimHashWide(expression(c), parts))
  def vec_dot(a: Column, b: Column): Column = column(VecDot(expression(a), expression(b)))
  def ham_xor(a: Column, b: Column): Column = column(HamXor(expression(a), expression(b)))
  def srp_sketch(v: Column, words: Int, planesPerWord: Int, seedBase: Long): Column =
    column(SrpSketch(expression(v), words, planesPerWord, seedBase))
  def minhash_bands(shingles: Column, numPerm: Int, bands: Int): Column =
    column(MinHashBands(expression(shingles), numPerm, bands))
  def word_shingles(text: Column, w: Int): Column = column(WordShingles(expression(text), w))
  def word_ngrams(text: Column, n: Int): Column = column(WordNgrams(expression(text), n))
  def fnv1a64(s: Column, basis: Long): Column = column(Fnv1a64Col(expression(s), basis))
  def nb_scores(toks: Column, vocab: Seq[String], lam: Seq[Seq[Long]],
                oov: Seq[Long], prior: Seq[Long]): Column =
    column(NbScores(expression(toks), vocab.toArray, lam.map(_.toArray).toArray,
      oov.toArray, prior.toArray))
  def dsir_score(feats: Column, lamMicros: Seq[Long]): Column =
    column(DsirScore(expression(feats), lamMicros.toArray))
  def word_chunks(text: Column, size: Int, stride: Int): Column =
    column(WordChunks(expression(text), size, stride))
  def nfc_normalize(text: Column): Column = column(NfcNormalize(expression(text)))
  def char_pairs(text: Column): Column = column(CharPairs(expression(text)))
  def bloom_contains(words: Column, key: Column, k: Int): Column =
    column(BloomContains(expression(words), expression(key), k))
  def media_header(payload: Column): Column = column(MediaHeader(expression(payload)))
  def html_text(html: Column): Column = column(HtmlText(expression(html)))
  def audio_header(payload: Column): Column = column(AudioHeader(expression(payload)))
  def mp4_header(payload: Column): Column = column(Mp4Header(expression(payload)))
  def image_dhash(payload: Column, gcols: Int, grows: Int): Column =
    column(ImageDhash(expression(payload), gcols, grows))
  def bmp_synth(src: Column, shift: Column, bump: Column): Column =
    column(BmpSynth(expression(src), expression(shift), expression(bump)))
  def pcm_fingerprint(payload: Column, wins: Int, phases: Int): Column =
    column(PcmFingerprint(expression(payload), wins, phases))
  def wav_synth(src: Column, gain: Column, bump: Column): Column =
    column(WavSynth(expression(src), expression(gain), expression(bump)))
  def video_dhash(payload: Column, frames: Int, gcols: Int, grows: Int): Column =
    column(VideoDhash(expression(payload), frames, gcols, grows))
  def marker_counts(toks: Column, vocabs: Seq[Seq[String]]): Column =
    column(MarkerCounts(expression(toks), vocabs))
  def vec_mat_cosines(v: Column, mat: Array[Array[Double]]): Column =
    column(VecMatCosines(expression(v), mat))
  def repetition_stats(toks: Column): Column = column(RepetitionStats(expression(toks)))
  def text_quality_stats(text: Column): Column = column(QualityStats(expression(text)))
  def byte_histogram(payload: Column, buckets: Int): Column =
    column(ByteHistogram(expression(payload), buckets))
  def srp_signature(v: Column, numPlanes: Int, seed: Long = 0L): Column =
    column(SrpSignature(expression(v), numPlanes, seed))
  def dec6_micros(c: Column): Column = column(Dec6Micros(expression(c)))
  /** Aggregate: the exact percentile `p` of `c` cast to double (see
    * [[ExactPercentile]]); the `Seq` form returns an array, one per `ps`. */
  def exact_percentile(c: Column, p: Double): Column = percentile(c, Array(p), isArray = false)
  def exact_percentile(c: Column, ps: Seq[Double]): Column =
    percentile(c, ps.toArray, isArray = true)

  private def percentile(c: Column, ps: Array[Double], isArray: Boolean): Column =
    column(ExactPercentile(Cast(expression(c), DoubleType), ps, isArray).toAggregateExpression())
}
