package graft.functions

import graft.SparkSpec
import graft.api.Table
import graft.operators.Multimodal
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import GraftFunctions._

/** Every Column handle in [[GraftFunctions]] builds its Expression
  * directly: it evaluates on a session nobody registered the native
  * functions on, and returns the same rows as the SQL-text spelling of the
  * same call on a registered session. */
class GraftFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val mat = Array(Array(1.0, 0.0, 0.5, -1.0), Array(0.0, 2.0, 1.0, 0.25))
  private val lam = Seq.tabulate(256)(i => (i * 7919L) % 5000L - 2500L)

  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(29)
    bb.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    bb.putInt(13).put("IHDR".getBytes).putInt(w).putInt(h)
    bb.put(Array[Byte](8, 6, 0, 0, 0))
    bb.array()
  }

  /** Three rows covering every handle's input type, built on the driver so
    * each session reads the same data. */
  private lazy val rows: Seq[Row] = {
    def payloads(df: DataFrame) = df.orderBy("id").select("payload").as[Array[Byte]].collect()
    val seeds = Seq((1L, 5L, 0L, 0L), (2L, 77L, 16L, 0L), (3L, 900L, 0L, 40L))
      .toDF("id", "src", "shift", "bump")
    val mp4s = payloads(Multimodal.syntheticMp4s(seeds, "id"))
    val videos = payloads(Multimodal.syntheticVideos(seeds, "id", "src", "shift", "bump"))
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "Café au lait  <b>x</b>", "a a a b b c")
    (0 until 3).map { i =>
      val toks = texts(i).split(" ").toSeq
      Row(i.toLong, texts(i), toks, toks.sliding(2).map(_.mkString(" ")).toSeq,
        Seq.tabulate(4)(j => (i + 1) * 0.5 - j), Seq.tabulate(4)(j => j * 1.5 - i),
        Seq(i * 3L + 1, -7L), Seq(5L, i.toLong), s"<html><title>t$i</title><p>${texts(i)}</p></html>",
        pngBytes(16 + i, 9 + i), BmpSynthImpl.build(i + 3L, 0L, 0L),
        WavSynthImpl.build(i + 1L, 0L, 0L), mp4s(i), videos(i), i * 11L, (i + 1) * 2L, i * 5L,
        i * 1.25 - 0.0078125)
    }
  }

  private val schema = StructType(
    Seq("id" -> LongType, "text" -> StringType, "toks" -> ArrayType(StringType),
      "sh" -> ArrayType(StringType), "v" -> ArrayType(DoubleType), "w" -> ArrayType(DoubleType),
      "a" -> ArrayType(LongType), "b" -> ArrayType(LongType), "html" -> StringType,
      "png" -> BinaryType, "img" -> BinaryType, "wav" -> BinaryType, "mp4" -> BinaryType,
      "video" -> BinaryType,
      "x" -> LongType, "y" -> LongType, "z" -> LongType, "d" -> DoubleType)
      .map { case (n, t) => StructField(n, t) })

  private def fixture(session: SparkSession): DataFrame =
    session.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def arr(xs: Seq[Any]): String = xs.mkString("array(", ", ", ")")

  /** (name, handle, the same call as SQL text). */
  private val cases: Seq[(String, Column, String)] = Seq(
    ("rolling_hash", rolling_hash(col("text")), "rolling_hash(text)"),
    ("simhash64", simhash64(col("toks")), "simhash64(toks)"),
    ("simhash_wide", simhash_wide(col("toks"), 3), "simhash_wide(toks, 3)"),
    ("vec_dot", vec_dot(col("v"), col("w")), "vec_dot(v, w)"),
    ("ham_xor", ham_xor(col("a"), col("b")), "ham_xor(a, b)"),
    ("srp_sketch", srp_sketch(col("v"), 2, 12, 99L), "srp_sketch(v, 2, 12, 99L)"),
    ("minhash_bands", minhash_bands(col("sh"), 16, 4), "minhash_bands(sh, 16, 4)"),
    ("word_shingles", word_shingles(col("text"), 2), "word_shingles(text, 2)"),
    ("word_ngrams", word_ngrams(col("text"), 2), "word_ngrams(text, 2)"),
    ("dsir_score", dsir_score(col("toks"), lam), s"dsir_score(toks, ${arr(lam.map(_ + "L"))})"),
    ("nb_scores", nb_scores(col("toks"), Seq("a", "the"), Seq(Seq(3L, -2L), Seq(-1L, 4L)),
      Seq(-5L, -6L), Seq(10L, 20L)),
      "nb_scores(toks, array('a', 'the'), array(array(3L, -2L), array(-1L, 4L)), " +
        "array(-5L, -6L), array(10L, 20L))"),
    ("fnv1a64", fnv1a64(col("text"), 7L), "fnv1a64(text, 7L)"),
    ("word_chunks", word_chunks(col("text"), 3, 2), "word_chunks(text, 3, 2)"),
    ("nfc_normalize", nfc_normalize(col("text")), "nfc_normalize(text)"),
    ("vec_mat_cosines", vec_mat_cosines(col("v"), mat),
      s"vec_mat_cosines(v, ${arr(mat.toSeq.map(r => arr(r.toSeq.map(_ + "D"))))})"),
    ("media_header", media_header(col("png")), "media_header(png)"),
    ("html_text", html_text(col("html")), "html_text(html)"),
    ("audio_header", audio_header(col("wav")), "audio_header(wav)"),
    ("mp4_header", mp4_header(col("mp4")), "mp4_header(mp4)"),
    ("image_dhash", image_dhash(col("img"), 9, 8), "image_dhash(img, 9, 8)"),
    ("bmp_synth", bmp_synth(col("x"), col("y"), col("z")), "bmp_synth(x, y, z)"),
    ("pcm_fingerprint", pcm_fingerprint(col("wav"), 17, 8), "pcm_fingerprint(wav, 17, 8)"),
    ("wav_synth", wav_synth(col("x"), col("y"), col("z")), "wav_synth(x, y, z)"),
    ("video_dhash", video_dhash(col("video"), 4, 17, 8), "video_dhash(video, 4, 17, 8)"),
    ("marker_counts", marker_counts(col("toks"), Seq(Seq("a", "b"), Seq("the"))),
      "marker_counts(toks, array(array('a', 'b'), array('the')))"),
    ("repetition_stats", repetition_stats(col("toks")), "repetition_stats(toks)"),
    ("text_quality_stats", text_quality_stats(col("text")), "text_quality_stats(text)"),
    ("byte_histogram", byte_histogram(col("img"), 16), "byte_histogram(img, 16)"),
    ("srp_signature", srp_signature(col("v"), 16, 3L), "srp_signature(v, 16, 3L)"),
    ("dec6_micros", dec6_micros(col("d")), "dec6_micros(d)"),
    ("char_pairs", char_pairs(col("text")), "char_pairs(text)"),
    ("bloom_contains", bloom_contains(col("a"), col("text"), 3), "bloom_contains(a, text, 3)"),
    ("exact_percentile", exact_percentile(col("d"), 0.5), "exact_percentile(d, 0.5)"),
    ("exact_percentile", exact_percentile(col("v")(1), Seq(0.25, 0.9)),
      "exact_percentile(v[1], array(0.25, 0.9))"))

  /** Rows of `c` over the fixture, in id order, binaries as hex. */
  private def eval(df: DataFrame, c: Column): Seq[String] = {
    def canon(v: Any): String = v match {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case other => String.valueOf(other)
    }
    df.orderBy("id").select(c.as("o")).collect().map(r => canon(r.get(0))).toSeq
  }

  test("the handles cover every registered native function") {
    assert(cases.map(_._1).toSet == GraftExtensions.all.map(_._1.funcName).toSet)
  }

  test("every handle evaluates on a session with no registration") {
    val fresh = spark.newSession()
    val df = fixture(fresh)
    cases.foreach { case (name, handle, _) =>
      val got = eval(df, handle)
      assert(got.nonEmpty && got.exists(_ != "null"), s"$name returned $got")
    }
    assert(!fresh.catalog.functionExists("minhash_bands"),
      "evaluating a handle must not register the SQL names")
  }

  test("every handle returns the rows of its SQL-text spelling") {
    val fresh = fixture(spark.newSession())
    val registered = spark.newSession()
    GraftFunctions.ensureRegistered(registered)
    val viaSql = fixture(registered)
    cases.foreach { case (name, handle, sql) =>
      assert(eval(fresh, handle) == eval(viaSql, expr(sql)), s"$name differs from $sql")
    }
  }

  test("Table.query on a fresh session resolves native functions in its SQL") {
    val fresh = spark.newSession()
    val t = Table(fixture(fresh), "fx")
    val got = t.query(fresh, "SELECT id, minhash_bands(sh, 16, 4) AS b FROM fx")
    assert(eval(got, col("b")) == eval(fixture(fresh), minhash_bands(col("sh"), 16, 4)))
    val med = t.query(fresh, "SELECT exact_percentile(d, 0.5) AS m FROM fx")
      .head().getDouble(0)
    assert(med == fixture(fresh).agg(exact_percentile(col("d"), 0.5)).head().getDouble(0))
    assert(med == 1.25 - 0.0078125)
  }
}
