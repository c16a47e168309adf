package graft.functions

import graft.SparkSpec
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

class AudioHeaderSpec extends SparkSpec {
  import spark.implicits._

  /** Independent WAV builder (java.nio little-endian, NOT the hex
    * assembly under test). */
  private def wav(channels: Int, rate: Int, bits: Int, dataBytes: Int,
                  leadingChunk: Option[Int] = None,
                  includeFmt: Boolean = true): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >>> 16) & 0xffff) }
    def tag(s: String): Unit = s.foreach(c => bos.write(c.toInt))
    tag("RIFF"); le32(0); tag("WAVE") // size field unread by the parser
    leadingChunk.foreach { n =>
      tag("LIST"); le32(n); (1 to n).foreach(_ => bos.write(0x41))
      if (n % 2 == 1) bos.write(0) // spec padding
    }
    if (includeFmt) {
      tag("fmt "); le32(16); le16(1); le16(channels); le32(rate)
      le32(rate * channels * bits / 8); le16(channels * bits / 8); le16(bits)
    }
    tag("data"); le32(dataBytes) // header-only: no sample bytes
    bos.toByteArray
  }

  private def parse(b: Array[Byte]) = {
    Seq(Tuple1(b)).toDF("p")
      .select(GraftFunctions.audio_header(col("p")).as("h"))
      .select("h.format", "h.channels", "h.sample_rate", "h.bits",
        "h.data_bytes")
      .collect()(0)
  }

  test("parses an independently-built WAV, odd padded chunk walked") {
    val r = parse(wav(2, 44100, 16, 88200, leadingChunk = Some(3)))
    assert(r.getString(0) == "wav" && r.getInt(1) == 2 &&
      r.getInt(2) == 44100 && r.getInt(3) == 16 && r.getLong(4) == 88200L)
    val even = parse(wav(1, 8000, 8, 100, leadingChunk = Some(4)))
    assert(even.getInt(1) == 1 && even.getInt(2) == 8000 &&
      even.getInt(3) == 8 && even.getLong(4) == 100L)
  }

  test("foreign, truncated, and fmt-less payloads are null; dataless is 0") {
    val rows = Seq(
      "not audio at all".getBytes("UTF-8"),
      wav(1, 8000, 16, 10).take(10),
      wav(1, 8000, 16, 10, includeFmt = false),
      java.util.Arrays.copyOf(wav(1, 8000, 16, 0), 36) // fmt, no data chunk
    )
    val out = rows.map(b => Seq(Tuple1(b)).toDF("p")
      .select(GraftFunctions.audio_header(col("p")).as("h")).collect()(0))
    assert(out(0).isNullAt(0) && out(1).isNullAt(0) && out(2).isNullAt(0))
    assert(!out(3).isNullAt(0) &&
      out(3).getStruct(0).getLong(4) == 0L)
  }

  test("the hex-assembled fixture round-trips through the parser") {
    val docs = graft.tables.Tables.documents(spark, sf("sf0.001"))
    val decoded = Multimodal.decodeAudioHeader(
      Multimodal.syntheticWavs(docs, "doc_id"), "doc_id", "payload")
    // every synthesized container parses (no null formats) and the
    // closed-form fields come back
    assert(decoded.filter(col("format").isNull).count() == 0L)
    val bad = decoded.filter(
      col("channels") =!= col("doc_id") % 2 + 1 ||
      col("sample_rate") =!= (col("doc_id") % 6 + 1) * 8000 ||
      col("bits") =!= 16 ||
      col("data_bytes") =!= (col("doc_id") % 1000 + 1) * (col("doc_id") % 2 + 1) * 2)
    assert(bad.count() == 0L)
  }
}
