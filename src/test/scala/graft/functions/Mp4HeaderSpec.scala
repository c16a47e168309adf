package graft.functions

import graft.SparkSpec
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

class Mp4HeaderSpec extends SparkSpec {
  import spark.implicits._

  /** Independent BMFF builder (java.nio big-endian, NOT the hex assembly
    * under test). */
  private class Box(val typ: String) {
    val bos = new java.io.ByteArrayOutputStream()
    def be16(v: Int): Unit = { bos.write((v >> 8) & 0xff); bos.write(v & 0xff) }
    def be32(v: Long): Unit = { be16(((v >> 16) & 0xffff).toInt); be16((v & 0xffff).toInt) }
    def be64(v: Long): Unit = { be32(v >>> 32); be32(v & 0xffffffffL) }
    def tag(s: String): Unit = s.foreach(c => bos.write(c.toInt))
    def bytes: Array[Byte] = {
      val body = bos.toByteArray
      val out = new java.io.ByteArrayOutputStream()
      val size = body.length + 8
      out.write((size >> 24) & 0xff); out.write((size >> 16) & 0xff)
      out.write((size >> 8) & 0xff); out.write(size & 0xff)
      typ.foreach(c => out.write(c.toInt))
      out.write(body)
      out.toByteArray
    }
  }

  private def ftyp(brand: String = "isom"): Array[Byte] = {
    val b = new Box("ftyp"); b.tag(brand); b.be32(0x200); b.bytes
  }
  private def mvhd(ver: Int, timescale: Int, dur: Long): Array[Byte] = {
    val b = new Box("mvhd")
    b.bos.write(ver); b.bos.write(0); b.bos.write(0); b.bos.write(0)
    if (ver == 0) { b.be32(0); b.be32(0); b.be32(timescale); b.be32(dur) }
    else { b.be64(0); b.be64(0); b.be32(timescale); b.be64(dur) }
    b.bytes
  }
  private def tkhd(ver: Int, trackId: Int, w: Int, h: Int): Array[Byte] = {
    val b = new Box("tkhd")
    b.bos.write(ver); b.bos.write(0); b.bos.write(0); b.bos.write(0)
    if (ver == 0) { b.be32(0); b.be32(0); b.be32(trackId); b.be32(0); b.be32(0) }
    else { b.be64(0); b.be64(0); b.be32(trackId); b.be32(0); b.be64(0) }
    b.be32(0); b.be32(0)                    // reserved[2]
    b.be16(0); b.be16(0); b.be16(0); b.be16(0) // layer/alt/volume/reserved
    Seq(0x10000L, 0L, 0L, 0L, 0x10000L, 0L, 0L, 0L, 0x40000000L).foreach(b.be32)
    b.be32(w.toLong << 16); b.be32(h.toLong << 16)
    b.bytes
  }
  private def wrap(typ: String, children: Array[Byte]*): Array[Byte] = {
    val b = new Box(typ); children.foreach(b.bos.write); b.bytes
  }
  private def mp4(parts: Array[Byte]*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    parts.foreach(out.write); out.toByteArray
  }

  private def parse(b: Array[Byte]) = {
    Seq(Tuple1(b)).toDF("p")
      .select(GraftFunctions.mp4_header(col("p")).as("h"))
      .select("h.format", "h.brand", "h.timescale", "h.duration_ms",
        "h.n_tracks", "h.width", "h.height")
      .collect()(0)
  }

  test("parses an independently-built BMFF: v0 and v1 headers, " +
       "audio-track-first video selection") {
    val v0 = mp4(ftyp(), wrap("moov", mvhd(0, 1000, 90000L),
      wrap("trak", tkhd(0, 1, 0, 0)),      // audio: 0x0
      wrap("trak", tkhd(0, 2, 640, 360)))) // first VIDEO track
    val r0 = parse(v0)
    assert(r0.getString(0) == "mp4" && r0.getString(1) == "isom")
    assert(r0.getInt(2) == 1000 && r0.getLong(3) == 90000L)
    assert(r0.getInt(4) == 2 && r0.getInt(5) == 640 && r0.getInt(6) == 360)
    // v1 mvhd/tkhd (64-bit times), duration_ms integer division
    val v1 = mp4(ftyp("mp42"), wrap("moov", mvhd(1, 600, 1234L),
      wrap("trak", tkhd(1, 1, 320, 240))))
    val r1 = parse(v1)
    assert(r1.getString(1) == "mp42" && r1.getInt(2) == 600 &&
      r1.getLong(3) == 1234L * 1000L / 600L)
    assert(r1.getInt(4) == 1 && r1.getInt(5) == 320 && r1.getInt(6) == 240)
  }

  test("foreign, truncated, and mvhd-less payloads are null") {
    val good = mp4(ftyp(), wrap("moov", mvhd(0, 1000, 1000L),
      wrap("trak", tkhd(0, 1, 100, 100))))
    val rows = Seq(
      "not a video container".getBytes("UTF-8"),
      good.take(30),                                     // truncated mid-moov
      mp4(ftyp(), wrap("moov", wrap("trak", tkhd(0, 1, 1, 1)))), // no mvhd
      mp4(wrap("moov", mvhd(0, 1000, 1000L))))           // no leading ftyp
    val out = rows.map(b => Seq(Tuple1(b)).toDF("p")
      .select(GraftFunctions.mp4_header(col("p")).as("h")).collect()(0))
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.isNullAt(0), s"case $i must be null")
    }
  }

  test("v1 mvhd duration that would overflow duration_ms*1000 is null, " +
       "not a garbage negative (advisor r11)") {
    // durationUnits in (Long.MaxValue/1000, Long.MaxValue): passes the
    // non-negative check but overflows the *1000 multiply
    val hostile = mp4(ftyp(), wrap("moov",
      mvhd(1, 1000, Long.MaxValue / 1000L + 7L),
      wrap("trak", tkhd(1, 1, 320, 240))))
    assert(parse(hostile).isNullAt(0))
    // the boundary itself is still fine (exactly representable)
    val edge = mp4(ftyp(), wrap("moov",
      mvhd(1, 1000, Long.MaxValue / 1000L),
      wrap("trak", tkhd(1, 1, 320, 240))))
    val r = parse(edge)
    assert(r.getLong(3) == Long.MaxValue / 1000L) // *1000/1000 round-trips
  }

  test("syntheticMp4s round-trips through the decode with closed-form fields") {
    val docs = graft.tables.Tables.documents(spark, sf())
    val out = Multimodal.decodeVideoHeader(
      Multimodal.syntheticMp4s(docs, "doc_id"), "doc_id", "payload")
    val bad = out.filter(
      col("format") =!= "mp4" || col("brand") =!= "isom" ||
      col("timescale") =!= (col("doc_id") % 5 + 1) * 1000 ||
      col("duration_ms") =!= expr(
        "(doc_id % 100000 + 1000) * 1000 DIV ((doc_id % 5 + 1) * 1000)") ||
      col("n_tracks") =!= when(col("doc_id") % 3 === 0, 2).otherwise(1) ||
      col("width") =!= col("doc_id") % 640 + 16 ||
      col("height") =!= col("doc_id") % 480 + 16).count()
    assert(bad == 0L)
    assert(out.count() == docs.count())
  }
}
