package graft.functions

import graft.SparkSpec
import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.functions._

/** image_dhash: real byte arithmetic over 24-bit BMP pixel grids —
  * header walk, BT.601 luma, box pooling, gradient-sign bits — plus
  * the dedup properties the q_dedup_image oracle relies on. */
class ImageDhashSpec extends SparkSpec {
  import spark.implicits._

  private def bmps(rows: Seq[(Long, Long, Long, Long)]) =
    Multimodal.syntheticBmps(
      rows.toDF("img_id", "src", "shift", "bump"),
      "img_id", "src", "shift", "bump")

  private def hashOf(rows: Seq[(Long, Long, Long, Long)]): Map[Long, Seq[Long]] = {
    bmps(rows).select(col("img_id"),
        GraftFunctions.image_dhash(col("payload"), 17, 8).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
  }

  /** Driver-side replay of the synth pixel formula + dhash — the same
    * arithmetic the DuckDB oracle runs, independent of the Expression's
    * byte parsing. */
  private def referenceHash(src: Long, shift: Long, bump: Long): Seq[Long] = {
    val M = Multimodal.BmpLcgM; val A = Multimodal.BmpLcgA
    val q = Iterator.iterate((src % M + 12345L) * A % M)(_ * A % M)
      .take(6).toArray
    def pert(x: Int, y: Int) = shift + (if (x >= Multimodal.BmpBumpX0 &&
      x < Multimodal.BmpBumpX1 && y >= Multimodal.BmpBumpY0 &&
      y < Multimodal.BmpBumpY1) bump else 0L)
    def ch(qa: Long, qb: Long, sc: Int, x: Int, y: Int) =
      ((qa + y * qb) % M + x * sc) % 180 + pert(x, y)
    def luma(x: Int, y: Int) =
      (77 * ch(q(4), q(5), 19, x, y) + 150 * ch(q(2), q(3), 17, x, y) +
        29 * ch(q(0), q(1), 13, x, y)) >> 8
    val cells = Array.tabulate(8, 17) { (gy, gx) =>
      (for (y <- gy * 2 until gy * 2 + 2; x <- gx * 4 until gx * 4 + 4)
        yield luma(x, y)).sum / 8
    }
    val words = new Array[Long](2)
    for (gy <- 0 until 8; gx <- 0 until 16) {
      val k = gy * 16 + gx
      if (cells(gy)(gx + 1) > cells(gy)(gx)) words(k >> 6) |= 1L << (k & 63)
    }
    words.toSeq
  }

  test("image_dhash over assembled BMP bytes equals the pixel-formula " +
       "replay (container by one engine, hash by independent logic)") {
    val rows = Seq((1L, 1L, 0L, 0L), (2L, 77L, 0L, 0L), (3L, 900001L, 5L, 0L),
      (4L, 77L, 0L, 40L))
    val got = hashOf(rows)
    rows.foreach { case (id, src, sh, bp) =>
      assert(got(id) == referenceHash(src, sh, bp), s"img $id diverged")
    }
  }

  test("dHash is invariant under global brightness shift; a bumped " +
       "pooling cell flips at most 2 bits") {
    val got = hashOf(Seq((1L, 42L, 0L, 0L), (2L, 42L, 16L, 0L),
      (3L, 42L, 55L, 0L), (4L, 42L, 0L, 40L)))
    assert(got(1L) == got(2L) && got(1L) == got(3L),
      "gradient signs must survive any uniform shift")
    val ham = got(1L).zip(got(4L))
      .map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum
    assert(ham <= 2, s"single-cell bump flipped $ham bits")
    assert(got(1L) != hashOf(Seq((9L, 43L, 0L, 0L)))(9L),
      "different sources must not alias")
  }

  test("top-down BMPs (negative height) hash identically to bottom-up; " +
       "padded rows parse; garbage is NULL, never a throw") {
    val bu = bmps(Seq((1L, 5L, 0L, 0L))).select("payload")
      .as[Array[Byte]].head()
    // flip to top-down: height := -16 (LE32 at offset 22), rows reversed
    val td = bu.clone()
    val negH = -16
    for (i <- 0 until 4) td(22 + i) = ((negH >> (8 * i)) & 0xff).toByte
    val rowB = 68 * 3
    for (r <- 0 until 16; i <- 0 until rowB)
      td(54 + r * rowB + i) = bu(54 + (15 - r) * rowB + i)
    val h1 = ImageDhashImpl.compute(bu, 17, 8)
    val h2 = ImageDhashImpl.compute(td, 17, 8)
    assert(h1 != null && h2 != null &&
      h1.toLongArray().toSeq == h2.toLongArray().toSeq)
    // width 9 -> 27 row bytes, padded to 28: build a gray ramp by hand
    val w = 9; val h = 8; val rb = ((w * 3 + 3) / 4) * 4
    val buf = java.nio.ByteBuffer.allocate(54 + rb * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + rb * h)
      .putInt(0).putInt(54)
      .putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(rb * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    val arr = buf.array()
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      arr(54 + (h - 1 - y) * rb + x * 3 + c) = (x * 20).toByte // rising ramp
    val ramp = ImageDhashImpl.compute(arr, 9, 8)
    assert(ramp != null &&
      ramp.toLongArray().toSeq == Seq(-1L), // every gradient positive
      "rising ramp must set all 64 bits")
    // TOTAL on dirty input
    assert(ImageDhashImpl.compute(Array[Byte](), 17, 8) == null)
    assert(ImageDhashImpl.compute("notbmp".getBytes, 17, 8) == null)
    assert(ImageDhashImpl.compute(bu.take(100), 17, 8) == null) // truncated
    val wrongBpp = bu.clone(); wrongBpp(28) = 32.toByte
    assert(ImageDhashImpl.compute(wrongBpp, 17, 8) == null)
  }

  test("imageDhashPairs is pigeonhole-complete: equals driver all-pairs " +
       "at maxHamming 3, never a cartesian plan") {
    val rows = (1L to 60L).map(i => (i, i, 0L, 0L)) ++
      Seq((101L, 7L, 12L, 0L), (102L, 7L, 0L, 40L), (103L, 20L, 30L, 0L))
    // one undecodable payload hashes to NULL and must never pair
    val imgs = bmps(rows).union(Seq((999L, "notbmp".getBytes)).toDF("img_id", "payload"))
    val got = Dedup.imageDhashPairs(imgs, "img_id", "payload", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(!got.exists(p => p._1 == 999L || p._2 == 999L), s"undecodable paired: $got")
    val hs = rows.map { case (id, s, sh, bp) => id -> referenceHash(s, sh, bp) }
    val want = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = ha.zip(hb).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      if d <= 3
    } yield (a, b, d)).toSet
    assert(want.exists(_._3 == 0) && got == want)
    val plan = Dedup.imageDhashPairs(imgs, "img_id", "payload", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair join must stay an equi-join\n$plan")
  }
}
