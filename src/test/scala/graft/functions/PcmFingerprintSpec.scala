package graft.functions

import graft.SparkSpec
import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.functions._

/** pcm_fingerprint: real sample arithmetic over mono 16-bit RIFF
  * payloads — chunk walk, disjoint-pair integer differences, 17×8
  * time-phase energy pooling, gradient-sign bits — plus the dedup
  * properties the q_dedup_audio oracle relies on (the ImageDhashSpec
  * discipline, audio flavor). */
class PcmFingerprintSpec extends SparkSpec {
  import spark.implicits._

  private def wavs(rows: Seq[(Long, Long, Long, Long)]) =
    Multimodal.syntheticWavs(
      rows.toDF("aud_id", "src", "gain", "bump"),
      "aud_id", "src", "gain", "bump")

  private def hashOf(rows: Seq[(Long, Long, Long, Long)]): Map[Long, Seq[Long]] = {
    wavs(rows).select(col("aud_id"),
        GraftFunctions.pcm_fingerprint(col("payload"), 17, 8).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
  }

  /** Driver-side replay of the synth sample formula + fingerprint —
    * the same arithmetic the DuckDB oracle runs, independent of the
    * Expression's byte parsing. */
  private def referenceHash(src: Long, gain: Long, bump: Long): Seq[Long] = {
    val M = WavSynthImpl.LcgM; val A = WavSynthImpl.LcgA
    val q1 = (src % M + 12345L) * A % M
    val q2 = q1 * A % M
    def s(i: Int): Long =
      ((q1 + i * q2) % M + i * 13L) % 180L * (1L + gain) +
        (if (i == WavSynthImpl.BumpIdx) bump else 0L)
    val nd = WavSynthImpl.Wins * WavSynthImpl.Phases * WavSynthImpl.K
    val e = new Array[Long](WavSynthImpl.Wins * WavSynthImpl.Phases)
    for (j <- 0 until nd)
      e(j / WavSynthImpl.K) += math.abs(s(2 * j + 1) - s(2 * j))
    val words = new Array[Long](2)
    for (w <- 0 until WavSynthImpl.Wins - 1; p <- 0 until WavSynthImpl.Phases) {
      val k = w * WavSynthImpl.Phases + p
      if (e((w + 1) * WavSynthImpl.Phases + p) > e(w * WavSynthImpl.Phases + p))
        words(k >> 6) |= 1L << (k & 63)
    }
    words.toSeq
  }

  test("pcm_fingerprint over assembled WAV bytes equals the sample-formula " +
       "replay (container by one engine, fingerprint by independent logic)") {
    val rows = Seq((1L, 1L, 0L, 0L), (2L, 77L, 0L, 0L), (3L, 900001L, 2L, 0L),
      (4L, 77L, 0L, 40L))
    val got = hashOf(rows)
    rows.foreach { case (id, src, g, bp) =>
      assert(got(id) == referenceHash(src, g, bp), s"audio $id diverged")
    }
  }

  test("fingerprint is invariant under global gain; a bumped sample " +
       "flips at most 2 bits (one grid cell's time neighbors)") {
    val got = hashOf(Seq((1L, 42L, 0L, 0L), (2L, 42L, 2L, 0L),
      (3L, 42L, 100L, 0L), (4L, 42L, 0L, 40L)))
    assert(got(1L) == got(2L) && got(1L) == got(3L),
      "energy-gradient signs must survive any exact integer gain")
    val ham = got(1L).zip(got(4L))
      .map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum
    assert(ham <= 2, s"single-sample bump flipped $ham bits")
    assert(got(1L) != hashOf(Seq((9L, 43L, 0L, 0L)))(9L),
      "different sources must not alias")
  }

  test("foreign/truncated/non-PCM payloads are NULL, never a throw; " +
       "trailing remainder samples are ignored (K floor)") {
    val wav = wavs(Seq((1L, 5L, 0L, 0L))).select("payload")
      .as[Array[Byte]].head()
    assert(PcmFingerprintImpl.compute(wav, 17, 8) != null)
    assert(PcmFingerprintImpl.compute(Array[Byte](), 17, 8) == null)
    assert(PcmFingerprintImpl.compute("notriff".getBytes, 17, 8) == null)
    assert(PcmFingerprintImpl.compute(wav.take(100), 17, 8) == null) // truncated data
    val stereo = wav.clone(); stereo(22) = 2.toByte
    assert(PcmFingerprintImpl.compute(stereo, 17, 8) == null)
    val bits8 = wav.clone(); bits8(34) = 8.toByte
    assert(PcmFingerprintImpl.compute(bits8, 17, 8) == null)
    val nonPcm = wav.clone(); nonPcm(20) = 3.toByte // IEEE float fmt
    assert(PcmFingerprintImpl.compute(nonPcm, 17, 8) == null)
    // a payload with 7 extra trailing samples hashes like the exact one:
    // K floors to 4 and the remainder never enters the grid
    val extra = 7
    val bigger = new Array[Byte](wav.length + 2 * extra)
    System.arraycopy(wav, 0, bigger, 0, wav.length)
    def putLe32(b: Array[Byte], off: Int, v: Int): Unit =
      for (i <- 0 until 4) b(off + i) = ((v >> (8 * i)) & 0xff).toByte
    putLe32(bigger, 4, bigger.length - 8)
    putLe32(bigger, 40, WavSynthImpl.NSamples * 2 + 2 * extra)
    val hExact = PcmFingerprintImpl.compute(wav, 17, 8)
    val hExtra = PcmFingerprintImpl.compute(bigger, 17, 8)
    assert(hExact != null && hExtra != null &&
      hExact.toLongArray().toSeq == hExtra.toLongArray().toSeq)
    // too few samples for one diff per cell -> NULL
    val tiny = wav.clone()
    putLe32(tiny, 40, 17 * 8 * 2) // nd = 68 < 136 cells
    assert(PcmFingerprintImpl.compute(tiny, 17, 8) == null)
  }

  test("pcmFingerprintPairs is pigeonhole-complete: equals driver " +
       "all-pairs at maxHamming 3, never a cartesian plan") {
    val rows = (1L to 60L).map(i => (i, i, 0L, 0L)) ++
      Seq((101L, 7L, 2L, 0L), (102L, 7L, 0L, 40L), (103L, 20L, 5L, 0L))
    val auds = wavs(rows)
    val got = Dedup.pcmFingerprintPairs(auds, "aud_id", "payload", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val hs = rows.map { case (id, s, g, bp) => id -> referenceHash(s, g, bp) }
    val want = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = ha.zip(hb).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      if d <= 3
    } yield (a, b, d)).toSet
    assert(want.exists(_._3 == 0) && got == want)
    val plan = Dedup.pcmFingerprintPairs(auds, "aud_id", "payload", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair join must stay an equi-join\n$plan")
  }

  test("wav_synth enforces its headroom contract loudly") {
    intercept[Exception] {
      wavs(Seq((1L, 5L, 200L, 0L))).select("payload")
        .as[Array[Byte]].head()
    }
    ()
  }
}
