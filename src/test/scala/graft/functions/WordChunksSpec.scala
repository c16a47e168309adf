package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WordChunksSpec extends SparkSpec {
  import spark.implicits._

  private def chunksOf(text: String, size: Int, stride: Int): Seq[String] = {
    Seq(text).toDF("t")
      .select(GraftFunctions.word_chunks(col("t"), size, stride).as("c"))
      .head().getSeq[String](0)
  }

  test("exact tiling at stride == size reassembles the document") {
    val text = (1 to 10).map(i => s"w$i").mkString(" ")
    val cs = chunksOf(text, 4, 4)
    assert(cs == Seq("w1 w2 w3 w4", "w5 w6 w7 w8", "w9 w10"))
    assert(cs.mkString(" ") == text)
  }

  test("overlapping chunks cover every token and stop at the end") {
    val text = (1 to 11).map(i => s"w$i").mkString(" ")
    val cs = chunksOf(text, 4, 3)
    assert(cs == Seq("w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10", "w10 w11"))
    // nothing after the first end-reaching chunk
    val ends = chunksOf((1 to 10).map(i => s"w$i").mkString(" "), 4, 3)
    assert(ends.last == "w7 w8 w9 w10" && ends.length == 3)
  }

  test("short and empty documents yield exactly one chunk") {
    assert(chunksOf("a b", 64, 48) == Seq("a b"))
    assert(chunksOf("", 64, 48) == Seq(""))
  }

  test("chunking rejects stride > size") {
    intercept[IllegalArgumentException] {
      WordChunks(org.apache.spark.sql.catalyst.expressions.Literal("x"), 4, 5)
    }
  }

  test("nfc_normalize composes decomposed text, idempotent, null-safe") {
    val composed = "Caf\u00e9"       // e-acute as one code point
    val decomposed = "Cafe\u0301"   // e + combining acute
    val out = Seq((1L, decomposed), (2L, composed), (3L, null))
      .toDF("id", "t")
      .select(col("id"), GraftFunctions.nfc_normalize(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L).contains(composed), "decomposed must compose to NFC")
    assert(out(2L).contains(composed), "already-NFC text must pass through")
    assert(out(3L).isEmpty, "null stays null")
    // md5-dedup motivation: both spellings hash identically after NFC
    val hashes = Seq(decomposed, composed).toDF("t")
      .select(md5(GraftFunctions.nfc_normalize(col("t")))).distinct().count()
    assert(hashes == 1)
  }

  test("chunkDocuments is streaming-compatible (stateless generate)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.Packing.chunkDocuments(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", size = 3, stride = 3)
      .writeStream.format("memory").queryName("chunks").outputMode("append").start()
    try {
      mem.addData((1L, "a b c d e"), (2L, "x"))
      q.processAllAvailable()
      val rows = spark.table("chunks")
        .select("doc_id", "chunk_idx", "chunk")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
      assert(rows == Seq((1L, 0, "a b c"), (1L, 1, "d e"), (2L, 0, "x")))
    } finally q.stop()
  }
}
