package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized-input invariants (seeded) for the r8 primitives:
  * word_chunks must cover every token and never emit a contained tail,
  * and the Misra-Gries sketch must honor its recall/undercount bounds
  * under arbitrary streams and partitionings. */
class ChunksHittersPropertySpec extends SparkSpec {
  import spark.implicits._

  test("word_chunks invariants hold over randomized texts") {
    val rnd = new scala.util.Random(2027)
    val cases = (1 to 200).map { _ =>
      val n = rnd.nextInt(40)
      val text = (1 to n).map(i => s"t${rnd.nextInt(9)}").mkString(" ")
      val size = 1 + rnd.nextInt(8)
      val stride = 1 + rnd.nextInt(size)
      (text, size, stride)
    }
    for ((text, size, stride) <- cases) {
      val chunks = Seq(text).toDF("t")
        .select(GraftFunctions.word_chunks(col("t"), size, stride))
        .head().getSeq[String](0)
      val toks = text.split(" ", -1)
      // 1. coverage: concatenating chunk tokens at stride offsets
      //    reconstructs every token position
      val covered = Array.fill(toks.length)(false)
      var start = 0
      for (c <- chunks) {
        val ct = c.split(" ", -1)
        assert(ct.length <= size, s"oversized chunk for ($text,$size,$stride)")
        for (j <- ct.indices) {
          assert(start + j < toks.length && ct(j) == toks(start + j),
            s"chunk content drifted at ($text,$size,$stride)")
          covered(start + j) = true
        }
        start += stride
      }
      assert(covered.forall(identity), s"uncovered token at ($text,$size,$stride)")
      // 2. the last chunk reaches the end; no chunk after it
      val lastStart = (chunks.length - 1) * stride
      assert(lastStart + chunks.last.split(" ", -1).length == toks.length)
      // 3. at stride == size, chunks tile the text exactly
      if (stride == size)
        assert(chunks.mkString(" ") == text)
    }
  }

  test("MG sketch bounds hold over randomized zipf-ish streams") {
    val rnd = new scala.util.Random(2028)
    for (trial <- 1 to 5) {
      val k = Seq(8, 16, 32)(trial % 3)
      val items = (1 to 8000).map { _ =>
        // zipf-ish: item id = floor(1/u) capped
        val u = math.max(rnd.nextDouble(), 1e-4)
        s"i${math.min((1 / u).toInt, 500)}"
      }
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = items.size
      val sk = items.toDF("tok").repartition(1 + rnd.nextInt(16))
        .agg(HeavyHitters.mgSketch(k)(col("tok"))).head()
        .getMap[String, Long](0)
      assert(sk.size <= k, s"trial $trial: ${sk.size} counters > k=$k")
      val err = n.toDouble / (k + 1)
      for ((item, c) <- truth) {
        if (c > err)
          assert(sk.contains(item),
            s"trial $trial: recall violated for $item (count $c > n/(k+1)=$err)")
        sk.get(item).foreach { est =>
          assert(est <= c, s"trial $trial: $item overcounted $est > $c")
          assert(est >= c - err,
            s"trial $trial: $item undercounted past bound ($est < $c - $err)")
        }
      }
    }
  }
}
