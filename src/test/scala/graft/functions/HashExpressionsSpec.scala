package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class HashExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("rolling_hash matches the definition, through codegen") {
    def ref(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
    val inputs = Seq("", "a", "abc", "the quick brown fox", "x" * 5000)
    val out = inputs.toDF("s")
      .select(GraftFunctions.rolling_hash(col("s"))).as[Long].collect()
    assert(out.toSeq == inputs.map(ref))
    // direct impl agrees (interpreted path)
    assert(RollingHashImpl.compute(UTF8String.fromString("abc")) == ref("abc"))
  }

  test("byte_histogram counts every byte into its bin, through codegen") {
    val payloads = Seq(
      Array[Byte](0, 31, 32, -1, -128),        // bins 0,0,1,7,4 at width 32
      Array.empty[Byte],
      Array.tabulate[Byte](256)(_.toByte))     // uniform: 32 per bin
    val out = payloads.toDF("p")
      .select(GraftFunctions.byte_histogram(col("p"), 8)).as[Seq[Long]].collect()
    assert(out(0) == Seq(2L, 1L, 0L, 0L, 1L, 0L, 0L, 1L))
    assert(out(1) == Seq.fill(8)(0L))
    assert(out(2) == Seq.fill(8)(32L))
    assert(out.forall(h => h.sum == h.sum && h.forall(_ >= 0)))
    // total preservation: every byte lands in exactly one bin
    assert(out.zip(payloads).forall { case (h, p) => h.sum == p.length })
    // direct impl agrees (interpreted path)
    val direct = ByteHistogramImpl.compute(payloads(0), 8)
    assert((0 until 8).map(direct.getLong) == out(0))
  }

  test("marker_counts: one pass scores all vocabularies, through codegen") {
    val vocabs = Seq(Seq("the", "a"), Seq("der", "die"), Seq("a", "der"))
    val df = Seq(
      (1L, Seq("the", "a", "the", "zz")),
      (2L, Seq("der", "die", "der")),
      (3L, Seq.empty[String]),
      (4L, Seq("a", "der", "a"))
    ).toDF("id", "toks")
      .select(col("id"), GraftFunctions.marker_counts(col("toks"), vocabs).as("c"))
    val m = df.as[(Long, Seq[Int])].collect().toMap
    // per-vocab counts: tokens shared between vocabs count in each
    assert(m(1L) == Seq(3, 0, 1))
    assert(m(2L) == Seq(0, 3, 2))
    assert(m(3L) == Seq(0, 0, 0))
    assert(m(4L) == Seq(2, 1, 3))
    // agrees with the builtin filter+array_contains composition
    val toks = Seq((1L, Seq("the", "a", "the", "zz")), (4L, Seq("a", "der", "a")))
      .toDF("id", "toks")
    val viaBuiltins = toks.select(col("id"),
      vocabs.map(v => size(filter(col("toks"),
        t => array_contains(array(v.map(lit): _*), t)))).reduce((a, b) =>
        a * 100 + b).as("packed")).as[(Long, Int)].collect().toMap
    val viaNative = toks.select(col("id"),
      (0 until 3).map(i => element_at(
        GraftFunctions.marker_counts(col("toks"), vocabs), i + 1))
        .reduce((a, b) => a * 100 + b).as("packed")).as[(Long, Int)].collect().toMap
    assert(viaBuiltins == viaNative)
  }

  test("simhash64: identical token sets collide, disjoint ones differ") {
    val df = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "d")),
      (3L, Seq("w", "x", "y", "z", "q", "r", "s", "t"))
    ).toDF("id", "toks").select(col("id"), GraftFunctions.simhash64(col("toks")).as("h"))
    val m = df.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L))
  }

  test("simhash_wide: part 0 == simhash64, parts independent, through codegen") {
    val rnd = new scala.util.Random(13)
    val toksSeq = Seq.fill(50)(Seq.fill(40)(s"w${rnd.nextInt(60)}"))
    val df = toksSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "toks")
    val out = df.select(col("id"),
        GraftFunctions.simhash64(col("toks")).as("h64"),
        GraftFunctions.simhash_wide(col("toks"), 2).as("hw"))
      .as[(Long, Long, Seq[Long])].collect()
    // part 0 is exactly the classic simhash (basis ^ 0 = basis)
    assert(out.forall { case (_, h64, hw) => hw.length == 2 && hw.head == h64 })
    // part 1 is an independent re-seeded fingerprint, not a copy
    assert(out.count { case (_, _, hw) => hw.head == hw(1) } < 5)
    // codegen result == direct impl (interpreted path)
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val direct = toksSeq.map(t => SimHashWideImpl.compute(
      new GenericArrayData(t.map(s => UTF8String.fromString(s): Any).toArray),
      2).toLongArray().toSeq)
    assert(out.sortBy(_._1).map(_._3).toSeq == direct)
  }

  test("simhash hamming distance grows with token divergence") {
    val base = (1 to 40).map(i => s"tok$i")
    def sig(toks: Seq[String]): Long = {
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      SimHash64Impl.compute(new GenericArrayData(
        toks.map(t => UTF8String.fromString(t)).toArray[Any]))
    }
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val near = ham(sig(base), sig(base.updated(0, "changed")))
    val far = ham(sig(base), sig((1 to 40).map(i => s"other$i")))
    assert(near < far)
    assert(near <= 8)
  }


  test("ham_xor equals the zip_with/aggregate HOF form, through codegen") {
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(60)((Array.fill(16)(rnd.nextLong()), Array.fill(16)(rnd.nextLong()))) ++
      Seq((Array.fill(16)(7L), Array.fill(16)(7L)))            // identical -> 0
    val df = rows.toDF("a", "b")
    val out = df.select(
      GraftFunctions.ham_xor(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"),
          (x, y) => call_function("bit_count", x.bitwiseXOR(y)).cast("int")),
        lit(0), (acc, h) => acc + h).as("hof"))
      .as[(Int, Int)].collect()
    assert(out.forall(r => r._1 == r._2))
    assert(out.last._1 == 0)
    // direct impl agrees (interpreted path)
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val (a0, b0) = rows.head
    val direct = HamXorImpl.compute(
      new GenericArrayData(a0.map(x => Long.box(x): Any)),
      new GenericArrayData(b0.map(x => Long.box(x): Any)))
    assert(direct == out.head._1)
    // null on either side -> null (BinaryExpression null semantics)
    val nulls = Seq((Some(Array(1L)), Option.empty[Array[Long]])).toDF("a", "b")
      .select(GraftFunctions.ham_xor(col("a"), col("b"))).collect()
    assert(nulls.head.isNullAt(0))
  }


  test("srp_sketch is scale-invariant, word-stable vs seeds, through codegen") {
    val rnd = new scala.util.Random(23)
    val vecs = Seq.fill(40)(Array.fill(16)(rnd.nextGaussian()))
    val df = vecs.map(v => (v, v.map(_ * 2.5))).toDF("v", "v25")
    val out = df.select(
      GraftFunctions.srp_sketch(col("v"), 16, 62, 1L << 32),
      GraftFunctions.srp_sketch(col("v25"), 16, 62, 1L << 32),
      GraftFunctions.srp_sketch(col("v"), 16, 62, 2L << 32))
      .as[(Seq[Long], Seq[Long], Seq[Long])].collect()
    // positive scaling never flips a projection sign: sketches identical
    assert(out.forall(r => r._1 == r._2))
    // a different seed base must draw different planes in every word
    assert(out.forall(r => r._1.zip(r._3).count { case (a, b) => a == b } < 3))
    assert(out.forall(r => r._1.size == 16))
    // codegen result == direct impl (interpreted path)
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val direct = SrpSketchImpl.compute(
      new GenericArrayData(vecs.head.map(x => Double.box(x): Any)), 16, 62, 1L << 32)
    assert((0 until 16).map(direct.getLong) == out.head._1)
  }

  test("srp_signature is scale-invariant and seed-sensitive, through codegen") {
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(50)(Array.fill(64)(rnd.nextGaussian()))
    val df = vecs.map(v => (v, v.map(_ * 1.5), v.map(_ * 0.01))).toDF("v", "v15", "v001")
    val out = df.select(
      GraftFunctions.srp_signature(col("v"), 32),
      GraftFunctions.srp_signature(col("v15"), 32),
      GraftFunctions.srp_signature(col("v001"), 32),
      GraftFunctions.srp_signature(col("v"), 32, seed = 1L))
      .as[(Long, Long, Long, Long)].collect()
    // sign(<c·v, s>) == sign(<v, s>) for c > 0: the signature ignores norm
    assert(out.forall(r => r._1 == r._2 && r._1 == r._3))
    // an independent table (different seed) must not reuse the hyperplanes
    assert(out.count(r => r._1 == r._4) < 5)
    // codegen result == direct impl (interpreted path)
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val direct = vecs.map(v =>
      SrpSignatureImpl.compute(new GenericArrayData(v.map(x => Double.box(x): Any)), 32, 0L))
    assert(out.map(_._1).toSeq == direct)
  }

  test("vec_mat_cosines agrees with the pairwise cosine definition") {
    val rnd = new scala.util.Random(13)
    val mat = Array.fill(7)(Array.fill(16)(rnd.nextGaussian()))
    val vecs = Seq.fill(20)(Array.fill(16)(rnd.nextGaussian()))
    val out = vecs.toDF("v")
      .select(GraftFunctions.vec_mat_cosines(col("v"), mat))
      .as[Seq[Double]].collect()
    def cos(a: Array[Double], b: Array[Double]): Double = {
      def dot(x: Array[Double], y: Array[Double]) = {
        var acc = 0.0; var i = 0
        while (i < x.length) { acc += x(i) * y(i); i += 1 }; acc
      }
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    vecs.zip(out).foreach { case (v, sims) =>
      assert(sims.length == mat.length)
      mat.zip(sims).foreach { case (row, s) => assert(s == cos(v, row)) }
    }
  }
}
