package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PcaSpec extends SparkSpec {
  import spark.implicits._

  test("pc1 matches a dense driver-side power iteration") {
    // synthetic correlated features (a large eigengap — the regime the
    // operator is FOR; near-isotropic data has no meaningful PC1)
    val rnd = new scala.util.Random(11)
    val raw = (1 to 300).map { _ =>
      val a = rnd.nextGaussian() * 8.0
      val b = rnd.nextGaussian()
      Array((a + 0.1 * b).toFloat, (2.0 * a - b).toFloat,
        (0.5 * b + 1.0).toFloat, (a + 3.0).toFloat)
    }
    val df = raw.map(Tuple1(_)).toDF("f")
    val out = Pca.pc1(df, "f").orderBy("pos")
      .as[(Int, Double, Double)].collect()
    val loadings = out.map(_._2)
    val evShare = out.head._3
    assert(out.forall(_._3 == evShare)) // constant column

    // dense, unquantized driver reference
    val vecs = raw.map(_.map(_.toDouble))
    val n = vecs.length; val d = vecs.head.length
    val mean = Array.tabulate(d)(j => vecs.map(_(j)).sum / n)
    val cov = Array.tabulate(d, d) { (j, k) =>
      vecs.map(v => (v(j) - mean(j)) * (v(k) - mean(k))).sum / (n - 1)
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 1 to 200) {
      val w = Array.tabulate(d)(j => (0 until d).map(k => cov(j)(k) * v(k)).sum)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / nrm)
    }
    val lam = {
      val w = Array.tabulate(d)(j => (0 until d).map(k => cov(j)(k) * v(k)).sum)
      math.sqrt(w.map(x => x * x).sum)
    }
    val trace = (0 until d).map(j => cov(j)(j)).sum
    // align sign (power iteration may converge to -v)
    val sign = if (v.zip(loadings).map(p => p._1 * p._2).sum < 0) -1.0 else 1.0
    val maxDiff = v.zip(loadings).map(p => math.abs(p._1 * sign - p._2)).max
    assert(maxDiff < 1e-3, s"loadings off by $maxDiff")
    assert(math.abs(evShare - lam / trace) < 1e-3,
      s"ev_share $evShare vs ${lam / trace}")
    // unit vector, well-formed share
    val nrm = math.sqrt(loadings.map(x => x * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-5)
    assert(evShare > 0.0 && evShare <= 1.0)
  }

  test("pc1 recovers a planted dominant direction") {
    // points spread along e0 with small noise on e1: PC1 ≈ ±e0
    val rnd = new scala.util.Random(5)
    val rows = (1 to 200).map { _ =>
      val t = rnd.nextGaussian() * 10.0
      val noise = rnd.nextGaussian() * 0.1
      Array(t.toFloat, noise.toFloat, 0.0f, 0.0f)
    }
    val df = rows.map(Tuple1(_)).toDF("embedding")
    val out = Pca.pc1(df, "embedding").orderBy("pos")
      .as[(Int, Double, Double)].collect()
    assert(math.abs(math.abs(out(0)._2) - 1.0) < 1e-3)
    assert(out.head._3 > 0.99)
  }

  test("pc1 rejects a single vector and ragged vectors by name") {
    val one = Seq(Tuple1(Array(1.0f, 2.0f))).toDF("f")
    val e1 = intercept[IllegalArgumentException](Pca.pc1(one, "f"))
    assert(e1.getMessage.contains("at least 2 non-null vectors"), e1.getMessage)
    val ragged = Seq(Tuple1(Array(1.0f, 2.0f)), Tuple1(Array(3.0f, 4.0f, 5.0f)),
      Tuple1(Array(0.5f, 1.5f))).toDF("f")
    val e2 = intercept[IllegalArgumentException](Pca.pc1(ragged, "f"))
    assert(e2.getMessage.contains("one dimension"), e2.getMessage)
    assert(e2.getMessage.contains("2 to 3"), e2.getMessage)
  }
}
