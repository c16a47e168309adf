package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** First-principal-component PCA over an embedding column — the
  * dimensionality-reduction member of the embedding family (Pearson
  * 1901; power iteration per von Mises–Geiringer). Publishes PC1's
  * per-dimension loadings and the share of total variance it explains —
  * the readout that decides whether a cheap linear projection is worth
  * shipping before ANN/clustering.
  *
  * Scale posture: the ONLY corpus-scale work is the sufficient-statistic
  * pass — per-dimension sums and the (j,k) cross-product sums, both
  * partial-agg groupBys over a scan-side double-explode fan-out (dim²
  * terms per row computed in the task, dim² ROWS shuffled total, never
  * per-pair joins). The covariance matrix is a dim²-bounded relation,
  * COLLECTED to the driver (the kmeansCodebook/centroidSnapshot
  * bounded-matrix precedent); the 12 power-iteration rounds then run
  * driver-resident on that matrix (r18, guide §5 job count — the r17
  * shape localCheckpointed a 64-row relation per round, paying ~15
  * driver-floor jobs for arithmetic over a few KB).
  *
  * Determinism (the pagerank discipline): every sum quantizes its terms
  * to DECIMAL(28,6) pre-sum (order-independent, ulp-proof), every
  * derived value is a fixed sequence of correctly-rounded IEEE ops
  * (sub/mul/div/sqrt), and the v₀ literal (1/√dim) is computed ONCE on
  * the driver and planted textually in both engines. With an
  * all-positive v₀ the iteration's sign is fixed; the oracle replays
  * all rounds as unrolled CTEs with every float op CAST AS DOUBLE. The
  * driver iteration replays Spark's own per-op semantics bit-for-bit:
  * cast(x AS DECIMAL(28,6)) is BigDecimal.valueOf(x).setScale(6,
  * HALF_UP) (Decimal.apply goes through Double.toString exactly like
  * valueOf, and changePrecision rounds HALF_UP), decimal sums are exact
  * adds, cast-to-double is BigDecimal.doubleValue — so the collected
  * fixpoint is the value the r17 distributed loop computed. */
object Pca {

  /** PC1 loadings + explained-variance share. Output: one row per
    * dimension (pos, loading 6dp, ev_share 6dp). `iters` power-iteration
    * rounds (12 separates eigenvalues ~1% apart; the spec checks
    * against a dense driver reference). */
  def pc1(embeds: DataFrame, vecCol: String, iters: Int = 12): DataFrame =
    pc1Managed(embeds, vecCol, iters)._1

  /** [[pc1]] plus a cleanup handle, kept for API stability (the r17
    * shape checkpointed two relations; the driver-resident iteration
    * holds no executor blocks, so cleanup is a no-op). */
  def pc1Managed(embeds: DataFrame, vecCol: String,
                 iters: Int = 12): (DataFrame, () => Unit) = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1,64], got $iters")
    val spark = embeds.sparkSession
    import spark.implicits._
    val D = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 6)
    // one slim aggregate for the v0 literal's dimension, which also
    // checks the input's shape: n = 1 (a zero covariance divisor) and
    // ragged vectors fail here by name, not inside the covariance collect
    val shape = embeds.filter(col(vecCol).isNotNull)
      .agg(count(lit(1)), min(size(col(vecCol))), max(size(col(vecCol)))).head()
    val n = shape.getLong(0)
    require(n > 1, s"pc1 needs at least 2 non-null vectors in $vecCol, got $n")
    val dim = shape.getInt(1)
    require(dim == shape.getInt(2),
      s"pc1 needs vectors of one dimension in $vecCol, got $dim to ${shape.getInt(2)}")
    require(dim >= 1, s"pc1 needs non-empty vectors in $vecCol")
    val v0 = 1.0 / math.sqrt(dim.toDouble)

    // sufficient statistics: S_j and SS_jk from one scan (two Generates,
    // no join) — C_jk = (SS_jk - S_j·S_k/n) / (n-1)
    val x = embeds.select(posexplode(col(vecCol)).as(Seq("j", "xj")),
        col(vecCol).as("__v"))
      .select(col("j"), col("xj").cast("double").as("xj"),
        posexplode(col("__v")).as(Seq("k", "xk")))
      .select(col("j"), col("k"), col("xj"),
        col("xk").cast("double").as("xk"))
    // per-dimension sums ride the same fan-out (each (row, j) appears
    // exactly once at k = 0) — no second scan
    val sums = x.filter(col("k") === 0).groupBy("j")
      .agg(sum(col("xj").cast(D)).cast("double").as("s"),
        count(lit(1)).as("n"))
    val cov = x.groupBy("j", "k")
      .agg(sum((col("xj") * col("xk")).cast(D)).cast("double").as("ss"))
      .join(broadcast(sums.select(col("j"), col("s").as("sj"), col("n"))), "j")
      .join(broadcast(sums.select(col("j").as("k"), col("s").as("sk"))), "k")
      .select(col("j"), col("k"),
        ((col("ss") - col("sj") * col("sk") / col("n")) /
          (col("n") - lit(1))).as("c"))

    // the dim²-bounded covariance comes to the driver; the iteration
    // runs here with Spark-exact op semantics (see class doc)
    val C = Array.ofDim[Double](dim, dim)
    cov.collect().foreach(r => C(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    def q6(v: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP)
    def sumQ6(xs: Iterator[Double]): Double =
      xs.foldLeft(java.math.BigDecimal.ZERO)((a, t) => a.add(q6(t)))
        .doubleValue
    val tr = sumQ6((0 until dim).iterator.map(j => C(j)(j)))
    def multiply(v: Array[Double]): Array[Double] =
      Array.tabulate(dim)(j =>
        sumQ6((0 until dim).iterator.map(k => C(j)(k) * v(k))))
    def norm(w: Array[Double]): Double =
      math.sqrt(sumQ6(w.iterator.map(t => t * t)))
    var v = Array.fill(dim)(v0)
    for (_ <- 1 to iters) {
      val w = multiply(v)
      val nrm = norm(w)
      v = w.map(_ / nrm)
    }
    // eigenvalue = ||C·v|| at the fixpoint (v is unit)
    val lam = norm(multiply(v))
    val out = v.zipWithIndex.map { case (vj, j) => (j, vj) }.toSeq
      .toDF("pos", "__v")
      .select(col("pos"), round(col("__v"), 6).as("loading"),
        round(lit(lam / tr), 6).as("ev_share"))
    (out, () => ())
  }
}
