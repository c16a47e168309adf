package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The swapRewriteTable crash-window contract (advisor r16): every
  * crash point of the rewrite-and-swap dance must be recoverable by
  * [[Dedup.recoverSwappedTable]], INCLUDING the window after the
  * second rename where the live table and the `_o` park coexist —
  * previously a no-op state that left a partitioned live table serving
  * empty scans (its partition specs still pointed at the vanished `_c`
  * paths) and, worse, let a subsequent rewrite persist the empty scan
  * as silent data loss. Props/fingerprint now travel WITH the rename
  * (set on `_c` before the dance), so no crash point strips geometry. */
class SwapRecoverySpec extends SparkSpec {
  import spark.implicits._

  test("recoverSwappedTable finishes an interrupted swap: partitioned " +
      "live + park coexist, live specs point at vanished _c paths") {
    val t = "swap_rec_part"
    Seq(t, t + "_o", t + "_c").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS $x"))
    // original (cell-partitioned, like the ANN codes table)
    Seq((1L, 1, 10), (2L, 2, 20), (3L, 3, 30)).toDF("vid", "cell", "code")
      .write.format("parquet").partitionBy("cell").saveAsTable(t)
    Dedup.setTableProps(spark, t, Seq(Dedup.FingerprintProp -> "3:111"))
    // crash state: original parked, rewrite renamed in (props set on _c
    // BEFORE the dance — the fixed swapRewriteTable order), park alive
    spark.sql(s"ALTER TABLE $t RENAME TO ${t}_o")
    Seq((2L, 2, 20), (3L, 3, 30)).toDF("vid", "cell", "code")
      .repartition(col("cell"))
      .write.format("parquet").partitionBy("cell").saveAsTable(t + "_c")
    Dedup.setTableProps(spark, t + "_c", Seq(Dedup.FingerprintProp -> "2:97"))
    spark.sql(s"ALTER TABLE ${t}_c RENAME TO $t")
    spark.catalog.refreshTable(t)
    // the hazard this spec pins: without recovery, the live partitioned
    // table's specs point at the vanished _c directory — scans serve
    // empty rows even though the data sits under the live location
    assert(spark.table(t).count() == 0L,
      "precondition: stale partition specs should serve empty")
    Dedup.recoverSwappedTable(spark, t)
    assert(!spark.catalog.tableExists(t + "_o"), "park must drop")
    assert(spark.table(t).select("vid").as[Long].collect().toSet
      == Set(2L, 3L), "recovered live table must serve the rewrite")
    // the fingerprint travelled with the rename — geometry never lost
    assert(Dedup.tableFingerprint(spark, t).contains("2:97"))
    // idempotent: a second recovery call is a no-op
    Dedup.recoverSwappedTable(spark, t)
    assert(spark.table(t).count() == 2L)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("recoverSwappedTable finishes an interrupted swap on a plain " +
      "(bucketed-family) table and restores a between-renames park") {
    val t = "swap_rec_flat"
    Seq(t, t + "_o", t + "_c").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS $x"))
    Seq((1L, "a"), (2L, "b")).toDF("corpus_id", "v")
      .write.format("parquet").saveAsTable(t)
    // live + park coexist (crash after second rename)
    spark.sql(s"ALTER TABLE $t RENAME TO ${t}_o")
    Seq((2L, "b")).toDF("corpus_id", "v")
      .write.format("parquet").saveAsTable(t)
    Dedup.recoverSwappedTable(spark, t)
    assert(!spark.catalog.tableExists(t + "_o"))
    assert(spark.table(t).count() == 1L)
    // between-renames crash (live absent, park present): park restores
    spark.sql(s"ALTER TABLE $t RENAME TO ${t}_o")
    Dedup.recoverSwappedTable(spark, t)
    assert(spark.catalog.tableExists(t) &&
      !spark.catalog.tableExists(t + "_o"))
    assert(spark.table(t).count() == 1L)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
