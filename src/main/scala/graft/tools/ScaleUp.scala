package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Synthesizes an N× scale-up of a testdata directory for LOCAL scaling
  * checks (BENCH_sf1): each fact table becomes `copies` disjoint shards
  * with key columns shifted by shard·OFFSET, so join fan-outs and group
  * sizes stay realistic (10× more groups, not 10× bigger groups — except
  * the deliberately global groupings like o_orderstatus, which grow 10×
  * and exercise exactly the scale path they document).
  *
  * Content columns are perturbed per shard so CROSS-shard rows are not
  * near-duplicates of each other — otherwise every doc/vector would gain
  * 9 planted twins and the dedup/LSH queries would measure a
  * quadratically-degenerate corpus instead of scaling:
  *   - documents.text: per-shard alphabet rotation (injective char map —
  *     intra-shard similarity structure is preserved exactly, cross-shard
  *     token vocabularies are disjoint);
  *   - embeddings: per-(element, shard) deterministic ±30% scaling —
  *     intra-shard geometry is distorted but consistent; cross-shard
  *     cosines between INDEPENDENT vectors drop well below the near-dup
  *     thresholds, but same-origin copies concentrate near cos ≈ 0.97
  *     (CLT over the element multipliers), so every vector gains a
  *     `copies`-member near-threshold clique — pair mass quadratic in
  *     `copies` BY CONSTRUCTION. That models boilerplate/template mass
  *     and is exactly what broke q_dedup_embed_lsh's candidate stream at
  *     copies=1000 (BENCH_sf100_r9 finding); it does NOT model a corpus
  *     of independent documents at that scale.
  * Shard 0 is byte-identical to the source, so id-pinned query sets
  * (vec_id < 5 etc.) see the original rows.
  *
  * Dimensions (region, nation) are copied unshifted: their keys are
  * foreign keys of unshifted columns (c_nationkey) on every shard.
  */
object ScaleUp {
  val Offset = 100000000L

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_SCALE_DST", "/root/repo/target/sf1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors(),
      "spark.sql.shuffle.partitions" -> "32")

    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    def sharded(df: DataFrame)(tx: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => tx(df, i)).reduce(_ unionByName _)
    def shiftKeys(df: DataFrame, i: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * Offset)))

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name done")
    }

    write("region", Tables.region(spark, src))
    write("nation", Tables.nation(spark, src))
    write("customer", sharded(Tables.customer(spark, src))(shiftKeys(_, _, "c_custkey")))
    write("supplier", sharded(Tables.supplier(spark, src))(shiftKeys(_, _, "s_suppkey")))
    write("part", sharded(Tables.part(spark, src))(shiftKeys(_, _, "p_partkey")))
    write("orders", sharded(Tables.orders(spark, src))(
      shiftKeys(_, _, "o_orderkey", "o_custkey")))
    write("lineitem", sharded(Tables.lineitem(spark, src))(
      shiftKeys(_, _, "l_orderkey", "l_partkey", "l_suppkey")))
    write("events", sharded(Tables.events(spark, src))(
      shiftKeys(_, _, "event_id", "user_id")))
    write("documents", sharded(Tables.documents(spark, src)) { (df, i) =>
      // Rotation is only injective ACROSS shards for i < 26 — drop(i) of a
      // 26-char alphabet is empty beyond that, silently degenerating to
      // the IDENTITY map (shards 26+ would be byte-identical to shard 0,
      // planting ~copies-26 exact duplicates per doc and quadratically
      // corrupting every dedup measurement). Shards i >= 26 instead tag
      // every token with a shard prefix: an injective token map
      // (intra-shard similarity structure exactly preserved) with fully
      // disjoint cross-shard vocabularies; i < 26 keeps the rotation so
      // recorded copies<=26 runs stay reproducible.
      val rot = alphabet.drop(i % 26) + alphabet.take(i % 26)
      shiftKeys(df, i, "doc_id")
        .withColumn("text",
          if (i == 0) col("text")
          else if (i < 26) translate(col("text"), alphabet, rot)
          else concat(lit(s"s${i}x"),
            regexp_replace(col("text"), " ", s" s${i}x")))
    })
    write("embeddings", sharded(Tables.embeddings(spark, src)) { (df, i) =>
      val elemType = df.schema("embedding").dataType
      // hash-derived per-(shard, element) multiplier in [0.70, 1.30]: the
      // old (k*31 + i*17) % 7 formula had only SEVEN distinct per-shard
      // patterns, so shards sharing i mod 7 carried byte-identical
      // perturbations — cross-shard cosine-1 twins that corrupt the
      // near-dup measurements at copies > 7; a 64-bit hash gives every
      // shard its own pattern at any copy count
      shiftKeys(df, i, "vec_id")
        .withColumn("embedding",
          if (i == 0) col("embedding")
          else transform(col("embedding").cast("array<double>"),
            (x, k) => x * (lit(1.0) +
              (pmod(xxhash64(lit(i), k), lit(61)).cast("double") - 30) / 100.0))
            .cast(elemType))
    })
    spark.stop()
  }
}
