package graft.tables

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet-backed table catalog for the synthetic TPC-H-ish star schema
  * (see /root/repo/TESTDATA.md).
  *
  * In the reference (seaserpent/base.py:61 `Table.__init__`) a "table" is a
  * remote SeaTable entity reached over HTTP; here a table is a parquet scan
  * whose filters/projections Catalyst pushes into the reader — the zero-copy
  * Spark-native analog of the reference's "SQL is executed server-side".
  *
  * Scale note: at 100 TB these readers are the only data entry point, so all
  * operators downstream inherit partition pruning / predicate pushdown from
  * the scan. No collect(), no driver-side materialization here.
  *
  * Every parquet read (every table here, [[registerViews]], and through
  * them every SparkEntry query and graft.api request, plus
  * `TableIO.fromParquet`) goes through [[parquet]], which infers a path's
  * schema once per state of its files. Spark's own inference runs a
  * one-task job on every `spark.read.parquet`, even with mergeSchema off;
  * a hit reads with the remembered schema and runs no job. The contract:
  *  - the key is the path, a digest of every leaf file under it as
  *    (path, length, modification time) from a driver-side Hadoop
  *    listing, and the session confs that change what inference returns
  *    ([[ParquetSchemas.InferenceConfs]]);
  *  - only the inferred StructType is kept. The file listing and the
  *    relation are not: Spark lists the files on every read, so a
  *    rewritten table is always read fresh. (A cached listing is exactly
  *    the stale-file-list defect the `maintained` benchmark workload
  *    reports as `unrefreshed_failures`; caching listings here would
  *    spread it to every table.)
  *  - a miss infers exactly as Spark does, `spark.read.parquet(path)`, and
  *    a failure (missing path, no files) surfaces as Spark's own error;
  *  - thread-safe, bounded by a fixed-size LRU.
  */
object Tables {
  private val schemas = new ParquetSchemas(bound = 128)

  /** Read the parquet file or directory at `path` with its schema inferred
    * once per file state (see the object doc). Partition directories come
    * back as prunable partition columns, as with `spark.read.parquet`. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    schemas.read(spark, path)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.parquet carries TIMESTAMP(NANOS). Depending on the reader it
    * surfaces as nanos in a LONG (older readers under the legacy
    * `nanosAsLong` conf) or as a micros-truncated TIMESTAMP_NTZ; either
    * way `ts` comes back as a microsecond TimestampType. The LONG branch
    * divides as integers (ns values exceed 2^53, so a double division
    * would corrupt them); truncation toward zero matches DuckDB's ns→µs
    * cast for post-1970 data. The conf is left as the caller set it: it
    * is part of every table's schema-cache key, so setting it here would
    * make each table loaded earlier in the session infer once more. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // ops downstream use unix_micros, which requires TimestampType
        // — cast NTZ → TZ.
        // The cast is only epoch-correct when the session zone is UTC.
        // Every session this library owns (Verify/Bench/PlanAudit/specs)
        // pins it, but this is a public entry point: a caller-built
        // session in another zone would silently shift every epoch, so
        // pin the conf here too (session-wide — timestamps in this
        // library are UTC by contract).
        s.conf.set("spark.sql.session.timeZone", "UTC")
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table as a temp view (analog of the reference's
    * `Table.query` raw-SQL path, base.py:1616). */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    // SQL over these views may name a native function
    graft.functions.GraftFunctions.ensureRegistered(spark)
    all.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
  }
}

/** The parquet schema cache behind [[Tables.parquet]]: an LRU of at most
  * `bound` inferred schemas, keyed by the state of a path's files. */
private[tables] final class ParquetSchemas(bound: Int) {
  private type Key = (String, Seq[Option[String]], Seq[Byte])

  private val cache = new java.util.LinkedHashMap[Key, StructType](16, 0.75f, true) { lru =>
    override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean =
      lru.size() > bound
  }

  def size: Int = cache.synchronized(cache.size)

  def read(spark: SparkSession, path: String): DataFrame = {
    val key = state(spark, path)
    val schema = key.flatMap(k => cache.synchronized(Option(cache.get(k)))).getOrElse {
      val inferred = spark.read.parquet(path).schema
      // a writer that changed the files while inference ran may have left
      // a state this schema does not describe: keep it only if none did
      if (key.isDefined && key == state(spark, path))
        cache.synchronized(cache.put(key.get, inferred))
      inferred
    }
    spark.read.schema(schema).parquet(path)
  }

  /** The key for `path` now: the path, the inference confs and a digest of
    * every leaf file's (path, length, modification time); None when the
    * path cannot be listed, so Spark's own read reports why. */
  private def state(spark: SparkSession, path: String): Option[Key] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves) else Seq(st)
    try Option(fs.globStatus(p)).filter(_.nonEmpty).map { roots =>
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      roots.toSeq.flatMap(leaves)
        .map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n")
        .sorted.foreach(line => digest.update(line.getBytes(UTF_8)))
      (path, ParquetSchemas.InferenceConfs.map(spark.conf.getOption),
        digest.digest().toSeq)
    } catch { case _: java.io.IOException => None }
  }
}

private[tables] object ParquetSchemas {
  /** Session confs that change the schema parquet inference returns. */
  val InferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")
}
