package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** The one local session builder of graft's mains and tools. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else every core of this machine. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cpus]` with as many shuffle partitions, the UTC session zone
    * graft's timestamps assume, no UI, WARN logging and the native
    * functions' SQL names installed; `conf` is applied last.
    *
    * The generated-class cache holds 10000 entries instead of Spark's
    * 100: when a main cycles through many queries more than once (Bench's
    * interleaved passes), the small cache evicts each query's codegen
    * units before the query runs again, and every later pass re-pays
    * Janino compilation (~0.1-0.2 s per query and pass) instead of
    * measuring execution. */
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .withExtensions(GraftExtensions.inject)
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
