package graft.tables

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.api.{Table, TableIO}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** The catalog's parquet schema cache (Tables.parquet): a load of files in
  * a state already seen runs no Spark job, and any change to the files is
  * read fresh. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Spark jobs `body` starts from this thread. A marker job run after it
    * drains the listener bus: events arrive in order, so once the marker's
    * start is seen, every job `body` started has been counted. */
  private def jobsIn(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "drain") drained.countDown()
          else jobs.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      body
      sc.setJobGroup(group, "drain")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def tempDir(): String = Files.createTempDirectory("graft_tables").toString

  private def withConf[T](key: String)(body: => T): T = {
    val saved = spark.conf.getOption(key)
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a second load of an unchanged table runs no Spark job") {
    val dir = tempDir()
    (1 to 50).map(i => (i.toLong, s"n$i")).toDF("id", "name")
      .repartition(2).write.parquet(s"$dir/t.parquet")
    assert(jobsIn(Tables.load(spark, dir, "t").schema) >= 1)
    assert(jobsIn(Tables.load(spark, dir, "t").schema) == 0)
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.count() == 50)
  }

  test("registerViews over unchanged tables runs no Spark job") {
    withConf(NanosAsLong) {
      // nanosAsLong is part of every table's key: one value for both passes
      spark.conf.set(NanosAsLong, "true")
      Tables.registerViews(spark, sf())
      assert(jobsIn {
        Tables.registerViews(spark, sf())
        Tables.all.foreach(spark.table(_).schema)
      } == 0)
    }
  }

  test("a table overwritten at the same path with a new schema is read fresh") {
    val dir = tempDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    Seq(1.5, 2.5, 3.5).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.load(spark, dir, "t")
    assert(after.columns.toSeq == Seq("x"))
    assert(after.as[Double].collect().sorted.toSeq == Seq(1.5, 2.5, 3.5))

    // a single file replaced in place: same path, only its length and
    // modification time differ
    def partFile(at: String) =
      new java.io.File(at).listFiles().filter(_.getName.endsWith(".parquet")).head.toPath
    val file = java.nio.file.Paths.get(s"$dir/f.parquet")
    Seq((7L, "q")).toDF("id", "name").coalesce(1).write.parquet(s"$dir/src1")
    Files.copy(partFile(s"$dir/src1"), file)
    assert(Tables.load(spark, dir, "f").as[(Long, String)].collect().toSeq == Seq((7L, "q")))
    Seq(Tuple1("only")).toDF("word").coalesce(1).write.parquet(s"$dir/src2")
    Files.copy(partFile(s"$dir/src2"), file, StandardCopyOption.REPLACE_EXISTING)
    val replaced = Tables.load(spark, dir, "f")
    assert(replaced.columns.toSeq == Seq("word"))
    assert(replaced.as[String].collect().toSeq == Seq("only"))
  }

  test("a file added to a multi-file table is seen by the next load") {
    val dir = tempDir()
    (1 to 40).toDF("v").repartition(2).write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").count() == 40)
    (41 to 45).toDF("v").coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    val df = Tables.load(spark, dir, "t")
    assert(df.count() == 45)
    assert(df.agg(max("v")).head().getInt(0) == 45)
  }

  test("events reads ts as TimestampType whether nanosAsLong is set or unset") {
    withConf(NanosAsLong) {
      def ts() = {
        val ev = Tables.events(spark, sf())
        assert(ev.schema("ts").dataType == TimestampType)
        ev.select(unix_micros(col("ts"))).as[Long].collect().sorted.toSeq
      }
      spark.conf.unset(NanosAsLong)
      val unset = ts()
      spark.conf.set(NanosAsLong, "true")
      assert(ts() == unset)
      // a raw load under the other setting caches its own schema, which
      // events must not pick up
      spark.conf.set(NanosAsLong, "false")
      Tables.load(spark, sf(), "events").schema
      spark.conf.unset(NanosAsLong)
      assert(ts() == unset)
      assert(unset.nonEmpty)
    }
  }

  test("events leaves nanosAsLong alone, so tables loaded before it stay cached") {
    withConf(NanosAsLong) {
      spark.conf.unset(NanosAsLong)
      val before = spark.conf.getOption(NanosAsLong)
      Tables.load(spark, sf(), "lineitem").schema
      Tables.events(spark, sf()).schema
      assert(spark.conf.getOption(NanosAsLong) == before)
      assert(jobsIn(Tables.load(spark, sf(), "lineitem").schema) == 0)
    }
  }

  test("the schema cache never holds more entries than its bound") {
    val dir = tempDir()
    val cache = new ParquetSchemas(3)
    val paths = (1 to 5).map { i =>
      val p = s"$dir/t$i.parquet"
      Seq((i.toLong, i.toDouble)).toDF("k", s"c$i").write.parquet(p)
      p
    }
    paths.foreach { p =>
      assert(cache.read(spark, p).columns.length == 2)
      assert(cache.size <= 3)
    }
    assert(cache.size == 3)
    assert(jobsIn(cache.read(spark, paths.last).schema) == 0)
    assert(jobsIn(cache.read(spark, paths.head).schema) >= 1) // evicted
    assert(cache.size == 3)
  }

  test("fromParquet reads a partitioned save back with prunable partitions") {
    val out = s"${tempDir()}/saved"
    Table(Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("id", "tag"), "t")
      .save(out, partitionBy = Seq("tag"))
    assert(jobsIn(TableIO.fromParquet(spark, out, "t").df.schema) >= 1)
    assert(jobsIn(TableIO.fromParquet(spark, out, "t").df.schema) == 0)
    val back = TableIO.fromParquet(spark, out, "t")
    assert(back.df.columns.toSeq == Seq("id", "tag"))
    val partitions = back.df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r.partitionSchema.fieldNames.toSeq }
    assert(partitions.contains(Seq("tag")))
    val a = back.df.filter(col("tag") === "A")
    assert(a.count() == 2)
    assert("PartitionFilters: \\[[^\\]]*tag".r
      .findFirstIn(a.queryExecution.executedPlan.toString).isDefined)
  }

  test("a missing path fails with Spark's own error") {
    intercept[AnalysisException](Tables.parquet(spark, s"${tempDir()}/absent.parquet"))
  }
}
