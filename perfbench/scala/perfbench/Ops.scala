package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.DataType

/** What an op returned: the schema and the collected rows, which are
  * checked after the timed loop. */
final case class Result(cols: Seq[(String, DataType)], rows: Array[Row])

/** One request of a workload. `key` names the (template, parameters) pair;
  * `sql` is the DuckDB statement that must give the same rows ("" when the
  * check is done another way); `inputRows` is the rows the op reads.
  * `prepare` runs untimed just before `run`; what it returns is an extra
  * result of the same request, checked but not counted as an op. */
final case class Op(kind: String, key: String, layer: String, sql: String,
                    inputRows: Long, run: Tracer => Result,
                    prepare: () => Option[Result] = () => None)

/** Shared plumbing for the workloads: where the inputs are and how an op's
  * DataFrame is planned and executed under spans. */
final class Ctx(val spark: SparkSession, val dir: String, val work: String, val seed: Long) {
  val rng = new scala.util.Random(seed)

  /** Build, plan and execute `df` under spans named after `layer`. */
  def exec(t: Tracer, layer: String, df: => DataFrame): Result = {
    val d = t.span(layer + ".build")(df)
    t.span(layer + ".plan")(d.queryExecution.executedPlan)
    val rows = t.span("spark.execute")(d.collect())
    Result(d.schema.fields.map(f => (f.name, f.dataType)).toSeq, rows)
  }

  def load(t: Tracer, name: String): DataFrame =
    t.span("tables.load")(graft.tables.Tables.load(spark, dir, name))

  def rows(name: String): Long = Inputs.rows(dir, name)
}

/** Row counts of the generated inputs, read once from the generator's
  * manifest. */
object Inputs {
  private val cache = scala.collection.mutable.Map[String, Map[String, Long]]()
  def rows(dir: String, name: String): Long = synchronized {
    cache.getOrElseUpdate(dir, {
      val src = scala.io.Source.fromFile(s"$dir/manifest.tsv")
      try src.getLines().map(_.split("\t")).map(a => a(0) -> a(1).toLong).toMap
      finally src.close()
    }).getOrElse(name, 0L)
  }
}

/** A workload: set-up (repeatable), then a closed loop over `next`. */
trait Workload {
  /** Build the state the timed part needs; `rep` numbers the repetitions. */
  def setup(t: Tracer, rep: Int): Unit
  /** The next op of the timed stream. */
  def next(): Op
  /** True when the stream sits at a round boundary. */
  def atBoundary: Boolean
  /** Reference jobs timed before each op: enough that a run's few long
    * ops still give a steady median. */
  def referencesPerOp: Int = 1
  /** Whether the reference job runs a task on every core, as the
    * workload's own stages do, or one task, as driver-bound ops do. */
  def referenceOnAllCores: Boolean = false
  /** Stops what the workload started. */
  def close(): Unit = ()
  /** Workload-specific end-to-end figures, computed after the loop. */
  def extra(done: Seq[(Op, Double)]): Seq[(String, Double, String)] = Nil
}
