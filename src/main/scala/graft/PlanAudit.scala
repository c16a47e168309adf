package graft

import org.apache.spark.sql.execution.FormattedMode

/** Diagnostic main: dump formatted physical plans for the headline queries
  * so scan pushdown (PushedFilters), column pruning (ReadSchema), join
  * strategies (BroadcastHashJoin vs SortMergeJoin) and codegen spans can be
  * audited per round. Usage: runMain graft.PlanAudit [sfDir] [query...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // default: EVERY SparkEntry query (r8 verdict: a partial audit can't
    // prove the simple r1-r4 plans STAYED pushed-down after shared-code
    // edits); pass names to audit a subset during iteration
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries.get(n) match {
        case Some(f) => println(f(spark, sfDir).queryExecution.explainString(FormattedMode))
        case None => println(s"unknown query '$n'")
      }
    }
    spark.stop()
  }
}
