package perfbench

object Workloads {
  /** A SparkEntry query as one op of the `queries` layer, checked by its
    * own oracle. */
  def query(c: Ctx, name: String, in: Long): Op =
    Op(name, name, "queries", graft.SparkEntry.oracleSql.getOrElse(name, ""), in,
      t => c.exec(t, "queries", graft.SparkEntry.queries(name)(c.spark, c.dir)))

  /** Open every input table through the catalog: listing, footers and
    * schema, as a session does before its first request. */
  def registerTables(c: Ctx, t: Tracer): Unit = t.span("tables.load") {
    graft.tables.Tables.registerViews(c.spark, c.dir)
    graft.tables.Tables.all.foreach(n => c.spark.table(n).schema)
  }
}
