package etlbench

/** Per-layer metric names and how a traced op's snapshot maps onto them.
  * Every name is printed on every workload; a layer a workload does not
  * use reads 0.
  */
object Metrics {
  val CatalogMethods: Seq[String] =
    Seq("tableExists", "getTable", "createTable", "updateTable", "addPartition", "setTableProperties")

  /** name → unit, in print order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "driver.jobs_per_table" -> "count",
    "driver.table_s" -> "s",
    "sources.probe_s" -> "s",
    "sources.resolve_s" -> "s",
    "sources.rows_read_per_row" -> "ratio",
    "operators.stats_s" -> "s") ++
    CatalogMethods.map(m => s"catalog.calls_per_table.$m" -> "count") ++ Seq(
    "catalog.busy_s" -> "s",
    "sinks.write_s" -> "s",
    "sinks.register_s" -> "s",
    "sinks.files_per_partition" -> "count",
    "state.commit_s" -> "s",
    "spark.jobs_per_op" -> "count",
    "spark.core_util" -> "ratio",
    "spark.failed_tasks" -> "count",
    "index.ingest_jobs" -> "count",
    "index.probe_jobs" -> "count",
    "index.commit_s" -> "s",
    "index.read_s" -> "s",
    "index.pairs_per_op" -> "count",
    "functions.minhash_rows_per_s" -> "1/s",
    "trace.op_s_p50_off" -> "s",
    "trace.op_s_p50_on" -> "s",
    "trace.overhead_ratio" -> "ratio")

  /** Per-layer values of one traced `Driver.run()` over `tables` tables. */
  def etl(s: Snapshot, opS: Double, tables: Int, rows: Long, files: Long, partitions: Long,
      cores: Int): Map[String, Double] =
    Map(
      "driver.jobs_per_table" -> s.jobs.toDouble / tables,
      "driver.table_s" -> opS / tables,
      "sources.probe_s" -> s.layer("sources.probe"),
      "sources.resolve_s" -> s.busy("sources."),
      "sources.rows_read_per_row" -> s.sourceRowsRead.toDouble / rows,
      "operators.stats_s" -> s.layer("operators.stats"),
      "catalog.busy_s" -> s.busy("catalog."),
      "sinks.write_s" -> s.layer("sinks.write"),
      "sinks.register_s" -> s.layer("sinks.register"),
      "sinks.files_per_partition" -> files.toDouble / partitions,
      "state.commit_s" -> s.busy("state.commit"),
      "spark.jobs_per_op" -> s.jobs.toDouble,
      "spark.core_util" -> s.taskBusySeconds / (opS * cores),
      "spark.failed_tasks" -> s.failedTasks.toDouble) ++
      CatalogMethods.map(m => s"catalog.calls_per_table.$m" -> s.callsOf(s"catalog.$m").toDouble / tables)
}
