package graft

import graft.catalog.SparkCatalogClient
import graft.config.{ConfigError, JobConfig}
import graft.sources.{IncrementalSource, JdbcSource, ParquetSource}
import graft.state.FileBookmarkStore

/** CLI entry point — the engine-side equivalent of the reference job's
  * argument surface (`utils.get_job_args`, jdbc_incremental.py:238-306),
  * minus the AWS-isms. `--key value` pairs:
  *
  * required: --job-name --source (dir:PATH | jdbc:URL) --table-config JSON
  *           --target-location --target-database --target-format
  * optional: --target-table-prefix --source-table-prefix
  *           --job-index N --num-jobs N       (D1 md5 sharding)
  *           --hashfield COL --hashpartitions N (parallel JDBC read)
  *           --bookmarks PATH (default <target-location>/_bookmarks.json)
  */
object Main {

  def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, "arguments must be --key value pairs")
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new ConfigError(s"bad argument pair: ${other.mkString(" ")}")
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    def req(k: String): String =
      a.getOrElse(k, throw new ConfigError(s"missing required argument --$k"))

    val config = JobConfig(
      jobName = req("job-name"),
      sourceTablePrefix = a.getOrElse("source-table-prefix", ""),
      targetLocation = req("target-location"),
      targetDatabase = req("target-database"),
      targetFormat = req("target-format"),
      tables = JobConfig.parseTableConfig {
        val tc = req("table-config")
        // @path reads the JSON from a file (shells and launchers mangle
        // inline quotes)
        if (tc.startsWith("@"))
          new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tc.drop(1))))
        else tc
      },
      targetTablePrefix = a.getOrElse("target-table-prefix", ""),
      jobIndex = a.getOrElse("job-index", "0").toInt,
      numJobs = a.getOrElse("num-jobs", "1").toInt,
      hashField = a.get("hashfield"),
      hashPartitions = a.get("hashpartitions").map(_.toInt))

    val builder = Sessions.builder().appName(config.jobName)
    // spark-submit provides spark.master; standalone runs default to local
    if (!sys.props.contains("spark.master"))
      builder.master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
    val spark = builder.getOrCreate()

    val source: IncrementalSource = req("source") match {
      case s if s.startsWith("dir:")  => new ParquetSource(s.drop(4))
      case s if s.startsWith("jdbc:") =>
        new JdbcSource(s, Map.empty, config.hashField, config.hashPartitions.getOrElse(1))
      case other => throw new ConfigError(s"source must be dir:PATH or jdbc:URL, got $other")
    }

    val catalog = new SparkCatalogClient(spark)
    catalog.ensureDatabase(config.targetDatabase)
    val bookmarks = new FileBookmarkStore(
      a.getOrElse("bookmarks", s"${config.targetLocation.stripSuffix("/")}/_bookmarks.json"))

    val results = new Driver(spark, config, source, catalog, bookmarks).run()
    results.foreach { r =>
      println(s"[graft] ${r.table}: rows=${r.rowsWritten} skipped=${r.skippedEmpty}")
    }
    spark.stop()
  }
}
