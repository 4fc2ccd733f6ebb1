package etlbench

import graft.Driver
import graft.catalog.SparkCatalogClient
import graft.config.{JobConfig, SortOrder, TableConfig}
import graft.sources.ParquetSource
import graft.state.FileBookmarkStore
import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** The bootstrap every table pays once: a first-ever `Driver.run()`
  * through `ParquetSource` into a fresh target database and location.
  * The source holds three partitioned tables shaped like `lineitem`,
  * `orders` and `events`; the cost is data volume (scan, `BatchStats`,
  * partitioned write) more than per-table fixed cost. The read-only twin
  * is the next scheduled run over the same source, which finds nothing
  * new.
  */
final class ParquetBackfill(spark: SparkSession, seed: Long, work: File, size: ParquetBackfill.Size)
    extends Workload {
  import ParquetBackfill._

  val nominalCycleS = 4.0

  private var srcDir: File = _
  private lazy val sourceDigests: Map[String, (Long, BigDecimal)] = Tables.map { t =>
    val df = spark.read.parquet(new File(srcDir, s"${t.config.tableName}.parquet").getPath)
    t.config.tableName -> Fingerprint.of(df, df.columns.filterNot(t.alwaysNull.contains).toSeq)
  }.toMap

  private def rowsOf(t: TableSpec): Long = (size.rows * t.share).toLong

  def setup(rep: Int): Unit = {
    srcDir = new File(work, s"parquet/src-$rep")
    Tables.foreach { t =>
      t.generate(spark, seed, rowsOf(t), size.sourceFiles)
        .write.mode("overwrite").parquet(new File(srcDir, s"${t.config.tableName}.parquet").getPath)
    }
  }

  def op(i: Int, tracer: Tracer): OpResult = {
    val db = s"backfill_$i"
    val dir = new File(work, s"parquet/op-$i")
    val config = JobConfig(
      jobName = "etlbench-backfill", sourceTablePrefix = "", targetLocation = new File(dir, "target").getPath,
      targetDatabase = db, targetFormat = "parquet", tables = Tables.map(_.config))
    val catalog = new SparkCatalogClient(spark)
    val bookmarkFile = new File(dir, "bookmarks.json").getPath
    def run() = new Driver(spark, config, tracer.source(new ParquetSource(srcDir.getPath)),
      tracer.catalog(catalog), tracer.bookmarks(new FileBookmarkStore(bookmarkFile))).run()

    val (res, opS, snap) = tracer.timed(run())
    val (again, probeS, _) = tracer.timed(run())

    val errors = Seq.newBuilder[String]
    again.filterNot(_.skippedEmpty).foreach(r => errors += s"second run ingested ${r.rowsWritten} rows into ${r.table}")
    val bm = new FileBookmarkStore(bookmarkFile)
    var files = 0L
    var bytes = 0L
    var partitions = 0L
    Tables.foreach { t =>
      val name = t.config.tableName
      val loc = new File(dir, s"target/$name")
      if (!res.exists(r => r.table == name && r.rowsWritten == rowsOf(t)))
        errors += s"$name: expected ${rowsOf(t)} rows, run returned ${res.find(_.table == name)}"
      val expectBk = t.lastKey(seed, rowsOf(t))
      if (bm.get(name) != expectBk) errors += s"$name: bookmark ${bm.get(name)} != $expectBk"
      val written = DataFiles.list(loc)
      files += written.size
      bytes += written.values.sum
      val dirs = DataFiles.partitionDirs(loc)
      partitions += dirs.size
      val registered = spark.sessionState.catalog.listPartitions(TableIdentifier(name, Some(db)))
        .map(p => t.config.partitionCols.map(c => s"$c=${p.spec(c)}").mkString("/")).toSet
      if (registered != dirs) errors += s"$name: catalog partitions $registered != directories $dirs"
      val tgt = Fingerprint.readTarget(spark, loc.getPath, "parquet")
      val digest = Fingerprint.of(tgt, tgt.columns.toSeq)
      if (digest != sourceDigests(name)) errors += s"$name: target digest $digest != source ${sourceDigests(name)}"
    }
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    DataFiles.delete(dir)
    val rows = Tables.map(rowsOf).sum
    val layers = snap.map(s =>
      Metrics.etl(s, opS, Tables.size, rows, files, partitions, spark.sparkContext.defaultParallelism))
    OpResult(opS, probeS, rows, files, bytes, errors.result(), layers.getOrElse(Map.empty))
  }
}

object ParquetBackfill {
  /** `rows` across the three tables; each table is written as
    * `sourceFiles` files, so its scan has that many input splits.
    */
  final case class Size(rows: Long = 120000L, sourceFiles: Int = 4)

  final case class TableSpec(
      config: TableConfig,
      share: Double,
      generate: (SparkSession, Long, Long, Int) => DataFrame,
      lastKey: (Long, Long) => Map[String, String],
      alwaysNull: Set[String] = Set.empty)

  /** A seeded value in [0, m) for row `id`, column `salt`. */
  private def h(seed: Long, salt: Int, m: Long) = pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(m))
  private def text(seed: Long, salt: Int, minLen: Int, span: Int) =
    substring(sha2(concat_ws(":", lit(seed), lit(salt), col("id")), 256), lit(1), h(seed, salt + 1, span.toLong) + minLen)
  private def pick(seed: Long, salt: Int, values: Seq[String]) =
    element_at(array(values.map(lit): _*), (h(seed, salt, values.size.toLong) + 1).cast("int"))
  private def epochDays(seed: Long) = 19000L + math.floorMod(seed, 1000L)

  val Tables: Seq[TableSpec] = Seq(
    TableSpec(
      TableConfig("lineitem", Seq("l_orderkey", "l_linenumber"), SortOrder.Asc, Some("l_shipmode")), 0.65,
      (spark, seed, n, files) => spark.range(0L, n, 1L, files).select(
        (col("id") / 4).cast("long").as("l_orderkey"),
        (col("id") % 4 + 1).cast("int").as("l_linenumber"),
        h(seed, 1, 200000L).as("l_partkey"),
        (h(seed, 2, 50L) + 1).cast("int").as("l_quantity"),
        (h(seed, 3, 10000000L) / 100.0).as("l_extendedprice"),
        (h(seed, 4, 11L) / 100.0).as("l_discount"),
        date_add(lit(java.sql.Date.valueOf("1992-01-01")), h(seed, 5, 2500L).cast("int")).as("l_shipdate"),
        pick(seed, 6, Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")).as("l_shipmode"),
        text(seed, 7, 10, 34).as("l_comment")),
      (_, n) => Map("l_orderkey" -> ((n - 1) / 4).toString, "l_linenumber" -> ((n - 1) % 4 + 1).toString)),
    TableSpec(
      TableConfig("orders", Seq("o_orderkey"), SortOrder.Asc, Some("o_orderpriority")), 0.2,
      (spark, seed, n, files) => spark.range(0L, n, 1L, files).select(
        col("id").as("o_orderkey"),
        h(seed, 11, 150000L).as("o_custkey"),
        (h(seed, 12, 50000000L) / 100.0).as("o_totalprice"),
        date_add(lit(java.sql.Date.valueOf("1992-01-01")), h(seed, 13, 2400L).cast("int")).as("o_orderdate"),
        pick(seed, 14, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"),
        concat(lit("Clerk#"), lpad(h(seed, 15, 1000L).cast("string"), 9, "0")).as("o_clerk"),
        text(seed, 16, 20, 44).as("o_comment")),
      (_, n) => Map("o_orderkey" -> (n - 1).toString)),
    TableSpec(
      TableConfig("events", Seq("ev_ts"), SortOrder.Desc, Some("ev_kind")), 0.15,
      (spark, seed, n, files) => spark.range(0L, n, 1L, files).select(
        timestamp_seconds(lit(epochDays(seed) * 86400L) + col("id") * 7).as("ev_ts"),
        h(seed, 21, 50000L).as("ev_user"),
        pick(seed, 22, Seq("click", "view", "cart", "purchase")).as("ev_kind"),
        (h(seed, 23, 1000000L) / 1000.0).as("ev_value"),
        lit(null).cast("string").as("ev_note")),
      (seed, _) => Map("ev_ts" -> new java.sql.Timestamp(epochDays(seed) * 86400L * 1000L).toString),
      alwaysNull = Set("ev_note")),
  )
}
