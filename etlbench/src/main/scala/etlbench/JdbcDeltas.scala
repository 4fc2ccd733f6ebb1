package etlbench

import graft.Driver
import graft.catalog.SparkCatalogClient
import graft.config.{JobConfig, SortOrder, TableConfig}
import graft.sources.JdbcSource
import graft.state.FileBookmarkStore
import java.io.File
import java.sql.{Connection, DriverManager, Timestamp}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

/** The production shape: a job every few minutes over small deltas.
  *
  * Four Derby tables are read through `JdbcSource`. Before each op the
  * generator inserts `rowsPerTable` new rows into every table, so every
  * op ingests every table and no op is an empty step. The op is one
  * `Driver.run()`; its read-only twin is a `Driver.run()` just before the
  * insert, which finds no new rows and commits nothing. The tables cover
  * a composite key, a timestamp key, DESC order, partitioned and
  * unpartitioned targets, and a column that is always null.
  *
  * Non-key values come from the seed and repeat in every op; keys move
  * on. Each op therefore writes the same files with the same sizes, and
  * the per-op counts repeat exactly.
  */
final class JdbcDeltas(spark: SparkSession, seed: Long, work: File, size: JdbcDeltas.Size) extends Workload {
  import JdbcDeltas._

  val nominalCycleS = 2.3

  private val n = size.rowsPerTable
  private val id = JdbcDeltas.instances.incrementAndGet() // Derby and catalog names are per JVM
  private var url = ""
  private var config: JobConfig = _
  private var db = ""
  private var conn: Connection = _
  private var catalog: SparkCatalogClient = _
  private var inserted = 0 // batches inserted into the source so far

  private def bookmarkFile = new File(work, s"jdbc/$db/bookmarks.json").getPath
  private def location(t: TableSpec) = new File(work, s"jdbc/$db/target/${t.name}")

  def setup(rep: Int): Unit = {
    if (conn != null) conn.close()
    db = s"jdbc_${id}_r$rep"
    url = s"jdbc:derby:memory:etlbench_${id}_$rep;create=true"
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    Tables.foreach { t => st.execute(t.ddl); t.indexDdl.foreach(st.execute) }
    st.close()
    config = JobConfig(
      jobName = "etlbench-jdbc", sourceTablePrefix = "",
      targetLocation = new File(work, s"jdbc/$db/target").getPath,
      targetDatabase = db, targetFormat = "parquet", tables = Tables.map(_.config))
    catalog = new SparkCatalogClient(spark)
    inserted = 0
    insertBatch()
    // the first-ever run creates the targets; ops then run against them
    run(None)
  }

  private def run(tracer: Option[Tracer]): Seq[(String, Long, Boolean)] = {
    val src = new JdbcSource(url, Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
    val bm = new FileBookmarkStore(bookmarkFile)
    val d = tracer match {
      case Some(t) => new Driver(spark, config, t.source(src), t.catalog(catalog), t.bookmarks(bm))
      case None    => new Driver(spark, config, src, catalog, bm)
    }
    d.run().map(r => (r.table, r.rowsWritten, r.skippedEmpty))
  }

  private def insertBatch(): Unit = {
    val b = inserted
    Tables.foreach { t =>
      val rows = (0 until n).map(j => Gen.row(seed, t.name, b, j, n))
      val ps = conn.prepareStatement(s"INSERT INTO ${t.name} VALUES (${Seq.fill(rows.head.size)("?").mkString(", ")})")
      rows.foreach { r => bind(ps, r); ps.addBatch() }
      ps.executeBatch()
      ps.close()
    }
    inserted += 1
  }

  def op(i: Int, tracer: Tracer): OpResult = {
    val before = Tables.map(t => t.name -> DataFiles.list(location(t))).toMap
    val bmBefore = new FileBookmarkStore(bookmarkFile)
    val (probe, probeS, _) = tracer.timed(run(Some(tracer)))
    insertBatch()
    val (res, opS, snap) = tracer.timed(run(Some(tracer)))

    val errors = Seq.newBuilder[String]
    probe.filterNot(_._3).foreach(r => errors += s"read-only run ingested ${r._2} rows into ${r._1}")
    val bm = new FileBookmarkStore(bookmarkFile)
    var files = 0L
    var bytes = 0L
    var partitions = 0L
    Tables.foreach { t =>
      res.find(_._1 == t.name) match {
        case Some((_, rows, false)) if rows == n =>
        case other => errors += s"${t.name}: expected $n rows, run returned $other"
      }
      val keys = t.config.bookmarkKeys
      val expectBk = keys.zip(Gen.row(seed, t.name, inserted - 1, n - 1, n).take(keys.size).map(String.valueOf)).toMap
      if (bm.get(t.name) != expectBk)
        errors += s"${t.name}: bookmark ${bm.get(t.name)} != $expectBk (was ${bmBefore.get(t.name)})"
      val added = DataFiles.list(location(t)) -- before(t.name).keys
      if (added.isEmpty) errors += s"${t.name}: op wrote no files"
      files += added.size
      bytes += added.values.sum
      partitions += added.keys.map(p => new File(p).getParent).size
      val registered = catalogPartitions(t)
      val onDisk = DataFiles.partitionDirs(location(t))
      if (registered != onDisk) errors += s"${t.name}: catalog partitions $registered != directories $onDisk"
    }
    val rows = n.toLong * Tables.size
    val layers = snap.map(s =>
      Metrics.etl(s, opS, Tables.size, rows, files, partitions, spark.sparkContext.defaultParallelism)).getOrElse(Map.empty)
    OpResult(opS, probeS, rows, files, bytes, errors.result(), layers)
  }

  private def catalogPartitions(t: TableSpec): Set[String] =
    if (t.config.partitionCols.isEmpty) Set.empty
    else spark.sessionState.catalog.listPartitions(TableIdentifier(t.name, Some(db)))
      .map(p => t.config.partitionCols.map(c => s"$c=${p.spec(c)}").mkString("/")).toSet

  /** Target content equals source content per table, minus the column
    * that is always null (the driver drops it from every batch).
    */
  override def finalCheck(): Seq[String] = Tables.flatMap { t =>
    val src = spark.read.jdbc(url, t.name, {
      val p = new java.util.Properties(); p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver"); p
    })
    val tgt = Fingerprint.readTarget(spark, location(t).getPath, "parquet")
    val expectCols = src.columns.filterNot(t.alwaysNull.contains).toSeq
    val colErr =
      if (tgt.columns.toSet != expectCols.toSet) Seq(s"${t.name}: target columns ${tgt.columns.mkString(",")}")
      else Nil
    val a = Fingerprint.of(src, expectCols)
    val b = Fingerprint.of(tgt, expectCols)
    colErr ++ (if (a != b) Seq(s"${t.name}: source digest $a != target digest $b") else Nil)
  }
}

object JdbcDeltas {
  private val instances = new java.util.concurrent.atomic.AtomicInteger()
  final case class Size(rowsPerTable: Int = 1000)

  /** One source table: its DDL and its job config. Bookmark keys are
    * the leading columns of every generated row.
    */
  final case class TableSpec(
      name: String,
      ddl: String,
      indexDdl: Option[String],
      config: TableConfig,
      alwaysNull: Set[String] = Set.empty)

  private def bind(ps: java.sql.PreparedStatement, vals: Seq[Any]): Unit =
    vals.zipWithIndex.foreach {
      case (null, k)          => ps.setNull(k + 1, java.sql.Types.VARCHAR)
      case (v: Long, k)       => ps.setLong(k + 1, v)
      case (v: Int, k)        => ps.setInt(k + 1, v)
      case (v: Double, k)     => ps.setDouble(k + 1, v)
      case (v: String, k)     => ps.setString(k + 1, v)
      case (v: Timestamp, k)  => ps.setTimestamp(k + 1, v)
      case (v: BigDecimal, k) => ps.setBigDecimal(k + 1, v.bigDecimal)
      case (v, _)             => throw new IllegalArgumentException(s"unbindable $v")
    }

  val Tables: Seq[TableSpec] = Seq(
    TableSpec("ORDERS",
      "CREATE TABLE ORDERS (O_DAY INT NOT NULL, O_KEY BIGINT NOT NULL, O_CUST BIGINT, O_TOTAL DOUBLE," +
        " O_STATUS VARCHAR(8), O_REGION VARCHAR(8), O_NOTE VARCHAR(32), PRIMARY KEY (O_DAY, O_KEY))",
      None,
      TableConfig("ORDERS", Seq("O_DAY", "O_KEY"), SortOrder.Asc, Some("O_REGION")), alwaysNull = Set("O_NOTE")),
    TableSpec("EVENTS",
      "CREATE TABLE EVENTS (EV_TS TIMESTAMP NOT NULL, EV_USER BIGINT, EV_TYPE VARCHAR(12)," +
        " EV_VALUE DOUBLE, EV_PAYLOAD VARCHAR(64))",
      Some("CREATE INDEX EVENTS_TS ON EVENTS (EV_TS)"),
      TableConfig("EVENTS", Seq("EV_TS"), SortOrder.Asc, Some("EV_TYPE"))),
    TableSpec("LEDGER",
      "CREATE TABLE LEDGER (L_SEQ BIGINT NOT NULL PRIMARY KEY, L_ACCOUNT BIGINT, L_AMOUNT DECIMAL(12, 2)," +
        " L_MEMO VARCHAR(48))",
      None,
      TableConfig("LEDGER", Seq("L_SEQ"), SortOrder.Desc)),
    TableSpec("PAYMENTS",
      "CREATE TABLE PAYMENTS (P_ID BIGINT NOT NULL PRIMARY KEY, P_METHOD VARCHAR(8), P_AMOUNT DOUBLE," +
        " P_REF VARCHAR(24), P_VOID VARCHAR(8))",
      None,
      TableConfig("PAYMENTS", Seq("P_ID"), SortOrder.Asc, Some("P_METHOD")), alwaysNull = Set("P_VOID")),
  )
}
