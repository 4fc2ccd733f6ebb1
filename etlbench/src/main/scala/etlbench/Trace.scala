package etlbench

import graft.catalog.{CatalogClient, PartitionDef, TableDef}
import graft.config.TableConfig
import graft.sources.IncrementalSource
import graft.state.BookmarkStore
import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** What the layers did during one timed call, measured from outside. */
final case class Snapshot(
    jobs: Int,
    layerSeconds: Map[String, Double],
    taskBusySeconds: Double,
    failedTasks: Int,
    calls: Map[String, Long],
    callSeconds: Map[String, Double],
    sourceRowsRead: Long) {
  def layer(name: String): Double = layerSeconds.getOrElse(name, 0.0)
  def callsOf(name: String): Long = calls.getOrElse(name, 0L)
  def busy(prefix: String): Double =
    callSeconds.collect { case (k, v) if k.startsWith(prefix) => v }.sum
}

/** Assigns Spark work to the repository's layers by call site. */
object Layers {
  /** The layer of a SQL execution: its innermost `graft.` frame names the
    * module that started it.
    */
  def classify(description: String, details: String): String = {
    val frame = details.linesIterator.map(_.trim.replace("$", "")).find(_.startsWith("graft.")).getOrElse("")
    if (frame.startsWith("graft.operators.BatchStats")) "operators.stats"
    else if (frame.startsWith("graft.sinks.PartitionedSink.write")) "sinks.write"
    else if (frame.startsWith("graft.sinks.PartitionedSink.registerPartitions")) "sinks.register"
    else if (frame.startsWith("graft.sinks.VersionedTable")) "index.commit"
    else if (frame.startsWith("graft.Driver") && description.startsWith("isEmpty")) "sources.probe"
    else if (frame.startsWith("graft.Driver")) "driver.other"
    else if (frame.startsWith("graft.operators.IncrementalIndex") ||
      frame.startsWith("graft.operators.Dedup")) "index.compute"
    else if (frame.startsWith("graft.catalog")) "catalog.sql"
    else if (frame.nonEmpty) "other"
    else "bench"
  }
}

/** Wall time of root SQL executions per layer, plus job and task counts.
  * Jobs that AQE submits from its own threads carry the execution id of
  * the query they belong to, so they land in that query's layer.
  */
final class LayerListener extends SparkListener {
  private val layerOf = mutable.Map.empty[Long, String]
  private val startOf = mutable.Map.empty[Long, Long]
  private val layerSeconds = mutable.Map.empty[String, Double]
  private var jobs = 0
  private var busyNs = 0L
  private var failed = 0

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart =>
        val root = s.rootExecutionId.getOrElse(s.executionId)
        if (root == s.executionId) {
          layerOf(root) = Layers.classify(s.description, s.details)
          startOf(root) = s.time
        }
      case e: SparkListenerSQLExecutionEnd =>
        startOf.remove(e.executionId).foreach { t0 =>
          val l = layerOf.getOrElse(e.executionId, "bench")
          layerSeconds(l) = layerSeconds.getOrElse(l, 0.0) + (e.time - t0) / 1000.0
        }
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    if (t.taskMetrics != null) busyNs += t.taskMetrics.executorRunTime * 1000000L
    if (!t.taskInfo.successful) failed += 1
  }

  /** Counters since the last call; resets them. */
  def take(): (Int, Map[String, Double], Double, Int) = synchronized {
    val r = (jobs, layerSeconds.toMap, busyNs / 1e9, failed)
    jobs = 0; busyNs = 0L; failed = 0; layerSeconds.clear()
    layerOf.filterInPlace((id, _) => startOf.contains(id))
    r
  }
}

/** Call counts and busy time of the objects `Driver` takes as arguments. */
final class Meter {
  private val calls = mutable.Map.empty[String, Long]
  private val ns = mutable.Map.empty[String, Long]
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally synchronized {
      calls(name) = calls.getOrElse(name, 0L) + 1
      ns(name) = ns.getOrElse(name, 0L) + (System.nanoTime() - t0)
    }
  }
  def take(): (Map[String, Long], Map[String, Double]) = synchronized {
    val r = (calls.toMap, ns.view.mapValues(_ / 1e9).toMap)
    calls.clear(); ns.clear()
    r
  }
}

final class TracedCatalog(inner: CatalogClient, m: Meter) extends CatalogClient {
  def tableExists(db: String, table: String): Boolean =
    m("catalog.tableExists")(inner.tableExists(db, table))
  def getTable(db: String, table: String): TableDef = m("catalog.getTable")(inner.getTable(db, table))
  def createTable(t: TableDef): Unit = m("catalog.createTable")(inner.createTable(t))
  def updateTable(t: TableDef): Unit = m("catalog.updateTable")(inner.updateTable(t))
  def listTables(db: String): Seq[String] = m("catalog.listTables")(inner.listTables(db))
  def addPartition(db: String, table: String, p: PartitionDef): Unit =
    m("catalog.addPartition")(inner.addPartition(db, table, p))
  def setTableProperties(db: String, table: String, props: Map[String, String]): Unit =
    m("catalog.setTableProperties")(inner.setTableProperties(db, table, props))
  override def grantAllToCreator(db: String, table: String, creatorArn: String): Unit =
    m("catalog.grantAllToCreator")(inner.grantAllToCreator(db, table, creatorArn))
}

final class TracedBookmarks(inner: BookmarkStore, m: Meter) extends BookmarkStore {
  def get(table: String): Map[String, String] = m("state.get")(inner.get(table))
  def stage(table: String, values: Map[String, String]): Unit = m("state.stage")(inner.stage(table, values))
  def commitAll(): Unit = m("state.commit")(inner.commitAll())
  def commitTable(table: String): Unit = m("state.commit")(inner.commitTable(table))
}

/** Counts the rows the program pulls from the source: a non-deterministic
  * filter above the source's own (pushed) bookmark predicate, evaluated
  * once per row that leaves the scan.
  */
final class TracedSource(inner: IncrementalSource, m: Meter, rows: org.apache.spark.util.LongAccumulator)
    extends IncrementalSource {
  private val counted = TracedSource.counter(rows)
  def read(spark: SparkSession, table: String): DataFrame = m("sources.read")(inner.read(spark, table))
  override def readIncremental(spark: SparkSession, cfg: TableConfig, bookmark: Map[String, String]): DataFrame =
    m("sources.readIncremental")(inner.readIncremental(spark, cfg, bookmark)).filter(counted())
}

object TracedSource {
  /** Built outside the instance, so the closure holds only the accumulator. */
  def counter(rows: org.apache.spark.util.LongAccumulator) =
    org.apache.spark.sql.functions.udf(() => { rows.add(1L); true }).asNondeterministic()
}

/** Per-layer tracing for the traced run. Off, the workloads call the
  * program with its own objects and no listener is registered.
  */
final class Tracer(spark: SparkSession) {
  private val listener = new LayerListener
  private val meter = new Meter
  private val rows = spark.sparkContext.longAccumulator("etlbench.sourceRows")
  private var on = false

  def catalog(c: CatalogClient): CatalogClient = if (on) new TracedCatalog(c, meter) else c
  def bookmarks(b: BookmarkStore): BookmarkStore = if (on) new TracedBookmarks(b, meter) else b
  def source(s: IncrementalSource): IncrementalSource = if (on) new TracedSource(s, meter, rows) else s

  def enable(flag: Boolean): Unit = if (flag != on) {
    BenchBridge.drainListenerBus(spark.sparkContext)
    if (flag) spark.sparkContext.addSparkListener(listener)
    else spark.sparkContext.removeSparkListener(listener)
    on = flag
  }

  /** Runs `body` and returns its wall seconds and, when tracing, what the
    * layers did during it.
    */
  def timed[T](body: => T): (T, Double, Option[Snapshot]) = {
    if (on) { BenchBridge.drainListenerBus(spark.sparkContext); listener.take(); meter.take(); rows.reset() }
    val t0 = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - t0) / 1e9
    if (!on) (r, s, None)
    else {
      BenchBridge.drainListenerBus(spark.sparkContext)
      val (jobs, layers, busy, failed) = listener.take()
      val (calls, secs) = meter.take()
      (r, s, Some(Snapshot(jobs, layers, busy, failed, calls, secs, rows.value)))
    }
  }
}
