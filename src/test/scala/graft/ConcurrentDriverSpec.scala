package graft

import graft.catalog.InMemoryCatalog
import graft.config.{JobConfig, SortOrder, TableConfig}
import graft.sources.ParquetSource
import graft.state.FileBookmarkStore
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** D2 concurrency: independent tables ingested in parallel within one
  * app, with thread-safe bookmark staging and a single job-end commit.
  */
class ConcurrentDriverSpec extends SparkSpec {

  private val tables = Seq(
    TableConfig("orders", Seq("o_orderkey"), SortOrder.Asc, Some("o_orderstatus")),
    TableConfig("lineitem", Seq("l_orderkey", "l_linenumber"), SortOrder.Asc),
    TableConfig("events", Seq("event_id"), SortOrder.Asc, Some("event_type")))

  private def config(work: String) = JobConfig(
    jobName = "conc", sourceTablePrefix = "", targetLocation = s"$work/target",
    targetDatabase = "db", targetFormat = "parquet", tables = tables)

  private def sfDir = new java.io.File(sf("orders")).getParent

  test("three tables ingest concurrently with correct bookmarks") {
    val work = tmpDir("conc")
    val bm = new FileBookmarkStore(s"$work/bm.json")
    val results = new Driver(spark, config(work), new ParquetSource(sfDir), new InMemoryCatalog, bm).run()
    assert(results.map(_.table) == Seq("orders", "lineitem", "events"), "config order")
    assert(results.forall(!_.skippedEmpty))
    val orders = spark.read.parquet(sf("orders"))
    assert(results.find(_.table == "orders").get.rowsWritten == orders.count())
    assert(bm.get("orders")("o_orderkey") == "1499")
    assert(bm.get("lineitem").keySet == Set("l_orderkey", "l_linenumber"))
    assert(bm.get("events")("event_id").toLong > 0)
    assert(spark.read.parquet(s"$work/target/orders").count() == orders.count())
    assert(spark.read.parquet(s"$work/target/lineitem").count() ==
      spark.read.parquet(sf("lineitem")).count())
    assert(spark.read.parquet(s"$work/target/events").count() ==
      spark.read.parquet(sf("events")).count())
  }

  test("a failing table fails the run fast: original exception, no commit, no live pool thread") {
    val work = tmpDir("concfail")
    val bmPath = s"$work/bm.json"
    val seeded = new FileBookmarkStore(bmPath)
    seeded.stage("orders", Map("o_orderkey" -> "0"))
    seeded.commitAll()
    val before = Files.readString(Paths.get(bmPath))

    val boom = new IllegalStateException("source unreachable")
    val failing = new ParquetSource(sfDir) {
      override def readIncremental(spark: SparkSession, c: TableConfig, bm: Map[String, String]): DataFrame =
        if (c.tableName == "lineitem") throw boom else super.readIncremental(spark, c, bm)
    }
    val thrown = intercept[IllegalStateException] {
      new Driver(spark, config(work), failing, new InMemoryCatalog, new FileBookmarkStore(bmPath)).run()
    }
    assert(thrown eq boom, "the original exception, unwrapped")
    assert(Files.readString(Paths.get(bmPath)) == before, "no bookmark committed")
    val livePoolThreads = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-driver-"))
    assert(livePoolThreads.isEmpty, livePoolThreads.map(_.getName))
  }
}
