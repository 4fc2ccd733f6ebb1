package graft

import graft.catalog.{InMemoryCatalog, SchemaEvolution, SparkCatalogClient}
import graft.config.{JobConfig, SortOrder, TableConfig}
import graft.sources.ParquetSource
import graft.state.FileBookmarkStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema evolution rules (§1.2 / FIXTURES B.3), the Driver control loop
  * (D2/D3), and the Spark-session catalog client (C1-C6).
  */
class CatalogAndDriverSpec extends SparkSpec {

  // --- SchemaEvolution (C3, jdbc_incremental.py:424-478) --------------------

  private val v1 = StructType(Seq(
    StructField("a", LongType), StructField("b", StringType), StructField("c", DoubleType)))

  test("schema merge: dropped source column is retained") {
    val src = StructType(Seq(StructField("a", LongType), StructField("c", DoubleType)))
    assert(SchemaEvolution.merge(v1, src, Nil) == v1)
  }

  test("schema merge: type change updates in place, order kept") {
    val src = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType),
      StructField("c", DecimalType(12, 2))))
    val out = SchemaEvolution.merge(v1, src, Nil)
    assert(out.fieldNames.toSeq == Seq("a", "b", "c"))
    assert(out("c").dataType == DecimalType(12, 2))
  }

  test("schema merge: new columns append at end, partition cols excluded") {
    val src = StructType(Seq(
      StructField("a", LongType), StructField("d", IntegerType),
      StructField("p", StringType), StructField("b", StringType),
      StructField("c", DoubleType)))
    val out = SchemaEvolution.merge(v1, src, Seq("p"))
    assert(out.fieldNames.toSeq == Seq("a", "b", "c", "d"))
  }

  test("schema merge is idempotent") {
    val src = StructType(Seq(StructField("a", StringType), StructField("z", IntegerType)))
    val once = SchemaEvolution.merge(v1, src, Nil)
    assert(SchemaEvolution.merge(once, src, Nil) == once)
  }

  test("schema merge: case-only rename is the SAME column, not an appended duplicate") {
    // Spark's default resolver is case-insensitive: appending 'A' beside
    // 'a' would fail duplicate-column validation on the next alter
    val src = StructType(Seq(
      StructField("A", LongType), StructField("b", StringType),
      StructField("C", DecimalType(12, 2))))
    val out = SchemaEvolution.merge(v1, src, Nil)
    assert(out.fieldNames.toSeq == Seq("a", "b", "c"), "target casing and order kept")
    assert(out("c").dataType == DecimalType(12, 2), "type change applies across casing")
  }

  // --- Driver e2e (D2/D3, S1→S3 spine) --------------------------------------

  private def ordersConfig(work: String, partitioned: Boolean = true) = JobConfig(
    jobName = "t", sourceTablePrefix = "", targetLocation = s"$work/target",
    targetDatabase = "db", targetFormat = "parquet",
    tables = Seq(TableConfig("orders", Seq("o_orderkey"), SortOrder.Asc,
      if (partitioned) Some("o_orderstatus") else None)))

  test("driver: two-run incremental equals one-shot; third run is a no-op") {
    val work = tmpDir("drv")
    val full = spark.read.parquet(sf("orders"))
    full.filter(col("o_orderkey") <= 750).write.parquet(s"$work/src1/orders.parquet")
    full.write.parquet(s"$work/src2/orders.parquet")
    val cfg = ordersConfig(work)
    val catalog = new InMemoryCatalog
    val bm = new FileBookmarkStore(s"$work/bm.json")
    def run(dir: String) =
      new Driver(spark, cfg, new ParquetSource(dir), catalog, bm).run()
    val r1 = run(s"$work/src1"); val r2 = run(s"$work/src2"); val r3 = run(s"$work/src2")
    assert(!r1.head.skippedEmpty && !r2.head.skippedEmpty && r3.head.skippedEmpty)
    assert(r1.head.rowsWritten + r2.head.rowsWritten == full.count())
    val target = spark.read.parquet(s"$work/target/orders")
    assert(target.count() == full.count())
    assert(bm.get("orders")("o_orderkey") == "1499")
  }

  test("driver: DESC bookmark ingests downward and commits the min") {
    val work = tmpDir("drvdesc")
    val full = spark.read.parquet(sf("orders"))
    full.filter(col("o_orderkey") > 750).write.parquet(s"$work/src/orders.parquet")
    val cfg = ordersConfig(work, partitioned = false).copy(
      tables = Seq(TableConfig("orders", Seq("o_orderkey"), SortOrder.Desc)))
    val bm = new FileBookmarkStore(s"$work/bm.json")
    new Driver(spark, cfg, new ParquetSource(s"$work/src"), new InMemoryCatalog, bm).run()
    assert(bm.get("orders")("o_orderkey") == "751")
    // next run sees only keys strictly below the committed min
    full.write.parquet(s"$work/src2/orders.parquet")
    val r2 = new Driver(spark, cfg, new ParquetSource(s"$work/src2"), new InMemoryCatalog, bm).run()
    assert(r2.head.rowsWritten == full.filter(col("o_orderkey") < 751).count())
  }

  test("driver: all-null column dropped from batch but kept in target as typed nulls") {
    val work = tmpDir("drvnull")
    val full = spark.read.parquet(sf("orders")).limit(100)
    // batch 1 has values in extra; batch 2 is all-null in extra
    full.filter(col("o_orderkey") <= 50)
      .withColumn("extra", concat(lit("x"), col("o_orderkey")))
      .write.parquet(s"$work/src1/orders.parquet")
    full.withColumn("extra", lit(null).cast(StringType))
      .write.parquet(s"$work/src2/orders.parquet")
    val cfg = ordersConfig(work, partitioned = false)
    val catalog = new InMemoryCatalog
    val bm = new FileBookmarkStore(s"$work/bm.json")
    new Driver(spark, cfg, new ParquetSource(s"$work/src1"), catalog, bm).run()
    new Driver(spark, cfg, new ParquetSource(s"$work/src2"), catalog, bm).run()
    val target = spark.read.parquet(s"$work/target/orders")
    assert(target.schema.fieldNames.contains("extra"))
    assert(target.filter(col("extra").isNotNull).count() == 51) // keys 0..50
    assert(target.filter(col("extra").isNull).count() == 49)
  }

  // --- SparkCatalogClient (C1-C6 on the session catalog) --------------------

  test("spark catalog client: create, evolve, partitions, properties") {
    val work = tmpDir("sparkcat")
    val client = new SparkCatalogClient(spark)
    val full = spark.read.parquet(sf("orders"))
    full.write.parquet(s"$work/src/orders.parquet")
    val cfg = ordersConfig(work).copy(targetDatabase = "gdb")
    val bm = new FileBookmarkStore(s"$work/bm.json")
    client.ensureDatabase("gdb")
    new Driver(spark, cfg, new ParquetSource(s"$work/src"), client, bm).run()

    assert(client.tableExists("gdb", "orders"))
    val t = client.getTable("gdb", "orders")
    assert(t.partitionKeys.fieldNames.toSeq == Seq("o_orderstatus"))
    assert(!t.schema.fieldNames.contains("o_orderstatus"))
    assert(t.parameters.contains("LastUpdatedByJob"))
    val parts = spark.sql("SHOW PARTITIONS gdb.orders").collect().map(_.getString(0)).sorted
    assert(parts.length == 3 && parts.forall(_.startsWith("o_orderstatus=")))
    // queryable through the metastore table
    assert(spark.table("gdb.orders").count() == full.count())

    // evolution: new source column appends to the catalog schema
    val evolved = graft.catalog.SchemaEvolution.merge(
      t.schema, t.schema.add(StructField("extra2", IntegerType)), Seq("o_orderstatus"))
    client.updateTable(t.copy(schema = evolved))
    assert(client.getTable("gdb", "orders").schema.fieldNames.last == "extra2")
  }

  test("spark catalog client: a NULL partition value registers the Hive default partition") {
    val work = tmpDir("sparkcatnull")
    val client = new SparkCatalogClient(spark)
    val full = spark.read.parquet(sf("orders")).limit(20)
    full.withColumn("o_orderstatus",
        when(col("o_orderkey") % 2 === 0, lit(null)).otherwise(col("o_orderstatus")))
      .write.parquet(s"$work/src/orders.parquet")
    val cfg = ordersConfig(work).copy(targetDatabase = "gdb_null")
    client.ensureDatabase("gdb_null")
    new Driver(spark, cfg, new ParquetSource(s"$work/src"), client,
      new FileBookmarkStore(s"$work/bm.json")).run()
    val parts = spark.sql("SHOW PARTITIONS gdb_null.orders").collect().map(_.getString(0))
    assert(parts.contains("o_orderstatus=__HIVE_DEFAULT_PARTITION__"), parts.mkString(","))
    assert(new java.io.File(s"$work/target/orders/o_orderstatus=__HIVE_DEFAULT_PARTITION__").isDirectory)
    // every row, the NULL-partition ones included, reads back through the catalog
    assert(spark.table("gdb_null.orders").count() == 20)
    assert(spark.table("gdb_null.orders").filter(col("o_orderstatus").isNull).count() ==
      full.filter(col("o_orderkey") % 2 === 0).count())
  }

  test("catalog client: partition values and locations with apostrophes are escaped") {
    // (Spark's session catalog itself rejects hyphens/dots in db and table
    // names, so identifier quoting is only defensive — the live injection
    // surface is the partition VALUE, which flows from source data into
    // both the partition spec and the LOCATION literal.)
    val work = tmpDir("sparkcat2")
    val client = new SparkCatalogClient(spark)
    client.ensureDatabase("graft_quote")
    assert(!client.tableExists("graft_quote", "t1"))
    val schema = StructType(Seq(StructField("k", LongType)))
    val parts = StructType(Seq(StructField("name", StringType)))
    client.createTable(graft.catalog.TableDef(
      "graft_quote", "t1", schema, parts, s"$work/t1", "parquet", Map.empty))
    assert(client.tableExists("graft_quote", "t1"))
    client.addPartition("graft_quote", "t1",
      graft.catalog.PartitionDef(Seq("name" -> "O'Brien"), s"$work/t1/name=O'Brien"))
    val shown = spark.sql("SHOW PARTITIONS `graft_quote`.`t1`")
      .collect().map(_.getString(0))
    // SHOW PARTITIONS renders the value URL-escaped (%27) — what matters
    // is that the ADD PARTITION statement parsed and registered it
    assert(shown.exists(s => s.contains("O'Brien") || s.contains("O%27Brien")),
      shown.mkString(","))
  }

  test("catalog view re-resolves at read time and inlines into the scan") {
    val work = tmpDir("sparkview")
    val client = new SparkCatalogClient(spark)
    client.ensureDatabase("graft_view_spec")
    spark.range(10).selectExpr("id AS k", "id * 2 AS v")
      .write.mode("overwrite").parquet(s"$work/t")
    client.createView("graft_view_spec", "doubled",
      s"SELECT k, v FROM parquet.`$work/t` WHERE v >= 4")
    val df = spark.sql("SELECT k FROM graft_view_spec.doubled WHERE k <= 5")
    assert(df.collect().map(_.getLong(0)).sorted.sameElements(Array(2L, 3L, 4L, 5L)))
    // both the view's filter and the query's filter reach the file scan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(k,5"), p)
    // the view is stored text, not a snapshot: new data is visible
    spark.range(20).selectExpr("id AS k", "id * 2 AS v")
      .write.mode("overwrite").parquet(s"$work/t")
    assert(spark.sql("SELECT COUNT(*) FROM graft_view_spec.doubled").head().getLong(0) == 18)
    client.dropView("graft_view_spec", "doubled")
    assert(!spark.catalog.tableExists("`graft_view_spec`.`doubled`"))
  }
}
