package graft

import graft.config.{ConfigError, JobConfig, SortOrder, TableConfig}
import graft.operators.{ApplyMapping, BatchStats, Bookmarks}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class CoreOperatorsSpec extends SparkSpec {
  import ApplyMapping.Mapping

  // --- ApplyMapping (P1) ---------------------------------------------------

  test("ApplyMapping selects, renames and casts") {
    val df = spark.read.parquet(sf("lineitem"))
    val out = ApplyMapping(df, Seq(
      Mapping("l_orderkey", "order_id", "bigint"),
      Mapping("l_quantity", "qty_int", "int"),
      Mapping("l_returnflag", "rflag", "string")))
    assert(out.columns.toSeq == Seq("order_id", "qty_int", "rflag"))
    assert(out.schema("qty_int").dataType == IntegerType)
    assert(out.count() == df.count())
  }

  test("ApplyMapping widening and narrowing casts behave like SQL CAST") {
    import spark.implicits._
    val df = Seq((1, "2.5"), (2, "7")).toDF("k", "v")
    val out = ApplyMapping(df, Seq(Mapping("k", "k", "bigint"), Mapping("v", "v", "double")))
      .collect().sortBy(_.getLong(0))
    assert(out(0).getDouble(1) == 2.5 && out(1).getDouble(1) == 7.0)
  }

  test("identityMappings reproduces the catalog schema") {
    val df = spark.read.parquet(sf("orders"))
    val out = ApplyMapping(df, ApplyMapping.identityMappings(df.schema))
    assert(out.schema == df.schema)
  }

  // --- DropNullFields (P2/A2): the all-null set of BatchStats -------------

  private val customerCfg = TableConfig("customer", Seq("c_custkey"), SortOrder.Asc)
  private val regionCfg = TableConfig("region", Seq("r_regionkey"), SortOrder.Asc)

  test("DropNullFields drops all-null columns, keeps partially-null ones") {
    import org.apache.spark.sql.functions._
    // customer_nulls fixture per FIXTURES.md B.1
    val df = spark.read.parquet(sf("customer"))
      .withColumn("all_null", lit(null).cast(StringType))
      .withColumn("some_null", when(col("c_custkey") % 2 === 0, lit("x")))
    val allNull = BatchStats.compute(df, customerCfg).allNullColumns
    assert(allNull.contains("all_null"))
    assert(!allNull.contains("some_null"))
    assert(!allNull.contains("c_name"))
  }

  test("DropNullFields drops NullType-schema columns without a scan") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(sf("region")).withColumn("nt", lit(null))
    assert(df.schema("nt").dataType == NullType)
    assert(BatchStats.compute(df, regionCfg).allNullColumns.contains("nt"))
  }

  // --- Bookmarks (P4/A3) ---------------------------------------------------

  private val ordersCfg = TableConfig("orders", Seq("o_orderkey"), SortOrder.Asc)

  test("bookmark filter ASC reads only keys beyond the bookmark") {
    val df = spark.read.parquet(sf("orders"))
    val out = Bookmarks.filterNew(df, ordersCfg, Map("o_orderkey" -> "750"))
    import spark.implicits._
    assert(out.agg(org.apache.spark.sql.functions.min($"o_orderkey")).head().getLong(0) > 750)
    val expected = df.filter($"o_orderkey" > 750).count()
    assert(out.count() == expected)
  }

  test("bookmark filter with empty bookmark reads everything") {
    val df = spark.read.parquet(sf("orders"))
    assert(Bookmarks.filterNew(df, ordersCfg, Map.empty).count() == df.count())
  }

  test("bookmark advance ASC=max, DESC=min") {
    val df = spark.read.parquet(sf("orders"))
    import spark.implicits._
    val hi = df.agg(org.apache.spark.sql.functions.max($"o_orderkey")).head().getLong(0)
    val lo = df.agg(org.apache.spark.sql.functions.min($"o_orderkey")).head().getLong(0)
    assert(BatchStats.compute(df, ordersCfg).bookmark.get("o_orderkey") == hi.toString)
    val desc = ordersCfg.copy(sortOrder = SortOrder.Desc)
    assert(BatchStats.compute(df, desc).bookmark.get("o_orderkey") == lo.toString)
  }

  test("composite bookmark is lexicographic (predicate and advance agree)") {
    import spark.implicits._
    val df = Seq((5L, 9), (6L, 1), (6L, 5)).toDF("k1", "k2")
    val cfg = TableConfig("t", Seq("k1", "k2"), SortOrder.Asc)
    val bk = BatchStats.compute(df, cfg).bookmark.get
    assert(bk == Map("k1" -> "6", "k2" -> "5")) // lexicographic max, not per-key max
    val next = Seq((6L, 5), (6L, 6), (7L, 0)).toDF("k1", "k2")
    val out = Bookmarks.filterNew(next, cfg, bk).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(out == Set((6L, 6), (7L, 0)))
  }

  test("bookmark advance on empty batch is None") {
    val df = spark.read.parquet(sf("orders")).filter("o_orderkey < 0")
    assert(BatchStats.compute(df, ordersCfg).bookmark.isEmpty)
  }

  test("DESC bookmark filter reads keys below the bookmark") {
    import spark.implicits._
    val cfg = ordersCfg.copy(sortOrder = SortOrder.Desc)
    val df = spark.read.parquet(sf("orders"))
    val out = Bookmarks.filterNew(df, cfg, Map("o_orderkey" -> "10"))
    assert(out.agg(org.apache.spark.sql.functions.max($"o_orderkey")).head().getLong(0) < 10)
  }

  // --- Sharding (D1) — golden vectors from Python hashlib -------------------

  test("md5 sharding matches Python int(md5(name),16) % n") {
    val golden = Seq(
      ("orders", Seq(1 -> 0, 2 -> 1, 5 -> 3, 7 -> 1)),
      ("lineitem", Seq(1 -> 0, 2 -> 1, 5 -> 0, 7 -> 3)),
      ("events", Seq(1 -> 0, 2 -> 1, 5 -> 2, 7 -> 4)),
      ("prefix_customer", Seq(1 -> 0, 2 -> 1, 5 -> 3, 7 -> 4)),
      ("x", Seq(1 -> 0, 2 -> 0, 5 -> 3, 7 -> 5)))
    for ((name, cases) <- golden; (n, want) <- cases)
      assert(Sharding.md5Mod(name, n) == want, s"md5Mod($name, $n)")
  }

  // --- Config (§2.8) --------------------------------------------------------

  test("table_config JSON parses with partitionSpec order preserved") {
    val cfgs = JobConfig.parseTableConfig(
      """[{"tableName":"orders","bookmarkKeys":["o_orderkey"],"sortOrder":"ASC","partitionSpec":"a/b"},
         {"tableName":"lineitem","bookmarkKeys":["l_orderkey","l_linenumber"],"sortOrder":"DESC"}]""")
    assert(cfgs.map(_.tableName) == Seq("orders", "lineitem"))
    assert(cfgs.head.partitionCols == Seq("a", "b"))
    assert(cfgs(1).bookmarkKeys == Seq("l_orderkey", "l_linenumber"))
    assert(cfgs(1).sortOrder == SortOrder.Desc)
  }

  test("config validation errors match the reference") {
    intercept[ConfigError](JobConfig.parseTableConfig("""[{"tableName":"t","sortOrder":"ASC"}]"""))
    intercept[ConfigError](JobConfig.parseTableConfig("""[{"tableName":"t","bookmarkKeys":["k"]}]"""))
    intercept[ConfigError](JobConfig.validateFormat("orc"))
    JobConfig.validateFormat("parquet") // ok
  }

  // --- DSv2 fixture source --------------------------------------------------

  test("DSv2 source: slices become input partitions; values match the formula") {
    val df = spark.read.format("graft.sources.FixtureDataSource")
      .option("rows", "1000").option("slices", "7").load()
    assert(df.rdd.getNumPartitions == 7)
    assert(df.count() == 1000)
    val r = df.filter(org.apache.spark.sql.functions.col("id") === 123)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSeq
    assert(r == Seq((123L, (123 % 32).toInt, (123L * 2654435761L) % 1000003L)))
  }

  test("DSv2 source: EqualTo collapses the interval; residual filters still apply") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graft.sources.FixtureDataSource")
      .option("rows", "1000").load()
    val eq = df.filter(col("id") === 77)
    assert(eq.queryExecution.executedPlan.toString.contains("graft_fixture [77, 78)"))
    assert(eq.count() == 1)
    // grp predicates are NOT pushable — they must survive as a Spark-side
    // Filter and still produce correct results
    val res = df.filter(col("id") < 100 && col("grp") === 3)
    assert(res.queryExecution.executedPlan.toString.contains("Filter"))
    assert(res.collect().map(_.getLong(0)).toSet ==
      (0L until 100L).filter(_ % 32 == 3).toSet)
    // contradictory bounds collapse to an empty interval, not an error
    assert(df.filter(col("id") > 500 && col("id") < 100).count() == 0)
  }

  test("DSv2 source: Long.MaxValue boundary literals don't overflow the interval") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graft.sources.FixtureDataSource")
      .option("rows", "1000").load()
    // x + 1 at MaxValue used to wrap negative: `<= MaxValue` (all rows)
    // became an empty scan and `> MaxValue` (no rows) became a full one
    assert(df.filter(col("id") <= Long.MaxValue).count() == 1000)
    assert(df.filter(col("id") > Long.MaxValue).count() == 0)
    assert(df.filter(col("id") === Long.MaxValue).count() == 0)
    assert(df.filter(col("id") >= Long.MaxValue).count() == 0)
  }

  test("DSv2 runtime filter prunes the scan to exact contiguous id runs") {
    import graft.sources.{FixtureRange, FixtureRuns, FixtureScan, FixtureTable}
    import org.apache.spark.sql.sources.{EqualTo, In}
    def allRuns(parts: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      parts.flatMap { case FixtureRuns(rs) => rs; case r: FixtureRange => Seq(r) }.toSet
    val scan = new FixtureScan(0L, 1000L, 8, FixtureTable.fullSchema, Array.empty)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      In("id", Array[Any](5L, 6L, 7L, 500L, 900L, 2000L))))
    val parts = scan.planInputPartitions()
    // runs collapse to [5,8); out-of-interval 2000 is dropped
    assert(allRuns(parts) ==
      Set(FixtureRange(5, 8), FixtureRange(500, 501), FixtureRange(900, 901)))
    assert(parts.length <= 8) // chunked, never one task per run
    // EqualTo intersects with In
    val scan2 = new FixtureScan(0L, 1000L, 8, FixtureTable.fullSchema, Array.empty)
    scan2.filter(Array[org.apache.spark.sql.sources.Filter](
      In("id", Array[Any](5L, 6L)), EqualTo("id", 6L)))
    assert(allRuns(scan2.planInputPartitions()) == Set(FixtureRange(6, 7)))
    // a sparse 10k-id set must plan a BOUNDED number of tasks
    val scan3 = new FixtureScan(0L, 100000L, 8, FixtureTable.fullSchema, Array.empty)
    scan3.filter(Array[org.apache.spark.sql.sources.Filter](
      In("id", (0L until 100000L by 10L).map(x => x: Any).toArray)))
    val p3 = scan3.planInputPartitions()
    assert(p3.length == 8, p3.length)
    assert(allRuns(p3).size == 10000)
    // a limit/offset-pushed scan must IGNORE runtime filters (the Limit
    // operator is already dropped counting every id in the interval)
    val lim = new FixtureScan(0L, 1000L, 8, FixtureTable.fullSchema, Array.empty,
      1000L, Some(10), None)
    lim.filter(Array[org.apache.spark.sql.sources.Filter](In("id", Array[Any](5L))))
    assert(lim.planInputPartitions().length == 8)
  }

  test("DSv2 micro-batch stream: restart clamps planning behind the checkpoint forward") {
    import graft.sources.{FixtureMicroBatchStream, FixtureOffset}
    import org.apache.spark.sql.types.StructType
    // simulate recovery: a FRESH stream (planned = lo = 0) handed the
    // checkpointed offset 600 must not plan latestOffset backwards to 300
    // — under Trigger.AvailableNow that declares the query caught up
    // before serving [600, 900)
    val s = new FixtureMicroBatchStream(0L, 900L, 3, new StructType(), 300L)
    val ckpt = s.deserializeOffset("600")
    assert(ckpt.asInstanceOf[FixtureOffset].pos == 600L)
    assert(s.latestOffset().asInstanceOf[FixtureOffset].pos == 900L)
    // replayed batch ends also advance the cursor
    val s2 = new FixtureMicroBatchStream(0L, 900L, 3, new StructType(), 300L)
    s2.planInputPartitions(FixtureOffset(300L), FixtureOffset(600L))
    assert(s2.latestOffset().asInstanceOf[FixtureOffset].pos == 900L)
  }

  test("DSv2 micro-batch stream: batchRows sets the cadence; no row lost or duped") {
    import org.apache.spark.sql.functions._
    val stream = spark.readStream.format("graft.sources.FixtureDataSource")
      .option("rows", "900").option("slices", "3").option("batchRows", "300").load()
    val name = "dsv2_mb_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = stream.groupBy("grp").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 3 && batches.forall(_.numInputRows == 300),
      batches.map(_.numInputRows).toSeq)
    assert(spark.table(name).agg(sum("n")).head().getLong(0) == 900)
  }
}
