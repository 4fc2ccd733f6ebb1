package etlbench

import java.io.File
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs and per-op counts depend on the seed alone. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = new File("target/test-work").getAbsoluteFile
  private lazy val spark = { DataFiles.delete(work); Main.session(work) }
  private lazy val tracer = new Tracer(spark)

  override def afterAll(): Unit = {
    spark.stop()
    DataFiles.delete(work)
  }

  private var runs = 0
  /** Set-up plus two traced ops of a fresh workload instance; returns the
    * per-op counts that must repeat for one seed.
    */
  private def counts(make: File => Workload): Seq[Map[String, Double]] = {
    runs += 1
    val wl = make(new File(work, s"run-$runs"))
    wl.setup(0)
    tracer.enable(true)
    try (0 until 2).map { i =>
      val r = wl.op(i, tracer)
      assert(r.errors.isEmpty, r.errors.mkString("; "))
      Map("rows" -> r.rows.toDouble, "files" -> r.files.toDouble, "bytes" -> r.bytes.toDouble) ++
        r.layers.filter { case (k, _) => RepeatedLayers.contains(k) }
    } finally tracer.enable(false)
  }
  private val RepeatedLayers =
    Set("driver.jobs_per_table", "spark.jobs_per_op", "index.ingest_jobs", "index.probe_jobs", "index.pairs_per_op")

  private def shape(c: Seq[Map[String, Double]]) = c.map(_ - "bytes")

  test("jdbc_deltas rows: same seed, same values; other seed, other values in the same shape") {
    for (t <- JdbcDeltas.Tables.map(_.name); b <- 0 until 3; j <- 0 until 20) {
      assert(Gen.row(1, t, b, j, 20) == Gen.row(1, t, b, j, 20))
      assert(Gen.row(1, t, b, j, 20).size == Gen.row(2, t, b, j, 20).size)
      assert(Gen.row(1, t, b, j, 20).map(_ == null) == Gen.row(2, t, b, j, 20).map(_ == null))
    }
    assert(JdbcDeltas.Tables.exists(t => Gen.row(1, t.name, 0, 0, 20) != Gen.row(2, t.name, 0, 0, 20)))
  }

  test("minhash corpus: same seed, same docs; other seed, other docs with the same planted pairs") {
    val size = MinHashIndexWorkload.Size(baseDocs = 400, batchDocs = 40)
    val (a, b, c) = (new MinHashIndexWorkload.Corpus(1, size), new MinHashIndexWorkload.Corpus(1, size),
      new MinHashIndexWorkload.Corpus(2, size))
    assert(a.base == b.base && a.batch(3) == b.batch(3))
    assert(a.base.map(_._1) == c.base.map(_._1) && a.base.map(_._2) != c.base.map(_._2))
    assert(a.batchPlanted(3) == c.batchPlanted(3))
    assert(a.expectedPairs(a.base ++ a.batch(3), a.batchPlanted(3)).size == 4)
    assert(c.expectedPairs(c.base ++ c.batch(3), c.batchPlanted(3)).size == 4)
  }

  test("parquet_backfill source: same seed, same rows; other seed, other values in the same shape") {
    val t = ParquetBackfill.Tables.head
    def rows(seed: Long) = t.generate(spark, seed, 200L, 2).collect().toSeq
    assert(rows(1) == rows(1))
    assert(rows(1) != rows(2))
    assert(rows(1).map(_.getLong(0)) == rows(2).map(_.getLong(0)))
  }

  test("jdbc_deltas per-op counts repeat for a seed and keep their shape on another") {
    def make(seed: Long)(dir: File) = new JdbcDeltas(spark, seed, dir, JdbcDeltas.Size(rowsPerTable = 40))
    val (a, b, c) = (counts(make(5)), counts(make(5)), counts(make(6)))
    assert(a == b)
    assert(shape(a) == shape(c))
    assert(a.head("driver.jobs_per_table") > 0)
  }

  test("minhash_index per-op counts repeat for a seed and keep their shape on another") {
    def make(seed: Long)(dir: File) =
      new MinHashIndexWorkload(spark, seed, dir, MinHashIndexWorkload.Size(baseDocs = 400, batchDocs = 40))
    val (a, b, c) = (counts(make(5)), counts(make(5)), counts(make(6)))
    assert(a == b)
    assert(shape(a) == shape(c))
    assert(a.head("index.pairs_per_op") == 4)
  }

  test("parquet_backfill per-op counts repeat for a seed and keep their shape on another") {
    def make(seed: Long)(dir: File) = new ParquetBackfill(spark, seed, dir, ParquetBackfill.Size(rows = 3000L))
    val (a, b, c) = (counts(make(5)), counts(make(5)), counts(make(6)))
    assert(a == b)
    assert(shape(a) == shape(c))
  }
}
