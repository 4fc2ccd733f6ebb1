package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IncrementalIndex
import graft.sinks.VersionedTable

/** `VersionedTable.readAllVersions` reads its schema from one footer on
  * the driver instead of running Spark's inference job; the schema it
  * hands the reader must be exactly what inference returns over the same
  * version directories. Checked for every log under every family's root
  * — data, stats and tombstone logs — including a checkpoint version,
  * an empty checkpoint, and logs holding adopted donor files.
  */
class SchemaParitySpec extends SparkSpec {

  private lazy val docs: DataFrame =
    spark.read.parquet(sf("documents")).select(col("doc_id"), col("text"))
  private lazy val vecs: DataFrame = spark.read.parquet(sf("embeddings"))
    .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))

  /** Every versioned log at or below `root`: a directory holding
    * `v<8 digits>` version directories.
    */
  private def logs(root: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[Path] = {
      val dirs = fs.listStatus(p).filter(_.isDirectory).map(_.getPath).toSeq
      val (versions, others) = dirs.partition(_.getName.matches("v\\d{8}(-c\\d{8})?"))
      (if (versions.nonEmpty) Seq(p) else Nil) ++
        others.filterNot(_.getName.startsWith("_")).flatMap(walk)
    }
    walk(new Path(root)).map(_.toString)
  }

  private def assertParity(roots: String*): Unit = {
    val checked = roots.flatMap(logs)
    assert(checked.size >= roots.size, checked)
    checked.foreach { r =>
      val dirs = VersionedTable.liveVersionDirs(spark, r).map(_.toString)
      val inferred = spark.read.parquet(dirs: _*).schema
      assert(VersionedTable.readAllVersions(spark, r).schema == inferred, r)
    }
  }

  private def half(df: DataFrame, id: String, k: Int) = df.filter(pmod(col(id), lit(2)) === k)

  test("driver-side footer schema equals parquet inference for every family's logs") {
    // MinHash: two ingests, a retraction, a checkpoint, an ingest on top,
    // then a merge that adopts a donor's files into every log
    val mh = tmpDir("parity_mh"); val mhDonor = tmpDir("parity_mh_donor")
    val b = (0 until 3).map(k => docs.filter(pmod(col("doc_id"), lit(3)) === k))
    IncrementalIndex.ingestMinHash(spark, mh, b(0), "doc_id", "text")._2.unpersist()
    IncrementalIndex.ingestMinHash(spark, mh, b(1), "doc_id", "text")._2.unpersist()
    IncrementalIndex.retract(spark, mh, b(0).limit(5).select(col("doc_id").as("id")))
    IncrementalIndex.compactDedupIndex(spark, mh)
    assert(VersionedTable.versions(spark, mh).size == 1)
    IncrementalIndex.ingestMinHash(spark, mh,
      b(2).filter(col("doc_id") % 2 === 0), "doc_id", "text")._2.unpersist()
    IncrementalIndex.ingestMinHash(spark, mhDonor,
      b(2).filter(col("doc_id") % 2 === 1), "doc_id", "text")._2.unpersist()
    IncrementalIndex.retract(spark, mhDonor, b(2).limit(2).select(col("doc_id").as("id")))
    IncrementalIndex.mergeMinHashIndexes(spark, mh, mhDonor)._2.unpersist()
    // an empty checkpoint: clearing the tombstones checkpoints the log
    // as `filter(lit(false))` of itself
    IncrementalIndex.clearTombstones(spark, mhDonor)
    assert(VersionedTable.readAllVersions(spark,
      IncrementalIndex.subRoot(mhDonor, "tombstones")).count() == 0)

    val sh = tmpDir("parity_sh"); val shDonor = tmpDir("parity_sh_donor")
    IncrementalIndex.ingestSimHash(spark, sh, half(docs, "doc_id", 0), "doc_id", "text")._2.unpersist()
    IncrementalIndex.ingestSimHash(spark, shDonor, half(docs, "doc_id", 1), "doc_id", "text")._2.unpersist()
    IncrementalIndex.mergeSimHashIndexes(spark, sh, shDonor)._2.unpersist()

    val srpP = IncrementalIndex.SrpParams(dim = 64)
    val srp = tmpDir("parity_srp"); val srpDonor = tmpDir("parity_srp_donor")
    IncrementalIndex.ingestEmbeddings(spark, srp, half(vecs, "vec_id", 0), "vec_id", "v", srpP)._2.unpersist()
    IncrementalIndex.ingestEmbeddings(spark, srpDonor, half(vecs, "vec_id", 1), "vec_id", "v", srpP)._2.unpersist()
    IncrementalIndex.mergeSrpIndexes(spark, srp, srpDonor, srpP)._2.unpersist()

    def sets(d: DataFrame) = d.select(col("doc_id").as("id"),
      explode(split(col("text"), "\\s+")).as("elem")).distinct()
    val pf = tmpDir("parity_pf"); val pfDonor = tmpDir("parity_pf_donor")
    IncrementalIndex.ingestPrefixJaccard(spark, pf, sets(half(docs, "doc_id", 0)))._2.unpersist()
    IncrementalIndex.ingestPrefixJaccard(spark, pfDonor, sets(half(docs, "doc_id", 1)))._2.unpersist()
    IncrementalIndex.mergePrefixIndexes(spark, pf, pfDonor)._2.unpersist()

    val ex = tmpDir("parity_ex"); val exDonor = tmpDir("parity_ex_donor")
    IncrementalIndex.ingestExact(spark, ex, half(docs, "doc_id", 0), "doc_id", "text")._2.unpersist()
    IncrementalIndex.ingestExact(spark, exDonor, half(docs, "doc_id", 1), "doc_id", "text")._2.unpersist()
    IncrementalIndex.mergeExactIndexes(spark, ex, exDonor)._2.unpersist()

    assertParity(mh, mhDonor, sh, srp, pf, ex)
  }
}
