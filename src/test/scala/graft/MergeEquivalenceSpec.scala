package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IncrementalIndex
import graft.sinks.VersionedTable

/** A binary shard merge is the N-way merge with one donor. For every
  * mergeable family, plain and epoch, the binary entry point and
  * `mergeMany*` with `Seq(donor)` run on byte-identical copies of the
  * same two shards and must agree on the returned pair/verdict set, the
  * adopter's version lists (every log the merge touches, plus the epoch
  * result log) and the adopter's live row count.
  */
class MergeEquivalenceSpec extends SparkSpec {
  import IncrementalIndex.{MinHashParams, PrefixJaccardParams, SrpParams}

  private lazy val docs: DataFrame =
    spark.read.parquet(sf("documents")).select(col("doc_id"), col("text"))

  private lazy val corpus: DataFrame = {
    val mutant = expr(
      "CASE WHEN instr(text, ' ') > 0 THEN substring(text, instr(text, ' ') + 1) ELSE text END")
    docs.union(docs.select((col("doc_id") + 100000).as("doc_id"), mutant.as("text")))
  }
  private lazy val even = corpus.filter(col("doc_id") % 2 === 0)
  private lazy val odd = corpus.filter(col("doc_id") % 2 === 1)

  private lazy val vecs: DataFrame = {
    val emb = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    emb.union(emb.select((col("vec_id") + 100000).as("vec_id"),
      expr("transform(v, (x, i) -> IF(i = 0, x + 0.01D, x))").as("v")))
  }

  private def copyOf(src: String): String = {
    val dst = new Path(tmpDir("meq_copy"), "ix")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileUtil.copy(fs, new Path(src), fs, dst, false,
      spark.sparkContext.hadoopConfiguration)
    dst.toString
  }

  private def versionsOf(root: String, logs: Seq[String]): Seq[Seq[Long]] =
    logs.map(l => VersionedTable.versions(spark,
      if (l.isEmpty) root else IncrementalIndex.subRoot(root, l)))

  /** Build the adopter and donor shards ONCE, then run the binary merge
    * and the one-donor N-way merge on fresh copies of both, plain and
    * under an epoch, and compare. `merge(adopter, donor, many, result)`
    * returns the merge's pair/verdict frame; `result` is the epoch
    * result root (None: the plain path).
    */
  private def assertOneDonorEquivalent(family: String,
      build: (String, String) => Unit, logs: Seq[String], rows: String => Long)(
      merge: (String, String, Boolean, Option[String]) => DataFrame): Unit = {
    val a0 = tmpDir(s"meq_${family}_a"); val d0 = tmpDir(s"meq_${family}_d")
    build(a0, d0)
    for (epoch <- Seq(false, true)) {
      val runs = Seq(false, true).map { many =>
        val a = copyOf(a0); val d = copyOf(d0)
        val result = if (epoch) Some(tmpDir(s"meq_${family}_r")) else None
        val out = merge(a, d, many, result)
        val set = out.collect().map(_.toSeq).toSet
        out.unpersist(blocking = false)
        (set, versionsOf(a, logs), rows(a),
          result.map(VersionedTable.versions(spark, _)))
      }
      val ((bSet, bVs, bRows, bRes), (mSet, mVs, mRows, mRes)) = (runs(0), runs(1))
      val mode = if (epoch) "epoch" else "plain"
      assert(bSet.nonEmpty, s"$family/$mode: the shards must share real structure")
      assert(bSet == mSet, s"$family/$mode: binary and one-donor results differ")
      assert(bVs == mVs, s"$family/$mode: adopter version lists differ")
      assert(bRows == mRows, s"$family/$mode: adopter row counts differ")
      assert(bRes == mRes, s"$family/$mode: result-log version lists differ")
    }
  }

  private def epochOrPlain[T](result: Option[String])(
      plain: => T)(epoch: (String, Long) => Option[T]): T =
    result.fold(plain)(r => epoch(r, 5L).get)

  private val sigLogs = Seq("", "bucketstats", "tombstones")

  test("minhash: binary merge == one-donor mergeMany (plain and epoch)") {
    val p = MinHashParams()
    assertOneDonorEquivalent("mh", (a, d) => {
      IncrementalIndex.ingestMinHash(spark, a, even, "doc_id", "text", p)._2
        .unpersist(blocking = false)
      IncrementalIndex.ingestMinHash(spark, d, odd, "doc_id", "text", p)._2
        .unpersist(blocking = false)
      // a retracted donor doc: its tombstone must travel either way
      IncrementalIndex.retract(spark, d,
        odd.select(col("doc_id").as("id")).orderBy("id").limit(3))
    }, sigLogs, IncrementalIndex.readMinHashIndex(spark, _).count()) {
      (a, d, many, result) => epochOrPlain(result) {
        if (many) IncrementalIndex.mergeManyMinHashIndexes(spark, a, Seq(d), p)._2
        else IncrementalIndex.mergeMinHashIndexes(spark, a, d, p)._2
      } { (r, e) =>
        (if (many) IncrementalIndex.mergeManyMinHashIndexesEpoch(spark, a, r, Seq(d), e, p)
        else IncrementalIndex.mergeMinHashIndexesEpoch(spark, a, r, d, e, p)).map(_._2)
      }
    }
  }

  test("minhash under engaged bucket caps: binary merge == one-donor mergeMany") {
    import spark.implicits._
    // a mega-clique split across the shards drives the over-cap
    // rank-chunk path, where the one-donor filter is the tag difference
    val boiler = (0L until 12L).map(i =>
      (i, "terms of service apply to all content provided herein always"))
    val filler = (100L until 160L).map(i =>
      (i, s"unique document $i carrying words w${i * 7} w${i * 13} w${i * 29}"))
    val all = (boiler ++ filler).toDF("doc_id", "text")
    val p = MinHashParams(bucketCap = 4)
    assertOneDonorEquivalent("mhcap", (a, d) => {
      IncrementalIndex.ingestMinHash(spark, a, all.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", p)._2.unpersist(blocking = false)
      IncrementalIndex.ingestMinHash(spark, d, all.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", p)._2.unpersist(blocking = false)
    }, sigLogs, IncrementalIndex.readMinHashIndex(spark, _).count()) {
      (a, d, many, result) => epochOrPlain(result) {
        if (many) IncrementalIndex.mergeManyMinHashIndexes(spark, a, Seq(d), p)._2
        else IncrementalIndex.mergeMinHashIndexes(spark, a, d, p)._2
      } { (r, e) =>
        (if (many) IncrementalIndex.mergeManyMinHashIndexesEpoch(spark, a, r, Seq(d), e, p)
        else IncrementalIndex.mergeMinHashIndexesEpoch(spark, a, r, d, e, p)).map(_._2)
      }
    }
  }

  test("simhash: binary merge == one-donor mergeMany (plain and epoch)") {
    assertOneDonorEquivalent("sh", (a, d) => {
      IncrementalIndex.ingestSimHash(spark, a, even, "doc_id", "text")._2
        .unpersist(blocking = false)
      IncrementalIndex.ingestSimHash(spark, d, odd, "doc_id", "text")._2
        .unpersist(blocking = false)
    }, sigLogs, IncrementalIndex.readSimHashIndex(spark, _).count()) {
      (a, d, many, result) => epochOrPlain(result) {
        if (many) IncrementalIndex.mergeManySimHashIndexes(spark, a, Seq(d))._2
        else IncrementalIndex.mergeSimHashIndexes(spark, a, d)._2
      } { (r, e) =>
        (if (many) IncrementalIndex.mergeManySimHashIndexesEpoch(spark, a, r, Seq(d), e)
        else IncrementalIndex.mergeSimHashIndexesEpoch(spark, a, r, d, e)).map(_._2)
      }
    }
  }

  test("srp: binary merge == one-donor mergeMany (plain and epoch)") {
    val p = SrpParams(dim = 64, bitsPerTable = 8, bucketCap = 256)
    assertOneDonorEquivalent("srp", (a, d) => {
      // mod 3: every perturbed twin (id + 100000) lands in the other shard
      IncrementalIndex.ingestEmbeddings(spark, a,
        vecs.filter(pmod(col("vec_id"), lit(3)) === 0), "vec_id", "v", p)._2
        .unpersist(blocking = false)
      IncrementalIndex.ingestEmbeddings(spark, d,
        vecs.filter(pmod(col("vec_id"), lit(3)) =!= 0), "vec_id", "v", p)._2
        .unpersist(blocking = false)
    }, sigLogs, IncrementalIndex.readSrpIndex(spark, _).count()) {
      (a, d, many, result) => epochOrPlain(result) {
        if (many) IncrementalIndex.mergeManySrpIndexes(spark, a, Seq(d), p)._2
        else IncrementalIndex.mergeSrpIndexes(spark, a, d, p)._2
      } { (r, e) =>
        (if (many) IncrementalIndex.mergeManySrpIndexesEpoch(spark, a, r, Seq(d), e, p)
        else IncrementalIndex.mergeSrpIndexesEpoch(spark, a, r, d, e, p)).map(_._2)
      }
    }
  }

  test("exact: binary merge == one-donor mergeMany (plain and epoch)") {
    val copies = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
    assertOneDonorEquivalent("ex", (a, d) => {
      IncrementalIndex.ingestExact(spark, a, docs, "doc_id", "text")._2
        .unpersist(blocking = false)
      IncrementalIndex.ingestExact(spark, d, copies, "doc_id", "text")._2
        .unpersist(blocking = false)
    }, Seq("fingerprints", "tombstones"),
      IncrementalIndex.readExactIndex(spark, _).count()) {
      (a, d, many, result) => epochOrPlain(result) {
        if (many) IncrementalIndex.mergeManyExactIndexes(spark, a, Seq(d))._2
        else IncrementalIndex.mergeExactIndexes(spark, a, d)._2
      } { (r, e) =>
        (if (many) IncrementalIndex.mergeManyExactIndexesEpoch(spark, a, r, Seq(d), e)
        else IncrementalIndex.mergeExactIndexesEpoch(spark, a, r, d, e)).map(_._2)
      }
    }
  }

  test("prefix: binary merge == one-donor mergeMany (plain and epoch)") {
    val p = PrefixJaccardParams()
    val sets = (df: DataFrame) => df.select(col("doc_id").as("id"),
      explode(split(col("text"), "\\s+")).as("elem")).distinct()
    assertOneDonorEquivalent("pf", (a, d) => {
      IncrementalIndex.ingestPrefixJaccard(spark, a, sets(even), p)._2
        .unpersist(blocking = false)
      IncrementalIndex.ingestPrefixJaccard(spark, d, sets(odd), p)._2
        .unpersist(blocking = false)
    }, Seq("tokens", "prefixstats", "dfstats", "tombstones"),
      IncrementalIndex.readPrefixIndex(spark, _).count()) {
      (a, d, many, result) => epochOrPlain(result) {
        if (many) IncrementalIndex.mergeManyPrefixIndexes(spark, a, Seq(d), p)._2
        else IncrementalIndex.mergePrefixIndexes(spark, a, d, p)._2
      } { (r, e) =>
        (if (many) IncrementalIndex.mergeManyPrefixIndexesEpoch(spark, a, r, Seq(d), e, p)
        else IncrementalIndex.mergePrefixIndexesEpoch(spark, a, r, d, e, p)).map(_._2)
      }
    }
  }

  test("semdedup: binary merge == one-donor mergeMany (plain and epoch)") {
    // id-RANGE shards, each frozen under its own centroid geometry
    val cents = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cvec"))
    val donorCents = vecs.filter(col("vec_id") >= 8 && col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cvec"))
    assertOneDonorEquivalent("sd", (a, d) => {
      IncrementalIndex.bootstrapSemDedup(spark, a, vecs.filter(col("vec_id") < 500),
        "vec_id", "v", cents, threshold = 0.99).verdicts.unpersist(blocking = false)
      IncrementalIndex.bootstrapSemDedup(spark, d, vecs.filter(col("vec_id") >= 500),
        "vec_id", "v", donorCents, threshold = 0.99).verdicts.unpersist(blocking = false)
    }, Seq("members", "cellstats", "centroids"),
      a => VersionedTable.readAllVersions(spark,
        IncrementalIndex.subRoot(a, "members")).count()) {
      (a, d, many, result) => epochOrPlain(result) {
        if (many) IncrementalIndex.mergeManySemDedupIndexes(spark, a, Seq(d), 0.99).verdicts
        else IncrementalIndex.mergeSemDedupIndexes(spark, a, d, 0.99).verdicts
      } { (r, e) =>
        (if (many) IncrementalIndex.mergeManySemDedupIndexesEpoch(spark, a, r, Seq(d), e, 0.99)
        else IncrementalIndex.mergeSemDedupIndexesEpoch(spark, a, r, d, e, 0.99))
          .map(_.verdicts)
      }
    }
  }

  test("donor count: one donor's candidate plan never joins the donor with itself") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val index = Seq((1L, 1L, 0, 7L), (2L, 2L, 0, 8L)).toDF("doc", "rk", "band", "bucket")
    // cached, so every scan of the batch shows as one InMemoryRelation
    val batch = Seq((3L, 3L, 0, 7L, 1), (4L, 4L, 0, 7L, 2))
      .toDF("doc", "rk", "band", "bucket", "sh").persist()
    def plan(donors: Int) = IncrementalIndex.incrementalBucketCandidates(
      index, batch, bucketCap = 4, over = None, batchRows = 2L, donors = donors)
      .queryExecution.optimizedPlan
    def joins(donors: Int): Int = plan(donors).collect { case j: Join => j }.size
    def batchScans(donors: Int): Int =
      plan(donors).collect { case r: InMemoryRelation => r }.size
    // one join at every donor count: the batch's broadcast rows probe the
    // index rows and, unless there is exactly one donor, the batch rows
    assert((0 to 2).forall(joins(_) == 1), (0 to 2).map(joins))
    assert(batchScans(0) == 2, "an ingest probes batch×index and batch×batch")
    assert(batchScans(1) == 1, "one donor: index×donor only, no donor self-join")
    assert(batchScans(2) == 2, "two or more donors: the cross-shard donor probe returns")
    batch.unpersist()
  }
}
