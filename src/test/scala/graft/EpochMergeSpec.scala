package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IncrementalIndex}
import graft.sinks.VersionedTable

/** Exactly-once coverage of the MERGE surface: a re-delivered shard
  * merge must never adopt the same donor files twice — the failure mode
  * that DOUBLES every donor row in the adopter's log (the d64–d67/e25
  * operators mutate a LIVE index, so there is no fresh-root emptiness
  * require to fail loud on, unlike the TF-IDF merge). Each family's
  * epoch variant is pinned at its crash windows with the
  * EpochIngestSpec methodology: run the guarded merge, surgically erase
  * a suffix of its legs the way the crash would have left them
  * (version dir + hwm), replay, and require the final state equal a
  * clean single-delivery twin.
  */
class EpochMergeSpec extends SparkSpec {

  private lazy val docs: DataFrame =
    spark.read.parquet(sf("documents")).select(col("doc_id"), col("text"))

  private lazy val corpus: DataFrame = {
    val mutant = expr(
      "CASE WHEN instr(text, ' ') > 0 THEN substring(text, instr(text, ' ') + 1) ELSE text END")
    docs.union(docs.select((col("doc_id") + 100000).as("doc_id"), mutant.as("text")))
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("a").cast("long"), col("b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def resetHwm(root: String, to: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(root, "_epoch-hwm"), true)
    try out.write(to.getBytes("UTF-8")) finally out.close()
  }

  private def dropVersion(root: String, v: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root, VersionedTable.dirName(v)), true)
  }

  test("engaged bucket caps: binary and n-way merges keep mega-clique connectivity") {
    import spark.implicits._
    // a 12-member identical-text mega-clique (every band-bucket over cap
    // 4) split ACROSS shards, plus unrelated filler — this drives the
    // merge's over-cap rank-chunk path, where crossOnly/batchSharded
    // filter by tag difference instead of the ingest's new-flag
    val boiler = (0L until 12L).map(i =>
      (i, "terms of service apply to all content provided herein always"))
    val filler = (100L until 160L).map(i =>
      (i, s"unique document $i carrying words w${i * 7} w${i * 13} w${i * 29} w${i * 31}"))
    val all = (boiler ++ filler).toDF("doc_id", "text")
    val p = IncrementalIndex.MinHashParams(bucketCap = 4)
    def connected(pairs: Set[(Long, Long)]): Boolean = {
      val parent = scala.collection.mutable.Map((0L until 12L).map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairs.filter { case (a, b) => a < 12 && b < 12 }
        .foreach { case (a, b) => parent(find(a)) = find(b) }
      (0L until 12L).map(find).toSet.size == 1
    }
    // binary: even/odd shards (clique members on both sides)
    val bA = tmpDir("capm_a"); val bB = tmpDir("capm_b")
    val (_, pA) = IncrementalIndex.ingestMinHash(
      spark, bA, all.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
    val (_, pB) = IncrementalIndex.ingestMinHash(
      spark, bB, all.filter(col("doc_id") % 2 === 1), "doc_id", "text", p)
    val (_, cross) = IncrementalIndex.mergeMinHashIndexes(spark, bA, bB, p)
    val sX = pairSet(cross)
    assert(sX.nonEmpty && sX.forall { case (a, b) => (a % 2) != (b % 2) },
      "over-cap cross candidates must span the shards")
    assert(connected(pairSet(pA) ++ pairSet(pB) ++ sX),
      "binary merge under engaged caps must keep the clique one component")
    Seq(pA, pB, cross).foreach(_.unpersist(blocking = false))
    // n-way: mod-3 shards through the batchSharded over-cap path
    val roots = (0 to 2).map(i => tmpDir(s"capn_$i"))
    val shardPairs = (0 to 2).map { i =>
      val (_, pp) = IncrementalIndex.ingestMinHash(
        spark, roots(i), all.filter(pmod(col("doc_id"), lit(3)) === i),
        "doc_id", "text", p)
      val ss = pairSet(pp); pp.unpersist(blocking = false); ss
    }
    val (_, nx) = IncrementalIndex.mergeManyMinHashIndexes(
      spark, roots(0), Seq(roots(1), roots(2)), p)
    val sN = pairSet(nx)
    assert(sN.nonEmpty && sN.forall { case (a, b) => (a % 3) != (b % 3) },
      "n-way over-cap candidates must be cross-shard only")
    assert(connected(shardPairs.reduce(_ ++ _) ++ sN),
      "n-way merge under engaged caps must keep the clique one component")
    nx.unpersist(blocking = false)
  }

  test("minhash merge epoch: full replay drops; every crash window replays to the clean twin") {
    val rootA = tmpDir("em_a"); val rootB = tmpDir("em_b")
    val twinA = tmpDir("em_ta"); val twinB = tmpDir("em_tb")
    val pairsRoot = tmpDir("em_pairs"); val twinPairs = tmpDir("em_tpairs")
    val even = corpus.filter(col("doc_id") % 2 === 0)
    val odd = corpus.filter(col("doc_id") % 2 === 1)
    for ((ra, rb) <- Seq((rootA, rootB), (twinA, twinB))) {
      IncrementalIndex.ingestMinHash(spark, ra, even, "doc_id", "text")
        ._2.unpersist(blocking = false)
      IncrementalIndex.ingestMinHash(spark, rb, odd, "doc_id", "text")
        ._2.unpersist(blocking = false)
    }
    // clean single-delivery twin
    val Some((_, twinCross)) = IncrementalIndex.mergeMinHashIndexesEpoch(
      spark, twinA, twinPairs, twinB, epochId = 7L)
    val want = pairSet(twinCross)
    assert(want.nonEmpty, "the gate must exercise real cross structure")
    // guarded merge, delivered once
    val Some((_, cross)) = IncrementalIndex.mergeMinHashIndexesEpoch(
      spark, rootA, pairsRoot, rootB, epochId = 7L)
    assert(pairSet(cross) == want)
    val cleanSigVs = VersionedTable.versions(spark, rootA)
    val cleanRows = IncrementalIndex.readMinHashIndex(spark, rootA).count()
    // FULL replay drops — the at-least-once redelivery window
    assert(IncrementalIndex.mergeMinHashIndexesEpoch(
      spark, rootA, pairsRoot, rootB, epochId = 7L).isEmpty)
    assert(VersionedTable.versions(spark, rootA) == cleanSigVs,
      "a replayed merge must not adopt donor signatures twice")
    assert(IncrementalIndex.readMinHashIndex(spark, rootA).count() == cleanRows)
    assert(VersionedTable.versions(spark, pairsRoot).size == 1,
      "a replayed merge must not double the cross-pair log")
    // crash window "tombstones+stats committed, pairs+signatures not":
    // erase the two tail legs the way the crash left them, replay —
    // the suffix re-commits, stats do NOT double, pairs match
    dropVersion(rootA, cleanSigVs.last)
    resetHwm(rootA, "-1")
    dropVersion(pairsRoot, 1L)
    resetHwm(pairsRoot, "-1")
    val statsVsBefore = VersionedTable.versions(spark, s"$rootA/bucketstats")
    val Some((_, cross2)) = IncrementalIndex.mergeMinHashIndexesEpoch(
      spark, rootA, pairsRoot, rootB, epochId = 7L)
    assert(pairSet(cross2) == want,
      "a prefix replay must recompute identical cross pairs")
    assert(VersionedTable.versions(spark, s"$rootA/bucketstats") == statsVsBefore,
      "the stats leg must be skipped, not double-committed (occupancy would inflate)")
    assert(VersionedTable.versions(spark, rootA) == cleanSigVs)
    assert(IncrementalIndex.readMinHashIndex(spark, rootA).count() == cleanRows)
    // the replayed-to-completion index is the clean twin, byte-for-byte
    // in behavior: occupancy sums equal and a future ingest matches
    def occ(rt: String) = VersionedTable.readAllVersions(spark, s"$rt/bucketstats")
      .groupBy("band", "bucket").agg(sum(col("n")).as("n"))
      .collect().map(_.toSeq).toSet
    assert(occ(rootA) == occ(twinA))
    val b3 = docs.select((col("doc_id") + 200000).as("doc_id"), col("text"))
    val p3 = IncrementalIndex.ingestMinHash(spark, rootA, b3, "doc_id", "text")._2
    val t3 = IncrementalIndex.ingestMinHash(spark, twinA, b3, "doc_id", "text")._2
    assert(pairSet(p3) == pairSet(t3),
      "a post-replay ingest must equal the clean twin's")
    Seq(twinCross, cross, cross2, p3, t3).foreach(_.unpersist(blocking = false))
  }

  test("n-way merge epoch: replay drops; each leg adopts all donors atomically") {
    val roots = (0 to 2).map(i => tmpDir(s"emn_$i"))
    val pairsRoot = tmpDir("emn_pairs")
    val shard = (i: Int) => corpus.filter(pmod(col("doc_id"), lit(3)) === i)
    (0 to 2).foreach { i =>
      IncrementalIndex.ingestMinHash(spark, roots(i), shard(i), "doc_id", "text")
        ._2.unpersist(blocking = false)
    }
    val Some((_, cross)) = IncrementalIndex.mergeManyMinHashIndexesEpoch(
      spark, roots(0), pairsRoot, Seq(roots(1), roots(2)), epochId = 3L)
    val sigVs = VersionedTable.versions(spark, roots(0))
    // ONE guarded version adopted both donors — a leg has no partially-
    // adopted window ("two of three donors in") to reason about
    assert(sigVs == Seq(1L, 2L),
      s"one atomic adoption version per leg, got $sigVs")
    val rows = IncrementalIndex.readMinHashIndex(spark, roots(0)).count()
    assert(rows == corpus.count())
    assert(IncrementalIndex.mergeManyMinHashIndexesEpoch(
      spark, roots(0), pairsRoot, Seq(roots(1), roots(2)), epochId = 3L).isEmpty)
    assert(VersionedTable.versions(spark, roots(0)) == sigVs)
    assert(IncrementalIndex.readMinHashIndex(spark, roots(0)).count() == rows)
    // accumulated union still equals the one-shot (the d69 invariant,
    // through the guard)
    val oneShot = Dedup.minHashLsh(corpus, "doc_id", "text",
      numHashes = 128, bands = 32, shingleN = 3, threshold = 0.8)
    val shardPairs = (0 to 2).map { i =>
      pairSet(Dedup.minHashLsh(shard(i), "doc_id", "text",
        numHashes = 128, bands = 32, shingleN = 3, threshold = 0.8))
    }.reduce(_ union _)
    assert(shardPairs.union(pairSet(cross)) == pairSet(oneShot))
    cross.unpersist(blocking = false)
  }

  test("simhash, srp, exact, prefix merge epochs: replays drop; suffix windows recommit") {
    import IncrementalIndex.{SrpParams, PrefixJaccardParams}
    // --- simhash ---
    val shA = tmpDir("ems_a"); val shB = tmpDir("ems_b")
    val shPairs = tmpDir("ems_pairs")
    val even = corpus.filter(col("doc_id") % 2 === 0)
    val odd = corpus.filter(col("doc_id") % 2 === 1)
    IncrementalIndex.ingestSimHash(spark, shA, even, "doc_id", "text")
      ._2.unpersist(blocking = false)
    IncrementalIndex.ingestSimHash(spark, shB, odd, "doc_id", "text")
      ._2.unpersist(blocking = false)
    val Some((_, shCross)) = IncrementalIndex.mergeSimHashIndexesEpoch(
      spark, shA, shPairs, shB, epochId = 2L)
    val shWant = pairSet(shCross)
    val shVs = VersionedTable.versions(spark, shA)
    assert(IncrementalIndex.mergeSimHashIndexesEpoch(
      spark, shA, shPairs, shB, epochId = 2L).isEmpty)
    assert(VersionedTable.versions(spark, shA) == shVs)
    // suffix window: signatures not yet adopted
    dropVersion(shA, shVs.last); resetHwm(shA, "-1")
    val Some((_, shCross2)) = IncrementalIndex.mergeSimHashIndexesEpoch(
      spark, shA, shPairs, shB, epochId = 2L)
    assert(pairSet(shCross2) == shWant)
    assert(VersionedTable.versions(spark, shA) == shVs)
    assert(VersionedTable.versions(spark, shPairs).size == 1)
    Seq(shCross, shCross2).foreach(_.unpersist(blocking = false))

    // --- srp (embeddings) ---
    val emb = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val dup = emb.select((col("vec_id") + 100000).as("vec_id"),
      expr("transform(v, (x, i) -> IF(i = 0, x + 0.01D, x))").as("v"))
    val vecs = emb.union(dup)
    val srpP = SrpParams(dim = 64, bitsPerTable = 8, bucketCap = 256)
    val evA = tmpDir("eme_a"); val evB = tmpDir("eme_b")
    val evPairs = tmpDir("eme_pairs")
    // a twin (vec_id + 100000) lands in the other shard than its source,
    // so the pairs leg the replay must not repeat is not empty
    val shard = pmod(col("vec_id") % 100000 + floor(col("vec_id") / 100000), lit(2))
    IncrementalIndex.ingestEmbeddings(spark, evA,
      vecs.filter(shard === 0), "vec_id", "v", srpP)
      ._2.unpersist(blocking = false)
    IncrementalIndex.ingestEmbeddings(spark, evB,
      vecs.filter(shard === 1), "vec_id", "v", srpP)
      ._2.unpersist(blocking = false)
    val Some((_, evCross)) = IncrementalIndex.mergeSrpIndexesEpoch(
      spark, evA, evPairs, evB, 1L, srpP)
    assert(pairSet(evCross).nonEmpty, "twins straddle the shards: cross pairs exist")
    val evVs = VersionedTable.versions(spark, evA)
    val evRows = IncrementalIndex.readSrpIndex(spark, evA).count()
    assert(IncrementalIndex.mergeSrpIndexesEpoch(
      spark, evA, evPairs, evB, 1L, srpP).isEmpty)
    assert(VersionedTable.versions(spark, evA) == evVs &&
      IncrementalIndex.readSrpIndex(spark, evA).count() == evRows)
    evCross.unpersist(blocking = false)

    // --- exact ---
    val exA = tmpDir("emx_a"); val exB = tmpDir("emx_b")
    val exDelta = tmpDir("emx_delta")
    val copies = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
    IncrementalIndex.ingestExact(spark, exA, docs, "doc_id", "text")
      ._2.unpersist(blocking = false)
    IncrementalIndex.ingestExact(spark, exB, copies, "doc_id", "text")
      ._2.unpersist(blocking = false)
    val Some((_, delta)) = IncrementalIndex.mergeExactIndexesEpoch(
      spark, exA, exDelta, exB, epochId = 4L)
    val nDelta = delta.count()
    assert(nDelta > 0)
    val fpVs = VersionedTable.versions(spark, s"$exA/fingerprints")
    assert(IncrementalIndex.mergeExactIndexesEpoch(
      spark, exA, exDelta, exB, epochId = 4L).isEmpty)
    assert(VersionedTable.versions(spark, s"$exA/fingerprints") == fpVs,
      "a replayed exact merge must not double the fingerprint log")
    assert(VersionedTable.versions(spark, exDelta).size == 1)
    delta.unpersist(blocking = false)

    // --- prefix (all-write legs through commitEpoch) ---
    val pfA = tmpDir("emp_a"); val pfB = tmpDir("emp_b")
    val pfPairs = tmpDir("emp_pairs")
    val pfP = PrefixJaccardParams()
    val sets = (d: DataFrame) => d.select(col("doc_id").as("id"),
      explode(split(col("text"), "\\s+")).as("elem")).distinct()
    IncrementalIndex.ingestPrefixJaccard(spark, pfA, sets(even), pfP)
      ._2.unpersist(blocking = false)
    IncrementalIndex.ingestPrefixJaccard(spark, pfB, sets(odd), pfP)
      ._2.unpersist(blocking = false)
    val Some((_, pfCross)) = IncrementalIndex.mergePrefixIndexesEpoch(
      spark, pfA, pfPairs, pfB, epochId = 2L, pfP)
    val tokVs = VersionedTable.versions(spark, s"$pfA/tokens")
    assert(IncrementalIndex.mergePrefixIndexesEpoch(
      spark, pfA, pfPairs, pfB, epochId = 2L, pfP).isEmpty)
    assert(VersionedTable.versions(spark, s"$pfA/tokens") == tokVs,
      "a replayed prefix merge must not re-append donor token rows")
    assert(VersionedTable.versions(spark, pfPairs).size == 1)
    pfCross.unpersist(blocking = false)

    // --- semdedup: the replay guard must fire BEFORE the donor read,
    // so a redelivery after the donor shard was torn down still no-ops
    val smA = tmpDir("emsd_a"); val smB = tmpDir("emsd_b")
    val smV = tmpDir("emsd_v")
    val embA = emb.filter(col("vec_id") < 500)
    val embB = vecs.filter(col("vec_id") >= 500)
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cvec"))
    val donorCents = emb.filter(col("vec_id") >= 8 && col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cvec"))
    IncrementalIndex.bootstrapSemDedup(
      spark, smA, embA, "vec_id", "v", cents, threshold = 0.99)
      .verdicts.unpersist(blocking = false)
    IncrementalIndex.bootstrapSemDedup(
      spark, smB, embB, "vec_id", "v", donorCents, threshold = 0.99)
      .verdicts.unpersist(blocking = false)
    val sm = IncrementalIndex.mergeSemDedupIndexesEpoch(
      spark, smA, smV, smB, threshold = 0.99, epochId = 9L)
    assert(sm.nonEmpty)
    sm.get.verdicts.unpersist(blocking = false)
    // donor torn down (decommissioned shard), then the step re-delivers
    val fsys = new org.apache.hadoop.fs.Path(smB)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(smB), true)
    assert(IncrementalIndex.mergeSemDedupIndexesEpoch(
      spark, smA, smV, smB, threshold = 0.99, epochId = 9L).isEmpty,
      "a replay after donor teardown must no-op at the guard, not crash")
  }

  test("n-way exact merge: one pass equals the global rule and the fold; replay drops") {
    import org.apache.spark.sql.expressions.Window
    // docs + verbatim copies, mod-3 split: every copy lands in a
    // different shard than its original (100000 % 3 = 2), so every dup
    // group spans shards and is the one-pass correction's to find
    val copies = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val all = docs.unionAll(copies)
    val roots = (0 to 2).map(i => tmpDir(s"xnw_$i"))
    val froots = (0 to 2).map(i => tmpDir(s"xnwf_$i"))
    val shardVerdicts = (0 to 2).map { i =>
      val shard = all.filter(pmod(col("doc_id"), lit(3)) === i)
      IncrementalIndex.ingestExact(spark, froots(i), shard, "doc_id", "text")
        ._2.unpersist(blocking = false)
      IncrementalIndex.ingestExact(spark, roots(i), shard, "doc_id", "text")._2
    }
    val deltaRoot = tmpDir("xnw_delta")
    val Some((_, delta)) = IncrementalIndex.mergeManyExactIndexesEpoch(
      spark, roots(0), deltaRoot, Seq(roots(1), roots(2)), epochId = 3L)
    def applied(base: DataFrame, d: DataFrame): DataFrame = base
      .join(d.select(col("id"), col("kept").as("k2")), Seq("id"), "left")
      .select(col("id"), col("fp"), coalesce(col("k2"), col("kept")).as("kept"))
    val union = shardVerdicts.reduce(_.unionAll(_)).persist()
    val onePass = applied(union, delta)
    // the global keep-the-min rule, recomputed from the verdict rows
    val expect = union.select(col("id"), col("fp")).withColumn("kept",
      row_number().over(Window.partitionBy("fp").orderBy("id")) === 1)
    assert(onePass.exceptAll(expect).isEmpty && expect.exceptAll(onePass).isEmpty,
      "one-pass N-way verdicts must equal the one-shot global rule")
    // fold twin: two binary merges, later delta overrides the earlier
    val (_, d1) = IncrementalIndex.mergeExactIndexes(spark, froots(0), froots(1))
    val (_, d2) = IncrementalIndex.mergeExactIndexes(spark, froots(0), froots(2))
    val fold = applied(applied(union, d1), d2)
    assert(onePass.exceptAll(fold).isEmpty && fold.exceptAll(onePass).isEmpty,
      "one-pass must equal the fold of binary merges")
    // replay: pure no-op — no new fp version, no second delta version
    val fpVs = VersionedTable.versions(spark, s"${roots(0)}/fingerprints")
    assert(IncrementalIndex.mergeManyExactIndexesEpoch(
      spark, roots(0), deltaRoot, Seq(roots(1), roots(2)), epochId = 3L).isEmpty)
    assert(VersionedTable.versions(spark, s"${roots(0)}/fingerprints") == fpVs &&
      VersionedTable.versions(spark, deltaRoot).size == 1,
      "a replayed N-way exact merge must not re-adopt or re-append")
    union.unpersist(blocking = false)
    (shardVerdicts :+ delta :+ d1 :+ d2).foreach(_.unpersist(blocking = false))
  }

  test("n-way simhash and srp merges: one pass equals the fold; replays drop") {
    import IncrementalIndex.SrpParams
    // --- simhash: mod-3 shards, fold twin from byte-equal re-ingests
    val shard = (i: Int) => corpus.filter(pmod(col("doc_id"), lit(3)) === i)
    val roots = (0 to 2).map(i => tmpDir(s"snw_$i"))
    val froots = (0 to 2).map(i => tmpDir(s"snwf_$i"))
    val shardPairs = (0 to 2).map { i =>
      IncrementalIndex.ingestSimHash(spark, froots(i), shard(i), "doc_id", "text")
        ._2.unpersist(blocking = false)
      IncrementalIndex.ingestSimHash(spark, roots(i), shard(i), "doc_id", "text")._2
    }
    val pairsRoot = tmpDir("snw_pairs")
    val Some((_, cross)) = IncrementalIndex.mergeManySimHashIndexesEpoch(
      spark, roots(0), pairsRoot, Seq(roots(1), roots(2)), epochId = 7L)
    var fold = Set.empty[(Long, Long)]
    Seq(1, 2).foreach { i =>
      val (_, x) = IncrementalIndex.mergeSimHashIndexes(spark, froots(0), froots(i))
      fold ++= pairSet(x); x.unpersist(blocking = false)
    }
    assert(pairSet(cross) == fold,
      "one-pass simhash fan-in must equal the fold of binary merges")
    val sigVs = VersionedTable.versions(spark, roots(0))
    assert(IncrementalIndex.mergeManySimHashIndexesEpoch(
      spark, roots(0), pairsRoot, Seq(roots(1), roots(2)), epochId = 7L).isEmpty)
    assert(VersionedTable.versions(spark, roots(0)) == sigVs &&
      VersionedTable.versions(spark, pairsRoot).size == 1,
      "a replayed N-way simhash merge must not re-adopt or re-append")
    (shardPairs :+ cross).foreach(_.unpersist(blocking = false))

    // --- srp: one frozen geometry across three shards
    val emb = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val dup = emb.select((col("vec_id") + 100000).as("vec_id"),
      expr("transform(v, (x, i) -> IF(i = 0, x + 0.01D, x))").as("v"))
    val vecs = emb.union(dup)
    val p = SrpParams(dim = 64, bitsPerTable = 8, bucketCap = 256)
    val vshard = (i: Int) => vecs.filter(pmod(col("vec_id"), lit(3)) === i)
    val vroots = (0 to 2).map(i => tmpDir(s"vnw_$i"))
    val vfroots = (0 to 2).map(i => tmpDir(s"vnwf_$i"))
    (0 to 2).foreach { i =>
      IncrementalIndex.ingestEmbeddings(spark, vroots(i), vshard(i), "vec_id", "v", p)
        ._2.unpersist(blocking = false)
      IncrementalIndex.ingestEmbeddings(spark, vfroots(i), vshard(i), "vec_id", "v", p)
        ._2.unpersist(blocking = false)
    }
    val vpairs = tmpDir("vnw_pairs")
    val Some((_, vcross)) = IncrementalIndex.mergeManySrpIndexesEpoch(
      spark, vroots(0), vpairs, Seq(vroots(1), vroots(2)), epochId = 8L, p)
    var vfold = Set.empty[(Long, Long)]
    Seq(1, 2).foreach { i =>
      val (_, x) = IncrementalIndex.mergeSrpIndexes(spark, vfroots(0), vfroots(i), p)
      vfold ++= pairSet(x); x.unpersist(blocking = false)
    }
    assert(pairSet(vcross) == vfold,
      "one-pass srp fan-in must equal the fold of binary merges")
    assert(IncrementalIndex.mergeManySrpIndexesEpoch(
      spark, vroots(0), vpairs, Seq(vroots(1), vroots(2)), epochId = 8L, p).isEmpty)
    assert(VersionedTable.versions(spark, vpairs).size == 1)
    vcross.unpersist(blocking = false)

    // --- prefix: donors re-sort under the adopter's frozen order; one
    // tagged pass must equal the fold of binary merges
    import IncrementalIndex.PrefixJaccardParams
    val pfP = PrefixJaccardParams()
    val sets = (d: DataFrame) => d.select(col("doc_id").as("id"),
      explode(split(col("text"), "\\s+")).as("elem")).distinct()
    val pshard = (i: Int) =>
      sets(corpus.filter(pmod(col("doc_id"), lit(3)) === i))
    val proots = (0 to 2).map(i => tmpDir(s"pnw_$i"))
    val pfroots = (0 to 2).map(i => tmpDir(s"pnwf_$i"))
    (0 to 2).foreach { i =>
      IncrementalIndex.ingestPrefixJaccard(spark, proots(i), pshard(i), pfP)
        ._2.unpersist(blocking = false)
      IncrementalIndex.ingestPrefixJaccard(spark, pfroots(i), pshard(i), pfP)
        ._2.unpersist(blocking = false)
    }
    def ppairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("ia").cast("long"), col("ib").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ppRoot = tmpDir("pnw_pairs")
    val Some((_, pcross)) = IncrementalIndex.mergeManyPrefixIndexesEpoch(
      spark, proots(0), ppRoot, Seq(proots(1), proots(2)), epochId = 9L, pfP)
    var pfold = Set.empty[(Long, Long)]
    Seq(1, 2).foreach { i =>
      val (_, x) = IncrementalIndex.mergePrefixIndexes(spark, pfroots(0), pfroots(i), pfP)
      pfold ++= ppairs(x); x.unpersist(blocking = false)
    }
    assert(ppairs(pcross) == pfold,
      "one-pass prefix fan-in must equal the fold of binary merges")
    val tokVs = VersionedTable.versions(spark, s"${proots(0)}/tokens")
    assert(IncrementalIndex.mergeManyPrefixIndexesEpoch(
      spark, proots(0), ppRoot, Seq(proots(1), proots(2)), epochId = 9L, pfP).isEmpty)
    assert(VersionedTable.versions(spark, s"${proots(0)}/tokens") == tokVs &&
      VersionedTable.versions(spark, ppRoot).size == 1,
      "a replayed N-way prefix merge must not re-append donor tokens")
    pcross.unpersist(blocking = false)
  }

  test("foreign hwm on a shared result root fails loud instead of dropping the pairs leg") {
    // Two adopter lineages sharing ONE pairs root: lineage A2 commits
    // epoch 100 there, so lineage A1's merge at epoch 5 sees the pairs
    // leg as "committed" by the hwm witness with no marker of its own.
    // Silently skipping would adopt donor signatures while losing A1's
    // cross pairs forever — the guard must stop BEFORE the signature
    // adoption leg with both causes (shared root / compaction) named.
    val p = IncrementalIndex.MinHashParams()
    val even = corpus.filter(col("doc_id") % 2 === 0)
    val odd = corpus.filter(col("doc_id") % 2 === 1)
    val a1 = tmpDir("fh_a1"); val b1 = tmpDir("fh_b1")
    val a2 = tmpDir("fh_a2"); val b2 = tmpDir("fh_b2")
    val shared = tmpDir("fh_pairs")
    Seq(a1 -> even, b1 -> odd, a2 -> even, b2 -> odd).foreach {
      case (r, d) => IncrementalIndex.ingestMinHash(
        spark, r, d, "doc_id", "text", p)._2.unpersist(blocking = false)
    }
    val Some((_, c2)) = IncrementalIndex.mergeMinHashIndexesEpoch(
      spark, a2, shared, b2, epochId = 100L, p)
    c2.unpersist(blocking = false)
    val sigVs = VersionedTable.versions(spark, a1)
    val ex = intercept[IllegalStateException] {
      IncrementalIndex.mergeMinHashIndexesEpoch(
        spark, a1, shared, b1, epochId = 5L, p)
    }
    assert(ex.getMessage.contains("no version carries its _epoch marker"))
    assert(VersionedTable.versions(spark, a1) == sigVs,
      "the loud stop must fire before donor signatures adopt into a1")
  }

  test("semdedup merge rejects an interleaved-id (hash-split) donor before any leg commits") {
    val emb = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cvec"))
    val smA = tmpDir("ilv_a"); val smB = tmpDir("ilv_b")
    val smV = tmpDir("ilv_v")
    // hash split: even/odd vec_ids interleave — exactly the sharding the
    // append-ordered verdict semantics cannot absorb
    IncrementalIndex.bootstrapSemDedup(spark, smA,
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "v", cents,
      threshold = 0.99).verdicts.unpersist(blocking = false)
    IncrementalIndex.bootstrapSemDedup(spark, smB,
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "v", cents,
      threshold = 0.99).verdicts.unpersist(blocking = false)
    val memVs = VersionedTable.versions(spark, s"$smA/members")
    val exU = intercept[IllegalArgumentException] {
      IncrementalIndex.mergeSemDedupIndexes(spark, smA, smB, threshold = 0.99)
    }
    assert(exU.getMessage.contains("id-RANGE"))
    val exE = intercept[IllegalArgumentException] {
      IncrementalIndex.mergeSemDedupIndexesEpoch(
        spark, smA, smV, smB, epochId = 7L, threshold = 0.99)
    }
    assert(exE.getMessage.contains("id-RANGE"))
    assert(VersionedTable.versions(spark, s"$smA/members") == memVs &&
      VersionedTable.versions(spark, smV).isEmpty,
      "the rejection must land before any leg commits")
  }

  private def semCorpus: (DataFrame, DataFrame) = {
    val base = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val mut = base.select((col("vec_id") + 100000).as("vec_id"),
      expr("transform(v, (x, i) -> CASE WHEN i = 0 THEN x + 0.01 ELSE x END)").as("v"))
    (base, base.union(mut))
  }

  private def verdictSet(df: DataFrame): Set[(Long, Long, Boolean)] =
    df.select(col("id").cast("long"), col("cid").cast("long"), col("kept"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

  test("n-way semdedup merge: shuffled range donors in one pass equal a fold of binary merges") {
    val (base, corpus) = semCorpus
    val n = base.count()
    val cents = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cvec"))
    def donorCents(from: Long) = base
      .filter(col("vec_id") >= from && col("vec_id") < from + 8)
      .select(col("vec_id").as("cid"), col("v").as("cvec"))
    val ranges = Seq(
      col("vec_id") >= n / 2 && col("vec_id") < 100000L,
      col("vec_id") >= 100000L && col("vec_id") < 100000L + n / 2,
      col("vec_id") >= 100000L + n / 2)
    // two identical adopters (one per strategy); donors each frozen
    // under their OWN geometry so the fan-in genuinely re-assigns
    val aOne = tmpDir("nsem_one"); val aFold = tmpDir("nsem_fold")
    val vA = IncrementalIndex.bootstrapSemDedup(spark, aOne,
      corpus.filter(col("vec_id") < n / 2), "vec_id", "v", cents,
      threshold = 0.99, cap = 2048).verdicts
    IncrementalIndex.bootstrapSemDedup(spark, aFold,
      corpus.filter(col("vec_id") < n / 2), "vec_id", "v", cents,
      threshold = 0.99, cap = 2048).verdicts.unpersist(blocking = false)
    val donorRoots = ranges.zipWithIndex.map { case (pred, i) =>
      val r = tmpDir(s"nsem_d$i")
      IncrementalIndex.bootstrapSemDedup(spark, r, corpus.filter(pred),
        "vec_id", "v", donorCents(8L * (i + 1)), threshold = 0.99,
        cap = 2048).verdicts.unpersist(blocking = false)
      r
    }
    // one pass, donors deliberately OUT of range order — the contract
    // binds the ranges, not the Seq
    val vOne = IncrementalIndex.mergeManySemDedupIndexes(spark, aOne,
      Seq(donorRoots(1), donorRoots(2), donorRoots(0)),
      threshold = 0.99, cap = 2048).verdicts
    // fold of binaries MUST go in range order (each merge's donor must
    // sit above the grown adopter)
    val vFold = donorRoots.map(d => IncrementalIndex.mergeSemDedupIndexes(
      spark, aFold, d, threshold = 0.99, cap = 2048).verdicts)
    assert(verdictSet(vA) ++ verdictSet(vOne) ==
      verdictSet(vA) ++ vFold.map(verdictSet).reduce(_ ++ _),
      "one-pass fan-in and ordered fold must accumulate identical verdicts")
    assert(verdictSet(vOne).map(_._1) ==
      vFold.map(verdictSet).reduce(_ ++ _).map(_._1),
      "the one pass must verdict exactly the union of the donors' members")
    (vFold :+ vA :+ vOne).foreach(_.unpersist(blocking = false))
  }

  test("n-way semdedup merge rejects overlapping donor ranges and donors below the adopter") {
    val (base, corpus) = semCorpus
    val n = base.count()
    val cents = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cvec"))
    val adopter = tmpDir("nsemr_a")
    IncrementalIndex.bootstrapSemDedup(spark, adopter,
      corpus.filter(col("vec_id") >= n / 4 && col("vec_id") < n / 2),
      "vec_id", "v", cents, threshold = 0.99, cap = 2048)
      .verdicts.unpersist(blocking = false)
    // dWide spans [n/2, 100000+n/4); dNested sits INSIDE it — the
    // running-max check must catch the nesting even though dNested's
    // min exceeds the PREVIOUS row's min
    def mk(name: String, pred: org.apache.spark.sql.Column): String = {
      val r = tmpDir(name)
      IncrementalIndex.bootstrapSemDedup(spark, r, corpus.filter(pred),
        "vec_id", "v", cents, threshold = 0.99, cap = 2048)
        .verdicts.unpersist(blocking = false)
      r
    }
    val dWide = mk("nsemr_w",
      col("vec_id") >= n / 2 && col("vec_id") < 100000L + n / 4)
    val dNested = mk("nsemr_n",
      col("vec_id") >= 100000L + n / 8 && col("vec_id") < 100000L + n / 5)
    val dBelow = mk("nsemr_b", col("vec_id") < n / 4)
    val memVs = VersionedTable.versions(spark, s"$adopter/members")
    val exOverlap = intercept[IllegalArgumentException] {
      IncrementalIndex.mergeManySemDedupIndexes(spark, adopter,
        Seq(dWide, dNested), threshold = 0.99, cap = 2048)
    }
    assert(exOverlap.getMessage.contains("id-RANGE"))
    val exBelow = intercept[IllegalArgumentException] {
      IncrementalIndex.mergeManySemDedupIndexes(spark, adopter,
        Seq(dWide, dBelow), threshold = 0.99, cap = 2048)
    }
    assert(exBelow.getMessage.contains("id-RANGE"))
    assert(VersionedTable.versions(spark, s"$adopter/members") == memVs,
      "rejections must land before any leg commits")
  }

  test("n-way semdedup merge epoch: replay is a no-op, crash suffix completes") {
    val (base, corpus) = semCorpus
    val n = base.count()
    val cents = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cvec"))
    val adopter = tmpDir("nseme_a"); val vroot = tmpDir("nseme_v")
    IncrementalIndex.bootstrapSemDedup(spark, adopter,
      corpus.filter(col("vec_id") < n / 2), "vec_id", "v", cents,
      threshold = 0.99, cap = 2048).verdicts.unpersist(blocking = false)
    val donors = Seq(
      col("vec_id") >= n / 2 && col("vec_id") < 100000L,
      col("vec_id") >= 100000L).zipWithIndex.map { case (pred, i) =>
      val r = tmpDir(s"nseme_d$i")
      IncrementalIndex.bootstrapSemDedup(spark, r, corpus.filter(pred),
        "vec_id", "v", cents, threshold = 0.99, cap = 2048)
        .verdicts.unpersist(blocking = false)
      r
    }
    val first = IncrementalIndex.mergeManySemDedupIndexesEpoch(
      spark, adopter, vroot, donors, epochId = 3L, threshold = 0.99,
      cap = 2048)
    assert(first.nonEmpty)
    first.foreach(_.verdicts.unpersist(blocking = false))
    val memVs = VersionedTable.versions(spark, s"$adopter/members")
    val vVs = VersionedTable.versions(spark, vroot)
    assert(IncrementalIndex.mergeManySemDedupIndexesEpoch(
      spark, adopter, vroot, donors, epochId = 3L, threshold = 0.99,
      cap = 2048).isEmpty, "a redelivered fan-in epoch must no-op")
    assert(VersionedTable.versions(spark, s"$adopter/members") == memVs &&
      VersionedTable.versions(spark, vroot) == vVs,
      "the replay must commit nothing")
    // crash window: verdict leg committed, member leg lost — the replay
    // recomputes and commits the missing suffix only
    dropVersion(s"$adopter/members", memVs.last)
    resetHwm(s"$adopter/members", "-1")
    val replay = IncrementalIndex.mergeManySemDedupIndexesEpoch(
      spark, adopter, vroot, donors, epochId = 3L, threshold = 0.99,
      cap = 2048)
    assert(replay.nonEmpty, "a lost member leg must be recommitted")
    replay.foreach(_.verdicts.unpersist(blocking = false))
    assert(VersionedTable.versions(spark, s"$adopter/members").size == memVs.size &&
      VersionedTable.versions(spark, vroot) == vVs,
      "the crash replay must restore the member leg without double-appending verdicts")
  }

  test("Corpus n-way semdedup wrappers delegate: verdicts equal the direct call, epoch replays no-op") {
    import graft.api.{corpus => CorpusApi}
    val (base, corpus) = semCorpus
    val n = base.count()
    val cents = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cvec"))
    // twin adopters — one per surface — so the wrapper's verdicts can be
    // compared against the direct IncrementalIndex call on equal state
    val aApi = tmpDir("csem_api"); val aDir = tmpDir("csem_dir")
    Seq(aApi, aDir).foreach { r =>
      IncrementalIndex.bootstrapSemDedup(spark, r,
        corpus.filter(col("vec_id") < n / 2), "vec_id", "v", cents,
        threshold = 0.99, cap = 2048).verdicts.unpersist(blocking = false)
    }
    val donors = Seq(
      col("vec_id") >= n / 2 && col("vec_id") < 100000L,
      col("vec_id") >= 100000L).zipWithIndex.map { case (pred, i) =>
      val r = tmpDir(s"csem_d$i")
      IncrementalIndex.bootstrapSemDedup(spark, r, corpus.filter(pred),
        "vec_id", "v", cents, threshold = 0.99, cap = 2048)
        .verdicts.unpersist(blocking = false)
      r
    }
    val vApi = CorpusApi.mergeManySemDedupIndexes(spark, aApi, donors,
      threshold = 0.99, cap = 2048).verdicts
    val vDir = IncrementalIndex.mergeManySemDedupIndexes(spark, aDir, donors,
      threshold = 0.99, cap = 2048).verdicts
    assert(verdictSet(vApi) == verdictSet(vDir),
      "the Corpus wrapper must produce the direct call's verdicts")
    Seq(vApi, vDir).foreach(_.unpersist(blocking = false))
    // epoch wrapper: first delivery lands, redelivery no-ops
    val aEp = tmpDir("csem_ep"); val vroot = tmpDir("csem_epv")
    IncrementalIndex.bootstrapSemDedup(spark, aEp,
      corpus.filter(col("vec_id") < n / 2), "vec_id", "v", cents,
      threshold = 0.99, cap = 2048).verdicts.unpersist(blocking = false)
    val first = CorpusApi.mergeManySemDedupIndexesEpoch(
      spark, aEp, vroot, donors, epochId = 11L, threshold = 0.99, cap = 2048)
    assert(first.nonEmpty)
    first.foreach(_.verdicts.unpersist(blocking = false))
    val memVs = VersionedTable.versions(spark, s"$aEp/members")
    assert(CorpusApi.mergeManySemDedupIndexesEpoch(
      spark, aEp, vroot, donors, epochId = 11L, threshold = 0.99,
      cap = 2048).isEmpty, "a redelivered wrapper epoch must no-op")
    assert(VersionedTable.versions(spark, s"$aEp/members") == memVs,
      "the replay must commit nothing")
  }
}
