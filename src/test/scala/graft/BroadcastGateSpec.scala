package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IncrementalIndex
import graft.operators.IncrementalIndex.DefaultBroadcastRowLimit

/** The stats pass's gates, forced at small scale for every banded family
  * (MinHash, SimHash, SRP, prefix), at donor counts 0 (an ingest), 1 and
  * 2 (merges), with bucket caps engaged by a 12-member identical clique
  * over cap 4:
  *
  *  - the candidate bound is never below the distinct candidate count;
  *  - the side broadcast is decided by the bound when twice the bound
  *    fits the limit, and by the exact candidate count otherwise: a
  *    limit of exactly the batch's banded rows keeps the batch-side
  *    broadcast with the bound over half of it, a limit of twice the
  *    distinct count still broadcasts the sides, one row less does not,
  *    and the pairs at every such limit equal the all-broadcast run's;
  *  - an over-cap bucket the batch does not touch drops out of the
  *    over-cap list, so the candidate plan has no rank-chunk branch, and
  *    the pairs equal an uncapped run's.
  *
  * Every row has a twin in another part of the split, so each ingest or
  * merge has cross pairs to find.
  */
class BroadcastGateSpec extends SparkSpec {

  private val cap = 4
  private val baseDocs = 300
  private val clique = 200000L

  private lazy val texts: DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val base = (0 until baseDocs).map(i =>
      (i.toLong, Seq.fill(40)(s"w${rng.nextInt(200000)}").mkString(" ")))
    val twins = base.map { case (i, t) => (i + 100000L, t) }
    val boiler = (0L until 12L).map(j =>
      (clique + j, "terms of service apply to all content provided herein always"))
    (base ++ twins ++ boiler).toDF("id", "text")
  }

  private lazy val vectors: DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val base = (0 until baseDocs).map(i => (i.toLong, Seq.fill(32)(rng.nextGaussian())))
    val twins = base.map { case (i, v) => (i + 100000L, v.updated(0, v.head + 0.001)) }
    val boiler = (0L until 12L).map(j => (clique + j, Seq.fill(32)(1.0)))
    (base ++ twins ++ boiler).toDF("id", "v")
  }

  /** Part `k` of an `n`-way split: a twin (id + 100000) lands one part
    * after its source, so every twin pair crosses parts.
    */
  private def part(n: Int) = pmod(col("id") % 100000 + floor(col("id") / 100000), lit(n))

  /** One banded family under test, at bucket cap `cap`: its ingest and
    * N-way merge (returning the verified pairs), the banded batch an
    * ingest or a merge feeds the stats pass, the banded live index, and
    * its maintained stats log.
    */
  private final case class Family(name: String, rows: () => DataFrame,
      ingest: (String, DataFrame, Long) => DataFrame,
      merge: (String, Seq[String], Long) => DataFrame,
      ingestBatch: (String, DataFrame) => DataFrame,
      donorBatch: (String, Seq[String]) => DataFrame,
      index: String => DataFrame, statsRoot: String => String,
      pairCols: (String, String))

  private def tagged(banded: Seq[DataFrame]): DataFrame =
    if (banded.size < 2) banded.head
    else banded.zipWithIndex.map { case (b, i) => b.withColumn("sh", lit(i + 1)) }
      .reduce(_.unionAll(_))

  private def bucketStatsRoot(root: String) = IncrementalIndex.subRoot(root, "bucketstats")

  private def minHash(cap: Int) = {
    val p = IncrementalIndex.MinHashParams(bucketCap = cap)
    val f = IncrementalIndex.minHashFamily(p)
    Family("minhash", () => texts,
      (r, df, limit) => IncrementalIndex.ingestMinHash(spark, r, df, "id", "text",
        p.copy(broadcastRowLimit = limit))._2,
      (r, ds, limit) => IncrementalIndex.mergeManyMinHashIndexes(spark, r, ds,
        p.copy(broadcastRowLimit = limit))._2,
      (_, df) => f.banded(IncrementalIndex.minHashSignatures(df, "id", "text", p)),
      (_, ds) => tagged(ds.map(d => f.banded(f.read(spark, d)))),
      r => f.banded(f.read(spark, r)), bucketStatsRoot, ("a", "b"))
  }

  private def simHash(cap: Int) = {
    val f = IncrementalIndex.simHashFamily(3, cap, DefaultBroadcastRowLimit)
    Family("simhash", () => texts,
      (r, df, limit) => IncrementalIndex.ingestSimHash(spark, r, df, "id", "text",
        bucketCap = cap, broadcastRowLimit = limit)._2,
      (r, ds, limit) => IncrementalIndex.mergeManySimHashIndexes(spark, r, ds,
        bucketCap = cap, broadcastRowLimit = limit)._2,
      (_, df) => f.banded(IncrementalIndex.simHashSignatures(df, "id", "text")),
      (_, ds) => tagged(ds.map(d => f.banded(f.read(spark, d)))),
      r => f.banded(f.read(spark, r)), bucketStatsRoot, ("a", "b"))
  }

  private def srp(cap: Int) = {
    // 24 bits: random vectors share a bucket with at most a few others,
    // so only the clique is over cap
    val p = IncrementalIndex.SrpParams(dim = 32, bitsPerTable = 24, bucketCap = cap)
    val f = IncrementalIndex.srpFamily(p)
    Family("srp", () => vectors,
      (r, df, limit) => IncrementalIndex.ingestEmbeddings(spark, r, df, "id", "v",
        p.copy(broadcastRowLimit = limit))._2,
      (r, ds, limit) => IncrementalIndex.mergeManySrpIndexes(spark, r, ds,
        p.copy(broadcastRowLimit = limit))._2,
      (_, df) => f.banded(IncrementalIndex.srpSignatures(df, "id", "v", p)),
      (_, ds) => tagged(ds.map(d => f.banded(f.read(spark, d)))),
      r => f.banded(f.read(spark, r)), bucketStatsRoot, ("a", "b"))
  }

  private def prefix(cap: Int) = {
    val p = IncrementalIndex.PrefixJaccardParams(bucketCap = cap)
    def sets(df: DataFrame) =
      df.select(col("id"), explode(split(col("text"), " ")).as("elem")).distinct()
    // the batch's token rows sorted under the adopter's frozen order
    def banded(root: String, s: DataFrame) = IncrementalIndex.bandedOfPrefix(
      IncrementalIndex.prefixSortedSets(spark, root, s, p, s.count()))
    Family("prefix", () => texts,
      (r, df, limit) => IncrementalIndex.ingestPrefixJaccard(spark, r, sets(df),
        p.copy(broadcastRowLimit = limit))._2,
      (r, ds, limit) => IncrementalIndex.mergeManyPrefixIndexes(spark, r, ds,
        p.copy(broadcastRowLimit = limit))._2,
      (r, df) => banded(r, sets(df)),
      (r, ds) => {
        val live = ds.map(IncrementalIndex.readPrefixIndex(spark, _))
        val b = banded(r, live.map(_.select(col("id"), explode(col("toks")).as("elem")))
          .reduce(_.unionAll(_)))
        if (ds.size < 2) b
        else b.join(live.zipWithIndex.map { case (l, i) =>
          l.select(col("id").as("doc"), lit(i + 1).as("sh")) }.reduce(_.unionAll(_)), "doc")
      },
      r => IncrementalIndex.bandedOfPrefix(IncrementalIndex.readPrefixIndex(spark, r)),
      IncrementalIndex.prefixStatsRoot, ("ia", "ib"))
  }

  private def pairSet(f: Family, df: DataFrame): Set[(Long, Long)] =
    df.select(col(f.pairCols._1).cast("long"), col(f.pairCols._2).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def stats(f: Family, root: String, bandedB: DataFrame) =
    IncrementalIndex.overCapAndBatchRows(spark, f.statsRoot(root),
      IncrementalIndex.bucketStats(bandedB), cap, DefaultBroadcastRowLimit)

  private def rooted(f: Family, tag: String, rows: DataFrame): String = {
    val r = tmpDir(s"gate_${f.name}_$tag")
    f.ingest(r, rows, DefaultBroadcastRowLimit).unpersist()
    r
  }

  for (fam <- Seq(minHash _, simHash _, srp _, prefix _)) {
    val f = fam(cap)

    test(s"${f.name}: the candidate bound gates the side broadcast at 0, 1 and 2 donors") {
      for (donors <- 0 to 2) {
        val n = 1 + math.max(donors, 1)
        val parts = (0 until n).map(k => f.rows().filter(part(n) === k))
        val root = rooted(f, s"${donors}_a", parts(0))
        val twins = Seq("b", "c", "d").map(t => rooted(f, s"${donors}_$t", parts(0)))
        val donorRoots =
          if (donors == 0) Nil else parts.tail.map(rooted(f, s"${donors}_d", _))
        val bandedB =
          if (donors == 0) f.ingestBatch(root, parts(1)) else f.donorBatch(root, donorRoots)
        val s = stats(f, root, bandedB)
        val cands = IncrementalIndex.incrementalBucketCandidates(f.index(root), bandedB,
          cap, s.over, s.batchRows, donors = donors)
        val distinct = cands.count()
        val at = s"${f.name} at $donors donors"
        assert(s.over.nonEmpty, s"$at: the clique engages the caps")
        assert(distinct > 0 && s.candidateBound >= distinct,
          s"$at: bound ${s.candidateBound} < $distinct distinct candidates")
        assert(s.batchRows == bandedB.count(), at)
        // the side-broadcast verdict gatedPairs hands verify at `limit`
        def sides(limit: Long) = {
          var seen = Option.empty[Boolean]
          IncrementalIndex.gatedPairs(spark, cands, s, limit) { (c, b) => seen = Some(b); c }
          seen.get
        }
        // the batch side broadcasts at `batchRows`, where the bound misses
        // and the exact count decides; twice the distinct count is under
        // twice the bound and still broadcasts the sides
        assert(2 * s.candidateBound > s.batchRows, s"$at: bound ${s.candidateBound}")
        assert(2 * s.candidateBound > 2 * distinct, at)
        assert(sides(DefaultBroadcastRowLimit), at)
        assert(sides(s.batchRows) == (2 * distinct <= s.batchRows), at)
        assert(sides(2 * distinct) && !sides(2 * distinct - 1), at)
        def run(r: String, l: Long) =
          pairSet(f, if (donors == 0) f.ingest(r, parts(1), l) else f.merge(r, donorRoots, l))
        val viaBroadcast = run(root, DefaultBroadcastRowLimit)
        assert(viaBroadcast.nonEmpty, at)
        for ((r, l) <- twins.zip(Seq(s.batchRows, 2 * distinct, 2 * distinct - 1)))
          assert(run(r, l) == viaBroadcast, s"$at: pairs at limit $l differ")
      }
    }

    test(s"${f.name}: an over-cap bucket the batch does not touch changes no pair or plan") {
      import org.apache.spark.sql.catalyst.plans.logical.Window
      // the clique is all index; the batch is the twins of the base rows
      val indexRows = f.rows().filter(col("id") < 100000 || col("id") >= clique)
      val batch = f.rows().filter(col("id") >= 100000 && col("id") < clique)
      val root = rooted(f, "untouched", indexRows)
      val uncappedRoot = rooted(f, "untouched_uncapped", indexRows)
      val maintained = graft.sinks.VersionedTable.readAllVersions(spark, f.statsRoot(root))
        .groupBy("band", "bucket").agg(sum("n").as("occ"))
      assert(maintained.filter(col("occ") > cap).count() > 0, "the index holds over-cap buckets")
      val bandedB = f.ingestBatch(root, batch)
      val s = stats(f, root, bandedB)
      assert(s.over.isEmpty, s"${f.name}: untouched over-cap buckets left the list")
      val plan = IncrementalIndex.incrementalBucketCandidates(f.index(root), bandedB,
        cap, s.over, s.batchRows).queryExecution.optimizedPlan
      assert(plan.collect { case w: Window => w }.isEmpty, plan.toString)
      val capped = pairSet(f, f.ingest(root, batch, DefaultBroadcastRowLimit))
      val uncapped = pairSet(fam(Int.MaxValue),
        fam(Int.MaxValue).ingest(uncappedRoot, batch, DefaultBroadcastRowLimit))
      assert(capped.nonEmpty && capped == uncapped, s"${f.name}: capped pairs differ")
    }
  }
}
