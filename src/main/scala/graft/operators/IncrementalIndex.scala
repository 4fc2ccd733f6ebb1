package graft.operators

import graft.sinks.VersionedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the dedup/ANN index surface — the
  * reference's incremental spine (jdbc_incremental.py:175-229: read only
  * the delta past the bookmark, process it, advance) applied to MinHash
  * near-dup detection, SRP embedding near-dup, SemDeDup, and IVF cell
  * assignment. One-shot dedup recomputes
  * signatures for the FULL corpus every run; at 100 TB the re-shingling
  * term alone dwarfs every other cost, and it is pure waste — a document's
  * signature never changes. Here the signatures PERSIST:
  *
  *  - the index is a [[graft.sinks.VersionedTable]] root used in the
  *    delta-log convention: every ingested batch commits ONE new version
  *    holding only that batch's signature rows (atomic nonce-rename
  *    commit, O(batch) write), and the index reads as the union of
  *    versions ([[VersionedTable.readAllVersions]] — a version boundary IS
  *    a batch boundary, so the log time-travels to any bookmark commit);
  *  - an ingest computes shingle hashes + signatures for the NEW batch
  *    only, generates LSH candidates restricted to pairs touching the
  *    batch (index×index pairs were emitted by the ingests that indexed
  *    those rows), verifies them with the STORED shingle-hash sets (old
  *    text is never re-read, let alone re-shingled), and appends the
  *    batch to the index;
  *  - accumulated pairs across ingests equal the one-shot pair list over
  *    the union of all batches — the d54/e21 oracle gates and
  *    IncrementalIndexSpec pin this equality.
  *
  * Cost shape per ingest or probe of a bookmark-sized batch — three
  * actions, none of which puts the index through an exchange:
  *
  *  - a sum over the persisted batch stats delta, which also runs the
  *    O(batch text) shingling/signature kernel once into the batch caches;
  *  - the stats pass ([[overCapAndBatchRows]]): the maintained occupancy
  *    log, filtered map-side to the batch's own buckets, aggregates to
  *    the over-cap list and an upper bound on the candidate count —
  *    O(batch buckets × versions) rows, never a recount of the index;
  *  - verification, which runs candidate generation inside its own plan
  *    ([[incrementalBucketCandidates]]: the batch's banded rows broadcast
  *    and the index's stream through a map-side hash probe; only over-cap
  *    mega-bucket rows shuffle, O(n·cap)-bounded) and touches the stored
  *    sets of candidate-pair members only (the verifyJaccard discipline,
  *    its side broadcast gated on the stats pass's bound, with an
  *    exact candidate count only where the bound is over the limit).
  *
  * Reading a log launches no job ([[VersionedTable.readAllVersions]]
  * reads its schema on the driver). The only index-proportional term
  * left is the columnar scan of the signature table inside verification
  * — a few hundred bytes per doc, no text, no kernel.
  *
  * IVF: centroids train once at bootstrap and freeze (root/centroids,
  * snapshot convention); each ingest assigns ONLY the new vectors with the
  * frozen centroid kernel and appends (id, cid) rows (root/assignments,
  * delta-log convention). Accumulated assignments equal the one-shot
  * assignment of the union under the same centroids — exactly (the kernel
  * is deterministic per row), gated by e20. Re-training on drift is a new
  * bootstrap.
  */
object IncrementalIndex {

  private[graft] def subRoot(root: String, name: String) =
    s"${root.stripSuffix("/")}/$name"

  /** Canonical caller-side log roots under an index root — the Corpus
    * wrappers persist pair/verdict logs here and read replayed epochs
    * back from the same place; single definitions so a rename can't
    * silently split the write and replay-read paths.
    */
  private[graft] def pairsRootOf(root: String) = subRoot(root, "pairs")
  private[graft] def verdictsRootOf(root: String) = subRoot(root, "verdicts")

  /** Default ceiling (in banded rows: batch docs × bands) below which the
    * batch side of candidate generation broadcasts. MEASURED, not
    * guessed: the r14 100× rehearsal's SimHash shard bootstrap slid just
    * under the old 8M-row gate and its broadcast build collected
    * **2.1 GiB** of serialized task results — over Spark's default
    * `spark.driver.maxResultSize` (1 GiB), killing the job (banded rows
    * serialize at ~250 B, not the ~100 B the old comment assumed). 2M
    * rows ≈ 500 MB keeps the build inside the default driver budget
    * with margin, and still covers every bookmark-sized batch (the
    * gate/bench SFs band to ≤1.3M rows). Above it — a bootstrap or
    * backfill-sized batch — candidate generation falls back to a plain
    * (band, bucket) shuffle join: the index pays one exchange, which
    * for a corpus-sized batch IS the one-shot cost (everything must be
    * compared against everything once). Both paths emit the same pair
    * set (spec-pinned).
    */
  val DefaultBroadcastRowLimit: Long = 2L * 1000 * 1000

  /** Tuning knobs, defaults matching the d2 gated pipeline.
    * `autoCompactEvery` ≥ 2 turns on the version-count compaction
    * trigger ([[autoCompactAt]]); 0 (default) leaves compaction manual.
    */
  final case class MinHashParams(
      numHashes: Int = 128, bands: Int = 32, shingleN: Int = 3,
      threshold: Double = 0.8, bucketCap: Int = 1024, seed: Long = 42L,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit,
      autoCompactEvery: Int = 0)

  /** Candidate pairs for an ingest or a shard merge, from banded frames
    * (doc, rk, band, bucket) — `bandedI` the persisted index, `bandedB`
    * the batch (a new ingest batch, or the union of the donor indexes a
    * merge adopts) — and the PRE-AGGREGATED over-cap bucket list `over`
    * ((band, bucket) rows; see [[bucketStats]]: occupancy is maintained
    * index METADATA, summed from per-batch deltas, never recounted from
    * the index itself).
    *
    * Which pairs come out is set by ONE value, `donors` — the number of
    * donor shards the batch holds:
    *
    *  - 0 (an ingest): index×batch and batch×batch pairs;
    *  - 1 (a merge with one donor — every binary merge): index×donor
    *    pairs only. The donor's internal pairs are already in its own
    *    pair log, so the batch self-join — a second index-sized join,
    *    the dominant merge term at scale — never enters the plan;
    *  - 2 or more (an N-way merge): the batch rows carry an `sh` shard
    *    tag (donors 1..k; the index side is implicitly tag 0), and
    *    batch×batch pairs are emitted only ACROSS tags — filtering inside
    *    the join beats generating the intra-shard pairs, running them
    *    through the distinct and probing shard membership afterwards.
    *
    * Shard ids are disjoint, so at every donor count each emitted pair
    * is one the shard logs do not already hold. THE scale properties of
    * this formulation:
    *
    *  - in the intended regime (a bookmark batch far smaller than the
    *    index, `batchRows` ≤ `broadcastRowLimit`) the index NEVER enters
    *    an exchange, and streams through at most ONE scan when any
    *    bucket is over cap, ZERO extra when not: the (tiny) batch side
    *    broadcasts into the scan (map-side hash join), so candidate
    *    generation against a 100 TB index is one columnar pass over its
    *    signature table — not a multi-TB ids shuffle and not a re-count
    *    of bucket occupancy;
    *  - a bootstrap or backfill-sized batch (`batchRows` over the limit)
    *    would blow past Spark's broadcast ceiling, so the hint is
    *    DROPPED and both joins run as plain (band, bucket) shuffle
    *    joins — with an empty index this is exactly the one-shot
    *    [[Dedup.lshCandidates]] sub-cap shape (a single self-shuffle on
    *    the banded rows), which is the unavoidable cost of comparing a
    *    corpus against itself once. Both paths emit the same pair set
    *    (spec-pinned);
    *  - sub-cap batch×batch pairs come from the same join: the batch's
    *    broadcast rows probe the batch rows as well as the index rows,
    *    so the batch side is broadcast once per plan;
    *  - over-cap buckets (mega-clusters, rare by construction): ONLY
    *    their rows shuffle, into the same rank-chunk O(n·cap) scheme the
    *    one-shot paths use, batch-touching (merge: cross-shard) pairs
    *    kept. The whole branch is skipped — no second index pass — when
    *    `over` is empty, which a driver-side probe of the
    *    (bucket-count-bounded) list decides.
    *
    * Emitted pairs are normalized to a < b. The candidate SET can differ
    * from the one-shot capped run's (chunk geometry sees only
    * index∪batch, not future batches) — both are recall-bearing
    * supersets that exact verification filters, which is what the
    * d54/e21 oracle equality gates; under ENGAGED caps the preserved
    * invariant is connectivity (IncrementalIndexSpec pins it).
    */
  private[graft] def incrementalBucketCandidates(
      bandedI: DataFrame, bandedB: DataFrame, bucketCap: Int,
      over: Option[DataFrame], batchRows: Long,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit,
      donors: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketCap > 0, s"bucketCap must be positive, got $bucketCap")
    // `over` arrives as an already-materialized LOCAL relation (see
    // [[overCapAndBatchRows]]) or None. In the None case — the common one —
    // the over-cap split joins never enter the plan at all: both sides
    // feed the pair joins directly, three broadcast joins lighter than
    // flagging every banded row against an empty list.
    val anyOver = over.nonEmpty
    // size gate on the batch-side broadcast: a bookmark-sized batch
    // probes the index map-side; a bootstrap/backfill-sized one would
    // die at the broadcast ceiling, so it takes the (band, bucket)
    // shuffle join instead (the one-shot shape — same pairs, spec-pinned)
    val hintB: DataFrame => DataFrame =
      if (batchRows <= broadcastRowLimit) df => broadcast(df) else identity
    def split(df: DataFrame) = over match {
      case None => (df, df.filter(lit(false)))
      case Some(o) =>
        val overList = broadcast(o.withColumn("ov", lit(true)))
        val flagged = df.join(overList, Seq("band", "bucket"), "left")
        (flagged.filter(col("ov").isNull).drop("ov"),
          flagged.filter(col("ov").isNotNull).drop("ov"))
    }
    val (normalI, bigI) = split(bandedI)
    val (normalB, bigB) = split(bandedB)
    // shard tags: 0 marks index rows; below two donors the whole batch
    // side is one shard, tag 1
    val shB = if (donors >= 2) col("sh") else lit(1)
    // ONE join, so the batch's banded rows broadcast once: they probe the
    // index rows and — except at one donor — the batch rows themselves.
    // A batch×batch pair comes out once (doc < bdoc), and from two donors
    // on only across shards.
    val ix = normalI.select(col("doc"), col("band"), col("bucket"), lit(0).as("sh"))
    val probes =
      if (donors == 1) ix
      else ix.unionAll(normalB.select(col("doc"), col("band"), col("bucket"), shB.as("sh")))
    val build = hintB(normalB.select(col("doc").as("bdoc"), col("band").as("bband"),
      col("bucket").as("bbucket"), shB.as("bsh")))
    val batchPair = col("doc") < col("bdoc") &&
      (if (donors >= 2) col("sh") =!= col("bsh") else lit(true))
    val subCap = probes.join(build, col("band") === col("bband") &&
        col("bucket") === col("bbucket") && col("doc") =!= col("bdoc") &&
        (col("sh") === 0 || batchPair))
      .select(least(col("doc"), col("bdoc")).as("a"),
        greatest(col("doc"), col("bdoc")).as("b"))
    if (!anyOver) return subCap.distinct()
    // over-cap buckets: rank-chunk over index∪batch members (same scheme
    // as the one-shot caps), only batch-touching pairs emitted
    val big = bigI.withColumn("sh", lit(0))
      .unionAll(bigB.select(bigI.columns.map(col) :+ shB.as("sh"): _*))
      .withColumn("chunk", floor(
        (row_number().over(Window.partitionBy("band", "bucket")
          .orderBy("rk", "doc")) - 1) / lit(bucketCap.toLong)))
    def keyed(side: String) = big
      .select(col("doc").as(s"${side}_doc"), col("sh").as(s"${side}_sh"),
        col("band"), col("bucket"), col("chunk").as(s"${side}_c"),
        explode(array(col("chunk"), col("chunk") + 1)).as("k"))
    val bigPairs = keyed("l").join(keyed("r"), Seq("band", "bucket", "k"))
      .filter(col("k") === greatest(col("l_c"), col("r_c")) &&
        col("l_doc") < col("r_doc"))
      .filter(if (donors == 0) col("l_sh") =!= lit(0) || col("r_sh") =!= lit(0)
        else col("l_sh") =!= col("r_sh"))
      .select(col("l_doc").as("a"), col("r_doc").as("b"))
    subCap.unionAll(bigPairs).distinct()
  }

  /** Per-(band, bucket) occupancy DELTAS of one batch — the index
    * metadata each ingest appends next to its signature version (the
    * `bucketstats` sidecar, delta-log convention like the index itself).
    * Current occupancy = SUM over all committed deltas: a
    * bucket-count-bounded aggregate over a tiny stats table, so finding
    * the over-cap buckets costs O(buckets), never an index scan.
    */
  private[graft] def bucketStats(banded: DataFrame): DataFrame =
    banded.groupBy("band", "bucket").agg(count(lit(1)).as("n"))

  /** What the stats pass ([[overCapAndBatchRows]]) hands candidate
    * generation and verification:
    *
    *  - `over`: the over-cap (band, bucket) list among the buckets the
    *    batch touches, as a local relation, or None — then candidate
    *    generation skips the over-cap split joins entirely;
    *  - `batchRows`: the batch's banded row total, the batch-side
    *    broadcast gate;
    *  - `candidateBound`: an upper bound on the distinct candidate pairs,
    *    the cheap half of the verify-side broadcast gate ([[gatedPairs]]).
    */
  private[graft] final case class StatsPass(over: Option[DataFrame], batchRows: Long,
      candidateBound: Long)

  /** Verified pairs, materialized before the batch caches they read are
    * released. `verify` builds the pair frame from the candidates and the
    * side-broadcast verdict: the exploded pair sides (2 rows per
    * candidate) broadcast only when they fit `broadcastRowLimit`. The
    * side list is pair-count-sized, not batch-sized: gated on batch rows,
    * the r14 100× real-mode rehearsal collected a multi-GB side broadcast
    * from a sub-gate 667k-row batch whose 16-bit SimHash bands collide
    * quadratically with corpus growth.
    *
    *  - When twice the stats pass's bound fits, the answer is yes with no
    *    action on the candidates: verify runs candidate generation inside
    *    its own plan.
    *  - Otherwise the exact count decides. The bound counts a pair once
    *    per band it collides in, so it can overshoot the distinct count
    *    by up to the band count; the candidates are persisted, counted,
    *    and verify reads that cache.
    *
    * Under a yes the pair list — no longer than the side list that
    * already went through the driver — is collected into a local
    * relation, so the caller's own collect or write runs no job on it;
    * otherwise it is persisted (the caller may unpersist it).
    */
  private[graft] def gatedPairs(spark: SparkSession, cands: DataFrame,
      stats: StatsPass, broadcastRowLimit: Long)(
      verify: (DataFrame, Boolean) => DataFrame): DataFrame = {
    def collected(pairs: DataFrame) =
      spark.createDataFrame(java.util.Arrays.asList(pairs.collect(): _*), pairs.schema)
    if (2L * stats.candidateBound <= broadcastRowLimit) collected(verify(cands, true))
    else {
      val counted = cands.persist()
      try {
        val fits = 2L * counted.count() <= broadcastRowLimit
        val pairs = verify(counted, fits)
        if (fits) collected(pairs) else Dedup.persisted(pairs)
      } finally counted.unpersist(blocking = false)
    }
  }

  /** The stats pass: the over-cap list, the batch's banded row total and
    * the candidate bound (see [[StatsPass]]), from one small action and
    * one aggregate.
    *
    *  - The small action sums the persisted batch delta: `batchRows`,
    *    exact, which also materializes the batch caches every later step
    *    reads.
    *  - Only buckets the batch touches can yield a pair: an over-cap
    *    bucket without batch rows emits only index×index pairs, which
    *    candidate generation drops anyway. So when the batch side
    *    broadcasts (`batchRows` ≤ `broadcastRowLimit`) the maintained log
    *    is semi-joined map-side to the batch's (band, bucket) keys before
    *    any exchange, and the aggregate moves about one row per batch
    *    bucket and version. A backfill-sized batch keeps the unfiltered
    *    shuffle and drops untouched buckets after the aggregate.
    *  - Per touched bucket with occupancy `occ` (maintained log + batch)
    *    and `bn` batch rows, at most bn·(occ−bn) index×batch plus
    *    bn·(bn−1)/2 batch×batch pairs exist; in an over-cap bucket a row
    *    pairs only with its own rank chunk and the two adjacent ones, so
    *    the term is also at most bn·3·cap. Occupancy never undercounts
    *    (retractions and crash windows only overcount), so the sum bounds
    *    the distinct candidates at every donor count. It is a global sum
    *    in the same aggregate that collects the over-cap list.
    *
    * The over-cap list is over-cap-bucket-bounded and ships to every
    * executor as a broadcast anyway, so collecting it first costs no
    * extra driver memory.
    *
    * `excludeEpoch` (the `*Epoch` ingests pass their epoch id) pins the
    * maintained side to the PRE-epoch version set: a replay whose first
    * attempt crashed after the stats leg would otherwise read its own
    * batch's delta from the log AND add `batchStats` again. The double
    * count spuriously engages caps (occupancy inflated by one batch
    * delta) — bounded-lossless for the replay itself (a spuriously
    * engaged bucket holds ≤ cap actual rows, one rank-chunk, all pairs
    * still emitted) but PERMANENT without the guard: an unguarded
    * re-commit would leave the inflated delta in the log forever, every
    * future probe of the lineage over-engages, and compaction bakes the
    * inflation into the checkpoint. The guarded stats leg
    * ([[commitEpoch]]) plus this pin make the replay's artifacts AND the
    * accumulated stats log identical to a no-crash run.
    */
  private[graft] def overCapAndBatchRows(spark: SparkSession, statsRoot: String,
      batchStats: DataFrame, bucketCap: Int, broadcastRowLimit: Long,
      excludeEpoch: Option[Long] = None): StatsPass = {
    val batchRows = batchStats.agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
    val keys = batchStats.select("band", "bucket")
    val tagged = batchStats.withColumn("bn", col("n"))
    val all = statsBeforeEpoch(spark, statsRoot, excludeEpoch).map { log =>
      val touched =
        if (batchRows <= broadcastRowLimit)
          log.join(broadcast(keys), Seq("band", "bucket"), "left_semi")
        else log
      touched.withColumn("bn", lit(0L)).unionAll(tagged)
    }.getOrElse(tagged)
    val isOver = col("occ") > bucketCap
    val pairs = expr("bn * (occ - bn) + bn * (bn - 1) div 2")
    val row = all.groupBy("band", "bucket")
      .agg(sum(col("n")).as("occ"), sum(col("bn")).as("bn"))
      .filter(col("bn") > 0)
      .agg(
        coalesce(sum(when(isOver, least(pairs, col("bn") * 3L * bucketCap))
          .otherwise(pairs)), lit(0L)),
        collect_list(when(isOver, struct(col("band"), col("bucket")))))
      .head()
    val over = row.getSeq[org.apache.spark.sql.Row](1)
    val overDf =
      if (over.isEmpty) None
      else {
        val schema = org.apache.spark.sql.types.StructType(
          all.schema("band") :: all.schema("bucket") :: Nil)
        Some(spark.createDataFrame(java.util.Arrays.asList(over: _*), schema))
      }
    StatsPass(overDf, batchRows, row.getLong(0))
  }

  /** The maintained stats log, EXCLUDING the version `excludeEpoch`'s
    * own stats leg committed (None when nothing is committed below it).
    * The excluded version is necessarily the NEWEST: the only path to a
    * marker-carrying stats version with its epoch not yet fully
    * committed is a crash inside [[commitEpoch]], and nothing else
    * writes the lineage between that crash and the replay
    * (single-writer-per-lineage — enforced loud by the duplicate-marker
    * check in [[commitEpoch]]).
    */
  private def statsBeforeEpoch(spark: SparkSession, statsRoot: String,
      excludeEpoch: Option[Long]): Option[DataFrame] = {
    val vs = VersionedTable.versions(spark, statsRoot)
    if (vs.isEmpty) return None
    excludeEpoch.flatMap(e => epochVersion(spark, statsRoot, e)) match {
      case None => Some(VersionedTable.readAllVersions(spark, statsRoot))
      case Some(v) =>
        require(vs.last == v,
          s"epoch stats version $v at $statsRoot is not the newest " +
            s"(have $vs) — a second writer raced this lineage")
        val below = vs.filter(_ < v)
        if (below.isEmpty) None
        else Some(VersionedTable.readAllVersions(spark, statsRoot, Some(below.last)))
    }
  }

  /** Band hashes of stored MinHash signatures as (doc, rk, band, bucket)
    * — a map-only derivation from the signature table (re-deriving ~32
    * longs per row beats persisting an exploded 32×-row banded table).
    */
  private[graft] def bandedOf(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    sigs.select(col("id").as("doc"), col("sz").as("rk"),
      posexplode(Dedup.minHashBands(numHashes, bands)).as(Seq("band", "bucket")))
  }

  /** Stored signature rows for a batch: (id, sz, sig, hs) — `sz` is the
    * rank key bucket caps chunk by, `sig` feeds candidate banding, `hs`
    * (the distinct shingle-hash set) makes verification index-local so
    * old TEXT never needs re-reading. Row-local: one expression pass per
    * doc, no shuffle.
    */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
      p: MinHashParams = MinHashParams()): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    docs
      .select(col(idCol).as("id"), Dedup.shingleHashes(docs, textCol, p.shingleN).as("hs"))
      .select(col("id"), size(col("hs")).cast("long").as("sz"),
        ColumnBridge.column(graft.functions.MinHashSignature(
          ColumnBridge.expression(col("hs")), p.numHashes, p.seed)).as("sig"),
        col("hs"))
  }

  /** All signature rows indexed so far (optionally up to a version pin),
    * minus any retracted ids ([[retract]]).
    */
  def readMinHashIndex(spark: SparkSession, root: String,
      upTo: Option[Long] = None): DataFrame =
    readLive(spark, root, root, upTo)

  /** Ingest one batch: compute ITS signatures, find the verified near-dup
    * pairs this batch adds (batch-internal + batch×index, never
    * index×index), append the batch's signatures as the next index
    * version. Returns (committed version, new verified pairs (a, b,
    * jaccard) with a < b) — the pairs frame is materialized (a local
    * relation when the stats pass bounds it small, else persisted: the
    * caller owns the unpersist). An empty index root bootstraps
    * naturally (the first ingest's pairs are its internal ones).
    */
  /** The compute half of a MinHash ingest: (persisted batch signatures,
    * batch stats delta, persisted verified pairs) with nothing written.
    * The caller commits and then calls `release()` (the verified frame
    * stays persisted for the caller to consume and unpersist).
    */
  private final case class MinHashArtifacts(
      batchSigs: DataFrame, batchStats: DataFrame, verified: DataFrame,
      release: () => Unit)

  private def minHashBatchArtifacts(spark: SparkSession, root: String,
      batch: DataFrame, idCol: String, textCol: String,
      p: MinHashParams, excludeEpoch: Option[Long] = None): MinHashArtifacts = {
    val batchSigs = minHashSignatures(batch, idCol, textCol, p).persist()
    try {
      val haveIndex = VersionedTable.versions(spark, root).nonEmpty
      val prior =
        if (haveIndex) Some(readMinHashIndex(spark, root)) else None
      // banded batch rows feed the stats delta and both sides of the
      // candidate join — persist them so the 32 band hashes per doc run
      // once; the INDEX side is a map-only derivation over its parquet
      // scan and never enters an exchange (see incrementalBucketCandidates)
      val bandedB = bandedOf(
        batchSigs.select("id", "sz", "sig"), p.numHashes, p.bands).persist()
      // persisted: the stats delta executes TWICE per ingest otherwise —
      // once inside the stats pass, once re-aggregated by the sidecar
      // write (JobProfile d56: the write job re-ran the full hash
      // aggregate). Bucket-bounded, released with the banded cache.
      val batchStats = bucketStats(bandedB).persist()
      val statsRoot = subRoot(root, "bucketstats")
      // materializes the batch caches; over-cap list, batch-side gate and
      // candidate bound (see overCapAndBatchRows)
      val stats = overCapAndBatchRows(spark, statsRoot, batchStats,
        p.bucketCap, p.broadcastRowLimit, excludeEpoch)
      // verify is the candidates' only consumer: not persisted
      val cands = incrementalBucketCandidates(
        prior.map(ix => bandedOf(ix.select(col("id"), col("sz"), col("sig")),
          p.numHashes, p.bands))
          // bootstrap: the batch IS the corpus — over the row limit the
          // gate drops the broadcast hint and this becomes the genuine
          // one-shot shuffle shape (an empty index side + the batch's
          // banded rows joined with themselves)
          .getOrElse(bandedB.filter(lit(false))),
        bandedB, p.bucketCap, stats.over, stats.batchRows, p.broadcastRowLimit)
      // verification shingle sets: stored for index rows, fresh for the
      // batch; verifyJaccard prunes to candidate ids via broadcast
      // before any wide array moves
      val shingled = prior match {
        case Some(ix) => ix.select(col("id"), col("hs"))
          .unionAll(batchSigs.select("id", "hs"))
        case None => batchSigs.select("id", "hs")
      }
      // materialized while the caches are hot
      val verified = gatedPairs(spark, cands, stats, p.broadcastRowLimit)(
        Dedup.jaccardPairs(_, shingled, "id", "hs", p.threshold, _))
      MinHashArtifacts(batchSigs, batchStats, verified, () => {
        batchStats.unpersist(blocking = false)
        bandedB.unpersist(blocking = false)
        batchSigs.unpersist(blocking = false)
      })
    } catch {
      case t: Throwable => batchSigs.unpersist(blocking = false); throw t
    }
  }

  def ingestMinHash(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, textCol: String,
      p: MinHashParams = MinHashParams()): (Long, DataFrame) = {
    val a = minHashBatchArtifacts(spark, root, batch, idCol, textCol, p)
    try {
      // stats commit FIRST: a crash between the two writes then leaves
      // occupancy OVERCOUNTING the lost batch (conservative — at worst
      // extra buckets take the capped path) instead of undercounting
      // (a missed cap engagement)
      VersionedTable.write(spark, a.batchStats, subRoot(root, "bucketstats"))
      val v = VersionedTable.write(spark, a.batchSigs, root)
      // if auto-compaction fires it checkpoints UP TO v and vacuums it —
      // hand back the checkpoint instead so the returned version is
      // always pin-readable (VersionedTable.read(root, Some(_)))
      val fired = autoCompactAt(spark, root, p.autoCompactEvery)(
        compactDedupIndex(spark, root))
      (if (fired) VersionedTable.versions(spark, root).last else v, a.verified)
    } finally a.release()
  }

  /** Read-only near-dup PROBE: exactly what [[ingestMinHash]] WOULD
    * emit for this batch — verified batch-internal + batch×index pairs
    * — with NOTHING committed: no signature version, no stats delta, no
    * epoch consumed (spec-pinned: a probe followed by the real ingest
    * is indistinguishable from the ingest alone). The admission-control
    * face of the index: decide whether a batch enters the corpus BEFORE
    * paying the write, route near-duplicate docs to a quarantine sink,
    * or serve "is this a near-dup?" from a pure READER — probes touch
    * only committed versions, so they never contend with the
    * single-writer-per-lineage rule the epoch guard enforces. Exchange
    * discipline is the ingest's own (index map-side under the broadcast
    * gate). The returned frame is materialized as in [[ingestMinHash]].
    */
  def probeMinHash(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, textCol: String,
      p: MinHashParams = MinHashParams()): DataFrame = {
    val a = minHashBatchArtifacts(spark, root, batch, idCol, textCol, p)
    a.release()
    a.verified
  }

  /** Exactly-once streaming ingest keyed by a MONOTONE epoch (the
    * structured-streaming batchId). `foreachBatch` delivers
    * AT-LEAST-once — after a crash the tail micro-batch replays — so a
    * plain ingest would double-commit the batch's signatures and pairs.
    * This is the rowlog's two-witness architecture applied to the
    * index: an `_epoch-<id>` marker rides each data version's ATOMIC
    * staging rename (authoritative; transient under compaction/vacuum),
    * and a root-level `_epoch-hwm` file written AFTER visibility
    * survives log compaction. An epoch ≤ max(newest marker, hwm) in the
    * SIGNATURE root is a replay and is dropped (returns None — the
    * caller must not re-append pairs).
    *
    * Crash windows, replaying epoch E: before any write → clean re-run;
    * after the stats leg → the replay SKIPS the stats re-commit (the
    * sidecar is guarded leg 0 — marker + hwm like a data leg) and pins
    * its over-cap probe BELOW E's stats version
    * ([[statsBeforeEpoch]]), so cap engagement — and therefore the
    * candidate set — is identical to a no-crash run, not perturbed by
    * reading its own delta twice; after the pairs write, before
    * signatures → the replay recomputes IDENTICAL artifacts
    * (signatures are pure per-row functions and the index is unchanged
    * — E's signatures never committed), sees the pairs root already
    * committed at E and skips its write, then commits signatures; after
    * the signature commit → the whole replay drops. No window
    * double-appends stats, pairs or signatures.
    *
    * Lineage note (the rowlog convention): the hwm belongs to the
    * index's CURRENT streaming lineage. Pointing a NEW query (fresh
    * checkpoint, epochs restarting at 0) at a root a previous query
    * populated requires removing `_epoch-hwm` (and any surviving
    * `_epoch-*` marker versions) first, or the old high-water silently
    * drops the new query's early batches as replays.
    */
  def ingestMinHashEpoch(spark: SparkSession, root: String,
      pairsRoot: String, batch: DataFrame, idCol: String, textCol: String,
      epochId: Long, p: MinHashParams = MinHashParams()): Option[DataFrame] = {
    if (epochCommittedIn(spark, root, epochId)) return None
    val a = minHashBatchArtifacts(spark, root, batch, idCol, textCol, p,
      excludeEpoch = Some(epochId))
    try {
      commitEpoch(spark, epochId,
        Some((a.batchStats, subRoot(root, "bucketstats"))),
        Seq(a.verified -> pairsRoot, a.batchSigs -> root))
      autoCompactAt(spark, root, p.autoCompactEvery)(
        compactDedupIndex(spark, root))
      Some(a.verified)
    } catch {
      case t: Throwable => a.verified.unpersist(blocking = false); throw t
    } finally a.release()
  }

  /** Merge an INDEPENDENTLY-BOOTSTRAPPED MinHash index (`donorRoot`)
    * into `root` — the shard-parallel bootstrap path at corpus scale:
    * one index over the full corpus serializes everything through a
    * single banded self-join, but N shards over disjoint id ranges
    * (hash-split) bootstrap in parallel with ZERO cross-shard traffic,
    * and this merge completes the pair set afterwards from the LOGS
    * alone — signatures and shingle-hash sets read from both indexes'
    * versioned tables, no document text ever re-read or re-signed.
    *
    * Returns (committed version, verified CROSS pairs) — pairs with one
    * side in `root` and one in `donorRoot`; each shard's internal pairs
    * are already in its own pair log, so emitting them again would
    * double the union. The data move is LOG ADOPTION, not a rewrite:
    * the donor's signature, stats and tombstone version files are
    * immutable parquet, so they commit into `root`'s logs as BYTE-LEVEL
    * COPIES (`VersionedTable.adoptFiles` — no decode/re-encode, no
    * Spark job; at object-store scale a server-side copy). Donor
    * tombstones travel too, so retracted donor docs stay retracted in
    * the merged index, and the donor's own stats deltas keep the
    * occupancy convention (retractions never decrement — conservative).
    * Accumulated pairs (root log ∪ donor log ∪ cross) equal the
    * one-shot pipeline over the union — the d54 disjoint-union theorem
    * with the donor playing the batch role, and banding collisions are
    * identical either way because signatures are pure per-row functions
    * of text under the SHARED params (both shards MUST be built with
    * the same `p`; ids must be disjoint). This is
    * [[mergeManyMinHashIndexes]] with one donor: at one donor the
    * candidate pass never joins the donor with itself (a second
    * index-sized join, the dominant merge term at scale), every
    * candidate is index×donor by construction (disjoint ids), and
    * verification broadcasts only candidate-bounded frames over map-side
    * scans. The d64 gate pins the equality; the merged index ingests
    * onward exactly like a one-shot-built one (IncrementalIndexSpec).
    */
  def mergeMinHashIndexes(spark: SparkSession, root: String,
      donorRoot: String,
      p: MinHashParams = MinHashParams()): (Long, DataFrame) =
    mergeManyMinHashIndexes(spark, root, Seq(donorRoot), p)

  /** Exactly-once shard merge — [[mergeMinHashIndexes]] under the epoch
    * protocol, for orchestrators that may re-deliver a merge step (a
    * crash between the merge and its bookmark/DAG commit, at-least-once
    * schedulers). Legs in the conservative order: donor tombstones
    * (guarded adoption — re-applying is a no-op, but the guard keeps
    * version counts honest), donor stats deltas (guarded adoption; the
    * replay's cap probe pins BELOW the marker via [[statsBeforeEpoch]],
    * so candidate sets match a no-crash run), cross pairs (write leg
    * into `pairsRoot` — the caller's accumulated pair log), then the
    * donor signature adoption as the REPLAY KEY (the visibility point
    * every read path unions). A replay that finds the key committed
    * returns None; one that finds a prefix recomputes identical cross
    * pairs (pure function of both logs — the donor's rows never entered
    * `root` in that window) and commits exactly the missing suffix. No
    * window double-adopts donor files — the failure mode that would
    * DOUBLE every donor signature in the adopter's log.
    *
    * `epochId` must be monotone per adopter lineage (shared with any
    * ingest epochs on `root`) and STABLE across replays — unlike batch
    * ingests there is no bookmark boundary to derive it from, so the
    * orchestrator owns it (e.g. the DAG step's sequence number). This
    * is [[mergeManyMinHashIndexesEpoch]] with one donor.
    */
  def mergeMinHashIndexesEpoch(spark: SparkSession, root: String,
      pairsRoot: String, donorRoot: String, epochId: Long,
      p: MinHashParams = MinHashParams()): Option[(Long, DataFrame)] =
    mergeManyMinHashIndexesEpoch(spark, root, pairsRoot, Seq(donorRoot), epochId, p)

  /** N-WAY MinHash shard merge — how a 1000-shard bootstrap actually
    * completes. Folding [[mergeMinHashIndexes]] pairwise costs N−1
    * candidate passes, each re-scanning the GROWING adopter (the
    * quadratic tail that kills a wide fan-in); this runs ONE candidate
    * pass with the union of all donors playing the batch role — the
    * shared machinery already emits batch-internal candidates, which
    * here are the donor×donor pairs a fold would only discover across
    * iterations — and keeps a pair iff its sides live in DIFFERENT
    * shards (adopter counts as a shard): shard-internal pairs are in
    * the shards' own logs, so emitting them again would double the
    * union. Shard membership is resolved inside the candidate join by
    * per-donor shard tags — no index-sized shuffle, no membership probe.
    * Cap engagement uses the adopter's maintained stats plus the
    * union-donor delta: exactly what a one-shot build over the union
    * would see, so the connectivity invariant under engaged caps
    * carries over unchanged. Adoption keeps the conservative crash
    * ordering GLOBALLY ([[adoptDonors]]): every donor's tombstones first
    * (an unmatched tombstone is a no-op), then every stats delta
    * (overcount-only), then the signature files — no signature is
    * visible before the tombstones and stats that govern it. Returns
    * (last committed version, verified cross-shard pairs); accumulated
    * union (all shard logs ∪ cross) equals the one-shot pipeline over
    * the union corpus — the d69 gate pins it at three shards. All
    * shards must share `p`; ids must be disjoint across all of them.
    */
  def mergeManyMinHashIndexes(spark: SparkSession, root: String,
      donorRoots: Seq[String],
      p: MinHashParams = MinHashParams()): (Long, DataFrame) =
    mergeBanded(spark, root, donorRoots, minHashFamily(p), None).get

  /** Exactly-once N-way merge — [[mergeManyMinHashIndexes]] under the
    * epoch protocol (crash-window analysis at
    * [[mergeMinHashIndexesEpoch]]; the orchestrator owns `epochId`).
    * Each leg adopts ALL donors' files in ONE guarded version, so a leg
    * is atomic — there is no "three of eight donors adopted" window to
    * reason about, the leg either committed for every donor or none.
    */
  def mergeManyMinHashIndexesEpoch(spark: SparkSession, root: String,
      pairsRoot: String, donorRoots: Seq[String], epochId: Long,
      p: MinHashParams = MinHashParams()): Option[(Long, DataFrame)] =
    mergeBanded(spark, root, donorRoots, minHashFamily(p), Some((epochId, pairsRoot)))

  private[graft] def minHashFamily(p: MinHashParams) = BandedFamily(
    readMinHashIndex(_, _),
    rows => bandedOf(rows.select("id", "sz", "sig"), p.numHashes, p.bands),
    (cands, rows, broadcastSides) => Dedup.jaccardPairs(cands,
      rows.select("id", "hs"), "id", "hs", p.threshold, broadcastSides),
    p.bucketCap, p.broadcastRowLimit)

  /** What the banded merge engine ([[mergeBanded]]) needs to know about
    * one adoption family (MinHash, SimHash, SRP): how to read its live
    * index rows, how to band them — selecting only the narrow banding
    * columns — and how to verify a candidate list against live rows
    * under the stats pass's sides-broadcast verdict (returning the
    * verified pairs unmaterialized).
    */
  private[graft] final case class BandedFamily(
      read: (SparkSession, String) => DataFrame,
      banded: DataFrame => DataFrame,
      verify: (DataFrame, DataFrame, Boolean) => DataFrame,
      bucketCap: Int, broadcastRowLimit: Long)

  /** The shard merge of every adoption family, for any number of donors
    * (a binary merge is one donor): ONE candidate pass with the union of
    * all donors playing the batch role, each donor's banded rows tagged
    * with its shard (see [[incrementalBucketCandidates]] for what the
    * donor count keeps), verification over the adopter's and donors'
    * live rows, then [[adoptDonors]]. Cap engagement uses the adopter's
    * maintained stats plus the union-donor delta, pinned below the
    * epoch's own stats leg on a replay ([[statsBeforeEpoch]]).
    * Returns None when the epoch is already committed.
    */
  private def mergeBanded(spark: SparkSession, root: String,
      donorRoots: Seq[String], f: BandedFamily,
      epoch: Option[(Long, String)]): Option[(Long, DataFrame)] = {
    require(donorRoots.nonEmpty, "a shard merge needs donors")
    if (epoch.exists { case (e, _) => epochCommittedIn(spark, root, e) })
      return None
    // never cache the full-width logs: the verify payload (shingle-hash
    // set, signature, vector) dominates the row, and every consumer
    // below needs either the narrow banding slice or a candidate-pruned
    // verify slice — column-pruned parquet scans beat materializing the
    // wide arrays into executor memory at index scale
    val donors = donorRoots.map(f.read(spark, _))
    val index = f.read(spark, root)
    val bandedD = donors.zipWithIndex.map { case (d, i) =>
      f.banded(d).withColumn("sh", lit(i + 1))
    }.reduce(_.unionAll(_)).persist()
    // the stats pass reads the donor delta up to three times (the size
    // action, the key broadcast, the aggregate)
    val donorStats = bucketStats(bandedD).persist()
    try {
      val stats = overCapAndBatchRows(spark, subRoot(root, "bucketstats"),
        donorStats, f.bucketCap, f.broadcastRowLimit, epoch.map(_._1))
      val cands = incrementalBucketCandidates(f.banded(index), bandedD,
        f.bucketCap, stats.over, stats.batchRows, f.broadcastRowLimit,
        donors = donorRoots.size)
      val rows = (index +: donors).reduce(_.unionAll(_))
      val verified = gatedPairs(spark, cands, stats, f.broadcastRowLimit)(
        f.verify(_, rows, _))
      Some((adoptDonors(spark, root, donorRoots, identity,
        Some(subRoot(_, "bucketstats")), epoch, verified), verified))
    } finally {
      donorStats.unpersist(blocking = false)
      bandedD.unpersist(blocking = false)
    }
  }

  /** LOG ADOPTION of every donor into `root`, in the crash-safe leg
    * order: the donors' version files are immutable parquet, so they
    * commit into the adopter's logs as byte-level copies (no decode, no
    * re-encode, no Spark job; the whole data move is file IO). Raw donor
    * files include any retracted rows, so the donors' tombstones adopt
    * FIRST (an unmatched tombstone is a harmless no-op), then the
    * `statsLog` sub-log if the family keeps one (a stats-only crash
    * merely overcounts occupancy), then — epoch path only — the merge's
    * `result` frame as a write leg into the caller's result root, and
    * last the data log (`dataLog(root)`), the replay key and the
    * visibility point every read path unions. On the epoch path each
    * leg adopts ALL donors' files in ONE guarded version, so a leg
    * either committed for every donor or for none. Returns the data
    * log's committed version.
    */
  private def adoptDonors(spark: SparkSession, root: String,
      donorRoots: Seq[String], dataLog: String => String,
      statsLog: Option[String => String], epoch: Option[(Long, String)],
      result: DataFrame): Long = {
    def dirs(log: String => String) =
      donorRoots.flatMap(dr => VersionedTable.liveVersionDirs(spark, log(dr)))
    def adopt(log: String => String, srcs: Seq[org.apache.hadoop.fs.Path]) = {
      def move(markers: Seq[String]) =
        VersionedTable.adoptFiles(spark, log(root), srcs, markers = markers)
      epoch.fold(move(Nil)) { case (e, _) => epochLeg(spark, log(root), e)(move) }
    }
    val tombs = dirs(tombstonesRoot)
    if (tombs.nonEmpty) adopt(tombstonesRoot, tombs)
    statsLog.foreach(l => adopt(l, dirs(l)))
    epoch.foreach { case (e, resultRoot) =>
      writeEpochLeg(spark, result, resultRoot, e) }
    adopt(dataLog, dirs(dataLog))
  }

  /** One guarded leg of an epoch commit — a write or a log adoption;
    * `commit` commits the leg's version with the marker names it is
    * given. The leg is skipped when the epoch already committed at
    * `legRoot` (reporting the version carrying its marker, see
    * [[committedLegVersion]]); otherwise it commits under the
    * `_epoch-<id>` marker riding the atomic staging rename, is checked
    * for a second writer, and has its hwm witness recorded after
    * visibility. On an adoption leg the marker is what keeps a replayed
    * merge from adopting the same donor files twice — the window that
    * would otherwise DOUBLE every donor row in the adopter's log.
    */
  private def epochLeg(spark: SparkSession, legRoot: String, epochId: Long)(
      commit: Seq[String] => Long): Long = {
    if (epochCommittedIn(spark, legRoot, epochId))
      return committedLegVersion(spark, legRoot, epochId)
    val v = commit(Seq(s"_epoch-$epochId"))
    assertSingleEpochWriter(spark, legRoot, epochId)
    recordEpochHwm(spark, legRoot, epochId)
    v
  }

  private def writeEpochLeg(spark: SparkSession, df: DataFrame,
      legRoot: String, epochId: Long): Long =
    epochLeg(spark, legRoot, epochId)(
      markers => VersionedTable.write(spark, df, legRoot, markers = markers))

  /** The version a SKIPPED (looks-committed) non-final leg reports — and
    * the guard that keeps "looks committed" honest. `epochCommittedIn`
    * is an hwm test (`epoch <= hwm`), which is the right REPLAY key for
    * the final leg but is fooled on earlier legs by a FOREIGN hwm: a
    * leg root shared across adopter lineages (or otherwise fed a higher
    * epoch) reads as committed for every lower epoch, and silently
    * skipping there loses exactly this merge's output — cross pairs
    * adopted-around, a partial outcome no documented contract covers.
    * So a skipped leg must produce the version CARRYING this epoch's
    * marker; when none exists the skip is not provably a replay and the
    * commit fails loud instead. (The one legitimate marker-less state —
    * compaction reclaimed the marker-carrying version between a crash
    * and this replay; the `_epoch-hwm` witness outlives it by design —
    * is indistinguishable from the foreign-hwm bug from here, and the
    * conservative answer to "can't prove this leg holds the epoch's
    * rows" is the same loud stop: the message names both causes.)
    */
  private def committedLegVersion(spark: SparkSession, legRoot: String,
      epochId: Long): Long =
    epochVersion(spark, legRoot, epochId).getOrElse(
      throw new IllegalStateException(
        s"epoch $epochId reads as committed at $legRoot (hwm witness) but " +
          "no version carries its _epoch marker: either this root is " +
          "SHARED across adopter lineages and a different lineage " +
          "advanced its hwm past this epoch (skipping would silently " +
          "drop this leg's rows — give each adopter lineage a private " +
          "result root), or compaction reclaimed the marker-carrying " +
          "version between a crash and this replay (re-run the step " +
          "under a fresh epoch id after verifying the leg's rows)"))

  /** The exactly-once commit protocol shared by every `*Epoch` ingest
    * (crash-window analysis at [[ingestMinHashEpoch]]): the stats
    * sidecar first as GUARDED LEG 0 — marker + hwm like a data leg, so
    * a replay never double-commits the occupancy delta, and the
    * artifact recompute pins its stats read BELOW the marker
    * ([[statsBeforeEpoch]]) so cap engagement is identical either way —
    * then each data `leg` IN ORDER under an `_epoch-<id>` marker riding
    * the atomic staging rename, hwm recorded after each visibility,
    * already-committed legs skipped. The LAST leg is the caller's
    * replay key: "last leg committed" implies every earlier leg
    * committed too, and a replay that finds only a PREFIX of the legs
    * committed recomputes IDENTICAL artifacts — every family's outputs
    * are pure functions of the batch and the index state BEFORE the
    * epoch, and the replay-key leg (the one every read path unions)
    * never committed in that window — then re-commits exactly the
    * missing suffix. Returns the committed version of the last leg.
    *
    * Single-writer-per-lineage is ENFORCED loud, not just documented:
    * after every leg write the root is checked for a second version
    * carrying the same epoch marker (two writers racing the same epoch
    * both pass the pre-write committed check, then both rename — the
    * only silent-double-data window) and the loser throws with the
    * duplicate versions named instead of leaving them to double reads.
    */
  private def commitEpoch(spark: SparkSession, epochId: Long,
      stats: Option[(DataFrame, String)],
      legs: Seq[(DataFrame, String)]): Long = {
    require(legs.nonEmpty, "commitEpoch needs at least one data leg")
    require(!epochCommittedIn(spark, legs.last._2, epochId),
      s"epoch $epochId already committed in the final leg " +
        s"${legs.last._2} — callers must key replay detection on the " +
        "final leg's root and drop before commitEpoch")
    // a skipped leg — the stats leg or a non-final data leg (see the
    // require above) — must still PROVE the skip is a replay (marker
    // present) and not a foreign hwm on a shared root: epochLeg reports
    // the marker-carrying version or fails loud (committedLegVersion)
    stats.foreach { case (st, statsRoot) =>
      writeEpochLeg(spark, st, statsRoot, epochId) }
    legs.map { case (df, legRoot) => writeEpochLeg(spark, df, legRoot, epochId) }.last
  }

  /** The committed version carrying epoch `epochId`'s `_epoch-` marker
    * in `root`, if one survives (compaction/vacuum reclaim
    * marker-carrying versions; the `_epoch-hwm` witness keeps REPLAY
    * DETECTION alive past that, but the version itself is gone). The
    * batch-path wrappers use this to hand a replayed caller back the
    * epoch's already-committed rows instead of re-appending them.
    */
  def epochVersion(spark: SparkSession, root: String,
      epochId: Long): Option[Long] =
    epochMarkerVersions(spark, root, epochId).headOption

  /** Every committed version in `root` carrying epoch `epochId`'s
    * marker. Exactly one under the single-writer contract; two means
    * two writers raced the same epoch past each other's pre-write
    * committed check — [[commitEpoch]] turns that into a loud failure.
    */
  private def epochMarkerVersions(spark: SparkSession, root: String,
      epochId: Long): Seq[Long] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val f = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(rootPath)) return Seq.empty
    VersionedTable.entriesOf(f, rootPath).filter { e =>
      f.exists(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(rootPath, VersionedTable.nameOf(e)),
        s"_epoch-$epochId"))
    }.map(_._1)
  }

  private[graft] def assertSingleEpochWriter(spark: SparkSession, root: String,
      epochId: Long): Unit = {
    val vs = epochMarkerVersions(spark, root, epochId)
    if (vs.size > 1) throw new java.util.ConcurrentModificationException(
      s"epoch $epochId committed ${vs.size} times at $root (versions " +
        s"${vs.mkString(", ")}): a second writer raced the " +
        "single-writer-per-lineage contract; union reads of this root " +
        "now double the epoch's rows — vacuum the duplicate version(s) " +
        "before reading")
  }

  /** Replay detection for one root: epoch ≤ max(newest `_epoch-*`
    * version marker, `_epoch-hwm` file). Marker scan stops at the first
    * (newest) marker-carrying version — epochs are monotone. An
    * unreadable hwm file fails the commit rather than silently
    * degrading to the marker scan (the rowlog IO-error lesson); a torn
    * write (non-numeric content) reads as absent.
    */
  private def epochCommittedIn(spark: SparkSession, root: String,
      epoch: Long): Boolean = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val f = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(rootPath)) return false
    val scanHwm = VersionedTable.entriesOf(f, rootPath).reverseIterator
      .map { e =>
        f.listStatus(new org.apache.hadoop.fs.Path(rootPath, VersionedTable.nameOf(e)))
          .map(_.getPath.getName).collectFirst {
            case n if n.startsWith("_epoch-") && n != "_epoch-hwm" =>
              n.stripPrefix("_epoch-").toLong
          }
      }
      .collectFirst { case Some(hwm) => hwm }
      .getOrElse(-1L)
    epoch <= math.max(scanHwm, readEpochHwmFile(f, rootPath))
  }

  private def readEpochHwmFile(f: org.apache.hadoop.fs.FileSystem,
      rootPath: org.apache.hadoop.fs.Path): Long = {
    val p = new org.apache.hadoop.fs.Path(rootPath, "_epoch-hwm")
    if (!f.exists(p)) return -1L
    val in = f.open(p)
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    try s.toLong catch { case _: NumberFormatException => -1L } // torn write
  }

  /** Record the epoch high-water AFTER the version is visible (a crash
    * between the two leaves the marker scan authoritative — never a
    * false replay drop) so replay detection survives compaction/vacuum
    * deleting the marker-carrying versions.
    */
  private def recordEpochHwm(spark: SparkSession, root: String,
      epoch: Long): Unit = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val f = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (readEpochHwmFile(f, rootPath) < epoch) {
      val out = f.create(new org.apache.hadoop.fs.Path(rootPath, "_epoch-hwm"), true)
      try out.write(epoch.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  // ------------------------------------------------------------ exact dedup

  private def exactFpRoot(root: String) = subRoot(root, "fingerprints")

  /** Incremental EXACT dedup (d1's persistent twin): each ingest
    * fingerprints ONLY its batch (the d1 normalization, md5 of
    * whitespace-collapsed lowercase text), marks a batch doc dropped iff
    * its fingerprint is already indexed or a LOWER-id batch member
    * shares it, and appends the batch's (id, fp) rows as the next index
    * version. Requires APPEND-ORDERED ids (the bookmark guarantee, the
    * e22 convention): under that order the first arrival of a
    * fingerprint IS its minimum id, so accumulated verdicts equal d1's
    * one-shot keep-the-min rule over everything ingested — exactly
    * (d57's oracle recomputes the rule in SQL). Exchange discipline:
    * the stored fingerprint log streams map-side through a probe by the
    * broadcast batch fingerprint set (the index never enters an
    * exchange; size-gated with the same fallback rule as the candidate
    * paths). Retraction-aware the EXACT way ([[retractExact]]): the
    * seen-probe reads the tombstone-filtered log, so a document
    * re-arriving after a full group takedown is kept as its group's new
    * first arrival, and a retracted keeper's group recomputes from the
    * fingerprint log alone — no re-bootstrap (unlike SemDeDup, whose
    * order-dependent geometry genuinely can't replay a verdict).
    * Returns (committed version, batch verdicts (id, fp, kept)).
    */
  private final case class ExactArtifacts(
      fps: DataFrame, verdicts: DataFrame, release: () => Unit)

  private def exactBatchArtifacts(spark: SparkSession, root: String,
      batch: DataFrame, idCol: String, textCol: String,
      broadcastRowLimit: Long): ExactArtifacts = {
    import org.apache.spark.sql.expressions.Window
    val fps = batch.select(col(idCol).as("id"),
      graft.functions.TextFunctions.fingerprint(col(textCol)).as("fp")).persist()
    try {
      val batchRows = fps.count() // materializes; drives the broadcast gate
      val hintB: DataFrame => DataFrame =
        if (batchRows <= broadcastRowLimit) df => broadcast(df) else identity
      val fpRoot = exactFpRoot(root)
      // fingerprints already indexed, pruned to this batch's set — the
      // index side is one streamed scan, the probe side batch-bounded
      val seen =
        if (VersionedTable.versions(spark, fpRoot).nonEmpty)
          readExactIndex(spark, root).select("fp")
            .join(hintB(fps.select("fp").distinct()), "fp").distinct()
            .withColumn("indexed", lit(true))
        else fps.select("fp").limit(0).withColumn("indexed", lit(true))
      val w = Window.partitionBy("fp").orderBy("id")
      val verdicts = fps
        .withColumn("first_in_batch", row_number().over(w) === 1)
        .join(hintB(seen), Seq("fp"), "left")
        .select(col("id"), col("fp"),
          (col("first_in_batch") && col("indexed").isNull).as("kept"))
        .persist()
      verdicts.count()
      ExactArtifacts(fps, verdicts, () => fps.unpersist(blocking = false))
    } catch {
      case t: Throwable => fps.unpersist(blocking = false); throw t
    }
  }

  def ingestExact(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, textCol: String,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): (Long, DataFrame) = {
    val a = exactBatchArtifacts(spark, root, batch, idCol, textCol, broadcastRowLimit)
    try {
      val v = VersionedTable.write(spark, a.fps, exactFpRoot(root))
      (v, a.verdicts)
    } finally a.release()
  }

  /** Read-only exact-dedup PROBE: the verdicts [[ingestExact]] WOULD
    * return — (id, fp, kept) with kept ⇔ first-in-batch and unindexed —
    * with no fingerprint version written (the [[probeMinHash]]
    * admission-control pattern for the exact family). Caller owns the
    * returned persisted frame's unpersist.
    */
  def probeExact(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, textCol: String,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): DataFrame = {
    val a = exactBatchArtifacts(spark, root, batch, idCol, textCol, broadcastRowLimit)
    a.release()
    a.verdicts
  }

  /** Exactly-once streaming exact-dedup ingest: the [[commitEpoch]]
    * protocol with the per-batch VERDICT log playing the pairs role and
    * no stats sidecar (exact dedup has none). Replay soundness is the
    * usual argument: a replayed batch against an unchanged fingerprint
    * log recomputes IDENTICAL verdicts (they are a pure function of the
    * batch and the indexed fp set — epoch E's fps never committed), so
    * the pairs-committed-fps-not window re-commits only the fps, and a
    * fully-committed epoch drops. Returns None on a replayed epoch.
    */
  def ingestExactEpoch(spark: SparkSession, root: String,
      verdictsRoot: String, batch: DataFrame, idCol: String, textCol: String,
      epochId: Long,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): Option[DataFrame] = {
    if (epochCommittedIn(spark, exactFpRoot(root), epochId)) return None
    val a = exactBatchArtifacts(spark, root, batch, idCol, textCol, broadcastRowLimit)
    try {
      commitEpoch(spark, epochId, None,
        Seq(a.verdicts -> verdictsRoot, a.fps -> exactFpRoot(root)))
      Some(a.verdicts)
    } catch {
      case t: Throwable => a.verdicts.unpersist(blocking = false); throw t
    } finally a.release()
  }

  /** All (id, fp) fingerprint rows ingested so far, minus retracted ids. */
  def readExactIndex(spark: SparkSession, root: String,
      upTo: Option[Long] = None): DataFrame =
    readLive(spark, root, exactFpRoot(root), upTo)

  /** Merge an independently-built exact-dedup index into `root` — the
    * verdict-family face of shard-parallel bootstrap
    * ([[mergeMinHashIndexes]] is the pair-family face): shards over
    * disjoint id sets each ran keep-the-min LOCALLY, so a fingerprint
    * present in BOTH shards has two "kept" rows and the global rule
    * keeps only the minimum surviving id. Adopts the donor's
    * fingerprint and tombstone version files as byte-level copies (the
    * [[mergeMinHashIndexes]] log-adoption path) and returns the
    * verdict CORRECTION delta — (id, fp, kept) recomputed for every
    * member of a fingerprint group that spans both shards, the only
    * groups a merge can change (single-shard groups keep their minimum;
    * the [[retractExact]] delta convention: the caller overrides those
    * ids in its accumulated verdict log). Delta-corrected verdicts equal
    * d1's one-shot keep-the-min over the union (the d65 gate). This is
    * [[mergeManyExactIndexes]] with one donor (exchange discipline
    * there): the delta is bounded by the CROSS-SHARD duplicate volume,
    * not the index size.
    */
  def mergeExactIndexes(spark: SparkSession, root: String,
      donorRoot: String): (Long, DataFrame) =
    mergeManyExactIndexes(spark, root, Seq(donorRoot))

  /** Exactly-once exact-dedup shard merge — the
    * [[mergeMinHashIndexesEpoch]] protocol with the verdict-correction
    * DELTA playing the pairs role (committed into `deltaRoot`, the
    * caller's correction log) and the fingerprint adoption as the
    * replay key. Orchestrator-owned monotone `epochId`. This is
    * [[mergeManyExactIndexesEpoch]] with one donor.
    */
  def mergeExactIndexesEpoch(spark: SparkSession, root: String,
      deltaRoot: String, donorRoot: String, epochId: Long)
      : Option[(Long, DataFrame)] =
    mergeManyExactIndexesEpoch(spark, root, deltaRoot, Seq(donorRoot), epochId)

  /** N-WAY exact-dedup shard merge — the verdict-family face of the
    * d69 fan-in: ONE fingerprint pass over the adopter plus ALL donors
    * corrects every group spanning ≥2 shards at once. A fold of
    * [[mergeExactIndexes]] re-shuffles the GROWING adopter's
    * fingerprints N−1 times and discovers donor×donor spanning groups
    * only across iterations — the same quadratic tail the MinHash
    * fan-in avoids. Only 32-byte (id, fp) rows ever shuffle: one
    * hash-agg marks fingerprints seen in ≥2 DISTINCT shards, one
    * window recomputes keep-the-min over exactly those groups (agg,
    * join-back and window all key on `fp`, so the exchange is reused
    * across all three), and the correction volume is bounded by
    * cross-shard dup volume, never index size. Data move is byte-level
    * adoption of every donor's fingerprint log (tombstones first, the
    * conservative order). Shard verdicts overridden by the returned
    * delta equal the one-shot global rule — the d72 gate pins this
    * against d57's oracle verbatim.
    */
  def mergeManyExactIndexes(spark: SparkSession, root: String,
      donorRoots: Seq[String]): (Long, DataFrame) =
    mergeManyExactImpl(spark, root, donorRoots, None).get

  /** Exactly-once N-way exact merge — [[mergeManyExactIndexes]]
    * under the ONE epoch id for the whole fan-in step (the d69
    * convention: orchestrator-owned, monotone per adopter lineage).
    */
  def mergeManyExactIndexesEpoch(spark: SparkSession, root: String,
      deltaRoot: String, donorRoots: Seq[String], epochId: Long)
      : Option[(Long, DataFrame)] =
    mergeManyExactImpl(spark, root, donorRoots, Some((epochId, deltaRoot)))

  private def mergeManyExactImpl(spark: SparkSession, root: String,
      donorRoots: Seq[String],
      epoch: Option[(Long, String)]): Option[(Long, DataFrame)] = {
    import org.apache.spark.sql.expressions.Window
    require(donorRoots.nonEmpty, "mergeManyExactIndexes needs donors")
    if (epoch.exists { case (e, _) =>
        epochCommittedIn(spark, exactFpRoot(root), e) })
      return None
    // adopter is shard 0; groups internal to ONE shard already carry
    // correct local verdicts (keep-the-min is shard-local-correct for
    // them), so only ≥2-distinct-shard groups enter the window
    val tagged = (readExactIndex(spark, root).select("id", "fp")
        .withColumn("sh", lit(0)) +:
      donorRoots.zipWithIndex.map { case (r, i) =>
        readExactIndex(spark, r).select("id", "fp")
          .withColumn("sh", lit(i + 1)) })
      .reduce(_.unionAll(_)).persist()
    try {
      val spanning = tagged.groupBy("fp")
        .agg(countDistinct(col("sh")).as("nsh"))
        .filter(col("nsh") >= 2).select("fp")
      val w = Window.partitionBy("fp").orderBy("id")
      val delta = tagged.join(spanning, "fp")
        .withColumn("kept", row_number().over(w) === 1)
        .select("id", "fp", "kept").persist()
      delta.count() // materialize before the commit mutates the log
      Some((adoptDonors(spark, root, donorRoots, exactFpRoot, None, epoch,
        delta), delta))
    } finally tagged.unpersist(blocking = false)
  }

  /** Survivor-recompute retraction for the EXACT index — the takedown
    * path the near-dup verdict families can't have: exact verdicts are
    * recomputable from the fingerprint log alone (kept ⇔ id is the
    * minimum SURVIVING id of its fingerprint group), so retracting a
    * keeper CORRECTS the index instead of forcing a re-bootstrap.
    * Commits the O(ids) tombstone version, then recomputes verdicts for
    * the surviving members of every group a retracted id touched — the
    * only verdicts a retraction can change, because groups are
    * fingerprint-local and untouched groups keep their minimum. Returns
    * the (id, fp, kept) correction delta; the caller overrides those
    * ids in its accumulated verdict log. Later ingests probe the
    * tombstone-filtered log ([[exactBatchArtifacts]]), so a document
    * re-arriving after a FULL group takedown is kept as the group's new
    * first arrival. Exchange discipline: the retracted-id and
    * affected-fingerprint sets are O(ids) and broadcast; the fingerprint
    * log streams map-side through both probes, and only the (small)
    * affected-group slice enters the recompute window.
    */
  def retractExact(spark: SparkSession, root: String, ids: DataFrame,
      idCol: String = "id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = ids.select(col(idCol).as("id")).distinct()
    // fingerprints the retracted ids carried — read RAW, pre-tombstone
    // (the tombstone hides exactly the rows that name the groups)
    val affected = VersionedTable.readAllVersions(spark, exactFpRoot(root))
      .join(broadcast(t), "id").select("fp").distinct()
    retract(spark, root, t)
    val w = Window.partitionBy("fp").orderBy("id")
    readExactIndex(spark, root)
      .join(broadcast(affected), "fp")
      .withColumn("kept", row_number().over(w) === 1)
      .select("id", "fp", "kept")
  }

  /** Compact an exact-dedup index's fingerprint log. */
  def compactExactIndex(spark: SparkSession, root: String,
      vacuum: Boolean = true): Unit =
    compactLog(spark, exactFpRoot(root), vacuum = vacuum)

  /** Purge an exact-dedup index — the [[purgeDedupIndex]] shape:
    * surviving fingerprints checkpointed, tombstones cleared LAST (no
    * stats sidecar to re-derive).
    */
  def purgeExactIndex(spark: SparkSession, root: String): Unit = {
    purgeLog(spark, root, exactFpRoot(root))
    clearTombstones(spark, root)
  }

  // -------------------------------------------------------------- SimHash

  /** Stored SimHash signature rows (id, sig): the PORTABLE md5-60bit
    * signature (what makes the d3/d58 oracles SQL-expressible), one
    * long per doc — row-local, no shuffle.
    */
  def simHashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val hashed = ColumnBridge.column(graft.functions.ShingleHashesMd5(
      ColumnBridge.expression(col(textCol)), shingleN))
    docs.select(col(idCol).as("id"), ColumnBridge.column(
      graft.functions.SimHashSignature(ColumnBridge.expression(hashed))).as("sig"))
  }

  /** Pigeonhole banding of stored signatures as (doc, rk, band, bucket):
    * 4×16-bit blocks (hamming ≤ 3 ⇒ at least one block equal, so the
    * banding is LOSSLESS for the ≤3 verify) — map-only per side, the
    * shared candidate machinery's input shape.
    */
  private def bandedOfSimHash(sigs: DataFrame): DataFrame = {
    val blockCols = (0 until 4).map(b =>
      shiftright(col("sig"), b * 16).bitwiseAND(0xFFFF))
    sigs.select(col("id").as("doc"), col("id").as("rk"),
      posexplode(array(blockCols: _*)).as(Seq("band", "bucket")))
  }

  /** All SimHash signature rows indexed so far, minus retracted ids
    * (SimHash pairs, like MinHash pairs, are order-independent — a pair
    * exists regardless of arrival order — so the index is
    * retraction-safe).
    */
  def readSimHashIndex(spark: SparkSession, root: String,
      upTo: Option[Long] = None): DataFrame =
    readLive(spark, root, root, upTo)

  /** Ingest one batch into a SimHash near-dup index: sign ONLY the
    * batch (one 60-bit signature per doc), generate block-collision
    * candidates restricted to pairs touching the batch through the
    * shared [[incrementalBucketCandidates]] (index streams, batch
    * broadcasts under the size gate, over-cap blocks rank-chunk), and
    * verify with exact popcount over the STORED signatures — pruned to
    * candidate ids by a broadcast semi-join first, so the index never
    * shuffles for verification either. Accumulated pairs across ingests
    * equal the one-shot [[Dedup.simHashPairsPortable]] pair list over
    * the union (the d58 gate; order-invariant by the disjoint-union
    * theorem). Returns (committed version, new pairs (a, b, hamming)).
    */
  private final case class SimHashArtifacts(
      batchSigs: DataFrame, batchStats: DataFrame, verified: DataFrame,
      release: () => Unit)

  private def simHashBatchArtifacts(spark: SparkSession, root: String,
      batch: DataFrame, idCol: String, textCol: String, maxHamming: Int,
      shingleN: Int, bucketCap: Int, broadcastRowLimit: Long,
      excludeEpoch: Option[Long] = None): SimHashArtifacts =
    sigBatchArtifacts(spark, root,
      simHashSignatures(batch, idCol, textCol, shingleN),
      maxHamming, bucketCap, broadcastRowLimit, excludeEpoch)

  /** The SimHash ingest pipeline below the SIGNING step — banding, caps,
    * candidate generation, popcount verify — over any (id, sig) frame.
    * 64-bit-safe: the 4×16-bit blocks cover bits 0–63 (arithmetic
    * shift's sign-fill dies under the 0xFFFF mask), so precomputed
    * perceptual hashes ride the same machinery as the 60-bit text
    * signatures, and the pigeonhole banding stays lossless for
    * hamming ≤ 3 at either width.
    */
  private def sigBatchArtifacts(spark: SparkSession, root: String,
      sigs: DataFrame, maxHamming: Int, bucketCap: Int,
      broadcastRowLimit: Long,
      excludeEpoch: Option[Long] = None): SimHashArtifacts = {
    val batchSigs = sigs.persist()
    try {
      val haveIndex = VersionedTable.versions(spark, root).nonEmpty
      val prior = if (haveIndex) Some(readSimHashIndex(spark, root)) else None
      val bandedB = bandedOfSimHash(batchSigs).persist()
      // persisted: the stats delta otherwise executes twice per ingest
      // (the stats pass + the sidecar write) — see the
      // minHashBatchArtifacts note / JobProfile d56
      val batchStats = bucketStats(bandedB).persist()
      val stats = overCapAndBatchRows(spark, subRoot(root, "bucketstats"),
        batchStats, bucketCap, broadcastRowLimit, excludeEpoch)
      val cands = incrementalBucketCandidates(
        prior.map(bandedOfSimHash).getOrElse(bandedB.filter(lit(false))),
        bandedB, bucketCap, stats.over, stats.batchRows, broadcastRowLimit)
      val sigRows = prior.map(_.unionAll(batchSigs)).getOrElse(batchSigs)
      val verified = gatedPairs(spark, cands, stats, broadcastRowLimit)(
        hammingPairs(_, sigRows, maxHamming, _))
      SimHashArtifacts(batchSigs, batchStats, verified, () => {
        batchStats.unpersist(blocking = false)
        bandedB.unpersist(blocking = false)
        batchSigs.unpersist(blocking = false)
      })
    } catch {
      case t: Throwable => batchSigs.unpersist(blocking = false); throw t
    }
  }

  /** Exact popcount verification of SimHash candidates against stored
    * (id, sig) rows: (a, b, hamming) with hamming ≤ `maxHamming`,
    * unmaterialized. The verifyJaccard exchange shape:
    * exploded pair sides broadcast into ONE scan of the signature log
    * (the per-side prune form scanned it once per broadcast subtree),
    * signatures re-pair in a candidate-bounded aggregate.
    * `broadcastSides` is the side-broadcast verdict ([[gatedPairs]]):
    * without it the exploded sides take a plain id
    * shuffle join — the r14 100× SimHash shard bootstrap died building
    * this broadcast (>1 GiB of serialized results vs the 1 GiB driver
    * default).
    */
  private def hammingPairs(cands: DataFrame, sigs: DataFrame,
      maxHamming: Int, broadcastSides: Boolean): DataFrame = {
    val sidesHint: DataFrame => DataFrame =
      if (broadcastSides) df => broadcast(df) else identity
    sigs.select(col("id"), col("sig"))
      .join(sidesHint(Dedup.pairSides(cands)), "id")
      .groupBy("a", "b")
      .agg(
        first(when(col("isA"), col("sig")), ignoreNulls = true).as("siga"),
        first(when(!col("isA"), col("sig")), ignoreNulls = true).as("sigb"))
      .filter(col("siga").isNotNull && col("sigb").isNotNull)
      .select(col("a"), col("b"),
        bit_count(col("siga").bitwiseXOR(col("sigb"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  def ingestSimHash(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, textCol: String, maxHamming: Int = 3, shingleN: Int = 3,
      bucketCap: Int = 4096,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): (Long, DataFrame) = {
    val a = simHashBatchArtifacts(spark, root, batch, idCol, textCol,
      maxHamming, shingleN, bucketCap, broadcastRowLimit)
    try {
      VersionedTable.write(spark, a.batchStats, subRoot(root, "bucketstats")) // stats first (see ingestMinHash)
      val v = VersionedTable.write(spark, a.batchSigs, root)
      (v, a.verified)
    } finally a.release()
  }

  /** Exactly-once streaming SimHash ingest — [[ingestMinHashEpoch]]'s
    * protocol (same crash-window analysis, same two-witness replay
    * detection) over the SimHash artifacts. Returns None on a replayed
    * epoch; the pattern extends to any family whose ingest decomposes
    * into (batch rows, stats delta, pairs).
    */
  def ingestSimHashEpoch(spark: SparkSession, root: String,
      pairsRoot: String, batch: DataFrame, idCol: String, textCol: String,
      epochId: Long, maxHamming: Int = 3, shingleN: Int = 3,
      bucketCap: Int = 4096,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): Option[DataFrame] = {
    if (epochCommittedIn(spark, root, epochId)) return None
    val a = simHashBatchArtifacts(spark, root, batch, idCol, textCol,
      maxHamming, shingleN, bucketCap, broadcastRowLimit,
      excludeEpoch = Some(epochId))
    try {
      commitEpoch(spark, epochId,
        Some((a.batchStats, subRoot(root, "bucketstats"))),
        Seq(a.verified -> pairsRoot, a.batchSigs -> root))
      Some(a.verified)
    } catch {
      case t: Throwable => a.verified.unpersist(blocking = false); throw t
    } finally a.release()
  }

  /** Incremental perceptual-hash image near-dup index (d77):
    * [[ingestSimHash]]'s whole pipeline over PRECOMPUTED 64-bit
    * signatures — the caller supplies (id, sig) rows, e.g.
    * [[graft.operators.Multimodal.imageAHash]] average-hashes of
    * decoded rasters, and banding / bucket caps / candidate generation
    * / exact-popcount verify / tombstones are all the shared SimHash
    * machinery (the index layout is IDENTICAL, so
    * [[readSimHashIndex]], [[mergeSimHashIndexes]] and the SimHash
    * retraction/compaction paths apply to an image-hash index verbatim).
    * Decode cost stays where it belongs — in the caller's column-pruned
    * mapPartitions over the media column — and the index never sees a
    * byte of pixel data. Returns (committed version, new pairs
    * (a, b, hamming)); accumulated pairs across ingests equal the
    * one-shot hamming ≤ `maxHamming` all-pairs answer over the union
    * (the d58 disjoint-union argument, signature-agnostic).
    */
  def ingestImageHashes(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, sigCol: String, maxHamming: Int = 3,
      bucketCap: Int = 4096,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): (Long, DataFrame) = {
    require(maxHamming <= 3,
      "4x16-bit pigeonhole banding is lossless only for hamming <= 3")
    val a = sigBatchArtifacts(spark, root,
      batch.select(col(idCol).as("id"), col(sigCol).cast("long").as("sig")),
      maxHamming, bucketCap, broadcastRowLimit)
    try {
      VersionedTable.write(spark, a.batchStats, subRoot(root, "bucketstats"))
      val v = VersionedTable.write(spark, a.batchSigs, root)
      (v, a.verified)
    } finally a.release()
  }

  /** Exactly-once image-hash ingest — [[ingestSimHashEpoch]]'s protocol
    * (same crash windows, same two-witness replay detection) over
    * precomputed signatures. Returns None on a replayed epoch.
    */
  def ingestImageHashesEpoch(spark: SparkSession, root: String,
      pairsRoot: String, batch: DataFrame, idCol: String, sigCol: String,
      epochId: Long, maxHamming: Int = 3, bucketCap: Int = 4096,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): Option[DataFrame] = {
    require(maxHamming <= 3,
      "4x16-bit pigeonhole banding is lossless only for hamming <= 3")
    if (epochCommittedIn(spark, root, epochId)) return None
    val a = sigBatchArtifacts(spark, root,
      batch.select(col(idCol).as("id"), col(sigCol).cast("long").as("sig")),
      maxHamming, bucketCap, broadcastRowLimit, excludeEpoch = Some(epochId))
    try {
      commitEpoch(spark, epochId,
        Some((a.batchStats, subRoot(root, "bucketstats"))),
        Seq(a.verified -> pairsRoot, a.batchSigs -> root))
      Some(a.verified)
    } catch {
      case t: Throwable => a.verified.unpersist(blocking = false); throw t
    } finally a.release()
  }

  /** Merge an independently-built SimHash index into `root` — the
    * [[mergeMinHashIndexes]] shape over the SimHash machinery (and the
    * easiest merge of the family: portable md5-60bit signatures have NO
    * frozen geometry, so any two SimHash indexes with the same
    * `shingleN` are mergeable). Cross pairs verified by exact popcount
    * over the stored signatures; the data move is log adoption
    * (tombstones → stats → signatures). Accumulated pairs equal the
    * one-shot portable-SimHash run over the union (the d66 gate). This
    * is [[mergeManySimHashIndexes]] with one donor.
    */
  def mergeSimHashIndexes(spark: SparkSession, root: String,
      donorRoot: String, maxHamming: Int = 3, bucketCap: Int = 4096,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): (Long, DataFrame) =
    mergeManySimHashIndexes(spark, root, Seq(donorRoot), maxHamming, bucketCap,
      broadcastRowLimit)

  /** Exactly-once SimHash shard merge — the [[mergeMinHashIndexesEpoch]]
    * protocol (tombstones → stats → pairs → signatures, signatures the
    * replay key; orchestrator-owned monotone `epochId`). This is
    * [[mergeManySimHashIndexesEpoch]] with one donor.
    */
  def mergeSimHashIndexesEpoch(spark: SparkSession, root: String,
      pairsRoot: String, donorRoot: String, epochId: Long,
      maxHamming: Int = 3, bucketCap: Int = 4096,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit)
      : Option[(Long, DataFrame)] =
    mergeManySimHashIndexesEpoch(spark, root, pairsRoot, Seq(donorRoot),
      epochId, maxHamming, bucketCap, broadcastRowLimit)

  /** N-WAY SimHash shard merge — [[mergeManyMinHashIndexes]]'s one-pass
    * fan-in over the SimHash machinery: the donor union plays the batch
    * role with per-shard tags, so the batch-internal candidates ARE the
    * donor×donor pairs a fold pays N−1 growing-adopter passes for, and
    * a pair is kept iff its sides live in different shards
    * (shard-internal pairs are already in shard logs). Signatures are
    * PORTABLE (no frozen per-shard geometry), so any same-shingleN
    * shards fan in. Gate: d73 == d3's exact oracle with a mod-3 split
    * that puts every twin pair cross-shard.
    */
  def mergeManySimHashIndexes(spark: SparkSession, root: String,
      donorRoots: Seq[String], maxHamming: Int = 3, bucketCap: Int = 4096,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): (Long, DataFrame) =
    mergeBanded(spark, root, donorRoots,
      simHashFamily(maxHamming, bucketCap, broadcastRowLimit), None).get

  /** Exactly-once N-way SimHash merge (one orchestrator-owned epoch id
    * for the whole fan-in step, the d69 convention).
    */
  def mergeManySimHashIndexesEpoch(spark: SparkSession, root: String,
      pairsRoot: String, donorRoots: Seq[String], epochId: Long,
      maxHamming: Int = 3, bucketCap: Int = 4096,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): Option[(Long, DataFrame)] =
    mergeBanded(spark, root, donorRoots,
      simHashFamily(maxHamming, bucketCap, broadcastRowLimit),
      Some((epochId, pairsRoot)))

  private[graft] def simHashFamily(maxHamming: Int, bucketCap: Int,
      broadcastRowLimit: Long) = BandedFamily(
    readSimHashIndex(_, _), bandedOfSimHash,
    hammingPairs(_, _, maxHamming, _),
    bucketCap, broadcastRowLimit)

  /** Compact a SimHash index (signature log + stats sidecar). */
  def compactSimHashIndex(spark: SparkSession, root: String,
      vacuum: Boolean = true): Unit = {
    compactLog(spark, root, vacuum = vacuum)
    compactLog(spark, subRoot(root, "bucketstats"),
      _.groupBy("band", "bucket").agg(sum(col("n")).as("n")), vacuum)
  }

  /** Purge a SimHash index — the [[purgeDedupIndex]] shape: surviving
    * signatures checkpointed, stats re-derived exactly, tombstones
    * cleared last.
    */
  def purgeSimHashIndex(spark: SparkSession, root: String): Unit = {
    purgeLog(spark, root, root)
    val statsRoot = subRoot(root, "bucketstats")
    VersionedTable.writeCheckpoint(spark,
      bucketStats(bandedOfSimHash(
        VersionedTable.readAllVersions(spark, root))),
      statsRoot, VersionedTable.versions(spark, statsRoot).last)
    VersionedTable.vacuumCovered(spark, statsRoot)
    clearTombstones(spark, root)
  }

  // ------------------------------------------- prefix-filter set similarity

  private def prefixDfRoot(root: String) = subRoot(root, "dfstats")
  private def prefixTokRoot(root: String) = subRoot(root, "tokens")
  private[graft] def prefixStatsRoot(root: String) = subRoot(root, "prefixstats")

  /** Incremental twin of [[Dedup.prefixJaccardJoin]] (the EXACT PPJoin
    * path, d40). Thresholds are the exact rational num/den; defaults
    * match the d40 gated pipeline.
    */
  final case class PrefixJaccardParams(
      num: Int = 4, den: Int = 5, bucketCap: Int = 1024,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit)

  /** Bootstrap a prefix-filter set-similarity index: compute global
    * element frequencies over the FIRST batch and FREEZE them (snapshot
    * convention — the TF-IDF/IVF/SRP pattern). WHY freezing is sound
    * here: the prefix-filter lemma ("a pair at Jaccard ≥ t shares an
    * element within each side's first |s| − ⌈t·|s|⌉ + 1 elements") holds
    * under ANY total order on elements shared by both sides — the
    * ascending-df sort is purely a pruning heuristic (rare elements
    * make short, selective prefixes), never a correctness input. So the
    * index fixes the order (df at bootstrap, elements unseen then take
    * df = 0, ties by element value — total and stable forever) and every
    * ingest's prefixes stay mutually consistent with every other's; the
    * candidate superset property survives unlimited corpus drift, and
    * exact verification does the rest. What drift DOES erode is
    * pruning selectivity: an element rare at bootstrap that turns
    * ubiquitous later sits at the front of every new prefix, growing
    * its candidate bucket until the cap engages. Re-freezing on
    * vocabulary drift is a new bootstrap, exactly like IVF re-training.
    */
  def bootstrapPrefixJaccard(spark: SparkSession, root: String,
      sets: DataFrame, p: PrefixJaccardParams = PrefixJaccardParams()): (Long, DataFrame) =
    ingestPrefixJaccard(spark, root, sets, p) // empty root freezes df from this batch

  /** A batch's stored token rows (id, toks, n, p) under the FROZEN
    * element order: per-set elements sorted ascending by (frozen df,
    * element) — unseen elements coalesce to df = 0 — with prefix length
    * p = n − ⌈t·n⌉ + 1. Exchange discipline is [[ingestTfidf]]'s: the
    * vocabulary-sized frozen stats table is pruned map-side by a
    * broadcast of the batch's distinct elements, and the pruned
    * (batch-bounded) slice broadcasts back into the sort join — the
    * frozen stats never enter an exchange while the batch is under the
    * row limit; past it (bootstrap/backfill) both joins fall back to
    * plain shuffles.
    */
  private[graft] def prefixSortedSets(spark: SparkSession, root: String,
      sets: DataFrame, p: PrefixJaccardParams, batchSetRows: Long): DataFrame = {
    val hintB: DataFrame => DataFrame =
      if (batchSetRows <= p.broadcastRowLimit) df => broadcast(df) else identity
    val dfPruned = VersionedTable.read(spark, prefixDfRoot(root))
      .join(hintB(sets.select("elem").distinct()), "elem")
    sets.join(hintB(dfPruned), Seq("elem"), "left")
      .groupBy("id")
      .agg(expr(
        "transform(array_sort(collect_list(struct(coalesce(df, 0L) AS df, elem))), x -> x.elem)")
        .as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("p",
        col("n") - expr(s"CAST((${p.num} * n + ${p.den} - 1) DIV ${p.den} AS INT)") + 1)
  }

  /** Stored token rows as (doc, rk, band, bucket) banded frames for the
    * shared candidate machinery: one pseudo-band, prefix elements as
    * buckets, set size as the cap-chunk rank (the one-shot orders its
    * rank chunks by (n, id) — a true pair at t has size ratio within
    * [t, 1/t], so adjacent-size chunking preserves it). Map-only.
    */
  private[graft] def bandedOfPrefix(tok: DataFrame): DataFrame =
    tok.select(col("id").as("doc"), col("n").cast("long").as("rk"),
      lit(0).as("band"), explode(expr("slice(toks, 1, p)")).as("bucket"))

  /** All (id, toks, n, p) token rows indexed so far, minus retracted ids
    * (prefix-join pairs, like MinHash pairs, are order-independent, so
    * the index is retraction-safe — filter pair logs with
    * [[retractPairs]]).
    */
  def readPrefixIndex(spark: SparkSession, root: String,
      upTo: Option[Long] = None): DataFrame =
    readLive(spark, root, prefixTokRoot(root), upTo)

  /** Ingest one batch of distinct (id, elem) set rows: sort ONLY the
    * batch under the frozen element order, find the exact
    * Jaccard ≥ num/den pairs the batch adds (batch-internal +
    * batch×index through [[incrementalBucketCandidates]] — the index
    * streams map-side, the batch broadcasts under the size gate, only
    * over-cap prefix elements rank-chunk-shuffle), verify with the
    * STORED sorted-element arrays (pure integer arithmetic,
    * den·|A∩B| ≥ num·|A∪B| — no FP), and append the batch's token rows
    * as the next index version (id-clustered within partitions — the
    * TF-IDF zone-map lesson — so candidate-bounded probes prune row
    * groups). Accumulated pairs across ingests equal the one-shot
    * [[Dedup.prefixJaccardJoin]] pair list over the union EXACTLY, even
    * though the one-shot sorts under its own corpus-wide df: both sides
    * are exact all-pairs answers, and exactness is order-independent
    * (the d59 gate; per-ingest pair sets are disjoint — a pair is
    * emitted by exactly the ingest that indexes its later-arriving
    * member — so the equality is split/order invariant, the d54
    * theorem). Returns (committed version, new pairs (ia, ib, inter,
    * un) with ia < ib), pairs materialized as in [[ingestMinHash]].
    */
  private final case class PrefixArtifacts(
      batchTok: DataFrame, batchStats: DataFrame, verified: DataFrame,
      release: () => Unit)

  /** `donorIds` (a merge): each donor's live id frame, in shard order;
    * empty for an ingest. Its size is the donor count candidate
    * generation keys on ([[incrementalBucketCandidates]]). From two
    * donors on, each banded batch row is tagged with its donor's shard
    * `sh` (a batch-sized join) so shard-internal pairs drop inside the
    * candidate join; one donor needs no tag.
    */
  private def prefixBatchArtifacts(spark: SparkSession, root: String,
      sets: DataFrame, p: PrefixJaccardParams,
      excludeEpoch: Option[Long] = None,
      donorIds: Seq[DataFrame] = Nil): PrefixArtifacts = {
    val s0 = sets.persist()
    try {
      // an empty/absent root bootstraps naturally: the FIRST batch's
      // element frequencies become the frozen order (see the freeze
      // soundness argument above). The write is bootstrap-idempotent —
      // a replay that crashed after it skips it and reads the committed
      // (identical — deterministic aggregate of the same batch) snapshot
      if (VersionedTable.versions(spark, prefixDfRoot(root)).isEmpty)
        VersionedTable.write(spark,
          s0.groupBy("elem").agg(count(lit(1)).as("df")), prefixDfRoot(root))
      val batchTok =
        prefixSortedSets(spark, root, s0, p, s0.count()).persist()
      try {
        val haveIndex = VersionedTable.versions(spark, prefixTokRoot(root)).nonEmpty
        val prior = if (haveIndex) Some(readPrefixIndex(spark, root)) else None
        val bandedB = (
          if (donorIds.size < 2) bandedOfPrefix(batchTok)
          else bandedOfPrefix(batchTok).join(donorIds.zipWithIndex.map {
            case (d, i) => d.select(col("id").as("doc"), lit(i + 1).as("sh"))
          }.reduce(_.unionAll(_)), "doc")).persist()
        // persisted: the stats delta otherwise executes twice per ingest
        // (the stats pass + the sidecar write) — see the
        // minHashBatchArtifacts note / JobProfile d56
        val batchStats = bucketStats(bandedB).persist()
        val stats = overCapAndBatchRows(spark, prefixStatsRoot(root),
          batchStats, p.bucketCap, p.broadcastRowLimit, excludeEpoch)
        val cands = incrementalBucketCandidates(
          prior.map(bandedOfPrefix).getOrElse(bandedB.filter(lit(false))),
          bandedB, p.bucketCap, stats.over, stats.batchRows, p.broadcastRowLimit,
          donors = donorIds.size)
        // verification with the verifyJaccard exchange discipline: the
        // candidate pair list explodes to per-side probe rows that
        // broadcast into ONE scan of the token log (a parquet read —
        // the per-side prune form paid it twice), and each pair's two
        // sorted-element arrays re-pair through a pair-bounded
        // aggregate; prefix candidates are sparse by construction
        val toks = prior.map(_.unionAll(batchTok)).getOrElse(batchTok)
        // materialized while the caches are hot
        val verified = gatedPairs(spark, cands, stats, p.broadcastRowLimit) {
          (c, broadcastSides) =>
          val sidesHint: DataFrame => DataFrame =
            if (broadcastSides) df => broadcast(df) else identity
          toks.select(col("id"), col("toks"), col("n"))
            .join(sidesHint(Dedup.pairSides(c)), "id")
            .groupBy("a", "b")
            .agg(
              first(when(col("isA"), col("toks")), ignoreNulls = true).as("ta"),
              first(when(col("isA"), col("n")), ignoreNulls = true).as("na"),
              first(when(!col("isA"), col("toks")), ignoreNulls = true).as("tb"),
              first(when(!col("isA"), col("n")), ignoreNulls = true).as("nb"))
            .filter(col("ta").isNotNull && col("tb").isNotNull)
            .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
            .withColumn("un", col("na") + col("nb") - col("inter"))
            .filter(lit(p.den) * col("inter") >= lit(p.num) * col("un"))
            .select(col("a").as("ia"), col("b").as("ib"),
              col("inter").cast("long").as("inter"), col("un").cast("long").as("un"))
        }
        PrefixArtifacts(batchTok.sortWithinPartitions("id"), batchStats,
          verified, () => {
            batchStats.unpersist(blocking = false)
            bandedB.unpersist(blocking = false)
            batchTok.unpersist(blocking = false)
            s0.unpersist(blocking = false)
          })
      } catch {
        case t: Throwable => batchTok.unpersist(blocking = false); throw t
      }
    } catch {
      case t: Throwable => s0.unpersist(blocking = false); throw t
    }
  }

  def ingestPrefixJaccard(spark: SparkSession, root: String, sets: DataFrame,
      p: PrefixJaccardParams = PrefixJaccardParams()): (Long, DataFrame) = {
    val a = prefixBatchArtifacts(spark, root, sets, p)
    try {
      VersionedTable.write(spark, a.batchStats, prefixStatsRoot(root)) // stats first (see ingestMinHash)
      val v = VersionedTable.write(spark, a.batchTok, prefixTokRoot(root))
      (v, a.verified)
    } finally a.release()
  }

  /** Exactly-once prefix-filter ingest — [[ingestMinHashEpoch]]'s
    * protocol over the prefix artifacts (pairs leg then token leg,
    * replay keyed on the token root; frozen-df bootstrap write is
    * idempotent — see [[prefixBatchArtifacts]]). Returns None on a
    * replayed epoch.
    */
  def ingestPrefixJaccardEpoch(spark: SparkSession, root: String,
      pairsRoot: String, sets: DataFrame, epochId: Long,
      p: PrefixJaccardParams = PrefixJaccardParams()): Option[DataFrame] = {
    if (epochCommittedIn(spark, prefixTokRoot(root), epochId)) return None
    val a = prefixBatchArtifacts(spark, root, sets, p,
      excludeEpoch = Some(epochId))
    try {
      commitEpoch(spark, epochId,
        Some((a.batchStats, prefixStatsRoot(root))),
        Seq(a.verified -> pairsRoot, a.batchTok -> prefixTokRoot(root)))
      Some(a.verified)
    } catch {
      case t: Throwable => a.verified.unpersist(blocking = false); throw t
    } finally a.release()
  }

  /** Merge an independently-built prefix-filter index into `root` — the
    * one merge in the family that CANNOT adopt files: each shard froze
    * its own element order (df snapshot of its first batch), and the
    * prefix-filter lemma needs ONE shared total order, so the donor's
    * token arrays re-sort under the ADOPTER's frozen order. The re-sort
    * reads the donor's stored arrays — `(id, elem)` re-derives by
    * exploding the token log; shingles never recompute from text — and
    * rides the normal batch-artifact path (donor-unseen elements take
    * df = 0 through the same coalesce as any new-element ingest, still
    * a total order). Exactness is order-independent, so each shard's
    * own pair log stays valid verbatim; the merge returns only the
    * CROSS pairs (integer (inter, un) witnesses included), and
    * accumulated pairs equal the one-shot over the union (the d67
    * gate). Donor retractions are honored by construction: the re-sort
    * starts from the donor's tombstone-FILTERED live rows, so nothing
    * retracted ever enters `root`. This is [[mergeManyPrefixIndexes]]
    * with one donor.
    */
  def mergePrefixIndexes(spark: SparkSession, root: String,
      donorRoot: String,
      p: PrefixJaccardParams = PrefixJaccardParams()): (Long, DataFrame) =
    mergeManyPrefixIndexes(spark, root, Seq(donorRoot), p)

  /** Exactly-once prefix-filter shard merge. Unlike the adoption
    * families the prefix merge RE-WRITES the donor's token rows (they
    * re-sort under the adopter's frozen df), so every leg is a write
    * leg and [[commitEpoch]] carries the whole commit: stats as guarded
    * leg 0, cross pairs into `pairsRoot`, then the token log as the
    * replay key. Orchestrator-owned monotone `epochId`. This is
    * [[mergeManyPrefixIndexesEpoch]] with one donor.
    */
  def mergePrefixIndexesEpoch(spark: SparkSession, root: String,
      pairsRoot: String, donorRoot: String, epochId: Long,
      p: PrefixJaccardParams = PrefixJaccardParams())
      : Option[(Long, DataFrame)] =
    mergeManyPrefixIndexesEpoch(spark, root, pairsRoot, Seq(donorRoot), epochId, p)

  /** N-WAY prefix-filter shard merge — the fan-in for the one family
    * that cannot adopt files: every donor's stored token arrays RE-SORT
    * under the ADOPTER's frozen element order (unseen elements df=0,
    * still a total order; shingles never recompute from text), then ONE
    * tagged candidate pass covers index×donors and donor×donor at once
    * — a fold of [[mergePrefixIndexes]] re-sorts nothing extra but
    * re-scans the GROWING adopter's token log N−1 times. Exactness is
    * order-independent, so every shard's own pair log stays valid
    * verbatim. Gate: d75 == d40/d59's exact Jaccard oracle, integer
    * witnesses included, with a mod-3 split making every twin pair
    * cross-shard.
    */
  def mergeManyPrefixIndexes(spark: SparkSession, root: String,
      donorRoots: Seq[String],
      p: PrefixJaccardParams = PrefixJaccardParams()): (Long, DataFrame) =
    mergeManyPrefixImpl(spark, root, donorRoots, p, None).get

  /** Exactly-once N-way prefix merge (one orchestrator-owned epoch id
    * for the whole fan-in step).
    */
  def mergeManyPrefixIndexesEpoch(spark: SparkSession, root: String,
      pairsRoot: String, donorRoots: Seq[String], epochId: Long,
      p: PrefixJaccardParams = PrefixJaccardParams()): Option[(Long, DataFrame)] =
    mergeManyPrefixImpl(spark, root, donorRoots, p, Some((epochId, pairsRoot)))

  private def mergeManyPrefixImpl(spark: SparkSession, root: String,
      donorRoots: Seq[String], p: PrefixJaccardParams,
      epoch: Option[(Long, String)]): Option[(Long, DataFrame)] = {
    require(donorRoots.nonEmpty, "mergeManyPrefixIndexes needs donors")
    if (epoch.exists { case (e, _) =>
        epochCommittedIn(spark, prefixTokRoot(root), e) })
      return None
    // no full-width log cache: `toks` dominates the row, and the two
    // consumers need different slices (full (id, toks) for the batch
    // artifacts, id-only for the shard tags) — column-pruned scans
    val donorLive = donorRoots.map(readPrefixIndex(spark, _))
    val donorSets = donorLive.map(
      _.select(col("id"), explode(col("toks")).as("elem")))
      .reduce(_.unionAll(_))
    val a = prefixBatchArtifacts(spark, root, donorSets, p,
      excludeEpoch = epoch.map(_._1), donorIds = donorLive.map(_.select("id")))
    try {
      val v = epoch match {
        case None =>
          VersionedTable.write(spark, a.batchStats, prefixStatsRoot(root))
          VersionedTable.write(spark, a.batchTok, prefixTokRoot(root))
        case Some((e, pairsRoot)) =>
          commitEpoch(spark, e,
            Some((a.batchStats, prefixStatsRoot(root))),
            Seq(a.verified -> pairsRoot, a.batchTok -> prefixTokRoot(root)))
      }
      Some((v, a.verified))
    } catch {
      case t: Throwable => a.verified.unpersist(blocking = false); throw t
    } finally a.release()
  }

  /** Measurement/dry-run probe: the N-way prefix merge's RE-SORT term
    * alone — materialize the donors' (id, elem) rows re-sorted under
    * the ADOPTER's frozen element order (exactly the input pass
    * [[mergeManyPrefixIndexes]] pays before its candidate join; prefix
    * is the no-adoption family, so this pass replaces the signature
    * families' file-IO adoption term), commit nothing, return the
    * re-sorted set count. Lets an operator price a planned fan-in's
    * donor-presentation term without running the merge — and lets the
    * scale rehearsal separate it from the candidate term by
    * measurement.
    */
  def prefixResortProbe(spark: SparkSession, root: String,
      donorRoots: Seq[String],
      p: PrefixJaccardParams = PrefixJaccardParams()): Long = {
    // persist before the double consumption (the broadcast-gate count +
    // the probe's own count) — without it the probe re-reads the donor
    // token logs once more than the merge's real input pass, inflating
    // the standalone re-sort term it exists to isolate
    val donorSets = donorRoots.map(readPrefixIndex(spark, _))
      .map(_.select(col("id"), explode(col("toks")).as("elem")))
      .reduce(_.unionAll(_))
      .persist()
    try prefixSortedSets(spark, root, donorSets, p, donorSets.count()).count()
    finally donorSets.unpersist(blocking = false)
  }

  /** Compact a prefix-filter index: token rows verbatim, `prefixstats`
    * pre-aggregated (the frozen df snapshot has nothing to compact).
    */
  def compactPrefixIndex(spark: SparkSession, root: String,
      vacuum: Boolean = true): Unit = {
    compactLog(spark, prefixTokRoot(root), vacuum = vacuum)
    compactLog(spark, prefixStatsRoot(root),
      _.groupBy("band", "bucket").agg(sum(col("n")).as("n")), vacuum)
  }

  /** Purge a prefix-filter index — the [[purgeDedupIndex]] shape:
    * surviving token rows checkpointed, `prefixstats` re-derived exactly
    * from them, tombstones cleared last (frozen df stays — corpus
    * metadata, not per-doc state).
    */
  def purgePrefixIndex(spark: SparkSession, root: String): Unit = {
    purgeLog(spark, root, prefixTokRoot(root))
    val statsRoot = prefixStatsRoot(root)
    VersionedTable.writeCheckpoint(spark,
      bucketStats(bandedOfPrefix(
        VersionedTable.readAllVersions(spark, prefixTokRoot(root)))),
      statsRoot, VersionedTable.versions(spark, statsRoot).last)
    VersionedTable.vacuumCovered(spark, statsRoot)
    clearTombstones(spark, root)
  }

  // ----------------------------------------------------- embedding near-dup

  /** SRP index geometry, FROZEN at bootstrap: signatures stored by one
    * ingest must collide meaningfully with signatures stored by every
    * later one, so the plane count cannot follow the (growing) corpus
    * the way one-shot [[graft.operators.Similarity.srpBitsFor]] does.
    * Size `bitsPerTable` for the corpus the index is EXPECTED to reach
    * (occupancy degrades gracefully — bucket caps bound the damage);
    * re-bitting on growth is a new bootstrap, exactly like IVF
    * re-training.
    */
  final case class SrpParams(
      dim: Int, numTables: Int = 8, bitsPerTable: Int = 8,
      threshold: Double = 0.99, bucketCap: Int = 256, seed: Long = 7L,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit)

  /** Stored embedding-signature rows: (id, p, sig, v) — `p` the bucket
    * rank projection, `sig` the per-table SRP buckets, `v` the vector
    * itself (exact-cosine verification needs it; storing it keeps old
    * source tables out of every future ingest).
    */
  def srpSignatures(embs: DataFrame, idCol: String, vecCol: String,
      p: SrpParams): DataFrame =
    embs.select(col(idCol).as("id"),
      Dedup.srpRankProj(col(vecCol), p.dim, p.seed).as("p"),
      Similarity.srpSignature(col(vecCol), p.dim, p.numTables, p.bitsPerTable, p.seed)
        .as("sig"),
      col(vecCol).as("v"))

  /** Stored SRP signatures as (doc, rk, band, bucket) — band-explode is
    * map-side per side; the index never enters an exchange
    * ([[incrementalBucketCandidates]]: broadcast batch probe +
    * mega-bucket-only shuffle).
    */
  private def bandedOfSrp(sigs: DataFrame): DataFrame = sigs
    .select(col("id").as("doc"), col("p").as("rk"),
      posexplode(col("sig")).as(Seq("band", "bucket")))

  /** All embedding-signature rows indexed so far, minus retracted ids. */
  def readSrpIndex(spark: SparkSession, root: String,
      upTo: Option[Long] = None): DataFrame =
    readLive(spark, root, root, upTo)

  /** Ingest one embedding batch: sign ONLY the batch, find the verified
    * near-dup pairs it adds (batch-internal + batch×index — index×index
    * excluded by [[incrementalBucketCandidates]]), append the batch's
    * signature rows as the next version. Returns (version, pairs (a, b,
    * cos) with a < b), pairs materialized as in [[ingestMinHash]].
    */
  private final case class SrpArtifacts(
      batchSigs: DataFrame, batchStats: DataFrame, verified: DataFrame,
      release: () => Unit)

  private def srpBatchArtifacts(spark: SparkSession, root: String,
      batch: DataFrame, idCol: String, vecCol: String,
      p: SrpParams, excludeEpoch: Option[Long] = None): SrpArtifacts = {
    val batchSigs = srpSignatures(batch, idCol, vecCol, p).persist()
    try {
      val haveIndex = VersionedTable.versions(spark, root).nonEmpty
      val prior = if (haveIndex) Some(readSrpIndex(spark, root)) else None
      val bandedB = bandedOfSrp(batchSigs.select("id", "p", "sig")).persist()
      // persisted: the stats delta otherwise executes twice per ingest
      // (the stats pass + the sidecar write) — see the
      // minHashBatchArtifacts note / JobProfile d56
      val batchStats = bucketStats(bandedB).persist()
      val stats = overCapAndBatchRows(spark, subRoot(root, "bucketstats"),
        batchStats, p.bucketCap, p.broadcastRowLimit, excludeEpoch)
      val cands = incrementalBucketCandidates(
        prior.map(ix => bandedOfSrp(ix.select(col("id"), col("p"), col("sig"))))
          .getOrElse(bandedB.filter(lit(false))),
        bandedB, p.bucketCap, stats.over, stats.batchRows, p.broadcastRowLimit)
      val vecs = prior match {
        case Some(ix) => ix.select(col("id"), col("v"))
          .unionAll(batchSigs.select("id", "v"))
        case None => batchSigs.select("id", "v")
      }
      val verified = gatedPairs(spark, cands, stats, p.broadcastRowLimit)(
        Dedup.cosinePairs(_, vecs, p.threshold, _))
      SrpArtifacts(batchSigs, batchStats, verified, () => {
        batchStats.unpersist(blocking = false)
        bandedB.unpersist(blocking = false)
        batchSigs.unpersist(blocking = false)
      })
    } catch {
      case t: Throwable => batchSigs.unpersist(blocking = false); throw t
    }
  }

  def ingestEmbeddings(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, vecCol: String, p: SrpParams): (Long, DataFrame) = {
    val a = srpBatchArtifacts(spark, root, batch, idCol, vecCol, p)
    try {
      VersionedTable.write(spark, a.batchStats, subRoot(root, "bucketstats")) // stats first (see ingestMinHash)
      val v = VersionedTable.write(spark, a.batchSigs, root)
      (v, a.verified)
    } finally a.release()
  }

  /** Exactly-once streaming embedding ingest — [[ingestMinHashEpoch]]'s
    * protocol over the SRP artifacts (a live embedding feed is the
    * realistic arrival mode for vectors). Returns None on a replayed
    * epoch. SRP geometry is frozen at bootstrap as in [[ingestEmbeddings]].
    */
  def ingestEmbeddingsEpoch(spark: SparkSession, root: String,
      pairsRoot: String, batch: DataFrame, idCol: String, vecCol: String,
      epochId: Long, p: SrpParams): Option[DataFrame] = {
    if (epochCommittedIn(spark, root, epochId)) return None
    val a = srpBatchArtifacts(spark, root, batch, idCol, vecCol, p,
      excludeEpoch = Some(epochId))
    try {
      commitEpoch(spark, epochId,
        Some((a.batchStats, subRoot(root, "bucketstats"))),
        Seq(a.verified -> pairsRoot, a.batchSigs -> root))
      Some(a.verified)
    } catch {
      case t: Throwable => a.verified.unpersist(blocking = false); throw t
    } finally a.release()
  }

  /** Merge an independently-built SRP embedding index into `root` —
    * the [[mergeMinHashIndexes]] shape over the SRP machinery. SOUND
    * ONLY when both shards froze IDENTICAL geometry (same `SrpParams`
    * seed/dim/bits — deterministic in the params, which is how a
    * sharded provisioning constructs them): stored signatures then live
    * in the same bucket space and banding collisions match a one-shot
    * build. Cross pairs verified by exact cosine over the STORED
    * vectors (the SRP log keeps `v` for verification, which is what
    * makes this merge possible from logs alone — IVF/PQ logs keep only
    * assignments/codes, so those families re-ingest instead of
    * merging). Data move is log adoption. Accumulated pairs equal the
    * one-shot over the union (the e25 gate). This is
    * [[mergeManySrpIndexes]] with one donor.
    */
  def mergeSrpIndexes(spark: SparkSession, root: String,
      donorRoot: String, p: SrpParams): (Long, DataFrame) =
    mergeManySrpIndexes(spark, root, Seq(donorRoot), p)

  /** Exactly-once SRP shard merge — the [[mergeMinHashIndexesEpoch]]
    * protocol (tombstones → stats → pairs → signatures, signatures the
    * replay key; orchestrator-owned monotone `epochId`). This is
    * [[mergeManySrpIndexesEpoch]] with one donor.
    */
  def mergeSrpIndexesEpoch(spark: SparkSession, root: String,
      pairsRoot: String, donorRoot: String, epochId: Long,
      p: SrpParams): Option[(Long, DataFrame)] =
    mergeManySrpIndexesEpoch(spark, root, pairsRoot, Seq(donorRoot), epochId, p)

  /** N-WAY SRP shard merge — the [[mergeManyMinHashIndexes]] fan-in
    * over the SRP machinery. SOUND iff every shard froze IDENTICAL
    * `SrpParams` (the binary merge's contract, N-fold): same
    * hyperplanes ⇒ same buckets ⇒ the tagged donor union's candidates
    * are complete; possible from logs alone because the SRP log stores
    * its verify vectors. Gate: d74 == e21's exact cosine oracle with a
    * mod-3 split that puts every perturbed-twin pair cross-shard.
    */
  def mergeManySrpIndexes(spark: SparkSession, root: String,
      donorRoots: Seq[String], p: SrpParams): (Long, DataFrame) =
    mergeBanded(spark, root, donorRoots, srpFamily(p), None).get

  /** Exactly-once N-way SRP merge (one orchestrator-owned epoch id for
    * the whole fan-in step).
    */
  def mergeManySrpIndexesEpoch(spark: SparkSession, root: String,
      pairsRoot: String, donorRoots: Seq[String], epochId: Long,
      p: SrpParams): Option[(Long, DataFrame)] =
    mergeBanded(spark, root, donorRoots, srpFamily(p), Some((epochId, pairsRoot)))

  private[graft] def srpFamily(p: SrpParams) = BandedFamily(
    readSrpIndex(_, _),
    rows => bandedOfSrp(rows.select("id", "p", "sig")),
    (cands, rows, broadcastSides) => Dedup.cosinePairs(cands,
      rows.select("id", "v"), p.threshold, broadcastSides),
    p.bucketCap, p.broadcastRowLimit)

  // ------------------------------------------------------------- SemDeDup

  private[graft] def semCentroidsRoot(root: String) = subRoot(root, "centroids")
  private def semMembersRoot(root: String) = subRoot(root, "members")

  /** Result of one SemDeDup ingest: the committed members version, the
    * batch's (id, cid, kept) verdicts (persisted + materialized; caller
    * unpersists), and `outOfOrderPairs` — verified near-dup pairs whose
    * GREATER id was already indexed. Under the append-ordered-id
    * contract this is always 0; a non-zero count means the source
    * delivered ids out of bookmark order, and those pairs were ignored
    * rather than flipping an already-recorded verdict — the count makes
    * a mis-ordered source loud instead of silently absorbed.
    */
  final case class SemDedupIngest(
      version: Long, verdicts: DataFrame, outOfOrderPairs: Long)

  /** Freeze the centroids and ingest the first batch. */
  def bootstrapSemDedup(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, vecCol: String, centroids: DataFrame,
      threshold: Double, cap: Int = 512,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): SemDedupIngest = {
    VersionedTable.write(spark,
      centroids.select(col("cid"), col("cvec")), semCentroidsRoot(root))
    ingestSemDedup(spark, root, batch, idCol, vecCol, threshold, cap,
      broadcastRowLimit)
  }

  /** Exactly-once SemDeDup bootstrap: the centroid snapshot is written
    * only when ABSENT (caller-provided, so a replay re-presents the
    * identical frame), verdict/member legs ride [[ingestSemDedupEpoch]].
    * Returns None on a fully-replayed epoch.
    */
  def bootstrapSemDedupEpoch(spark: SparkSession, root: String,
      verdictsRoot: String, batch: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, threshold: Double, epochId: Long, cap: Int = 512,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): Option[SemDedupIngest] = {
    if (epochCommittedIn(spark, semMembersRoot(root), epochId)) return None
    if (VersionedTable.versions(spark, semCentroidsRoot(root)).isEmpty)
      VersionedTable.write(spark,
        centroids.select(col("cid"), col("cvec")), semCentroidsRoot(root))
    ingestSemDedupEpoch(spark, root, verdictsRoot, batch, idCol, vecCol,
      threshold, epochId, cap, broadcastRowLimit)
  }

  /** SemDeDup SHARD MERGE — from the member log alone (it stores each
    * doc's vector, which is exactly why this family merges while IVF/PQ
    * cannot: their logs keep only assignments/codes). The donor's
    * members re-assign to the ADOPTER's frozen centroids as one batch
    * and verdicts recompute under the adopter's geometry — the donor's
    * own verdicts do NOT carry over (SemDeDup verdicts are geometry-
    * and order-dependent; they were computed against a different frozen
    * centroid set), so the returned verdicts REPLACE the donor's in the
    * caller's accumulated log. Requires the adopter bootstrapped and
    * DONOR IDS ABOVE every adopter id (the ingest's append-ordered
    * contract — id-RANGE sharding, not hash sharding). The contract is
    * ENFORCED, not just documented: an interleaved-id donor (hash
    * sharding's signature) is rejected up front — before any leg
    * commits — because under interleaved ids the drops-only-against-
    * lower-ids rule silently ignores every pair whose greater id is
    * already indexed; `outOfOrderPairs` would count those only when a
    * near-dup pair actually straddles the violation, so the min/max
    * precheck is the deterministic gate and the count stays as the
    * ingest-path telemetry. Gate: e27 — adopter(b1) + merge(donor built
    * on b2) equals e22's bootstrap+ingest oracle verbatim, because the
    * donor's member log presents exactly b2's (id, v) rows. This is
    * [[mergeManySemDedupIndexes]] with one donor.
    */
  def mergeSemDedupIndexes(spark: SparkSession, root: String,
      donorRoot: String, threshold: Double, cap: Int = 512,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): SemDedupIngest =
    mergeManySemDedupIndexes(spark, root, Seq(donorRoot), threshold, cap,
      broadcastRowLimit)

  /** Exactly-once SemDeDup shard merge — [[ingestSemDedupEpoch]] with
    * the donor's member log playing the batch role (orchestrator-owned
    * monotone `epochId`; parameter order follows the family convention,
    * epochId immediately after donorRoot). Same enforced id-range
    * contract as [[mergeSemDedupIndexes]], checked after the replay
    * guard and before any leg commits. This is
    * [[mergeManySemDedupIndexesEpoch]] with one donor.
    */
  def mergeSemDedupIndexesEpoch(spark: SparkSession, root: String,
      verdictsRoot: String, donorRoot: String, epochId: Long,
      threshold: Double, cap: Int = 512,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): Option[SemDedupIngest] =
    mergeManySemDedupIndexesEpoch(spark, root, verdictsRoot, Seq(donorRoot),
      epochId, threshold, cap, broadcastRowLimit)

  /** N-WAY SemDeDup shard merge — the ORDERED fan-in the id-range
    * contract makes natural: k donors whose ranges are pairwise
    * disjoint and all above the adopter's ids are, concatenated, ONE
    * valid append-ordered batch, because the ingest's drop-against-
    * lower-ids rule covers in-batch pairs symmetrically — donor×donor
    * cross pairs complete inside the single assign + candidate pass. A
    * fold of binary merges re-pays that pass against the GROWING
    * adopter k−1 times (the d69 argument, under a stricter sharding
    * contract). Donor CALLER order is irrelevant: the precheck sorts
    * ranges internally and the one-batch union is order-independent —
    * the contract binds the RANGES, not the Seq (spec-pinned with a
    * shuffled donor Seq). Donor verdicts do not carry over (geometry-
    * dependent, exactly as the binary merge); the returned verdicts
    * replace every donor's in the caller's accumulated log. Gate: e28 —
    * adopter + three range donors, each frozen under its OWN centroid
    * geometry, equals e22's one-shot bootstrap+ingest rule verbatim.
    */
  def mergeManySemDedupIndexes(spark: SparkSession, root: String,
      donorRoots: Seq[String], threshold: Double, cap: Int = 512,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): SemDedupIngest =
    mergeManySemDedupImpl(spark, root, None, donorRoots, None,
      threshold, cap, broadcastRowLimit).get

  /** Exactly-once N-way SemDeDup merge — [[mergeManySemDedupIndexes]]
    * under the epoch protocol: replay guard first (a redelivery after
    * the donor shards were torn down must no-op instead of crashing on
    * a missing member log), then the range precheck, then ONE
    * [[ingestSemDedupEpoch]]. Returns None on a fully-replayed epoch.
    */
  def mergeManySemDedupIndexesEpoch(spark: SparkSession, root: String,
      verdictsRoot: String, donorRoots: Seq[String], epochId: Long,
      threshold: Double, cap: Int = 512,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): Option[SemDedupIngest] =
    mergeManySemDedupImpl(spark, root, Some(verdictsRoot), donorRoots,
      Some(epochId), threshold, cap, broadcastRowLimit)

  private def mergeManySemDedupImpl(spark: SparkSession, root: String,
      verdictsRoot: Option[String], donorRoots: Seq[String],
      epoch: Option[Long], threshold: Double, cap: Int,
      broadcastRowLimit: Long): Option[SemDedupIngest] = {
    require(donorRoots.nonEmpty, "mergeManySemDedupIndexes needs donors")
    if (epoch.exists(e => epochCommittedIn(spark, semMembersRoot(root), e)))
      return None
    val donors = donorRoots.map(r =>
      VersionedTable.readAllVersions(spark, semMembersRoot(r)).select("id", "v"))
    requireIdRangeSharded(spark, root, donors)
    val batch = donors.reduce(_.unionAll(_))
    epoch match {
      case Some(e) => ingestSemDedupEpoch(spark, root, verdictsRoot.get,
        batch, "id", "v", threshold, e, cap, broadcastRowLimit)
      case None => Some(ingestSemDedup(spark, root, batch, "id", "v",
        threshold, cap, broadcastRowLimit))
    }
  }

  /** The SemDeDup merge's id-RANGE precheck, generalized to k donors:
    * every donor id must sit ABOVE every adopter member id, and donor
    * ranges must be pairwise DISJOINT — checked by sorting the donors'
    * (min, max) ranges and requiring each min to exceed the RUNNING max
    * of every earlier range's max (the running max, not the previous
    * row's, catches a range nested inside an earlier, wider one). One
    * tiny job over k+1 column-pruned id scans (the member logs are
    * about to be read in full anyway); comparisons happen IN Spark so
    * any orderable id type works without driver-side type dispatch; the
    * unpartitioned window and the collect hold exactly k donor-count
    * rows. Null mins/maxes (empty sides) read as no-violation — an
    * empty donor is a no-op and an un-bootstrapped adopter has nothing
    * to order against.
    */
  private def requireIdRangeSharded(spark: SparkSession, root: String,
      donors: Seq[DataFrame]): Unit = {
    import org.apache.spark.sql.expressions.Window
    val stats = donors.zipWithIndex.map { case (d, i) =>
      d.agg(min(col("id")).as("lo"), max(col("id")).as("hi"))
        .select(lit(i).as("donor"), col("lo"), col("hi"))
    }.reduce(_.unionAll(_))
    val amaxFrame =
      if (VersionedTable.versions(spark, semMembersRoot(root)).nonEmpty)
        VersionedTable.readAllVersions(spark, semMembersRoot(root))
          .agg(max(col("id")).as("amax"))
      else donors.head.agg(max(col("id")).as("amax")).filter(lit(false))
    val prevHi = max(col("hi")).over(
      Window.orderBy(col("lo")).rowsBetween(Window.unboundedPreceding, -1))
    val flagged = stats.withColumn("prevHi", prevHi)
      .join(amaxFrame, joinExprs = lit(true), joinType = "left")
      .select(col("donor"), col("lo"), col("hi"), col("prevHi"), col("amax"),
        coalesce(col("lo") <= col("amax"), lit(false)).as("belowAdopter"),
        coalesce(col("lo") <= col("prevHi"), lit(false)).as("overlapsDonor"))
      .filter(col("belowAdopter") || col("overlapsDonor"))
      .collect() // ≤ k rows — donor-count-bounded, not data-bounded
    if (flagged.nonEmpty) {
      val detail = flagged.map { r =>
        val cause =
          if (r.getBoolean(5)) s"min id ${r.get(1)} <= adopter max id ${r.get(4)}"
          else s"min id ${r.get(1)} <= an earlier donor's max id ${r.get(3)}"
        s"donor ${r.getInt(0)}: $cause"
      }.mkString("; ")
      throw new IllegalArgumentException(
        "SemDeDup merge requires id-RANGE sharding (donor ranges pairwise " +
          s"disjoint and above every adopter id): $detail. An " +
          "interleaved-id donor (hash sharding) breaks the append-ordered " +
          "contract the drop-against-lower-ids verdicts rest on — re-shard " +
          "by id range, or re-bootstrap the union corpus instead of merging")
    }
  }

  /** Incremental SemDeDup ingest: assign ONLY the batch to the frozen
    * centroids, mark each batch member dropped iff a LOWER-id member of
    * the same cell (indexed or in-batch) sits within `threshold`, and
    * append (id, cid, rk, v) member rows + cell-occupancy stats deltas.
    * Returns (members version, batch verdicts (id, cid, kept)).
    *
    * Requires APPEND-ORDERED ids (each batch's ids above every indexed
    * id — exactly what a bookmark-incremental source delivers): under
    * that order a new member can never flip an already-recorded verdict,
    * because SemDeDup drops only against LOWER ids. Accumulated verdicts
    * then equal the one-shot exact rule while every cell stays ≤ `cap`
    * (the e22 gate); an over-cap cell falls back to the rank-chunk
    * neighborhood (sorted by centroid-similarity — the d47 argument)
    * over CURRENT membership, whose geometry legitimately differs from a
    * one-shot run's. Same exchange discipline as the other ingests: the
    * batch broadcasts, members stream, only over-cap cells shuffle.
    */
  private final case class SemArtifacts(
      members: DataFrame, batchStats: DataFrame, verdicts: DataFrame,
      outOfOrder: Long, release: () => Unit)

  private def semDedupBatchArtifacts(spark: SparkSession, root: String,
      batch: DataFrame, idCol: String, vecCol: String, threshold: Double,
      cap: Int, broadcastRowLimit: Long,
      excludeEpoch: Option[Long] = None): SemArtifacts = {
    val cents = VersionedTable.read(spark, semCentroidsRoot(root))
    // map-only assignment carrying the vector (see assignCellsWithVec):
    // no argmax aggregate exchange, no join-back of the batch by id
    val assigned = Dedup.assignCellsWithVec(batch, idCol, vecCol, cents)
      .select(col("id"), col("cid"), (-col("simc")).as("rk"), col("v"))
      .persist()
    try {
      val membersRoot = semMembersRoot(root)
      val haveIndex = VersionedTable.versions(spark, membersRoot).nonEmpty
      val prior =
        if (haveIndex) Some(VersionedTable.readAllVersions(spark, membersRoot))
        else None
      // cells are buckets with band=0 — the candidate machinery is shared
      def banded(df: DataFrame) = df.select(col("id").as("doc"), col("rk"),
        lit(0).as("band"), col("cid").as("bucket"))
      val bandedB = banded(assigned).persist()
      // persisted: the stats delta otherwise executes twice per ingest
      // (the stats pass + the sidecar write) — see the
      // minHashBatchArtifacts note / JobProfile d56
      val batchStats = bucketStats(bandedB).persist()
      val stats = overCapAndBatchRows(spark, subRoot(root, "cellstats"),
        batchStats, cap, broadcastRowLimit, excludeEpoch)
      // persisted: the pair-dense verify reads the candidates twice
      val cands = incrementalBucketCandidates(
        prior.map(banded).getOrElse(bandedB.filter(lit(false))), bandedB,
        cap, stats.over, stats.batchRows, broadcastRowLimit).persist()
      try {
        // each side tagged with batch membership: the verify pass then
        // carries `bInBatch` per pair, and every post-verify derivation
        // is bounded by the CANDIDATE list — the batch itself is never
        // re-scanned for bookkeeping (it was: the dropped-id join paid
        // one batch-sized scan + broadcast round per ingest)
        val vecs = prior match {
          case Some(ix) => ix.select(col("id"), col("v"))
            .withColumn("inBatch", lit(false))
            .unionAll(assigned.select(col("id"), col("v"))
              .withColumn("inBatch", lit(true)))
          case None => assigned.select(col("id"), col("v"))
            .withColumn("inBatch", lit(true))
        }
        // a < b by construction; b is dropped iff the pair verifies AND b
        // is a batch member (under append order the greater id always is;
        // pairs whose greater id is an INDEXED member — an out-of-order
        // arrival — are ignored rather than flipping an already-recorded
        // verdict, and COUNTED in the result so the mis-ordering is loud)
        // cell candidates are pair-DENSE (every same-cell pair within the
        // cap): the id-bounded pruned-broadcast shape, never the exploded
        // pair-side shuffle
        val verified = Dedup.verifyCosine(cands, vecs, threshold,
          pairDense = true)
        // dropped ids = verified b's that ARE batch members — read
        // straight off the persisted pair list; the batch streams
        // map-side against their (candidate-bounded) broadcast
        val dropped = verified.filter(col("bInBatch"))
          .select(col("b").as("id")).distinct()
        val verdicts = assigned.select("id", "cid")
          .join(broadcast(dropped.withColumn("dup", lit(true))), Seq("id"), "left")
          .select(col("id"), col("cid"),
            coalesce(!col("dup"), lit(true)).as("kept"))
          .persist()
        verdicts.count()
        // out-of-order telemetry: verified pairs whose greater id is an
        // INDEXED member — a filter-count on the tiny persisted pair
        // list (was an anti-join with its own broadcast build)
        val outOfOrder = verified.filter(!col("bInBatch")).count()
        verified.unpersist(blocking = false)
        SemArtifacts(assigned.select("id", "cid", "rk", "v"), batchStats,
          verdicts, outOfOrder, () => {
            batchStats.unpersist(blocking = false)
            bandedB.unpersist(blocking = false)
            assigned.unpersist(blocking = false)
          })
      } finally cands.unpersist(blocking = false)
    } catch {
      case t: Throwable => assigned.unpersist(blocking = false); throw t
    }
  }

  def ingestSemDedup(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, vecCol: String,
      threshold: Double, cap: Int = 512,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): SemDedupIngest = {
    val a = semDedupBatchArtifacts(spark, root, batch, idCol, vecCol,
      threshold, cap, broadcastRowLimit)
    try {
      VersionedTable.write(spark, a.batchStats, subRoot(root, "cellstats")) // stats first (see ingestMinHash)
      val v = VersionedTable.write(spark, a.members, semMembersRoot(root))
      SemDedupIngest(v, a.verdicts, a.outOfOrder)
    } finally a.release()
  }

  /** Exactly-once SemDeDup ingest — [[commitEpoch]] with the batch's
    * VERDICT log playing the pairs role (the [[ingestExactEpoch]]
    * pattern: verdicts are what the caller accumulates). Replay
    * soundness: verdicts, stats and member rows are pure functions of
    * the batch, the FROZEN centroids and the member log BEFORE the
    * epoch — the member leg is the replay key and never committed in
    * any partial window — so a replay recomputes identical artifacts
    * (its over-cap probe pins BELOW its own committed stats leg, see
    * [[commitEpoch]]), skips committed legs and commits the missing
    * suffix. Returns None on a replayed epoch.
    */
  def ingestSemDedupEpoch(spark: SparkSession, root: String,
      verdictsRoot: String, batch: DataFrame, idCol: String, vecCol: String,
      threshold: Double, epochId: Long, cap: Int = 512,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): Option[SemDedupIngest] = {
    if (epochCommittedIn(spark, semMembersRoot(root), epochId)) return None
    val a = semDedupBatchArtifacts(spark, root, batch, idCol, vecCol,
      threshold, cap, broadcastRowLimit, excludeEpoch = Some(epochId))
    try {
      val v = commitEpoch(spark, epochId,
        Some((a.batchStats, subRoot(root, "cellstats"))),
        Seq(a.verdicts -> verdictsRoot, a.members -> semMembersRoot(root)))
      Some(SemDedupIngest(v, a.verdicts, a.outOfOrder))
    } catch {
      case t: Throwable => a.verdicts.unpersist(blocking = false); throw t
    } finally a.release()
  }

  // ------------------------------------------------------------------ IVF

  private def centroidsRoot(root: String) = subRoot(root, "centroids")
  private def assignRoot(root: String) = subRoot(root, "assignments")

  /** Train centroids on the first batch, freeze them (snapshot table),
    * assign the batch (delta-log table). Returns the assignment version.
    */
  def bootstrapIvf(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, vecCol: String, k: Int): Long = {
    val cents = Ivf.train(batch, vecCol, k)
    import spark.implicits._
    val centsDf = cents.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq.toDF("cid", "cvec")
    VersionedTable.write(spark, centsDf, centroidsRoot(root))
    ingestIvf(spark, root, batch, idCol, vecCol)
  }

  /** Exactly-once IVF bootstrap: the centroid snapshot is written only
    * when ABSENT (a replay that crashed after training skips the
    * retrain entirely and assigns under the COMMITTED centroids — so
    * consistency holds even if the trainer were nondeterministic), and
    * the assignment leg rides [[ingestIvfEpoch]]. A replayed unguarded
    * [[bootstrapIvf]] would append duplicate assignment rows; this
    * returns None instead.
    */
  def bootstrapIvfEpoch(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, vecCol: String, k: Int, epochId: Long): Option[Long] = {
    if (epochCommittedIn(spark, assignRoot(root), epochId)) return None
    if (VersionedTable.versions(spark, centroidsRoot(root)).isEmpty) {
      val cents = Ivf.train(batch, vecCol, k)
      import spark.implicits._
      VersionedTable.write(spark, cents.zipWithIndex
        .map { case (v, i) => (i, v.toSeq) }.toSeq.toDF("cid", "cvec"),
        centroidsRoot(root))
    }
    ingestIvfEpoch(spark, root, batch, idCol, vecCol, epochId)
  }

  /** Frozen centroids of a bootstrapped index, cid-ordered. */
  def readIvfCentroids(spark: SparkSession, root: String): Array[Array[Double]] =
    VersionedTable.read(spark, centroidsRoot(root))
      .orderBy("cid").collect()
      .map(_.getSeq[Double](1).toArray)

  /** Assign ONLY the new batch under the frozen centroids and append the
    * (id, cid) rows as the next assignment version. O(batch · k · dim)
    * kernel work + an O(batch) write — nothing rescans indexed vectors.
    */
  def ingestIvf(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, vecCol: String): Long = {
    val cents = readIvfCentroids(spark, root)
    val assigned = batch.select(col(idCol).as("id"),
      Ivf.cellId(col(vecCol), cents).as("cid"))
    VersionedTable.write(spark, assigned, assignRoot(root))
  }

  /** Exactly-once IVF ingest — [[commitEpoch]] with a SINGLE leg (the
    * assignment log; no pair log, no stats sidecar). Replay soundness
    * is immediate: assignment is a pure per-row function of the batch
    * and the FROZEN centroids, so a replay recomputes identical rows
    * and either drops whole (leg committed) or commits them for the
    * first time — there is no partial window at all. Returns the
    * committed assignments version, None on a replayed epoch.
    */
  def ingestIvfEpoch(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, vecCol: String, epochId: Long): Option[Long] = {
    if (epochCommittedIn(spark, assignRoot(root), epochId)) return None
    val cents = readIvfCentroids(spark, root)
    val assigned = batch.select(col(idCol).as("id"),
      Ivf.cellId(col(vecCol), cents).as("cid"))
    Some(commitEpoch(spark, epochId, None, Seq(assigned -> assignRoot(root))))
  }

  /** All (id, cid) assignments ingested so far, minus retracted ids. */
  def readIvfAssignments(spark: SparkSession, root: String,
      upTo: Option[Long] = None): DataFrame =
    readLive(spark, root, assignRoot(root), upTo)

  // ------------------------------------------------------------------- PQ

  private def pqBooksRoot(root: String) = subRoot(root, "codebooks")
  private[graft] def pqCodesRoot(root: String) = subRoot(root, "codes")

  /** Train PQ codebooks on the first batch and FREEZE them (snapshot
    * convention, exactly the IVF-centroid pattern: codes stored by one
    * ingest must decode against the same books as codes stored by every
    * later one), then encode + append the batch. Re-training on drift is
    * a new bootstrap. Returns the codes version.
    */
  def bootstrapPq(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, vecCol: String, dim: Int, m: Int = 8,
      ksub: Int = 16): Long = {
    val books = Pq.train(batch, vecCol, dim, m, ksub)
    import spark.implicits._
    VersionedTable.write(spark,
      Seq((dim, m, ksub, books)).toDF("dim", "m", "ksub", "books"),
      pqBooksRoot(root))
    ingestPq(spark, root, batch, idCol, vecCol)
  }

  /** Exactly-once PQ bootstrap — the [[bootstrapIvfEpoch]] shape:
    * codebooks written only when ABSENT, codes ride [[ingestPqEpoch]].
    * Returns None on a fully-replayed epoch.
    */
  def bootstrapPqEpoch(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, vecCol: String, dim: Int, epochId: Long, m: Int = 8,
      ksub: Int = 16): Option[Long] = {
    if (epochCommittedIn(spark, pqCodesRoot(root), epochId)) return None
    if (VersionedTable.versions(spark, pqBooksRoot(root)).isEmpty) {
      val books = Pq.train(batch, vecCol, dim, m, ksub)
      import spark.implicits._
      VersionedTable.write(spark,
        Seq((dim, m, ksub, books)).toDF("dim", "m", "ksub", "books"),
        pqBooksRoot(root))
    }
    ingestPqEpoch(spark, root, batch, idCol, vecCol, epochId)
  }

  /** Frozen geometry + codebooks of a bootstrapped PQ index. */
  def readPqCodebooks(spark: SparkSession, root: String): (Int, Int, Int, Seq[Double]) = {
    val r = VersionedTable.read(spark, pqBooksRoot(root))
      .select("dim", "m", "ksub", "books").head()
    (r.getInt(0), r.getInt(1), r.getInt(2), r.getSeq[Double](3))
  }

  /** Encode ONLY the new batch under the frozen codebooks and append the
    * (id, codes) rows as the next codes version. O(batch · dim · ksub)
    * kernel work + an O(batch) write — indexed vectors are never
    * re-encoded, and the deterministic per-row kernel makes accumulated
    * codes bit-equal to a one-shot encode of the union (the e23 gate).
    */
  def ingestPq(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, vecCol: String): Long = {
    val (dim, m, ksub, books) = readPqCodebooks(spark, root)
    VersionedTable.write(spark,
      batch.select(col(idCol).as("id"),
        Pq.encode(col(vecCol), books, m, ksub, dim / m).as("codes")),
      pqCodesRoot(root))
  }

  /** Exactly-once PQ ingest — [[commitEpoch]] with a SINGLE leg (the
    * code log). The [[ingestIvfEpoch]] argument verbatim: encoding is a
    * deterministic per-row kernel under the FROZEN codebooks (the e23
    * bit-equality gate), so a replay recomputes identical codes — no
    * partial window exists. Returns the committed codes version, None
    * on a replayed epoch.
    */
  def ingestPqEpoch(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, vecCol: String, epochId: Long): Option[Long] = {
    if (epochCommittedIn(spark, pqCodesRoot(root), epochId)) return None
    val (dim, m, ksub, books) = readPqCodebooks(spark, root)
    val codes = batch.select(col(idCol).as("id"),
      Pq.encode(col(vecCol), books, m, ksub, dim / m).as("codes"))
    Some(commitEpoch(spark, epochId, None, Seq(codes -> pqCodesRoot(root))))
  }

  /** All (id, codes) rows ingested so far, minus retracted ids. */
  def readPqCodes(spark: SparkSession, root: String,
      upTo: Option[Long] = None): DataFrame =
    readLive(spark, root, pqCodesRoot(root), upTo)

  /** PQ top-k over the PERSISTED code index: the ADC scan reads stored
    * codes (nothing re-encodes the corpus — at 100 TB the encode pass is
    * the dominant one-shot cost); `corpus` supplies raw vectors only for
    * the candidate-bounded exact re-rank.
    */
  def pqTopKIndexed(spark: SparkSession, root: String, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      candidates: Int, qIdCol: String = "query_id"): DataFrame = {
    val (dim, m, ksub, books) = readPqCodebooks(spark, root)
    Pq.topKFromCodes(
      readPqCodes(spark, root)
        .select(col("id").as("neighbor_id"), col("codes")),
      corpus, queries, idCol, vecCol, k, books, m, ksub, dim / m,
      candidates, qIdCol)
  }

  /** Compact a PQ index's code log (codebooks are frozen). */
  def compactPqIndex(spark: SparkSession, root: String,
      vacuum: Boolean = true): Unit =
    compactLog(spark, pqCodesRoot(root), vacuum = vacuum)

  // ----------------------------------------------------------- retraction

  private def tombstonesRoot(root: String) = subRoot(root, "tombstones")

  /** Retract documents from an index (takedown / right-to-be-forgotten —
    * the delete every real corpus pipeline eventually needs): append one
    * tombstone version holding the retracted ids. O(ids) write, nothing
    * rewritten; every index read path anti-joins the (small) tombstone
    * log, so retracted docs stop appearing in candidates, verification,
    * assignments, codes and scores from this commit on. Physical removal
    * is [[purgeDedupIndex]]/[[purgeLog]]. Contract notes:
    *
    *  - retracted ids must not be re-ingested — under the bookmark
    *    append-ordered-id contract ids never repeat, so a returning
    *    document gets a new id and this never binds;
    *  - already-emitted pair logs are the CALLER's tables; filter them
    *    with [[retractPairs]] (a retraction retracts the pairs too);
    *  - bucket/cell occupancy stats are NOT decremented: they overcount
    *    retracted members, which is the conservative direction (caps can
    *    only engage early, never miss) — the same argument as the
    *    stats-first crash ordering. [[purgeDedupIndex]] re-derives them
    *    exactly;
    *  - the SemDeDup member log is deliberately NOT retraction-aware:
    *    its verdicts are order-dependent (doc B was dropped BECAUSE of
    *    lower-id doc A), so removing A would require replaying B's
    *    verdict — a rebuild, not a filter. Retract SemDeDup state by
    *    re-bootstrapping the index over the surviving corpus.
    */
  def retract(spark: SparkSession, root: String, ids: DataFrame,
      idCol: String = "id"): Long =
    VersionedTable.write(spark,
      ids.select(col(idCol).as("id")).distinct(), tombstonesRoot(root))

  /** The live rows of the delta log `dataRoot` under the index `root`
    * (optionally up to a version pin): every committed version minus the
    * ids retracted at `root` ([[retract]]). Every family's public reader
    * is this one body.
    */
  private def readLive(spark: SparkSession, root: String, dataRoot: String,
      upTo: Option[Long]): DataFrame =
    applyTombstones(spark, root, VersionedTable.readAllVersions(spark, dataRoot, upTo))

  /** Anti-join `df` against the index's tombstone log (no-op while no
    * retraction has ever been committed). The tombstone side is tiny by
    * construction (retractions are rare events, and [[purgeDedupIndex]]
    * resets the log) — AQE plans the anti-join as a broadcast.
    */
  private def applyTombstones(spark: SparkSession, root: String,
      df: DataFrame, idCol: String = "id"): DataFrame = {
    val tr = tombstonesRoot(root)
    if (VersionedTable.versions(spark, tr).isEmpty) df
    else df.join(VersionedTable.readAllVersions(spark, tr)
      .select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** Drop pairs touching a retracted id from a caller-owned pair log.
    * Column ORDER is preserved (a USING-join moves its key to the front,
    * which would silently swap (a, b) under a later positional union).
    */
  def retractPairs(pairs: DataFrame, ids: DataFrame,
      idCol: String = "id", aCol: String = "a", bCol: String = "b"): DataFrame = {
    val t = ids.select(col(idCol).as("id")).distinct()
    pairs.join(broadcast(t.select(col("id").as(aCol))), Seq(aCol), "left_anti")
      .join(broadcast(t.select(col("id").as(bCol))), Seq(bCol), "left_anti")
      .select(pairs.columns.map(col).toSeq: _*)
  }

  /** Physically remove retracted rows from one delta-log root: write a
    * checkpoint version holding the anti-joined survivors (covering every
    * committed version) and reclaim the covered deltas. Read-equivalent
    * at every step — the tombstones stay active until the caller clears
    * them ([[clearTombstones]]), so a crash mid-purge leaves a filter
    * that no longer matches anything: harmless, never resurrecting.
    */
  def purgeLog(spark: SparkSession, root: String, dataRoot: String,
      idCol: String = "id"): Long = {
    val v = VersionedTable.writeCheckpoint(spark,
      applyTombstones(spark, root,
        VersionedTable.readAllVersions(spark, dataRoot), idCol),
      dataRoot, VersionedTable.versions(spark, dataRoot).last)
    VersionedTable.vacuumCovered(spark, dataRoot)
    v
  }

  /** Reset the tombstone log to empty (an empty checkpoint covering all
    * tombstone versions) — LAST step of a purge, after every data root
    * under `root` has been purged.
    */
  def clearTombstones(spark: SparkSession, root: String): Unit = {
    val tr = tombstonesRoot(root)
    val vs = VersionedTable.versions(spark, tr)
    if (vs.nonEmpty) {
      VersionedTable.writeCheckpoint(spark,
        VersionedTable.readAllVersions(spark, tr).filter(lit(false)),
        tr, vs.last)
      VersionedTable.vacuumCovered(spark, tr)
    }
  }

  /** Purge a MinHash dedup index: checkpoint the surviving signature
    * rows, re-derive the `bucketstats` sidecar EXACTLY from them (one
    * map-only banding pass + a bucket-bounded aggregate — the occupancy
    * overcount retraction left behind disappears), then clear the
    * tombstones. Crash-safe in that order: signatures first (tombstones
    * still filter), stats next (overcounting until then — conservative),
    * tombstones last.
    */
  def purgeDedupIndex(spark: SparkSession, root: String,
      p: MinHashParams = MinHashParams()): Unit = {
    purgeLog(spark, root, root)
    val statsRoot = subRoot(root, "bucketstats")
    VersionedTable.writeCheckpoint(spark,
      bucketStats(bandedOf(
        VersionedTable.readAllVersions(spark, root)
          .select(col("id"), col("sz"), col("sig")), p.numHashes, p.bands)),
      statsRoot, VersionedTable.versions(spark, statsRoot).last)
    VersionedTable.vacuumCovered(spark, statsRoot)
    clearTombstones(spark, root)
  }

  /** Purge an SRP embedding index — same shape as [[purgeDedupIndex]]:
    * surviving signatures checkpointed, `bucketstats` re-derived exactly
    * from them, tombstones cleared last.
    */
  def purgeSrpIndex(spark: SparkSession, root: String): Unit = {
    purgeLog(spark, root, root)
    val statsRoot = subRoot(root, "bucketstats")
    VersionedTable.writeCheckpoint(spark,
      bucketStats(bandedOfSrp(
        VersionedTable.readAllVersions(spark, root).select("id", "p", "sig"))),
      statsRoot, VersionedTable.versions(spark, statsRoot).last)
    VersionedTable.vacuumCovered(spark, statsRoot)
    clearTombstones(spark, root)
  }

  /** Purge a TF-IDF index's weight + norm logs (frozen stats untouched —
    * the IDF snapshot is corpus metadata, not per-doc state).
    */
  def purgeTfidfIndex(spark: SparkSession, root: String): Unit = {
    purgeLog(spark, root, weightsRoot(root))
    purgeLog(spark, root, normsRoot(root))
    clearTombstones(spark, root)
  }

  /** Purge an IVF index's assignment log (centroids frozen). */
  def purgeIvfIndex(spark: SparkSession, root: String): Unit = {
    purgeLog(spark, root, assignRoot(root))
    clearTombstones(spark, root)
  }

  /** Purge a PQ index's code log (codebooks frozen). */
  def purgePqIndex(spark: SparkSession, root: String): Unit = {
    purgeLog(spark, root, pqCodesRoot(root))
    clearTombstones(spark, root)
  }

  // ------------------------------------------------------- sparse TF-IDF

  private def idfStatsRoot(root: String) = subRoot(root, "idfstats")
  private def idfMetaRoot(root: String) = subRoot(root, "idfmeta")
  private[graft] def weightsRoot(root: String) = subRoot(root, "weights")
  private def normsRoot(root: String) = subRoot(root, "norms")

  /** Whitespace tokenization → (id, tk, tf): the d41 kernel, row-local
    * explode then hash aggregate (map-side partial agg absorbs stopword
    * skew — the hottest tokens collapse per map partition).
    */
  private def termFreqs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(expr(
          s"filter(split(lower($textCol), '\\\\s+'), x -> x <> '')")).as("tk"))
      .groupBy("id", "tk").agg(count(lit(1)).as("tf"))

  /** The frozen integer IDF factor K(tk) under corpus count `nn`: `df`
    * may be null (token unseen at bootstrap — smoothing's +1 keeps it
    * defined). K ≥ 1e6 always (df ≤ nn ⇒ the log term ≥ 0), which is
    * what makes stored weights INVERTIBLE: w = tf·K with K > 0, so
    * exact tf recovers by integer division ([[mergeTfidfIndexes]]).
    */
  private def idfFactor(nn: Long): org.apache.spark.sql.Column =
    round((log((lit(nn) + 1).cast("double") /
      (coalesce(col("df"), lit(0L)) + 1)) + 1) * 1e6, 0).cast("long")

  /** d41's integer-exact TF-IDF weight under frozen stats. */
  private def tfidfWeight(nn: Long): org.apache.spark.sql.Column =
    col("tf") * idfFactor(nn)

  /** Bootstrap a sparse TF-IDF index: compute document frequencies and
    * the corpus count over the FIRST batch and FREEZE them (snapshot
    * convention, exactly the IVF-centroid / PQ-codebook pattern: weights
    * stored by one ingest must be comparable with weights stored by
    * every later one, and the IDF term is the cross-document part —
    * refreshing it on vocabulary drift is a new bootstrap). Then weighs
    * and appends the batch. The one-shot d41 pipeline re-tokenizes and
    * re-weighs the FULL corpus every run — its measured sf10 cost center
    * is exactly the corpus-wide weight-table materialization; here that
    * table persists and each ingest appends only its batch's rows.
    * Returns the committed weights version.
    */
  def bootstrapTfidf(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, textCol: String): Long = {
    val tf = termFreqs(batch, idCol, textCol)
    VersionedTable.write(spark,
      tf.groupBy("tk").agg(count(lit(1)).as("df")), idfStatsRoot(root))
    import spark.implicits._
    VersionedTable.write(spark,
      Seq(batch.count()).toDF("nn"), idfMetaRoot(root))
    ingestTfidf(spark, root, batch, idCol, textCol)
  }

  /** Exactly-once TF-IDF bootstrap — closes the last unguarded window:
    * a replayed [[bootstrapTfidf]] appends a SECOND (identical) stats
    * snapshot (benign — snapshot reads take the latest) but re-runs the
    * inner unguarded ingest, DOUBLING batch-1's weight rows and
    * changing scores. Here the frozen-snapshot legs are
    * idempotent-at-rest (written only when ABSENT — a replay that
    * crashed after them skips the write and reads the committed,
    * deterministic-from-the-same-batch content) and the data legs ride
    * [[ingestTfidfEpoch]]. Returns None on a fully-replayed epoch.
    */
  def bootstrapTfidfEpoch(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, textCol: String, epochId: Long,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): Option[Long] = {
    if (epochCommittedIn(spark, weightsRoot(root), epochId)) return None
    if (VersionedTable.versions(spark, idfStatsRoot(root)).isEmpty)
      VersionedTable.write(spark,
        termFreqs(batch, idCol, textCol).groupBy("tk")
          .agg(count(lit(1)).as("df")), idfStatsRoot(root))
    if (VersionedTable.versions(spark, idfMetaRoot(root)).isEmpty) {
      import spark.implicits._
      VersionedTable.write(spark,
        Seq(batch.count()).toDF("nn"), idfMetaRoot(root))
    }
    ingestTfidfEpoch(spark, root, batch, idCol, textCol, epochId,
      broadcastRowLimit)
  }

  /** Frozen corpus count of a bootstrapped TF-IDF index. */
  def readTfidfCorpusCount(spark: SparkSession, root: String): Long =
    VersionedTable.read(spark, idfMetaRoot(root)).head().getLong(0)

  /** Weigh ONLY the new batch under the frozen (df, N) stats and append
    * (id, tk, w) weight rows plus an (id, nrm2) norm sidecar row per doc
    * — maintained index metadata, like `bucketstats`: the scorer reads
    * norms as a per-doc table instead of re-aggregating the full weight
    * log. Exchange discipline matches the candidate path: the
    * vocabulary-sized frozen stats table is PRUNED map-side by a
    * broadcast of the batch's distinct tokens, and the pruned
    * (batch-bounded) slice broadcasts back into the weight join — the
    * frozen stats never enter an exchange while the batch is under
    * `broadcastRowLimit`; past it (bootstrap/backfill) both joins fall
    * back to plain shuffles. Unseen tokens take df=0 (the +1-smoothed
    * IDF stays defined and deterministic). O(batch text) kernel work +
    * O(batch) writes; indexed docs are never re-tokenized.
    */
  private final case class TfidfArtifacts(
      norms: DataFrame, weights: DataFrame, release: () => Unit)

  private def tfidfBatchArtifacts(spark: SparkSession, root: String,
      batch: DataFrame, idCol: String, textCol: String,
      broadcastRowLimit: Long): TfidfArtifacts = {
    val nn = readTfidfCorpusCount(spark, root)
    val tf = termFreqs(batch, idCol, textCol).persist()
    try {
      val batchRows = tf.count() // materializes; drives the broadcast gate
      val hintB: DataFrame => DataFrame =
        if (batchRows <= broadcastRowLimit) df => broadcast(df) else identity
      val dfPruned = VersionedTable.read(spark, idfStatsRoot(root))
        .join(hintB(tf.select("tk").distinct()), "tk")
      val weighted = tf.join(hintB(dfPruned), Seq("tk"), "left")
        .select(col("id"), col("tk"), tfidfWeight(nn).as("w"))
        .persist()
      weighted.count()
      // Both logs are CLUSTERED by id within partitions before the
      // write (no extra shuffle): each parquet row group then covers a
      // narrow id range, so a probe predicate prunes to a handful of
      // row groups via min/max stats instead of scanning the full log —
      // measured 1.8× on the 100× scoring pass, 52.1→28.9 s (the
      // hash-shuffled layout spread every id range across every row
      // group, defeating pushdown)
      TfidfArtifacts(
        weighted.groupBy("id").agg(sum(col("w") * col("w")).as("nrm2"))
          .sortWithinPartitions("id"),
        weighted.sortWithinPartitions("id"),
        () => {
          weighted.unpersist(blocking = false)
          tf.unpersist(blocking = false)
        })
    } catch {
      case t: Throwable => tf.unpersist(blocking = false); throw t
    }
  }

  def ingestTfidf(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, textCol: String,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): Long = {
    val a = tfidfBatchArtifacts(spark, root, batch, idCol, textCol,
      broadcastRowLimit)
    try {
      // norms first: the crash-conservative ordering (a norm row whose
      // weight rows are lost scores nothing — the doc has no weight
      // rows to dot against; the reverse order could score a doc with
      // a missing norm as an error)
      VersionedTable.write(spark, a.norms, normsRoot(root))
      VersionedTable.write(spark, a.weights, weightsRoot(root))
    } finally a.release()
  }

  /** Exactly-once TF-IDF ingest — the [[commitEpoch]] protocol with TWO
    * ordered data legs, norms then weights, replay keyed on the WEIGHTS
    * root. Why TF-IDF needed a guard most urgently: the scorer unions
    * ALL weight versions, so a replayed at-least-once batch is a
    * CORRECTNESS bug, not hygiene — doubled (id, tk, w) rows double
    * dot-products and duplicate (id, nrm2) rows fan out the norms join;
    * scores CHANGE. Crash windows, replaying epoch E: before any write
    * → clean re-run; after the norms leg, before weights → the
    * partially-indexed docs score NOTHING (no weight rows to dot
    * against — the same conservative direction as the batch path's
    * norms-first ordering), and the replay recomputes IDENTICAL
    * artifacts (weights are a pure function of the batch and the FROZEN
    * (df, N) snapshot — nothing the crashed run committed feeds the
    * recompute), skips the committed norms leg, commits weights; after
    * the weights leg → the whole replay drops. No window double-appends
    * either log. Returns the committed weights version, None on a
    * replayed epoch.
    */
  def ingestTfidfEpoch(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, textCol: String, epochId: Long,
      broadcastRowLimit: Long = DefaultBroadcastRowLimit): Option[Long] = {
    if (epochCommittedIn(spark, weightsRoot(root), epochId)) return None
    val a = tfidfBatchArtifacts(spark, root, batch, idCol, textCol,
      broadcastRowLimit)
    try {
      Some(commitEpoch(spark, epochId, None,
        Seq(a.norms -> normsRoot(root), a.weights -> weightsRoot(root))))
    } finally a.release()
  }

  /** All (id, tk, w) weight rows ingested so far, minus retracted ids. */
  def readTfidfWeights(spark: SparkSession, root: String,
      upTo: Option[Long] = None): DataFrame =
    readLive(spark, root, weightsRoot(root), upTo)

  /** All (id, nrm2) norm rows ingested so far (one per indexed doc),
    * minus retracted ids.
    */
  def readTfidfNorms(spark: SparkSession, root: String,
      upTo: Option[Long] = None): DataFrame =
    readLive(spark, root, normsRoot(root), upTo)

  /** Sparse cosine scores from the PERSISTED weight log: pairs (ia, ib,
    * dot, cos) with ia < ib, `ia` drawn from the probe rows selected by
    * `probe` and cos ≥ `minCos` — the d41 scoring shape with the corpus
    * tokenize+weigh pass replaced by a columnar read of the index
    * (nothing re-reads indexed TEXT; at 100 TB the tokenize/weigh pass
    * is the dominant one-shot cost, measured as d41's sf10 cost center).
    * Probe rows broadcast (probe-bounded); the weight log streams
    * map-side through the shared-token join and the (ia, ib) partial
    * aggregation — it never shuffles by token (the stopword-skew
    * magnet); norms arrive from the maintained per-doc sidecar.
    */
  def sparseCosineIndexed(spark: SparkSession, root: String,
      probe: org.apache.spark.sql.Column, minCos: Double): DataFrame = {
    val w = readTfidfWeights(spark, root)
    val norms = readTfidfNorms(spark, root)
    val probes = broadcast(w.filter(probe)
      .select(col("id").as("ia"), col("tk"), col("w").as("wa")))
    w.select(col("id").as("ib"), col("tk"), col("w").as("wb"))
      .join(probes, "tk")
      .filter(col("ia") < col("ib"))
      .groupBy("ia", "ib").agg(sum(col("wa") * col("wb")).as("dot"))
      .join(norms.select(col("id").as("ia"), col("nrm2").as("na")), "ia")
      .join(norms.select(col("id").as("ib"), col("nrm2").as("nb")), "ib")
      .withColumn("cos", round(col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6))
      .filter(col("cos") >= minCos)
      .select(col("ia"), col("ib"), col("dot"), col("cos"))
  }

  /** Compact a TF-IDF index's weight + norm logs (rows verbatim — each
    * doc lives in exactly one batch, so union-read is already per-doc
    * unique; the idf stats are a frozen snapshot, nothing to compact).
    */
  def compactTfidfIndex(spark: SparkSession, root: String,
      vacuum: Boolean = true): Unit = {
    compactLog(spark, weightsRoot(root), vacuum = vacuum)
    compactLog(spark, normsRoot(root), vacuum = vacuum)
  }

  /** Merge INDEPENDENTLY-BOOTSTRAPPED TF-IDF shard indexes into a fresh
    * `mergedRoot` — the SCORING-family face of shard merge, and the one
    * merge that RE-WEIGHTS instead of adopting files: each shard froze
    * its own (df, N), so stored weights are not portable across shards
    * the way signatures are. They are, however, INVERTIBLE: every
    * stored weight is w = tf · K_s(tk) with the shard's frozen integer
    * factor K_s ≥ 1e6 ([[idfFactor]]) recomputable from its persisted
    * stats snapshot, so exact integer term frequencies recover from the
    * LOGS ALONE by division — no text re-read, no re-tokenize (at
    * 100 TB the tokenize pass is the dominant cost, measured as d41's
    * sf10 cost center; the weight log is orders of magnitude smaller
    * than the text). Shards hold DISJOINT doc sets, so document
    * frequencies ADD (df_m = Σ df_s over the union vocabulary) and so
    * do corpus counts (N_m = Σ N_s); re-weighting the recovered tf
    * under (df_m, N_m) is then EXACTLY what a one-shot bootstrap over
    * the union of the shards' bootstrap sets would store — integer
    * arithmetic identical, the d68 gate pins it against d41's
    * corpus-frozen oracle. More generally (spec-pinned): a merged index
    * whose shards also ran post-bootstrap ingests equals the one-shot
    * index bootstrapped on the UNION of the shards' bootstrap sets and
    * then ingesting the rest in any order — weights are pure functions
    * of (tf, frozen stats), never of arrival order.
    *
    * Scale shape: one shuffle-by-token join of the recovered tf rows
    * against the merged (vocabulary-sized) stats — a bootstrap-scale
    * re-weight pass, the honest cost of changing every row's frozen
    * geometry (this is why the merge writes a FRESH root instead of
    * adopting: no stored byte survives re-weighting). Norms re-derive
    * per doc from the merged weights; both logs cluster by id at write
    * (the row-group-pruning layout the scorer's probe depends on —
    * measured 1.8× on the 100× scoring pass). Shard tombstones do NOT
    * travel: recovery reads the tombstone-FILTERED weight logs, so
    * retracted docs simply never enter the merged index (their
    * contribution to the shard's frozen df stays, matching the
    * frozen-snapshot convention on retraction). Returns the committed
    * weights version of the merged index, which ingests onward exactly
    * like a one-shot-bootstrapped one.
    *
    * Replay semantics (why there is no `*Epoch` variant): the merge
    * writes a FRESH root guarded by the emptiness require below, so a
    * re-delivered merge step fails LOUD on the partial output instead
    * of double-appending — and because nothing reads `mergedRoot` until
    * the caller publishes it, delete-and-retry is idempotent. The
    * adoption families need the epoch protocol precisely because they
    * mutate a LIVE root.
    *
    * This IS the family's N-WAY fan-in — `shardRoots` takes any k ≥ 2
    * and the cost does not fold: the merged (df, N) sum over all k
    * shards in one vocabulary-keyed aggregate, recovery unions k weight
    * logs, and the re-weight pass — the dominant term — runs ONCE over
    * the union, regardless of k. A fold of binary merges
    * (merge(s0,s1) → m1; merge(m1,s2) → m2; …) is semantically
    * identical (weights are pure functions of (tf, summed stats), so
    * intermediate frozen geometries cancel — spec-pinned bit-exact) but
    * pays k−1 re-weight passes over GROWING unions and writes k−1
    * discarded roots: Θ(k·corpus) against the one-pass Θ(corpus). Gate:
    * d76 — three mod-3 shards fanned in at once score exactly like
    * d41's one-shot full-corpus bootstrap.
    */
  def mergeTfidfIndexes(spark: SparkSession, mergedRoot: String,
      shardRoots: Seq[String]): Long = {
    require(shardRoots.size >= 2,
      s"mergeTfidfIndexes needs at least two shards, got ${shardRoots.size}")
    require(VersionedTable.versions(spark, weightsRoot(mergedRoot)).isEmpty &&
      VersionedTable.versions(spark, idfStatsRoot(mergedRoot)).isEmpty,
      s"mergedRoot $mergedRoot must be fresh: the merge re-weights every " +
        "row under new frozen stats, so it cannot append to an existing log")
    // merged frozen stats: disjoint doc shards ⇒ df and N both ADD
    val dfM = shardRoots
      .map(r => VersionedTable.read(spark, idfStatsRoot(r)))
      .reduce(_.unionAll(_))
      .groupBy("tk").agg(sum("df").as("df"))
      .persist()
    try {
      val nM = shardRoots.map(r => readTfidfCorpusCount(spark, r)).sum
      VersionedTable.write(spark, dfM, idfStatsRoot(mergedRoot))
      import spark.implicits._
      VersionedTable.write(spark, Seq(nM).toDF("nn"), idfMetaRoot(mergedRoot))
      // exact tf recovery per shard: w = tf·K_s(tk), K_s ≥ 1e6, so
      // `w div K_s` is exact integer division (tokens absent from the
      // shard's frozen stats took df=0 at ingest — the same coalesce
      // reproduces the same K_s here)
      val tf = shardRoots.map { r =>
        val nS = readTfidfCorpusCount(spark, r)
        readTfidfWeights(spark, r)
          .join(VersionedTable.read(spark, idfStatsRoot(r)), Seq("tk"), "left")
          .withColumn("kf", idfFactor(nS))
          .selectExpr("id", "tk", "w div kf AS tf")
      }.reduce(_.unionAll(_))
      val weighted = tf
        .join(dfM, Seq("tk"), "left")
        .select(col("id"), col("tk"), tfidfWeight(nM).as("w"))
        .persist()
      try {
        weighted.count()
        // norms first — the ingest path's crash-conservative ordering
        VersionedTable.write(spark,
          weighted.groupBy("id").agg(sum(col("w") * col("w")).as("nrm2"))
            .sortWithinPartitions("id"), normsRoot(mergedRoot))
        VersionedTable.write(spark,
          weighted.sortWithinPartitions("id"), weightsRoot(mergedRoot))
      } finally weighted.unpersist(blocking = false)
    } finally dfM.unpersist(blocking = false)
  }

  // ---------------------------------------------------------- compaction

  /** Auto-compaction trigger — the rowlog `retain` lesson applied to the
    * index logs: fire the family's compactor when the PRIMARY log holds
    * `every` committed versions (compaction resets the count to one
    * checkpoint), so N daily ingests keep a BOUNDED version count
    * without an operator remembering to call `compact*Index` — the
    * "many_ingests" measurement (per-ingest 1.37→2.52 s compacted vs
    * 1.66→3.89 s not) stops depending on operational discipline.
    * `every = 0` disables (the default everywhere); otherwise ≥ 2.
    * Wired into the MinHash ingests via
    * [[MinHashParams.autoCompactEvery]]; every other family composes it
    * directly: `autoCompactAt(spark, subRoot(root, "tokens"), 10)(
    * compactPrefixIndex(spark, root))`. Returns whether a compaction
    * fired. Epoch-guarded roots stay replay-safe across the fire — the
    * `_epoch-hwm` witness survives the vacuumed marker versions
    * (spec-pinned in IncrementalIndexSpec).
    */
  def autoCompactAt(spark: SparkSession, primaryRoot: String, every: Int)(
      compactor: => Unit): Boolean = {
    if (every == 0) return false
    require(every >= 2,
      s"autoCompactEvery must be >= 2 (or 0 to disable), got $every")
    if (VersionedTable.versions(spark, primaryRoot).size >= every) {
      compactor; true
    } else false
  }

  /** Compact one delta-log root: write a single checkpoint version
    * holding `transform(union of all committed versions)` and reclaim
    * the covered versions. Union-read semantics are preserved exactly
    * ([[VersionedTable.readAllVersions]] plans checkpoint + later
    * deltas); pinned reads at PRE-compaction versions keep working until
    * `vacuum` (pass false to retain them for time travel) and fail fast
    * after. `transform` must be read-equivalent for the root's consumers
    * — identity for signature/member/assignment tables, the occupancy
    * re-aggregate for stats sidecars (sum of sums = sum).
    */
  def compactLog(spark: SparkSession, root: String,
      transform: DataFrame => DataFrame = identity,
      vacuum: Boolean = true): Long = {
    val vs = VersionedTable.versions(spark, root)
    require(vs.nonEmpty, s"nothing to compact at $root")
    val upTo = vs.last
    val v = VersionedTable.writeCheckpoint(spark,
      transform(VersionedTable.readAllVersions(spark, root, Some(upTo))),
      root, upTo)
    if (vacuum) VersionedTable.vacuumCovered(spark, root)
    v
  }

  /** Compact a MinHash or SRP signature index: one checkpoint for the
    * signature table (rows verbatim) and one for the `bucketstats`
    * sidecar, PRE-AGGREGATED — the per-ingest over-cap probe then reads
    * one (band, bucket, n) row per bucket instead of re-summing every
    * delta ever written (the O(ingests) term this call exists to kill;
    * N daily ingests otherwise mean N tiny parquet versions forever).
    */
  def compactDedupIndex(spark: SparkSession, root: String,
      vacuum: Boolean = true): Unit = {
    compactLog(spark, root, vacuum = vacuum)
    compactLog(spark, subRoot(root, "bucketstats"),
      _.groupBy("band", "bucket").agg(sum(col("n")).as("n")), vacuum)
  }

  /** Compact a SemDeDup index: member rows verbatim, `cellstats`
    * pre-aggregated. Centroids are a frozen snapshot — nothing to
    * compact there.
    */
  def compactSemDedupIndex(spark: SparkSession, root: String,
      vacuum: Boolean = true): Unit = {
    compactLog(spark, semMembersRoot(root), vacuum = vacuum)
    compactLog(spark, subRoot(root, "cellstats"),
      _.groupBy("band", "bucket").agg(sum(col("n")).as("n")), vacuum)
  }

  /** Compact an IVF index's assignment log (centroids are frozen). */
  def compactIvfIndex(spark: SparkSession, root: String,
      vacuum: Boolean = true): Unit =
    compactLog(spark, assignRoot(root), vacuum = vacuum)
}
