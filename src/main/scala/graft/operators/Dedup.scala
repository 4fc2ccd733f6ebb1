package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines (north-star surface).
  *
  * Scale design notes (the point of each choice at 100 TB):
  *  - exact dedup: one hash-aggregate on a 32-byte fingerprint — the
  *    shuffle moves (fingerprint, doc_id), never the text.
  *  - MinHash / SimHash signatures: a signature is a pure function of
  *    one document's shingle-hash set, so it is computed ROW-LOCALLY by
  *    the [[graft.functions.MinHashSignature]] /
  *    [[graft.functions.SimHashSignature]] expressions (one primitive
  *    JVM loop per doc; no explode, no aggregation state, no shuffle).
  *    The single-buffer TypedImperativeAggregates
  *    ([[graft.functions.MinHashAggregate]] / SimHashAggregate) remain
  *    for pre-exploded inputs (SQL surface, streaming shingle feeds) —
  *    both formulations are bit-identical, parity spec-pinned.
  *  - LSH candidate generation explodes only (band, bucket, doc_id) and
  *    joins bucket-locally, so the quadratic all-pairs comparison never
  *    materializes; only bucket-colliding pairs are verified exactly.
  *  - SimHash banding uses the pigeonhole principle over 4×16-bit blocks
  *    (hamming ≤ 3 ⇒ at least one block equal).
  *  - clustering: iterative min-label propagation over the pair list —
  *    pure DataFrame joins; near-dup clusters have tiny diameters so a
  *    few rounds converge.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** One row per distinct normalized fingerprint: the kept (minimum) id and
    * the duplicate count. Equivalent SQL: GROUP BY md5(normalized text).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  // ------------------------------------------------------------- MinHash

  /** Distinct shingle hashes per doc, via the single-pass
    * [[graft.functions.ShingleHashes]] expression (the HOF shingle-array
    * formulation was the most expensive stage of the pipeline).
    */
  def shingleHashes(df: DataFrame, textCol: String, shingleN: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.ShingleHashes(
      ColumnBridge.expression(col(textCol)), shingleN))
  }

  /** The `bands` LSH band keys (array<bigint>) of the `sig` column's
    * MinHash signatures, `numHashes / bands` rows per band: the values
    * of `xxhash64` over each band's `element_at` columns, computed in one
    * loop ([[graft.functions.MinHashBands]]).
    */
  def minHashBands(numHashes: Int, bands: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.MinHashBands(
      ColumnBridge.expression(col("sig")), bands, numHashes / bands))
  }

  /** (id, shingle-hash) rows: one per (doc, distinct shingle). The
    * aggregation base of both signature kinds.
    */
  private def explodedShingleHashes(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    docs.select(col(idCol), explode(shingleHashes(docs, textCol, shingleN)).as("_x"))

  /** MinHash signatures as (id, sig: array<bigint>): per doc,
    * min((a_i * x32 + b_i) mod p) over shingle hashes — a single
    * [[graft.functions.MinHashAggregate]] buffer (one primitive loop per
    * row) instead of `numHashes` independent aggregate columns, with
    * map-side partial aggregation.
    */
  def minHashSignatures(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleN: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val agg = ColumnBridge.column(
      graft.functions.MinHashAggregate(
        ColumnBridge.expression(col("_x")), numHashes, seed).toAggregateExpression())
    explodedShingleHashes(docs, idCol, textCol, shingleN)
      .groupBy(col(idCol))
      .agg(agg.as("sig"))
  }

  /** Candidate pairs from LSH banding: docs sharing any band-bucket, where
    * a band's bucket is the hash of its `numHashes/bands` signature
    * slots. Emits (a, b) with a < b, deduplicated.
    *
    * `bucketCap` (with `rankBy`, a per-doc ordering column) HARD-bounds
    * the per-(band, bucket) pairwise term exactly like
    * [[embeddingNearDupLsh]]: a bucket with ≤ cap members compares all
    * pairs (the original semantics — sub-cap buckets join on a single
    * chunk key 0, which IS the plain bucket join); an oversized bucket
    * ranks its members by (`rankBy`, doc), cuts the ranking into chunks
    * of `cap`, and compares only same-or-adjacent chunks — O(n · cap)
    * instead of O(n²), the boilerplate-mega-bucket insurance. With
    * `rankBy` = shingle-set size the loss mode is benign: a true pair at
    * Jaccard ≥ t has |A|/|B| within [t, 1/t], so the Ω(cap) crowd that
    * could separate it inside a shared bucket consists of docs whose
    * sizes interpolate between the pair's — in a mega-bucket (shared
    * exact band signature) those are themselves near-dups, and
    * chunk-adjacency keeps the whole cluster CONNECTED as a rank chain,
    * so downstream clustering ([[clusters]]) sees the same components.
    */
  def lshCandidates(
      sigs: DataFrame, idCol: String, numHashes: Int, bands: Int,
      bucketCap: Int = Int.MaxValue, rankBy: Column = lit(0L)): DataFrame = {
    // NOTE: incremental index maintenance does NOT reuse this one-shot
    // path — [[graft.operators.IncrementalIndex]] has its own candidate
    // formulation in which the persisted index never enters an exchange
    // (broadcast-batch probe; mega-bucket-only shuffle).
    import org.apache.spark.sql.expressions.Window
    val r = numHashes / bands
    require(r * bands == numHashes, s"bands=$bands must divide numHashes=$numHashes")
    require(bucketCap > 0, s"bucketCap must be positive, got $bucketCap")
    val bandHashes = minHashBands(numHashes, bands)
    if (bucketCap == Int.MaxValue) {
      // uncapped fast path: no windows, single equi-join on (band, bucket)
      val banded = sigs.select(col(idCol).as("doc"), posexplode(bandHashes))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      banded.as("l").join(banded.as("r"),
          col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
            col("l.doc") < col("r.doc"))
        .select(col("l.doc").as("a"), col("r.doc").as("b"))
        .distinct()
    } else {
      // Two-phase occupancy split behind ONE exchange. The banded rows
      // shuffle by (band, bucket) exactly once — an explicit repartition
      // whose subtree is canonically identical in every consumer, so
      // exchange reuse computes it once; the occupancy aggregate, the
      // sub-cap self-join, the over-cap rank window and the chunk join
      // are all keyed by (band, bucket) (or a superset) and plan ZERO
      // further exchanges on top of it — only the output distinct
      // shuffles again. The previous shape re-derived banded+occupancy
      // per branch: the occupancy aggregate (+ its own exchange)
      // executed 3-4x, the band-hash kernel 6-8x, and at demo sizes AQE
      // broadcast the whole sub-cap side — a join choice that inverts
      // to an OOM at corpus scale. The one shuffle carries
      // (doc, rk, band, bucket) proxy rows, never payloads (guide §8).
      // The over-cap list stays hint-free: co-partitioned it joins
      // exchange-free, and a pathological corpus degrades to a shuffle
      // instead of OOMing the driver. Callers on the capped path should
      // still pass a persisted `sigs` frame (minHashLsh does) so the
      // signature kernel runs once into the exchange.
      val banded = sigs
        .select(col(idCol).as("doc"), rankBy.as("rk"), posexplode(bandHashes))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
        .repartition(col("band"), col("bucket"))
        // materialize the exchange ONCE: the consumers prune different
        // column sets, so their exchange subtrees canonicalize
        // differently and AQE's reuse never fires — measured, the same
        // 64-task explode+shuffle map executed EIGHT times per candidate
        // pass. The checkpointed blocks keep the (band, bucket)
        // partitioning; ContextCleaner releases them with the DataFrame
        .localCheckpoint()
      val over = banded.groupBy("band", "bucket")
        .agg(count(lit(1)).as("occ")).filter(col("occ") > bucketCap)
      val flagged = banded.join(over, Seq("band", "bucket"), "left")
      val normal = flagged.filter(col("occ").isNull)
      val normalPairs = normal.as("l").join(normal.as("r"),
          col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
            col("l.doc") < col("r.doc"))
        .select(col("l.doc").as("a"), col("r.doc").as("b"))
      // oversized-bucket rows rank by (rk, doc), chunk by cap, emit at
      // {chunk, chunk+1}; k == greatest(lc, rc) admits each |Δchunk| ≤ 1
      // pair exactly once (the semDedup scheme) — O(n · cap) per bucket.
      val big = flagged.filter(col("occ").isNotNull)
        .withColumn("chunk", floor(
          (row_number().over(Window.partitionBy("band", "bucket")
            .orderBy("rk", "doc")) - 1) / lit(bucketCap.toLong)))
      def keyed(side: String) = big
        .select(col("doc").as(s"${side}_doc"), col("band"), col("bucket"),
          col("chunk").as(s"${side}_c"),
          explode(array(col("chunk"), col("chunk") + 1)).as("k"))
      val bigPairs = keyed("l").join(keyed("r"), Seq("band", "bucket", "k"))
        .filter(col("k") === greatest(col("l_c"), col("r_c")) &&
          col("l_doc") < col("r_doc"))
        .select(col("l_doc").as("a"), col("r_doc").as("b"))
      // a bucket is entirely sub-cap or entirely over-cap, so no pair can
      // appear in both branches for the same bucket; distinct dedups
      // multi-bucket collisions exactly as the uncapped path does.
      normalPairs.union(bigPairs).distinct()
    }
  }

  /** Exact-Jaccard verification of a candidate pair list: returns the
    * pairs at jaccard ≥ `minJaccard`, PERSISTED and MATERIALIZED (caller
    * unpersists). Exchange discipline: the pair list explodes into
    * (a, b, side, id) rows that broadcast INTO one scan of `shingled`,
    * and each pair's two arrays re-pair through a pair-bounded aggregate
    * — the wide arrays never ride a hash shuffle keyed by id, and the
    * corpus/index frame is scanned exactly once.
    */
  def verifyJaccard(
      candidates: DataFrame, shingled: DataFrame, idCol: String,
      shCol: String, minJaccard: Double): DataFrame =
    persisted(jaccardPairs(candidates, shingled, idCol, shCol, minJaccard,
      broadcastSides = true))

  /** Persist `df` and materialize it with one action; the caller
    * unpersists.
    */
  private[operators] def persisted(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }

  /** [[verifyJaccard]]'s pairs, unmaterialized — the incremental indexes
    * materialize them themselves (`IncrementalIndex.gatedPairs`).
    *
    * `broadcastSides` is the caller's verdict that the exploded side list
    * (2 rows per candidate pair — pair-count-sized, not batch-sized) fits
    * the driver's broadcast budget; the incremental indexes take it from
    * `IncrementalIndex.gatedPairs`. False drops the
    * hint for a plain id shuffle join — same rows, one exchange over the
    * scan.
    */
  private[operators] def jaccardPairs(
      candidates: DataFrame, shingled: DataFrame, idCol: String,
      shCol: String, minJaccard: Double, broadcastSides: Boolean): DataFrame = {
    // ONE corpus/index scan (the per-side prune form scanned it twice —
    // once under each side's broadcast); the re-pair aggregate holds
    // exactly 2 rows per pair. Near-dup collision candidates are sparse
    // by construction (delete-list-sized sub-cap, O(n·cap)
    // capped), so the per-pair-side array shuffle stays small — measured
    // 40-50% faster than both the two-scan form and a persisted
    // union-ids prune on d2/d54/d59. (Dense cell-candidate generators —
    // SemDeDup — must NOT use this shape: see verifyCosine's pairDense.)
    //
    // broadcastSides = false: a bootstrap/backfill/adversarial-clique
    // batch makes the pair list itself driver-budget-sized — the r14
    // 100× rehearsal's SimHash shard bootstrap collected >1 GiB building
    // this broadcast and died at spark.driver.maxResultSize; in that
    // regime the id shuffle is the honest one-shot cost.
    val sides = pairSides(candidates)
    val hint: DataFrame => DataFrame =
      if (broadcastSides) df => broadcast(df) else identity
    shingled.select(col(idCol).as("id"), col(shCol).as("sh"))
      .join(hint(sides), "id")
      .groupBy("a", "b")
      .agg(
        first(when(col("isA"), col("sh")), ignoreNulls = true).as("sh_a"),
        first(when(!col("isA"), col("sh")), ignoreNulls = true).as("sh_b"))
      .filter(col("sh_a").isNotNull && col("sh_b").isNotNull)
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .select(col("a"), col("b"), (col("inter") / col("uni")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → signature → banded
    * candidates → exact-Jaccard filter ≥ `threshold`. Returns verified
    * pairs (a < b, jaccard), MATERIALIZED and persisted — the pair list is
    * tiny by construction (it becomes a delete list), and eager evaluation
    * lets the expensive shingle-hash cache be released before returning.
    * Callers that are done with the pairs may `unpersist()` them.
    */
  def minHashLsh(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 32, shingleN: Int = 3,
      threshold: Double = 0.8, bucketCap: Int = 1024): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // hash shingles ONCE (single-pass expression); signatures aggregate
    // the exploded hashes, verify intersects the hash sets — the shingle
    // STRINGS never materialize
    val hashed = docs.select(col(idCol),
      shingleHashes(docs, textCol, shingleN).as("hs")).persist()
    try {
      // row-local signatures: MinHash is a pure function of one doc's
      // shingle-hash set, so no explode / aggregation state / shuffle —
      // identical output to the MinHashAggregate formulation (parity
      // spec-pinned in NorthStarSpec). `sz` (shingle count) is the
      // rank key the bucket cap chunks oversized buckets by: a true
      // pair at J ≥ t has size ratio within [t, 1/t], so rank-distance
      // inside a mega-bucket tracks real dissimilarity. The capped
      // candidate path scans sigs three times (occupancy agg + two join
      // branches) — persist so the signature kernel runs once.
      val sigs = hashed.select(col(idCol), ColumnBridge.column(
        graft.functions.MinHashSignature(
          ColumnBridge.expression(col("hs")), numHashes, 42L)).as("sig"),
        size(col("hs")).cast("long").as("sz")).persist()
      // the candidate list is referenced three times by the verify join
      // (pair list + the two id-prune sides) — cache it
      val cands = lshCandidates(sigs, idCol, numHashes, bands,
        bucketCap, col("sz")).persist()
      try {
        // persisted + materialized inside (while the shingle cache is hot)
        verifyJaccard(cands, hashed, idCol, "hs", threshold)
      } finally {
        cands.unpersist(blocking = false)
        sigs.unpersist(blocking = false)
      }
    } finally hashed.unpersist(blocking = false)
  }

  /** Brute-force n-gram Jaccard over all pairs — the small-data oracle twin
    * of `minHashLsh` (quadratic; only for validation and bounded subsets).
    */
  def ngramJaccardAllPairs(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol), shingleHashes(docs, textCol, shingleN).as("sh"))
    val pairs = sh.as("l").join(sh.as("r"), col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("a"), col(s"r.$idCol").as("b"),
        col("l.sh").as("sh_a"), col("r.sh").as("sh_b"))
    pairs
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .select(col("a"), col("b"), (col("inter") / col("uni")).as("jaccard"))
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash per doc as (doc, sig): per-bit ±1 sums packed to a
    * long, computed ROW-LOCALLY by [[graft.functions.SimHashSignature]]
    * over the doc's shingle-hash array (no explode/agg/shuffle — a
    * signature is a pure function of one row; parity with the
    * [[graft.functions.SimHashAggregate]] formulation is spec-pinned).
    */
  def simHashSignatures(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    docs.select(col(idCol).as("doc"), ColumnBridge.column(
      graft.functions.SimHashSignature(ColumnBridge.expression(
        shingleHashes(docs, textCol, shingleN)))).as("sig"))
  }

  /** SimHash over a cross-engine-reproducible hash: the first 15 hex chars
    * of md5(shingle) as a 60-bit integer (`conv(substr(md5, 1, 15))` here
    * == `('0x' || substr(md5, 1, 15))::BIGINT` in DuckDB) — this is what
    * makes the d3 oracle expressible in SQL. xxhash64 (the default path)
    * is faster but exists only in Spark.
    */
  def simHashPairsPortable(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val hashed = ColumnBridge.column(graft.functions.ShingleHashesMd5(
      ColumnBridge.expression(col(textCol)), shingleN))
    val sigs = docs.select(col(idCol).as("doc"), ColumnBridge.column(
      graft.functions.SimHashSignature(ColumnBridge.expression(hashed))).as("sig"))
    simHashBlockPairs(sigs, maxHamming)
  }

  /** SimHash near-dup pairs with hamming distance ≤ `maxHamming` (< 16).
    * Pigeonhole banding on 4×16-bit blocks makes candidate generation
    * linear; exact popcount verifies.
    */
  def simHashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, shingleN: Int = 3): DataFrame = {
    val sigs = simHashSignatures(docs, idCol, textCol, shingleN)
    simHashBlockPairs(sigs, maxHamming)
  }

  private def simHashBlockPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val blockCols = (0 until 4).map(b => shiftright(col("sig"), b * 16).bitwiseAND(0xFFFF))
    val blocks = sigs.select(col("doc"), col("sig"), posexplode(array(blockCols: _*)))
      .withColumnRenamed("pos", "blk").withColumnRenamed("col", "blkval")
    val hamming = bit_count(col("l.sig").bitwiseXOR(col("r.sig")))
    blocks.as("l").join(blocks.as("r"),
        col("l.blk") === col("r.blk") && col("l.blkval") === col("r.blkval") &&
          col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("a"), col("r.doc").as("b"),
        hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // --------------------------------------------------- embedding near-dup

  /** Exact cosine similarity between two `array<float|double>` columns,
    * computed in double with a fixed left-to-right accumulation order
    * (bit-stable across engines). Backed by the codegen'd
    * [[graft.functions.CosineSimilarity]] expression — the HOF
    * (`aggregate`/`zip_with`) formulation evaluates interpreted and
    * dominates pair-scoring time at scale.
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Embedding near-duplicate pairs: cosine ≥ `threshold`, candidates from
    * sign-random-projection buckets (near-identical vectors collide with
    * overwhelming probability), verified with exact cosine. Linear in
    * corpus size; the brute-force twin below is the validation oracle.
    *
    * `bucketCap` HARD-bounds the per-(table, bucket) pairwise term: a
    * bucket with ≤ cap members compares all pairs (the original
    * semantics); an oversized bucket ranks its members along a fixed
    * seeded direction (cosine to one deterministic hyperplane, 6-dp
    * rounded, id tiebreak), cuts the ranking into chunks of `cap`, and
    * compares only same-or-adjacent chunks — O(n_bucket · cap) instead of
    * O(n_bucket²), the boilerplate-mega-cluster insurance. Near-identical
    * vectors have near-identical projections (|cos(a,u) − cos(b,u)| ≤
    * ‖â−b̂‖ = √(2−2θ), ≈0.14 at θ=0.99), so true near-dup pairs sit
    * nearly rank-adjacent within a bucket; a pair separated by an
    * Ω(cap)-sized crowd in EVERY colliding table is the only loss mode
    * (each of `numTables` tables gets an independent shot).
    */
  def embeddingNearDupLsh(
      embs: DataFrame, idCol: String, vecCol: String, threshold: Double, dim: Int,
      numTables: Int = 8, bitsPerTable: Int = 8, seed: Long = 7L,
      bucketCap: Int = 4096): DataFrame = {
    require(bucketCap > 0, s"bucketCap must be positive, got $bucketCap")
    // bucket join on ids only — vectors never ride through the candidate
    // dedup shuffle; they are fetched once per distinct pair afterwards.
    // `p` (one double per row) is the only extra payload the cap needs.
    // withB feeds the occupancy agg + both branches — persist it so the
    // SRP signature kernel runs once (scalars only: doc, p, table,
    // bucket).
    val withB = embs.select(col(idCol).as("doc"),
        srpRankProj(col(vecCol), dim, seed).as("p"),
        posexplode(Similarity.srpSignature(col(vecCol), dim, numTables, bitsPerTable, seed)))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
      .persist()
    val cands = srpBucketCandidates(withB, bucketCap).persist()
    try {
      // persisted + materialized inside, before the candidate cache drops
      verifyCosine(cands,
        embs.select(col(idCol).as("id"), col(vecCol).as("v")), threshold)
    } finally {
      cands.unpersist(blocking = false)
      withB.unpersist(blocking = false)
    }
  }

  /** Fixed ordering direction for oversized SRP buckets: one extra
    * seeded hyperplane, distinct from every bucketing plane (seed
    * offset), 6-dp rounded for cross-run determinism.
    */
  private[operators] def srpRankProj(vec: Column, dim: Int, seed: Long): Column = {
    val u = Similarity.hyperplanes(1, dim, seed * 31 + 1).head
    round(cosine(vec, array(u.map(lit(_)): _*)), 6)
  }

  /** Candidate pairs from SRP bucket collisions over a pre-exploded
    * (doc, p, table, bucket) frame, bucket-capped with the two-phase
    * occupancy split (sub-cap buckets take exactly the original
    * single-shuffle join; over-cap buckets rank by (p, doc) and compare
    * same-or-adjacent chunks of `bucketCap` — O(n·cap)). The oversized
    * list joins back unhinted so AQE broadcasts it when tiny.
    */
  private[operators] def srpBucketCandidates(withB: DataFrame, bucketCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val over = withB.groupBy("table", "bucket")
      .agg(count(lit(1)).as("occ")).filter(col("occ") > bucketCap)
    val flagged = withB.join(over, Seq("table", "bucket"), "left")
    val normal = flagged.filter(col("occ").isNull)
    val normalPairs = normal.as("l").join(normal.as("r"),
        col("l.table") === col("r.table") && col("l.bucket") === col("r.bucket") &&
          col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("a"), col("r.doc").as("b"))
    // oversized-bucket rows emit at {chunk, chunk+1}; k == greatest(lc, rc)
    // admits each |Δchunk| ≤ 1 pair exactly once (same scheme as semDedup)
    val big = flagged.filter(col("occ").isNotNull)
      .withColumn("chunk", floor(
        (row_number().over(Window.partitionBy("table", "bucket")
          .orderBy("p", "doc")) - 1) / lit(bucketCap.toLong)))
    def keyed(side: String) = big
      .select(col("doc").as(s"${side}_doc"), col("table"), col("bucket"),
        col("chunk").as(s"${side}_c"),
        explode(array(col("chunk"), col("chunk") + 1)).as("k"))
    val bigPairs = keyed("l").join(keyed("r"), Seq("table", "bucket", "k"))
      .filter(col("k") === greatest(col("l_c"), col("r_c")) &&
        col("l_doc") < col("r_doc"))
      .select(col("l_doc").as("a"), col("r_doc").as("b"))
    normalPairs.union(bigPairs).distinct()
  }

  /** Exact-cosine verification of candidate pairs against a (id, v)
    * vector table, ≥ `threshold` kept — the verifyJaccard exchange
    * discipline: vectors reach the candidate-bounded pair list via
    * map-side prune + broadcast, never a hash-partition shuffle. Returns
    * (a, b, cos), persisted lazily (caller materializes + owns).
    */
  /** Exact-cosine verification at ≥ `threshold` — [[verifyJaccard]]'s
    * exchange discipline over vectors: one scan of the vector log into a
    * persisted id-bounded prune, per-side broadcasts from that cache,
    * vectors never in a hash shuffle, broadcast bytes id-bounded (never
    * pair-bounded). Returns the verified pairs persisted + materialized;
    * caller unpersists.
    */
  private[operators] def verifyCosine(
      cands: DataFrame, vecs: DataFrame, threshold: Double,
      pairDense: Boolean = false): DataFrame = {
    // When `vecs` carries an `inBatch` tag (the SemDeDup ingest does),
    // the verified pairs carry the b side's tag through as `bInBatch`:
    // the caller's batch-membership bookkeeping (dropped ids, the
    // out-of-order telemetry) then derives from the candidate-bounded
    // pair list alone — no second scan of the batch, no extra
    // broadcast round (JobProfile e22: the dropped/outOfOrder joins
    // were 0.4-0.9 s of the ~3 s ingest).
    val tagged = vecs.columns.contains("inBatch")
    if (pairDense) {
      // DENSE candidate generators (SemDeDup cells: every same-cell pair
      // within the cap is a candidate, so pairs ≈ ids·cap/2 ≫ ids): the
      // exploded shape would shuffle one vector per pair SIDE — measured
      // 40-70% slower on the semdedup merges. Instead: ONE scan of the
      // vector log into a persisted id-bounded prune, per-side broadcasts
      // from that cache; vectors never in a hash shuffle, broadcast bytes
      // id-bounded.
      val ids = cands.select(col("a").as("id"))
        .unionAll(cands.select(col("b").as("id"))).distinct()
      val pruned = vecs.join(broadcast(ids), "id").persist()
      try {
        val bSide =
          if (tagged) pruned.select(col("id").as("b"), col("v").as("vb"),
            col("inBatch").as("bInBatch"))
          else pruned.select(col("id").as("b"), col("v").as("vb"))
        val outCols = Seq(col("a"), col("b"),
          cosine(col("va"), col("vb")).as("cos")) ++
          (if (tagged) Seq(col("bInBatch")) else Nil)
        val out = cands
          .join(broadcast(pruned.select(col("id").as("a"), col("v").as("va"))), "a")
          .join(broadcast(bSide), "b")
          .select(outCols: _*)
          .filter(col("cos") >= threshold).persist()
        out.count() // materialize before the pruned cache is released
        out
      } finally pruned.unpersist(blocking = false)
    } else persisted(cosinePairs(cands, vecs, threshold, broadcastSides = true))
  }

  /** [[verifyCosine]]'s SPARSE path, unmaterialized (the incremental SRP
    * index materializes it itself): the verifyJaccard exploded shape —
    * one scan, pair-bounded re-pair shuffle. broadcastSides=false = the
    * caller's broadcast-gate verdict (see jaccardPairs): the sides take
    * a plain id shuffle join instead of a driver-budget-sized broadcast
    * build. A `vecs` `inBatch` tag carries through as `bInBatch`.
    */
  private[operators] def cosinePairs(cands: DataFrame, vecs: DataFrame,
      threshold: Double, broadcastSides: Boolean): DataFrame = {
    val tagged = vecs.columns.contains("inBatch")
    val sides = pairSides(cands)
    val hint: DataFrame => DataFrame =
      if (broadcastSides) df => broadcast(df) else identity
    val aggs = Seq(
      first(when(col("isA"), col("v")), ignoreNulls = true).as("va"),
      first(when(!col("isA"), col("v")), ignoreNulls = true).as("vb")) ++
      (if (tagged)
        Seq(first(when(!col("isA"), col("inBatch")), ignoreNulls = true)
          .as("bInBatch"))
      else Nil)
    val outCols = Seq(col("a"), col("b"),
      cosine(col("va"), col("vb")).as("cos")) ++
      (if (tagged) Seq(col("bInBatch")) else Nil)
    vecs.join(hint(sides), "id")
      .groupBy("a", "b")
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("va").isNotNull && col("vb").isNotNull)
      .select(outCols: _*)
      .filter(col("cos") >= threshold)
  }

  /** The candidate pair list exploded to one row per pair SIDE —
    * (a, b, isA, id) — the single-scan broadcast probe of the exploded
    * verify shape ([[verifyJaccard]], sparse [[verifyCosine]], the
    * SimHash/prefix verify blocks): the payload frame streams map-side
    * once and each pair re-assembles from exactly 2 rows. Only for
    * SPARSE candidate generators — a dense generator (SemDeDup cells)
    * shuffles one payload per pair side and must take the id-bounded
    * pruned-broadcast shape instead.
    */
  private[operators] def pairSides(candidates: DataFrame): DataFrame =
    candidates.select(explode(array(
        struct(col("a"), col("b"), lit(true).as("isA"), col("a").as("id")),
        struct(col("a"), col("b"), lit(false).as("isA"), col("b").as("id"))))
        .as("s"))
      .select(col("s.a").as("a"), col("s.b").as("b"),
        col("s.isA").as("isA"), col("s.id").as("id"))

  /** SemDeDup (semantic dedup, Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus around `centroids`, then mark as duplicates the
    * vectors whose cosine to a LOWER-id member of the SAME cluster is ≥
    * `threshold`. The pairwise comparison never leaves a cluster, and —
    * new in round 6 — never leaves a bounded NEIGHBORHOOD within the
    * cluster: members are ranked by similarity to their own centroid
    * (desc, id tiebreak), cut into rank-chunks of `cap` rows, and only
    * pairs within the same or adjacent chunk are compared. That turns the
    * intra-cell term from O(n_cell²) into O(n_cell · cap): a HARD bound
    * that holds even for boilerplate mega-clusters where every member is
    * mutually near-identical (the case k-scaling and recursive
    * sub-clustering both fail on, because identical vectors refuse to
    * split). The approximation this buys is the sorted-neighborhood one:
    * a pair is only found if the two members rank within ~cap of each
    * other on the centroid-similarity axis. Near-duplicates at threshold
    * θ satisfy |cos(a,c) − cos(b,c)| ≤ ‖â−b̂‖ = √(2−2θ) for ANY c (≈0.14
    * at θ=0.99), so true near-dups sit nearly rank-adjacent unless an
    * Ω(cap)-sized crowd separates them — and such a crowd is itself one
    * dense dup cluster whose chunk-local comparisons already drop all but
    * ~one member per chunk. Cells of ≤ cap rows get exactly the original
    * (full-pairwise) SemDeDup semantics.
    *
    * Determinism: similarities are rounded to 6 dp BEFORE the argmax,
    * BEFORE the rank, and BEFORE the threshold compare, so kernel ulps
    * can neither flip an assignment, a chunk boundary, nor a keep
    * decision (the e11 rule); rank ties break by id, so the chunking is a
    * pure function of the inputs and the keep rule ("dropped iff ANY
    * lower id among the bounded candidates is within threshold") needs no
    * transitive closure.
    *
    * Returns one row per vector: (id, cid, kept). Plan shape: the
    * pairwise step is a pure equi-join on (cid, chunk-key) — each side
    * explodes to its own chunk and chunk+1, and `key = greatest(lc, rc)`
    * keeps exactly one copy of every |Δchunk| ≤ 1 pair — so the per-key
    * build sides hold ≤ 2·cap rows by construction. The rank window
    * carries (id, sim, cid) only; vectors rejoin by id afterwards.
    * Parallelism of the rank window equals the centroid count, so k is
    * still the scale knob SemDeDup says it is (k ∝ N) — but cap now
    * bounds the damage when an operator under-provisions k.
    */
  /** Cell assignment by 6-dp-rounded cosine argmax, lowest cid on ties —
    * the shared assignment step of [[semDedup]] and its incremental twin
    * ([[graft.operators.IncrementalIndex.ingestSemDedup]]). Returns
    * (id, cid, simc). MAP-ONLY: the argmax evaluates per row against the
    * frozen centroid matrix ([[graft.functions.NearestCell]] — bit-exact
    * replica of the old cross-join + 6-dp round + max(struct) aggregate),
    * so assignment adds ZERO exchanges where the aggregate form paid an
    * explode ×k, a hash-aggregate shuffle, and forced every caller that
    * needs the vector into a join-back. The centroid collect is
    * k-bounded — the identical frame the old shape collected into a
    * broadcast.
    */
  def assignCells(embs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    assignCellsWithVec(embs, idCol, vecCol, centroids)
      .select(col("id"), col("cid"), col("simc"))

  /** [[assignCells]] keeping the row's vector: (id, v, cid, simc) — free
    * under the map-only form, and exactly what the pairwise-verify
    * callers previously re-joined by id to get.
    */
  private[graft] def assignCellsWithVec(embs: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val cidType = centroids.schema("cid").dataType
    val cents = centroids.select(col("cid").cast("long"), col("cvec"))
      .collect() // k-bounded: the frame the old shape broadcast whole
      .map { r =>
        val cv = r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
          case null => 0.0
        }.toArray
        (r.getLong(0), cv)
      }.sortBy(_._1)
    if (cents.isEmpty)
      // empty centroid set assigned nothing under the old cross-join
      return embs.select(col(idCol).as("id"), col(vecCol).as("v"),
        lit(null).cast(cidType).as("cid"),
        lit(null).cast("double").as("simc")).filter(lit(false))
    // inline below the task-binary budget, broadcast above it: at the
    // FAISS √N regime (k ~ 10⁵–10⁶ cells) an inline matrix would ship
    // k·dim·8 bytes in EVERY task binary; the broadcast handle ships it
    // once per executor (see graft.functions.Payload)
    val dim0 = cents.headOption.map(_._2.length).getOrElse(0)
    val payload = graft.functions.Payload.auto(embs.sparkSession,
      (cents.map(_._1), cents.map(_._2)),
      approxBytes = cents.length.toLong * (dim0 * 8L + 24L))
    def nearest(v: Column) = ColumnBridge.column(graft.functions.NearestCell(
      ColumnBridge.expression(v), payload))
    embs
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        nearest(col(vecCol)).as("w"))
      .select(col("id"), col("v"),
        col("w.cid").cast(cidType).as("cid"), col("w.simc").as("simc"))
  }

  def semDedup(
      embs: DataFrame, idCol: String, vecCol: String, centroids: DataFrame,
      threshold: Double, cap: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cap > 0, s"cap must be positive, got $cap")
    // map-only assignment carrying the vector: under the old aggregate
    // form the vectors paid TWO exchanges to reach the rank window (the
    // join-back by id, then the window's cid shuffle) — carried in-row
    // they cross exactly one, the window's own
    val cells = assignCellsWithVec(embs, idCol, vecCol, centroids)
    val assigned = cells
      .withColumn("occ", count(lit(1)).over(Window.partitionBy("cid")))
      .withColumn("chunk",
        when(col("occ") <= cap, lit(0L)).otherwise(floor((row_number().over(
          Window.partitionBy("cid").orderBy(desc("simc"), col("id"))) - 1)
          / lit(cap.toLong))))
      .select("id", "v", "cid", "chunk", "occ")
    // over-cap cells emit at {chunk, chunk+1}; key == greatest(lc, rc)
    // admits each |Δchunk| ≤ 1 pair exactly once (Δ=0 at k=c, Δ=1 at the
    // higher chunk; Δ≥2 shares no key). Sub-cap cells emit a single key —
    // exactly the original full-pairwise intra-cell join.
    def keyed(side: String) = assigned
      .select(col("id").as(s"${side}_id"), col("v").as(s"${side}_v"),
        col("cid"), col("chunk").as(s"${side}_c"),
        explode(when(col("occ") <= cap, array(col("chunk")))
          .otherwise(array(col("chunk"), col("chunk") + 1))).as("k"))
    val dropped = keyed("l").join(keyed("r"), Seq("cid", "k"))
      .filter(col("k") === greatest(col("l_c"), col("r_c")) &&
        col("l_id") < col("r_id"))
      .filter(round(cosine(col("l_v"), col("r_v")), 6) >= threshold)
      .select(col("r_id").as("id")).distinct()
    assigned.join(dropped.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cid"), coalesce(col("dup"), lit(false)).as("dup"))
      .select(col("id"), col("cid"), (!col("dup")).as("kept"))
  }

  /** Brute-force all-pairs variant (quadratic; validation / small corpora). */
  def embeddingNearDup(
      embs: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val l = embs.select(col(idCol).as("a"), col(vecCol).as("va"))
    val r = embs.select(col(idCol).as("b"), col(vecCol).as("vb"))
    l.join(r, col("a") < col("b"))
      .select(col("a"), col("b"), cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  // ----------------------------------------------------------- clustering

  /** Connected components over a near-dup pair list via iterative min-label
    * propagation: each doc's label becomes the min label in its
    * neighborhood; `iters` rounds double the reach per round. Returns
    * (doc, cluster) where cluster = min doc id of the component (for the
    * small-diameter clusters near-dup graphs produce).
    *
    * Ownership: in the distributed branch the returned labels table is
    * persisted (it was materialized round-by-round to cap lineage) — the
    * caller owns the unpersist (SparkEntry routes it through its
    * session cache, which unpersists on eviction).
    */
  def clusters(pairs: DataFrame, iters: Int = 3, driverThreshold: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col("a").cast("long"), col("b").cast("long")).persist()
    try {
      val nPairs = edges.count() // materialize once — upstream (LSH+verify) is expensive
      if (nPairs <= driverThreshold) {
        // near-dup pair lists are tiny relative to the corpus (they fit the
        // driver by construction — they become delete lists); exact
        // union-find beats launching iters × 3 distributed stages
        val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        es.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val out = parent.keys.toSeq.map(x => (x, find(x)))
        import spark.implicits._
        out.toDF("doc", "cluster")
      } else {
        // distributed min-label propagation; `iters` rounds reach
        // `iters`-hop neighborhoods (near-dup components are shallow).
        // Each round is materialized so the previous round's cache can be
        // released — otherwise a long-lived session accumulates one cached
        // label table per iteration (ADVICE r1).
        var labels = edges.select(col("a").as("doc")).union(edges.select(col("b").as("doc")))
          .distinct().withColumn("cluster", col("doc")).persist()
        val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b"))).persist()
        try {
          for (_ <- 1 to iters) {
            val viaNeighbor = sym.join(labels, sym("b") === labels("doc"))
              .select(sym("a").as("doc"), col("cluster"))
            val next = labels.union(viaNeighbor)
              .groupBy("doc").agg(min("cluster").as("cluster"))
              .persist() // labels is referenced twice next round — cap the lineage
            next.count()
            labels.unpersist(blocking = false)
            labels = next
          }
          labels
        } finally sym.unpersist(blocking = false)
      }
    } finally edges.unpersist(blocking = false)
  }

  /** EXACT set-similarity join with prefix filtering (PPJoin-style):
    * all pairs with set Jaccard ≥ num/den over `sets` — distinct
    * (id, elem) rows, where elem is any orderable set element (shingle
    * hashes for near-dup text, token ids, n-gram hashes) — no
    * approximation.
    *
    * Each set's elements sort by ascending global frequency (rarest
    * first, ties by element); a pair at Jaccard ≥ t MUST share an
    * element within each side's first `|s| − ⌈t·|s|⌉ + 1` elements, so
    * candidates come from an equi-join on PREFIX elements only — short
    * and rare, which is what bounds fan-out at corpus scale (vs.
    * MinHash-LSH, which is approximate; this join misses nothing).
    * Element choice matters: prefix filtering needs a large element
    * universe (shingles/n-grams), not a closed vocabulary whose every
    * element is frequent. Verification is pure integer arithmetic:
    * den·|A∩B| ≥ num·|A∪B| — no FP in the predicate. Shuffles carry
    * (id, elem) and id pairs; full element arrays move once, by id, to
    * score the candidate pairs.
    */
  def prefixJaccardJoin(
      sets: DataFrame, num: Int, den: Int, bucketCap: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketCap > 0, s"bucketCap must be positive, got $bucketCap")
    // the element table feeds both the frequency agg and the sort join —
    // cache it so the upstream (shingle hashing etc.) runs once
    val s0 = sets.persist()
    val dfreq = s0.groupBy("elem").agg(count(lit(1)).as("df"))
    // per-set elements sorted by (df, elem); prefix len = n - ceil(t*n) + 1
    val sorted = s0.join(dfreq, "elem")
      .groupBy("id")
      .agg(expr("transform(array_sort(collect_list(struct(df, elem))), x -> x.elem)").as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("p", col("n") - expr(s"CAST(($num * n + $den - 1) DIV $den AS INT)") + 1)
      .persist()
    try {
      // Prefix tokens are globally RARE by construction (ascending-df sort),
      // which bounds bucket sizes on natural corpora — but a boilerplate
      // mega-cluster shares its "rare" tokens across the whole cluster, so
      // the per-token pairwise term gets the same hard bound as
      // lshCandidates: rank bucket members by (set size, id) — a true pair
      // at t = num/den has |A|/|B| within [t, 1/t] — and compare only
      // same-or-adjacent rank-chunks of `bucketCap`. Two-phase occupancy
      // split keeps the cap FREE when it does not engage: sub-cap tokens
      // take exactly the original single-shuffle join; only tokens shared
      // by > cap sets (mega-cluster signature) pay the rank sort. The
      // oversized-token list joins back without a broadcast hint so AQE
      // broadcasts it when tiny and degrades to shuffle if a pathological
      // corpus makes it huge. `prefixes` explodes from the persisted
      // `sorted` cache, so its three scans recompute only the slice.
      val prefixes = sorted.select(col("id"), col("n"),
        explode(expr("slice(toks, 1, p)")).as("tk"))
      val overTk = prefixes.groupBy("tk")
        .agg(count(lit(1)).as("occ")).filter(col("occ") > bucketCap)
      val flagged = prefixes.join(overTk, Seq("tk"), "left")
      val normal = flagged.filter(col("occ").isNull)
      val normalPairs = normal.as("a").join(normal.as("b"),
          col("a.tk") === col("b.tk") && col("a.id") < col("b.id"))
        .select(col("a.id").as("ia"), col("b.id").as("ib"))
      val big = flagged.filter(col("occ").isNotNull)
        .withColumn("chunk", floor(
          (row_number().over(Window.partitionBy("tk").orderBy("n", "id")) - 1)
            / lit(bucketCap.toLong)))
      def keyed(side: String) = big
        .select(col("id").as(s"${side}_id"), col("tk"), col("chunk").as(s"${side}_c"),
          explode(array(col("chunk"), col("chunk") + 1)).as("k"))
      val bigPairs = keyed("a").join(keyed("b"), Seq("tk", "k"))
        .filter(col("k") === greatest(col("a_c"), col("b_c")) &&
          col("a_id") < col("b_id"))
        .select(col("a_id").as("ia"), col("b_id").as("ib"))
      val cands = normalPairs.union(bigPairs).distinct().persist()
      // verify with per-side prunes over the PERSISTED `sorted` cache:
      // both ta/tb reads are cache scans here (unlike the incremental
      // twin, whose token log is a parquet read and wants the one-scan
      // exploded shape), and the id-bounded broadcasts keep the wide
      // token arrays out of every hash shuffle
      val ta = sorted.select(col("id").as("ia"), col("toks").as("ta"), col("n").as("na"))
        .join(broadcast(cands.select("ia").distinct()), "ia")
      val tb = sorted.select(col("id").as("ib"), col("toks").as("tb"), col("n").as("nb"))
        .join(broadcast(cands.select("ib").distinct()), "ib")
      // persist the (small) result and materialize it while `sorted` is
      // cached — same ownership convention as minHashLsh: the returned
      // DataFrame is persisted, caller unpersists when done
      val out = cands
        .join(broadcast(ta), "ia")
        .join(broadcast(tb), "ib")
        .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
        .withColumn("un", col("na") + col("nb") - col("inter"))
        .filter(lit(den) * col("inter") >= lit(num) * col("un"))
        .select(col("ia"), col("ib"),
          col("inter").cast("long").as("inter"), col("un").cast("long").as("un"))
        .persist()
      out.count()
      cands.unpersist(blocking = false)
      out
    } finally {
      sorted.unpersist(blocking = false)
      s0.unpersist(blocking = false)
    }
  }
}
