package graft

import graft.config.{SortOrder, TableConfig}
import graft.functions.TextFunctions
import graft.operators.{ApplyMapping, Bookmarks, Dedup, Multimodal, Similarity, Skew}
import graft.sinks.PartitionedSink
import graft.streaming.StreamingOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2 + north-star), each with a DuckDB oracle in `oracleSql`
  * where SQL-expressible. Column names are aligned pairwise (the driver
  * sorts columns by name before hashing).
  */
object SparkEntry {

  /** Normalize a raw `events` read to the registry's canonical shape:
    * `ts` is a session-zone TIMESTAMP (micros). The driver has shipped the
    * column two ways across rounds — parquet TIMESTAMP(NANOS), which Spark
    * reads only as a nanos long (via
    * `spark.sql.legacy.parquet.nanosAsLong=true`, set in every session
    * builder), and plain naive TIMESTAMP(MICROS), which reads as
    * TIMESTAMP_NTZ. Both fold to the same instants here (sessions pin UTC,
    * so the NTZ→LTZ cast is value-identity); every downstream query and its
    * DuckDB oracle see one stable type.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** The `ts` column of a RAW (un-normalized) events frame as a proper
    * timestamp expression — for call sites that filter the raw frame (to
    * keep its on-disk schema for re-writes) but cut on event time.
    */
  def rawTsCol(df: DataFrame): Column =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        timestamp_micros(expr("ts div 1000"))
      case Some(org.apache.spark.sql.types.TimestampType) => col("ts")
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        col("ts").cast("timestamp")
      case other => throw new IllegalArgumentException(
        // fail loudly: silently casting an unexpected schema would turn a
        // malformed fixture into an all-null event-time filter
        s"events.ts must be long nanos or a timestamp flavor, got $other")
    }

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(s.read.parquet(s"$dir/$name.parquet"))

  private def tmpdir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Aggregate recall@k bound-check for the approximate ANN fast paths
    * (e2/e4/e8/e10): join the fast path's (query_id, neighbor_id) pairs
    * against the exact twin's, count hits, and emit one
    * (n_exact, recall_ok) row the DuckDB oracle can recompute — n_exact
    * from the brute-force SQL, recall_ok expected TRUE. Turns "approximate
    * by design" into a hash-checkable quality contract (the q19/q20
    * pattern). Both inputs are tiny top-k frames (queries × k rows), so
    * the join broadcasts regardless of corpus size.
    */
  private def recallBound(approx: DataFrame, exact: DataFrame,
      threshold: Double): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val hits = a.join(broadcast(e), Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("n_hits"))
    e.agg(count(lit(1)).as("n_exact"))
      .crossJoin(hits)
      .select(col("n_exact"),
        (col("n_hits").cast("double") / col("n_exact").cast("double")
          >= threshold).as("recall_ok"))
  }

  /** Copy the events table into `work` `n` times (events_0..events_{n-1})
    * — the standard way the streaming queries stage replayed micro-batch
    * arrivals for a file-source drain. Handles BOTH table shapes: the
    * driver's single-file tables copy directly; a directory-shaped table
    * (e.g. the scale rehearsal's replicas) is flattened to one plain
    * file first — `Files.copy` of a directory stages an EMPTY shell and
    * the file stream source would silently see zero rows (caught by the
    * r6 full-suite rehearsal: every replayEvents-backed st query timed a
    * no-op at sf1 until this).
    */
  private def replayEvents(s: SparkSession, dir: String, work: String, n: Int): Unit = {
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val single =
      if (java.nio.file.Files.isRegularFile(src)) src
      else {
        val tmp = java.nio.file.Files.createTempDirectory("graft-replay-flat")
        s.read.parquet(src.toString).coalesce(1)
          .write.mode("overwrite").parquet(s"$tmp/flat")
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/flat"))
        try {
          val it = ls.iterator()
          var found: java.nio.file.Path = null
          while (found == null && it.hasNext) {
            val p = it.next()
            if (p.toString.endsWith(".parquet")) found = p
          }
          require(found != null, s"no part file written under $tmp/flat")
          found
        } finally ls.close()
      }
    (0 until n).foreach { i =>
      java.nio.file.Files.copy(single,
        java.nio.file.Paths.get(s"$work/events_$i.parquet"))
    }
  }

  /** Surface `chunk` as ONE plain parquet file at `work/in/<name>.parquet`
    * (the streaming file source lists files, not directory-shaped
    * datasets); `mtime` pins the source's listing order for multi-batch
    * arrival cascades (st6/st7).
    */
  private def arriveFile(
      work: String, chunk: DataFrame, name: String, mtime: Option[Long] = None): Unit = {
    chunk.coalesce(1).write.parquet(s"$work/$name")
    new java.io.File(s"$work/in").mkdirs()
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$work/$name")).forEach { p =>
      if (p.toString.endsWith(".parquet")) {
        val dst = java.nio.file.Paths.get(s"$work/in/$name.parquet")
        java.nio.file.Files.copy(p, dst)
        mtime.foreach(t => java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(t)))
      }
    }
  }

  /** Clone `s` for a streaming query with the state/shuffle partition
    * count sized to the MICRO-BATCH, not the host core count — the same
    * deliberate knob [[graft.streaming.StreamingOps.drainToMemory]]
    * already exposes as `statePartitions`, extended to the streaming
    * queries that build their own sessions. Why it matters (measured,
    * SCALE_r14 "stpart"): every stateful operator opens/commits one
    * state-store instance per shuffle partition per micro-batch and
    * every exchange schedules P tasks, so a near-empty micro-batch pays
    * a fixed cost LINEAR in P — the st18/st19/st28 shapes ran 2-5×
    * faster at 8 cores than 32 in PERF_r13 purely because the bench
    * session's `shuffle.partitions = cpus`. At 8 the stateful-agg shape
    * steadied at ~1.7 s vs ~3.3 s at 32 (3 micro-batches), and the
    * foreachBatch ingest shape at ~4.1 s vs ~4.8 s; 1 was WORSE (~5.2 s
    * — lost map-side parallelism), so this is a batch-size optimum, not
    * "smaller is better". Production tracks state volume instead via
    * `spark.graft.stream.statePartitions` (a real streaming job fixes
    * the count at checkpoint creation for the life of the query — at
    * 100 TB with GB-sized micro-batches it should be core-count-sized
    * or larger). Results NEVER depend on it.
    */
  private def streamSession(s: SparkSession): SparkSession = {
    val sess = s.newSession()
    sess.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS",
        s.conf.get("spark.graft.stream.statePartitions", "8")))
    sess
  }

  /** Mutated near-dup corpus: originals ∪ first-token-dropped copies at
    * id+100000 — guarantees a deterministic non-empty near-dup structure
    * on the synthetic word-salad texts (which contain no natural dups).
    * Mirrored exactly in the oracle SQL.
    */
  private def nearDupCorpus(docs: DataFrame): DataFrame = {
    val mutant = expr(
      "CASE WHEN instr(text, ' ') > 0 THEN substring(text, instr(text, ' ') + 1) ELSE text END")
    docs.select(col("doc_id"), col("text"))
      .union(docs.select((col("doc_id") + 100000).as("doc_id"), mutant.as("text")))
      // the testdata is one small parquet file → one input split; spread the
      // signature computation across cores (a real corpus has many splits)
      .repartition(64, col("doc_id"))
  }

  /** Verified MinHash near-dup pairs for `dir`, computed once per
    * (session, scale factor) and shared between d2 (pair listing) and d9
    * (clustering) — the LSH+verify pipeline is the single most expensive
    * stage of the bench and d9 consumes exactly d2's output. The cached
    * value is the tiny materialized pair list, not the heavy intermediates
    * (minHashLsh persists the verified pairs and releases its own caches).
    */
  // Per-session cache of persisted intermediate results (the MinHash pair
  // list shared by d2/d9, and d9's cluster labels). Keyed by the
  // SparkSession *instance* — never by identityHashCode, whose values can
  // be reused after GC and hand a new session a DataFrame bound to a dead
  // one. Cached DataFrames strongly reference their session, so weak keys
  // alone could never be collected (the WeakHashMap value→key cycle);
  // instead every access REAPS entries whose SparkContext is stopped —
  // their cached blocks died with the context, so dropping the entry
  // frees the whole session graph. This map is the OWNER of every
  // persisted DataFrame the Dedup pipeline returns: live-session eviction
  // unpersists. Compute runs under a PER-SESSION lock only (the LSH
  // pipeline takes seconds — a global lock would serialize unrelated
  // sessions).
  private val sessionCache =
    new java.util.HashMap[SparkSession, scala.collection.mutable.Map[String, DataFrame]]()
  private def cachedDf(s: SparkSession, key: String)(compute: => DataFrame): DataFrame = {
    val perSession = sessionCache.synchronized {
      sessionCache.keySet().removeIf(sess => sess.sparkContext.isStopped)
      sessionCache.computeIfAbsent(s,
        _ => scala.collection.mutable.Map.empty[String, DataFrame])
    }
    perSession.synchronized {
      // cap sized to hold every cache site × several scale-factor dirs: a
      // clear-all mid-bench (warm dir + timed dir populate two entries per
      // site) would silently rebuild the expensive pipelines it exists to
      // share
      if (perSession.size > 32) {
        perSession.values.foreach(df => df.unpersist(blocking = false))
        perSession.clear()
      }
      perSession.getOrElseUpdate(key, compute)
    }
  }
  /** Bench/Prof/rehearsal hook: drop and unpersist every cached
    * intermediate for `s`, so a timed query run pays its FULL pipeline
    * instead of re-reading a sibling query's materialized result (d9
    * reuses d2's pair list by design — correct for a real pipeline
    * session, but it turns per-query timing attribution into noise:
    * whichever of d2/d9 runs first absorbs the LSH cost and the other
    * measures a cache read). Tools call this before every timed run;
    * the library behavior (per-session sharing) is unchanged.
    */
  def resetSessionCache(s: SparkSession): Unit = {
    val m = sessionCache.synchronized { sessionCache.remove(s) }
    if (m != null) m.synchronized {
      m.values.foreach(_.unpersist(blocking = false))
      m.clear()
    }
  }

  // --- bootstrap-once shard fixtures ---------------------------------
  // The merge/probe gates exercise a MERGE (or a read-only probe)
  // against independently bootstrapped shard indexes. The shard
  // bootstraps are fixture SETUP, not the operator under test — the
  // ingest cost has its own gates (d54/d58/d59/…) — yet each merge gate
  // re-paid 2–3 full shard builds per run, the dominant term in the
  // gate suite's wall clock. Bootstrapped shard roots therefore cache
  // at the JVM level, keyed by (fixture, data dir). Every consumer that
  // MUTATES its adopter takes a fresh byte-level CLONE (the merge
  // adopts donor files into it), so no state leaks across queries or
  // repeated runs; donors and probe targets are read in place (merges
  // never write the donor; d70 asserts the probe commits nothing).
  // Deliberately NOT dropped by resetSessionCache: on-disk fixtures are
  // session-independent, and timed runs then attribute each merge gate
  // to the merge itself — a fresh JVM's first run still pays the build.
  private val fixtureRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def fixtureRoot(key: String)(build: String => Unit): String =
    fixtureRoots.computeIfAbsent(key, _ => {
      val r = tmpdir("graft-fixture")
      build(r)
      r
    })

  /** Byte-level private copy of a fixture index root (version dirs,
    * nested sub-logs, markers — everything): file IO only, no decode,
    * no Spark job. What a mutating gate consumes instead of the shared
    * fixture.
    */
  private def cloneRoot(s: SparkSession, src: String): String = {
    val parent = tmpdir("graft-fixclone")
    val conf = s.sparkContext.hadoopConfiguration
    val srcP = new org.apache.hadoop.fs.Path(src)
    val fs = srcP.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, srcP, fs,
      new org.apache.hadoop.fs.Path(parent), false, conf)
    new org.apache.hadoop.fs.Path(parent, srcP.getName).toString
  }

  /** Bench/Prof hook: provision every shard fixture for `dir` ahead of
    * a timed pass, so the merge/probe gate timings measure the merge
    * (the operator under test), not repeated fixture setup — the
    * bootstraps' own costs are covered by their own gates (d54, d58,
    * d59, d2's incremental twins, …). Idempotent: already-built
    * fixtures are returned from the JVM-level cache.
    */
  def provisionFixtures(s: SparkSession, dir: String): Unit = {
    minHashEvenOddShards(s, dir); minHashMod3Shards(s, dir)
    minHashOriginalsIndex(s, dir); exactShards(s, dir)
    exactMod3Shards(s, dir); simHashMod3Shards(s, dir); srpMod3Shards(s, dir)
    prefixMod3Shards(s, dir)
    simHashShards(s, dir); prefixShards(s, dir); srpShards(s, dir)
    tfidfShards(s, dir); semDedupShards(s, dir)
    tfidfMod3Shards(s, dir); semDedupRangeShards(s, dir)
  }

  /** Even/odd MinHash shard fixture over the near-dup corpus: shard
    * roots at a/ and b/, the shards' own pair logs unioned at pairs/.
    * Consumers: d64 and d71 (clone a/ — the merge adopts into it; b/ is
    * the donor, read in place).
    */
  private def minHashEvenOddShards(s: SparkSession, dir: String): String =
    fixtureRoot(s"mhEO|$dir") { r =>
      import graft.operators.IncrementalIndex
      val corpus = nearDupCorpus(tbl(s, dir, "documents"))
      val (_, pA) = IncrementalIndex.ingestMinHash(
        s, s"$r/a", corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      val (_, pB) = IncrementalIndex.ingestMinHash(
        s, s"$r/b", corpus.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      pA.unionAll(pB).write.parquet(s"$r/pairs")
      Seq(pA, pB).foreach(_.unpersist(blocking = false))
    }

  /** Mod-3 MinHash shard fixture (d69's N-way fan-in geometry: every
    * orig↔mutant twin lands in different shards). Shard roots s0/s1/s2,
    * shard-local pairs at pairs/; d69 clones s0 (the fan-in adopter)
    * and reads s1/s2 in place.
    */
  private def minHashMod3Shards(s: SparkSession, dir: String): String =
    fixtureRoot(s"mh3|$dir") { r =>
      import graft.operators.IncrementalIndex
      val corpus = nearDupCorpus(tbl(s, dir, "documents"))
      val parts = (0 to 2).map(i =>
        IncrementalIndex.ingestMinHash(
          s, s"$r/s$i", corpus.filter(pmod(col("doc_id"), lit(3)) === i),
          "doc_id", "text")._2)
      parts.reduce(_.unionAll(_)).write.parquet(s"$r/pairs")
      parts.foreach(_.unpersist(blocking = false))
    }

  /** Originals-only MinHash index (d70's probe target, read in place —
    * the probe commits nothing, asserted by the gate on every run).
    */
  private def minHashOriginalsIndex(s: SparkSession, dir: String): String =
    fixtureRoot(s"mhOrig|$dir") { r =>
      import graft.operators.IncrementalIndex
      val corpus = nearDupCorpus(tbl(s, dir, "documents"))
      IncrementalIndex.ingestMinHash(
          s, s"$r/a", corpus.filter(col("doc_id") < 100000), "doc_id", "text")
        ._2.unpersist(blocking = false)
    }

  /** Exact-dedup shard fixture (d65): originals at a/, copies at b/,
    * the shards' LOCAL keep-the-min verdicts at verdicts/ (parquet
    * snapshot, so their lineage never re-reads the fingerprint log the
    * merge mutates). d65 clones a/ — the merge appends donor fps.
    */
  private def exactShards(s: SparkSession, dir: String): String =
    fixtureRoot(s"exact|$dir") { r =>
      import graft.operators.IncrementalIndex
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val (_, vA) = IncrementalIndex.ingestExact(s, s"$r/a", docs, "doc_id", "text")
      val (_, vB) = IncrementalIndex.ingestExact(s, s"$r/b", copies, "doc_id", "text")
      vA.unionAll(vB).write.parquet(s"$r/verdicts")
      Seq(vA, vB).foreach(_.unpersist(blocking = false))
    }

  /** Mod-3 exact-dedup shard fixture (d72's N-way geometry: a copy's id
    * is its original + 100000, and 100000 % 3 ≠ 0, so EVERY duplicate
    * group spans two different shards — all of them are the one-pass
    * correction's to find). Shard roots s0/s1/s2, their local verdicts
    * at verdicts/.
    */
  private def exactMod3Shards(s: SparkSession, dir: String): String =
    fixtureRoot(s"exact3|$dir") { r =>
      import graft.operators.IncrementalIndex
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val all = docs.unionAll(
        docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val parts = (0 to 2).map(i => IncrementalIndex.ingestExact(
        s, s"$r/s$i", all.filter(pmod(col("doc_id"), lit(3)) === i),
        "doc_id", "text")._2)
      parts.reduce(_.unionAll(_)).write.parquet(s"$r/verdicts")
      parts.foreach(_.unpersist(blocking = false))
    }

  /** SimHash shard fixture (d66): originals at a/, mutants at b/,
    * shard-local pairs at pairs/.
    */
  private def simHashShards(s: SparkSession, dir: String): String =
    fixtureRoot(s"simhash|$dir") { r =>
      import graft.operators.IncrementalIndex
      val corpus = nearDupCorpus(tbl(s, dir, "documents"))
      val (_, pA) = IncrementalIndex.ingestSimHash(
        s, s"$r/a", corpus.filter(col("doc_id") < 100000), "doc_id", "text")
      val (_, pB) = IncrementalIndex.ingestSimHash(
        s, s"$r/b", corpus.filter(col("doc_id") >= 100000), "doc_id", "text")
      pA.unionAll(pB).write.parquet(s"$r/pairs")
      Seq(pA, pB).foreach(_.unpersist(blocking = false))
    }

  /** Prefix-filter shard fixture (d67): each shard froze its OWN
    * element order over its token sets; shard-local exact pairs at
    * pairs/. d67 clones a/ — the merge re-sorts donor rows into the
    * adopter's frozen order.
    */
  private def prefixShards(s: SparkSession, dir: String): String =
    fixtureRoot(s"prefix|$dir") { r =>
      import graft.operators.IncrementalIndex
      import org.apache.spark.sql.graftbridge.ColumnBridge
      def sh(c: Column) = ColumnBridge.column(
        graft.functions.ShingleHashesMd5(ColumnBridge.expression(c), 5))
      val sets = nearDupCorpus(tbl(s, dir, "documents"))
        .select(col("doc_id").as("id"), explode(sh(col("text"))).as("elem"))
        .distinct().persist()
      val (_, pA) = IncrementalIndex.bootstrapPrefixJaccard(
        s, s"$r/a", sets.filter(col("id") < 100000))
      val (_, pB) = IncrementalIndex.bootstrapPrefixJaccard(
        s, s"$r/b", sets.filter(col("id") >= 100000))
      pA.unionAll(pB).write.parquet(s"$r/pairs")
      Seq(pA, pB).foreach(_.unpersist(blocking = false))
      sets.unpersist(blocking = false)
    }

  /** Mod-3 SimHash shard fixture (d73's fan-in geometry: mutant id =
    * orig + 100000, 100000 % 3 ≠ 0, so every twin pair is cross-shard).
    */
  private def simHashMod3Shards(s: SparkSession, dir: String): String =
    fixtureRoot(s"simhash3|$dir") { r =>
      import graft.operators.IncrementalIndex
      val corpus = nearDupCorpus(tbl(s, dir, "documents"))
      val parts = (0 to 2).map(i => IncrementalIndex.ingestSimHash(
        s, s"$r/s$i", corpus.filter(pmod(col("doc_id"), lit(3)) === i),
        "doc_id", "text")._2)
      parts.reduce(_.unionAll(_)).write.parquet(s"$r/pairs")
      parts.foreach(_.unpersist(blocking = false))
    }

  /** Mod-3 SRP shard fixture (d74): three shards frozen under ONE
    * SrpParams (the N-way soundness contract); twin pairs cross-shard
    * by the +100000 offset.
    */
  private def srpMod3Shards(s: SparkSession, dir: String): String =
    fixtureRoot(s"srp3|$dir") { r =>
      import graft.operators.IncrementalIndex
      val base = tbl(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val mut = base.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("v"))
      val corpus = base.union(mut)
      val p = IncrementalIndex.SrpParams(dim = 64,
        bitsPerTable = Similarity.srpBitsFor(base.count() * 2), bucketCap = 256)
      val parts = (0 to 2).map(i => IncrementalIndex.ingestEmbeddings(
        s, s"$r/s$i", corpus.filter(pmod(col("vec_id"), lit(3)) === i),
        "vec_id", "v", p)._2)
      parts.reduce(_.unionAll(_)).write.parquet(s"$r/pairs")
      parts.foreach(_.unpersist(blocking = false))
    }

  /** Mod-3 prefix-filter shard fixture (d75): each shard froze its OWN
    * element order; twin pairs cross-shard by the +100000 offset.
    */
  private def prefixMod3Shards(s: SparkSession, dir: String): String =
    fixtureRoot(s"prefix3|$dir") { r =>
      import graft.operators.IncrementalIndex
      import org.apache.spark.sql.graftbridge.ColumnBridge
      def sh(c: Column) = ColumnBridge.column(
        graft.functions.ShingleHashesMd5(ColumnBridge.expression(c), 5))
      val sets = nearDupCorpus(tbl(s, dir, "documents"))
        .select(col("doc_id").as("id"), explode(sh(col("text"))).as("elem"))
        .distinct().persist()
      val parts = (0 to 2).map(i => IncrementalIndex.bootstrapPrefixJaccard(
        s, s"$r/s$i", sets.filter(pmod(col("id"), lit(3)) === i))._2)
      parts.reduce(_.unionAll(_)).write.parquet(s"$r/pairs")
      parts.foreach(_.unpersist(blocking = false))
      sets.unpersist(blocking = false)
    }

  /** SRP shard fixture (e25): base vectors at a/, perturbed twins at
    * b/ — both frozen under IDENTICAL SrpParams derived from the corpus
    * size (how a sharded provisioning constructs them; the consumer
    * re-derives the same params deterministically).
    */
  private def srpShards(s: SparkSession, dir: String): String =
    fixtureRoot(s"srp|$dir") { r =>
      import graft.operators.IncrementalIndex
      val base = tbl(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val mut = base.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("v"))
      val p = IncrementalIndex.SrpParams(dim = 64,
        bitsPerTable = Similarity.srpBitsFor(base.count() * 2), bucketCap = 256)
      val (_, pA) = IncrementalIndex.ingestEmbeddings(s, s"$r/a", base, "vec_id", "v", p)
      val (_, pB) = IncrementalIndex.ingestEmbeddings(s, s"$r/b", mut, "vec_id", "v", p)
      pA.unionAll(pB).write.parquet(s"$r/pairs")
      Seq(pA, pB).foreach(_.unpersist(blocking = false))
    }

  /** TF-IDF shard fixture (d68): even/odd splits at a/ and b/, each
    * frozen under its own (df, N). Read in place — the TF-IDF merge
    * writes a fresh root and never touches the shards.
    */
  private def tfidfShards(s: SparkSession, dir: String): String =
    fixtureRoot(s"tfidf|$dir") { r =>
      import graft.operators.IncrementalIndex
      val docs = tbl(s, dir, "documents")
      IncrementalIndex.bootstrapTfidf(
        s, s"$r/a", docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      IncrementalIndex.bootstrapTfidf(
        s, s"$r/b", docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    }

  /** Demo-corpus cap for the 8-centroid SemDeDup gates (e22, e27, e28,
    * st28). Their oracle-expressible frozen-8 geometry makes within-cell
    * verify candidates grow QUADRATICALLY with clique depth — the sf1
    * rehearsal's only super-linear rows (e22/e27/st28 at 129/155/178 s,
    * the named mechanism in SCALING.md; production geometry e24 measures
    * 1.57 on the same corpus). The mechanism is attributed and priced,
    * so the demo gates bound their input instead of re-paying it every
    * rehearsal: vectors with id ≥ the cap (and their +100000 mutants,
    * derived AFTER the cap) are excluded on BOTH sides — the engine
    * filters base here and every oracle carries the same
    * `WHERE vec_id < 4096`. Inert at every gate/bench SF (sf0.001/0.01
    * hold 500 vectors, sf0.1 holds 2000 — the driver gate corpus is
    * untouched); binding only on 10×+ rehearsal replicas (20000+), where
    * it keeps each original plus its first replica — cliques still
    * exist, the demo semantics still exercise, the quadratic tail is
    * bounded. e24 keeps the FULL corpus: it is the production-geometry
    * scale row.
    */
  private val semDemoCap = 4096L

  /** SemDeDup shard fixture (e27): adopter index over the low-id half
    * (frozen on centroids 0..7, its bootstrap verdicts snapshotted at
    * verdicts/) at a/; donor index over the high-id half under a
    * DIFFERENT frozen geometry (centroids 8..15) at b/ — so the merge
    * gate genuinely pins the re-assignment (a merge carrying donor cids
    * over would hash-mismatch). e27 clones a/ — the merge ingests the
    * donor's members into it.
    */
  private def semDedupShards(s: SparkSession, dir: String): String =
    fixtureRoot(s"semdedup|$dir") { r =>
      import graft.operators.IncrementalIndex
      val base = tbl(s, dir, "embeddings")
        .filter(col("vec_id") < semDemoCap) // see semDemoCap — oracle carries the same bound
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val mut = base.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("v"))
      val corpus = base.union(mut)
      val cents = base.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("cvec"))
      val donorCents = base.filter(col("vec_id") >= 8 && col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("v").as("cvec"))
      val splitId = base.count() / 2
      val k1 = IncrementalIndex.bootstrapSemDedup(
        s, s"$r/a", corpus.filter(col("vec_id") < splitId), "vec_id", "v",
        cents, threshold = 0.99, cap = 2048).verdicts
      k1.write.parquet(s"$r/verdicts")
      k1.unpersist(blocking = false)
      IncrementalIndex.bootstrapSemDedup(
        s, s"$r/b", corpus.filter(col("vec_id") >= splitId), "vec_id", "v",
        donorCents, threshold = 0.99, cap = 2048)
        .verdicts.unpersist(blocking = false)
    }

  /** SemDeDup RANGE-shard fixture (e28's N-way geometry): the corpus
    * (originals [0, N) ∪ mutants [100000, 100000+N)) cut into FOUR
    * contiguous id ranges — adopter a/ on the low half of the
    * originals (frozen on centroids 0..7, e22's oracle geometry, its
    * bootstrap verdicts snapshotted at verdicts/) and donors d1/d2/d3
    * on the remaining ranges, EACH frozen under its own distinct
    * centroid set (8..15 / 16..23 / 24..31) so the fan-in genuinely
    * re-assigns all of them. Every orig↔mutant twin is cross-range by
    * the +100000 offset (orig in a∪d1, mutant in d2∪d3), so every twin
    * pair is the one-pass merge's to find. e28 clones a/ — the merge
    * ingests the donors' members into it.
    */
  private def semDedupRangeShards(s: SparkSession, dir: String): String =
    fixtureRoot(s"semdedupR|$dir") { r =>
      import graft.operators.IncrementalIndex
      val base = tbl(s, dir, "embeddings")
        .filter(col("vec_id") < semDemoCap) // see semDemoCap — oracle carries the same bound
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val mut = base.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("v"))
      val corpus = base.union(mut)
      val n = base.count()
      def cents(from: Long) = base
        .filter(col("vec_id") >= from && col("vec_id") < from + 8)
        .select(col("vec_id").as("cid"), col("v").as("cvec"))
      val kA = IncrementalIndex.bootstrapSemDedup(
        s, s"$r/a", corpus.filter(col("vec_id") < n / 2), "vec_id", "v",
        cents(0), threshold = 0.99, cap = 2048).verdicts
      kA.write.parquet(s"$r/verdicts")
      kA.unpersist(blocking = false)
      val ranges = Seq(
        ("d1", col("vec_id") >= n / 2 && col("vec_id") < 100000L),
        ("d2", col("vec_id") >= 100000L && col("vec_id") < 100000L + n / 2),
        ("d3", col("vec_id") >= 100000L + n / 2))
      ranges.zipWithIndex.foreach { case ((name, pred), i) =>
        IncrementalIndex.bootstrapSemDedup(
          s, s"$r/$name", corpus.filter(pred), "vec_id", "v",
          cents(8L * (i + 1)), threshold = 0.99, cap = 2048)
          .verdicts.unpersist(blocking = false)
      }
    }

  /** Mod-3 TF-IDF shard fixture (d76's N-way geometry): three shards
    * bootstrapped on doc_id mod 3, each frozen under its OWN (df, N).
    * Read in place — the TF-IDF merge writes a fresh root and never
    * touches the shards.
    */
  private def tfidfMod3Shards(s: SparkSession, dir: String): String =
    fixtureRoot(s"tfidf3|$dir") { r =>
      import graft.operators.IncrementalIndex
      val docs = tbl(s, dir, "documents")
      (0 to 2).foreach(i => IncrementalIndex.bootstrapTfidf(
        s, s"$r/s$i", docs.filter(pmod(col("doc_id"), lit(3)) === i),
        "doc_id", "text"))
    }

  private def minHashPairs(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, s"pairs|$dir") {
      Dedup.minHashLsh(nearDupCorpus(tbl(s, dir, "documents")), "doc_id", "text",
        numHashes = 128, bands = 32, shingleN = 3, threshold = 0.8)
    }

  /** Incremental MinHash index maintenance (d54): the mutant corpus is
    * partitioned into two batches such that some true near-dup pairs are
    * internal to batch 1, some internal to batch 2, and some cross the
    * boundary (split on orig-id mod 3: originals with r<2 + mutants with
    * r=0 first; the rest second — a pair (orig d, mutant d+100000) shares
    * r, so r=0 pairs are intra-batch-1, r=1 cross, r=2 intra-batch-2).
    * Each batch is ingested into a fresh versioned signature index
    * (signatures computed for THAT batch only; candidates only touch the
    * batch; verification reads STORED shingle sets); the accumulated
    * pairs must equal d2's one-shot exact oracle — the proof that
    * incremental == one-shot.
    */
  private def incrementalMinHashPairs(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, s"incrpairs|$dir") {
      import graft.operators.IncrementalIndex
      val root = tmpdir("graft-incr-idx")
      val corpus = nearDupCorpus(tbl(s, dir, "documents"))
      val r = pmod(col("doc_id") % 100000, lit(3))
      val isMut = col("doc_id") >= 100000
      val b1 = corpus.filter((!isMut && r < 2) || (isMut && r === 0))
      val b2 = corpus.filter((!isMut && r === 2) || (isMut && r > 0))
      val (_, p1) = IncrementalIndex.ingestMinHash(s, root, b1, "doc_id", "text")
      val (_, p2) = IncrementalIndex.ingestMinHash(s, root, b2, "doc_id", "text")
      // ingests emit disjoint pair sets by construction (pairs touching a
      // batch, index×index excluded) — union, own the materialized result
      val out = p1.unionAll(p2).persist()
      out.count()
      p1.unpersist(blocking = false)
      p2.unpersist(blocking = false)
      out
    }

  /** Support-filtered co-purchase edges (part pairs sharing ≥2 orders),
    * materialized ONCE per (session, scale factor) and shared by the
    * graph queries (q74 triangles, q87 BFS, q88 PageRank) — the
    * iterative-graph rule from SCALING.md: build the edge list once,
    * iterate on the materialized result. `localCheckpoint` truncates the
    * self-join lineage so downstream iterations replan from the
    * materialized blocks.
    */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, s"copurch|$dir") {
      // Basket cap: the per-order self-join is quadratic in basket size,
      // and at corpus scale a single bot/aggregator order with 10^5
      // distinct parts would contribute C(10^5, 2) ≈ 5·10^9 pairs — the
      // zipf-skew rehearsal's hot orders hit exactly this. Orders keep
      // their first 256 parts (deterministic by part id); TPC-H-shaped
      // baskets are ≤7 parts, so the cap is inert at every gate SF and
      // only truncates pathological mega-baskets, whose co-purchase
      // pairs are noise (standard market-basket practice). The q74/q87/
      // q88 oracles mirror this cap in their li CTE, so a future
      // fixture with a mega-basket truncates identically in both
      // engines instead of silently diverging.
      val basketCap = 256
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
        .withColumn("bn", row_number().over(
          Window.partitionBy("ok").orderBy("p")))
        .filter(col("bn") <= basketCap).drop("bn")
      li.as("a")
        .join(li.as("b"), col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("u"), col("b.p").as("v"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2).select("u", "v")
        .localCheckpoint()
    }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q5_partition_write_counts")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ----------------------------------------------------- parity (SURVEY §2.11)

    // S1/P4 — incremental scan: bookmark predicate pushed into the source.
    "q1_incremental_scan" -> ((s, dir) =>
      Bookmarks.filterNew(
          tbl(s, dir, "orders"),
          TableConfig("orders", Seq("o_orderkey"), SortOrder.Asc),
          Map("o_orderkey" -> "1200"))
        .orderBy("o_orderkey")),

    // P1 — ApplyMapping: select + rename + cast.
    "q2_apply_mapping" -> ((s, dir) =>
      ApplyMapping(tbl(s, dir, "lineitem"), Seq(
        ApplyMapping.Mapping("l_orderkey", "order_id", "bigint"),
        ApplyMapping.Mapping("l_linenumber", "line_no", "int"),
        ApplyMapping.Mapping("l_quantity", "qty", "double"),
        ApplyMapping.Mapping("l_returnflag", "rflag", "string")))
        .orderBy("order_id", "line_no")),

    // P2/A2 — the DropNullFields prepass: per-column non-null counts.
    "q3_dropnull_counts" -> ((s, dir) =>
      tbl(s, dir, "customer").agg(
        count(col("c_custkey")).as("c1"), count(col("c_name")).as("c2"),
        count(col("c_nationkey")).as("c3"), count(col("c_acctbal")).as("c4"),
        count(col("c_mktsegment")).as("c5"))),

    // P3/A1 — distinct partition values.
    "q4_distinct_partitions" -> ((s, dir) =>
      tbl(s, dir, "orders").select("o_orderstatus").distinct().orderBy("o_orderstatus")),

    // S3/C4 — partitioned write + readback: per-partition row counts.
    "q5_partition_write_counts" -> ((s, dir) => {
      val out = tmpdir("graft-q5")
      PartitionedSink.write(tbl(s, dir, "orders"), out, "parquet", Seq("o_orderstatus"))
      s.read.parquet(out).groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")
    }),

    // S3 — write/readback fidelity (row count + exact decimal sum).
    "q6_write_readback_agg" -> ((s, dir) => {
      val out = tmpdir("graft-q6")
      PartitionedSink.write(tbl(s, dir, "orders"), out, "parquet", Seq.empty)
      s.read.parquet(out).agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("st"))
    }),

    // S2 — empty probe.
    "q7_empty_probe" -> ((s, dir) =>
      tbl(s, dir, "orders").filter(col("o_orderkey") > 999999999L)
        .agg(count(lit(1)).as("n"))),

    // P4/A3 — bookmark advance (ASC commits hi, DESC commits lo).
    "q8_bookmark_advance" -> ((s, dir) =>
      tbl(s, dir, "orders").filter(col("o_orderkey") > 1200L)
        .agg(max(col("o_orderkey")).as("hi"), min(col("o_orderkey")).as("lo"))),

    // D2/D3/S1→S3 — full incremental ingest e2e: two bookmark-gated runs
    // (≤750, then the rest) must reproduce the one-shot table exactly.
    "q9_incremental_ingest" -> ((s, dir) => {
      import graft.catalog.InMemoryCatalog
      import graft.sources.ParquetSource
      import graft.state.FileBookmarkStore
      val work = tmpdir("graft-q9")
      val full = tbl(s, dir, "orders")
      full.filter(col("o_orderkey") <= 750).write.parquet(s"$work/src1/orders.parquet")
      full.write.parquet(s"$work/src2/orders.parquet")
      val cfg = graft.config.JobConfig(
        jobName = "q9", sourceTablePrefix = "", targetLocation = s"$work/target",
        targetDatabase = "db", targetFormat = "parquet",
        tables = Seq(TableConfig("orders", Seq("o_orderkey"), SortOrder.Asc,
          Some("o_orderstatus"))))
      val catalog = new InMemoryCatalog
      val bookmarks = new FileBookmarkStore(s"$work/bookmarks.json")
      new Driver(s, cfg, new ParquetSource(s"$work/src1"), catalog, bookmarks).run()
      new Driver(s, cfg, new ParquetSource(s"$work/src2"), catalog, bookmarks).run()
      s.read.parquet(s"$work/target/orders").agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("st"),
        max(col("o_orderkey")).as("hi"))
    }),

    // S4 — CSV round-trip (header + ',' delimiter per the reference).
    "q10_csv_roundtrip" -> ((s, dir) => {
      val out = tmpdir("graft-q10")
      val src = tbl(s, dir, "orders")
      PartitionedSink.write(src, out, "csv", Seq.empty)
      s.read.schema(src.schema).option("header", "true").csv(out).agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("st"),
        max(col("o_orderkey")).as("hi"))
    }),

    // S4 — ORC round-trip (the columnar alternative for Hive-ecosystem
    // interop).
    "q30_orc_roundtrip" -> ((s, dir) => {
      val out = tmpdir("graft-q30")
      val src = tbl(s, dir, "orders")
      PartitionedSink.write(src, out, "orc", Seq.empty)
      s.read.orc(out).agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("st"),
        max(col("o_orderkey")).as("hi"))
    }),

    // S4 — JSON round-trip.
    "q11_json_roundtrip" -> ((s, dir) => {
      val out = tmpdir("graft-q11")
      val src = tbl(s, dir, "orders")
      PartitionedSink.write(src, out, "json", Seq.empty)
      s.read.schema(src.schema).json(out).agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("st"),
        max(col("o_orderkey")).as("hi"))
    }),

    // Star join: broadcast dimensions, shuffled fact aggregation.
    "q12_star_join" -> ((s, dir) =>
      tbl(s, dir, "orders").as("o")
        .join(broadcast(tbl(s, dir, "customer").as("c")),
          col("o.o_custkey") === col("c.c_custkey"))
        .join(broadcast(tbl(s, dir, "nation").as("n")),
          col("c.c_nationkey") === col("n.n_nationkey"))
        .groupBy(col("n.n_name"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o.o_totalprice").cast("decimal(18,2)")).cast("double").as("st"))
        .orderBy("n_name")),

    // Global top-k (TakeOrderedAndProject — no full sort materializes).
    "q13_topk" -> ((s, dir) =>
      tbl(s, dir, "orders").select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)),

    // Set difference: customers with F orders but no O orders.
    "q14_set_ops" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select("o_custkey").distinct()
        .except(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
        .orderBy("o_custkey")
    }),

    // ------------------------------------------------- dedup (north-star)

    // Exact dedup by normalized fingerprint.
    "d1_dedup_exact" -> ((s, dir) =>
      Dedup.exact(tbl(s, dir, "documents"), "doc_id", "text").orderBy("fp")),

    // MinHash-LSH near-dup pairs (verified with exact Jaccard ≥ 0.8).
    "d2_dedup_minhash" -> ((s, dir) => minHashPairs(s, dir).orderBy("a", "b")),

    // SimHash near-dup pairs (hamming ≤ 3), over the cross-engine md5-60bit
    // hash so the DuckDB oracle can reproduce the signatures exactly.
    "d3_dedup_simhash" -> ((s, dir) =>
      Dedup.simHashPairsPortable(nearDupCorpus(tbl(s, dir, "documents")), "doc_id", "text",
          maxHamming = 3, shingleN = 3)
        .orderBy("a", "b")),

    // Brute-force n-gram Jaccard baseline: top-20 most-similar pairs over a
    // bounded window (doc_id < 500) — the quadratic baseline stays O(1) as
    // the corpus grows; the LSH path (d2) is the at-scale variant.
    "d4_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardAllPairs(
          tbl(s, dir, "documents").filter(col("doc_id") < 500), "doc_id", "text", shingleN = 3)
        .orderBy(col("jaccard").desc, col("a"), col("b")).limit(20)),

    // Token counting.
    "d5_token_count" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")),

    // Marker-word language ID.
    "d6_lang_id" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")),

    // Quality scoring (rounded for cross-engine hash stability).
    "d7_quality_score" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          round(TextFunctions.qualityScore(col("text")), 6).as("quality"))
        .orderBy("doc_id")),

    // Document fingerprinting.
    "d8_fingerprint" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // Near-dup clusters from verified MinHash pairs (min-label propagation;
    // 4 rounds cover the shallow diameters near-dup graphs produce —
    // checked against the oracle's full transitive closure).
    "d9_dedup_clusters" -> ((s, dir) =>
      // clusters() may return a persisted labels table (distributed branch);
      // routing it through the session cache gives that persist an owner
      cachedDf(s, s"clusters|$dir")(Dedup.clusters(minHashPairs(s, dir), iters = 4))
        .orderBy("doc", "cluster")),

    // Distinct-count aggregates (exact; the approx twins are spec-tested).
    "q17_count_distinct" -> ((s, dir) =>
      tbl(s, dir, "orders").agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderstatus"), col("o_orderpriority")).as("n_status_prio"))),

    // Approximate distinct (HLL++): the cardinality primitive for a
    // 100 TB pipeline (exact distinct shuffles every key; the sketch is
    // mergeable map-side state). Oracle-gated via a bound check: the
    // engine emits the exact count plus a boolean that the estimate lands
    // within 5% — the oracle recomputes the exact count and expects TRUE.
    "q19_approx_distinct" -> ((s, dir) =>
      tbl(s, dir, "orders").agg(
          countDistinct(col("o_custkey")).as("n_exact"),
          approx_count_distinct(col("o_custkey"), 0.02).as("n_approx"))
        .select(col("n_exact"),
          (abs(col("n_approx") - col("n_exact")).cast("double") /
            col("n_exact").cast("double") <= 0.05).as("approx_ok"))),

    // HLL sketch build + UNION across groups (Apache DataSketches, built in
    // since Spark 3.5): per-status sketches merged to a global estimate —
    // the mergeable-state pattern that replaces a second global shuffle at
    // scale. Same bound-check oracle shape as q19.
    "q20_hll_sketch_union" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val perStatus = o.groupBy("o_orderstatus")
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      val unioned = perStatus.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_union"))
      o.agg(countDistinct(col("o_custkey")).as("n_exact"))
        .crossJoin(unioned)
        .select(col("n_exact"),
          (abs(col("n_union") - col("n_exact")).cast("double") /
            col("n_exact").cast("double") <= 0.05).as("union_ok"))
    }),

    // Exact interpolated quantiles (sort-based `percentile`, matching
    // DuckDB's quantile_cont) plus a bound-checked approx_percentile —
    // the sketch the 100 TB path uses (mergeable KLL-style state instead
    // of a global sort).
    "q21_quantiles" -> ((s, dir) =>
      tbl(s, dir, "orders").agg(
          expr("percentile(o_totalprice, 0.25)").as("p25"),
          expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.75)").as("p75"),
          expr("percentile(o_totalprice, 0.95)").as("p95"),
          expr("approx_percentile(o_totalprice, 0.5, 10000)").as("ap50"))
        .select(col("p25"), col("p50"), col("p75"), col("p95"),
          (abs(col("ap50") - col("p50")) / col("p50") <= 0.05).as("approx_ok"))),

    // Window-function suite: rank/dense_rank/row_number/ntile/lag/lead
    // over a total order (ties broken by key) — integer outputs only, so
    // the cross-engine hash is exact.
    "q22_window_suite" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_orderstatus"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          row_number().over(w).as("rn"),
          ntile(4).over(w).as("quartile"),
          lag(col("o_orderkey"), 1).over(w).as("prev_key"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"))
        .orderBy("o_orderkey")
    }),

    // Cube with GROUPING() markers: all four aggregation levels in one
    // pass (Spark expands grouping sets map-side; one shuffle total).
    "q23_cube" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio"),
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("st"))
        .orderBy(col("g_status"), col("g_prio"),
          asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),

    // Skew-safe two-phase salted aggregation: result must equal the plain
    // groupBy (oracle), while the first shuffle spreads any hot key over
    // 16 reducers. Decimal partials keep the two-phase sum exact (double
    // partial sums would not be associative).
    "q24_salted_agg" -> ((s, dir) =>
      Skew.saltedAgg(tbl(s, dir, "events"), Seq("event_type"), 16, Map(
          "n" -> (count(lit(1)), (c: Column) => sum(c)),
          "sv" -> (sum(col("value").cast("decimal(18,2)")), (c: Column) => sum(c))))
        .select(col("event_type"), col("n"), col("sv").cast("double").as("sv"))
        .orderBy("event_type")),

    // CDC latest-wins upsert: one surviving record per (user_id,
    // event_type) by newest ts (event_id tie-break) — the merge step of an
    // incremental ingest with late updates. WindowGroupLimit prunes
    // map-side before the shuffle.
    "q25_upsert_latest" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      tbl(s, dir, "events")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"),
          col("event_id").as("latest_event"), col("ts"), col("value"))
        .orderBy("user_id", "event_type")
    }),

    // Anti-join: customers with no orders (plans as a broadcast/shuffled
    // hash anti join, never a subquery-per-row).
    "q26_anti_join" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // Unpivot/melt: wide metrics to long (key, metric, value) — the
    // narrow-table reshape; map-side only, no shuffle.
    "q28_unpivot" -> ((s, dir) =>
      tbl(s, dir, "orders").filter(col("o_orderkey") <= 100)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("double").as("price"),
          col("o_custkey").cast("double").as("cust"))
        .unpivot(Array(col("o_orderkey")), Array(col("price"), col("cust")),
          "metric", "val")
        .orderBy("o_orderkey", "metric")),

    // Star-schema revenue rollup: one fact-fact shuffle join
    // (lineitem x orders), dimensions broadcast, status filter pushed to
    // the orders scan.
    "q29_star_revenue" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val o = tbl(s, dir, "orders").filter(col("o_orderstatus") === "O")
      val c = tbl(s, dir, "customer").select("c_custkey", "c_nationkey")
      val n = tbl(s, dir, "nation").select("n_nationkey", "n_name")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy("n_name")
    }),

    // Orders above their customer's average price, via exact decimal
    // cross-multiplication (price * n > sum) — no float division, so the
    // boundary is bit-identical across engines.
    "q33_above_avg" -> ((s, dir) => {
      val o = tbl(s, dir, "orders").select(col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      val agg = o.groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"), sum(col("price")).as("s"))
      o.join(agg, "o_custkey")
        .filter(col("price") * col("cnt") > col("s"))
        .groupBy("o_custkey").agg(count(lit(1)).as("n_above"))
        .orderBy("o_custkey")
    }),

    // Explicitly salted skew join: hot-key rows spread over 8 reducers,
    // small side replicated 8x — result must equal the plain join
    // (aggregated per key for a compact oracle).
    "q31_salted_join" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val dim = ev.select("event_type").distinct()
        .withColumn("type_len", length(col("event_type")).cast("int"))
      Skew.saltedJoin(ev, dim, Seq("event_type"), salts = 8)
        .groupBy("event_type", "type_len")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sv"))
        .orderBy("event_type")
    }),

    // Dynamic partition overwrite: rewrite ONLY the partitions present in
    // the patch batch (the idempotent re-run primitive for partitioned
    // incremental loads); untouched partitions must survive byte-for-byte.
    "q32_dynamic_overwrite" -> ((s, dir) => {
      val out = tmpdir("graft-q32")
      val orders = tbl(s, dir, "orders")
      PartitionedSink.write(orders, out, "parquet", Seq("o_orderstatus"))
      val patch = orders.filter(col("o_orderstatus") === "O")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try patch.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      finally prev match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None    => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      s.read.parquet(out).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("st"))
        .orderBy("o_orderstatus")
    }),

    // Monthly revenue rollup over the date dimension (date_trunc cast
    // back to DATE so both engines emit the same representation).
    "q35_monthly_revenue" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("m"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev"))
        .orderBy("m")),

    // Per-group exact quantiles (sort-based percentile, matching DuckDB's
    // quantile_cont semantics — interpolation proven exact by q21).
    "q27_group_quantiles" -> ((s, dir) =>
      tbl(s, dir, "orders").groupBy("o_orderstatus")
        .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.9)").as("p90"))
        .orderBy("o_orderstatus")),

    // Semi join: customers that have at least one order (the EXISTS
    // counterpart of q26's anti join).
    "q34_semi_join" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment").orderBy("c_custkey")
    }),

    // Scalar function suite: string/date/math over a projected scan.
    "q18_scalar_funcs" -> ((s, dir) =>
      tbl(s, dir, "orders").select(
          col("o_orderkey"),
          upper(substring(col("o_orderpriority"), 1, 1)).as("prio_code"),
          length(col("o_orderpriority")).as("prio_len"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          col("o_totalprice").cast("decimal(18,2)").cast("double").as("price2"),
          (col("o_orderkey") % 7).as("k7"))
        .orderBy("o_orderkey")),

    // Pivot: per-user event-type counts as columns (0-filled).
    "q15_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = tbl(s, dir, "events").groupBy("user_id")
        .pivot("event_type", types).agg(count(lit(1)))
      p.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("user_id")
    }),

    // Rollup: subtotals over (status, priority) with NULL subtotal rows.
    "q16_rollup" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)),

    // Bounded range join: purchases within 7 days after each signup
    // (bucketed equi-join + residual filter — no per-key nested loop).
    "ev7_range_join" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("sts"), col("event_id").as("signup_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("event_id").as("purchase_id"))
      graft.operators.RangeJoin.range(signups, purchases,
          Seq("user_id"), "sts", "pts", loSec = 0L, hiSec = 604800L)
        .groupBy("signup_id").agg(count(lit(1)).as("n_purchases"))
        .orderBy("signup_id")
    }),

    // Native sort-merge AS-OF join (custom LogicalPlan+Strategy+SparkPlan
    // via SparkSessionExtensions) — same semantics as ev5, one merge pass.
    "ev6_asof_native" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts").as("sts"))
        .agg(max(col("event_id")).as("signup_id"))
      org.apache.spark.sql.graftexec.NativeAsOf.asOf(purchases, signups,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "sts")
        .select(col("purchase_id"), col("user_id"), col("signup_id"))
        .orderBy("purchase_id")
    }),

    // Top distinctive term per doc: tf desc, then rarest (df asc), then
    // term — integer-only ranking (a float tf-idf would hash-diverge
    // across engines in the last ulp; the ordering is the same idea).
    "d10_top_terms" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val docs = tbl(s, dir, "documents")
        .repartition(64, col("doc_id")) // single-file input → spread the compute
      val tc = ColumnBridge.column(
        graft.functions.TermCounts(ColumnBridge.expression(col("text"))))
      // (doc, term, tf) with NO shuffle: the TermCounts expression counts
      // row-locally, so exploding its map never moves token occurrences —
      // the groupBy(doc, term) formulation shuffles every token instance
      val tf = docs.select(col("doc_id"), explode(tc))
        .select(col("doc_id"), col("key").as("term"), col("value").cast("long").as("tf"))
        .persist() // consumed twice (df build + join probe) — cache the
      val df = tf.groupBy("term").agg(count(lit(1)).as("df")) // counted rows, not the raw scan
      // top term per doc as a min_by hash-aggregate (partial agg map-side)
      // instead of a sort+window pass; (doc_id, term) rows are unique so
      // the composite ordering key is total and the result deterministic.
      // doc_id partitioning is preserved end-to-end → the final groupBy
      // reuses it; the df aggregation is the query's ONLY shuffle
      tf.join(broadcast(df), "term")
        .groupBy("doc_id")
        .agg(min_by(
          struct(col("term"), col("tf"), col("df")),
          struct((-col("tf")).as("o1"), col("df").as("o2"), col("term").as("o3"))).as("top"))
        .select(col("doc_id"), col("top.term").as("term"),
          col("top.tf").as("tf"), col("top.df").as("df"))
        .orderBy("doc_id")
    }),

    // Edit-distance near-dup over 48-char prefixes, with LOSSLESS length
    // blocking: lev(a,b) <= k implies |len(a)-len(b)| <= k, so bucketing
    // lengths at width k and joining each doc into its own and the next
    // bucket covers every qualifying pair without the all-pairs product.
    // Bounded subset (doc_id < 150) — the quadratic oracle stays O(1).
    "d11_edit_distance" -> ((s, dir) => {
      val k = 16
      val corpus = nearDupCorpus(tbl(s, dir, "documents").filter(col("doc_id") < 150))
        .select(col("doc_id"), substring(col("text"), 1, 48).as("t"))
      val withLen = corpus.withColumn("len", length(col("t")))
      val bucketed = withLen.select(col("doc_id"), col("len"),
        explode(array((col("len") / k).cast("int"),
          (col("len") / k).cast("int") + 1)).as("bkt"))
      val cand = bucketed.as("l").join(bucketed.as("r"),
          col("l.bkt") === col("r.bkt") && col("l.doc_id") < col("r.doc_id") &&
            abs(col("l.len") - col("r.len")) <= k)
        .select(col("l.doc_id").as("a"), col("r.doc_id").as("b")).distinct()
      val ta = corpus.select(col("doc_id").as("a"), col("t").as("ta"))
      val tb = corpus.select(col("doc_id").as("b"), col("t").as("tb"))
      cand.join(broadcast(ta), "a").join(broadcast(tb), "b")
        .select(col("a"), col("b"), levenshtein(col("ta"), col("tb")).as("dist"))
        .filter(col("dist") <= k)
        .orderBy("a", "b")
    }),

    // Bigram OOV-rate quality scoring: train a bigram vocabulary on one
    // corpus slice, score the rest by out-of-vocabulary occurrence counts
    // — the train/apply vocabulary join every LM-data quality filter
    // needs. Integer outputs keep the cross-engine hash exact.
    "d12_bigram_oov" -> ((s, dir) => {
      val toksCol = filter(split(lower(col("text")), "\\s+"),
        t => length(t) > 0)
      val bigrams = tbl(s, dir, "documents")
        .select(col("doc_id"), toksCol.as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
      val vocab = bigrams.filter(col("doc_id") < 50)
        .select("bigram").distinct().withColumn("seen", lit(1))
      bigrams.filter(col("doc_id") >= 50)
        .join(vocab, Seq("bigram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("seen").isNull, 1).otherwise(0)).as("n_oov"))
        .orderBy("doc_id")
    }),

    // Exact heavy hitters: terms present in >= 5% of documents (threshold
    // computed from the corpus size, so the semantics hold at every scale
    // factor). Map keys from TermCounts are already per-doc-distinct, so
    // the document frequency is one count per (doc, term), no dedup pass.
    "d13_heavy_hitters" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val docs = tbl(s, dir, "documents")
      val threshold = math.ceil(docs.count() * 0.05).toLong
      val tc = ColumnBridge.column(
        graft.functions.TermCounts(ColumnBridge.expression(col("text"))))
      docs.select(col("doc_id"), explode(map_keys(tc)).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .filter(col("df") >= threshold)
        .orderBy(col("df").desc, col("term"))
    }),

    // Fixed-width document-length histogram (the profiling primitive for
    // corpus length filtering) — one hash aggregate on the bucket id.
    "d14_length_histogram" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .groupBy((col("n_chars") / 200).cast("bigint").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // -------------------------------------------- similarity (north-star)

    // Exact brute-force cosine top-5 (query side broadcast).
    "e1_knn_brute" -> ((s, dir) => {
      val embs = tbl(s, dir, "embeddings")
      Similarity.bruteForceTopK(
          embs, embs.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // SRP-LSH ANN top-5 (approximate). Hash-gated via the q19/q20
    // bound-check pattern: the query runs BOTH the LSH fast path and the
    // exact brute-force twin, computes aggregate recall@5, and emits
    // (n_exact, recall_ok) where the oracle recomputes n_exact (8 queries
    // × 5 slots) and expects recall_ok = TRUE. The fast path still
    // executes end-to-end — the bound check just makes its quality a
    // hash-checkable fact instead of spec-only lore.
    "e2_knn_lsh" -> ((s, dir) => {
      val embs = tbl(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") < 8)
      // 16 tables × adaptive bits: on THIS corpus (pure-random vectors,
      // max pairwise cos ≈ 0.51) recall needs permissive buckets, so the
      // occupancy target is a loose 4096 with the historical 4-bit floor
      // (gate/bench SFs all land on it — clustered real-world embeddings
      // warrant more bits). With FIXED bits a bucket-probe's match count
      // grows linearly with the corpus — per query that approaches
      // brute-force cost, the same unenforced-scaling gap cellsFor closes
      // for IVF; buckets ∝ n keeps per-query candidates ~constant.
      val bits = Similarity.srpBitsFor(embs.count(), targetOccupancy = 4096, floor = 4)
      val approx = Similarity.lshTopK(
        embs, queries, "vec_id", "embedding", k = 5, dim = 64,
        numTables = 16, bitsPerTable = bits)
      val exact = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5)
      recallBound(approx, exact, threshold = 0.5)
    }),

    // Embedding near-duplicate pairs (cosine ≥ 0.99 against perturbed
    // copies). Two scale guards: bitsPerTable grows with corpus size
    // (buckets ∝ n keeps expected occupancy ~16 — with FIXED bits the
    // within-bucket pairwise term is quadratic in corpus size; the r6
    // rehearsal measured 55x at 10x data before this) and bucketCap=256
    // hard-bounds any single bucket regardless (mega-clique insurance).
    // At the gate SFs the adaptive formula lands on the historical 8
    // bits, so the exact-equality brute-force oracle is unchanged;
    // SemDedupCapSpec proves the capped path loses nothing when engaged.
    "e3_embedding_neardup" -> ((s, dir) => {
      val base = tbl(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val mut = base.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("v"))
      val bits = Similarity.srpBitsFor(base.count() * 2)
      Dedup.embeddingNearDupLsh(base.union(mut), "vec_id", "v", threshold = 0.99,
          dim = 64, bitsPerTable = bits, bucketCap = 256)
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos6"))
        .orderBy("a", "b")
    }),

    // ------------------------------------------------ events (north-star)

    // Tumbling-window aggregation (batch twin of st1).
    "ev1_hourly_agg" -> ((s, dir) =>
      StreamingOps.hourlyAgg(tbl(s, dir, "events")).orderBy("event_type", "h")),

    // JSON payload extraction.
    "ev2_json_extract" -> ((s, dir) =>
      tbl(s, dir, "events")
        .select(col("event_id"), get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .orderBy("event_id")),

    // Sessionization (30-min gap) via window functions.
    "ev3_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gap = unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))
      val newSess = when(gap.isNull || gap > 1800, 1).otherwise(0)
      tbl(s, dir, "events")
        .withColumn("sid", sum(newSess).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id")
        .agg(max(col("sid")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // Session windows via the built-in session_window (gap-merge semantics
    // on exact micros: a new session starts when the gap is ≥ 30 min).
    "ev4_session_window" -> ((s, dir) =>
      tbl(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
        .orderBy("user_id")),

    // SRP-LSH with a degenerate bucket (0 sign bits): every pair
    // collides, so the result must equal brute force exactly — the
    // hash-checked gate over the LSH scoring/dedup/top-k machinery
    // (mirrors e5 for IVF; e2 stays the approximate production path).
    "e6_knn_lsh_full" -> ((s, dir) => {
      val embs = tbl(s, dir, "embeddings")
      Similarity.lshTopK(
          embs, embs.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5,
          dim = 64, numTables = 1, bitsPerTable = 0)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // IVF with FULL probe (nprobe = k cells): every query scores every
    // cell, so the result must equal brute force exactly — a hash-checked
    // oracle over the whole IVF machinery (train determinism, cell
    // assignment, probe ranking, re-rank). e4 (partial probe) stays the
    // approximate production path.
    "e5_knn_ivf_full" -> ((s, dir) => {
      val embs = tbl(s, dir, "embeddings")
      // cellsFor: k follows the corpus (√N regime; gate SFs land on the
      // historical 16, so the exact-equality oracle is unchanged there)
      val cells = graft.operators.Ivf.cellsFor(embs.count())
      val centroids = graft.operators.Ivf.train(embs, "embedding", k = cells,
        sampleSize = math.max(4096, 8 * cells))
      graft.operators.Ivf.topK(
          embs, embs.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5,
          centroids, nprobe = cells)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // PQ ANN with FULL re-rank: the product-quantization machinery
    // (per-subspace codebooks, 8-byte codes, per-query ADC tables, window
    // prune, broadcast re-rank) runs end-to-end, and re-ranking every
    // candidate makes the result equal brute force exactly — the
    // hash-checked gate over the PQ plumbing (same pattern as e5 for IVF).
    "e7_knn_pq_full" -> ((s, dir) => {
      val embs = tbl(s, dir, "embeddings")
      val books = graft.operators.Pq.train(embs, "embedding", dim = 64)
      graft.operators.Pq.topK(
          embs, embs.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5,
          books, m = 8, ksub = 16, dsub = 8, candidates = 1 << 30)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // PQ ANN fast path: top-40 by compressed ADC scan, exact re-rank of
    // only those candidates (approximate; hash-gated via the recall
    // bound-check — see e2 for the pattern).
    "e8_knn_pq" -> ((s, dir) => {
      val embs = tbl(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") < 8)
      val books = graft.operators.Pq.train(embs, "embedding", dim = 64)
      val approx = graft.operators.Pq.topK(
        embs, queries, "vec_id", "embedding", k = 5,
        books, m = 8, ksub = 16, dsub = 8, candidates = 40)
      val exact = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5)
      recallBound(approx, exact, threshold = 0.5)
    }),

    // IVF-PQ, full probe + full re-rank: the composed production ANN index
    // (coarse cells prune, PQ codes compress, ADC scan is an EQUI-join on
    // cell id) — hash-checked equal to brute force, gating the whole
    // composition end-to-end.
    "e9_knn_ivfpq_full" -> ((s, dir) => {
      val embs = tbl(s, dir, "embeddings")
      val cells = graft.operators.Ivf.cellsFor(embs.count())
      val centroids = graft.operators.Ivf.train(embs, "embedding", k = cells,
        sampleSize = math.max(4096, 8 * cells))
      val books = graft.operators.Pq.train(embs, "embedding", dim = 64)
      graft.operators.Pq.ivfPqTopK(
          embs, embs.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5,
          centroids, books, m = 8, ksub = 16, dsub = 8,
          nprobe = cells, candidates = 1 << 30)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // IVF-PQ fast path: probe 4 of 16 cells, top-40 ADC candidates, exact
    // re-rank (approximate; hash-gated via the recall bound-check — see e2
    // for the pattern; IVF-PQ compounds two approximations so its floor is
    // lower).
    "e10_knn_ivfpq" -> ((s, dir) => {
      val embs = tbl(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") < 8)
      val cells = graft.operators.Ivf.cellsFor(embs.count())
      val centroids = graft.operators.Ivf.train(embs, "embedding", k = cells,
        sampleSize = math.max(4096, 8 * cells))
      val books = graft.operators.Pq.train(embs, "embedding", dim = 64)
      val approx = graft.operators.Pq.ivfPqTopK(
        embs, queries, "vec_id", "embedding", k = 5,
        centroids, books, m = 8, ksub = 16, dsub = 8,
        nprobe = 4, candidates = 40)
      val exact = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5)
      recallBound(approx, exact, threshold = 0.4)
    }),

    // Trending top-3 event types per hour: windowed counts + per-window
    // rank (WindowGroupLimit prunes map-side before the rank shuffle).
    "ev9_trending" -> ((s, dir) => {
      val hourly = tbl(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("h").orderBy(col("n").desc, col("event_type"))
      hourly.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .orderBy("h", "rn")
    }),

    // Sliding windows: 10-minute windows every 5 minutes — each event
    // lands in exactly two windows; Spark expands the window list
    // map-side, so the shuffle carries (window, partials), not events x2.
    "ev8_sliding_window" -> ((s, dir) =>
      tbl(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sv"))
        .select(col("window.start").as("ws"), col("n"), col("sv"))
        .orderBy("ws")),

    // IVF ANN top-5: spherical k-means cells + nprobe search (approximate;
    // hash-gated via the recall bound-check — see e2 for the pattern).
    "e4_knn_ivf" -> ((s, dir) => {
      val embs = tbl(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") < 8)
      val cells = graft.operators.Ivf.cellsFor(embs.count())
      val centroids = graft.operators.Ivf.train(embs, "embedding", k = cells,
        sampleSize = math.max(4096, 8 * cells))
      val approx = graft.operators.Ivf.topK(
        embs, queries, "vec_id", "embedding", k = 5, centroids, nprobe = 4)
      val exact = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5)
      recallBound(approx, exact, threshold = 0.5)
    }),

    // AS-OF join: each purchase matched to the user's latest signup event
    // at-or-before it (union + ordered-window carry; DuckDB ASOF oracle).
    "ev5_asof_join" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts").as("sts"))
        .agg(max(col("event_id")).as("signup_id"))
      graft.operators.AsOfJoin.asOf(purchases, signups,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "sts")
        .select(col("purchase_id"), col("user_id"), col("signup_id"))
        .orderBy("purchase_id")
    }),

    // --------------------------------------------- streaming (north-star)

    // Structured Streaming file-source windowed agg == its batch twin.
    "st1_stream_hourly_agg" -> ((s, dir) => {
      val work = tmpdir("graft-st1")
      val raw = s.read.parquet(s"$dir/events.parquet") // pre-normalize schema
      replayEvents(s, dir, work, 1)
      StreamingOps.drainToMemory(s, work, raw.schema,
          df => StreamingOps.hourlyAgg(normalizeTs(df)), OutputMode.Complete())
        .orderBy("event_type", "h")
    }),

    // mapGroupsWithState running per-user counts; final state == batch counts.
    "st2_stream_user_counts" -> ((s, dir) => {
      val work = tmpdir("graft-st2")
      val raw = s.read.parquet(s"$dir/events.parquet")
      replayEvents(s, dir, work, 1)
      StreamingOps.drainToMemory(s, work, raw.schema,
          df => StreamingOps.runningUserCounts(s, normalizeTs(df)).toDF("user_id", "n"),
          OutputMode.Update())
        .groupBy("user_id").agg(max(col("n")).as("n_events"))
        .orderBy("user_id")
    }),

    // Streaming exact dedup: the input arrives TWICE across separate
    // micro-batches (maxFilesPerTrigger=1); state-store-backed
    // dropDuplicates must collapse them so downstream counts equal the
    // single-copy batch result — the streaming twin of d1's exact dedup.
    "st3_stream_dedup" -> ((s, dir) => {
      val work = tmpdir("graft-st3")
      val raw = s.read.parquet(s"$dir/events.parquet")
      replayEvents(s, dir, work, 2)
      StreamingOps.drainToMemory(s, work, raw.schema,
          df => normalizeTs(df).dropDuplicates("event_id")
            .groupBy("event_type").agg(count(lit(1)).as("n")),
          OutputMode.Complete(),
          readerOptions = Map("maxFilesPerTrigger" -> "1"))
        .orderBy("event_type")
    }),

    // Stream-static enrichment: the event stream joins a broadcast
    // dimension inside each micro-batch (no stream-side shuffle for the
    // join), then aggregates. Oracle = the batch join.
    "st4_stream_static_join" -> ((s, dir) => {
      val work = tmpdir("graft-st4")
      val raw = s.read.parquet(s"$dir/events.parquet")
      replayEvents(s, dir, work, 1)
      val dim = tbl(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      StreamingOps.drainToMemory(s, work, raw.schema,
          df => normalizeTs(df)
            .join(broadcast(dim), col("user_id") === col("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast("decimal(18,2)")).as("svd")),
          OutputMode.Complete())
        .select(col("c_mktsegment"), col("n"), col("svd").cast("double").as("sv"))
        .orderBy("c_mktsegment")
    }),

    // Stream-stream inner join with watermarks on both sides: clicks
    // joined to errors from the same user within 5 minutes. The time
    // bound + watermarks cap the join state Spark keeps per side — the
    // property that makes stream-stream joins runnable indefinitely.
    "st5_stream_stream_join" -> ((s, dir) => {
      val work = tmpdir("graft-st5")
      val raw = s.read.parquet(s"$dir/events.parquet")
      replayEvents(s, dir, work, 1)
      StreamingOps.drainToMemory(s, work, raw.schema,
          df => {
            val ev = normalizeTs(df)
            val clicks = ev.filter(col("event_type") === "click")
              .select(col("event_id").as("click_id"), col("user_id"),
                col("ts").as("cts"))
              .withWatermark("cts", "10 minutes")
            val errors = ev.filter(col("event_type") === "error")
              .select(col("event_id").as("error_id"), col("user_id").as("uid"),
                col("ts").as("ets"))
              .withWatermark("ets", "10 minutes")
            clicks.join(errors,
              col("user_id") === col("uid") &&
                col("ets") >= col("cts") &&
                col("ets") <= col("cts") + expr("INTERVAL 5 MINUTES"))
              .select(col("click_id"), col("error_id"), col("user_id"))
          },
          OutputMode.Append())
        .orderBy("click_id", "error_id")
    }),

    // ---------------------------------------------- multimodal (north-star)

    // Binary-column plumbing: prune → mapPartitions decode → typed meta.
    // Real PNG/JPEG/GIF fixture bytes (dimensions encode doc_id) plus a
    // deliberately-unparseable arm: decodeMetadata must byte-parse the
    // three real formats AND report the fourth honestly as `unknown`
    // instead of fabricating metadata. Fixture byte lengths are
    // closed-form (33 / 32 / 31 / id%100+10), so the oracle replays
    // everything arithmetically — same pattern as m3.
    "m1_media_metadata" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = (id % 512 + 1).toInt
        val h = (id % 256 + 1).toInt
        val bytes = (id % 4) match {
          case 0 => Multimodal.pngFixture(w, h)
          case 1 => Multimodal.jpegFixture(w, h)
          case 2 => Multimodal.gifFixture(Seq(w), Seq(h))
          case _ => Array.fill((id % 100 + 10).toInt)('x'.toByte)
        }
        (id, bytes)
      }.toDF("doc_id", "media")
      Multimodal.decodeMetadata(s, media).toDF().orderBy("doc_id")
    }),

    // Frame sampling: one row per 500-byte frame window, fan-out inside
    // mapPartitions (demuxer iterator shape).
    "m2_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(s,
          tbl(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("media")),
          every = 500)
        .toDF().orderBy("doc_id", "frame_idx")),

    // REAL header decode (no codecs needed): PNG/JPEG byte fixtures whose
    // dimensions encode doc_id — headerDecode must recover them from the
    // actual IHDR/SOF0 bytes. The oracle recomputes the encoding
    // arithmetically; the engine side proves the byte-level parse.
    "m3_media_header_decode" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = (id % 512 + 1).toInt
        val h = (id % 256 + 1).toInt
        val bytes =
          if (id % 2 == 0) Multimodal.pngFixture(w, h)
          else Multimodal.jpegFixture(w, h)
        (id, bytes)
      }.toDF("doc_id", "media")
      Multimodal.decodeMetadata(s, media).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("format"))
        .orderBy("doc_id")
    }),

    // REAL audio header decode: PCM WAV fixtures whose shape encodes
    // doc_id — wavHeaderDecode must walk the actual RIFF chunk chain
    // (fmt + data with honest payload sizes) to recover it.
    "m4_wav_header_decode" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
        val rate = 8000 * (1 + (id % 3).toInt)
        val ch = 1 + (id % 2).toInt
        val n = (id % 1000 + 1).toInt
        (id, Multimodal.wavFixture(rate, ch, 16, n))
      }.toDF("doc_id", "media")
      Multimodal.decodeAudioMetadata(s, media).toDF().orderBy("doc_id")
    }),

    // REAL multi-frame extraction from real GIF container bytes: the
    // frame count, offsets, and per-frame dimensions all come from
    // walking the actual block chain — the honest upgrade of m2's
    // byte-stride stub for the one container format that needs no codec.
    "m5_gif_frames" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
        val n = (id % 4 + 1).toInt
        val ws = (0 until n).map(k => (id % 64 + k + 1).toInt)
        val hs = (0 until n).map(k => (id % 32 + k + 1).toInt)
        (id, Multimodal.gifFixture(ws, hs))
      }.toDF("doc_id", "media")
      Multimodal.decodeGifFrames(s, media).toDF().orderBy("doc_id", "frame_idx")
    }),

    // -------------------------------------------------- round-3 additions

    // SCD type-2 dimension build from a CDC-style event stream: per-user
    // change detection (lag), running-sum segment ids, one row per value
    // run with [valid_from, valid_to) validity — the standard
    // dimension-history operator. One shuffle: the window partitions by
    // user_id and the groupBy on (user_id, seg) reuses that partitioning.
    "q36_scd2" -> ((s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val seg = tbl(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("chg",
          when(not(lag(col("event_type"), 1).over(wOrd) <=> col("event_type")), 1)
            .otherwise(0))
        .withColumn("seg", sum(col("chg"))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val runs = seg.groupBy("user_id", "seg")
        .agg(min(col("event_type")).as("event_type"),
          min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
      val wSeg = Window.partitionBy("user_id").orderBy("seg")
      runs.select(col("user_id"), col("seg").cast("int").as("version"),
          col("event_type"), col("valid_from"),
          lead(col("valid_from"), 1).over(wSeg).as("valid_to"), col("n_events"))
        .orderBy("user_id", "version")
    }),

    // Deterministic (portable-hash) sampling: the reproducible train/test
    // split every data pipeline needs — membership is a pure function of
    // the key (md5, the cross-engine hash d3 proved), never of partition
    // layout or RNG state. Reported as per-stratum total/sampled counts.
    "q37_deterministic_sample" -> ((s, dir) => {
      val bucket = conv(substring(md5(col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 10
      tbl(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_total"),
          count(when(bucket === 0, 1)).as("n_sampled"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q3-shaped shipping-priority query: selective dimension filter
    // broadcast into a fact-fact join, exact decimal revenue, top-10 by
    // revenue (TakeOrderedAndProject, no global sort).
    "q38_shipping_priority" -> ((s, dir) => {
      val cutoff = to_timestamp(lit("1998-01-01"))
      val c = tbl(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = tbl(s, dir, "orders").filter(col("o_orderdate") < cutoff)
      val l = tbl(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum(rev).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5-shaped regional volume: 6-table star-ish join where the
    // customer and supplier must share a nation — all dimension sides
    // broadcast, the fact side never re-shuffles until the final group.
    "q39_region_nation_volume" -> ((s, dir) => {
      val lo = to_timestamp(lit("1996-01-01"))
      val hi = to_timestamp(lit("1998-01-01"))
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
      val r = tbl(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = tbl(s, dir, "nation")
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val sup = tbl(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val c = tbl(s, dir, "customer").select("c_custkey", "c_nationkey")
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders")
            .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(rev).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // Explicit GROUPING SETS (beyond q16 rollup / q23 cube): exactly two
    // single-column aggregation levels in one pass, via the SQL surface.
    "q40_grouping_sets" -> ((s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("orders_q40")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
        |CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        |COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st
        |FROM orders_q40
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY g_status, g_prio,
        |o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    }),

    // End-to-end corpus curation — the flagship LLM-data pipeline query:
    // language filter (marker-word lang-ID), quality floor, token-count
    // band, and exact-dup elimination (keep the min doc_id per
    // fingerprint), composed from the d1/d5/d6/d7 primitives in ONE plan:
    // a single scan computes all row-local signals, one window handles
    // the dedup keep rule.
    "d15_corpus_curation" -> ((s, dir) => {
      val scored = tbl(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        round(TextFunctions.qualityScore(col("text")), 6).as("quality"),
        TextFunctions.langId(col("text")).as("pred_lang"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      scored
        .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy("fp")))
        .filter(col("pred_lang") === "en" && col("quality") >= 0.5 &&
          col("n_tokens").between(30, 5000) && col("doc_id") === col("keep_id"))
        .select(col("doc_id"), col("n_tokens"), col("quality"))
        .orderBy("doc_id")
    }),

    // Streaming twin of q9: file-source incremental ingest through the
    // parquet sink's commit log. The checkpoint is the bookmark analogue
    // (per-file, engine-managed); run 2 picks up only the new file, run 3
    // (no new files) is a no-op — exactly-once across restarts, strictly
    // stronger than the reference's job-end bookmark commit.
    "st6_stream_file_ingest" -> ((s, dir) => {
      val work = tmpdir("graft-st6")
      val full = tbl(s, dir, "orders")
      val cfg = TableConfig("orders", Seq("o_orderkey"), SortOrder.Asc)
      arriveFile(work, full.filter(col("o_orderkey") <= 750), "b1")
      graft.streaming.StreamingIngest.start(
        s, s"$work/in", full.schema, cfg, s"$work/target").awaitTermination()
      arriveFile(work, full.filter(col("o_orderkey") > 750), "b2")
      graft.streaming.StreamingIngest.start(
        s, s"$work/in", full.schema, cfg, s"$work/target").awaitTermination()
      graft.streaming.StreamingIngest.start( // no new files — must be a no-op
        s, s"$work/in", full.schema, cfg, s"$work/target").awaitTermination()
      s.read.parquet(s"$work/target/orders").agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("st"),
        max(col("o_orderkey")).as("hi"))
    }),

    // REAL MP4/ISO-BMFF movie-header decode (timescale, duration, track
    // count) — the fourth container format parsed from actual bytes.
    "m6_mp4_metadata" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
        val ts = 600 * (1 + (id % 3).toInt)
        val dur = ((id % 5000) + 1).toInt * 100
        val n = 1 + (id % 3).toInt
        (id, Multimodal.mp4Fixture(ts, dur, n))
      }.toDF("doc_id", "media")
      Multimodal.decodeMp4Metadata(s, media).toDF().orderBy("doc_id")
    }),

    // REAL codec decode (m7): the JDK's own PNG reader decompresses a
    // genuine deflate raster; uniform-gray fixtures make every pixel
    // probe exactly predictable (PNG is lossless), so the oracle is pure
    // arithmetic while the engine side exercises an actual codec.
    "m7_png_pixel_decode" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = 8 + (id % 16).toInt
        val h = 4 + (id % 8).toInt
        val gray = (id % 256).toInt
        (id, Multimodal.pngBytes(w, h, gray))
      }.toDF("doc_id", "media")
      Multimodal.decodeImagePixels(s, media).toDF().orderBy("doc_id")
    }),

    // Decode → resize → probe (m8): a real raster transform over real
    // compressed bytes — diagonal-gradient fixtures make the
    // nearest-neighbor resample's probes exact integer arithmetic, so the
    // oracle replays output pixel (x,y) = gradient(x*w/ow, y*h/oh).
    "m8_image_resize" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = 8 + (id % 16).toInt
        val h = 4 + (id % 8).toInt
        (id, Multimodal.pngGradientBytes(w, h))
      }.toDF("doc_id", "media")
      Multimodal.decodeAndResize(s, media).toDF().orderBy("doc_id")
    }),

    // Correlated EXISTS subquery — Catalyst decorrelates it to a left-semi
    // join (RewritePredicateSubquery); distinct from q34's explicit semi
    // join because the user writes the subquery form.
    "q41_exists_subquery" -> ((s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("orders_q41")
      tbl(s, dir, "lineitem").createOrReplaceTempView("lineitem_q41")
      s.sql("""SELECT o_orderpriority, COUNT(*) AS n FROM orders_q41 o
        |WHERE EXISTS (SELECT 1 FROM lineitem_q41 l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // Frame-based window aggregates (beyond q22's ranking functions):
    // running total, 3-row moving sum, first_value and nth_value — exact
    // decimal partials under every frame, cast to double at the boundary.
    "q42_window_frames" -> ((s, dir) => {
      val price = col("o_totalprice").cast("decimal(18,2)")
      val wRun = Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wMov = Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
        .rowsBetween(-2, Window.currentRow)
      tbl(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_orderstatus"),
          sum(price).over(wRun).cast("double").as("running_total"),
          sum(price).over(wMov).cast("double").as("moving3"),
          first(price).over(wRun).cast("double").as("first_price"),
          nth_value(price, 2).over(wRun).cast("double").as("second_price"))
        .orderBy("o_orderkey")
    }),

    // CDC upsert WITH tombstones (q25 has no deletes): the latest event
    // per user decides presence — an 'error' tombstone deletes the user.
    // max_by(struct) keeps it a hash aggregate (map-side partials, no
    // window sort) per the latest-wins pattern q25 pinned.
    "q43_cdc_tombstones" -> ((s, dir) => {
      val latest = tbl(s, dir, "events")
        .groupBy("user_id")
        .agg(max_by(
          struct(col("ts"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"))
        .select(col("user_id"), col("last.ts").as("last_ts"),
          col("last.event_type").as("event_type"), col("last.value").as("value"))
      latest.filter(col("event_type") =!= "error").orderBy("user_id")
    }),

    // Stopword-occurrence quality signal: one TermCounts map per doc
    // (materialized in its own projection), then a fixed fan of codegen'd
    // map lookups — integer counts plus a bounded-ratio double.
    "d16_stopword_ratio" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val tc = ColumnBridge.column(
        graft.functions.TermCounts(ColumnBridge.expression(col("text"))))
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"),
          tc.as("tc"))
        .select(col("doc_id"), col("n_tokens"),
          TextFunctions.stopwordCount(col("tc")).as("n_stop"))
        .withColumn("stop_ratio",
          round(col("n_stop").cast("double") /
            greatest(col("n_tokens"), lit(1)).cast("double"), 6))
        .orderBy("doc_id")
    }),

    // Late-data accounting under a watermark, with an EXACT cross-engine
    // oracle. Spark's aggregation drops a batch-N input row iff its window
    // end expired vs batch N-1's EVICTION watermark (the late-events
    // watermark lags one batch — measured, not assumed), so observable
    // drops need a 4-file cascade (maxFilesPerTrigger=1 + ordered mtimes
    // pin the batch order):
    //   b1 bulk history (90%, ts ≤ max-72h)    → establishes wm_a
    //   b2 advancer (90%, max-72h < ts ≤ -24h) → eviction wm becomes wm_a
    //   b3 the stragglers (the event_id%10 slice, all ts): dropped iff
    //      window end ≤ wm_a, merged into live windows otherwise
    //   b4 fresh tail (90%, ts > max-24h)      → advances to the final wm
    // Append mode then emits exactly the windows whose end precedes the
    // final watermark, with the surviving straggler rows counted. Event
    // times are microsecond-random, so no window boundary ties a
    // watermark.
    "st7_late_data" -> ((s, dir) => {
      val work = tmpdir("graft-st7")
      val raw = s.read.parquet(s"$dir/events.parquet")
      // microsecond-exact split boundaries: java.sql.Timestamp retains the
      // sub-millisecond part in its nanos field and lit() carries it into
      // Catalyst, so the engine's cut matches the oracle's
      // `m - INTERVAL 72 HOUR` exactly (a getTime-based cut would truncate
      // to millis and could route a sub-millisecond-boundary event into
      // the wrong batch, shifting the watermark the oracle models)
      val maxTs = normalizeTs(raw).agg(max(col("ts"))).head().getTimestamp(0)
      val cut72 = lit(maxTs) - expr("INTERVAL 72 HOURS")
      val cut24 = lit(maxTs) - expr("INTERVAL 24 HOURS")
      val tsCol = rawTsCol(raw) // cut the raw frame on event time, schema-agnostically
      val onTime = raw.filter(col("event_id") % 10 =!= 0)
      val t0 = System.currentTimeMillis()
      arriveFile(work, onTime.filter(tsCol <= cut72), "b1", Some(t0 - 90000))
      arriveFile(work, onTime.filter(tsCol > cut72 && tsCol <= cut24), "b2", Some(t0 - 60000))
      arriveFile(work, raw.filter(col("event_id") % 10 === 0), "b3", Some(t0 - 30000))
      arriveFile(work, onTime.filter(tsCol > cut24), "b4", Some(t0))
      StreamingOps.drainToMemory(s, work + "/in", raw.schema,
          df => normalizeTs(df)
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"))
            .agg(count(lit(1)).as("n"))
            .select(col("window.start").as("h"), col("n")),
          OutputMode.Append(),
          readerOptions = Map("maxFilesPerTrigger" -> "1"))
        .orderBy("h")
    }),

    // Array aggregation: per-user sorted distinct event-type list —
    // collect_set + array_sort gives a deterministic order both engines
    // agree on; the list is then joined to a scalar ('|' separator) because
    // array/map/struct columns never cross the driver-gate boundary (the
    // pandas harness cannot lexsort list values — SchemaInvariantSpec pins
    // this rule for every query).
    "q44_collect_list" -> ((s, dir) =>
      tbl(s, dir, "events")
        // pin NULL semantics explicitly: collect_set drops NULLs while
        // DuckDB's list(DISTINCT) keeps them — filter both sides so a
        // future fixture with NULL event_type can't diverge the oracle
        .filter(col("event_type").isNotNull)
        .groupBy("user_id")
        .agg(concat_ws("|", array_sort(collect_set(col("event_type")))).as("types"),
          count(lit(1)).as("n"))
        .orderBy("user_id")),

    // Full outer join — the one join type the suite didn't cover: orders
    // per day vs events per day over disjoint-ish calendars, null-safe
    // coalesced keys and zero-filled counts.
    "q45_full_outer" -> ((s, dir) => {
      val od = tbl(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d")).agg(count(lit(1)).as("n_orders"))
      val ed = tbl(s, dir, "events")
        .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("n_events"))
      od.join(ed, Seq("d"), "full_outer")
        .select(col("d"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy("d")
    }),

    // Bucketed co-located join surfaced as an oracle query (BucketingSpec
    // pins the zero-exchange plan): both facts are written bucketed on the
    // join key, the join runs exchange-free, and the aggregated result is
    // checked against the plain-join oracle. Unique table names + DROP
    // keep repeated invocations (bench warm pass + timed pass) clean.
    "q46_bucketed_join" -> ((s, dir) => {
      val id = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val out = tmpdir("graft-q46")
      val (to, tl) = (s"b_orders_$id", s"b_lineitem_$id")
      // prune to the joined/aggregated columns BEFORE paying the bucketed
      // write — materialized layouts should carry only what their
      // consumers read
      tbl(s, dir, "orders").select("o_orderkey", "o_orderstatus")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$out/orders").saveAsTable(to)
      tbl(s, dir, "lineitem").select("l_orderkey", "l_quantity")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$out/lineitem").saveAsTable(tl)
      try {
        s.table(to).join(s.table(tl), col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sq"))
          .write.mode("overwrite").parquet(s"$out/result")
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $to"); s.sql(s"DROP TABLE IF EXISTS $tl")
      }
      s.read.parquet(s"$out/result").orderBy("o_orderstatus")
    }),

    // Streaming sessionization: session_window + watermark in append mode
    // emits exactly the sessions whose end (last event + gap) precedes
    // the final watermark — the oracle replays the gap rule (lag >= 30min
    // starts a session) and the emission rule in SQL. Single-file arrival:
    // no drops, so this isolates session-close semantics from st7's
    // late-data semantics.
    "st8_stream_session" -> ((s, dir) => {
      val work = tmpdir("graft-st8")
      val raw = s.read.parquet(s"$dir/events.parquet")
      replayEvents(s, dir, work, 1)
      StreamingOps.drainToMemory(s, work, raw.schema,
          df => normalizeTs(df)
            .withWatermark("ts", "1 hour")
            .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
            .agg(count(lit(1)).as("n"))
            .select(col("user_id"), col("sw.start").as("s_start"),
              col("sw.end").as("s_end"), col("n")),
          OutputMode.Append())
        .orderBy("user_id", "s_start")
    }),

    // Small-file compaction surfaced in the oracle gate: 40-way
    // fragmented write → Compaction.compact rewrite+swap → byte-exact
    // fidelity agg vs the source (file-count reduction is spec-tested).
    "q47_compaction" -> ((s, dir) => {
      val out = tmpdir("graft-q47")
      tbl(s, dir, "orders").repartition(40).write.parquet(s"$out/t")
      graft.sinks.Compaction.compact(s, s"$out/t", "parquet", Seq.empty)
      s.read.parquet(s"$out/t").agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("st"),
        max(col("o_orderkey")).as("hi"))
    }),

    // Calendar densification (date spine): generate the full day range,
    // left-join the daily aggregate, zero-fill gaps — the resample
    // primitive every time-series rollup needs.
    "q48_date_spine" -> ((s, dir) => {
      val daily = tbl(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev"))
      val spine = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("d"))
      spine.join(daily, Seq("d"), "left")
        .select(col("d"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("rev"), lit(0.0)).as("rev"))
        .orderBy("d")
    }),

    // Snapshot diff (SCD1 change detection): full-outer join of two
    // snapshots on the key, classifying every row as insert / delete /
    // update / same — the reconciliation primitive behind incremental
    // merges. Snapshot 2 is derived deterministically (updates on %7,
    // deletes on %13 taking precedence, inserts from %17 at shifted
    // keys); prices compared as exact decimals.
    "q49_snapshot_diff" -> ((s, dir) => {
      val s1 = tbl(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      val s2 = s1.filter(col("k") % 13 =!= 0)
        .select(col("k"),
          when(col("k") % 7 === 0, col("p") + 1).otherwise(col("p")).as("p"))
        .union(s1.filter(col("k") % 17 === 0)
          .select((col("k") + 10000000L).as("k"), col("p")))
      s1.as("a").join(s2.as("b"), col("a.k") === col("b.k"), "full_outer")
        .select(
          when(col("a.p").isNull, "insert")
            .when(col("b.p").isNull, "delete")
            .when(col("a.p") =!= col("b.p"), "update")
            .otherwise("same").as("change_type"))
        .groupBy("change_type").agg(count(lit(1)).as("n"))
        .orderBy("change_type")
    }),

    // TPC-H Q1 pricing summary — the canonical scan-heavy aggregate: one
    // pass over lineitem, all partials map-side combined, exact decimal
    // sums; averages as double division of exact sums (decimal division
    // precision rules differ across engines, double division of exact
    // inputs does not).
    "q50_pricing_summary" -> ((s, dir) => {
      val qty = col("l_quantity").cast("decimal(18,2)")
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      val tax = col("l_tax").cast("decimal(18,2)")
      val one = lit(1).cast("decimal(18,2)")
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("2001-09-01")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(qty).cast("double").as("sum_qty"),
          sum(price).cast("double").as("sum_base_price"),
          sum(price * (one - disc)).cast("double").as("sum_disc_price"),
          sum(price * (one - disc) * (one + tax)).cast("double").as("sum_charge"),
          (sum(qty).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(price).cast("double") / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Benchmark decontamination — the pre-training hygiene step: flag
    // every training document sharing ANY word 5-gram with the held-out
    // set. Held-out shingle hashes (cross-engine md5-60bit, the d3 hash)
    // broadcast; the training side streams map-side and only (doc_id,
    // hash) pairs ever shuffle for the final distinct — text never moves.
    "d18_decontamination" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      def sh(c: Column) = ColumnBridge.column(
        graft.functions.ShingleHashesMd5(ColumnBridge.expression(c), 5))
      val corpus = nearDupCorpus(tbl(s, dir, "documents"))
      val heldOut = corpus.filter(col("doc_id") < 50)
      val train = corpus.filter(col("doc_id") >= 50)
      val testSh = heldOut.select(explode(sh(col("text"))).as("h")).distinct()
      train.select(col("doc_id"), explode(sh(col("text"))).as("h"))
        .join(broadcast(testSh), "h")
        .select("doc_id").distinct()
        .orderBy("doc_id")
    }),

    // Per-source dedup profile: document count vs distinct-fingerprint
    // count per source — the corpus-level view of d1's exact dedup.
    "d17_source_dedup_stats" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("source"), TextFunctions.fingerprint(col("text")).as("fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"))
        .orderBy("source")),

    // PII detection + redaction — the pre-training scrub pass. The
    // synthetic corpus carries no PII, so deterministic fixtures are
    // injected per doc_id residue (emails, IPv4, phone numbers), exactly
    // mirrored in the oracle; detection counts use codegen'd
    // regexp_count and redaction is a fixed regexp_replace chain whose
    // result is fingerprinted. Everything is a narrow map-side
    // projection — no shuffle, no UDF, linear at any corpus size.
    "d19_pii_redaction" -> ((s, dir) => {
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val phoneRe = "\\+1 \\d{3}-\\d{4}"
      val injected = concat(col("text"),
        when(col("doc_id") % 7 === 0, concat(lit(" reach user"),
          col("doc_id").cast("string"), lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, concat(lit(" from host "),
          (col("doc_id") % 223).cast("string"), lit(".16."),
          (col("doc_id") % 250).cast("string"), lit(".7"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, concat(lit(" call +1 555-"),
          (lit(1000) + col("doc_id") % 9000).cast("string"))).otherwise(lit("")))
      tbl(s, dir, "documents").select(col("doc_id"), injected.as("t"))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(emailRe)).as("n_emails"),
          regexp_count(col("t"), lit(ipRe)).as("n_ips"),
          regexp_count(col("t"), lit(phoneRe)).as("n_phones"),
          md5(regexp_replace(regexp_replace(regexp_replace(col("t"),
            emailRe, "<EMAIL>"), ipRe, "<IP>"), phoneRe, "<PHONE>")).as("red_fp"))
        .orderBy("doc_id")
    }),

    // Gopher/C4-style repetition quality signals: duplicate-bigram
    // fraction and top-bigram fraction per document. The whole bigram
    // histogram is computed ROW-LOCALLY by the GramStats expression
    // (struct of n_grams/n_distinct/top_count in one pass), so the
    // corpus-wide filter is a zero-shuffle projection — the explode →
    // groupBy(doc, gram) formulation would shuffle every bigram
    // occurrence in the corpus.
    "d20_repetition_signals" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val gs = ColumnBridge.column(
        graft.functions.GramStats(ColumnBridge.expression(col("text")), 2))
      tbl(s, dir, "documents")
        .select(col("doc_id"), gs.as("g"))
        .filter(col("g.n_grams") >= 1)
        .select(col("doc_id"), col("g.n_grams").as("n_grams"),
          col("g.n_distinct").as("n_distinct"), col("g.top_count").as("top_count"),
          round(lit(1.0) - col("g.n_distinct").cast("double") /
            col("g.n_grams").cast("double"), 6).as("rep_frac"),
          round(col("g.top_count").cast("double") /
            col("g.n_grams").cast("double"), 6).as("top_frac"))
        .orderBy("doc_id")
    }),

    // BM25 relevance scoring against a fixed query — the retrieval
    // primitive for corpus search / RAG curation. Per-term tf comes from
    // row-local TermCounts map lookups (no token explode, no shuffle);
    // the corpus statistics (N, avgdl, per-term df) are ONE tiny
    // aggregate broadcast back, so the whole query is a scan + a
    // scalar-row cross join. Score formula is Lucene-shaped BM25
    // (k1=1.2, b=0.75, idf = ln(1 + (N-df+0.5)/(df+0.5))), mirrored
    // op-for-op in the oracle with explicit DOUBLE casts.
    "d21_bm25" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val terms = bm25Terms
      val tc = ColumnBridge.column(
        graft.functions.TermCounts(ColumnBridge.expression(col("text"))))
      val base = tbl(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("double").as("dl"), tc.as("tc"))
      val withTf = base.select(Seq(col("doc_id"), col("dl")) ++
        terms.zipWithIndex.map { case (t, i) =>
          coalesce(try_element_at(col("tc"), lit(t)), lit(0))
            .cast("double").as(s"tf$i") }: _*)
      val statAggs = Seq(avg(col("dl")).as("avgdl")) ++
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1).otherwise(0)).cast("double").as(s"df$i"))
      val stats = withTf.agg(count(lit(1)).cast("double").as("nn"), statAggs: _*)
      val score = terms.indices.map { i =>
        val idf = log(lit(1.0) +
          (col("nn") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
        idf * col(s"tf$i") * (lit(1.2) + lit(1.0)) /
          (col(s"tf$i") + lit(1.2) *
            (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))
      }.reduce(_ + _)
      withTf.crossJoin(broadcast(stats))
        .select(col("doc_id"), round(score, 6).as("bm25"))
        .filter(col("bm25") > 0)
        .orderBy("doc_id")
    }),

    // Sequence packing for fixed-context training: concatenate each
    // source's documents in doc_id order and cut 2048-token chunks; a
    // document's chunk is its exclusive running token offset div 2048.
    // Per-source windows keep the prefix sum parallel across sources
    // (the global-window formulation would serialize on one partition);
    // within a source Spark's window is a range-partitioned sort —
    // exactly how shard-local packing runs on a real corpus.
    "d22_sequence_packing" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      docs.withColumn("start", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .withColumn("chunk", expr("start div 2048"))
        .groupBy("source", "chunk")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("source", "chunk")
    }),

    // Stratified training-mixture sampling: per-language keep rates
    // applied with the deterministic md5-60bit hash (salted, portable —
    // the same digest both engines compute), so the sample is
    // reproducible under any partitioning, retry, or engine. One hash
    // aggregate; rates live in one Scala constant shared with the
    // generated oracle.
    "d23_mixture_sampling" -> ((s, dir) => {
      val h = conv(substring(md5(
        concat(lit("mix1:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 10000
      val rate = mixtureRates.foldLeft(lit(0)) { case (acc, (lang, r)) =>
        when(col("lang") === lang, r).otherwise(acc) }
      tbl(s, dir, "documents")
        .withColumn("keep", h < rate)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          coalesce(sum(when(col("keep"), col("n_chars"))), lit(0L)).as("kept_chars"))
        .orderBy("lang")
    }),

    // Deterministic global training-order shuffle: every document gets a
    // salted portable hash; shard = hash mod N, position = rank within
    // the shard by (hash, id). Reproducible on any cluster/retry (no
    // RNG, no partition-order dependence), and the per-shard windows
    // parallelize — there is no global sort anywhere.
    "d24_training_shuffle" -> ((s, dir) => {
      val h = conv(substring(md5(
        concat(lit("shuf1:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long")
      tbl(s, dir, "documents").select(col("doc_id"), h.as("h"))
        .withColumn("shard", (col("h") % 16).cast("int"))
        .withColumn("pos", row_number().over(
          Window.partitionBy("shard").orderBy("h", "doc_id")))
        .select(col("shard"), col("pos"), col("doc_id"))
        .orderBy("shard", "pos")
    }),

    // Subword (BPE-ish regex) tokenization stats: GPT-2-shaped pretoken
    // pattern (contractions, letter runs, digit runs, punctuation runs,
    // whitespace) counted per document, plus fertility vs whitespace
    // tokens. Pure codegen'd regexp projection — zero shuffle; the
    // pattern constant is shared with the generated oracle.
    "d25_bpe_tokens" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(bpePattern), lit(0))).as("n_bpe"),
          TextFunctions.tokenCount(col("text")).as("n_ws"))
        .withColumn("fertility", round(col("n_bpe").cast("double") /
          greatest(col("n_ws"), lit(1)).cast("double"), 6))
        .orderBy("doc_id")),

    // Quality stratification: decile-style bucketing by BROADCAST
    // quantile cutpoints (one tiny percentile aggregate joined back as a
    // scalar row) instead of a global ntile sort — the stratify pass
    // stays scan-shaped at any corpus size.
    "d26_quality_deciles" -> ((s, dir) => {
      val scored = tbl(s, dir, "documents").select(col("doc_id"),
        round(TextFunctions.qualityScore(col("text")), 6).as("q"))
      val cuts = scored.agg(
        expr("percentile(q, 0.25)").as("c1"),
        expr("percentile(q, 0.5)").as("c2"),
        expr("percentile(q, 0.75)").as("c3"))
      scored.crossJoin(broadcast(cuts))
        .withColumn("bucket",
          (col("q") > col("c1")).cast("int") + (col("q") > col("c2")).cast("int") +
            (col("q") > col("c3")).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(min("q"), 6).as("min_q"), round(max("q"), 6).as("max_q"))
        .orderBy("bucket")
    }),

    // Moment-based statistics suite: corr / OLS slope+intercept / sample
    // stddev per group, derived from EXACT decimal power sums (sx, sy,
    // sxx, syy, sxy) — the map-side-combinable formulation a distributed
    // engine actually uses (one hash aggregation; no second pass, no
    // mean-centering shuffle). The double arithmetic downstream of the
    // exact sums is the same expression tree in both engines, so the
    // results are bit-identical — built-in corr()/stddev() would NOT be
    // (their running-update order is partition-dependent).
    "q51_corr_stats" -> ((s, dir) => {
      val x = col("l_quantity").cast("decimal(18,2)")
      val y = col("l_extendedprice").cast("decimal(18,2)")
      val a = tbl(s, dir, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
      val (nd, sx, sy) =
        (col("n").cast("double"), col("sx").cast("double"), col("sy").cast("double"))
      val (sxx, syy, sxy) =
        (col("sxx").cast("double"), col("syy").cast("double"), col("sxy").cast("double"))
      val covn = nd * sxy - sx * sy // n² · cov (shared subtree both engines)
      val varxn = nd * sxx - sx * sx
      val varyn = nd * syy - sy * sy
      a.select(col("l_returnflag"), col("n"),
          round(covn / sqrt(varxn * varyn), 6).as("corr_qp"),
          round(covn / varxn, 6).as("slope"),
          round((sy - (covn / varxn) * sx) / nd, 6).as("intercept"),
          round(sqrt(varxn / (nd * (nd - lit(1.0)))), 6).as("sd_q"))
        .orderBy("l_returnflag")
    }),

    // Sequential conversion funnel (view → click → purchase): each stage
    // is a keyed min-aggregate joined back to gate the next stage's
    // events on "strictly after the previous step". Every join and
    // aggregation is keyed on user_id — three co-partitioned shuffles,
    // no window, no per-user sort of the full history.
    "q52_funnel" -> ((s, dir) => {
      val ev = tbl(s, dir, "events").select("user_id", "event_type", "ts")
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
        .agg(count(col("t1")).as("n_view"), count(col("t2")).as("n_click"),
          count(col("t3")).as("n_purchase"))
    }),

    // Cohort retention: users grouped by first-seen day, activity counted
    // per (cohort, day-offset) cell. One min-aggregate plus one keyed
    // join back on user_id, then a distinct-count — the layout every
    // retention dashboard query reduces to.
    "q53_cohort_retention" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val cohort = ev.groupBy("user_id").agg(min("d").as("cohort_day"))
      ev.join(cohort, "user_id")
        .groupBy(col("cohort_day"), datediff(col("d"), col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // Time-series gap fill with linear interpolation: sparse hourly
    // readings (every 3rd hour, simulating sensor cadence) densified onto
    // a per-series hour spine, missing points interpolated between the
    // previous/next observation. The carry windows are partitioned per
    // series — on a real corpus with many series they parallelize like
    // any keyed window (d22's argument); hour indices are anchored
    // timestamp diffs, so no session-timezone epoch math leaks in.
    "q54_gap_fill" -> ((s, dir) => {
      val hr = expr(
        "timestampdiff(HOUR, timestamp'2024-01-01 00:00:00', date_trunc('hour', ts))")
      val known = tbl(s, dir, "events")
        .groupBy(col("event_type"), hr.as("hr"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
        .filter(col("hr") % 3 === 0)
      val spine = known.groupBy("event_type")
        .agg(min("hr").as("lo"), max("hr").as("hi"))
        .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("hr"))
      val wPrev = Window.partitionBy("event_type").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wNext = Window.partitionBy("event_type").orderBy("hr")
        .rowsBetween(0, Window.unboundedFollowing)
      spine.join(known, Seq("event_type", "hr"), "left")
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
        .withColumn("ph", last(when(col("v").isNotNull, col("hr")), ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
        .withColumn("nh", first(when(col("v").isNotNull, col("hr")), ignoreNulls = true).over(wNext))
        .select(col("event_type"), col("hr"),
          round(
            when(col("v").isNotNull, col("v"))
              .when(col("ph").isNull, col("nv"))
              .when(col("nh").isNull, col("pv"))
              .otherwise(col("pv") + (col("nv") - col("pv")) *
                ((col("hr") - col("ph")).cast("double") /
                  (col("nh") - col("ph")).cast("double"))), 6).as("v_filled"),
          col("v").isNotNull.cast("int").as("observed"))
        .orderBy("event_type", "hr")
    }),

    // Spherical k-means assignment (k=8, centroids = the first 8 vectors):
    // centroids broadcast, cosine scored by the codegen'd expression,
    // winner picked by a max(struct) hash aggregate — no window, no
    // shuffle of the vectors themselves beyond the scan. Similarities are
    // rounded to 6dp BEFORE the argmax so engine-internal accumulation
    // ulps can never flip an assignment; the cluster mean goes through an
    // exact decimal sum.
    "e11_kmeans_assign" -> ((s, dir) => {
      val embs = tbl(s, dir, "embeddings")
      val cents = embs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      embs.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          round(Dedup.cosine(col("embedding"), col("cvec")), 6).as("sim"),
          col("cid"))
        .groupBy("vec_id")
        .agg(max(struct(col("sim"), (-col("cid")).as("nc"))).as("w"))
        .select(col("vec_id"), (-col("w.nc")).as("cid"), col("w.sim").as("sim"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n"), min("vec_id").as("first_vec"),
          round(sum(col("sim").cast("decimal(10,6)")).cast("double") /
            count(lit(1)).cast("double"), 6).as("mean_sim"))
        .orderBy("cid")
    }),

    // One distributed Lloyd iteration on top of e11's assignment: new
    // centroids are per-dimension means computed from INTEGER-quantized
    // elements (floor(x·1e6) sums commute — order-free across partitions
    // and engines, where raw double sums are not), then every point
    // reassigns against the updated centroids. posexplode → hash-agg →
    // array rebuild is the standard distributed centroid update; nothing
    // touches the driver.
    "e12_kmeans_step" -> ((s, dir) => {
      val embs = tbl(s, dir, "embeddings")
      def assign(cents: DataFrame): DataFrame =
        embs.crossJoin(broadcast(cents))
          .select(col("vec_id"),
            round(Dedup.cosine(col("embedding"), col("cvec")), 6).as("sim"),
            col("cid"))
          .groupBy("vec_id")
          .agg(max(struct(col("sim"), (-col("cid")).as("nc"))).as("w"))
          .select(col("vec_id"), (-col("w.nc")).as("cid"))
      val cents0 = embs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val a0 = assign(cents0)
      val cents1 = embs.join(a0, "vec_id")
        .select(col("cid"), posexplode(col("embedding")))
        .select(col("cid"), col("pos"),
          floor(col("col").cast("double") * lit(1000000.0)).cast("long").as("xi"))
        .groupBy("cid", "pos")
        .agg(sum("xi").as("sx"), count(lit(1)).as("cnt"))
        .select(col("cid"), col("pos"),
          (col("sx").cast("double") / (col("cnt").cast("double") * lit(1000000.0))).as("cv"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          x => x.getField("cv")).as("cvec"))
      val before = a0.groupBy("cid").agg(count(lit(1)).as("n_before"))
      val after = assign(cents1).groupBy("cid").agg(count(lit(1)).as("n_after"))
      before.join(after, Seq("cid"), "full_outer")
        .select(col("cid"), coalesce(col("n_before"), lit(0L)).as("n_before"),
          coalesce(col("n_after"), lit(0L)).as("n_after"))
        .orderBy("cid")
    }),

    // Corpus-frequency boilerplate detection: word-bigram shingles that
    // appear in ≥5% of documents are "boilerplate"; each document reports
    // its boilerplate fraction. Only (doc_id, hash) pairs ever shuffle —
    // text stays map-side (the d18 discipline); the df side is a pure
    // hash aggregate of those same pairs. The 5% cut is the integer
    // comparison df·20 ≥ N, portable with no ceil/float threshold.
    "d27_boilerplate_ngrams" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      def sh(c: Column) = ColumnBridge.column(
        graft.functions.ShingleHashesMd5(ColumnBridge.expression(c), 2))
      val docs = tbl(s, dir, "documents")
      val grams = docs.select(col("doc_id"), explode(sh(col("text"))).as("h"))
      val total = docs.agg(count(lit(1)).as("ndocs"))
      val boiler = grams.groupBy("h").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(total))
        .select(col("h"), (col("df") * 20 >= col("ndocs")).as("boiler"))
      grams.join(boiler, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"))
        .withColumn("boiler_frac",
          round(col("n_boiler").cast("double") / col("n_grams").cast("double"), 6))
        .orderBy("doc_id")
    }),

    // Streaming CDC upsert through foreachBatch: a snapshot batch, an
    // update batch (%7 keys re-priced at version 2) and an insert batch
    // (%17 slice re-keyed, version 3 — q49's mutation shapes) drain
    // through StreamingUpsert's latest-wins merge, one micro-batch per
    // file. The final keyed state is checked against the oracle's replay
    // of the same merge.
    "st9_stream_upsert" -> ((s, dir) => {
      val work = tmpdir("graft-st9")
      val base = tbl(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      val b1 = base.withColumn("ver", lit(1L))
      val b2 = base.filter(col("k") % 7 === 0)
        .select(col("k"), (col("p") + lit(1)).cast("decimal(18,2)").as("p"), lit(2L).as("ver"))
      val b3 = base.filter(col("k") % 17 === 0)
        .select((col("k") + lit(10000000L)).as("k"), col("p"), lit(3L).as("ver"))
      val t0 = System.currentTimeMillis()
      arriveFile(work, b1, "b1", Some(t0 - 60000))
      arriveFile(work, b2, "b2", Some(t0 - 30000))
      arriveFile(work, b3, "b3", Some(t0))
      graft.streaming.StreamingUpsert.start(
        s, s"$work/in", b1.schema, Seq("k"), "ver", s"$work/state").awaitTermination()
      s.read.parquet(s"$work/state/data").agg(
        count(lit(1)).as("n"),
        sum(col("p")).cast("double").as("st"),
        max(col("k")).as("hi"),
        sum(when(col("ver") === 2, 1L).otherwise(0L)).as("n_v2"),
        sum(when(col("ver") === 3, 1L).otherwise(0L)).as("n_v3"))
    }),

    // Forward-direction as-of join with a tolerance window (pandas
    // merge_asof direction='forward'): each purchase matched to the
    // user's NEXT click at-or-after it, nulled when farther than 2h —
    // nearest-then-check semantics. Same one-shuffle union+window
    // machinery as ev5, reversed carry order.
    "ev10_asof_forward" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts").as("cts"))
        .agg(max(col("event_id")).as("click_id"))
      graft.operators.AsOfJoin.asOf(purchases, clicks,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "cts",
          forward = true, toleranceSeconds = Some(7200L))
        .select(col("purchase_id"), col("user_id"), col("click_id"))
        .orderBy("purchase_id")
    }),

    // Ordered string aggregation (SQL:2016 LISTAGG ... WITHIN GROUP, new
    // in Spark 4) — the deterministic ordered form; bounded key slice
    // keeps the strings sane.
    "q55_string_agg" -> ((s, dir) =>
      tbl(s, dir, "orders").filter(col("o_orderkey") <= 2000)
        .groupBy("o_orderstatus")
        .agg(expr(
          "listagg(cast(o_orderkey as string), ',') within group (order by o_orderkey)")
          .as("keys_csv"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    // Distribution window functions (percent_rank / cume_dist) — the two
    // rank-ratio windows q22 didn't cover; small exact rationals, rounded
    // identically both engines.
    "q56_dist_windows" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      tbl(s, dir, "orders").filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy("o_orderkey")
    }),

    // Multiset set operations (INTERSECT ALL / EXCEPT ALL) — the
    // bag-semantics twins of q14, tagged into one result.
    "q57_set_ops_all" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val f = o.filter(col("o_orderstatus") === "F").select("o_custkey")
      val oo = o.filter(col("o_orderstatus") === "O").select("o_custkey")
      val i = f.intersectAll(oo).groupBy("o_custkey")
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      val e = f.exceptAll(oo).groupBy("o_custkey")
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      i.unionByName(e).orderBy("op", "o_custkey")
    }),

    // Conditional/boolean aggregate portfolio: count_if, bool_and,
    // bool_or, and a deterministic max_by on a unique ordering key.
    "q58_conditional_agg" -> ((s, dir) =>
      tbl(s, dir, "orders").groupBy("o_orderstatus").agg(
          count_if(col("o_totalprice") > 150000).as("n_big"),
          bool_and(col("o_totalprice") > 0).as("all_pos"),
          bool_or(col("o_totalprice") > 300000).as("any_huge"),
          max_by(col("o_orderpriority"), col("o_orderkey")).as("last_priority"))
        .orderBy("o_orderstatus")),

    // Language-ID confusion matrix: predicted vs labeled language counts
    // — the quality audit for d6's classifier, one hash aggregation.
    "d28_langid_confusion" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("lang"), TextFunctions.langId(col("text")).as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")),

    // Stream-stream LEFT OUTER join under watermarks: clicks left-joined
    // to errors within [cts, cts+5m]; unmatched clicks emit null-extended
    // once the watermark passes their join-window upper bound. Two-file
    // arrival (history / tail, ordered mtimes) exercises cross-batch
    // state: the split at max-12h puts every cross-batch candidate pair
    // inside the un-evicted window, so the inner results are exactly the
    // batch join; the outer results are the unmatched clicks whose bound
    // expired vs the FINAL watermark (the trailing no-data batch applies
    // it — measured, like st7's lag finding; the oracle replays both
    // rules).
    "st10_stream_outer_join" -> ((s, dir) => {
      val work = tmpdir("graft-st10")
      val raw = s.read.parquet(s"$dir/events.parquet")
      val maxTs = normalizeTs(raw).agg(max(col("ts"))).head().getTimestamp(0)
      val cut = lit(maxTs) - expr("INTERVAL 12 HOURS")
      val tsCol = rawTsCol(raw)
      val t0 = System.currentTimeMillis()
      arriveFile(work, raw.filter(tsCol <= cut), "b1", Some(t0 - 30000))
      arriveFile(work, raw.filter(tsCol > cut), "b2", Some(t0))
      StreamingOps.drainToMemory(s, work + "/in", raw.schema,
          df => {
            val ev = normalizeTs(df)
            val clicks = ev.filter(col("event_type") === "click")
              .select(col("event_id").as("click_id"), col("user_id"),
                col("ts").as("cts"))
              .withWatermark("cts", "10 minutes")
            val errors = ev.filter(col("event_type") === "error")
              .select(col("event_id").as("error_id"), col("user_id").as("uid"),
                col("ts").as("ets"))
              .withWatermark("ets", "10 minutes")
            clicks.join(errors,
                col("user_id") === col("uid") &&
                  col("ets") >= col("cts") &&
                  col("ets") <= col("cts") + expr("INTERVAL 5 MINUTES"),
                "left_outer")
              .select(col("click_id"), col("error_id"), col("user_id"))
          },
          OutputMode.Append(),
          readerOptions = Map("maxFilesPerTrigger" -> "1"))
        .orderBy("click_id", "error_id")
    }),

    // FULL OUTER stream-stream join (completes the family: st5 inner,
    // st10 left outer): clicks ⟗ errors in [cts, cts+5m] under 10-min
    // watermarks. Emission rules (measured, like st10's): inner results
    // are the plain batch join (the 12h split keeps every cross-batch
    // candidate in-state — st10's proof); click-side nulls emit for
    // unmatched clicks with cts+5m < FINAL watermark; error-side nulls
    // for unmatched errors with ets < FINAL watermark (an error can
    // match future clicks with cts ∈ [ets−5m, ets], so its state lives
    // until the watermark passes ets itself). A `side` sort key keeps
    // the NULL-bearing rows in one engine-independent total order
    // (Spark sorts NULLs first, DuckDB last — never sort on a nullable
    // column across engines).
    "st17_stream_full_outer" -> ((s, dir) => {
      val work = tmpdir("graft-st17")
      val raw = s.read.parquet(s"$dir/events.parquet")
      val maxTs = normalizeTs(raw).agg(max(col("ts"))).head().getTimestamp(0)
      val cut = lit(maxTs) - expr("INTERVAL 12 HOURS")
      val tsCol = rawTsCol(raw)
      val t0 = System.currentTimeMillis()
      arriveFile(work, raw.filter(tsCol <= cut), "b1", Some(t0 - 30000))
      arriveFile(work, raw.filter(tsCol > cut), "b2", Some(t0))
      StreamingOps.drainToMemory(s, work + "/in", raw.schema,
          df => {
            val ev = normalizeTs(df)
            val clicks = ev.filter(col("event_type") === "click")
              .select(col("event_id").as("click_id"), col("user_id"),
                col("ts").as("cts"))
              .withWatermark("cts", "10 minutes")
            val errors = ev.filter(col("event_type") === "error")
              .select(col("event_id").as("error_id"), col("user_id").as("uid"),
                col("ts").as("ets"))
              .withWatermark("ets", "10 minutes")
            clicks.join(errors,
                col("user_id") === col("uid") &&
                  col("ets") >= col("cts") &&
                  col("ets") <= col("cts") + expr("INTERVAL 5 MINUTES"),
                "full_outer")
              .select(
                when(col("click_id").isNull, 2)
                  .when(col("error_id").isNull, 1).otherwise(0).as("side"),
                col("click_id"), col("error_id"),
                coalesce(col("user_id"), col("uid")).as("u"))
          },
          OutputMode.Append(),
          readerOptions = Map("maxFilesPerTrigger" -> "1"))
        .orderBy("side", "click_id", "error_id")
    }),

    // Semi-structured VARIANT path (new in Spark 4): parse once, typed
    // extraction pushed through the scan — the open-schema ingestion
    // pattern for event payloads.
    "q59_variant_json" -> ((s, dir) =>
      tbl(s, dir, "events")
        .select(col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k_val"))
        .filter(col("k_val") % 3 === 0)
        .orderBy("event_id")),

    // Array higher-order-function suite over embeddings: quantized
    // squared norm (integer sums — order-free and cross-engine exact),
    // positive-component count, max element and its 1-based position.
    // All row-local projections; zero shuffle.
    "q60_array_hof" -> ((s, dir) => {
      val e = col("embedding")
      tbl(s, dir, "embeddings").select(col("vec_id"),
          aggregate(
            transform(e, x =>
              floor(x.cast("double") * x.cast("double") * lit(1000000.0)).cast("long")),
            lit(0L), (acc, v) => acc + v).as("sq_norm_q"),
          size(filter(e, x => x > lit(0f))).as("n_pos"),
          array_max(e).cast("double").as("mx"),
          array_position(e, array_max(e)).as("argmax"))
        .orderBy("vec_id")
    }),

    // Exact median (interpolated) + percentile_disc — the discrete
    // quantile picks an actual data value, so it compares exactly; the
    // oracle states Spark's percentile_disc definition directly
    // (smallest value with cume_dist ≥ p) rather than trusting another
    // engine's indexing convention.
    "q61_median_disc" -> ((s, dir) =>
      tbl(s, dir, "orders").groupBy("o_orderstatus").agg(
          round(median(col("o_totalprice")), 6).as("med"),
          expr("percentile_disc(0.9) within group (order by o_totalprice)").as("p90_disc"),
          expr("percentile_disc(0.1) within group (order by o_totalprice)").as("p10_disc"))
        .orderBy("o_orderstatus")),

    // Interval-overlap counting: each event opens a 4-hour interval;
    // count the active intervals at every hour boundary. The bounded
    // explode (≤4 boundary rows per event) + hash aggregation is the
    // shape that scales — a sweep line needs a global ordered pass.
    "ev11_interval_overlap" -> ((s, dir) => {
      val hr0 = expr("timestampdiff(HOUR, timestamp'2024-01-01 00:00:00', ts)")
      tbl(s, dir, "events")
        .select(explode(sequence(hr0 + 1, hr0 + 4)).as("hb"))
        .groupBy("hb").agg(count(lit(1)).as("n_active"))
        .orderBy("hb")
    }),

    // Per-document Shannon entropy of the token distribution (the
    // repetitiveness signal complementing d20): contributions computed
    // from the row-local TermCounts map and quantized to integers before
    // summing, so map iteration order and engine accumulation order
    // cannot move the result. Zero shuffle.
    "d29_token_entropy" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val tc = ColumnBridge.column(
        graft.functions.TermCounts(ColumnBridge.expression(col("text"))))
      tbl(s, dir, "documents")
        .select(col("doc_id"), tc.as("tc"),
          TextFunctions.tokenCount(col("text")).cast("double").as("n"))
        .filter(col("n") > 0)
        .select(col("doc_id"), size(col("tc")).cast("long").as("n_terms"),
          (aggregate(
            transform(map_values(col("tc")), c => {
              val p = c.cast("double") / col("n")
              round(-(p * log(p)) * lit(1000000.0), 0).cast("long")
            }),
            lit(0L), (a, v) => a + v).cast("double") / lit(1000000.0)).as("ent_raw"))
        .select(col("doc_id"), col("n_terms"), round(col("ent_raw"), 6).as("entropy"))
        .orderBy("doc_id")
    }),

    // Schema-evolution readback: two parquet snapshots written with
    // different schemas (a column added later) unified by mergeSchema —
    // the append-only table-evolution pattern the catalog rules (C3)
    // enforce on the write side, exercised on the read side.
    "q62_schema_merge" -> ((s, dir) => {
      val out = tmpdir("graft-q62")
      val o = tbl(s, dir, "orders")
      o.filter(col("o_orderkey") <= 750)
        .select("o_orderkey", "o_totalprice")
        .write.parquet(s"$out/t")
      o.filter(col("o_orderkey") > 750)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("append").parquet(s"$out/t")
      s.read.option("mergeSchema", "true").parquet(s"$out/t")
        .agg(count(lit(1)).as("n"),
          count(col("o_orderstatus")).as("n_status"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("st"))
    }),

    // Malformed-record ingestion: JSON lines with a deterministic slice
    // corrupted (truncated payload for %13 keys), read PERMISSIVE with a
    // _corrupt_record column — bad rows are quarantined and counted, good
    // rows aggregate; nothing throws. The oracle replays the corruption
    // rule.
    "q63_corrupt_json" -> ((s, dir) => {
      val out = tmpdir("graft-q63")
      tbl(s, dir, "orders").select(
          when(col("o_orderkey") % 13 === 0, concat(lit("{\"k\": "))
            ).otherwise(concat(lit("{\"k\": "), col("o_orderkey"), lit("}")))
            .as("line"))
        .write.text(s"$out/j")
      s.read
        .schema("k LONG, _corrupt_record STRING")
        .json(s"$out/j")
        .agg(count(lit(1)).as("n"),
          count(col("k")).as("n_good"),
          count(col("_corrupt_record")).as("n_corrupt"),
          sum(col("k")).as("sum_good"))
    }),

    // Count-Min sketch over the token stream with an EXACT cross-engine
    // oracle: d=4 rows × w=256 buckets keyed by the portable md5-60bit
    // hash, so both engines build the identical sketch (counter merges
    // commute — partitioning cannot move the result). Estimates are
    // min-over-rows of bucket totals; the output pairs them with exact
    // counts (estimate ≥ exact always; the +eps·N bound is spec-checked).
    "d31_countmin_sketch" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      import s.implicits._
      val tc = ColumnBridge.column(
        graft.functions.TermCounts(ColumnBridge.expression(col("text"))))
      val tf = tbl(s, dir, "documents")
        .select(explode(tc))
        .groupBy(col("key").as("term")).agg(sum(col("value").cast("long")).as("cnt"))
      def bucket(j: Column, c: Column): Column =
        conv(substring(md5(concat(lit("cms"), j, lit(":"), c)), 1, 15), 16, 10)
          .cast("long") % 256
      // explode a 4-element row-index array instead of unioning 4 scans —
      // the term-frequency base (doc scan + TermCounts) computes ONCE
      val sketch = tf
        .select(col("term"), col("cnt"),
          explode(array((0 until 4).map(lit): _*)).as("j"))
        .select(col("j"), bucket(col("j"), col("term")).as("b"), col("cnt"))
        .groupBy("j", "b").agg(sum(col("cnt")).as("total"))
      val queryTerms = cmsQueryTerms.toDF("qterm")
      val probes = (0 until 4).map(j =>
        queryTerms.select(col("qterm"), lit(j).as("j"), bucket(lit(j), col("qterm")).as("b")))
        .reduce(_ unionByName _)
      val est = probes.join(sketch, Seq("j", "b"), "left")
        .groupBy("qterm")
        .agg(min(coalesce(col("total"), lit(0L))).as("est"))
      val exact = queryTerms.join(tf, col("qterm") === col("term"), "left")
        .select(col("qterm"), coalesce(col("cnt"), lit(0L)).as("exact"))
      est.join(exact, "qterm")
        .select(col("qterm"), col("est"), col("exact"))
        .orderBy("qterm")
    }),

    // Unicode normalization (custom codegen'd NormalizeUnicode
    // expression — Spark has no built-in): deterministic composed/
    // decomposed suffixes injected per doc_id residue, NFC'd, then
    // length-and-fingerprint checked against DuckDB's nfc_normalize.
    // Without this, visually-identical text defeats exact dedup.
    "d30_unicode_normalize" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      // explicit escapes: composed U+00E9 vs decomposed e+U+0301 are
      // visually identical in source — the bytes must differ
      val suffix = when(col("doc_id") % 4 === 0, lit(" caf\u00e9"))
        .when(col("doc_id") % 4 === 1, lit(" cafe\u0301"))
        .when(col("doc_id") % 4 === 2, lit(" u\u0308ber"))
        .otherwise(lit(""))
      val raw = concat(col("text"), suffix)
      val norm = ColumnBridge.column(graft.functions.NormalizeUnicode(
        ColumnBridge.expression(raw), "NFC"))
      tbl(s, dir, "documents").select(col("doc_id"),
          length(raw).as("len_raw"), length(norm).as("len_nfc"),
          (norm === raw).cast("int").as("unchanged"),
          md5(norm).as("fp"))
        .orderBy("doc_id")
    }),

    // Bloom-filter join pruning — the 100 TB pattern behind Spark's own
    // runtime row-level filtering (InjectRuntimeFilter): build a Bloom
    // filter over the dim keys with the distributed BloomFilterAggregate,
    // materialize the ONE sketch on the driver (exactly what Spark's
    // subquery broadcast does), and prune the fact scan BEFORE the join
    // shuffle. False positives are removed by the exact broadcast semi
    // join that follows, so the result is exact while ~80% of fact rows
    // never reach a shuffle.
    "q64_bloom_prune" -> ((s, dir) => {
      import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val dim = tbl(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val bloomAgg = ColumnBridge.column(new BloomFilterAggregate(
          ColumnBridge.expression(xxhash64(col("c_custkey"))),
          Literal(100000L), Literal(1048576L)).toAggregateExpression())
      val bloom = dim.agg(bloomAgg.as("bf")).head.getAs[Array[Byte]]("bf")
      val might = ColumnBridge.column(BloomFilterMightContain(
        Literal.create(bloom, org.apache.spark.sql.types.BinaryType),
        ColumnBridge.expression(xxhash64(col("o_custkey")))))
      val pruned = tbl(s, dir, "orders").filter(might)
      pruned.join(broadcast(dim), pruned("o_custkey") === dim("c_custkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("st"))
        .orderBy("o_orderpriority")
    }),

    // LATERAL correlated subquery (top-2 orders per customer) — the SQL
    // surface for dependent joins; Catalyst decorrelates the per-row
    // ORDER BY … LIMIT into a window rank, so no nested-loop executes.
    "q65_lateral_topk" -> ((s, dir) => {
      tbl(s, dir, "customer").filter(col("c_custkey") <= 200)
        .createOrReplaceTempView("cust_q65")
      tbl(s, dir, "orders").createOrReplaceTempView("orders_q65")
      s.sql("""SELECT c.c_custkey, o.o_orderkey, o.top_price
        |FROM cust_q65 c JOIN LATERAL (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS top_price
        |  FROM orders_q65
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin)
    }),

    // Null-safe equality join (<=>): NULL group keys match each other —
    // plain equi-join semantics drop them silently. Exercised by mapping
    // status 'P' to NULL on both sides.
    "q66_nullsafe_join" -> ((s, dir) => {
      val key = expr("nullif(o_orderstatus, 'P')")
      val a = tbl(s, dir, "orders").groupBy(key.as("k"))
        .agg(count(lit(1)).as("n_all"))
      val b = tbl(s, dir, "orders").filter(col("o_orderkey") % 2 === 0)
        .groupBy(key.as("k")).agg(count(lit(1)).as("n_even"))
      a.join(b, a("k") <=> b("k"))
        .select(a("k").as("k"), col("n_all"), col("n_even"))
        .orderBy(col("k").asc_nulls_first)
    }),

    // Trailing-window anomaly detection with an EXACT integer predicate:
    // money values become cents (long), and |x-mean| > 3·stddev_samp is
    // cross-multiplied to (n-1)·(n·x-sum)² > 9·n·(n·sumsq-sum²) — no
    // division, no sqrt, no FP accumulation, so the flag is bit-identical
    // across engines AND across partitionings (same trick as q33). One
    // hash shuffle on user_id; per-row state is a 20-row frame.
    "ev12_anomaly_zscore" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cents = round(col("value") * 100, 0).cast("long")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
      val e = tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), cents.as("x"))
        .withColumn("n", count(col("x")).over(w))
        .withColumn("sm", sum(col("x")).over(w))
        .withColumn("sq", sum(col("x") * col("x")).over(w))
      val d = col("n") * col("x") - col("sm")
      e.filter(col("n") >= 10 &&
          (col("n") - 1) * d * d > lit(9L) * col("n") *
            (col("n") * col("sq") - col("sm") * col("sm")))
        .select(col("event_id"), col("user_id"), col("x").as("cents"),
          d.as("dev_scaled"), col("n").as("n_hist"))
        .orderBy("event_id")
    }),

    // First-order Markov transition matrix over per-user event sequences:
    // lag() pairs consecutive event_types, one count aggregate, and the
    // per-source row probability as a ratio of exact counts. The sequence
    // shuffle partitions by user_id; the transition agg is over a
    // |types|² domain — tiny at any corpus scale.
    "ev13_markov_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = tbl(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
      val counts = pairs.groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("cnt"))
      val wp = Window.partitionBy("prev")
      counts
        .withColumn("p", round(col("cnt").cast("double") /
          sum(col("cnt")).over(wp), 6))
        .orderBy("prev", "next")
    }),

    // Passage-level duplication profile (the drop rule behind
    // substring-dedup curation): per-doc fraction of word-5-gram hashes
    // that appear in ≥2 distinct docs of the mutated corpus. Shuffles
    // carry only (doc_id, 60-bit hash) pairs — document text never leaves
    // the scan stage, so the profile holds at corpus scale.
    "d32_passage_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      def sh(c: Column) = ColumnBridge.column(
        graft.functions.ShingleHashesMd5(ColumnBridge.expression(c), 5))
      import org.apache.spark.sql.expressions.Window
      // ONE shingle pass: per-hash doc counts ride back to each row via a
      // window over h (3 shuffles of (doc_id, hash) rows total) instead
      // of re-deriving the gram set for the dup-set, totals, and join
      // branches separately
      val grams = nearDupCorpus(tbl(s, dir, "documents"))
        .select(col("doc_id"), explode(sh(col("text"))).as("h"))
        .distinct()
        .withColumn("nd", count(lit(1)).over(Window.partitionBy("h")))
      grams.groupBy("doc_id").agg(
          count(lit(1)).as("n_grams"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_frac",
          round(col("n_dup").cast("double") / col("n_grams"), 6))
        .withColumn("keep", (col("dup_frac") < 0.5).cast("int"))
        .orderBy("doc_id")
    }),

    // Per-domain quota sampling (source caps): keep ≤10 docs per source,
    // chosen by a deterministic md5 order so the sample is reproducible
    // run-over-run. NOTE for 100 TB: row_number sorts only within each
    // source partition; a single hot domain serializes onto one reducer —
    // for heavy-hitter domains pre-aggregate a per-source md5 threshold
    // from a sample, then filter (no global sort either way).
    "d33_domain_caps" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .orderBy("source", "rk")
    }),

    // TF-IDF top-3 terms per document. tf comes from the row-local
    // TermCounts map (one scan, no explode-then-agg shuffle for tf); df
    // is one hash agg over (term) and joins back broadcast; ranking is a
    // per-doc window on the ROUNDED score so both engines order
    // identically (ties broken by term). ln+round(6) is the d21-proven
    // cross-engine-stable recipe.
    "d34_tfidf_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val tc = ColumnBridge.column(
        graft.functions.TermCounts(ColumnBridge.expression(col("text"))))
      val tf = tbl(s, dir, "documents")
        .select(col("doc_id"), explode(tc))
        .select(col("doc_id"), col("key").as("term"), col("value").cast("long").as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = tbl(s, dir, "documents").agg(count(lit(1)).as("nn"))
      val scored = tf.join(broadcast(df), "term").crossJoin(broadcast(n))
        .withColumn("score", round(col("tf") *
          (log((col("nn") + 1).cast("double") / (col("df") + 1)) + 1), 6))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term").asc)
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("score"))
        .orderBy("doc_id", "rk")
    }),

    // Exact substring (block-level) dedup WITH document reconstruction —
    // the Lee-et-al-style curation op: tokenize, cut into 8-token blocks,
    // keep only each block's globally-first occurrence, and reassemble
    // every document from its surviving blocks in order. Quote docs
    // (marker tokens + a copied 8-block) lose exactly the copied block.
    // Shuffles carry (block-hashable string, doc_id, pos); reassembly is
    // one per-doc sort of kept blocks.
    "d35_block_dedup_rebuild" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs0 = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val quotes = docs0.select((col("doc_id") + 100000).as("doc_id"),
        concat_ws(" ",
          array_join(array_repeat(concat(lit("mk"), col("doc_id")), 8), " "),
          array_join(slice(expr("filter(split(text, '\\\\s+'), x -> x <> '')"), 1, 8), " "))
          .as("text"))
      val corpus = docs0.union(quotes)
      val toks = corpus.select(col("doc_id"),
        expr("filter(split(text, '\\\\s+'), x -> x <> '')").as("t"))
      // empty-token guard: DIV truncates toward zero (-1 DIV 8 = 0), so an
      // empty token list would fabricate one "" block while the oracle's
      // floor-division generate_series yields none — emit no blocks instead
      val blocks = toks.select(col("doc_id"),
        posexplode(expr(
          "CASE WHEN size(t) = 0 THEN array() " +
            "ELSE transform(sequence(0, CAST((size(t) - 1) DIV 8 AS INT)), " +
            "k -> array_join(slice(t, k * 8 + 1, 8), ' ')) END"))
          .as(Seq("bpos", "block")))
      val keep = Window.partitionBy("block").orderBy("doc_id", "bpos")
      val kept = blocks.withColumn("rn", row_number().over(keep))
        .filter(col("rn") === 1)
      val totals = blocks.groupBy("doc_id").agg(count(lit(1)).as("n_blocks"))
      val rebuilt = kept.groupBy("doc_id").agg(
          count(lit(1)).as("n_kept"),
          sort_array(collect_list(struct(col("bpos"), col("block")))).as("arr"))
        .select(col("doc_id"), col("n_kept"),
          md5(expr("array_join(transform(arr, x -> x.block), ' ')")).as("fp"))
      totals.join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_blocks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("fp"))
        .orderBy("doc_id")
    }),

    // Time-RANGE window frames (trailing 1 hour per user, no
    // self-join, no explode): the frame bound is an interval over the
    // ORDER BY timestamp, so peers are included and the result is
    // independent of tie order. All-integer cents keep it exact.
    "q67_time_range_frame" -> ((s, dir) => {
      tbl(s, dir, "events").createOrReplaceTempView("events_q67")
      s.sql("""SELECT event_id, user_id,
        |COUNT(*) OVER w AS n_1h,
        |SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS cents_1h
        |FROM events_q67
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)
    }),

    // Audio feature extraction over binary media columns: REAL 16-bit PCM
    // sample decode (not header inspection) into exact integer signal
    // stats — energy (sum of squares) and peak amplitude. The sample
    // stream follows an integer formula, so DuckDB replays the identical
    // signal and the oracle is exact end-to-end through the byte level.
    "m9_wav_pcm_stats" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
        val n = (id % 500 + 1).toInt
        (id, Multimodal.wavFixtureTone(16000, n, id))
      }.toDF("doc_id", "media")
      Multimodal.decodeAudioStats(s, media).toDF().orderBy("doc_id")
    }),

    // Streaming dedup with BOUNDED state (dropDuplicatesWithinWatermark):
    // unlike st3's never-expiring dropDuplicates state, entries here are
    // evicted once the watermark passes their event time + delay — the
    // only formulation that survives an unbounded stream. The replayed
    // second file is eliminated entirely: in-horizon duplicates hit live
    // state, out-of-horizon ones are dropped as late.
    "st11_dedup_watermark" -> ((s, dir) => {
      val work = tmpdir("graft-st11")
      val raw = s.read.parquet(s"$dir/events.parquet")
      replayEvents(s, dir, work, 2)
      val deduped = StreamingOps.drainToMemory(s, work, raw.schema,
        df => normalizeTs(df).withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id"),
        OutputMode.Append(),
        readerOptions = Map("maxFilesPerTrigger" -> "1"))
      deduped.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"))
        .orderBy("event_type")
    }),

    // Incremental aggregate maintenance: per-month partial states
    // (count + exact cents sum — both algebraic, so partials merge
    // associatively) are persisted once, and the yearly rollup is
    // answered by MERGING partials instead of rescanning the fact table.
    // At 100 TB this is the difference between reading 12 partial rows
    // and re-reading a year of raw data; the oracle proves merge == direct.
    "q68_incremental_agg_merge" -> ((s, dir) => {
      val out = tmpdir("graft-q68")
      tbl(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("cents"))
        .write.parquet(s"$out/partials")
      s.read.parquet(s"$out/partials")
        .groupBy(year(col("month")).as("yr"))
        .agg(sum(col("n")).as("n"),
          sum(col("cents")).cast("double").as("st"))
        .orderBy("yr")
    }),

    // Z-order (Morton) data layout: the native codegen'd graft_zorder
    // expression interleaves two bucketed dimensions into one clustering
    // key, so sorting by it co-locates rows close in BOTH dims into the
    // same files and min/max stats prune 2-D range scans. The oracle
    // replays the interleave as an explicit 16-term bit sum.
    "q69_zorder_key" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val x = (col("l_partkey") % 65536).cast("long")
      val y = (col("l_suppkey") % 65536).cast("long")
      val z = ColumnBridge.column(graft.functions.ZOrder2(
        ColumnBridge.expression(x), ColumnBridge.expression(y)))
      tbl(s, dir, "lineitem").filter(col("l_orderkey") <= 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          x.as("x"), y.as("y"), z.as("zkey"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Correlated scalar subquery (per-row MAX over a child table):
    // Catalyst decorrelates it into ONE left outer join against a
    // pre-aggregated subquery side — no per-row re-execution. Orders
    // without lineitems surface NULL, exercising the outer-join edge.
    "q70_scalar_subquery" -> ((s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("orders_q70")
      tbl(s, dir, "lineitem").createOrReplaceTempView("lineitem_q70")
      s.sql("""SELECT o_orderkey,
        |  (SELECT MAX(l_quantity) FROM lineitem_q70 l
        |   WHERE l.l_orderkey = o.o_orderkey) AS max_qty
        |FROM orders_q70 o
        |WHERE o_orderkey <= 500
        |ORDER BY o_orderkey""".stripMargin)
    }),

    // Containment similarity (quote detection): C(q,c) = |grams(q) ∩
    // grams(c)| / |grams(q)|. A short quote embedded in a long document
    // scores ~1 on containment while Jaccard stays near 0 — the curation
    // case MinHash/Jaccard dedup misses. Candidates come from the gram-
    // hash equi-join (quote side only probes), so cost scales with shared
    // grams, not |corpus|².
    "d36_containment" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      def sh(c: Column) = ColumnBridge.column(
        graft.functions.ShingleHashesMd5(ColumnBridge.expression(c), 5))
      val docs0 = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val quotes = docs0.select((col("doc_id") + 100000).as("doc_id"),
        concat_ws(" ",
          array_join(slice(expr("filter(split(text, '\\\\s+'), x -> x <> '')"), 1, 20), " "),
          array_join(array_repeat(concat(lit("qt"), col("doc_id")), 10), " "))
          .as("text"))
      import org.apache.spark.sql.expressions.Window
      // per-quote gram totals ride the candidate join as a window count
      // (one extra long per row) so the quote side is shingled ONCE
      val qGrams = quotes
        .select(col("doc_id").as("q_id"), explode(sh(col("text"))).as("h")).distinct()
        .withColumn("n_q", count(lit(1)).over(Window.partitionBy("q_id")))
      val cGrams = docs0
        .select(col("doc_id").as("c_id"), explode(sh(col("text"))).as("h")).distinct()
      val shared = qGrams.join(cGrams, "h")
        .groupBy("q_id", "c_id")
        .agg(count(lit(1)).as("n_shared"), max(col("n_q")).as("n_q"))
      shared
        .withColumn("containment",
          round(col("n_shared").cast("double") / col("n_q"), 6))
        .filter(col("containment") >= 0.5)
        .select(col("q_id"), col("c_id"), col("n_shared"), col("n_q"), col("containment"))
        .orderBy("q_id", "c_id")
    }),

    // Int8 symmetric quantization fidelity: per-vector scale = 127/max|v|,
    // codes are exact ints, and the quantized dot product is pure integer
    // math — so the compressed similarity (4 B/dim → 1 B/dim, the memory
    // trick behind every int8 ANN index) has an EXACT cross-engine oracle.
    // The cosine reconstruction divides by sqrt of exact ints (both
    // engines' sqrt is IEEE correctly-rounded). PQ (e7–e10) is the
    // codegen'd production path; this is its measurable fidelity twin.
    "e13_int8_quantize" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val quant = emb.select(col("vec_id"), col("embedding"))
        .withColumn("amax",
          expr("CAST(array_max(transform(embedding, v -> abs(v))) AS DOUBLE)"))
        .withColumn("qv", expr(
          "CASE WHEN amax = 0D THEN transform(embedding, v -> 0) " +
            "ELSE transform(embedding, v -> " +
            "CAST(round(CAST(v AS DOUBLE) * (127.0D / amax)) AS INT)) END"))
        .select(col("vec_id"), col("qv"),
          expr("aggregate(transform(qv, x -> CAST(x * x AS BIGINT)), 0L, (a, b) -> a + b)")
            .as("s2"))
      val q = quant.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qv").as("qa"), col("s2").as("s2a"))
      val c = quant.filter(col("vec_id") >= 10 && col("vec_id") < 60)
        .select(col("vec_id").as("c_id"), col("qv").as("qb"), col("s2").as("s2b"))
      broadcast(q).crossJoin(c)
        .withColumn("dot_q", expr(
          "aggregate(zip_with(qa, qb, (x, y) -> CAST(x * y AS BIGINT)), 0L, (a, b) -> a + b)"))
        .withColumn("cos_q", round(col("dot_q").cast("double") /
          sqrt(col("s2a").cast("double") * col("s2b").cast("double")), 6))
        .select(col("q_id"), col("c_id"), col("dot_q"), col("cos_q"))
        .orderBy("q_id", "c_id")
    }),

    // URL canonicalization (web-corpus dedup prep): the codegen'd
    // graft_url_canon expression normalizes scheme/host case, strips
    // default ports, sorts query parameters, and drops fragments — the
    // variants that make one page look like many to exact dedup. The
    // oracle CONSTRUCTS the expected canonical form independently from
    // the same messy components, so the expression is checked against an
    // un-parsed ground truth. Row-local, zero shuffle.
    "d37_url_canonicalize" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val raw = concat(
        lit("HTTPS://"), upper(col("source")), lit(".Example.COM:443/Docs/"),
        col("doc_id"), lit("?b="), col("doc_id") % 7,
        lit("&a="), col("doc_id") % 3, lit("#sec"))
      val canon = ColumnBridge.column(
        graft.functions.UrlCanonicalize(ColumnBridge.expression(raw)))
      tbl(s, dir, "documents")
        .select(col("doc_id"), canon.as("url_canon"))
        .orderBy("doc_id")
    }),

    // Point-in-time (feature-store) join: enrich each probe with the
    // dimension version that was valid AT the probe's event time — the
    // join that makes training features leakage-free. The SCD2 dimension
    // (q36's half-open [valid_from, valid_to) segments) partitions each
    // user's timeline, so exactly one version matches. Planned as an
    // equi-join on user_id with the interval as a residual filter;
    // per-user segment counts are bounded, and the native as-of operator
    // (ev6) is the O(1)-state alternative when they aren't.
    "q71_pit_join" -> ((s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val ev = tbl(s, dir, "events")
      val seg = ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("chg",
          when(not(lag(col("event_type"), 1).over(wOrd) <=> col("event_type")), 1)
            .otherwise(0))
        .withColumn("seg", sum(col("chg"))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val dim = seg.groupBy("user_id", "seg")
        .agg(min(col("event_type")).as("feat"), min(col("ts")).as("valid_from"))
        .select(col("user_id"), col("seg").cast("int").as("version"),
          col("feat"), col("valid_from"))
        .withColumn("valid_to", lead(col("valid_from"), 1)
          .over(Window.partitionBy("user_id").orderBy("version")))
      val probes = ev.filter(col("event_id") % 10 === 0)
        .select(col("event_id").as("probe_id"), col("user_id"), col("ts"))
      probes.join(dim, Seq("user_id"))
        .filter(col("ts") >= col("valid_from") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")))
        .select(col("probe_id"), col("user_id"), col("version"), col("feat"))
        .orderBy("probe_id")
    }),

    // Per-user lifetime profile — the "user feature table" aggregation:
    // event counts, type diversity, activity span endpoints, distinct
    // active hours, and exact cents volume, all in ONE hash aggregate
    // (count-distincts expand map-side; no window, no self-join).
    "ev14_user_profile" -> ((s, dir) => {
      tbl(s, dir, "events")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"),
          countDistinct(date_trunc("hour", col("ts"))).as("active_hours"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents"))
        .orderBy("user_id")
    }),

    // Join-strategy hints: MERGE forces a sort-merge join where the
    // optimizer would broadcast (customer is tiny at test SF), BROADCAST
    // forces the dim broadcast — the surface that lets a user overrule
    // size estimates at 100 TB, where a misestimated auto-broadcast OOMs
    // the driver. Plan-pinned: both strategies appear in one plan.
    "q72_join_hints" -> ((s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("orders_q72")
      tbl(s, dir, "customer").createOrReplaceTempView("customer_q72")
      tbl(s, dir, "nation").createOrReplaceTempView("nation_q72")
      s.sql("""SELECT /*+ SHUFFLE_MERGE(c), BROADCAST(n) */
        |  n.n_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st
        |FROM orders_q72 o
        |JOIN customer_q72 c ON o.o_custkey = c.c_custkey
        |JOIN nation_q72 n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin)
    }),

    // Image near-dup fingerprint (average hash): REAL PNG decode, 8×8
    // integer block means vs global mean, one bit per block. Re-encoded /
    // re-sized variants of an image keep the same 64-bit key, so exact
    // dedup collapses them — the image twin of d1's text fingerprint.
    // The gradient rasters make every block sum a closed-form integer,
    // so the oracle replays the hash bit-for-bit without any decoder.
    "m10_image_ahash" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = (8 * (2 + id % 5)).toInt
        val h = (8 * (2 + (id / 5) % 5)).toInt
        (id, Multimodal.pngGradientBytes(w, h))
      }.toDF("doc_id", "media")
      media.as[(Long, Array[Byte])].mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          Multimodal.imageAHash(bytes).map { case (w, h, hash) => (id, w, h, hash) }
        }
      }.toDF("doc_id", "w", "h", "ahash").orderBy("doc_id")
    }),

    // Association rules over per-user event-type baskets: pair support
    // from ONE equi-self-join on user_id (fan-out bounded by |types|² per
    // user, never |users|²), confidence and lift as exact-integer ratios.
    // The basket-mining primitive for co-occurrence analysis.
    "ev15_assoc_rules" -> ((s, dir) => {
      val ut = tbl(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
      val singles = ut.groupBy("event_type").agg(count(lit(1)).as("n_single"))
      val n = ut.agg(countDistinct(col("user_id")).as("nn"))
      val pairs = ut.as("a")
        .join(ut.as("b"), col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("ante"), col("b.event_type").as("cons"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(singles.select(col("event_type").as("ante"),
          col("n_single").as("n_a"))), "ante")
        .join(broadcast(singles.select(col("event_type").as("cons"),
          col("n_single").as("n_b"))), "cons")
        .crossJoin(broadcast(n))
        .select(col("ante"), col("cons"), col("n_ab"),
          round(col("n_ab").cast("double") / col("n_a"), 6).as("conf"),
          round((col("n_ab") * col("nn")).cast("double") /
            (col("n_a") * col("n_b")), 6).as("lift"))
        .orderBy("ante", "cons")
    }),

    // Gaps-and-islands over per-user activity hours: the hour-index minus
    // row_number trick turns consecutive runs into constant group keys —
    // two hash aggregates, no self-join, no explode. All-integer hour
    // indices keep it exact.
    "q73_gaps_islands" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hrs = tbl(s, dir, "events")
        .select(col("user_id"),
          expr("unix_timestamp(date_trunc('hour', ts)) DIV 3600").as("hr"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("hr")
      hrs.withColumn("grp", col("hr") - row_number().over(w))
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
        .groupBy("user_id").agg(
          count(lit(1)).as("n_islands"),
          max(col("len")).as("longest"),
          sum(col("len")).as("active_hours"))
        .orderBy("user_id")
    }),

    // Triangle counting on the SUPPORT-FILTERED co-purchase graph (part
    // pairs sharing ≥2 orders — the support cut keeps edge density
    // scale-stable instead of saturating toward a complete graph as
    // orders grow), with DEGREE-ORIENTED wedges: each undirected edge
    // points from its lower-(degree, id) endpoint, capping out-degree at
    // O(√|E|) so wedge fan-out survives power-law hubs — the standard
    // scalable formulation. The oracle counts the same triangles with
    // the simple a<b<c chain join.
    "q74_triangle_count" -> ((s, dir) => {
      val e = coPurchaseEdges(s, dir)
      val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val eo = e
        .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
        .select(
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
            struct(col("u").as("s"), col("v").as("t")))
            .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
        .select(col("e.s").as("s"), col("e.t").as("t"))
      // shuffle_hash on both wedge-side joins: the wedge list is the
      // one quadratic-in-degree intermediate here — it must stream
      // through hash probes, never SORT (the sf1 rehearsal measured the
      // SMJ flip sorting ~10x the wedges: 31.9x wall at 10x data; AQE
      // still upgrades to broadcast when the build side allows)
      val wedges = eo.as("x")
        .join(eo.as("y").hint("shuffle_hash"),
          col("x.s") === col("y.s") && col("x.t") < col("y.t"))
        .select(col("x.t").as("wu"), col("y.t").as("wv")) // ordered by the join cond
      val tri = wedges
        .join(e.select(col("u").as("wu"), col("v").as("wv")).hint("shuffle_hash"),
          Seq("wu", "wv"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
      val nEdges = e.agg(count(lit(1)).as("n_edges"))
      val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
      broadcast(nNodes).crossJoin(broadcast(nEdges)).crossJoin(tri)
    }),

    // Spark 4 arbitrary-state API (transformWithState + typed ValueState
    // on the RocksDB state store) — the successor to mapGroupsWithState
    // (st2): named state variables, TTL, timers. Two replayed files
    // exercise state ACROSS micro-batches; the oracle doubles the batch
    // aggregate accordingly.
    "st12_transform_with_state" -> ((s, dir) => {
      val work = tmpdir("graft-st12")
      val raw = s.read.parquet(s"$dir/events.parquet")
      replayEvents(s, dir, work, 2)
      StreamingOps.drainToMemory(s, work, raw.schema,
          df => StreamingOps.runningUserAggTws(s, normalizeTs(df))
            .toDF("user_id", "n", "cents"),
          OutputMode.Update(),
          readerOptions = Map("maxFilesPerTrigger" -> "1"),
          extraConf = Map("spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
        .groupBy("user_id")
        // the final state row is the one with the highest running COUNT
        // (monotone by construction); take its cents via max_by rather
        // than max(cents), which would silently assume cents never
        // decreases (it would with negative/refund values)
        .agg(max(col("n")).as("n_events"),
          expr("max_by(cents, n)").as("cents"))
        .orderBy("user_id")
    }),

    // MapState flavor of the arbitrary-state API: one keyed map per user
    // (type → running count) instead of a composite grouping key — the
    // layout a per-entity feature store holds. Same two-file replay;
    // update-mode last write per (user, type) is the final doubled count.
    "st13_mapstate_counts" -> ((s, dir) => {
      val work = tmpdir("graft-st13")
      val raw = s.read.parquet(s"$dir/events.parquet")
      replayEvents(s, dir, work, 2)
      StreamingOps.drainToMemory(s, work, raw.schema,
          df => StreamingOps.runningUserTypeCountsTws(s, normalizeTs(df))
            .toDF("user_id", "event_type", "n"),
          OutputMode.Update(),
          readerOptions = Map("maxFilesPerTrigger" -> "1"),
          extraConf = Map("spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
        .groupBy("user_id", "event_type")
        .agg(max(col("n")).as("n_events"))
        .orderBy("user_id", "event_type")
    }),

    // GROUP BY ALL — infer grouping keys from the non-aggregate select
    // list (the schema-drift-friendly SQL sugar both engines share).
    "q75_group_by_all" -> ((s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("orders_q75")
      s.sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st
        |FROM orders_q75 GROUP BY ALL ORDER BY 1, 2""".stripMargin)
    }),

    // LIMIT/OFFSET pagination under a total order — deterministic pages.
    "q76_limit_offset" -> ((s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("orders_q76")
      s.sql("""SELECT o_orderkey, o_orderstatus,
        |CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders_q76 ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin)
    }),

    // Heaps-law corpus statistics per source: token volume, vocabulary
    // size, hapax count, type-token ratio — the vocabulary-growth numbers
    // a tokenizer budget is planned against. One explode, two hash aggs.
    "d38_heaps_law" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("source"),
          explode(expr("filter(split(lower(text), '\\\\s+'), t -> t <> '')")).as("term"))
      toks.groupBy("source", "term").agg(count(lit(1)).as("cnt"))
        .groupBy("source").agg(
          sum(col("cnt")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"))
        .withColumn("ttr", round(col("vocab").cast("double") / col("n_tokens"), 6))
        .orderBy("source")
    }),

    // UTF-8 byte premium per language: bytes-per-character ratio over
    // text with injected non-ASCII (the d30 suffixes) — the number that
    // prices multilingual data into a byte-budgeted token pipeline.
    // Exact integer byte/char sums; ratio is one exact division.
    "d39_byte_premium" -> ((s, dir) => {
      // explicit escapes (d30's trick): composed U+00E9 is 2 bytes/1
      // char, decomposed e+U+0301 is 3 bytes/2 chars - visually identical
      val suffix = when(col("doc_id") % 4 === 0, lit(" caf\u00e9"))
        .when(col("doc_id") % 4 === 1, lit(" cafe\u0301"))
        .when(col("doc_id") % 4 === 2, lit(" u\u0308ber"))
        .otherwise(lit(""))
      tbl(s, dir, "documents")
        .select(col("lang"), concat(col("text"), suffix).as("t"))
        .groupBy("lang").agg(
          sum(octet_length(col("t"))).as("n_bytes"),
          sum(length(col("t"))).as("n_chars"))
        .withColumn("premium",
          round(col("n_bytes").cast("double") / col("n_chars"), 6))
        .orderBy("lang")
    }),

    // EXACT set-similarity join via prefix filtering (PPJoin-style): all
    // pairs at 5-gram-shingle-set Jaccard ≥ 4/5, candidates only from
    // rarest-first prefix elements — the exact counterpart to
    // MinHash-LSH (d2), which can miss pairs. Shingle hashes (not raw
    // tokens) are the set elements: the corpus vocabulary is closed, so
    // token sets are degenerate (every token frequent, prefixes prune
    // nothing), while shingles are near-unique and the prefix join fan
    // tracks true near-dups. The oracle recomputes every qualifying pair
    // through an unfiltered shared-shingle join, so the pruning is
    // proven LOSSLESS, not just fast. Integer cross-multiplied
    // threshold; no FP anywhere.
    "d40_prefix_join" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      def sh(c: Column) = ColumnBridge.column(
        graft.functions.ShingleHashesMd5(ColumnBridge.expression(c), 5))
      val sets = nearDupCorpus(tbl(s, dir, "documents"))
        .select(col("doc_id").as("id"), explode(sh(col("text"))).as("elem"))
        .distinct()
      Dedup.prefixJaccardJoin(sets, 4, 5).orderBy("ia", "ib")
    }),

    // Winsorized mean per group: clip cents at the group's interpolated
    // p5/p95 (thresholds rounded to integer cents so the clipped sum
    // stays exact), then average as an exact ratio.
    "q77_winsorize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      val w = Window.partitionBy("o_orderpriority")
      val e = tbl(s, dir, "orders")
        .select(col("o_orderpriority"), cents.as("c"))
        .withColumn("lo", round(expr("percentile(c, 0.05)").over(w), 0).cast("long"))
        .withColumn("hi", round(expr("percentile(c, 0.95)").over(w), 0).cast("long"))
      e.select(col("o_orderpriority"),
          greatest(col("lo"), least(col("hi"), col("c"))).as("cw"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("cw")).as("sum_cents"),
          round(sum(col("cw")).cast("double") / count(lit(1)), 6).as("wmean"))
        .orderBy("o_orderpriority")
    }),

    // Running distinct count per user (COUNT(DISTINCT) OVER is not a
    // thing in either engine): flag each type's first occurrence with a
    // row_number, then a cumulative sum of flags — the standard
    // decomposition, all exact integers.
    "q78_running_distinct" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wFirst = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      val wCum = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .withColumn("first_seen",
          when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
        .withColumn("n_distinct_types", sum(col("first_seen")).over(wCum))
        .select(col("event_id"), col("user_id"), col("n_distinct_types"))
        .orderBy("event_id")
    }),

    // Sparse TF-IDF cosine similarity (retrieval scoring without
    // embeddings): weights are INTEGER-scaled (tf · round(idf·10⁶)), so
    // the shared-token dot products and norms are exact longs — immune
    // to FP accumulation order across partitions — and only the final
    // cosine divides through correctly-rounded sqrt. Pair generation is
    // the shared-token equi-join (sparse dot's natural plan); probe side
    // bounded to doc_id < 50.
    "d41_sparse_cosine" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(expr("filter(split(lower(text), '\\\\s+'), x -> x <> '')")).as("tk"))
        .groupBy("doc_id", "tk").agg(count(lit(1)).as("tf"))
      val dfreq = toks.groupBy("tk").agg(count(lit(1)).as("df"))
      val n = tbl(s, dir, "documents").agg(count(lit(1)).as("nn"))
      // the corpus-wide weight table feeds THREE consumers (norms, probe
      // side, corpus side) — materialize it ONCE as a COLUMNAR cache
      // (compressed InMemoryRelation, memory-and-disk). Strategy measured
      // head-to-head at sf10 (6M docs, one JVM, alternating reps,
      // SCALING.md r8): columnar persist ≈ localCheckpoint (32.4 vs
      // 32.6 s) and re-deriving lazily from the shared tf exchange is
      // ~23% slower (40 s — each consumer re-runs the final tf aggregate
      // + weight arithmetic). persist wins on the cluster argument, not
      // the local number: localCheckpoint blocks are NON-RECOVERABLE (an
      // executor loss kills the job — a certainty across a 1000-executor
      // fleet), while a persisted partition lost with its executor
      // recomputes from lineage; and the columnar blocks compress where
      // checkpoint rows do not. Tracked in the session cache so
      // resetSessionCache unpersists it.
      val weighted = cachedDf(s, s"d41w|$dir") {
        val w = toks.join(broadcast(dfreq), "tk").crossJoin(broadcast(n))
          .withColumn("w", col("tf") *
            round((log((col("nn") + 1).cast("double") / (col("df") + 1)) + 1) * 1e6, 0)
              .cast("long"))
          .select(col("doc_id"), col("tk"), col("w"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        w.count() // materialize while the scan is hot
        w
      }
      val norms = weighted.groupBy("doc_id")
        .agg(sum(col("w") * col("w")).as("nrm2"))
      // the probe side is 50 docs' tokens — the predicate prunes the
      // cached scan — BROADCAST so the corpus token table streams
      // map-side through the shared-token join and the (ia, ib) partial
      // aggregation, instead of shuffling every (doc, token, weight) row
      // by token (a skew magnet: stopword tokens are the hottest keys in
      // the corpus)
      val probes = broadcast(weighted.filter(col("doc_id") < 50)
        .select(col("doc_id").as("ia"), col("tk"), col("w").as("wa")))
      val dots = weighted
        .select(col("doc_id").as("ib"), col("tk"), col("w").as("wb"))
        .join(probes, "tk")
        .filter(col("ia") < col("ib"))
        .groupBy("ia", "ib").agg(sum(col("wa") * col("wb")).as("dot"))
      dots
        .join(norms.select(col("doc_id").as("ia"), col("nrm2").as("na")), "ia")
        .join(norms.select(col("doc_id").as("ib"), col("nrm2").as("nb")), "ib")
        .withColumn("cos", round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6))
        .filter(col("cos") >= 0.2)
        .select(col("ia"), col("ib"), col("dot"), col("cos"))
        .orderBy("ia", "ib")
    }),

    // Rolling median (trailing-20 interpolated percentile per user) —
    // the robust rolling statistic for time-series features. A sorted-
    // frame percentile is order-independent within the frame, so the
    // result is exact-deterministic; interpolation parity with DuckDB's
    // quantile_cont is the q21/q27-proven recipe.
    "q79_rolling_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cents = round(col("value") * 100, 0).cast("long")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
      tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), cents.as("c"))
        .withColumn("med20", round(expr("percentile(c, 0.5)").over(w), 4))
        .select(col("event_id"), col("user_id"), col("med20"))
        .orderBy("event_id")
    }),

    // Relative-rank window functions: percent_rank and cume_dist are
    // exact ratios of rank integers, so cross-engine parity is free;
    // rounding only guards the division's final digit.
    "q80_rank_ratios" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_orderkey"))
      tbl(s, dir, "orders").filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
        .withColumn("bucket", ntile(7).over(w))
        .orderBy("o_orderkey")
    }),

    // Bitwise and boolean aggregates (bit_and/or/xor, bool_and/or) —
    // order-independent integer folds, exact under any partitioning.
    "q81_bit_aggs" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(expr("bit_and(o_orderkey)").as("band"),
          expr("bit_or(o_orderkey)").as("bor"),
          expr("bit_xor(o_orderkey)").as("bxor"),
          expr("bool_and(o_totalprice > 0)").as("all_pos"),
          expr("bool_or(o_orderkey % 1000 = 0)").as("any_k"))
        .orderBy("o_orderstatus")
    }),

    // Recursive CTE (Spark 4's UnionLoop): walk a part hierarchy derived
    // deterministically from the key (parent = key div 10, roots < 10)
    // and roll each subtree up to its root. The recursion depth is the
    // key's digit count, so the loop terminates in ~6 iterations at any
    // scale; each iteration is one keyed equi-join.
    "q82_recursive_cte" -> ((s, dir) => {
      tbl(s, dir, "part").createOrReplaceTempView("part_q82")
      s.sql("""WITH RECURSIVE walk AS (
        |  SELECT p_partkey, p_partkey AS root, 0 AS depth FROM part_q82
        |  WHERE p_partkey < 10
        |  UNION ALL
        |  SELECT c.p_partkey, w.root, w.depth + 1
        |  FROM part_q82 c JOIN walk w ON c.p_partkey DIV 10 = w.p_partkey
        |  WHERE c.p_partkey >= 10)
        |SELECT root, COUNT(*) AS n_parts, CAST(MAX(depth) AS INT) AS max_depth,
        |  SUM(CAST(round(p.p_retailprice * 100) AS BIGINT)) AS subtree_cents
        |FROM walk JOIN part_q82 p USING (p_partkey)
        |GROUP BY root ORDER BY root""".stripMargin)
    }),

    // Union-by-name over drifted schemas: two extracts that share only
    // part of their columns combine by NAME (missing columns null-fill)
    // — the schema-evolution-tolerant union an ingest pipeline needs
    // when readers predate a source's new column.
    "q83_union_by_name" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val a = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val b = o.filter(col("o_orderkey") % 3 === 1)
        .select(col("o_orderstatus"), col("o_orderkey"),
          col("o_orderpriority")) // different order; disjoint extras
      a.unionByName(b, allowMissingColumns = true)
        .orderBy("o_orderkey")
    }),

    // Ordered-sequence pattern match (CEP-style): view → click →
    // purchase per user, each step within 24 hours of the previous.
    // Three IGNORE-NULLS running windows over ONE (user, time) sort
    // carry the latest view / latest qualifying click forward — no
    // self-joins, no per-user explode, one shuffle total.
    "ev16_pattern_match" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ev = tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val withView = ev
        .withColumn("lv_ts", last(when(col("event_type") === "view", col("ts")), ignoreNulls = true).over(w))
        .withColumn("lv_id", last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true).over(w))
      val qc = col("event_type") === "click" &&
        col("lv_ts").isNotNull &&
        unix_micros(col("ts")) - unix_micros(col("lv_ts")) <= 86400000000L
      val withClick = withView
        .withColumn("qc_ts", last(when(qc, col("ts")), ignoreNulls = true).over(w))
        .withColumn("qc_id", last(when(qc, col("event_id")), ignoreNulls = true).over(w))
        .withColumn("qc_view", last(when(qc, col("lv_id")), ignoreNulls = true).over(w))
      withClick
        .filter(col("event_type") === "purchase" && col("qc_ts").isNotNull &&
          unix_micros(col("ts")) - unix_micros(col("qc_ts")) <= 86400000000L)
        .select(col("user_id"), col("qc_view").as("view_id"),
          col("qc_id").as("click_id"), col("event_id").as("purchase_id"))
        .orderBy("purchase_id")
    }),

    // Truncated exponential moving average (α = 1/2 over the last 8
    // events): the weighted sum and the weight total are exact integers
    // (cents × powers of two), so the only float is the final division —
    // cross-engine parity needs no tolerance. Eight lags over one
    // (user, time) sort: a single shuffle, no self-join, no UDAF.
    "ev17_ewma" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val e = tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * 100, 0).cast("long").as("c"))
      val terms = (0 until 8).map { k =>
        val lk = if (k == 0) col("c") else lag(col("c"), k).over(w)
        (coalesce(lk, lit(0L)) * lit(1L << (7 - k)),
          when(lk.isNotNull, lit(1L << (7 - k))).otherwise(lit(0L)))
      }
      e.withColumn("num", terms.map(_._1).reduce(_ + _))
        .withColumn("den", terms.map(_._2).reduce(_ + _))
        .select(col("event_id"), col("user_id"),
          round(col("num").cast("double") / col("den"), 6).as("ewma8"))
        .orderBy("event_id")
    }),

    // Time travel over the versioned snapshot table: v1 is a filtered
    // extract, v2 the full table; the query reads the PINNED v1 after v2
    // committed — reproducible reads under concurrent writes, the
    // snapshot-isolation contract. The oracle replays v1's content rule.
    "q84_time_travel" -> ((s, dir) => {
      import graft.sinks.VersionedTable
      val root = tmpdir("graft-q84") + "/orders_versioned"
      val o = tbl(s, dir, "orders")
      val v1 = VersionedTable.write(s, o.filter(col("o_orderkey") % 2 === 0), root)
      VersionedTable.write(s, o, root) // v2 supersedes; v1 stays readable
      VersionedTable.read(s, root, Some(v1))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // ListState flavor of the arbitrary-state API (completing the
    // typed-state triple: ValueState st12, MapState st13): per-user top-3
    // cents, list trimmed to k on every update so state is O(k) per key.
    // Two replayed files exercise the trim across batches; each rank is
    // monotone across batches, so max per (user, rank) is the final state.
    "st14_liststate_topk" -> ((s, dir) => {
      val work = tmpdir("graft-st14")
      val raw = s.read.parquet(s"$dir/events.parquet")
      replayEvents(s, dir, work, 2)
      StreamingOps.drainToMemory(s, work, raw.schema,
          df => StreamingOps.runningUserTopCentsTws(s, normalizeTs(df), 3)
            .toDF("user_id", "rnk", "cents"),
          OutputMode.Update(),
          readerOptions = Map("maxFilesPerTrigger" -> "1"),
          extraConf = Map("spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
        .groupBy("user_id", "rnk")
        .agg(max(col("cents")).as("cents"))
        .orderBy("user_id", "rnk")
    }),

    // Exact-k stratified sampling: every group contributes EXACTLY k rows
    // chosen by portable md5 rank — reproducible under any partitioning,
    // retry, or engine (the per-group twin of q37's bucket sampling, for
    // when quotas must be met exactly rather than in expectation).
    "q85_stratified_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val h = conv(substring(md5(col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
      val w = Window.partitionBy("o_orderpriority").orderBy(col("h"), col("o_orderkey"))
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), h.as("h"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 20)
        .select(col("o_orderkey"), col("o_orderpriority"), col("rnk"))
        .orderBy("o_orderpriority", "rnk")
    }),

    // Persistent catalog VIEW: the stored view text re-resolves per
    // query, so the filter through the view reaches the underlying scan
    // (views inline during analysis — no materialization layer). The
    // oracle replays the composed query.
    "q86_catalog_view" -> ((s, dir) => {
      val client = new graft.catalog.SparkCatalogClient(s)
      client.ensureDatabase("graft_views")
      client.createView("graft_views", "orders_enriched",
        s"""SELECT o_orderkey, o_orderstatus, o_orderpriority,
           |CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           |date_trunc('month', o_orderdate) AS mon
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      s.sql("""SELECT o_orderstatus, mon, COUNT(*) AS n, SUM(cents) AS cents
        |FROM graft_views.orders_enriched
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus, mon ORDER BY o_orderstatus, mon""".stripMargin)
    }),

    // Threshold similarity search (range query, the dual of top-k): all
    // corpus vectors with cosine ≥ τ of each probe. Probes broadcast;
    // the corpus streams map-side — same scan shape as e1, result size
    // bounded by τ instead of k.
    "e14_sim_threshold" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = broadcast(emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec")))
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cvec"))
        .join(q, col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          Dedup.cosine(col("qvec"), col("cvec")).as("sim"))
        .filter(col("sim") >= 0.2)
        .select(col("query_id"), col("neighbor_id"), round(col("sim"), 6).as("cos6"))
        .orderBy("query_id", "neighbor_id")
    }),

    // KMV (k-minimum-values) distinct sketch with an EXACT cross-engine
    // oracle: the K smallest portable md5-60bit hashes of the distinct
    // tokens per source. Unlike HLL (q19/q20, estimate-only gates), KMV's
    // state is a deterministic integer set, so construction, the kth
    // hash, and the (K-1)·2⁶⁰/h_K estimate are all hash-comparable. The
    // sketch MERGES by keeping the K smallest of a union — the '__all__'
    // row is built from the per-source sketches, proving mergeability,
    // not from a second corpus pass. Per-group top-K prunes map-side
    // (WindowGroupLimit); only (source, hash) longs ever shuffle.
    "d43_kmv_sketch" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val K = 64
      // sketch the distinct DOCUMENT fingerprints per source (the dedup-
      // cardinality question); the token vocabulary is too small to
      // engage a K=64 sketch
      val toks = tbl(s, dir, "documents")
        .select(col("source"),
          conv(substring(md5(col("text")), 1, 15), 16, 10).cast("bigint").as("h"))
        .distinct() // distinct hashes: KMV is over the value set
      val w = Window.partitionBy("source").orderBy("h")
      val sketches = toks.withColumn("r", row_number().over(w)).filter(col("r") <= K)
      val merged = sketches.select(lit("__all__").as("source"), col("h")).distinct()
        .withColumn("r", row_number().over(Window.partitionBy("source").orderBy("h")))
        .filter(col("r") <= K)
      sketches.select(col("source"), col("h"), col("r")).unionAll(merged)
        .groupBy("source")
        .agg(count(lit(1)).as("k_used"), max(col("h")).as("kth_hash"))
        // the standard KMV rule: a sketch that never filled IS the exact
        // value set, so its estimate is the exact count
        .withColumn("est", when(col("k_used") < K,
            col("k_used").cast("double"))
          .otherwise(round(lit(63.0) * lit(1152921504606846976.0) /
            col("kth_hash").cast("double"), 4)))
        .orderBy("source")
    }),

    // Streaming into the versioned snapshot table: each micro-batch
    // commits as its own immutable version via foreachBatch, so the
    // table's history IS the batch sequence — a pinned read of version 1
    // reproduces the first batch exactly even after later batches landed.
    "st15_stream_versioned" -> ((s, dir) => {
      import graft.sinks.VersionedTable
      val work = tmpdir("graft-st15")
      val root = s"$work/versioned"
      val raw = s.read.parquet(s"$dir/events.parquet")
      new java.io.File(s"$work/in").mkdirs()
      replayEvents(s, dir, s"$work/in", 2)
      val stream = s.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          VersionedTable.write(s, batch, root); ()
        }
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val nVersions = VersionedTable.versions(s, root).size
      normalizeTs(VersionedTable.read(s, root, Some(1L)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents"))
        .withColumn("n_versions", lit(nVersions))
        .orderBy("event_type")
    }),

    // Animated-GIF timing decode: each frame's delay comes from parsing
    // the REAL Graphic Control Extension preceding its image descriptor
    // (delay scope is one image, per spec — the walk must reset it).
    "m12_gif_delays" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents")
        .filter(col("doc_id") < 600).select(col("doc_id")).as[Long].map { id =>
          val n = (id % 4 + 1).toInt
          val ws = (0 until n).map(k => (id % 64 + k + 1).toInt)
          val hs = (0 until n).map(k => (id % 32 + k + 1).toInt)
          val ds = (0 until n).map(k => ((id + k) % 50 + 1).toInt)
          (id, Multimodal.gifFixtureAnimated(ws, hs, ds))
        }.toDF("doc_id", "media")
      Multimodal.decodeGifDelays(s, media).toDF()
        .orderBy("doc_id", "frame_idx")
    }),

    // Bigram-LM perplexity scoring (the LM-quality filter d12's OOV rate
    // approximates): add-one-smoothed log-probabilities, each ROUNDED to
    // 6 dp and integer-scaled BEFORE the per-doc sum — the sum is then
    // exact under any partitioning / aggregation order (the ev12 trick
    // applied to logs; a raw double sum would be order-dependent).
    // Train on 80% of docs, score the held-out 20%; the closed fixture
    // vocabulary keeps the count tables broadcastable here, and at real
    // scale the bigram join keys on (w1, w2) — a plain hash join.
    "d46_bigram_perplexity" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = tbl(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(expr("filter(split(lower(text), '\\\\s+'), x -> x <> '')"))
            .as(Seq("pos", "tk")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val bigrams = toks
        .withColumn("w1", lag(col("tk"), 1).over(w))
        .filter(col("w1").isNotNull)
        .select(col("doc_id"), col("w1"), col("tk").as("w2"))
      val train = bigrams.filter(col("doc_id") % 10 < 8)
      val c12 = train.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = toks.filter(col("doc_id") % 10 < 8)
        .groupBy(col("tk").as("w1")).agg(count(lit(1)).as("c1"))
      val vocab = toks.filter(col("doc_id") % 10 < 8)
        .agg(countDistinct(col("tk")).as("v"))
      bigrams.filter(col("doc_id") % 10 >= 8)
        .join(broadcast(c12), Seq("w1", "w2"), "left")
        .join(broadcast(c1), Seq("w1"), "left")
        .crossJoin(broadcast(vocab))
        .withColumn("lp", expr(
          """CAST(round(ln((coalesce(c12, CAST(0 AS BIGINT)) + 1)
            |  / CAST(coalesce(c1, CAST(0 AS BIGINT)) + v AS DOUBLE)) * 1000000)
            |AS BIGINT)""".stripMargin))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("lp_sum"))
        .withColumn("avg_logp",
          round(col("lp_sum").cast("double") / col("n_bigrams") / 1e6, 6))
        .orderBy("doc_id")
    }),

    // SemDeDup (semantic dedup): k=8 centroid cells (the first 8 base
    // vectors — e11's convention) bound the pairwise term; the corpus is
    // e3's mutant union (originals ∪ first-element-perturbed copies at
    // id+100000), so every cell contains guaranteed semantic dups with a
    // known keep/drop structure. Round 6: cell occupancy is HARD-bounded
    // by cap=128 sorted-neighborhood rank-chunks (the oracle implements
    // the identical chunking). 128 binds at sf0.1 ALREADY (cells ~500),
    // so per-row candidate work is the same constant at every SF above
    // it — the 10x rehearsal then scales linearly instead of paying
    // cap-engagement exactly once (cap=512's 11.6x lesson).
    // Full per-vector verdict, hash-gated.
    "d47_semdedup" -> ((s, dir) => {
      val base = tbl(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val mut = base.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("v"))
      val cents = base.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("cvec"))
      Dedup.semDedup(base.union(mut), "vec_id", "v", cents, threshold = 0.99, cap = 128)
        .select(col("id").as("vec_id"), col("cid"), col("kept"))
        .orderBy("vec_id")
    }),

    // RAG/pretraining chunker: sliding 64-token windows on a 48-token
    // stride (16-token overlap), each chunk fingerprinted with the
    // portable md5-60bit hash of its joined text. Row-local end to end —
    // token array, window walk, and fingerprint all live inside one
    // projection; ZERO shuffle at any corpus size (the d19 discipline).
    "d48_rag_chunks" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(lower(text), '\\\\s+'), x -> x <> '')").as("toks"))
        .select(col("doc_id"), size(col("toks")).as("n"), col("toks"))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("n"), col("toks"),
          explode(sequence(lit(0), floor((col("n") - 1) / lit(48)).cast("int"))).as("k"))
        .select(col("doc_id"), col("k").as("chunk_idx"),
          least(lit(64), col("n") - col("k") * 48).as("n_tokens"),
          conv(substring(
            md5(array_join(slice(col("toks"), col("k") * 48 + 1, lit(64)), " ")),
            1, 15), 16, 10).cast("bigint").as("fp"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): hashed
    // word-bigram features (1024 buckets on the portable md5-60bit hash),
    // add-one-smoothed target/raw log-likelihood ratio per bucket, per-doc
    // importance = Σ λ over its bigrams. λ is rounded and integer-scaled
    // BEFORE the per-doc sum (the d46 rule — exact under any partitioning
    // and engine); the ≤1024-row weight table broadcasts, so scoring is a
    // map-side lookup at any corpus size. Target docs (id%10<2) stand in
    // for the target-domain sample; the remaining 80% get scored.
    "d49_dsir_weights" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      def sh2(c: Column) = ColumnBridge.column(
        graft.functions.ShingleHashesMd5(ColumnBridge.expression(c), 2))
      val grams = tbl(s, dir, "documents")
        .select(col("doc_id"), explode(sh2(col("text"))).as("h"))
        .select(col("doc_id"), expr("h % 1024").as("b"))
      val tgt = grams.filter(col("doc_id") % 10 < 2)
      val raw = grams.filter(col("doc_id") % 10 >= 2)
      val lam = tgt.groupBy("b").agg(count(lit(1)).as("ct"))
        .join(raw.groupBy("b").agg(count(lit(1)).as("cr")), Seq("b"), "full_outer")
        .crossJoin(broadcast(tgt.agg(count(lit(1)).as("nt"))))
        .crossJoin(broadcast(raw.agg(count(lit(1)).as("nr"))))
        .select(col("b"), expr(
          """CAST(round((ln((coalesce(ct, CAST(0 AS BIGINT)) + 1)
            |    / CAST(nt + 1024 AS DOUBLE))
            |  - ln((coalesce(cr, CAST(0 AS BIGINT)) + 1)
            |    / CAST(nr + 1024 AS DOUBLE))) * 1000000) AS BIGINT)""".stripMargin)
          .as("lam"))
      raw.join(broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), sum(col("lam")).as("w_sum"))
        .withColumn("avg_w",
          round(col("w_sum").cast("double") / col("n_grams") / 1e6, 6))
        .orderBy("doc_id")
    }),

    // ColBERT-style MaxSim late interaction: 2 queries × 4 token vectors
    // (vec_id < 8, the e1/e11 slice) against 4-token pseudo-documents
    // (did = vec_id div 4 — every embedding is a token of exactly one
    // doc). Integer-quantized sims make max/sum/rank exact; each query's
    // own doc must surface at rank 1 with score 4·10⁶ (four exact
    // self-similarities), which the spec pins.
    "e16_maxsim" -> ((s, dir) => {
      val embs = tbl(s, dir, "embeddings")
      val qt = embs.filter(col("vec_id") < 8)
        .select(expr("vec_id DIV 4").as("qid"), expr("vec_id % 4").as("qtok"),
          col("embedding").as("qv"))
      val dt = embs.select(expr("vec_id DIV 4").as("did"), col("embedding").as("dv"))
      Similarity.maxSimTopK(dt, qt, k = 5).orderBy("qid", "rnk")
    }),

    // Matryoshka two-stage ANN: 16-dim-prefix shortlist (top-32), exact
    // 64-dim re-rank to top-5. Integer-quantized at both stages, so the
    // whole cascade is deterministic and hash-gated (the oracle replays
    // it); NorthStarSpec separately pins recall vs the full brute force.
    "e17_matryoshka" -> ((s, dir) => {
      val embs = tbl(s, dir, "embeddings")
      Similarity.matryoshkaTopK(embs, embs.filter(col("vec_id") < 8),
          "vec_id", "embedding", prefixDim = 16, shortlist = 32, k = 5)
        .orderBy("query_id", "rnk")
    }),

    // First-seen n-gram novelty (the memorization / dedup-pressure curve
    // over an id-ordered corpus): a 5-gram is novel in the FIRST doc
    // containing it; each doc reports its novel fraction. Run over the
    // mutant corpus so the curve is non-trivial (clones at id+100000
    // score near zero). Only (hash, id) pairs ever shuffle — d18's
    // discipline; first-seen is one hash aggregate on those pairs.
    "d50_ngram_novelty" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      def sh5(c: Column) = ColumnBridge.column(
        graft.functions.ShingleHashesMd5(ColumnBridge.expression(c), 5))
      val grams = nearDupCorpus(tbl(s, dir, "documents"))
        .select(col("doc_id"), explode(sh5(col("text"))).as("h"))
      val first = grams.groupBy("h").agg(min("doc_id").as("first_doc"))
      grams.join(first, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6))
        .orderBy("doc_id")
    }),

    // Map higher-order functions over a per-user event-type histogram:
    // map_from_entries on SORTED entries (deterministic key order),
    // map_filter / transform_values / map_values+aggregate — the
    // map-typed sibling of q60's array HOF suite. Output is scalars
    // only (maps never cross the engine boundary: renderings differ).
    "q93_map_hof" -> ((s, dir) => {
      tbl(s, dir, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(map_from_entries(
          array_sort(collect_list(struct(col("event_type"), col("n"))))).as("m"))
        .select(col("user_id"),
          size(col("m")).as("n_types"),
          expr("cardinality(map_filter(m, (k, v) -> v >= 3))").as("n_heavy"),
          expr("""aggregate(map_values(transform_values(m, (k, v) -> v * v)),
                |CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin).as("sum_sq"),
          expr("array_join(map_keys(map_filter(m, (k, v) -> v >= 3)), ',')")
            .as("heavy_keys"))
        .orderBy("user_id")
    }),

    // REAL MP3 frame walk: sync-word validation, bitrate/samplerate
    // index decode from the header bit fields, frame advance by the spec
    // length 144·bitrate/samplerate + padding. Fixtures are built from
    // the same published tables the oracle replays arithmetically.
    "m13_mp3_frames" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents")
        .filter(col("doc_id") < 600).select(col("doc_id")).as[Long].map { id =>
          val n = (id % 3 + 1).toInt
          val brs = (0 until n).map(k => ((id + k) % 14 + 1).toInt)
          val pads = (0 until n).map(k => ((id + k) % 2).toInt)
          (id, Multimodal.mp3Fixture(brs, (id % 3).toInt, pads))
        }.toDF("doc_id", "media")
      Multimodal.decodeMp3Frames(s, media).toDF().orderBy("doc_id", "frame_idx")
    }),

    // EXIF orientation through the real JPEG marker chain: APP1 segments
    // are length-prefixed, the Exif payload embeds a TIFF (either byte
    // order — fixtures alternate MM/II), and orientation is IFD0 tag 274
    // with a left-justified SHORT value slot. Composes the m11 TIFF walk
    // with a JPEG segment walk; SOF dims come from the same pass.
    "m14_exif_orientation" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents")
        .filter(col("doc_id") < 600).select(col("doc_id")).as[Long].map { id =>
          (id, Multimodal.exifFixture((id % 200 + 1).toInt, (id % 100 + 1).toInt,
            (id % 8 + 1).toInt, littleEndian = id % 2 == 1))
        }.toDF("doc_id", "media")
      Multimodal.decodeExif(s, media).toDF().orderBy("doc_id")
    }),

    // Connected components over the shared co-purchase edge list (the
    // clustering member of the graph family q74/q87/q88): min-label
    // components via Dedup.clusters — exact driver union-find under the
    // bounded-edge guard, distributed min-label propagation above it.
    // The oracle recomputes components with a recursive min-reachable
    // CTE, so the component structure is hash-gated, not just counted.
    "q92_connected_components" -> ((s, dir) => {
      val e = coPurchaseEdges(s, dir)
      Dedup.clusters(e.select(col("u").as("a"), col("v").as("b")))
        .groupBy("cluster").agg(count(lit(1)).as("n_nodes"))
        .orderBy("cluster")
    }),

    // Binary quantization ANN (sign-bit codes + Hamming ranking): each
    // 64-dim vector compresses to TWO bigints (32 sign bits each — the
    // 64th bit would collide with the sign bit cross-engine), and
    // neighbor ranking is XOR + popcount, an EXACT integer — so unlike
    // float-scored ANN the whole top-k is hash-gated, not recall-gated.
    // 16 bytes/vector of scan state is the memory story that makes
    // billion-vector first-pass retrieval feasible.
    "e15_binary_quant" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def half(off: Int) = expr(
        s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT),
           |  (acc, i) -> acc + IF(element_at(embedding, i + $off + 1) > 0,
           |    shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""".stripMargin)
      val coded = tbl(s, dir, "embeddings")
        .select(col("vec_id"), half(0).as("lo"), half(32).as("hi"))
      val q = broadcast(coded.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("lo").as("qlo"), col("hi").as("qhi")))
      val scored = coded.select(col("vec_id").as("neighbor_id"), col("lo"), col("hi"))
        .join(q, col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (expr("bit_count(qlo ^ lo)") + expr("bit_count(qhi ^ hi)")).as("hamming"))
      val w = Window.partitionBy("query_id").orderBy(col("hamming"), col("neighbor_id"))
      scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
        .select(col("query_id"), col("neighbor_id"), col("hamming"), col("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // Aggregate pushdown through the custom DSv2 source: COUNT/MIN/MAX/
    // SUM over id have closed forms on the generated interval, so this
    // FOUR-BILLION-row "scan" aggregates without materializing a single
    // row (one partition, one pushed row — plan-pinned). The scan-side
    // contract that turns metadata-only queries free at any scale.
    "q96_dsv2_agg_pushdown" -> ((s, dir) => {
      s.read.format("graft.sources.FixtureDataSource")
        .option("rows", "4000000000").load()
        .agg(count(col("id")).as("n"), min(col("id")).as("mn"),
          max(col("id")).as("mx"), sum(col("id")).as("s"))
    }),

    // Streaming read through the custom DSv2 source's MicroBatchStream:
    // 60k rows served 20k per micro-batch (3 batches — spec-pinned), a
    // complete-mode aggregate drained to memory. The final state must
    // equal the one-shot batch aggregate: offsets partition the row
    // space exactly, no batch boundary drops or duplicates a row.
    "st18_stream_dsv2_source" -> ((s, dir) => {
      // streamSession: the complete-mode aggregate opens one state-store
      // instance per shuffle partition per micro-batch — size to the
      // batch, not the core count (see streamSession)
      val sess = streamSession(s)
      val stream = sess.readStream.format("graft.sources.FixtureDataSource")
        .option("rows", "60000").option("slices", "4").option("batchRows", "20000")
        .load()
      val qname = "st18_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = stream.groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .writeStream.format("memory").queryName(qname).outputMode("complete")
        .start()
      try q.processAllAvailable() finally q.stop()
      sess.table(qname).orderBy("grp")
    }),

    // Streaming WRITE through the rowlog connector's StreamingWrite: a
    // 3-micro-batch complete-mode aggregate lands one committed VERSION
    // per epoch (exactly-once: each version records its `_epoch-<id>`
    // marker, replayed epochs are dropped), and the FINAL version — read
    // back through the V2 reader — must equal the one-shot batch
    // aggregate. Closes the connector ladder's last rung: DSv2 streaming
    // source (st18) + DSv2 streaming sink (this).
    "st19_stream_rowlog_sink" -> ((s, dir) => {
      val root = tmpdir("st19_rowlog")
      val ckpt = tmpdir("st19_ckpt")
      // streamSession: P state stores + P sink-commit tasks per epoch
      // (see streamSession — st19 was the steepest r13 inversion, 0.19)
      val sess = streamSession(s)
      val stream = sess.readStream.format("graft.sources.FixtureDataSource")
        .option("rows", "90000").option("slices", "4").option("batchRows", "30000")
        .load()
      val q = stream.groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .writeStream.format("graft.sources.RowLogDataSource")
        .option("path", root).option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      s.read.format("graft.sources.RowLogDataSource").load(root).orderBy("grp")
    }),

    // Streaming ingest INTO the incremental dedup index — the two
    // flagship surfaces composed: the corpus arrives as a file stream
    // (one micro-batch per file, the streaming face of the bookmark
    // spine), foreachBatch ingests each micro-batch into the persisted
    // MinHash index and appends its verified pairs to a versioned pair
    // log. foreachBatch is AT-LEAST-once (a crashed tail micro-batch
    // replays), so the ingest is the EPOCH-GUARDED exactly-once variant:
    // `_epoch-<id>` markers ride the atomic version commits and a
    // replayed epoch drops instead of double-appending (spec-pinned at
    // every crash window in IncrementalIndexSpec). Accumulated pairs
    // equal d2's exact-jaccard oracle verbatim under ANY batch split or
    // arrival order (per-ingest pair sets are disjoint and
    // union-complete — the d54 theorem), so the gate is also robust to
    // micro-batch nondeterminism by construction.
    "st20_stream_dedup_index" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      import graft.sinks.VersionedTable
      val work = tmpdir("graft-st20")
      val root = tmpdir("graft-st20-index")
      val pairsRoot = tmpdir("graft-st20-pairs")
      val corpus = nearDupCorpus(tbl(s, dir, "documents"))
      val r = pmod(col("doc_id") % 100000, lit(3))
      val isMut = col("doc_id") >= 100000
      val t0 = System.currentTimeMillis()
      arriveFile(work, corpus.filter((!isMut && r < 2) || (isMut && r === 0)),
        "b1", Some(t0 - 30000))
      arriveFile(work, corpus.filter((!isMut && r === 2) || (isMut && r > 0)),
        "b2", Some(t0))
      val sess = streamSession(s)
      val stream = sess.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, epochId: Long) =>
          IncrementalIndex.ingestMinHashEpoch(
              sess, root, pairsRoot, batch, "doc_id", "text", epochId)
            .foreach(_.unpersist(blocking = false))
          ()
        }
        .option("checkpointLocation", tmpdir("graft-st20-ckpt"))
        .start()
      try q.processAllAvailable() finally q.stop()
      VersionedTable.readAllVersions(s, pairsRoot).orderBy("a", "b")
    }),

    // The epoch guard proven under an ACTUAL RESTART REPLAY, for a
    // second family (SimHash — st20 left the generalization spec-pinned
    // but undriven): the corpus streams in two files; after the first
    // micro-batch the query stops and its CHECKPOINT COMMIT is erased —
    // exactly the crash window where foreachBatch ran (index committed)
    // but the offset commit was lost, the at-least-once re-delivery
    // every structured-streaming sink must survive. The restarted query
    // re-executes micro-batch 0 under the SAME epoch id; the guard
    // drops the replay instead of double-appending, then ingests the
    // second file as epoch 1. The accumulated pair log must equal d3's
    // one-shot portable-SimHash oracle VERBATIM — an undropped replay
    // doubles the pair rows and fails the hash gate, and the version
    // counts are asserted so a silently-skipped replay can't pass.
    "st21_stream_simhash_restart" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      import graft.sinks.VersionedTable
      val work = tmpdir("graft-st21")
      val root = tmpdir("graft-st21-index")
      val pairsRoot = tmpdir("graft-st21-pairs")
      val ckpt = tmpdir("graft-st21-ckpt")
      val corpus = nearDupCorpus(tbl(s, dir, "documents"))
      val r = pmod(col("doc_id") % 100000, lit(3))
      val isMut = col("doc_id") >= 100000
      val t0 = System.currentTimeMillis()
      arriveFile(work, corpus.filter((!isMut && r < 2) || (isMut && r === 0)),
        "b1", Some(t0 - 30000))
      val sess = streamSession(s)
      // a REAL restart is a fresh JVM; this in-JVM emulation must drop
      // the same-JVM metadata-log cache or the re-written commit file
      // trips the concurrent-writer guard
      sess.conf.set("spark.sql.streaming.metadataCache.enabled", "false")
      def runStream(): Unit = {
        val q = sess.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, epochId: Long) =>
            IncrementalIndex.ingestSimHashEpoch(
                sess, root, pairsRoot, batch, "doc_id", "text", epochId)
              .foreach(_.unpersist(blocking = false))
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      runStream() // micro-batch 0 ingests b1
      // crash simulation: epoch 0's offset range is logged but its
      // checkpoint commit is lost — the restart MUST replay epoch 0
      // (the local checksum FS keeps a .crc sidecar; erase it too or the
      // replayed commit's rename trips over it)
      require(new java.io.File(s"$ckpt/commits/0").delete(),
        "restart simulation requires erasing the batch-0 checkpoint commit")
      new java.io.File(s"$ckpt/commits/.0.crc").delete()
      arriveFile(work, corpus.filter((!isMut && r === 2) || (isMut && r > 0)),
        "b2", Some(t0))
      runStream() // replays epoch 0 (dropped), ingests b2 as epoch 1
      require(VersionedTable.versions(s, root).size == 2 &&
        VersionedTable.versions(s, pairsRoot).size == 2,
        "exactly one committed version per epoch across the restart replay")
      VersionedTable.readAllVersions(s, pairsRoot).orderBy("a", "b")
    }),

    // Streaming TF-IDF index maintenance under a restart replay — the
    // family where exactly-once is a SCORING-correctness property, not
    // hygiene: the scorer unions all weight versions, so an unguarded
    // replay of the bootstrap micro-batch would double batch-1's weight
    // rows and CHANGE every cosine this query emits (the hash gate
    // would fail). The corpus streams as two files (even doc_ids first
    // — the frozen-stats batch — then odd); micro-batch 0 bootstraps
    // through the epoch-guarded bootstrap (frozen df/N written
    // idempotent-at-rest, weights/norms under the epoch marker), the
    // batch-0 checkpoint commit is erased (the st21 crash window), and
    // the restarted query replays epoch 0 — dropped — then ingests the
    // odd file as epoch 1. Scores from the persisted log must equal
    // d55's one-shot frozen-stats oracle verbatim.
    "st22_stream_tfidf_restart" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      import graft.sinks.VersionedTable
      val work = tmpdir("graft-st22")
      val root = tmpdir("graft-st22-index")
      val ckpt = tmpdir("graft-st22-ckpt")
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val t0 = System.currentTimeMillis()
      arriveFile(work, docs.filter(col("doc_id") % 2 === 0), "even", Some(t0 - 30000))
      val sess = streamSession(s)
      sess.conf.set("spark.sql.streaming.metadataCache.enabled", "false") // see st21
      def runStream(): Unit = {
        val q = sess.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, epochId: Long) =>
            // one idempotent entry: the guarded bootstrap freezes stats
            // only when ABSENT and rides the guarded ingest for the data
            // legs, so it IS the correct per-micro-batch call for every
            // epoch — bootstrap, ingest, and replay alike
            IncrementalIndex.bootstrapTfidfEpoch(
              sess, root, batch, "doc_id", "text", epochId)
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      runStream() // micro-batch 0 bootstraps on the even docs
      require(new java.io.File(s"$ckpt/commits/0").delete(),
        "restart simulation requires erasing the batch-0 checkpoint commit")
      new java.io.File(s"$ckpt/commits/.0.crc").delete()
      arriveFile(work, docs.filter(col("doc_id") % 2 === 1), "odd", Some(t0))
      runStream() // replays epoch 0 (dropped), ingests odds as epoch 1
      require(VersionedTable.versions(s, s"$root/weights").size == 2 &&
        VersionedTable.versions(s, s"$root/norms").size == 2 &&
        VersionedTable.versions(s, s"$root/idfstats").size == 1,
        "exactly one committed version per epoch, one frozen-stats snapshot")
      IncrementalIndex.sparseCosineIndexed(s, root, col("id") < 50, 0.2)
        .orderBy("ia", "ib")
    }),

    // Restart-replay for the EXACT-dedup family (completing the streamed
    // epoch coverage beyond MinHash/SimHash/TF-IDF): the originals
    // stream first, their verbatim copies second; the batch-0 checkpoint
    // commit is erased (the st21 crash window) so the restarted query
    // re-delivers epoch 0 — dropped by the guard. The accumulated
    // VERDICT log must equal d57/d1's one-shot keep-the-min rule
    // verbatim: an undropped replay duplicates verdict rows (id stops
    // being unique) and fails the hash gate, and the version counts
    // assert a silently-skipped replay can't pass either.
    "st23_stream_exact_restart" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      import graft.sinks.VersionedTable
      val work = tmpdir("graft-st23")
      val root = tmpdir("graft-st23-index")
      val verdictsRoot = tmpdir("graft-st23-verdicts")
      val ckpt = tmpdir("graft-st23-ckpt")
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val t0 = System.currentTimeMillis()
      arriveFile(work, docs, "b1", Some(t0 - 30000))
      val sess = streamSession(s)
      sess.conf.set("spark.sql.streaming.metadataCache.enabled", "false") // see st21
      def runStream(): Unit = {
        val q = sess.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, epochId: Long) =>
            IncrementalIndex.ingestExactEpoch(
                sess, root, verdictsRoot, batch, "doc_id", "text", epochId)
              .foreach(_.unpersist(blocking = false))
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      runStream() // micro-batch 0 ingests the originals
      require(new java.io.File(s"$ckpt/commits/0").delete(),
        "restart simulation requires erasing the batch-0 checkpoint commit")
      new java.io.File(s"$ckpt/commits/.0.crc").delete()
      arriveFile(work,
        docs.select((col("doc_id") + 100000).as("doc_id"), col("text")),
        "b2", Some(t0))
      runStream() // replays epoch 0 (dropped), ingests the copies as epoch 1
      require(VersionedTable.versions(s, s"$root/fingerprints").size == 2 &&
        VersionedTable.versions(s, verdictsRoot).size == 2,
        "exactly one committed version per epoch across the restart replay")
      VersionedTable.readAllVersions(s, verdictsRoot).orderBy("id")
    }),

    // Restart-replay for the SRP embedding family — a live embedding
    // feed is the realistic arrival mode for vectors, so the epoch guard
    // is driven by a real file stream here too: perturbed-twin corpus
    // (e21's), two micro-batches, batch-0 commit erased, replay dropped.
    // Accumulated pairs must equal the one-shot exact-cosine oracle
    // verbatim (pair sets are disjoint per ingest and union-complete
    // under any split — the d54 theorem applied to SRP).
    "st24_stream_embedding_restart" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      import graft.sinks.VersionedTable
      val work = tmpdir("graft-st24")
      val root = tmpdir("graft-st24-index")
      val pairsRoot = tmpdir("graft-st24-pairs")
      val ckpt = tmpdir("graft-st24-ckpt")
      val base = tbl(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val mut = base.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("v"))
      val corpus = base.union(mut)
      // the SAME frozen geometry both runs (bootstrap freezes it; the
      // restart constructs identical params — deterministic in N)
      val p = IncrementalIndex.SrpParams(dim = 64,
        bitsPerTable = Similarity.srpBitsFor(base.count() * 2), bucketCap = 256)
      val r = pmod(col("vec_id") % 100000, lit(3))
      val isMut = col("vec_id") >= 100000
      val t0 = System.currentTimeMillis()
      arriveFile(work, corpus.filter((!isMut && r < 2) || (isMut && r === 0)),
        "b1", Some(t0 - 30000))
      val sess = streamSession(s)
      sess.conf.set("spark.sql.streaming.metadataCache.enabled", "false") // see st21
      def runStream(): Unit = {
        val q = sess.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, epochId: Long) =>
            IncrementalIndex.ingestEmbeddingsEpoch(
                sess, root, pairsRoot, batch, "vec_id", "v", epochId, p)
              .foreach(_.unpersist(blocking = false))
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      runStream() // micro-batch 0 ingests b1
      require(new java.io.File(s"$ckpt/commits/0").delete(),
        "restart simulation requires erasing the batch-0 checkpoint commit")
      new java.io.File(s"$ckpt/commits/.0.crc").delete()
      arriveFile(work, corpus.filter((!isMut && r === 2) || (isMut && r > 0)),
        "b2", Some(t0))
      runStream() // replays epoch 0 (dropped), ingests b2 as epoch 1
      require(VersionedTable.versions(s, root).size == 2 &&
        VersionedTable.versions(s, pairsRoot).size == 2,
        "exactly one committed version per epoch across the restart replay")
      VersionedTable.readAllVersions(s, pairsRoot)
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos6"))
        .orderBy("a", "b")
    }),

    // Restart-replay for the prefix-filter family — the only EXACT
    // incremental index driven through a real file stream: (id, elem)
    // set rows arrive in two micro-batches (d59's split; shingling
    // happens once, at arrival-file creation), the first ingest freezes
    // the element order, the batch-0 commit is erased, and the
    // restarted query's replay drops at the epoch guard. Accumulated
    // pairs == d59/d40's witnessed exact-Jaccard oracle verbatim.
    "st25_stream_prefix_restart" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      import graft.sinks.VersionedTable
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val work = tmpdir("graft-st25")
      val root = tmpdir("graft-st25-index")
      val pairsRoot = tmpdir("graft-st25-pairs")
      val ckpt = tmpdir("graft-st25-ckpt")
      def sh(c: Column) = ColumnBridge.column(
        graft.functions.ShingleHashesMd5(ColumnBridge.expression(c), 5))
      val sets = nearDupCorpus(tbl(s, dir, "documents"))
        .select(col("doc_id").as("id"), explode(sh(col("text"))).as("elem"))
        .distinct().persist()
      val r = pmod(col("id") % 100000, lit(3))
      val isMut = col("id") >= 100000
      val t0 = System.currentTimeMillis()
      arriveFile(work, sets.filter((!isMut && r < 2) || (isMut && r === 0)),
        "b1", Some(t0 - 30000))
      val sess = streamSession(s)
      sess.conf.set("spark.sql.streaming.metadataCache.enabled", "false") // see st21
      def runStream(): Unit = {
        val q = sess.readStream.schema(sets.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, epochId: Long) =>
            IncrementalIndex.ingestPrefixJaccardEpoch(
                sess, root, pairsRoot, batch, epochId)
              .foreach(_.unpersist(blocking = false))
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      runStream() // micro-batch 0 freezes the element order + ingests b1
      require(new java.io.File(s"$ckpt/commits/0").delete(),
        "restart simulation requires erasing the batch-0 checkpoint commit")
      new java.io.File(s"$ckpt/commits/.0.crc").delete()
      arriveFile(work, sets.filter((!isMut && r === 2) || (isMut && r > 0)),
        "b2", Some(t0))
      runStream() // replays epoch 0 (dropped), ingests b2 as epoch 1
      sets.unpersist(blocking = false)
      require(VersionedTable.versions(s, s"$root/tokens").size == 2 &&
        VersionedTable.versions(s, pairsRoot).size == 2,
        "exactly one committed version per epoch across the restart replay")
      VersionedTable.readAllVersions(s, pairsRoot).orderBy("ia", "ib")
    }),

    // Restart-replay for the IVF family: the bootstrap micro-batch
    // trains and freezes the centroids, its checkpoint commit is
    // erased, and the restarted replay NEVER RETRAINS — it finds the
    // committed centroid snapshot and drops at the epoch guard, so
    // consistency is independent of trainer determinism. One idempotent
    // per-micro-batch entry (bootstrapIvfEpoch) serves bootstrap,
    // ingest and replay alike (the st22 pattern). Accumulated
    // assignments == one-shot assignment of the union under the frozen
    // centroids (e20's bound-check shape).
    "st26_stream_ivf_restart" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      import graft.sinks.VersionedTable
      val work = tmpdir("graft-st26")
      val root = tmpdir("graft-st26-index")
      val ckpt = tmpdir("graft-st26-ckpt")
      val embs = tbl(s, dir, "embeddings")
      val t0 = System.currentTimeMillis()
      arriveFile(work, embs.filter(col("vec_id") % 2 === 0), "b1", Some(t0 - 30000))
      val sess = streamSession(s)
      sess.conf.set("spark.sql.streaming.metadataCache.enabled", "false") // see st21
      def runStream(): Unit = {
        val q = sess.readStream.schema(embs.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, epochId: Long) =>
            IncrementalIndex.bootstrapIvfEpoch(
              sess, root, batch, "vec_id", "embedding", k = 16, epochId)
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      runStream() // micro-batch 0 trains + freezes centroids, ingests b1
      require(new java.io.File(s"$ckpt/commits/0").delete(),
        "restart simulation requires erasing the batch-0 checkpoint commit")
      new java.io.File(s"$ckpt/commits/.0.crc").delete()
      arriveFile(work, embs.filter(col("vec_id") % 2 === 1), "b2", Some(t0))
      runStream() // replays epoch 0 (dropped, no retrain), ingests b2
      require(VersionedTable.versions(s, s"$root/assignments").size == 2 &&
        VersionedTable.versions(s, s"$root/centroids").size == 1,
        "one assignment version per epoch; the replay must not retrain")
      val cents = IncrementalIndex.readIvfCentroids(s, root)
      val oneShot = embs.select(col("vec_id").as("id"),
        graft.operators.Ivf.cellId(col("embedding"), cents).as("cid1"))
      IncrementalIndex.readIvfAssignments(s, root).join(oneShot, "id")
        .agg(count(lit(1)).as("n_vecs"),
          coalesce(min(col("cid") === col("cid1")), lit(false)).as("all_match"))
    }),

    // Restart-replay for the PQ family: codebooks freeze on the
    // bootstrap micro-batch, the erased batch-0 commit replays without
    // retraining, and accumulated codes stay bit-equal to a one-shot
    // encode under the frozen books (e23's bound-check shape).
    "st27_stream_pq_restart" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      import graft.sinks.VersionedTable
      val work = tmpdir("graft-st27")
      val root = tmpdir("graft-st27-index")
      val ckpt = tmpdir("graft-st27-ckpt")
      val embs = tbl(s, dir, "embeddings")
      val t0 = System.currentTimeMillis()
      arriveFile(work, embs.filter(col("vec_id") % 2 === 0), "b1", Some(t0 - 30000))
      val sess = streamSession(s)
      sess.conf.set("spark.sql.streaming.metadataCache.enabled", "false") // see st21
      def runStream(): Unit = {
        val q = sess.readStream.schema(embs.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, epochId: Long) =>
            IncrementalIndex.bootstrapPqEpoch(
              sess, root, batch, "vec_id", "embedding", dim = 64, epochId)
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      runStream() // micro-batch 0 trains + freezes codebooks, encodes b1
      require(new java.io.File(s"$ckpt/commits/0").delete(),
        "restart simulation requires erasing the batch-0 checkpoint commit")
      new java.io.File(s"$ckpt/commits/.0.crc").delete()
      arriveFile(work, embs.filter(col("vec_id") % 2 === 1), "b2", Some(t0))
      runStream() // replays epoch 0 (dropped, no retrain), encodes b2
      require(VersionedTable.versions(s, s"$root/codes").size == 2 &&
        VersionedTable.versions(s, s"$root/codebooks").size == 1,
        "one code version per epoch; the replay must not retrain")
      val (dim, m, ksub, books) = IncrementalIndex.readPqCodebooks(s, root)
      val oneShot = embs.select(col("vec_id").as("id"),
        graft.operators.Pq.encode(col("embedding"), books, m, ksub, dim / m)
          .as("codes1"))
      IncrementalIndex.readPqCodes(s, root).join(oneShot, "id")
        .agg(count(lit(1)).as("n_vecs"),
          coalesce(min(col("codes") === col("codes1")), lit(false)).as("all_match"))
    }),

    // Restart-replay for the SemDeDup family — the order-DEPENDENT
    // verdict family, where a double-applied micro-batch would flip no
    // verdict (append order protects that) but would double-append
    // member and verdict rows, fanning out every later batch's
    // neighborhood join and failing the hash gate on duplicate rows.
    // Batches arrive in append-ordered id ranges (the bookmark
    // guarantee the operator requires); centroids freeze on micro-batch
    // 0; the erased batch-0 commit replays as a drop. Accumulated
    // verdicts == e22's corpus-wide exact rule.
    "st28_stream_semdedup_restart" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      import graft.sinks.VersionedTable
      val work = tmpdir("graft-st28")
      val root = tmpdir("graft-st28-index")
      val verdictsRoot = tmpdir("graft-st28-verdicts")
      val ckpt = tmpdir("graft-st28-ckpt")
      val base = tbl(s, dir, "embeddings")
        .filter(col("vec_id") < semDemoCap) // see semDemoCap — oracle carries the same bound
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val mut = base.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("v"))
      val corpus = base.union(mut)
      val cents = base.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("cvec"))
      val splitId = base.count() / 2 // lower half of originals first
      val t0 = System.currentTimeMillis()
      arriveFile(work, corpus.filter(col("vec_id") < splitId), "b1", Some(t0 - 30000))
      val sess = streamSession(s)
      sess.conf.set("spark.sql.streaming.metadataCache.enabled", "false") // see st21
      def runStream(): Unit = {
        val q = sess.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, epochId: Long) =>
            IncrementalIndex.bootstrapSemDedupEpoch(
                sess, root, verdictsRoot, batch, "vec_id", "v", cents,
                threshold = 0.99, epochId, cap = 2048)
              .foreach(_.verdicts.unpersist(blocking = false))
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      runStream() // micro-batch 0 freezes centroids, judges the lower half
      require(new java.io.File(s"$ckpt/commits/0").delete(),
        "restart simulation requires erasing the batch-0 checkpoint commit")
      new java.io.File(s"$ckpt/commits/.0.crc").delete()
      arriveFile(work, corpus.filter(col("vec_id") >= splitId), "b2", Some(t0))
      runStream() // replays epoch 0 (dropped), judges the upper half
      require(VersionedTable.versions(s, s"$root/members").size == 2 &&
        VersionedTable.versions(s, verdictsRoot).size == 2 &&
        VersionedTable.versions(s, s"$root/centroids").size == 1,
        "one version per epoch; the replay must not re-freeze centroids")
      VersionedTable.readAllVersions(s, verdictsRoot)
        .select(col("id").as("vec_id"), col("cid"), col("kept"))
        .orderBy("vec_id")
    }),

    // Attribute-filtered ANN (the vector-DB staple): the metadata
    // predicate applies BEFORE ranking — post-filtering a plain top-k
    // returns fewer than k (or misses qualifying neighbors entirely)
    // when the predicate is selective. Exact integer-quantized cosine
    // over the filtered corpus; the filter folds into the scan.
    "e19_filtered_knn" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val embs = tbl(s, dir, "embeddings")
      val q = broadcast(embs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
      val w = Window.partitionBy("query_id").orderBy(col("si").desc, col("neighbor_id"))
      embs.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
        .join(q, col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(round(Dedup.cosine(col("qv"), col("cv")), 6) * 1e6).cast("long").as("si"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
        .select(col("query_id"), col("rnk").cast("int").as("rnk"),
          col("neighbor_id"), col("si"))
        .orderBy("query_id", "rnk")
    }),

    // Incremental MinHash index maintenance: two bookmark-batch ingests
    // into a persisted versioned signature index accumulate EXACTLY the
    // one-shot near-dup pair list (d2's exact-jaccard oracle, verbatim).
    // Signatures are computed per batch only; batch-2's candidate and
    // verify stages touch the index through stored (sig, hs) rows — the
    // corpus text is shingled once per document across the index's whole
    // lifetime, the reference's incremental spine applied to dedup.
    "d54_incremental_minhash" -> ((s, dir) =>
      incrementalMinHashPairs(s, dir).orderBy("a", "b")),

    // Incremental IVF index maintenance: centroids train on batch 1 and
    // freeze; batch 2 is assigned WITHOUT touching batch 1's vectors;
    // accumulated (id, cid) assignments must equal the one-shot
    // assignment of the full corpus under the same frozen centroids —
    // emitted as the (n_vecs, all_match) bound-check row the oracle
    // recomputes (the q19/q20 pattern for engine-only invariants).
    "e20_incremental_ivf" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      val root = tmpdir("graft-incr-ivf")
      val embs = tbl(s, dir, "embeddings")
      val b1 = embs.filter(col("vec_id") % 2 === 0)
      val b2 = embs.filter(col("vec_id") % 2 === 1)
      IncrementalIndex.bootstrapIvf(s, root, b1, "vec_id", "embedding", k = 16)
      IncrementalIndex.ingestIvf(s, root, b2, "vec_id", "embedding")
      val incr = IncrementalIndex.readIvfAssignments(s, root)
      val cents = IncrementalIndex.readIvfCentroids(s, root)
      val oneShot = embs.select(col("vec_id").as("id"),
        graft.operators.Ivf.cellId(col("embedding"), cents).as("cid1"))
      incr.join(oneShot, "id")
        .agg(count(lit(1)).as("n_vecs"),
          coalesce(min(col("cid") === col("cid1")), lit(false)).as("all_match"))
    }),

    // Incremental SRP embedding index: e3's mutant corpus arrives in two
    // batches (same three-way placement split as d54 — intra-batch-1,
    // cross, intra-batch-2 pairs all exercised); each ingest signs ONLY
    // its batch and probes the persisted signature index, and the
    // accumulated verified pairs equal e3's one-shot exact-cosine oracle
    // verbatim. Geometry note: bitsPerTable FREEZES at bootstrap (stored
    // signatures must stay collision-compatible across ingests) — sized
    // here for the final corpus, the way a real index is provisioned.
    "e21_incremental_embedding_neardup" -> ((s, dir) =>
      cachedDf(s, s"incrsrp|$dir") {
        import graft.operators.IncrementalIndex
        val root = tmpdir("graft-incr-srp")
        val base = tbl(s, dir, "embeddings")
          .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
        val mut = base.select((col("vec_id") + 100000).as("vec_id"),
          transform(col("v"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("v"))
        val corpus = base.union(mut)
        val p = IncrementalIndex.SrpParams(dim = 64,
          bitsPerTable = Similarity.srpBitsFor(base.count() * 2), bucketCap = 256)
        val r = pmod(col("vec_id") % 100000, lit(3))
        val isMut = col("vec_id") >= 100000
        val b1 = corpus.filter((!isMut && r < 2) || (isMut && r === 0))
        val b2 = corpus.filter((!isMut && r === 2) || (isMut && r > 0))
        val (_, p1) = IncrementalIndex.ingestEmbeddings(s, root, b1, "vec_id", "v", p)
        val (_, p2) = IncrementalIndex.ingestEmbeddings(s, root, b2, "vec_id", "v", p)
        // ingests emit disjoint pair sets; own the materialized union
        val out = p1.unionAll(p2).persist()
        out.count()
        p1.unpersist(blocking = false)
        p2.unpersist(blocking = false)
        out
      }.select(col("a"), col("b"), round(col("cos"), 6).as("cos6"))
        .orderBy("a", "b")),

    // Incremental SemDeDup: centroids freeze at bootstrap, batches arrive
    // in APPEND-ORDERED id batches (the bookmark guarantee), and each
    // batch member is dropped iff a lower-id same-cell member (indexed or
    // in-batch) sits within threshold. Under that order verdicts never
    // flip, so accumulated verdicts equal the one-shot exact rule — the
    // oracle checks it WITHOUT replaying any chunk geometry (cap 2048
    // stays disengaged at the gate SFs; at scale the rank-chunk
    // neighborhood bounds over-cap cells like one-shot d47).
    "e22_incremental_semdedup" -> ((s, dir) =>
      cachedDf(s, s"incrsem|$dir") {
        import graft.operators.IncrementalIndex
        val root = tmpdir("graft-incr-sem")
        val base = tbl(s, dir, "embeddings")
          .filter(col("vec_id") < semDemoCap) // see semDemoCap — oracle carries the same bound
          .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
        val mut = base.select((col("vec_id") + 100000).as("vec_id"),
          transform(col("v"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("v"))
        val corpus = base.union(mut)
        val cents = base.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cvec"))
        val splitId = base.count() / 2 // lower half of originals first
        val b1 = corpus.filter(col("vec_id") < splitId)
        val b2 = corpus.filter(col("vec_id") >= splitId)
        val k1 = IncrementalIndex.bootstrapSemDedup(
          s, root, b1, "vec_id", "v", cents, threshold = 0.99, cap = 2048).verdicts
        val k2 = IncrementalIndex.ingestSemDedup(
          s, root, b2, "vec_id", "v", threshold = 0.99, cap = 2048).verdicts
        val out = k1.unionAll(k2).persist()
        out.count()
        k1.unpersist(blocking = false)
        k2.unpersist(blocking = false)
        out
      }.select(col("id").as("vec_id"), col("cid"), col("kept"))
        .orderBy("vec_id")),

    // SemDeDup at the PRODUCTION geometry: e22 keeps its 8-cell demo
    // shape (historical comparability), but the sf1 semk probe measured
    // that k = √N cells is the shape production runs — util 0.56 vs
    // 0.10, 16.4 s vs 193 s — so the gate must exercise THAT plan too.
    // Same exact verdict rule and bootstrap-freeze as e22 with
    // k = ⌈√corpus⌉ first-k centroids (the frozen-centroid rule both
    // sides can state: vec_id < k), so the DuckDB oracle recomputes the
    // identical assignment. Cells hold ~√N members each — the pairwise
    // verify term is N^1.5-bounded and spreads across k cells instead
    // of 8, fixing the parallelism floor the plan census flagged on
    // e22's gated shape.
    "e24_semdedup_prod_geometry" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      val root = tmpdir("graft-sem-prod")
      val base = tbl(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val mut = base.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("v"))
      val corpus = base.union(mut)
      val nBase = base.count()
      val k = math.ceil(math.sqrt((nBase * 2).toDouble)).toLong
      val cents = base.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("v").as("cvec"))
      val splitId = nBase / 2 // lower half of originals first
      val b1 = corpus.filter(col("vec_id") < splitId)
      val b2 = corpus.filter(col("vec_id") >= splitId)
      val k1 = IncrementalIndex.bootstrapSemDedup(
        s, root, b1, "vec_id", "v", cents, threshold = 0.99, cap = 2048).verdicts
      val k2 = IncrementalIndex.ingestSemDedup(
        s, root, b2, "vec_id", "v", threshold = 0.99, cap = 2048).verdicts
      val out = k1.unionAll(k2).persist()
      out.count()
      k1.unpersist(blocking = false)
      k2.unpersist(blocking = false)
      out.select(col("id").as("vec_id"), col("cid"), col("kept"))
        .orderBy("vec_id")
    }),

    // SemDeDup SHARD MERGE — the family the merge matrix was missing:
    // its member log stores each doc's vector, so the donor re-assigns
    // to the ADOPTER's frozen centroids from logs alone (IVF/PQ stay
    // non-mergeable: assignments/codes only). Donor verdicts do NOT
    // carry over (geometry-dependent) — the merge's verdicts replace
    // them, and adopter(b1) + merge(donor built on b2) must equal e22's
    // bootstrap+ingest oracle verbatim. Requires id-RANGE sharding
    // (donor ids above adopter ids — the ingest's append-ordered
    // contract).
    "e27_semdedup_merge" -> ((s, dir) =>
      cachedDf(s, s"semmerge|$dir") {
        import graft.operators.IncrementalIndex
        val fix = semDedupShards(s, dir)
        val root = cloneRoot(s, s"$fix/a") // the merge ingests into A
        val km = IncrementalIndex.mergeSemDedupIndexes(
          s, root, s"$fix/b", threshold = 0.99, cap = 2048).verdicts
        val out = s.read.parquet(s"$fix/verdicts").unionAll(km).persist()
        out.count()
        km.unpersist(blocking = false)
        out
      }.select(col("id").as("vec_id"), col("cid"), col("kept"))
        .orderBy("vec_id")),

    // N-WAY SemDeDup fan-in — the ORDERED one-pass the id-range
    // contract makes natural: three donors on contiguous id ranges
    // (each frozen under its OWN centroid geometry) concatenate into
    // ONE append-ordered batch, so donor×donor twin pairs complete
    // inside a single assign + candidate pass instead of k−1 folds
    // against the growing adopter. Donors are passed OUT of range
    // order (d2, d3, d1) — the precheck sorts ranges internally and
    // the one-batch union is order-independent, so the Seq order must
    // not matter. Adopter verdicts ∪ the one merge's == e22's one-shot
    // rule verbatim.
    "e28_nway_semdedup_merge" -> ((s, dir) =>
      cachedDf(s, s"semnway|$dir") {
        import graft.operators.IncrementalIndex
        val fix = semDedupRangeShards(s, dir)
        val root = cloneRoot(s, s"$fix/a") // the fan-in ingests into A
        val km = IncrementalIndex.mergeManySemDedupIndexes(
          s, root, Seq(s"$fix/d2", s"$fix/d3", s"$fix/d1"),
          threshold = 0.99, cap = 2048).verdicts
        val out = s.read.parquet(s"$fix/verdicts").unionAll(km).persist()
        out.count()
        km.unpersist(blocking = false)
        out
      }.select(col("id").as("vec_id"), col("cid"), col("kept"))
        .orderBy("vec_id")),

    // Incremental PQ index: codebooks train on batch 1 and FREEZE (the
    // IVF-centroid pattern — codes from every ingest must decode against
    // the same books); each ingest encodes ONLY its batch and appends
    // (id, codes) deltas. The deterministic per-row encode kernel makes
    // accumulated codes bit-equal to a one-shot encode of the union
    // under the frozen books — emitted as the (n_vecs, all_match)
    // bound-check row the oracle recomputes (the e20 pattern).
    "e23_incremental_pq" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      val root = tmpdir("graft-incr-pq")
      val embs = tbl(s, dir, "embeddings")
      val b1 = embs.filter(col("vec_id") % 2 === 0)
      val b2 = embs.filter(col("vec_id") % 2 === 1)
      IncrementalIndex.bootstrapPq(s, root, b1, "vec_id", "embedding", dim = 64)
      IncrementalIndex.ingestPq(s, root, b2, "vec_id", "embedding")
      val (dim, m, ksub, books) = IncrementalIndex.readPqCodebooks(s, root)
      val incr = IncrementalIndex.readPqCodes(s, root)
      val oneShot = embs.select(col("vec_id").as("id"),
        graft.operators.Pq.encode(col("embedding"), books, m, ksub, dim / m)
          .as("codes1"))
      incr.join(oneShot, "id")
        .agg(count(lit(1)).as("n_vecs"),
          coalesce(min(col("codes") === col("codes1")), lit(false)).as("all_match"))
    }),

    // Incremental sparse TF-IDF index (the d41 family's persistent twin,
    // closing the last ANN/dedup family without one): document
    // frequencies + corpus count FREEZE at bootstrap over batch 1 (the
    // IVF-centroid snapshot convention — the IDF term is the
    // cross-document part, so stored weights stay comparable across
    // ingests; drift = new bootstrap); batch 2 is tokenized and weighed
    // WITHOUT re-reading batch 1's text, and scoring reads the PERSISTED
    // weight log — amortizing exactly the corpus-wide weight-table
    // materialization that is d41's measured sf10 cost center. The
    // oracle recomputes the full frozen-stats pipeline in SQL (df/N from
    // even doc_ids only, +1-smoothed so batch-2-only tokens take df=0),
    // making this an exact-value gate, not a bound check.
    "d55_incremental_tfidf" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      val root = tmpdir("graft-incr-tfidf")
      val docs = tbl(s, dir, "documents")
      IncrementalIndex.bootstrapTfidf(
        s, root, docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      IncrementalIndex.ingestTfidf(
        s, root, docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      IncrementalIndex.sparseCosineIndexed(s, root, col("id") < 50, 0.2)
        .orderBy("ia", "ib")
    }),

    // Index retraction (takedown / right-to-be-forgotten — the delete
    // every production corpus eventually owes someone): d54's two-batch
    // ingest with the r=0 originals RETRACTED between the batches. A
    // retraction is one O(ids) tombstone version; every index read
    // anti-joins it, so batch 2's candidates and verification never
    // touch a retracted doc, and the caller filters its pair log with
    // retractPairs (a retraction retracts the pairs). Accumulated
    // output must equal the one-shot exact-jaccard pairs over the
    // SURVIVING corpus — the oracle recomputes that rule in SQL. Exact
    // because retracted ids ⊆ batch 1: filtered-p1 ∪ p2 covers
    // precisely (b1 ∖ R) ∪ b2 = corpus ∖ R.
    "d56_index_retraction" -> ((s, dir) =>
      cachedDf(s, s"retractpairs|$dir") {
        import graft.operators.IncrementalIndex
        val root = tmpdir("graft-incr-retract")
        val corpus = nearDupCorpus(tbl(s, dir, "documents"))
        val r = pmod(col("doc_id") % 100000, lit(3))
        val isMut = col("doc_id") >= 100000
        val b1 = corpus.filter((!isMut && r < 2) || (isMut && r === 0))
        val b2 = corpus.filter((!isMut && r === 2) || (isMut && r > 0))
        val retracted = corpus.filter(!isMut && r === 0).select("doc_id")
        val (_, p1) = IncrementalIndex.ingestMinHash(s, root, b1, "doc_id", "text")
        IncrementalIndex.retract(s, root, retracted, "doc_id")
        val (_, p2) = IncrementalIndex.ingestMinHash(s, root, b2, "doc_id", "text")
        val out = IncrementalIndex.retractPairs(p1, retracted, "doc_id")
          .unionAll(p2).persist()
        out.count()
        p1.unpersist(blocking = false)
        p2.unpersist(blocking = false)
        out
      }.orderBy("a", "b")),

    // Incremental EXACT dedup (d1's persistent twin): fingerprints
    // persist in a delta log; each ingest fingerprints ONLY its batch
    // and marks a doc dropped iff its fp is already indexed or a
    // lower-id batch member shares it. Under append-ordered ids (copies
    // arrive after originals) the first arrival IS the minimum id, so
    // accumulated verdicts equal d1's one-shot keep-the-min rule over
    // the union — the oracle recomputes that rule with the same md5
    // normalization (exact-value gate). The corpus doubles every doc
    // with a VERBATIM copy at id+100000 so every fingerprint group has
    // cross-batch structure.
    "d57_incremental_exact" -> ((s, dir) =>
      cachedDf(s, s"increxact|$dir") {
        import graft.operators.IncrementalIndex
        val root = tmpdir("graft-incr-exact")
        val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        val copies = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
        val (_, v1) = IncrementalIndex.ingestExact(s, root, docs, "doc_id", "text")
        val (_, v2) = IncrementalIndex.ingestExact(s, root, copies, "doc_id", "text")
        val out = v1.unionAll(v2).persist()
        out.count()
        v1.unpersist(blocking = false)
        v2.unpersist(blocking = false)
        out
      }.orderBy("id")),

    // Survivor-recompute retraction for the exact index (the takedown
    // path d56 deliberately excluded): exact verdicts are recomputable
    // from the fingerprint log alone — kept ⇔ id is the minimum
    // SURVIVING id of its group — so retracting a KEEPER corrects the
    // index instead of forcing a re-bootstrap. Every fifth original (a
    // guaranteed keeper under the verbatim-copy corpus) is retracted
    // after both ingests; retractExact tombstones them O(ids) and
    // returns the correction delta for exactly the touched groups, the
    // accumulated verdict log is overridden by the delta, and the result
    // must equal d1's one-shot keep-the-min rule over the SURVIVING
    // corpus — each retracted keeper's verbatim copy is promoted to
    // kept. Only the O(retracted) delta moves; untouched groups are
    // never recomputed.
    "d63_exact_retraction" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      val root = tmpdir("graft-exact-retract")
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val retracted = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
      val (_, v1) = IncrementalIndex.ingestExact(s, root, docs, "doc_id", "text")
      val (_, v2) = IncrementalIndex.ingestExact(s, root, copies, "doc_id", "text")
      val delta = IncrementalIndex.retractExact(s, root, retracted, "doc_id")
      val out = v1.unionAll(v2)
        .join(broadcast(retracted.select(col("doc_id").as("id"))), Seq("id"), "left_anti")
        .join(delta.select(col("id"), col("kept").as("kept2")), Seq("id"), "left")
        .select(col("id"), col("fp"),
          coalesce(col("kept2"), col("kept")).as("kept"))
        .persist()
      out.count()
      v1.unpersist(blocking = false)
      v2.unpersist(blocking = false)
      out
    }.orderBy("id")),

    // Shard-parallel bootstrap + log merge — how a 100 TB index is
    // actually BUILT: hash-split shards bootstrap independently (zero
    // cross-shard traffic; wall-clock = the slowest shard, not the
    // corpus), then mergeMinHashIndexes completes the pair set from the
    // two signature LOGS alone — no text re-read, no re-signing. The
    // shards here split by id parity (deliberately NOT append-ordered:
    // pair completeness is order-free, only verdict families need the
    // bookmark order), and shard pairs ∪ cross pairs must equal d2's
    // one-shot all-pairs oracle verbatim.
    "d64_index_merge" -> ((s, dir) =>
      cachedDf(s, s"mergeidx|$dir") {
        import graft.operators.IncrementalIndex
        val fix = minHashEvenOddShards(s, dir)
        val rootA = cloneRoot(s, s"$fix/a") // the merge adopts into A
        val (_, cross) = IncrementalIndex.mergeMinHashIndexes(
          s, rootA, s"$fix/b")
        val out = s.read.parquet(s"$fix/pairs").unionAll(cross).persist()
        out.count()
        cross.unpersist(blocking = false)
        out
      }.orderBy("a", "b")),

    // d64 through the exactly-once face with an at-least-once
    // re-delivery baked in: the SAME merge step (same epoch id) arrives
    // twice — the replay must be a pure no-op (None back, no version
    // appended, no donor file re-adopted). The requires turn a silent
    // double-adoption into a loud gate failure; the emitted union must
    // still equal the one-shot oracle verbatim.
    "d71_merge_replay" -> ((s, dir) =>
      cachedDf(s, s"mergereplay|$dir") {
        import graft.operators.IncrementalIndex
        import graft.sinks.VersionedTable
        val fix = minHashEvenOddShards(s, dir)
        val rootA = cloneRoot(s, s"$fix/a")
        val rootB = s"$fix/b"
        val pairsRoot = tmpdir("graft-emerge-pairs")
        val Some((_, cross)) = IncrementalIndex.mergeMinHashIndexesEpoch(
          s, rootA, pairsRoot, rootB, epochId = 1L)
        val sigVs = VersionedTable.versions(s, rootA)
        require(IncrementalIndex.mergeMinHashIndexesEpoch(
          s, rootA, pairsRoot, rootB, epochId = 1L).isEmpty,
          "a re-delivered merge step must drop at the epoch guard")
        require(VersionedTable.versions(s, rootA) == sigVs,
          "replay must not append a version")
        require(IncrementalIndex.readMinHashIndex(s, rootA).count() ==
          nearDupCorpus(tbl(s, dir, "documents")).count(),
          "replay double-adopted donor signatures")
        val out = s.read.parquet(s"$fix/pairs").unionAll(cross).persist()
        out.count()
        cross.unpersist(blocking = false)
        out
      }.orderBy("a", "b")),

    // The verdict-family face of shard merge: exact-dedup shards ran
    // keep-the-min LOCALLY (the copies shard never saw the originals, so
    // every copy is kept within it); mergeExactIndexes appends the donor
    // fingerprints and returns the correction delta for exactly the
    // fingerprint groups spanning both shards. Shard verdicts overridden
    // by the delta must equal d1's one-shot global rule — d57's oracle
    // verbatim.
    "d65_exact_index_merge" -> ((s, dir) =>
      cachedDf(s, s"xmerge|$dir") {
        import graft.operators.IncrementalIndex
        val fix = exactShards(s, dir)
        val rootA = cloneRoot(s, s"$fix/a") // the merge appends donor fps
        val (_, delta) = IncrementalIndex.mergeExactIndexes(
          s, rootA, s"$fix/b")
        // shard verdicts come from the fixture's parquet snapshot, so
        // their lineage is decoupled from the log the merge just mutated
        val out = s.read.parquet(s"$fix/verdicts")
          .join(delta.select(col("id"), col("kept").as("k2")), Seq("id"), "left")
          .select(col("id"), col("fp"), coalesce(col("k2"), col("kept")).as("kept"))
          .persist()
        out.count()
        delta.unpersist(blocking = false)
        out
      }.orderBy("id")),

    // SimHash shard merge — the easiest merge of the family (portable
    // md5-60bit signatures have no frozen geometry, so any two SimHash
    // indexes with the same shingleN are mergeable). Originals and
    // mutants shard separately, so every orig↔mutant near-dup pair is a
    // CROSS pair the merge must complete; shard pairs ∪ cross == d3's
    // one-shot oracle verbatim.
    "d66_simhash_index_merge" -> ((s, dir) =>
      cachedDf(s, s"mergesim|$dir") {
        import graft.operators.IncrementalIndex
        val fix = simHashShards(s, dir)
        val rootA = cloneRoot(s, s"$fix/a")
        val (_, cross) = IncrementalIndex.mergeSimHashIndexes(
          s, rootA, s"$fix/b")
        val out = s.read.parquet(s"$fix/pairs").unionAll(cross).persist()
        out.count()
        cross.unpersist(blocking = false)
        out
      }.orderBy("a", "b")),

    // Prefix-filter shard merge — the one merge that can't adopt files:
    // each shard froze its own element order, so the donor's stored
    // token arrays RE-SORT under the adopter's frozen order (unseen
    // elements df=0, still a total order; shingles never recompute from
    // text). Exactness is order-independent, so shard pair logs stay
    // valid verbatim and shard pairs ∪ cross must equal the one-shot
    // exact Jaccard oracle, integer witnesses included.
    "d67_prefix_index_merge" -> ((s, dir) =>
      cachedDf(s, s"mergeprefix|$dir") {
        import graft.operators.IncrementalIndex
        val fix = prefixShards(s, dir)
        val rootA = cloneRoot(s, s"$fix/a") // donor rows re-sort into A
        val (_, cross) = IncrementalIndex.mergePrefixIndexes(
          s, rootA, s"$fix/b")
        val out = s.read.parquet(s"$fix/pairs").unionAll(cross).persist()
        out.count()
        cross.unpersist(blocking = false)
        out
      }.orderBy("ia", "ib")),

    // SRP embedding shard merge — sound because both shards froze
    // IDENTICAL geometry (same SrpParams, deterministic in the params:
    // how a sharded provisioning constructs them), and possible from
    // logs alone because the SRP log stores the vectors it verifies
    // with (IVF/PQ logs keep only assignments/codes — those families
    // re-ingest instead of merging, documented). Base and perturbed
    // vectors shard separately: every perturbed-twin pair is cross.
    "e25_srp_index_merge" -> ((s, dir) =>
      cachedDf(s, s"mergesrp|$dir") {
        import graft.operators.IncrementalIndex
        val fix = srpShards(s, dir)
        val rootA = cloneRoot(s, s"$fix/a")
        // identical frozen geometry on both shards — deterministic in
        // the corpus size, so the merge derives the same SrpParams the
        // fixture froze (the sharded-provisioning construction)
        val p = IncrementalIndex.SrpParams(dim = 64,
          bitsPerTable = Similarity.srpBitsFor(
            tbl(s, dir, "embeddings").count() * 2), bucketCap = 256)
        val (_, cross) = IncrementalIndex.mergeSrpIndexes(
          s, rootA, s"$fix/b", p)
        val out = s.read.parquet(s"$fix/pairs").unionAll(cross).persist()
        out.count()
        cross.unpersist(blocking = false)
        out
      }.select(col("a"), col("b"), round(col("cos"), 6).as("cos6"))
        .orderBy("a", "b")),

    // TF-IDF shard merge — the SCORING-family face, and the one merge
    // that RE-WEIGHTS instead of adopting files: each shard froze its
    // own (df, N) so stored weights aren't portable, but w = tf·K(tk)
    // with the frozen integer factor K ≥ 1e6, so exact tf recovers from
    // the logs by integer division (no text re-read, no re-tokenize);
    // document frequencies ADD across disjoint shards, and re-weighting
    // under (df_a+df_b, N_a+N_b) equals a one-shot FULL-corpus bootstrap
    // exactly — d41's corpus-frozen oracle, integer weights included.
    "d68_tfidf_index_merge" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      // the TF-IDF merge writes a FRESH root and only reads the shards,
      // so the fixture roots are consumed in place — no clone
      val fix = tfidfShards(s, dir)
      val rootM = tmpdir("graft-tmerge-m")
      IncrementalIndex.mergeTfidfIndexes(s, rootM, Seq(s"$fix/a", s"$fix/b"))
      IncrementalIndex.sparseCosineIndexed(s, rootM, col("id") < 50, 0.2)
        .orderBy("ia", "ib")
    }),

    // N-WAY TF-IDF fan-in — the scoring family's: k shards' frozen
    // (df, N) sum in one vocabulary-keyed aggregate and the re-weight
    // pass (the dominant term) runs ONCE over the union of the
    // recovered integer tfs, regardless of k; a fold of binary merges
    // pays k−1 re-weight passes over growing unions and writes k−1
    // discarded roots. Three mod-3 shards fanned in at once must score
    // exactly like d41's one-shot full-corpus bootstrap — integer
    // arithmetic bit-exact, the d68 convention at k=3.
    "d76_nway_tfidf_merge" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      val fix = tfidfMod3Shards(s, dir)
      val rootM = tmpdir("graft-tmerge3-m")
      IncrementalIndex.mergeTfidfIndexes(
        s, rootM, Seq(s"$fix/s0", s"$fix/s1", s"$fix/s2"))
      IncrementalIndex.sparseCosineIndexed(s, rootM, col("id") < 50, 0.2)
        .orderBy("ia", "ib")
    }),

    // N-WAY shard merge: three shards, ONE candidate pass (the union of
    // donors plays the batch role — the machinery's batch-internal
    // candidates ARE the donor×donor pairs), cross-shard pairs only. A
    // fold of binary merges pays N−1 passes over the GROWING adopter —
    // the quadratic tail a 1000-shard fan-in can't afford. The mod-3 id
    // split places every orig↔mutant twin in DIFFERENT shards (mutant
    // id = orig + 100000, 100000 % 3 = 1), so all twin pairs are cross
    // pairs the single pass must complete; shard logs ∪ cross == d2's
    // one-shot oracle verbatim.
    "d69_nway_index_merge" -> ((s, dir) =>
      cachedDf(s, s"mergenway|$dir") {
        import graft.operators.IncrementalIndex
        val fix = minHashMod3Shards(s, dir)
        val root0 = cloneRoot(s, s"$fix/s0") // the fan-in adopts into s0
        val (_, cross) = IncrementalIndex.mergeManyMinHashIndexes(
          s, root0, Seq(s"$fix/s1", s"$fix/s2"))
        val out = s.read.parquet(s"$fix/pairs").unionAll(cross).persist()
        out.count()
        cross.unpersist(blocking = false)
        out
      }.orderBy("a", "b")),

    // Read-only near-dup PROBE (admission control): the index holds
    // the originals; the mutants are CHECKED against it — exactly what
    // the ingest would emit (mutant×index + mutant-internal pairs) —
    // and NOTHING commits: the query asserts the version log unchanged
    // across the probe. The quarantine-before-write face of the index:
    // at 100 TB, deciding whether a crawl batch enters the corpus is a
    // read, not a write. Oracle: the exact-Jaccard pairs touching the
    // probe side (b ≥ 100000 — a < b puts the mutant second).
    // N-WAY prefix-filter fan-in — the no-adoption family's: every
    // donor's token arrays re-sort under the adopter's frozen element
    // order, ONE tagged candidate pass covers index×donors and
    // donor×donor at once. Shard pair logs stay valid verbatim
    // (exactness is order-independent): shard pairs ∪ cross == the
    // one-shot exact Jaccard oracle, integer witnesses included.
    "d75_nway_prefix_merge" -> ((s, dir) =>
      cachedDf(s, s"pfxnway|$dir") {
        import graft.operators.IncrementalIndex
        val fix = prefixMod3Shards(s, dir)
        val root0 = cloneRoot(s, s"$fix/s0")
        val (_, cross) = IncrementalIndex.mergeManyPrefixIndexes(
          s, root0, Seq(s"$fix/s1", s"$fix/s2"))
        val out = s.read.parquet(s"$fix/pairs").unionAll(cross).persist()
        out.count()
        cross.unpersist(blocking = false)
        out
      }.orderBy("ia", "ib")),

    // N-WAY SimHash fan-in (the d69 pattern for the portable-signature
    // family): three mod-3 shards, one tagged candidate pass; every
    // orig↔mutant twin is cross-shard (100000 % 3 ≠ 0), so the single
    // pass must complete all of them. Shard pairs ∪ cross == d3's
    // one-shot exact oracle verbatim.
    "d73_nway_simhash_merge" -> ((s, dir) =>
      cachedDf(s, s"simnway|$dir") {
        import graft.operators.IncrementalIndex
        val fix = simHashMod3Shards(s, dir)
        val root0 = cloneRoot(s, s"$fix/s0")
        val (_, cross) = IncrementalIndex.mergeManySimHashIndexes(
          s, root0, Seq(s"$fix/s1", s"$fix/s2"))
        val out = s.read.parquet(s"$fix/pairs").unionAll(cross).persist()
        out.count()
        cross.unpersist(blocking = false)
        out
      }.orderBy("a", "b")),

    // N-WAY SRP fan-in: three shards frozen under ONE SrpParams (the
    // soundness contract), one tagged candidate pass; perturbed twins
    // all cross-shard. Shard pairs ∪ cross == e21's exact cosine oracle.
    "d74_nway_srp_merge" -> ((s, dir) =>
      cachedDf(s, s"srpnway|$dir") {
        import graft.operators.IncrementalIndex
        val fix = srpMod3Shards(s, dir)
        val root0 = cloneRoot(s, s"$fix/s0")
        val p = IncrementalIndex.SrpParams(dim = 64,
          bitsPerTable = Similarity.srpBitsFor(
            tbl(s, dir, "embeddings").count() * 2), bucketCap = 256)
        val (_, cross) = IncrementalIndex.mergeManySrpIndexes(
          s, root0, Seq(s"$fix/s1", s"$fix/s2"), p)
        val out = s.read.parquet(s"$fix/pairs").unionAll(cross).persist()
        out.count()
        cross.unpersist(blocking = false)
        out
      }.select(col("a"), col("b"), round(col("cos"), 6).as("cos6"))
        .orderBy("a", "b")),

    // N-WAY shard merge, verdict-family face (the d69 pattern for
    // EXACT dedup): three fingerprint shards fan in with ONE pass —
    // one hash-agg marks groups spanning ≥2 distinct shards, one
    // window recomputes keep-the-min over exactly those groups; a fold
    // of binary merges re-shuffles the growing adopter N−1 times. The
    // mod-3 split puts every copy in a different shard than its
    // original (100000 % 3 ≠ 0), so EVERY duplicate group is spanning:
    // shard verdicts overridden by the one-pass delta must equal d1's
    // one-shot global keep-the-min — d57's oracle verbatim.
    "d72_nway_exact_merge" -> ((s, dir) =>
      cachedDf(s, s"xnway|$dir") {
        import graft.operators.IncrementalIndex
        val fix = exactMod3Shards(s, dir)
        val root0 = cloneRoot(s, s"$fix/s0") // the fan-in adopts into s0
        val (_, delta) = IncrementalIndex.mergeManyExactIndexes(
          s, root0, Seq(s"$fix/s1", s"$fix/s2"))
        val out = s.read.parquet(s"$fix/verdicts")
          .join(delta.select(col("id"), col("kept").as("k2")), Seq("id"), "left")
          .select(col("id"), col("fp"), coalesce(col("k2"), col("kept")).as("kept"))
          .persist()
        out.count()
        delta.unpersist(blocking = false)
        out
      }.orderBy("id")),

    "d70_probe_neardups" -> ((s, dir) => {
      import graft.operators.IncrementalIndex
      // the probe is READ-ONLY by contract — which is exactly why the
      // fixture root is consumed in place, and the requires prove the
      // sharing is sound on every run (any commit would also corrupt
      // the fixture for later runs, so the assertion is load-bearing)
      val root = s"${minHashOriginalsIndex(s, dir)}/a"
      val corpus = nearDupCorpus(tbl(s, dir, "documents"))
      val before = graft.sinks.VersionedTable.versions(s, root)
      val probed = IncrementalIndex.probeMinHash(
        s, root, corpus.filter(col("doc_id") >= 100000), "doc_id", "text")
      require(graft.sinks.VersionedTable.versions(s, root) == before &&
        graft.sinks.VersionedTable.versions(
          s, s"$root/bucketstats") == before,
        "a probe must commit nothing — no signature version, no stats delta")
      probed.orderBy("a", "b")
    }),

    // Sharded ANN SERVE — the no-merge families' (IVF/PQ) answer to a
    // sharded corpus: each shard searches itself under its OWN frozen
    // centroids (zero cross-shard traffic; queries broadcast), the
    // global top-k re-ranks the union of per-shard top-k lists —
    // k·shards rows per query, never corpus-sized. Exhaustive probes
    // within each shard make the union equal brute force over the full
    // corpus exactly (any global top-k neighbor survives its shard's
    // cut) — the e5 equality gate, now spanning two frozen geometries.
    "e26_sharded_ivf_serve" -> ((s, dir) => {
      import graft.operators.Ivf
      val embs = tbl(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") < 8)
      val shards = Seq(0, 1).map { i =>
        val part = embs.filter(col("vec_id") % 2 === i)
        val cells = Ivf.cellsFor(part.count())
        (part, Ivf.train(part, "embedding", k = cells,
          sampleSize = math.max(4096, 8 * cells)), cells)
      }
      Ivf.shardedTopK(shards, queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // Centroid-routed sharded serve: e26 probes EVERY shard per query —
    // an O(shards) term that pays 1000 probes for k answers at 1000
    // shards. The router ranks shards by the best cosine any of their
    // frozen centroids achieves against the query (one combined
    // NearestCells kernel over stacked shard centroids — serve-topology
    // metadata, no new state) and probes only the top-m. At m = shards
    // the pigeonhole probe bound reaches every shard and the answer
    // equals e26's exhaustive serve EXACTLY — this gate, against the
    // same brute-force oracle, with the router path fully executed (no
    // m==shards special case in the operator). Below m = shards the
    // recall/cost dial is measured by the SCALE "serve" scope.
    "e29_routed_ivf_serve" -> ((s, dir) => {
      import graft.operators.Ivf
      val embs = tbl(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") < 8)
      val shards = Seq(0, 1).map { i =>
        val part = embs.filter(col("vec_id") % 2 === i)
        val cells = Ivf.cellsFor(part.count())
        (part, Ivf.train(part, "embedding", k = cells,
          sampleSize = math.max(4096, 8 * cells)), cells)
      }
      Ivf.routedShardedTopK(shards, queries, "vec_id", "embedding", k = 5,
          mShards = shards.size)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // Incremental SimHash index (d3's persistent twin, closing the last
    // near-dup family without one): 60-bit portable signatures persist
    // in a delta log; each ingest signs ONLY its batch, block-collision
    // candidates come from the shared incremental machinery (index
    // streams, batch broadcasts, pigeonhole banding lossless for
    // hamming ≤ 3), and exact popcount verifies over stored signatures
    // pruned to candidate ids. Accumulated pairs equal d3's one-shot
    // all-banded-pairs oracle verbatim (order-invariant disjoint union,
    // the d54 theorem). Same two-batch placement split as d54.
    "d58_incremental_simhash" -> ((s, dir) =>
      cachedDf(s, s"incrsim|$dir") {
        import graft.operators.IncrementalIndex
        val root = tmpdir("graft-incr-sim")
        val corpus = nearDupCorpus(tbl(s, dir, "documents"))
        val r = pmod(col("doc_id") % 100000, lit(3))
        val isMut = col("doc_id") >= 100000
        val b1 = corpus.filter((!isMut && r < 2) || (isMut && r === 0))
        val b2 = corpus.filter((!isMut && r === 2) || (isMut && r > 0))
        val (_, p1) = IncrementalIndex.ingestSimHash(s, root, b1, "doc_id", "text")
        val (_, p2) = IncrementalIndex.ingestSimHash(s, root, b2, "doc_id", "text")
        val out = p1.unionAll(p2).persist()
        out.count()
        p1.unpersist(blocking = false)
        p2.unpersist(blocking = false)
        out
      }.orderBy("a", "b")),

    // Incremental perceptual-hash image dedup: m10's average-hash (REAL
    // PNG decode in column-pruned mapPartitions) composed with d58's
    // SimHash index machinery — the multimodal surface joins the
    // incremental-index story by pure reuse of two gated components.
    // The 64-bit keys ride the same 4×16-bit pigeonhole banding
    // (lossless for hamming ≤ 3), exact popcount verifies, and both
    // ingests run under the exactly-once epoch guard. The closed-form
    // gradient rasters give 13 DISTINCT hashes across the 25 geometries
    // with genuine hamming-1/2/3 neighbors (and 4+ exclusions), so the
    // oracle replays decode → hash → all-pairs hamming bit-for-bit in
    // SQL. Capped at 256 images: the demo geometry is clique-quadratic
    // by construction (the semDemoCap argument), while real corpora hit
    // the banded-candidate path this shares with d58.
    "d77_image_hash_index" -> ((s, dir) =>
      cachedDf(s, s"imghash|$dir") {
        import s.implicits._
        import graft.operators.IncrementalIndex
        val root = tmpdir("graft-incr-imghash")
        val pairsRoot = IncrementalIndex.pairsRootOf(root)
        val media = tbl(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 256).as[Long].map { id =>
            val w = (8 * (2 + id % 5)).toInt
            val h = (8 * (2 + (id / 5) % 5)).toInt
            (id, Multimodal.pngGradientBytes(w, h))
          }.toDF("doc_id", "media")
        val sigs = media.as[(Long, Array[Byte])].mapPartitions { it =>
          it.flatMap { case (id, bytes) =>
            Multimodal.imageAHash(bytes).map { case (_, _, hash) => (id, hash) }
          }
        }.toDF("doc_id", "ahash").persist()
        val b1 = sigs.filter(col("doc_id") % 3 < 2)
        val b2 = sigs.filter(col("doc_id") % 3 === 2)
        val p1 = IncrementalIndex.ingestImageHashesEpoch(
          s, root, pairsRoot, b1, "doc_id", "ahash", epochId = 0L).get
        val p2 = IncrementalIndex.ingestImageHashesEpoch(
          s, root, pairsRoot, b2, "doc_id", "ahash", epochId = 1L).get
        val out = p1.unionAll(p2).persist()
        out.count()
        p1.unpersist(blocking = false)
        p2.unpersist(blocking = false)
        sigs.unpersist(blocking = false)
        out
      }.orderBy("a", "b")),

    // Incremental prefix-filter set-similarity index (d40's persistent
    // twin — the last dedup family without one, and the only EXACT one):
    // global element frequencies FREEZE at bootstrap, fixing the element
    // total order forever. Sound because the prefix-filter lemma holds
    // under ANY shared total order (ascending-df is a pruning heuristic,
    // not a correctness input), so every ingest's prefixes stay
    // consistent with every other's across unlimited vocabulary drift —
    // batch 2 here carries shingles unseen at freeze time (df = 0,
    // sorted rarest-first) and the answer is still exact. Accumulated
    // pairs equal d40's unfiltered shared-shingle oracle VERBATIM
    // including the (inter, un) integer witnesses, even though the
    // one-shot sorts under a different (corpus-wide) df: both are exact
    // all-pairs answers, and exactness is order-independent.
    "d59_incremental_prefix_join" -> ((s, dir) =>
      cachedDf(s, s"incrprefix|$dir") {
        import graft.operators.IncrementalIndex
        import org.apache.spark.sql.graftbridge.ColumnBridge
        val root = tmpdir("graft-incr-prefix")
        def sh(c: Column) = ColumnBridge.column(
          graft.functions.ShingleHashesMd5(ColumnBridge.expression(c), 5))
        // shingle the corpus ONCE: both batch filters (and each ingest's
        // own persist) read this cache instead of re-running the
        // tokenize+hash+explode lineage per batch
        val sets = nearDupCorpus(tbl(s, dir, "documents"))
          .select(col("doc_id").as("id"), explode(sh(col("text"))).as("elem"))
          .distinct().persist()
        val r = pmod(col("id") % 100000, lit(3))
        val isMut = col("id") >= 100000
        val b1 = sets.filter((!isMut && r < 2) || (isMut && r === 0))
        val b2 = sets.filter((!isMut && r === 2) || (isMut && r > 0))
        val (_, p1) = IncrementalIndex.bootstrapPrefixJaccard(s, root, b1)
        val (_, p2) = IncrementalIndex.ingestPrefixJaccard(s, root, b2)
        val out = p1.unionAll(p2).persist()
        out.count()
        p1.unpersist(blocking = false)
        p2.unpersist(blocking = false)
        sets.unpersist(blocking = false)
        out
      }.orderBy("ia", "ib")),

    // Temperature-based source mixture (the data-mixing step of a
    // pretraining pipeline): per-source keep rates DERIVED from corpus
    // counts — effective counts ∝ n^α with α = 1/2 (unigram temperature
    // sampling), i.e. keep rate r_s = sqrt(n_min/n_s), rarest source
    // kept whole. The rate is applied with the salted portable md5
    // hash, and the sqrt never materializes: keep ⇔ h < 10⁴·√(n_min/n_s)
    // ⇔ h²·n_s < 10⁸·n_min — EXACT integer arithmetic on both engines
    // (no FP boundary can flip a doc; safe while n_s < 9.2×10¹⁰, far
    // past 100 TB doc counts). Plan: one tiny count aggregate broadcasts
    // back over the scan — the corpus itself is touched once, map-only.
    "d60_temperature_mixture" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      // n_min rides the counts frame through a single-partition window —
      // the frame is strata-sized (|languages|), so the one-partition
      // sort is O(strata), and the corpus is scanned exactly twice
      // (counts, then the filtered re-aggregation) instead of three times
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_str"))
        .withColumn("n_min", min(col("n_str")).over(Window.partitionBy()))
      val h = conv(substring(md5(
        concat(lit("temp1:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 10000
      docs.join(broadcast(counts), "lang")
        .withColumn("keep", h * h * col("n_str") < lit(100000000L) * col("n_min"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          count(when(col("keep"), 1)).as("n_kept"))
        .orderBy("lang")
    }),

    // Per-source token/char budgeting: keep each source's prefix in
    // salted-hash order (a uniform random subset, reproducible on any
    // cluster/retry) until a character budget is hit — the "cap every
    // source at B tokens" step of corpus assembly. The running total is
    // a per-source window sum: shuffle by source, sort within — sources
    // parallelize, and nothing global sorts. Exact integer cumsum; the
    // cutoff is the same row on any engine because (hash, doc_id) is a
    // total order.
    "d61_source_budget" -> ((s, dir) => {
      val h = conv(substring(md5(
        concat(lit("bud1:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long")
      val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      tbl(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"), h.as("h"))
        .withColumn("cum", sum(col("n_chars")).over(w))
        .filter(col("cum") <= 5000L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
        .orderBy("source")
    }),

    // Canonical-document selection per near-dup cluster (the keep-the-
    // best half of dedup): d9's min-label clusters joined with d7's
    // quality score; each cluster's representative is its highest-
    // quality member, ties to the lowest doc_id. Per-cluster work is a
    // window over cluster-partitioned rows — clusters are small by
    // construction (bucket caps bound them), so the shuffle is by
    // cluster id and nothing global sorts.
    "d62_cluster_canonical" -> ((s, dir) => {
      val clusters = cachedDf(s, s"clusters|$dir")(
        Dedup.clusters(minHashPairs(s, dir), iters = 4))
      val q = nearDupCorpus(tbl(s, dir, "documents"))
        .select(col("doc_id").as("doc"),
          round(TextFunctions.qualityScore(col("text")), 6).as("q"))
      val w = Window.partitionBy("cluster").orderBy(col("q").desc, col("doc"))
      clusters.join(q, "doc")
        .withColumn("rn", row_number().over(w))
        .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster")))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("doc").as("rep_doc"),
          col("q").as("rep_q"), col("n_members"))
        .orderBy("cluster")
    }),

    // Language-distribution divergence between corpus sources (the
    // distribution-shift monitor a mixture pipeline needs): per-source
    // predicted-language histograms, pairwise Jensen-Shannon divergence.
    // Each per-language term is the SAME double expression tree in both
    // engines, quantized to an integer BEFORE the per-pair sum (the d46
    // rule) — the aggregate is order-free. All joined tables here are
    // per-source/per-language aggregates: tiny, broadcast.
    "d53_lang_divergence" -> ((s, dir) => {
      val langs = tbl(s, dir, "documents")
        .select(col("source"), TextFunctions.langId(col("text")).as("lang"))
        .groupBy("source", "lang").agg(count(lit(1)).as("c"))
      val tot = langs.groupBy("source").agg(sum("c").as("n"))
      val sp = tot.select(col("source").as("sa"), col("n").as("na"))
        .join(tot.select(col("source").as("sb"), col("n").as("nb")),
          col("sa") < col("sb"))
      val grid = sp.crossJoin(broadcast(langs.select("lang").distinct()))
      val ca = langs.select(col("source").as("sa"), col("lang"), col("c").as("ca"))
      val cb = langs.select(col("source").as("sb"), col("lang"), col("c").as("cb"))
      grid.join(broadcast(ca), Seq("sa", "lang"), "left")
        .join(broadcast(cb), Seq("sb", "lang"), "left")
        .select(col("sa"), col("sb"), col("lang"),
          coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"), col("na"), col("nb"))
        .filter(col("ca") + col("cb") > 0)
        .withColumn("term", expr(
          """CAST(round((
            |  CASE WHEN ca > 0 THEN 0.5 * (CAST(ca AS DOUBLE) / na)
            |    * ln((CAST(ca AS DOUBLE) / na)
            |      / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2))
            |  ELSE 0.0 END
            |+ CASE WHEN cb > 0 THEN 0.5 * (CAST(cb AS DOUBLE) / nb)
            |    * ln((CAST(cb AS DOUBLE) / nb)
            |      / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2))
            |  ELSE 0.0 END
            |) * 1000000000) AS BIGINT)""".stripMargin))
        .groupBy("sa", "sb")
        .agg(count(lit(1)).as("n_langs"), sum("term").as("jsd_q"))
        .withColumn("jsd", round(col("jsd_q").cast("double") / 1e9, 6))
        .orderBy("sa", "sb")
    }),

    // Custom DataSource V2 scan (sources/FixtureSource.scala): range
    // predicates push INSIDE the source (excluded rows are never
    // generated — the JDBC/parquet contract) and the aggregate's column
    // prune reaches the reader (id never materializes). The oracle
    // replays the generator arithmetic over the pushed range; PlanSpec
    // pins PushedFilters + pruned ReadSchema in the BatchScan.
    "q95_dsv2_source" -> ((s, dir) => {
      s.read.format("graft.sources.FixtureDataSource")
        .option("rows", "100000").option("slices", "8").load()
        .filter(col("id") >= 25000 && col("id") < 75000)
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .orderBy("grp")
    }),

    // LIMIT/OFFSET pushdown through the DSv2 source: the scan-side
    // contract behind cheap existence probes (the reference's
    // empty-source `take(1)` — jdbc_incremental.py:194) at 100 TB. The
    // four-billion-row table never materializes: the pushed filter
    // narrows the interval, then OFFSET/LIMIT truncate it INSIDE the
    // source to exactly 32 generated rows. PlanSpec pins
    // PushedLimit/PushedOffset and the collapsed interval; the oracle
    // replays the generator arithmetic over those 32 ids.
    "q97_dsv2_limit_pushdown" -> ((s, dir) => {
      s.read.format("graft.sources.FixtureDataSource")
        .option("rows", "4000000000").option("slices", "8").load()
        .filter(col("id") >= 1000000000L)
        .offset(25).limit(32)
        .select(col("id"), col("grp"), col("v"))
    }),

    // DSv2 RUNTIME filtering (`SupportsRuntimeFiltering`) — the dynamic-
    // partition-pruning analogue for a connector, and the scan-side
    // contract that makes fact-dim joins cheap at 100 TB: Spark runs the
    // filtered dimension first (reusing the join's broadcast), hands the
    // joinable ids back to the scan, and the 10M-row fixture materializes
    // ONLY those ids (exact contiguous-run partitions). The join still
    // re-evaluates the condition, so pruning is correctness-free.
    // PlanSpec pins the dynamicpruning runtime filter reaching the
    // BatchScan and the scan's output-row metric collapsing to the dim
    // cardinality; the oracle replays the generator arithmetic over the
    // surviving custkeys.
    "q98_dsv2_runtime_filter" -> ((s, dir) => {
      val fixture = s.read.format("graft.sources.FixtureDataSource")
        .option("rows", "10000000").option("slices", "8").load()
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").cast("long").as("ck"))
      fixture.join(dim, fixture("id") === col("ck"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .orderBy("grp")
    }),

    // DSv2 WRITE-side contract (`SupportsWrite`, rowlog connector): two
    // snapshot overwrites through Spark's V2 write path — executor
    // DataWriters stage UnsafeRow part files, the driver commits with the
    // VersionedTable nonce-rename protocol — then BOTH versions read back
    // through the V2 reader (v1 pinned = time travel, latest = v2). One
    // output row cross-checks row counts and key sums of both snapshots;
    // the oracle recomputes them straight from `orders`. Completes the
    // connector ladder: q95-q98 pin the scan contracts, this pins the
    // staged-commit write half.
    "q99_dsv2_write" -> ((s, dir) => {
      val root = tmpdir("q99_rowlog")
      val src = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val fmt = "graft.sources.RowLogDataSource"
      src.write.format(fmt).mode("overwrite").save(root)
      src.filter(col("o_orderkey") % 2 === 0)
        .write.format(fmt).mode("overwrite").save(root)
      val v1 = s.read.format(fmt).option("version", "1").load(root)
      val v2 = s.read.format(fmt).load(root)
      v1.agg(count(lit(1)).as("n_v1"), sum(col("o_orderkey")).as("s_v1"))
        .crossJoin(
          v2.agg(count(lit(1)).as("n_v2"), sum(col("o_orderkey")).as("s_v2")))
    }),

    // Rowlog scan-side predicate pushdown (`SupportsPushDownFilters`):
    // the equality + range predicates push into the rowlog reader and
    // evaluate row-locally against the full stored row (excluded rows
    // never surface into the prune projection or the exchange); the
    // modulo predicate is honestly residual — it stays a Spark Filter
    // above the scan. RowLogSpec pins the plan (PushedFilters on the
    // BatchScan, residual Filter node); this gates the VALUES against
    // DuckDB recomputing straight from `orders`.
    "q100_rowlog_pushdown" -> ((s, dir) => {
      val root = tmpdir("q100_rowlog")
      val fmt = "graft.sources.RowLogDataSource"
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
        .write.format(fmt).mode("overwrite").save(root)
      s.read.format(fmt).load(root)
        .filter(col("o_orderstatus") === "F" && col("o_orderkey") > 1000 &&
          col("o_custkey") % 7 === 0)
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sk"),
          max(col("o_custkey")).as("mc"))
    }),

    // Contamination FRACTION (d18's graded sibling): per train doc, the
    // share of its 5-gram hashes present anywhere in the held-out set —
    // partial contamination that a binary flag misses. Held-out hashes
    // broadcast; only (doc_id, hash) pairs shuffle.
    "d52_contamination_frac" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      def sh5(c: Column) = ColumnBridge.column(
        graft.functions.ShingleHashesMd5(ColumnBridge.expression(c), 5))
      val grams = nearDupCorpus(tbl(s, dir, "documents"))
        .select(col("doc_id"), explode(sh5(col("text"))).as("h"))
      val test = broadcast(
        grams.filter(col("doc_id") < 50).select("h").distinct()
          .withColumn("hit", lit(1L)))
      grams.filter(col("doc_id") >= 50)
        .join(test, Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
        .withColumn("contam_frac",
          round(col("n_contaminated").cast("double") / col("n_grams").cast("double"), 6))
        .orderBy("doc_id")
    }),

    // Time-weighted average value per event type (the TWAP/ops-metric
    // aggregate): each value holds until the next observation; weights
    // are exact integer cents × seconds, so the sums are order-free and
    // FP appears only at the final divide. One keyed window + one hash
    // aggregate.
    "q94_twap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
      tbl(s, dir, "events")
        .withColumn("nts", lead(col("ts"), 1).over(w))
        .filter(col("nts").isNotNull)
        .select(col("event_type"),
          (round(col("value") * 100, 0).cast("long") *
            (unix_timestamp(col("nts")) - unix_timestamp(col("ts")))).as("vw"),
          (unix_timestamp(col("nts")) - unix_timestamp(col("ts"))).as("dt"))
        .groupBy("event_type")
        .agg(sum("vw").as("wsum"), sum("dt").as("tsum"),
          count(lit(1)).as("n_segments"))
        .withColumn("twap",
          round(col("wsum").cast("double") / col("tsum").cast("double") / 100.0, 6))
        .orderBy("event_type")
    }),

    // REAL BMP header decode: signed little-endian biHeight, where
    // negative means a top-down raster — fixtures alternate orientation
    // and cycle the legal bit depths.
    "m15_bmp_header" -> ((s, dir) => {
      import s.implicits._
      val depths = Array(1, 4, 8, 16, 24, 32)
      val media = tbl(s, dir, "documents")
        .filter(col("doc_id") < 600).select(col("doc_id")).as[Long].map { id =>
          (id, Multimodal.bmpFixture((id % 300 + 1).toInt, (id % 150 + 1).toInt,
            topDown = id % 2 == 1, bpp = depths((id % 6).toInt)))
        }.toDF("doc_id", "media")
      Multimodal.decodeBmpMeta(s, media).toDF().orderBy("doc_id")
    }),

    // Reciprocal-rank fusion of two exact rankers (the hybrid-retrieval
    // merge): dense cosine ranks fused with binary-code Hamming ranks
    // (e15's codes), contribution = 10⁹ div (60 + rank) — INTEGER
    // division, so the fused score is exact and the result hash-gated.
    // Both rankers emit (query, neighbor, rank) ints only; the fusion
    // is one keyed full-outer join + one top-k window.
    "e18_rrf_fusion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val embs = tbl(s, dir, "embeddings")
      val q = broadcast(embs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
      val wA = Window.partitionBy("query_id").orderBy(col("si").desc, col("neighbor_id"))
      val ranksA = embs.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
        .join(q, col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(round(Dedup.cosine(col("qv"), col("cv")), 6) * 1e6).cast("long").as("si"))
        .withColumn("rk", row_number().over(wA)).filter(col("rk") <= 20)
        .select(col("query_id"), col("neighbor_id"), col("rk").as("ra"))
      def half(off: Int) = expr(
        s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT),
           |  (acc, i) -> acc + IF(element_at(embedding, i + $off + 1) > 0,
           |    shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""".stripMargin)
      val coded = embs.select(col("vec_id"), half(0).as("lo"), half(32).as("hi"))
      val qb = broadcast(coded.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("lo").as("qlo"), col("hi").as("qhi")))
      val wB = Window.partitionBy("query_id").orderBy(col("hamming"), col("neighbor_id"))
      val ranksB = coded.select(col("vec_id").as("neighbor_id"), col("lo"), col("hi"))
        .join(qb, col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (expr("bit_count(qlo ^ lo)") + expr("bit_count(qhi ^ hi)")).as("hamming"))
        .withColumn("rk", row_number().over(wB)).filter(col("rk") <= 20)
        .select(col("query_id"), col("neighbor_id"), col("rk").as("rb"))
      val fused = ranksA.join(ranksB, Seq("query_id", "neighbor_id"), "full_outer")
        .select(col("query_id"), col("neighbor_id"),
          (coalesce(expr("CAST(1000000000 AS BIGINT) DIV (60 + ra)"), lit(0L)) +
            coalesce(expr("CAST(1000000000 AS BIGINT) DIV (60 + rb)"), lit(0L)))
            .as("rrf"))
      val wF = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("neighbor_id"))
      fused.withColumn("rnk", row_number().over(wF)).filter(col("rnk") <= 5)
        .select(col("query_id"), col("rnk").cast("int").as("rnk"),
          col("neighbor_id"), col("rrf"))
        .orderBy("query_id", "rnk")
    }),

    // One distributed BPE merge step: corpus word frequencies weight the
    // adjacent-character-pair counts; the winning pair is the next merge
    // (count desc, pair asc — the deterministic tie-break a reproducible
    // tokenizer build needs). The pair table is bounded by charset², so
    // the global argmax window runs on a tiny aggregate, never the
    // corpus.
    "d51_bpe_merge_step" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wf = tbl(s, dir, "documents")
        .select(explode(expr("filter(split(lower(text), '\\\\s+'), x -> x <> '')")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
      val pairs = wf.filter(length(col("w")) >= 2)
        .select(col("cnt"), explode(
          expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("p"))
        .groupBy("p").agg(sum(col("cnt")).as("pcnt"))
      val best = pairs
        .withColumn("rn", row_number().over(Window.orderBy(col("pcnt").desc, col("p"))))
        .filter(col("rn") === 1)
        .select(col("p").as("best_pair"), col("pcnt").as("best_cnt"))
      best.crossJoin(broadcast(
        pairs.agg(count(lit(1)).as("n_distinct_pairs"), sum("pcnt").as("total_cnt"))))
    }),

    // Conversion-latency distribution: seconds from each user's FIRST
    // view to their first purchase (when it follows the view), cohorted
    // by the first view's hour of day. percentile == quantile_cont (the
    // q21/q27-proven interpolation parity); every stage is a hash agg
    // or keyed join on user_id.
    "ev19_time_to_convert" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("vts"))
      val p = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("ts").as("pts"))
      v.join(p, "user_id")
        .filter(col("pts") > col("vts"))
        .select(hour(col("vts")).as("cohort_hour"),
          (unix_timestamp(col("pts")) - unix_timestamp(col("vts"))).as("delta_s"))
        .groupBy("cohort_hour")
        .agg(count(lit(1)).as("n_users"),
          round(expr("percentile(delta_s, 0.5)"), 6).as("p50_s"),
          round(expr("percentile(delta_s, 0.9)"), 6).as("p90_s"))
        .orderBy("cohort_hour")
    }),

    // Incremental JOIN maintenance (the join twin of q68's aggregate
    // merge): both sides split into old/delta, the maintained result is
    // prior ∪ three delta-sized joins — proven here by aggregating the
    // maintained result and oracle-checking it against the full re-join.
    "q91_incremental_join" -> ((s, dir) => {
      import graft.operators.IncrementalJoin
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      val maintained = IncrementalJoin.maintained(
        o.filter(col("o_orderkey") % 4 =!= 0), o.filter(col("o_orderkey") % 4 === 0),
        li.filter(col("l_linenumber") =!= 1), li.filter(col("l_linenumber") === 1),
        Seq("o_orderkey"))
      maintained.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // Feature hashing (the hashing trick): tokens land in 64 signed
    // buckets via the portable md5-60bit hash — sign from bit 6, bucket
    // from the low 6 bits — so the featurization is EXACT integers,
    // reproducible across engines, partitionings, and retries (the
    // property a trained-model's featurizer must have). Shuffle carries
    // (doc, bucket, ±tf) ints only.
    "d45_feature_hashing" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(expr("filter(split(lower(text), '\\\\s+'), x -> x <> '')")).as("tk"))
      val hashed = toks
        .withColumn("h", conv(substring(md5(col("tk")), 1, 15), 16, 10).cast("bigint"))
        .select(col("doc_id"), expr("h % 64").as("b"),
          when(expr("(h DIV 64) % 2") === 0, 1L).otherwise(-1L).as("sgn"))
      hashed.groupBy("doc_id", "b").agg(sum(col("sgn")).as("v"))
        .filter(col("v") =!= 0)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nnz"), sum(col("v") * col("v")).as("l2sq"),
          sum(col("v")).as("vsum"))
        .orderBy("doc_id")
    }),

    // REAL TIFF IFD decode, byte-order aware: even ids carry genuine
    // ImageIO-written TIFFs (big-endian MM), odd ids a hand-built
    // little-endian II file with SHORT-typed dims — the parser must
    // handle both orders AND the left-justified SHORT value slot (the
    // classic TIFF parser bug). Bounded to 600 docs so fixture
    // generation stays O(1) in the scale factor.
    "m11_tiff_header" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents")
        .filter(col("doc_id") < 600).select(col("doc_id")).as[Long].map { id =>
          val w = (id % 300 + 1).toInt
          val h = (id % 150 + 1).toInt
          val bytes =
            if (id % 2 == 0) Multimodal.tiffFixture(w, h)
            else Multimodal.tiffFixtureLE(w, h)
          (id, bytes)
        }.toDF("doc_id", "media")
      Multimodal.decodeTiffMeta(s, media).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("big_endian"))
        .orderBy("doc_id")
    }),

    // Substring-search pushdown via the injected optimizer rule
    // (plans/InstrToContains): the user writes the opaque
    // `instr(text, 'needle') > 0`, the rule rewrites it to Contains so
    // the parquet scan receives a StringContains pushed filter
    // (plan-pinned) — scan-level skipping a raw instr can never get.
    "q90_pushdown_rewrite" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .filter(expr("instr(text, 'window') > 0"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source")
    }),

    // Consecutive-run detection (error streaks): the row_number
    // difference trick turns each unbroken run of 'error' events into a
    // constant group key — per-user windows plus one hash aggregate, no
    // self-join. The monitoring primitive behind alerting rules like
    // "3+ consecutive failures".
    "ev18_error_streaks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wAll = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wErr = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val e = tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .withColumn("rn", row_number().over(wAll))
        .filter(col("event_type") === "error")
        .withColumn("rne", row_number().over(wErr))
        .withColumn("grp", col("rn") - col("rne"))
      e.groupBy("user_id", "grp")
        .agg(count(lit(1)).as("streak_len"),
          min(col("event_id")).as("first_id"), max(col("event_id")).as("last_id"))
        .filter(col("streak_len") >= 3)
        .select(col("user_id"), col("streak_len"), col("first_id"), col("last_id"))
        .orderBy("user_id", "first_id")
    }),

    // Declarative data-quality audit (the ingest gate between transform
    // and publish): five expectations compile into ONE conditional-
    // aggregate scan plus one distinct-count aggregate — audit cost does
    // not grow with the number of row-level checks.
    "q89_quality_audit" -> ((s, dir) => {
      import graft.operators.DataQuality._
      audit(tbl(s, dir, "orders"), Seq(
          NotNull("o_custkey"),
          InRange("o_totalprice", 0, 1000000),
          AcceptedValues("o_orderstatus", Seq("O", "F", "P")),
          Matches("o_orderpriority", "^[1-5]-"),
          Unique(Seq("o_orderkey"))))
        .orderBy("check")
    }),

    // Jaro-Winkler near-dup scoring (the prefix-weighted string metric
    // edit distance can't replace — d11's complement for titles/names).
    // Candidates come from a LOSSLESS factor-2 length block: jw ≥ 0.9
    // needs jaro ≥ (0.9−0.4)/0.6 = 0.83̄, and jaro ≤ (2 + s/L)/3 forces
    // s/L ≥ 1/2 — so qualifying pairs always land in the same or
    // adjacent power-of-two length bucket. The oracle recomputes every
    // pair UNFILTERED with DuckDB's own jaro_winkler_similarity, proving
    // both the blocking and the custom expression (transpositions are
    // integer-halved, boost above 0.7 — DuckDB's exact convention,
    // fuzz-verified on 3000 random pairs).
    "d44_jaro_winkler" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      def jwc(a: Column, b: Column) = ColumnBridge.column(
        graft.functions.JaroWinklerSimilarity(
          ColumnBridge.expression(a), ColumnBridge.expression(b)))
      val base = tbl(s, dir, "documents").filter(col("doc_id") < 150)
      // swap the first two words (id+200000): the transposition-heavy
      // near-dup Jaro-Winkler exists to catch — edit distance sees a
      // large rewrite, JW sees two matched-but-moved blocks
      val swapped = expr(
        """CASE WHEN instr(text, ' ') > 0
          |  AND instr(substring(text, instr(text, ' ') + 1), ' ') > 0 THEN
          |  concat(
          |    substring(text, instr(text, ' ') + 1,
          |      instr(substring(text, instr(text, ' ') + 1), ' ') - 1),
          |    ' ',
          |    substring(text, 1, instr(text, ' ') - 1),
          |    substring(text, instr(text, ' ')
          |      + instr(substring(text, instr(text, ' ') + 1), ' ')))
          |ELSE text END""".stripMargin)
      val corpus = nearDupCorpus(base)
        .unionAll(base.select((col("doc_id") + 200000).as("doc_id"), swapped.as("text")))
        .select(col("doc_id"), substring(col("text"), 1, 40).as("t"))
      val withLen = corpus.withColumn("len", length(col("t")))
      val bucketed = withLen.select(col("doc_id"), col("len"),
        explode(array(floor(log2(col("len"))).cast("int"),
          floor(log2(col("len"))).cast("int") + 1)).as("bkt"))
      val cand = bucketed.as("l").join(bucketed.as("r"),
          col("l.bkt") === col("r.bkt") && col("l.doc_id") < col("r.doc_id") &&
            lit(2) * least(col("l.len"), col("r.len")) >=
              greatest(col("l.len"), col("r.len")))
        .select(col("l.doc_id").as("a"), col("r.doc_id").as("b")).distinct()
      val ta = corpus.select(col("doc_id").as("a"), col("t").as("ta"))
      val tb = corpus.select(col("doc_id").as("b"), col("t").as("tb"))
      cand.join(broadcast(ta), "a").join(broadcast(tb), "b")
        .select(col("a"), col("b"), round(jwc(col("ta"), col("tb")), 6).as("jw"))
        .filter(col("jw") >= 0.9)
        .orderBy("a", "b")
    }),

    // PageRank, 3 unrolled iterations in EXACT integer arithmetic: ranks
    // scaled by 10⁶, per-edge contributions via floor division, damping
    // as (85·Σ) div 100 — no FP anywhere, so the result is independent
    // of partitioning and aggregation order (the property a float
    // PageRank cannot give across engines). Each iteration is one keyed
    // join + one hash aggregate over the MATERIALIZED edge list.
    "q88_pagerank" -> ((s, dir) => {
      val e = coPurchaseEdges(s, dir)
      val dirE = e.select("u", "v")
        .unionAll(e.select(col("v").as("u"), col("u").as("v")))
      // deg appears once per iteration plus the seed (4 subtree copies);
      // alias differences defeat exchange reuse, so without the
      // checkpoint the plan re-aggregated the edge list 4 times
      // (plans/r14/q88_pagerank_before.txt: 11 Exchanges, 14 edge scans
      // → after: 3 iteration chains over a node-count-sized checkpoint).
      // Guide §5: truncate iterative lineage with localCheckpoint.
      val deg = dirE.groupBy("u").agg(count(lit(1)).as("d"))
        .select(col("u").as("node"), col("d"))
        .localCheckpoint()
      val r0 = deg.withColumn("r", lit(1000000L))
      val r3 = (1 to 3).foldLeft(r0) { (state, _) =>
        val contrib = dirE
          .join(state.select(col("node").as("u"), col("d"), col("r")), "u")
          .select(col("v").as("node"), expr("r DIV d").as("c"))
        val sums = contrib.groupBy("node").agg(sum(col("c")).as("sc"))
        deg.join(sums, Seq("node"), "left")
          .select(col("node"), col("d"),
            (lit(150000L) + expr("(85 * coalesce(sc, CAST(0 AS BIGINT))) DIV 100")).as("r"))
      }
      r3.select(col("node"), col("r").as("rank")).orderBy("node")
    }),

    // Streaming windowed aggregation to a parquet FILE sink: append mode
    // emits a window exactly once, when the watermark passes its end —
    // the file sink's commit log makes the output exactly-once across
    // restarts (the sink-side twin of st6's exactly-once file SOURCE).
    // Two replayed files: batch 2 doubles the counts, then finalizes
    // every window whose end ≤ the batch-1 watermark (st7's lag rule);
    // identical file content makes later no-data batches a no-op.
    "st16_stream_file_sink" -> ((s, dir) => {
      val work = tmpdir("graft-st16")
      val raw = s.read.parquet(s"$dir/events.parquet")
      new java.io.File(s"$work/in").mkdirs()
      replayEvents(s, dir, s"$work/in", 2)
      // streamSession: the watermark aggregate is stateful — P state
      // stores per micro-batch (see streamSession)
      val sess = streamSession(s)
      val stream = sess.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
      val agg = normalizeTs(stream)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents"))
        .select(col("window.start").as("h"), col("event_type"), col("n"), col("cents"))
      val q = agg.writeStream.format("parquet")
        .option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$work/out").orderBy("h", "event_type")
    }),

    // Multi-hop BFS distances through the recursive CTE: minimum hop
    // count from two seed parts over the support-filtered co-purchase
    // graph, depth-capped at 3. Each iteration is one keyed equi-join,
    // and the recursive term is DISTINCT per level — the frontier is
    // bounded by |V| per iteration instead of enumerating walks (the
    // walk formulation blew up 17s at sf0.1: path counts grow
    // multiplicatively on a dense co-purchase graph). MIN(d) collapses
    // level appearances into distances; n_levels counts the levels a
    // node shows up in (≤ depth, deterministic).
    "q87_bfs_distance" -> ((s, dir) => {
      // materialize the edge list ONCE before the recursion: every
      // UnionLoop iteration re-executes its static side, so leaving the
      // lineitem self-join inside the CTE re-paid the graph build per
      // hop (measured 13-18 s at sf0.1 vs 0.7 s for the recursion
      // itself). The iterative-graph rule: build edges once, iterate on
      // the materialized list.
      coPurchaseEdges(s, dir).createOrReplaceTempView("e_q87")
      s.sql("""WITH RECURSIVE
        |dir AS (SELECT u, v FROM e_q87 UNION ALL SELECT v AS u, u AS v FROM e_q87),
        |roots AS (SELECT DISTINCT u AS node FROM e_q87 ORDER BY node LIMIT 2),
        |walk AS (
        |  SELECT node, 0 AS d FROM roots
        |  UNION ALL
        |  SELECT DISTINCT dir.v AS node, w.d + 1 AS d
        |  FROM walk w JOIN dir ON dir.u = w.node WHERE w.d < 3)
        |SELECT node, CAST(MIN(d) AS INT) AS dist, COUNT(*) AS n_levels
        |FROM walk GROUP BY node ORDER BY node""".stripMargin)
    }),

    // Flesch reading-ease scoring: words, sentence marks, and
    // vowel-group syllable estimates are integer regexp counts (vowel
    // groups cannot span whitespace, so one whole-text count equals the
    // per-word sum); the formula is a fixed double expression over
    // exact integers. Pure row-local scan — zero shuffle.
    "d42_readability" -> ((s, dir) => {
      val words = expr("regexp_count(text, '\\\\S+')")
      val sents = greatest(expr("regexp_count(text, '[.!?]+')"), lit(1))
      val sylls = greatest(expr("regexp_count(lower(text), '[aeiouy]+')"), lit(1))
      tbl(s, dir, "documents")
        .select(col("doc_id"), words.as("words"), sents.as("sentences"), sylls.as("syllables"))
        .filter(col("words") > 0)
        .withColumn("flesch", round(
          lit(206.835)
            - lit(1.015) * col("words").cast("double") / col("sentences").cast("double")
            - lit(84.6) * col("syllables").cast("double") / col("words").cast("double"), 6))
        .withColumn("band",
          when(col("flesch") >= 60, "easy")
            .when(col("flesch") >= 30, "medium").otherwise("hard"))
        .orderBy("doc_id")
    })
  )

  /** BM25 query terms — one constant feeding both the engine query and
    * the generated oracle SQL (d21).
    */
  private val bm25Terms = Seq("scan", "merge", "window", "stream", "customer")

  /** Count-Min probe terms (d31) — frequent, mid, and absent tokens;
    * shared between the engine and the generated oracle.
    */
  private val cmsQueryTerms =
    Seq("scan", "merge", "window", "batch", "hash", "zzz_absent")

  /** Per-language mixture keep rates out of 10000 (d23) — shared between
    * the engine CASE chain and the generated oracle.
    */
  private val mixtureRates =
    Seq("en" -> 8000, "de" -> 5000, "es" -> 2500, "fr" -> 1250, "zh" -> 625)

  /** GPT-2-shaped BPE pretokenization pattern (d25), shared between the
    * engine and the generated oracle. No lookarounds — Java regex and
    * DuckDB's RE2 must agree; both use leftmost-first alternation.
    */
  private val bpePattern =
    "'[a-z]+| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  // -------------------------------------------------------------- oracles

  /** DuckDB shingle expression mirroring TextFunctions.shingles(text, 3). */
  private val duckShingles =
    """CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |ELSE list_distinct(list_transform(range(1, len(toks) - 1),
      |  i -> array_to_string(toks[i:i+2], ' '))) END""".stripMargin

  private val duckMutantCorpus =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 100000 AS doc_id,
      |  CASE WHEN instr(text, ' ') > 0 THEN substr(text, instr(text, ' ') + 1)
      |       ELSE text END AS text
      |FROM documents""".stripMargin

  /** d3's SimHash oracle (portable md5-60bit signatures, pigeonhole
    * blocks, hamming ≤ 3) — shared verbatim with the incremental twin
    * d58, whose accumulated pair list must be identical.
    */
  private val duckSimHashPairsSql: String = {
    val bitSums = (0 until 60)
      .map(i => s"SUM(CASE WHEN (x >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(", ")
    val pack = (0 until 60)
      .map(i => s"(CASE WHEN b$i > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)")
      .mkString(" | ")
    s"""WITH corpus AS ($duckMutantCorpus),
       |tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks FROM corpus),
       |sh AS (SELECT doc_id, $duckShingles AS sh FROM tok),
       |h AS (SELECT doc_id, ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS x FROM sh),
       |bits AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $pack AS sig FROM bits),
       |blocks AS (SELECT doc_id, sig, unnest([0,1,2,3]) AS blk FROM sig),
       |b2 AS (SELECT doc_id, sig, blk, (sig >> (blk * 16)) & 65535 AS blkval FROM blocks),
       |pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
       |  CAST(bit_count(xor(l.sig, r.sig)) AS INT) AS hamming
       |  FROM b2 l JOIN b2 r ON l.blk = r.blk AND l.blkval = r.blkval AND l.doc_id < r.doc_id)
       |SELECT a, b, hamming FROM pairs WHERE hamming <= 3 ORDER BY a, b""".stripMargin
  }

  /** d2's exact all-pairs Jaccard ≥ 0.8 oracle over the mutant corpus —
    * shared verbatim by every surface that must reproduce the one-shot
    * near-dup pair list: the incremental twin d54, the streamed st20,
    * and the shard-merge d64.
    */
  private val duckMinHashPairsSql =
    s"""WITH corpus AS ($duckMutantCorpus),
       |tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks FROM corpus),
       |sh AS (SELECT doc_id, $duckShingles AS sh FROM tok),
       |pairs AS (SELECT l.doc_id AS a, r.doc_id AS b,
       |  CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
       |  CAST(len(list_distinct(list_concat(l.sh, r.sh))) AS DOUBLE) AS jaccard
       |  FROM sh l, sh r WHERE l.doc_id < r.doc_id)
       |SELECT a, b, jaccard FROM pairs WHERE jaccard >= 0.8 ORDER BY a, b""".stripMargin

  /** d1/d57's exact keep-the-min rule over the verbatim-copy corpus —
    * shared verbatim with the restart-replayed stream st23, whose
    * accumulated verdict log must be identical (a replay that
    * double-appended duplicates verdict rows and fails the hash gate).
    */
  private val duckExactVerdictsSql =
    """WITH corpus AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents),
      |f AS (SELECT doc_id AS id,
      |  md5(regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g')) AS fp
      |  FROM corpus)
      |SELECT id, fp, (id = MIN(id) OVER (PARTITION BY fp)) AS kept
      |FROM f ORDER BY id""".stripMargin

  /** Exact cosine ≥ 0.99 pairs over the perturbed-embedding corpus —
    * e21's oracle, shared verbatim with the restart-replayed stream
    * st24 (accumulated pair log across micro-batches and a replay must
    * equal the one-shot answer).
    */
  private val duckSrpNearDupSql =
    """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |mut AS (SELECT vec_id + 100000 AS vec_id,
      |  list_concat([v[1] + 0.01], v[2:]) AS v FROM base),
      |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
      |pairs AS (SELECT l.vec_id AS a, r.vec_id AS b,
      |  list_cosine_similarity(l.v, r.v) AS c
      |  FROM corpus l, corpus r WHERE l.vec_id < r.vec_id)
      |SELECT a, b, round(c, 6) AS cos6 FROM pairs WHERE c >= 0.99
      |ORDER BY a, b""".stripMargin

  /** One brute-force cosine top-5 oracle shared by e1 and every exact
    * full-probe ANN gate (e5 IVF, e6 LSH, e7 PQ, e9 IVF-PQ) — a tweak to
    * the tie-break or query set cannot desynchronize the gates.
    */
  private val bruteForceTopKOracle =
    """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 8),
      |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
      |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS sim
      |  FROM q, embeddings e WHERE e.vec_id != q.query_id),
      |r AS (SELECT query_id, neighbor_id,
      |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
      |SELECT query_id, neighbor_id, rnk FROM r WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin

  /** Oracle for the approximate-ANN recall bound-checks (e2/e4/e8/e10):
    * recompute the number of exact top-5 slots from the same brute-force
    * CTE the exact oracles use, and expect the engine's recall bound to
    * hold (recall_ok = TRUE). If a fast path's recall drops below its
    * threshold, the engine emits FALSE and the hash gate goes red.
    */
  private val recallBoundOracle =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
       |FROM ($bruteForceTopKOracle)""".stripMargin

  /** DuckDB language-ID scoring shared by the d6 and d28 oracles (the
    * marker-word hit counts mirroring TextFunctions.langId) — one
    * definition so the classifier and its confusion-matrix audit cannot
    * drift.
    */
  private val duckLangScores: Seq[(String, String)] =
    TextFunctions.langMarkers.map { case (lang, words) =>
      val hits = words.map(w =>
        s"(CASE WHEN ' ' || lower(text) || ' ' LIKE '% $w %' THEN 1 ELSE 0 END)")
        .mkString(" + ")
      lang -> s"($hits)"
    }
  private val duckLangBest =
    s"greatest(${duckLangScores.map(_._2).mkString(", ")})"
  private val duckPredLangCase = {
    val cases = duckLangScores.map { case (lang, sc) =>
      s"WHEN $sc = m AND m > 0 THEN '$lang'"
    }.mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  /** DuckDB word-bigram shingles (the n=2 twin of [[duckShingles]]). */
  private val duckShingles2 =
    """CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
      |ELSE list_distinct(list_transform(range(1, len(toks)),
      |  i -> array_to_string(toks[i:i+1], ' '))) END""".stripMargin

  /** DuckDB word-5-gram shingles (the n=5 twin of [[duckShingles]]). */
  private val duckShingles5 =
    """CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
      |ELSE list_distinct(list_transform(range(1, len(toks) - 3),
      |  i -> array_to_string(toks[i:i+4], ' '))) END""".stripMargin

  /** Exact all-pairs shingle-set Jaccard ≥ 4/5 with integer witnesses —
    * shared by d40 (one-shot prefix join) and d59 (incremental prefix
    * index): both are EXACT, so one unfiltered shared-shingle oracle
    * gates them identically.
    */
  private lazy val duckPrefixJoinSql: String =
    duckPrefixJoinSqlOver(duckMutantCorpus)

  /** The exact witnessed prefix-join oracle over an arbitrary corpus
    * CTE (kept parameterized: reduced-corpus variants were measured for
    * d67 and rejected — see the d67 oracle note).
    */
  private def duckPrefixJoinSqlOver(corpusSql: String): String =
    s"""WITH corpus AS ($corpusSql),
       |tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks FROM corpus),
       |shl AS (SELECT doc_id, $duckShingles5 AS sh FROM tok),
       |g AS (SELECT DISTINCT doc_id AS id,
       |  ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS e FROM shl),
       |sizes AS (SELECT id, COUNT(*) AS n FROM g GROUP BY 1),
       |inter AS (SELECT a.id AS ia, b.id AS ib, COUNT(*) AS i
       |  FROM g a JOIN g b ON a.e = b.e AND a.id < b.id GROUP BY 1, 2)
       |SELECT ia, ib, CAST(i AS BIGINT) AS inter,
       |  CAST(sa.n + sb.n - i AS BIGINT) AS un
       |FROM inter JOIN sizes sa ON ia = sa.id JOIN sizes sb ON ib = sb.id
       |WHERE 5 * i >= 4 * (sa.n + sb.n - i)
       |ORDER BY ia, ib""".stripMargin

  /** DuckDB signal columns feeding the quality score (mirrors
    * TextFunctions.qualityScore's inputs) — shared by the d15 and d26
    * oracles so the formula cannot drift between them.
    */
  private val duckQualitySignals =
    """CAST(length(text) AS DOUBLE) AS n_chars,
      |  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS DOUBLE) AS n_tokens,
      |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
      |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits""".stripMargin

  /** DuckDB mirror of `round(TextFunctions.qualityScore(text), 6)` over
    * [[duckQualitySignals]].
    */
  private val duckQualityExpr =
    """round(0.4 * least(n_tokens / 100.0, 1.0)
      |    + 0.3 * (CASE WHEN n_tokens > 0 AND n_chars / n_tokens >= 3
      |             AND n_chars / n_tokens <= 10 THEN 1.0 ELSE 0.5 END)
      |    + 0.15 * (1.0 - least((CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END) * 10.0, 1.0))
      |    + 0.15 * (1.0 - least((CASE WHEN n_chars > 0 THEN digits / n_chars ELSE 0.0 END) * 10.0, 1.0)), 6)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "d18_decontamination" ->
      s"""WITH corpus AS ($duckMutantCorpus),
         |tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks FROM corpus),
         |sh AS (SELECT doc_id, $duckShingles5 AS sh FROM tok),
         |h AS (SELECT doc_id, ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS x FROM sh),
         |test AS (SELECT DISTINCT x FROM h WHERE doc_id < 50)
         |SELECT DISTINCT h.doc_id FROM h JOIN test USING (x)
         |WHERE h.doc_id >= 50 ORDER BY doc_id""".stripMargin,

    "q1_incremental_scan" ->
      "SELECT * FROM orders WHERE o_orderkey > 1200 ORDER BY o_orderkey",

    "q2_apply_mapping" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS order_id, CAST(l_linenumber AS INT) AS line_no,
        |CAST(l_quantity AS DOUBLE) AS qty, CAST(l_returnflag AS VARCHAR) AS rflag
        |FROM lineitem ORDER BY order_id, line_no""".stripMargin,

    "q3_dropnull_counts" ->
      """SELECT COUNT(c_custkey) AS c1, COUNT(c_name) AS c2, COUNT(c_nationkey) AS c3,
        |COUNT(c_acctbal) AS c4, COUNT(c_mktsegment) AS c5 FROM customer""".stripMargin,

    "q4_distinct_partitions" ->
      "SELECT DISTINCT o_orderstatus FROM orders ORDER BY o_orderstatus",

    "q5_partition_write_counts" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q6_write_readback_agg" ->
      """SELECT COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st
        |FROM orders""".stripMargin,

    "q7_empty_probe" ->
      "SELECT COUNT(*) AS n FROM orders WHERE o_orderkey > 999999999",

    "q8_bookmark_advance" ->
      """SELECT MAX(o_orderkey) AS hi, MIN(o_orderkey) AS lo FROM orders
        |WHERE o_orderkey > 1200""".stripMargin,

    "q9_incremental_ingest" ->
      """SELECT COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st,
        |MAX(o_orderkey) AS hi FROM orders""".stripMargin,

    "q10_csv_roundtrip" ->
      """SELECT COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st,
        |MAX(o_orderkey) AS hi FROM orders""".stripMargin,

    "q11_json_roundtrip" ->
      """SELECT COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st,
        |MAX(o_orderkey) AS hi FROM orders""".stripMargin,

    "q12_star_join" ->
      """SELECT n.n_name, COUNT(*) AS cnt,
        |CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q13_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q14_set_ops" ->
      """SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,

    "ev5_asof_join" ->
      """WITH p AS (SELECT user_id, ts, event_id AS purchase_id FROM events
        |  WHERE event_type = 'purchase'),
        |s AS (SELECT user_id, ts AS sts, MAX(event_id) AS signup_id FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id, ts)
        |SELECT p.purchase_id, p.user_id, s.signup_id
        |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.sts
        |ORDER BY purchase_id""".stripMargin,

    "d1_dedup_exact" ->
      """SELECT md5(regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g')) AS fp,
        |MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "d2_dedup_minhash" -> duckMinHashPairsSql,

    // d2's exact all-pairs oracle VERBATIM: two-batch incremental index
    // maintenance must accumulate the identical verified pair list the
    // one-shot pipeline produces over the same corpus.
    "d54_incremental_minhash" -> duckMinHashPairsSql,

    // the streaming-ingest composition accumulates the same exact pair
    // list (d54's oracle verbatim — split/order-invariant by theorem)
    "st20_stream_dedup_index" -> duckMinHashPairsSql,

    // d2's oracle VERBATIM once more: two shards bootstrapped
    // independently, then log-merged, must union to the identical pair
    // list — lost cross pairs or double-emitted shard-internal pairs
    // both fail the hash gate
    "d64_index_merge" -> duckMinHashPairsSql,

    // replayed epoch merge: a re-delivered merge must change nothing —
    // same one-shot pair oracle as d64
    "d71_merge_replay" -> duckMinHashPairsSql,

    // one candidate pass over three shards must still complete the
    // one-shot pair set exactly
    "d69_nway_index_merge" -> duckMinHashPairsSql,

    // the probe side is the mutants (ids ≥ 100000): a read-only probe
    // must emit exactly the one-shot pairs touching it — a < b puts
    // the mutant second in every such pair
    "d70_probe_neardups" ->
      s"""WITH corpus AS ($duckMutantCorpus),
         |tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks FROM corpus),
         |sh AS (SELECT doc_id, $duckShingles AS sh FROM tok),
         |pairs AS (SELECT l.doc_id AS a, r.doc_id AS b,
         |  CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(l.sh, r.sh))) AS DOUBLE) AS jaccard
         |  FROM sh l, sh r WHERE l.doc_id < r.doc_id)
         |SELECT a, b, jaccard FROM pairs
         |WHERE jaccard >= 0.8 AND b >= 100000 ORDER BY a, b""".stripMargin,

    // d1/d57's keep-the-min rule VERBATIM: shard-local verdicts plus the
    // merge's correction delta must equal the one-shot global rule
    "d65_exact_index_merge" -> duckExactVerdictsSql,
    "d72_nway_exact_merge" -> duckExactVerdictsSql,

    // bound-check row: the oracle recomputes the corpus size and expects
    // the incremental-vs-one-shot assignment comparison to hold
    "e20_incremental_ivf" ->
      "SELECT COUNT(*) AS n_vecs, TRUE AS all_match FROM embeddings",

    // same bound-check shape for the incremental PQ code index
    "e23_incremental_pq" ->
      "SELECT COUNT(*) AS n_vecs, TRUE AS all_match FROM embeddings",

    // the streamed, restart-replayed twins of e20/e23: a replayed
    // bootstrap micro-batch would double the assignment/code logs and
    // break the count
    "st26_stream_ivf_restart" ->
      "SELECT COUNT(*) AS n_vecs, TRUE AS all_match FROM embeddings",

    "st27_stream_pq_restart" ->
      "SELECT COUNT(*) AS n_vecs, TRUE AS all_match FROM embeddings",

    // d1's keep-the-min rule over originals ∪ verbatim copies, per doc —
    // what the incremental fingerprint log must accumulate
    "d57_incremental_exact" -> duckExactVerdictsSql,

    // d57's oracle VERBATIM: the streamed, restart-replayed exact ingest
    // must accumulate the identical verdict log
    "st23_stream_exact_restart" -> duckExactVerdictsSql,

    // d1's keep-the-min rule over the SURVIVING corpus (every fifth
    // original retracted) — what the delta-corrected verdict log must
    // equal: each retracted keeper's verbatim copy promotes to kept
    "d63_exact_retraction" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents),
        |surv AS (SELECT * FROM corpus WHERE NOT (doc_id < 100000 AND doc_id % 5 = 0)),
        |f AS (SELECT doc_id AS id,
        |  md5(regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g')) AS fp
        |  FROM surv)
        |SELECT id, fp, (id = MIN(id) OVER (PARTITION BY fp)) AS kept
        |FROM f ORDER BY id""".stripMargin,

    // one-shot exact-jaccard pairs over the SURVIVING corpus (the r=0
    // originals retracted) — what the tombstoned index must accumulate
    "d56_index_retraction" ->
      s"""WITH corpus0 AS ($duckMutantCorpus),
         |corpus AS (SELECT * FROM corpus0
         |  WHERE NOT (doc_id < 100000 AND doc_id % 3 = 0)),
         |tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks FROM corpus),
         |sh AS (SELECT doc_id, $duckShingles AS sh FROM tok),
         |pairs AS (SELECT l.doc_id AS a, r.doc_id AS b,
         |  CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(l.sh, r.sh))) AS DOUBLE) AS jaccard
         |  FROM sh l, sh r WHERE l.doc_id < r.doc_id)
         |SELECT a, b, jaccard FROM pairs WHERE jaccard >= 0.8 ORDER BY a, b""".stripMargin,

    // d41's scoring pipeline under stats FROZEN over batch 1 (even
    // doc_ids): df counts only even docs, nn = |even docs|, and unseen
    // tokens take df=0 through the +1 smoothing — the exact rule the
    // incremental index must reproduce from its persisted weight log
    "d55_incremental_tfidf" ->
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tk
        |  FROM documents),
        |tf AS (SELECT doc_id, tk, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT tk, COUNT(*) AS df FROM tf WHERE doc_id % 2 = 0 GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM documents WHERE doc_id % 2 = 0),
        |wts AS (SELECT tf.doc_id, tf.tk,
        |  tf.tf * CAST(round((ln(CAST(n.nn + 1 AS DOUBLE) / (COALESCE(dfq.df, 0) + 1)) + 1) * 1000000) AS BIGINT) AS w
        |  FROM tf LEFT JOIN dfq USING (tk) CROSS JOIN n),
        |nrm AS (SELECT doc_id, SUM(w * w) AS nrm2 FROM wts GROUP BY 1),
        |dots AS (SELECT a.doc_id AS ia, b.doc_id AS ib, SUM(a.w * b.w) AS dot
        |  FROM wts a JOIN wts b ON a.tk = b.tk AND a.doc_id < b.doc_id
        |  WHERE a.doc_id < 50 GROUP BY 1, 2),
        |sc AS (SELECT ia, ib, CAST(dot AS BIGINT) AS dot,
        |  round(CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE))), 6) AS cos
        |  FROM dots JOIN nrm na ON ia = na.doc_id JOIN nrm nb ON ib = nb.doc_id)
        |SELECT ia, ib, dot, cos FROM sc WHERE cos >= 0.2 ORDER BY ia, ib""".stripMargin,

    // d55's frozen-stats oracle VERBATIM: the streamed,
    // restart-replayed TF-IDF index must score identically — a
    // double-appended bootstrap batch changes every cosine
    "st22_stream_tfidf_restart" ->
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tk
        |  FROM documents),
        |tf AS (SELECT doc_id, tk, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT tk, COUNT(*) AS df FROM tf WHERE doc_id % 2 = 0 GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM documents WHERE doc_id % 2 = 0),
        |wts AS (SELECT tf.doc_id, tf.tk,
        |  tf.tf * CAST(round((ln(CAST(n.nn + 1 AS DOUBLE) / (COALESCE(dfq.df, 0) + 1)) + 1) * 1000000) AS BIGINT) AS w
        |  FROM tf LEFT JOIN dfq USING (tk) CROSS JOIN n),
        |nrm AS (SELECT doc_id, SUM(w * w) AS nrm2 FROM wts GROUP BY 1),
        |dots AS (SELECT a.doc_id AS ia, b.doc_id AS ib, SUM(a.w * b.w) AS dot
        |  FROM wts a JOIN wts b ON a.tk = b.tk AND a.doc_id < b.doc_id
        |  WHERE a.doc_id < 50 GROUP BY 1, 2),
        |sc AS (SELECT ia, ib, CAST(dot AS BIGINT) AS dot,
        |  round(CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE))), 6) AS cos
        |  FROM dots JOIN nrm na ON ia = na.doc_id JOIN nrm nb ON ib = nb.doc_id)
        |SELECT ia, ib, dot, cos FROM sc WHERE cos >= 0.2 ORDER BY ia, ib""".stripMargin,

    // d41's FULL-corpus frozen-stats oracle verbatim: two shards merged
    // with summed (df, N) must score exactly like a one-shot bootstrap
    // over the whole corpus — the re-weighting is integer-exact
    "d68_tfidf_index_merge" ->
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tk
        |  FROM documents),
        |tf AS (SELECT doc_id, tk, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT tk, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM documents),
        |wts AS (SELECT tf.doc_id, tf.tk,
        |  tf.tf * CAST(round((ln(CAST(n.nn + 1 AS DOUBLE) / (dfq.df + 1)) + 1) * 1000000) AS BIGINT) AS w
        |  FROM tf JOIN dfq USING (tk) CROSS JOIN n),
        |nrm AS (SELECT doc_id, SUM(w * w) AS nrm2 FROM wts GROUP BY 1),
        |dots AS (SELECT a.doc_id AS ia, b.doc_id AS ib, SUM(a.w * b.w) AS dot
        |  FROM wts a JOIN wts b ON a.tk = b.tk AND a.doc_id < b.doc_id
        |  WHERE a.doc_id < 50 GROUP BY 1, 2),
        |sc AS (SELECT ia, ib, CAST(dot AS BIGINT) AS dot,
        |  round(CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE))), 6) AS cos
        |  FROM dots JOIN nrm na ON ia = na.doc_id JOIN nrm nb ON ib = nb.doc_id)
        |SELECT ia, ib, dot, cos FROM sc WHERE cos >= 0.2 ORDER BY ia, ib""".stripMargin,

    // d41's full-corpus frozen-stats oracle VERBATIM (d68's): THREE
    // shards fanned in at once must still score exactly like a one-shot
    // bootstrap over the whole corpus — the re-weighting stays
    // integer-exact at any k
    "d76_nway_tfidf_merge" ->
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tk
        |  FROM documents),
        |tf AS (SELECT doc_id, tk, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT tk, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM documents),
        |wts AS (SELECT tf.doc_id, tf.tk,
        |  tf.tf * CAST(round((ln(CAST(n.nn + 1 AS DOUBLE) / (dfq.df + 1)) + 1) * 1000000) AS BIGINT) AS w
        |  FROM tf JOIN dfq USING (tk) CROSS JOIN n),
        |nrm AS (SELECT doc_id, SUM(w * w) AS nrm2 FROM wts GROUP BY 1),
        |dots AS (SELECT a.doc_id AS ia, b.doc_id AS ib, SUM(a.w * b.w) AS dot
        |  FROM wts a JOIN wts b ON a.tk = b.tk AND a.doc_id < b.doc_id
        |  WHERE a.doc_id < 50 GROUP BY 1, 2),
        |sc AS (SELECT ia, ib, CAST(dot AS BIGINT) AS dot,
        |  round(CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE))), 6) AS cos
        |  FROM dots JOIN nrm na ON ia = na.doc_id JOIN nrm nb ON ib = nb.doc_id)
        |SELECT ia, ib, dot, cos FROM sc WHERE cos >= 0.2 ORDER BY ia, ib""".stripMargin,

    // exact SemDeDup semantics, NO chunk replay (cap 2048 disengaged at
    // gate SFs): argmax assignment as d47, then kept = no lower-id
    // same-cell member within the (unrounded) threshold — incremental
    // verdict accumulation must equal this corpus-wide rule exactly
    "e22_incremental_semdedup" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 4096),
        |mut AS (SELECT vec_id + 100000 AS vec_id,
        |  list_concat([v[1] + 0.01], v[2:]) AS v FROM base),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
        |c AS (SELECT vec_id AS cid, v AS cvec FROM base WHERE vec_id < 8),
        |s AS (SELECT e.vec_id, c.cid,
        |  round(list_cosine_similarity(e.v, c.cvec), 6) AS sim FROM corpus e, c),
        |a AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s)
        |  WHERE rn = 1),
        |m AS (SELECT a.vec_id, a.cid, e.v FROM a JOIN corpus e USING (vec_id)),
        |drp AS (SELECT DISTINCT r.vec_id FROM m l JOIN m r
        |  ON l.cid = r.cid AND l.vec_id < r.vec_id
        |  AND list_cosine_similarity(l.v, r.v) >= 0.99)
        |SELECT m.vec_id, m.cid, (drp.vec_id IS NULL) AS kept
        |FROM m LEFT JOIN drp ON m.vec_id = drp.vec_id
        |ORDER BY m.vec_id""".stripMargin,

    // e22's exact rule VERBATIM: the shard merge re-assigns the donor's
    // member log under the adopter's frozen geometry, so adopter +
    // merged-donor verdicts must equal the one-shot bootstrap+ingest
    // rule — any donor-verdict leakage or double-assignment breaks the
    // hash
    "e27_semdedup_merge" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 4096),
        |mut AS (SELECT vec_id + 100000 AS vec_id,
        |  list_concat([v[1] + 0.01], v[2:]) AS v FROM base),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
        |c AS (SELECT vec_id AS cid, v AS cvec FROM base WHERE vec_id < 8),
        |s AS (SELECT e.vec_id, c.cid,
        |  round(list_cosine_similarity(e.v, c.cvec), 6) AS sim FROM corpus e, c),
        |a AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s)
        |  WHERE rn = 1),
        |m AS (SELECT a.vec_id, a.cid, e.v FROM a JOIN corpus e USING (vec_id)),
        |drp AS (SELECT DISTINCT r.vec_id FROM m l JOIN m r
        |  ON l.cid = r.cid AND l.vec_id < r.vec_id
        |  AND list_cosine_similarity(l.v, r.v) >= 0.99)
        |SELECT m.vec_id, m.cid, (drp.vec_id IS NULL) AS kept
        |FROM m LEFT JOIN drp ON m.vec_id = drp.vec_id
        |ORDER BY m.vec_id""".stripMargin,

    // e22's exact rule VERBATIM again: THREE range donors fanned in as
    // one append-ordered batch, each re-assigned from its own frozen
    // geometry to the adopter's, must reproduce the identical one-shot
    // verdict log — a missed donor×donor cross pair or any donor-cid
    // leakage breaks the hash
    "e28_nway_semdedup_merge" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 4096),
        |mut AS (SELECT vec_id + 100000 AS vec_id,
        |  list_concat([v[1] + 0.01], v[2:]) AS v FROM base),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
        |c AS (SELECT vec_id AS cid, v AS cvec FROM base WHERE vec_id < 8),
        |s AS (SELECT e.vec_id, c.cid,
        |  round(list_cosine_similarity(e.v, c.cvec), 6) AS sim FROM corpus e, c),
        |a AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s)
        |  WHERE rn = 1),
        |m AS (SELECT a.vec_id, a.cid, e.v FROM a JOIN corpus e USING (vec_id)),
        |drp AS (SELECT DISTINCT r.vec_id FROM m l JOIN m r
        |  ON l.cid = r.cid AND l.vec_id < r.vec_id
        |  AND list_cosine_similarity(l.v, r.v) >= 0.99)
        |SELECT m.vec_id, m.cid, (drp.vec_id IS NULL) AS kept
        |FROM m LEFT JOIN drp ON m.vec_id = drp.vec_id
        |ORDER BY m.vec_id""".stripMargin,

    // e22's exact rule VERBATIM: the streamed, restart-replayed
    // SemDeDup index must accumulate the identical verdict log (a
    // replayed micro-batch flips no verdict but double-appends rows —
    // the hash gate catches the duplicates)
    "st28_stream_semdedup_restart" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 4096),
        |mut AS (SELECT vec_id + 100000 AS vec_id,
        |  list_concat([v[1] + 0.01], v[2:]) AS v FROM base),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
        |c AS (SELECT vec_id AS cid, v AS cvec FROM base WHERE vec_id < 8),
        |s AS (SELECT e.vec_id, c.cid,
        |  round(list_cosine_similarity(e.v, c.cvec), 6) AS sim FROM corpus e, c),
        |a AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s)
        |  WHERE rn = 1),
        |m AS (SELECT a.vec_id, a.cid, e.v FROM a JOIN corpus e USING (vec_id)),
        |drp AS (SELECT DISTINCT r.vec_id FROM m l JOIN m r
        |  ON l.cid = r.cid AND l.vec_id < r.vec_id
        |  AND list_cosine_similarity(l.v, r.v) >= 0.99)
        |SELECT m.vec_id, m.cid, (drp.vec_id IS NULL) AS kept
        |FROM m LEFT JOIN drp ON m.vec_id = drp.vec_id
        |ORDER BY m.vec_id""".stripMargin,

    // e22's exact rule at the PRODUCTION geometry: k = ⌈√corpus⌉
    // first-k centroids, recomputed by the oracle from the same
    // vec_id < k freeze rule
    "e24_semdedup_prod_geometry" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |mut AS (SELECT vec_id + 100000 AS vec_id,
        |  list_concat([v[1] + 0.01], v[2:]) AS v FROM base),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
        |c AS (SELECT vec_id AS cid, v AS cvec FROM base
        |  WHERE vec_id < (SELECT CAST(ceil(sqrt(2.0 * COUNT(*))) AS BIGINT) FROM base)),
        |s AS (SELECT e.vec_id, c.cid,
        |  round(list_cosine_similarity(e.v, c.cvec), 6) AS sim FROM corpus e, c),
        |a AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s)
        |  WHERE rn = 1),
        |m AS (SELECT a.vec_id, a.cid, e.v FROM a JOIN corpus e USING (vec_id)),
        |drp AS (SELECT DISTINCT r.vec_id FROM m l JOIN m r
        |  ON l.cid = r.cid AND l.vec_id < r.vec_id
        |  AND list_cosine_similarity(l.v, r.v) >= 0.99)
        |SELECT m.vec_id, m.cid, (drp.vec_id IS NULL) AS kept
        |FROM m LEFT JOIN drp ON m.vec_id = drp.vec_id
        |ORDER BY m.vec_id""".stripMargin,

    // e3's exact all-pairs oracle VERBATIM: incremental SRP-index ingest
    // must accumulate the identical verified near-dup pair list
    "e21_incremental_embedding_neardup" -> duckSrpNearDupSql,

    // e21's oracle VERBATIM: the streamed, restart-replayed SRP ingest
    // must accumulate the identical pair log
    "st24_stream_embedding_restart" -> duckSrpNearDupSql,

    "d3_dedup_simhash" -> duckSimHashPairsSql,

    // d3's oracle VERBATIM: the incremental SimHash index must
    // accumulate the identical pair list across its two ingests
    "d58_incremental_simhash" -> duckSimHashPairsSql,

    // m10's closed-form average-hash replayed per image, then the exact
    // all-pairs hamming ≤ 3 join — the banding the engine uses is
    // lossless at that radius, so no banding replay is needed
    "d77_image_hash_index" ->
      """WITH d AS (SELECT doc_id,
        |  8 * (2 + doc_id % 5) AS w, 8 * (2 + (doc_id // 5) % 5) AS h
        |  FROM documents WHERE doc_id < 256),
        |b AS (SELECT doc_id, w, h, w // 8 AS bw, h // 8 AS bh,
        |  h * ((w * (w - 1)) // 2) + w * ((h * (h - 1)) // 2) AS g FROM d),
        |cells AS (SELECT doc_id, w, h, bw, bh, g, bx, by,
        |  bh * ((bw * (2 * bx * bw + bw - 1)) // 2) +
        |  bw * ((bh * (2 * by * bh + bh - 1)) // 2) AS s
        |  FROM b, generate_series(0, 7) t1(bx), generate_series(0, 7) t2(by)),
        |hs AS (SELECT doc_id,
        |  SUM(CASE WHEN s * (w * h) > g * (bw * bh)
        |    THEN (1::HUGEINT << (8 * by + bx)) ELSE 0::HUGEINT END) AS s
        |  FROM cells GROUP BY doc_id),
        |hh AS (SELECT doc_id,
        |  CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |    THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS ahash
        |  FROM hs)
        |SELECT p.doc_id AS a, q.doc_id AS b,
        |  CAST(bit_count(xor(p.ahash, q.ahash)) AS INT) AS hamming
        |FROM hh p JOIN hh q ON p.doc_id < q.doc_id
        |  AND bit_count(xor(p.ahash, q.ahash)) <= 3
        |ORDER BY a, b""".stripMargin,

    // d3's oracle VERBATIM again: the streamed, restart-replayed SimHash
    // ingest must accumulate the identical pair list — a replay that
    // double-appended would duplicate rows and fail this hash gate
    "st21_stream_simhash_restart" -> duckSimHashPairsSql,

    // d3's oracle once more: SimHash shards merged must union to the
    // identical pair list
    "d66_simhash_index_merge" -> duckSimHashPairsSql,
    "d73_nway_simhash_merge" -> duckSimHashPairsSql,

    // e21's oracle once more: SRP shards merged under shared frozen
    // geometry must union to the identical pair list
    "e25_srp_index_merge" -> duckSrpNearDupSql,
    "d74_nway_srp_merge" -> duckSrpNearDupSql,

    "d9_dedup_clusters" ->
      s"""WITH RECURSIVE corpus AS ($duckMutantCorpus),
         |tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks FROM corpus),
         |sh AS (SELECT doc_id, $duckShingles AS sh FROM tok),
         |prs AS (SELECT l.doc_id AS a, r.doc_id AS b FROM sh l, sh r WHERE l.doc_id < r.doc_id
         |  AND CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
         |      CAST(len(list_distinct(list_concat(l.sh, r.sh))) AS DOUBLE) >= 0.8),
         |edges AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a WHERE e.b != r.src)
         |SELECT src AS doc, LEAST(src, MIN(dst)) AS cluster FROM reach
         |GROUP BY src ORDER BY doc""".stripMargin,

    "d4_ngram_jaccard" ->
      s"""WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
         |  FROM documents WHERE doc_id < 500),
         |sh AS (SELECT doc_id, $duckShingles AS sh FROM tok),
         |pairs AS (SELECT l.doc_id AS a, r.doc_id AS b,
         |  CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(l.sh, r.sh))) AS DOUBLE) AS jaccard
         |  FROM sh l, sh r WHERE l.doc_id < r.doc_id)
         |SELECT a, b, jaccard FROM pairs ORDER BY jaccard DESC, a, b LIMIT 20""".stripMargin,

    "d5_token_count" ->
      """SELECT doc_id, CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS INT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d6_lang_id" ->
      s"""SELECT doc_id, $duckPredLangCase AS pred_lang
         |FROM (SELECT doc_id, text, $duckLangBest AS m FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "d28_langid_confusion" ->
      s"""SELECT lang, $duckPredLangCase AS pred_lang, COUNT(*) AS n
         |FROM (SELECT lang, text, $duckLangBest AS m FROM documents)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "d7_quality_score" ->
      """SELECT doc_id, round(
        |  0.4 * least(n_tokens / 100.0, 1.0)
        |+ 0.3 * (CASE WHEN n_tokens > 0 AND n_chars / n_tokens >= 3
        |              AND n_chars / n_tokens <= 10 THEN 1.0 ELSE 0.5 END)
        |+ 0.15 * (1.0 - least((CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END) * 10.0, 1.0))
        |+ 0.15 * (1.0 - least((CASE WHEN n_chars > 0 THEN digits / n_chars ELSE 0.0 END) * 10.0, 1.0))
        |, 6) AS quality
        |FROM (SELECT doc_id,
        |  CAST(length(text) AS DOUBLE) AS n_chars,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS DOUBLE) AS n_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "d8_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d10_top_terms" ->
      """WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS term
        |  FROM documents),
        |t AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
        |r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, df.df ASC, tf.term) AS rn
        |  FROM tf JOIN df ON tf.term = df.term)
        |SELECT doc_id, term, tf, df FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "e1_knn_brute" ->
      bruteForceTopKOracle,

    "e5_knn_ivf_full" ->
      bruteForceTopKOracle,

    // per-shard exhaustive search + global re-rank must equal brute
    // force over the union corpus
    "e26_sharded_ivf_serve" ->
      bruteForceTopKOracle,

    // e26's oracle verbatim: at m = shards the routed serve must equal
    // the exhaustive sharded serve, which equals brute force
    "e29_routed_ivf_serve" ->
      bruteForceTopKOracle,

    "e9_knn_ivfpq_full" ->
      bruteForceTopKOracle,

    "e7_knn_pq_full" ->
      bruteForceTopKOracle,

    "e6_knn_lsh_full" ->
      bruteForceTopKOracle,

    "e2_knn_lsh" ->
      recallBoundOracle,

    "e4_knn_ivf" ->
      recallBoundOracle,

    "e8_knn_pq" ->
      recallBoundOracle,

    "e10_knn_ivfpq" ->
      recallBoundOracle,

    "q30_orc_roundtrip" ->
      """SELECT COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st,
        |MAX(o_orderkey) AS hi FROM orders""".stripMargin,

    "e3_embedding_neardup" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |mut AS (SELECT vec_id + 100000 AS vec_id,
        |  list_concat([v[1] + 0.01], v[2:]) AS v FROM base),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
        |pairs AS (SELECT l.vec_id AS a, r.vec_id AS b,
        |  list_cosine_similarity(l.v, r.v) AS c
        |  FROM corpus l, corpus r WHERE l.vec_id < r.vec_id)
        |SELECT a, b, round(c, 6) AS cos6 FROM pairs WHERE c >= 0.99
        |ORDER BY a, b""".stripMargin,

    "ev1_hourly_agg" ->
      """SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ev2_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,

    "ev3_sessionize" ->
      """WITH x AS (SELECT user_id, ts, event_id,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (SELECT user_id, SUM(ns) OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM x)
        |SELECT user_id, CAST(MAX(sid) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM y GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ev4_session_window" ->
      """WITH x AS (SELECT user_id, ts, event_id,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000 THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (SELECT user_id, SUM(ns) OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM x)
        |SELECT user_id, CAST(MAX(sid) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM y GROUP BY user_id ORDER BY user_id""".stripMargin,

    "m2_frame_sample" ->
      """WITH d AS (SELECT doc_id, strlen(text) AS len,
        |  greatest(1, CAST(ceil(strlen(text) / 500.0) AS BIGINT)) AS n FROM documents),
        |e AS (SELECT doc_id, len, unnest(range(n)) AS i FROM d)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx, i * 500 AS frame_off,
        |CAST(greatest(least(500, len - i * 500), 0) AS INT) AS frame_len
        |FROM e ORDER BY doc_id, frame_idx""".stripMargin,

    "st1_stream_hourly_agg" ->
      """SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "st2_stream_user_counts" ->
      "SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id ORDER BY user_id",

    "q17_count_distinct" ->
      """SELECT COUNT(DISTINCT o_custkey) AS n_cust,
        |COUNT(DISTINCT (o_orderstatus, o_orderpriority)) AS n_status_prio
        |FROM orders""".stripMargin,

    "st3_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q21_quantiles" ->
      """SELECT quantile_cont(o_totalprice, 0.25) AS p25,
        |quantile_cont(o_totalprice, 0.5) AS p50,
        |quantile_cont(o_totalprice, 0.75) AS p75,
        |quantile_cont(o_totalprice, 0.95) AS p95,
        |TRUE AS approx_ok FROM orders""".stripMargin,

    "q22_window_suite" ->
      """SELECT o_orderkey, o_orderstatus,
        |CAST(rank() OVER w AS INT) AS rnk,
        |CAST(dense_rank() OVER w AS INT) AS drnk,
        |CAST(row_number() OVER w AS INT) AS rn,
        |CAST(ntile(4) OVER w AS INT) AS quartile,
        |lag(o_orderkey, 1) OVER w AS prev_key,
        |lead(o_orderkey, 1) OVER w AS next_key
        |FROM orders WHERE o_orderkey <= 2000
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "ev9_trending" ->
      """WITH hourly AS (SELECT date_trunc('hour', ts) AS h, event_type,
        |  COUNT(*) AS n FROM events GROUP BY 1, 2),
        |r AS (SELECT h, event_type, n, row_number() OVER (
        |  PARTITION BY h ORDER BY n DESC, event_type) AS rn FROM hourly)
        |SELECT h, event_type, n, CAST(rn AS INT) AS rn FROM r WHERE rn <= 3
        |ORDER BY h, rn""".stripMargin,

    "q35_monthly_revenue" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
        |COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders GROUP BY m ORDER BY m""".stripMargin,

    "d14_length_histogram" ->
      """SELECT CAST(n_chars // 200 AS BIGINT) AS bucket, COUNT(*) AS n
        |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin,

    "ev8_sliding_window" ->
      """WITH w AS (
        |  SELECT value,
        |    to_timestamp(floor(epoch(ts)/300)*300 - 300)::TIMESTAMP AS ws
        |  FROM events
        |  UNION ALL
        |  SELECT value, to_timestamp(floor(epoch(ts)/300)*300)::TIMESTAMP AS ws
        |  FROM events)
        |SELECT ws, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM w GROUP BY ws ORDER BY ws""".stripMargin,

    "q28_unpivot" ->
      """SELECT o_orderkey, metric, val FROM (
        |  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
        |         CAST(o_custkey AS DOUBLE) AS cust
        |  FROM orders WHERE o_orderkey <= 100)
        |UNPIVOT (val FOR metric IN (price, cust))
        |ORDER BY o_orderkey, metric""".stripMargin,

    "q29_star_revenue" ->
      """SELECT n_name, COUNT(*) AS n_items,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderstatus = 'O'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "st5_stream_stream_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS error_id, a.user_id
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |WHERE a.event_type = 'click' AND b.event_type = 'error'
        |AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
        |ORDER BY click_id, error_id""".stripMargin,

    "d13_heavy_hitters" ->
      """WITH tok AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |t AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM tok)
        |SELECT term, COUNT(*) AS df FROM t GROUP BY term
        |HAVING COUNT(*) >= CEIL(0.05 * (SELECT COUNT(*) FROM documents))
        |ORDER BY df DESC, term""".stripMargin,

    "q34_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "d12_bigram_oov" ->
      """WITH tok AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |  FROM tok WHERE len(toks) >= 2),
        |vocab AS (SELECT DISTINCT bigram FROM bg WHERE doc_id < 50)
        |SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |CAST(SUM(CASE WHEN v.bigram IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |FROM bg b LEFT JOIN vocab v USING (bigram)
        |WHERE b.doc_id >= 50 GROUP BY b.doc_id ORDER BY doc_id""".stripMargin,

    "q33_above_avg" ->
      """WITH agg AS (SELECT o_custkey, COUNT(*) AS cnt,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
        |  FROM orders GROUP BY o_custkey)
        |SELECT o.o_custkey, COUNT(*) AS n_above
        |FROM orders o JOIN agg a USING (o_custkey)
        |WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) * a.cnt > a.s
        |GROUP BY o.o_custkey ORDER BY o.o_custkey""".stripMargin,

    "q31_salted_join" ->
      """SELECT event_type, CAST(LENGTH(event_type) AS INT) AS type_len,
        |COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q32_dynamic_overwrite" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |CAST(SUM(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 2
        |                   ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS st
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q27_group_quantiles" ->
      """SELECT o_orderstatus,
        |quantile_cont(o_totalprice, 0.5) AS p50,
        |quantile_cont(o_totalprice, 0.9) AS p90
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q23_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        |COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio,
        |o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q24_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q25_upsert_latest" ->
      """SELECT user_id, event_type, event_id AS latest_event, ts, value FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "q26_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "d11_edit_distance" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 150
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    CASE WHEN instr(text, ' ') > 0 THEN substr(text, instr(text, ' ') + 1)
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id < 150),
        |t AS (SELECT doc_id, substr(text, 1, 48) AS t FROM corpus)
        |SELECT l.doc_id AS a, r.doc_id AS b,
        |CAST(levenshtein(l.t, r.t) AS INT) AS dist
        |FROM t l, t r WHERE l.doc_id < r.doc_id AND levenshtein(l.t, r.t) <= 16
        |ORDER BY a, b""".stripMargin,

    "st4_stream_static_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q19_approx_distinct" ->
      """SELECT COUNT(DISTINCT o_custkey) AS n_exact, TRUE AS approx_ok
        |FROM orders""".stripMargin,

    "q20_hll_sketch_union" ->
      """SELECT COUNT(DISTINCT o_custkey) AS n_exact, TRUE AS union_ok
        |FROM orders""".stripMargin,

    "q18_scalar_funcs" ->
      """SELECT o_orderkey, upper(substr(o_orderpriority, 1, 1)) AS prio_code,
        |CAST(length(o_orderpriority) AS INT) AS prio_len,
        |CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
        |CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price2,
        |o_orderkey % 7 AS k7
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q15_pivot" ->
      """SELECT user_id,
        |CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q16_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "ev7_range_join" ->
      """WITH s AS (SELECT user_id, ts AS sts, event_id AS signup_id FROM events
        |  WHERE event_type = 'signup'),
        |p AS (SELECT user_id, ts AS pts, event_id AS purchase_id FROM events
        |  WHERE event_type = 'purchase')
        |SELECT s.signup_id, COUNT(*) AS n_purchases
        |FROM s JOIN p ON s.user_id = p.user_id
        |  AND date_diff('second', s.sts, p.pts) BETWEEN 0 AND 604800
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "ev6_asof_native" ->
      """WITH p AS (SELECT user_id, ts, event_id AS purchase_id FROM events
        |  WHERE event_type = 'purchase'),
        |s AS (SELECT user_id, ts AS sts, MAX(event_id) AS signup_id FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id, ts)
        |SELECT p.purchase_id, p.user_id, s.signup_id
        |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.sts
        |ORDER BY purchase_id""".stripMargin,

    "m1_media_metadata" ->
      """SELECT doc_id,
        |CAST(CASE doc_id % 4 WHEN 0 THEN 33 WHEN 1 THEN 32 WHEN 2 THEN 31
        |     ELSE doc_id % 100 + 10 END AS BIGINT) AS byte_len,
        |CAST(CASE WHEN doc_id % 4 = 3 THEN 0 ELSE doc_id % 512 + 1 END AS INT) AS width,
        |CAST(CASE WHEN doc_id % 4 = 3 THEN 0 ELSE doc_id % 256 + 1 END AS INT) AS height,
        |CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
        |     ELSE 'unknown' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m3_media_header_decode" ->
      """SELECT doc_id, CAST(doc_id % 512 + 1 AS INT) AS width,
        |CAST(doc_id % 256 + 1 AS INT) AS height,
        |CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m4_wav_header_decode" ->
      """SELECT doc_id,
        |CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
        |CAST(1 + doc_id % 2 AS INT) AS channels,
        |CAST(16 AS INT) AS bits,
        |CAST(doc_id % 1000 + 1 AS BIGINT) AS n_samples
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m5_gif_frames" ->
      """SELECT doc_id, CAST(k AS INT) AS frame_idx,
        |CAST(13 + 17*k AS BIGINT) AS frame_off,
        |CAST(doc_id % 64 + k + 1 AS INT) AS width,
        |CAST(doc_id % 32 + k + 1 AS INT) AS height
        |FROM documents, UNNEST(range(doc_id % 4 + 1)) AS t(k)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // ------------------------------------------------ round-3 additions

    "q36_scd2" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN event_type IS DISTINCT FROM
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |  THEN 1 ELSE 0 END AS chg FROM events),
        |se AS (SELECT user_id, ts, event_type, SUM(chg) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg FROM e),
        |runs AS (SELECT user_id, seg, MIN(event_type) AS event_type,
        |  MIN(ts) AS valid_from, COUNT(*) AS n_events
        |  FROM se GROUP BY user_id, seg)
        |SELECT user_id, CAST(seg AS INT) AS version, event_type, valid_from,
        |lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg) AS valid_to,
        |n_events FROM runs ORDER BY user_id, version""".stripMargin,

    "q37_deterministic_sample" ->
      """SELECT o_orderpriority, COUNT(*) AS n_total,
        |COUNT(CASE WHEN ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 10 = 0
        |      THEN 1 END) AS n_sampled
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q38_shipping_priority" ->
      """SELECT l_orderkey,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |o_orderdate, o_orderpriority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |AND o_orderdate < TIMESTAMP '1998-01-01'
        |AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q39_region_nation_volume" ->
      """SELECT n_name,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |AND o_orderdate >= TIMESTAMP '1996-01-01'
        |AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q40_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        |COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY g_status, g_prio,
        |o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "d15_corpus_curation" -> {
      val scores = TextFunctions.langMarkers.map { case (lang, words) =>
        val hits = words.map(w =>
          s"(CASE WHEN ' ' || lower(text) || ' ' LIKE '% $w %' THEN 1 ELSE 0 END)")
          .mkString(" + ")
        lang -> s"($hits)"
      }
      val best = s"greatest(${scores.map(_._2).mkString(", ")})"
      val cases = scores.map { case (lang, sc) =>
        s"WHEN $sc = m AND m > 0 THEN '$lang'"
      }.mkString(" ")
      s"""WITH base AS (SELECT doc_id, text,
         |  $duckQualitySignals,
         |  md5(regexp_replace(regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g'), '\\s+', ' ', 'g')) AS fp,
         |  $best AS m
         |  FROM documents),
         |scored AS (SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
         |  $duckQualityExpr AS quality,
         |  CASE $cases ELSE 'und' END AS pred_lang,
         |  MIN(doc_id) OVER (PARTITION BY fp) AS keep_id
         |  FROM base)
         |SELECT doc_id, n_tokens, quality FROM scored
         |WHERE pred_lang = 'en' AND quality >= 0.5
         |AND n_tokens BETWEEN 30 AND 5000 AND doc_id = keep_id
         |ORDER BY doc_id""".stripMargin
    },

    "st6_stream_file_ingest" ->
      """SELECT COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st,
        |MAX(o_orderkey) AS hi FROM orders""".stripMargin,

    "m6_mp4_metadata" ->
      """SELECT doc_id, CAST(600 * (1 + doc_id % 3) AS INT) AS timescale,
        |CAST(((doc_id % 5000) + 1) * 100 AS BIGINT) AS duration,
        |CAST(1 + doc_id % 3 AS INT) AS n_trak
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m7_png_pixel_decode" ->
      """SELECT doc_id, CAST(8 + doc_id % 16 AS INT) AS width,
        |CAST(4 + doc_id % 8 AS INT) AS height,
        |CAST(doc_id % 256 AS INT) AS px00,
        |CAST(doc_id % 256 AS INT) AS px_mean
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m8_image_resize" ->
      """WITH p AS (SELECT doc_id,
        |  8 + doc_id % 16 AS w, 4 + doc_id % 8 AS h,
        |  (8 + doc_id % 16) // 2 AS ow, (4 + doc_id % 8) // 2 AS oh
        |  FROM documents)
        |SELECT doc_id, CAST(ow AS INT) AS out_w, CAST(oh AS INT) AS out_h,
        |CAST((((ow - 1) * w) // ow + ((oh - 1) * h) // oh) % 256 AS INT) AS px_last,
        |CAST((((ow // 2) * w) // ow + ((oh // 2) * h) // oh) % 256 AS INT) AS px_mid
        |FROM p ORDER BY doc_id""".stripMargin,

    "q41_exists_subquery" ->
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q42_window_frames" ->
      """SELECT o_orderkey, o_orderstatus,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER wr AS DOUBLE) AS running_total,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER wm AS DOUBLE) AS moving3,
        |CAST(first_value(CAST(o_totalprice AS DECIMAL(18,2))) OVER wr AS DOUBLE) AS first_price,
        |CAST(nth_value(CAST(o_totalprice AS DECIMAL(18,2)), 2) OVER wr AS DOUBLE) AS second_price
        |FROM orders WHERE o_orderkey <= 2000
        |WINDOW wr AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |wm AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "q43_cdc_tombstones" ->
      """WITH latest AS (SELECT user_id, ts, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, ts AS last_ts, event_type, value FROM latest
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin,

    "d16_stopword_ratio" -> {
      val set = TextFunctions.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
         |CAST(len(list_filter(toks, t -> list_contains($set, t))) AS INT) AS n_stop,
         |round(CAST(len(list_filter(toks, t -> list_contains($set, t))) AS DOUBLE)
         |  / greatest(len(toks), 1), 6) AS stop_ratio
         |FROM (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    "d17_source_dedup_stats" ->
      """SELECT source, COUNT(*) AS n_docs,
        |COUNT(DISTINCT md5(regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'))) AS n_unique
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "d19_pii_redaction" ->
      """WITH t AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 7 = 0 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
        |  CASE WHEN doc_id % 11 = 0 THEN ' from host ' || CAST(doc_id % 223 AS VARCHAR) || '.16.' || CAST(doc_id % 250 AS VARCHAR) || '.7' ELSE '' END ||
        |  CASE WHEN doc_id % 13 = 0 THEN ' call +1 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
        |CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
        |CAST(len(regexp_extract_all(t, '\+1 \d{3}-\d{4}')) AS INT) AS n_phones,
        |md5(regexp_replace(regexp_replace(regexp_replace(t,
        |  '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |  '\+1 \d{3}-\d{4}', '<PHONE>', 'g')) AS red_fp
        |FROM t ORDER BY doc_id""".stripMargin,

    "d20_repetition_signals" ->
      """WITH tok AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |  i -> toks[i] || ' ' || toks[i+1])) AS gram FROM tok WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
        |  COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_count
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_grams, n_distinct, top_count,
        |round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS rep_frac,
        |round(CAST(top_count AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS top_frac
        |FROM a ORDER BY doc_id""".stripMargin,

    "d21_bm25" -> {
      val tfs = bm25Terms.indices.map(i =>
        s"CAST(len(list_filter(toks, x -> x = '${bm25Terms(i)}')) AS DOUBLE) AS tf$i")
        .mkString(",\n")
      val dfs = bm25Terms.indices.map(i =>
        s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
        .mkString(",\n")
      val score = bm25Terms.indices.map(i =>
        s"ln(CAST(1 AS DOUBLE) + (nn - df$i + CAST(0.5 AS DOUBLE)) / (df$i + CAST(0.5 AS DOUBLE)))" +
          s" * tf$i * (CAST(1.2 AS DOUBLE) + CAST(1 AS DOUBLE))" +
          s" / (tf$i + CAST(1.2 AS DOUBLE) * (CAST(1 AS DOUBLE) - CAST(0.75 AS DOUBLE)" +
          s" + CAST(0.75 AS DOUBLE) * dl / avgdl))")
        .mkString(" + ")
      s"""WITH tok AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
         |  FROM documents),
         |t AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, $tfs FROM tok),
         |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn, avg(dl) AS avgdl, $dfs FROM t)
         |SELECT doc_id, round($score, 6) AS bm25 FROM t, st
         |WHERE round($score, 6) > 0 ORDER BY doc_id""".stripMargin
    },

    "d22_sequence_packing" ->
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |  CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
        |  FROM t)
        |SELECT source, strt // 2048 AS chunk, COUNT(*) AS n_docs,
        |CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "d23_mixture_sampling" -> {
      val cases = mixtureRates.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
      s"""WITH t AS (SELECT lang, n_chars,
         |  ('0x' || substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS h,
         |  CASE lang $cases ELSE 0 END AS rate FROM documents)
         |SELECT lang, COUNT(*) AS n_total,
         |CAST(SUM(CASE WHEN h < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |CAST(COALESCE(SUM(CASE WHEN h < rate THEN n_chars END), 0) AS BIGINT) AS kept_chars
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "d24_training_shuffle" ->
      """WITH t AS (SELECT doc_id,
        |  ('0x' || substr(md5('shuf1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM documents)
        |SELECT CAST(h % 16 AS INT) AS shard,
        |CAST(row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) AS INT) AS pos,
        |doc_id FROM t ORDER BY shard, pos""".stripMargin,

    "d25_bpe_tokens" -> {
      val pat = bpePattern.replace("'", "''")
      s"""SELECT doc_id,
         |CAST(len(regexp_extract_all(text, '$pat')) AS INT) AS n_bpe,
         |CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS INT) AS n_ws,
         |round(CAST(len(regexp_extract_all(text, '$pat')) AS DOUBLE) /
         |  CAST(greatest(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')), 1) AS DOUBLE), 6) AS fertility
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "d26_quality_deciles" ->
      s"""WITH base AS (SELECT doc_id, $duckQualitySignals FROM documents),
         |scored AS (SELECT doc_id, $duckQualityExpr AS q FROM base),
         |cuts AS (SELECT quantile_cont(q, 0.25) AS c1, quantile_cont(q, 0.5) AS c2,
         |  quantile_cont(q, 0.75) AS c3 FROM scored)
         |SELECT (CASE WHEN q > c1 THEN 1 ELSE 0 END + CASE WHEN q > c2 THEN 1 ELSE 0 END
         |  + CASE WHEN q > c3 THEN 1 ELSE 0 END) AS bucket,
         |COUNT(*) AS n, round(MIN(q), 6) AS min_q, round(MAX(q), 6) AS max_q
         |FROM scored, cuts GROUP BY 1 ORDER BY 1""".stripMargin,

    "q44_collect_list" ->
      """SELECT user_id,
        |array_to_string(list_sort(list(DISTINCT event_type)), '|') AS types,
        |COUNT(*) AS n FROM events WHERE event_type IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q45_full_outer" ->
      """WITH od AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |ed AS (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT COALESCE(od.d, ed.d) AS d,
        |COALESCE(n_orders, 0) AS n_orders,
        |COALESCE(n_events, 0) AS n_events
        |FROM od FULL OUTER JOIN ed ON od.d = ed.d
        |ORDER BY d""".stripMargin,

    "q46_bucketed_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q50_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) *
        |  (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q48_date_spine" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |spine AS (SELECT CAST(unnest(generate_series(
        |  (SELECT min(d) FROM daily), (SELECT max(d) FROM daily),
        |  INTERVAL 1 DAY)) AS DATE) AS d)
        |SELECT spine.d AS d, COALESCE(n_orders, 0) AS n_orders,
        |COALESCE(rev, 0.0) AS rev
        |FROM spine LEFT JOIN daily ON spine.d = daily.d
        |ORDER BY spine.d""".stripMargin,

    "q49_snapshot_diff" ->
      """WITH s1 AS (SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        |s2 AS (SELECT k, CASE WHEN k % 7 = 0 THEN p + 1 ELSE p END AS p
        |       FROM s1 WHERE k % 13 <> 0
        |       UNION ALL
        |       SELECT k + 10000000 AS k, p FROM s1 WHERE k % 17 = 0),
        |d AS (SELECT s1.p AS p1, s2.p AS p2
        |      FROM s1 FULL OUTER JOIN s2 ON s1.k = s2.k)
        |SELECT CASE WHEN p1 IS NULL THEN 'insert'
        |            WHEN p2 IS NULL THEN 'delete'
        |            WHEN p1 <> p2 THEN 'update'
        |            ELSE 'same' END AS change_type, COUNT(*) AS n
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "st8_stream_session" ->
      """WITH fwm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
        |x AS (SELECT user_id, ts, event_id,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000 THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (SELECT user_id, ts, SUM(ns) OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM x),
        |g AS (SELECT user_id, sid, MIN(ts) AS s_start,
        |  max(ts) + INTERVAL 30 MINUTE AS s_end, COUNT(*) AS n
        |  FROM y GROUP BY user_id, sid)
        |SELECT user_id, s_start, s_end, n FROM g, fwm
        |WHERE s_end <= fwm.w
        |ORDER BY user_id, s_start""".stripMargin,

    "q47_compaction" ->
      """SELECT COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st,
        |MAX(o_orderkey) AS hi FROM orders""".stripMargin,

    "st7_late_data" ->
      """WITH t AS (SELECT max(ts) AS m FROM events),
        |a AS (SELECT ts FROM events, t
        |  WHERE event_id % 10 <> 0 AND ts <= t.m - INTERVAL 72 HOUR),
        |wma AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM a),
        |fwm AS (SELECT m - INTERVAL 1 HOUR AS w FROM t),
        |acc AS (SELECT ts FROM events WHERE event_id % 10 <> 0
        |  UNION ALL
        |  SELECT e.ts FROM events e, wma
        |  WHERE event_id % 10 = 0
        |  AND date_trunc('hour', e.ts) + INTERVAL 1 HOUR > wma.w)
        |SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n
        |FROM acc, fwm
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= fwm.w
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q51_corr_stats" ->
      """WITH a AS (SELECT l_returnflag, COUNT(*) AS n,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |  SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
        |  FROM lineitem GROUP BY 1),
        |d AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |  CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |  CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
        |  CAST(sxy AS DOUBLE) AS sxyd FROM a)
        |SELECT l_returnflag, n,
        |round((nd * sxyd - sxd * syd) /
        |  sqrt((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6) AS corr_qp,
        |round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6) AS slope,
        |round((syd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) * sxd) / nd, 6) AS intercept,
        |round(sqrt((nd * sxxd - sxd * sxd) / (nd * (nd - 1.0))), 6) AS sd_q
        |FROM d ORDER BY l_returnflag""".stripMargin,

    "q52_funnel" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT COUNT(t1) AS n_view, COUNT(t2) AS n_click, COUNT(t3) AS n_purchase
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin,

    "q53_cohort_retention" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT user_id, MIN(d) AS cohort_day FROM ev GROUP BY 1)
        |SELECT c.cohort_day, date_diff('day', c.cohort_day, ev.d) AS day_offset,
        |COUNT(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q54_gap_fill" ->
      """WITH known AS (SELECT event_type,
        |  date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', date_trunc('hour', ts)) AS hr,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2 HAVING hr % 3 = 0),
        |spine AS (SELECT event_type, unnest(generate_series(lo, hi)) AS hr
        |  FROM (SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi FROM known GROUP BY 1)),
        |j AS (SELECT spine.event_type, spine.hr, known.v FROM spine
        |  LEFT JOIN known ON spine.event_type = known.event_type AND spine.hr = known.hr),
        |w AS (SELECT event_type, hr, v,
        |  last_value(v IGNORE NULLS) OVER
        |    (PARTITION BY event_type ORDER BY hr ROWS UNBOUNDED PRECEDING) AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER
        |    (PARTITION BY event_type ORDER BY hr ROWS UNBOUNDED PRECEDING) AS ph,
        |  first_value(v IGNORE NULLS) OVER
        |    (PARTITION BY event_type ORDER BY hr
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER
        |    (PARTITION BY event_type ORDER BY hr
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        |  FROM j)
        |SELECT event_type, hr,
        |round(CASE WHEN v IS NOT NULL THEN v
        |  WHEN ph IS NULL THEN nv
        |  WHEN nh IS NULL THEN pv
        |  ELSE pv + (nv - pv) * (CAST(hr - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE))
        |  END, 6) AS v_filled,
        |CAST(v IS NOT NULL AS INT) AS observed
        |FROM w ORDER BY event_type, hr""".stripMargin,

    "e11_kmeans_assign" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT e.vec_id, c.cid,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |    CAST(c.cvec AS DOUBLE[])), 6) AS sim
        |  FROM embeddings e, c),
        |r AS (SELECT vec_id, cid, sim,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s),
        |a AS (SELECT vec_id, cid, sim FROM r WHERE rn = 1)
        |SELECT cid, COUNT(*) AS n, MIN(vec_id) AS first_vec,
        |round(CAST(SUM(CAST(sim AS DECIMAL(10,6))) AS DOUBLE) /
        |  CAST(COUNT(*) AS DOUBLE), 6) AS mean_sim
        |FROM a GROUP BY cid ORDER BY cid""".stripMargin,

    "e12_kmeans_step" ->
      """WITH c0 AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
        |s0 AS (SELECT e.vec_id, c0.cid,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |    CAST(c0.cvec AS DOUBLE[])), 6) AS sim
        |  FROM embeddings e, c0),
        |a0 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s0)
        |  WHERE rn = 1),
        |xe AS (SELECT a0.cid, e.embedding AS emb,
        |  unnest(generate_series(1, len(e.embedding))) AS i
        |  FROM embeddings e JOIN a0 USING (vec_id)),
        |x AS (SELECT cid, i - 1 AS pos,
        |  CAST(floor(CAST(emb[i] AS DOUBLE) * 1000000) AS BIGINT) AS xi FROM xe),
        |m AS (SELECT cid, pos, CAST(SUM(xi) AS BIGINT) AS sx, COUNT(*) AS cnt
        |  FROM x GROUP BY 1, 2),
        |c1 AS (SELECT cid, list(CAST(sx AS DOUBLE) / (CAST(cnt AS DOUBLE) * 1000000.0)
        |  ORDER BY pos) AS cvec FROM m GROUP BY 1),
        |s1 AS (SELECT e.vec_id, c1.cid,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c1.cvec), 6) AS sim
        |  FROM embeddings e, c1),
        |a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s1)
        |  WHERE rn = 1),
        |nb AS (SELECT cid, COUNT(*) AS n_before FROM a0 GROUP BY 1),
        |na AS (SELECT cid, COUNT(*) AS n_after FROM a1 GROUP BY 1)
        |SELECT COALESCE(nb.cid, na.cid) AS cid,
        |COALESCE(n_before, 0) AS n_before, COALESCE(n_after, 0) AS n_after
        |FROM nb FULL OUTER JOIN na ON nb.cid = na.cid
        |ORDER BY cid""".stripMargin,

    "d27_boilerplate_ngrams" ->
      s"""WITH tok AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
         |  FROM documents),
         |sh AS (SELECT doc_id, $duckShingles2 AS g FROM tok),
         |e AS (SELECT doc_id, ('0x' || substr(md5(unnest(g)), 1, 15))::BIGINT AS h FROM sh),
         |d AS (SELECT h, COUNT(*) AS df FROM e GROUP BY 1),
         |n AS (SELECT COUNT(*) AS ndocs FROM documents),
         |j AS (SELECT e.doc_id, (d.df * 20 >= n.ndocs) AS boiler
         |  FROM e JOIN d USING (h), n)
         |SELECT doc_id, COUNT(*) AS n_grams,
         |CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |round(CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS DOUBLE) /
         |  CAST(COUNT(*) AS DOUBLE), 6) AS boiler_frac
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "st9_stream_upsert" ->
      """WITH base AS (SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |  FROM orders),
        |u AS (SELECT k, p, 1 AS ver FROM base
        |  UNION ALL SELECT k, CAST(p + 1 AS DECIMAL(18,2)), 2 FROM base WHERE k % 7 = 0
        |  UNION ALL SELECT k + 10000000, p, 3 FROM base WHERE k % 17 = 0),
        |m AS (SELECT k, arg_max(p, ver) AS p, MAX(ver) AS ver FROM u GROUP BY 1)
        |SELECT COUNT(*) AS n, CAST(SUM(p) AS DOUBLE) AS st, MAX(k) AS hi,
        |CAST(SUM(CASE WHEN ver = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_v2,
        |CAST(SUM(CASE WHEN ver = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_v3 FROM m""".stripMargin,

    "ev10_asof_forward" ->
      """WITH p AS (SELECT user_id, ts, event_id AS purchase_id FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts AS cts, MAX(event_id) AS click_id FROM events
        |  WHERE event_type = 'click' GROUP BY user_id, ts),
        |m AS (SELECT p.purchase_id, p.user_id, p.ts, MIN(c.cts) AS cts
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.cts >= p.ts
        |  GROUP BY 1, 2, 3)
        |SELECT m.purchase_id, m.user_id,
        |CASE WHEN m.cts IS NOT NULL
        |  AND date_diff('microsecond', m.ts, m.cts) <= 7200000000
        |  THEN c2.click_id END AS click_id
        |FROM m LEFT JOIN c c2 ON m.user_id = c2.user_id AND m.cts = c2.cts
        |ORDER BY purchase_id""".stripMargin,

    "q55_string_agg" ->
      """SELECT o_orderstatus,
        |string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS keys_csv,
        |COUNT(*) AS n FROM orders WHERE o_orderkey <= 2000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q56_dist_windows" ->
      """SELECT o_orderkey, o_orderstatus,
        |round(percent_rank() OVER w, 6) AS pr,
        |round(cume_dist() OVER w, 6) AS cd
        |FROM orders WHERE o_orderkey <= 2000
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q57_set_ops_all" ->
      """WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |i AS (SELECT o_custkey FROM f INTERSECT ALL SELECT o_custkey FROM o),
        |e AS (SELECT o_custkey FROM f EXCEPT ALL SELECT o_custkey FROM o)
        |SELECT * FROM (
        |  SELECT o_custkey, COUNT(*) AS n, 'intersect_all' AS op FROM i GROUP BY 1
        |  UNION ALL
        |  SELECT o_custkey, COUNT(*) AS n, 'except_all' AS op FROM e GROUP BY 1)
        |ORDER BY op, o_custkey""".stripMargin,

    "q58_conditional_agg" ->
      """SELECT o_orderstatus,
        |CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        |bool_and(o_totalprice > 0) AS all_pos,
        |bool_or(o_totalprice > 300000) AS any_huge,
        |arg_max(o_orderpriority, o_orderkey) AS last_priority
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // Measured rule (both sfs, exact): inner results are the plain batch
    // join (the max-12h split keeps every cross-batch candidate inside
    // the un-evicted window); outer nulls emit for unmatched clicks whose
    // cts+5m bound precedes the FINAL watermark min(max click ts, max
    // error ts) - 10m — the trailing no-data batch applies it.
    "st10_stream_outer_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS cts FROM events
        |  WHERE event_type = 'click'),
        |e AS (SELECT event_id AS error_id, user_id AS uid, ts AS ets FROM events
        |  WHERE event_type = 'error'),
        |pairs AS (SELECT c.click_id, e.error_id, c.user_id FROM c JOIN e
        |  ON c.user_id = e.uid AND e.ets >= c.cts
        |  AND e.ets <= c.cts + INTERVAL 5 MINUTE),
        |wm AS (SELECT least(
        |  (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |  (SELECT max(ts) FROM events WHERE event_type = 'error'))
        |  - INTERVAL 10 MINUTE AS w),
        |outer_rows AS (SELECT c.click_id, NULL::BIGINT AS error_id, c.user_id
        |  FROM c, wm
        |  WHERE c.click_id NOT IN (SELECT click_id FROM pairs)
        |  AND c.cts + INTERVAL 5 MINUTE < wm.w)
        |SELECT * FROM pairs UNION ALL SELECT * FROM outer_rows
        |ORDER BY click_id, error_id""".stripMargin,

    "st17_stream_full_outer" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS cts FROM events
        |  WHERE event_type = 'click'),
        |e AS (SELECT event_id AS error_id, user_id AS uid, ts AS ets FROM events
        |  WHERE event_type = 'error'),
        |pairs AS (SELECT 0 AS side, c.click_id, e.error_id, c.user_id AS u
        |  FROM c JOIN e ON c.user_id = e.uid AND e.ets >= c.cts
        |  AND e.ets <= c.cts + INTERVAL 5 MINUTE),
        |wm AS (SELECT least(
        |  (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |  (SELECT max(ts) FROM events WHERE event_type = 'error'))
        |  - INTERVAL 10 MINUTE AS w),
        |left_rows AS (SELECT 1 AS side, c.click_id, NULL::BIGINT AS error_id,
        |  c.user_id AS u FROM c, wm
        |  WHERE c.click_id NOT IN (SELECT click_id FROM pairs)
        |  AND c.cts + INTERVAL 5 MINUTE < wm.w),
        |right_rows AS (SELECT 2 AS side, NULL::BIGINT AS click_id, e.error_id,
        |  e.uid AS u FROM e, wm
        |  WHERE e.error_id NOT IN (SELECT error_id FROM pairs)
        |  AND e.ets < wm.w)
        |SELECT CAST(side AS INT) AS side, click_id, error_id, u FROM
        |(SELECT * FROM pairs UNION ALL SELECT * FROM left_rows
        | UNION ALL SELECT * FROM right_rows)
        |ORDER BY side, click_id, error_id""".stripMargin,

    "q59_variant_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS INT) % 3 = 0
        |ORDER BY event_id""".stripMargin,

    "q60_array_hof" ->
      """SELECT vec_id,
        |CAST(list_sum(list_transform(embedding, x ->
        |  CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS sq_norm_q,
        |CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
        |CAST(list_max(embedding) AS DOUBLE) AS mx,
        |CAST(list_position(embedding, list_max(embedding)) AS BIGINT) AS argmax
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q61_median_disc" ->
      """WITH w AS (SELECT o_orderstatus, o_totalprice,
        |  cume_dist() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice) AS cd
        |  FROM orders)
        |SELECT o_orderstatus,
        |round(median(o_totalprice), 6) AS med,
        |MIN(CASE WHEN cd >= 0.9 THEN o_totalprice END) AS p90_disc,
        |MIN(CASE WHEN cd >= 0.1 THEN o_totalprice END) AS p10_disc
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    "ev11_interval_overlap" ->
      """WITH b AS (SELECT unnest(generate_series(
        |  date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', ts) + 1,
        |  date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', ts) + 4)) AS hb
        |  FROM events)
        |SELECT hb, COUNT(*) AS n_active FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "d29_token_entropy" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS term
        |  FROM documents),
        |c AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n FROM c GROUP BY 1),
        |q AS (SELECT c.doc_id,
        |  CAST(round(-((CAST(c.c AS DOUBLE) / n.n) * ln(CAST(c.c AS DOUBLE) / n.n))
        |    * 1000000, 0) AS BIGINT) AS qv
        |  FROM c JOIN n USING (doc_id))
        |SELECT doc_id, COUNT(*) AS n_terms,
        |round(CAST(SUM(qv) AS DOUBLE) / 1000000.0, 6) AS entropy
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,

    "q62_schema_merge" ->
      """SELECT COUNT(*) AS n,
        |CAST(SUM(CASE WHEN o_orderkey > 750 THEN 1 ELSE 0 END) AS BIGINT) AS n_status,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st
        |FROM orders""".stripMargin,

    "q63_corrupt_json" ->
      """SELECT COUNT(*) AS n,
        |CAST(SUM(CASE WHEN o_orderkey % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
        |CAST(SUM(CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |CAST(SUM(CASE WHEN o_orderkey % 13 <> 0 THEN o_orderkey END) AS BIGINT) AS sum_good
        |FROM orders""".stripMargin,

    "d31_countmin_sketch" -> {
      val qlist = cmsQueryTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH tok AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
         |  t -> t <> '')) AS term FROM documents),
         |tf AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1),
         |j AS (SELECT unnest([0, 1, 2, 3]) AS j),
         |sk AS (SELECT j.j,
         |  ('0x' || substr(md5('cms' || j.j || ':' || tf.term), 1, 15))::BIGINT % 256 AS b,
         |  CAST(SUM(cnt) AS BIGINT) AS total FROM tf, j GROUP BY 1, 2),
         |qt AS (SELECT unnest([$qlist]) AS qterm),
         |pr AS (SELECT qt.qterm, j.j,
         |  ('0x' || substr(md5('cms' || j.j || ':' || qt.qterm), 1, 15))::BIGINT % 256 AS b
         |  FROM qt, j),
         |est AS (SELECT pr.qterm, MIN(COALESCE(sk.total, 0)) AS e FROM pr
         |  LEFT JOIN sk ON pr.j = sk.j AND pr.b = sk.b GROUP BY 1),
         |ex AS (SELECT qt.qterm, COALESCE(tf.cnt, 0) AS x FROM qt
         |  LEFT JOIN tf ON qt.qterm = tf.term)
         |SELECT est.qterm, CAST(est.e AS BIGINT) AS est, CAST(ex.x AS BIGINT) AS exact
         |FROM est JOIN ex USING (qterm) ORDER BY qterm""".stripMargin
    },

    "d30_unicode_normalize" ->
      """WITH raw AS (SELECT doc_id, text ||
        |  CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN ' caf' || chr(233)
        |    WHEN 1 THEN ' cafe' || chr(769)
        |    WHEN 2 THEN ' u' || chr(776) || 'ber'
        |    ELSE '' END AS r FROM documents)
        |SELECT doc_id, length(r) AS len_raw, length(nfc_normalize(r)) AS len_nfc,
        |CAST(nfc_normalize(r) = r AS INT) AS unchanged,
        |md5(nfc_normalize(r)) AS fp
        |FROM raw ORDER BY doc_id""".stripMargin,

    "q64_bloom_prune" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q65_lateral_topk" ->
      """SELECT c.c_custkey, o.o_orderkey, o.top_price
        |FROM (SELECT * FROM customer WHERE c_custkey <= 200) c
        |JOIN LATERAL (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS top_price
        |  FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o ON TRUE
        |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin,

    "q66_nullsafe_join" ->
      """WITH a AS (SELECT nullif(o_orderstatus, 'P') AS k, COUNT(*) AS n_all
        |  FROM orders GROUP BY 1),
        |b AS (SELECT nullif(o_orderstatus, 'P') AS k, COUNT(*) AS n_even
        |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1)
        |SELECT a.k AS k, a.n_all, b.n_even FROM a
        |JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY k NULLS FIRST""".stripMargin,

    "ev12_anomaly_zscore" ->
      """WITH e AS (SELECT event_id, user_id, ts,
        |  CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |h AS (SELECT event_id, user_id, x,
        |  COUNT(x) OVER w AS n, SUM(x) OVER w AS sm, SUM(x * x) OVER w AS sq
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, x AS cents,
        |  CAST(n * x - sm AS BIGINT) AS dev_scaled, CAST(n AS BIGINT) AS n_hist
        |FROM h
        |WHERE n >= 10 AND (n - 1) * (n * x - sm) * (n * x - sm) > 9 * n * (n * sq - sm * sm)
        |ORDER BY event_id""".stripMargin,

    "ev13_markov_transitions" ->
      """WITH p AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev, event_type AS next, COUNT(*) AS cnt FROM p
        |  WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, next, cnt,
        |  round(CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY prev), 6) AS p
        |FROM c ORDER BY prev, next""".stripMargin,

    "d32_passage_dedup" ->
      s"""WITH corpus AS ($duckMutantCorpus),
         |tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks FROM corpus),
         |sh AS (SELECT doc_id, $duckShingles5 AS sh FROM tok),
         |g AS (SELECT DISTINCT doc_id,
         |  ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS h FROM sh),
         |ds AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
         |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY 1),
         |dup AS (SELECT doc_id, COUNT(*) AS n_dup FROM g
         |  WHERE h IN (SELECT h FROM ds) GROUP BY 1)
         |SELECT tot.doc_id, tot.n_grams,
         |  COALESCE(dup.n_dup, 0) AS n_dup,
         |  round(CAST(COALESCE(dup.n_dup, 0) AS DOUBLE) / tot.n_grams, 6) AS dup_frac,
         |  CAST(round(CAST(COALESCE(dup.n_dup, 0) AS DOUBLE) / tot.n_grams, 6) < 0.5 AS INT) AS keep
         |FROM tot LEFT JOIN dup ON tot.doc_id = dup.doc_id
         |ORDER BY tot.doc_id""".stripMargin,

    "d33_domain_caps" ->
      """WITH r AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source, CAST(rk AS INT) AS rk FROM r
        |WHERE rk <= 10 ORDER BY source, rk""".stripMargin,

    "d34_tfidf_topk" ->
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  round(tf.tf * (ln(CAST(n.nn + 1 AS DOUBLE) / (df.df + 1)) + 1), 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |  ORDER BY score DESC, term ASC) AS rk FROM s)
        |SELECT doc_id, CAST(rk AS INT) AS rk, term, tf, CAST(df AS BIGINT) AS df, score
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "d35_block_dedup_rebuild" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |q AS (SELECT doc_id + 100000 AS doc_id,
         |  array_to_string(list_transform(generate_series(1, 8), x -> 'mk' || doc_id), ' ')
         |    || ' ' ||
         |  array_to_string(list_slice(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''), 1, 8), ' ')
         |  AS text FROM base),
         |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM q),
         |tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t FROM corpus),
         |b AS (SELECT doc_id, unnest(generate_series(0, CAST((len(t) - 1) // 8 AS INT))) AS bpos, t FROM tok),
         |blk AS (SELECT doc_id, bpos,
         |  array_to_string(list_slice(t, bpos * 8 + 1, bpos * 8 + 8), ' ') AS block FROM b),
         |kept AS (SELECT doc_id, bpos, block,
         |  row_number() OVER (PARTITION BY block ORDER BY doc_id, bpos) AS rn FROM blk),
         |tot AS (SELECT doc_id, COUNT(*) AS n_blocks FROM blk GROUP BY 1),
         |reb AS (SELECT doc_id, COUNT(*) AS n_kept,
         |  md5(string_agg(block, ' ' ORDER BY bpos)) AS fp
         |  FROM kept WHERE rn = 1 GROUP BY 1)
         |SELECT tot.doc_id, tot.n_blocks, COALESCE(reb.n_kept, 0) AS n_kept, reb.fp
         |FROM tot LEFT JOIN reb ON tot.doc_id = reb.doc_id
         |ORDER BY tot.doc_id""".stripMargin,

    "q67_time_range_frame" ->
      """SELECT event_id, user_id,
        |COUNT(*) OVER w AS n_1h,
        |CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "m9_wav_pcm_stats" ->
      """WITH n AS (SELECT doc_id, CAST(doc_id % 500 + 1 AS INT) AS n FROM documents),
        |i AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM n),
        |v AS (SELECT doc_id, n, ((doc_id * 31 + i * 7919) % 4096) - 2048 AS v FROM i)
        |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_samples,
        |CAST(SUM(v * v) AS BIGINT) AS sum_sq, CAST(MAX(abs(v)) AS INT) AS peak
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "st11_dedup_watermark" ->
      """SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q68_incremental_agg_merge" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st
        |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin,

    "q69_zorder_key" -> {
      val terms = (0 until 16).map(b =>
        s"((((x >> $b) & 1) << ${2 * b}) | (((y >> $b) & 1) << ${2 * b + 1}))")
        .mkString(" | ")
      s"""WITH d AS (SELECT l_orderkey, l_linenumber,
         |  l_partkey % 65536 AS x, l_suppkey % 65536 AS y
         |  FROM lineitem WHERE l_orderkey <= 200)
         |SELECT l_orderkey, l_linenumber, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
         |CAST($terms AS BIGINT) AS zkey FROM d
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },

    "q70_scalar_subquery" ->
      """SELECT o_orderkey,
        |  (SELECT MAX(l_quantity) FROM lineitem l
        |   WHERE l.l_orderkey = o.o_orderkey) AS max_qty
        |FROM orders o
        |WHERE o_orderkey <= 500
        |ORDER BY o_orderkey""".stripMargin,

    "d36_containment" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |q AS (SELECT doc_id + 100000 AS doc_id,
         |  array_to_string(list_slice(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''), 1, 20), ' ')
         |  || ' ' ||
         |  array_to_string(list_transform(generate_series(1, 10), x -> 'qt' || doc_id), ' ')
         |  AS text FROM base),
         |qtok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks FROM q),
         |qsh AS (SELECT doc_id, $duckShingles5 AS sh FROM qtok),
         |qg AS (SELECT DISTINCT doc_id AS q_id,
         |  ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS h FROM qsh),
         |ctok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks FROM base),
         |csh AS (SELECT doc_id, $duckShingles5 AS sh FROM ctok),
         |cg AS (SELECT DISTINCT doc_id AS c_id,
         |  ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS h FROM csh),
         |qt AS (SELECT q_id, COUNT(*) AS n_q FROM qg GROUP BY 1),
         |sh2 AS (SELECT q_id, c_id, COUNT(*) AS n_shared FROM qg JOIN cg USING (h) GROUP BY 1, 2)
         |SELECT s.q_id, s.c_id, s.n_shared, t.n_q,
         |  round(CAST(s.n_shared AS DOUBLE) / t.n_q, 6) AS containment
         |FROM sh2 s JOIN qt t USING (q_id)
         |WHERE round(CAST(s.n_shared AS DOUBLE) / t.n_q, 6) >= 0.5
         |ORDER BY q_id, c_id""".stripMargin,

    "e13_int8_quantize" ->
      """WITH qn AS (SELECT vec_id,
        |  CAST(list_max(list_transform(embedding, v -> abs(v))) AS DOUBLE) AS amax,
        |  embedding FROM embeddings),
        |qz AS (SELECT vec_id,
        |  CASE WHEN amax = 0 THEN list_transform(embedding, v -> 0)
        |  ELSE list_transform(embedding, v ->
        |    CAST(round(CAST(v AS DOUBLE) * (127.0 / amax)) AS INT)) END AS qv
        |  FROM qn),
        |st AS (SELECT vec_id, qv,
        |  CAST(list_sum(list_transform(qv, x -> CAST(x * x AS BIGINT))) AS BIGINT) AS s2
        |  FROM qz),
        |p AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id,
        |  CAST(list_sum(list_transform(generate_series(1, len(a.qv)),
        |    i -> CAST(a.qv[i] * b.qv[i] AS BIGINT))) AS BIGINT) AS dot_q,
        |  a.s2 AS s2a, b.s2 AS s2b
        |  FROM st a, st b WHERE a.vec_id < 10 AND b.vec_id >= 10 AND b.vec_id < 60)
        |SELECT q_id, c_id, dot_q,
        |  round(CAST(dot_q AS DOUBLE) / sqrt(CAST(s2a AS DOUBLE) * CAST(s2b AS DOUBLE)), 6) AS cos_q
        |FROM p ORDER BY q_id, c_id""".stripMargin,

    "d37_url_canonicalize" ->
      """SELECT doc_id,
        |'https://' || lower(source) || '.example.com/Docs/' || doc_id ||
        |'?a=' || (doc_id % 3) || '&b=' || (doc_id % 7) AS url_canon
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q71_pit_join" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN event_type IS DISTINCT FROM
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |  THEN 1 ELSE 0 END AS chg FROM events),
        |se AS (SELECT user_id, ts, event_type, SUM(chg) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg FROM e),
        |runs AS (SELECT user_id, seg, MIN(event_type) AS feat,
        |  MIN(ts) AS valid_from FROM se GROUP BY user_id, seg),
        |dim AS (SELECT user_id, CAST(seg AS INT) AS version, feat, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg) AS valid_to
        |  FROM runs),
        |probes AS (SELECT event_id AS probe_id, user_id, ts FROM events
        |  WHERE event_id % 10 = 0)
        |SELECT p.probe_id, p.user_id, d.version, d.feat
        |FROM probes p JOIN dim d ON p.user_id = d.user_id
        |  AND p.ts >= d.valid_from AND (d.valid_to IS NULL OR p.ts < d.valid_to)
        |ORDER BY p.probe_id""".stripMargin,

    "ev14_user_profile" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
        |MIN(ts) AS first_ts, MAX(ts) AS last_ts,
        |CAST(COUNT(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS active_hours,
        |CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q72_join_hints" ->
      """SELECT n.n_name, COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,

    "m10_image_ahash" ->
      """WITH d AS (SELECT doc_id,
        |  8 * (2 + doc_id % 5) AS w, 8 * (2 + (doc_id // 5) % 5) AS h FROM documents),
        |b AS (SELECT doc_id, w, h, w // 8 AS bw, h // 8 AS bh,
        |  h * ((w * (w - 1)) // 2) + w * ((h * (h - 1)) // 2) AS g FROM d),
        |cells AS (SELECT doc_id, w, h, bw, bh, g, bx, by,
        |  bh * ((bw * (2 * bx * bw + bw - 1)) // 2) +
        |  bw * ((bh * (2 * by * bh + bh - 1)) // 2) AS s
        |  FROM b, generate_series(0, 7) t1(bx), generate_series(0, 7) t2(by)),
        |hs AS (SELECT doc_id, MAX(w) AS w, MAX(h) AS h,
        |  SUM(CASE WHEN s * (w * h) > g * (bw * bh)
        |    THEN (1::HUGEINT << (8 * by + bx)) ELSE 0::HUGEINT END) AS s
        |  FROM cells GROUP BY doc_id)
        |SELECT doc_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h,
        |CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |  THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS ahash
        |FROM hs ORDER BY doc_id""".stripMargin,

    "ev15_assoc_rules" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |singles AS (SELECT event_type, COUNT(*) AS n_single FROM ut GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT user_id) AS nn FROM ut),
        |pairs AS (SELECT a.event_type AS ante, b.event_type AS cons, COUNT(*) AS n_ab
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.ante, p.cons, p.n_ab,
        |  round(CAST(p.n_ab AS DOUBLE) / sa.n_single, 6) AS conf,
        |  round(CAST(p.n_ab * n.nn AS DOUBLE) / (sa.n_single * sb.n_single), 6) AS lift
        |FROM pairs p
        |JOIN singles sa ON p.ante = sa.event_type
        |JOIN singles sb ON p.cons = sb.event_type
        |CROSS JOIN n
        |ORDER BY ante, cons""".stripMargin,

    "q73_gaps_islands" ->
      """WITH hrs AS (SELECT DISTINCT user_id,
        |  CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr FROM events),
        |isl AS (SELECT user_id, hr,
        |  hr - row_number() OVER (PARTITION BY user_id ORDER BY hr) AS grp FROM hrs),
        |runs AS (SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_islands, MAX(len) AS longest,
        |CAST(SUM(len) AS BIGINT) AS active_hours
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the li CTE mirrors coPurchaseEdges' basketCap=256 (first 256 parts
    // per order by part id): inert on TPC-H-shaped baskets (≤7 parts),
    // but a future fixture with a mega-basket then truncates IDENTICALLY
    // in both engines instead of silently diverging (ADVICE r7)
    "q74_triangle_count" ->
      """WITH li AS (SELECT ok, p FROM (
        |  SELECT ok, p, row_number() OVER (PARTITION BY ok ORDER BY p) AS bn
        |  FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem))
        |  WHERE bn <= 256),
        |e AS (SELECT u, v FROM (SELECT a.p AS u, b.p AS v, COUNT(*) AS s
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2)
        |  WHERE s >= 2),
        |nodes AS (SELECT CAST(COUNT(DISTINCT n) AS BIGINT) AS n_nodes
        |  FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)),
        |ne AS (SELECT COUNT(*) AS n_edges FROM e),
        |tri AS (SELECT COUNT(*) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT n_nodes, n_edges, n_triangles FROM nodes, ne, tri""".stripMargin,

    "st12_transform_with_state" ->
      """SELECT user_id, 2 * COUNT(*) AS n_events,
        |CAST(2 * SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "st13_mapstate_counts" ->
      """SELECT user_id, event_type, 2 * COUNT(*) AS n_events
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    "q75_group_by_all" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st
        |FROM orders GROUP BY ALL ORDER BY 1, 2""".stripMargin,

    "q76_limit_offset" ->
      """SELECT o_orderkey, o_orderstatus,
        |CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin,

    "d38_heaps_law" ->
      """WITH t AS (SELECT source,
        |  unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT source, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2)
        |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens, COUNT(*) AS vocab,
        |CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |round(CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS ttr
        |FROM tf GROUP BY source ORDER BY source""".stripMargin,

    "d39_byte_premium" ->
      """WITH d AS (SELECT lang, text ||
        |  CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN ' caf' || chr(233)
        |    WHEN 1 THEN ' cafe' || chr(769)
        |    WHEN 2 THEN ' u' || chr(776) || 'ber'
        |    ELSE '' END AS t FROM documents)
        |SELECT lang, CAST(SUM(strlen(t)) AS BIGINT) AS n_bytes,
        |CAST(SUM(length(t)) AS BIGINT) AS n_chars,
        |round(CAST(SUM(strlen(t)) AS DOUBLE) / SUM(length(t)), 6) AS premium
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "d40_prefix_join" -> duckPrefixJoinSql,

    // d40's oracle VERBATIM: the incremental prefix-filter index must
    // accumulate the identical exact pair list (witnesses included)
    // across its two ingests, despite freezing element order at batch 1
    "d59_incremental_prefix_join" -> duckPrefixJoinSql,

    // the same exact witnessed oracle once more: prefix shards merged
    // under the adopter's frozen order must union to the identical
    // pair list. (A half- and quarter-corpus variant measured within 10%
    // of the full gate — the cost is the pipeline's fixed stage count,
    // not the corpus — so the gate keeps full coverage.)
    "d67_prefix_index_merge" -> duckPrefixJoinSql,
    "d75_nway_prefix_merge" -> duckPrefixJoinSql,

    // d59's witnessed exact-Jaccard oracle VERBATIM: the streamed,
    // restart-replayed prefix index must accumulate the identical pairs
    "st25_stream_prefix_restart" -> duckPrefixJoinSql,

    "d60_temperature_mixture" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_str FROM documents GROUP BY 1),
        |m AS (SELECT MIN(n_str) AS n_min FROM c),
        |d AS (SELECT d.lang,
        |  (('0x' || substr(md5('temp1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000) AS h,
        |  c.n_str, m.n_min
        |  FROM documents d JOIN c USING(lang) CROSS JOIN m)
        |SELECT lang, COUNT(*) AS n_total,
        |  COUNT(CASE WHEN h * h * n_str < 100000000 * n_min THEN 1 END) AS n_kept
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "d61_source_budget" ->
      """WITH d AS (SELECT source, doc_id, n_chars,
        |  ('0x' || substr(md5('bud1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM documents),
        |c AS (SELECT source, n_chars,
        |  SUM(n_chars) OVER (PARTITION BY source ORDER BY h, doc_id) AS cum FROM d)
        |SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS chars_kept
        |FROM c WHERE cum <= 5000 GROUP BY source ORDER BY source""".stripMargin,

    // d9's recursive-CTE clusters + d7's quality formula: the cluster
    // representative is the (max quality, min doc_id) member
    "d62_cluster_canonical" ->
      s"""WITH RECURSIVE corpus AS ($duckMutantCorpus),
         |tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks FROM corpus),
         |sh AS (SELECT doc_id, $duckShingles AS sh FROM tok),
         |prs AS (SELECT l.doc_id AS a, r.doc_id AS b FROM sh l, sh r WHERE l.doc_id < r.doc_id
         |  AND CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
         |      CAST(len(list_distinct(list_concat(l.sh, r.sh))) AS DOUBLE) >= 0.8),
         |edges AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a WHERE e.b != r.src),
         |cl AS (SELECT src AS doc, LEAST(src, MIN(dst)) AS cluster FROM reach GROUP BY src),
         |base AS (SELECT doc_id, $duckQualitySignals FROM corpus),
         |qq AS (SELECT doc_id AS doc, $duckQualityExpr AS q FROM base),
         |j AS (SELECT cl.cluster, cl.doc, qq.q,
         |  ROW_NUMBER() OVER (PARTITION BY cl.cluster ORDER BY qq.q DESC, cl.doc) AS rn,
         |  COUNT(*) OVER (PARTITION BY cl.cluster) AS n_members
         |  FROM cl JOIN qq USING(doc))
         |SELECT cluster, doc AS rep_doc, q AS rep_q, n_members
         |FROM j WHERE rn = 1 ORDER BY cluster""".stripMargin,

    "q77_winsorize" ->
      """WITH e AS (SELECT o_orderpriority,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
        |th AS (SELECT o_orderpriority,
        |  CAST(round(quantile_cont(c, 0.05)) AS BIGINT) AS lo,
        |  CAST(round(quantile_cont(c, 0.95)) AS BIGINT) AS hi
        |  FROM e GROUP BY 1)
        |SELECT e.o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(GREATEST(lo, LEAST(hi, c))) AS BIGINT) AS sum_cents,
        |round(CAST(SUM(GREATEST(lo, LEAST(hi, c))) AS DOUBLE) / COUNT(*), 6) AS wmean
        |FROM e JOIN th USING (o_orderpriority)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q78_running_distinct" ->
      """WITH f AS (SELECT event_id, user_id, ts,
        |  CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
        |  FROM events)
        |SELECT event_id, user_id,
        |CAST(SUM(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_distinct_types
        |FROM f ORDER BY event_id""".stripMargin,

    "d41_sparse_cosine" ->
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tk
        |  FROM documents),
        |tf AS (SELECT doc_id, tk, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT tk, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM documents),
        |wts AS (SELECT tf.doc_id, tf.tk,
        |  tf.tf * CAST(round((ln(CAST(n.nn + 1 AS DOUBLE) / (dfq.df + 1)) + 1) * 1000000) AS BIGINT) AS w
        |  FROM tf JOIN dfq USING (tk) CROSS JOIN n),
        |nrm AS (SELECT doc_id, SUM(w * w) AS nrm2 FROM wts GROUP BY 1),
        |dots AS (SELECT a.doc_id AS ia, b.doc_id AS ib, SUM(a.w * b.w) AS dot
        |  FROM wts a JOIN wts b ON a.tk = b.tk AND a.doc_id < b.doc_id
        |  WHERE a.doc_id < 50 GROUP BY 1, 2),
        |sc AS (SELECT ia, ib, CAST(dot AS BIGINT) AS dot,
        |  round(CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE))), 6) AS cos
        |  FROM dots JOIN nrm na ON ia = na.doc_id JOIN nrm nb ON ib = nb.doc_id)
        |SELECT ia, ib, dot, cos FROM sc WHERE cos >= 0.2 ORDER BY ia, ib""".stripMargin,

    "q79_rolling_median" ->
      """WITH e AS (SELECT event_id, user_id, ts,
        |  CAST(round(value * 100) AS BIGINT) AS c FROM events)
        |SELECT event_id, user_id,
        |round(quantile_cont(c, 0.5) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 4) AS med20
        |FROM e ORDER BY event_id""".stripMargin,

    "q80_rank_ratios" ->
      """SELECT o_orderkey, o_orderstatus,
        |round(percent_rank() OVER w, 6) AS pr,
        |round(cume_dist() OVER w, 6) AS cd,
        |CAST(ntile(7) OVER w AS INT) AS bucket
        |FROM orders WHERE o_orderkey <= 2000
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q81_bit_aggs" ->
      """SELECT o_orderstatus,
        |CAST(bit_and(o_orderkey) AS BIGINT) AS band,
        |CAST(bit_or(o_orderkey) AS BIGINT) AS bor,
        |CAST(bit_xor(o_orderkey) AS BIGINT) AS bxor,
        |bool_and(o_totalprice > 0) AS all_pos,
        |bool_or(o_orderkey % 1000 = 0) AS any_k
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q82_recursive_cte" ->
      """WITH RECURSIVE walk AS (
        |  SELECT p_partkey, p_partkey AS root, 0 AS depth FROM part
        |  WHERE p_partkey < 10
        |  UNION ALL
        |  SELECT c.p_partkey, w.root, w.depth + 1
        |  FROM part c JOIN walk w ON c.p_partkey // 10 = w.p_partkey
        |  WHERE c.p_partkey >= 10)
        |SELECT root, COUNT(*) AS n_parts, CAST(MAX(depth) AS INT) AS max_depth,
        |CAST(SUM(CAST(round(p.p_retailprice * 100) AS BIGINT)) AS BIGINT) AS subtree_cents
        |FROM walk JOIN part p USING (p_partkey)
        |GROUP BY root ORDER BY root""".stripMargin,

    "q83_union_by_name" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(NULL AS VARCHAR) AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL BY NAME
        |  SELECT o_orderstatus, o_orderkey,
        |    CAST(NULL AS BIGINT) AS cents, o_orderpriority
        |  FROM orders WHERE o_orderkey % 3 = 1)
        |ORDER BY o_orderkey""".stripMargin,

    "ev16_pattern_match" ->
      """WITH e AS (SELECT event_id, user_id, ts, event_type,
        |  last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
        |    OVER w AS lv_ts,
        |  last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |    OVER w AS lv_id
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |c AS (SELECT event_id, user_id, ts, event_type,
        |  last_value(CASE WHEN event_type = 'click' AND lv_ts IS NOT NULL
        |    AND epoch_us(ts) - epoch_us(lv_ts) <= 86400000000 THEN ts END IGNORE NULLS)
        |    OVER w AS qc_ts,
        |  last_value(CASE WHEN event_type = 'click' AND lv_ts IS NOT NULL
        |    AND epoch_us(ts) - epoch_us(lv_ts) <= 86400000000 THEN event_id END IGNORE NULLS)
        |    OVER w AS qc_id,
        |  last_value(CASE WHEN event_type = 'click' AND lv_ts IS NOT NULL
        |    AND epoch_us(ts) - epoch_us(lv_ts) <= 86400000000 THEN lv_id END IGNORE NULLS)
        |    OVER w AS qc_view
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, qc_view AS view_id, qc_id AS click_id,
        |  event_id AS purchase_id
        |FROM c WHERE event_type = 'purchase' AND qc_ts IS NOT NULL
        |  AND epoch_us(ts) - epoch_us(qc_ts) <= 86400000000
        |ORDER BY purchase_id""".stripMargin,

    "ev17_ewma" ->
      """WITH e AS (SELECT event_id, user_id, ts,
        |  CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |l AS (SELECT event_id, user_id,
        |  c AS l0,
        |  lag(c, 1) OVER w AS l1, lag(c, 2) OVER w AS l2,
        |  lag(c, 3) OVER w AS l3, lag(c, 4) OVER w AS l4,
        |  lag(c, 5) OVER w AS l5, lag(c, 6) OVER w AS l6,
        |  lag(c, 7) OVER w AS l7
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id, round(CAST(
        |  COALESCE(l0, 0) * 128 + COALESCE(l1, 0) * 64 + COALESCE(l2, 0) * 32
        |  + COALESCE(l3, 0) * 16 + COALESCE(l4, 0) * 8 + COALESCE(l5, 0) * 4
        |  + COALESCE(l6, 0) * 2 + COALESCE(l7, 0) AS DOUBLE) / (
        |  CASE WHEN l0 IS NOT NULL THEN 128 ELSE 0 END
        |  + CASE WHEN l1 IS NOT NULL THEN 64 ELSE 0 END
        |  + CASE WHEN l2 IS NOT NULL THEN 32 ELSE 0 END
        |  + CASE WHEN l3 IS NOT NULL THEN 16 ELSE 0 END
        |  + CASE WHEN l4 IS NOT NULL THEN 8 ELSE 0 END
        |  + CASE WHEN l5 IS NOT NULL THEN 4 ELSE 0 END
        |  + CASE WHEN l6 IS NOT NULL THEN 2 ELSE 0 END
        |  + CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END), 6) AS ewma8
        |FROM l ORDER BY event_id""".stripMargin,

    "d43_kmv_sketch" ->
      """WITH h AS (SELECT DISTINCT source,
        |  ('0x' || substr(md5(text), 1, 15))::BIGINT AS h FROM documents),
        |r AS (SELECT source, h,
        |  row_number() OVER (PARTITION BY source ORDER BY h) AS r FROM h),
        |sk AS (SELECT source, h, r FROM r WHERE r <= 64),
        |m0 AS (SELECT DISTINCT h FROM sk),
        |m AS (SELECT '__all__' AS source, h,
        |  row_number() OVER (ORDER BY h) AS r FROM m0),
        |allsk AS (SELECT source, h, r FROM sk
        |  UNION ALL SELECT source, h, r FROM m WHERE r <= 64)
        |SELECT source, COUNT(*) AS k_used, CAST(MAX(h) AS BIGINT) AS kth_hash,
        |CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
        |  ELSE round(63.0 * 1152921504606846976.0 / CAST(MAX(h) AS DOUBLE), 4)
        |END AS est
        |FROM allsk GROUP BY source ORDER BY source""".stripMargin,

    "st15_stream_versioned" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |CAST(2 AS INT) AS n_versions
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "m12_gif_delays" ->
      """WITH f AS (SELECT doc_id,
        |  unnest(range(0, doc_id % 4 + 1)) AS k
        |  FROM documents WHERE doc_id < 600)
        |SELECT doc_id, CAST(k AS INT) AS frame_idx,
        |CAST((doc_id + k) % 50 + 1 AS INT) AS delay_cs,
        |CAST(doc_id % 64 + k + 1 AS INT) AS width,
        |CAST(doc_id % 32 + k + 1 AS INT) AS height
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "d46_bigram_perplexity" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
        |big AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM t, unnest(range(1, len(toks))) AS u(i)),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big
        |  WHERE doc_id % 10 < 8 GROUP BY 1, 2),
        |c1 AS (SELECT tk AS w1, COUNT(*) AS c1 FROM tok
        |  WHERE doc_id % 10 < 8 GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT tk) AS v FROM tok WHERE doc_id % 10 < 8),
        |sc AS (SELECT b.doc_id,
        |  CAST(round(ln((COALESCE(c12.c12, 0) + 1)
        |    / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE)) * 1000000) AS BIGINT) AS lp
        |  FROM big b LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
        |  LEFT JOIN c1 ON b.w1 = c1.w1 CROSS JOIN v
        |  WHERE b.doc_id % 10 >= 8)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |CAST(SUM(lp) AS BIGINT) AS lp_sum,
        |round(CAST(SUM(lp) AS DOUBLE) / COUNT(*) / 1000000, 6) AS avg_logp
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d47_semdedup" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |mut AS (SELECT vec_id + 100000 AS vec_id,
        |  list_concat([v[1] + 0.01], v[2:]) AS v FROM base),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
        |c AS (SELECT vec_id AS cid, v AS cvec FROM base WHERE vec_id < 8),
        |s AS (SELECT e.vec_id, c.cid,
        |  round(list_cosine_similarity(e.v, c.cvec), 6) AS sim FROM corpus e, c),
        |a AS (SELECT vec_id, cid, sim FROM (SELECT vec_id, cid, sim,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s)
        |  WHERE rn = 1),
        |rk AS (SELECT a.vec_id, a.cid, e.v,
        |  (row_number() OVER (PARTITION BY a.cid ORDER BY a.sim DESC, a.vec_id) - 1) // 128
        |    AS chunk
        |  FROM a JOIN corpus e USING (vec_id)),
        |drp AS (SELECT DISTINCT r.vec_id FROM rk l JOIN rk r
        |  ON l.cid = r.cid AND l.vec_id < r.vec_id AND abs(l.chunk - r.chunk) <= 1
        |  WHERE round(list_cosine_similarity(l.v, r.v), 6) >= 0.99)
        |SELECT rk.vec_id, rk.cid, (drp.vec_id IS NULL) AS kept
        |FROM rk LEFT JOIN drp ON rk.vec_id = drp.vec_id
        |ORDER BY rk.vec_id""".stripMargin,

    "d48_rag_chunks" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |k AS (SELECT doc_id, toks, n,
        |  unnest(range(0, (n - 1) // 48 + 1)) AS k FROM n)
        |SELECT doc_id, CAST(k AS INT) AS chunk_idx,
        |CAST(least(64, n - k * 48) AS INT) AS n_tokens,
        |('0x' || substr(md5(
        |  array_to_string(list_slice(toks, k * 48 + 1, k * 48 + 64), ' ')),
        |  1, 15))::BIGINT AS fp
        |FROM k ORDER BY doc_id, chunk_idx""".stripMargin,

    "d49_dsir_weights" ->
      s"""WITH tok AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
         |  FROM documents),
         |sh AS (SELECT doc_id, $duckShingles2 AS g FROM tok),
         |e AS (SELECT doc_id,
         |  ('0x' || substr(md5(unnest(g)), 1, 15))::BIGINT % 1024 AS b FROM sh),
         |t AS (SELECT * FROM e WHERE doc_id % 10 < 2),
         |r AS (SELECT * FROM e WHERE doc_id % 10 >= 2),
         |ct AS (SELECT b, COUNT(*) AS ct FROM t GROUP BY 1),
         |cr AS (SELECT b, COUNT(*) AS cr FROM r GROUP BY 1),
         |nt AS (SELECT COUNT(*) AS nt FROM t),
         |nr AS (SELECT COUNT(*) AS nr FROM r),
         |lam AS (SELECT COALESCE(ct.b, cr.b) AS b,
         |  CAST(round((ln((COALESCE(ct.ct, 0) + 1) / CAST(nt.nt + 1024 AS DOUBLE))
         |    - ln((COALESCE(cr.cr, 0) + 1) / CAST(nr.nr + 1024 AS DOUBLE)))
         |    * 1000000) AS BIGINT) AS lam
         |  FROM ct FULL OUTER JOIN cr ON ct.b = cr.b, nt, nr)
         |SELECT r.doc_id, COUNT(*) AS n_grams,
         |CAST(SUM(lam) AS BIGINT) AS w_sum,
         |round(CAST(SUM(lam) AS DOUBLE) / COUNT(*) / 1000000, 6) AS avg_w
         |FROM r JOIN lam USING (b) GROUP BY r.doc_id ORDER BY r.doc_id""".stripMargin,

    "e16_maxsim" ->
      """WITH q AS (SELECT vec_id // 4 AS qid, vec_id % 4 AS qtok,
        |  CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 8),
        |d AS (SELECT vec_id // 4 AS did, CAST(embedding AS DOUBLE[]) AS dv
        |  FROM embeddings),
        |s AS (SELECT qid, qtok, did,
        |  CAST(round(round(list_cosine_similarity(qv, dv), 6) * 1000000) AS BIGINT) AS si
        |  FROM q, d),
        |m AS (SELECT qid, qtok, did, MAX(si) AS mx FROM s GROUP BY 1, 2, 3),
        |sc AS (SELECT qid, did, CAST(SUM(mx) AS BIGINT) AS score FROM m GROUP BY 1, 2),
        |r AS (SELECT qid, did, score,
        |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, did) AS rnk FROM sc)
        |SELECT qid, CAST(rnk AS INT) AS rnk, did, score FROM r WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin,

    "e17_matryoshka" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
        |  CAST(embedding[1:16] AS DOUBLE[]) AS qp FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
        |  CAST(embedding[1:16] AS DOUBLE[]) AS cp FROM embeddings),
        |ps AS (SELECT q.query_id, c.neighbor_id,
        |  CAST(round(round(list_cosine_similarity(q.qp, c.cp), 6) * 1000000) AS BIGINT) AS ps
        |  FROM q, c WHERE q.query_id != c.neighbor_id),
        |sl AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY ps DESC, neighbor_id) AS prnk
        |  FROM ps) WHERE prnk <= 32),
        |fs AS (SELECT sl.query_id, sl.neighbor_id,
        |  CAST(round(round(list_cosine_similarity(q.qv, c.cv), 6) * 1000000) AS BIGINT) AS fs
        |  FROM sl JOIN q USING (query_id) JOIN c USING (neighbor_id)),
        |r AS (SELECT query_id, neighbor_id, fs,
        |  row_number() OVER (PARTITION BY query_id ORDER BY fs DESC, neighbor_id) AS rnk
        |  FROM fs)
        |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, fs FROM r
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    "d50_ngram_novelty" ->
      s"""WITH corpus AS ($duckMutantCorpus),
         |tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
         |  t -> t <> '') AS toks FROM corpus),
         |sh AS (SELECT doc_id, $duckShingles5 AS sh FROM tok),
         |h AS (SELECT doc_id,
         |  ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS x FROM sh),
         |f AS (SELECT x, MIN(doc_id) AS first_doc FROM h GROUP BY 1)
         |SELECT h.doc_id, COUNT(*) AS n_grams,
         |CAST(SUM(CASE WHEN h.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_novel,
         |round(CAST(SUM(CASE WHEN h.doc_id = f.first_doc THEN 1 ELSE 0 END) AS DOUBLE)
         |  / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
         |FROM h JOIN f USING (x) GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin,

    "q93_map_hof" ->
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS n FROM events
        |  GROUP BY 1, 2)
        |SELECT user_id, CAST(COUNT(*) AS INT) AS n_types,
        |CAST(COUNT(*) FILTER (WHERE n >= 3) AS INT) AS n_heavy,
        |CAST(SUM(n * n) AS BIGINT) AS sum_sq,
        |COALESCE(string_agg(event_type, ',' ORDER BY event_type)
        |  FILTER (WHERE n >= 3), '') AS heavy_keys
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,

    "m13_mp3_frames" ->
      """WITH f AS (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS k
        |  FROM documents WHERE doc_id < 600),
        |x AS (SELECT doc_id, k,
        |  list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
        |    CAST((doc_id + k) % 14 + 1 AS INT)) AS kbps,
        |  list_extract([44100,48000,32000], CAST(doc_id % 3 + 1 AS INT)) AS rate,
        |  CAST((doc_id + k) % 2 AS INT) AS pad FROM f)
        |SELECT doc_id, CAST(k AS INT) AS frame_idx,
        |CAST(kbps AS INT) AS bitrate_kbps, CAST(rate AS INT) AS sample_rate,
        |CAST(144 * (kbps * 1000) // rate + pad AS INT) AS frame_len
        |FROM x ORDER BY doc_id, frame_idx""".stripMargin,

    "m14_exif_orientation" ->
      """SELECT doc_id, CAST(doc_id % 200 + 1 AS INT) AS width,
        |CAST(doc_id % 100 + 1 AS INT) AS height,
        |CAST(doc_id % 8 + 1 AS INT) AS orientation,
        |(doc_id % 2 = 0) AS tiff_big_endian
        |FROM documents WHERE doc_id < 600 ORDER BY doc_id""".stripMargin,

    "q92_connected_components" ->
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT u, v FROM (SELECT a.p AS u, b.p AS v, COUNT(*) AS s
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2)
        |  WHERE s >= 2),
        |e2 AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
        |reach AS (SELECT u AS node, v AS r FROM e2
        |  UNION SELECT reach.node, e2.v AS r FROM reach JOIN e2 ON reach.r = e2.u),
        |lbl AS (SELECT node, LEAST(node, MIN(r)) AS cluster FROM reach GROUP BY node)
        |SELECT CAST(cluster AS BIGINT) AS cluster, COUNT(*) AS n_nodes
        |FROM lbl GROUP BY cluster ORDER BY cluster""".stripMargin,

    "e15_binary_quant" ->
      """WITH coded AS (SELECT vec_id,
        |  CAST(list_sum(list_transform(range(0, 32),
        |    i -> CASE WHEN embedding[i + 1] > 0
        |      THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS lo,
        |  CAST(list_sum(list_transform(range(0, 32),
        |    i -> CASE WHEN embedding[i + 33] > 0
        |      THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS hi
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi
        |  FROM coded WHERE vec_id < 8),
        |s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |  CAST(bit_count(xor(qlo, c.lo)) + bit_count(xor(qhi, c.hi)) AS INT) AS hamming
        |  FROM q, coded c WHERE c.vec_id != q.query_id),
        |r AS (SELECT query_id, neighbor_id, hamming,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY hamming, neighbor_id) AS rnk FROM s)
        |SELECT query_id, neighbor_id, hamming, CAST(rnk AS INT) AS rnk
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    "q96_dsv2_agg_pushdown" ->
      """SELECT CAST(4000000000 AS BIGINT) AS n, CAST(0 AS BIGINT) AS mn,
        |CAST(3999999999 AS BIGINT) AS mx,
        |CAST(CAST(3999999999 AS HUGEINT) * 4000000000 // 2 AS BIGINT) AS s""".stripMargin,

    "st18_stream_dsv2_source" ->
      """WITH t AS (SELECT CAST(i AS BIGINT) AS id, CAST(i % 32 AS INT) AS grp,
        |  (CAST(i AS BIGINT) * 2654435761) % 1000003 AS v
        |  FROM range(0, 60000) AS r(i))
        |SELECT grp, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv
        |FROM t GROUP BY grp ORDER BY grp""".stripMargin,

    "st19_stream_rowlog_sink" ->
      """WITH t AS (SELECT CAST(i AS BIGINT) AS id, CAST(i % 32 AS INT) AS grp,
        |  (CAST(i AS BIGINT) * 2654435761) % 1000003 AS v
        |  FROM range(0, 90000) AS r(i))
        |SELECT grp, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv
        |FROM t GROUP BY grp ORDER BY grp""".stripMargin,

    "e19_filtered_knn" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |  CAST(round(round(list_cosine_similarity(q.qv,
        |    CAST(e.embedding AS DOUBLE[])), 6) * 1000000) AS BIGINT) AS si
        |  FROM q, embeddings e
        |  WHERE e.vec_id % 3 = 0 AND e.vec_id != q.query_id),
        |r AS (SELECT query_id, neighbor_id, si,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY si DESC, neighbor_id) AS rnk FROM s)
        |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, si FROM r
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    "d53_lang_divergence" ->
      s"""WITH pl AS (SELECT source, $duckPredLangCase AS lang
         |  FROM (SELECT source, text, $duckLangBest AS m FROM documents)),
         |lc AS (SELECT source, lang, COUNT(*) AS c FROM pl GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM lc GROUP BY 1),
         |sp AS (SELECT ta.source AS sa, ta.n AS na, tb.source AS sb, tb.n AS nb
         |  FROM tot ta JOIN tot tb ON ta.source < tb.source),
         |grid AS (SELECT sa, na, sb, nb, l.lang
         |  FROM sp, (SELECT DISTINCT lang FROM lc) l),
         |j AS (SELECT g.sa, g.sb, g.lang, COALESCE(a.c, 0) AS ca,
         |  COALESCE(b.c, 0) AS cb, g.na, g.nb
         |  FROM grid g LEFT JOIN lc a ON a.source = g.sa AND a.lang = g.lang
         |  LEFT JOIN lc b ON b.source = g.sb AND b.lang = g.lang
         |  WHERE COALESCE(a.c, 0) + COALESCE(b.c, 0) > 0),
         |t AS (SELECT sa, sb, CAST(round((
         |  CASE WHEN ca > 0 THEN 0.5 * (CAST(ca AS DOUBLE) / na)
         |    * ln((CAST(ca AS DOUBLE) / na)
         |      / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2))
         |  ELSE 0.0 END
         |+ CASE WHEN cb > 0 THEN 0.5 * (CAST(cb AS DOUBLE) / nb)
         |    * ln((CAST(cb AS DOUBLE) / nb)
         |      / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2))
         |  ELSE 0.0 END
         |) * 1000000000) AS BIGINT) AS term FROM j)
         |SELECT sa, sb, COUNT(*) AS n_langs, CAST(SUM(term) AS BIGINT) AS jsd_q,
         |round(CAST(SUM(term) AS DOUBLE) / 1000000000, 6) AS jsd
         |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q95_dsv2_source" ->
      """WITH t AS (SELECT CAST(i AS BIGINT) AS id, CAST(i % 32 AS INT) AS grp,
        |  (CAST(i AS BIGINT) * 2654435761) % 1000003 AS v
        |  FROM range(25000, 75000) AS r(i))
        |SELECT grp, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv
        |FROM t GROUP BY grp ORDER BY grp""".stripMargin,

    "q97_dsv2_limit_pushdown" ->
      """SELECT CAST(i AS BIGINT) AS id, CAST(i % 32 AS INT) AS grp,
        |  (CAST(i AS BIGINT) * 2654435761) % 1000003 AS v
        |FROM range(1000000025, 1000000057) AS r(i)""".stripMargin,

    "q98_dsv2_runtime_filter" ->
      """SELECT CAST(c_custkey % 32 AS INT) AS grp, COUNT(*) AS n,
        |  CAST(SUM((CAST(c_custkey AS BIGINT) * 2654435761) % 1000003) AS BIGINT) AS sv
        |FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey >= 0 AND c_custkey < 10000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q99_dsv2_write" ->
      """SELECT (SELECT COUNT(*) FROM orders) AS n_v1,
        |  CAST((SELECT SUM(o_orderkey) FROM orders) AS BIGINT) AS s_v1,
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) AS n_v2,
        |  CAST((SELECT SUM(o_orderkey) FROM orders WHERE o_orderkey % 2 = 0) AS BIGINT) AS s_v2""".stripMargin,

    "q100_rowlog_pushdown" ->
      """SELECT COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sk,
        |MAX(o_custkey) AS mc FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderkey > 1000
        |AND o_custkey % 7 = 0""".stripMargin,

    "d52_contamination_frac" ->
      s"""WITH corpus AS ($duckMutantCorpus),
         |tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
         |  t -> t <> '') AS toks FROM corpus),
         |sh AS (SELECT doc_id, $duckShingles5 AS sh FROM tok),
         |h AS (SELECT doc_id,
         |  ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS x FROM sh),
         |test AS (SELECT DISTINCT x FROM h WHERE doc_id < 50)
         |SELECT h.doc_id, COUNT(*) AS n_grams,
         |CAST(SUM(CASE WHEN test.x IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_contaminated,
         |round(CAST(SUM(CASE WHEN test.x IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |  / CAST(COUNT(*) AS DOUBLE), 6) AS contam_frac
         |FROM h LEFT JOIN test ON h.x = test.x
         |WHERE h.doc_id >= 50 GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin,

    "q94_twap" ->
      """WITH seg AS (SELECT event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents, ts,
        |  lead(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nts
        |  FROM events),
        |d AS (SELECT event_type,
        |  cents * date_diff('second', ts, nts) AS vw,
        |  date_diff('second', ts, nts) AS dt
        |  FROM seg WHERE nts IS NOT NULL)
        |SELECT event_type, CAST(SUM(vw) AS BIGINT) AS wsum,
        |CAST(SUM(dt) AS BIGINT) AS tsum, COUNT(*) AS n_segments,
        |round(CAST(SUM(vw) AS DOUBLE) / CAST(SUM(dt) AS DOUBLE) / 100.0, 6) AS twap
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,

    "m15_bmp_header" ->
      """SELECT doc_id, CAST(doc_id % 300 + 1 AS INT) AS width,
        |CAST(doc_id % 150 + 1 AS INT) AS height,
        |(doc_id % 2 = 1) AS top_down,
        |CAST(list_extract([1, 4, 8, 16, 24, 32], CAST(doc_id % 6 + 1 AS INT)) AS INT)
        |  AS bpp
        |FROM documents WHERE doc_id < 600 ORDER BY doc_id""".stripMargin,

    "e18_rrf_fusion" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 8),
        |sa AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |  CAST(round(round(list_cosine_similarity(q.qv,
        |    CAST(e.embedding AS DOUBLE[])), 6) * 1000000) AS BIGINT) AS si
        |  FROM q, embeddings e WHERE e.vec_id != q.query_id),
        |ra AS (SELECT query_id, neighbor_id, rk AS ra FROM (SELECT query_id,
        |  neighbor_id, row_number() OVER (PARTITION BY query_id
        |    ORDER BY si DESC, neighbor_id) AS rk FROM sa) WHERE rk <= 20),
        |coded AS (SELECT vec_id,
        |  CAST(list_sum(list_transform(range(0, 32),
        |    i -> CASE WHEN embedding[i + 1] > 0
        |      THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS lo,
        |  CAST(list_sum(list_transform(range(0, 32),
        |    i -> CASE WHEN embedding[i + 33] > 0
        |      THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS hi
        |  FROM embeddings),
        |qb AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi
        |  FROM coded WHERE vec_id < 8),
        |sb AS (SELECT qb.query_id, c.vec_id AS neighbor_id,
        |  bit_count(xor(qlo, c.lo)) + bit_count(xor(qhi, c.hi)) AS hamming
        |  FROM qb, coded c WHERE c.vec_id != qb.query_id),
        |rb AS (SELECT query_id, neighbor_id, rk AS rb FROM (SELECT query_id,
        |  neighbor_id, row_number() OVER (PARTITION BY query_id
        |    ORDER BY hamming, neighbor_id) AS rk FROM sb) WHERE rk <= 20),
        |fused AS (SELECT COALESCE(ra.query_id, rb.query_id) AS query_id,
        |  COALESCE(ra.neighbor_id, rb.neighbor_id) AS neighbor_id,
        |  COALESCE(1000000000 // (60 + ra.ra), 0)
        |    + COALESCE(1000000000 // (60 + rb.rb), 0) AS rrf
        |  FROM ra FULL OUTER JOIN rb
        |  ON ra.query_id = rb.query_id AND ra.neighbor_id = rb.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, CAST(rrf AS BIGINT) AS rrf,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf DESC, neighbor_id) AS rnk FROM fused)
        |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, rrf FROM r
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    "d51_bpe_merge_step" ->
      """WITH tok AS (SELECT unnest(list_filter(
        |  string_split_regex(lower(text), '\s+'), t -> t <> '')) AS w
        |  FROM documents),
        |wf AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |pr AS (SELECT substr(w, CAST(i AS INT), 2) AS p, cnt FROM wf,
        |  unnest(range(1, length(w))) AS u(i) WHERE length(w) >= 2),
        |pc AS (SELECT p, CAST(SUM(cnt) AS BIGINT) AS pcnt FROM pr GROUP BY 1),
        |best AS (SELECT p AS best_pair, pcnt AS best_cnt FROM pc
        |  ORDER BY pcnt DESC, p LIMIT 1),
        |tot AS (SELECT COUNT(*) AS n_distinct_pairs,
        |  CAST(SUM(pcnt) AS BIGINT) AS total_cnt FROM pc)
        |SELECT best_pair, best_cnt, n_distinct_pairs, total_cnt
        |FROM best, tot""".stripMargin,

    "ev19_time_to_convert" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS vts FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT user_id, MIN(ts) AS pts FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |d AS (SELECT CAST(hour(vts) AS INT) AS cohort_hour,
        |  date_diff('second', vts, pts) AS delta_s
        |  FROM v JOIN p USING (user_id) WHERE pts > vts)
        |SELECT cohort_hour, COUNT(*) AS n_users,
        |round(quantile_cont(delta_s, 0.5), 6) AS p50_s,
        |round(quantile_cont(delta_s, 0.9), 6) AS p90_s
        |FROM d GROUP BY cohort_hour ORDER BY cohort_hour""".stripMargin,

    "q91_incremental_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "d45_feature_hashing" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tk
        |  FROM documents),
        |h AS (SELECT doc_id,
        |  ('0x' || substr(md5(tk), 1, 15))::BIGINT AS h FROM t),
        |s AS (SELECT doc_id, h % 64 AS b,
        |  CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn FROM h),
        |v AS (SELECT doc_id, b, SUM(sgn) AS v FROM s GROUP BY 1, 2)
        |SELECT doc_id, COUNT(*) AS nnz,
        |CAST(SUM(v * v) AS BIGINT) AS l2sq, CAST(SUM(v) AS BIGINT) AS vsum
        |FROM v WHERE v <> 0 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "m11_tiff_header" ->
      """SELECT doc_id,
        |CAST(doc_id % 300 + 1 AS INT) AS width,
        |CAST(doc_id % 150 + 1 AS INT) AS height,
        |doc_id % 2 = 0 AS big_endian
        |FROM documents WHERE doc_id < 600 ORDER BY doc_id""".stripMargin,

    "q90_pushdown_rewrite" ->
      """SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE instr(text, 'window') > 0
        |GROUP BY source ORDER BY source""".stripMargin,

    "ev18_error_streaks" ->
      """WITH e AS (SELECT event_id, user_id, ts, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |er AS (SELECT event_id, user_id, rn,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rne
        |  FROM e WHERE event_type = 'error'),
        |g AS (SELECT user_id, rn - rne AS grp, COUNT(*) AS streak_len,
        |  MIN(event_id) AS first_id, MAX(event_id) AS last_id
        |  FROM er GROUP BY 1, 2)
        |SELECT user_id, streak_len, first_id, last_id
        |FROM g WHERE streak_len >= 3 ORDER BY user_id, first_id""".stripMargin,

    "q89_quality_audit" ->
      """WITH t AS (SELECT COUNT(*) AS n,
        |  SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS c_null,
        |  SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
        |    OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS c_range,
        |  SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
        |    THEN 1 ELSE 0 END) AS c_acc,
        |  SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
        |    THEN 1 ELSE 0 END) AS c_re,
        |  COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS c_uni
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'accepted:o_orderstatus' AS "check",
        |    CAST(c_acc AS BIGINT) AS violations, n AS total, c_acc = 0 AS passed FROM t
        |  UNION ALL
        |  SELECT 'in_range:o_totalprice', CAST(c_range AS BIGINT), n, c_range = 0 FROM t
        |  UNION ALL
        |  SELECT 'matches:o_orderpriority', CAST(c_re AS BIGINT), n, c_re = 0 FROM t
        |  UNION ALL
        |  SELECT 'not_null:o_custkey', CAST(c_null AS BIGINT), n, c_null = 0 FROM t
        |  UNION ALL
        |  SELECT 'unique:o_orderkey', CAST(c_uni AS BIGINT), n, c_uni = 0 FROM t)
        |ORDER BY "check"""".stripMargin,

    "d44_jaro_winkler" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 150
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    CASE WHEN instr(text, ' ') > 0 THEN substr(text, instr(text, ' ') + 1)
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id < 150
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id,
        |    CASE WHEN instr(text, ' ') > 0
        |      AND instr(substring(text, instr(text, ' ') + 1), ' ') > 0 THEN
        |      concat(
        |        substring(text, instr(text, ' ') + 1,
        |          instr(substring(text, instr(text, ' ') + 1), ' ') - 1),
        |        ' ',
        |        substring(text, 1, instr(text, ' ') - 1),
        |        substring(text, instr(text, ' ')
        |          + instr(substring(text, instr(text, ' ') + 1), ' ')))
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id < 150),
        |t AS (SELECT doc_id, substr(text, 1, 40) AS t FROM corpus)
        |SELECT l.doc_id AS a, r.doc_id AS b,
        |round(jaro_winkler_similarity(l.t, r.t), 6) AS jw
        |FROM t l, t r WHERE l.doc_id < r.doc_id
        |AND round(jaro_winkler_similarity(l.t, r.t), 6) >= 0.9
        |ORDER BY a, b""".stripMargin,

    // li mirrors the engine's basketCap=256 — see q74_triangle_count
    "q88_pagerank" ->
      """WITH li AS (SELECT ok, p FROM (
        |  SELECT ok, p, row_number() OVER (PARTITION BY ok ORDER BY p) AS bn
        |  FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem))
        |  WHERE bn <= 256),
        |e AS (SELECT a.p AS u, b.p AS v FROM li a JOIN li b
        |  ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |dir AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        |deg AS (SELECT u AS node, COUNT(*) AS d FROM dir GROUP BY 1),
        |r0 AS (SELECT node, d, CAST(1000000 AS BIGINT) AS r FROM deg),
        |c1 AS (SELECT dir.v AS node, SUM(r0.r // r0.d) AS s
        |  FROM dir JOIN r0 ON dir.u = r0.node GROUP BY 1),
        |r1 AS (SELECT deg.node, deg.d, 150000 + (85 * COALESCE(c1.s, 0)) // 100 AS r
        |  FROM deg LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT dir.v AS node, SUM(r1.r // r1.d) AS s
        |  FROM dir JOIN r1 ON dir.u = r1.node GROUP BY 1),
        |r2 AS (SELECT deg.node, deg.d, 150000 + (85 * COALESCE(c2.s, 0)) // 100 AS r
        |  FROM deg LEFT JOIN c2 USING (node)),
        |c3 AS (SELECT dir.v AS node, SUM(r2.r // r2.d) AS s
        |  FROM dir JOIN r2 ON dir.u = r2.node GROUP BY 1),
        |r3 AS (SELECT deg.node, deg.d, 150000 + (85 * COALESCE(c3.s, 0)) // 100 AS r
        |  FROM deg LEFT JOIN c3 USING (node))
        |SELECT node, CAST(r AS BIGINT) AS rank FROM r3 ORDER BY node""".stripMargin,

    "st16_stream_file_sink" ->
      """WITH t AS (SELECT max(ts) AS m FROM events),
        |d AS (SELECT ts, event_type, value FROM events
        |  UNION ALL SELECT ts, event_type, value FROM events)
        |SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM d, t
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= t.m - INTERVAL 30 MINUTE
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // li mirrors the engine's basketCap=256 — see q74_triangle_count
    "q87_bfs_distance" ->
      """WITH RECURSIVE
        |li AS (SELECT ok, p FROM (
        |  SELECT ok, p, row_number() OVER (PARTITION BY ok ORDER BY p) AS bn
        |  FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem))
        |  WHERE bn <= 256),
        |e AS (SELECT a.p AS u, b.p AS v FROM li a JOIN li b
        |  ON a.ok = b.ok AND a.p < b.p GROUP BY a.p, b.p HAVING COUNT(*) >= 2),
        |dir AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        |roots AS (SELECT DISTINCT u AS node FROM e ORDER BY node LIMIT 2),
        |walk AS (
        |  SELECT node, 0 AS d FROM roots
        |  UNION ALL
        |  SELECT DISTINCT dir.v AS node, w.d + 1 AS d
        |  FROM walk w JOIN dir ON dir.u = w.node WHERE w.d < 3)
        |SELECT node, CAST(MIN(d) AS INT) AS dist, COUNT(*) AS n_levels
        |FROM walk GROUP BY node ORDER BY node""".stripMargin,

    "q85_stratified_sample" ->
      """WITH h AS (SELECT o_orderkey, o_orderpriority,
        |  ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM orders),
        |r AS (SELECT o_orderkey, o_orderpriority,
        |  row_number() OVER (PARTITION BY o_orderpriority ORDER BY h, o_orderkey) AS rnk
        |  FROM h)
        |SELECT o_orderkey, o_orderpriority, CAST(rnk AS INT) AS rnk
        |FROM r WHERE rnk <= 20 ORDER BY o_orderpriority, rnk""".stripMargin,

    "q86_catalog_view" ->
      """WITH v AS (SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  date_trunc('month', o_orderdate) AS mon FROM orders)
        |SELECT o_orderstatus, mon, COUNT(*) AS n,
        |CAST(SUM(cents) AS BIGINT) AS cents
        |FROM v WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus, mon ORDER BY o_orderstatus, mon""".stripMargin,

    "e14_sim_threshold" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |  list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM q, embeddings e WHERE e.vec_id != q.query_id)
        |SELECT query_id, neighbor_id, round(sim, 6) AS cos6
        |FROM s WHERE sim >= 0.2 ORDER BY query_id, neighbor_id""".stripMargin,

    "q84_time_travel" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders WHERE o_orderkey % 2 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "st14_liststate_topk" ->
      """WITH d AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |  UNION ALL
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) FROM events),
        |r AS (SELECT user_id, cents,
        |  row_number() OVER (PARTITION BY user_id ORDER BY cents DESC) AS rnk
        |  FROM d)
        |SELECT user_id, CAST(rnk AS INT) AS rnk, cents FROM r WHERE rnk <= 3
        |ORDER BY user_id, rnk""".stripMargin,

    "d42_readability" ->
      """WITH s AS (SELECT doc_id,
        |  len(regexp_extract_all(text, '\S+')) AS words,
        |  GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS sentences,
        |  GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS syllables
        |  FROM documents)
        |SELECT doc_id, CAST(words AS INT) AS words,
        |CAST(sentences AS INT) AS sentences, CAST(syllables AS INT) AS syllables,
        |round(206.835 - 1.015 * CAST(words AS DOUBLE) / sentences
        |  - 84.6 * CAST(syllables AS DOUBLE) / words, 6) AS flesch,
        |CASE WHEN round(206.835 - 1.015 * CAST(words AS DOUBLE) / sentences
        |    - 84.6 * CAST(syllables AS DOUBLE) / words, 6) >= 60 THEN 'easy'
        |  WHEN round(206.835 - 1.015 * CAST(words AS DOUBLE) / sentences
        |    - 84.6 * CAST(syllables AS DOUBLE) / words, 6) >= 30 THEN 'medium'
        |  ELSE 'hard' END AS band
        |FROM s WHERE words > 0 ORDER BY doc_id""".stripMargin
  )
}
