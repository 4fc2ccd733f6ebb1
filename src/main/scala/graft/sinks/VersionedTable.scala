package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned snapshot table: every write lands as a NEW immutable version
  * directory (`v00000001`, `v00000002`, …), and readers pin any committed
  * version — the minimal time-travel contract a lakehouse table offers
  * (snapshot isolation, reproducible reads, instant rollback) without a
  * transaction-log dependency.
  *
  * Commit protocol: a writer stages into `_staging-<nonce>` and makes the
  * version visible with ONE directory rename to `v<v>`, verified by a
  * nonce marker (Hadoop rename can move a source INTO an existing
  * destination and still return true, so the rename result alone cannot
  * prove the commit). Readers list only `v*` directories, so a torn write
  * is never observable; a crashed writer leaves a `_staging-*` orphan that
  * a later write sweeps once it outlives the orphan TTL. Concurrent
  * writers race on the rename — the loser retries at the next version
  * number with the SAME staged data, so version history is linear without
  * any lock service.
  *
  * Scale notes: the version listing is ONE namenode/object-store `ls` of
  * the table root (versions are directories, not a manifest scan), and a
  * read plans exactly the files of its pinned version — no
  * list-then-filter over the whole history. Old versions are reclaimed by
  * `vacuum`, keeping the newest `keep` snapshots.
  */
object VersionedTable {

  /** `v<version>` for ordinary versions; `v<version>-c<upto>` for a
    * CHECKPOINT version, whose data is the union of every version ≤
    * `upto` (written by [[writeCheckpoint]]). Encoding the covered bound
    * in the directory NAME keeps version resolution at ONE root listing
    * — a side-channel marker file would cost a probe per version, or
    * worse, a root-level file whose loss after the rename silently
    * double-counts the checkpointed data on union reads.
    */
  private val VersionDir = "^v(\\d{8})(?:-c(\\d{8}))?$".r

  private def fs(spark: SparkSession, root: Path) =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed version numbers, ascending (one directory listing). */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    versionsOf(fs(spark, new Path(root)), new Path(root))

  private[graft] def dirName(v: Long): String = f"v$v%08d"
  private def checkpointDirName(v: Long, upTo: Long): String =
    f"v$v%08d-c$upTo%08d"

  /** (version, checkpoint-covered-upto) per committed version dir,
    * ascending by version — the one-listing resolution every reader
    * shares. `upto` is defined only for checkpoint versions.
    */
  private[graft] def entriesOf(f: org.apache.hadoop.fs.FileSystem,
      rootPath: Path): Seq[(Long, Option[Long])] = {
    if (!f.exists(rootPath)) return Seq.empty
    f.listStatus(rootPath).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case VersionDir(n, u) => Some((n.toLong, Option(u).map(_.toLong)))
          case _                => None
        }
    }.flatten.sortBy(_._1)
  }

  private[graft] def nameOf(e: (Long, Option[Long])): String = e match {
    case (v, Some(u)) => checkpointDirName(v, u)
    case (v, None)    => dirName(v)
  }

  /** Committed version numbers from an already-resolved FileSystem. */
  private[graft] def versionsOf(f: org.apache.hadoop.fs.FileSystem,
      rootPath: Path): Seq[Long] = entriesOf(f, rootPath).map(_._1)

  /** Sweep `_staging-*`/`_dropped-*` orphans older than the TTL — a
    * crashed orphan stops aging; a live concurrent writer commits long
    * before the TTL. Never touches a committed v*.
    */
  private[graft] def sweepOrphans(f: org.apache.hadoop.fs.FileSystem,
      rootPath: Path, orphanTtlMs: Long): Unit = {
    val cutoff = System.currentTimeMillis() - orphanTtlMs
    f.listStatus(rootPath).foreach { st =>
      val n = st.getPath.getName
      if ((n.startsWith("_staging-") || n.startsWith("_dropped-")) &&
          st.getModificationTime < cutoff)
        f.delete(st.getPath, true)
    }
  }

  /** The visibility half of the commit protocol, shared by the DataFrame
    * writer below and the DSv2 row-log BatchWrite: rename a fully-staged
    * directory (already carrying a `_commit-<nonce>` marker) to the next
    * version number, race-proof. Returns the committed version.
    */
  private[graft] def commitStaged(f: org.apache.hadoop.fs.FileSystem,
      rootPath: Path, staging: Path, nonce: String, maxAttempts: Int,
      checkpointUpTo: Option[Long] = None): Long = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val next = versionsOf(f, rootPath).lastOption.getOrElse(0L) + 1
      val dst = new Path(rootPath, checkpointUpTo
        .map(checkpointDirName(next, _)).getOrElse(dirName(next)))
      // Visibility point. A bare rename is NOT race-proof: when the
      // destination already exists (a racing writer committed this version
      // first), Hadoop rename moves the source INTO it and still returns
      // true — the loser's data would land hidden as v<N>/_staging-* and
      // be silently lost. So: pre-check the destination, and accept the
      // commit only if after the rename the staging dir is gone AND the
      // destination carries OUR marker.
      if (!f.exists(dst) && f.rename(staging, dst) && !f.exists(staging) &&
          f.exists(new Path(dst, s"_commit-$nonce"))) return next
      // Lost the race. If the rename moved us INSIDE the winner's dir,
      // pull the staging back out and retry at the next version number.
      val misplaced = new Path(dst, staging.getName)
      if (f.exists(misplaced)) f.rename(misplaced, staging)
    }
    f.delete(staging, true)
    sys.error(s"versioned write lost the commit race $maxAttempts times at $rootPath")
  }

  /** Directory paths of the versions a full union-read would plan (the
    * latest checkpoint within the log plus every later delta) — the
    * file-level face of [[readAllVersions]], for log adoption.
    */
  private[graft] def liveVersionDirs(spark: SparkSession, root: String): Seq[Path] = {
    val rootPath = new Path(root)
    val entries = entriesOf(fs(spark, rootPath), rootPath)
    val cut = entries.collect { case (_, Some(u)) => u }.maxOption.getOrElse(-1L)
    entries.filter(_._1 > cut).map(e => new Path(rootPath, nameOf(e)))
  }

  /** Commit the next version of `root` whose data files are BYTE-LEVEL
    * COPIES of existing immutable parquet files (log ADOPTION — the
    * shard-merge fast path): no decode, no re-encode, no Spark job —
    * just filesystem copies riding the normal staging + atomic-rename
    * protocol, so readers see either nothing or the whole version. On
    * an object store the copy is a server-side operation; nothing
    * streams through the driver's executors either way. File names get
    * a per-source prefix so same-named part files from different source
    * versions can't collide; non-parquet entries (markers, _SUCCESS,
    * checksums) deliberately do NOT travel — a donor's epoch markers
    * must not leak into the adopter's replay lineage. Returns the
    * committed version.
    */
  private[graft] def adoptFiles(spark: SparkSession, root: String,
      srcDirs: Seq[Path], maxAttempts: Int = 20,
      orphanTtlMs: Long = 15 * 60 * 1000L, markers: Seq[String] = Nil): Long = {
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    f.mkdirs(rootPath)
    sweepOrphans(f, rootPath, orphanTtlMs)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val staging = new Path(rootPath, s"_staging-$nonce")
    f.mkdirs(staging)
    val conf = spark.sparkContext.hadoopConfiguration
    srcDirs.zipWithIndex.foreach { case (src, i) =>
      val srcFs = src.getFileSystem(conf)
      srcFs.listStatus(src).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && n.endsWith(".parquet") &&
            !n.startsWith(".") && !n.startsWith("_"))
          org.apache.hadoop.fs.FileUtil.copy(
            srcFs, st.getPath, f, new Path(staging, s"adopt$i-$n"), false, conf)
      }
    }
    f.create(new Path(staging, s"_commit-$nonce"), false).close()
    markers.foreach(m => f.create(new Path(staging, m), false).close())
    commitStaged(f, rootPath, staging, nonce, maxAttempts, None)
  }

  /** Write `df` as the next version; returns the committed version number.
    * The data is staged ONCE; only the visibility rename retries under
    * writer races, so the race window is a metadata operation, not a
    * dataset rewrite. `markers` are empty underscore-prefixed files
    * committed ATOMICALLY with the version (they ride the staging
    * rename) — the exactly-once witness the streaming ingest paths key
    * on; parquet readers ignore them.
    */
  def write(spark: SparkSession, df: DataFrame, root: String,
      maxAttempts: Int = 20, orphanTtlMs: Long = 15 * 60 * 1000L,
      markers: Seq[String] = Nil): Long =
    stageAndCommit(spark, df, root, maxAttempts, orphanTtlMs, None, markers)

  /** Write `df` as a CHECKPOINT version claiming to supersede every
    * version ≤ `upTo`: union reads ([[readAllVersions]]) then plan the
    * checkpoint INSTEAD of the covered versions, and [[vacuumCovered]]
    * may reclaim them. The caller owns the claim — `df` must BE the
    * union of versions ≤ `upTo` (or a read-equivalent aggregate of it);
    * a writer racing in a version between `upTo` and the checkpoint's
    * own number loses nothing, because the covered bound travels in the
    * committed directory name, not in the (racy) "everything before
    * me" position. Delta-log compaction writes these so a root ingested
    * thousands of times reads as checkpoint + recent deltas, not
    * thousands of tiny version scans.
    */
  def writeCheckpoint(spark: SparkSession, df: DataFrame, root: String,
      upTo: Long, maxAttempts: Int = 20,
      orphanTtlMs: Long = 15 * 60 * 1000L): Long =
    stageAndCommit(spark, df, root, maxAttempts, orphanTtlMs, Some(upTo))

  private def stageAndCommit(spark: SparkSession, df: DataFrame, root: String,
      maxAttempts: Int, orphanTtlMs: Long, checkpointUpTo: Option[Long],
      markers: Seq[String] = Nil): Long = {
    markers.foreach(m => require(m.startsWith("_"),
      s"version markers must be underscore-prefixed (parquet-invisible): $m"))
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    f.mkdirs(rootPath)
    sweepOrphans(f, rootPath, orphanTtlMs)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val staging = new Path(rootPath, s"_staging-$nonce")
    // Size the version's file count to the DATA, not to the writer's
    // partition count: a bookmark-sized delta written from a 32-partition
    // aggregate otherwise lands as 32 near-empty files, and every
    // downstream union read (the delta-log convention reads EVERY
    // version) pays per-file open + listing for each. The collapse fires
    // ONLY when the whole delta fits one scan split (< maxPartitionBytes):
    // such a file holds a single parquet row group either way, so the
    // id-clustered writers (tfidf/prefix logs — their row-group pruning is
    // measured at 1.8× on the 100× scoring pass) lose nothing, while a
    // larger delta keeps its partitioning — and its sorted runs — exactly
    // as the caller laid it out. Persisted inputs — the batch-artifact
    // frames all are — carry EXACT sizes in `stats`.
    val targetBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val sized = if (estBytes < targetBytes) df.coalesce(1) else df
    sized.write.mode("overwrite").parquet(staging.toString)
    // Underscore-prefixed nonce marker: invisible to parquet readers,
    // proves in commitStaged that the committed dir is OURS.
    f.create(new Path(staging, s"_commit-$nonce"), false).close()
    markers.foreach(m => f.create(new Path(staging, m), false).close())
    commitStaged(f, rootPath, staging, nonce, maxAttempts, checkpointUpTo)
  }

  /** Read a pinned version (time travel) or the latest committed one. */
  def read(spark: SparkSession, root: String, version: Option[Long] = None): DataFrame = {
    val rootPath = new Path(root)
    val entries = entriesOf(fs(spark, rootPath), rootPath)
    require(entries.nonEmpty, s"no committed versions at $root")
    val v = version.getOrElse(entries.last._1)
    val e = entries.find(_._1 == v)
    require(e.nonEmpty,
      s"version $v not committed at $root (have ${entries.map(_._1)})")
    spark.read.parquet(new Path(rootPath, nameOf(e.get)).toString)
  }

  /** Union-read of EVERY committed version up to `upTo` (default all) —
    * the delta-log convention: a table whose writer appends one version
    * per ingested batch (each holding only that batch's rows) reads as
    * the union of its versions. One parquet scan over the version dirs;
    * pinning `upTo` time-travels the log to a batch boundary. The
    * snapshot convention ([[read]]) and this one are the two ends of the
    * same commit protocol — the writer picks which contract a root uses.
    * The schema comes from one footer read on the driver
    * ([[storedSchema]]), so planning the read launches no Spark job.
    */
  def readAllVersions(spark: SparkSession, root: String,
      upTo: Option[Long] = None): DataFrame = {
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    val entries = entriesOf(f, rootPath)
    require(entries.nonEmpty, s"no committed versions at $root")
    val inPin = upTo.map(u => entries.filter(_._1 <= u)).getOrElse(entries)
    require(inPin.nonEmpty,
      s"no versions <= ${upTo.get} at $root (have ${entries.map(_._1)})")
    // the latest checkpoint within the pin supersedes every version ≤ its
    // covered bound; versions ABOVE the bound (later deltas, and any
    // writer that raced in between the bound and the checkpoint's own
    // commit) still read alongside it
    val cut = inPin.collect { case (_, Some(u)) => u }.maxOption.getOrElse(-1L)
    val dirs = inPin.filter(_._1 > cut).map(e => new Path(rootPath, nameOf(e)))
    storedSchema(spark, f, dirs).fold(spark.read)(spark.read.schema)
      .parquet(dirs.map(_.toString): _*)
  }

  /** The schema Spark's parquet inference would return for `dirs`, read
    * on the driver. Inference (schema merging off, no summary files —
    * this table's writers leave none) takes the Spark schema stored in
    * the footer of the first data file by path, but reads that footer
    * inside a Spark job. Version names are fixed-width, so that file is
    * the first visible file of the first version directory holding one;
    * its footer is read here directly. None when merging is on, no data
    * file exists or the footer holds no Spark schema: the caller then
    * lets Spark infer.
    */
  private def storedSchema(spark: SparkSession,
      f: org.apache.hadoop.fs.FileSystem,
      dirs: Seq[Path]): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.parquet.ParquetReadOptions
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    import org.apache.spark.sql.types.{DataType, StructType}
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) return None
    def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
    val firstFile = dirs.iterator.flatMap(d => f.listStatus(d)
      .filter(st => st.isFile && visible(st.getPath.getName))
      .sortBy(_.getPath.getName).headOption).nextOption()
    firstFile.flatMap { first =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(
          first, spark.sparkContext.hadoopConfiguration),
        ParquetReadOptions.builder()
          .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
      val stored = try Option(reader.getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY))
      finally reader.close()
      stored.flatMap(s => scala.util.Try(DataType.fromJson(s)).toOption)
        .collect { case st: StructType => st }
    }
  }

  /** Drop all but the newest `keep` versions; returns the dropped ones.
    * Readers of a dropped version fail fast on the `require` in [[read]]
    * rather than seeing partial data (deletion starts with a rename to a
    * non-version name, so a version is never half-listed).
    */
  def vacuum(spark: SparkSession, root: String, keep: Int): Seq[Long] = {
    val rootPath = new Path(root)
    vacuumFs(fs(spark, rootPath), rootPath, keep)
  }

  /** [[vacuum]] against an already-resolved FileSystem — the entry point
    * for callers that live below the SparkSession (the rowlog streaming
    * sink's per-epoch retention).
    */
  private[graft] def vacuumFs(f: org.apache.hadoop.fs.FileSystem,
      rootPath: Path, keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least the latest version")
    dropEntries(f, rootPath, entriesOf(f, rootPath).dropRight(keep))
  }

  private def dropEntries(f: org.apache.hadoop.fs.FileSystem, rootPath: Path,
      drop: Seq[(Long, Option[Long])]): Seq[Long] = {
    drop.foreach { e =>
      val dir = new Path(rootPath, nameOf(e))
      val tomb = new Path(rootPath, s"_dropped-${e._1}")
      if (f.rename(dir, tomb)) f.delete(tomb, true)
    }
    drop.map(_._1)
  }

  /** Reclaim the versions superseded by the LATEST checkpoint (those ≤
    * its covered bound — a union read never plans them again). Pinned
    * reads at a reclaimed version fail fast afterwards, same contract as
    * [[vacuum]]; pins above the bound keep working. No-op without a
    * checkpoint. Kept separate from the count-based [[vacuum]] because
    * "newest k" on a delta log would happily delete UNCOVERED deltas —
    * data loss, not reclamation.
    */
  def vacuumCovered(spark: SparkSession, root: String): Seq[Long] = {
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    val entries = entriesOf(f, rootPath)
    val cut = entries.collect { case (_, Some(u)) => u }.maxOption.getOrElse(-1L)
    dropEntries(f, rootPath, entries.filter(_._1 <= cut))
  }
}
