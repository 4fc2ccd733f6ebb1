package etlbench

import graft.operators.IncrementalIndex
import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Index maintenance per batch against a fixed index size. A base index
  * is built at set-up from a seeded corpus with planted near-duplicates.
  * Before each op the index root is reset to that base; the op is one
  * `IncrementalIndex.ingestMinHash` of a fixed-size batch, and its
  * read-only twin is `probeMinHash` of the same batch on the same base.
  * Every batch plants the same number of batch×index and batch×batch
  * near-duplicates, so candidate and job counts repeat from op to op.
  */
final class MinHashIndexWorkload(spark: SparkSession, seed: Long, work: File, size: MinHashIndexWorkload.Size)
    extends Workload {
  import MinHashIndexWorkload._

  val nominalCycleS = 4.6

  private val corpus = new Corpus(seed, size)
  private var base: File = _
  private val root = new File(work, "minhash/index")

  def setup(rep: Int): Unit = {
    base = new File(work, s"minhash/base-$rep")
    val (_, pairs) = IncrementalIndex.ingestMinHash(spark, base.getPath, frame(corpus.base), "id", "text")
    val got = collectPairs(pairs)
    val expected = corpus.expectedPairs(corpus.base, corpus.basePlanted)
    if (got.keySet != expected.keySet)
      throw new IllegalStateException(s"base index pairs ${got.size} != planted ${expected.size}")
  }

  private def frame(docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("id", "text")
  }

  private def collectPairs(df: DataFrame): Map[(Long, Long), Double] =
    try df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    finally df.unpersist()

  def op(i: Int, tracer: Tracer): OpResult = {
    val docs = corpus.batch(i)
    val batch = frame(docs)
    DataFiles.delete(root)
    DataFiles.copy(base, root)
    val baseFiles = DataFiles.list(root).keySet.map(_.stripPrefix(root.getPath))

    val (probed, probeS, probeSnap) = tracer.timed(collectPairs(
      IncrementalIndex.probeMinHash(spark, root.getPath, batch, "id", "text")))
    val ((_, ingested), opS, snap) = tracer.timed {
      val (v, pairs) = IncrementalIndex.ingestMinHash(spark, root.getPath, batch, "id", "text")
      (v, collectPairs(pairs))
    }

    val errors = Seq.newBuilder[String]
    val expected = corpus.expectedPairs(corpus.base ++ docs, corpus.batchPlanted(i))
    if (probed != ingested) errors += s"probe pairs (${probed.size}) != ingest pairs (${ingested.size})"
    if (ingested.keySet != expected.keySet)
      errors += s"ingest pairs ${ingested.keySet.diff(expected.keySet).take(3)} extra, " +
        s"${expected.keySet.diff(ingested.keySet).take(3)} missing"
    ingested.foreach { case (k, j) =>
      expected.get(k).filter(e => math.abs(e - j) > 1e-9).foreach(e => errors += s"pair $k jaccard $j != $e")
    }
    val added = DataFiles.list(root).filter { case (p, _) => !baseFiles.contains(p.stripPrefix(root.getPath)) }

    val layers = (snap, probeSnap) match {
      case (Some(s), Some(ps)) =>
        val (_, readS, _) = tracer.timed(
          IncrementalIndex.readMinHashIndex(spark, root.getPath).write.format("noop").mode("overwrite").save())
        val (_, sigS, _) = tracer.timed(
          IncrementalIndex.minHashSignatures(batch, "id", "text").write.format("noop").mode("overwrite").save())
        Map(
          "index.ingest_jobs" -> s.jobs.toDouble,
          "index.probe_jobs" -> ps.jobs.toDouble,
          "index.commit_s" -> s.layer("index.commit"),
          "index.read_s" -> readS,
          "index.pairs_per_op" -> ingested.size.toDouble,
          "functions.minhash_rows_per_s" -> docs.size / sigS,
          "spark.jobs_per_op" -> s.jobs.toDouble,
          "spark.core_util" -> s.taskBusySeconds / (opS * spark.sparkContext.defaultParallelism),
          "spark.failed_tasks" -> (s.failedTasks + ps.failedTasks).toDouble)
      case _ => Map.empty[String, Double]
    }
    OpResult(opS, probeS, docs.size.toLong, added.size.toLong, added.values.sum, errors.result(), layers)
  }
}

object MinHashIndexWorkload {
  /** `baseDocs` in the index, `batchDocs` per op; `plantedShare` of the
    * base are near-duplicates of other base docs, and each batch plants
    * `plantedShare` of its docs against the base and as many again
    * against its own docs.
    */
  final case class Size(baseDocs: Int = 5000, batchDocs: Int = 500, plantedShare: Double = 0.05,
      vocabulary: Int = 30000, threshold: Double = 0.8)

  /** Seeded documents: random word sequences, and near-duplicates that
    * copy a doc and replace one word (Jaccard of word 3-shingles ≥ 0.85
    * at ≥ 40 words; unrelated docs share essentially no shingle).
    */
  final class Corpus(seed: Long, size: Size) {
    private val vocab: Array[String] =
      Array.tabulate(size.vocabulary)(k => Gen.word(Gen.rng(seed, "vocab", k), 3, 9) + k)
    private def randomDoc(parts: Any*): String = {
      val r = Gen.rng(seed, parts: _*)
      Seq.fill(40 + r.nextInt(41))(vocab(r.nextInt(vocab.length))).mkString(" ")
    }
    private def edit(text: String, parts: Any*): String = {
      val r = Gen.rng(seed, parts: _*)
      val w = text.split(" ")
      w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length))
      w.mkString(" ")
    }

    private val basePlantedN = (size.baseDocs * size.plantedShare).toInt
    /** Base doc `n-1-k` is a near-duplicate of base doc `k`, for k < planted. */
    val base: Seq[(Long, String)] = {
      val docs = Array.tabulate(size.baseDocs)(k => randomDoc("base", k))
      (0 until basePlantedN).foreach(k => docs(size.baseDocs - 1 - k) = edit(docs(k), "base-edit", k))
      docs.toSeq.zipWithIndex.map { case (t, k) => (k.toLong, t) }
    }
    val basePlanted: Seq[(Long, Long)] =
      (0 until basePlantedN).map(k => (k.toLong, (size.baseDocs - 1 - k).toLong))

    private val batchPlantedN = (size.batchDocs * size.plantedShare).toInt
    private def batchId(i: Int, j: Int) = 1000000000L + i.toLong * size.batchDocs + j
    /** Base docs outside every planted base pair, so a batch copy of one
      * has exactly one near-duplicate in the index.
      */
    private val freeBase = size.baseDocs - 2 * basePlantedN

    /** Batch `i`: docs [0, p) copy free base docs, docs [p, 2p) copy the
      * random batch docs [2p, 3p), the rest are random.
      */
    def batch(i: Int): Seq[(Long, String)] = {
      val p = batchPlantedN
      val random = (2 * p until size.batchDocs).map(j => j -> randomDoc("batch", i, j)).toMap
      (0 until size.batchDocs).map { j =>
        val text =
          if (j < p) edit(base(baseSource(i, j).toInt)._2, "batch-edit", i, j)
          else if (j < 2 * p) edit(random(j + p), "batch-edit", i, j)
          else random(j)
        (batchId(i, j), text)
      }
    }
    private def baseSource(i: Int, j: Int): Long =
      basePlantedN + math.floorMod(i.toLong * batchPlantedN + j * 7919L, freeBase.toLong)

    def batchPlanted(i: Int): Seq[(Long, Long)] = {
      val p = batchPlantedN
      (0 until p).map(j => (baseSource(i, j), batchId(i, j))) ++
        (p until 2 * p).map(j => (batchId(i, j), batchId(i, j + p)))
    }

    /** Brute-force Jaccard of word 3-shingles over the planted pairs,
      * kept where it reaches the threshold; keys are (smaller id, larger id).
      */
    def expectedPairs(docs: Seq[(Long, String)], planted: Seq[(Long, Long)]): Map[(Long, Long), Double] = {
      val text = docs.toMap
      planted.flatMap { case (a, b) =>
        val j = jaccard(shingles(text(a)), shingles(text(b)))
        if (j >= size.threshold) Some((math.min(a, b), math.max(a, b)) -> j) else None
      }.toMap
    }
  }

  def shingles(text: String): Set[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).sliding(3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = (a & b).size.toDouble / (a | b).size
}
