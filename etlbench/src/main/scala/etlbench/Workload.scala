package etlbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed op: its wall time, the wall time of its read-only twin (a
  * call that commits nothing), what it wrote, and what the outside
  * checks found wrong. `layers` holds per-layer values on traced ops.
  */
final case class OpResult(
    opS: Double,
    probeS: Double,
    rows: Long,
    files: Long,
    bytes: Long,
    errors: Seq[String],
    layers: Map[String, Double] = Map.empty)

/** A workload: every op it runs has the same shape, so per-op counts
  * repeat exactly and medians measure the program, not a mix of steps.
  */
trait Workload {
  /** Seconds one op cycle (preparation, op, read-only twin, checks) took
    * once warm on a 4-core machine; sizes the op counts of a run.
    */
  def nominalCycleS: Double

  /** Builds fresh inputs and program state; the state of the last
    * repetition is the one the ops run on.
    */
  def setup(rep: Int): Unit

  /** Prepares op `i`'s input (untimed), times the op and its read-only
    * twin, and checks the outputs (untimed).
    */
  def op(i: Int, tracer: Tracer): OpResult

  /** Checks run once after the last op. */
  def finalCheck(): Seq[String] = Nil
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, work: File): Workload = name match {
    case "jdbc_deltas"      => new JdbcDeltas(spark, seed, work, JdbcDeltas.Size())
    case "parquet_backfill" => new ParquetBackfill(spark, seed, work, ParquetBackfill.Size())
    case "minhash_index"    => new MinHashIndexWorkload(spark, seed, work, MinHashIndexWorkload.Size())
    case other              => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val names: Seq[String] = Seq("jdbc_deltas", "parquet_backfill", "minhash_index")
}

/** Files the program wrote, seen from the file system. */
object DataFiles {
  private def isData(f: File) = f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")

  /** Every data file under `dir` (path → bytes). */
  def list(dir: File): Map[String, Long] =
    if (!dir.exists) Map.empty
    else {
      val out = Map.newBuilder[String, Long]
      def walk(d: File): Unit = Option(d.listFiles).getOrElse(Array.empty[File]).foreach { f =>
        if (f.isDirectory) walk(f) else if (isData(f)) out += f.getPath -> f.length
      }
      walk(dir)
      out.result()
    }

  /** Hive partition directories (`k=v/...`, relative to `dir`) that hold data files. */
  def partitionDirs(dir: File): Set[String] = {
    val base = dir.getCanonicalFile.toPath
    list(dir).keySet.map(p => base.relativize(new File(p).getCanonicalFile.getParentFile.toPath).toString)
      .filter(_.nonEmpty)
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).foreach(delete)
    f.delete()
  }

  def copy(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles).getOrElse(Array.empty[File]).foreach(f => copy(f, new File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
}

/** Order-independent content digest of a frame: row count and the exact
  * sum of a 64-bit hash of each row's text form. Equal digests mean equal
  * row multisets, so a row written twice or lost shows.
  */
object Fingerprint {
  def of(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val text = cols.sorted.map(c => coalesce(col(c).cast("string"), lit("\u0000null")))
    val r = df.agg(count(lit(1)), sum(xxhash64(text: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Reads a Hive-partitioned target with partition values as strings, so
    * they compare as the text the writer put in the directory names.
    */
  def readTarget(spark: SparkSession, location: String, format: String): DataFrame = {
    val prev = spark.conf.get("spark.sql.sources.partitionColumnTypeInference.enabled")
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    try spark.read.format(format).load(location) // partitions are discovered here, eagerly
    finally spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", prev)
  }
}
