package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place that knows the engine's session confs. Every entry point
  * (the `Main` job, the `Verify`/`Bench` mains, the `tools` probes and the
  * shared test session) builds its `SparkSession` here; each keeps only
  * its own master, parallelism, UI and app name.
  */
object Sessions {

  /** Confs the engine's code depends on:
    *  - `GraftExtensions` registers the custom Catalyst rules/functions;
    *  - `normalizeTs`/`rawTsCol`'s NTZ→LTZ cast is value-identity only
    *    under a UTC session time zone;
    *  - the fixtures carry nanosecond parquet timestamps, read as longs.
    */
  val EngineConfs: Seq[(String, String)] = Seq(
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** The codegen trio. Spark's 100-entry default whole-stage-codegen class
    * cache is smaller than one incremental-index pipeline (d54 compiles
    * 136 units, st25 270), so long-lived drivers re-paid janino
    * compilation every run (SCALE_r12 "driftprobe": d54 steady 21.7 s →
    * 14.9 s, st25 33.9 → 16.6). The cache keys on (source, classloader),
    * and session-artifact isolation gives every newSession/clone a fresh
    * executor-side classloader — a per-SESSION recompile of every
    * pipeline unit (SCALE_r13 "stcodegen": ~160 units per streaming run).
    * No session-scoped artifacts are used, so isolation buys nothing; and
    * generated class names without the run-order-dependent codegen-stage
    * id keep the source text itself cache-stable.
    */
  val CodegenConfs: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** The codegen confs `operatorConf` does not already carry: a value the
    * operator provided (a `-D` system property, or a spark-defaults.conf
    * value that reached the driver as a conf) is kept, not clobbered.
    */
  def codegenDefaults(operatorConf: SparkConf): Seq[(String, String)] =
    CodegenConfs.filterNot { case (k, _) => operatorConf.contains(k) }

  /** A builder carrying the engine confs and the unset codegen confs;
    * callers add master, app name and any site-specific conf.
    */
  def builder(): SparkSession.Builder = {
    val b = SparkSession.builder()
    (EngineConfs ++ codegenDefaults(new SparkConf(true)))
      .foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** A local session on `cores` threads with as many shuffle partitions
    * and the UI off — the shape of every measurement main and the tests.
    */
  def local(cores: Int, appName: Option[String] = None): SparkSession = {
    val b = builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
    appName.foreach(b.appName)
    b.getOrCreate()
  }
}
