package etlbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Runs one workload from a seed: set-up (repeated, median reported),
  * a fixed number of warm-up ops, then a fixed number of single-client
  * closed-loop timed ops, each checked outside its timed region.
  *
  * The op counts follow from `--seconds` and the workload's nominal op
  * cycle, so a run lasts about `--seconds` and every run of a workload
  * times the same ops at the same point of the JVM's warm-up curve. Op
  * times keep falling slowly for about 20 ops (JIT compilation of the
  * Spark planner); a time-bound loop would time more, warmer ops on a
  * fast run than on a slow one, and its medians would drift with speed.
  *
  * Usage: etlbench.Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  *
  * With `--trace 0` the last stdout line holds the end-to-end metrics.
  * With `--trace 1` timed ops alternate untraced and traced (listener,
  * decorators and direct calls on), and the last line holds the
  * per-layer medians over the traced ops and the tracing overhead.
  */
object Main {
  val SetupReps = 3
  val MinTimedOps = 4
  /** Largest first-half/second-half drift of timed op times a steady run
    * shows: the `op_s_p50` bound in BENCHMARK.json. A run beyond it is
    * reported unsteady but not incorrect: a burst of load from elsewhere
    * on the machine moves op times without touching the outputs.
    */
  val DriftBound = 0.24

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      new File(req("work")))
    require(Workload.names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def session(work: File): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("etlbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    a.work.mkdirs()
    val spark = session(a.work)
    val info = new java.util.LinkedHashMap[String, Any]()
    try {
      val sessionS = (System.nanoTime() - t0) / 1e9
      val wl = Workload(a.workload, spark, a.seed, a.work)
      val tracer = new Tracer(spark)
      val setupTimes = (0 until SetupReps).map { r =>
        val s0 = System.nanoTime(); wl.setup(r); (System.nanoTime() - s0) / 1e9
      }
      val timedOps = math.max(MinTimedOps, math.round(a.seconds / wl.nominalCycleS).toInt)
      val warmOps = (timedOps + 1) / 2
      val errors = ArrayBuffer.empty[String]
      val warm = (0 until warmOps).map { i =>
        val r = wl.op(i, tracer); errors ++= r.errors; r.opS
      }
      val ops = ArrayBuffer.empty[OpResult]
      val traced = ArrayBuffer.empty[Boolean]
      var failed = 0
      val start = System.nanoTime()
      import scala.jdk.CollectionConverters._
      def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
      def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
      val gcs = ArrayBuffer.empty[String]
      (warmOps until warmOps + timedOps).foreach { i =>
        val on = a.trace && ops.size % 2 == 1
        tracer.enable(on)
        val g0 = gcMs; val j0 = jitMs
        val r = wl.op(i, tracer)
        gcs += s"${gcMs - g0}/${jitMs - j0}"
        tracer.enable(false)
        ops += r; traced += on
        if (r.errors.nonEmpty) { failed += 1; errors ++= r.errors }
      }
      val timedS = (System.nanoTime() - start) / 1e9
      val f0 = System.nanoTime()
      val finalErrors = wl.finalCheck()
      info.put("final_check_s", (System.nanoTime() - f0) / 1e9)
      info.put("timed_s", timedS)
      if (finalErrors.nonEmpty) { errors ++= finalErrors; failed = math.max(failed, 1) }

      val measured = ops.indices.filter(k => !traced(k)).map(ops)
      val opTimes = measured.map(_.opS)
      // over every timed op: traced ops alternate with untraced ones, so
      // both halves carry the same share of tracing overhead
      val (firstHalf, secondHalf, drift) = Stats.halfDrift(ops.map(_.opS).toSeq)
      if (drift > DriftBound)
        println(f"UNSTEADY op times drifted: first-half median $firstHalf%.4f s, second-half $secondHalf%.4f s")

      info.put("workload", a.workload)
      info.put("seed", a.seed)
      info.put("ops_timed", ops.size)
      info.put("setup_reps_s", setupTimes.map(x => f"$x%.3f").mkString(","))
      info.put("session_s", sessionS)
      info.put("warmup_ops", warm.size)
      info.put("warmup_op_s", warm.map(x => f"$x%.3f").mkString(","))
      info.put("op_s", opTimes.map(x => f"$x%.3f").mkString(","))
      info.put("op_bytes", measured.map(_.bytes).mkString(","))
      info.put("half_medians_s", f"$firstHalf%.4f,$secondHalf%.4f")
      info.put("half_drift", drift)
      info.put("steady", drift <= DriftBound)
      info.put("gc_jit_ms", gcs.mkString(","))
      Stats.tail(opTimes).foreach { case (p, v, n) =>
        info.put("op_s_tail", v); info.put("op_s_tail_pct", p); info.put("op_s_tail_samples", n)
      }
      errors.take(10).foreach(e => println(s"ERROR $e"))

      val metrics = new java.util.LinkedHashMap[String, Any]()
      def put(name: String, value: Double, unit: String): Unit = {
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("value", value); m.put("unit", unit); metrics.put(name, m)
      }
      // the least heap in use over a few forced full GCs: Spark releases
      // unpersisted blocks asynchronously, so one GC can still see them
      val heapMb = (1 to 5).map { _ =>
        System.gc(); Thread.sleep(100)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }.min
      if (!a.trace) {
        put("setup_s", Stats.median(setupTimes), "s")
        put("op_s_p50", Stats.median(opTimes), "s")
        put("probe_s_p50", Stats.median(measured.map(_.probeS)), "s")
        put("rows_per_s", measured.map(_.rows).sum / opTimes.sum, "1/s")
        put("files_per_op", Stats.median(measured.map(_.files.toDouble)), "count")
        put("bytes_per_row", Stats.median(measured.map(r => r.bytes.toDouble / r.rows)), "B")
        put("live_heap_mb", heapMb, "MB")
      } else {
        val on = ops.indices.filter(traced).map(ops)
        Metrics.PerLayer.foreach { case (name, unit) =>
          val v = name match {
            case "trace.op_s_p50_off"   => Stats.median(opTimes)
            case "trace.op_s_p50_on"    => Stats.median(on.map(_.opS))
            case "trace.overhead_ratio" => Stats.median(on.map(_.opS)) / Stats.median(opTimes)
            case _                      => Stats.median(on.map(_.layers.getOrElse(name, 0.0)))
          }
          put(name, v, unit)
        }
      }
      val out = new java.util.LinkedHashMap[String, Any]()
      out.put("correct", errors.isEmpty)
      out.put("attempted", ops.size)
      out.put("failed", if (errors.nonEmpty) math.max(failed, 1) else 0)
      out.put("metrics", metrics)
      info.put("run_s", (System.nanoTime() - t0) / 1e9)
      val json = new ObjectMapper()
      println("INFO " + json.writeValueAsString(info))
      println("RESULT " + json.writeValueAsString(out))
    } finally spark.stop()
  }
}
