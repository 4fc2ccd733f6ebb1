package graft.tools

import graft.{Sessions, SparkEntry}

/** Times selected SparkEntry queries through the noop sink (same
  * measurement as Bench) without running the whole suite — the inner
  * loop for per-query optimization. Usage:
  * `SPARK_GRAFT_SF_DIR=... runMain graft.tools.Prof q d3_dedup_simhash ...`
  * Each query runs `SPARK_GRAFT_PROF_REPS` times (default 2; rep 1 warms
  * codegen/caches, the last rep is the steady-state number).
  *
  * With NO args it profiles EVERY registry query and writes the
  * steady-state map to `SPARK_GRAFT_PROF_OUT` (default `PROF.json`) —
  * the committed per-query baseline that, unlike a suite-level BENCH
  * total, is immune to cross-query contention: each number is a warm
  * re-run taken immediately after the same query's previous run.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROF_REPS", "2").toInt
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    // optional cross-sf warm-up: run each query once at WARM_DIR (tiny sf)
    // before timing at sfDir — isolates JIT/codegen compile from real work
    val warmDir = sys.env.get("SPARK_GRAFT_PROF_WARM_DIR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val steady = names.flatMap { n =>
      val fn = SparkEntry.queries(n)
      warmDir.foreach { w =>
        try fn(spark, w).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => println(s"[prof] warm $n failed: ${e.getMessage}") }
      }
      try {
        val times = (1 to reps).map { _ =>
          // attribution-honest timing: drop the per-session intermediate
          // cache so every rep pays its full pipeline (otherwise rep 2 of
          // d2 — and d9 whenever d2 ran first — measures a cache read)
          SparkEntry.resetSessionCache(spark)
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"PROF $n%-24s ${times.map(t => f"$t%.2f").mkString("  ")}")
        Some(n -> times)
      } catch { case e: Throwable =>
        println(s"[prof] $n failed: ${e.getMessage}"); None
      }
    }
    if (args.isEmpty) {
      val out = sys.env.getOrElse("SPARK_GRAFT_PROF_OUT", "PROF.json")
      val qs = steady.map { case (k, v) => "\"" + k + "\":" + "%.3f".format(v.last) }
        .mkString("{", ",", "}")
      // every rep's wall, mirrored into the artifact (the BENCH `reruns`
      // convention): a bench slowdown that reproduces across PROF reps is
      // a real regression; one whose PROF reps are steady is environment.
      // APPENDED after `queries` — Bench's PROF parser substrings the
      // first "queries":{...} block, so the schema stays append-only.
      val walls = steady.map { case (k, v) =>
        "\"" + k + "\":[" + v.map(t => "%.3f".format(t)).mkString(",") + "]"
      }.mkString("{", ",", "}")
      val sfTag = new java.io.File(sfDir).getName
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        s"""{"metric":"steady_total","value":${"%.3f".format(steady.map(_._2.last).sum)},""" +
          s""""unit":"sec","reps":$reps,"queries":$qs,"walls":$walls,"sf":"$sfTag"}""" + "\n")
      println(s"[prof] wrote $out (${steady.size} queries)")
    }
    spark.stop()
  }
}
