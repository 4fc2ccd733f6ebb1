package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.{Sessions, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Planning-vs-execution split for selected queries — the measurement
  * behind the SCALING.md plan-size audit (VERDICT r6 watch item: d2's
  * 380-exchange / d40's 947-exchange sf1 plans trade shuffle volume for
  * plan complexity, and AQE re-optimization + plan serialization are
  * DRIVER-side costs). Per query it reports:
  *
  *  - `plan`: wall time to force `executedPlan` (analysis → optimization
  *    → physical planning, pre-execution);
  *  - `exec`: execution wall time (noop sink);
  *  - `cpu`: summed task run time across executors — `util` =
  *    cpu/(exec·slots) is the executor-busy fraction, so `1 − util`
  *    UPPER-bounds every driver-side cost (AQE re-planning, task
  *    serialization, scheduling) plus scheduling gaps;
  *  - `exchange`/`aqe`/`jobs`/`stages` counted from the FINAL adaptive
  *    plan and the listener — plan size is a function of the QUERY (band
  *    count, cap branches), not the data, so comparing counts across SFs
  *    shows whether plan complexity grows with scale at all.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.PlanTimer q...`
  */
object PlanTimer {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val taskMs = new AtomicLong(0)
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    })
    val names = if (args.nonEmpty) args.toSeq else Seq("d2_dedup_minhash", "d40_prefix_join")
    // warm codegen/JIT once at the tiny SF so plan/exec times are steady
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"[plantime] warm $n failed: ${e.getMessage}") }
    }
    names.foreach { n =>
      SparkEntry.resetSessionCache(spark)
      // total = query construction + execution (several registry queries
      // materialize eagerly inside construction, so the two cannot be
      // split from outside — measure the WHOLE pipeline under the task
      // listener; 1 − util then upper-bounds all driver-side cost)
      taskMs.set(0); jobs.set(0); stages.set(0)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      val totalS = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain task-end events
      // pure planning cost of the FULL lineage plan, isolated: re-derive
      // analysis → optimization → physical planning from the logical
      // plan without executing (AQE re-optimization is excluded — it is
      // part of the utilization gap above)
      val t1 = System.nanoTime()
      val replanned = spark.sessionState.executePlan(df.queryExecution.logical)
      replanned.executedPlan
      val replanMs = (System.nanoTime() - t1) / 1e6
      // distinct-node census (PlanNodes), not a string scan: the plan
      // STRING doubles every count under an executed adaptive plan
      // (initial+final print) and re-prints cached lineages per scan
      val c = PlanNodes.census(df)
      val cpuS = taskMs.get() / 1e3
      val util = cpuS / (totalS * cpus)
      println(f"PLANTIME $n%-24s total=${totalS}%8.2fs cpu=${cpuS}%8.1fs " +
        f"util=${util}%5.2f replan=${replanMs}%8.1fms " +
        f"exchange=${c.shuffle + c.bcast}%d reused=${c.reused}%d " +
        f"aqe=${c.aqe}%d nodes=${c.nodes}%d " +
        f"jobs=${jobs.get()}%d stages=${stages.get()}%d")
    }
    spark.stop()
  }
}
