package graft.tools

import graft.{Sessions, SparkEntry}
import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap

/** Per-JOB wall-time attribution for ONE registry query: runs the query
  * (warm rep first, then a timed rep) with a listener recording every
  * job's wall, task-time sum, stage count and shuffle bytes, then prints
  * jobs sorted by wall. The multi-action demo queries (incremental
  * ingests, merges) are many Spark jobs per query — suite-level timing
  * can't see WHICH pass is the expensive one; this can.
  * Usage: runMain graft.tools.JobProfile <query> [repsAfterWarm]
  */
object JobProfile {
  private final case class JobRec(
      desc: String, var t0: Long = 0L, var t1: Long = 0L,
      var taskMs: Long = 0L, var stages: Int = 0,
      var shufRead: Long = 0L, var shufWrite: Long = 0L, var inBytes: Long = 0L)

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = SparkEntry.queries(name)
    // warm (codegen/JIT) at sf0.001 then once at the target sf
    try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"warm failed: ${e.getMessage}") }
    SparkEntry.resetSessionCache(spark)
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // Per-ACTION decomposition: every count/collect/parquet-write/noop-save
    // inside the query body fires the QueryExecutionListener once, with
    // the action's own wall. The demo queries are 20-90 actions each —
    // this is the granularity at which "where does the time go" is
    // answerable (job-level grouping collapses into AQE's shared
    // materializeFuture callsite and says nothing).
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      private def describe(qe: org.apache.spark.sql.execution.QueryExecution): String = {
        val l = qe.logical
        val nodes = l.collect { case n => n.nodeName }
        val leafRel = qe.logical.collectLeaves().map(_.nodeName).distinct.mkString("+")
        s"${nodes.take(3).mkString(">")}|leaves=$leafRel|ops=${nodes.size}"
      }
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases.map { case (p, s) =>
          f"$p=${(s.endTimeMs - s.startTimeMs) / 1e3}%.2f" }.mkString(" ")
        actions.add((s"$funcName ${describe(qe)} [$phases]", durationNs / 1e9))
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    // SPARK_GRAFT_JP_STAGES=1: per-stage dump of the LAST rep — the
    // granularity that catches repeated executions of one exchange
    // subtree (the lshCandidates reuse pathology: identical swRows
    // across many map stages)
    val stageDump = sys.env.get("SPARK_GRAFT_JP_STAGES").contains("1")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sl = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val wall = (i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)) / 1e3
        val m = i.taskMetrics
        stages.add(f"stage ${i.stageId}%4d wall=$wall%6.2f tasks=${i.numTasks}%4d " +
          f"exec=${m.executorRunTime / 1e3}%7.2f " +
          f"srRows=${m.shuffleReadMetrics.recordsRead}%9d " +
          f"swRows=${m.shuffleWriteMetrics.recordsWritten}%9d")
      }
    }
    val walls = (1 to reps).map { r =>
      SparkEntry.resetSessionCache(spark)
      if (stageDump && r == reps) spark.sparkContext.addSparkListener(sl)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    if (stageDump) {
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(sl)
      import scala.jdk.CollectionConverters._
      println(s"\n=== per-stage dump (last rep) ===")
      stages.asScala.toVector.sortBy(_.substring(6, 11).trim.toInt)
        .filter(s => !s.contains("wall=  0.0"))
        .foreach(println)
    }
    Thread.sleep(1000) // let listener events drain
    spark.listenerManager.unregister(qel)
    import scala.jdk.CollectionConverters._
    val acts = actions.asScala.toVector
    println(f"\n=== $name timed rep(s): ${walls.map(w => f"$w%.2f").mkString(" ")} s; ${acts.size} actions ===")
    println(f"sum of action walls: ${acts.map(_._2).sum}%.2f s")
    println("\nactions in order (wall s):")
    acts.foreach { case (d, w) => if (w > 0.05) println(f"  $w%7.2f  $d") }
    spark.stop()
  }
}
