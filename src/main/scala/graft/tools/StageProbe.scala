package graft.tools

import graft.{Sessions, SparkEntry}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Scratch probe: stage-by-stage decomposition of the one-shot
  * MinHash-LSH pair pipeline (the shared upstream of d2/d9/d62).
  * Times each persisted stage's materialization separately — the
  * boundaries match the pipeline's own persist points, so the sum is
  * the same work the fused count pays.
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.graftbridge.ColumnBridge

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"  ${(System.nanoTime() - t0) / 1e9}%7.2f  $label"); r
    }

    def oneRep(dir: String, rep: Int): Unit = {
      println(s"-- rep $rep @ $dir")
      val raw = spark.read.parquet(s"$dir/documents.parquet")
      val mutant = expr(
        "CASE WHEN instr(text, ' ') > 0 THEN substring(text, instr(text, ' ') + 1) ELSE text END")
      val docs = raw.select(col("doc_id"), col("text"))
        .union(raw.select((col("doc_id") + 100000).as("doc_id"), mutant.as("text")))
        .repartition(64, col("doc_id"))
      val hashed = docs.select(col("doc_id"),
        Dedup.shingleHashes(docs, "text", 3).as("hs")).persist()
      t("hashed (shingle MD5)")(hashed.write.format("noop").mode("overwrite").save())
      val sigs = hashed.select(col("doc_id"), ColumnBridge.column(
        graft.functions.MinHashSignature(
          ColumnBridge.expression(col("hs")), 128, 42L)).as("sig"),
        size(col("hs")).cast("long").as("sz")).persist()
      t("sigs (128 minhash)")(sigs.write.format("noop").mode("overwrite").save())
      val cands = t("lshCandidates call (checkpoint)")(
        Dedup.lshCandidates(sigs, "doc_id", 128, 32, 1024, col("sz")).persist())
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val sl = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val wall = (i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)) / 1e3
          val m = i.taskMetrics
          stages.add(f"stage ${i.stageId}%3d wall=$wall%6.2f tasks=${i.numTasks}%4d " +
            f"exec=${m.executorRunTime / 1e3}%7.2f cpu=${m.executorCpuTime / 1e9}%7.2f " +
            f"gc=${m.jvmGCTime / 1e3}%5.2f srRows=${m.shuffleReadMetrics.recordsRead}%9d " +
            f"swRows=${m.shuffleWriteMetrics.recordsWritten}%9d out=${m.outputMetrics.recordsWritten}%8d " +
            i.name.take(60))
        }
      }
      if (rep == 1) spark.sparkContext.addSparkListener(sl)
      t("cands (band join)")(println(s"    n_cands=${cands.count()}"))
      if (rep == 1) {
        Thread.sleep(500)
        spark.sparkContext.removeSparkListener(sl)
        import scala.jdk.CollectionConverters._
        stages.asScala.toVector.sortBy(_.substring(6, 10).trim.toInt)
          .foreach(s => println("    " + s))
        val p = cands.queryExecution.executedPlan.toString
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("/tmp/cands_plan.txt"), p)
      }
      t("verify (jaccard)")(
        println(s"    n_pairs=${Dedup.verifyJaccard(cands, hashed, "doc_id", "hs", 0.8).count()}"))
      cands.unpersist(blocking = false)
      sigs.unpersist(blocking = false)
      hashed.unpersist(blocking = false)
    }
    oneRep("/root/testdata/sf0.001", 0) // warm
    (1 to 3).foreach(r => oneRep(sfDir, r))
    spark.stop()
  }
}
