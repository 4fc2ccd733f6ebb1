package graft.tools

import graft.{Sessions, SparkEntry}

/** Prints the formatted physical plan of selected SparkEntry queries —
  * the review loop for pushdown / broadcast / shuffle / codegen checks.
  * Usage: runMain graft.tools.PlanAudit [queryName ...] (default: a
  * representative set). Env SPARK_GRAFT_SF_DIR picks the data (default
  * sf0.001 — plans don't need volume).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_incremental_scan", "q2_apply_mapping", "e1_knn_brute",
        "d2_dedup_minhash", "ev1_hourly_agg", "ev3_sessionize")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
