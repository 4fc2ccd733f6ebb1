package graft

import org.apache.spark.SparkConf

class SessionsSpec extends SparkSpec {

  test("the shared test session carries every engine and codegen conf") {
    (Sessions.EngineConfs ++ Sessions.CodegenConfs).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("codegen guard keeps a value the operator already set") {
    val operator = new SparkConf(false)
      .set("spark.sql.codegen.cache.maxEntries", "100")
      .set("spark.sql.artifact.isolation.enabled", "true")
    assert(Sessions.codegenDefaults(operator) ==
      Seq("spark.sql.codegen.useIdInClassName" -> "false"))
    assert(Sessions.codegenDefaults(new SparkConf(false)) == Sessions.CodegenConfs)
  }
}
