package graft.tools

import graft.SparkEntry

/** Dumps `.explain("formatted")` for the named registered queries to
  * plans/<tag>/<query>_<suffix>.txt — the committed before/after plan
  * evidence for optimization rounds. Usage:
  *   runMain graft.tools.PlanDump <tag> <suffix> <query> [query...]
  * (streaming queries execute eagerly on construction and are skipped).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val spark = graft.LocalSpark.session()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = java.nio.file.Paths.get(sys.props("user.dir"), "plans", tag)
    java.nio.file.Files.createDirectories(outDir)
    for (q <- names) {
      try {
        val plan = SparkEntry.queries(q)(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        java.nio.file.Files.write(outDir.resolve(s"${q}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] wrote $q ($suffix): " +
          s"exchanges=${"Exchange".r.findAllIn(plan).size} " +
          s"smj=${"SortMergeJoin".r.findAllIn(plan).size} " +
          s"bhj=${"BroadcastHashJoin".r.findAllIn(plan).size}")
      } catch {
        case e: Exception =>
          println(s"[plandump] $q FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
