package graft

/** Scratch dev tool: dump a named query's physical plan for plan audits.
  * Usage: sbt "Test/runMain graft.PlanDumpTool q83_pipeline_e2e"
  */
object PlanDumpTool {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q83_pipeline_e2e")
    val spark = GraftSession.build("local[4]", "4")
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
    val plan = df.queryExecution.executedPlan.toString
    println("PLANDUMP-BEGIN")
    println(plan)
    println("PLANDUMP-END")
    spark.stop()
  }
}
