package graft
import org.apache.spark.sql.SparkSession

/** Plan-audit tool: print formatted physical plans for selected queries
  * (operator form, without the verification sort) — used to confirm filter
  * and column pushdown reach the scan, bounded dims broadcast, and no
  * BroadcastNestedLoopJoin survives in any declared query. */
object Explain {
  def main(args: Array[String]): Unit = {
    System.setProperty(graft.queries.Q.NoOrderProp, "true")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n=====[ $n ]=====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
