package graft

import org.apache.spark.sql.SparkSession

/** Local smoke of the driver's rows>0 check on SparkEntry.entry. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n schema=${df.schema.simpleString}")
    assert(n > 0, "entry must return >0 rows")
    spark.stop()
  }
}
