package graft

import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev loop: where does a query's wall-time go — plan construction,
  * analysis, optimization, physical planning, or execution? Surfaces
  * driver-side plan blowups (expression-tree duplication through
  * project collapse) that per-query totals hide.
  * Run: sbt "runMain graft.PlanProbe q88_pipeline_fallback [...]"
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    System.setProperty(graft.queries.Q.NoOrderProp, "true")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus)

    def exprNodes(p: QueryPlan[_]): Long = {
      var n = 0L
      p.foreach {
        case node: QueryPlan[_] =>
          node.expressions.foreach(_.foreach(_ => n += 1))
        case _ => ()
      }
      n
    }

    // SPARK_GRAFT_METRICS: the rerun's noop write plans its OWN
    // QueryExecution, so its executed tree (with the metrics that run
    // populated) only reaches a listener. Listener events are
    // asynchronous, so each write's tree is taken from the queue below
    // after the write returns.
    val metrics = sys.env.contains("SPARK_GRAFT_METRICS")
    val writes = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    if (metrics) spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.isInstanceOf[V2TableWriteExec])
          writes.put(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      val analyzed = df.queryExecution.analyzed
      val t2 = System.nanoTime()
      val opt = df.queryExecution.optimizedPlan
      val t3 = System.nanoTime()
      df.queryExecution.executedPlan
      val t4 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t5 = System.nanoTime()
      // fresh plan, warm JVM: what a second bench pass pays
      val df2 = fn(spark, sfDir)
      val t6 = System.nanoTime()
      df2.write.format("noop").mode("overwrite").save()
      val t7 = System.nanoTime()
      println(f"[probe] $name%-26s construct=${(t1 - t0) / 1e9}%.2f analyze=${(t2 - t1) / 1e9}%.2f optimize=${(t3 - t2) / 1e9}%.2f physical=${(t4 - t3) / 1e9}%.2f exec1=${(t5 - t4) / 1e9}%.2f rerun=${(t7 - t6) / 1e9}%.2f exprNodes analyzed=${exprNodes(analyzed)} optimized=${exprNodes(opt)}")
      if (metrics) {
        // the first write's tree arrives first; the rerun's is the second
        writes.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        val rerun = writes.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        require(rerun != null, s"$name: the rerun's write tree never arrived")
        // AQE final trees nest executed subtrees inside QueryStageExec
        // LEAVES (ResultQueryStage/ShuffleQueryStage/BroadcastQueryStage
        // in 4.1) — plain foreach stops at the stage boundary, so walk
        // through each stage's wrapped plan explicitly
        def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
          f(p)
          p match {
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
            case s: QueryStageExec => walk(s.plan)(f)
            case other => other.children.foreach(walk(_)(f))
          }
        }
        walk(rerun) { node =>
          val interesting = node.metrics.filter { case (k, m) =>
            m.value > 0 && (k.contains("time") || k.contains("duration") ||
              k == "numOutputRows" || k.contains("Time"))
          }
          if (interesting.nonEmpty)
            println(s"[metrics] ${node.nodeName}: " + interesting.map {
              case (k, m) => s"$k=${m.value}"
            }.mkString(" "))
        }
      }
    }
    spark.stop()
  }
}
