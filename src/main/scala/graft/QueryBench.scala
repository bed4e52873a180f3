package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Targeted per-query timing (dev loop for single-query optimization —
  * Bench.scala remains the driver-facing full sweep). Same measurement
  * contract as Bench: no-order plans through the noop sink, best of N.
  *
  * Pass 1 splits the query's wall time into plan construction (with the
  * number of Spark jobs it ran: eager `localCheckpoint`s execute corpus
  * passes there), analysis, optimization, physical planning and
  * execution (a DataFrame is analyzed when it is built, so analysis
  * time lands in construct and analyze reads near 0), and counts
  * expression nodes in the analyzed and optimized plans — driver-side
  * plan blowups (expression-tree duplication through project collapse)
  * that per-query totals hide. Passes 2..N are each timed whole; the
  * best pass is printed.
  *
  * Run: sbt "runMain graft.QueryBench q88_pipeline_fallback [q83_...]"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default:
  * the host's available processors), SPARK_GRAFT_PASSES (default 3); SPARK_GRAFT_METRICS prints the
  * last pass's per-operator SQL metrics. */
object QueryBench {
  def main(args: Array[String]): Unit = {
    System.setProperty(graft.queries.Q.NoOrderProp, "true")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val spark = GraftSession.local()
    try Tables.load(spark, sfDir, "lineitem").limit(1)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // Listener events are asynchronous: both counts below are read only
    // after the listener bus has drained.
    val jobs = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    def jobsSoFar(): Long = {
      ColumnBridge.drainListenerBus(spark.sparkContext)
      jobs.get()
    }
    // SPARK_GRAFT_METRICS: a noop write plans its OWN QueryExecution, so
    // its executed tree (with the metrics that run populated) only
    // reaches a listener.
    val metrics = sys.env.contains("SPARK_GRAFT_METRICS")
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    if (metrics) spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.isInstanceOf[V2TableWriteExec])
          writes.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    def exprNodes(p: QueryPlan[_]): Long = {
      var n = 0L
      p.foreach {
        case node: QueryPlan[_] =>
          node.expressions.foreach(_.foreach(_ => n += 1))
        case _ => ()
      }
      n
    }
    def s(ns: Long): Double = ns / 1e9

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      val jobs0 = jobsSoFar()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      val constructJobs = jobsSoFar() - jobs0
      val t1b = System.nanoTime()
      val analyzed = df.queryExecution.analyzed
      val t2 = System.nanoTime()
      val opt = df.queryExecution.optimizedPlan
      val t3 = System.nanoTime()
      df.queryExecution.executedPlan
      val t4 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t5 = System.nanoTime()
      println(f"[qbench] $name%-28s pass1 construct=${s(t1 - t0)}%.3f ($constructJobs jobs) analyze=${s(t2 - t1b)}%.3f optimize=${s(t3 - t2)}%.3f physical=${s(t4 - t3)}%.3f exec=${s(t5 - t4)}%.3f exprNodes analyzed=${exprNodes(analyzed)} optimized=${exprNodes(opt)}")
      val times = s(t1 - t0 + t5 - t1b) +: (2 to passes).map { _ =>
        val t = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        s(System.nanoTime() - t)
      }
      println(f"[qbench] $name%-28s best ${times.min}%.3f s  all ${times.map(t => f"$t%.3f").mkString(" ")}")
      if (metrics) {
        ColumnBridge.drainListenerBus(spark.sparkContext)
        val last = Iterator.continually(writes.poll()).takeWhile(_ != null)
          .toSeq.lastOption
        require(last.nonEmpty, s"$name: the last pass's write tree never arrived")
        // AQE final trees nest executed subtrees inside QueryStageExec
        // LEAVES (ResultQueryStage/ShuffleQueryStage/BroadcastQueryStage
        // in 4.1) — plain foreach stops at the stage boundary, so walk
        // through each stage's wrapped plan explicitly
        def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
          f(p)
          p match {
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
            case q: QueryStageExec => walk(q.plan)(f)
            case other => other.children.foreach(walk(_)(f))
          }
        }
        walk(last.get) { node =>
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
