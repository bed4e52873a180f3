package graft.etlbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GraftSession, Pipeline, SparkEntry}
import graft.operators.Retrieval
import graft.queries.{CorePack, Q}
import graft.sources.Writers

/** One benchmark run in a fresh JVM: session build, workload set-up, one
  * cold round, `--rounds` warm rounds, then the workload's closing
  * operations. A single client thread issues one operation at a time
  * (closed loop). Raw timings, failures and, with `--trace 1`, the
  * per-layer metrics go to `--result` as JSON; `run.py` turns them into
  * the benchmark's metrics and checks the outputs. */
object Main {
  final case class Opts(workload: String, rounds: Int, trace: Boolean,
                        data: String, runDir: String, cpus: Int,
                        t0Ms: Long, result: String, traceOut: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Opts(m("--workload"), m("--rounds").toInt, m("--trace") == "1",
      m("--data"), m("--run-dir"), m("--cpus").toInt, m("--t0-ms").toLong,
      m("--result"), m.getOrElse("--trace-out", ""))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    System.setProperty(Q.NoOrderProp, "true")
    val tracer = new Tracer(o.trace)
    val spark = tracer.span("session.build") {
      GraftSession.build(s"local[${o.cpus}]", o.cpus.toString)
    }
    tracer.attach(spark)
    val ops = new Ops(tracer)
    val wl: Workload = o.workload match {
      case "etl_tail" => new QueryWorkload(spark, o, ops, QueryWorkload.EtlTail)
      case "layout_epochs" => new LayoutWorkload(spark, o, ops)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    wl.setup()
    val setupS = (System.currentTimeMillis() - o.t0Ms) / 1e3

    // Round 0 is the cold round. Only `wl.round` is timed; what the
    // checks need afterwards is recorded outside the timed region.
    val jvm = new JvmClock
    val rounds = mutable.ArrayBuffer[(Int, Double)]()
    var coldJit, warmCpu, warmGc = 0.0
    def round(r: Int): Unit = {
      tracer.round = r
      val (t, cpu, gc, jit) = (System.nanoTime(), jvm.cpuMs, jvm.gcMs, jvm.jitMs)
      tracer.span("round") { wl.round(r) }
      rounds += r -> (System.nanoTime() - t) / 1e6
      if (r == 0) coldJit = jvm.jitMs - jit
      else { warmCpu += jvm.cpuMs - cpu; warmGc += jvm.gcMs - gc }
      wl.afterRound(r)
    }
    (0 to o.rounds).foreach(round)
    tracer.round = o.rounds + 1
    tracer.span("finish") { wl.finish() }
    val heapMb = jvm.liveHeapMb()
    if (o.trace) org.apache.spark.etlbench.ListenerBusDrain(spark.sparkContext)

    val layers =
      if (!o.trace) Map.empty[String, Double]
      else new Layers(tracer, o, rounds.toMap).metrics ++ wl.layerMetrics ++
        Map("jvm.gc_ms" -> warmGc / o.rounds, "jvm.jit_ms" -> coldJit)
    if (o.trace && o.traceOut.nonEmpty)
      Files.writeString(Paths.get(o.traceOut), tracer.toJson)

    val json = new StringBuilder("{")
    json ++= s""""setup_s":$setupS,"cpu_ms_warm":$warmCpu,"""
    json ++= s""""live_heap_mb":$heapMb,"attempted":${ops.attempted},"""
    json ++= s""""rounds":${rounds.map { case (r, ms) =>
      s"""{"round":$r,"wall_ms":$ms}""" }.mkString("[", ",", "]")},"""
    json ++= s""""ops":${ops.samples.map { case (n, r, ms) =>
      s"""{"op":"$n","round":$r,"ms":$ms}""" }.mkString("[", ",", "]")},"""
    json ++= s""""failed":${ops.failed.map { case (n, r, e) =>
      s"""{"op":"$n","round":$r,"error":${Json.str(e)}}""" }
      .mkString("[", ",", "]")},"""
    json ++= s""""extra":${Json.obj(wl.extra)},"""
    json ++= s""""layers":${layers.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":$v""" }.mkString("{", ",", "}")}}"""
    Files.writeString(Paths.get(o.result), json.toString)
    spark.stop()
  }
}

/** Times each operation with the monotonic clock, and records a failure
  * instead of aborting the run. */
final class Ops(val tracer: Tracer) {
  val samples = mutable.ArrayBuffer[(String, Int, Double)]()
  val failed = mutable.ArrayBuffer[(String, Int, String)]()
  var attempted = 0

  def apply(name: String)(body: => Unit): Unit = {
    attempted += 1
    val t = System.nanoTime()
    try tracer.span(name)(body)
    catch { case e: Throwable =>
      failed += ((name, tracer.round, s"${e.getClass.getName}: ${e.getMessage}"))
    }
    samples += ((name, tracer.round, (System.nanoTime() - t) / 1e6))
  }
}

/** Process CPU, GC and JIT time, and the live heap (JMX beans). */
final class JvmClock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuMs: Double = os.getProcessCpuTime / 1e6
  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  def jitMs: Double = ManagementFactory.getCompilationMXBean
    .getTotalCompilationTime.toDouble
  /** Heap in use after full collections; the pause between them lets
    * Spark's cleaner drop blocks whose owners the first one freed. */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(300); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Json {
  def str(s: String): String = "\"" + Option(s).getOrElse("").flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }
      .mkString("{", ",", "}")
}

trait Workload {
  def setup(): Unit
  def round(r: Int): Unit
  /** Untimed, after each round: record what the checks need. */
  def afterRound(r: Int): Unit = ()
  def finish(): Unit = ()
  /** Per-layer metrics only this workload can compute (traced runs). */
  def layerMetrics: Map[String, Double] = Map.empty
  /** Raw JSON values for run.py (oracle SQL, output paths). */
  def extra: Map[String, String] = Map.empty
}

object QueryWorkload {
  /** Two reference ETL DAGs (config-driven projection, fingerprint,
    * delta split and classifier; the 600k-row delta shuffle) and two
    * job-bound analytics queries (an iterative loop; an eager-checkpoint
    * site). */
  val EtlTail = Seq("q83_pipeline_e2e", "q22_delta_antijoin",
    "q103_pagerank", "q148_collocations")
}

/** A declared-query set, each query forced through the noop sink on its
  * un-ordered plan as `graft.Bench` does. After the last round, untimed,
  * the DataFrames that round built are written as parquet: that is the
  * output run.py checks against DuckDB. */
final class QueryWorkload(spark: SparkSession, o: Main.Opts, ops: Ops,
                          names: Seq[String]) extends Workload {
  private val dumpDir = s"${o.runDir}/dump"
  private val t = ops.tracer
  private val last = mutable.Map[String, DataFrame]()

  def setup(): Unit = {
    // parquet footers and the reader path, as graft.Bench warms them
    t.span("setup.warm") {
      graft.Tables.load(spark, o.data, "lineitem").limit(1)
        .write.format("noop").mode("overwrite").save()
    }
  }

  def round(r: Int): Unit = names.foreach { name =>
    last -= name
    ops(s"op:$name") {
      val df = t.span("queries.construct") {
        SparkEntry.queries(name)(spark, o.data)
      }
      t.span("operators.exec") {
        df.write.format("noop").mode("overwrite").save()
      }
      last(name) = df
    }
  }

  /** The last round's outputs as parquet; a query whose round failed, or
    * whose output cannot be written, leaves no dump and so fails the
    * check. The DataFrames are released before the heap is measured. */
  private def dump(): Unit = {
    for ((name, df) <- last)
      try df.write.mode("overwrite").parquet(s"$dumpDir/$name")
      catch { case e: Exception =>
        System.err.println(s"etlbench: dump of $name failed: $e") }
    last.clear()
  }

  override def finish(): Unit = {
    t.span("dump")(dump())
    if (t.enabled) pipelinePrefixes()
  }

  /** Stage prefixes of q83's DAG on its own input, each through the noop
    * sink (traced runs only): what projection, cleaning and
    * fingerprinting each add before the delta split and classifier. */
  private def pipelinePrefixes(): Unit = {
    val cfg = CorePack.e2eConfig
    val raw = CorePack.e2eRaw(spark, o.data)
    val cleaned = Pipeline.clean(Pipeline.project(raw, cfg), cfg)
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    t.span("pipeline.project")(noop(Pipeline.project(raw, cfg)))
    t.span("pipeline.clean")(noop(cleaned))
    t.span("pipeline.fingerprint")(noop(Pipeline.fingerprint(cleaned, cfg)))
    t.span("pipeline.run")(noop(Pipeline.run(raw,
      CorePack.e2eState(spark, o.data), cfg, gated = false)))
  }

  override def extra: Map[String, String] = Map(
    "dump_dir" -> Json.str(dumpDir),
    "oracle_sql" -> Json.obj(names.map(n =>
      n -> Json.str(SparkEntry.oracleSql(n))).toMap))
}

/** The reference's incremental loop against a stored BM25 layout. The
  * cold round builds the layout from the seeded base slice (the first
  * heavy operation of a fresh JVM); each warm round is one epoch of
  * generated batches (new, changed, removed documents and the epoch's
  * state rows) applied through the public `Writers` verbs, then a live
  * probe and an as-of probe at the previous generation. The run closes
  * with a compaction and one more probe. Probe results, live counts and
  * generations are written out after each round, untimed, for run.py's
  * checks. */
final class LayoutWorkload(spark: SparkSession, o: Main.Opts, ops: Ops)
    extends Workload {
  private val t = ops.tracer
  private val batches = s"${o.runDir}/batches"
  private val layout = s"${o.runDir}/layout"
  private val state = s"${o.runDir}/state"
  private val probes = s"${o.runDir}/probes"
  private val terms = Seq("join", "filter", "scan")
  private val gens = mutable.ArrayBuffer[Long]()
  private val info = mutable.ArrayBuffer[String]()
  private var live, asOf = Array.empty[org.apache.spark.sql.Row]

  private def batch(e: Int, kind: String): DataFrame =
    spark.read.parquet(s"$batches/epoch_$e/$kind.parquet")

  private def probe(asOf: Option[Long]): Array[org.apache.spark.sql.Row] = {
    val stats = asOf.fold(spark.read.parquet(s"$layout/stats"))(
      g => Writers.bm25StatsAsOf(spark, layout, g))
    Retrieval.bm25Stored(Writers.prunedBm25Tf(spark, layout, terms, asOf),
      stats, "doc_id", terms).collect()
  }

  private def dump(name: String, rows: Array[org.apache.spark.sql.Row]): Unit =
    Files.writeString(Paths.get(s"$probes/$name.csv"), rows.map(r =>
      s"${r.getLong(0)},${r.getLong(1)},${java.lang.Double.toString(r.getDouble(2))}")
      .mkString("doc_id,n_terms,bm25\n", "\n", "\n"))

  /** Describes the layout for the live-count check and the next as-of
    * horizon, and writes out the epoch's probes. */
  override def afterRound(e: Int): Unit = {
    if (e > 0) {
      dump(s"epoch_${e}_live", live)
      dump(s"epoch_${e}_asof", asOf)
    }
    val d = Writers.describeBm25Index(spark, layout)
    gens += d.nextGen
    info += s"""{"epoch":$e,"live":${d.liveDocs},"next_gen":${d.nextGen},""" +
      s""""tombstones":${d.tombstoneRows},"state_version":${
        Writers.latestVersion(state).getOrElse(-1L)}}"""
  }

  def setup(): Unit = Files.createDirectories(Paths.get(probes))

  def round(e: Int): Unit = if (e == 0) {
    ops("writers.build") {
      Writers.writeBm25Index(spark.read.parquet(s"$batches/base.parquet"), layout)
    }
  } else {
    live = Array.empty; asOf = Array.empty
    ops("writers.merge")(Writers.mergeBm25Index(spark, layout, batch(e, "new")))
    ops("writers.update")(Writers.updateBm25Index(spark, layout, batch(e, "changed")))
    ops("writers.delete")(Writers.deleteFromBm25Index(spark, layout, batch(e, "deleted")))
    ops("writers.state_merge")(Writers.mergeState(spark, state, batch(e, "state"),
      Seq("doc_id"), col("version")))
    ops("writers.probe") { live = probe(None) }
    ops("writers.asof_probe") { asOf = probe(Some(gens.last)) }
  }

  override def finish(): Unit = {
    var after = Array.empty[org.apache.spark.sql.Row]
    ops("writers.compact")(Writers.compactBm25Index(spark, layout))
    ops("writers.final_probe") { after = probe(None) }
    dump("compacted_live", after)
  }

  private def du(dir: String): Long =
    if (!Files.exists(Paths.get(dir))) 0L
    else Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  override def layerMetrics: Map[String, Double] =
    Map("writers.stored_mb" -> (du(layout) + du(state)) / 1048576.0)

  override def extra: Map[String, String] = Map(
    "epochs" -> info.mkString("[", ",", "]"),
    "probe_dir" -> Json.str(probes),
    "state_dir" -> Json.str(state),
    "oracle_sql" -> Json.str(SparkEntry.oracleSql("q169_bm25_stored")))
}
