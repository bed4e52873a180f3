package graft.etlbench

/** Per-layer metrics from a traced run's spans. Round-scoped metrics are
  * per warm round (totals over rounds 1..n divided by n); set-up and
  * closing spans are reported once. Spark work is attributed to the
  * client span that was innermost when its job started. */
final class Layers(t: Tracer, o: Main.Opts, roundWallMs: Map[Int, Double]) {
  private val all = t.allSpans
  private val client = all.filter(s => s.name != "spark.job" &&
    !s.name.startsWith("catalyst."))
  private val children = client.groupBy(_.parent)
  private val warm = (1 to o.rounds).toSet
  private val n = o.rounds.toDouble

  private def isWarm(s: Span) = warm.contains(s.round)
  private def named(name: String): Seq[Span] = client.filter(_.name == name)
  private def warmMs(name: String): Double =
    named(name).filter(isWarm).map(_.ms).sum / n
  private def onceMs(name: String): Double = named(name).map(_.ms).sum

  private def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)
  private def workIn(spans: Seq[Span]): Work = {
    val w = new Work
    spans.flatMap(subtree).map(_.id).distinct
      .foreach(id => t.work.get(id).foreach(w.add))
    w
  }
  private def warmWork(name: String): Work = workIn(named(name).filter(isWarm))

  /** Catalyst phases of actions run in warm rounds, per warm round. */
  private def phaseMs(phase: String): Double =
    all.filter(s => s.name == s"catalyst.$phase" && isWarm(s)).map(_.ms).sum / n

  def metrics: Map[String, Double] = {
    val rounds = named("round").filter(isWarm)
    val w = workIn(rounds)
    val wallMs = warm.toSeq.map(roundWallMs).sum
    val mb = 1048576.0
    val perQuery = QueryWorkload.EtlTail.flatMap { q =>
      val opSpans = named(s"op:$q").filter(isWarm)
      val exec = opSpans.flatMap(s => children.getOrElse(s.id, Nil))
        .filter(_.name == "operators.exec")
      Seq(s"q.$q.exec_ms" -> exec.map(_.ms).sum / n,
        s"q.$q.jobs" -> workIn(opSpans).jobs / n)
    }
    val verbs = Seq("writers.merge", "writers.update", "writers.delete",
      "writers.state_merge")
    val verbWork = workIn(verbs.flatMap(named).filter(isWarm))
    Map(
      "session.build_ms" -> onceMs("session.build"),
      "queries.construct_ms" -> warmMs("queries.construct"),
      "queries.construct_jobs" -> warmWork("queries.construct").jobs / n,
      "pipeline.project_ms" -> onceMs("pipeline.project"),
      "pipeline.clean_ms" -> onceMs("pipeline.clean"),
      "pipeline.fingerprint_ms" -> onceMs("pipeline.fingerprint"),
      "pipeline.run_ms" -> onceMs("pipeline.run"),
      "catalyst.analysis_ms" -> phaseMs("analysis"),
      "catalyst.optimization_ms" -> phaseMs("optimization"),
      "catalyst.planning_ms" -> phaseMs("planning"),
      "scheduler.jobs" -> w.jobs / n,
      "scheduler.stages" -> w.stages / n,
      "scheduler.tasks" -> w.tasks / n,
      "scheduler.task_s" -> w.taskMs / 1e3 / n,
      "scheduler.busy_frac" -> w.taskMs / (wallMs * o.cpus),
      "shuffle.write_mb" -> w.shuffleWrite / mb / n,
      "shuffle.read_mb" -> w.shuffleRead / mb / n,
      "shuffle.spill_mb" -> w.spill / mb / n,
      "sources.scan_mb" -> w.inBytes / mb / n,
      "sources.scan_rows" -> w.inRecords / n,
      "writers.build_ms" -> onceMs("writers.build"),
      "writers.merge_ms" -> warmMs("writers.merge"),
      "writers.update_ms" -> warmMs("writers.update"),
      "writers.delete_ms" -> warmMs("writers.delete"),
      "writers.state_merge_ms" -> warmMs("writers.state_merge"),
      "writers.compact_ms" -> onceMs("writers.compact"),
      "writers.probe_ms" -> warmMs("writers.probe"),
      "writers.asof_probe_ms" -> warmMs("writers.asof_probe"),
      "writers.verb_jobs" -> verbWork.jobs / n,
      "writers.bytes_written_mb" -> verbWork.outBytes / mb / n,
    ) ++ perQuery
  }
}
