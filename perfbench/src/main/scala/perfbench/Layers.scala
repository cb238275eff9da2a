package perfbench

import java.nio.file.{Files, Path}

/** Per-layer metrics and the span file of a traced pass. Layers are named
  * after graft's modules (`core`, `sources`, `operators`, `plans`) and
  * Spark's engine stages (`catalyst` planning, `exec` jobs). */
object Layers {
  private val MB = 1048576.0

  /** Gates whose job counts ROADMAP item 2 targets, plus the chain calls. */
  val GraphJobCalls = Seq("q_graph_cc", "q_graph_time_forward", "q_graph_forward_edges",
    "chain_cc", "chain_closure")

  def metrics(t: Tracer, untraced: PassResult, traced: PassResult): Map[String, Any] = {
    val cs = t.calls.toSeq
    def sum(f: CallTrace => Long): Long = cs.map(f).sum
    val tasks = sum(_.tasks)
    val wallMs = sum(_.wallMs)
    val jobMs = sum(_.jobUnionMs)
    def self(layer: String): Double = sum(_.selfTimes(layer)) / 1000.0
    val dedup = cs.filter(_.family == "dedup")
    val graphJobs = GraphJobCalls.map { n =>
      s"operators.graph.jobs.$n" -> cs.filter(_.name == n).map(_.jobs.size).sum
    }
    Map[String, Any](
      "catalyst.analysis_ms" -> sum(_.analysisMs),
      "catalyst.optimization_ms" -> sum(_.optimizationMs),
      "catalyst.planning_ms" -> sum(_.planningMs),
      "catalyst.exchanges" -> sum(_.exchanges.toLong),
      "catalyst.queries" -> sum(_.queries.toLong),
      "core.build_ms" -> sum(_.buildMs),
      "core.caches.cached_mb_peak" -> (if (cs.isEmpty) 0.0 else cs.map(_.cachedPeakBytes).max / MB),
      "core.caches.leaked_rdds" -> traced.calls.map(_.leaked).sum,
      "exec.jobs" -> sum(_.jobs.size.toLong),
      "exec.stages" -> sum(_.stages.toLong),
      "exec.tasks" -> tasks,
      "exec.task_s" -> sum(_.taskMs) / 1000.0,
      "exec.job_s" -> jobMs / 1000.0,
      "exec.driver_gap_s" -> (wallMs - jobMs) / 1000.0,
      "exec.empty_task_frac" -> (if (tasks == 0) 0.0 else sum(_.emptyTasks.toLong).toDouble / tasks),
      "exec.shuffle_read_mb" -> sum(_.shuffleReadBytes) / MB,
      "exec.shuffle_write_mb" -> sum(_.shuffleWriteBytes) / MB,
      "exec.spill_mb" -> sum(_.spillBytes) / MB,
      "exec.failed_tasks" -> sum(_.failedTasks.toLong),
      "sources.read_mb" -> sum(_.inputBytes) / MB,
      "sources.write_mb" -> sum(_.outputBytes) / MB,
      "operators.dedup.jobs" -> dedup.map(_.jobs.size).sum,
      "operators.dedup.task_s" -> dedup.map(_.taskMs).sum / 1000.0,
      "self.core_s" -> self("core"),
      "self.catalyst_s" -> self("catalyst"),
      "self.exec_s" -> self("exec"),
      "self.driver_s" -> self("driver"),
      "self.bench_s" -> (traced.wallS - wallMs / 1000.0),
      "trace.wall_s" -> traced.wallS,
      "trace.overhead_frac" -> (traced.wallS - untraced.wallS) / untraced.wallS
    ) ++ graphJobs
  }

  /** Writes the traced pass as spans (run, call, and per call its build,
    * Catalyst phases and jobs) and as one per-layer record per call. */
  def writeTrace(dir: Path, workload: String, seed: Long, t: Tracer, traced: PassResult): Unit = {
    val cs = t.calls.toSeq
    val spans = Seq.newBuilder[Map[String, Any]]
    val runStart = cs.headOption.map(_.startMs).getOrElse(0L)
    spans += Map("id" -> "run", "parent" -> None, "name" -> s"$workload/seed=$seed",
      "layer" -> "bench", "start_ms" -> runStart,
      "end_ms" -> (runStart + (traced.wallS * 1000).toLong))
    cs.foreach { c =>
      val id = s"c${c.seq}"
      spans += Map("id" -> id, "parent" -> "run", "name" -> c.name, "layer" -> "call",
        "start_ms" -> c.startMs, "end_ms" -> c.endMs)
      spans += Map("id" -> s"$id.build", "parent" -> id, "name" -> "build", "layer" -> "core",
        "start_ms" -> c.buildStartMs, "end_ms" -> c.buildEndMs)
      c.phases.zipWithIndex.foreach { case ((phase, s, e), i) =>
        spans += Map("id" -> s"$id.$phase$i", "parent" -> id, "name" -> phase,
          "layer" -> "catalyst", "start_ms" -> s, "end_ms" -> e)
      }
      c.jobs.foreach { case (job, (s, e)) =>
        spans += Map("id" -> s"$id.job$job", "parent" -> id, "name" -> s"job $job",
          "layer" -> "exec", "start_ms" -> s, "end_ms" -> e)
      }
    }
    val calls = cs.map { c =>
      Map[String, Any]("seq" -> c.seq, "name" -> c.name, "family" -> c.family,
        "wall_ms" -> c.wallMs, "core.build_ms" -> c.buildMs,
        "catalyst.analysis_ms" -> c.analysisMs, "catalyst.optimization_ms" -> c.optimizationMs,
        "catalyst.planning_ms" -> c.planningMs, "catalyst.exchanges" -> c.exchanges,
        "catalyst.queries" -> c.queries, "exec.jobs" -> c.jobs.size, "exec.stages" -> c.stages,
        "exec.tasks" -> c.tasks, "exec.task_s" -> c.taskMs / 1000.0,
        "exec.job_s" -> c.jobUnionMs / 1000.0,
        "exec.driver_gap_s" -> (c.wallMs - c.jobUnionMs) / 1000.0,
        "exec.empty_tasks" -> c.emptyTasks, "exec.failed_tasks" -> c.failedTasks,
        "exec.shuffle_read_mb" -> c.shuffleReadBytes / MB,
        "exec.shuffle_write_mb" -> c.shuffleWriteBytes / MB,
        "exec.spill_mb" -> c.spillBytes / MB, "sources.read_mb" -> c.inputBytes / MB,
        "sources.write_mb" -> c.outputBytes / MB,
        "core.caches.cached_mb_peak" -> c.cachedPeakBytes / MB,
        "self_ms" -> c.selfTimes)
    }
    Files.writeString(dir.resolve("spans.jsonl"), spans.result().map(Json.render).mkString("", "\n", "\n"))
    Files.writeString(dir.resolve("calls.jsonl"), calls.map(Json.render).mkString("", "\n", "\n"))
  }
}
