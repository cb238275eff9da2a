package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.Caches
import graft.operators.GraphOps
import graft.sources.TsvIO

/** The calls each workload makes, in a fixed order. Gate lists are named
  * here, not derived from the registry, so adding a gate to graft never
  * changes what a workload measures; a gate missing from the registry
  * fails the run. Streaming gates are left out of every workload: they are
  * floored by Spark's micro-batch path, not by graft. */
object Workloads {

  /** Fixed per-query cost: every 15th gate (by name) of the registry's
    * non-graph, non-dedup, non-streaming gates, on the sf0.01 input. The
    * workload also runs the benchmark's own `sources` round trips. */
  val Interactive: Seq[String] = Seq(
    "q_add_const_copy", "q_array_matches", "q_difference", "q_filter_in", "q_fuzz_06",
    "q_fuzz_21", "q_fuzz_36", "q_fuzz_51", "q_fuzz_66", "q_fuzz_81", "q_left_join",
    "q_range_join_overlap", "q_select", "q_text_chunk", "q_topk_conditional",
    "q_window_aggregate_ref")

  /** Driver-orchestrated loops and the text kernels. */
  val IterativeGraph: Seq[String] = Seq(
    "q_graph_cc", "q_graph_time_forward", "q_graph_forward_edges")
  val IterativeDedup: Seq[String] = Seq("q_dedup_minhash_cc", "q_dedup_simhash")

  /** Date window the interactive workload's partitioned scan reads. */
  val ScanFrom = "20240105"
  val ScanTo = "20240118"

  /** Content-compare sample size per run (seeded, outside the timed part). */
  private val CheckSample = Map("interactive" -> 4, "iterative" -> 1)

  def names: Seq[String] = Seq("interactive", "iterative")

  def calls(workload: String, inputs: String, scratch: String): Seq[Call] = {
    val registry = SparkEntry.queries
    def gates(names: Seq[String], family: String): Seq[Call] = names.map { n =>
      val fn = registry.getOrElse(n, sys.error(s"gate $n is not registered in SparkEntry.queries"))
      Call(n, family, ctx => ctx.build(fn(ctx.spark, inputs)).count())
    }
    workload match {
      case "interactive" => gates(Interactive, "gate") ++ sources(inputs, s"$scratch/sources")
      case "iterative" =>
        gates(IterativeGraph, "graph") ++ gates(IterativeDedup, "dedup") ++ chains(inputs)
      case other => sys.error(s"unknown workload $other (known: ${names.mkString(", ")})")
    }
  }

  /** The benchmark's own `sources` calls: gzip TSV write then read-back of
    * two tables, and a date-partitioned write then a pruned range scan. */
  private def sources(inputs: String, dir: String): Seq[Call] = {
    def table(ctx: CallContext, t: String): DataFrame =
      ctx.build(ctx.spark.read.parquet(s"$inputs/$t.parquet"))
    val tsv = Seq("lineitem", "orders").flatMap { t =>
      val path = s"$dir/$t.tsv"
      Seq(
        Call(s"tsv_write.$t", "sources.write",
          ctx => { TsvIO.write(table(ctx, t), path, codec = "gzip"); 0L },
          bytes = () => diskBytes(path)),
        Call(s"tsv_read.$t", "sources.read",
          ctx => ctx.build(TsvIO.read(ctx.spark, path)).count()))
    }
    val byDate = s"$dir/events_by_date"
    tsv ++ Seq(
      Call("date_write.events", "sources.write",
        ctx => { TsvIO.writePartitionedByDate(table(ctx, "events"), "ts", byDate); 0L },
        bytes = () => diskBytes(byDate)),
      Call("date_scan.events", "sources.read",
        ctx => ctx.build(TsvIO.scanByDateRange(ctx.spark, byDate, ScanFrom, ScanTo)).count()))
  }

  /** Component labels (node_id, component) from the latest `chain_cc`
    * call, for the union-find check. */
  @volatile private var chainLabels: Array[(Long, Long)] = Array.empty

  /** Connected components and ancestor closure over the seeded chain
    * forest, where loop rounds rather than data volume set the cost. The
    * components are collected (a few hundred rows) so the check needs no
    * second run of the loop. */
  private def chains(inputs: String): Seq[Call] = {
    def edges(ctx: CallContext): DataFrame = ctx.spark.read.parquet(s"$inputs/chains.parquet")
    Seq(
      Call("chain_cc", "graph", ctx => {
        val labels = ctx.build(GraphOps.connectedComponents(edges(ctx)))
          .select("node_id", "component").collect().map(r => (r.getLong(0), r.getLong(1)))
        chainLabels = labels
        labels.length.toLong
      }),
      Call("chain_closure", "graph", ctx => ctx.build(GraphOps.ancestorClosure(edges(ctx))).count()))
  }

  private def diskBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot { f => val b = f.getFileName.toString; b.startsWith(".") || b.startsWith("_") }
        .map(Files.size).sum
      finally walk.close()
    }
  }

  /** DuckDB oracle SQL of every gate a call list makes. */
  def oracleSql(calls: Seq[Call]): Map[String, String] = {
    val sql = SparkEntry.oracleSql
    calls.flatMap(c => sql.get(c.name).map(c.name -> _)).toMap
  }

  /** Outputs for the content checks, written after the timed part: a
    * seeded sample of gates as parquet (what `scripts/check_oracle.py`
    * compares, with an `oracle_sql.json` naming just them), and for the
    * iterative workload the chain forest's component labels. */
  def writeCheckOutputs(spark: SparkSession, workload: String, inputs: String, seed: Long,
                        dir: String): Map[String, Any] = {
    val sql = SparkEntry.oracleSql
    val registry = SparkEntry.queries
    val pool = workloadGates(workload).filter(sql.contains)
    val sample = new scala.util.Random(seed).shuffle(pool).take(CheckSample(workload)).sorted
    Files.createDirectories(Paths.get(dir))
    sample.foreach { g =>
      Caches.scoped(registry(g)(spark, inputs).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$g"))
      Caches.release()
    }
    Files.writeString(Paths.get(dir, "oracle_sql.json"), Json.render(sample.map(g => g -> sql(g)).toMap))
    val chain = if (workload == "iterative") {
      val path = Paths.get(dir, "chain_cc.json")
      Files.writeString(path, Json.render(Map(
        "node_id" -> chainLabels.map(_._1).toSeq, "component" -> chainLabels.map(_._2).toSeq)))
      Some(path.toString)
    } else None
    Map("gates" -> sample, "chain_cc" -> chain)
  }

  private def workloadGates(workload: String): Seq[String] = workload match {
    case "interactive" => Interactive
    case "iterative" => IterativeGraph ++ IterativeDedup
    case _ => Nil
  }
}
