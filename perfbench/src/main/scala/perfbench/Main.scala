package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.core.Caches

/** Handed to each call: the session, plus a marker for the part of the
  * call that builds the DataFrame (graft's API work, including any eager
  * jobs an iterative operator runs before returning). */
final class CallContext(val spark: SparkSession) {
  var buildStartMs = 0L
  var buildEndMs = 0L
  def build[T](body: => T): T = {
    if (buildStartMs == 0L) buildStartMs = System.currentTimeMillis()
    try body finally buildEndMs = System.currentTimeMillis()
  }
}

/** One unit of timed work. `run` returns the number of output rows the
  * checks compare against the expected count; `bytes` reports what a
  * write call left on disk. */
final case class Call(name: String, family: String, run: CallContext => Long,
                      bytes: () => Long = () => 0L)

/** JVM side of the benchmark: builds the session (several times, for
  * `setup_s`), runs one warm-up pass over the workload's calls, then the
  * timed passes (or, with tracing on, one untraced and one traced pass
  * plus the kernel microbench), writes the outputs the checks need and a
  * `result.json` that `run.py` turns into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *               --inputs DIR --scratch DIR --out DIR */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val inputs = opt("inputs")
    val scratch = opt("scratch")
    val out = opt("out")
    Files.createDirectories(Paths.get(out))
    val cores = Runtime.getRuntime.availableProcessors()

    // setup_s: JVM start to a warmed session, then the same again in this
    // JVM (stop + rebuild + warm) so the median is taken over repeats
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark = session(cores, scratch)
    warm(spark, inputs)
    setups += (System.currentTimeMillis() - jvmStartMs) / 1000.0
    for (_ <- 1 until SetupRepeats) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = session(cores, scratch)
      warm(spark, inputs)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old"))
    oldGen.foreach(_.resetPeakUsage())

    val calls = Workloads.calls(workload, inputs, scratch)
    val runner = new Runner(spark)
    val warmPass = runner.pass(0, calls, None)
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val record = mutable.LinkedHashMap.empty[String, Any]
    if (!traced) {
      // closed loop, one call at a time; whole passes only, so every run
      // measures the same mix of calls
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      do passes += runner.pass(passes.size + 1, calls, None)
      while (System.nanoTime() < deadline)
    } else {
      val untraced = runner.pass(1, calls, None)
      val tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      val tracedPass = runner.pass(2, calls, Some(tracer))
      spark.listenerManager.unregister(tracer)
      spark.sparkContext.removeSparkListener(tracer)
      passes += untraced += tracedPass
      record("per_layer") = Layers.metrics(tracer, untraced, tracedPass) ++
        Kernels.run(spark, inputs)
      Layers.writeTrace(Paths.get(out), workload, seed, tracer, tracedPass)
    }
    record("pinned_rdds") = runner.pinned().map { case (id, call) => Map("rdd" -> id, "call" -> call) }
    record("old_gen_peak_mb") = oldGen.map(_.getPeakUsage.getUsed / 1048576.0).getOrElse(0.0)

    // outputs for the checks run.py makes after this JVM exits
    val checks = Workloads.writeCheckOutputs(spark, workload, inputs, seed,
      Paths.get(out, "check").toString)

    record("workload") = workload
    record("seed") = seed
    record("trace") = traced
    record("cores") = cores
    record("setup_s") = setups.toSeq
    record("jvm_args") = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    record("spark_confs") = spark.sparkContext.getConf.getAll
      .filterNot { case (k, _) => VolatileConfs.exists(k.startsWith) }.sorted
      .map { case (k, v) => k -> v }.to(mutable.LinkedHashMap)
    record("warm") = warmPass.toJson
    record("passes") = passes.map(_.toJson).toSeq
    record("checks") = checks
    record("scan_from") = Workloads.ScanFrom
    record("scan_to") = Workloads.ScanTo
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json.render(Workloads.oracleSql(calls)))
    Files.writeString(Paths.get(out, "result.json"), Json.render(record))
    spark.stop()
  }

  /** Confs that differ on every launch (ids, ports, hosts) or name a path. */
  private val VolatileConfs = Seq("spark.app.id", "spark.app.startTime",
    "spark.driver.host", "spark.driver.port", "spark.executor.id",
    "spark.local.dir", "spark.sql.warehouse.dir", "spark.app.submitTime")

  /** The benchmark's only session code: graft's session factory on
    * `local[cores]` with one shuffle partition per core, every scratch
    * path inside the benchmark's work directory. */
  def session(cores: Int, scratch: String): SparkSession = {
    val s = graft.GraftSession.builder("perfbench", cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session warm-up: a small aggregate (code generation, scheduler) and
    * a footer read of every input table. */
  private def warm(spark: SparkSession, inputs: String): Unit = {
    spark.range(200000).selectExpr("sum(id)", "count(distinct id % 7)").collect()
    Files.list(Paths.get(inputs)).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .foreach(p => spark.read.parquet(p.toString).schema)
  }
}

final case class CallResult(name: String, family: String, pass: Int, ms: Double,
                            rows: Long, bytes: Long, error: Option[String],
                            leaked: Int) {
  def toJson: Map[String, Any] = Map("name" -> name, "family" -> family,
    "ms" -> ms, "rows" -> rows, "bytes" -> bytes, "error" -> error, "leaked" -> leaked)
}

final case class PassResult(pass: Int, wallS: Double, calls: Seq[CallResult]) {
  def toJson: Map[String, Any] =
    Map("pass" -> pass, "wall_s" -> wallS, "calls" -> calls.map(_.toJson))
}

/** Runs calls one at a time the way a library user would: each inside
  * `Caches.scoped`, followed by `Caches.release()`. A persistent RDD that
  * survives both is counted as leaked by that call; [[pinned]] later tells
  * the leaks the JVM's garbage collector reclaims (Spark's context cleaner
  * unpersists an RDD once nothing references it) from those that stay
  * pinned for the session's lifetime. With a tracer, each call gets its
  * own job group and the listener bus is drained before the next call
  * starts. */
final class Runner(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var seq = 0
  private val leaked = mutable.LinkedHashMap.empty[Int, String]

  def pass(n: Int, calls: Seq[Call], tracer: Option[Tracer]): PassResult = {
    val t0 = System.nanoTime()
    val results = calls.map(c => one(n, c, tracer))
    PassResult(n, (System.nanoTime() - t0) / 1e9, results)
  }

  private def one(n: Int, c: Call, tracer: Option[Tracer]): CallResult = {
    seq += 1
    val group = s"perfbench-$seq"
    val before = sc.getPersistentRDDs.keySet
    val trace = tracer.map { t =>
      val ct = new CallTrace(seq, c.name, c.family)
      t.begin(group, ct)
      ct
    }
    sc.setJobGroup(group, c.name, interruptOnCancel = false)
    val ctx = new CallContext(spark)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val outcome =
      try Right(Caches.scoped(c.run(ctx)))
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val ms = (System.nanoTime() - t0) / 1e6
    val w1 = System.currentTimeMillis()
    Caches.release()
    sc.clearJobGroup()
    trace.foreach { ct =>
      PerfbenchBus.drain(sc)
      tracer.get.end()
      ct.startMs = w0
      ct.endMs = w1
      ct.buildStartMs = if (ctx.buildStartMs > 0) ctx.buildStartMs else w0
      ct.buildEndMs = if (ctx.buildEndMs > 0) ctx.buildEndMs else w0
    }
    val left = sc.getPersistentRDDs.keySet.filterNot(before.contains)
    left.foreach(leaked(_) = c.name)
    val bytes = if (outcome.isRight) c.bytes() else 0L
    CallResult(c.name, c.family, n, ms, outcome.getOrElse(-1L), bytes,
      outcome.left.toOption, left.size)
  }

  /** Leaked RDDs still persisted after garbage collection has had a few
    * seconds to let the context cleaner reclaim them, with the call that
    * left each; all leaked RDDs are unpersisted afterwards. */
  def pinned(): Seq[(Int, String)] = {
    val deadline = System.currentTimeMillis() + 5000
    def alive = leaked.toSeq.filter { case (id, _) => sc.getPersistentRDDs.contains(id) }
    var left = alive
    while (left.nonEmpty && System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(200)
      left = alive
    }
    left.foreach { case (id, _) => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)) }
    leaked.clear()
    left
  }
}
