package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Status
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{GraftSession, SparkEntry, Tables}

/** The JVM half of the benchmark (run.py is the other half): one
  * session, one client, queries in the order run.py chose, every result
  * written in full to the `noop` sink.
  *
  *   setup --cores N --data DIR
  *       session ready and one table read, then exit
  *   run --cores N --data DIR --order FILE --seconds S --trace 0|1
  *       --kernel-rows R --seed X --out FILE --verify DIR
  *       a first pass, three unmeasured warm-up passes, then warm passes
  *       until S seconds are measured (at least four); with --trace 1 the
  *       first and every second warm pass are traced, then come a count()
  *       pass, the table scans and
  *       the kernel table. The record goes to FILE; the session is then
  *       handed to graft.Verify, which dumps every result under DIR and
  *       stops it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (spark, setupDoneMs) = setup(opts("cores").toInt, opts("data"))
    args(0) match {
      case "setup" =>
        // the sample is taken; skip the orderly shutdown, run.py removes
        // the temporary directories
        println(s"""{"setup_done_ms":$setupDoneMs}""")
        System.out.flush()
        Runtime.getRuntime.halt(0)
      case "run" => run(spark, setupDoneMs, opts)
    }
  }

  /** Passes keep getting faster for several passes after the first one
    * while the JIT compiles; these warm-up passes run but are not measured.
    */
  private val WarmupPasses = 3
  private val MinWarmPasses = 4

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def setup(cores: Int, data: String): (SparkSession, Long) = {
    val spark = GraftSession.builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    noop(Tables.nation(spark, data))
    (spark, System.currentTimeMillis())
  }

  private def heapMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** The isolation between queries, outside every timed window. */
  private def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def run(spark: SparkSession, setupDoneMs: Long, opts: Map[String, String]): Unit = {
    val sc = spark.sparkContext
    val data = opts("data")
    val traced = opts("trace") == "1"
    val seconds = opts("seconds").toDouble
    val order = Files.readAllLines(Paths.get(opts("order"))).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val queries = SparkEntry.queries
    val missing = order.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")

    /** One untraced execution: wall seconds, error, task CPU seconds read
      * afterwards from Spark's own status store.
      */
    def timed(name: String, action: DataFrame => Unit): Json.Obj = {
      val before = Status.lastStage(sc)
      val t0 = System.nanoTime()
      val err = try { action(queries(name)(spark, data)); None }
        catch { case e: Throwable => Some(e.toString) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpuNs = Status.cpuNsAfter(sc, before)
      isolate(spark)
      Json.Obj("name" -> name, "wall_s" -> wall, "cpu_s" -> cpuNs / 1e9,
        "error" -> err.orNull)
    }

    val trace = new Trace
    def tracedPass(kind: String, index: Int): Seq[Json.Obj] = {
      sc.addSparkListener(trace)
      spark.listenerManager.register(trace)
      try order.map(name => tracedOne(spark, sc, trace, name, queries(name), data) ++
        Json.Obj("pass" -> kind, "pass_index" -> index))
      finally {
        Status.drain(sc)
        sc.removeSparkListener(trace)
        spark.listenerManager.unregister(trace)
      }
    }

    val passes = ArrayBuffer[Json.Obj]()
    val records = ArrayBuffer[Json.Obj]()
    def pass(kind: String, isTraced: Boolean): Double = {
      val t0 = System.nanoTime()
      val qs = if (isTraced) { val r = tracedPass(kind, passes.size); records ++= r; r }
        else order.map(timed(_, noop))
      // elapsed includes the isolation between queries
      val elapsed = (System.nanoTime() - t0) / 1e9
      passes += Json.Obj("kind" -> kind, "traced" -> isTraced, "elapsed_s" -> elapsed, "queries" -> qs)
      elapsed
    }

    // a traced run traces the first pass and every second warm one, and
    // brackets each traced warm pass with untraced ones
    pass("first", traced)
    (1 to WarmupPasses).foreach(_ => pass("warmup", false))
    var measured = 0.0
    var warm = 0
    while (measured < seconds || warm < MinWarmPasses || (traced && warm % 2 == 0)) {
      measured += pass("warm", traced && warm % 2 == 1)
      warm += 1
    }
    log(f"$warm warm passes, $measured%.1f s measured")
    val extra = Json.Obj.newBuilder
    if (traced) {
      passes += Json.Obj("kind" -> "count", "traced" -> false,
        "queries" -> order.map(timed(_, df => { df.count(); () })))
      val loaders = Seq[(String, (SparkSession, String) => DataFrame)](
        "lineitem" -> Tables.lineitem, "orders" -> Tables.orders,
        "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
      extra += "tables" -> Json.Obj(loaders.map { case (t, load) =>
        t -> median((1 to 3).map { _ =>
          val t0 = System.nanoTime(); noop(load(spark, data)); (System.nanoTime() - t0) / 1e9
        })
      }: _*)
      extra += "kernels" -> Kernels.run(spark, opts("kernel-rows").toInt, opts("seed").toLong)
    }

    Files.writeString(Paths.get(opts("out")), Json.render(Json.Obj(Seq(
      "setup_done_ms" -> setupDoneMs,
      "cores" -> sc.defaultParallelism,
      "passes" -> passes.toSeq,
      "trace" -> records.toSeq) ++ extra.result(): _*)))
    log("record written, verifying")
    graft.Verify.main(Array(data, opts("verify")) ++ order.distinct)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val writeCommands = Set("OverwriteByExpression", "AppendData")

  /** One traced execution. Everything is raw: run.py derives the
    * per-layer metrics (job-interval union, gap, overlap) from it.
    */
  private def tracedOne(spark: SparkSession, sc: org.apache.spark.SparkContext, trace: Trace,
                        name: String,
                        fn: (SparkSession, String) => DataFrame, data: String): Json.Obj = {
    trace.reset()
    val cgNs0 = CodeGenerator.compileTime
    val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var buildS = Double.NaN
    var buildEndMs = startMs
    val err = try {
      val df = fn(spark, data)
      buildS = (System.nanoTime() - t0) / 1e9
      buildEndMs = System.currentTimeMillis()
      noop(df)
      None
    } catch { case e: Throwable => Some(e.toString) }
    val wall = (System.nanoTime() - t0) / 1e9
    Status.drain(sc)
    val cgS = (CodeGenerator.compileTime - cgNs0) / 1e9
    val cgN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0
    val leaked = sc.getPersistentRDDs.size

    val jobs = trace.jobList
    val tasks = trace.taskList.filter(_.taskMetrics != null)
    val buildJobIds = jobs.filter(_.startMs < buildEndMs).map(_.id).toSet
    val tm = tasks.map(_.taskMetrics)
    val persisted = trace.stageList.flatMap(_.rddInfos)
      .filter(_.storageLevel.isValid).map(_.id).distinct.size
    val write = trace.execList.filter(e => writeCommands(e.command)).lastOption
    val phases = write.map(_.phases).getOrElse(Map.empty)
    def phase(p: String): Double = phases.get(p).map { case (a, b) => (b - a) / 1e3 }.getOrElse(0.0)
    val cachedMb = trace.peakCachedMb
    isolate(spark)
    Json.Obj(
      "name" -> name, "error" -> err.orNull,
      "wall_s" -> wall, "build_s" -> (if (buildS.isNaN) wall else buildS),
      // [start, end] ms after the query started
      "jobs" -> jobs.map(j => Seq(j.startMs - startMs,
        (if (j.endMs < 0) System.currentTimeMillis() else j.endMs) - startMs)),
      "build_jobs" -> buildJobIds.size,
      "exec_jobs" -> (jobs.size - buildJobIds.size),
      "stages" -> trace.stageList.size,
      "tasks" -> tasks.size,
      "task_s" -> tm.map(_.executorRunTime).sum / 1e3,
      "task_cpu_s" -> tm.map(_.executorCpuTime).sum / 1e9,
      "gc_s" -> tm.map(_.jvmGCTime).sum / 1e3,
      "shuffle_write_mb" -> tm.map(_.shuffleWriteMetrics.bytesWritten).sum / 1048576.0,
      "shuffle_read_mb" -> tm.map(_.shuffleReadMetrics.totalBytesRead).sum / 1048576.0,
      "spill_mb" -> tm.map(m => m.memoryBytesSpilled + m.diskBytesSpilled).sum / 1048576.0,
      "analysis_s" -> phase("analysis"),
      "optimization_s" -> phase("optimization"),
      "planning_s" -> phase("planning"),
      "write_exec_s" -> write.map(_.durationNs / 1e9).getOrElse(0.0),
      "codegen_compile_s" -> cgS,
      "codegen_compiles" -> cgN,
      "persisted_rdds" -> persisted,
      "cached_mb" -> cachedMb,
      "leaked_caches" -> leaked,
      "heap_after_gc_mb" -> heapMb)
  }
}
