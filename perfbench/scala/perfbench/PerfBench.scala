package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfBenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.CacheRegistry

/** The measuring half of the benchmark: one JVM, one client in a closed
  * loop, calling the program's public API from outside.
  *
  * Usage: `perfbench.PerfBench <workload> <dataDir> <outDir> <workDir>
  * <seconds> <trace 0|1> <seed> <minPasses>`. Writes `<outDir>/raw.json`
  * (setup times, per-op samples, per-pass counters, spans) and, for the
  * correctness check, one parquet dump per checked op under
  * `<outDir>/check/`. Statistics and the oracle comparison are computed by
  * `run.py`. */
object PerfBench {
  /** Set-ups per run; the first is the JVM's cold one, so the median of
    * three is the slower of the two warm ones. */
  val SetupRepeats = 3

  /** Wall-clock anchor so nanoTime readings and Spark's epoch-ms event
    * times share one axis (milliseconds since the epoch, as doubles). */
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def session(cpus: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every cache an op left behind, so the next op starts cold of
    * the previous op's persists (the registry would otherwise serve a
    * timed op from the check pass). */
  def dropCaches(spark: SparkSession): Unit = {
    CacheRegistry.clear(blocking = true)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def heapUsedMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val Array(name, dataDir, outDir, workDir, secondsArg, traceArg, seedArg, minPassesArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val minPasses = minPassesArg.toInt
    val cpus = Runtime.getRuntime.availableProcessors
    new File(s"$outDir/check").mkdirs()
    val workload: Workload = name match {
      case "etl_leaderboard" => QueryWorkload.etl(dataDir, seedArg.toLong)
      case "store_load"      => new StoreLoad(dataDir, workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up, repeated: session start through the workload's warm-up op.
    var spark: SparkSession = null
    val setupS = (1 to SetupRepeats).map { _ =>
      if (spark != null) { dropCaches(spark); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(cpus, workDir)
      workload.warm(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val tCheck = System.nanoTime()

    // Untimed check pass: every op once, outputs dumped for the oracle. It
    // is also the warm-up for the timed passes.
    val check = new Runner(spark, workload).checkPass(s"$outDir/check")

    val checkS = (System.nanoTime() - tCheck) / 1e9

    // Timed passes until `seconds` have gone by, at least `minPasses`. The
    // JIT is still compiling the ops' paths after the check pass, so the
    // first timed passes run slower than later ones; each op's median over
    // the passes rejects those samples. A traced run alternates traced and
    // untraced passes, starting and ending traced, so the overhead compares
    // neighbours and two traced passes can be checked for counters that
    // repeat exactly.
    val runner = new Runner(spark, workload)
    val passes = mutable.ArrayBuffer.empty[Runner.Pass]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def more: Boolean =
      if (trace) passes.length < 3 || passes.length % 2 == 0 || System.nanoTime() < deadline
      else passes.length < minPasses || System.nanoTime() < deadline
    while (more)
      passes += runner.pass(passes.length + 1, traced = trace && passes.length % 2 == 0)

    val raw = Map(
      "workload" -> name,
      "nproc" -> cpus,
      "seconds" -> seconds,
      "setup_s" -> setupS,
      "check_s" -> checkS,
      "check" -> check,
      "ops_per_pass" -> workload.opNames,
      "params" -> workload.params,
      "storage_capacity_bytes" -> spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum,
      "passes" -> passes.map(_.toMap))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(s"$outDir/raw.json"), raw)
    dropCaches(spark)
    spark.stop()
  }
}

/** Per-op record the op body fills in: the span of the call into the
  * query function and the Catalyst phases of the plan it returned. */
final class OpCtx {
  var buildStartMs = Double.NaN
  var buildEndMs = Double.NaN
  val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]

  def build[T](body: => T): T = {
    buildStartMs = PerfBench.nowMs()
    try body finally buildEndMs = PerfBench.nowMs()
  }

  def record(df: DataFrame): Unit =
    df.queryExecution.tracker.phases.foreach { case (phase, s) =>
      phases += ((phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
    }
}

/** One op of a pass. `run` is the timed call and returns its output row
  * count (a DML op returns the version it committed); `dump`, when set,
  * is the frame the check pass writes for the oracle instead of running. */
final case class Op(name: String, kind: String, run: OpCtx => Long,
                    dump: Option[() => DataFrame] = None)

trait Workload {
  def warm(spark: SparkSession): Unit
  /** The ops of pass `n`, in run order (the same names every pass). */
  def ops(spark: SparkSession, n: Int): Seq[Op]
  def opNames: Seq[String]
  /** Untimed bookkeeping after an op of a traced pass; returns per-op
    * counters. It must warm no cache of the program's that the next
    * timed op would find. */
  def afterOp(spark: SparkSession, op: Op): Map[String, Double] = Map.empty
  /** Bookkeeping after the last op of a traced pass; returns per-pass
    * counters. */
  def afterPass(spark: SparkSession, n: Int): Map[String, Double] = Map.empty
  /** Called after every pass, traced or not. */
  def endPass(n: Int): Unit = ()
  /** Writes what the oracle needs beside the check pass's dumps. */
  def afterCheck(spark: SparkSession, checkDir: String): Unit = ()
  /** Parameters the oracle replay needs, recorded in raw.json. */
  def params: Map[String, Any] = Map.empty
}

object Runner {
  final case class Sample(op: String, kind: String, seconds: Double, rows: Long,
                          heapMb: Double, startMs: Double, endMs: Double,
                          ctx: OpCtx, extra: Map[String, Double], error: Option[String])

  final case class Pass(index: Int, traced: Boolean, seconds: Double,
                        samples: Seq[Sample], snapshot: Option[Recorder.Snapshot],
                        extra: Map[String, Double]) {
    def toMap: Map[String, Any] = Map(
      "index" -> index, "traced" -> traced, "seconds" -> seconds,
      "extra" -> extra,
      "ops" -> samples.map(s => Map(
        "op" -> s.op, "kind" -> s.kind, "seconds" -> s.seconds, "rows" -> s.rows,
        "heap_mb" -> s.heapMb, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "build" -> Seq(s.ctx.buildStartMs, s.ctx.buildEndMs).filterNot(_.isNaN),
        "phases" -> s.ctx.phases.map { case (p, a, b) => Map("name" -> p, "start_ms" -> a, "end_ms" -> b) },
        "extra" -> s.extra, "error" -> s.error.orNull)),
      "spark" -> snapshot.map(sn => Map(
        "tasks" -> sn.tasks.toMap,
        "peak_storage_bytes" -> sn.peakStorageBytes,
        "blocks_dropped" -> sn.blocksDropped,
        "jobs" -> sn.jobs.map(j => Map("id" -> j.jobId, "op" -> j.op.orNull,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs)),
        "stages" -> sn.stages.map(s => Map("id" -> s.stageId, "job" -> s.jobId,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "tasks" -> sn.perStage.get(s.stageId).map(_.toMap).orNull)))).orNull)
  }
}

final class Runner(spark: SparkSession, w: Workload) {
  import Runner._
  private val sc = spark.sparkContext

  /** Runs every op once, untimed; returns op -> "dumped", the rows an op
    * without a dump returned, or error text. */
  def checkPass(checkDir: String): Map[String, Any] = {
    val out = w.ops(spark, -1).map { op =>
      val res: Any =
        try op.dump match {
          case Some(frame) =>
            frame().coalesce(1).write.mode("overwrite").parquet(s"$checkDir/${op.name}")
            "dumped"
          case None => op.run(new OpCtx)
        } catch { case t: Throwable => s"ERROR ${t.getClass.getName}: ${t.getMessage}" }
      PerfBench.dropCaches(spark)
      op.name -> res
    }
    w.afterCheck(spark, checkDir)
    out.toMap
  }

  def pass(index: Int, traced: Boolean): Pass = {
    val recorder = if (traced) Some(new Recorder(sc)) else None
    recorder.foreach(sc.addSparkListener)
    val t0 = System.nanoTime()
    val samples = w.ops(spark, index).map { op =>
      val heap = PerfBench.heapUsedMb()
      val ctx = new OpCtx
      sc.setLocalProperty(Recorder.OpProperty, s"$index/${op.name}")
      val start = PerfBench.nowMs()
      val s0 = System.nanoTime()
      val (rows, err) =
        try (op.run(ctx), None)
        catch { case t: Throwable => (-1L, Some(s"${t.getClass.getName}: ${t.getMessage}")) }
      val secs = (System.nanoTime() - s0) / 1e9
      val end = PerfBench.nowMs()
      sc.setLocalProperty(Recorder.OpProperty, null)
      val extra = if (traced) w.afterOp(spark, op) else Map.empty[String, Double]
      PerfBench.dropCaches(spark)
      Sample(op.name, op.kind, secs, rows, heap, start, end, ctx, extra, err)
    }
    val passSecs = (System.nanoTime() - t0) / 1e9
    val snapshot = recorder.map { r =>
      PerfBenchBus.drain(sc)
      sc.removeSparkListener(r)
      r.snapshot()
    }
    val extra = if (traced) w.afterPass(spark, index) else Map.empty[String, Double]
    w.endPass(index)
    Pass(index, traced, passSecs, samples, snapshot, extra)
  }
}
