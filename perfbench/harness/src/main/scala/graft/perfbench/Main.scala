package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** Benchmark harness: runs one workload against the library's public
  * entry points and writes a raw record (`raw.json`) that
  * `perfbench/run.py` turns into metrics. Each query is timed as a user
  * pays for it: build the frame with its registry function, then
  * materialize it through a `noop`-sink write.
  *
  * A run makes two fresh sessions (SparkContext + session), each with
  * the workload's timed set-up. The first, in the fresh JVM, then runs
  * one timed sweep over the query list and, untimed, writes every
  * query's output once as parquet with its oracle SQL for the DuckDB
  * check. The second, the measured session, sweeps until `--seconds`
  * of sweep time, `--min-samples` query executions (the first sweep's
  * included) and [[MinWarmSweeps]] sweeps are reached. With
  * `--trace 1` the measured session's set-up is traced and its sweeps
  * alternate untraced and traced. Measuring stops at [[MeasureLimitS]]
  * after start even when a minimum is not reached; `raw.json` then says
  * so (`forced_stop`) and `run.py` refuses the run.
  *
  * Usage: Main --workload W --data DIR --out DIR --seconds S --trace 0|1
  *             [--min-samples N] [--ids a,b,c] */
object Main {

  private case class Opts(workload: String, data: String, out: String,
      seconds: Double, trace: Boolean, minSamples: Int,
      ids: Option[Seq[String]])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(get("--workload"), get("--data"), get("--out"),
      get("--seconds").toDouble, m.get("--trace").contains("1"),
      m.get("--min-samples").map(_.toInt).getOrElse(100),
      m.get("--ids").map(_.split(",").toSeq.filter(_.nonEmpty)))
  }

  /** Sweeps the measured session must make (sweep_s is their median). */
  val MinWarmSweeps = 3
  /** Seconds after start at which measuring stops, in time for the
    * DuckDB check and the 180 s run limit. */
  val MeasureLimitS = 140L

  private val cores = Runtime.getRuntime.availableProcessors()
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def newSession(): SparkSession = {
    val tmp = sys.props("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.byName(o.workload)
    val registry = SparkEntry.queries
    val ids = o.ids.getOrElse(wl.ids)
    val missing = ids.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown query ids: ${missing.mkString(",")}")
    val moduleOf = Workloads.moduleOf
    val hardStop = now() + MeasureLimitS * 1000000000L

    val setups = ArrayBuffer[Map[String, Any]]()
    val samples = ArrayBuffer[Map[String, Any]]()
    val sweeps = ArrayBuffer[Map[String, Any]]()
    var sweepTime = 0.0
    var spanSeq = 0L
    def nextSpan(): Long = { spanSeq += 1; spanSeq }

    /** One pass over the query list; returns its wall time. */
    def sweep(spark: SparkSession, first: Boolean, traced: Boolean,
        probe: Option[Probe]): Double = {
      val sweepSpan = nextSpan()
      val t0 = now()
      val startMs = System.currentTimeMillis()
      ids.foreach { id =>
        val qSpan = nextSpan()
        val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
        val startQ = System.currentTimeMillis()
        val q0 = now()
        var q1 = q0
        var err: String = null
        try {
          spark.sparkContext.setLocalProperty(Trace.SpanProp, s"$qSpan:build")
          val df = registry(id)(spark, o.data)
          q1 = now()
          spark.sparkContext.setLocalProperty(Trace.SpanProp, s"$qSpan:execute")
          df.write.format("noop").mode("overwrite").save()
        } catch {
          case NonFatal(e) =>
            err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
            if (q1 == q0) q1 = now()
        } finally spark.sparkContext.setLocalProperty(Trace.SpanProp, null)
        val q2 = now()
        val rdds1 = spark.sparkContext.getPersistentRDDs.keySet
        probe.foreach(_.afterQuery())
        samples += Map("q" -> id, "module" -> moduleOf.getOrElse(id, "?"),
          "span" -> qSpan, "sweep" -> sweepSpan,
          "traced" -> traced, "build_s" -> secs(q0, q1),
          "exec_s" -> secs(q1, q2), "wall_s" -> secs(q0, q2),
          "start_ms" -> startQ, "end_ms" -> (startQ + (q2 - q0) / 1000000L),
          "rdds_built" -> (rdds1 -- rdds0).size,
          "rdds_dropped" -> (rdds0 -- rdds1).size,
          "ok" -> (err == null), "error" -> err)
      }
      val wall = secs(t0, now())
      sweepTime += wall
      sweeps += Map("span" -> sweepSpan, "first" -> first,
        "traced" -> traced, "wall_s" -> wall, "start_ms" -> startMs)
      wall
    }

    // First session, as a user's first run pays for it: timed set-up and
    // the first sweep. Then, untimed, the check dump: one result per
    // query plus its oracle. A query that throws here leaves no output,
    // so the check fails it.
    val c0 = now()
    var spark = newSession()
    val firstPhases = Setup.run(spark, o.data, wl)
    setups += Map("setup_s" -> secs(c0, now()), "phases" -> firstPhases)
    sweep(spark, first = true, traced = false, None)
    val checkDir = s"${o.out}/check"
    new java.io.File(checkDir).mkdirs()
    ids.distinct.foreach { id =>
      try registry(id)(spark, o.data).coalesce(1).write.mode("overwrite")
        .parquet(s"$checkDir/$id")
      catch { case NonFatal(e) => System.err.println(s"[perfbench] $id: $e") }
    }
    val oracle = SparkEntry.oracleSql
    val oracleSql = ids.distinct.flatMap(id =>
      oracle.get(id).map(id -> _.replace("__SF_DIR__", o.data))).toMap
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
      json.writeValueAsString(oracleSql))
    stop(spark)

    // Measured session: timed (and, in a traced run, traced) set-up,
    // then the warm sweeps.
    val t0 = now()
    spark = newSession()
    var trace: Trace = null
    var probe: Option[Probe] = None
    if (o.trace) {
      trace = new Trace(spark)
      probe = Some(new Probe(spark))
      trace.attach()
    }
    val phases = Setup.run(spark, o.data, wl)
    setups += Map("setup_s" -> secs(t0, now()), "phases" -> phases,
      "persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size,
      "storage_b" -> Probe.storageBytes(spark))
    if (o.trace) trace.detach()

    var warmSweeps = 0
    def reachedMinimums: Boolean = sweepTime >= o.seconds &&
      samples.size >= o.minSamples && warmSweeps >= MinWarmSweeps
    while (now() < hardStop && !reachedMinimums) {
      // a traced run alternates untraced and traced sweeps
      val traced = o.trace && warmSweeps % 2 == 1
      if (traced) { probe.foreach(_.reset()); trace.attach() }
      sweep(spark, first = false, traced, if (traced) probe else None)
      if (traced) { trace.detach(); probe.foreach(_.closeSweep()) }
      warmSweeps += 1
    }

    val raw = Map(
      "workload" -> o.workload, "cores" -> cores, "ids" -> ids,
      "min_samples" -> o.minSamples, "min_warm_sweeps" -> MinWarmSweeps,
      "warm_sweeps" -> warmSweeps, "forced_stop" -> !reachedMinimums,
      // every workload's fixpoint groups and modules, so that the
      // per-layer metric names are the same on every workload
      "fixpoint_groups" -> Workloads.warmedGroups,
      "modules" -> Workloads.measuredModules,
      "setups" -> setups,
      "sweeps" -> sweeps, "samples" -> samples,
      "trace_records" -> Option(trace).map(_.records),
      "probe" -> probe.map(_.records))
    Files.writeString(Paths.get(s"${o.out}/raw.json"),
      json.writeValueAsString(raw))
    stop(spark)
  }
}

/** Untimed session set-up of a workload, phase by phase: first read of
  * every table, then the workload's warm phases. Returns phase -> s. */
object Setup {
  def run(spark: SparkSession, dir: String, wl: Workload)
      : Seq[Map[String, Any]] = {
    def timed(kind: String, name: String)(f: => Unit): Map[String, Any] = {
      val t0 = System.nanoTime()
      spark.sparkContext.setLocalProperty(Trace.SpanProp, s"setup:$name")
      try f finally spark.sparkContext.setLocalProperty(Trace.SpanProp, null)
      Map("kind" -> kind, "name" -> name,
        "s" -> (System.nanoTime() - t0) / 1e9)
    }
    val reads = Tables.names.map(n =>
      timed("table", n)(Tables.t(spark, dir, n)))
    reads ++ wl.warm.map { case (name, f) => timed("warm", name)(f(spark, dir)) }
  }
}

/** Session-level counters the traced sweeps sample after each query:
  * cached block bytes (peak) and JVM GC time and heap (per sweep). */
final class Probe(spark: SparkSession) {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gc0 = 0L
  private var ckpt0 = 0L
  private var storagePeak = 0L
  private val perSweep = ArrayBuffer[Map[String, Any]]()

  private def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum

  def reset(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcMs
    ckpt0 = graft.streaming.EphemeralCheckpoint.committedCount
    storagePeak = Probe.storageBytes(spark)
  }

  def afterQuery(): Unit =
    storagePeak = math.max(storagePeak, Probe.storageBytes(spark))

  def closeSweep(): Unit = perSweep += Map(
    "gc_s" -> (gcMs - gc0) / 1e3,
    "heap_peak_b" -> heapPools.map(_.getPeakUsage.getUsed).sum,
    "storage_peak_b" -> storagePeak,
    "checkpoint_files" ->
      (graft.streaming.EphemeralCheckpoint.committedCount - ckpt0))

  def records: Seq[Map[String, Any]] = perSweep.toSeq
}

object Probe {
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
