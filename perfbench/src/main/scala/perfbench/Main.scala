package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal JSON text builders for the raw result file. */
object Json {
  def str(s: String): String = graft.core.JsonText.quote(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def nums(xs: Iterable[Double]): String = arr(xs.map(num))
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

final case class Settings(workload: String, seed: Long, seconds: Int,
    trace: Boolean, out: Path, data: Path, cpus: Int)

/** One timed operation: `items` units of work (messages, or 1 query) in
  * [startMs, endMs], with the JVM's GC time and Catalyst codegen compiles
  * that fell inside it.
  */
final case class Cell(kind: String, name: String, run: Int, items: Long,
    startMs: Double, endMs: Double, gcMs: Long, compiles: Long)

/** Everything one run measured, written raw; the runner derives every
  * metric from it.
  */
final class Report {
  var setupS = Double.NaN
  val cells = ArrayBuffer.empty[Cell]
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val failures = ArrayBuffer.empty[String]
  val oracleChecks = scala.collection.mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty) += v

  /** Counts one checked operation; a false check is a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A cell's starting point: wall clock, GC time, codegen compiles. */
  final case class Mark(ms: Double, gc: Long, compiles: Long)
  def mark(): Mark = Mark(Clock.nowMs, gcMs(), compiles())

  /** Records a cell that began at `m` and ends at `endMs`. */
  def cell(kind: String, name: String, run: Int, items: Long, m: Mark,
      endMs: Double): Unit =
    cells += Cell(kind, name, run, items, m.ms, endMs, gcMs() - m.gc,
      compiles() - m.compiles)

  /** Times `f` as one cell. */
  def timed[T](kind: String, name: String, run: Int, items: Long)(f: => T): T = {
    val m = mark()
    val r = f
    cell(kind, name, run, items, m, Clock.nowMs)
    r
  }
}

/** Session and process plumbing shared by every workload. */
object Env {
  /** The program's standard session, with every scratch directory moved
    * under the run's output directory.
    */
  def session(s: Settings): SparkSession = {
    val spark = graft.GraftSession.builder(s.cpus.toString)
      .config("spark.sql.warehouse.dir", s.out.resolve("warehouse").toString)
      .config("spark.local.dir", s.out.resolve("spark-local").toString)
      .config("spark.sql.streaming.checkpointLocation",
        s.out.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Materializes the full result of `df` — every column of every row, as
    * `graft.Bench.force` does — with planning as its own span.
    */
  def force(tr: Tracer, df: DataFrame): Long = {
    tr.span("spark.plan")(df.queryExecution.executedPlan)
    tr.span("spark.execute")(df.queryExecution.toRdd.count())
  }

  /** A full collection before a single-run cell, as graft.Bench does
    * between runs: a stop-the-world collection of earlier cells' garbage
    * (300–500 ms with the serial collector) then does not land inside it.
    */
  def collectGarbage(): Unit = System.gc()

  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally walk.close()
    }
}

/** A workload: how to set it up (session, brokers, warmup), run its timed
  * section, and run its layer-only phases in traced mode.
  */
abstract class Workload(val s: Settings, val tr: Tracer) {
  var spark: SparkSession = _
  def setUp(): Unit
  def measure(r: Report): Unit
  def layers(r: Report): Unit = Layers.run(s, tr, r, layerShape)
  def layerShape: Layers.Shape
}

object Main {
  private def parse(args: Array[String]): Settings = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Settings(need("--workload"), need("--seed").toLong,
      need("--seconds").toInt, need("--trace") == "1",
      Paths.get(need("--out")).toAbsolutePath,
      Paths.get(need("--data")).toAbsolutePath,
      need("--cpus").toInt)
  }

  def main(args: Array[String]): Unit = {
    val s = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Files.createDirectories(s.out)
    val tr = new Tracer(s.trace, s"${s.workload}-${s.seed}")
    val w: Workload = s.workload match {
      case "transport" => new TransportWorkload(s, tr)
      case "analytics" => new AnalyticsWorkload(s, tr)
      case "streaming" => new StreamingWorkload(s, tr)
      case other => throw new IllegalArgumentException(s"no workload $other")
    }
    val r = new Report
    // one set-up, timed from JVM start: process start and class loading count
    w.setUp()
    r.setupS = (Clock.nowMs - jvmStartMs) / 1000.0
    val sparkRec = new SparkRecorder
    val streamRec = new StreamRecorder
    if (s.trace) {
      w.spark.sparkContext.addSparkListener(sparkRec)
      w.spark.streams.addListener(streamRec)
    }
    def guarded(what: String)(f: => Unit): Unit =
      try f catch { case e: Throwable =>
        r.check(ok = false, s"$what aborted: $e")
        e.printStackTrace()
      }
    guarded(s.workload)(tr.span(s.workload)(w.measure(r)))
    // the peak belongs to the workload, not to the traced-only phases
    val peak = Env.peakRssMb()
    if (s.trace) guarded("layers")(w.layers(r))
    if (s.trace) awaitListeners(sparkRec)
    write(s, r, tr, sparkRec, streamRec, peak)
    // exiting ends the session, the brokers and every thread with the JVM
    System.exit(0)
  }

  /** The listener bus is asynchronous: wait until every started job has
    * ended, then a little longer for trailing task events.
    */
  private def awaitListeners(rec: SparkRecorder): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (rec.openJobs > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(300)
  }

  private def write(s: Settings, r: Report, tr: Tracer, sr: SparkRecorder,
      qr: StreamRecorder, peakRssMb: Double): Unit = {
    import Json._
    val cells = r.cells.map(c => obj("kind" -> str(c.kind),
      "name" -> str(c.name), "run" -> c.run.toString,
      "items" -> c.items.toString, "start_ms" -> num(c.startMs),
      "end_ms" -> num(c.endMs), "gc_ms" -> c.gcMs.toString,
      "compiles" -> c.compiles.toString))
    val spans = tr.recorded.map(x => obj("id" -> x.id.toString,
      "parent" -> x.parent.toString, "name" -> str(x.name),
      "start_ms" -> num(x.startMs), "end_ms" -> num(x.endMs),
      "run" -> str(x.run)))
    val (jobs, tasks) = sr.synchronized((sr.jobs.toList, sr.tasks.toList))
    val jobsJ = jobs.map(j => obj("id" -> j.id.toString,
      "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString,
      "stages" -> arr(j.stages.map(_.toString))))
    // compact rows; field order documented by `task_fields`
    val tasksJ = tasks.map(t => arr(Seq(t.stage, t.launchMs, t.finishMs,
      t.runMs, t.cpuNs, t.gcMs, t.deserMs, t.resultSerMs, t.gettingResultMs,
      t.shuffleReadBytes, t.shuffleWriteBytes, t.spillBytes).map(_.toString)))
    val progress = qr.synchronized(qr.progress.toList)
    val body = obj(
      "workload" -> str(s.workload), "seed" -> s.seed.toString,
      "seconds" -> s.seconds.toString, "trace" -> s.trace.toString,
      "cores" -> s.cpus.toString,
      "jdk" -> str(System.getProperty("java.version")),
      "spark" -> str(org.apache.spark.SPARK_VERSION),
      "setup_s" -> num(r.setupS),
      "peak_rss_mb" -> num(peakRssMb),
      "attempted" -> r.attempted.toString, "failed" -> r.failed.toString,
      "failures" -> arr(r.failures.map(str)),
      "cells" -> arr(cells),
      "samples" -> obj(r.samples.toSeq.map { case (k, v) => k -> nums(v) }: _*),
      "values" -> obj(r.values.toSeq.map { case (k, v) => k -> num(v) }: _*),
      "oracle" -> obj(r.oracleChecks.toSeq.map { case (k, v) => k -> str(v) }: _*),
      "spans" -> arr(spans), "jobs" -> arr(jobsJ),
      "task_fields" -> arr(Seq("stage", "launch_ms", "finish_ms", "run_ms",
        "cpu_ns", "gc_ms", "deser_ms", "result_ser_ms", "getting_result_ms",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes").map(str)),
      "tasks" -> arr(tasksJ),
      "progress" -> arr(progress))
    Files.write(s.out.resolve("result.json"), body.getBytes(UTF_8))
  }
}
