package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One operation of the timed phase: its latency, whether its output
  * checks passed, and whether its latency counts toward the operation
  * percentiles (runInit is checked but is not an operation). */
final case class Op(kind: String, seconds: Double, ok: Boolean,
    note: String = "", latency: Boolean = true)

/** What a workload hands back to the harness. */
final class Outcome {
  val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
  var records = 0L
  val notes = scala.collection.mutable.ArrayBuffer.empty[String]
  /** Content hash of the pass's final outputs, when the workload has one. */
  var fingerprint = ""
  /** Time spent in output checks, which the timed phase excludes. */
  var checkNanos = 0L

  def untimed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally checkNanos += System.nanoTime() - t0
  }
}

/** Context shared by the workloads: session, generated inputs, scratch
  * space, and the benchmark's fixed tables (`data`). */
final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
    val manifest: JsonNode, val data: String) {
  /** Timed passes run in fresh output directories. */
  var pass = 0
  def dir(name: String): String = {
    val d = new File(work, s"$name-$pass"); d.mkdirs(); d.getPath
  }
}

trait Workload {
  /** Untimed: warm the session and build whatever the timed phase reads. */
  def setup(ctx: Ctx): Unit
  /** The timed phase; spans go through `tr`. */
  def run(ctx: Ctx, tr: Tracer, out: Outcome): Unit
  /** Traced runs only, after the timed phase: calls whose layers the
    * timed phase does not reach, each under its own span and checked. */
  def traceExtras(ctx: Ctx, tr: Tracer, out: Outcome): Unit = ()
}

/** Benchmark harness entry point:
  * `Main <workload> <inputs dir> <work dir> <trace 0|1> <result json>
  * <launch epoch ms> <data dir>`.
  * Writes raw measurements (operation latencies, spans, per-task
  * records, health counters, diagnostics) to the result file;
  * perfbench/run.py turns them into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(name, inputs, work, traceArg, resultPath, launchMs, data) = args
    val cores = sys.env.getOrElse("PERFBENCH_CORES", "4").toInt
    val traced = traceArg == "1"
    val workload: Workload = name match {
      case "tfl_weekly_etl" => new EtlWorkload
      case "curation_cadence" => new CurationWorkload
      case "operator_mix" => new OperatorWorkload
      case other => sys.error(s"unknown workload $other")
    }
    val mapper = new ObjectMapper()
    val manifest = mapper.readTree(new File(inputs, "manifest.json"))
    val spark = session(cores, work)
    val ctx = new Ctx(spark, inputs, work, manifest, data)
    val res = mapper.createObjectNode()
    try {
      val sessionReady = System.currentTimeMillis()
      calibrationProbe(spark, cores) // JIT + codegen for the probe itself
      workload.setup(ctx)
      graft.operators.CacheLease.quiesceThenReleaseAll()
      spark.catalog.clearCache()
      System.gc()
      val setupDone = System.currentTimeMillis()
      progress(f"set-up ${(setupDone - launchMs.toLong) / 1e3}%.1f s after launch")
      val loadPre = loadavg()
      val calPre = calibrationProbe(spark, cores)
      // A traced run makes an untraced pass first, so the two walls give
      // the tracing overhead on the same inputs in the same process.
      def pass(traced: Boolean): (Tracer, Outcome, Double) = {
        val tr = new Tracer(spark.sparkContext, traced, s"$name-$launchMs-${ctx.pass}")
        val out = new Outcome
        val t0 = System.nanoTime()
        workload.run(ctx, tr, out)
        val wall = (System.nanoTime() - t0 - out.checkNanos) / 1e9
        ctx.pass += 1
        (tr, out, wall)
      }
      val first = pass(traced = false)
      progress(f"untraced pass ${first._3}%.1f s")
      val (tr, out, wall) = if (traced) pass(traced = true) else first
      if (traced) {
        progress(f"traced pass $wall%.1f s")
        val t0 = System.nanoTime()
        workload.traceExtras(ctx, tr, out)
        res.put("extras_s", (System.nanoTime() - t0) / 1e9)
        progress(f"traced extras ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      res.put("check_s", out.checkNanos / 1e9)
      val calPost = calibrationProbe(spark, cores)
      // Health counters and trace records are read only once every queued
      // listener event has been delivered.
      if (!org.apache.spark.graft.SparkShims.waitUntilListenerBusEmpty(spark, 30000L))
        Thread.sleep(1000)
      res.put("launch_ms", launchMs.toLong)
      res.put("session_ready_ms", sessionReady)
      res.put("setup_done_ms", setupDone)
      res.put("wall_s", wall)
      if (traced) res.put("untraced_wall_s", first._3)
      res.put("records", out.records)
      res.put("cores", cores)
      val ops = res.putArray("ops")
      val outs = if (traced) Seq(first._2, out) else Seq(out)
      outs.flatMap(_.ops).foreach { o =>
        val n = ops.addObject()
        n.put("kind", o.kind); n.put("s", o.seconds); n.put("ok", o.ok)
        n.put("note", o.note); n.put("latency", o.latency)
      }
      val notes = res.putArray("notes"); out.notes.foreach(notes.add)
      val prints = res.putArray("fingerprints")
      outs.map(_.fingerprint).filter(_.nonEmpty).foreach(prints.add)
      val health = res.putObject("health")
      health.put("codegen_fallbacks", graft.CodegenTripwire.fallbacks)
      health.put("window_global", graft.WindowTripwire.globalWindows)
      health.put("window_skew", graft.WindowTripwire.skewWindows)
      health.put("window_bnd_overflow", graft.WindowTripwire.bndOverflows)
      health.put("cache_leases_reclaimed", graft.operators.CacheLease.reclaimedCount)
      val diag = res.putObject("diagnostics")
      diag.put("calibration_pre_s", calPre); diag.put("calibration_post_s", calPost)
      val la = diag.putArray("loadavg_pre"); loadPre.foreach(la.add(_))
      val lb = diag.putArray("loadavg_post"); loadavg().foreach(lb.add(_))
      res.put("peak_rss_mb", peakRssMb())
      writeTrace(res, tr)
    } catch {
      case e: Throwable =>
        res.put("error", s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      Files.writeString(Paths.get(resultPath), mapper.writeValueAsString(res))
      spark.stop()
    }
  }

  /** A progress line in the harness log; run.py shows these when a run
    * fails. */
  def progress(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** The program's own session factory, with the graft.Bench plan-string
    * cap and scratch space kept inside the work directory. */
  def session(cores: Int, work: String): SparkSession =
    graft.Sessions.local(cores, "perfbench",
      Map("spark.sql.maxPlanStringLength" -> "16384",
        "spark.local.dir" -> new File(work, "spark-local").getPath,
        "spark.sql.warehouse.dir" -> new File(work, "warehouse").getPath))

  private def writeTrace(res: ObjectNode, tr: Tracer): Unit = {
    val spans = res.putArray("spans")
    tr.all.foreach { s =>
      val n = spans.addObject()
      n.put("id", s.id); n.put("name", s.name); n.put("parent", s.parent)
      n.put("run", s.run); n.put("start", s.start); n.put("end", s.end)
      n.put("tag", s.tag); n.put("state_bytes", s.stateBytes)
    }
    if (tr.traced) {
      val jobs = res.putArray("jobs")
      tr.listener.jobList.foreach { case (id, tag) =>
        val a = jobs.addArray(); a.add(id); a.add(tag)
      }
      val tasks = res.putArray("tasks")
      tr.listener.taskList.foreach { t =>
        val a = tasks.addArray()
        a.add(t.tag); a.add(t.job); a.add(t.launch); a.add(t.finish)
        a.add(t.runMs); a.add(t.shuffleWrite); a.add(t.input); a.add(t.output)
      }
    }
  }

  /** The graft.Bench calibration probe, scaled down: a constant-size
    * hash + aggregate with no file I/O. */
  def calibrationProbe(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1L, cores)
      .select(sum(pmod(xxhash64(col("id")), lit(1000000L))).as("h"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def loadavg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq.empty }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
