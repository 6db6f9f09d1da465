package graft
import java.lang.management.ManagementFactory
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Cap UI plan-string rendering: every tracked action's AQE stage
    // posts a plan-description event whose construction walks the full
    // (cache-expanded) plan tree on the DRIVER — measured ~1.1 s per
    // stage on deep pipeline plans, pure overhead with the UI off.
    // The cap bounds explainString; it has zero effect on execution.
    val spark = Sessions.local(cpus, "graft-bench",
      Map("spark.sql.maxPlanStringLength" -> "16384"))
    // Warm up codegen + file listing so the first timed query doesn't
    // absorb one-time session costs. Lenient per table: a missing table
    // must surface as per-query `err` entries below, not kill the whole
    // bench before any timing is emitted.
    Tables.names.foreach(n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $n: ${e.getMessage}")
      })
    // Sorted order (stable run-to-run) and cache hygiene between
    // queries: operators cache intermediates (shingle sets, sketches)
    // that would otherwise accumulate across the whole catalog and tax
    // later queries with GC pressure.
    // Materialize via the noop sink, NOT count(): under count() Catalyst
    // prunes every unreferenced projection, so map-only queries (derived
    // columns, string surgery, sketches) would be timed as little more
    // than parquet row counts (NOTES.md finding #2). The noop sink
    // consumes every output column while writing nothing.
    // SPARK_GRAFT_ONLY restricts to a comma-separated query subset.
    // SPARK_GRAFT_REPS repeats each query and reports the MINIMUM —
    // the measure least polluted by GC pauses and box load (observed
    // 2-4x run-to-run variance on single-shot timings at sf0.1; one
    // driver-recorded round shows trivial map queries inflated 10x).
    // Default 2: the recorded per-round bench is min-of-2, costing
    // ~2x wall-clock for a far more comparable round-over-round trend.
    // A query that throws must surface as an error, not be silently
    // timed as its time-to-failure (VERDICT r03 item 2: a bench-only
    // breakage — e.g. an sf0.1 OOM that sf0.01 verify misses — would
    // otherwise read as a speedup). Failed queries report err and are
    // EXCLUDED from the total so the headline number never improves by
    // breaking.
    // When the post-catalog calibration probe drifts more than 1.5x
    // over the pre-catalog probe, the box got loaded mid-run and the
    // record is distorted (r05: probe 0.19->0.36 s flagged q58 at
    // 15.5 s that reproduced at 3.7 s on a quiet box). Close the loop:
    // auto-rerun the whole catalog once, min-merge with the first
    // pass, and mark the record "rerun":true — BENCH_r{N}.json is then
    // either clean (drift < 1.5x) or explicitly marked.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val driftLimit = sys.env.getOrElse("SPARK_GRAFT_DRIFT_LIMIT", "1.5").toDouble
    // Fixed synthetic probe — a constant-size hash+aggregate with no file
    // I/O — timed before / midway / after the catalog. Its drift across
    // the run, together with /proc/loadavg, lets any reader normalize a
    // record taken on a loaded box (3 of 4 driver-recorded rounds showed
    // 2-20x inflation vs a quiet-box reproduction of the same commit).
    def calibrationProbe(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(0L, 50000000L, 1L, cpus)
        .select(sum(pmod(xxhash64(col("id")), lit(1000000L))).as("h"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def loadavg(): Seq[Double] =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+").take(3).toSeq.map(_.toDouble)
      catch { case _: Throwable => Seq.empty }
    calibrationProbe() // untimed warm-up: JIT + codegen for the probe itself
    val loadPre = loadavg()
    val calPre = calibrationProbe()
    val entries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    var calMid = -1.0
    // Generated-code compiles of the catalog passes (Spark's process-wide
    // codegen counters): a plan shape that recompiles where it should hit
    // the codegen cache shows here while its wall time hides in noise.
    // JIT time and process CPU over the same passes say what share of
    // the run's CPU those compiles and the JVM's own warm-up take.
    val jit = ManagementFactory.getCompilationMXBean
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val jitMs0 = jit.getTotalCompilationTime
    val cpuNs0 = os.getProcessCpuTime
    def runCatalog(markMid: Boolean): Seq[(String, Double, Option[String])] =
      entries.zipWithIndex.map { case ((name, fn), idx) =>
        val runs = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val err = try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            None
          } catch { case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          }
          // The measured region ends HERE: cache/GC hygiene below is
          // inter-query cleanup, not query work (ADVICE r04 — the old
          // placement taxed every rep with a forced full-GC pause that
          // min-of-reps could not filter).
          val dt = (System.nanoTime() - t0) / 1e9
          // A lease whose identity match never fired (armed on a frame
          // the noop write re-analyzed into a copy) would leak its
          // persisted intermediate across the rest of the catalog —
          // reclaim explicitly at the rep boundary. Quiesce first:
          // listener delivery is async, and an immediate releaseAll
          // races healthy leases and miscounts them as leaks.
          graft.operators.CacheLease.quiesceThenReleaseAll()
          spark.catalog.clearCache()
          // localCheckpoint blocks (iterative operators) are RDD-level
          // storage that clearCache does not drop; they free only when
          // the async ContextCleaner sees the RDD object collected.
          // Forcing a GC between queries releases them NOW, so late
          // catalog entries aren't taxed by the accumulated blocks of
          // 50 earlier queries (q53 measured 12-20 s in-catalog vs 7 s
          // isolated before this, on the same box).
          System.gc()
          (dt, err)
        }
        if (markMid && idx == entries.size / 2) calMid = calibrationProbe()
        (name, runs.map(_._1).min, runs.flatMap(_._2).headOption)
      }
    val firstPass = runCatalog(markMid = true)
    var calPost = calibrationProbe()
    // Drift gate: distorted first pass -> one full catalog re-run,
    // min-merged (an error clears if the rerun succeeds; a min time
    // only improves). Exactly one rerun — no unbounded retry on a
    // persistently loaded box, the mark tells the reader.
    val drifted = calPre > 0 && calPost / calPre > driftLimit
    val results =
      if (!drifted) firstPass
      else {
        System.err.println(
          f"[bench] calibration drift ${calPost / calPre}%.2fx > $driftLimit; re-running catalog once")
        val second = runCatalog(markMid = false)
        calPost = calibrationProbe()
        firstPass.zip(second).map { case ((n1, t1, e1), (_, t2, e2)) =>
          if (e1.isDefined && e2.isEmpty) (n1, t2, None)
          else if (e2.isDefined && e1.isEmpty) (n1, t1, None)
          else (n1, math.min(t1, t2), e1.orElse(e2))
        }
      }
    val loadPost = loadavg()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
    val jitS = (jit.getTotalCompilationTime - jitMs0) / 1e3
    val cpuS = (os.getProcessCpuTime - cpuNs0) / 1e9
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val ok = results.filter(_._3.isEmpty)
    // 4-decimal (0.1 ms) per-query values: second-scale timings with
    // +/-20% run-to-run variance lose nothing at 0.1 ms resolution, and
    // the emitted contract line shrinks ~40% (150 full-precision doubles
    // pushed it past 7 KB).
    def f4(v: Double): String = {
      val s = java.math.BigDecimal.valueOf(v)
        .setScale(4, java.math.RoundingMode.HALF_UP).toPlainString
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse
        .stripSuffix(".") match { case "" => "0" case t => t }
      else s
    }
    val qs = ok.map { case (k, v, _) => jstr(k) + ":" + f4(v) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    // The driver contract's "sf" is the numeric scale factor, not the
    // data directory path (r11-r13 records all show "parsed": null with
    // rc=0 — a driver-side float(sf) / sf==0.1 check rejects a path
    // string). Parse it from the directory name; unknown names fall
    // back to the raw path so a human can still read the record.
    val sfNum: String = {
      val m = java.util.regex.Pattern.compile("sf(\\d+(?:\\.\\d+)?)")
        .matcher(new java.io.File(sfDir).getName)
      if (m.find()) m.group(1) else jstr(sfDir)
    }
    val cal = s"""{"pre":$calPre,"mid":$calMid,"post":$calPost,"rerun":$drifted}"""
    val load = s"""{"pre":${loadPre.mkString("[", ",", "]")},"post":${loadPost.mkString("[", ",", "]")}}"""
    // Codegen health (VERDICT r06 item 7): nonzero means some plan in
    // this run silently deoptimized to interpreted execution — a
    // regression the round-over-round diff must catch even when
    // wall-time noise at sf0.1 masks it.
    val cgf = CodegenTripwire.fallbacks
    // Plan-shape health (VERDICT r07 item 2): nonzero means some
    // catalog entry executed an UNSANCTIONED unpartitioned WindowExec —
    // a single-task sort over a corpus-scale frame (the r07 q108
    // defect's class). Sanctioned bounded-frame sites (histograms,
    // limit(k) survivor ranks) carry the __bnd column marker and don't
    // count. Listener delivery is async — BLOCK until the bus drains
    // (ADVICE r08: a fixed sleep races delivery on a loaded driver and
    // under-reports the exact counters that exist to catch silent
    // deopts; fall back to a grace sleep only if the drain times out).
    if (!org.apache.spark.graft.SparkShims
        .waitUntilListenerBusEmpty(spark, 30000L))
      Thread.sleep(1000)
    val wg = WindowTripwire.globalWindows
    if (wg > 0) WindowTripwire.messages.foreach(m =>
      System.err.println(s"[bench] window_global: $m"))
    // Runtime skew audit (VERDICT r08 item 2): nonzero means some
    // partitioned window's dominant shuffle partition held most of a
    // >1 MiB frame (a single-task sort the plan-shape counter cannot
    // see), or a __bnd bounded-frame claim overflowed its size cap.
    val wsk = WindowTripwire.skewWindows
    val wbo = WindowTripwire.bndOverflows
    if (wsk > 0) WindowTripwire.skewMessages.foreach(m =>
      System.err.println(s"[bench] window_skew: $m"))
    if (wbo > 0) WindowTripwire.bndMessages.foreach(m =>
      System.err.println(s"[bench] window_bnd_overflow: $m"))
    // Lease health (VERDICT r06 item 6): nonzero means some entry's
    // cache lease never fired on its own action and the rep-boundary
    // releaseAll had to reclaim it — identity matching regressed.
    val leases = graft.operators.CacheLease.reclaimedCount
    // Health counters, errors and calibration stay recorded but on their
    // own prefixed line: the driver contract line below carries exactly
    // the contract keys ({"metric","value","unit","queries","sf"}) so a
    // strict parser cannot trip on extras. The contract line is printed
    // LAST, after spark.stop(), so nothing interleaves behind it.
    println(f"[bench] codegen compiles=$compiles compile_s=$compileS%.3f jit_s=$jitS%.3f cpu_s=$cpuS%.3f")
    println(s"""[bench] health {"errors":$errs,"failed":${results.size - ok.size},"codegen_fallbacks":$cgf,"window_global":$wg,"window_skew":$wsk,"window_bnd_overflow":$wbo,"cache_leases_reclaimed":$leases,"calibration":$cal,"loadavg":$load,"sf_dir":${jstr(sfDir)}}""")
    try spark.stop() catch { case e: Throwable =>
      System.err.println(s"[bench] stop: ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":$sfNum}""")
  }
}
