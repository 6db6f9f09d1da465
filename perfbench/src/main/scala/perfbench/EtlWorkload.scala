package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{Enrich, InitPipeline, JourneyPipeline, Runner}

/** `tfl_weekly_etl`: the paper's weekly batch. InitPipeline once, then
  * per generated week, oldest first, one weekly cycle: the week's file
  * alone through JourneyPipeline, the enriched-table refresh, and the
  * rides-per-station-hour dashboard over the refreshed table.
  *
  * Not in BENCHMARK.json: the program's weekly load loses earlier weeks
  * of a month (see perfbench/README.md), so weeks 2 and later fail
  * their checks on every seed. */
final class EtlWorkload extends Workload {
  private case class Week(path: String, genB: Boolean, rows: Long,
      cumRows: Long, cumMalformed: Long, dimStation: Long)

  private def weeks(ctx: Ctx): Seq[Week] =
    ctx.manifest.get("weeks").elements().asScala.toSeq.map { w =>
      Week(s"${ctx.inputs}/${w.get("file").asText}", w.get("gen_b").asBoolean,
        w.get("rows").asLong, w.get("cum_rows").asLong,
        w.get("cum_malformed").asLong, w.get("dim_station").asLong)
    }

  private def stations(ctx: Ctx) = s"${ctx.inputs}/stations.csv"
  private def weather(ctx: Ctx) = s"${ctx.inputs}/weather"

  private def cycle(spark: SparkSession, tr: Tracer, w: Week, out: String): Unit =
    tr.span("bench.weekly_cycle") {
      tr.span("pipeline.JourneyPipeline.run")(
        JourneyPipeline.run(spark, w.path, out, w.genB))
      tr.span("pipeline.Runner.materializeEnriched")(
        Runner.materializeEnriched(spark, out))
      tr.span("pipeline.Enrich.ridesPerStationHour")(
        Enrich.ridesPerStationHour(Runner.enrichedTable(spark, out))
          .write.format("noop").mode("overwrite").save())
    }

  /** Warm-up: the init pass and the cycles of the first and the last week
    * (one of each header generation), in a directory of their own, so the
    * timed weeks do not carry JIT and codegen warm-up. */
  def setup(ctx: Ctx): Unit = {
    val dir = ctx.dir("etl_warm")
    InitPipeline.run(ctx.spark, stations(ctx), weather(ctx), dir)
    val tr = new Tracer(ctx.spark.sparkContext, false, "warm-up")
    Seq(weeks(ctx).head, weeks(ctx).last).foreach(cycle(ctx.spark, tr, _, dir))
  }

  def run(ctx: Ctx, tr: Tracer, out: Outcome): Unit = {
    val spark = ctx.spark
    val dir = ctx.dir("etl")
    tr.span("pipeline.InitPipeline.run")(
      InitPipeline.run(spark, stations(ctx), weather(ctx), dir))
    weeks(ctx).foreach { w =>
      val t0 = System.nanoTime()
      cycle(spark, tr, w, dir)
      val s = (System.nanoTime() - t0) / 1e9
      val bad = out.untimed(check(spark, w, dir))
      out.ops += Op("weekly_cycle", s, bad.isEmpty, bad.mkString("; "))
      out.records += w.rows
    }
  }

  /** Untimed output checks against the counts the generator knows;
    * returns the mismatches. */
  private def check(spark: SparkSession, w: Week, dir: String): Seq[String] = {
    val fact = spark.read.parquet(s"$dir/fact_journey")
      .agg(count(lit(1)), count(when(col("start_date").isNull, 1))).head()
    val dim = spark.read.parquet(s"$dir/dim_station").count()
    val enriched = Runner.enrichedTable(spark, dir).count()
    val rides = Enrich.ridesPerStationHour(Runner.enrichedTable(spark, dir))
      .agg(sum(col("n_rides"))).head().getLong(0)
    Seq(
      ("fact rows", fact.getLong(0), w.cumRows),
      ("null start_date rows", fact.getLong(1), w.cumMalformed),
      ("dim_station rows", dim, w.dimStation),
      ("journeys_enriched rows", enriched, w.cumRows),
      ("dashboard sum(n_rides)", rides, w.cumRows))
      .collect { case (what, got, want) if got != want => s"$what $got != $want" }
  }
}
