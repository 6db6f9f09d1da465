package perfbench

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** `operator_mix`: the catalog's operator hot spots that no pipeline
  * workload calls, in the manifest's order, over the benchmark's
  * copy of the sf0.1 `documents` and `embeddings` tables.
  *
  * Each entry runs once a pass, after its caches are cleared as
  * graft.Bench does. In place of graft.Bench's noop sink its output is
  * reduced, in the same job, to a row count and content hash
  * ([[Prints]]), which must equal the expected hash the manifest
  * carries. */
final class OperatorWorkload extends Workload {
  private def entries(ctx: Ctx): Seq[String] =
    ctx.manifest.get("operators").elements().asScala.map(_.asText).toSeq

  /** No warm-up pass: a pass of all 12 entries would double the run, so
    * the first entries carry the process's cold start; the fixed order
    * puts it on the same entries every run. */
  def setup(ctx: Ctx): Unit = ()

  private def clearCaches(ctx: Ctx): Unit = {
    graft.operators.CacheLease.quiesceThenReleaseAll()
    ctx.spark.catalog.clearCache()
    System.gc()
  }

  def run(ctx: Ctx, tr: Tracer, out: Outcome): Unit = {
    val expected = ctx.manifest.get("expected")
    entries(ctx).foreach { name =>
      val t0 = System.nanoTime()
      val (print, err) =
        try (tr.span(s"queries.$name")(
          Prints.of(graft.SparkEntry.queries(name)(ctx.spark, ctx.data))), "")
        catch { case NonFatal(e) => ("", s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val s = (System.nanoTime() - t0) / 1e9
      val want = Option(expected.get(name)).map(_.asText).getOrElse("")
      val problem =
        if (err.nonEmpty) err
        else if (print != want) s"output $print != expected $want"
        else ""
      out.ops += Op(s"queries.$name", s, problem.isEmpty, problem)
      out.records += (if (print.nonEmpty) print.takeWhile(_ != ':').toLong else 0L)
      out.untimed(clearCaches(ctx))
    }
  }
}
