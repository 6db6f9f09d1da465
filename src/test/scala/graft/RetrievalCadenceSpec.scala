package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{DriverOverlap, TextAnalysis, TextSearch}

/** Cadence-wired retrieval states (VERDICT r12 item 6): `runInit(
  * retrievalState = true)` builds BM25 + LM count states over the
  * landed decon corpus as sub-lineages of the curation state, with
  * `recordIds` always on; increments auto-detect them and ingest with
  * `validateDisjoint = true` — so a cadence deployment gets
  * O(batch)-validated retrieval ingest without bypassing the cadence,
  * and a REPLAYED batch refuses loudly instead of silently
  * double-counting. Serving from the cadence-maintained state must
  * equal the from-scratch operators over the composed decon corpus,
  * and a state rebase must carry both families (consolidated id
  * slices included — the probe survives). */
class RetrievalCadenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val b0 = Seq(
    1L -> ("the amber lantern swung gently above wooden crates stacked " +
      "beside narrow canal boats every misty evening"),
    2L -> ("granite cliffs rise steeply where gulls wheel over cold grey " +
      "water and distant sails fade slowly into the northern haze line"),
    3L -> ("four bakers arranged warm loaves along the counter before " +
      "sunrise brought the first customers through the door"))
  private val b1 = Seq(
    11L -> ("five gardeners planted rows of tulips beside the gravel " +
      "path while morning light spread slowly across the lawn"),
    12L -> ("seven sailors mended canvas sails under the harbor lamps " +
      "as the tide pushed small boats against the wooden pier"))
  private val benchmark = Seq(900L ->
    "zyx wvu tsr qpo nml kji hgf edc ba9 87z y6x w5v u4t s3r q2p o1n")
    .toDF("doc_id", "text")
  private def docs(s: Seq[(Long, String)]) = s.toDF("doc_id", "text")

  private def composedDecon(stateDir: String) =
    StateLayout.readSlices(spark,
        StateLayout.readLineage(stateDir), "decon_batch")
      .select(col("doc_id"), col("text"))

  private def bm25Set(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), round(col("score"), 9))
      .as[(Long, Double)].collect().toSet

  private def lmSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), col("n_bigrams"), col("avg_logprob"))
      .as[(Long, Long, Double)].collect().toSet

  test("cadence-maintained retrieval states serve == from-scratch, " +
      "replayed batches refuse, rebase carries the families") {
    val base = TestSpark.tmpDir("retrieval_cadence")
    CurationRun.runInit(docs(b0), benchmark, s"$base/out0", s"$base/s0",
      minQuality = 0.0, retrievalState = true)
    CurationRun.runIncremental(docs(b1), benchmark, s"$base/out1",
      s"$base/s0", s"$base/s1", minQuality = 0.0)
    // Serving parity against the composed DECON corpus — the exact
    // frame the cadence indexed (append-only, the disjoint-id set).
    val corpus = composedDecon(s"$base/s1")
    val terms = Seq("sails", "wooden", "lantern")
    assert(
      bm25Set(Bm25State.serve(spark, s"$base/s1/bm25", terms, topK = 5)) ==
      bm25Set(TextSearch.bm25(corpus, "doc_id", "text", terms, topK = 5)),
      "cadence BM25 state must serve the from-scratch ranking")
    val queries = docs(b0.take(2))
    assert(
      lmSet(LmState.serve(spark, s"$base/s1/lm", queries, "doc_id", "text")) ==
      lmSet(TextAnalysis.ngramLmScore(corpus, queries, "doc_id", "text")),
      "cadence LM state must serve the from-scratch scores")
    // A REPLAYED batch (same doc ids) refuses before any slice lands —
    // the O(batch) bucket-pruned probe the cadence wiring buys.
    val e = intercept[IllegalArgumentException] {
      CurationRun.runIncremental(docs(b1), benchmark, s"$base/out2",
        s"$base/s1", s"$base/s2", minQuality = 0.0)
    }
    assert(e.getMessage.contains("disjoint-id"),
      s"replay must refuse via the disjoint-id contract: ${e.getMessage}")
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$base/s2/lineage.txt")),
      "the refused increment must not land a readable state version")
    // Rebase carries both families (without this the next increment
    // would silently drop the retrieval cadence), and the probe
    // SURVIVES: a replay against the rebased state still refuses.
    CurationRun.rebaseState(spark, s"$base/s1", s"$base/r")
    assert(
      bm25Set(Bm25State.serve(spark, s"$base/r/bm25", terms, topK = 5)) ==
      bm25Set(TextSearch.bm25(corpus, "doc_id", "text", terms, topK = 5)),
      "rebased BM25 state must serve identically")
    val e2 = intercept[IllegalArgumentException] {
      CurationRun.runIncremental(docs(b1), benchmark, s"$base/out3",
        s"$base/r", s"$base/r1", minQuality = 0.0)
    }
    assert(e2.getMessage.contains("disjoint-id"))
    // A fresh disjoint batch still ingests cleanly post-rebase.
    CurationRun.runIncremental(docs(Seq(21L ->
        ("eight students copied maps of ancient rivers onto thin paper " +
          "during the long quiet afternoon lesson hour"))),
      benchmark, s"$base/out4", s"$base/r", s"$base/r2", minQuality = 0.0)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/r2/bm25/postings_batch")))
  }

  test("the cadence's BM25 and LM increments share one id probe: " +
      "no already-cached warning, no cache left") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val base = TestSpark.tmpDir("retrieval_probe")
    Bm25State.writeInit(docs(b0), "doc_id", "text", s"$base/s0/bm25",
      recordIds = true)
    LmState.writeInit(docs(b0), "text", s"$base/s0/lm", recordIds = true)
    // CacheManager warns when a plan it already caches is persisted
    // again: two forks persisting one plan share one entry.
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender(
        "retrieval-probe-cache-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (e.getLoggerName.endsWith("CacheManager") &&
            msg.toLowerCase.contains("already")) warnings.add(msg)
      }
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    spark.catalog.clearCache()
    try DriverOverlap.scope { s =>
      CurationRun.forkRetrievalIncrements(s, docs(b1), s"$base/s0",
        s"$base/s1")
    } finally {
      ctx.getConfiguration.getRootLogger.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
    assert(warnings.isEmpty, s"CacheManager warned: $warnings")
    assert(spark.sharedState.cacheManager.isEmpty,
      "the shared probe must be released when the scope exits")
    assert(StateLayout.readLineage(s"$base/s1/bm25").size == 2)
    assert(StateLayout.readLineage(s"$base/s1/lm").size == 2)
  }
}
