package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DriverOverlap, TextAnalysis}

/** Weekly-cadence n-gram LM count state (q150 — VERDICT r10 item 4):
  * the language-model twin of the BM25 retrieval index
  * ([[Bm25State]]). The LM operators' sufficient statistics compose
  * exactly across disjoint-id batches — n-grams never span documents,
  * so per-batch gram and history counts are plain long ADDS — which
  * makes the batch-only q57/q59 scoring a state family: ingest lands a
  * batch's counts without reading corpus text, and scoring a query set
  * reads only the grams that set actually contains.
  *
  * Artifacts per state version:
  *
  *  - `bg_counts_batch/` (bg, c12) — this batch's n-gram occurrence
  *    counts, bucketed BY GRAM ([[StateLayout]]).
  *  - `prefix_counts_batch/` (w, c1) — this batch's history
  *    ((n−1)-gram) counts, bucketed by history.
  *  - `doc_ids_batch/` (doc_id) — this batch's doc ids, bucketed BY
  *    DOC ID, landed on `recordIds = true` ONLY (the [[Bm25State]]
  *    default-off shape — r12 landed it unconditionally, which put
  *    three per-version job floors on q150 for a check most callers
  *    never run). Metadata-scale (8 bytes/doc) and written purely so
  *    the disjoint-id CONTRACT is checkable in O(batch): the count
  *    slices themselves carry no doc ids (grams aggregate them away),
  *    so without this artifact a re-ingested doc is undetectable from
  *    state alone — the LM family has no postings fallback probe.
  *    `validateDisjoint` probes it bucket-pruned to the batch's own
  *    ids; slices landed without it are honestly unvalidatable and
  *    skipped.
  *  - `vocab.txt` — the COMPOSED smoothing vocabulary |distinct
  *    histories| as of this version. Unlike the counts it is NOT
  *    additive (the same history recurs across batches), but it
  *    composes exactly as `v += |batch histories unseen in state|`:
  *    the increment anti-joins the batch's distinct histories against
  *    the history slices read PRUNED to the batch's key buckets —
  *    batch-scale IO, and the running value equals the from-scratch
  *    distinct count (LmStateSpec pins it per version).
  *  - `lm_order.txt` — the n-gram order frozen at init (the
  *    `sem_salt.txt` discipline: recorded in state so increments and
  *    serving cannot drift from init's value).
  *  - `lineage.txt` — the shared manifest contract.
  *
  * SERVING ([[serve]]) scores a query doc set under the composed
  * statistics through the SAME shared expressions as the batch
  * operator ([[TextAnalysis.lmDocGrams]] / [[TextAnalysis.lmScoreDocs]]
  * — add-one smoothing, 8dp-rounded ln, decimal-exact doc sums), with
  * both count reads pruned to the query's own gram/history buckets:
  * per-query cost ∝ the query's grams, never the corpus vocabulary.
  * Because counts and vocabulary compose exactly, serve(composed
  * state) ≡ [[TextAnalysis.ngramLmScore]](composed corpus, query docs)
  * bit-for-bit — the q150 DuckDB oracle replays exactly that batch
  * form over the full table.
  *
  * INGEST per increment is O(batch): two tokenize aggregates over the
  * new docs, two bucketed writes, one pruned anti-join for the
  * vocabulary delta. History counts are never re-read at ingest beyond
  * the vocabulary delta's pruned probe.
  */
object LmState {

  private def orderOf(stateDir: String): Int =
    java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$stateDir/lm_order.txt"))
      .trim.toInt

  private def vocabOf(stateDir: String): Long =
    java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$stateDir/vocab.txt"))
      .trim.toLong

  private def writeMeta(stateDir: String, n: Int, vocab: Long): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$stateDir/lm_order.txt"), s"$n\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$stateDir/vocab.txt"), s"$vocab\n")
  }

  /** Land one batch's count slices; returns nothing — the caller
    * composes vocabulary and lineage per cadence position. */
  private def writeSlices(docs: DataFrame, idCol: String, textCol: String,
      n: Int, stateOutDir: String, recordIds: Boolean): Unit = {
    val m = TextAnalysis.lmTrain(docs, textCol, n)
    // The three slice writes are INDEPENDENT DAGs (each re-tokenizes
    // the batch — token-scale intermediates are deliberately uncached,
    // the repo's array-caching lesson) — fork them (guide §2.6, r14):
    // per-write job floors dominate these small bucketed writes at
    // batch scale.
    DriverOverlap.scope { s =>
      s.fork(StateLayout.writeBucketed(m.bgCounts,
        s"$stateOutDir/bg_counts_batch", "bg"))
      if (recordIds) s.fork(StateLayout.writeBucketed(
        docs.select(StateLayout.castIdStrict(col(idCol)).as("doc_id")).distinct(),
        s"$stateOutDir/doc_ids_batch", "doc_id"))
      StateLayout.writeBucketed(m.prefixCounts,
        s"$stateOutDir/prefix_counts_batch", "w")
    }
  }

  /** From-scratch count build that WRITES the weekly state.
    * `recordIds = true` additionally lands the metadata-scale
    * `doc_ids_batch` artifact (see class doc) so later
    * `validateDisjoint` checks probe it bucket-pruned in O(batch).
    * Default off: the artifact costs one extra small job per version,
    * and callers with upstream-enforced id discipline shouldn't pay
    * it (the [[Bm25State.writeInit]] shape). */
  def writeInit(docs: DataFrame, textCol: String, stateOutDir: String,
      n: Int = 2, idCol: String = "doc_id",
      recordIds: Boolean = false): Unit = {
    writeSlices(docs, idCol, textCol, n, stateOutDir, recordIds)
    // Init vocabulary = the batch's own distinct histories — the
    // grouped slice has one row per history, so footer-count suffices.
    val v = docs.sparkSession.read
      .parquet(s"$stateOutDir/prefix_counts_batch").count()
    writeMeta(stateOutDir, n, v)
    StateLayout.writeLineage(stateOutDir, Seq(stateOutDir))
  }

  /** Weekly increment: a NEW batch (doc ids disjoint from the state's
    * — the [[Bm25State.writeIncrement]] contract; a re-ingested doc
    * would double-count its grams with no error) lands ITS slices;
    * history is touched only by the vocabulary delta's PRUNED probe.
    *
    * `validateDisjoint = true` buys the contract check: one read of
    * the composed `doc_ids_batch` slices bucket-pruned to the BATCH's
    * ids — O(batch-key buckets), never a corpus scan — failing fast on
    * any overlap BEFORE any slice lands. Default off: callers whose id
    * discipline is upstream-enforced (monotonic ingest ids, the
    * [[CurationRun]] cadence) keep zero-validation ingest. Lineage
    * dirs landed without `recordIds` carry no id slice, cannot be
    * validated (nothing recorded), and are skipped; a rebase
    * consolidates the id slices that EXIST — pre-id docs stay
    * unvalidatable (the gram counts carry no ids to backfill from). */
  def writeIncrement(newDocs: DataFrame, textCol: String,
      stateInDir: String, stateOutDir: String,
      idCol: String = "doc_id", validateDisjoint: Boolean = false,
      recordIds: Boolean = false): Unit = {
    require(stateInDir != stateOutDir,
      "state is versioned by directory: reading and overwriting the same " +
        "state in one job would corrupt it")
    val spark = newDocs.sparkSession
    val n = orderOf(stateInDir)
    val lineage = StateLayout.readLineage(stateInDir)
    if (validateDisjoint) {
      // Persisted: the probe frame feeds readSlicesPruned's
      // driver-side bucket collect AND the overlap join — unpersisted
      // the batch's upstream DAG would run twice here on top of
      // writeSlices' pass (round-12 review finding #4).
      val ids = newDocs
        .select(StateLayout.castIdStrict(col(idCol)).as("doc_id"))
        .distinct().persist()
      try {
        val checkable = lineage.filter(d => java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$d/doc_ids_batch")))
        val overlap =
          if (checkable.isEmpty) Array.empty[org.apache.spark.sql.Row]
          else StateLayout.readSlicesPruned(spark, checkable, "doc_ids_batch",
              "doc_id", ids)
            .join(ids, Seq("doc_id"))
            .limit(1).collect()
        require(overlap.isEmpty,
          s"writeIncrement: batch doc id ${overlap.head.get(0)} already " +
            "exists in the LM count state — additive composition would " +
            "double-count its grams (disjoint-id contract)")
      } finally ids.unpersist()
    }
    writeSlices(newDocs, idCol, textCol, n, stateOutDir, recordIds)
    // Vocabulary delta: batch histories unseen anywhere in state. The
    // batch's slice is already grouped (one row per history), and the
    // history read prunes to the batch keys' buckets — batch-scale IO.
    val batchW = StateLayout.readSlice(spark,
      s"$stateOutDir/prefix_counts_batch").select(col("w"))
    val novel = batchW.join(
      StateLayout.readSlicesPruned(spark, lineage, "prefix_counts_batch",
        "w", batchW).select(col("w")).distinct(),
      Seq("w"), "left_anti").count()
    writeMeta(stateOutDir, n, vocabOf(stateInDir) + novel)
    StateLayout.writeLineage(stateOutDir, lineage :+ stateOutDir)
  }

  /** Score `docs` under the composed state — bit-equal to
    * [[TextAnalysis.ngramLmScore]] over the composed corpus (shared
    * gram explode, log-prob, and doc-aggregation expressions; composed
    * counts are exact long sums; the vocabulary literal is the exact
    * running distinct count). Both count reads are PRUNED to the
    * query's gram/history buckets, then re-summed — exact, because
    * every slice's rows for a probed key live in that key's bucket. */
  def serve(spark: SparkSession, stateDir: String, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val n = orderOf(stateDir)
    val lineage = StateLayout.readLineage(stateDir)
    import spark.implicits._
    // The query's grams feed two prune probes AND the scoring join —
    // persist the compact (doc_id, bg) frame across those three uses.
    val grams = TextAnalysis.lmDocGrams(docs, idCol, textCol, n).persist()
    val bg = StateLayout.readSlicesPruned(spark, lineage, "bg_counts_batch",
        "bg", grams.select(col("bg")))
      .groupBy(col("bg")).agg(sum(col("c12")).as("c12"))
    val pre = StateLayout.readSlicesPruned(spark, lineage,
        "prefix_counts_batch", "w",
        grams.select(substring_index(col("bg"), " ", n - 1).as("w")))
      .groupBy(col("w")).agg(sum(col("c1")).as("c1"))
    val m = TextAnalysis.LmStats(bg, pre, Seq(vocabOf(stateDir)).toDF("v"), n)
    graft.operators.CacheLease.releaseAfterAction(
      TextAnalysis.lmScoreDocs(grams, m)) { () => grams.unpersist(); () }
  }

  /** One LM state version's serving side: the composed gram and
    * history count frames (exact long re-sums of the slices),
    * persisted and WARMED (toRdd counts — no per-stage plan updates
    * on a serving driver), with the running vocabulary and the frozen
    * order as a [[TextAnalysis.LmStats]]. Summing up front equals the
    * per-query pruned-read re-sum ([[serve]]) for every key, so both
    * serving forms score bit-equally. */
  private def loadServeVersion(spark: SparkSession,
      stateDir: String): TextAnalysis.LmStats = {
    import spark.implicits._
    val lineage = StateLayout.readLineage(stateDir)
    val bg = StateLayout.readSlices(spark, lineage, "bg_counts_batch")
      .groupBy(col("bg")).agg(sum(col("c12")).as("c12")).persist()
    val pre = StateLayout.readSlices(spark, lineage, "prefix_counts_batch")
      .groupBy(col("w")).agg(sum(col("c1")).as("c1")).persist()
    bg.queryExecution.toRdd.count()
    pre.queryExecution.toRdd.count()
    TextAnalysis.LmStats(bg, pre, Seq(vocabOf(stateDir)).toDF("v"),
      orderOf(stateDir))
  }

  private def releaseServeVersion(m: TextAnalysis.LmStats): Unit = {
    m.bgCounts.unpersist(); m.prefixCounts.unpersist(); ()
  }

  /** [[serve]]'s STREAMING twin: a stream of documents scored against
    * the COMPOSED state (not batch-trained stats) via
    * [[graft.streaming.StreamLmScore.score]] — the same per-gram
    * log-prob code as the batch operator, state bounded by the
    * watermark horizon. The static side (the composed count frames)
    * is built once per state version and PERSISTED HERE (an
    * unpersisted stream-static side would re-scan every count slice
    * per trigger); the returned release handle unpersists it. The
    * static side is FIXED for the stream's lifetime — a long-lived
    * server that must follow rebase boundaries without a restart uses
    * [[lmServeSession]] (VERDICT r11 item 3). */
  def serveStream(spark: SparkSession, stateDir: String, docs: DataFrame,
      idCol: String, textCol: String, tsCol: String, delay: String,
      windowDur: String): (DataFrame, () => Unit) = {
    val m = loadServeVersion(spark, stateDir)
    (graft.streaming.StreamLmScore.score(docs, m, idCol, textCol, tsCol,
      delay, windowDur),
      () => releaseServeVersion(m))
  }

  /** Long-lived LM serving session with a SWAPPABLE state version —
    * the third instantiation of the [[VersionedServeSession]]
    * contract (versioned swap, warmed load, synchronized release,
    * zero stateful streaming operators; see that class's scaladoc),
    * extracted to the shared shape precisely when this family made it
    * three (VERDICT r11 item 3): the static side is the composed
    * count frames, and each batch scores through the SAME
    * [[TextAnalysis.lmDocGrams]]/[[TextAnalysis.lmScoreDocs]]
    * expressions as [[serve]] and the batch operator — bit-equal per
    * batch (LmServeSessionSpec pins it), hits tagged with the
    * answering `state_version`. */
  final class LmServeSession private[LmState] (spark: SparkSession,
      initialStateDir: String, idCol: String, textCol: String) {
    private val s = new VersionedServeSession[TextAnalysis.LmStats](
      initialStateDir,
      load = dir => loadServeVersion(spark, dir),
      release = releaseServeVersion,
      answerWith = (docs, m, dir) =>
        TextAnalysis.lmScoreDocs(
            TextAnalysis.lmDocGrams(docs, idCol, textCol, m.n), m)
          .withColumn("state_version", lit(dir)))

    /** The state version currently answering. */
    def version: String = s.version
    /** Swap to a new state version (a rebase boundary). */
    def swapTo(stateDir: String): Unit = s.swapTo(stateDir)
    /** One document batch scored under the CURRENT version —
      * bit-equal to [[serve]] on that version. */
    def answer(docs: DataFrame): DataFrame = s.answer(docs)
    /** Serve a STREAM of documents. */
    def serve(docs: DataFrame, checkpoint: String)(
        sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
      s.serve(docs, checkpoint)(sink)
    /** Release the current version's persisted static side. */
    def close(): Unit = s.close()
  }

  /** Open an [[LmServeSession]] at `stateDir`. */
  def lmServeSession(spark: SparkSession, stateDir: String,
      idCol: String = "doc_id", textCol: String = "text"): LmServeSession =
    new LmServeSession(spark, stateDir, idCol, textCol)

  /** Lineage compaction — pure IO plus exact long re-sums (the
    * [[CurationRun.rebaseState]] discipline): both count artifacts
    * consolidate into one bucketed slice each (where production
    * re-derives B for the grown vocabulary); the vocabulary is
    * re-derived as the consolidated slice's row count, which equals
    * the carried running value (LmStateSpec pins the equality). */
  def rebase(spark: SparkSession, stateInDir: String,
      stateOutDir: String): Unit = {
    require(stateInDir != stateOutDir, "rebase writes a new state version")
    val lineage = StateLayout.readLineage(stateInDir)
    StateLayout.writeBucketed(
      StateLayout.readSlices(spark, lineage, "bg_counts_batch")
        .groupBy(col("bg")).agg(sum(col("c12")).as("c12")),
      s"$stateOutDir/bg_counts_batch", "bg")
    StateLayout.writeBucketed(
      StateLayout.readSlices(spark, lineage, "prefix_counts_batch")
        .groupBy(col("w")).agg(sum(col("c1")).as("c1")),
      s"$stateOutDir/prefix_counts_batch", "w")
    // The disjoint-id artifact consolidates where it exists (pre-id
    // lineage dirs recorded nothing — their docs stay unvalidatable;
    // ids are already distinct across slices by the very contract the
    // artifact checks, so this is pure IO, no dedup).
    val withIds = lineage.filter(d => java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$d/doc_ids_batch")))
    if (withIds.nonEmpty)
      StateLayout.writeBucketed(
        StateLayout.readSlices(spark, withIds, "doc_ids_batch"),
        s"$stateOutDir/doc_ids_batch", "doc_id")
    val v = StateLayout.readSlice(spark, s"$stateOutDir/prefix_counts_batch").count()
    writeMeta(stateOutDir, orderOf(stateInDir), v)
    StateLayout.writeLineage(stateOutDir, Seq(stateOutDir))
  }
}
