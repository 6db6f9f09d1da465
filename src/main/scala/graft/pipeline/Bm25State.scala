package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens
import graft.operators.{DriverOverlap, TextSearch}

/** Weekly-cadence lexical retrieval index (the BM25 twin of the
  * curation state families, q149): per-batch postings state +
  * query-time serving that reads only the probed terms' buckets.
  *
  * Public technique: BM25 (Robertson & Zaragoza 2009) over an inverted
  * index; the cadence shape mirrors the reference-free span/line df
  * discipline ([[CurationRun]]) — batch doc ids are DISJOINT, so every
  * corpus statistic BM25 needs composes exactly across slices:
  *
  *  - `postings_batch/` (doc_id, tok, tf, dl) — the batch's inverted
  *    index, document length denormalized onto each posting (a doc's
  *    dl never changes), bucketed BY TERM ([[StateLayout]]).
  *  - `stats_batch/` one row (n_docs, sum_dl) — longs, so composed
  *    N = Σ n_docs and avgdl = Σ sum_dl / Σ n_docs reproduce the
  *    from-scratch aggregate BIT-EXACTLY (exact integer sums; one
  *    double division in both forms). Docs with zero tokens are out
  *    of both (the batch form's dl aggregate never sees them).
  *  - `lineage.txt` — the shared manifest contract
  *    ([[StateLayout.readLineage]]).
  *
  * Term df needs no artifact of its own: df(t) = the number of
  * composed postings rows for t (one per (doc, t)), countable from the
  * SAME pruned read that serves tf.
  *
  * SERVING is the regime where the bucketed layout's pruning genuinely
  * pays (the measured min(1, probeKeys/B) bound): a query probes a
  * handful of terms, so the postings read touches a sliver of the
  * corpus state no matter how large the index grows — the 100 TB
  * contract is per-query cost ∝ the probed terms' postings, never a
  * corpus scan. Scoring reuses [[TextSearch.scoreBm25]] verbatim, so
  * serve(composed state) ≡ [[TextSearch.bm25]](composed corpus)
  * bit-for-bit (Bm25StateSpec pins it; the q149 DuckDB oracle replays
  * the batch form).
  *
  * INGEST per increment is O(batch): two tokenize aggregates over the
  * new docs (tf and dl — the compact dl frame is cached across the
  * postings and stats writes), one bucketed write. History
  * is never read at ingest — unlike the dedup front there is no
  * cross-batch candidate structure to maintain; composition happens at
  * serve time through the manifest.
  */
object Bm25State {

  private def writeSlices(docs: DataFrame, idCol: String, textCol: String,
      stateOutDir: String, recordIds: Boolean): Unit = DriverOverlap.scope { s =>
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    // The doc-length frame is doc-scale-compact and read by BOTH
    // writes — persisted, so the batch tokenizes exactly twice (the tf
    // and dl aggregates; `terms` itself is token-scale and deliberately
    // NOT cached, the repo's array-intermediate caching lesson) and
    // the stats write pays no third pass.
    val dl = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .persist()
    s.release(dl.unpersist())
    val postings = terms
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .join(dl, "doc_id")
      .select(col("doc_id"), col("tok"), col("tf"), col("dl"))
    // The id artifact's DAG is independent of the postings/stats chain
    // — fork it (guide §2.6, r14). The postings write stays first on
    // the main thread so it alone materializes the shared `dl` cache
    // (concurrent first-materialization would duplicate that compute);
    // the stats write then reads it warm.
    if (recordIds) s.fork(StateLayout.writeBucketed(
      docs.select(StateLayout.castIdStrict(col(idCol)).as("doc_id")).distinct(),
      s"$stateOutDir/doc_ids_batch", "doc_id"))
    StateLayout.writeBucketed(postings, s"$stateOutDir/postings_batch", "tok")
    StateLayout.writeState(
      dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")),
      s"$stateOutDir/stats_batch", numFiles = 1)
  }

  /** From-scratch index build that WRITES the weekly state.
    * `recordIds = true` additionally lands a metadata-scale
    * `doc_ids_batch` artifact (bucketed BY doc id — the [[LmState]]
    * discipline) so later `validateDisjoint` checks probe it
    * bucket-pruned in O(batch) instead of column-scanning the
    * composed postings. Default off: the artifact costs one extra
    * small job per version, and callers with upstream-enforced id
    * discipline shouldn't pay it. */
  def writeInit(docs: DataFrame, idCol: String, textCol: String,
      stateOutDir: String, recordIds: Boolean = false): Unit = {
    writeSlices(docs, idCol, textCol, stateOutDir, recordIds)
    StateLayout.writeLineage(stateOutDir, Seq(stateOutDir))
  }

  /** Weekly increment: a NEW batch lands ITS slice; nothing historical
    * is read or rewritten.
    *
    * CONTRACT (require-grade, but deliberately not checked by default):
    * the batch's doc ids must be DISJOINT from every prior slice's.
    * Additive composition (Σ tf, Σ n_docs, Σ sum_dl, df = row count)
    * is exact ONLY under that disjointness — a re-ingested doc id
    * would silently double-count its tf/df and the corpus stats, and
    * serving would diverge from the from-scratch oracle with no error
    * anywhere. The default skips the check because verifying it needs
    * a history read and the whole point of ingest is O(batch) with no
    * history IO; callers whose id discipline is upstream-enforced
    * (monotonic ingest ids, the [[CurationRun]] cadence) keep that.
    * `validateDisjoint = true` buys the check, through the cheapest
    * probe each lineage slice admits: slices that carry the
    * `doc_ids_batch` artifact (landed by `recordIds = true` at their
    * ingest) are read bucket-pruned to the batch's ids — O(batch-key
    * buckets); slices without it fall back to a COLUMN-pruned scan of
    * their postings' 8-byte doc_id column (doc_id is not the bucket
    * key — tok is — so that read cannot bucket-prune; it is the
    * cheapest whole-slice probe the postings layout admits). A
    * deployment that always ingests with `recordIds = true` gets the
    * O(batch) check the [[LmState.writeIncrement]] twin has. */
  def writeIncrement(newDocs: DataFrame, idCol: String, textCol: String,
      stateInDir: String, stateOutDir: String,
      validateDisjoint: Boolean = false, recordIds: Boolean = false): Unit = {
    require(stateInDir != stateOutDir,
      "state is versioned by directory: reading and overwriting the same " +
        "state in one job would corrupt it")
    val lineage = StateLayout.readLineage(stateInDir)
    if (validateDisjoint) {
      val spark = newDocs.sparkSession
      // Persisted: the probe feeds the pruned read's bucket collect
      // AND the overlap join (the LmState discipline). Strict cast: a
      // null-casting id would never join and silently VALIDATE
      // (ADVICE r12).
      val ids = newDocs
        .select(StateLayout.castIdStrict(col(idCol)).as("doc_id"))
        .distinct().persist()
      try {
        val (withIds, without) = lineage.partition(d =>
          java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"$d/doc_ids_batch")))
        val probes =
          (if (withIds.isEmpty) Nil
           else Seq(StateLayout.readSlicesPruned(spark, withIds,
             "doc_ids_batch", "doc_id", ids))) ++
          (if (without.isEmpty) Nil
           else Seq(StateLayout.readSlices(spark, without, "postings_batch")
             .select(col("doc_id")).distinct()))
        val overlap = probes.reduce(_ unionByName _)
          .join(ids, Seq("doc_id"))
          .limit(1).collect()
        require(overlap.isEmpty,
          s"writeIncrement: batch doc id ${overlap.head.get(0)} already " +
            "exists in the composed postings state — additive composition " +
            "would double-count its tf/df/n_docs (disjoint-id contract)")
      } finally ids.unpersist()
    }
    writeSlices(newDocs, idCol, textCol, stateOutDir, recordIds)
    StateLayout.writeLineage(stateOutDir, lineage :+ stateOutDir)
  }

  /** Serve a keyword query from the composed state: postings read
    * PRUNED to the query terms' buckets, df counted from the same
    * read, corpus stats summed from the one-row slices (O(#slices)),
    * scored through the shared [[TextSearch.scoreBm25]] tail. */
  def serve(spark: SparkSession, stateDir: String, queryTerms: Seq[String],
      topK: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val lineage = StateLayout.readLineage(stateDir)
    import spark.implicits._
    val probe = queryTerms.toDF("tok")
    // Pruning keeps every posting of every probed term (bucket
    // membership is derived from the term itself); the residual
    // same-bucket neighbors drop out of this exact filter.
    val post = StateLayout.readSlicesPruned(spark, lineage,
        "postings_batch", "tok", probe)
      .where(col("tok").isin(queryTerms: _*))
      // One pruned scan feeds tf, df, and dl below.
      .persist()
    val tf = post.select(col("doc_id"), col("tok"), col("tf"))
    val dl = post.select(col("doc_id"), col("dl")).distinct()
    val stats = StateLayout.readSlices(spark, lineage, "stats_batch")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    graft.operators.CacheLease.releaseAfterAction(
      TextSearch.scoreBm25(tf, dl, stats, topK, k1, b)) { () =>
      post.unpersist(); ()
    }
  }

  /** [[serve]]'s STREAMING twin: a stream of keyword queries answered
    * from the same composed postings state via
    * [[graft.streaming.StreamBm25Serve.serve]]. The static side —
    * composed postings pre-joined with their term df — is built once
    * per state version and PERSISTED HERE (an unpersisted stream-static
    * side would re-scan every postings slice per trigger); the
    * returned release handle unpersists it. N and avgdl read once from
    * the one-row stats slices, exactly [[serve]]'s arithmetic. The
    * static side is FIXED for the stream's lifetime (the
    * [[CurationRun.annServeStream]] contract) — a long-lived server
    * that must follow rebase boundaries without a restart uses
    * [[bm25ServeSession]], whose swap helper re-resolves the static
    * side per micro-batch (VERDICT r10 item 3). */
  def serveStream(spark: SparkSession, stateDir: String,
      queries: DataFrame, topK: Int, k1: Double = 1.2, b: Double = 0.75)
      : (org.apache.spark.sql.Dataset[graft.streaming.StreamBm25Serve.Hit],
        () => Unit) = {
    val lineage = StateLayout.readLineage(stateDir)
    // Persisted BEFORE the df self-join: unpersisted, materializing
    // `statics` would scan every composed postings slice twice (join
    // left side + df aggregate side).
    val post = StateLayout.readSlices(spark, lineage, "postings_batch")
      .persist()
    val statics = post
      .join(post.groupBy(col("tok")).agg(count(lit(1)).as("df")), "tok")
      .persist()
    val statsRow = StateLayout.readSlices(spark, lineage, "stats_batch")
      .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("s"))
      .head()
    val n = statsRow.getLong(0)
    // Exactly serve's avgdl expression: cast(sum_dl as double) / n_docs.
    val avgdl = statsRow.getLong(1).toDouble / n
    (graft.streaming.StreamBm25Serve.serve(queries, statics, n, avgdl,
      topK, k1, b),
      () => { statics.unpersist(); post.unpersist(); () })
  }

  /** One BM25 state version's serving side: composed postings
    * pre-joined with term df, persisted and WARMED (toRdd count — no
    * per-stage plan updates on a serving driver), plus the composed
    * corpus stats. The postings frame itself persists only while the
    * df self-join materializes, then releases — the session holds one
    * cached frame per version, not two. */
  private def loadServeVersion(spark: SparkSession, stateDir: String)
      : (DataFrame, Long, Double) = {
    val lineage = StateLayout.readLineage(stateDir)
    val post = StateLayout.readSlices(spark, lineage, "postings_batch")
      .persist()
    val statics = post
      .join(post.groupBy(col("tok")).agg(count(lit(1)).as("df")), "tok")
      .persist()
    statics.queryExecution.toRdd.count()
    post.unpersist()
    val statsRow = StateLayout.readSlices(spark, lineage, "stats_batch")
      .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("s"))
      .head()
    val n = statsRow.getLong(0)
    (statics, n, statsRow.getLong(1).toDouble / n)
  }

  /** Long-lived BM25 serving session with a SWAPPABLE state version
    * (VERDICT r10 item 3) — the [[VersionedServeSession]] contract
    * (versioned swap, warmed load, synchronized release, zero
    * stateful streaming operators; see that class's scaladoc)
    * instantiated for the BM25 family: the static side is the
    * composed postings pre-joined with term df, each batch runs the
    * two-stage bounded fold of [[graft.streaming.StreamBm25Serve
    * .serve]] in BATCH mode (bit-equal to [[serve]] per query —
    * StreamBm25ServeSpec pins the fold against batch serve, scores
    * included). */
  final class Bm25ServeSession private[Bm25State] (spark: SparkSession,
      initialStateDir: String, topK: Int, k1: Double, b: Double) {
    private val s = new VersionedServeSession[(DataFrame, Long, Double)](
      initialStateDir,
      load = dir => loadServeVersion(spark, dir),
      release = p => { p._1.unpersist(); () },
      answerWith = (queries, p, dir) => {
        val (statics, n, avgdl) = p
        graft.streaming.StreamBm25Serve.serve(queries, statics, n,
            avgdl, topK, k1, b)
          .withColumn("state_version", lit(dir))
      })

    /** The state version currently answering. */
    def version: String = s.version
    /** Swap to a new state version (a rebase boundary). */
    def swapTo(stateDir: String): Unit = s.swapTo(stateDir)
    /** One query batch (q_id, terms) answered under the CURRENT
      * version, hits tagged with the answering state_version. */
    def answer(queries: DataFrame): DataFrame = s.answer(queries)
    /** Serve a STREAM of keyword queries. */
    def serve(queries: DataFrame, checkpoint: String)(
        sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
      s.serve(queries, checkpoint)(sink)
    /** Release the current version's persisted static side. */
    def close(): Unit = s.close()
  }

  /** Open a [[Bm25ServeSession]] at `stateDir`. */
  def bm25ServeSession(spark: SparkSession, stateDir: String, topK: Int,
      k1: Double = 1.2, b: Double = 0.75): Bm25ServeSession =
    new Bm25ServeSession(spark, stateDir, topK, k1, b)

  /** Lineage compaction — pure IO, the [[CurationRun.rebaseState]]
    * discipline: postings consolidate into one bucketed slice (where a
    * production deployment re-derives B for the grown corpus), the
    * one-row stats slices sum into one (exact long adds). */
  def rebase(spark: SparkSession, stateInDir: String,
      stateOutDir: String): Unit = {
    require(stateInDir != stateOutDir,
      "rebase writes a new state version")
    val lineage = StateLayout.readLineage(stateInDir)
    StateLayout.writeBucketed(
      StateLayout.readSlices(spark, lineage, "postings_batch"),
      s"$stateOutDir/postings_batch", "tok")
    // The disjoint-id artifact consolidates — but ONLY when every
    // lineage dir carries it (ADVICE r12: without consolidation, a
    // deployment that always ingests with recordIds = true silently
    // lost the O(batch) probe after every rebase). The all-or-nothing
    // guard is deliberate and differs from [[LmState.rebase]]: this
    // family HAS a complete fallback probe (the postings doc_id scan),
    // and validateDisjoint trusts an id slice as covering its dir's
    // docs — consolidating a PARTIAL id set into the rebased dir would
    // make the pre-id docs invisible to the check, trading a complete
    // slow probe for an incomplete fast one. A mixed lineage therefore
    // rebases WITHOUT the artifact and keeps the complete fallback;
    // the LM twin has no fallback, so partial consolidation there
    // loses nothing.
    val allHaveIds = lineage.forall(d => java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$d/doc_ids_batch")))
    if (allHaveIds)
      StateLayout.writeBucketed(
        StateLayout.readSlices(spark, lineage, "doc_ids_batch"),
        s"$stateOutDir/doc_ids_batch", "doc_id")
    StateLayout.writeState(
      StateLayout.readSlices(spark, lineage, "stats_batch")
        .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
          coalesce(sum(col("sum_dl")), lit(0L)).as("sum_dl")),
      s"$stateOutDir/stats_batch", numFiles = 1)
    StateLayout.writeLineage(stateOutDir, Seq(stateOutDir))
  }
}
