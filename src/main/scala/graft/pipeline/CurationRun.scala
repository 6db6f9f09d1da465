package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CacheLease, DataMix, DriverOverlap, QualityClassifier, TextAnalysis, TextDedup, VectorSim}
import graft.sources.Sinks

/** End-to-end training-data curation run — the extension tier's
  * [[Runner]] analogue: one call takes a raw document corpus plus a
  * benchmark set and lands a cleaned, deduplicated, decontaminated,
  * language-sampled corpus and its packed-sequence bins as parquet.
  *
  * Stage order is the one that minimizes downstream work: cheap map
  * passes (normalize, redact) first, then the quality gate (shrinks
  * everything after), decontamination (equi-join against the broadcast
  * benchmark shingle set), substring-level span removal (cuts
  * cross-document boilerplate BEFORE near-dup signatures see it),
  * near-dup clustering + quality-survivor selection over the survivors
  * only (the [[DedupSuite]] shared artifacts — built once on the
  * span-cleaned corpus), embedding-space semantic dedup over the
  * survivors (paraphrase duplicates shingles can't see, when an
  * embeddings frame is supplied), deterministic language-stratified
  * sampling, and finally sequence packing over exactly the kept text.
  * Every stage is an independently oracle-verified operator
  * (q46/q42/q17/q47/q69/q53/q58/q70+q75/q48/q54) — composition is the
  * only thing this adds, like q32/q60 at catalog scale.
  *
  * The weekly state cadences ([[runInit]]/[[runIncremental]]) apply
  * the semantic stage too (after survivor selection, where the
  * incremental-equality pin extends through it for free) and — opt-in
  * via `spanState` — span removal, whose corpus-scale gram-df state
  * rides per-batch `span_grams_batch` slices (distinct-doc counts add
  * across disjoint-id batches, so the composed df is exact; see the
  * span-state section below for the append-only cleaning contract).
  * Opt-in via `lineState`, the same cadence runs RefinedWeb-style
  * line-granular boilerplate dedup (q144/q145) on per-batch
  * `line_df_batch` slices, before the span stage when both are on.
  *
  * All joins are key equi-joins; nothing here collects data to the
  * driver (the run returns row COUNTS per stage — each an aggregate —
  * as the audit trail a production run logs).
  */
object CurationRun {

  /** Per-stage audit counts. `spanCleaned` = docs that lost at least
    * one repeated span (-1 when the stage didn't run — the state
    * cadences, see [[runInit]]); `semDropped` = docs removed by
    * embedding-space dedup (-1 when no embeddings were supplied);
    * `modelGated` = docs surviving the model-based quality gate (-1
    * when no classifier weights were supplied).
    *
    * The last three fields are the DELTA publish's carry
    * observability (VERDICT r11 item 2): `nShardsChanged` /
    * `nShardsCarried` = publish shards re-packed vs hard-linked this
    * increment (-1 on the full-publish paths — they have no carry),
    * and `nShardsOverlap` = distinct BATCH shards strictly below the
    * stored fingerprint range's max — the range-sharding premise
    * tripwire (VERDICT r11 item 5): nonzero means ingest ids stopped
    * being monotonic, every overlapped shard diffs as changed, and
    * the "delta" silently pays toward full-publish cost. Correctness
    * is unaffected (the membership events catch everything); these
    * stats make the COST regression visible in a normal run. */
  final case class Stats(
    input: Long, gated: Long, modelGated: Long, decontaminated: Long,
    spanCleaned: Long, kept: Long, semDropped: Long, sampled: Long,
    bins: Long, lineCleaned: Long = -1L, nShardsChanged: Long = -1L,
    nShardsCarried: Long = -1L, nShardsOverlap: Long = -1L)

  /** Model-based quality gate (q82, the fastText-style filter) over a
    * gated frame, under PRE-TRAINED weights — the q83 artifact. Taking
    * weights (not a training set) keeps the stage a pure per-doc map,
    * so it slots into the weekly cadences with the incremental
    * equality pin intact (training inside the pipeline would make the
    * negatives corpus-scale state, the span-removal problem). The
    * score is the [[graft.functions.expr.ClassifierScore]] kernel
    * COLUMN (spec-pinned bit-equal to the relational scoring path),
    * so the gate is a filter fused into the scan — no explode, no
    * join, no shuffle. Docs below `minScore` drop; returns the
    * filtered frame (the input when no classifier was supplied). */
  private def classifierStage(gated: DataFrame,
      classifier: Option[(DataFrame, Int)],
      minScore: Double): DataFrame = classifier match {
    case None => gated
    case Some((weights, buckets)) =>
      import graft.functions.TextFunctions.tokens
      val model = QualityClassifier.weightsModel(weights, buckets)
      gated.where(
        QualityClassifier.scoreCol(tokens(col("text")), model) >= minScore)
  }

  /** Embedding-space dedup stage (SemDeDup, q70/q75) over a kept
    * frame: join the supplied embeddings on doc_id, run the guarded
    * disposition, and drop non-survivors. Docs WITHOUT an embedding
    * row pass through untouched (the text stages already vetted them);
    * the cell guard caps any skewed cell. Returns the filtered frame
    * plus the dropped count (-1 when no embeddings were supplied); the
    * persisted drop list releases when scope `s` exits.
    *
    * Both cadences call this AFTER survivor selection on the composed
    * kept frame, so the incremental pin (init+inc == scratch) extends
    * through it for free: the stage is a deterministic function of the
    * already-pinned-equal kept set. This v1 form recomputes the
    * disposition per run (corpus-scale semantic work each week); the
    * batch-scale alternative — frozen centroids in state, per-batch
    * cell assignment, incremental within-cell pairs like the LSH
    * cadence — is BUILT (VERDICT r06 item 3): opt in with
    * `semanticState = true` at [[runInit]]; incrementals auto-detect
    * it (see the incremental-semantic-state block below). */
  private def semanticStage(s: DriverOverlap.Scope, kept: DataFrame,
      embeddings: Option[DataFrame], semClusters: Int, semIters: Int,
      semThreshold: Double, semMaxCellSize: Int): (DataFrame, Long) = embeddings match {
    case None => (kept, -1L)
    case Some(emb) =>
      val vecs = embeddedVecs(kept, emb)
      // The disposition feeds the audit count and then every output
      // action's anti-join — persist the compact (doc_id) drop list,
      // not the kept corpus, and release it with the caller's scope
      // (the output tail runs several actions, so an after-first-action
      // lease would force the pair join to recompute per action).
      // Scoped dedup (VERDICT r07 item 7): the count below IS the
      // first action over the disposition, so the assignment cache
      // releases synchronously here — no lease left for the harness's
      // rep boundary to race.
      val (disp, dispRelease) = VectorSim.semanticDedupScoped(vecs,
        semClusters, semIters, semThreshold, semMaxCellSize)
      val dropped = disp
        .where(col("keep") === 0)
        .select(col("vec_id").as("doc_id"))
        .persist()
      s.release(dropped.unpersist())
      val nDropped = dropped.count()
      dispRelease()
      (kept.join(dropped, Seq("doc_id"), "left_anti"), nDropped)
  }

  // ---------------------------------------------------------------
  // Incremental semantic-dedup state (VERDICT r06 item 3). Opt-in at
  // init (`semanticState = true` with embeddings supplied); weekly
  // incrementals auto-detect it from the state. Three artifacts join
  // the state layout:
  //   sem_centroids/   (cell, vec)            FROZEN quantizer (k rows, copied forward)
  //   sem_cells_batch/ (vec_id, cell)         this batch's cell assignments
  //   sem_clusters/    (doc_id, canonical_id) FULL semantic labels (small)
  // The quantizer is trained ONCE at init (or supplied) and never
  // retrained mid-lineage — the embedding-space analogue of the fixed
  // MinHash family: per-batch work is one cell-assignment map pass +
  // within-cell pairs of the batch against the composed cells
  // (VectorSim.semanticPairsIncremental) + the contracted label merge,
  // all batch-scale. Equality contract: init+inc over any batch split
  // == the same machinery run non-incrementally over the composed
  // corpus UNDER THE SAME CENTROIDS (IncrementalCurationSpec pins it
  // across 2 incremental batches via a seeded scratch run). Retraining
  // the quantizer is an explicit state rebase decision, exactly like
  // recomputing the LSH banding.
  //
  // Participant semantics: semantic clusters form over the embedded
  // DECON corpus (append-only across batches), not the kept set —
  // kept membership changes as near-dup survivors shift, which would
  // make per-batch label state unsound. The disposition then applies
  // to the CURRENT kept frame: in each semantic cluster the lowest
  // kept doc_id survives (deterministic; a cluster whose members are
  // all near-dup-dropped costs nothing). v1 [[semanticStage]] instead
  // clusters the kept set per run — the two differ only for docs that
  // bridge clusters while themselves near-dup-dropped, and the state
  // cadence's semantics are the documented contract for weekly runs.
  // ---------------------------------------------------------------

  // ---------------------------------------------------------------
  // Incremental ANN-codes state (VERDICT r07 item 3): the q138
  // artifact discipline composed into the weekly cadence. Two more
  // artifacts join the state layout when `annState = true` at init:
  //   ann_model/       (kind, subspace, code, vec)  FROZEN PQ + coarse model (copied forward)
  //   ann_codes_batch/ (vec_id, cell, c0..c{S-1})   THIS batch's PQ codes
  // The model is trained ONCE at init on the init corpus's embedded
  // decon vectors — the same frozen-artifact contract as sem_centroids
  // and the MinHash family. A weekly batch encodes ONLY its own
  // vectors under the read-back model and writes its own codes slice;
  // serving ([[annServe]]) unions the slices along the lineage. Since
  // encoding is a pure per-row map under a frozen model, composed
  // slices == a from-scratch encode of the composed corpus
  // (IncrementalCurationSpec pins it). Retraining the ANN model is a
  // state rebase decision exactly like the semantic quantizer; the
  // default rebase consolidates codes as pure IO.
  // ---------------------------------------------------------------

  /** Embedded decon vectors of one frame: (vec_id, embedding) for the
    * docs that have an embedding row. */
  private def embeddedVecs(docs: DataFrame, emb: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(emb.select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
      .select(col("vec_id"), col("embedding"))

  private def writeAnnInit(spark: org.apache.spark.sql.SparkSession,
      stateOutDir: String, vecs: DataFrame, subspaces: Int,
      codewords: Int, clusters: Int, iters: Int): Unit = {
    val dim = vecs.select(size(col("embedding")).as("d")).head().getInt(0)
    val m = VectorSim.pqTrain(vecs, dim, subspaces, codewords, iters)
    val cen = VectorSim.kmeansCentroids(vecs, clusters, iters)
    StateLayout.writeState(VectorSim.annModelFrame(spark, m, cen),
      s"$stateOutDir/ann_model", numFiles = 1)
    StateLayout.writeBucketed(VectorSim.annCodesFrame(vecs, m, cen),
      s"$stateOutDir/ann_codes_batch", "cell")
  }

  /** Weekly ANN append: read back the frozen model, encode ONLY this
    * batch's vectors, land the batch slice, carry the model forward. */
  private def writeAnnIncrement(spark: org.apache.spark.sql.SparkSession,
      stateInDir: String, stateOutDir: String, vecsNew: DataFrame): Unit = {
    val modelF = StateLayout.readState(spark, s"$stateInDir/ann_model")
    val (m, cen) = VectorSim.annModelFromFrame(modelF)
    StateLayout.writeState(modelF, s"$stateOutDir/ann_model", numFiles = 1)
    StateLayout.writeBucketed(VectorSim.annCodesFrame(vecsNew, m, cen),
      s"$stateOutDir/ann_codes_batch", "cell")
  }

  /** Whether state dir `dir` holds the artifact `name` — how the
    * cadences auto-detect which opt-in state families a lineage has. */
  private def hasState(dir: String, name: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/$name"))

  /** Serve ANN search from the state's persisted index: probe
    * selection + LUT join over the lineage's code slices — a query
    * batch never pays a corpus encode pass (the q138 contract, now
    * weekly-cadence-shaped). The code-slice READ is pruned to the
    * buckets the query batch actually probes (VERDICT r09 item 1):
    * probes derive once (query-side, persisted — they also feed the
    * candidate join), their distinct cells drive the
    * [[StateLayout.readSlicesPruned]] partition filter, and the
    * serving scan touches `nprobe/|cells|` of the code bytes instead
    * of all of them. The persisted probe frame releases after the
    * caller's first action over the result. */
  def annServe(spark: org.apache.spark.sql.SparkSession, stateDir: String,
      queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val (m, cen) = VectorSim.annModelFromFrame(
      StateLayout.readState(spark, s"$stateDir/ann_model"))
    val probes = VectorSim.probeFrame(queries, cen, nprobe).persist()
    val codes = StateLayout.readSlicesPruned(spark, StateLayout.readLineage(stateDir),
      "ann_codes_batch", "cell", probes.select(col("cell")))
    CacheLease.releaseAfterAction(
      VectorSim.pqSearchIvfWithProbes(probes, queries, codes, m, k)) { () =>
      probes.unpersist(); ()
    }
  }

  /** One ANN state version's serving side: the read-back frozen model
    * plus the composed code slices tagged with a `state_version`
    * column (the state dir IS the version id — lineage-stable and
    * human-debuggable). Codes persist here; the caller releases. The
    * shared loader of both serving forms ([[annServeStream]] and
    * [[AnnServeSession]]). */
  private def loadAnnVersion(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): (VectorSim.PqModel, Seq[Array[Double]], DataFrame) = {
    val (m, cen) = VectorSim.annModelFromFrame(
      StateLayout.readState(spark, s"$stateDir/ann_model"))
    val codes = StateLayout.readSlices(spark, StateLayout.readLineage(stateDir), "ann_codes_batch")
      .withColumn("state_version", lit(stateDir))
      .persist()
    (m, cen, codes)
  }

  /** [[annServe]]'s STREAMING twin (VERDICT r08 item 5): a stream of
    * query vectors answered from the same composed code slices under
    * the same read-back frozen model, via
    * [[graft.streaming.StreamAnnServe.serve]]. The static code side is
    * read once per state version and PERSISTED HERE — a stream-static
    * join re-evaluates an unpersisted static side every micro-batch,
    * which would re-scan every code slice's parquet per trigger. The
    * returned release handle unpersists it. The static side is FIXED
    * for the stream's lifetime (the plan binds it at start) — a
    * long-lived server that must follow rebase boundaries uses
    * [[annServeSession]], whose swap helper re-resolves the static
    * side per micro-batch (VERDICT r09 item 4). */
  def annServeStream(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, queries: DataFrame, nprobe: Int,
      k: Int): (org.apache.spark.sql.Dataset[graft.streaming.StreamAnnServe.Hit],
        () => Unit) = {
    val (m, cen, codes) = loadAnnVersion(spark, stateDir)
    (graft.streaming.StreamAnnServe.serve(queries, codes, m, cen, nprobe, k),
      () => { codes.unpersist(); () })
  }

  /** Long-lived ANN serving session with a SWAPPABLE state version
    * (VERDICT r09 item 4 — closes the gate-family asymmetry where the
    * other cadence twins re-derive their gates per micro-batch but the
    * ANN twin's static side was a frozen snapshot the CALLER had to
    * re-plumb on a rebase) — the [[VersionedServeSession]] contract
    * (versioned swap, warmed load, synchronized release, zero
    * stateful streaming operators; see that class's scaladoc)
    * instantiated for the ANN family: the static side is the
    * read-back frozen model + composed persisted codes, and each
    * batch runs EXACTLY the batch [[annServe]] search (probe
    * selection + LUT join; bit-equal by construction, spec-pinned). */
  final class AnnServeSession private[CurationRun] (
      spark: org.apache.spark.sql.SparkSession,
      initialStateDir: String, nprobe: Int, k: Int) {
    private val s = new VersionedServeSession[
        (VectorSim.PqModel, Seq[Array[Double]], DataFrame)](
      initialStateDir,
      load = dir => {
        val (m, cen, codes) = loadAnnVersion(spark, dir)
        // Warm via toRdd: materializes the persist without posting
        // per-stage plan updates on the serving driver.
        codes.queryExecution.toRdd.count()
        (m, cen, codes)
      },
      release = p => { p._3.unpersist(); () },
      answerWith = (queries, p, dir) => {
        val (m, cen, codes) = p
        VectorSim.pqSearchIvfFromCodes(queries, codes, m, cen, nprobe, k)
          .withColumn("state_version", lit(dir))
      })

    /** The state version currently answering. */
    def version: String = s.version
    /** Swap to a new state version (a rebase boundary). */
    def swapTo(stateDir: String): Unit = s.swapTo(stateDir)
    /** One query batch answered under the CURRENT version — exactly
      * [[annServe]] on that version, hits tagged with the answering
      * state_version. */
    def answer(queries: DataFrame): DataFrame = s.answer(queries)
    /** Serve a STREAM of query vectors. */
    def serve(queries: DataFrame, checkpoint: String)(
        sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
      s.serve(queries, checkpoint)(sink)
    /** Release the current version's persisted static side. */
    def close(): Unit = s.close()
  }

  /** Open an [[AnnServeSession]] at `stateDir`. */
  def annServeSession(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, nprobe: Int, k: Int): AnnServeSession =
    new AnnServeSession(spark, stateDir, nprobe, k)

  // ---------------------------------------------------------------
  // Incremental span-removal state: per-gram document frequency is the
  // corpus-scale quantity that kept span removal OUT of the weekly
  // cadences (the scaladoc's documented future work, now closed). One
  // more artifact joins the layout when `spanState = true` at init:
  //   span_grams_batch/ (h, n_docs)  this batch's distinct-doc count per k-gram hash
  // Doc ids are disjoint across batches, so slice counts ADD along the
  // lineage — composed df == the from-scratch df over the composed raw
  // corpus. APPEND-ONLY semantics: each batch is cleaned against the
  // df as of its ingest (history + itself) and landed text is never
  // rewritten (rewriting would invalidate every index/signature slice
  // built on it, and trained-on data cannot be retracted). Cross-batch
  // boilerplate IS caught: a span seen once in history and again in
  // the batch reaches minDf and is cut from the batch doc. The pin:
  // a batch's cleaned text == removeRepeatedSpans over history∪batch
  // restricted to the batch (IncrementalCurationSpec).
  // With `exactGate`, hash_batch keys are hashes of the LANDED
  // (cleaned) text: a recrawl whose cleaning differs (later df) simply
  // misses the gate and falls through to LSH — output-preserving in
  // the safe direction.
  // ---------------------------------------------------------------

  /** A stage's deferred-audit handle (VERDICT r09 item 3): the output
    * frame and the AUDIT frame whose count joins the run's single
    * folded stats action instead of paying its own job. The stage's
    * state-slice write and its token-scale caches (grams / lines) ride
    * the caller's scope: the write forks, the caches release when the
    * batch front exits. */
  private final case class StagedAudit(frame: DataFrame, audit: DataFrame)

  /** Shared span-state stage: clean `deconRaw` against history+batch
    * gram counts, land this batch's counts slice, return the cleaned
    * 3-col decon frame plus the deferred span audit (docs that lost a
    * span — counted in the run's ONE folded stats action, VERDICT r09
    * item 3). History arrives as a FUNCTION of the batch's counts
    * slice so the incremental caller reads only the state buckets the
    * batch's gram keys hit (VERDICT r09 item 1); the slice itself
    * lands bucketed by gram hash for the next increment's pruned
    * read. */
  private def spanStateStage(s: DriverOverlap.Scope, deconRaw: DataFrame,
      historyOf: DataFrame => DataFrame,
      stateOutDir: String, spanK: Int,
      spanMinDf: Int): StagedAudit = {
    val raw = deconRaw.persist() // grams + removal base + quality join
    s.release(raw.unpersist())
    val (cleaned, slice, gramsRel) = TextDedup.removeRepeatedSpansIncrementalBy(
      raw, "doc_id", "text", spanK, spanMinDf, historyOf)
    s.release(gramsRel())
    // localCheckpoint, not persist: this compact output is the leaf the
    // decon write AND the deferred audit count both hang off — under
    // plain persist each of those actions re-analyzes (and the SQL
    // event bus re-renders) the ENTIRE prep+decon+span chain behind it,
    // measured as 8 MB plan strings per action on the cadence runs.
    // Truncating lineage here pays the chain's optimization once;
    // blocks release via ContextCleaner.
    // The checkpoint runs FIRST (it materializes the shared raw/gram
    // caches), then the batch's state-slice write — independent of
    // everything until the caches release — lands on a driver thread
    // (guide §2.6) overlapping the downstream stages; the scope joins
    // it before the release.
    val withQ = cleaned
      .join(raw.select(col("doc_id"), col("quality_score")), "doc_id")
      .select(col("doc_id"), col("clean_text").as("text"),
        col("quality_score"), col("n_removed"))
      .localCheckpoint(true)
    s.fork(StateLayout.writeBucketed(slice, s"$stateOutDir/span_grams_batch", "h"))
    StagedAudit(withQ.drop("n_removed"), withQ.where(col("n_removed") > 0))
  }

  /** Shared line-state stage ([[spanStateStage]]'s discipline at line
    * granularity, q144/q145): clean the RAW batch against
    * history+batch line-df counts, land this batch's `line_df_batch`
    * slice, return the cleaned (doc_id, text) frame, the audit count
    * (docs that lost a line), and the release hook. Runs BEFORE
    * [[prepBatch]] — normalization collapses all whitespace (q46), so
    * line structure only exists on the raw text; this is also the
    * operational order (RefinedWeb dedups extracted lines, then
    * normalizes). Line df is therefore always counted on RAW batch
    * text, which keeps the composed-df equality exact across weeks. */
  private def lineStateStage(s: DriverOverlap.Scope, rawDocs: DataFrame,
      historyOf: DataFrame => DataFrame,
      stateOutDir: String, lineMinDf: Int): StagedAudit = {
    val raw = rawDocs.select(col("doc_id"), col("text")).persist()
    s.release(raw.unpersist())
    val (cleaned, slice, linesRel) = TextDedup.removeRepeatedLinesIncrementalBy(
      raw, "doc_id", "text", lineMinDf, historyOf)
    s.release(linesRel())
    // localCheckpoint: same lineage-truncation rationale as
    // [[spanStateStage]] — the line chain feeds prepBatch AND the
    // deferred audit count, so a plain persist re-renders the whole
    // raw-line chain per downstream action. Checkpoint first (it
    // materializes the shared line cache), then the slice write lands
    // on a driver thread overlapping the downstream stages, joined by
    // the scope before the cache releases (see [[spanStateStage]]).
    val out = cleaned
      .select(col("doc_id"), col("clean_text").as("text"), col("n_removed"))
      .localCheckpoint(true)
    s.fork(StateLayout.writeBucketed(slice, s"$stateOutDir/line_df_batch", "h"))
    StagedAudit(out.drop("n_removed"), out.where(col("n_removed") > 0))
  }

  private def emptyGramCounts(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(0).select(col("id").as("h"), col("id").as("n_docs"))

  private def writeSemCentroids(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, cen: Seq[Array[Double]]): Unit =
    StateLayout.writeState(
      spark.createDataFrame(cen.zipWithIndex.map { case (w, i) =>
        (i, w.toSeq) }).toDF("cell", "vec"),
      s"$stateDir/sem_centroids", numFiles = 1)

  private[graft] def readSemCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Array[Double]] =
    StateLayout.readState(spark, path).orderBy(col("cell"))
      .collect().map(_.getSeq[Double](1).toArray).toSeq

  /** Disposition of the CURRENT kept frame under the composed semantic
    * labels: in each cluster the lowest KEPT doc_id survives; docs
    * outside any cluster pass through. Returns the filtered frame
    * (PERSISTED — the output tail runs several actions over it, and
    * unpersisted the label-join chain re-executed per action; ADVICE
    * r07), released when scope `s` exits — after the output tail and
    * the folded stats action. The dropped count is NOT paid here: the
    * run's single folded stats action counts kept and out and takes
    * the difference (VERDICT r09 item 3). */
  private def semanticKeepFilter(s: DriverOverlap.Scope, kept: DataFrame,
      semLabels: DataFrame): DataFrame = {
    val labeled = kept.join(
      semLabels.select(col("doc_id"), col("canonical_id")),
      Seq("doc_id"), "left")
    val surv = labeled.where(col("canonical_id").isNotNull)
      .groupBy(col("canonical_id")).agg(min(col("doc_id")).as("surv_id"))
    val out = labeled.join(surv, Seq("canonical_id"), "left")
      .where(col("canonical_id").isNull || col("doc_id") === col("surv_id"))
      .select(col("doc_id"), col("text"), col("quality_score"))
      .persist()
    s.release(out.unpersist())
    out
  }

  /** Survivor keep set over the decontaminated corpus: near-dup
    * clusters from the suite's shared artifacts, quality-best survivor
    * per cluster, unclustered docs keep themselves. Returns a PERSISTED
    * and MATERIALIZED frame plus its count — materialized while the
    * suite's artifacts are still cached, so the survivors join reads
    * the suite's quality frame from cache instead of recomputing it
    * from lineage after `suite.close()` unpersists (VERDICT r04 item
    * 2: a lazy persist here is correct but forfeits exactly the
    * shared-artifact amortization the suite exists for). The caller
    * may close the suite as soon as this returns. */
  def keepSet(suite: DedupSuite, decon: DataFrame,
      dedupThreshold: Double): (DataFrame, Long) = {
    val clusters = suite.clusters(dedupThreshold)
    val k = survivorFilter(decon, clusters,
        suite.survivors(clusters).select(col("canonical_id"), col("survivor_id")))
      .persist() // feeds lang-id, the sample, packing, and the sink
    (k, k.count()) // eager: materializes the cache; doubles as the audit stat
  }

  /** The one survivor-selection filter both cadences share (their
    * equality is what IncrementalCurationSpec pins): keep a doc when
    * unclustered or when it IS its cluster's survivor. */
  private def survivorFilter(decon: DataFrame, clusters: DataFrame,
      survivors: DataFrame): DataFrame =
    decon
      .join(clusters, Seq("doc_id"), "left")
      .join(survivors, Seq("canonical_id"), "left")
      .where(col("survivor_id").isNull || col("survivor_id") === col("doc_id"))
      .select(col("doc_id"), col("text"), col("quality_score"))

  // ---------------------------------------------------------------
  // Weekly cadence (VERDICT r04 item 8): state-carrying init +
  // incremental runs. State is APPEND-STRUCTURED: each state dir holds
  // only ITS batch's slice of the corpus-scale artifacts plus the full
  // (small) label table and a lineage manifest:
  //   decon_batch/      (doc_id, text, quality_score)  this batch, gated+decontaminated
  //   index_batch/      (doc_id, sh)                    this batch's 32-bit shingle index,
  //                     bucketed by doc_id (pruned candidate-verify reads)
  //   signatures_batch/ (doc_id, m0..m{31})             this batch's MinHash signatures
  //   bands_batch/      (doc_id, band)                  this batch's LSH band keys,
  //                     bucketed by band (pruned candidate-join reads)
  //   clusters/         (doc_id, canonical_id)          FULL near-dup labels (small)
  //   lineage.txt       state dirs composing the corpus, oldest first, self last
  // Readers union the batch slices along the lineage, so a weekly run
  // WRITES batch-scale data only — rewriting the full corpus state
  // each week would make incremental IO corpus-scale and erase the
  // cadence's advantage (measured: full-rewrite state put the 10%-batch
  // run within 8% of a from-scratch run). Candidates come from the
  // batch's band keys against history band rows READ PRUNED to the
  // batch's buckets, verified against history index rows read pruned
  // to the candidate docs (TextDedup.minhashLshPairsIncrementalPruned
  // — never a full history signature/index scan); label merging is the
  // contracted-graph solve (connectedComponentsIncremental). The
  // lineage file is the local-FS stand-in for a metastore manifest; a
  // caller compacts a long lineage by re-running runInit over the
  // composed corpus (state rebase).
  // ---------------------------------------------------------------

  private val NumHashes = 32
  private val Bands = 16

  /** History banding rows along a lineage: the `bands_batch` slices
    * where they exist — pruned to `pruneTo`'s bucket probes when given
    * — DERIVED from the signature slices for lineage dirs written
    * before the bands artifact existed (legacy doctrine: degrade to
    * the old full-signature re-band, never break; the next rebase
    * consolidates them into the bucketed layout). */
  private def composedBands(spark: org.apache.spark.sql.SparkSession,
      lineage: Seq[String], pruneTo: Option[DataFrame]): DataFrame = {
    val (withBands, legacy) = lineage.partition(hasState(_, "bands_batch"))
    val parts =
      (if (withBands.isEmpty) Nil
       else Seq(pruneTo match {
         case Some(p) => StateLayout.readSlicesPruned(spark, withBands,
           "bands_batch", "band", p)
         case None => StateLayout.readSlices(spark, withBands, "bands_batch")
       })) ++
      (if (legacy.isEmpty) Nil
       else Seq(TextDedup.bandFrame(
         StateLayout.readSlices(spark, legacy, "signatures_batch"), NumHashes, Bands)))
    require(parts.nonEmpty, "composedBands needs a non-empty lineage")
    parts.reduce(_ unionByName _)
  }

  /** Map tier + quality gate + benchmark decontamination for one batch
    * of raw docs — the batch-scale front of both cadences. */
  private def prepBatch(docs: DataFrame, benchmark: DataFrame,
      minQuality: Double, minContaminatedShingles: Int,
      classifier: Option[(DataFrame, Int)] = None,
      minClassifierScore: Double = 0.5): DataFrame = {
    val normalized = TextAnalysis.normalize(docs, "doc_id", "text")
      .select(col("doc_id"), col("norm_text").as("text"))
    val redacted = TextAnalysis.redact(normalized, "doc_id", "text")
      .select(col("doc_id"), col("clean_text").as("text"))
    val quality = TextAnalysis.qualityScore(redacted, "doc_id", "text")
      .select(col("doc_id"), col("quality_score"))
    val gated = redacted
      .join(quality.where(col("quality_score") >= minQuality), "doc_id")
    // Model-based gate under pre-trained weights: per-doc, so the
    // cadence equality pin extends through it (fused, not counted).
    val clsGated = classifierStage(gated, classifier, minClassifierScore)
    clsGated.join(
      TextDedup.contaminated(clsGated, benchmark, "doc_id", "text", n = 3)
        .where(col("n_contaminated_shingles") >= minContaminatedShingles)
        .select(col("doc_id")),
      Seq("doc_id"), "left_anti")
  }

  /** ONE action for a run's whole audit row (VERDICT r09 item 3): each
    * stat is a single-row count aggregate and the union collects once,
    * so a weekly run pays one scheduled job for its audit trail
    * instead of one per stage — at the catalog's measured fixed
    * per-action cost that was the largest slice of q146. Frames over
    * persisted caches / landed parquet count from cache / footers. */
  private def foldCounts(stats: Seq[(String, DataFrame)]): Map[String, Long] =
    stats.map { case (k, df) =>
      df.agg(count(lit(1)).cast("long").as("n"))
        .select(lit(k).as("k"), col("n"))
    }.reduce(_ unionByName _)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Language-stratified sample + curated/packed sinks over a kept
    * frame — the output tail of both cadences. Returns the LANDED
    * (curated, bins) frames; their counts join the run's folded stats
    * action (VERDICT r09 item 3). Both artifacts land in the
    * per-shard flat-file layout ([[PublishState.writeSharded]],
    * shard = doc_id div publishSpan — RANGE sharding, the same
    * function the packer uses: a monotonic-id weekly batch lands in
    * its OWN new shards, so the DELTA publish can carry unchanged
    * shards forward as pure IO; row sets are unchanged from the flat
    * layout). */
  private def landOutputs(kept: DataFrame, outDir: String,
      cfg: PublishState.Config, carrier: PublishCarrier): (DataFrame, DataFrame) = {
    // A re-publish into a dir holding a stale completion marker must
    // retract it BEFORE the first write (round-13 review finding #1).
    PublishState.clearComplete(outDir, carrier)
    val spark = kept.sparkSession
    val lang = TextAnalysis.languageId(kept, "doc_id", "text")
      .select(col("doc_id"), col("detected_lang"))
    val sampled = DataMix.stratifiedSample(
      kept.join(lang, "doc_id"), "doc_id", "detected_lang",
      cfg.fractions, cfg.defaultFraction)
    import graft.functions.TextFunctions.tokens
    // PublishState.Config.shardOf (LONG) — the full and delta publish
    // tails MUST write the same shard width: a mixed dir (int files
    // hard-link-carried from a full publish beside long files from a
    // delta re-pack) breaks whole-dir parquet reads with a
    // schema-convert error (ADVICE r11; round-12 review finding #1).
    val shardOf = cfg.shardOf(col("doc_id"))
    val curated = sampled
      .select(col("doc_id"), col("text"), col("detected_lang"), col("quality_score"),
        shardOf.as("shard"))
    PublishState.writeSharded(curated, s"$outDir/curated",
      keepShardInContent = false, carrier = carrier)
    // Pack from the LANDED curated table, not the lazy chain: the
    // curated write above already paid the full upstream pipeline once;
    // re-deriving `curated` here would pay it a second time (measured
    // 6.6 s -> parquet-scan cost at sf0.1; at 100 TB the difference is
    // re-running the whole curation front vs one columnar read). Same
    // write-then-read-back discipline the manifest below uses — parquet
    // round-trips the rows exactly (VERDICT r07 item 6).
    val landedCurated = spark.read.parquet(s"$outDir/curated")
    val packed = DataMix.packSequenceContentsBy(
      landedCurated.select(col("doc_id"), col("text"),
        size(tokens(col("text"))).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", "text", budget = cfg.packBudget, shardOf = shardOf)
    PublishState.writeSharded(packed, s"$outDir/packed",
      keepShardInContent = true, carrier = carrier)
    // Writer-side validation record (q72/q107): per-shard totals +
    // order-invariant checksum + bin fill, derived from the LANDED
    // bins (read back, so the manifest describes exactly what a
    // loader will see). Loaders validate shards without re-reading
    // the packed text.
    val landedBins = spark.read.parquet(s"$outDir/packed")
    Sinks.overwriteParquet(
      DataMix.shardManifest(landedBins)
        .join(DataMix.packingEfficiency(landedBins, cfg.packBudget)
          .select(col("shard"), col("capacity_tokens"), col("fill_ratio")),
          Seq("shard")),
      s"$outDir/manifest", numFiles = 1)
    (landedCurated, landedBins)
  }

  /** The init-side semantic/ANN TRAINER block, extracted from
    * [[runInit]] so it can run as a fork of its state block (r14): the
    * frozen quantizer (trained or supplied), its salt, the init
    * batch's cells + fit summary, the full semantic label table, and
    * (opt-in) the frozen ANN model + init codes — all off one compact
    * persisted (id, vector) cache. Depends only on the landed decon
    * slice and the embeddings frame; consumers of `sem_clusters` run
    * after the fork joins. */
  private def semInitTrainWrites(spark: org.apache.spark.sql.SparkSession,
      stateOutDir: String, deconS: DataFrame, emb: DataFrame,
      semClusters: Int, semIters: Int, semThreshold: Double,
      semCentroidsIn: Option[String], semSalt: Int,
      annState: Boolean, annSubspaces: Int, annCodewords: Int,
      annClusters: Int, annIters: Int): Unit = DriverOverlap.scope { s =>
    // Persisted: the quantizer trainer's init sample + per-iter
    // assignment passes, the cell/fit writes, and (when on) the
    // ANN model/codes trainers all re-scan this join — one compact
    // (id, vector) cache serves ~20 trainer actions instead of
    // re-paying the decon-join per pass (VERDICT r09 item 3).
    val vecs = embeddedVecs(deconS, emb).persist()
    s.release(vecs.unpersist())
    // Frozen quantizer: trained on the init corpus (or supplied,
    // e.g. by a seeded scratch replay / a rebase); becomes state.
    val cen = semCentroidsIn match {
      case Some(p) => readSemCentroids(spark, p)
      case None => VectorSim.kmeansCentroids(vecs, semClusters, semIters)
    }
    writeSemCentroids(spark, stateOutDir, cen)
    // The salt is part of the frozen quantizer contract — record
    // it in state so incrementals can't drift from init's value.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$stateOutDir/sem_salt.txt"),
      s"$semSalt\n")
    def semWrites(): Unit = {
      StateLayout.writeBucketed(VectorSim.semanticCells(vecs, cen, semSalt),
        s"$stateOutDir/sem_cells_batch", "cell")
      // Ingest-time fit summary (VERDICT r08 item 3): the batch's
      // embeddings are in hand NOW — one extra tiny aggregate here
      // makes every later drift decision O(#slices), not O(corpus).
      StateLayout.writeState(VectorSim.quantizerFitSlice(vecs, cen),
        s"$stateOutDir/sem_fit_batch", numFiles = 1)
      val cellsS = StateLayout.readSlice(spark, s"$stateOutDir/sem_cells_batch")
      StateLayout.writeState(
        TextDedup.connectedComponents(VectorSim.semanticPairsIncremental(
          cellsS, emb, cellsS.select(col("vec_id")), semThreshold)),
        s"$stateOutDir/sem_clusters", numFiles = 1)
    }
    // ANN index state (VERDICT r07 item 3): train the frozen model
    // on the same cached embedded decon vectors. The two write
    // families share ONLY the vecs cache, so when the quantizer was
    // trained here (training fully materialized vecs) the ANN
    // trainer forks (guide §2.6); under supplied centroids the cache
    // is still cold and concurrent first-materialization would
    // duplicate its compute — sequential.
    def annWrites(): Unit =
      if (annState)
        writeAnnInit(spark, stateOutDir, vecs,
          annSubspaces, annCodewords, annClusters, annIters)
    if (semCentroidsIn.isEmpty) { s.fork(annWrites()); semWrites() }
    else { semWrites(); annWrites() }
  }

  /** Survivor keep set from explicit decon + clusters frames (the
    * suite-less twin of [[keepSet]], used by the state cadences where
    * quality already rides the stored decon frame). */
  private def keepFromClusters(decon: DataFrame, clusters: DataFrame): DataFrame =
    survivorFilter(decon, clusters,
      TextDedup.dedupSurvivors(clusters,
          decon.select(col("doc_id"), col("quality_score")), "quality_score")
        .select(col("canonical_id"), col("survivor_id")))

  /** A landed batch front: the read-back decon slice and the span/line
    * stages' deferred audits. */
  private final case class BatchFront(decon: DataFrame,
      span: Option[StagedAudit], line: Option[StagedAudit]) {
    def audits: Seq[(String, DataFrame)] =
      span.map("span" -> _.audit).toSeq ++ line.map("line" -> _.audit)
  }

  /** The landed batch front both cadences share: the line-df stage (on
    * RAW text, see [[lineStateStage]]), [[prepBatch]], the optional
    * exact-recrawl gate, the span-df stage, the bucketed `decon_batch`
    * slice write, and the slice's read-back. One scope holds the
    * stages' slice-write forks and their token-scale caches: the decon
    * write materialized both stages' compact outputs, so on its exit
    * the forks join and the caches release — on every path — while the
    * audit frames stay for the run's one folded stats action.
    * `history` is the lineage the df counts and the gate read — empty
    * at init, which cleans against the batch's own counts (the
    * from-scratch df). */
  private def batchFront(docs: DataFrame, benchmark: DataFrame,
      stateOutDir: String, history: Seq[String], lineOn: Boolean,
      spanOn: Boolean, exactGate: Boolean, minQuality: Double,
      minContaminatedShingles: Int, classifier: Option[(DataFrame, Int)],
      minClassifierScore: Double, spanK: Int, spanMinDf: Int,
      lineMinDf: Int): BatchFront = DriverOverlap.scope { s =>
    val spark = docs.sparkSession
    // History df counts READ PRUNED to the buckets the batch's keys hit
    // (VERDICT r09 item 1) — state IO per increment tracks the batch
    // like the compute already does.
    def historyOf(name: String): DataFrame => DataFrame =
      if (history.isEmpty) _ => emptyGramCounts(spark)
      else bc => StateLayout.readSlicesPruned(spark, history, name, "h",
        bc.select(col("h")))
    val lineStaged =
      if (lineOn) Some(lineStateStage(s, docs, historyOf("line_df_batch"),
        stateOutDir, lineMinDf))
      else None
    val deconNew = prepBatch(lineStaged.map(_.frame).getOrElse(docs),
      benchmark, minQuality, minContaminatedShingles, classifier,
      minClassifierScore)
    // Optional exact-recrawl gate (the Bloom route, q91's shape): drop
    // batch docs whose normalized content ALREADY exists in state
    // before they pay the shingle/signature/LSH front. History keys
    // come from the COMPACT hash_batch slices (16 bytes/doc), not from
    // re-hashing corpus text. Output-preserving under monotonic ingest
    // ids (batch ids > history ids): an exact dup has identical
    // shingles, so LSH links it to its history twin, identical quality
    // score, and the lower-id twin wins the survivor tie-break — the
    // gate drops exactly the docs survivor selection would drop
    // (BloomGateCurationSpec pins all three cadences equal).
    val deconRouted =
      if (!exactGate) deconNew
      else {
        // The batch's hashed frame persists FIRST: the pruned history
        // read collects the batch's bucket set (materializing this
        // cache), so deriving keys never re-runs the prep front, and
        // the history scan touches only the buckets those keys hit
        // (VERDICT r09 item 1). Pruned keys are a SUPERSET of the
        // batch's true matches, so routing and the exact confirm join
        // stay output-identical.
        val hashedBatch = deconNew
          .withColumn("content_hash", TextDedup.contentHash(col("text")))
          .persist()
        s.release(hashedBatch.unpersist())
        val histKeys = StateLayout.readSlicesPruned(spark, history,
          "hash_batch", "content_hash", hashedBatch.select(col("content_hash")))
          .select(col("content_hash")).distinct().persist()
        s.release(histKeys.unpersist())
        TextDedup.bloomGatedNewByKeys(histKeys, hashedBatch,
          "content_hash", histKeys.count())
          .drop("content_hash")
      }
    val spanStaged =
      if (spanOn) Some(spanStateStage(s, deconRouted, historyOf("span_grams_batch"),
        stateOutDir, spanK, spanMinDf))
      else None
    publishTailProbe("batch-front")
    // Bucketed by doc_id (VERDICT r10 item 1): the delta publisher's
    // rare re-surfacing-doc lookup reads decon text PRUNED to those
    // ids' buckets instead of scanning the composed corpus.
    StateLayout.writeBucketed(spanStaged.map(_.frame).getOrElse(deconRouted),
      s"$stateOutDir/decon_batch", "doc_id", buckets = 8)
    BatchFront(StateLayout.readSlice(spark, s"$stateOutDir/decon_batch"),
      spanStaged, lineStaged)
  }

  /** Land the batch's near-dup slices off its landed decon slice and
    * return the read-back index and signatures. The index lands
    * bucketed BY DOC ID (VERDICT r09 item 1 extended to the dedup
    * front): increments verify candidate pairs against history shingle
    * sets read pruned to the candidate docs' buckets. Banding rows land
    * as DERIVED state bucketed BY BAND KEY: an increment's candidate
    * join reads only the history band rows in buckets its own band keys
    * hash to, instead of re-banding the corpus signatures every week. */
  private def writeNearDupSlices(deconS: DataFrame, stateOutDir: String,
      sigFiles: Int): (graft.operators.ShingleIndex, DataFrame) = {
    val spark = deconS.sparkSession
    val idx = TextDedup.buildIndex(deconS, "doc_id", "text", n = 3, bits = 32)
    StateLayout.writeBucketed(idx.df, s"$stateOutDir/index_batch", "doc_id")
    val idxS = TextDedup.indexFromFrame(
      StateLayout.readSlice(spark, s"$stateOutDir/index_batch"), bits = 32)
    StateLayout.writeState(TextDedup.minhashSignatures(idxS, NumHashes),
      s"$stateOutDir/signatures_batch", numFiles = sigFiles)
    val sigS = StateLayout.readState(spark, s"$stateOutDir/signatures_batch")
    StateLayout.writeBucketed(TextDedup.bandFrame(sigS, NumHashes, Bands),
      s"$stateOutDir/bands_batch", "band")
    (idxS, sigS)
  }

  /** The FULL publish tail — init's, and an increment's whenever the
    * delta publish cannot run: survivor keep set over `decon`, the
    * semantic keep (frozen-quantizer labels when `semStateOn`, else
    * the eager per-run stage), the output sinks OVERLAPPED with the
    * publish state (guide §2.6: both hang off the same persisted
    * semFinal/kept frames and neither reads the other's output), the
    * completion marker, and the run's ONE folded audit action
    * (VERDICT r09 item 3). Publish state (VERDICT r10 item 1) is
    * (re)built whenever later increments can maintain membership
    * incrementally — no embeddings, or the frozen-quantizer semantic
    * state (the eager per-run semantic stage re-clusters the composed
    * corpus weekly, so its disposition is not locally recomputable);
    * this is also the upgrade path for pre-publish-state lineages and
    * the recovery path after a config change. */
  private def fullPublishTail(input: DataFrame, decon: DataFrame,
      clustersS: DataFrame, front: BatchFront, semStateOn: Boolean,
      embeddings: Option[DataFrame], semClusters: Int, semIters: Int,
      semThreshold: Double, semMaxCellSize: Int, cfg: PublishState.Config,
      stateOutDir: String, outDir: String, v: Long,
      carrier: PublishCarrier): Stats = DriverOverlap.scope { s =>
    val spark = decon.sparkSession
    def semLabels = StateLayout.readState(spark, s"$stateOutDir/sem_clusters")
    // Stage caches release on the scope's exit, after the folded
    // action read them.
    val kept = keepFromClusters(decon, clustersS).persist()
    s.release(kept.unpersist())
    val (semFinal, semDroppedEager) =
      if (semStateOn) (semanticKeepFilter(s, kept, semLabels), -1L)
      else semanticStage(s, kept, embeddings,
        semClusters, semIters, semThreshold, semMaxCellSize)
    val publishStateOn = embeddings.isEmpty || semStateOn
    // The publish-state fork and the output sinks both read the
    // persisted kept/semFinal caches: materialize them FIRST (the
    // DriverOverlap caller rule), or the two race to first-materialize
    // them and the run's job count varies. The count is the audit's
    // semFinal count (semFinal IS kept without embeddings).
    val nSemFinal = if (publishStateOn) semFinal.count() else -1L
    val publishState = s.fork(if (publishStateOn)
      writePublishState(spark, decon, kept, semFinal,
        if (semStateOn) Some(semLabels) else None,
        cfg, stateOutDir, outDir, v, carrier))
    val (landedCurated, landedBins) = landOutputs(semFinal, outDir, cfg, carrier)
    publishState()
    // Completion marker LAST — after every publish artifact AND the
    // publish state (VERDICT r12 item 2).
    PublishState.markComplete(outDir, carrier)
    val c = foldCounts(Seq(
      "input" -> input, "decon" -> decon, "kept" -> kept,
      "sampled" -> landedCurated, "bins" -> landedBins) ++
      front.audits)
    Stats(input = c("input"), gated = -1L, modelGated = -1L,
      decontaminated = c("decon"),
      spanCleaned = front.span.fold(-1L)(_ => c("span")),
      kept = c("kept"),
      semDropped =
        if (semStateOn) c("kept") - nSemFinal else semDroppedEager,
      sampled = c("sampled"), bins = c("bins"),
      lineCleaned = front.line.fold(-1L)(_ => c("line")))
  }

  /** From-scratch run that WRITES the weekly state for later
    * [[runIncremental]] calls. Outputs match [[run]] semantics. The
    * state cadences fuse gate+decon into one pass, so `Stats.gated` is
    * reported as -1 (not separately counted). */
  def runInit(docs: DataFrame, benchmark: DataFrame, outDir: String,
      stateOutDir: String, minQuality: Double = 0.5,
      dedupThreshold: Double = 0.25, minContaminatedShingles: Int = 1,
      fractions: Map[String, Double] = Map.empty, defaultFraction: Double = 1.0,
      packBudget: Long = 4096L, publishSpan: Long = 1024L,
      embeddings: Option[DataFrame] = None, semClusters: Int = 16,
      semIters: Int = 2, semThreshold: Double = 0.99,
      semMaxCellSize: Int = 1000,
      classifier: Option[(DataFrame, Int)] = None,
      minClassifierScore: Double = 0.5,
      semanticState: Boolean = false, semSalt: Int = 1,
      semCentroidsIn: Option[String] = None,
      annState: Boolean = false, annSubspaces: Int = 4,
      annCodewords: Int = 8, annClusters: Int = 4,
      annIters: Int = 2,
      spanState: Boolean = false, spanK: Int = 8,
      spanMinDf: Int = 2,
      lineState: Boolean = false, lineMinDf: Int = 2,
      retrievalState: Boolean = false,
      carrier: PublishCarrier = PublishCarrier.Posix): Stats = {
    val spark = docs.sparkSession
    // Line/span df state (opt-in): init cleans against its own counts.
    val front = batchFront(docs, benchmark, stateOutDir, history = Nil,
      lineState, spanState, exactGate = false, minQuality,
      minContaminatedShingles, classifier, minClassifierScore, spanK,
      spanMinDf, lineMinDf)
    val deconS = front.decon
    // Retrieval-state family (VERDICT r12 item 6): opt-in BM25 + LM
    // count states over the landed DECON corpus (append-only across
    // batches — the disjoint-id contract the weekly-shifting curated
    // set cannot offer), maintained as SUBDIRECTORY lineages
    // (`bm25/`, `lm/`) so a cadence deployment gets O(batch)-validated
    // retrieval ingest without bypassing the cadence. recordIds=true
    // always: the flag's whole point is the checkable contract, and
    // increments then validate every batch bucket-pruned in O(batch).
    val doSemState = semanticState && embeddings.isDefined
    // Independent state groups FORKED on driver threads (guide §2.6,
    // r14): the retrieval states, the compact hash slice, and the
    // semantic/ANN trainer block all hang only off the landed decon
    // slice, while the main thread runs the near-dup chain (index ->
    // signatures -> bands -> pairs -> labels). Every fork writes its
    // own artifact dir; the one cross-fork consumer (sem_clusters ->
    // semanticKeepFilter) runs after the scope joins them.
    val clustersS = DriverOverlap.scope { s =>
      if (retrievalState) s.fork {
        val rdocs = deconS.select(col("doc_id"), col("text"))
        Bm25State.writeInit(rdocs, "doc_id", "text", s"$stateOutDir/bm25",
          recordIds = true)
        LmState.writeInit(rdocs, "text", s"$stateOutDir/lm",
          recordIds = true)
      }
      s.fork(StateLayout.writeBucketed(
        deconS.select(col("doc_id"),
          TextDedup.contentHash(col("text")).as("content_hash")),
        s"$stateOutDir/hash_batch", "content_hash"))
      if (doSemState) s.fork(
        semInitTrainWrites(spark, stateOutDir,
          deconS, embeddings.get, semClusters, semIters, semThreshold,
          semCentroidsIn, semSalt, annState, annSubspaces, annCodewords,
          annClusters, annIters))
      else if (annState && embeddings.isDefined) s.fork(
        writeAnnInit(spark, stateOutDir,
          embeddedVecs(deconS, embeddings.get),
          annSubspaces, annCodewords, annClusters, annIters))
      val (idxS, sigS) = writeNearDupSlices(deconS, stateOutDir, sigFiles = 4)
      val clusters = TextDedup.connectedComponents(
        TextDedup.minhashLshPairs(idxS, sigS, dedupThreshold, NumHashes, Bands))
      StateLayout.writeState(clusters, s"$stateOutDir/clusters", numFiles = 1)
      StateLayout.readState(spark, s"$stateOutDir/clusters")
    }
    StateLayout.writeLineage(stateOutDir, Seq(stateOutDir))
    fullPublishTail(docs, deconS, clustersS, front, doSemState, embeddings,
      semClusters, semIters, semThreshold, semMaxCellSize,
      PublishState.Config(fractions, defaultFraction, packBudget, publishSpan),
      stateOutDir, outDir, v = 0L, carrier)
  }

  /** Weekly incremental run: a NEW raw batch (doc ids disjoint from
    * the state's) against existing state. Batch-scale work only for
    * the corpus-scale stages: prep/index/signatures on the batch, LSH
    * candidates from the batch's band keys vs the combined banding,
    * contracted-graph label merge. Writes updated state to
    * `stateOutDir` (must differ from `stateInDir`). */
  def runIncremental(newDocs: DataFrame, benchmark: DataFrame, outDir: String,
      stateInDir: String, stateOutDir: String, minQuality: Double = 0.5,
      dedupThreshold: Double = 0.25, minContaminatedShingles: Int = 1,
      fractions: Map[String, Double] = Map.empty, defaultFraction: Double = 1.0,
      packBudget: Long = 4096L, publishSpan: Long = 1024L,
      embeddings: Option[DataFrame] = None, semClusters: Int = 16,
      semIters: Int = 2, semThreshold: Double = 0.99,
      semMaxCellSize: Int = 1000,
      classifier: Option[(DataFrame, Int)] = None,
      minClassifierScore: Double = 0.5,
      exactGate: Boolean = false,
      spanK: Int = 8, spanMinDf: Int = 2, lineMinDf: Int = 2,
      carrier: PublishCarrier = PublishCarrier.Posix): Stats = {
    require(stateInDir != stateOutDir,
      "state is versioned by directory: reading and overwriting the same " +
        "state in one job would corrupt it")
    val spark = newDocs.sparkSession
    val lineage = StateLayout.readLineage(stateInDir)
    // The decon read stays a (layout-aware) full composition: the
    // weekly publish re-samples and re-packs the COMPOSED corpus, so
    // its input is corpus-scale by semantics. The index/signature
    // history, by contrast, is consumed only through key-equality
    // joins — those reads go through the pruned-or-degrade layout
    // below (bands_batch + the doc-keyed index prune) instead of
    // unconditional full scans.
    val deconOld = StateLayout.readSlices(spark, lineage, "decon_batch")
    val clustersOld = StateLayout.readState(spark, s"$stateInDir/clusters")
    // Batch-scale writes ONLY: this dir's slices plus the (small) full
    // label table. The corpus-scale artifacts are never rewritten —
    // readers compose them along the lineage. Line/span df state is
    // auto-detected like the semantic/ANN state.
    val front = batchFront(newDocs, benchmark, stateOutDir, lineage,
      hasState(stateInDir, "line_df_batch"),
      hasState(stateInDir, "span_grams_batch"), exactGate, minQuality,
      minContaminatedShingles, classifier, minClassifierScore,
      spanK, spanMinDf, lineMinDf)
    val deconNewS = front.decon
    // Retrieval-state increments (auto-detected — the state, not a
    // flag, decides, like the semantic cadence) run as two forks of
    // the state block below, off the landed decon slice.
    // validateDisjoint + recordIds always on: the O(batch)
    // bucket-pruned probe is the reason the family is in the cadence.
    // A replayed batch refuses when the block joins — after the
    // near-dup chain, still BEFORE writeLineage — so stateOutDir is
    // left without its lineage manifest (not a readable state version).
    val retrievalOn = hasState(stateInDir, "bm25")
    def rdocs = deconNewS.select(col("doc_id"), col("text"))
    // Semantic STATE writes (frozen-quantizer cadence, auto-detected —
    // the state, not a flag, decides): batch cells + fit summary +
    // merged labels land regardless of which publish tail runs below.
    val semStateActive = embeddings.isDefined && hasState(stateInDir, "sem_centroids")
    // Publish-tail decision + base rows hoisted ABOVE the near-dup
    // chain (guide §2.6): the delta decision reads only prior-state
    // files, and the batch's ledger base rows (lang-id + token counts
    // over the LANDED decon slice) depend on nothing this run still
    // computes — so the base-row checkpoint materializes as a fork of
    // the state block while the main thread runs the near-dup chain.
    val cfg = PublishState.Config(fractions, defaultFraction,
      packBudget, publishSpan)
    // Try: a torn/truncated meta file (a crash mid-write on a store
    // whose text writes aren't atomic) must degrade to the full
    // re-publish — which rebuilds the meta — not crash-loop the
    // weekly job on a parse error.
    val deltaOk = PublishState.active(stateInDir, carrier) &&
      (embeddings.isEmpty || semStateActive) && scala.util.Try {
        val (fp, prevOut) = PublishState.readMeta(stateInDir, carrier)
        fp == cfg.fingerprint && prevOut != outDir &&
          carrier.exists(s"$prevOut/curated") &&
          // CRASH SELF-HEAL (VERDICT r12 item 2): a previous publish
          // without its completion marker died mid-tail — carrying
          // its shards would propagate the truncation, so the
          // increment falls back to one full re-publish, which
          // rebuilds publish state AND artifacts from the composed
          // frames (bit-equal convergence — DeltaPublishSpec pins a
          // killed tail's re-run against the never-crashed run).
          PublishState.isComplete(prevOut, carrier) &&
          // Pre-totals state formats (≤ r11) fall back to one full
          // re-publish, which rebuilds totals alongside the ledger.
          PublishState.totalsActive(stateInDir, carrier)
      }.getOrElse(false)
    // Independent state groups FORKED on driver threads (guide §2.6,
    // r14 — same shape as runInit): the base rows, the retrieval
    // states, the compact hash slice, the semantic-state writes, and
    // the ANN-codes append all hang only off the landed decon slice +
    // prior state, while the main thread runs the near-dup chain. The
    // one cross-fork consumer (sem_clusters -> the publish tail) runs
    // after the scope joins them.
    val (clustersS, batchBase) = DriverOverlap.scope { s =>
      val batchBase =
        if (!deltaOk) None
        else Some(s.fork(
          // localCheckpoint, not persist — see deltaPublishTail's note
          // on `batchBase` for the lineage-truncation rationale.
          PublishState.baseRows(
            deconNewS.select(col("doc_id"), col("text"), col("quality_score")),
            cfg).localCheckpoint(true)))
      if (retrievalOn)
        forkRetrievalIncrements(s, rdocs, stateInDir, stateOutDir)
      s.fork(StateLayout.writeBucketed(
        deconNewS.select(col("doc_id"),
          TextDedup.contentHash(col("text")).as("content_hash")),
        s"$stateOutDir/hash_batch", "content_hash"))
      if (semStateActive) s.fork(
        semStateIncrementWrites(spark, stateInDir, stateOutDir, lineage,
          deconNewS, embeddings.get, semThreshold))
      // ANN-codes append (VERDICT r07 item 3, auto-detected like the
      // semantic state): encode ONLY this batch under the frozen model.
      if (embeddings.isDefined && hasState(stateInDir, "ann_model")) s.fork(
        writeAnnIncrement(spark, stateInDir,
          stateOutDir, embeddedVecs(deconNewS, embeddings.get)))
      publishTailProbe("state-block")
      val (idxNewS, _) = writeNearDupSlices(deconNewS, stateOutDir, sigFiles = 2)
      val bandsNewS = StateLayout.readSlice(spark, s"$stateOutDir/bands_batch")
      // Pruned-state pairs (VERDICT r09 item 1 extended to the dedup
      // front): candidates come from the batch's banding against history
      // band rows read pruned to the batch's band keys; the
      // exact-Jaccard verify reads history index rows pruned to the
      // candidate docs. Two regime-dependent effects, stated honestly
      // (TextDedup.minhashLshPairsIncrementalPruned scaladoc, measured
      // in the ScaleStress lsh-state row): the weekly corpus re-BANDING
      // compute is gone in every regime (banding is stored derived
      // state now), while the IO pruning pays when the increment's key
      // count is small against the bucket count (trickle batches,
      // serving probes) and degrades to the same full scan — never more
      // bytes — on big weekly batches.
      val (newPairs, pairsRel) = TextDedup.minhashLshPairsIncrementalPruned(
        idxNewS, bandsNewS,
        probe => composedBands(spark, lineage, Some(probe)),
        probe => StateLayout.readSlicesPruned(spark, lineage,
          "index_batch", "doc_id", probe),
        dedupThreshold)
      // A scope release, not a lease: CC incremental consumes the pairs
      // through untracked toRdd bookkeeping a listener lease never sees
      // (see the operator's scaladoc); after its contraction
      // materializes, nothing re-reads the pairs.
      s.release(pairsRel())
      val clusters =
        TextDedup.connectedComponentsIncremental(clustersOld, newPairs)
      StateLayout.writeState(clusters, s"$stateOutDir/clusters", numFiles = 1)
      (StateLayout.readState(spark, s"$stateOutDir/clusters"), batchBase)
    }
    StateLayout.writeLineage(stateOutDir, lineage :+ stateOutDir)

    // Publish tail. DELTA (VERDICT r10 item 1) when the state carries
    // publish artifacts under the SAME config and the membership flags
    // are incrementally derivable (`deltaOk` above); otherwise the full
    // re-publish, which (re)builds the publish state for next week.
    batchBase match {
      case Some(base) =>
        deltaPublishTail(spark, newDocs, deconNewS, base(),
          clustersS, cfg, stateInDir, stateOutDir, lineage, outDir,
          semStateActive, front, carrier)
      case None =>
        fullPublishTail(newDocs, deconOld.unionByName(deconNewS), clustersS,
          front, semStateActive, embeddings, semClusters, semIters,
          semThreshold, semMaxCellSize, cfg, stateOutDir, outDir,
          v = lineage.size, carrier)
    }
  }

  /** The job tag every Spark job of the delta publish tail carries. */
  val DeltaPublishJobTag = "graft-delta-publish"

  /** The BM25 and LM state increments of a cadence batch as two forks
    * of `s`, each validated disjoint and recording its ids. Both check
    * one probe that `s` persists and releases: the probe is one plan
    * ([[StateLayout.batchIds]]) and so one CacheManager entry, and a
    * probe per fork would be that same entry, unpersisted by whichever
    * fork finished first while the other still read it. */
  private[graft] def forkRetrievalIncrements(s: DriverOverlap.Scope,
      docs: DataFrame, stateInDir: String, stateOutDir: String): Unit = {
    val ids = StateLayout.batchIds(docs, "doc_id").persist()
    s.release(ids.unpersist())
    s.fork {
      Bm25State.requireDisjoint(ids,
        StateLayout.readLineage(s"$stateInDir/bm25"))
      Bm25State.writeIncrement(docs, "doc_id", "text",
        s"$stateInDir/bm25", s"$stateOutDir/bm25", recordIds = true)
    }
    s.fork {
      LmState.requireDisjoint(ids, StateLayout.readLineage(s"$stateInDir/lm"))
      LmState.writeIncrement(docs, "text",
        s"$stateInDir/lm", s"$stateOutDir/lm", recordIds = true)
    }
  }

  /** The incremental semantic-state WRITES, extracted from the publish
    * tail (VERDICT r10 item 1): carry the frozen quantizer forward,
    * land the batch's cells + fit summary, merge the batch's
    * (batch-incident) semantic pairs into the full label table. Both
    * publish tails consume the landed `sem_clusters`. */
  private def semStateIncrementWrites(spark: org.apache.spark.sql.SparkSession,
      stateInDir: String, stateOutDir: String, lineage: Seq[String],
      deconNewS: DataFrame, emb: DataFrame, semThreshold: Double): Unit = {
    val cen = readSemCentroids(spark, s"$stateInDir/sem_centroids")
    val salt = java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$stateInDir/sem_salt.txt"))
      .trim.toInt
    // Carry the frozen quantizer forward so every state version is
    // self-contained (rebase and third batches read their input
    // state dir only).
    writeSemCentroids(spark, stateOutDir, cen)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$stateOutDir/sem_salt.txt"), s"$salt\n")
    val vecsNew = embeddedVecs(deconNewS, emb)
    StateLayout.writeBucketed(VectorSim.semanticCells(vecsNew, cen, salt),
      s"$stateOutDir/sem_cells_batch", "cell")
    // Batch fit under the FROZEN quantizer, landed beside the
    // slice: the weekly drift decision reads these one-row
    // summaries instead of re-scanning state embeddings.
    StateLayout.writeState(VectorSim.quantizerFitSlice(vecsNew, cen),
      s"$stateOutDir/sem_fit_batch", numFiles = 1)
    // Old cell slices matter only where they share a cell with the
    // batch (semanticPairsIncremental's candidate join) — prune the
    // state read to the batch slice's cells (VERDICT r09 item 1).
    val cellsNewS = StateLayout.readSlice(spark,
      s"$stateOutDir/sem_cells_batch")
    val cellsAll = StateLayout.readSlicesPruned(spark, lineage,
      "sem_cells_batch", "cell", cellsNewS.select(col("cell")))
      .unionByName(cellsNewS)
    // Batch-scale pair work: only the new docs' cells join.
    val semPairsNew = VectorSim.semanticPairsIncremental(cellsAll, emb,
      deconNewS.select(col("doc_id").as("vec_id")), semThreshold)
    StateLayout.writeState(
      TextDedup.connectedComponentsIncremental(
        StateLayout.readState(spark, s"$stateInDir/sem_clusters"), semPairsNew),
      s"$stateOutDir/sem_clusters", numFiles = 1)
  }

  /** Test seam for the crash specs (VERDICT r12 item 2): invoked with
    * a phase label at injection points while driver-thread forks run —
    * "batch-front" (span/line slice writes in flight), "state-block"
    * (the increment's state forks and base-row fork in flight),
    * "after-carry" and "before-manifest" (inside the delta publish
    * tail). A spec swaps in a thrower to kill the run there, then pins
    * that no fork or cache outlives the call, readers refuse the
    * partial publish, and a re-run converges bit-equal. No-op in
    * production. */
  private[graft] var publishTailProbe: String => Unit = _ => ()

  /** DELTA weekly publish (VERDICT r10 item 1; metadata made
    * batch-scale in r12 — VERDICT r11 item 1): re-derive membership
    * flags ONLY where the batch can have moved them, derive the
    * changed-shard set from the membership EVENTS those corrections
    * encode, re-publish exactly the changed shards, and carry the
    * rest of the previous publish forward as hard links — the weekly
    * publish's TEXT IO is ∝ batch + changed shards, and as of r12 its
    * METADATA work is too: the previous standing rows are read via
    * the doc-bucket-pruned ledger compose (touched docs only, never
    * the corpus), per-shard fingerprints and the audit totals are
    * maintained from the correction rows alone (counts and decimal
    * hash sums compose under flag flips — pinned equal to the full
    * recompute at every version), and no weekly job aggregates
    * corpus rows anywhere in the tail. The changed set is EXACT —
    * a shard is re-packed iff a member entered or left it — so the
    * r11 fingerprint-diff collision caveat is gone (fingerprints are
    * now the durable manifest, not the diff mechanism). Bit-equality
    * with the full re-publish is by construction (every flag
    * recompute mirrors the full path's survivor rules on a
    * restriction that is exact per cluster; DeltaPublishSpec pins
    * rows AND stats). Text is read only for the batch, the changed
    * shards' previous curated files, and (rare) a re-surfacing doc's
    * bucket-pruned decon lookup. */
  private def deltaPublishTail(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, deconNewS: DataFrame, batchBase: DataFrame,
      clustersS: DataFrame,
      cfg: PublishState.Config, stateInDir: String, stateOutDir: String,
      lineageOld: Seq[String], outDir: String, semStateOn: Boolean,
      front: BatchFront, carrier: PublishCarrier): Stats = DriverOverlap.scope { s =>
    import graft.functions.TextFunctions.tokens
    // Every job the delta tail schedules carries this tag (UI
    // debugging; MemPressureStress splits its spill accounting on it).
    // Tags add to the caller's own, so nothing is clobbered.
    val sc = spark.sparkContext
    sc.addJobTag(DeltaPublishJobTag)
    s.release(sc.removeJobTag(DeltaPublishJobTag))
    val (_, prevOut) = PublishState.readMeta(stateInDir, carrier)
    // `batchBase` arrives CHECKPOINTED (localCheckpoint, not persist):
    // the touched-doc frame and the flag recompute both read it, and
    // the checkpoint truncates its lineage, so neither re-runs nor
    // re-plans the language-id + token pass over the batch text.
    // Blocks release via ContextCleaner once the RDD is collected. The
    // caller materializes it on a fork overlapping the near-dup chain
    // (r14).
    val semLabels =
      if (semStateOn) Some(StateLayout.readState(spark, s"$stateOutDir/sem_clusters"))
      else None
    // The flag recompute runs over ONE materialized touched-doc frame
    // (doc_id, dedup canonical_id, semantic canonical_id): the prune
    // key of the standing-ledger read and the driving side of the
    // recompute's single join with the standing and batch rows.
    // `batchBase`, `touched` and `updated` are localCheckpoint blocks,
    // not cache entries — they release via ContextCleaner on GC.
    val touched = touchedDocs(batchBase, clustersS, semLabels)
      .localCheckpoint(true)
    val prevStanding = PublishState.composeLedgerPruned(spark, lineageOld,
      touched.select(col("doc_id")))
    val updated = deltaLedgerRows(touched, batchBase, prevStanding,
      semLabels.isDefined).localCheckpoint(true)
    // Membership EVENTS per shard, from the correction rows against
    // their previous standing values (carried on every updated row):
    // the exact changed set, the fingerprint deltas, and the
    // audit-total deltas, one batch-scale aggregate, one bounded
    // collect (≤ touched shards).
    val h = xxhash64(col("doc_id"), col("n_tokens")).cast("decimal(38,0)")
    val dn = when(col("member") && !coalesce(col("__om"), lit(false)), 1)
      .when(!col("member") && coalesce(col("__om"), lit(false)), -1)
      .otherwise(0)
    val evAgg = updated
      .select(col("shard"), dn.cast("long").as("dn"),
        when(dn === 1, h).when(dn === -1, -h)
          .otherwise(lit(0).cast("decimal(38,0)")).as("dfp"),
        when(col("__old").isNull, 1L).otherwise(0L).as("ddocs"),
        (col("surv").cast("long") -
          coalesce(col("__os").cast("long"), lit(0L))).as("dkept"),
        ((col("surv") && col("semok")).cast("long") -
          coalesce((col("__os") && col("__ok")).cast("long"), lit(0L)))
          .as("dsem"),
        // Old docs ENTERING (re-surface events): dn == 1 for a row
        // with a previous standing value. Zero in the common week —
        // the curated stage then skips the pruned decon lookup (and
        // its bucket-probe job) entirely.
        when(col("__old").isNotNull && dn === 1, 1L).otherwise(0L)
          .as("dent_old"))
      .groupBy(col("shard"))
      .agg(sum(abs(col("dn"))).as("nev"), sum(col("dn")).as("dn"),
        sum(col("dfp")).as("dfp"), sum(col("ddocs")).as("ddocs"),
        sum(col("dkept")).as("dkept"), sum(col("dsem")).as("dsem"),
        sum(col("dent_old")).as("dent_old"))
      .persist()
    s.release(evAgg.unpersist())
    val evRows = evAgg.collect()
    val changed = evRows.filter(_.getAs[Long]("nev") > 0)
      .map(_.getAs[Long]("shard")).toSeq.sorted
    // Carry = every shard present in the previous publish that the
    // events did not flag (shard ids are open-ended under range
    // sharding — enumerate the previous publish's FILES, not a
    // 0-until-N range).
    val changedSet = changed.toSet

    // Next week's state rows and this run's audit fold read only
    // materialized frames (`updated`, `evAgg`, the front's audit
    // frames), never outDir: they fork beside the curated -> packed ->
    // manifest chain below (guide §2.6) and join before the meta and
    // the completion marker — the scope joins them when the chain
    // fails, so no writer outlives this call. The correction slice
    // lands at this lineage position; the fingerprint DELTA slice only
    // (VERDICT r12 item 4): the weekly path neither reads nor rewrites
    // the composed table — readers compose the newest full table
    // (init/rebase) with the delta slices, pinned equal to the
    // from-scratch recompute at every version. The evAgg rows already
    // ARE the deltas.
    val ledger = s.fork(PublishState.writeLedgerSlice(updated, stateOutDir,
      v = lineageOld.size))
    val fpDelta = s.fork(PublishState.writeFingerprintDelta(evAgg, stateOutDir))
    val counts = s.fork(foldCounts(Seq("input" -> newDocs) ++ front.audits))
    val bins = {
      // Retract any STALE completion marker before the first mutation
      // of outDir (a crash-replay re-publishes into the same versioned
      // dir): from here until markComplete below, readers must refuse
      // this dir (round-13 review finding #1).
      PublishState.clearComplete(outDir, carrier)
      // CURATED: carried shard files + a partial sharded write of the
      // changed (carry = hard link or FS copy, per the carrier).
      PublishState.prepareDir(s"$outDir/curated", carrier)
      PublishState.carryShardsExcept(s"$prevOut/curated", s"$outDir/curated",
        changedSet, carrier)
      if (changed.nonEmpty) DriverOverlap.scope { cs =>
        val batchText = deconNewS.select(col("doc_id"), col("text"))
        val prevFiles =
          PublishState.shardFilesFor(s"$prevOut/curated", changedSet, carrier)
        // Full-schema read: the previous curated rows of the changed
        // shards ARE the standing member set (plus each doc's frozen
        // lang/quality), so no corpus-ledger lookup is needed for the
        // unchanged neighbors a changed shard carries.
        val prevCur =
          if (prevFiles.nonEmpty) spark.read.parquet(prevFiles: _*)
          else spark.range(0)
            .select(col("id").as("doc_id"), lit("").as("text"),
              lit("").as("detected_lang"), lit(0.0).as("quality_score"))
        // Member rows of the changed shards: corrected docs take their
        // recomputed flag (member rows kept, leavers dropped), the
        // shard's untouched previous members carry from prevCur.
        val members = updated
          .where(col("member") && col("shard").isin(changed: _*))
          .select(col("doc_id"), col("detected_lang"), col("quality_score"),
            col("shard"))
          .unionByName(prevCur
            .join(updated.select(col("doc_id")), Seq("doc_id"), "left_anti")
            .select(col("doc_id"), col("detected_lang"), col("quality_score"),
              cfg.shardOf(col("doc_id")).as("shard")))
          .persist()
        cs.release(members.unpersist())
        // Re-surfacing docs (old, member again, absent from the previous
        // curated — a batch doc displaced their sem-cluster peer): text
        // via the doc-bucket-pruned decon read, never a corpus scan.
        // The collected events already say whether ANY old doc entered
        // this week (`dent_old`) — the common zero-re-surface week skips
        // the lookup and its bucket-probe job entirely. Persisted when
        // taken: the enter set feeds the prune probe's bucket collect
        // AND the text join — unpersisted, its anti-join DAG executes
        // twice.
        val nEnterOld = evRows.map(_.getAs[Long]("dent_old")).sum
        val enterIds =
          if (nEnterOld == 0L) None
          else Some(members.select(col("doc_id"))
            .join(batchText.select(col("doc_id")), Seq("doc_id"), "left_anti")
            .join(prevCur.select(col("doc_id")), Seq("doc_id"), "left_anti")
            .persist())
        enterIds.foreach(ids => cs.release(ids.unpersist()))
        val enterText = enterIds match {
          case None => batchText.where(lit(false))
          case Some(ids) => StateLayout.readSlicesPruned(spark, lineageOld,
              "decon_batch", "doc_id", ids)
            .join(ids, Seq("doc_id"))
            .select(col("doc_id"), col("text"))
        }
        val curatedNew = members
          .join(batchText
              .unionByName(prevCur.select(col("doc_id"), col("text")))
              .unionByName(enterText),
            Seq("doc_id"))
          .select(col("doc_id"), col("text"), col("detected_lang"),
            col("quality_score"), col("shard"))
        PublishState.writeSharded(curatedNew, s"$outDir/curated",
          keepShardInContent = false, clear = false, carrier = carrier)
      }

      // PACKED: carried shard files + re-pack of exactly the changed
      // shards (within-shard packing is a pure function of the shard's
      // member set, so the restriction equals the full run's shards).
      PublishState.prepareDir(s"$outDir/packed", carrier)
      PublishState.carryShardsExcept(s"$prevOut/packed", s"$outDir/packed",
        changedSet, carrier)
      publishTailProbe("after-carry")
      val changedCuratedFiles =
        PublishState.shardFilesFor(s"$outDir/curated", changedSet, carrier)
      val newBins =
        if (changedCuratedFiles.nonEmpty) {
          val cur = spark.read.parquet(changedCuratedFiles: _*)
          PublishState.writeSharded(
            DataMix.packSequenceContentsBy(
              cur.select(col("doc_id"), col("text"),
                size(tokens(col("text"))).cast("long").as("n_tokens")),
              "doc_id", "n_tokens", "text",
              budget = cfg.packBudget, shardOf = cfg.shardOf(col("doc_id"))),
            s"$outDir/packed", keepShardInContent = true, clear = false,
            carrier = carrier)
          val files =
            PublishState.shardFilesFor(s"$outDir/packed", changedSet, carrier)
          if (files.nonEmpty) Some(spark.read.parquet(files: _*)) else None
        } else None

      // Degenerate-corpus guard: a publish with no carried files and no
      // changed rows (zero members anywhere) must still leave readable
      // empty artifacts, like the full path's empty-write fallback.
      def ensureReadable(path: String, empty: => DataFrame): Unit = {
        val hasData =
          carrier.listFileNames(path).exists(_.endsWith(".parquet"))
        if (!hasData) Sinks.overwriteParquet(empty, path, numFiles = 1)
      }
      ensureReadable(s"$outDir/curated",
        updated.where(lit(false))
          .select(col("doc_id"), lit("").as("text"), col("detected_lang"),
            col("quality_score")))
      ensureReadable(s"$outDir/packed",
        DataMix.packSequenceContentsBy(
          updated.where(lit(false))
            .select(col("doc_id"), lit("").as("text"), lit(0L).as("n_tokens")),
          "doc_id", "n_tokens", "text", budget = cfg.packBudget,
          shardOf = cfg.shardOf(col("doc_id"))))

      // MANIFEST: carried rows + recomputed rows for the changed shards
      // (each row is a pure per-shard aggregate of its bins).
      val prevManifest =
        PublishState.readPublished(spark, prevOut, "manifest", carrier)
      val carriedRows =
        if (changed.isEmpty) prevManifest
        else prevManifest.where(!col("shard").isin(changed: _*))
      val manifest = newBins match {
        case Some(b) =>
          carriedRows.unionByName(
            DataMix.shardManifest(b).join(
              DataMix.packingEfficiency(b, cfg.packBudget)
                .select(col("shard"), col("capacity_tokens"), col("fill_ratio")),
              Seq("shard")))
        case None => carriedRows
      }
      publishTailProbe("before-manifest")
      Sinks.overwriteParquet(manifest, s"$outDir/manifest", numFiles = 1)
      spark.read.parquet(s"$outDir/manifest")
        .agg(coalesce(sum(col("n_bins")), lit(0L))).head().getLong(0)
    }

    // Next week's state, after the joined slices: the composed totals
    // and the meta pointing at THIS publish.
    ledger(); fpDelta()
    val c = counts()
    PublishState.writeMeta(stateOutDir, cfg, outDir, carrier)
    val tPrev = PublishState.readTotals(stateInDir, carrier)
    def dsum(f: String): Long = evRows.map(_.getAs[Long](f)).sum
    val totals = PublishState.Totals(
      nDocs = tPrev.nDocs + dsum("ddocs"),
      nKept = tPrev.nKept + dsum("dkept"),
      nMember = tPrev.nMember + dsum("dn"),
      nSemfinal = tPrev.nSemfinal + dsum("dsem"))
    PublishState.writeTotals(stateOutDir, totals, carrier)
    // Completion marker LAST — every publish artifact and every state
    // write for next week is on disk before a reader can see
    // `outDir` as complete (VERDICT r12 item 2).
    PublishState.markComplete(outDir, carrier)

    // Delta-carry observability (VERDICT r11 items 2 + 5): carried =
    // previous publish shards the events did not flag; overlap = the
    // range-sharding premise tripwire — batch shards strictly below
    // the stored fingerprint range's max mean non-monotonic ingest
    // ids (the boundary shard extends legitimately; anything below it
    // diffs as changed and silently costs toward a full publish).
    val prevShardIds =
      PublishState.shardIdsOf(s"$prevOut/curated", carrier) ++
        PublishState.shardIdsOf(s"$prevOut/packed", carrier)
    val nCarried = prevShardIds.count(!changedSet(_))
    // The stored shard RANGE == the previous publish's file range (a
    // shard has files iff it has members iff it has a fingerprint
    // row), so the premise check is a local listing, not a Spark job.
    val nOverlap = prevShardIds.maxOption match {
      case None => 0L
      case Some(m) => evRows.count(r => r.getAs[Long]("ddocs") > 0 &&
        r.getAs[Long]("shard") < m).toLong
    }
    if (nOverlap > 0)
      // Stdout, not stderr: sbt tags stderr [error] and this is a
      // cost-visibility note, not a failure (q146's mod-3 interleaved
      // fixture trips it by design on every increment).
      println(s"[graft] delta publish: $nOverlap batch shard(s) " +
        s"land below the state's max shard — ingest ids are not monotonic; " +
        "every overlapped shard re-packs (correct, but the delta is " +
        "paying toward full-publish cost; see Stats.nShardsOverlap)")

    // Audit: the composed totals replace the corpus-frame counts
    // one-for-one; input and front counts come from the folded fork,
    // bins from the landed manifest.
    Stats(input = c("input"), gated = -1L, modelGated = -1L,
      decontaminated = totals.nDocs,
      spanCleaned = front.span.fold(-1L)(_ => c("span")),
      kept = totals.nKept,
      semDropped = if (semStateOn) totals.nKept - totals.nSemfinal else -1L,
      sampled = totals.nMember, bins = bins,
      lineCleaned = front.line.fold(-1L)(_ => c("line")),
      nShardsChanged = changed.size.toLong,
      nShardsCarried = nCarried.toLong,
      nShardsOverlap = nOverlap)
  }

  /** The docs whose membership flags the batch can move, each with its
    * dedup and semantic cluster: (doc_id, dcanon, scanon). Rows are
    * (1) the batch, (2) every member of a dedup cluster holding a
    * batch doc, and (3) every member of a semantic cluster holding a
    * doc from (1) or (2) — a superset of the clusters
    * [[deltaLedgerRows]] re-picks, since every surv-changeable doc is
    * in (2). `dcanon` is set exactly on (2) (a batch doc in a cluster
    * is in (2)), so a non-null `dcanon` marks a touched dedup cluster
    * whose members are all present; `scanon` is set exactly on (3),
    * whose clusters are likewise complete. Batch-scale under bounded
    * cluster sizes. */
  private def touchedDocs(batchBase: DataFrame, clusters: DataFrame,
      semLabels: Option[DataFrame]): DataFrame = {
    val batchIds = batchBase.select(col("doc_id"))
    val dAll = clusters.select(col("doc_id"), col("canonical_id").as("dcanon"))
    val dMembers = dAll.join(
      dAll.join(batchIds, Seq("doc_id")).select(col("dcanon")).distinct(),
      Seq("dcanon"))
    val seed = batchIds.join(dMembers, Seq("doc_id"), "left")
      .unionByName(dMembers.select(col("doc_id"), col("dcanon")))
      .distinct()
    semLabels match {
      case None => seed.withColumn("scanon", lit(null).cast("long"))
      case Some(l) =>
        val sAll = l.select(col("doc_id"), col("canonical_id").as("scanon"))
        val sMembers = sAll.join(
          sAll.join(seed.select(col("doc_id")), Seq("doc_id"))
            .select(col("scanon")).distinct(),
          Seq("scanon"))
        seed.join(sMembers, Seq("doc_id"), "full_outer")
    }
  }

  /** Membership-flag recompute for the delta publisher: batch rows
    * plus corrected rows for every old doc a flag COULD have moved
    * for. Exactness rests on three locality facts: (1) every new LSH
    * pair is batch-incident, so dedup-survivor choice can change only
    * in clusters holding a batch doc; (2) every new semantic pair is
    * batch-incident, and the semantic disposition additionally depends
    * on members' SURV flags, so it can change only in semantic
    * clusters holding a batch doc or a surv-changed doc; (3) the
    * remaining flag inputs (quality, language, token count, the md5
    * sample draw) are pure functions of the landed row and never
    * change. Each recompute mirrors the full path's rule verbatim:
    * [[TextDedup.dedupSurvivors]]' max(struct(quality, -id)) and
    * [[semanticKeepFilter]]'s lowest-KEPT-id survivor.
    *
    * One frame drives it: `touched` ([[touchedDocs]]) joined once with
    * the standing rows (`prevLedger`, the PRUNED compose over
    * `touched`'s ids — extra same-bucket rows are inert under the
    * doc_id join) and the batch's base rows, then one aggregate per
    * survivor rule, each joined back on its cluster id. The result is
    * the batch rows plus the old rows (those with a standing ledger
    * row) whose dedup cluster or re-picked semantic cluster is
    * touched, each carrying its previous surv/semok/member values
    * (`__os`/`__ok`/`__om`, and `__old` = true) for the event
    * aggregate. */
  private def deltaLedgerRows(touched: DataFrame, batchBase: DataFrame,
      prevLedger: DataFrame, semOn: Boolean): DataFrame = {
    val baseCols = Seq("quality_score", "detected_lang", "n_tokens",
      "sampled", "shard")
    val isBatch = coalesce(col("__batch"), lit(false))
    val isOld = coalesce(col("__old"), lit(false))
    val rows = touched
      .join(batchBase.select((col("doc_id") +: baseCols.map(c =>
          col(c).as(s"__b_$c")) :+ lit(true).as("__batch")): _*),
        Seq("doc_id"), "left")
      .join(prevLedger.select((col("doc_id") +: baseCols.map(c =>
          col(c).as(s"__p_$c")) :+ col("surv").as("__os") :+
          col("semok").as("__ok") :+ col("member").as("__om") :+
          lit(true).as("__old")): _*),
        Seq("doc_id"), "left")
      .select((Seq(col("doc_id"), col("dcanon"), col("scanon"),
          col("__batch"), col("__old"), col("__os"), col("__ok"),
          col("__om")) ++
        baseCols.map(c => coalesce(col(s"__b_$c"), col(s"__p_$c")).as(c))): _*)
    // Dedup survivor per touched cluster, over the members with a row.
    val dedupSurv = rows.where(col("dcanon").isNotNull && (isBatch || isOld))
      .groupBy(col("dcanon"))
      .agg(max(struct(col("quality_score").as("q"),
        (-col("doc_id")).as("negid"))).as("__best"))
      .select(col("dcanon"), (-col("__best.negid")).as("__sid"))
    // `__ds` = the recomputed flag (null outside a touched cluster);
    // `surv` = the current flag: recomputed where known, else the
    // standing value — an unclustered batch doc is its own survivor.
    val dedup = rows.join(dedupSurv, Seq("dcanon"), "left")
      .withColumn("__ds",
        when(col("__sid").isNotNull, col("doc_id") === col("__sid")))
      .withColumn("surv",
        when(isBatch, coalesce(col("__ds"), lit(true)))
          .otherwise(coalesce(col("__ds"), col("__os"))))
    // Semantic re-pick of every cluster holding a batch doc or an old
    // doc whose surv flag moved: lowest kept id survives.
    val flagged =
      if (!semOn) dedup.withColumn("__sk", lit(null).cast("boolean"))
      else {
        val survChanged = !isBatch && isOld &&
          coalesce(col("__ds") =!= col("__os"), lit(false))
        val semSurv = dedup.where(col("scanon").isNotNull)
          .groupBy(col("scanon"))
          .agg(max(isBatch || survChanged).as("__st"),
            min(when(col("surv"), col("doc_id"))).as("__ssid"))
          .where(col("__st"))
        dedup.join(semSurv, Seq("scanon"), "left")
          .withColumn("__sk", when(col("__st"),
            coalesce(col("doc_id") === col("__ssid"), lit(false))))
      }
    flagged
      .where(isBatch ||
        (isOld && (col("__ds").isNotNull || col("__sk").isNotNull)))
      .withColumn("semok",
        when(isBatch, coalesce(col("__sk"), lit(true)))
          .otherwise(coalesce(col("__sk"), col("__ok"))))
      .select(col("doc_id"), col("quality_score"), col("detected_lang"),
        col("n_tokens"), col("sampled"), col("surv"), col("semok"),
        col("shard"), col("__os"), col("__ok"), col("__om"),
        col("__old"))
      .withColumn("member", col("surv") && col("semok") && col("sampled"))
  }

  /** (Re)build the publish state from the FULL frames — the init path
    * and the fallback publish's upgrade hook: per-doc ledger rows with
    * flags read off the actual kept/semFinal frames (so the stored
    * flags equal the landed publish by construction), the per-shard
    * fingerprints, and the meta pointing at this publish. */
  private def writePublishState(spark: org.apache.spark.sql.SparkSession,
      decon: DataFrame, kept: DataFrame, semFinal: DataFrame,
      semLabels: Option[DataFrame], cfg: PublishState.Config,
      stateOutDir: String, outDir: String, v: Long,
      carrier: PublishCarrier = PublishCarrier.Posix): Unit = {
    val base = PublishState.baseRows(
      decon.select(col("doc_id"), col("text"), col("quality_score")), cfg)
    val labeled = semLabels match {
      case Some(l) => l.select(col("doc_id")).withColumn("__l", lit(true))
      case None => spark.range(0)
        .select(col("id").as("doc_id"), lit(true).as("__l"))
    }
    val ledger = base
      .join(kept.select(col("doc_id")).withColumn("__k", lit(true)),
        Seq("doc_id"), "left")
      .join(semFinal.select(col("doc_id")).withColumn("__s", lit(true)),
        Seq("doc_id"), "left")
      .join(labeled, Seq("doc_id"), "left")
      .withColumn("surv", coalesce(col("__k"), lit(false)))
      .withColumn("semok",
        col("__l").isNull || coalesce(col("__s"), lit(false)))
      .withColumn("member", col("surv") && col("semok") && col("sampled"))
      .drop("__k", "__s", "__l")
    PublishState.writeLedgerSlice(ledger, stateOutDir, v)
    val composed = PublishState.composeLedger(spark, Seq(stateOutDir))
    PublishState.writeFingerprints(spark,
      PublishState.fingerprintsOf(composed), stateOutDir)
    // Totals seed — the one corpus-scale aggregate, paid where the
    // run is corpus-scale anyway (init / the fallback full publish);
    // every delta week composes it from correction rows.
    val t = composed.agg(count(lit(1)),
        coalesce(sum(col("surv").cast("long")), lit(0L)),
        coalesce(sum(col("member").cast("long")), lit(0L)),
        coalesce(sum((col("surv") && col("semok")).cast("long")), lit(0L)))
      .head()
    PublishState.writeTotals(stateOutDir, PublishState.Totals(
      t.getLong(0), t.getLong(1), t.getLong(2), t.getLong(3)), carrier)
    PublishState.writeMeta(stateOutDir, cfg, outDir, carrier)
  }

  /** Lineage compaction — the state rebase (VERDICT r05 item 8). The
    * lineage manifest grows by one state dir per weekly batch; after
    * enough weeks every reader unions N slice dirs per artifact.
    * Rebase rewrites the composed state as ONE consolidated dir whose
    * lineage is just itself, so subsequent incrementals read a single
    * slice again.
    *
    * Because the state is APPEND-STRUCTURED, the rebase is pure IO:
    * union each artifact's batch slices along the lineage and rewrite
    * (decon/index/signatures), copy the full label table (clusters is
    * never sliced). No recompute — prep, LSH banding, and clustering
    * are NOT re-run, which at 100 TB is the difference between one
    * read+write pass and re-paying the whole dedup front. Equivalence
    * holds by construction: composing slices along the lineage IS the
    * corpus state (IncrementalCurationSpec pins post-rebase
    * incremental == pre-rebase incremental). */
  def rebaseState(spark: org.apache.spark.sql.SparkSession,
      stateInDir: String, stateOutDir: String,
      retrainSemantic: Boolean = false,
      embeddings: Option[DataFrame] = None,
      semClusters: Int = 16, semIters: Int = 2,
      semThreshold: Double = 0.99, semSalt: Int = 1,
      carrier: PublishCarrier = PublishCarrier.Posix): Unit = {
    require(stateInDir != stateOutDir,
      "rebase writes a new state version: reading and overwriting the " +
        "same state in one job would corrupt it")
    require(!retrainSemantic || embeddings.isDefined,
      "retrainSemantic needs the embeddings frame to re-derive cells")
    val lineage = StateLayout.readLineage(stateInDir)
    StateLayout.writeBucketed(StateLayout.readSlices(spark, lineage, "decon_batch"),
      s"$stateOutDir/decon_batch", "doc_id", buckets = 8)
    StateLayout.writeBucketed(StateLayout.readSlices(spark, lineage, "index_batch"),
      s"$stateOutDir/index_batch", "doc_id")
    StateLayout.writeState(StateLayout.readSlices(spark, lineage, "signatures_batch"),
      s"$stateOutDir/signatures_batch", numFiles = 4)
    // Banding consolidates as pure IO where slices exist; pre-bands
    // lineage dirs re-derive from their signature slices ONCE here —
    // the upgrade path into the bucketed layout.
    StateLayout.writeBucketed(composedBands(spark, lineage, None),
      s"$stateOutDir/bands_batch", "band")
    // Consolidated corpus-keyed slices land BUCKETED (VERDICT r09
    // item 1) — the rebase is where a production deployment also
    // re-derives the bucket count as the corpus grows (B ~ slice
    // bytes / target bucket bytes), keeping per-increment pruned
    // reads batch-proportional between rebases.
    StateLayout.writeBucketed(StateLayout.readSlices(spark, lineage, "hash_batch"),
      s"$stateOutDir/hash_batch", "content_hash")
    StateLayout.writeState(StateLayout.readState(spark, s"$stateInDir/clusters"),
      s"$stateOutDir/clusters", numFiles = 1)
    // Semantic state, when present. Default rebase is pure IO: cell
    // slices consolidate like the other per-batch artifacts and the
    // frozen quantizer + full label table copy forward unchanged.
    // `retrainSemantic` is the drift valve (the "explicit re-init"
    // the frozen-quantizer contract defers to): a quantizer trained
    // on week 1 slowly mismatches a corpus whose embedding
    // distribution shifts (q131's monitor is the trigger); retraining
    // at rebase re-pays the semantic front ONCE — train on the
    // composed corpus, reassign every cell, recompute labels — while
    // the text-side artifacts still consolidate as pure IO.
    // Equality contract: the retrained state is IDENTICAL to what
    // runInit(semanticState = true) over the composed corpus would
    // produce (same deterministic k-means over the same vecs), so
    // subsequent incrementals compose exactly (spec-pinned).
    // Span-df state: slice counts ADD across disjoint-id batches, so
    // consolidation is one sum per gram hash — equivalent to the union
    // the readers sum at use time, in one compact slice.
    if (hasState(stateInDir, "span_grams_batch"))
      StateLayout.writeBucketed(
        StateLayout.readSlices(spark, lineage, "span_grams_batch")
          .groupBy(col("h")).agg(sum(col("n_docs")).as("n_docs")),
        s"$stateOutDir/span_grams_batch", "h")
    // Line-df state consolidates the same way: slice counts add.
    if (hasState(stateInDir, "line_df_batch"))
      StateLayout.writeBucketed(
        StateLayout.readSlices(spark, lineage, "line_df_batch")
          .groupBy(col("h")).agg(sum(col("n_docs")).as("n_docs")),
        s"$stateOutDir/line_df_batch", "h")
    // ANN index state: codes consolidate as pure IO; the frozen model
    // copies forward (ANN retrain = a fresh annState init over the
    // composed corpus — the codes are index artifacts, not labels, so
    // unlike the semantic quantizer there is no cross-batch label
    // state to re-derive and no retrain valve needed here).
    if (hasState(stateInDir, "ann_model")) {
      StateLayout.writeBucketed(StateLayout.readSlices(spark, lineage, "ann_codes_batch"),
        s"$stateOutDir/ann_codes_batch", "cell")
      StateLayout.writeState(StateLayout.readState(spark, s"$stateInDir/ann_model"),
        s"$stateOutDir/ann_model", numFiles = 1)
    }
    if (hasState(stateInDir, "sem_centroids")) {
      if (retrainSemantic) {
        val emb = embeddings.get
        val vecs = embeddedVecs(
          StateLayout.readSlice(spark, s"$stateOutDir/decon_batch"), emb)
        val cen = VectorSim.kmeansCentroids(vecs, semClusters, semIters)
        writeSemCentroids(spark, stateOutDir, cen)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$stateOutDir/sem_salt.txt"),
          s"$semSalt\n")
        StateLayout.writeBucketed(VectorSim.semanticCells(vecs, cen, semSalt),
          s"$stateOutDir/sem_cells_batch", "cell")
        // Retraining re-pays the semantic front anyway, so the fit
        // summary under the NEW centroids is one extra aggregate over
        // vectors already in hand — the consolidated baseline every
        // later drift decision compares batches against.
        StateLayout.writeState(VectorSim.quantizerFitSlice(vecs, cen),
          s"$stateOutDir/sem_fit_batch", numFiles = 1)
        val cellsS = StateLayout.readSlice(spark,
          s"$stateOutDir/sem_cells_batch")
        StateLayout.writeState(
          TextDedup.connectedComponents(VectorSim.semanticPairsIncremental(
            cellsS, emb, cellsS.select(col("vec_id")), semThreshold)),
          s"$stateOutDir/sem_clusters", numFiles = 1)
      } else {
        StateLayout.writeBucketed(StateLayout.readSlices(spark, lineage, "sem_cells_batch"),
          s"$stateOutDir/sem_cells_batch", "cell")
        // Fit summaries consolidate like the df slices: the frozen
        // quantizer is unchanged, and decimal distance sums add
        // exactly, so one summed row == the union of slice rows for
        // every later decision.
        StateLayout.writeState(
          semFitFrames(spark, lineage, stateInDir, embeddings)
            .agg(
              coalesce(sum(col("n_vectors")), lit(0L)).as("n_vectors"),
              coalesce(sum(col("sum_dist")), lit(0))
                .cast("decimal(38,6)").as("sum_dist"),
              max(col("max_dist")).as("max_dist")),
          s"$stateOutDir/sem_fit_batch", numFiles = 1)
        StateLayout.writeState(StateLayout.readState(spark, s"$stateInDir/sem_centroids"),
          s"$stateOutDir/sem_centroids", numFiles = 1)
        StateLayout.writeState(StateLayout.readState(spark, s"$stateInDir/sem_clusters"),
          s"$stateOutDir/sem_clusters", numFiles = 1)
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$stateInDir/sem_salt.txt"),
          java.nio.file.Paths.get(s"$stateOutDir/sem_salt.txt"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    // Publish state consolidates like the df slices: latest-wins
    // compose into ONE complete slice (v resets with the lineage);
    // fingerprints re-land as ONE full table (the composed base +
    // delta slices — rebase is exactly where the delta tail's slice
    // discipline compacts); audit totals and the previous-publish
    // pointer copy forward unchanged — a rebase compacts state, it
    // does not publish.
    if (PublishState.active(stateInDir, carrier)) {
      PublishState.writeLedgerSlice(
        PublishState.composeLedger(spark, lineage), stateOutDir, v = 0L)
      PublishState.writeFingerprints(spark,
        PublishState.composeFingerprints(spark, lineage), stateOutDir)
      if (PublishState.totalsActive(stateInDir, carrier))
        PublishState.writeTotals(stateOutDir,
          PublishState.readTotals(stateInDir, carrier), carrier)
      val (fp, prevOut) = PublishState.readMeta(stateInDir, carrier)
      PublishState.writeMetaRaw(stateOutDir, fp, prevOut, carrier)
    }
    // Retrieval sub-families rebase through their own consolidators
    // (pure IO + exact re-sums) — without this, a post-rebase
    // increment would auto-detect no `bm25/` dir and silently drop
    // the retrieval cadence.
    if (hasState(stateInDir, "bm25")) {
      Bm25State.rebase(spark, s"$stateInDir/bm25", s"$stateOutDir/bm25")
      LmState.rebase(spark, s"$stateInDir/lm", s"$stateOutDir/lm")
    }
    StateLayout.writeLineage(stateOutDir, Seq(stateOutDir))
  }

  /** Per-slice quantizer-fit rows (n_vectors, sum_dist, max_dist)
    * along `dirs`: the persisted ingest-time `sem_fit_batch` summary
    * where it exists; for slices written BEFORE the summary landed,
    * the old re-score of that slice's vectors (its `sem_cells_batch`
    * ids joined against the caller's embeddings) under the state's
    * frozen quantizer — pre-upgrade lineages degrade per-slice instead
    * of crashing, and never silently drop a slice's vectors from a
    * drift decision or a consolidation. */
  private def semFitFrames(spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String], stateInDir: String,
      embeddings: Option[DataFrame]): DataFrame = {
    val cols = Seq(col("n_vectors"), col("sum_dist"), col("max_dist"))
    val (withSummary, preSummary) = dirs.partition(hasState(_, "sem_fit_batch"))
    // Hoisted: one centroid read/collect shared by every re-scored
    // slice (and skipped entirely when no slice needs it).
    lazy val cen = readSemCentroids(spark, s"$stateInDir/sem_centroids")
    // Common case (every slice carries its ingest-time summary): one
    // multi-path read, not |lineage| separate reads.
    val summaries =
      if (withSummary.isEmpty) Nil
      else Seq(StateLayout.readState(spark,
          withSummary.map(d => s"$d/sem_fit_batch"): _*)
        .select(cols: _*))
    val rescored = preSummary.map { d =>
      val emb = embeddings.getOrElse(throw new IllegalStateException(
        s"$d/sem_fit_batch is missing (slice written before the " +
          "ingest-time fit summary existed) and no embeddings were " +
          "supplied to re-score it — pass the corpus embeddings or " +
          "rebase the state to backfill the summary"))
      VectorSim.quantizerFitSlice(
        emb.join(StateLayout.readSlice(spark, s"$d/sem_cells_batch")
          .select(col("vec_id")), "vec_id"), cen)
        .select(cols: _*)
    }
    (summaries ++ rescored).reduce(_ unionByName _)
  }

  /** The drift DECISION behind [[rebaseIfDrifted]], exposed so its
    * cost can be priced alone: aggregate the lineage's one-row
    * `sem_fit_batch` summaries (state = every slice before the
    * newest, batch = the newest) and compare mean fits. O(#slices)
    * file reads, zero embedding scans — decimal distance sums add
    * exactly, so the means equal a full re-score of the state's
    * embeddings under the frozen quantizer bit-for-bit (VERDICT r08
    * item 3; spec-pinned against the [[VectorSim.quantizerDrift]]
    * full-scan on both the planted-drift and stable corpora).
    * Returns true when the retrain branch should run.
    *
    * Lineages holding slices written BEFORE the ingest-time summary
    * existed carry no `sem_fit_batch`; those slices (and only those)
    * degrade to the old re-score — their `sem_cells_batch` vec ids
    * joined against the caller-supplied `embeddings` and scored under
    * the frozen quantizer. Without `embeddings` a pre-summary slice
    * is a hard error naming the missing path, never a silent wrong
    * decision. */
  def quantizerDriftDecision(spark: org.apache.spark.sql.SparkSession,
      stateInDir: String, driftRatio: Double = 1.5,
      embeddings: Option[DataFrame] = None): Boolean = {
    val lineage = StateLayout.readLineage(stateInDir)
    hasState(stateInDir, "sem_centroids") && lineage.size > 1 && {
      def sideFit(dirs: Seq[String]): (Long, Double) = {
        val r = semFitFrames(spark, dirs, stateInDir, embeddings)
          .agg(coalesce(sum(col("n_vectors")), lit(0L)).as("n"),
            sum(col("sum_dist")).as("s"))
          // The SAME mean arithmetic quantizerDrift computes over raw
          // distances: exact decimal sum, divided once, 6dp round.
          .select(col("n"),
            when(col("n") > 0,
              round(col("s").cast("double") / col("n"), 6))
              .otherwise(lit(0.0)).as("mean"))
          .head()
        (r.getLong(0), r.getDouble(1))
      }
      val (nState, stateMean) = sideFit(lineage.init)
      val (nBatch, batchMean) = sideFit(Seq(lineage.last))
      // An empty side yields no evidence; equality-at-zero (both fits
      // perfect) is no drift.
      nState > 0 && nBatch > 0 && batchMean > 0 &&
        batchMean >= driftRatio * stateMean
    }
  }

  /** Drift-gated rebase — the policy that CONNECTS the q139 monitor to
    * the retrain valve (VERDICT r07 item 4). The weekly runner calls
    * this instead of choosing a rebase mode by hand: it compares the
    * newest batch's ingest-time quantizer-fit summary against the
    * state's ([[quantizerDriftDecision]] — O(#slices), no embedding
    * scan; r07's version re-scored EVERY state slice's embeddings per
    * weekly decision, the last per-increment cost that tracked the
    * corpus rather than the batch), and
    *   - batch mean_dist >= `driftRatio` x state mean_dist  ⇒ the
    *     frozen cells no longer co-locate the incoming data's
    *     near-duplicates: [[rebaseState]] with `retrainSemantic = true`
    *     (re-pay the semantic front once, already pinned equal to a
    *     fresh init over the composed corpus);
    *   - otherwise ⇒ plain lineage compaction (pure IO).
    * "State" = every lineage slice before the newest; "batch" = the
    * newest slice — the exact comparison q139 tabulates. Cost of the
    * decision: |lineage| one-row summary reads + a 2-row aggregate.
    * Returns whether the retrain branch ran. Lineages of length 1 and
    * states without semantic state compact without measuring (nothing
    * to compare / nothing to retrain). */
  def rebaseIfDrifted(spark: org.apache.spark.sql.SparkSession,
      stateInDir: String, stateOutDir: String, embeddings: DataFrame,
      driftRatio: Double = 1.5, semClusters: Int = 16, semIters: Int = 2,
      semThreshold: Double = 0.99, semSalt: Int = 1): Boolean = {
    // Pass the embeddings through so a lineage holding pre-summary
    // slices degrades to re-scoring those slices instead of crashing.
    val retrain = quantizerDriftDecision(spark, stateInDir, driftRatio,
      embeddings = Some(embeddings))
    // Embeddings ride BOTH branches: the compaction branch's fit-
    // summary consolidation needs them iff a pre-summary slice must
    // be re-scored (semFitFrames), the retrain branch always does.
    rebaseState(spark, stateInDir, stateOutDir,
      retrainSemantic = retrain,
      embeddings = Some(embeddings),
      semClusters = semClusters, semIters = semIters,
      semThreshold = semThreshold, semSalt = semSalt)
    retrain
  }

  /** Run the pass; outputs land under `outDir` as `curated/` (doc_id,
    * text, detected_lang, quality_score) and `packed/` (per-bin member
    * ids + packed text). Overwrite semantics — re-runs are idempotent. */
  def run(docs: DataFrame, benchmark: DataFrame, outDir: String,
      minQuality: Double = 0.5, dedupThreshold: Double = 0.25,
      minContaminatedShingles: Int = 1,
      fractions: Map[String, Double] = Map.empty, defaultFraction: Double = 1.0,
      packBudget: Long = 4096L, publishSpan: Long = 1024L,
      spanK: Int = 8, spanMinDf: Int = 2,
      embeddings: Option[DataFrame] = None, semClusters: Int = 16,
      semIters: Int = 2, semThreshold: Double = 0.99,
      semMaxCellSize: Int = 1000,
      classifier: Option[(DataFrame, Int)] = None,
      minClassifierScore: Double = 0.5,
      carrier: PublishCarrier = PublishCarrier.Posix): Stats = DriverOverlap.scope { s =>
    // Map tier: canonicalize then strip PII/URLs.
    val normalized = TextAnalysis.normalize(docs, "doc_id", "text")
      .select(col("doc_id"), col("norm_text").as("text"))
    val redacted = TextAnalysis.redact(normalized, "doc_id", "text")
      .select(col("doc_id"), col("clean_text").as("text"))

    // Quality gate: keep the score for the survivor pick + audit.
    val quality = TextAnalysis.qualityScore(redacted, "doc_id", "text")
      .select(col("doc_id"), col("quality_score"))
    val heurGated = redacted
      .join(quality.where(col("quality_score") >= minQuality), "doc_id")

    // Model-based quality gate (optional, pre-trained weights).
    val gated = classifierStage(heurGated, classifier, minClassifierScore)

    // Benchmark decontamination (left-anti against the flagged set).
    // The overlap floor matters on corpora with a dense shared
    // vocabulary: at ANY-shared-shingle strictness the synthetic sf0.1
    // corpus loses 94% of itself to a 51-doc benchmark split; real
    // pipelines tune the floor to the benchmark's phrase specificity.
    // localCheckpoint, not persist: read by the span chain's two
    // passes, the quality join, and the folded audit — under plain
    // persist each of those actions re-analyzes (and the SQL event bus
    // re-renders) the whole normalize+redact+gate+classifier+decon
    // chain per reference (multi-MB plan strings, measured ~27% of the
    // e2e driver wall in stack samples). Checkpointing pays the
    // chain's optimization once; blocks release via ContextCleaner.
    val decon = gated.join(
      TextDedup.contaminated(gated, benchmark, "doc_id", "text", n = 3)
        .where(col("n_contaminated_shingles") >= minContaminatedShingles)
        .select(col("doc_id")),
      Seq("doc_id"), "left_anti")
      .localCheckpoint(true)

    // Substring-level span removal (q69, Lee et al. 2022) BEFORE
    // near-dup clustering: cross-document repeated spans (boilerplate
    // headers, license blocks, templated fragments) are cut from every
    // carrier, so the near-dup signatures downstream see real content,
    // not shared chrome. `spanMinDf` tunes how widespread a span must
    // be; note its interplay with near-dup dedup — at minDf = 2 a pair
    // of near-identical docs is ALSO a repeated-span pair, and cutting
    // their shared text first can leave two distinct residues that
    // near-dup then keeps both of. Corpora relying on the survivor
    // pick for such pairs should set spanMinDf above the expected
    // near-dup cluster size so spans only catch boilerplate-scale
    // repetition.
    // Scoped span chain (VERDICT r07 item 7): the audit count below is
    // the first action over the result and materializes `spanned`'s
    // own persist, after which the gram cache is dead — release it
    // synchronously (its own scope) instead of arming a lease the
    // bench's rep boundary would race on the async listener bus.
    val (spanned, spanCleaned) = DriverOverlap.scope { ss =>
      val (spanRaw, spanRelease) = TextDedup
        .removeRepeatedSpansScoped(decon, "doc_id", "text", k = spanK, minDf = spanMinDf)
      ss.release(spanRelease())
      // localCheckpoint (same rationale as `decon`): audit count + suite
      // build + keep join + outputs all hang off this frame.
      val spanned = spanRaw
        .join(decon.select(col("doc_id"), col("quality_score")), "doc_id")
        .select(col("doc_id"), col("clean_text").as("text"),
          col("quality_score"), col("n_removed"))
        .localCheckpoint(true)
      (spanned, spanned.where(col("n_removed") > 0).count())
    }
    val spanDocs = spanned.drop("n_removed")

    // Near-dup dedup over the span-cleaned corpus: shared artifacts,
    // quality-best survivor per cluster, unclustered docs keep
    // themselves. MinHash at a low threshold subsumes exact dups
    // (identical signatures collide in every band).
    val (kept, keptCount) = DriverOverlap.scope { ss =>
      val suite = DedupSuite(spanDocs, "doc_id", "text", n = 3)
      ss.release(suite.close())
      keepSet(suite, spanDocs, dedupThreshold)
    }
    s.release(kept.unpersist())

    // Embedding-space dedup over the near-dup survivors (paraphrase
    // duplicates shingles can't see).
    val (semFinal, semDropped) = semanticStage(s, kept, embeddings,
      semClusters, semIters, semThreshold, semMaxCellSize)

    // Deterministic language-stratified mix + the curated/packed/
    // manifest sinks — the shared output tail of all three cadences.
    val (landedCurated, landedBins) = landOutputs(semFinal, outDir,
      PublishState.Config(fractions, defaultFraction, packBudget, publishSpan),
      carrier)
    PublishState.markComplete(outDir, carrier)

    // One folded audit action (VERDICT r09 item 3) — same discipline
    // as the weekly cadences; the counts that gate stage RELEASES
    // (spanCleaned, keptCount) stay eager because their actions double
    // as cache materializers under scoped leases.
    val c = foldCounts(Seq(
      "input" -> docs, "gated" -> heurGated, "decon" -> decon,
      "sampled" -> landedCurated, "bins" -> landedBins) ++
      classifier.map(_ => "modelGated" -> gated))
    // decon/spanned are localCheckpoint blocks — released by
    // ContextCleaner on GC, not by unpersist.
    Stats(
      input = c("input"), gated = c("gated"),
      modelGated = c.getOrElse("modelGated", -1L),
      decontaminated = c("decon"), spanCleaned = spanCleaned,
      kept = keptCount, semDropped = semDropped,
      sampled = c("sampled"), bins = c("bins"))
  }
}
