package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** A hashed (doc_id, sh) shingle inverted index with an OWNED cache
  * lifecycle: operators never `.cache()` internally — the caller builds
  * the index (optionally [[persist]]s it), feeds it to one or more pair
  * operators, and [[unpersist]]s when done. One index serves the exact
  * -Jaccard and MinHash+LSH pipelines alike.
  *
  * `bits` records the hash family: 32 = leading-8-hex md5 (required by
  * the MinHash permutation family, whose coefficients the DuckDB oracle
  * re-derives); 64 = xxhash64 (cheaper, collision-negligible — the
  * right default when only equality semantics matter, e.g. exact
  * Jaccard counting where a 32-bit cross-doc collision could perturb an
  * intersection count).
  */
final class ShingleIndex private[operators] (val df: DataFrame, val bits: Int) {
  /** Cache the index (two primitive longs per row — columnar-caches
    * cheaply and is read 3-6 times per pair pipeline). */
  def persist(): this.type = { df.persist(); this }
  def unpersist(blocking: Boolean = false): this.type = {
    df.unpersist(blocking); this
  }
}

/** Document deduplication and corpus-hygiene operators
  * (LLM-data-pipeline tier).
  *
  * Escalating dedup strategies — plus [[contaminated]] (benchmark
  * decontamination) and [[minhashEstimatePairs]] (approximate verify)
  * — all shuffle-on-key MapReduce shapes that hold at 100 TB (no
  * cross joins, no driver-side state):
  *
  *  - [[exact]] — hash-groupBy on a normalized content hash.
  *  - [[ngramJaccardPairs]] — EXACT all-pairs Jaccard >= t via the
  *    inverted-index pattern with PPJoin-style prefix filtering:
  *    shingles are globally ordered by document frequency (rarest
  *    first) and candidates are generated only from each document's
  *    prefix — hot (stopword-like) shingles sort to the tail and never
  *    enter the candidate join, pruning the O(df^2) blowup while
  *    keeping the result exact (Bayardo et al., WWW'07).
  *  - [[minhashLshPairs]] — approximate: MinHash signatures banded into
  *    LSH buckets; candidate pairs verified with exact Jaccard. The
  *    scale path when even the prefix index is too hot: work is
  *    O(candidates), tunable via bands/rows.
  *  - [[simhashPairs]] — bit-sketch dedup: 32-bit SimHash, candidates
  *    from byte-band equality (pigeonhole: hamming <= 3 over 4 bytes
  *    forces >= 1 equal byte), verified by true hamming distance.
  */
object TextDedup {

  /** The normalized content hash every exact-dedup consumer shares
    * (one definition: [[exact]] and the q60 report cannot drift). */
  def contentHash(text: Column): Column = md5(lower(trim(text)))

  /** Exact dedup groups: one row per distinct normalized text, canonical
    * id = min doc id, plus the duplicate count. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        contentHash(col(textCol)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_dups"))

  /** Build the distinct (doc_id, hashed-shingle) inverted index: one
    * codegen'd [[graft.functions.expr.WordShingles]] kernel per row ->
    * explode -> one codegen'd hash per shingle -> distinct. A single
    * shuffle (the distinct), no sort.
    *
    * Two predecessors measured worse: the array-lambda form
    * (`wordShingles`, interpreted ~7 s/evaluation at sf0.1) and a
    * window-function assembly (posexplode -> `lead` over a per-doc
    * window), whose sort shuffle of EVERY token dominated the build —
    * and, under a not-yet-materialized persist, was recomputed by each
    * concurrently-scheduled consumer stage of the self-join. Documents
    * with fewer than n tokens contribute their whole token sequence as
    * one shingle (same fallback as `wordShingles` and the DuckDB
    * oracle).
    *
    * The returned [[ShingleIndex]] is NOT persisted — the caller owns
    * the lifecycle (`.persist()` before multi-operator reuse,
    * `.unpersist()` when done). */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      n: Int, bits: Int = 64): ShingleIndex = {
    require(bits == 32 || bits == 64, s"bits must be 32 or 64, got $bits")
    val hashShingle: Column => Column =
      if (bits == 32) shingleHash32(_) else xxhash64(_)
    // Spread a small scan before the shingle explode: the kernel +
    // per-shingle hash + partial-distinct otherwise run single-task on
    // a one-file input (guide §2.5); everything downstream is
    // order-independent (distinct over hashes).
    val sh = Spread.toCores(docs).select(col(idCol).as("doc_id"),
      explode(wordShinglesNative(tokens(col(textCol)), n)).as("shingle"))
    // The distinct's exchange clusters by doc_id ALONE (hash(doc_id)
    // satisfies the (doc_id, sh) grouping — every row of a doc lands in
    // one partition), so every downstream per-doc aggregate over the
    // persisted index (minhash signatures, the |doc| size counts of the
    // exact-Jaccard verify, `contaminated`'s per-doc overlap count)
    // reuses this one exchange instead of re-shuffling the index by
    // doc_id (guide §2.4). Shuffle bytes are unchanged — shingles are
    // near-unique within a doc, so the (doc_id, sh)-keyed partial
    // distinct this replaces eliminated almost nothing — and per-doc
    // skew is bounded by document length.
    new ShingleIndex(
      sh.select(col("doc_id"), hashShingle(col("shingle")).as("sh"))
        .repartition(col("doc_id")).distinct(),
      bits)
  }

  /** Benchmark decontamination: corpus documents that share at least
    * one word n-gram with the benchmark set, with the count of
    * contaminated (distinct) shingles — the standard pretraining
    * hygiene pass (strip eval-set text from training data).
    *
    * Shape: both sides go through the codegen'd shingle kernel into
    * (doc, hash) rows; the benchmark side collapses to a distinct
    * hash set; one equi-join + per-doc count. The benchmark set is
    * small relative to the corpus, so AQE turns the join into a
    * broadcast of the benchmark hashes — the corpus never shuffles
    * until the per-doc aggregate (map-side combined). */
  def contaminated(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val c = buildIndex(corpus, idCol, textCol, n, bits = 64).df
    val b = buildIndex(benchmark, idCol, textCol, n, bits = 64).df
      .select(col("sh")).distinct()
    c.join(b, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated_shingles"))
  }

  /** The decontamination AUDIT — [[contaminated]] from the benchmark
    * owner's side: per benchmark item, how many corpus documents
    * share at least one n-shingle with it and how many (corpus-doc,
    * shingle) overlap instances there are. This is the report an eval
    * owner reads to see WHICH benchmark items leak into a training
    * corpus (an item leaking into thousands of docs is compromised;
    * one stray match is noise), complementing q47's per-corpus-doc
    * strip decision. Same join shape as [[contaminated]]; the
    * aggregate keys on the (small) benchmark side. */
  def contaminationByBenchmark(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val c = buildIndex(corpus, idCol, textCol, n, bits = 64).df
    val b = buildIndex(benchmark, idCol, textCol, n, bits = 64).df
      .select(col("doc_id").as("bench_id"), col("sh"))
    c.join(b, "sh")
      .groupBy(col("bench_id"))
      .agg(
        countDistinct(col("doc_id")).as("n_leaked_docs"),
        count(lit(1)).as("n_overlap_instances"))
  }

  /** Near-dup pairs -> dedup CLUSTERS: connected components over the
    * pair graph by iterative min-label propagation, the step that
    * turns pairwise detectors into an actual dedup decision (one
    * canonical = min doc id per component; transitive closure handles
    * A~B~C chains where A,C never matched directly).
    *
    * Each round is one join + one partial-aggregated min per node —
    * the standard relational label-propagation shape, converging in
    * at most graph-diameter rounds (near-dup components are dense and
    * shallow in practice; the driver loop runs one cheap count action
    * per round, like Lloyd's). Every round `localCheckpoint`s the
    * label frame: without lineage truncation the logical plan doubles
    * per iteration and a ~15-round chain OOMs the driver just
    * BUILDING the plan string — the defining pitfall of iterative
    * DataFrame algorithms. Throws if `maxIters` is hit before the
    * fixpoint rather than returning silently-partial components. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
      driverThreshold: Long = 1000000L): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    try {
      // Hybrid solve (same rationale as the incremental variant's
      // threshold, finding #16): label propagation pays ~1 s of FIXED
      // per-round scheduling regardless of data, so below
      // `driverThreshold` edges a driver union-find over the (already
      // materialized) edge cache is strictly faster — and at any real
      // corpus scale the distributed propagation takes over untouched.
      // Labels are identical by construction (union by min id == min
      // label per component; spec-pinned both paths).
      //
      // Internal bookkeeping actions run through `toRdd` (the
      // [[VectorSim.kmeansCentroidsFrom]] precedent): a tracked SQL
      // action makes AQE re-render the FULL plan string per query
      // stage for the UI event bus — measured ~1.1 s of pure driver
      // time per stage on deeply-cached pipeline plans (q137: a
      // 140-row pair count cost 12 s with AQE on, 0.9 s off; 7 tasks,
      // 92 ms of task time). toRdd actions carry no SQL execution id,
      // so AQE adapts without posting plan updates — same result, no
      // corpus-scale cost, and the driver stays off the render path.
      val nEdges = edges.queryExecution.toRdd.count()
      if (nEdges == 0)
        return pairs.select(col("doc_a").as("doc_id"),
          col("doc_a").as("canonical_id")).where(lit(false))
      if (nEdges <= 2 * driverThreshold)
        return unionFindLabels(edges)
      val nodes = edges.select(col("src").as("id")).distinct()
      var labels = nodes.withColumn("label", col("id"))
        .localCheckpoint(true)
      // Labels only ever DECREASE under min-propagation, so the label
      // sum strictly decreases until the fixpoint — convergence is one
      // tiny aggregate per round, not a self-join diff. DECIMAL(38)
      // so the sum cannot overflow at any corpus size under ANSI.
      def labelSum(df: DataFrame): java.math.BigDecimal = df
        .agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
      var prevSum = labelSum(labels)
      var converged = false
      var it = 0
      while (!converged && it < maxIters) {
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("label").as("nlabel")), "dst")
          .groupBy(col("src")).agg(min(col("nlabel")).as("nbr_min"))
        val updated = labels
          .join(nbrMin.withColumnRenamed("src", "id"), Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
          .localCheckpoint(true)
        val s = labelSum(updated)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        labels = updated
        it += 1
      }
      if (!converged) throw new IllegalStateException(
        s"label propagation did not converge in $maxIters rounds")
      labels.select(col("id").as("doc_id"), col("label").as("canonical_id"))
    } finally edges.unpersist()
  }

  /** Driver union-find over a collected (bounded-size) edge frame —
    * union by min id, so the root IS the min-label canonical every
    * component gets under propagation. Duplicate / reversed edges are
    * harmless. */
  private def unionFindLabels(edges: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    val seen = scala.collection.mutable.HashSet.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    // toRdd collect (see connectedComponents): internal bookkeeping,
    // skip the per-stage AQE plan-string render a tracked SQL action
    // pays. InternalRows from a shuffle are reused buffers — extract
    // the two longs inside the map, never hold the row.
    edges.queryExecution.toRdd
      .map(r => (r.getLong(0), r.getLong(1)))
      .collect().foreach { case (x, y) =>
        seen += x; seen += y
        val (a, b) = (find(x), find(y))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
      }
    val spark = edges.sparkSession
    import spark.implicits._
    seen.toSeq.map(n => (n, find(n))).toDF("doc_id", "canonical_id")
  }

  /** Incremental dedup clustering — the weekly-ingest cadence: fold a
    * batch of NEW near-dup pairs into an existing
    * `(doc_id, canonical_id)` clustering without re-propagating over
    * the whole historical pair graph.
    *
    * Shape: contract every existing cluster to its canonical id (one
    * equi-join per endpoint maps doc -> canonical, new docs map to
    * themselves), drop now-internal edges, and run the same
    * min-label propagation ONLY on the contracted graph — its size
    * tracks the new batch (touched clusters + new docs), not the
    * corpus, so the per-round shuffles are batch-sized and the round
    * count is the diameter of the MERGE graph, not of any original
    * chain. Because each existing canonical is already the min id of
    * its cluster, the min label of a merged component equals the
    * from-scratch min over the union graph — results are EQUAL to
    * `connectedComponents(oldPairs union newPairs)` (spec + stress
    * pinned), including transitive merges of several old clusters
    * through one new doc.
    *
    * Output covers existing docs plus the new pairs' endpoints, like
    * the from-scratch run over the union pair set. */
  def connectedComponentsIncremental(existing: DataFrame, newPairs: DataFrame,
      maxIters: Int = 20, driverThreshold: Long = 1000000L): DataFrame = {
    val ex = existing.select(col("doc_id"), col("canonical_id"))
    val contracted = newPairs
      .join(ex.select(col("doc_id").as("doc_a"), col("canonical_id").as("__ca")),
        Seq("doc_a"), "left")
      .join(ex.select(col("doc_id").as("doc_b"), col("canonical_id").as("__cb")),
        Seq("doc_b"), "left")
      .select(
        coalesce(col("__ca"), col("doc_a")).as("doc_a"),
        coalesce(col("__cb"), col("doc_b")).as("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
      .persist()
    try {
      // toRdd: internal bookkeeping count (see connectedComponents).
      val nEdges = contracted.queryExecution.toRdd.count()
      if (nEdges == 0) return ex // every new pair was already internal
      // The contracted graph is batch-sized BY CONSTRUCTION (nothing in
      // it grows with the historical corpus), so up to `driverThreshold`
      // edges a driver union-find replaces the distributed propagation:
      // the per-round fixed scheduling cost of label propagation (~1 s
      // x rounds regardless of data, NOTES) would otherwise make the
      // incremental path cost as much as full reclustering at bench
      // scale. Above the threshold (a truly huge weekly batch) the same
      // distributed propagation as from-scratch takes over, with
      // batch-sized rather than corpus-sized shuffles.
      val comp: DataFrame =
        (if (nEdges <= driverThreshold) unionFindLabels(contracted)
         else connectedComponents(contracted, maxIters, driverThreshold = 0L))
          .select(col("doc_id").as("__node"), col("canonical_id").as("__label"))
      val relabeled = ex
        .join(comp.withColumnRenamed("__node", "canonical_id"), Seq("canonical_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__label"), col("canonical_id")).as("canonical_id"))
      val newDocs = comp
        .join(ex.select(col("doc_id").as("__node")), Seq("__node"), "left_anti")
        .select(col("__node").as("doc_id"), col("__label").as("canonical_id"))
      relabeled.unionByName(newDocs)
    } finally contracted.unpersist()
  }

  /** PPJoin-style prefix-filtered candidate pairs for Jaccard >= t.
    *
    * Canonical global shingle order = (document frequency asc, hash
    * asc): rare shingles first. A document keeps only its first
    * |d| - ceil(t*|d|) + 1 shingles in that order; if J(a,b) >= t the
    * prefixes must share at least one shingle (Bayardo et al.), so the
    * self-join over prefixes alone is an EXACT candidate generator.
    * The pruned tail is precisely the highest-df (stopword-like)
    * shingles — the ones whose df^2 join blowup made the naive
    * inverted-index self-join a 100x-scale killer.
    *
    * The tiny epsilon inside ceil() guards FP product error in the safe
    * direction only (a slightly LARGER prefix — more candidates, never
    * a missed pair). */
  private[graft] def prefixCandidates(inverted: DataFrame, threshold: Double): DataFrame = {
    // Per-shingle df rides a groupBy + equi-join, NOT a window
    // partitioned by the shingle hash: a hot (stopword-like) shingle's
    // postings would all sort on one task under the window form — the
    // exact hazard class the prefix filter exists to kill downstream.
    // The per-doc windows carry the __ent provenance marker (one
    // document's shingle set is entity-bounded; VERDICT r09 item 2).
    val dfBySh = inverted.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("__ent_doc_id"))
    val prefix = inverted
      .withColumnRenamed("doc_id", "__ent_doc_id")
      .join(dfBySh, Seq("sh"))
      .withColumn("n_sh", count(lit(1)).over(byDoc))
      .withColumn("rnk", row_number().over(byDoc.orderBy(col("df"), col("sh"))))
      .where(col("rnk") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1)
      .select(col("__ent_doc_id").as("doc_id"), col("sh"))
    prefix.as("a")
      .join(prefix.as("b").hint("shuffle_hash"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Jaccard for given candidate pairs, from a (doc_id, sh) inverted
    * index: fan each pair out over doc_a's hashes, count which also
    * occur under doc_b — work is O(|candidates| x avg set size), never
    * the full pair matrix — then |aUb| = |a|+|b|-|a^b|.
    *
    * No hard-coded broadcast for the candidate/size lookups: both grow
    * with the corpus (one row per doc / per candidate pair), so pinning
    * them to broadcast is an OOM at real scale. AQE converts these to
    * broadcast joins at runtime when the actual built side is small —
    * the right call at every scale factor. */
  private def jaccardFromIndex(inverted: DataFrame, threshold: Double,
      candidates: DataFrame): DataFrame = {
    val sizes = inverted.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val shared = inverted.select(col("doc_id").as("doc_a"), col("sh"))
      .join(candidates, Seq("doc_a"))
      .join(inverted.select(col("doc_id").as("doc_b"), col("sh")),
        Seq("doc_b", "sh"))
      .select(col("doc_a"), col("doc_b"))
    jaccardOfShared(shared, sizes, threshold)
  }

  /** Shared scoring tail of both exact modes: co-occurrence rows ->
    * n_shared -> sizes joins -> 6dp jaccard -> threshold. ONE copy so
    * the rounding/threshold semantics the equality specs pin cannot
    * diverge between the one-pass and candidate/verify paths. */
  private def jaccardOfShared(shared: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame =
    shared
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_a", "n_sh" -> "n_a")), "doc_a")
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_b", "n_sh" -> "n_b")), "doc_b")
      .withColumn("jaccard",
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Crossover for [[ngramJaccardPairs]] mode selection, MEASURED at
    * sf0.1 on both a uniform-df and a hot-shingle (stopword-footer)
    * corpus (tables in NOTES.md). Below ~0.35 the prefix bound keeps
    * |d| - ceil(t|d|) + 1 ~ 0.95|d| shingles, which mathematically
    * CANNOT exclude the hot tail — no exact prefix scheme helps at low
    * thresholds, and the candidate-mode verify only adds cost (10.2 s
    * vs 2.9 s direct at t=0.05). At and above it, the pruned tail is
    * exactly the hot shingles: on the skewed corpus prefix wins 2-5x
    * (2.6 s vs 13.1 s at t=0.8) while on the uniform corpus it costs a
    * bounded constant. Callers who know their corpus shape can force a
    * mode via [[ngramJaccardDirect]] / [[ngramJaccardPrefix]]. */
  val PrefixFilterFrom: Double = 0.35

  /** Candidate-generating df cap for [[ngramJaccardDirect]]: shingles
    * with document frequency above this never GENERATE candidates
    * (their pairs arrive through low-df co-occurrences or the risky
    * residual below), bounding the self-join at `maxDf x |postings|`
    * pairs instead of `sum(df^2)` — the hot-shingle worst case that
    * made uncapped direct mode a watched residue since r04 (one
    * stopword-like shingle in 20% of a corpus yields (0.2 N)^2 / 2
    * candidate pairs on its own). */
  val DirectMaxDf: Int = 128

  /** Spec observability for the direct-mode router: which plan the
    * last [[ngramJaccardDirect]] call chose (true = capped
    * drop-and-verify, false = one-pass). Both plans are exact; the
    * specs pin that each fixture ROUTES where its volume says. */
  @volatile private[graft] var lastDirectCapped: Boolean = false

  /** Direct mode: count shared shingles off the inverted-index
    * self-join — optimal when document frequency is near-uniform or
    * the threshold is low, where nearly every co-occurring pair must
    * be scored anyway (one join + one partial-aggregated groupBy).
    *
    * DF-CAPPED, drop-and-verify (VERDICT r09 item 5): shingles with
    * df > `maxDf` are dropped from CANDIDATE GENERATION, and the rows
    * they alone would have connected are recovered exactly through the
    * risky-doc residual. Soundness: a qualifying pair (J >= t) missed
    * by the low-df self-join shares ONLY hot shingles; with
    * b = the pair's smaller member, `s >= t(|a|+|b|)/(1+t) >=
    * 2t|b|/(1+t)` shared shingles all sit inside b's hot set, so
    * `hot(b) >= 2t/(1+t) x |b|` — b is RISKY. Candidates therefore =
    * (low-df self-join) UNION (hot postings of risky docs x hot
    * postings), and scoring verifies over the FULL index — exact at
    * every threshold (spec-pinned capped == uncapped on a hot-shingle
    * fixture). On corpora where hot shingles are sporadic per doc
    * (the adversarial case the cap exists for) the risky set is empty
    * and the residual costs nothing; a corpus where most docs are
    * mostly-hot genuinely contains that near-dup mass and pays for
    * exactly the pairs it has. The risky filter evaluates
    * `hot x (1+t) >= 2t x n - eps` with a 1e-6 slack — FP rounding can
    * only ADD a borderline doc to the residual, never drop one.
    * `threshold <= 0` keeps every pair by definition, so no cap can
    * prune: the uncapped self-join runs (pass `maxDf = Int.MaxValue`
    * to force it at any threshold). */
  def ngramJaccardDirect(index: ShingleIndex, threshold: Double,
      maxDf: Int = DirectMaxDf): DataFrame = {
    val inverted = index.df
    lastDirectCapped = false
    if (threshold <= 0 || maxDf == Int.MaxValue)
      ngramJaccardOnePass(inverted, threshold)
    else {
      // MEASURED routing, not a guess: the df table the cap needs
      // anyway prices both plans. One-pass volume = every
      // co-occurrence row, cold + hot; the capped plan reads the cold
      // rows PLUS the risky-doc hot residual, then pays a distinct and
      // a verify re-intersection on top (~2x its candidate volume).
      // On a corpus whose hot co-occurrences are non-qualifying noise
      // (the sporadic hot-shingle adversary) the residual is ~empty
      // and the cap wins by orders of magnitude; on a genuinely
      // dup-DENSE corpus most docs are risky, the residual approaches
      // the hot volume, and the one-pass count is optimal — measured
      // 830 s capped vs 26 s one-pass on the 10x replica stress corpus
      // before this router existed. Decision cost: two linear
      // aggregates over the (caller-persisted) index.
      val dfBySh = inverted.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
        .persist()
      // Volumes compare in DOUBLE: at contract scale a single
      // universal shingle's df*(df-1)/2 overflows Long (df ~ 4e9) and
      // a silent wrap would mis-route to the one-pass plan on exactly
      // the corpus the cap exists for; the 2x routing heuristic needs
      // magnitude, not the lost low bits. A decision-action failure
      // unpersists before rethrowing (no leaked cache on the throw
      // path); a capped plan that is built but never executed leaves
      // its lease to the harness releaseAll points, like every other
      // armed lease.
      val (coldVol, hotVol) = try {
        val volRow = dfBySh.agg(
          coalesce(sum(when(col("__df") <= maxDf,
            expr("__df * (CAST(__df AS DOUBLE) - 1) / 2")).otherwise(0.0)),
            lit(0.0)).as("cold"),
          coalesce(sum(when(col("__df") > maxDf,
            expr("__df * (CAST(__df AS DOUBLE) - 1) / 2")).otherwise(0.0)),
            lit(0.0)).as("hot"))
          .head()
        (volRow.getDouble(0), volRow.getDouble(1))
      } catch { case e: Throwable => dfBySh.unpersist(); throw e }
      if (hotVol == 0.0) {
        // No hot shingles at all: the cap is a no-op, skip the
        // candidate/verify split entirely.
        dfBySh.unpersist()
        ngramJaccardOnePass(inverted, threshold)
      } else {
        val sizes = inverted.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
        val hot = inverted.join(dfBySh.where(col("__df") > maxDf), Seq("sh"))
          .select(col("doc_id"), col("sh"))
        val risky = hot.groupBy(col("doc_id")).agg(count(lit(1)).as("__h"))
          .join(sizes, "doc_id")
          .where(col("__h") * (lit(1.0) + lit(threshold)) >=
            lit(2.0) * lit(threshold) * col("n_sh") - lit(1e-6))
          .select(col("doc_id"))
        val riskyVol = try {
          hot.join(risky, Seq("doc_id"))
            .groupBy(col("sh")).agg(count(lit(1)).as("__r"))
            .join(dfBySh, Seq("sh"))
            .agg(coalesce(
              sum(col("__r") * col("__df").cast("double")), lit(0.0)))
            .head().getDouble(0)
        } catch { case e: Throwable => dfBySh.unpersist(); throw e }
        if (2.0 * (coldVol + riskyVol) >= coldVol + hotVol) {
          dfBySh.unpersist()
          ngramJaccardOnePass(inverted, threshold)
        } else {
          lastDirectCapped = true
          val cold = inverted.join(dfBySh.where(col("__df") <= maxDf), Seq("sh"))
            .select(col("doc_id"), col("sh"))
          val coldPairs = cold.as("a")
            .join(cold.as("b").hint("shuffle_hash"),
              col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          val hotPairs = hot.join(risky, Seq("doc_id"))
            .select(col("doc_id").as("r_id"), col("sh"))
            .join(hot.hint("shuffle_hash"), Seq("sh"))
            .where(col("r_id") =!= col("doc_id"))
            .select(least(col("r_id"), col("doc_id")).as("doc_a"),
              greatest(col("r_id"), col("doc_id")).as("doc_b"))
          CacheLease.releaseAfterAction(
            jaccardFromIndex(inverted, threshold,
              coldPairs.unionByName(hotPairs).distinct())) { () =>
            dfBySh.unpersist(); ()
          }
        }
      }
    }
  }

  /** The uncapped direct form: the co-occurrence count off the full
    * self-join IS the shared count — one pass, no separate verify.
    * Optimal when (nearly) every co-occurring pair must be scored
    * anyway. */
  private def ngramJaccardOnePass(inverted: DataFrame,
      threshold: Double): DataFrame = {
    val sizes = inverted.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    jaccardOfShared(
      inverted.as("a")
        .join(inverted.as("b").hint("shuffle_hash"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")),
      sizes, threshold)
  }

  /** Dedup survivor selection: per near-dup cluster keep the member
    * with the highest quality signal (ties to the LOWEST doc id) — the
    * curation step after clustering: "keep the best duplicate", not
    * the arbitrary min-id one. One equi-join + one partial-aggregated
    * groupBy (the struct-max combines map-side); no window sort of the
    * membership. */
  def dedupSurvivors(clusters: DataFrame, quality: DataFrame,
      qualityCol: String): DataFrame =
    clusters
      .join(quality.select(col("doc_id"), col(qualityCol).as("__q")), "doc_id")
      .groupBy(col("canonical_id"))
      .agg(
        count(lit(1)).as("n_members"),
        // Field-wise struct max: highest quality, then highest -doc_id
        // = lowest doc id — the deterministic max_by this engine uses
        // wherever ties could float (SURVEY determinism rule).
        max(struct(col("__q").as("q"), (-col("doc_id")).as("negid"))).as("__best"))
      .select(
        col("canonical_id"),
        (-col("__best.negid")).as("survivor_id"),
        col("__best.q").as("best_quality"),
        col("n_members"))

  /** Shingle-containment pairs: `C(a in b) = |sh(a) n sh(b)| / |sh(a)|`
    * (and symmetrically b in a), kept when either direction reaches the
    * threshold. The asymmetric complement to Jaccard: a short document
    * quoted or wrapped inside a much larger one scores near-zero
    * Jaccard (the union is dominated by the container) but containment
    * ~1 — the standard signal for partial-copy / boilerplate-wrapper
    * dedup in pretraining corpora. Same inverted-index equi-join shape
    * as [[ngramJaccardDirect]]: candidates from shared shingles only,
    * intersection counted relationally, one hash-partitioned self-join
    * — never an all-pairs comparison. Caller owns the index lifecycle. */
  def containmentPairs(index: ShingleIndex, threshold: Double): DataFrame = {
    val inverted = index.df
    val sizes = inverted.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    inverted.as("a")
      .join(inverted.as("b").hint("shuffle_hash"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_a", "n_sh" -> "n_a")), "doc_a")
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_b", "n_sh" -> "n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("n_shared").cast("double") / col("n_a"), 6).as("containment_a"),
        round(col("n_shared").cast("double") / col("n_b"), 6).as("containment_b"))
      .where(greatest(col("containment_a"), col("containment_b")) >= threshold)
  }

  /** Prefix mode: PPJoin candidate generation + exact verify. */
  def ngramJaccardPrefix(index: ShingleIndex, threshold: Double): DataFrame =
    jaccardFromIndex(index.df, threshold,
      candidates = prefixCandidates(index.df, threshold))

  /** EXACT n-gram Jaccard pairs >= threshold from a prebuilt index.
    * Caller owns the index lifecycle. Both modes are exact; the
    * measured crossover [[PrefixFilterFrom]] picks the cheaper plan
    * (direct intersection counting at low thresholds, PPJoin prefix
    * pruning at high ones). */
  def ngramJaccardPairs(index: ShingleIndex, threshold: Double): DataFrame =
    if (threshold >= PrefixFilterFrom) ngramJaccardPrefix(index, threshold)
    else ngramJaccardDirect(index, threshold)

  /** Convenience form: builds a 64-bit index inline, PERSISTED for
    * the call (released after the result's first action): below the
    * prefix crossover the direct-mode router runs two eager decision
    * aggregates over the index before the plan's own action — an
    * unpersisted inline index would pay the shingle explode + distinct
    * three times. For repeated or multi-operator use, build the index
    * once with [[buildIndex]], persist it, and pass it explicitly. */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val idx = buildIndex(docs, idCol, textCol, n, bits = 64)
    idx.df.persist()
    CacheLease.releaseAfterAction(ngramJaccardPairs(idx, threshold)) { () =>
      idx.df.unpersist(); ()
    }
  }

  /** MinHash+LSH near-dup pairs from a prebuilt 32-bit index, verified
    * with exact Jaccard. Caller owns the index lifecycle.
    *
    * numHashes/bands control recall: collision prob for similarity s is
    * 1-(1-s^rows)^bands. Defaults (32 hashes, 16 bands of 2) catch
    * s=0.8 with p ~= 0.9998.
    *
    * Signature construction is RELATIONAL, not array-lambda: the index
    * already holds one codegen'd 32-bit md5 hash per (doc, shingle);
    * groupBy(doc) computes `numHashes` partial-aggregated
    * `min((a_i*h+b_i) mod p)` columns — integer multiply-adds folded
    * into the aggregate, map-side combined so the shuffle carries one
    * signature row per doc, not the shingles. */
  /** MinHash signature frame: (doc_id, m0..m{numHashes-1}), one
    * partial-aggregated `min((a_i*h + b_i) mod p)` column per
    * permutation — the shuffle carries one signature row per doc.
    * Like the index itself, the caller owns the cache lifecycle:
    * persist before feeding multiple consumers (banding + both sides
    * of the estimate join), unpersist when done.
    *
    * With ~60-bit coefficients a*h is ~93 bits, so the multiply-mod
    * needs 128-bit intermediates — done by the native codegen'd
    * [[graft.functions.expr.MinhashPerm]] (Math.multiplyHigh +
    * Mersenne fold; exactly DuckDB's HUGEINT result at plain-long
    * cost). See `TextFunctions.MinhashPrime` for why narrower
    * coefficients silently break the whole estimator. */
  def minhashSignatures(index: ShingleIndex, numHashes: Int): DataFrame = {
    require(index.bits == 32,
      "MinHash needs the 32-bit md5 index (oracle-reproducible permutation input)")
    signatures(index.df, numHashes)
  }

  private def signatures(inverted: DataFrame, numHashes: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val minAggs = minhashCoefficients(numHashes).zipWithIndex.map {
      case ((a, b), i) =>
        min(ColumnBridge.column(graft.functions.expr.MinhashPerm(
          ColumnBridge.expression(col("sh")), a, b))).as(s"m$i")
    }
    inverted.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
  }

  /** LSH band-key columns for a signature frame (m0..m{n-1}). */
  private def bandKeyCols(numHashes: Int, bands: Int): Seq[Column] = {
    val rows = numHashes / bands
    require(bands * rows == numHashes, s"bands ($bands) must divide numHashes ($numHashes)")
    (0 until bands).map { bd =>
      concat(lit(s"$bd|"), md5(concat_ws(",",
        (0 until rows).map(r => col(s"m${bd * rows + r}")): _*)))
    }
  }

  /** Distinct candidate pairs from banding a signature frame: same
    * bucket in ANY band -> candidate. */
  private def bandCandidates(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val banded = sig
      .select(col("doc_id"),
        explode(array(bandKeyCols(numHashes, bands): _*)).as("bucket"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  def minhashLshPairs(index: ShingleIndex, threshold: Double,
      numHashes: Int, bands: Int): DataFrame = {
    require(index.bits == 32,
      "MinHash needs the 32-bit md5 index (oracle-reproducible permutation input)")
    val inverted = index.df
    val candidates = bandCandidates(signatures(inverted, numHashes), numHashes, bands)
    // Exact Jaccard verify, relationally: count shared hashes for the
    // candidate pairs only — no array columns.
    jaccardFromIndex(inverted, threshold, candidates)
  }

  /** LSH pairs from a prebuilt (ideally persisted) signature frame —
    * the shared-artifact form: when the caller also runs the estimate
    * verify or the streaming twin, the signature aggregate is computed
    * once and fed to every consumer instead of once per operator.
    * Candidates and verify are identical to
    * [[minhashLshPairs(index:graft\.operators\.ShingleIndex,threshold:Double,numHashes:Int,bands:Int)*]]. */
  def minhashLshPairs(index: ShingleIndex, sig: DataFrame, threshold: Double,
      numHashes: Int, bands: Int): DataFrame = {
    require(index.bits == 32,
      "MinHash needs the 32-bit md5 index (oracle-reproducible permutation input)")
    jaccardFromIndex(index.df, threshold, bandCandidates(sig, numHashes, bands))
  }

  /** MinHash near-dup with the SIGNATURE-ESTIMATE verify: Jaccard is
    * estimated as the agreeing fraction of the numHashes min-hash
    * columns (the textbook unbiased MinHash estimator, stderr
    * ~ 1/sqrt(numHashes)) instead of recounted exactly from the index.
    *
    * Why it exists: the exact verify fans every candidate pair out
    * over its full shingle set — the dominant cost on dup-dense
    * corpora (measured ~10x the signature work at the 10x stress).
    * This path touches only the two signature rows per candidate, so
    * verify cost is O(candidates), independent of document length.
    * Use when a ~1/sqrt(numHashes) estimate tolerance is acceptable;
    * [[minhashLshPairs]] when survivors must be exact. */
  /** MinHash near-dup from a prebuilt (ideally persisted) signature
    * frame, with the signature-agreement estimate as the verify.
    * Narrow bucket-only banding join for candidates, then two probes
    * of the signature frame — which is tiny (numHashes longs per doc)
    * and cached by the caller, so the probes are cheap. Two
    * alternative shapes measured worse at the 10x stress: recomputing
    * the signature aggregate per consumer (3x the dominant cost), and
    * riding all signature columns through the banding self-join (the
    * wide shuffle exceeded the exact verify it was meant to
    * undercut). */
  def minhashEstimatePairs(sig: DataFrame, minEstimate: Double,
      numHashes: Int, bands: Int): DataFrame = {
    val candidates = bandCandidates(sig, numHashes, bands)
    def renamed(p: String) = sig.select(
      (col("doc_id").as(s"${p}_id")) +:
        (0 until numHashes).map(i => col(s"m$i").as(s"${p}_m$i")): _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
      .reduce(_ + _)
    candidates
      .join(renamed("a"), col("doc_a") === col("a_id"))
      .join(renamed("b"), col("doc_b") === col("b_id"))
      .select(col("doc_a"), col("doc_b"),
        round(agree.cast("double") / numHashes, 6).as("est_jaccard"))
      .where(col("est_jaccard") >= minEstimate)
  }

  /** Convenience form: builds an unpersisted 32-bit index inline. For
    * repeated or multi-operator use, build the index once with
    * [[buildIndex]], persist it, and pass it explicitly. */
  def minhashLshPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      numHashes: Int = 32, bands: Int = 16): DataFrame =
    minhashLshPairs(buildIndex(docs, idCol, textCol, n, bits = 32),
      threshold, numHashes, bands)

  /** Rewrap a STORED index frame (doc_id, sh) — the reload half of the
    * weekly-cadence state contract: a pipeline that persists its index
    * as parquet reads it back without re-paying the shingle explode +
    * distinct that [[buildIndex]] costs. The caller asserts the frame
    * really came from a same-`bits` [[buildIndex]] run. */
  def indexFromFrame(df: DataFrame, bits: Int): ShingleIndex = {
    require(bits == 32 || bits == 64, s"bits must be 32 or 64, got $bits")
    new ShingleIndex(df.select(col("doc_id"), col("sh")), bits)
  }

  /** Banding rows (doc_id, band) of a signature frame — `bands` rows
    * per document, band = xxhash64 of the "i|md5(band i's minhash
    * row)" band key. Two deliberate storage choices: (1) the column is
    * named `band`, NOT `bucket` — that name is
    * [[graft.pipeline.StateLayout]]'s reserved layout column, and a
    * data column named like it would be clobbered at write
    * (StateLayout now rejects the collision); (2) the key is stored as
    * a 64-bit hash, not the hex string — equality is all the candidate
    * join needs, and the artifact shrinks to two longs per row. A
    * cross-key xxhash64 collision (~2^-64 per pair) can only ADD a
    * candidate pair; the exact-Jaccard verify then filters it UNLESS
    * the colliding pair really is above the threshold — i.e. the
    * hashed form can emit a true near-dup pair the string-keyed LSH
    * happened to miss. Equality with the string-keyed form therefore
    * holds up to 64-bit hash collisions, not absolutely (and the extra
    * pair, when it exists, is a correct near-dup).
    *
    * As a PERSISTED state artifact the weekly candidate join's history
    * side becomes pure IO — the corpus signatures are never re-BANDED
    * (16 md5s per history doc per week in the combined-scan form). The
    * bucketed layout additionally prunes the read in the
    * small-increment regime; see [[minhashLshPairsIncrementalPruned]]
    * for the honest bound. */
  def bandFrame(sig: DataFrame, numHashes: Int, bands: Int): DataFrame =
    sig.select(col("doc_id"),
      explode(array(bandKeyCols(numHashes, bands): _*)).as("__bk"))
      .select(col("doc_id"), xxhash64(col("__bk")).as("band"))

  /** [[minhashLshPairsIncremental]] with PRUNED state reads — the
    * dedup front's twin of the cadence-wide storage discipline
    * (VERDICT r09 item 1): instead of taking the COMBINED index and
    * signature frames (whose history side is a full corpus-state scan
    * every week), this form takes the batch's own index and banding
    * plus two read callbacks the caller backs with key-pruned state
    * scans:
    *
    *  - `oldBandsOf(bandProbe)` → history banding rows; only rows
    *    whose band key equals a PROBE key can join, so a read pruned
    *    to the probe's hash-buckets is exact for candidate generation.
    *  - `oldIndexOf(docProbe)` → history (doc_id, sh) rows; a doc's
    *    full shingle set lands in ONE slice and rides whole through a
    *    doc-keyed pruned read, so both the shared-shingle counts and
    *    the |A|,|B| size terms of the exact-Jaccard verify are
    *    unchanged under pruning.
    *
    * Output therefore equals [[minhashLshPairsIncremental]] over full
    * scans (IncrementalPrunedLshSpec pins frame equality). Candidates
    * persist internally — the doc-probe's bucket-set collect
    * materializes the cache, and the verify's consumers read it back.
    * The returned release hook unpersists them; call it in a `finally`
    * around the first eager consumer. Deliberately NOT a [[CacheLease]]:
    * the cadence's consumer ([[connectedComponentsIncremental]]) runs
    * its internal actions through `toRdd` bookkeeping (the
    * repo-wide discipline that avoids per-iteration AQE plan-string
    * rendering), which a QueryExecutionListener lease never observes —
    * tried, and the bench health counter reported every such lease as
    * reclaimed-not-fired (cache_leases_reclaimed 8 on the full
    * catalog), exactly the failure mode the counter exists to catch.
    *
    * THE HONEST IO BOUND (measured, ScaleStress lsh-state row): with
    * uniformly-hashed keys the pruned read touches ~min(B, |distinct
    * probe keys|) of B buckets per slice, so the read fraction is
    * ~min(1, keys/B). A trickle increment or serving probe (keys << B)
    * reads a sliver of the state; a BIG weekly batch (a 16-band batch
    * of d docs probes ~16d band keys) saturates every bucket and the
    * read honestly degrades to the same full scan the combined form
    * pays — never more bytes, and still minus the weekly corpus
    * re-banding compute that [[bandFrame]] persisted away. Equality
    * holds in every regime; only the IO savings are regime-dependent. */
  def minhashLshPairsIncrementalPruned(newIndex: ShingleIndex,
      newBands: DataFrame,
      oldBandsOf: DataFrame => DataFrame,
      oldIndexOf: DataFrame => DataFrame,
      threshold: Double): (DataFrame, () => Unit) = {
    require(newIndex.bits == 32,
      "MinHash needs the 32-bit md5 index (oracle-reproducible permutation input)")
    val banded = oldBandsOf(newBands.select(col("band")))
      .unionByName(newBands)
    val candidates = newBands.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
      .persist()
    // Only the OLD side of each pair probes the index prune: new-batch
    // ids have no rows in the history slices, and in the trickle
    // regime their ride-along buckets would roughly double the pruned
    // bytes for nothing (review finding). The anti-join is
    // candidate-scale.
    val ids = candidates.select(col("doc_a").as("doc_id"))
      .unionByName(candidates.select(col("doc_b").as("doc_id")))
      .join(newIndex.df.select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    val idx = oldIndexOf(ids).unionByName(newIndex.df)
    (jaccardFromIndex(idx, threshold, candidates),
      () => { candidates.unpersist(); () })
  }

  /** LSH near-dup pairs RESTRICTED to pairs touching a new-batch doc —
    * the weekly-cadence complement of [[connectedComponentsIncremental]]:
    * old-old pairs were found by previous runs, so candidates come from
    * joining only the NEW docs' band keys against the combined banding
    * (new-old and new-new buckets; never the old-old quadrant). With
    * stored signatures the old side is one cheap scan of numHashes
    * longs per doc — the corpus-scale shingle/signature work is paid
    * only for the batch. Verify is the same exact-Jaccard count against
    * the combined index, touching only new-candidate shingle sets.
    * Where the history index/signatures live as bucketed state slices,
    * prefer [[minhashLshPairsIncrementalPruned]] — identical output
    * without the full history scans. */
  def minhashLshPairsIncremental(combinedIndex: ShingleIndex,
      combinedSig: DataFrame, newIds: DataFrame, threshold: Double,
      numHashes: Int, bands: Int): DataFrame = {
    require(combinedIndex.bits == 32,
      "MinHash needs the 32-bit md5 index (oracle-reproducible permutation input)")
    val banded = combinedSig.select(col("doc_id"),
      explode(array(bandKeyCols(numHashes, bands): _*)).as("bucket"))
    val newBanded = banded
      .join(newIds.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val candidates = newBanded.as("a")
      .join(banded.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    jaccardFromIndex(combinedIndex.df, threshold, candidates)
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming (< 8).
    *
    * Candidates via the pigeonhole byte-band trick: split the 32-bit
    * sketch into 4 bytes; any pair within hamming 3 agrees on >= 1 whole
    * byte, so joining on (byte_index, byte_value) is exhaustive for
    * maxHamming <= 3 and never compares sketches across buckets. */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "byte-band candidate generation is exhaustive only for hamming <= 3")
    // Relational sketch construction (same pattern as the MinHash
    // signature): explode tokens -> one codegen'd md5 hash per token ->
    // groupBy(doc) with 32 static per-bit vote sums -> sketch assembled
    // in a plain projection. No array columns, no interpreted lambdas,
    // no cache barriers; the shuffle carries 32 longs per document with
    // map-side combine. (Zero-token documents drop out of the groupBy —
    // the synthetic corpus has none.)
    val hashed = docs.select(
      col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), tokenHash32(col("tok")).as("h"))
    val votes = (0 until 32).map { b =>
      sum((shiftright(col("h"), b) % 2) * 2 - 1).as(s"v$b")
    }
    val sketches = hashed.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
    val bandedBytes = sketches.select(
      col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        concat(lit(s"$b|"),
          (shiftright(col("simhash"), 8 * b) % 256).cast("string"))): _*))
        .as("byte_band"))
    bandedBytes.as("a")
      .join(bandedBytes.as("b"),
        col("a.byte_band") === col("b.byte_band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming32(col("a.simhash"), col("b.simhash")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Substring-level exact dedup: maximal spans of >= k consecutive
    * tokens that recur in at least `minDf` DISTINCT documents — the
    * Spark-shaped approximation of suffix-array training-data dedup
    * (public technique: Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"; the suffix automaton is replaced by
    * positional k-token windows + run merging, which finds every
    * repeated substring of length >= k at window granularity). The
    * document-level shingle operators cannot express this: a boilerplate
    * header shared by thousands of otherwise-distinct pages never lifts
    * whole-document Jaccard above threshold, but is exactly what
    * substring dedup strips.
    *
    * Shape: posexplode of the all-positions k-gram kernel -> 64-bit
    * window hash (collision odds ~n^2/2^65 — immaterial beside the
    * false-boundary granularity of windowing itself) -> distinct
    * (doc, hash) -> per-hash distinct-doc count (one shuffle) ->
    * equi-join positions against the repeated-hash set (AQE decides
    * broadcast) -> per-doc run merge (pos - row_number window — the
    * partition is one document, bounded by its token count). Work
    * tracks repeated-window count, never corpus^2; intra-document
    * repetition is q43's signal, not this one's (df counts DISTINCT
    * docs).
    *
    * Output: (doc_id, start_pos, end_pos, span_tokens) — token offsets
    * of each maximal repeated span, span_tokens = end - start + k. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minDf: Int = 2): DataFrame = {
    // The positional gram frame (compact (long,long,long) rows) is
    // read twice by the plan (df count + the position join) — persist
    // it for the caller's action, released by the lease after it.
    // Callers running several actions over the result should persist
    // the RESULT themselves.
    val grams = gramFrame(docs, idCol, textCol, k).persist()
    CacheLease.releaseAfterAction(
      spansFromGrams(grams, k, minDf))(() => { grams.unpersist(); () })
  }

  /** The act half of substring dedup (Lee et al. 2022 removes the
    * repeats it finds): every document's token stream with the
    * [[repeatedSpans]] ranges cut out, rejoined on single spaces.
    * All documents appear in the output (unaffected ones pass through
    * with n_removed = 0); `clean_text` is the space-joined surviving
    * token stream — the canonical whitespace form downstream operators
    * tokenize identically.
    *
    * Shape: token stream with positions (posexplode — corpus-token
    * scale), left-anti range join against the span frame (equi on
    * doc_id; spans are few, AQE broadcasts), one per-doc aggregate
    * (sort_array of (pos, token) structs) to reassemble. Work tracks
    * corpus tokens + repeated-span hits, never corpus^2. */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minDf: Int = 2): DataFrame = {
    val (out, release) = removeRepeatedSpansScoped(docs, idCol, textCol, k, minDf)
    CacheLease.releaseAfterAction(out)(release)
  }

  /** [[removeRepeatedSpans]] with CALLER-scoped cache release instead
    * of the action lease (VERDICT r07 item 7): a pipeline that acts on
    * the result inside its own body fires `release` synchronously
    * right after that first action, so no lease is left riding the
    * async listener at harness rep boundaries. */
  def removeRepeatedSpansScoped(docs: DataFrame, idCol: String,
      textCol: String, k: Int, minDf: Int = 2): (DataFrame, () => Unit) = {
    // One persisted gram frame serves the span chain's two reads (the
    // remover itself re-reads only the cheap span RESULT, not grams).
    val grams = gramFrame(docs, idCol, textCol, k).persist()
    (removeSpansBody(docs, idCol, textCol, spansFromGrams(grams, k, minDf), k),
      () => { grams.unpersist(); () })
  }

  /** LINE-granular cross-document dedup (public technique: RefinedWeb,
    * Penedo et al. 2023; CCNet/MassiveText remove nav bars, cookie
    * banners and footers the same way): every non-blank line occurring
    * in >= `minDf` DISTINCT documents is boilerplate and is cut from
    * EVERY document containing it; surviving lines rejoin in order.
    * The granularity between whole-document exact dedup ([[exact]])
    * and token-window span removal ([[removeRepeatedSpans]]): a nav
    * bar is one line repeated across thousands of pages — too short to
    * lift document Jaccard, and line-exact, so the line key join is
    * cheaper than positional gram runs. Blank lines are document
    * structure, not content — never counted toward df, never removed.
    *
    * Shape: `split` + posexplode (map tier) -> 64-bit line hash (df
    * counted on hashes, the [[gramFrame]] collision stance; the oracle
    * counts the line strings) -> distinct (doc, h) -> per-hash
    * distinct-doc count (one shuffle) -> left-anti equi-join of
    * positions vs the repeated key set (boilerplate keys are few, AQE
    * broadcasts) -> per-doc ordered reassembly. Work tracks corpus
    * lines, never corpus². All documents appear in the output
    * (untouched ones with n_removed = 0, fully-boilerplate ones with
    * clean_text = ''). Lines split on LF exactly (the oracle's
    * string_split rule); CRLF input keeps its CRs inside the line
    * bytes — normalize upstream if a corpus carries them.
    * Output: (doc_id, clean_text, n_removed). */
  def removeRepeatedLines(docs: DataFrame, idCol: String, textCol: String,
      minDf: Int = 2): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
    // The line frame is read twice (df count + the position anti-join);
    // persist for the caller's action, released by the lease after it.
    val lines = lineFrame(base).persist()
    val repeated = lines.where(col("line") =!= "")
      .select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .select(col("h"))
    CacheLease.releaseAfterAction(
      removeLinesBody(base, lines, repeated))(() => { lines.unpersist(); () })
  }

  /** Positional line frame (doc_id, pos, line, h) off the base
    * (doc_id, __text) projection — `split` keeps trailing empties
    * (limit -1), matching the oracle's string_split. */
  private def lineFrame(base: DataFrame): DataFrame =
    base
      .select(col("doc_id"),
        posexplode(split(col("__text"), "\n", -1)).as(Seq("pos", "line")))
      .select(col("doc_id"), col("pos"), col("line"),
        xxhash64(col("line")).as("h"))

  /** The act half shared by batch and incremental line dedup: cut
    * every position whose line hash is in `repeatedKeys`, reassemble
    * in order, keep fully-emptied documents present. */
  private def removeLinesBody(base: DataFrame, lines: DataFrame,
      repeatedKeys: DataFrame): DataFrame = {
    val kept = lines
      .join(repeatedKeys, Seq("h"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("line")))).as("ordered"),
        count(lit(1)).as("n_kept"))
    base
      .select(col("doc_id"),
        size(split(col("__text"), "\n", -1)).cast("long").as("__n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(array_join(col("ordered.line"), "\n"), lit("")).as("clean_text"),
        (col("__n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** One batch's line-df state slice: per 64-bit line hash, the number
    * of DISTINCT batch documents containing it (blank lines excluded —
    * structure, not content). Line-vocabulary scale, written once per
    * batch — the [[spanGramCounts]] discipline at line granularity:
    * doc ids are disjoint across batches, so distinct-doc counts ADD
    * and the summed lineage equals the from-scratch df over the
    * composed corpus, exactly. */
  def lineCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    lineFrame(docs.select(col(idCol).as("doc_id"), col(textCol).as("__text")))
      .where(col("line") =!= "")
      .select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))

  /** Incremental [[removeRepeatedLines]] — the weekly cadence
    * ([[removeRepeatedSpansIncremental]]'s append-only contract at
    * line granularity): clean ONLY `newDocs`, with line df composed
    * from the batch plus `historyCounts` (the unioned [[lineCounts]]
    * slices along the state lineage; duplicate `h` rows across slices
    * sum here, so callers pass the raw union). A batch is cleaned
    * against the df AS OF ITS INGEST; landed text never rewrites.
    * Cross-batch boilerplate IS caught — a nav bar seen once in
    * history and again in the batch reaches df 2 and is cut from the
    * batch document. Batch-scale work: history counts are FILTERED to
    * the batch's line keys by one equi-join before summing.
    *
    * Returns (cleaned batch frame, this batch's counts slice, release
    * hook); the caller fires the release after its first action over
    * BOTH returned frames (they share the persisted line frame). */
  def removeRepeatedLinesIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, minDf: Int,
      historyCounts: DataFrame): (DataFrame, DataFrame, () => Unit) =
    removeRepeatedLinesIncrementalBy(newDocs, idCol, textCol, minDf,
      _ => historyCounts)

  /** [[removeRepeatedLinesIncremental]] with the history supplied as a
    * FUNCTION of this batch's counts slice — the key-pushdown form
    * (VERDICT r09 item 1): the caller derives a bucket-pruned state
    * read from the batch's line keys
    * ([[graft.pipeline.StateLayout.readSlicesPruned]]) instead of
    * scanning the whole composed line-df state, and the batch keys are
    * computed ONCE on the shared persisted line frame. Exact: history
    * rows are only consulted through the `h` equi-join below, and a
    * history row matching a batch key is always inside a hit bucket. */
  def removeRepeatedLinesIncrementalBy(newDocs: DataFrame, idCol: String,
      textCol: String, minDf: Int,
      historyOf: DataFrame => DataFrame): (DataFrame, DataFrame, () => Unit) = {
    val base = newDocs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
    val lines = lineFrame(base).persist()
    val batchCounts = lines.where(col("line") =!= "")
      .select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
    val histMatched = historyOf(batchCounts)
      .join(batchCounts.select(col("h")), Seq("h"))
      .groupBy(col("h")).agg(sum(col("n_docs")).as("h_docs"))
    val repeated = batchCounts
      .join(histMatched, Seq("h"), "left")
      .where(col("n_docs") + coalesce(col("h_docs"), lit(0L)) >= minDf)
      .select(col("h"))
    (removeLinesBody(base, lines, repeated), batchCounts,
      () => { lines.unpersist(); () })
  }

  /** Sequence-level benchmark decontamination — the STRIP alternative
    * to [[contaminated]]'s drop decision (the PaLM-style hygiene pass:
    * cut the overlapping sequence, keep the document): every corpus
    * token covered by a word k-gram that appears anywhere in the
    * benchmark set is removed, contiguous hits merged into maximal
    * spans first. Same candidate shape as [[contaminated]] (benchmark
    * hashes collapse to a distinct set and broadcast), same removal
    * shape as [[removeRepeatedSpans]]; all corpus docs appear in the
    * output (n_removed = 0 when untouched). */
  def removeContaminatedSpans(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, k: Int): DataFrame = {
    val grams = gramFrame(corpus, idCol, textCol, k).persist()
    val bench = gramFrame(benchmark, idCol, textCol, k)
      .select(col("h")).distinct()
    val spans = spanRuns(
      grams.join(bench, "h").select(col("doc_id"), col("pos")), k)
    removeSpansImpl(corpus, idCol, textCol, spans,
      k, () => { grams.unpersist(); () })
  }

  /** Shared removal body: cut `spans` (start_pos/end_pos in k-gram
    * positions) out of every document's token stream. */
  private def removeSpansImpl(docs: DataFrame, idCol: String, textCol: String,
      spanFrame: DataFrame, k: Int, release: () => Unit): DataFrame =
    CacheLease.releaseAfterAction(
      removeSpansBody(docs, idCol, textCol, spanFrame, k))(release)

  private def removeSpansBody(docs: DataFrame, idCol: String, textCol: String,
      spanFrame: DataFrame, k: Int): DataFrame = {
    val spans = spanFrame
      .select(col("doc_id").as("__sd"), col("start_pos"),
        (col("end_pos") + lit(k.toLong) - lit(1L)).as("last_tok"))
    val base = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        col("toks"))
    val kept = base
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
      .join(spans,
        col("doc_id") === col("__sd") &&
          col("pos") >= col("start_pos") && col("pos") <= col("last_tok"),
        "left_anti")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("tok")))).as("ordered"),
        count(lit(1)).as("n_kept"))
    // Left join keeps fully-removed documents in the output
    // (clean_text = '', n_removed = every token).
    base.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(array_join(col("ordered.tok"), " "), lit("")).as("clean_text"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Cross-source overlap matrix (the datasheet number for "how much
    * of source B is already in source A"): for every ordered source
    * pair, the count of distinct content keys present in BOTH, plus
    * each side's distinct-key total and the resulting key-set Jaccard.
    *
    * `shingleK` picks the key granularity: 0 = whole-document
    * normalized content hash (exact cross-source duplication); k > 0 =
    * k-token shingles (vocabulary/phrase overlap — the diversity and
    * soft-contamination diagnostic that stays informative when no
    * exact cross-source copies exist). Shingle keys are xxhash64
    * (the q66/[[gramFrame]] stance: collision odds ~distinct²/2^65,
    * immaterial); the oracle counts the gram strings themselves.
    *
    * The join is an equi-join on the key — per-key fanout is bounded
    * by the source count, never corpus^2 — and the per-source totals
    * frame is |sources| rows (AQE broadcasts it). Output rows exist
    * only for pairs that share at least one key (identical in both
    * engines). */
  def crossSourceOverlap(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, shingleK: Int = 0): DataFrame = {
    // Spread a small one-file scan before the hash/shingle map tier
    // (guide §2.5; one lazy action, distinct-count aggregates —
    // order-independent).
    val spread = Spread.toCores(docs)
    val keyed =
      if (shingleK <= 0)
        spread.select(contentHash(col(textCol)).as("k"), col(groupCol).as("src"))
      else
        spread
          .select(col(groupCol).as("src"), tokens(col(textCol)).as("toks"))
          .where(size(col("toks")) >= shingleK)
          .select(col("src"),
            explode(wordNgramsNative(col("toks"), shingleK)).as("gram"))
          .select(xxhash64(col("gram")).as("k"), col("src"))
    val sk = keyed.distinct()
    val tot = sk.groupBy(col("src")).agg(count(lit(1)).as("n"))
    sk.as("a")
      .join(sk.as("b"),
        col("a.k") === col("b.k") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(tot.select(col("src").as("source_a"), col("n").as("n_a")), "source_a")
      .join(tot.select(col("src").as("source_b"), col("n").as("n_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6)
          .as("hash_jaccard"))
  }

  /** Soft deduplication — duplicate-aware SAMPLING instead of hard
    * removal (the alternative the data-diet literature studies: D4,
    * Tirumala et al. 2023; "soft dedup" in CCNet-descendant
    * pipelines): every document survives with probability
    * 1/cluster_size, so each content group contributes ONE expected
    * copy while which copy (and occasionally more than one) stays
    * stochastic — preserving intra-cluster variation that a hard
    * survivor pick destroys.
    *
    * The draw is INTEGER-EXACT, no floating point anywhere: u =
    * md5-13-hex(id) in [0, 2^52), kept iff u <= floor((2^52 - 1) / n)
    * — exactly u < 1/n in 52-bit fixed point, reproducible in any
    * engine. Singletons are always kept (the bound is the max draw).
    *
    * `clusters` is the (doc_id, canonical_id) frame of
    * [[connectedComponents]]; unclustered docs default to their own
    * group. One join to the clusters frame + one group-size rollup —
    * no text is touched. */
  def softDedup(docs: DataFrame, clusters: DataFrame,
      idCol: String): DataFrame = {
    val grouped = docs.select(col(idCol).as("doc_id"))
      .join(clusters.select(col("doc_id"), col("canonical_id")),
        Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("canonical_id"), col("doc_id")))
      .drop("canonical_id")
    val sizes = grouped.groupBy(col("group_id"))
      .agg(count(lit(1)).as("cluster_size"))
    grouped.join(sizes, "group_id")
      .withColumn("draw",
        conv(substring(md5(concat(lit("soft-"), col("doc_id").cast("string"))),
          1, 13), 16, 10).cast("long"))
      .select(col("doc_id"), col("group_id"), col("cluster_size"),
        (col("draw") <= expr("4503599627370495 div cluster_size"))
          .cast("int").as("kept"))
  }

  /** Winnowing document fingerprints (public technique: Schleimer,
    * Wilkerson & Aiken 2003, "Winnowing: local algorithms for document
    * fingerprinting" — the MOSS algorithm): positional `k`-token-gram
    * hashes; every window of `w` consecutive hashes contributes its
    * MINIMUM (rightmost among equals — the paper's tie rule); the
    * distinct selected (pos, hash) set is the document's fingerprint.
    * Guarantees: any shared run of >= w+k-1 tokens shares at least one
    * fingerprint; expected density 2/(w+1) — the sampled alternative
    * to q66's exhaustive window table when the span index must stay
    * small at 100 TB.
    *
    * Output: per-doc fingerprint census — (doc_id, n_fps, n_shared)
    * where n_shared counts this doc's fingerprint values that appear
    * in at least one other document (the plagiarism/overlap signal).
    * Docs with fewer than w full windows have no fingerprint and drop.
    *
    * Shape: one gram pass, one doc-partitioned sliding window (the
    * rightmost-min rides ONE struct-min over (h, -pos) — no per-window
    * subsort), hash-keyed rollups. The gram hash is the md5-13-hex
    * draw so the oracle replays the exact selection. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    // "__ent_doc_id": the sliding fingerprint window is bounded by one
    // document's grams — marker-sanctioned (VERDICT r09 item 2).
    val g = docs
      .select(col(idCol).as("__ent_doc_id"), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= k)
      .select(col("__ent_doc_id"),
        posexplode(wordNgramsNative(col("toks"), k)).as(Seq("pos", "gram")))
      .select(col("__ent_doc_id"), col("pos").cast("long").as("pos"),
        conv(substring(md5(col("gram")), 1, 13), 16, 10).cast("long").as("h"))
    val win = Window.partitionBy(col("__ent_doc_id")).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    // The selected-fingerprint frame feeds BOTH rollups (per-doc
    // census + the fp-keyed shared side) — persisted compact (three
    // longs/row at 2/(w+1) gram density) under an action-scoped
    // lease, or the whole gram+window chain runs twice.
    val sel = g
      .withColumn("wn", count(lit(1)).over(win))
      .withColumn("m", min(struct(col("h"), (-col("pos")).as("np"))).over(win))
      .where(col("wn") === w)
      .select(col("__ent_doc_id").as("doc_id"), (-col("m.np")).as("pos"),
        col("m.h").as("fp"))
      .distinct()
      .persist()
    val docFps = sel.select(col("doc_id"), col("fp")).distinct()
    val shared = docFps.groupBy(col("fp")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2)
    CacheLease.releaseAfterAction(
      sel.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
        .join(docFps.join(shared.select(col("fp")), "fp")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_fps"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"))
    )(() => { sel.unpersist(); () })
  }

  /** Dataset snapshot diff (dataset-versioning changelog — the data
    * diff DVC / HuggingFace dataset releases ship): classify every id
    * across two corpus snapshots as added / removed / changed /
    * unchanged by NORMALIZED content hash ([[contentHash]] — a
    * whitespace-only edit is not a change), rolled up per group with
    * document counts and the net token delta.
    *
    * Scale shape: each side is one map pass (hash + token count per
    * row — no text leaves the scan), the full-outer join is the only
    * shuffle (on the id key), and the rollup output is
    * |groups| x 4 rows. At 100 TB this is the cheapest honest answer
    * to "what changed between crawls" — no pair joins, no text
    * comparison, just id-aligned hashes. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, idCol: String,
      textCol: String, groupCol: String): DataFrame = {
    def side(df: DataFrame, p: String) = df.select(
      col(idCol).as("doc_id"),
      col(groupCol).as(s"${p}_src"),
      contentHash(col(textCol)).as(s"${p}_h"),
      size(tokens(col(textCol))).cast("long").as(s"${p}_nt"))
    side(oldSnap, "o")
      .join(side(newSnap, "n"), Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("n_src"), col("o_src")).as("source"),
        when(col("o_h").isNull, lit("added"))
          .when(col("n_h").isNull, lit("removed"))
          .when(col("o_h") =!= col("n_h"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        (coalesce(col("n_nt"), lit(0L)) - coalesce(col("o_nt"), lit(0L)))
          .as("dt"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dt")).as("token_delta"))
  }

  /** Content-defined chunk inventory (the FastCDC/LBFS idea lifted to
    * token streams — public technique: Muthitacharoen et al. 2001,
    * "A Low-Bandwidth Network File System"): chunk boundaries fall
    * AFTER any `w`-token window whose portable hash is ≡ 0 mod
    * `modulus`, so boundaries are content-anchored — an insertion
    * early in a document shifts every fixed-window frame but only
    * LOCAL chunk boundaries, which is why storage dedup uses CDC
    * instead of fixed blocks. Expected chunk length ~`modulus`
    * windows. The boundary hash is the md5-13-hex draw (not
    * xxhash64) so the DuckDB oracle replays the exact cut set.
    *
    * Output: one row per duplicated chunk content (md5 of the space-
    * joined chunk, its token length, distinct-document count, total
    * occurrences) — the chunk-level dup mass a storage/transfer layer
    * would actually deduplicate. Work: one token explode + one window
    * per document partition + two hash-keyed aggregations; never
    * corpus^2. */
  def cdcChunkDups(docs: DataFrame, idCol: String, textCol: String,
      w: Int, modulus: Int): DataFrame =
    cdcChunks(docs, idCol, textCol, w, modulus)
      .groupBy(col("chunk_hash"))
      .agg(min(col("chunk_tokens")).as("chunk_tokens"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .where(col("n_docs") >= 2)
      .select(col("chunk_hash"), col("chunk_tokens"), col("n_docs"),
        col("n_occurrences"))

  /** The per-document CDC chunk inventory behind [[cdcChunkDups]]:
    * (doc_id, chunk_hash, chunk_tokens), one row per chunk occurrence
    * — the unit of storage/transfer dedup, exposed so cross-snapshot
    * reuse analysis (the q136 entry) can compare inventories instead
    * of re-deriving cut sets. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      w: Int, modulus: Int): DataFrame = {
    require(w >= 1 && modulus >= 1, "window and modulus must be positive")
    val base = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= 1)
    val toksPos = base
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    // Cut set: window positions whose md5 draw hits the modulus; the
    // cut lands after the window's LAST token (p + w - 1).
    val cuts = base
      .where(size(col("toks")) >= w)
      .select(col("doc_id"),
        posexplode(wordNgramsNative(col("toks"), w)).as(Seq("p", "gram")))
      .where(pmod(conv(substring(md5(col("gram")), 1, 13), 16, 10)
        .cast("long"), lit(modulus)) === 0)
      .select(col("doc_id"),
        (col("p").cast("long") + lit(w.toLong) - 1L).as("cut_end"))
    val flagged = toksPos
      .join(cuts.withColumnRenamed("cut_end", "pos")
        .withColumn("is_cut", lit(1L)), Seq("doc_id", "pos"), "left")
      .withColumn("is_cut", coalesce(col("is_cut"), lit(0L)))
      // "__ent_doc_id": the chunk-id running sum is bounded by one
      // document's tokens — marker-sanctioned (VERDICT r09 item 2).
      .withColumnRenamed("doc_id", "__ent_doc_id")
    val chunkW = Window.partitionBy(col("__ent_doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    flagged
      .withColumn("chunk_id", coalesce(sum(col("is_cut")).over(chunkW), lit(0L)))
      .groupBy(col("__ent_doc_id"), col("chunk_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("tok")))).as("ordered"))
      .select(col("__ent_doc_id").as("doc_id"),
        md5(array_join(col("ordered.tok"), " ")).as("chunk_hash"),
        size(col("ordered")).cast("int").as("chunk_tokens"))
  }

  /** Positional k-gram frame: (doc_id, pos, 64-bit window hash). */
  private def gramFrame(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= k) // the short-doc whole-seq gram is not a k-window
      .select(col("doc_id"),
        posexplode(wordNgramsNative(col("toks"), k)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        xxhash64(col("gram")).as("h"))

  /** Incremental exact dedup against corpus HISTORY, gated by a
    * broadcast Bloom filter (the Dolma/CCNet-scale ingest shape): the
    * documents of a new batch that do NOT already exist in the
    * historical corpus, where "exists" is [[contentHash]] equality.
    *
    * Why not a plain anti-join? At 100 TB the history key set is
    * billions of rows — an anti-join shuffles ALL of it for every
    * incremental batch. The Bloom sketch (~1.44·log2(1/fpp) bits/key;
    * ~1.2 GB per 10^9 keys at 1% fpp) ships to executors as ONE
    * reference object, and `bloom_might_contain` splits the batch on a
    * pure map-tier predicate:
    *
    *  - bloom-NEGATIVE rows are definitely new (no false negatives) —
    *    they bypass the join entirely. For a mostly-novel batch this
    *    is the vast mass of the data.
    *  - bloom-POSITIVE rows (true duplicates + an fpp sliver of new
    *    rows) pay the exact confirm: a left_anti join against the
    *    distinct history hashes. Only this sliver shuffles.
    *
    * The result is EXACT — the Bloom filter only routes; every
    * positive is confirmed — so the operator equals the plain
    * anti-join (spec-pinned), and the DuckDB oracle is NOT EXISTS.
    * (Pipelines that tolerate losing an fpp fraction of new docs, as
    * Dolma's Bloom dedup does, can skip the confirm join; this
    * catalog keeps determinism.) Null text never matches anything
    * (anti-join null semantics == NOT EXISTS) and is kept.
    *
    * Driver state: the Bloom bit array only (built by one
    * `stat.bloomFilter` aggregate over the distinct history hashes,
    * which are persisted for the build action + confirm join and
    * lease-released after the caller's action). */
  def bloomGatedNew(history: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, fpp: Double = 0.01): DataFrame = {
    val histKeys = history
      .select(contentHash(col(textCol)).as("content_hash"))
      .distinct()
      .persist()
    val nHist = histKeys.count() // materializes the persist
    val hashed = batch
      .select(col(idCol).as("doc_id"), contentHash(col(textCol)).as("content_hash"))
    CacheLease.releaseAfterAction(
      bloomGatedNewByKeys(histKeys, hashed, "content_hash", nHist, fpp)) { () =>
      histKeys.unpersist(); ()
    }
  }

  /** Keys-level core of [[bloomGatedNew]] — the form the weekly
    * curation cadence uses, where history hashes are a COMPACT state
    * artifact (`hash_batch` slices, 16 bytes/doc) instead of re-hashed
    * corpus text. `histKeys` must hold the distinct history hashes in
    * column `hashCol` and be persisted by the caller (it feeds the
    * bloom build and the confirm join); `nHist` its materialized
    * count. Returns the rows of `batch` (all columns kept) whose
    * `hashCol` is not in `histKeys` — bloom-negatives bypass the join,
    * positives are exactly confirmed. */
  def bloomGatedNewByKeys(histKeys: DataFrame, batch: DataFrame,
      hashCol: String, nHist: Long, fpp: Double = 0.01): DataFrame = {
    import graft.functions.SketchFunctions.bloomMightContain
    import graft.functions.expr.BloomRef

    // stat.bloomFilter NPEs on zero rows (its BloomFilterAggregate
    // yields null) — an empty history means an empty filter.
    val bloom = new BloomRef(
      if (nHist == 0L) org.apache.spark.util.sketch.BloomFilter.create(1L, fpp)
      else histKeys.select(xxhash64(col(hashCol)).as("h64"))
        .stat.bloomFilter("h64", nHist, fpp))

    // A using-column join moves the join column first in its output —
    // re-select the batch's column order on both branches so the
    // union stays positional-safe.
    val cols = batch.columns.map(col(_))
    val probed = batch.withColumn("__might",
      bloomMightContain(bloom, xxhash64(col(hashCol))))
    probed.where(!col("__might")).select(cols: _*)
      .unionAll(probed.where(col("__might"))
        .join(histKeys.select(col(hashCol)), Seq(hashCol), "left_anti")
        .select(cols: _*))
  }

  /** Merge flagged (doc_id, pos) k-gram positions into maximal runs —
    * the islands step shared by repeated-span dedup and benchmark span
    * decontamination. */
  private def spanRuns(positions: DataFrame, k: Int): DataFrame = {
    // "__ent_doc_id": the islands window is bounded by one document's
    // flagged positions — marker-sanctioned (VERDICT r09 item 2).
    val w = Window.partitionBy(col("__ent_doc_id")).orderBy(col("pos"))
    positions
      .withColumnRenamed("doc_id", "__ent_doc_id")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("__ent_doc_id"), col("grp"))
      .agg(min(col("pos")).as("start_pos"), max(col("pos")).as("end_pos"))
      .select(col("__ent_doc_id").as("doc_id"), col("start_pos"),
        col("end_pos"),
        (col("end_pos") - col("start_pos") + lit(k.toLong)).as("span_tokens"))
  }

  /** Maximal repeated spans from a (ideally persisted) gram frame. */
  private def spansFromGrams(grams: DataFrame, k: Int, minDf: Int): DataFrame = {
    val repeated = grams.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .select(col("h"))
    spanRuns(grams.join(repeated, "h").select(col("doc_id"), col("pos")), k)
  }

  // -----------------------------------------------------------------
  // Incremental span-removal cadence (the gap CurationRun's scaladoc
  // carried as documented future work): per-gram document frequency is
  // corpus-scale state. The state artifact is one (h, n_docs) slice
  // per batch — distinct-DOC counts of each 64-bit k-gram hash within
  // the batch. Doc ids are disjoint across batches, so distinct-doc
  // counts ADD along the lineage: composed df == the from-scratch df
  // over the composed raw corpus, exactly.
  //
  // Cadence semantics (the append-only contract): a batch is cleaned
  // against the df AS OF ITS INGEST (history + itself); already-landed
  // batches are never re-cleaned when a later batch pushes a gram over
  // minDf (rewriting landed text would invalidate every downstream
  // artifact built on it — and data already trained on cannot be
  // retracted anyway). The equality pin is therefore per batch: a
  // batch's cleaned text == removeRepeatedSpans over (history ∪ batch)
  // restricted to the batch's docs (df is computed on RAW text on both
  // sides), spec-pinned. Cross-batch boilerplate IS caught — a span
  // seen once in history and again in the batch reaches df 2 and is
  // cut from the batch doc.
  // -----------------------------------------------------------------

  /** One batch's span-df state slice: per k-gram hash, the number of
    * DISTINCT batch documents containing it. Gram-vocabulary-scale
    * (like the LSH index slices), written once per batch. */
  def spanGramCounts(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    gramFrame(docs, idCol, textCol, k).select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))

  /** Incremental [[removeRepeatedSpans]]: clean ONLY `newDocs`, with
    * gram df composed from the batch plus `historyCounts` (the unioned
    * [[spanGramCounts]] slices along the state lineage; duplicate `h`
    * rows across slices are summed here, so callers pass the raw
    * union). Batch-scale work: history counts are FILTERED to the
    * batch's gram keys by one hash equi-join before summing (a gram
    * absent from the batch can't cut anything from it), the
    * `minhashLshPairsIncremental` candidate-join shape — per-increment
    * cost tracks the batch, never the corpus.
    *
    * Returns (cleaned batch frame, this batch's counts slice, release
    * hook); the caller fires the release after its first action over
    * BOTH returned frames (they share the persisted gram frame). */
  def removeRepeatedSpansIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, k: Int, minDf: Int,
      historyCounts: DataFrame): (DataFrame, DataFrame, () => Unit) =
    removeRepeatedSpansIncrementalBy(newDocs, idCol, textCol, k, minDf,
      _ => historyCounts)

  /** [[removeRepeatedSpansIncremental]] with the history supplied as a
    * FUNCTION of this batch's counts slice — the key-pushdown form
    * (VERDICT r09 item 1), same contract as
    * [[removeRepeatedLinesIncrementalBy]]. */
  def removeRepeatedSpansIncrementalBy(newDocs: DataFrame, idCol: String,
      textCol: String, k: Int, minDf: Int,
      historyOf: DataFrame => DataFrame): (DataFrame, DataFrame, () => Unit) = {
    val grams = gramFrame(newDocs, idCol, textCol, k).persist()
    val batchCounts = grams.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
    val histMatched = historyOf(batchCounts)
      .join(batchCounts.select(col("h")), Seq("h"))
      .groupBy(col("h")).agg(sum(col("n_docs")).as("h_docs"))
    val repeated = batchCounts
      .join(histMatched, Seq("h"), "left")
      .where(col("n_docs") + coalesce(col("h_docs"), lit(0L)) >= minDf)
      .select(col("h"))
    val cleaned = removeSpansBody(newDocs, idCol, textCol,
      spanRuns(grams.join(repeated, "h").select(col("doc_id"), col("pos")), k), k)
    (cleaned, batchCounts, () => { grams.unpersist(); () })
  }
}
