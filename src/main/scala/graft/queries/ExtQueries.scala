package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{BpeTrainer, CacheLease, DataMix, EventOps, Multimodal, Ranking, Spread, TextAnalysis, TextDedup, UnigramTrainer, UrlOps, VectorSim}

/** Extension-tier query catalog: the LLM-data-pipeline operators
  * (BASELINE.json north star) over the `documents` and `embeddings`
  * tables — dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding cosine), similarity search (brute-force + LSH ANN), text
  * analysis (token counts, quality, language-ID, fingerprints), and
  * multimodal binary-column plumbing.
  */
object ExtQueries {

  /** Per-process scratch root for catalog entries that land parquet
    * artifacts (ADVICE r07): ONE directory per (process, tag), reused
    * across invocations — every writer under it uses overwrite mode,
    * so bench reps / verify re-runs are idempotent instead of
    * accumulating a fresh temp tree per rep. Deleted on JVM exit. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft_scratch")
    sys.addShutdownHook {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p,
            java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
          val s = java.nio.file.Files.list(p)
          try { s.forEach(rm(_)) } finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      try rm(d) catch { case _: Throwable => () }
    }
    d
  }

  private def scratchDir(tag: String): String = {
    val p = scratchRoot.resolve(tag)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  def q16TokenCount(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCounts(Tables.documents(s, dir), "doc_id", "text")

  def q17QualityScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text")

  def q18LangId(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.languageId(Tables.documents(s, dir), "doc_id", "text")

  def q19Fingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprints(Tables.documents(s, dir), "doc_id", "text")

  def q20ExactDedup(s: SparkSession, dir: String): DataFrame =
    TextDedup.exact(Tables.documents(s, dir), "doc_id", "text")

  /** Bloom-gated incremental dedup (q91): the doc_id%3==0 slice as the
    * incoming batch, the rest as corpus history — batch docs whose
    * normalized content hash is NOT already in history. The broadcast
    * Bloom prefilter routes; an exact confirm join keeps the result
    * deterministic (== plain anti-join, the NOT EXISTS oracle). */
  def q91BloomDedup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    TextDedup.bloomGatedNew(
      d.where(pmod(col("doc_id"), lit(3)) =!= 0),
      d.where(pmod(col("doc_id"), lit(3)) === 0),
      "doc_id", "text")
  }

  /** URL canonicalization (q92): deterministic messy URLs synthesized
    * from doc_id/source (mixed-case scheme+host, www prefix, default
    * and nonstandard ports, trailing slashes, tracking params,
    * fragments — the q90 derived-fixture pattern), normalized by
    * [[UrlOps.normalize]]; the oracle replays construction + every
    * rule in SQL. */
  /** The q92/q94 derived URL fixture (one definition, both entries). */
  private def syntheticUrl: Column = concat(
    lit("HTTPS://WWW."), upper(col("source")), lit(".Example.COM"),
    when(pmod(col("doc_id"), lit(6)) === 0, lit(":8443")).otherwise(lit(":443")),
    lit("/docs/"), col("doc_id").cast("string"),
    when(pmod(col("doc_id"), lit(4)) === 0, lit("/")).otherwise(lit("")),
    lit("?utm_source=feed&z="), pmod(col("doc_id"), lit(7)).cast("string"),
    lit("&ref=track&a="), pmod(col("doc_id"), lit(5)).cast("string"),
    lit("#sec"), pmod(col("doc_id"), lit(3)).cast("string"))

  def q92UrlNormalize(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    UrlOps.normalize(
      d.select(col("doc_id"), syntheticUrl.as("url")), "doc_id", "url")
  }

  /** Per-host document cap (q94): the crawl-side composition of q92 +
    * q80 — canonicalize URLs, then cap documents per cleaned HOST via
    * the bounded top-k over the deterministic md5 draw (RefinedWeb
    * caps by the URL-derived domain, not a source label). */
  def q94DomainCap(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    DataMix.groupCap(
      UrlOps.normalize(
        d.select(col("doc_id"), syntheticUrl.as("url")), "doc_id", "url")
        .select(col("doc_id"), col("host")),
      "doc_id", "host", cap = 12)
  }

  /** HTML text extraction (q93): deterministic page markup wrapped
    * around each document (title/style head, nav, script, entity-laden
    * paragraph, footer — the q92 derived-fixture pattern) and stripped
    * back to text by [[TextAnalysis.htmlExtract]]; the oracle replays
    * construction and every strip/decode rule. */
  def q93HtmlExtract(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>p{margin:0}</style></head><body>" +
        "<nav>home | about | contact</nav><p>"),
      col("text"),
      lit("</p><script>var t = 1 < 2;</script><p>Tom &amp; Jerry &lt;3 " +
        "&quot;ok&quot;</p><footer>&copy; 2024 "),
      upper(col("source")),
      lit("</footer></body></html>"))
    TextAnalysis.htmlExtract(
      d.select(col("doc_id"), html.as("html")), "doc_id", "html")
  }

  /** Unigram-LM tokenizer vocabulary (q95): deterministic Viterbi-EM
    * over the corpus word frequencies ([[UnigramTrainer]] — the
    * SentencePiece family next to q65's BPE); output is the trained
    * piece table (piece, final E-step uses, add-one probability). */
  def q95UnigramVocab(s: SparkSession, dir: String): DataFrame = {
    val wf = BpeTrainer.wordFrequencies(Tables.documents(s, dir), "text")
    val (_, counts) = UnigramTrainer.train(wf,
      UnigramSql.MaxPieceLen, UnigramSql.SeedMulti, UnigramSql.EmIters)
    val t = counts.map(_._2).sum
    val denom = (t + counts.length).toDouble
    import s.implicits._
    counts.toSeq
      .map { case (p, c) => (p, c, (c + 1).toDouble / denom) }
      .toDF("piece", "n_uses", "prob")
  }

  /** Unigram-LM segmentation (q96): every distinct corpus word's
    * Viterbi-best piece sequence and exact DP probability under the
    * q95 model — one referenced-model map pass over the word table. */
  def q96UnigramSegment(s: SparkSession, dir: String): DataFrame = {
    val wf = BpeTrainer.wordFrequencies(Tables.documents(s, dir), "text")
    val (model, _) = UnigramTrainer.train(wf,
      UnigramSql.MaxPieceLen, UnigramSql.SeedMulti, UnigramSql.EmIters)
    UnigramTrainer.segment(wf, model)
  }

  def q42Redact(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.redact(Tables.documents(s, dir), "doc_id", "text")

  def q46Normalize(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.normalize(Tables.documents(s, dir), "doc_id", "text")

  /** Data mixing: language-stratified deterministic sample — en kept
    * at 25%, es 50%, de 75%, fr fully, everything else at 10%. */
  def q48StratifiedSample(s: SparkSession, dir: String): DataFrame =
    DataMix.stratifiedSample(
      TextAnalysis.languageId(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("detected_lang")),
      "doc_id", "detected_lang",
      fractions = Map("en" -> 0.25, "es" -> 0.5, "de" -> 0.75, "fr" -> 1.0),
      default = 0.1)

  /** Sequence packing: 4096-token bins over 8 shards, token counts
    * from the whitespace tokenizer. */
  def q49PackSequences(s: SparkSession, dir: String): DataFrame =
    DataMix.packSequences(
      TextAnalysis.tokenCounts(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_ws_tokens").cast("long").as("n_tokens")),
      "doc_id", "n_tokens", budget = 4096L, shards = 8)

  /** Writer-facing packed sequences: same binning as q49, emitting the
    * ordered member ids and the concatenated bin text. */
  def q54PackContents(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    DataMix.packSequenceContents(
      Tables.documents(s, dir).select(col("doc_id"), col("text"),
        size(tokens(col("text"))).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", "text", budget = 4096L, shards = 8)
  }

  /** Writer-side manifest over q54's packed shards: per-shard bin/doc/
    * token totals plus the order-invariant packed-text checksum — the
    * validation record the final write stage of a training-data run
    * publishes. */
  def q72ShardManifest(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    DataMix.shardManifest(DataMix.packSequenceContents(
      Tables.documents(s, dir).select(col("doc_id"), col("text"),
        size(tokens(col("text"))).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", "text", budget = 4096L, shards = 8))
  }

  /** Token-budget data mix: fill per-language token budgets (en 2000,
    * es 1500, others 1000) in the deterministic md5 order — the
    * tokens-per-domain form real pretraining mixes are specified in
    * (q48 is the keep-fraction form). */
  def q64TokenBudgetMix(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val docs = Tables.documents(s, dir)
    val withMeta = docs
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(TextAnalysis.languageId(docs, "doc_id", "text")
        .select(col("doc_id"), col("detected_lang")), "doc_id")
    DataMix.tokenBudgetSample(withMeta, "doc_id", "detected_lang", "n_tokens",
      budgets = Map("en" -> 2000L, "es" -> 1500L), default = 1000L)
  }

  /** Bigram-LM self-scoring sweep: every document's mean smoothed
    * bigram log-probability under statistics trained on the corpus
    * itself — the fluency-outlier curation signal. */
  def q57NgramLm(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    TextAnalysis.ngramLmScore(d, d, "doc_id", "text")
  }

  /** Cross-corpus LM scoring: statistics trained on the ~99% split
    * (doc_id % 97 != 0), the held-out split scored against them —
    * exercises the unseen-gram smoothing path (left joins + add-one)
    * that self-scoring never reaches. */
  def q59NgramLmHeldout(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    TextAnalysis.ngramLmScore(
      d.where(pmod(col("doc_id"), lit(97)) =!= 0),
      d.where(pmod(col("doc_id"), lit(97)) === 0),
      "doc_id", "text")
  }

  /** Interpolated Kneser–Ney scoring (q117): the production smoothing
    * family (KenLM/CCNet) over the same train/held-out split as q59 —
    * exercises all three probability regimes (seen bigram, seen
    * history + unseen continuation, unseen history backoff). */
  def q117KneserNey(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    TextAnalysis.knScore(
      d.where(pmod(col("doc_id"), lit(97)) =!= 0),
      d.where(pmod(col("doc_id"), lit(97)) === 0),
      "doc_id", "text")
  }

  /** CCNet-style quality stratification (q78): LM statistics trained
    * on the English slice (the "target domain" stand-in for CCNet's
    * Wikipedia LM), every document scored, corpus split head/middle/
    * tail by score-distribution tertiles. */
  def q78PerplexityBuckets(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    TextAnalysis.perplexityBuckets(
      d.where(col("lang") === "en"), d, "doc_id", "text")
  }

  /** Gopher document-quality rule gate (q79): the published heuristic
    * rule set with the word-count band scaled to the fixture corpus. */
  def q79GopherRules(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRules(Tables.documents(s, dir), "doc_id", "text")

  /** RefinedWeb-style per-source cap (q80): at most 12 documents per
    * source, chosen by the deterministic md5 draw. */
  def q80SourceCap(s: SparkSession, dir: String): DataFrame =
    DataMix.groupCap(Tables.documents(s, dir), "doc_id", "source", cap = 12)

  /** Embedding-space profile (q85): per-dimension n/mean/variance/
    * min/max over the embeddings table — the statistics an embedding
    * normalization step consumes and a production pipeline monitors
    * for drift. One posexplode + one d-row groupBy with map-side
    * combine: shuffle volume is partitions x dim rows regardless of
    * corpus size. Determinism: float sums in doubles are exact (the
    * kmeansCentroids precondition), squares are 8dp-rounded into
    * exact decimal sums (the q73 ADC discipline). */
  def q85EmbeddingProfile(s: SparkSession, dir: String): DataFrame = {
    val x = col("x").cast("double")
    val n = count(lit(1))
    val sum1 = sum(x)
    val sumsq = sum(round(x * x, 8).cast("decimal(20,8)"))
    Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(n.as("n"), sum1.as("s1"), sumsq.as("s2"),
        min(x).as("mn"), max(x).as("mx"))
      .select(col("dim"), col("n"),
        round(col("s1") / col("n"), 6).as("mean"),
        round(col("s2").cast("double") / col("n") -
          (col("s1") / col("n")) * (col("s1") / col("n")), 6).as("variance"),
        round(col("mn"), 6).as("min_x"),
        round(col("mx"), 6).as("max_x"))
  }

  /** Corpus datasheet (q84): the per-language data card a curation
    * run publishes beside the corpus (the measurable rows of
    * Datasheets for Datasets, Gebru et al. 2018): document/token
    * volume, mean quality, exact-duplicate count, mean length. One
    * scan through the map-tier kernels, one canonical-key groupBy for
    * the dup flag, one |languages|-row aggregate — at 100 TB this is
    * a single corpus pass. */
  def q84CorpusDatasheet(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    // All map-tier measures in ONE projection (lang pick and quality
    // are single kernel calls) — one corpus scan, one canonical-key
    // join for the dup flag, one small rollup; no doc_id self-joins.
    val keyed = Tables.documents(s, dir).select(
      TextAnalysis.detectedLang(tokens(col("text"))).as("detected_lang"),
      size(tokens(col("text"))).as("n_tokens"),
      TextAnalysis.qualityScoreCol(col("text")).as("quality_score"),
      md5(lower(trim(col("text")))).as("k"),
      length(col("text")).cast("long").as("n_chars"))
    val copies = keyed.groupBy(col("k")).agg(count(lit(1)).as("copies"))
    keyed
      .join(copies, "k")
      .groupBy(col("detected_lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        // 2dp scores sum exactly in decimal; one double division.
        round(sum(col("quality_score").cast("decimal(10,2)")).cast("double") /
          count(lit(1)), 6).as("mean_quality"),
        sum(when(col("copies") >= 2, 1L).otherwise(0L)).as("dup_docs"),
        round(sum(col("n_chars")).cast("double") /
          count(lit(1)), 6).as("mean_chars"))
  }

  /** Model-based quality filter (q82): fastText-style logistic
    * classifier over hashed unigram+bigram counts — positives = the
    * en slice (the same target domain as q71's DSIR ratios and q78's
    * CCNet LM, completing the three published quality-scoring
    * families), 3 fixed GD iterations at lr 0.5 over 256 buckets,
    * then the whole corpus scored. */
  def q82QualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityClassifier
    val docs = Tables.documents(s, dir)
    val labeled = docs.withColumn("y",
      when(col("lang") === "en", 1).otherwise(0))
    val w = QualityClassifier.train(labeled, "doc_id", "text", "y",
      buckets = 256, iters = 3, lr = 0.5)
    // Scoring through the map-tier kernel (spec-pinned bit-equal to
    // the relational path the oracle replays): one codegen pass, no
    // explode/join/shuffle for the corpus-scale half of the entry.
    QualityClassifier.scoreInline(docs, "doc_id", "text",
      QualityClassifier.weightsModel(w, buckets = 256))
  }

  /** The trained classifier as a writable artifact (q83): the weight
    * table the q82 run ships — the q77 tokenizer-as-artifact shape
    * for model state. */
  def q83ClassifierWeights(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityClassifier
    val docs = Tables.documents(s, dir)
    val labeled = docs.withColumn("y",
      when(col("lang") === "en", 1).otherwise(0))
    QualityClassifier.train(labeled, "doc_id", "text", "y",
        buckets = 256, iters = 3, lr = 0.5)
      .select(col("b"), col("w").cast("double").as("w"))
  }

  /** RAG/embedding chunking: 64-token windows, 8-token overlap. */
  def q50ChunkDocuments(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    Tables.documents(s, dir).select(
      col("doc_id"),
      posexplode(tokenChunksNative(tokens(col("text")), 64, 8))
        .as(Seq("chunk_idx", "chunk_text")))
  }

  /** Lexical retrieval: BM25 top-20 for a 3-term keyword query. */
  def q51Bm25(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextSearch.bm25(Tables.documents(s, dir), "doc_id", "text",
      queryTerms = Seq("vector", "hash", "filter"), topK = 20)

  /** Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    * top-20 (q51's query) with the brute-force vector top-20 for
    * query vector 0 (documents and embeddings share the id space). */
  def q52HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val lex = q51Bm25(s, dir).select(col("doc_id").as("id"), col("rank"))
    val emb = Tables.embeddings(s, dir)
    val vec = VectorSim.knnBruteForce(emb.where(col("vec_id") === 0), emb, k = 20)
      .select(col("neighbor_id").as("id"), col("rank"))
    graft.operators.TextSearch.rrfFuse(lex, vec, topK = 10)
  }

  /** Decontamination demo split: every 97th doc plays the benchmark
    * set; the rest is the training corpus to be screened. */
  def q47Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextDedup.contaminated(
      docs.where(col("doc_id") % 97 =!= 0),
      docs.where(col("doc_id") % 97 === 0),
      "doc_id", "text", n = 3)
  }

  /** Decontamination audit (q88): q47's overlap from the benchmark
    * owner's side — per benchmark item, how many corpus docs it leaks
    * into and how many shingle-overlap instances. */
  def q88DeconAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextDedup.contaminationByBenchmark(
      docs.where(col("doc_id") % 97 =!= 0),
      docs.where(col("doc_id") % 97 === 0),
      "doc_id", "text", n = 3)
  }

  /** DSIR-style selection over the q47 split: the every-97th-doc
    * benchmark slice plays the target distribution, the rest is the
    * raw pool being filtered toward it. */
  def q71ImportanceResample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    DataMix.importanceResample(
      docs.where(col("doc_id") % 97 =!= 0),
      docs.where(col("doc_id") % 97 === 0),
      "doc_id", "text", buckets = 1024, take = 100)
  }

  def q43Repetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetition(Tables.documents(s, dir), "doc_id", "text", n = 3)

  def q44MinhashEstimate(s: SparkSession, dir: String): DataFrame = {
    val idx = TextDedup.buildIndex(Tables.documents(s, dir), "doc_id", "text",
      n = 3, bits = 32)
    val sig = TextDedup.minhashSignatures(idx, 32)
    sig.persist()
    CacheLease.releaseAfterAction(
      TextDedup.minhashEstimatePairs(sig, minEstimate = 0.25,
        numHashes = 32, bands = 16))(() => sig.unpersist())
  }

  /** LSH banding calibration (q86): the operating table for choosing
    * dedup parameters — per estimated-Jaccard grid bucket, the
    * MEASURED candidate-pair count under the current banding
    * (numHashes=32, bands=16, rows=2) beside the ANALYTIC s-curve
    * collision probability 1-(1-s^rows)^bands at the bucket's lower
    * edge. Powers are written as explicit squaring chains so both
    * engines run the identical IEEE sequence (pow() implementations
    * may differ in the last ulp). One signature pass; the candidate
    * join is the banded equi-join, never all pairs. */
  def q86LshCalibration(s: SparkSession, dir: String): DataFrame = {
    val idx = TextDedup.buildIndex(Tables.documents(s, dir), "doc_id", "text",
      n = 3, bits = 32)
    val sig = TextDedup.minhashSignatures(idx, 32)
    sig.persist()
    val est = TextDedup.minhashEstimatePairs(sig, minEstimate = 0.0,
      numHashes = 32, bands = 16)
    val sLow = col("bucket")
    val y = lit(1.0) - sLow * sLow        // 1 - s^rows (rows = 2)
    val y2 = y * y
    val y4 = y2 * y2
    val y8 = y4 * y4
    val y16 = y8 * y8                      // (1 - s^2)^bands (bands = 16)
    CacheLease.releaseAfterAction(
      est
        .withColumn("bucket", floor(col("est_jaccard") * 20) / 20)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_candidate_pairs"))
        .withColumn("collision_prob", round(lit(1.0) - y16, 6))
    )(() => sig.unpersist())
  }

  /** Dedup threshold sweep (q87): pair and doc counts at three
    * candidate thresholds from ONE signature pass — what a curation
    * run consults before committing to a dedup threshold. The
    * three-row threshold frame broadcasts against the estimate pairs;
    * docs are counted distinct over both pair sides. */
  def q87DedupThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = TextDedup.buildIndex(Tables.documents(s, dir), "doc_id", "text",
      n = 3, bits = 32)
    val sig = TextDedup.minhashSignatures(idx, 32)
    sig.persist()
    val est = TextDedup.minhashEstimatePairs(sig, minEstimate = 0.25,
      numHashes = 32, bands = 16).persist()
    val thresholds = Seq(0.25, 0.5, 0.75).toDF("threshold")
    val pairs = est.join(broadcast(thresholds),
      col("est_jaccard") >= col("threshold"))
    CacheLease.releaseAfterAction(
      pairs.groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_pairs"))
        .join(
          pairs.select(col("threshold"),
              explode(array(col("doc_a"), col("doc_b"))).as("d"))
            .groupBy(col("threshold"))
            .agg(countDistinct(col("d")).as("n_docs")),
          Seq("threshold"))
    )(() => { sig.unpersist(); est.unpersist(); () })
  }

  // q21/q22/q53/q56/q61 persist their compact (long,long) index (read
  // 3-6x within the query's single action) and release it through a
  // CacheLease: the cache lives exactly as long as the caller's action
  // — no entry leaks a persisted frame past its own execution.
  def q21NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val idx = TextDedup.buildIndex(Tables.documents(s, dir), "doc_id", "text",
      n = 3, bits = 64).persist()
    CacheLease.releaseAfterAction(
      TextDedup.ngramJaccardPairs(idx, threshold = 0.05))(() => idx.unpersist())
  }

  def q22MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val idx = TextDedup.buildIndex(Tables.documents(s, dir), "doc_id", "text",
      n = 3, bits = 32).persist()
    // Signature frame persisted beside the index (the DedupSuite
    // discipline): the band self-join otherwise recomputes the
    // 32-min-perm aggregate once PER JOIN SIDE (visible in the old
    // q22 plan as two parallel HashAggregate chains).
    val sig = TextDedup.minhashSignatures(idx, 32).persist()
    CacheLease.releaseAfterAction(
      TextDedup.minhashLshPairs(idx, sig, threshold = 0.05, numHashes = 32,
        bands = 16))(() => { idx.unpersist(); sig.unpersist(); () })
  }

  /** Dedup clusters: transitive closure over the q22 near-dup pair
    * graph, canonical = min doc id per component. */
  def q53DedupClusters(s: SparkSession, dir: String): DataFrame = {
    val idx = TextDedup.buildIndex(Tables.documents(s, dir), "doc_id", "text",
      n = 3, bits = 32).persist()
    // Shared signature frame — see q22.
    val sig = TextDedup.minhashSignatures(idx, 32).persist()
    CacheLease.releaseAfterAction(
      TextDedup.connectedComponents(
        TextDedup.minhashLshPairs(idx, sig, threshold = 0.05, numHashes = 32,
          bands = 16)))(() => { idx.unpersist(); sig.unpersist(); () })
  }

  /** Asymmetric near-subset pairs: either-direction shingle containment
    * >= 0.3 (the partial-copy / wrapper signal Jaccard misses). */
  def q56Containment(s: SparkSession, dir: String): DataFrame = {
    val idx = TextDedup.buildIndex(Tables.documents(s, dir), "doc_id", "text",
      n = 3, bits = 64).persist()
    CacheLease.releaseAfterAction(
      TextDedup.containmentPairs(idx, threshold = 0.3))(() => idx.unpersist())
  }

  /** Post-clustering survivor pick: q53's clusters, q17's quality —
    * keep the best-quality member of each near-dup cluster. */
  def q58DedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val idx = TextDedup.buildIndex(docs, "doc_id", "text", n = 3, bits = 32).persist()
    // Shared signature frame — see q22.
    val sig = TextDedup.minhashSignatures(idx, 32).persist()
    try {
      val clusters = TextDedup.connectedComponents(
        TextDedup.minhashLshPairs(idx, sig, threshold = 0.05, numHashes = 32,
          bands = 16))
      TextDedup.dedupSurvivors(clusters,
        TextAnalysis.qualityScore(docs, "doc_id", "text"), "quality_score")
    } finally { idx.unpersist(); sig.unpersist() }
  }

  /** Per-document dedup disposition — the composed decision a real
    * curation run lands, in one catalog entry: ONE persisted 32-bit
    * shingle index feeds MinHash+LSH pair generation, transitive
    * clustering, and the quality-survivor pick; exact content hashing
    * rides the same scan. One row per document: its exact-dup
    * canonical, its near-dup canonical (self when unclustered), the
    * cluster's kept survivor, and the final keep flag. Composition is
    * the point (q32's discipline applied to the dedup chain): every
    * stage is an independently-verified operator, and the shared index
    * is built once instead of once per stage. */
  def q60DedupReport(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val quality = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .select(col("doc_id"), col("quality_score"))
    val idx = TextDedup.buildIndex(docs, "doc_id", "text", n = 3, bits = 32).persist()
    // Shared signature frame — see q22.
    val sig = TextDedup.minhashSignatures(idx, 32).persist()
    try {
      val clusters = TextDedup.connectedComponents(
        TextDedup.minhashLshPairs(idx, sig, threshold = 0.05, numHashes = 32,
          bands = 16))
      val survivors = TextDedup.dedupSurvivors(clusters, quality, "quality_score")
        .select(col("canonical_id").as("near_canonical"), col("survivor_id"))
      val hashes = docs.select(col("doc_id"),
        TextDedup.contentHash(col("text")).as("content_hash"))
      val exactCanon = TextDedup.exact(docs, "doc_id", "text")
        .select(col("content_hash"), col("canonical_id").as("exact_canonical"))
      hashes.join(exactCanon, "content_hash")
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("near_canonical", coalesce(col("canonical_id"), col("doc_id")))
        .join(survivors, Seq("near_canonical"), "left")
        .join(quality, "doc_id")
        .select(
          col("doc_id"),
          col("exact_canonical"),
          col("near_canonical"),
          coalesce(col("survivor_id"), col("doc_id")).as("kept_id"),
          col("quality_score"),
          (col("doc_id") === coalesce(col("survivor_id"), col("doc_id")))
            .cast("int").as("keep"))
    } finally { idx.unpersist(); sig.unpersist() }
  }

  /** Cross-modal near-dup verification: the q22 text-LSH candidate
    * pairs re-scored with embedding cosine (documents and embeddings
    * share the id space) — the two signals disagree exactly where each
    * is blind: high-cosine/low-Jaccard pairs are paraphrases shingles
    * miss, high-Jaccard/low-cosine pairs share boilerplate with
    * different meaning. Both verifies ride key equi-joins (LSH buckets,
    * then two id joins to the embedding table), never an all-pairs
    * comparison — the 100 TB shape is unchanged by the second signal. */
  def q61CrossModalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val emb = Tables.embeddings(s, dir)
    def side(p: String) = emb.select(
      col("vec_id").as(s"doc_$p"),
      col("embedding").as(s"${p}_emb"),
      graft.functions.VectorFunctions.norm(col("embedding")).as(s"${p}_norm"))
    // Same lifecycle as q21/q22: persisted for the caller's single
    // action, released by the lease when that action completes.
    val idx = TextDedup.buildIndex(docs, "doc_id", "text", n = 3, bits = 32).persist()
    // Shared signature frame — see q22.
    val sig = TextDedup.minhashSignatures(idx, 32).persist()
    CacheLease.releaseAfterAction(
      TextDedup.minhashLshPairs(idx, sig, threshold = 0.05, numHashes = 32,
          bands = 16)
        .join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .select(
          col("doc_a"), col("doc_b"), col("jaccard"),
          round(graft.functions.VectorFunctions.dot(col("a_emb"), col("b_emb")) /
            (col("a_norm") * col("b_norm")), 6).as("cos_sim"))
        .withColumn("both_agree",
          (col("jaccard") >= 0.5 && col("cos_sim") >= 0.5).cast("int"))
    )(() => { idx.unpersist(); sig.unpersist(); () })
  }

  /** Ranked global top-k of an exploded key by occurrence count (ties
    * to the lexicographically-smaller key): map-side-combined groupBy,
    * then `orderBy.limit` = TakeOrderedAndProject — per-partition
    * partial top-k, k rows cross the exchange, never a global sort of
    * the key space; the rank window runs over the k survivors only. */
  private def topKByCount(keyed: DataFrame, keyCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // __bnd rename: rank window over the limit(k) survivors only —
    // bounded frame, declared for graft.WindowTripwire.
    keyed
      .groupBy(col(keyCol)).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col(keyCol))
      .limit(k)
      .withColumn("__bnd_n", col("n_occurrences"))
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("__bnd_n").desc, col(keyCol)))
        .cast("int"))
      .drop("__bnd_n")
  }

  /** Tokenizer-prep vocabulary: global top-1000 tokens by frequency. */
  def q62VocabTopk(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    topKByCount(
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("token")),
      "token", 1000)
  }

  /** BPE-style merge statistics: top-500 adjacent char pairs WITHIN
    * tokens by occurrence count — the first scoring pass of byte-pair
    * tokenizer training. All-position char bigrams come from the
    * codegen'd [[graft.functions.expr.CharNgrams]] kernel (the HOF
    * `transform(sequence(...))` form runs interpreted per element). */
  def q63BpePairs(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{charNgramsNative, tokens}
    topKByCount(
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .select(explode(charNgramsNative(col("token"), 2)).as("pair")),
      "pair", 500)
  }

  /** Iterative BPE training, first 3 merge rounds — each round counts
    * adjacent symbol pairs (word-frequency weighted, every position),
    * picks the best by (count desc, pair asc), applies it left-to-right
    * non-overlapping, and recounts. The DuckDB oracle replays the loop
    * in SQL (the q39 k-means discipline): merge application is a plain
    * `replace` on a delimiter-wrapped symbol string — `replace`'s
    * left-to-right non-overlapping scan IS the BPE apply rule. The full
    * loop (arbitrary rounds, hybrid driver/distributed regime) is
    * [[graft.operators.BpeTrainer]], spec-pinned against an in-memory
    * reference; this entry oracle-checks the round mechanics. */
  def q65BpeTrain(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.BpeTrainer
    // minCount = 1 matches the oracle, which has no count floor — the
    // default floor of 2 would refuse a count-1 pair the SQL replay
    // happily learns (a data-dependent mismatch on sparse corpora).
    val merges = BpeTrainer.train(
      BpeTrainer.wordFrequencies(Tables.documents(s, dir), "text"),
      maxMerges = 3, minCount = 1L)
    s.createDataFrame(merges.map(m =>
        (m.round, m.pair, m.merged, m.nOccurrences)))
      .toDF("round", "pair", "merged", "n_occurrences")
      .select(col("round").cast("int").as("round"), col("pair"),
        col("merged"), col("n_occurrences"))
  }

  /** Sketch-based corpus profiling (SURVEY §4's approximate tier): the
    * 100 TB statistics pass runs on sketches — HLL++ distincts
    * (`approx_count_distinct`) for vocabulary and shingle cardinality,
    * KLL-style `percentile_approx` for length quantiles — because exact
    * distincts/quantiles shuffle the full key space. The entry emits
    * the EXACT values plus within-tolerance flags comparing each sketch
    * against its exact mirror, so the DuckDB oracle (exact values +
    * literal true flags) hash-matches deterministically: sketches are
    * deterministic on fixed data, and a sketch drifting out of
    * tolerance fails the gate — which is the check. SketchToleranceSpec
    * bounds the error tighter on a synthetic high-cardinality corpus. */
  def q67CorpusSketch(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{tokens, wordShinglesNative}
    // NOT spread (measured 1.44 -> 1.60 s): the THREE unpersisted
    // explode branches would each re-pay the repartition exchange.
    val docs = Tables.documents(s, dir)
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
    val shingles = docs
      .select(explode(wordShinglesNative(tokens(col("text")), 3)).as("g"))
      .select(xxhash64(col("g")).as("sh"))
    val lens = docs.select(size(tokens(col("text"))).cast("double").as("len"))
    def okRel(approx: Column, exact: Column, rel: Double): Column =
      (abs(approx.cast("double") - exact.cast("double")) <=
        greatest(lit(1.0), exact.cast("double") * rel)).cast("int")
    val v = toks.agg(
      count_distinct(col("token")).as("vocab_exact"),
      approx_count_distinct(col("token"), 0.02).as("vocab_approx"))
    val sh = shingles.agg(
      count_distinct(col("sh")).as("shingles_exact"),
      approx_count_distinct(col("sh"), 0.02).as("shingles_approx"))
    val l = lens.agg(
      round(expr("percentile(len, 0.5)"), 2).as("len_p50_exact"),
      round(expr("percentile(len, 0.9)"), 2).as("len_p90_exact"),
      percentile_approx(col("len"), lit(0.5), lit(10000)).as("len_p50_approx"),
      percentile_approx(col("len"), lit(0.9), lit(10000)).as("len_p90_approx"))
    // Three 1-row aggregates fused (the q51 stats-frame shape).
    v.crossJoin(sh).crossJoin(l).select(
      col("vocab_exact"),
      okRel(col("vocab_approx"), col("vocab_exact"), 0.05).as("vocab_approx_ok"),
      col("shingles_exact"),
      okRel(col("shingles_approx"), col("shingles_exact"), 0.05).as("shingles_approx_ok"),
      col("len_p50_exact"),
      okRel(col("len_p50_approx"), col("len_p50_exact"), 0.05).as("len_p50_approx_ok"),
      col("len_p90_exact"),
      okRel(col("len_p90_approx"), col("len_p90_exact"), 0.05).as("len_p90_approx_ok"))
  }

  /** Substring-level exact dedup: maximal >= 8-token spans recurring
    * across distinct documents — the boilerplate/cross-document-copy
    * signal whole-document shingles can't see (Lee et al. 2022's
    * suffix-array dedup, re-expressed as positional windows + run
    * merge). */
  def q66RepeatedSpans(s: SparkSession, dir: String): DataFrame =
    TextDedup.repeatedSpans(Tables.documents(s, dir), "doc_id", "text", k = 8)

  /** The act half of q66: every document with its repeated spans cut
    * out — the find -> remove round trip of substring dedup. */
  def q69RemoveSpans(s: SparkSession, dir: String): DataFrame =
    TextDedup.removeRepeatedSpans(Tables.documents(s, dir), "doc_id", "text",
      k = 8)

  /** BPE segmentation at corpus scale — now consuming the PERSISTED
    * vocab artifact (VERDICT r05 item 7): train, write the q77 vocab
    * frame to parquet, read it back, extract the merge rules, and
    * segment with THOSE (the codegen'd kernel, merges as one reference
    * object). The tokenizer-as-artifact shape a training pipeline
    * ships: the segmenter never touches the trainer, only the table.
    * Output and oracle are unchanged from the in-call wiring — the
    * round trip is the point. */
  def q68BpeSegment(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{bpeApplyMergesNative, tokens}
    import graft.operators.BpeTrainer
    val docs = Tables.documents(s, dir)
    val wf = BpeTrainer.wordFrequencies(docs, "text").persist()
    val merges = BpeTrainer.train(wf,
      maxMerges = 3, minCount = 1L) // floorless like the oracle (see q65)
    val vocabDir = scratchDir("bpe_vocab")
    BpeTrainer.vocabFrame(wf, merges)
      .write.mode("overwrite").parquet(vocabDir)
    wf.unpersist()
    val pairs = BpeTrainer.mergesFromVocab(s.read.parquet(vocabDir))
    topKByCount(
      docs.select(explode(tokens(col("text"))).as("token"))
        .select(explode(bpeApplyMergesNative(col("token"), pairs))
          .as("symbol")),
      "symbol", 50)
  }

  /** Tokenizer fertility by language (q81): symbols-per-word of the
    * trained BPE tokenizer, grouped by detected language — the
    * standard tokenizer-evaluation metric (how many subword pieces a
    * word costs, per language; SentencePiece/XLM-R analyses report
    * exactly this table). Consumes the persisted q77 vocab artifact
    * through the same round trip as q68, so it also exercises the
    * artifact contract. One map pass (lang-ID + segmentation are both
    * codegen'd kernels) and one small groupBy — at 100 TB the
    * aggregate is |languages| rows. */
  def q81TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{bpeApplyMergesNative, tokens}
    import graft.operators.BpeTrainer
    val docs = Tables.documents(s, dir)
    val wf = BpeTrainer.wordFrequencies(docs, "text").persist()
    val merges = BpeTrainer.train(wf, maxMerges = 3, minCount = 1L)
    val vocabDir = scratchDir("bpe_vocab_fert")
    BpeTrainer.vocabFrame(wf, merges)
      .write.mode("overwrite").parquet(vocabDir)
    wf.unpersist()
    val pairs = BpeTrainer.mergesFromVocab(s.read.parquet(vocabDir))
    docs
      // Language pick in its own projection BELOW the explode —
      // a generator re-evaluates sibling EXPRESSIONS per exploded
      // token (NOTES finding #14); an attribute is replicated free.
      .select(TextAnalysis.detectedLang(tokens(col("text"))).as("lang"),
        tokens(col("text")).as("toks"))
      .select(col("lang"), explode(col("toks")).as("token"))
      .select(col("lang"),
        size(bpeApplyMergesNative(col("token"), pairs)).as("nsym"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("nsym")).as("n_symbols"))
      .withColumn("fertility",
        round(col("n_symbols").cast("double") / col("n_words"), 6))
  }

  /** The trained tokenizer as a writable artifact (q77): merge rules
    * in apply order plus the final symbol inventory with corpus
    * occurrence weights — one frame, parquet-shippable, consumed by
    * q68's segmentation after a round trip through storage. */
  def q77BpeVocab(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.BpeTrainer
    // Persisted for its two consumers (train's collect + the symbol
    // inventory) — released by the lease after the caller's action.
    val wf = BpeTrainer
      .wordFrequencies(Tables.documents(s, dir), "text").persist()
    val merges = BpeTrainer.train(wf, maxMerges = 3, minCount = 1L)
    CacheLease.releaseAfterAction(
      BpeTrainer.vocabFrame(wf, merges))(() => { wf.unpersist(); () })
  }

  def q23Simhash(s: SparkSession, dir: String): DataFrame =
    TextDedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
      maxHamming = 3)

  def q24EmbeddingNearDup(s: SparkSession, dir: String): DataFrame =
    VectorSim.clusterNearDup(Tables.embeddings(s, dir), threshold = 0.35)

  def q39KmeansIvf(s: SparkSession, dir: String): DataFrame =
    VectorSim.ivfNearDup(Tables.embeddings(s, dir), k = 8, iters = 2,
      threshold = 0.35)

  /** Same IVF pipeline as q39 but seeded by the k-means||-style
    * farthest-first oversampled init (factor 4 -> 32 candidates) — the
    * init quality path for the k >= 1024 regime, oracle-checked at
    * catalog scale. */
  def q55KmeansOversampled(s: SparkSession, dir: String): DataFrame =
    VectorSim.ivfNearDup(Tables.embeddings(s, dir), k = 8, iters = 2,
      threshold = 0.35, initFactor = 4)

  /** SemDeDup-style per-vector disposition: q39's quantizer + pairs,
    * transitive grouping, keep-least-prototypical survivor — q60's
    * decision row re-expressed in embedding space. */
  def q70SemanticDedup(s: SparkSession, dir: String): DataFrame =
    VectorSim.semanticDedup(Tables.embeddings(s, dir), k = 8, iters = 2,
      threshold = 0.35)

  /** Cell-size-guarded SemDeDup: same disposition as q70 but with the
    * degenerate-cell guard ACTIVE — cells above the cap salt into
    * md5-derived sub-cells before pair generation, so one skewed cell
    * can never go quadratic. The cap here sits below the mean cell
    * population on purpose: the oracle replays the salting itself. */
  def q75SemanticDedupGuarded(s: SparkSession, dir: String): DataFrame =
    VectorSim.semanticDedup(Tables.embeddings(s, dir), k = 8, iters = 2,
      threshold = 0.35, maxCellSize = 60)

  def q45KnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    VectorSim.knnIvf(emb.where(col("vec_id") < 5), emb, k = 5,
      kClusters = 8, iters = 2, nprobe = 2)
  }

  /** PQ ADC search: 8x16 codebooks trained on the corpus, queries
    * scored against 8-code encodings via per-subspace lookup tables —
    * the FAISS-style compressed-corpus ANN path beside IVF (q45) and
    * hyperplane LSH (q26). */
  def q73PqSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val m = VectorSim.pqTrain(emb, dim = 64, subspaces = 8, k = 16, iters = 2)
    VectorSim.pqSearch(emb.where(col("vec_id") < 5), emb, m, k = 5)
  }

  /** IVFADC: q73's PQ codebooks + q39's coarse quantizer — each query
    * probes its 2 nearest of 8 cells and ADC-scans only those, the
    * scan-the-whole-corpus ceiling VERDICT r05 flagged on q73 removed
    * (cost ~ nprobe/kClusters of the corpus per query). */
  def q74PqSearchIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val m = VectorSim.pqTrain(emb, dim = 64, subspaces = 8, k = 16, iters = 2)
    VectorSim.pqSearchIvf(emb.where(col("vec_id") < 5), emb, m,
      kClusters = 8, iters = 2, nprobe = 2, k = 5)
  }

  /** IVFADC served from the PERSISTED index artifact (q138, VERDICT
    * r06 item 4): train the PQ codebooks + coarse quantizer, write the
    * model frame AND the corpus code table to parquet, read both back,
    * rebuild the driver model state from the artifact, and search the
    * READ-BACK codes — the q68/q81 tokenizer-artifact round trip
    * applied to the ANN index. A real pipeline trains once per corpus
    * version and serves every query batch from these two tables; a
    * query batch here pays probe selection + the LUT join only, never
    * a corpus encode pass. Output and oracle are the q74 search
    * unchanged — the round trip is the point (parquet round-trips
    * doubles and ints bit-for-bit). */
  def q138AnnArtifactSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val m = VectorSim.pqTrain(emb, dim = 64, subspaces = 8, k = 16, iters = 2)
    val cen = VectorSim.kmeansCentroids(emb, 8, 2)
    val artDir = scratchDir("ann_artifact")
    VectorSim.annModelFrame(s, m, cen)
      .write.mode("overwrite").parquet(s"$artDir/model")
    VectorSim.annCodesFrame(emb, m, cen)
      .write.mode("overwrite").parquet(s"$artDir/codes")
    val (m2, cen2) = VectorSim.annModelFromFrame(s.read.parquet(s"$artDir/model"))
    VectorSim.pqSearchIvfFromCodes(emb.where(col("vec_id") < 5),
      s.read.parquet(s"$artDir/codes"), m2, cen2, nprobe = 2, k = 5)
  }

  /** Incremental ANN-codes append, served (q141, VERDICT r07 item 3):
    * the q138 artifact under the WEEKLY cadence. The frozen model (PQ
    * codebooks + coarse quantizer) trains at "init" on the STATE half
    * of the corpus only (even vec_ids); init lands its own code slice;
    * the weekly batch (odd vec_ids) reads the model back from parquet
    * and encodes ONLY ITSELF — per-increment encode cost is batch-
    * scale, the `minhashLshPairsIncremental` discipline applied to PQ
    * codes — appending a second slice. Search serves from the UNION of
    * the slices. Encoding is a pure per-row map under a frozen model,
    * so composed slices == a scratch encode of the composed corpus;
    * the DuckDB oracle replays the IVFADC chain with training CTEs
    * restricted to the state half (`trainPred`) and assignments over
    * everything. */
  def q141AnnCodesAppend(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val state = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val batch = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    val m = VectorSim.pqTrain(state, dim = 64, subspaces = 8, k = 16, iters = 2)
    val cen = VectorSim.kmeansCentroids(state, 8, 2)
    val artDir = scratchDir("ann_codes_inc")
    VectorSim.annModelFrame(s, m, cen)
      .write.mode("overwrite").parquet(s"$artDir/model")
    VectorSim.annCodesFrame(state, m, cen)
      .write.mode("overwrite").parquet(s"$artDir/codes_w0")
    val (m2, cen2) = VectorSim.annModelFromFrame(s.read.parquet(s"$artDir/model"))
    VectorSim.annCodesFrame(batch, m2, cen2)
      .write.mode("overwrite").parquet(s"$artDir/codes_w1")
    VectorSim.pqSearchIvfFromCodes(emb.where(col("vec_id") < 5),
      s.read.parquet(s"$artDir/codes_w0", s"$artDir/codes_w1"),
      m2, cen2, nprobe = 2, k = 5)
  }

  /** Incremental span removal (q142): the weekly-cadence form of q69
    * ([[TextDedup.removeRepeatedSpansIncremental]]). History = even
    * doc_ids (their gram-df counts are the `span_grams_batch` state
    * slice); the weekly batch = odd doc_ids, cleaned against the
    * COMPOSED df (history counts + its own) — so cross-half repeats
    * reach minDf and are cut from batch docs, while per-increment work
    * is batch grams + one equi-join against the counts state. The
    * oracle replays q69's df over the FULL corpus and applies removal
    * to the odd docs only — equal by construction since distinct-doc
    * counts add across the disjoint halves. */
  def q142SpanIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val history = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val batch = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val counts = TextDedup.spanGramCounts(history, "doc_id", "text", k = 8)
    val (cleaned, _, rel) = TextDedup.removeRepeatedSpansIncremental(
      batch, "doc_id", "text", k = 8, minDf = 2, historyCounts = counts)
    CacheLease.releaseAfterAction(cleaned)(rel)
  }

  /** Incremental line dedup (q145): the weekly-cadence form of q144
    * ([[TextDedup.removeRepeatedLinesIncremental]] — the q142
    * append-only discipline at line granularity). Line structure is
    * q144's synthesis (8-token slices + parity-planted footer); history
    * = even doc_ids (their line-df counts are the state slice), the
    * weekly batch = odd doc_ids, cleaned against the COMPOSED df — a
    * footer seen in history and again in the batch reaches minDf and
    * is cut from batch docs, while per-increment work is batch lines
    * + one equi-join against the counts state. The oracle replays
    * q144's string-df over the FULL corpus and applies removal to the
    * odd docs only — equal by construction since distinct-doc counts
    * add across the disjoint halves. */
  def q145LineIncremental(s: SparkSession, dir: String): DataFrame = {
    val lined = linedDocs(s, dir)
    val history = lined.where(pmod(col("doc_id"), lit(2)) === 0)
    val batch = lined.where(pmod(col("doc_id"), lit(2)) === 1)
    val counts = TextDedup.lineCounts(history, "doc_id", "text")
    val (cleaned, _, rel) = TextDedup.removeRepeatedLinesIncremental(
      batch, "doc_id", "text", minDf = 2, historyCounts = counts)
    CacheLease.releaseAfterAction(cleaned)(rel)
  }

  /** Composed ALL-STATE weekly cadence as one oracle-checked entry
    * (q146, VERDICT r08 item 4): [[graft.pipeline.CurationRun.runInit]]
    * + TWO [[graft.pipeline.CurationRun.runIncremental]] batches
    * (doc_id mod 3 thirds of the line-synthesized %97 corpus) with
    * EVERY state cadence active at once — line-df state (raw text),
    * span-df state (prepped text), Bloomless prep gates, the LSH
    * dedup state, the frozen-quantizer semantic state, AND the ANN
    * codes state (index artifact — exercised here, served/checked by
    * q141). q137 pins the composed PIPELINE; the four cadences so far
    * had only pairwise state specs — this entry runs them together
    * and reports the final increment's audit row. The DuckDB oracle
    * replays the STAGED semantics exactly: batch b's line cleaning
    * sees the line-df of batches 0..b (slice counts add across
    * disjoint ids), its prep chain runs on its own line-cleaned text,
    * its span cleaning sees the gram-df of prepped batches 0..b; the
    * composed decon rides the scratch LSH/survivor chain (incremental
    * LSH+CC == scratch, spec-pinned), the semantic pass runs under
    * the quantizer FROZEN at init (train on init decon vectors,
    * assign every decon vector; the per-batch incremental pair runs
    * union to exactly the full within-cell pair set), and the output
    * tail is q137's. Every reported stage has nonzero attrition at
    * both verify SFs. */
  def q146CadenceE2e(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityClassifier
    import graft.pipeline.CurationRun
    // Spread the one-file scan once at the entry (see q137): the
    // interpreted line-synthesis lambdas and the three runs' map tiers
    // otherwise run single-task before their first exchange.
    val docs = Spread.toCores(Tables.documents(s, dir))
    // Corpus synthesis: span-planted lined docs (%97 split) PLUS
    // token-shifted near-dup replicas of the md5-drawn quarter —
    // "copy" + the original token stream re-slices into doc-unique
    // lines (line dedup must not eat the pair) while the 3-gram
    // shingle sets stay near-identical, so the LSH survivor stage has
    // real attrition. Replica ids live far above the corpus range;
    // they carry no embedding row, so the semantic stage ignores them
    // on both engines by the same inner join.
    val toksBase = docs
      .where(pmod(col("doc_id"), lit(97)) =!= 0)
      .select(col("doc_id"), plantedToks.as("toks"))
    val replicas = toksBase
      .where(substring(md5(concat(col("doc_id").cast("string"), lit("#dup"))), 1, 1)
        .isin("0", "1", "2", "3"))
      .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
        concat(array(lit("copy")), col("toks")).as("toks"))
    // The synthesized corpus is the input to THREE eager pipeline runs
    // (dozens of actions): unpersisted, the HOF-lambda synthesis chain
    // (tokens -> span plant -> line slicing, interpreted per finding
    // #1) re-runs at every stage action. One compact (long, string)
    // cache for the entry's lifetime — released before returning; the
    // entry is eager, so plain try/finally works (no lease needed).
    val lined = lineSynthesis(toksBase.unionByName(replicas)).persist()
    val benchmark = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    // The q137 classifier artifact: trained once on the NORMALIZED
    // full table, passed to all three weekly runs.
    val normAll = TextAnalysis
      .normalize(docs, "doc_id", "text")
      .select(col("doc_id"), col("norm_text").as("text"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    // Overlap the two independent eager pre-run stages (guide §2.6):
    // the interpreted line-synthesis cache materializes on a driver
    // thread while the classifier's GD rounds run on this one — the
    // synthesis tasks back-fill executors idled by the trainer's tiny
    // sequential barriers. toRdd, not count(): a tracked action would
    // re-render the plan per AQE stage, and count() prunes nothing
    // here anyway (the persist materializes every column).
    val linedWarm = scala.concurrent.Future(
      lined.queryExecution.toRdd.count())(
      scala.concurrent.ExecutionContext.global)
    val weights = QualityClassifier.train(
      normAll.withColumn("y", when(col("lang") === "en", 1).otherwise(0)),
      "doc_id", "text", "y", buckets = 256, iters = 3, lr = 0.5)
    scala.concurrent.Await.result(linedWarm,
      scala.concurrent.duration.Duration.Inf)
    val base = scratchDir("q146_cadence")
    def b(i: Int) = lined.where(pmod(col("doc_id"), lit(3)) === i)
    val emb = Tables.embeddings(s, dir)
    val st = try {
    CurationRun.runInit(b(0), benchmark, s"$base/out0", s"$base/state0",
      minQuality = 0.75, dedupThreshold = 0.25, minContaminatedShingles = 1,
      fractions = Map("en" -> 0.5), defaultFraction = 0.9,
      packBudget = 4096L, publishSpan = 1024L,
      embeddings = Some(emb), semClusters = 8, semIters = 2,
      semThreshold = 0.35,
      classifier = Some((weights, 256)), minClassifierScore = 0.0001,
      semanticState = true, semSalt = 1,
      annState = true, annSubspaces = 4, annCodewords = 8,
      annClusters = 4, annIters = 2,
      spanState = true, spanK = 8, spanMinDf = 2,
      lineState = true, lineMinDf = 2)
    CurationRun.runIncremental(b(1), benchmark, s"$base/out1",
      s"$base/state0", s"$base/state1",
      minQuality = 0.75, dedupThreshold = 0.25, minContaminatedShingles = 1,
      fractions = Map("en" -> 0.5), defaultFraction = 0.9,
      packBudget = 4096L, publishSpan = 1024L,
      embeddings = Some(emb), semClusters = 8, semIters = 2,
      semThreshold = 0.35,
      classifier = Some((weights, 256)), minClassifierScore = 0.0001,
      spanK = 8, spanMinDf = 2, lineMinDf = 2)
    CurationRun.runIncremental(b(2), benchmark, s"$base/out2",
      s"$base/state1", s"$base/state2",
      minQuality = 0.75, dedupThreshold = 0.25, minContaminatedShingles = 1,
      fractions = Map("en" -> 0.5), defaultFraction = 0.9,
      packBudget = 4096L, publishSpan = 1024L,
      embeddings = Some(emb), semClusters = 8, semIters = 2,
      semThreshold = 0.35,
      classifier = Some((weights, 256)), minClassifierScore = 0.0001,
      spanK = 8, spanMinDf = 2, lineMinDf = 2)
    // The finally covers ALL THREE eager runs: a failure in runInit
    // must not leak the persisted corpus for the session's lifetime.
    } finally lined.unpersist()
    s.createDataFrame(Seq((st.input, st.decontaminated, st.spanCleaned,
        st.lineCleaned, st.kept, st.semDropped, st.sampled, st.bins)))
      .toDF("input", "decontaminated", "span_cleaned", "line_cleaned",
        "kept", "sem_dropped", "sampled", "bins")
  }

  /** Exact corpus quantile report (q143): order-statistic percentiles
    * of per-document size metrics (chars = code points, words =
    * whitespace tokens) via [[graft.operators.Ranking.exactQuantiles]]
    * — the report-tier companion to q108's exactNtile. No
    * `percentile(…)` sort and no unpartitioned window over corpus
    * rows: each metric reduces to a distinct-value histogram
    * (map-side-combined groupBy), a cumulative count over THAT bounded
    * frame, and a bounded filter — so the 100 TB cost is one shuffle
    * of |distinct sizes| rows per metric. The ceil(p·N/100) pick is
    * integer-exact, replayed verbatim by the oracle. */
  def q143QuantileReport(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    // Melt both metrics out of ONE documents scan (the struct array is
    // the explode input itself — no expensive sibling re-evaluation),
    // then grouped single-pass quantiles partitioned by metric.
    val melted = Tables.documents(s, dir)
      .select(explode(array(
        struct(lit("chars").as("metric"),
          length(col("text")).cast("long").as("v")),
        struct(lit("words").as("metric"),
          size(tokens(col("text"))).cast("long").as("v")))).as("m"))
      .select(col("m.metric").as("metric"), col("m.v").as("v"))
    Ranking.exactQuantilesBy(melted, "metric", "v", Seq(10, 25, 50, 75, 90, 99))
      .select(col("metric"), col("percentile"), col("value"))
  }

  /** Line-granular boilerplate dedup (q144):
    * [[graft.operators.TextDedup.removeRepeatedLines]] over synthesized
    * line structure (the corpus has no newlines — q121's 8-token-slice
    * synthesis, minus the punctuation parity) with a shared footer line
    * planted on the md5-parity half of the corpus. The footer reaches
    * line-df ≈ N/2 and is cut from every planted document; organic
    * slice lines that happen to coincide across documents are cut by
    * the same df >= 2 rule on BOTH engines (the oracle counts line
    * strings where the operator counts 64-bit line hashes — the
    * [[graft.operators.TextDedup.gramFrame]] collision stance). */
  /** The span-plant token stream q146 builds its corpus from: the raw
    * whitespace tokens, with a 12-token boilerplate run inserted at an
    * md5-derived UNALIGNED offset (1..3) on the md5-drawn half of
    * docs. Unaligned matters: the 8-token slice lines around the run
    * stay doc-unique (the line stage must NOT eat the plant — an
    * aligned run becomes a repeated line, and offsets >= 4 would push
    * 8 consecutive boiler tokens into one cohort-shared line), while
    * the identical token run itself crosses the span gram-df
    * threshold corpus-wide. */
  private def plantedToks: Column = {
    import graft.functions.TextFunctions.tokens
    val base = tokens(col("text"))
    val draw = md5(concat(col("doc_id").cast("string"), lit("#span")))
    val off = (conv(substring(draw, 1, 8), 16, 10).cast("long") % 3 + 1)
      .cast("int")
    val boiler = array(Seq("this", "content", "is", "provided", "under",
      "the", "creative", "commons", "attribution", "license", "terms",
      "only").map(lit): _*)
    when(substring(draw, 1, 1)
        .isin("0", "1", "2", "3", "4", "5", "6", "7"),
        concat(slice(base, lit(1), off), boiler,
          slice(base, off + 1, lit(1 << 20))))
      .otherwise(base)
  }

  /** Line-structure synthesis shared by q144/q145: the corpus has no
    * newlines, so line-granular dedup entries slice each document into
    * 8-token lines and plant a nav-bar footer on the md5-drawn half of
    * docs (deterministic, replayed verbatim by the oracles). q146
    * composes [[plantedToks]] + [[lineSynthesis]] directly instead —
    * its corpus also needs the span plant and near-dup replicas. */
  private def linedDocs(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    lineSynthesis(Tables.documents(s, dir).select(col("doc_id"),
      tokens(col("text")).as("toks")))
  }

  /** 8-token slice lines + md5-drawn footer over a (doc_id, toks)
    * frame — the slicing tail of [[linedDocs]], exposed separately so
    * q146 can line-synthesize a corpus with token-level near-dup
    * replicas (a "copy"-prefixed token stream re-slices into
    * DIFFERENT lines than its original, so the pair survives line
    * dedup and exercises the near-dup survivor stage). */
  private def lineSynthesis(docsToks: DataFrame): DataFrame = {
    val toks = col("toks")
    val nl = greatest(floor((size(toks) + lit(7)) / lit(8)).cast("int"), lit(1))
    docsToks.select(col("doc_id"),
      concat(
        array_join(transform(sequence(lit(0), nl - 1), i =>
          array_join(slice(toks, i * 8 + 1, lit(8)), " ")), "\n"),
        when(substring(md5(concat(col("doc_id").cast("string"), lit("#footer"))), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"),
          lit("\nsubscribe to the newsletter for weekly updates"))
          .otherwise(lit(""))).as("text"))
  }

  def q144LineDedup(s: SparkSession, dir: String): DataFrame =
    TextDedup.removeRepeatedLines(linedDocs(s, dir), "doc_id", "text", minDf = 2)

  /** Extended PII redaction (q140): emails, URLs, IPv4 literals and
    * phone-like digit runs rewritten in one deterministic pass, with
    * per-pattern counts on the raw text — the wider scrub a
    * production hygiene stage runs before anything else sees the
    * corpus (q42's pair extended; patterns stay in the RE2-compatible
    * subset so the oracle replays them verbatim). */
  def q140RedactPii(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.redactPii(Tables.documents(s, dir), "doc_id", "text")

  /** Quantizer-drift monitor (q139): the state corpus (even vec_ids)
    * trains the frozen quantizer; the weekly batch (odd vec_ids) is
    * scored against it. Comparing the batch row's mean/max
    * nearest-centroid distance to the state row's own fit is the
    * retrain-decision table for
    * [[graft.pipeline.CurationRun.rebaseState]]'s `retrainSemantic`
    * valve — the operational complement of q131's raw-distribution
    * drift monitor. */
  def q139QuantizerDrift(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val state = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val batch = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    val cen = VectorSim.kmeansCentroids(state, 8, 2)
    VectorSim.quantizerDrift(Seq("state" -> state, "batch" -> batch), cen)
  }

  /** IVFADC operating table (q97): recall@5 against exact brute-force
    * at nprobe ∈ {1, 2, 4} from ONE trained model + coarse quantizer —
    * the parameter-planning table for operating ANN at scale (the q86
    * calibration idea applied to the q74 index): read it to pick the
    * cheapest nprobe that clears a recall target. */
  def q97IvfRecallSweep(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.where(col("vec_id") < 5)
    val m = VectorSim.pqTrain(emb, dim = 64, subspaces = 8, k = 16, iters = 2)
    val cen = VectorSim.kmeansCentroids(emb, 8, 2)
    val exact = VectorSim.knnBruteForce(queries, emb, 5)
      .select(col("query_id"), col("neighbor_id"))
    val tot = exact.agg(count(lit(1)).as("n_exact"))
    Seq(1, 2, 4).map { np =>
      VectorSim.pqSearchIvf(queries, emb, m, cen, nprobe = np, k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(np).cast("int").as("nprobe"), col("n_hits"))
    }.reduce(_ unionByName _)
      .crossJoin(tot)
      .select(col("nprobe"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_exact").cast("double")).as("recall"))
  }

  /** Leakage-safe split (q98): 96/2/2 train/val/test where the split
    * key is the q53 near-dup cluster canonical — paraphrases of a
    * training doc can never land in eval. */
  def q98LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val idx = TextDedup.buildIndex(Tables.documents(s, dir), "doc_id", "text",
      n = 3, bits = 32).persist()
    // Shared signature frame — see q22.
    val sig = TextDedup.minhashSignatures(idx, 32).persist()
    val clusters = TextDedup.connectedComponents(
      TextDedup.minhashLshPairs(idx, sig, threshold = 0.05, numHashes = 32,
        bands = 16))
    CacheLease.releaseAfterAction(
      DataMix.leakageSafeSplit(Tables.documents(s, dir), clusters, "doc_id",
        Seq("train" -> 96, "val" -> 2, "test" -> 2)))(
      () => { idx.unpersist(); sig.unpersist(); () })
  }

  /** Span decontamination (q100): the STRIP alternative to q47's drop
    * decision — benchmark = the doc_id%97==0 slice (the q47 split),
    * every corpus token under a benchmark-overlapping 3-gram cut out. */
  def q100DeconSpans(s: SparkSession, dir: String): DataFrame = {
    // Spread (see q137): the gram explode + strip kernel run over a
    // one-file scan in one lazy action.
    val d = Spread.toCores(Tables.documents(s, dir))
    TextDedup.removeContaminatedSpans(
      d.where(pmod(col("doc_id"), lit(97)) =!= 0),
      d.where(pmod(col("doc_id"), lit(97)) === 0),
      "doc_id", "text", k = 3)
  }

  /** Epoch mix (q99): LLaMA-style per-source epoch counts — src1 3.0,
    * src2 2.45, src3 0.50, everything else 1.0 — as the replicated
    * (doc, epoch) corpus listing. */
  def q99EpochMix(s: SparkSession, dir: String): DataFrame =
    DataMix.epochMix(Tables.documents(s, dir), "doc_id", "source",
      Map("src1" -> 300, "src2" -> 245, "src3" -> 50), defaultPct = 100)

  /** Cross-source overlap matrix (q101): distinct 3-token-shingle
    * overlap between every source pair — the datasheet diversity/
    * soft-contamination number (the whole-doc-hash mode is empty on
    * this corpus: no source copies another verbatim). */
  def q101SourceOverlap(s: SparkSession, dir: String): DataFrame =
    TextDedup.crossSourceOverlap(Tables.documents(s, dir),
      "doc_id", "text", "source", shingleK = 3)

  /** Temperature mix at alpha = 1/2 (q102): per-source sampling weights
    * proportional to sqrt(token count) under a 1M-token budget —
    * sqrt is correctly-rounded IEEE, so the mix table is bit-exact
    * across engines (unlike any pow()-based alpha). */
  def q102TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    DataMix.temperatureMixHalf(
      Tables.documents(s, dir).select(col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens")),
      "source", "n_tokens", budgetTokens = 1000000L)
  }

  /** Balanced shard report (q103): per-source round-robin over docs in
    * descending token order (relational LPT), rolled up to per-shard
    * totals + fill ratio vs the heaviest shard. */
  def q103BalancedShards(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    DataMix.shardBalance(
      DataMix.balancedShards(
        Tables.documents(s, dir).select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", "source", "n_tokens", shards = 8),
      "n_tokens")
  }

  /** Hard-negative mining (q104): per query, top-5 most-similar
    * vectors OUTSIDE the query's k-means cell — the closest
    * non-positives a dense-retriever trainer wants (same coarse
    * quantizer constants as q39). */
  def q104HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    VectorSim.hardNegatives(emb.where(col("vec_id") < 5), emb,
      VectorSim.kmeansCentroids(emb, 8, 2), k = 5)
  }

  /** Content-defined chunk inventory (q105): FastCDC-style boundaries
    * (4-token windows, cut where the md5 draw ≡ 0 mod 8), duplicated
    * chunk contents counted across documents. */
  def q105CdcChunks(s: SparkSession, dir: String): DataFrame =
    // Spread (see q137): per-token rolling-hash chunking over a
    // one-file scan, one lazy action.
    TextDedup.cdcChunkDups(Spread.toCores(Tables.documents(s, dir)),
      "doc_id", "text", w = 4, modulus = 8)

  /** Per-source length profile (q106): doc/token totals plus EXACT
    * p50/p90/p99 token-length order statistics — the distribution that
    * sizes packing budgets and max_seq_len. */
  def q106LengthProfile(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lengthProfile(Tables.documents(s, dir),
      "doc_id", "text", "source")

  /** Packing efficiency (q107): the q49 packing rolled up to per-shard
    * bin fill — 1 - fill_ratio is the padding-waste compute fraction. */
  def q107PackingEfficiency(s: SparkSession, dir: String): DataFrame =
    DataMix.packingEfficiency(
      DataMix.packSequences(
        TextAnalysis.tokenCounts(Tables.documents(s, dir), "doc_id", "text")
          .select(col("doc_id"), col("n_ws_tokens").cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 4096L, shards = 8),
      budget = 4096L)

  /** Tokenizer comparison (q109): per-source fertility of BOTH trained
    * subword families — q65's BPE merges and q95's unigram-LM model —
    * from one corpus scan. The per-word symbol counts come from the
    * two referenced-model kernels over the (vocabulary-bounded) word
    * table; the corpus-scale half is one token explode joined against
    * that small frame. The table that decides which tokenizer a
    * pretraining run ships. */
  def q109TokenizerCompare(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{bpeApplyMergesNative, tokens}
    val docs = Tables.documents(s, dir)
    val wf = BpeTrainer.wordFrequencies(docs, "text").persist()
    val merges = BpeTrainer.train(wf, maxMerges = 3, minCount = 1L)
    val (model, _) = UnigramTrainer.train(wf,
      UnigramSql.MaxPieceLen, UnigramSql.SeedMulti, UnigramSql.EmIters)
    val perWord = UnigramTrainer.segment(wf, model)
      .select(col("word").as("token"), col("n_pieces"))
      .join(wf.select(col("token"),
        size(bpeApplyMergesNative(col("token"), merges.map(_.pair)))
          .as("nbpe")), "token")
    CacheLease.releaseAfterAction(
      docs.select(col("source"), explode(tokens(col("text"))).as("token"))
        .join(perWord, "token")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("nbpe")).as("n_bpe_symbols"),
          sum(col("n_pieces")).as("n_uni_pieces"))
        .select(col("source"), col("n_words"), col("n_bpe_symbols"),
          round(col("n_bpe_symbols").cast("double") / col("n_words"), 6)
            .as("bpe_fertility"),
          col("n_uni_pieces"),
          round(col("n_uni_pieces").cast("double") / col("n_words"), 6)
            .as("uni_fertility"))
    )(() => { wf.unpersist(); () })
  }

  /** Epoch plan executed (q110): the q102 temperature mix exported as
    * integer epoch percents (pct = 100·target/actual, integer-exact)
    * and run through the q99 replication machinery — recipe
    * computation COMPOSING into corpus materialization. */
  def q110EpochPlan(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val docs = Tables.documents(s, dir)
    val plan = DataMix.temperatureMixHalf(
      docs.select(col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens")),
      "source", "n_tokens", budgetTokens = 1000000L)
      .select(col("source"),
        expr("CAST((100 * target_tokens) DIV n_tokens AS INT)").as("pct"))
    DataMix.epochMixByPlan(docs, "doc_id", "source", plan, defaultPct = 100)
  }

  /** Mix drift monitor (q112): per-source token share of ingest wave A
    * (doc_id even) vs wave B (odd) with the share delta and an alert
    * flag — the dashboard row that catches a source silently changing
    * volume between waves. */
  def q112MixDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    DataMix.mixDrift(
      Tables.documents(s, dir).select(col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        pmod(col("doc_id"), lit(2)).as("batch")),
      "source", "n_tokens", "batch", flagThreshold = 0.01)
  }

  /** Contrastive pairs (q113): per query its top same-cell positive
    * plus the 4 closest cross-cell hard negatives — the (anchor,
    * positive, negatives) rows an embedding trainer consumes (same
    * quantizer constants as q39/q104). */
  def q113ContrastivePairs(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    VectorSim.contrastivePairs(emb.where(col("vec_id") < 5), emb,
      VectorSim.kmeansCentroids(emb, 8, 2), kNeg = 4)
  }

  /** Split integrity audit (q114): does the q98 leakage-safe split
    * actually hold at SEQUENCE level? Per eval split: how many docs
    * share at least one 3-shingle with the train split (near-dup
    * clustering guards paraphrase leakage; this measures the residual
    * phrase-level overlap a benchmark-decon pass would still cut). */
  def q114SplitAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    // The split labels feed three consumers (train index, eval index,
    // final rollup) — persist the compact (doc_id, split) frame so the
    // LSH+CC chain underneath runs once, released after the action.
    val split = q98LeakageSafeSplit(s, dir)
      .select(col("doc_id"), col("split")).persist()
    val joined = docs.join(split, "doc_id")
    val train = joined.where(col("split") === "train")
    val eval = joined.where(col("split") =!= "train")
    val flagged = TextDedup.contaminated(eval, train, "doc_id", "text", n = 3)
      .select(col("doc_id"), lit(1L).as("c"))
    CacheLease.releaseAfterAction(
      eval.join(flagged, Seq("doc_id"), "left")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("c"), lit(0L))).as("overlapping_docs"))
        .withColumn("clean_docs", col("n_docs") - col("overlapping_docs"))
    )(() => { split.unpersist(); () })
  }

  /** Curriculum ordering (q115): every document assigned a training
    * stage by quality band (stage = 4·quality_score — exact dyadic
    * arithmetic, 0..4) plus a deterministic md5 order key — the
    * quality-annealed training order listing (low-quality mass early,
    * highest-quality band last) a loader sorts by (stage, order_key).
    * Pure map pass; the loader's sort is its own business. */
  def q115CurriculumOrder(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"),
        (col("quality_score") * 4).cast("int").as("stage"),
        substring(md5(concat(col("doc_id").cast("string"), lit("#curr"))),
          1, 13).as("order_key"))

  /** ANN method comparison (q116): recall@5 of all four index
    * families — hyperplane LSH (q26), IVF (q45), PQ ADC (q73),
    * IVFADC (q74) — against the exact top-k on one query set and one
    * set of trained models; the q97 sweep's method axis. The "pick
    * your index" operating table. */
  def q116AnnMethodCompare(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.where(col("vec_id") < 5)
    val exact = VectorSim.knnBruteForce(queries, emb, 5)
      .select(col("query_id"), col("neighbor_id")).persist()
    def recallOf(method: String, df: DataFrame) =
      df.select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(method).as("method"), col("n_hits"))
    val m = VectorSim.pqTrain(emb, dim = 64, subspaces = 8, k = 16, iters = 2)
    val cen = VectorSim.kmeansCentroids(emb, 8, 2)
    CacheLease.releaseAfterAction(
      Seq(
        recallOf("lsh", VectorSim.knnLsh(queries, emb, k = 5,
          dim = 64, bits = 2, tables = 8)),
        recallOf("ivf", VectorSim.knnIvf(queries, emb, k = 5,
          kClusters = 8, iters = 2, nprobe = 2)),
        recallOf("pq", VectorSim.pqSearch(queries, emb, m, k = 5)),
        recallOf("ivfadc", VectorSim.pqSearchIvf(queries, emb, m, cen,
          nprobe = 2, k = 5)))
        .reduce(_ unionByName _)
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .select(col("method"), col("n_hits"), col("n_exact"),
          round(col("n_hits").cast("double") / col("n_exact").cast("double"), 6)
            .as("recall"))
    )(() => { exact.unpersist(); () })
  }

  /** Ranked-retrieval metrics (q118): MRR / mean-nDCG@5 / recall@5 of
    * the two PRUNED index families (IVF, IVFADC) against the exact
    * top-k — q116's method axis upgraded with rank-sensitive quality
    * (equal recall can hide very different rank orderings; a retrieval
    * pipeline picks its index off this table, not recall alone). */
  def q118RetrievalMetrics(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.where(col("vec_id") < 5)
    val truth = VectorSim.knnBruteForce(queries, emb, 5)
      .select(col("query_id"), col("neighbor_id")).persist()
    val m = VectorSim.pqTrain(emb, dim = 64, subspaces = 8, k = 16, iters = 2)
    val cen = VectorSim.kmeansCentroids(emb, 8, 2)
    def metricsOf(method: String, df: DataFrame) =
      VectorSim.retrievalMetrics(df, truth, 5)
        .select(lit(method).as("method"), col("n_queries"), col("mrr"),
          col("mean_ndcg"), col("recall"))
    CacheLease.releaseAfterAction(
      metricsOf("ivf", VectorSim.knnIvf(queries, emb, k = 5,
        kClusters = 8, iters = 2, nprobe = 2))
        .unionByName(metricsOf("ivfadc", VectorSim.pqSearchIvf(
          queries, emb, m, cen, nprobe = 2, k = 5)))
    )(() => { truth.unpersist(); () })
  }

  /** Dataset snapshot diff (q119): the versioning changelog between
    * two crawl snapshots — old = doc_id % 3 != 0, new = doc_id % 5
    * != 0 with docs at doc_id % 7 == 0 re-crawled with extra content
    * — added/removed/changed/unchanged per source with token deltas. */
  def q119SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    TextDedup.snapshotDiff(
      d.where(pmod(col("doc_id"), lit(3)) =!= 0),
      d.where(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" rev2 content"))).otherwise(col("text"))),
      "doc_id", "text", "source")
  }

  /** JL random projection (q120): 64 → 16 dims under the md5-derived
    * projection matrix — the ANN pre-reduction pass, bit-exact in any
    * engine. */
  def q120RandomProjection(s: SparkSession, dir: String): DataFrame =
    VectorSim.randomProjection(Tables.embeddings(s, dir),
      dim = 64, outDim = 16, seed = 7L)

  /** C4 line-level cleaning (q121): the corpus has no line structure,
    * so lines are synthesized deterministically from the token stream
    * (the q93 fixture pattern) — 8-token lines, a line gains terminal
    * punctuation when the md5 draw of (doc_id, line_idx) lands in the
    * low half, so the C4 keep rule actually discriminates — then the
    * real [[TextAnalysis.c4LineFilter]] runs over the line-shaped
    * text. */
  def q121C4LineFilter(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val d = Tables.documents(s, dir)
    val toks = tokens(col("text"))
    val nl = greatest(floor((size(toks) + lit(7)) / lit(8)).cast("int"), lit(1))
    val raw = d.select(col("doc_id"),
      array_join(transform(sequence(lit(0), nl - 1), i =>
        concat(array_join(slice(toks, i * 8 + 1, lit(8)), " "),
          when(substring(md5(concat(col("doc_id").cast("string"), lit("#ln"),
            i.cast("string"))), 1, 1)
            .isin("0", "1", "2", "3", "4", "5", "6", "7"), ".")
            .otherwise(""))), "\n").as("text"))
    TextAnalysis.c4LineFilter(raw, "doc_id", "text")
  }

  /** PMI collocations (q122): top-50 adjacent-word associations by
    * pointwise mutual information at bigram support >= 5 — the phrase
    * vocabulary / multiword-expression pass. */
  def q122Collocations(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.collocations(Tables.documents(s, dir), "doc_id", "text",
      minCount = 5L, k = 50)

  /** Reduced-dimension ANN operating table (q123): exact search run in
    * JL-projected space (8/16/32 dims) scored against the full-64-dim
    * exact top-5 with the q118 metric triple — how much retrieval
    * quality each compression step costs, the dial that sizes the
    * projection before an index build. */
  def q123ProjectedAnnEval(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val truth = VectorSim.knnBruteForce(emb.where(col("vec_id") < 5), emb, 5)
      .select(col("query_id"), col("neighbor_id")).persist()
    def row(od: Int) = {
      val proj = VectorSim.randomProjection(emb, dim = 64, outDim = od,
        seed = 7L)
        .select(col("vec_id"),
          array((0 until od).map(j => col(s"p$j").cast("float")): _*)
            .as("embedding"))
      VectorSim.retrievalMetrics(
        VectorSim.knnBruteForce(proj.where(col("vec_id") < 5), proj, 5),
        truth, 5)
        .select(lit(od).as("out_dim"), col("n_queries"), col("mrr"),
          col("mean_ndcg"), col("recall"))
    }
    CacheLease.releaseAfterAction(
      Seq(8, 16, 32).map(row).reduce(_ unionByName _)
    )(() => { truth.unpersist(); () })
  }

  /** Winnowing fingerprints (q124): the MOSS sampled fingerprint
    * census per document (k=4 grams, w=4 windows) with the cross-doc
    * shared-fingerprint overlap signal. */
  def q124Winnowing(s: SparkSession, dir: String): DataFrame =
    TextDedup.winnowFingerprints(Tables.documents(s, dir), "doc_id", "text",
      k = 4, w = 4)

  /** Vocabulary growth curve (q125): Heaps'-law checkpoints over the
    * doc_id ingestion order — does more data still buy vocabulary? */
  def q125VocabGrowth(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabGrowth(Tables.documents(s, dir), "doc_id", "text")

  /** Soft dedup (q126): the q53 near-dup clusters routed through
    * duplicate-aware sampling — keep each doc with probability
    * 1/cluster_size (integer-exact 52-bit draw) instead of a hard
    * survivor pick. */
  def q126SoftDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val idx = TextDedup.buildIndex(docs, "doc_id", "text",
      n = 3, bits = 32).persist()
    // Shared signature frame — see q22.
    val sig = TextDedup.minhashSignatures(idx, 32).persist()
    CacheLease.releaseAfterAction(
      TextDedup.softDedup(docs,
        TextDedup.connectedComponents(
          TextDedup.minhashLshPairs(idx, sig, threshold = 0.05, numHashes = 32,
            bands = 16)), "doc_id"))(
      () => { idx.unpersist(); sig.unpersist(); () })
  }

  /** Character-entropy profile (q127): the gibberish/filler/blob
    * detector band check per document. */
  def q127CharEntropy(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.charEntropyProfile(Tables.documents(s, dir), "doc_id", "text")

  /** Session transcripts (q128): the events log flattened to ordered
    * behavioral-sequence training documents (one line per gap-bounded
    * session). */
  def q128SessionTranscripts(s: SparkSession, dir: String): DataFrame =
    EventOps.sessionTranscripts(Tables.events(s, dir),
      gapMs = 6L * 3600 * 1000)

  /** Dedup graph profile (q129): cluster-size histogram of the q53
    * near-dup graph (singletons included) — the planning number that
    * says whether duplication is a long tail of pairs or a few huge
    * templated families (which decides hard-dedup vs q126 soft
    * sampling vs span removal). */
  def q129DedupGraphProfile(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val idx = TextDedup.buildIndex(docs, "doc_id", "text",
      n = 3, bits = 32).persist()
    // Shared signature frame — see q22.
    val sig = TextDedup.minhashSignatures(idx, 32).persist()
    val clusters = TextDedup.connectedComponents(
      TextDedup.minhashLshPairs(idx, sig, threshold = 0.05, numHashes = 32,
        bands = 16))
    val sizes = docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(coalesce(col("canonical_id"), col("doc_id")).as("group_id"))
      .groupBy(col("group_id")).agg(count(lit(1)).as("cluster_size"))
    CacheLease.releaseAfterAction(
      sizes.groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
    )(() => { idx.unpersist(); sig.unpersist(); () })
  }

  /** Fused quality feature vector (q130): all six map-tier quality
    * signals from one corpus scan. */
  def q130QualitySignals(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualitySignals(Tables.documents(s, dir), "doc_id", "text")

  /** Embedding distribution drift (q131): per-dimension mean/variance
    * of ingest wave A (even vec_id) vs wave B (odd) — the
    * embedding-space twin of the q112 mix-drift monitor (a changed
    * encoder or a shifted corpus shows up here before any downstream
    * index degrades). */
  def q131EmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    def stats(df: DataFrame) = {
      val x = col("x").cast("double")
      df.select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"), sum(x).as("s1"),
          sum(round(x * x, 8).cast("decimal(20,8)")).as("s2"))
        .select(col("dim"), col("n"),
          round(col("s1") / col("n"), 6).as("mean"),
          round(col("s2").cast("double") / col("n") -
            (col("s1") / col("n")) * (col("s1") / col("n")), 6).as("variance"))
    }
    val emb = Tables.embeddings(s, dir)
    val a = stats(emb.where(pmod(col("vec_id"), lit(2)) === 0))
      .select(col("dim"), col("n").as("n_a"), col("mean").as("mean_a"),
        col("variance").as("var_a"))
    val b = stats(emb.where(pmod(col("vec_id"), lit(2)) =!= 0))
      .select(col("dim"), col("n").as("n_b"), col("mean").as("mean_b"),
        col("variance").as("var_b"))
    a.join(b, "dim")
      .select(col("dim"), col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"),
        round(col("mean_b") - col("mean_a"), 6).as("mean_delta"),
        col("var_a"), col("var_b"),
        round(col("var_b") / col("var_a"), 6).as("var_ratio"))
  }

  /** Stupid-backoff trigram LM (q132): the unnormalized web-scale
    * backoff score over the q59 split — all three levels (trigram
    * hit, bigram backoff, add-one unigram floor) exercised. */
  def q132StupidBackoff(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    TextAnalysis.stupidBackoffScore(
      d.where(pmod(col("doc_id"), lit(97)) =!= 0),
      d.where(pmod(col("doc_id"), lit(97)) === 0),
      "doc_id", "text")
  }

  /** Length-bucketed dynamic batching (q133): power-of-two bands,
    * budget-div-band batch capacities — the SFT-side alternative to
    * q49's concatenative packing. */
  def q133LengthBatching(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    DataMix.lengthBatching(
      Tables.documents(s, dir).select(col("doc_id"),
        size(tokens(col("text"))).as("nt")),
      "doc_id", "nt", budget = 4096L)
  }

  /** Token-run loop detector (q134): longest single-token run per
    * document — the degenerate-generation / looped-filler signal. */
  def q134TokenRuns(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenRuns(Tables.documents(s, dir), "doc_id", "text")

  /** PQ reconstruction report (q135): per-subspace quantization MSE +
    * codebook utilization under the q73 model constants — the second
    * PQ tuning axis beside q97's recall sweep. */
  def q135PqReconstruction(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    VectorSim.pqReconstruction(emb,
      VectorSim.pqTrain(emb, dim = 64, subspaces = 8, k = 16, iters = 2))
  }

  /** Cross-snapshot chunk reuse (q136): the q119 snapshot pair at CDC
    * chunk granularity — what fraction of the NEW crawl's chunk mass
    * already exists in the old snapshot (content-anchored cuts survive
    * the recrawl edits, so reuse stays high where a fixed-block diff
    * would resync) — the storage/transfer dedup planning number. */
  def q136ChunkReuse(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val old = d.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val nw = d.where(pmod(col("doc_id"), lit(5)) =!= 0)
      .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" rev2 content"))).otherwise(col("text")))
    val oldCh = TextDedup.cdcChunks(old, "doc_id", "text", w = 4, modulus = 8)
      .select(col("chunk_hash")).distinct()
    TextDedup.cdcChunks(nw, "doc_id", "text", w = 4, modulus = 8)
      .join(nw.select(col("doc_id"), col("source")), "doc_id")
      .join(oldCh.withColumn("reused", lit(1L)), Seq("chunk_hash"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("reused"), lit(0L))).as("n_reused"),
        sum(col("chunk_tokens").cast("long")).as("tokens_total"),
        sum(when(col("reused").isNotNull, col("chunk_tokens").cast("long"))
          .otherwise(0L)).as("tokens_reused"))
      .withColumn("reuse_ratio",
        round(col("tokens_reused").cast("double") /
          col("tokens_total").cast("double"), 6))
  }

  /** Dedup savings planner (q111): removable-token mass under the
    * three dedup granularities side by side — whole-document exact
    * (q20), content-defined chunks (q105), repeated spans (q69) —
    * the cost/benefit table that picks a dedup strategy before the
    * expensive pass runs at full scale. */
  def q111DedupSavings(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val docs = Tables.documents(s, dir)
    val withTok = docs.select(col("doc_id"), col("text"),
      size(tokens(col("text"))).cast("long").as("nt"))
    val corpus = withTok.agg(sum(col("nt")).as("corpus_tokens"))
    val exactSav = withTok
      .select(TextDedup.contentHash(col("text")).as("h"), col("nt"))
      .groupBy(col("h"))
      .agg(((count(lit(1)) - 1) * min(col("nt"))).as("sav"))
      .agg(coalesce(sum(col("sav")), lit(0L)).as("tokens_removable"))
      .select(lit("exact_doc").as("strategy"), col("tokens_removable"))
    val cdcSav = TextDedup.cdcChunkDups(docs, "doc_id", "text",
      w = 4, modulus = 8)
      .agg(coalesce(sum((col("n_occurrences") - 1) * col("chunk_tokens")),
        lit(0L)).as("tokens_removable"))
      .select(lit("cdc_chunk").as("strategy"), col("tokens_removable"))
    // Scoped span chain with the lease armed on the RETURNED frame:
    // the crossJoin below makes the analyzer deduplicate-relations-
    // copy the union branches (docs attribute ids repeat across all
    // four), so a lease armed on the inner span frame never identity-
    // matches — the exact silent-leak mode cache_leases_reclaimed
    // exists to surface (it did: 1 per q111 run in BENCH r08 drafts).
    // The root of the returned plan is what the caller acts on, so
    // anchoring there survives subtree copying.
    val (spanRaw, spanRel) = TextDedup
      .removeRepeatedSpansScoped(docs, "doc_id", "text", k = 8)
    val spanSav = spanRaw
      .agg(coalesce(sum(col("n_removed")), lit(0L)).as("tokens_removable"))
      .select(lit("span_k8").as("strategy"), col("tokens_removable"))
    CacheLease.releaseAfterAction(
      exactSav.unionByName(cdcSav).unionByName(spanSav)
        .crossJoin(corpus)
        .select(col("strategy"), col("tokens_removable"),
          round(col("tokens_removable").cast("double") /
            col("corpus_tokens").cast("double"), 6).as("removable_frac"))
    )(spanRel)
  }

  /** Classifier calibration crosstab (q108): q82's score QUARTILES
    * (rank-based ntile with a doc_id tiebreak — absolute deciles
    * collapse when GD scores cluster) against the q79 Gopher gate —
    * do the two quality families agree? Mean scores ride the
    * decimal-exact-sum discipline. Quartiles come from
    * [[graft.operators.Ranking.exactNtile]] (VERDICT r07 item 1):
    * identical tile semantics to `ntile(4)` over a global sort by
    * (score, md5 tie order — the r08 tie-group hardening, replayed
    * verbatim by the oracle), but computed as a distinct-(score,
    * tie-bucket) histogram + offset equi-join (AQE broadcasts when
    * small) + per-bucket rank — no unpartitioned corpus-scale WindowExec
    * (PlanSpec-pinned). The joined frame feeds both the histogram and
    * the rank join, so it rides a lease-scoped persist. */
  def q108ClassifierCalibration(s: SparkSession, dir: String): DataFrame = {
    val scored = q82QualityClassifier(s, dir)
      .select(col("doc_id"), col("score"))
    val gate = TextAnalysis.gopherRules(Tables.documents(s, dir),
      "doc_id", "text").select(col("doc_id"), col("pass"))
    val joined = scored.join(gate, "doc_id").persist()
    CacheLease.releaseAfterAction(
      Ranking.exactNtile(joined, "score", "doc_id", 4, "quartile")
        .groupBy(col("quartile"), col("pass"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("score").cast("decimal(20,8)")).cast("double") /
            count(lit(1)), 6).as("mean_score"))
    )(() => { joined.unpersist(); () })
  }

  def q25KnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    VectorSim.knnBruteForce(emb.where(col("vec_id") < 5), emb, k = 5)
  }

  def q26KnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    VectorSim.knnLsh(emb.where(col("vec_id") < 5), emb, k = 5,
      dim = 64, bits = 2, tables = 8)
  }

  /** End-to-end curation pipeline: quality-gate the corpus, take exact
    * -dedup canonical survivors, then profile the survivors by detected
    * language — operator COMPOSITION is the point (each stage is an
    * already-verified operator; the chain is one lazy plan, so Catalyst
    * pushes the quality filter beneath everything downstream). */
  /** End-to-end curation run as ONE oracle-checked catalog entry
    * (q137, VERDICT r06 item 8): [[graft.pipeline.CurationRun.run]]
    * over the %97 corpus/benchmark split with EVERY stage active —
    * normalize, redact, heuristic quality gate, trained-classifier
    * gate, benchmark decontamination, repeated-span removal, MinHash+
    * LSH near-dup survivor selection, embedding-space semantic dedup,
    * language-stratified sampling, and sequence packing — returning
    * the per-stage audit counts as one row. The DuckDB oracle replays
    * the WHOLE composed pipeline (the q32 CTE-chain discipline
    * extended to all ten stages) and must reproduce every count.
    * semMaxCellSize = 1000 > |corpus| keeps the cell guard inert, so
    * the oracle's unguarded pair domain is exact by the q75 equality
    * pin. */
  def q137CurationE2e(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityClassifier
    import graft.pipeline.CurationRun
    // Spread the one-file scan once at the entry: every map tier of the
    // composed pipeline (normalize/redact HOF kernels, gates, shingles)
    // otherwise runs single-task before its first exchange (guide §2.5).
    val docs = Spread.toCores(Tables.documents(s, dir))
    val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
    val benchmark = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    // Pre-trained classifier artifact: the q82/q83 GD fixture (labels
    // = lang == 'en'), but trained on the NORMALIZED full table — the
    // text shape the gate will score (raw-cased training grams land in
    // disjoint feature buckets after lowercasing and gate everything
    // out). minClassifierScore = 0.0001 is calibrated to this model's
    // score distribution (length-dominated sigmoid tail); with
    // minQuality = 0.75, decon floor 1, and semThreshold = 0.35 (the
    // q24 cosine scale of the synthetic embeddings), EVERY stage has
    // nonzero attrition at both verify SFs — no stage rides through
    // inert.
    val normAll = TextAnalysis
      .normalize(docs, "doc_id", "text")
      .select(col("doc_id"), col("norm_text").as("text"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val weights = QualityClassifier.train(
      normAll.withColumn("y", when(col("lang") === "en", 1).otherwise(0)),
      "doc_id", "text", "y", buckets = 256, iters = 3, lr = 0.5)
    val out = scratchDir("q137_out")
    val st = CurationRun.run(corpus, benchmark, out,
      minQuality = 0.75, dedupThreshold = 0.25, minContaminatedShingles = 1,
      fractions = Map("en" -> 0.5), defaultFraction = 0.9,
      packBudget = 4096L, publishSpan = 1024L,
      spanK = 8, spanMinDf = 2,
      embeddings = Some(Tables.embeddings(s, dir)),
      semClusters = 8, semIters = 2, semThreshold = 0.35,
      semMaxCellSize = 1000,
      classifier = Some((weights, 256)), minClassifierScore = 0.0001)
    s.createDataFrame(Seq((st.input, st.gated, st.modelGated,
        st.decontaminated, st.spanCleaned, st.kept, st.semDropped,
        st.sampled, st.bins)))
      .toDF("input", "gated", "model_gated", "decontaminated",
        "span_cleaned", "kept", "sem_dropped", "sampled", "bins")
  }

  def q32CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val kept = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .where(col("quality_score") >= 0.75)
      .select(col("doc_id"), col("n_tokens"))
    val canonical = TextDedup.exact(
      docs.join(kept, "doc_id"), "doc_id", "text")
      .select(col("canonical_id").as("doc_id"))
    TextAnalysis.languageId(docs.join(canonical, "doc_id"), "doc_id", "text")
      .join(kept, "doc_id")
      .groupBy(col("detected_lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"))
  }

  /** Relational sessionization over events (6-hour inactivity gap) —
    * the batch twin of the flatMapGroupsWithState streaming operator. */
  def q28Sessionize(s: SparkSession, dir: String): DataFrame =
    EventOps.sessionize(Tables.events(s, dir), gapMs = 6L * 3600 * 1000)

  /** As-of join: each purchase matched to the user's latest click at
    * or before it (left outer — null columns when the user never
    * clicked before). */
  def q40AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    EventOps.asofJoin(
      ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts")),
      ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts")),
      keyCol = "user_id", tsCol = "ts", prefix = "r_")
      .select(
        col("user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("r_event_id").as("click_id"), col("r_ts").as("click_ts"))
  }

  /** Banded interval join: every (error, view) pair per user with the
    * view in the 15 minutes up to the error. */
  def q41IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    EventOps.intervalJoin(
      ev.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts")),
      ev.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("ts")),
      keyCol = "user_id", tsCol = "ts", windowMs = 15L * 60 * 1000, prefix = "r_")
      .select(
        col("user_id"),
        col("event_id").as("error_id"), col("ts").as("error_ts"),
        col("r_event_id").as("view_id"), col("r_ts").as("view_ts"),
        (unix_millis(col("ts")) - unix_millis(col("r_ts"))).as("ms_before"))
  }

  def q27MultimodalStats(s: SparkSession, dir: String): DataFrame =
    Multimodal.modalityStats(
      Multimodal.decodeFeatures(
        Multimodal.assetsFromDocuments(Tables.documents(s, dir))))

  /** REAL codec round-trip (q76): every even doc id becomes an actual
    * PNG (javax.imageio), every odd id an actual WAV
    * (javax.sound.sampled), with dimensions derived from the id by
    * fixed arithmetic; the engine then DECODES the bytes back. The
    * oracle recomputes the expected dimensions from the ids alone, so
    * a match proves the decoded raster/frame counts — not copied
    * metadata — round-tripped through the real codecs. */
  def q76MediaDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMedia(
      Multimodal.mediaAssetsFromIds(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id"))
      .toDF()
      .select(col("asset_id"), col("media_type"),
        col("width"), col("height"), col("channels"), col("duration_ms"))

  /** Perceptual image dedup (q89): ids paint patterned PNGs whose
    * content class is `id % 6` at id-varied pixel sizes; the engine
    * must DECODE the real bytes, average-pool resize to the 8x8 grid,
    * aHash, and group — the oracle recomputes the expected canonical
    * (min id per class) from ids alone, so a match proves the whole
    * decode→resize→hash pipeline (the q76 trick extended to image
    * CONTENT). */
  def q89ImageNearDup(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageNearDup(
      Multimodal.patternAssetsFromIds(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id",
        classes = 6))

  /** Perceptual audio dedup (q147, VERDICT r08 item 8 — q89's shape
    * for the audio modality): ids synthesize tone-pattern WAVs whose
    * banded-energy class is `id % 6` at id-varied duration AND gain;
    * the engine must DECODE the real WAV bytes, pool per-band energy,
    * and threshold against the file mean (the loudness-invariant
    * fingerprint) before the hash groupBy — the oracle recomputes the
    * expected canonical (min id per class) from ids alone, so a match
    * proves the whole decode→band-pool→fingerprint pipeline. */
  def q147AudioNearDup(s: SparkSession, dir: String): DataFrame =
    // The encode tier spreads inside toneAssetsFromIds (r14): an early
    // flat A/B spread the DOCUMENTS scan, whose exchange landed before
    // the column prune and measured nothing; spreading the pruned
    // one-column id frame halves the entry (4.1 -> 2.4 s min-of-3).
    Multimodal.audioNearDup(
      Multimodal.toneAssetsFromIds(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id",
        classes = 6))

  /** Corpus rank over a LOW-cardinality metric (q148): every document
    * ranked by its Gopher rule pass COUNT — at most 8 distinct values
    * over the whole corpus, so the tie group IS the corpus. This is
    * the exact regime the r08 verdict named as [[Ranking]]'s residual
    * hazard (a boolean gate / 0–7 rule count); running it as a
    * catalog entry puts the md5 tie-bucket discipline under BOTH
    * gates every round: the DuckDB hash compare (rank semantics) and
    * the runtime window-skew tripwire at bench (no dominant-task
    * sort). Null flags count as failed rules (coalesce to false on
    * both engines), so `pass_ct` is total and no document is dropped
    * by the rank's null contract. */
  def q148LowCardRank(s: SparkSession, dir: String): DataFrame = {
    val flags = TextAnalysis.gopherRules(
      Tables.documents(s, dir), "doc_id", "text")
    val okCols = Seq("words_ok", "word_len_ok", "symbol_ok", "bullet_ok",
      "ellipsis_ok", "alpha_ok", "stopword_ok")
    val passCt = okCols
      .map(c => coalesce(col(c).cast("int"), lit(0))).reduce(_ + _)
    Ranking.globalRank(
      flags.select(col("doc_id"), passCt.as("pass_ct")),
      "pass_ct", "doc_id", "rank")
  }

  /** Weekly BM25 retrieval-index cadence (q149): init + two
    * incremental postings batches ([[graft.pipeline.Bm25State]] — the
    * lexical-retrieval member of the weekly state families), then
    * serve q51's keyword query from the COMPOSED state at a different
    * cut. Ingest per increment is one batch-scale tokenize + bucketed
    * write (history never read); serving reads the postings state
    * pruned to the probed terms — the measured sliver regime of the
    * min(1, probeKeys/B) bound. The oracle replays the from-scratch
    * batch BM25 over the full table: valid because tf/df and the
    * one-row stats slices compose EXACTLY across disjoint-id batches
    * (serve == batch bm25 bit-for-bit, Bm25StateSpec). */
  def q149Bm25State(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Bm25State
    // NOT spread (measured): the state writers re-reference each batch
    // across many actions, so an unpersisted repartition re-pays its
    // exchange per action and outweighs the parallel map tier
    // (q149 3.1 -> 4.9 s with Spread at this entry).
    val docs = Tables.documents(s, dir)
    val base = scratchDir("q149_bm25")
    def b(i: Int) = docs.where(pmod(col("doc_id"), lit(3)) === i)
    Bm25State.writeInit(b(0), "doc_id", "text", s"$base/s0")
    Bm25State.writeIncrement(b(1), "doc_id", "text", s"$base/s0", s"$base/s1")
    Bm25State.writeIncrement(b(2), "doc_id", "text", s"$base/s1", s"$base/s2")
    Bm25State.serve(s, s"$base/s2",
      Seq("vector", "hash", "filter"), topK = 15)
  }

  /** Weekly n-gram LM count-state cadence (q150): init + two
    * incremental count batches ([[graft.pipeline.LmState]] — the
    * language-model member of the weekly state families), then score
    * the q59 held-out slice from the COMPOSED state. Ingest per
    * increment is two batch-scale tokenize aggregates + bucketed
    * writes plus one pruned anti-join for the vocabulary delta;
    * serving reads both count artifacts pruned to the query docs' own
    * gram/history buckets. The oracle replays the from-scratch batch
    * LM scoring over the full table: valid because gram and history
    * counts ADD across disjoint-id batches (n-grams never span
    * documents) and the running vocabulary equals the from-scratch
    * distinct-history count (LmStateSpec pins both, bit-for-bit). */
  def q150LmState(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.LmState
    // NOT spread — same measured reason as q149.
    val docs = Tables.documents(s, dir)
    val base = scratchDir("q150_lm")
    def b(i: Int) = docs.where(pmod(col("doc_id"), lit(3)) === i)
    LmState.writeInit(b(0), "text", s"$base/s0")
    LmState.writeIncrement(b(1), "text", s"$base/s0", s"$base/s1")
    LmState.writeIncrement(b(2), "text", s"$base/s1", s"$base/s2")
    LmState.serve(s, s"$base/s2",
      docs.where(pmod(col("doc_id"), lit(97)) === 0), "doc_id", "text")
  }

  /** Video frame-sampling (q90): GVID containers of real PNG frames,
    * every 2nd frame parsed out and REALLY decoded; the oracle
    * recomputes (frame_idx, width, height) from ids alone, proving
    * container parsing + selective decode. */
  def q90VideoFrameSample(s: SparkSession, dir: String): DataFrame =
    // Every 4th document carries a video: the fixture ENCODE (5-8
    // real PNG frames per asset) dominates the entry's cost, and a
    // quarter-slice prices the sampler fairly — a real pipeline reads
    // stored containers, it doesn't synthesize them per query.
    Multimodal.sampleVideoFrames(
      Multimodal.videoAssetsFromIds(
        Tables.documents(s, dir).select(col("doc_id"))
          .where(col("doc_id") % 4 === 0), "doc_id"),
      every = 2).toDF()

  /** DuckDB token expression mirroring [[graft.functions.TextFunctions.tokens]]. */
  private val duckToks =
    raw"""list_filter(string_split_regex(text, '\s+'), t -> t != '')"""

  /** DuckDB mirror of the Gopher measure kernel over `documents` —
    * the `WITH t, m` prefix shared by the q79 rule gate and the q148
    * low-cardinality rank (no trailing SELECT: callers append their
    * own CTEs/projection). */
  private lazy val gopherMeasuresCte: String =
    s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks,
       |  string_split(text, chr(10)) AS lines FROM documents),
       |m AS (SELECT doc_id,
       |  CAST(len(toks) AS INT) AS n_words,
       |  round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 6) AS mean_word_len,
       |  round(((length(text) - length(replace(text, '#', ''))) +
       |    (length(text) - length(replace(text, '...', ''))) / 3) / CAST(len(toks) AS DOUBLE), 6) AS symbol_ratio,
       |  round(CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) / len(lines), 6) AS bullet_ratio,
       |  round(CAST(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$$'))) AS DOUBLE) / len(lines), 6) AS ellipsis_ratio,
       |  round(CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(toks), 6) AS alpha_ratio,
       |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'], w -> list_contains(toks, w))) AS INT) AS stopword_hits
       |FROM t)""".stripMargin

  /** DuckDB mirror of the full multi-table hyperplane-LSH ANN pipeline
    * (q26): re-derives the md5 hyperplane coefficients IN SQL — bit-exact
    * with `VectorFunctions.hyperplaneCoefficients` because
    * `('0x'||md5-prefix)::BIGINT / 2^31 - 1` is pure power-of-two
    * arithmetic — then buckets, candidate-joins, scores and ranks
    * exactly like `VectorSim.knnLsh`. Parameterized so the constants
    * stay in lockstep with the Spark call site. */
  private def knnLshOracleSql(dim: Int, bits: Int, tables: Int, seed: Long,
      k: Int, queryPred: String): String =
    s"""WITH pl AS (
       |  SELECT tt.t AS tbl, bb.b AS bit,
       |    [('0x' || substr(md5('hp-' || ($seed + 1000 * tt.t)::VARCHAR || '-' || bb.b::VARCHAR || '-' || d::VARCHAR), 1, 8))::BIGINT
       |       / 2147483648.0 - 1.0 for d in range(0, $dim)] AS w
       |  FROM range(0, $tables) tt(t), range(0, $bits) bb(b)),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |dots AS (SELECT e.vec_id, pl.tbl, pl.bit,
       |    list_sum([e.emb[i+1] * pl.w[i+1] for i in range(0, $dim)]) AS d
       |  FROM e CROSS JOIN pl),
       |bk AS (SELECT vec_id, tbl,
       |    CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, tbl),
       |ky AS (SELECT vec_id, tbl::VARCHAR || '|' || bucket::VARCHAR AS bucket FROM bk),
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM ky q JOIN ky c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
       |  WHERE q.$queryPred),
       |scored AS (SELECT cand.query_id, cand.neighbor_id,
       |    round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos_sim
       |  FROM cand JOIN embeddings q ON q.vec_id = cand.query_id
       |            JOIN embeddings c ON c.vec_id = cand.neighbor_id)
       |SELECT * FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin

  /** DuckDB mirror of the full deterministic k-means IVF pipeline
    * (q39): re-derives the md5-sampled init centroids, every Lloyd's
    * round (assign via rounded `x.x - 2x.c + c.c` argmin with
    * lowest-index ties, centroid update via exact float-sum/count
    * means, empty-cluster fallback), and the final same-cluster
    * near-dup join — bit-exact with `VectorSim.kmeansCentroids` /
    * `ivfNearDup` because every float sum is exactly representable in
    * doubles and every comparison happens after round(...,6). */
  /** Shared WITH-chain re-running deterministic Lloyd's in SQL:
    * defines CTEs e, cen0, xx, a0, cen1, a1, ..., cen$iters, a$iters
    * (a_t = assignment under cen_t). Callers append final SELECTs.
    *
    * `initFactor > 0` mirrors `VectorSim.kmeansInitOversampled`: cen0
    * becomes the greedy farthest-first reduction of the first
    * `initFactor * k` candidates in md5 order — the k-1 selection
    * steps unroll as chained ch/md CTEs (chN = argmax of the running
    * min-distance mdN-1, ties to the earliest candidate; every
    * distance the same rounded `(xx - 2*dot) + cc` form as
    * assignment). */
  /** `trainPred` restricts TRAINING (seeds + mean updates) while
    * assignments still cover every `embFrom` row — see [[pqCtes]]. */
  private def kmeansCtes(k: Int, dim: Int, iters: Int, initFactor: Int = 0,
      embFrom: String = "embeddings", trainPred: String = "true"): String = {
    def assign(name: String, cen: String): String =
      s"""$name AS (
         |  SELECT vec_id, list_indexof(l, list_min(l)) - 1 AS cluster FROM (
         |    SELECT x.vec_id,
         |      list(round(x.xx - 2*list_sum([x.emb[i+1]*n.w[i+1] for i in range(0,$dim)])
         |                 + list_sum([n.w[i+1]*n.w[i+1] for i in range(0,$dim)]), 6)
         |           ORDER BY n.c) AS l
         |    FROM xx x CROSS JOIN $cen n GROUP BY x.vec_id))""".stripMargin
    def update(name: String, prevCen: String, prevAssign: String): String =
      s"""$name AS (
         |  SELECT o.c, coalesce(nw.w, o.w) AS w FROM $prevCen o LEFT JOIN (
         |    SELECT cluster AS c, list(m ORDER BY d) AS w FROM (
         |      SELECT a.cluster, dd.d, sum(e2.emb[dd.d+1]) / count(*) AS m
         |      FROM $prevAssign a JOIN e e2 USING (vec_id) CROSS JOIN range(0,$dim) dd(d)
         |      WHERE $trainPred
         |      GROUP BY a.cluster, dd.d) GROUP BY cluster) nw ON nw.c = o.c)""".stripMargin
    val rounds = (1 to iters).flatMap(t =>
      Seq(update(s"cen$t", s"cen${t - 1}", s"a${t - 1}"), assign(s"a$t", s"cen$t")))
    val base =
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM $embFrom),
         |cen0 AS (
         |  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS c, emb AS w
         |  FROM e WHERE $trainPred ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $k),
         |xx AS (SELECT vec_id, emb,
         |  list_sum([emb[i+1]*emb[i+1] for i in range(0,$dim)]) AS xx FROM e),
         |${(assign("a0", "cen0") +: rounds).mkString(",\n")}""".stripMargin
    if (initFactor <= 0) base
    else {
      val m = initFactor * k
      def distTo(row: String, s: String): String =
        s"""round(($row.cxx - 2*list_sum([$row.emb[i+1]*$s.emb[i+1] for i in range(0,$dim)])) + $s.cxx, 6)"""
      val steps = (1 until k).flatMap { j =>
        val md = s"md${j - 1}"
        val mdDef =
          if (j == 1)
            s"""md0 AS (SELECT c.ci, c.emb, c.cxx, ${distTo("c", "s")} AS md
               |  FROM cand c CROSS JOIN ch0 s)""".stripMargin
          else
            s"""md${j - 1} AS (SELECT m.ci, m.emb, m.cxx,
               |  least(m.md, ${distTo("m", "s")}) AS md
               |  FROM md${j - 2} m CROSS JOIN ch${j - 1} s)""".stripMargin
        Seq(mdDef,
          s"ch$j AS (SELECT CAST($j AS BIGINT) AS c, ci, emb, cxx FROM $md ORDER BY md DESC, ci LIMIT 1)")
      }
      val union = (0 until k).map(j => s"SELECT c, emb FROM ch$j").mkString(" UNION ALL ")
      val ffCen0 =
        s"""cand AS (
           |  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS ci, emb,
           |    list_sum([emb[i+1]*emb[i+1] for i in range(0,$dim)]) AS cxx
           |  FROM e WHERE $trainPred ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $m),
           |ch0 AS (SELECT CAST(0 AS BIGINT) AS c, ci, emb, cxx FROM cand WHERE ci = 0),
           |${steps.mkString(",\n")},
           |cen0 AS (SELECT c, emb AS w FROM ($union))""".stripMargin
      // Swap the plain-sample cen0 for the farthest-first chain.
      val plainCen0 =
        s"""cen0 AS (
           |  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS c, emb AS w
           |  FROM e WHERE $trainPred ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $k)""".stripMargin
      base.replace(plainCen0, ffCen0)
    }
  }

  private def kmeansIvfOracleSql(k: Int, dim: Int, iters: Int,
      threshold: Double, initFactor: Int = 0): String =
    s"""${kmeansCtes(k, dim, iters, initFactor)}
       |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       |  CAST(ax.cluster AS INT) AS cluster,
       |  round(list_cosine_similarity(x.emb, y.emb), 6) AS cos_sim
       |FROM a$iters ax JOIN a$iters ay ON ax.cluster = ay.cluster AND ax.vec_id < ay.vec_id
       |JOIN e x ON x.vec_id = ax.vec_id JOIN e y ON y.vec_id = ay.vec_id
       |WHERE round(list_cosine_similarity(x.emb, y.emb), 6) >= $threshold""".stripMargin

  /** DuckDB mirror of the DSIR importance resampling (q71): same
    * unigram+bigram features, md5 bucket hash, smoothed bucket
    * log-ratios (8dp-rounded DECIMAL terms — the q57 discipline),
    * exact-decimal doc sums, md5-Gumbel keys, and the top-`take`
    * draw. Ordering happens on the exact decimal key in both
    * engines, so the cut can never flake on a rounding boundary. */
  private def importanceResampleOracleSql(buckets: Int, take: Int): String =
    s"""WITH tk AS (SELECT doc_id, $duckToks AS t FROM documents),
       |gr AS (SELECT doc_id, unnest(list_concat(t, CASE WHEN len(t) - 1 >= 1
       |  THEN [array_to_string(t[i+1:i+2], ' ') for i in range(0, len(t)-1)]
       |  ELSE [array_to_string(t, ' ')] END)) AS g FROM tk),
       |bk AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT % $buckets AS b FROM gr),
       |db AS (SELECT doc_id, b, count(*) AS n FROM bk WHERE doc_id % 97 != 0 GROUP BY 1, 2),
       |ct AS (SELECT b, count(*) AS ct FROM bk WHERE doc_id % 97 = 0 GROUP BY 1),
       |cr AS (SELECT b, sum(n) AS cr FROM db GROUP BY 1),
       |nt AS (SELECT coalesce(sum(ct), 0) AS nt FROM ct),
       |nr AS (SELECT sum(cr) AS nr FROM cr),
       |rt AS (SELECT cr.b,
       |  CAST(round(ln((coalesce(ct.ct, 0) + 1) / (nt.nt + $buckets))
       |           - ln((cr.cr + 1) / (nr.nr + $buckets)), 8) AS DECIMAL(20,8)) AS r
       |  FROM cr LEFT JOIN ct USING (b) CROSS JOIN nt CROSS JOIN nr),
       |w AS (SELECT db.doc_id, sum(CAST(db.n AS DECIMAL(10,0)) * rt.r) AS w_dec
       |  FROM db JOIN rt ON rt.b = db.b GROUP BY 1),
       |kq AS (SELECT doc_id, w_dec,
       |  w_dec + CAST(round(-ln(-ln(((('0x' || substr(md5('dsir-' || doc_id::VARCHAR), 1, 8))::BIGINT)::DOUBLE + 0.5) / 4294967296.0)), 8) AS DECIMAL(20,8)) AS k
       |  FROM w)
       |SELECT CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS INT) AS rank,
       |  doc_id, CAST(round(w_dec, 6) AS DOUBLE) AS importance,
       |  CAST(round(k, 6) AS DOUBLE) AS sel_key
       |FROM kq ORDER BY k DESC, doc_id LIMIT $take""".stripMargin

  /** Shared DuckDB CTE chain replaying MinHash signatures, banded
    * candidates, and the per-pair Jaccard estimate (unfiltered `est`)
    * — consumed by the q44/q86/q87 oracles. */
  private lazy val minhashEstCtes: String = {
    val coeffs = graft.functions.TextFunctions.minhashCoefficients(32)
    val p = graft.functions.TextFunctions.MinhashPrime
    val minCols = coeffs.zipWithIndex.map { case ((a, b), i) =>
      s"min(((h::HUGEINT*$a + $b) % $p)::BIGINT) AS m$i"
    }.mkString(",\n  ")
    val bandEntries = (0 until 16).map { bd =>
      s"'$bd|' || md5(m${2 * bd}::VARCHAR || ',' || m${2 * bd + 1}::VARCHAR)"
    }.mkString(",\n    ")
    val agree = (0 until 32)
      .map(i => s"(CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""$duckShingles3,
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
       |hh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM ex),
       |sig AS (SELECT doc_id,
       |  $minCols
       |  FROM hh GROUP BY doc_id),
       |bands AS (SELECT doc_id,
       |  unnest([$bandEntries]) AS bucket
       |  FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |est AS (SELECT doc_a, doc_b, round(($agree) / 32.0, 6) AS est_jaccard
       |  FROM cand JOIN sig x ON x.doc_id = cand.doc_a JOIN sig y ON y.doc_id = cand.doc_b)""".stripMargin
  }

  /** DuckDB replay of the q82/q83 classifier training: the hashed
    * feature frame (q71's bucket CTEs), then one CTE block per GD
    * iteration — per-doc sigmoid (8dp decimal), per-bucket update
    * (exact decimal sum, one double division, 8dp round), weight
    * subtraction recast to DECIMAL(20,8) — the q65 merge-loop
    * unrolling discipline applied to model training. */
  private def classifierCtes(buckets: Int, iters: Int, lr: Double,
      gramSource: String = "documents"): String = {
    val base =
      s"""WITH tk AS (SELECT doc_id, $duckToks AS t FROM $gramSource),
         |gr AS (SELECT doc_id, unnest(list_concat(t, CASE WHEN len(t) - 1 >= 1
         |  THEN [array_to_string(t[i+1:i+2], ' ') for i in range(0, len(t)-1)]
         |  ELSE [array_to_string(t, ' ')] END)) AS g FROM tk),
         |bk AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT % $buckets AS b FROM gr),
         |db AS (SELECT doc_id, b, count(*) AS n FROM bk GROUP BY 1, 2),
         |lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
         |nn AS (SELECT count(*) AS n_docs FROM documents)""".stripMargin
    val rounds = (1 to iters).map { t =>
      val p =
        if (t == 1)
          s"p1 AS (SELECT doc_id, CAST(0.5 AS DECIMAL(20,8)) AS p FROM documents)"
        else
          s"""z$t AS (SELECT db.doc_id, sum(CAST(db.n AS DECIMAL(10,0)) * w${t - 1}.w) AS z
             |  FROM db JOIN w${t - 1} USING (b) GROUP BY 1),
             |p$t AS (SELECT doc_id, CAST(round(1.0 / (1.0 + exp(-CAST(z AS DOUBLE))), 8) AS DECIMAL(20,8)) AS p FROM z$t)""".stripMargin
      val g =
        s"""g$t AS (SELECT db.b,
           |  CAST(round($lr * CAST(sum(CAST(db.n AS DECIMAL(10,0)) * (p$t.p - lab.y)) AS DOUBLE) / nn.n_docs, 8) AS DECIMAL(20,8)) AS u
           |  FROM db JOIN p$t USING (doc_id) JOIN lab USING (doc_id) CROSS JOIN nn
           |  GROUP BY db.b, nn.n_docs)""".stripMargin
      val w =
        if (t == 1)
          s"w1 AS (SELECT b, CAST(0 - u AS DECIMAL(20,8)) AS w FROM g1)"
        else
          s"""w$t AS (SELECT w${t - 1}.b, CAST(w${t - 1}.w - g$t.u AS DECIMAL(20,8)) AS w
             |  FROM w${t - 1} JOIN g$t USING (b))""".stripMargin
      s"$p,\n$g,\n$w"
    }.mkString(",\n")
    s"$base,\n$rounds"
  }

  private def qualityClassifierOracleSql(buckets: Int, iters: Int,
      lr: Double): String =
    s"""${classifierCtes(buckets, iters, lr)},
       |zf AS (SELECT db.doc_id, sum(CAST(db.n AS DECIMAL(10,0)) * w$iters.w) AS z
       |  FROM db JOIN w$iters USING (b) GROUP BY 1),
       |pf AS (SELECT doc_id, CAST(round(1.0 / (1.0 + exp(-CAST(z AS DOUBLE))), 8) AS DECIMAL(20,8)) AS p FROM zf)
       |SELECT doc_id, CAST(p AS DOUBLE) AS score, p >= 0.5 AS predicted
       |FROM pf""".stripMargin

  private def classifierWeightsOracleSql(buckets: Int, iters: Int,
      lr: Double): String =
    s"""${classifierCtes(buckets, iters, lr)}
       |SELECT b, CAST(w AS DOUBLE) AS w FROM w$iters""".stripMargin

  /** DuckDB mirror of the SemDeDup disposition (q70): the Lloyd's
    * chain, within-cell pairs, WITH-RECURSIVE transitive grouping
    * (q53's oracle pattern), centroid-cosine scoring, and the
    * keep-least-prototypical survivor pick. Cosines are written as
    * explicit `list_sum` dot/norm forms — the SAME operation order as
    * the codegen'd FloatDotProduct kernels — so equality holds
    * pre-round and the round(...,6) boundary can never flake. */
  private def semanticDedupOracleSql(k: Int, dim: Int, iters: Int,
      threshold: Double, maxCellSize: Int = Int.MaxValue): String =
    s"""WITH RECURSIVE ${semanticDedupCtes(k, dim, iters, threshold,
          maxCellSize, "embeddings")}
       |SELECT vec_id, cluster, group_id, cos_centroid, keep FROM semdisp""".stripMargin

  /** The [[semanticDedupOracleSql]] chain as a spliceable CTE block
    * (no WITH prefix; final disposition in CTE `semdisp`) with a
    * parameterized embedding source — the q137 end-to-end oracle
    * anchors it on the kept-survivor frame. */
  private def semanticDedupCtes(k: Int, dim: Int, iters: Int,
      threshold: Double, maxCellSize: Int, embFrom: String): String = {
    val ctes = kmeansCtes(k, dim, iters, embFrom = embFrom)
      .stripPrefix("WITH ")
    def cos(a: String, b: String): String =
      s"""round(list_sum([$a.emb[i+1]*$b[i+1] for i in range(0,$dim)])
         |      / (sqrt(list_sum([$a.emb[i+1]*$a.emb[i+1] for i in range(0,$dim)]))
         |         * sqrt(list_sum([$b[i+1]*$b[i+1] for i in range(0,$dim)]))), 6)""".stripMargin
    // Salted pair domain: every assignment row carries a sub-cell salt
    // (md5(vec_id) mod ceil(cell_pop / cap)); unguarded = one salt.
    val saltCtes =
      if (maxCellSize == Int.MaxValue)
        s"sa AS (SELECT vec_id, cluster, 0 AS salt FROM a$iters)"
      else
        s"""cnt AS (SELECT cluster, count(*) AS cell_n
           |        FROM a$iters GROUP BY cluster),
           |sa AS (
           |  SELECT a.vec_id, a.cluster,
           |    ('0x' || substr(md5(a.vec_id::VARCHAR), 1, 8))::BIGINT
           |      % ((cnt.cell_n + ${maxCellSize - 1}) // $maxCellSize) AS salt
           |  FROM a$iters a JOIN cnt ON cnt.cluster = a.cluster)""".stripMargin
    s"""$ctes,
       |cosd AS (
       |  SELECT a.vec_id, CAST(a.cluster AS INT) AS cluster,
       |    ${cos("x", "n.w")} AS cos_centroid
       |  FROM a$iters a JOIN e x ON x.vec_id = a.vec_id
       |  JOIN cen$iters n ON n.c = a.cluster),
       |$saltCtes,
       |p AS (
       |  SELECT ax.vec_id AS doc_a, ay.vec_id AS doc_b
       |  FROM sa ax JOIN sa ay
       |    ON ax.cluster = ay.cluster AND ax.salt = ay.salt
       |      AND ax.vec_id < ay.vec_id
       |  JOIN e x ON x.vec_id = ax.vec_id JOIN e y ON y.vec_id = ay.vec_id
       |  WHERE ${cos("x", "y.emb")} >= $threshold),
       |und AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |        UNION SELECT doc_b, doc_a FROM p),
       |reach(src, dst) AS (
       |  SELECT src, src FROM und
       |  UNION
       |  SELECT r.src, u.dst FROM reach r JOIN und u ON u.src = r.dst),
       |cl AS (SELECT src AS vec_id, min(dst) AS canonical_id
       |       FROM reach GROUP BY src),
       |g AS (SELECT cosd.vec_id, cosd.cluster, cosd.cos_centroid,
       |    coalesce(cl.canonical_id, cosd.vec_id) AS group_id
       |  FROM cosd LEFT JOIN cl ON cl.vec_id = cosd.vec_id),
       |sv AS (SELECT group_id, vec_id AS surv_id FROM (
       |    SELECT group_id, vec_id,
       |      row_number() OVER (PARTITION BY group_id
       |                         ORDER BY cos_centroid, vec_id) AS rn FROM g)
       |  WHERE rn = 1),
       |semdisp AS (SELECT g.vec_id, g.cluster, g.group_id, g.cos_centroid,
       |  CAST(g.vec_id = sv.surv_id AS INT) AS keep
       |FROM g JOIN sv ON sv.group_id = g.group_id)""".stripMargin
  }

  // ------------------------------------------------------------------
  // Shared CTE fragments for the end-to-end curation oracles: q137's
  // ten-stage scratch replay and q146's three-batch all-state cadence
  // replay. Each def emits a spliceable block parameterized by source
  // CTE and name prefix, so the staged q146 replay reuses q137's
  // per-stage disciplines verbatim instead of forking them.
  // ------------------------------------------------------------------

  private val e2eStop = "['the','a','of','and','to','el','la','de','que','y'," +
    "'der','die','und','das','ist','le','les','et','des','un']"

  /** q17 quality-score CTE triple over a (doc_id, text) source. */
  private def e2eQualityCtes(src: String, p: String): String =
    s"""${p}t AS (SELECT doc_id, $duckToks AS toks, CAST(len(text) AS DOUBLE) AS nc FROM $src),
       |${p}m AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS nt,
       |  CAST(len(list_distinct(toks)) AS DOUBLE) AS nd,
       |  CAST(len(list_filter(toks, x -> list_contains($e2eStop, x))) AS DOUBLE) AS nstop,
       |  nc FROM ${p}t),
       |${p}q AS (SELECT doc_id, round(
       |   (CASE WHEN nt >= 20 AND nt <= 2000 THEN 0.25 ELSE 0.0 END) +
       |   (CASE WHEN nd / nt >= 0.3 THEN 0.25 ELSE 0.0 END) +
       |   (CASE WHEN (nc - (nt - 1)) / nt >= 3.0 AND (nc - (nt - 1)) / nt <= 10.0 THEN 0.25 ELSE 0.0 END) +
       |   (CASE WHEN nstop / nt > 0.0 THEN 0.25 ELSE 0.0 END), 2) AS q
       |  FROM ${p}m)""".stripMargin

  /** Distinct word-3-gram shingles (with the <3-token whole-text
    * fallback) over a (doc_id, text) source. The coalesce matters on
    * span-emptied docs: DuckDB's array_to_string([], ' ') is NULL,
    * but the engine's fallback shingle for an empty doc is '' — and
    * a NULL shingle would silently drop the doc from banding (NULL
    * never equi-joins), diverging from the engine's behavior of
    * clustering fully-emptied docs together. */
  private def e2eShingleCte(src: String, name: String): String =
    s"""$name AS MATERIALIZED (SELECT doc_id,
       |  CASE WHEN len(tq) - 2 >= 1
       |    THEN list_distinct([array_to_string(tq[i+1:i+3], ' ') for i in range(0, len(tq)-2)])
       |    ELSE [coalesce(array_to_string(tq, ' '), '')] END AS sh
       |  FROM (SELECT doc_id, $duckToks AS tq FROM $src))""".stripMargin

  /** q18 language-ID pair over a (doc_id, text) source. */
  private def e2eLangCtes(src: String, p: String): String =
    s"""${p}h AS (SELECT doc_id,
       |  CAST(len(list_filter(tq, x -> list_contains(['the','a','of','and','to'], x))) AS INT) AS hits_en,
       |  CAST(len(list_filter(tq, x -> list_contains(['el','la','de','que','y'], x))) AS INT) AS hits_es,
       |  CAST(len(list_filter(tq, x -> list_contains(['der','die','und','das','ist'], x))) AS INT) AS hits_de,
       |  CAST(len(list_filter(tq, x -> list_contains(['le','les','et','des','un'], x))) AS INT) AS hits_fr
       |  FROM (SELECT doc_id, $duckToks AS tq FROM $src)),
       |${p}d AS (SELECT doc_id,
       | CASE WHEN greatest(hits_en, hits_es, hits_de, hits_fr) = 0 THEN 'und'
       |      WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
       |      WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
       |      WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
       |      ELSE 'fr' END AS detected_lang
       |FROM ${p}h)""".stripMargin

  /** q82 classifier SCORING chain over a (doc_id, text) source under
    * the trained 256-bucket weight CTE `w3` (from [[classifierCtes]]);
    * emits `${p}cp` (doc_id, p). */
  private def e2eScoreCtes(src: String, p: String): String =
    s"""${p}ctk AS (SELECT doc_id, $duckToks AS t FROM $src),
       |${p}cg AS (SELECT doc_id, unnest(list_concat(t, CASE WHEN len(t) - 1 >= 1
       |  THEN [array_to_string(t[i+1:i+2], ' ') for i in range(0, len(t)-1)]
       |  ELSE [array_to_string(t, ' ')] END)) AS cgr FROM ${p}ctk),
       |${p}cbk AS (SELECT doc_id, ('0x' || substr(md5(cgr), 1, 8))::BIGINT % 256 AS b FROM ${p}cg),
       |${p}cdb AS (SELECT doc_id, b, count(*) AS n FROM ${p}cbk GROUP BY 1, 2),
       |${p}cz AS (SELECT d9.doc_id, sum(CAST(d9.n AS DECIMAL(10,0)) * w3.w) AS z
       |  FROM ${p}cdb d9 JOIN w3 USING (b) GROUP BY 1),
       |${p}cp AS (SELECT doc_id, CAST(round(1.0 / (1.0 + exp(-CAST(z AS DOUBLE))), 8) AS DECIMAL(20,8)) AS p FROM ${p}cz)""".stripMargin

  /** q69 span-chain gram positions: 8-token grams over a decon'd
    * (doc_id, text, ...) source; emits `${p}dtk` and `${p}sgp`. */
  private def e2eSpanGramCtes(srcDec: String, p: String,
      k: Int = 8): String =
    s"""${p}dtk AS MATERIALIZED (SELECT doc_id, $duckToks AS toks FROM $srcDec),
       |${p}sgp AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
       |  SELECT doc_id, unnest([{'pos': i - 1, 'gram': array_to_string(toks[i:i+${k - 1}], ' ')} for i in range(1, len(toks) - ${k - 2})]) AS u
       |  FROM ${p}dtk WHERE len(toks) >= $k))""".stripMargin

  /** q69 span REMOVAL over `${p}dtk`/`${p}sgp` against the repeated-
    * gram set CTE `srepName`; emits `${p}sp` (doc_id, text,
    * quality_score, n_removed) re-anchored on decon rows `decSrc`. */
  private def e2eSpanRemovalCtes(p: String, srepName: String,
      decSrc: String, k: Int = 8): String =
    s"""${p}spr AS (SELECT doc_id, pos FROM ${p}sgp JOIN $srepName USING (gram)),
       |${p}srun AS (SELECT doc_id, min(pos) AS start_pos, max(pos) AS end_pos
       |  FROM (SELECT doc_id, pos,
       |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp2
       |        FROM ${p}spr)
       |  GROUP BY doc_id, grp2),
       |${p}stp AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
       |  SELECT doc_id, unnest([{'pos': i - 1, 'tok': toks[i]} for i in range(1, len(toks) + 1)]) AS u FROM ${p}dtk)),
       |${p}skp AS (SELECT p2.doc_id, p2.pos, p2.tok FROM ${p}stp p2
       |  WHERE NOT EXISTS (SELECT 1 FROM ${p}srun s2 WHERE s2.doc_id = p2.doc_id
       |    AND p2.pos BETWEEN s2.start_pos AND s2.end_pos + ${k - 1})),
       |${p}sag AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
       |    count(*) AS n_kept FROM ${p}skp GROUP BY doc_id),
       |${p}sp AS MATERIALIZED (SELECT d2.doc_id, coalesce(${p}sag.clean_text, '') AS text, d2.quality_score,
       |    CAST(len(${p}dtk.toks) - coalesce(${p}sag.n_kept, 0) AS BIGINT) AS n_removed
       |  FROM $decSrc d2 JOIN ${p}dtk USING (doc_id) LEFT JOIN ${p}sag USING (doc_id))""".stripMargin

  /** q22 MinHash-LSH + q53 closure + q58 survivor chain over the
    * shingle CTE `shName` (doc_id, sh), survivor quality from `qName`
    * (doc_id, q), kept survivors `k1` from decon rows `decSrc`
    * (doc_id, text, quality_score). Threshold 0.25, 32 hashes in
    * 16x2 bands — the engine's curation constants. */
  private def e2eLshSurvivorCtes(shName: String, qName: String,
      decSrc: String): String = {
    val coeffs = graft.functions.TextFunctions.minhashCoefficients(32)
    val prime = graft.functions.TextFunctions.MinhashPrime
    val minCols = coeffs.zipWithIndex.map { case ((a, b), i) =>
      s"min(((h::HUGEINT*$a + $b) % $prime)::BIGINT) AS m$i"
    }.mkString(",\n  ")
    val bandEntries = (0 until 16).map { bd =>
      s"'$bd|' || md5(m${2 * bd}::VARCHAR || ',' || m${2 * bd + 1}::VARCHAR)"
    }.mkString(",\n    ")
    s"""lex AS (SELECT doc_id, unnest(sh) AS s3 FROM $shName),
       |lhh AS (SELECT doc_id, ('0x' || substr(md5(s3), 1, 8))::BIGINT AS h FROM lex),
       |lsig AS MATERIALIZED (SELECT doc_id,
       |  $minCols
       |  FROM lhh GROUP BY doc_id),
       |lband AS (SELECT doc_id,
       |  unnest([$bandEntries]) AS bucket
       |  FROM lsig),
       |lcand AS (SELECT DISTINCT a2.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM lband a2 JOIN lband b2 ON a2.bucket = b2.bucket AND a2.doc_id < b2.doc_id),
       |lpair AS (SELECT doc_a, doc_b
       |  FROM lcand JOIN $shName x2 ON x2.doc_id = lcand.doc_a JOIN $shName y2 ON y2.doc_id = lcand.doc_b
       |  WHERE round(CAST(len(list_intersect(x2.sh, y2.sh)) AS DOUBLE)
       |        / len(list_distinct(list_concat(x2.sh, y2.sh))), 6) >= 0.25),
       |tund AS (SELECT doc_a AS src, doc_b AS dst FROM lpair
       |        UNION SELECT doc_b, doc_a FROM lpair),
       |treach(src, dst) AS (
       |  SELECT src, src FROM tund
       |  UNION
       |  SELECT r.src, u.dst FROM treach r JOIN tund u ON u.src = r.dst),
       |tcl AS MATERIALIZED (SELECT src AS doc_id, min(dst) AS canonical_id
       |       FROM treach GROUP BY src),
       |tjn AS (SELECT tcl.canonical_id, tcl.doc_id, qq.q,
       |  row_number() OVER (PARTITION BY tcl.canonical_id ORDER BY qq.q DESC, tcl.doc_id) AS rn
       |  FROM tcl JOIN $qName qq USING (doc_id)),
       |tsv AS (SELECT canonical_id, doc_id AS survivor_id FROM tjn WHERE rn = 1),
       |k1 AS MATERIALIZED (SELECT d3.doc_id, d3.text, d3.quality_score FROM $decSrc d3
       |  LEFT JOIN tcl USING (doc_id)
       |  LEFT JOIN tsv ON tsv.canonical_id = tcl.canonical_id
       |  WHERE tcl.canonical_id IS NULL OR d3.doc_id = tsv.survivor_id)""".stripMargin
  }

  /** Output tail over the final kept frame `kfinName` (doc_id, text):
    * language-id, the md5 sample draw (en 0.5 / default 0.9), and the
    * RANGE-sharded packing (shard = doc_id div 1024 — the cadence
    * publish's batch-affine sharding, VERDICT r10 item 1) at budget
    * 4096; emits samp/pbin. */
  private def e2eTailCtes(kfinName: String): String =
    s"""${e2eLangCtes(kfinName, "ll")},
       |samp AS MATERIALIZED (SELECT k9.doc_id, k9.text, lld.detected_lang
       |  FROM $kfinName k9 JOIN lld USING (doc_id)
       |  WHERE ('0x' || substr(md5(k9.doc_id::VARCHAR), 1, 8))::BIGINT % 1000000
       |    < CAST(floor(CASE lld.detected_lang WHEN 'en' THEN 0.5 ELSE 0.9 END * 1000000) AS BIGINT)),
       |ptk AS (SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS n_tokens FROM samp),
       |psh AS (SELECT doc_id, n_tokens, CAST(doc_id // 1024 AS INT) AS shard FROM ptk),
       |ppre AS (SELECT *, coalesce(sum(n_tokens) OVER (
       |    PARTITION BY shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix FROM psh),
       |pbin AS (SELECT shard, CAST(floor(prefix / 4096) AS BIGINT) AS bin
       |  FROM ppre GROUP BY shard, CAST(floor(prefix / 4096) AS BIGINT))""".stripMargin

  /** DuckDB replay of the FULL `CurationRun.run` pipeline (q137,
    * VERDICT r06 item 8) — every stage of the end-to-end curation pass
    * composed into one query, producing the nine per-stage audit
    * counts the engine's `Stats` row reports. Stage fragments reuse
    * the per-operator oracle disciplines (q46 normalize, q42 redact,
    * q17 quality, q82 classifier GD replay, q47 decon, q69 spans, q22
    * LSH, q53 closure, q58 survivors, q70 semantic dedup, q48 sample
    * draw, q49 packing) via the shared e2e* fragment builders above,
    * re-anchored on the intermediate CTEs so each stage sees the
    * previous stage's TRANSFORMED text exactly as the engine does.
    * Constants must match [[q137CurationE2e]]. */
  private lazy val curationE2eOracleSql: String = {
    val em = graft.operators.TextAnalysis.EmailPattern
    val ur = graft.operators.TextAnalysis.UrlPattern
    // The classifier artifact trains on the NORMALIZED full table (the
    // text shape it will score: a model trained on raw-cased grams
    // sees disjoint feature buckets after lowercasing and gates
    // everything out).
    val classifier = classifierCtes(256, 3, 0.5, gramSource = "alln")
      .stripPrefix("WITH ")
    val semantic = semanticDedupCtes(8, 64, 2, 0.35, Int.MaxValue,
      "embeddings JOIN k1 ON k1.doc_id = embeddings.vec_id")
    s"""WITH RECURSIVE
       |alln AS MATERIALIZED (SELECT doc_id,
       |  trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g')) AS text
       |  FROM documents),
       |nrm AS MATERIALIZED (SELECT doc_id,
       |  trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g')) AS text
       |  FROM documents WHERE doc_id % 97 != 0),
       |red AS MATERIALIZED (SELECT doc_id,
       |  regexp_replace(regexp_replace(text, '$em', '<EMAIL>', 'g'), '$ur', '<URL>', 'g') AS text
       |  FROM nrm),
       |${e2eQualityCtes("red", "hq")},
       |hg AS MATERIALIZED (SELECT red.doc_id, red.text, hqq.q AS quality_score
       |  FROM red JOIN hqq USING (doc_id) WHERE hqq.q >= 0.75),
       |$classifier,
       |${e2eScoreCtes("hg", "")},
       |mg AS MATERIALIZED (SELECT hg.doc_id, hg.text, hg.quality_score
       |  FROM hg JOIN cp USING (doc_id) WHERE cp.p >= 0.0001),
       |bsr AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
       |${e2eShingleCte("bsr", "bshc")},
       |bsh AS (SELECT DISTINCT s FROM (SELECT unnest(sh) AS s FROM bshc)),
       |${e2eShingleCte("mg", "cshc")},
       |cex AS (SELECT doc_id, unnest(sh) AS s FROM cshc),
       |cont AS (SELECT doc_id, count(*) AS ncs FROM cex JOIN bsh USING (s) GROUP BY doc_id),
       |dec AS MATERIALIZED (SELECT mg.doc_id, mg.text, mg.quality_score FROM mg
       |  LEFT JOIN cont USING (doc_id) WHERE coalesce(cont.ncs, 0) < 1),
       |${e2eSpanGramCtes("dec", "")},
       |srep AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM sgp)
       |        GROUP BY gram HAVING count(*) >= 2),
       |${e2eSpanRemovalCtes("", "srep", "dec")},
       |${e2eQualityCtes("sp", "sq")},
       |${e2eShingleCte("sp", "shc")},
       |${e2eLshSurvivorCtes("shc", "sqq", "sp")},
       |$semantic,
       |kfin AS MATERIALIZED (SELECT k1.doc_id, k1.text FROM k1
       |  LEFT JOIN (SELECT vec_id FROM semdisp WHERE keep = 0) sdp ON sdp.vec_id = k1.doc_id
       |  WHERE sdp.vec_id IS NULL),
       |${e2eTailCtes("kfin")}
       |SELECT
       | CAST((SELECT count(*) FROM nrm) AS BIGINT) AS input,
       | CAST((SELECT count(*) FROM hg) AS BIGINT) AS gated,
       | CAST((SELECT count(*) FROM mg) AS BIGINT) AS model_gated,
       | CAST((SELECT count(*) FROM dec) AS BIGINT) AS decontaminated,
       | CAST((SELECT count(*) FROM sp WHERE n_removed > 0) AS BIGINT) AS span_cleaned,
       | CAST((SELECT count(*) FROM k1) AS BIGINT) AS kept,
       | CAST((SELECT count(*) FROM semdisp WHERE keep = 0) AS BIGINT) AS sem_dropped,
       | CAST((SELECT count(*) FROM samp) AS BIGINT) AS sampled,
       | CAST((SELECT count(*) FROM pbin) AS BIGINT) AS bins""".stripMargin
  }

  /** DuckDB replay of the composed ALL-STATE weekly cadence (q146):
    * init + two increments, STAGED exactly as the engine runs them.
    * Batch b's line cleaning sees the line-df of batches 0..b (slice
    * counts add across disjoint doc ids); its prep chain (normalize /
    * redact / quality / classifier / decon) runs on ITS line-cleaned
    * text; its span cleaning sees the gram-df of prepped batches
    * 0..b. The composed decon rides the scratch LSH/survivor chain
    * (incremental LSH+CC == scratch, spec-pinned); the semantic pass
    * runs under the quantizer FROZEN at init (`trainPred` = init
    * decon membership, assignments over every decon vector — the
    * engine's per-batch incremental pair runs union to exactly this
    * full within-cell pair set); survivors are the state cadence's
    * min-KEPT-doc rule; the output tail is q137's. Constants must
    * match [[q146CadenceE2e]]. */
  private lazy val cadenceE2eOracleSql: String = {
    val em = graft.operators.TextAnalysis.EmailPattern
    val ur = graft.operators.TextAnalysis.UrlPattern
    val classifier = classifierCtes(256, 3, 0.5, gramSource = "alln")
      .stripPrefix("WITH ")
    val kmeans = kmeansCtes(8, 64, 2,
      embFrom = "embeddings JOIN dall ON dall.doc_id = embeddings.vec_id",
      trainPred = "vec_id IN (SELECT doc_id FROM x0sp)")
      .stripPrefix("WITH ")
    def inBatches(b: Int): String =
      (0 to b).map(i => s"doc_id % 3 = $i").mkString("(", " OR ", ")")
    // Line stage, staged: df over batches 0..b, removal on batch b.
    def lineChain(b: Int): String =
      s"""ldf$b AS (SELECT line, count(DISTINCT doc_id) AS df FROM pl
         |  WHERE line <> '' AND ${inBatches(b)} GROUP BY 1),
         |lc$b AS MATERIALIZED (SELECT doc_id,
         |  coalesce(string_agg(CASE WHEN NOT cut THEN line END, chr(10) ORDER BY pos), '') AS text,
         |  CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
         |  FROM (SELECT p.doc_id, p.pos, p.line, coalesce(d.df, 1) >= 2 AS cut
         |        FROM pl p LEFT JOIN ldf$b d ON p.line = d.line
         |        WHERE p.doc_id % 3 = $b) mk$b
         |  GROUP BY doc_id)""".stripMargin
    // Prep chain on batch b's line-cleaned text: q137's stage order
    // (normalize, redact, heuristic gate, classifier gate, decon).
    def prepChain(b: Int): String =
      s"""nrm$b AS (SELECT doc_id,
         |  trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g')) AS text
         |  FROM lc$b),
         |red$b AS MATERIALIZED (SELECT doc_id,
         |  regexp_replace(regexp_replace(text, '$em', '<EMAIL>', 'g'), '$ur', '<URL>', 'g') AS text
         |  FROM nrm$b),
         |${e2eQualityCtes(s"red$b", s"h$b")},
         |hg$b AS MATERIALIZED (SELECT r.doc_id, r.text, hq9.q AS quality_score
         |  FROM red$b r JOIN h${b}q hq9 USING (doc_id) WHERE hq9.q >= 0.75),
         |${e2eScoreCtes(s"hg$b", s"x$b")},
         |mg$b AS (SELECT g.doc_id, g.text, g.quality_score
         |  FROM hg$b g JOIN x${b}cp USING (doc_id) WHERE x${b}cp.p >= 0.0001),
         |${e2eShingleCte(s"mg$b", s"csh$b")},
         |cont$b AS (SELECT cx.doc_id, count(*) AS ncs FROM
         |  (SELECT doc_id, unnest(sh) AS s FROM csh$b) cx JOIN bsh ON bsh.s = cx.s GROUP BY cx.doc_id),
         |dec$b AS MATERIALIZED (SELECT m.doc_id, m.text, m.quality_score FROM mg$b m
         |  LEFT JOIN cont$b USING (doc_id) WHERE coalesce(cont$b.ncs, 0) < 1)""".stripMargin
    // Span stage, staged: gram-df over prepped batches 0..b (distinct
    // per batch, then summed — batches are doc-disjoint), removal on
    // batch b's prepped text.
    def srep(b: Int): String = {
      val union = (0 to b)
        .map(i => s"SELECT DISTINCT doc_id, gram FROM x${i}sgp")
        .mkString(" UNION ALL ")
      s"""srep$b AS (SELECT gram FROM ($union)
         |        GROUP BY gram HAVING count(*) >= 2)""".stripMargin
    }
    val batchChains = (0 to 2).map { b =>
      Seq(lineChain(b), prepChain(b), e2eSpanGramCtes(s"dec$b", s"x$b"),
        srep(b), e2eSpanRemovalCtes(s"x$b", s"srep$b", s"dec$b"))
        .mkString(",\n")
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |alln AS MATERIALIZED (SELECT doc_id,
       |  trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g')) AS text
       |  FROM documents),
       |$classifier,
       |bsr AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
       |${e2eShingleCte("bsr", "bshc")},
       |bsh AS (SELECT DISTINCT s FROM (SELECT unnest(sh) AS s FROM bshc)),
       |tkl0 AS (SELECT doc_id, $duckToks AS t0 FROM documents WHERE doc_id % 97 != 0),
       |tkl AS (SELECT doc_id, CASE
       |    WHEN substr(md5(doc_id::VARCHAR || '#span'), 1, 1)
       |         IN ('0','1','2','3','4','5','6','7')
       |    THEN t0[1:o] || ['this','content','is','provided','under','the',
       |      'creative','commons','attribution','license','terms','only']
       |      || t0[o+1:len(t0)]
       |    ELSE t0 END AS t
       |  FROM (SELECT doc_id, t0,
       |    CAST(('0x' || substr(md5(doc_id::VARCHAR || '#span'), 1, 8))::BIGINT % 3 + 1 AS INT) AS o
       |    FROM tkl0)),
       |tkla AS (SELECT doc_id, t FROM tkl
       |  UNION ALL
       |  SELECT doc_id + 1000000000000 AS doc_id, ['copy'] || t AS t FROM tkl
       |  WHERE substr(md5(doc_id::VARCHAR || '#dup'), 1, 1) IN ('0','1','2','3')),
       |lsy AS (SELECT doc_id,
       |  [array_to_string(t[i*8+1:i*8+8], ' ')
       |   for i in range(0, greatest((len(t)+7)//8, 1))] ||
       |  CASE WHEN substr(md5(doc_id::VARCHAR || '#footer'), 1, 1)
       |         IN ('0','1','2','3','4','5','6','7')
       |       THEN ['subscribe to the newsletter for weekly updates']
       |       ELSE [] END AS lines FROM tkla),
       |pl AS MATERIALIZED (SELECT doc_id, u.p AS pos, u.l AS line FROM (
       |  SELECT doc_id,
       |    unnest([{'p': i, 'l': lines[i+1]} for i in range(0, len(lines))]) AS u
       |  FROM lsy)),
       |$batchChains,
       |dall AS MATERIALIZED (
       |  SELECT doc_id, text, quality_score FROM x0sp
       |  UNION ALL SELECT doc_id, text, quality_score FROM x1sp
       |  UNION ALL SELECT doc_id, text, quality_score FROM x2sp),
       |qual AS (SELECT doc_id, quality_score AS q FROM dall),
       |${e2eShingleCte("dall", "shc")},
       |${e2eLshSurvivorCtes("shc", "qual", "dall")},
       |$kmeans,
       |spair AS (SELECT ax.vec_id AS doc_a, ay.vec_id AS doc_b
       |  FROM a2 ax JOIN a2 ay ON ax.cluster = ay.cluster AND ax.vec_id < ay.vec_id
       |  JOIN e x ON x.vec_id = ax.vec_id JOIN e y ON y.vec_id = ay.vec_id
       |  WHERE round(list_cosine_similarity(x.emb, y.emb), 6) >= 0.35),
       |sund AS (SELECT doc_a AS src, doc_b AS dst FROM spair
       |        UNION SELECT doc_b, doc_a FROM spair),
       |sreach(src, dst) AS (
       |  SELECT src, src FROM sund
       |  UNION
       |  SELECT r.src, u.dst FROM sreach r JOIN sund u ON u.src = r.dst),
       |scl AS MATERIALIZED (SELECT src AS doc_id, min(dst) AS canonical_id
       |       FROM sreach GROUP BY src),
       |ssv AS (SELECT scl.canonical_id, min(k1.doc_id) AS surv
       |  FROM k1 JOIN scl USING (doc_id) GROUP BY 1),
       |kfin AS MATERIALIZED (SELECT k1.doc_id, k1.text FROM k1
       |  LEFT JOIN scl USING (doc_id)
       |  LEFT JOIN ssv ON ssv.canonical_id = scl.canonical_id
       |  WHERE scl.canonical_id IS NULL OR k1.doc_id = ssv.surv),
       |${e2eTailCtes("kfin")}
       |SELECT
       | CAST((SELECT count(*) FROM tkla WHERE doc_id % 3 = 2) AS BIGINT) AS input,
       | CAST((SELECT count(*) FROM dall) AS BIGINT) AS decontaminated,
       | CAST((SELECT count(*) FROM x2sp WHERE n_removed > 0) AS BIGINT) AS span_cleaned,
       | CAST((SELECT count(*) FROM lc2 WHERE n_removed > 0) AS BIGINT) AS line_cleaned,
       | CAST((SELECT count(*) FROM k1) AS BIGINT) AS kept,
       | CAST((SELECT count(*) FROM k1) - (SELECT count(*) FROM kfin) AS BIGINT) AS sem_dropped,
       | CAST((SELECT count(*) FROM samp) AS BIGINT) AS sampled,
       | CAST((SELECT count(*) FROM pbin) AS BIGINT) AS bins""".stripMargin
  }

  /** DuckDB mirror of the PQ ADC search (q73): an independent Lloyd's
    * chain per subspace over the SLICED embeddings (same md5-sampled
    * init rows as the full-dim chains), codes = the final assignment
    * CTE per subspace, lookup-table entries as 8dp DECIMALs in the
    * exact Spark operation order `(qq - 2*qc) + cc`, decimal distance
    * sums, and the `adist ASC, vec_id` top-k. */
  /** Shared CTE block for the PQ oracles: per-subspace Lloyd's chains
    * over the sliced embeddings, the final `codes` union, and the
    * query-side ADC lookup table `lut` — appended after any other
    * CTEs the caller composes (the IVFADC oracle prepends the q39
    * full-dim coarse chain; names don't collide: coarse uses
    * e/xx/cen$t/a$t, subspace chains use e$s/xx$s/cen${t}_$s). */
  /** `trainPred` (a vec_id predicate) restricts the TRAINING corpus —
    * seed selection and Lloyd's mean updates — while codes/assignments
    * still cover every row: the frozen-model weekly cadence's replay
    * (train at init on the state corpus, encode everything under the
    * frozen model; q141). The default "true" is the train-on-all form
    * every earlier entry uses. */
  private def pqCtes(dim: Int, subspaces: Int, kw: Int,
      iters: Int, queryPred: String, trainPred: String = "true"): String = {
    val dsub = dim / subspaces
    def assign(s: Int, name: String, cen: String): String =
      s"""$name AS (
         |  SELECT vec_id, list_indexof(l, list_min(l)) - 1 AS cluster FROM (
         |    SELECT x.vec_id,
         |      list(round(x.xx - 2*list_sum([x.emb[i+1]*n.w[i+1] for i in range(0,$dsub)])
         |                 + list_sum([n.w[i+1]*n.w[i+1] for i in range(0,$dsub)]), 6)
         |           ORDER BY n.c) AS l
         |    FROM xx$s x CROSS JOIN $cen n GROUP BY x.vec_id))""".stripMargin
    def update(s: Int, name: String, prevCen: String, prevAssign: String): String =
      s"""$name AS (
         |  SELECT o.c, coalesce(nw.w, o.w) AS w FROM $prevCen o LEFT JOIN (
         |    SELECT cluster AS c, list(m ORDER BY d) AS w FROM (
         |      SELECT a.cluster, dd.d, sum(e2.emb[dd.d+1]) / count(*) AS m
         |      FROM $prevAssign a JOIN e$s e2 USING (vec_id) CROSS JOIN range(0,$dsub) dd(d)
         |      WHERE $trainPred
         |      GROUP BY a.cluster, dd.d) GROUP BY cluster) nw ON nw.c = o.c)""".stripMargin
    val chains = (0 until subspaces).map { s =>
      val lo = s * dsub + 1; val hi = (s + 1) * dsub
      val rounds = (1 to iters).flatMap(t => Seq(
        update(s, s"cen${t}_$s", s"cen${t - 1}_$s", s"a${t - 1}_$s"),
        assign(s, s"a${t}_$s", s"cen${t}_$s")))
      (Seq(
        s"e$s AS (SELECT vec_id, (embedding::DOUBLE[])[$lo:$hi] AS emb FROM embeddings)",
        s"""cen0_$s AS (
           |  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS c, emb AS w
           |  FROM e$s WHERE $trainPred ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $kw)""".stripMargin,
        s"""xx$s AS (SELECT vec_id, emb,
           |  list_sum([emb[i+1]*emb[i+1] for i in range(0,$dsub)]) AS xx FROM e$s)""".stripMargin,
        assign(s, s"a0_$s", s"cen0_$s")) ++ rounds).mkString(",\n")
    }.mkString(",\n")
    val codesUnion = (0 until subspaces)
      .map(s => s"SELECT vec_id, $s AS s, cluster AS c FROM a${iters}_$s")
      .mkString(" UNION ALL ")
    val lutUnion = (0 until subspaces).map { s =>
      s"""SELECT q.vec_id AS q_id, $s AS s, n.c,
         |  CAST(round(list_sum([q.emb[i+1]*q.emb[i+1] for i in range(0,$dsub)])
         |     - 2*list_sum([q.emb[i+1]*n.w[i+1] for i in range(0,$dsub)])
         |     + list_sum([n.w[i+1]*n.w[i+1] for i in range(0,$dsub)]), 8) AS DECIMAL(20,8)) AS t
         |FROM e$s q CROSS JOIN cen${iters}_$s n WHERE q.$queryPred""".stripMargin
    }.mkString(" UNION ALL ")
    s"""$chains,
       |codes AS ($codesUnion),
       |lut AS ($lutUnion)""".stripMargin
  }

  private def pqAdcRankSql(topK: Int): String =
    s"""SELECT * FROM (
       |  SELECT q_id AS query_id, vec_id AS neighbor_id, adist,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |                            ORDER BY adist, vec_id) AS INT) AS rank
       |  FROM sc)
       |WHERE rank <= $topK""".stripMargin

  private def pqSearchOracleSql(dim: Int, subspaces: Int, kw: Int,
      iters: Int, topK: Int, queryPred: String): String =
    s"""WITH ${pqCtes(dim, subspaces, kw, iters, queryPred)},
       |sc AS (
       |  SELECT lut.q_id, codes.vec_id,
       |    CAST(round(sum(lut.t), 6) AS DOUBLE) AS adist
       |  FROM codes JOIN lut ON lut.s = codes.s AND lut.c = codes.c
       |  WHERE lut.q_id != codes.vec_id
       |  GROUP BY lut.q_id, codes.vec_id)
       |${pqAdcRankSql(topK)}""".stripMargin

  /** DuckDB mirror of the IVFADC search (q74): the q39 full-dim
    * Lloyd's chain supplies coarse cells (CTEs e/xx/cen$t/a$t), the
    * q73 per-subspace chains supply codes + ADC lookup table, the q45
    * probe-ranking rule restricts candidates to each query's nprobe
    * nearest cells, and the ADC sum/rank runs only over those
    * candidates — scores identical to the flat q73 scan by
    * construction. */
  private def pqSearchIvfOracleSql(dim: Int, subspaces: Int, kw: Int,
      iters: Int, kClusters: Int, cIters: Int, nprobe: Int, topK: Int,
      queryPred: String, trainPred: String = "true"): String =
    s"""${kmeansCtes(kClusters, dim, cIters, trainPred = trainPred)},
       |${pqCtes(dim, subspaces, kw, iters, queryPred, trainPred)},
       |pr AS (
       |  SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM (
       |    SELECT x.vec_id, n.c,
       |      round(x.xx - 2*list_sum([x.emb[i+1]*n.w[i+1] for i in range(0,$dim)])
       |            + list_sum([n.w[i+1]*n.w[i+1] for i in range(0,$dim)]), 6) AS d
       |    FROM xx x CROSS JOIN cen$cIters n WHERE x.$queryPred)),
       |cand AS (
       |  SELECT p.vec_id AS q_id, a.vec_id
       |  FROM (SELECT vec_id, c FROM pr WHERE rn <= $nprobe) p
       |  JOIN a$cIters a ON a.cluster = p.c AND a.vec_id != p.vec_id),
       |sc AS (
       |  SELECT cand.q_id, cand.vec_id,
       |    CAST(round(sum(lut.t), 6) AS DOUBLE) AS adist
       |  FROM cand
       |  JOIN codes ON codes.vec_id = cand.vec_id
       |  JOIN lut ON lut.q_id = cand.q_id AND lut.s = codes.s AND lut.c = codes.c
       |  GROUP BY cand.q_id, cand.vec_id)
       |${pqAdcRankSql(topK)}""".stripMargin

  /** DuckDB mirror of the q97 recall sweep: ONE kmeans + PQ chain, the
    * nprobe-independent probe ranking, then per-nprobe candidate/ADC/
    * top-k CTEs and exact-top-k hit counts. */
  private def ivfRecallSweepOracleSql(dim: Int, subspaces: Int, kw: Int,
      iters: Int, kClusters: Int, cIters: Int, nprobes: Seq[Int], topK: Int,
      queryPred: String): String = {
    val perNp = nprobes.map { np =>
      s"""cand$np AS (
         |  SELECT p.vec_id AS q_id, a.vec_id
         |  FROM (SELECT vec_id, c FROM pr WHERE rn <= $np) p
         |  JOIN a$cIters a ON a.cluster = p.c AND a.vec_id != p.vec_id),
         |sc$np AS (
         |  SELECT cand$np.q_id, cand$np.vec_id,
         |    CAST(round(sum(lut.t), 6) AS DOUBLE) AS adist
         |  FROM cand$np
         |  JOIN codes ON codes.vec_id = cand$np.vec_id
         |  JOIN lut ON lut.q_id = cand$np.q_id AND lut.s = codes.s AND lut.c = codes.c
         |  GROUP BY cand$np.q_id, cand$np.vec_id),
         |tk$np AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q_id AS query_id, vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rank
         |    FROM sc$np)
         |  WHERE rank <= $topK)""".stripMargin
    }.mkString(",\n")
    val hitsUnion = nprobes.map(np =>
      s"SELECT $np AS nprobe, count(*) AS n_hits FROM tk$np JOIN ex USING (query_id, neighbor_id)")
      .mkString("\n  UNION ALL ")
    s"""${kmeansCtes(kClusters, dim, cIters)},
       |${pqCtes(dim, subspaces, kw, iters, queryPred)},
       |pr AS (
       |  SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM (
       |    SELECT x.vec_id, n.c,
       |      round(x.xx - 2*list_sum([x.emb[i+1]*n.w[i+1] for i in range(0,$dim)])
       |            + list_sum([n.w[i+1]*n.w[i+1] for i in range(0,$dim)]), 6) AS d
       |    FROM xx x CROSS JOIN cen$cIters n WHERE x.$queryPred)),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (
       |        PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
       |                 c.vec_id) AS rank
       |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
       |    WHERE q.$queryPred)
       |  WHERE rank <= $topK),
       |ext AS (SELECT count(*) AS n_exact FROM ex),
       |$perNp,
       |hits AS (
       |  $hitsUnion)
       |SELECT CAST(nprobe AS INT) AS nprobe, CAST(n_hits AS BIGINT) AS n_hits,
       |  CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
       |FROM hits, ext""".stripMargin
  }

  /** DuckDB mirror of the IVF ANN search (q45): same Lloyd's chain,
    * then per-query probe ranking (rounded distance, lowest-index
    * tie) and candidate scoring restricted to the probed cells. */
  private def knnIvfOracleSql(k: Int, dim: Int, kClusters: Int, iters: Int,
      nprobe: Int, queryPred: String): String =
    s"""${kmeansCtes(kClusters, dim, iters)},
       |pr AS (
       |  SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM (
       |    SELECT x.vec_id, n.c,
       |      round(x.xx - 2*list_sum([x.emb[i+1]*n.w[i+1] for i in range(0,$dim)])
       |            + list_sum([n.w[i+1]*n.w[i+1] for i in range(0,$dim)]), 6) AS d
       |    FROM xx x CROSS JOIN cen$iters n WHERE x.$queryPred)),
       |cand AS (
       |  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
       |  FROM (SELECT vec_id, c FROM pr WHERE rn <= $nprobe) p
       |  JOIN a$iters a ON a.cluster = p.c AND a.vec_id != p.vec_id)
       |SELECT * FROM (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    round(list_cosine_similarity(q.emb, c.emb), 6) AS cos_sim,
       |    CAST(row_number() OVER (
       |      PARTITION BY cand.query_id
       |      ORDER BY round(list_cosine_similarity(q.emb, c.emb), 6) DESC,
       |               cand.neighbor_id) AS INT) AS rank
       |  FROM cand JOIN e q ON q.vec_id = cand.query_id
       |            JOIN e c ON c.vec_id = cand.neighbor_id)
       |WHERE rank <= $k""".stripMargin

  /** DuckDB mirror of the full BM25 pipeline, parameterized by query
    * terms and cut (q51 at its fixed query; q149's cadence entry at
    * its own — the INCREMENTAL state serve needs no staged oracle
    * because tf/df/N/avgdl compose exactly across disjoint-id batches,
    * so serve(composed state) == batch bm25(composed corpus),
    * bit-equal, Bm25StateSpec-pinned). */
  private def bm25SqlFor(terms: Seq[String], topK: Int): String = {
    // SQL-escape each term (doubled single quotes): the current
    // callers pass fixed internal tokens, but a quote-carrying term
    // must break a WHERE filter, not the oracle query's syntax.
    val inList = terms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""WITH tk AS (SELECT doc_id, unnest($duckToks) AS tok FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
       |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk
       |  WHERE tok IN ($inList) GROUP BY 1, 2),
       |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT tf.doc_id,
       |  round(CAST(sum(CAST(round(
       |    ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
       |      * (tf.tf * 2.2)
       |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)), 8) AS DECIMAL(20,8))) AS DOUBLE), 6) AS score
       |  FROM tf JOIN dfq USING (tok) JOIN dl USING (doc_id) CROSS JOIN st
       |  GROUP BY tf.doc_id)
       |SELECT * FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
       |    doc_id, score
       |  FROM sc)
       |WHERE rank <= $topK""".stripMargin
  }

  /** The q51 instance (also nested as the lexical arm of the q52
    * hybrid fusion). */
  private lazy val bm25Sql: String =
    bm25SqlFor(Seq("vector", "hash", "filter"), 20)

  /** DuckDB mirror of the full Spark MinHash+LSH pipeline (q22; also
    * the edge set for q53's clustering): same per-shingle md5 hash,
    * same (a_i*h+b_i) mod p permutation family computed in HUGEINT
    * (identical coefficients, injected below), same 16x2 banding,
    * same exact-Jaccard verify. */
  private lazy val minhashLshSql: String = {
    val coeffs = graft.functions.TextFunctions.minhashCoefficients(32)
    val p = graft.functions.TextFunctions.MinhashPrime
    val minCols = coeffs.zipWithIndex.map { case ((a, b), i) =>
      s"min(((h::HUGEINT*$a + $b) % $p)::BIGINT) AS m$i"
    }.mkString(",\n  ")
    val bandEntries = (0 until 16).map { bd =>
      s"'$bd|' || md5(m${2 * bd}::VARCHAR || ',' || m${2 * bd + 1}::VARCHAR)"
    }.mkString(",\n    ")
    s"""$duckShingles3,
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
       |hh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM ex),
       |sig AS (SELECT doc_id,
       |  $minCols
       |  FROM hh GROUP BY doc_id),
       |bands AS (SELECT doc_id,
       |  unnest([$bandEntries]) AS bucket
       |  FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
       |        / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
       |FROM cand JOIN sh x ON x.doc_id = cand.doc_a JOIN sh y ON y.doc_id = cand.doc_b
       |WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
       |        / len(list_distinct(list_concat(x.sh, y.sh))), 6) >= 0.05""".stripMargin
  }

  /** DuckDB BPE CTE chain: word freqs -> wrapped-string symbol state
    * w0 -> three (pairs, best, apply) rounds -> w3. Shared by the q65
    * trainer oracle and the q68 segmentation oracle. */
  private val bpeRounds3: String = {
    def round(prev: String, n: Int): String =
      s"""p$n AS (SELECT unnest([sym[i] || ' ' || sym[i+1] for i in range(1, len(sym))]) AS pair, freq
         |  FROM (SELECT string_split(trim($prev.s), '  ') AS sym, freq FROM $prev)
         |  WHERE len(sym) >= 2),
         |b$n AS (SELECT pair, sum(freq) AS cnt FROM p$n GROUP BY pair
         |  ORDER BY cnt DESC, pair LIMIT 1),
         |w$n AS (SELECT replace(s,
         |    ' ' || split_part((SELECT pair FROM b$n), ' ', 1) || '  ' || split_part((SELECT pair FROM b$n), ' ', 2) || ' ',
         |    ' ' || replace((SELECT pair FROM b$n), ' ', '') || ' ') AS s, freq FROM $prev)""".stripMargin
    s"""WITH tk AS (SELECT unnest($duckToks) AS token FROM documents),
       |wf AS (SELECT token, count(*) AS freq FROM tk GROUP BY token),
       |w0 AS (SELECT ' ' || array_to_string([substr(token, i, 1) for i in range(1, length(token) + 1)], '  ') || ' ' AS s, freq FROM wf),
       |${round("w0", 1)},
       |${round("w1", 2)},
       |${round("w2", 3)}""".stripMargin
  }

  /** DuckDB repeated-span CTE chain (k=8, minDf=2): tokenized docs ->
    * positional 8-grams -> distinct-doc df floor -> run-merged spans.
    * Shared by the q66 finder oracle and the q69 remover oracle. */
  private val duckSpans8: String =
    s"""WITH tkk AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
       |  SELECT doc_id, unnest([{'pos': i - 1, 'gram': array_to_string(toks[i:i+7], ' ')} for i in range(1, len(toks) - 6)]) AS u
       |  FROM tkk WHERE len(toks) >= 8)),
       |rep AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
       |        GROUP BY gram HAVING count(*) >= 2),
       |rp AS (SELECT doc_id, pos FROM g JOIN rep USING (gram)),
       |spanruns AS (SELECT doc_id, min(pos) AS start_pos, max(pos) AS end_pos
       |  FROM (SELECT doc_id, pos,
       |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |        FROM rp)
       |  GROUP BY doc_id, grp)""".stripMargin

  /** DuckDB mirror of `TextDedup.cdcChunkDups(w=4, modulus=8)` —
    * shared by the q105 entry and the q111 savings planner (nested
    * subquery there). */
  private lazy val cdcChunksSql: String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents
       |  WHERE len($duckToks) >= 1),
       |tp AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
       |  SELECT doc_id, unnest([{'pos': i - 1, 'tok': toks[i]} for i in range(1, len(toks) + 1)]) AS u FROM t)),
       |cut AS (SELECT doc_id, CAST(u.p + 3 AS BIGINT) AS pos FROM (
       |  SELECT doc_id, unnest([{'p': i - 1, 'g': array_to_string(toks[i:i+3], ' ')} for i in range(1, len(toks) - 2)]) AS u
       |  FROM t WHERE len(toks) >= 4)
       |  WHERE ('0x' || substr(md5(u.g), 1, 13))::BIGINT % 8 = 0),
       |fl AS (SELECT tp.doc_id, tp.pos, tp.tok,
       |  CASE WHEN c.pos IS NULL THEN 0 ELSE 1 END AS is_cut
       |  FROM tp LEFT JOIN cut c ON c.doc_id = tp.doc_id AND c.pos = tp.pos),
       |ch AS (SELECT doc_id, pos, tok,
       |  coalesce(sum(is_cut) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
       |  FROM fl),
       |ck AS (SELECT doc_id, chunk_id,
       |  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash,
       |  CAST(count(*) AS INT) AS chunk_tokens
       |  FROM ch GROUP BY doc_id, chunk_id)
       |SELECT chunk_hash, min(chunk_tokens) AS chunk_tokens,
       |  count(DISTINCT doc_id) AS n_docs,
       |  count(*) AS n_occurrences
       |FROM ck GROUP BY chunk_hash
       |HAVING count(DISTINCT doc_id) >= 2""".stripMargin

  /** DuckDB word-3-gram shingle CTE (mirrors `wordShingles(tokens, 3)`). */
  private val duckShingles3 =
    s"""WITH tk AS (SELECT doc_id, $duckToks AS t FROM documents),
       |sh AS (SELECT doc_id,
       |  CASE WHEN len(t) - 2 >= 1
       |    THEN list_distinct([array_to_string(t[i+1:i+3], ' ') for i in range(0, len(t)-2)])
       |    ELSE [array_to_string(t, ' ')] END AS sh
       |  FROM tk)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q16_token_count" ->
      s"""SELECT doc_id,
         | CAST(len($duckToks) AS INT) AS n_ws_tokens,
         | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe_tokens,
         | CAST(len(list_distinct($duckToks)) AS INT) AS n_distinct_tokens
         |FROM documents""".stripMargin,

    "q17_quality_score" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks, CAST(len(text) AS DOUBLE) AS nc FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS DOUBLE) AS nt,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) AS nd,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','el','la','de','que','y','der','die','und','das','ist','le','les','et','des','un'], x))) AS DOUBLE) AS nstop,
         |  nc FROM t)
         |SELECT doc_id,
         | CAST(nt AS INT) AS n_tokens,
         | round(nd / nt, 6) AS type_token_ratio,
         | round((nc - (nt - 1)) / nt, 6) AS mean_token_len,
         | round(nstop / nt, 6) AS stopword_ratio,
         | round(
         |   (CASE WHEN nt >= 20 AND nt <= 2000 THEN 0.25 ELSE 0.0 END) +
         |   (CASE WHEN nd / nt >= 0.3 THEN 0.25 ELSE 0.0 END) +
         |   (CASE WHEN (nc - (nt - 1)) / nt >= 3.0 AND (nc - (nt - 1)) / nt <= 10.0 THEN 0.25 ELSE 0.0 END) +
         |   (CASE WHEN nstop / nt > 0.0 THEN 0.25 ELSE 0.0 END), 2) AS quality_score
         |FROM m""".stripMargin,

    "q18_lang_id" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |h AS (SELECT doc_id,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x))) AS INT) AS hits_en,
         |  CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x))) AS INT) AS hits_es,
         |  CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS INT) AS hits_de,
         |  CAST(len(list_filter(toks, x -> list_contains(['le','les','et','des','un'], x))) AS INT) AS hits_fr
         |  FROM t)
         |SELECT doc_id, hits_en, hits_es, hits_de, hits_fr,
         | CASE WHEN greatest(hits_en, hits_es, hits_de, hits_fr) = 0 THEN 'und'
         |      WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
         |      WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
         |      WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
         |      ELSE 'fr' END AS detected_lang
         |FROM h""".stripMargin,

    "q19_fingerprint" ->
      """SELECT doc_id,
        | md5(text) AS md5_hash,
        | list_min([substr(md5('0:' || s), 1, 16) for s in
        |   (CASE WHEN len(text) >= 5
        |     THEN list_distinct([substr(text, i, 5) for i in range(1, len(text) - 3)])
        |     ELSE [text] END)]) AS min_shingle_hash
        |FROM documents""".stripMargin,

    "q20_exact_dedup" ->
      """SELECT md5(lower(trim(text))) AS content_hash,
        | min(doc_id) AS canonical_id,
        | count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,

    // q92: construction + every canonicalization rule replayed CTE-by-
    // CTE. Backreference-free regexes (RE2 vs java.util.regex replace
    // syntax differs); list_filter/list_sort mirror filter/array_sort.
    "q92_url_normalize" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.' || upper(source) || '.Example.COM' ||
        |    CASE WHEN doc_id % 6 = 0 THEN ':8443' ELSE ':443' END ||
        |    '/docs/' || CAST(doc_id AS VARCHAR) ||
        |    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
        |    '?utm_source=feed&z=' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '&ref=track&a=' || CAST(doc_id % 5 AS VARCHAR) ||
        |    '#sec' || CAST(doc_id % 3 AS VARCHAR) AS url
        |  FROM documents),
        |p1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS nf FROM raw),
        |p2 AS (
        |  SELECT doc_id, nf,
        |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\.', '') AS auth,
        |    regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        |    regexp_extract(nf, '[?]([^#]*)', 1) AS q0
        |  FROM p1),
        |p3 AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
        |         WHEN scheme = 'http'  THEN regexp_replace(auth, ':80$', '')
        |         ELSE auth END AS host,
        |    CASE WHEN path0 = '' THEN '/'
        |         WHEN length(path0) > 1 AND path0 LIKE '%/' THEN substr(path0, 1, length(path0) - 1)
        |         ELSE path0 END AS path,
        |    array_to_string(list_sort(list_filter(string_split(q0, '&'),
        |      x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|ref|fbclid|gclid|msclkid)='))), '&') AS qn
        |  FROM p2),
        |p4 AS (
        |  SELECT doc_id, scheme, host, path, qn,
        |    regexp_replace(host, ':[0-9]+$', '') AS host_only
        |  FROM p3)
        |SELECT doc_id, host,
        |  CASE WHEN regexp_extract(host_only, '([^.]+\.[^.]+)$', 1) = '' THEN host_only
        |       ELSE regexp_extract(host_only, '([^.]+\.[^.]+)$', 1) END AS domain,
        |  scheme || '://' || host || path ||
        |    CASE WHEN qn = '' THEN '' ELSE '?' || qn END AS norm_url
        |FROM p4""".stripMargin,

    // q95/q96: generated position-unrolled Viterbi-EM replay
    // (UnigramSql) — IEEE double products only, never logs.
    "q95_unigram_vocab" -> UnigramSql.vocabSql,
    "q96_unigram_segment" -> UnigramSql.segmentSql,

    // q94: q92's construction + host rules, then the q80 window form
    // partitioned by the CLEANED host.
    "q94_domain_cap" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.' || upper(source) || '.Example.COM' ||
        |    CASE WHEN doc_id % 6 = 0 THEN ':8443' ELSE ':443' END ||
        |    '/docs/' || CAST(doc_id AS VARCHAR) ||
        |    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
        |    '?utm_source=feed&z=' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '&ref=track&a=' || CAST(doc_id % 5 AS VARCHAR) ||
        |    '#sec' || CAST(doc_id % 3 AS VARCHAR) AS url
        |  FROM documents),
        |p1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS nf FROM raw),
        |p2 AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\.', '') AS auth
        |  FROM p1),
        |h AS (
        |  SELECT doc_id,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
        |         WHEN scheme = 'http'  THEN regexp_replace(auth, ':80$', '')
        |         ELSE auth END AS host
        |  FROM p2)
        |SELECT doc_id, host, rank FROM (
        |  SELECT doc_id, host, CAST(row_number() OVER (
        |    PARTITION BY host
        |    ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id) AS INT) AS rank
        |  FROM h)
        |WHERE rank <= 12""".stripMargin,

    // q93: per-tag lazy block drops (RE2 has no backreferences, so no
    // combined <(a|b)>.*?</\1> form on either side), literal replace()
    // for entities (&amp; LAST), 'g' on every regexp_replace.
    "q93_html_extract" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title><style>p{margin:0}</style></head><body><nav>home | about | contact</nav><p>' ||
        |    text ||
        |    '</p><script>var t = 1 < 2;</script><p>Tom &amp; Jerry &lt;3 &quot;ok&quot;</p><footer>&copy; 2024 ' ||
        |    upper(source) || '</footer></body></html>' AS html
        |  FROM documents),
        |blocks AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |      '(?s)<head[^>]*>.*?</head>', ' ', 'g'),
        |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<nav[^>]*>.*?</nav>', ' ', 'g'),
        |      '(?s)<footer[^>]*>.*?</footer>', ' ', 'g'),
        |      '(?s)<aside[^>]*>.*?</aside>', ' ', 'g') AS h
        |  FROM raw),
        |stripped AS (
        |  SELECT doc_id, regexp_replace(h, '<[^>]+>', ' ', 'g') AS h FROM blocks),
        |decoded AS (
        |  SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(h,
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS h
        |  FROM stripped)
        |SELECT doc_id,
        |  trim(regexp_replace(h, '[ \t\r\n]+', ' ', 'g')) AS clean_text,
        |  CAST(length(trim(regexp_replace(h, '[ \t\r\n]+', ' ', 'g'))) AS INT) AS n_chars
        |FROM decoded""".stripMargin,

    // q91: NOT EXISTS (null-safe, matching Spark left_anti) rather
    // than NOT IN (whose null-key trap q04 preserves deliberately).
    "q91_bloom_dedup" ->
      """SELECT b.doc_id, md5(lower(trim(b.text))) AS content_hash
        |FROM documents b
        |WHERE b.doc_id % 3 = 0
        |  AND NOT EXISTS (
        |    SELECT 1 FROM documents h
        |    WHERE h.doc_id % 3 != 0
        |      AND md5(lower(trim(h.text))) = md5(lower(trim(b.text))))""".stripMargin,

    "q42_redact" -> {
      val em = graft.operators.TextAnalysis.EmailPattern
      val ur = graft.operators.TextAnalysis.UrlPattern
      s"""SELECT doc_id,
         | regexp_replace(regexp_replace(text, '$em', '<EMAIL>', 'g'), '$ur', '<URL>', 'g') AS clean_text,
         | CAST(len(regexp_extract_all(text, '$em')) AS INT) AS n_emails,
         | CAST(len(regexp_extract_all(text, '$ur')) AS INT) AS n_urls
         |FROM documents""".stripMargin
    },

    "q51_bm25" -> bm25Sql,

    "q149_bm25_state" -> bm25SqlFor(Seq("vector", "hash", "filter"), 15),

    "q52_hybrid_rrf" ->
      s"""WITH lexq AS ($bm25Sql),
         |vecq AS (
         |  SELECT * FROM (
         |    SELECT c.vec_id AS id,
         |      CAST(row_number() OVER (
         |        ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
         |                 c.vec_id) AS INT) AS rank
         |    FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
         |    WHERE q.vec_id = 0)
         |  WHERE rank <= 20)
         |SELECT * FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY rrf DESC, id) AS INT) AS rank,
         |    id AS doc_id, rrf AS rrf_score FROM (
         |    SELECT coalesce(l.doc_id, v.id) AS id,
         |      round(coalesce(1.0 / (60 + l.rank), 0.0)
         |            + coalesce(1.0 / (60 + v.rank), 0.0), 6) AS rrf
         |    FROM lexq l FULL OUTER JOIN vecq v ON v.id = l.doc_id))
         |WHERE rank <= 10""".stripMargin,

    "q50_chunk_documents" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS t FROM documents),
         |c AS (SELECT doc_id,
         |  [array_to_string(t[s+1 : least(s+64, len(t))], ' ')
         |     for s in [s for s in range(0, len(t), 56) if s = 0 or s - 56 + 64 < len(t)]] AS chunks
         |  FROM t)
         |SELECT doc_id,
         | CAST(unnest(range(len(chunks))) AS INT) AS chunk_idx,
         | unnest(chunks) AS chunk_text
         |FROM c""".stripMargin,

    "q48_stratified_sample" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |h AS (SELECT doc_id,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x))) AS INT) AS hits_en,
         |  CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x))) AS INT) AS hits_es,
         |  CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS INT) AS hits_de,
         |  CAST(len(list_filter(toks, x -> list_contains(['le','les','et','des','un'], x))) AS INT) AS hits_fr
         |  FROM t),
         |l AS (SELECT doc_id,
         | CASE WHEN greatest(hits_en, hits_es, hits_de, hits_fr) = 0 THEN 'und'
         |      WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
         |      WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
         |      WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
         |      ELSE 'fr' END AS detected_lang
         |FROM h)
         |SELECT doc_id, detected_lang FROM l
         |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000000
         |  < CAST(floor(CASE detected_lang
         |      WHEN 'en' THEN 0.25 WHEN 'es' THEN 0.5
         |      WHEN 'de' THEN 0.75 WHEN 'fr' THEN 1.0
         |      ELSE 0.1 END * 1000000) AS BIGINT)""".stripMargin,

    // Oracle runs the plain global-order window; the Spark side's
    // two-level bucket prefix sums order by (md5-leading-byte, md5,
    // id) == (md5, id), so the kept sets are identical.
    "q64_token_budget_mix" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |h AS (SELECT doc_id, toks,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x))) AS INT) AS hits_en,
         |  CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x))) AS INT) AS hits_es,
         |  CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS INT) AS hits_de,
         |  CAST(len(list_filter(toks, x -> list_contains(['le','les','et','des','un'], x))) AS INT) AS hits_fr
         |  FROM t),
         |d AS (SELECT doc_id,
         | CASE WHEN greatest(hits_en, hits_es, hits_de, hits_fr) = 0 THEN 'und'
         |      WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
         |      WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
         |      WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
         |      ELSE 'fr' END AS detected_lang,
         | CAST(len(toks) AS BIGINT) AS n_tokens
         |FROM h),
         |p AS (SELECT *, coalesce(sum(n_tokens) OVER (
         |    PARTITION BY detected_lang ORDER BY md5(doc_id::VARCHAR), doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix FROM d)
         |SELECT doc_id, detected_lang, n_tokens FROM p
         |WHERE prefix < CASE detected_lang
         |  WHEN 'en' THEN 2000 WHEN 'es' THEN 1500 ELSE 1000 END""".stripMargin,

    "q49_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS n_tokens FROM documents),
         |s AS (SELECT doc_id, n_tokens, CAST(doc_id % 8 AS INT) AS shard FROM t),
         |p AS (SELECT *, coalesce(sum(n_tokens) OVER (
         |    PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix FROM s)
         |SELECT shard, CAST(floor(prefix / 4096) AS BIGINT) AS bin,
         | count(*) AS n_docs,
         | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         | min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM p GROUP BY shard, CAST(floor(prefix / 4096) AS BIGINT)""".stripMargin,

    // Same binning chain as q49; the contents aggregates mirror
    // Spark's sort_array(collect_list(...)) with ORDER BY inside the
    // aggregate (both are doc_id packing order).
    "q54_pack_contents" ->
      s"""WITH t AS (SELECT doc_id, text, CAST(len($duckToks) AS BIGINT) AS n_tokens FROM documents),
         |s AS (SELECT doc_id, text, n_tokens, CAST(doc_id % 8 AS INT) AS shard FROM t),
         |p AS (SELECT *, coalesce(sum(n_tokens) OVER (
         |    PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix FROM s)
         |SELECT shard, CAST(floor(prefix / 4096) AS BIGINT) AS bin,
         | count(*) AS n_docs,
         | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         | string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids,
         | string_agg(text, chr(10) ORDER BY doc_id) AS packed_text
         |FROM p GROUP BY shard, CAST(floor(prefix / 4096) AS BIGINT)""".stripMargin,

    // q54's packing chain aggregated per shard; the checksum re-derives
    // the md5-prefix hash of each bin's packed_text in SQL.
    "q72_shard_manifest" ->
      s"""WITH t AS (SELECT doc_id, text, CAST(len($duckToks) AS BIGINT) AS n_tokens FROM documents),
         |s AS (SELECT doc_id, text, n_tokens, CAST(doc_id % 8 AS INT) AS shard FROM t),
         |p AS (SELECT *, coalesce(sum(n_tokens) OVER (
         |    PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix FROM s),
         |pk AS (SELECT shard, CAST(floor(prefix / 4096) AS BIGINT) AS bin,
         |  count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  string_agg(text, chr(10) ORDER BY doc_id) AS packed_text
         | FROM p GROUP BY shard, CAST(floor(prefix / 4096) AS BIGINT))
         |SELECT shard, count(*) AS n_bins,
         | CAST(sum(n_docs) AS BIGINT) AS n_docs,
         | CAST(sum(total_tokens) AS BIGINT) AS total_tokens,
         | CAST(sum(('0x' || substr(md5(packed_text), 1, 8))::BIGINT) AS BIGINT) AS checksum
         |FROM pk GROUP BY shard""".stripMargin,

    // Same tokenization as the Spark side; inner joins are equivalent
    // to the operator's left joins under self-scoring (every bigram
    // and unigram of a scored doc exists in the training counts).
    "q57_ngram_lm" ->
      s"""WITH tk AS (SELECT doc_id, $duckToks AS t FROM documents),
         |bg AS (SELECT doc_id, unnest(CASE WHEN len(t) - 1 >= 1
         |  THEN [array_to_string(t[i+1:i+2], ' ') for i in range(0, len(t)-1)]
         |  ELSE [array_to_string(t, ' ')] END) AS bg FROM tk),
         |bc AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY 1),
         |un AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
         |vv AS (SELECT count(*) AS v FROM un)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(CAST(sum(CAST(round(ln((bc.c12 + 1) / (un.c1 + vv.v)), 8) AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6) AS avg_logprob
         |FROM bg JOIN bc USING (bg)
         |  JOIN un ON un.w = split_part(bg.bg, ' ', 1)
         |  CROSS JOIN vv
         |GROUP BY doc_id""".stripMargin,

    // q150: the weekly LM count-state cadence. The oracle is the
    // from-scratch batch scoring over the FULL table (counts and the
    // smoothing vocabulary compose exactly across disjoint-id
    // batches; serve == batch scoring bit-for-bit, LmStateSpec).
    // Scored docs are a corpus subset, so every gram is seen and
    // inner joins mirror the operator's left joins (the q57 rule).
    "q150_lm_state" ->
      s"""WITH tk AS (SELECT doc_id, $duckToks AS t FROM documents),
         |bg AS (SELECT doc_id, unnest(CASE WHEN len(t) - 1 >= 1
         |  THEN [array_to_string(t[i+1:i+2], ' ') for i in range(0, len(t)-1)]
         |  ELSE [array_to_string(t, ' ')] END) AS bg FROM tk),
         |bc AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY 1),
         |un AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
         |vv AS (SELECT count(*) AS v FROM un)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(CAST(sum(CAST(round(ln((bc.c12 + 1) / (un.c1 + vv.v)), 8) AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6) AS avg_logprob
         |FROM bg JOIN bc USING (bg)
         |  JOIN un ON un.w = split_part(bg.bg, ' ', 1)
         |  CROSS JOIN vv
         |WHERE doc_id % 97 = 0
         |GROUP BY doc_id""".stripMargin,

    // q57's chain split: counts from the 99% split, held-out docs
    // scored with LEFT joins + add-one smoothing for unseen grams.
    "q59_ngram_lm_heldout" ->
      s"""WITH tr AS (SELECT doc_id, $duckToks AS t FROM documents WHERE doc_id % 97 != 0),
         |ho AS (SELECT doc_id, $duckToks AS t FROM documents WHERE doc_id % 97 = 0),
         |bgt AS (SELECT doc_id, unnest(CASE WHEN len(t) - 1 >= 1
         |  THEN [array_to_string(t[i+1:i+2], ' ') for i in range(0, len(t)-1)]
         |  ELSE [array_to_string(t, ' ')] END) AS bg FROM tr),
         |bc AS (SELECT bg, count(*) AS c12 FROM bgt GROUP BY 1),
         |un AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(t) AS w FROM tr) GROUP BY 1),
         |vv AS (SELECT count(*) AS v FROM un),
         |bgh AS (SELECT doc_id, unnest(CASE WHEN len(t) - 1 >= 1
         |  THEN [array_to_string(t[i+1:i+2], ' ') for i in range(0, len(t)-1)]
         |  ELSE [array_to_string(t, ' ')] END) AS bg FROM ho)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(CAST(sum(CAST(round(ln((coalesce(bc.c12, 0) + 1) / (coalesce(un.c1, 0) + vv.v)), 8) AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6) AS avg_logprob
         |FROM bgh LEFT JOIN bc USING (bg)
         |  LEFT JOIN un ON un.w = split_part(bgh.bg, ' ', 1)
         |  CROSS JOIN vv
         |GROUP BY doc_id""".stripMargin,

    // q117: interpolated Kneser–Ney over the q59 split. The CASE
    // mirrors knScore's expression tree exactly — same
    // parenthesization of the same IEEE double ops, 8dp-rounded ln,
    // decimal-exact doc sums. Seen-history test keys off fw.n1p.
    "q117_kneser_ney" ->
      s"""WITH tr AS (SELECT doc_id, $duckToks AS t FROM documents WHERE doc_id % 97 != 0),
         |ho AS (SELECT doc_id, $duckToks AS t FROM documents WHERE doc_id % 97 = 0),
         |bgt AS (SELECT unnest([array_to_string(t[i+1:i+2], ' ')
         |  for i in range(0, len(t)-1)]) AS bg FROM tr WHERE len(t) >= 2),
         |bgp AS (SELECT bg, string_split(bg, ' ')[1] AS w1,
         |  string_split(bg, ' ')[-1] AS w2 FROM bgt),
         |bc AS (SELECT bg, count(*) AS c12 FROM bgp GROUP BY 1),
         |hcnt AS (SELECT w1, count(*) AS hc FROM bgp GROUP BY 1),
         |db AS (SELECT DISTINCT bg, w1, w2 FROM bgp),
         |fw AS (SELECT w1, count(*) AS n1p FROM db GROUP BY 1),
         |ct AS (SELECT w2, count(*) AS ncont FROM db GROUP BY 1),
         |tt AS (SELECT (SELECT count(*) FROM db) AS dd,
         |  (SELECT count(DISTINCT w) FROM (SELECT unnest(t) AS w FROM tr)) AS v),
         |bgh AS (SELECT doc_id, unnest(CASE WHEN len(t) - 1 >= 1
         |  THEN [array_to_string(t[i+1:i+2], ' ') for i in range(0, len(t)-1)]
         |  ELSE [array_to_string(t, ' ')] END) AS bg FROM ho),
         |g AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1,
         |  string_split(bg, ' ')[-1] AS w2 FROM bgh)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(CAST(sum(CAST(round(ln(
         |    CASE WHEN fw.n1p IS NOT NULL
         |      THEN greatest(coalesce(bc.c12, 0)::DOUBLE - 0.75, 0.0) / hcnt.hc::DOUBLE +
         |        (0.75 * fw.n1p::DOUBLE / hcnt.hc::DOUBLE) *
         |        ((coalesce(ct.ncont, 0) + 1)::DOUBLE / (tt.dd + tt.v)::DOUBLE)
         |      ELSE (coalesce(ct.ncont, 0) + 1)::DOUBLE / (tt.dd + tt.v)::DOUBLE
         |    END), 8) AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6) AS avg_logprob
         |FROM g LEFT JOIN bc USING (bg)
         |  LEFT JOIN hcnt USING (w1)
         |  LEFT JOIN fw USING (w1)
         |  LEFT JOIN ct USING (w2)
         |  CROSS JOIN tt
         |GROUP BY doc_id""".stripMargin,

    // q78: q59's trained-LM LEFT-join scoring (train = the en slice,
    // scored = all docs), then value-quantile bucketing from the score
    // histogram: cum(s) = docs scoring >= s, bucket = ceil(cum*3/N) in
    // integer-exact arithmetic, ties share a bucket by construction.
    "q78_perplexity_buckets" ->
      s"""WITH tr AS (SELECT doc_id, $duckToks AS t FROM documents WHERE lang = 'en'),
         |al AS (SELECT doc_id, $duckToks AS t FROM documents),
         |bgt AS (SELECT doc_id, unnest(CASE WHEN len(t) - 1 >= 1
         |  THEN [array_to_string(t[i+1:i+2], ' ') for i in range(0, len(t)-1)]
         |  ELSE [array_to_string(t, ' ')] END) AS bg FROM tr),
         |bc AS (SELECT bg, count(*) AS c12 FROM bgt GROUP BY 1),
         |un AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(t) AS w FROM tr) GROUP BY 1),
         |vv AS (SELECT count(*) AS v FROM un),
         |bga AS (SELECT doc_id, unnest(CASE WHEN len(t) - 1 >= 1
         |  THEN [array_to_string(t[i+1:i+2], ' ') for i in range(0, len(t)-1)]
         |  ELSE [array_to_string(t, ' ')] END) AS bg FROM al),
         |sc AS (SELECT doc_id,
         |  round(CAST(sum(CAST(round(ln((coalesce(bc.c12, 0) + 1) / (coalesce(un.c1, 0) + vv.v)), 8) AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6) AS avg_logprob
         |FROM bga LEFT JOIN bc USING (bg)
         |  LEFT JOIN un ON un.w = split_part(bga.bg, ' ', 1)
         |  CROSS JOIN vv
         |GROUP BY doc_id),
         |hist AS (SELECT avg_logprob, count(*) AS nb FROM sc GROUP BY 1),
         |cum AS (SELECT avg_logprob,
         |  sum(nb) OVER (ORDER BY avg_logprob DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
         |  sum(nb) OVER () AS n_total FROM hist),
         |bk AS (SELECT avg_logprob,
         |  CAST(floor((c * 3 + n_total - 1) / n_total) AS BIGINT) AS bucket_idx FROM cum)
         |SELECT sc.doc_id, sc.avg_logprob,
         |  CASE WHEN bucket_idx = 1 THEN 'head'
         |       WHEN bucket_idx = 3 THEN 'tail'
         |       ELSE 'middle' END AS ppl_bucket
         |FROM sc JOIN bk USING (avg_logprob)""".stripMargin,

    // q79: the Gopher rule measurements as list-lambda mirrors of the
    // engine's codegen'd HOFs; booleans compare as-is.
    "q79_gopher_rules" ->
      s"""$gopherMeasuresCte
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
         |  ellipsis_ratio, alpha_ratio, stopword_hits,
         |  n_words >= 20 AND n_words <= 10000 AS words_ok,
         |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS word_len_ok,
         |  symbol_ratio <= 0.1 AS symbol_ok,
         |  bullet_ratio <= 0.9 AS bullet_ok,
         |  ellipsis_ratio <= 0.3 AS ellipsis_ok,
         |  alpha_ratio >= 0.8 AS alpha_ok,
         |  stopword_hits >= 2 AS stopword_ok,
         |  (n_words >= 20 AND n_words <= 10000) AND
         |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AND
         |  symbol_ratio <= 0.1 AND bullet_ratio <= 0.9 AND
         |  ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8 AND
         |  stopword_hits >= 2 AS pass
         |FROM m""".stripMargin,

    // q80: the window form IS the oracle (row_number over the md5
    // draw); the engine computes the same kept set + rank through the
    // bounded TopKByScore aggregate instead of a per-group sort.
    "q80_source_cap" ->
      """SELECT doc_id, source, rank FROM (
        |  SELECT doc_id, source, CAST(row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id) AS INT) AS rank
        |  FROM documents)
        |WHERE rank <= 12""".stripMargin,

    "q47_decontaminate" ->
      s"""$duckShingles3,
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |bsh AS (SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0)
         |SELECT e.doc_id, count(*) AS n_contaminated_shingles
         |FROM ex e JOIN bsh USING (s)
         |WHERE e.doc_id % 97 != 0
         |GROUP BY e.doc_id""".stripMargin,

    // q90: sampled frames (every 2nd of 4 + id%5) with per-frame dims
    // from the id arithmetic — the engine earns each row through
    // container parsing + real PNG decode of that frame.
    "q90_video_framesample" ->
      """SELECT doc_id AS asset_id, CAST(f AS INT) AS frame_idx,
        |  CAST(16 + (doc_id * 31 + f) % 97 AS INT) AS width,
        |  CAST(16 + (doc_id * 31 + f) % 53 AS INT) AS height
        |FROM (SELECT doc_id, unnest(range(0, 4 + doc_id % 5, 2)) AS f
        |      FROM documents WHERE doc_id % 4 = 0)""".stripMargin,

    // q89: the engine earns this via real PNG decode + average-pool +
    // aHash; the oracle only knows the construction (class = id % 6).
    "q89_image_neardup" ->
      """SELECT d.doc_id AS asset_id, m.canonical_id
        |FROM documents d JOIN (
        |  SELECT doc_id % 6 AS cls, CAST(min(doc_id) AS BIGINT) AS canonical_id
        |  FROM documents GROUP BY 1) m
        |ON d.doc_id % 6 = m.cls""".stripMargin,

    // q147: the audio twin of q89 — the engine earns this via real WAV
    // decode + band-energy pooling + the loudness-invariant
    // fingerprint; the oracle only knows the construction (class =
    // id % 6).
    "q147_audio_neardup" ->
      """SELECT d.doc_id AS asset_id, m.canonical_id
        |FROM documents d JOIN (
        |  SELECT doc_id % 6 AS cls, CAST(min(doc_id) AS BIGINT) AS canonical_id
        |  FROM documents GROUP BY 1) m
        |ON d.doc_id % 6 = m.cls""".stripMargin,

    // q148: the q79 measure CTE + rule pass COUNT (nulls = failed
    // rules on both engines), ranked by the md5 tie order the Ranking
    // operator declares — the window form IS the oracle; the engine
    // earns equality through the histogram + tie-bucket plan.
    "q148_lowcard_rank" ->
      s"""$gopherMeasuresCte,
         |pc AS (SELECT doc_id,
         |  CAST(coalesce(n_words >= 20 AND n_words <= 10000, false) AS INT) +
         |  CAST(coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0, false) AS INT) +
         |  CAST(coalesce(symbol_ratio <= 0.1, false) AS INT) +
         |  CAST(coalesce(bullet_ratio <= 0.9, false) AS INT) +
         |  CAST(coalesce(ellipsis_ratio <= 0.3, false) AS INT) +
         |  CAST(coalesce(alpha_ratio >= 0.8, false) AS INT) +
         |  CAST(coalesce(stopword_hits >= 2, false) AS INT) AS pass_ct
         |FROM m)
         |SELECT doc_id, pass_ct,
         |  CAST(row_number() OVER (
         |    ORDER BY pass_ct, md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rank
         |FROM pc""".stripMargin,

    // q88: the benchmark-side audit over the same shingle overlap
    // (per-doc shingle lists are already distinct).
    "q88_decon_audit" ->
      s"""$duckShingles3,
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |co AS (SELECT doc_id, s FROM ex WHERE doc_id % 97 != 0),
         |be AS (SELECT doc_id AS bench_id, s FROM ex WHERE doc_id % 97 = 0)
         |SELECT bench_id,
         |  CAST(count(DISTINCT co.doc_id) AS BIGINT) AS n_leaked_docs,
         |  CAST(count(*) AS BIGINT) AS n_overlap_instances
         |FROM co JOIN be USING (s)
         |GROUP BY bench_id""".stripMargin,

    "q46_normalize" ->
      """SELECT doc_id,
        | trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin,

    "q43_repetition" ->
      s"""$duckShingles3
         |SELECT tk.doc_id,
         | CAST(greatest(len(tk.t) - 2, 1) AS INT) AS n_shingle_positions,
         | CAST(len(sh.sh) AS INT) AS n_distinct_shingles,
         | round(1.0 - CAST(len(sh.sh) AS DOUBLE) / greatest(len(tk.t) - 2, 1), 6) AS repetition_ratio
         |FROM tk JOIN sh USING (doc_id)""".stripMargin,

    // Candidate generation identical to q22; verify swapped for the
    // signature-agreement estimator, so the estimator itself is
    // oracle-checked column by column.
    "q44_minhash_estimate" ->
      s"""$minhashEstCtes
         |SELECT doc_a, doc_b, est_jaccard FROM est
         |WHERE est_jaccard >= 0.25""".stripMargin,

    // q86: measured candidate counts per estimate bucket + the
    // analytic s-curve at the bucket edge, powers as the SAME
    // squaring chain the engine runs.
    "q86_lsh_calibration" ->
      s"""$minhashEstCtes,
         |bk AS (SELECT floor(est_jaccard * 20) / 20 AS bucket FROM est),
         |g AS (SELECT bucket, count(*) AS n FROM bk GROUP BY 1),
         |p1 AS (SELECT bucket, n, 1.0 - bucket * bucket AS y FROM g),
         |p2 AS (SELECT bucket, n, y, y * y AS y2 FROM p1),
         |p3 AS (SELECT bucket, n, y2 * y2 AS y4 FROM p2),
         |p4 AS (SELECT bucket, n, y4 * y4 AS y8 FROM p3),
         |p5 AS (SELECT bucket, n, y8 * y8 AS y16 FROM p4)
         |SELECT bucket, CAST(n AS BIGINT) AS n_candidate_pairs,
         |  round(1.0 - y16, 6) AS collision_prob
         |FROM p5""".stripMargin,

    // q87: pair + distinct-doc counts at three thresholds from the
    // same estimate chain.
    "q87_dedup_threshold_sweep" ->
      s"""$minhashEstCtes,
         |th AS (SELECT unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.75::DOUBLE]) AS threshold),
         |pe AS (SELECT th.threshold, e.doc_a, e.doc_b
         |  FROM est e JOIN th ON e.est_jaccard >= th.threshold),
         |np AS (SELECT threshold, count(*) AS n_pairs FROM pe GROUP BY 1),
         |nd AS (SELECT threshold, count(DISTINCT d) AS n_docs
         |  FROM (SELECT threshold, unnest([doc_a, doc_b]) AS d FROM pe)
         |  GROUP BY 1)
         |SELECT threshold, CAST(n_pairs AS BIGINT) AS n_pairs,
         |  CAST(n_docs AS BIGINT) AS n_docs
         |FROM np JOIN nd USING (threshold)""".stripMargin,

    "q21_ngram_jaccard" ->
      s"""$duckShingles3
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.sh, b.sh)) > 0
         |  AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.05""".stripMargin,

    // q53's recursive transitive-closure chain + q17's quality chain,
    // survivor = row_number() over (quality DESC, doc_id) = 1 — the
    // same deterministic pick as the Spark struct-max.
    "q58_dedup_survivors" ->
      s"""WITH RECURSIVE pairsq AS ($minhashLshSql),
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairsq
         |        UNION SELECT doc_b, doc_a FROM pairsq),
         |reach(src, dst) AS (
         |  SELECT src, src FROM und
         |  UNION
         |  SELECT r.src, u.dst FROM reach r JOIN und u ON u.src = r.dst)
         |, cl AS (SELECT src AS doc_id, min(dst) AS canonical_id
         |         FROM reach GROUP BY src),
         |qt AS (SELECT doc_id, $duckToks AS toks, CAST(len(text) AS DOUBLE) AS nc FROM documents),
         |qm AS (SELECT doc_id,
         |  CAST(len(toks) AS DOUBLE) AS nt,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) AS nd,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','el','la','de','que','y','der','die','und','das','ist','le','les','et','des','un'], x))) AS DOUBLE) AS nstop,
         |  nc FROM qt),
         |qs AS (SELECT doc_id, round(
         |   (CASE WHEN nt >= 20 AND nt <= 2000 THEN 0.25 ELSE 0.0 END) +
         |   (CASE WHEN nd / nt >= 0.3 THEN 0.25 ELSE 0.0 END) +
         |   (CASE WHEN (nc - (nt - 1)) / nt >= 3.0 AND (nc - (nt - 1)) / nt <= 10.0 THEN 0.25 ELSE 0.0 END) +
         |   (CASE WHEN nstop / nt > 0.0 THEN 0.25 ELSE 0.0 END), 2) AS q
         |  FROM qm),
         |j AS (SELECT cl.canonical_id, cl.doc_id, qs.q,
         |  row_number() OVER (PARTITION BY cl.canonical_id ORDER BY qs.q DESC, cl.doc_id) AS rn
         |  FROM cl JOIN qs USING (doc_id))
         |SELECT j.canonical_id, j.doc_id AS survivor_id, j.q AS best_quality, a.n_members
         |FROM j JOIN (SELECT canonical_id, count(*) AS n_members FROM j GROUP BY 1) a
         |  USING (canonical_id)
         |WHERE j.rn = 1""".stripMargin,

    "q62_vocab_topk" ->
      s"""SELECT * FROM (
         |  SELECT token, n_occurrences,
         |    CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) AS INT) AS rank
         |  FROM (SELECT token, count(*) AS n_occurrences
         |        FROM (SELECT unnest($duckToks) AS token FROM documents)
         |        GROUP BY token))
         |WHERE rank <= 1000""".stripMargin,

    // Char positions mirror the kernel: len >= 2 -> len-1 bigrams,
    // single-char tokens contribute themselves.
    "q63_bpe_pairs" ->
      s"""WITH tk AS (SELECT unnest($duckToks) AS token FROM documents),
         |pr AS (SELECT unnest(CASE WHEN length(token) >= 2
         |    THEN [substr(token, i, 2) for i in range(1, length(token))]
         |    ELSE [token] END) AS pair FROM tk)
         |SELECT * FROM (
         |  SELECT pair, n_occurrences,
         |    CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair) AS INT) AS rank
         |  FROM (SELECT pair, count(*) AS n_occurrences FROM pr GROUP BY pair))
         |WHERE rank <= 500""".stripMargin,

    // Three BPE merge rounds unrolled. Symbol state is a wrapped string
    // (' a  b  c ' — single edge spaces, double separators): tokens
    // contain no whitespace, so the pattern ' a  b ' can only match a
    // complete adjacent symbol pair, and replace()'s left-to-right
    // non-overlapping scan is exactly the BPE merge-apply rule
    // (shared-boundary cases: ' a  a  a ' -> ' aa  a ' merges the
    // leftmost pair and skips, like the trainer).
    "q65_bpe_train" ->
      s"""$bpeRounds3
         |SELECT CAST(1 AS INT) AS round, pair, replace(pair, ' ', '') AS merged, CAST(cnt AS BIGINT) AS n_occurrences FROM b1
         |UNION ALL SELECT CAST(2 AS INT), pair, replace(pair, ' ', ''), CAST(cnt AS BIGINT) FROM b2
         |UNION ALL SELECT CAST(3 AS INT), pair, replace(pair, ' ', ''), CAST(cnt AS BIGINT) FROM b3""".stripMargin,

    // The artifact itself: q65's merge rows (rank = round) plus w3's
    // symbol state unnested and weight-aggregated — the engine must
    // produce the same frame it later ships to storage for q68.
    "q77_bpe_vocab" ->
      s"""$bpeRounds3,
         |sym AS (SELECT unnest(string_split(trim(s), '  ')) AS symbol, freq FROM w3)
         |SELECT 'merge' AS kind, CAST(1 AS INT) AS rank, pair, replace(pair, ' ', '') AS symbol, CAST(cnt AS BIGINT) AS weight FROM b1
         |UNION ALL SELECT 'merge', CAST(2 AS INT), pair, replace(pair, ' ', ''), CAST(cnt AS BIGINT) FROM b2
         |UNION ALL SELECT 'merge', CAST(3 AS INT), pair, replace(pair, ' ', ''), CAST(cnt AS BIGINT) FROM b3
         |UNION ALL SELECT 'symbol', CAST(-1 AS INT), '', symbol, CAST(sum(freq) AS BIGINT) FROM sym GROUP BY symbol""".stripMargin,

    // The train -> encode round trip: w3 (the symbol state after the
    // q65 merges) unnested and counted with word-frequency weights ==
    // the engine's kernel replay over every corpus token occurrence.
    "q68_bpe_segment" ->
      s"""$bpeRounds3,
         |sym AS (SELECT unnest(string_split(trim(s), '  ')) AS symbol, freq FROM w3)
         |SELECT * FROM (
         |  SELECT symbol, n_occurrences,
         |    CAST(row_number() OVER (ORDER BY n_occurrences DESC, symbol) AS INT) AS rank
         |  FROM (SELECT symbol, CAST(sum(freq) AS BIGINT) AS n_occurrences
         |        FROM sym GROUP BY symbol))
         |WHERE rank <= 50""".stripMargin,

    // q81: per-word-type symbol counts fall out of bpeRounds3's w3
    // (token reconstructed by stripping the separator spaces), joined
    // to the doc token stream and grouped by the q18 language pick.
    "q81_tokenizer_fertility" ->
      s"""$bpeRounds3,
         |wsym AS (SELECT replace(trim(s), ' ', '') AS token,
         |  CAST(len(string_split(trim(s), '  ')) AS INT) AS nsym FROM w3),
         |tl AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |hh AS (SELECT doc_id,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x))) AS INT) AS hits_en,
         |  CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x))) AS INT) AS hits_es,
         |  CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS INT) AS hits_de,
         |  CAST(len(list_filter(toks, x -> list_contains(['le','les','et','des','un'], x))) AS INT) AS hits_fr
         |  FROM tl),
         |lg AS (SELECT doc_id,
         | CASE WHEN greatest(hits_en, hits_es, hits_de, hits_fr) = 0 THEN 'und'
         |      WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
         |      WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
         |      WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
         |      ELSE 'fr' END AS lang
         |FROM hh),
         |tkd AS (SELECT doc_id, unnest(toks) AS token FROM tl)
         |SELECT lg.lang, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(wsym.nsym) AS BIGINT) AS n_symbols,
         |  round(CAST(sum(wsym.nsym) AS DOUBLE) / count(*), 6) AS fertility
         |FROM tkd JOIN wsym USING (token) JOIN lg USING (doc_id)
         |GROUP BY lg.lang""".stripMargin,

    // Exact mirrors + literal true flags: the engine's sketch values
    // are compared against its own exact columns IN the query, so the
    // compare stays bit-deterministic while still failing if a sketch
    // drifts out of tolerance. Shingle cardinality counts the per-doc
    // distinct 3-gram sets (the engine counts their xxhash64 images —
    // same cardinality at ~n^2/2^65 collision odds).
    "q67_corpus_sketch" ->
      s"""$duckShingles3,
         |flat AS (SELECT unnest(sh.sh) AS s FROM sh),
         |toks AS (SELECT unnest($duckToks) AS token FROM documents),
         |lens AS (SELECT CAST(len($duckToks) AS DOUBLE) AS len FROM documents)
         |SELECT
         | CAST((SELECT count(DISTINCT token) FROM toks) AS BIGINT) AS vocab_exact,
         | CAST(1 AS INT) AS vocab_approx_ok,
         | CAST((SELECT count(DISTINCT s) FROM flat) AS BIGINT) AS shingles_exact,
         | CAST(1 AS INT) AS shingles_approx_ok,
         | round((SELECT quantile_cont(len, 0.5) FROM lens), 2) AS len_p50_exact,
         | CAST(1 AS INT) AS len_p50_approx_ok,
         | round((SELECT quantile_cont(len, 0.9) FROM lens), 2) AS len_p90_exact,
         | CAST(1 AS INT) AS len_p90_approx_ok""".stripMargin,

    // Positional 8-token windows (0-based pos like posexplode), grouped
    // by the gram itself (the engine groups by xxhash64 of it — same
    // partition at ~n^2/2^65 collision odds), distinct-doc df >= 2,
    // then the pos - row_number run merge.
    "q66_repeated_spans" ->
      s"""$duckSpans8
         |SELECT doc_id, start_pos, end_pos,
         |  end_pos - start_pos + 8 AS span_tokens
         |FROM spanruns""".stripMargin,

    // The act half: token positions covered by a span are cut, the
    // survivors rejoin on single spaces; fully-removed documents stay
    // in the output with clean_text = ''.
    "q69_remove_spans" ->
      s"""$duckSpans8,
         |pos AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
         |  SELECT doc_id, unnest([{'pos': i - 1, 'tok': toks[i]} for i in range(1, len(toks) + 1)]) AS u FROM tkk)),
         |kept AS (SELECT p.doc_id, p.pos, p.tok FROM pos p
         |  WHERE NOT EXISTS (SELECT 1 FROM spanruns s WHERE s.doc_id = p.doc_id
         |    AND p.pos BETWEEN s.start_pos AND s.end_pos + 7)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         |    count(*) AS n_kept FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
         |  CAST(len(t.toks) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
         |FROM tkk t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // q142: q69's replay with df over the FULL corpus (the composed
    // history+batch counts) and removal applied to the odd-id batch
    // only — the incremental cadence's per-batch cleaning contract.
    "q142_span_incremental" ->
      s"""$duckSpans8,
         |pos AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
         |  SELECT doc_id, unnest([{'pos': i - 1, 'tok': toks[i]} for i in range(1, len(toks) + 1)]) AS u
         |  FROM tkk WHERE doc_id % 2 = 1)),
         |kept AS (SELECT p.doc_id, p.pos, p.tok FROM pos p
         |  WHERE NOT EXISTS (SELECT 1 FROM spanruns s WHERE s.doc_id = p.doc_id
         |    AND p.pos BETWEEN s.start_pos AND s.end_pos + 7)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         |    count(*) AS n_kept FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
         |  CAST(len(t.toks) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
         |FROM tkk t LEFT JOIN agg a USING (doc_id)
         |WHERE t.doc_id % 2 = 1""".stripMargin,

    // q143: the exactQuantiles rule replayed literally — cumulative
    // count over the per-metric distinct-value histogram, quantile =
    // smallest value whose cumulative count reaches ceil(p*N/100)
    // (integer arithmetic on both engines).
    "q143_quantile_report" ->
      s"""WITH m AS (
         |  SELECT 'chars' AS metric, CAST(length(text) AS BIGINT) AS v FROM documents
         |  UNION ALL
         |  SELECT 'words' AS metric, CAST(len($duckToks) AS BIGINT) AS v FROM documents),
         |h AS (SELECT metric, v, count(*) AS c FROM m GROUP BY 1, 2),
         |cum AS (SELECT metric, v,
         |  sum(c) OVER (PARTITION BY metric ORDER BY v) AS cum,
         |  sum(c) OVER (PARTITION BY metric) AS n FROM h),
         |ps AS (SELECT * FROM (VALUES (10), (25), (50), (75), (90), (99)) t(p))
         |SELECT cum.metric, ps.p AS percentile,
         |  CAST(min(cum.v) AS BIGINT) AS value
         |FROM ps JOIN cum ON cum.cum >= (ps.p * cum.n + 99) // 100
         |GROUP BY 1, 2""".stripMargin,

    // q144: the line synthesis (8-token slices + parity-planted footer)
    // replayed in SQL; df counts DISTINCT docs per non-blank line
    // STRING (the operator counts 64-bit hashes — collision stance);
    // lines at df >= 2 cut, survivors re-joined in position order.
    "q144_line_dedup" ->
      s"""WITH tk AS (SELECT doc_id, $duckToks AS t FROM documents),
         |ls AS (SELECT doc_id,
         |  [array_to_string(t[i*8+1:i*8+8], ' ')
         |   for i in range(0, greatest((len(t)+7)//8, 1))] ||
         |  CASE WHEN substr(md5(doc_id::VARCHAR || '#footer'), 1, 1)
         |         IN ('0','1','2','3','4','5','6','7')
         |       THEN ['subscribe to the newsletter for weekly updates']
         |       ELSE [] END AS lines FROM tk),
         |pl AS (SELECT doc_id, u.p AS pos, u.l AS line FROM (
         |  SELECT doc_id,
         |    unnest([{'p': i, 'l': lines[i+1]} for i in range(0, len(lines))]) AS u
         |  FROM ls)),
         |df AS (SELECT line, count(DISTINCT doc_id) AS df FROM pl
         |  WHERE line <> '' GROUP BY 1),
         |mark AS (SELECT p.doc_id, p.pos, p.line,
         |    coalesce(d.df, 1) >= 2 AS cut
         |  FROM pl p LEFT JOIN df d ON p.line = d.line)
         |SELECT doc_id,
         |  coalesce(string_agg(CASE WHEN NOT cut THEN line END, chr(10) ORDER BY pos), '')
         |    AS clean_text,
         |  CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
         |FROM mark GROUP BY doc_id""".stripMargin,

    // q145: q144's replay with line-df over the FULL corpus and removal
    // restricted to the odd (weekly-batch) half — equal to the
    // incremental composition because distinct-doc counts add across
    // the disjoint halves.
    "q145_line_incremental" ->
      s"""WITH tk AS (SELECT doc_id, $duckToks AS t FROM documents),
         |ls AS (SELECT doc_id,
         |  [array_to_string(t[i*8+1:i*8+8], ' ')
         |   for i in range(0, greatest((len(t)+7)//8, 1))] ||
         |  CASE WHEN substr(md5(doc_id::VARCHAR || '#footer'), 1, 1)
         |         IN ('0','1','2','3','4','5','6','7')
         |       THEN ['subscribe to the newsletter for weekly updates']
         |       ELSE [] END AS lines FROM tk),
         |pl AS (SELECT doc_id, u.p AS pos, u.l AS line FROM (
         |  SELECT doc_id,
         |    unnest([{'p': i, 'l': lines[i+1]} for i in range(0, len(lines))]) AS u
         |  FROM ls)),
         |df AS (SELECT line, count(DISTINCT doc_id) AS df FROM pl
         |  WHERE line <> '' GROUP BY 1),
         |mark AS (SELECT p.doc_id, p.pos, p.line,
         |    coalesce(d.df, 1) >= 2 AS cut
         |  FROM pl p LEFT JOIN df d ON p.line = d.line)
         |SELECT doc_id,
         |  coalesce(string_agg(CASE WHEN NOT cut THEN line END, chr(10) ORDER BY pos), '')
         |    AS clean_text,
         |  CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
         |FROM mark WHERE doc_id % 2 = 1 GROUP BY doc_id""".stripMargin,

    // The q22 pair chain joined to the embedding table; cosine compared
    // with the q24/q25 discipline (DOUBLE[] cast, round to 6dp).
    "q61_crossmodal_dedup" ->
      s"""WITH pairsq AS ($minhashLshSql)
         |SELECT p.doc_a, p.doc_b, p.jaccard,
         |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim,
         |  CAST(p.jaccard >= 0.5 AND
         |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.5
         |    AS INT) AS both_agree
         |FROM pairsq p
         |  JOIN embeddings a ON a.vec_id = p.doc_a
         |  JOIN embeddings b ON b.vec_id = p.doc_b""".stripMargin,

    // q53's closure + q58's survivor pick + q20's exact hashing, fused
    // into the per-doc report. Survivors are computed over ALL docs
    // grouped by near-canonical: a singleton's row_number()=1 pick is
    // itself, which equals the Spark side's coalesce(survivor, doc).
    "q60_dedup_report" ->
      s"""WITH RECURSIVE pairsq AS ($minhashLshSql),
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairsq
         |        UNION SELECT doc_b, doc_a FROM pairsq),
         |reach(src, dst) AS (
         |  SELECT src, src FROM und
         |  UNION
         |  SELECT r.src, u.dst FROM reach r JOIN und u ON u.src = r.dst)
         |, cl AS (SELECT src AS doc_id, min(dst) AS canonical_id
         |         FROM reach GROUP BY src),
         |qt AS (SELECT doc_id, $duckToks AS toks, CAST(len(text) AS DOUBLE) AS nc FROM documents),
         |qm AS (SELECT doc_id,
         |  CAST(len(toks) AS DOUBLE) AS nt,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) AS nd,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','el','la','de','que','y','der','die','und','das','ist','le','les','et','des','un'], x))) AS DOUBLE) AS nstop,
         |  nc FROM qt),
         |qs AS (SELECT doc_id, round(
         |   (CASE WHEN nt >= 20 AND nt <= 2000 THEN 0.25 ELSE 0.0 END) +
         |   (CASE WHEN nd / nt >= 0.3 THEN 0.25 ELSE 0.0 END) +
         |   (CASE WHEN (nc - (nt - 1)) / nt >= 3.0 AND (nc - (nt - 1)) / nt <= 10.0 THEN 0.25 ELSE 0.0 END) +
         |   (CASE WHEN nstop / nt > 0.0 THEN 0.25 ELSE 0.0 END), 2) AS q
         |  FROM qm),
         |hx AS (SELECT doc_id, md5(lower(trim(text))) AS content_hash FROM documents),
         |ec AS (SELECT content_hash, min(doc_id) AS exact_canonical FROM hx GROUP BY 1),
         |ncl AS (SELECT hx.doc_id, coalesce(cl.canonical_id, hx.doc_id) AS near_canonical
         |        FROM hx LEFT JOIN cl USING (doc_id)),
         |j AS (SELECT ncl.near_canonical, ncl.doc_id, qs.q,
         |  row_number() OVER (PARTITION BY ncl.near_canonical ORDER BY qs.q DESC, ncl.doc_id) AS rn
         |  FROM ncl JOIN qs USING (doc_id)),
         |sv AS (SELECT near_canonical, doc_id AS survivor_id FROM j WHERE rn = 1)
         |SELECT ncl.doc_id, ec.exact_canonical, ncl.near_canonical,
         |  sv.survivor_id AS kept_id, qs.q AS quality_score,
         |  CAST(ncl.doc_id = sv.survivor_id AS INT) AS keep
         |FROM ncl
         |  JOIN hx USING (doc_id)
         |  JOIN ec USING (content_hash)
         |  JOIN qs USING (doc_id)
         |  JOIN sv USING (near_canonical)""".stripMargin,

    // Same shingle chain as q21; containment divides the intersection
    // by each side's own set size instead of the union.
    "q56_containment" ->
      s"""$duckShingles3
         |SELECT * FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6) AS containment_a,
         |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh), 6) AS containment_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) > 0)
         |WHERE greatest(containment_a, containment_b) >= 0.3""".stripMargin,

    // Full algorithmic mirror of the Spark MinHash+LSH pipeline: same
    // per-shingle md5 hash, same (a_i*h+b_i) mod p permutation family
    // (identical coefficients, injected below), same 16x2 banding, same
    // exact-Jaccard verify — the compare checks the algorithm, not just
    // the survivors.
    "q22_minhash_lsh" -> minhashLshSql,

    // Connected components over the q22 pair graph: DuckDB replays the
    // pair SQL, then WITH RECURSIVE transitive closure; canonical =
    // min reachable id, exactly the fixpoint of min-label propagation.
    // q100: bench-gram membership (strings, not hashes — collision-
    // free mirror of the xxhash64 join), islands, then the q69
    // removal replay at k=3 over the corpus slice.
    "q100_decon_spans" ->
      s"""WITH tkk AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
         |  SELECT doc_id, unnest([{'pos': i - 1, 'gram': array_to_string(toks[i:i+2], ' ')} for i in range(1, len(toks) - 1)]) AS u
         |  FROM tkk WHERE len(toks) >= 3)),
         |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         |cpos AS (SELECT g.doc_id, g.pos FROM g JOIN bg USING (gram)
         |         WHERE g.doc_id % 97 != 0),
         |spanruns AS (SELECT doc_id, min(pos) AS start_pos, max(pos) AS end_pos
         |  FROM (SELECT doc_id, pos,
         |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM cpos)
         |  GROUP BY doc_id, grp),
         |ct AS (SELECT doc_id, toks FROM tkk WHERE doc_id % 97 != 0),
         |pos AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
         |  SELECT doc_id, unnest([{'pos': i - 1, 'tok': toks[i]} for i in range(1, len(toks) + 1)]) AS u FROM ct)),
         |kept AS (SELECT p.doc_id, p.pos, p.tok FROM pos p
         |  WHERE NOT EXISTS (SELECT 1 FROM spanruns s WHERE s.doc_id = p.doc_id
         |    AND p.pos BETWEEN s.start_pos AND s.end_pos + 2)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         |    count(*) AS n_kept FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
         |  CAST(len(t.toks) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
         |FROM ct t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // q101: distinct (3-shingle, source) frame self-joined on the
    // gram; per-source totals re-joined for the set Jaccard. The
    // engine keys on xxhash64 of the same gram strings — counts agree
    // exactly barring a ~2^-65-odds collision (the q66 stance).
    "q101_source_overlap" ->
      s"""WITH t AS (SELECT source AS src, $duckToks AS toks FROM documents),
         |c AS (SELECT DISTINCT src, gram FROM (
         |  SELECT src, unnest([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) AS gram
         |  FROM t WHERE len(toks) >= 3)),
         |tot AS (SELECT src, count(*) AS n FROM c GROUP BY 1)
         |SELECT a.src AS source_a, b.src AS source_b,
         |  count(*) AS n_shared, ta.n AS n_a, tb.n AS n_b,
         |  round(CAST(count(*) AS DOUBLE) /
         |        CAST(ta.n + tb.n - count(*) AS DOUBLE), 6) AS hash_jaccard
         |FROM c a JOIN c b ON a.gram = b.gram AND a.src < b.src
         |JOIN tot ta ON ta.src = a.src JOIN tot tb ON tb.src = b.src
         |GROUP BY a.src, b.src, ta.n, tb.n""".stripMargin,

    // q102: integer-exact token totals -> 6dp sqrt weights as exact
    // DECIMALs -> one double division per share. sqrt is correctly
    // rounded IEEE, so no tolerance anywhere.
    "q102_temperature_mix" ->
      s"""WITH t AS (SELECT source, CAST(sum(len($duckToks)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |w AS (SELECT source, n_tokens,
         |  CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(24,6)) AS w FROM t),
         |tw AS (SELECT sum(w) AS wt FROM w)
         |SELECT source, n_tokens, CAST(w AS DOUBLE) AS weight,
         |  round(CAST(w AS DOUBLE) / CAST(wt AS DOUBLE), 6) AS share,
         |  CAST(floor(1000000.0 * round(CAST(w AS DOUBLE) / CAST(wt AS DOUBLE), 6)) AS BIGINT) AS target_tokens
         |FROM w CROSS JOIN tw""".stripMargin,

    // q103: the per-source descending-token round-robin, rolled up per
    // shard with the max-shard window ratio.
    "q103_balanced_shards" ->
      s"""WITH d AS (SELECT doc_id, source, CAST(len($duckToks) AS BIGINT) AS n_tokens FROM documents),
         |a AS (SELECT doc_id, n_tokens,
         |  CAST((row_number() OVER (PARTITION BY source
         |    ORDER BY n_tokens DESC, md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) % 8 AS INT) AS shard
         |  FROM d),
         |p AS (SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM a GROUP BY 1)
         |SELECT shard, n_docs, total_tokens,
         |  round(CAST(total_tokens AS DOUBLE) /
         |        CAST(max(total_tokens) OVER () AS DOUBLE), 6) AS fill_ratio
         |FROM p""".stripMargin,

    // q104: the q39 Lloyd's chain for cell ids, then the q25 exact
    // ranking restricted to CROSS-cell candidates.
    "q104_hard_negatives" ->
      s"""${kmeansCtes(8, 64, 2)}
         |SELECT query_id, neighbor_id, cos_sim, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_cosine_similarity(q.emb, c.emb), 6) AS cos_sim,
         |    CAST(row_number() OVER (
         |      PARTITION BY q.vec_id
         |      ORDER BY round(list_cosine_similarity(q.emb, c.emb), 6) DESC,
         |               c.vec_id) AS INT) AS rank
         |  FROM e q JOIN a2 aq ON aq.vec_id = q.vec_id
         |  JOIN a2 ac ON ac.cluster != aq.cluster
         |  JOIN e c ON c.vec_id = ac.vec_id
         |  WHERE q.vec_id < 5)
         |WHERE rank <= 5""".stripMargin,

    // q105: 4-token windows, md5-13-hex cut draw mod 8, running-sum
    // chunk ids, chunk contents re-joined and counted across docs.
    "q105_cdc_chunks" -> cdcChunksSql,

    // q106: rank targets as integer arithmetic (ceil(q*n) = (100q*n+99)
    // div 100) so both engines pick the identical order statistic.
    "q106_length_profile" ->
      s"""WITH d AS (SELECT source, doc_id, CAST(len($duckToks) AS BIGINT) AS n_tokens FROM documents),
         |r AS (SELECT source, n_tokens,
         |  CAST(row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS BIGINT) AS rn,
         |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
         |  FROM d)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
         |  max(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_tokens END) AS p50_tokens,
         |  max(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_tokens END) AS p90_tokens,
         |  max(CASE WHEN rn = (n * 99 + 99) // 100 THEN n_tokens END) AS p99_tokens
         |FROM r GROUP BY source""".stripMargin,

    // q107: the q49 binning chain aggregated per shard with the
    // capacity/fill arithmetic.
    "q107_packing_efficiency" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS n_tokens FROM documents),
         |s AS (SELECT doc_id, n_tokens, CAST(doc_id % 8 AS INT) AS shard FROM t),
         |p AS (SELECT *, coalesce(sum(n_tokens) OVER (
         |    PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix FROM s),
         |pk AS (SELECT shard, CAST(floor(prefix / 4096) AS BIGINT) AS bin,
         |  count(*) AS nd, CAST(sum(n_tokens) AS BIGINT) AS tt
         |  FROM p GROUP BY 1, 2)
         |SELECT shard, count(*) AS n_bins,
         |  CAST(sum(nd) AS BIGINT) AS n_docs,
         |  CAST(sum(tt) AS BIGINT) AS total_tokens,
         |  CAST(count(*) * 4096 AS BIGINT) AS capacity_tokens,
         |  round(CAST(sum(tt) AS DOUBLE) / CAST(count(*) * 4096 AS DOUBLE), 6) AS fill_ratio
         |FROM pk GROUP BY shard""".stripMargin,

    // q108: the q82 classifier replay joined against the q79 gopher
    // gate; decile floor over the identical score doubles; mean score
    // as the exact-decimal sum divided once.
    "q108_classifier_calibration" ->
      s"""${classifierCtes(256, 3, 0.5)},
         |zf AS (SELECT db.doc_id, sum(CAST(db.n AS DECIMAL(10,0)) * w3.w) AS z
         |  FROM db JOIN w3 USING (b) GROUP BY 1),
         |pf AS (SELECT doc_id, CAST(round(1.0 / (1.0 + exp(-CAST(z AS DOUBLE))), 8) AS DECIMAL(20,8)) AS p FROM zf),
         |gt AS (SELECT doc_id, text, $duckToks AS toks,
         |  string_split(text, chr(10)) AS lines FROM documents),
         |gm AS (SELECT doc_id,
         |  CAST(len(toks) AS INT) AS n_words,
         |  round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 6) AS mean_word_len,
         |  round(((length(text) - length(replace(text, '#', ''))) +
         |    (length(text) - length(replace(text, '...', ''))) / 3) / CAST(len(toks) AS DOUBLE), 6) AS symbol_ratio,
         |  round(CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) / len(lines), 6) AS bullet_ratio,
         |  round(CAST(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$$'))) AS DOUBLE) / len(lines), 6) AS ellipsis_ratio,
         |  round(CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(toks), 6) AS alpha_ratio,
         |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'], w -> list_contains(toks, w))) AS INT) AS stopword_hits
         |  FROM gt),
         |gp AS (SELECT doc_id,
         |  (n_words >= 20 AND n_words <= 10000) AND
         |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AND
         |  symbol_ratio <= 0.1 AND bullet_ratio <= 0.9 AND
         |  ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8 AND
         |  stopword_hits >= 2 AS pass
         |  FROM gm),
         |qt AS (SELECT pf.doc_id, pf.p, gp.pass,
         |  CAST(ntile(4) OVER (ORDER BY pf.p, md5(CAST(pf.doc_id AS VARCHAR)), pf.doc_id) AS INT) AS quartile
         |  FROM pf JOIN gp USING (doc_id))
         |SELECT quartile, pass, count(*) AS n_docs,
         |  round(CAST(sum(p) AS DOUBLE) / count(*), 6) AS mean_score
         |FROM qt GROUP BY 1, 2""".stripMargin,

    // q109: both tokenizer family replays as self-contained derived
    // tables (each with its own WITH chain — DuckDB allows nested
    // WITH in subqueries), joined per source.
    "q109_tokenizer_compare" ->
      s"""SELECT b.source, b.n_words, b.n_bpe_symbols,
         |  round(CAST(b.n_bpe_symbols AS DOUBLE) / b.n_words, 6) AS bpe_fertility,
         |  u.n_uni_pieces,
         |  round(CAST(u.n_uni_pieces AS DOUBLE) / u.n_words, 6) AS uni_fertility
         |FROM (
         |  $bpeRounds3,
         |  wsym AS (SELECT replace(trim(s), ' ', '') AS token,
         |    CAST(len(string_split(trim(s), '  ')) AS INT) AS nsym FROM w3),
         |  tkd AS (SELECT source, unnest($duckToks) AS token FROM documents)
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(wsym.nsym) AS BIGINT) AS n_bpe_symbols
         |  FROM tkd JOIN wsym USING (token) GROUP BY source
         |) b JOIN (
         |  WITH useg AS (SELECT word AS token, n_pieces FROM (
         |    ${UnigramSql.segmentSql})),
         |  tkd2 AS (SELECT source, unnest($duckToks) AS token FROM documents)
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(useg.n_pieces) AS BIGINT) AS n_uni_pieces
         |  FROM tkd2 JOIN useg USING (token) GROUP BY source
         |) u ON b.source = u.source""".stripMargin,

    // q110: the q102 mix chain -> integer epoch percents -> the q99
    // replication arithmetic.
    "q110_epoch_plan" ->
      s"""WITH t AS (SELECT source, CAST(sum(len($duckToks)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |w AS (SELECT source, n_tokens,
         |  CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(24,6)) AS w FROM t),
         |tw AS (SELECT sum(w) AS wt FROM w),
         |mix AS (SELECT source, n_tokens,
         |  CAST(floor(1000000.0 * round(CAST(w AS DOUBLE) / CAST(wt AS DOUBLE), 6)) AS BIGINT) AS target_tokens
         |  FROM w CROSS JOIN tw),
         |plan AS (SELECT source, CAST((100 * target_tokens) // n_tokens AS INT) AS pct FROM mix),
         |pcts AS (SELECT d.doc_id, d.source, coalesce(p.pct, 100) AS pct,
         |  ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#epoch'), 1, 13))::BIGINT % 100 AS draw
         |  FROM documents d LEFT JOIN plan p USING (source)),
         |ne AS (SELECT doc_id, source,
         |  (pct // 100) + CASE WHEN draw < (pct % 100) THEN 1 ELSE 0 END AS n_epochs
         |  FROM pcts)
         |SELECT doc_id, source, CAST(e AS INT) AS epoch FROM (
         |  SELECT doc_id, source, unnest([e for e in range(1, n_epochs + 1)]) AS e
         |  FROM ne WHERE n_epochs >= 1)""".stripMargin,

    // q111: each strategy's removable mass as a self-contained derived
    // table (the q105 chain nested verbatim; the q69 span chain
    // reduced to its token count).
    "q111_dedup_savings" ->
      s"""WITH ct AS (SELECT CAST(sum(len($duckToks)) AS BIGINT) AS corpus_tokens FROM documents),
         |ex AS (SELECT 'exact_doc' AS strategy,
         |  CAST(coalesce(sum(sav), 0) AS BIGINT) AS tokens_removable FROM (
         |    SELECT (count(*) - 1) * min(nt) AS sav FROM (
         |      SELECT md5(lower(trim(text))) AS h, CAST(len($duckToks) AS BIGINT) AS nt
         |      FROM documents)
         |    GROUP BY h)),
         |cdc AS (SELECT 'cdc_chunk' AS strategy,
         |  CAST(coalesce(sum((n_occurrences - 1) * chunk_tokens), 0) AS BIGINT) AS tokens_removable
         |  FROM ($cdcChunksSql)),
         |sp AS (SELECT 'span_k8' AS strategy,
         |  CAST(tot - kept AS BIGINT) AS tokens_removable FROM (
         |    $duckSpans8,
         |    pos AS (SELECT doc_id, u.pos AS pos FROM (
         |      SELECT doc_id, unnest([{'pos': i - 1, 'tok': toks[i]} for i in range(1, len(toks) + 1)]) AS u FROM tkk)),
         |    kept AS (SELECT p.doc_id, p.pos FROM pos p
         |      WHERE NOT EXISTS (SELECT 1 FROM spanruns s WHERE s.doc_id = p.doc_id
         |        AND p.pos BETWEEN s.start_pos AND s.end_pos + 7))
         |    SELECT (SELECT sum(len(toks)) FROM tkk) AS tot,
         |           (SELECT count(*) FROM kept) AS kept))
         |SELECT strategy, tokens_removable,
         |  round(CAST(tokens_removable AS DOUBLE) / CAST(corpus_tokens AS DOUBLE), 6) AS removable_frac
         |FROM (SELECT * FROM ex UNION ALL SELECT * FROM cdc UNION ALL SELECT * FROM sp)
         |CROSS JOIN ct""".stripMargin,

    // q115: the q17 quality replay; stage = 4 * the exact-dyadic
    // score; md5-prefix order key.
    "q115_curriculum_order" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks, CAST(len(text) AS DOUBLE) AS nc FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS DOUBLE) AS nt,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) AS nd,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','el','la','de','que','y','der','die','und','das','ist','le','les','et','des','un'], x))) AS DOUBLE) AS nstop,
         |  nc FROM t)
         |SELECT doc_id, CAST(nt AS INT) AS n_tokens,
         |  CAST(round(
         |    (CASE WHEN nt >= 20 AND nt <= 2000 THEN 0.25 ELSE 0.0 END) +
         |    (CASE WHEN nd / nt >= 0.3 THEN 0.25 ELSE 0.0 END) +
         |    (CASE WHEN (nc - (nt - 1)) / nt >= 3.0 AND (nc - (nt - 1)) / nt <= 10.0 THEN 0.25 ELSE 0.0 END) +
         |    (CASE WHEN nstop / nt > 0.0 THEN 0.25 ELSE 0.0 END), 2) * 4 AS INT) AS stage,
         |  substr(md5(doc_id::VARCHAR || '#curr'), 1, 13) AS order_key
         |FROM m""".stripMargin,

    // q116: each index family's full oracle chain as a nested derived
    // table, hit-joined against the shared exact top-k.
    "q116_ann_method_compare" -> {
      val exactPairs =
        """SELECT query_id, neighbor_id FROM (
          | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |  CAST(row_number() OVER (
          |    PARTITION BY q.vec_id
          |    ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
          |             c.vec_id) AS INT) AS rank
          | FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
          | WHERE q.vec_id < 5)
          |WHERE rank <= 5""".stripMargin
      def hits(method: String, chain: String) =
        s"""SELECT '$method' AS method, CAST(count(*) AS BIGINT) AS n_hits FROM (
           |  SELECT query_id, neighbor_id FROM ($chain)) a
           |JOIN ($exactPairs) e USING (query_id, neighbor_id)""".stripMargin
      s"""SELECT method, n_hits, n_exact,
         |  round(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE), 6) AS recall
         |FROM (
         |${hits("lsh", knnLshOracleSql(dim = 64, bits = 2, tables = 8,
               seed = 42L, k = 5, queryPred = "vec_id < 5"))}
         |UNION ALL
         |${hits("ivf", knnIvfOracleSql(k = 5, dim = 64, kClusters = 8,
               iters = 2, nprobe = 2, queryPred = "vec_id < 5"))}
         |UNION ALL
         |${hits("pq", pqSearchOracleSql(dim = 64, subspaces = 8, kw = 16,
               iters = 2, topK = 5, queryPred = "vec_id < 5"))}
         |UNION ALL
         |${hits("ivfadc", pqSearchIvfOracleSql(dim = 64, subspaces = 8,
               kw = 16, iters = 2, kClusters = 8, cIters = 2, nprobe = 2,
               topK = 5, queryPred = "vec_id < 5"))})
         |CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_exact
         |            FROM ($exactPairs))""".stripMargin
    },

    // q118: the q116 ranked chains re-scored with rank-sensitive
    // metrics — 6dp-rounded 1/log2(rank+1) gains summed in DECIMAL,
    // ideal DCG derived from a range (same discipline as the engine),
    // every division under explicit DOUBLE casts.
    "q118_retrieval_metrics" -> {
      val exactPairs =
        """SELECT query_id, neighbor_id FROM (
          | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |  CAST(row_number() OVER (
          |    PARTITION BY q.vec_id
          |    ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
          |             c.vec_id) AS INT) AS rank
          | FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
          | WHERE q.vec_id < 5)
          |WHERE rank <= 5""".stripMargin
      def metricsOf(method: String, chain: String) =
        s"""SELECT '$method' AS method,
           |  CAST(count(*) AS BIGINT) AS n_queries,
           |  round(CAST(sum(CAST(rr AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6) AS mrr,
           |  round(CAST(sum(CAST(ndcg AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6) AS mean_ndcg,
           |  round(CAST(sum(nh) AS DOUBLE) / sum(tc), 6) AS recall
           |FROM (
           |  SELECT e.query_id, e.tc,
           |    coalesce(round(CAST(1.0 AS DOUBLE) / CAST(h.first_hit AS DOUBLE), 6), 0.0) AS rr,
           |    coalesce(round(CAST(h.dcg AS DOUBLE) / CAST(ii.idcg AS DOUBLE), 6), 0.0) AS ndcg,
           |    coalesce(h.n_hits, 0) AS nh
           |  FROM (SELECT query_id, least(count(*), 5) AS tc
           |        FROM ($exactPairs) GROUP BY query_id) e
           |  LEFT JOIN (
           |    SELECT a.query_id, min(a.rank) AS first_hit,
           |      CAST(count(*) AS BIGINT) AS n_hits,
           |      sum(CAST(round(CAST(1.0 AS DOUBLE) / log2(a.rank + 1), 6) AS DECIMAL(20,6))) AS dcg
           |    FROM ($chain) a JOIN ($exactPairs) t USING (query_id, neighbor_id)
           |    GROUP BY a.query_id) h USING (query_id)
           |  JOIN (
           |    SELECT m, sum(CAST(round(CAST(1.0 AS DOUBLE) / log2(r + 1), 6) AS DECIMAL(20,6))) AS idcg
           |    FROM range(1, 6) t(m), range(1, 6) u(r) WHERE r <= m
           |    GROUP BY m) ii ON ii.m = e.tc)""".stripMargin
      s"""${metricsOf("ivf", knnIvfOracleSql(k = 5, dim = 64, kClusters = 8,
            iters = 2, nprobe = 2, queryPred = "vec_id < 5"))}
         |UNION ALL
         |${metricsOf("ivfadc", pqSearchIvfOracleSql(dim = 64, subspaces = 8,
            kw = 16, iters = 2, kClusters = 8, cIters = 2, nprobe = 2,
            topK = 5, queryPred = "vec_id < 5"))}""".stripMargin
    },

    // q119: id-aligned FULL OUTER join of the two snapshot sides,
    // normalized-hash change test, per-(source, status) rollup.
    "q119_snapshot_diff" ->
      s"""WITH o AS (SELECT doc_id, source, md5(lower(trim(text))) AS h,
         |    CAST(len($duckToks) AS BIGINT) AS nt
         |  FROM documents WHERE doc_id % 3 != 0),
         |n0 AS (SELECT doc_id, source,
         |    CASE WHEN doc_id % 7 = 0 THEN text || ' rev2 content'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 5 != 0),
         |n AS (SELECT doc_id, source, md5(lower(trim(text))) AS h,
         |    CAST(len($duckToks) AS BIGINT) AS nt FROM n0)
         |SELECT coalesce(n.source, o.source) AS source,
         |  CASE WHEN o.h IS NULL THEN 'added'
         |       WHEN n.h IS NULL THEN 'removed'
         |       WHEN o.h != n.h THEN 'changed'
         |       ELSE 'unchanged' END AS status,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(coalesce(n.nt, 0) - coalesce(o.nt, 0)) AS BIGINT) AS token_delta
         |FROM o FULL OUTER JOIN n USING (doc_id)
         |GROUP BY 1, 2""".stripMargin,

    // q120: the projection matrix re-derives from the md5 formula
    // (the q26 plane discipline), dots are list_sum in the same
    // left-to-right order as the codegen kernel, scale sqrt(3/16) is
    // a correctly-rounded IEEE sqrt of a dyadic on both engines.
    "q120_random_projection" -> {
      val cols = (0 until 16).map(j =>
        s"max(CASE WHEN j = $j THEN p END) AS p$j").mkString(",\n  ")
      s"""WITH pl AS (
         |  SELECT bb.b AS j,
         |    [('0x' || substr(md5('hp-7-' || bb.b::VARCHAR || '-' || d::VARCHAR), 1, 8))::BIGINT
         |       / 2147483648.0 - 1.0 for d in range(0, 64)] AS w
         |  FROM range(0, 16) bb(b)),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |dots AS (SELECT e.vec_id, pl.j,
         |    round(list_sum([e.emb[i+1] * pl.w[i+1] for i in range(0, 64)]) *
         |      sqrt(CAST(3.0 AS DOUBLE) / 16), 6) AS p
         |  FROM e CROSS JOIN pl)
         |SELECT vec_id,
         |  $cols
         |FROM dots GROUP BY vec_id""".stripMargin
    },

    // q121: line synthesis (8-token slices + md5-parity terminal '.')
    // replayed in SQL, then the C4 rules: >= 5 words AND terminal
    // punctuation per line, >= 3 kept lines AND no brace/lorem-ipsum
    // per doc; cleaned text re-joined in line order.
    "q121_c4_line_filter" ->
      s"""WITH tk AS (SELECT doc_id, $duckToks AS t FROM documents),
         |ls AS (SELECT doc_id,
         |  [array_to_string(t[i*8+1:i*8+8], ' ') ||
         |     CASE WHEN substr(md5(doc_id::VARCHAR || '#ln' || i::VARCHAR), 1, 1)
         |            IN ('0','1','2','3','4','5','6','7') THEN '.' ELSE '' END
         |   for i in range(0, greatest((len(t)+7)//8, 1))] AS lines FROM tk),
         |raw AS (SELECT doc_id, array_to_string(lines, chr(10)) AS rt, lines FROM ls),
         |pl AS (SELECT doc_id,
         |    (position('{' IN rt) > 0 OR position('lorem ipsum' IN lower(rt)) > 0) AS page_flag,
         |    u.p AS pos, u.l AS line
         |  FROM (SELECT doc_id, rt,
         |          unnest([{'p': i, 'l': lines[i+1]} for i in range(0, len(lines))]) AS u
         |        FROM raw)),
         |fl AS (SELECT doc_id, page_flag, pos, line,
         |    (len(list_filter(string_split_regex(line, '\\s+'), x -> x != '')) >= 5
         |     AND right(line, 1) IN ('.', '!', '?')) AS keep_line
         |  FROM pl)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_lines,
         |  CAST(sum(CASE WHEN keep_line THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  coalesce(string_agg(CASE WHEN keep_line THEN line END, chr(10) ORDER BY pos), '') AS cleaned_text,
         |  CAST(CASE WHEN sum(CASE WHEN keep_line THEN 1 ELSE 0 END) >= 3
         |            AND NOT any_value(page_flag) THEN 1 ELSE 0 END AS INT) AS keep
         |FROM fl GROUP BY doc_id""".stripMargin,

    // q122: bigram/unigram count CTEs, PMI under explicit DOUBLE
    // casts with the engine's parenthesization, top-50 with
    // bigram-text tiebreak.
    "q122_collocations" ->
      s"""WITH tk AS (SELECT doc_id, $duckToks AS t FROM documents),
         |bgt AS (SELECT unnest([array_to_string(t[i+1:i+2], ' ')
         |  for i in range(0, len(t)-1)]) AS bg FROM tk WHERE len(t) >= 2),
         |bgp AS (SELECT bg, string_split(bg, ' ')[1] AS w1,
         |  string_split(bg, ' ')[-1] AS w2 FROM bgt),
         |bc AS (SELECT bg, w1, w2, count(*) AS c12 FROM bgp
         |       GROUP BY bg, w1, w2 HAVING count(*) >= 5),
         |un AS (SELECT w, count(*) AS c FROM
         |       (SELECT unnest(t) AS w FROM tk) GROUP BY w),
         |tt AS (SELECT (SELECT count(*) FROM bgp) AS nb,
         |  (SELECT CAST(sum(c) AS BIGINT) FROM un) AS ub)
         |SELECT bigram, c12, pmi,
         |  CAST(row_number() OVER (ORDER BY pmi DESC, bigram) AS INT) AS rank
         |FROM (
         |  SELECT bc.bg AS bigram, bc.c12,
         |    round(ln((bc.c12::DOUBLE / tt.nb::DOUBLE) /
         |      ((u1.c::DOUBLE / tt.ub::DOUBLE) * (u2.c::DOUBLE / tt.ub::DOUBLE))), 6) AS pmi
         |  FROM bc JOIN un u1 ON u1.w = bc.w1
         |          JOIN un u2 ON u2.w = bc.w2
         |          CROSS JOIN tt)
         |ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin,

    // q123: per out-dim, the projection replays (md5 planes, float
    // round-trip), brute-force search runs in projected space, and
    // the q118 metric body scores it against the full-dim exact
    // top-5.
    "q123_projected_ann_eval" -> {
      val exactPairs =
        """SELECT query_id, neighbor_id FROM (
          | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |  CAST(row_number() OVER (
          |    PARTITION BY q.vec_id
          |    ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
          |             c.vec_id) AS INT) AS rank
          | FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
          | WHERE q.vec_id < 5)
          |WHERE rank <= 5""".stripMargin
      def projChain(od: Int) =
        s"""WITH pl AS (
           |  SELECT bb.b AS j,
           |    [('0x' || substr(md5('hp-7-' || bb.b::VARCHAR || '-' || d::VARCHAR), 1, 8))::BIGINT
           |       / 2147483648.0 - 1.0 for d in range(0, 64)] AS w
           |  FROM range(0, $od) bb(b)),
           |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |dots AS (SELECT e.vec_id, pl.j,
           |    CAST(CAST(round(list_sum([e.emb[i+1] * pl.w[i+1] for i in range(0, 64)]) *
           |      sqrt(CAST(3.0 AS DOUBLE) / $od), 6) AS FLOAT) AS DOUBLE) AS p
           |  FROM e CROSS JOIN pl),
           |pv AS (SELECT vec_id, list(p ORDER BY j) AS v FROM dots GROUP BY vec_id)
           |SELECT query_id, neighbor_id, rank FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    CAST(row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS INT) AS rank
           |  FROM pv q JOIN pv c ON q.vec_id != c.vec_id
           |  WHERE q.vec_id < 5)
           |WHERE rank <= 5""".stripMargin
      def metricsOf(od: Int) =
        s"""SELECT $od AS out_dim,
           |  CAST(count(*) AS BIGINT) AS n_queries,
           |  round(CAST(sum(CAST(rr AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6) AS mrr,
           |  round(CAST(sum(CAST(ndcg AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6) AS mean_ndcg,
           |  round(CAST(sum(nh) AS DOUBLE) / sum(tc), 6) AS recall
           |FROM (
           |  SELECT e.query_id, e.tc,
           |    coalesce(round(CAST(1.0 AS DOUBLE) / CAST(h.first_hit AS DOUBLE), 6), 0.0) AS rr,
           |    coalesce(round(CAST(h.dcg AS DOUBLE) / CAST(ii.idcg AS DOUBLE), 6), 0.0) AS ndcg,
           |    coalesce(h.n_hits, 0) AS nh
           |  FROM (SELECT query_id, least(count(*), 5) AS tc
           |        FROM ($exactPairs) GROUP BY query_id) e
           |  LEFT JOIN (
           |    SELECT a.query_id, min(a.rank) AS first_hit,
           |      CAST(count(*) AS BIGINT) AS n_hits,
           |      sum(CAST(round(CAST(1.0 AS DOUBLE) / log2(a.rank + 1), 6) AS DECIMAL(20,6))) AS dcg
           |    FROM (${projChain(od)}) a JOIN ($exactPairs) t USING (query_id, neighbor_id)
           |    GROUP BY a.query_id) h USING (query_id)
           |  JOIN (
           |    SELECT m, sum(CAST(round(CAST(1.0 AS DOUBLE) / log2(r + 1), 6) AS DECIMAL(20,6))) AS idcg
           |    FROM range(1, 6) t(m), range(1, 6) u(r) WHERE r <= m
           |    GROUP BY m) ii ON ii.m = e.tc)""".stripMargin
      Seq(8, 16, 32).map(metricsOf).mkString("\nUNION ALL\n")
    },

    // q124: winnowing selection replayed — positional md5-13-hex gram
    // hashes, the rightmost-tie window min as a struct min over
    // (h, -pos), full windows only, then the census rollups.
    "q124_winnowing" ->
      s"""WITH tkk AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (SELECT doc_id, u.pos AS pos,
         |    ('0x' || substr(md5(u.gram), 1, 13))::BIGINT AS h FROM (
         |  SELECT doc_id, unnest([{'pos': CAST(i - 1 AS BIGINT), 'gram': array_to_string(toks[i:i+3], ' ')} for i in range(1, len(toks) - 2)]) AS u
         |  FROM tkk WHERE len(toks) >= 4)),
         |wsel AS (SELECT doc_id,
         |    min({'h': h, 'np': -pos}) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
         |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
         |  FROM g),
         |sel AS (SELECT DISTINCT doc_id,
         |    -struct_extract(m, 'np') AS pos, struct_extract(m, 'h') AS fp
         |  FROM wsel WHERE wn = 4),
         |df AS (SELECT DISTINCT doc_id, fp FROM sel),
         |shared AS (SELECT fp FROM df GROUP BY fp HAVING count(*) >= 2),
         |pf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps FROM sel GROUP BY doc_id),
         |ps AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |       FROM df JOIN shared USING (fp) GROUP BY doc_id)
         |SELECT pf.doc_id, pf.n_fps, coalesce(ps.n_shared, 0) AS n_shared
         |FROM pf LEFT JOIN ps USING (doc_id)""".stripMargin,

    // q125: (token, first_doc) frame joined against the checkpoint
    // thresholds; integer-exact counts, one 6dp double ratio.
    "q125_vocab_growth" ->
      s"""WITH tk AS (SELECT doc_id, $duckToks AS t FROM documents),
         |fd AS (SELECT w, min(doc_id) AS first_doc FROM
         |       (SELECT doc_id, unnest(t) AS w FROM tk) GROUP BY w),
         |ds AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS nt FROM tk),
         |mx AS (SELECT max(doc_id) AS mx FROM ds),
         |thr AS (SELECT CAST(p AS INT) AS pct_step,
         |    CAST(floor(CAST(mx * p AS DOUBLE) / 10) AS BIGINT) AS max_doc
         |  FROM range(1, 11) t(p) CROSS JOIN mx),
         |voc AS (SELECT pct_step, max_doc, CAST(count(*) AS BIGINT) AS vocab_size
         |  FROM fd CROSS JOIN thr WHERE first_doc <= max_doc
         |  GROUP BY pct_step, max_doc),
         |dt AS (SELECT pct_step, max_doc,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(nt) AS BIGINT) AS n_tokens
         |  FROM ds CROSS JOIN thr WHERE doc_id <= max_doc
         |  GROUP BY pct_step, max_doc)
         |SELECT dt.pct_step, dt.max_doc, dt.n_docs, dt.n_tokens,
         |  coalesce(voc.vocab_size, 0) AS vocab_size,
         |  round(CAST(coalesce(voc.vocab_size, 0) AS DOUBLE) /
         |    CAST(dt.n_tokens AS DOUBLE), 6) AS ttr
         |FROM dt LEFT JOIN voc USING (pct_step, max_doc)""".stripMargin,

    // q126: the q53 recursive closure + group sizes + the 52-bit
    // fixed-point keep rule (pure integer comparison on both engines).
    "q126_soft_dedup" ->
      s"""WITH RECURSIVE pairsq AS ($minhashLshSql),
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairsq
         |        UNION SELECT doc_b, doc_a FROM pairsq),
         |reach(src, dst) AS (
         |  SELECT src, src FROM und
         |  UNION
         |  SELECT r.src, u.dst FROM reach r JOIN und u ON u.src = r.dst),
         |cl AS (SELECT src AS doc_id, min(dst) AS canonical_id
         |       FROM reach GROUP BY src),
         |grp AS (SELECT d.doc_id, coalesce(cl.canonical_id, d.doc_id) AS group_id
         |        FROM documents d LEFT JOIN cl USING (doc_id)),
         |sz AS (SELECT group_id, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM grp GROUP BY group_id)
         |SELECT grp.doc_id, grp.group_id, sz.cluster_size,
         |  CAST(CASE WHEN ('0x' || substr(md5('soft-' || grp.doc_id::VARCHAR), 1, 13))::BIGINT
         |         <= 4503599627370495 // sz.cluster_size THEN 1 ELSE 0 END AS INT) AS kept
         |FROM grp JOIN sz USING (group_id)""".stripMargin,

    // q127: per-char histogram, the 8dp-rounded p*log2(p) terms
    // summed in DECIMAL (matches the kernel's scaled-long sum), 6dp
    // final round; empty docs null via the LEFT JOIN. Characters are
    // CODE POINTS on both sides (VERDICT r07 item 8): RE2's '[\s\S]'
    // matches exactly one code point per step (astral chars included,
    // combining marks separately), matching the kernel's codePointAt
    // loop and Spark length()'s numChars — exact on non-BMP text, not
    // just the ASCII corpus (string_split(text,'') yields GRAPHEMES,
    // which diverge on combining sequences).
    "q127_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS c
        |  FROM documents WHERE len(text) > 0),
        |cc AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c),
        |nn AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS nt FROM cc GROUP BY doc_id),
        |tm AS (SELECT cc.doc_id,
        |    round(-((cc.n::DOUBLE / nn.nt::DOUBLE) *
        |      (ln(cc.n::DOUBLE / nn.nt::DOUBLE) / ln(2))), 8) AS t
        |  FROM cc JOIN nn USING (doc_id)),
        |ent AS (SELECT doc_id,
        |    CAST(round(sum(CAST(t AS DECIMAL(20,8))), 6) AS DOUBLE) AS char_entropy
        |  FROM tm GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(regexp_extract_all(d.text, '[\s\S]')) AS BIGINT) AS n_chars,
        |  ent.char_entropy
        |FROM documents d LEFT JOIN ent USING (doc_id)""".stripMargin,

    // q128: the q28 session chain, the transcript re-joined in
    // (ts, event_id) order; values round to integer strings (double
    // formatting is engine-specific, integer strings are not).
    "q128_session_transcripts" ->
      """WITH g AS (SELECT user_id, event_id, ts, value, event_type,
        |  lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |  FROM events),
        |b AS (SELECT *, CASE WHEN prev_ms IS NULL THEN 0
        |                     WHEN epoch_ms(ts) - prev_ms > 21600000 THEN 1
        |                     ELSE 0 END AS brk FROM g),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS session_no FROM b)
        |SELECT user_id, min(ts) AS session_start,
        |  count(*) AS n_events,
        |  string_agg(event_type || ':' || CAST(round(value, 0) AS BIGINT)::VARCHAR,
        |             ' ' ORDER BY ts, event_id) AS transcript
        |FROM s GROUP BY user_id, session_no""".stripMargin,

    // q132: three count CTEs, the backoff CASE with the engine's
    // exact parenthesization (every 0.4 under an explicit DOUBLE
    // cast), 8dp ln, decimal doc sums.
    "q132_stupid_backoff" ->
      s"""WITH tr AS (SELECT doc_id, $duckToks AS t FROM documents WHERE doc_id % 97 != 0),
         |ho AS (SELECT doc_id, $duckToks AS t FROM documents WHERE doc_id % 97 = 0),
         |tgt AS (SELECT unnest(CASE WHEN len(t) - 2 >= 1
         |  THEN [array_to_string(t[i+1:i+3], ' ') for i in range(0, len(t)-2)]
         |  ELSE [array_to_string(t, ' ')] END) AS tg FROM tr),
         |tc AS (SELECT tg, count(*) AS c123 FROM tgt GROUP BY 1),
         |bgt AS (SELECT unnest(CASE WHEN len(t) - 1 >= 1
         |  THEN [array_to_string(t[i+1:i+2], ' ') for i in range(0, len(t)-1)]
         |  ELSE [array_to_string(t, ' ')] END) AS bg FROM tr),
         |bc AS (SELECT bg, count(*) AS c12 FROM bgt GROUP BY 1),
         |un AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(t) AS w FROM tr) GROUP BY 1),
         |tt AS (SELECT CAST(sum(c1) AS BIGINT) AS nn, count(*) AS v FROM un),
         |g AS (SELECT doc_id, tg,
         |    array_to_string(string_split(tg, ' ')[1:2], ' ') AS w12,
         |    string_split(tg, ' ')[-1] AS w3,
         |    string_split(tg, ' ')[1:2][-1] AS w2o
         |  FROM (SELECT doc_id, unnest(CASE WHEN len(t) - 2 >= 1
         |    THEN [array_to_string(t[i+1:i+3], ' ') for i in range(0, len(t)-2)]
         |    ELSE [array_to_string(t, ' ')] END) AS tg FROM ho))
         |SELECT doc_id, count(*) AS n_trigrams,
         |  round(CAST(sum(CAST(round(ln(
         |    CASE WHEN tc.c123 IS NOT NULL
         |      THEN tc.c123::DOUBLE / b1.c12::DOUBLE
         |      ELSE CAST(0.4 AS DOUBLE) *
         |        (CASE WHEN b2.c23 IS NOT NULL
         |          THEN b2.c23::DOUBLE / u2.c2::DOUBLE
         |          ELSE CAST(0.4 AS DOUBLE) *
         |            ((coalesce(u3.c3, 0) + 1)::DOUBLE / (tt.nn + tt.v)::DOUBLE)
         |        END)
         |    END), 8) AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6) AS avg_logprob
         |FROM g LEFT JOIN tc USING (tg)
         |  LEFT JOIN bc b1 ON b1.bg = g.w12
         |  LEFT JOIN (SELECT bg, c12 AS c23 FROM bc) b2 ON b2.bg = g.w2o || ' ' || g.w3
         |  LEFT JOIN (SELECT w, c1 AS c2 FROM un) u2 ON u2.w = g.w2o
         |  LEFT JOIN (SELECT w, c1 AS c3 FROM un) u3 ON u3.w = g.w3
         |  CROSS JOIN tt
         |GROUP BY doc_id""".stripMargin,

    // q133: powers table, min-band join (oversize docs clamp into the
    // top 2^20 band, mirroring the engine), per-band window, integer
    // capacity/batch arithmetic — no pow/log2 anywhere.
    "q133_length_batching" ->
      s"""WITH p AS (SELECT (1::BIGINT << CAST(i AS INT)) AS p2 FROM range(0, 21) t(i)),
         |d AS (SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS nt FROM documents),
         |bd AS (SELECT doc_id, nt, min(p2) AS band
         |  FROM d JOIN p ON p.p2 >= least(d.nt, 1::BIGINT << 20)
         |  WHERE nt >= 1 GROUP BY doc_id, nt),
         |rk AS (SELECT doc_id, nt, band,
         |    row_number() OVER (PARTITION BY band
         |      ORDER BY nt DESC, md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank,
         |    greatest(4096 // band, 1) AS capacity
         |  FROM bd)
         |SELECT doc_id, nt, band, CAST(capacity AS BIGINT) AS capacity,
         |  CAST((rank - 1) // capacity AS BIGINT) AS batch_id
         |FROM rk""".stripMargin,

    // q134: lag/running-sum run lengths, struct-max pick (longest
    // run, earliest start), left join back for zero-token docs.
    "q134_token_runs" ->
      s"""WITH tk AS (SELECT doc_id, $duckToks AS t FROM documents),
         |ps AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
         |  SELECT doc_id, unnest([{'pos': i - 1, 'tok': t[i]} for i in range(1, len(t) + 1)]) AS u
         |  FROM tk WHERE len(t) >= 1)),
         |br AS (SELECT doc_id, pos, tok,
         |    CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
         |           OR lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) != tok
         |         THEN 1 ELSE 0 END AS brk
         |  FROM ps),
         |rn AS (SELECT doc_id, pos, tok,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |                   ROWS UNBOUNDED PRECEDING) AS run_id
         |  FROM br),
         |runs AS (SELECT doc_id, run_id, CAST(count(*) AS INT) AS run_len,
         |    min(pos) AS start_pos, any_value(tok) AS tok
         |  FROM rn GROUP BY doc_id, run_id),
         |best AS (SELECT doc_id,
         |    struct_extract(m, 'run_len') AS max_run,
         |    struct_extract(m, 'tok') AS run_token
         |  FROM (SELECT doc_id,
         |      max({'run_len': run_len, 'np': -start_pos, 'tok': tok}) AS m
         |    FROM runs GROUP BY doc_id))
         |SELECT tk.doc_id, CAST(len(tk.t) AS INT) AS n_tokens,
         |  coalesce(best.max_run, 0) AS max_run,
         |  coalesce(best.run_token, '') AS run_token,
         |  CAST(CASE WHEN coalesce(best.max_run, 0) >= 5 THEN 1 ELSE 0 END AS INT) AS looped
         |FROM tk LEFT JOIN best USING (doc_id)""".stripMargin,

    // q135: the q73 per-subspace Lloyd's chains reused; per-vec min
    // rounded distance (the assign CTE's list_min), decimal-exact
    // mean, distinct-code utilization.
    "q135_pq_reconstruction" -> {
      val dsub = 8
      val md = (0 until 8).map { s =>
        s"""md$s AS (SELECT $s AS subspace, vec_id, list_min(l) AS d FROM (
           |  SELECT x.vec_id,
           |    list(round(x.xx - 2*list_sum([x.emb[i+1]*n.w[i+1] for i in range(0,$dsub)])
           |               + list_sum([n.w[i+1]*n.w[i+1] for i in range(0,$dsub)]), 6)
           |         ORDER BY n.c) AS l
           |  FROM xx$s x CROSS JOIN cen2_$s n GROUP BY x.vec_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH ${pqCtes(64, 8, 16, 2, "vec_id < 5")},
         |$md,
         |alld AS (${(0 until 8).map(s =>
             s"SELECT subspace, vec_id, d FROM md$s").mkString(" UNION ALL ")}),
         |used AS (SELECT s AS subspace, CAST(count(DISTINCT c) AS BIGINT) AS codes_used
         |  FROM codes GROUP BY s)
         |SELECT alld.subspace, CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(sum(CAST(d AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6) AS mse,
         |  used.codes_used
         |FROM alld JOIN used USING (subspace)
         |GROUP BY alld.subspace, used.codes_used""".stripMargin
    },

    // q136: the q105 chunk CTE chain instantiated per snapshot side
    // (old / recrawl-modified new), reuse = distinct-old-hash join.
    "q136_chunk_reuse" -> {
      def chunkCtes(sfx: String, srcSql: String) =
        s"""src$sfx AS ($srcSql),
           |t$sfx AS (SELECT doc_id, $duckToks AS toks FROM src$sfx
           |  WHERE len($duckToks) >= 1),
           |tp$sfx AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
           |  SELECT doc_id, unnest([{'pos': i - 1, 'tok': toks[i]} for i in range(1, len(toks) + 1)]) AS u FROM t$sfx)),
           |cut$sfx AS (SELECT doc_id, CAST(u.p + 3 AS BIGINT) AS pos FROM (
           |  SELECT doc_id, unnest([{'p': i - 1, 'g': array_to_string(toks[i:i+3], ' ')} for i in range(1, len(toks) - 2)]) AS u
           |  FROM t$sfx WHERE len(toks) >= 4)
           |  WHERE ('0x' || substr(md5(u.g), 1, 13))::BIGINT % 8 = 0),
           |fl$sfx AS (SELECT tp.doc_id, tp.pos, tp.tok,
           |  CASE WHEN c.pos IS NULL THEN 0 ELSE 1 END AS is_cut
           |  FROM tp$sfx tp LEFT JOIN cut$sfx c ON c.doc_id = tp.doc_id AND c.pos = tp.pos),
           |chn$sfx AS (SELECT doc_id, pos, tok,
           |  coalesce(sum(is_cut) OVER (PARTITION BY doc_id ORDER BY pos
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
           |  FROM fl$sfx),
           |ck$sfx AS (SELECT doc_id, chunk_id,
           |  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash,
           |  CAST(count(*) AS INT) AS chunk_tokens
           |  FROM chn$sfx GROUP BY doc_id, chunk_id)""".stripMargin
      s"""WITH ${chunkCtes("old",
            "SELECT doc_id, source, text FROM documents WHERE doc_id % 3 != 0")},
         |${chunkCtes("new",
            """SELECT doc_id, source,
              | CASE WHEN doc_id % 7 = 0 THEN text || ' rev2 content'
              |      ELSE text END AS text
              |FROM documents WHERE doc_id % 5 != 0""".stripMargin)},
         |oldh AS (SELECT DISTINCT chunk_hash FROM ckold)
         |SELECT s.source,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN oldh.chunk_hash IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_reused,
         |  CAST(sum(cknew.chunk_tokens) AS BIGINT) AS tokens_total,
         |  CAST(sum(CASE WHEN oldh.chunk_hash IS NULL THEN 0 ELSE cknew.chunk_tokens END) AS BIGINT) AS tokens_reused,
         |  round(CAST(sum(CASE WHEN oldh.chunk_hash IS NULL THEN 0 ELSE cknew.chunk_tokens END) AS DOUBLE) /
         |        CAST(sum(cknew.chunk_tokens) AS DOUBLE), 6) AS reuse_ratio
         |FROM cknew JOIN srcnew s USING (doc_id)
         |  LEFT JOIN oldh ON oldh.chunk_hash = cknew.chunk_hash
         |GROUP BY s.source""".stripMargin
    },

    // q129: the q53 closure + singleton completion + two rollups.
    "q129_dedup_graph_profile" ->
      s"""WITH RECURSIVE pairsq AS ($minhashLshSql),
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairsq
         |        UNION SELECT doc_b, doc_a FROM pairsq),
         |reach(src, dst) AS (
         |  SELECT src, src FROM und
         |  UNION
         |  SELECT r.src, u.dst FROM reach r JOIN und u ON u.src = r.dst),
         |cl AS (SELECT src AS doc_id, min(dst) AS canonical_id
         |       FROM reach GROUP BY src),
         |sz AS (SELECT coalesce(cl.canonical_id, d.doc_id) AS group_id,
         |         CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM documents d LEFT JOIN cl USING (doc_id)
         |       GROUP BY 1)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |FROM sz GROUP BY cluster_size""".stripMargin,

    // q130: the q17 + q18 + q43 + q127 + q79 per-doc signal CTEs
    // joined on doc_id — every piece the verbatim discipline of its
    // standalone oracle.
    "q130_quality_signals" ->
      s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks,
         |  string_split(text, chr(10)) AS lines,
         |  CAST(len(text) AS DOUBLE) AS nc FROM documents),
         |q AS (SELECT doc_id,
         |  round(
         |    (CASE WHEN nt >= 20 AND nt <= 2000 THEN 0.25 ELSE 0.0 END) +
         |    (CASE WHEN nd / nt >= 0.3 THEN 0.25 ELSE 0.0 END) +
         |    (CASE WHEN (nc - (nt - 1)) / nt >= 3.0 AND (nc - (nt - 1)) / nt <= 10.0 THEN 0.25 ELSE 0.0 END) +
         |    (CASE WHEN nstop / nt > 0.0 THEN 0.25 ELSE 0.0 END), 2) AS quality_score
         |  FROM (SELECT doc_id,
         |    CAST(len(toks) AS DOUBLE) AS nt,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) AS nd,
         |    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','el','la','de','que','y','der','die','und','das','ist','le','les','et','des','un'], x))) AS DOUBLE) AS nstop,
         |    nc FROM t)),
         |hh AS (SELECT doc_id,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x))) AS INT) AS hits_en,
         |  CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x))) AS INT) AS hits_es,
         |  CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS INT) AS hits_de,
         |  CAST(len(list_filter(toks, x -> list_contains(['le','les','et','des','un'], x))) AS INT) AS hits_fr
         |  FROM t),
         |lg AS (SELECT doc_id,
         |  CASE WHEN greatest(hits_en, hits_es, hits_de, hits_fr) = 0 THEN 'und'
         |       WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
         |       WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
         |       WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
         |       ELSE 'fr' END AS detected_lang
         |  FROM hh),
         |sh AS (SELECT doc_id,
         |  CASE WHEN len(toks) - 2 >= 1
         |    THEN list_distinct([array_to_string(toks[i+1:i+3], ' ') for i in range(0, len(toks)-2)])
         |    ELSE [array_to_string(toks, ' ')] END AS sh
         |  FROM t),
         |rep AS (SELECT t.doc_id,
         |  round(1.0 - CAST(len(sh.sh) AS DOUBLE) / greatest(len(t.toks) - 2, 1), 6) AS repetition_ratio
         |  FROM t JOIN sh USING (doc_id)),
         |ch AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\\s\\S]')) AS c
         |  FROM documents WHERE len(text) > 0),
         |cc AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c),
         |nn AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS nt FROM cc GROUP BY doc_id),
         |tm AS (SELECT cc.doc_id,
         |    round(-((cc.n::DOUBLE / nn.nt::DOUBLE) *
         |      (ln(cc.n::DOUBLE / nn.nt::DOUBLE) / ln(2))), 8) AS tt
         |  FROM cc JOIN nn USING (doc_id)),
         |ent AS (SELECT doc_id,
         |    CAST(round(sum(CAST(tt AS DECIMAL(20,8))), 6) AS DOUBLE) AS char_entropy
         |  FROM tm GROUP BY doc_id),
         |gm AS (SELECT doc_id,
         |  CAST(len(toks) AS INT) AS n_words,
         |  round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 6) AS mean_word_len,
         |  round(((length(text) - length(replace(text, '#', ''))) +
         |    (length(text) - length(replace(text, '...', ''))) / 3) / CAST(len(toks) AS DOUBLE), 6) AS symbol_ratio,
         |  round(CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) / len(lines), 6) AS bullet_ratio,
         |  round(CAST(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$$'))) AS DOUBLE) / len(lines), 6) AS ellipsis_ratio,
         |  round(CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(toks), 6) AS alpha_ratio,
         |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'], w -> list_contains(toks, w))) AS INT) AS stopword_hits
         |  FROM t)
         |SELECT t.doc_id, CAST(len(t.toks) AS INT) AS n_tokens,
         |  q.quality_score, lg.detected_lang, rep.repetition_ratio,
         |  ent.char_entropy,
         |  CAST(CASE WHEN (gm.n_words >= 20 AND gm.n_words <= 10000) AND
         |    (gm.mean_word_len >= 3.0 AND gm.mean_word_len <= 10.0) AND
         |    gm.symbol_ratio <= 0.1 AND gm.bullet_ratio <= 0.9 AND
         |    gm.ellipsis_ratio <= 0.3 AND gm.alpha_ratio >= 0.8 AND
         |    gm.stopword_hits >= 2 THEN 1 ELSE 0 END AS INT) AS gopher_pass
         |FROM t JOIN q USING (doc_id) JOIN lg USING (doc_id)
         |  JOIN rep USING (doc_id) LEFT JOIN ent USING (doc_id)
         |  JOIN gm USING (doc_id)""".stripMargin,

    // q131: the q85 per-dim moment discipline per ingest wave, waves
    // joined on dim; deltas/ratios computed over the ROUNDED per-side
    // values in the same order as the engine.
    "q131_embedding_drift" -> {
      def side(pred: String) =
        s"""SELECT dim, CAST(count(*) AS BIGINT) AS n,
           |  round(sum(x) / count(*), 6) AS mean,
           |  round(CAST(sum(CAST(round(x * x, 8) AS DECIMAL(20,8))) AS DOUBLE) / count(*)
           |    - (sum(x) / count(*)) * (sum(x) / count(*)), 6) AS variance
           |FROM (SELECT u.d AS dim, u.x AS x FROM (
           |  SELECT unnest([{'d': (i - 1)::INT, 'x': CAST(embedding[i] AS DOUBLE)}
           |    for i in range(1, len(embedding) + 1)]) AS u
           |  FROM embeddings WHERE $pred))
           |GROUP BY dim""".stripMargin
      s"""WITH a AS (${side("vec_id % 2 = 0")}),
         |b AS (${side("vec_id % 2 != 0")})
         |SELECT a.dim, a.n AS n_a, b.n AS n_b,
         |  a.mean AS mean_a, b.mean AS mean_b,
         |  round(b.mean - a.mean, 6) AS mean_delta,
         |  a.variance AS var_a, b.variance AS var_b,
         |  round(b.variance / a.variance, 6) AS var_ratio
         |FROM a JOIN b USING (dim)""".stripMargin
    },

    // q112: conditional per-wave sums, 1-row totals, one double
    // division per share; drift over the rounded shares (wrapper
    // subquery — no lateral aliases, the dialect-safety rule).
    "q112_mix_drift" ->
      s"""WITH d AS (SELECT source, doc_id % 2 AS batch,
         |  CAST(len($duckToks) AS BIGINT) AS nt FROM documents),
         |g AS (SELECT source,
         |  CAST(sum(CASE WHEN batch = 0 THEN nt ELSE 0 END) AS BIGINT) AS tokens_a,
         |  CAST(sum(CASE WHEN batch != 0 THEN nt ELSE 0 END) AS BIGINT) AS tokens_b
         |  FROM d GROUP BY 1),
         |t AS (SELECT CAST(sum(tokens_a) AS BIGINT) AS ta,
         |  CAST(sum(tokens_b) AS BIGINT) AS tb FROM g)
         |SELECT source, tokens_a, tokens_b, share_a, share_b, share_drift,
         |  abs(share_drift) > 0.01 AS drift_flag
         |FROM (SELECT source, tokens_a, tokens_b,
         |  round(CAST(tokens_a AS DOUBLE) / CAST(ta AS DOUBLE), 6) AS share_a,
         |  round(CAST(tokens_b AS DOUBLE) / CAST(tb AS DOUBLE), 6) AS share_b,
         |  round(round(CAST(tokens_b AS DOUBLE) / CAST(tb AS DOUBLE), 6) -
         |        round(CAST(tokens_a AS DOUBLE) / CAST(ta AS DOUBLE), 6), 6) AS share_drift
         |  FROM g CROSS JOIN t)""".stripMargin,

    // q113: the q104 chain emitting BOTH sides of the contrastive
    // pair — same-cluster rank-1 positive, cross-cluster top-4
    // negatives.
    "q113_contrastive_pairs" ->
      s"""${kmeansCtes(8, 64, 2)}
         |SELECT query_id, pair_type, neighbor_id, cos_sim, rank FROM (
         |  SELECT query_id, 'positive' AS pair_type, neighbor_id, cos_sim, rank FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      round(list_cosine_similarity(q.emb, c.emb), 6) AS cos_sim,
         |      CAST(row_number() OVER (
         |        PARTITION BY q.vec_id
         |        ORDER BY round(list_cosine_similarity(q.emb, c.emb), 6) DESC,
         |                 c.vec_id) AS INT) AS rank
         |    FROM e q JOIN a2 aq ON aq.vec_id = q.vec_id
         |    JOIN a2 ac ON ac.cluster = aq.cluster AND ac.vec_id != aq.vec_id
         |    JOIN e c ON c.vec_id = ac.vec_id
         |    WHERE q.vec_id < 5)
         |  WHERE rank <= 1
         |  UNION ALL
         |  SELECT query_id, 'negative' AS pair_type, neighbor_id, cos_sim, rank FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      round(list_cosine_similarity(q.emb, c.emb), 6) AS cos_sim,
         |      CAST(row_number() OVER (
         |        PARTITION BY q.vec_id
         |        ORDER BY round(list_cosine_similarity(q.emb, c.emb), 6) DESC,
         |                 c.vec_id) AS INT) AS rank
         |    FROM e q JOIN a2 aq ON aq.vec_id = q.vec_id
         |    JOIN a2 ac ON ac.cluster != aq.cluster
         |    JOIN e c ON c.vec_id = ac.vec_id
         |    WHERE q.vec_id < 5)
         |  WHERE rank <= 4)""".stripMargin,

    // q114: the q98 split chain + the q47 shingle-overlap shape,
    // rolled up per eval split.
    "q114_split_audit" ->
      s"""WITH RECURSIVE pairsq AS ($minhashLshSql),
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairsq
         |        UNION SELECT doc_b, doc_a FROM pairsq),
         |reach(src, dst) AS (
         |  SELECT src, src FROM und
         |  UNION
         |  SELECT r.src, u.dst FROM reach r JOIN und u ON u.src = r.dst),
         |cl AS (SELECT src AS doc_id, min(dst) AS canonical_id
         |       FROM reach GROUP BY src),
         |keyed AS (
         |  SELECT d.doc_id, coalesce(cl.canonical_id, d.doc_id) AS split_key
         |  FROM documents d LEFT JOIN cl USING (doc_id)),
         |spl AS (SELECT doc_id,
         |  CASE WHEN CAST(('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 13))::BIGINT % 100 AS INT) < 96 THEN 'train'
         |       WHEN CAST(('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 13))::BIGINT % 100 AS INT) < 98 THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM keyed),
         |tk2 AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh2 AS (SELECT doc_id,
         |  CASE WHEN len(t) - 2 >= 1
         |    THEN list_distinct([array_to_string(t[i+1:i+3], ' ') for i in range(0, len(t)-2)])
         |    ELSE [array_to_string(t, ' ')] END AS sh
         |  FROM tk2),
         |ex2 AS (SELECT doc_id, unnest(sh) AS s3 FROM sh2),
         |tsh AS (SELECT DISTINCT s3 FROM ex2 JOIN spl USING (doc_id)
         |        WHERE split = 'train'),
         |ov AS (SELECT DISTINCT e.doc_id FROM ex2 e JOIN spl USING (doc_id)
         |       JOIN tsh USING (s3) WHERE split != 'train')
         |SELECT spl.split, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN ov.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS overlapping_docs,
         |  CAST(count(*) - sum(CASE WHEN ov.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS clean_docs
         |FROM spl LEFT JOIN ov USING (doc_id)
         |WHERE spl.split != 'train'
         |GROUP BY spl.split""".stripMargin,

    // q99: per-source epoch percents as a CASE; fractional epoch by
    // the salted md5 draw; epochs via a range comprehension.
    "q99_epoch_mix" ->
      """WITH pcts AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src1' THEN 300 WHEN 'src2' THEN 245
        |                WHEN 'src3' THEN 50 ELSE 100 END AS pct,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#epoch'), 1, 13))::BIGINT % 100 AS draw
        |  FROM documents),
        |ne AS (
        |  SELECT doc_id, source,
        |    (pct // 100) + CASE WHEN draw < (pct % 100) THEN 1 ELSE 0 END AS n_epochs
        |  FROM pcts)
        |SELECT doc_id, source, CAST(e AS INT) AS epoch FROM (
        |  SELECT doc_id, source, unnest([e for e in range(1, n_epochs + 1)]) AS e
        |  FROM ne WHERE n_epochs >= 1)""".stripMargin,

    // q98: the q53 closure + md5-bucket split on the cluster-safe key.
    "q98_leakage_safe_split" ->
      s"""WITH RECURSIVE pairsq AS ($minhashLshSql),
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairsq
         |        UNION SELECT doc_b, doc_a FROM pairsq),
         |reach(src, dst) AS (
         |  SELECT src, src FROM und
         |  UNION
         |  SELECT r.src, u.dst FROM reach r JOIN und u ON u.src = r.dst),
         |cl AS (SELECT src AS doc_id, min(dst) AS canonical_id
         |       FROM reach GROUP BY src),
         |keyed AS (
         |  SELECT d.doc_id, coalesce(cl.canonical_id, d.doc_id) AS split_key
         |  FROM documents d LEFT JOIN cl USING (doc_id)),
         |bucketed AS (
         |  SELECT doc_id, split_key,
         |    CAST(('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 13))::BIGINT % 100 AS INT) AS bucket
         |  FROM keyed)
         |SELECT doc_id, split_key, bucket,
         |  CASE WHEN bucket < 96 THEN 'train'
         |       WHEN bucket < 98 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM bucketed""".stripMargin,

    "q53_dedup_clusters" ->
      s"""WITH RECURSIVE pairsq AS ($minhashLshSql),
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairsq
         |        UNION SELECT doc_b, doc_a FROM pairsq),
         |reach(src, dst) AS (
         |  SELECT src, src FROM und
         |  UNION
         |  SELECT r.src, u.dst FROM reach r JOIN und u ON u.src = r.dst)
         |SELECT src AS doc_id, min(dst) AS canonical_id
         |FROM reach GROUP BY src""".stripMargin,


    // Brute-force oracle is exhaustive; the Spark side's byte-band
    // candidate generation is provably exhaustive for hamming <= 3, so
    // the two sets must match exactly.
    "q23_simhash" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |hs AS (SELECT doc_id,
         |  [('0x' || substr(md5(tok), 1, 8))::BIGINT for tok in toks] AS hashes
         |  FROM t),
         |sk AS (SELECT doc_id,
         |  list_sum([CASE WHEN list_sum([CAST(((h >> b) & 1) * 2 - 1 AS BIGINT) for h in hashes]) > 0
         |            THEN (1::BIGINT << b) ELSE 0 END for b in range(0, 32)]) AS simhash
         |  FROM hs)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sk a JOIN sk b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    "q24_embedding_neardup" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
        | round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35""".stripMargin,

    "q25_knn_brute_force" ->
      """SELECT * FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos_sim,
        |  CAST(row_number() OVER (
        |    PARTITION BY q.vec_id
        |    ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
        |             c.vec_id) AS INT) AS rank
        | FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        | WHERE q.vec_id < 5)
        |WHERE rank <= 5""".stripMargin,

    // Same constants as q26KnnLsh above — the SQL re-derives the
    // hyperplanes from md5, so the whole ANN pipeline is oracle-checked.
    "q26_knn_lsh" ->
      knnLshOracleSql(dim = 64, bits = 2, tables = 8, seed = 42L,
        k = 5, queryPred = "vec_id < 5"),

    // Same constants as q39KmeansIvf above — the SQL re-runs the whole
    // deterministic Lloyd's pipeline, so quantizer AND scoring are
    // oracle-checked.
    "q39_kmeans_ivf" ->
      kmeansIvfOracleSql(k = 8, dim = 64, iters = 2, threshold = 0.35),

    // Same constants as q55KmeansOversampled above — the SQL unrolls
    // the farthest-first candidate selection before the Lloyd's chain.
    "q55_kmeans_oversampled" ->
      kmeansIvfOracleSql(k = 8, dim = 64, iters = 2, threshold = 0.35,
        initFactor = 4),

    // Same constants as q70SemanticDedup above — the SQL re-runs the
    // quantizer, the recursive grouping, and the survivor pick.
    "q70_semantic_dedup" ->
      semanticDedupOracleSql(k = 8, dim = 64, iters = 2, threshold = 0.35),

    // Same constants as q75SemanticDedupGuarded above — the SQL also
    // replays the md5 sub-cell salting of oversized cells.
    "q75_semantic_dedup_guarded" ->
      semanticDedupOracleSql(k = 8, dim = 64, iters = 2, threshold = 0.35,
        maxCellSize = 60),

    // Same constants as q71ImportanceResample above — the SQL replays
    // the bucket distributions, the decimal doc sums, and the Gumbel
    // draw.
    "q71_importance_resample" ->
      importanceResampleOracleSql(buckets = 1024, take = 100),

    // Same constants as q82QualityClassifier / q83ClassifierWeights.
    "q82_quality_classifier" ->
      qualityClassifierOracleSql(buckets = 256, iters = 3, lr = 0.5),
    "q83_classifier_weights" ->
      classifierWeightsOracleSql(buckets = 256, iters = 3, lr = 0.5),

    // q85: per-dimension moments; float sums are exact doubles, the
    // squares ride the 8dp-decimal discipline, variance re-derives
    // from the same raw sums in the same operation order.
    "q85_embedding_profile" ->
      """WITH v AS (SELECT u.d AS dim, u.x AS x FROM (
        |  SELECT unnest([{'d': (i - 1)::INT, 'x': CAST(embedding[i] AS DOUBLE)}
        |    for i in range(1, len(embedding) + 1)]) AS u FROM embeddings))
        |SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(x) / count(*), 6) AS mean,
        |  round(CAST(sum(CAST(round(x * x, 8) AS DECIMAL(20,8))) AS DOUBLE) / count(*)
        |    - (sum(x) / count(*)) * (sum(x) / count(*)), 6) AS variance,
        |  round(min(x), 6) AS min_x,
        |  round(max(x), 6) AS max_x
        |FROM v GROUP BY dim""".stripMargin,

    // q84: q18's language pick + q17's quality replay + the q32
    // canonical dup key, rolled up per language. Decimal-exact mean
    // of the 2dp quality scores; integer-exact token/char sums.
    "q84_corpus_datasheet" ->
      s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks, CAST(len(text) AS DOUBLE) AS nc FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS DOUBLE) AS nt,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) AS nd,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','el','la','de','que','y','der','die','und','das','ist','le','les','et','des','un'], x))) AS DOUBLE) AS nstop,
         |  nc FROM t),
         |q AS (SELECT doc_id, CAST(nt AS INT) AS n_tokens,
         |  round((CASE WHEN nt >= 20 AND nt <= 2000 THEN 0.25 ELSE 0.0 END) +
         |        (CASE WHEN nd / nt >= 0.3 THEN 0.25 ELSE 0.0 END) +
         |        (CASE WHEN (nc - (nt - 1)) / nt >= 3.0 AND (nc - (nt - 1)) / nt <= 10.0 THEN 0.25 ELSE 0.0 END) +
         |        (CASE WHEN nstop / nt > 0.0 THEN 0.25 ELSE 0.0 END), 2) AS quality_score
         |  FROM m),
         |hh AS (SELECT doc_id,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x))) AS INT) AS hits_en,
         |  CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x))) AS INT) AS hits_es,
         |  CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS INT) AS hits_de,
         |  CAST(len(list_filter(toks, x -> list_contains(['le','les','et','des','un'], x))) AS INT) AS hits_fr
         |  FROM t),
         |lg AS (SELECT doc_id,
         | CASE WHEN greatest(hits_en, hits_es, hits_de, hits_fr) = 0 THEN 'und'
         |      WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
         |      WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
         |      WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
         |      ELSE 'fr' END AS detected_lang
         |FROM hh),
         |c AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |  md5(lower(trim(text))) AS k FROM documents),
         |cp AS (SELECT k, count(*) AS copies FROM c GROUP BY 1)
         |SELECT detected_lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(q.n_tokens) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(CAST(q.quality_score AS DECIMAL(10,2))) AS DOUBLE) / count(*), 6) AS mean_quality,
         |  CAST(sum(CASE WHEN cp.copies >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
         |  round(CAST(sum(c.n_chars) AS DOUBLE) / count(*), 6) AS mean_chars
         |FROM c JOIN lg USING (doc_id) JOIN q USING (doc_id) JOIN cp USING (k)
         |GROUP BY detected_lang""".stripMargin,

    // Same constants as q73PqSearch above — the SQL re-runs all eight
    // subspace Lloyd's chains, the encoding, and the ADC ranking.
    "q73_pq_search" ->
      pqSearchOracleSql(dim = 64, subspaces = 8, kw = 16, iters = 2,
        topK = 5, queryPred = "vec_id < 5"),

    // Same constants as q74PqSearchIvf above: q39 coarse chain + q73
    // subspace chains + q45 probe rule, ADC restricted to candidates.
    "q74_pq_search_ivf" ->
      pqSearchIvfOracleSql(dim = 64, subspaces = 8, kw = 16, iters = 2,
        kClusters = 8, cIters = 2, nprobe = 2, topK = 5,
        queryPred = "vec_id < 5"),

    // q137: the composed ten-stage replay (see curationE2eOracleSql).
    "q137_curation_e2e" -> curationE2eOracleSql,

    // q146: the staged three-batch all-state cadence replay (see
    // cadenceE2eOracleSql).
    "q146_cadence_e2e" -> cadenceE2eOracleSql,

    // q140: the q42 rewrite extended — same replacement order as the
    // engine (email -> URL -> IP -> phone), counts per pattern on raw.
    "q140_redact_pii" -> {
      val em = graft.operators.TextAnalysis.EmailPattern
      val ur = graft.operators.TextAnalysis.UrlPattern
      val ip = graft.operators.TextAnalysis.Ipv4Pattern
      val ph = graft.operators.TextAnalysis.PhonePattern
      s"""SELECT doc_id,
         | regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
         |   '$em', '<EMAIL>', 'g'), '$ur', '<URL>', 'g'),
         |   '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g') AS clean_text,
         | CAST(len(regexp_extract_all(text, '$em')) AS INT) AS n_emails,
         | CAST(len(regexp_extract_all(text, '$ur')) AS INT) AS n_urls,
         | CAST(len(regexp_extract_all(text, '$ip')) AS INT) AS n_ips,
         | CAST(len(regexp_extract_all(text, '$ph')) AS INT) AS n_phones
         |FROM documents""".stripMargin
    },

    // q139: the q39 Lloyd's chain re-anchored on the even-id state
    // corpus; per side the min of the same rounded per-centroid
    // distance formula, mean as exact DECIMAL sum / n, max exact.
    "q139_quantizer_drift" -> {
      val ctes = kmeansCtes(8, 64, 2,
        embFrom = "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0)")
      def side(name: String, pred: String) =
        s"""SELECT '$name' AS side,
           |  CAST(count(*) AS BIGINT) AS n_vectors,
           |  round(CAST(sum(CAST(d AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6) AS mean_dist,
           |  max(d) AS max_dist
           |FROM (
           |  SELECT t.vec_id,
           |    min(round(t.xx - 2*list_sum([t.emb[i+1]*n.w[i+1] for i in range(0,64)])
           |              + list_sum([n.w[i+1]*n.w[i+1] for i in range(0,64)]), 6)) AS d
           |  FROM (SELECT vec_id, embedding::DOUBLE[] AS emb,
           |          list_sum([(embedding::DOUBLE[])[i+1]*(embedding::DOUBLE[])[i+1] for i in range(0,64)]) AS xx
           |        FROM embeddings WHERE $pred) t
           |  CROSS JOIN cen2 n GROUP BY t.vec_id)""".stripMargin
      s"""$ctes
         |${side("state", "vec_id % 2 = 0")}
         |UNION ALL
         |${side("batch", "vec_id % 2 = 1")}""".stripMargin
    },

    // q138: identical search to q74 by construction — the engine side
    // round-trips model + codes through parquet (bit-exact for doubles
    // and ints), so the oracle is the same IVFADC replay.
    "q138_ann_artifact_search" ->
      pqSearchIvfOracleSql(dim = 64, subspaces = 8, kw = 16, iters = 2,
        kClusters = 8, cIters = 2, nprobe = 2, topK = 5,
        queryPred = "vec_id < 5"),

    // q141: the q74 replay with TRAINING restricted to the state half
    // (even vec_ids) — seeds and Lloyd's means see state vectors only,
    // codes/cells cover everything. The engine side's append (state
    // slice + batch slice encoded under the read-back frozen model)
    // composes to exactly this.
    "q141_ann_codes_append" ->
      pqSearchIvfOracleSql(dim = 64, subspaces = 8, kw = 16, iters = 2,
        kClusters = 8, cIters = 2, nprobe = 2, topK = 5,
        queryPred = "vec_id < 5", trainPred = "vec_id % 2 = 0"),

    // Same model constants as q97IvfRecallSweep; one trained chain,
    // per-nprobe candidate CTEs, recall vs the q25 exact top-k.
    "q97_ivf_recall_sweep" ->
      ivfRecallSweepOracleSql(dim = 64, subspaces = 8, kw = 16, iters = 2,
        kClusters = 8, cIters = 2, nprobes = Seq(1, 2, 4), topK = 5,
        queryPred = "vec_id < 5"),

    // Same constants as q45KnnIvf above.
    "q45_knn_ivf" ->
      knnIvfOracleSql(k = 5, dim = 64, kClusters = 8, iters = 2,
        nprobe = 2, queryPred = "vec_id < 5"),

    "q32_curation_pipeline" ->
      s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks, CAST(len(text) AS DOUBLE) AS nc FROM documents),
         |m AS (SELECT doc_id, text,
         |  CAST(len(toks) AS DOUBLE) AS nt,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) AS nd,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','el','la','de','que','y','der','die','und','das','ist','le','les','et','des','un'], x))) AS DOUBLE) AS nstop,
         |  nc FROM t),
         |q AS (SELECT doc_id, text, CAST(nt AS INT) AS n_tokens,
         |  round((CASE WHEN nt >= 20 AND nt <= 2000 THEN 0.25 ELSE 0.0 END) +
         |        (CASE WHEN nd / nt >= 0.3 THEN 0.25 ELSE 0.0 END) +
         |        (CASE WHEN (nc - (nt - 1)) / nt >= 3.0 AND (nc - (nt - 1)) / nt <= 10.0 THEN 0.25 ELSE 0.0 END) +
         |        (CASE WHEN nstop / nt > 0.0 THEN 0.25 ELSE 0.0 END), 2) AS quality_score
         |  FROM m),
         |kept AS (SELECT doc_id, text, n_tokens FROM q WHERE quality_score >= 0.75),
         |canon AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(lower(trim(text)))),
         |h AS (SELECT doc_id, n_tokens,
         |  CAST(len(list_filter($duckToks, x -> list_contains(['the','a','of','and','to'], x))) AS INT) AS hits_en,
         |  CAST(len(list_filter($duckToks, x -> list_contains(['el','la','de','que','y'], x))) AS INT) AS hits_es,
         |  CAST(len(list_filter($duckToks, x -> list_contains(['der','die','und','das','ist'], x))) AS INT) AS hits_de,
         |  CAST(len(list_filter($duckToks, x -> list_contains(['le','les','et','des','un'], x))) AS INT) AS hits_fr
         |  FROM (SELECT k.* FROM kept k JOIN canon USING (doc_id)))
         |SELECT CASE WHEN greatest(hits_en, hits_es, hits_de, hits_fr) = 0 THEN 'und'
         |            WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
         |            WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
         |            WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
         |            ELSE 'fr' END AS detected_lang,
         | count(*) AS n_docs,
         | round(avg(n_tokens), 4) AS avg_tokens
         |FROM h GROUP BY 1""".stripMargin,

    "q28_sessionize" ->
      """WITH g AS (SELECT user_id, event_id, ts, value,
        |  lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |  FROM events),
        |b AS (SELECT *, CASE WHEN prev_ms IS NULL THEN 0
        |                     WHEN epoch_ms(ts) - prev_ms > 21600000 THEN 1
        |                     ELSE 0 END AS brk FROM g),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS session_no FROM b)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM s GROUP BY user_id, session_no""".stripMargin,

    "q40_asof_join" ->
      """SELECT l.user_id,
        | l.event_id AS purchase_id, l.ts AS purchase_ts,
        | r.event_id AS click_id, r.ts AS click_ts
        |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts""".stripMargin,

    "q41_interval_join" ->
      """SELECT l.user_id,
        | l.event_id AS error_id, l.ts AS error_ts,
        | r.event_id AS view_id, r.ts AS view_ts,
        | epoch_ms(l.ts) - epoch_ms(r.ts) AS ms_before
        |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') l
        |JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id
        | AND epoch_ms(l.ts) - epoch_ms(r.ts) BETWEEN 0 AND 900000""".stripMargin,

    "q27_multimodal_stats" ->
      """SELECT CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        | count(*) AS n_assets,
        | CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        | round(avg(('0x' || substr(md5(text), 1, 8))::BIGINT % 1920), 4) AS avg_width,
        | round(avg(('0x' || substr(md5(text), 9, 8))::BIGINT % 1080), 4) AS avg_height
        |FROM documents GROUP BY 1""".stripMargin,

    // The expected-dimension arithmetic of q76MediaDecode's encoders:
    // the Spark side must read these numbers back OUT OF THE BYTES via
    // the real codecs for the hash to match.
    "q76_media_decode" ->
      """SELECT doc_id AS asset_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 97 ELSE -1 END AS INT) AS width,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 53 ELSE -1 END AS INT) AS height,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE -1 END AS INT) AS channels,
        | CAST(CASE WHEN doc_id % 2 = 1 THEN 100 + doc_id % 200 ELSE -1 END AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,
  )
}
