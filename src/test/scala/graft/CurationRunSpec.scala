package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.CurationRun

/** End-to-end curation run over a fixture where every stage has a
  * planted casualty: a low-quality doc (gate), a benchmark copy
  * (decontamination), a near-duplicate (dedup survivor pick) — and the
  * survivors land in both parquet outputs with consistent stats. */
class CurationRunSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val goodEn =
    "the quick brown fox jumps over the lazy dog while the calm river " +
      "flows past the old stone bridge near the quiet village green today"
  private val benchText =
    "pack my box with five dozen liquor jugs before the long winter " +
      "arrives and the mountain roads close under the heavy snow again"
  private val goodEs =
    "el zorro marron salta sobre el perro perezoso mientras la luna " +
      "brilla sobre el valle y la gente duerme en la aldea tranquila"

  private val boiler =
    "subscribe to our newsletter today and follow our channels for " +
      "fresh updates delivered straight to your inbox every single morning"

  test("each stage drops its planted casualty; outputs and stats agree") {
    // Three docs share the boilerplate header (df = 3 >= spanMinDf = 3)
    // — the span stage cuts it from all carriers; their distinct tails
    // survive near-dup as three separate docs. The near-dup pair 1/2
    // shares spans at df = 2 only, UNDER the floor, so it reaches the
    // signature stage intact and collapses there (the documented
    // minDf-vs-near-dup interplay). Docs 5 and 6 carry identical
    // embeddings — the semantic stage drops the higher id.
    val docs = Seq(
      (1L, goodEn),
      (2L, goodEn.replace("today", "tonight")), // near-dup of 1
      (3L, benchText),                          // contaminated
      (4L, "z z z z z z"),                      // scores 0.0 at the gate
      (5L, goodEs),
      (6L, boiler + " meanwhile the ancient lighthouse keeper counted " +
        "ships gliding past the rocky northern shore at dusk"),
      (7L, boiler + " elsewhere a young painter mixed bright colors " +
        "beside the crowded market square under summer rain"),
      (8L, boiler + " nearby the retired engineer repaired clocks in " +
        "a small workshop behind the busy railway station")
    ).toDF("doc_id", "text")
    val benchmark = Seq((100L, benchText)).toDF("doc_id", "text")
    // Identical embeddings for 5 and 6: cosine 1 >= semThreshold; the
    // keep-least-prototypical tie breaks to the LOWER id, so 5 stays.
    val emb = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (5L, Seq(0f, 1f, 0f, 0f)),
      (6L, Seq(0f, 1f, 0f, 0f)),
      (7L, Seq(0f, 0f, 1f, 0f)),
      (8L, Seq(0f, 0f, 0f, 1f))).toDF("vec_id", "embedding")
    val out = TestSpark.tmpDir("curation_run")

    def go() = CurationRun.run(docs, benchmark, out,
      spanMinDf = 3, embeddings = Some(emb), semClusters = 2)
    val stats = go()
    assert(stats.input == 8)
    assert(stats.gated == 7, "only the low-quality doc falls at the gate")
    assert(stats.decontaminated == 6, "the benchmark copy is stripped")
    assert(stats.spanCleaned == 3, "the three boilerplate carriers are cleaned")
    assert(stats.kept == 5, "the near-dup pair collapses to one survivor")
    assert(stats.semDropped == 1, "one of the identical-embedding pair drops")
    assert(stats.sampled == 4, "default fraction 1.0 keeps every survivor")

    val curated = spark.read.parquet(s"$out/curated")
    val byId = curated.select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(byId.keySet == Set(1L, 5L, 7L, 8L),
      "near-dup survivor = min id on a quality tie; semantic dup 6 drops; " +
        "unique docs survive")
    // The span stage actually rewrote the carriers' text.
    Seq(7L, 8L).foreach { id =>
      assert(!byId(id).contains("newsletter"),
        s"boilerplate must be cut from doc $id")
    }
    assert(byId(1L).contains("quick brown fox"),
      "sub-floor spans stay in place")
    assert(curated.columns.toSet ==
      Set("doc_id", "text", "detected_lang", "quality_score"))
    val langs = curated.select("doc_id", "detected_lang")
      .as[(Long, String)].collect().toMap
    assert(langs(1L) == "en" && langs(5L) == "es")

    // Every curated doc lands in exactly one pack bin.
    val packedIds = spark.read.parquet(s"$out/packed")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("doc_ids"), ",")))
      .as[String].collect().map(_.toLong).toSeq
    assert(packedIds.sorted == Seq(1L, 5L, 7L, 8L))
    assert(stats.bins == packedIds.length || stats.bins <= 4)

    // The landed shard manifest describes the landed bins exactly:
    // totals agree with packed/ and the fill ratio is capped by 1.
    val packed = spark.read.parquet(s"$out/packed")
    val manifest = spark.read.parquet(s"$out/manifest")
    assert(manifest.columns.toSet == Set("shard", "n_bins", "n_docs",
      "total_tokens", "checksum", "capacity_tokens", "fill_ratio"))
    val (mBins, mDocs) = manifest
      .agg(org.apache.spark.sql.functions.sum("n_bins"),
        org.apache.spark.sql.functions.sum("n_docs"))
      .as[(Long, Long)].collect().head
    assert(mBins == packed.count() && mDocs == packedIds.length.toLong)
    // (fill can exceed 1 only by the crossing-doc overshoot; this
    // fixture is far under budget, so it is a plain fraction here)
    assert(manifest.select("fill_ratio").as[Double].collect()
      .forall(f => f > 0.0 && f <= 1.0))

    // Idempotent: a re-run overwrites to the same state.
    assert(go() == stats)
  }

  test("run without embeddings skips the semantic stage (semDropped = -1)") {
    val docs = Seq((1L, goodEn), (5L, goodEs)).toDF("doc_id", "text")
    val benchmark = Seq((100L, benchText)).toDF("doc_id", "text")
    val out = TestSpark.tmpDir("curation_run_nosem")
    val stats = CurationRun.run(docs, benchmark, out)
    assert(stats.semDropped == -1L && stats.kept == 2 && stats.sampled == 2)
  }

  test("classifier stage drops distribution-alien docs under pre-trained weights") {
    import graft.operators.QualityClassifier
    // Passes the heuristic gate (length + type-token bands) but speaks
    // an alien vocabulary: only the model-based gate can catch it.
    val alien = "qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk ll zz"
    val docs = Seq((1L, goodEn), (2L, goodEs), (3L, alien))
      .toDF("doc_id", "text")
    val benchmark = Seq((100L, benchText)).toDF("doc_id", "text")
    // Weights trained OUTSIDE the run (the q83 artifact contract):
    // positives = target-domain prose, negatives = the alien register.
    val trainSet = Seq((10L, goodEn, 1), (11L, goodEs, 1), (12L, alien, 0))
      .toDF("doc_id", "text", "y")
    val w = QualityClassifier.train(trainSet, "doc_id", "text", "y",
      buckets = 128, iters = 3, lr = 0.5)
    val out = TestSpark.tmpDir("curation_cls")
    val stats = CurationRun.run(docs, benchmark, out,
      classifier = Some((w, 128)))
    assert(stats.gated == 3, "the heuristic gate passes all three")
    assert(stats.modelGated == 2, "the model gate drops the alien doc")
    val ids = spark.read.parquet(s"$out/curated")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L))
    // Without a classifier the stage is skipped and reported -1.
    val out2 = TestSpark.tmpDir("curation_nocls")
    val stats2 = CurationRun.run(docs, benchmark, out2)
    assert(stats2.modelGated == -1L && stats2.sampled == 3)
  }

  test("classifier stage rides the incremental cadence: init+inc == scratch") {
    import graft.operators.QualityClassifier
    val alien = "qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk ll zz"
    val w = QualityClassifier.train(
      Seq((10L, goodEn, 1), (11L, goodEs, 1), (12L, alien, 0))
        .toDF("doc_id", "text", "y"),
      "doc_id", "text", "y", buckets = 128, iters = 3, lr = 0.5)
    val cls = Some((w, 128))
    val batchA = Seq((1L, goodEn), (3L, alien)).toDF("doc_id", "text")
    val batchB = Seq((11L, goodEs),
      (13L, alien.replace("zz", "xx"))).toDF("doc_id", "text")
    val benchmark = Seq((100L, benchText)).toDF("doc_id", "text")
    val base = TestSpark.tmpDir("inc_cls")
    CurationRun.runInit(batchA.unionByName(batchB), benchmark,
      s"$base/out_scratch", s"$base/state_scratch", classifier = cls)
    CurationRun.runInit(batchA, benchmark, s"$base/out_a", s"$base/state_1",
      classifier = cls)
    CurationRun.runIncremental(batchB, benchmark, s"$base/out_incr",
      s"$base/state_1", s"$base/state_2", classifier = cls)
    def curated(dir: String) =
      spark.read.parquet(s"$dir/curated")
        .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(curated(s"$base/out_incr") == curated(s"$base/out_scratch"))
    assert(curated(s"$base/out_scratch").map(_._1) == Set(1L, 11L),
      "both alien docs fall at the model gate in both cadences")
  }

  test("a keep-everything classifier adds only its weights collect to runInit's jobs") {
    // The classifier is a filter fused into the prep front; its one
    // job of its own is QualityClassifier.weightsModel's collect.
    // Embeddings without semantic state keep the publish-state branch
    // off, so only the prep front differs between the two runs.
    import graft.operators.QualityClassifier
    val alien = "qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk ll zz"
    val w = QualityClassifier.train(
      Seq((10L, goodEn, 1), (11L, goodEs, 1), (12L, alien, 0))
        .toDF("doc_id", "text", "y"),
      "doc_id", "text", "y", buckets = 128, iters = 3, lr = 0.5)
    val docs = Seq((1L, goodEn), (3L, alien), (11L, goodEs))
      .toDF("doc_id", "text")
    val benchmark = Seq((100L, benchText)).toDF("doc_id", "text")
    val emb = Seq((1L, Seq(1f, 0f, 0f, 0f)), (3L, Seq(0f, 1f, 0f, 0f)),
      (11L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val base = TestSpark.tmpDir("init_cls_jobs")
    val plain = TestSpark.jobsOf(CurationRun.runInit(docs, benchmark,
      s"$base/out_plain", s"$base/state_plain",
      embeddings = Some(emb), semClusters = 2))
    val withCls = TestSpark.jobsOf(CurationRun.runInit(docs, benchmark,
      s"$base/out_cls", s"$base/state_cls",
      embeddings = Some(emb), semClusters = 2,
      classifier = Some((w, 128)), minClassifierScore = 0.0))
    info(s"runInit jobs: $plain without a classifier, $withCls with one")
    assert(plain > 0)
    assert(withCls <= plain + 1,
      s"classifier run took $withCls jobs vs $plain without: only the " +
        "weights collect may be added")
  }

  test("runInit with publish state runs the same job count every time") {
    // Without embeddings the full publish tail overlaps the
    // publish-state write with the output sinks; both read the kept
    // cache, which must be materialized before they start — otherwise
    // they race to first-materialize it and the count varies.
    val docs = Seq((1L, goodEn), (2L, goodEs), (3L, benchText + " extra"))
      .toDF("doc_id", "text")
    val benchmark = Seq((100L, boiler)).toDF("doc_id", "text")
    val base = TestSpark.tmpDir("init_pub_jobs")
    val counts = (1 to 5).map { i =>
      TestSpark.jobsOf(CurationRun.runInit(docs, benchmark,
        s"$base/out$i", s"$base/state$i"))
    }
    info(s"runInit jobs per run: ${counts.mkString(", ")}")
    assert(counts.distinct.size == 1,
      s"runInit's job count must not vary run to run: $counts")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/state1/publish_meta.txt")),
      "the publish-state branch must have run")
  }

  test("keepSet returns a frame already materialized in the cache (no post-close recompute)") {
    // VERDICT r04 item 2: the survivors join reads the suite's quality
    // frame; a frame persisted lazily and first materialized AFTER
    // suite.close() recomputes that frame from lineage — correct but
    // forfeiting the shared-artifact amortization. keepSet's contract
    // is therefore persisted AND materialized. Pin it at runtime: new
    // cached-RDD blocks (getRDDStorageInfo) must exist the moment
    // keepSet returns, before any downstream action and before close.
    import graft.operators.TextAnalysis
    import graft.pipeline.DedupSuite
    val sc = spark.sparkContext
    val docs = Seq(
      (1L, goodEn),
      (2L, goodEn.replace("today", "tonight")),
      (5L, goodEs)).toDF("doc_id", "text")
    val decon = docs
      .join(TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select($"doc_id", $"quality_score"), "doc_id")
      .persist()
    val suite = DedupSuite(decon, "doc_id", "text", n = 3)
    try {
      // Materialize every suite artifact FIRST so the storage snapshot
      // below already contains them: the only cached blocks that can
      // appear after it are keepSet's own frame. (Without this, the
      // artifacts materializing during keepSet's clustering would mask
      // a keepSet that never materializes its result.)
      Seq(suite.index32.df, suite.index64.df,
        suite.signatures, suite.quality).foreach(_.count())
      val before = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
        .map(_.id).toSet
      val (kept, n) = CurationRun.keepSet(suite, decon, dedupThreshold = 0.25)
      val fresh = sc.getRDDStorageInfo
        .filter(i => i.numCachedPartitions > 0 && !before.contains(i.id))
      assert(fresh.nonEmpty,
        "keepSet must materialize its persisted frame before returning " +
          "(so suite.close() cannot force a quality-frame recompute)")
      assert(n == 2, "near-dup pair collapses; unique doc survives")
      suite.close()
      // Safe to consume after close — served from the cache built above.
      assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L, 5L))
      kept.unpersist()
    } finally { suite.close(); decon.unpersist() }
  }
}
