package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Delta weekly publish (VERDICT r10 item 1): the increment that
  * re-publishes ONLY shards whose member set changed must be
  * bit-equal — curated rows, packed bins, manifest rows, audit stats —
  * to the full re-publish of the composed corpus, across two
  * increments, INCLUDING the hard cases: a batch near-dup displacing
  * an old survivor (its shard changes, the doc leaves), the displaced
  * doc's semantic-cluster peer RE-SURFACING (enters curated without
  * ever being in the previous publish — text via the doc-pruned decon
  * read), and untouched shards carried forward as hard links (pinned
  * by inode equality, proving pure IO, zero bytes rewritten). */
class DeltaPublishSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Fixture geometry (publishSpan = 4, shard = doc_id div 4):
  //  - doc 1 ("a", shard 0): 16 tokens -> misses the >= 20-token
  //    quality band, score 0.75; sem-paired with doc 2.
  //  - doc 2 ("b", shard 0): textually distinct, same embedding as 1;
  //    at init the sem cluster {1, 2} keeps the lower kept id (1), so
  //    2 is NOT in the first publish.
  //  - docs 4, 5, 7 (shard 1) and 8 (shard 2): stable fillers,
  //    mutually distinct texts.
  //  - inc1 batch doc 11 (shard 2): doc 1's text + six extra tokens
  //    -> 22 tokens, quality 1.0, 3-gram Jaccard vs doc 1 = 14/20 —
  //    displaces 1 as dedup survivor; sem cluster {1, 2}'s kept
  //    members become {2}, so 2 RE-SURFACES. 11 has no embedding, so
  //    that semantic re-pick is seeded only by 1's surv flip.
  //    Changed shards: 0 (1 leaves, 2 enters) and 2 (11 appends);
  //    shard 1 carries.
  //  - inc2 batch doc 14 (shard 3): its own NEW shard — range
  //    sharding keeps a pure-append week from touching ANY old
  //    shard; 0, 1, 2 all carry.
  private val aText =
    "the amber lantern swung gently above wooden crates stacked " +
      "beside narrow canal boats every misty evening"
  private val cText = aText + " before the cold autumn rains arrived"
  private val bText =
    "granite cliffs rise steeply where gulls wheel over cold grey " +
      "water and distant sails fade slowly into the northern haze line"
  private val initDocs = Seq(
    1L -> aText, 2L -> bText,
    4L -> ("four bakers arranged warm loaves along the counter before " +
      "sunrise brought the first customers through the door"),
    5L -> ("five gardeners planted rows of tulips beside the gravel " +
      "path while morning light spread slowly across the lawn"),
    7L -> ("seven sailors mended canvas sails under the harbor lamps " +
      "as the tide pushed small boats against the wooden pier"),
    8L -> ("eight students copied maps of ancient rivers onto thin " +
      "paper during the long quiet afternoon lesson hour"))
  private val inc1Docs = Seq(11L -> cText)
  private val inc2Docs = Seq(14L ->
    ("fourteen carved chess pieces waited patiently under glass while " +
      "rain traced long silver lines down the museum front tonight"))
  private val emb = Seq(
    1L -> Seq(1f, 0f, 0f, 0f),
    2L -> Seq(0.999f, 0.04f, 0f, 0f),
    4L -> Seq(0f, 1f, 0f, 0f),
    5L -> Seq(0f, 0f, 1f, 0f)).toDF("vec_id", "embedding")
  private val benchmark = Seq(900L ->
    "zyx wvu tsr qpo nml kji hgf edc ba9 87z y6x w5v u4t s3r q2p o1n")
    .toDF("doc_id", "text")

  private def runChain(base: String, forceFull: Boolean,
      carrier: PublishCarrier = PublishCarrier.Posix): Seq[CurationRun.Stats] = {
    def docs(s: Seq[(Long, String)]) = s.toDF("doc_id", "text")
    def stripMeta(stateDir: String): Unit =
      if (forceFull)
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$stateDir/publish_meta.txt"))
    val init = CurationRun.runInit(docs(initDocs), benchmark,
      s"$base/out0", s"$base/s0", minQuality = 0.0,
      embeddings = Some(emb), semClusters = 2, semIters = 2,
      semThreshold = 0.9, semanticState = true, publishSpan = 4L,
      packBudget = 64L, carrier = carrier)
    stripMeta(s"$base/s0")
    val i1 = CurationRun.runIncremental(docs(inc1Docs), benchmark,
      s"$base/out1", s"$base/s0", s"$base/s1", minQuality = 0.0,
      embeddings = Some(emb), semThreshold = 0.9, publishSpan = 4L,
      packBudget = 64L, carrier = carrier)
    stripMeta(s"$base/s1")
    val i2 = CurationRun.runIncremental(docs(inc2Docs), benchmark,
      s"$base/out2", s"$base/s1", s"$base/s2", minQuality = 0.0,
      embeddings = Some(emb), semThreshold = 0.9, publishSpan = 4L,
      packBudget = 64L, carrier = carrier)
    Seq(init, i1, i2)
  }

  private def curatedSet(dir: String) =
    spark.read.parquet(s"$dir/curated")
      .select(col("doc_id"), col("text"), col("detected_lang"),
        col("quality_score"))
      .as[(Long, String, String, Double)].collect().toSet

  private def packedSet(dir: String) =
    spark.read.parquet(s"$dir/packed")
      .select(col("shard"), col("bin"), col("n_docs"), col("total_tokens"),
        col("doc_ids"), col("packed_text"))
      .as[(Long, Long, Long, Long, String, String)].collect().toSet

  private def manifestSet(dir: String) =
    spark.read.parquet(s"$dir/manifest")
      .select(col("shard"), col("n_bins"), col("n_docs"),
        col("total_tokens"), col("checksum"), col("capacity_tokens"),
        col("fill_ratio"))
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSet

  private def ino(p: String): Any =
    java.nio.file.Files.getAttribute(java.nio.file.Paths.get(p), "unix:ino")

  test("delta publish == full re-publish across two increments") {
    val baseA = TestSpark.tmpDir("delta_pub_a") // delta (default)
    val baseB = TestSpark.tmpDir("delta_pub_b") // publish state stripped
    val statsA = runChain(baseA, forceFull = false)
    val statsB = runChain(baseB, forceFull = true)
    // Audit equality modulo the delta-only observability fields (the
    // full path has no carry, so it reports -1 there by contract).
    def audit(s: Seq[CurationRun.Stats]) = s.map(_.copy(
      nShardsChanged = -1L, nShardsCarried = -1L, nShardsOverlap = -1L))
    assert(audit(statsA) == audit(statsB),
      "audit stats must match the full path")
    assert(statsB.forall(s => s.nShardsChanged == -1L &&
      s.nShardsCarried == -1L && s.nShardsOverlap == -1L),
      "full publishes have no carry to report")
    // Delta-carry observability (VERDICT r11 item 2): inc1 re-packs
    // shards 0 (displacement + re-surface) and 2 (append), carrying 1;
    // inc2 is a pure-append week — one new shard, EVERY old shard
    // (0, 1, 2) carried. Monotonic ids -> the premise tripwire stays 0.
    assert(statsA(0).nShardsChanged == -1L, "init is a full publish")
    assert(statsA(1).nShardsChanged == 2L && statsA(1).nShardsCarried == 1L
      && statsA(1).nShardsOverlap == 0L, s"inc1 carry stats: ${statsA(1)}")
    assert(statsA(2).nShardsChanged == 1L && statsA(2).nShardsCarried == 3L
      && statsA(2).nShardsOverlap == 0L, s"inc2 carry stats: ${statsA(2)}")
    for (out <- Seq("out0", "out1", "out2")) {
      assert(curatedSet(s"$baseA/$out") == curatedSet(s"$baseB/$out"),
        s"$out curated")
      assert(packedSet(s"$baseA/$out") == packedSet(s"$baseB/$out"),
        s"$out packed")
      assert(manifestSet(s"$baseA/$out") == manifestSet(s"$baseB/$out"),
        s"$out manifest")
      // Width pin (round-12 review finding #1): full AND delta tails
      // must write the SAME long shard — a mixed dir (int files
      // carried from a full publish beside long delta re-packs) breaks
      // whole-dir parquet reads with a schema-convert error, and the
      // .as[Long] decode above silently upcasts, so it cannot catch
      // an int writer on its own.
      for (o <- Seq(baseA, baseB); art <- Seq("packed", "manifest"))
        assert(spark.read.parquet(s"$o/$out/$art").schema("shard").dataType ==
          org.apache.spark.sql.types.LongType,
          s"$out/$art shard column must be long on both paths")
    }

    // The fixture's churn actually happened: 11 displaced 1, and 2
    // re-surfaced (it was absent from out0 — the enter path ran).
    val c0 = curatedSet(s"$baseA/out0").map(_._1)
    val c1 = curatedSet(s"$baseA/out1").map(_._1)
    assert(c0.contains(1L) && !c0.contains(2L) && !c0.contains(11L))
    assert(!c1.contains(1L), "doc 1 must be displaced by its near-dup")
    assert(c1.contains(11L), "the higher-quality near-dup survives")
    assert(c1.contains(2L), "the sem-cluster peer must re-surface")

    // Carried shards are HARD LINKS of the previous publish's files —
    // pure IO, zero bytes rewritten. Shard 1 (fillers 4, 5, 7) never
    // changes; its inc1 and inc2 files share inodes with out0's.
    for (art <- Seq("curated", "packed")) {
      val f0 = PublishState.shardFiles(s"$baseA/out0/$art", 1)
      assert(f0.nonEmpty, s"shard 1 must exist in out0/$art")
      for (out <- Seq("out1", "out2")) {
        val f = PublishState.shardFiles(s"$baseA/$out/$art", 1)
        assert(f.map(ino).toSet == f0.map(ino).toSet,
          s"$out/$art shard 1 must be hard links of out0's files")
      }
    }
    // A changed shard was really rewritten (fresh inodes)...
    val p1 = PublishState.shardFiles(s"$baseA/out1/curated", 0)
    val p0 = PublishState.shardFiles(s"$baseA/out0/curated", 0)
    assert(p0.map(ino).toSet.intersect(p1.map(ino).toSet).isEmpty,
      "shard 0 changed (doc 1 left, doc 2 entered) — files must be rewritten")
    // ...and a pure-append week (inc2's doc 14 -> its own new shard 3)
    // carries EVERY old shard — range sharding's point: the batch
    // never sprays into old shards, so publish IO is the batch alone.
    for (art <- Seq("curated", "packed"); n <- Seq(0, 2)) {
      val prev = PublishState.shardFiles(s"$baseA/out1/$art", n)
      val now = PublishState.shardFiles(s"$baseA/out2/$art", n)
      assert(prev.nonEmpty && now.map(ino).toSet == prev.map(ino).toSet,
        s"out2/$art shard $n must carry forward (pure-append week)")
    }
    assert(PublishState.shardFiles(s"$baseA/out2/curated", 3).nonEmpty,
      "the append week's batch lands in its own new shard")
  }

  test("incremental fingerprints + totals == full recompute, every version") {
    // VERDICT r11 item 1's done-criterion: the weekly path maintains
    // publish_shards and publish_totals from correction rows alone;
    // both must equal the from-scratch recompute over the composed
    // ledger at EVERY version — three increments, displacement and
    // re-surface included (the fixture's inc1), plus one more pure
    // append on top of the chain.
    val base = TestSpark.tmpDir("delta_pub_meta")
    val stats = runChain(base, forceFull = false)
    CurationRun.runIncremental(
      Seq(17L -> ("seventeen lighthouse keepers compared worn logbooks " +
        "while the evening ferry crossed the quiet grey strait"))
        .toDF("doc_id", "text"),
      benchmark, s"$base/out3", s"$base/s2", s"$base/s3", minQuality = 0.0,
      embeddings = Some(emb), semThreshold = 0.9, publishSpan = 4L,
      packBudget = 64L)
    def fpSet(lineage: Seq[String]) =
      PublishState.composeFingerprints(spark, lineage)
        .select(col("shard"), col("n_member"), col("fp").cast("string"))
        .as[(Long, Long, String)].collect().toSet
    for (dir <- Seq(s"$base/s0", s"$base/s1", s"$base/s2", s"$base/s3")) {
      val lineage = StateLayout.readLineage(dir)
      val composed = PublishState.composeLedger(spark, lineage).persist()
      val want = PublishState.fingerprintsOf(composed)
        .select(col("shard"), col("n_member"), col("fp").cast("string"))
        .as[(Long, Long, String)].collect().toSet
      assert(fpSet(lineage) == want,
        s"$dir: sliced-composed fingerprints must equal the full recompute")
      // The slice discipline really holds: only the lineage HEAD
      // (init) carries the full table; every increment landed a
      // batch-scale delta slice instead (VERDICT r12 item 4).
      if (lineage.size > 1) {
        assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
          s"${lineage.last}/publish_shards")),
          "an increment must not rewrite the composed fingerprint table")
        assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
          s"${lineage.last}/publish_shards_delta")),
          "an increment must land its fingerprint delta slice")
      }
      val t = PublishState.readTotals(dir)
      assert(t == PublishState.Totals(
          composed.count(),
          composed.where(col("surv")).count(),
          composed.where(col("member")).count(),
          composed.where(col("surv") && col("semok")).count()),
        s"$dir: incremental totals must equal the composed-ledger counts")
      composed.unpersist()
    }
    // The stats the delta reported came from those totals — spot-pin
    // the last increment's audit row against the s2-composed ledger.
    val c2 = PublishState.composeLedger(spark,
      StateLayout.readLineage(s"$base/s2"))
    assert(stats(2).decontaminated == c2.count() &&
      stats(2).kept == c2.where(col("surv")).count() &&
      stats(2).sampled == c2.where(col("member")).count())
  }

  test("hadoop-copy carrier publishes bit-equal to posix (VERDICT r12 #1)") {
    // The same delta chain through the object-store-shaped carrier:
    // every file-level operation (carry/list/move/meta) goes through
    // org.apache.hadoop.fs.FileSystem and the carry is a physical
    // COPY. The published artifacts must be bit-equal to the posix
    // hard-link chain at every version — only the carry COST differs,
    // and the copy carrier's IO is a measured number, not a claim.
    val basePosix = TestSpark.tmpDir("delta_pub_carrier_px")
    val baseHdp = TestSpark.tmpDir("delta_pub_carrier_hd")
    val hc = PublishCarrier.hadoop(spark)
    val statsPx = runChain(basePosix, forceFull = false)
    val statsHd = runChain(baseHdp, forceFull = false, carrier = hc)
    assert(statsPx == statsHd,
      "carrier choice must not change any audit or carry stat")
    for (out <- Seq("out0", "out1", "out2")) {
      assert(curatedSet(s"$basePosix/$out") == curatedSet(s"$baseHdp/$out"),
        s"$out curated must be carrier-invariant")
      assert(packedSet(s"$basePosix/$out") == packedSet(s"$baseHdp/$out"),
        s"$out packed must be carrier-invariant")
      assert(manifestSet(s"$basePosix/$out") == manifestSet(s"$baseHdp/$out"),
        s"$out manifest must be carrier-invariant")
      assert(PublishState.isComplete(s"$baseHdp/$out", hc),
        s"$out must carry the completion marker under the hadoop carrier")
    }
    // The copy carrier really copied: carried bytes are counted (>0 —
    // inc1 carries shard 1, inc2 carries 0/1/2), and a carried file is
    // a DISTINCT inode from its out0 original (no hard links anywhere
    // on this path — the object-store constraint the carrier models).
    assert(hc.filesCarried > 0 && hc.bytesCarried > 0,
      s"copy carrier must count its carry IO " +
        s"(${hc.filesCarried} files / ${hc.bytesCarried} bytes)")
    val hd0 = PublishState.shardFiles(s"$baseHdp/out0/curated", 1)
    val hd2 = PublishState.shardFiles(s"$baseHdp/out2/curated", 1)
    assert(hd0.nonEmpty && hd2.nonEmpty &&
      hd0.map(ino).toSet.intersect(hd2.map(ino).toSet).isEmpty,
      "hadoop-carried shard files must be physical copies, not links")
  }

  test("crash mid-tail: readers refuse the partial publish; re-run and " +
      "next-week fallback both converge bit-equal (VERDICT r12 #2)") {
    val base = TestSpark.tmpDir("delta_pub_crash")
    val clean = TestSpark.tmpDir("delta_pub_crash_ref")
    runChain(clean, forceFull = false) // the never-crashed reference
    def docs(s: Seq[(Long, String)]) = s.toDF("doc_id", "text")
    def inc(n: Int, batch: Seq[(Long, String)]) =
      CurationRun.runIncremental(docs(batch), benchmark,
        s"$base/out$n", s"$base/s${n - 1}", s"$base/s$n", minQuality = 0.0,
        embeddings = Some(emb), semThreshold = 0.9, publishSpan = 4L,
        packBudget = 64L)
    CurationRun.runInit(docs(initDocs), benchmark,
      s"$base/out0", s"$base/s0", minQuality = 0.0,
      embeddings = Some(emb), semClusters = 2, semIters = 2,
      semThreshold = 0.9, semanticState = true, publishSpan = 4L,
      packBudget = 64L)
    inc(1, inc1Docs)
    // Kill the tail BETWEEN the carry phase and the manifest write —
    // out2 now holds carried links and possibly staged shard files,
    // indistinguishable from a real publish to a naive whole-dir read.
    CurationRun.publishTailProbe = {
      case "after-carry" => throw new RuntimeException("injected crash")
      case _ => ()
    }
    try intercept[RuntimeException] { inc(2, inc2Docs) }
    finally CurationRun.publishTailProbe = _ => ()
    // Readers REFUSE the partial dir: no completion marker landed.
    assert(!PublishState.isComplete(s"$base/out2"))
    val e = intercept[IllegalArgumentException] {
      PublishState.readPublished(spark, s"$base/out2", "curated")
    }
    assert(e.getMessage.contains(PublishState.CompleteMarker))
    // Re-running the SAME increment converges bit-equal to the
    // never-crashed chain (prepareDir clears the partial carry; the
    // state writes are overwrite-idempotent).
    val st2 = inc(2, inc2Docs)
    assert(PublishState.isComplete(s"$base/out2"))
    assert(curatedSet(s"$base/out2") == curatedSet(s"$clean/out2") &&
      packedSet(s"$base/out2") == packedSet(s"$clean/out2") &&
      manifestSet(s"$base/out2") == manifestSet(s"$clean/out2"),
      "the re-run after a crash must converge bit-equal")
    assert(st2.nShardsChanged == 1L && st2.nShardsCarried == 3L,
      s"the re-run still takes the delta path: $st2")
    // STALE-marker retraction (round-13 review finding #1): a
    // re-publish into a dir that already carries the marker must
    // retract it BEFORE the first mutation — a crash mid-re-publish
    // would otherwise leave a truncated dir that still PASSES
    // requireComplete and would be carried forward next week. Kill
    // the re-publish mid-tail and pin the dir refuses readers.
    CurationRun.publishTailProbe = {
      case "before-manifest" => throw new RuntimeException("injected crash 2")
      case _ => ()
    }
    try intercept[RuntimeException] { inc(2, inc2Docs) }
    finally CurationRun.publishTailProbe = _ => ()
    assert(!PublishState.isComplete(s"$base/out2"),
      "the stale marker must be retracted before the re-publish mutates " +
        "the dir — a mid-re-publish crash must leave a REFUSING dir")
    // And the subsequent clean re-run restores completeness bit-equal.
    inc(2, inc2Docs)
    assert(PublishState.isComplete(s"$base/out2") &&
      curatedSet(s"$base/out2") == curatedSet(s"$clean/out2"))
    // NEXT-WEEK self-heal: if the crash is discovered only a week
    // later (the previous publish has no marker), the next increment
    // must refuse to CARRY from it and fall back to one full
    // re-publish — converging bit-equal with no operator action.
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$base/out2/${PublishState.CompleteMarker}"))
    val more = Seq(17L -> ("seventeen lighthouse keepers compared worn " +
      "logbooks while the evening ferry crossed the quiet grey strait"))
    val st3 = inc(3, more)
    assert(st3.nShardsChanged == -1L && st3.nShardsCarried == -1L,
      s"an incomplete previous publish must force the full path: $st3")
    assert(PublishState.isComplete(s"$base/out3"))
    CurationRun.runIncremental(docs(more), benchmark,
      s"$clean/out3", s"$clean/s2", s"$clean/s3", minQuality = 0.0,
      embeddings = Some(emb), semThreshold = 0.9, publishSpan = 4L,
      packBudget = 64L)
    assert(curatedSet(s"$base/out3") == curatedSet(s"$clean/out3") &&
      manifestSet(s"$base/out3") == manifestSet(s"$clean/out3"),
      "the full-path self-heal must converge bit-equal to the clean chain")
  }

  test("a crash in the publish chain joins the tail's state branches: " +
      "no branch outlives the call, the ledger slice is whole or absent") {
    // The ledger slice, the fingerprint delta and the audit fold run on
    // driver threads beside the curated -> packed -> manifest chain; a
    // failure in the chain must join them before it reaches the
    // caller, so no writer is still landing files into stateOutDir.
    val base = TestSpark.tmpDir("delta_pub_branch_crash")
    val clean = TestSpark.tmpDir("delta_pub_branch_ref")
    runChain(clean, forceFull = false)
    def docs(s: Seq[(Long, String)]) = s.toDF("doc_id", "text")
    def inc(n: Int, batch: Seq[(Long, String)]) =
      CurationRun.runIncremental(docs(batch), benchmark,
        s"$base/out$n", s"$base/s${n - 1}", s"$base/s$n", minQuality = 0.0,
        embeddings = Some(emb), semThreshold = 0.9, publishSpan = 4L,
        packBudget = 64L)
    CurationRun.runInit(docs(initDocs), benchmark,
      s"$base/out0", s"$base/s0", minQuality = 0.0,
      embeddings = Some(emb), semClusters = 2, semIters = 2,
      semThreshold = 0.9, semanticState = true, publishSpan = 4L,
      packBudget = 64L)
    CurationRun.publishTailProbe = {
      case "after-carry" => throw new RuntimeException("injected crash")
      case _ => ()
    }
    try intercept[RuntimeException] { inc(1, inc1Docs) }
    finally CurationRun.publishTailProbe = _ => ()
    import scala.jdk.CollectionConverters._
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == "graft-state-branch" && t.isAlive)
    assert(alive.isEmpty, s"branch threads outlived the failed call: $alive")
    def ledger(stateDir: String) =
      StateLayout.readSlice(spark, s"$stateDir/publish_ledger_batch")
        .collect().toSet
    if (java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$base/s1/publish_ledger_batch")))
      assert(ledger(s"$base/s1") == ledger(s"$clean/s1"),
        "a ledger slice left by the failed call must be complete")
    assert(!PublishState.isComplete(s"$base/out1"))
    // The re-run converges bit-equal to the never-crashed chain.
    inc(1, inc1Docs)
    assert(PublishState.isComplete(s"$base/out1"))
    assert(curatedSet(s"$base/out1") == curatedSet(s"$clean/out1") &&
      packedSet(s"$base/out1") == packedSet(s"$clean/out1") &&
      manifestSet(s"$base/out1") == manifestSet(s"$clean/out1"),
      "the re-run after a crash must converge bit-equal")
    assert(ledger(s"$base/s1") == ledger(s"$clean/s1"))
  }

  test("non-monotonic batch trips the range-premise tripwire; publish correct") {
    // The delta carry's cost win rests on monotonic ingest ids (a
    // batch lands in its own new shards). A batch landing BELOW the
    // stored shard range must (a) be flagged — nShardsOverlap > 0,
    // the warning's record — and (b) still publish bit-equal to the
    // full path: membership events catch everything, the overlapped
    // shard simply re-packs (cost, not correctness).
    def docs(s: Seq[(Long, String)]) = s.toDF("doc_id", "text")
    val hi = Seq(
      40L -> initDocs(2)._2, 41L -> initDocs(3)._2,
      44L -> initDocs(4)._2, 45L -> initDocs(5)._2) // shards 10, 11
    val lo = Seq(3L -> ("three lantern moths circled the warm museum " +
      "lamp while rain kept the narrow courtyard empty")) // shard 0 < 10
    def run(base: String, forceFull: Boolean) = {
      CurationRun.runInit(docs(hi), benchmark, s"$base/o0", s"$base/s0",
        minQuality = 0.0, publishSpan = 4L, packBudget = 64L)
      if (forceFull)
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$base/s0/publish_meta.txt"))
      CurationRun.runIncremental(docs(lo), benchmark, s"$base/o1",
        s"$base/s0", s"$base/s1", minQuality = 0.0, publishSpan = 4L,
        packBudget = 64L)
    }
    val baseA = TestSpark.tmpDir("delta_pub_nonmono_a")
    val baseB = TestSpark.tmpDir("delta_pub_nonmono_b")
    val st = run(baseA, forceFull = false)
    run(baseB, forceFull = true)
    assert(st.nShardsOverlap == 1L,
      s"the low batch shard must trip the premise tripwire: $st")
    assert(st.nShardsChanged == 1L && st.nShardsCarried == 2L, s"$st")
    assert(curatedSet(s"$baseA/o1") == curatedSet(s"$baseB/o1") &&
      manifestSet(s"$baseA/o1") == manifestSet(s"$baseB/o1"),
      "the non-monotonic publish must still equal the full path")
  }
}
