package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DataMix, TextAnalysis}

/** Delta-publish state for the weekly cadences (VERDICT r10 item 1):
  * the machinery that makes the weekly PUBLISH cost track the batch,
  * now that compute and state reads already do.
  *
  * The published corpus (curated + packed + manifest) is, by
  * construction, a pure per-shard function of the MEMBER-doc set:
  * shard = doc_id div publishSpan — RANGE sharding, so a
  * monotonic-id weekly batch lands in its OWN new shards and an old
  * shard changes only when a member actually leaves or re-surfaces
  * (modulo sharding would spray one doc into every shard and mark
  * the whole publish changed every week); a doc's curated row (text, lang,
  * quality) is frozen at ingest (landed decon text is never
  * rewritten); packing within a shard is an id-ordered prefix sum of
  * exactly the shard's members; the manifest row is an aggregate of
  * the shard's bins. So the weekly re-publish only NEEDS to touch
  * shards whose member set changed — everything else is the same
  * bytes under a new version.
  *
  * Two state artifacts make the diff computable without re-deriving
  * the corpus-scale kept set:
  *
  *  - `publish_ledger_batch/` — one row per landed decon doc
  *    (doc_id, quality_score, detected_lang, n_tokens, sampled, surv,
  *    semok, member, shard, v), BUCKETED by doc_id: the weekly reader
  *    is [[composeLedgerPruned]] — the flag recompute's standing-value
  *    lookup for batch-incident docs — so per-increment ledger IO is
  *    the touched docs' buckets, not the corpus (the full compose
  *    survives only at rebase and in the self-heal fallback).
  *    `sampled` is the
  *    doc's deterministic md5 draw ([[DataMix.sampleKeepExpr]] — a
  *    pure per-(id, lang) function, so it never changes for an old
  *    doc); `surv` is dedup-survivor status; `semok` the semantic
  *    disposition (true when the doc carries no semantic label);
  *    `member` = surv && semok && sampled — exactly "row appears in
  *    curated". Slices land per increment with only the batch's rows
  *    plus CORRECTED rows for old docs whose flags changed; readers
  *    compose latest-wins on `v` (the lineage position). Flags can
  *    change only inside dedup/semantic clusters touched by the batch
  *    — every new LSH / semantic pair is batch-incident — so the
  *    correction set is batch-scale (see
  *    [[CurationRun.runIncremental]]'s delta branch for the flag
  *    recompute that mirrors the full path's survivor rules).
  *  - `publish_shards/` + `publish_shards_delta/` — per-shard
  *    membership fingerprints (shard, n_member, fp) where fp is the
  *    exact decimal sum of xxhash64(doc_id, n_tokens) over members.
  *    The FULL table lands only where the run is corpus-scale anyway
  *    (init, rebase, a fallback full publish); each weekly increment
  *    lands a batch-scale DELTA slice (shard, dn, dfp) from the
  *    correction rows alone (counts and decimal hash sums compose
  *    under flag flips: enter = +hash/+1, leave = −hash/−1), and
  *    readers merge the newest base with the later slices
  *    ([[composeFingerprints]] via [[mergeFingerprints]]) — pinned
  *    equal to the full recompute at every version
  *    (DeltaPublishSpec). r12 rewrote the composed table weekly (the
  *    last weekly ∝-corpus WRITE — VERDICT r12 item 4); the slice
  *    form makes the weekly fingerprint cost ∝ touched shards. The
  *    CHANGED shard set is NOT a fingerprint diff: it is the exact
  *    set of shards with ≥1 membership EVENT, derived from the same
  *    correction rows — so the delta/full equality holds exactly,
  *    with no 64-bit hash-sum collision caveat (a canceling two-flip
  *    swap still flags its shard). Fingerprints remain the publish's
  *    durable content manifest: the rebase carry and the self-heal
  *    comparison artifact.
  *  - `publish_totals.txt` — the composed corpus audit totals
  *    (n_docs, n_kept, n_member, n_semfinal), longs that compose
  *    additively under the same correction-row deltas, so the weekly
  *    audit row needs no corpus-frame counts.
  *  - `publish_meta.txt` — the publish config fingerprint (a config
  *    change invalidates the per-doc `sampled` flags and the shard
  *    function, so the increment falls back to a full re-publish and
  *    rebuilds this state) and the previous publish's outDir (the
  *    hard-link source).
  *
  * With the ledger bucketed and fingerprints/totals composed from
  * correction rows, an increment's publish METADATA work is
  * batch-scale too: no weekly job reads corpus-rows anywhere in the
  * tail (the one remaining ∝-corpus artifact is the fingerprint
  * table itself, ∝ corpus/span rows — three orders below the ledger).
  * The TEXT IO of a weekly publish is batch + changed shards;
  * DeltaPublishSpec pins delta == full re-publish bit-equal (row sets
  * AND audit stats) across increments, and ScaleStress measures the
  * flat-vs-growing IO contrast.
  */
object PublishState {

  /** Publish parameters that determine membership and sharding. */
  final case class Config(fractions: Map[String, Double],
      defaultFraction: Double, packBudget: Long, publishSpan: Long) {
    def fingerprint: String =
      fractions.toSeq.sortBy(_._1).map { case (k, f) => s"$k=$f" }
        .mkString(",") +
        s";default=$defaultFraction;budget=$packBudget;span=$publishSpan"
    /** The shard of a doc id — shared by every publish consumer.
      * LONG, not int: an int shard would silently wrap (non-ANSI
      * cast) for doc ids above ~2^31·span while the oracle's CAST
      * errors — a latent divergence and shard-id aliasing at extreme
      * ids (ADVICE r11). */
    def shardOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(id / lit(publishSpan)).cast("long")
  }

  private def metaPath(stateDir: String) = s"$stateDir/publish_meta.txt"

  def active(stateDir: String,
      carrier: PublishCarrier = PublishCarrier.Posix): Boolean =
    carrier.exists(metaPath(stateDir))

  /** (config fingerprint, previous publish outDir). */
  def readMeta(stateDir: String,
      carrier: PublishCarrier = PublishCarrier.Posix): (String, String) = {
    val lines = carrier.readText(metaPath(stateDir)).split("\n", -1)
    (lines(0), lines(1))
  }

  def writeMeta(stateDir: String, cfg: Config, outDir: String,
      carrier: PublishCarrier = PublishCarrier.Posix): Unit =
    writeMetaRaw(stateDir, cfg.fingerprint, outDir, carrier)

  /** Raw form for the rebase's carry-forward (the config fingerprint
    * copies verbatim; a rebase does not publish). */
  def writeMetaRaw(stateDir: String, fingerprint: String, outDir: String,
      carrier: PublishCarrier = PublishCarrier.Posix): Unit = {
    carrier.createDirs(stateDir)
    carrier.writeText(metaPath(stateDir), s"$fingerprint\n$outDir\n")
  }

  /** Per-doc publish metadata for one decon frame (doc_id, text,
    * quality_score): language, token count, the deterministic sample
    * draw, and the shard — every column a pure function of the landed
    * row, computed ONCE at ingest and frozen in the ledger. */
  def baseRows(decon: DataFrame, cfg: Config): DataFrame = {
    import graft.functions.TextFunctions.tokens
    decon
      .join(TextAnalysis.languageId(decon, "doc_id", "text")
        .select(col("doc_id"), col("detected_lang")), "doc_id")
      .select(col("doc_id"), col("quality_score"), col("detected_lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        DataMix.sampleKeepExpr(col("doc_id"), col("detected_lang"),
          cfg.fractions, cfg.defaultFraction).as("sampled"),
        cfg.shardOf(col("doc_id")).as("shard"))
  }

  private val LedgerValueCols = Seq("quality_score", "detected_lang",
    "n_tokens", "sampled", "surv", "semok", "member", "shard")

  /** Land one increment's ledger rows (batch + corrections) as a
    * slice at lineage position `v`, BUCKETED by doc_id (B = 8, the
    * decon discipline): the weekly reader is the doc-pruned standing
    * lookup ([[composeLedgerPruned]]), which this layout makes
    * O(touched buckets). (r11 stored the ledger PLAIN because its
    * only reader then was the full compose; making fingerprints and
    * totals compose from correction rows moved the weekly reader to
    * the pruned path, so the bucketed write's ~0.7 s sort/commit
    * floor now buys the corpus-scan removal.) */
  def writeLedgerSlice(rows: DataFrame, stateOutDir: String, v: Long): Unit =
    StateLayout.writeBucketed(
      rows.select((col("doc_id") +: LedgerValueCols.map(col) :+
        lit(v).as("v")): _*),
      s"$stateOutDir/publish_ledger_batch", "doc_id", buckets = 8)

  /** Latest-wins composition of the ledger slices along a lineage:
    * one row per doc, the row from the slice with the highest `v`
    * (struct max keyed on v — corrections override, batch rows are
    * new ids). Narrow corpus-rows shuffle, no text. Lineage dirs
    * written before the publish state existed carry no slice and are
    * skipped — exact, because the first slice ever written (init or
    * the fallback rebuild) covers every composed doc. */
  def composeLedger(spark: SparkSession, lineage: Seq[String]): DataFrame =
    latestWins(StateLayout.readSlices(spark, ledgerDirs(lineage),
      "publish_ledger_batch"))

  /** The weekly form of the compose: latest-wins standing rows read
    * PRUNED to `keys`' doc buckets — batch-scale IO, the reason the
    * ledger lands bucketed. EXACT for every doc in `keys` (all of a
    * doc's slice rows share its bucket); rows for same-bucket
    * neighbor docs ride along and are inert under the callers'
    * doc_id equi-joins. Legacy (plain) slices read in full — the
    * pre-bucketing upgrade path — which only widens the superset. */
  def composeLedgerPruned(spark: SparkSession, lineage: Seq[String],
      keys: DataFrame): DataFrame =
    latestWins(StateLayout.readSlicesPruned(spark, ledgerDirs(lineage),
      "publish_ledger_batch", "doc_id", keys))

  private def ledgerDirs(lineage: Seq[String]): Seq[String] =
    lineage.filter(d => java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$d/publish_ledger_batch")))

  private def latestWins(slices: DataFrame): DataFrame =
    slices
      .groupBy(col("doc_id"))
      .agg(max(struct((col("v") +: LedgerValueCols.map(col)): _*))
        .as("__r"))
      .select(col("doc_id") +: LedgerValueCols.map(c => col(s"__r.$c")): _*)

  /** Per-shard membership fingerprints of a composed ledger — the
    * from-scratch form (init, rebase self-check, DeltaPublishSpec's
    * equality pin); the weekly path maintains the same table via
    * [[mergeFingerprints]] instead. */
  def fingerprintsOf(ledger: DataFrame): DataFrame =
    ledger.where(col("member"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_member"),
        sum(xxhash64(col("doc_id"), col("n_tokens")).cast("decimal(38,0)"))
          .as("fp"))

  /** Apply per-shard correction deltas (dn = Σ member flips, dfp =
    * Σ ±hash) to the stored fingerprints: counts and decimal sums
    * compose under flag flips, so this equals [[fingerprintsOf]] of
    * the newly composed ledger — with zero corpus-rows work. A shard
    * losing its last member drops its row (as the recompute would
    * never emit it), keeping "gains its first member" detectable
    * next week. */
  def mergeFingerprints(stored: DataFrame, deltas: DataFrame): DataFrame =
    stored
      .join(deltas.select(col("shard"), col("dn"), col("dfp")),
        Seq("shard"), "full_outer")
      .select(col("shard"),
        (coalesce(col("n_member"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_member"),
        (coalesce(col("fp"), lit(0).cast("decimal(38,0)")) +
          coalesce(col("dfp"), lit(0).cast("decimal(38,0)"))).as("fp"))
      .where(col("n_member") > 0)

  /** Composed corpus audit totals — the publish state's third
    * artifact: every weekly audit count the publish tail reports is a
    * long that composes additively under correction-row deltas, so
    * the delta tail never counts a corpus frame. */
  final case class Totals(nDocs: Long, nKept: Long, nMember: Long,
    nSemfinal: Long)

  private def totalsPath(stateDir: String) = s"$stateDir/publish_totals.txt"

  def totalsActive(stateDir: String,
      carrier: PublishCarrier = PublishCarrier.Posix): Boolean =
    carrier.exists(totalsPath(stateDir))

  def readTotals(stateDir: String,
      carrier: PublishCarrier = PublishCarrier.Posix): Totals = {
    val l = carrier.readText(totalsPath(stateDir)).trim.split("\\s+")
    Totals(l(0).toLong, l(1).toLong, l(2).toLong, l(3).toLong)
  }

  def writeTotals(stateDir: String, t: Totals,
      carrier: PublishCarrier = PublishCarrier.Posix): Unit = {
    carrier.createDirs(stateDir)
    carrier.writeText(totalsPath(stateDir),
      s"${t.nDocs} ${t.nKept} ${t.nMember} ${t.nSemfinal}\n")
  }

  def writeFingerprints(spark: SparkSession, fps: DataFrame,
      stateOutDir: String): Unit =
    StateLayout.writeState(fps, s"$stateOutDir/publish_shards", numFiles = 1)

  /** Land one increment's per-shard fingerprint DELTAS (shard, dn,
    * dfp — batch-scale: only shards with ≥1 membership event carry a
    * row) as a slice beside the ledger slice (VERDICT r12 item 4).
    * r12 rewrote the composed fingerprint TABLE weekly (∝ corpus/span
    * rows — the last weekly ∝-corpus write); the slice form makes the
    * weekly fingerprint cost ∝ touched shards, with the full table
    * written only at init/rebase/full-publish and readers composing
    * base + deltas ([[composeFingerprints]]). */
  def writeFingerprintDelta(deltas: DataFrame, stateOutDir: String): Unit =
    StateLayout.writeState(
      deltas.select(col("shard"), col("dn"), col("dfp")),
      s"$stateOutDir/publish_shards_delta", numFiles = 1)

  /** Composed per-shard fingerprints along a lineage: the NEWEST full
    * table (init / rebase / a fallback full publish) merged with
    * every LATER dir's delta slice — exactly [[mergeFingerprints]] of
    * the base and the summed deltas, so this equals [[fingerprintsOf]]
    * of the composed ledger at every version (DeltaPublishSpec pins
    * it). Pre-slice lineages (every dir carries the full table — the
    * ≤ r12 format) compose to their newest table with zero deltas:
    * the upgrade path is free. */
  def composeFingerprints(spark: SparkSession,
      lineage: Seq[String]): DataFrame = {
    val baseIdx = lineage.lastIndexWhere(d => java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$d/publish_shards")))
    require(baseIdx >= 0,
      s"no publish_shards base table anywhere in lineage $lineage")
    val base = StateLayout.readState(spark, s"${lineage(baseIdx)}/publish_shards")
    val deltaDirs = lineage.drop(baseIdx + 1)
      .filter(d => java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$d/publish_shards_delta")))
    if (deltaDirs.isEmpty) base
    else mergeFingerprints(base,
      StateLayout.readState(spark,
          deltaDirs.map(d => s"$d/publish_shards_delta"): _*)
        .groupBy(col("shard"))
        .agg(sum(col("dn")).as("dn"), sum(col("dfp")).as("dfp")))
  }

  // -----------------------------------------------------------------
  // Sharded publish layout: every publish artifact lands as FLAT
  // per-shard parquet files named `shard-<n>-<part>.parquet`, so an
  // increment can carry an unchanged shard's files forward as pure IO
  // and re-derive only the changed ones. ALL file-level operations go
  // through a [[PublishCarrier]] (VERDICT r12 item 1): the POSIX
  // carrier carries by hard link (zero bytes) and the Hadoop carrier
  // by FS copy — same publish bytes either way, only the carry COST
  // differs, and the copy carrier's IO is counted. Flat files, not
  // `shard=` dirs: a hive-partitioned layout would add a `shard`
  // column to every read-back, changing the published schema.
  // -----------------------------------------------------------------

  /** Empty-and-recreate a publish artifact dir (the delta branch
    * prepares the target before carrying shards into it). */
  private[pipeline] def prepareDir(path: String,
      carrier: PublishCarrier = PublishCarrier.Posix): Unit =
    carrier.clearDir(path)

  // -----------------------------------------------------------------
  // Publish completion marker (VERDICT r12 item 2). The publish tail
  // prepares outDir by clearing, then carries, then stages writes,
  // then lands the manifest and next week's state — a crash mid-tail
  // leaves a partially-carried dir that LOOKS like a publish.
  // Versioned outDirs make re-RUNS safe (the next increment sees the
  // incomplete prev publish and falls back to a full re-publish,
  // converging bit-equal — DeltaPublishSpec pins it), but nothing
  // stopped a CONSUMER from reading a half-publish. The marker is
  // written LAST (after curated/packed/manifest AND the state
  // writes); readers gate on it. Underscore-prefixed so Spark's file
  // listing ignores it inside the dir.
  // -----------------------------------------------------------------

  /** Marker file name, landed at `outDir/_GRAFT_PUBLISH_COMPLETE`. */
  val CompleteMarker = "_GRAFT_PUBLISH_COMPLETE"

  /** Land the completion marker — the LAST write of a publish. */
  def markComplete(outDir: String,
      carrier: PublishCarrier = PublishCarrier.Posix): Unit =
    carrier.writeText(s"$outDir/$CompleteMarker", s"${carrier.name}\n")

  /** Retract the marker — the FIRST write of any publish into an
    * outDir that may already hold one (a stream-driver crash replay,
    * an operator re-run into the same versioned dir). Without this, a
    * re-publish that clears and re-carries the dir would leave the
    * STALE marker visible mid-rewrite — and a crash mid-replay would
    * leave a truncated dir that still PASSES [[requireComplete]],
    * propagating into next week's carry (round-13 review finding #1:
    * the marker must be false the moment the dir stops being the
    * completed publish it described). */
  def clearComplete(outDir: String,
      carrier: PublishCarrier = PublishCarrier.Posix): Unit =
    carrier.deleteFile(s"$outDir/$CompleteMarker")

  def isComplete(outDir: String,
      carrier: PublishCarrier = PublishCarrier.Posix): Boolean =
    carrier.exists(s"$outDir/$CompleteMarker")

  /** Reader-side atomicity gate: every publish consumer calls this
    * before reading `outDir`'s artifacts, so a crash-truncated
    * publish is REFUSED instead of silently read as a corpus. */
  def requireComplete(outDir: String,
      carrier: PublishCarrier = PublishCarrier.Posix): Unit =
    require(isComplete(outDir, carrier),
      s"publish at $outDir has no $CompleteMarker marker — the " +
        "publishing run crashed mid-tail (or is still running); " +
        "refusing to read a partial publish. Re-run the increment: " +
        "it detects the incomplete previous publish and falls back " +
        "to a full re-publish, converging bit-equal.")

  /** Loader entry for one published artifact (`curated` / `packed` /
    * `manifest`): the completeness gate, then the whole-dir read.
    * Every out-of-run consumer goes through here. */
  def readPublished(spark: SparkSession, outDir: String, artifact: String,
      carrier: PublishCarrier = PublishCarrier.Posix): DataFrame = {
    requireComplete(outDir, carrier)
    spark.read.parquet(s"$outDir/$artifact")
  }

  /** Write `df` (carrying an int `shard` column) as per-shard flat
    * files under `path`. `keepShardInContent` controls whether the
    * shard column stays in the rows (packed bins carry it; curated
    * does not). Stages through a partitionBy write — each shard's
    * rows land wholly inside its own files — then moves the files to
    * the flat `shard-<n>-` names. With `clear = false` the target
    * dir's existing files (an increment's carried links) are kept.
    * A write that lands NO rows falls back to one plain empty file so
    * read-back keeps a schema (the [[StateLayout.writeBucketed]]
    * stance), unless carried files already give the dir one. */
  def writeSharded(df: DataFrame, path: String,
      keepShardInContent: Boolean, clear: Boolean = true,
      carrier: PublishCarrier = PublishCarrier.Posix): Unit = {
    val staged = s"${path}__staged"
    val d =
      if (keepShardInContent) df.withColumn("__pub_shard", col("shard"))
      else df.withColumnRenamed("shard", "__pub_shard")
    d.repartition(col("__pub_shard"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("__pub_shard").parquet(staged)
    if (clear) carrier.clearDir(path) else carrier.createDirs(path)
    moveShardFiles(staged, path, carrier)
    val hasData = carrier.listFileNames(path).exists(_.endsWith(".parquet"))
    if (!hasData)
      graft.sources.Sinks.overwriteParquet(
        if (keepShardInContent) df else df.drop("shard"), path, numFiles = 1)
  }

  /** Move a staged partitionBy write's files into `path` under flat
    * `shard-<n>-` names, then drop the staging dir. Exposed at
    * pipeline scope so the delta branch can stage a PARTIAL write
    * (changed shards only) into a directory that already holds the
    * carried files. */
  private[pipeline] def moveShardFiles(staged: String, path: String,
      carrier: PublishCarrier = PublishCarrier.Posix): Unit = {
    carrier.listDirNames(staged)
      .filter(_.startsWith("__pub_shard=")).foreach { dirName =>
        val n = dirName.stripPrefix("__pub_shard=")
        carrier.listFileNames(s"$staged/$dirName")
          .filter(_.endsWith(".parquet")).foreach { f =>
            carrier.moveFile(s"$staged/$dirName/$f", s"$path/shard-$n-$f")
          }
      }
    carrier.deleteDir(staged)
  }

  private val NamedShard = """shard-(-?\d+)-.*""".r

  /** The distinct shard ids present in one artifact dir's flat files
    * (the carried/changed accounting's denominator). */
  def shardIdsOf(path: String,
      carrier: PublishCarrier = PublishCarrier.Posix): Set[Long] =
    carrier.listFileNames(path).flatMap {
      case NamedShard(n) => Some(n.toLong)
      case _ => None
    }.toSet

  /** The flat per-shard files of one artifact dir (full paths). */
  def shardFiles(path: String, shard: Long,
      carrier: PublishCarrier = PublishCarrier.Posix): Seq[String] =
    carrier.listFileNames(path)
      .filter(_.startsWith(s"shard-$shard-")).map(f => s"$path/$f")

  /** The flat per-shard files of MANY shards in one artifact dir —
    * ONE listing, not one per shard: under an object-store carrier a
    * per-shard listing would cost O(|shards|) LIST round-trips on
    * the weekly hot path (round-13 review finding #8). */
  def shardFilesFor(path: String, shards: Set[Long],
      carrier: PublishCarrier = PublishCarrier.Posix): Seq[String] =
    carrier.listFileNames(path).flatMap {
      case f @ NamedShard(n) if shards.contains(n.toLong) =>
        Some(s"$path/$f")
      case _ => None
    }

  /** Carry every per-shard file of the previous publish EXCEPT the
    * changed shards' — the delta carry under open-ended range shard
    * ids (the carry set is "whatever the previous publish had, minus
    * the diff", enumerated from its files, not a 0-until-N range). */
  def carryShardsExcept(prevPath: String, path: String,
      changed: Set[Long],
      carrier: PublishCarrier = PublishCarrier.Posix): Unit = {
    carrier.createDirs(path)
    carrier.listFileNames(prevPath).foreach {
      case f @ NamedShard(n) if !changed.contains(n.toLong) =>
        carrier.carryFile(s"$prevPath/$f", s"$path/$f")
      case _ => ()
    }
  }
}
