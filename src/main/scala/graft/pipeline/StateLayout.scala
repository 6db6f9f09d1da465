package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Bucketed state-slice layout + key-pushdown scan pruning for the
  * weekly cadences (VERDICT r09 item 1).
  *
  * The compute tier's discipline is that per-increment WORK is
  * O(batch): history joins filter to batch keys, LSH candidates come
  * from the batch's band keys, labels merge through the contracted
  * graph. But the state READS feeding those joins were full scans —
  * `hash_batch` / `span_grams_batch` / `line_df_batch` /
  * `sem_cells_batch` / `ann_codes_batch` slices were re-read end to
  * end every week, IO that grows with the CORPUS, not the batch. At
  * 100 TB of state that is a weekly full-corpus read for joins whose
  * matching rows are batch-scale.
  *
  * This is the storage-side twin of the equi-join discipline: every
  * slice is written PARTITIONED by `bucket = pmod(hash(key), B)`
  * (directory layout, `bucket=N/` subdirs), sorted by key within each
  * file (row-group min/max stay tight for engines that push key
  * bounds), with the bucket count recorded in a `_graft_buckets`
  * sidecar (underscore-prefixed — Spark's file listing ignores it; the
  * local-file manifest stance `lineage.txt` already takes). At read
  * time the consumer derives the BATCH's bucket set (a bounded
  * `<= B`-int collect — the batch's keys hashed through the same
  * function) and prunes the state scan to matching `bucket=` dirs via
  * a static partition filter. Any state row whose key equals a batch
  * key hashes to a batch bucket, so pruned reads are EXACT for every
  * downstream equi-join / anti-join / Bloom-confirm (StateLayoutSpec
  * pins join-result equality vs the full scan; the cadence catalog
  * entries q142/q145/q137/q146 pin composed results bit-equal through
  * the DuckDB oracle).
  *
  * Read IO per increment becomes `hitBuckets x stateBytes / B` with
  * `hitBuckets ~ min(B, distinct probe keys)` under a uniform key
  * hash — i.e. a read FRACTION of ~min(1, keys/B). Stated honestly
  * (ScaleStress measures both regimes): a probe whose key count is
  * small against B (serving queries, trickle increments, drift
  * lookups) reads a sliver; a probe with keys >> B saturates every
  * bucket and the read degrades to the full scan the unpruned form
  * pays — exact in every regime, never MORE bytes, only
  * regime-dependent savings. `B` is
  * a per-slice write parameter (recorded per slice, so mixed lineages
  * compose); production sizes it so one bucket stays near a target
  * byte size as the corpus grows — a lineage REBASE rewrites the
  * consolidated slice under a larger B (pure IO, like the rest of the
  * rebase), which keeps per-increment reads proportional to the batch
  * between rebases. Slices written BEFORE this layout (no sidecar, no
  * `bucket=` dirs) read as LEGACY full scans and consolidate into the
  * bucketed layout at the next rebase — pre-upgrade lineages degrade,
  * never break.
  *
  * Every artifact this object lands also records its schema in a
  * `_graft_schema` sidecar (Spark's JSON schema form, beside
  * `_graft_buckets`), and every read here passes it to the reader:
  * building a parquet DataFrame without a schema runs one
  * schema-inference Spark job per read (a parallel footer merge), and
  * a cadence run reads dozens of artifacts whose schema it wrote
  * itself. Artifacts written without the sidecar read with inference.
  *
  * The bucket hash canonicalizes the key through a STRING cast:
  * Spark's murmur3 hashes int 5 and long 5L to different values, and
  * slice key types legitimately differ across artifacts (md5 strings,
  * 64-bit gram hashes, int cell ids) — the string form makes
  * write-side and probe-side buckets agree no matter which numeric
  * width a caller's key frame carries.
  */
object StateLayout {

  /** Default bucket count for test-SF state. Production sizing rule:
    * B ~ consolidated slice bytes / target bucket bytes (e.g. 128 MiB
    * per bucket), re-derived at rebase. Measured at sf0.1 (q146): the
    * dominant LOCAL cost of the layout is per-file write commits and
    * per-dir listing, both linear in B — keep the test default modest;
    * scale B with the data, not ahead of it. On Hadoop's stock local
    * filesystem most of that write cost was one forked `chmod` per file
    * and per dir (`.crc` sidecars included); sessions from
    * `Sessions.local` apply permissions in-process
    * ([[graft.sources.LocalFs]]). */
  val DefaultBuckets = 32

  private val MarkerFile = "_graft_buckets"
  private val SchemaFile = "_graft_schema"
  private[pipeline] val BucketCol = "bucket"

  /** The write/probe bucket of a key — identical expression on both
    * sides under TYPED canonicalization (see class doc): integral keys
    * hash through one `long` cast (an int probe meets a long-written
    * slice in the same bucket without paying a per-row string render
    * on the token-scale df slices — measured ~2x on the q146 span
    * slice write); everything else canonicalizes through `string`. */
  def bucketOf(key: org.apache.spark.sql.Column,
      keyType: org.apache.spark.sql.types.DataType,
      buckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    val canonical = keyType match {
      case ByteType | ShortType | IntegerType | LongType => key.cast("long")
      case _ => key.cast("string")
    }
    pmod(hash(canonical), lit(buckets))
  }

  /** Cast an id column to long for the disjoint-id artifacts/probes,
    * failing LOUDLY when the cast yields null (a null id, or — under a
    * host app's non-ANSI session — a non-numeric string id). A null
    * here would be silently fatal to the safety check it feeds: nulls
    * never equi-join, so a re-ingested doc with an uncastable id would
    * VALIDATE instead of being detected (ADVICE r12). Stays inside the
    * consuming job — no extra validation action. */
  def castIdStrict(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val casted = c.cast("long")
    when(casted.isNotNull, casted).otherwise(raise_error(concat(
      lit("disjoint-id contract: doc id casts to null (null or " +
        "non-numeric id): "),
      coalesce(c.cast("string"), lit("NULL")))))
  }

  /** The batch's distinct ids under [[castIdStrict]]: the plan of every
    * `doc_ids_batch` artifact and of the disjoint-id probe. One plan, so
    * one CacheManager entry: a caller that persists it for two
    * consumers persists it once and shares it. */
  def batchIds(docs: DataFrame, idCol: String): DataFrame =
    docs.select(castIdStrict(col(idCol)).as("doc_id")).distinct()

  /** Bucket count a slice was written with; None = legacy layout. */
  def bucketsOf(path: String): Option[Int] = {
    val p = java.nio.file.Paths.get(path, MarkerFile)
    if (java.nio.file.Files.exists(p))
      Some(java.nio.file.Files.readString(p).trim.toInt)
    else None
  }

  /** Lineage manifest shared by every state family (the local-FS
    * stand-in for a metastore manifest): the state dirs composing the
    * corpus, oldest first, self last. Originally private to
    * [[CurationRun]]; hoisted here when a second cadence family
    * ([[Bm25State]]) needed the same contract. */
  def readLineage(stateDir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(s"$stateDir/lineage.txt"))
      .asScala.toSeq.filter(_.nonEmpty)
  }

  def writeLineage(stateDir: String, dirs: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$stateDir/lineage.txt"),
      dirs.mkString("", "\n", "\n"))
  }

  /** Write one state slice bucketed by `hash(keyCol) % buckets`:
    * `bucket=N/` directory layout, each bucket wholly inside one task
    * (files <= B regardless of parallelism), rows sorted by key within
    * files. The shuffle by bucket has no fixed partition count, so AQE
    * coalesces whole hash partitions to the slice's size: a
    * batch-scale slice lands from one task, a corpus-scale one from as
    * many as the session's shuffle parallelism. An EMPTY slice falls
    * back to a plain single-file write — a zero-row partitionBy write
    * lands no files at all and the read-back would have no schema to
    * infer. */
  def writeBucketed(df: DataFrame, path: String, keyCol: String,
      buckets: Int = DefaultBuckets): Unit = {
    // The layout column is synthesized here and dropped on read; a
    // DATA column sharing its name would be silently clobbered by the
    // withColumn below and lost from the slice (live near-miss: the
    // LSH band-key artifact's key was first named `bucket`).
    require(!df.columns.contains(BucketCol),
      s"slice carries a data column named '$BucketCol' — that name is " +
        "reserved for the bucketed layout; rename the data column")
    df.withColumn(BucketCol,
        bucketOf(col(keyCol), df.schema(keyCol).dataType, buckets))
      .repartition(col(BucketCol))
      .sortWithinPartitions(col(BucketCol), col(keyCol))
      .write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(path)
    val wroteData = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      try s.anyMatch(p => p.getFileName.toString.startsWith(s"$BucketCol="))
      finally s.close()
    }
    if (wroteData) {
      recordSchema(path, df.schema)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, MarkerFile), s"$buckets\n")
    } else writeState(df, path, numFiles = 1)
  }

  /** Land one plain (unbucketed) state artifact as `numFiles` parquet
    * files plus its schema sidecar. */
  def writeState(df: DataFrame, path: String, numFiles: Int): Unit = {
    graft.sources.Sinks.overwriteParquet(df, path, numFiles)
    recordSchema(path, df.schema)
  }

  private def recordSchema(path: String, schema: StructType): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, SchemaFile), schema.json)

  /** The schema an artifact was landed with; None = written before
    * the sidecar existed. */
  def schemaOf(path: String): Option[StructType] = {
    val p = java.nio.file.Paths.get(path, SchemaFile)
    if (java.nio.file.Files.exists(p))
      Some(DataType.fromJson(java.nio.file.Files.readString(p))
        .asInstanceOf[StructType])
    else None
  }

  /** Read plain state artifact dirs (one multi-path read) under their
    * recorded schema — no inference job. Falls back to inference when
    * any dir lacks the sidecar or the recorded schemas differ. A
    * bucketed dir read this way keeps its `bucket` column. */
  def readState(spark: SparkSession, paths: String*): DataFrame = {
    val schemas = paths.map(schemaOf).distinct
    val reader = schemas match {
      case Seq(Some(s)) => spark.read.schema(s)
      case _ => spark.read
    }
    reader.parquet(paths: _*)
  }

  /** Read one slice dir regardless of layout (bucket column dropped). */
  def readSlice(spark: SparkSession, path: String): DataFrame = {
    val df = readState(spark, path)
    if (bucketsOf(path).isDefined) df.drop(BucketCol) else df
  }

  /** Union one artifact's slices along `dirs`, full scan, layout-
    * aware: bucketed and legacy roots cannot share one multi-path read
    * (their partition schemas conflict), so each group reads once and
    * the bucket column is dropped. */
  def readSlices(spark: SparkSession, dirs: Seq[String],
      name: String): DataFrame =
    readSlicePaths(spark, dirs.map(d => s"$d/$name"))

  /** [[readSlices]] over explicit slice paths (spec/tooling form).
    * Each bucketed root reads on its own (multi-root partition
    * discovery rejects sibling `bucket=` trees —
    * CONFLICTING_DIRECTORY_STRUCTURES); legacy roots share one read. */
  def readSlicePaths(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val (bucketed, legacy) = paths.partition(p => bucketsOf(p).isDefined)
    val parts =
      bucketed.map(p => readSlice(spark, p)) ++
        (if (legacy.nonEmpty) Seq(readState(spark, legacy: _*)) else Nil)
    parts.reduce(_ unionByName _)
  }

  /** [[readSlices]] PRUNED to the buckets `keys` hits: collect the
    * batch's distinct bucket ids (bounded by B — the one driver-side
    * value this layout ever materializes) per distinct write-side B in
    * the lineage, and read each group under a static `bucket IN (...)`
    * partition filter — non-matching `bucket=` dirs are never listed
    * into the scan. Legacy slices read in full (no layout to prune).
    * EXACT for key-equality consumers: a state row matching a batch
    * key is, by the shared hash, inside a hit bucket. */
  def readSlicesPruned(spark: SparkSession, dirs: Seq[String], name: String,
      keyCol: String, keys: DataFrame): DataFrame = {
    val paths = dirs.map(d => s"$d/$name")
    val (bucketed, legacy) = paths.partition(p => bucketsOf(p).isDefined)
    // One bucket-set collect per distinct write-side B (usually one);
    // each bucketed root reads on its own (multi-root partition
    // discovery rejects sibling `bucket=` trees).
    val hitByB = bucketed.map(p => bucketsOf(p).get).distinct.map { b =>
      b -> keys
        .select(bucketOf(col(keyCol), keys.schema(keyCol).dataType, b)
          .as("__b")).distinct()
        .collect().map(r => Integer.valueOf(r.getInt(0))).toSeq
    }.toMap
    val parts =
      bucketed.map { p =>
        readState(spark, p)
          .where(col(BucketCol).isin(hitByB(bucketsOf(p).get): _*))
          .drop(BucketCol)
      } ++
        (if (legacy.nonEmpty) Seq(readState(spark, legacy: _*)) else Nil)
    parts.reduce(_ unionByName _)
  }
}
