package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.StateLayout

/** [[StateLayout]] — the bucketed state-slice layout + key-pushdown
  * scan pruning behind the weekly cadences' state reads (VERDICT r09
  * item 1). The contract under test: (1) the bucketed round trip is
  * lossless; (2) a pruned read is EXACT for key-equality consumers —
  * joining the pruned read against the batch keys equals joining the
  * full scan — while actually pruning `bucket=` partitions out of the
  * scan; (3) legacy (pre-layout) slices compose and degrade to full
  * scans; (4) an empty slice still round-trips a schema; (5) the
  * bucket hash is key-WIDTH-insensitive (int probe vs long write),
  * the exactness precondition; (6) reads take the recorded schema
  * sidecar instead of inferring one, and degrade to inference without
  * it.
  */
class StateLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def slice(n: Long, offset: Long) =
    spark.range(n).select(
      (col("id") * 7919L + offset).as("h"),
      (col("id") % 5 + 1).as("n_docs"))

  test("bucketed write round-trips losslessly and records its bucket count") {
    val dir = TestSpark.tmpDir("slayout_rt")
    val df = slice(500, 0)
    StateLayout.writeBucketed(df, s"$dir/art", "h")
    assert(StateLayout.bucketsOf(s"$dir/art") === Some(StateLayout.DefaultBuckets))
    // Directory layout: bucket=N subdirs on disk.
    val subdirs = new java.io.File(s"$dir/art").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(subdirs > 1, "slice must land as bucket= partition dirs")
    val back = StateLayout.readSlices(spark, Seq(dir), "art")
    assert(back.columns.toSeq === Seq("h", "n_docs"),
      "the bucket column is layout, not data — dropped on read")
    assert(back.as[(Long, Long)].collect().toSet ===
      df.as[(Long, Long)].collect().toSet)
  }

  test("pruned read: exact for key joins, and the scan is partition-pruned") {
    val dir = TestSpark.tmpDir("slayout_prune")
    StateLayout.writeBucketed(slice(2000, 0), s"$dir/d1/art", "h")
    StateLayout.writeBucketed(slice(2000, 1), s"$dir/d2/art", "h")
    val dirs = Seq(s"$dir/d1", s"$dir/d2")
    // Batch keys: a handful present in d1, one absent everywhere.
    val keys = Seq(0L * 7919L, 13L * 7919L, 777L * 7919L, 999999999L)
      .toDF("h")
    val pruned = StateLayout.readSlicesPruned(spark, dirs, "art", "h", keys)
    val full = StateLayout.readSlices(spark, dirs, "art")
    def joined(state: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      state.join(keys, Seq("h")).as[(Long, Long)].collect().toSet
    assert(joined(pruned) === joined(full),
      "pruning must not change any key-equality consumer's result")
    assert(joined(pruned).map(_._1) === Set(0L, 13L * 7919L, 777L * 7919L),
      "the matching state rows all survive")
    // The pruned frame is a strict subset: non-hit buckets never load.
    assert(pruned.count() < full.count(),
      "non-matching buckets must be pruned from the scan")
    // And the pruning is PARTITION pruning — a static filter on the
    // bucket directory column, visible in the scan.
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket#"),
      s"bucket IN (...) must prune partitions, not filter rows:\n$plan")
  }

  test("legacy slices read in full beside bucketed ones; pruning still exact") {
    val dir = TestSpark.tmpDir("slayout_mixed")
    // d1: PRE-LAYOUT slice (plain parquet, no marker, no bucket dirs).
    slice(300, 0).repartition(1).write.parquet(s"$dir/d1/art")
    StateLayout.writeBucketed(slice(300, 1), s"$dir/d2/art", "h")
    assert(StateLayout.bucketsOf(s"$dir/d1/art") === None)
    val dirs = Seq(s"$dir/d1", s"$dir/d2")
    val keys = Seq(7919L, 7920L).toDF("h") // one key per slice
    val pruned = StateLayout.readSlicesPruned(spark, dirs, "art", "h", keys)
    val full = StateLayout.readSlices(spark, dirs, "art")
    assert(full.count() === 600)
    // Legacy rows are ALL present (no layout to prune them by); the
    // bucketed slice prunes; the join result is exact either way.
    assert(pruned.where(col("h") % 7919L === 0).count() === 300,
      "every legacy row must survive the pruned read")
    assert(
      pruned.join(keys, Seq("h")).as[(Long, Long)].collect().toSet ===
        full.join(keys, Seq("h")).as[(Long, Long)].collect().toSet)
  }

  test("an empty slice degrades to a schema-carrying legacy write") {
    val dir = TestSpark.tmpDir("slayout_empty")
    StateLayout.writeBucketed(slice(0, 0), s"$dir/art", "h")
    assert(StateLayout.bucketsOf(s"$dir/art") === None,
      "no marker: the empty slice is a plain single-file write")
    val back = StateLayout.readSlices(spark, Seq(dir), "art")
    assert(back.columns.toSeq === Seq("h", "n_docs") && back.count() === 0,
      "schema must survive the empty round trip")
  }

  test("a lineage mixing bucket counts prunes each slice under ITS own B") {
    // The rebase-rebucket policy creates exactly this shape: old
    // weekly slices at the write-time default, a consolidated slice
    // rewritten under a larger B — one lineage, two layouts. The
    // pruned read must derive a bucket set PER distinct B (a key hits
    // different bucket ids under different moduli).
    val dir = TestSpark.tmpDir("slayout_mixedb")
    StateLayout.writeBucketed(slice(800, 0), s"$dir/d1/art", "h", buckets = 16)
    StateLayout.writeBucketed(slice(800, 1), s"$dir/d2/art", "h", buckets = 64)
    assert(StateLayout.bucketsOf(s"$dir/d1/art") === Some(16))
    assert(StateLayout.bucketsOf(s"$dir/d2/art") === Some(64))
    val dirs = Seq(s"$dir/d1", s"$dir/d2")
    val keys = Seq(7919L, 7920L, 555L * 7919L, 555L * 7919L + 1L).toDF("h")
    val pruned = StateLayout.readSlicesPruned(spark, dirs, "art", "h", keys)
    val full = StateLayout.readSlices(spark, dirs, "art")
    assert(
      pruned.join(keys, Seq("h")).as[(Long, Long)].collect().toSet ===
        full.join(keys, Seq("h")).as[(Long, Long)].collect().toSet,
      "per-B bucket sets must keep the pruned join exact across layouts")
    assert(pruned.count() < full.count())
  }

  test("bucket hash is key-width-insensitive: int probes hit long-written buckets") {
    val dir = TestSpark.tmpDir("slayout_width")
    // Written with LONG cell ids (the semanticCells shape)...
    val cells = spark.range(200).select(
      col("id").as("vec_id"), (col("id") % 7).as("cell"))
    StateLayout.writeBucketed(cells, s"$dir/art", "cell")
    // ...probed with INT cell ids (the probeFrame/posexplode shape).
    val probes = Seq(3, 5).toDF("cell")
    val pruned = StateLayout.readSlicesPruned(spark, Seq(dir), "art",
      "cell", probes)
    assert(
      pruned.join(probes, Seq("cell")).count() ===
        cells.where(col("cell").isin(3, 5)).count(),
      "a width-sensitive bucket hash would silently drop matching rows")
  }

  /** A frame whose schema inference could get wrong: nested, decimal,
    * and NOT NULL columns. */
  private def typed(n: Long) =
    spark.range(n).select(col("id").as("doc_id"),
      array(col("id"), col("id") + 1).as("ids"),
      struct(col("id").cast("string").as("s"), lit(1.5).as("d")).as("st"),
      col("id").cast("decimal(38,0)").as("fp"))

  private def stripNulls(t: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    t match {
      case StructType(fs) => StructType(fs.map(f =>
        StructField(f.name, stripNulls(f.dataType))))
      case ArrayType(e, _) => ArrayType(stripNulls(e))
      case MapType(k, v, _) => MapType(stripNulls(k), stripNulls(v))
      case other => other
    }
  }

  test("state reads build their DataFrame without a Spark job") {
    val dir = TestSpark.tmpDir("slayout_nojobs")
    StateLayout.writeBucketed(slice(500, 0), s"$dir/d1/art", "h")
    StateLayout.writeBucketed(slice(0, 0), s"$dir/d2/art", "h")
    StateLayout.writeState(typed(20), s"$dir/plain", numFiles = 2)
    val jobs = TestSpark.jobsOf {
      StateLayout.readSlice(spark, s"$dir/d1/art")
      StateLayout.readSlices(spark, Seq(s"$dir/d1", s"$dir/d2"), "art")
      StateLayout.readState(spark, s"$dir/plain")
    }
    assert(jobs === 0,
      "a state read must take the recorded schema, not infer one")
  }

  test("a slice without its schema sidecar reads the same rows by inference") {
    val dir = TestSpark.tmpDir("slayout_nosidecar")
    StateLayout.writeBucketed(slice(500, 0), s"$dir/art", "h")
    val before = StateLayout.readSlice(spark, s"$dir/art")
      .as[(Long, Long)].collect().toSet
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/art/_graft_schema"))
    assert(StateLayout.schemaOf(s"$dir/art") === None)
    val after = StateLayout.readSlice(spark, s"$dir/art")
    assert(after.columns.toSeq === Seq("h", "n_docs"))
    assert(after.as[(Long, Long)].collect().toSet === before)
  }

  test("the recorded schema equals the written frame's, up to nullability") {
    val dir = TestSpark.tmpDir("slayout_schema")
    val df = typed(30)
    StateLayout.writeState(df, s"$dir/plain", numFiles = 1)
    StateLayout.writeBucketed(df, s"$dir/bucketed", "doc_id")
    for (back <- Seq(StateLayout.readState(spark, s"$dir/plain"),
        StateLayout.readSlice(spark, s"$dir/bucketed"))) {
      assert(stripNulls(back.schema) === stripNulls(df.schema))
      assert(back.collect().toSet === df.collect().toSet)
    }
  }

  test("a bucketed write lands one sorted file per bucket, from one task " +
      "at batch scale") {
    import org.apache.spark.sql.types.LongType
    val dir = TestSpark.tmpDir("slayout_files")
    // Unsorted keys spread over several input partitions.
    val df = spark.range(0, 3000, 1, 6)
      .select(xxhash64(col("id")).as("h"), (col("id") % 5).as("n_docs"))
    val tasks = TestSpark.resultTasksOf(
      StateLayout.writeBucketed(df, s"$dir/art", "h"))
    assert(tasks.lastOption === Some(1),
      s"a batch-scale slice's write stage must run one task: $tasks")
    // One read; each file's rows arrive together and in file order.
    val rows = spark.read.parquet(s"$dir/art")
      .select(input_file_name().as("file"), col("bucket"), col("h"),
        StateLayout.bucketOf(col("h"), LongType, StateLayout.DefaultBuckets)
          .as("want"))
      .as[(String, Int, Long, Int)].collect().toSeq
    assert(rows.size === 3000)
    val byFile = rows.groupBy(_._1)
    assert(byFile.values.map(_.head._2).toSeq.sorted ===
      (0 until StateLayout.DefaultBuckets),
      "every bucket=N dir must hold exactly one file")
    byFile.foreach { case (file, rs) =>
      assert(rs.forall(r => r._2 == r._4),
        s"$file holds rows of another bucket")
      val keys = rs.map(_._3)
      assert(keys === keys.sorted, s"$file is not sorted by key")
    }
  }
}
