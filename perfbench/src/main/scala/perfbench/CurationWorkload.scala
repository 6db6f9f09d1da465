package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.pipeline.{Bm25State, CurationRun, LmState, StateLayout}

/** `curation_cadence`: runInit with every state family on, then one
  * runIncremental per further generated batch, with the parameters of
  * catalog entry q146 plus the retrieval (BM25 + LM) state family.
  *
  * A traced run then sends a closed-loop probe stream against the state
  * versions the traced pass wrote (see [[traceExtras]]).
  *
  * q146 trains its classifier weights inside the entry; here they are a
  * generated input, so set-up time is the cadence's, not the trainer's.
  * There is no warm-up pass: a weekly cadence starts a fresh application
  * each week, and one more cadence would double the run. */
final class CurationWorkload extends Workload {
  private var ctx: Ctx = _
  private def table(name: String) = ctx.spark.read.parquet(s"${ctx.inputs}/$name.parquet")
  private lazy val docs = table("docs")
  private lazy val benchmark = table("benchmark")
  private lazy val embeddings = table("embeddings")
  private lazy val batches = ctx.manifest.get("batches").size()
  /** The generated weights as a local relation, like the trainer's output. */
  private lazy val weights: DataFrame = {
    val w = table("weights")
    ctx.spark.createDataFrame(java.util.Arrays.asList(w.collect(): _*), w.schema)
  }

  private def batch(b: Int): DataFrame =
    docs.where(col("batch") === b).select(col("doc_id"), col("text"))

  def setup(c: Ctx): Unit = { ctx = c; weights }

  /** The directory of the latest pass. */
  private var passDir = ""

  def run(c: Ctx, tr: Tracer, out: Outcome): Unit = {
    val d = ctx.dir("cadence")
    passDir = d
    val t0 = System.nanoTime()
    val st0 = tr.span("pipeline.CurationRun.runInit")(
      CurationRun.runInit(batch(0), benchmark, s"$d/out0", s"$d/state0",
        minQuality = 0.75, dedupThreshold = 0.25, minContaminatedShingles = 1,
        fractions = Map("en" -> 0.5), defaultFraction = 0.9,
        packBudget = 4096L, publishSpan = 1024L,
        embeddings = Some(embeddings), semClusters = 8, semIters = 2,
        semThreshold = 0.35,
        classifier = Some((weights, 256)), minClassifierScore = 0.0001,
        semanticState = true, semSalt = 1,
        annState = true, annSubspaces = 4, annCodewords = 8,
        annClusters = 4, annIters = 2,
        spanState = true, spanK = 8, spanMinDf = 2,
        lineState = true, lineMinDf = 2,
        retrievalState = true))
    val s0 = (System.nanoTime() - t0) / 1e9
    val p0 = out.untimed(curatedProblems(s"$d/out0", 0))
    out.ops += Op("runInit", s0, p0.isEmpty, p0.mkString("; "), latency = false)
    out.notes += s"init: $st0"
    (1 until batches).foldLeft(st0) { (prev, b) =>
      val t1 = System.nanoTime()
      val st = tr.span("pipeline.CurationRun.runIncremental")(
        CurationRun.runIncremental(batch(b), benchmark, s"$d/out$b",
          s"$d/state${b - 1}", s"$d/state$b",
          minQuality = 0.75, dedupThreshold = 0.25, minContaminatedShingles = 1,
          fractions = Map("en" -> 0.5), defaultFraction = 0.9,
          packBudget = 4096L, publishSpan = 1024L,
          embeddings = Some(embeddings), semClusters = 8, semIters = 2,
          semThreshold = 0.35,
          classifier = Some((weights, 256)), minClassifierScore = 0.0001,
          spanK = 8, spanMinDf = 2, lineMinDf = 2))
      val s = (System.nanoTime() - t1) / 1e9
      val problems = attritionProblems(st, prev) ++
        out.untimed(curatedProblems(s"$d/out$b", b))
      out.ops += Op("runIncremental", s, problems.isEmpty, problems.mkString("; "))
      out.notes += s"batch $b: $st"
      st
    }
    // run.py compares this with earlier runs on identical inputs.
    val last = batches - 1
    out.fingerprint = out.untimed(fingerprint(s"$d/out$last", s"$d/state$last"))
    out.records = ctx.manifest.get("docs").asLong
  }

  /** Stages that must each drop something on every batch. `input` counts
    * the batch; the other counts are of the composed corpus, so the
    * batch's decontamination survivors are the growth over `prev`. */
  private def attritionProblems(st: CurationRun.Stats,
      prev: CurationRun.Stats): Seq[String] = Seq(
    ("decontamination", st.decontaminated - prev.decontaminated < st.input),
    ("line cleaning", st.lineCleaned > 0),
    ("span cleaning", st.spanCleaned > 0),
    ("near-dup", st.kept < st.decontaminated),
    ("semantic dedup", st.semDropped > 0),
    ("sampling", st.sampled < st.kept))
    .collect { case (stage, ok) if !ok => s"no attrition at $stage ($st)" }

  /** Curated ids must be unique and drawn from batches 0..upTo. */
  private def curatedProblems(out: String, upTo: Int): Seq[String] = {
    val cur = ctx.spark.read.parquet(s"$out/curated").select(col("doc_id"))
    val r = cur.agg(count(lit(1)), countDistinct(col("doc_id"))).head()
    val foreign = cur.join(docs.where(col("batch") <= upTo), Seq("doc_id"),
      "left_anti").count()
    (if (r.getLong(0) != r.getLong(1))
      Seq(s"curated ids not unique: ${r.getLong(0)} rows, ${r.getLong(1)} ids")
    else Nil) ++
      (if (foreign > 0) Seq(s"$foreign curated ids not in the input") else Nil)
  }

  /** Order-independent content hash of the curated output and every
    * parquet artifact of a state version, in one job (file names carry
    * random ids, so rows are hashed, not files). */
  private def fingerprint(out: String, state: String): String =
    (s"$out/curated" +: datasets(new File(state))).map { d =>
      Prints.agg(ctx.spark.read.parquet(d))
        .select(lit(new File(d).getName).as("d"), col("n"), col("h"))
    }.reduce(_ unionByName _).collect()
      .map(r => s"${r.getString(0)}:${r.getLong(1)}:${r.getString(2)}").mkString(",")

  /** One serving family: its session, its one-shot pruned serve, the
    * state it reads under a state version, and its probe queries. */
  private final case class Family(name: String, oneShotSpan: String,
      answer: DataFrame => DataFrame, swapTo: String => Unit, close: () => Unit,
      oneShot: (String, Int) => DataFrame, dirOf: String => String,
      stateBytes: String => Long, query: Int => DataFrame)

  /** Traced runs: a closed-loop probe stream (one call in flight) against
    * the state versions the traced pass wrote. Each probe is answered by
    * its family's serving session and then by the family's one-shot
    * pruned serve on the same version; the two answers must agree and
    * the session's rows must carry the answering `state_version`.
    * Halfway through the generated schedule every session swaps to the
    * next state version. */
  override def traceExtras(c: Ctx, tr: Tracer, out: Outcome): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val p = ctx.manifest.get("probes")
    def longs(k: String) = p.get(k).elements().asScala.map(_.asLong).toIndexedSeq
    val terms = p.get("bm25_terms").elements().asScala
      .map(_.elements().asScala.map(_.asText).toSeq).toIndexedSeq
    val lmIds = longs("lm_doc_ids")
    val annIds = longs("ann_vec_ids")
    // A client sends its queries, not files: probe inputs are local
    // relations, so a serve's input bytes are state reads only.
    def local(name: String) = {
      val df = table(name)
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    }
    val probeDocs = local("probe_docs")
    val probeVecs = local("probe_vecs")
    val schedule = p.get("schedule").elements().asScala
      .map(n => (n.get(0).asText, n.get(1).asInt)).toIndexedSeq
    val versions = (0 until batches).map(b => s"$passDir/state$b")
    val (bm25K, annProbe, annK) = (10, 2, 10)

    val bm25 = Bm25State.bm25ServeSession(spark, s"${versions(0)}/bm25", topK = bm25K)
    val lm = LmState.lmServeSession(spark, s"${versions(0)}/lm")
    val ann = CurationRun.annServeSession(spark, versions(0), annProbe, annK)
    def bm25Query(k: Int) = Seq((k.toLong, terms(k))).toDF("q_id", "terms")
    def lmQuery(k: Int) = probeDocs.where(col("doc_id") === lmIds(k))
    def annQuery(k: Int) = probeVecs.where(col("vec_id") === annIds(k))
    val families = Seq(
      Family("bm25", "pipeline.Bm25State.serve", bm25.answer, bm25.swapTo,
        () => bm25.close(),
        (dir, k) => Bm25State.serve(spark, dir, terms(k), topK = bm25K),
        v => s"$v/bm25", v => lineageBytes(s"$v/bm25"), bm25Query),
      Family("lm", "pipeline.LmState.serve", lm.answer, lm.swapTo,
        () => lm.close(),
        (dir, k) => LmState.serve(spark, dir, lmQuery(k), "doc_id", "text"),
        v => s"$v/lm", v => lineageBytes(s"$v/lm"), lmQuery),
      Family("ann", "pipeline.CurationRun.annServe", ann.answer, ann.swapTo,
        () => ann.close(),
        (dir, k) => CurationRun.annServe(spark, dir, annQuery(k), annProbe, annK),
        v => v,
        v => lineageBytes(v, "ann_codes_batch") + dirBytes(new File(s"$v/ann_model")),
        annQuery))
      .map(f => f.name -> f).toMap

    try schedule.zipWithIndex.foreach { case ((fam, k), i) =>
      val version = versions(if (i < schedule.size / 2) 0 else versions.size - 1)
      if (i == schedule.size / 2 && versions.size > 1)
        families.values.toSeq.sortBy(_.name).foreach { f =>
          tr.span("pipeline.ServeSession.swapTo")(f.swapTo(f.dirOf(version)))
        }
      val f = families(fam)
      val t0 = System.nanoTime()
      val got = tr.span(s"pipeline.ServeSession.answer.$fam")(
        f.answer(f.query(k)).collect())
      val s = (System.nanoTime() - t0) / 1e9
      val dir = f.dirOf(version)
      val bytes = out.untimed(f.stateBytes(version))
      val want = tr.span(f.oneShotSpan, bytes)(f.oneShot(dir, k).collect())
      val problems = out.untimed(probeProblems(got, want, dir))
      out.ops += Op(s"probe.$fam", s, problems.isEmpty,
        if (problems.isEmpty) "" else s"probe $i ($fam $k): " + problems.mkString("; "),
        latency = false)
    } finally families.values.foreach(_.close())
  }

  /** A session answer must be non-empty, tagged with the version it was
    * asked under, and equal the one-shot serve's rows. */
  private def probeProblems(got: Array[Row], want: Array[Row],
      version: String): Seq[String] = {
    def rows(rs: Array[Row]) = rs.map { r =>
      r.schema.fieldNames.filter(_ != "state_version").toSeq
        .map(n => n -> r.get(r.fieldIndex(n))).toMap
    }.toSet
    val tags = got.map(r => r.getAs[String]("state_version")).toSet
    val keys = want.headOption.map(_.schema.fieldNames.toSet).getOrElse(Set.empty)
    Seq(
      (got.nonEmpty, "empty session answer"),
      (tags.forall(_ == version), s"state_version $tags, asked under $version"),
      (rows(got).map(_.filter { case (k, _) => keys(k) }) == rows(want),
        s"session answer (${got.length} rows) differs from the one-shot serve " +
          s"(${want.length} rows)"))
      .collect { case (ok, msg) if !ok => msg }
  }

  /** On-disk bytes of `artifact` (or of the whole version when empty)
    * across the lineage of `stateDir`. */
  private def lineageBytes(stateDir: String, artifact: String = ""): Long =
    StateLayout.readLineage(stateDir).map(v => dirBytes(new File(s"$v/$artifact"))).sum

  /** Bytes of the data files under `d` (checksums and markers excluded). */
  private def dirBytes(d: File): Long =
    Option(d.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) dirBytes(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    }.sum

  /** Parquet datasets under `d`, in name order (the retrieval families nest
    * one level deeper). */
  private def datasets(d: File): Seq[String] =
    Option(d.listFiles()).toSeq.flatten.filter(_.isDirectory).sortBy(_.getName)
      .flatMap { k =>
        val kids = Option(k.listFiles()).toSeq.flatten
        if (kids.exists(f => f.isFile && f.getName.endsWith(".parquet")) ||
            kids.exists(f => f.isDirectory && f.getName.contains("=")))
          Seq(k.getPath)
        else datasets(k)
      }
}
