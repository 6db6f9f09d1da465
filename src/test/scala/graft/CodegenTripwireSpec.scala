package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.{UnionExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis
import graft.pipeline.CurationRun
import graft.streaming.C4Doc

/** Deliberate replica of the round-6 `GopherMeasures` bug: the JVM
  * BINARY array class name (`[Lorg...UTF8String;`) passed as the Java
  * cast type for `addReferenceObj`. Janino cannot parse the generated
  * cast, the stage fails to compile, and a production session would
  * silently run interpreted. Test-only — exists to prove the tripwire
  * catches exactly this class of bug. */
case class BrokenRefArray(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  @transient private lazy val arr: Array[UTF8String] =
    Array(UTF8String.fromString("x"))
  override def nullSafeEval(s: Any): Any = arr.length
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("brokenArr", arr,
      classOf[Array[UTF8String]].getName) // the bug: binary name, not Java source syntax
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $r.length;")
  }
  override protected def withNewChildInternal(c: Expression): BrokenRefArray =
    copy(child = c)
}

/** Codegen-health gate (VERDICT r06 items 1+2): a generated-code
  * compile error must be loud.
  *
  * Round 6 shipped with `GopherMeasures` silently deoptimizing every
  * plan that contained it — 256 green tests, a green oracle, and a
  * regenerated PLANS.md all failed to notice, because (a) production
  * Spark falls back to interpreted execution on codegen compile errors
  * and only logs a warning, and (b) every parity fixture was a
  * `Seq(...).toDF` LocalRelation that `ConvertToLocalRelation`
  * evaluated interpreted at OPTIMIZATION time, so the broken
  * `doGenCode` never even ran under test. This suite pins the fix and
  * the gate:
  *
  *   - the replica of the exact bug now THROWS under the strict test
  *     session and fires the `CodegenTripwire` counter (red branch);
  *   - the fixed `gopher_measures` executes inside WholeStageCodegen
  *     over a non-foldable physical source with zero fallbacks (green
  *     branch, batch);
  *   - the fused quality projection (q130's shape) runs compiled under
  *     a `MemoryStream` — the execution path the batch fixture can't
  *     reach — with zero fallbacks (green branch, streaming);
  *   - generated code is REUSED: a stage compiles once whatever its
  *     codegen stage id, a plan persisted again (a new session clone)
  *     and a repeated cadence increment find their classes in Spark's
  *     codegen cache, and tasks compile under the executor's one
  *     default class loader (the `Sessions.local` settings).
  */
class CodegenTripwireSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Janino compiles while `body` runs (Spark's process-wide count). */
  private def compilesOf(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("tripwire is red on the unfixed addReferenceObj pattern") {
    val before = CodegenTripwire.fallbacks
    val df = TestSpark.nonFoldable(Seq("alpha", "beta"))
      .select(ColumnBridge.column(
        BrokenRefArray(ColumnBridge.expression(col("text")))).as("n"))
    val thrown = intercept[Throwable] { df.collect() }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(thrown).exists(t =>
      String.valueOf(t.getMessage).toLowerCase.contains("compile")),
      s"strict session must surface the compile error, got: $thrown")
    assert(CodegenTripwire.fallbacks > before,
      "the log tripwire must record the compile failure")
    // Don't poison later suites: the deliberate failure is accounted for.
    CodegenTripwire.reset()
  }

  test("gopher_measures compiles and runs inside WholeStageCodegen (batch)") {
    val before = CodegenTripwire.fallbacks
    val docs = TestSpark.nonFoldable(Seq(
      "the cat sat on the mat and that have with more words here today",
      "short",
      "• bullet one\n• bullet two\nnormal line with the and of words…"))
      .select(monotonically_increasing_id().as("doc_id"), col("text"))
    val out = TextAnalysis.qualitySignals(docs, "doc_id", "text")
    val rows = out.collect()
    assert(rows.length == 3)
    assert(CodegenTripwire.fallbacks == before,
      s"no codegen fallback allowed, saw: ${CodegenTripwire.messages}")
    // `toString` renders whole-stage spans as a `*(n)` prefix; assert on
    // the physical node class so the pin is unambiguous.
    val plan = out.queryExecution.executedPlan
    val spans = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
    assert(spans.nonEmpty,
      s"fused quality scan must run inside whole-stage codegen:\n$plan")
  }

  test("fused quality projection compiles under MemoryStream (q130 shape)") {
    implicit val sc = spark.sqlContext
    val before = CodegenTripwire.fallbacks
    val mem = MemoryStream[C4Doc]
    val out = TextAnalysis.qualitySignals(mem.toDF(), "doc_id", "text")
    val dir = TestSpark.tmpDir("cgw")
    val q = out.writeStream
      .format("memory").queryName("cgw_test")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      mem.addData(
        C4Doc(1L, "the cat sat on the mat and that have with more words"),
        C4Doc(2L, "@@@@ #### %%%% symbols only @@@@"))
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id FROM cgw_test").as[Long].collect()
      assert(got.sorted.toSeq == Seq(1L, 2L))
      assert(CodegenTripwire.fallbacks == before,
        s"streaming gopher plan must compile, saw: ${CodegenTripwire.messages}")
    } finally q.stop()
  }

  test("a stage compiles once whatever its codegen stage id") {
    def stage = spark.range(0, 4096, 1, 2)
      .select((col("id") * 31 + 7).as("v")).where(col("v") % 11 =!= 3)
    // The stage under test placed after another codegen stage: the
    // union's second child, so stage id 2.
    val second = spark.range(0, 4096, 1, 2)
      .select((col("id") * 13 - 5).as("v")).where(col("v") % 7 =!= 2)
      .union(stage)
    val idInUnion = second.queryExecution.executedPlan.collect {
      case u: UnionExec => u.children(1) }
      .collect { case w: WholeStageCodegenExec => w.codegenStageId }
    assert(idInUnion == Seq(2), second.queryExecution.executedPlan)
    second.collect()
    val alone = stage
    val idAlone = alone.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.codegenStageId }
    assert(idAlone == Seq(1), alone.queryExecution.executedPlan)
    val n = compilesOf(alone.collect())
    assert(n == 0, s"the same stage code under stage id 1 compiled $n classes")
  }

  test("a job over a re-persisted plan reuses its generated classes") {
    // Each persist caches through a new CacheManager session clone; the
    // second count's tasks must still find the first count's classes.
    def agg = spark.range(0, 4096, 1, 4)
      .groupBy((col("id") % 17).as("k")).agg(sum(col("id") * 3).as("s"))
    val first = agg.persist()
    try assert(first.queryExecution.toRdd.count() == 17)
    finally first.unpersist(blocking = true)
    val again = agg.persist()
    try {
      val n = compilesOf(again.queryExecution.toRdd.count())
      assert(n == 0, s"the re-persisted plan compiled $n classes again")
    } finally again.unpersist(blocking = true)
  }

  test("a Dataset job's tasks run under the executor's default class loader") {
    val loaders = spark.range(0, 8, 1, 4).mapPartitions(_ =>
      Iterator(Thread.currentThread.getContextClassLoader.getClass.getName))
      .collect().toSet
    assert(!loaders.contains("org.apache.spark.executor.ExecutorClassLoader"),
      s"task context class loaders: $loaders")
  }

  test("a repeated cadence increment reuses its generated classes") {
    def docs(s: Seq[(Long, String)]) = s.toDF("doc_id", "text")
    val b0 = docs(Seq(
      1L -> ("the amber lantern swung gently above wooden crates stacked " +
        "beside narrow canal boats every misty evening"),
      2L -> ("granite cliffs rise steeply where gulls wheel over cold grey " +
        "water and distant sails fade slowly into the northern haze line"),
      3L -> ("four bakers arranged warm loaves along the counter before " +
        "sunrise brought the first customers through the door")))
    val b1 = docs(Seq(
      11L -> ("five gardeners planted rows of tulips beside the gravel " +
        "path while morning light spread slowly across the lawn"),
      12L -> ("seven sailors mended canvas sails under the harbor lamps " +
        "as the tide pushed small boats against the wooden pier")))
    val benchmark = docs(Seq(900L ->
      "zyx wvu tsr qpo nml kji hgf edc ba9 87z y6x w5v u4t s3r q2p o1n"))
    val base = TestSpark.tmpDir("codegen_reuse")
    CurationRun.runInit(b0, benchmark, s"$base/out0", s"$base/s0",
      minQuality = 0.0, spanState = true, lineState = true,
      retrievalState = true)
    // The same increment twice, each into fresh out and state dirs. The
    // first starts from an empty class cache, so it compiles every
    // class whatever ran earlier in this JVM.
    def increment(v: Int) = compilesOf(CurationRun.runIncremental(b1,
      benchmark, s"$base/out$v", s"$base/s0", s"$base/s$v", minQuality = 0.0))
    clearCodegenCache()
    val first = increment(1)
    val again = increment(2)
    info(s"increment compiles: $first, then $again")
    assert(first > MaxRecompiles)
    assert(again <= MaxRecompiles,
      s"a repeated increment recompiled $again of its $first classes")
  }

  /** Classes a repeated increment may still compile: measured 4 or 0
    * alone, 4 or 0 after this spec's other cases, 4 and 0 in the full suite
    * and 0 after the delta-publish and retrieval-cadence suites (which
    * plan variants the overlapped forks meet varies run to run), with
    * the first increment at 332 from an empty cache; against 371 with
    * Spark's default codegen settings. */
  private val MaxRecompiles = 4

  /** Empty Spark's process-wide generated-class cache (`CodeGenerator`
    * keeps it in a private field; reflection is the only handle). */
  private def clearCodegenCache(): Unit = {
    val generator = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val accessor = generator.getClass.getDeclaredMethod("cache")
    accessor.setAccessible(true)
    val cache = accessor.invoke(generator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }
}
