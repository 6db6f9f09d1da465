package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One shared local session for the whole (forked) test JVM.
  *
  * The test session is STRICT about codegen (VERDICT r06 item 2): a
  * generated-code compile error must fail the test that triggered it,
  * never silently deoptimize to interpreted execution the way a
  * production session would. Three confs close the class of bug:
  *
  *   - `spark.sql.codegen.fallback=false` — a whole-stage codegen
  *     compile error throws instead of re-executing the child plan
  *     interpreted;
  *   - `spark.sql.codegen.factoryMode=CODEGEN_ONLY` — projection /
  *     predicate / ordering factories throw instead of falling back to
  *     their interpreted twins (tests that deliberately pin the
  *     interpreted path override this per-query with `NO_CODEGEN`);
  *   - `ConvertToLocalRelation` excluded — without this, every
  *     `Seq(...).toDF` fixture is evaluated INTERPRETED at optimization
  *     time and codegen never runs at all, which is exactly how a
  *     broken `doGenCode` survived 256 green tests in round 6. With the
  *     rule excluded, local fixtures execute through the real codegen'd
  *     projection like parquet data would.
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4, "graft-test", Map(
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"))

  /** Spark jobs `body` launches (see [[resultTasksOf]]). */
  def jobsOf(body: => Unit): Int = resultTasksOf(body).size

  /** The task count of each Spark job's result stage, for the jobs
    * `body` launches, in start order: counted under a job tag this
    * thread adds (driver-thread branches inherit it), after the
    * listener bus drains. */
  def resultTasksOf(body: => Unit): Seq[Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val tag = s"graft-test-jobs-${java.util.UUID.randomUUID()}"
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      // A job's result stage is created after its parents: the
      // highest stage id.
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag)))
          tasks.add(e.stageInfos.maxBy(_.stageId).numTasks)
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      org.apache.spark.graft.SparkShims.waitUntilListenerBusEmpty(spark, 30000L)
      tasks.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** Fresh temp dir under target/ (kept out of git). */
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** One-column frame whose values come from a physical Range source,
    * so expressions over it are NOT foldable and cannot be collapsed
    * by `ConstantFolding` — the fixture shape parity specs need to
    * guarantee the compiled path actually runs (VERDICT r06 item 5). */
  def nonFoldable(values: Seq[String], name: String = "text"): DataFrame =
    spark.range(values.length).select(
      element_at(array(values.map(lit): _*),
        (col("id") + 1).cast("int")).as(name))

  /** Run `body` with the interpreted expression factories active —
    * the genuine eval()-path twin for codegen-parity assertions. */
  def interpreted[A](body: => A): A = {
    val conf = spark.conf
    val prevMode = conf.get("spark.sql.codegen.factoryMode")
    val prevWs = conf.get("spark.sql.codegen.wholeStage")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    conf.set("spark.sql.codegen.wholeStage", "false")
    try body
    finally {
      conf.set("spark.sql.codegen.factoryMode", prevMode)
      conf.set("spark.sql.codegen.wholeStage", prevWs)
    }
  }
}
