package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call: epoch milliseconds (sub-ms precision), the enclosing
  * span's id (-1 at top level), when tracing, the job tag its Spark
  * jobs ran under, and for a serving call the on-disk bytes of the
  * composed state it could read (0 elsewhere). */
final case class Span(id: Int, name: String, parent: Int, run: String,
    start: Double, end: Double, tag: String, stateBytes: Long = 0L)

/** Records spans around the harness's own calls into the program.
  *
  * Untraced, a span is a pair of clock reads. Traced, each span also
  * tags the jobs its body launches with `SparkContext.addJobTag`; tags
  * are thread-inherited, so jobs that driver-thread branches launch
  * inside the call carry the call's tag too. The harness calls the
  * program from one thread, so spans nest as a stack. */
final class Tracer(sc: SparkContext, val traced: Boolean, val run: String) {
  private val nanos0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  val listener = new TagListener
  if (traced) sc.addSparkListener(listener)

  def nowMs: Double = epoch0 + (System.nanoTime() - nanos0) / 1e6

  /** Time `body` as span `name`. */
  def span[A](name: String, stateBytes: Long = 0L)(body: => A): A = {
    val id = spans.size
    val tag = if (traced) s"pb$id" else ""
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, parent, run, nowMs, Double.NaN, tag, stateBytes)
    stack = id :: stack
    if (traced) sc.addJobTag(tag)
    try body
    finally {
      if (traced) sc.removeJobTag(tag)
      stack = stack.tail
      spans(id) = spans(id).copy(end = nowMs)
    }
  }

  def all: Seq[Span] = spans.toSeq
}

/** Per-task record of the work a tagged job did. */
final case class TaskRec(tag: String, job: Int, launch: Long, finish: Long,
    runMs: Long, shuffleWrite: Long, input: Long, output: Long)

/** Attributes every job and task to the innermost harness span whose tag
  * the job carries (tags are `pb<span id>`, so the largest id is the
  * innermost open span). */
final class TagListener extends SparkListener {
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, (String, Int)]
  private val jobs = new ConcurrentLinkedQueue[(Int, String)]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
      .filter(_.startsWith("pb"))
    val tag =
      if (tags.isEmpty) "" else tags.maxBy(_.stripPrefix("pb").toInt)
    jobs.add((e.jobId, tag))
    e.stageIds.foreach(s => stageTag.putIfAbsent(s, (tag, e.jobId)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val (tag, job) = Option(stageTag.get(e.stageId)).getOrElse(("", -1))
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) tasks.add(TaskRec(tag, job, info.launchTime, info.finishTime,
      m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  def jobList: Seq[(Int, String)] = jobs.asScala.toSeq
  def taskList: Seq[TaskRec] = tasks.asScala.toSeq
}
