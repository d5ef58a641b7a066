package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `op` is the id of the operation (build, search or
  * upsert) the span belongs to; `parent` is -1 for an operation's root.
  * `gcMs` is the JVM's garbage-collection time during the span (in local
  * mode the executors run inside this JVM too). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long,
                      gcMs: Long = 0) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** Length of the union of `[s, e)` intervals clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * child spans cover. Over a whole tree the self times add up to the
    * root's duration. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - covered(ch, s.startNs, s.endNs))
    }.toMap
  }
}

/** Records spans around the harness's calls into the program's layers.
  * Spans are kept in memory and written out when the run ends. With
  * `spark` set, each span's Spark jobs run under a job group named after
  * the span id, so [[JobRecorder]] can attribute them. */
final class Tracer(spark: Option[SparkContext]) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, Int)] // (span id, op id)
  private var nextId = 0
  private var nextOp = 0

  def spans: Seq[Span] = done.toSeq

  /** Time `body` as span `name` under the innermost open span, or as the
    * root of a new operation when none is open. */
  def span[A](name: String)(body: => A): A = {
    val id = nextId; nextId += 1
    val (parent, op) =
      if (stack.isEmpty) { val o = nextOp; nextOp += 1; (-1, o) }
      else (stack.top._1, stack.top._2)
    stack.push((id, op))
    spark.foreach(_.setJobGroup(id.toString, name, interruptOnCancel = false))
    val g0 = Tracer.gcMs()
    val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.nanoTime(); val m1 = System.currentTimeMillis()
      val g1 = Tracer.gcMs()
      stack.pop()
      spark.foreach { sc =>
        if (stack.isEmpty) sc.clearJobGroup()
        else sc.setJobGroup(stack.top._1.toString, "", interruptOnCancel = false)
      }
      done += Span(id, name, parent, op, t0, t1, m0, m1, g1 - g0)
    }
  }
}

object Tracer {
  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans

  /** Total collection time of the JVM's collectors so far. */
  def gcMs(): Long = {
    var t = 0L
    gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }
}

/** Spark work attributed to one span (by job group). */
final case class SparkCounts(jobs: Int, tasks: Long, shuffleWriteBytes: Long,
                             spillBytes: Long, jobIntervals: Seq[(Long, Long)])

object SparkCounts {
  val Empty: SparkCounts = SparkCounts(0, 0, 0, 0, Nil)
}

/** Listener that files every job and task under the job group (span id)
  * it ran in. */
final class JobRecorder extends SparkListener {
  private final class Acc {
    var jobs = 0; var tasks = 0L; var shuffle = 0L; var spill = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val byGroup = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobGroup(e.jobId) = (groupOf(e.properties), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, t0) =>
      val a = byGroup.getOrElseUpdate(g, new Acc)
      a.jobs += 1
      a.intervals += ((t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup(e.stageInfo.stageId) = groupOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = byGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Acc)
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.shuffle += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def counts(group: String): SparkCounts = synchronized {
    byGroup.get(group).map(a => SparkCounts(a.jobs, a.tasks, a.shuffle, a.spill,
      a.intervals.toSeq)).getOrElse(SparkCounts.Empty)
  }
}
