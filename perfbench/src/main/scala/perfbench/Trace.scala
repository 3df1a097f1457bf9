package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call: `parent` is the enclosing span's id (-1 at the root). */
final case class Span(id: Int, name: String, unit: Int, parent: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. A span's id doubles as the Spark job group of
  * the calls made inside it, so engine work is attributed to the innermost
  * enclosing span.
  */
final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var unit: Int = 0

  def spans: Seq[Span] = done.toSeq

  def apply[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setJobGroup(Tracer.group(id), name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(Tracer.group(p), name)
        case None    => sc.clearJobGroup()
      }
      done += Span(id, name, unit, parent, t0, t1)
    }
  }
}

object Tracer {
  def group(id: Int): String = s"perfbench-span-$id"
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith("perfbench-span-")).map(_.stripPrefix("perfbench-span-").toInt)

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (overlapping children counted once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Sum of self time per span name over the spans of each unit. */
  def selfByName(spans: Seq[Span]): Map[Int, Map[String, Long]] = {
    val self = selfTimes(spans)
    spans.groupBy(_.unit).map { case (u, ss) =>
      u -> ss.groupMapReduce(_.name)(s => self(s.id))(_ + _)
    }
  }
}

/** Engine counters of the jobs of one span. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0, runMs: Long = 0,
    cpuNs: Long = 0, gcMs: Long = 0, inputBytes: Long = 0, shuffleRead: Long = 0,
    shuffleWrite: Long = 0, spill: Long = 0, resultBytes: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs, inputBytes + o.inputBytes,
    shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite, spill + o.spill, resultBytes + o.resultBytes)
}

/** Collects job, stage and task counters per span, keyed by the job group
  * the [[Tracer]] sets around each call.
  */
final class EngineListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  @volatile var drained: Boolean = false

  private def add(span: Int, c: Counters): Unit = bySpan.merge(span, c, (a, b) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g == EngineListener.DrainGroup) drained = true
    Tracer.spanOf(g).foreach { s =>
      e.stageIds.foreach(st => stageSpan.putIfAbsent(st, s))
      add(s, Counters(jobs = 1))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => add(s, Counters(stages = 1)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val m = e.taskMetrics
      if (m != null) add(s, Counters(tasks = 1, runMs = m.executorRunTime, cpuNs = m.executorCpuTime,
        gcMs = m.jvmGCTime, inputBytes = m.inputMetrics.bytesRead,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled, resultBytes = m.resultSize))
      else add(s, Counters(tasks = 1))
    }

  def counters: Map[Int, Counters] = {
    import scala.jdk.CollectionConverters._
    bySpan.asScala.toMap
  }

  /** Wait until every event posted before now has been delivered: run a
    * marker job and wait for its start event (the bus delivers in order).
    */
  def drain(sc: SparkContext): Unit = {
    sc.setJobGroup(EngineListener.DrainGroup, "drain")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!drained && System.nanoTime() < deadline) Thread.sleep(5)
    require(drained, "listener bus did not drain within 30 s")
  }
}

object EngineListener {
  val DrainGroup = "perfbench-drain"
}
