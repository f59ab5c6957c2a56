package graftbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval at a layer boundary. Times are System.nanoTime
  * nanoseconds; `op` is the id of the root `op` span the interval belongs
  * to (every span of one op shares it).
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

/** In-memory span recorder. Spans are kept until the run ends; nothing is
  * written while the workload runs. When disabled, `span` only runs its
  * body, so an untraced pass does exactly the same calls as a traced one.
  */
final class Tracer {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[(Long, Long)] = Nil // (span id, op id)

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  /** The op id of the innermost open span, or 0 outside any op. */
  def currentOp: Long = stack.headOption.map(_._2).getOrElse(0L)

  /** Runs `body` inside a span named `name`; `id` 0 draws a fresh id. */
  def span[T](name: String, id: Long = 0L)(body: => T): T = {
    if (!enabled) return body
    val sid = if (id != 0L) id else newId()
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    val op = if (name == "op") sid else currentOp
    stack = (sid, op) :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans.synchronized(spans += Span(sid, parent, op, name, t0, t1))
    }
  }

  /** Deepest-span attribution: every instant of an op's wall time is
    * split equally among the innermost spans open at that instant, so
    * the self times of one op's spans always sum to the op's wall time.
    * Children are clipped to their parent first.
    */
  def selfTimes(opSpans: Seq[Span]): Map[Long, Double] = {
    val byId = opSpans.map(s => s.id -> s).toMap
    val clipped = mutable.LinkedHashMap.empty[Long, Span]
    def clip(s: Span): Span = clipped.getOrElseUpdate(s.id,
      byId.get(s.parent) match {
        case Some(p) =>
          val pc = clip(p)
          val st = math.min(math.max(s.start, pc.start), pc.end)
          s.copy(start = st, end = math.max(st, math.min(s.end, pc.end)))
        case None => s
      })
    opSpans.foreach(clip)
    val all = clipped.values.toSeq
    val children = all.groupBy(_.parent)
    val cuts = all.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val self = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val open = all.filter(s => s.start <= a && s.end >= b)
        val openIds = open.map(_.id).toSet
        val leaves = open.filter(s =>
          !children.getOrElse(s.id, Nil).exists(c => openIds(c.id)))
        leaves.foreach(s => self(s.id) += (b - a).toDouble / leaves.size)
      case _ =>
    }
    all.map(s => s.id -> self(s.id) / 1e9).toMap
  }
}

/** Per-op task totals gathered by [[OpListener]]. */
final class TaskTotals {
  var tasks = 0L
  var failures = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakMem = 0L
  var input = 0L
}

/** Spark listener registered by the benchmark in traced runs only. Jobs
  * are tied to their op through the job group the harness sets around
  * each op (`graftbench-op-<id>`); stages inherit their job's op.
  */
final class OpListener(epochMs0: Long, nano0: Long) extends SparkListener {
  import OpListener._

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val totals = mutable.HashMap.empty[Long, TaskTotals]
  private val stageOp = mutable.HashMap.empty[Int, (Long, Int)]

  /** Listener clock (epoch ms) to the tracer's nanoTime clock. */
  def toNano(epochMs: Long): Long = nano0 + (epochMs - epochMs0) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (group.startsWith("graftbench-op-")) {
      val op = group.stripPrefix("graftbench-op-").toLong
      jobs(e.jobId) = JobRec(e.jobId, op, toNano(e.time), toNano(e.time))
      e.stageIds.foreach(s => stageOp(s) = (op, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = toNano(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stageOp.get(i.stageId).foreach { case (_, job) =>
        for (s <- i.submissionTime; c <- i.completionTime)
          stages += StageRec(job, toNano(s), toNano(c))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { case (op, _) =>
      val t = totals.getOrElseUpdate(op, new TaskTotals)
      t.tasks += 1
      if (e.reason != org.apache.spark.Success) t.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        val info = e.taskInfo
        t.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
        t.input += m.inputMetrics.bytesRead
      }
    }
  }
}

object OpListener {
  final case class JobRec(id: Int, op: Long, start: Long, var end: Long)
  final case class StageRec(job: Int, start: Long, end: Long)
}
