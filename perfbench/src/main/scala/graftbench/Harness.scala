package graftbench

import graft.grid.GridIO
import graft.sources.ReadCounters
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, out: String, cores: Int)

/** One executed op; the fields after `error` are filled in traced passes
  * and by the workload (see [[OpCtx]]).
  */
final case class OpRec(name: String, kind: String, pass: Int,
    traced: Boolean, id: Long, seconds: Double, ok: Boolean, error: String,
    items: Double, cells: Double, metaEligible: Boolean,
    counters: Map[String, Long], partitionsPlanned: Long, exchanges: Long,
    chunksTotal: Long, writtenBytes: Long, writtenFiles: Long)

final case class PassRec(index: Int, traced: Boolean, seconds: Double,
    gcSeconds: Double, items: Double)

final case class SetupRec(session: Double, inputs: Double, cold: Double) {
  def total: Double = session + inputs + cold
}

/** What an op body reports back, and the layer boundaries it crosses. */
final class OpCtx(tracer: Tracer) {
  var ok = true
  var error = ""
  var items = 0.0 // share of the workload's throughput unit
  var cells = 0.0 // grid cells the op's predicate covers
  var metaEligible = false
  var chunksTotal = 0L
  var writtenBytes = 0L
  var writtenFiles = 0L
  val planned = mutable.ArrayBuffer.empty[DataFrame]

  /** DataFrame construction: the query builder, before any action. */
  def build[T](f: => T): T = tracer.span("queries.build")(f)

  /** Forces physical planning; the action then reuses this plan. */
  def plan(df: DataFrame): DataFrame = {
    tracer.span("plans.plan")(df.queryExecution.executedPlan)
    planned += df
    df
  }

  def action[T](f: => T): T = tracer.span("exec.action")(f)

  def grid[T](name: String)(f: => T): T = tracer.span(name)(f)

  def check(cond: Boolean, what: => String): Unit =
    if (!cond && ok) { ok = false; error = what }
}

object PlanWalk extends AdaptiveSparkPlanHelper {
  def scanPartitions(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b.partitions.map(_.size.toLong).sum
    }.sum

  def exchanges(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case _: ShuffleExchangeLike => 1L
      case _: BroadcastExchangeLike => 1L
    }.sum
}

/** Runs one workload: set-up, then closed-loop passes, one op at a time,
  * and turns what it recorded into end-to-end and per-layer metrics.
  */
final class Harness(val args: Args) {
  val tracer = new Tracer
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val setups = mutable.ArrayBuffer.empty[SetupRec]
  val passes = mutable.ArrayBuffer.empty[PassRec]
  val loadavg = mutable.ArrayBuffer.empty[Double]
  val context = mutable.LinkedHashMap.empty[String, Any]
  val extraLayer = mutable.LinkedHashMap[String, (Double, Int)](
    "grid.decode_mb_per_s" -> (0.0, 0))
  val selfChecks = mutable.LinkedHashMap.empty[String, Boolean]
  private var opSeq = 0L
  private var passIdx = 0
  private var inTimedPass = false
  private var listener: OpListener = _
  var spark: SparkSession = _

  private val os = ManagementFactory.getOperatingSystemMXBean
  def sampleLoad(): Unit = loadavg += os.getSystemLoadAverage

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Starts a fresh session, stopping the previous one. */
  def startSession(): SparkSession = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"graftbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.trace) {
      listener = new OpListener(System.currentTimeMillis(), System.nanoTime())
      spark.sparkContext.addSparkListener(listener)
    }
    spark
  }

  /** Times one set-up: session start, input generation, cold pass. */
  def setup(session: => Unit, inputs: => Unit, cold: => Unit): Unit = {
    def secs(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    setups += SetupRec(secs(session), secs(inputs), secs(cold))
  }

  def amendSetup(f: SetupRec => SetupRec): Unit =
    setups(setups.size - 1) = f(setups.last)

  private def counters(): Map[String, Long] = Map(
    "reads" -> GridIO.Counters.reads.sum(),
    "range_reads" -> GridIO.Counters.rangeReads.sum(),
    "lists" -> GridIO.Counters.lists.sum(),
    "exist_checks" -> GridIO.Counters.existChecks.sum(),
    "bytes_read" -> GridIO.Counters.bytesRead.sum(),
    "partitions_opened" -> ReadCounters.partitionsOpened.sum(),
    "rows_emitted" -> ReadCounters.rowsEmitted.sum())

  /** Runs one op under its own job group. A thrown error or a failed
    * check marks the op failed; a failed op is still timed and counted.
    */
  def op(name: String, kind: String)(body: OpCtx => Unit): Unit = {
    if (probing != null) {
      val c = new OpCtx(tracer)
      try body(c) catch { case NonFatal(e) => c.ok = false }
      probing += name -> c.ok
      return
    }
    val traced = tracer.enabled
    val c = new OpCtx(tracer)
    opSeq += 1
    val id = if (args.trace) tracer.newId() else opSeq
    val before = if (traced) counters() else Map.empty[String, Long]
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    tracer.span("op", id) {
      sc.setJobGroup(s"graftbench-op-$id", name, interruptOnCancel = false)
      try body(c)
      catch { case NonFatal(e) =>
        c.ok = false
        c.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      } finally sc.clearJobGroup()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val delta = if (traced) {
      val after = counters()
      after.map { case (k, v) => k -> (v - before(k)) }
    } else Map.empty[String, Long]
    def safe(f: => Long): Long = try f catch { case NonFatal(_) => 0L }
    val (parts, exch) =
      if (traced) (c.planned.map(d => safe(PlanWalk.scanPartitions(d))).sum,
        c.planned.map(d => safe(PlanWalk.exchanges(d))).sum)
      else (0L, 0L)
    if (!c.ok) System.err.println(s"[perfbench] op $name failed: ${c.error}")
    ops += OpRec(name, kind, if (inTimedPass) passIdx else 0, traced, id,
      secs, c.ok, c.error, c.items, c.cells, c.metaEligible, delta, parts,
      exch, c.chunksTotal, c.writtenBytes, c.writtenFiles)
  }

  /** Closed loop: passes until `seconds` have elapsed and at least
    * `minPasses` have run, so the median pass is past the JIT warm-up. A
    * traced run orders its passes untraced, traced, traced, untraced and
    * runs whole groups of four, so the warm-up trend across passes does
    * not bias the measured tracing overhead.
    */
  def timed(minPasses: Int)(pass: Int => Unit): Unit = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    inTimedPass = true
    while (passes.size < minPasses || System.nanoTime() < deadline ||
        (args.trace && passes.size % 4 != 0)) {
      passIdx += 1
      val traced = args.trace && passIdx % 4 >= 2
      tracer.enabled = traced
      sampleLoad()
      val g0 = gcMs
      val n0 = ops.size
      pass(passIdx)
      tracer.enabled = false
      val done = ops.drop(n0)
      passes += PassRec(passIdx, traced, done.map(_.seconds).sum,
        (gcMs - g0) / 1e3, done.map(_.items).sum)
    }
    inTimedPass = false
    context("heap_peak_mb") = heapPeakMb
    sampleLoad()
  }

  private def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private var probing: mutable.ArrayBuffer[(String, Boolean)] = null

  /** Runs `body` with its ops unrecorded and returns each op's verdict:
    * the self-check that a deliberately wrong expectation fails.
    */
  def probe(body: => Unit): Seq[(String, Boolean)] = {
    probing = mutable.ArrayBuffer.empty
    try { body; probing.toSeq } finally probing = null
  }

  def amendLast(f: OpRec => OpRec): Unit = ops(ops.size - 1) = f(ops.last)

  /** Single-thread decode rate of every chunk of every variable, through
    * `ZarrGridStore.readVar`, as its own traced op outside the passes.
    */
  def decodeProbe(root: String): Unit = {
    tracer.enabled = true
    var bytes = 0L
    val t0 = System.nanoTime()
    op("decode_probe", "probe") { c =>
      val store = c.grid("grid.open")(graft.grid.ZarrGridStore.open(root))
      val chunk = store.chunkMap
      store.schema.vars.foreach { v =>
        val dims = v.dims.map(d => (store.schema.dim(d).size, chunk(d)))
        def blocks(ds: Seq[(Int, Int)]): Seq[Seq[(Int, Int)]] = ds match {
          case Seq() => Seq(Seq())
          case (n, k) +: rest => for {
            s <- 0 until n by k; tail <- blocks(rest)
          } yield (s, math.min(k, n - s)) +: tail
        }
        blocks(dims).foreach { b =>
          c.grid("grid.read_var")(store.readVar(v.name, b))
          bytes += b.map(_._2.toLong).product * 8
        }
      }
    }
    tracer.enabled = false
    val secs = (System.nanoTime() - t0) / 1e9
    extraLayer("grid.decode_mb_per_s") = (bytes / 1e6 / secs, 1)
  }

  /** Drains the listener bus so every job/stage/task event has arrived. */
  def drainEvents(): Unit =
    if (spark != null) org.apache.spark.graftbench.BusDrain(spark.sparkContext)

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  // ---- results ---------------------------------------------------------

  def timedOps: Seq[OpRec] = ops.filter(_.pass > 0).toSeq
  def untracedOps: Seq[OpRec] = timedOps.filterNot(_.traced)
  def tracedOps: Seq[OpRec] = timedOps.filter(_.traced)

  /** The end-to-end metrics, from untraced passes only. */
  def endToEnd: Map[String, (Double, String)] = {
    val p = passes.filterNot(_.traced).toSeq
    Map(
      "setup_s" -> (Stats.median(setups.map(_.total).toSeq), "s"),
      "pass_s" -> (Stats.median(p.map(_.seconds)), "s"),
      "items_per_s" -> (Stats.median(p.map(x => x.items / x.seconds)), "1/s"))
  }

  /** Per-layer metrics from the traced passes, each with its sample
    * count. Totals are per traced pass; a layer the workload never
    * reaches reads 0.
    */
  def perLayer(opNames: Seq[String]): Seq[(String, Double, String, Int)] = {
    drainEvents()
    val t = tracedOps
    val tracedPasses = passes.filter(_.traced).toSeq
    val n = tracedPasses.size.max(1)
    val out = mutable.ArrayBuffer.empty[(String, Double, String, Int)]
    def add(name: String, v: Double, unit: String, samples: Int): Unit =
      out += ((name, if (v.isNaN || v.isInfinite) 0.0 else v, unit, samples))
    def perPass(name: String, v: Double, unit: String): Unit =
      add(name, v / n, unit, n)
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    val ids = t.map(_.id).toSet
    val spans = tracer.spans.filter(s => ids(s.op)).toSeq
    def spanSum(name: String): Double =
      spans.filter(_.name == name).map(_.dur).sum / 1e9
    def cnt(k: String): Double =
      t.map(_.counters.getOrElse(k, 0L)).sum.toDouble
    def setupMedian(f: SetupRec => Double): Double =
      Stats.median(setups.map(f).toSeq)

    add("setup.session_s", setupMedian(_.session), "s", setups.size)
    add("setup.inputs_s", setupMedian(_.inputs), "s", setups.size)
    add("setup.cold_pass_s", setupMedian(_.cold), "s", setups.size)

    // the listener's jobs and stages as spans, each job under the op's
    // innermost span that was open when the job started
    val jobSpans = mutable.ArrayBuffer.empty[Span]
    val jobParent = mutable.HashMap.empty[Int, String]
    if (listener != null) listener.synchronized {
      listener.jobs.values.filter(j => ids(j.op)).foreach { j =>
        val parent = spans.filter(s => s.op == j.op && s.name != "op" &&
            s.start <= j.start && j.start <= s.end)
          .sortBy(-_.start).headOption
          .getOrElse(spans.find(_.id == j.op).get)
        jobParent(j.id) = parent.name
        val jid = tracer.newId()
        jobSpans += Span(jid, parent.id, j.op, "exec.job", j.start, j.end)
        listener.stages.filter(_.job == j.id).foreach(st =>
          jobSpans += Span(tracer.newId(), jid, j.op, "exec.stage",
            st.start, st.end))
      }
    }
    perPass("queries.build_s", spanSum("queries.build"), "s")
    perPass("queries.build_jobs",
      jobParent.values.count(_ == "queries.build").toDouble, "count")
    perPass("plans.plan_s", spanSum("plans.plan"), "s")
    perPass("plans.exchanges", t.map(_.exchanges).sum.toDouble, "count")
    val elig = t.filter(_.metaEligible)
    add("plans.metadata_answered", ratio(elig.count(
      _.counters.getOrElse("partitions_opened", 1L) == 0L), elig.size),
      "ratio", elig.size)

    val tot = t.flatMap(o => Option(listener).flatMap(_.totals.get(o.id)))
    def tsum(f: TaskTotals => Long): Double = tot.map(f).sum.toDouble
    perPass("exec.action_s", spanSum("exec.action"), "s")
    perPass("exec.jobs", jobSpans.count(_.name == "exec.job").toDouble,
      "count")
    perPass("exec.stages", jobSpans.count(_.name == "exec.stage").toDouble,
      "count")
    perPass("exec.tasks", tsum(_.tasks), "count")
    perPass("exec.scheduler_delay_s", tsum(_.schedDelayMs) / 1e3, "s")
    perPass("exec.executor_run_s", tsum(_.runMs) / 1e3, "s")
    perPass("exec.executor_cpu_s", tsum(_.cpuNs) / 1e9, "s")
    add("exec.core_util", ratio(tsum(_.runMs) / 1e3,
      tracedPasses.map(_.seconds).sum * args.cores), "ratio", n)
    perPass("exec.shuffle_read_bytes", tsum(_.shuffleRead), "B")
    perPass("exec.shuffle_write_bytes", tsum(_.shuffleWrite), "B")
    perPass("exec.spill_bytes", tsum(_.spill), "B")
    add("exec.peak_exec_mem_bytes",
      tot.map(_.peakMem).maxOption.getOrElse(0L).toDouble, "B", tot.size)
    perPass("exec.input_bytes", tsum(_.input), "B")
    perPass("exec.task_failures", tsum(_.failures), "count")

    val scans = t.filter(_.chunksTotal > 0)
    val chunks = t.map(_.chunksTotal).sum.toDouble
    perPass("sources.chunks_total", chunks, "count")
    perPass("sources.partitions_planned",
      t.map(_.partitionsPlanned).sum.toDouble, "count")
    perPass("sources.partitions_opened", cnt("partitions_opened"), "count")
    add("sources.prune_ratio",
      if (chunks == 0) 0.0 else 1.0 - cnt("partitions_opened") / chunks,
      "ratio", scans.size)
    perPass("sources.rows_emitted", cnt("rows_emitted"), "count")

    perPass("grid.reads", cnt("reads"), "count")
    perPass("grid.range_reads", cnt("range_reads"), "count")
    perPass("grid.bytes_read", cnt("bytes_read"), "B")
    add("grid.bytes_read_per_cell",
      ratio(cnt("bytes_read"), t.map(_.cells).sum), "B", scans.size)
    perPass("grid.to_grid_s", spanSum("grid.to_grid"), "s")
    perPass("grid.lists", cnt("lists"), "count")
    perPass("grid.exist_checks", cnt("exist_checks"), "count")
    perPass("grid.open_s", spanSum("grid.open"), "s")
    perPass("grid.append_s", spanSum("grid.append"), "s")
    val writes = t.filter(_.kind == "write")
    add("grid.bytes_written_per_cell", ratio(
      writes.map(_.writtenBytes).sum.toDouble, writes.map(_.items).sum), "B",
      writes.size)
    perPass("grid.files_written", writes.map(_.writtenFiles).sum.toDouble,
      "count")
    extraLayer.foreach { case (k, (v, samples)) => add(k, v, "MB/s", samples) }

    opNames.foreach { name =>
      val s = t.filter(_.name == name).map(_.seconds)
      add(s"op.${name}_s", Stats.median(s), "s", s.size)
    }
    perPass("jvm.gc_s", tracedPasses.map(_.gcSeconds).sum, "s")
    add("jvm.heap_peak_mb", context("heap_peak_mb").asInstanceOf[Double],
      "MB", 1)

    // self time per layer; the self-check requires each op's span self
    // times to add up to the op's wall time
    val allSpans = spans ++ jobSpans
    val selfByLayer =
      mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var worst = 0.0
    allSpans.groupBy(_.op).foreach { case (op, ss) =>
      val self = tracer.selfTimes(ss)
      ss.foreach(s => selfByLayer(s.layer) += self(s.id))
      val root = ss.find(_.id == op).get
      worst = math.max(worst, math.abs(self.values.sum - root.dur / 1e9))
    }
    selfChecks("span_self_times_sum_to_op_wall") = worst < 1e-6
    context("span_selfcheck_max_err_s") = worst
    Seq("op", "queries", "plans", "exec", "grid").foreach(l =>
      perPass(s"self.${l}_s", selfByLayer(l), "s"))
    perPass("trace.spans", allSpans.size.toDouble, "count")
    val untraced = passes.filterNot(_.traced).map(_.seconds).toSeq
    val traced = tracedPasses.map(_.seconds)
    add("trace.untraced_pass_s", Stats.median(untraced), "s", untraced.size)
    add("trace.traced_pass_s", Stats.median(traced), "s", n)
    add("trace.overhead_ratio",
      ratio(Stats.median(traced), Stats.median(untraced)), "ratio", n)
    out.toSeq
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
