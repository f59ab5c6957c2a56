package graft.tools

import graft.{Bench, SparkEntry}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.FormattedMode

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** Plan and job introspection for the query inventory, under the
  * session Bench and Verify use ([[graft.Bench.session]], graft's
  * rewrites installed) — the plan-quality feedback loop: check that
  * pushed filters reach the scans, small sides broadcast, codegen spans
  * are wide and the metadata rewrites fire.
  *
  * {{{
  * runMain graft.tools.ExplainAll [--exec] [--out <dir>] <sfDir> [query ...]
  * }}}
  *
  * Without `--exec` each query's formatted physical plan is printed
  * unexecuted. With `--exec` each query runs once to warm its staging,
  * then again under a job counter: the line `[exec] <query> jobs=<n>
  * time=<s> compiles=<n>` precedes the final adaptive plan of that run
  * (reused exchanges, runtime join changes). `compiles` counts the
  * generated classes Janino compiled during that warm run: above zero,
  * the session's codegen cache (`spark.sql.codegen.cache.maxEntries`)
  * evicted classes the first run built. `--exec` collects the result, so
  * use it on queries with small results. `--out` writes
  * `<dir>/<query>.txt` per query instead of printing. No query names
  * means every query.
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val exec = args.contains("--exec")
    val out = args.indexOf("--out") match {
      case -1 => None
      case i => Some(args(i + 1))
    }
    val positional = args.zipWithIndex.collect {
      case (a, i) if !a.startsWith("--") &&
        (i == 0 || args(i - 1) != "--out") => a
    }
    require(positional.nonEmpty,
      "usage: ExplainAll [--exec] [--out <dir>] <sfDir> [query ...]")
    val sfDir = positional.head
    val names = if (positional.length > 1) positional.tail.toSeq
      else SparkEntry.queries.keys.toSeq
    val spark = Bench.session("4")
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    out.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { n =>
      val text =
        try {
          val df = SparkEntry.queries(n)(spark, sfDir)
          val head = if (!exec) "" else {
            df.count()
            // listener events arrive asynchronously: let the warm run's
            // jobs land before the counter resets
            Thread.sleep(300); jobs.set(0)
            val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
            val t0 = System.nanoTime()
            // collect() executes THIS DataFrame's own QueryExecution, so
            // the explain below shows its final adaptive plan
            df.collect()
            val dt = (System.nanoTime() - t0) / 1e9
            val compiles =
              CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
            Thread.sleep(300)
            f"[exec] $n jobs=${jobs.get} time=$dt%.3f compiles=$compiles%n"
          }
          head + df.queryExecution.explainString(FormattedMode)
        } catch { case e: Throwable => s"explain failed: $e\n" }
      out match {
        case Some(d) =>
          Files.writeString(Paths.get(d, s"$n.txt"), text)
          println(s"[explain] wrote $d/$n.txt")
        case None => println(s"\n======== $n ========\n$text")
      }
    }
    spark.stop()
  }
}
