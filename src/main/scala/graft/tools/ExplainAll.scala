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
  * runMain graft.tools.ExplainAll [--exec [--passes <n>]] [--out <dir>] <sfDir> [query ...]
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
  * `--exec --passes <n>` instead builds and runs the listed queries
  * round-robin to the `noop` sink, n passes in one session, printing
  * `[pass <p>] <query> jobs=<n> compiles=<n>` (build jobs included) and
  * a pass total: a whole pass may not fit the codegen cache where each
  * query alone does, and warm passes' compiles count what it evicted.
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val exec = args.contains("--exec")
    def value(flag: String): Option[String] = args.indexOf(flag) match {
      case -1 => None
      case i => Some(args(i + 1))
    }
    val out = value("--out")
    val passes = value("--passes").map(_.toInt)
    val positional = args.zipWithIndex.collect {
      case (a, i) if !a.startsWith("--") &&
        (i == 0 || !Set("--out", "--passes")(args(i - 1))) => a
    }
    require(positional.nonEmpty && (passes.isEmpty || exec),
      "usage: ExplainAll [--exec [--passes <n>]] [--out <dir>] <sfDir> " +
        "[query ...]")
    val sfDir = positional.head
    val names = if (positional.length > 1) positional.tail.toSeq
      else SparkEntry.queries.keys.toSeq
    val spark = Bench.session("4")
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    if (passes.isDefined) {
      for (p <- 1 to passes.get) {
        val counts = names.map { n =>
          Thread.sleep(300); jobs.set(0) // let earlier job events land
          val c0 = compiles
          SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          Thread.sleep(300)
          println(s"[pass $p] $n jobs=${jobs.get} compiles=${compiles - c0}")
          (jobs.get, compiles - c0)
        }
        println(s"[pass $p] total jobs=${counts.map(_._1).sum} " +
          s"compiles=${counts.map(_._2).sum}")
      }
      spark.stop()
      return
    }
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
            val compiled = compiles
            val t0 = System.nanoTime()
            // collect() executes THIS DataFrame's own QueryExecution, so
            // the explain below shows its final adaptive plan
            df.collect()
            val dt = (System.nanoTime() - t0) / 1e9
            val compiledNow = compiles - compiled
            Thread.sleep(300)
            f"[exec] $n jobs=${jobs.get} time=$dt%.3f compiles=$compiledNow%n"
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
