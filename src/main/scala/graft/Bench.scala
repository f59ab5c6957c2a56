package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = session(cpus)
    // warm the JVM/codegen once so session init doesn't land on the
    // first timed query: a tiny parquet read initializes the Hadoop FS +
    // column-reader machinery, and a small join+agg compiles the common
    // exchange/broadcast/hash-aggregate codegen paths. The timed queries'
    // own data reads below are still cold on the first rep.
    spark.range(1000).selectExpr("sum(id)").collect()
    locally {
      import org.apache.spark.sql.functions._
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      r.join(broadcast(r.select(col("r_regionkey").as("k"))),
          col("r_regionkey") === col("k"))
        .groupBy("r_name").agg(count(lit(1))).count()
      r.orderBy("r_name").limit(2).collect()
      // ObjectHashAggregate + TypedImperativeAggregate first-use costs
      // (codegen, class load, JIT of the update/merge loops) otherwise
      // land on whichever sketch query runs first — isolated
      // heavy_hitters showed a 5.7x first-rep spike from exactly this
      // (DESIGN_NOTES round 11). Warm the engine path, not the query:
      // tiny inputs, same operators.
      spark.range(256).selectExpr("cast(id % 17 as string) as s")
        .select(graft.functions.MisraGries.misra_gries(col("s"), 4))
        .collect()
      spark.range(256)
        .select(graft.queries.PipelineQueries.ndvSketch(col("id")),
          percentile_approx(col("id"), lit(0.5), lit(100)))
        .collect()
    }
    // per-query median of `reps` round-robin passes: one pass = every
    // query once, in declaration order, so shared-VM noise spreads over
    // all queries instead of polluting whichever query it lands on.
    // Round-over-round comparisons stop chasing +-20% single-shot noise.
    // local iteration aid (driver never sets it): bench only the named
    // queries, comma-separated — mirrors Verify's filter
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n)))
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    // force-materialize metric: count() lets Catalyst prune the columns
    // the count doesn't need, under-measuring projection-heavy queries
    // (decode chains, arithmetic projections). The second timing folds
    // xxhash64 over EVERY output column into one aggregate, so all
    // expression work executes. Both are reported; "value" stays the
    // count() total for round-over-round comparability.
    val fullTimes = scala.collection.mutable.Map.empty[String, List[Double]]
    // a failing query must NEVER be recorded as a timing: in round 7 nine
    // analysis-time failures showed up as ~0.05 s fast-fail "speedups" in
    // the bench artifact. Any failed rep marks the query failed; it is
    // excluded from queries/rep_times/total and reported under "errors".
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // machine-contention telemetry (the VERDICT r10-r13 blind spot: the
    // TPC-H join family swings +-40% round over round in untouched code
    // and the artifact couldn't confirm contention): 1-minute loadavg
    // sampled at run start, per rep-pass, and at run end — a loadavg
    // well above the benched-JVM's own parallelism flags a noisy
    // neighbour, so a swing can finally be charged to the machine or to
    // the code with evidence
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def loadavg: Double = osBean.getSystemLoadAverage
    val loadSamples = scala.collection.mutable.ListBuffer[Double](loadavg)
    for (rep <- 1 to reps) {
      // sample at every rep-pass BOUNDARY (not keyed to any query name:
      // a failing first query must not silently drop the samples)
      if (rep > 1) loadSamples += loadavg
      for (name <- names if !errors.contains(name)) {
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          times(name) =
            ((System.nanoTime() - t0) / 1e9) :: times.getOrElse(name, Nil)
          val t1 = System.nanoTime()
          val d = fn(spark, sfDir)
          import org.apache.spark.sql.functions.{col, expr, xxhash64}
          d.select(xxhash64(d.columns.map(col): _*).as("h"))
            .agg(expr("bit_xor(h)")).collect() // xor: no ANSI overflow
          fullTimes(name) =
            ((System.nanoTime() - t1) / 1e9) :: fullTimes.getOrElse(name, Nil)
        } catch { case e: Throwable =>
          val msg = String.valueOf(e)
          System.err.println(s"[bench] $name FAILED: $msg")
          errors(name) = msg
          times.remove(name) // drop earlier reps: the query is not green
          fullTimes.remove(name)
        }
      }
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val ok = names.filterNot(errors.contains)
    val results = ok.map(n => n -> median(times(n)))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-rep times IN CHRONOLOGICAL ORDER (the prepend-built list is
    // newest-first): medians hide whether a slow number is one cold rep
    // or a uniformly degraded shape — the r6 ngram_dup_spans stamped
    // 14.1 s vs 5.5-6.9 s probed question was undiagnosable without this
    // Locale.ROOT formatting throughout: a comma-decimal default
    // locale (de_DE, fr_FR) would render 0.52 as "0,52" and corrupt
    // the JSON arrays
    val rt = ok.map(n => s"\"" + n + "\":[" +
      times(n).reverse.map(t =>
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(t)))
        .mkString(",") + "]")
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // min-of-reps alongside the median: on a contended bench machine the
    // median absorbs the noise floor while the min stays comparable
    // round over round (the r10 artifact read as a 51% "regression"
    // that was entirely machine contention — the min de-noises that at
    // a glance)
    val minResults = ok.map(n => n -> times(n).min)
    val qsMin = minResults.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val minTotal = minResults.map(_._2).sum
    // sum of FIRST-rep (cold-path) times: with staged tables/indexes
    // built on first use, rep 1 carries the staging cost the median and
    // min amortize away — this is the honest scale proxy alongside them
    // (prepend-built lists are newest-first, so .last is rep 1)
    val rep1Total = ok.map(n => times(n).last).sum
    val fullResults = ok.filter(fullTimes.contains)
      .map(n => n -> median(fullTimes(n)))
    val qsFull = fullResults.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullTotal = fullResults.map(_._2).sum
    val errJson = JsonUtil.obj(errors)
    loadSamples += loadavg
    val loadJson = loadSamples
      .map(v => String.format(java.util.Locale.ROOT, "%.2f",
        Double.box(v)))
      .mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"cpus":$cpus,"loadavg":$loadJson,"queries":$qs,"queries_min":$qsMin,"min_total":$minTotal,"rep1_total":$rep1Total,"queries_full":$qsFull,"full_total":$fullTotal,"rep_times":$rt,"errors":$errJson,"sf":"$sfDir"}"""
    // stdout gets a SHORT summary as the LAST line, per-query maps go
    // to the file artifacts only: the driver's log capture keeps the
    // final ~2000 characters of stdout, and the full JSON outgrew that
    // at round ~4 (30 KB by round 14) — every PERF_r* since has had
    // parsed: null because the captured tail starts mid-line. A line
    // the capture window provably contains restores the driver's
    // round-over-round perf comparison; nothing is lost because the
    // same full map (and more) is in "detail" and the round-stamped
    // BENCH_FULL copy below.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"cpus":$cpus,"loadavg":$loadJson,"n_queries":${ok.size},"min_total":$minTotal,"rep1_total":$rep1Total,"full_total":$fullTotal,"errors":$errJson,"sf":"$sfDir","detail":"$out"}"""
    println(summary)
    // also persist to a file: stdout artifacts have been truncated by
    // log capture, losing the per-query tail — the file is the durable
    // copy of the full map. Path overridable (cwd may not be the repo
    // when launched via spark-submit); best-effort so a read-only cwd
    // can never abort after the timed runs
    // NonFatal (not just IOException): Paths.get can throw unchecked
    // InvalidPathException for a malformed override, and nothing after
    // the timed runs may abort before spark.stop()
    try {
      val p = java.nio.file.Paths.get(out)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(p, json + "\n")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $out: $e")
    }
    // round-stamped copy next to the driver's BENCH_r<N>.json series
    // (cwd = repo root when launched via sbt): the driver's stdout
    // capture keeps truncating the per-query tail, so the stamped file
    // is the durable full artifact for the CURRENT round = 1 + the
    // latest driver-written round. Written at the repo root (NOT under
    // the gitignored target/) so the round-end auto-commit preserves it —
    // the r6/r7 target/ copies the perf analysis relied on never made it
    // into history. SKIPPED for SPARK_GRAFT_ONLY subset runs — a
    // partial run must never overwrite the FULL artifact (an ONLY
    // smoke once clobbered BENCH_FULL_r12 with a 6-query total).
    if (only.isEmpty) try {
      val dir = java.nio.file.Paths.get(".")
      val re = raw"BENCH_r(\d+)\.json".r
      import scala.jdk.CollectionConverters._
      val listing = java.nio.file.Files.list(dir)
      val prev = try listing.iterator().asScala
        .flatMap(p => re.findFirstMatchIn(p.getFileName.toString))
        .map(_.group(1).toInt).maxOption.getOrElse(0)
      finally listing.close()
      val stamped = java.nio.file.Paths.get(
        f"BENCH_FULL_r${prev + 1}%02d.json")
      java.nio.file.Files.writeString(stamped, json + "\n")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write round-stamped copy: $e")
    }
    spark.stop()
  }

  /** The session of Bench, Verify and the introspection tool:
    * `cpus` local cores and shuffle partitions, UTC, and the production
    * extension set — the metadata-answer rules fire in the measured
    * plans, and the oracle gate exercises them against every query.
    */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
