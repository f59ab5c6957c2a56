package graftbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Benchmark driver process: runs one workload and writes its raw result
  * (ops, passes, set-ups, metrics, run context) as JSON for `run.py`.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --out FILE [--corpus DIR --inputs-s SECONDS]
  */
object Main {
  def main(argv: Array[String]): Unit =
    try run(argv)
    catch { case e: Throwable =>
      e.printStackTrace()
      sys.exit(1)
    }

  private def run(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val args = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("work"), kv("out"), kv("cores").toInt)
    val h = new Harness(args)
    h.sampleLoad()
    val itemsUnit = args.workload match {
      case "grid_scan" => GridScan.run(h); "scanned cells"
      case "text_pipeline" =>
        TextPipeline.run(h, kv("corpus"), kv("inputs-s").toDouble)
        "documents"
      case "grid_append" => GridAppend.run(h); "appended cells"
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val perLayer = if (args.trace) h.perLayer(GridScan.Ops ++
      TextPipeline.Ops ++ GridAppend.Ops) else Nil
    h.stop()
    h.sampleLoad()
    val rt = Runtime.getRuntime
    val untraced = h.untracedOps
    val report = Map(
      "workload" -> args.workload,
      "seed" -> args.seed,
      "trace" -> args.trace,
      "end_to_end" -> h.endToEnd.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> perLayer.map { case (n, v, u, s) =>
        Map("name" -> n, "value" -> v, "unit" -> u, "samples" -> s) },
      "ops" -> h.ops.map(o => Map("name" -> o.name, "kind" -> o.kind,
        "pass" -> o.pass, "traced" -> o.traced, "seconds" -> o.seconds,
        "ok" -> o.ok, "error" -> o.error)),
      "setups" -> h.setups.map(s => Map("session_s" -> s.session,
        "inputs_s" -> s.inputs, "cold_pass_s" -> s.cold)),
      "passes" -> h.passes.map(p => Map("pass" -> p.index,
        "traced" -> p.traced, "seconds" -> p.seconds, "gc_s" -> p.gcSeconds,
        "items" -> p.items)),
      "self_checks" -> h.selfChecks,
      "samples" -> Map("ops" -> untraced.size,
        "passes" -> h.passes.count(!_.traced), "setups" -> h.setups.size,
        "write_ops" -> untraced.count(_.kind == "write")),
      "write_latency_s" -> {
        val w = untraced.filter(_.kind == "write").map(_.seconds)
        Map("p50" -> Stats.median(w), "p90" -> Stats.quantile(w, 0.9),
          "samples" -> w.size)
      },
      "context" -> (h.context ++ Map(
        "items_unit" -> itemsUnit,
        "cores_used" -> args.cores,
        "cores_online" -> rt.availableProcessors(),
        "loadavg" -> h.loadavg,
        "jvm_max_heap_mb" -> rt.maxMemory() / 1048576,
        "jvm" -> System.getProperty("java.vm.version"),
        "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
          .map(b => Map("name" -> b.getName, "count" -> b.getCollectionCount,
            "ms" -> b.getCollectionTime)))))
    val out = java.nio.file.Paths.get(args.out)
    java.nio.file.Files.writeString(out, Json.render(report))
    // Spark leaves non-daemon threads behind after stop()
    sys.exit(0)
  }
}
