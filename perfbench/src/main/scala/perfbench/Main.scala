package perfbench

import java.nio.file.{Files, Paths}

/** Entry point of one benchmark run (launched by `run.py`). Writes the
  * run's full result as JSON to `--out`: the end-to-end metrics and, when
  * traced, the per-layer ones and the span file beside it. `run.py` picks
  * the metrics `BENCHMARK.json` names. */
object Main {

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    HeapMeter.install()
    Files.createDirectories(Paths.get(o.work))
    val r = new Result
    Log(s"${o.workload}, seed ${o.seed}, trace ${o.trace}")
    r.provenance ++= Map("workload" -> o.workload, "seed" -> o.seed,
      "seconds" -> o.seconds, "trace" -> o.trace, "master" -> o.master,
      "cores" -> o.cores)
    o.workload match {
      case "ingest" => Ingest.ingest(o, r, Suite.cal(o.data))
      case "query_suite" => Suite.run(o, r)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    r.spans.foreach { s =>
        val path = o.out.stripSuffix(".json") + "-spans.jsonl"
        s.write(path)
        r.extra("span_file") = path
        r.extra("self_s_by_layer") = s.selfSeconds
    }
    r.extra("peak_heap_after_gc_mb") = HeapMeter.peakMb
    if (o.trace) r.layers("jvm.heap_after_gc_peak_mb") = HeapMeter.peakMb
    Files.writeString(Paths.get(o.out), r.toJson)
  }
}
