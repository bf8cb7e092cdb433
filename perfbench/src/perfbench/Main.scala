package perfbench

import scala.util.control.NonFatal

/** Entry point. run.py launches it as
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --data D
  * --work DIR --out DIR --digests FILE`.
  * It prints summary lines, then the result object as the last line. */
object Main {
  /** The gated end-to-end metrics. The p90 latencies stay in the summary
    * lines only: on the batch workload the p90 is the slowest query's time,
    * and its run-to-run spread (15-30 % over ten runs on 4 cores) exceeds
    * any useful bound. */
  val e2eUnits: Map[String, String] = Map("setup_s" -> "s", "wall_s" -> "s",
    "p50_ms" -> "ms", "retained_heap_mb" -> "MB")

  def e2eMetrics(values: Map[String, Double]): Map[String, Metric] =
    e2eUnits.map { case (k, u) => k -> Metric(values(k), u) }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val cfg = Config(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("out"), need("digests"))
    val outcome =
      try cfg.workload match {
        case "batch_curation" => BatchBench.run(cfg)
        case "stream_serve" => StreamBench.run(cfg)
        case w => sys.error(s"unknown workload '$w'")
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          sys.exit(2)
      }
    outcome.summary.foreach(l => println(s"# $l"))
    val metrics = if (cfg.trace) outcome.layers else outcome.e2e
    val body = metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
    }
    println(Json.obj(Seq(
      "correct" -> (outcome.failed == 0).toString,
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "metrics" -> Json.obj(body))))
    System.out.flush()
    // Spark's non-daemon threads must not keep the JVM alive
    sys.exit(0)
  }
}
