package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

import graft.SparkEntry

/** Order-independent result digest: row count plus the wrapping 64-bit
  * sum of XXH64 over each row's UnsafeRow bytes. It executes the
  * DataFrame's own physical plan, so it also warms the code the timed
  * noop write runs. */
object Digests {
  def of(df: DataFrame): (Long, String) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L; var sum = 0L
      rows.foreach { r =>
        val u = proj(r)
        sum += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator((n, sum))
    }.collect()
    (parts.map(_._1).sum, java.lang.Long.toHexString(parts.map(_._2).sum))
  }

  /** `name<TAB>rows<TAB>digest` lines; `#` starts a comment. */
  def load(path: String): Map[String, (Long, String)] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t')).map(a => a(0) -> (a(1).toLong, a(2))).toMap

}

/** `batch_curation`: a pass builds each query with its registry plan
  * builder and executes it to the noop sink. */
object BatchBench {
  /** Actionful builders (driver training loops, eager checkpoints), the
    * shingle/MinHash, BPE, JPEG and Y4M kernels, and two
    * Tables.fanOutNarrow sites (bpe_encode, jpeg_decode). */
  val Queries: Seq[String] = Seq("minhash_clusters", "bpe_encode", "bitext_margin",
    "jpeg_decode", "video_neardup")

  /** Untimed passes after the digest-checked one: the first passes are each
    * faster than the one before (the JIT keeps compiling), and the timed
    * passes must start near the plateau. */
  val WarmPasses = 2

  /** Timed passes. A pass's wall is reported as the sum of each query's
    * median time over the passes. The latency percentiles are taken over
    * every timed execution. */
  final case class Section(passWallS: Seq[Double], queryMs: Map[String, Seq[Double]],
      attempted: Long, failed: Long) {
    def wallS: Double = queryMs.values.map(Stats.median).sum / 1000
    def e2e: Map[String, Double] = {
      val all = queryMs.values.flatten.toSeq
      Map("wall_s" -> wallS, "p50_ms" -> Stats.median(all), "p90_ms" -> Stats.pct(all, 0.9))
    }
  }

  private def err(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** `passes` whole passes, each running the queries in a seeded order. */
  def timed(spark: SparkSession, cfg: Config, names: Seq[String], rnd: Random,
      tracer: Tracer, passes: Int): Section = {
    val registry = SparkEntry.queries
    val walls = ArrayBuffer.empty[Double]
    val lat = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    var attempted = 0L; var failed = 0L
    while (walls.size < passes) {
      val order = rnd.shuffle(names)
      val p0 = System.nanoTime()
      tracer.span("bench.pass", s"pass:${walls.size}") {
        order.foreach { n =>
          attempted += 1
          val q0 = System.nanoTime()
          try tracer.span("bench.query", n) {
            val df = tracer.span("operators.build", n) { registry(n)(spark, cfg.data) }
            tracer.span("exec.write", n) { df.write.format("noop").mode("overwrite").save() }
            lat.getOrElseUpdate(n, ArrayBuffer.empty) += (System.nanoTime() - q0) / 1e6
          } catch { case NonFatal(e) => failed += 1; err(s"$n failed: ${e.getMessage}") }
        }
      }
      walls += (System.nanoTime() - p0) / 1e9
    }
    Section(walls.toSeq, lat.map { case (k, v) => k -> v.toSeq }.toMap, attempted, failed)
  }

  def merge(ss: Seq[Section]): Section = Section(ss.flatMap(_.passWallS),
    ss.flatMap(_.queryMs.toSeq).groupMapReduce(_._1)(_._2)(_ ++ _),
    ss.map(_.attempted).sum, ss.map(_.failed).sum)

  def run(cfg: Config): Outcome = {
    val names = Queries
    val rnd = new Random(cfg.seed)
    val spark = Env.session(cfg.cores, cfg.work)
    // set-up: an untimed pass that builds each query and checks its result
    // digest, which also pays the first reads of the tables, then the
    // JIT's warm-up passes
    val expected = Digests.load(cfg.digests)
    var warmFailed = 0L
    rnd.shuffle(names).foreach { n =>
      try {
        val d = Digests.of(SparkEntry.queries(n)(spark, cfg.data))
        if (!expected.get(n).contains(d)) {
          warmFailed += 1
          err(s"$n digest mismatch: got ${d._1} rows ${d._2}, expected ${expected.get(n)}")
        }
      } catch { case NonFatal(e) => warmFailed += 1; err(s"$n failed in warm pass: ${e.getMessage}") }
    }
    val warm = timed(spark, cfg, names, rnd, new Tracer(false), WarmPasses)
    val setupS = Env.sinceStartS()

    // one pass per two seconds asked for, at least three
    val passes = math.max(3, math.round(cfg.seconds / 2).toInt)
    val plain = timed(spark, cfg, names, rnd, new Tracer(false), passes)
    val heapMb = Env.retainedHeapMb()
    val attempted = names.size + warm.attempted + plain.attempted
    val failed = warmFailed + warm.failed + plain.failed
    val e2e = plain.e2e ++ Map("setup_s" -> setupS, "retained_heap_mb" -> heapMb)
    val summary = Seq(
      s"workload=${cfg.workload} cores=${cfg.cores} queries=${names.size} seed=${cfg.seed}",
      s"setup_s=${Env.fmt(setupS)} s (one set-up: session, a digest-checked pass and " +
        s"$WarmPasses warm-up passes; their walls ${warm.passWallS.map(Env.fmt).mkString(", ")})",
      s"batch_wall_s=${Env.fmt(plain.wallS)} s (sum of per-query median times over " +
        s"${plain.passWallS.size} timed passes; pass walls " +
        plain.passWallS.map(Env.fmt).mkString(", ") + ")",
      s"query_p50_ms=${Env.fmt(e2e("p50_ms"))} ms query_p90_ms=${Env.fmt(e2e("p90_ms"))} ms " +
        s"(over ${plain.queryMs.values.map(_.size).sum} timed executions)",
      "per-query ms (median, then every pass): " + plain.queryMs.toSeq.sortBy(_._1).map { case (q, ts) =>
        s"$q=${Env.fmt(Stats.median(ts))} [${ts.map(t => f"$t%.0f").mkString(" ")}]" }.mkString(", "),
      s"fail_ratio=${failed.toDouble / attempted} ($failed of $attempted operations)",
      s"retained_heap_mb=${Env.fmt(heapMb)} MB")

    if (!cfg.trace) {
      spark.stop()
      return Outcome(attempted, failed, Main.e2eMetrics(e2e), Map.empty, summary)
    }

    // traced section: untraced and traced passes alternate, so the JIT's
    // warm-up drift does not read as tracing overhead
    val tracer = new Tracer(true)
    val exec = new ExecListener(tracer)
    val cat = new CatalystListener(tracer)
    val origin = System.nanoTime()
    val pairs = (1 to 2).map { _ =>
      val off = timed(spark, cfg, names, rnd, new Tracer(false), 1)
      tracer.sc = Some(spark.sparkContext)
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(cat)
      val on = timed(spark, cfg, names, rnd, tracer, 1)
      exec.drain(spark.sparkContext)
      cat.drain(spark)
      spark.sparkContext.removeSparkListener(exec)
      spark.listenerManager.unregister(cat)
      tracer.sc = None
      (off, on)
    }
    val untraced = merge(pairs.map(_._1))
    val traced = merge(pairs.map(_._2))
    val kernels = Kernels.run(spark, cfg.data, tracer)
    val spans = tracer.resolved
    val spanFile = s"${cfg.out}/${cfg.workload}-seed${cfg.seed}.spans.jsonl"
    tracer.write(spanFile, spans, origin)
    spark.stop()

    // single-thread scaling point: one pass at local[1] in a JVM whose JIT
    // is already warm
    val one = Env.session(1, cfg.work)
    val single = timed(one, cfg, names, rnd, new Tracer(false), passes = 1)
    one.stop()

    val layers = Layers.fromListeners(tracer, exec, cat, spans, cfg.cores) ++ kernels ++ Map(
      "overhead.wall_s" -> (traced.wallS - untraced.wallS),
      "overhead.p50_ms" -> (traced.e2e("p50_ms") - untraced.e2e("p50_ms")),
      "overhead.p90_ms" -> (traced.e2e("p90_ms") - untraced.e2e("p90_ms")),
      "scaling.localN_wall_s" -> plain.wallS,
      "scaling.local1_wall_s" -> single.wallS,
      "scaling.speedup" -> single.wallS / plain.wallS)
    val extra = Seq(untraced, traced, single)
    Outcome(attempted + extra.map(_.attempted).sum, failed + extra.map(_.failed).sum,
      Map.empty, Layers.complete(layers),
      summary ++ Seq(
        s"traced batch_wall_s=${Env.fmt(traced.wallS)} s vs ${Env.fmt(untraced.wallS)} s in the " +
          s"untraced passes between them; spans: $spanFile (${spans.size})",
        s"local[1] pass ${Env.fmt(single.wallS)} s vs local[${cfg.cores}] " +
          s"${Env.fmt(plain.wallS)} s"))
  }
}
