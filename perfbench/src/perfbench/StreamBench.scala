package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.UUID
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import java.util.concurrent.locks.LockSupport

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.SparkEntry
import graft.functions.ResultCache
import graft.operators.{Ingest, Sinks, WindowAgg}
import graft.serving.ApiServer
import graft.sources.SensorGen
import graft.streaming.StreamingPipeline

/** The reference topology (generator → decode → window + raw sinks →
  * HTTP API) in one process. The pipeline keeps the reference's 1-minute
  * window and 1-minute watermark; the generator's event clock runs
  * `EventScale` times faster than wall time, so a window closes every wall
  * second.
  *
  * The two sink queries are started exactly as `StreamingPipeline.runBoth`
  * starts them, except that each reads its own MemoryStream and the
  * generator appends every chunk to both, as two consumer groups read one
  * Kafka topic: MemoryStream keeps one commit position, so two queries on
  * one instance fail with "Offsets committed out of order". */
final class StreamRig(spark: SparkSession, dir: String, seed: Long, val eventBaseMs: Long) {
  import StreamRig._

  @volatile var tracer = new Tracer(false)
  private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
  private implicit val enc: org.apache.spark.sql.Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
  private val aggIn = MemoryStream[Array[Byte]]
  private val rawIn = MemoryStream[Array[Byte]]
  val rawPath = s"$dir/sensor_data"
  val aggPath = s"$dir/sensor_aggregates"
  private val rnd = new Random(seed)

  // generator ledger, one entry per event in send order
  val due = new Column[Long] // scheduled send time, nanoTime
  val evt = new Column[Long] // event time, epoch µs
  val kind = new Column[Byte]
  val group = new Column[Int] // device_type * 6 + location
  val value = new Column[Double]
  /** First event index of each MemoryStream offset (one addData call). */
  val chunkStart = ArrayBuffer.empty[Int]
  @volatile var lagMaxMs = 0.0
  @volatile var backlogMax = 0L

  private var t0Nano = 0L
  val rawReturn = TrieMap.empty[Long, Long] // batch → raw sink return (nanoTime)
  val windowReturn = TrieMap.empty[Long, Long] // window start ms → agg sink return
  val sinkNs = new LongAdder
  private val triggerIds = TrieMap.empty[(String, Long), Long]

  // ---- progress listener -------------------------------------------------

  val progress = TrieMap.empty[(UUID, Long), StreamingQueryProgress]
  private val endOffset = TrieMap.empty[UUID, Long]
  private val watermarkMs = TrieMap.empty[UUID, Long]
  @volatile var rawQ: StreamingQuery = _
  @volatile var aggQ: StreamingQuery = _

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.put((p.id, p.batchId), p)
      p.sources.headOption.flatMap(s => Option(s.endOffset)).foreach(o => endOffset.put(p.id, o.trim.toLong))
      Option(p.eventTime.get("watermark")).foreach(w => watermarkMs.put(p.id, Instant.parse(w).toEpochMilli))
      val t = tracer
      if (t.on && rawQ != null) {
        val q = if (p.id == rawQ.id) "raw" else "agg"
        val start = t.fromEpochMs(Instant.parse(p.timestamp).toEpochMilli)
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        t.add(Span(triggerId(q, p.batchId), 0, "streaming.trigger", s"$q:${p.batchId}",
          start, start + ms * 1000000L))
      }
    }
  }

  private def triggerId(q: String, b: Long): Long =
    if (tracer.on) triggerIds.getOrElseUpdate((q, b), tracer.newId()) else 0L

  private def rawSink(df: DataFrame, b: Long): Unit = {
    val s0 = System.nanoTime()
    tracer.span("Sinks.write", s"raw:$b", triggerId("raw", b)) { Sinks.appendParquet(df, rawPath) }
    val s1 = System.nanoTime()
    sinkNs.add(s1 - s0)
    rawReturn.put(b, s1)
  }

  private def aggSink(df: DataFrame, b: Long): Unit = {
    val s0 = System.nanoTime()
    tracer.span("Sinks.write", s"agg:$b", triggerId("agg", b)) { Sinks.appendParquet(df, aggPath) }
    val s1 = System.nanoTime()
    sinkNs.add(s1 - s0)
    df.select("window_start").distinct().collect()
      .foreach(r => windowReturn.putIfAbsent(r.getTimestamp(0).getTime, s1))
  }

  // ---- lifecycle ---------------------------------------------------------

  /** Sink tables preloaded with `rows` 1 Hz readings ending at the event
    * base, and their 1-minute aggregates. */
  def preload(rows: Int): Unit = {
    val start = LocalDateTime.ofEpochSecond(eventBaseMs / 1000 - rows, 0, ZoneOffset.UTC)
      .format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val hist = SensorGen.batch(spark, rows, seed, start, stepSeconds = 1)
    Sinks.appendParquet(hist, rawPath)
    Sinks.appendParquet(WindowAgg.sensorAggregates(hist, "1 minute", None), aggPath)
  }

  def start(): Unit = {
    spark.streams.addListener(listener)
    aggQ = StreamingPipeline.aggregateWriter(
      StreamingPipeline.aggregates(Ingest.decode(aggIn.toDF())), s"$dir/checkpoint/agg",
      aggSink).start()
    rawQ = StreamingPipeline.rawWriter(Ingest.decode(rawIn.toDF()), s"$dir/checkpoint/raw",
      rawSink).start()
    t0Nano = System.nanoTime()
  }

  def stop(): Unit = {
    Seq(rawQ, aggQ).filter(_ != null).foreach(_.stop())
    spark.streams.removeListener(listener)
  }

  def processAll(): Unit = { rawQ.processAllAvailable(); aggQ.processAllAvailable() }

  /** Wait until the listener has seen the last progress of both queries. */
  def awaitProgress(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def seen(q: StreamingQuery) =
      Option(q.lastProgress).forall(p => progress.contains((q.id, p.batchId)))
    while (!(seen(rawQ) && seen(aggQ)) && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  // ---- generator ---------------------------------------------------------

  private def evtOf(dueNano: Long): Long =
    eventBaseMs * 1000L + (dueNano - t0Nano) / 1000L * EventScale

  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
  private def iso(us: Long): String =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC).format(isoFmt)

  /** One reading with generator.py's fields and domains. A `disorder`
    * share of events is late: it lands in a window that ends at or before
    * the last reported watermark, so the aggregation must drop it; another
    * `disorder` share is out of order: it goes up to half a window back,
    * which keeps its window open. */
  private def event(dueNano: Long, disorder: Double, at: Option[Long] = None): Array[Byte] = {
    val base = at.getOrElse(evtOf(dueNano))
    val wm = if (aggQ == null) 0L else watermarkMs.getOrElse(aggQ.id, 0L)
    val u = rnd.nextDouble()
    val (k, t) =
      if (wm > 0 && u < disorder)
        (Late, windowOf(wm * 1000L) * 1000L - 1L - (rnd.nextDouble() * 2 * WindowUs).toLong)
      else if (u < 2 * disorder) (Ooo, base - (rnd.nextDouble() * WindowUs / 2).toLong)
      else (Normal, base)
    val dev = 1 + rnd.nextInt(100)
    val ty = rnd.nextInt(SensorGen.deviceTypes.size)
    val loc = rnd.nextInt(SensorGen.locations.size)
    val v = math.round(rnd.nextDouble() * 10000) / 100.0
    val battery = rnd.nextDouble() * 100
    due += dueNano; evt += t; kind += k; group += ty * 6 + loc; value += v
    (s"""{"device_id": "sensor_$dev", "device_type": "${SensorGen.deviceTypes(ty)}", """ +
      s""""location": "${SensorGen.locations(loc)}", "value": $v, """ +
      s""""battery_level": $battery, "timestamp": "${iso(t)}"}""").getBytes(UTF_8)
  }

  /** Appends one chunk to both streams; returns the raw query's backlog. */
  private def addChunk(first: Int, payloads: Seq[Array[Byte]]): Long = {
    chunkStart += first
    rawIn.addData(payloads)
    aggIn.addData(payloads)
    val backlog = (due.size - processedBy(rawQ)).toLong
    if (backlog > backlogMax) backlogMax = backlog
    backlog
  }

  /** Events the query has consumed, from its last reported end offset. */
  private def processedBy(q: StreamingQuery): Int =
    endOffset.get(q.id).map(o => if (o + 1 < chunkStart.size) chunkStart((o + 1).toInt) else due.size)
      .getOrElse(0)

  /** Open loop: `rate × seconds` events, event j due at start + j / rate.
    * Each chunk carries every event already due, and chunks are at least
    * `ChunkGapMs` apart (a producer's linger): MemoryStream turns every
    * chunk into one input partition, i.e. one task and one sink file.
    * Returns the events sent, the seconds it took to send them and the raw
    * query's largest backlog in the second and in the last third of them
    * (the first third lets the backlog settle). */
  def openLoop(rate: Double, seconds: Double, disorder: Double): StreamRig.Sent = {
    val n = math.max(1L, math.round(rate * seconds)).toInt
    val first = due.size
    val start = System.nanoTime()
    def dueAt(j: Int) = start + (j * 1e9 / rate).toLong
    var i = 0
    var last = Long.MinValue / 2
    val thirdMax = Array(0L, 0L, 0L)
    while (i < n) {
      val now = System.nanoTime()
      val wake = math.max(dueAt(i), last + ChunkGapMs * 1000000L)
      if (now >= wake) {
        val upto = math.min(n.toLong, ((now - start) * rate / 1e9).toLong + 1).toInt
        lagMaxMs = math.max(lagMaxMs, (now - dueAt(i)) / 1e6)
        val backlog = addChunk(due.size, (i until upto).map(j => event(dueAt(j), disorder)))
        val t = (3L * i / n).toInt
        thirdMax(t) = math.max(thirdMax(t), backlog)
        i = upto
        last = now
      } else LockSupport.parkNanos(wake - now)
    }
    Sent(first until due.size, (last - start) / 1e9, thirdMax(1), thirdMax(2))
  }

  /** Drain time of a backlog of `n` events appended at once, split into
    * `parts` chunks (input partitions). */
  def burst(n: Int, parts: Int, disorder: Double): Double = {
    processAll()
    val first = due.size
    val payloads = (0 until n).map(_ => event(System.nanoTime(), disorder))
    val t0 = System.nanoTime()
    (first until due.size).foreach(i => due(i) = t0)
    payloads.grouped((n + parts - 1) / parts).zipWithIndex.foreach { case (p, k) =>
      addChunk(first + k * ((n + parts - 1) / parts), p)
    }
    processAll()
    (System.nanoTime() - t0) / 1e9
  }

  /** Two events far ahead of the stream: the first moves the watermark
    * past every open window, the second runs the batch that emits them. */
  def flush(): Unit = {
    val ahead = evt.max + 3 * WindowUs
    (1 to 2).foreach { _ =>
      addChunk(due.size, Seq(event(System.nanoTime(), 0, Some(ahead))))
      processAll()
    }
  }

  // ---- measurements (after awaitProgress) ---------------------------------

  private def offsets(p: StreamingQueryProgress): (Long, Long) = {
    val s = p.sources.head
    (Option(s.startOffset).map(_.trim).filter(_ != "null").map(_.toLong).getOrElse(-1L),
      s.endOffset.trim.toLong)
  }

  /** The batch of query `q` that read each event (-1 if none did). */
  def batchPerEvent(q: StreamingQuery): Array[Long] = {
    val batch = Array.fill(due.size)(-1L)
    progress.foreach { case ((id, b), p) =>
      if (id == q.id) {
        val (s, e) = offsets(p)
        var k = s + 1
        while (k <= e) {
          val from = chunkStart(k.toInt)
          val to = if (k + 1 < chunkStart.size) chunkStart((k + 1).toInt) else due.size
          (from until to).foreach(i => batch(i) = b)
          k += 1
        }
      }
    }
    batch
  }

  /** Raw-sink return time per event (-1 if never written). */
  def rawReturnPerEvent(): Array[Long] =
    batchPerEvent(rawQ).map(b => rawReturn.getOrElse(b, -1L))

  def latenciesMs(range: Range, ret: Array[Long]): Seq[Double] =
    range.filter(ret(_) >= 0).map(i => (ret(i) - due(i)) / 1e6)

  /** Window-close latency for windows whose scheduled close falls in
    * `range`: the close is due with the first event whose event time
    * reaches window end + watermark delay. */
  def windowLatenciesMs(range: Range): Seq[Double] = {
    val windows = (0 until due.size).filter(kind(_) != Late).map(i => windowOf(evt(i))).distinct.sorted
    var w = 0; var maxEvt = Long.MinValue
    val out = ArrayBuffer.empty[Double]
    (0 until due.size).foreach { i =>
      if (kind(i) != Late) maxEvt = math.max(maxEvt, evt(i))
      while (w < windows.size && (windows(w) + 2 * WindowMs) * 1000L <= maxEvt) {
        if (range.contains(i)) windowReturn.get(windows(w)).foreach(t => out += (t - due(i)) / 1e6)
        w += 1
      }
    }
    out.toSeq
  }

  /** Raw rows, late drops and every closed window checked against the
    * ledger. Returns (checks attempted, checks failed, messages). */
  def check(historyRows: Long): (Long, Long, Seq[String]) = {
    val msgs = ArrayBuffer.empty[String]
    var attempted = 0L; var failed = 0L
    def verdict(ok: Boolean, msg: => String): Unit = {
      attempted += 1; if (!ok) { failed += 1; if (msgs.size < 20) msgs += msg }
    }
    val rawRows = spark.read.parquet(rawPath).count() - historyRows
    verdict(rawRows == due.size, s"raw sink holds $rawRows stream rows, sent ${due.size}")
    val dropped = progress.collect { case ((id, _), p) if id == aggQ.id =>
      p.stateOperators.map(_.numRowsDroppedByWatermark).sum }.sum
    // the state operator drops rows after the pre-shuffle partial
    // aggregation, so it counts one row per (batch, window, group) of
    // late events
    val aggBatch = batchPerEvent(aggQ)
    val lateKeys = (0 until due.size).filter(kind(_) == Late)
      .map(i => (aggBatch(i), windowOf(evt(i)), group(i))).distinct.size
    verdict(dropped == lateKeys, s"late rows dropped $dropped, expected $lateKeys " +
      s"(${kind.count(_ == Late)} late events)")
    // expected aggregates of every window the final watermark closed
    val finalWmMs = evt.max / 1000L - WindowMs
    val exp = mutable.Map.empty[(Long, Int), Array[Double]] // count, min, max, sum
    (0 until due.size).filter(kind(_) != Late).foreach { i =>
      val w = windowOf(evt(i))
      if (w + WindowMs <= finalWmMs) {
        val a = exp.getOrElseUpdate((w, group(i)),
          Array(0.0, Double.PositiveInfinity, Double.NegativeInfinity, 0.0))
        a(0) += 1; a(1) = math.min(a(1), value(i)); a(2) = math.max(a(2), value(i)); a(3) += value(i)
      }
    }
    val got = spark.read.parquet(aggPath)
      .filter(col("window_start") >= lit(new java.sql.Timestamp(eventBaseMs)))
      .select("window_start", "device_type", "location", "reading_count",
        "min_value", "max_value", "avg_value").collect()
    val seen = mutable.Set.empty[(Long, Int)]
    got.foreach { r =>
      val key = (r.getTimestamp(0).getTime,
        SensorGen.deviceTypes.indexOf(r.getString(1)) * 6 + SensorGen.locations.indexOf(r.getString(2)))
      val ok = exp.get(key).exists { a =>
        r.getLong(3) == a(0).toLong && r.getDouble(4) == a(1) && r.getDouble(5) == a(2) &&
          math.abs(r.getDouble(6) - a(3) / a(0)) <= 1e-9 * math.abs(a(3) / a(0))
      }
      verdict(ok && seen.add(key), s"window $key: got $r, expected ${exp.get(key).map(_.toSeq)}")
    }
    (exp.keySet -- seen).foreach(k => verdict(false, s"window $k missing from the aggregate sink"))
    (attempted, failed, msgs.toSeq)
  }

  /** Durations and state of the batches with ids above `after`. */
  def progressSince(after: Map[UUID, Long]): Seq[StreamingQueryProgress] =
    progress.collect { case ((id, b), p) if b > after.getOrElse(id, -1L) => p }.toSeq

  def lastBatchIds: Map[UUID, Long] =
    Seq(rawQ, aggQ).map(q => q.id -> Option(q.lastProgress).map(_.batchId).getOrElse(-1L)).toMap

  def sinkFiles(): Int = Seq(rawPath, aggPath).map { p =>
    Option(new java.io.File(p).listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
  }.sum
}

/** A growable primitive array. The ledger holds hundreds of thousands of
  * events; boxed, it would make the retained heap follow how far the rate
  * ladder got. */
final class Column[T: ClassTag] {
  private var a = new Array[T](1 << 12)
  var size = 0
  def +=(x: T): Unit = {
    if (size == a.length) {
      val b = new Array[T](2 * size)
      System.arraycopy(a, 0, b, 0, size)
      a = b
    }
    a(size) = x
    size += 1
  }
  def apply(i: Int): T = a(i)
  def update(i: Int, x: T): Unit = a(i) = x
  def count(p: T => Boolean): Int = (0 until size).count(i => p(a(i)))
  def max(implicit o: Ordering[T]): T = (0 until size).iterator.map(a(_)).max
}

object StreamRig {
  final case class Sent(events: Range, sendS: Double, backlogBefore: Long, backlogAfter: Long)

  val Normal: Byte = 0
  val Ooo: Byte = 1
  val Late: Byte = 2
  /** Event-time seconds per wall second: the 1-minute window closes every
    * wall second. */
  val EventScale = 60L
  val ChunkGapMs = 50L
  val WindowMs = 60000L
  val WindowUs: Long = WindowMs * 1000L
  def windowOf(evtUs: Long): Long = Math.floorDiv(evtUs / 1000L, WindowMs) * WindowMs
}

/** One closed-loop client on one HTTP/1.1 connection, with a seeded
  * request mix. */
final class ApiClient(port: Int, seed: Long, rawCalls: AtomicLong, query: String) {
  @volatile var tracer = new Tracer(false)
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val rnd = new Random(seed)
  val samples = ArrayBuffer.empty[(String, Double)]
  var attempted = 0L
  var failed = 0L
  var cacheable = 0L
  var hits = 0L
  @volatile private var running = false
  private var thread: Thread = _

  /** The six endpoint kinds, equally likely: the reference has no client
    * to take a mix from. The filtered `/api/data/latest` draws from 4 keys
    * so that the cache gets hits. */
  private def pick(): (String, String) = {
    def ty = SensorGen.deviceTypes(rnd.nextInt(2))
    def loc = SensorGen.locations(rnd.nextInt(2))
    rnd.nextInt(6) match {
      case 0 => "latest_cached" -> s"/api/data/latest?device_type=$ty&location=$loc"
      case 1 => "latest_uncached" -> "/api/data/latest"
      case 2 => "aggregates" -> s"/api/aggregates?hours=${1 + rnd.nextInt(24)}"
      case 3 => "stats" -> "/api/stats"
      case 4 => "sensors" -> "/api/sensors"
      case _ => "query" -> s"/api/query/$query?limit=10"
    }
  }

  /** One request; returns false on a non-2xx status or a wrong shape. */
  def call(kindName: String, path: String): Boolean = tracer.span("serving.request", kindName) {
    val calls0 = rawCalls.get
    val t0 = System.nanoTime()
    val ok = try {
      val r = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val b = r.body.trim
      r.statusCode / 100 == 2 && (kindName match {
        case "stats" => b.startsWith("{") && b.contains("\"total_readings\"")
        case "latest_cached" => b.startsWith("[") && b.endsWith("]") &&
          (b == "[]" || b.contains("\"device_type\":\"" + path.split("device_type=")(1).takeWhile(_ != '&')))
        case _ => b.startsWith("[") && b.endsWith("]")
      })
    } catch { case NonFatal(e) => System.err.println(s"[perfbench] $path: $e"); false }
    samples += kindName -> (System.nanoTime() - t0) / 1e6
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] request $path failed") }
    if (kindName == "latest_cached") { cacheable += 1; if (rawCalls.get == calls0) hits += 1 }
    ok
  }

  def start(): Unit = {
    running = true
    thread = new Thread(() => while (running) { val (k, p) = pick(); call(k, p) }, "perfbench-client")
    thread.start()
  }

  def stop(): Unit = { running = false; thread.join() }

  /** The counts so far, then zeroed. */
  def take(): ApiClient.Calls = {
    val c = ApiClient.Calls(samples.toList, attempted, failed, cacheable, hits)
    samples.clear(); attempted = 0; failed = 0; cacheable = 0; hits = 0
    c
  }
}

object ApiClient {
  final case class Calls(samples: Seq[(String, Double)], attempted: Long, failed: Long,
      cacheable: Long, hits: Long) {
    def latencies: Seq[Double] = samples.map(_._2)
    def p50(kind: String): Double = Stats.pct(samples.filter(_._1 == kind).map(_._2), 0.5)
  }
}

/** `stream_serve`: set-up, then phase A (10 events/s, first alone, then
  * beside the API client), phase B (backlog bursts, then in traced runs a
  * rate ladder), then drain and checks. The gated latency is taken from the first part
  * of phase A: the client's seeded mix of a dozen heavy requests moved the
  * median event latency by up to 80 % from seed to seed.
  *
  * Only the 10 events/s design point and the 1-minute window and
  * watermark come from the reference. The disorder share, the request mix,
  * the ladder, the latency limit and the burst size are this benchmark's
  * own choices. */
object StreamBench {
  val HistoryRows = 1800
  /** Share of late events, and again of out-of-order events, everywhere. */
  val Disorder = 0.05
  val LatencyLimitMs = 3000.0
  /** Ladder rates double from `LadderBasePerCore` × cores up to
    * `LadderTop`; every step runs `StepSeconds` and the ladder stops at the
    * first failing one. */
  val LadderBasePerCore = 2000.0
  val LadderTop = 256000.0
  val StepSeconds = 3.0
  /** A step fails when the backlog's largest value in its last third
    * exceeds this multiple of its largest value in the second third. */
  val BacklogGrowth = 1.5
  val BurstEvents = 32000
  val Bursts = 5
  /** Untimed bursts before the timed ones: after phase A's small batches
    * the first bursts each drain faster than the one before. */
  val WarmBursts = 2
  val RegistryQuery = "groupby_count"

  /** One ladder step: its rate, the raw-sink p99 of its events and how
    * they were sent. It also fails when the generator could not send it
    * within 10 % of its length, since then the rate was not offered. */
  final case class Step(rate: Double, p99Ms: Double, sent: StreamRig.Sent) {
    def sustained: Boolean = p99Ms <= LatencyLimitMs &&
      sent.backlogAfter <= BacklogGrowth * sent.backlogBefore && sent.sendS <= 1.1 * StepSeconds
    override def toString: String =
      f"${rate.toInt}/s p99=$p99Ms%.0fms backlog=${sent.backlogBefore}->${sent.backlogAfter} " +
        f"sent in ${sent.sendS}%.2fs" + (if (sustained) "" else " (failed)")
  }

  /** `a`: 10 events/s alone; `served`: 10 events/s beside the API client. */
  final case class Section(a: Range, served: Range, ladder: Seq[Step],
      bursts: Seq[Double], lagMs: Double, backlogMax: Long, sinkMs: Double,
      api: ApiClient.Calls)

  private def err(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Phase A, the bursts, then `beforeLadder` and, if `withLadder`, the
    * ladder: how far the ladder gets depends on the host, so nothing gated
    * is taken after it. */
  def timed(rig: StreamRig, client: ApiClient, seconds: Double, cores: Int,
      withLadder: Boolean, beforeLadder: => Unit = ()): Section = {
    rig.lagMaxMs = 0; rig.backlogMax = 0
    val sink0 = rig.sinkNs.sum
    val a = rig.openLoop(10, seconds * 0.5, Disorder).events
    client.start()
    val served = try rig.openLoop(10, seconds * 0.35, Disorder).events finally client.stop()
    val api = client.take()
    (1 to WarmBursts).foreach(_ => rig.burst(BurstEvents, cores, Disorder))
    val bursts = (1 to Bursts).map(_ => rig.burst(BurstEvents, cores, Disorder))
    beforeLadder
    val steps = if (withLadder) ladder(rig, cores) else Nil
    Section(a, served, steps, bursts, rig.lagMaxMs, rig.backlogMax,
      (rig.sinkNs.sum - sink0) / 1e6, api)
  }

  /** Steps of doubling rate, each drained before the next, up to the first
    * that fails. */
  def ladder(rig: StreamRig, cores: Int): Seq[Step] = {
    val steps = ArrayBuffer.empty[Step]
    var rate = LadderBasePerCore * cores
    while (rate <= LadderTop && steps.forall(_.sustained)) {
      rig.processAll()
      val sent = rig.openLoop(rate, StepSeconds, Disorder)
      rig.processAll()
      rig.awaitProgress()
      val l = rig.latenciesMs(sent.events, rig.rawReturnPerEvent())
      steps += Step(rate, if (l.size == sent.events.size) Stats.pct(l, 0.99) else Double.PositiveInfinity, sent)
      rate *= 2
    }
    steps.toSeq
  }

  /** Highest sustained ladder rate (0 if none). */
  def sustained(steps: Seq[Step]): Double =
    steps.takeWhile(_.sustained).lastOption.map(_.rate).getOrElse(0.0)

  def run(cfg: Config): Outcome = {
    val spark = Env.session(cfg.cores, cfg.work)
    val dir = s"${cfg.work}/stream"
    Env.deleteTree(new java.io.File(dir))
    val eventBaseMs = (System.currentTimeMillis() / 60000L - 120L) * 60000L
    val rig = new StreamRig(spark, dir, cfg.seed, eventBaseMs)
    rig.preload(HistoryRows)
    rig.start()
    val rawCalls = new AtomicLong
    val supplierNs = new LongAdder
    var supplierTracer = new Tracer(false)
    def supplier(path: String): DataFrame = supplierTracer.span("serving.supplier", path, -1) {
      val t0 = System.nanoTime()
      if (path == rig.rawPath) rawCalls.incrementAndGet()
      val df = spark.read.parquet(path)
      supplierNs.add(System.nanoTime() - t0)
      df
    }
    val server = new ApiServer(() => supplier(rig.rawPath), () => supplier(rig.aggPath), new ResultCache(),
      registry = Some(ApiServer.QueryRegistry(spark, cfg.data, SparkEntry.queries))).start()
    val client = new ApiClient(server.boundPort, cfg.seed, rawCalls, RegistryQuery)
    // warm every endpoint while the stream warms up
    val apiWarm = new Thread(() => Seq(
      "latest_cached" -> "/api/data/latest?device_type=temperature&location=room1",
      "latest_uncached" -> "/api/data/latest", "aggregates" -> "/api/aggregates?hours=3",
      "stats" -> "/api/stats", "sensors" -> "/api/sensors",
      "query" -> s"/api/query/$RegistryQuery?limit=10").foreach { case (k, p) => client.call(k, p) })
    apiWarm.start()
    // one burst compiles the batch path's hot code before phase A times it
    rig.burst(BurstEvents, cfg.cores, 0)
    rig.openLoop(20, 1.5, 0)
    rig.processAll()
    apiWarm.join()
    val warm = client.take()
    val setupS = Env.sinceStartS()

    var heapMb = 0.0
    // the ladder runs only in traced runs, which take its rate from this
    // untraced section: it is not gated and would double a plain run
    val plain = timed(rig, client, cfg.seconds, cfg.cores, withLadder = cfg.trace,
      { heapMb = Env.retainedHeapMb() })

    // traced section on the same running pipeline
    val tracer = new Tracer(true)
    val exec = new ExecListener(tracer)
    val cat = new CatalystListener(tracer)
    val before = if (cfg.trace) { rig.processAll(); rig.awaitProgress(); rig.lastBatchIds } else Map.empty[UUID, Long]
    val tracedOrigin = System.nanoTime()
    val supplier0 = supplierNs.sum
    val traced = if (!cfg.trace) None else {
      tracer.sc = Some(spark.sparkContext)
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(cat)
      rig.tracer = tracer; client.tracer = tracer; supplierTracer = tracer
      Some(timed(rig, client, cfg.seconds, cfg.cores, withLadder = false))
    }
    val tracedSupplierMs = (supplierNs.sum - supplier0) / 1e6

    // drain and check
    rig.processAll()
    rig.flush()
    rig.awaitProgress()
    server.stop()
    val (checks, checkFailed, msgs) = rig.check(HistoryRows)
    msgs.foreach(m => err(s"stream check failed: $m"))
    val ret = rig.rawReturnPerEvent()
    val unwritten = ret.count(_ < 0)
    if (unwritten > 0) err(s"$unwritten events have no raw-sink write")

    def lat(s: Section) = rig.latenciesMs(s.a, ret)
    val aLat = lat(plain)
    val servedLat = rig.latenciesMs(plain.served, ret)
    val windows = rig.windowLatenciesMs(plain.a.start until plain.served.end)
    val eps = sustained(plain.ladder)
    val api = plain.api.latencies
    val calls = Seq(warm, plain.api) ++ traced.map(_.api)
    val attempted = rig.due.size + calls.map(_.attempted).sum + checks
    val failed = unwritten + calls.map(_.failed).sum + checkFailed
    val e2e = Map("setup_s" -> setupS, "wall_s" -> Stats.median(plain.bursts),
      "p50_ms" -> Stats.pct(aLat, 0.5), "p90_ms" -> Stats.pct(aLat, 0.9), "retained_heap_mb" -> heapMb)
    val saturated = if (plain.ladder.exists(!_.sustained)) "" else s"; not saturated at ${LadderTop.toInt}/s"
    val ladderLine =
      if (plain.ladder.isEmpty) "stream_sustained_eps: the rate ladder runs with --trace 1"
      else s"stream_sustained_eps=$eps 1/s (${StepSeconds}-s steps; raw-sink p99 <= ${LatencyLimitMs.toInt} ms " +
        s"and backlog growth <= ${BacklogGrowth}x; ladder: ${plain.ladder.mkString(", ")}$saturated)"
    val summary = Seq(
      s"workload=stream_serve cores=${cfg.cores} seed=${cfg.seed} events=${rig.due.size} " +
        s"late=${rig.kind.count(_ == StreamRig.Late)} ooo=${rig.kind.count(_ == StreamRig.Ooo)}",
      s"setup_s=${Env.fmt(setupS)} s (one set-up: session, history preload, stream start, warm-up burst and stream, API warm-up)",
      s"stream_p50_ms=${Env.fmt(e2e("p50_ms"))} ms stream_p90_ms=${Env.fmt(e2e("p90_ms"))} ms " +
        s"(${aLat.size} events at 10/s, no API traffic)",
      s"beside the API client: stream_p50_ms=${Env.fmt(Stats.pct(servedLat, 0.5))} ms " +
        s"stream_p90_ms=${Env.fmt(Stats.pct(servedLat, 0.9))} ms (${servedLat.size} events)",
      s"window_p50_ms=${Env.fmt(Stats.pct(windows, 0.5))} ms (${windows.size} windows)",
      ladderLine,
      s"burst_drain_s=${Env.fmt(e2e("wall_s"))} s (median of ${plain.bursts.size} bursts of " +
        s"$BurstEvents events: ${plain.bursts.map(Env.fmt).mkString(", ")})",
      s"api_p50_ms=${Env.fmt(Stats.pct(api, 0.5))} ms api_p99_ms=${Env.fmt(Stats.pct(api, 0.99))} ms " +
        s"(${api.size} requests)",
      s"fail_ratio=${failed.toDouble / attempted} ($failed of $attempted operations)",
      s"retained_heap_mb=${Env.fmt(heapMb)} MB")

    if (!cfg.trace) {
      rig.stop(); spark.stop()
      return Outcome(attempted, failed, Main.e2eMetrics(e2e),
        Map.empty, summary)
    }

    val t = traced.get
    exec.drain(spark.sparkContext)
    cat.drain(spark)
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(cat)
    tracer.sc = None
    val kernels = Kernels.run(spark, cfg.data, tracer)
    val spans = tracer.resolved
    val spanFile = s"${cfg.out}/stream_serve-seed${cfg.seed}.spans.jsonl"
    tracer.write(spanFile, spans, tracedOrigin)
    val tLat = lat(t)
    val ps = rig.progressSince(before)
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum.toDouble
    val aggPs = ps.filter(_.id == rig.aggQ.id)
    val tApi = t.api.latencies
    val sinkFiles = rig.sinkFiles()
    rig.stop(); spark.stop()

    // single-thread scaling point: phase B only, on a fresh pipeline
    val one = Env.session(1, cfg.work)
    val dir1 = s"${cfg.work}/stream1"
    Env.deleteTree(new java.io.File(dir1))
    val rig1 = new StreamRig(one, dir1, cfg.seed, eventBaseMs)
    rig1.start()
    rig1.openLoop(20, 1.5, 0)
    val ladder1 = ladder(rig1, 1)
    val bursts1 = (1 to 3).map(_ => rig1.burst(BurstEvents, cfg.cores, Disorder))
    rig1.processAll(); rig1.awaitProgress()
    val eps1 = sustained(ladder1)
    rig1.stop(); one.stop()

    val layers = Layers.fromListeners(tracer, exec, cat, spans, cfg.cores) ++ kernels ++ Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.state_rows" -> aggPs.map(_.stateOperators.map(_.numRowsTotal).sum).maxOption.getOrElse(0L).toDouble,
      "streaming.state_memory_bytes" ->
        aggPs.map(_.stateOperators.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L).toDouble,
      "streaming.backlog_rows_max" -> plain.backlogMax.toDouble,
      "streaming.late_dropped_rows" -> rig.progress.collect { case ((id, _), p) if id == rig.aggQ.id =>
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum }.sum.toDouble,
      "streaming.late_injected_rows" -> rig.kind.count(_ == StreamRig.Late).toDouble,
      "streaming.window_p50_ms" -> Stats.pct(rig.windowLatenciesMs(t.a.start until t.served.end), 0.5),
      "streaming.sustained_eps" -> eps,
      "gen.lag_ms_max" -> t.lagMs,
      "Sinks.write_ms" -> t.sinkMs,
      "Sinks.files" -> sinkFiles.toDouble,
      "serving.api_p50_ms" -> Stats.pct(tApi, 0.5),
      "serving.api_p99_ms" -> Stats.pct(tApi, 0.99),
      "serving.latest_cached_p50_ms" -> t.api.p50("latest_cached"),
      "serving.latest_uncached_p50_ms" -> t.api.p50("latest_uncached"),
      "serving.aggregates_p50_ms" -> t.api.p50("aggregates"),
      "serving.stats_p50_ms" -> t.api.p50("stats"),
      "serving.sensors_p50_ms" -> t.api.p50("sensors"),
      "serving.query_p50_ms" -> t.api.p50("query"),
      "serving.supplier_ms" -> tracedSupplierMs,
      "serving.requests" -> tApi.size.toDouble,
      "ResultCache.hit_ratio" ->
        (if (t.api.cacheable > 0) t.api.hits.toDouble / t.api.cacheable else 0.0),
      "ResultCache.builds" -> (t.api.cacheable - t.api.hits).toDouble,
      "overhead.wall_s" -> (Stats.median(t.bursts) - e2e("wall_s")),
      "overhead.p50_ms" -> (Stats.pct(tLat, 0.5) - e2e("p50_ms")),
      "overhead.p90_ms" -> (Stats.pct(tLat, 0.9) - e2e("p90_ms")),
      "scaling.localN_wall_s" -> e2e("wall_s"),
      "scaling.local1_wall_s" -> Stats.median(bursts1),
      "scaling.speedup" -> Stats.median(bursts1) / e2e("wall_s"),
      "scaling.localN_sustained_eps" -> eps,
      "scaling.local1_sustained_eps" -> eps1)
    val tracedSummary = Seq(
      s"traced stream_p50_ms=${Env.fmt(Stats.pct(tLat, 0.5))} ms burst_drain_s=" +
        s"${Env.fmt(Stats.median(t.bursts))} s; spans: $spanFile (${spans.size})",
      s"local[1] burst_drain_s=${Env.fmt(Stats.median(bursts1))} s sustained_eps=$eps1 " +
        s"(ladder: ${ladder1.mkString(", ")})")
    Outcome(attempted, failed, Map.empty, Layers.complete(layers), summary ++ tracedSummary)
  }
}
