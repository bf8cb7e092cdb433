package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingPipeline

/** Top-level so typed Dataset encoders resolve (inner classes need outer
  * scope registration). */
case class Reading(device_id: String, device_type: String, location: String,
    value: Double, battery_level: Double, timestamp: Timestamp)

/** Session accumulator for the flatMapGroupsWithState spec. */
case class Sess(device: String, n: Long, firstTs: Long, lastTs: Long)

/** Document row for the streaming MinHash dedup spec. */
case class Doc(doc_id: Long, text: String, timestamp: Timestamp)

/** Streaming semantics via MemoryStream (SURVEY.md §5.4): watermark
  * late-row drop, append-after-watermark-close emission, update-mode
  * revisions (reference parity), streaming dedup. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))
  private def reading(t: String, v: Double, dev: String = "temperature") =
    Reading("sensor_1", dev, "room1", v, 50.0, ts(t))

  test("append mode emits a window only after the watermark closes it, and late rows are dropped") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Reading]
    val aggs = StreamingPipeline.aggregates(mem.toDF(), "1 minute", "1 minute")
    val q = aggs.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("agg_append").start()
    try {
      // batch 1: two rows in window [10:00,10:01)
      mem.addData(reading("2024-01-01T10:00:10Z", 10.0),
                  reading("2024-01-01T10:00:50Z", 30.0))
      q.processAllAvailable()
      assert(spark.table("agg_append").count() == 0) // window still open
      // batch 2: event at 10:03 advances watermark to 10:02 → closes 10:00
      mem.addData(reading("2024-01-01T10:03:00Z", 99.0))
      q.processAllAvailable()
      val closed = spark.table("agg_append").collect()
      assert(closed.length == 1)
      assert(closed.head.getAs[Double]("avg_value") == 20.0)
      assert(closed.head.getAs[Long]("reading_count") == 2L)
      // batch 3: a LATE row for the closed 10:00 window must be dropped
      mem.addData(reading("2024-01-01T10:00:30Z", 1000.0))
      q.processAllAvailable()
      val after = spark.table("agg_append").collect()
      assert(after.length == 1 && after.head.getAs[Double]("avg_value") == 20.0)
    } finally q.stop()
  }

  test("update mode (reference parity) re-emits a window per revision") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Reading]
    val aggs = StreamingPipeline.aggregates(mem.toDF(), "1 minute", "1 minute")
    val q = aggs.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("agg_update").start()
    try {
      mem.addData(reading("2024-01-01T10:00:10Z", 10.0))
      q.processAllAvailable()
      mem.addData(reading("2024-01-01T10:00:50Z", 30.0))
      q.processAllAvailable()
      // same window emitted twice with successive aggregates — the
      // duplicate-row behavior the reference's append sink exhibits
      val rows = spark.table("agg_update")
        .filter(col("window_start") === ts("2024-01-01T10:00:00Z"))
        .orderBy("reading_count").collect()
      assert(rows.map(_.getAs[Double]("avg_value")).toSeq == Seq(10.0, 20.0))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark suppresses re-deliveries") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Reading]
    val dedup = StreamingPipeline.dedupWithinWatermark(
      mem.toDF(), Seq("device_id", "timestamp"), "10 minutes")
    val q = dedup.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData(reading("2024-01-01T10:00:10Z", 10.0),
                  reading("2024-01-01T10:00:10Z", 10.0)) // same key, same batch
      q.processAllAvailable()
      mem.addData(reading("2024-01-01T10:00:10Z", 10.0)) // re-delivery next batch
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 1)
    } finally q.stop()
  }

  test("session_window: streaming sessionization closes sessions via watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Reading]
    val sessions = mem.toDF()
      .withWatermark("timestamp", "10 minutes")
      .groupBy(session_window(col("timestamp"), "30 minutes"), col("device_id"))
      .agg(count(lit(1)).as("n"))
    val q = sessions.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sessions_out").start()
    try {
      // three events: two within 30 min (one session), one 2 h later
      mem.addData(reading("2024-01-01T10:00:00Z", 1.0),
                  reading("2024-01-01T10:20:00Z", 2.0),
                  reading("2024-01-01T12:00:00Z", 3.0))
      q.processAllAvailable()
      // advance watermark far enough to close both sessions
      mem.addData(reading("2024-01-01T15:00:00Z", 4.0))
      q.processAllAvailable()
      val rows = spark.table("sessions_out").orderBy("session_window.start").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Long]("n") == 2L) // merged 10:00+10:20
      assert(rows(1).getAs[Long]("n") == 1L)
    } finally q.stop()
  }

  test("mapGroupsWithState: custom running state per device") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Reading]
    val counts = mem.toDS()
      .groupByKey(_.device_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (id: String, rows: Iterator[Reading], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          (id, total)
      }
    val q = counts.toDF("device_id", "running_total").writeStream
      .outputMode(OutputMode.Update())
      .format("memory").queryName("state_out").start()
    try {
      mem.addData(reading("2024-01-01T10:00:00Z", 1.0),
                  reading("2024-01-01T10:01:00Z", 2.0))
      q.processAllAvailable()
      mem.addData(reading("2024-01-01T10:02:00Z", 3.0))
      q.processAllAvailable()
      val last = spark.table("state_out").orderBy(col("running_total").desc).collect().head
      assert(last.getAs[Long]("running_total") == 3L) // state carried across batches
    } finally q.stop()
  }

  test("stream-stream interval join: purchases match views within the time bound") {
    implicit val sc = spark.sqlContext
    val views = MemoryStream[Reading]
    val purchases = MemoryStream[Reading]
    val v = views.toDF().select(col("device_id"), col("timestamp").as("v_ts"))
    val p = purchases.toDF().select(col("device_id"), col("timestamp").as("p_ts"))
    val joined = StreamingPipeline.intervalJoin(v, p, "device_id",
      leftTs = "v_ts", rightTs = "p_ts",
      maxDelay = "30 minutes", watermarkDelay = "10 minutes")
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ss_join").start()
    try {
      views.addData(reading("2024-01-01T10:00:00Z", 1.0))      // in range
      views.addData(reading("2024-01-01T08:00:00Z", 2.0))      // too old
      purchases.addData(reading("2024-01-01T10:15:00Z", 3.0))
      q.processAllAvailable()
      val rows = spark.table("ss_join").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[java.sql.Timestamp]("v_ts").toInstant.toString
        == "2024-01-01T10:00:00Z")
      // the equi-key is emitted once, not duplicated from both sides
      assert(spark.table("ss_join").columns.count(_ == "device_id") == 1)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: unmatched left emits nulls after watermark") {
    implicit val sc = spark.sqlContext
    val views = MemoryStream[Reading]
    val purchases = MemoryStream[Reading]
    val v = views.toDF().select(col("device_id"), col("timestamp").as("v_ts"))
    val p = purchases.toDF()
      .select(col("device_id"), col("timestamp").as("p_ts"), col("value").as("p_value"))
    val joined = StreamingPipeline.intervalJoin(v, p, "device_id",
      leftTs = "v_ts", rightTs = "p_ts",
      maxDelay = "30 minutes", watermarkDelay = "1 minute",
      joinType = "left_outer")
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ss_outer").start()
    try {
      // v1 matches p1; v2 (different device key) never gets a purchase
      views.addData(reading("2024-01-01T10:00:00Z", 1.0),
                    Reading("sensor_2", "pressure", "room1", 2.0, 50.0,
                      ts("2024-01-01T10:05:00Z")))
      purchases.addData(reading("2024-01-01T10:15:00Z", 3.0))
      q.processAllAvailable()
      // advance BOTH watermarks far past v2.ts + maxDelay, then one more
      // batch so the engine evicts and emits the unmatched row
      views.addData(reading("2024-01-01T12:00:00Z", 9.0))
      purchases.addData(reading("2024-01-01T12:00:00Z", 9.0))
      q.processAllAvailable()
      views.addData(reading("2024-01-01T12:30:00Z", 9.9))
      purchases.addData(reading("2024-01-01T12:30:00Z", 9.9))
      q.processAllAvailable()
      val rows = spark.table("ss_outer").collect()
      val matched = rows.filter(_.getAs[java.sql.Timestamp]("p_ts") != null)
      val unmatched = rows.filter(_.getAs[java.sql.Timestamp]("p_ts") == null)
      assert(matched.exists(r =>
        r.getAs[java.sql.Timestamp]("v_ts").toInstant.toString == "2024-01-01T10:00:00Z"))
      assert(unmatched.exists(r =>
        r.getAs[java.sql.Timestamp]("v_ts").toInstant.toString == "2024-01-01T10:05:00Z"),
        s"expected the never-purchased view to emit null-extended; got ${rows.mkString(";")}")
    } finally q.stop()
  }

  test("end-to-end: streaming aggregates land in an idempotent parquet sink") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Reading]
    val out = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val aggs = StreamingPipeline.aggregates(mem.toDF())
    val writer = StreamingPipeline.aggregateWriter(
      aggs,
      checkpoint = java.nio.file.Files.createTempDirectory("graft-e2e-ckpt").toString,
      sink = (df, _) => operators.Sinks.idempotentParquet(
        df.withColumn("wday", to_date(col("window_start"))), out, "wday"))
    val q = writer.start()
    try {
      mem.addData(reading("2024-01-01T10:00:10Z", 10.0),
                  reading("2024-01-01T10:00:50Z", 30.0))
      q.processAllAvailable()
      mem.addData(reading("2024-01-01T10:03:00Z", 99.0)) // closes 10:00 window
      q.processAllAvailable()
      val persisted = spark.read.parquet(out)
      assert(persisted.count() == 1)
      val row = persisted.collect().head
      assert(row.getAs[Double]("avg_value") == 20.0)
      assert(row.getAs[Long]("reading_count") == 2L)
    } finally q.stop()
  }

  test("flatMapGroupsWithState: custom session assembly with event-time timeout") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Reading]
    val sessions = mem.toDS()
      .withWatermark("timestamp", "10 minutes")
      .groupByKey(_.device_id)
      .flatMapGroupsWithState[Sess, (String, Long, Long)](
        OM.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (id: String, rows: Iterator[Reading], state: GroupState[Sess]) =>
          val gapMs = 30 * 60 * 1000L
          if (state.hasTimedOut) {
            // watermark passed the session deadline → emit and clear
            val s = state.get
            state.remove()
            Iterator((s.device, s.n, s.lastTs - s.firstTs))
          } else {
            val ts = rows.map(_.timestamp.getTime).toSeq.sorted
            val (closed, base) = state.getOption match {
              // arriving events can ALSO close a session: the same key may
              // get its next event before the timeout fires
              case Some(p) if ts.min - p.lastTs >= gapMs =>
                (Iterator((p.device, p.n, p.lastTs - p.firstTs)), None)
              case other => (Iterator.empty, other)
            }
            val s = Sess(id,
              base.map(_.n).getOrElse(0L) + ts.size,
              math.min(base.map(_.firstTs).getOrElse(Long.MaxValue), ts.min),
              math.max(base.map(_.lastTs).getOrElse(Long.MinValue), ts.max))
            state.update(s)
            state.setTimeoutTimestamp(s.lastTs + gapMs)
            closed
          }
      }
    val q = sessions.toDF("device_id", "n_events", "duration_ms")
      .writeStream.outputMode(OM.Append())
      .format("memory").queryName("fmgws_out").start()
    try {
      mem.addData(reading("2024-01-01T10:00:00Z", 1.0),
                  reading("2024-01-01T10:10:00Z", 2.0))
      q.processAllAvailable()
      assert(spark.table("fmgws_out").count() == 0) // session still open
      // event far in the future: watermark passes 10:40 deadline → close
      mem.addData(reading("2024-01-01T12:00:00Z", 3.0))
      q.processAllAvailable()
      mem.addData(reading("2024-01-01T15:00:00Z", 4.0)) // advance again
      q.processAllAvailable()
      val rows = spark.table("fmgws_out").collect()
      assert(rows.nonEmpty)
      val first = rows.filter(_.getAs[Long]("n_events") == 2L)
      assert(first.nonEmpty, s"expected the 2-event session, got ${rows.mkString}")
      assert(first.head.getAs[Long]("duration_ms") == 10 * 60 * 1000L)
    } finally q.stop()
  }

  test("silentDevices reports a quiet device once the watermark passes its deadline") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Reading]
    def at(dev: String, t: String) =
      Reading(dev, "temperature", "room1", 1.0, 50.0, ts(t))
    val quiet = StreamingPipeline.silentDevices(mem.toDF(),
      silenceMs = 30 * 60 * 1000L, watermarkDelay = "10 minutes")
    val q = quiet.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("silent_out").start()
    try {
      mem.addData(at("dev_a", "2024-01-01T10:00:00Z"),
                  at("dev_b", "2024-01-01T10:00:00Z"))
      q.processAllAvailable()
      assert(spark.table("silent_out").count() == 0) // both still live
      // dev_b keeps reporting; the watermark (12:00 − 10 min) passes
      // dev_a's 10:30 deadline → dev_a reported, dev_b not
      mem.addData(at("dev_b", "2024-01-01T12:00:00Z"))
      q.processAllAvailable()
      mem.addData(at("dev_b", "2024-01-01T15:00:00Z")) // advance again
      q.processAllAvailable()
      val rows = spark.table("silent_out").collect()
      assert(rows.map(_.getAs[String]("device_id")).toSet == Set("dev_a"),
        s"expected only dev_a, got ${rows.mkString}")
      assert(rows.head.getAs[Timestamp]("last_seen") == ts("2024-01-01T10:00:00Z"))
      // dev_a comes back: a fresh liveness cycle begins, no immediate report
      mem.addData(at("dev_a", "2024-01-01T15:00:30Z"))
      q.processAllAvailable()
      assert(spark.table("silent_out").count() == 1)
    } finally q.stop()
  }

  test("silentDevices ignores null event times and keeps microsecond precision") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Reading]
    def at(dev: String, t: String) =
      Reading(dev, "temperature", "room1", 1.0, 50.0, ts(t))
    val quiet = StreamingPipeline.silentDevices(mem.toDF(),
      silenceMs = 30 * 60 * 1000L, watermarkDelay = "10 minutes")
    val q = quiet.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("silent_null_out").start()
    try {
      // a malformed null-timestamp reading must not kill the query — the
      // watermark only drops rows older than the horizon, not null ones
      val tsMicro = ts("2024-01-01T10:00:00.123456Z")
      mem.addData(Reading("dev_a", "temperature", "room1", 1.0, 50.0, tsMicro),
                  Reading("dev_n", "temperature", "room1", 1.0, 50.0, null))
      q.processAllAvailable()
      mem.addData(at("dev_b", "2024-01-01T12:00:00Z"),
                  at("dev_b", "2024-01-01T15:00:00Z"))
      q.processAllAvailable()
      mem.addData(at("dev_b", "2024-01-01T18:00:00Z"))
      q.processAllAvailable()
      val rows = spark.table("silent_null_out").collect()
      assert(rows.map(_.getAs[String]("device_id")).toSet == Set("dev_a"),
        s"expected only dev_a, got ${rows.mkString}")
      // last_seen must round-trip the µs part, not truncate to millis
      assert(rows.head.getAs[Timestamp]("last_seen") == tsMicro,
        s"µs precision lost: ${rows.head.getAs[Timestamp]("last_seen")}")
    } finally q.stop()
  }

  test("scoreQuality scores a stream statelessly, matching batch classifier margins") {
    implicit val sc = spark.sqlContext
    // the offline/online split: batch-train once, score the stream with
    // the frozen weights. Margins must agree with the registered batch
    // query row for row, and the scorer must add NO stateful operator
    // (it composes ahead of watermarks and appends at source rate).
    val w = operators.TextAnalysis.trainQualityPerceptron(spark, sf)
    val batch = SparkEntry.queries("quality_classifier")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("margin")).toMap
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val mem = MemoryStream[(Long, String)]
    val scored = StreamingPipeline.scoreQuality(
      mem.toDF().toDF("doc_id", "text"), w)
    val q = scored.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("qc_stream").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty,
        "scoreQuality must be stateless")
      val got = spark.table("qc_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("margin")).toMap
      assert(got.size == docs.size)
      got.foreach { case (id, m) =>
        assert(m == batch(id), s"doc $id: stream margin $m != batch ${batch(id)}")
      }
      assert(got.values.exists(_ > 0) && got.values.exists(_ < 0),
        "stream margins are one-sided — scoring is vacuous")
    } finally q.stop()
  }

  test("curationIngest composes gate -> near-dup dedup -> scoring in one stream") {
    implicit val sc = spark.sqlContext
    val w = operators.TextAnalysis.trainQualityPerceptron(spark, sf)
    val mem = MemoryStream[Doc]
    val out = StreamingPipeline.curationIngest(mem.toDF(), w)
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("curation_ingest").start()
    try {
      val goodText = "distinct words about spark streaming state stores today"
      mem.addData(
        Doc(1L, goodText, ts("2024-01-01T10:00:00Z")),
        Doc(2L, "tiny doc", ts("2024-01-01T10:00:01Z")),            // gate: < 5 tokens
        Doc(3L, "the a of and the a of and", ts("2024-01-01T10:00:02Z")), // gate: stopwords
        Doc(4L, "another clean document mentioning engines plans shuffles",
          ts("2024-01-01T10:00:03Z")))
      q.processAllAvailable()
      mem.addData(Doc(5L, goodText, ts("2024-01-01T10:01:00Z")))    // near-dup re-post
      q.processAllAvailable()
      val got = spark.table("curation_ingest").collect()
      assert(got.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 4L),
        s"expected gate to drop 2,3 and dedup to drop 5: ${got.mkString(";")}")
      // scoring columns ride along; margins agree with the stateless scorer
      assert(got.forall(r => !r.isNullAt(r.fieldIndex("margin"))))
      assert(got.forall(r => r.schema.fieldNames.contains("keep")))
    } finally q.stop()
  }

  test("robustAnomalies flags only stream rows beyond the static MAD gate") {
    implicit val sc = spark.sqlContext
    // reference window: values 10..19 per type → median 14.5, MAD 2.5
    val ref = (0 until 10).flatMap(i => Seq(
      ("temperature", 10.0 + i), ("humidity", 10.0 + i)))
      .toDF("device_type", "value")
    val stats = operators.Stats.robustStats(ref, "device_type", "value")
    val mem = MemoryStream[Reading]
    val out = StreamingPipeline.robustAnomalies(mem.toDF(), stats)
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("anomalies").start()
    try {
      mem.addData(
        reading("2024-01-01T10:00:00Z", 14.0),               // in-band
        reading("2024-01-01T10:00:01Z", 27.5),               // z≈3.507 → flag
        reading("2024-01-01T10:00:02Z", 20.0),               // z≈1.48
        reading("2024-01-01T10:00:03Z", 99.0, dev = "motion")) // no stats → pass
      q.processAllAvailable()
      val rows = spark.table("anomalies").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Double]("value") == 27.5)
      val z = rows.head.getAs[Double]("robust_z")
      assert(z > 3.5 && z < 3.6, s"robust_z $z")
      // the batch gate agrees: same reference, same row, same verdict
      val batch = StreamingPipeline.robustAnomalies(
        Seq(reading("2024-01-01T10:00:01Z", 27.5)).toDF(), stats)
      assert(batch.count() == 1)
    } finally q.stop()
  }

  test("driftMonitor: per-window PSI vs frozen baseline, integer-exact, flags major drift") {
    implicit val sc = spark.sqlContext
    val bins = 8
    // reference window: uniform over bins 0..3 (values 5/15/25/35 ×3)
    val ref = (0 until 3).flatMap(_ => Seq(5.0, 15.0, 25.0, 35.0)).toDF("value")
    val baseline = StreamingPipeline.driftBaseline(ref, "value", 0.0, 100.0, bins)
    val mem = MemoryStream[Reading]
    val out = StreamingPipeline.driftMonitor(mem.toDF(), baseline,
      lo = 0.0, hi = 100.0, bins = bins)
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("drift").start()
    try {
      // window [10:00,10:01): the SAME distribution as the baseline
      (0 until 3).foreach { i =>
        Seq(5.0, 15.0, 25.0, 35.0).zipWithIndex.foreach { case (v, j) =>
          mem.addData(reading(f"2024-01-01T10:00:${i * 4 + j}%02dZ", v))
        }
      }
      // window [10:01,10:02): 12 rows piled into bin 7 — absent from the
      // baseline (and 130.0 clamps into the top edge bin)
      (0 until 11).foreach(i =>
        mem.addData(reading(f"2024-01-01T10:01:$i%02dZ", 95.0)))
      mem.addData(reading("2024-01-01T10:01:30Z", 130.0))
      // advance the watermark past both windows
      mem.addData(reading("2024-01-01T10:04:00Z", 50.0))
      q.processAllAvailable()
      val rows = spark.table("drift").collect()
        .sortBy(_.getAs[Timestamp]("window_start").getTime)
      assert(rows.length == 2, s"expected both closed windows, got ${rows.length}")
      val (same, shifted) = (rows(0), rows(1))
      assert(same.getAs[Long]("n") == 12 && shifted.getAs[Long]("n") == 12)
      // identical distribution → PSI exactly 0 (sa == sb for every bin)
      assert(same.getAs[Double]("psi") == 0.0 && !same.getAs[Boolean]("major_drift"))
      // shifted window: replicate the monitor's integer formula in-test
      // (baseline bins by the same floor rule: 5→0, 15→1, 25→2, 35→2)
      val refCnt = Seq(5.0, 15.0, 25.0, 35.0).flatMap(v => Seq.fill(3)(
        math.floor(v * bins / 100.0).toLong)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val refSm = Array.tabulate(bins)(b => refCnt.getOrElse(b.toLong, 0L) + 1L)
      val curSm = Array.tabulate(bins)(b => (if (b == 7) 12L else 0L) + 1L)
      val (na, nb) = (curSm.sum, refSm.sum)
      def l6(x: Long) = math.round(math.log(x.toDouble) * 1e6)
      val p6 = (0 until bins).map(b => BigInt(curSm(b) * nb - refSm(b) * na) *
        BigInt(l6(curSm(b)) - l6(refSm(b)) + l6(nb) - l6(na))).sum
      val expected = BigDecimal(p6.toDouble / (na.toDouble * nb * 1e6))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(shifted.getAs[Double]("psi") == expected,
        s"psi ${shifted.getAs[Double]("psi")} != hand-computed $expected")
      assert(shifted.getAs[Boolean]("major_drift"),
        "a wholesale distribution shift must trip the 0.2 flag")
    } finally q.stop()
  }

  test("funnelMonitor: per-window per-gate survivor counts mirror the batch battery") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Doc]
    val out = StreamingPipeline.funnelMonitor(mem.toDF())
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("funnel").start()
    try {
      // A: 50 tokens, stopwords present, all-alpha — passes every gate
      val good = "the a " + Seq.fill(48)("data").mkString(" ")
      // B: 10 tokens — fails word_count, passes everything else
      val short = "the a " + Seq.fill(8)("data").mkString(" ")
      // C: 50 digit tokens — passes the length gates, fails stopwords
      // and alpha_words
      val digits = Seq.fill(50)("12345").mkString(" ")
      mem.addData(
        Doc(1, good, ts("2024-01-01T10:00:05Z")),
        Doc(2, short, ts("2024-01-01T10:00:20Z")),
        Doc(3, digits, ts("2024-01-01T10:00:40Z")))
      // advance the watermark past the window so append mode emits it
      mem.addData(Doc(9, "later", ts("2024-01-01T10:03:00Z")))
      q.processAllAvailable()
      val rows = spark.table("funnel").collect().sortBy(_.getAs[Int]("gate"))
      assert(rows.length == 5, s"expected one closed window x 5 gates, got ${rows.length}")
      assert(rows.forall(_.getAs[Timestamp]("window_start") ==
        ts("2024-01-01T10:00:00Z")))
      // hand funnel: gate pass sets A={all}, B={all but word_count},
      // C={word_count, mean_word_len, symbol_ratio}
      val expect = Seq(
        (1, "word_count", 2L, 2L),
        (2, "mean_word_len", 3L, 2L),
        (3, "symbol_ratio", 3L, 2L),
        (4, "stopwords", 2L, 1L),
        (5, "alpha_words", 2L, 1L))
      rows.toSeq.zip(expect).foreach { case (r, (g, nm, p, cp)) =>
        assert(r.getAs[Int]("gate") == g && r.getAs[String]("rule") == nm)
        assert(r.getAs[Long]("n_docs") == 3L, s"gate $nm arrivals")
        assert(r.getAs[Long]("n_pass") == p, s"gate $nm pass count")
        assert(r.getAs[Long]("n_surviving") == cp, s"gate $nm survivors")
      }
    } finally q.stop()
  }

  test("trendingMonitor: per-window MG candidates close exactly with the watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Reading]
    val out = StreamingPipeline.trendingMonitor(
      mem.toDF().selectExpr("device_type AS event_type", "timestamp AS ts"),
      k = 2)
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("trending").start()
    try {
      def r(t: String, when: String) =
        Reading("sensor_1", t, "room1", 1.0, 50.0, ts(when))
      // window 10:00: a×5, b×4, c×1 — n=10, n/(k+1)=3.33, so the MG
      // guarantee forces BOTH a (5) and b (4) into the k=2 buffer and
      // there is no third slot: the candidate set is exactly {a, b}
      val w0 = (1 to 5).map(i => r("a", s"2024-01-01T10:00:0${i}Z")) ++
        (1 to 4).map(i => r("b", s"2024-01-01T10:00:1${i}Z")) :+
        r("c", "2024-01-01T10:00:30Z")
      mem.addData(w0: _*)
      q.processAllAvailable() // batch 1: window fills, watermark 09:59:30
      // advance the watermark past the window so append mode emits it
      mem.addData(r("z", "2024-01-01T10:03:00Z"))
      q.processAllAvailable() // batch 2: watermark 10:02, window closes
      // a LATE straggler for 10:00 must be dropped, not revise the
      // closed window (separate batches — coalesced addData would reach
      // the operator before the watermark ever advanced)
      mem.addData(r("c", "2024-01-01T10:00:45Z"))
      q.processAllAvailable()
      val rows = spark.table("trending").collect()
      assert(rows.length == 1, s"expected one closed window, got ${rows.length}")
      val row = rows.head
      assert(row.getAs[Timestamp]("window_start") == ts("2024-01-01T10:00:00Z"))
      assert(row.getAs[Long]("n_events") == 10L,
        "late straggler revised a closed window")
      assert(row.getSeq[String](row.fieldIndex("trending")).toSet
        == Set("a", "b"),
        s"MG candidates ${row.getSeq[String](row.fieldIndex("trending"))}")
    } finally q.stop()
  }

  test("kafka reader options carry the reference's consumer contract") {
    // processor.py:60-67 — subscribe (not assign), earliest start, and
    // failOnDataLoss=false; the offline harness has no broker, so pinning
    // the options map fromKafka consumes is the reachable surface
    val opts = StreamingPipeline.kafkaReaderOptions("broker:9092", "raw-data")
    assert(opts("kafka.bootstrap.servers") == "broker:9092")
    assert(opts("subscribe") == "raw-data")
    assert(opts("startingOffsets") == "earliest")
    assert(opts("failOnDataLoss") == "false")
    assert(!opts.contains("assign") && !opts.contains("subscribePattern"))
  }

  test("dedupByMinHash drops signature-identical re-posts at ingest, short docs key on text") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Doc]
    val out = StreamingPipeline.dedupByMinHashWithinWatermark(mem.toDF())
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("mh_dedup_out").start()
    try {
      val boiler = "the quick brown fox jumps over the lazy dog again and again"
      mem.addData(
        Doc(1L, boiler, ts("2024-01-01T10:00:00Z")),
        Doc(2L, boiler, ts("2024-01-01T10:00:05Z")), // same sig, same batch
        Doc(3L, "entirely different text about spark streaming pipelines today",
          ts("2024-01-01T10:00:10Z")),
        Doc(4L, "tiny", ts("2024-01-01T10:00:15Z")), // < 3 tokens: text-key fallback
        Doc(5L, "tiny", ts("2024-01-01T10:00:20Z")),
        // two DISTINCT malformed rows: null text must not become one
        // shared null key, and a null event time must not reach state
        Doc(7L, null, ts("2024-01-01T10:00:25Z")),
        Doc(8L, null, ts("2024-01-01T10:00:30Z")),
        Doc(9L, "dropped for null event time", null))
      q.processAllAvailable()
      mem.addData(Doc(6L, boiler, ts("2024-01-01T10:01:00Z"))) // re-post next batch
      q.processAllAvailable()
      val ids = spark.table("mh_dedup_out").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(ids.size == 5, s"expected 5 survivors, got $ids")
      assert(ids.contains(3L), "the distinct document was dropped")
      assert(ids.count(Set(1L, 2L, 6L)) == 1, s"boilerplate re-posts survived: $ids")
      assert(ids.count(Set(4L, 5L)) == 1, s"short-doc duplicate survived: $ids")
      assert(ids.contains(7L) && ids.contains(8L),
        "distinct null-text documents collapsed onto one dedup key")
      assert(!ids.contains(9L), "null event time reached the stateful operator")
    } finally q.stop()
  }

  test("deltaDedupAgainstSnapshot drops snapshot digests and within-stream repeats") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val known = "already landed in the corpus last week"
    val snapshot = Seq(known).toDF("text")
      .select(md5(to_binary(col("text"), lit("utf-8"))).as("digest"))
    val mem = MemoryStream[Doc]
    val out = StreamingPipeline.deltaDedupAgainstSnapshot(mem.toDF(), snapshot)
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("delta_dedup_out").start()
    try {
      mem.addData(
        Doc(1L, known, ts("2024-01-01T10:00:00Z")),        // dup_snapshot: dropped
        Doc(2L, "a fresh document", ts("2024-01-01T10:00:05Z")),
        Doc(3L, "a fresh document", ts("2024-01-01T10:00:10Z")), // dup_batch
        Doc(4L, "another fresh one", ts("2024-01-01T10:00:15Z")),
        // distinct malformed rows: must pass the anti join (a null text
        // is not "already in the corpus") and must not share one key
        Doc(5L, null, ts("2024-01-01T10:00:20Z")),
        Doc(6L, null, ts("2024-01-01T10:00:25Z")),
        Doc(7L, "dropped for null event time", null))
      q.processAllAvailable()
      mem.addData(Doc(8L, known, ts("2024-01-01T10:01:00Z"))) // still known next batch
      q.processAllAvailable()
      val ids = spark.table("delta_dedup_out").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(!ids.contains(1L) && !ids.contains(8L),
        s"snapshot duplicates reached the sink: $ids")
      assert(ids.count(Set(2L, 3L)) == 1, s"within-stream repeat survived: $ids")
      assert(ids.contains(4L), "the fresh document was dropped")
      assert(ids.contains(5L) && ids.contains(6L),
        "distinct null-text documents collapsed or were anti-joined away")
      assert(!ids.contains(7L), "null event time reached the stateful operator")
    } finally q.stop()
  }

  test("streaming session_window: gap-based sessions close after the watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Reading]
    val sessions = mem.toDF()
      .withWatermark("timestamp", "1 minute")
      .groupBy(session_window(col("timestamp"), "5 minutes"), col("device_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("device_id"), col("n"))
    val q = sessions.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess_stream").start()
    try {
      // two readings 2 min apart merge into one session (gap 5 min)
      mem.addData(reading("2024-01-01T10:00:00Z", 1.0),
                  reading("2024-01-01T10:02:00Z", 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_stream").count() == 0) // session still open
      // a reading far ahead closes it via the watermark
      mem.addData(reading("2024-01-01T10:30:00Z", 3.0))
      q.processAllAvailable()
      val rows = spark.table("sess_stream").collect()
      assert(rows.length == 1 && rows.head.getAs[Long]("n") == 2L)
      assert(rows.head.getAs[java.sql.Timestamp]("sess_end").toInstant.toString
        == "2024-01-01T10:07:00Z") // last event + 5-minute gap
    } finally q.stop()
  }

  test("windowed agg runs on the RocksDB state store backend") {
    // the production state backend at scale: state spills to local disk
    // instead of living on the JVM heap, so streaming state is bounded by
    // disk, not memory. Same plan, same results — only the backend differs.
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Reading]
    val q = StreamingPipeline.aggregates(mem.toDF(), "1 minute", "1 minute")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("rocksdb_agg").start()
    try {
      mem.addData(reading("2024-01-01T10:00:10Z", 10.0),
                  reading("2024-01-01T10:00:50Z", 30.0))
      q.processAllAvailable()
      mem.addData(reading("2024-01-01T10:03:00Z", 99.0))
      q.processAllAvailable()
      val rows = spark.table("rocksdb_agg").collect()
      assert(rows.length == 1 && rows.head.getAs[Double]("avg_value") == 20.0)
      assert(q.lastProgress.stateOperators.nonEmpty)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  // ---------------------------------------------------------------- JDBC
  // The reference's actual sink is JDBC append (processor.py:124-140).
  // Spark ships embedded Derby (/opt/spark/jars/derby-*.jar) for the Hive
  // metastore, so the JDBC leg is exercisable offline: an in-memory Derby
  // DB lives in this JVM and local-mode executors share it.
  private val derbyUrl = "jdbc:derby:memory:graftjdbc;create=true"
  private def derbyProps = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  test("JDBC sink (Derby): update-mode mimicReference appends one row per window revision") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Reading]
    val q = StreamingPipeline.aggregateWriter(
      StreamingPipeline.aggregates(mem.toDF()),
      checkpoint = java.nio.file.Files.createTempDirectory("graft-jdbc-ckpt").toString,
      sink = (df, _) => operators.Sinks.jdbc(df, derbyUrl, "agg_mimic", derbyProps),
      mimicReference = true).start()
    try {
      // two batches revising the same 10:00 window → the reference's
      // append-only table accumulates BOTH revisions (processor.py:105,133)
      mem.addData(reading("2024-01-01T10:00:10Z", 10.0))
      q.processAllAvailable()
      mem.addData(reading("2024-01-01T10:00:50Z", 30.0))
      q.processAllAvailable()
      val rows = spark.read.jdbc(derbyUrl, "agg_mimic", derbyProps)
        .filter(col("window_start") === ts("2024-01-01T10:00:00Z"))
        .orderBy("reading_count").collect()
      assert(rows.map(_.getAs[Long]("reading_count")).toSeq == Seq(1L, 2L),
        s"expected both window revisions in the append-only table, got ${rows.mkString(";")}")
      assert(rows.map(_.getAs[Double]("avg_value")).toSeq == Seq(10.0, 20.0))
      // round-trip fidelity: timestamps and keys survive JDBC write+read
      assert(rows.forall(_.getAs[Timestamp]("window_end") == ts("2024-01-01T10:01:00Z")))
      assert(rows.forall(_.getAs[String]("device_type") == "temperature"))
    } finally q.stop()
  }

  test("JDBC sink (Derby): append mode lands each closed window exactly once; raw sink appends every row") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Reading]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-jdbc-ckpt2").toString
    val (aggQ, rawQ) = StreamingPipeline.runBoth(
      mem.toDF(), ckpt,
      aggSink = (df, _) => operators.Sinks.jdbc(df, derbyUrl, "agg_clean", derbyProps),
      rawSink = (df, _) => operators.Sinks.jdbc(df, derbyUrl, "raw_rows", derbyProps))
    try {
      mem.addData(reading("2024-01-01T10:00:10Z", 10.0),
                  reading("2024-01-01T10:00:50Z", 30.0))
      aggQ.processAllAvailable(); rawQ.processAllAvailable()
      mem.addData(reading("2024-01-01T10:03:00Z", 99.0)) // closes 10:00
      aggQ.processAllAvailable(); rawQ.processAllAvailable()
      val aggs = spark.read.jdbc(derbyUrl, "agg_clean", derbyProps).collect()
      assert(aggs.length == 1, s"append mode must emit a closed window once, got ${aggs.mkString(";")}")
      assert(aggs.head.getAs[Double]("avg_value") == 20.0)
      assert(aggs.head.getAs[Long]("reading_count") == 2L)
      val raw = spark.read.jdbc(derbyUrl, "raw_rows", derbyProps)
      assert(raw.count() == 3) // every decoded row, appended per batch
      assert(raw.columns.contains("device_id") && raw.columns.contains("value"))
    } finally { aggQ.stop(); rawQ.stop() }
  }

  test("rawWriter hands a micro-batch straight to its sink: no guard job") {
    implicit val sc = spark.sqlContext
    def ckpt() = java.nio.file.Files.createTempDirectory("graft-guard-ckpt").toString
    // a sink that runs no action: every job counted below is the writer's own
    var rawCalls = 0
    val rawIn = MemoryStream[Reading]
    val rawQ = StreamingPipeline.rawWriter(rawIn.toDF(), ckpt(), (_, _) => rawCalls += 1).start()
    val aggIn = MemoryStream[Reading]
    val aggQ = StreamingPipeline.aggregateWriter(
      StreamingPipeline.aggregates(aggIn.toDF()), ckpt(), (_, _) => ()).start()
    try {
      val (_, rawJobs) = withJobCount {
        rawIn.addData(reading("2024-01-01T10:00:10Z", 10.0))
        rawQ.processAllAvailable()
      }
      assert(rawCalls == 1)
      assert(rawJobs == 0, s"one raw micro-batch started $rawJobs Spark jobs")
      // the counter does see the stream thread's jobs: the aggregate
      // writer's empty-batch guard is one
      val (_, aggJobs) = withJobCount {
        aggIn.addData(reading("2024-01-01T10:00:10Z", 10.0))
        aggQ.processAllAvailable()
      }
      assert(aggJobs >= 1, s"the guarded aggregate batch started $aggJobs Spark jobs")
    } finally { rawQ.stop(); aggQ.stop() }
  }

  test("aggregateWriter never hands its sink an empty frame while the watermark moves inside a window") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Reading]
    var emitted = Seq.empty[Long]
    val q = StreamingPipeline.aggregateWriter(
      StreamingPipeline.aggregates(mem.toDF()),
      java.nio.file.Files.createTempDirectory("graft-guard-ckpt").toString,
      (df, _) => emitted :+= df.count()).start()
    try {
      // each batch moves the watermark (max event time - 1 min) but not
      // past 10:01, so the 10:00 window stays open; Spark follows each
      // watermark move with a no-data batch that emits nothing
      for (t <- Seq("10:00:10", "10:00:40", "10:00:55")) {
        mem.addData(reading(s"2024-01-01T${t}Z", 10.0))
        q.processAllAvailable()
      }
      // an idle progress event also reports 0 rows; a batch that ran has addBatch
      val noDataBatches = q.recentProgress.count(p =>
        p.numInputRows == 0 && p.durationMs.containsKey("addBatch"))
      assert(noDataBatches > 0, "no no-data batch ran, so the guard was never exercised")
      assert(emitted.isEmpty, s"the sink was called with ${emitted.mkString(",")} rows")
      // 10:03 moves the watermark to 10:02: the 10:00 window closes, once
      mem.addData(reading("2024-01-01T10:03:00Z", 99.0))
      q.processAllAvailable()
      assert(emitted == Seq(1L), s"the sink was called with ${emitted.mkString(",")} rows")
    } finally q.stop()
  }

  test("ProgressMonitor collects per-batch rates, state sizes, and observed quality metrics") {
    implicit val sc = spark.sqlContext
    val mon = new graft.streaming.ProgressMonitor(spark, capacity = 8).attach()
    val mem = MemoryStream[Reading]
    val aggs = StreamingPipeline.aggregates(
      StreamingPipeline.withQualityMetrics(mem.toDF()))
    val q = aggs.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("mon_agg").start()
    try {
      mem.addData(reading("2024-01-01T10:00:10Z", 10.0),
                  reading("2024-01-01T10:00:50Z", 30.0))
      q.processAllAvailable()
      mem.addData(reading("2024-01-01T10:03:00Z", 99.0))
      q.processAllAvailable()
      // the watermark is now 10:02: two rows for the 10:00 window are late
      mem.addData(reading("2024-01-01T10:00:20Z", 1000.0),
                  reading("2024-01-01T10:00:30Z", 1000.0))
      q.processAllAvailable()
      // listener events are delivered asynchronously after the batch
      val deadline = System.currentTimeMillis() + 20000
      while (mon.totalInputRows("mon_agg") < 5 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(mon.totalInputRows("mon_agg") == 5,
        s"monitor saw ${mon.totalInputRows("mon_agg")} input rows")
      val snaps = mon.snapshotsFor("mon_agg").filter(_.numInputRows > 0)
      assert(snaps.nonEmpty)
      // windowed-agg state rides the snapshots
      assert(snaps.exists(_.stateRowsTotal > 0), "no state rows observed")
      // the late rows are counted where the state operator drops them
      val dropped = snaps.map(_.numRowsDroppedByWatermark).sum
      assert(dropped > 0, "no late drops observed")
      // the duration split: the sink write is timed, only the kept phases ride
      assert(snaps.exists(_.durationMs.getOrElse("addBatch", 0L) > 0),
        s"no positive addBatch in ${snaps.map(_.durationMs).mkString(";")}")
      assert(snaps.forall(_.durationMs.keySet.subsetOf(
        Set("addBatch", "walCommit", "commitOffsets", "triggerExecution"))))
      // the observe()d quality counters surface per batch: rows + value
      // sum, counted before the watermark drops the late rows
      val quality = snaps.flatMap(_.observed.get("graft_quality"))
      assert(quality.nonEmpty, "graft_quality observed metrics missing")
      val qRows = quality.map(_("rows").asInstanceOf[Long]).sum
      assert(qRows == 5, s"quality counter saw $qRows rows")
    } finally { q.stop(); mon.detach() }
  }

  test("quarantineSink splits corrupt rows to the dead-letter path with payload intact") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    val decoded = graft.operators.Ingest.decodeWithCorrupt(
      mem.toDF().select(col("value").cast("binary").as("value")))
    var goodRows = Seq.empty[org.apache.spark.sql.Row]
    var badRows = Seq.empty[org.apache.spark.sql.Row]
    val q = StreamingPipeline.quarantineSink(
      decoded, col("_corrupt").isNull,
      java.nio.file.Files.createTempDirectory("graft-quar-ckpt").toString,
      good = (df, _) => goodRows ++= df.collect(),
      quarantine = (df, _) => badRows ++= df.collect()).start()
    try {
      mem.addData(
        """{"device_id":"d1","device_type":"temperature","location":"room1","value":4.0,"battery_level":50.0,"timestamp":"2024-01-01T10:00:00"}""",
        """{"device_id":"d2", NOT JSON""",
        """{"device_id":"d3","device_type":"humidity","location":"room2","value":7.0,"battery_level":40.0,"timestamp":"2024-01-01T10:00:01"}""")
      q.processAllAvailable()
      assert(goodRows.map(_.getAs[String]("device_id")).toSet == Set("d1", "d3"))
      assert(badRows.length == 1)
      // the quarantined row carries the FULL raw payload for later replay
      assert(badRows.head.getAs[String]("_corrupt").contains("NOT JSON"))
    } finally q.stop()
  }

  test("JDBC sink (Derby): idempotentJdbc converges under batch replay") {
    // the production fix for the reference's duplicate-on-replay append:
    // re-delivering a batch id must leave the table content unchanged
    val df1 = Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v")
    operators.Sinks.idempotentJdbc(df1, derbyUrl, "idem_t", derbyProps, batchId = 7L)
    // replay of batch 7 (foreachBatch after failure recovery)
    operators.Sinks.idempotentJdbc(df1, derbyUrl, "idem_t", derbyProps, batchId = 7L)
    // a partial earlier attempt is also healed: simulate by replaying
    // batch 7 with MORE rows than the crashed attempt landed
    val df1b = Seq(("a", 1.0), ("b", 2.0), ("b2", 9.0)).toDF("k", "v")
    operators.Sinks.idempotentJdbc(df1b, derbyUrl, "idem_t", derbyProps, batchId = 7L)
    operators.Sinks.idempotentJdbc(Seq(("c", 3.0)).toDF("k", "v"),
      derbyUrl, "idem_t", derbyProps, batchId = 8L)
    val got = spark.read.jdbc(derbyUrl, "idem_t", derbyProps).collect()
    assert(got.length == 4, s"replays must not duplicate: ${got.mkString(";")}")
    assert(got.map(_.getAs[String]("k")).sorted.toSeq == Seq("a", "b", "b2", "c"))
    assert(got.map(r => r.getAs[String]("k") -> r.getAs[Long]("batch_id")).toMap
      == Map("a" -> 7L, "b" -> 7L, "b2" -> 7L, "c" -> 8L))
  }

  // ---------------------------------------------- checkpoint recovery
  // Shared scaffold for the two restart tests: the full sensor schema, a
  // JSONL line builder, and a file-source aggregate query factory — one
  // definition so a schema change cannot silently diverge between them.
  private val recoverySchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("device_id", StringType), StructField("device_type", StringType),
      StructField("location", StringType), StructField("value", DoubleType),
      StructField("battery_level", DoubleType), StructField("timestamp", TimestampType)))
  }
  private def recoveryLine(t: String, v: Double) =
    s"""{"device_id":"s1","device_type":"temperature","location":"room1",""" +
      s""""value":$v,"battery_level":50.0,"timestamp":"$t"}"""
  private def startRecoveryQuery(srcDir: String, ckpt: String,
      sink: (org.apache.spark.sql.DataFrame, Long) => Unit,
      mimicReference: Boolean = false) =
    StreamingPipeline.aggregateWriter(
      StreamingPipeline.aggregates(
        spark.readStream.schema(recoverySchema).json(srcDir)),
      checkpoint = ckpt, sink = sink, mimicReference = mimicReference).start()

  test("checkpoint recovery: a restarted query emits each window exactly once") {
    // THE streaming integration claim testable offline: stop a query,
    // start a NEW instance on the same checkpoint, and the append-mode
    // sink still sees every window once — the checkpoint carries source
    // offsets (which files are consumed), watermark, and window state
    // across the restart. A replayable FILE source stands in for Kafka
    // here deliberately: MemoryStream offsets die with the query object,
    // but file-source offsets (like Kafka's) live in the checkpoint, so
    // this drives the same recovery path a broker deployment exercises.
    val srcDir = java.nio.file.Files.createTempDirectory("graft-rec-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rec-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-rec-out").toString
    def startQuery() = startRecoveryQuery(srcDir.toString, ckpt,
      (df, _) => operators.Sinks.appendParquet(df, out))

    // life 1: window 10:00 closes (watermark via the 10:03 row) and lands
    java.nio.file.Files.writeString(srcDir.resolve("f1.jsonl"),
      Seq(recoveryLine("2024-01-01T10:00:10Z", 10.0),
        recoveryLine("2024-01-01T10:00:50Z", 30.0),
        recoveryLine("2024-01-01T10:03:00Z", 99.0)).mkString("\n"))
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()
    val afterLife1 = spark.read.parquet(out).collect()
    assert(afterLife1.length == 1 && afterLife1.head.getAs[Double]("avg_value") == 20.0)

    // life 2: NEW query instance, same checkpoint; a new file closes 10:03
    java.nio.file.Files.writeString(srcDir.resolve("f2.jsonl"),
      recoveryLine("2024-01-01T10:06:00Z", 7.0))
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Timestamp]("window_start").toInstant.toString,
        r.getAs[Double]("avg_value")))
    assert(rows.length == 2,
      s"restart must neither re-emit 10:00 nor lose 10:03, got ${rows.mkString(";")}")
    assert(rows.toMap == Map(
      "2024-01-01T10:00:00Z" -> 20.0,  // emitted in life 1 only
      "2024-01-01T10:03:00Z" -> 99.0), // state recovered across restart
      s"got ${rows.mkString(";")}")
  }

  test("checkpoint recovery x reference parity: update-mode JDBC keeps accumulating revisions across restart") {
    // the reference's deployment shape end to end: update-mode foreachBatch
    // appending to a JDBC table (processor.py:105,133), stopped and
    // restarted on its checkpoint. Revisions from BOTH lifetimes accumulate
    // as duplicate window rows — at-least-once per revision by design —
    // while the recovered state means the second lifetime's revision counts
    // CONTINUE from the first (a count-3 revision after restart proves the
    // window state survived, not restarted from zero).
    val srcDir = java.nio.file.Files.createTempDirectory("graft-rec2-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rec2-ckpt").toString
    def startQuery() = startRecoveryQuery(srcDir.toString, ckpt,
      (df, _) => operators.Sinks.jdbc(df, derbyUrl, "agg_restart", derbyProps),
      mimicReference = true)

    java.nio.file.Files.writeString(srcDir.resolve("f1.jsonl"),
      recoveryLine("2024-01-01T10:00:10Z", 10.0))
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()

    java.nio.file.Files.writeString(srcDir.resolve("f2.jsonl"),
      Seq(recoveryLine("2024-01-01T10:00:30Z", 20.0),
        recoveryLine("2024-01-01T10:00:50Z", 30.0)).mkString("\n"))
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()

    val revisions = spark.read.jdbc(derbyUrl, "agg_restart", derbyProps)
      .filter(col("window_start") === ts("2024-01-01T10:00:00Z"))
      .orderBy("reading_count").collect()
      .map(r => (r.getAs[Long]("reading_count"), r.getAs[Double]("avg_value")))
    assert(revisions.toSeq == Seq((1L, 10.0), (3L, 20.0)),
      s"expected the life-1 revision plus a CONTINUED life-2 revision " +
        s"(count 3 proves recovered state), got ${revisions.mkString(";")}")
  }

  test("checkpoint recovery x idempotentJdbc: exactly-once JDBC content across restart") {
    // the clean-mode deployment: append-after-close windows through the
    // replay-idempotent JDBC writer, restarted on the checkpoint. Each
    // window lands exactly once WITH its batch lineage; a re-delivered
    // batch id (the crash-replay path, driven directly here since a real
    // mid-write crash cannot be scheduled) leaves content unchanged.
    val srcDir = java.nio.file.Files.createTempDirectory("graft-rec4-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rec4-ckpt").toString
    def startQuery() = startRecoveryQuery(srcDir.toString, ckpt,
      (df, id) => operators.Sinks.idempotentJdbc(df, derbyUrl, "agg_idem", derbyProps, id))

    java.nio.file.Files.writeString(srcDir.resolve("f1.jsonl"),
      Seq(recoveryLine("2024-01-01T10:00:10Z", 10.0),
        recoveryLine("2024-01-01T10:03:00Z", 99.0)).mkString("\n"))
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()

    java.nio.file.Files.writeString(srcDir.resolve("f2.jsonl"),
      recoveryLine("2024-01-01T10:06:00Z", 7.0))
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()

    val rows = spark.read.jdbc(derbyUrl, "agg_idem", derbyProps).collect()
    val windows = rows.map(_.getAs[Timestamp]("window_start").toInstant.toString)
    assert(windows.sorted.toSeq == Seq("2024-01-01T10:00:00Z", "2024-01-01T10:03:00Z"),
      s"each closed window exactly once across the restart, got ${windows.mkString(";")}")
    // lineage: the two windows landed from different micro-batches, and
    // replaying one of those batch ids converges instead of duplicating
    val byWindow = rows.map(r => r.getAs[Timestamp]("window_start").toInstant.toString
      -> r.getAs[Long]("batch_id")).toMap
    // materialize BEFORE replaying: a lazy read of the target table
    // would execute after the sink's delete and replay zero rows (in a
    // real replay the batch comes from the SOURCE, not the sink table)
    val replayed = spark.read.jdbc(derbyUrl, "agg_idem", derbyProps)
      .filter(col("batch_id") === byWindow("2024-01-01T10:00:00Z")).drop("batch_id")
      .localCheckpoint(true)
    operators.Sinks.idempotentJdbc(replayed, derbyUrl, "agg_idem", derbyProps,
      byWindow("2024-01-01T10:00:00Z"))
    assert(spark.read.jdbc(derbyUrl, "agg_idem", derbyProps).count() == 2,
      "re-delivered batch id must leave the table unchanged")
  }

  test("checkpoint recovery: MinHash dedup state survives restart (re-post after restart still drops)") {
    // the curation-at-ingest exactly-once claim: the dedup signature state
    // lives in the checkpoint, so a near-dup re-post arriving AFTER a
    // query restart is still recognized and dropped — without this, every
    // restart would admit one duplicate of everything in flight
    val srcDir = java.nio.file.Files.createTempDirectory("graft-rec3-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rec3-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-rec3-out").toString
    val docSchema = {
      import org.apache.spark.sql.types._
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("timestamp", TimestampType)))
    }
    def docLine(id: Long, text: String, t: String) =
      s"""{"doc_id":$id,"text":"$text","timestamp":"$t"}"""
    def startQuery() =
      StreamingPipeline.dedupByMinHashWithinWatermark(
        spark.readStream.schema(docSchema).json(srcDir.toString))
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          operators.Sinks.appendParquet(df, out)
        }.start()

    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    java.nio.file.Files.writeString(srcDir.resolve("f1.jsonl"),
      Seq(docLine(1L, boiler, "2024-01-01T10:00:00Z"),
        docLine(2L, "distinct text about state store recovery semantics",
          "2024-01-01T10:00:05Z")).mkString("\n"))
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()

    // life 2: re-post of the boilerplate within the watermark horizon +
    // one genuinely new document
    java.nio.file.Files.writeString(srcDir.resolve("f2.jsonl"),
      Seq(docLine(3L, boiler, "2024-01-01T10:01:00Z"),
        docLine(4L, "another fresh document with different words entirely",
          "2024-01-01T10:01:05Z")).mkString("\n"))
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()

    val ids = spark.read.parquet(out).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L, 2L, 4L),
      s"restart must keep dedup state (doc 3 is a re-post of doc 1), got $ids")
  }

  // ------------------------------------------------------- RocksDB backend
  // At 100 TB the stateful ops must not depend on the default HDFS-backed
  // (heap) state store: RocksDB bounds state by local disk. Re-run each
  // CUSTOM stateful operator under the RocksDB provider — same inputs,
  // same expected output, only the backend differs. (The windowed agg
  // already has its RocksDB case above; these cover the remaining state
  // shapes: dropDuplicatesWithinWatermark, stream-stream join state, and
  // flatMapGroupsWithState timeout state.)
  private def withRocksDB[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("dedupImagesByPhash drops hash-identical re-posts on the shared batch kernel") {
    implicit val sc = spark.sqlContext
    import operators.Multimodal
    val mem = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val out = StreamingPipeline.dedupImagesByPhashWithinWatermark(
      mem.toDF().toDF("doc_id", "payload", "timestamp"))
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("img_dedup").start()
    try {
      val a = Multimodal.encodeBmp(
        Array.tabulate[Byte](600)(i => ((i * 37 + 11) % 251).toByte), topDown = false)
      // the SAME pixels in the other row order: different container
      // bytes, identical logical image => identical hash => a dup
      val aFlipped = Multimodal.encodeBmp(
        Array.tabulate[Byte](600)(i => ((i * 37 + 11) % 251).toByte), topDown = true)
      val b = Multimodal.encodeBmp(
        Array.tabulate[Byte](600)(i => ((i * 91 + 3) % 251).toByte), topDown = false)
      mem.addData((1L, a, ts("2024-01-01T10:00:00Z")),
                  (2L, b, ts("2024-01-01T10:00:01Z")))
      q.processAllAvailable()
      mem.addData((3L, a, ts("2024-01-01T10:01:00Z")),        // exact re-post
                  (4L, aFlipped, ts("2024-01-01T10:01:01Z")), // re-encoded re-post
                  (5L, null, ts("2024-01-01T10:01:02Z")),     // malformed: unique key
                  (6L, null, ts("2024-01-01T10:01:03Z")))     // second malformed: kept
      q.processAllAvailable()
      val ids = spark.table("img_dedup").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(1L, 2L, 5L, 6L),
        s"expected re-posts 3,4 dropped and null payloads kept distinct: $ids")
      assert(q.lastProgress.stateOperators.nonEmpty, "dedup state missing")
      // surface non-drift: the stream's key IS the batch kernel's hash
      assert(Multimodal.dhash64(Multimodal.bmpLuma(a))
        == Multimodal.dhash64(Multimodal.bmpLuma(aFlipped)))
    } finally q.stop()
  }

  test("dedupUrlsByCanonical collapses RFC 3986 spelling variants live") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingPipeline.dedupUrlsByCanonicalWithinWatermark(
      mem.toDF().toDF("doc_id", "url", "timestamp"))
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("url_dedup_stream").start()
    try {
      mem.addData(
        (1L, "http://www.src1.example.com/docs/1/page-1?a=1&b=2", ts("2024-01-01T10:00:00Z")),
        (2L, "http://www.src2.example.com/docs/2/page-2?a=1", ts("2024-01-01T10:00:01Z")))
      q.processAllAvailable()
      mem.addData(
        // five denormalized spellings of doc 1's resource: all dups
        (3L, "HTTP://WWW.SRC1.EXAMPLE.COM/docs/1/page-1?b=2&a=1", ts("2024-01-01T10:01:00Z")),
        (4L, "http://user:pw@www.src1.example.com:80/docs/1/page-1?a=1&b=2&utm_source=x", ts("2024-01-01T10:01:01Z")),
        (5L, "http://www.src1.example.com/docs/../docs/1/./page-1?a=1&b=2#frag", ts("2024-01-01T10:01:02Z")),
        (6L, "http://www.src1.example.com/docs/1/p%61ge-1?a=1&b=2", ts("2024-01-01T10:01:03Z")),
        // a genuinely different resource: kept
        (7L, "http://www.src1.example.com/docs/1/page-3?a=1&b=2", ts("2024-01-01T10:01:04Z")),
        // malformed (null URL) records: kept, each under its own key
        (8L, null, ts("2024-01-01T10:01:05Z")),
        (9L, null, ts("2024-01-01T10:01:06Z")))
      q.processAllAvailable()
      val ids = spark.table("url_dedup_stream").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(1L, 2L, 7L, 8L, 9L),
        s"expected spellings 3-6 collapsed onto 1, others kept: $ids")
      // surface non-drift: the stream's key IS the batch kernel
      assert(graft.functions.UrlKernels.canonicalize(
        "HTTP://WWW.SRC1.EXAMPLE.COM/docs/1/page-1?b=2&a=1")
        == "http://www.src1.example.com/docs/1/page-1?a=1&b=2")
    } finally q.stop()
  }

  test("crawlIngest: URL dedup -> strict parse -> content gate, live on the batch kernels") {
    implicit val sc = spark.sqlContext
    import operators.WebIngest
    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val out = StreamingPipeline.crawlIngest(
      mem.toDF().toDF("doc_id", "url", "html", "timestamp"))
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("crawl_ingest").start()
    try {
      val richText = "alpha beta gamma delta epsilon zeta eta theta"
      val page = WebIngest.renderHtml(1L, "src1", richText)
      // a page whose only content-eligible block is too short: gated out
      val thin = WebIngest.renderHtml(2L, "src2", "tiny text")
      mem.addData(
        (1L, "http://www.src1.example.com/docs/1/page-1?a=1&b=2", page, ts("2024-01-01T10:00:00Z")),
        (2L, "http://www.src2.example.com/docs/2/page-2?a=1&b=2", thin, ts("2024-01-01T10:00:01Z")))
      q.processAllAvailable()
      mem.addData(
        // re-fetch of doc 1 under a denormalized spelling: collapses
        // BEFORE the parse (same canonical key)
        (3L, "HTTP://WWW.SRC1.EXAMPLE.COM/docs/1/page-1?b=2&a=1#f", page, ts("2024-01-01T10:01:00Z")))
      q.processAllAvailable()
      val rows = spark.table("crawl_ingest").collect()
      assert(rows.map(_.getAs[Long]("doc_id")).toSet == Set(1L),
        s"expected only doc 1 (2 gated thin, 3 deduped): ${rows.mkString(";")}")
      val r = rows.head
      assert(r.getAs[String]("canonical_url")
        == "http://www.src1.example.com/docs/1/page-1?a=1&b=2")
      assert(r.getAs[String]("content_text") == richText)
      // surface non-drift: the stream's stats ARE the batch kernel's
      val blocks = WebIngest.parseHtmlBlocks(page)
      assert(r.getAs[Long]("content_chars")
        == blocks.filter(WebIngest.isContent).map(_.chars).sum)
    } finally q.stop()
  }

  test("throughput pin: curationIngest sustains >= 10k events/s on RocksDB") {
    // The reference's design point is 10 msg/s (generator.py's paced
    // producer); this pins the engine's actual ingest capacity at three
    // orders of magnitude above it, through the FULL curation pipeline
    // (quality gate -> shingle/minhash dedup state -> perceptron scoring)
    // on the RocksDB provider — the deploy-shaped backend. One warm-up
    // batch absorbs codegen + state-store init; the measured batch is
    // 200k distinct documents in one micro-batch, the shape a backlogged
    // ingest replays (per-BATCH overhead is ~3.5 s constant — state
    // commit + planning — so the marginal per-row cost, ~24 us, is what
    // the batch size amortizes against). The floor leaves >2x headroom
    // under the measured rate so host contention doesn't flake CI; the
    // measured number is recorded in SURVEY §6.
    withRocksDB {
      implicit val sc = spark.sqlContext
      val w = operators.TextAnalysis.trainQualityPerceptron(spark, sf)
      val mem = MemoryStream[Doc]
      val out = StreamingPipeline.curationIngest(mem.toDF(), w)
      val q = out.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("curation_tput").start()
      try {
        mem.addData(Doc(0L,
          "warmup document mentioning spark engines plans shuffles stores",
          ts("2024-01-01T09:59:00Z")))
        q.processAllAvailable()
        val n = 200000
        val docs = (1 to n).map(i => Doc(i.toLong,
          s"document number $i mentions spark engines plans shuffles " +
            s"state stores batch ${i % 97} lane ${i % 89} cell ${i % 83}",
          ts("2024-01-01T10:00:00Z")))
        mem.addData(docs: _*)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val secs = (System.nanoTime() - t0) / 1e9
        val rate = n / secs
        info(f"curationIngest throughput: $rate%.0f events/s (${secs}%.2f s for $n)")
        assert(rate >= 10000,
          f"curation ingest sustained only $rate%.0f events/s — below the " +
            "10k floor (reference design point is 10 msg/s)")
        // the pipeline actually did its work: distinct clean docs survive
        assert(spark.table("curation_tput").count() >= n * 0.9,
          "most distinct clean documents should survive gate + dedup")
      } finally q.stop()
    }
  }

  test("chatIngest: lint verdicts ride the stream and split through the quarantine sink") {
    implicit val sc = spark.sqlContext
    import operators.ChatData
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingPipeline.chatIngest(
      mem.toDF().toDF("chat_id", "json", "timestamp"))
    val good = scala.collection.mutable.ArrayBuffer.empty[Long]
    val bad = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingPipeline.quarantineSink(out, col("valid"),
      s"/tmp/graft_chat_q_${System.nanoTime()}",
      (df, _) => good ++= df.collect().map(_.getAs[Long]("chat_id")),
      (df, _) => bad ++= df.collect().map(_.getAs[Long]("chat_id"))).start()
    try {
      val ok = ChatData.renderChat(1L, (1 to 35).map(i => s"t$i").mkString(" "))
      val viol = ChatData.renderChat(7L, "one two three") // planted role flip
      val empty = ChatData.renderChat(2L, "")               // one empty turn
      mem.addData((1L, ok, ts("2024-01-01T10:00:00Z")),
        (7L, viol, ts("2024-01-01T10:00:01Z")),
        (2L, empty, ts("2024-01-01T10:00:02Z")))
      q.processAllAvailable()
      assert(good.toSet == Set(1L) && bad.toSet == Set(7L, 2L),
        s"good=$good bad=$bad")
      // the stream's numbers ARE the batch validator's
      val ck = ChatData.validateChat(ok)
      assert(ck.userTokens == 30 && ck.assistantTokens == 5 && !ck.roleViolation)
    } finally q.stop()
  }

  test("dpoIngest: pair verdicts ride the stream and split through the quarantine sink") {
    implicit val sc = spark.sqlContext
    import operators.ChatData
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingPipeline.dpoIngest(
      mem.toDF().toDF("pair_id", "json", "timestamp"))
    val good = scala.collection.mutable.ArrayBuffer.empty[Long]
    val bad = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingPipeline.quarantineSink(out, col("valid"),
      s"/tmp/graft_dpo_q_${System.nanoTime()}",
      (df, _) => good ++= df.collect().map(_.getAs[Long]("pair_id")),
      (df, _) => bad ++= df.collect().map(_.getAs[Long]("pair_id"))).start()
    try {
      val ok = ChatData.renderPair(1L, (1 to 65).map(i => s"t$i").mkString(" "))
      val degen = ChatData.renderPair(7L, (1 to 65).map(i => s"t$i").mkString(" "))
      val empty = ChatData.renderPair(2L, "short text") // single chunk: empty sides
      mem.addData((1L, ok, ts("2024-01-01T10:00:00Z")),
        (7L, degen, ts("2024-01-01T10:00:01Z")),
        (2L, empty, ts("2024-01-01T10:00:02Z")))
      q.processAllAvailable()
      assert(good.toSet == Set(1L) && bad.toSet == Set(7L, 2L),
        s"good=$good bad=$bad")
      // the stream's numbers ARE the batch validator's
      val ck = ChatData.validatePair(ok)
      assert(ck.chosenTokens == 30 && ck.rejectedTokens == 5 && !ck.degenerate)
    } finally q.stop()
  }

  test("crawlIngest: in-flight normalization repairs mojibake and NFC-composes") {
    implicit val sc = spark.sqlContext
    import operators.WebIngest
    import graft.functions.TextNormKernels
    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val out = StreamingPipeline.crawlIngest(
      mem.toDF().toDF("doc_id", "url", "html", "timestamp"))
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("crawl_norm").start()
    try {
      // page 1: the whole body is one mojibake level (UTF-8 read as
      // Latin-1) — the in-flight repair must invert it exactly
      val clean1 = "caf\u00e9 cr\u00e8me plus six more plain tokens here"
      val moji = TextNormKernels.garble(clean1)
      // page 2: NFD combining marks — repair refuses (chars past U+00FF),
      // NFC composes
      val nfd = "Café mixture with enough plain tokens to classify"
      mem.addData(
        (1L, "http://www.src1.example.com/docs/1/page-1?a=1", WebIngest.renderHtml(1L, "src1", moji), ts("2024-01-01T10:00:00Z")),
        (2L, "http://www.src2.example.com/docs/2/page-2?a=1", WebIngest.renderHtml(2L, "src2", nfd), ts("2024-01-01T10:00:01Z")))
      q.processAllAvailable()
      val rows = spark.table("crawl_norm").collect()
        .map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(rows(1L).getAs[String]("content_text") == clean1)
      assert(rows(2L).getAs[String]("content_text") == "Caf\u00e9" + nfd.drop(5))
      // content_chars counts NORMALIZED codepoints
      assert(rows(2L).getAs[Long]("content_chars") == nfd.length - 1L)
    } finally q.stop()
  }

  test("throughput pin: crawlIngest sustains >= 1k pages/s on RocksDB") {
    // The crawl streaming face had correctness tests but no pinned rate
    // (round-9 verdict item 5). Same discipline as the curationIngest pin:
    // one warm-up batch absorbs codegen + state-store init, then one
    // backlogged micro-batch of 20k DISTINCT-URL pages through the full
    // chain — codegen'd canonical-URL dedup state → strict HTML block
    // parse → density classification → content gate — on the RocksDB
    // provider. The floor leaves >2x headroom under the measured quiet
    // rate (recorded in SURVEY §6) so host contention doesn't flake CI.
    withRocksDB {
      implicit val sc = spark.sqlContext
      import operators.WebIngest
      val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
      val out = StreamingPipeline.crawlIngest(
        mem.toDF().toDF("doc_id", "url", "html", "timestamp"))
      val q = out.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("crawl_tput").start()
      try {
        val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
          "lambda mu engines plans shuffles state stores pages hosts links"
        mem.addData((0L, "http://www.warm.example.com/docs/0/page-0?a=1",
          WebIngest.renderHtml(0L, "warm", text), ts("2024-01-01T09:59:00Z")))
        q.processAllAvailable()
        val n = 20000
        val pages = (1 to n).map { i =>
          (i.toLong,
            s"HTTP://WWW.SRC${i % 20}.EXAMPLE.COM/docs/${i % 50}/page-${i % 200}?b=$i&a=1",
            WebIngest.renderHtml(i.toLong, s"src${i % 20}", s"$text batch ${i % 97} lane ${i % 89}"),
            ts("2024-01-01T10:00:00Z"))
        }
        mem.addData(pages: _*)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val secs = (System.nanoTime() - t0) / 1e9
        val rate = n / secs
        info(f"crawlIngest throughput: $rate%.0f pages/s (${secs}%.2f s for $n)")
        assert(rate >= 1000,
          f"crawl ingest sustained only $rate%.0f pages/s — below the 1k floor")
        // the chain did its work: distinct-URL content pages survive
        assert(spark.table("crawl_tput").count() >= n * 0.9,
          "most distinct-URL content pages should survive dedup + gate")
      } finally q.stop()
    }
  }

  test("docIngest: magic-byte routing extracts HTML and PDF in flight, quarantines unknowns") {
    implicit val sc = spark.sqlContext
    import operators.{Pdf, WebIngest}
    val mem = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val out = StreamingPipeline.docIngest(
      mem.toDF().toDF("doc_id", "payload", "timestamp"))
    val good = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    val bad = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = StreamingPipeline.quarantineSink(out, col("valid"),
      s"/tmp/graft_doc_q_${System.nanoTime()}",
      (df, _) => good ++= df.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("container"), r.getAs[String]("content_text"))),
      (df, _) => bad ++= df.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("container")))).start()
    try {
      val text = "ten deterministic tokens walking through the mixed lake today"
      val html = WebIngest.renderHtml(1L, "src1", text).getBytes("UTF-8")
      val pdf = Pdf.renderPdf(text, flate = true)
      val junk = "neither a page nor a document".getBytes("UTF-8")
      mem.addData((1L, html, ts("2024-01-01T10:00:00Z")),
        (2L, pdf, ts("2024-01-01T10:00:01Z")),
        (3L, junk, ts("2024-01-01T10:00:02Z")))
      q.processAllAvailable()
      assert(bad.toList == List((3L, "unknown")), s"bad=$bad")
      val byId = good.map(g => g._1 -> g).toMap
      assert(byId(1L)._2 == "html" && byId(1L)._3 == text,
        "html content extraction drifted from the batch kernel")
      assert(byId(2L)._2 == "pdf" && byId(2L)._3 == text,
        "pdf text extraction drifted from the batch codec")
    } finally q.stop()
    // strict contract: a payload with pdf magic but a corrupt body must
    // FAIL the batch, not produce a row
    val mem2 = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val out2 = StreamingPipeline.docIngest(
      mem2.toDF().toDF("doc_id", "payload", "timestamp"))
    val q2 = out2.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("doc_ingest_corrupt").start()
    try {
      mem2.addData((9L, "%PDF-1.4 but nothing else".getBytes("UTF-8"),
        ts("2024-01-01T10:00:00Z")))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q2.processAllAvailable())
      assert(e.getMessage.contains("pdf reject") ||
        Option(e.getCause).exists(_.getMessage.contains("pdf reject")),
        s"corrupt pdf must reject loudly: ${e.getMessage.take(200)}")
    } finally q2.stop()
    // same contract for html (r12 advice): a payload whose magic says
    // html but whose body is malformed UTF-8 must THROW, not flow through
    // as valid=true U+FFFD mojibake
    val mem3 = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val out3 = StreamingPipeline.docIngest(
      mem3.toDF().toDF("doc_id", "payload", "timestamp"))
    val q3 = out3.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("doc_ingest_badutf8").start()
    try {
      val badHtml = "<html><body><p>ok".getBytes("UTF-8") ++
        Array(0xC3.toByte) ++ // truncated 2-byte sequence
        "</p></body></html>".getBytes("UTF-8")
      mem3.addData((11L, badHtml, ts("2024-01-01T10:00:00Z")))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q3.processAllAvailable())
      def leaks(t: Throwable): Boolean = t != null &&
        (Option(t.getMessage).exists(_.contains("not valid UTF-8")) ||
          leaks(t.getCause))
      assert(leaks(e), s"corrupt html must reject loudly: ${e.getMessage.take(200)}")
    } finally q3.stop()
  }

  test("throughput pin: docIngest sustains >= 2k mixed docs/s") {
    // the mixed-container face pays the strict codec per row (HTML block
    // parse or full PDF walk); the floor leaves >2x headroom under the
    // measured quiet rate, same discipline as the other ingest pins
    implicit val sc = spark.sqlContext
    import operators.{Pdf, WebIngest}
    val mem = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val out = StreamingPipeline.docIngest(
      mem.toDF().toDF("doc_id", "payload", "timestamp"))
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("doc_tput").start()
    try {
      val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu engines plans shuffles state stores pages hosts links"
      mem.addData((0L, Pdf.renderPdf(text), ts("2024-01-01T09:59:00Z")))
      q.processAllAvailable()
      val n = 20000
      mem.addData((1 to n).map { i =>
        val t = s"$text batch ${i % 97} lane ${i % 89}"
        val p =
          if (i % 2 == 0) WebIngest.renderHtml(i.toLong, s"src${i % 20}", t)
            .getBytes("UTF-8")
          else Pdf.renderPdf(t, flate = i % 4 == 1)
        (i.toLong, p, ts("2024-01-01T10:00:00Z"))
      }: _*)
      val t0 = System.nanoTime()
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      val rate = n / secs
      info(f"docIngest throughput: $rate%.0f docs/s (${secs}%.2f s for $n)")
      assert(rate >= 2000,
        f"doc ingest sustained only $rate%.0f docs/s — below the 2k floor")
      assert(spark.table("doc_tput").count() >= n,
        "every routed doc must come out of the dispatch")
    } finally q.stop()
  }

  test("throughput pin: chatIngest sustains >= 5k chats/s") {
    // round-12 verdict item 6: the chat streaming face had correctness
    // tests but no pinned rate. Same discipline as the crawlIngest pin:
    // one warm-up batch absorbs codegen init, then one backlogged
    // micro-batch of 20k chats through the full strict-JSON parse +
    // validate chain. The floor leaves >2x headroom under the measured
    // quiet rate so host contention doesn't flake CI.
    implicit val sc = spark.sqlContext
    import operators.ChatData
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingPipeline.chatIngest(
      mem.toDF().toDF("chat_id", "json", "timestamp"))
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("chat_tput").start()
    try {
      val text = (1 to 95).map(i => s"tok$i").mkString(" ")
      mem.addData((0L, ChatData.renderChat(0L, text), ts("2024-01-01T09:59:00Z")))
      q.processAllAvailable()
      val n = 20000
      mem.addData((1 to n).map(i => (i.toLong,
        ChatData.renderChat(i.toLong, s"$text lane${i % 89}"),
        ts("2024-01-01T10:00:00Z"))): _*)
      val t0 = System.nanoTime()
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      val rate = n / secs
      info(f"chatIngest throughput: $rate%.0f chats/s (${secs}%.2f s for $n)")
      assert(rate >= 5000,
        f"chat ingest sustained only $rate%.0f chats/s — below the 5k floor")
      assert(spark.table("chat_tput").count() >= n,
        "every chat must come out of the stateless validate chain")
    } finally q.stop()
  }

  test("embIngest: the batch universe gate holds in flight, invalid vectors flagged") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val out = StreamingPipeline.embIngest(
      mem.toDF().toDF("vec_id", "embedding", "timestamp"))
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("emb_ingest").start()
    try {
      val good = Seq.tabulate(64)(i => (i % 7 + 1).toFloat / 8)
      mem.addData(
        (1L, good, ts("2024-01-01T10:00:00Z")),                    // valid
        (2L, good.take(16), ts("2024-01-01T10:00:01Z")),           // wrong dims
        (3L, Seq.fill(64)(0f), ts("2024-01-01T10:00:02Z")),        // zero norm
        (4L, good.updated(0, Float.NaN), ts("2024-01-01T10:00:03Z")), // NaN
        (5L, good.map(_ * 1e30f), ts("2024-01-01T10:00:04Z")))     // overflow
      q.processAllAvailable()
      val rows = spark.table("emb_ingest").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("valid")).toMap
      assert(rows == Map(1L -> true, 2L -> false, 3L -> false,
        4L -> false, 5L -> false), s"gate verdicts drifted: $rows")
      // the verdict must MATCH the batch universe: a valid vector joins
      // the similarity family's universe, an invalid one is excluded
      val d = spark.table("emb_ingest").filter(col("valid"))
        .select("dims").head.getInt(0)
      assert(d == 64)
    } finally q.stop()
  }

  test("throughput pin: embIngest sustains >= 20k vecs/s") {
    // the gate is a pure column formula (size + codegen'd l2norm), so
    // its rate floor sits well above the parse-heavy faces; 20k leaves
    // >2x headroom under the measured quiet rate
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val out = StreamingPipeline.embIngest(
      mem.toDF().toDF("vec_id", "embedding", "timestamp"))
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("emb_tput").start()
    try {
      val v = Seq.tabulate(64)(i => (i % 13 + 1).toFloat / 16)
      mem.addData((0L, v, ts("2024-01-01T09:59:00Z")))
      q.processAllAvailable()
      val n = 40000
      mem.addData((1 to n).map(i =>
        (i.toLong, v.updated(i % 64, (i % 31).toFloat / 32),
          ts("2024-01-01T10:00:00Z"))): _*)
      val t0 = System.nanoTime()
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      val rate = n / secs
      info(f"embIngest throughput: $rate%.0f vecs/s (${secs}%.2f s for $n)")
      assert(rate >= 20000,
        f"embedding ingest sustained only $rate%.0f vecs/s — below the 20k floor")
      assert(spark.table("emb_tput").count() >= n)
    } finally q.stop()
  }

  test("throughput pin: dpoIngest sustains >= 5k pairs/s") {
    implicit val sc = spark.sqlContext
    import operators.ChatData
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingPipeline.dpoIngest(
      mem.toDF().toDF("pair_id", "json", "timestamp"))
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dpo_tput").start()
    try {
      val text = (1 to 95).map(i => s"tok$i").mkString(" ")
      mem.addData((0L, ChatData.renderPair(0L, text), ts("2024-01-01T09:59:00Z")))
      q.processAllAvailable()
      val n = 20000
      mem.addData((1 to n).map(i => (i.toLong,
        ChatData.renderPair(i.toLong, s"$text lane${i % 89}"),
        ts("2024-01-01T10:00:00Z"))): _*)
      val t0 = System.nanoTime()
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      val rate = n / secs
      info(f"dpoIngest throughput: $rate%.0f pairs/s (${secs}%.2f s for $n)")
      assert(rate >= 5000,
        f"dpo ingest sustained only $rate%.0f pairs/s — below the 5k floor")
      assert(spark.table("dpo_tput").count() >= n,
        "every pair must come out of the stateless validate chain")
    } finally q.stop()
  }

  test("RocksDB backend: minhash ingest dedup drops re-posts identically") {
    withRocksDB {
      implicit val sc = spark.sqlContext
      val mem = MemoryStream[Doc]
      val out = StreamingPipeline.dedupByMinHashWithinWatermark(mem.toDF())
      val q = out.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("mh_dedup_rocks").start()
      try {
        val boiler = "the quick brown fox jumps over the lazy dog again and again"
        mem.addData(Doc(1L, boiler, ts("2024-01-01T10:00:00Z")),
                    Doc(2L, "distinct text about spark state store backends today",
                      ts("2024-01-01T10:00:05Z")))
        q.processAllAvailable()
        mem.addData(Doc(3L, boiler, ts("2024-01-01T10:01:00Z"))) // re-post
        q.processAllAvailable()
        val ids = spark.table("mh_dedup_rocks").collect()
          .map(_.getAs[Long]("doc_id")).toSet
        assert(ids == Set(1L, 2L), s"got $ids")
        assert(q.lastProgress.stateOperators.nonEmpty)
      } finally q.stop()
    }
  }

  test("RocksDB backend: stream-stream interval join state evicts and matches identically") {
    withRocksDB {
      implicit val sc = spark.sqlContext
      val views = MemoryStream[Reading]
      val purchases = MemoryStream[Reading]
      val v = views.toDF().select(col("device_id"), col("timestamp").as("v_ts"))
      val p = purchases.toDF().select(col("device_id"), col("timestamp").as("p_ts"))
      val joined = StreamingPipeline.intervalJoin(v, p, "device_id",
        leftTs = "v_ts", rightTs = "p_ts",
        maxDelay = "30 minutes", watermarkDelay = "10 minutes")
      val q = joined.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("ss_join_rocks").start()
      try {
        views.addData(reading("2024-01-01T10:00:00Z", 1.0))
        views.addData(reading("2024-01-01T08:00:00Z", 2.0)) // out of range
        purchases.addData(reading("2024-01-01T10:15:00Z", 3.0))
        q.processAllAvailable()
        val rows = spark.table("ss_join_rocks").collect()
        assert(rows.length == 1)
        assert(rows.head.getAs[Timestamp]("v_ts").toInstant.toString
          == "2024-01-01T10:00:00Z")
      } finally q.stop()
    }
  }

  test("RocksDB backend: silentDevices event-time timeout state fires identically") {
    withRocksDB {
      implicit val sc = spark.sqlContext
      val mem = MemoryStream[Reading]
      def at(dev: String, t: String) =
        Reading(dev, "temperature", "room1", 1.0, 50.0, ts(t))
      val quiet = StreamingPipeline.silentDevices(mem.toDF(),
        silenceMs = 30 * 60 * 1000L, watermarkDelay = "10 minutes")
      val q = quiet.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("silent_rocks").start()
      try {
        mem.addData(at("dev_a", "2024-01-01T10:00:00Z"),
                    at("dev_b", "2024-01-01T10:00:00Z"))
        q.processAllAvailable()
        mem.addData(at("dev_b", "2024-01-01T12:00:00Z"))
        q.processAllAvailable()
        mem.addData(at("dev_b", "2024-01-01T15:00:00Z"))
        q.processAllAvailable()
        val rows = spark.table("silent_rocks").collect()
        assert(rows.map(_.getAs[String]("device_id")).toSet == Set("dev_a"),
          s"expected only dev_a, got ${rows.mkString}")
      } finally q.stop()
    }
  }

  test("two concurrent sinks off one source (reference A11-A14 shape)") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Reading]
    var aggBatches, rawBatches = 0
    val (aggQ, rawQ) = StreamingPipeline.runBoth(
      mem.toDF(),
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString,
      (df, _) => aggBatches += df.collect().length,
      (df, _) => rawBatches += df.collect().length)
    try {
      mem.addData(reading("2024-01-01T10:00:10Z", 10.0),
                  reading("2024-01-01T10:03:00Z", 20.0))
      aggQ.processAllAvailable(); rawQ.processAllAvailable()
      assert(rawBatches == 2)   // raw sink sees every row
      assert(aggBatches == 1)   // agg sink sees the closed 10:00 window only
    } finally { aggQ.stop(); rawQ.stop() }
  }

  test("TopKIdsAgg works as a streaming update-mode aggregate (partial merges across batches)") {
    // the typed Aggregator's buffer must merge correctly when rows arrive
    // over multiple microbatches — same partial/merge machinery a shuffle
    // uses, exercised through the streaming state store instead
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, Double, Long)]
    val agg = mem.toDF().toDF("k", "v", "id")
      .groupBy("k")
      .agg(functions.TopKAgg.topkIds(3)(col("v"), col("id")).as("top3"))
    val q = agg.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("topk_stream").start()
    try {
      mem.addData(("a", 1.0, 1L), ("a", 5.0, 2L), ("b", 9.0, 10L))
      q.processAllAvailable()
      mem.addData(("a", 3.0, 3L), ("a", 4.0, 4L), ("a", 2.0, 5L))
      q.processAllAvailable()
      // the update sink appends one revision per batch (collect order is
      // not defined) — check the revision SET: "2,4,3" can only exist if
      // batch-2 rows merged into batch-1 state (id 2 is a batch-1 row)
      val byKey = spark.table("topk_stream").collect()
        .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getString(1)).toSet }
      assert(byKey("a") == Set("2,1", "2,4,3"), s"got ${byKey("a")}")
      assert(byKey("b") == Set("10"))
    } finally q.stop()
  }

  test("FreqSketchAgg works as a streaming update-mode aggregate (heavy hitters at ingest)") {
    // the sketch's merge must hold through the streaming state store:
    // batch-2 occurrences add onto batch-1 counters, and the candidate
    // set stays the frequent items across ALL batches
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    val agg = mem.toDF().toDF("tok")
      .groupBy(lit(1).as("g"))
      .agg(functions.FreqSketch.candidates(3)(col("tok")).as("cands"))
    val q = agg.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("hh_stream").start()
    try {
      mem.addData(Seq.fill(5)("x") ++ Seq.fill(4)("y") ++ Seq("r1"): _*)
      q.processAllAvailable()
      mem.addData(Seq.fill(6)("x") ++ Seq.fill(3)("z") ++ Seq("r2", "r3"): _*)
      q.processAllAvailable()
      val revs = spark.table("hh_stream").collect()
        .map(_.getSeq[String](1).toSet).toSet
      // after batch 1 x,y dominate; after both, x (11 of 21) is guaranteed
      // (count > n/(k+1) = 5.25) and must still be a candidate
      assert(revs.size == 2)
      assert(revs.forall(_.contains("x")), s"x lost across batches: $revs")
    } finally q.stop()
  }

  test("streakAlerts (transformWithState): one alert per anomaly episode, state crosses batches") {
    // transformWithState requires the RocksDB provider (API constraint)
    withRocksDB {
      implicit val sc = spark.sqlContext
      val mem = MemoryStream[Reading]
      def at(dev: String, t: String, v: Double) =
        Reading(dev, "temperature", "room1", v, 50.0, ts(t))
      val alerts = StreamingPipeline.streakAlerts(mem.toDF(),
        lo = 0.0, hi = 100.0, threshold = 3)
      val q = alerts.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("streak_alerts").start()
      try {
        // batch 1: dev_a streak reaches 2 (no alert yet); rows arrive
        // OUT of event-time order — the handler must sort before folding
        mem.addData(at("dev_a", "2024-01-01T10:00:02Z", 120.0),
                    at("dev_a", "2024-01-01T10:00:00Z", 50.0),
                    at("dev_a", "2024-01-01T10:00:01Z", 110.0),
                    at("dev_b", "2024-01-01T10:00:00Z", 55.0))
        q.processAllAvailable()
        assert(spark.table("streak_alerts").count() == 0)
        // batch 2: dev_a's third consecutive anomaly → alert with the
        // streak's TRUE start (10:00:01, carried in state from batch 1);
        // a fourth anomaly must NOT re-alert (one per crossing)
        mem.addData(at("dev_a", "2024-01-01T10:00:03Z", 130.0),
                    at("dev_a", "2024-01-01T10:00:04Z", 140.0),
                    at("dev_b", "2024-01-01T10:00:05Z", 60.0))
        q.processAllAvailable()
        val a1 = spark.table("streak_alerts").collect()
        assert(a1.length == 1, s"got ${a1.mkString}")
        assert(a1.head.getAs[String]("device_id") == "dev_a")
        assert(a1.head.getAs[Timestamp]("streak_start").toInstant.toString
          == "2024-01-01T10:00:01Z")
        assert(a1.head.getAs[Timestamp]("alert_ts").toInstant.toString
          == "2024-01-01T10:00:03Z")
        assert(a1.head.getAs[Int]("streak_len") == 3)
        // batch 3: in-range reading resets; a fresh 3-streak alerts again
        mem.addData(at("dev_a", "2024-01-01T10:00:05Z", 40.0),
                    at("dev_a", "2024-01-01T10:00:06Z", 101.0),
                    at("dev_a", "2024-01-01T10:00:07Z", 102.0),
                    at("dev_a", "2024-01-01T10:00:08Z", 103.0))
        q.processAllAvailable()
        val a2 = spark.table("streak_alerts").collect()
        assert(a2.length == 2)
        val fresh = a2.map(_.getAs[Timestamp]("streak_start").toInstant.toString).toSet
        assert(fresh == Set("2024-01-01T10:00:01Z", "2024-01-01T10:00:06Z"), s"got $fresh")
      } finally q.stop()
    }
  }
}
