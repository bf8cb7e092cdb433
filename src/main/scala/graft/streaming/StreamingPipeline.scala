package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, TimeMode}
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

import graft.functions.{VectorExpressions => V}
import graft.operators.{Ingest, WindowAgg}

/** The reference's streaming topology, Spark-native.
  *
  * Reference shape (`spark-processor/processor.py`):
  * Kafka `raw-data` topic → JSON decode → 1-min watermark → 1-min tumbling
  * window groupBy(device_type, location) → avg/min/max/count → two
  * concurrent sinks: update-mode aggregates + append-mode raw rows
  * (`processor.py:60-117`), awaited with `awaitAnyTermination`
  * (`processor.py:122`).
  *
  * Differences by design (SURVEY.md §4 "quirks"):
  *  - the reference appends update-mode emissions to an append-only table,
  *    so every window revision lands as a duplicate row, and sink errors are
  *    swallowed (`processor.py:133,139-140`). Our default is the clean
  *    semantics — [[aggregateWriter]] in append mode emits each window once,
  *    after the watermark closes it; `mimicReference = true` restores
  *    update-mode duplicates for parity testing.
  *  - checkpointing is per-query, as in the reference (`processor.py:106,116`).
  *
  * Scale: streaming state is bounded by (watermark horizon × group
  * cardinality), not input rate; the shuffle is on (window, keys) which is
  * also the state-store key, so adding executors repartitions state cleanly.
  */
object StreamingPipeline {

  /** The exact Kafka reader options the reference passes
    * (`spark-processor/processor.py:60-67`), exposed as data: the offline
    * harness has no broker (and no connector jar to even build the
    * relation), so the option plumbing — the one piece of [[fromKafka]]
    * MemoryStream cannot stand in for — is pinned by asserting this map
    * in StreamingSpec. [[fromKafka]] consumes it verbatim. */
  def kafkaReaderOptions(
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "earliest",
      failOnDataLoss: Boolean = false): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "subscribe" -> topic,
    "startingOffsets" -> startingOffsets,
    "failOnDataLoss" -> failOnDataLoss.toString)

  /** Kafka source → decoded typed rows (A1–A5). Not exercisable in the
    * offline harness (no broker); the MemoryStream tests drive
    * [[Ingest.decode]] and [[aggregates]] through the identical plan, and
    * the options test pins [[kafkaReaderOptions]]. */
  def fromKafka(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "earliest",
      failOnDataLoss: Boolean = false): DataFrame =
    Ingest.decode(
      spark.readStream
        .format("kafka")
        .options(kafkaReaderOptions(bootstrapServers, topic, startingOffsets, failOnDataLoss))
        .load())

  /** Watermarked tumbling-window aggregation over decoded readings (A7–A10). */
  def aggregates(
      decoded: DataFrame,
      windowDuration: String = "1 minute",
      watermarkDelay: String = "1 minute"): DataFrame =
    WindowAgg.sensorAggregates(decoded, windowDuration, Some(watermarkDelay))

  /** Aggregate sink (A11): append-after-watermark-close by default
    * (exactly-once-per-window with an idempotent sink); update mode when
    * mimicking the reference's duplicate-emitting behavior. */
  def aggregateWriter(
      aggs: DataFrame,
      checkpoint: String,
      sink: (DataFrame, Long) => Unit,
      mimicReference: Boolean = false): DataStreamWriter[org.apache.spark.sql.Row] =
    aggs.writeStream
      .outputMode(if (mimicReference) OutputMode.Update() else OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(guardedSink(sink) _)

  /** Raw-rows sink (A12): append mode, each batch straight to `sink`.
    * NOTE: a stateless query runs a batch only when new offsets exist, and
    * the decode maps rows 1:1, so no empty-batch guard is needed. The one
    * exception: a Kafka offset range holding only transaction markers
    * reaches the sink as an empty frame, which
    * [[graft.operators.Sinks.appendParquet]] lands as one empty file and
    * JDBC as nothing. */
  def rawWriter(
      decoded: DataFrame,
      checkpoint: String,
      sink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    decoded.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(sink)

  /** Empty-batch guard for [[aggregateWriter]] (A13, as in
    * processor.py:127-131). Append mode runs no-data batches to close
    * windows, most of which emit nothing, and an empty append still writes
    * one empty parquet file. `isEmpty` is an action: the batch is persisted
    * so the stateful plan runs once for guard + sink. Unlike the reference,
    * sink errors are not swallowed: a failed batch fails the query so the
    * checkpoint retries it.
    * NOTE: `count() > 0` starts the same jobs as `isEmpty` (1 per empty
    * batch, 2 per non-empty one) and is no faster. Async progress tracking
    * cannot drop the commit cost here: it rejects stateful queries, and for
    * the raw query it would need the internal `…OverrideSinkSupportCheck`
    * conf. */
  private def guardedSink(sink: (DataFrame, Long) => Unit)(df: DataFrame, batchId: Long): Unit = {
    df.persist()
    try { if (!df.isEmpty) sink(df, batchId) }
    finally df.unpersist(blocking = false)
  }

  /** Run both sinks concurrently off one source and await (A14). */
  def runBoth(
      decoded: DataFrame,
      checkpointRoot: String,
      aggSink: (DataFrame, Long) => Unit,
      rawSink: (DataFrame, Long) => Unit,
      mimicReference: Boolean = false): (StreamingQuery, StreamingQuery) = {
    val aggQ = aggregateWriter(aggregates(decoded), s"$checkpointRoot/agg", aggSink,
      mimicReference).start()
    val rawQ = rawWriter(decoded, s"$checkpointRoot/raw", rawSink).start()
    (aggQ, rawQ)
  }

  /** Streaming exact dedup with bounded state — the streaming face of the
    * dedup operators (drops re-deliveries of the same key within the
    * watermark horizon; state is GC'd as the watermark passes). */
  def dedupWithinWatermark(
      decoded: DataFrame,
      keys: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    decoded
      .withWatermark("timestamp", watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** Near-dup dedup AT INGEST — where a 100 TB training-data pipeline
    * actually runs it (deduping after landing re-reads the corpus; deduping
    * the stream costs one scan-side signature per row plus bounded state).
    * Key = the full 16-hash MinHash signature of the document's trigram
    * shingles (the batch dedup stack's exact kernel,
    * [[graft.functions.VectorKernels.minhashSig]]): documents whose shingle
    * sets collide on all 16 permutations — in practice Jaccard ≈ 1
    * boilerplate re-posts — are dropped within the watermark horizon, state
    * GC'd as event time advances. Sub-shingle-length documents have no
    * signature (empty gram set) and fall back to exact-text keying rather
    * than all colliding on the degenerate all-MaxValue signature. Banded
    * (any-band) matching would need stream-stream self-join state, not a
    * dedup key — that is the batch pipeline's job downstream. */
  /** Deterministic fallback key for a NULL-`textCol` row, derived from
    * the row's FULL content — never uuid(): a nondeterministic key
    * re-keys the same malformed row on micro-batch replay after a
    * failure, so dropDuplicatesWithinWatermark could not suppress its
    * re-delivery and the pipeline's exactly-once replay guarantee would
    * silently leak duplicates. The hash goes over the row's JSON with
    * nulls kept EXPLICIT: hashing the columns directly would use Spark's
    * null-skipping hash fold, under which two distinct rows whose
    * non-null values "shift" across columns (a NULL,"x" vs "x",NULL)
    * collide and one real malformed record would be dropped. Distinct
    * malformed rows thus get distinct keys; fully-identical malformed
    * rows collapse, which IS dedup semantics. Shared by every streaming
    * dedup keying scheme so the replay discipline cannot drift. */
  private def nullTextFallbackKey(docs: DataFrame): org.apache.spark.sql.Column = {
    concat(lit("null:"),
      xxhash64(to_json(struct(docs.columns.map(col): _*),
        Map("ignoreNullFields" -> "false"))).cast("string"))
  }

  def dedupByMinHashWithinWatermark(
      docs: DataFrame,
      textCol: String = "text",
      tsCol: String = "timestamp",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    docs
      // a null event time must not reach the stateful operator (the
      // silentDevices lesson: the watermark drops OLD rows, not null
      // ones); null-text rows get a unique key — two distinct malformed
      // records must not silently collapse into one on a null dedup key
      .filter(col(tsCol).isNotNull)
      // shingle ONCE into a column: referencing the kernel subtree from
      // both the condition and the branch would evaluate it twice per
      // row (conditional subtrees are outside subexpression elimination)
      .withColumn("_grams", V.wordShingles(col(textCol), 3))
      .withColumn("_dedup_key",
        when(col(textCol).isNull, nullTextFallbackKey(docs))
          .when(size(col("_grams")) > 0, V.minhashSig(col("_grams")).cast("string"))
          .otherwise(concat(lit("short:"), col(textCol))))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("_dedup_key"))
      .drop("_dedup_key", "_grams")
  }

  /** Streaming image dedup — the live face of the batch phash_neardup
    * operator, on the SAME kernel ([[graft.operators.Multimodal.bmpLuma]]
    * → [[graft.operators.Multimodal.dhash64]]), so the two surfaces
    * cannot drift: an in-flight image whose 64-bit perceptual hash
    * already arrived inside the watermark horizon is dropped. Exact-hash
    * collapse (the hamming-0 class — identical and trivially-re-encoded
    * re-posts); banded NEAR-dup clustering (hamming ≤ 6) stays a batch
    * pass over the landed fingerprints, because its candidate join needs
    * the full band index, not per-key state (the documented boundary).
    *
    * Contract: input columns (doc_id, payload: BINARY BMP container,
    * event time). Strictness matches the batch decoder — a corrupt BMP
    * fails the batch loudly (quarantine upstream with
    * [[quarantineSink]]); a NULL payload gets a doc_id-unique key so two
    * malformed records never silently collapse; null event times are
    * filtered before the stateful operator (the silentDevices lesson).
    * State: one 8-byte hash per distinct image inside the horizon. */
  def dedupImagesByPhashWithinWatermark(
      images: DataFrame,
      idCol: String = "doc_id",
      payloadCol: String = "payload",
      tsCol: String = "timestamp",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val session = images.sparkSession
    import session.implicits._
    images
      .filter(col(tsCol).isNotNull)
      .select(col(idCol), col(payloadCol), col(tsCol))
      .as[(Long, Array[Byte], java.sql.Timestamp)]
      .map { case (id, p, ts) =>
        val key =
          if (p == null) s"null:$id"
          else graft.operators.Multimodal.dhash64(
            graft.operators.Multimodal.bmpLuma(p)).toString
        (id, p, ts, key)
      }
      .toDF(idCol, payloadCol, tsCol, "_phash")
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("_phash"))
      .drop("_phash")
  }

  /** Streaming URL-keyed dedup — the crawl-frontier face of the batch
    * url_dedup pass: in-flight fetch records whose URLs canonicalize to
    * the same RFC 3986 form (case variants, default ports, dot segments,
    * percent-spellings, query-param order, fragments, credentials —
    * [[graft.functions.UrlKernels.canonicalize]]) collapse inside the
    * watermark horizon. The key is computed by the same codegen'd
    * expression the batch queries use (no kernel drift), and a null URL
    * gets the deterministic per-row fallback key (the
    * [[nullTextFallbackKey]] discipline — malformed records are kept, not
    * merged). */
  def dedupUrlsByCanonicalWithinWatermark(
      urls: DataFrame,
      idCol: String = "doc_id",
      urlCol: String = "url",
      tsCol: String = "timestamp",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    urls
      .filter(col(tsCol).isNotNull)
      .withColumn("_curl",
        coalesce(
          graft.functions.UrlExpressions.urlCanonicalize(col(urlCol)),
          concat(lit("null:"), col(idCol).cast("string"))))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("_curl"))
      .drop("_curl")
  }

  /** Stream-static incremental exact dedup — the streaming face of the
    * batch delta_dedup classifier: in-flight documents whose content
    * digest already exists in the standing-corpus snapshot are dropped
    * (delta_dedup's dup_snapshot), within-stream repeats collapse inside
    * the watermark horizon (dup_batch), and what reaches the sink is
    * delta_dedup's `fresh` set for the stream's window.
    *
    * The snapshot side is a DIGEST-ONLY narrow frame (one 32-hex column)
    * — document text never crosses the join. Stream-static joins
    * re-evaluate the static side per micro-batch, so at corpus scale the
    * snapshot should be a compacted digest table (or bloom-pruned via
    * JoinPruning first), not a scan of the corpus itself.
    *
    * Null-text rows follow the shared [[nullTextFallbackKey]] discipline
    * (deterministic row-content key, never uuid — replay idempotence);
    * such keys never anti-join away (a malformed record is not "already
    * in the corpus", and the "null:" prefix cannot collide with a 32-hex
    * digest). */
  def deltaDedupAgainstSnapshot(
      docs: DataFrame,
      snapshotDigests: DataFrame,
      digestCol: String = "digest",
      textCol: String = "text",
      tsCol: String = "timestamp",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    docs
      .filter(col(tsCol).isNotNull)
      .withColumn("_digest",
        when(col(textCol).isNull, nullTextFallbackKey(docs))
          .otherwise(md5(to_binary(col(textCol), lit("utf-8")))))
      .join(snapshotDigests.select(col(digestCol).as("_digest")),
        Seq("_digest"), "left_anti")
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("_digest"))
      .drop("_digest")
  }

  /** Silent-device detector — the liveness monitor the reference's IoT
    * domain implies: emits (device_id, last_seen) once a device has sent
    * nothing for `silenceMs` of EVENT time (watermark-driven, so a stalled
    * source can't false-alarm wall-clock style). Custom keyed state via
    * flatMapGroupsWithState: one Long (last-seen millis) per live device,
    * removed on report — rebounded devices start a fresh liveness cycle.
    * State is O(live devices), timeout scans are the state store's own
    * index; at cluster scale the keys hash-partition like any agg. */
  def silentDevices(
      readings: DataFrame,
      idCol: String = "device_id",
      tsCol: String = "timestamp",
      silenceMs: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = readings.sparkSession
    import spark.implicits._
    readings
      // a null event time must not reach the state function: the watermark
      // only drops rows OLDER than the horizon, not null ones, and a null
      // would NPE the whole streaming query on one malformed reading
      .filter(col(tsCol).isNotNull)
      .select(col(idCol).cast("string").as("_id"), col(tsCol).as("_ts"))
      .withWatermark("_ts", watermarkDelay)
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, java.sql.Timestamp)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (id: String, rows: Iterator[(String, java.sql.Timestamp)],
            state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            Iterator((id, microsToTs(last)))
          } else {
            // state carries MICROsecond precision: getTime would silently
            // truncate to millis and report a last_seen that differs from
            // the event time downstream equality-joins against
            val last = (rows.map(r => tsToMicros(r._2)) ++ state.getOption.iterator).max
            state.update(last)
            state.setTimeoutTimestamp(last / 1000L + silenceMs)
            Iterator.empty
          }
      }
      .toDF("device_id", "last_seen")
  }

  /** µs ↔ java.sql.Timestamp (getTime truncates to ms; nanos carry the
    * sub-second part, Spark timestamps are µs precision). */
  private[streaming] def tsToMicros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private[streaming] def microsToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Attach always-on data-quality counters to a decoded stream via
    * `Dataset.observe`: row count, null-timestamp count, and value sum are
    * accumulated inside the existing plan (no second aggregation, no extra
    * shuffle, negligible at any scale) and surface per micro-batch in
    * `StreamingQueryProgress.observedMetrics("graft_quality")` — the
    * monitoring hook a production pipeline alerts on. */
  def withQualityMetrics(decoded: DataFrame, tsCol: String = "timestamp",
      valueCol: String = "value"): DataFrame = {
    decoded.observe("graft_quality",
      count(lit(1)).as("rows"),
      sum(when(col(tsCol).isNull, 1).otherwise(0)).as("null_ts"),
      sum(col(valueCol)).as("value_sum"))
  }

  /** Stream-static enrichment join: decorate a stream with a dimension
    * table. The static side is broadcast (dimensions are small by
    * definition; a shuffled stream-static join would re-shuffle every
    * micro-batch), so the stream never leaves its partitioning and no
    * streaming state is created — the join is stateless per batch. Left
    * join by default: an unmatched dimension key must not DROP stream rows
    * (data loss on late dimension updates). */
  def enrichWithDim(
      stream: DataFrame,
      dim: DataFrame,
      key: String,
      joinType: String = "left"): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), joinType)

  /** Stream-static robust anomaly monitor: flag in-flight readings whose
    * value sits > `z` robust deviations from the key's precomputed
    * median/MAD ([[graft.operators.Stats.robustStats]] — trained on a
    * batch reference window, the standard deploy shape: stats refresh on
    * a cadence, the stream never blocks on them). The stats frame is
    * ≤|keys| rows and broadcasts, so the monitor adds zero shuffles and
    * zero state to the stream; keys with MAD 0 (constant reference) or
    * missing stats pass through unflagged rather than dividing by zero.
    * Mirrors the batch mad_outliers gate exactly — a reading flags here
    * iff the same row would flag there against the same reference. */
  def robustAnomalies(
      readings: DataFrame,
      stats: DataFrame,
      keyCol: String = "device_type",
      valueCol: String = "value",
      z: Double = graft.operators.Stats.RobustZThreshold): DataFrame = {
    val c = graft.operators.Stats.MadConsistency
    readings
      .join(broadcast(stats), Seq(keyCol), "left")
      .withColumn("robust_z",
        round(abs(col(valueCol) - col("median_value")) / (col("mad") * c), 4))
      .filter(col("mad").isNotNull && col("mad") > 0 &&
        abs(col(valueCol) - col("median_value")) / (col("mad") * c) > z)
  }

  /** The frozen-bounds bin rule shared by [[driftMonitor]] and
    * [[driftBaseline]]: psi_drift's equal-width rule with BOTH edges
    * clamped — live values may leave the frozen reference range, and a
    * range breach should land in an edge bin (where it reads as drift),
    * not drop. */
  private def binCol(v: org.apache.spark.sql.Column, lo: Double, hi: Double,
      bins: Int): org.apache.spark.sql.Column = {
    if (hi > lo)
      least(lit((bins - 1).toLong), greatest(lit(0L),
        floor((v - lo) * bins / (hi - lo))))
    else lit(0L)
  }

  /** Reference histogram for [[driftMonitor]]: (bin, ref_cnt) over the
    * frozen [lo, hi] universe from a batch reference window. Absent bins
    * are fine — the monitor Laplace-smooths over the full universe. */
  def driftBaseline(ref: DataFrame, valueCol: String, lo: Double, hi: Double,
      bins: Int = 64): DataFrame = {
    ref.filter(col(valueCol).isNotNull)
      .withColumn("bin", binCol(col(valueCol), lo, hi, bins))
      .groupBy("bin").agg(count(lit(1)).as("ref_cnt"))
  }

  /** Stream-static distribution-drift monitor: per event-time window, the
    * Population Stability Index of the in-flight value distribution
    * against a frozen reference histogram — the live face of the batch
    * psi_drift query: same Laplace smoothing over the fixed bin universe,
    * same integer micro-nat ln quantization, same DECIMAL contribution
    * sums, same cross-multiplied 0.2 major-drift flag.
    *
    * Deployment shape: bounds and the reference histogram are FROZEN with
    * the baseline (a stream has no global min/max to re-derive, and a
    * drifting reference defeats the monitor); out-of-range live values
    * clamp into the edge bins. The plan is two CHAINED windowed
    * aggregations — (window, bin) counts, then per-window histogram
    * assembly keyed on window_time() — the Spark 4 multiple-stateful-
    * operator shape, so state is O(open windows × bins) regardless of
    * rate; the PSI fold is stateless per-row arithmetic over
    * ≤bins-element arrays against the broadcast one-row baseline. Emits
    * once per window when the watermark closes it (append mode). */
  def driftMonitor(
      readings: DataFrame,
      baseline: DataFrame,
      lo: Double,
      hi: Double,
      bins: Int = 64,
      tsCol: String = "timestamp",
      valueCol: String = "value",
      windowLen: String = "1 minute",
      watermarkDelay: String = "1 minute"): DataFrame = {
    val counts = readings
      .filter(col(valueCol).isNotNull)
      .withWatermark(tsCol, watermarkDelay)
      .withColumn("bin", binCol(col(valueCol), lo, hi, bins))
      .groupBy(window(col(tsCol), windowLen), col("bin"))
      .count()
    val hist = counts
      .groupBy(window(window_time(col("window")), windowLen).as("w"))
      .agg(map_from_entries(collect_list(struct(col("bin"), col("count")))).as("m"))
    val base = baseline.agg(
      map_from_entries(collect_list(struct(col("bin"), col("ref_cnt")))).as("rm"))
    hist.crossJoin(broadcast(base))
      .withColumn("u", sequence(lit(0L), lit((bins - 1).toLong)))
      .withColumn("cur", expr("transform(u, i -> coalesce(m[i], 0L) + 1L)"))
      .withColumn("ref", expr("transform(u, i -> coalesce(rm[i], 0L) + 1L)"))
      .withColumn("na", expr("aggregate(cur, 0L, (a, x) -> a + x)"))
      .withColumn("nb", expr("aggregate(ref, 0L, (a, x) -> a + x)"))
      .withColumn("p6", expr(
        """aggregate(zip_with(cur, ref, (sa, sb) ->
             (CAST(sa AS DECIMAL(38,0)) * nb - CAST(sb AS DECIMAL(38,0)) * na)
             * (CAST(round(ln(CAST(sa AS DOUBLE)) * 1e6) AS BIGINT)
                - CAST(round(ln(CAST(sb AS DOUBLE)) * 1e6) AS BIGINT)
                + CAST(round(ln(CAST(nb AS DOUBLE)) * 1e6) AS BIGINT)
                - CAST(round(ln(CAST(na AS DOUBLE)) * 1e6) AS BIGINT))),
           CAST(0 AS DECIMAL(38,0)), (a, x) -> a + x)"""))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        (col("na") - bins).as("n"),
        round(col("p6").cast(DoubleType) /
          (col("na").cast(DoubleType) * col("nb") * 1e6), 6).as("psi"),
        (col("p6") * 5 >
          col("na").cast(DecimalType(38, 0)) * col("nb") * 1000000L)
          .as("major_drift"))
  }

  /** Live curation funnel — the streaming face of the batch filter_funnel
    * query: per event-time window and per Gopher gate, how many documents
    * arrived, how many pass that gate, and how many survive the gates
    * applied IN ORDER. The rule predicates are
    * [[graft.operators.TextAnalysis.gopherRules]] — the same single
    * definition the batch battery and funnel use, so the monitor cannot
    * drift from the offline readout it fronts. A curation ingest watches
    * this to catch a gate suddenly killing traffic (an upstream format
    * change flips mean_word_len; a crawler bug floods symbols) within one
    * window instead of at the next batch audit.
    *
    * Shape: rule flags are materialized ONCE per row before the 5-struct
    * explode (the batch funnel's lesson — inlining re-evaluates every
    * regexp per prefix-AND), then one stateful windowed aggregation on
    * (window, gate) — state O(open windows × 5 gates), emitted once per
    * closed window in append mode. Null event times are filtered before
    * the stateful operator (the silentDevices lesson); null text rows
    * flow through coalesce('') inside the rules and count as arrivals
    * that fail the battery, exactly as the batch funnel counts them. */
  def funnelMonitor(
      docs: DataFrame,
      textCol: String = "text",
      tsCol: String = "timestamp",
      windowLen: String = "1 minute",
      watermarkDelay: String = "1 minute"): DataFrame = {
    val (_, rules) = graft.operators.TextAnalysis.gopherRules(col(textCol))
    val flags = docs
      .filter(col(tsCol).isNotNull)
      .select(col(tsCol) +: rules.zipWithIndex.map {
        case ((_, r), i) => r.as(s"r$i")
      }: _*)
    val gates = rules.zipWithIndex.map { case ((name, _), i) =>
      val cum = (0 to i).map(j => col(s"r$j")).reduce(_ && _)
      struct(lit(i + 1).as("gate"), lit(name).as("rule"),
        col(s"r$i").cast(IntegerType).as("p"),
        cum.cast(IntegerType).as("cp"))
    }
    flags
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), explode(array(gates: _*)).as("g"))
      .groupBy(window(col(tsCol), windowLen),
        col("g.gate").as("gate"), col("g.rule").as("rule"))
      .agg(count(lit(1)).as("n_docs"),
        sum("g.p").cast(LongType).as("n_pass"),
        sum("g.cp").cast(LongType).as("n_surviving"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("gate"), col("rule"), col("n_docs"), col("n_pass"),
        col("n_surviving"))
  }

  /** Per-window trending values — the streaming face of the batch
    * heavy_hitters two-pass pattern: each event-time window keeps one
    * bounded Misra–Gries buffer (the SAME mergeable
    * [[graft.functions.FreqSketch]] aggregator the batch query runs, so
    * the two surfaces cannot drift) and emits its ≤k candidate set once
    * the watermark closes the window. State is O(open windows × k) — no
    * per-value counters, no second ranking stage, which is what makes
    * this a legal single stateful operator in append mode. The MG
    * contract carries over verbatim: every value whose in-window count
    * exceeds n/(k+1) is guaranteed present; the exact recount (batch
    * heavy_hitters pass 2) remains an offline job over the closed
    * window. For low-cardinality dimensions the candidate set is simply
    * exact (the buffer never overflows). */
  def trendingMonitor(
      events: DataFrame,
      valueCol: String = "event_type",
      tsCol: String = "ts",
      windowLen: String = "1 minute",
      watermarkDelay: String = "1 minute",
      k: Int = 8): DataFrame = {
    events
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen))
      .agg(graft.functions.FreqSketch.candidates(k)(col(valueCol))
        .as("trending"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("trending"), col("n_events"))
  }

  /** Scores in-flight documents with the batch-trained quality perceptron
    * (TextAnalysis.trainQualityPerceptron) — the train-offline /
    * infer-online composition every production corpus pipeline runs.
    * STATELESS by construction: the ≤256-entry weight vector rides the
    * plan as a map literal and the margin Σ_f w[f] over the row's hashed
    * bigrams is one per-row higher-order aggregate — no shuffle, no state
    * store, no watermark needed, so it appends at source rate and
    * composes ahead of any stateful stage. The margin arithmetic is the
    * batch scorer's exactly (per-instance w[f] sums = per-bucket c·w
    * sums, both in DECIMAL(38,0)); StreamingSpec pins row-for-row margin
    * parity with the registered quality_classifier query. */
  def scoreQuality(
      docs: DataFrame,
      weights: Map[Long, Long],
      textCol: String = "text",
      buckets: Int = graft.operators.TextAnalysis.QcBuckets): DataFrame = {
    val wmap = typedlit(weights)
    val dec = DecimalType(38, 0)
    graft.operators.TextAnalysis.withBigramBuckets(docs, textCol, buckets, "__qc_f")
      .withColumn("margin", aggregate(col("__qc_f"), lit(0L).cast(dec),
        (acc, f) => acc + coalesce(element_at(wmap, f), lit(0L)).cast(dec))
        .cast(LongType))
      .withColumn("keep", col("margin") > 0)
      .drop("__qc_f")
  }

  /** Watermarked stream-stream interval join: each left row pairs with the
    * right-stream rows sharing `key` whose event time falls in
    * [left.ts, left.ts + maxDelay] — the impression→click attribution
    * shape. Not in the reference (its topology is single-stream); completes
    * the streaming surface.
    *
    * Both sides carry watermarks and the join condition bounds event-time
    * distance in BOTH directions, which is what lets Spark compute a state
    * watermark per side and evict buffered rows: state is
    * O(rate × (watermarkDelay + maxDelay)) per side, never unbounded. The
    * join key should include the equi-key so state is hash-partitioned by
    * it (co-located with the shuffle, no broadcast of a stream).
    *
    * `leftTs`/`rightTs` must be differently-named event-time columns so the
    * interval predicate is unambiguous in the joined schema. */
  /** `joinType` may be "inner" (default) or "left_outer": outer emits an
    * unmatched left row null-extended once the watermark proves no match
    * can still arrive — the attribution pipeline's "impression with no
    * click" record, produced with bounded state rather than a batch
    * reconciliation job. */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      maxDelay: String = "10 minutes",
      watermarkDelay: String = "1 minute",
      joinType: String = "inner"): DataFrame = {
    require(leftTs != rightTs,
      "left and right event-time columns must have distinct names")
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    // side-qualified refs (like the equi-key): bare col(...) would be
    // ambiguous the moment either input also carries a column named like
    // the other side's event time (e.g. after an enrichment copy)
    l.join(r,
      l(key) === r(key) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $maxDelay"),
      joinType)
      .drop(r(key))
  }

  /** The curation pipeline AT INGEST, composed end-to-end: quality gate
    * (the batch corpus_filter's exact predicate,
    * [[graft.operators.TextAnalysis.qualityGate]]) → MinHash near-dup
    * dedup within the watermark horizon → perceptron quality scoring
    * with batch-trained weights. This is where a 100 TB training-data
    * pipeline actually runs curation — filtering the stream costs one
    * scan-side predicate and bounded dedup state, versus re-reading the
    * landed corpus; the batch operators remain the ground truth the
    * streaming path's components are each tested against.
    *
    * Order matters: the gate runs FIRST (cheap per-row arithmetic prunes
    * before the shingle kernel and dedup state see the row), dedup runs
    * before scoring (no margin computation for rows that die anyway). */
  def curationIngest(
      docs: DataFrame,
      weights: Map[Long, Long],
      textCol: String = "text",
      tsCol: String = "timestamp",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    scoreQuality(
      dedupByMinHashWithinWatermark(
        docs.filter(graft.operators.TextAnalysis.qualityGate(col(textCol))),
        textCol, tsCol, watermarkDelay),
      weights, textCol)
  }

  /** Streaming crawl ingest — the in-flight face of the round-9 batch
    * web-ingestion stage, composed the way a live fetcher runs it:
    * canonical-URL dedup within the watermark horizon (re-fetches and
    * spelling variants collapse BEFORE the expensive parse — the cheap
    * key first, the [[curationIngest]] gate-then-dedup discipline in
    * reverse because here the key is cheaper than the parse), then the
    * STRICT HTML block parse + density classification per surviving page,
    * then the content gate (pages with no content blocks drop). Parsing
    * uses exactly the batch kernel ([[graft.operators.WebIngest
    * .parseHtmlBlocks]]/isContent) — no drift between what batch curation
    * and live ingest consider "content". Since round 10 the surviving
    * content text is normalized in-flight with the batch kernels the
    * text_normalize/mojibake_repair queries pin: one closed-rule mojibake
    * inversion first (byte-level damage undone before composition), then
    * Unicode NFC — the same normalize-before-curate order the batch
    * pipeline runs between charset_sniff and the quality gates.
    * content_chars counts the NORMALIZED text's codepoints. Output:
    * (doc_id, canonical_url, content_blocks, content_chars, content_text,
    * timestamp).
    *
    * Malformed pages THROW (the strict contract); a production deploy
    * wraps this stage with [[quarantineSink]] so rejects land in the
    * dead-letter path — the composition StreamingSpec drives. */
  def crawlIngest(
      pages: DataFrame,
      idCol: String = "doc_id",
      urlCol: String = "url",
      htmlCol: String = "html",
      tsCol: String = "timestamp",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val session = pages.sparkSession
    import session.implicits._
    dedupUrlsByCanonicalWithinWatermark(pages, idCol, urlCol, tsCol, watermarkDelay)
      .withColumn("canonical_url",
        graft.functions.UrlExpressions.urlCanonicalize(col(urlCol)))
      .select(col(idCol), col("canonical_url"), col(htmlCol), col(tsCol))
      .as[(Long, String, String, java.sql.Timestamp)]
      .map { case (id, curl, html, ts) =>
        val blocks = graft.operators.WebIngest.parseHtmlBlocks(html)
        val content = blocks.filter(graft.operators.WebIngest.isContent)
        val text = graft.functions.TextNormKernels.nfc(
          graft.functions.TextNormKernels.repair(
            content.map(_.text).mkString("\n")))
        // content_chars excludes the (blocks-1) join separators so the
        // metric stays comparable with batch html_text's per-block sum
        // (normalization itself may still move the count — repair/NFC run
        // on the joined text here, the in-flight content the sink ships)
        val seps = math.max(content.length - 1, 0)
        (id, curl, content.length,
          text.codePointCount(0, text.length).toLong - seps, text, ts)
      }
      .toDF(idCol, "canonical_url", "content_blocks", "content_chars",
        "content_text", tsCol)
      .filter(col("content_blocks") > 0)
  }

  /** Mixed-container streaming document ingest: every payload routes by
    * its OWN magic bytes ([[graft.operators.Multimodal.sniffMediaType]] —
    * never by trusted metadata), and each supported container extracts
    * through ITS batch-pinned strict codec: HTML via the strict block
    * parse + content classification (crawlIngest's kernel), PDF via the
    * full xref/page-tree/content-stream walk ([[graft.operators.Pdf]]),
    * WARC members via the gzip record walk with each response body's
    * HTML re-entering the same block parse. Unknown containers flow
    * through FLAGGED (`valid = false`, the natural [[quarantineSink]]
    * predicate) — counting and quarantining beats dropping; a payload
    * whose magic MATCHES a container but whose body is corrupt THROWS,
    * the strict-codec contract every batch family pins. */
  def docIngest(
      docs: DataFrame,
      idCol: String = "doc_id",
      payloadCol: String = "payload",
      tsCol: String = "timestamp"): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    docs
      .select(col(idCol).cast("long"), col(payloadCol), col(tsCol))
      .as[(Long, Array[Byte], java.sql.Timestamp)]
      .map { case (id, p, ts) =>
        // strict decode (CharsetDecoder defaults to REPORT): a payload
        // whose magic says html/warc but whose body is malformed UTF-8
        // THROWS like the pdf route, instead of flowing through as
        // valid=true U+FFFD mojibake (advice r12 — the codec contract is
        // uniform across containers)
        def strictUtf8(bytes: Array[Byte], container: String): String =
          try java.nio.charset.StandardCharsets.UTF_8.newDecoder()
            .decode(java.nio.ByteBuffer.wrap(bytes)).toString
          catch { case _: java.nio.charset.CharacterCodingException =>
            throw new IllegalArgumentException(
              s"$container payload of doc $id is not valid UTF-8")
          }
        def htmlText(html: String): String =
          graft.operators.WebIngest.parseHtmlBlocks(html)
            .filter(graft.operators.WebIngest.isContent)
            .map(_.text).mkString("\n")
        graft.operators.Multimodal.sniffMediaType(p) match {
          case "html" =>
            val t = htmlText(strictUtf8(p, "html"))
            (id, "html", t, t.codePointCount(0, t.length).toLong, true, ts)
          case "pdf" =>
            val t = graft.operators.Pdf.parsePdf(p).text
            (id, "pdf", t, t.codePointCount(0, t.length).toLong, true, ts)
          case "warc" =>
            val t = graft.operators.WebIngest.readWarc(p)
              .filter(_.warcType == "response")
              .map(r => htmlText(strictUtf8(
                graft.operators.WebIngest.httpBody(r.payload), "warc")))
              .mkString("\n")
            (id, "warc", t, t.codePointCount(0, t.length).toLong, true, ts)
          case other => (id, other, "", 0L, false, ts)
        }
      }
      .toDF(idCol, "container", "content_text", "content_chars", "valid", tsCol)
  }

  /** Streaming face of the chat-data stage ([[graft.operators.ChatData]]):
    * validate SFT transcripts in-flight with the SAME strict JSON codec
    * and lint rules the batch chat_stats/chat_lint queries pin — no drift
    * between what batch curation and live ingest consider a trustworthy
    * transcript. Output per chat: turn counts, system presence, the
    * user/assistant token masses a loss mask needs, and the lint verdict
    * (`valid` = no role violation, no empty turn) — the natural
    * [[quarantineSink]] predicate (`col("valid")`) for routing broken
    * transcripts to a dead-letter path. Malformed JSON (vs merely
    * bad-but-parseable roles) THROWS, the strict-codec contract. */
  def chatIngest(
      chats: DataFrame,
      idCol: String = "chat_id",
      jsonCol: String = "json",
      tsCol: String = "timestamp"): DataFrame = {
    val session = chats.sparkSession
    import session.implicits._
    chats
      .select(col(idCol).cast("long"), col(jsonCol), col(tsCol))
      .as[(Long, String, java.sql.Timestamp)]
      .map { case (id, json, ts) =>
        val ck = graft.operators.ChatData.validateChat(json)
        (id, ck.nTurns, ck.hasSystem, ck.userTokens, ck.assistantTokens,
          !ck.roleViolation && !ck.emptyTurn, ts)
      }
      .toDF(idCol, "n_turns", "has_system", "user_tokens",
        "assistant_tokens", "valid", tsCol)
  }

  /** Streaming face of the DPO stage ([[graft.operators.ChatData]]'s pair
    * codec): validate chosen/rejected preference records in-flight with
    * the SAME strict parser + [[graft.operators.ChatData.validatePair]]
    * the batch dpo_stats/dpo_lint queries pin. Output per pair: token
    * masses, the length margin, position, and the `valid` verdict
    * (non-degenerate AND non-empty — a pair with zero preference signal
    * must not reach a reward model), the natural [[quarantineSink]]
    * predicate for routing broken pairs to a dead-letter path. Malformed
    * JSON or a malformed pair shape THROWS, the strict-codec contract. */
  def dpoIngest(
      pairs: DataFrame,
      idCol: String = "pair_id",
      jsonCol: String = "json",
      tsCol: String = "timestamp"): DataFrame = {
    val session = pairs.sparkSession
    import session.implicits._
    pairs
      .select(col(idCol).cast("long"), col(jsonCol), col(tsCol))
      .as[(Long, String, java.sql.Timestamp)]
      .map { case (id, json, ts) =>
        val ck = graft.operators.ChatData.validatePair(json)
        (id, ck.position, ck.promptTokens, ck.chosenTokens,
          ck.rejectedTokens, ck.chosenTokens - ck.rejectedTokens,
          !ck.degenerate && !ck.emptyResponse, ts)
      }
      .toDF(idCol, "position", "prompt_tokens", "chosen_tokens",
        "rejected_tokens", "margin", "valid", tsCol)
  }

  /** Streaming face of the embedding stage ([[graft.operators
    * .Similarity]]): validate vectors in-flight with the SAME universe
    * gate every batch similarity/ANN/semdedup query pins — declared
    * dimensionality, finite positive L2 norm under the overflow ceiling
    * (a NaN/Inf coordinate fails the `norm > 0` comparison, the batch
    * family's exclusion-at-the-source rule). Output per vector: the
    * observed dims and norm plus the `valid` verdict — the natural
    * [[quarantineSink]] predicate for routing malformed vectors to a
    * dead-letter path BEFORE they poison an index build or a trained
    * bank. The norm rides the codegen'd
    * [[graft.functions.VectorExpressions.l2norm]] expression, not a
    * per-row closure, so the gate is a pure column formula exactly as in
    * batch. */
  def embIngest(
      vecs: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      tsCol: String = "timestamp"): DataFrame = {
    import graft.operators.Similarity.{EmbDims, MaxVecNorm}
    vecs
      .select(col(idCol).cast("long"), col(embCol), col(tsCol))
      .withColumn("dims", size(col(embCol)))
      .withColumn("norm", V.l2norm(col(embCol)))
      .select(col(idCol), col("dims"),
        round(col("norm"), 6).as("norm"),
        (col("dims") === EmbDims && col("norm") > 0 &&
          col("norm") < MaxVecNorm).as("valid"),
        col(tsCol))
  }

  /** Dead-letter split sink: one stream, two destinations. Rows failing
    * `isGood` go to the quarantine sink with full payload for replay
    * after a parser fix; the rest take the main path. Pairs with
    * [[graft.operators.Ingest.decodeWithCorrupt]] (`isGood =
    * col("_corrupt").isNull`) to upgrade the reference's silent-null
    * decode (`processor.py:74`, malformed JSON becomes nulls nobody
    * sees) into an auditable quarantine.
    *
    * One persist serves both filters, so the upstream plan (including
    * any stateful stages) executes once per batch, not three times
    * (guard + two writes). Errors from either sink propagate — a failed
    * batch must fail the query so the checkpoint retries it. */
  def quarantineSink(
      decoded: DataFrame,
      isGood: org.apache.spark.sql.Column,
      checkpoint: String,
      good: (DataFrame, Long) => Unit,
      quarantine: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    decoded.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        // a NULL predicate row would vanish from BOTH filters (filter
        // drops null); coalesce makes the split an exact partition with
        // null-verdict rows quarantined
        val goodPred = coalesce(isGood, lit(false))
        df.persist()
        try {
          val bad = df.filter(not(goodPred))
          if (!bad.isEmpty) quarantine(bad, batchId)
          val ok = df.filter(goodPred)
          if (!ok.isEmpty) good(ok, batchId)
        } finally df.unpersist(blocking = false)
      }

  /** Consecutive-anomaly escalation on the transformWithState API (the
    * Spark 4 arbitrary-state surface that supersedes
    * flatMapGroupsWithState: typed named state cells, per-cell TTL,
    * timers). Per device, a ValueState[(streakLen, streakStartµs)] counts
    * CONSECUTIVE out-of-[lo,hi] readings in event-time order; the moment a
    * streak reaches `threshold` one alert row
    * (device_id, streak_start, alert_ts, streak_len) is emitted, and an
    * in-range reading resets the streak. One alert per crossing — the
    * streak keeps counting past the threshold without re-alerting until it
    * resets, so alert volume is bounded by anomaly EPISODES, not readings.
    *
    * Determinism: rows inside a micro-batch arrive unordered, so the
    * handler sorts each key's batch by (event time, value) before folding —
    * per-key-per-batch row counts are small (bounded by trigger interval ×
    * per-device rate), so the sort is a few elements, never a shuffle.
    * State is O(live devices) × 12 bytes and hash-partitions with the keys.
    * Requires the RocksDB state store provider (a transformWithState
    * constraint; StreamingSpec runs it there). */
  def streakAlerts(
      readings: DataFrame,
      idCol: String = "device_id",
      tsCol: String = "timestamp",
      valueCol: String = "value",
      lo: Double = 0.0,
      hi: Double = 100.0,
      threshold: Int = 3): DataFrame = {
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    val spark = readings.sparkSession
    import spark.implicits._
    readings
      // nulls never reach the state function (silentDevices discipline):
      // a null ts can't be ordered, a null value would unbox to 0.0
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(idCol).cast("string").as("_id"), col(tsCol).as("_ts"),
        col(valueCol).cast("double").as("_v"))
      .as[(String, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .transformWithState(new StreakProcessor(lo, hi, threshold),
        TimeMode.None(), OutputMode.Append())
      .toDF("device_id", "streak_start", "alert_ts", "streak_len")
  }

}

/** Keyed state machine for [[StreamingPipeline.streakAlerts]]. State is one
  * (streakLen, streakStartMicros) cell per device; TTLConfig.NONE because a
  * dormant streak must survive arbitrarily long gaps (liveness is
  * silentDevices' job, not this operator's). */
private[streaming] final class StreakProcessor(
    lo: Double, hi: Double, threshold: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String,
      (String, java.sql.Timestamp, Double),
      (String, java.sql.Timestamp, java.sql.Timestamp, Int)] {

  import org.apache.spark.sql.streaming.{OutputMode => OM, TimerValues, TTLConfig, ValueState}

  @transient private var streak: ValueState[(Int, Long)] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit =
    streak = getHandle.getValueState[(Int, Long)]("streak",
      org.apache.spark.sql.Encoders.product[(Int, Long)], TTLConfig.NONE)

  override def handleInputRows(
      key: String,
      rows: Iterator[(String, java.sql.Timestamp, Double)],
      timerValues: TimerValues): Iterator[(String, java.sql.Timestamp, java.sql.Timestamp, Int)] = {
    val out = Seq.newBuilder[(String, java.sql.Timestamp, java.sql.Timestamp, Int)]
    var (len, start) = if (streak.exists()) streak.get() else (0, 0L)
    rows.toSeq
      .map(r => (StreamingPipeline.tsToMicros(r._2), r._3))
      .sortBy(identity)
      .foreach { case (us, v) =>
        if (v < lo || v > hi) {
          if (len == 0) start = us
          len += 1
          if (len == threshold)
            out += ((key, StreamingPipeline.microsToTs(start),
              StreamingPipeline.microsToTs(us), len))
        } else len = 0
      }
    if (len == 0) streak.clear() else streak.update((len, start))
    out.result().iterator
  }
}
