package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftQuery, Tables}

/** Training-data pipeline utilities: quantization, deterministic dataset
  * splits, and profiling — the operational glue around the dedup/
  * similarity/text operators.
  */
object PipelineOps {

  /** Monotone range-bucket of a long `value` against broadcast `[lo, hi]`
    * bounds columns: `least(n-1, (value - lo) div ((hi - lo) div n + 1))`.
    * The shared arithmetic behind every two-phase bucket +
    * broadcast-offset build (global_row_number here, Curation.tokenCumsum,
    * the changepoints row index). DIVIDE-FIRST on purpose: the
    * multiply-first form `((value - lo) * n) div (hi - lo + 1)` overflows
    * Long whenever the key span exceeds Long.MaxValue/n (snowflake-style
    * sparse 63-bit ids at n=32) — under ANSI mode (our default) that
    * ABORTS the job at runtime; with ANSI off it silently wraps into
    * negative, non-monotone buckets, i.e. wrong cumsums with no error.
    * Either way the binning is unusable on sparse id schemes. Here the
    * width `(hi-lo) div n + 1` keeps every intermediate ≤ the span.
    * Assumes hi − lo itself doesn't overflow (keys within one signed-64
    * span of each other — true for any non-adversarial id scheme).
    * Produces ≤ n buckets, possibly fewer (harmless: offsets are built
    * from the buckets that exist). Args are SQL expression fragments
    * (column names or expressions over them), spliced verbatim — the
    * davg contract. */
  private[graft] def rangeBucket(value: String, lo: String, hi: String,
      n: Int): org.apache.spark.sql.Column =
    expr(s"least(${n - 1}, ($value - $lo) div (($hi - $lo) div $n + 1))")

  /** hex nibble → value via position in the alphabet (engine-neutral —
    * unlike conv()/from_hex(), strpos/locate exist in both engines). */
  private[operators] def nib(spark: String): String =
    s"(locate(substring(_h, $spark, 1), '0123456789abcdef') - 1)"

  /** The two-phase bucket + broadcast-offset rank, factored out of
    * global_row_number / tokenCumsum and their round-7 consumers
    * (mixture_order, perplexity_buckets, prototypicality): a dense
    * per-`part` rank by (`value`, `tiebreak`) WITHOUT a per-part window
    * funnel — rows bin by [[rangeBucket]] over the part's own value
    * bounds (monotone in the sort key, so bucket-local row_number + a
    * tiny broadcast offset frame equals the single-window rank the
    * oracles compute), parallelism ≈ |parts|·`buckets` regardless of
    * part skew. `part` may be empty (a global rank). `value` must be an
    * integral column; ties across the bucket boundary are safe because
    * the bucket is a pure function of the value. NULL values rank LAST
    * (they fall into the top bucket — least() skips nulls — and the
    * bucket-local window orders asc_nulls_last), so oracles must spell
    * ORDER BY … NULLS LAST. Appends `rankCol` (long) and preserves the
    * input columns. */
  private[graft] def twoPhaseRank(df: org.apache.spark.sql.DataFrame,
      part: Seq[String], value: String, tiebreak: Seq[String],
      rankCol: String, buckets: Int = 32,
      countCol: Option[String] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // countCol: the per-part row count rides the bounds broadcast for
    // free (one extra long per part). Rank consumers that bucket by
    // rank/total (perplexity_buckets deciles, prototypicality tertiles)
    // previously re-derived their ENTIRE input subtree a fourth time
    // just to count group sizes and join them back — pure plans have no
    // cache (guide §7.2 duplicated subtrees), so the count must travel
    // with the rank.
    // Guard (r13 advice): withColumnRenamed silently DUPLICATES a column
    // when the target name already exists in the frame, failing only at
    // the downstream use site with an ambiguous-reference error.
    countCol.foreach { name =>
      require(!df.columns.contains(name),
        s"twoPhaseRank countCol '$name' already exists in the input frame")
    }
    val bounds =
      df.groupBy(part.map(col): _*)
        .agg(min(value).as("_tpr_lo"), max(value).as("_tpr_hi"),
          count(lit(1)).as("_tpr_n"))
    val keyed =
      if (part.isEmpty) df.crossJoin(broadcast(bounds))
      else df.join(broadcast(bounds), part)
    val bk = keyed
      .withColumn("_tpr_bkt", rangeBucket(value, "_tpr_lo", "_tpr_hi", buckets))
      .drop("_tpr_lo", "_tpr_hi")
      .withColumnRenamed("_tpr_n", countCol.getOrElse("_tpr_n"))
    val off = bk.groupBy((part :+ "_tpr_bkt").map(col): _*)
      .agg(count(lit(1)).as("_tpr_bn"))
      .withColumn("_tpr_off", coalesce(sum("_tpr_bn").over(
        Window.partitionBy(part.map(col): _*).orderBy("_tpr_bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select((part :+ "_tpr_bkt" :+ "_tpr_off").map(col): _*)
    // asc_nulls_last: a NULL `value` lands in the TOP bucket (Spark's
    // least() skips nulls, so rangeBucket yields buckets-1 for it) — and
    // must also rank after every non-null value WITHIN that bucket, giving
    // a consistent global NULLS-LAST rank. Spark's unpinned ASC default
    // (NULLS FIRST) would rank the null row at the top bucket's start,
    // splitting its neighbors' ranks (hostile-events sweep finding).
    bk.withColumn("_tpr_lr", row_number().over(
        Window.partitionBy((part :+ "_tpr_bkt").map(col): _*)
          .orderBy(col(value).asc_nulls_last +: tiebreak.map(col): _*)))
      .join(broadcast(off), part :+ "_tpr_bkt")
      .withColumn(rankCol, col("_tpr_off") + col("_tpr_lr"))
      .drop("_tpr_bkt", "_tpr_off", "_tpr_lr", "_tpr_n")
  }

  def queries: Seq[GraftQuery] = Seq(

    // ---- Z-order (Morton) layout keys + cell locality summary ------------
    // The multi-dimensional file-layout key ([[graft.functions.ZOrder]]):
    // interleaving the bits of two filter dimensions gives ONE sort key
    // whose ordering keeps both dimensions locally clustered, so parquet
    // min/max row-group stats prune for filters on either. The query
    // computes the key scan-side (codegen'd integer arithmetic) and
    // summarizes each coarse Z-cell's bounding box — narrow per-cell
    // min/max spans on BOTH dimensions are exactly what makes the pruning
    // work; a production writer would repartitionByRange(zkey) and write.
    GraftQuery(
      "zorder_cells",
      (s, dir) => {
        // pmod, not %: a negative dimension value (value*100 < 0) under %
        // keeps its sign in xb/yb while the key's 16-bit mask wraps it to
        // 65535-ish — far-apart coordinates would silently share a cell
        // and the bounding boxes (the pruning story) would be meaningless
        val x = pmod(col("user_id"), lit(65536L))
        val y = pmod(floor(col("value") * 100).cast(LongType), lit(65536L))
        Tables.events(s, dir)
          .withColumn("zkey", graft.functions.ZOrder.mortonKey(x, y))
          .withColumn("xb", x).withColumn("yb", y)
          .groupBy((col("zkey") / 1048576).cast(LongType).as("zcell"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("xb")).as("x_min"), max(col("xb")).as("x_max"),
            min(col("yb")).as("y_min"), max(col("yb")).as("y_max"))
          .orderBy("zcell")
      },
      Some {
        val xs = "(((user_id % 65536) + 65536) % 65536)"
        val ys = "(((CAST(floor(value * 100) AS BIGINT) % 65536) + 65536) % 65536)"
        val z = graft.functions.ZOrder.sqlMortonKey(xs, ys)
        s"""
        WITH k AS (
          SELECT $z AS zkey,
                 $xs AS xb,
                 $ys AS yb
          FROM events)
        SELECT zkey // 1048576 AS zcell, count(*) AS n_rows,
               min(xb) AS x_min, max(xb) AS x_max,
               min(yb) AS y_min, max(yb) AS y_max
        FROM k
        GROUP BY 1
        ORDER BY zcell"""
      }),

    // ---- int8 scalar quantization of embeddings --------------------------
    // Per-vector symmetric scale (127/max|x|): the standard memory-4×
    // reduction before ANN serving. Emitted as checksums (exact int sums)
    // plus the scale so the oracle verifies the full quantized vector
    // without materializing 64 columns.
    GraftQuery(
      "quantize_embeddings",
      (s, dir) => Tables.embeddings(s, dir)
        .withColumn("_v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("_maxabs", expr("array_max(transform(_v, x -> abs(x)))"))
        // a NaN/Inf coordinate has no int8 image: 127/Inf = 0 and
        // Inf·0 = NaN aborts the ANSI int cast (and DuckDB's) — drop
        // non-finite vectors; zero and all-null vectors stay (scale 0 /
        // NULL sums), and ANY finite magnitude quantizes fine, so no
        // norm bound is needed here (hostile-embeddings sweep)
        .filter(col("_maxabs").isNull ||
          (!isnan(col("_maxabs")) && col("_maxabs") < Double.PositiveInfinity))
        // zero vectors: scale 0 (all-zero quantization) instead of
        // 127/0 = Inf, whose 0*Inf = NaN would fail the ANSI int cast
        .withColumn("_scale",
          when(col("_maxabs") > 0, lit(127.0) / col("_maxabs")).otherwise(lit(0.0)))
        .withColumn("_q", expr("transform(_v, x -> CAST(round(x * _scale) AS INT))"))
        .select(col("vec_id"),
          round(col("_scale"), 6).as("scale"),
          expr("aggregate(_q, 0, (a, x) -> a + x)").as("q_sum"),
          expr("array_min(_q)").as("q_min"),
          expr("array_max(_q)").as("q_max"))
        .orderBy("vec_id"),
      Some("""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) v,
                 list_max(list_transform(CAST(embedding AS DOUBLE[]),
                   x -> abs(x))) AS maxabs
          FROM embeddings
          WHERE maxabs IS NULL OR isfinite(maxabs)),
        s AS (
          SELECT vec_id, v,
                 CASE WHEN maxabs > 0 THEN 127.0 / maxabs
                      ELSE 0.0 END AS scale
          FROM e),
        q AS (
          SELECT vec_id, scale,
                 list_transform(v, x -> CAST(round(x * scale) AS INT)) AS qv
          FROM s)
        SELECT vec_id, round(scale, 6) AS scale,
               list_reduce(list_prepend(0, qv), (a, x) -> a + x) AS q_sum,
               list_min(qv) AS q_min, list_max(qv) AS q_max
        FROM q
        ORDER BY vec_id""")),

    // ---- deterministic hash split (train/val/test) -----------------------
    // Content-hash bucketing (md5 → 3 hex nibbles → 0..4095 % 100): the
    // reproducible alternative to seeded sampling — stable across engines,
    // runs, partitionings, and cluster sizes, which seeded rand() is not.
    GraftQuery(
      "hash_split",
      (s, dir) => Tables.events(s, dir)
        .withColumn("_h", md5(to_binary(col("event_id").cast(StringType), lit("utf-8"))))
        .withColumn("bucket",
          expr(s"CAST((${nib("1")} * 256 + ${nib("2")} * 16 + ${nib("3")}) % 100 AS INT)"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))
        .select("event_id", "bucket", "split")
        .orderBy("event_id"),
      Some("""
        WITH h AS (
          SELECT event_id, md5(CAST(event_id AS VARCHAR)) AS _h FROM events),
        b AS (
          SELECT event_id,
                 CAST(((strpos('0123456789abcdef', substring(_h, 1, 1)) - 1) * 256
                     + (strpos('0123456789abcdef', substring(_h, 2, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substring(_h, 3, 1)) - 1)) % 100
                   AS INT) AS bucket
          FROM h)
        SELECT event_id, bucket,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM b
        ORDER BY event_id""")),

    // ---- column profiler (long format) -----------------------------------
    // Exact null/distinct counts per profiled column (the oracle
    // hash-checks them, so no sketches here).
    GraftQuery(
      "profile_lineitem",
      (s, dir) => {
        val cols = Seq("l_orderkey", "l_quantity", "l_extendedprice",
          "l_returnflag", "l_shipdate")
        // one pruned scan + single-distinct two-phase agg PER column,
        // unioned — measured ~2× faster than the one-scan multi-distinct
        // formulation, whose Expand multiplies every row ×(n_cols+1)
        // before the shuffle. Parquet column pruning makes each branch
        // read exactly one column, and the branches run concurrently
        // (independent stages), so this shape also wins at 100 TB unless
        // the table is too wide to afford one pass per profiled column —
        // at which point swap countDistinct → approx_count_distinct and
        // the single-scan plan drops its Expand too.
        cols.map { c =>
          Tables.lineitem(s, dir).select(col(c))
            .agg(
              sum(when(col(c).isNull, 1).otherwise(0)).cast(LongType).as("n_nulls"),
              countDistinct(col(c)).as("n_distinct"))
            .select(lit(c).as("col_name"), col("n_nulls"), col("n_distinct"))
        }.reduce(_.unionByName(_)).orderBy("col_name")
      },
      Some("""
        SELECT 'l_orderkey' AS col_name,
               count(*) - count(l_orderkey) AS n_nulls,
               count(DISTINCT l_orderkey) AS n_distinct FROM lineitem
        UNION ALL SELECT 'l_quantity', count(*) - count(l_quantity),
               count(DISTINCT l_quantity) FROM lineitem
        UNION ALL SELECT 'l_extendedprice', count(*) - count(l_extendedprice),
               count(DISTINCT l_extendedprice) FROM lineitem
        UNION ALL SELECT 'l_returnflag', count(*) - count(l_returnflag),
               count(DISTINCT l_returnflag) FROM lineitem
        UNION ALL SELECT 'l_shipdate', count(*) - count(l_shipdate),
               count(DISTINCT l_shipdate) FROM lineitem
        ORDER BY col_name""")),

    // ---- global row numbering without a global sort bottleneck -----------
    // row_number() OVER (ORDER BY …) with no PARTITION BY drags the whole
    // table through ONE reducer — the classic accidental serialization.
    // The at-scale pattern: bucket rows by a DATA-DERIVED range key
    // (event-time micros binned against broadcast min/max bounds — pure
    // integer arithmetic, so every branch of the plan computes the same
    // bucket for a row; spark_partition_id after repartitionByRange would
    // instead depend on sampled bounds agreeing across plan branches,
    // which only exchange reuse guarantees), number rows WITHIN each
    // bucket (parallel windows), then add each bucket's prefix offset —
    // a #buckets-row frame whose own cumsum window is trivially cheap
    // and which broadcasts back onto the data. Buckets partition the key
    // space monotonically, so bucket-local ranks + offsets equal the
    // global rank, which the oracle checks against the single-window
    // formulation this pattern replaces.
    GraftQuery(
      "global_row_number",
      (s, dir) => twoPhaseRank(
          Tables.events(s, dir)
            .select(col("event_id"), col("ts"),
              unix_micros(col("ts")).as("tsu")),
          Seq.empty, "tsu", Seq("event_id"), "global_idx")
        .select("event_id", "ts", "global_idx")
        .orderBy("global_idx"),
      Some("""
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
               CAST(row_number() OVER (
                 ORDER BY CAST(ts AS TIMESTAMP) NULLS LAST, event_id)
                 AS BIGINT) AS global_idx
        FROM events
        ORDER BY global_idx"""))
  )
}
