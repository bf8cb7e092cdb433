package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Typed loaders for the harness testdata (`/root/testdata/sf*`).
  *
  * Schemas are DECLARED, never inferred: at production scale (100 TB =
  * millions of parquet files) schema inference costs a footer sweep before the
  * first task runs, and silently widens types on drift. The reference takes
  * the same declared-schema stance for its stream
  * (`spark-processor/processor.py:48-55`); we extend it to every table.
  *
  * `events.ts` has been written with two encodings across testdata
  * generations: INT64 TIMESTAMP(NANOS) — which Spark 4 refuses to map to
  * TimestampType, so it's read as raw nanos
  * (`spark.sql.legacy.parquet.nanosAsLong=true`) and truncated to
  * microseconds (exactly the coercion DuckDB applies, so oracle
  * comparisons agree; see FIXTURES.md §2) — and plain INT64
  * TIMESTAMP(MICROS), which maps directly. [[events]] probes one file
  * footer per directory to pick the matching declared schema.
  */
object Tables {

  /** Monotonic suffix for per-call unique temp-view names — catalog
    * hygiene for the SQL-only query surfaces (views are registered inside
    * try, inlined by sql()'s eager analysis, and dropped in finally, so
    * concurrent builds against different dirs can't read each other's
    * data). Lives here, not in a query module: it's shared infrastructure
    * for every module that needs a view. */
  val viewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  val regionSchema = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** Raw (pre-conversion) events schema for the NANOS encoding: ts is
    * INT64 nanos on disk, readable only as a raw long. */
  val eventsRawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Events schema for the MICROS encoding: ts maps straight to
    * TimestampType (same mapping orders/lineitem use). */
  val eventsMicrosSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private val schemas: Map[String, StructType] = Map(
    "region" -> regionSchema, "nation" -> nationSchema,
    "customer" -> customerSchema, "supplier" -> supplierSchema,
    "part" -> partSchema, "orders" -> ordersSchema,
    "lineitem" -> lineitemSchema, "documents" -> documentsSchema,
    "embeddings" -> embeddingsSchema)

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** SQL conf required to read the ns-typed events file at all (no per-read
    * parquet option exists for it — verified against ParquetOptions in
    * Spark 4.1). Our mains/suites set it at session BUILD time so plan
    * construction never mutates session state; [[ensureNanosAsLong]] is the
    * idempotent fallback for externally-built sessions (the harness driver
    * smoke-checks `SparkEntry.entry(spark)` with its own session). */
  val NanosAsLongConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** Bootstrap-on-first-use guard: reads are cheap, the set runs at most
    * once per session and only converges the conf to the constant "true"
    * under a lock — no torn state under concurrent plan building (the
    * round-1 version set it unconditionally on every call). */
  private def ensureNanosAsLong(spark: SparkSession): Unit =
    if (spark.conf.get(NanosAsLongConf, "false") != "true")
      Tables.synchronized {
        if (spark.conf.get(NanosAsLongConf, "false") != "true")
          spark.conf.set(NanosAsLongConf, "true")
      }

  /** The on-disk encoding of `events.ts` has shifted across testdata
    * generations: INT64 TIMESTAMP(NANOS) (early rounds) vs INT64
    * TIMESTAMP(MICROS) (current). A single static declared schema cannot
    * cover both — NANOS must be read as a raw long (Spark 4 refuses the
    * TimestampType mapping), MICROS must be read as TimestampType (a
    * LongType declaration errors). Detect ONCE per directory from one
    * file footer and memoize: this is a bounded migration probe (one
    * footer, one column), not corpus-wide schema inference — at 100 TB
    * you still declare the schema, this just picks WHICH declared schema
    * matches the fleet's current writer.
    *
    * The memo key includes the probed file's (length, mtime), not just
    * the directory: the harness driver regenerates testdata in place
    * between rounds, and a JVM-lifetime dir-keyed cache would silently
    * keep the stale encoding across a regeneration (reading µs as ns —
    * the exact round-6 failure mode). Resolving the probe file costs one
    * or two driver-side stats per events() call; the footer parse stays
    * memoized. */
  private val eventsTsNanos =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]

  private def tsStoredAsNanos(spark: SparkSession, dir: String): Boolean = {
    // resolving the file + stat is pure driver file IO, NOT
    // spark.read.parquet(...).schema — schema inference submits a Spark
    // JOB, which would break the action-free plan-construction contract
    // (OperatorSpec gates it) for every events-backed builder.
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = root.getFileSystem(conf)
    // events.parquet is a single file in the testdata; accept a
    // directory of part files too (test fixtures write those)
    val rootSt = fs.getFileStatus(root)
    // reuse the root stat in the (common) single-file case — events() is
    // called per plan construction, and a redundant per-call stat adds up
    val (file, st) =
      if (rootSt.isDirectory) {
        val part = fs.listStatus(root).map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
          // listStatus order is filesystem-dependent; sort so the
          // probed footer is deterministic across runs and machines
          .sortBy(_.getName).headOption.getOrElse(throw new IllegalStateException(
            s"$root is a directory with no .parquet part file — cannot " +
              "probe the events ts encoding"))
        (part, fs.getFileStatus(part))
      } else (root, rootSt)
    val key = s"$file|${st.getLen}|${st.getModificationTime}"
    eventsTsNanos.computeIfAbsent(key, _ => {
      val footer = ParquetFileReader.readFooter(
        conf, file, ParquetMetadataConverter.NO_FILTER)
      val schema = footer.getFileMetaData.getSchema
      schema.getType(schema.getFieldIndex("ts")) match {
        case p: org.apache.parquet.schema.PrimitiveType =>
          p.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
            case _ => false
          }
        case _ => false
      }
    })
  }

  /** Events with `ts` as TimestampType (µs precision) whichever encoding
    * is on disk: NANOS files are read raw and truncated ns → µs (exactly
    * DuckDB's coercion, so oracle comparisons agree); MICROS files map
    * directly. */
  def events(spark: SparkSession, dir: String): DataFrame =
    if (tsStoredAsNanos(spark, dir)) {
      ensureNanosAsLong(spark)
      spark.read.schema(eventsRawSchema)
        .parquet(s"$dir/events.parquet")
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    } else
      spark.read.schema(eventsMicrosSchema)
        .parquet(s"$dir/events.parquet")

  /** Events restricted to `ts >= sinceMicros`, with the bound applied
    * where it can reach the parquet scan as a PUSHED filter that skips
    * row groups by min/max — at 100 TB the difference between reading a
    * time slice and reading the table.
    *
    * MICROS encoding: a plain timestamp predicate on the scan column
    * pushes down natively. NANOS encoding: a filter on the converted
    * column cannot push past the `timestamp_micros(ns div 1000)`
    * projection, so the bound is translated onto the RAW nanos column
    * BEFORE the conversion. Exact: floor(ns/1000) ≥ T ⟺ ns ≥ 1000·T —
    * for NONNEGATIVE epochs. `ts div 1000` truncates toward zero, so for
    * pre-1970 nanos truncation ≠ floor and the raw-column bound would
    * drop rows the converted-column filter keeps; guarded rather than
    * silently diverging. */
  def eventsSince(spark: SparkSession, dir: String, sinceMicros: Long): DataFrame = {
    require(sinceMicros >= 0,
      "eventsSince requires a nonnegative epoch bound: the raw-nanos " +
        "pushdown is equivalence-proven only for ts >= 0 (div truncates)")
    if (tsStoredAsNanos(spark, dir)) {
      // ×1000 must not wrap: a bound past Long.MaxValue/1000 would go
      // negative and pass EVERY row where the µs encoding correctly
      // returns none — the encoding split must never change answers
      require(sinceMicros <= Long.MaxValue / 1000L,
        s"eventsSince bound $sinceMicros µs overflows the raw-nanos " +
          "translation (max " + Long.MaxValue / 1000L + ")")
      ensureNanosAsLong(spark)
      spark.read.schema(eventsRawSchema)
        .parquet(s"$dir/events.parquet")
        .filter(col("ts") >= sinceMicros * 1000L)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    } else
      spark.read.schema(eventsMicrosSchema)
        .parquet(s"$dir/events.parquet")
        .filter(col("ts") >= timestamp_micros(lit(sinceMicros)))
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  /** Rebalance a narrow projection whose planned scan runs with fewer
    * splits than the session's parallelism — the testdata ships ONE
    * unsplittable parquet file per table (single row group), so a
    * CPU-heavy map phase above it (wide-decimal moment sums, codec
    * decodes) otherwise serializes on one task (r14: regr_stats spent
    * 2.1 s of its 2.1 s in single-task DECIMAL(38,8) partial
    * aggregation; 0.8 s after the rebalance). SCALE-ADAPTIVE, not a
    * local tuning constant: the condition reads the plan's actual scan
    * partition count, so on a production layout whose splits already
    * meet or exceed the cores this is a no-op and no shuffle is added.
    * The spread key is a deterministic hash of the projected row (guide
    * §2.5 — retry-safe where round-robin needs its pre-sort). ONLY sound
    * below order-insensitive consumers (exact decimal/int aggregation,
    * count, min/max); a DOUBLE sum would change with row order. */
  def fanOutNarrow(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= n) df
    else df.repartition(n, xxhash64(struct(df.columns.map(col): _*)))
  }

  /** Source-identity fingerprint of one testdata table — what
    * [[TrainedState]] checks before reusing driver-held trained state:
    * the harness regenerates testdata in place between rounds, so a cache
    * keyed on the directory alone would serve stale state. Key =
    * name:length:mtime per data file PLUS a 64-byte mid-file content
    * sample of the first file — an in-place regeneration that lands at
    * identical sizes inside the filesystem's mtime granularity still
    * changes the key (different data ⇒ different encoded pages with
    * overwhelming probability; IDENTICAL data reusing the cache is
    * correct by definition). `listFiles` can return null on an IO error —
    * treated as "no fingerprint", which misses the cache and retrains:
    * the safe direction. */
  def sourceFingerprint(dir: String, table: String): String = {
    val root = new java.io.File(s"$dir/$table.parquet")
    val listed = if (root.isDirectory) root.listFiles() else Array(root)
    val files = Option(listed).getOrElse(Array.empty[java.io.File])
      .filter(_.isFile).sortBy(_.getName)
    val names = files.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString(";")
    val sample = files.headOption.filter(_.length > 0).map { f =>
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        val off = math.max(0L, f.length / 2 - 32)
        val buf = new Array[Byte](math.min(64L, f.length - off).toInt)
        raf.seek(off); raf.readFully(buf)
        buf.map(b => f"${b & 0xff}%02x").mkString
      } finally raf.close()
    }.getOrElse("")
    s"$names|$sample"
  }
}
