package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftQuery, Tables, TrainedState}

/** Deduplication operators over `documents` — exact, n-gram Jaccard,
  * MinHash+LSH, and SimHash.
  *
  * Scale design (the point of each variant):
  *  - exact: one hash-shuffle on a 16-byte content digest — O(n), the only
  *    exact option at 100 TB; never shuffles full document text.
  *  - ngram_jaccard: exact pairwise Jaccard via an inverted index on
  *    shingles (posting list per gram → in-place ordered pairs → count).
  *    Quadratic in posting-list length, so the hot-gram cap
  *    (`MaxGramDocFreq`) is always on — it bounds the blowup the way
  *    frequency caps do in real near-dup indexes, and it's mirrored into
  *    the oracle so the query stays hash-checked.
  *  - minhash_pairs: MinHash signatures (16 linear permutations of an
  *    engine-neutral polynomial hash) banded 4×4 → candidates join only
  *    within LSH buckets →
  *    exact-Jaccard verification of candidates. This is the 100 TB path:
  *    shuffle volume is O(n · bands), never O(n²).
  *  - simhash: 64-bit signature; candidates = union of 4 single-chunk
  *    16-bit bands (pigeonhole guarantee for concentrated bit flips) and
  *    6 chunk-pair 32-bit bands (selective enough to stay meaningful when
  *    the corpus outgrows the 2^16 single-chunk key space), every band
  *    bucket capped at [[MaxChunkBucket]] — candidate volume is bounded
  *    linear in n by construction.
  *
  * minhash uses an engine-neutral polynomial base hash with fixed linear
  * permutations, so its signatures — and therefore the whole LSH pipeline —
  * are reproduced exactly by the DuckDB oracle; simhash shares the same
  * polynomial basis (two moduli for 64 bits), so both LSH dedup variants
  * are fully oracle-checked.
  */
object Dedup {

  /** Distinct word-trigram shingles per doc (empty array below 3 tokens).
    * Repartitions first: the testdata ships one unsplittable parquet file
    * per table, so without this the CPU-heavy shingle+explode phase runs as
    * ONE task (measured 7 s serialized at sf0.1). The partition count is
    * explicit because AQE coalesces keyed repartitions of small byte
    * volumes back to one partition — bytes are a bad proxy for the CPU
    * cost downstream. Same posture at 100 TB:
    * rebalance before per-row expansion whenever upstream parallelism is
    * below the cluster's. */
  private[operators] def shingled(docs: DataFrame): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        graft.functions.VectorExpressions.wordShingles(col("text"), ShingleK).as("grams"))

  /** Shingle width in words: [[shingled]]'s gram size and the token-count
    * floor [[shingledNonEmpty]] filters on must agree. */
  private final val ShingleK = 3

  private val numHashes = 16
  private val bands = 4
  private val rowsPerBand = numHashes / bands

  /** Shared DuckDB CTE chain for the MinHash-LSH pipeline (shingles →
    * signatures → bands → candidate pairs → grams for verification),
    * generated from the SAME permutation constants the kernel uses
    * ([[graft.functions.VectorKernels.minHashA]]/`minHashB`) — signatures
    * are engine-identical because the base hash is a byte/char polynomial
    * both engines can compute (ASCII corpus: byte == codepoint). Prefix for
    * both minhash_pairs and minhash_clusters so the two stay
    * definitionally identical. */
  private[operators] def minhashCtes(source: String = "documents"): String = {
    import graft.functions.VectorKernels.{MinHashP => P, minHashA, minHashB}
    val sigCols = (0 until numHashes).map(k =>
      s"list_min(list_transform(gh, h -> (${minHashA(k)} * h + ${minHashB(k)}) % $P)) AS s$k")
      .mkString(",\n               ")
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until rowsPerBand).map(r => s"CAST(s${b * rowsPerBand + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString("\n          UNION ALL ")
    s"""t AS (SELECT doc_id, string_split(text, ' ') toks FROM $source),
        sh AS (SELECT doc_id,
                 CASE WHEN len(toks) >= 3 THEN
                   list_distinct(list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END grams
               FROM t),
        hs AS (SELECT doc_id, grams,
                 list_transform(grams, g ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, length(g) + 1),
                       i -> CAST(unicode(substring(g, i, 1)) AS BIGINT))),
                     (acc, c) -> (acc * 131 + c) % $P)) AS gh
               FROM sh),
        sig AS (SELECT doc_id,
               $sigCols
               FROM hs WHERE len(grams) > 0),
        bands AS ($bandSelects),
        cand AS (SELECT DISTINCT x.doc_id doc_a, y.doc_id doc_b
                 FROM bands x JOIN bands y
                   ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        withg AS (SELECT c.doc_a, c.doc_b, sa.grams ga, sb.grams gb
                  FROM cand c
                  JOIN sh sa ON c.doc_a = sa.doc_id
                  JOIN sh sb ON c.doc_b = sb.doc_id),
        mh_pairs AS (
          SELECT doc_a, doc_b,
                 round(CAST(len(list_intersect(ga, gb)) AS DOUBLE) /
                       (len(ga) + len(gb) - len(list_intersect(ga, gb))), 4) AS jaccard
          FROM withg
          WHERE round(CAST(len(list_intersect(ga, gb)) AS DOUBLE) /
                      (len(ga) + len(gb) - len(list_intersect(ga, gb))), 4) >= 0.5)"""
  }

  private def minhashOracleSql: String = s"""
        WITH ${minhashCtes()}
        SELECT doc_a, doc_b, jaccard
        FROM mh_pairs
        ORDER BY doc_a, doc_b"""

  /** DuckDB oracle for minhash_clusters: the same MinHash CTE chain, then
    * the same recursive min-reachable-id closure ccLabelsSql uses — the
    * at-scale dedup clustering (LSH edges, never the full pair space)
    * verified end-to-end. */
  private def minhashClustersOracleSql: String = s"""
        WITH RECURSIVE ${minhashCtes()},
        edges AS (
          SELECT doc_a, doc_b FROM mh_pairs
          UNION SELECT doc_b, doc_a FROM mh_pairs),
        reach(doc_id, label) AS (
          SELECT doc_a, doc_a FROM edges
          UNION
          SELECT e.doc_a, r.label
          FROM edges e JOIN reach r ON e.doc_b = r.doc_id),
        labels AS (SELECT doc_id, min(label) AS label FROM reach GROUP BY doc_id)
        SELECT min(label) AS cluster_id, count(*) AS cluster_size,
               string_agg(doc_id, ',' ORDER BY doc_id) AS member_ids
        FROM labels
        GROUP BY label
        ORDER BY cluster_id"""

  /** Default hot-gram document-frequency cap for the exact-Jaccard path.
    * A shingle shared by d documents contributes d·(d−1)/2 candidate pairs;
    * boilerplate shingles (headers, licence text) make d approach corpus
    * size, which is the quadratic scale-killer in any inverted-index
    * near-dup join. Capping df bounds per-gram work at cap²/2 while leaving
    * genuine near-dup pairs intact — near-dups share many RARE shingles,
    * hot shingles carry no pair signal (the same reason search engines drop
    * stop-grams from posting intersections). The cap is mirrored into the
    * DuckDB oracles (`HAVING count(*) <= cap` on the gram CTE) so the
    * queries stay fully hash-checked. On the synthetic corpus max df is 25,
    * so 1000 changes no output — it's the 100 TB safety rail. */
  val MaxGramDocFreq = 1000L

  /** Exact Jaccard over distinct shingles for doc pairs sharing ≥1 gram
    * with document frequency ≤ maxDocFreq (hot-gram cap).
    *
    * Pair generation is the posting-list pattern, not a self-join: group
    * occurrences by gram (ONE shuffle), drop posting lists longer than the
    * cap — the cap costs nothing, it's a filter on a frame we already
    * built — and emit ordered pairs from inside each list. A gram-gram
    * self-join would shuffle the exploded occurrences twice and route every
    * candidate row through the join machinery; here shuffle volume is
    * exactly the inverted index once, then the pair aggregation. */
  private def exactJaccardPairs(spark: SparkSession, dir: String,
      maxDocFreq: Long): DataFrame = {
    val sh = shingled(Tables.documents(spark, dir))
    // each doc's gram count rides INSIDE the posting entries: joining a
    // separate sizes frame back onto the pairs (the obvious formulation)
    // re-derives the whole shingle subtree two more times — a pure plan
    // has no cache, and the two renamed broadcast subtrees don't
    // canonicalize to one reusable exchange. Cost: 8 bytes per posting
    // entry on the one inverted-index shuffle; payoff: zero joins and a
    // single pass over the corpus.
    // the gram TEXT dies scan-side: explode, then hash to an 8-byte key
    // in the same codegen'd projection (explode-then-hash keeps xxhash64
    // a codegen'd column op; hashing inside the array via transform()
    // would drop the lambda to interpreted eval). The inverted-index
    // exchange then carries (long, struct) instead of a ~20-byte gram
    // string per posting (guide §2.3: shuffle keys, not payloads;
    // narrower types). Collision math: distinct grams per corpus slice
    // n ⇒ merged-posting probability ≈ n²/2^65 — negligible below ~10^8
    // grams; widen to a 2×64-bit struct key past that.
    val ex = sh.select(col("doc_id"), size(col("grams")).as("n"),
      explode(col("grams")).as("gs"))
      .select(col("doc_id"), col("n"), xxhash64(col("gs")).as("gram"))
      // key-aligned rebalance (REPARTITION_BY_NUM): the stage after this
      // exchange runs the posting-list pair EXPLOSION, whose cost is
      // Σ|postings|² per partition — rows², not bytes. AQE's byte-based
      // coalescing (1 MB min-size floor) squeezed the now-8-byte-keyed
      // shuffle into a handful of partitions and serialized that stage
      // (measured 1.4 s → 2.0 s at sf0.1 from the key narrowing alone);
      // pinning the exchange at defaultParallelism restores the
      // parallelism AQE's byte model can't see. groupBy reuses this
      // exchange (same key, same count), and collect_list's partial agg
      // reduces nothing anyway, so the pre-shuffle pass loses no combine.
      .repartition(spark.sparkContext.defaultParallelism, col("gram"))
    // struct ordering sorts by doc_id first, so pair emission stays a < b
    val postings = ex.groupBy("gram")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("n")))).as("ds"))
      .filter(size(col("ds")).between(2, maxDocFreq))
    // ordered pairs (a < b) straight out of the sorted posting list; the
    // lambdas run on ≤cap-element arrays, far from any hot loop
    postings
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
             transform(slice(ds, i + 2, size(ds) - i - 1),
                       y -> struct(x.doc_id AS doc_a, x.n AS na,
                                   y.doc_id AS doc_b, y.n AS nb))))""")).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.na").as("na"), col("p.nb").as("nb"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        round(col("common").cast(DoubleType) /
          (col("na") + col("nb") - col("common")), 4))
  }

  /** Per-(band, value) bucket cap for the SimHash candidate join. A band
    * value shared by d docs contributes d·(d−1)/2 candidate pairs; 16-bit
    * single-chunk keys pigeonhole only 2^16 values, so without a cap the
    * candidate volume has an unconditional ~bands·n²/2^16 term on ANY
    * corpus — the round-4 verdict's scale-killer. Dropping over-cap buckets
    * bounds the join at bands·cap·n/2 pairs (linear in n), deterministically
    * and order-free, and is mirrored into the oracle exactly like
    * [[MaxGramDocFreq]]. Recall the cap gives up on mega-buckets is partly
    * recovered by the 32-bit chunk-pair bands, which stay sparse long after
    * single chunks saturate (a near-dup pair with ≥2 clean chunks is still
    * caught); a cluster hot in EVERY band is exact-dup territory
    * (dedup_exact / dedup_clusters), not a pairs listing. At sf0.1 the cap
    * engages on real buckets (asserted in CandidateBoundSpec), so the
    * capped path is oracle-exercised, not dormant. */
  val MaxChunkBucket = 128L

  /** DuckDB oracle for simhash_pairs: reproduces the kernel's fingerprint
    * exactly (same polynomial pair, vote rule, chunk packing), then the
    * same banding — 4 single-chunk + 6 chunk-pair keys, each bucket capped
    * at [[MaxChunkBucket]] — and the hamming ≤ 6 confirmation. */
  private def simhashOracleSql: String = {
    import graft.functions.VectorKernels.{MinHashP => P1, SimHashP2 => P2}
    val chunkPivot = (0 until 4).map(c =>
      s"max(CASE WHEN c = $c THEN cv END) AS c$c").mkString(", ")
    val singleSelects = (0 until 4).map(c =>
      s"SELECT doc_id, $c AS band, c$c AS v FROM sig")
    val pairSelects = simhashPairBands.zipWithIndex.map { case ((ci, cj), k) =>
      s"SELECT doc_id, ${4 + k} AS band, c$ci + c$cj * 65536 AS v FROM sig"
    }
    val bandSelects = (singleSelects ++ pairSelects).mkString("\n          UNION ALL ")
    s"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        h AS (
          SELECT doc_id,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, length(t) + 1),
                i -> CAST(unicode(substring(t, i, 1)) AS BIGINT))),
              (a, c) -> (a * 131 + c) % $P1) AS h1,
            list_reduce(list_prepend(CAST(7 AS BIGINT),
              list_transform(range(1, length(t) + 1),
                i -> CAST(unicode(substring(t, i, 1)) AS BIGINT))),
              (a, c) -> (a * 137 + c) % $P2) AS h2
          FROM tok),
        votes AS (
          SELECT doc_id, j,
                 sum(CASE WHEN j < 32 THEN ((h1 >> j) & 1)
                          ELSE ((h2 >> (j - 32)) & 1) END * 2 - 1) AS v
          FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS j)
          GROUP BY doc_id, j),
        chunks AS (
          SELECT doc_id, CAST(j // 16 AS INT) AS c,
                 sum(CASE WHEN v > 0 THEN (1 << (j % 16)) ELSE 0 END) AS cv
          FROM votes GROUP BY doc_id, j // 16),
        sig AS (SELECT doc_id, $chunkPivot FROM chunks GROUP BY doc_id),
        bands AS ($bandSelects),
        capped AS (
          SELECT doc_id, band, v FROM (
            SELECT doc_id, band, v,
                   count(*) OVER (PARTITION BY band, v) AS bsz
            FROM bands)
          WHERE bsz <= $MaxChunkBucket),
        cand AS (
          SELECT DISTINCT x.doc_id doc_a, y.doc_id doc_b
          FROM capped x JOIN capped y
            ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id),
        paired AS (
          SELECT c.doc_a, c.doc_b,
                 bit_count(xor(sa.c0, sb.c0)) + bit_count(xor(sa.c1, sb.c1))
               + bit_count(xor(sa.c2, sb.c2)) + bit_count(xor(sa.c3, sb.c3)) AS hamming
          FROM cand c
          JOIN sig sa ON c.doc_a = sa.doc_id
          JOIN sig sb ON c.doc_b = sb.doc_id)
        SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
        FROM paired
        WHERE hamming <= 6
        ORDER BY doc_a, doc_b"""
  }

  /** Distributed connected components by iterative min-label propagation.
    *
    * Input: undirected edges as (doc_a, doc_b) pairs (one direction is
    * enough — both are derived here). Output: (doc_id, label) where label
    * is the minimum doc_id reachable from doc_id. Converges in O(cluster
    * diameter) rounds; each round is one grouping shuffle (neighbors'
    * labels ∪ own label → min per doc; the label frame rides a broadcast
    * into the edge join — it's orders smaller than the corpus).
    * Convergence is detected via the label-sum invariant: labels only ever
    * decrease, so the total is strictly monotone until fixpoint — one
    * scalar agg per round, no old-vs-new join. The label frame is rebuilt
    * from materialized blocks (`localCheckpoint`) every `checkpointEvery`
    * rounds so lineage stays bounded at real cluster diameters, and every
    * cached intermediate is released before returning — an iterative
    * operator must not leak storage into the session across invocations.
    *
    * Hybrid execution: near-dup edge sets are orders of magnitude smaller
    * than the corpus (they survive LSH banding / the hot-gram cap / a
    * similarity threshold), so when the DIRECTED edge-list size (the
    * symmetrized frame this method builds — 2× the undirected pair count)
    * is at most `smallGraphEdgeLimit`, the components are computed by a
    * SINGLE-task union-find over the edge list (`mapPartitions` on
    * `coalesce(1)` — executor-side, never a driver collect): one job
    * instead of one shuffle + one convergence action per diameter hop.
    * At the 10M-entry default the task holds ~80 MB of unboxed keys plus
    * ~300 MB of boxed values (LongMap unboxes keys only) — sized for one
    * healthy executor task. Past the threshold the iterative min-label
    * loop below takes over; both paths emit the identical (doc_id, label
    * = min reachable doc_id) labeling, asserted equal in OperatorSpec.
    *
    * This method RUNS Spark jobs (edge count + per-round convergence
    * checks) — the one documented deviation from the GraftQuery
    * pure-plan contract. */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50,
      checkpointEvery: Int = 5,
      smallGraphEdgeLimit: Long = 10L * 1000 * 1000): DataFrame = {
    val edges = pairs.select(col("doc_a"), col("doc_b"))
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .cache()
    if (edges.count() <= smallGraphEdgeLimit) {
      try return smallGraphComponents(edges)
      finally edges.unpersist(blocking = false)
    }
    val members = edges.select(col("doc_a").as("doc_id")).distinct()
    var labels = members.withColumn("label", col("doc_id"))
    var cachedStep: DataFrame = null
    var prevSum = Long.MaxValue
    var converged = false
    var rounds = 0
    // one min-label propagation hop as a pure plan transform
    def hop(lbl: DataFrame): DataFrame = edges
      .join(lbl.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("label", "l"), "doc_b")
      .select(col("doc_a").as("doc_id"), col("l"))
      .union(lbl.select(col("doc_id"), col("label").as("l")))
      .groupBy("doc_id").agg(min("l").as("label"))
    // try/finally so the non-converged failure path releases storage too —
    // before, the require() throw left `edges` and the last step pinned in
    // the session, exactly the leak this method promises to avoid
    try {
      while (!converged && rounds < maxRounds) {
        // exactly ONE hop per materialization: a double-hop halves driver
        // round-trips but leaves the inner hop unmaterialized, so AQE can't
        // see its size and falls back from runtime broadcast to sort-merge —
        // measured 2× SLOWER than materializing every hop. Keep hops atomic.
        val step = hop(labels).cache()
        val s = Option(step.agg(sum("label")).head().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        converged = s == prevSum
        prevSum = s
        if (cachedStep != null) cachedStep.unpersist(blocking = false)
        rounds += 1
        if (rounds % checkpointEvery == 0) {
          labels = step.localCheckpoint(true)
          step.unpersist(blocking = false)
          cachedStep = null
        } else {
          labels = step
          cachedStep = step
        }
      }
      // fail loudly rather than silently emit split clusters
      require(converged,
        s"label propagation did not converge in $maxRounds rounds")
      labels.localCheckpoint(true)
    } finally {
      if (cachedStep != null) cachedStep.unpersist(blocking = false)
      edges.unpersist(blocking = false)
    }
  }

  /** CC labels for the exact-Jaccard ≥ 0.5 edge set, derived once per
    * corpus — the ONE cluster definition dedup_clusters / dedup_keep_list /
    * dedup_keep_best share (their keep rules differ, their clusters must
    * not). The labels frame is one tiny (doc_id, label) row per clustered
    * doc, already materialized (localCheckpoint) by
    * [[connectedComponents]]; superseded checkpoint blocks are released by
    * the ContextCleaner once the memo drops the previous frame. */
  private[graft] def jaccardCcLabels(s: SparkSession, dir: String): DataFrame =
    TrainedState("cc", s, dir, "documents") {
      val pairs = exactJaccardPairs(s, dir, maxDocFreq = MaxGramDocFreq)
        .filter(col("jaccard") >= 0.5).select("doc_a", "doc_b")
      connectedComponents(pairs)
    }

  /** Union-find over a one-task edge list: union-by-min keeps each tree's
    * root at the component's minimum doc_id, so `find` IS the label. Path
    * compression keeps it near-linear. localCheckpoint(eager) materializes
    * the labels so the caller can release the edge cache immediately. */
  private def smallGraphComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("doc_a").cast("long").as("_1"),
        col("doc_b").cast("long").as("_2"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        // snapshot keys before the final find pass: compression rewrites
        // values, and mutating a LongMap mid-iteration is undefined
        val nodes = parent.keys.toArray
        nodes.iterator.map(n => (n, find(n)))
      }
      .toDF("doc_id", "label")
      .localCheckpoint(true)
  }

  /** Shared DuckDB CTE chain: capped exact-Jaccard pairs → undirected
    * edges → recursive min-reachable-id closure → per-doc `labels`.
    * Prefix for both cluster-shaped oracles (dedup_clusters,
    * dedup_keep_list) so the two stay definitionally identical. */
  private def ccLabelsSql: String = s"""
        WITH RECURSIVE pairs AS (
          WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
          sh AS (SELECT doc_id,
                   CASE WHEN len(toks) >= 3 THEN
                     list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                   ELSE [] END grams
                 FROM t),
          ex AS (SELECT doc_id, unnest(grams) gram FROM sh),
          keep AS (SELECT gram FROM ex GROUP BY gram
                   HAVING count(*) <= $MaxGramDocFreq),
          exf AS (SELECT ex.doc_id, ex.gram FROM ex JOIN keep USING (gram)),
          common AS (
            SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
            FROM exf a JOIN exf b ON a.gram = b.gram AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT doc_a, doc_b
          FROM common
          JOIN (SELECT doc_id, len(grams) n FROM sh) sa ON doc_a = sa.doc_id
          JOIN (SELECT doc_id, len(grams) n FROM sh) sb ON doc_b = sb.doc_id
          WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) >= 0.5),
        edges AS (
          SELECT doc_a, doc_b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
        reach(doc_id, label) AS (
          SELECT doc_a, doc_a FROM edges
          UNION
          SELECT e.doc_a, r.label
          FROM edges e JOIN reach r ON e.doc_b = r.doc_id),
        labels AS (SELECT doc_id, min(label) AS label FROM reach GROUP BY doc_id)"""

  /** MinHash-LSH near-dup pairs ≥ 0.5 verified Jaccard — the shared plan
    * fragment behind minhash_pairs and minhash_clusters.
    *
    * Shingle-less docs are excluded: they have no real near-dups, and
    * their degenerate all-MaxValue signatures would otherwise collide
    * into one giant bucket (skew bomb) and emit NaN-Jaccard pairs. The
    * full signature is computed in one scan-side expression — no explode,
    * no per-permutation aggregation, no signature shuffle; candidates are
    * a narrow (id, cell) self-join, then exact Jaccard verifies. */
  /** Documents → non-empty shingle sets (the signature-eligible frame).
    *
    * The empties filter is the cheap EXACT precondition `≥ ShingleK tokens`,
    * not `size(grams) > 0`: wordShingles emits [] iff token count < n
    * (split(-1) semantics in both), and the grams-based filter let
    * predicate pushdown INLINE wordShingles into a scan-side Filter —
    * the round-14 final-plan dump showed every plan reference paying the
    * full shingle pass twice (Filter + Project), 8 wordShingles
    * evaluations per minhash query. The token-count form pushes to the
    * scan as a split+size, and the projection's wordShingles stays the
    * only real shingle pass per reference (4 → halved total CPU).
    *
    * NOTE (r14 optimization round, negative result — don't redo blind):
    * materializing the gram arrays below a shared doc_id-keyed exchange
    * (scan → cheap filter → xxhash64(doc_id) rebalance → wordShingles →
    * repartition(doc_id), every downstream reference on ReusedExchange)
    * was built and MEASURED: one wordShingles pass per query instead of
    * four, confirmed in the no-AQE plan — and it still lost at BOTH
    * rungs (sf0.1 back-to-back 5-rep medians: minhash_pairs 0.45→0.77 s,
    * source_overlap 0.64→1.02 s; 10× documents ladder steady-state:
    * minhash_pairs 1.95→2.23 s, minhash_est_error 1.95→2.09 s). The
    * one-pass wordShingles kernel is cheap enough that re-running it
    * beats writing + re-reading the ~3×-text gram arrays through an
    * extra pinned shuffle. Two repartition subtleties for whoever
    * retries at a bigger corpus: a same-key repartition pair collapses
    * to ONE exchange (the optimizer drops the outer, putting the shingle
    * pass back above the shared exchange — key the inner differently,
    * e.g. xxhash64(doc_id)), and the no-AQE static plan is the only
    * explain that SHOWS the ReusedExchange nodes. */
  private def shingledNonEmpty(docs: DataFrame): DataFrame =
    shingled(docs.filter(size(split(col("text"), " ", -1)) >= ShingleK))

  /** Shingled docs → (doc_id, band, bucket) LSH index rows — the relation
    * minhash_index persists and every banded-join consumer probes. */
  private def bandBuckets(sh: DataFrame): DataFrame = {
    import graft.functions.{VectorExpressions => V}
    val sig = sh.withColumn("sig", V.minhashSig(col("grams")))
    val bandCols = (0 until bands).map { b =>
      val key = concat_ws(":", (0 until rowsPerBand).map(r =>
        col("sig").getItem(b * rowsPerBand + r).cast("string")): _*)
      struct(lit(b).as("band"), key.as("bucket"))
    }
    sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
  }

  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsOf(Tables.documents(s, dir))

  /** The MinHash-LSH pair pipeline over ANY (doc_id, text) frame — shared
    * with ChatData's prompt_minhash (fuzzy first-user-turn dedup), so the
    * scale-safe shingle→signature→band→verify shape exists once. */
  private[operators] def minhashPairsOf(docs: DataFrame): DataFrame = {
    val sh = shingledNonEmpty(docs)
    val buckets = bandBuckets(sh)
    val cand = buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("grams").as("ga")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("grams").as("gb")), "doc_b")
      .withColumn("common", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("jaccard", round(col("common").cast(DoubleType) /
        (size(col("ga")) + size(col("gb")) - col("common")), 4))
      .filter(col("jaccard") >= 0.5)
  }

  def queries: Seq[GraftQuery] = Seq(

    // ---- exact dedup on a content digest ---------------------------------
    // groupBy(md5) keeps the shuffle key at 32 hex chars regardless of
    // document size; min(doc_id) is the deterministic survivor rule
    // (dropDuplicates keeps an arbitrary row — not oracle-comparable).
    GraftQuery(
      "dedup_exact",
      (s, dir) => Tables.documents(s, dir)
        .groupBy(md5(to_binary(col("text"), lit("utf-8"))).as("content_hash"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies", "content_hash")
        .orderBy("keep_id"),
      Some("""
        SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
               md5(text) AS content_hash
        FROM documents
        GROUP BY md5(text)
        ORDER BY keep_id""")),

    // ---- incremental dedup: a new snapshot against the standing corpus ---
    // The ingestion-time variant of dedup_exact: a crawl pipeline never
    // re-dedups the whole corpus per batch — it classifies each INCOMING
    // document against (a) the digests already in the corpus and (b) the
    // rest of its own batch. The split point is data-derived (top fifth
    // of the doc_id range is "the new batch"), so the query is
    // deterministic at every scale factor.
    //
    // Scale: both joins key on the 32-hex digest, never text. The
    // standing-corpus side collapses to a DISTINCT digest frame (narrow,
    // grows with corpus cardinality — a shuffled hash join is the right
    // shape; bloom_semi_join shows the pre-filter to bolt on when the
    // batch is tiny relative to the corpus). The within-batch rule is
    // min-doc_id-first — the same deterministic survivor discipline as
    // dedup_exact, via one partial-agg groupBy on the (small) batch.
    GraftQuery(
      "delta_dedup",
      (s, dir) => {
        // null-text rows get a deterministic per-row fallback key (the
        // streaming counterpart's nullTextFallbackKey discipline): md5 of
        // NULL is NULL, and a NULL digest would silently vanish at the
        // inner first_seen join — a malformed record must classify as
        // fresh, not disappear. doc_id is unique, so distinct null-text
        // rows never collapse, and the "null:" prefix cannot collide
        // with a 32-hex digest.
        val d = Tables.documents(s, dir)
          .select(col("doc_id"),
            coalesce(md5(to_binary(col("text"), lit("utf-8"))),
              concat(lit("null:"), col("doc_id").cast("string"))).as("digest"))
        val bound = d.agg(expr("max(doc_id) * 4 DIV 5").as("t"))
        val keyed = d.crossJoin(broadcast(bound))
        val snapshot = keyed.filter(col("doc_id") < col("t"))
          .select("digest").distinct()
        val batch = keyed.filter(col("doc_id") >= col("t"))
          .select("doc_id", "digest")
        val firstSeen = batch.groupBy("digest")
          .agg(min("doc_id").as("first_id"))
        batch
          .join(snapshot.withColumn("_hit", lit(1)), Seq("digest"), "left")
          .join(firstSeen, Seq("digest"))
          .select(col("doc_id"), col("digest"),
            when(col("_hit").isNotNull, "dup_snapshot")
              .when(col("doc_id") > col("first_id"), "dup_batch")
              .otherwise("fresh").as("status"))
          .orderBy("doc_id")
      },
      Some("""
        WITH bound AS (SELECT max(doc_id) * 4 // 5 AS t FROM documents),
        d AS (SELECT doc_id,
                     coalesce(md5(text), 'null:' || doc_id) AS digest
              FROM documents),
        snapshot AS (SELECT DISTINCT digest FROM d, bound WHERE doc_id < t),
        batch AS (SELECT doc_id, digest FROM d, bound WHERE doc_id >= t),
        first_seen AS (SELECT digest, min(doc_id) AS first_id
                       FROM batch GROUP BY 1)
        SELECT b.doc_id, b.digest,
               CASE WHEN s.digest IS NOT NULL THEN 'dup_snapshot'
                    WHEN b.doc_id > f.first_id THEN 'dup_batch'
                    ELSE 'fresh' END AS status
        FROM batch b
        LEFT JOIN snapshot s USING (digest)
        JOIN first_seen f USING (digest)
        ORDER BY doc_id""")),

    // ---- exact n-gram Jaccard near-dup pairs (ground truth) --------------
    // Registered WITH the hot-gram cap (MaxGramDocFreq) — the uncapped
    // variant is quadratic in the hottest gram's document frequency and
    // must never ship as a default. The oracle applies the identical cap.
    GraftQuery(
      "ngram_jaccard",
      (s, dir) => exactJaccardPairs(s, dir, maxDocFreq = MaxGramDocFreq)
        .filter(col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "common", "jaccard")
        .orderBy("doc_a", "doc_b"),
      Some(s"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
        sh AS (SELECT doc_id,
                 CASE WHEN len(toks) >= 3 THEN
                   list_distinct(list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END grams
               FROM t),
        ex AS (SELECT doc_id, unnest(grams) gram FROM sh),
        keep AS (SELECT gram FROM ex GROUP BY gram
                 HAVING count(*) <= $MaxGramDocFreq),
        exf AS (SELECT ex.doc_id, ex.gram FROM ex JOIN keep USING (gram)),
        common AS (
          SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
          FROM exf a JOIN exf b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, common,
               round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) AS jaccard
        FROM common
        JOIN (SELECT doc_id, len(grams) n FROM sh) sa ON doc_a = sa.doc_id
        JOIN (SELECT doc_id, len(grams) n FROM sh) sb ON doc_b = sb.doc_id
        WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) >= 0.5
        ORDER BY doc_a, doc_b""")),

    // ---- dedup threshold tuning curve ------------------------------------
    // The operator's tuning artifact: how many pairs and how many
    // documents a Jaccard-threshold dedup pass touches AT EACH candidate
    // threshold (0.5 … 0.9) — the curve an operator reads before picking
    // the production cutoff. One pass of the capped exact-Jaccard pairs,
    // exploded over the 5-row threshold list (output size 5·pairs, never
    // corpus-sized); the affected-doc rate is exact floor-ppm of the
    // corpus. Thresholds below the pair generator's own 0.5 floor would
    // need a regenerated pair set — mirrored exactly in the oracle.
    GraftQuery(
      "dedup_threshold_curve",
      (s, dir) => {
        val pairs = exactJaccardPairs(s, dir, maxDocFreq = MaxGramDocFreq)
          .filter(col("jaccard") >= 0.5)
          .select("doc_a", "doc_b", "jaccard")
        val thresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
        // ONE derivation of the pair subtree: per-(threshold, doc)
        // membership counts give the doc inventory as the row count and
        // the pair inventory as Σcnt/2 (each pair contributes one count
        // to each endpoint) — two aggregations over the same exploded
        // frame, not two re-plans of the posting-list chain.
        val perDoc = pairs.withColumn("threshold",
            explode(typedlit(thresholds)))
          .filter(col("jaccard") >= col("threshold"))
          .select(col("threshold"),
            explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .groupBy("threshold", "doc_id").agg(count(lit(1)).as("cnt"))
        val curve = perDoc.groupBy("threshold")
          .agg(expr("CAST(sum(cnt) DIV 2 AS BIGINT)").as("n_pairs"),
            count(lit(1)).as("n_dup_docs"))
        Tables.documents(s, dir).agg(count(lit(1)).as("n_corpus"))
          .withColumn("threshold", explode(typedlit(thresholds)))
          .join(curve, Seq("threshold"), "left")
          .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
          .withColumn("n_dup_docs", coalesce(col("n_dup_docs"), lit(0L)))
          .withColumn("dup_doc_ppm", expr(
            "CAST(CAST(n_dup_docs AS DECIMAL(38,0)) * 1000000 DIV n_corpus AS BIGINT)"))
          .select("threshold", "n_pairs", "n_dup_docs", "dup_doc_ppm")
          .orderBy("threshold")
      },
      Some(s"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
        sh AS (SELECT doc_id,
                 CASE WHEN len(toks) >= 3 THEN
                   list_distinct(list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END grams
               FROM t),
        ex AS (SELECT doc_id, unnest(grams) gram FROM sh),
        keep AS (SELECT gram FROM ex GROUP BY gram
                 HAVING count(*) <= $MaxGramDocFreq),
        exf AS (SELECT ex.doc_id, ex.gram FROM ex JOIN keep USING (gram)),
        common AS (
          SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
          FROM exf a JOIN exf b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pj AS (
          SELECT doc_a, doc_b,
                 round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) AS jaccard
          FROM common
          JOIN (SELECT doc_id, len(grams) n FROM sh) sa ON doc_a = sa.doc_id
          JOIN (SELECT doc_id, len(grams) n FROM sh) sb ON doc_b = sb.doc_id
          WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) >= 0.5),
        th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold),
        f AS (SELECT th.threshold, pj.doc_a, pj.doc_b
              FROM th JOIN pj ON pj.jaccard >= th.threshold),
        pc AS (SELECT threshold, count(*) AS n_pairs FROM f GROUP BY 1),
        dc AS (SELECT threshold, count(*) AS n_dup_docs FROM (
                 SELECT DISTINCT threshold, doc_id FROM (
                   SELECT threshold, doc_a AS doc_id FROM f
                   UNION ALL SELECT threshold, doc_b FROM f))
               GROUP BY 1),
        nn AS (SELECT count(*) AS n_corpus FROM documents)
        SELECT th.threshold,
               coalesce(pc.n_pairs, 0) AS n_pairs,
               coalesce(dc.n_dup_docs, 0) AS n_dup_docs,
               CAST(CAST(coalesce(dc.n_dup_docs, 0) AS HUGEINT) * 1000000
                    // nn.n_corpus AS BIGINT) AS dup_doc_ppm
        FROM th LEFT JOIN pc USING (threshold)
                LEFT JOIN dc USING (threshold), nn
        ORDER BY th.threshold""")),

    // ---- n-gram containment pairs (doc-inside-doc detection) -------------
    // Broder's CONTAINMENT |A∩B|/min(|A|,|B|), not resemblance: a short
    // document quoted whole inside a long one scores ~1.0 here while its
    // Jaccard stays low (the intersection is diluted by the long doc's
    // grams) — the case a Jaccard-thresholded dedup pass structurally
    // misses. Same inverted-index pair generation as ngram_jaccard (ONE
    // posting-list shuffle, hot-gram cap always on), so the scale shape
    // is already proven; the pair is classified near_dup vs subset by
    // whether resemblance ALSO clears the Jaccard gate.
    GraftQuery(
      "containment_pairs",
      (s, dir) => exactJaccardPairs(s, dir, maxDocFreq = MaxGramDocFreq)
        .withColumn("containment",
          round(col("common").cast(DoubleType) / least(col("na"), col("nb")), 4))
        .filter(col("containment") >= 0.8)
        .withColumn("relation",
          when(col("jaccard") >= 0.5, "near_dup").otherwise("subset"))
        .select("doc_a", "doc_b", "common", "containment", "jaccard", "relation")
        .orderBy("doc_a", "doc_b"),
      Some(s"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
        sh AS (SELECT doc_id,
                 CASE WHEN len(toks) >= 3 THEN
                   list_distinct(list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END grams
               FROM t),
        ex AS (SELECT doc_id, unnest(grams) gram FROM sh),
        keep AS (SELECT gram FROM ex GROUP BY gram
                 HAVING count(*) <= $MaxGramDocFreq),
        exf AS (SELECT ex.doc_id, ex.gram FROM ex JOIN keep USING (gram)),
        common AS (
          SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
          FROM exf a JOIN exf b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        scored AS (
          SELECT doc_a, doc_b, common,
                 round(CAST(common AS DOUBLE) / least(sa.n, sb.n), 4) AS containment,
                 round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) AS jaccard
          FROM common
          JOIN (SELECT doc_id, len(grams) n FROM sh) sa ON doc_a = sa.doc_id
          JOIN (SELECT doc_id, len(grams) n FROM sh) sb ON doc_b = sb.doc_id)
        SELECT doc_a, doc_b, common, containment, jaccard,
               CASE WHEN jaccard >= 0.5 THEN 'near_dup' ELSE 'subset' END AS relation
        FROM scored
        WHERE containment >= 0.8
        ORDER BY doc_a, doc_b""")),

    // ---- MinHash + LSH near-dup pairs (the at-scale path) ----------------
    // Bands of the signature hash into buckets; only bucket-mates are
    // compared, then exact Jaccard verifies candidates (no false
    // positives; recall is probabilistic — cross-checked against
    // ngram_jaccard in OperatorSpec).
    GraftQuery(
      "minhash_pairs",
      (s, dir) => minhashPairs(s, dir)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b"),
      Some(minhashOracleSql)),

    // ---- MinHash estimator calibration ------------------------------------
    // The tuning readout run BEFORE committing a (bands, rows, threshold)
    // configuration to a 100 TB pass: for every LSH candidate pair
    // (unthresholded — the misses are the point), the signature-agreement
    // estimate matches/16 next to the exact Jaccard and the signed error.
    // An estimator biased high near the threshold floods the verifier;
    // biased low, it silently under-deduplicates — this frame is where
    // either shows up at sf before it costs a cluster run. Same banded
    // chain as minhash_pairs (the sig subtree appears twice — once for
    // band keys, once for the agreement count; at this candidate volume
    // that beats threading 16 extra columns through the pair shuffle).
    GraftQuery(
      "minhash_est_error",
      (s, dir) => {
        val sh = shingledNonEmpty(Tables.documents(s, dir))
        val sig = sh.withColumn("sig",
          graft.functions.VectorExpressions.minhashSig(col("grams")))
        val buckets = bandBuckets(sh)
        val cand = buckets.as("x")
          .join(buckets.as("y"),
            col("x.band") === col("y.band") &&
            col("x.bucket") === col("y.bucket") &&
            col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .distinct()
        cand
          .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sa"),
            col("grams").as("ga")), "doc_a")
          .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sb"),
            col("grams").as("gb")), "doc_b")
          .withColumn("sig_matches",
            expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), b -> b))"))
          .withColumn("common", size(array_intersect(col("ga"), col("gb"))))
          .withColumn("jaccard", round(col("common").cast(DoubleType) /
            (size(col("ga")) + size(col("gb")) - col("common")), 4))
          .withColumn("est_jaccard",
            round(col("sig_matches") / lit(numHashes.toDouble), 4))
          .withColumn("err", round(col("est_jaccard") - col("jaccard"), 4))
          .select("doc_a", "doc_b", "sig_matches", "est_jaccard", "jaccard", "err")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""
        WITH ${minhashCtes()},
        sm AS (
          SELECT c.doc_a, c.doc_b,
                 ${(0 until numHashes).map(k =>
                   s"CASE WHEN a.s$k = b.s$k THEN 1 ELSE 0 END")
                   .mkString("\n                 + ")} AS sig_matches
          FROM cand c
          JOIN sig a ON c.doc_a = a.doc_id
          JOIN sig b ON c.doc_b = b.doc_id),
        tr AS (
          SELECT doc_a, doc_b,
                 round(CAST(len(list_intersect(ga, gb)) AS DOUBLE) /
                       (len(ga) + len(gb) - len(list_intersect(ga, gb))), 4) AS jaccard
          FROM withg)
        SELECT s.doc_a, s.doc_b, sig_matches,
               round(sig_matches / $numHashes.0, 4) AS est_jaccard, jaccard,
               round(round(sig_matches / $numHashes.0, 4) - jaccard, 4) AS err
        FROM sm s JOIN tr USING (doc_a, doc_b)
        ORDER BY doc_a, doc_b""")),

    // ---- MinHash-LSH duplicate clusters: the at-scale clustering path ----
    // dedup_clusters builds its edges from the exact inverted-index
    // Jaccard — the ground truth, but it still touches every posting list.
    // This variant is what a 100 TB pass actually ships: edges come ONLY
    // from LSH band collisions (O(n·bands) shuffle), then the same
    // connected-components labeling. Builder RUNS jobs (CC convergence),
    // like the other cluster queries — see SparkEntry.actionfulQueries.
    GraftQuery(
      "minhash_clusters",
      (s, dir) => {
        val pairs = minhashPairs(s, dir).select("doc_a", "doc_b")
        connectedComponents(pairs).groupBy("label")
          .agg(count(lit(1)).as("cluster_size"),
               array_sort(collect_list("doc_id")).as("members"))
          .select(col("label").as("cluster_id"), col("cluster_size"),
            concat_ws(",", expr("transform(members, x -> CAST(x AS STRING))"))
              .as("member_ids"))
          .orderBy("cluster_id")
      },
      Some(minhashClustersOracleSql)),

    // ---- cross-source overlap: the mirror-site / syndication detector ----
    // Rolls the same banded-LSH near-dup pairs up by SOURCE PAIR: two
    // sources sharing many near-duplicate documents are mirrors or
    // syndication partners, and a crawl pipeline keeps one of them (or
    // routes both through source_cap). Unordered pair key via
    // least/greatest so (a,b) and (b,a) collapse; joins are doc_id-keyed
    // onto the narrow (doc_id, source) projection, output is at most
    // |sources|² rows.
    GraftQuery(
      "source_overlap",
      (s, dir) => {
        val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
        minhashPairs(s, dir).select("doc_a", "doc_b")
          .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
          .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
          .select(least(col("src_a"), col("src_b")).as("source_1"),
            greatest(col("src_a"), col("src_b")).as("source_2"))
          .groupBy("source_1", "source_2")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("source_1", "source_2")
      },
      Some(s"""
        WITH ${minhashCtes()},
        sp AS (SELECT least(a.source, b.source) AS source_1,
                      greatest(a.source, b.source) AS source_2
               FROM mh_pairs p
               JOIN documents a ON p.doc_a = a.doc_id
               JOIN documents b ON p.doc_b = b.doc_id)
        SELECT source_1, source_2, CAST(count(*) AS BIGINT) AS n_pairs
        FROM sp
        GROUP BY 1, 2
        ORDER BY 1, 2""")),

    // ---- per-source near-duplication profile ------------------------------
    // The curation dashboard number: what fraction of each source's
    // documents participates in at least one near-dup pair. Sources with
    // runaway rates get capped (source_cap) or dropped; a rate JUMP on a
    // refreshed crawl is the classic mirror-site alarm. Pairs come from
    // the same banded-LSH chain as minhash_pairs (capped candidates,
    // never the full pair space); the rollup is one doc_id-keyed left
    // join onto the narrow (doc_id, source) projection and a partial
    // agg — document text never enters a shuffle.
    GraftQuery(
      "neardup_rate_by_source",
      (s, dir) => {
        val dupDocs = minhashPairs(s, dir)
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .distinct()
        Tables.documents(s, dir).select(col("doc_id"), col("source"))
          .join(dupDocs.withColumn("_d", lit(1)), Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), count("_d").as("n_neardup_docs"))
          .withColumn("neardup_rate", round(
            col("n_neardup_docs").cast(DoubleType) / col("n_docs"), 4))
          .orderBy("source")
      },
      Some(s"""
        WITH ${minhashCtes()},
        dup AS (SELECT DISTINCT doc_id FROM (
                  SELECT doc_a AS doc_id FROM mh_pairs
                  UNION SELECT doc_b FROM mh_pairs)),
        j AS (SELECT d.source, dup.doc_id AS hit
              FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(hit) AS BIGINT) AS n_neardup_docs,
               round(CAST(count(hit) AS DOUBLE) / count(*), 4) AS neardup_rate
        FROM j
        GROUP BY source
        ORDER BY source""")),

    // ---- duplicate clusters: connected components over near-dup pairs ----
    // Iterative min-label propagation over the exact-Jaccard edge set:
    // each round joins current labels across edges and keeps the min
    // reachable doc_id; converges in O(cluster diameter) rounds, each a
    // distributed hash join (the standard large-scale CC shape — no graph
    // library needed). The oracle is a recursive CTE computing the same
    // min-reachable-id transitive closure.
    // NOTE: this is the one registered query whose builder RUNS Spark jobs
    // (label propagation needs a per-round convergence check) — a documented
    // deviation from the GraftQuery "pure plan construction" contract.
    // Every cached intermediate is released before returning, and the label
    // frame is rebuilt from materialized blocks (localCheckpoint) every few
    // rounds so lineage stays bounded at real cluster diameters.
    GraftQuery(
      "dedup_clusters",
      (s, dir) => {
        val finalLabels = jaccardCcLabels(s, dir)
        finalLabels.groupBy("label")
          .agg(count(lit(1)).as("cluster_size"),
               array_sort(collect_list("doc_id")).as("members"))
          .select(col("label").as("cluster_id"), col("cluster_size"),
            // numeric sort BEFORE the string cast ("10" < "2" otherwise)
            concat_ws(",", expr("transform(members, x -> CAST(x AS STRING))"))
              .as("member_ids"))
          .orderBy("cluster_id")
      },
      Some(s"""
        $ccLabelsSql
        SELECT min(label) AS cluster_id, count(*) AS cluster_size,
               string_agg(doc_id, ',' ORDER BY doc_id) AS member_ids
        FROM labels
        GROUP BY label
        ORDER BY cluster_id""")),

    // ---- dedup keep-list: the decision the pipeline actually ships -------
    // Every document with its cluster id and whether it survives dedup
    // (the cluster's min doc_id is the canonical survivor; docs in no
    // near-dup cluster keep themselves). This is the materialized output
    // a trillion-token cleaning pass feeds downstream — one left join of
    // the corpus against the (far smaller) component labels.
    GraftQuery(
      "dedup_keep_list",
      (s, dir) => {
        val labels = jaccardCcLabels(s, dir)
        Tables.documents(s, dir).select(col("doc_id"))
          .join(labels, Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
          .withColumn("is_kept", col("cluster_id") === col("doc_id"))
          .select("doc_id", "cluster_id", "is_kept")
          .orderBy("doc_id")
      },
      Some(s"""
        $ccLabelsSql
        SELECT d.doc_id,
               coalesce(l.label, d.doc_id) AS cluster_id,
               (coalesce(l.label, d.doc_id) = d.doc_id) AS is_kept
        FROM documents d LEFT JOIN labels l USING (doc_id)
        ORDER BY doc_id""")),

    // ---- quality-weighted keep-list: keep the BEST duplicate, not the ----
    // first. min-doc_id survivors (dedup_keep_list) are the simplest
    // deterministic rule, but a real curation pass keeps the most complete
    // member of each near-dup cluster — boilerplate-stripped fragments and
    // truncated mirrors lose to the fullest copy. Survivor = argmax by
    // (n_chars DESC, doc_id ASC), integer-exact so both engines pick the
    // same row without float ties. Same CC labels as dedup_keep_list (the
    // cluster definition must not fork between the two keep rules); the
    // survivor choice is a per-cluster window over the labels frame —
    // cluster ids are high-cardinality (≈ docs), so the window partitions
    // fine at any scale, and the corpus joins the (far smaller) labels
    // frame exactly once.
    GraftQuery(
      "dedup_keep_best",
      (s, dir) => {
        val labels = jaccardCcLabels(s, dir)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cluster_id")
          .orderBy(col("n_chars").desc, col("doc_id"))
        Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
          .join(labels, Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
          .withColumn("is_kept", row_number().over(w) === 1)
          .select("doc_id", "cluster_id", "n_chars", "is_kept")
          .orderBy("doc_id")
      },
      Some(s"""
        $ccLabelsSql,
        kl AS (SELECT d.doc_id,
                      coalesce(l.label, d.doc_id) AS cluster_id,
                      d.n_chars
               FROM documents d LEFT JOIN labels l USING (doc_id))
        SELECT doc_id, cluster_id, n_chars,
               (row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY n_chars DESC, doc_id) = 1) AS is_kept
        FROM kl
        ORDER BY doc_id""")),

    // ---- SimHash signatures + hamming-close pairs ------------------------
    // Signature: 64-bit SimHash via the codegen'd kernel — one pass per
    // token using the engine-neutral polynomial hash pair (polyHash /
    // polyHash2, two moduli for 64 bits), which is exactly what makes the
    // query oracle-checkable in DuckDB. (The HOF formulation re-hashed
    // every token 64× and ran interpreted, ~50 s at sf0.1; an
    // xxhash64-based signature would be faster still but engine-private.)
    // Candidates from capped single-chunk + chunk-pair bands
    // (simhashCandidates); exact hamming ≤ 6 confirms.
    GraftQuery(
      "simhash_pairs",
      (s, dir) => simhashCandidates(s, dir)
        .withColumn("hamming", bit_count(col("fpa").bitwiseXOR(col("fpb"))))
        .filter(col("hamming") <= 6)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b"),
      Some(simhashOracleSql)),

    // ---- exact token-block dedup (substring-dedup at block granularity) --
    // The sequence-level pass a training pipeline runs AFTER document
    // dedup: boilerplate and quoted passages repeat across otherwise
    // distinct documents, so whole-doc digests miss them. Docs are cut
    // into fixed non-overlapping token blocks; a block INSTANCE is a
    // duplicate iff the same block text occurs at an earlier (doc_id,
    // block_idx) position anywhere in the corpus. Per-doc output is the
    // duplicated-block profile a filter stage thresholds on.
    //
    // Scale: one explode to block instances — which immediately collapse
    // to (doc_id, pos, 16-byte digest) following dedup_exact's discipline
    // (block TEXT never rides a shuffle) — then ONE digest-keyed exchange
    // where a windowed min marks the canonical instance, then the per-doc
    // agg. O(n tokens), no pairwise anything, no second corpus scan: the
    // groupBy-then-join-back formulation scans and re-shingles the whole
    // corpus twice and plans a join whose distinct-blocks side is NOT
    // broadcastable at 100 TB. The canonical-instance rule (global min
    // position) is what makes the result deterministic and
    // oracle-checkable, unlike first-seen-in-scan-order. Block size is
    // 3 tokens here because the synthetic corpus draws from a ~31-word
    // vocabulary (real pipelines use ~50-token blocks; the arithmetic is
    // size-independent). Position encodes as doc_id*1e6+idx so "earlier"
    // is one BIGINT min in both engines.
    GraftQuery(
      "block_dedup",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("bh")
        Tables.documents(s, dir)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          // tokenize into a COLUMN first: a split() inside the transform
          // lambda is re-evaluated per chunk index (interpreted HOF, no
          // subexpression elimination) — O(blocks·tokens) per document
          .withColumn("toks", split(col("text"), " "))
          // explode the block-index RANGE, then slice+join+hash in the
          // downstream projection (r14, the gramStarts discipline):
          // building the block texts inside a transform() lambda dropped
          // the whole expression to interpreted eval per block. Rows are
          // identical: one (doc_id, idx, block) per chunk.
          .select(col("doc_id"), col("toks"), explode(expr(
            s"sequence(0, CAST(ceil(size(toks) / $BlockTokens.0) AS INT) - 1)"))
            .as("idx"))
          .select(col("doc_id"),
            (col("doc_id") * 1000000L + col("idx")).as("pos"),
            // xxhash64 digest (the gramStarts discipline): the block hash
            // is only ever a window partition key — 8-byte long on the
            // exchange instead of a 32-char md5 hex string, and the
            // engine's codegen'd hash instead of MessageDigest per block
            xxhash64(expr(
              s"array_join(slice(toks, idx * $BlockTokens + 1, $BlockTokens), ' ')"))
              .as("bh"))
          .withColumn("first_pos", min(col("pos")).over(w))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_blocks"),
            sum(when(col("pos") =!= col("first_pos"), 1L).otherwise(0L)).as("dup_blocks"))
          .withColumn("dup_ratio",
            round(col("dup_blocks").cast(DoubleType) / col("n_blocks"), 4))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
        b AS (SELECT doc_id,
                list_transform(range(0, CAST(ceil(len(toks) / $BlockTokens.0) AS INT)),
                  i -> array_to_string(list_slice(toks, i * $BlockTokens + 1, i * $BlockTokens + $BlockTokens), ' ')) blocks
              FROM t),
        inst AS (SELECT doc_id,
                   generate_subscripts(blocks, 1) - 1 AS idx,
                   unnest(blocks) AS block
                 FROM b),
        pos AS (SELECT doc_id, block, doc_id * 1000000 + idx AS pos FROM inst),
        canon AS (SELECT block, min(pos) first_pos FROM pos GROUP BY block)
        SELECT p.doc_id,
               count(*) AS n_blocks,
               CAST(sum(CASE WHEN p.pos != c.first_pos THEN 1 ELSE 0 END) AS BIGINT) AS dup_blocks,
               round(CAST(sum(CASE WHEN p.pos != c.first_pos THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 4) AS dup_ratio
        FROM pos p JOIN canon c USING (block)
        GROUP BY p.doc_id
        ORDER BY p.doc_id""")),

    // ---- PageRank over the near-dup candidate graph ----------------------
    // Graph analytics on the curation side: rank the "template hubs" —
    // documents most centrally connected in the near-duplicate graph
    // (boilerplate sources, mirrored landing pages). Nodes = documents in
    // ≥1 MinHash-LSH pair, edges = the symmetrized candidate pairs, then
    // PrIters rounds of damped power iteration (d = 0.85).
    //
    // Scale: the classic distributed PageRank shape — each iteration is one
    // equi-join (ranks ⋈ edges on src) plus one groupBy(dst) sum, i.e. two
    // exchanges over an edge set the LSH caps bound at O(n·bands·cap).
    // The edge set is hash-partitioned on src and MATERIALIZED once
    // (eager localCheckpoint, same discipline as connectedComponents):
    // the frame feeds five plan positions (degree, node count, and every
    // iteration's join), and as a pure plan each mention re-derives the
    // whole LSH chain — measured 88 parquet scans and 3.3 s vs 0.9 s
    // checkpointed. Every production PageRank checkpoints its edges for
    // exactly this reason. PrIters is a fixed plan-unrolled constant and
    // the node count rides along as a broadcast scalar, so iterations add
    // plan depth, not driver round-trips (listed in
    // SparkEntry.actionfulQueries for the one materializing action).
    //
    // Exactness: all arithmetic is BIGINT fixed-point (rank mass in 1e-9
    // units), divisions are `div` — and Spark `div` / DuckDB `//` both
    // truncate toward zero (pinned by ComponentSpec) — so three iterations
    // compose to the same integers in both engines and even the ranking is
    // hash-checked. rank(v) = T + (85·Σ_{u→v} rank(u) div deg(u)) div 100
    // with teleport T = 15e9 div (100·N).
    GraftQuery(
      "dup_pagerank",
      (s, dir) => {
        val pairs = minhashPairs(s, dir).select("doc_a", "doc_b")
        val edges = pairs.union(
          pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
          .repartition(s.sparkContext.defaultParallelism, col("doc_a"))
          .localCheckpoint(true)
        val deg = edges.groupBy("doc_a").agg(count(lit(1)).as("deg"))
          .select(col("doc_a").as("doc_id"), col("deg"))
        val n = deg.agg(count(lit(1)).as("n"))
        val base = deg.crossJoin(broadcast(n))
        def step(r: DataFrame): DataFrame = {
          val contrib = r
            .select(col("doc_id"), expr("rank div deg").as("c"))
            .join(edges, col("doc_id") === col("doc_a"))
            .groupBy(col("doc_b")).agg(sum("c").as("sm"))
            .select(col("doc_b").as("doc_id"), col("sm"))
          base.join(contrib, "doc_id")
            .withColumn("rank",
              expr(s"${15L * PrScale} div (100 * n) + (85 * sm) div 100"))
            .select("doc_id", "deg", "n", "rank")
        }
        val r0 = base.withColumn("rank", expr(s"$PrScale div n"))
          .select("doc_id", "deg", "n", "rank")
        val rN = (1 to PrIters).foldLeft(r0)((r, _) => step(r))
        rN.select(col("doc_id"), col("deg").as("degree"), col("rank").as("rank_e9"))
          .orderBy(col("rank_e9").desc, col("doc_id"))
          .limit(20)
      },
      Some({
        def iter(k: Int): String = s"""
          r$k AS (SELECT b.doc_id, b.deg, b.n,
                    CAST(${15L * PrScale} // (100 * b.n)
                         + (85 * s.sm) // 100 AS BIGINT) AS rank
                  FROM base b
                  JOIN (SELECT e.doc_b AS doc_id,
                               sum(r.rank // r.deg) AS sm
                        FROM edges e JOIN r${k - 1} r ON e.doc_a = r.doc_id
                        GROUP BY e.doc_b) s USING (doc_id))"""
        s"""
        WITH ${minhashCtes()},
        edges AS (SELECT doc_a, doc_b FROM mh_pairs
                  UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM mh_pairs),
        deg AS (SELECT doc_a AS doc_id, count(*) AS deg FROM edges GROUP BY doc_a),
        base AS (SELECT doc_id, deg, (SELECT count(*) FROM deg) AS n FROM deg),
        r0 AS (SELECT doc_id, deg, n, $PrScale // n AS rank FROM base),
        ${(1 to PrIters).map(iter).mkString(",")}
        SELECT doc_id, deg AS degree, rank AS rank_e9 FROM r$PrIters
        ORDER BY rank_e9 DESC, doc_id
        LIMIT 20"""
      })),

    // ---- triangle census over the near-dup graph (see dupTriangles) ------
    GraftQuery("dup_triangles", dupTriangles, Some(dupTrianglesOracleSql)),

    // ---- the persistable LSH index relation ------------------------------
    // (doc_id, band, bucket) rows — what a production deployment WRITES
    // once per corpus so incremental near-dup passes (delta_neardup
    // below, the streaming ingest dedup) probe a stored index instead of
    // re-shingling 100 TB per batch. Registered as a query so the index
    // content itself is hash-checked against the oracle's band chain;
    // one scan, the signature is a scan-side codegen'd expression, the
    // explode is bands(=8)× amplification of 3-column rows.
    GraftQuery(
      "minhash_index",
      (s, dir) => bandBuckets(shingledNonEmpty(Tables.documents(s, dir)))
        .orderBy("doc_id", "band"),
      Some(s"""
        WITH ${minhashCtes()}
        SELECT doc_id, band, bkey AS bucket
        FROM bands
        ORDER BY doc_id, band""")),

    // ---- incremental near-dup: batch vs corpus index ---------------------
    // The banded complement of delta_dedup's exact classifier: which
    // INCOMING documents are near-dups of the standing corpus, found by
    // probing the corpus' band index (minhash_index above) with the
    // batch's bands — the corpus text is never re-paired against itself
    // (batch×corpus candidates only), which is the whole point at 100 TB:
    // per-batch cost is O(batch·bands) probes + verification on the
    // candidates. Same deterministic batch split as delta_dedup
    // (doc_id ≥ ⌊max·4/5⌋); verification re-reads grams only for
    // candidate ids.
    GraftQuery(
      "delta_neardup",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val sh = shingledNonEmpty(docs)
        val bound = docs.agg(expr("max(doc_id) * 4 DIV 5").as("t"))
        val allBands = bandBuckets(sh).crossJoin(broadcast(bound))
        val corpusB = allBands.filter(col("doc_id") < col("t"))
          .select(col("doc_id").as("corpus_doc"), col("band"), col("bucket"))
        val batchB = allBands.filter(col("doc_id") >= col("t"))
          .select(col("doc_id").as("batch_doc"), col("band"), col("bucket"))
        val cand = batchB.join(corpusB, Seq("band", "bucket"))
          .select("batch_doc", "corpus_doc").distinct()
        cand
          .join(sh.select(col("doc_id").as("batch_doc"), col("grams").as("ga")), "batch_doc")
          .join(sh.select(col("doc_id").as("corpus_doc"), col("grams").as("gb")), "corpus_doc")
          .withColumn("common", size(array_intersect(col("ga"), col("gb"))))
          .withColumn("jaccard", round(col("common").cast(DoubleType) /
            (size(col("ga")) + size(col("gb")) - col("common")), 4))
          .filter(col("jaccard") >= 0.5)
          .select("batch_doc", "corpus_doc", "jaccard")
          .orderBy("batch_doc", "corpus_doc")
      },
      Some(s"""
        WITH ${minhashCtes()},
        bound AS (SELECT max(doc_id) * 4 // 5 AS t FROM documents),
        cb AS (SELECT doc_id AS corpus_doc, band, bkey
               FROM bands, bound WHERE doc_id < t),
        bb AS (SELECT doc_id AS batch_doc, band, bkey
               FROM bands, bound WHERE doc_id >= t),
        nd_cand AS (SELECT DISTINCT batch_doc, corpus_doc
                 FROM bb JOIN cb USING (band, bkey)),
        wg AS (SELECT c.batch_doc, c.corpus_doc, sa.grams ga, sb.grams gb
               FROM nd_cand c
               JOIN sh sa ON c.batch_doc = sa.doc_id
               JOIN sh sb ON c.corpus_doc = sb.doc_id)
        SELECT batch_doc, corpus_doc,
               round(CAST(len(list_intersect(ga, gb)) AS DOUBLE) /
                     (len(ga) + len(gb) - len(list_intersect(ga, gb))), 4) AS jaccard
        FROM wg
        WHERE round(CAST(len(list_intersect(ga, gb)) AS DOUBLE) /
                    (len(ga) + len(gb) - len(list_intersect(ga, gb))), 4) >= 0.5
        ORDER BY batch_doc, corpus_doc""")),

    // ---- train/val/test leakage: near-dup pairs straddling splits --------
    // The hygiene check hash_split exists FOR: a near-duplicate pair with
    // one member in train and the other in val/test leaks evaluation
    // signal no matter how clean the split arithmetic is, because
    // near-dups carry each other's content. Pairs come off the capped
    // banded-LSH chain; the split assignment is hash_split's exact
    // md5-nibble rule applied to doc_id — deterministic, so the leak
    // report is reproducible and hash-checked end to end. Remediation
    // (move/drop one side) consumes these rows downstream.
    GraftQuery(
      "split_leakage",
      (s, dir) => {
        // splits attach as projections of the pair's own keys ([[splitOf]]
        // is a pure function of doc_id) — the former two doc-keyed joins
        // shuffled the pair frame twice to look up a value computable in
        // place (guide §2.4), and every join side re-derived the docSplits
        // scan.
        minhashPairs(s, dir).select("doc_a", "doc_b", "jaccard")
          .withColumn("split_a", splitOf(col("doc_a")))
          .withColumn("split_b", splitOf(col("doc_b")))
          .filter(col("split_a") =!= col("split_b"))
          .select("doc_a", "doc_b", "split_a", "split_b", "jaccard")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""
        WITH ${minhashCtes()},
        $sqlDocSplits
        SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b, p.jaccard
        FROM mh_pairs p
        JOIN sp sa ON p.doc_a = sa.doc_id
        JOIN sp sb ON p.doc_b = sb.doc_id
        WHERE sa.split != sb.split
        ORDER BY p.doc_a, p.doc_b""")),

    // ---- cluster-aware split repair: the FIX for split_leakage -----------
    // split_leakage reports near-dup pairs straddling train/val/test;
    // this emits the remediation: every member of a near-dup cluster is
    // reassigned to its cluster representative's split (the min-doc_id
    // member — which IS the CC label, so no extra ranking pass), making
    // cross-split leakage zero by construction (OperatorSpec asserts it
    // over every LSH pair). Unclustered docs keep their hash split.
    // Actionful (CC convergence), like the other cluster builders.
    //
    // Scale: the repair adds two doc_id-keyed narrow joins on top of the
    // existing CC labeling; the split rule itself is scan-side hash
    // arithmetic.
    GraftQuery(
      "split_repair",
      (s, dir) => {
        val labels = connectedComponents(
          minhashPairs(s, dir).select("doc_a", "doc_b"))
        // the representative's split is [[splitOf]](label) — a projection
        // on the (tiny, materialized) labels frame, not a join back into
        // a corpus-wide splits frame; and the base split is a projection
        // on the documents scan (guide §2.4: both former joins shuffled
        // frames to look up a pure function of their own key)
        val repaired = labels.withColumn("rep_split", splitOf(col("label")))
        docSplits(s, dir)
          .join(repaired.select("doc_id", "rep_split"), Seq("doc_id"), "left")
          .withColumn("new_split", coalesce(col("rep_split"), col("split")))
          .withColumn("changed", col("new_split") =!= col("split"))
          .select(col("doc_id"), col("split").as("old_split"),
            col("new_split"), col("changed"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH RECURSIVE ${minhashCtes()},
        edges AS (
          SELECT doc_a, doc_b FROM mh_pairs
          UNION SELECT doc_b, doc_a FROM mh_pairs),
        reach(doc_id, label) AS (
          SELECT doc_a, doc_a FROM edges
          UNION
          SELECT e.doc_a, r.label
          FROM edges e JOIN reach r ON e.doc_b = r.doc_id),
        labels AS (SELECT doc_id, min(label) AS label FROM reach GROUP BY doc_id),
        $sqlDocSplits,
        rep AS (SELECT l.doc_id, s2.split AS rep_split
                FROM labels l JOIN sp s2 ON l.label = s2.doc_id)
        SELECT sp.doc_id, sp.split AS old_split,
               coalesce(rep.rep_split, sp.split) AS new_split,
               coalesce(rep.rep_split, sp.split) != sp.split AS changed
        FROM sp LEFT JOIN rep USING (doc_id)
        ORDER BY sp.doc_id""")),

    // ---- bounded BFS via a NATIVE recursive CTE (Spark 4 WITH RECURSIVE) -
    // The SQL face of the graph stack: per-source min-hop distances to
    // every document within 3 hops of the near-dup graph, written as the
    // same `WITH RECURSIVE` text DuckDB runs — recursive SQL was
    // impossible in Spark < 4.0 (the DataFrame loop in
    // connectedComponents was the only shape); the UnionLoop operator now
    // executes it natively. The recursion is DEPTH-BOUNDED (depth < 3
    // in the recursive member) because the edge graph is symmetric =
    // cyclic, and UNION ALL recursion never deduplicates: an unbounded
    // walk diverges in BOTH engines. The closing GROUP BY collapses walk
    // multiplicity into BFS distance.
    //
    // Scale: each UnionLoop iteration is one equi-join of the frontier
    // against the edge set plus the depth filter — the same per-hop cost
    // as the CC loop, executed by the engine instead of driver-looped.
    // Walk volume is Σ deg^depth, bounded here by the LSH degree caps; at
    // web scale you seed selectively (WHERE on the anchor member) rather
    // than from every node. Edges materialize once (localCheckpoint, the
    // shared graph discipline) behind a temp view the SQL references.
    GraftQuery(
      "dup_reach",
      (s, dir) => {
        val pairs = minhashPairs(s, dir).select("doc_a", "doc_b")
        pairs.union(
          pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
          .repartition(s.sparkContext.defaultParallelism, col("doc_a"))
          .localCheckpoint(true)
          .createOrReplaceTempView("graft_dup_edges")
        s.sql(s"""
          WITH RECURSIVE reach(src, doc_id, depth) AS (
            -- anchor columns aliased APART: a bare (doc_a, doc_a, 0)
            -- seed reaches UnionLoop's per-iteration LogicalRDD with
            -- duplicate attribute names and WARNs on every run (r12 nit)
            SELECT doc_a AS src, doc_a AS doc_id, 0 AS depth
            FROM (SELECT DISTINCT doc_a FROM graft_dup_edges) t
            UNION ALL
            -- DISTINCT inside the recursive member: each UnionLoop step
            -- otherwise carries WALK multiplicity, not node membership —
            -- near-dup clusters are near-cliques, so step k holds
            -- Σ deg^k rows (measured: the recursion alone was 3.4 s of
            -- dup_reach's 4.5 s at sf0.1, the one `regressed` flag of
            -- the round-start bench). Level sets are unchanged
            -- (term_{k+1} depends only on term_k's SET; min(depth)
            -- collapses the rest), so the output is bit-identical while
            -- each step is bounded by Σ|cluster| instead of Σ deg^k.
            SELECT DISTINCT r.src, e.doc_b, r.depth + 1
            FROM reach r JOIN graft_dup_edges e ON r.doc_id = e.doc_a
            WHERE r.depth < $ReachDepth
          )
          SELECT src, doc_id, min(depth) AS min_depth
          FROM reach
          GROUP BY src, doc_id
          ORDER BY src, doc_id""")
      },
      Some(s"""
        WITH RECURSIVE ${minhashCtes()},
        edges AS (SELECT doc_a, doc_b FROM mh_pairs
                  UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM mh_pairs),
        reach(src, doc_id, depth) AS (
          SELECT doc_a, doc_a, 0 FROM (SELECT DISTINCT doc_a FROM edges) t
          UNION ALL
          SELECT r.src, e.doc_b, r.depth + 1
          FROM reach r JOIN edges e ON r.doc_id = e.doc_a
          WHERE r.depth < $ReachDepth
        )
        SELECT src, doc_id, min(depth) AS min_depth
        FROM reach
        GROUP BY src, doc_id
        ORDER BY src, doc_id""")),

    // ---- exact duplicated-substring spans (suffix-dedup, gram-merged) ----
    // The substring face of dedup: exact duplicated TEXT RUNS across
    // documents (boilerplate headers, licenses, templated paragraphs) —
    // the spans substring-level training-data dedup removes, where
    // doc-level passes (dedup_exact) and near-dup passes (minhash) keep
    // the whole document. Every [[DupSpanK]]-token gram that occurs in
    // ≥2 distinct docs marks its start position; per doc, marked starts
    // merge into maximal spans (a gram extends the current span iff it
    // starts within K of the previous start — adjacent-or-overlapping).
    //
    // Scale: grams are hashed scan-side (the 32-hex digest rides the
    // shuffle, never the gram text), the dup decision is one partial-agg
    // groupBy over (gram, doc) cardinality, the position join keys on
    // the digest, and the run-merge window partitions by doc_id — per-doc
    // frames, the bounded-window shape chunk_documents uses. Everything
    // is linear in corpus token count; no pairwise anything.
    GraftQuery(
      "dup_spans",
      (s, dir) => dupSpans(s, dir)
        .orderBy("doc_id", "span_start"),
      Some(s"""
        WITH $sqlDupSpans
        SELECT doc_id, span_start, span_end, span_tokens, n_grams
        FROM spans
        ORDER BY doc_id, span_start""")),

    // ---- apply the spans: substring-deduplicated corpus ------------------
    // The materialization step: every token covered by a duplicated span
    // is dropped and the survivors are rejoined — the corpus a
    // substring-dedup pipeline actually trains on. The span list per doc
    // is small (grouped spans, not grams), so the apply step is one
    // broadcast-friendly join of docs against their span lists and a
    // per-row index-filter over the token array; no token-level shuffle.
    GraftQuery(
      "strip_dup_spans",
      (s, dir) => {
        val spanLists = dupSpans(s, dir)
          .groupBy("doc_id")
          .agg(collect_list(struct(col("span_start"), col("span_end")))
            .as("spans"))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            split(coalesce(col("text"), lit("")), " ").as("toks"))
          .join(spanLists, Seq("doc_id"), "left")
          .withColumn("spans", coalesce(col("spans"),
            array().cast("array<struct<span_start:int,span_end:int>>")))
          .withColumn("kept", expr(
            """filter(toks, (t, i) ->
                 NOT exists(spans, sp ->
                   i >= sp.span_start AND i <= sp.span_end))"""))
          .select(col("doc_id"),
            size(col("toks")).as("n_tokens"),
            (size(col("toks")) - size(col("kept"))).as("n_removed"),
            concat_ws(" ", col("kept")).as("clean_text"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH $sqlDupSpans,
        cov AS (SELECT DISTINCT doc_id,
                       unnest(range(span_start, span_end + 1)) AS pos
                FROM spans),
        tk AS (SELECT doc_id,
                      unnest(range(0, len(toks))) AS pos,
                      unnest(toks) AS tok
               FROM d),
        kept AS (SELECT t.doc_id, t.pos, t.tok
                 FROM tk t LEFT JOIN cov c
                   ON t.doc_id = c.doc_id AND t.pos = c.pos
                 WHERE c.pos IS NULL),
        agg AS (SELECT doc_id, count(*) AS n_kept,
                       array_to_string(list(tok ORDER BY pos), ' ') AS clean
                FROM kept GROUP BY 1)
        SELECT d.doc_id,
               CAST(len(d.toks) AS INT) AS n_tokens,
               CAST(len(d.toks) - coalesce(a.n_kept, 0) AS INT) AS n_removed,
               coalesce(a.clean, '') AS clean_text
        FROM d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id""")),

    // ---- substring-dedup monitoring: duplicated-token rate per source ----
    // The rollup a dedup pipeline alerts on: which sources are shipping
    // boilerplate (docs_affected, and dup tokens as an exact floor-ppm of
    // the source's token mass). Sits on [[dupSpans]]; the extra cost over
    // dup_spans is one per-doc agg and a |sources|-row rollup.
    GraftQuery(
      "dup_span_rate_by_source",
      (s, dir) => {
        val perDoc = dupSpans(s, dir).groupBy("doc_id")
          .agg(sum("span_tokens").as("dup_toks"))
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            size(split(coalesce(col("text"), lit("")), " "))
              .cast(LongType).as("n_toks"))
          .join(perDoc, Seq("doc_id"), "left")
          .withColumn("dup_toks", coalesce(col("dup_toks"), lit(0L)))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("dup_toks") > 0, 1L).otherwise(0L)).as("docs_affected"),
            sum("n_toks").as("n_tokens"),
            sum("dup_toks").as("dup_tokens"))
          .withColumn("dup_ppm", expr(
            "CAST(CAST(dup_tokens AS DECIMAL(38,0)) * 1000000 DIV n_tokens AS BIGINT)"))
          .orderBy("source")
      },
      Some(s"""
        WITH $sqlDupSpans,
        pd AS (SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup_toks
               FROM spans GROUP BY 1),
        dd AS (SELECT doc_id, source,
                      CAST(len(string_split(coalesce(text, ''), ' '))
                        AS BIGINT) AS n_toks
               FROM documents),
        j AS (SELECT dd.source, dd.n_toks,
                     coalesce(pd.dup_toks, 0) AS dup_toks
              FROM dd LEFT JOIN pd USING (doc_id))
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN dup_toks > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS docs_affected,
               CAST(sum(n_toks) AS BIGINT) AS n_tokens,
               CAST(sum(dup_toks) AS BIGINT) AS dup_tokens,
               CAST(CAST(sum(dup_toks) AS HUGEINT) * 1000000 // sum(n_toks)
                 AS BIGINT) AS dup_ppm
        FROM j GROUP BY 1
        ORDER BY source""")),

    // ---- shingle novelty: how much of each doc the corpus already has ----
    // The data-VALUE readout dedup thresholds can't give: a document can
    // be nobody's near-duplicate yet contribute almost nothing new —
    // every 3-gram it contains already appeared in earlier documents
    // (boilerplate recombination, the failure mode trillion-token crawls
    // meter before paying to train on an increment). Per doc: distinct
    // 3-gram shingles, how many were first seen in an EARLIER doc_id
    // (ingestion order = doc_id, the same convention delta_dedup keys
    // on), and the novel fraction in ppm. Docs under 3 tokens (and
    // null-text docs) have no shingles: kept with zero counts and NULL
    // novelty, identically in both engines.
    //
    // Scale: one shingle shuffle for the min-doc_id posting heads
    // (partial min absorbs hot shingles — no cap needed; the GROUP BY
    // collapses any degeneracy), one join of the per-doc distinct
    // shingles back onto those heads keyed on the shingle text (the
    // vocabulary is corpus-sized by construction, so it is never
    // broadcast), then a per-doc rollup. Same shape as rare_token_rate,
    // at shingle instead of token granularity.
    GraftQuery(
      "shingle_novelty",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val ex = shingled(docs)
          .select(col("doc_id"), explode(col("grams")).as("gram"))
        val firstSeen = ex.groupBy("gram").agg(min("doc_id").as("first_id"))
        val perDoc = ex.join(firstSeen, "gram")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("first_id") < col("doc_id"), 1L).otherwise(0L))
              .as("n_seen_before"))
        docs.select("doc_id")
          .join(perDoc, Seq("doc_id"), "left")
          .withColumn("n_shingles", coalesce(col("n_shingles"), lit(0L)))
          .withColumn("n_seen_before", coalesce(col("n_seen_before"), lit(0L)))
          .withColumn("novelty_ppm", expr(
            """CASE WHEN n_shingles > 0 THEN
                 CAST((n_shingles - n_seen_before) * 1000000
                      DIV n_shingles AS BIGINT) END"""))
          .orderBy("doc_id")
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') toks
                   FROM documents),
        sh AS (SELECT doc_id,
                 CASE WHEN len(toks) >= 3 THEN
                   list_distinct(list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END grams
               FROM t),
        ex AS (SELECT doc_id, unnest(grams) gram FROM sh),
        fs AS (SELECT gram, min(doc_id) AS first_id FROM ex GROUP BY 1),
        pd AS (SELECT ex.doc_id, count(*) AS n_shingles,
                      sum(CASE WHEN fs.first_id < ex.doc_id
                               THEN 1 ELSE 0 END) AS n_seen
               FROM ex JOIN fs USING (gram) GROUP BY 1)
        SELECT d.doc_id,
               CAST(coalesce(pd.n_shingles, 0) AS BIGINT) AS n_shingles,
               CAST(coalesce(pd.n_seen, 0) AS BIGINT) AS n_seen_before,
               CASE WHEN coalesce(pd.n_shingles, 0) > 0 THEN
                 CAST((pd.n_shingles - pd.n_seen) * 1000000
                      // pd.n_shingles AS BIGINT) END AS novelty_ppm
        FROM documents d LEFT JOIN pd USING (doc_id)
        ORDER BY doc_id"""))
  )

  /** dup_reach hop bound — the UNION ALL recursion is depth-limited
    * because the symmetric graph is cyclic. */
  private val ReachDepth = 3

  /** dup_pagerank fixed-point: rank mass carried in units of 1e-9 (BIGINT
    * micro-nano units — overflow headroom: total mass ≈ PrScale regardless
    * of node count, and 85·mass ≪ Long.MaxValue), three damped iterations
    * unrolled into the plan. */
  private val PrScale = 1000000000L
  private val PrIters = 3

  /** Triangle counting + local clustering coefficient over the same
    * near-dup graph — the graph-pattern complement to dup_pagerank's
    * spectral view: a high-coefficient node sits inside a dense clone
    * CLIQUE (one boilerplate family), a high-degree low-coefficient node
    * is a hub stitching unrelated documents (a template shared across
    * sources). Together they separate "one family of copies" from
    * "systemic boilerplate" before choosing a dedup survivorship policy.
    *
    * Scale: the canonical two-join triangle enumeration over a<b-oriented
    * edges — each triangle (a<b<c) is produced exactly once as wedge
    * (a-b, b-c) confirmed by closing edge (a, c). Wedge volume is
    * Σ deg²; on THIS graph the LSH bucket caps bound per-node degree at
    * O(bands·cap), so wedges stay O(n·(bands·cap)²) — at web scale the
    * standard refinement (orient edges by total degree rather than id,
    * cutting wedges to O(edges^1.5)) drops in by replacing the orientation
    * key, same plan shape. Edges materialize once (eager localCheckpoint,
    * the dup_pagerank discipline) and feed the wedge join, the closing
    * semi-join, and the degree count. */
  private def dupTriangles(s: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(s, dir).select("doc_a", "doc_b")
      .repartition(s.sparkContext.defaultParallelism, col("doc_a"))
      .localCheckpoint(true)
    val deg = pairs.union(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .groupBy("doc_a").agg(count(lit(1)).as("degree"))
      .select(col("doc_a").as("doc_id"), col("degree"))
    val wedges = pairs.as("p1")
      .join(pairs.as("p2"), col("p1.doc_b") === col("p2.doc_a"))
      .select(col("p1.doc_a").as("a"), col("p1.doc_b").as("b"),
        col("p2.doc_b").as("c"))
    val tris = wedges.join(pairs,
        wedges("a") === pairs("doc_a") && wedges("c") === pairs("doc_b"),
        "left_semi")
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("doc_id"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .withColumn("clustering_coeff",
        when(col("degree") < 2, lit(0.0)).otherwise(
          round(col("triangles") * 2.0 / (col("degree") * (col("degree") - 1)), 4)))
      .orderBy("doc_id")
  }

  private def dupTrianglesOracleSql: String = s"""
        WITH ${minhashCtes()},
        pairs AS (SELECT doc_a, doc_b FROM mh_pairs),
        deg AS (SELECT doc_id, count(*) AS degree FROM (
                  SELECT doc_a AS doc_id FROM pairs
                  UNION ALL SELECT doc_b FROM pairs) GROUP BY doc_id),
        tris AS (SELECT p1.doc_a AS a, p1.doc_b AS b, p2.doc_b AS c
                 FROM pairs p1
                 JOIN pairs p2 ON p1.doc_b = p2.doc_a
                 WHERE EXISTS (SELECT 1 FROM pairs p3
                               WHERE p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b)),
        pern AS (SELECT doc_id, count(*) AS triangles FROM (
                   SELECT a AS doc_id FROM tris
                   UNION ALL SELECT b FROM tris
                   UNION ALL SELECT c FROM tris) GROUP BY doc_id)
        SELECT d.doc_id, d.degree,
               CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles,
               CASE WHEN d.degree < 2 THEN 0.0
                    ELSE round(coalesce(p.triangles, 0) * 2.0
                               / (d.degree * (d.degree - 1)), 4) END
                 AS clustering_coeff
        FROM deg d LEFT JOIN pern p USING (doc_id)
        ORDER BY d.doc_id"""

  /** Token-block width for block_dedup — 3 because the synthetic corpus'
    * ~31-word vocabulary needs short blocks to exhibit any repetition;
    * production corpora use ~50. */
  private val BlockTokens = 3

  /** Candidate SimHash pairs (with both fingerprints carried for the
    * hamming confirmation) — exposed so the scale-gate spec can count the
    * frame at every sf.
    *
    * Banding: band 0-3 = the four 16-bit chunks (pigeonhole: any pair
    * with ≤ 3 flipped bits shares a clean chunk), bands 4-9 = the six
    * ordered chunk pairs as 32-bit keys (a pair with ≥ 2 clean chunks is
    * caught even when its single-chunk buckets were capped — and at corpus
    * sizes ≫ 2^16 where every single-chunk bucket saturates, these are
    * the bands still doing selective work: collision odds 2^-32 per band).
    * Each (band, value) bucket is capped at MaxChunkBucket via a windowed
    * count over exactly the self-join key — the window's shuffle IS the
    * join's shuffle (one exchange, reused by both sides).
    *
    * The 8-byte fingerprint rides each exploded band row: joining the
    * signature frame back onto candidate pairs would re-derive the whole
    * SimHash subtree twice more (pure plan, no cache, renamed subtrees
    * don't share an exchange) — the same zero-join posture as
    * exactJaccardPairs. */
  private[graft] def simhashCandidates(
      spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{VectorExpressions => V}
    val withFp = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), V.simhash64(split(col("text"), " ")).as("fp"))
    hammingCandidates(withFp)
  }

  /** Capped banded-Hamming candidate generation over ANY `(doc_id, fp)`
    * frame of 64-bit fingerprints — the shared machinery behind
    * simhash_pairs (text) and phash_neardup (images). Bands 0-3 are the
    * four 16-bit chunks (pigeonhole: any pair within hamming ≤ 3 shares a
    * clean chunk), bands 4-9 the six ordered chunk pairs as 32-bit keys;
    * every (band, value) bucket is capped at [[MaxChunkBucket]] so
    * candidate volume is provably ≤ 10·(cap−1)/2·n (CandidateBoundSpec).
    * Output: (doc_a, doc_b, fpa, fpb), doc_a < doc_b, distinct. */
  private[operators] def hammingCandidates(withFp: DataFrame): DataFrame =
    hammingCandidatesImpl(withFp, None)

  /** Segment-aligned variant: `segCol` (e.g. a video frame index) is folded
    * into every band value, so only SAME-SEGMENT fingerprints can collide —
    * the positional alignment video_neardup's frame vote needs. Band values
    * stay < 2^32, so seg·2^33 keeps segments disjoint for any clip under
    * ~2^30 frames. Same per-bucket cap, same provably linear bound. */
  private[operators] def hammingCandidatesSeg(
      withFp: DataFrame, segCol: String): DataFrame =
    hammingCandidatesImpl(withFp, Some(segCol))

  private def hammingCandidatesImpl(
      withFp: DataFrame, seg: Option[String]): DataFrame = {
    def chunk(c: Int) =
      expr(s"CAST(shiftright(fp, ${c * 16}) & 65535 AS BIGINT)")
    val singles = (0 until 4).map(c => struct(lit(c).as("band"), chunk(c).as("v")))
    val pairs = simhashPairBands.zipWithIndex.map { case ((ci, cj), k) =>
      struct(lit(4 + k).as("band"), (chunk(ci) + chunk(cj) * lit(65536L)).as("v"))
    }
    val keep = Seq(col("doc_id"), col("fp")) ++ seg.map(col).toSeq
    val vExpr = seg.map(sc => col("p.v") + col(sc).cast("long") * lit(1L << 33))
      .getOrElse(col("p.v"))
    val bands = withFp.select(keep :+ explode(array(singles ++ pairs: _*)).as("p"): _*)
      .select(col("doc_id"), col("fp"), col("p.band").as("band"), vExpr.as("v"))
    // NOTE (r13 optimization round): a REPARTITION_BY_NUM pin on (band,v)
    // — the exactJaccardPairs fix for AQE's byte-based under-coalescing —
    // was MEASURED HERE and reverted: the banded family came back 40%
    // slower with the pin (6.3 s → 8.8 s for the seven phash/simhash
    // consumers at sf0.1), because AQE's runtime re-planning of the
    // capped self-join is worth more than the parallelism floor on this
    // shape. Don't re-add it without a fresh A/B.
    val capped = bands
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "v")))
      .filter(col("bsz") <= MaxChunkBucket)
      .select("doc_id", "fp", "band", "v")
    capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.fp").as("fpa"), col("y.fp").as("fpb"))
      .distinct()
  }

  /** The six unordered chunk-index pairs backing bands 4-9, shared by the
    * Spark plan and the SQL oracle so band numbering stays identical. */
  private[graft] val simhashPairBands: Seq[(Int, Int)] =
    for { i <- 0 until 4; j <- (i + 1) until 4 } yield (i, j)

  /** `(doc_id, split)` under hash_split's exact md5-nibble 80/10/10 rule
    * applied to doc_id — ONE definition shared by split_leakage (the
    * report) and split_repair (the fix). A drifted copy here would make
    * the repaired corpus disagree with the reported splits while the
    * cluster-consistency test still passed. */
  private[operators] def docSplits(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), splitOf(col("doc_id")).as("split"))

  /** hash_split's exact md5-nibble 80/10/10 rule as a pure COLUMN
    * expression of the id — the split is a deterministic function of
    * doc_id, so consumers that need "the split of this key" attach it as
    * a projection instead of joining a splits frame (each such join cost
    * a corpus-wide shuffle or broadcast for a value computable in place —
    * guide §2.4 remove shuffles outright). `conv(hex, 16, 10)` of the
    * first three digest nibbles is bit-identical to the nib()*256 + … *16
    * + … arithmetic the SQL oracles spell out. */
  private[graft] def splitOf(id: Column): Column = {
    val h = md5(to_binary(id.cast(StringType), lit("utf-8")))
    val bucket = (conv(substring(h, 1, 3), 16, 10).cast(IntegerType) % 100)
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  /** CTE `sp(doc_id, split)` mirroring [[docSplits]]. */
  private[operators] val sqlDocSplits = """
        sp AS (
          SELECT doc_id,
                 CASE WHEN bucket < 80 THEN 'train'
                      WHEN bucket < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM (
            SELECT doc_id,
                   ((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 256
                  + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1)) % 100
                     AS bucket
            FROM documents))"""

  /** dup_spans: token-gram width — a duplicated run must be at least this
    * many tokens long to register (the substring-dedup match length).
    * Shared with the eval-decontamination span family (Curation). */
  private[operators] val DupSpanK = 8

  /** Per-doc [[DupSpanK]]-token gram start positions over a `(doc_id,
    * text)` frame, the gram carried as its xxhash64 digest — an 8-byte
    * long rides every downstream join/shuffle/broadcast, never the gram
    * text. Formerly md5: the hex digest was a 32-CHAR string per gram
    * (4× the shuffle bytes — guide §2.3 narrower types) and MessageDigest
    * + hex-encode per gram dominated the scan (guide §1.2 per-task work);
    * xxhash64 is the engine's own codegen'd hash. Downstream only ever
    * equi-joins on the digest (positions are the output), so the digest
    * width is a collision-probability knob, not a semantic one: 64 bits
    * is collision-safe to ~10^8 grams per corpus slice (p < 1e-3); a
    * >10^9-gram production slice should widen to a 2×64-bit struct key.
    * Shared by [[dupSpans]] (within-corpus duplication) and Curation's
    * decontaminate_spans family (eval-overlap excision).
    *
    * Shape (round 14): explode the START RANGE first, hash in the
    * downstream projection — the exactJaccardPairs discipline. The former
    * `transform(sequence(...), i -> xxhash64(...))` evaluated the hash
    * inside a lambda, which drops the whole expression to interpreted
    * eval per gram (the exact trap exactJaccardPairs' comment documents);
    * explode-then-hash keeps xxhash64 a codegen'd column op in the same
    * WholeStageCodegen span as the Generate. Rows are identical: one
    * (doc_id, start, g) per gram start. */
  private[operators] def gramStarts(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(col("doc_id"),
        split(coalesce(col("text"), lit("")), " ").as("toks"))
      .select(col("doc_id"), col("toks"), explode(expr(
        s"""CASE WHEN size(toks) >= $k
             THEN sequence(0, size(toks) - $k)
             ELSE array() END""")).as("start"))
      .select(col("doc_id"), col("start"),
        expr(s"xxhash64(concat_ws(' ', slice(toks, start + 1, $k)))").as("g"))

  /** RAW [[DupSpanK]]-token gram texts of a text column — the collected
    * form web_pipeline ships in its task closure (an eval set is a tiny
    * external artifact; raw text beats digests when the probe side
    * hashes nothing). */
  private[operators] def gramTexts(textCol: String): Column = expr(
    s"""CASE WHEN size(split(coalesce($textCol, ''), ' ')) >= $DupSpanK
         THEN transform(
                sequence(0, size(split(coalesce($textCol, ''), ' ')) - $DupSpanK),
                i -> concat_ws(' ',
                       slice(split(coalesce($textCol, ''), ' '), i + 1, $DupSpanK)))
         ELSE CAST(array() AS ARRAY<STRING>) END""")

  /** In-row merged leaked-span token mass of `text` against an eval gram
    * set: the Scala twin of [[mergeSpans]] for the scan-side case where
    * the span can never cross the row (web_pipeline's per-page leak
    * feature). A marked start within [[DupSpanK]] of the previous mark
    * extends the span (contributing the gap), otherwise opens a new one
    * (contributing K) — the same run-merge rule, linear in token count. */
  private[operators] def leakTokens(text: String, evalGrams: Set[String]): Long = {
    if (evalGrams.isEmpty) return 0L
    val toks = text.split(" ", -1)
    val k = DupSpanK
    if (toks.length < k) return 0L
    var leak = 0L
    var prev = -1
    var i = 0
    while (i + k <= toks.length) {
      val gram = toks.slice(i, i + k).mkString(" ")
      if (evalGrams.contains(gram)) {
        leak += (if (prev >= 0 && i <= prev + k) (i - prev).toLong else k.toLong)
        prev = i
      }
      i += 1
    }
    leak
  }

  /** Merge marked gram starts `(doc_id, start)` into maximal spans
    * `(doc_id, span_start, span_end, span_tokens, n_grams)`: a gram
    * extends the current span iff it starts within k of the previous
    * start (adjacent-or-overlapping). The run-merge window partitions
    * per doc — per-doc frames, the bounded-window shape chunk_documents
    * uses. WHAT marks a start is the caller's policy: ≥2-doc corpus
    * multiplicity ([[dupSpans]]) or eval-set membership
    * (decontaminate_spans). */
  private[operators] def mergeSpans(marked: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("start")
    marked
      .withColumn("brk", when(col("start") >
        lag("start", 1).over(w) + k, 1)
        .when(lag("start", 1).over(w).isNull, 1).otherwise(0))
      .withColumn("span_id", sum("brk").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "span_id")
      .agg(min("start").as("span_start"),
        (max("start") + k - 1).as("span_end"),
        (max("start") - min("start") + k).as("span_tokens"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_end", "span_tokens", "n_grams")
  }

  /** `(doc_id, span_start, span_end, span_tokens, n_grams)` — maximal
    * per-doc runs of [[DupSpanK]]-token grams that occur in ≥2 distinct
    * documents. Shared by dup_spans (report) and strip_dup_spans (apply). */
  private[graft] def dupSpans(s: SparkSession, dir: String): DataFrame = {
    val g = gramStarts(Tables.documents(s, dir), DupSpanK)
    // "occurs in ≥2 DISTINCT docs" ⟺ min(doc_id) ≠ max(doc_id) within the
    // gram's partition — ONE window exchange on the digest marks every
    // start row directly. The former distinct→groupBy→filter→join chain
    // spent three exchanges (distinct by (g,doc), count by g, join back
    // by g) re-deriving the same membership; guide §2.4 (remove shuffles
    // outright / share one exchange). Rows emitted are identical: every
    // start of a multi-doc gram, including repeats within one doc.
    val byG = org.apache.spark.sql.expressions.Window.partitionBy("g")
    val marked = g
      .withColumn("mn", min("doc_id").over(byG))
      .withColumn("mx", max("doc_id").over(byG))
      .filter(col("mn") =!= col("mx"))
      .select("doc_id", "start")
    mergeSpans(marked, DupSpanK)
  }

  /** Oracle CTE chain `d(doc_id, toks)` / `gx` / `g(doc_id, start, gram)`
    * mirroring [[gramStarts]] over the documents table — the oracle keeps
    * the raw gram text where Spark carries its md5 (identical grouping
    * short of a 2^-128 digest collision). Shared with Curation's
    * decontaminate_spans family. */
  private[operators] val sqlGramScan = s"""
        d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
              FROM documents),
        gx AS (SELECT doc_id, toks,
                      unnest(range(0, greatest(len(toks) - $DupSpanK + 1, 0)))
                        AS start
               FROM d),
        g AS (SELECT doc_id, CAST(start AS INT) AS start,
                     array_to_string(
                       list_slice(toks, start + 1, start + $DupSpanK), ' ')
                       AS gram
              FROM gx)"""

  /** Oracle run-merge tail mirroring [[mergeSpans]]: expects a CTE
    * `m(doc_id, start)` of marked gram starts and ends in `spans(doc_id,
    * span_start, span_end, span_tokens, n_grams)`. */
  private[operators] val sqlSpanTail = s"""
        r AS (SELECT doc_id, start,
                     CASE WHEN lag(start) OVER w IS NULL
                            OR start > lag(start) OVER w + $DupSpanK
                          THEN 1 ELSE 0 END AS brk
              FROM m
              WINDOW w AS (PARTITION BY doc_id ORDER BY start)),
        sp AS (SELECT doc_id, start,
                      sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS span_id
               FROM r),
        spans AS (SELECT doc_id,
                         CAST(min(start) AS INT) AS span_start,
                         CAST(max(start) + $DupSpanK - 1 AS INT) AS span_end,
                         CAST(max(start) - min(start) + $DupSpanK AS INT)
                           AS span_tokens,
                         count(*) AS n_grams
                  FROM sp GROUP BY doc_id, span_id)"""

  /** CTE chain ending in `d(doc_id, toks)` and `spans(...)` mirroring
    * [[dupSpans]]: the gram scan, the ≥2-distinct-doc multiplicity mark,
    * and the shared run-merge tail. */
  private val sqlDupSpans = s"""
        $sqlGramScan,
        dup AS (SELECT gram
                FROM (SELECT gram, count(DISTINCT doc_id) AS nd
                      FROM g GROUP BY 1)
                WHERE nd >= 2),
        m AS (SELECT doc_id, start FROM g JOIN dup USING (gram)),
        $sqlSpanTail"""
}
