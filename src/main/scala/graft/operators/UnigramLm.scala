package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftQuery, Tables, TrainedState}

/** Unigram-LM (SentencePiece-style) subword tokenizer — the second
  * tokenizer family next to TextAnalysis' BPE, per the round-7 roadmap.
  *
  * Training is the standard unigram recipe, made engine-exact so the
  * whole pipeline (seeding, EM, pruning, encoding) is hash-checked
  * against a DuckDB replay:
  *
  *  1. SEED: candidate pieces = every ≤[[MaxPiece]]-codepoint substring
  *     of every corpus word, weighted by word frequency; the vocabulary
  *     starts as ALL single codepoints (keeps encoding total) plus the
  *     top [[SeedMulti]] multi-codepoint candidates.
  *  2. EM ([[EmRounds]] hard-EM rounds): E-step Viterbi-segments every
  *     distinct word under the current piece scores (log-probabilities
  *     rounded to 6 decimals — the bigram-LM discipline that makes ln()
  *     cross-engine comparable); M-step recounts piece usage over the
  *     segmentations (weighted by word frequency) with +1 smoothing so
  *     zero-usage pieces keep a finite score. Hard EM (Viterbi counts,
  *     not forward-backward expectations) is the variant whose counts
  *     are integers, i.e. the variant an independent engine can replay
  *     bit-for-bit.
  *  3. PRUNE: keep all single codepoints + the top [[VocabMulti]]
  *     multi-codepoint pieces by final usage; re-normalize scores.
  *  4. ENCODE: Viterbi with the final scores.
  *
  * Viterbi determinism: at every position the best candidate maximizes
  * the composite integer key `(score + 10^13)·524288 + (65536 − pieces)·8
  * + len` — lexicographically (total score desc, piece count asc, last
  * piece longer first) with NO floating or engine-private comparison, so
  * both engines take identical paths through exact ties. The DuckDB
  * oracle replays the DP with a recursive CTE carrying the dp arrays as
  * lists and the same key arithmetic (branch-free argmax via list_max,
  * then the choice decoded from the key's low bits — list_reduce with
  * accumulator-dependent CASE is a known DuckDB 1.0 hazard, adv_sweep).
  *
  * Scale design: the E-step segments DISTINCT words (weighted by count),
  * not token instances — on a 100 TB corpus the distinct-word frame is
  * orders of magnitude smaller than the corpus and the per-round shuffle
  * carries (piece, count) pairs only. Driver collects are bounded by the
  * vocabulary size (≤ alphabet + [[SeedMulti]] rows per round), the same
  * contract as bpeTrain — both consumers are in
  * SparkEntry.actionfulQueries. Encoding is one scan with a broadcast
  * score map and a per-partition word→segmentation memo (the corpus'
  * word reuse makes the Viterbi amortize to ~once per distinct word per
  * partition).
  */
object UnigramLm {

  /** Longest candidate piece, in codepoints. */
  val MaxPiece = 4
  /** Multi-codepoint candidates seeded into round 1. */
  val SeedMulti = 48
  /** Multi-codepoint pieces kept after the final prune. */
  val VocabMulti = 32
  /** Hard-EM rounds (fixed, so the oracle is a bounded CTE unroll). */
  val EmRounds = 2

  /** Longest word (codepoints) that participates in training statistics
    * and gets a Viterbi segmentation; longer blobs (the hostile corpus
    * ships a 50 000-codepoint "word") are excluded from training — the
    * SentencePiece max-sentence-length discipline: degenerate blobs are
    * not language and would dominate the substring counts — and encode
    * as single codepoints (the byte-fallback analog). Also what BOUNDS
    * the oracle: the recursive-CTE Viterbi's depth is the longest
    * participating word. */
  val MaxWordLen = 64

  // Composite Viterbi key: (s + Big)·A + (NpCap − np)·8 + j. Bounds:
  // |score| ≤ ~25·10^6 per piece (ln of any positive ratio of ≤ 2^63
  // counts, ×10^6) and ≤ 65 535 pieces per word ⇒ |s| < 1.7·10^12 < Big;
  // max key ≈ Big·A ≈ 5.2·10^18 < Long.MaxValue. np ≥ 1 at every
  // position, so (NpCap − np)·8 + 4 < A and the fields never collide.
  private val Big = 10000000000000L // 10^13
  private val NpCap = 65536L
  private val A = NpCap * 8 // 524288

  /** Codepoint-wise split (the adv_sweep discipline: DuckDB substring
    * walks codepoints, so UTF-16 surrogate pairs must stay atomic). */
  private[graft] def cps(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** UTF-8 byte comparison — Spark's UTF8String / DuckDB's default
    * collation order, which java.lang.String.compareTo (UTF-16 units)
    * disagrees with above the BMP. Driver-side sorts must use this. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8")
    val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Piece scores from smoothed counts: round(ln(cnt/total)·10^6) — the
    * 6-decimal ln rounding both engines agree on (bigram-LM precedent).
    * HALF_UP = away-from-zero on ties, matching SQL round(). */
  private def mkScores(cnts: Map[String, Long]): Map[String, Long] = {
    val total = cnts.valuesIterator.sum.toDouble
    cnts.map { case (p, c) =>
      p -> java.math.BigDecimal.valueOf(math.log(c / total) * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    }
  }

  /** Viterbi segmentation of one word (as codepoints) under `sc`,
    * maximizing the composite key at every position (see object doc). */
  private[graft] def viterbi(
      word: Array[String], sc: collection.Map[String, Long]): List[String] = {
    val n = word.length
    val dpS = new Array[Long](n + 1)
    val dpN = new Array[Long](n + 1)
    val bl = new Array[Int](n + 1)
    var p = 1
    while (p <= n) {
      var bestK = Long.MinValue
      val jmax = math.min(MaxPiece, p)
      var j = 1
      while (j <= jmax) {
        val sb = new java.lang.StringBuilder
        var q = p - j
        while (q < p) { sb.append(word(q)); q += 1 }
        sc.get(sb.toString) match {
          case Some(s) =>
            val k = (dpS(p - j) + s + Big) * A + (NpCap - (dpN(p - j) + 1)) * 8 + j
            if (k > bestK) bestK = k
          case None =>
        }
        j += 1
      }
      require(bestK != Long.MinValue,
        s"unigram vocabulary misses a codepoint of '${word.mkString}'")
      dpS(p) = bestK / A - Big
      dpN(p) = NpCap - (bestK % A) / 8
      bl(p) = (bestK % 8).toInt
      p += 1
    }
    var pos = n
    var acc = List.empty[String]
    while (pos > 0) {
      val j = bl(pos)
      acc = word.slice(pos - j, pos).mkString :: acc
      pos -= j
    }
    acc
  }

  /** Distinct corpus words with occurrence counts — the E-step frame.
    * Empty tokens (doubled spaces) drop in both engines; over-length
    * blobs are excluded from training per [[MaxWordLen]] (Spark length()
    * and DuckDB length() both count codepoints). */
  private def wordCounts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= MaxWordLen)
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** Encode one word under the final scores: Viterbi within
    * [[MaxWordLen]], single-codepoint fallback beyond it. */
  private[graft] def encodeWord(w: String, sc: collection.Map[String, Long]): List[String] = {
    val a = cps(w)
    if (a.length <= MaxWordLen) viterbi(a, sc) else a.toList
  }

  /** One E-step: piece usage counts under `scores`, weighted by word
    * frequency. Returns ≤ |vocab| rows to the driver. */
  private def usageCounts(s: SparkSession, wc: DataFrame,
      scores: Map[String, Long]): Map[String, Long] = {
    import s.implicits._
    val b = s.sparkContext.broadcast(scores)
    wc.as[(String, Long)]
      .flatMap { case (w, c) => viterbi(cps(w), b.value).map(p => (p, c)) }
      .toDF("piece", "c")
      .groupBy("piece").agg(sum("c").as("usage"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Trained tokenizer: (vocab table rows, final scores), once per corpus.
    * Vocab rows are (rank, piece, n_uses, score) ranked by
    * (count desc, piece UTF-8 asc). */
  private[graft] def train(s: SparkSession, dir: String)
      : (Seq[(Int, String, Long, Long)], Map[String, Long]) =
    TrainedState("unigram", s, dir, "documents")(trainUncached(s, dir))

  private def trainUncached(s: SparkSession, dir: String)
      : (Seq[(Int, String, Long, Long)], Map[String, Long]) = {
    import s.implicits._
    val wc = wordCounts(s, dir).cache()
    try {
      // seed: substring counts, distributed, with codepoint lengths
      val subs = wc.as[(String, Long)]
        .flatMap { case (w, c) =>
          val a = cps(w)
          for {
            st <- a.indices
            l <- 1 to math.min(MaxPiece, a.length - st)
          } yield (a.slice(st, st + l).mkString, l, c)
        }
        .toDF("piece", "cp_len", "c")
        .groupBy("piece", "cp_len").agg(sum("c").as("cnt"))
      val singles = subs.filter(col("cp_len") === 1)
        .select("piece", "cnt").collect()
        .map(r => r.getString(0) -> r.getLong(1))
      val multi = subs.filter(col("cp_len") > 1)
        .orderBy(col("cnt").desc, col("piece")).limit(SeedMulti)
        .select("piece", "cnt").collect()
        .map(r => r.getString(0) -> r.getLong(1))
      var cnts = (singles ++ multi).toMap
      var scores = mkScores(cnts)
      for (_ <- 1 to EmRounds) {
        val usage = usageCounts(s, wc, scores)
        cnts = cnts.map { case (p, _) => p -> (usage.getOrElse(p, 0L) + 1L) }
        scores = mkScores(cnts)
      }
      // prune: all singles + top VocabMulti multi by (cnt desc, piece asc)
      val isSingle = cnts.keySet.filter(p => cps(p).length == 1)
      val keptMulti = cnts.toSeq.filter(kv => !isSingle(kv._1))
        .sortWith { case ((pa, ca), (pb, cb)) =>
          if (ca != cb) ca > cb else utf8Lt(pa, pb)
        }
        .take(VocabMulti)
      val fin = cnts.filter(kv => isSingle(kv._1)) ++ keptMulti
      val finScores = mkScores(fin)
      val table = fin.toSeq
        .sortWith { case ((pa, ca), (pb, cb)) =>
          if (ca != cb) ca > cb else utf8Lt(pa, pb)
        }
        .zipWithIndex
        .map { case ((p, c), i) => (i + 1, p, c, finScores(p)) }
      (table, finScores)
    } finally wc.unpersist(blocking = false)
  }

  // --------------------------------------------------------------- oracle

  /** Generates the u-prefixed DuckDB CTE chain mirroring [[train]]: seed
    * counts → EM rounds (each a recursive-CTE Viterbi + usage recount) →
    * final prune. Ends with `uvf(piece, cnt, sc)` and, when
    * `withEncode`, `usegf${EmRounds}f`-style final segmentations plus
    * `ue(doc_id, np, enc)` per-document encodings. Emitted WITHOUT the
    * leading WITH so callers can splice it after other chains. */
  private def uniCtes(withEncode: Boolean): String = {
    // one Viterbi forward pass + backtrace over the distinct words under
    // the score map `uvm$tag`, yielding usegf$tag(w, c, pieces)
    def viterbiCtes(tag: String): String = s"""
        uvit$tag AS (
          SELECT w, c, 0 AS pos, [CAST(0 AS BIGINT)] AS dps,
                 [0] AS nps, CAST([] AS INT[]) AS bls
          FROM uwc
          UNION ALL
          SELECT w, c, pos + 1,
                 list_append(dps, bestK // $A - $Big),
                 list_append(nps, CAST($NpCap - (bestK % $A) // 8 AS INT)),
                 list_append(bls, CAST(bestK % 8 AS INT))
          FROM (
            SELECT w, c, pos, dps, nps, bls,
              list_max(list_transform(range(1, ${MaxPiece + 1}), j ->
                CASE WHEN j <= pos + 1
                      AND map_extract(m, substring(w, pos + 2 - j, j))[1]
                          IS NOT NULL
                     THEN (dps[pos + 2 - j]
                           + map_extract(m, substring(w, pos + 2 - j, j))[1]
                           + $Big) * $A
                          + ($NpCap - (nps[pos + 2 - j] + 1)) * 8 + j
                     ELSE NULL END)) AS bestK
            FROM uvit$tag, uvm$tag
            WHERE pos < length(w))),
        useg$tag AS (
          SELECT w, c, length(w) AS pos, bls, CAST([] AS VARCHAR[]) AS pieces
          FROM uvit$tag WHERE pos = length(w)
          UNION ALL
          SELECT w, c, pos - bls[pos], bls,
                 list_prepend(substring(w, pos - bls[pos] + 1, bls[pos]), pieces)
          FROM useg$tag WHERE pos > 0),
        usegf$tag AS MATERIALIZED (SELECT w, c, pieces FROM useg$tag WHERE pos = 0)"""

    val rounds = (0 until EmRounds).map { r => s"""
        uvm$r AS MATERIALIZED (SELECT map(coalesce(list(piece), []), coalesce(list(sc), [])) AS m FROM uv$r),
        ${viterbiCtes(r.toString)},
        uu$r AS MATERIALIZED (SELECT piece, sum(c) AS usage FROM (
                   SELECT c, unnest(pieces) AS piece FROM usegf$r)
                 GROUP BY 1),
        ucn${r + 1} AS MATERIALIZED (
          SELECT v.piece, coalesce(u.usage, 0) + 1 AS cnt
          FROM uv$r v LEFT JOIN uu$r u USING (piece)),
        uv${r + 1} AS MATERIALIZED (
          SELECT piece, CAST(round(ln(CAST(cnt AS DOUBLE)
            / (SELECT sum(cnt) FROM ucn${r + 1})) * 1000000) AS BIGINT) AS sc
          FROM ucn${r + 1})"""
    }.mkString(",")

    val encode = if (!withEncode) "" else s""",
        uvmf AS MATERIALIZED (SELECT map(coalesce(list(piece), []), coalesce(list(sc), [])) AS m FROM uvf),
        ${viterbiCtes("f")},
        ut AS MATERIALIZED (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
               FROM documents),
        udw AS MATERIALIZED (SELECT doc_id, i, toks[i] AS w
                FROM ut, UNNEST(range(1, len(toks) + 1)) u(i)
                WHERE toks[i] <> ''),
        upc AS MATERIALIZED (SELECT d.doc_id, d.i,
                 CASE WHEN length(d.w) <= $MaxWordLen THEN f.pieces
                      ELSE list_transform(range(1, length(d.w) + 1),
                             q -> substring(d.w, q, 1)) END AS pieces
               FROM udw d LEFT JOIN usegff f USING (w)),
        ue AS MATERIALIZED (SELECT doc_id,
                 sum(len(pieces)) AS np,
                 string_agg(array_to_string(pieces, ' '), ' ' ORDER BY i)
                   AS enc
               FROM upc
               GROUP BY 1)"""

    s"""
        uwc AS MATERIALIZED (
          SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w
            FROM documents)
          WHERE w <> '' AND length(w) <= $MaxWordLen GROUP BY w),
        usub0 AS (SELECT w, c, unnest(range(1, length(w) + 1)) AS st FROM uwc),
        usub1 AS (SELECT w, c, st, unnest(range(1, ${MaxPiece + 1})) AS l
                  FROM usub0),
        usub AS MATERIALIZED (SELECT substring(w, st, l) AS piece, sum(c) AS cnt
                 FROM usub1 WHERE st + l - 1 <= length(w) GROUP BY 1),
        useed AS MATERIALIZED (
          SELECT piece, cnt FROM usub WHERE length(piece) = 1
          UNION ALL
          (SELECT piece, cnt FROM usub WHERE length(piece) > 1
           ORDER BY cnt DESC, piece LIMIT $SeedMulti)),
        uv0 AS MATERIALIZED (
          SELECT piece, CAST(round(ln(CAST(cnt AS DOUBLE)
            / (SELECT sum(cnt) FROM useed)) * 1000000) AS BIGINT) AS sc
          FROM useed),
        $rounds,
        ufin AS MATERIALIZED (
          SELECT piece, cnt FROM ucn$EmRounds WHERE length(piece) = 1
          UNION ALL
          (SELECT piece, cnt FROM ucn$EmRounds WHERE length(piece) > 1
           ORDER BY cnt DESC, piece LIMIT $VocabMulti)),
        uvf AS MATERIALIZED (
          SELECT piece, cnt, CAST(round(ln(CAST(cnt AS DOUBLE)
            / (SELECT sum(cnt) FROM ufin)) * 1000000) AS BIGINT) AS sc
          FROM ufin)$encode"""
  }

  private def trainOracleSql: String = s"""
        WITH RECURSIVE ${uniCtes(withEncode = false)}
        SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS INT)
                 AS rank,
               piece, CAST(cnt AS BIGINT) AS n_uses, sc AS score
        FROM uvf
        ORDER BY rank"""

  private def encodeOracleSql: String = s"""
        WITH RECURSIVE ${uniCtes(withEncode = true)}
        SELECT t.doc_id,
               CAST(coalesce(ue.np, 0) AS BIGINT) AS n_pieces,
               coalesce(ue.enc, '') AS encoded
        FROM ut t LEFT JOIN ue USING (doc_id)
        ORDER BY doc_id"""

  private def compareOracleSql: String = s"""
        ${TextAnalysis.bpeSqlChain},${uniCtes(withEncode = true)},
        bt AS (SELECT doc_id, len(string_split(trim(s), ' ')) AS n_bpe
               FROM c${TextAnalysis.BpeRounds + 1})
        SELECT d.lang AS lang, count(*) AS n_docs,
               CAST(sum(length(coalesce(d.text, ''))) AS BIGINT) AS n_chars,
               CAST(coalesce(sum(bt.n_bpe), 0) AS BIGINT) AS bpe_tokens,
               CAST(coalesce(sum(ue.np), 0) AS BIGINT) AS uni_pieces,
               CASE WHEN coalesce(sum(length(coalesce(d.text, ''))), 0) = 0
                    THEN CAST(0 AS BIGINT)
                    ELSE CAST(CAST(coalesce(sum(bt.n_bpe), 0) AS HUGEINT)
                      * 1000000 // sum(length(coalesce(d.text, '')))
                      AS BIGINT) END AS bpe_ppm_chars,
               CASE WHEN coalesce(sum(length(coalesce(d.text, ''))), 0) = 0
                    THEN CAST(0 AS BIGINT)
                    ELSE CAST(CAST(coalesce(sum(ue.np), 0) AS HUGEINT)
                      * 1000000 // sum(length(coalesce(d.text, '')))
                      AS BIGINT) END AS uni_ppm_chars
        FROM documents d
        LEFT JOIN bt USING (doc_id)
        LEFT JOIN ue USING (doc_id)
        GROUP BY 1
        ORDER BY lang"""

  // -------------------------------------------------------------- queries

  def queries: Seq[GraftQuery] = Seq(

    // ---- unigram-LM training (oracle-checked end to end) -----------------
    // The trained vocabulary itself is the output: rank, piece, smoothed
    // final usage, and the 6-decimal log-probability score. The oracle
    // replays seeding, both hard-EM rounds (recursive-CTE Viterbi with
    // the identical composite-key argmax), the +1 smoothing, and the
    // prune — a drifted tie-break, smoothing constant, or rounding mode
    // hash-mismatches.
    GraftQuery(
      "unigram_train",
      (s, dir) => {
        import s.implicits._
        train(s, dir)._1.toDF("rank", "piece", "n_uses", "score")
          .orderBy("rank")
      },
      Some(trainOracleSql)),

    // ---- unigram Viterbi encoding of the corpus (oracle-checked) ---------
    // Every document re-segmented under the final vocabulary: piece count
    // and the full encoded string (word segmentations joined by spaces).
    // One corpus scan with a broadcast score map; the per-partition
    // word→segmentation memo amortizes the DP to ~once per distinct word.
    GraftQuery(
      "unigram_encode",
      (s, dir) => {
        import s.implicits._
        val scores = train(s, dir)._2
        val b = s.sparkContext.broadcast(scores)
        Tables.documents(s, dir)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
          .as[(Long, String)]
          .mapPartitions { it =>
            val memo = scala.collection.mutable.HashMap.empty[String, List[String]]
            it.map { case (id, text) =>
              val words = text.split(" ").filter(_.nonEmpty)
              val segs = words.map(w =>
                memo.getOrElseUpdate(w, encodeWord(w, b.value)))
              (id, segs.iterator.map(_.size.toLong).sum,
                segs.iterator.map(_.mkString(" ")).mkString(" "))
            }
          }
          .toDF("doc_id", "n_pieces", "encoded")
          .orderBy("doc_id")
      },
      Some(encodeOracleSql)),

    // ---- tokenizer family comparison: BPE vs unigram per language --------
    // The readout a tokenizer bake-off ends with: per language, how many
    // symbols each trained family spends per character (integer ppm —
    // exact). Extends tokenizer_parity's fairness lens across FAMILIES:
    // a language that BPE compresses well but unigram doesn't (or vice
    // versa) is exactly what this table surfaces. Both vocabularies are
    // the memoized trained artifacts; the oracle replays BOTH training
    // chains (the BPE rounds and the unigram EM) in one statement.
    GraftQuery(
      "tokenizer_compare",
      (s, dir) => {
        import s.implicits._
        val bpe = TextAnalysis.bpeTrain(s, dir)._2
          .withColumn("t", trim(col("s")))
          .select(col("doc_id"),
            size(split(col("t"), " ")).cast(LongType).as("n_bpe"))
        val scores = train(s, dir)._2
        val b = s.sparkContext.broadcast(scores)
        val uni = Tables.documents(s, dir)
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
          .as[(Long, String)]
          .mapPartitions { it =>
            val memo = scala.collection.mutable.HashMap.empty[String, Int]
            it.map { case (id, text) =>
              val words = text.split(" ").filter(_.nonEmpty)
              (id, words.iterator.map(w =>
                memo.getOrElseUpdate(w, encodeWord(w, b.value).size).toLong).sum)
            }
          }
          .toDF("doc_id", "n_uni")
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            length(coalesce(col("text"), lit(""))).cast(LongType).as("nc"))
          .join(bpe, Seq("doc_id"), "left_outer")
          .join(uni, Seq("doc_id"), "left_outer")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("nc").as("n_chars"),
            coalesce(sum("n_bpe"), lit(0L)).as("bpe_tokens"),
            coalesce(sum("n_uni"), lit(0L)).as("uni_pieces"))
          .withColumn("bpe_ppm_chars", expr(
            """CASE WHEN coalesce(n_chars, 0) = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST(CAST(bpe_tokens AS DECIMAL(38,0)) * 1000000
                           DIV n_chars AS BIGINT) END"""))
          .withColumn("uni_ppm_chars", expr(
            """CASE WHEN coalesce(n_chars, 0) = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST(CAST(uni_pieces AS DECIMAL(38,0)) * 1000000
                           DIV n_chars AS BIGINT) END"""))
          .orderBy("lang")
      },
      Some(compareOracleSql))
  )
}
