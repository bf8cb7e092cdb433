package graft

import org.apache.spark.sql.functions._

/** Batch operator specs over sf0.001: agg invariants, dedup cross-checks,
  * similarity recall, multimodal determinism. */
class OperatorSpec extends SparkSuite {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("plan construction is action-free (no Spark jobs) for every registered query") {
    // dedup_clusters is the one documented deviation: label propagation
    // must run per-round convergence checks (see its registration note)
    val (_, jobs) = withJobCount {
      SparkEntry.all
        .filterNot(q => SparkEntry.actionfulQueries(q.name))
        // force full physical planning, not just logical construction —
        // catches planning-time failures for every registered query, and
        // proves planning itself schedules nothing (AQE stays lazy)
        .foreach(q => q.plan(spark, sf).queryExecution.executedPlan)
    }
    assert(jobs == 0, s"a plan builder ran an action: $jobs job(s) started")
  }

  test("similarity top-k plans use TopKPerKeyExec, not a full per-query sort") {
    for (name <- Seq("cosine_topk", "ann_lsh_topk", "ann_ivf_topk")) {
      val plan = run(name).queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"), s"$name plan lacks TopKPerKeyExec")
    }
  }

  test("windowed_agg: invariants min<=avg<=max and counts sum to total") {
    val df = run("windowed_agg").cache()
    assert(df.filter(col("min_value") > col("avg_value") ||
      col("avg_value") > col("max_value")).count() == 0)
    val total = df.agg(sum("reading_count")).collect().head.getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("windowed_agg: rows on the minute boundary open the window (inclusive start)") {
    import spark.implicits._
    val df = Seq(("2024-01-01 10:00:00", 1.0), ("2024-01-01 10:00:59.999999", 2.0))
      .toDF("t", "value").select(to_timestamp($"t").as("ts"), $"value", lit("a").as("event_type"))
    val out = operators.WindowAgg.tumbling(df, "ts", Seq("event_type"), "value")
    val r = out.collect()
    assert(r.length == 1 && r.head.getAs[Long]("reading_count") == 2L)
    assert(r.head.getAs[java.sql.Timestamp]("window_start").toInstant.toString
      == "2024-01-01T10:00:00Z")
  }

  test("wordShingles tokenizes exactly like SQL split — trailing empties kept") {
    import spark.implicits._
    import graft.functions.{VectorExpressions => V}
    // "x y z " splits to [x, y, z, ''] in Spark SQL and DuckDB (limit -1
    // semantics) — the kernel must agree or every dedup oracle diverges
    // on the first trailing-space document
    val texts = Seq("x y z ", " x y z", "a b", "", "lone").toDF("text")
    val got = texts.select(V.wordShingles(col("text"), 3).as("k"),
      expr("""CASE WHEN size(split(text, ' ')) >= 3 THEN
                array_distinct(transform(sequence(1, size(split(text, ' ')) - 2),
                  i -> concat_ws(' ', element_at(split(text, ' '), i),
                                      element_at(split(text, ' '), i + 1),
                                      element_at(split(text, ' '), i + 2))))
              ELSE array() END""").as("sqlway")).collect()
    got.foreach { r =>
      assert(r.getSeq[String](0).toSet == r.getSeq[String](1).toSet,
        s"kernel ${r.getSeq[String](0)} != sql ${r.getSeq[String](1)}")
    }
  }

  test("termTfs kernel equals the per-term size(filter(...)) formulation") {
    import spark.implicits._
    import graft.functions.{VectorExpressions => V}
    val terms = Seq("spark", "table", "x")
    // trailing space: split(-1) keeps the empty token, so len counts it;
    // empty string splits to [''] (len 1, all tfs 0) in both formulations
    val texts = Seq("spark x spark table", "x y z ", "", "no hits here",
      "spark spark spark").toDF("text")
    val got = texts.select(
      V.termTfs(col("text"), terms).as("k"),
      expr(s"""array(${terms.map(t =>
          s"CAST(size(filter(split(text, ' '), x -> x = '$t')) AS BIGINT)")
        .mkString(", ")}, CAST(size(split(text, ' ')) AS BIGINT))""").as("sqlway"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"kernel ${r.getSeq[Long](0)} != sql ${r.getSeq[Long](1)}")
    }
  }

  test("dsir_weights: contaminated docs score more target-like than clean ones") {
    // docs flagged by decontaminate CONTAIN eval trigrams, so their
    // hashed-bigram distribution is closer to the target's — DSIR must
    // rank them above the clean remainder on average, or the importance
    // weight isn't measuring target-likeness at all
    val w = run("dsir_weights").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("logw")).toMap
    assert(w.values.forall(v => !v.isNaN && !v.isInfinite), "non-finite logw")
    val flagged = run("decontaminate").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("flagged"))
    val (cont, clean) = flagged.partition(_._2)
    assert(cont.nonEmpty && clean.nonEmpty, "contamination split is vacuous")
    // mean over the docs that HAVE a weight (sub-2-token docs emit none) —
    // dividing by the full group size would bias each group's mean by its
    // weightless-doc fraction
    def meanW(xs: Seq[(Long, Boolean)]) = {
      val ws = xs.flatMap(x => w.get(x._1))
      ws.sum / ws.size
    }
    assert(meanW(cont) > meanW(clean),
      s"contaminated mean ${meanW(cont)} <= clean mean ${meanW(clean)}")
  }

  test("quality_classifier: trained model separates both classes above chance") {
    // the averaged class-balanced perceptron must actually LEARN: a
    // degenerate all-accept or all-reject model (both failure modes
    // observed while tuning the update) scores one class at 0. Floors
    // are design-point, not tight: most of each class on the right side.
    val rows = run("quality_classifier").collect()
    val (pos, neg) = rows.partition(_.getAs[Int]("y") == 1)
    assert(pos.nonEmpty && neg.nonEmpty, "class split is vacuous")
    def acc(xs: Array[org.apache.spark.sql.Row]) =
      xs.count(r => r.getAs[Int]("pred") == r.getAs[Int]("y")).toDouble / xs.size
    assert(acc(pos) >= 0.8, s"target-class accuracy ${acc(pos)} < 0.8")
    // looser raw-class floor: at sf0.001 (500 docs, 256 hashed dims) the
    // measured raw accuracy is ~0.78 (0.92 at sf0.1) — the floor guards
    // against degeneracy, not a tuned operating point
    assert(acc(neg) >= 0.7, s"raw-class accuracy ${acc(neg)} < 0.7")
    // margins carry signal, not a constant sign
    val m = rows.map(_.getAs[Long]("margin"))
    assert(m.exists(_ > 0) && m.exists(_ < 0), "margins are one-sided")
  }

  test("minhash candidates: no false positives and >=80% recall vs exact jaccard") {
    val exact = run("ngram_jaccard").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = run("minhash_pairs").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(exact), "minhash produced a pair below the jaccard threshold")
    assert(mh.size >= exact.size * 8 / 10,
      s"recall too low: ${mh.size}/${exact.size}")
  }

  test("simhash pairs include the high-jaccard near-dups") {
    val exact = run("ngram_jaccard").filter(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = run("simhash_pairs").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = exact.intersect(sh)
    assert(found.size >= exact.size * 8 / 10,
      s"simhash missed near-dups: ${found.size}/${exact.size}")
  }

  test("ann_lsh_topk: uniform-data recall floor, scores are true cosines") {
    // The testdata embeddings are uniform random (max pairwise cos ≈ 0.5 at
    // this sf): the exact top-10 are near-orthogonal "neighbors", which is
    // the regime where sublinear ANN provably cannot be selective AND
    // complete. The 16-plane bank probes ~3-5% of the corpus per query and
    // lands ~22% of the exact top-10 here (deterministic bank — measured,
    // not tuned); the design-point guarantee lives in the planted-neighbor
    // test below, which this floor complements as regression tripwire.
    val exact = run("cosine_topk").select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = run("ann_lsh_topk").collect()
    val annPairs = ann.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    assert(annPairs.intersect(exact).size >= exact.size / 7,
      s"ANN recall too low: ${annPairs.intersect(exact).size}/${exact.size}")
  }

  test("ann_ivf_topk: recall better than blind nProbe/nCells sampling") {
    val exact = run("cosine_topk").select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = run("ann_ivf_topk").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
  }

  test("ann_trained_topk: trained-quantizer recall floor, well-formed ranking") {
    // the train → index → query composition must not be WORSE than the
    // label-mean quantizer's bar: probing 3 of 8 trained cells has to
    // beat blind sampling (3/8 of the corpus ⇒ expected recall 0.375
    // for a useless quantizer)
    val exact = run("cosine_topk").select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = run("ann_trained_topk").collect()
    val trained = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val recall = trained.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.4, s"trained-IVF recall too low: $recall")
    assert(rows.forall(r => r.getAs[Long]("qid") != r.getAs[Long]("vec_id")),
      "a query returned itself")
    val ranks = rows.groupBy(_.getAs[Long]("qid")).values
    assert(ranks.forall(_.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 10)))
  }

  test("dup_spans matches a brute-force substring-dedup reference; strip applies it") {
    val k = 8
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        Option(r.getString(1)).getOrElse("").split(" ", -1)).toMap
    val gramsOf = docs.map { case (id, toks) =>
      id -> (if (toks.length >= k)
        (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" "))
      else Seq.empty[String])
    }
    val docsPerGram = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    gramsOf.foreach { case (id, gs) =>
      gs.foreach(g => docsPerGram.getOrElseUpdate(g,
        scala.collection.mutable.Set.empty) += id)
    }
    val expect = gramsOf.flatMap { case (id, gs) =>
      val starts = gs.zipWithIndex.collect {
        case (g, i) if docsPerGram(g).size >= 2 => i }
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int, Int)]
      var cur: Option[(Int, Int, Int)] = None // start, lastStart, nGrams
      starts.foreach { p =>
        cur match {
          case Some((s0, last, n)) if p <= last + k => cur = Some((s0, p, n + 1))
          case Some((s0, last, n)) =>
            spans += ((id, s0, last + k - 1, n)); cur = Some((p, p, 1))
          case None => cur = Some((p, p, 1))
        }
      }
      cur.foreach { case (s0, last, n) => spans += ((id, s0, last + k - 1, n)) }
      spans
    }.toSet
    val got = run("dup_spans").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getAs[Long]("n_grams").toInt)).toSet
    assert(got == expect, s"span sets differ: got ${got.size}, expect ${expect.size}")
    assert(got.nonEmpty, "no duplicated spans at this sf — test degenerate")
    // strip_dup_spans must drop exactly the covered token positions
    val spansByDoc = got.groupBy(_._1)
    run("strip_dup_spans").collect().foreach { r =>
      val id = r.getLong(0)
      val sp = spansByDoc.getOrElse(id, Set.empty)
      val covered = sp.flatMap(t => t._2 to t._3)
      assert(r.getInt(2) == covered.size,
        s"doc $id: n_removed ${r.getInt(2)} != covered ${covered.size}")
      val expectClean = docs(id).zipWithIndex
        .filterNot(t => covered(t._2)).map(_._1).mkString(" ")
      assert(r.getString(3) == expectClean, s"doc $id: clean_text differs")
    }
  }

  test("prototypicality: deciles balanced per cell, rank ordered by distance") {
    val rows = run("prototypicality").collect()
    rows.groupBy(_.getAs[Int]("label")).values.foreach { rs =>
      // decile sizes differ by at most 1 (integer bucket arithmetic)
      val sizes = rs.groupBy(_.getAs[Int]("decile")).values.map(_.size)
      assert(sizes.max - sizes.min <= 1, s"deciles unbalanced: ${sizes.mkString(",")}")
      // rank order agrees with (dist_q, vec_id)
      val byRank = rs.sortBy(_.getAs[Long]("cell_rank"))
        .map(r => (r.getAs[Long]("dist_q"), r.getAs[Long]("vec_id")))
      assert(byRank.toSeq == byRank.sorted.toSeq, "cell_rank disagrees with distance order")
      assert(rs.forall(r =>
        r.getAs[Boolean]("drop_prototypical") == (r.getAs[Int]("decile") == 0)))
      assert(rs.forall(_.getAs[Long]("dist_q") >= 0L))
    }
  }

  test("wave-7 curation: gopher rules conjunct, terciles balanced, curve monotone") {
    val gr = run("gopher_rules").collect()
    val ruleCols = Seq("rule_word_count", "rule_mean_word_len",
      "rule_symbol_ratio", "rule_stopwords", "rule_alpha_words")
    gr.foreach { r =>
      val conj = ruleCols.forall(c => r.getAs[Boolean](c))
      assert(r.getAs[Boolean]("pass") == conj, "pass is not the rule conjunction")
    }
    assert(gr.exists(_.getAs[Boolean]("pass")) && gr.exists(!_.getAs[Boolean]("pass")),
      "rule battery degenerate: all docs on one side")
    // perplexity terciles: per lang, bucket sizes differ by at most 1
    run("perplexity_buckets").collect()
      .groupBy(_.getAs[String]("lang")).values.foreach { rs =>
        val sizes = rs.groupBy(_.getAs[String]("bucket")).values.map(_.size)
        assert(sizes.max - sizes.min <= 1,
          s"terciles unbalanced: ${sizes.mkString(",")}")
      }
    // threshold curve: non-increasing in the threshold; 0.5 row ties out
    // against ngram_jaccard's pair inventory
    val curve = run("dedup_threshold_curve").collect()
      .sortBy(_.getAs[Double]("threshold"))
    assert(curve.map(_.getAs[Long]("n_pairs")).sliding(2).forall(
      w => w.length < 2 || w(0) >= w(1)), "pair curve not monotone")
    assert(curve.head.getAs[Long]("n_pairs") ==
      run("ngram_jaccard").count(), "0.5 row != ngram_jaccard inventory")
  }

  test("mixture_order: dense permutation, per-source order kept, interleaved") {
    val rows = run("mixture_order").collect()
    // global_pos is a dense permutation 1..N
    val pos = rows.map(_.getAs[Long]("global_pos")).sorted
    assert(pos.toSeq == (1L to rows.length).toSeq, "global_pos not a permutation")
    // within each source, docs appear in src_rank order starting at 1
    rows.groupBy(_.getAs[String]("source")).values.foreach { rs =>
      val ranks = rs.sortBy(_.getAs[Long]("global_pos")).map(_.getAs[Long]("src_rank"))
      assert(ranks.head == 1L && ranks.toSeq == ranks.sorted.toSeq,
        "per-source rank order violated in the global sequence")
    }
    // weighted fair queueing actually interleaves: the head of the order
    // must mix many sources (each source's first doc has the smallest vt
    // of that source), not drain one source first
    val headSources = rows.filter(_.getAs[Long]("global_pos") <= 20)
      .map(_.getAs[String]("source")).distinct
    assert(headSources.length >= 10,
      s"head of the order drains single sources: ${headSources.length} distinct in first 20")
  }

  test("split_repair eliminates cross-split near-dup leakage by construction") {
    val newSplit = run("split_repair").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val pairs = run("minhash_pairs").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.nonEmpty, "no near-dup pairs at this sf — test degenerate")
    pairs.foreach { case (a, b) =>
      assert(newSplit(a) == newSplit(b),
        s"pair ($a,$b) still straddles splits: ${newSplit(a)} vs ${newSplit(b)}")
    }
    // non-vacuous: the repair must actually move some documents (the
    // split_leakage query is non-empty on this corpus)
    assert(newSplit.nonEmpty && run("split_leakage").collect().nonEmpty)
    val changed = run("split_repair").collect()
      .count(_.getAs[Boolean]("changed"))
    assert(changed > 0, "leakage exists but the repair moved nothing")
  }

  test("wave-5 analytics: PMI floors, KS bounds, Gini range, span-rate ties out") {
    val pmi = run("bigram_pmi").collect()
    assert(pmi.length == 25)
    pmi.foreach { r =>
      assert(r.getAs[Long]("c_xy") >= 5, "min-count floor violated")
      assert(r.getAs[Long]("c_xy") <= math.min(r.getAs[Long]("c_x"), r.getAs[Long]("c_y")),
        "a bigram outnumbers its own unigrams")
    }
    val ks = run("ks_drift").collect().head
    val d = ks.getAs[Double]("ks_d")
    assert(d >= 0.0 && d <= 1.0, s"KS distance out of range: $d")
    assert(ks.getAs[Long]("n_a") > 0 && ks.getAs[Long]("n_b") > 0)
    val gini = run("gini_concentration").collect().head
    val g = gini.getAs[Long]("gini_ppm")
    assert(g >= 0L && g < 1000000L, s"Gini out of range: $g")
    // dup_span_rate_by_source must tie out against dup_spans exactly
    val spanToks = run("dup_spans").collect()
      .map(r => r.getAs[Int]("span_tokens").toLong).sum
    val rate = run("dup_span_rate_by_source").collect()
    assert(rate.map(_.getAs[Long]("dup_tokens")).sum == spanToks,
      "per-source dup tokens do not sum to the span inventory")
    rate.foreach { r =>
      assert(r.getAs[Long]("dup_tokens") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("docs_affected") <= r.getAs[Long]("n_docs"))
    }
  }

  test("wave-8: PSI bounds, hard negatives are the true argmax, MinHash estimator ties out") {
    // psi_drift: the exact PSI is ≥ 0 term-by-term ((p−q)(ln p − ln q) ≥ 0);
    // micro-nat quantization can only push the sum negligibly negative.
    // Cohorts must partition exactly the non-null-value rows.
    val psi = run("psi_drift").collect().head
    assert(psi.getAs[Double]("psi") >= -1e-6, s"PSI negative: $psi")
    val nonNull = Tables.events(spark, sf).filter(col("value").isNotNull).count()
    assert(psi.getAs[Long]("n_a") + psi.getAs[Long]("n_b") == nonNull,
      "cohorts do not partition the non-null rows")
    assert(psi.getAs[Long]("n_a") > 0 && psi.getAs[Long]("n_b") > 0)

    // hard_negatives: one row per anchor, labels differ, and the reported
    // mate IS the brute-force argmax over the candidate set (rounded-cos
    // desc, vec_id asc — the engine's own tiebreak).
    val hn = run("hard_negatives").collect()
    assert(hn.nonEmpty, "no hard negatives at this sf — test degenerate")
    assert(hn.forall(r => r.getAs[String]("label") != r.getAs[String]("neg_label")),
      "a hard negative shares its anchor's label")
    val anchors = hn.map(_.getAs[Long]("vec_id"))
    assert(anchors.distinct.length == anchors.length, "anchor emitted twice")
    val emb = Tables.embeddings(spark, sf).collect().map { r =>
      val v = r.getAs[scala.collection.Seq[Float]]("embedding").toArray
      r.getAs[Long]("vec_id") -> (v, Option(r.getAs[String]("label")))
    }.toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
    }
    def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))
    val cand = operators.Similarity.neardupCandidates(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    val bySrc = (cand ++ cand.map(_.swap)).groupBy(_._1)
    val expected = bySrc.flatMap { case (qid, ps) =>
      val (qv, qlab) = emb(qid)
      val mates = ps.map(_._2).distinct
        .filter(v => emb(v)._2.isDefined && qlab.isDefined && emb(v)._2 != qlab)
        .map { v =>
          val (nv, _) = emb(v)
          (v, dot(qv, nv) / (norm(qv) * norm(nv)))
        }
      if (mates.isEmpty) None
      else Some(qid -> mates.minBy { case (v, c) =>
        (-BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP), v)
      })
    }
    assert(hn.length == expected.size, "anchor set differs from brute force")
    hn.foreach { r =>
      val qid = r.getAs[Long]("vec_id")
      val (expV, expC) = expected(qid)
      assert(r.getAs[Long]("neg_id") == expV, s"anchor $qid: wrong negative")
      assert(math.abs(r.getAs[Double]("cosine") -
        BigDecimal(expC).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }

    // minhash_est_error: a band collision implies ≥ rows-per-band (4)
    // agreeing signature components; the ≥0.5-true-Jaccard slice of the
    // calibration frame must be EXACTLY minhash_pairs' pair set.
    val est = run("minhash_est_error").collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      val m = r.getAs[Int]("sig_matches")
      assert(m >= 4 && m <= 16, s"sig_matches out of band-collision range: $m")
      val e = r.getAs[Double]("est_jaccard"); val j = r.getAs[Double]("jaccard")
      assert(e >= 0.0 && e <= 1.0 && j > 0.0 && j <= 1.0)
      assert(math.abs(r.getAs[Double]("err") -
        BigDecimal(e - j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    val confirmed = est.filter(_.getAs[Double]("jaccard") >= 0.5)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val mhPairs = run("minhash_pairs").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(confirmed == mhPairs,
      "calibration frame's ≥0.5 slice disagrees with minhash_pairs")
  }

  test("autocorr matches built-in Pearson on the paired frame; bot_gaps flag replays exactly") {
    // autocorr's exact-DECIMAL moment path vs Spark's own corr() — two
    // independent numeric routes over the same pairs must agree to 1e-6
    val acf = run("autocorr").collect()
    assert(acf.nonEmpty)
    acf.foreach { r =>
      val a = r.getAs[Double]("acf")
      assert(a >= -1.0 - 1e-9 && a <= 1.0 + 1e-9, s"acf out of range: $a")
      assert(Seq(1, 2, 3, 6, 12, 24).contains(r.getAs[Int]("lag_hours")))
    }
    val series = Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), expr("unix_micros(ts) DIV 3600000000").as("hu"))
      .agg(graft.functions.Num.davg("value", scale = 4).as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    acf.foreach { r =>
      val (et, k) = (r.getAs[String]("event_type"), r.getAs[Int]("lag_hours"))
      // .toSeq BEFORE collect: Map.collect over tuple results rebuilds a
      // Map, silently deduplicating pairs that share the same first value
      val pairs = series.toSeq.collect {
        case ((t, hu), y) if t == et && series.contains((t, hu + k)) =>
          (y, series((t, hu + k)))
      }
      assert(pairs.size == r.getAs[Long]("n_pairs"), s"$et lag $k pair count")
      val n = pairs.size.toDouble
      val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      val cov = pairs.map(p => p._1 * p._2).sum / n - (sx / n) * (sy / n)
      val vx = pairs.map(p => p._1 * p._1).sum / n - (sx / n) * (sx / n)
      val vy = pairs.map(p => p._2 * p._2).sum / n - (sy / n) * (sy / n)
      val naive = cov / (math.sqrt(vx) * math.sqrt(vy))
      assert(math.abs(r.getAs[Double]("acf") - naive) < 1e-5,
        s"$et lag $k: acf ${r.getAs[Double]("acf")} vs naive $naive")
    }

    // bot_gaps: replay the integer gate per user from the raw events
    val gaps = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues { rows =>
        val sorted = rows.sortBy(t => (t._3, t._2)).map(_._3)
        sorted.zip(sorted.tail).map { case (a, b) => b - a }
      }.toMap
    val bg = run("bot_gaps").collect()
    assert(bg.nonEmpty)
    bg.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val ds = gaps(u).map(BigInt(_))
      assert(ds.size >= 5 && ds.size == r.getAs[Long]("n_gaps"))
      val (s1, s2) = (ds.sum, ds.map(d => d * d).sum)
      val n = BigInt(ds.size)
      assert(r.getAs[Boolean]("bot_flag") == (s2 * 100 * n <= s1 * s1 * 101),
        s"user $u bot_flag mismatch")
      assert(r.getAs[Long]("mean_gap_us") ==
        ((2 * s1 + n) / (2 * n)).toLong, s"user $u mean gap")
      if (s1 == 0) assert(r.isNullAt(r.fieldIndex("cv")))
      else assert(r.getAs[Double]("cv") >= 0.0)
    }
  }

  test("token_entropy replays exactly; ann_probe_curve is monotone and ties to ann_lsh") {
    // token_entropy: replay H = (N·lnN − Σ c·ln c)/N per language with the
    // same micro-nat quantization, from raw tokens
    val te = run("token_entropy").collect()
    assert(te.nonEmpty)
    val counts = Tables.documents(spark, sf)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("c")).collect()
      .groupBy(_.getAs[String]("lang"))
    te.foreach { r =>
      val lang = r.getAs[String]("lang")
      val cs = counts(lang).map(_.getAs[Long]("c"))
      val n = cs.sum
      def l6(x: Long) = BigInt(math.round(math.log(x.toDouble) * 1e6))
      val hNum = BigInt(n) * l6(n) - cs.map(c => BigInt(c) * l6(c)).sum
      val h = BigDecimal(hNum.toDouble / (n.toDouble * 1e6))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Long]("n_tokens") == n && r.getAs[Long]("vocab") == cs.length)
      assert(r.getAs[Double]("entropy_nats") == h, s"$lang entropy mismatch")
      val norm = r.getAs[Double]("norm_entropy")
      assert(norm > 0.0 && norm <= 1.0 + 1e-9, s"$lang norm entropy $norm")
      assert(h <= math.log(cs.length.toDouble) + 1e-6, "H exceeds ln V")
    }

    // rare_token_rate: Σ n_rare over docs must equal the corpus hapax
    // count (each hapax occurs exactly once, in exactly one doc), and the
    // flag replays from the row's own integers
    val rtr = run("rare_token_rate").collect()
    val corpusTf = counts.values.flatten
      .groupBy(_.getAs[String]("tok")).view
      .mapValues(_.map(_.getAs[Long]("c")).sum).toMap
    assert(rtr.map(_.getAs[Long]("n_rare")).sum == corpusTf.values.count(_ == 1L),
      "per-doc rare sums disagree with the corpus hapax count")
    rtr.foreach { r =>
      assert(r.getAs[Long]("n_rare") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Boolean]("flagged") ==
        (r.getAs[Long]("n_rare") * 10 > r.getAs[Long]("n_tokens") * 3))
    }

    // ann_probe_curve: cumulative in radius, internally consistent, and
    // radius-2 hits bound the overlap ann_lsh_topk (same masks) achieves
    val curve = run("ann_probe_curve").collect().sortBy(_.getAs[Long]("radius"))
    assert(curve.map(_.getAs[Long]("radius")).toSeq == Seq(0L, 1L, 2L))
    val cands = curve.map(_.getAs[Long]("n_candidates"))
    val hits = curve.map(_.getAs[Long]("n_hits"))
    assert(cands.toSeq == cands.sorted.toSeq && hits.toSeq == hits.sorted.toSeq,
      "curve must be cumulative in radius")
    curve.foreach(r => assert(
      r.getAs[Long]("n_hits") <= r.getAs[Long]("n_candidates")))
    val exact = run("cosine_topk").select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = run("ann_lsh_topk").select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.intersect(exact).size <= hits.last,
      "ann_lsh_topk finds truth pairs the radius-2 candidate set lacks")
  }

  test("bq_topk: 1-bit Hamming shortlist recall floor, well-formed ranking") {
    // Uniform-data regime (see the ann_lsh_topk note): sign-bit Hamming
    // over 64 dims tracks angle well enough that a 50-deep shortlist
    // lands ~68% of the exact top-10 here (measured, deterministic).
    // Floor at 50% — far above the 10% a blind 50-of-500 sample expects —
    // so quantizer or shortlist regressions trip this without the floor
    // riding the measurement.
    val exact = run("cosine_topk").select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = run("bq_topk").collect()
    val bq = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val recall = bq.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"binary-quantized recall too low: $recall")
    assert(rows.forall(r => r.getAs[Long]("qid") != r.getAs[Long]("vec_id")),
      "a query returned itself")
    val ranks = rows.groupBy(_.getAs[Long]("qid")).values
    assert(ranks.forall(_.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 10)))
  }

  test("cosine_topk: self-similarity excluded, scores within [-1,1], rank dense") {
    val rows = run("cosine_topk").collect()
    assert(rows.forall(r => r.getAs[Long]("qid") != r.getAs[Long]("vec_id")))
    assert(rows.forall(r => math.abs(r.getAs[Double]("cosine")) <= 1.0 + 1e-9))
    val ranks = rows.groupBy(_.getAs[Long]("qid")).values
    assert(ranks.forall(_.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 10)))
  }

  test("embedding_neardup: no false positives, uniform-data recall floor") {
    // τ=0.42 on uniform data sits far below the LSH design point (see the
    // registration comment): the 16-plane × hamming≤1 probe lands ~40% of
    // the brute-force pairs here while emitting ~25× fewer candidates than
    // the 5-plane bank's n²/32 self-join did. The floor is a regression
    // tripwire; the ≥96% design-point recall is asserted on planted
    // near-dups below.
    import graft.functions.{VectorExpressions => V}
    val got = run("embedding_neardup").collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val e = Tables.embeddings(spark, sf).withColumn("norm", V.l2norm(col("embedding")))
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"), col("norm").as("na"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"), col("norm").as("nb"))
    val brute = a.crossJoin(b).filter(col("ia") < col("ib"))
      .withColumn("cos", V.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.42)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(brute), "a reported pair is below the cosine threshold")
    assert(got.size * 10 >= brute.size * 3, s"recall too low: ${got.size}/${brute.size}")
  }

  test("LSH design point: planted near-dups are found by neardup and ann queries") {
    // The operating regime the LSH stack exists for: tight duplicate pairs
    // (cos ≈ 0.95) hiding in an otherwise uniform corpus. 50 base vectors
    // (ids 0-49) each get one perturbed copy (id+50); per-plane sign
    // agreement at cos 0.95 is ~0.9, so a pair collides in a given table
    // with p ≈ 0.79 and across 16 tables with p ≈ 1 − 2·10⁻¹¹ — the
    // REGISTERED queries (not a reimplementation) must find essentially
    // every planted pair, and rank each query's copy at the top.
    import org.apache.spark.sql.{Row, types => T}
    val rnd = new scala.util.Random(42)
    def gauss64() = Array.fill(64)(rnd.nextGaussian())
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val bases = (0 until 50).map(_ => unit(gauss64()))
    val copies = bases.map { b =>
      val g = unit(gauss64())
      unit(b.zip(g).map { case (x, y) => x + 0.33 * y })
    }
    val rows = (bases ++ copies).zipWithIndex.map { case (v, i) =>
      Row(i.toLong, v.map(_.toFloat).toSeq, i % 10)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_planted").toString
    try {
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2),
        Tables.embeddingsSchema).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      val nd = SparkEntry.queries("embedding_neardup")(spark, dir).collect()
        .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
      val planted = (0 until 50).map(i => (i.toLong, (i + 50).toLong)).toSet
      assert(planted.intersect(nd).size >= 48,
        s"neardup missed planted pairs: found ${planted.intersect(nd).size}/50")
      val ann = SparkEntry.queries("ann_lsh_topk")(spark, dir).collect()
      val top1 = ann.filter(_.getAs[Int]("rank") == 1)
        .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("vec_id")).toMap
      (0L until 5L).foreach { q =>
        assert(top1.get(q).contains(q + 50),
          s"query $q: top-1 should be its planted copy, got ${top1.get(q)}")
      }
    } finally {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally st.close()
    }
  }

  test("minhash_clusters: every clustered doc appears exactly once, labels are member minima") {
    val rows = run("minhash_clusters").collect()
    val members = rows.flatMap(_.getAs[String]("member_ids").split(",").map(_.toLong))
    assert(members.length == members.distinct.length, "a doc appears in two clusters")
    rows.foreach { r =>
      val ids = r.getAs[String]("member_ids").split(",").map(_.toLong)
      assert(r.getAs[Long]("cluster_id") == ids.min, "cluster_id is not the member minimum")
      assert(r.getAs[Long]("cluster_size") == ids.length)
    }
  }

  test("knn_classify: one prediction per query, votes within [1, k]") {
    val rows = run("knn_classify").collect()
    assert(rows.map(_.getAs[Long]("qid")).distinct.length == rows.length)
    assert(rows.forall { r =>
      val v = r.getAs[Long]("votes"); v >= 1 && v <= 10
    })
  }

  test("gap_fill: dense grid (types × hours), event counts preserved") {
    val rows = run("gap_fill").cache()
    val nTypes = Tables.events(spark, sf).select("event_type").distinct().count()
    val hours = rows.agg(countDistinct(col("hour"))).collect().head.getLong(0)
    assert(rows.count() == nTypes * hours, "grid is ragged")
    val total = rows.agg(sum("n_events")).collect().head.getLong(0)
    assert(total == Tables.events(spark, sf).count(), "gap filling changed event counts")
  }

  test("zscore_outliers: all reported rows exceed the threshold on recomputed stats") {
    val rows = run("zscore_outliers").collect()
    assert(rows.forall(r => math.abs(r.getAs[Double]("zscore")) > 3))
    // spot-recompute one group's stats naively and agree within rounding
    val vals = Tables.events(spark, sf).filter(col("event_type") === "click")
      .select("value").collect().map(_.getDouble(0))
    val mean = vals.sum / vals.length
    val std = math.sqrt(vals.map(v => (v - mean) * (v - mean)).sum / vals.length)
    rows.filter(_.getAs[String]("event_type") == "click").foreach { r =>
      val z = (r.getAs[Double]("value") - mean) / std
      assert(math.abs(z - r.getAs[Double]("zscore")) < 1e-2)
    }
  }

  test("pii_redact: no digits survive redaction, counts match original density") {
    val rows = run("pii_redact").collect()
    assert(rows.forall(r => !r.getAs[String]("redacted").exists(_.isDigit)))
    assert(rows.forall(_.getAs[Long]("n_numbers") >= 1)) // every props has {"k": N}
  }

  test("repetition_metrics: fractions within [0,1], degenerate loops flagged by the real pipeline") {
    import spark.implicits._
    val rows = run("repetition_metrics").collect()
    assert(rows.forall { r =>
      val d = r.getAs[Double]("dup_token_frac"); val t = r.getAs[Double]("top_bigram_frac")
      d >= 0 && d <= 1 && t >= 0 && t <= 1
    })
    // drive the REGISTERED pipeline (not a reimplementation) with the
    // degenerate inputs the corpus lacks: a two-token loop, a single
    // repeated token (overlapping bigrams — the cap case), normal text
    val docs = Seq(
      (1L, ("x y " * 50).trim),      // "x y x y ..." — top bigram covers all
      (2L, ("x " * 20).trim),        // "x x x ..." — overlapping repeats
      (3L, "all tokens here differ entirely")
    ).toDF("doc_id", "text")
    val m = operators.TextAnalysis.repetitionMetrics(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("dup_token_frac"), r.getAs[Double]("top_bigram_frac"))).toMap
    assert(m(1L)._2 >= 0.98, s"two-token loop not flagged: ${m(1L)}")
    assert(m(2L)._2 == 1.0, s"overlapping repeats must cap at exactly 1: ${m(2L)}")
    assert(m(2L)._1 > 0.9, "single-token run has near-total duplication")
    assert(m(3L)._1 == 0.0 && m(3L)._2 <= 0.5, s"distinct text over-flagged: ${m(3L)}")
  }

  test("zorder_cells: per-cell bounding boxes are narrow on both dimensions") {
    val rows = run("zorder_cells").collect()
    assert(rows.nonEmpty)
    // a coarse Z-cell spans ≤ 2^10 in each interleaved dimension by
    // construction (dropping 20 interleaved bits = 10 per dimension)
    assert(rows.forall { r =>
      r.getAs[Long]("x_max") - r.getAs[Long]("x_min") <= 1024 &&
        r.getAs[Long]("y_max") - r.getAs[Long]("y_min") <= 1024
    })
  }

  test("timeWeightedAvg: constant series → its constant, uneven gaps weight correctly") {
    import spark.implicits._
    // user 1: constant 5.0 — TWA must be exactly 5.0 whatever the gaps.
    // user 2: 10.0 held for 3s then 20.0 held for 1s then a final sample —
    //         TWA = (10*3 + 20*1)/4 = 12.5.
    // user 3: a single sample — zero span, must drop out.
    val rows = Seq(
      (1L, 1L, 5.0, 0L), (1L, 2L, 5.0, 7_000_000L), (1L, 3L, 5.0, 9_000_000L),
      (2L, 4L, 10.0, 0L), (2L, 5L, 20.0, 3_000_000L), (2L, 6L, 99.0, 4_000_000L),
      (3L, 7L, 42.0, 0L)
    ).toDF("user_id", "event_id", "value", "us")
    val twa = operators.TimeSeries.timeWeightedAvg(rows).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("twa")).toMap
    assert(twa(1L) == 5.0, s"constant series drifted: ${twa(1L)}")
    assert(twa(2L) == 12.5, s"gap weighting wrong: ${twa(2L)}")
    assert(!twa.contains(3L), "single-sample user must have no TWA")
  }

  test("connectedComponents survives a long-diameter run with bounded lineage") {
    import spark.implicits._
    // chain 0—1—…—24 (diameter 24 → ~25 propagation rounds, crossing the
    // 5-round localCheckpoint boundary repeatedly) plus an isolated pair
    val chain = (0L until 24L).map(i => (i, i + 1))
    val pairs = (chain :+ (100L, 101L)).toDF("doc_a", "doc_b")
    // smallGraphEdgeLimit = 0 forces the distributed loop — the default
    // would route a 25-edge graph to the single-task union-find path
    val labels = operators.Dedup.connectedComponents(pairs, maxRounds = 60,
        smallGraphEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 24L).forall(labels(_) == 0L), s"chain split: $labels")
    assert(labels(100L) == 100L && labels(101L) == 100L)
    // diverging run must fail loudly, not emit split clusters
    val err = intercept[IllegalArgumentException] {
      operators.Dedup.connectedComponents(pairs, maxRounds = 3,
        smallGraphEdgeLimit = 0)
    }
    assert(err.getMessage.contains("did not converge"))
    // the small-graph union-find path must emit the identical labeling
    val fast = operators.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == labels, s"fast path diverged: $fast vs $labels")
  }

  test("dedup_exact groups every doc exactly once") {
    val df = run("dedup_exact")
    val total = df.agg(sum("n_copies")).collect().head.getLong(0)
    assert(total == Tables.documents(spark, sf).count())
  }

  test("media_features: deterministic across runs, 8-dim, byte_len matches text bytes") {
    val a = operators.Multimodal.features(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getSeq[Float](r.fieldIndex("features")).toList)).toMap
    val b = operators.Multimodal.features(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getSeq[Float](r.fieldIndex("features")).toList)).toMap
    assert(a.keySet == b.keySet && a.forall { case (k, v) => b(k) == v })
    assert(a.values.forall(_.length == 8))
    val lens = operators.Multimodal.features(spark, sf)
      .join(Tables.documents(spark, sf), "doc_id")
      .filter(col("byte_len") =!= length(col("text"))).count()
    assert(lens == 0) // ascii corpus: bytes == chars
  }

  test("decodeBmp parses hand-crafted BMPs (bottom-up, top-down, padded, offset != 54)") {
    // fixtures built from the SPEC, not from encodeBmp — a decoder bug
    // that encodeBmp happens to mirror cannot hide here.
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // 2x2, 24bpp: row stride = ceil(6/4)*4 = 8 (2 pad bytes per row);
    // data offset 60 (6-byte gap after the headers, must be honored).
    // Logical pixels (BGR): row0 = (1,2,3),(4,5,6); row1 = (7,8,9),(10,11,12)
    def bmp(topDown: Boolean): Array[Byte] = {
      val rows = Seq(Array[Byte](1, 2, 3, 4, 5, 6, 99, 99), // pad bytes 99:
        Array[Byte](7, 8, 9, 10, 11, 12, 99, 99))           // must be ignored
      val fileRows = if (topDown) rows else rows.reverse
      (Array[Byte]('B', 'M') ++ le32(60 + 16) ++ le32(0) ++ le32(60) ++
        le32(40) ++ le32(2) ++ le32(if (topDown) -2 else 2) ++
        le16(1) ++ le16(24) ++ le32(0) ++ le32(16) ++
        Array.fill[Byte](16)(0) ++ // ppm/palette fields
        Array.fill[Byte](6)(77) ++ // gap before the declared offset
        fileRows.flatten)
    }
    for (td <- Seq(false, true)) {
      val (w, h, sb, sg, sr) = operators.Multimodal.decodeBmp(bmp(td))
      assert((w, h) == (2, 2), s"topDown=$td dims")
      // channel sums over logical pixels: B=1+4+7+10, G=2+5+8+11, R=3+6+9+12
      assert((sb, sg, sr) == (22L, 26L, 30L),
        s"topDown=$td sums ($sb,$sg,$sr) — pad bytes or row order leaked in")
    }
    // strictness: bad magic and compressed variants must throw
    intercept[IllegalArgumentException] {
      operators.Multimodal.decodeBmp(Array.fill[Byte](60)(0))
    }
    val rle = bmp(false); rle(30) = 1 // compression = BI_RLE8
    intercept[IllegalArgumentException] { operators.Multimodal.decodeBmp(rle) }
  }

  test("bmpLuma + dhash64: BT.601 luma, row-order invariance, dHash fixtures") {
    import operators.Multimodal
    // luma formula on a known pixel: BGR (10, 20, 30) ⇒
    // (299·30 + 587·20 + 114·10) / 1000 = (8970+11740+1140)/1000 = 21
    val one = Multimodal.encodeBmp(Array[Byte](10, 20, 30), topDown = false)
    assert(Multimodal.bmpLuma(one)(0) == 21, "BT.601 integer luma drifted")
    // the fingerprint must not depend on the container's row order: the
    // same payload encoded bottom-up and top-down hashes identically
    val payload = Array.tabulate[Byte](1000)(i => ((i * 37 + 11) % 251).toByte)
    val fpUp = Multimodal.dhash64(
      Multimodal.bmpLuma(Multimodal.encodeBmp(payload, topDown = false)))
    val fpDown = Multimodal.dhash64(
      Multimodal.bmpLuma(Multimodal.encodeBmp(payload, topDown = true)))
    assert(fpUp == fpDown, "dHash depends on BMP row order — luma walk broken")
    // dHash fixtures from the DEFINITION (bit k = cell k mean > cell k+1):
    // flat image ⇒ no strict inequality ⇒ 0; strictly increasing ramp ⇒ 0;
    // strictly decreasing ramp ⇒ all 64 bits ⇒ -1L
    assert(Multimodal.dhash64(Array.fill(130)(77)) == 0L, "flat image")
    assert(Multimodal.dhash64(Array.tabulate(130)(i => i)) == 0L, "rising ramp")
    assert(Multimodal.dhash64(Array.tabulate(130)(i => 1000 - i)) == -1L,
      "falling ramp should set every bit")
    // P < 65: sparse images spread pixels over non-adjacent cells with
    // empty cells between them — every comparison involves an empty side
    // (0·cnt vs 0·cnt) and the hash is deterministically 0, not a crash
    assert(Multimodal.dhash64(Array(9, 1)) == 0L,
      "2-pixel image: occupied cells are non-adjacent, hash must be 0")
    // one pixel per cell (P = 65): bit k compares pixels k and k+1 directly
    assert(Multimodal.dhash64(Array.tabulate(65)(i => if (i == 0) 9 else 1)) == 1L,
      "65-pixel image with one bright head pixel must set exactly bit 0")
    // near-dup robustness: one flipped byte in a 1000-byte payload moves
    // one cell mean ⇒ at most 2 of 64 bits differ
    val tweaked = payload.clone(); tweaked(500) = (tweaked(500) ^ 0x7f).toByte
    val fpT = Multimodal.dhash64(
      Multimodal.bmpLuma(Multimodal.encodeBmp(tweaked, topDown = false)))
    assert(java.lang.Long.bitCount(fpUp ^ fpT) <= 2,
      "single-byte edit should perturb at most its cell's two comparisons")
    // the audio twin: energy-difference fingerprint over decoded samples
    // — gain-invariance (2x every sample preserves every ORDER
    // comparison), falling-energy ramp sets all bits, single-sample edit
    // perturbs at most its cell's two comparisons
    val sig = Array.tabulate(650)(i => (i % 97) - 48)
    val fpS = Multimodal.ehash64(sig)
    assert(Multimodal.ehash64(sig.map(_ * 2)) == fpS,
      "energy hash must be invariant to uniform gain")
    assert(Multimodal.ehash64(Array.tabulate(130)(i => 1000 - i)) == -1L,
      "falling energy ramp should set every bit")
    val sig2 = sig.clone(); sig2(300) = 32000
    assert(java.lang.Long.bitCount(fpS ^ Multimodal.ehash64(sig2)) <= 2,
      "single-sample edit should perturb at most two comparisons")
    // past ~6M samples the exact cross-multiplication can wrap Long while
    // the DuckDB oracle sums in HUGEINT — the guard must fail loudly
    // instead of emitting divergent fingerprint bits
    val eOver = intercept[IllegalArgumentException] {
      Multimodal.ehash64(new Array[Int](6000000))
    }
    assert(eOver.getMessage.contains("cross-multiplication bound"))
  }

  test("JPEG codec: gray round-trip (dims, exact DC chain, raster), strictness") {
    import operators.Jpeg
    val rnd = new java.util.Random(42)
    for (n <- Seq(0, 1, 63, 64, 65, 500, 4096)) {
      val bytes = new Array[Byte](n); rnd.nextBytes(bytes)
      val img = Jpeg.decodeJpeg(Jpeg.encodeJpegGray(bytes))
      val rows = math.max(1, (n + 7) / 8)
      val h = (rows + 7) / 8 * 8
      assert(img.width == 8 && img.height == h && img.nComps == 1,
        s"n=$n dims ${img.width}x${img.height}")
      assert(img.nBlocksComp0 == h / 8)
      // the DC chain is EXACT through Huffman + differential + dequant:
      // replay round(sum(p-128)/8) per block from the source bytes
      var expDc = 0L
      for (b <- 0 until h / 8) {
        var s = 0L
        for (i <- 0 until 64) {
          val k = b * 64 + i
          s += (if (k < n) bytes(k) & 0xff else 0)
        }
        expDc += Jpeg.dcOf(s)
      }
      assert(img.dcSumComp0 == expDc,
        s"n=$n decoded DC sum ${img.dcSumComp0} != replayed $expDc")
      // the AC/IDCT path reconstructs the raster: q=1 baseline keeps the
      // error to DCT rounding (spec allows ±1-class decoder variance)
      var err = 0L
      for (k <- 0 until n) err += math.abs(img.planes(0)(k) - (bytes(k) & 0xff))
      assert(n == 0 || err.toDouble / n <= 1.5,
        s"n=$n mean abs raster error ${err.toDouble / n} — IDCT drifted")
    }
    // strictness: progressive and truncated streams fail loudly
    val ok = Jpeg.encodeJpegGray(Array[Byte](1, 2, 3))
    val prog = ok.clone()
    // rewrite the SOF0 marker to SOF2 (find FF C0)
    val sof = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sof + 1) = 0xc2.toByte
    intercept[IllegalArgumentException] { Jpeg.decodeJpeg(prog) }
    intercept[IllegalArgumentException] {
      Jpeg.decodeJpeg(ok.take(ok.length - 4))
    }
    intercept[IllegalArgumentException] {
      Jpeg.decodeJpeg(Array.fill[Byte](64)(0x55))
    }
    // a non-stuffed marker INSIDE the entropy segment must reject loudly,
    // not serve zero bits and re-consume the marker id as entropy data
    // (the silent-garbage path the BitReader used to have): splice an EOI
    // where the first entropy byte belongs
    val marked = {
      val big = Jpeg.encodeJpegGray(Array.tabulate[Byte](64)(i => (i * 7).toByte))
      val sos = (0 until big.length - 1).find(i =>
        (big(i) & 0xff) == 0xff && (big(i + 1) & 0xff) == 0xda).get
      val hdrLen = ((big(sos + 2) & 0xff) << 8) | (big(sos + 3) & 0xff)
      val entropy = sos + 2 + hdrLen
      val m = big.clone()
      m(entropy) = 0xff.toByte
      m(entropy + 1) = 0xd9.toByte
      m
    }
    val e = intercept[IllegalArgumentException] { Jpeg.decodeJpeg(marked) }
    assert(e.getMessage.contains("marker") || e.getMessage.contains("entropy"),
      s"expected the mid-entropy marker rejection, got: ${e.getMessage}")
  }

  test("JPEG codec decodes a FOREIGN encoder's output (ImageIO 4:2:0 color)") {
    import operators.Jpeg
    // ImageIO's writer emits standard Annex-K Huffman tables and 4:2:0
    // chroma — none of which our encoder produces, so this pins the
    // GENERIC table machinery, the interleaved-MCU walk, upsampling, and
    // YCbCr conversion against a real third-party encoder.
    // dims off the 16-px MCU grid so partial-MCU coverage is exercised;
    // channels are smooth gradients — 4:2:0 decoders legitimately differ
    // on high-frequency CHROMA (ImageIO upsamples bilinearly, we
    // replicate; both spec-legal), so a sawtooth chroma fixture would
    // measure that variance, not correctness
    val w = 40; val h = 24
    val bi = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      bi.setRGB(x, y, ((x * 6) << 16) | ((y * 10) << 8) | (x * 3 + y * 2))
    val bos = new java.io.ByteArrayOutputStream
    assert(javax.imageio.ImageIO.write(bi, "jpg", bos), "ImageIO JPEG writer missing")
    val jbytes = bos.toByteArray
    val ours = Jpeg.decodeJpeg(jbytes)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jbytes))
    assert(ours.width == w && ours.height == h && ours.nComps == 3,
      s"foreign dims ${ours.width}x${ours.height}x${ours.nComps}")
    var diff = 0L
    var worst = 0
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val p = ref.getRGB(x, y)
      val d = math.abs(((p >> (16 - 8 * c)) & 0xff) - ours.planes(c)(y * w + x))
      diff += d
      worst = math.max(worst, d)
    }
    val mean = diff.toDouble / (w * h * 3)
    assert(mean <= 2.0 && worst <= 12,
      s"vs ImageIO's own decode: mean=$mean worst=$worst — decoder " +
        "disagrees with the reference implementation beyond IDCT/upsampling variance")
  }

  test("JPEG codec decodes PROGRESSIVE (SOF2): spectral selection + successive approximation") {
    import operators.Jpeg
    // ImageIO's progressive mode emits the classic multi-scan script
    // (DC-first with Al>0 + DC refinement, per-component AC bands, AC
    // refinement passes with EOB runs) — every G.1.2 code path at once,
    // pinned against ImageIO's own read-back like the baseline path
    def progressiveBytes(bi: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      wr.setOutput(ios)
      val p = wr.getDefaultWriteParam
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      wr.write(null, new javax.imageio.IIOImage(bi, null, null), p)
      ios.close(); wr.dispose()
      bos.toByteArray
    }
    def sof2(b: Array[Byte]): Boolean = (0 until b.length - 1).exists(i =>
      (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xc2)
    // color, off the 16-px MCU grid (partial-MCU + non-interleaved ceil
    // dims diverge exactly on such shapes); detail beyond gradients so AC
    // refinement scans carry real correction bits
    val w = 41; val h = 27
    val bi = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 6 + ((x * y * 37) % 23)) % 256
      val g = (y * 10 + ((x * 13) % 17)) % 256
      val b = (x * 3 + y * 2) % 256
      bi.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val jbytes = progressiveBytes(bi)
    assert(sof2(jbytes), "ImageIO did not emit SOF2 — fixture broken")
    val ours = Jpeg.decodeJpeg(jbytes)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jbytes))
    assert(ours.width == w && ours.height == h && ours.nComps == 3)
    var diff = 0L
    var worst = 0
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val p = ref.getRGB(x, y)
      val d = math.abs(((p >> (16 - 8 * c)) & 0xff) - ours.planes(c)(y * w + x))
      diff += d
      worst = math.max(worst, d)
    }
    val mean = diff.toDouble / (w * h * 3)
    assert(mean <= 2.0 && worst <= 12,
      s"progressive vs ImageIO's own decode: mean=$mean worst=$worst")
    // grayscale progressive: the non-interleaved single-component walk
    val gw = 19; val gh = 13
    val gbi = new java.awt.image.BufferedImage(
      gw, gh, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until gh; x <- 0 until gw) {
      val v = (x * 11 + y * 7 + (x * y) % 29) % 256
      gbi.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val gbytes = progressiveBytes(gbi)
    assert(sof2(gbytes), "gray fixture not progressive")
    val gOurs = Jpeg.decodeJpeg(gbytes)
    val gRef = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gbytes))
    assert(gOurs.width == gw && gOurs.height == gh && gOurs.nComps == 1)
    var gDiff = 0L
    var gWorst = 0
    for (y <- 0 until gh; x <- 0 until gw) {
      val d = math.abs((gRef.getRaster.getSample(x, y, 0)) - gOurs.planes(0)(y * gw + x))
      gDiff += d
      gWorst = math.max(gWorst, d)
    }
    val gMean = gDiff.toDouble / (gw * gh)
    assert(gMean <= 2.0 && gWorst <= 12,
      s"gray progressive vs ImageIO: mean=$gMean worst=$gWorst")
    // progressive strictness: a stream whose scans were all stripped (EOI
    // straight after the tables) must reject — no silent black frame
    val sosAt = (0 until jbytes.length - 1).filter(i =>
      (jbytes(i) & 0xff) == 0xff && (jbytes(i + 1) & 0xff) == 0xda)
    assert(sosAt.size >= 2, "progressive stream should carry multiple scans")
    val cut = jbytes.take(sosAt(0)) ++ Array(0xff.toByte, 0xd9.toByte)
    val eCut = intercept[IllegalArgumentException] { Jpeg.decodeJpeg(cut) }
    assert(eCut.getMessage.contains("no scan") ||
      eCut.getMessage.contains("DC scan"), eCut.getMessage)
  }

  test("decodeWav walks RIFF chunks (odd JUNK + pad byte) to signed s16 stats") {
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def tag(s: String) = s.getBytes("US-ASCII")
    // samples 100, -2 (0xFFFE), -32768 (0x8000): sum|s| = 100+2+32768
    val data = le16(100) ++ le16(0xFFFE) ++ le16(0x8000)
    val fmt = le16(1) ++ le16(1) ++ le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16)
    val wav = tag("RIFF") ++ le32(4 + 8 + 6 + 8 + 16 + 8 + data.length) ++ tag("WAVE") ++
      tag("JUNK") ++ le32(5) ++ Array.fill[Byte](6)(55) ++ // odd size 5 ⇒ 6 on disk
      tag("fmt ") ++ le32(16) ++ fmt ++
      tag("data") ++ le32(data.length) ++ data
    val (n, sum, peak) = operators.Multimodal.decodeWav(wav)
    assert(n == 3 && sum == 100L + 2L + 32768L && peak == 32768,
      s"got ($n, $sum, $peak) — chunk walk or sign extension is wrong")
    // stereo must be rejected (we only claim mono PCM)
    val stereo = wav.clone(); stereo(wav.indexOfSlice(tag("fmt ")) + 10) = 2
    intercept[IllegalArgumentException] { operators.Multimodal.decodeWav(stereo) }
    // corrupt chunk sizes must fail loudly, not hang or AIOOBE: a
    // NEGATIVE size would otherwise leave the walk cursor in place
    // (infinite loop), an oversized one would read past the payload
    val negSize = wav.clone()
    val junkAt = wav.indexOfSlice(tag("JUNK"))
    le32(-8).copyToArray(negSize, junkAt + 4)
    intercept[IllegalArgumentException] { operators.Multimodal.decodeWav(negSize) }
    val overSize = wav.clone()
    le32(1 << 20).copyToArray(overSize, wav.indexOfSlice(tag("data")) + 4)
    intercept[IllegalArgumentException] { operators.Multimodal.decodeWav(overSize) }
    // and a BMP whose declared geometry exceeds the payload must raise
    // the clean error too (strict parser, not an array crash)
    val tiny = operators.Multimodal.encodeBmp(Array[Byte](1, 2, 3), topDown = false)
    val truncated = tiny.take(tiny.length - 5)
    intercept[IllegalArgumentException] { operators.Multimodal.decodeBmp(truncated) }
  }

  test("decodePng decodes real-encoder output (ImageIO: adaptive filters, RGB + RGBA)") {
    // fixtures from a FOREIGN encoder: ImageIO picks its own per-row
    // filters (Sub/Up/Average/Paeth on gradient data), so a decoder that
    // only handles our filter-0 output cannot pass here
    import java.awt.image.BufferedImage
    val rnd = new scala.util.Random(42)
    def check(imgType: Int, w: Int, h: Int, pix: (Int, Int) => (Int, Int, Int)): Unit = {
      val img = new BufferedImage(w, h, imgType)
      var (er, eg, eb) = (0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = pix(x, y)
        img.setRGB(x, y, (0xff << 24) | (r << 16) | (g << 8) | b)
        er += r; eg += g; eb += b
      }
      val bos = new java.io.ByteArrayOutputStream
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      val (dw, dh, sr, sg, sb) = operators.Multimodal.decodePng(bos.toByteArray)
      assert((dw, dh) == (w, h), s"type=$imgType dims ($dw,$dh)")
      assert((sr, sg, sb) == (er, eg, eb),
        s"type=$imgType sums ($sr,$sg,$sb) != ($er,$eg,$eb)")
    }
    def noise(x: Int, y: Int) = (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256))
    // smooth gradient: adaptive filter heuristics choose the predictive
    // filters here, exercising Sub/Up/Average/Paeth reconstruction
    def gradient(x: Int, y: Int) = ((x * 7 + y) % 256, (x + y * 5) % 256, (x * y) % 256)
    check(BufferedImage.TYPE_3BYTE_BGR, 23, 17, noise)
    check(BufferedImage.TYPE_3BYTE_BGR, 64, 48, gradient)
    check(BufferedImage.TYPE_4BYTE_ABGR, 19, 11, noise)
    check(BufferedImage.TYPE_4BYTE_ABGR, 40, 40, gradient)
  }

  test("anyMediaFeatures routes by magic bytes and keeps per-codec strictness") {
    import operators.Multimodal
    val bytes = Array.tabulate[Byte](30)(i => (i * 7).toByte)
    val rows = Iterator(
      1L -> Multimodal.encodePng(bytes),
      2L -> Multimodal.encodeBmp(bytes, topDown = false),
      3L -> Multimodal.encodeWav(bytes),
      4L -> Array.fill[Byte](20)(42),
      5L -> Multimodal.encodeY4m(bytes),
      6L -> operators.Jpeg.encodeJpegGray(bytes),
      7L -> operators.WebIngest.warcFile(Seq(
        operators.WebIngest.WarcDoc(70L, "src7", "alpha beta gamma"))),
      8L -> operators.WebIngest.renderHtml(80L, "src8", "one two three")
        .getBytes("UTF-8"))
    val out = Multimodal.anyMediaFeatures(rows).toSeq
    assert(out.map(f => f.doc_id -> f.media_type).toMap
      == Map(1L -> "png", 2L -> "bmp", 3L -> "wav", 4L -> "unknown",
        5L -> "y4m", 6L -> "jpeg", 7L -> "warc", 8L -> "html"))
    val byId = out.map(f => f.doc_id -> f).toMap
    val total = bytes.map(_ & 0xffL).sum
    assert(byId(1L).magnitude == total && byId(2L).magnitude == total)
    assert(byId(3L).n_values == 15) // 30 bytes → 15 s16 samples
    assert(byId(4L).n_values == 0 && byId(4L).width.isEmpty)
    assert(byId(5L).magnitude == total && byId(5L).n_values == 32) // 1 frame
    // jpeg: 8×8 single block; magnitude is the DECODED gray sum — lossy,
    // so pin it within DCT-rounding distance of the source sum (padded
    // pixels decode near 0), not equal to it
    assert(byId(6L).width.contains(8) && byId(6L).height.contains(8))
    assert(math.abs(byId(6L).magnitude - total) <= 64,
      s"jpeg magnitude ${byId(6L).magnitude} vs source sum $total")
    // warc: warcinfo + 1 response; magnitude = Σ record payload bytes
    assert(byId(7L).n_values == 2 && byId(7L).magnitude > 0)
    // html: 5 blocks (nav, h1, 1 para, rel, footer)
    assert(byId(8L).n_values == 5)
    // matching magic + corrupt body must still fail loudly (no silent
    // "unknown" downgrade for a payload that CLAIMS to be decodable)
    val corrupt = Multimodal.encodePng(bytes)
    corrupt(corrupt.length - 10) = (corrupt(corrupt.length - 10) ^ 0x7f).toByte
    intercept[IllegalArgumentException] {
      Multimodal.anyMediaFeatures(Iterator(9L -> corrupt)).toSeq
    }
    // gzip magic that is NOT a well-formed WARC: loud reject, no downgrade
    val gzNotWarc = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write("just text, no WARC version line".getBytes("US-ASCII")); g.close()
      bo.toByteArray
    }
    intercept[IllegalArgumentException] {
      Multimodal.anyMediaFeatures(Iterator(10L -> gzNotWarc)).toSeq
    }
    // html magic with malformed markup: same strictness
    intercept[IllegalArgumentException] {
      Multimodal.anyMediaFeatures(Iterator(
        11L -> "<html><body><p>unclosed".getBytes("UTF-8"))).toSeq
    }
  }

  test("decodeY4m walks spec-built streams and rejects malformed ones") {
    import operators.Multimodal
    def asc(s: String) = s.getBytes("US-ASCII")
    // fixture built from the SPEC, not via encodeY4m (the BMP discipline):
    // 2×2 4:2:0 ⇒ 4 luma + 2 chroma bytes per frame; the second frame
    // carries a parameter list the decoder must scan past
    val fx = asc("YUV4MPEG2 W2 H2 F25:1 Ip A1:1 C420jpeg\n") ++
      asc("FRAME\n") ++ Array[Byte](1, 2, 3, 4, 5, 6) ++
      asc("FRAME Xvoluntary param\n") ++ Array[Byte](10, 20, 30, 40, 50, 60)
    val (w, h, fs) = Multimodal.decodeY4m(fx)
    assert((w, h) == (2, 2))
    assert(fs.toSeq == Seq((10L, 11L), (100L, 110L)))
    // the C tag is optional (spec default 4:2:0)
    val noC = asc("YUV4MPEG2 W2 H2\nFRAME\n") ++ Array[Byte](9, 0, 0, 0, 0, 0)
    assert(Multimodal.decodeY4m(noC)._3.toSeq == Seq((9L, 0L)))
    def bad(p: Array[Byte]) =
      intercept[IllegalArgumentException](Multimodal.decodeY4m(p))
    bad(asc("YUV4MPEG3 W2 H2\nFRAME\n") ++ Array.fill[Byte](6)(0)) // magic
    bad(asc("YUV4MPEG2 W2 H2"))                    // unterminated header
    bad(asc("YUV4MPEG2 H2\nFRAME\n") ++ Array.fill[Byte](6)(0))   // no W
    bad(asc("YUV4MPEG2 W3 H2\nFRAME\n") ++ Array.fill[Byte](9)(0)) // odd W
    bad(asc("YUV4MPEG2 W2 H2 C444\nFRAME\n") ++ Array.fill[Byte](6)(0))
    bad(asc("YUV4MPEG2 W2 H2\nFRAME\n") ++ Array.fill[Byte](5)(0)) // short
    bad(asc("YUV4MPEG2 W2 H2\nFRAMEX\n") ++ Array.fill[Byte](6)(0)) // param
    bad(asc("YUV4MPEG2 W2 H2\n"))                  // zero frames
    bad(asc("YUV4MPEG2 W2 H2\nFRAME\n") ++ Array.fill[Byte](7)(0)) // junk
    // Int-overflow geometry: w*h wraps negative — must fail loudly, not
    // loop forever on a non-advancing frame walk (review finding)
    bad(asc("YUV4MPEG2 W2147483646 H2\nFRAME\n") ++ Array.fill[Byte](6)(0))
    bad(asc("YUV4MPEG2 W46342 H46342\nFRAME\n") ++ Array.fill[Byte](6)(0))
  }

  test("decodePng is strict: CRC, truncation, and unsupported variants fail loudly") {
    val ok = operators.Multimodal.encodePng(Array[Byte](1, 2, 3, 4, 5))
    // flip one pixel byte inside IDAT: the chunk CRC must catch it
    val corrupt = ok.clone()
    corrupt(8 + 12 + 13 + 8 + 2) = (corrupt(8 + 12 + 13 + 8 + 2) ^ 0x40).toByte
    val e1 = intercept[IllegalArgumentException] {
      operators.Multimodal.decodePng(corrupt) }
    assert(e1.getMessage.contains("CRC"))
    // truncation mid-chunk
    intercept[IllegalArgumentException] {
      operators.Multimodal.decodePng(ok.take(ok.length - 6)) }
    // not a PNG at all
    intercept[IllegalArgumentException] {
      operators.Multimodal.decodePng(Array.fill[Byte](30)(7)) }
    // a 16-bit grayscale PNG (ImageIO TYPE_USHORT_GRAY → color type 0,
    // bit depth 16) is outside the claimed subset → clean reject
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    val bos = new java.io.ByteArrayOutputStream
    javax.imageio.ImageIO.write(img, "png", bos)
    val e2 = intercept[IllegalArgumentException] {
      operators.Multimodal.decodePng(bos.toByteArray) }
    assert(e2.getMessage.contains("unsupported"))
  }

  test("asofJoin union+carry-forward matches the naive range-join formulation") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, sf)
    val p = e.filter(col("event_type") === "purchase")
    val v = e.filter(col("event_type") === "view")
    val fast = operators.TimeSeries.asofJoin(p, v, "user_id", "ts")
      .select(col("event_id"), col("_asof_ts"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString))).toMap
    // naive O(|L|·|R|) per key: range join + row_number
    val naive = p.as("p").join(v.as("v"),
        col("p.user_id") === col("v.user_id") && col("v.ts") <= col("p.ts"), "left")
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("p.event_id")).orderBy(col("v.ts").desc_nulls_last)))
      .filter(col("rn") === 1)
      .select(col("p.event_id"), col("v.ts"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString))).toMap
    assert(fast == naive)
  }

  test("TopKPerKey custom operator matches the window-function formulation") {
    import org.apache.spark.sql.functions.col
    val events = Tables.events(spark, sf).select("user_id", "event_id", "value")
    val custom = plans.TopK.perKey(events,
        Seq("user_id"), Seq("value" -> "desc", "event_id" -> "asc"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaWindow = run("window_rank") // row_number()<=3, same keys/order
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))).toSet
    assert(custom == viaWindow)
    // plan contains the custom exec in both phases with an exchange between
    // (nodeName strips the Exec suffix; trailing bool is the partial flag)
    val plan = plans.TopK.perKey(events,
      Seq("user_id"), Seq("value" -> "desc"), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey") && plan.contains("Exchange hashpartitioning"))
    assert(plan.contains(", true") && plan.contains(", false")) // partial + final
  }

  test("approx_count_distinct within 5% of exact (HLL accuracy)") {
    // the registered query emits the accuracy claim as a boolean; this test
    // additionally checks the raw estimate numerically
    val rows = run("approx_distinct").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("approx_within_5pct")))
    val raw = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(approx_count_distinct("user_id", 0.02).as("a"),
           countDistinct("user_id").as("e"))
      .collect()
    raw.foreach { r =>
      val a = r.getAs[Long]("a").toDouble
      val e = r.getAs[Long]("e").toDouble
      assert(math.abs(a - e) / e < 0.05, s"approx $a vs exact $e")
    }
  }

  test("top_customers revenue is positive and strictly rank-ordered") {
    val rows = run("top_customers").collect()
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.forall(_ > 0))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
  }

  test("decontaminate: eval docs excluded, ratios bounded, flag honors threshold") {
    val rows = run("decontaminate").collect()
    assert(rows.forall(_.getAs[Long]("doc_id") >= 25), "eval docs leaked into output")
    rows.foreach { r =>
      val c = r.getAs[Double]("contamination")
      assert(c >= 0.0 && c <= 1.0, s"contamination out of range: $c")
      assert(r.getAs[Boolean]("flagged") == (c >= 0.1))
      assert(r.getAs[Long]("contaminated_grams") <= r.getAs[Long]("n_grams"))
    }
  }

  test("stratified_sample: deterministic across runs and strata rates differ") {
    val a = run("stratified_sample").collect().map(_.getLong(0)).toSeq
    val b = run("stratified_sample").collect().map(_.getLong(0)).toSeq
    assert(a == b, "hash sampling must be run-deterministic")
    // en is downsampled at 20% vs 60% for the rest: its keep ratio over
    // the full corpus must come out materially lower
    val docs = Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = run("stratified_sample")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = kept("en").toDouble / docs("en")
    val restRate = (kept - "en").values.sum.toDouble / (docs - "en").values.sum
    assert(enRate < restRate, s"en $enRate should be sampled below rest $restRate")
  }

  test("shard_packing: shards within a stratum are contiguous and hold the budget") {
    val rows = run("shard_packing").collect()
      .groupBy(_.getAs[String]("lang"))
    rows.foreach { case (lang, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("doc_id"))
      val shards = sorted.map(_.getAs[Long]("shard_id"))
      assert(shards.zip(shards.tail).forall { case (a, b) => a <= b },
        s"$lang: shard ids must be monotone in doc order")
      // a shard's token total can overshoot only by its LAST doc (packing
      // is first-fit in doc order): preceding docs stay under budget
      sorted.groupBy(_.getAs[Long]("shard_id")).foreach { case (sid, docs) =>
        val toks = docs.sortBy(_.getAs[Long]("doc_id")).map(_.getAs[Long]("n_tokens"))
        assert(toks.dropRight(1).sum < 2000,
          s"$lang shard $sid exceeds budget before its final doc")
      }
    }
  }

  test("frameSample: stride boundaries, short tails, empty payloads") {
    import operators.Multimodal.{frameSample, FrameStride, MediaRecord, SampleEvery}
    def rec(n: Int) = MediaRecord(1L, "x", Array.tabulate(n)(i => (i % 251).toByte))
    // empty payload → no frames
    assert(frameSample(Iterator(rec(0))).isEmpty)
    // payload shorter than one stride → a single short frame
    val short = frameSample(Iterator(rec(10))).toList
    assert(short.map(f => (f.frame_idx, f.byte_off, f.frame_len)) == List((0, 0, 10)))
    assert(short.head.checksum == (0 until 10).map(_ % 251).sum)
    // exactly k·stride bytes → frames 0 and k sampled, full stride lengths
    val exact = frameSample(Iterator(rec(FrameStride * (SampleEvery + 1)))).toList
    assert(exact.map(_.frame_idx) == List(0, SampleEvery))
    assert(exact.forall(_.frame_len == FrameStride))
    // one byte past a sampled frame boundary → trailing 1-byte frame kept
    // only if its index lands on the stride
    val tail = frameSample(Iterator(rec(FrameStride * SampleEvery * 2 + 1))).toList
    assert(tail.map(_.frame_idx) == List(0, SampleEvery, SampleEvery * 2))
    assert(tail.last.frame_len == 1)
  }

  test("mode_per_group matches a groupBy-count argmax recomputation") {
    val got = run("mode_per_group").collect()
      .map(r => r.getAs[Long]("user_id") -> (r.getAs[String]("mode_event_type"), r.getAs[Long]("n_events")))
      .toMap
    val counts = Tables.events(spark, sf)
      .groupBy("user_id", "event_type").count().collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"), r.getAs[Long]("count")))
    val expect = counts.groupBy(_._1).map { case (u, rs) =>
      u -> rs.map(t => (t._2, t._3)).minBy { case (t, n) => (-n, t) }
    }
    assert(got == expect)
  }

  test("block_dedup matches a naive first-occurrence recomputation") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val inst = docs.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      toks.grouped(3).zipWithIndex.map { case (b, i) => (id, i, b.mkString(" ")) }
    }
    val first = scala.collection.mutable.Map.empty[String, (Long, Int)]
    inst.foreach { case (d, i, b) => // inst is (doc_id, idx)-sorted already
      if (!first.contains(b)) first(b) = (d, i)
    }
    val expect = inst.groupBy(_._1).map { case (d, rs) =>
      d -> (rs.length.toLong, rs.count { case (dd, i, b) => first(b) != ((dd, i)) }.toLong)
    }
    val got = run("block_dedup").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_blocks"), r.getAs[Long]("dup_blocks"))).toMap
    assert(got == expect)
    // non-degenerate on the synthetic corpus: some duplication must exist
    assert(got.values.map(_._2).sum > 0, "no duplicate blocks found — test corpus degenerate")
  }

  test("semantic_dedup matches brute-force within-cell cosine at the threshold") {
    val e = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byLabel = e.groupBy(_._2)
    val expect = e.map { case (id, lab, v) =>
      val reps = byLabel(lab).filter(o => o._1 < id && cos(o._3, v) >= 0.30).map(_._1)
      id -> (if (reps.isEmpty) None else Some(reps.min))
    }.toMap
    val got = run("semantic_dedup").collect().map { r =>
      r.getAs[Long]("vec_id") ->
        (if (r.isNullAt(r.fieldIndex("rep_id"))) None else Some(r.getAs[Long]("rep_id")))
    }.toMap
    assert(got == expect)
    val dropped = got.values.count(_.isDefined)
    assert(dropped > 0 && dropped < got.size,
      s"degenerate verdict: $dropped/${got.size} dropped")
  }

  test("pdf: render -> strict parse round-trips text exactly; layout arithmetic holds") {
    import graft.operators.Pdf
    val texts = Seq(
      "plain ascii words here",
      "",                                  // one empty token, one line, one page
      "parens (x) and \\ backslash \\( tricky )",
      "unicode café straße 中文 😀 mixed",
      "a  b   c",                          // doubled spaces = empty tokens
      (1 to 400 * Pdf.LineTokens).map(i => s"t$i").mkString(" "), // 400 lines = 10 pages
      (1 to 400 * Pdf.LineTokens + 1).map(i => s"t$i").mkString(" ")) // +1 token -> 11th page
    for (t <- texts; flate <- Seq(false, true)) {
      val doc = Pdf.parsePdf(Pdf.renderPdf(t, flate))
      assert(doc.text == t, s"round-trip mangled (flate=$flate): '${t.take(40)}...'")
      val nTok = t.split(" ", -1).length
      val nl = (nTok + Pdf.LineTokens - 1) / Pdf.LineTokens
      assert(doc.lines.length == nl, s"line count for '${t.take(20)}'")
      assert(doc.nPages == (nl + Pdf.PageLines - 1) / Pdf.PageLines)
      assert(doc.pageLines.forall(_.length <= Pdf.PageLines))
    }
    // corrupt zlib body: same length, garbage bytes — must reject loudly
    val fl = Pdf.renderPdf("compressed tokens for the corrupt case", flate = true)
    val s = new String(fl, "ISO-8859-1")
    val st = s.indexOf("stream\n") + 7
    val garbled = fl.clone
    (st until st + 8).foreach(i => garbled(i) = 0x55.toByte)
    val e = intercept[IllegalArgumentException](Pdf.parsePdf(garbled))
    assert(e.getMessage.contains("FlateDecode") ||
      e.getMessage.startsWith("pdf reject:"), e.getMessage)
  }

  test("pdf: rejection battery — every structural violation fails loudly") {
    import graft.operators.Pdf
    val good = Pdf.renderPdf("ten little tokens walking in a well formed file")
    val raw = new String(good, "ISO-8859-1")
    def mutate(f: String => String): Array[Byte] =
      f(raw).getBytes("ISO-8859-1")
    val cases: Seq[(String, Array[Byte])] = Seq(
      "bad header" -> mutate(_.replaceFirst("%PDF-1\\.4", "%FDP-1.4")),
      "missing startxref" -> mutate(_.replace("startxref", "startxrfe")),
      "xref offset off by one" -> mutate { s =>
        // shift object 1's recorded offset: it no longer lands on '1 0 obj'
        val i = s.indexOf("0000000000 65535 f")
        val e = s.indexOf('\n', i) + 1
        s.substring(0, e) + "0000000042" + s.substring(e + 10)
      },
      "length mismatch" -> mutate(_.replaceFirst("/Length (\\d+)", "/Length 7")),
      "count mismatch" -> mutate(_.replaceFirst("/Count 1", "/Count 2")),
      "root not a catalog" -> mutate(_.replaceFirst("/Type /Catalog", "/Type /Catalogg")),
      "unknown content operator" -> mutate(_.replaceFirst("72 720 Td", "72 720 Tz")),
      "truncated" -> good.take(good.length / 2),
      // the three shapes that escaped as raw exceptions before round 13
      // (r12 advice): each must surface as a 'pdf reject:', not a
      // NumberFormat/StringIndexOutOfBounds
      "non-numeric xref subsection count" -> mutate { s =>
        val i = s.lastIndexOf("xref\n0 ")
        s.substring(0, i + 7) + "x" + s.substring(i + 8)
      },
      "file truncated inside the xref entry block" -> mutate { s =>
        val i = s.lastIndexOf("0000000000 65535 f")
        s.substring(0, i + 25)
      },
      "startxref offset overflows Int" -> mutate(
        _.replaceFirst("startxref\n\\d+", "startxref\n99999999999")))
    cases.foreach { case (what, bytes) =>
      val e = intercept[IllegalArgumentException](Pdf.parsePdf(bytes))
      assert(e.getMessage.startsWith("pdf reject:"), s"$what: ${e.getMessage}")
    }
    // string-level violations: build content-stream corruption through the
    // writer's own escapes so the file stays structurally aligned
    val parens = Pdf.renderPdf("token")
    val s2 = new String(parens, "ISO-8859-1")
    val bodyIdx = s2.indexOf("(token)")
    // unescaped '(' inside the literal — same byte count, same /Length
    val nested = s2.substring(0, bodyIdx) + "(to(en)" + s2.substring(bodyIdx + 7)
    val e2 = intercept[IllegalArgumentException](
      Pdf.parsePdf(nested.getBytes("ISO-8859-1")))
    assert(e2.getMessage.startsWith("pdf reject:"))
    // a lone UTF-8 continuation byte via octal escape: invalid UTF-8.
    // "(xxxxxx)" and "(x\377x)" are both 8 bytes, so every offset and the
    // declared /Length stay aligned — only the decoded bytes go bad
    val mal = Pdf.renderPdf("xxxxxx")
    val s3 = new String(mal, "ISO-8859-1")
    val i3 = s3.indexOf("(xxxxxx)")
    val badUtf = s3.substring(0, i3) + "(x\\377x)" + s3.substring(i3 + 8)
    val e3 = intercept[IllegalArgumentException](
      Pdf.parsePdf(badUtf.getBytes("ISO-8859-1")))
    assert(e3.getMessage.contains("UTF-8"), e3.getMessage)
    // magic routing: the dispatch sees the rendered file as pdf
    assert(graft.operators.Multimodal.sniffMediaType(good) == "pdf")
  }

  test("driver-held model state honors its declared caps on the hostile corpus") {
    // round-12 verdict item 7: the bounded-driver-state claims were
    // structural (limit()/bucket arithmetic in the code); this asserts
    // them ON DATA, WARC-bucket style, preferring the hostile corpus
    // (unicode storms, 50 kB docs, NULL text) when the sweep has built it
    import graft.operators.{TextAnalysis, UnigramLm}
    val dir =
      if (new java.io.File("/tmp/adv_corpus/documents.parquet").exists)
        "/tmp/adv_corpus" else sf
    // quality_classifier: features are bucketed, so the weight map — the
    // engine's largest driver-resident object — can never exceed QcBuckets
    val w = TextAnalysis.trainQualityPerceptron(spark, dir)
    assert(w.size <= TextAnalysis.QcBuckets,
      s"perceptron holds ${w.size} weights > QcBuckets=${TextAnalysis.QcBuckets}")
    assert(w.keys.forall(f => f >= 0 && f < TextAnalysis.QcBuckets),
      "a feature escaped the bucket range")
    // BPE: the adopted merge list is bounded by rounds × batch (each
    // round collects at most BpeCandidates rows and adopts ≤ BpeBatch)
    val (merges, _) = TextAnalysis.bpeTrain(spark, dir)
    assert(merges.size <= TextAnalysis.BpeRounds * TextAnalysis.BpeBatch,
      s"BPE adopted ${merges.size} merges > rounds×batch")
    // Unigram: final vocab = corpus alphabet + at most SeedMulti
    // multi-codepoint pieces (the seed cap dominates VocabMulti)
    val (_, scores) = UnigramLm.train(spark, dir)
    val multi = scores.keys.count(p => UnigramLm.cps(p).length > 1)
    assert(multi <= UnigramLm.SeedMulti,
      s"unigram holds $multi multi-codepoint pieces > SeedMulti")
    val alphabet = Tables.documents(spark, dir)
      .select(explode(split(coalesce(col("text"), lit("")), "")).as("ch"))
      .filter(length(col("ch")) > 0).distinct().count()
    assert(scores.size <= alphabet + UnigramLm.SeedMulti,
      s"unigram vocab ${scores.size} exceeds alphabet($alphabet)+SeedMulti")
  }

  test("jpeg_phash: flat-block JPEG round-trip is exactly lossless for all 256 values") {
    // the oracle's whole claim: a flat block survives encode→decode
    // bit-for-bit, so the decoded block-mean luma IS the source byte
    import graft.operators.{Jpeg, Multimodal}
    val bad = (0 until 256).flatMap { v =>
      val img = Jpeg.decodeJpeg(Jpeg.encodeJpegFlat(Array(v.toByte)))
      val luma = Multimodal.jpegBlockLuma(img)
      val distinct = img.planes(0).distinct.toList
      if (luma.sameElements(Array(v)) && distinct == List(v)) None
      else Some((v, luma.toList, distinct.take(4)))
    }
    assert(bad.isEmpty, s"non-lossless flat blocks: ${bad.take(8)}")
    // multi-byte payloads: the chain is the byte stream zero-padded to
    // the square-ish grid (5 bytes -> 3x2 blocks -> one pad zero)
    val payload = Array[Byte](0, 127, -1, -128, 64)
    val luma = Multimodal.jpegBlockLuma(
      Jpeg.decodeJpeg(Jpeg.encodeJpegFlat(payload)))
    assert(luma.toList == payload.map(_ & 0xff).toList :+ 0)
    // empty payload: one zero block (the oracle's greatest(1, n) rule)
    assert(Multimodal.jpegBlockLuma(
      Jpeg.decodeJpeg(Jpeg.encodeJpegFlat(Array.empty))).toList == List(0))
    // the SOF u16 ceiling: a 50k-byte payload (the hostile corpus) must
    // round-trip — the single-column geometry this replaced overflowed
    // height past 8191 bytes and silently truncated the chain
    val big = Array.tabulate(50013)(i => (i * 31 % 256).toByte)
    val bigLuma = Multimodal.jpegBlockLuma(
      Jpeg.decodeJpeg(Jpeg.encodeJpegFlat(big)))
    val (bw, bh) = Jpeg.flatGrid(big.length)
    assert(bigLuma.length == bw * bh)
    assert(bigLuma.take(big.length).toList == big.map(_ & 0xff).toList)
    assert(bigLuma.drop(big.length).forall(_ == 0))
  }

  test("jpeg_phash: magic-byte routing dispatches BMP and JPEG, rejects corrupt bodies") {
    import graft.operators.{Jpeg, Multimodal}
    val payload = "mixed media routing fixture".getBytes("UTF-8")
    // BMP magic routes to the per-pixel BT.601 walk
    val bmp = Multimodal.encodeBmp(payload, topDown = false)
    assert(Multimodal.mediaLuma(bmp).sameElements(Multimodal.bmpLuma(bmp)))
    // JPEG magic routes through the full baseline engine to block means
    val jp = Jpeg.encodeJpegFlat(payload)
    assert(Multimodal.sniffMediaType(jp) == "jpeg")
    assert(Multimodal.mediaLuma(jp).take(payload.length)
      .sameElements(payload.map(_ & 0xff)))
    // a payload whose magic MATCHES jpeg but whose body is corrupt must
    // fail loudly, not produce a fingerprint (truncated mid-entropy, and
    // a clobbered Huffman table length)
    intercept[Exception](Multimodal.mediaLuma(jp.take(jp.length / 2)))
    val mangled = jp.clone
    mangled(6) = 0x7f.toByte // inside the DQT segment: breaks the walk
    intercept[Exception](Multimodal.mediaLuma(mangled))
    // neither image magic: no silent downgrade
    val e = intercept[IllegalArgumentException](
      Multimodal.mediaLuma("plain text".getBytes("UTF-8")))
    assert(e.getMessage.contains("no luma path"))
  }

  test("png_phash: encode->decode luma is exactly the padded RGB-triple walk") {
    // the oracle's whole claim: encodePng is lossless (filter-0 rows,
    // exact-size inflate), so pngLuma(encodePng(bytes)) IS the BT.601
    // integer luma of the source bytes read as RGB triples, zero-padded
    // to full PngWidth-pixel rows (min 1 row)
    import graft.operators.Multimodal
    def expected(bytes: Array[Byte]): Array[Int] = {
      val rowBytes = Multimodal.PngWidth * 3
      val h = math.max(1, (bytes.length + rowBytes - 1) / rowBytes)
      val padded = bytes ++ Array.fill[Byte](h * rowBytes - bytes.length)(0)
      Array.tabulate(Multimodal.PngWidth * h) { k =>
        (299 * (padded(3 * k) & 0xff) + 587 * (padded(3 * k + 1) & 0xff)
          + 114 * (padded(3 * k + 2) & 0xff)) / 1000
      }
    }
    val fixtures = Seq(
      Array.empty[Byte],                       // min-1-row rule
      Array[Byte](7),                          // sub-pixel payload
      Array[Byte](0, 127, -1, -128, 64),       // mixed signs, partial row
      Array.tabulate(256)(_.toByte),           // every byte value
      Array.tabulate(50013)(i => (i * 31 % 256).toByte)) // hostile size
    fixtures.foreach { bytes =>
      val got = Multimodal.pngLuma(Multimodal.encodePng(bytes))
      assert(got.sameElements(expected(bytes)),
        s"luma drifted for a ${bytes.length}-byte payload")
    }
  }

  test("png_phash: magic-byte routing dispatches PNG, rejects corrupt bodies") {
    import graft.operators.Multimodal
    val payload = "mixed media routing fixture".getBytes("UTF-8")
    val png = Multimodal.encodePng(payload)
    assert(Multimodal.sniffMediaType(png) == "png")
    // the dispatch and the direct decode agree
    assert(Multimodal.mediaLuma(png).sameElements(Multimodal.pngLuma(png)))
    // a payload whose magic MATCHES png but whose body is corrupt must
    // fail loudly, not produce a fingerprint: a flipped IDAT byte (CRC
    // catches it) and a truncated file
    val mangled = png.clone
    val idat = {
      var i = 8
      while (!(mangled(i + 4) == 'I' && mangled(i + 5) == 'D' &&
        mangled(i + 6) == 'A' && mangled(i + 7) == 'T')) {
        val len = ((mangled(i) & 0xff) << 24) | ((mangled(i + 1) & 0xff) << 16) |
          ((mangled(i + 2) & 0xff) << 8) | (mangled(i + 3) & 0xff)
        i += 12 + len
      }
      i
    }
    mangled(idat + 10) = (mangled(idat + 10) ^ 0x55).toByte
    val e1 = intercept[IllegalArgumentException](Multimodal.mediaLuma(mangled))
    assert(e1.getMessage.contains("CRC"), e1.getMessage)
    intercept[Exception](Multimodal.mediaLuma(png.take(png.length / 2)))
    // a real encoder's output (ImageIO picks its own per-row filters)
    // decodes to the same luma ImageIO reports pixel-for-pixel
    val img = new java.awt.image.BufferedImage(7, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 5).foreach(y => (0 until 7).foreach(x =>
      img.setRGB(x, y, ((x * 37 + y * 91) % 256) * 0x010101 + x * 7)))
    val bos = new java.io.ByteArrayOutputStream
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val got = Multimodal.pngLuma(bos.toByteArray)
    val want = for (y <- 0 until 5; x <- 0 until 7) yield {
      val rgb = img.getRGB(x, y)
      (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff)
        + 114 * (rgb & 0xff)) / 1000
    }
    assert(got.sameElements(want), "pngLuma drifted from ImageIO's raster")
  }

  test("gif: LZW round-trip is exactly lossless across width-growth and clear boundaries") {
    import graft.operators.{Gif, Multimodal}
    // every byte value survives encode->decode as itself (gray-ramp
    // identity: luma == index == source byte)
    (0 until 256).foreach { v =>
      val luma = Multimodal.gifLuma(Gif.encodeGif(Array(v.toByte)))
      assert(luma.take(1).toList == List(v), s"value $v drifted")
    }
    def expected(bytes: Array[Byte]): Array[Int] = {
      val (w, h) = Gif.gifGrid(bytes.length)
      val padded = bytes ++ Array.fill[Byte](w * h - bytes.length)(0)
      padded.map(_ & 0xff)
    }
    // sizes that force the 9->10->11->12-bit code growths and (at 50k of
    // high-entropy bytes) dictionary-full clear resets; plus the KwKwK
    // shape (a run of one repeated byte triggers it immediately)
    val rng = new scala.util.Random(11)
    val fixtures = Seq(
      Array.empty[Byte],
      Array.fill[Byte](40)(7),                       // KwKwK chains
      Array.tabulate(600)(i => (i % 251).toByte),
      Array.tabulate(2000)(_ => rng.nextInt(256).toByte),
      Array.tabulate(50013)(_ => rng.nextInt(256).toByte),
      // past the old fixed-width ceiling (height would exceed u16 at
      // width 7): the square-ish grid must keep both dims small
      Array.tabulate(500000)(i => (i * 7 % 256).toByte))
    fixtures.foreach { bytes =>
      val got = Multimodal.gifLuma(Gif.encodeGif(bytes))
      assert(got.sameElements(expected(bytes)),
        s"LZW round-trip drifted for a ${bytes.length}-byte payload")
    }
  }

  test("gif: foreign-codec parity both directions (ImageIO) and strict rejection") {
    import graft.operators.{Gif, Multimodal}
    // OUR encoder -> ImageIO's decoder: proves the emitted LZW stream
    // (code widths, sub-blocks, terminators) is spec-valid to a foreign
    // reader, not just to our own
    val payload = Array.tabulate(3000)(i => (i * 131 % 256).toByte)
    val ours = Gif.encodeGif(payload)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(ours))
    assert(img != null, "ImageIO refused our GIF")
    val (w, h) = Gif.gifGrid(payload.length)
    assert(img.getWidth == w && img.getHeight == h)
    val padded = payload ++ Array.fill[Byte](w * h - payload.length)(0)
    for (y <- 0 until h; x <- 0 until w) {
      val v = padded(y * w + x) & 0xff
      assert((img.getRGB(x, y) & 0xffffff) == (v << 16 | v << 8 | v),
        s"ImageIO decoded pixel ($x,$y) differently")
    }
    // ImageIO's encoder -> OUR decoder: a foreign writer with its own
    // sub-block sizes, extensions (GCE), and code-growth choices
    val src = new java.awt.image.BufferedImage(9, 6,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    (0 until 6).foreach(y => (0 until 9).foreach(x =>
      src.getRaster.setSample(x, y, 0, (x * 29 + y * 53) % 256)))
    val bos = new java.io.ByteArrayOutputStream
    assert(javax.imageio.ImageIO.write(src, "gif", bos))
    val theirs = bos.toByteArray
    assert(Multimodal.sniffMediaType(theirs) == "gif")
    val dec = Gif.decodeGif(theirs)
    assert(dec.width == 9 && dec.height == 6)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(theirs))
    for (y <- 0 until 6; x <- 0 until 9)
      assert((dec.rgb(y * 9 + x) & 0xffffff) == (back.getRGB(x, y) & 0xffffff),
        s"our decode of ImageIO's GIF differs at ($x,$y)")
    // rejection battery: every structural violation fails as 'gif reject:'
    val cases: Seq[(String, Array[Byte])] = Seq(
      "bad magic" -> { val m = ours.clone; m(3) = '9'; m(4) = '9'; m },
      "truncated mid-stream" -> ours.take(ours.length / 2),
      "missing trailer" -> ours.take(ours.length - 1),
      "clobbered sub-block length" -> {
        val m = ours.clone
        // the first data sub-block length byte sits right after the LZW
        // min-code byte, which follows the 10-byte image descriptor and
        // the 6+7+768-byte header+LSD+palette
        val off = 6 + 7 + 768 + 10 + 1
        m(off) = 3 // desyncs the sub-block walk into the LZW byte stream
        m
      })
    cases.foreach { case (what, bytes) =>
      val e = intercept[IllegalArgumentException](Gif.decodeGif(bytes))
      assert(e.getMessage.startsWith("gif reject:"), s"$what: ${e.getMessage}")
    }
    // routing: the dispatch agrees with the direct decode
    assert(Multimodal.mediaLuma(ours).sameElements(Multimodal.gifLuma(ours)))
  }

  test("semdedup_trained: keep/drop replays brute-force band cosines; ranks dense") {
    // the trained cells + ranks are oracle-checked (unrolled Lloyd CTEs);
    // this verifies the PRUNE DECISION against them brute-force: a member
    // is dropped iff some ≤SemBand-earlier-ranked cell-mate clears the
    // round-6 cosine threshold, dup_of is the EARLIEST such mate, and
    // ranks are dense 1..cell_size
    val vecsById = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      .toMap
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val rows = run("semdedup_trained").collect().map { r =>
      (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"), r.getAs[Int]("rank"),
        r.getAs[Boolean]("keep"),
        if (r.isNullAt(r.fieldIndex("dup_of"))) None
        else Some(r.getAs[Long]("dup_of")))
    }
    rows.groupBy(_._2).foreach { case (cell, members) =>
      val byRank = members.sortBy(_._3)
      assert(byRank.map(_._3).toSeq == (1 to members.length),
        s"cell $cell ranks not dense")
      byRank.foreach { case (id, _, rank, keep, dupOf) =>
        val band = byRank.filter(m =>
          m._3 < rank && m._3 >= rank - operators.Similarity.SemBand)
        val hits = band.filter(m =>
          cos6(vecsById(m._1), vecsById(id)) >= operators.Similarity.SemTau)
        if (keep) assert(hits.isEmpty && dupOf.isEmpty,
          s"vec $id kept but band mates ${hits.map(_._1).toSeq} clear the threshold")
        else assert(dupOf.contains(hits.minBy(_._3)._1),
          s"vec $id dup_of $dupOf != earliest hit ${hits.headOption.map(_._1)}")
      }
    }
    val dropped = rows.count(!_._4)
    assert(dropped > 0 && dropped < rows.length,
      s"degenerate verdict: $dropped/${rows.length} dropped")
  }

  test("semantic_keep_list: verdicts replay brute-force cell cosines") {
    // cells are oracle-checked (unrolled Lloyd CTEs); this verifies the
    // LEAK DECISION against them brute-force: a train vector is stripped
    // iff some eval member of its cell clears the round-6 threshold,
    // leak_of is the strongest such member (ties -> min id), and
    // sim_micros is that cosine in exact micro-units
    import operators.{Curation, Similarity}
    val vecsById = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      .toMap
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val rows = run("semantic_keep_list").collect().map { r =>
      (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Boolean]("keep"),
        if (r.isNullAt(r.fieldIndex("leak_of"))) None
        else Some(r.getAs[Long]("leak_of")),
        if (r.isNullAt(r.fieldIndex("sim_micros"))) None
        else Some(r.getAs[Long]("sim_micros")))
    }
    // eval cell assignment comes from the SAME output universe: eval ids
    // are exactly those below the cutoff, and their cells come from
    // semdedup_trained (oracle-checked identical Lloyd bank)
    val evalCells = run("semdedup_trained").collect()
      .filter(_.getAs[Long]("vec_id") < Curation.EvalMaxDocId)
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell"))
    assert(rows.forall(_._1 >= Curation.EvalMaxDocId),
      "eval vectors must not receive verdicts")
    rows.foreach { case (id, cell, keep, leakOf, simMicros) =>
      val hits = evalCells.filter(_._2 == cell)
        .map { case (eid, _) => (eid, cos6(vecsById(id), vecsById(eid))) }
        .filter(_._2 >= Similarity.SemTau)
      if (keep) assert(hits.isEmpty && leakOf.isEmpty && simMicros.isEmpty,
        s"vec $id kept but eval mates ${hits.map(_._1).toSeq} clear the threshold")
      else {
        val best = hits.minBy { case (eid, c) => (-c, eid) }
        assert(leakOf.contains(best._1) &&
          simMicros.contains(math.round(best._2 * 1e6)),
          s"vec $id verdict ($leakOf, $simMicros) != brute-force $best")
      }
    }
    // the synthetic corpus is near-uniform, so zero strips is a
    // legitimate verdict here (each row already replayed above); the
    // POSITIVE path is pinned by the planted-paraphrase fixture below.
    // Reject only the reject-everything degenerate.
    assert(rows.count(!_._3) < rows.length,
      s"degenerate verdict: everything stripped")
  }

  test("semantic_keep_list: fuzzy superset of exact on a planted paraphrase fixture") {
    // an exact eval copy lands in the same trained cell with cosine 1
    // (always caught), and a small perturbation must ALSO be caught —
    // the property that makes this pass catch what the verbatim passes
    // (decontaminate_spans et al.) cannot
    import operators.Curation
    val dir = "/tmp/graft_sem_decon_fixture"
    val rng = new scala.util.Random(7)
    def unit(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(64)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    // eval ids 0..24 (the full slice, also the Lloyd seeds), train:
    // 100 = exact copy of eval 3, 101 = eval 5 + small noise
    // (paraphrase), 200.. = fresh random directions (mostly clean)
    val eval = (0 until Curation.EvalMaxDocId).map(i => (i.toLong, unit(i)))
    val para = unit(5).map(x => x + rng.nextGaussian().toFloat * 0.05f)
    val train = Seq((100L, unit(3)), (101L, para)) ++
      (200L until 230L).map(i => (i, unit(i.toInt * 31 + 7)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((eval ++ train).map { case (id, v) =>
        org.apache.spark.sql.Row(id, v.toSeq, 0)
      }),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.IntegerType))))
    df.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("semantic_keep_list")(spark, dir)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Boolean]("keep")).toMap
    // exact: cos(100, eval 3) = 1 >= tau, same cell by construction
    assert(!out(100L), "exact eval copy escaped the semantic pass")
    // fuzzy: the paraphrase clears tau (cos ~ 0.999) and shares the cell
    assert(!out(101L), "near-paraphrase of an eval item escaped")
    // and the pass is not a reject-everything stub
    assert(out.count(_._2) > 10, "most fresh directions must survive")
  }

  test("chunk_documents: full token coverage, width/stride respected, text reconstructs") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val chunks = run("chunk_documents").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id"),
        r.getAs[Long]("n_tokens"), r.getAs[String]("chunk_text")))
    chunks.groupBy(_._1).foreach { case (id, rs) =>
      val toks = texts(id)
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (0 until rs.length),
        s"doc $id chunk ids not dense")
      sorted.foreach { case (_, cid, n, text) =>
        val start = cid * 24
        val expect = toks.slice(start, start + 32)
        assert(text.split(" ", -1).toSeq == expect.toSeq, s"doc $id chunk $cid text mismatch")
        assert(n == expect.length)
        // every chunk except the last is full-width
        if (cid < rs.length - 1) assert(n == 32L, s"doc $id chunk $cid short mid-chunk")
      }
      // coverage: last chunk reaches the final token
      val (_, lastCid, lastN, _) = sorted.last
      assert(lastCid * 24 + lastN >= toks.length, s"doc $id tail tokens uncovered")
    }
  }

  test("source_cap: cap honored, survivors are the hash-minimal docs, heap operator planned") {
    val rows = run("source_cap").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("keep_rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("h")))
    rows.groupBy(_._1).foreach { case (src, rs) =>
      assert(rs.length <= 20, s"$src over cap: ${rs.length}")
      assert(rs.sortBy(_._2).map(_._2).toSeq == (1 to rs.length), s"$src ranks not dense")
    }
    // survivors = first 20 per source under (h, doc_id) order, recomputed
    val byDoc = rows.map(r => (r._3, r._4)).toMap
    val all = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    all.groupBy(_._2).foreach { case (src, ds) =>
      val got = rows.filter(_._1 == src).sortBy(_._2).map(_._3).toSeq
      // recompute h only for docs the query surfaced; for the rest order
      // by the plan's own tiebreak is unavailable — so instead assert the
      // survivor SET is closed under the claimed order: every surfaced h
      // is <= none-surfaced is unknowable without recomputing the hash,
      // which the oracle already cross-checks — here assert set size
      assert(got.length == math.min(20, ds.length), s"$src wrong survivor count")
      assert(got.distinct.length == got.length)
      val hs = got.map(byDoc)
      assert(hs.zip(hs.tail).forall { case (a, b) => a <= b }, s"$src not h-ordered")
    }
    val plan = run("source_cap").queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), "source_cap lost its heap operator")
  }

  test("cdc_chunks: naive recomputation, full coverage, edit-stable boundaries") {
    val M = 1000000007L
    def code(t: String): Long =
      (if (t.isEmpty) 0L else t.head.toLong * 131 + t.last.toLong) + t.length
    def bounds(toks: Array[String]): Seq[Int] = {
      val codes = toks.map(code)
      val interior = (4 until toks.length).filter { i =>
        codes.slice(i - 4, i).foldLeft(0L)((a, x) => (a * 1000003 + x) % M) % 8 == 0
      }
      interior :+ toks.length
    }
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val got = run("cdc_chunks").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id"),
        r.getAs[Long]("start_tok"), r.getAs[Long]("n_tokens"),
        r.getAs[String]("chunk_text")))
    got.groupBy(_._1).foreach { case (id, rs) =>
      val toks = texts(id)
      val bs = bounds(toks)
      val sorted = rs.sortBy(_._2)
      assert(sorted.length == bs.length, s"doc $id chunk count")
      // chunks tile the document exactly: starts/ends chain, text matches
      var prev = 0L
      sorted.zip(bs).foreach { case ((_, _, start, n, text), b) =>
        assert(start == prev && start + n == b, s"doc $id span mismatch")
        assert(text == toks.slice(start.toInt, b).mkString(" "))
        prev = b
      }
      assert(prev == toks.length, s"doc $id tail uncovered")
    }
    // the CDC property fixed-width chunking lacks: an edit only disturbs
    // boundaries within a window of itself — all boundaries at least
    // CdcWindow past the edit point survive (positions shift by the
    // inserted token count)
    val orig = texts.head._2
    val edited = (orig.take(5) :+ "INSERTED") ++ orig.drop(5)
    val before = bounds(orig).filter(_ > 5 + 4).map(_ + 1)
    val after = bounds(edited).filter(_ > 5 + 4 + 1)
    assert(before.toSet.subsetOf(after.toSet),
      "downstream boundaries did not survive an upstream edit")
  }

  test("cdc_dedup matches naive chunk accounting; shared passages found at any offset") {
    val M = 1000000007L
    def code(t: String): Long =
      (if (t.isEmpty) 0L else t.head.toLong * 131 + t.last.toLong) + t.length
    def chunks(toks: Array[String]): Seq[String] = {
      val codes = toks.map(code)
      val interior = (4 until toks.length).filter { i =>
        codes.slice(i - 4, i).foldLeft(0L)((a, x) => (a * 1000003 + x) % M) % 8 == 0
      }
      val bounds = interior :+ toks.length
      val starts = 0 +: bounds.dropRight(1)
      starts.zip(bounds).map { case (s0, b) => toks.slice(s0, b).mkString(" ") }
    }
    // naive recomputation of the registered per-doc profile
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).sortBy(_._1)
    val inst = texts.flatMap { case (id, toks) =>
      chunks(toks).zipWithIndex.map { case (c, i) => (id, i, c) }
    }
    val first = scala.collection.mutable.Map.empty[String, (Long, Int)]
    inst.foreach { case (d, i, c) => if (!first.contains(c)) first(c) = (d, i) }
    val expect = inst.groupBy(_._1).map { case (d, rs) =>
      d -> (rs.length.toLong, rs.count { case (dd, i, c) => first(c) != ((dd, i)) }.toLong)
    }
    val got = run("cdc_dedup").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("dup_chunks"))).toMap
    assert(got == expect)
    assert(got.values.map(_._2).sum > 0, "no duplicate chunks — corpus degenerate")
    // the position-independence property block_dedup lacks: the same
    // passage embedded at DIFFERENT offsets yields common chunks
    val passage = texts.head._2
    val a = Array("alpha", "beta") ++ passage
    val b = Array("gamma", "delta", "epsilon", "zeta", "eta", "theta", "iota") ++ passage
    val shared = chunks(a).toSet.intersect(chunks(b).toSet)
    assert(shared.nonEmpty, "shared passage produced no common CDC chunks")
  }

  test("regr_stats matches a naive OLS fit") {
    val rows = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val got = run("regr_stats").collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("slope"), r.getAs[Double]("intercept"), r.getAs[Double]("r2"))).toMap
    rows.groupBy(_._1).foreach { case (flag, rs) =>
      val n = rs.length.toDouble
      val sx = rs.map(_._2).sum; val sy = rs.map(_._3).sum
      val sxy = rs.map(t => t._2 * t._3).sum
      val sxx = rs.map(t => t._2 * t._2).sum
      val slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
      val intercept = (sy - slope * sx) / n
      val (gs, gi, gr) = got(flag)
      // naive double sums differ from the exact-decimal path only in
      // accumulated rounding — compare loosely
      assert(math.abs(gs - slope) < math.abs(slope) * 1e-3, s"$flag slope $gs vs $slope")
      assert(math.abs(gi - intercept) < math.abs(intercept) * 1e-2 + 1.0)
      // quantity and price are independent in the synthetic testdata, so
      // the fit is weak — only the range invariant holds for r²
      assert(gr >= 0 && gr <= 1, s"$flag r2 out of range: $gr")
    }
  }

  test("winnow_fingerprint matches naive winnowing; shared passages share a fingerprint") {
    val P = 1000000007L
    def polyHash(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 131 + (b & 0xff)) % P)
    def winnow(toks: Array[String]): Set[Long] = {
      val m = toks.length - 2
      if (m <= 0) return Set.empty
      val gh = (0 until m).map(i => polyHash(toks.slice(i, i + 3).mkString(" ")))
      if (m < 4) Set(gh.min)
      else (0 to m - 4).map(j => gh.slice(j, j + 4).min).toSet
    }
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val got = run("winnow_fingerprint").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("fp")))
      .groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).toSet }
    texts.foreach { case (id, toks) =>
      assert(got.getOrElse(id, Set.empty[Long]) == winnow(toks), s"doc $id fingerprint mismatch")
    }
    // the winnowing guarantee: ≥ w+k-1 = 6 shared consecutive tokens ⇒ at
    // least one shared selected hash, wherever the passage sits
    val passage = texts.head._2.take(10)
    val a = Array("one", "two", "three") ++ passage
    val b = passage ++ Array("four", "five", "six", "seven")
    assert(winnow(a).intersect(winnow(b)).nonEmpty,
      "shared passage produced disjoint fingerprints")
  }

  test("top_ngrams matches a naive document-frequency count") {
    val docs = Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val df = scala.collection.mutable.Map.empty[String, Int]
    docs.foreach { t =>
      val toks = t.split(" ", -1)
      toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
        .foreach((g: String) => df(g) = df.getOrElse(g, 0) + 1)
    }
    val expect = df.toSeq.sortBy { case (g, n) => (-n, g) }.take(25)
      .map { case (g, n) => (g, n.toLong) }
    val got = run("top_ngrams").collect()
      .map(r => (r.getAs[String]("gram"), r.getAs[Long]("df"))).toSeq
    assert(got == expect)
  }

  test("fuzzy_join matches a naive blocked edit-distance join") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val names = Tables.part(spark, sf).select("p_name", "p_partkey").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (n, rs) => n -> rs.map(_._2).min }
    val expect = (for {
      (na, pa) <- names; (nb, pb) <- names
      if na < nb && na.split(" ").last == nb.split(" ").last && lev(na, nb) <= 2
    } yield (na, nb, lev(na, nb), pa, pb)).toSet
    val got = run("fuzzy_join").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == expect)
    assert(got.nonEmpty, "no fuzzy pairs — corpus degenerate for this test")
  }

  test("entity_clusters matches a naive union-find over the fuzzy pairs") {
    val pairs = run("fuzzy_join").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3), r.getLong(4)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val nameOf = scala.collection.mutable.Map.empty[Long, String]
    pairs.foreach { case (na, nb, pa, pb) =>
      nameOf(pa) = na; nameOf(pb) = nb
      val (ra, rb) = (find(pa), find(pb))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = nameOf.keys.groupBy(find).map { case (root, ids) =>
      // cluster label = min member id (the CC engine's min-label rule)
      ids.min -> ids.map(nameOf).toSeq.sorted.mkString(",")
    }
    val got = run("entity_clusters").collect()
      .map(r => r.getAs[Long]("cluster_id") -> r.getAs[String]("member_names")).toMap
    assert(got == expect)
    // transitivity did real work: fewer clusters than pairs, all size ≥ 2
    assert(got.size < pairs.length)
    assert(run("entity_clusters").collect().forall(_.getAs[Long]("cluster_size") >= 2))
  }

  test("domain_mix_weights: weights normalize and track sqrt(token share)") {
    val rows = run("domain_mix_weights").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tokens"), r.getAs[Double]("weight")))
    // each weight half-up-rounds to 6 decimals, so the sum sits within
    // n·5e-7 of exactly 1
    val sum = rows.map(_._3).sum
    assert(math.abs(sum - 1.0) <= rows.length * 5e-7, s"weights sum to $sum")
    val tot = rows.map(t => math.sqrt(t._2.toDouble)).sum
    rows.foreach { case (src, n, w) =>
      assert(math.abs(w - math.sqrt(n.toDouble) / tot) < 1e-5, s"$src weight $w off")
    }
  }

  test("lang_divergence matches a naive KL computation and is non-negative") {
    val docs = Tables.documents(spark, sf).select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1)))
    val tf = docs.groupBy(_._1).map { case (l, ds) =>
      l -> ds.flatMap(_._2).groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    }
    val g = tf.values.flatten.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
    val bigG = g.values.sum.toDouble
    val got = run("lang_divergence").collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_types"), r.getAs[Double]("kl_nats"))).toMap
    tf.foreach { case (lang, counts) =>
      val l = counts.values.sum.toDouble
      val kl = counts.map { case (t, c) => (c / l) * math.log((c / l) / (g(t) / bigG)) }.sum
      val (nTok, nTypes, gotKl) = got(lang)
      assert(nTok == counts.values.sum, s"$lang token total")
      assert(nTypes == counts.size, s"$lang type count")
      // per-term logs round to 6 decimals before the exact sum — the
      // naive double KL agrees to well inside 1e-4
      assert(math.abs(gotKl - kl) < 1e-4, s"$lang kl $gotKl vs naive $kl")
      assert(gotKl >= -1e-6, s"$lang negative KL $gotKl")
    }
  }

  test("global_row_number is dense 1..n in key order without a global data window") {
    val rows = run("global_row_number").collect()
      .map(r => (r.getAs[Long]("global_idx"),
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("event_id")))
    assert(rows.map(_._1).toSeq == (1L to rows.length))
    val keys = rows.map(t => (t._2.getTime, t._3))
    assert(keys.toSeq == keys.sortBy(identity).toSeq, "numbering disagrees with key order")
    // the numbering path runs per-bucket windows + broadcast offset/bounds
    // joins, never one global window over the data
    val plan = run("global_row_number").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"))
    assert(plan.contains("unix_micros"), "data-derived bucket key missing")
  }

  test("asofForwardJoin: earliest at-or-after, inclusive ties, null when exhausted") {
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val left = Seq(("u1", t(10), 1L), ("u1", t(13), 2L), ("u2", t(10), 3L))
      .toDF("user_id", "ts", "event_id")
    val right = Seq(("u1", t(9), 10L), ("u1", t(10), 11L), ("u1", t(12), 12L))
      .toDF("user_id", "ts", "event_id")
    val got = operators.TimeSeries.asofForwardJoin(left, right, "user_id", "ts")
      .select("event_id", "_asof_ts").collect()
      .map(r => r.getLong(0) -> Option(r.getTimestamp(1)).map(_.getTime / 1000)).toMap
    assert(got(1L) == Some(10L)) // equal ts matches (inclusive >=)
    assert(got(2L) == None)      // no right row at-or-after 13
    assert(got(3L) == None)      // other key never matches
  }

  test("cumsumByLang keeps NULL-lang and empty-string-lang as DISTINCT partitions") {
    // The round-10 advice finding: lkey = coalesce(lang, '') merged NULL
    // and '' into one cumsum partition while the DuckDB oracles' window
    // PARTITION BY lang keeps NULL distinct — divergent shard boundaries
    // on any corpus carrying both (no driver corpus does, so this pins it
    // on a constructed frame). langKey must be collision-free.
    import spark.implicits._
    val base = Seq(
      (1L, Option("en"), 10L), (2L, Option(""), 20L), (3L, None: Option[String], 30L),
      (4L, Option("en"), 40L), (5L, Option(""), 50L), (6L, None: Option[String], 60L))
      .toDF("doc_id", "lang", "n_tokens")
      .withColumn("lkey", operators.Curation.langKey)
    val got = operators.Curation.cumsumByLang(base)
      .select("doc_id", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // per-lang running sums with NULL ≠ '' ≠ "en"
    assert(got == Map(1L -> 10L, 2L -> 20L, 3L -> 30L,
      4L -> 50L, 5L -> 70L, 6L -> 90L), got.toString)
  }

  test("video_neardup: frame hash is gain-shift invariant; vote matches a naive replay") {
    import operators.Multimodal
    // order comparisons only ⇒ a uniform brightness shift never moves a bit
    val luma = Array.tabulate(32)(k => (k * 37 + 11) % 200)
    assert(Multimodal.frameHash64(luma) ==
      Multimodal.frameHash64(luma.map(_ + 17)))
    // naive replay: re-derive every reported pair's frame codes straight
    // from the raw text bytes (the encodeY4m 48-byte slicing rule) and
    // re-run the majority vote — candidates, join-backs, and zip_with all
    // bypassed
    def hashes(text: String): Vector[Long] = {
      val bytes = text.getBytes("UTF-8")
      val nf = math.max(1, (bytes.length + 47) / 48)
      (0 until nf).toVector.map { f =>
        Multimodal.frameHash64(Array.tabulate(32) { k =>
          val i = f * 48 + k
          if (i < bytes.length) bytes(i) & 0xff else 0
        })
      }
    }
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
    val got = run("video_neardup").collect()
    assert(got.nonEmpty, "sf0.001 must surface at least one near-dup clip pair")
    got.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      val (ha, hb) = (hashes(texts(a)), hashes(texts(b)))
      val matched = ha.zip(hb).count { case (x, y) =>
        java.lang.Long.bitCount(x ^ y) <= Multimodal.VideoFrameMaxHamming
      }
      assert(r.getAs[Long]("n_frames") == math.max(ha.length, hb.length).toLong,
        s"pair ($a,$b) frame count")
      assert(r.getAs[Long]("n_matched") == matched.toLong, s"pair ($a,$b) vote")
      assert(2 * matched > math.max(ha.length, hb.length),
        s"pair ($a,$b) fails the majority it was reported under")
    }
  }

  test("fim_transform: PSM digest replays from raw text; parts tile the document") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    def pmod(x: Long, m: Long) = ((x % m) + m) % m
    val rows = run("fim_transform").collect()
    assert(rows.exists(_.getAs[String]("mode") == "psm") &&
      rows.exists(_.getAs[String]("mode") == "ar"))
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val toks = texts(id).split(" ", -1)
      val n = toks.length.toLong
      val (np, nm, ns) = (r.getAs[Long]("n_prefix"),
        r.getAs[Long]("n_middle"), r.getAs[Long]("n_suffix"))
      // the three parts always tile the document exactly
      assert(np + nm + ns == n, s"doc $id parts don't tile")
      if (r.getAs[String]("mode") == "psm") {
        assert(id % 2 == 0 && n >= 3, s"doc $id wrongly FIM'd")
        assert(np >= 1 && ns >= 1, s"doc $id empty prefix/suffix")
        val a = (1L + pmod(id * 13, n - 2)).toInt
        val b = (a + pmod(id * 29, n - a)).toInt
        val mid = if (b > a) " " + toks.slice(a, b).mkString(" ") else ""
        val psm = s"<PRE> ${toks.take(a).mkString(" ")} " +
          s"<SUF> ${toks.drop(b).mkString(" ")} <MID>" + mid
        assert(r.getAs[String]("digest") == md5hex(psm), s"doc $id digest")
      } else {
        assert(id % 2 != 0 || n < 3)
        assert(r.getAs[String]("digest") == md5hex(texts(id)), s"doc $id ar digest")
      }
    }
  }

  test("prompt_minhash subsumes exact prompt dedup and catches fuzzy pairs it misses") {
    // fuzzy ⊇ exact: two IDENTICAL prompts have identical signatures, so
    // they must band together, verify at jaccard 1.0, and appear as a
    // pair (given the prompt is shingle-eligible: ≥ 3 tokens). And the
    // reason the query exists: at least one reported pair must be
    // NON-identical (jaccard < 1) — the paraphrase class the exact digest
    // provably cannot see.
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
    def prompt(id: Long) = texts(id).split(" ", -1).take(30).mkString(" ")
    val eligible = texts.keys.filter(id => id % 7 != 0).toSeq.sorted
    val exactPairs = eligible.groupBy(prompt).values
      .filter(g => g.size >= 2 && prompt(g.head).split(" ", -1).length >= 3)
      .flatMap(g => g.combinations(2).map(p => (p(0), p(1))))
      .toSet
    val got = run("prompt_minhash").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    exactPairs.foreach { p =>
      assert(got.get(p).contains(1.0), s"exact prompt dup $p missing or <1.0")
    }
    assert(got.values.exists(_ < 1.0),
      "no fuzzy (non-identical) prompt pair surfaced — the MinHash leg adds " +
        "nothing over prompt_dedup on this corpus")
  }

  test("pack_sequences agrees with shard_packing and its offsets tile each shard") {
    val shards = run("shard_packing").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("lang"), r.getAs[Long]("shard_id"), r.getAs[Long]("n_tokens"))).toMap
    val packs = run("pack_sequences").collect()
    // every doc appears in exactly the shard shard_packing assigned
    val fromPacks = packs.flatMap { r =>
      r.getAs[String]("doc_ids").split(",").map(_.toLong)
        .map(_ -> (r.getAs[String]("lang"), r.getAs[Long]("shard_id")))
    }.toMap
    assert(fromPacks.size == shards.size)
    shards.foreach { case (id, (lang, sid, _)) =>
      assert(fromPacks(id) == (lang, sid), s"doc $id shard mismatch")
    }
    packs.foreach { r =>
      val ids = r.getAs[String]("doc_ids").split(",").map(_.toLong)
      val offs = r.getAs[String]("offsets").split(",").map(_.toLong)
      assert(ids.length == offs.length && offs.head == 0)
      // offset deltas are exactly the member docs' token counts, so the
      // packed sequence tiles with no gaps or overlaps
      val toks = ids.map(shards(_)._3)
      offs.zip(toks).sliding(2).foreach {
        case Array((o1, t1), (o2, _)) => assert(o2 == o1 + t1, s"gap at $o2")
        case _ =>
      }
      assert(offs.last + toks.last == r.getAs[Long]("total_tokens"))
    }
  }

  test("bm25_topk matches a naive BM25 scorer on the same query terms") {
    val terms = Seq("spark", "window", "table")
    val (k1, b) = (1.2, 0.75)
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    val nd = docs.length.toDouble
    val avgdl = docs.map(_._2.length).sum / nd
    val dfs = terms.map(t => docs.count(_._2.contains(t)).toDouble)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = docs.map { case (id, toks) =>
      val len = toks.length
      val score = terms.zip(dfs).map { case (t, df) =>
        val idf = math.rint(math.log((nd - df + 0.5) / (df + 0.5) + 1.0) * 1e6) / 1e6
        val tf = toks.count(_ == t).toDouble
        r6(idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len / avgdl)))
      }.map(BigDecimal(_)).sum.toDouble
      (id, score)
    }.filter(_._2 > 0).sortBy(t => (-t._2, t._1)).take(20)
    val got = run("bm25_topk").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    assert(got.toSeq == expect.toSeq)
    assert(got.nonEmpty && got.head._2 >= got.last._2)
  }

  test("winnow_decontaminate matches a naive fingerprint-overlap computation") {
    val P = 1000000007L
    def polyHash(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 131 + (b & 0xff)) % P)
    def winnow(toks: Array[String]): Set[Long] = {
      val m = toks.length - 2
      if (m <= 0) return Set.empty
      val gh = (0 until m).map(i => polyHash(toks.slice(i, i + 3).mkString(" ")))
      if (m < 4) Set(gh.min)
      else (0 to m - 4).map(j => gh.slice(j, j + 4).min).toSet
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val evalFp = texts.filter(_._1 < 25).values.flatMap(winnow).toSet
    val expect = texts.filter(_._1 >= 25).map { case (id, toks) =>
      val fps = winnow(toks)
      val hits = fps.count(evalFp)
      val cont = if (fps.nonEmpty) r4(hits.toDouble / fps.size) else 0.0
      id -> (fps.size.toLong, hits.toLong, cont, fps.nonEmpty && cont >= 0.4)
    }
    val got = run("winnow_decontaminate").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_fp"), r.getAs[Long]("hits"),
          r.getAs[Double]("contamination"), r.getAs[Boolean]("flagged"))).toMap
    assert(got == expect)
    assert(got.values.exists(_._4), "nothing flagged — corpus degenerate")
  }

  test("winsorize clips exactly the out-of-band values and preserves the rest") {
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def pct(xs: Array[Double], p: Double): Double = {
      val s = xs.sorted
      val idx = (s.length - 1) * p
      val lo = idx.toInt
      if (lo == idx) s(lo) else s(lo) + (idx - lo) * (s(lo + 1) - s(lo))
    }
    val events = Tables.events(spark, sf).select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val bounds = events.groupBy(_._2).map { case (et, rs) =>
      et -> (r4(pct(rs.map(_._3), 0.01)), r4(pct(rs.map(_._3), 0.99)))
    }
    val got = run("winsorize").collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[String]("event_type"), r.getAs[Double]("value"),
          r.getAs[Double]("clipped"), r.getAs[Boolean]("was_clipped"))).toMap
    assert(got.size == events.length)
    events.foreach { case (id, et, v) =>
      val (lo, hi) = bounds(et)
      val expect = math.min(math.max(v, lo), hi)
      val (_, _, clipped, flagged) = got(id)
      assert(clipped == expect, s"event $id clipped $clipped != $expect")
      assert(flagged == (v != expect))
    }
    assert(got.values.count(_._4) > 0, "no values clipped — test degenerate")
  }

  test("mixture_sample applies the mix weights as per-source keep rates") {
    val weights = run("domain_mix_weights").collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("weight"))).toMap
    val kept = run("mixture_sample").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"), r.getAs[Long]("bucket")))
    val bySource = kept.groupBy(_._2).map { case (s, rs) => s -> rs.length }
    weights.foreach { case (src, (n, w)) =>
      val rate = math.min(1.0, w * 200 / n)
      // every kept bucket honors the gate; count is within the percent-
      // bucket granularity of the expected rate
      kept.filter(_._2 == src).foreach { case (id, _, b) =>
        assert(b < rate * 100, s"doc $id bucket $b over gate for $src")
      }
      val expect = n * rate
      assert(math.abs(bySource.getOrElse(src, 0) - expect) <= n * 0.05 + 3,
        s"$src kept ${bySource.getOrElse(src, 0)} vs expected ~$expect")
    }
    // a second build returns the identical sample (no RNG state)
    assert(run("mixture_sample").collect().map(_.toSeq).toSet ==
      kept.map(t => Seq(t._1, t._2, t._3)).toSet)
  }

  test("quality_sample keeps high-tier docs at a higher rate than low-tier") {
    val rows = run("quality_sample").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("tier"), r.getAs[Long]("bucket")))
    val total = Tables.documents(spark, sf).count()
    assert(rows.nonEmpty && rows.length < total)
    // bucket honors the per-tier rate gate
    rows.foreach { case (id, tier, b) =>
      val rate = tier match { case "high" => 90; case "med" => 50; case _ => 10 }
      assert(b < rate, s"doc $id tier $tier bucket $b out of gate")
    }
    // sampling is deterministic: a second run returns the identical set
    val again = run("quality_sample").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("tier"), r.getAs[Long]("bucket")))
    assert(rows.toSet == again.toSet)
  }

  test("changepoints matches a naive two-sided window computation") {
    def r(x: Double, s: Int): Double =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val events = Tables.events(spark, sf)
      .select("event_id", "event_type", "ts", "value").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getTimestamp(2), x.getDouble(3)))
    val expect = events.groupBy(_._2).flatMap { case (et, rs) =>
      val sorted = rs.sortBy(t => (t._3.getTime, t._1))
      // exact decimal frame sums, like the plan
      val cents = sorted.map(t => BigDecimal(t._4).setScale(2, BigDecimal.RoundingMode.HALF_UP))
      (30 until sorted.length - 29).map { i =>
        val sL = cents.slice(i - 30, i).sum.toDouble
        val sR = cents.slice(i, i + 30).sum.toDouble
        val hour = sorted(i)._3.toInstant.truncatedTo(java.time.temporal.ChronoUnit.HOURS)
        (et, hour, sorted(i)._1, math.abs(sR / 30 - sL / 30))
      }.groupBy(t => (t._1, t._2)).map { case (_, cand) =>
        val best = cand.minBy(t => (-r(t._4, 6), t._3))
        (best._1, best._2, best._3, r(best._4, 4))
      }
    }.toSet
    val got = run("changepoints").collect()
      .map(x => (x.getAs[String]("event_type"),
        x.getAs[java.sql.Timestamp]("hour").toInstant,
        x.getAs[Long]("event_id"), x.getAs[Double]("shift"))).toSet
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("containment_pairs matches a naive shingle-containment computation") {
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val grams = docs.map { case (id, toks) =>
      id -> (if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
             else Set.empty[String])
    }
    val df = grams.toSeq.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).filter(_._2.size <= 1000) // hot-gram cap (inactive here)
    val expect = (for {
      (a, ga) <- grams; (b, gb) <- grams
      if a < b && ga.nonEmpty && gb.nonEmpty
      common = ga.intersect(gb).size
      if common > 0
      cont = r4(common.toDouble / math.min(ga.size, gb.size))
      if cont >= 0.8
    } yield (a, b, common.toLong, cont,
      r4(common.toDouble / (ga.size + gb.size - common)))).toSet
    assert(df.nonEmpty) // cap bookkeeping exercised
    val got = run("containment_pairs").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("common"), r.getAs[Double]("containment"),
        r.getAs[Double]("jaccard"))).toSet
    assert(got == expect)
    assert(got.nonEmpty, "no containment pairs — corpus degenerate")
    // relation classifier is consistent with the jaccard gate
    run("containment_pairs").collect().foreach { r =>
      val isDup = r.getAs[Double]("jaccard") >= 0.5
      assert(r.getAs[String]("relation") == (if (isDup) "near_dup" else "subset"))
    }
  }

  test("pq_topk: ADC ranking is well-formed and recalls exact L2 neighbors") {
    val rows = run("pq_topk").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("adist")))
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to 10), s"query $q ranks not 1..10")
      assert(rs.forall(_._4 >= 0), s"query $q negative ADC distance")
      assert(rs.sortBy(_._2).map(_._4).toSeq.sliding(2)
        .forall { case Seq(a, b) => a <= b; case _ => true }, s"query $q not sorted")
      assert(!rs.exists(_._3 == q), s"query $q returned itself")
    }
    // exact L2 top-10 per query, naive — PQ with an untrained 16-codeword
    // codebook on uniform vectors measures recall ~0.34 here; 0.15 is the
    // regression floor, not the aspiration
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val recalls = (0L to 4L).map { q =>
      val exact = (vecs - q).toSeq
        .map { case (id, v) => (l2(vecs(q), v), id) }.sorted.take(10).map(_._2).toSet
      byQ(q).map(_._3).count(exact) / 10.0
    }
    assert(recalls.sum / recalls.size >= 0.15,
      s"mean PQ recall ${recalls.sum / recalls.size} below floor (per-query: $recalls)")
  }

  test("mrl_topk ranks by truncated cosine and composes with the full re-rank") {
    val got = run("mrl_topk").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cosine")))
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    // matches a naive truncated-cosine ranking exactly
    def r(x: Double, s: Int): Double =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(x => x.getLong(0) -> x.getSeq[Float](1).take(16).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    (0L to 4L).foreach { q =>
      val expect = (vecs - q).toSeq
        .map { case (id, v) => (-r(cos(vecs(q), v), 6), id) }.sorted.take(10).map(_._2)
      assert(byQ(q).sortBy(_._2).map(_._3).toSeq == expect, s"query $q ranking")
    }
    // truncated pass top-10 must overlap the full-dim cosine_topk top-10
    // enough for a re-rank stage to recover it at modest expansion — on
    // uniform vectors the first 16 of 64 dims is a weak signal; this is a
    // sanity floor, not a retrieval claim
    val full = run("cosine_topk").collect()
      .map(x => (x.getAs[Long]("qid"), x.getAs[Long]("vec_id")))
      .groupBy(_._1)
    val overlap = (0L to 4L).map(q =>
      byQ(q).map(_._3).toSet.intersect(full(q).map(_._2).toSet).size).sum
    assert(overlap >= 1, "truncated and full rankings fully disjoint")
  }

  test("ivfpq_topk is pq's ADC ranking restricted to probed cells") {
    val ivfpq = run("ivfpq_topk").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("adist")))
    val byQ = ivfpq.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to 10), s"query $q ranks")
      assert(!rs.exists(_._3 == q))
    }
    // where a (qid, vec) pair survives in BOTH top-10s, the ADC distance
    // is identical — the coarse quantizer changes the candidate set, not
    // the code distances
    val pq = run("pq_topk").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")) -> r.getAs[Double]("adist"))
      .toMap
    val shared = ivfpq.filter(t => pq.contains((t._1, t._3)))
    assert(shared.nonEmpty, "ivfpq and pq top-10s fully disjoint")
    shared.foreach { case (q, _, v, a) =>
      assert(pq((q, v)) == a, s"ADC mismatch for ($q, $v)")
    }
    val plan = run("ivfpq_topk").queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), "ivfpq lost its heap operator")
  }

  test("vector kernels: a NULL element folds to NaN (malformed-vector contract)") {
    // ArrayData.getFloat silently reads a null slot as 0.0 — without the
    // kernels' isNullAt probe a partially-null vector passes Spark's
    // norm > 0 universe gate while DuckDB's list fold nulls it out
    // (hostile-embeddings sweep). NaN fails the two-sided
    // norm > 0 AND norm < MaxVecNorm gate in both engines.
    import graft.functions.{VectorExpressions => V}
    val df = spark.sql(
      """SELECT array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS a,
                array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS b""")
    val r = df.select(
      V.dot(col("a"), col("b")).as("d"),
      V.l2norm(col("a")).as("n"),
      V.subSqDist(col("a"), col("b"), lit(0), 2).as("s"),
      // the gate expression itself: NaN > 0 is true but NaN < bound is
      // false, so the malformed vector leaves the universe
      (V.l2norm(col("a")) > 0 && V.l2norm(col("a")) < 1e4).as("inUniverse"),
      V.l2norm(col("b")).as("nb")).head()
    assert(r.getDouble(0).isNaN, "dot over a null slot must be NaN")
    assert(r.getDouble(1).isNaN, "l2norm over a null slot must be NaN")
    assert(r.getDouble(2).isNaN, "subSqDist over a null slot must be NaN")
    assert(!r.getBoolean(3), "malformed vector must fail the universe gate")
    assert(r.getDouble(4) == math.sqrt(5.0), "clean vectors unaffected")
  }

  test("subSqDist kernel equals the naive slice fold on random vectors") {
    import graft.functions.{VectorExpressions => V}
    val rnd = new scala.util.Random(7)
    val data = Seq.fill(50)((
      Array.fill(64)(rnd.nextFloat() * 2 - 1),
      Array.fill(64)(rnd.nextFloat() * 2 - 1),
      rnd.nextInt(8) * 8))
    val df = spark.createDataFrame(data.map { case (a, b, o) => (a.toSeq, b.toSeq, o) })
      .toDF("a", "b", "off")
    val got = df.select(V.subSqDist(col("a"), col("b"), col("off"), 8)).collect()
      .map(_.getDouble(0))
    data.zip(got).foreach { case ((a, b, o), g) =>
      var acc = 0.0
      for (i <- o until o + 8) { val d = a(i).toDouble - b(i).toDouble; acc += d * d }
      assert(acc == g, s"off=$o kernel $g != naive $acc") // identical fold, bit-exact
    }
    // identical slices → exactly zero (the exact-duplicate design point:
    // a dup shares the query's argmin codes, so ADC ranks it first)
    val z = df.select(V.subSqDist(col("a"), col("a"), col("off"), 8)).collect()
    assert(z.forall(_.getDouble(0) == 0.0))
  }

  test("mad_outliers matches a naive median/MAD computation") {
    def median(xs: Array[Double]): Double = {
      val s = xs.sorted
      val idx = (s.length - 1) * 0.5
      val lo = idx.toInt
      if (lo == idx) s(lo) else s(lo) + (idx - lo) * (s(lo + 1) - s(lo))
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val events = Tables.events(spark, sf).select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val expect = events.groupBy(_._2).flatMap { case (et, rs) =>
      val med = r4(median(rs.map(_._3)))
      val mad = r4(median(rs.map(t => math.abs(t._3 - med))))
      if (mad <= 0) Seq.empty[Long]
      else rs.filter(t => math.abs(t._3 - med) / (mad * 1.4826) > 3.5).map(_._1).toSeq
    }.toSet
    val got = run("mad_outliers").collect().map(_.getAs[Long]("event_id")).toSet
    assert(got == expect)
    assert(got.nonEmpty, "no MAD outliers at this scale — test degenerate")
  }

  test("kmeans_refine matches a naive Lloyd step and keeps every seed alive") {
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val seeds = vecs.filter(_._1 < 8).sortBy(_._1)
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.lazyZip(b).map((x, y) => (x - y) * (x - y)).sum
    val assign = vecs.map { case (_, v) =>
      seeds.minBy { case (cid, sv) => (math.round(d2(v, sv) * 1e6), cid) }._1 -> v
    }
    val expect = assign.groupBy(_._1).map { case (cid, rs) =>
      val n = rs.length
      cid -> (n, Array.tabulate(64)(d => rs.map(_._2(d)).sum / n))
    }
    val got = run("kmeans_refine").collect()
    assert(got.length == 8 * 64, "every seed must keep >=1 member (itself)")
    assert(got.map(_.getAs[Long]("cluster")).toSet == (0L until 8L).toSet)
    // per-cluster membership count is constant across dims and sums to n
    val byCluster = got.groupBy(_.getAs[Long]("cluster"))
    assert(byCluster.values.forall(rs => rs.map(_.getAs[Long]("n")).toSet.size == 1))
    assert(byCluster.map(_._2.head.getAs[Long]("n")).sum == vecs.length)
    got.foreach { r =>
      val (en, em) = expect(r.getAs[Long]("cluster"))
      assert(r.getAs[Long]("n") == en)
      assert(math.abs(r.getAs[Double]("m") - em(r.getAs[Int]("dim"))) < 1e-5)
    }
  }

  test("feature_hash matches a naive signed-bucket vectorizer") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // code POINTS, not UTF-16 units: both engines' ascii() returns the
    // first/last code point, so surrogate-pair leading/trailing chars
    // must not collapse to their high/low surrogate values here
    def code(t: String): Long = {
      val first = if (t.isEmpty) 0 else t.codePointAt(0)
      val last = if (t.isEmpty) 0 else t.codePointBefore(t.length)
      first.toLong * 131 + last + t.length
    }
    val expect = docs.flatMap { case (id, text) =>
      text.split(" ", -1).map { t =>
        val c = code(t)
        ((id, c % 64), if ((c / 64) % 2 == 0) 1L else -1L)
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .filter(_._2 != 0).toMap
    val got = run("feature_hash").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bucket")) -> r.getAs[Long]("w"))
    assert(got.toMap == expect)
    assert(got.map(_._1._2).forall(b => b >= 0 && b < 64))
    // the hashing trick compresses: far more distinct tokens than buckets
    assert(got.map(_._1._2).distinct.length <= 64 && got.length > 64)
  }

  test("pca_power_iter matches a naive (X'X)v0 step and is unit-norm") {
    val vecs = Tables.embeddings(spark, sf).select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val u = Array.tabulate(64) { d =>
      vecs.map(v => v(d) * (v.sum * 0.125)).sum
    }
    val nrm = math.sqrt(u.map(x => x * x).sum)
    val got = run("pca_power_iter").collect()
    assert(got.length == 64)
    assert(got.map(_.getAs[Int]("dim")).toSet == (0 until 64).toSet)
    val gotPc = got.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("pc1"))
    assert(math.abs(gotPc.map(x => x * x).sum - 1.0) < 1e-3, "pc1 must be unit-norm")
    gotPc.zipWithIndex.foreach { case (p, d) =>
      assert(math.abs(p - u(d) / nrm) < 1e-4, s"dim $d: $p vs ${u(d) / nrm}")
    }
  }

  test("zipf_slope matches a naive log-log least-squares fit") {
    val docs = Tables.documents(spark, sf).select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val want = docs.groupBy(_._1).map { case (lang, rows) =>
      val counts = rows.flatMap(_._2.split(" ", -1)).groupBy(identity)
        .map { case (t, xs) => (t, xs.length.toLong) }.toSeq
      val ranked = counts.sortBy { case (t, c) => (-c, t) }.zipWithIndex
      val pts = ranked.map { case ((_, c), i) =>
        (math.round(math.log(i + 1.0) * 1e6), math.round(math.log(c.toDouble) * 1e6))
      }
      val n = BigInt(pts.length)
      val sx = pts.map(p => BigInt(p._1)).sum
      val sy = pts.map(p => BigInt(p._2)).sum
      val sxx = pts.map(p => BigInt(p._1) * BigInt(p._1)).sum
      val sxy = pts.map(p => BigInt(p._1) * BigInt(p._2)).sum
      val den = n * sxx - sx * sx
      val slope = if (den == 0) 0.0
        else BigDecimal((n * sxy - sx * sy).toDouble / den.toDouble)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      lang -> slope
    }
    val got = run("zipf_slope").collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Double]("zipf_slope")).toMap
    assert(got == want, s"slopes diverge: got $got want $want")
    got.values.foreach(s => assert(s < 0.0, "rank-frequency slope must be negative"))
  }

  test("delta_dedup classifies planted snapshot/batch/fresh duplicates") {
    // The testdata corpus has no exact duplicates, so the oracle check
    // only proves the all-fresh path. Plant a corpus where every branch
    // fires: ids 0..14, bound t = 14*4 div 5 = 11, so batch =
    // {11, 12, 13, 14}; doc 11 copies snapshot doc 3 (dup_snapshot),
    // doc 13 copies batch doc 12 (dup_batch; 12 itself stays fresh —
    // min-id survivor), doc 14 has NULL text (must classify as fresh via
    // the deterministic fallback digest, not vanish at the first_seen
    // join), and doc 5 in the SNAPSHOT also has NULL text (its fallback
    // key must not snapshot-match doc 14's).
    import org.apache.spark.sql.Row
    val rows = (0L to 14L).map { i =>
      val text = i match {
        case 5L | 14L => null
        case 3L | 11L => "copy of snapshot three"
        case 12L | 13L => "batch twin text"
        case _ => s"unique text number $i"
      }
      Row(i, text, "en", "src",
        Option(text).fold(0L)(_.length.toLong))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_delta").toString
    try {
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2),
        Tables.documentsSchema).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val got = SparkEntry.queries("delta_dedup")(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
      assert(got == Map(11L -> "dup_snapshot", 12L -> "fresh",
        13L -> "dup_batch", 14L -> "fresh"),
        s"unexpected classification: $got")
    } finally {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally st.close()
    }
  }

  test("unigram Viterbi: composite-key tie-breaks, codepoint atomicity, length fallback") {
    import operators.UnigramLm
    val sc = Map("a" -> -100L, "b" -> -120L, "ab" -> -150L,
      "ba" -> -150L, "abab" -> -400L)
    def seg(w: String) = UnigramLm.viterbi(UnigramLm.cps(w), sc)
    // best score wins outright: ab+ab = -300 beats abab (-400) and any
    // single-char path (≤ -370... wait: a+b+a+b = -440)
    assert(seg("abab") == List("ab", "ab"))
    // exact tie (a+ba = ab+a = -250, both 2 pieces): the composite key
    // prefers the LONGER last piece — the oracle's identical arithmetic
    assert(seg("aba") == List("a", "ba"))
    assert(seg("b") == List("b"))
    // surrogate pairs stay atomic: an emoji is ONE codepoint-piece, so a
    // vocab keyed on codepoints segments it whole (UTF-16 would split it)
    val emoji = new String(Character.toChars(0x1F600))
    assert(UnigramLm.cps(s"a${emoji}b").toList == List("a", emoji, "b"))
    assert(UnigramLm.encodeWord(s"a${emoji}b",
      Map("a" -> -10L, "b" -> -10L, emoji -> -10L)) == List("a", emoji, "b"))
    // over-length blobs skip the DP and fall back to single codepoints
    val blob = "ab" * 100 // 200 codepoints > MaxWordLen
    val enc = UnigramLm.encodeWord(blob, sc)
    assert(enc.length == 200 && enc.forall(_.length == 1),
      "over-MaxWordLen words must byte-fallback to single codepoints")
    // a word under the cap still uses the DP
    assert(UnigramLm.encodeWord("abab", sc) == List("ab", "ab"))
  }

  test("text_tiling finds the planted topic seam and stays quiet on uniform text") {
    // oracle agreement proves the two engines match; this proves the
    // operator DETECTS: a document whose vocabulary flips at token 60
    // must boundary exactly at the seam gap, and a homogeneous document
    // must produce none
    val dir = java.nio.file.Files.createTempDirectory("tile_fx").toString
    val twoTopics =
      ((1 to 60).map(i => s"alpha${i % 5}") ++
        (1 to 60).map(i => s"beta${i % 5}")).mkString(" ")
    val uniform = (1 to 120).map(i => s"gamma${i % 5}").mkString(" ")
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, twoTopics, "en", "src", twoTopics.length.toLong),
        org.apache.spark.sql.Row(2L, uniform, "en", "src", uniform.length.toLong)), 1),
      Tables.documentsSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("text_tiling")(spark, dir).collect()
    val bounds = rows.filter(_.getAs[Boolean]("is_boundary"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("token_pos")))
    assert(bounds.toSet == Set((1L, 60L)),
      s"expected exactly the seam boundary (doc 1, token 60): ${bounds.mkString(",")}")
    // the seam gap's similarity is exactly zero; deep-interior gaps of
    // the uniform doc sit at full cohesion
    val seam = rows.find(r => r.getAs[Long]("doc_id") == 1L &&
      r.getAs[Long]("token_pos") == 60L).get
    assert(seam.getAs[Long]("sim_ppm") == 0L)
    assert(rows.exists(r => r.getAs[Long]("doc_id") == 2L &&
      r.getAs[Long]("sim_ppm") == 1000000L))
  }

  test("bigramLogprob memoizes per corpus fingerprint and invalidates on regeneration") {
    import operators.TextAnalysis
    // a private corpus copy we are allowed to mutate (testdata is RO)
    val dir = java.nio.file.Files.createTempDirectory("blp_fp").toString
    def writeDocs(texts: Seq[String]): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) =>
          org.apache.spark.sql.Row(i.toLong, t, "en", "src", t.length.toLong)
        }, 1), Tables.documentsSchema)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(Seq("a b a b c", "a b a b"))
    val first = TextAnalysis.bigramLogprob(spark, dir)
    // same fingerprint ⇒ the SAME persisted frame instance (memo hit)
    assert(TextAnalysis.bigramLogprob(spark, dir) eq first,
      "second call under an unchanged corpus must return the memoized frame")
    val n1 = first.count()
    assert(n1 == 2)
    // regenerate the corpus in place: the fingerprint (name/len/mtime of
    // every part file) must invalidate the entry and the new frame must
    // reflect the NEW corpus, not the stale cached blocks
    writeDocs(Seq("x y x", "x y", "y x"))
    val second = TextAnalysis.bigramLogprob(spark, dir)
    assert(!(second eq first), "regenerated corpus served a stale memo entry")
    assert(second.count() == 3,
      "post-invalidation frame must score the regenerated corpus")
    // (no storageLevel probe on `first`: CacheManager matches by
    // canonicalized plan, so after re-persisting the same path the stale
    // frame REPORTS the new entry's level — the unpersist is still the
    // right hygiene, it just can't be observed through this lens)
  }

  test("bpe_encode conserves tokens and fuses exactly the trained pair counts") {
    // Every merge of round k fuses EVERY occurrence counted by that
    // round's winning pair (l ≠ r ⇒ occurrences never overlap), and each
    // fusion adds exactly one sentinel, so across the corpus:
    //   Σ_docs (n_words − n_bpe) = Σ_rounds pair_count.
    // This ties INFERENCE output to the TRAINING table it was built from
    // — if either side drifted (a missed occurrence, a double fuse, a
    // miscounted round) the two totals separate.
    val enc = run("bpe_encode").collect()
    val merges = run("bpe_merges").collect()
    assert(merges.length > 0, "training found no merges — invariant vacuous")
    val fused = enc.map(r =>
      r.getAs[Long]("n_words") - r.getAs[Long]("n_bpe")).sum
    val counted = merges.map(_.getAs[Long]("pair_count")).sum
    assert(fused == counted, s"fused $fused != trained pair counts $counted")
    enc.foreach { r =>
      // a null-text document (legal in regenerated testdata) has NULL
      // counts end to end — assert that shape explicitly instead of
      // letting getAs unbox NULL to 0 and fail the per-row bounds
      if (r.isNullAt(r.fieldIndex("n_bpe"))) {
        assert(r.isNullAt(r.fieldIndex("n_words")) &&
          r.isNullAt(r.fieldIndex("n_merged_symbols")) &&
          r.isNullAt(r.fieldIndex("compression")),
          s"doc ${r.getAs[Long]("doc_id")}: partial NULL encode counts")
      } else {
      val (w, b, m) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe"),
        r.getAs[Long]("n_merged_symbols"))
      assert(b >= 1 && b <= w, s"doc ${r.getAs[Long]("doc_id")}: n_bpe $b vs n_words $w")
      assert(m <= w - b, // a symbol with j sentinels fused j pairs
        s"doc ${r.getAs[Long]("doc_id")}: merged symbols $m > fused pairs ${w - b}")
      val ratio = r.getAs[Double]("compression")
      assert(ratio > 0.0 && ratio <= 1.0)
      }
    }
    // the batched trainer must actually batch: >= 32 merges from
    // [[BpeRounds]] driver round-trips means merges-per-round >> 1 (the
    // round-6 verdict's scale bar for a real tokenizer vocabulary)
    assert(merges.length >= 32,
      s"batched BPE trained only ${merges.length} merges")
    assert(merges.map(_.getAs[Int]("merge_rank")).toSeq ==
      (1 to merges.length), "merge_rank must be a global 1..N sequence")
  }

  test("dup_pagerank matches a naive integer power iteration over the minhash edges") {
    // independent reimplementation of the fixed-point recurrence from the
    // registered minhash_pairs edge set — same integers or the query is
    // wrong (JVM `/` on non-negative longs truncates like Spark `div`)
    val edges = run("minhash_pairs").select("doc_a", "doc_b").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
    assert(edges.nonEmpty, "fixture produced no near-dup edges")
    val deg = edges.groupBy(_._1).map { case (v, es) => v -> es.length.toLong }
    val n = deg.size.toLong
    val scale = 1000000000L
    var rank: Map[Long, Long] = deg.map { case (v, _) => v -> scale / n }
    for (_ <- 1 to 3) {
      val sums = scala.collection.mutable.LongMap.empty[Long]
      edges.foreach { case (u, v) =>
        sums(v) = sums.getOrElse(v, 0L) + rank(u) / deg(u) }
      rank = deg.map { case (v, _) =>
        v -> (15L * scale / (100L * n) + 85L * sums.getOrElse(v, 0L) / 100L) }
    }
    val expected = rank.toSeq.map { case (d, r) => (d, deg(d), r) }
      .sortBy { case (d, _, r) => (-r, d) }.take(20)
    val got = run("dup_pagerank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // total rank mass is conserved up to truncation loss: each node loses
    // < deg units splitting its rank plus < 100+n units in the damped
    // update, so the full-graph sum stays within n*(maxdeg+101) of scale
    val mass = rank.values.sum
    val slack = n * (deg.values.max + 101L)
    assert(mass <= scale && mass >= scale - slack,
      s"rank mass $mass outside [${scale - slack}, $scale]")
  }

  test("span_corruption matches a naive greedy fold and its masking invariants") {
    val P = graft.functions.VectorKernels.MinHashP
    def naive(text: String): (Long, Long, Long) = {
      val toks = text.split(" ", -1)
      var (rem, m, sp) = (0L, 0L, 0L)
      toks.foreach { t =>
        if (rem > 0) { m += 1; rem -= 1 }
        else {
          val h = t.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 131 + (b & 0xff)) % P)
          if (h % 7 == 0) { m += 1; sp += 1; rem = (h / 7) % 3 }
        }
      }
      (toks.length.toLong, m, sp)
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = run("span_corruption").collect()
    assert(got.length == docs.size)
    var anyMasked = false
    got.foreach { r =>
      val (n, m, sp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert((n, m, sp) == naive(docs(r.getLong(0))), s"doc ${r.getLong(0)}")
      // invariants: spans never overlap (each span masks 1-3 tokens) and
      // masking never exceeds the document
      assert(m <= n && sp <= m && m <= 3 * sp || (m == 0 && sp == 0))
      if (m > 0) anyMasked = true
    }
    assert(anyMasked, "corpus produced zero masked spans — the account is vacuous")
  }

  test("dup_triangles matches a naive adjacency-set triangle count") {
    val pairs = run("minhash_pairs").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2).toSet }
    val tri = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    // enumerate each triangle once via the same a<b<c orientation
    for ((a, b) <- pairs; c <- adj(b) if b < c && adj(a).contains(c)) {
      tri(a) += 1; tri(b) += 1; tri(c) += 1
    }
    val got = run("dup_triangles").collect()
    assert(got.map(_.getLong(0)).toSet == adj.keySet, "node set mismatch")
    got.foreach { r =>
      val (id, d, t) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(d == adj(id).size.toLong, s"doc $id degree $d != ${adj(id).size}")
      assert(t == tri(id), s"doc $id triangles $t != ${tri(id)}")
      val cc = r.getDouble(3)
      if (d < 2) assert(cc == 0.0)
      else assert(math.abs(cc - 2.0 * t / (d * (d - 1))) < 5e-5)
      assert(cc >= 0.0 && cc <= 1.0, s"doc $id coefficient $cc out of [0,1]")
    }
  }

  test("filter_funnel cross-foots against gopher_rules' per-doc flags") {
    // the funnel is a pure rollup of the battery: each gate's pass count
    // must equal the battery's flag sum, the survivor column must be the
    // prefix-AND count, and survivors can only shrink down the funnel
    val flags = run("gopher_rules").collect()
    val byRule = Map(
      "word_count" -> "rule_word_count", "mean_word_len" -> "rule_mean_word_len",
      "symbol_ratio" -> "rule_symbol_ratio", "stopwords" -> "rule_stopwords",
      "alpha_words" -> "rule_alpha_words")
    val order = Seq("word_count", "mean_word_len", "symbol_ratio",
      "stopwords", "alpha_words")
    val funnel = run("filter_funnel").collect().sortBy(_.getAs[Int]("gate"))
    assert(funnel.map(_.getAs[String]("rule")).toSeq == order,
      "funnel gates out of battery order")
    var prevSurv = Long.MaxValue
    funnel.foreach { g =>
      val rule = byRule(g.getAs[String]("rule"))
      val passExp = flags.count(_.getAs[Boolean](rule)).toLong
      val prefix = order.take(g.getAs[Int]("gate")).map(byRule)
      val survExp = flags.count(r => prefix.forall(r.getAs[Boolean](_))).toLong
      assert(g.getAs[Long]("n_docs") == flags.length.toLong)
      assert(g.getAs[Long]("n_pass") == passExp,
        s"gate ${g.getAs[String]("rule")}: n_pass ${g.getAs[Long]("n_pass")} != $passExp")
      assert(g.getAs[Long]("n_surviving") == survExp,
        s"gate ${g.getAs[String]("rule")}: survivors != prefix-AND count")
      assert(g.getAs[Long]("n_surviving") <= prevSurv, "funnel grew")
      prevSurv = g.getAs[Long]("n_surviving")
    }
    // the funnel's terminal survivor count IS the battery's verdict count
    assert(funnel.last.getAs[Long]("n_surviving") ==
      flags.count(_.getAs[Boolean]("pass")).toLong)
  }

  test("readability replays per-row: syllable floor, formula, band cuts") {
    run("readability").collect().foreach { r =>
      val (w, sn, sy) = (r.getAs[Long]("n_words"),
        r.getAs[Long]("n_sentences"), r.getAs[Long]("n_syllables"))
      val f = r.getAs[Long]("flesch_milli")
      assert(w >= 1 && sn >= 1, "clamps failed")
      assert(sy >= w, s"doc ${r.getAs[Long]("doc_id")}: " +
        s"syllables $sy < words $w — the 1-per-word floor broke")
      assert(f == 206835L - (1015L * w) / sn - (84600L * sy) / w,
        s"doc ${r.getAs[Long]("doc_id")}: flesch_milli drifted from its inputs")
      val band = r.getAs[String]("band")
      val expect = if (f >= 90000) "easy" else if (f >= 60000) "standard"
        else if (f >= 30000) "difficult" else "very_difficult"
      assert(band == expect, s"doc ${r.getAs[Long]("doc_id")}: band $band != $expect")
    }
  }

  test("shingle_novelty: novel shingles across docs sum to the distinct-shingle count") {
    // each distinct 3-gram is first-seen in exactly ONE document (its
    // min doc_id), so sum(n_shingles - n_seen_before) must equal the
    // corpus' distinct shingle count — ties per-doc novelty to a global
    // inventory computed through an independent aggregation
    val rows = run("shingle_novelty").collect()
    val novelSum = rows.map(r =>
      r.getAs[Long]("n_shingles") - r.getAs[Long]("n_seen_before")).sum
    val distinctShingles = Tables.documents(spark, sf)
      .select(explode(graft.functions.VectorExpressions
        .wordShingles(col("text"), 3)).as("g"))
      .agg(countDistinct(col("g"))).head().getLong(0)
    assert(novelSum == distinctShingles,
      s"novel-shingle mass $novelSum != corpus distinct shingles $distinctShingles")
    rows.foreach { r =>
      val (n, seen) = (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_seen_before"))
      assert(seen >= 0 && seen <= n)
      if (n == 0) assert(r.isNullAt(r.fieldIndex("novelty_ppm")))
      else assert(r.getAs[Long]("novelty_ppm") == (n - seen) * 1000000L / n)
    }
    // the earliest doc with shingles can have seen nothing before it
    val withShingles = rows.filter(_.getAs[Long]("n_shingles") > 0)
    assert(withShingles.nonEmpty, "corpus produced no shingles — vacuous")
    val first = withShingles.minBy(_.getAs[Long]("doc_id"))
    assert(first.getAs[Long]("n_seen_before") == 0L &&
      first.getAs[Long]("novelty_ppm") == 1000000L,
      "the first document cannot have pre-seen shingles")
  }

  test("tokenizer_parity cross-foots against bpe_encode's per-doc counts") {
    val enc = run("bpe_encode").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (Option(r.getAs[java.lang.Long]("n_words")).map(_.longValue),
         Option(r.getAs[java.lang.Long]("n_bpe")).map(_.longValue)))
      .toMap
    val langs = Tables.documents(spark, sf).select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = enc.toSeq.groupBy { case (id, _) => langs(id) }
      .view.mapValues { docs =>
        (docs.size.toLong,
          docs.flatMap(_._2._1).sum, docs.flatMap(_._2._2).sum)
      }.toMap
    val parity = run("tokenizer_parity").collect()
    assert(parity.map(_.getAs[String]("lang")).toSet == expect.keySet)
    parity.foreach { r =>
      val lang = r.getAs[String]("lang")
      val (nd, nw, nb) = expect(lang)
      assert(r.getAs[Long]("n_docs") == nd, s"$lang n_docs")
      assert(r.getAs[Long]("n_words") == nw, s"$lang n_words")
      assert(r.getAs[Long]("n_bpe") == nb, s"$lang n_bpe")
      // merging can only shrink: compression in (0, 1e6] ppm
      val c = r.getAs[Long]("compression_ppm")
      assert(c > 0 && c <= 1000000L, s"$lang compression_ppm $c")
    }
  }

  test("mmr_rerank: scores decrease, first pick is the exact top-1, slots never repeat") {
    val rows = run("mmr_rerank").collect()
    val top1 = run("cosine_topk").filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("vec_id")).toMap
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (qid, g) =>
      val sorted = g.sortBy(_.getAs[Int]("mmr_rank"))
      assert(sorted.map(_.getAs[Int]("mmr_rank")).toSeq == (1 to sorted.length),
        s"qid $qid: ranks not contiguous")
      // greedy argmax over a shrinking candidate set: the k-th best
      // marginal score can never beat the (k-1)-th (maxsim only grows)
      val scores = sorted.map(_.getAs[Double]("mmr_score"))
      scores.sliding(2).foreach { case Array(a, b) =>
        assert(b <= a + 1e-9, s"qid $qid: mmr_score increased $a -> $b")
      case _ => () }
      // rank 1 has an empty picked set: MMR degenerates to pure relevance
      assert(sorted.head.getAs[Long]("vec_id") == top1(qid),
        s"qid $qid: first MMR pick differs from the exact top-1")
      assert(sorted.head.getAs[Double]("mmr_score") ==
        sorted.head.getAs[Double]("relevance"))
      // the diversity penalty is non-negative
      sorted.foreach(r => assert(r.getAs[Double]("mmr_score") <=
        r.getAs[Double]("relevance") + 1e-9))
      val ids = sorted.map(_.getAs[Long]("vec_id"))
      assert(ids.distinct.length == ids.length, s"qid $qid: repeated pick")
    }
    // diversity must actually bite on this corpus: at least one query's
    // MMR list differs from its raw top-k prefix
    val raw = run("cosine_topk").collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("vec_id")).toSeq).toMap
    val mmr = rows.groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.sortBy(_.getAs[Int]("mmr_rank")).map(_.getAs[Long]("vec_id")).toSeq).toMap
    assert(mmr.exists { case (q, ids) => raw(q) != ids },
      "MMR returned the raw ranking for every query — the rerank is vacuous")
  }

  test("kcenter_sample matches a naive farthest-point replay and its radius curve shrinks") {
    // independent replay: same seed rule, same incremental-min recurrence,
    // same (mind desc, vec_id) argmax — over driver-collected vectors
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1
      }
      acc
    }
    var remaining = vecs.tail
    var picks = Vector((1, vecs.head._1, Option.empty[Double]))
    var mind = remaining.map(v => v._1 -> d2(v._2, vecs.head._2)).toMap
    var k = 2
    while (k <= 16 && remaining.nonEmpty) {
      val best = remaining.maxBy(v => (mind(v._1), -v._1))
      picks :+= ((k, best._1, Some(mind(best._1))))
      remaining = remaining.filterNot(_._1 == best._1)
      mind = remaining.map(v =>
        v._1 -> math.min(mind(v._1), d2(v._2, best._2))).toMap
      k += 1
    }
    val got = run("kcenter_sample").collect().sortBy(_.getAs[Int]("round"))
    assert(got.length == picks.length)
    got.zip(picks).foreach { case (r, (rnd, id, rad)) =>
      assert(r.getAs[Int]("round") == rnd)
      assert(r.getAs[Long]("vec_id") == id,
        s"round $rnd picked ${r.getAs[Long]("vec_id")}, replay picked $id")
      rad match {
        case None => assert(r.isNullAt(r.fieldIndex("radius")))
        case Some(m) =>
          assert(math.abs(r.getAs[Double]("radius") - math.sqrt(m)) < 5e-5)
      }
    }
    // the k-center objective: coverage radius is non-increasing in k
    val radii = got.flatMap(r =>
      if (r.isNullAt(r.fieldIndex("radius"))) None
      else Some(r.getAs[Double]("radius")))
    radii.sliding(2).foreach {
      case Array(a, b) => assert(b <= a + 1e-9, s"radius grew $a -> $b")
      case _ => ()
    }
    assert(got.map(_.getAs[Long]("vec_id")).distinct.length == got.length,
      "a vector was picked twice")
  }

  test("bitext_margin matches a driver replay of the ratio-margin rule") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def rnd(x: Double, scale: Int): Double =
      new JBD(x).setScale(scale, RoundingMode.HALF_UP).doubleValue
    val e = Tables.embeddings(spark, sf).collect().map { r =>
      val v = r.getSeq[Float](1).toArray
      var acc = 0.0
      v.foreach(f => acc += f.toDouble * f.toDouble)
      r.getLong(0) -> (r.getInt(2), v, math.sqrt(acc))
    }.toMap.filter(_._2._3 > 0)
    def cos(a: Long, b: Long): Double = {
      val (_, va, na) = e(a); val (_, vb, nb) = e(b)
      var acc = 0.0
      var i = 0
      while (i < math.min(va.length, vb.length)) {
        acc += va(i).toDouble * vb(i).toDouble; i += 1
      }
      acc / (na * nb)
    }
    // same candidate generator, independent margin arithmetic
    val cand = operators.Similarity.neardupCandidates(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sym = (cand ++ cand.map(_.swap))
      .filter { case (a, b) => e(a)._1 != e(b)._1 }
      .map { case (a, b) => (a, b, cos(a, b)) }
    val nbhd = sym.groupBy(_._1).map { case (q, g) =>
      val top = g.sortBy(p => (-rnd(p._3, 6), p._2)).take(4)
      q -> (top.length.toLong,
        top.map(p => math.round(rnd(p._3 * 1000000, 0))).sum)
    }
    val expect = sym.flatMap { case (a, b, c) =>
      val cu = math.round(rnd(c * 1000000, 0))
      val (ca, sa) = nbhd(a); val (cb, sb) = nbhd(b)
      val den = sa * cb + sb * ca
      if (cu > 0 && den > 0)
        Some((a, b, 2L * ca * cb * cu * 1000000L / den))
      else None
    }.groupBy(_._1).map { case (q, g) =>
      val best = g.minBy(p => (-p._3, p._2))
      q -> (best._2, best._3)
    }
    val got = run("bitext_margin").collect()
    assert(got.map(_.getAs[Long]("vec_id")).toSet == expect.keySet,
      "anchor set differs from the replay")
    got.foreach { r =>
      val q = r.getAs[Long]("vec_id")
      val (mate, margin) = expect(q)
      assert(r.getAs[Long]("mate_id") == mate,
        s"anchor $q: mate ${r.getAs[Long]("mate_id")} != replay $mate")
      assert(r.getAs[Long]("margin_ppm") == margin,
        s"anchor $q: margin ${r.getAs[Long]("margin_ppm")} != replay $margin")
      assert(r.getAs[Double]("cosine") > 0.0)
    }
    assert(got.nonEmpty, "corpus mined no cross-label pairs — vacuous")
  }

  test("min_cost_supplier matches a driver replay of the per-part argmin") {
    val regions = Tables.region(spark, sf).collect()
      .map(r => r.getAs[Int]("r_regionkey") -> r.getAs[String]("r_name")).toMap
    val r0 = regions.values.min
    val nations = Tables.nation(spark, sf).collect()
      .map(r => r.getAs[Int]("n_nationkey") ->
        (r.getAs[String]("n_name"), r.getAs[Int]("n_regionkey"))).toMap
    val sup = Tables.supplier(spark, sf).collect().flatMap { r =>
      nations.get(r.getAs[Int]("s_nationkey")).collect {
        case (_, rk) if regions.get(rk).contains(r0) => r.getAs[Long]("s_suppkey")
      }
    }.toSet
    val offers = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .collect()
      .filter(r => !r.isNullAt(3) && r.getDouble(3) > 0 && !r.isNullAt(2) &&
        sup(r.getLong(1)))
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2) / r.getDouble(3)))
      .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).min }
    val expect = offers.toSeq.groupBy(_._1._1).map { case (part, g) =>
      val best = g.minBy { case ((_, supp), unit) => (unit, supp) }
      part -> (best._1._2, math.floor(best._2 * 10000).toLong)
    }
    val got = run("min_cost_supplier").collect()
    assert(got.map(_.getAs[Long]("p_partkey")).toSet == expect.keySet,
      "part set differs from the replay")
    got.foreach { r =>
      val (supp, e4) = expect(r.getAs[Long]("p_partkey"))
      assert(r.getAs[Long]("s_suppkey") == supp,
        s"part ${r.getAs[Long]("p_partkey")}: supplier mismatch")
      assert(r.getAs[Long]("unit_price_e4") == e4,
        s"part ${r.getAs[Long]("p_partkey")}: price mismatch")
    }
    assert(got.nonEmpty, "no region-local offers — vacuous")
  }

  test("q7_volume trades stay inside the derived nation group, both roles distinct") {
    val group = Tables.nation(spark, sf).collect()
      .filter(!_.isNullAt(0)).sortBy(_.getAs[Int]("n_nationkey")).take(4)
      .map(_.getAs[String]("n_name")).toSet
    val rows = run("q7_volume").collect()
    assert(rows.nonEmpty, "no cross-nation trades at smoke scale — vacuous")
    rows.foreach { r =>
      val sn = r.getAs[String]("supp_nation")
      val cn = r.getAs[String]("cust_nation")
      assert(group(sn) && group(cn), s"($sn,$cn) outside the derived group")
      assert(sn != cn, "self-trade row survived the direction filter")
      assert(r.getAs[Long]("n_lineitems") >= 1)
    }
  }

  test("q14_promo shares are bounded and cross-foot against the unconditional total") {
    val rows = run("q14_promo").collect()
    assert(rows.nonEmpty)
    // driver corpus: all prices/discounts are in-range, so every month's
    // promo share is a true fraction of a positive total
    rows.foreach { r =>
      val share = r.getAs[Double]("promo_share_pct")
      assert(share >= 0.0 && share <= 100.0, s"share $share out of [0,100]")
      assert(r.getAs[Double]("revenue") > 0.0)
    }
    // months are unique group keys
    val months = rows.map(_.getAs[java.sql.Timestamp]("ship_month"))
    assert(months.distinct.length == months.length, "duplicate month group")
  }

  test("q15_top_supplier crowns exactly the max of a driver replay") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf)
      .select("l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
      .collect()
    val micros = li.filter(!_.isNullAt(3)).map(_.getTimestamp(3).getTime * 1000)
    val cut = (micros.min + micros.max) / 2 // span midpoint, q3 discipline
    val rev = li.filter(r => !r.isNullAt(3) && !r.isNullAt(1) && !r.isNullAt(2)
        && r.getTimestamp(3).getTime * 1000 >= cut)
      .map(r => r.getLong(0) ->
        BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP) *
          (1 - BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum }
    val maxRev = rev.values.max
    val winners = rev.filter(_._2 == maxRev).keySet
    val got = run("q15_top_supplier").collect()
    assert(got.map(_.getAs[Long]("s_suppkey")).toSet == winners,
      "winner set differs from the replay")
    got.foreach(r => assert(
      math.abs(r.getAs[Double]("revenue") - maxRev.toDouble) < 0.01))
  }

  test("q19_disjunct equals a driver replay of the OR predicate") {
    val parts = Tables.part(spark, sf)
      .select("p_partkey", "p_brand", "p_size").collect()
      .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val hits = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .collect()
      .filter { r =>
        !r.isNullAt(0) && !r.isNullAt(1) && parts.contains(r.getLong(0)) && {
          val (b, sz) = parts(r.getLong(0))
          val q = r.getDouble(1)
          (b == "Brand#1" && sz >= 1 && sz <= 15 && q >= 1 && q <= 20) ||
          (b == "Brand#2" && sz >= 10 && sz <= 30 && q >= 10 && q <= 30) ||
          (b == "Brand#3" && sz >= 20 && sz <= 50 && q >= 20 && q <= 40)
        }
      }
    val expRev = hits.map(r =>
      BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP) *
        (1 - BigDecimal(r.getDouble(3)).setScale(2, BigDecimal.RoundingMode.HALF_UP))).sum
    val got = run("q19_disjunct").collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("n_lineitems") == hits.length,
      s"matched ${got(0).getAs[Long]("n_lineitems")} vs replay ${hits.length}")
    assert(math.abs(got(0).getAs[Double]("revenue") - expRev.toDouble) < 0.01)
  }

  test("q22_idle_customers returns only above-average customers with no recent order") {
    val custs = Tables.customer(spark, sf)
      .select("c_custkey", "c_acctbal", "c_mktsegment").collect()
    val avgBal = {
      val pos = custs.filter(r => !r.isNullAt(1) && r.getDouble(1) > 0)
      pos.map(_.getDouble(1)).sum / pos.length
    }
    val orders = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderdate").collect()
    val micros = orders.filter(!_.isNullAt(1)).map(_.getTimestamp(1).getTime * 1000)
    val cut = micros.min + (micros.max - micros.min) * 3 / 4
    val active = orders.filter(r => !r.isNullAt(1) && !r.isNullAt(0) &&
      r.getTimestamp(1).getTime * 1000 >= cut).map(_.getLong(0)).toSet
    val idle = custs.filter(r => !r.isNullAt(1) && r.getDouble(1) > avgBal &&
      (r.isNullAt(0) || !active(r.getLong(0))))
    val expBySeg = idle.groupBy(r => Option(r.getString(2))).map {
      case (seg, g) => seg -> g.length
    }
    val got = run("q22_idle_customers").collect()
      .map(r => Option(r.getAs[String]("c_mktsegment")) ->
        r.getAs[Long]("n_customers")).toMap
    assert(got == expBySeg.map { case (k, v) => k -> v.toLong },
      s"segment counts differ: got $got vs replay $expBySeg")
    assert(got.values.sum > 0, "no idle customers at smoke scale — vacuous")
  }

  test("q4_priority equals a driver replay of the windowed EXISTS") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderdate", "o_orderpriority").collect()
    val micros = orders.filter(!_.isNullAt(1)).map(_.getTimestamp(1).getTime * 1000)
    val (lo, hi) = (micros.min, micros.max)
    val (w0, w1) = (lo + (hi - lo) / 2, lo + (hi - lo) * 3 / 4)
    val lateOrders = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_shipdate").collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime)
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val exp = orders.filter { r =>
      !r.isNullAt(1) && {
        val du = r.getTimestamp(1).getTime * 1000
        du >= w0 && du < w1 && !r.isNullAt(0) &&
          lateOrders.get(r.getLong(0))
            .exists(_ > r.getTimestamp(1).getTime)
      }
    }.groupBy(r => Option(r.getString(2))).view.mapValues(_.length.toLong).toMap
    val got = run("q4_priority").collect()
      .map(r => Option(r.getAs[String]("o_orderpriority")) ->
        r.getAs[Long]("order_count")).toMap
    assert(got == exp, s"priority mix differs: got $got vs replay $exp")
    assert(got.values.sum > 0, "no late orders in the window — vacuous")
  }

  test("q5_local_volume keeps only nation-local trades and cross-foots") {
    val supNation = Tables.supplier(spark, sf).collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(2))
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val custNation = Tables.customer(spark, sf).collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(2))
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderdate").collect()
    val micros = orders.filter(!_.isNullAt(2)).map(_.getTimestamp(2).getTime * 1000)
    val cut = (micros.min + micros.max) / 2
    val orderCust = orders.filter(r => !r.isNullAt(0) && !r.isNullAt(1) &&
        !r.isNullAt(2) && r.getTimestamp(2).getTime * 1000 < cut)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expLines = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey").collect()
      .count { r =>
        !r.isNullAt(0) && !r.isNullAt(1) &&
          orderCust.get(r.getLong(0)).exists { ck =>
            (supNation.get(r.getLong(1)), custNation.get(ck)) match {
              case (Some(sn), Some(cn)) => sn == cn
              case _ => false
            }
          }
      }
    val got = run("q5_local_volume").collect()
    assert(got.nonEmpty, "no nation-local trades at smoke scale — vacuous")
    assert(got.map(_.getAs[Long]("n_lineitems")).sum == expLines,
      "local lineitem total differs from the replay")
    got.foreach(r => assert(r.getAs[Double]("revenue") > 0.0))
  }

  test("q13_custdist: the zero bucket exists and buckets foot to all customers") {
    val nCust = Tables.customer(spark, sf).select("c_custkey").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .distinct.length
    val got = run("q13_custdist").collect()
      .map(r => r.getAs[Long]("c_count") -> r.getAs[Long]("custdist")).toMap
    assert(got.values.sum == nCust,
      s"distribution foots to ${got.values.sum}, expected $nCust customers")
    assert(got.contains(0L),
      "no zero-order bucket — the LEFT OUTER is vacuously an inner join here")
    assert(got.keys.toSeq.distinct.length == got.size, "duplicate c_count bucket")
  }

  test("q17_small_qty equals a driver replay of the per-part 0.2-avg rule") {
    val minBrand = Tables.part(spark, sf).collect()
      .flatMap(r => Option(r.getAs[String]("p_brand"))).min
    val brandParts = Tables.part(spark, sf).collect()
      .filter(r => !r.isNullAt(0) && r.getAs[String]("p_brand") == minBrand)
      .map(_.getLong(0)).toSet
    val li = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .collect()
      .filter(r => !r.isNullAt(0) && brandParts(r.getLong(0)))
    val stats = li.filter(!_.isNullAt(1)).groupBy(_.getLong(0)).map {
      case (k, g) =>
        k -> (g.map(r => BigDecimal(r.getDouble(1))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum, g.length)
    }
    val hits = li.filter { r =>
      !r.isNullAt(1) && stats.get(r.getLong(0)).exists { case (sq, nq) =>
        BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP) *
          5 * nq < sq
      }
    }
    val got = run("q17_small_qty").collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("n_lineitems") == hits.length,
      s"matched ${got(0).getAs[Long]("n_lineitems")} vs replay ${hits.length}")
    assert(hits.nonEmpty, "no small-quantity lineitems — vacuous")
  }

  test("q18_big_orders: every row beats twice the mean order quantity, none missed") {
    val perOrder = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity").collect()
      .filter(r => !r.isNullAt(0))
      .groupBy(_.getLong(0)).view.mapValues { g =>
        val qs = g.filter(!_.isNullAt(1)).map(r => BigDecimal(r.getDouble(1))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP))
        (if (qs.isEmpty) None else Some(qs.sum), g.length.toLong)
      }.toMap
    val sums = perOrder.values.flatMap(_._1).toSeq
    val (tq, no) = (sums.sum, sums.length)
    val expKeys = perOrder.collect {
      case (k, (Some(sq), _)) if sq * no > tq * 2 => k
    }.toSet
    val got = run("q18_big_orders").collect()
    assert(got.map(_.getAs[Long]("o_orderkey")).toSet == expKeys,
      "qualifying order set differs from the replay")
    assert(expKeys.nonEmpty, "no large-volume orders at smoke scale — vacuous")
    got.foreach { r =>
      val k = r.getAs[Long]("o_orderkey")
      assert(r.getAs[Long]("n_lineitems") == perOrder(k)._2)
    }
  }

  test("q21_late_solo equals a driver replay of the sole-late-shipper rule") {
    val orderDate = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderdate").collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime * 1000).toMap
    val lo = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey", "l_shipdate").collect()
      .filter(r => !r.isNullAt(0) && orderDate.contains(r.getLong(0)))
      .map { r =>
        val lead = if (r.isNullAt(2)) None
          else Some(r.getTimestamp(2).getTime * 1000 - orderDate(r.getLong(0)))
        (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)), lead)
      }
    val leads = lo.flatMap(_._3)
    val cut = (leads.min + leads.max) / 2
    val exp = lo.groupBy(_._1).values.flatMap { g =>
      val supps = g.flatMap(_._2).distinct
      val late = g.collect {
        case (_, Some(s), Some(l)) if l >= cut => s
      }.distinct
      if (supps.length > 1 && late.length == 1) Some(late.head) else None
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = run("q21_late_solo").collect()
      .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[Long]("numwait")).toMap
    assert(got == exp, s"sole-late counts differ: got $got vs replay $exp")
    assert(got.nonEmpty, "no sole-late suppliers at smoke scale — vacuous")
  }

  test("q6_forecast equals a driver replay of the three-predicate scan") {
    val li = Tables.lineitem(spark, sf)
      .select("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")
      .collect()
    val micros = li.filter(!_.isNullAt(0)).map(_.getTimestamp(0).getTime * 1000)
    val cut = (micros.min + micros.max) / 2
    val hits = li.filter { r =>
      !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) &&
        r.getTimestamp(0).getTime * 1000 < cut &&
        r.getDouble(1) >= 0.02 && r.getDouble(1) <= 0.06 &&
        r.getDouble(2) < 24
    }
    val expDelta = hits.filter(!_.isNullAt(3)).map(r =>
      BigDecimal(r.getDouble(3)).setScale(2, BigDecimal.RoundingMode.HALF_UP) *
        BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
    val got = run("q6_forecast").collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("n_lineitems") == hits.length,
      s"matched ${got(0).getAs[Long]("n_lineitems")} vs replay ${hits.length}")
    assert(math.abs(got(0).getAs[Double]("revenue_delta") - expDelta.toDouble) < 0.01)
    assert(hits.nonEmpty, "no mid-band discounted lineitems — vacuous")
  }

  test("q8_market_share restricts to the derived region's market and bounds the share") {
    val regions = Tables.region(spark, sf).collect()
      .flatMap(r => Option(r.getAs[String]("r_name")))
    val rg = regions.min
    val rows = run("q8_market_share").collect()
    assert(rows.nonEmpty, "no market revenue at smoke scale — vacuous")
    rows.foreach { r =>
      val share = r.getAs[Double]("mkt_share_pct")
      assert(share >= 0.0 && share <= 100.0, s"share $share out of [0,100]")
      assert(r.getAs[Double]("revenue") > 0.0)
    }
    // cross-foot the market restriction: total lineitems must equal the
    // replayed count of lineitems whose ORDER belongs to a customer of
    // the derived region
    val regKey = Tables.region(spark, sf).collect()
      .find(r => r.getAs[String]("r_name") == rg).get.getAs[Int]("r_regionkey")
    val natKeys = Tables.nation(spark, sf).collect()
      .filter(r => !r.isNullAt(2) && r.getAs[Int]("n_regionkey") == regKey)
      .map(_.getAs[Int]("n_nationkey")).toSet
    val custInMkt = Tables.customer(spark, sf).collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(2) && natKeys(r.getInt(2)))
      .map(_.getLong(0)).toSet
    val orderInMkt = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey").collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && custInMkt(r.getLong(1)))
      .map(_.getLong(0)).toSet
    val allNatKeys = Tables.nation(spark, sf).collect()
      .filter(!_.isNullAt(0)).map(_.getInt(0)).toSet
    val suppKeys = Tables.supplier(spark, sf).collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(2) && allNatKeys(r.getInt(2)))
      .map(_.getLong(0)).toSet
    val expLines = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey").collect()
      .count(r => !r.isNullAt(0) && !r.isNullAt(1) &&
        orderInMkt(r.getLong(0)) && suppKeys(r.getLong(1)))
    assert(rows.map(_.getAs[Long]("n_lineitems")).sum == expLines,
      "market lineitem total differs from the replay")
  }

  test("q9_profit equals a driver replay of the nation-year rollup counts") {
    val retail = Tables.part(spark, sf).collect()
      .filter(r => !r.isNullAt(0)).map(r =>
        r.getLong(0) -> Option(r.getAs[Any]("p_retailprice"))).toMap
    val suppNat = {
      val nat = Tables.nation(spark, sf).collect()
        .filter(r => !r.isNullAt(0))
        .map(r => r.getInt(0) -> r.getAs[String]("n_name")).toMap
      Tables.supplier(spark, sf).collect()
        .filter(r => !r.isNullAt(0) && !r.isNullAt(2) && nat.contains(r.getInt(2)))
        .map(r => r.getLong(0) -> nat(r.getInt(2))).toMap
    }
    val orderYear = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderdate").collect()
      .filter(r => !r.isNullAt(0))
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getTimestamp(1).toLocalDateTime.getYear))).toMap
    val exp = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_suppkey").collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) &&
        retail.contains(r.getLong(1)) && suppNat.contains(r.getLong(2)) &&
        orderYear.contains(r.getLong(0)))
      .groupBy(r => (suppNat(r.getLong(2)), orderYear(r.getLong(0))))
      .view.mapValues(_.length.toLong).toMap
    val got = run("q9_profit").collect()
      .map(r => (r.getAs[String]("n_name"),
        if (r.isNullAt(r.fieldIndex("o_year"))) None
        else Some(r.getAs[Int]("o_year"))) -> r.getAs[Long]("n_lineitems"))
      .toMap
    assert(got == exp, "nation-year lineitem counts differ from the replay")
    assert(got.nonEmpty, "no profit rows at smoke scale — vacuous")
  }

  test("q10_returns ranks exactly the replayed returned-revenue top 20") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderdate").collect()
    val micros = orders.filter(!_.isNullAt(2)).map(_.getTimestamp(2).getTime * 1000)
    val (lo, hi) = (micros.min, micros.max)
    val (w0, w1) = (lo + (hi - lo) / 2, lo + (hi - lo) * 3 / 4)
    val orderCust = orders.filter(r => !r.isNullAt(0) && !r.isNullAt(1) &&
        !r.isNullAt(2) && {
          val du = r.getTimestamp(2).getTime * 1000; du >= w0 && du < w1
        })
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byCust = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
      .collect()
      .filter(r => !r.isNullAt(0) && r.getAs[String]("l_returnflag") == "R" &&
        orderCust.contains(r.getLong(0)))
      .groupBy(r => orderCust(r.getLong(0)))
      .view.mapValues { g =>
        g.filter(r => !r.isNullAt(2) && !r.isNullAt(3)).map(r =>
          BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP) *
            (1 - BigDecimal(r.getDouble(3)).setScale(2, BigDecimal.RoundingMode.HALF_UP))).sum
      }.toMap
    val expTop = byCust.toSeq
      .sortBy { case (ck, rev) => (-rev, ck) }.take(20).map(_._1)
    val got = run("q10_returns").collect().map(_.getAs[Long]("c_custkey"))
    assert(got.toSeq == expTop,
      s"top-20 returned-revenue customers differ: got ${got.toSeq} vs $expTop")
    assert(got.nonEmpty, "no returned lineitems in the window — vacuous")
  }

  test("q12_priority_mix equals a driver replay of the high/low split") {
    val prio = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderpriority").collect()
      .filter(!_.isNullAt(0))
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linestatus", "l_shipdate").collect()
    val micros = li.filter(!_.isNullAt(2)).map(_.getTimestamp(2).getTime * 1000)
    val cut = (micros.min + micros.max) / 2
    val exp = li.filter(r => !r.isNullAt(0) && !r.isNullAt(2) &&
        r.getTimestamp(2).getTime * 1000 >= cut && prio.contains(r.getLong(0)))
      .groupBy(r => Option(r.getString(1)))
      .view.mapValues { g =>
        val high = g.count(r =>
          prio(r.getLong(0)).exists(p => p == "1-URGENT" || p == "2-HIGH"))
        (high.toLong, (g.length - high).toLong)
      }.toMap
    val got = run("q12_priority_mix").collect()
      .map(r => Option(r.getAs[String]("l_linestatus")) ->
        ((r.getAs[Long]("high_line_count"), r.getAs[Long]("low_line_count"))))
      .toMap
    assert(got == exp, s"priority mix differs: got $got vs replay $exp")
    assert(got.values.map(v => v._1 + v._2).sum > 0, "vacuous window")
  }

  test("q16_supplier_cnt equals a driver replay of distinct-supplier counts") {
    val minBrand = Tables.part(spark, sf).collect()
      .flatMap(r => Option(r.getAs[String]("p_brand"))).min
    val partAttr = Tables.part(spark, sf).collect()
      .filter(r => !r.isNullAt(0) &&
        Option(r.getAs[String]("p_brand")).exists(_ != minBrand))
      .map(r => r.getLong(0) -> ((r.getAs[String]("p_brand"),
        r.getAs[String]("p_type"),
        if (r.isNullAt(r.fieldIndex("p_size"))) None else Some(r.getInt(4)))))
      .toMap
    val badSupp = Tables.supplier(spark, sf).collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(3) && r.getDouble(3) < 0)
      .map(_.getLong(0)).toSet
    val exp = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_suppkey").collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) &&
        partAttr.contains(r.getLong(0)) && !badSupp(r.getLong(1)))
      .groupBy(r => partAttr(r.getLong(0)))
      .view.mapValues(_.map(_.getLong(1)).distinct.length.toLong).toMap
    val got = run("q16_supplier_cnt").collect()
      .map(r => ((r.getAs[String]("p_brand"), r.getAs[String]("p_type"),
        if (r.isNullAt(r.fieldIndex("p_size"))) None
        else Some(r.getAs[Int]("p_size")))) -> r.getAs[Long]("supplier_cnt"))
      .toMap
    assert(got == exp, "distinct-supplier counts differ from the replay")
    assert(got.nonEmpty && got.values.max > 1,
      "no multi-supplier part attribute — vacuous")
  }

  test("q11_stock_value equals a driver replay of the fraction HAVING") {
    val nat = Tables.nation(spark, sf).collect().filter(!_.isNullAt(0))
      .map(r => r.getInt(0) -> r.getAs[String]("n_name")).toMap
    val nNations = Tables.nation(spark, sf).count()
    val suppNat = Tables.supplier(spark, sf).collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(2) && nat.contains(r.getInt(2)))
      .map(r => r.getLong(0) -> nat(r.getInt(2))).toMap
    val ps = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
      .collect()
      .filter(r => !r.isNullAt(2) && r.getDouble(2) > 0 && !r.isNullAt(3) &&
        !r.isNullAt(0) && !r.isNullAt(1))
      .groupBy(r => (r.getLong(0), r.getLong(1)))
      .toSeq // NOT .map on the Map: (supp → value) pairs repeat per part
      .map { case ((_, sk), g) =>
        val aq = g.map(r => BigDecimal(r.getDouble(2))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
        val u4 = g.map(r =>
          math.floor(r.getDouble(3) / r.getDouble(2) * 10000).toLong).min
        (sk, aq * u4)
      }
    val byNation = ps.filter(p => suppNat.contains(p._1))
      .groupBy(p => suppNat(p._1)).view.mapValues(_.map(_._2).sum).toMap
    val tot = byNation.values.sum
    val exp = byNation.filter { case (_, sv) => sv * nNations > tot }
    val got = run("q11_stock_value").collect()
      .map(r => r.getAs[String]("n_name") -> r.getAs[Double]("stock_value"))
      .toMap
    assert(got.keySet == exp.keySet,
      s"important nations differ: got ${got.keySet} vs ${exp.keySet}")
    exp.foreach { case (n, sv) =>
      assert(math.abs(got(n) - sv.toDouble) < 0.01, s"$n value off") }
    assert(got.nonEmpty, "no above-fraction nation — vacuous")
  }

  test("mrl_topk's truncated universe keeps the declared-width gate") {
    // regression pin for the adv_emb sweep finding: mrl slices the first
    // 16 dims BEFORE its norm filter, so a wrong-width (e.g. 32-dim)
    // hostile vector still yields a healthy truncated slice — without
    // the size(embedding) gate it enters the Spark universe while the
    // oracle's len(embedding) = 64 excludes it
    import spark.implicits._
    val dir = "/tmp/graft_mrl_width"
    val planted = Seq(
      (900001L, Array.fill(32)(0.5f), 0),        // wrong width, clean slice
      (900002L, Array.fill(64)(Float.NaN), 0),   // non-finite
      (900003L, Array.fill(64)(0f), 0))          // zero norm
      .toDF("vec_id", "embedding", "label")
    Tables.embeddings(spark, sf).unionByName(planted)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("mrl_topk")(spark, dir).collect()
    assert(got.nonEmpty, "planted corpus returned no rankings — vacuous")
    val ids = got.map(_.getAs[Long]("vec_id")).toSet
    assert(!ids.exists(_ >= 900001L),
      "a planted degenerate vector entered the truncated universe")
  }

  test("splitOf matches the spelled-out md5-nibble 80/10/10 rule (r13 opt)") {
    // the r13 optimization round turned the docSplits JOIN into a pure
    // column expression (conv of the first three digest nibbles); this
    // pins the expression against an independent JVM-side computation of
    // the documented rule over ids including 0 and negatives (hostile
    // corpora carry negative doc_ids)
    import spark.implicits._
    val ids = (-50L to 1000L).toSeq
    val got = ids.toDF("doc_id")
      .select(col("doc_id"), operators.Dedup.splitOf(col("doc_id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    ids.foreach { id =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      val bucket = Integer.parseInt(h.substring(0, 3), 16) % 100
      val expect =
        if (bucket < 80) "train" else if (bucket < 90) "val" else "test"
      assert(got(id) == expect, s"id $id: got ${got(id)}, rule says $expect")
    }
  }

  test("twoPhaseRank countCol reports exact per-part sizes (r13 opt)") {
    // countCol rides the bounds broadcast so rank consumers stop
    // re-deriving their inputs for group sizes; it must equal the true
    // group row count for skewed groups, a 1-row group, and ties — and
    // the global (part-less) shape must carry the total
    import spark.implicits._
    val rows = (1 to 97).map(i => ("a", i.toLong)) ++
      Seq(("b", 5L)) ++ (1 to 7).map(i => ("c", (i % 3).toLong))
    val df = rows.toDF("g", "v")
    val ranked = operators.PipelineOps.twoPhaseRank(
      df, Seq("g"), "v", Seq("v"), "rk", countCol = Some("n"))
    val sizes = ranked.groupBy("g")
      .agg(max("n").as("mx"), min("n").as("mn"), count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    sizes.foreach { case (g, mx, mn, c) =>
      assert(mx == c && mn == c, s"group $g: countCol $mn..$mx != true size $c")
    }
    // ranks must be a dense 1..n permutation per group (unchanged by the
    // countCol addition)
    val ranks = ranked.filter(col("g") === "a")
      .select("rk").collect().map(_.getLong(0)).sorted
    assert(ranks.toSeq == (1L to 97L), "rank not a dense permutation")
    val global = operators.PipelineOps.twoPhaseRank(
      df, Seq.empty, "v", Seq("v"), "rk", countCol = Some("n"))
      .select("n").distinct().collect().map(_.getLong(0)).toSeq
    assert(global == Seq(rows.size.toLong),
      s"global countCol $global != ${rows.size}")
  }
}
