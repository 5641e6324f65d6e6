package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions — the 100 TB design contract (SURVEY.md §4):
  * filters and projections must reach the parquet scan, small dimensions
  * must broadcast, aggregates must partial-aggregate, and hot paths must
  * stay inside whole-stage codegen. These tests pin the plan shape so a
  * regression (e.g. a UDF sneaking into a filter and killing pushdown)
  * fails loudly at test time rather than at cluster scale.
  */
class PlanSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def planOf(q: String): String = {
    val df = SparkEntry.queries(q)(spark, d)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** Final (post-AQE) executed plan: run THIS df, then inspect. In tree
    * strings, whole-stage codegen shows as "*(n) " node prefixes. */
  private def executedPlanOf(q: String): String = {
    val df = SparkEntry.queries(q)(spark, d)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def hasCodegen(plan: String): Boolean = plan.contains("*(")

  test("q02: filter and projection are pushed to the parquet scan") {
    val p = planOf("q02_filter_project")
    assert(p.contains("PushedFilters:"), p)
    assert(p.matches("(?s).*PushedFilters: \\[.*l_quantity.*\\].*"), p)
    assert(p.matches("(?s).*PushedFilters: \\[.*l_discount.*\\].*"), p)
    // column pruning: shipdate is not read (filter is on quantity/discount)
    assert(!p.contains("l_shipdate"), p)
    assert(hasCodegen(executedPlanOf("q02_filter_project")))
  }

  test("q04: small dimension join uses BroadcastHashJoin") {
    val p = planOf("q04_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q01: aggregation is partial (map-side combine before the shuffle)") {
    val p = executedPlanOf("q01_pricing_agg")
    // two HashAggregate nodes: partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(hasCodegen(p), p)
  }

  test("q06: semi join does not materialize the right side's payload columns") {
    val p = planOf("q06_semi_join")
    assert(p.contains("LeftSemi"), p)
    // only the join key is read from orders (+ the pushed filter column)
    assert(!p.contains("o_orderpriority"), p)
  }

  test("q13: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = planOf("q13_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q08: rank-limit window is optimized to WindowGroupLimit (partial top-k)") {
    // Spark's WindowGroupLimit pushes the rn<=k bound below the shuffle,
    // so each map task keeps only k rows per key — the built-in version
    // of a custom partial top-k operator.
    val p = executedPlanOf("q08_window_topk")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q47: range join plans as an equi-join on buckets, not a nested-loop theta join") {
    val p = planOf("q47_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q26: brute-force ANN broadcasts the query side") {
    val p = planOf("q26_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("sentiment/minhash expressions do not break codegen in the flagship pipeline") {
    val p = executedPlanOf("q31_flagship_pipeline")
    assert(hasCodegen(p), p)
  }

  test("curation queries are map-only: sole exchange is the final sort") {
    for (q <- Seq("q57_hash_split", "q58_token_chunks", "q59_source_mixture",
        "q60_repetition")) {
      // executedPlan.toString prints Final AND Initial AQE plans — count
      // exchanges in the final one only
      val p = executedPlanOf(q).split("== Initial Plan ==").head
      val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
      assert(exchanges.size == 1, s"$q expected 1 exchange, got $exchanges\n$p")
      assert(exchanges.head.contains("rangepartitioning"),
        s"$q final sort should be a range partition: $exchanges")
      assert(hasCodegen(p), s"$q lost whole-stage codegen\n$p")
    }
  }

  test("q109-q112: codec queries are map-only — decode runs in the scan stage, sole exchange is the final sort") {
    for (q <- Seq("q109_bmp_decode", "q110_wav_decode", "q111_png_decode",
        "q112_gif_decode")) {
      val p = executedPlanOf(q).split("== Initial Plan ==").head
      // one pass: synthesize → mapPartitions decode → project, then the
      // ordered output's range exchange; a second exchange would mean
      // media bytes crossed a shuffle
      val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
      assert(exchanges.size == 1, s"$q expected 1 exchange, got $exchanges\n$p")
      assert(exchanges.head.contains("rangepartitioning"),
        s"$q sole exchange should be the final sort: $exchanges")
      assert(p.contains("MapPartitions"), s"$q lost the batch decode stage\n$p")
    }
  }

  test("q208/q210: the AVI video lane is map-only — container walk + " +
      "per-frame JPEG decode run in the scan stage, sole exchange is " +
      "the final sort") {
    for (q <- Seq("q208_mjpeg_avi", "q210_avi_frame_sample",
        "q217_av_avi")) {
      val p = executedPlanOf(q).split("== Initial Plan ==").head
      // synthesize → flatMap frame-extract+decode → project, then the
      // ordered output's range exchange; a second exchange would mean
      // video bytes or frame payloads crossed a shuffle
      val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
      assert(exchanges.size == 1 && exchanges.head.contains("rangepartitioning"),
        s"$q expected only the sort exchange, got $exchanges\n$p")
      assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
        s"$q lost the batch decode stage\n$p")
    }
  }

  test("q206: span decontamination exchanges carry fixed-width rank rows, never gram strings") {
    val p = executedPlanOf("q206_span_decontaminate")
    // the q172 contract, cross-corpus edition: every shuffle moves
    // (doc_id, pos, rank-struct | span-bound) tuples; a 16-token gram
    // string in any exchange would mean the strawman plan snuck back
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(exchanges.nonEmpty)
    for (e <- exchanges)
      assert(!e.contains("tok"), s"rank exchange keyed on raw tokens: $e")
  }

  test("q149/q153/q158/q161: container explode is map-only — parse+lanes run in the scan stage, sole exchange is the final sort") {
    for (q <- Seq("q149_zip_members", "q153_gzip_members", "q158_warc_records",
        "q161_tar_entries")) {
      val p = executedPlanOf(q).split("== Initial Plan ==").head
      // synthesize → mapPartitions parse/explode → lanes map, then the
      // ordered output's range exchange; a second exchange would mean
      // archive bytes or member contents crossed a shuffle
      val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
      assert(exchanges.size == 1 && exchanges.head.contains("rangepartitioning"),
        s"$q expected only the sort exchange, got $exchanges\n$p")
      assert(p.contains("MapPartitions"), s"$q lost the batch parse stage\n$p")
    }
  }

  test("q156: weighted sample is a scan into TakeOrderedAndProject — tickets never explode or shuffle") {
    val p = executedPlanOf("q156_weighted_sample").split("== Initial Plan ==").head
    // the w tickets of a row reduce to their min INSIDE the row
    // (array_min over a generated array in codegen); corpus-scale data
    // movement is exactly the top-k heap merge
    assert(p.contains("TakeOrderedAndProject"), s"lost the top-k shape\n$p")
    assert(!p.contains("Generate"), s"tickets must not explode to rows\n$p")
    assert(!"Exchange hashpartitioning".r.findFirstIn(p).isDefined,
      s"no corpus-scale shuffle expected\n$p")
  }

  test("q157: link graph is extract-in-scan into ONE edge-keyed exchange") {
    val p = executedPlanOf("q157_link_graph").split("== Initial Plan ==").head
    // markup parse + domain mapping ride the scan (Generate = the href
    // explode); the only corpus-scale movement is the (src, dst) agg;
    // the final ORDER BY adds its range exchange
    assert(p.contains("Generate"), s"lost the href explode\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).toSeq
    assert(hashEx.size == 1, s"expected 1 hash exchange, got $hashEx\n$p")
    assert(p.contains("partial_count") || p.contains("partial(count"),
      s"edge counts must aggregate partially\n$p")
  }

  test("q159/q160/q162/q166: hygiene passes ride the scan — sole exchange the final sort") {
    for (q <- Seq("q159_utf8_stats", "q160_pii_scrub", "q162_entity_decode",
                  "q166_script_mix")) {
      val p = executedPlanOf(q).split("== Initial Plan ==").head
      // r14: q160/q166 gained the spread repartition (guide §2.5 — the
      // regex/codepoint map off a 1-file scan) — one roundrobin exchange
      // below the sort; no hygiene row ever hash-shuffles.
      val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
      assert(exchanges.exists(_.contains("rangepartitioning")) &&
        exchanges.size <= 2 &&
        exchanges.forall(e => e.contains("rangepartitioning") ||
          e.contains("roundrobinpartitioning")),
        s"$q expected the sort exchange (+ at most the spread), got $exchanges\n$p")
    }
  }

  test("q194: feature hashing is map-only — vectors build in the scan stage, sole exchange the final sort") {
    val p = executedPlanOf("q194_feature_hash").split("== Initial Plan ==").head
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("rangepartitioning"),
      s"q194 expected only the sort exchange, got $exchanges\n$p")
    assert(!p.contains("Generate"), s"tokens must not explode into rows\n$p")
  }

  test("q193: exact split plans ONE stratum-keyed window exchange (plus the final sort)") {
    val p = executedPlanOf("q193_exact_split").split("== Initial Plan ==").head
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).toSeq
    assert(hashEx.size == 1,
      s"q193 expected one stratum hash exchange (rank+count share it), got $hashEx\n$p")
  }

  test("q164: interleave ranks in sub-bucketed windows — offsets broadcast, no sort-merge join") {
    val p = executedPlanOf("q164_interleave_key").split("== Initial Plan ==").head
    // corpus-scale exchanges: the (source, bucket) ranking window and
    // the final key sort; the sources×N offset table must come back as
    // a broadcast, never a shuffled join. 3 hash exchanges total: the
    // corpus window, plus two over the tiny sources×N aggregate (its
    // count and its per-source cumulative window).
    assert(p.contains("BroadcastHashJoin"), s"offsets must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"), s"offset join must not SMJ\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).toSeq
    assert(hashEx.size <= 3,
      s"expected window + 2 offset-side hash exchanges, got $hashEx\n$p")
    assert(p.contains("WindowExec") || p.contains("Window"),
      s"lost the ranking window\n$p")
    // only the two key columns reach the scan
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      s"scan must prune to (doc_id, source)\n$p")
  }

  test("q163: classifier inference scores in the row — no explode, no join, sole exchange the final sort") {
    val p = executedPlanOf("q163_quality_classifier").split("== Initial Plan ==").head
    // r14: the spread repartition (guide §2.5 — the scoring map off a
    // 1-file scan) adds one roundrobin exchange below the sort; the
    // scoring itself still never shuffles a scored row except into the
    // final range sort.
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    assert(exchanges.exists(_.contains("rangepartitioning")) &&
      exchanges.size <= 2 &&
      exchanges.forall(e => e.contains("rangepartitioning") ||
        e.contains("roundrobinpartitioning")),
      s"expected the sort exchange (+ at most the spread), got $exchanges\n$p")
    // grams must never become rows and the weights must never become a
    // relation: per-doc scoring is aggregate() over an in-row array
    // against one folded literal
    assert(!p.contains("Generate"), s"grams exploded to rows\n$p")
    assert(!p.toLowerCase.contains("join"), s"weights joined as a relation\n$p")
  }

  test("q165: rendezvous argmax runs in the row — vnodes never become a relation") {
    val p = executedPlanOf("q165_rendezvous_shard").split("== Initial Plan ==").head
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("rangepartitioning"),
      s"expected only the sort exchange, got $exchanges\n$p")
    assert(!p.contains("Generate"), s"vnodes exploded to rows\n$p")
    assert(!p.toLowerCase.contains("join"), s"vnodes joined as a relation\n$p")
  }

  test("q150: Aho-Corasick scan is map-only — the automaton rides a broadcast, not the plan") {
    val p = executedPlanOf("q150_ac_scan").split("== Initial Plan ==").head
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("rangepartitioning"),
      s"expected only the sort exchange, got $exchanges\n$p")
    // the pattern list must NOT appear as plan literals (q147's approach;
    // the whole point here is the list scales off-plan)
    assert(!p.contains("row scan"), s"pattern literal leaked into the plan\n$p")
  }

  test("q151: domain cap plans one domain-key shuffle feeding WindowGroupLimit") {
    val p = executedPlanOf("q151_url_domain_cap").split("== Initial Plan ==").head
    assert(p.contains("WindowGroupLimit"),
      s"rank filter not pushed into the window\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).toSeq
    assert(hashEx.size == 1, s"expected 1 hash exchange (domain key), got $hashEx\n$p")
  }

  test("q152: MaxSim broadcasts the query bag; exchanges carry ids+score only") {
    val p = executedPlanOf("q152_maxsim_topk").split("== Initial Plan ==").head
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query token bag should broadcast into the corpus pass\n$p")
    // corpus token vectors must not appear in any exchange: the partial
    // max reduces (query_id, q_tok, doc_id, dot) before the shuffle
    val exchanges = "Exchange [a-z]+partitioning[^\n]*".r.findAllIn(p).toSeq
    assert(exchanges.forall(!_.contains("cq#")),
      s"corpus vectors crossed a shuffle: $exchanges")
    assert(p.contains("partial_max") || p.contains("partial(max"),
      s"per-(qtok, doc) max must aggregate partially\n$p")
  }

  test("q154: robots rules broadcast; winner reduces via partial max, one hash exchange") {
    val p = executedPlanOf("q154_robots_rules").split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"rules should broadcast into the URL scan\n$p")
    assert(p.contains("partial_max") || p.contains("partial(max"),
      s"winning rule must aggregate partially\n$p")
    // two hash exchanges: the rule-SYNTHESIS domain distinct (rule-scale,
    // feeds the broadcast) and the winner aggregation (URL-scale but
    // carrying (id, domain, path, small struct) only); a third would mean
    // a second URL-scale pass
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).toSeq
    assert(hashEx.size == 2, s"expected 2 hash exchanges, got $hashEx\n$p")
    assert(!p.contains("SortMergeJoin"), s"rules must not shuffle-join\n$p")
  }

  test("q61: bench grams broadcast; only shuffles are the hit-count agg + final sort") {
    val p = executedPlanOf("q61_decontamination").split("== Initial Plan ==").head
    // the gram join must be a broadcast hash join (bench side built once
    // per task), never a sort-merge join shuffling the exploded corpus
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val exchanges = "Exchange ([a-z]+)partitioning\\(([a-z_]+)".r
      .findAllMatchIn(p).map(m => (m.group(1), m.group(2))).toSeq
    // exactly three shuffles: the BENCH side's gram distinct (small side,
    // pre-broadcast), hashpartitioning(doc_id) for the hit count, and
    // rangepartitioning for the ORDER BY. The exploded CORPUS gram rows
    // themselves never shuffle — they die inside the map stage.
    assert(exchanges.sorted == Seq(("hash", "doc_id"), ("hash", "g"),
      ("range", "doc_id")), s"unexpected exchanges $exchanges\n$p")
    // hit counting partial-aggregates map-side before its shuffle
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q62: per-doc gram dedup happens map-side; top-k is TakeOrderedAndProject") {
    val p = executedPlanOf("q62_boilerplate_ngrams").split("== Initial Plan ==").head
    assert(p.contains("TakeOrderedAndProject"), p)
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    // sole exchange: the gram-frequency hash aggregate
    assert(exchanges.size == 1 && exchanges.head.contains("hashpartitioning"),
      s"expected 1 hash exchange, got $exchanges\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q70: sessionization shuffles once per user partition plus the final sort") {
    val p = executedPlanOf("q70_sessionization").split("== Initial Plan ==").head
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    // one hashpartitioning(user_id) feeds BOTH windows (lag + running
    // sum) and the session aggregate — Spark reuses the partitioning —
    // plus the rangepartitioning for the ORDER BY
    assert(exchanges.size == 2, s"expected 2 exchanges, got $exchanges\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q67: dim stats aggregate partially before the only data shuffle") {
    val p = executedPlanOf("q67_embedding_dim_stats").split("== Initial Plan ==").head
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    // hashpartitioning(dim) carries at most dims rows per task thanks to
    // the partial aggregate below it; rangepartitioning for the sort
    assert(exchanges.size == 2, s"expected 2 exchanges, got $exchanges\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q71: tfidf scans the corpus once for tf+df (window, not a re-scan self-join)") {
    val p = executedPlanOf("q71_tfidf").split("== Initial Plan ==").head
    // two scans total: the token explode and the one-row doc count — a
    // tf ⋈ df self-join formulation would cost a third (re-explode)
    assert("Scan parquet".r.findAllIn(p).size == 2, p)
    val exchanges = "Exchange ([a-z]+)partitioning\\(([a-z_]+)".r
      .findAllMatchIn(p).map(m => (m.group(1), m.group(2))).toSeq
    // (doc_id, tok) tf aggregate, tok window for df, range for ORDER BY
    assert(exchanges.sorted == Seq(("hash", "doc_id"), ("hash", "tok"),
      ("range", "doc_id")), s"unexpected exchanges $exchanges\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // tf partial+final
  }

  test("embedding_quant_stats evaluates inside whole-stage codegen, not fallback") {
    val df = SparkEntry.queries("q66_embedding_quantize")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val projLine = p.linesIterator.find(_.contains("embedding_quant_stats"))
    assert(projLine.exists(_.contains("*(")), s"project not codegen'd:\n$p")
  }

  test("repetition_stats evaluates inside whole-stage codegen, not fallback") {
    val df = SparkEntry.queries("q60_repetition")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the Project carrying repetition_stats must sit under a codegen stage
    // (a codegen compile failure silently falls back to interpreted mode
    // with no *(n) prefix on that node)
    val projLine = p.linesIterator.find(_.contains("repetition_stats"))
    assert(projLine.exists(_.contains("*(")), s"project not codegen'd:\n$p")
  }

  test("global join lint: no cartesian products; nested loops only in intended broadcast patterns") {
    // empirical allowlist (the sweep below): scalar-subquery join,
    // the brute-force cosine baselines, IVF's broadcast centroids,
    // tfidf's one-row corpus-size broadcast, and the rolling-actives
    // theta joins (a ~30-row day dimension against day-grain distinct
    // users / per-day KMV sketch rows) — each a small-side
    // BroadcastNestedLoopJoin by construction
    val nlAllowed = Set("q25_scalar_subquery", "q26_cosine_topk",
      "q46_ivf_topk", "q71_tfidf", "q73_knn_labels", "q96_rolling_active",
      "q113_rolling_kmv", "q116_hll_distinct", "q119_heavy_hitters",
      "q120_bpe_merges", "q122_bpe_encode", "q124_kmeans",
      "q125_diverse_sample", "q130_semdedup", "q137_pq_topk",
      // q170: broadcast coarse-cell row + codebook row + query LUT into
      // the in-row routing / ADC scans (the q137 contract, IVF edition)
      "q170_ivfpq_topk",
      // q134: the one-row totals frame broadcast into the B-row model
      "q134_importance_weights",
      // q139/q142: one-row corpus stats (N/avgdl, T/V) broadcast into
      // the postings; q143: one-row min/max + totals broadcast into the
      // bucket assignment; q144: the q139 stats plus the 3-row query-
      // vector frame broadcast into the cosine scan
      "q139_bm25_topk", "q142_lm_perplexity", "q143_ks_drift",
      "q144_rrf_hybrid",
      // q148: the one-row corpus token total broadcast into the
      // vocabulary-sized PMI projection
      "q148_pmi",
      // q167: the one-row T/V scalar frame broadcast into the pair
      // scoring (the q142 shape, bigram edition)
      "q167_stupid_backoff",
      // q168: the one-row totals frame and the 4-row percent frame
      // broadcast into the vocabulary-sized coverage scan
      "q168_vocab_coverage",
      // q169: the one-row T/V and sum-lnQ scalar frames broadcast into
      // the vocabulary-sized per-source aggregates
      "q169_kl_source_drift",
      // q152: the bounded query-token bag broadcast into one corpus
      // token pass (the MaxSim serving contract — every query token
      // scores every doc token by design)
      "q152_maxsim_topk",
      // q198: the one-row distinct-score histogram frame broadcast into
      // the per-row calibration lookup (the q142/q167 scalar shape)
      "q198_quantile_normalize",
      // q199: the q26 brute-force contract over hashed vectors — the
      // bounded query side broadcast into one corpus pass
      "q199_hashed_cosine_topk",
      // q200: the one-row bigram-type-count scalar broadcast into the
      // rational projection (the q142/q167 scalar shape)
      "q200_kneser_ney",
      // q207: composes the q26 brute-force ground truth (broadcast
      // query side, one corpus pass) and the q46 broadcast-centroid
      // scoring — both intended broadcast patterns
      "q207_ann_quality",
      // q212: the q26 brute-force truth pattern again (the NN-Descent
      // side is a checkpointed graph — no joins survive into its plan)
      "q212_nndescent_quality",
      // q214/q215: the walk result is a checkpointed beam (no joins
      // survive into its plan); q215 adds the q26 brute-force truth
      // pattern (broadcast held-out query side, one corpus pass)
      "q214_graph_ann_search", "q215_graph_search_quality",
      // q226: the q215 shape over the hierarchical walk — brute-force
      // truth (broadcast held-out query side, one corpus pass); descent
      // beams are checkpointed before the output plan
      "q226_hnsw_quality",
      // q218/q219: the one-row smoothed-total frame (and the ≤8-row
      // piece-length dimension) broadcast into vocabulary-class scans
      // — the q142/q167 scalar shape; the Viterbi rounds themselves
      // are checkpointed and never reach the output plan
      "q218_unigram_learn", "q219_unigram_encode", "q220_unigram_prune",
      // q221: the q218 learn chain's scalar frames plus the q167-shape
      // one-row T/V broadcast into the piece-pair scoring; descent
      // beams and censuses are checkpointed before the output plan
      "q221_ccnet_filter",
      // q213: the minimax (j ≤ k) pair table is a deliberate
      // broadcast theta-join over the BOUNDED score census (both
      // sides census-sized — the maxScores raise guards the square)
      "q213_isotonic_calibration")
    // iterative queries execute jobs at plan-build (connected components
    // materializes rounds); their shapes are pinned by their own tests
    val excluded = Set("q65_dup_clusters", "q80_dedup_survivors")
    for (q <- SparkEntry.queries.keys.toSeq.sorted if !excluded(q)) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      if (!nlAllowed(q))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$q plans an unexpected nested-loop join")
    }
  }

  test("q142: no corpus-sized window — ntile is gone, the only window cumulates the score histogram") {
    val p = executedPlanOf("q142_lm_perplexity")
    assert(!p.contains("ntile"), s"q142 must not plan a global ntile:\n$p")
    // the surviving window runs over the DISTINCT rounded-ppl histogram
    // (post-aggregate `cnt` rows, cardinality bounded by the rounding
    // granularity), never over scored corpus rows
    val wins = "Window \\[([^\\]]+)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(wins.nonEmpty, s"expected the histogram cumulation window:\n$p")
    assert(wins.forall(_.contains("cnt")),
      s"unexpected window over non-histogram input: $wins\n$p")
  }

  test("q77: scd history shares one hash exchange across compaction + versioning windows") {
    val p = executedPlanOf("q77_scd_history").split("== Initial Plan ==").head
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx\n$p")
  }

  test("q78: cdc latest is a partial-aggregating max_by, not a window sort") {
    val p = executedPlanOf("q78_cdc_latest").split("== Initial Plan ==").head
    assert(!p.contains("Window"), s"latestByKey must not plan a window:\n$p")
    // partial + final aggregate: only one candidate row per key per task
    // crosses the shuffle
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r
      .findAllIn(p).size >= 2, p)
  }

  test("q79: exact profile is column-pruned narrow scans with no Expand") {
    val p = planOf("q79_profile")
    // one scan per profiled column, each reading at most that column
    // (same total bytes as a single wide scan, none of the Expand cost)
    assert(!p.contains("Expand"), p)
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.size == 4, s"expected 4 pruned scans:\n$p")
    assert(schemas.forall(s => s.split(",").length <= 1),
      s"scans must be single-column: $schemas")
  }

  test("q82: markup stripping is map-only, sole exchange is the final sort") {
    val p = executedPlanOf("q82_strip_markup").split("== Initial Plan ==").head
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("rangepartitioning"),
      s"expected only the sort exchange, got $exchanges\n$p")
    assert(hasCodegen(p), s"lost whole-stage codegen\n$p")
  }

  test("q173/q174/q175/q180: media resample, frame sampling, and frame deltas are map-only; sole exchange is the final sort") {
    // bytes must never cross a shuffle: decode/resample/sample/delta all
    // happen in one mapPartitions pass and only (id, features)-sized rows
    // reach the orderBy's range exchange — the multimodal 100 TB contract.
    for (q <- Seq("q173_resize", "q174_frame_sample", "q175_audio_resample",
        "q180_frame_deltas", "q181_resize_bilinear", "q182_silence_trim",
        "q183_gain_normalize", "q185_center_crop", "q186_grayscale",
        "q187_orientations")) {
      val p = executedPlanOf(q).split("== Initial Plan ==").head
      val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
      assert(exchanges.size == 1 && exchanges.head.contains("rangepartitioning"),
        s"$q: expected only the sort exchange, got $exchanges\n$p")
    }
  }

  test("q177: length-bucket windows partition on (bucket, sub) — never a single-partition sort") {
    val p = executedPlanOf("q177_length_batches")
    assert(!p.contains("Exchange SinglePartition"),
      s"corpus-scale single-partition exchange:\n$p")
    // both windows must carry the sub key so a dominant bucket fans out
    val windows = "Window \\[[^\\]]*\\], \\[[^\\]]*\\]".r.findAllIn(p).toSeq
    assert(windows.nonEmpty && "partitionBy|sub".r.findFirstIn(p).isDefined,
      s"expected sub-keyed windows:\n$p")
    assert("hashpartitioning\\([^)]*sub".r.findAllIn(p).size >= 2,
      s"both window exchanges must hash on the sub key:\n$p")
  }

  test("q102: KMV sketch aggregates partially (bounded map-side state)") {
    val p = executedPlanOf("q102_kmv_distinct")
    // typed-Aggregator UDAFs plan as ObjectHashAggregate; a partial +
    // final pair proves the sketch merges map-side (k longs per group
    // cross the wire, not the raw hash stream)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q114: CMS grid aggregates partially (bounded map-side state) and broadcasts into the probe") {
    val df = SparkEntry.queries("q114_cms_freq")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    try {
      // NOTE (r14): the spread repartition nests an AdaptiveSparkPlan
      // (with its own "== Initial Plan ==" marker) inside the cached
      // token relation, so the old head-split would truncate the OUTER
      // final plan — the ≥-count and no-SMJ asserts hold on the full
      // tree string (Initial duplicates only add matches, and every
      // join here is broadcast from the initial plan on)
      // grid build: partial + final HashAggregate keyed (depth, bucket)
      // — at most depth x width counters per task cross the exchange,
      // never a per-token row stream
      assert("HashAggregate\\(keys=\\[depth".r.findAllIn(p).size >= 2, p)
      // the grid is sketch-sized: the probe join must be a broadcast,
      // never a sort-merge of the sketch against the probes
      assert(!p.contains("SortMergeJoin"), p)
      assert(p.contains("BroadcastHashJoin"), p)
    } finally spark.catalog.clearCache()
  }

  test("q115: bottom-k sample cuts map-side (WindowGroupLimit before the exchange)") {
    val p = executedPlanOf("q115_sample_quantiles").split("== Initial Plan ==").head
    // partial + final WindowGroupLimit pair: at most k rows per group
    // per task cross the shuffle, never the raw event stream
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
  }

  test("q113: per-day partial sketches aggregate BEFORE the rolling window merge") {
    val df = SparkEntry.queries("q113_rolling_kmv")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    try {
      // two ObjectHashAggregate stages, each partial+final: the per-day
      // sketch over raw events (the only pass that sees event rows) and
      // the 7-day re-aggregation over exploded sketch values (~30 rows)
      assert("ObjectHashAggregate".r.findAllIn(p).size >= 4, p)
      // the raw events scan feeds the day-grain aggregate exactly once —
      // the second plan reference reads the persisted sketch rows, so no
      // query shape re-scans (or re-aggregates) the 100 TB side. Final
      // plans only: AQE repeats the tree under "== Initial Plan ==".
      val finalOnly = p.split("== Initial Plan ==").head
      assert("Scan parquet".r.findAllIn(finalOnly).size == 1, p)
      assert(p.contains("InMemoryTableScan"), p)
      // (dt, user) pairs never cross an exchange: no aggregate is keyed
      // by user_id (the q96 exact formulation's big distinct shuffle) —
      // user_id exists only inside the scan-side kmvHash projection
      assert(!"keys=\\[[^\\]]*user_id".r.findFirstIn(p).isDefined, p)
    } finally spark.catalog.clearCache()
  }

  test("q116: HLL registers aggregate partially; events scan once, mergeOk joins broadcast") {
    val df = SparkEntry.queries("q116_hll_distinct")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    try {
      // full-tree asserts — the q114 note applies (the r14 spread
      // repartition nests an AQE plan inside the cached relation, so a
      // head-split at "== Initial Plan ==" would truncate the outer
      // final plan; ≥-counts and no-SMJ hold on the whole string)
      // typed-Aggregator UDAF plans as ObjectHashAggregate; partial +
      // final pairs prove the m-byte register vectors merge map-side
      // (one fixed-size row per task per group crosses the exchange)
      assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
      // one parquet pass: per-type, global, and both sides of the merge
      // proof all read the persisted hash projection (every FileScan in
      // the tree string is the display of the InMemoryRelation's cached
      // plan, not a live re-scan — the InMemoryTableScan count is the
      // live-read pin)
      assert("InMemoryTableScan".r.findAllIn(p).size >= 4, p)
      // register-vector frames are sketch-sized: every join in the
      // merge-proof path broadcasts, nothing sort-merges
      assert(!p.contains("SortMergeJoin"), p)
    } finally spark.catalog.clearCache()
  }

  test("q117: pagerank edges are persisted once and reused by every iteration; top-k is TakeOrderedAndProject") {
    val df = SparkEntry.queries("q117_pagerank")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    try {
      val finalOnly = p.split("== Initial Plan ==").head
      // the (src, dst, deg) edge layout is materialized ONCE — since the
      // r13 flat-plan optimization as an eager localCheckpoint (a
      // LogicalRDD / ExistingRDD scan, not an InMemoryRelation), so every
      // iteration reads checkpoint blocks and the per-iteration plan
      // stays constant-sized; the persisted-RDD registry is the ground
      // truth that the materialized layout is live
      assert(p.contains("Scan ExistingRDD"), p)
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
        "edge table should be materialized (checkpoint blocks)")
      // raw edges are scanned zero times in the final stage — only rank
      // rows move after the cache is built
      assert(!finalOnly.contains("Scan parquet [src"), p)
      // global top-20 must not plan a full sort
      assert(finalOnly.contains("TakeOrderedAndProject"), p)
    } finally {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }

  test("q119: CMS guard probes via broadcast joins and filters BEFORE the exact aggregation's exchange") {
    val df = SparkEntry.queries("q119_heavy_hitters")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    try {
      val finalOnly = p.split("== Initial Plan ==").head
      // the four depth-lane probes are broadcast joins of the
      // grid-sized sketch — the key stream never sort-merges
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
      assert(!finalOnly.contains("SortMergeJoin"), p)
      // the threshold filter sits under the partial aggregate: the
      // exact-count HashAggregate's child subtree must contain the
      // est-threshold Filter, so dropped rows never reach the exchange
      val aggIdx = finalOnly.indexOf("HashAggregate(keys=[key")
      assert(aggIdx >= 0, p)
      assert(finalOnly.indexOf("Filter", aggIdx) >= 0,
        s"no map-side filter below the exact aggregate\n$p")
    } finally spark.catalog.clearCache()
  }

  test("q120: BPE rounds are vocabulary-sized aggregates with broadcast winners, never sort-merge") {
    val df = SparkEntry.queries("q120_bpe_merges")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    try {
      // the corpus pass and every round's word table are eagerly
      // checkpointed (r14: flat plans — was a persist chain whose
      // per-round re-planning grew with the round number); all six
      // rounds' pair counts and merges read flat LogicalRDD scans, and
      // each winner/stat row joins back as a 1-row broadcast — nothing
      // in the 6-round plan sort-merges
      assert(p.contains("Scan ExistingRDD"), p)
      assert(!p.contains("SortMergeJoin"), p)
      // pair counting partial-aggregates before its exchange
      assert("HashAggregate\\(keys=\\[l".r.findAllIn(p).size >= 2, p)
    } finally spark.catalog.clearCache()
  }
}
