package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** UNIGRAM-LM (SentencePiece-class) tokenizer training (Kudo 2018) —
  * the OTHER production tokenizer family next to [[Bpe]] (VERDICT r11
  * #5): instead of growing a vocabulary by greedy merges, fix a
  * substring candidate census and fit per-piece scores by EM, where
  * each E-step segments every word by the highest-scoring piece
  * sequence (hard-EM / Viterbi counts — the deterministic member of
  * the EM family) and the M-step re-estimates scores from the counts.
  *
  * Everything replays exactly in SQL — the two discipline choices:
  *
  *  - **Scaled-long weights, no float log.** A piece's Viterbi weight
  *    is `log2lin(c+1) − log2lin(T)` where `log2lin` is the
  *    exponent-mantissa piecewise-linear log2 computed with INTEGER
  *    ops only: `e·2^20 + ((c − 2^e)·2^20 div 2^e)` with
  *    `e = ⌊log2 c⌋ = length(bin(c)) − 1`. Monotone in c, ≤ 0.086-bit
  *    error vs true log2, and bit-identical in any engine — the
  *    float-free "scaled-long E-step" the oracle contract demands
  *    (libm `ln` is not correctly-rounded across engines; this is).
  *    Add-one smoothing keeps every candidate alive between
  *    iterations.
  *  - **Forward max-plus DP, total-order tie-break.** The Viterbi
  *    lattice over a word's cut positions is solved left-to-right in
  *    ONE map-side higher-order-function pass (optimization r13 — see
  *    [[viterbi]]; previously ⌈log2 L⌉ distributed prefix-doubling
  *    rounds computing the same segmentation); a path is
  *    (score, n, mask) with `mask` the bitmask of internal cut
  *    positions, and the kept path per prefix is the lexicographic max
  *    of (score, −n, −mask) — highest score, then fewest pieces, then
  *    smallest cut mask: a TOTAL order (mask ↔ segmentation is a
  *    bijection), additive per field, so optimal substructure holds
  *    and both engines pick the same segmentation always.
  *
  * 100 TB shape: the classic [[Bpe]] trick — ONE corpus pass collapses
  * text to the distinct-word census; the candidate census and every
  * E-step count table are VOCABULARY-class tables shuffled on the word
  * or piece key; piece/weight tables are top-N-bounded broadcasts (the
  * per-word lattice DP rides the census scan map-side). The corpus
  * never rides an exchange after the first pass.
  */
object Unigram {

  private def toks(textCol: Column): Column =
    TextFunctions.tokens(TextFunctions.normalizeWs(textCol))

  /** Integer-only piecewise-linear log2 (scaled 2^20) as a SQL
    * fragment over the expression `x` (must be a positive BIGINT). */
  private def log2linSql(x: String): String = {
    val e = s"(length(bin($x)) - 1)"
    val p = s"shiftleft(cast(1 as bigint), cast($e as int))"
    s"($e * 1048576 + (($x - $p) * 1048576) div $p)"
  }

  /** Distinct-word census of `docs`: (w, cnt, len), with the loud
    * over-length raise inside the plan (the maxScores precedent — a
    * silent truncation would change the learned vocabulary).
    * `private[graft]`: [[graft.streaming.UnigramStream]] appends these
    * rows as its per-drain census delta. */
  private[graft] def wordCensus(docs: DataFrame, textCol: String,
                                maxWordLen: Int): DataFrame =
    // spread (optimization r14, guide §2.5): tokenize + explode is the
    // corpus-pass map cost and inherits the scan's parallelism — a
    // 1-file corpus would tokenize everything through one task
    Checkpoints.spread(docs.select(col(textCol)))
      .select(explode(toks(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("w", when(length(col("w")) > maxWordLen,
        raise_error(concat(lit(s"unigram: word longer than $maxWordLen"),
          lit(": "), col("w")))).otherwise(col("w")))
      .withColumn("len", length(col("w")).cast("long"))

  /** Substring-candidate census over the word table: every substring
    * of length 1..`maxPieceLen`, weighted by word count × occurrence.
    * Selection: ALL single characters (coverage guarantee) plus the
    * top `topN` longer pieces by (weight desc, piece asc). */
  private def candidateCensus(words: DataFrame, maxPieceLen: Int,
                              topN: Int): DataFrame = {
    val spark = words.sparkSession
    val lens = broadcast(spark.range(1, maxPieceLen + 1L)
      .select(col("id").as("pl")))
    val subs = words.crossJoin(lens)
      .filter(col("pl") <= col("len"))
      .select(col("w"), col("cnt"), col("pl"),
        explode(expr("sequence(0, len - pl)")).as("j"))
      .select(expr("substring(w, cast(j + 1 as int), cast(pl as int))")
        .as("piece"), col("cnt"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("census"))
    // the rank window runs over the candidate census — vocabulary-class
    // cardinality by construction (≤ vocab × L × maxPieceLen rows)
    val ranked = subs.withColumn("rn",
      when(length(col("piece")) === 1, lit(0L))
        .otherwise(row_number().over(Window
          .partitionBy(length(col("piece")) === 1)
          .orderBy(col("census").desc, col("piece"))).cast("long")))
    ranked.filter(col("rn") <= topN).select(col("piece"), col("census"))
  }

  /** Viterbi-best segmentation of every word in `words` under integer
    * piece weights. Returns the input columns plus (n, mask): piece
    * count and internal-cut bitmask of the unique total-order-best path
    * 0 → len(w); words with NO lattice path (a character outside the
    * piece set — the ccnet corpus-encode case) yield no row.
    *
    * OPTIMIZATION r13 (guide §2.4 — remove shuffles outright): the
    * piece table is bounded by construction (all single chars + topN
    * multi-char candidates), so it collapses into a ONE-ROW piece→weight
    * map that broadcasts, and each word's lattice is solved
    * left-to-right in a single higher-order-function expression — ZERO
    * shuffles and zero materializations where the previous max-plus
    * prefix-doubling formulation paid ⌈log₂ L⌉ rounds of
    * (self-join + aggregate + localCheckpoint) over the path table.
    * The forward DP keeps, per prefix boundary i, the lexicographic max
    * of (score, −n, −mask) — the SAME total order the doubling rounds
    * used; optimal substructure holds because every field combines
    * additively (a strictly better prefix stays strictly better under
    * any common suffix), so the chosen segmentation is bit-identical
    * and the oracle replay is untouched. The result is LAZY (a pure
    * projection over `words`): callers checkpoint it only where their
    * release protocol needs a materialization barrier. */
  private def viterbi(words: DataFrame, pieces: DataFrame,
                      maxPieceLen: Int): DataFrame = {
    val wmapRow = broadcast(pieces.agg(map_from_entries(
      collect_list(struct(col("piece"), col("wt")))).as("wm")))
    // state per boundary: (s = score, nn = −pieces, nm = −mask);
    // null = boundary unreachable under the piece set
    val zero = struct(lit(0L).as("s"), lit(0L).as("nn"), lit(0L).as("nm"))
    def step(acc: Column, i: Column): Column = {
      val cands: Seq[Column] = (1 to maxPieceLen).map { pl =>
        val j = i - lit(pl.toLong) // previous boundary
        when(lit(pl.toLong) <= i, {
          val prev = element_at(acc, (j + lit(1L)).cast("int"))
          val wt = try_element_at(col("wm"),
            col("w").substr((j + lit(1L)).cast("int"), lit(pl)))
          val cut = when(j > 0,
            call_function("shiftleft", lit(1L), j.cast("int")))
            .otherwise(lit(0L))
          when(prev.isNotNull && wt.isNotNull,
            struct((prev.getField("s") + wt).as("s"),
              (prev.getField("nn") - lit(1L)).as("nn"),
              (prev.getField("nm") - cut).as("nm")))
        })
      }
      val best = if (cands.size == 1) cands.head else greatest(cands: _*)
      concat(acc, array(best))
    }
    val passThrough = words.columns.map(col).toSeq
    words.crossJoin(wmapRow)
      .withColumn("b", aggregate(
        sequence(lit(1L), col("len")), array(zero), step,
        acc => element_at(acc, size(acc))))
      .filter(col("b").isNotNull)
      .select(passThrough :+ (-col("b.nn")).as("n")
        :+ (-col("b.nm")).as("mask"): _*)
  }

  /** Decode the best path's pieces: boundaries are 0, len(w), and the
    * set bits of `mask`; pieces are the substrings between consecutive
    * boundaries. Input must carry (w, mask); adds `pieces`. */
  private def withPieces(best: DataFrame): DataFrame = best
    .withColumn("bnds", expr(
      "filter(sequence(0L, cast(length(w) as long)), p -> p = 0 OR " +
        "p = length(w) OR (shiftright(mask, cast(p as int)) % 2) = 1)"))
    .withColumn("pieces", expr(
      "transform(slice(bnds, 1, size(bnds) - 1), (b, k) -> " +
        "substring(w, cast(b + 1 as int), " +
        "cast(element_at(bnds, k + 2) - b as int)))"))
    .drop("bnds")

  /** Weight table from smoothed counts: wt = log2lin(cnt + 1) −
    * log2lin(T) with T = Σ(cnt + 1) over the candidate set. */
  private def weighted(counts: DataFrame): DataFrame = {
    val t = broadcast(counts.agg(
      sum(col("cnt") + 1).cast("long").as("tt")))
    counts.crossJoin(t)
      .withColumn("c1", (col("cnt") + 1).cast("long"))
      .withColumn("wt",
        expr(log2linSql("c1") + " - " + log2linSql("tt")).cast("long"))
      .select(col("piece"), col("cnt"), col("wt"))
  }

  /** One E-step: Viterbi-segment every word under weight table `w`,
    * count used pieces (occurrence-weighted), and return counts over
    * the candidate set `cands` (zero for unused — smoothing keeps them
    * alive downstream). */
  private def estepCounts(words: DataFrame, cands: DataFrame, w: DataFrame,
                          maxPieceLen: Int): DataFrame = {
    // the map-side viterbi is a lazy projection over the words
    // checkpoint — the piece-count join rides the same single pass, and
    // the one materialization per E-step is the caller's checkpoint of
    // these (vocabulary-sized) counts (was: ~6 jobs per E-step through
    // the prefix-doubling rounds)
    val used = withPieces(viterbi(words, w, maxPieceLen))
      .select(explode(col("pieces")).as("piece"), col("cnt"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("used"))
    cands.select(col("piece"))
      .join(used, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("used"), lit(0L)).as("cnt"))
  }

  /** `emIters` hard-EM iterations over the fixed census `cands`, each
    * one E-step under the previous iteration's weights (iteration 0 =
    * census weights). The census projection that seeds the rounds stays
    * the caller's: freeing it would free `cands`. Returns the final
    * counts checkpoint (piece, cnt). */
  private def emCounts(words: DataFrame, cands: DataFrame, emIters: Int,
                       maxPieceLen: Int): DataFrame =
    Checkpoints.rounds(cands.select(col("piece"), col("census").as("cnt")),
        emIters, ownsInit = false) { (counts, _) =>
      estepCounts(words, cands, weighted(counts), maxPieceLen)
    }._1

  /** LEARN: fixed candidate census + `emIters` hard-EM iterations.
    * Returns one row per (iter, piece): `cnt` is the piece's count at
    * that iteration (iter 0 = census weight; iter k ≥ 1 = Viterbi
    * count under iteration k−1's weights, zero when unused) and `wt`
    * the smoothed scaled-long weight DERIVED from that count (the
    * weight the next E-step uses) — so the census, the weight formula,
    * and every E-step's segmentation counts all sit under the gate. */
  def learn(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
            topN: Int = 24, emIters: Int = 2,
            maxWordLen: Int = 16): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 8, "maxPieceLen out of range")
    require(emIters >= 1 && emIters <= 4, "emIters out of range")
    require(maxWordLen >= 2 && maxWordLen <= 32, "maxWordLen out of range")
    val words = wordCensus(docs, textCol, maxWordLen).localCheckpoint()
    val cands = candidateCensus(words, maxPieceLen, topN)
      .localCheckpoint()
    // iter-0 counts checkpoint too: every counts table is then a
    // checkpoint, so the corpus-derived census tables free on return —
    // what the returned plan retains is emIters+1 vocabulary-sized
    // counts tables, nothing word-census-sized
    var counts = cands.select(col("piece"), col("census").as("cnt"))
      .localCheckpoint()
    val perIter = (0 to emIters).map { k =>
      val w = weighted(counts)
      if (k < emIters)
        counts = estepCounts(words, cands, w, maxPieceLen).localCheckpoint()
      w.select(lit(k.toLong).as("iter"), col("piece"), col("cnt"),
        col("wt"))
    }
    val out = perIter.reduce(_ unionByName _)
    Checkpoints.freeCheckpoint(words)
    Checkpoints.freeCheckpoint(cands)
    out
  }

  /** PRUNE + RE-FIT (the full SentencePiece loop's third phase): after
    * `emIters` hard-EM iterations over the fixed census, keep all
    * single characters (coverage) plus the top `keepN` multi-char
    * pieces by (EM count desc, piece asc) among those the E-step
    * actually used — the deterministic stand-in for likelihood-loss
    * pruning (hard-EM counts ARE each piece's contribution to the
    * corpus segmentation) — then re-fit: one more E-step under weights
    * renormalized over the SURVIVING set. Returns one row per ORIGINAL
    * candidate: (piece, kept, cnt_pre, cnt_post) — cnt_pre the final
    * pre-prune EM count, cnt_post the post-prune re-fit count (0 for
    * pruned pieces; their mass flows to the survivors, which the
    * corpus-conservation law in the spec pins). */
  def pruneStats(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
                 topN: Int = 24, emIters: Int = 2, keepN: Int = 8,
                 maxWordLen: Int = 16): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 8, "maxPieceLen out of range")
    require(emIters >= 1 && emIters <= 4, "emIters out of range")
    require(keepN >= 0 && keepN <= topN, "keepN out of range")
    require(maxWordLen >= 2 && maxWordLen <= 32, "maxWordLen out of range")
    val words = wordCensus(docs, textCol, maxWordLen).localCheckpoint()
    val cands = candidateCensus(words, maxPieceLen, topN).localCheckpoint()
    val pre = emCounts(words, cands, emIters, maxPieceLen)
    val kept = pre
      .withColumn("rn", when(length(col("piece")) === 1, lit(0L))
        .otherwise(row_number().over(Window
          .partitionBy(length(col("piece")) === 1)
          .orderBy(col("cnt").desc, col("piece"))).cast("long")))
      .filter((length(col("piece")) === 1 ||
        col("cnt") > 0) && col("rn") <= keepN)
      .select(col("piece"), col("cnt"))
    val post = estepCounts(words, kept, weighted(kept), maxPieceLen)
      .localCheckpoint()
    Checkpoints.freeCheckpoint(words)
    Checkpoints.freeCheckpoint(cands)
    pre.join(kept.select(col("piece"), lit(1L).as("kept")),
        Seq("piece"), "left")
      .join(post.select(col("piece"), col("cnt").as("cnt_post")),
        Seq("piece"), "left")
      .select(col("piece"), coalesce(col("kept"), lit(0L)).as("kept"),
        col("cnt").as("cnt_pre"),
        coalesce(col("cnt_post"), lit(0L)).as("cnt_post"))
  }

  /** ENCODE: per-source tokenization stats under the LEARNED weights
    * (the [[learn]] pipeline run to its final weight table, then one
    * more Viterbi pass): (source, words, chars, pieces) — total word
    * occurrences, characters, and unigram-LM pieces, each weighted by
    * occurrence. The compression the learned vocabulary buys per
    * source, the [[Bpe.encodeStats]] analog. */
  def encodeStats(docs: DataFrame, textCol: String, sourceCol: String,
                  maxPieceLen: Int = 4, topN: Int = 24, emIters: Int = 2,
                  maxWordLen: Int = 16): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 8, "maxPieceLen out of range")
    require(emIters >= 1 && emIters <= 4, "emIters out of range")
    require(maxWordLen >= 2 && maxWordLen <= 32, "maxWordLen out of range")
    // per-(source, word) counts in ONE corpus pass; the global word
    // table derives from it (no second pass — the Bpe.encodeStats rule)
    val sw = Checkpoints.spread(
        docs.select(col(sourceCol).as("source"), col(textCol)))
      .select(col("source"), explode(toks(col(textCol))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val words = sw.groupBy(col("w")).agg(sum(col("c")).as("cnt"))
      .withColumn("w", when(length(col("w")) > maxWordLen,
        raise_error(concat(lit(s"unigram: word longer than $maxWordLen"),
          lit(": "), col("w")))).otherwise(col("w")))
      .withColumn("len", length(col("w")).cast("long"))
      .localCheckpoint()
    val cands = candidateCensus(words, maxPieceLen, topN).localCheckpoint()
    val counts = emCounts(words, cands, emIters, maxPieceLen)
    val best = viterbi(words, weighted(counts), maxPieceLen)
      .localCheckpoint() // materialization barrier: counts/words free below
    Checkpoints.freeCheckpoint(counts) // best is materialized
    Checkpoints.freeCheckpoint(words)
    Checkpoints.freeCheckpoint(cands)
    sw.join(best.select(col("w"), col("n")), Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("words"),
        sum(length(col("w")) * col("c")).as("chars"),
        sum(col("n") * col("c")).as("pieces"))
  }

  /** The [[learn]] EM loop run to its FINAL weight table over a
    * PRE-BUILT word census (w, cnt, len) — the streaming-maintenance
    * seam: [[graft.streaming.UnigramStream]] re-fits from its standing
    * census delta log, never from raw text, so fit-from-census and
    * fit-from-corpus must be the same code path. Returns
    * (piece, cnt, wt) — the weights one more Viterbi pass would
    * segment with ([[encodeStatsWith]]). */
  private[graft] def fitWeights(words: DataFrame, maxPieceLen: Int,
                                topN: Int, emIters: Int,
                                maxWordLen: Int): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 8, "maxPieceLen out of range")
    require(emIters >= 1 && emIters <= 4, "emIters out of range")
    require(maxWordLen >= 2 && maxWordLen <= 32, "maxWordLen out of range")
    val wds = words.localCheckpoint()
    val cands = candidateCensus(wds, maxPieceLen, topN).localCheckpoint()
    val counts = emCounts(wds, cands, emIters, maxPieceLen)
    val out = weighted(counts).localCheckpoint()
    Checkpoints.freeCheckpoint(counts)
    Checkpoints.freeCheckpoint(wds)
    Checkpoints.freeCheckpoint(cands)
    out
  }

  /** [[encodeStats]] under a CALLER-SUPPLIED weight table
    * (piece, wt) — the generation-pinned apply path: a standing
    * tokenizer ([[graft.streaming.UnigramStream]]) serves encodes from
    * its fitted generation without re-learning, exactly like the
    * IVF-PQ stream serves from its codebook generation. */
  def encodeStatsWith(docs: DataFrame, textCol: String, sourceCol: String,
                      weights: DataFrame, maxPieceLen: Int = 4,
                      maxWordLen: Int = 16): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 8, "maxPieceLen out of range")
    require(maxWordLen >= 2 && maxWordLen <= 32, "maxWordLen out of range")
    val sw = Checkpoints.spread(
        docs.select(col(sourceCol).as("source"), col(textCol)))
      .select(col("source"), explode(toks(col(textCol))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val words = sw.groupBy(col("w")).agg(sum(col("c")).as("cnt"))
      .withColumn("w", when(length(col("w")) > maxWordLen,
        raise_error(concat(lit(s"unigram: word longer than $maxWordLen"),
          lit(": "), col("w")))).otherwise(col("w")))
      .withColumn("len", length(col("w")).cast("long"))
      .localCheckpoint()
    val best = viterbi(words, weights, maxPieceLen)
      .localCheckpoint() // materialization barrier: words frees below
    Checkpoints.freeCheckpoint(words)
    sw.join(best.select(col("w"), col("n")), Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("words"),
        sum(length(col("w")) * col("c")).as("chars"),
        sum(col("n") * col("c")).as("pieces"))
  }

  /** CCNET-STYLE LM QUALITY FILTERING over the LEARNED tokenizer
    * (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data"; the recipe behind LLaMA-class data
    * work) — the composition [[learn]] and
    * [[Perplexity.stupidBackoffScore]] were built to meet (VERDICT r12
    * #1): CCNet scores documents with an n-gram LM over SentencePiece
    * PIECES trained on a clean reference corpus and buckets the pool by
    * perplexity, so word-level LM filtering (q142/q167) and subword
    * learning (q218/q219) must compose, not coexist.
    *
    * The chain, every stage the already-gated machinery:
    *  1. fit the unigram-LM vocabulary on the CLEAN REFERENCE source
    *     (`srcCol` == `refSource`) — the [[learn]] EM loop to its final
    *     integer weight table;
    *  2. Viterbi-encode the FULL corpus's word census under those
    *     weights (the [[encodeStats]] apply pass). A word carrying a
    *     character the reference never saw has no lattice path and
    *     encodes as one OOV marker piece — the reserved piece id 0
    *     (real candidate ids are 1-based), collision-free by
    *     construction;
    *  3. re-assemble each document's ORDERED piece stream (token
    *     positions ride the census join; arrays are doc-bounded — the
    *     `toks()` envelope);
    *  4. train Stupid Backoff over the reference's piece BIGRAMS — the
    *     backoff scheme with a closed replay (fixed α = 0.4, add-one
    *     unigram floor; the q167 contract) — and score every document's
    *     adjacent piece pairs, `xsb` = occurrence-weighted mean −ln S
    *     (the cross-entropy analog CCNet buckets by). Documents with
    *     fewer than two pieces have no pairs and drop — nothing to
    *     score;
    *  5. bucket PER SOURCE at fixed percentile cut scores — the
    *     [[Perplexity.perplexityBuckets]] integer cut rule with the
    *     histogram window partitioned by source (CCNet buckets each
    *     language pool separately; sources are the pool analog here).
    *
    * 100 TB shape: learning is vocabulary-class over the reference
    * slice (the [[learn]] contract); the corpus pays exactly two
    * passes — one to its distinct-word census, one token-position
    * explode — and the encode join is census-sized on the word key;
    * the piece stream re-assembly is ONE doc-keyed exchange carrying
    * doc-bounded arrays; the reference bigram/unigram models are
    * ref-vocabulary-sized shuffle joins (a web-scale piece-bigram
    * table is not a broadcast) with T and V as a 1-row broadcast; the
    * bucket window runs over the per-source DISTINCT rounded-score
    * histogram, never a corpus row.
    *
    * Returns (doc_id, source, n_pieces, n_oov, n_pairs, xsb, bucket),
    * bucket 1 = lowest piece cross-entropy (head). The caller passes
    * the rounding so cut points sit on the values the cross-engine
    * gate compares (the q142 convention). */
  def ccnetBuckets(docs: DataFrame, idCol: String, textCol: String,
                   srcCol: String, refSource: String,
                   round: Column => Column, buckets: Int = 3,
                   maxPieceLen: Int = 4, topN: Int = 24, emIters: Int = 2,
                   maxWordLen: Int = 16): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 8, "maxPieceLen out of range")
    require(emIters >= 1 && emIters <= 4, "emIters out of range")
    require(maxWordLen >= 2 && maxWordLen <= 32, "maxWordLen out of range")
    require(buckets >= 2 && buckets <= 100, s"buckets out of range: $buckets")
    // OPTIMIZATION r14 (guide §1.2 — one corpus pass, not two): the
    // reference-slice census (stage 1's learn input) and the
    // full-corpus census (stage 2's encode input) previously each paid
    // a tokenize + explode + groupBy pass over the text; one combined
    // census now carries both counts — cnt over every doc, cnt_ref
    // over the reference slice — and the two word tables are lazy
    // projections of its single checkpoint. Counts are identical by
    // construction (the ref slice is a subset), so every downstream
    // stage replays bit-for-bit.
    val cens = Checkpoints.spread(
        docs.select(col(srcCol), col(textCol))) // spread: the wordCensus rationale
      .select((col(srcCol) === refSource).as("isref"),
        explode(toks(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"),
        sum(when(col("isref"), 1L).otherwise(0L)).as("cnt_ref"))
      .withColumn("w", when(length(col("w")) > maxWordLen,
        raise_error(concat(lit(s"unigram: word longer than $maxWordLen"),
          lit(": "), col("w")))).otherwise(col("w")))
      .withColumn("len", length(col("w")).cast("long"))
      .localCheckpoint()
    // 1. learn on the clean reference slice (the q218 loop verbatim)
    val words = cens.filter(col("cnt_ref") > 0)
      .select(col("w"), col("cnt_ref").as("cnt"), col("len"))
    val cands = candidateCensus(words, maxPieceLen, topN).localCheckpoint()
    val counts = emCounts(words, cands, emIters, maxPieceLen)
    // 2. encode the FULL corpus census under the learned weights
    val wdsAll = cens.select(col("w"), col("cnt"), col("len"))
    val best = viterbi(wdsAll, weighted(counts), maxPieceLen)
    // OPTIMIZATION r14 continuation (guide §2.3 — shuffle keys and
    // metadata instead of payloads): no piece STRING ever appears in
    // this operator's output — pieces exist only as join/group keys for
    // the Stupid-Backoff scoring — yet they previously rode the
    // doc-keyed stream exchange (as string arrays), both pair-table
    // exchanges, and all three scoring joins. Every piece a lattice
    // path can use is in the candidate set, so a DENSE INTEGER id per
    // candidate (row_number over the vocabulary-sized table — bounded
    // by all-chars + topN) keyed at the census-sized seam makes every
    // downstream exchange carry longs instead of strings. The map is
    // injective, so every count, backoff ratio, xsb and bucket is
    // bit-identical; a piece missing from the map (impossible by
    // construction) raises loudly instead of scoring as null. Id 0 is
    // reserved for the OOV marker.
    val pids = cands.select(col("piece"))
      .withColumn("pid",
        row_number().over(Window.orderBy(col("piece"))).cast("long"))
    val pidRow = broadcast(pids.agg(map_from_entries(
      collect_list(struct(col("piece"), col("pid")))).as("pm")))
    val segAll = withPieces(best).crossJoin(pidRow)
      .select(col("w"), transform(col("pieces"), p =>
        when(element_at(col("pm"), p).isNull,
          raise_error(concat(lit("ccnetBuckets: piece outside the "),
            lit("candidate set: "), p)).cast("long"))
          .otherwise(element_at(col("pm"), p))).as("pieces"))
    // 3. per-doc ordered piece streams
    // spread (r14, guide §2.5 — measured: this tokenize + posexplode
    // was a 0.7 s single-task stage on a 1-file corpus)
    val docWords = Checkpoints.spread(docs.select(col(idCol).as("doc_id"),
        col(srcCol).as("source"), col(textCol)))
      .select(col("doc_id"), col("source"), posexplode(toks(col(textCol))))
      .select(col("doc_id"), col("source"), col("pos"), col("col").as("w"))
    val streams = docWords.join(segAll, Seq("w"), "left")
      .select(col("doc_id"), col("source"), col("pos"),
        // OOV marker = reserved pid 0 (row_number ids start at 1) —
        // collision-free exactly like the `unk` string it replaces
        coalesce(col("pieces"), array(lit(0L))).as("pcs"),
        when(col("pieces").isNull, 1L).otherwise(0L).as("oov"))
      .groupBy(col("doc_id"), col("source"))
      .agg(flatten(transform(array_sort(collect_list(
          struct(col("pos"), col("pcs")))), x => x.getField("pcs")))
        .as("ps"),
        sum(col("oov")).as("n_oov"))
      .localCheckpoint() // read by the ref model AND every doc score
    Checkpoints.freeCheckpoint(cens)
    Checkpoints.freeCheckpoint(cands)
    Checkpoints.freeCheckpoint(counts)
    // 4. Stupid Backoff over reference piece bigrams (q167 formula)
    def pairsOf(df: DataFrame): DataFrame = {
      val cnt = size(col("ps"))
      df.filter(size(col("ps")) >= 2)
        .select(col("doc_id"),
          explode(zip_with(
            slice(col("ps"), lit(1), cnt - 1),
            slice(col("ps"), lit(2), cnt - 1),
            (a, b) => struct(a.as("p1"), b.as("p2")))).as("pr"))
        .select(col("doc_id"), col("pr.p1").as("p1"), col("pr.p2").as("p2"))
    }
    val refStreams = streams.filter(col("source") === refSource)
    // refUni is read THREE times (the T/V scalars and both unigram
    // scoring joins) and Spark does no cross-plan CSE — checkpoint the
    // (ref-vocabulary-sized) table once instead of re-exploding the
    // reference streams per reference (optimization r14, guide §1.2);
    // blocks free when the returned frame is garbage-collected
    val refUni = refStreams.select(explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("c1"))
      .localCheckpoint()
    val refBi = pairsOf(refStreams)
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("c2"))
    val scalars = refUni.agg(sum(col("c1")).cast("double").as("t"),
      count(lit(1)).cast("double").as("v"))
    // 5. score every document's pairs
    val scored = pairsOf(streams)
      .groupBy(col("doc_id"), col("p1"), col("p2"))
      .agg(count(lit(1)).as("pf"))
      .join(refBi, Seq("p1", "p2"), "left")
      .join(refUni.select(col("p").as("p1"), col("c1").as("c1p1")),
        Seq("p1"), "left")
      .join(refUni.select(col("p").as("p2"), col("c1").as("c1p2")),
        Seq("p2"), "left")
      .crossJoin(broadcast(scalars))
      .withColumn("lp",
        when(coalesce(col("c2"), lit(0L)) > 0L,
          log(col("c2").cast("double") / col("c1p1")))
        .otherwise(
          log(lit(0.4) * (coalesce(col("c1p2"), lit(0L)) + lit(1.0)) /
            (col("t") + col("v") + lit(1.0)))))
      .groupBy(col("doc_id"))
      .agg(sum(col("pf")).as("n_pairs"),
        round(-sum(col("pf") * col("lp")) / sum(col("pf"))).as("xsb"))
    val docScored = streams.select(col("doc_id"), col("source"),
        size(col("ps")).cast("long").as("n_pieces"), col("n_oov"))
      .join(scored, Seq("doc_id"))
    // 6. per-source percentile-cut buckets (q142 integer rule,
    // histogram window partitioned by source)
    val k = buckets.toLong
    val hist = docScored.groupBy(col("source"), col("xsb"))
      .agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(
      Window.partitionBy(col("source")).orderBy(col("xsb"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = hist.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
    val cuts = cum.join(totals, Seq("source"))
      .select(col("source"), col("xsb"), col("cum"), col("n"),
        explode(sequence(lit(1L), lit(k - 1L))).as("b"))
      .filter(col("cum") * lit(k) >= col("b") * col("n"))
      .groupBy(col("source"), col("b")).agg(min(col("xsb")).as("cut"))
    val cutArr = cuts.groupBy(col("source"))
      .agg(sort_array(collect_list(col("cut"))).as("cuts"))
    docScored.join(broadcast(cutArr), Seq("source"))
      .withColumn("bucket",
        (lit(1) + size(filter(col("cuts"), c => col("xsb") > c)))
          .cast("long"))
      .select(col("doc_id"), col("source"), col("n_pieces"), col("n_oov"),
        col("n_pairs"), col("xsb"), col("bucket"))
  }
}
