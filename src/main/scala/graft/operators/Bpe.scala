package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Byte-pair-encoding merge learning as a distributed operator — the
  * tokenizer-training step of an LLM data pipeline (Sennrich et al.
  * 2016), built on the classic scale trick: after ONE corpus pass
  * collapses the text to a DISTINCT-WORD table with occurrence counts,
  * every merge round runs against that vocabulary-sized table — pair
  * counting is `explode(adjacent symbol pairs) → sum(word count)`, the
  * winning pair is a 1-row broadcast, and applying the merge is a
  * map-side string replace. At 100 TB the corpus pass is the only
  * corpus-sized job; rounds cost vocabulary-sized aggregates
  * (~10M rows real-world), each one shuffle.
  *
  * Replay contract (q120): every step is engine-exact —
  *   - words serialize as space-separated symbol strings
  *     (" h e l l o </w> ") with the end-of-word marker as a plain
  *     symbol;
  *   - the winner is (max summed count, then lexicographically smallest
  *     (left, right)) — a total order, no float, no hash;
  *   - the merge applies via non-regex `replace(word, " l r ", " lr ")`
  *     — single-scan, left-to-right, non-overlapping in Spark and in
  *     every ANSI engine, so an immediately-repeated pair ("l l l"
  *     with winner (l,l)) merges the FIRST occurrence only per scan:
  *     " l l l " → " ll l ". That is this operator's documented merge
  *     semantics (it differs from implementations that re-scan within
  *     a word after each single merge; both are used in practice, and
  *     the replace form is the one that replays bit-identically).
  *
  * The whole k-round computation is ONE lazy plan: round r's winner
  * joins back as a broadcast scalar, so no driver-side loop ever
  * collects data. */
object Bpe {

  /** Learn `rounds` merges over `textCol`. Returns one row per round:
    * (round, left, right, merged, pair_count, vocab_symbols_after,
    * corpus_symbols_after) where the `_after` stats describe the word
    * table with that round's merge applied (weighted by occurrence for
    * the corpus stat) — they pin the full evolution of the table, not
    * just the chosen pair. */
  def learnMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 32, s"rounds out of range: $rounds")
    // one corpus pass: distinct words + counts, serialized as
    // " c h a r s </w> " symbol strings.
    // OPTIMIZATION r14 (guide §7.3 — the integerPageRank flat-plan
    // rationale): the per-round word tables were persist-chained, so
    // round r's first materialization re-planned a logical tree
    // embedding every earlier round (measured: per-round broadcast jobs
    // growing 0.23 → 0.65 s across the 6 rounds from Catalyst alone).
    // Each round's word table is now an eager localCheckpoint — plans
    // stay constant-sized, the per-round aggregates read flat
    // LogicalRDD scans, and the algorithm (winner choice, merge
    // semantics, after-stats) is untouched. All rounds' checkpoints
    // stay referenced by the returned frame (each round's after-stats
    // read that round's table) and free when it is garbage-collected —
    // vocabulary-sized blocks, the documented residual.
    var words = Checkpoints.spread(docs.select(col(textCol)))
      // spread (r14, guide §2.5): tokenize + explode inherits the
      // scan's parallelism — a 1-file corpus tokenizes on one task
      .select(explode(TextFunctions.tokens(
        TextFunctions.normalizeWs(col(textCol)))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(concat(lit(" "),
        concat_ws(" ", split(col("w"), "")), lit(" </w> ")).as("word"),
        col("cnt"))
      .localCheckpoint()
    val perRound = (1 to rounds).map { r =>
      val syms = split(trim(col("word")), " ")
      val pairs = words.select(col("cnt"),
          explode(arrays_zip(
            slice(syms, lit(1), size(syms) - 1),
            slice(syms, lit(2), size(syms) - 1))).as("p"))
        .select(col("p").getField("0").as("l"),
          col("p").getField("1").as("r"), col("cnt"))
      val winner = pairs.groupBy(col("l"), col("r"))
        .agg(sum(col("cnt")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("l"), col("r"))
        .limit(1)
      words = words.crossJoin(broadcast(winner))
        .select(expr(
          "replace(word, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ')")
          .as("word"), col("cnt"))
        .localCheckpoint()
      val after = words.agg(
        sum(size(split(trim(col("word")), " "))).as("vocab_symbols_after"),
        sum(size(split(trim(col("word")), " ")) * col("cnt"))
          .as("corpus_symbols_after"))
      winner
        .select(lit(r).as("round"), col("l").as("left_sym"),
          col("r").as("right_sym"),
          concat(col("l"), col("r")).as("merged"), col("pair_count"))
        .crossJoin(broadcast(after))
    }
    perRound.reduce(_ unionByName _).orderBy(col("round"))
  }

  /** BPE ENCODING at corpus scale — the apply side of [[learnMerges]]:
    * learn `rounds` merges from the corpus, apply them (in learned
    * order) to every word, and report per-source tokenization stats.
    * Returns (source, words, syms_before, syms_after): symbol counts
    * weighted by occurrence, where `before` is the character
    * tokenization (chars + the `</w>` marker) and `after` is the
    * symbol count with all merges applied — the compression the
    * learned vocabulary actually buys on each source.
    *
    * 100 TB shape: ONE corpus pass builds per-(source, word) counts;
    * merge learning and merge application run entirely against the
    * VOCABULARY-sized distinct-word table (the original word string
    * rides along as `orig`, so the encoded length joins back by word —
    * a vocabulary-sized shuffle, not a corpus-sized one). Winners join
    * as 1-row broadcasts exactly as in [[learnMerges]]; no driver
    * collect anywhere in the plan. */
  def encodeStats(docs: DataFrame, textCol: String, sourceCol: String,
                  rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 32, s"rounds out of range: $rounds")
    import org.apache.spark.storage.StorageLevel
    val sw = Checkpoints.spread(
        docs.select(col(sourceCol).as("source"), col(textCol)))
      .select(col("source"),
        explode(TextFunctions.tokens(
          TextFunctions.normalizeWs(col(textCol)))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // global word table derives from sw — no second corpus pass.
    // Checkpointed rounds instead of a persist chain (the learnMerges
    // r14 flat-plan rationale); unlike learnMerges the output reads only
    // the FINAL table, so superseded rounds free eagerly.
    val init = sw.groupBy(col("w")).agg(sum(col("c")).as("cnt"))
      .select(col("w").as("orig"),
        concat(lit(" "),
          concat_ws(" ", split(col("w"), "")), lit(" </w> ")).as("word"),
        col("cnt"))
      .localCheckpoint()
    val (words, _) = Checkpoints.rounds(init, rounds, ownsInit = true) {
        (words, _) =>
      val syms = split(trim(col("word")), " ")
      val pairs = words.select(col("cnt"),
          explode(arrays_zip(
            slice(syms, lit(1), size(syms) - 1),
            slice(syms, lit(2), size(syms) - 1))).as("p"))
        .select(col("p").getField("0").as("l"),
          col("p").getField("1").as("r"), col("cnt"))
      val winner = pairs.groupBy(col("l"), col("r"))
        .agg(sum(col("cnt")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("l"), col("r"))
        .limit(1)
      words.crossJoin(broadcast(winner.select(col("l"), col("r"))))
        .select(col("orig"), expr(
          "replace(word, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ')")
          .as("word"), col("cnt"))
    }
    val enc = words.select(col("orig"),
      size(split(trim(col("word")), " ")).cast("long").as("sym"))
    sw.join(enc, col("w") === col("orig"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("words"),
        sum(col("c") * (length(col("w")) + 1)).as("syms_before"),
        sum(col("c") * col("sym")).as("syms_after"))
      .orderBy(col("source"))
  }
}
