package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus deduplication operators — exact and near-dup — designed for
  * 100 TB scale: every variant is a shuffle-on-key or a bounded
  * candidate-pair join (LSH banding), never an all-pairs cross join.
  *
  * The reference's only dedup is `drop_duplicates(subset=['hash_id'])`
  * (staging-transform.py:248, SURVEY.md A3); the near-dup family
  * (MinHash/SimHash/Jaccard) is the LLM-training-pipeline extension.
  */
object Dedup {

  /** A3: first-wins exact dedup on key columns. Spark's dropDuplicates is
    * a hash aggregate (partial + final), so only distinct keys shuffle. */
  def exact(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** Deterministic-winner exact dedup: keeps the row with the smallest
    * `orderCol` per key (the reference's "first wins" made deterministic;
    * SURVEY.md A3 scale note). One shuffle on the key. */
  def exactDeterministic(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Content dedup on a normalized-text fingerprint: survives whitespace /
    * case differences. Keeps min(idCol) per fingerprint — an aggregate,
    * not a window, so it map-side combines. */
  def byFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = df.withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
    val winners = fp.groupBy("__fp").agg(min(col(idCol)).as(idCol))
    fp.join(winners, Seq("__fp", idCol), "left_semi").drop("__fp")
  }

  // ---------------------------------------------------------------- MinHash

  /** 2^31-1 — see MinHashEval.MersennePrime for why the 61-bit prime is
    * wrong here (a*x+b would wrap it at most once, making the hash
    * monotone in x and the signature non-min-wise). */
  private val MersennePrime = (1L << 31) - 1

  /** Deterministic (a, b) coefficient pairs for the k MinHash functions.
    * Kept below 2^31 so a*x + b stays well inside a long under ANSI mode
    * (Spark 4 default) — no overflow, no wraparound semantics needed. */
  private def coeffs(k: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((rnd.nextInt(Int.MaxValue - 1).toLong + 1,
                 rnd.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signature (array<bigint> of length k) over a shingle array.
    * h_i(S) = min over shingles s of ((a_i * x(s) + b_i) mod p), with
    * x(s) = xxhash64(s) folded into [0, 2^31) and p = 2^31-1 (the product
    * must wrap p many times for min-wise behavior — see MersennePrime).
    * a, b < 2^31 keeps every intermediate < 2^62 (ANSI-safe). Pure
    * built-in higher-order functions: evaluated per row on executors, no
    * UDF serialization.
    */
  def minhashSignature(shingles: Column, k: Int = 64, seed: Long = 42L): Column =
    minhashSignatureFromHashes(transform(shingles, s => xxhash64(s)), k, seed)

  /** MinHash signature over pre-hashed shingles (array<bigint>) — used by
    * the pair pipeline so shingle hashing happens exactly once per doc. */
  def minhashSignatureFromHashes(hashes: Column, k: Int = 64, seed: Long = 42L): Column = {
    val cs = coeffs(k, seed)
    val xs = array_distinct(transform(hashes, h => pmod(h, lit(1L << 31))))
    val params = array(cs.map { case (a, b) => struct(lit(a).as("a"), lit(b).as("b")) }: _*)
    // xs rides into the per-coefficient lambda via array_repeat +
    // zip_with (k references to ONE evaluated array), not as a captured
    // subexpression: a HOF lambda re-evaluates a captured non-attribute
    // child per ELEMENT, so `p => ... transform(xs, ...)` recomputed
    // the distinct+pmod pass — and, via minhashSignature, the full
    // shingle xxhash64 pass — once per coefficient, a k× blowup on the
    // row's dominant cost. (params is foldable → constant-folded.)
    when(size(xs) === 0, array_repeat(lit(MersennePrime), k)).otherwise(
      zip_with(params, array_repeat(xs, lit(k)), (p, xsv) =>
        array_min(transform(xsv, x =>
          pmod(p.getField("a") * x + p.getField("b"), lit(MersennePrime))))))
  }

  /** LSH band keys from a MinHash signature: `bands` hashes, each over
    * k/bands consecutive signature slots. Docs sharing any band key are
    * candidate pairs. */
  def bandKeys(sig: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val r = k / bands
    // acc stays < 2^31; acc*1000003 + v < 2^51 + 2^31 — ANSI-safe. Band
    // collisions only add candidate pairs, which exact verification prunes.
    // sig enters via array_repeat + zip_with so a caller passing a full
    // signature EXPRESSION (rather than a column) pays one evaluation,
    // not one per band — the same capture-safety rule as
    // minhashSignatureFromHashes.
    zip_with(sequence(lit(0), lit(bands - 1)),
      array_repeat(sig, lit(bands)), (b, sg) =>
        aggregate(slice(sg, b * lit(r) + 1, lit(r)), lit(17L),
          (acc, v) => pmod(acc * 1000003L + v, lit(1L << 31))))
  }

  /** Candidate near-duplicate pairs via MinHash + LSH banding, verified
    * with exact Jaccard over the (hashed) shingle sets. Returns
    * (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    *
    * Scale shape — three deliberate choices for 100 TB corpora:
    *  1. The band self-join carries ONLY (band_idx, band, id): candidate
    *     generation shuffles a few bytes per doc-band, never the shingle
    *     sets. Pairs are deduped BEFORE any verification work.
    *  2. Shingles travel as hashed longs (xxhash64), so the verify join
    *     ships compact long arrays and Jaccard runs on primitive arrays.
    *  3. Band geometry must match the threshold: rows-per-band
    *     r = k/bands sets the candidate S-curve P(cand) = 1-(1-j^r)^b.
    *     The k=128/bands=16 default (r=8) keeps sub-threshold pairs rare
    *     even on low-entropy text where random docs share many shingles;
    *     permissive geometry (r≤4) degenerates to O(n²) candidates.
    * Hot band buckets (boilerplate) are the skew risk: AQE's skew join
    * splits oversized TASKS at runtime but cannot reduce the O(m²) PAIR
    * volume a hot bucket emits — `hotCap` can (star candidates, see
    * [[selfJoinCandidates]]).
    */
  /** @param persistShingles cache the hashed-shingle projection for the
    *        duration of the job: the plan references it three times
    *        (banding + both verification joins), and shingle hashing is
    *        the dominant map cost. At cluster scale the equivalent is
    *        materializing signatures to storage between stages; callers
    *        can pass false to keep the operator side-effect free. */
  /** @param hotCap when > 0, band values with more than `hotCap` members
    *        generate star candidates (each member vs the band's 16
    *        smallest ids) instead of all-pairs — see
    *        [[selfJoinCandidates]] for what the cap trades and why dedup
    *        and clustering survive it. 0 (default) keeps the exact
    *        all-pairs candidate set the q27 oracle gates. */
  def minhashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 5, k: Int = 128, bands: Int = 16,
                      threshold: Double = 0.8,
                      persistShingles: Boolean = true,
                      hotCap: Int = 0): DataFrame = {
    import graft.expressions.MinHash
    // spread (optimization r14, guide §2.5): shingle hashing is the
    // dominant map cost and inherits the scan's parallelism — a 1-file
    // corpus would hash (and cache) everything through one task
    val hashed0 = Checkpoints.spread(
        df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"),
        MinHash.hashedCharShingles(
          TextFunctions.normalizeWs(col(textCol)), shingleSize).as("sh"))
    val hashed = if (persistShingles)
      hashed0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else hashed0

    val banded = hashed
      .withColumn("sig", MinHash.minhashSignature(col("sh"), k))
      .select(col("id"), posexplode(bandKeys(col("sig"), k, bands)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band")

    val candidates = selfJoinCandidates(banded, hotCap)

    candidates
      .join(hashed.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.expressions.SortedArrayJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash-LSH dedup: drops every doc that is a near-duplicate of a
    * lower-id doc (single-link, one hop — the standard "keep cluster
    * minimum" approximation; full transitive closure would need iterative
    * connected components, provided by [[connectedComponents]]). */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 5, k: Int = 128, bands: Int = 16,
                   threshold: Double = 0.8, hotCap: Int = 0,
                   persistShingles: Boolean = true): DataFrame = {
    val dupes = minhashDupPairs(df, idCol, textCol, shingleSize, k, bands,
        threshold, persistShingles = persistShingles, hotCap = hotCap)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupes, Seq(idCol), "left_anti")
  }

  // ----------------------------------------------------- Incremental dedup

  /** Standing-corpus MinHash signature table: `(id, sh, sig)` — the
    * hashed-shingle set and its k-slot minhash signature. Compute ONCE
    * over the corpus and write to storage; [[incrementalDupPairs]] /
    * [[incrementalDedup]] then dedup arriving batches against it without
    * ever re-reading corpus text — the standing 100 TB corpus costs one
    * signature pass total, not one per batch. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 5, k: Int = 128): DataFrame = {
    import graft.expressions.MinHash
    // spread: see minhashDupPairs — signature hashing is the map cost
    Checkpoints.spread(df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"),
        MinHash.hashedCharShingles(
          TextFunctions.normalizeWs(col(textCol)), shingleSize).as("sh"))
      .withColumn("sig", MinHash.minhashSignature(col("sh"), k))
  }

  /** Near-dup pairs between an arriving batch and a standing corpus's
    * precomputed [[minhashSignatures]] table: `(id_new, id_corpus,
    * jaccard)` for every cross pair at or above `threshold`.
    *
    * Scale shape: the corpus side ships `(id, band)` pairs into the
    * candidate join (bands derive from `sig`, 8 bytes × bands/doc — the
    * shingle arrays stay columnar-pruned until the verify join, which
    * only the candidate ids reach). `k`/`bands`/`shingleSize` must match
    * the values the corpus table was built with; the batch side is
    * signed with the same parameters here. Batch-internal duplicates are
    * out of scope by design — compose with [[minhashDedup]] on the batch
    * first, mirroring the standing-corpus workflow (new data dedups
    * against itself, then against history). */
  /** @param persistBatch cache the batch's signature projection: the plan
    *        references it twice (banding + verify) and the batch is the
    *        small side. Pass false to keep the operator side-effect free
    *        (same contract as [[minhashDupPairs]]'s persistShingles). */
  def incrementalDupPairs(batch: DataFrame, idCol: String, textCol: String,
                          corpusSigs: DataFrame, shingleSize: Int = 5,
                          k: Int = 128, bands: Int = 16,
                          threshold: Double = 0.8,
                          persistBatch: Boolean = true): DataFrame = {
    val newSigs0 = minhashSignatures(batch, idCol, textCol, shingleSize, k)
    val newSigs = if (persistBatch)
      newSigs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else newSigs0
    def bandsOf(sigs: DataFrame, outId: String) = sigs
      .select(col("id").as(outId), posexplode(bandKeys(col("sig"), k, bands)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band")
    val candidates = bandsOf(newSigs, "id_new")
      .join(bandsOf(corpusSigs, "id_corpus"), Seq("band_idx", "band"))
      .select(col("id_new"), col("id_corpus"))
      .distinct()
    candidates
      .join(newSigs.select(col("id").as("id_new"), col("sh").as("sh_n")), Seq("id_new"))
      .join(corpusSigs.select(col("id").as("id_corpus"), col("sh").as("sh_c")),
        Seq("id_corpus"))
      .select(col("id_new"), col("id_corpus"),
        graft.expressions.SortedArrayJaccard(col("sh_n"), col("sh_c")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Materialize the standing corpus's LSH band table ONCE:
    * `(band_idx, band, id)` rows partitioned on disk by
    * `band_pt = band mod fileBuckets`. [[incrementalDupPairsBanded]]
    * probes this table instead of re-deriving (and re-shuffling) the
    * corpus band set from `sig` on every arriving batch — the per-batch
    * corpus cost drops from a full signature pass + band exchange to a
    * narrow 3-column scan streamed through a broadcast-hash-join probe
    * (and, when the batch's bands hit few partitions, partition pruning
    * cuts the scan itself).
    *
    * Build cost is one corpus shuffle on `band_pt` (so each disk
    * partition is one clean file run, not one file per task), paid once
    * per corpus build — the probe side pays nothing per batch. Append
    * new batches' bands (same schema, same `fileBuckets`) as they are
    * accepted; rewrite through the curated sink when small files
    * accumulate. `k`/`bands` must match the values `corpusSigs` was
    * built with. */
  def writeBandTable(corpusSigs: DataFrame, path: String, k: Int = 128,
                     bands: Int = 16, fileBuckets: Int = 64): Unit = {
    require(fileBuckets >= 1, s"fileBuckets must be positive: $fileBuckets")
    bandRows(corpusSigs, k, bands, fileBuckets)
      .repartition(col("band_pt"))
      .write.mode("overwrite").partitionBy("band_pt").parquet(path)
  }

  /** The `(id, band_idx, band, band_pt)` projection shared by the bulk
    * build and the incremental append — band derivation must be
    * byte-identical between the two or probes miss. */
  private def bandRows(sigs: DataFrame, k: Int, bands: Int,
                       fileBuckets: Int): DataFrame =
    sigs.select(col("id"), posexplode(bandKeys(col("sig"), k, bands)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band")
      .withColumn("band_pt", pmod(col("band"), lit(fileBuckets.toLong)).cast("int"))

  /** Append newly-accepted signatures' bands to an existing
    * [[writeBandTable]] table — the per-batch growth path of the
    * standing-corpus workflow (accept survivors → append their
    * signatures → append their bands). The batch is small by contract,
    * so no repartition: each append lands one small file run per touched
    * `band_pt` partition; rewrite through [[writeBandTable]] when small
    * files accumulate (DedupStream does this on its signature-compaction
    * trigger). `k`/`bands`/`fileBuckets` must match the table's build
    * values. */
  def appendBandTable(sigs: DataFrame, path: String, k: Int = 128,
                      bands: Int = 16, fileBuckets: Int = 64): Unit = {
    require(fileBuckets >= 1, s"fileBuckets must be positive: $fileBuckets")
    bandRows(sigs, k, bands, fileBuckets)
      .write.mode("append").partitionBy("band_pt").parquet(path)
  }

  /** Candidate pairs for a WITHIN-CORPUS banded self-join, with the hot
    * bands capped to a star pattern when `hotCap > 0` — the self-join
    * analog of the standing-probe escape hatch ([[hotBands]]): all-pairs
    * inside a band value is quadratic in its occupancy, so one
    * boilerplate cluster of 100k docs contributes 10^10 candidate pairs
    * before verification can reject a single one. Capped, a band value
    * above `hotCap` occupancy pairs every member with the band's `reps`
    * smallest ids only — m×reps pairs instead of m².
    *
    * What the star trades away: non-representative hot-band members are
    * no longer paired with EACH OTHER through that band (they may still
    * pair through a cold band). For the consumers that matter the trade
    * is sound by structure, not luck:
    *  - dedup ([[minhashDedup]]'s drop-if-dup-of-lower-id): the band's
    *    smallest id is always a representative, so every member still
    *    meets the pair that kills it — provided rep-member verification
    *    passes, which is exactly the near-identical-boilerplate regime
    *    that makes a band hot in the first place;
    *  - clustering ([[connectedComponents]]): a star keeps the band's
    *    members in one component — same labels as the clique when the
    *    star edges verify.
    * Pair COMPLETENESS (every qualifying pair listed) is reduced on hot
    * bands by design; with `hotCap = 0` (or occupancy below the cap)
    * the output is exactly the uncapped candidate set. `banded` must
    * carry (band_idx, band, id). */
  private[operators] def selfJoinCandidates(banded: DataFrame, hotCap: Int,
                                            reps: Int = 16): DataFrame = {
    val allPairs = (l: DataFrame, r: DataFrame) =>
      l.join(r, Seq("band_idx", "band"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
    val pairs =
      if (hotCap <= 0) {
        allPairs(
          banded.select(col("band_idx"), col("band"), col("id").as("id_a")),
          banded.select(col("band_idx"), col("band"), col("id").as("id_b")))
      } else {
        // one partial-agg pass finds the hot band values (tiny result:
        // each row represents > hotCap docs)
        val hot = broadcast(banded.groupBy(col("band_idx"), col("band"))
          .agg(count(lit(1)).as("__freq")).filter(col("__freq") > hotCap)
          .select(col("band_idx"), col("band")))
        val cold = banded.join(hot, Seq("band_idx", "band"), "left_anti")
        val hotRows = banded.join(hot, Seq("band_idx", "band"))
        val w = Window.partitionBy(col("band_idx"), col("band")).orderBy(col("id"))
        val hotReps = hotRows.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= reps).drop("__rn")
        val coldPairs = allPairs(
          cold.select(col("band_idx"), col("band"), col("id").as("id_a")),
          cold.select(col("band_idx"), col("band"), col("id").as("id_b")))
        // star: reps × all members of the same hot band (reps are the
        // smallest ids, so orient rep -> member and keep id_a < id_b;
        // rep-rep pairs are included since reps are members too)
        val starPairs = broadcast(
            hotReps.select(col("band_idx"), col("band"), col("id").as("id_a")))
          .join(hotRows.select(col("band_idx"), col("band"), col("id").as("id_b")),
            Seq("band_idx", "band"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"))
        coldPairs.union(starPairs)
      }
    pairs.distinct()
  }

  /** Hot-band statistics + representatives over a [[writeBandTable]]
    * table: one row per band value whose corpus occupancy exceeds `cap`,
    * with `(band_idx, band, freq, reps)` where `reps` is the `reps`
    * smallest member ids — the skew escape hatch
    * [[incrementalDupPairsBanded]] consumes.
    *
    * Why this exists: candidate generation through a band value is linear
    * in the value's corpus occupancy, so a boilerplate-heavy corpus
    * (templated near-identical docs that survive exact dedup) makes the
    * per-batch probe cost track the CORPUS, not the batch — the exact
    * property the banded probe exists to avoid. Docs sharing a band value
    * at high occupancy are overwhelmingly near-identical to EACH OTHER
    * (r = k/bands matching minhash slots at r=8 is vanishingly unlikely
    * for dissimilar text), so verifying a batch doc against a bounded
    * sample of members loses essentially nothing for match-exists
    * semantics: if the doc near-duplicates any member it near-duplicates
    * the representatives too. Pair-completeness on hot bands is traded
    * away explicitly — a probe hitting a hot band reports at most `reps`
    * corpus partners through it (cold bands stay exact).
    *
    * Build cost: one narrow partial-agg count over the band table, plus a
    * windowed pass restricted to the hot rows. The result is tiny by
    * construction (each surviving row represents > `cap` corpus docs), so
    * probes broadcast it. Rebuild whenever the band table is rebuilt. */
  def hotBands(bandTable: DataFrame, cap: Int = 1024, reps: Int = 16): DataFrame = {
    require(cap >= 1 && reps >= 1, s"cap=$cap and reps=$reps must be positive")
    val freqs = bandTable.groupBy(col("band_idx"), col("band"))
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") > cap)
    val w = Window.partitionBy(col("band_idx"), col("band")).orderBy(col("id"))
    bandTable.join(broadcast(freqs), Seq("band_idx", "band"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= reps)
      .groupBy(col("band_idx"), col("band"), col("freq"))
      .agg(sort_array(collect_list(col("id"))).as("reps"))
  }

  /** Candidate `(id_new, id_corpus)` pairs for a banded probe, split by
    * band temperature when a [[hotBands]] table is supplied: cold bands
    * probe the band table exactly (broadcast-hash, corpus streamed); hot
    * bands skip the band table entirely and pair the batch doc with the
    * band's bounded representative set. With `hot = None` (or an empty
    * hot table) the output is exactly the uncapped candidate set. */
  private[operators] def bandedCandidates(batchBands: DataFrame,
                                          bandTable: DataFrame,
                                          hot: Option[DataFrame]): DataFrame = {
    val cold = hot match {
      case None => batchBands
      case Some(h) => batchBands.join(
        broadcast(h.select(col("band_idx"), col("band"))),
        Seq("band_idx", "band"), "left_anti")
    }
    val coldCands = bandTable
      .join(broadcast(cold), Seq("band_pt", "band_idx", "band"))
      .select(col("id_new"), col("id").as("id_corpus"))
    val all = hot match {
      case None => coldCands
      case Some(h) => coldCands.union(
        batchBands.join(broadcast(h), Seq("band_idx", "band"))
          .select(col("id_new"), explode(col("reps")).as("id_corpus")))
    }
    all.distinct()
  }

  /** Near-dup pairs between an arriving batch and a standing corpus,
    * probing a pre-materialized [[writeBandTable]] band table — the
    * O(batch)-per-batch path. Output contract is identical to
    * [[incrementalDupPairs]]: `(id_new, id_corpus, jaccard)` at or above
    * `threshold`.
    *
    * Scale shape — the batch is small by contract (a micro-batch against
    * a standing 100 TB corpus), so BOTH corpus-side joins are broadcast
    * probes with the corpus as the streamed side:
    *  1. candidate generation: the batch's band keys broadcast into the
    *     band-table scan (3 narrow columns; no corpus exchange, no
    *     per-batch band derivation, partition pruning on `band_pt` when
    *     the batch hits few buckets);
    *  2. verification: the candidate id pairs broadcast into the
    *     signature-table scan to collect corpus shingle sets — only
    *     matched rows survive the probe, and the corpus side again never
    *     shuffles or sorts.
    * Every shuffle in the plan carries candidate PAIR IDS only (the
    * `distinct`), so exchange volume is batch-proportional by the LSH
    * candidate bound, never corpus-proportional — the invariant
    * PlanSpec pins. For batches too large to broadcast, fall back to
    * [[incrementalDupPairs]], whose symmetric shuffle shape is the right
    * one when both sides are big.
    *
    * @param hot optional [[hotBands]] table for the same band table: band
    *        values above the build-time occupancy cap probe a bounded
    *        representative set instead of the full bucket, keeping the
    *        candidate volume batch-proportional even on boilerplate-heavy
    *        corpora (see [[hotBands]] for the recall trade). An empty hot
    *        table reproduces the uncapped pair set exactly. */
  def incrementalDupPairsBanded(batch: DataFrame, idCol: String,
                                textCol: String, bandTable: DataFrame,
                                corpusSigs: DataFrame, shingleSize: Int = 5,
                                k: Int = 128, bands: Int = 16,
                                threshold: Double = 0.8,
                                fileBuckets: Int = 64,
                                persistBatch: Boolean = true,
                                hot: Option[DataFrame] = None): DataFrame = {
    val newSigs0 = minhashSignatures(batch, idCol, textCol, shingleSize, k)
    val newSigs = if (persistBatch)
      newSigs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else newSigs0
    val batchBands = newSigs
      .select(col("id").as("id_new"), posexplode(bandKeys(col("sig"), k, bands)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band")
      .withColumn("band_pt", pmod(col("band"), lit(fileBuckets.toLong)).cast("int"))
    val candidates = bandedCandidates(batchBands, bandTable, hot)
    corpusSigs.select(col("id").as("id_corpus"), col("sh").as("sh_c"))
      .join(broadcast(candidates), Seq("id_corpus"))
      .join(broadcast(newSigs.select(col("id").as("id_new"), col("sh").as("sh_n"))),
        Seq("id_new"))
      .select(col("id_new"), col("id_corpus"),
        graft.expressions.SortedArrayJaccard(col("sh_n"), col("sh_c")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental dedup over the [[writeBandTable]] probe path: the batch
    * minus every doc with a corpus match at `threshold` — the banded
    * analog of [[incrementalDedup]], same pass-through contract. */
  def incrementalDedupBanded(batch: DataFrame, idCol: String, textCol: String,
                             bandTable: DataFrame, corpusSigs: DataFrame,
                             shingleSize: Int = 5, k: Int = 128,
                             bands: Int = 16, threshold: Double = 0.8,
                             fileBuckets: Int = 64,
                             persistBatch: Boolean = true,
                             hot: Option[DataFrame] = None): DataFrame = {
    val matched = incrementalDupPairsBanded(batch, idCol, textCol, bandTable,
        corpusSigs, shingleSize, k, bands, threshold, fileBuckets, persistBatch,
        hot)
      .select(col("id_new").as(idCol)).distinct()
    batch.join(matched, Seq(idCol), "left_anti")
  }

  /** Incremental dedup: the arriving batch minus every doc that
    * near-duplicates the standing corpus (any [[incrementalDupPairs]]
    * match at `threshold`). Batch schema passes through unchanged. */
  def incrementalDedup(batch: DataFrame, idCol: String, textCol: String,
                       corpusSigs: DataFrame, shingleSize: Int = 5,
                       k: Int = 128, bands: Int = 16,
                       threshold: Double = 0.8,
                       persistBatch: Boolean = true): DataFrame = {
    val matched = incrementalDupPairs(batch, idCol, textCol, corpusSigs,
        shingleSize, k, bands, threshold, persistBatch)
      .select(col("id_new").as(idCol)).distinct()
    batch.join(matched, Seq(idCol), "left_anti")
  }

  // ---------------------------------------------------------------- SimHash

  /** SimHash near-dup pairs: 64-bit fingerprints bucketed by band
    * (4 × 16-bit bands ⇒ any pair within Hamming distance 3 shares at
    * least one band — pigeonhole), verified by exact Hamming distance. */
  /** @param shaHash use the SQL-replicable sha256 token hash (see
    *        [[graft.expressions.SimHash64]]) — the mode the q28 oracle
    *        replays end to end; default stays the fast murmur hash. */
  def simhashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, shaHash: Boolean = false): DataFrame = {
    import graft.expressions.SimHash64
    val hashed = df.select(col(idCol).as("id"),
      SimHash64.simhash64(TextFunctions.tokens(TextFunctions.normalizeWs(col(textCol))),
        shaHash).as("sh"))
    // 4 bands of 16 bits each
    val bandCols = (0 until 4).map { bi =>
      struct(lit(bi).as("band_idx"),
        shiftrightunsigned(col("sh"), bi * 16).bitwiseAND(lit(0xFFFFL)).as("band"))
    }
    val banded = hashed.select(col("id"), col("sh"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("sh"), col("bb.band_idx").as("band_idx"), col("bb.band").as("band"))
    val a = banded.select(col("band_idx"), col("band"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band_idx"), col("band"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band_idx", "band"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** N-gram (word) Jaccard similarity pairs above a threshold, using the
    * same LSH candidate machinery with word shingles — the "n-gram
    * Jaccard" dedup variant. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        k: Int = 64, bands: Int = 8,
                        hotCap: Int = 0): DataFrame = {
    // native single-pass gram hashing + signature (same hot-path shape as
    // minhashDupPairs): Jaccard over hashed gram sets is hash-invariant,
    // so WordNgramHashes' internal hash is as good as xxhash64-of-string
    // — and the interpreted transform/xxhash64/array_min chain it
    // replaces dominated the corpus scan at k=128 (55 s → 3 s at sf0.1)
    val hashed = df.select(col(idCol).as("id"),
      graft.expressions.WordNgrams.wordNgramHashes(
        coalesce(col(textCol), lit("")), n).as("sh"))
    val banded = hashed
      .withColumn("sig", graft.expressions.MinHash.minhashSignature(col("sh"), k))
      .select(col("id"), posexplode(bandKeys(col("sig"), k, bands)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band")
    val candidates = selfJoinCandidates(banded, hotCap)
    candidates
      .join(hashed.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.expressions.SortedArrayJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Iterative connected components over dup pairs (label propagation):
    * assigns each id the minimum id reachable through the duplicate graph.
    * Each round is one join + one aggregation shuffle. Use when exact
    * clusters matter (vs the one-hop approximation in [[minhashDedup]]).
    *
    * Rounds run under [[Checkpoints.rounds]], so round N+1's plan is one
    * join deep, not N joins deep — ten iterations can't stack into a
    * driver StackOverflow or re-execute round 1 ten times. Each round
    * carries the previous label alongside the new one, and the count of
    * changed labels is observed on the round's own checkpoint job; the
    * previous label is dropped before the checkpoint.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // edges both directions, reused by every round. Initial labels derive
    // FROM the persisted edges (not from `pairs` again) so an expensive
    // upstream pair pipeline — e.g. the full MinHash-LSH plan in q65 —
    // executes once, not twice.
    val edges = pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val init = edges
      .groupBy(col("id_a").as("id"))
      .agg(min(least(col("id_b"), col("id_a"))).as("label"))
      .localCheckpoint()
    val (labels, converged) = Checkpoints.rounds(init, maxIter,
        ownsInit = true,
        stop = Some(count_if(col("label") =!= col("prev_label")) === 0)) {
        (labels, _) =>
      val propagated = edges.join(labels.withColumnRenamed("id", "id_b")
          .withColumnRenamed("label", "nbr_label"), Seq("id_b"))
        .groupBy(col("id_a").as("id")).agg(min(col("nbr_label")).as("prop_label"))
      val hopped = labels.join(propagated, Seq("id"), "left")
        .select(col("id"), col("label").as("prev_label"),
          least(col("label"), coalesce(col("prop_label"), col("label"))).as("label"))
      // pointer doubling: chase each label to ITS label (labels are node
      // ids, so they have label rows of their own) and take the minimum.
      // One extra equi-join per round turns O(diameter) convergence into
      // O(log diameter) — a 1000-link near-dup chain converges in ~10
      // rounds instead of 1000.
      hopped.join(labels
          .select(col("id").as("label"), col("label").as("label2")), Seq("label"), "left")
        .select(col("id"), col("prev_label"),
          least(col("label"), coalesce(col("label2"), col("label"))).as("label"))
    }
    edges.unpersist()
    // wrong labels are silent downstream (split clusters); fail loudly
    // instead — maxIter = 20 covers graphs of diameter ~2^19 via doubling
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter iterations " +
        "(pathological component diameter); raise maxIter")
    labels
  }

  /** Canonical-survivor selection — the step after clustering: keep
    * exactly one doc per dup cluster (the highest `score`, ties to the
    * smallest id); docs absent from `clusters` are singletons and survive
    * unchanged. Returns the surviving docs' full rows plus their
    * `cluster_label`.
    *
    * Scale shape: winner selection is a max_by AGGREGATE keyed on the
    * cluster label — map-side combine leaves one (label, id) row per
    * cluster per task through the shuffle — and the final inner join
    * restores full payloads, so document bodies never travel through the
    * winner shuffle. `idCol` must be numeric (ties break via negation). */
  def keepBestPerCluster(docs: DataFrame, clusters: DataFrame, idCol: String,
                         score: Column): DataFrame = {
    // negation of a non-numeric id would cast to double and yield silent
    // nulls — making the tie-break arbitrary instead of smallest-id
    val idType = docs.schema(idCol).dataType.typeName
    require(Set("long", "integer", "short", "byte").contains(idType),
      s"keepBestPerCluster requires an integral id column, $idCol is $idType")
    val labeled = docs.select(col(idCol), score.as("__score"))
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), col("__score"),
        coalesce(col("label"), col(idCol)).as("cluster_label"))
    val winners = labeled.groupBy(col("cluster_label"))
      .agg(max_by(col(idCol), struct(col("__score"), -col(idCol))).as(idCol))
    docs.join(winners, Seq(idCol))
  }

  /** TEMPORAL ALIGNMENT + CONTAINMENT — the shared tail of the
    * sequence-media near-dup family ([[Avi.videoNearDupPairs]] over
    * frame dHashes, [[Multimodal.audioNearDupPairs]] over spectral
    * window prints): verified element matches `matched`
    * (a, fa, b, fb — a < b by the caller's contract) VOTE for their
    * temporal offset fb − fa; the best-supported offset per media pair
    * wins (ties to the smallest offset), and the pair reports iff the
    * aligned-match count covers at least `minOverlapPct` percent of
    * the SHORTER sequence (`counts`: media_id → n) — the q135
    * asymmetric-containment rule on the time axis, which is exactly
    * how a clipped sub-sequence is contained in its source.
    *
    * Scale shape: one hash aggregate over (a, b, offset) id triples
    * and a per-pair argmax window over the candidate-pair set — never
    * over elements. Returns (a, b, offset, n_aligned, n_a, n_b). */
  private[operators] def temporalAlignPairs(matched: DataFrame,
      counts: DataFrame, minOverlapPct: Int): DataFrame = {
    require(minOverlapPct >= 1 && minOverlapPct <= 100,
      s"minOverlapPct out of range: $minOverlapPct")
    val votes = matched
      .groupBy(col("a"), col("b"), (col("fb") - col("fa")).as("offset"))
      .agg(count(lit(1)).as("n_aligned"))
    val best = votes.withColumn("rn", row_number().over(
        Window.partitionBy(col("a"), col("b"))
          .orderBy(col("n_aligned").desc, col("offset").asc)))
      .filter(col("rn") === 1)
    best
      .join(counts.select(col("media_id").as("a"), col("n").as("n_a")),
        Seq("a"))
      .join(counts.select(col("media_id").as("b"), col("n").as("n_b")),
        Seq("b"))
      .filter(col("n_aligned") * 100 >= least(col("n_a"), col("n_b")) *
        minOverlapPct)
      .select(col("a"), col("b"), col("offset").cast("long").as("offset"),
        col("n_aligned"), col("n_a"), col("n_b"))
  }
}
