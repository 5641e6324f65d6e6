package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.col

/** The round protocol of graft's iterative operators (label propagation,
  * k-core peeling, random walks, HLL centrality, NN-Descent builds and
  * beam walks, pointer-doubling CC, BPE encoding, unigram-LM EM), owned
  * in one place by [[rounds]]:
  *
  *  - ROUND: each round is a lazy frame built from its predecessor and
  *    eagerly `localCheckpoint`ed — the checkpoint cuts lineage, so a
  *    round that reads its predecessor several times keeps a
  *    constant-sized plan instead of one that multiplies every round.
  *  - FREEING: once the successor is materialized nothing lazy reads the
  *    predecessor, so its blocks are released. Plain `Dataset.unpersist`
  *    only talks to the cache manager, not to the checkpointed RDD, so
  *    [[freeCheckpoint]] reaches through the analyzed plan to the
  *    `LogicalRDD` and unpersists that RDD directly.
  *  - OWNERSHIP: [[rounds]] frees only the checkpoints it made, plus
  *    `init` when the caller hands it over (`ownsInit`). A caller-kept
  *    `init` is never freed — it may be a projection over a table the
  *    caller still reads, and freeing a projection frees what it reads.
  *    The last round is returned to the caller, who owns it from then.
  *  - STOP: an optional aggregate `Column`, attached to the round through
  *    an unnamed `Observation` before the checkpoint, so its value
  *    arrives with the checkpoint's own job — a convergence test costs
  *    no extra Spark action. A Boolean metric stops the rounds when it
  *    reads true; any other metric stops them when it repeats the
  *    previous round's value (the fixpoint of a table that only
  *    shrinks). Metrics are delivered on empty rounds too, but `sum`
  *    over no rows is null, and a null metric never stops — write stop
  *    conditions with `count`/`count_if` or `coalesce`.
  *
  * Loops whose output reads every round (Bpe.learnMerges, Unigram.learn,
  * Graphs.hyperBall) have nothing to free and stay hand-written, as do
  * the star-CC rounds, whose lazy checkpoint is materialized by their
  * own fused count + fingerprint pass. */
private[graft] object Checkpoints {

  /** Runs at most `n` rounds of `step` from `init` under the protocol
    * above. Every round keeps `init`'s columns: columns that only `stop`
    * reads are dropped before the checkpoint. `step` gets the previous
    * round and the 1-based number of the round it builds. Returns the
    * last round (`init` itself when `n` is 0) and whether `stop`
    * fired. */
  def rounds(init: DataFrame, n: Int, ownsInit: Boolean,
             stop: Option[Column] = None)
            (step: (DataFrame, Int) => DataFrame): (DataFrame, Boolean) = {
    val keep = init.columns.toSeq.map(c => col(s"`$c`"))
    var cur = init
    var owned = ownsInit
    var last: Option[Any] = None
    var stopped = false
    var r = 0
    while (r < n && !stopped) {
      r += 1
      val round = step(cur, r)
      val obs = stop.map(_ => Observation())
      val next = obs.fold(round)(o => round.observe(o, stop.get.as("stop")))
        .select(keep: _*)
        .localCheckpoint()
      if (owned) freeCheckpoint(cur)
      obs.foreach { o =>
        val v = o.get("stop")
        stopped = v match {
          case null => false
          case b: Boolean => b
          case _ => last.contains(v)
        }
        last = Some(v)
      }
      cur = next
      owned = true
    }
    (cur, stopped)
  }

  /** Frees the storage blocks behind a `localCheckpoint`ed frame.
    * Safe once the successor round is materialized. */
  def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** OPTIMIZATION r14 (guide §2.5 — "one huge unsplittable file …
    * repartition immediately after the read"): a corpus that arrives as
    * ONE parquet file with one row group scans as ONE task, which pins
    * every CPU-heavy map pass fed by that scan (shingle hashing, LSH
    * banding, quantization, brute-force cosine fan-out, tokenize +
    * explode censuses) to a single core no matter how many the session
    * has. `spread` raises the frame to the session's default
    * parallelism — and ONLY when the frame's own parallelism is below
    * it, so at production scale (hundreds of splits per table) the
    * branch never fires and no extra corpus shuffle is ever paid. The
    * round-robin assignment is deterministic under retries
    * (sortBeforeRepartition, SPARK-23207) and every caller below is
    * partitioning-agnostic, so results are bit-identical.
    *
    * Call it on narrow scan projections only (no exchange below), so
    * the partition probe never triggers AQE stage execution. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }
}
