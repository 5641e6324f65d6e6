package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contracts of the integer-exact PageRank (q117's engine). The oracle
  * gate replays the full iteration against DuckDB; this spec pins the
  * in-engine properties: agreement with a straight Scala re-computation
  * of the recurrence on a small graph, layout invariance (the
  * exactness argument: integer sums are order-independent), mass
  * conservation up to documented truncation loss, and ranking sanity. */
class GraphsSpec extends SparkSpec {
  import spark.implicits._

  private val scale = 1000000000000L

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val df = edges.toDF("src", "dst")
    Graphs.integerPageRank(df, iters).as[(Long, Long)].collect().toMap
  }

  /** Reference implementation: the same recurrence, computed serially. */
  private def serial(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = scale * 3L / 20L
    var pr = deg.keys.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val contribs = edges.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
        pr(u) * 17L / (20L * deg(u))
      }.sum).toMap
      pr = deg.keys.map(n => n -> (base + contribs.getOrElse(n, 0L))).toMap
    }
    pr
  }

  private def symmetrize(und: Seq[(Long, Long)]): Seq[(Long, Long)] =
    (und ++ und.map(_.swap)).distinct

  test("distributed ranks equal a serial re-computation of the recurrence") {
    // star (hub 0) plus a 3-cycle hanging off node 1
    val und = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L),
      (1L, 5L), (5L, 6L), (6L, 1L))
    val edges = symmetrize(und)
    for (iters <- Seq(1, 3, 5))
      assert(run(edges, iters) == serial(edges, iters), s"iters=$iters")
  }

  test("ranks are partition-layout invariant (integer sums are order-independent)") {
    val und = (0L until 200L).map(i => (i, (i * i + 1) % 97))
      .filter { case (a, b) => a != b }
    val edges = symmetrize(und)
    val a = Graphs.integerPageRank(edges.toDF("src", "dst").repartition(1), 3)
      .as[(Long, Long)].collect().toMap
    val b = Graphs.integerPageRank(edges.toDF("src", "dst").repartition(32), 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("mass is conserved up to floor-truncation loss") {
    val und = (0L until 100L).map(i => (i, (i + 1) % 100)) // ring
    val edges = symmetrize(und)
    val pr = run(edges, 3)
    val total = pr.values.sum
    val n = pr.size
    // each node loses < 1 unit per incident edge per iteration to the
    // two floor divisions; with scale = 1e12 the loss is invisible at
    // the ppm level
    assert(total <= n * scale)
    assert(total >= (n * scale * 999999L) / 1000000L, s"total=$total")
  }

  test("integerPageRank keeps in-degree-0 source nodes at the base term (directed input)") {
    // node 0 is a pure source: out-degree 2 (legal per the documented
    // precondition), in-degree 0. Before the left-join fix it dropped
    // out of the rank table after iteration 1 — losing its base term
    // AND its outgoing contributions in later iterations.
    val dir = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 1L))
    for (iters <- Seq(1, 2, 3, 5)) {
      val got = run(dir, iters)
      assert(got == serial(dir, iters), s"iters=$iters")
      assert(got(0L) == scale * 3L / 20L,
        s"a source node must hold exactly the base term: $got")
    }
  }

  test("a hub outranks leaves; symmetric nodes tie exactly") {
    val und = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val pr = run(symmetrize(und), 3)
    assert(pr(0L) > pr(1L))
    // exact ties, not approximate: leaves are automorphic
    assert(Set(pr(1L), pr(2L), pr(3L), pr(4L)).size == 1)
  }

  test("trustRank with every node seeded equals plain PageRank") {
    val und = (0L until 40L).map(i => (i, (i + 3) % 40))
    val edges = symmetrize(und).toDF("src", "dst")
    val allNodes = edges.select(col("src").as("nid")).distinct()
    val pr = Graphs.integerPageRank(edges, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tr = Graphs.integerTrustRank(edges, allNodes, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr === tr)
  }

  test("trustRank equals a serial re-computation; unreachable nodes stay at zero") {
    // path 0-1-2-3 seeded at 0, plus a disjoint pair 10-11 (no seed)
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L))
    val dir = symmetrize(und)
    val seeds = Set(0L)
    val scale = 1000000000000L
    // serial recurrence, same spec as the operator
    val deg = dir.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var ref = deg.keys.map(n =>
      n -> (if (seeds(n)) scale else 0L)).toMap
    val base = scale * 3L / 20L
    for (_ <- 1 to 3) {
      val inflow = dir.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
        ref(u) * 17L / (20L * deg(u)) }.sum).toMap
      ref = deg.keys.map(n =>
        n -> ((if (seeds(n)) base else 0L) + inflow.getOrElse(n, 0L))).toMap
    }
    val tr = Graphs.integerTrustRank(dir.toDF("src", "dst"),
        Seq(0L).toDF("nid"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tr === ref)
    assert(tr(10L) == 0L && tr(11L) == 0L,
      s"nodes unreachable from the seed set must hold zero trust: $tr")
  }

  private def tris(und: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
    Graphs.triangleCounts(und.toDF("u", "v"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap

  test("triangleCounts: K4 — every node sits in C(3,2) = 3 triangles") {
    val k4 = for (u <- 0L to 3L; v <- (u + 1) to 3L) yield (u, v)
    val m = tris(k4.toSeq)
    assert(m.keySet === Set(0L, 1L, 2L, 3L))
    assert(m.values.toSet === Set((3L, 3L)))
  }

  test("triangleCounts: paths and stars are triangle-free") {
    // path 0-1-2-3 plus a degree-5 hub star — the star is the skew
    // case degree orientation defuses (all leaf→hub edges orient INTO
    // the hub, so the hub generates zero wedges)
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L)) ++
      (11L to 15L).map(l => (l, 10L))
    val m = tris(und)
    assert(m.values.forall(_._2 == 0L))
    assert(m(10L)._1 == 5L) // hub degree survives
    assert(m(1L)._1 == 2L)
  }

  test("triangleCounts: triangle with a pendant counts the corner once") {
    val m = tris(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    assert(m(1L) === ((2L, 1L)))
    assert(m(2L) === ((2L, 1L)))
    assert(m(3L) === ((3L, 1L)))
    assert(m(4L) === ((1L, 0L)))
  }

  /** Brute-force reference: enumerate every triangle {a<b<c} once via
    * its (a, b) edge and a common neighbor c > b. */
  private def serialTris(und: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val es = und.map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    val deg = (und ++ und.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.size.toLong).toMap
    val cnt = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val nodes = deg.keys.toSeq
    for ((u, v) <- es; w <- nodes if w > v && es((u, w)) && es((v, w))) {
      cnt(u) += 1; cnt(v) += 1; cnt(w) += 1
    }
    nodes.map(n => n -> ((deg(n), cnt(n)))).toMap
  }

  test("triangleCounts: heterogeneous corner degrees (oriented-probe direction case)") {
    // {1,2},{1,3},{2,3},{2,4},{2,5}: triangle {1,2,3}'s closing edge is
    // stored 3→2 under (degree,id) orientation (deg(2)=4 > deg(3)=2)
    // while the corners' raw id order is 2 < 3 — a raw-id wedge
    // ordering probes 2→3 and silently drops the triangle
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (2L, 5L))
    val m = tris(und)
    assert(m(1L) === ((2L, 1L)))
    assert(m(2L) === ((4L, 1L)))
    assert(m(3L) === ((2L, 1L)))
    assert(m(4L) === ((1L, 0L)))
    assert(m(5L) === ((1L, 0L)))
  }

  test("triangleCounts equals serial brute force on a skew-degree graph") {
    // hub-heavy: hubs 0–2 connect widely, so triangle corners routinely
    // have heterogeneous degrees whose id order disagrees with their
    // (degree, id) order
    val und = ((for (h <- 0L until 3L; v <- 3L until 40L
                     if (h + v) % 2 == 0) yield (h, v)) ++
      (for (u <- 3L until 40L; v <- (u + 1) until 40L
            if (u * 5 + v * 7) % 11 == 0) yield (u, v))).toSeq.distinct
    assert(tris(und) === serialTris(und))
  }

  test("triangleCounts is layout invariant") {
    val und = (for (u <- 0L until 30L; v <- (u + 1) until 30L
                    if (u + v) % 3 != 0) yield (u, v)).toSeq
    val a = tris(und)
    val b = Graphs.triangleCounts(und.toDF("u", "v").repartition(13))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(a === b)
  }

  private def lpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graphs.labelPropagation(edges.toDF("src", "dst"), iters)
      .as[(Long, Long)].collect().toMap

  /** Reference: the same synchronous majority-vote recurrence, serially
    * — over the full src∪dst node set, with no-in-neighbor nodes
    * keeping their previous label (the operator's documented
    * directed-input semantics). */
  private def serialLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var lbl = nodes.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      val votes = edges.groupBy(_._2).view.mapValues { es =>
        es.map { case (u, _) => lbl(u) }
          .groupBy(identity).toSeq
          .map { case (l, occ) => (-occ.size.toLong, l) }.min._2
      }.toMap
      lbl = nodes.map(n => n -> votes.getOrElse(n, lbl(n))).toMap
    }
    lbl
  }

  test("labelPropagation equals a serial re-computation of the majority vote") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (10L, 11L), (11L, 12L), (12L, 10L), (4L, 10L), (5L, 1L), (5L, 2L))
    val e = symmetrize(und)
    for (it <- Seq(1, 2, 3)) {
      assert(lpa(e, it) === serialLpa(e, it), s"divergence at iters=$it")
    }
  }

  test("labelPropagation: two cliques with one bridge resolve to two communities") {
    val cliqueA = for (u <- 1L to 5L; v <- (u + 1) to 5L) yield (u, v)
    val cliqueB = for (u <- 10L to 14L; v <- (u + 1) to 14L) yield (u, v)
    val e = symmetrize(cliqueA ++ cliqueB :+ (5L, 10L))
    val got = lpa(e, 3)
    val aLabels = (1L to 4L).map(got).toSet
    val bLabels = (11L to 14L).map(got).toSet
    assert(aLabels.size == 1, s"clique A must agree: $got")
    assert(bLabels.size == 1, s"clique B must agree: $got")
    assert(aLabels != bLabels, s"cliques must differ: $got")
  }

  test("labelPropagation on a directed graph: source nodes persist and match serial") {
    // 0 and 10 are pure sources (never a dst) — before the left-join
    // fix they exited the label table after one vote round
    val dir = Seq((0L, 1L), (10L, 1L), (1L, 2L), (2L, 1L))
    for (it <- Seq(1, 2, 3)) {
      assert(lpa(dir, it) === serialLpa(dir, it), s"divergence at iters=$it")
    }
    val got = lpa(dir, 3)
    assert(got(0L) == 0L && got(10L) == 10L,
      s"pure-source nodes must keep their own labels: $got")
  }

  test("labelPropagation is layout invariant") {
    val und = (for (u <- 0L until 24L; v <- (u + 1) until 24L
                    if (u * 7 + v * 3) % 5 == 0) yield (u, v)).toSeq
    val e = symmetrize(und)
    val a = lpa(e, 3)
    val b = Graphs.labelPropagation(e.toDF("src", "dst").repartition(13), 3)
      .as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  private def core(und: Seq[(Long, Long)], k: Int, rounds: Int = 30) =
    Graphs.kCore(symmetrize(und).toDF("src", "dst"), k, rounds)
      .as[(Long, Long)].collect().toMap

  /** Serial synchronous peel to fixpoint. */
  private def serialCore(und: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var e = symmetrize(und)
    var changed = true
    while (changed) {
      val deg = e.groupBy(_._1).view.mapValues(_.size).toMap
      val alive = deg.filter(_._2 >= k).keySet
      val ne = e.filter { case (u, v) => alive(u) && alive(v) }
      changed = ne.size != e.size
      e = ne
    }
    e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
  }

  test("kCore peels a pendant chain one node per round (cascade) and keeps the clique") {
    // triangle {0,1,2} with chain 2—3—4—5: the 2-core is the triangle;
    // the chain must peel via a 3-round cascade (5, then 4, then 3)
    val und = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val got = core(und, 2)
    assert(got == Map(0L -> 2L, 1L -> 2L, 2L -> 2L), s"$got")
    assert(got == serialCore(und, 2))
    // under-capped rounds stop mid-cascade: 1 round only removes the
    // degree-1 leaf (node 5), leaving 3—4 still standing
    val partial = core(und, 2, rounds = 1)
    assert(partial.keySet == Set(0L, 1L, 2L, 3L, 4L), s"$partial")
  }

  test("kCore matches the serial peel across k on a mixed graph") {
    // two 4-cliques bridged by an edge plus pendant trees
    val clique1 = for (u <- 0L to 3L; v <- (u + 1) to 3L) yield (u, v)
    val clique2 = for (u <- 10L to 13L; v <- (u + 1) to 13L) yield (u, v)
    val und = (clique1 ++ clique2 ++ Seq((3L, 10L), (0L, 20L), (20L, 21L),
      (21L, 22L), (13L, 30L), (30L, 31L))).toSeq
    for (k <- 1 to 4) {
      assert(core(und, k) == serialCore(und, k), s"k=$k")
    }
    // the 3-core is exactly the two cliques (the bridge endpoints keep
    // degree 4, but bridge edges don't create a larger 3-dense set)
    assert(core(und, 3).keySet == (0L to 3L).toSet ++ (10L to 13L).toSet)
  }

  test("kCore is layout invariant and the early stop matches exact-round runs") {
    val und = (for (u <- 0L until 30L; v <- (u + 1) until 30L
                    if (u * 3 + v * 11) % 7 == 0) yield (u, v)).toSeq
    val e = symmetrize(und)
    val a = Graphs.kCore(e.toDF("src", "dst"), 3, 30)
      .as[(Long, Long)].collect().toMap
    val b = Graphs.kCore(e.toDF("src", "dst").repartition(13), 3, 30)
      .as[(Long, Long)].collect().toMap
    assert(a == b && a == serialCore(und, 3))
  }

  test("iterative operators leave no per-round cache growth — one documented table each") {
    // a pendant chain forces many peel rounds; each superseded round's
    // edge table must be released, so after the action at most the
    // final round's checkpoint (kCore, labelPropagation, walks,
    // harmonic centrality, pointer-doubling CC) / the hashed edge table
    // (pageRank) stays persisted
    // count RELATIVE to a post-cleanup baseline, and do the FULL cleanup
    // (catalog + RDD-level) between sections: catalog.clearCache alone
    // leaves localCheckpoint blocks behind, so an earlier suite's (or
    // section's) checkpointed tables would otherwise count against the
    // next operator — the full-suite flake this test had in round 10
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    def persisted: Int = spark.sparkContext.getPersistentRDDs.size
    cleanup()
    val base = persisted
    val chain = symmetrize(
      Seq((0L, 1L), (1L, 2L), (0L, 2L)) ++
        (2L until 12L).map(i => (i, i + 1))).toDF("src", "dst")
    Graphs.kCore(chain, 2, 30).collect() // ~10 cascade rounds
    assert(persisted - base <= 1, s"kCore leaked cached tables: ${persisted - base}")
    cleanup()
    Graphs.labelPropagation(chain, 5).collect()
    // documented contract: only the final round's checkpoint blocks remain
    assert(persisted - base <= 1,
      s"labelPropagation leaked cached tables: ${persisted - base}")
    cleanup()
    Graphs.integerPageRank(chain, 5).collect()
    assert(persisted - base <= 2,
      s"pageRank leaked cached tables: ${persisted - base}")
    cleanup()
    Graphs.hashRandomWalks(chain, 6, "leak").collect()
    assert(persisted - base <= 1,
      s"hashRandomWalks leaked cached tables: ${persisted - base}")
    cleanup()
    Graphs.harmonicCentrality(chain, 4).collect()
    assert(persisted - base <= 1,
      s"harmonicCentrality leaked cached tables: ${persisted - base}")
    cleanup()
    Dedup.connectedComponents(chain.toDF("id_a", "id_b")).collect()
    assert(persisted - base <= 1,
      s"connectedComponents leaked cached tables: ${persisted - base}")
    cleanup()
  }

  // ---- ccLargeSmallStar (q189) -------------------------------------

  private def ccViaStars(pairs: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    Graphs.ccLargeSmallStar(pairs.toDF("id_a", "id_b"), rounds)
      .as[(Long, Long)].collect().toMap

  private def ccViaDoubling(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap

  test("ccLargeSmallStar equals pointer-doubling CC on adversarial fixtures") {
    val fixtures: Seq[(String, Seq[(Long, Long)])] = Seq(
      "two cliques + bridge-free pair" -> (
        (for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)) ++
          (for (a <- 10L to 13L; b <- (a + 1) to 13L) yield (a, b)) ++
          Seq((20L, 21L))),
      "chain of 64" -> (0L until 63L).map(i => (i, i + 1)),
      "star with high-id hub" -> (0L until 20L).map(i => (100L, i)),
      "random mod graph" -> (0L until 300L).map(i => (i, (i * i + 7) % 97))
        .filter { case (a, b) => a != b },
      "duplicate + reversed edges" -> Seq((1L, 2L), (2L, 1L), (1L, 2L),
        (3L, 4L), (4L, 5L), (5L, 3L)))
    for ((name, pairs) <- fixtures) {
      val stars = ccViaStars(pairs, rounds = 8)
      val doubling = ccViaDoubling(pairs)
      assert(stars == doubling, name)
      // labels are component MINIMA: every label labels itself
      assert(stars.filter { case (id, l) => id == l }.keySet == stars.values.toSet, name)
    }
  }

  test("ccLargeSmallStar is partition-layout invariant") {
    val pairs = (0L until 500L).map(i => (i, (i * 31 + 11) % 257))
      .filter { case (a, b) => a != b }
    val a = Graphs.ccLargeSmallStar(pairs.toDF("id_a", "id_b").repartition(1), 8)
      .as[(Long, Long)].collect().toMap
    val b = Graphs.ccLargeSmallStar(pairs.toDF("id_a", "id_b").repartition(32), 8)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("ccLargeSmallStar fails loudly when the round budget is too small") {
    val chain = (0L until 4000L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      ccViaStars(chain, rounds = 1)
    }
    // and the logarithmic convergence claim: a 4001-node path — the
    // worst-case diameter shape — lands within ~1.4·log2(n) alternations
    val got = ccViaStars(chain, rounds = 13)
    assert(got.values.toSet == Set(0L) && got.size == 4001)
  }

  test("ccLargeSmallStar with skipAssert returns the same labels") {
    val pairs = (0L until 300L).map(i => (i, (i * i + 7) % 97))
      .filter { case (a, b) => a != b }
    val checked = ccViaStars(pairs, rounds = 8)
    val skipped = Graphs
      .ccLargeSmallStar(pairs.toDF("id_a", "id_b"), 8, skipAssert = true)
      .as[(Long, Long)].collect().toMap
    assert(checked == skipped)
  }

  test("ccLargeSmallStarFixedPoint converges past an undersized hint " +
      "(the streaming poison-batch fix) and matches pointer doubling") {
    // a 2000-link chain needs ~1.4*log2(n) ≈ 16 alternations; hint=2
    // would THROW under the fixed-round solver, the fixed-point one
    // keeps iterating with geometric re-checks and returns the labels
    val chain = (0L until 2000L).map(i => (i, i + 1))
    val got = Graphs
      .ccLargeSmallStarFixedPoint(chain.toDF("id_a", "id_b"), hint = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == ccViaDoubling(chain))
    // and on already-converged inputs the extra machinery is a no-op
    val stars = (0L until 20L).map(i => (100L, i))
    assert(Graphs.ccLargeSmallStarFixedPoint(stars.toDF("id_a", "id_b"),
        hint = 2).as[(Long, Long)].collect().toMap ==
      ccViaDoubling(stars))
  }

  test("ccLargeSmallStar early fixed-point stop returns identical labels " +
      "under an oversized round budget (optimization r14)") {
    // the runStarRounds convergence detector (count+fingerprint gate,
    // exact set-equality probe) must make a 15-round budget on
    // fast-converging graphs bit-identical to the minimal budget AND to
    // pointer doubling — extra rounds past the fixed point are no-ops
    // by construction, so a wrong early stop would show up here as a
    // label mismatch
    val fixtures: Seq[Seq[(Long, Long)]] = Seq(
      (for (a <- 0L to 6L; b <- (a + 1) to 6L) yield (a, b)).toSeq, // clique
      (0L until 20L).map(i => (100L, i)),                     // star, hub max
      (0L until 40L).map(i => (i, i + 1)),                    // short chain
      (0L until 300L).map(i => (i, (i * i + 7) % 97))
        .filter { case (a, b) => a != b })                    // mod graph
    for (pairs <- fixtures) {
      val generous = ccViaStars(pairs, rounds = 15)
      assert(generous == ccViaDoubling(pairs))
      assert(generous == ccViaStars(pairs, rounds = 8))
    }
  }

  test("ccLargeSmallStarFixedPoint leaves no per-round cache growth") {
    val base = spark.sparkContext.getPersistentRDDs.size
    val chain = (0L until 1000L).map(i => (i, i + 1))
    Graphs.ccLargeSmallStarFixedPoint(chain.toDF("id_a", "id_b"), hint = 2)
      .collect()
    val persisted = spark.sparkContext.getPersistentRDDs.size
    assert(persisted - base <= 1,
      s"ccLargeSmallStarFixedPoint leaked cached tables: ${persisted - base}")
  }

  test("incrementalCc toFixedPoint matches the fixed-round solve and " +
      "survives a delta whose subgraph outgrows the hint") {
    val standing = Seq((0L, 0L), (1L, 0L), (2L, 2L)).toDF("id", "label")
    // delta chain of fresh nodes 10..200 — diameter far past hint=2
    val delta = (10L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Graphs.incrementalCc(standing, delta, rounds = 2,
        toFixedPoint = true)
      .as[(Long, Long)].collect().toMap
    val full = Graphs.incrementalCc(standing, delta, rounds = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == full)
  }

  // ---- harmonicCentrality (q209) -----------------------------------

  test("harmonicCentrality equals a serial replay of balls + registers, " +
      "and a star's hub outranks its leaves") {
    // serial reference: exact BFS balls, the q116/q145 register
    // formulas, micro-floored estimates, lcm-scaled deltas
    def serialHc(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
      val adj = (edges ++ edges.map(e => (e._2, e._1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val nodes = adj.keySet
      val md = java.security.MessageDigest.getInstance("SHA-256")
      def hv(v: Long): Long = {
        val hex = md.digest(v.toString.getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString.take(12)
        java.lang.Long.parseLong(hex, 16)
      }
      def est(ball: Set[Long]): Long = {
        val regs = ball.toSeq.map(hv).groupBy(_ % 64)
          .view.mapValues(_.map { h =>
            val q = h / 64
            if (q == 0) 43 else 43 - (64 - java.lang.Long.numberOfLeadingZeros(q))
          }.max).toMap
        val s = regs.values.map(r => 1L << (43 - r)).sum +
          (64L - regs.size) * (1L << 43)
        math.floor(0.709 * 4096.0 * 8796093022208.0 / s.toDouble
          * 1000000.0 + 0.5).toLong
      }
      val lcm = Seq(1L, 1L, 2L, 6L, 12L, 60L, 60L)(rounds)
      nodes.map { v =>
        var ball = Set(v)
        var prev = est(ball)
        var hc = 0L
        for (t <- 1 to rounds) {
          ball = ball ++ ball.flatMap(u => adj.getOrElse(u, Set.empty))
          val e = est(ball)
          hc += (e - prev) * (lcm / t)
          prev = e
        }
        v -> hc
      }.toMap
    }
    val pairs = (0L until 40L).map(i => (i, (i * 13 + 5) % 37))
      .filter { case (a, b) => a != b } ++ (100L until 110L).map(i => (200L, i))
    val edges = pairs.toDF("src0", "dst0")
      .select(col("src0").as("src"), col("dst0").as("dst"))
    val sym = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    val got = Graphs.harmonicCentrality(sym, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == serialHc(pairs, 3))
    // the 10-leaf star hub reaches everything at distance 1
    val hub = got(200L)
    (100L until 110L).foreach(l => assert(hub > got(l), s"leaf $l >= hub"))
  }

  // ---- hashRandomWalks (q196) --------------------------------------

  test("hashRandomWalks replays serially, follows edges, and is layout-invariant") {
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 2L), (3L, 4L),
      (4L, 0L), (2L, 5L))
    val edges = symmetrize(und)
    def run(parts: Int): Map[Long, String] = Graphs.hashRandomWalks(
        edges.toDF("src", "dst").repartition(parts), 4, "rw:t")
      .as[(Long, String)].collect().toMap
    val a = run(1)
    assert(a == run(16))
    // independent serial replay of the hash-argmin rule
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def hv(s: String): Long = {
      val h = md.digest(s.getBytes("UTF-8"))
      var x = 0L
      for (b <- 0 until 6) x = (x << 8) | (h(b) & 0xffL)
      x
    }
    val want = adj.keys.map { start =>
      var cur = start
      val sb = new StringBuilder(start.toString)
      for (t <- 1 to 4) {
        val nxt = adj(cur).minBy(v => (hv(s"rw:t:$start:$t:$v"), v))
        sb.append(",").append(nxt)
        cur = nxt
      }
      start -> sb.toString
    }.toMap
    assert(a == want)
    // every hop is a real edge
    for ((s0, path) <- a) {
      val hops = path.split(",").map(_.toLong).toSeq
      assert(hops.head == s0)
      hops.sliding(2).foreach { case Seq(u, v) =>
        assert(adj(u).contains(v), s"walk $s0 used a phantom edge $u->$v")
      }
    }
  }

  // ---- incrementalCc (q195) ----------------------------------------

  test("incrementalCc equals a full recompute across merge/new-node/no-op deltas") {
    val batch1: Seq[(Long, Long)] = Seq(
      (1L, 2L), (2L, 3L),          // comp {1,2,3}
      (10L, 11L),                  // comp {10,11}
      (20L, 21L), (21L, 22L),      // comp {20,21,22}
      (30L, 31L))                  // comp {30,31} — never touched
    val deltas: Seq[(String, Seq[(Long, Long)])] = Seq(
      "merge two standing comps" -> Seq((3L, 10L)),
      "attach brand-new nodes" -> Seq((11L, 100L), (100L, 101L)),
      "intra-component no-op edge" -> Seq((20L, 22L)),
      "new isolated pair" -> Seq((200L, 201L)),
      "everything at once" -> Seq((3L, 10L), (11L, 100L), (100L, 101L),
        (20L, 22L), (200L, 201L), (22L, 1L)))
    val standing = ccViaStars(batch1, 8)
    for ((name, delta) <- deltas) {
      val got = Graphs.incrementalCc(
          standing.toSeq.toDF("id", "label"),
          delta.toDF("id_a", "id_b"), 8)
        .as[(Long, Long)].collect().toMap
      val want = ccViaDoubling(batch1 ++ delta)
      assert(got == want, name)
    }
  }

  test("incrementalCc never re-iterates untouched components (pruning pin)") {
    // the untouched component is a 2000-link chain whose own solve
    // needs ~12 alternations; the delta touches a separate pair. If
    // pruning leaked the chain into the star iteration, rounds = 2
    // could not converge and the loud assert would fire — passing IS
    // the proof the chain never entered the iteration.
    val chain = (0L until 2000L).map(i => (i, i + 1))
    val standingMap = ccViaStars(chain :+ (5000L, 5001L), 13)
    val got = Graphs.incrementalCc(
        standingMap.toSeq.toDF("id", "label"),
        Seq((5001L, 5002L)).toDF("id_a", "id_b"), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got(5002L) == 5000L && got(5001L) == 5000L)
    assert(got.filter(_._1 <= 2000L) == standingMap.filter(_._1 <= 2000L))
  }

  test("incrementalCc with an empty delta is the identity") {
    val standing = ccViaStars(Seq((1L, 2L), (3L, 4L)), 4)
    val got = Graphs.incrementalCc(
        standing.toSeq.toDF("id", "label"),
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"), 2)
      .as[(Long, Long)].collect().toMap
    assert(got == standing)
  }

  test("ccLargeSmallStar leaves no per-round cache growth") {
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    def persisted: Int = spark.sparkContext.getPersistentRDDs.size
    cleanup()
    val base = persisted
    val chain = (0L until 200L).map(i => (i, i + 1))
    Graphs.ccLargeSmallStar(chain.toDF("id_a", "id_b"), 8).collect()
    assert(persisted - base <= 1,
      s"ccLargeSmallStar leaked cached tables: ${persisted - base}")
    cleanup()
  }
}
