package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("triangle, chain, isolated pair, and singleton-free output") {
    val got = cc(Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),  // triangle
      (10L, 11L), (11L, 12L),        // chain
      (20L, 21L)))                   // isolated pair
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("long chain converges (diameter ≫ 2) and labels by global min") {
    // a 20-node path: worst case for propagation; the union-find
    // contraction path must still label everything 0 exactly
    val path = (0L until 19L).map(i => (i, i + 1))
    val got = cc(path)
    assert(got.size == 20 && got.values.forall(_ == 0L))
  }

  test("min label flows AGAINST edge direction too (undirected semantics)") {
    // edges all point low→high except the bridge (9,0): component min (0)
    // must still reach every node
    val got = cc(Seq((5L, 6L), (6L, 7L), (9L, 0L), (7L, 9L)))
    assert(got.values.toSet == Set(0L))
  }

  test("deterministic under repartitioning") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (3L, 7L), (50L, 60L))
    val base = cc(pairs)
    val shuffled = Components.connectedComponents(
      pairs.toDF("a", "b").repartition(13, col("b")), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled == base)
  }

  test("null endpoints are dropped, not clustered") {
    val df = Seq((Some(1L), Some(2L)), (None: Option[Long], Some(3L)),
      (Some(4L), None: Option[Long])).toDF("a", "b")
    val got = Components.connectedComponents(df, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("non-long ids take the propagation path and agree with union-find") {
    // string ids (zero-padded so lexicographic min == numeric min)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (3L, 7L), (50L, 60L))
    val strDf = pairs.map { case (x, y) => (f"$x%03d", f"$y%03d") }
      .toDF("a", "b")
    val got = Components.connectedComponents(strDf, "a", "b")
      .collect().map(r => r.getString(0).toLong -> r.getString(1).toLong)
      .toMap
    assert(got == cc(pairs))
  }

  test("contraction and propagation implementations agree on a random graph") {
    // 400 nodes, ~600 random edges (fixed seed): many components of mixed
    // shapes. The long-typed contraction path and the string-typed
    // propagation fallback must produce identical clusterings.
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(600)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .filter { case (a, b) => a != b }
    val viaContract = cc(pairs)
    val viaProp = Components.connectedComponents(
      pairs.map { case (a, b) => (f"$a%04d", f"$b%04d") }.toDF("a", "b"),
      "a", "b")
      .collect().map(r => r.getString(0).toLong -> r.getString(1).toLong)
      .toMap
    assert(viaProp == viaContract)
  }

  test("multi-level contraction (tiny local threshold) matches the base case") {
    // realistic dedup-cluster topology at forced multi-level scale:
    // 40 dense clusters of 20 nodes (ring + star around the cluster min);
    // the first 10 clusters additionally share a hub node, forming one
    // large component that only merges ACROSS contraction levels
    val hub = 100000L
    val pairs = (for (c <- 0 until 40; i <- 0 until 20) yield {
      val base = c * 100L
      val node = base + i
      Seq((base, node), (node, base + (i + 1) % 20)) ++
        (if (c < 10 && i == 0) Seq((node, hub)) else Nil)
    }).flatten.filter { case (a, b) => a != b }
    val df = pairs.toDF("a", "b")
    val base = Components.connectedComponents(df, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val multi = Components.connectedComponents(df, "a", "b",
        localEdgeThreshold = 60L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi == base)
    // hub-linked clusters 0..9 all label 0; isolated clusters keep their min
    assert(multi(hub) == 0L && multi(901L) == 0L && multi(1503L) == 1500L)
  }

  test("stall fallback: a sparse path still completes under a tiny threshold") {
    // a bare path never contracts (every neighborhood is degree-2);
    // the stall detector must hand the contracted graph to propagation
    val path = (0L until 15L).map(i => (i, i + 1))
    val got = Components.connectedComponents(path.toDF("a", "b"), "a", "b",
      localEdgeThreshold = 5L)
    assert(got.collect().map(r => r.getLong(1)).forall(_ == 0L))
  }

  private def update(assign: Map[Long, Long],
                     batch: Seq[(Long, Long)],
                     threshold: Long = 4000000L): Map[Long, Long] =
    Components.update(assign.toSeq.toDF("id", "component"), "id", "component",
        batch.toDF("a", "b"), "a", "b", localEdgeThreshold = threshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("incremental update equals full recompute on a random edge split") {
    // 300 nodes, ~500 edges, fixed seed, split 60/40 into history + batch:
    // update(cc(history), batch) must equal cc(history ++ batch)
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(500)(
      (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
    val (hist, batch) = edges.splitAt(300)
    val full = cc(edges)
    val incr = update(cc(hist), batch)
    assert(incr == full)
  }

  test("incremental update: merges relabel to the lower cluster id, " +
    "untouched and singleton clusters survive, new nodes join") {
    val assign = Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L, 42L -> 42L)
    // batch bridges cluster 10 into cluster 1 and adds a brand-new pair
    val got = update(assign, Seq((2L, 11L), (70L, 71L)))
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L,  // merged, min label wins
      42L -> 42L,                                 // singleton untouched
      70L -> 70L, 71L -> 70L))                    // new arrivals
  }

  test("incremental update with an empty batch is the identity") {
    val assign = Map(1L -> 1L, 2L -> 1L, 42L -> 42L)
    val got = update(assign, Seq.empty)
    assert(got == assign)
  }

  test("incremental update matches full recompute under 1/4/32 layouts " +
    "and forced multi-level contraction") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(400)(
      (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    val (hist, batch) = edges.splitAt(250)
    val full = cc(edges)
    val prior = cc(hist)
    for (parts <- Seq(1, 4, 32)) {
      val got = Components.update(
          prior.toSeq.toDF("id", "component").repartition(parts),
          "id", "component",
          batch.toDF("a", "b").repartition(parts), "a", "b",
          localEdgeThreshold = 50L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == full, s"layout $parts diverged")
    }
  }

  test("propagation fallback: non-convergence within maxIter throws") {
    // string-typed ids force the propagation loop; a 10-node path cannot
    // converge in 2 rounds
    val path = (0L until 9L).map(i => (f"$i%03d", f"${i + 1}%03d"))
    def pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = pinned
    intercept[IllegalArgumentException] {
      Components.connectedComponents(path.toDF("a", "b"), "a", "b",
        maxIter = 2).collect()
    }
    // the failed loop strands none of its checkpoint blocks
    assert((pinned -- before).isEmpty, s"left ${pinned -- before} pinned")
  }
}
