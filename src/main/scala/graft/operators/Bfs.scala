package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded multi-source BFS (k-hop distance labeling) as a deterministic
  * distributed operator — the reachability/distance member of the graph
  * tier next to components (q100), closure (q148), triangles (q151),
  * and PageRank (q157).
  *
  * Each round relaxes one hop: dist'(v) = min(dist(v), 1 + min over
  * in-neighbors u of dist(u)). Distances are small integers and min is
  * idempotent/commutative, so the result is exact and independent of
  * partition layout and merge order — no quantization needed (contrast
  * q157's damped float recurrence). After k rounds the frame holds the
  * exact hop distance for every vertex within k hops of a seed, which a
  * SQL engine replays as k unrolled UNION+min CTEs.
  *
  * Scale shape: the edge frame is repartitioned by src once and
  * checkpointed; each round shuffles only the reached-set frame
  * (≤ |V| rows) to the edge partitioning and min-combines map-side.
  * The rounds run in a [[graft.functions.Checkpoints.rounds]] scope, lazy
  * on the local profile (the two per-round reads of `dist` end at the
  * same aggregate exchange, which AQE reuses, so the unrolled plan
  * executes linearly in rounds) and checkpointed per round, freeing the
  * superseded round, on the reliable profile — a k-round run pins one
  * distance frame, not k. Unreached vertices simply never enter the
  * frame — no sentinel distances to carry.
  */
object Bfs {

  /** Hop distances after `rounds` relaxations from `seeds` (column id)
    * over directed `edges` (src, dst). Returns (id, hops) for vertices
    * reached within `rounds` hops; seeds are hops=0.
    */
  def hops(seeds: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    graft.functions.Checkpoints.rounds(seeds.sparkSession) { r =>
      val e = r.cut(
        edges.select(col("src"), col("dst")).repartition(col("src")))
      var dist = r.cut(seeds.select(col("id"), lit(0L).as("hops")))
      for (_ <- 1 to rounds) {
        val step = e.join(dist, col("src") === col("id"))
          .select(col("dst").as("id"), (col("hops") + lit(1L)).as("hops"))
        dist = r.step(
          dist.unionByName(step)
            .groupBy(col("id")).agg(min(col("hops")).as("hops")),
          prev = dist, lazyLocal = true)
      }
      dist
    }
  }

  /** Bounded Bellman–Ford: weighted shortest-path distances after
    * `rounds` relaxations from `seeds` over directed `edges`
    * (src, dst, w) with nonnegative INTEGER weights. Returns (id, dist)
    * for vertices reachable within `rounds` hops — after k rounds,
    * dist(v) is the exact minimum weight over all paths of ≤ k edges
    * (Bellman–Ford's invariant), so with rounds ≥ |V|−1 it is the true
    * shortest path. Same exactness argument as [[hops]]: integer sums
    * and an idempotent/commutative min make every round layout- and
    * merge-order-independent, and a SQL engine replays the bounded
    * recursion as k unrolled UNION+min CTEs.
    *
    * Scale shape: identical to [[hops]] — edges partitioned by src once,
    * per-round shuffle is the ≤|V|-row frontier frame, min combines
    * map-side, same lazy/checkpointed rounds.
    */
  def shortestPaths(seeds: DataFrame, edges: DataFrame,
                    rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    graft.functions.Checkpoints.rounds(seeds.sparkSession) { r =>
      val e = r.cut(
        edges.select(col("src"), col("dst"), col("w")).repartition(col("src")))
      var dist = r.cut(seeds.select(col("id"), lit(0L).as("dist")))
      for (_ <- 1 to rounds) {
        val step = e.join(dist, col("src") === col("id"))
          .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
        dist = r.step(
          dist.unionByName(step)
            .groupBy(col("id")).agg(min(col("dist")).as("dist")),
          prev = dist, lazyLocal = true)
      }
      dist
    }
  }
}
