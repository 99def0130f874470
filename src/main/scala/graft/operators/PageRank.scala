package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank (Page et al. 1999) as a deterministic
  * distributed operator — the canonical iterative-graph workload next to
  * the repo's connected components (q100) and transitive closure (q148).
  *
  * Determinism: ranks live in integer MICRO-UNITS (1e6 ≡ rank 1.0) and
  * every step is integer arithmetic — per-edge contribution is BIGINT
  * floor division `pr div deg`, the in-flow is an integer SUM (exact and
  * partition-order-independent, unlike a float sum), and damping is
  * `(85 · insum) div 100`. A SQL engine replaying the same k unrolled
  * steps reproduces every rank bit-for-bit, which is what makes a
  * PageRank declarable against a DuckDB oracle at all. The floor
  * divisions bias each rank down by < 1 micro-unit per step — irrelevant
  * at 1e-6 resolution and identical on both engines.
  *
  * Scale shape: `edges ⋈ deg` is computed ONCE, hash-partitioned by src
  * and localCheckpoint'd — each of the k rounds then shuffles only the
  * |V|-sized rank frame to the edge partitioning, aggregates partial
  * in-flows map-side (integer sum combines), and left-joins back to the
  * node list so flow-less nodes decay to the damping floor. The rounds
  * run in a [[graft.functions.Checkpoints.rounds]] scope: on the local
  * profile they stay lazy — the rank frame is read once per round, so the
  * unrolled plan is linear in k and one action runs each round once — and
  * the run pins only the three loop inputs; on the reliable (cluster)
  * profile every round is checkpointed for durability and frees its
  * predecessor, so a k-round run pins one rank frame, not k. k is a
  * parameter, not a convergence loop — fixed work, fixed result.
  */
object PageRank {

  private val Scale = 1000000L

  /** k rounds of damped PageRank over `edges` (directed, columns
    * src/dst) on the vertex set `nodes` (column id, unique). Damping is
    * the classic 0.85 in exact percent. Returns (id, pr_micro). Nodes
    * with no out-edges leak their mass (the standard non-normalized
    * formulation); nodes with no in-edges settle at the 0.15 floor.
    */
  def ranks(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    graft.functions.Checkpoints.rounds(nodes.sparkSession) { r =>
      val v = r.cut(nodes.select(col("id")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val edgeDeg = r.cut(
        edges.join(deg, "src")
          .select(col("src"), col("dst"), col("deg"))
          .repartition(col("src")))
      var pr = r.cut(v.select(col("id"), lit(Scale).as("pr")))
      for (_ <- 1 to iters) {
        val inflow = edgeDeg.join(pr, col("src") === col("id"))
          .select(col("dst"), expr("pr div deg").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("insum"))
        pr = r.step(
          v.join(inflow, col("id") === col("dst"), "left")
            .select(col("id"),
              (lit(Scale * 15L / 100L) +
                expr("(85 * coalesce(insum, CAST(0 AS BIGINT))) div 100"))
                .as("pr")),
          prev = pr, lazyLocal = true)
      }
      pr.select(col("id"), col("pr").as("pr_micro"))
    }
  }
}
