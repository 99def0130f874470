package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hierarchy flattening — the recursive-CTE workload (org charts, category
  * trees, thread/reply chains, BOM explosions) Spark has no native
  * `WITH RECURSIVE` for. Given (id, parent) rows (parent NULL at roots),
  * emit every node's root and depth.
  *
  * Algorithm: pointer doubling (recursive doubling / path halving — the
  * classic PRAM list-ranking technique, Wyllie 1979; the same shape
  * Spark GraphFrames uses for shortest-path label compaction). State is
  * one row per node `(id, anc, depth, settled)` where `anc` is a known
  * ancestor and `depth` the exact hop count to it. Each round self-joins
  * the state on `anc = id`, composing ancestor pointers: unsettled rows
  * jump to their ancestor's ancestor and add the hop counts. Every round
  * DOUBLES the distance compacted, so a hierarchy of depth d needs
  * ⌈log₂ d⌉ rounds — 5 joins for depth 17 (the sf0.1 fixture), 30 joins
  * for a depth-10⁹ pathological chain — where naive per-level BFS
  * (`JOIN r ON n.parent = r.id`, the recursive CTE's own plan) needs d
  * full shuffles. That log-vs-linear gap is the 100 TB argument: round
  * cost is a self-join hash-partitioned on the pointer column, and the
  * unsettled frontier shrinks as chains resolve, so late rounds touch a
  * sliver of the node set.
  *
  * Lineage discipline: the per-round plan is self-referential, so each
  * round is checkpointed (the [[graft.functions.Components]]
  * propagation-loop lesson — persist alone doubles the analysis tree per
  * round until the driver OOMs). Convergence is checked with a count on
  * the unsettled frontier, folded into the checkpoint's own job (one
  * action per round, log-many rounds total — not a per-row driver loop).
  *
  * Cycle safety: rows on a parent cycle (malformed input — no root is
  * reachable) never settle; after `maxIter` rounds they are dropped and
  * reported via the `onUnresolved` callback rather than looping forever.
  */
object Hierarchy {

  /** Flatten a parent-pointer forest to (id, root, depth).
    *
    * @param nodes     one row per node
    * @param idCol     node id column (any equatable type; nulls dropped)
    * @param parentCol parent id column, NULL marks a root
    * @param maxIter   pointer-doubling round bound — resolves hierarchies
    *                  up to depth 2^maxIter (default 2³² levels)
    * @param onUnresolved called with the count of never-settled rows
    *                  (cycles / dangling parents) when positive
    * @return (id, root, depth) with depth a long, one row per node whose
    *         chain reaches a root
    */
  def flatten(nodes: DataFrame, idCol: String, parentCol: String,
              maxIter: Int = 32,
              onUnresolved: Long => Unit = _ => ()): DataFrame = {
    val init = nodes
      .filter(col(idCol).isNotNull)
      .select(
        col(idCol).as("id"),
        coalesce(col(parentCol), col(idCol)).as("anc"),
        when(col(parentCol).isNull, 0L).otherwise(1L).as("depth"),
        col(parentCol).isNull.as("settled"))
    import graft.functions.{Checkpoints, Escalation}
    Checkpoints.rounds(nodes.sparkSession) { r =>
      // one job materializes the state and folds BOTH counts: total n
      // (constant every round — settled ∪ jumped partitions the node set,
      // and t_id is unique, so the left join is multiplicity-1) gates the
      // per-round broadcast below, the settled count derives the frontier
      val (state0, n, settled0) =
        r.counted(init, flagCol = Some("settled"))
      var state = state0
      var frontier = n - settled0
      var iter = 0
      var progressing = true
      while (frontier > 0 && progressing && iter < maxIter) {
        // compose pointers: s.anc -> t means s's new ancestor is t.anc at
        // distance s.depth + t.depth. Only the unsettled frontier joins
        // (the left side shrinks every round); the lookup side must be the
        // FULL state — a frontier row's ancestor may itself be settled.
        // The lookup side is broadcast while it fits (driver-known count —
        // a checkpoint's LogicalRDD has no stats, so neither Catalyst nor
        // AQE can avoid the per-round exchanges themselves; see
        // Escalation.bcastIfSmall): the round then runs as one
        // checkpoint-read stage, no shuffle, falling back to the SMJ plan
        // the moment the hierarchy outgrows the cap.
        val s = state.filter(!col("settled")).as("s")
        val t = Escalation.bcastIfSmall(
          state.select(col("id").as("t_id"), col("anc").as("t_anc"),
            col("depth").as("t_depth"), col("settled").as("t_settled")), n)
        val jumped = s.join(t, col("s.anc") === col("t_id"), "left").select(
          col("s.id").as("id"),
          col("t_anc").as("anc"),
          (col("s.depth") + col("t_depth")).as("depth"),
          coalesce(col("t_settled"), lit(false)).as("settled"))
        val (stateCp, rows, settledN) = r.counted(
          state.filter(col("settled")).unionByName(jumped),
          prev = Some(state), flagCol = Some("settled"))
        state = stateCp
        val next = rows - settledN
        // the settled set is monotone (depth ≤ 2^k resolves by round k), so
        // an unchanged frontier means only cycle/dangling rows remain —
        // stop now instead of burning the remaining maxIter rounds
        progressing = next < frontier
        frontier = next
        iter += 1
      }
      if (frontier > 0) onUnresolved(frontier)
      state.filter(col("settled"))
        .select(col("id"), col("anc").as("root"), col("depth"))
    }
  }

  /** Ancestor transitive closure — every (descendant, ancestor) pair
    * including self-pairs, by binary lifting: maintain `P` = the exact
    * 2^k-step jump pointer per node and `A` = all pairs at distance
    * < 2^k. One round composes `A ∪ (P ∘ A)` (covering [0, 2^{k+1})) and
    * `P ∘ P` (the 2^{k+1} pointer) — ⌈log₂ depth⌉ rounds where the
    * recursive CTE's own plan walks one level per pass. The binary
    * decomposition of each path length is UNIQUE (largest jump first), so
    * every closure pair is produced exactly once: no `distinct`, no
    * duplicate amplification — the naive `C ∘ C` doubling regenerates
    * each pair once per midpoint on its path, paying an avg_depth-sized
    * duplicate factor into a full dedup shuffle every round. Join work
    * per round is bounded by the FINAL closure size (on a tree,
    * Σ(depth+1) ≈ n·avg_depth), and `P` only holds nodes of depth ≥ 2^k,
    * so late rounds touch the deep sliver of the forest. That is the
    * 100 TB argument: total traffic O(closure · log depth), with the
    * per-round lookup side shrinking geometrically.
    *
    * Input contract: ACYCLIC parent pointers (a forest). On a cycle `P`
    * never empties and lifted distances wrap the cycle, so `A` would
    * accumulate duplicate (descd, anc) rows round over round — instead of
    * silently amplifying, the loop FAILS FAST: on acyclic input |P|
    * strictly shrinks every round while nonempty (a node of depth ≥ 2^k+1
    * always has an ancestor of depth in [2^k, 2^k+1) that leaves `P`), so
    * a non-decreasing |P| proves a cycle and raises
    * `IllegalArgumentException` before any duplicate row is unioned.
    *
    * This is the relation subtree rollups (q148), "all reports of this
    * manager" filters, and BOM cost explosions consume.
    */
  def ancestorClosure(nodes: DataFrame, idCol: String, parentCol: String,
                      maxIter: Int = 32): DataFrame = {
    val self = nodes.filter(col(idCol).isNotNull)
      .select(col(idCol).as("descd"), col(idCol).as("anc"))
    val step = nodes.filter(col(idCol).isNotNull && col(parentCol).isNotNull)
      .select(col(idCol).as("descd"), col(parentCol).as("anc"))
    // invariant entering each round: A = all dists in [0, 2^k),
    // P = the exact 2^k-step pointer. k = 0 ⇒ A holds self-pairs only.
    //
    // Round 12 shape: A is kept as a LIST of per-round checkpointed
    // blocks instead of one re-checkpointed union — re-materializing
    // `a ∪ lifted` every round wrote Σₖ|Aₖ| ≈ log·|closure| block rows;
    // appending only the new lifted block writes each closure pair exactly
    // once. The P side is broadcast while it fits (driver-known count;
    // checkpoints carry no stats — Escalation.bcastIfSmall), so a round's
    // two joins are exchange-free block scans at fixture scale and fall
    // back to SMJ past the cap. Total pinned storage is unchanged (the
    // closure); the scope frees the last P pointers, which the returned
    // union does not read.
    import graft.functions.{Checkpoints, Escalation}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Checkpoints.rounds(nodes.sparkSession) { r =>
      var parts = List(r.cut(self))
      var (p, pSize, _) = r.counted(step)
      var deadP: Option[DataFrame] = None // last round's P: nothing reads it
      var iter = 0
      while (pSize > 0 && iter < maxIter) {
        // v -(2^k)-> mid -(d < 2^k)-> anc  ⇒  v -(2^k + d)-> anc, covering
        // exactly the new distance block [2^k, 2^{k+1}) once per pair (the
        // d = 0 self-pair contributes the bare 2^k jump itself)
        val pJump = Escalation.bcastIfSmall(
          p.select(col("descd"), col("anc").as("mid")), pSize)
        val p2 = pJump
          .join(p.select(col("descd").as("mid"), col("anc")), "mid")
          .select(col("descd"), col("anc"))
        val a = parts.reduceLeft(_ unionByName _)
        val lifted = pJump
          .join(a.select(col("descd").as("mid"), col("anc")), "mid")
          .select(col("descd"), col("anc"))
        // p2 and lifted are independent (both read P and materialized
        // blocks), so their jobs overlap — serial measured 1.55 → 1.91 s
        // on q148 at sf0.1, 4 cores. Both are awaited before a failure
        // propagates, so no job outlives the round and the scope frees
        // every frame either produced. P itself is freed one round late,
        // once neither job can still read it.
        val fLifted = Future(r.cut(lifted))
        val fP = Future(r.counted(p2, prev = deadP))
        Seq(fLifted, fP).foreach(Await.ready(_, Duration.Inf))
        val liftedCp = fLifted.value.get.get
        val (pNext, nNext, _) = fP.value.get.get
        // acyclic input ⇒ |P| strictly shrinks while nonempty (see
        // scaladoc); a plateau is a parent cycle — fail before unioning
        // wrapped pairs (the scope frees every block on the way out)
        if (nNext >= pSize)
          throw new IllegalArgumentException(
            s"ancestorClosure: parent cycle detected (2^$iter-step pointer " +
              s"count $pSize -> $nNext did not shrink); input must be acyclic")
        parts = liftedCp :: parts
        deadP = Some(p)
        p = pNext
        pSize = nNext
        iter += 1
      }
      parts.reduceLeft(_ unionByName _)
    }
  }

  /** The deterministic customer referral forest both declared hierarchy
    * queries run on: parent(k) = 1 + (md5-int(k) mod (k−1)) for k > 5 —
    * always a smaller key, so acyclic by construction; keys ≤ 5 are
    * roots. `cents` carries the account balance for rollups.
    */
  private def referralForest(spark: SparkSession, sfDir: String): DataFrame = {
    val h = conv(substring(md5(col("c_custkey").cast("string")), 1, 8), 16, 10)
      .cast("long")
    Tables.customer(spark, sfDir).select(
      col("c_custkey").as("id"),
      when(col("c_custkey") <= 5, lit(null).cast("long"))
        .otherwise(lit(1L) + h % (col("c_custkey") - 1)).as("parent"),
      round(col("c_acctbal") * 100).cast("long").as("cents"))
  }

  /** q143: flatten a deterministic customer referral forest — parent(k) =
    * 1 + (md5-int(k) mod (k−1)) for k > 5 (always a smaller key ⇒ acyclic
    * by construction), keys ≤ 5 are roots. The oracle replays the SAME
    * edge derivation and resolves it with DuckDB's native
    * `WITH RECURSIVE` — the hash check proves the log-round pointer
    * doubling computes exactly what the linear-round recursive CTE
    * semantics define, on every row. Emit (id, root, depth); order by id.
    */
  def q143_hierarchy_flatten(spark: SparkSession, sfDir: String): DataFrame =
    flatten(referralForest(spark, sfDir), "id", "parent").orderBy(col("id"))

  /** q148: subtree rollup over the same forest — for EVERY node, the size
    * and summed account balance (integer cents) of its subtree, self
    * included: the BOM cost-explosion / org-headcount shape. Closure via
    * [[ancestorClosure]] (log-round doubling), then one join to the node
    * values and one agg on the ancestor key. Closure size is n·avg_depth
    * (≈ 10 n on the md5 forest — ln n expected depth), so the rollup
    * costs a small constant factor over the node count at any scale.
    * Oracle: DuckDB WITH RECURSIVE closure + the same join/agg. Emit
    * (id, n_subtree, cents); order by id.
    */
  def q148_subtree_rollup(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = referralForest(spark, sfDir)
    ancestorClosure(nodes, "id", "parent")
      .join(nodes.select(col("id").as("descd"), col("cents")), "descd")
      .groupBy(col("anc"))
      .agg(count(lit(1)).as("n_subtree"), sum(col("cents")).as("cents"))
      .select(col("anc").as("id"), col("n_subtree"), col("cents"))
      .orderBy(col("id"))
  }

  val oracle: Map[String, String] = Map(
    "q143_hierarchy_flatten" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT c_custkey AS id,
        |    CASE WHEN c_custkey <= 5 THEN NULL
        |      ELSE 1 + CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
        |                    AS BIGINT) % (c_custkey - 1) END AS parent
        |  FROM customer),
        |r AS (
        |  SELECT id, id AS root, CAST(0 AS BIGINT) AS depth
        |  FROM nodes WHERE parent IS NULL
        |  UNION ALL
        |  SELECT n.id, r.root, r.depth + 1
        |  FROM nodes n JOIN r ON n.parent = r.id)
        |SELECT id, root, depth FROM r ORDER BY id""".stripMargin,
    "q148_subtree_rollup" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT c_custkey AS id,
        |    CASE WHEN c_custkey <= 5 THEN NULL
        |      ELSE 1 + CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
        |                    AS BIGINT) % (c_custkey - 1) END AS parent,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |cl AS (
        |  SELECT id AS descd, id AS anc FROM nodes
        |  UNION ALL
        |  SELECT cl.descd, n.parent FROM cl JOIN nodes n ON cl.anc = n.id
        |  WHERE n.parent IS NOT NULL)
        |SELECT cl.anc AS id, count(*) AS n_subtree,
        |  CAST(sum(n2.cents) AS BIGINT) AS cents
        |FROM cl JOIN nodes n2 ON cl.descd = n2.id
        |GROUP BY 1 ORDER BY id""".stripMargin)
}
