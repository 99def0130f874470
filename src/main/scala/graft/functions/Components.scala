package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Connected components over an edge list — the dedup-cluster step that
  * turns pairwise near-duplicate hits (q85/q94/q86 output) into groups, so
  * a pipeline can keep one canonical document per cluster instead of
  * dropping both ends of every pair.
  *
  * Algorithm (long-typed ids, the production path): contraction by
  * per-partition union-find — the "filtering" technique of the MPC
  * literature [Lattanzi et al., "Filtering: a method for solving graph
  * problems in MapReduce", SPAA 2011; Kiveris et al., SoCC 2014 — public
  * literature]. Each level hash-partitions the symmetrized edge list by
  * source and runs an in-memory path-compressed union-find inside every
  * partition (`mapPartitions` — per-partition imperative state is exactly
  * what the RDD escape hatch is for), emitting each node's partition-local
  * min-root. Those (node → root) star edges ARE the contracted graph for
  * the next level: they preserve connectivity (two partition-local trees
  * sharing any node are linked through it) and shrink the edge count by
  * roughly the average degree. When a level fits in one task (≤ ~4M
  * edges), a single-partition union-find finishes the job exactly, and
  * labels propagate back down by construction (star roots are component
  * members, so the final lookup is the last level's labels themselves).
  * On the local fixtures the first level already fits — the whole
  * operator is one repartition + one union-find pass; at 100 TB each
  * level is one shuffle, and the edge count drops geometrically, so 2-3
  * levels cover any realistic dedup pair graph. Contraction only shrinks
  * dense neighborhoods (a source's edges co-locate), so a level that
  * stops shrinking (path/tree-like remainder — local structure already
  * collapsed) hands the contracted graph to the propagation loop, whose
  * labels are the answer because every level preserves the node set.
  *
  * Why not iterative min-label propagation (the classic Pregel shape)?
  * Rounds = how far the min id must TRAVEL along graph edges — the
  * component diameter. Near-dup pair graphs contain chains (A≈B≈C… with
  * the ends dissimilar): the sf0.1 fixture's LSH pair graph needs 10
  * rounds, each a full shuffle barrier. Pointer-jumping compression
  * doesn't rescue it — with randomly-ordered ids the label forest stays
  * 1-2 deep (labels point at local minima) while the min value still
  * crawls one hop per round. A propagation loop with per-round
  * `localCheckpoint` lineage cuts (persist alone keeps lineage and the
  * self-referential plan doubles per round until analysis OOMs) is kept
  * as [[propagationLoop]] for non-long id types; the contraction path is
  * strictly better whenever ids are integral, which every fixture and
  * every doc_id-keyed corpus satisfies.
  */
object Components {

  /** Edges (as (s, t) long pairs) that fit one task's memory — the exact
    * union-find base case. 4M edges ≈ 64 MB of longs plus map overhead. */
  private val LocalEdgeThreshold = 4000000L

  /** Per-level shuffle sizing: partitions of ~half the local threshold
    * (~2M edges at the default) keep tasks meaty at any scale (pair
    * graphs are a sliver of the corpus that produced them — running at
    * the session's corpus-sized width is overhead). */
  private def width(edgeCount: Long, localThreshold: Long): Int =
    math.max(1L, math.min(2048L,
      edgeCount / math.max(1L, localThreshold / 2))).toInt

  /** @param pairs edge list; rows are undirected edges (null endpoints
    *              are dropped — a pair with no id identifies nothing)
    * @param aCol   one endpoint column
    * @param bCol   other endpoint column (same type)
    * @param maxIter contraction-level / propagation-round bound
    * @param localEdgeThreshold edge count that fits one task's union-find
    *         (default [[LocalEdgeThreshold]]; tests lower it to exercise
    *         the multi-level contraction the 100 TB path relies on)
    * @return (id, component) for every node appearing in `pairs`, where
    *         component = min node id reachable from `id` — deterministic
    *         regardless of partitioning or evaluation order
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25,
                          localEdgeThreshold: Long = LocalEdgeThreshold)
  : DataFrame = {
    val longTyped = pairs.schema(aCol).dataType == LongType &&
      pairs.schema(bCol).dataType == LongType
    // struct-explode instead of a two-branch union: the input is evaluated
    // ONCE per row (pairs is typically an expensive LSH/verify pipeline —
    // a union of two selects would run it twice)
    val edges0 = symmetrize(
      pairs.filter(col(aCol).isNotNull && col(bCol).isNotNull), aCol, bCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = edges0.count()
      Checkpoints.rounds(pairs.sparkSession) { r =>
        if (longTyped) contract(r, edges0, n, maxIter, localEdgeThreshold)
        else propagationLoop(r, edges0, n, maxIter)
      }
    } finally edges0.unpersist(blocking = false)
  }

  /** Incremental cluster maintenance — the nightly-crawl shape (q75's
    * incremental discipline applied to q100's clusters): fold a batch of
    * NEW near-dup pairs into an existing (id, component) assignment
    * without re-deriving the historical pair graph.
    *
    * Correctness: an assignment row (id → component) is a star edge, and
    * the star set preserves the old graph's connectivity exactly (every
    * member connects to its root; roots are members). So components of
    * (assignment-as-edges ∪ new pairs) = components of (old graph ∪ new
    * pairs) — including singleton clusters, whose (x, x) self-row
    * survives as a self-edge. Cost scales with |assignment| + |batch|,
    * never with the corpus-history pair graph; labels stay the min member
    * id, so ids are stable across updates (a cluster's label only changes
    * if a batch MERGES it with a lower-labeled one).
    *
    * @param assignment prior (id, component) frame — e.g. the output of
    *                   [[connectedComponents]] or a previous [[update]]
    * @param newPairs   new undirected edges (same id type)
    * @return updated (id, component) covering every node in either input
    */
  def update(assignment: DataFrame, idCol: String, componentCol: String,
             newPairs: DataFrame, aCol: String, bCol: String,
             maxIter: Int = 25,
             localEdgeThreshold: Long = LocalEdgeThreshold): DataFrame = {
    val oldEdges = assignment
      .select(col(idCol).as("__ua"), col(componentCol).as("__ub"))
    val newEdges = newPairs
      .select(col(aCol).as("__ua"), col(bCol).as("__ub"))
    connectedComponents(oldEdges.unionByName(newEdges), "__ua", "__ub",
      maxIter, localEdgeThreshold)
  }

  private val edgeEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** Both directions of every (c1, c2) row as (s, t), input evaluated once
    * per row, self-dups removed. */
  private def symmetrize(df: DataFrame, c1: String, c2: String): DataFrame =
    df.select(explode(array(
        struct(col(c1).as("s"), col(c2).as("t")),
        struct(col(c2).as("s"), col(c1).as("t")))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      .distinct()

  /** One contraction level: per-partition union-find → (node, local min
    * root) star edges. Node survival: a node that LOSES anywhere emits
    * its own (node, root) row; a partition-local WINNER may emit no row
    * of its own but appears as the root VALUE of its members' rows, and
    * the caller's symmetrize step re-materializes it as a source — so
    * the contracted graph's node set always covers the input's. (With
    * one partition — the base case — twin edges land together and the
    * equal-roots branch inserts every node explicitly.) */
  private def stars(edges: Dataset[(Long, Long)]): Dataset[(Long, Long)] =
    edges.mapPartitions { it =>
      val parent = mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        // path compression
        var c = x
        while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      it.foreach { case (s, t) =>
        val (rs, rt) = (find(s), find(t))
        if (rs < rt) parent(rt) = rs
        else if (rt < rs) parent(rs) = rt
        else { parent.getOrElseUpdate(s, s); parent.getOrElseUpdate(t, t) }
      }
      parent.keys.iterator.map(v => (v, find(v)))
    }(edgeEnc)

  /** Recursive contraction. The star graph of a level preserves both the
    * connectivity AND the node set of its input (roots are members, and
    * every node emits a star edge), so the deeper level's labels ARE the
    * answer — no join back up. */
  private def contract(r: Checkpoints.Rounds, edgesDf: DataFrame,
                       edgeCount: Long, levelsLeft: Int,
                       localThreshold: Long): DataFrame = {
    val edges = edgesDf
      .select(col(edgesDf.columns(0)).cast("long").as("_1"),
        col(edgesDf.columns(1)).cast("long").as("_2"))
      .as(edgeEnc)
    if (edgeCount <= localThreshold) {
      // base case: exact single-task union-find. Cut eagerly: the result
      // is tiny (≤ threshold edges' nodes) but the LAZY frame would read
      // the input edge pipeline — typically an expensive LSH/verify or
      // fuzzy-join — whose persist() the caller releases on return, so
      // every downstream action would RE-RUN that pipeline. Once the cut
      // is live, the last contraction level's checkpoint is superseded
      // and freed (blocks AND, on the reliable profile, files — sweep
      // never deletes files); only the result's own checkpoint stays
      // pinned until the session sweep, like every iterative operator's
      // last round (Checkpoints header).
      r.step(stars(edges.repartition(1)).toDF("id", "component"),
        prev = edgesDf)
    } else {
      require(levelsLeft > 0,
        "connectedComponents: contraction did not reach the local " +
          "threshold — raise maxIter")
      // star edges of this level = the contracted graph of the next;
      // symmetrized so a root's whole star lands in one partition of the
      // next level and merges there. Eager checkpoint per level: nested
      // level plans otherwise stack until plan stringification itself
      // OOMs (the same lineage disease the propagation loop cuts per
      // round). Once this level's checkpoint is live, the parent level's
      // blocks are superseded and freed — the recursion pins at most two
      // (geometrically shrinking) edge frames at a time. (The top level's
      // `edgesDf` is the caller's persisted input, not a frame of the
      // scope, so stepping past it frees nothing.)
      val sym = r.step(symmetrize(
        stars(edges.repartition(
          width(edgeCount, localThreshold), col("_1"))).toDF("s", "t"),
        "s", "t"), prev = edgesDf)
      val m = sym.count()
      if (m >= edgeCount * 9 / 10) {
        // Stall: contraction only shrinks where a node's neighborhood is
        // dense (a source's edges all co-locate); a contracted graph that
        // stopped shrinking is path/tree-like — tiny relative to the
        // corpus that produced it, with the local structure already
        // collapsed. Finish it with min-label propagation (node set is
        // preserved through star levels, so its labels ARE the answer).
        // The loop's returned labels read only its OWN final checkpoint,
        // so the scope frees sym on exit.
        propagationLoop(r, sym, m, maxIter = 100)
      } else contract(r, sym, m, levelsLeft - 1, localThreshold)
    }
  }

  /** Fallback for non-integral id types: Pregel-style min-label
    * propagation with a changed-node frontier, old-label carry for
    * join-free change detection, and per-round localCheckpoint lineage
    * cuts. Rounds = component diameter — fine for the small graphs this
    * path serves. */
  private def propagationLoop(r: Checkpoints.Rounds, edges0: DataFrame,
                              edgeCount: Long, maxIter: Int): DataFrame = {
    val p = width(edgeCount, LocalEdgeThreshold)
    val edges = edges0.repartition(p, col("s"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // `cp` is the round's checkpoint handle; labels/frontier are lazy
      // views over it, so the PREVIOUS round's blocks are free to release
      // as soon as the new checkpoint materializes
      var cp = r.cut(
        edges.select(col("s").as("id")).distinct()
          .withColumn("component", col("id")))
      var labels = cp
      var frontier = cp
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        val msgs = frontier
          .join(edges, frontier("id") === edges("s"))
          .select(col("t").as("id"), col("component"), lit(false).as("self"))
        // `adv` marks rows whose label improved this round; counting it
        // inside the step's materializing job makes the convergence probe
        // free — the old frontier.limit(1).count() was a second driver
        // round-trip per round
        val (next, _, advanced) = r.counted(
          labels
            .select(col("id"), col("component"), lit(true).as("self"))
            .union(msgs)
            .repartition(p, col("id"))
            .groupBy("id").agg(
              min("component").as("component"),
              max(when(col("self"), col("component"))).as("old"))
            .withColumn("adv",
              coalesce(col("component") < col("old"), lit(false))),
          prev = Some(cp), flagCol = Some("adv"))
        cp = next
        frontier = next.filter(col("adv"))
          .select("id", "component")
        converged = advanced == 0L
        labels = next.select("id", "component")
        iter += 1
      }
      require(converged,
        s"connectedComponents did not converge in $maxIter rounds")
      labels
    } finally edges.unpersist(blocking = false)
  }
}
