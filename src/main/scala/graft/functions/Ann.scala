package graft.functions

import graft.Det
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search over an `Array[Float]` embedding
  * column.
  *
  * Three tiers:
  *  1. `bruteForceTopK` — exact cosine top-k, probe side broadcast, corpus
  *     side streamed map-side. Correctness baseline (q82 uses this shape);
  *     fine whenever |probes| is bounded.
  *  2. `srpTopK` — signed-random-projection LSH (Charikar STOC 2002
  *     rounding-hyperplane sketch): each vector gets a
  *     `nbits`-bit signature from deterministic ±1 hyperplanes
  *     (sign pattern derived from xxhash64(plane,dim) — no RNG state, so
  *     the bucketing is reproducible). Probes only score candidates whose
  *     signature agrees on a bucket prefix → the corpus scan drops to
  *     1/2^prefixBits of the data per probe, at recall < 1.
  *  3. `ivfTopK` — IVF-style coarse quantization: centroids from a
  *     `groupBy(coarseKey).avg` pass; probes search only the `nprobe`
  *     nearest centroids' partitions. The 100 TB path: the corpus is
  *     bucketed/partitioned by centroid id on disk, so a probe reads only
  *     its shards (partition pruning), never the full corpus.
  */
object Ann {

  /** Per-cell mean vectors: explode to (cell, pos, value), average per
    * position, reassemble ordered by pos — dimension-agnostic, one
    * aggregation pass, two-phase (partials combine map-side). THE shared
    * centroid reassembly: k-means updates, IVF coarse centroids, and PQ
    * sub-codebooks all call this instead of keeping drifting copies.
    * Output columns: (`cellOut`, `vecOut`), vector as array<float>.
    */
  def meanVectors(df: DataFrame, cellCol: Column, vecCol: Column,
                  cellOut: String, vecOut: String): DataFrame =
    df.select(cellCol.as(cellOut), posexplode(vecCol))
      .groupBy(col(cellOut), col("pos"))
      .agg(avg(col("col")).as("__mn"))
      .groupBy(col(cellOut))
      .agg(array_sort(collect_list(struct(col("pos"), col("__mn"))))
        .as("__pm"))
      .select(col(cellOut),
        transform(col("__pm"), p => p.getField("__mn").cast("float"))
          .as(vecOut))

  private def cosine(a: Column, b: Column): Column =
    Det.dotD(a, b) / (Det.l2norm(a) * Det.l2norm(b))

  /** Exact cosine top-k per probe. */
  def bruteForceTopK(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    broadcast(p).crossJoin(c)
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", Det.r6(cosine(col("pv"), col("cv"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
  }

  /** Deterministic ±1 projection of `v` onto hyperplane `plane`:
    * sum_d v[d] * sign(xxhash64(plane:d)). Sign pattern is pseudo-random
    * but fixed — identical on every executor and every run.
    */
  private def srpBit(v: Column, plane: Int): Column = {
    val proj = aggregate(
      zip_with(v, sequence(lit(0), size(v) - 1), (x, i) =>
        when(pmod(xxhash64(concat_ws(":", lit(plane.toString), i)), lit(2)) === 0,
          x.cast("double")).otherwise(-x.cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    when(proj > 0, 1L).otherwise(0L)
  }

  /** nbits-bit SRP signature as a long column. */
  def srpSignature(v: Column, nbits: Int): Column =
    (0 until nbits).map(b => shiftleft(srpBit(v, b), b))
      .reduce((a, c) => a.bitwiseOR(c))

  /** ANN top-k: candidates = corpus rows whose `prefixBits`-bit SRP bucket
    * is within Hamming distance 1 of the probe's (multi-probe LSH: the
    * probe side explodes to its own bucket + each single-bit flip, so a
    * near neighbor is missed only when ≥2 prefix bits disagree). The
    * corpus is hashed once; each probe touches ≈ (1+prefixBits)/2^prefixBits
    * of it instead of all of it.
    */
  def srpTopK(probes: DataFrame, corpus: DataFrame, k: Int,
              nbits: Int = 16, prefixBits: Int = 4): DataFrame = {
    val mask = (1L << prefixBits) - 1
    val p0 = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
      srpSignature(col("embedding"), nbits).bitwiseAND(mask).as("bucket0"))
    val multiprobe = array(
      col("bucket0") +: (0 until prefixBits).map(b =>
        col("bucket0").bitwiseXOR(lit(1L << b))): _*)
    val p = p0.select(col("probe_id"), col("pv"),
      explode(multiprobe).as("bucket"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      srpSignature(col("embedding"), nbits).bitwiseAND(mask).as("bucket"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    broadcast(p).join(c, "bucket")
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", Det.r6(cosine(col("pv"), col("cv"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
  }

  /** Deterministic Lloyd k-means over an `Array[Float]` embedding column —
    * the clustering that backs IVF cell layouts ([[ivfTopK]]) and
    * semantic dedup ([[graft.functions.Dedup.semanticNearDups]];
    * SemDeDup, Abbas et al. 2023, arXiv:2303.09540 — public literature).
    *
    * Determinism: init centroids = the k rows with the smallest ids (no
    * random seeds — same clustering for the same input regardless of
    * partitioning), fixed iteration count (Lloyd monotonically decreases
    * inertia; a fixed budget is the production norm — convergence checks
    * cost a driver round-trip per iteration and rarely change the cells).
    *
    * Scale shape per iteration: assignment = corpus × broadcast(centroids)
    * crossJoin (k·n rows, k small) scored by the codegen'd
    * [[graft.expressions.DotProductD]] (L2² = |a|²+|b|²−2a·b with
    * per-row norms computed once) + one argmin window; update = posexplode
    * → per-(cell, dim) avg → reassemble. Centroids are checkpointed per
    * iteration in a [[Checkpoints.rounds]] scope with the superseded
    * round's blocks freed (k rows — cuts the iterative lineage, never
    * collects the corpus). NOT hash-checkable cross-engine: float centroid
    * averaging is partition-order-dependent — same unit-tier status as
    * IVF routing (SURVEY q98 note).
    *
    * @return (idCol, cell) — cell in [0, k); ties on equal distance break
    *         toward the lower cell id
    */
  def kmeans(corpus: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int = 5): DataFrame = {
    require(k >= 1 && iters >= 1, s"k=$k and iters=$iters must be >= 1")
    // init = the k smallest ids via TakeOrderedAndProject (distributed
    // top-k — not a global-window single partition)
    Checkpoints.rounds(corpus.sparkSession) { r =>
      var centroids = r.cut(corpus
        .select(col(idCol), col(vecCol).as("centroid"))
        .orderBy(col(idCol).asc).limit(k)
        .select((row_number().over(Window.orderBy(col(idCol).asc)) - 1)
          .as("cell"), col("centroid")))
      val body = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        graft.Det.dotD(col(vecCol), col(vecCol)).as("__n2"))
      var assigned: DataFrame = null
      var it = 0
      while (it < iters) {
        val aw = Window.partitionBy(col("__id"))
          .orderBy(col("__d2").asc, col("cell").asc)
        assigned = body.crossJoin(broadcast(centroids))
          .withColumn("__d2",
            col("__n2") + graft.Det.dotD(col("centroid"), col("centroid"))
              - lit(2.0) * graft.Det.dotD(col("__v"), col("centroid")))
          .withColumn("__rk", row_number().over(aw))
          .filter(col("__rk") === 1)
          .select(col("__id"), col("__v"), col("cell"))
        it += 1
        if (it < iters) {
          centroids = r.step(
            meanVectors(assigned, col("cell"), col("__v"), "cell", "centroid"),
            prev = centroids)
        }
      }
      assigned.select(col("__id").as(idCol), col("cell"))
    }
  }

  /** IVF-style search: coarse centroids = per-`coarseKey` mean vectors
    * (one aggregation pass; with no labels, any clustering assignment
    * column works). Probes pick their `nprobe` closest centroids, then
    * score only corpus vectors in those cells.
    */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, coarseKey: String,
              k: Int, nprobe: Int = 2): DataFrame = {
    val cells =
      meanVectors(corpus, col(coarseKey), col("embedding"), "cell", "centroid")
    val pw = Window.partitionBy(col("probe_id"))
      .orderBy(col("cent_sim").desc, col("cell").asc)
    val probeCells = broadcast(probes
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv")))
      .crossJoin(broadcast(cells))
      .withColumn("cent_sim", cosine(col("pv"), col("centroid")))
      .withColumn("cr", row_number().over(pw))
      .filter(col("cr") <= nprobe)
      .select(col("probe_id"), col("pv"), col("cell"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    probeCells
      .join(corpus.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cv"), col(coarseKey).as("cell")),
        Seq("cell"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", Det.r6(cosine(col("pv"), col("cv"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
  }
}
