package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.BooleanType
import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** Lineage-cut discipline for iterative operators (PageRank, BFS,
  * hierarchy flattening, k-core peel, connected components, k-means).
  *
  * Two defects this fixes over calling `localCheckpoint` directly in a
  * loop:
  *
  *  1. **Superseded checkpoint blocks leak.** `Dataset.localCheckpoint`
  *     persists the materialized rows in executor storage; a k-round loop
  *     that checkpoints per round strands k copies of the state frame in
  *     storage memory until the session dies (`Dataset.unpersist` does NOT
  *     free them — it talks to the plan cache manager, while the
  *     checkpoint blocks belong to the underlying RDD). Measured: q202's
  *     repeats grew 1.4 s → 5.6 s as blocks accumulated. [[release]]
  *     reaches the `LogicalRDD` leaf the checkpoint planted and unpersists
  *     the RDD itself.
  *
  *  2. **`localCheckpoint` is non-reliable storage.** On a real cluster an
  *     executor loss mid-iteration is unrecoverable (the lineage was
  *     truncated, the blocks are gone). [[cut]] upgrades to a reliable
  *     `checkpoint(dir)` when the session has a checkpoint directory and
  *     `graft.checkpoint.reliable=true` — the cluster profile — and stays
  *     on the fast local path everywhere else (local mode keeps the JVM,
  *     so local blocks are as durable as the job).
  *
  * Loops run inside one [[rounds]] scope, which owns the release rule a
  * truncated lineage imposes — a freed frame cannot be recomputed, so a
  * frame may only be freed once nothing live reads it:
  *
  *  - a round's predecessor is freed once its successor has materialized
  *    ([[Rounds.step]], [[Rounds.counted]]);
  *  - on normal exit every frame the scope cut that the RETURNED (lazy)
  *    plan does not read is freed. Most loops return a plan over their
  *    final round only; `Hierarchy.ancestorClosure` returns a union of
  *    every round's block, and those blocks stay pinned — O(log depth)
  *    frames totalling the closure's bytes;
  *  - if the body throws, every frame it cut is freed and the exception
  *    rethrown.
  *
  * Frames the returned plan reads stay pinned until the between-queries
  * [[sweep]]. One-shot cuts outside a loop call [[cut]] directly.
  */
object Checkpoints {

  /** Spark conf key: set `true` (with `sparkContext.setCheckpointDir`) to
    * route [[cut]] through reliable checkpoints on cluster profiles. */
  val ReliableConfKey = "graft.checkpoint.reliable"

  private def reliable(spark: SparkSession): Boolean =
    spark.conf.get(ReliableConfKey, "false").toBoolean

  /** Eagerly materialize `ds` and cut its lineage. Local checkpoint by
    * default; reliable `checkpoint` when [[ReliableConfKey]] is true and a
    * checkpoint dir is set (reliable without a dir would throw deep in the
    * job — fail the misconfiguration fast here instead). */
  def cut[T](ds: Dataset[T]): Dataset[T] = {
    if (reliable(ds.sparkSession)) {
      require(
        ds.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConfKey=true requires sparkContext.setCheckpointDir")
      // A reliable checkpoint writes its files in a SECOND job over the
      // same RDD (the eager count, then ReliableCheckpointRDD's write
      // job) — without a persist every iterative round COMPUTES TWICE,
      // which the r12 cluster bench measured as the whole iterative
      // tier running 1.5–3.2× over the uniform cluster-overhead model
      // (BASELINE §4.0f). Persisting first makes the write job read the
      // cached rows instead; MEMORY_AND_DISK so memory pressure spills
      // rather than recomputes. The persist must precede the FIRST
      // physical planning of `ds` (cache substitution happens at plan
      // time) — true for every cut call site, which checkpoint
      // freshly-built frames. Unpersisted in `finally`: both jobs have
      // completed by then, and the returned frame reads the checkpoint
      // RDD, not this plan's cache.
      ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try ds.checkpoint(true)
      finally { ds.unpersist(blocking = false); () }
    } else ds.localCheckpoint(true)
  }

  /** Free a checkpointed frame's storage: its blocks, and — for reliable
    * checkpoints — its files. No-op on frames that were never
    * checkpointed (no `LogicalRDD` leaf). The file deletion matters on
    * the cluster profile: Spark only garbage-collects checkpoint dirs
    * when `spark.cleaner.referenceTracking.cleanCheckpoints` is on (off
    * by default), so a k-round loop would otherwise strand k full state
    * snapshots on durable storage — the same accumulation defect as the
    * block leak, relocated to the checkpoint volume. Deletion is safe
    * under the header's rule: only frames no live plan reads are
    * released. */
  def release(ds: Dataset[_]): Unit =
    leafRdds(ds).foreach { rdd =>
      rdd.unpersist(blocking = false)
      rdd.getCheckpointFile.foreach { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(
          ds.sparkSession.sparkContext.hadoopConfiguration)
          .delete(path, true)
      }
    }

  /** Free EVERY persisted RDD and Dataset cache in the session — the
    * between-queries sweep the bench/verify harnesses run so one query's
    * pinned final-round checkpoint can't skew the next query's storage
    * memory. (The final round of an iterative operator stays pinned by
    * design — the returned plan reads it — so only a session-level sweep
    * between queries can reclaim it.)
    *
    * Dataset caches MUST go through `catalog.clearCache()`, not raw
    * RDD-level unpersist: the latter frees the blocks but leaves the
    * plan→InMemoryRelation entry registered with a builder whose buffers
    * RDD is now at StorageLevel.NONE, so the NEXT run of the SAME plan
    * "hits" a cache that never re-fills — every consumer recomputes the
    * cached subtree plus a columnar encode, worse than no cache at all
    * (observed on q97's exact-dedup prefix: repeats never re-persisted).
    * The RDD sweep stays for checkpoint blocks, which the CacheManager
    * does not track.
    *
    * SCOPE: both `clearCache()` (shared CacheManager) and the persistent-
    * RDD sweep act on the whole SparkContext — including caches owned by
    * OTHER sessions sharing that context. Correct for the single-session
    * bench/verify harnesses this serves; do NOT call it from a shared-
    * context app expecting session isolation (evicted caches recompute —
    * a performance surprise, not a correctness one). */
  def sweep(spark: org.apache.spark.sql.SparkSession,
            blocking: Boolean = false): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking))
  }

  /** Run one iterative operator's loop in a checkpoint scope and return
    * its result plan. The body keeps its own loop and stop rule and cuts
    * every frame through `r`; the scope frees them under the header's
    * rule — on normal exit the frames `body`'s result does not read, on
    * a throw all of them before the exception propagates. */
  def rounds[T](spark: SparkSession)(body: Rounds => Dataset[T])
  : Dataset[T] = {
    val r = new Rounds(reliable(spark))
    val out =
      try body(r)
      catch { case e: Throwable => r.frames.values.foreach(release); throw e }
    r.releaseUnread(out)
    out
  }

  /** The frames one [[rounds]] scope has cut and not yet freed. */
  final class Rounds private[Checkpoints] (reliable: Boolean) {
    // keyed by the id of the frame's checkpoint RDD; concurrent, as a
    // round may materialize independent frames from two threads
    private[Checkpoints] val frames = TrieMap.empty[Int, Dataset[_]]

    /** Materialize `ds` as a frame of this scope, with no predecessor to
      * free: a loop input, or a round's first state. */
    def cut[T](ds: Dataset[T]): Dataset[T] =
      materialize(ds, None, counted = false)._1

    /** One round: materialize `next`, then free `prev` (the superseded
      * state frame; only blocks this scope cut are touched).
      *
      * `lazyLocal` is for FIXED-round loops whose state frame has one
      * downstream reference per round (PageRank's rank frame; BFS reads
      * `dist` twice, but both reads end at the same aggregate exchange,
      * which AQE reuses). On the local profile such a step returns `next`
      * unmaterialized: the unrolled plan stays linear in rounds, one
      * caller action runs every round once, and a per-round eager cut
      * only added k driver round-trips — a job plus a fresh
      * analysis/planning pass per round, ~60% of q157's wall at sf0.1.
      * On the reliable profile every round still materializes: there the
      * checkpoint is durability — an executor loss resumes from the last
      * round instead of recomputing the chain, which the executor-kill
      * gate pins. Loops whose plan would grow superlinearly when unrolled
      * (k-core's lazy unroll cubes its plan) keep the default. */
    def step[T](next: Dataset[T], prev: Dataset[_],
                lazyLocal: Boolean = false): Dataset[T] =
      if (lazyLocal && !reliable) next
      else {
        val cp = cut(next)
        free(prev)
        cp
      }

    /** Materialize `ds` and return (frame, rows, rows whose boolean
      * column `flagCol` is true — 0 without one), then free `prev`. Loops
      * need per-round sizes for convergence checks and for the
      * driver-count-gated broadcasts of [[Escalation.bcastIfSmall]] (a
      * checkpoint's `LogicalRDD` carries no stats); a separate count job
      * per round doubled their driver round-trips. On the local profile
      * the counts come from the materializing job itself; the reliable
      * profile counts the checkpointed RDD (a cheap file-backed scan). A
      * null flag counts as false. */
    def counted[T](ds: Dataset[T], prev: Option[Dataset[_]] = None,
                   flagCol: Option[String] = None): (Dataset[T], Long, Long) = {
      val r = materialize(ds, flagCol, counted = true)
      prev.foreach(free)
      r
    }

    private def materialize[T](ds: Dataset[T], flagCol: Option[String],
                               counted: Boolean): (Dataset[T], Long, Long) = {
      val idx = flagCol.fold(-1) { f =>
        val i = ds.schema.fieldIndex(f)
        require(ds.schema(i).dataType == BooleanType,
          s"flag column $f must be boolean, got ${ds.schema(i)}")
        i
      }
      // local: a LAZY checkpoint, so the one job below computes the plan,
      // persists the marked blocks, truncates lineage at job end and
      // folds both counts
      val cp = if (reliable) Checkpoints.cut(ds)
               else ds.localCheckpoint(eager = false)
      val rdd = leafRdds(cp) match {
        case Seq(rdd) => rdd
        case leaves => throw new IllegalStateException(
          s"checkpoint planted ${leaves.size} LogicalRDD leaves, expected 1")
      }
      // tracked BEFORE the local job runs, so a failing round's partially
      // stored blocks are freed with the rest
      frames(rdd.id) = cp
      if (reliable && !counted) (cp, -1L, -1L)
      else {
        val (n, t) = rdd.mapPartitions { it =>
          var n = 0L; var t = 0L
          it.foreach { row =>
            n += 1L
            if (idx >= 0 && !row.isNullAt(idx) && row.getBoolean(idx)) t += 1L
          }
          Iterator.single((n, t))
        }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
        (cp, n, t)
      }
    }

    private def free(prev: Dataset[_]): Unit =
      leafRdds(prev).flatMap(r => frames.remove(r.id)).foreach(release)

    /** Free every frame `out` does not read: not among its `LogicalRDD`
      * leaves or their RDD dependencies (a lazily-marked or converted
      * frame reaches earlier blocks through its lineage). */
    private[Checkpoints] def releaseUnread(out: Dataset[_]): Unit = {
      val read = mutable.Set.empty[Int]
      def walk(rdd: RDD[_]): Unit =
        if (read.add(rdd.id)) rdd.dependencies.foreach(d => walk(d.rdd))
      leafRdds(out).foreach(walk)
      frames.foreach { case (id, f) => if (!read(id)) release(f) }
      frames.clear()
    }
  }

  private def leafRdds(ds: Dataset[_]): Seq[RDD[InternalRow]] =
    ds.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRDD => l.rdd
    }

  /** Storage-block RDD ids currently pinned by `ds`'s checkpoint leaves —
    * test hook for asserting [[release]] actually freed them. */
  def checkpointRddIds(ds: Dataset[_]): Seq[Int] = leafRdds(ds).map(_.id)

  // touch the classic package so an accidental cross-module Dataset split
  // (sql-api vs classic) fails to compile here, next to the explanation:
  // queryExecution/analyzed come from the classic Dataset, which is what
  // every frame in this engine is at runtime.
  private[graft] type ClassicDF = classic.DataFrame
}
