package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Size-triggered scale escalations (round 9) — the documented
  * extreme-scale swaps made CODE PATHS instead of prose.
  *
  * SCALE.md prescribes operator swaps that only matter past a size the
  * fixtures never reach (q211's per-lang rank window → [[ScalableRank]];
  * q186's exact distinct → [[Hll]] registers). Before this round those
  * swaps existed only as scaladoc — nothing forced them to keep working.
  * Each swap point now consults the PLAN-ESTIMATED input size (Catalyst's
  * `optimizedPlan.stats.sizeInBytes` — file-size-based for parquet scans,
  * a metadata read, NO action or extra scan; the same signal AQE-style
  * decisions use) against a Spark-conf threshold, so a test can set a
  * synthetic 1-byte threshold and drive the escalated path over the real
  * fixtures while production defaults keep the exact path until the data
  * genuinely outgrows it.
  *
  * Threshold semantics per key:
  *  - [[RankEscalateBytesKey]] (default 64 GiB): above this, per-group
  *    rank windows swap to ScalableRank's bucketed two-phase form. The
  *    swap is EXACT — identical output either way (spec-pinned equality)
  *    — so flipping automatically is safe; the default is merely where
  *    the single-task-per-group window stops being plausible.
  *  - [[DistinctEscalateBytesKey]] (default never): above this, exact
  *    `countDistinct` swaps to Hll register estimates. This CHANGES the
  *    emitted values (~1.6% rsd at p=12 — spec-pinned band), so it never
  *    flips implicitly: a pipeline opts in deliberately, like choosing
  *    `approx_count_distinct`.
  */
object Escalation {

  val RankEscalateBytesKey = "graft.scale.rank.escalateBytes"
  val DistinctEscalateBytesKey = "graft.scale.distinct.escalateBytes"

  /** Above this, q151's triangle enumeration orients edges by DEGREE
    * (Suri–Vassilvitskii) instead of id — wedge volume Σmin-deg² instead
    * of Σdeg², the skew bound. EXACT either way (spec-pinned), so the
    * flip is implicit like [[RankEscalateBytesKey]]. */
  val TriangleEscalateBytesKey = "graft.scale.triangle.escalateBytes"

  /** q145/q163's entity-resolution blocking-key width in suffix digits
    * (default 3 — the fixture perturbation model's full stable suffix).
    * Output is width-invariant wherever the key stays blocking-valid
    * (spec-pinned at widths 1..3); production data widens past 3 by
    * choosing keys from ITS stable fields. */
  val FuzzyBlockWidthKey = "graft.scale.fuzzy.blockWidth"

  /** 64 GiB: past this a single group's sort no longer belongs in one
    * window task. Deliberately conservative — ScalableRank is exact, so
    * a premature flip costs only an extra bounded shuffle. */
  val RankDefaultBytes: Long = 64L << 30

  /** 64 GiB: past this the degree agg + two edge joins the degree
    * orientation costs are cheap insurance against wedge skew. Exact
    * either way, so conservative is safe here too. */
  val TriangleDefaultBytes: Long = 64L << 30

  /** Plan-estimated size of `df` in bytes — metadata only, no action. */
  def planBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** True when `df`'s estimated size crosses the conf'd threshold for
    * `key` (falling back to `defaultBytes`). A negative or zero
    * threshold escalates everything — the spec's synthetic-threshold
    * lever.
    */
  def escalate(df: DataFrame, key: String, defaultBytes: Long): Boolean = {
    val threshold = df.sparkSession.conf.getOption(key).map { v =>
      try v.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"spark conf $key must be a byte count (long), got '$v'")
      }
    }.getOrElse(defaultBytes)
    planBytes(df) >= BigInt(threshold)
  }

  def escalateRank(df: DataFrame): Boolean =
    escalate(df, RankEscalateBytesKey, RankDefaultBytes)

  def escalateDistinct(df: DataFrame): Boolean =
    escalate(df, DistinctEscalateBytesKey, Long.MaxValue)

  def escalateTriangles(df: DataFrame): Boolean =
    escalate(df, TriangleEscalateBytesKey, TriangleDefaultBytes)

  /** A validated numeric knob from Spark conf — the same named-key
    * failure discipline as [[escalate]]'s threshold parse: a malformed
    * value fails with the conf key in the message, never a bare
    * NumberFormatException from inside a query plan. */
  def confDouble(spark: SparkSession, key: String, default: Double): Double =
    spark.conf.getOption(key).map { v =>
      try v.trim.toDouble
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"spark conf $key must be numeric, got '$v'")
      }
    }.getOrElse(default)

  def confInt(spark: SparkSession, key: String, default: Int): Int =
    spark.conf.getOption(key).map { v =>
      try v.trim.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"spark conf $key must be an integer, got '$v'")
      }
    }.getOrElse(default)

  /** Compute-dense-stage guard (round 10, BASELINE §4.0c): a projection
    * or broadcast-join probe that costs ≫ its scan executes in the
    * SCAN's stage, so when the input fits in fewer splits than cores
    * (small fixture files, one parquet row group) the whole stage runs
    * near-single-task — q91's scoring ran on 1 of 32 cores at sf1, and
    * q145's levenshtein probe behind a broadcast join likewise. Spread
    * the input across the cores ONLY in that regime: on a real corpus
    * (splits ≫ cores) this is the identity and adds NO exchange at
    * scale. Output-safe wherever downstream is keyed (windows, aggs,
    * final total orders) — round-robin placement never reaches a keyed
    * result; callers assert that property in their own scaladoc.
    */
  def spreadIfNarrow(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // Splits estimated from plan bytes / maxPartitionBytes — the same
    // formula the file-split planner applies — instead of probing
    // `df.rdd.getNumPartitions` (round 13): the RDD probe physically
    // plans the frame, and when the input contains a lazily-registered
    // Dataset cache that registers the cache's buffer RDD before the
    // caller's first action (observed: CurationPipeline's lazy path
    // acquired a resident-cache entry at plan time, breaking its
    // release() accounting), besides paying a full physical planning
    // pass per call. Every call site feeds a scan-derived frame, where
    // plan bytes ARE the file bytes the splitter reads; a huge-default
    // stat (checkpoint leaves) simply never spreads, which is the
    // at-scale identity this guard promises anyway.
    val maxSplit = math.max(1L,
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val estSplits = (planBytes(df) / maxSplit).toLong + 1L
    if (estSplits * 2 < cores) df.repartition(cores) else df
  }

  /** Driver-count-gated broadcast hint for iterative loops (round 12).
    *
    * Every loop frame here is a checkpoint (`LogicalRDD`), whose
    * size-in-bytes stat is the catch-all default — Catalyst therefore
    * NEVER plans a broadcast join inside a loop, and even AQE's runtime
    * SMJ→BHJ conversion still pays the exchange it converted (the shuffle
    * is materialized before stats exist). The loops, however, KNOW their
    * frame sizes — [[Checkpoints.Rounds.counted]] returns the row count
    * with the materialization — so the strategy choice the optimizer can't
    * make from stats is made here from exact runtime counts: hint
    * broadcast while the side fits, fall back to the unhinted (shuffle)
    * plan the moment it doesn't. Scale-adaptive by construction — a
    * 100 TB corpus's frontiers exceed the cap and take the exchange path;
    * the cap itself is a conf knob, not a constant tuned to the fixture.
    *
    * The cap is a BYTE budget, expressed as rows × bytesPerRow: the
    * default 1M-row cap assumes the ≤48 B/row unsafe layout of the
    * 2-4-long frames every current loop passes, i.e. ≤48 MB broadcast —
    * inside the 64 MiB autoBroadcastJoinThreshold [[graft.GraftSession]]
    * already endorses for dimension tables. A call site with wide rows
    * (arrays/strings) MUST pass its own `bytesPerRow` estimate so the
    * row cap scales down instead of silently OOMing the driver
    * (r12 ADVICE).
    *
    * `rows < 0` means "unknown" and never broadcasts.
    */
  val BroadcastMaxRowsKey = "graft.broadcast.maxRows"

  def bcastIfSmall(df: DataFrame, rows: Long, bytesPerRow: Int = 48): DataFrame = {
    require(bytesPerRow > 0, s"bytesPerRow must be positive: $bytesPerRow")
    val capRows = confInt(df.sparkSession, BroadcastMaxRowsKey, 1000000)
    val capBytes = capRows.toLong * 48L
    if (rows >= 0 && rows * bytesPerRow.toLong <= capBytes)
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }
}
