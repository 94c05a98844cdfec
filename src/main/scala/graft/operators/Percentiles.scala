package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.internal._

/** Distributed exact percentiles (NumPy/pandas linear interpolation —
  * the reference's quantile semantics, pd_utils/port.py:263-268 /
  * transform.py:221-232).
  *
  * Spark's builtin exact `percentile` aggregate buffers the whole
  * value multiset of each group as a boxed `OpenHashMap[AnyRef, Long]`
  * inside ONE aggregation buffer — measured 12-18 s and multi-GB GC
  * churn on a 6M-row column at sf1, and a guaranteed OOM cliff once a
  * single group's distinct values outgrow one task's heap. This
  * operator computes the same cut values (bit-identical: the
  * interpolation expression mirrors the builtin's scalar arithmetic
  * term for term) as a distributed plan instead:
  *
  *  1. count per (byvars, value) — one map-side-combined hash-agg
  *     shuffle; everything after runs on DISTINCT values only;
  *  2. range-repartition the counts on (byvars, value) so each
  *     partition holds a contiguous slice of each group's value
  *     order; per-partition cumulative counts are a partitioned
  *     window (parallel, spillable);
  *  3. per-(partition, group) subtotals — a tiny
  *     (numPartitions x |groups|)-row frame — prefix-sum into
  *     partition offsets and broadcast back: every distinct value now
  *     knows the exact global rank range [start, end) it covers, and
  *     the group's non-null total N, with no single-task funnel over
  *     data-sized input (the packSequences/shuffleRank recipe,
  *     [[graft.pipeline.Sampling]]);
  *  4. the rows covering floor/ceil of each target position
  *     p*(N-1) — at most 2|ps| per group — are filtered out and
  *     one tiny agg interpolates the cuts.
  *
  * Partition boundaries chosen by repartitionByRange's sampling do
  * not affect the result — ranks are exact under ANY contiguous
  * split — so the output is deterministic even though the sampling
  * is not.
  *
  * NULL and NaN values are excluded from ranks (callers pre-clean
  * infinities per their own contract). A group with zero clean values
  * produces no output row with `byvars` (join back as left -> null
  * cuts, like the builtin's null), and a single all-null row without
  * `byvars` (global aggregates always emit one row).
  */
object Percentiles {

  /** One row per byvars combo: byvars ++ [cutsCol: array<double>]
    * with `cutsCol(i)` = the ps(i) exact percentile of `value`.
    * With empty `byvars`, exactly one row (join back via
    * `crossJoin(broadcast(...))`).
    */
  def cuts(
      df: DataFrame,
      value: Column,
      byvars: Seq[String],
      ps: Seq[Double],
      cutsCol: String = "__cuts__"
  ): DataFrame = {
    val (out, release) = cutsWithCleanup(df, value, byvars, ps, cutsCol)
    graft.Cleanup.defer(release)
    out
  }

  /** [[cuts]] plus a cleanup thunk for the internal ranked-counts
    * persist: the counts/range-shuffle stage feeds BOTH the offsets
    * broadcast and the rank refine, and without the (lazy) persist
    * the whole scan + count-aggregation pipeline computes once per
    * side (measured 3 source scans at sf1). The cleanup follows the
    * minhashCandidatesWithCleanup convention (Dedup.scala): call it
    * after the consuming action.
    */
  def cutsWithCleanup(
      df: DataFrame,
      value: Column,
      byvars: Seq[String],
      ps: Seq[Double],
      cutsCol: String = "__cuts__",
      routeDistributed: Option[Boolean] = None
  ): (DataFrame, () => Unit) = {
    require(ps.nonEmpty, "ps must be non-empty")
    require(ps.forall(p => p >= 0 && p <= 1), s"percentiles must be in [0,1], got $ps")
    val keys = byvars.map(col)
    val spark = df.sparkSession
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt

    val vals = df
      .select((keys :+ value.cast("double").as("__v__")): _*)
      .where(col("__v__").isNotNull && !isnan(col("__v__")))

    // Size-adaptive: below the threshold the builtin aggregate's
    // whole-multiset buffer is harmless and its single pass beats the
    // multi-stage distributed plan's fixed overhead (~1 s of extra
    // stages); above it the buffer is the 12-18 s / OOM problem this
    // operator exists to remove. Both paths produce BIT-IDENTICAL
    // cuts (PercentilesSpec), so the switch can never change results
    // — it is purely a physical-plan choice, like AQE picking a join
    // strategy. Catalyst's sizeInBytes estimate is available at
    // composition time (no job). [[distributedPath]] holds the rule
    // and its conf, forceable for tests and unusual deployments.
    // `routeDistributed` (r20 opt): as in [[boundsMulti]] — a caller
    // whose input is a 1:1 derivation of a frame it already routed
    // (ZOrder's file-bucket cuts over the zvalue projection, whose
    // crossJoin-inflated ESTIMATE would always read as huge) passes
    // the base frame's routing so the physical path tracks the real
    // data size. Both paths are bit-identical (PercentilesSpec).
    if (!routeDistributed.getOrElse(distributedPath(df))) {
      val agg = exactPercentiles(col("__v__"), ps).as(cutsCol)
      val out =
        (if (byvars.isEmpty) vals.agg(agg) else vals.groupBy(keys: _*).agg(agg))
          // the cuts frame is 1 row per group but referenced from
          // several plan sites (winsorize's bottom pass embeds the top
          // pass; the clamp joins read it again) — the lazy persist
          // makes the aggregation compute once per action, not once
          // per reference
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      return (out, () => { out.unpersist(); () })
    }
    val cnt = vals.groupBy((keys :+ col("__v__")): _*).agg(count(lit(1)).as("__c__"))
    val parts = cnt
      .repartitionByRange(nParts, (keys :+ col("__v__")).map(_.asc): _*)
      .withColumn("__pid__", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // (numPartitions x |groups|)-row offsets frame. The windows below
    // run over THIS tiny frame only (contract: one row per partition
    // per group); with empty byvars they are unpartitioned by
    // construction — a known, guarded global-window site (PlanSpec
    // census).
    val wOff = Window
      .partitionBy(keys: _*)
      .orderBy(col("__pid__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(keys: _*)
    val offs = parts
      .groupBy((col("__pid__") +: keys): _*)
      .agg(sum(col("__c__")).as("__pc__"))
      .withColumn("__off__", sum(col("__pc__")).over(wOff) - col("__pc__"))
      .withColumn("__n__", sum(col("__pc__")).over(wTot))
      .select((col("__pid__") +: keys) :+ col("__off__") :+ col("__n__"): _*)

    val wIn = Window
      .partitionBy((col("__pid__") +: keys): _*)
      .orderBy(col("__v__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = nullSafeBroadcastJoin(
      parts.withColumn("__cum__", sum(col("__c__")).over(wIn)),
      offs, Seq("__pid__"), byvars)
      // this value occupies global ranks [__start__, __end__)
      .withColumn("__end__", col("__off__") + col("__cum__"))
      .withColumn("__start__", col("__end__") - col("__c__"))

    // builtin Percentile parity: position = p * (N - 1), computed and
    // interpolated with the same arithmetic shape so results are
    // IEEE-identical (PercentilesSpec pins bitwise equality).
    def pos(i: Int): Column = lit(ps(i)) * (col("__n__") - lit(1L)).cast("double")
    def covers(rank: Column): Column = col("__start__") <= rank && rank < col("__end__")

    val needed = ps.indices
      .flatMap(i => Seq(covers(floor(pos(i))), covers(ceil(pos(i)))))
      .reduce(_ || _)
    val aggExprs = ps.indices.flatMap { i =>
      Seq(
        max(when(covers(floor(pos(i))), col("__v__"))).as(s"__lo${i}__"),
        max(when(covers(ceil(pos(i))), col("__v__"))).as(s"__hi${i}__"))
    } :+ max(col("__n__")).as("__nn__")
    val cands = ranked.where(needed)
    val agged =
      if (byvars.isEmpty) cands.agg(aggExprs.head, aggExprs.tail: _*)
      else cands.groupBy(keys: _*).agg(aggExprs.head, aggExprs.tail: _*)

    val cutExprs = ps.indices.map { i =>
      val p = lit(ps(i)) * (col("__nn__") - lit(1L)).cast("double")
      val lo = floor(p).cast("double")
      val hi = ceil(p).cast("double")
      when(col(s"__lo${i}__").isNull, lit(null).cast("double"))
        .when(lo === hi, col(s"__lo${i}__"))
        // builtin parity: equal boundary keys skip interpolation (the
        // ulp-lossy (1-f)*v + f*v round-trip must NOT happen)
        .when(col(s"__lo${i}__") === col(s"__hi${i}__"), col(s"__lo${i}__"))
        .otherwise((hi - p) * col(s"__lo${i}__") + (p - lo) * col(s"__hi${i}__"))
    }
    // the cuts frame is tiny (one row per group) but may be read from
    // several plan sites — cache it so the rank pipeline runs once
    // per action
    val out = agged.select((keys :+ array(cutExprs: _*).as(cutsCol)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (out, () => { out.unpersist(); parts.unpersist(); () })
  }

  /** [[cutsWithCleanup]] for SEVERAL value columns over the same frame
    * (r20 opt — the ZOrder shape: every clustered column needs its
    * full cuts array at the same `ps`). One physical pass serves all
    * columns: the builtin route aggregates N `percentile` expressions
    * in a single scan; the distributed route stacks the columns
    * through the one shared rank pipeline ([[stackedComponents]],
    * the winsorBounds shape) and assembles each column's array with
    * [[interpolate]] — the same arithmetic as [[cutsWithCleanup]], so
    * cuts are bit-identical to N separate calls. Returns ONE wide
    * frame carrying byvars plus every cuts array (callers broadcast
    * it back once instead of once per column).
    */
  def cutsMultiWithCleanup(
      df: DataFrame,
      values: Seq[(String, Column)],
      byvars: Seq[String],
      ps: Seq[Double],
      routeDistributed: Option[Boolean] = None
  ): (DataFrame, () => Unit) = {
    require(values.nonEmpty, "values must be non-empty")
    require(ps.nonEmpty, "ps must be non-empty")
    require(ps.forall(p => p >= 0 && p <= 1), s"percentiles must be in [0,1], got $ps")
    val keys = byvars.map(col)
    if (!routeDistributed.getOrElse(distributedPath(df))) {
      // one pass, N percentile expressions; NaN pre-nulled per column
      // exactly like the single-column path's vals filter
      val aggs = values.map { case (out, v) =>
        val clean = when(isnan(v.cast("double")), lit(null)).otherwise(v.cast("double"))
        exactPercentiles(clean, ps).as(out)
      }
      val out =
        (if (byvars.isEmpty) df.agg(aggs.head, aggs.tail: _*)
         else df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (out, () => { out.unpersist(); () })
    } else {
      val (wide, cleanup) =
        stackedComponents(df, values.map(v => (v._2.cast("double"), ps)), byvars)
      val out = wide.select(byvars.map(col) ++ values.zipWithIndex.map {
        case ((outCol, _), i) =>
          array(ps.indices.map(j => interpolate(i, j, ps(j))): _*).as(outCol)
      }: _*).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (out, () => { out.unpersist(); cleanup() })
    }
  }

  /** [[cuts]] for a single percentile, unwrapped to a scalar column
    * `outCol` (the winsorize bound shape).
    */
  def cut(
      df: DataFrame,
      value: Column,
      byvars: Seq[String],
      p: Double,
      outCol: String
  ): DataFrame = {
    val (out, release) = cutWithCleanup(df, value, byvars, p, outCol)
    graft.Cleanup.defer(release)
    out
  }

  /** [[cut]] with the [[cutsWithCleanup]] release handle. */
  def cutWithCleanup(
      df: DataFrame,
      value: Column,
      byvars: Seq[String],
      p: Double,
      outCol: String
  ): (DataFrame, () => Unit) = {
    val (c, cleanup) = cutsWithCleanup(df, value, byvars, Seq(p), "__cuts1__")
    (c.select((byvars.map(col) :+ element_at(col("__cuts1__"), 1).as(outCol)): _*),
      cleanup)
  }

  /** Several scalar bounds over the SAME frame in as few jobs as the
    * physical path allows: on the builtin (small-input) path every
    * requested (outCol, value, p) is one expression of a SINGLE
    * aggregation pass — N bounds cost one scan, not N (the winsorize
    * shape: one bound per column per tail); on the distributed path
    * the bounds STACK through one shared rank pipeline
    * ([[boundsStacked]]) — still one scan, one count shuffle over
    * N× distinct values instead of N separate pipelines. Returns one
    * tiny frame carrying byvars plus every outCol, and the combined
    * release handle. Bit-identical to N separate [[cutWithCleanup]]
    * calls (PercentilesSpec pins both paths).
    */
  def boundsMulti(
      df: DataFrame,
      bounds: Seq[(String, Column, Double)],
      byvars: Seq[String],
      routeDistributed: Option[Boolean] = None
  ): (DataFrame, () => Unit) = {
    require(bounds.nonEmpty, "bounds must be non-empty")
    val keys = byvars.map(col)
    // `routeDistributed` (r20 opt): a caller computing several DEPENDENT
    // passes over the same underlying data routes them all by the BASE
    // frame's size — a later pass's input carries the earlier bounds
    // join, whose multiplied size ESTIMATE otherwise flips that pass to
    // the distributed pipeline even when the data is builtin-small
    // (q_winsorize_by at sf0.1 ran builtin hi + distributed lo). Both
    // physical paths are bit-identical by contract (PercentilesSpec),
    // so routing never changes results.
    if (!routeDistributed.getOrElse(distributedPath(df))) {
      // one pass: clean per-column inside the aggregate (percentile
      // ignores nulls; NaN pre-nulled to match the distributed path)
      val aggs = bounds.map { case (out, v, p) =>
        val clean = when(isnan(v.cast("double")), lit(null)).otherwise(v.cast("double"))
        exactPercentile(clean, p).as(out)
      }
      val out =
        (if (byvars.isEmpty) df.agg(aggs.head, aggs.tail: _*)
         else df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (out, () => { out.unpersist(); () })
    } else boundsStacked(df, bounds, byvars)
  }

  /** Distributed multi-bound pipeline: posexplode stacks every
    * requested (value, p) into one long frame and ONE
    * count/rank/interpolate pipeline — the [[cutsWithCleanup]] plan
    * with the bound index joined into the grouping keys — computes
    * all cuts, pivoted back to one wide row per byvars combo. N
    * bounds over the same frame cost one scan and one rank pipeline
    * instead of N; for a bound over a derived frame (a join, a
    * projection) that also collapses N re-scans into one.
    * Interpolation arithmetic is term-for-term the
    * [[cutsWithCleanup]] expression, so cuts stay bit-identical to
    * the builtin aggregate. A group whose bound has no clean values
    * pivots to a null cut (the per-bound full-join absence); with
    * empty byvars the global aggregate emits its always-one row,
    * nulls included.
    */
  private def boundsStacked(
      df: DataFrame,
      bounds: Seq[(String, Column, Double)],
      byvars: Seq[String]
  ): (DataFrame, () => Unit) = {
    val (wide, cleanup) =
      stackedComponents(df, bounds.map(b => (b._2, Seq(b._3))), byvars)
    val out = wide.select(byvars.map(col) ++ bounds.zipWithIndex.map {
      case ((outCol, _, p), i) => interpolate(i, 0, p).as(outCol)
    }: _*).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (out, () => { out.unpersist(); cleanup() })
  }

  /** Winsorize bounds for BOTH tails of every column from ONE stacked
    * rank pipeline. The reference computes the bottom quantile over
    * the top-CLAMPED values (pd_utils/transform.py:221-232) — a
    * second, dependent pass. But clamping is a monotone pointwise
    * map, and rank selection commutes with monotone maps: the value
    * at rank r of the clamped multiset IS clamp(value at rank r of
    * the raw multiset), and the multiset size is unchanged. So the
    * bottom cut on clamped data = interpolation over the CLAMPED
    * floor/ceil rank values of the raw data — computable from the
    * same single pipeline that yields the top cut, clamping applied
    * to two scalars per group in the tiny bounds frame instead of to
    * the whole data pass. Halves the pipelines AND removes the
    * sequential dependency between tails. Bit-identical to the
    * two-pass form: same rank positions (same N — null/NaN excluded
    * in both passes, like pandas' quantile over a clamped column
    * where NaN survives clamping), same clamped doubles, same
    * interpolation arithmetic.
    *
    * Output: one row per byvars combo with hiOut/loOut per column;
    * cleanup releases the pipeline persists.
    */
  def winsorBounds(
      df: DataFrame,
      cols: Seq[(String, String, Column)],
      byvars: Seq[String],
      topPct: Double,
      botPct: Double
  ): (DataFrame, () => Unit) = {
    require(cols.nonEmpty, "cols must be non-empty")
    // ONE stacked entry per column carrying BOTH target positions:
    // the tails share the column's value distribution and N, so one
    // count/rank pass serves both — half the stacked volume of the
    // per-(column, p) form (r12; was 2 entries per column)
    val entries = cols.map { case (_, _, v) => (v, Seq(topPct, botPct)) }
    val (wide, cleanup) = stackedComponents(df, entries, byvars)
    val outCols = cols.zipWithIndex.flatMap { case ((hiOut, loOut, _), ci) =>
      val hiCut = interpolate(ci, 0, topPct)
      // clamp the bottom bound's floor/ceil rank values exactly like
      // the data pass clamps rows: v > hi -> hi (null propagates —
      // an empty bound stays null)
      def clamped(v: Column): Column = when(v > hiCut, hiCut).otherwise(v)
      val loCut = interpolate(ci, 1, botPct, clamped)
      Seq(hiCut.as(hiOut), loCut.as(loOut))
    }
    val out = wide.select(byvars.map(col) ++ outCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (out, () => { out.unpersist(); cleanup() })
  }

  /** The builtin `percentile` aggregate's exact semantics as the
    * native primitive-buffer kernel
    * ([[graft.plans.ExactPercentiles]], r20 opt): the builtin boxes
    * every double into an OpenHashMap and re-sorts boxed key-count
    * pairs at the single-threaded final merge, which dominated the
    * small-input winsorize/portfolio passes. Bit-identical by
    * construction (same sort order, same position arithmetic, same
    * bitwise key-equality interpolation skip — pinned against the
    * builtin in PercentilesSpec); only the builtin small-input route
    * uses it, so buffer size is bounded by the documented threshold.
    */
  private def exactPercentiles(value: Column, ps: Seq[Double]): Column =
    graft.internal.exprColumn(graft.plans.ExactPercentiles(
      graft.internal.columnExpr(value.cast("double")), ps, scalarOut = false)
      .toAggregateExpression())

  /** Single-percentile scalar form of [[exactPercentiles]]. */
  private def exactPercentile(value: Column, p: Double): Column =
    graft.internal.exprColumn(graft.plans.ExactPercentiles(
      graft.internal.columnExpr(value.cast("double")), Seq(p), scalarOut = true)
      .toAggregateExpression())

  /** Approximate quantiles as ONE mergeable aggregation — the scale
    * escape hatch for where even the distributed exact plan is too
    * heavy (its count shuffle carries every DISTINCT value; a
    * trillion-distinct-value column at 100 TB still moves trillions
    * of rows). This is a native DDSketch aggregate
    * ([[graft.plans.DDSketchQuantiles]]): per-group state is a
    * log-γ bucket-count map (bounded by the double range — a few
    * thousand entries at alpha=0.01, CONSTANT in the data), partial
    * aggregation combines map-side like a sum, and every returned
    * quantile is within relative error `alpha` of the exact rank
    * element. Deterministic: bucket counts are exact, so the result
    * is identical under any partitioning (unlike KLL/t-digest).
    *
    * NOT used by the parity operators (winsorize/portfolio pin exact
    * NumPy-interpolation semantics against the oracle); offered for
    * pipelines that trade α error for one cheap pass.
    */
  def approxQuantiles(value: Column, ps: Seq[Double], alpha: Double = 0.01): Column =
    graft.internal.exprColumn(
      graft.plans.DDSketchQuantiles(graft.internal.columnExpr(value.cast("double")), ps, alpha)
        .toAggregateExpression())

  /** [[cuts]]-shaped frame from [[approxQuantiles]]: one row per
    * byvars combo with `cutsCol(i)` ≈ the ps(i) quantile.
    */
  def approxCuts(
      df: DataFrame,
      value: Column,
      byvars: Seq[String],
      ps: Seq[Double],
      alpha: Double = 0.01,
      cutsCol: String = "__cuts__"
  ): DataFrame = {
    val agg = approxQuantiles(value, ps, alpha).as(cutsCol)
    if (byvars.isEmpty) df.agg(agg) else df.groupBy(byvars.map(col): _*).agg(agg)
  }

  /** Whether [[boundsMulti]]/[[winsorBounds]] route `df` to the
    * distributed rank pipeline (vs the builtin small-input
    * aggregate) — callers that fuse differently per path ask first.
    */
  def distributedPath(df: DataFrame): Boolean = {
    val threshold = df.sparkSession.conf
      .get("graft.percentiles.distributedThresholdBytes", (16L << 20).toString).toLong
    df.queryExecution.optimizedPlan.stats.sizeInBytes >= threshold
  }

  /** Broadcast the offsets frame back onto the ranked counts with
    * NULL-SAFE equality on the grouping keys (`<=>`; plain `=` for
    * `exact` cols, which are engine-generated and never null). A
    * USING join here would drop every NULL-keyed group — the builtin
    * small-input path's `groupBy` emits them, and the documented
    * invariant is that the physical-path switch can never change
    * results, so NULL groups must survive both paths identically.
    * Right-side keys are renamed before the join and dropped after,
    * keeping the output schema of the old USING form.
    */
  private def nullSafeBroadcastJoin(
      left: DataFrame,
      right: DataFrame,
      exact: Seq[String],
      nullSafe: Seq[String]
  ): DataFrame = {
    val renamed = (exact ++ nullSafe)
      .foldLeft(right)((d, c) => d.withColumnRenamed(c, s"__r_${c}__"))
    val cond = (exact.map(c => left(c) === renamed(s"__r_${c}__")) ++
      nullSafe.map(c => left(c) <=> renamed(s"__r_${c}__"))).reduce(_ && _)
    left.join(broadcast(renamed), cond)
      .drop((exact ++ nullSafe).map(c => s"__r_${c}__"): _*)
  }

  /** The builtin-parity interpolation over entry `i`'s `j`-th target
    * position (pivoted components `__loI_J__`/`__hiI_J__`/`__nI__`),
    * with an optional monotone transform applied to the rank values
    * first ([[winsorBounds]]' clamp).
    */
  private def interpolate(
      i: Int, j: Int, p: Double, f: Column => Column = identity): Column = {
    val loV = f(col(s"__lo${i}_${j}__"))
    val hiV = f(col(s"__hi${i}_${j}__"))
    val pp = lit(p) * (col(s"__n${i}__") - lit(1L)).cast("double")
    val lo = floor(pp).cast("double")
    val hi = ceil(pp).cast("double")
    when(loV.isNull, lit(null).cast("double"))
      .when(lo === hi, loV)
      // builtin parity: equal boundary keys skip interpolation (the
      // ulp-lossy (1-f)*v + f*v round-trip must NOT happen)
      .when(loV === hiV, loV)
      .otherwise((hi - pp) * loV + (pp - lo) * hiV)
  }

  /** The shared stacked rank pipeline: one wide row per byvars combo
    * carrying, for every stacked entry i (a value column with K
    * target percentiles — K identical across entries) and each of
    * its positions j, the raw floor/ceil rank values and the entry's
    * group count (`__loI_J__`, `__hiI_J__`, `__nI__`) —
    * [[interpolate]] finishes them into cuts. One scan, one count
    * shuffle over the stacked distinct values, windows partitioned
    * by (byvars, entry index) — never fully global even with empty
    * byvars. Multiple percentiles of the SAME entry share its single
    * count/rank pass (the winsorBounds both-tails shape): the rank
    * ranges are computed once and each position only adds a
    * covers-filter term and two agg expressions.
    */
  private def stackedComponents(
      df: DataFrame,
      entries: Seq[(Column, Seq[Double])],
      byvars: Seq[String]
  ): (DataFrame, () => Unit) = {
    val k = entries.head._2.length
    require(k >= 1 && entries.forall(_._2.length == k),
      "every stacked entry must carry the same number of target percentiles")
    val keys = byvars.map(col)
    val spark = df.sparkSession
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // one literal ps-array per position index j, looked up by entry
    val psArrs = (0 until k).map(j => lit(entries.map(_._2(j)).toArray))
    val stacked = df
      .select(keys :+ posexplode(array(entries.map(_._1.cast("double")): _*))
        .as(Seq("__b__", "__v__")): _*)
      .where(col("__v__").isNotNull && !isnan(col("__v__")))
    val gk = keys :+ col("__b__")
    val cnt = stacked.groupBy((gk :+ col("__v__")): _*).agg(count(lit(1)).as("__c__"))
    val parts = cnt
      .repartitionByRange(nParts, (gk :+ col("__v__")).map(_.asc): _*)
      .withColumn("__pid__", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-(partition, group, entry) offsets — tiny frame, broadcast
    // back (the cutsWithCleanup prefix-sum recipe)
    val wOff = Window
      .partitionBy(gk: _*)
      .orderBy(col("__pid__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(gk: _*)
    val offs = parts
      .groupBy((col("__pid__") +: gk): _*)
      .agg(sum(col("__c__")).as("__pc__"))
      .withColumn("__off__", sum(col("__pc__")).over(wOff) - col("__pc__"))
      .withColumn("__n__", sum(col("__pc__")).over(wTot))
      .select((col("__pid__") +: gk) :+ col("__off__") :+ col("__n__"): _*)
    val wIn = Window
      .partitionBy((col("__pid__") +: gk): _*)
      .orderBy(col("__v__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = nullSafeBroadcastJoin(
      parts.withColumn("__cum__", sum(col("__c__")).over(wIn)),
      offs, Seq("__pid__", "__b__"), byvars)
      .withColumn("__end__", col("__off__") + col("__cum__"))
      .withColumn("__start__", col("__end__") - col("__c__"))
    // builtin Percentile parity: position = p * (N - 1); p arrives
    // from the literal array by entry index — the identical double,
    // so the arithmetic matches cutsWithCleanup bit for bit
    def pos(j: Int) =
      element_at(psArrs(j), col("__b__") + 1) * (col("__n__") - lit(1L)).cast("double")
    def covers(rank: Column): Column = col("__start__") <= rank && rank < col("__end__")
    val needed = (0 until k)
      .flatMap(j => Seq(covers(floor(pos(j))), covers(ceil(pos(j)))))
      .reduce(_ || _)
    val posAggs = (0 until k).flatMap { j =>
      Seq(
        max(when(covers(floor(pos(j))), col("__v__"))).as(s"__lo_${j}__"),
        max(when(covers(ceil(pos(j))), col("__v__"))).as(s"__hi_${j}__"))
    } :+ max(col("__n__")).as("__nn__")
    val agged = ranked
      .where(needed)
      .groupBy(gk: _*)
      .agg(posAggs.head, posAggs.tail: _*)
    val pivots = entries.indices.flatMap { i =>
      (0 until k).flatMap { j =>
        Seq(
          max(when(col("__b__") === i, col(s"__lo_${j}__"))).as(s"__lo${i}_${j}__"),
          max(when(col("__b__") === i, col(s"__hi_${j}__"))).as(s"__hi${i}_${j}__"))
      } :+ max(when(col("__b__") === i, col("__nn__"))).as(s"__n${i}__")
    }
    val wide =
      if (byvars.isEmpty) agged.agg(pivots.head, pivots.tail: _*)
      else agged.groupBy(keys: _*).agg(pivots.head, pivots.tail: _*)
    (wide, () => { parts.unpersist(); () })
  }
}
