package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.internal._

/** Exact percentiles (NumPy/pandas linear interpolation — the
  * reference's quantile semantics, pd_utils/port.py:263-268 /
  * transform.py:221-232; type 7 of Hyndman & Fan 1996), on one of two
  * routes chosen by input size ([[distributedPath]]). Every entry
  * point ([[cutsWithCleanup]], [[cutsMultiWithCleanup]],
  * [[boundsMulti]], [[winsorBounds]]) runs the same pipeline per
  * route, and both routes give BIT-IDENTICAL cuts (PercentilesSpec).
  *
  * Builtin route (small inputs): one [[graft.plans.ExactPercentiles]]
  * array aggregate per value column in a single aggregation pass. Like
  * Spark's builtin exact `percentile`, it buffers the whole value
  * multiset of each group in ONE aggregation buffer, which is harmless
  * below the threshold and an OOM cliff above it (the builtin measured
  * 12-18 s and multi-GB GC churn on a 6M-row column at sf1).
  *
  * Distributed route (the rank pipeline, [[stackedComponents]]):
  *
  *  1. every value column is stacked into one long frame keyed by its
  *     entry index `__b__`, and counted per (byvars, entry, value) —
  *     one map-side-combined hash-agg shuffle; everything after runs
  *     on DISTINCT values only;
  *  2. range-repartition the counts on (byvars, entry, value) so each
  *     partition holds a contiguous slice of each group's value
  *     order; per-partition cumulative counts are a partitioned
  *     window (parallel, spillable);
  *  3. per-(partition, group, entry) subtotals — a tiny
  *     (numPartitions x |groups| x |entries|)-row frame — prefix-sum
  *     into partition offsets (windows partitioned by byvars and the
  *     entry index, never global) and broadcast back: every distinct
  *     value now knows the exact global rank range [start, end) it
  *     covers, and its group's non-null total N, with no single-task
  *     funnel over data-sized input (the packSequences/shuffleRank
  *     recipe, [[graft.pipeline.Sampling]]);
  *  4. the rows covering floor/ceil of each target position
  *     p*(N-1) — at most 2|ps| per group and entry — are filtered
  *     out, and ONE aggregation by byvars picks each (entry,
  *     position)'s rank values; [[interpolate]] finishes the cuts.
  *
  * Partition boundaries chosen by the range repartition's sampling do
  * not affect the result — ranks are exact under ANY contiguous
  * split — so the output is deterministic even though the sampling
  * is not.
  *
  * NULL and NaN values are excluded from ranks (callers pre-clean
  * infinities per their own contract). On both routes, a group with
  * no clean value in any value column produces no output row with
  * `byvars` (join back as left -> null cuts), and without `byvars`
  * the single global row carries a NULL cuts array (NULL scalar
  * bound) for a column with no clean value.
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

  /** [[cuts]] plus a release handle for the pipeline's persists (the
    * cuts frame, and on the distributed route the ranked counts,
    * which feed both the offsets broadcast and the rank refine). The
    * cleanup follows the minhashCandidatesWithCleanup convention
    * (Dedup.scala): call it after the consuming action.
    *
    * `routeDistributed` overrides the size rule for a caller whose
    * input is a 1:1 derivation of a frame it already routed (ZOrder's
    * file-bucket cuts over the zvalue projection, whose
    * crossJoin-inflated ESTIMATE would always read as huge): it
    * passes the base frame's routing so the physical route tracks the
    * real data size. Routes are bit-identical, so this changes plans,
    * never values.
    */
  def cutsWithCleanup(
      df: DataFrame,
      value: Column,
      byvars: Seq[String],
      ps: Seq[Double],
      cutsCol: String = "__cuts__",
      routeDistributed: Option[Boolean] = None
  ): (DataFrame, () => Unit) =
    cutsMultiWithCleanup(df, Seq(cutsCol -> value), byvars, ps, routeDistributed)

  /** [[cutsWithCleanup]] for SEVERAL value columns over the same frame
    * (the ZOrder shape: every clustered column needs its full cuts
    * array at the same `ps`). One pass serves all columns on either
    * route; cuts are bit-identical to N separate calls. Returns ONE
    * wide frame carrying byvars plus every cuts array (callers
    * broadcast it back once instead of once per column).
    */
  def cutsMultiWithCleanup(
      df: DataFrame,
      values: Seq[(String, Column)],
      byvars: Seq[String],
      ps: Seq[Double],
      routeDistributed: Option[Boolean] = None
  ): (DataFrame, () => Unit) = {
    require(values.nonEmpty, "values must be non-empty")
    exactCuts(df, values.map { case (out, v) => (out, v, ps) }, byvars, routeDistributed)
  }

  /** Several scalar bounds over the SAME frame, each (outCol, value,
    * p), in one pass on either route (the winsorize shape: one bound
    * per column per tail): the [[cutsMultiWithCleanup]] pipeline with
    * one position per entry, unwrapped to scalars. Returns one tiny
    * frame carrying byvars plus every outCol, and the release handle.
    *
    * `routeDistributed`: a caller computing several DEPENDENT passes
    * over the same underlying data routes them all by the BASE
    * frame's size — a later pass's input carries the earlier bounds
    * join, whose multiplied size ESTIMATE otherwise flips that pass to
    * the distributed route even when the data is builtin-small.
    */
  def boundsMulti(
      df: DataFrame,
      bounds: Seq[(String, Column, Double)],
      byvars: Seq[String],
      routeDistributed: Option[Boolean] = None
  ): (DataFrame, () => Unit) = {
    require(bounds.nonEmpty, "bounds must be non-empty")
    val (arrs, cleanup) = exactCuts(
      df, bounds.map { case (out, v, p) => (out, v, Seq(p)) }, byvars, routeDistributed)
    (arrs.select(byvars.map(col) ++ bounds.map(b => element_at(col(b._1), 1).as(b._1)): _*),
      cleanup)
  }

  /** The one core of [[cutsMultiWithCleanup]] and [[boundsMulti]]:
    * for each entry (outCol, value, ps), an `outCol` array of the
    * value's exact ps-percentiles, on the route `routeDistributed`
    * names or [[distributedPath]] picks. The cuts frame is tiny (one
    * row per group) but read from several plan sites (winsorize's
    * bottom pass embeds the top pass; the clamp joins read it again),
    * so the lazy persist makes the pipeline run once per action.
    */
  private def exactCuts(
      df: DataFrame,
      entries: Seq[(String, Column, Seq[Double])],
      byvars: Seq[String],
      routeDistributed: Option[Boolean]
  ): (DataFrame, () => Unit) = {
    entries.foreach { case (_, _, ps) =>
      require(ps.nonEmpty, "ps must be non-empty")
      require(ps.forall(p => p >= 0 && p <= 1), s"percentiles must be in [0,1], got $ps")
    }
    val (cutsFrame, release) =
      if (!routeDistributed.getOrElse(distributedPath(df))) (builtinCuts(df, entries, byvars), () => ())
      else {
        val (wide, cleanup) = stackedComponents(df, entries.map(e => (e._2, e._3)), byvars)
        // no clean value -> no rank rows -> null count: a NULL array,
        // as the builtin aggregate's empty buffer evaluates
        (wide.select(byvars.map(col) ++ entries.zipWithIndex.map { case ((out, _, ps), i) =>
          when(col(s"__n${i}__").isNotNull,
            array(ps.indices.map(j => interpolate(i, j, ps(j))): _*)).as(out)
        }: _*), cleanup)
      }
    val out = cutsFrame.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (out, () => { out.unpersist(); release() })
  }

  /** The builtin route of [[exactCuts]]: NaN reads as null, rows where
    * every entry is null are dropped (so a group with no clean value
    * emits no row, as on the rank pipeline), then one
    * [[graft.plans.ExactPercentiles]] array aggregate per entry in a
    * single pass. The kernel is the builtin `percentile`'s exact
    * semantics over a primitive buffer (the builtin boxes every double
    * into an OpenHashMap and re-sorts boxed key-count pairs at the
    * single-threaded final merge); the buffer is bounded by the
    * routing threshold.
    */
  private def builtinCuts(
      df: DataFrame,
      entries: Seq[(String, Column, Seq[Double])],
      byvars: Seq[String]
  ): DataFrame = {
    val keys = byvars.map(col)
    val vs = entries.indices.map(i => col(s"__v${i}__"))
    val clean = df
      .select(keys ++ entries.zipWithIndex.map { case ((_, v, _), i) =>
        val d = v.cast("double")
        when(!isnan(d), d).as(s"__v${i}__")
      }: _*)
      .where(vs.map(_.isNotNull).reduce(_ || _))
    val aggs = entries.zip(vs).map { case ((out, _, ps), v) =>
      exprColumn(graft.plans.ExactPercentiles(columnExpr(v), ps).toAggregateExpression()).as(out)
    }
    if (byvars.isEmpty) clean.agg(aggs.head, aggs.tail: _*)
    else clean.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
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

  /** Whether `df` takes the distributed rank pipeline (vs the
    * builtin small-input aggregate): Catalyst's size estimate, read at
    * composition time with no job, at or above
    * `graft.percentiles.distributedThresholdBytes` (16 MiB; Verify
    * forces 0). Below it the whole-multiset buffer is harmless and the
    * single pass beats the rank pipeline's fixed cost of extra stages.
    * Callers that fuse differently per route (Winsorize) ask first.
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
    * first ([[winsorBounds]]' clamp). Null when the entry has no
    * clean value in the group (every term reads a null component).
    */
  private def interpolate(
      i: Int, j: Int, p: Double, f: Column => Column = identity): Column = {
    val loV = f(col(s"__lo${i}_${j}__"))
    val hiV = f(col(s"__hi${i}_${j}__"))
    val pp = lit(p) * (col(s"__n${i}__") - lit(1L)).cast("double")
    val lo = floor(pp).cast("double")
    val hi = ceil(pp).cast("double")
    when(lo === hi, loV)
      // builtin parity: equal boundary keys skip interpolation (the
      // ulp-lossy (1-f)*v + f*v round-trip must NOT happen)
      .when(loV === hiV, loV)
      .otherwise((hi - pp) * loV + (pp - lo) * hiV)
  }

  /** The rank pipeline, the distributed route of every entry point:
    * one wide row per byvars combo with at least one clean value,
    * carrying, for every stacked entry i (a value column with K
    * target percentiles — K identical across entries) and each of
    * its positions j, the raw floor/ceil rank values and the entry's
    * group count (`__loI_J__`, `__hiI_J__`, `__nI__`; null when the
    * entry has no clean value there) — [[interpolate]] finishes them
    * into cuts. One scan, one count shuffle over the stacked distinct
    * values, windows partitioned by (byvars, entry index) — never
    * global, even with empty byvars — and ONE candidate aggregation by
    * byvars that picks every (entry, position) component directly.
    * Multiple percentiles of the SAME entry share its single
    * count/rank pass (the winsorBounds both-tails shape): each
    * position only adds a covers-filter term and two agg expressions
    * per entry.
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
    // per-(partition, group, entry) offsets — tiny frame, broadcast back
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
    // builtin Percentile parity: position = p * (N - 1), computed with
    // the kernel's arithmetic shape so cuts are IEEE-identical; p
    // arrives from the literal array by entry index, the identical
    // double (and one expression per j across entries)
    def pos(j: Int) =
      element_at(psArrs(j), col("__b__") + 1) * (col("__n__") - lit(1L)).cast("double")
    def covers(rank: Column): Column = col("__start__") <= rank && rank < col("__end__")
    val needed = (0 until k)
      .flatMap(j => Seq(covers(floor(pos(j))), covers(ceil(pos(j)))))
      .reduce(_ || _)
    val aggs = entries.indices.flatMap { i =>
      val isEntry = col("__b__") === i
      (0 until k).flatMap { j =>
        Seq(
          max(when(isEntry && covers(floor(pos(j))), col("__v__"))).as(s"__lo${i}_${j}__"),
          max(when(isEntry && covers(ceil(pos(j))), col("__v__"))).as(s"__hi${i}_${j}__"))
      } :+ max(when(isEntry, col("__n__"))).as(s"__n${i}__")
    }
    val cands = ranked.where(needed)
    val wide =
      if (byvars.isEmpty) cands.agg(aggs.head, aggs.tail: _*)
      else cands.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    (wide, () => { parts.unpersist(); () })
  }
}
