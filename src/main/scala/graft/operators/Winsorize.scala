package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.internal._

/** Winsorization: clamp values to per-group exact-percentile bounds.
  *
  * Reference: pd_utils/transform.py:167-232. pandas `quantile` uses
  * linear interpolation — Spark's exact `percentile` matches
  * (approx_percentile would NOT; SURVEY §7.4.1). NaN/NULL values are
  * left untouched and excluded from the percentile computation.
  *
  * Ordering subtlety the goldens pin (test_winsor_40_subset_byvars,
  * expected 1.0216): `_winsorize` clamps the TOP first by MUTATING the
  * column, then computes the bottom quantile on the already-clamped
  * values (pd_utils/transform.py:221-232). So with both tails active,
  * the bottom percentile here is taken over `least(x, hi)`, not the
  * raw column — a second window/aggregation pass that depends on the
  * first. Same partitioning both passes -> still a single shuffle.
  */
object Winsorize {

  /** @param pct    (bottom, top-complement) — scalar p means clamp at
    *               [p, 1-p]; a pair (b, t) means [b, 1-t] like the
    *               reference's tuple form (pd_utils/transform.py:195-201).
    * @param subset columns to winsorize; empty = all numeric columns
    *               not in byvars.
    */
  def winsorize(
      df: DataFrame,
      pct: (Double, Double),
      subset: Seq[String] = Nil,
      byvars: Seq[String] = Nil,
      bot: Boolean = true,
      top: Boolean = true
  ): DataFrame = {
    val (out, release) = winsorizeWithCleanup(df, pct, subset, byvars, bot, top)
    graft.Cleanup.defer(release)
    out
  }

  /** [[winsorize]] plus the release handle for the per-column
    * exact-percentile persists ([[Percentiles.boundsMulti]] /
    * [[Percentiles.winsorBounds]]) —
    * call after the consuming action.
    */
  def winsorizeWithCleanup(
      df: DataFrame,
      pct: (Double, Double),
      subset: Seq[String] = Nil,
      byvars: Seq[String] = Nil,
      bot: Boolean = true,
      top: Boolean = true
  ): (DataFrame, () => Unit) = {
    require(bot || top, "must winsorize at least one tail")
    val botPct = pct._1
    val topPct = 1 - pct._2
    val cols =
      if (subset.nonEmpty) subset
      else
        df.schema.fields
          .filter(f => f.dataType.isInstanceOf[NumericType] && !byvars.contains(f.name))
          .map(_.name)
          .toSeq

    def cleanOf(c: String): Column = {
      val x = col(c).cast("double")
      when(isnan(x), lit(null)).otherwise(x)
    }
    def topClamped(c: String): Column = {
      val x = cleanOf(c)
      // null/NaN rows stay EXCLUDED from the bottom percentile (a
      // bare least() would resurrect them as `hi` — pandas' clamped
      // NaN stays NaN, pd_utils/transform.py:221-232)
      if (top) when(x.isNull, lit(null)).otherwise(least(x, col(s"__hi_$c"))) else x
    }
    def applyClamp(d: DataFrame, c: String): DataFrame = {
      val x = col(c).cast("double")
      val clampTop = if (top) when(x > col(s"__hi_$c"), col(s"__hi_$c")).otherwise(x) else x
      val clampBoth = if (bot) when(clampTop < col(s"__lo_$c"), col(s"__lo_$c")).otherwise(clampTop) else clampTop
      d.withColumn(c, when(x.isNull || isnan(x), x).otherwise(clampBoth))
    }
    val tmpCols = cols.flatMap(c => Seq(s"__hi_$c", s"__lo_$c")).toSeq

    // Bounds come from the exact-percentile plans in
    // operators/Percentiles (bit-equal to the builtin aggregate
    // without its whole-multiset aggregation buffer), one tiny wide
    // bounds frame per pass, broadcast back. Per-group joins are
    // NULL-SAFE so rows with null byvars clamp within the null
    // group, exactly like the former percentile-over-window form.
    val cleanups = scala.collection.mutable.ListBuffer.empty[() => Unit]
    def attachFrame(d: DataFrame, mk: => (DataFrame, () => Unit)): DataFrame = {
      val (bounds, cleanup) = mk
      cleanups += cleanup
      val b = broadcast(bounds)
      if (byvars.isEmpty) d.crossJoin(b)
      else byvars.foldLeft(
        d.join(b, byvars.map(k => d(k) <=> b(k)).reduce(_ && _), "left"))(
        (j, k) => j.drop(b(k)))
    }
    // With both tails on the distributed path, BOTH bound sets come
    // from one fused rank pipeline ([[Percentiles.winsorBounds]]:
    // rank selection commutes with the monotone top clamp), joined
    // back once. Otherwise the literal two-pass form — on the builtin
    // path the second pass's aggregate needs the first pass's `hi`
    // joined into its input anyway, and a single tail is a single
    // pass by construction.
    // The physical route is decided ONCE, on the base frame, and
    // applied to every pass (r20 opt): the literal two-pass form's
    // second pass reads the first pass's broadcast join, whose
    // MULTIPLIED size estimate routed it to the distributed rank
    // pipeline even when the base data was builtin-small — at sf0.1
    // q_winsorize_by paid a full stacked count/rank cascade for the
    // bottom tail while the top tail ran the one-pass aggregate. Both
    // routes are bit-identical by contract, so this changes plans,
    // never values.
    val distributed = Percentiles.distributedPath(df)
    val withBounds =
      if (top && bot && distributed)
        attachFrame(df, Percentiles.winsorBounds(
          df, cols.map(c => (s"__hi_$c", s"__lo_$c", cleanOf(c))), byvars, topPct, botPct))
      else {
        val withHi =
          if (top) attachFrame(df, Percentiles.boundsMulti(
            df, cols.map(c => (s"__hi_$c", cleanOf(c), topPct)), byvars,
            routeDistributed = Some(distributed)))
          else df
        if (bot) attachFrame(withHi, Percentiles.boundsMulti(
          withHi, cols.map(c => (s"__lo_$c", topClamped(c), botPct)), byvars,
          routeDistributed = Some(distributed)))
        else withHi
      }
    val clamped = cols.foldLeft(withBounds)(applyClamp)
    (clamped.drop(tmpCols.filter(clamped.columns.contains): _*),
      () => cleanups.foreach(f => f()))
  }

  def winsorize(
      df: DataFrame,
      pct: Double,
      subset: Seq[String],
      byvars: Seq[String]
  ): DataFrame = winsorize(df, (pct, pct), subset, byvars)
}
