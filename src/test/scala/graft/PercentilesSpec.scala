package graft

import org.apache.spark.sql.functions._

import graft.operators.Percentiles

/** Distributed exact percentiles vs Spark's builtin `percentile`
  * aggregate: the cut values must be BIT-IDENTICAL (the oracle parity
  * of every portfolio/winsorize golden rides on the interpolation
  * arithmetic matching the builtin's scalar code term for term).
  */
class PercentilesSpec extends SparkSuite {

  private val ps = Seq(0.05, 0.2, 0.25, 0.4, 0.5, 0.6, 0.8, 0.95, 0.99)

  /** Run `body` once per physical path: the size-adaptive default
    * routes small frames to the builtin aggregate, so the distributed
    * plan must be FORCED (threshold 0) to be covered at test scale.
    */
  private def bothPaths(body: => Unit): Unit = {
    val key = "graft.percentiles.distributedThresholdBytes"
    body // default: builtin path at test sizes
    spark.conf.set(key, "0")
    try body // forced: distributed path
    finally spark.conf.unset(key)
  }

  /** Deterministic value mix: duplicates, negatives, clustered runs,
    * and irrational-ish doubles that stress the interpolation.
    */
  private def messy(n: Int, groups: Int) = {
    val s = spark; import s.implicits._
    (0 until n).map { i =>
      val g = s"g${i % groups}"
      val v = (i * 37 % 97) match {
        case m if m < 20 => m.toDouble            // heavy duplicates
        case m if m < 40 => -math.Pi * m          // negatives, irrational
        case m if m < 60 => 1e8 + m * 0.3         // big magnitude
        case m           => math.sqrt(m.toDouble) // clustered small
      }
      (i.toLong, g, v)
    }.toDF("id", "g", "v")
  }

  test("global cuts are bit-identical to the builtin percentile aggregate") { bothPaths {
    val df = messy(5000, 1)
    val builtin = df.agg(percentile(col("v"), lit(ps.toArray)).as("c"))
      .head().getSeq[Double](0)
    val ours = Percentiles.cuts(df, col("v"), Nil, ps)
      .head().getSeq[Double](0)
    assert(ours.size == ps.size)
    ps.indices.foreach { i =>
      assert(java.lang.Double.doubleToLongBits(ours(i)) ==
        java.lang.Double.doubleToLongBits(builtin(i)),
        s"p=${ps(i)}: ours=${ours(i)} builtin=${builtin(i)}")
    }
  } }

  test("per-group cuts are bit-identical to the builtin, every group") { bothPaths {
    val df = messy(5000, 7)
    val builtin = df.groupBy("g").agg(percentile(col("v"), lit(ps.toArray)).as("c"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val ours = Percentiles.cuts(df, col("v"), Seq("g"), ps)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(ours.keySet == builtin.keySet)
    for (g <- builtin.keySet; i <- ps.indices)
      assert(java.lang.Double.doubleToLongBits(ours(g)(i)) ==
        java.lang.Double.doubleToLongBits(builtin(g)(i)),
        s"group $g p=${ps(i)}: ours=${ours(g)(i)} builtin=${builtin(g)(i)}")
  } }

  test("nulls and NaN are excluded like the builtin; empty groups vanish / null out") { bothPaths {
    val s = spark; import s.implicits._
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(2.0)), ("a", None), ("a", Some(Double.NaN)),
      ("a", Some(3.0)),
      ("b", None), ("b", Some(Double.NaN))).toDF("g", "v")
    val ours = Percentiles.cuts(df, col("v"), Seq("g"), Seq(0.5))
      .collect().map(r => r.getString(0) -> r.getSeq[java.lang.Double](1)).toMap
    assert(ours("a") == Seq(2.0)) // median of {1,2,3}
    assert(!ours.contains("b"))   // no clean values -> no cuts row (left joins read null)
    // global form over an all-null frame still emits ONE row, whose
    // cuts are a NULL array on both paths
    val g = Percentiles.cuts(df.where(col("g") === "b"), col("v"), Nil, Seq(0.5, 0.9))
      .collect()
    assert(g.length == 1 && g(0).isNullAt(0), s"expected one NULL cuts row, got ${g.toSeq}")
  } }

  test("cutsMultiWithCleanup and boundsMulti: a group with no clean value has no row, both paths") { bothPaths {
    val s = spark; import s.implicits._
    // b: every value null or NaN -> no row; c: x clean, y all NaN ->
    // a row whose y cuts are NULL (array and scalar alike)
    val df = Seq[(String, Option[Double], Option[Double])](
      ("a", Some(1.0), Some(4.0)), ("a", Some(3.0), Some(Double.NaN)),
      ("b", Some(Double.NaN), None), ("b", None, Some(Double.NaN)),
      ("c", Some(5.0), Some(Double.NaN))).toDF("g", "x", "y")
    val (cm, releaseCm) = Percentiles.cutsMultiWithCleanup(
      df, Seq("cx" -> col("x"), "cy" -> col("y")), Seq("g"), Seq(0.5, 1.0))
    val (bm, releaseBm) = Percentiles.boundsMulti(
      df, Seq(("bx", col("x"), 0.5), ("by", col("y"), 0.5)), Seq("g"))
    try {
      val cuts = cm.collect().map(r => r.getString(0) -> r).toMap
      assert(cuts.keySet == Set("a", "c"), s"cutsMultiWithCleanup groups: ${cuts.keySet}")
      assert(cuts("a").getSeq[Double](1) == Seq(2.0, 3.0) && cuts("a").getSeq[Double](2) == Seq(4.0, 4.0))
      assert(cuts("c").getSeq[Double](1) == Seq(5.0, 5.0) && cuts("c").isNullAt(2))
      val bounds = bm.collect().map(r => r.getString(0) -> r).toMap
      assert(bounds.keySet == Set("a", "c"), s"boundsMulti groups: ${bounds.keySet}")
      assert(bounds("a").getDouble(1) == 2.0 && bounds("a").getDouble(2) == 4.0)
      assert(bounds("c").getDouble(1) == 5.0 && bounds("c").isNullAt(2))
    } finally { releaseCm(); releaseBm() }
  } }

  test("exact interpolation on a tiny known multiset (NumPy parity)") { bothPaths {
    val s = spark; import s.implicits._
    // values {1, 2, 2, 4}: q0.5 -> pos 1.5 between 2 and 2 = 2.0;
    // q0.75 -> pos 2.25 between 2 and 4 = 2.5; q0 -> 1; q1 -> 4
    val df = Seq(1.0, 2.0, 2.0, 4.0).toDF("v")
    val out = Percentiles.cuts(df, col("v"), Nil, Seq(0.0, 0.5, 0.75, 1.0))
      .head().getSeq[Double](0)
    assert(out == Seq(1.0, 2.0, 2.5, 4.0))
  } }

  test("boundsMulti is bit-identical to per-bound builtin aggregates, both paths") { bothPaths {
    val df = messy(4000, 5)
    // two columns at two different ps — the winsorize-tail shape,
    // plus a derived expression to pin that bounds see the EXPRESSION
    // not just raw columns
    val bounds = Seq(
      ("hi_v", col("v"), 0.99),
      ("lo_v", col("v"), 0.01),
      ("hi_id", col("id").cast("double"), 0.95),
      ("mid_neg", -col("v"), 0.5))
    val (got, cleanup) = Percentiles.boundsMulti(df, bounds, Seq("g"))
    try {
      val ours = got.collect()
        .map(r => r.getString(0) -> Seq(1, 2, 3, 4).map(r.getDouble)).toMap
      val builtin = df.groupBy("g")
        .agg(
          percentile(col("v"), lit(0.99)).as("hi_v"),
          percentile(col("v"), lit(0.01)).as("lo_v"),
          percentile(col("id").cast("double"), lit(0.95)).as("hi_id"),
          percentile(-col("v"), lit(0.5)).as("mid_neg"))
        .collect().map(r => r.getString(0) -> Seq(1, 2, 3, 4).map(r.getDouble)).toMap
      assert(ours.keySet == builtin.keySet)
      for (g <- builtin.keySet; i <- 0 until 4)
        assert(java.lang.Double.doubleToLongBits(ours(g)(i)) ==
          java.lang.Double.doubleToLongBits(builtin(g)(i)),
          s"group $g bound $i: ours=${ours(g)(i)} builtin=${builtin(g)(i)}")
    } finally cleanup()
  } }

  test("boundsMulti global form always emits one row, null cuts for empty bounds") { bothPaths {
    val s = spark; import s.implicits._
    val df = Seq((Some(1.0), None: Option[Double]), (Some(3.0), None))
      .toDF("a", "b")
    val (got, cleanup) = Percentiles.boundsMulti(
      df, Seq(("qa", col("a"), 0.5), ("qb", col("b"), 0.5)), Nil)
    try {
      val rows = got.collect()
      assert(rows.length == 1)
      assert(rows(0).getDouble(0) == 2.0)
      assert(rows(0).isNullAt(1))
    } finally cleanup()
  } }

  test("single distinct value, single row, and duplicate-only groups") { bothPaths {
    // NB: when floor(pos) != ceil(pos) both fall inside one duplicate
    // run, interpolating between equal values costs one ulp
    // ((0.8*7)+(0.2*7) = 7.000000000000001) — the builtin does the
    // SAME, so parity (and hence oracle round()s) is preserved;
    // compare against the builtin rather than the platonic value.
    val s = spark; import s.implicits._
    val df = Seq(("a", 7.0), ("a", 7.0), ("a", 7.0), ("b", 3.0)).toDF("g", "v")
    val qs = Seq(0.1, 0.5, 0.9)
    val builtin = df.groupBy("g").agg(percentile(col("v"), lit(qs.toArray)).as("c"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val ours = Percentiles.cuts(df, col("v"), Seq("g"), qs)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(ours == builtin)
    assert(ours("b") == Seq(3.0, 3.0, 3.0)) // single row: every cut is the value itself
  } }

  test("native exact-percentile kernel: signed-zero rank boundary matches the builtin bit-for-bit (r20)") {
    // ranks landing on (-0.0, 0.0): the builtin's counts map merges
    // the pair into ONE key (primitive equality), so no interpolation
    // happens across it and the surviving representative's SIGN is
    // arrival-order-dependent; the kernel replays the no-interpolation
    // rule with primitive == and deterministically returns the
    // sort-lower value. Values must agree under SQL equality
    // everywhere, and bit-for-bit wherever no signed zero is involved.
    val s = spark; import s.implicits._
    val df = Seq(-1.0, -0.0, 0.0, 1.0).toDF("v")
    val qs = Seq(0.25, 1.0 / 3.0, 0.5, 2.0 / 3.0, 0.4)
    val (cuts, cleanup) = Percentiles.cutsWithCleanup(df, col("v"), Nil, qs) // builtin route at this size
    try {
      val kernel = cuts.collect().head.getSeq[Double](0)
      val builtin = df.agg(percentile(col("v"), lit(qs.toArray))).collect().head.getSeq[Double](0)
      kernel.zip(builtin).foreach { case (k, b) =>
        assert(k == b, s"kernel $kernel != builtin $builtin (value)")
        if (k != 0.0)
          assert(java.lang.Double.doubleToLongBits(k) == java.lang.Double.doubleToLongBits(b),
            s"kernel $kernel != builtin $builtin (bitwise, nonzero)")
      }
    } finally cleanup()
  }

  test("NULL grouping keys survive both physical paths (cuts + boundsMulti)") { bothPaths {
    // the builtin path's groupBy emits a NULL-keyed group; the
    // distributed path's offsets broadcast joins back on the byvars
    // — a null-UNSAFE join there silently drops the group, breaking
    // the "the switch can never change results" invariant. Pin it.
    val s = spark; import s.implicits._
    val df = Seq[(String, Double)](
      (null, 1.0), (null, 2.0), (null, 3.0), (null, 10.0),
      ("a", 5.0), ("a", 7.0), ("a", 9.0)
    ).toDF("g", "v")
    val qs = Seq(0.25, 0.5, 0.75)
    val builtin = df.groupBy("g").agg(percentile(col("v"), lit(qs.toArray)).as("c"))
      .collect().map(r => Option(r.getString(0)) -> r.getSeq[Double](1)).toMap
    val ours = Percentiles.cuts(df, col("v"), Seq("g"), qs)
      .collect().map(r => Option(r.getString(0)) -> r.getSeq[Double](1)).toMap
    assert(ours.keySet == Set(None, Some("a")), s"NULL group lost: ${ours.keySet}")
    assert(ours == builtin)

    val (bm, cleanup) = Percentiles.boundsMulti(
      df, Seq(("hi", col("v"), 0.9), ("lo", col("v"), 0.1)), Seq("g"))
    try {
      val rows = bm.collect().map(r => Option(r.getString(0)) ->
        (r.getDouble(1), r.getDouble(2))).toMap
      assert(rows.keySet == Set(None, Some("a")), s"NULL group lost: ${rows.keySet}")
      val bHi = df.groupBy("g").agg(percentile(col("v"), lit(0.9)).as("hi"),
        percentile(col("v"), lit(0.1)).as("lo"))
        .collect().map(r => Option(r.getString(0)) -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(rows == bHi)
    } finally cleanup()
  } }

  test("NULL grouping keys clamp identically through winsorize on both paths") { bothPaths {
    val s = spark; import s.implicits._
    val df = Seq[(String, Double)](
      (null, 1.0), (null, 2.0), (null, 3.0), (null, 100.0), (null, -50.0),
      ("a", 5.0), ("a", 7.0), ("a", 9.0), ("a", 11.0)
    ).toDF("g", "v")
    // pct pair (b, t) clamps at [b, 1-t]: (0.2, 0.2) -> [p20, p80]
    val (w, cleanup) = graft.operators.Winsorize.winsorizeWithCleanup(
      df, (0.2, 0.2), Seq("v"), Seq("g"))
    try {
      val nullG = w.where(col("g").isNull).select("v").as[Double].collect().sorted
      // over (-50,1,2,3,100): p80 = 22.4; bottom p20 over the
      // top-clamped multiset (-50,1,2,3,22.4) = -9.2. Unfixed, the
      // NULL group joins no bounds and stays at raw (-50, 100).
      assert(nullG.nonEmpty, "NULL group rows lost through winsorize")
      assert(nullG.max <= 22.4 + 1e-9 && nullG.min >= -9.2 - 1e-9,
        s"NULL group unclamped: ${nullG.toSeq}")
    } finally cleanup()
  } }
}
