package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions.{Dates, Strings}
import graft.pipeline.{Contamination, Dedup, Graph, Multimodal, Sampling, Similarity, TextAnalysis, UrlOps, WebIngest}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * One `queries` entry per implemented SURVEY §2 operator (plus the
  * LLM-pipeline operators), each with DuckDB-equivalent `oracleSql`
  * where SQL-expressible. Column names are aliased identically on both
  * sides (the driver sorts columns by name before hashing), and every
  * floating-point output is rounded to a fixed number of decimals on
  * BOTH sides so engine-level summation-order differences cannot flip
  * the hash.
  */
object SparkEntry {

  // Schema memo. Inferring a parquet table's schema is a one-task
  // Spark job that reads footers ("parquet at SparkEntry"), run on
  // every read of every query, so `t` reads each table with the schema
  // inferred the first time it read that path. The entry holds a
  // fingerprint of the table: its files' (name, length, modification
  // time) from one driver-side listing, plus the session's parquet
  // confs that steer inference. A changed fingerprint infers again and
  // replaces the entry, so a rewritten table is never read with a stale
  // schema and the memo holds one entry per path. The memo keeps the
  // schema, never the DataFrame: every call returns a fresh relation
  // with fresh attribute ids, so a self-join's sides stay distinct.
  private type TableFingerprint = (Seq[(String, Long, Long)], Map[String, String])
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (TableFingerprint, org.apache.spark.sql.types.StructType)]()

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    val fingerprint = tableFingerprint(s, p)
    Option(schemaMemo.get(p)).filter(m => fingerprint.contains(m._1)) match {
      case Some((_, schema)) => s.read.schema(schema).parquet(p)
      case None =>
        val df = s.read.parquet(p)
        fingerprint.foreach(f => schemaMemo.put(p, (f, df.schema)))
        df
    }
  }

  /** See `schemaMemo`; `None` when the path cannot be listed (the read
    * then fails, or succeeds, as an unmemoized read would).
    */
  private def tableFingerprint(s: SparkSession, p: String): Option[TableFingerprint] = {
    val path = new org.apache.hadoop.fs.Path(p)
    try {
      val files = path.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(path)
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSeq.sorted
      Some((files, s.conf.getAll.filter(_._1.contains("parquet"))))
    } catch { case _: java.io.IOException => None }
  }

  // -----------------------------------------------------------------
  // deferred cache cleanup. A query function only BUILDS its frame —
  // the runner (driver / Bench / Verify / specs) executes the action
  // afterwards — so operator-internal caches that must outlive
  // construction (LSH signature persists, CC label checkpoints) are
  // parked at build time in graft.Cleanup's fragile tier, which only
  // drainAll runs: a streaming tick's anytime drain() must not release
  // a checkpoint under a built-but-unconsumed query. The runner
  // releases them AFTER the action via runPendingCleanups(). Round 4
  // measured the cost of NOT doing this: stranded blocks roughly
  // doubled the whole bench.
  // -----------------------------------------------------------------

  /** Release caches staged by the most recently built quer(ies):
    * the query sites' handles and every handle the no-cleanup
    * operator conveniences parked in [[graft.Cleanup]], so a query
    * written against the convenience API gets the same after-action
    * hygiene as one using the WithCleanup forms. Runners call this
    * after each query's action has completed, which is exactly when
    * the checkpoint-releasing tier is safe to run too.
    */
  def runPendingCleanups(): Unit = graft.Cleanup.drainAll()

  // Some expensive pipelines feed TWO driver queries (near-dup
  // clusters -> q_neardup_groups + q_neardup_keep; contamination ids
  // -> q_contaminated + q_decontaminate). Each runs ONCE per data
  // dir; its small output frame is eagerly checkpointed and shared,
  // and the heavyweight internals are released immediately. The memo
  // itself (tiny frames) lives until releaseShared() at end of run.
  private val sharedMemos =
    scala.collection.mutable.Map.empty[String, (DataFrame, () => Unit)]

  private def sharedFrame(key: String)(build: => (DataFrame, () => Unit)): DataFrame =
    synchronized {
      sharedMemos.getOrElseUpdate(key, {
        val (frame, releasePipeline) = build
        val (cp, releaseCp) = graft.internal.localCheckpointTracked(frame, eager = true)
        releasePipeline() // the checkpoint above materialized everything
        (cp, releaseCp)
      })._1
    }

  private def nearDupClusters(s: SparkSession, dir: String): DataFrame =
    sharedFrame(s"neardup:$dir") {
      Dedup.nearDupGroupsWithCleanup(t(s, dir, "documents"), "doc_id", "text", jaccardThreshold = 0.5)
    }

  /** (byvars, portfolio, averaged vars) — the percentile-sort
    * pipeline feeding BOTH q_portfolio_averages and q_long_short;
    * runs once per data dir, its ~(byvars x ngroups)-row output
    * checkpointed and shared.
    */
  private def portfolioAveragesFrame(s: SparkSession, dir: String): DataFrame =
    sharedFrame(s"pavg:$dir") {
      val li = t(s, dir, "lineitem")
      val (avgs, _, cleanup) = Portfolio.portfolioAveragesDetailCleanup(
        li, "l_extendedprice", Seq("l_quantity"),
        ngroups = 5, byvars = Seq("l_returnflag"))
      (avgs, cleanup)
    }

  /** (doc_id, n_overlap) of corpus docs (doc_id % 37 <> 0) sharing
    * 3-grams with the eval slice (doc_id % 37 = 0).
    */
  private def contaminatedFrame(s: SparkSession, dir: String): DataFrame =
    sharedFrame(s"contam:$dir") {
      val d = t(s, dir, "documents")
      val ids = Contamination.contaminatedIds(
        d.where(col("doc_id") % 37 =!= 0), d.where(col("doc_id") % 37 === 0),
        "doc_id", "text", n = 3)
      (ids, () => ())
    }

  /** Release the cross-query shared frames (runners call this once at
    * end of run; per-query caches go through runPendingCleanups).
    */
  def releaseShared(): Unit = synchronized {
    sharedMemos.values.foreach { case (_, release) => release() }
    sharedMemos.clear()
  }

  /** events.parquet's `ts` column has shipped in two layouts:
    * TIMESTAMP(NANOS) (which Spark's parquet reader rejects; with
    * spark.sql.legacy.parquet.nanosAsLong it arrives as a raw nano
    * count needing integer division — a double division would lose
    * precision at 1e18) and plain TIMESTAMP(MICROS), which Spark reads
    * natively. Dispatch on the dtype actually read so both layouts
    * work.
    */
  private[graft] def eventsTable(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // normalize to TimestampType so unix_micros/date arithmetic
        // resolve; all graft sessions run spark.sql.session.timeZone
        // UTC, so the cast is value-preserving
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val li = t(spark, "/root/testdata/sf0.001", "lineitem")
    Portfolio.portfolioAverages(
      li, groupvar = "l_extendedprice", avgvars = Seq("l_quantity"),
      ngroups = 5, byvars = Seq("l_returnflag"))
  }

  // -----------------------------------------------------------------
  // the queries
  // -----------------------------------------------------------------

  /** Queries that are QUADRATIC BY CONTRACT — exact/brute-force twins
    * kept in the map as correctness baselines for their production
    * counterparts (brute-force cosine anchors the IVF/LSH/PQ oracles;
    * the capped exact pair enumerator anchors semDedup). Scale-ratio
    * gates must exclude them: their super-linear growth is the
    * DEFINITION of the baseline, not a regression — the production
    * twins (q_ann_ivf*, q_ann_pq, q_semdedup) are the paths the
    * sub-linear expectation applies to. Bench emits this set in its
    * JSON line so downstream analysis filters on it.
    */
  val baselineQueries: Set[String] =
    Set("q_ann_bruteforce", "q_ann_int8", "q_embed_neardups")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.4 groupby_merge family -------------------------------
    "q_groupby_merge_max" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      GroupOps.groupbyMerge(li, Seq("l_returnflag"), "max", Seq("l_quantity"))
    }),
    "q_groupby_merge_std" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_extendedprice")
      GroupOps.groupbyMerge(li, Seq("l_returnflag", "l_linestatus"), "std", Seq("l_extendedprice"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_linestatus"),
          round(col("l_extendedprice_std"), 4).as("price_std"))
    }),
    "q_groupby_transform_sum" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
      GroupOps.groupbyTransform(li, Seq("l_orderkey"), Seq("l_quantity"), (c, w) => sum(c).over(w))
        .select(col("l_orderkey"), col("l_linenumber"), round(col("l_quantity_transform"), 6).as("qty_sum"))
    }),
    "q_groupby_index" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
      GroupOps.groupbyIndex(o, Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"))
        .select("o_orderkey", "o_custkey", "group_index")
    }),
    "q_averages" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // tie-break-stable rounding (the fillna/cumulate convention) on
      // the value columns; COUNT columns round at 0 decimals — a
      // group count is an integer, and its weighted average (a 3M-term
      // float sum at sf3) carries ~1e-4 of summation noise, far wider
      // than a 4-dp round boundary (the first genuinely
      // magnitude-sensitive rounding found in the sf3 sweep; at 0 dp
      // the margin is 0.5, stable at any SF)
      def r4(c: String) = round(col(c) - lit(1e-9), 4).as(c)
      def r0(c: String) = round(col(c) - lit(1e-9), 0).as(c)
      GroupOps.averages(li, Seq("l_quantity", "l_extendedprice"), Seq("l_returnflag", "l_linestatus"),
          wtvar = Some("l_discount"), count = Some("l_quantity"))
        .select(col("l_returnflag"), col("l_linestatus"),
          r4("l_quantity"), r4("l_extendedprice"), r0("l_quantity_count"),
          r4("l_quantity_wavg"), r4("l_extendedprice_wavg"), r0("l_quantity_count_wavg"))
    }),
    "q_var_change" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      GroupOps.varChangeByGroups(o, Seq("o_totalprice"), Seq("o_custkey"), "o_orderdate",
          tiebreakCols = Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          round(col("o_totalprice_change"), 6).as("o_totalprice_change"))
    }),
    // ---- §2.5 cumulate -------------------------------------------
    "q_cumulate_between" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") / 1000000.0).as("ret"))
      Cumulate.cumulate(o, Seq("ret"), "between", "o_orderkey", Seq("o_custkey"),
          time = Seq(1, 3), grossify = true)
        // products/means of 2-decimal inputs TERMINATE on the round-
        // half grid, where engine ulp noise is a coin flip (~50/1.5M
        // rows at sf1); the 1e-9 shift moves the rounding boundary
        // off that attractor on both engines — tie-break-stable
        // cross-engine rounding (same shift in the oracle SQL)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("cum_ret") - 1e-9, 4).as("cum_ret"))
    }),
    "q_cumulate_first" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") / 1000000.0).as("ret"))
      Cumulate.cumulate(o, Seq("ret"), "first", "o_orderkey", Seq("o_custkey"), grossify = true)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("cum_ret") - 1e-9, 4).as("cum_ret"))
    }),
    // ---- §2.7 winsorize / portfolio ------------------------------
    "q_winsorize_by" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
      val (w, cleanup) =
        Winsorize.winsorizeWithCleanup(li, (0.05, 0.05), Seq("l_extendedprice"), Seq("l_returnflag"))
      Cleanup.deferFragile(cleanup)
      w.select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        round(col("l_extendedprice"), 4).as("price_w"))
    }),
    "q_winsorize_all" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      val (w, cleanup) =
        Winsorize.winsorizeWithCleanup(li, (0.01, 0.01), Seq("l_quantity", "l_extendedprice"), Nil)
      Cleanup.deferFragile(cleanup)
      w.select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity"), 6).as("qty_w"),
        round(col("l_extendedprice"), 4).as("price_w"))
    }),
    "q_approx_quantiles" -> ((s, dir) => {
      // the DDSketch aggregate under a full cross-engine oracle: the
      // log-γ bucket walk is plain SQL, so DuckDB replays the exact
      // bucket selection and midpoint estimate (4-dp round absorbs
      // libm ulp drift in ln/pow)
      val li = t(s, dir, "lineitem")
      val cuts = Percentiles.approxCuts(
        li, col("l_extendedprice"), Seq("l_returnflag"), Seq(0.25, 0.5, 0.75, 0.95), 0.01)
      cuts.select(col("l_returnflag"), posexplode(col("__cuts__")).as(Seq("i", "q")))
        .select(col("l_returnflag"), (col("i") + 1).as("p_idx"), round(col("q"), 4).as("q"))
    }),
    "q_portfolio_by" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
      val (p, cleanup) =
        Portfolio.portfolioWithCleanup(li, "l_extendedprice", ngroups = 5, byvars = Seq("l_returnflag"))
      Cleanup.deferFragile(cleanup)
      p.select("l_orderkey", "l_linenumber", "l_returnflag", "portfolio")
    }),
    "q_portfolio_hard" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
      Portfolio.portfolio(li, "l_extendedprice", cutoffs = Seq(20000.0, 60000.0))
        .select("l_orderkey", "l_linenumber", "portfolio")
    }),
    "q_portfolio_averages" -> ((s, dir) => {
      portfolioAveragesFrame(s, dir)
        .select(col("l_returnflag"), col("portfolio"), round(col("l_quantity"), 4).as("l_quantity"))
    }),
    "q_long_short" -> ((s, dir) => {
      val pa = portfolioAveragesFrame(s, dir)
      Portfolio.longShortPortfolio(pa, "portfolio", Seq("l_returnflag"), Seq("l_quantity"))
        .select(col("l_returnflag"), round(col("l_quantity"), 4).as("l_quantity"))
    }),
    // ---- §2.3 as-of join -----------------------------------------
    "q_asof_join" -> ((s, dir) => {
      val l = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_orderdate").cast("date").as("odate"))
      val r = eventsTable(s, dir).groupBy(col("user_id").as("o_custkey"), col("ts").cast("date").as("edate"))
        .agg(round(max(col("value")), 6).as("val"))
      AsOf.leftMergeLatest(l, r, Seq("o_custkey"), "odate", "edate")
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("odate"), "yyyy-MM-dd").as("odate"),
          date_format(col("edate"), "yyyy-MM-dd").as("edate"), col("val"))
    }),
    "q_asof_offset" -> ((s, dir) => {
      val l = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_orderdate").cast("date").as("odate"))
      val r = eventsTable(s, dir).groupBy(col("user_id").as("o_custkey"), col("ts").cast("date").as("edate"))
        .agg(round(max(col("value")), 6).as("val"))
      AsOf.leftMergeLatest(l, r, Seq("o_custkey"), "odate", "edate",
        maxOffset = Some(expr("INTERVAL 30 DAYS")))
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("odate"), "yyyy-MM-dd").as("odate"),
          date_format(col("edate"), "yyyy-MM-dd").as("edate"), col("val"))
    }),
    // ---- §2.9 reshape --------------------------------------------
    "q_long_to_wide" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      Reshape.longToWide(li, Seq("l_orderkey"), Seq("l_quantity", "l_discount"),
        colindex = Seq("l_linenumber"), agg = c => max(c))
    }),
    "q_expand_time_m" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderdate")
      Reshape.expandTime(o, Seq(1, 6, 12), "o_orderdate", "m", newdate = "shift_date", shiftvar = "shift")
        .select(col("o_orderkey"), col("shift"), date_format(col("shift_date"), "yyyy-MM-dd").as("shift_date"))
    }),
    "q_expand_time_td" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderdate")
      Reshape.expandTime(o, Seq(1, 5, 22), "o_orderdate", "td", newdate = "shift_date", shiftvar = "shift")
        .select(col("o_orderkey"), col("shift"), date_format(col("shift_date"), "yyyy-MM-dd").as("shift_date"))
    }),
    "q_expand_months" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderdate")
      Reshape.expandMonths(o, "o_orderdate", "daily_date", tradeDays = true)
        .select(col("o_orderkey"), date_format(col("daily_date"), "yyyy-MM-dd").as("daily_date"))
    }),
    // ---- §2.9 fill operators -------------------------------------
    "q_fill_excluded" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val agg = c.groupBy("c_mktsegment", "c_nationkey").agg(count(lit(1)).as("n_cust"))
      Fill.fillExcludedRows(agg, Seq("c_mktsegment", "c_nationkey"), Seq("n_cust"), Some(0L))
    }),
    "q_add_missing_ffill" -> ((s, dir) => {
      val e = eventsTable(s, dir)
      val base = e.groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(round(sum(col("value")), 6).as("mval"))
      Fill.addMissingGroupRows(base, Seq("user_id"), Seq("day"), Some("ffill"))
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"), col("mval"))
    }),
    "q_ffill_limit" -> ((s, dir) => {
      val e = eventsTable(s, dir)
      val base = e.groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(round(sum(col("value")), 6).as("mval"))
      Fill.addMissingGroupRows(base, Seq("user_id"), Seq("day"), Some("ffill"), fillLimit = Some(1))
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"), col("mval"))
    }),
    "q_fillna_groups" -> ((s, dir) => {
      val e = eventsTable(s, dir)
      val base = e.select(col("user_id"), col("event_id"),
        when(col("event_type") === "error", lit(null)).otherwise(col("value")).as("v"))
      Fill.fillnaByGroups(base, Seq("user_id"), Seq("event_id"))
        // tie-break-stable rounding (see q_cumulate_between): group
        // means of 2-decimal values terminate on round-half
        // boundaries where engine ulp noise flips coins
        .select(col("user_id"), col("event_id"), round(col("v") - 1e-9, 4).as("v"))
    }),
    "q_drop_missing_rows" -> ((s, dir) => {
      val e = eventsTable(s, dir)
      val base = e.select(col("user_id"), col("event_id"),
        when(col("event_type") === "error", lit(null)).otherwise(col("value")).as("v"))
      Fill.dropMissingGroupRows(base, Seq("user_id", "event_id"))
    }),
    // ---- §2.10 dates ---------------------------------------------
    "q_sas_dates" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
      li.select(col("l_orderkey"), col("l_linenumber"),
        date_format(Dates.sasDateToTimestamp(floor(col("l_quantity"))), "yyyy-MM-dd").as("sasdate"))
    }),
    "q_year_month" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderdate")
      Dates.yearMonthFromDate(o, "o_orderdate").select("o_orderkey", "Year", "Month")
    }),
    // ---- §2.11 strings / §2.2 filters / §2.12 sql ----------------
    "q_state_abbrev" -> ((s, dir) => {
      val n = t(s, dir, "nation").select("n_nationkey", "n_name")
      Strings.stateAbbrev(n, "n_name")
    }),
    "q_join_col_strings" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
      Strings.joinColStrings(li, Seq("l_returnflag", "l_linestatus"), "flag_status")
    }),
    "q_select_rows" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_discount", "l_tax")
      Query.selectRowsByConditionOnColumns(li, Seq("l_discount", "l_tax"), "> 0.05", "or")
    }),
    "q_sql_binding" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      Query.sql(Seq(o, c),
        "SELECT c.c_mktsegment, count(*) AS cnt FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey GROUP BY c.c_mktsegment")
    }),
    // ---- §2.8 stats ----------------------------------------------
    "q_corr_pairs" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      Stats.corrPairs(li, Seq("l_quantity", "l_extendedprice", "l_discount"))
        .select(col("col1"), col("col2"), round(col("corr"), 6).as("corr"))
    }),
    "q_regby" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      RegBy.regBy(li, "l_extendedprice", Seq("l_quantity"), Seq("l_returnflag", "l_linestatus"))
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("const"), 3).as("const"), round(col("coef_l_quantity"), 3).as("coef_l_quantity"))
    }),
    "q_apply_unique" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderdate")
      Merge.applyFuncToUniqueAndMerge(o, "o_orderdate", d => date_format(d, "yyyy-MM"), "ym")
        .select("o_orderkey", "ym")
    }),
    // ---- §2.1 sources --------------------------------------------
    "q_sink_roundtrip" -> ((s, dir) => {
      // the partitioned sink end to end: write documents partitioned
      // by (lang, source) with in-file doc_id order and a 100-row
      // file cap, then read the layout back — the oracle compares
      // the re-read rows against the source table, so directory
      // reconstruction of the partition columns, file rolling, and
      // payload round-tripping all sit behind the hash gate
      val d = t(s, dir, "documents")
      // per-SF path, cleared first: dynamic partition overwrite only
      // replaces partitions PRESENT in the input, so a stale layout
      // from other data would survive and fail the exact-match oracle
      // (partition-scoped incremental behavior is spec'd in SinkSpec)
      val path = new java.io.File(
        s"target/graft-sink/${new java.io.File(dir).getName}/documents_by_lang").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.sources.Sink.writePartitioned(
        d, path, partitionCols = Seq("lang", "source"),
        sortCols = Seq("doc_id"), maxRecordsPerFile = 100L)
      graft.sources.Sink.readPartitioned(s, path)
        .select("doc_id", "text", "n_chars", "lang", "source")
    }),
    "q_upsert" -> ((s, dir) => {
      // MERGE INTO at the layout level: two batches upsert into a
      // lang-partitioned table (batch 2 replaces every even doc and
      // re-inserts some already-present keys), then the latest state
      // reads back — key replacement, insertion, and partition-scoped
      // rewrite all sit behind the hash gate
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      val path = new java.io.File(
        s"target/graft-sink/${new java.io.File(dir).getName}/upsert").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      val b1 = d.where(col("doc_id") % 3 =!= 2)
      val b2 = d.where(col("doc_id") % 2 === 0).withColumn("n_chars", col("n_chars") + 1000)
      graft.sources.Sink.upsertPartitioned(s, path, b1, Seq("doc_id"), Seq("lang"), Seq("doc_id"))
      graft.sources.Sink.upsertPartitioned(s, path, b2, Seq("doc_id"), Seq("lang"), Seq("doc_id"))
      graft.sources.Sink.readPartitioned(s, path).select("doc_id", "lang", "n_chars")
    }),
    "q_delete_keys" -> ((s, dir) => {
      // the right-to-be-forgotten pass: write the corpus, tombstone
      // every doc_id % 5 == 0 key, read the surviving state back
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      val path = new java.io.File(
        s"target/graft-sink/${new java.io.File(dir).getName}/delete").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.sources.Sink.writePartitioned(d, path, Seq("lang"), Seq("doc_id"))
      graft.sources.Sink.deleteKeys(s, path,
        d.where(col("doc_id") % 5 === 0).select("doc_id", "lang"),
        Seq("doc_id"), Seq("lang"), Seq("doc_id"))
      graft.sources.Sink.readPartitioned(s, path).select("doc_id", "lang", "n_chars")
    }),
    "q_zorder" -> ((s, dir) => {
      // the deterministic z-order assignment behind Sink.writeZOrdered:
      // exact-quantile rank buckets per column (4 bits each), bit-
      // interleaved z-value, exact z-quantile file bucket — the whole
      // row->file mapping replays in SQL, so the multi-column
      // clustering layout itself sits behind the hash gate (layout
      // determinism + pruning quality are spec'd in ZOrderSpec)
      val e = eventsTable(s, dir).select(col("event_id"), col("value"), col("user_id"))
      val (out, cleanup) = ZOrder.withZBucket(e, Seq("value", "user_id"), bits = 4, nBuckets = 8)
      Cleanup.deferFragile(cleanup)
      out.select(col("event_id"), col("zvalue"), col("zbucket"))
    }),
    "q_range_join" -> ((s, dir) => {
      // bucketized point-in-interval range join: every order whose
      // date falls in a 14-day window opened by the same customer's
      // sampled (orderkey % 97 = 0) orders. Catalyst would plan the
      // raw BETWEEN predicate as a nested loop; the operator's cell
      // explode turns it into an equi join on (custkey, cell)
      val o = t(s, dir, "orders")
      val epochDays = datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
      val points = o.select(col("o_orderkey"), col("o_custkey"), epochDays.as("__d__"))
      val windows = o.where(col("o_orderkey") % 97 === 0)
        .select(col("o_custkey"), col("o_orderkey").as("window_orderkey"),
          epochDays.as("__s__"), (epochDays + 14L).as("__e__"))
      operators.RangeJoin.pointInInterval(
          points, windows, "__d__", "__s__", "__e__", Seq("o_custkey"), bucketWidth = 7L)
        .select("o_orderkey", "window_orderkey")
    }),
    "q_interval_overlap" -> ((s, dir) => {
      // interval-overlap range join: 10-day windows from two
      // different order samples of the same customer that intersect;
      // the pair is claimed only in the later window's start cell,
      // so the cell explode needs no dedup pass
      val o = t(s, dir, "orders")
      val epochDays = datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
      def windows(mod: Int, pfx: String) = o.where(col("o_orderkey") % mod === 0)
        .select(col("o_custkey"), col("o_orderkey").as(s"${pfx}_orderkey"),
          epochDays.as(s"__${pfx}s__"), (epochDays + 10L).as(s"__${pfx}e__"))
      operators.RangeJoin.intervalOverlap(
          windows(13, "a"), windows(17, "b"), "__as__", "__ae__", "__bs__", "__be__",
          Seq("o_custkey"), bucketWidth = 7L)
        .select("a_orderkey", "b_orderkey")
    }),
    "q_read_file" -> ((s, dir) => {
      val li = graft.sources.ReadFile.readFile(s, s"$dir/lineitem.parquet")
      li.groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
    }),
    "q_load_sas" -> ((s, dir) => {
      // the load_sas path end to end: write the closed-form 500-row
      // fixture (pure function of the row index — the DuckDB oracle
      // regenerates the same table in SQL) uncompressed, RLE-
      // compressed (COMPRESS=CHAR), AND RDC-compressed
      // (COMPRESS=BINARY), read each back through the sas7bdat page
      // parser — plus the RDC file a fourth time through the
      // DataSourceV2 format ("sas7bdat") — and require them to union
      // to 4x identical rows: both decompressors AND both read paths
      // sit behind the hash-compare gate
      val plain = graft.testing.SasFixture.writeToTemp(500)
      val rle = graft.testing.SasFixture.writeToTemp(500, compression = "rle")
      val rdc = graft.testing.SasFixture.writeToTemp(500, compression = "rdc")
      graft.sources.ReadFile.readFile(s, plain)
        .unionByName(graft.sources.ReadFile.readFile(s, rle))
        .unionByName(graft.sources.ReadFile.readFile(s, rdc))
        .unionByName(s.read.format("sas7bdat").load(rdc))
        .select(col("id"), col("ret"),
          date_format(col("evtdate"), "yyyy-MM-dd").as("evtdate"), col("ticker"))
    }),
    // ---- pipeline: text analysis ---------------------------------
    "q_token_count" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
    }),
    "q_regex_token_count" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), TextAnalysis.regexTokenCount(col("text")).as("n_tok_re"))
    }),
    "q_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val q = TextAnalysis.qualityFeatures(d, "text")
      q.select(col("doc_id"), col("q_chars"), col("q_tokens"),
        round(col("q_mean_tok_len"), 6).as("q_mean_tok_len"),
        round(col("q_punct_ratio"), 6).as("q_punct_ratio"),
        round(col("q_digit_ratio"), 6).as("q_digit_ratio"),
        round(col("q_upper_ratio"), 6).as("q_upper_ratio"),
        round(col("q_stop_ratio"), 6).as("q_stop_ratio"))
    }),
    "q_lang_id" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
    }),
    "q_fingerprint" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp"))
    }),
    "q_winnow" -> ((s, dir) => {
      // winnowed fingerprints (Schleimer et al. 2003): rightmost-min
      // selection over k=5-gram mod-prime hashes in w=4 windows, via
      // the one-pass codegen'd kernel; the oracle replays gram
      // hashing AND window selection in SQL
      TextAnalysis.winnowFingerprintRows(t(s, dir, "documents"), "doc_id", "text", k = 5, w = 4)
    }),
    "q_winnow_verified" -> ((s, dir) => {
      // the winnow family composed end to end: exact-containment
      // candidates from shared fingerprints, verified with the same
      // word-shingle Jaccard tail as the MinHash family — no
      // all-pairs stage anywhere
      val (out, cleanup) = graft.pipeline.Dedup.winnowVerifiedWithCleanup(
        t(s, dir, "documents"), "doc_id", "text")
      Cleanup.deferFragile(cleanup)
      out.select(col("id_a"), col("id_b"), col("n_shared"), round(col("jac"), 6).as("jac"))
    }),
    "q_winnow_candidates" -> ((s, dir) => {
      // the MOSS candidate join at near-dup scale: shared winnowed
      // 20-gram fingerprints (>= 2, hot hashes > 100 docs dropped
      // whole) — winnowing's containment guarantee makes candidacy
      // EXACT for overlaps >= w+k-1 = 35 normalized chars
      val (pairs, cleanup) = graft.pipeline.Dedup.winnowCandidatesWithCleanup(
        t(s, dir, "documents"), "doc_id", "text", k = 20, w = 16,
        minShared = 2L, maxHashDocs = 100)
      Cleanup.deferFragile(cleanup)
      pairs
    }),
    "q_rolling_hash" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), TextAnalysis.rollingHash(col("text")).as("rhash"))
    }),
    "q_repetition" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.repetitionSignals(d, "doc_id", "text", ngramWords = 2)
        .select(col("doc_id"),
          round(col("dup_line_frac"), 6).as("dup_line_frac"),
          round(col("dup_word_frac"), 6).as("dup_word_frac"),
          round(col("top_ngram_char_frac"), 6).as("top_ngram_char_frac"))
    }),
    "q_pii_redact" -> ((s, dir) => {
      // the synthetic corpus carries no PII, so a deterministic PII
      // suffix (a pure function of doc_id, reproduced by the oracle)
      // is appended before redaction to exercise every pattern
      val d = t(s, dir, "documents")
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 or call 555-123-4567"))
      TextAnalysis.piiCounts(d.select(col("doc_id"), aug.as("text")), "text")
        .select(col("doc_id"), col("pii_email"), col("pii_ip"), col("pii_phone"),
          md5(TextAnalysis.piiRedact(col("text"))).as("red_fp"))
    }),
    // eval set = every 37th doc; duplicates in the synthetic corpus
    // guarantee real contamination hits. Both queries derive from the
    // SAME shared overlap frame (the shingle pipeline runs once).
    "q_contaminated" -> ((s, dir) => contaminatedFrame(s, dir)),
    "q_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.where(col("doc_id") % 37 =!= 0)
        .join(contaminatedFrame(s, dir).select("doc_id"), Seq("doc_id"), "left_anti")
        .select("doc_id")
    }),
    "q_char_contam" -> ((s, dir) => {
      // char-window (exact-substring) contamination against the same
      // %37 eval slice the word-gram queries use
      val d = t(s, dir, "documents")
      Contamination.charWindowContaminatedIds(
        d.where(col("doc_id") % 37 =!= 0), d.where(col("doc_id") % 37 === 0),
        "doc_id", "text", window = 40, stride = 10)
    }),
    "q_bigram_xent" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.bigramCrossEntropy(d, "doc_id", "text")
        .select(col("doc_id"), round(col("xent"), 6).as("xent"))
    }),
    "q_sessionize" -> ((s, dir) => {
      GroupOps.sessionize(eventsTable(s, dir), Seq("user_id"), "ts", gapSeconds = 3600L)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"), col("session"))
    }),
    "q_chunk" -> ((s, dir) => {
      // context-window chunking: 16-word chunks, 4-word overlap
      TextAnalysis.chunkDocuments(t(s, dir, "documents"), "doc_id", "text", chunkSize = 16, overlap = 4)
    }),
    "q_gopher" -> ((s, dir) => {
      TextAnalysis.gopherQuality(t(s, dir, "documents"), "doc_id", "text", minWords = 20, maxWords = 1000)
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("symbol_ratio"), 6).as("symbol_ratio"),
          round(col("bullet_frac"), 6).as("bullet_frac"),
          round(col("ellipsis_frac"), 6).as("ellipsis_frac"),
          round(col("alpha_frac"), 6).as("alpha_frac"),
          col("n_stop"), col("keep"))
    }),
    "q_corpus_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.corpusStats(d, Seq("source"), "text")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("avg_tokens"), 6).as("avg_tokens"),
          round(col("p50_chars"), 4).as("p50_chars"),
          round(col("p90_chars"), 4).as("p90_chars"),
          round(col("p99_chars"), 4).as("p99_chars"))
    }),
    "q_normalize" -> ((s, dir) => {
      // the synthetic corpus is pure ASCII, so decomposed combining
      // sequences (e+U+0301, i+U+0308) are appended first — the
      // oracle builds the identical suffix with chr() — making NFC
      // composition and accent stripping observable in the digests
      val d = t(s, dir, "documents")
      val aug = concat(col("text"), lit(" café naïve "), col("doc_id").cast("string"))
      d.select(
        col("doc_id"),
        length(aug).cast("long").as("n_raw"),
        length(TextAnalysis.nfcNormalize(aug)).cast("long").as("n_nfc"),
        md5(TextAnalysis.nfcNormalize(aug)).as("nfc_fp"),
        md5(TextAnalysis.stripAccents(aug)).as("ascii_fp"))
    }),
    "q_c4_clean" -> ((s, dir) => {
      // the synthetic docs are single-line with no terminal
      // punctuation, so a lined corpus is derived first (5-word
      // lines, '.' appended to even lines — reproduced by the
      // oracle): alternating lines then fail the punctuation rule,
      // short tail lines fail the word minimum, and docs left under
      // minKeptLines drop entirely
      val d = t(s, dir, "documents")
      // stage the word array as an attribute: slicing an inlined
      // split expression inside the transform lambda would re-split
      // the text once per derived line
      val staged = d.select(col("doc_id"), Dedup.splitWords(col("text")).as("__ws__"))
      val ws = col("__ws__")
      val lines = transform(sequence(lit(0), ceil(size(ws) / lit(5.0)).cast("int") - 1), i =>
        concat(array_join(slice(ws, i * 5 + 1, lit(5)), " "),
          when(i % 2 === 0, lit(".")).otherwise(lit(""))))
      val lined = staged.select(col("doc_id"), array_join(lines, "\n").as("text"))
      TextAnalysis.c4Clean(lined, "doc_id", "text", minWordsPerLine = 5, minKeptLines = 3)
        .select(col("doc_id"), col("n_lines_kept").cast("long").as("n_lines_kept"),
          col("text_clean"))
    }),
    "q_mixture" -> ((s, dir) => {
      // src0 upweighted to 2.5 epochs, src1 kept at 25%, src2
      // dropped, everything else passes through once
      val d = t(s, dir, "documents")
      Sampling.mixtureSample(d, "source",
        Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 0.0),
        keyCols = Seq("doc_id"), salt = "m1")
        .select(col("doc_id"), col("source"), col("copy"))
    }),
    "q_shuffle_rank" -> ((s, dir) => {
      // deterministic global permutation rank (epoch shuffle for
      // training export): md5 order, computed by the packSequences
      // distributed prefix sum — no global sort funnel. The oracle
      // replays it with a plain global window (its engine, its
      // choice); the values must match exactly
      Sampling.shuffleRank(
          t(s, dir, "documents").select("doc_id"), Seq("doc_id"), salt = "epoch1")
        .select("doc_id", "shuffle_rank")
    }),
    "q_pack" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Sampling.packSequences(d, "doc_id", "n_chars", capacity = 2048L, salt = "p1")
    }),
    "q_tfidf" -> ((s, dir) => {
      // top-3 words per doc; ORDER ON EXACT INTEGERS (tf desc, df asc,
      // word asc) — ranking on the float tfidf would be nondeterministic
      // across engines at equal values
      val d = t(s, dir, "documents")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("word").asc)
      TextAnalysis.tfIdf(d, "doc_id", "text")
        .withColumn("__rn__", row_number().over(w))
        .where(col("__rn__") <= 3)
        .select(col("doc_id"), col("word"), col("tf"), col("df"), round(col("tfidf"), 6).as("tfidf"))
    }),
    // ---- pipeline: dedup -----------------------------------------
    "q_dedup_exact_groups" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.exactGroups(d, "doc_id", "text")
    }),
    "q_dedup_exact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.dedupExact(d, "doc_id", "text").select("doc_id")
    }),
    "q_minhash_candidates" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val (out, cleanup) =
        Dedup.minhashCandidatesWithCleanup(d, "doc_id", "text", shingleWords = 3, numHashes = 8, bands = 4)
      Cleanup.deferFragile(cleanup)
      out
    }),
    "q_cross_neardup" -> ((s, dir) => {
      // FUZZY decontamination candidates: eval slice (the %37
      // convention the exact-overlap contamination queries use)
      // near-matched against the training remainder via bipartite
      // banded MinHash. Eight one-hash bands (vs the self-join
      // family's four two-hash bands): decontamination wants recall,
      // and the wider gate also gives the sf0.01 driver check tens of
      // rows to hash rather than one (VERDICT r13 "what's wrong" #3).
      val d = t(s, dir, "documents")
      val (out, cleanup) = Dedup.crossCorpusCandidatesWithCleanup(
        d.where(col("doc_id") % 37 === 0), d.where(col("doc_id") % 37 =!= 0),
        "doc_id", "text", shingleWords = 3, numHashes = 8, bands = 8)
      Cleanup.deferFragile(cleanup)
      out
    }),
    "q_cross_neardup_verified" -> ((s, dir) => {
      // the fuzzy-decontamination DECISION end-to-end (VERDICT r13
      // missing #1): exact word-shingle Jaccard verified on the
      // bipartite candidates, `dropped` = the thresholded keep/drop
      // call a pipeline subtracts from the training set — every
      // candidate row is kept with its exact score so the decision
      // stays auditable
      val d = t(s, dir, "documents")
      val (out, cleanup) = Dedup.crossCorpusVerifiedWithCleanup(
        d.where(col("doc_id") % 37 === 0), d.where(col("doc_id") % 37 =!= 0),
        "doc_id", "text", shingleWords = 3, numHashes = 8, bands = 8,
        dropThreshold = 0.5)
      Cleanup.deferFragile(cleanup)
      out.select(col("id_a"), col("id_b"), col("n_band_matches"),
        round(col("jac"), 6).as("jac"), col("dropped").cast("int").as("dropped"))
    }),
    "q_dedup_incremental" -> ((s, dir) => {
      // the rolling-crawl shape: batch A's fingerprints go through
      // the PERSISTED parquet store (never re-tokenized), batch B is
      // MinHashed fresh and joined against the store — and the result
      // must equal the one-shot minhash candidates over A ∪ B bit for
      // bit (the oracle is the plain full-corpus minhash CTE), which
      // pins the store round-trip, the union, and the combined-size
      // hot-bucket cap all at once
      val d = t(s, dir, "documents")
      val batchA = d.where(col("doc_id") % 2 === 0)
      val batchB = d.where(col("doc_id") % 2 =!= 0)
      val path = new java.io.File(
        s"target/graft-sink/${new java.io.File(dir).getName}/minhash_store").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.pipeline.IncrementalDedup.writeBatchFingerprints(
        batchA, "doc_id", "text", path, batchLabel = "a")
      val store = graft.pipeline.IncrementalDedup.readStore(s, path, "doc_id")
      val (out, cleanup) = graft.pipeline.IncrementalDedup.candidatesWithStoreCleanup(
        store, batchB, "doc_id", "text", newPairsOnly = false)
      Cleanup.deferFragile(cleanup)
      out
    }),
    "q_simhash" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          transform(split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " "), w => md5(w)).as("__md5s__"))
        .select(col("doc_id"), Dedup.simhashFromMd5s(col("__md5s__"), 16).as("sh"))
    }),
    "q_ngram_jaccard" -> ((s, dir) => {
      // scale-true composition (VERDICT r3 #7): pair generation comes
      // from banded-LSH minhash candidates — NO all-pairs stage — and
      // exact Jaccard is verified only on the candidate pairs, with
      // each document tokenized/shingled exactly once
      val d = t(s, dir, "documents")
      val (out, cleanup) = Dedup.jaccardCandidatesWithCleanup(d, "doc_id", "text")
      Cleanup.deferFragile(cleanup)
      out.select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
    }),
    "q_neardup_groups" -> ((s, dir) => nearDupClusters(s, dir)),
    "q_neardup_keep" -> ((s, dir) => {
      // deduplicated-corpus materialization: longest doc per cluster —
      // derived from the SAME shared cluster frame as q_neardup_groups
      // (the LSH+Jaccard+CC pipeline runs once, not once per consumer)
      val d = t(s, dir, "documents")
      Dedup.nearDupRepresentativesFromClusters(d, nearDupClusters(s, dir), "doc_id", "text", keepLongest = true)
        .select(col("doc_id"), col("cluster"))
    }),
    "q_simhash_candidates" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // cap at 100 here: the synthetic corpus draws from a ~30-word
      // vocabulary, so topic-level simhash buckets are pathologically
      // dense; real corpora keep the 1000 default
      val (out, cleanup) =
        Dedup.simhashCandidatesWithCleanup(d, "doc_id", "text", bits = 32, bands = 4, maxHamming = 3, maxBucketSize = 100)
      Cleanup.deferFragile(cleanup)
      out
    }),
    "q_embed_neardups" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").withColumn("emb", col("embedding").cast("array<double>"))
      // maxBlockSize=30 BINDS on the ~50-row synthetic labels, so the
      // oracle replays the participation cap, not just the happy path
      Dedup.embeddingNearDups(e, "vec_id", "emb", Seq("label"), 0.25, maxBlockSize = 30)
        .select(col("label"), col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
    }),
    "q_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").withColumn("emb", col("embedding").cast("array<double>"))
      // the 100 TB shape: cells from a FITTED quantizer (one Lloyd
      // round over the 16-centroid md5 draw — balanced cells, unlike
      // the uniform draw) plus a hot-cell cap bounding the quadratic
      // stage; both mirrored in the oracle CTE-for-CTE
      val cents = Similarity.kmeansCentroids(e, "vec_id", "emb", k = 16, iters = 1)
      val (out, cleanup) = Dedup.semDedupWithCleanup(e, "vec_id", "emb", threshold = 0.25,
        centroids = Some(cents), maxCellSize = 1000)
      Cleanup.deferFragile(cleanup)
      out.select(col("vec_id"), col("label"))
    }),
    // ---- pipeline: similarity ------------------------------------
    "q_ann_ivf_int8" -> ((s, dir) => {
      // compressed IVF serving: float cell routing (broadcast
      // centroids), int8-code scoring inside the probed cells — the
      // joins that carry corpus volume move 4x fewer bytes
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").as("emb"))
      val q = e.where(col("vec_id") % 50 === 0)
      Similarity.ivfInt8TopK(e, q, "vec_id", "emb", k = 5,
        nlist = Similarity.AutoNlist)
    }),
    "q_ann_int8" -> ((s, dir) => {
      // int8-quantized brute-force cosine: the 4x-compressed serving
      // path. Scales cancel out of the cosine ratio, so scoring is
      // integer dot products; the oracle replays the quantization
      // (round(x / (max|x|/127))) and the integer-exact scoring
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").as("emb"))
      val q = e.where(col("vec_id") % 50 === 0)
      Similarity.int8TopK(e, q, "vec_id", "emb", k = 5)
    }),
    "q_ann_bruteforce" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") % 50 === 0)
      Similarity.bruteForceTopK(e, q, "vec_id", "emb", k = 5)
    }),
    "q_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") % 50 === 0)
      Similarity.lshTopK(e, q, "vec_id", "emb", k = 5, dims = 64, planes = 8, probes = 2)
    }),
    "q_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") % 50 === 0)
      // nlist derived from the corpus (max(16, ceil(sqrt(n))) over the
      // nonzero vectors) so cell size — and with it per-probe cost —
      // grows as sqrt(corpus), not linearly; the oracle re-derives the
      // same count from the same filtered set
      Similarity.ivfTopK(e, q, "vec_id", "emb", k = 5,
        nlist = Similarity.AutoNlist, nprobe = 4)
    }),
    "q_rand_proj" -> ((s, dir) => {
      // JL reduction 64 -> 8 dims; the oracle recomputes every
      // component from the same md5-derived plane matrix
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val r = Similarity.randomProjection(e, "emb", "rp", dims = 64, k = 8)
      // + 0.0 canonicalizes IEEE signed zero: a component that rounds
      // to exactly zero can carry either sign depending on summation
      // direction, and -0.0 vs 0.0 hash-mismatches (seen at sf10)
      r.select(col("vec_id") +: (0 until 8).map(i =>
        (round(element_at(col("rp"), i + 1), 6) + lit(0.0)).as(s"c$i")): _*)
    }),
    "q_ann_ivf_store" -> ((s, dir) => {
      // the PERSISTED index round-trip: build the cell-partitioned
      // layout on disk, then serve the same queries from it — the
      // q_ann_ivf oracle gates that the disk path (partition-pruned
      // scan, stored norms) reproduces the in-memory operator exactly
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val path = new java.io.File(
        s"target/graft-ivf/${new java.io.File(dir).getName}/idx").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      // same derived-nlist sizing as q_ann_ivf: the stored layout gets
      // ~sqrt(n) cells of ~sqrt(n) rows, so a probed-partition scan
      // stays sub-linear as the index grows
      graft.pipeline.IvfIndex.build(e, "vec_id", "emb", path,
        nlist = Similarity.AutoNlist)
      val q = e.where(col("vec_id") % 50 === 0)
      graft.pipeline.IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5, nprobe = 4)
    }),
    "q_ann_ivf_store_int8" -> ((s, dir) => {
      // the COMPRESSED persisted index: same float routing as the
      // stored-float path, but cells hold int8 codes + scale + code
      // norms (~4-6x smaller on disk — the artifact that dominates at
      // 100 TB); serving quantizes the queries and scores quantized
      // cosine, replaying the q_ann_ivf_int8 oracle exactly
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val path = new java.io.File(
        s"target/graft-ivf/${new java.io.File(dir).getName}/idx8").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.pipeline.IvfIndex.build(e, "vec_id", "emb", path,
        nlist = Similarity.AutoNlist, int8 = true)
      val q = e.where(col("vec_id") % 50 === 0)
      graft.pipeline.IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5, nprobe = 4)
    }),
    "q_recall_report" -> ((s, dir) => {
      // the nprobe-sizing surface: measured recall@k vs brute force
      // per (nlist, nprobe) — fully deterministic (truth and serving
      // are both oracle-replayable), so the report itself is gated.
      // Config 3 exercises AutoNlist resolution in the output.
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") % 50 === 0)
      Similarity.recallReport(e, q, "vec_id", "emb", k = 5,
        configs = Seq((16, 2), (16, 4), (Similarity.AutoNlist, 4)))
    }),
    "q_ann_ivf_store_pq" -> ((s, dir) => {
      // the PQ-compressed persisted index — the next compression rung
      // after int8: cells hold m rank-index codes + a reconstruction
      // norm (dims*8 bytes -> ~m*2 + 8), the fitted codebooks live in
      // a _codebooks/ sidecar, and serving scores candidates by ADC
      // (per-query LUT + m adds per pair) inside the probed cells —
      // replaying the q_ann_pq oracle exactly
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val path = new java.io.File(
        s"target/graft-ivf/${new java.io.File(dir).getName}/idxpq").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.pipeline.IvfIndex.buildPq(e, "vec_id", "emb", path, dims = 64,
        m = 4, ksub = 8, iters = 1, nlist = Similarity.AutoNlist)
      val q = e.where(col("vec_id") % 50 === 0)
      graft.pipeline.IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5, nprobe = 4)
    }),
    "q_ann_ivf_store_pq_residual" -> ((s, dir) => {
      // the RESIDUAL (IVFADC) persisted index (r17): cells hold L2
      // codes of x - c_cell(x) plus the full-reconstruction norm
      // |c_cell + r_hat|; serving adds the per-(query, cell)
      // dot(q, c_cell) term to the ADC sum — replaying the
      // q_ann_pq_residual oracle exactly
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val path = new java.io.File(
        s"target/graft-ivf/${new java.io.File(dir).getName}/idxpqr").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.pipeline.IvfIndex.buildPq(e, "vec_id", "emb", path, dims = 64,
        m = 4, ksub = 8, iters = 1, nlist = Similarity.AutoNlist, residual = true)
      val q = e.where(col("vec_id") % 50 === 0)
      graft.pipeline.IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5, nprobe = 4)
    }),
    "q_ann_filtered" -> ((s, dir) => {
      // FILTERED ANN (r17): the index stores a payload column
      // (label) in its cell rows, and serving pushes the predicate
      // into the probed-cell parquet scan — k fills from MATCHING
      // rows, where post-filtering a plain top-k would under-fill it
      // whenever non-matching neighbors crowd the window. The oracle
      // applies the same predicate before its rank window.
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"), col("label"))
      val path = new java.io.File(
        s"target/graft-ivf/${new java.io.File(dir).getName}/idxfilt").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.pipeline.IvfIndex.build(e, "vec_id", "emb", path,
        nlist = Similarity.AutoNlist, payloadCols = Seq("label"))
      val q = e.where(col("vec_id") % 50 === 0).select("vec_id", "emb")
      graft.pipeline.IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5,
        nprobe = 4, filter = Some(col("label") === 3))
    }),
    "q_ann_filtered_pq" -> ((s, dir) => {
      // FILTERED ANN over the COMPRESSED layout (r18): the PQ store
      // carries the payload column in its cell rows, and serving
      // pushes the predicate into the probed-cell parquet scan next
      // to the cent_id partition filters — the license/language-
      // filtered compressed serve a production pipeline actually
      // runs. The oracle replays the PQ fit and applies the same
      // predicate before its rank window.
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"), col("label"))
      val path = new java.io.File(
        s"target/graft-ivf/${new java.io.File(dir).getName}/idxfpq").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.pipeline.IvfIndex.buildPq(e, "vec_id", "emb", path, dims = 64,
        m = 4, ksub = 8, iters = 1, nlist = Similarity.AutoNlist,
        payloadCols = Seq("label"))
      val q = e.where(col("vec_id") % 50 === 0).select("vec_id", "emb")
      graft.pipeline.IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5,
        nprobe = 4, filter = Some(col("label") === 3))
    }),
    "q_ann_filtered_pq_residual" -> ((s, dir) => {
      // filtered ANN over the RESIDUAL (IVFADC) layout (r18): payload
      // rides the unit-copied residual cell rows, the predicate pushes
      // into the probed scan, and the per-(query, cell) dot(q, c_cell)
      // term still decomposes the ADC score — the full compression
      // ladder now serves the filtered shape, oracle-gated end to end
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"), col("label"))
      val path = new java.io.File(
        s"target/graft-ivf/${new java.io.File(dir).getName}/idxfpqr").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.pipeline.IvfIndex.buildPq(e, "vec_id", "emb", path, dims = 64,
        m = 4, ksub = 8, iters = 1, nlist = Similarity.AutoNlist,
        residual = true, payloadCols = Seq("label"))
      val q = e.where(col("vec_id") % 50 === 0).select("vec_id", "emb")
      graft.pipeline.IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5,
        nprobe = 4, filter = Some(col("label") === 3))
    }),
    "q_ann_adaptive" -> ((s, dir) => {
      // SELECTIVITY-AWARE probing (r18): base nprobe=2 widens by the
      // measured label=3 selectivity over the probed cells
      // (min(nlist, ceil(2·n/m))) before the filtered serve. The
      // widening is a pure function of the corpus, so the oracle
      // re-derives the same counts, the same widened nprobe, and the
      // same filtered rank window — the auto-tuning is hash-checked,
      // not just spec-pinned.
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"), col("label"))
      val path = new java.io.File(
        s"target/graft-ivf/${new java.io.File(dir).getName}/idxadapt").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.pipeline.IvfIndex.build(e, "vec_id", "emb", path,
        nlist = Similarity.AutoNlist, payloadCols = Seq("label"))
      val q = e.where(col("vec_id") % 50 === 0).select("vec_id", "emb")
      graft.pipeline.IvfIndex.searchTopKAdaptive(s, path, q, "vec_id", "emb",
        k = 5, nprobe = 2, filter = Some(col("label") === 3))
    }),
    "q_ann_adaptive_pq" -> ((s, dir) => {
      // SELECTIVITY-AWARE probing over the COMPRESSED layout (r19):
      // the PQ store carries the payload, the base nprobe=2 widens by
      // the measured label=3 selectivity over the probed cells, and
      // the widened serve is the filtered ADC scan — compressed bytes
      // + pushed filter + auto-sized nprobe, the serve a production
      // pipeline actually runs. The widening and the ADC math both
      // replay in the oracle, so the whole chain is hash-checked.
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"), col("label"))
      val path = new java.io.File(
        s"target/graft-ivf/${new java.io.File(dir).getName}/idxadaptpq").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.pipeline.IvfIndex.buildPq(e, "vec_id", "emb", path, dims = 64,
        m = 4, ksub = 8, iters = 1, nlist = Similarity.AutoNlist,
        payloadCols = Seq("label"))
      val q = e.where(col("vec_id") % 50 === 0).select("vec_id", "emb")
      graft.pipeline.IvfIndex.searchTopKAdaptive(s, path, q, "vec_id", "emb",
        k = 5, nprobe = 2, filter = Some(col("label") === 3))
    }),
    "q_ann_adaptive_pq_residual" -> ((s, dir) => {
      // the adaptive serve on the RESIDUAL (IVFADC) rung (r19): same
      // estimate→widen chain, with the per-(query, cell) dot(q, c)
      // term decomposing the widened ADC score — the last unverified
      // combination on the serving surface (VERDICT r18 top-next)
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"), col("label"))
      val path = new java.io.File(
        s"target/graft-ivf/${new java.io.File(dir).getName}/idxadaptpqr").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.pipeline.IvfIndex.buildPq(e, "vec_id", "emb", path, dims = 64,
        m = 4, ksub = 8, iters = 1, nlist = Similarity.AutoNlist,
        residual = true, payloadCols = Seq("label"))
      val q = e.where(col("vec_id") % 50 === 0).select("vec_id", "emb")
      graft.pipeline.IvfIndex.searchTopKAdaptive(s, path, q, "vec_id", "emb",
        k = 5, nprobe = 2, filter = Some(col("label") === 3))
    }),
    "q_ann_adaptive_hist" -> ((s, dir) => {
      // HISTOGRAM-BOUNDED adaptive probing (r19, VERDICT r18 #2): the
      // store keeps a per-cell payload histogram, the predicate names
      // a RARE derived label (~1%), and maxProbe=12 caps the widening
      // — the zero-match estimate that r18 answered with a FULL probe
      // now probes at most min(12, nlist) cells, and only the cells
      // the histogram says contain matches. The histogram, the cap,
      // and the widened rank window are all pure functions of the
      // corpus, so the oracle re-derives them exactly.
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"),
        when(col("vec_id") % 97 === 0, lit(99)).otherwise(col("label")).as("label"))
      val path = new java.io.File(
        s"target/graft-ivf/${new java.io.File(dir).getName}/idxadapthist").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.pipeline.IvfIndex.build(e, "vec_id", "emb", path,
        nlist = Similarity.AutoNlist, payloadCols = Seq("label"),
        histogramCols = Seq("label"))
      val q = e.where(col("vec_id") % 50 === 0).select("vec_id", "emb")
      graft.pipeline.IvfIndex.searchTopKAdaptive(s, path, q, "vec_id", "emb",
        k = 5, nprobe = 2, filter = Some(col("label") === 99), maxProbe = 12)
    }),
    "q_ann_pq_refine" -> ((s, dir) => {
      // IVFPQ+REFINE (r19): the store carries the int8 triple next to
      // the PQ ranks, ADC shortlists the top 20 candidates per query,
      // and one exact integer-dot re-rank keeps the top 5 — the rung
      // that recovers the candidate ordering the 8-byte codes lose
      // (ADC recall saturates at the quantization ceiling; the sf1
      // frontier tops out near 0.23 recall@10 at a FULL probe). Both
      // stages replay in the oracle: the ADC rank window at 20, then
      // the int8 quantize-round-trip rescoring at 5.
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val path = new java.io.File(
        s"target/graft-ivf/${new java.io.File(dir).getName}/idxpqref").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.pipeline.IvfIndex.buildPq(e, "vec_id", "emb", path, dims = 64,
        m = 4, ksub = 8, iters = 1, nlist = Similarity.AutoNlist, refineInt8 = true)
      val q = e.where(col("vec_id") % 50 === 0)
      graft.pipeline.IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5,
        nprobe = 4, refine = 20)
    }),
    "q_ann_pq_refine_residual" -> ((s, dir) => {
      // refine on the RESIDUAL (IVFADC) rung (r19): the int8 triple
      // quantizes the FULL vector (it must carry verbatim through the
      // compaction-only rebuild), the ADC shortlist uses the residual
      // decomposition, and the re-rank is the same exact integer dot
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val path = new java.io.File(
        s"target/graft-ivf/${new java.io.File(dir).getName}/idxpqrref").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.pipeline.IvfIndex.buildPq(e, "vec_id", "emb", path, dims = 64,
        m = 4, ksub = 8, iters = 1, nlist = Similarity.AutoNlist, residual = true,
        refineInt8 = true)
      val q = e.where(col("vec_id") % 50 === 0)
      graft.pipeline.IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5,
        nprobe = 4, refine = 20)
    }),
    "q_ann_refine_full" -> ((s, dir) => {
      // the FULL production serve (r19): compressed bytes (PQ ranks +
      // int8 refine triple) + payload filter pushed into the probed
      // scan + selectivity-widened nprobe + exact re-rank of the
      // filtered shortlist — every serving feature composed in one
      // oracle-gated chain (estimate → widen → filtered ADC →
      // refine), hash-checked end to end
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"), col("label"))
      val path = new java.io.File(
        s"target/graft-ivf/${new java.io.File(dir).getName}/idxreffull").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.pipeline.IvfIndex.buildPq(e, "vec_id", "emb", path, dims = 64,
        m = 4, ksub = 8, iters = 1, nlist = Similarity.AutoNlist,
        payloadCols = Seq("label"), refineInt8 = true)
      val q = e.where(col("vec_id") % 50 === 0).select("vec_id", "emb")
      graft.pipeline.IvfIndex.searchTopKAdaptive(s, path, q, "vec_id", "emb",
        k = 5, nprobe = 2, filter = Some(col("label") === 3), refine = 20)
    }),
    "q_ann_ivf_store_pq_big" -> ((s, dir) => {
      // the REALISTIC PQ shape (r18): m=8 subspaces x 256 codewords
      // (64 bits/vector) — every init row keeps at least itself under
      // the rank-1 assignment, so one Lloyd round preserves all 256
      // codewords per subspace, and the stored ranks take the
      // tinyint(-128 offset) path; hash-checked end-to-end where r17
      // only spec-pinned it
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val path = new java.io.File(
        s"target/graft-ivf/${new java.io.File(dir).getName}/idxpqbig").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      graft.pipeline.IvfIndex.buildPq(e, "vec_id", "emb", path, dims = 64,
        m = 8, ksub = 256, iters = 1, nlist = Similarity.AutoNlist)
      val q = e.where(col("vec_id") % 50 === 0)
      graft.pipeline.IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5, nprobe = 4)
    }),
    "q_ann_ivf_fitted" -> ((s, dir) => {
      // the TRAINED-quantizer serving path: cells from one Lloyd
      // round over the md5 init draw (coherent cells are what keep
      // recall at the low probed fractions a large index serves at);
      // the oracle replays the training trajectory CTE-for-CTE and
      // then the standard IVF routing
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") % 50 === 0)
      val cents = Similarity.kmeansCentroids(e, "vec_id", "emb", k = 16, iters = 1)
      Similarity.ivfTopK(e, q, "vec_id", "emb", k = 5, nprobe = 4,
        centroids = Some(cents))
    }),
    "q_ann_pq" -> ((s, dir) => {
      // IVF-PQ: coarse cells prune candidates, fitted per-subspace
      // codebooks score them in the compressed domain (ADC) — the
      // memory/compute ANN path at corpus scale, fully oracle-replayed
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") % 50 === 0)
      Similarity.pqTopK(e, q, "vec_id", "emb", k = 5, dims = 64,
        m = 4, ksub = 8, iters = 1, nlist = Similarity.AutoNlist, nprobe = 4)
    }),
    "q_ann_pq_residual" -> ((s, dir) => {
      // canonical IVFADC (r17): the fine quantizer encodes the
      // residual x - c_cell(x) under an L2 rank rule, the ADC score
      // adds the per-(query, cell) dot(q, c_cell) term, and the same
      // m x ksub byte budget recalls measurably more than raw PQ —
      // the whole fit (residuals, L2 Lloyd, reconstruction norms)
      // replays in the oracle
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.where(col("vec_id") % 50 === 0)
      Similarity.pqTopK(e, q, "vec_id", "emb", k = 5, dims = 64,
        m = 4, ksub = 8, iters = 1, nlist = Similarity.AutoNlist, nprobe = 4,
        residual = true)
    }),
    "q_kmeans" -> ((s, dir) => {
      // trained coarse quantizer: 2 Lloyd rounds over the 8-centroid
      // md5 draw, then final cluster labels under the fitted model
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = Similarity.kmeansCentroids(e, "vec_id", "emb", k = 8, iters = 2)
      Similarity.kmeansAssign(e, cents, "vec_id", "emb")
    }),
    "q_dsir" -> ((s, dir) => {
      // importance weights toward the %37 eval-slice distribution —
      // the same target the contamination queries key on
      val d = t(s, dir, "documents")
      val (out, cleanup) = Sampling.dsirLogWeightsWithCleanup(
        d.where(col("doc_id") % 37 =!= 0), d.where(col("doc_id") % 37 === 0),
        "doc_id", "text", buckets = 256)
      Cleanup.deferFragile(cleanup)
      out.select(col("doc_id"), round(col("logw"), 6).as("logw"))
    }),
    // ---- pipeline: sampling --------------------------------------
    "q_sample_det" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Sampling.deterministicSample(d, Seq("doc_id"), fraction = 0.3, salt = "s1")
        .select("doc_id", "lang")
    }),
    "q_split_assign" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Sampling.assignSplit(d, Seq("doc_id"),
          Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1), salt = "s2")
        .select("doc_id", "split")
    }),
    "q_dedup_lines" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.dedupLines(d, "doc_id", "text")
    }),
    "q_cap_group" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // unbiased cap: preference order = hash of the id (+ id tiebreak)
      Sampling.capPerGroup(d, Seq("lang"), 50,
          Seq(md5(col("doc_id").cast("string")), col("doc_id")))
        .select("doc_id", "lang")
    }),
    // ---- pipeline: multimodal ------------------------------------
    "q_media_metadata" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.withMediaMetadata(d, "payload", "text/plain")
        .select("doc_id", "mime", "n_bytes", "digest")
    }),
    "q_media_frames" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.sampleFrames(d, "doc_id", "payload", frames = 4)
    }),
    "q_media_features" -> ((s, dir) => {
      // exploded to scalar (doc_id, dim, value) rows: the driver's
      // comparator sorts rows with pandas, which cannot sort an
      // array<float> column — and the lane-mean stub is integer-exact,
      // so the float32 values reproduce bit-for-bit in the oracle
      val d = t(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.extractFeatures(d, "doc_id", "payload", dims = 8)
        .select(col("doc_id"), posexplode(col("features")).as(Seq("dim", "value")))
        .select(col("doc_id"), col("dim"), round(col("value").cast("double"), 6).as("value"))
    }),
    "q_media_dims" -> ((s, dir) => {
      // REAL container-header parsing end to end (the q_load_sas
      // pattern for media): generate structurally valid PNG/JPEG/GIF/
      // WAV payloads with closed-form header fields (MediaFixture),
      // distributed across the range — no driver-side materialization
      // — then parse the bytes back through Multimodal.parseMediaHeader
      // and hash-compare against the oracle's closed form. Every 5th
      // payload is deliberate garbage: the parser must classify it
      // 'unknown' with null fields, not throw.
      val gen = udf((i: Long) => graft.testing.MediaFixture.payload(i))
      val df = s.range(0, 500).select(col("id"), gen(col("id")).as("payload"))
      Multimodal.withMediaMetadata(df, "payload", "application/octet-stream")
        .select("id", "format", "width", "height",
          "sample_rate", "channels", "bits_per_sample", "duration_ms")
    }),
    "q_audio_features" -> ((s, dir) => {
      // REAL PCM decode end to end: the WAV fixture rows' data bytes
      // are a closed-form byte stream, so the oracle recomputes every
      // decoded sample (8-bit centered / 16-bit LE signed), the peak
      // and the exact-integer sum of squares behind rms, in SQL
      val gen = udf((i: Long) => graft.testing.MediaFixture.payload(i))
      val df = s.range(0, 500).where(col("id") % 5 === 3)
        .select(col("id"), gen(col("id")).as("payload"))
      Multimodal.withAudioFeatures(df, "payload")
        .select(col("id"), col("n_samples"), col("peak"),
          round(col("rms"), 6).as("rms"))
    }),
    "q_image_features" -> ((s, dir) => {
      // REAL PNG decode end to end: zlib-inflate (java.util.zip) +
      // scanline unfiltering of fixture images whose pixels are a
      // closed-form function of (image, x, y, channel) — scanlines
      // cycle through all five PNG filter types, so the oracle's
      // per-channel means gate the full unfilter math
      val gen = udf((i: Long) => graft.testing.MediaFixture.imagePayload(i))
      val df = s.range(0, 200).select(col("id"), gen(col("id")).as("payload"))
      Multimodal.withImageFeatures(df, "payload")
        .select(col("id"), col("n_pixels"),
          round(col("mean_r"), 6).as("mean_r"), round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"), round(col("mean_a"), 6).as("mean_a"))
    }),
    "q_gif_features" -> ((s, dir) => {
      // REAL GIF LZW decode end to end: variable-width code stream ->
      // palette indices -> closed-form RGB; the oracle recomputes the
      // per-channel means from the index + palette formulas
      val gen = udf((i: Long) => graft.testing.MediaFixture.gifPayload(i))
      val df = s.range(0, 200).select(col("id"), gen(col("id")).as("payload"))
      Multimodal.withImageFeatures(df, "payload")
        .select(col("id"), col("n_pixels"),
          round(col("mean_r"), 6).as("mean_r"), round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    }),
    "q_jpeg_features" -> ((s, dir) => {
      // REAL baseline JPEG decode end to end: canonical Huffman ->
      // dequant -> IDCT -> crop. Constant-per-block grayscale is the
      // one content shape whose lossy round trip is exact, so the
      // oracle recomputes the mean from the closed-form block values.
      val gen = udf((i: Long) => graft.testing.MediaFixture.jpegPayload(i))
      val df = s.range(0, 200).select(col("id"), gen(col("id")).as("payload"))
      Multimodal.withImageFeatures(df, "payload")
        .select(col("id"), col("n_pixels"), round(col("mean_r"), 6).as("mean_r"))
    }),
    "q_audio_wide" -> ((s, dir) => {
      // the 24-bit signed PCM path + WAVE_FORMAT_EXTENSIBLE framing
      // (even ids), oracle-gated: the fixtures' full-range samples
      // are closed-form, so the oracle replays decode + peak + rms
      val gen = udf((i: Long) =>
        graft.testing.MediaFixture.wavPcmPayload(i, 3, 400, extensible = i % 2 == 0))
      val df = s.range(0, 150).select(col("id"), gen(col("id")).as("payload"))
      Multimodal.withAudioFeatures(df, "payload")
        .select(col("id"), col("n_samples"), col("peak"), round(col("rms"), 6).as("rms"))
    }),
    "q_image_embed" -> ((s, dir) => {
      // REAL decoded-pixel thumbnail embedding: adaptive 2x2 pooling
      // over the PNG fixtures' zlib-inflated pixels; the oracle pools
      // the same closed-form channel values in SQL
      val gen = udf((i: Long) => graft.testing.MediaFixture.imagePayload(i))
      val df = s.range(0, 200).select(col("id"), gen(col("id")).as("payload"))
      Multimodal.withImageEmbedding(df, "payload", grid = 2)
        .select(col("id"), posexplode(col("embedding")).as(Seq("dim", "value")))
        .select(col("id"), col("dim"), round(col("value").cast("double"), 6).as("value"))
    }),
    "q_gunzip" -> ((s, dir) => {
      // real gzip decode (java.util.zip) of closed-form members; every
      // 10th payload is truncated and must decode to null, not throw
      val gen = udf((i: Long) => graft.testing.WebFixture.gzipPayload(i))
      val df = s.range(0, 300).select(col("id"), gen(col("id")).as("payload"))
      WebIngest.withGunzippedText(df, "payload").select("id", "text")
    }),
    "q_warc" -> ((s, dir) => {
      // WARC record splitting: version line + case-insensitive headers
      // + Content-Length-framed bodies; the oracle replays the
      // closed-form envelopes and body digests
      val gen = udf((i: Long) => graft.testing.WebFixture.warcPayload(i))
      val df = s.range(0, 200).select(col("id"), gen(col("id")).as("payload"))
      WebIngest.warcRecords(df, "id", "payload")
    }),
    "q_bpe_count" -> ((s, dir) => {
      // real greedy BPE under a fixture merge table: the engine runs
      // the merge loop, the oracle emits the closed-form final count
      val gen = udf((i: Long) => graft.testing.TokenFixture.text(i))
      val df = s.range(0, 400).select(col("id"), gen(col("id")).as("text"))
      TextAnalysis.withBpeTokenCount(df, "text", graft.testing.TokenFixture.merges)
        .select("id", "n_bpe")
    }),
    "q_quality_model" -> ((s, dir) => {
      // fastText-style linear classifier inference: a deterministic
      // "trained" weight vector over 64 hashed n-gram buckets,
      // broadcast into the plan; the oracle refits nothing — it
      // replays the same buckets, weights and sigmoid
      val d = t(s, dir, "documents")
      val weights = Array.tabulate(64)(b => ((b * 37 + 11) % 201 - 100) / 100.0)
      TextAnalysis.scoreLinearModel(d, "doc_id", "text", weights, bias = 0.1)
    }),
    "q_quality_fit" -> ((s, dir) => {
      // TRAIN the quality classifier in-engine and score with it:
      // 5 full-batch GD steps (one distributed moment-agg each, the
      // RegBy recipe) against a weak "is English" label, per-step
      // gradients rounded so the oracle replays the exact trajectory
      // with unrolled CTEs, then fitted sigmoid scores for every doc
      val d = t(s, dir, "documents")
      TextAnalysis.logisticQualityScores(
        d, "doc_id", "text", label = col("lang") === "en", steps = 5)
    }),
    "q_html_text" -> ((s, dir) => {
      // HTML -> visible text: style/script/comment blocks dropped
      // whole (the script body even contains < and > operators),
      // entities decoded, whitespace collapsed; the oracle emits the
      // expected text closed-form
      val gen = udf((i: Long) => graft.testing.WebFixture.htmlPayload(i))
      val df = s.range(0, 300).select(col("id"), gen(col("id")).as("html"))
      WebIngest.withHtmlText(df, "html").select("id", "text")
    }),
    "q_dechunk" -> ((s, dir) => {
      // HTTP/1.1 chunked-framing decode: hex sizes, chunk extensions,
      // trailers; every 10th payload truncates mid-chunk -> null
      val gen = udf((i: Long) => graft.testing.WebFixture.chunkedPayload(i))
      val df = s.range(0, 300).select(col("id"), gen(col("id")).as("payload"))
      WebIngest.withDechunkedText(df, "payload").select("id", "text")
    }),
    "q_warc_http" -> ((s, dir) => {
      // the HTTP layer inside WARC response records: status line +
      // case-insensitive headers parsed for status/media type, digest
      // over the ENTITY body (requests keep their raw range); the
      // oracle replays envelopes and inner bytes closed-form
      val gen = udf((i: Long) => graft.testing.WebFixture.warcHttpPayload(i))
      val df = s.range(0, 200).select(col("id"), gen(col("id")).as("payload"))
      WebIngest.warcHttpRecords(df, "id", "payload")
    }),
    "q_kmv_distinct" -> ((s, dir) => {
      // KMV distinct sketch per source over the documents: the k
      // smallest md5 hashes are a pure order, so the oracle replays
      // the estimate exactly — the engine-portable alternative to HLL
      val d = t(s, dir, "documents")
      graft.pipeline.Sketch.kmvDistinctByGroup(d, Seq("source"), "text", k = 32)
    }),
    "q_robots_meta" -> ((s, dir) => {
      // the politeness/discovery half of robots.txt: the selected
      // group's Crawl-delay per UA and the file-global Sitemap list
      val genR = udf((i: Long) => graft.testing.UrlFixture.robotsTxt(i))
      val genU = udf((i: Long) => graft.testing.UrlFixture.robotsUa(i))
      val df = s.range(0, 600).select(col("id"),
        genR(col("id")).as("robots"), genU(col("id")).as("ua"))
      UrlOps.withRobotsMeta(df, "robots", "ua")
        .select(col("id"), col("crawl_delay"),
          array_join(col("sitemaps"), ",").as("sitemaps"))
    }),
    "q_charset" -> ((s, dir) => {
      // charset sniffing + decode over raw crawl bytes: BOMs,
      // Content-Type charset params, HTML meta declarations, strict
      // UTF-8 validation, windows-1252 terminal fallback — the step
      // between the HTTP envelope and every text operator
      val genP = udf((i: Long) => graft.testing.WebFixture.charsetPayload(i))
      val genD = udf((i: Long) => graft.testing.WebFixture.charsetDeclared(i))
      val df = s.range(0, 300).select(col("id"),
        genP(col("id")).as("payload"), genD(col("id")).as("ctype"))
      WebIngest.withDecodedText(df, "payload", "ctype").select("id", "charset", "text")
    }),
    "q_sitemap" -> ((s, dir) => {
      // sitemap.xml discovery surface: urlset pages and sitemapindex
      // children in one frame, entity-decoded whitespace-trimmed
      // locs, optional lastmod — all codegen'd regex builtins, zero
      // UDFs; non-sitemap payloads contribute no rows
      val gen = udf((i: Long) => graft.testing.UrlFixture.sitemapXml(i))
      val df = s.range(0, 300).select(col("id"), gen(col("id")).as("xml"))
      UrlOps.sitemapEntries(df, "id", "xml")
    }),
    "q_media_chain" -> ((s, dir) => {
      // the BINARY end-to-end chain (text twin: EndToEndPipelineSpec):
      // tar archives of media payloads → USTAR walk → codegen'd
      // member byte slices → media-header dispatch, one composed
      // per-row pipeline whose oracle replays the archive layout AND
      // the media fields closed-form at index i*3+j (every 5th
      // member is garbage the parser must classify 'unknown')
      val gen = udf((i: Long) => graft.testing.WebFixture.mediaTarPayload(i))
      val df = s.range(0, 150).select(col("id"), gen(col("id")).as("payload"))
      val members = WebIngest.tarMemberBytesRows(df, "id", "payload")
      Multimodal.withMediaMetadata(
          members.withColumnRenamed("bytes", "payload"), "payload", "application/octet-stream")
        .select("id", "member_idx", "name", "format", "width", "height",
          "sample_rate", "channels", "bits_per_sample", "duration_ms")
    }),
    "q_tar_members" -> ((s, dir) => {
      // USTAR archive walk: 512-byte headers with VERIFIED checksums,
      // octal sizes, block-aligned bodies; digests over the member
      // ranges by codegen'd builtins. Every 7th payload truncates
      // after the last header and must yield exactly nm-1 members
      val gen = udf((i: Long) => graft.testing.WebFixture.tarPayload(i))
      val df = s.range(0, 200).select(col("id"), gen(col("id")).as("payload"))
      WebIngest.tarMemberRows(df, "id", "payload")
    }),
    "q_zip_members" -> ((s, dir) => {
      // zip central-directory walk: STORED and DEFLATE members both
      // decode (digests are method-independent), CRC32 verified per
      // member; every 9th payload has a corrupt EOCD and vanishes
      val gen = udf((i: Long) => graft.testing.WebFixture.zipPayload(i))
      val df = s.range(0, 200).select(col("id"), gen(col("id")).as("payload"))
      WebIngest.zipMemberRows(df, "id", "payload")
    }),
    "q_repeated_spans" -> ((s, dir) => {
      // ExactSubstr self-dedup (Lee et al. 2021), distributed: every
      // maximal region whose 40-char windows occur more than once in
      // the corpus, as excisable character spans. stride=1, so the
      // suffix-array guarantee holds: any >=40-char repeat is caught
      val d = t(s, dir, "documents")
      val (out, cleanup) = graft.pipeline.Dedup
        .repeatedSubstringSpansWithCleanup(d, "doc_id", "text", window = 40)
      Cleanup.deferFragile(cleanup)
      out
    }),
    "q_bloom" -> ((s, dir) => {
      // deterministic Bloom filter (crawl-frontier seen-set): build
      // over the corpus vocabulary, probe known words (must all read
      // true — no false negatives) plus 500 synthetic unseen probes
      // (mostly false; the deterministic md5 bit pattern makes the
      // false POSITIVES replayable too, so the oracle matches
      // exactly rather than statistically)
      val d = t(s, dir, "documents")
      val vocab = d.where(col("text").isNotNull)
        .select(explode(split(col("text"), " ")).as("v")).distinct()
      val bloom = graft.pipeline.Sketch.bloomBuild(vocab, "v", mBits = 65536, hashes = 4)
      val seen = vocab.where(col("v").startsWith("a"))
      val unseen = s.range(0, 500).select(concat(lit("probe"), col("id")).as("v"))
      graft.pipeline.Sketch.bloomProbe(bloom, seen.unionByName(unseen), "v", mBits = 65536, hashes = 4)
        .select(col("v").as("word"), col("maybe_seen"))
    }),
    "q_cms_counts" -> ((s, dir) => {
      // count-min sketch frequencies: 4x64 deterministic md5-bucket
      // state over the word stream (small w, so collisions are real
      // and the min-over-rows matters), probed for the full
      // vocabulary and joined with exact counts — the oracle replays
      // both and the estimate over-counts only
      val d = t(s, dir, "documents")
      val words = d.where(col("text").isNotNull)
        .select(explode(split(col("text"), " ")).as("word"))
      val sk = graft.pipeline.Sketch.countMinSketch(words, "word", d = 4, w = 64)
      val est = graft.pipeline.Sketch.cmsLookup(sk, words, "word", d = 4, w = 64)
      val exact = words.groupBy(col("word")).agg(count(lit(1)).as("exact_count"))
      est.join(exact, Seq("word")).select(col("word"), col("cms_count"), col("exact_count"))
    }),
    "q_kmv_overlap" -> ((s, dir) => {
      // KMV set algebra between corpus slices: union / intersection /
      // Jaccard per source pair from the merged k-minimum-values
      // states — over the word vocabulary, where slices genuinely
      // overlap (whole texts never repeat across sources). k=16 <
      // per-source vocab keeps the ESTIMATION branch live
      val d = t(s, dir, "documents")
      val words = d.where(col("text").isNotNull)
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
      graft.pipeline.Sketch.kmvOverlapByGroup(words, "source", "word", k = 16)
    }),
    "q_robots" -> ((s, dir) => {
      // RFC 9309 robots.txt evaluation: longest-UA group selection,
      // longest-pattern decision with Allow tie-wins, anchored and
      // wildcard patterns; the oracle emits the expected verdicts
      val genR = udf((i: Long) => graft.testing.UrlFixture.robotsTxt(i))
      val genU = udf((i: Long) => graft.testing.UrlFixture.robotsUa(i))
      val genP = udf((i: Long) => graft.testing.UrlFixture.robotsPath(i))
      val df = s.range(0, 600).select(col("id"),
        genR(col("id")).as("robots"), genU(col("id")).as("ua"), genP(col("id")).as("path"))
      UrlOps.withRobotsDecision(df, "robots", "ua", "path").select("id", "allowed")
    }),
    "q_pagerank" -> ((s, dir) => {
      // PageRank over a closed-form web graph (every 10th node
      // dangling, two outlinks otherwise); the oracle replays the
      // power iteration with unrolled CTEs, dangling mass included
      val src = s.range(0, 100).where(col("id") % 10 =!= 7)
      val e = src.select(col("id").as("src"), ((col("id") * 3 + 1) % 100).as("dst"))
        .unionByName(src.select(col("id").as("src"), ((col("id") * 7 + 2) % 100).as("dst")))
      val (out, cleanup) = Graph.pageRankWithCleanup(e, "src", "dst", iters = 3)
      Cleanup.deferFragile(cleanup)
      out
    }),
    "q_pagerank_host" -> ((s, dir) => {
      // domain-level centrality: the same fixture pages labeled with
      // URLs on 12 hosts (mixed case + www. to exercise host
      // canonicalization), collapsed to the distinct inter-host edge
      // list, then the same power iteration — the crawl-prioritizer's
      // which-DOMAINS-matter view
      val src = s.range(0, 100).where(col("id") % 10 =!= 7)
      def url(c: Column): Column =
        concat(lit("https://WWW.Host"), c % 12, lit(".example.com/p/"), c)
      val e = src.select(url(col("id")).as("src_url"), url((col("id") * 3 + 1) % 100).as("dst_url"))
        .unionByName(src.select(url(col("id")).as("src_url"), url((col("id") * 7 + 2) % 100).as("dst_url")))
      val (out, cleanup) = Graph.pageRankWithCleanup(
        Graph.hostEdges(e, "src_url", "dst_url"), "host_src", "host_dst", iters = 3)
      Cleanup.deferFragile(cleanup)
      out
    }),
    "q_outlinks" -> ((s, dir) => {
      // outlink extraction + RFC 3986 reference resolution +
      // canonicalization: one fixture href per resolution rule; the
      // oracle emits the expected resolved URLs directly
      val genUrl = udf((i: Long) => graft.testing.UrlFixture.pageUrl(i))
      val genHtml = udf((i: Long) => graft.testing.UrlFixture.pageHtml(i))
      val df = s.range(0, 300).select(col("id"),
        genUrl(col("id")).as("url"), genHtml(col("id")).as("html"))
      UrlOps.outlinks(df, "id", "url", "html")
    }),
    "q_url_canon" -> ((s, dir) => {
      // crawl-style URL canonicalization over closed-form messy
      // fixtures (five messiness variants per canonical class); the
      // oracle emits the expected canonical string directly — the
      // answer, not a parser reimplementation
      val gen = udf((i: Long) => graft.testing.UrlFixture.messyUrl(i))
      val df = s.range(0, 500).select(col("id"), gen(col("id")).as("url"))
      UrlOps.withCanonicalUrl(df, "url").select("id", "url_canon")
    }),
    "q_url_dedup" -> ((s, dir) => {
      // earliest-crawl-wins dedup on the canonical key: the five
      // messy variants of class n collapse to the lowest id (= n)
      val gen = udf((i: Long) => graft.testing.UrlFixture.messyUrl(i))
      val df = s.range(0, 500).select(col("id"), gen(col("id")).as("url"))
      UrlOps.dedupByUrl(df, "url", "id").select("id", "url_canon")
    }),
    "q_video_metadata" -> ((s, dir) => {
      // REAL video-container parsing: structurally valid MP4 (ISO-
      // BMFF box walk: mvhd duration, tkhd 16.16 dims, stsz frame
      // count — both mvhd versions appear) and AVI (avih main header)
      // fixtures with closed-form fields; every third payload is
      // garbage the parser must classify 'unknown', never throw
      val gen = udf((i: Long) => graft.testing.MediaFixture.videoPayload(i))
      val df = s.range(0, 300).select(col("id"), gen(col("id")).as("payload"))
      Multimodal.withMediaMetadata(df, "payload", "video/mp4")
        .select("id", "format", "width", "height", "duration_ms", "n_frames")
    }),
    "q_video_frames" -> ((s, dir) => {
      // REAL frame-map extraction for BOTH containers: MP4 composes
      // stsc/stsz/stco/stss into per-sample byte ranges, AVI walks
      // the idx1 index (movi-relative AND absolute offset
      // conventions both appear); corrupt payloads vanish. The
      // digest is md5 over the hex of the actual payload bytes,
      // which the oracle replays from the fixtures' closed forms
      val gen = udf((i: Long) => graft.testing.MediaFixture.videoPayload(i))
      val df = s.range(0, 300).select(col("id"), gen(col("id")).as("payload"))
      Multimodal.videoFrames(df, "id", "payload")
    })
  )

  def oracleSql: Map[String, String] = OracleSql.all
}
