package graft

/** Physical-plan assertions over the driver queries at sf0.001 — the
  * properties that make these plans survive a 100 TB scale-up, pinned
  * so a refactor that silently degrades the plan fails the suite.
  */
class PlanSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  /** Every driver query's physical plan, captured once. Analysis /
    * planning failures are held as Lefts and reported by exactly ONE
    * test ("every driver query analyzes"), so a schema break in one
    * query reads as one failure — not as phantom failures of every
    * suite-wide plan assertion that happens to iterate it
    * (VERDICT r9 #7).
    */
  private lazy val allPlans: Map[String, Either[Throwable, String]] = {
    val plans = SparkEntry.queries.map { case (name, fn) =>
      name -> (try Right(fn(spark, dir).queryExecution.executedPlan.toString)
               catch { case e: Throwable => Left(e) })
    }
    SparkEntry.runPendingCleanups()
    plans
  }

  /** The captured plan for a pinned query; cancels (not fails) the
    * calling test when the query itself doesn't analyze — that
    * failure belongs to the dedicated analyzes test alone.
    */
  private def planOf(name: String): String =
    allPlans(name) match {
      case Right(p) => p
      case Left(e)  => assume(false, s"$name fails analysis (reported separately): $e"); ""
    }

  test("every driver query analyzes and plans") {
    val broken = allPlans.collect { case (n, Left(e)) =>
      s"$n: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.next()}"
    }
    assert(broken.isEmpty, s"queries failing analysis/planning:\n${broken.mkString("\n")}")
  }

  test("no driver query plans a CartesianProduct") {
    allPlans.foreach {
      case (name, Right(plan)) =>
        assert(!plan.contains("CartesianProduct"), s"$name plans a CartesianProduct join")
      case _ => () // analysis failure: reported by its own test
    }
  }

  test("filter pushdown reaches the parquet scan (q_select_rows)") {
    val plan = planOf("q_select_rows")
    assert(plan.contains("PushedFilters: ["), s"no pushdown section in scan:\n$plan")
    assert(!plan.contains("PushedFilters: []"), s"no filters pushed to the scan:\n$plan")
  }

  test("column pruning: a two-column projection reads a two-column schema") {
    // documents has 5 columns; token counting touches doc_id + text only
    val plan = planOf("q_token_count")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan reads more than the projected columns:\n$plan")
  }

  test("expand_months is a single codegen stage: no join, no shuffle") {
    // the calendar is explode(sequence(...)) + an INSET holiday filter
    // inlined over the scan — there is nothing to broadcast or shuffle
    val em = planOf("q_expand_months")
    assert(!em.contains("Exchange"), s"expand_months should not shuffle:\n$em")
    assert(em.contains("Generate explode(sequence"), s"calendar not inlined:\n$em")
  }

  test("tfIdf joins the corpus-size scalar by broadcast, not shuffle") {
    val tf = planOf("q_tfidf")
    assert(tf.contains("Broadcast"), s"tfIdf corpus-size join is not broadcast:\n$tf")
  }

  test("piiRedact is a single stage: zero shuffles, two-column pruned scan") {
    val plan = planOf("q_pii_redact")
    assert(!"Exchange (hash|range|Single|rebalance)".r.findFirstIn(plan).isDefined,
      s"pii redaction should not shuffle:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"pii scan reads more than doc_id+text:\n$plan")
  }

  test("round-5 scan-resident queries never shuffle; aggregating ones shuffle exactly once") {
    val shuffleRe = "Exchange (hash|range|Single|rebalance)".r
    // pure per-row pipelines: the whole query should pipeline over
    // the scan with zero exchanges
    Seq("q_c4_clean", "q_mixture", "q_normalize").foreach { q =>
      val plan = planOf(q)
      assert(!shuffleRe.findFirstIn(plan).isDefined, s"$q should not shuffle:\n$plan")
    }
    // one hash-agg / one window shuffle respectively
    Seq("q_corpus_stats" -> 1, "q_sessionize" -> 1).foreach { case (q, n) =>
      val got = shuffleRe.findAllIn(planOf(q)).size
      assert(got == n, s"$q plans $got shuffles, expected $n")
    }
    SparkEntry.runPendingCleanups()
  }

  test("per-row ingest queries pipeline with zero shuffles (rounds 8-9)") {
    val shuffleRe = "Exchange (hash|range|Single|rebalance)".r
    // container parsing, frame/record/member explode, URL
    // canonicalization, gzip decode, sitemap parse, charset sniff and
    // robots metadata are all pure per-row work: nothing may shuffle
    Seq("q_url_canon", "q_gunzip", "q_warc", "q_video_frames", "q_video_metadata",
      "q_tar_members", "q_zip_members", "q_sitemap", "q_charset", "q_robots_meta",
      "q_media_chain", "q_winnow").foreach { q =>
      val plan = planOf(q)
      assert(shuffleRe.findFirstIn(plan).isEmpty, s"$q should not shuffle:\n$plan")
    }
  }

  test("q_lang_id: no regex in the optimized plan; one codegen stage runs the projection over the scan") {
    import org.apache.spark.sql.catalyst.expressions.RegExpReplace
    import org.apache.spark.sql.execution.{FileSourceScanExec, ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val qe = SparkEntry.queries("q_lang_id")(spark, dir).queryExecution
    val exprs = qe.optimizedPlan.flatMap(_.expressions)
    assert(!exprs.exists(_.exists(_.isInstanceOf[RegExpReplace])),
      s"language id still runs regexp_replace:\n${qe.optimizedPlan}")
    assert(exprs.exists(_.exists(_.isInstanceOf[graft.plans.LangIdExpr])),
      s"no LangIdExpr in the optimized plan:\n${qe.optimizedPlan}")
    val exec = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    val stages = exec.collect { case w: WholeStageCodegenExec => w }
    assert(stages.size == 1, s"expected one WholeStageCodegen span, got ${stages.size}:\n$exec")
    val inside = stages.head.child
    assert(inside.collect { case p: ProjectExec => p }
      .exists(_.projectList.exists(_.exists(_.isInstanceOf[graft.plans.LangIdExpr]))),
      s"the language-id projection is not inside the codegen span:\n$exec")
    assert(inside.collect { case f: FileSourceScanExec => f }.size == 1,
      s"the codegen span does not sit over the scan:\n$exec")
    assert(exec.collect { case p: ProjectExec => p }.size ==
      inside.collect { case p: ProjectExec => p }.size, s"a projection runs outside codegen:\n$exec")
  }

  test("two-level IVF routing: corpus rows cross ONE exchange, broadcast everywhere else (r14)") {
    // ivfAssignTwoLevel's rank-1 is a struct-max AGGREGATION, not a
    // window: map-side combine collapses the n x nsup scored rows
    // before the shuffle, and the level-2 agg reuses level-1's
    // partitioning — so the corpus side of cell routing must cross
    // exactly one hash exchange, and that exchange must carry grouped
    // vector rows (n of them), never the scored cross-join output
    val s = spark
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    // 64 centroids = Similarity.TwoLevelMinNlist: the smallest set
    // that takes the two-level route (below it the switch routes flat
    // — pinned separately in "routing threshold" below)
    val routed = graft.pipeline.Similarity.ivfAssignTwoLevel(
      e.where(org.apache.spark.sql.functions.expr("aggregate(embedding, 0.0D, (a, x) -> a + x * x) > 0")),
      graft.pipeline.Similarity.ivfCentroids(e, "vec_id", "embedding", 64),
      "vec_id", "embedding", "row", 4)
    val plan = routed.queryExecution.executedPlan.toString
    SparkEntry.runPendingCleanups()
    // r19 opt: the two-level route is a PACKED projection
    // (graft_pq_argbest over the collected super/member arrays) — the
    // n-row corpus side crosses ZERO exchanges; the former corpus-keyed
    // struct-max aggregations (one exchange carrying the vectors) are
    // gone, and with them the map-side partial_max stages
    val hashExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("row_id"))
    assert(hashExchanges == 0, s"corpus rows should cross zero exchanges, saw $hashExchanges:\n$plan")
    assert(plan.contains("graft_pq_argbest"),
      s"two-level routing should run the packed argbest kernel:\n$plan")
  }

  test("PQ catch-up semi-join pushes below the reconstruction Aggregate (r17)") {
    // managedCatchUp filters pqReconRows by the missing-id set with a
    // left-semi on the reconstruction's own grouping key. Catalyst's
    // PushDownLeftSemiAntiJoin must land that join BELOW the
    // Aggregate: only the missing ids' code rows explode and
    // re-group. Unpushed, every catch-up round would reconstruct the
    // WHOLE old generation to copy a handful of late arrivals — a
    // corpus-sized job per round at 100 TB.
    val s = spark; import s.implicits._
    val e = s.read.parquet(s"$dir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>").as("emb"))
    val path = java.nio.file.Files.createTempDirectory("graft-plan-pqrecon").toString + "/idx"
    graft.pipeline.IvfIndex.buildPq(e, "vec_id", "emb", path, dims = 64,
      m = 4, ksub = 8, iters = 1, nlist = 16)
    val missing = Seq(1L, 2L, 3L).toDF("vec_id")
    val joined = graft.pipeline.IvfIndex.pqReconRows(s, path, "vec_id", "emb")
      .join(missing, Seq("vec_id"), "left_semi")
    val opt = joined.queryExecution.optimizedPlan
    SparkEntry.runPendingCleanups()
    // pushed shape: the top of the plan is the Aggregate (or a
    // projection over it), and the LeftSemi join sits strictly below
    // it in the tree
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val aggs = opt.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty, s"reconstruction must aggregate:\n$opt")
    val semiBelowAgg = aggs.exists(_.child.collect {
      case j: Join if j.joinType == LeftSemi => j
    }.nonEmpty)
    assert(semiBelowAgg,
      s"the missing-id semi-join must push below the reconstruction Aggregate:\n$opt")
    val semiAboveAgg = opt.collect { case j: Join if j.joinType == LeftSemi => j }
      .exists(_.collect { case a: Aggregate => a }.nonEmpty)
    assert(!semiAboveAgg,
      s"no semi-join may remain above the Aggregate (whole-generation reconstruction):\n$opt")
  }

  test("filtered ANN pushes the payload predicate into the probed-cell scan (r17)") {
    // the filter must reach the parquet reader next to the partition
    // filters — post-filtering scored rows would move non-matching
    // candidates through the scoring join and under-fill k
    val plan = planOf("q_ann_filtered")
    // the CELL scan (not the _centroids/_keymap sidecars): the one
    // carrying the cent_id partition filter
    val scanLine = plan.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("idxfilt") &&
        !l.contains("_centroids") && !l.contains("_keymap") &&
        l.contains("cent_id") && l.contains("PartitionFilters: [cent_id"))
    assert(scanLine.isDefined, s"expected a partition-pruned scan of the index cells:\n$plan")
    assert(scanLine.get.contains("EqualTo(label,3"),
      s"label predicate must push into the probed-cell scan:\n${scanLine.get}")
  }

  test("filtered ANN over the PQ layout pushes the payload predicate into the probed-cell scan (r18)") {
    // same contract as the float-layout pin above, on the COMPRESSED
    // store: the label predicate must reach the parquet reader of the
    // PQ cells next to the cent_id partition filters — k fills from
    // matching candidates before any ADC scoring join sees them
    val plan = planOf("q_ann_filtered_pq")
    val scanLine = plan.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("idxfpq") &&
        !l.contains("_centroids") && !l.contains("_keymap") && !l.contains("_codebooks") &&
        l.contains("cent_id") && l.contains("PartitionFilters: [cent_id"))
    assert(scanLine.isDefined, s"expected a partition-pruned scan of the PQ cells:\n$plan")
    assert(scanLine.get.contains("EqualTo(label,3"),
      s"label predicate must push into the probed PQ cell scan:\n${scanLine.get}")
  }

  test("PQ encode plans zero exchanges for long, decimal and string draw ids") {
    // pqEncode and a build's encode frame (pqCellRows) are one packed
    // projection over the collected codebook for EVERY orderable id
    // type: the (metric, id asc) tiebreak is the codewords' sorted
    // position, so no id type needs an explode/join/window shuffle
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    import graft.pipeline.{IvfIndex, Similarity}
    // a file source: a local Seq would fold into a LocalRelation
    val corpusPath = java.nio.file.Files.createTempDirectory("graft-pq-plan").toString + "/corpus"
    Seq((1L, Seq(0.3, 0.7, 0.2, 0.9)), (2L, Seq(0.8, 0.1, 0.4, 0.6))).toDF("id", "v")
      .write.parquet(corpusPath)
    val corpus = s.read.parquet(corpusPath)
    val cb0 = Seq((0, 5L, Seq(1.0, 0.5)), (0, 9L, Seq(0.2, 1.0)), (1, 5L, Seq(0.5, 1.0)), (1, 9L, Seq(0.25, 0.5)))
      .toDF("sub_id", "cent_id", "__cbv__")
      .withColumn("__cbn__", Similarity.norm(col("__cbv__")))
    Seq("bigint", "decimal(10,0)", "string").foreach { t =>
      val cb = cb0.withColumn("cent_id", col("cent_id").cast(t))
      val routed = corpus.select(lit(0L).as("cent_id"), col("id").cast(t).as("row_id"),
        col("v").as("__rowv__"))
      val frames = Seq(
        "pqEncode" -> Similarity.pqEncode(corpus.withColumn("id", col("id").cast(t)), cb, "id", "v",
          dims = 4, m = 2),
        "pqCellRows" -> IvfIndex.pqCellRows(Similarity.PqCodebook.collect(cb), routed, "id",
          scoreDecimals = 4, tiny = true))
      frames.foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"$name over $t ids plans an exchange:\n$plan")
        assert(plan.contains("graft_pq_argbest"), s"$name over $t ids is not the packed kernel:\n$plan")
      }
      assert(frames.head._2.count() == 4L && frames(1)._2.count() == 2L)
    }
  }

  test("IVF routing threshold: below TwoLevelMinNlist the route is FLAT (r15)") {
    // below 64 centroids the two-level machinery is pure fixed
    // overhead (see Similarity.TwoLevelMinNlist) — the switch must
    // route through the flat window rank with NO struct-max
    // aggregation stages in the plan
    val s = spark
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val flat = graft.pipeline.Similarity.ivfAssignTwoLevel(
      e.where(org.apache.spark.sql.functions.expr("aggregate(embedding, 0.0D, (a, x) -> a + x * x) > 0")),
      graft.pipeline.Similarity.ivfCentroids(e, "vec_id", "embedding", 63),
      "vec_id", "embedding", "row", 4)
    val plan = flat.queryExecution.executedPlan.toString
    SparkEntry.runPendingCleanups()
    // r19 opt: keep=1 assignment is the packed argbest projection on
    // BOTH routes now — the flat/two-level distinction is the shape of
    // the collected model (one candidate array vs super+member
    // arrays), not window-vs-aggregation. Flat still must not build
    // the two-level membership stages.
    assert(plan.contains("graft_pq_argbest"),
      s"flat route should rank via the packed argbest kernel:\n$plan")
    assert(!plan.contains("Window"), s"flat keep=1 route must not window-sort the corpus:\n$plan")
    assert(!plan.contains("partial_max") && !plan.contains("partial max"),
      s"flat route must not build the two-level struct-max stages:\n$plan")
  }

  test("IVF-PQ joins its small frames by broadcast; corpus vectors stay out of the ADC joins") {
    val plan = planOf("q_ann_pq")
    assert(plan.contains("BroadcastExchange"), s"PQ codebook/centroid joins are not broadcast:\n$plan")
    // the per-pair ADC aggregation must consume code ids + LUT partials,
    // never embedding arrays: no exchange may carry the vector column
    val badExchange = plan.linesIterator.exists(l => l.contains("Exchange hashpartitioning") && l.contains("emb#"))
    assert(!badExchange, s"an ADC-stage shuffle carries embedding vectors:\n$plan")
  }

  test("c4Clean evaluates the kept-lines UDF exactly once per document") {
    // the kept-lines array feeds both the minKeptLines filter and the
    // output projection; without the non-deterministic barrier,
    // filter pushdown re-inlines the UDF into the predicate and the
    // line pass runs twice per surviving doc
    val plan = planOf("q_c4_clean")
    val evals = plan.split("\n").count(_.contains("c4KeptLines"))
    assert(evals == 1, s"kept-lines UDF appears $evals times in the plan (want exactly 1):\n$plan")
    SparkEntry.runPendingCleanups()
  }

  test("kmeans broadcasts the centroid frame; dsir broadcasts the log-ratio table") {
    // the k-row centroid set must ride a broadcast into every
    // assignment (a shuffled join would re-partition the corpus per
    // Lloyd round), and dsir's buckets-row model likewise broadcasts
    // into the per-gram scoring join
    // r19 opt: the centroid set no longer JOINS at all — assignment is
    // the packed argbest projection over the collected centroids, so
    // the corpus-side plan carries neither a broadcast nor a shuffle
    val km = planOf("q_kmeans")
    assert(km.contains("graft_pq_argbest"),
      s"kmeans assignment should run the packed argbest kernel:\n$km")
    assert(!km.linesIterator.exists(l => l.contains("Exchange hashpartitioning") && l.contains("emb")),
      s"kmeans assignment must not shuffle corpus vectors:\n$km")
    val ds = planOf("q_dsir")
    assert(ds.contains("BroadcastExchange"), s"dsir log-ratio table is not broadcast:\n$ds")
    // the gram stream itself never sorts (hash aggs + broadcast hash
    // join); the ONLY sorts are the final zero-gram-restoring left
    // join's SMJ pair over one-row-per-doc frames (AQE may broadcast
    // it at runtime). Pinned exactly: a third Sort means the scoring
    // join degraded to sort-merge over per-gram rows.
    assert("Sort \\[".r.findAllIn(ds).size == 2, s"dsir sort shape changed:\n$ds")
    SparkEntry.runPendingCleanups()
  }

  test("embeddingNearDups' participation cap plans as a map-side WindowGroupLimit") {
    // the scaladoc's scale claim: the rank <= maxBlockSize filter
    // caps each map partition's contribution BEFORE the shuffle, so
    // a billion-row block never funnels through one ranking task
    val plan = planOf("q_embed_neardups")
    assert(plan.contains("WindowGroupLimit"),
      s"the maxBlockSize rank filter should push down as WindowGroupLimit:\n$plan")
  }

  test("contamination joins the (tiny) eval digest set by broadcast") {
    // the driver query serves a memoized checkpoint, so inspect the
    // operator's own plan
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.pipeline.Contamination.contaminatedIds(
        d.where(org.apache.spark.sql.functions.col("doc_id") % 37 =!= 0),
        d.where(org.apache.spark.sql.functions.col("doc_id") % 37 === 0),
        "doc_id", "text", n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"eval-side digests should broadcast, not shuffle the corpus:\n$plan")
  }

  test("shuffle accounting: the expensive queries keep today's Exchange counts (VERDICT r4 #8)") {
    // pinned so a refactor that slips an extra shuffle into a hot plan
    // fails loudly instead of silently doubling network at 100 TB
    val expected = Map(
      "q_portfolio_averages" -> 0, // reads the shared pavg checkpoint — no shuffle at all
      "q_long_short"         -> 1, // checkpoint + the contract-bounded single-partition window
      "q_asof_join"          -> 4, // events pre-agg + range-join repartition pair + group-limit
      "q_tfidf"              -> 6, // tf agg + df agg + word join + top-3 window (N is broadcast)
      "q_minhash_candidates" -> 3, // banded persist barrier + bucket join + pair agg
      // r19 opt: assignment windows collapsed into the packed argbest
      // projection (zero corpus exchanges). What remains: the cell-cap
      // window's cent_id exchange inside the persisted cells frame
      // (displayed once per pair-join side → 2 in text, 1 at runtime),
      // the distinct-pair agg and the anti-join, both keyed on vec_id —
      // none over full-corpus vector rows (was 14 pre-opt). k-means
      // training plans no exchange here: its centroids reach the
      // assignment as collected literals.
      "q_semdedup"           -> 4,
      // corpus-wide distinct + WindowGroupLimit rank build the slice
      // sketches; everything after runs over O(pairs x k) rows
      "q_kmv_overlap"        -> 12,
      // one map-side-combined (row, bucket) agg builds the d x w
      // state (sketch side rides a broadcast into the probe join);
      // probe-min + exact-count aggs account for the other two
      "q_cms_counts"         -> 3,
      // duplicate-hash agg over the grid + string-verify
      // count-over-window (partition by window string) + per-doc
      // islands window; the duplicate-hash set rides a broadcast
      // back, and string verification is a window count, not a
      // self-join — the candidate branch plans exactly once
      "q_repeated_spans"     -> 3,
      // distinct + cap window live INSIDE the persisted frame's build
      // (displayed once per join side → 4 in text, 2 at runtime);
      // the pair agg is the only post-cache exchange
      "q_winnow_candidates"  -> 5
    )
    val shuffleRe = "Exchange (hash|range|Single|rebalance)".r
    expected.foreach { case (name, n) =>
      val got = shuffleRe.findAllIn(planOf(name)).size
      assert(got == n, s"$name plans $got shuffles, expected $n — a refactor changed the exchange shape")
    }
    // the memoized portfolio pipeline itself (no longer visible
    // through the q_ plans): percentile agg + averages agg, cutoffs
    // ride a broadcast
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    def pavgPlan = graft.operators.Portfolio
      .portfolioAverages(li, "l_extendedprice", Seq("l_quantity"), ngroups = 5, byvars = Seq("l_returnflag"))
      .queryExecution.executedPlan.toString
    // Percentiles is size-adaptive: below the threshold the builtin
    // aggregate keeps the original 2-shuffle plan; above it the
    // distributed exact-percentile plan spends 9 exchanges, all over
    // DISTINCT-value-sized or (numPartitions x groups)-sized frames
    // (cnt hash-agg pair, range repartition, offsets agg + its tiny
    // windows, the candidate agg, the broadcast back) — the price of
    // never funneling a group's whole value multiset into one
    // aggregation buffer (12-18 s + an OOM cliff at sf1).
    val pGot = shuffleRe.findAllIn(pavgPlan).size
    assert(pGot == 2, s"portfolioAverages small-input pipeline plans $pGot shuffles, expected 2:\n$pavgPlan")
    spark.conf.set("graft.percentiles.distributedThresholdBytes", "0")
    try {
      val pBig = shuffleRe.findAllIn(pavgPlan).size
      assert(pBig == 9, s"portfolioAverages distributed pipeline plans $pBig shuffles, expected 9:\n$pavgPlan")
    } finally spark.conf.unset("graft.percentiles.distributedThresholdBytes")
    SparkEntry.runPendingCleanups()
    SparkEntry.releaseShared()
  }

  /** Count of `Window` physical nodes with an EMPTY partition spec in
    * a plan string. WindowExec prints the non-empty of
    * `[exprs], [partitionSpec], [orderSpec]` — so 3 groups is always
    * partitioned, 1 group (exprs only) is always global, and the
    * 2-group case is global exactly when the trailing group is an
    * orderSpec (SortOrder always prints a direction token, partition
    * expressions never do). Bracket depth is tracked so brackets
    * nested inside window expressions don't miscount.
    */
  private def unpartitionedWindowCount(plan: String): Int =
    plan.linesIterator.count { line =>
      val i = line.indexOf("Window [")
      i >= 0 && !line.substring(0, i).contains("GroupLimit") && {
        val groups = scala.collection.mutable.ArrayBuffer.empty[StringBuilder]
        var depth = 0
        var j = i + "Window ".length
        while (j < line.length) {
          val ch = line.charAt(j)
          if (ch == '[') { if (depth == 0) groups += new StringBuilder; depth += 1 }
          if (depth > 0) groups.last.append(ch)
          if (ch == ']') depth -= 1
          j += 1
        }
        val dir = " (ASC|DESC) ".r
        groups.size == 1 ||
          (groups.size == 2 && dir.findFirstIn(groups.last.toString).isDefined)
      }
    }

  test("unpartitioned-window census: only the known contract-guarded sites run global windows") {
    // An unpartitioned window funnels ALL rows through one task — a
    // 100 TB death sentence unless the input is contractually tiny.
    // The only sanctioned sites (each guarded at the operator):
    //   - Portfolio.longShortPortfolio (input: one row per
    //     (byvars, portfolio), asserted structurally) -> q_long_short
    //   - Sampling's 256-row bucket-offset prefix-sum frames
    //     (packSequences / shuffleRank, Sampling.scala:179,223) ->
    //     q_pack, q_shuffle_rank
    // (Percentiles' offset windows partition by the entry index, so
    // no percentile site plans one on either route; the census below
    // covers the distributed route.)
    // (r15: ivfAssignTwoLevel's r14 in-plan super draw — the one IVF
    // global window — moved to a driver-side selection over the
    // already-collected centroid rows, so the ANN queries left this
    // allowlist.)
    // Anything new failing this census is either a bug or needs its
    // own documented contract + allowlist entry.
    val allowed = Set("q_long_short", "q_shuffle_rank", "q_pack")
    val offenders = allPlans.collect {
      case (name, Right(plan)) if unpartitionedWindowCount(plan) > 0 => name
    }.toSet
    assert(offenders.subsetOf(allowed),
      s"NEW unpartitioned windows in: ${(offenders -- allowed).toSeq.sorted.mkString(", ")} — " +
        "a global window funnels everything through one task; partition it or document the contract")
    // detection self-test: a synthetic global window MUST trip the census
    val synthetic = spark.range(10).toDF("x")
      .withColumn("r", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(org.apache.spark.sql.functions.col("x"))))
      .queryExecution.executedPlan.toString
    assert(unpartitionedWindowCount(synthetic) == 1,
      s"census failed to detect a synthetic global window:\n$synthetic")
    // and a partitioned window must NOT
    val part = spark.range(10).toDF("x")
      .withColumn("r", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(org.apache.spark.sql.functions.col("x"))
          .orderBy(org.apache.spark.sql.functions.col("x"))))
      .queryExecution.executedPlan.toString
    assert(unpartitionedWindowCount(part) == 0,
      s"census false-positives on a partitioned window:\n$part")
  }

  test("unpartitioned-window census, distributed percentile route: only q_long_short runs a global window") {
    // The census above plans at the default threshold, so at sf0.001
    // every percentile site takes the builtin route. Here they plan
    // as Verify runs them (threshold 0): the rank pipeline's offset
    // windows partition by the entry index, so even empty byvars
    // (q_winsorize_all, q_zorder's file-bucket cuts) plans no global
    // window. The shared portfolio-averages frame is rebuilt under the
    // forced route (its plan is a checkpoint scan), so its pipeline is
    // planned directly as well.
    val key = "graft.percentiles.distributedThresholdBytes"
    val names = SparkEntry.queries.keys.filter(n =>
      n.startsWith("q_winsorize_") || n.startsWith("q_portfolio_") ||
        n == "q_long_short" || n == "q_zorder").toSeq.sorted
    assert(names.size == 7, s"census names drifted: $names")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    SparkEntry.releaseShared()
    spark.conf.set(key, "0")
    val plans = try {
      names.map(n => n -> SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan.toString) :+
        ("Portfolio.portfolioAverages" -> graft.operators.Portfolio
          .portfolioAverages(li, "l_extendedprice", Seq("l_quantity"), ngroups = 5,
            byvars = Seq("l_returnflag"))
          .queryExecution.executedPlan.toString)
    } finally {
      spark.conf.unset(key)
      SparkEntry.runPendingCleanups()
      SparkEntry.releaseShared()
    }
    val offenders = plans.collect { case (n, p) if unpartitionedWindowCount(p) > 0 => n }
    assert(offenders == Seq("q_long_short"),
      s"global windows on the distributed percentile route: ${offenders.mkString(", ")}")
    // the rank pipeline picks every (entry, position) component in
    // one candidate aggregation
    val shuffleRe = "Exchange (hash|range|Single|rebalance)".r
    val byPlan = plans.toMap
    Seq("q_winsorize_by" -> 8, "q_winsorize_all" -> 8).foreach { case (n, want) =>
      val got = shuffleRe.findAllIn(byPlan(n)).size
      assert(got == want, s"$n plans $got shuffles on the distributed route, expected $want:\n${byPlan(n)}")
    }
  }

  test("long_short's single-partition window sees only the post-aggregation frame") {
    // longShortPortfolio funnels through an unpartitioned window BY
    // CONTRACT (input = one row per (byvars, portfolio)); this pins
    // that the contract composition holds — an (Hash)Aggregate must
    // sit BELOW the Window in the physical plan, so the single task
    // only ever receives the tiny aggregated frame, never raw rows.
    // (The driver query itself now feeds the window from the shared
    // 15-row pavg checkpoint, bounded by construction.)
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val pa = graft.operators.Portfolio
      .portfolioAverages(li, "l_extendedprice", Seq("l_quantity"), ngroups = 5, byvars = Seq("l_returnflag"))
    val plan = graft.operators.Portfolio
      .longShortPortfolio(pa, "portfolio", Seq("l_returnflag"), Seq("l_quantity"))
      .queryExecution.executedPlan.toString
    val wIdx = plan.indexOf("Window [")
    assert(wIdx >= 0, s"no Window node in long_short plan:\n$plan")
    assert(plan.indexOf("HashAggregate", wIdx) >= 0,
      s"long_short's single-partition window is not fed by an aggregation:\n$plan")
  }

  test("as-of join pre-aggregates right dates before the payload touches the range join") {
    // Deep-history guard (VERDICT r8 #4): the (left date x right
    // history) fan-out must flow through a max() aggregate over a
    // date-only frame, with the payload joined back by date equality
    // afterwards — never a Window rank over full right rows.
    val l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_suppkey", "l_shipdate", "l_quantity")
    val r = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_suppkey", "l_shipdate", "l_extendedprice")
    val plan = graft.operators.AsOf
      .leftMergeLatest(l, r, Seq("l_suppkey"), "l_shipdate", "l_shipdate")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window ["), s"as-of join still ranks full right rows via a Window:\n$plan")
    assert(plan.contains("max(l_shipdate_y"), s"no max(right date) pre-aggregate in as-of plan:\n$plan")
  }
}
