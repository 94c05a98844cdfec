package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Contamination, Dedup, IvfIndex, Jpeg, Multimodal, Similarity, TextAnalysis, UrlOps}

/** LLM-pipeline operators: dedup, similarity, text analysis,
  * multimodal plumbing. These have no reference goldens — invariants
  * and hand-computed expectations instead.
  */
class PipelineSpec extends SparkSuite {

  private def docs = {
    val s = spark; import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "The  quick Brown fox jumps over the lazy dog!"), // normalized dup of 1
      (4L, "completely different content about spark engines and shuffles"),
      (5L, "hi") // shorter than shingle width
    ).toDF("doc_id", "text")
  }

  test("wordShingles yields an EMPTY array for short docs — no ANSI crash (ADVICE r1 high)") {
    val out = docs.select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("sh"))
    val m = out.collect().map(r => r.getLong(0) -> r.getSeq[String](1).length).toMap
    assert(m(5L) == 0)
    assert(m(1L) == 7) // 9 words -> 7 trigrams
  }

  test("exact dedup keeps the minimum id per normalized digest") {
    val kept = Dedup.dedupExact(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L)) // 2 and 3 collapse onto 1
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
    val trio = groups.where(col("keep_id") === 1L).head()
    assert(trio.getLong(trio.fieldIndex("n_dups")) == 3L)
  }

  test("minhash candidates surface the duplicate pair, not the unrelated doc") {
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("hot-bucket cap prevents the quadratic blowup on identical docs (VERDICT r2 #10)") {
    val s = spark; import s.implicits._
    val many = (1 to 1000).map(i => (i.toLong, "identical text repeated for the bucket cap test"))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(many, "doc_id", "text", maxBucketSize = 100)
    assert(capped.count() == 0) // every bucket over cap -> dropped, not O(n^2) pairs
    val uncapped = Dedup.minhashCandidates(many.limit(50), "doc_id", "text", maxBucketSize = 1000)
    assert(uncapped.count() == 50L * 49 / 2)
  }

  test("crossCorpusCandidates: bipartite pairs only, combined-bucket cap, clean corpora empty") {
    val s = spark; import s.implicits._
    // eval corpus: one item near-identical to a train doc, one unique
    val eval_ = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "a totally unique evaluation question nothing resembles")
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, "The quick brown fox jumps over the LAZY dog"), // ~= 100
      (2L, "the quick brown fox jumps over the lazy dog"), // == 100
      (3L, "unrelated training material about spark shuffles")
    ).toDF("doc_id", "text")
    val pairs = Dedup.crossCorpusCandidates(eval_, train, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // contaminated eval item pairs with BOTH training near-dups, and
    // ONLY cross-corpus pairs appear (never train-train or eval-eval)
    assert(pairs.contains((100L, 2L)) && pairs.contains((100L, 1L)), s"missed contamination: $pairs")
    assert(pairs.forall { case (a, b) => a >= 100L && b < 100L }, s"non-bipartite pair: $pairs")
    assert(!pairs.exists(_._1 == 101L), "clean eval item must not pair")
    // combined cap: 600 + 600 identical docs -> every bucket over a
    // 1000 cap as a COMBINED count -> dropped whole, never quadratic
    val manyA = (1 to 600).map(i => (i.toLong, "identical saturation text")).toDF("doc_id", "text")
    val manyB = (1001 to 1600).map(i => (i.toLong, "identical saturation text")).toDF("doc_id", "text")
    assert(Dedup.crossCorpusCandidates(manyA, manyB, "doc_id", "text").count() == 0,
      "combined A+B bucket membership must trip the whole-drop cap")
    // under the cap the bipartite product is exact: 50 x 50
    assert(Dedup.crossCorpusCandidates(manyA.limit(50), manyB.limit(50), "doc_id", "text")
      .count() == 2500)
  }

  test("crossCorpusVerified: exact jac + thresholded drop decision on the candidates (r14)") {
    val s = spark; import s.implicits._
    val eval_ = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "a totally unique evaluation question nothing resembles")
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),        // == 100: jac 1.0
      (2L, "the quick brown fox jumps over seventeen green logs"), // partial: below 0.5
      (3L, "unrelated training material about spark shuffles")
    ).toDF("doc_id", "text")
    val (v, cleanup) = Dedup.crossCorpusVerifiedWithCleanup(
      eval_, train, "doc_id", "text", numHashes = 8, bands = 8, dropThreshold = 0.5)
    val rows = v.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(3), r.getBoolean(4))).toMap
    cleanup()
    assert(rows((100L, 1L)) == ((1.0, true)), s"exact dup must be dropped: $rows")
    rows.get((100L, 2L)).foreach { case (jac, dropped) =>
      assert(jac < 0.5 && !dropped, s"partial overlap below threshold must be kept: $rows")
    }
    assert(!rows.keys.exists(_._1 == 101L), "clean eval item must not pair")
    // the verified frame's candidate columns agree with the candidate operator
    val cand = Dedup.crossCorpusCandidates(eval_, train, "doc_id", "text", numHashes = 8, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.keySet == cand, "verify tail must neither add nor drop candidate pairs")
  }

  test("minhashCandidates cleanup thunk unpersists the internal cache (VERDICT r3 #9)") {
    // other tests in this suite use the plain API and legitimately
    // park their releases in Cleanup; drain them first — with the
    // deterministic native shingle expression (r14), an earlier
    // test's IDENTICAL banded plan would otherwise already be cached
    // (CacheManager dedups by plan) and this call's persist would be
    // a no-op, voiding the delta this test measures
    graft.Cleanup.drainAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (cands, cleanup) = Dedup.minhashCandidatesWithCleanup(docs, "doc_id", "text")
    cands.count() // materialize (populates the cache)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    cleanup()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "cache leaked after cleanup()")
  }

  test("connectedComponents: chains collapse to the min id, separate components stay apart") {
    val s = spark; import s.implicits._
    // component {1,2,3,4} as a chain, component {10,11}, parallel +
    // reversed edges thrown in
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (1L, 2L)).toDF("a", "b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
    // both paths must agree: the local union-find fast path (default
    // threshold) and the distributed loop (threshold 0 forces it)
    val fast = Dedup.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = Dedup.connectedComponents(edges, "a", "b", localSolveMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == expected && loop == expected)
    val none = Dedup.connectedComponents(edges.limit(0), "a", "b")
    assert(none.count() == 0)
  }

  test("connectedComponents small-graph path runs exactly ONE Spark job (VERDICT r12 #3)") {
    val s = spark; import s.implicits._
    val edges = (1 until 200).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val cc =
      try {
        // the gate + data delivery are ONE limit-probe collect; building
        // the labels frame from driver memory schedules no job
        val labels = Dedup.connectedComponents(edges, "a", "b")
        // the listener bus is async — wait for the count to stabilize
        var last = -1
        var spins = 0
        while (jobs.get() != last && spins < 50) {
          last = jobs.get(); Thread.sleep(100); spins += 1
        }
        labels
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 1,
      s"small-graph path should decide AND solve in one probe job, saw ${jobs.get()}")
    assert(cc.collect().forall(_.getLong(1) == 1L))
  }

  test("probe ship volume is bounded: over-budget partitions fall back to the distributed loop (ADVICE r13)") {
    val s = spark; import s.implicits._
    // a 60-edge chain in ONE partition with localSolveMaxEdges=100
    // QUALIFIES for the local solve, but a forced 8-pair ship budget
    // truncates the partition — the probe must detect the truncation
    // (shipped != counted) and fall through to the distributed loop
    // instead of solving from a silently partial edge set
    val chain = (1 until 61).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b").coalesce(1)
    val cc = Dedup.connectedComponents(chain, "a", "b",
      localSolveMaxEdges = 100, probeShipCapPairs = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 61 && cc.values.forall(_ == 1L),
      "distributed fallback after probe truncation must still produce exact components")
    // and with the default budget the same frame solves locally in one
    // job (the r12 one-job pin lives in its own test above)
    val cc2 = Dedup.connectedComponents(chain, "a", "b", localSolveMaxEdges = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc2 == cc)
  }

  test("connectedComponents converges on a 100-link chain in O(log n) rounds (VERDICT r4 #6)") {
    val s = spark; import s.implicits._
    // worst case for pure min-label propagation: one chain component of
    // diameter 100 would need 100 rounds; the pointer-jumping step cuts
    // that to ~log2(100). maxIter = 12 proves the log-round behavior
    // AND stays under the default 30 a production caller would use.
    val chain = (1 until 100).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
    // force the distributed loop: the log-round claim is about it,
    // not the small-graph local solve
    val cc = Dedup.connectedComponents(chain, "a", "b", maxIter = 12, localSolveMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 100 && cc.values.forall(_ == 1L))
  }

  test("connectedComponentsWithCleanup releases every checkpoint block (VERDICT r4 #1)") {
    val s = spark; import s.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = (1 until 40).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
    val (cc, release) = Dedup.connectedComponentsWithCleanup(edges, "a", "b",
      localSolveMaxEdges = 0) // the loop path is the one with checkpoints to release
    assert(cc.count() == 40)
    release()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "connectedComponents leaked checkpoint blocks after release()")
  }

  test("nearDupGroups clusters the exact+near dups and leaves singletons alone") {
    val groups = Dedup.nearDupGroups(docs, "doc_id", "text", jaccardThreshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups(1L) == 1L && groups(2L) == 1L && groups(3L) == 1L) // near-dup trio
    assert(groups(4L) == 4L && groups(5L) == 5L) // singletons keep their own id
  }

  test("length-ratio prefilter (minJaccard) = unfiltered verify + exact threshold (r14)") {
    val s = spark; import s.implicits._
    // docs with strongly varied shingle counts so the ratio bound
    // actually prunes: a long doc vs its short prefix shares all of
    // the prefix's shingles (high containment, low Jaccard) — the
    // classic pair the prefilter must drop WITHOUT changing output
    val base = (1 to 30).map(i => s"token$i").mkString(" ")
    val corpus = Seq(
      (1L, base),                                 // 28 shingles
      (2L, base),                                 // exact dup of 1
      (3L, (1 to 8).map(i => s"token$i").mkString(" ")),  // short prefix: contained, jac ~ 6/28
      (4L, base + " extra trailing words here"),  // near dup of 1
      (5L, "completely different content entirely unrelated")
    ).toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.9)) {
      val (all, c1) = Dedup.jaccardCandidatesWithCleanup(corpus, "doc_id", "text")
      val expect = all.where(col("jac") >= t)
        .select("id_a", "id_b", "n_band_matches", "jac")
        .collect().map(_.toSeq).toSet
      c1()
      val (pre, c2) = Dedup.jaccardCandidatesWithCleanup(corpus, "doc_id", "text", minJaccard = t)
      val got = pre.select("id_a", "id_b", "n_band_matches", "jac").collect().map(_.toSeq).toSet
      c2()
      assert(got == expect, s"prefiltered set diverged at threshold $t")
    }
    // and the prefilter itself provably prunes: counts 28 vs 6 can
    // never reach jac 0.5, so the (1,3) pair must not survive
    val counted = Dedup.lengthRatioPrefilter(
      Seq((1L, 3L)).toDF("id_a", "id_b"),
      corpus.select(col("doc_id").as("__id__"),
        array_distinct(Dedup.shinglesFromWords(Dedup.splitWords(col("text")), 3)).as("__sg__")),
      0.5)
    assert(counted.count() == 0, "ratio-impossible pair should be pruned before the array join")
  }

  test("shingles: native expression == UDF == interpreted expression, real corpus (r14)") {
    // three physical forms, one spec: the interpreted HOF expression
    // is what the DuckDB oracle mirrors; the UDF was the old hot path;
    // the native codegen'd ShinglesExpr is the current one. All three
    // must agree element-for-element (order included).
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    for (n <- Seq(2, 3, 5)) {
      val forms = d.select(col("doc_id"),
          Dedup.shinglesFromWords(Dedup.splitWords(col("text")), n).as("expr"),
          Dedup.shinglesFromWordsUdf(n)(Dedup.splitWords(col("text"))).as("udf"),
          Dedup.shinglesFromWordsNative(Dedup.splitWords(col("text")), n).as("native"))
        .collect()
      forms.foreach { r =>
        val (e, u, nat) = (r.getSeq[String](1), r.getSeq[String](2), r.getSeq[String](3))
        assert(e == u && u == nat, s"n=$n doc=${r.getLong(0)}: expr=$e udf=$u native=$nat")
      }
    }
    // boundary: fewer words than n -> empty, not null, in all forms
    val s = spark; import s.implicits._
    val tiny = Seq((1L, "one two")).toDF("doc_id", "text")
      .select(Dedup.shinglesFromWordsNative(Dedup.splitWords(col("text")), 3).as("sg"))
      .head()
    assert(tiny.getSeq[String](0).isEmpty)
  }

  test("ngram jaccard: identical docs 1.0, disjoint docs 0.0") {
    val s = spark; import s.implicits._
    val sh = docs
      .select(col("doc_id"), Dedup.splitWords(col("text")).as("w"))
      .select(col("doc_id"), array_distinct(Dedup.shinglesFromWords(col("w"), 3)).as("sg"))
    val a = sh.select(col("doc_id").as("id_a"), col("sg").as("sa"))
    val b = sh.select(col("doc_id").as("id_b"), col("sg").as("sb"))
    val pairs = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("jac", Dedup.jaccardOfShingleArrays(col("sa"), col("sb")))
    val m = pairs.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jac"))
      .toMap
    assert(m((1L, 2L)) == 1.0)
    assert(m((1L, 4L)) == 0.0)
    assert(m((1L, 5L)) == 0.0) // empty shingle set -> 0, not NaN
  }

  test("simhash: identical docs identical bits; bit string length = 16") {
    val out = docs.select(col("doc_id"), Dedup.simhashBits(col("text"), 16).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(1L).length == 16 && out(1L).forall(c => c == '0' || c == '1'))
    assert(out(1L) != out(4L))
  }

  test("token counting and quality features") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "Hello, world 42!"), (2L, "")).toDF("doc_id", "text")
    val toks = df.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(toks == Map(1L -> 3, 2L -> 0))
    val q = TextAnalysis.qualityFeatures(df.where(col("doc_id") === 1L), "text").head()
    assert(q.getInt(q.fieldIndex("q_chars")) == 16)
    assert(q.getDouble(q.fieldIndex("q_digit_ratio")) > 0)
    assert(q.getDouble(q.fieldIndex("q_punct_ratio")) > 0)
  }

  test("language id picks the marker-heavy language") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "the cat and the dog of the house is big"),
      (2L, "el gato y la casa es grande y los perros"),
      (3L, "der Hund und die Katze ist gross und der Baum")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "de"))
  }

  /** The replace-length form that `TextAnalysis.langId` was before
    * its byte-scan kernel: the reference the kernel is pinned to, row
    * for row.
    */
  private def refLangId(text: org.apache.spark.sql.Column) = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val scoreArr = array(TextAnalysis.langMarkers.map { case (_, ws) =>
      ws.map(w => (length(padded) - length(regexp_replace(padded, java.util.regex.Pattern.quote(w), ""))) /
        lit(w.length)).reduce(_ + _)
    }: _*)
    val langArr = array(TextAnalysis.langMarkers.map { case (l, _) => lit(l) }: _*)
    when(text.isNotNull,
      element_at(langArr, array_position(scoreArr, array_max(scoreArr)).cast("int")))
  }

  /** ~2,000 seeded rows of marker words (any case), zh markers and
    * filler, joined by one or two spaces.
    */
  private def generatedTexts: Seq[String] = {
    val rnd = new scala.util.Random(20261017)
    val words = TextAnalysis.langMarkers.flatMap(_._2).map(_.trim).distinct ++
      Seq("cat", "Hund", "casa", "maison", "书", "这里", "THE", "Der", "LA", "Es", "İst", "ÉS", "x")
    (1 to 2000).map { _ =>
      Seq.fill(rnd.nextInt(12))(words(rnd.nextInt(words.length)))
        .mkString(if (rnd.nextInt(4) == 0) "  " else " ")
    }
  }

  test("langId byte-scan kernel equals the replace-length reference, codegen and interpreted") {
    val s = spark; import s.implicits._
    val fixed = Seq[String](null, "", " ", "   ", "\t\n ",
      "the cat", "cat the", "the", "la la", "la", "el gato la", "le chat la",
      "我的书是在这里了", "the 的 是 了", "DER Hund UND DIE Katze", "İst der", "die İ und",
      "ÉS el", "The AND Of IS", "los  los", "est-ce la")
    val texts = fixed ++ generatedTexts
    val local = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    // the local frame folds the projection at optimization time
    // (interpreted nullSafeEval); the repartitioned one runs it in
    // whole-stage codegen
    Seq(local, local.repartition(3)).foreach { df =>
      val got = df.select(col("id"), refLangId(col("text")), TextAnalysis.langId(col("text")))
        .collect()
      assert(got.length == texts.length)
      got.foreach { r =>
        assert(r.getString(1) == r.getString(2),
          s"row ${r.getLong(0)} '${texts(r.getLong(0).toInt)}': reference ${r.getString(1)}, kernel ${r.getString(2)}")
      }
    }
    val byText = texts.zip(local.select(TextAnalysis.langId(col("text"))).collect().map(_.getString(0))).toMap
    assert(byText(null) == null)
    assert(Seq("", " ", "   ", "\t\n ").forall(byText(_) == "en"), "no marker: first language")
    assert(byText("the cat") == "en" && byText("cat the") == "en" && byText("the") == "en",
      "padding must match markers at either edge")
    assert(byText("la la") == "es" && byText("la") == "es", "' la ' ties es/fr: es wins")
    assert(byText("le chat la") == "fr")
    assert(byText("我的书是在这里了") == "zh")
    assert(byText("DER Hund UND DIE Katze") == "de")
  }

  test("rolling hash is deterministic, normalized, and mod-bounded") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "Hello  WORLD"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextAnalysis.rollingHash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == got(2L)) // case/whitespace normalized
    assert(got(1L) != got(3L))
    assert(got.values.forall(h => h >= 0 && h < TextAnalysis.rollingHashMod))
  }

  test("charWindowContaminatedIds flags shared substrings, short docs need exact match") {
    val s = spark; import s.implicits._
    val shared = "the quick brown fox jumps over the lazy dog again and again tonight"
    val corpus = Seq(
      (1L, s"prefix words here $shared suffix tail"), // embeds the eval substring
      (2L, "completely unrelated content with nothing shared at all in this document"),
      (3L, "tiny doc") // < window: only exact equality can flag it
    ).toDF("doc_id", "text")
    val eval = Seq((100L, s"eval set carries $shared inside")).toDF("doc_id", "text")
    val got = graft.pipeline.Contamination
      .charWindowContaminatedIds(corpus, eval, "doc_id", "text", window = 40, stride = 10)
      .collect().map(r => r.getLong(0)).toSet
    assert(got == Set(1L), s"got $got")
    // a short doc flags iff it appears verbatim in the eval side
    val evalShort = eval.unionByName(Seq((101L, "tiny doc")).toDF("doc_id", "text"))
    val got2 = graft.pipeline.Contamination
      .charWindowContaminatedIds(corpus, evalShort, "doc_id", "text", window = 40, stride = 10)
      .collect().map(r => r.getLong(0)).toSet
    assert(got2 == Set(1L, 3L), s"got $got2")
  }

  test("null text: per-row signals propagate null, corpus ops drop the row, nothing throws") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "g", "real text here with words."), (2L, "g", null.asInstanceOf[String]))
      .toDF("doc_id", "src", "text")
    // per-row signal columns: null in, null out
    val sig = docs.select(
      TextAnalysis.tokenCount(col("text")).as("tc"),
      TextAnalysis.fingerprintMd5(col("text")).as("fp"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.nfcNormalize(col("text")).as("nfc"))
      .where(col("doc_id").isNull || lit(true)).collect()
    val nullRow = docs.where(col("text").isNull)
      .select(TextAnalysis.tokenCount(col("text")), TextAnalysis.fingerprintMd5(col("text")))
      .head()
    assert(nullRow.isNullAt(0) && nullRow.isNullAt(1))
    // corpus-level ops: the null-text doc drops out cleanly
    assert(TextAnalysis.c4Clean(docs, "doc_id", "text", 5, 1)
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(Dedup.dedupExact(docs, "doc_id", "text").count() >= 1) // no throw
    assert(Contamination.contaminatedIds(
      docs.where(col("doc_id") === 1), docs.where(col("doc_id") === 2),
      "doc_id", "text", n = 2).count() == 0) // null eval side = no overlap, no throw
    assert(sig.length == 2)
  }

  test("corpusStats: closed-form counts, token sums, and exact quantiles per group") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "g1", "a b c"), (2L, "g1", "a b"), (3L, "g1", ""),
      (4L, "g2", "one two three four")
    ).toDF("doc_id", "src", "text")
    val got = TextAnalysis.corpusStats(docs, Seq("src"), "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("g1").getLong(1) == 3 && got("g1").getLong(2) == 5) // 3+2+0 tokens
    assert(math.abs(got("g1").getDouble(3) - 5.0 / 3) < 1e-9)
    assert(got("g1").getDouble(4) == 3.0) // lengths 5,3,0 -> median 3
    assert(got("g2").getLong(1) == 1 && got("g2").getLong(2) == 4)
    assert(got("g2").getDouble(4) == 18.0)
  }

  test("nfcNormalize composes combining sequences; stripAccents folds to ASCII; both null-safe") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "café"),        // decomposed e + combining acute
      (2L, "café"),         // precomposed é
      (3L, "naïve plain"),
      (4L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val got = df.select(col("id"), TextAnalysis.nfcNormalize(col("t")).as("n"),
      TextAnalysis.stripAccents(col("t")).as("a"))
      .collect().map(r => r.getLong(0) -> (Option(r.getString(1)), Option(r.getString(2)))).toMap
    assert(got(1L)._1 == Some("café")) // composed
    assert(got(1L)._1 == got(2L)._1)        // decomposed == precomposed after NFC
    assert(got(2L)._1 == Some("café")) // already-normal text unchanged (idempotent)
    assert(got(1L)._2 == Some("cafe") && got(3L)._2 == Some("naive plain"))
    assert(got(4L) == ((None, None)))
  }

  test("semDedup drops the higher-id member of an embedding twin, keeps dissimilar rows") {
    val s = spark; import s.implicits._
    // twins always share an IVF cell (identical vectors tie on every
    // rounded centroid similarity, so the cent_id tie-break agrees),
    // so the higher-id twin must drop whatever the centroid draw is
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0)), (2L, Array(1.0, 0.0, 0.0)),   // twin pair
      (3L, Array(0.0, 1.0, 0.0)), (4L, Array(0.0, 1.0, 0.0)),   // twin pair
      (5L, Array(0.0, 0.0, 1.0))                                 // loner
    ).toDF("vec_id", "emb")
    val kept = graft.pipeline.Dedup.semDedup(vecs, "vec_id", "emb", threshold = 0.9, nlist = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L), s"got $kept")
    // threshold above every cross-similarity keeps everything
    val all = graft.pipeline.Dedup.semDedup(vecs.where(col("vec_id").isin(1L, 3L, 5L)),
      "vec_id", "emb", threshold = 0.9, nlist = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 3L, 5L))
  }

  test("semDedup hot-cell cap saturates (head of cell still dedups); trained centroids accepted") {
    val s = spark; import s.implicits._
    // cell A: four identical x-axis twins (hot); cell B: two y twins
    val vecs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(1.0, 0.0)), (3L, Array(1.0, 0.0)), (4L, Array(1.0, 0.0)),
      (5L, Array(0.0, 1.0)), (6L, Array(0.0, 1.0))
    ).toDF("vec_id", "emb")
    // caller-supplied fitted quantizer (same (cent_id, __cv__, __cn__)
    // schema kmeansCentroids emits; built literally so the cells are
    // pinned regardless of the md5 init draw)
    val cents = Seq((100L, Array(1.0, 0.0)), (200L, Array(0.0, 1.0))).toDF("cent_id", "__cv__")
      .withColumn("__cn__", graft.pipeline.Similarity.norm(col("__cv__")))
    // cap=3: only ids 1,2,3 of the hot x cell participate — 2 and 3
    // dedup against 1, the past-cap 4 survives (saturation, NOT a
    // silent wholesale drop); the 2-row y cell still dedups (6 drops)
    val capped = graft.pipeline.Dedup.semDedup(vecs, "vec_id", "emb", threshold = 0.9,
      centroids = Some(cents), maxCellSize = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(capped == Set(1L, 4L, 5L), s"got $capped")
    // no cap binding: min-id survives per cell
    val uncapped = graft.pipeline.Dedup.semDedup(vecs, "vec_id", "emb", threshold = 0.9,
      centroids = Some(cents), maxCellSize = 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(uncapped == Set(1L, 5L), s"got $uncapped")
  }

  test("chunkDocuments emits overlapping word windows; no chunk fully inside its predecessor") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5"),   // 5 words: starts 0 and 2 (start 4 contributes nothing new)
      (2L, "a b c"),            // exact fit: one chunk only
      (3L, "  "),               // blank: no chunks
      (4L, "solo")              // single word
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(docs, "doc_id", "text", chunkSize = 3, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getInt(3))).toMap
    assert(got == Map(
      (1L, 0) -> ("w1 w2 w3", 3), (1L, 1) -> ("w3 w4 w5", 3),
      (2L, 0) -> ("a b c", 3),
      (4L, 0) -> ("solo", 1)), s"got $got")
  }

  test("gopherQuality computes the published rules and the combined keep flag") {
    val s = spark; import s.implicits._
    val good = "The cat and the dog have gone to the market with great enthusiasm " +
      "that nobody expected from such small animals on a quiet morning." // 23 words, stopword-rich
    val docs = Seq(
      (1L, good),
      (2L, "short text only"),                              // under minWords
      (3L, ("# " * 30).trim),                               // symbol soup: no alpha, no stopwords
      (4L, "- one\n- two\n- three")                         // all bullet lines
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherQuality(docs, "doc_id", "text", minWords = 20, maxWords = 1000)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(6), r.getInt(7), r.getInt(8))).toMap // (n_words, alpha_frac, n_stop, keep)
    assert(got(1L)._1 == 24 && got(1L)._2 == 1.0 && got(1L)._3 >= 4 && got(1L)._4 == 1, s"good doc: ${got(1L)}")
    assert(got(2L)._4 == 0) // too short
    assert(got(3L)._2 == 0.0 && got(3L)._4 == 0) // zero alpha fraction
    assert(got(4L)._4 == 0) // bullet_frac = 1.0 > 0.9
    val bulletFrac = TextAnalysis.gopherQuality(docs, "doc_id", "text")
      .where(col("doc_id") === 4L).select("bullet_frac").head().getDouble(0)
    assert(bulletFrac == 1.0)
  }

  test("c4KeptLinesUdf is pinned identical to the expression spec on adversarial inputs") {
    val s = spark; import s.implicits._
    // tabs (Spark trim strips SPACES only), runs of spaces, trailing
    // newline (split keeps the empty), quote/!/? endings, javascript
    // casing, leading-space words, unicode
    val texts = Seq(
      "good line ends with period.\n\tTabbed line with five words.\n  spaced out line here now!  \n",
      "short.\nJavaScript heavy line should drop here.\nfive words ending in quote\"",
      "no terminal punctuation on this line\nand a ?   weird    spacing   question   line ?",
      "héllo wörld ünicode line runs here.\n\n\n",
      ""
    )
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val both = df.select(
      TextAnalysis.c4KeptLines(col("text"), 5).as("expr"),
      TextAnalysis.c4KeptLinesUdf(5)(col("text")).as("udf"))
      .collect()
    both.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"doc $i: expr=${r.getSeq[String](0)} udf=${r.getSeq[String](1)}")
    }
  }

  test("c4Clean applies line filters, doc filters, and the minKeptLines floor") {
    val s = spark; import s.implicits._
    val keepMe = "this line has five words.\nno punct so dropped here\nshort line.\n" +
      "another good line stays here!\nthis javascript line is dropped.\nfinal line also survives fine?"
    val docs = Seq(
      (1L, keepMe), // 3 surviving lines
      (2L, "a curly brace { document with lines.\nmore good lines in here."), // doc-level drop
      (3L, "Lorem Ipsum dolor sit amet placeholder.\nmore filler text lines here."), // doc-level drop
      (4L, "only one line survives this document.\nnot enough lines") // under minKeptLines
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4Clean(docs, "doc_id", "text", minWordsPerLine = 5, minKeptLines = 3)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(out.keySet == Set(1L))
    assert(out(1L)._1 == 3)
    assert(out(1L)._2 ==
      "this line has five words.\nanother good line stays here!\nfinal line also survives fine?")
    // trailing-quote terminal punctuation counts; trimming happens first
    val q = Seq((9L, "  he said \"stop right there now\"  \nsecond line is good too.\nthird line rounds it out.")).toDF("doc_id", "text")
    val got = TextAnalysis.c4Clean(q, "doc_id", "text", 5, 3).collect()
    assert(got.length == 1 && got.head.getString(2).startsWith("he said \"stop"))
  }

  test("bigramCrossEntropy matches the closed form on a tiny corpus") {
    val s = spark; import s.implicits._
    // corpus: "a b a b" and "a b c". V = 3; unigrams a:3 b:3 c:1;
    // bigrams: "a b":3, "b a":1, "b c":1
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramCrossEntropy(docs, "doc_id", "text", k = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val v = 4.0 // vocab includes "solo"
    def p(cbg: Double, cw: Double) = (cbg + 0.5) / (cw + 0.5 * v)
    val d1 = -(math.log(p(3, 3)) + math.log(p(1, 3)) + math.log(p(3, 3))) / 3
    val d2 = -(math.log(p(3, 3)) + math.log(p(1, 3))) / 2
    assert(math.abs(got(1L) - d1) < 1e-9, s"doc1: ${got(1L)} vs $d1")
    assert(math.abs(got(2L) - d2) < 1e-9, s"doc2: ${got(2L)} vs $d2")
    assert(!got.contains(3L)) // single-word doc: no bigrams
    // garbage (rare bigrams) scores strictly higher than fluent repeats
    assert(got(2L) > got(1L))
  }

  test("piiRedact masks emails/IPs/phones; piiCounts attributes overlaps to the specific kind") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "mail a.b+c@ex-1.org and 192.168.0.1 then 555-123-4567 end"),
      (2L, "no pii here, just 123 and 1.5"),
      (3L, "two mails: x@y.io z@w.co")
    ).toDF("doc_id", "text")
    val red = df.select(col("doc_id"), TextAnalysis.piiRedact(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(1L) == "mail <EMAIL> and <IP> then <PHONE> end")
    assert(red(2L) == "no pii here, just 123 and 1.5")
    assert(red(3L) == "two mails: <EMAIL> <EMAIL>")
    val counts = TextAnalysis.piiCounts(df, "text")
      .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(counts(1L) == ((1, 1, 1)) && counts(2L) == ((0, 0, 0)) && counts(3L) == ((2, 0, 0)))
  }

  test("decontaminate drops exactly the docs sharing n-grams with the eval set") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps high"), // shares 'quick brown fox' with eval
      (2L, "completely different words entirely here"),
      (3L, "the quick brown dog sits")        // 'the quick brown' also in eval doc
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "see the quick brown fox run")).toDF("doc_id", "text")
    val bad = Contamination.contaminatedIds(corpus, eval, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bad == Map(1L -> 2L, 3L -> 1L)) // doc1: 'the quick brown'+'quick brown fox'; doc3: 'the quick brown'
    val kept = Contamination.decontaminate(corpus, eval, "doc_id", "text", n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
    // minOverlap raises the bar
    val strict = Contamination.decontaminate(corpus, eval, "doc_id", "text", n = 3, minOverlap = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strict == Set(2L, 3L))
  }

  test("brute-force cosine top-k ranks by similarity with deterministic ties") {
    val s = spark; import s.implicits._
    val vecs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)), (3L, Array(0.0, 1.0)), (4L, Array(1.0, 0.01))
    ).toDF("id", "v")
    val out = Similarity.bruteForceTopK(vecs, vecs.where(col("id") === 1L), "id", "v", k = 2)
    val got = out.orderBy("rank").select("neighbor_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(4L, 2L)) // cos(1,4) > cos(1,2) > cos(1,3)
  }

  test("LSH top-k finds the identical vector (same bucket by construction)") {
    val s = spark; import s.implicits._
    val base = (1 to 40).map(i => (i.toLong, Array.tabulate(8)(d => math.sin(i * 13 + d).abs)))
    val vecs = (base :+ (99L, base.head._2)).toDF("id", "v")
    val out = Similarity.lshTopK(vecs, vecs.where(col("id") === 99L), "id", "v",
      k = 3, dims = 8, planes = 4, probes = 2)
    val top = out.where(col("rank") === 1).head()
    assert(top.getLong(top.fieldIndex("neighbor_id")) == 1L) // its identical twin
    assert(top.getDouble(top.fieldIndex("score")) == 1.0)
  }

  test("LSH top-k recall@5 vs brute force stays above the quality bar (VERDICT r3 #2)") {
    val s = spark; import s.implicits._
    // deterministic corpus: 8 loose clusters in 16 dims
    val corpus = (0 until 200).map { i =>
      val c = i % 8
      (i.toLong, Array.tabulate(16)(d => math.sin(c * 37 + d) + 0.2 * math.sin(i * 13 + d * 7)))
    }.toDF("id", "v")
    val queries = corpus.where(col("id") % 10 === 0)
    def topSets(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("query_id").agg(collect_set(col("neighbor_id")).as("nb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val bf = topSets(Similarity.bruteForceTopK(corpus, queries, "id", "v", k = 5))
    val lsh = topSets(Similarity.lshTopK(corpus, queries, "id", "v", k = 5, dims = 16, planes = 8, probes = 2))
    val recalls = bf.map { case (q, nbs) => lsh.getOrElse(q, Set.empty).intersect(nbs).size.toDouble / nbs.size }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.6, f"recall@5 fell to $recall%.3f (bar 0.6) — LSH quality regression")
  }

  test("lshBucketUdf is bit-identical to the lshBucket expression spec") {
    val s = spark; import s.implicits._
    val vecs = (0 until 100).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 13 + d * 7) * 3))
    }.toDF("id", "v")
    for (seed <- Seq(42, 43)) {
      val both = vecs.select(
        Similarity.lshBucketUdf(planes = 8, dims = 16, seed = seed)(col("v")).as("u"),
        Similarity.lshBucket(col("v"), planes = 8, dims = 16, seed = seed).as("e"))
      assert(both.where(col("u") =!= col("e")).count() == 0)
    }
  }

  test("IVF top-k: identical twin found, recall@5 above the bar, probes bound the work") {
    val s = spark; import s.implicits._
    val corpus = (0 until 200).map { i =>
      val c = i % 8
      (i.toLong, Array.tabulate(16)(d => math.sin(c * 37 + d) + 0.2 * math.sin(i * 13 + d * 7)))
    }.toDF("id", "v")
    val twin = corpus.where(col("id") === 0L).select(lit(999L).as("id"), col("v"))
    val all = corpus.unionByName(twin)
    val out = Similarity.ivfTopK(all, all.where(col("id") === 999L), "id", "v",
      k = 3, nlist = 8, nprobe = 3)
    val top = out.where(col("rank") === 1).head()
    assert(top.getLong(top.fieldIndex("neighbor_id")) == 0L)
    assert(top.getDouble(top.fieldIndex("score")) == 1.0)
    // recall across all queries
    val queries = corpus.where(col("id") % 10 === 0)
    def topSets(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("query_id").agg(collect_set(col("neighbor_id")).as("nb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val bf = topSets(Similarity.bruteForceTopK(corpus, queries, "id", "v", k = 5))
    val ivf = topSets(Similarity.ivfTopK(corpus, queries, "id", "v", k = 5, nlist = 8, nprobe = 3))
    val recalls = bf.map { case (q, nbs) => ivf.getOrElse(q, Set.empty).intersect(nbs).size.toDouble / nbs.size }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.6, f"IVF recall@5 fell to $recall%.3f (bar 0.6)")
  }

  test("ivfAssignTwoLevel id contract: string ids route FLAT (matching ivfAssign), negative ids fail fast (r15)") {
    val s = spark; import s.implicits._
    val corpus = (0 until 150).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 13 + d * 7)))
    }.toDF("id", "v")
    def centsOf(ids: Seq[Any]): org.apache.spark.sql.DataFrame = {
      val base = (0 until ids.length).map { i =>
        (i, Array.tabulate(8)(d => math.cos(i * 31 + d * 3)))
      }.toDF("i", "__cv__")
      val idDf = ids.zipWithIndex match {
        case z if ids.head.isInstanceOf[String] =>
          z.map { case (v, i) => (i, v.asInstanceOf[String]) }.toDF("i", "cent_id")
        case z => z.map { case (v, i) => (i, v.asInstanceOf[Long]) }.toDF("i", "cent_id")
      }
      base.join(idDf, "i")
        .select(col("cent_id"), col("__cv__"),
          sqrt(aggregate(col("__cv__"), lit(0.0d), (a, x) => a + x * x)).as("__cn__"))
    }
    // 80 STRING-id centroids (>= TwoLevelMinNlist): the two-level
    // tiebreak negates ids, which silently null-casts strings — the
    // switch must fall back to the flat route, whose window orders
    // any type, and produce exactly ivfAssign's assignment
    val sCents = centsOf((0 until 80).map(i => f"k$i%03d"))
    val viaSwitch = Similarity.ivfAssignTwoLevel(corpus, sCents, "id", "v", "row", 4)
      .select("row_id", "cent_id").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    SparkEntry.runPendingCleanups()
    val viaFlat = Similarity.ivfAssign(corpus, sCents, "id", "v", "row", keep = 1, 4)
      .select("row_id", "cent_id").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(viaSwitch == viaFlat, "string-id centroids must route flat and match ivfAssign exactly")
    // negative integral ids on the two-level route would invert the
    // (sim desc, id asc) tiebreak — the guard refuses them up front
    val nCents = centsOf((0 until 80).map(i => (i - 1).toLong))
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfAssignTwoLevel(corpus, nCents, "id", "v", "row", 4)
    }
    assert(ex.getMessage.contains("non-negative"), s"unexpected message: ${ex.getMessage}")
    SparkEntry.runPendingCleanups()
  }

  test("ivfAssignTwoLevel driver-memory contract: an over-budget centroid frame fails with the sizing knobs named (r16)") {
    val s = spark; import s.implicits._
    // the centroid frame is collected AND broadcast whole; under
    // autoNlist it is the one driver term that grows with corpus size
    // (nlist = sqrt(n)), so an oversized frame must fail naming the
    // budget and the remedies, not OOM mid-collect three stages later
    val corpus = (0 until 150).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 13 + d * 7)))
    }.toDF("id", "v")
    val cents = (0 until 80).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.cos(i * 31 + d * 3)))
    }.toDF("cent_id", "__cv__")
      .withColumn("__cn__", sqrt(aggregate(col("__cv__"), lit(0.0d), (a, x) => a + x * x)))
    val old = Similarity.MaxCentroidComponents
    Similarity.MaxCentroidComponents = 100L // 80 cells x 8 dims = 640 > 100
    try {
      val ex = intercept[IllegalArgumentException] {
        Similarity.ivfAssignTwoLevel(corpus, cents, "id", "v", "row", 4)
      }
      assert(ex.getMessage.contains("MaxCentroidComponents") && ex.getMessage.contains("640"),
        s"unexpected message: ${ex.getMessage}")
    } finally Similarity.MaxCentroidComponents = old
    // within budget the same frame routes two-level normally
    val routed = Similarity.ivfAssignTwoLevel(corpus, cents, "id", "v", "row", 4)
    assert(routed.select("row_id").distinct().count() == 150)
    SparkEntry.runPendingCleanups()
  }

  test("recallReport measures the (probed_fraction, recall) frontier; full probe is exactly 1.0 (r16)") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = emb.where(col("vec_id") % 25 === 0)
    val rep = Similarity.recallReport(emb, q, "vec_id", "emb", k = 5,
      configs = Seq((16, 1), (16, 4), (16, 16), (Similarity.AutoNlist, 4)))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), (r.getInt(2), r.getDouble(3), r.getDouble(4)))).toMap
    // probing every cell IS brute force under the same tie rules
    assert(rep((16, 16))._3 == 1.0, s"full probe must recall 1.0, got ${rep((16, 16))}")
    // recall is monotone in nprobe at fixed nlist
    assert(rep((16, 1))._3 <= rep((16, 4))._3 && rep((16, 4))._3 <= 1.0,
      s"recall must not decrease with nprobe: ${rep((16, 1))._3} vs ${rep((16, 4))._3}")
    // cost side: probed_fraction = nprobe / resolved nlist, capped at 1
    assert(rep((16, 4))._2 == 0.25 && rep((16, 16))._2 == 1.0)
    // AutoNlist resolves and reports the derived cell count
    val nz = emb.where(aggregate(col("emb"), lit(0.0), (a, x) => a + x * x) > 0).count()
    assert(rep((Similarity.AutoNlist, 4))._1 == Similarity.autoNlist(nz))
    // the fitted variant sweeps nprobe under one trained frame and
    // reports the frame's own cell count; full probe is 1.0 there too
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "emb", k = 8, iters = 1)
    val fit = Similarity.recallReportFitted(emb, q, "vec_id", "emb", k = 5,
      nprobes = Seq(2, 8), centroids = cents)
      .collect().map(r => r.getInt(1) -> (r.getInt(0), r.getDouble(4))).toMap
    assert(fit(2)._1 == 8 && fit(8)._1 == 8, "fitted report must carry the frame's cell count")
    assert(fit(8)._2 == 1.0, s"fitted full probe must recall 1.0, got ${fit(8)}")
    assert(fit(2)._2 <= 1.0 && fit(2)._2 >= 0.0)
    // resolved_nlist clamps to the nonzero corpus count (r17, ADVICE
    // r16): an nlist above the corpus size can only yield nzCount
    // cells, so the report must not overstate probed cost
    val over = Similarity.recallReport(emb, q, "vec_id", "emb", k = 5,
      configs = Seq((1 << 20, 4))).head()
    assert(over.getInt(2) == nz.toInt,
      s"resolved_nlist must clamp to the corpus count $nz, got ${over.getInt(2)}")
    SparkEntry.runPendingCleanups()
  }

  test("recallReportFitted driver budget fires before the centroid collect (r17)") {
    val s = spark; import s.implicits._
    val corpus = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 13 + d * 7)))
    }.toDF("id", "v")
    val cents = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.cos(i * 31 + d * 3)))
    }.toDF("cent_id", "__cv__")
      .withColumn("__cn__", sqrt(aggregate(col("__cv__"), lit(0.0d), (a, x) => a + x * x)))
    val old = Similarity.MaxCentroidComponents
    Similarity.MaxCentroidComponents = 100L // 40 cells x 8 dims = 320 > 100
    try {
      val ex = intercept[IllegalArgumentException] {
        Similarity.recallReportFitted(corpus, corpus.limit(3), "id", "v", k = 3,
          nprobes = Seq(1), centroids = cents)
      }
      assert(ex.getMessage.contains("MaxCentroidComponents") && ex.getMessage.contains("320"),
        s"unexpected message: ${ex.getMessage}")
    } finally Similarity.MaxCentroidComponents = old
    SparkEntry.runPendingCleanups()
  }

  test("residual PQ (IVFADC) recalls at least as well as raw PQ at the same byte budget (r17)") {
    val s = spark; import s.implicits._
    // loose clusters (the regime where quantization quality shows):
    // raw PQ spends its codewords on the full vector distribution,
    // residual PQ on the much tighter x - c_cell(x) distribution —
    // same m x ksub bytes, materially closer reconstructions
    val corpus = (0 until 480).map { i =>
      val c = i % 16
      (i.toLong, Array.tabulate(16)(d => math.sin(c * 37 + d) + 0.45 * math.sin(i * 13 + d * 7)))
    }.toDF("id", "v")
    val queries = corpus.where(col("id") % 24 === 0)
    def topSets(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("query_id").agg(collect_set(col("neighbor_id")).as("nb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    def recallOf(m: Map[Long, Set[Long]], bf: Map[Long, Set[Long]]) = {
      val rs = bf.map { case (q, nbs) => m.getOrElse(q, Set.empty).intersect(nbs).size.toDouble / nbs.size }
      rs.sum / rs.size
    }
    val bf = topSets(Similarity.bruteForceTopK(corpus, queries, "id", "v", k = 5))
    def pqRecall(residual: Boolean) = recallOf(topSets(Similarity.pqTopK(
      corpus, queries, "id", "v", k = 5, dims = 16, m = 4, ksub = 8, iters = 2,
      nlist = 16, nprobe = 8, residual = residual)), bf)
    val (rRaw, rRes) = (pqRecall(residual = false), pqRecall(residual = true))
    assert(rRes >= rRaw,
      f"residual recall $rRes%.3f must not lose to raw $rRaw%.3f at equal probed fraction")
    assert(rRes >= 0.6, f"residual PQ recall $rRes%.3f below the bar")
    // exactly-zero residuals (every coarse centroid's own row) encode
    // deterministically under the L2 rule — the degenerate class that
    // forced L2 over cosine must be SERVED, not dropped
    val served = Similarity.pqTopK(corpus, queries, "id", "v", k = 5, dims = 16,
      m = 4, ksub = 8, iters = 1, nlist = 16, nprobe = 9999, residual = true)
    assert(served.select("query_id").distinct().count() == queries.count(),
      "every nonzero query must be served in residual mode")
    SparkEntry.runPendingCleanups()
  }

  test("trained quantizer retains recall at low probed fraction where the random draw decays") {
    val s = spark; import s.implicits._
    // 16 LOOSE clusters (noise comparable to cluster separation),
    // 480 rows: at nlist=32 / nprobe=2 only ~6% of cells are probed.
    // Tight clusters make ANY quantizer perfect (Voronoi
    // self-consistency: a query and its neighbors share nearest
    // centroids); loose clusters are the regime where the md5-draw's
    // arbitrary cell boundaries cut through neighborhoods while
    // kmeans-fitted cells track the cluster means — recall then
    // comes from the QUANTIZER, not from probing a constant corpus
    // fraction. That is the documented 100 TB recipe.
    val corpus = (0 until 480).map { i =>
      val c = i % 16
      (i.toLong, Array.tabulate(16)(d => math.sin(c * 37 + d) + 0.45 * math.sin(i * 13 + d * 7)))
    }.toDF("id", "v")
    val queries = corpus.where(col("id") % 24 === 0)
    def topSets(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("query_id").agg(collect_set(col("neighbor_id")).as("nb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    def recallOf(m: Map[Long, Set[Long]], bf: Map[Long, Set[Long]]) = {
      val rs = bf.map { case (q, nbs) => m.getOrElse(q, Set.empty).intersect(nbs).size.toDouble / nbs.size }
      rs.sum / rs.size
    }
    val bf = topSets(Similarity.bruteForceTopK(corpus, queries, "id", "v", k = 5))
    val fitted = Similarity.kmeansCentroids(corpus, "id", "v", k = 32, iters = 2)
    val rFitted = recallOf(topSets(Similarity.ivfTopK(corpus, queries, "id", "v",
      k = 5, nprobe = 2, centroids = Some(fitted))), bf)
    val rRandom = recallOf(topSets(Similarity.ivfTopK(corpus, queries, "id", "v",
      k = 5, nlist = 32, nprobe = 2)), bf)
    assert(rFitted >= 0.8, f"fitted-quantizer recall $rFitted%.3f below the bar at a 6%% fraction")
    assert(rFitted > rRandom,
      f"fitted recall $rFitted%.3f must beat the random draw's $rRandom%.3f at equal probes")
    // and the stored index serves the fitted quantizer identically
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-fitted").toString + "/idx"
    IvfIndex.build(corpus, "id", "v", path, centroids = Some(fitted))
    val stored = topSets(IvfIndex.searchTopK(spark, path, queries, "id", "v", k = 5, nprobe = 2))
    val mem = topSets(Similarity.ivfTopK(corpus, queries, "id", "v",
      k = 5, nprobe = 2, centroids = Some(fitted)))
    assert(stored == mem, "stored fitted-quantizer index must serve the in-memory results")
  }

  test("IVF-PQ: ADC scores reproduce from codes + codebooks, recall above the PQ bar") {
    val s = spark; import s.implicits._
    val corpus = (0 until 200).map { i =>
      val c = i % 8
      (i.toLong, Array.tabulate(16)(d => math.sin(c * 37 + d) + 0.2 * math.sin(i * 13 + d * 7)))
    }.toDF("id", "v")
    val queries = corpus.where(col("id") % 10 === 0)
    val out = Similarity.pqTopK(corpus, queries, "id", "v", k = 5, dims = 16,
      m = 4, ksub = 8, iters = 1, nlist = 8, nprobe = 3)
    // ADC reproduction: recompute one query's top score from the
    // collected codebooks + codes — pins the LUT/xnorm composition
    val cbDf = Similarity.pqCodebooks(corpus, "id", "v", dims = 16, m = 4, ksub = 8, iters = 1)
    val cb = cbDf.collect().map { r =>
      (r.getInt(r.fieldIndex("sub_id")), r.getLong(r.fieldIndex("cent_id"))) ->
        (r.getSeq[Double](r.fieldIndex("__cbv__")).toArray, r.getDouble(r.fieldIndex("__cbn2__")))
    }.toMap
    val codes = Similarity.pqEncode(corpus, cbDf, "id", "v", dims = 16, m = 4).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(r => r.getInt(r.fieldIndex("sub_id")) -> r.getLong(r.fieldIndex("code_id"))).toMap
      }
    val top = out.where(col("query_id") === 0L && col("rank") === 1).head()
    val nId = top.getLong(top.fieldIndex("neighbor_id"))
    val qv = Array.tabulate(16)(d => math.sin(0 * 37 + d) + 0.2 * math.sin(0 * 13 + d * 7))
    val qn = math.sqrt(qv.map(x => x * x).sum)
    var num = 0.0; var xn2 = 0.0
    for (sId <- 0 until 4) {
      val (cw, cbn2) = cb((sId, codes(nId)(sId)))
      var dot = 0.0
      for (d <- 0 until 4) dot += qv(sId * 4 + d) * cw(d)
      num += dot; xn2 += cbn2
    }
    val expect = BigDecimal(num / (qn * math.sqrt(xn2)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(top.getDouble(top.fieldIndex("score")) - expect) < 1e-9)
    // recall vs brute force: PQ quantizes, so the bar is below IVF's
    def topSets(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("query_id").agg(collect_set(col("neighbor_id")).as("nb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val bf = topSets(Similarity.bruteForceTopK(corpus, queries, "id", "v", k = 5))
    val pq = topSets(out)
    val recalls = bf.map { case (q, nbs) => pq.getOrElse(q, Set.empty).intersect(nbs).size.toDouble / nbs.size }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.4, f"IVF-PQ recall@5 fell to $recall%.3f (bar 0.4)")
  }

  test("pqEncode: zero-norm codeword loses like Spark Divide's null-on-zero (r20 fix)") {
    val s = spark; import s.implicits._
    // Subspace 0's codeword 5 is ALL-ZERO — reachable when the init
    // draw lands on an all-zero subvector slice (sparse/padded
    // embeddings) or a Lloyd mean rounds to exactly zero. SQL scores
    // round(dot / (svn * cbn), 4) with Spark's Divide, which returns
    // NULL on a zero divisor; NULL loses under desc NULLS LAST. Java's
    // d/0.0 in the packed kernel would instead be NaN (0/0), which the
    // comparator ranks LARGEST — every row would silently assign to
    // the zero codeword. Codewords 9 and 10 of subspace 0 are equal (a
    // tie whose string order, "10" < "9", differs from the numeric
    // one), and subspace 1's codewords are all parallel, with a null
    // draw id among them (nulls order first). The same codebook is
    // keyed by long, decimal and string draw ids, and each encode is
    // checked against an explode × join × row_number SQL reference.
    val cbRows = Seq(
      (0, Option(5L), Seq(0.0, 0.0)), (0, Option(9L), Seq(1.0, 0.25)), (0, Option(10L), Seq(1.0, 0.25)),
      (1, Option(5L), Seq(0.5, 1.0)), (1, Option(9L), Seq(0.25, 0.5)), (1, Option.empty[Long], Seq(0.5, 1.0)))
    def cbDf(idType: String) = cbRows.toDF("sub_id", "cent_id", "__cbv__")
      .withColumn("cent_id", col("cent_id").cast(idType))
      .withColumn("__cbn__", Similarity.norm(col("__cbv__")))
    val corpus = Seq(
      (1L, Seq(0.3, 0.7, 0.2, 0.9)),
      (2L, Seq(0.8, 0.1, 0.4, 0.6)),
      // a zero SLICE on the row side: every divisor is zero, so every
      // metric is null and the id-asc tiebreak picks the first id
      (3L, Seq(0.0, 0.0, 1.0, 1.0))).toDF("id", "v")
    def enc(cb: org.apache.spark.sql.DataFrame) =
      Similarity.pqEncode(corpus, cb, "id", "v", dims = 4, m = 2)
    // the reference divides in SQL, where a zero divisor is NULL only
    // under non-ANSI semantics (ANSI — the Spark 4 session default —
    // throws DIVIDE_BY_ZERO instead); the DuckDB oracle also yields
    // NULL, so non-ANSI IS the documented contract the packed kernel
    // replays. Flip ANSI off just for the reference.
    def reference(cb: org.apache.spark.sql.DataFrame) = {
      val sv = col("__sv__")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"), col("sub_id"))
        .orderBy(col("__psim__").desc, col("cent_id").asc)
      val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try corpus
        .select(col("id"), posexplode(array(slice(col("v"), 1, 2), slice(col("v"), 3, 2)))
          .as(Seq("sub_id", "__sv__")))
        .join(cb, Seq("sub_id"))
        .withColumn("__psim__", round(Similarity.dotExpr(sv, col("__cbv__")) /
          (sqrt(Similarity.dotExpr(sv, sv)) * col("__cbn__")), 4))
        .withColumn("__pr__", row_number().over(w))
        .where(col("__pr__") === 1)
        .select(col("id"), col("sub_id"), col("cent_id").as("code_id"))
        .collect()
      finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
    }
    def codes(idType: String): Map[(Long, Int), Any] = {
      val packed = enc(cbDf(idType))
      assert(packed.schema("code_id").dataType.simpleString == idType,
        s"code_id must keep the draw-id type $idType, got ${packed.schema("code_id").dataType}")
      assertSame(packed, spark.createDataFrame(
        java.util.Arrays.asList(reference(cbDf(idType)): _*), packed.schema))
      packed.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.get(2)).toMap
    }
    val byLong = codes("bigint")
    // explicitly: rows with a nonzero slice never assign to the
    // zero-norm codeword in subspace 0, and the 9/10 tie goes to 9
    assert(byLong((1L, 0)) == 9L && byLong((2L, 0)) == 9L,
      s"zero-norm codeword must lose for nonzero slices, got $byLong")
    assert(byLong((3L, 0)) == 5L, s"all-null metrics tiebreak by id asc, got $byLong")
    assert((1L to 3L).forall(i => byLong((i, 1)) == null), s"a null draw id wins its tie, got $byLong")
    val byDec = codes("decimal(10,0)")
    assert(byDec.map { case (k, v) => k -> Option(v).map(_.toString).orNull } ==
      byLong.map { case (k, v) => k -> Option(v).map(_.toString).orNull },
      s"decimal ids order numerically, got $byDec")
    // string ids order as strings: "10" < "5" < "9"
    val byStr = codes("string")
    assert((1L to 3L).forall(i => byStr((i, 0)) == "10"), s"string ids tiebreak in string order, got $byStr")
    assert((1L to 3L).forall(i => byStr((i, 1)) == null), s"a null draw id wins its tie, got $byStr")
  }

  test("pqFit/pqSearch: one fit serves many query batches from cache, release drops it") {
    val s = spark; import s.implicits._
    val sc = s.sparkContext
    val corpus = (0 until 200).map { i =>
      val c = i % 8
      (i.toLong, Array.tabulate(16)(d => math.sin(c * 37 + d) + 0.2 * math.sin(i * 13 + d * 7)))
    }.toDF("id", "v")
    val qa = corpus.where(col("id") % 10 === 0)
    val qb = corpus.where(col("id") % 10 === 3) // a batch the fit never saw
    val before = sc.getPersistentRDDs.keySet
    val model = Similarity.pqFit(corpus, "id", "v", dims = 16, m = 4, ksub = 8,
      iters = 1, nlist = 8, nprobe = 3)
    // both batches reproduce the single-shot form exactly — the fit
    // is the same deterministic model, reused
    assertSame(Similarity.pqSearch(model, qa, "id", "v", k = 5),
      Similarity.pqTopK(corpus, qa, "id", "v", k = 5, dims = 16, m = 4, ksub = 8,
        iters = 1, nlist = 8, nprobe = 3))
    assertSame(Similarity.pqSearch(model, qb, "id", "v", k = 5),
      Similarity.pqTopK(corpus, qb, "id", "v", k = 5, dims = 16, m = 4, ksub = 8,
        iters = 1, nlist = 8, nprobe = 3))
    // no-retraining pin: the serving plan reads the fitted frames
    // from cache — codebook lineage (Lloyd training) is NOT in it
    val servePlan = Similarity.pqSearch(model, qb, "id", "v", k = 5)
      .queryExecution.executedPlan.toString
    assert(servePlan.contains("InMemoryTableScan"),
      s"pqSearch over a persisted model does not read the cache:\n$servePlan")
    model.release()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "release() left model frames cached")
  }

  test("simhash candidates: exact dups collide at hamming 0, unrelated text is pruned") {
    val out = Dedup.simhashCandidates(docs, "doc_id", "text", bits = 32, bands = 4, maxHamming = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(r.fieldIndex("hamming")))
      .toMap
    assert(out((1L, 2L)) == 0) // identical text -> identical signature
    assert(out.contains((1L, 3L))) // case/punct variant stays within maxHamming
    assert(!out.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash candidates respect the hot-bucket cap") {
    val s = spark; import s.implicits._
    val many = (1 to 300).map(i => (i.toLong, "identical text repeated for the bucket cap test"))
      .toDF("doc_id", "text")
    assert(Dedup.simhashCandidates(many, "doc_id", "text", maxBucketSize = 100).count() == 0)
  }

  test("simhashUdf is bit-identical to the simhashFromMd5s expression spec") {
    val aw = split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " ")
    val both = docs.select(
      Dedup.simhashUdf(32)(aw).as("u"),
      Dedup.simhashFromMd5s(transform(aw, w => md5(w)), 32).as("e"))
    assert(both.where(col("u") =!= col("e")).count() == 0)
  }

  test("native Catalyst hash expressions: bit-identical to UDF + expression spec, codegen'd, SQL-registered") {
    val s = spark; import s.implicits._
    // equality across all THREE forms (native expression / UDF mirror
    // / interpreted expression spec), including empty and null arrays
    val aw = split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " ")
    val sh = array_distinct(Dedup.wordShingles(col("text"), 3))
    val withNull = docs.unionByName(
      Seq((99L, Option.empty[String])).toDF("doc_id", "text"))
    val tri = withNull.select(
      Dedup.minhashSignatureNative(sh, 8).as("n"),
      Dedup.minhashSignatureUdf(8)(sh).as("u"),
      Dedup.minhashSignature(sh, 8).as("e"),
      Dedup.simhashNative(aw, 32).as("sn"),
      Dedup.simhashUdf(32)(aw).as("su"),
      Dedup.simhashFromMd5s(transform(aw, w => md5(w)), 32).as("se"))
    assert(tri.where(not(col("n") <=> col("u")) || not(col("n") <=> col("e"))).count() == 0)
    // native == UDF everywhere (both return null for null words — the
    // null-text hardening contract, so null-text docs drop out of the
    // banded join); the interpreted spec is compared on non-null rows
    // only, because when(null >= 0).otherwise('0') folds a null vote
    // to the all-zeros string instead of null there
    assert(tri.where(not(col("sn") <=> col("su"))).count() == 0)
    assert(tri.where(col("sn").isNotNull && not(col("sn") <=> col("se"))).count() == 0)
    // the native form stays inside whole-stage codegen: the signature
    // projection shows the expression, not a ScalaUDF boundary (a
    // parquet scan, not the local fixture — Catalyst folds projections
    // over LocalRelations into the scan, hiding the plan shape)
    // (fed a plain split() here: the lambda-HOF shingle EXPRESSION is
    // CodegenFallback and would break the span by itself — the real
    // hot path stages shingles through the native shingle UDF, which
    // does codegen)
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(Dedup.minhashSignatureNative(split(col("text"), " "), 8).as("sig"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_minhash"), s"native expression missing from plan:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"hot path still plans a ScalaUDF:\n$plan")
    assert(plan.contains("*(1) Project [graft_minhash"),
      s"signature projection fell out of whole-stage codegen (no * marker):\n$plan")
    // SparkSessionExtensions registration exposes the SQL surface
    val viaSql = spark.sql(
      "SELECT graft_minhash(array('a b c', 'b c d'), 8) AS sig, graft_simhash(array('a','b'), 16) AS sh")
      .head()
    // r14: shingling too
    val viaShingles = spark.sql(
      "SELECT graft_shingles(array('a','b','c','d'), 2) AS sg").head().getSeq[String](0)
    assert(viaShingles == Seq("a b", "b c", "c d"), s"graft_shingles SQL surface: $viaShingles")
    // r15: the fused quantizer too — codes of (3, -4) scale by 4/127
    val viaInt8 = spark.sql(
      "SELECT graft_int8(CAST(array(3.0, -4.0) AS ARRAY<DOUBLE>)) AS q").head().getStruct(0)
    assert(viaInt8.getSeq[Int](0) == Seq(95, -127) && viaInt8.getDouble(1) == 4.0 / 127.0,
      s"graft_int8 SQL surface: $viaInt8")
    // foldable (not just bare-literal) integral args resolve too:
    // CAST(8 AS INT), a long literal, an arithmetic fold (ADVICE r5)
    val viaFoldable = spark.sql(
      "SELECT graft_minhash(array('a b c', 'b c d'), CAST(8 AS INT)) AS s1, " +
        "graft_minhash(array('a b c', 'b c d'), 8L) AS s2, " +
        "graft_minhash(array('a b c', 'b c d'), 4 + 4) AS s3")
      .head()
    assert(viaFoldable.getSeq[String](0) == viaSql.getSeq[String](0))
    assert(viaFoldable.getSeq[String](1) == viaSql.getSeq[String](0))
    assert(viaFoldable.getSeq[String](2) == viaSql.getSeq[String](0))
    val direct = Seq(Tuple1(Seq("a b c", "b c d"))).toDF("sg")
      .select(Dedup.minhashSignatureNative(col("sg"), 8).as("sig"),
        Dedup.simhashNative(array(lit("a"), lit("b")), 16).as("sh"))
      .head()
    assert(viaSql.getSeq[String](0) == direct.getSeq[String](0))
    assert(viaSql.getString(1) == direct.getString(1))
    // native dot product: bit-identical to an INDEPENDENT local
    // left-to-right fold (comparing against dotExpr would be vacuous
    // here — RewriteDotProduct rewrites the HOF form to the same
    // native expression in this extension-enabled session)
    val arrs = (0 until 50).map(i => Array.tabulate(16)(d => math.sin(i * 13 + d * 7) * 3))
    val vecs = arrs.zipWithIndex.map { case (v, i) => (i.toLong, Option(v)) }
      .toDF("id", "v")
      .unionByName(Seq((99L, Option.empty[Array[Double]])).toDF("id", "v"))
    val got = vecs.crossJoin(vecs.where(col("id") < 5).select(col("id").as("jd"), col("v").as("w")))
      .select(col("id"), col("jd"), Similarity.dot(col("v"), col("w")).as("nd"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    for (i <- 0 until 50; j <- 0 until 5) {
      var acc = 0.0
      for (d <- 0 until 16) acc += arrs(i)(d) * arrs(j)(d)
      assert(got((i.toLong, j.toLong)) == Some(acc), s"dot($i,$j) mismatch")
    }
    (0 until 5).foreach(j => assert(got((99L, j.toLong)) == None))
  }

  test("RewriteDotProduct upgrades user-written HOF dot folds, preserving every edge case") {
    val s = spark; import s.implicits._
    // rows exercising the full contract: normal, length mismatch
    // (HOF nulls out), null element (HOF nulls out), null array
    val rows = Seq(
      (1L, Option(Seq[java.lang.Double](1.0, 2.0, 3.0)), Option(Seq[java.lang.Double](4.0, 5.0, 6.0))),
      (2L, Option(Seq[java.lang.Double](1.0, 2.0)), Option(Seq[java.lang.Double](4.0, 5.0, 6.0))),
      (3L, Option(Seq[java.lang.Double](1.0, null, 3.0)), Option(Seq[java.lang.Double](4.0, 5.0, 6.0))),
      (4L, Option.empty[Seq[java.lang.Double]], Option(Seq[java.lang.Double](4.0)))
    ).toDF("id", "a", "b")
    // plan assertion over a parquet scan (ConvertToLocalRelation
    // eagerly evaluates projections over local data, hiding the plan)
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("CAST(embedding AS array<double>) AS v")
      .createOrReplaceTempView("dot_vecs")
    val planned = spark.sql(
      "SELECT aggregate(zip_with(v, v, (x, y) -> x * y), 0d, (acc, v2) -> acc + v2) AS d FROM dot_vecs")
    assert(planned.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      s"HOF fold not rewritten:\n${planned.queryExecution.optimizedPlan}")
    // ADVICE r5 follow-up: the bare `0.0` spelling is NOT a silent
    // slow path — its DECIMAL(1,1) accumulator fails analysis against
    // the double merge lambda outright (pinned below), so the only
    // reachable non-0d double-zero spellings go through a cast, which
    // the foldable-zero matcher now rewrites too
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT aggregate(zip_with(v, v, (x, y) -> x * y), 0.0, (acc, v2) -> acc + v2) AS d FROM dot_vecs")
        .queryExecution.optimizedPlan
    }
    val plannedDec = spark.sql(
      "SELECT aggregate(zip_with(v, v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v2) -> acc + v2) AS d FROM dot_vecs")
    assert(plannedDec.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      s"cast-zero HOF fold not rewritten:\n${plannedDec.queryExecution.optimizedPlan}")
    spark.catalog.dropTempView("dot_vecs")
    rows.createOrReplaceTempView("dot_rows")
    val sql = "SELECT id, aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (acc, v) -> acc + v) AS d FROM dot_rows"
    val df = spark.sql(sql)
    val got = df.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got == Map(1L -> Some(32.0), 2L -> None, 3L -> None, 4L -> None), s"got $got")
    // and the native/API forms agree with the interpreted spec on the
    // same edge cases (dotExpr is itself rewritten here, so compare
    // against hand-computed expectations, not each other)
    val api = rows.select(col("id"), graft.pipeline.Similarity.dot(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(api == got)
    spark.catalog.dropTempView("dot_rows")
  }

  test("hammingDistance counts differing bit positions") {
    val s = spark; import s.implicits._
    val df = Seq(("1010", "1001")).toDF("a", "b")
    assert(df.select(Dedup.hammingDistance(col("a"), col("b"), 4)).head().getInt(0) == 2)
  }

  test("nearDupRepresentatives keeps min-id (default) or longest per cluster") {
    // 1,2,3 form one near-dup cluster; 4 and 5 are singletons
    val minIds = Dedup.nearDupRepresentatives(docs, "doc_id", "text", jaccardThreshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(minIds == Set(1L, 4L, 5L))
    val longest = Dedup.nearDupRepresentatives(docs, "doc_id", "text", jaccardThreshold = 0.5, keepLongest = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // doc 3 is the longest member of cluster {1,2,3} (45 chars vs 43)
    assert(longest == Set(3L, 4L, 5L))
  }

  test("repetition signals: dup-word fraction and top-bigram coverage, hand-computed") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "x y x y x y"), // 6 words, 2 distinct; top bigram "x y" count 3
      (2L, "all unique words here"),
      (3L, "a\nb\na\n\n") // 3 non-blank lines, one repeat
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(math.abs(out(1L).getDouble(2) - 4.0 / 6) < 1e-9) // dup_word_frac
    // normalized text "x y x y x y" = 11 chars; coverage 3 * len("x y") = 9
    assert(math.abs(out(1L).getDouble(3) - 9.0 / 11) < 1e-9)
    assert(out(2L).getDouble(2) == 0.0)
    assert(math.abs(out(3L).getDouble(1) - 1.0 / 3) < 1e-9) // dup_line_frac
  }

  test("tfIdf: corpus-wide word scores match the closed form") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "spark spark flink"), (2L, "spark beam")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdf(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    val r1 = out((1L, "spark"))
    assert(r1.getLong(r1.fieldIndex("tf")) == 2L)
    assert(r1.getLong(r1.fieldIndex("df")) == 2L)
    assert(math.abs(r1.getDouble(r1.fieldIndex("tfidf")) - 0.0) < 1e-9) // in every doc -> 0
    val fl = out((1L, "flink"))
    assert(math.abs(fl.getDouble(fl.fieldIndex("tfidf")) - math.log(2.0)) < 1e-9)
  }

  test("multimodal metadata + frame sampling plumbing") {
    val s = spark; import s.implicits._
    val df = docs.withColumn("payload", col("text").cast("binary"))
    val meta = Multimodal.withMediaMetadata(df, "payload", "text/plain")
    val r = meta.where(col("doc_id") === 1L).head()
    assert(r.getLong(r.fieldIndex("n_bytes")) == 43L)
    assert(r.getString(r.fieldIndex("digest")).length == 32)
    val frames = Multimodal.sampleFrames(df, "doc_id", "payload", frames = 4)
    assert(frames.count() == 5 * 4)
    val feats = Multimodal.extractFeatures(df, "doc_id", "payload", dims = 8)
    assert(feats.columns.contains("text")) // other columns preserved (no rdd round-trip)
    assert(feats.select("features").head().getSeq[Float](0).length == 8)
  }

  test("media header parsers: PNG/JPEG/GIF/WAV dims and audio params from real container bytes") {
    import graft.pipeline.MediaInfo
    import graft.testing.MediaFixture
    // fixture indices: i%5 = 0 png, 1 jpeg, 2 gif, 3 wav, 4 corrupt
    val png = Multimodal.parseMediaHeader(MediaFixture.payload(10))
    assert(png == MediaInfo("png", Some(26), Some(26), None, None, None, None))
    val jpg = Multimodal.parseMediaHeader(MediaFixture.payload(11))
    assert(jpg == MediaInfo("jpeg", Some(27), Some(27), None, None, None, None))
    val gif = Multimodal.parseMediaHeader(MediaFixture.payload(12))
    assert(gif == MediaInfo("gif", Some(28), Some(28), None, None, None, None))
    // i=13 -> k=2: rate 12000, 1 channel, 2 bytes/sample, data=213 bytes
    val wav = Multimodal.parseMediaHeader(MediaFixture.payload(13))
    assert(wav == MediaInfo("wav", None, None, Some(12000), Some(1), Some(16),
      Some(213L * 1000 / 24000)))
    // a width only a u32 can hold (not a u16): 70000 x 3
    val bigPng = {
      val out = new java.io.ByteArrayOutputStream
      out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      out.write(Array(0, 0, 0, 13).map(_.toByte)); out.write("IHDR".getBytes("US-ASCII"))
      out.write(Array(0x00, 0x01, 0x11, 0x70).map(_.toByte)) // width 70000 BE
      out.write(Array(0x00, 0x00, 0x00, 0x03).map(_.toByte)) // height 3
      out.write(Array(8, 2, 0, 0, 0).map(_.toByte)); out.write(new Array[Byte](4))
      out.toByteArray
    }
    assert(Multimodal.parseMediaHeader(bigPng) ==
      MediaInfo("png", Some(70000), Some(3), None, None, None, None))
  }

  test("media header parsers: garbage, truncation and null never throw") {
    import graft.testing.MediaFixture
    assert(Multimodal.parseMediaHeader(null).format == "unknown")
    assert(Multimodal.parseMediaHeader(Array.emptyByteArray).format == "unknown")
    assert(Multimodal.parseMediaHeader(MediaFixture.payload(14)).format == "unknown")
    // every prefix truncation of every valid container must degrade
    // to 'unknown' or a consistent partial parse — never an exception
    for (i <- 0L until 4L; cut <- 0 to MediaFixture.payload(i).length) {
      val m = Multimodal.parseMediaHeader(MediaFixture.payload(i).take(cut))
      assert(m.format == "unknown" || Set("png", "jpeg", "gif", "wav")(m.format))
    }
    // JPEG with a lying segment length that walks past the buffer
    val lyingJpeg = Array(0xff, 0xd8, 0xff, 0xe0, 0xff, 0xff).map(_.toByte) ++ new Array[Byte](8)
    assert(Multimodal.parseMediaHeader(lyingJpeg).format == "unknown")
    // WAV whose data chunk size overflows int addressing
    val hugeWav = {
      val out = new java.io.ByteArrayOutputStream
      out.write("RIFF".getBytes("US-ASCII")); out.write(new Array[Byte](4))
      out.write("WAVE".getBytes("US-ASCII"))
      out.write("data".getBytes("US-ASCII"))
      out.write(Array(0xff, 0xff, 0xff, 0xff).map(_.toByte)) // size = u32 max
      out.toByteArray
    }
    assert(Multimodal.parseMediaHeader(hugeWav).format == "unknown")
  }

  test("bpeTokensUdf: greedy merge order, rank ties leftmost, degenerate inputs") {
    val s = spark; import s.implicits._
    val merges = graft.testing.TokenFixture.merges
    val df = Seq(
      (1L, "hello"), (2L, "helz"), (3L, "xyz"), (4L, "abc"),
      (5L, "hello helz xyz"), (6L, ""), (7L, null: String),
      (8L, "ohell") // same chars, wrong order: o+h never merges
    ).toDF("id", "text")
    val out = TextAnalysis.bpeTokensUdf(merges)(col("text"))
    val got = df.select(col("id"), out.as("toks")).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[String](1)).map(_.toList)).toMap
    assert(got(1L).contains(List("hello")))
    assert(got(2L).contains(List("hel", "z")))
    assert(got(3L).contains(List("xy", "z")))
    assert(got(4L).contains(List("a", "b", "c")))
    assert(got(5L).contains(List("hello", "hel", "z", "xy", "z")))
    assert(got(6L).contains(Nil))
    assert(got(7L).isEmpty) // null text -> null tokens
    // o h e l l: (h,e) merges first -> o he l l -> o hel l -> o hell
    assert(got(8L).contains(List("o", "hell")))
    // rank-tie leftmost: with merges ((a,a)) the word "aaa" must
    // become [aa, a], not [a, aa]
    val tie = TextAnalysis.bpeTokensUdf(Seq("a" -> "a"))
    assert(Seq((1L, "aaa")).toDF("id", "text").select(tie(col("text"))).head()
      .getSeq[String](0).toList == List("aa", "a"))
    // a duplicated pair keeps its FIRST rank (review finding: toMap
    // was last-wins): (b,c) at rank 0 merges before (a,b)
    val dup = TextAnalysis.bpeTokensUdf(Seq("b" -> "c", "a" -> "b", "b" -> "c"))
    assert(Seq((1L, "abc")).toDF("id", "text").select(dup(col("text"))).head()
      .getSeq[String](0).toList == List("a", "bc"))
  }

  test("scoreLinearModel: hand-computed score, empty/null docs score sigmoid(bias)") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "alpha beta"), (2L, ""), (3L, null: String)).toDF("doc_id", "text")
    val w = Array.tabulate(8)(b => (b - 4) / 4.0)
    val out = TextAnalysis.scoreLinearModel(df, "doc_id", "text", w, bias = 0.25)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sigmoidBias = 1.0 / (1.0 + math.exp(-0.25))
    assert(math.abs(out(2L) - sigmoidBias) < 1e-6)
    assert(math.abs(out(3L) - sigmoidBias) < 1e-6)
    // doc 1's grams are alpha, beta, "alpha beta": recompute the
    // buckets + sigmoid independently
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(g: String): Int = {
      val hex = md.digest(g.getBytes("UTF-8")).take(4).map(b => f"${b & 0xff}%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % 8).toInt
    }
    val sSum = Seq("alpha", "beta", "alpha beta").map(g => w(bucket(g))).sum
    val want = BigDecimal(1.0 / (1.0 + math.exp(-(0.25 + sSum))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out(1L) - want) < 1e-9, s"got ${out(1L)}, want $want")
  }

  test("gunzip: real decode, multi-member streams, corrupt input never throws") {
    import graft.pipeline.WebIngest
    import graft.testing.WebFixture
    assert(new String(WebIngest.gunzip(WebFixture.gzipPayload(3)), "UTF-8") == WebFixture.gzipText(3))
    // WARC-style concatenated members decode to the concatenation
    val two = WebFixture.gzipPayload(1) ++ WebFixture.gzipPayload(2)
    assert(new String(WebIngest.gunzip(two), "UTF-8") == WebFixture.gzipText(1) + WebFixture.gzipText(2))
    assert(WebIngest.gunzip(WebFixture.gzipPayload(9)) == null) // truncated fixture row
    assert(WebIngest.gunzip(null) == null)
    assert(WebIngest.gunzip("plainly not gzip at all".getBytes("UTF-8")) == null)
    // a truncated or corrupt SECOND member nulls the whole row —
    // GZIPInputStream would silently return member 1's text alone
    assert(WebIngest.gunzip(WebFixture.gzipPayload(1) ++ WebFixture.gzipPayload(2).dropRight(4)) == null)
    val flip2 = WebFixture.gzipPayload(1) ++ WebFixture.gzipPayload(2)
    flip2(WebFixture.gzipPayload(1).length + 14) = (flip2(WebFixture.gzipPayload(1).length + 14) ^ 0x20).toByte
    assert(WebIngest.gunzip(flip2) == null)
    // trailing non-gzip garbage after a valid member is malformed too
    assert(WebIngest.gunzip(WebFixture.gzipPayload(1) ++ Array[Byte](1, 2, 3)) == null)
    // a bit flip mid-stream must degrade (null or partial-CRC fail), never throw
    val bad = WebFixture.gzipPayload(4).clone
    bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x55).toByte
    WebIngest.gunzip(bad)
  }

  test("warcSplit: record envelopes, case-insensitive headers, truncation") {
    import graft.pipeline.WebIngest
    import graft.testing.WebFixture
    val i = 5L
    val pl = WebFixture.warcPayload(i)
    val recs = WebIngest.warcSplit(pl)
    assert(recs.length == WebFixture.warcRecordCount(i))
    for (r <- recs.indices) {
      assert(recs(r).rec_idx == r)
      assert(recs(r).warc_type == (if (r % 2 == 0) "response" else "request"))
      assert(recs(r).target_uri == graft.testing.UrlFixture.canonical((i * 7 + r) % 100))
      assert(recs(r).content_length == WebFixture.warcBodyLen(i, r))
      for (k <- 0 until 5)
        assert((pl(recs(r).body_offset.toInt + k) & 0xff) == WebFixture.warcBodyByte(i, r, k))
    }
    // the spec allows any header-name case
    val lower = new String(pl, "ISO-8859-1")
      .replace("WARC-Type", "warc-type").replace("Content-Length", "CONTENT-LENGTH")
      .getBytes("ISO-8859-1")
    assert(WebIngest.warcSplit(lower).length == recs.length)
    // truncation yields only fully-framed records, never a throw
    for (cut <- 0 to pl.length) {
      val r = WebIngest.warcSplit(java.util.Arrays.copyOfRange(pl, 0, cut))
      assert(r == null || r.forall(x => x.body_offset + x.content_length <= cut))
    }
    assert(WebIngest.warcSplit("HTTP/1.1 200 OK\r\n\r\n".getBytes("US-ASCII")) == null)
    // a malformed Content-Length ends parsing but KEEPS the earlier
    // well-formed records (review finding: .toLong threw and nulled
    // the whole file)
    val broken = (new String(pl, "ISO-8859-1") +
      "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: notanumber\r\n\r\n")
      .getBytes("ISO-8859-1")
    assert(WebIngest.warcSplit(broken).length == recs.length)
  }

  test("htmlToText: script/style/comment blocks, entity decode, whitespace collapse") {
    val s = spark; import s.implicits._
    import graft.pipeline.WebIngest
    val cases = Seq(
      ("<p>a</p><script>if (x<1 && y>2) {}</script><p>b</p>", "a b"), // script body with < > operators
      ("<STYLE>a{b}</STYLE>text", "text"), // case-insensitive block tags
      ("<!-- <p>no</p> -->yes", "yes"), // commented-out markup dropped whole
      ("x &amp;lt; y", "x &lt; y"), // double-encoded decodes exactly once
      ("a&nbsp;b &#39;c&#39; &quot;d&quot;", "a b 'c' \"d\""),
      ("<a href='u'>link</a>.", "link ."), // tags become spaces, then collapse
      ("no markup at all", "no markup at all")
    )
    val df = cases.zipWithIndex.map { case ((in, _), i) => (i, in) }.toDF("id", "html")
    val got = WebIngest.withHtmlText(df, "html").orderBy("id").collect()
      .map(r => r.getString(r.fieldIndex("text")))
    for (((in, want), g) <- cases.zip(got)) assert(g == want, s"extract($in) = '$g', want '$want'")
  }

  test("dechunk: hex sizes, extensions, trailers, malformed framing never throws") {
    import graft.pipeline.WebIngest
    import graft.testing.WebFixture
    assert(new String(WebIngest.dechunk(WebFixture.chunkedPayload(3)), "US-ASCII") ==
      WebFixture.chunkedText(3))
    assert(WebIngest.dechunk(WebFixture.chunkedPayload(9)) == null) // truncated fixture row
    assert(WebIngest.dechunk(null) == null)
    assert(WebIngest.dechunk("not chunked".getBytes("US-ASCII")) == null)
    // missing CRLF after a chunk's data is malformed, not recoverable
    assert(WebIngest.dechunk("3\r\nabcXX0\r\n\r\n".getBytes("US-ASCII")) == null)
    // uppercase hex sizes are valid per RFC 9112
    assert(new String(WebIngest.dechunk("A\r\n0123456789\r\n0\r\n\r\n".getBytes("US-ASCII")),
      "US-ASCII") == "0123456789")
    // prefix fuzz: a cut before the zero-size line is malformed ->
    // null; a cut at/after it is a COMPLETE stream (trailers are
    // optional) and must decode to the full text — never a throw,
    // never a partial result
    val pl = WebFixture.chunkedPayload(7)
    for (cut <- 0 until pl.length) {
      val r = WebIngest.dechunk(java.util.Arrays.copyOfRange(pl, 0, cut))
      assert(r == null || new String(r, "US-ASCII") == WebFixture.chunkedText(7))
    }
  }

  test("httpParse: status line, content-type parameter strip, truncation never throws") {
    import graft.pipeline.WebIngest
    val env = "HTTP/1.1 301 Moved\r\nLocation: /x\r\nCONTENT-TYPE: Text/HTML; charset=latin1\r\n\r\nBODY"
    val b = env.getBytes("ISO-8859-1")
    val p = WebIngest.httpParse(b, 0, b.length)
    assert(p.status == 301 && p.content_type == "text/html")
    assert(new String(b, p.body_offset.toInt, p.body_len.toInt, "US-ASCII") == "BODY")
    // the envelope cut before its blank line is truncated -> null
    assert(WebIngest.httpParse(b, 0, env.indexOf("\r\n\r\n")) == null)
    assert(WebIngest.httpParse("hello there".getBytes("US-ASCII"), 0, 11) == null)
    val bad = "HTTP/1.1 abc\r\n\r\n".getBytes("US-ASCII")
    assert(WebIngest.httpParse(bad, 0, bad.length) == null)
    // headerless response: blank line immediately after the status line
    val bare = "HTTP/1.0 204 No Content\r\n\r\n".getBytes("US-ASCII")
    val pb = WebIngest.httpParse(bare, 0, bare.length)
    assert(pb.status == 204 && pb.content_type == null && pb.body_len == 0)
    // a garbage Content-Type of only semicolons must not abort the
    // whole parse (review finding: ';'.split made an empty array)
    val semis = "HTTP/1.1 200 OK\r\nContent-Type:;\r\n\r\nBB".getBytes("US-ASCII")
    val ps = WebIngest.httpParse(semis, 0, semis.length)
    assert(ps.status == 200 && ps.content_type == "" && ps.body_len == 2)
    // a range cutting between the blank line's CR and LF is truncated,
    // even though the LF exists just past the range (review finding)
    val cut = "HTTP/1.1 200 OK\r\n\r\nB".getBytes("US-ASCII")
    assert(WebIngest.httpParse(cut, 0, "HTTP/1.1 200 OK\r\n\r".length) == null)
  }

  test("kmvDistinct: estimate within KMV error bounds, exact under k, duplicate-invariant") {
    val s = spark; import s.implicits._
    import graft.pipeline.Sketch
    val n = 20000
    val distinct = (0 until n).map(i => (1L, s"value-$i"))
    val withDups = distinct ++ (0 until 5000).map(i => (1L, s"value-${i % 100}"))
    val est = Sketch.kmvDistinct(withDups.toDF("g", "v"), "v", k = 256)
      .head().getDouble(0)
    // relative standard error ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
    assert(math.abs(est - n) / n < 0.25, s"KMV estimate $est too far from $n")
    // duplicates must not move the sketch at all (same distinct hash set)
    val estNoDups = Sketch.kmvDistinct(distinct.toDF("g", "v"), "v", k = 256)
      .head().getDouble(0)
    assert(est == estNoDups)
    // under k distinct values the count is exact
    val small = (0 until 17).map(i => (if (i % 2 == 0) "a" else "b", s"x$i")).toDF("g", "v")
    val exact = Sketch.kmvDistinctByGroup(small, Seq("g"), "v", k = 32)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(exact == Map("a" -> 9.0, "b" -> 8.0))
  }

  test("detectCharset/decodeText: BOM > declaration > meta > validation > cp1252") {
    import graft.pipeline.WebIngest._
    // strict UTF-8 validation: overlongs, surrogates, bare continuations
    assert(utf8Valid("plain ascii".getBytes("UTF-8"), 0, 11))
    assert(utf8Valid("café — é".getBytes("UTF-8"), 0, "café — é".getBytes("UTF-8").length))
    assert(!utf8Valid(Array(0xc0.toByte, 0xaf.toByte), 0, 2)) // overlong '/'
    assert(!utf8Valid(Array(0xed.toByte, 0xa0.toByte, 0x80.toByte), 0, 3)) // surrogate D800
    assert(!utf8Valid(Array(0x80.toByte), 0, 1)) // bare continuation
    assert(!utf8Valid(Array(0xf5.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte), 0, 4)) // > U+10FFFF lead
    assert(!utf8Valid("café".getBytes("ISO-8859-1"), 0, 4)) // lone 0xE9
    // precedence: a BOM beats a lying declaration
    val bommed = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ "x".getBytes("UTF-8")
    assert(detectCharset(bommed, "text/html; charset=ISO-8859-1") == "utf-8")
    // declaration beats meta; quoted + aliased labels canonicalize
    val metaDoc = """<html><meta http-equiv="Content-Type" content="text/html; charset='latin1'"></html>"""
    assert(detectCharset(metaDoc.getBytes("ISO-8859-1"), "text/plain; CHARSET=UTF8") == "utf-8")
    assert(detectCharset(metaDoc.getBytes("ISO-8859-1"), null) == "iso-8859-1")
    // unknown labels never fail the pipeline
    assert(detectCharset("x".getBytes, "text/html; charset=KOI8-R") == "windows-1252")
    // decode round trips, BOM stripped; cp1252's 0x80 is the euro
    assert(decodeText(bommed, "utf-8") == "x")
    assert(decodeText(Array(0x80.toByte), "windows-1252") == "€")
    assert(decodeText(null, "utf-8") == null)
    // utf-16be via BOM
    val be = Array[Byte](0xfe.toByte, 0xff.toByte) ++ "hi".getBytes("UTF-16BE")
    assert(detectCharset(be, null) == "utf-16be" && decodeText(be, "utf-16be") == "hi")
  }

  test("sitemapEntries: urlset + sitemapindex, entity decode, lenient noise tolerance") {
    val s = spark; import s.implicits._
    import graft.pipeline.UrlOps
    val xml =
      """<?xml version="1.0"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |  <url><loc> https://a.example.com/x?p=1&amp;q=2 </loc>
        |    <lastmod>2023-04-05</lastmod></url>
        |  <url data-x="1"><loc>https://a.example.com/&lt;odd&gt;</loc></url>
        |  <url><priority>0.5</priority></url><!-- no loc: dropped -->
        |</urlset>""".stripMargin
    val rows = UrlOps.sitemapEntries(Seq((1L, xml)).toDF("id", "xml"), "id", "xml")
      .orderBy("entry_idx").collect()
      .map(r => (r.getString(1), r.getInt(2), r.getString(3), Option(r.getString(4))))
    assert(rows.toSeq == Seq(
      ("url", 0, "https://a.example.com/x?p=1&q=2", Some("2023-04-05")),
      ("url", 1, "https://a.example.com/<odd>", None)))
    // a sitemapindex payload yields 'sitemap' rows; <sitemapindex>
    // itself must not match the <sitemap> block regex
    val idx = "<sitemapindex><sitemap><loc>https://a.example.com/s1.xml</loc></sitemap></sitemapindex>"
    val irows = UrlOps.sitemapEntries(Seq((2L, idx)).toDF("id", "xml"), "id", "xml").collect()
    assert(irows.length == 1 && irows.head.getString(1) == "sitemap" &&
      irows.head.getString(3) == "https://a.example.com/s1.xml")
    // non-sitemap and null payloads contribute nothing, never throw
    val junk = Seq((3L, "<html>nope</html>"), (4L, null.asInstanceOf[String])).toDF("id", "xml")
    assert(UrlOps.sitemapEntries(junk, "id", "xml").count() == 0)
  }

  test("tarMembers: USTAR walk with verified checksums; truncation drops only the torn tail") {
    import graft.pipeline.WebIngest
    import graft.testing.WebFixture
    val i = 11L // 2 + 11%4 = 5 members... (2 + 3) wait: 2 + (11 % 4) = 5
    val pl = WebFixture.tarPayload(i)
    val t = WebIngest.tarMembers(pl)
    assert(t.length == WebFixture.tarMemberCount(i))
    for (j <- t.indices) {
      assert(t(j).member_idx == j)
      assert(t(j).name == s"dir$i/file$j.txt")
      assert(t(j).n_bytes == WebFixture.tarBodyLen(i, j))
      for (k <- 0 until t(j).n_bytes.toInt)
        assert((pl(t(j).body_offset.toInt + k) & 0xff) == WebFixture.tarBodyByte(i, j, k))
    }
    // the truncated fixture yields exactly nm-1 members
    val trunc = WebFixture.tarPayload(6L) // 6 % 7 == 6
    assert(WebIngest.tarMembers(trunc).length == WebFixture.tarMemberCount(6L) - 1)
    // a corrupted checksum stops the walk at that header
    val bad = pl.clone
    bad(1024 + 148) = '7' // member 1's checksum field
    assert(WebIngest.tarMembers(bad).length == 1)
    // fuzz: cuts and bit flips never throw
    for (cut <- 0 to pl.length by 97) WebIngest.tarMembers(java.util.Arrays.copyOfRange(pl, 0, cut))
    for (pos <- pl.indices by 131) {
      val fl = pl.clone; fl(pos) = (fl(pos) ^ 0x44).toByte
      WebIngest.tarMembers(fl)
    }
    assert(WebIngest.tarMembers(null) == null)
  }

  test("zipMembers: central-directory decode agrees with the JDK ZipInputStream") {
    import graft.pipeline.WebIngest
    import graft.testing.WebFixture
    for (i <- Seq(0L, 4L, 13L)) { // stored-only, mixed, mixed
      val pl = WebFixture.zipPayload(i)
      val got = WebIngest.zipMembers(pl)
      val jdk = {
        val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(pl))
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Byte])]
        var e = zin.getNextEntry
        while (e != null) {
          val bos = new java.io.ByteArrayOutputStream
          val tmp = new Array[Byte](4096)
          var n = zin.read(tmp)
          while (n >= 0) { bos.write(tmp, 0, n); n = zin.read(tmp) }
          buf += ((e.getName, bos.toByteArray.toSeq))
          e = zin.getNextEntry
        }
        zin.close(); buf.toSeq
      }
      assert(got.map(m => (m.name, m.bytes.toSeq)).toSeq == jdk, s"i=$i")
      assert(got.map(_.n_bytes.toInt).toSeq == got.map(_.bytes.length).toSeq)
    }
    // corrupt EOCD -> null; a flipped body byte fails that member's
    // CRC and drops it alone, keeping the rest
    assert(WebIngest.zipMembers(WebFixture.zipPayload(8L)) == null)
    val pl = WebFixture.zipPayload(4L)
    val bodyPos = 30 + "z4/m0.bin".length // member 0 is STORED: its first body byte
    val bad = pl.clone
    bad(bodyPos) = (bad(bodyPos) ^ 0x55).toByte
    val after = WebIngest.zipMembers(bad)
    assert(after.length == WebFixture.zipMemberCount(4L) - 1 &&
      !after.exists(_.name == "z4/m0.bin"), "CRC-failed member not dropped")
    // fuzz: cuts and flips never throw
    for (cut <- 0 to pl.length by 89) WebIngest.zipMembers(java.util.Arrays.copyOfRange(pl, 0, cut))
    for (pos <- pl.indices by 61) {
      val fl = pl.clone; fl(pos) = (fl(pos) ^ 0x2a).toByte
      WebIngest.zipMembers(fl)
    }
    assert(WebIngest.zipMembers(null) == null)
  }

  test("WindowHashKernel equals xxhash64(substr) window for window, multibyte included") {
    val s = spark; import s.implicits._
    val texts = Seq(
      "plain ascii text with several words in it",
      "café déjà-vu — naïve 中文 mixed ascii κόσμε tail",
      "ab", // shorter than the window: empty array
      "exactly-ten") // boundary-ish
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    for ((window, stride) <- Seq((10, 1), (10, 3), (5, 2))) {
      val kernel = df.select(col("id"),
          posexplode(graft.internal.exprColumn(graft.plans.WindowHashesExpr(
            graft.internal.columnExpr(col("t")), window, stride))).as(Seq("i", "h")))
        .select(col("id"), (col("i") * stride).as("o"), col("h"))
      val spec = df.where(length(col("t")) >= window)
        .select(col("id"), col("t"), explode(sequence(lit(0), length(col("t")) - window, lit(stride))).as("o"))
        .select(col("id"), col("o"), xxhash64(col("t").substr(col("o") + 1, lit(window))).as("h"))
      assertSame(kernel, spec)
    }
  }

  test("repeatedSubstringSpans: ExactSubstr spans across and within docs, excision splices") {
    val s = spark; import s.implicits._
    val shared = "The quick brown fox jumps over the lazy dog once again today." // 62 chars
    val docs = Seq(
      (1L, s"AAA $shared BBB unique tail one"),
      (2L, s"CCCCC $shared DD different tail"),
      (3L, "entirely unique text with no repeats anywhere in this corpus at all"),
      (4L, "xyxyxyxy" + "Z" * 45 + "middle" + "Z" * 45 + "end") // within-doc repeat of Z^45
    ).toDF("doc_id", "text")
    val spans = graft.pipeline.Dedup.repeatedSubstringSpans(docs, "doc_id", "text", window = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // docs 1 and 2 share the passage INCLUDING its flanking spaces
    // (" <shared> " = 64 chars): every window inside it is
    // duplicated, so the merged span covers exactly the shared bytes
    val s1 = spans.filter(_._1 == 1L)
    assert(s1.length == 1)
    assert(s1.head._2 == 3 && s1.head._3 == 3 + shared.length + 2, s"got ${s1.toSeq}")
    val s2 = spans.filter(_._1 == 2L)
    assert(s2.length == 1 && s2.head._2 == 5 && s2.head._3 == 5 + shared.length + 2, s"got ${s2.toSeq}")
    // doc 3: nothing
    assert(!spans.exists(_._1 == 3L))
    // doc 4: the Z-runs repeat WITHIN the doc; both Z regions span
    assert(spans.exists(_._1 == 4L))
    // excision removes exactly the spanned bytes
    val cleaned = graft.pipeline.Dedup.stripRepeatedSubstrings(docs, "doc_id", "text", window = 40)
      .where(col("doc_id") <= 2).orderBy("doc_id")
      .collect().map(_.getAs[String]("text_clean"))
    assert(cleaned(0) == "AAABBB unique tail one")
    assert(cleaned(1) == "CCCCCDD different tail")
    // a doc with no spans passes through untouched
    val untouched = graft.pipeline.Dedup.stripRepeatedSubstrings(docs, "doc_id", "text", window = 40)
      .where(col("doc_id") === 3).head().getAs[String]("text_clean")
    assert(untouched == "entirely unique text with no repeats anywhere in this corpus at all")
    // stride > 1 only sees grid-aligned repeats (documented tradeoff):
    // the same corpus at stride 7 must still find the aligned Z-run
    // duplicates or nothing — never throw, never false-positive doc 3
    val strided = graft.pipeline.Dedup.repeatedSubstringSpans(docs, "doc_id", "text", window = 40, stride = 7)
      .collect().map(_.getLong(0)).toSet
    assert(!strided.contains(3L))
  }

  test("ExactSubstr stride contract: window+stride-1 congruent repeats always detected") {
    // the documented guarantee, pinned at its exact boundary: at
    // stride s a repeat is caught iff (a) length >= window+s-1 and
    // (b) occurrence offsets are congruent mod s. window=10, s=3 →
    // a 12-char repeat at offsets 1 and 4 (both ≡ 1 mod 3) must be
    // found; the same repeat at offsets 1 and 5 (non-congruent) is
    // the documented miss; stride 1 catches it regardless.
    val s = spark; import s.implicits._
    val rep = "QRSTUVWXYZAB" // 12 = window + stride - 1
    val congruent = Seq(
      (10L, "a" + rep + "cdefghikmn"),
      (11L, "bcde" + rep + "opwxyzuv")).toDF("doc_id", "text")
    val hit = graft.pipeline.Dedup
      .repeatedSubstringSpans(congruent, "doc_id", "text", window = 10, stride = 3)
      .collect().map(_.getLong(0)).toSet
    assert(hit == Set(10L, 11L), s"congruent window+stride-1 repeat missed: $hit")
    val skewed = Seq(
      (12L, "a" + rep + "cdefghikmn"),
      (13L, "bcdef" + rep + "opwxyzu")).toDF("doc_id", "text")
    val strided = graft.pipeline.Dedup
      .repeatedSubstringSpans(skewed, "doc_id", "text", window = 10, stride = 3)
      .collect().map(_.getLong(0)).toSet
    assert(strided.isEmpty,
      s"non-congruent offsets unexpectedly detected (contract now stronger than documented): $strided")
    val full = graft.pipeline.Dedup
      .repeatedSubstringSpans(skewed, "doc_id", "text", window = 10, stride = 1)
      .collect().map(_.getLong(0)).toSet
    assert(full == Set(12L, 13L), s"stride-1 exhaustive grid missed the repeat: $full")
  }

  test("winnowing: kernel matches a naive reference; w+k-1 guarantee; rightmost tie rule") {
    val s = spark; import s.implicits._
    // naive reference: all gram hashes, then per-window rightmost min
    def naive(text: String, k: Int, w: Int): Set[(Int, Long)] = {
      val t = text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.replaceAll("\\s+", " ")
      if (t.length < k) return Set.empty
      val hs = (0 to t.length - k).map { j =>
        t.substring(j, j + k).foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
      }
      val starts = 0 to math.max(hs.length - w, 0)
      starts.map { st =>
        val win = hs.zipWithIndex.slice(st, math.min(st + w, hs.length))
        val mh = win.map(_._1).min
        val pos = win.filter(_._1 == mh).map(_._2).max // rightmost tie
        (pos, mh)
      }.toSet
    }
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog! 1234 again and again and again"),
      (2L, "aaaaaaaaaaaaaaaa"), // all-equal hashes: rightmost rule everywhere
      (3L, "short"), (4L, "tiny"), (5L, ""),
      (6L, "Punct.,;!?   spacing\n\nand MIXED case NORMALIZATION check 99")
    ).toDF("doc_id", "text")
    val got = graft.pipeline.TextAnalysis.winnowFingerprintRows(docs, "doc_id", "text", k = 5, w = 4)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    docs.collect().foreach { row =>
      val id = row.getLong(0); val text = row.getString(1)
      assert(got.getOrElse(id, Set.empty) == naive(text, 5, 4), s"doc $id mismatch")
    }
    // guarantee: sharing a normalized run of w+k-1 = 8 chars shares a hash
    val a = "completely unrelated preamble SHAREDRUN12 and tail one"
    val b = "other text here SHAREDRUN12 different ending entirely"
    val pair = Seq((10L, a), (11L, b)).toDF("doc_id", "text")
    val fps = graft.pipeline.TextAnalysis.winnowFingerprintRows(pair, "doc_id", "text", k = 5, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(10L) & fps(11L)).nonEmpty,
      "documents sharing an 11-char normalized run share no fingerprint")
  }

  test("int8 quantization: codes in [-127,127], error <= scale/2, zero vectors, recall") {
    val s = spark; import s.implicits._
    import graft.pipeline.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("emb"))
    val qz = Similarity.quantizeInt8(e, "emb")
    val rows = qz.select(col("emb").cast("array<double>"), col("codes"), col("scale")).collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](0); val c = r.getSeq[Int](1); val sc = r.getDouble(2)
      assert(c.forall(x => x >= -127 && x <= 127), "code out of int8 range")
      if (sc > 0) v.zip(c).foreach { case (x, q) =>
        assert(math.abs(x - q * sc) <= sc / 2 + 1e-12, s"dequant error above scale/2: $x vs ${q * sc}")
      }
    }
    // zero vector: scale 0, all-zero codes
    val z = Similarity.quantizeInt8(
      Seq((1L, Seq(0f, 0f, 0f))).toDF("vec_id", "emb"), "emb").collect().head
    assert(z.getDouble(z.fieldIndex("scale")) == 0.0)
    assert(z.getSeq[Int](z.fieldIndex("codes")).forall(_ == 0))
    // quantized top-5 keeps most of the exact top-5 (recall floor)
    val q = e.where(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(
        e.select(col("vec_id"), col("emb").cast("array<double>").as("emb")),
        q.select(col("vec_id"), col("emb").cast("array<double>").as("emb")), "vec_id", "emb", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.int8TopK(e, q, "vec_id", "emb", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"int8 recall vs exact top-5 too low: $recall")
  }

  test("bloom: no false negatives ever; merge = union re-OR; FP rate near theory") {
    val s = spark; import s.implicits._
    import graft.pipeline.Sketch
    val m = 4096; val k = 3
    val a = (0 until 150).map(i => s"a$i").map(Tuple1(_)).toDF("v")
    val b = (0 until 150).map(i => s"b$i").map(Tuple1(_)).toDF("v")
    val bloomA = Sketch.bloomBuild(a, "v", m, k)
    // every inserted value reads true — the structural guarantee
    val selfProbe = Sketch.bloomProbe(bloomA, a, "v", m, k).collect()
    assert(selfProbe.forall(_.getBoolean(1)), "a false negative — bloom invariant broken")
    // merging by union + re-OR equals building over the union
    val merged = bloomA.unionByName(Sketch.bloomBuild(b, "v", m, k))
      .groupBy("word").agg(org.apache.spark.sql.functions.expr("bit_or(bits)").as("bits"))
    val direct = Sketch.bloomBuild(a.unionByName(b), "v", m, k)
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty,
      "merged filter differs from the directly-built one")
    // ~300 inserts into 4096 bits with k=3: FP rate ~ (1-e^-0.22)^3 ~ 0.8%;
    // 1000 unseen probes should read mostly false (generous 5% bound)
    val unseen = (0 until 1000).map(i => s"zz$i").map(Tuple1(_)).toDF("v")
    val fp = Sketch.bloomProbe(merged, unseen, "v", m, k)
      .where($"maybe_seen").count()
    assert(fp <= 50, s"false-positive rate implausibly high: $fp / 1000")
  }

  test("countMinSketch: over-counts only, exact when collision-free, merges bucket-wise") {
    val s = spark; import s.implicits._
    import graft.pipeline.Sketch
    val words = (0 until 3000).map(i => s"w${i % 50}").map(Tuple1(_)).toDF("v")
    val exact = words.groupBy("v").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // tight sketch: collisions certain at w=16, estimate must never under-count
    val tight = Sketch.cmsLookup(Sketch.countMinSketch(words, "v", d = 3, w = 16), words, "v", d = 3, w = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.forall { case (v, c) => tight(v) >= c }, "CMS under-counted")
    // roomy sketch: 50 values in 4x4096 buckets collide with prob ~tiny -> exact
    val roomy = Sketch.cmsLookup(Sketch.countMinSketch(words, "v", d = 4, w = 4096), words, "v", d = 4, w = 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(roomy == exact, "collision-free CMS should be exact")
    // mergeability: sketch(A ++ B) == bucket-wise sum of the halves
    val (a, b) = (words.where(col("v") < "w3"), words.where(col("v") >= "w3"))
    val merged = Sketch.countMinSketch(a, "v", d = 3, w = 16)
      .unionByName(Sketch.countMinSketch(b, "v", d = 3, w = 16))
      .groupBy("row_id", "bucket").agg(sum("cnt").as("cnt"))
    assertSame(merged, Sketch.countMinSketch(words, "v", d = 3, w = 16))
    // unseen values read 0; nulls are ignored
    val probe = Seq("w0", "never-seen").map(Tuple1(_)).toDF("v")
    val zs = Sketch.cmsLookup(Sketch.countMinSketch(words, "v", d = 4, w = 4096), probe, "v", d = 4, w = 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(zs("never-seen") == 0L && zs("w0") == exact("w0"))
  }

  test("kmvOverlap: exact under k; estimates within bounds; disjoint slices read zero") {
    val s = spark; import s.implicits._
    import graft.pipeline.Sketch
    // small slices (< k distinct each, merged < k): every figure exact.
    // a = {x0..x9}, b = {x5..x14} -> union 15, inter 5, J = 1/3
    val small = ((0 until 10).map(i => ("a", s"x$i")) ++ (5 until 15).map(i => ("b", s"x$i")))
      .toDF("g", "v")
    val ex = Sketch.kmvOverlapByGroup(small, "g", "v", k = 32).head()
    assert((ex.getString(0), ex.getString(1)) == ("a", "b"))
    assert(ex.getDouble(2) == 15.0 && ex.getDouble(3) == 5.0)
    assert(math.abs(ex.getDouble(4) - 0.3333) < 1e-9) // 5/15 rounded to 4dp
    // large slices with known 50% overlap: estimates within 4 sigma
    // of truth (union RSE ~ 1/sqrt(k-2); jaccard adds binomial noise)
    val n = 8000
    val big = ((0 until n).map(i => ("a", s"v$i")) ++ (n / 2 until n + n / 2).map(i => ("b", s"v$i")))
      .toDF("g", "v")
    val est = Sketch.kmvOverlapByGroup(big, "g", "v", k = 256).head()
    val trueUnion = 1.5 * n
    assert(math.abs(est.getDouble(2) - trueUnion) / trueUnion < 0.25,
      s"union_est ${est.getDouble(2)} vs $trueUnion")
    assert(math.abs(est.getDouble(4) - 1.0 / 3) < 0.15, s"jaccard ${est.getDouble(4)} vs 1/3")
    // disjoint slices: jaccard and intersection exactly zero however
    // the union is estimated
    val dj = ((0 until 5000).map(i => ("a", s"l$i")) ++ (0 until 5000).map(i => ("b", s"r$i")))
      .toDF("g", "v")
    val z = Sketch.kmvOverlapByGroup(dj, "g", "v", k = 64).head()
    assert(z.getDouble(3) == 0.0 && z.getDouble(4) == 0.0)
    // three slices -> all three unordered pairs, a<b ordering
    val tri = Seq(("a", "x"), ("b", "x"), ("c", "y")).toDF("g", "v")
    val ps = Sketch.kmvOverlapByGroup(tri, "g", "v", k = 8)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(ps == Set(("a", "b"), ("a", "c"), ("b", "c")))
  }

  test("robotsAllowed: group selection, longest-match decision, wildcards and anchors") {
    import graft.pipeline.UrlOps.robotsAllowed
    val robots =
      """User-agent: *
        |Disallow: /a
        |Allow: /a/b
        |
        |User-agent: MegaBot
        |User-agent: GraftBot
        |DISALLOW: /x*z$
        |Crawl-delay: 5
        |""".stripMargin
    // unknown bot falls to '*'
    assert(!robotsAllowed(robots, "NoBot/1.0", "/a/q"))
    assert(robotsAllowed(robots, "NoBot/1.0", "/a/b/q")) // longer Allow wins
    assert(robotsAllowed(robots, "NoBot/1.0", "/c"))
    // the specific group SHADOWS '*': /a is not blocked for graftbot
    assert(robotsAllowed(robots, "graftbot/2.0", "/a/q"))
    assert(!robotsAllowed(robots, "graftbot/2.0", "/xyz")) // wildcard + anchor
    assert(robotsAllowed(robots, "graftbot/2.0", "/xyz0")) // anchor fails
    // consecutive UA lines share one group
    assert(!robotsAllowed(robots, "MegaBot", "/xQQz"))
    // PRODUCT-token matching (RFC 9309 §2.2.1): a UA whose comment
    // merely MENTIONS a token is not that crawler — 'mozilla' is the
    // product token here, so this falls to '*', not the GraftBot group
    assert(robotsAllowed(robots, "Mozilla/5.0 (compatible; GraftBot/1.0)", "/xyz"))
    assert(!robotsAllowed(robots, "Mozilla/5.0 (compatible; GraftBot/1.0)", "/a/q"))
    // ...while a group token that PREFIXES the product token captures
    // suffixed crawler variants (graftbot-news follows graftbot rules)
    assert(!robotsAllowed(robots, "GraftBot-News/1.0", "/xyz"))
    // equal-length tie: Allow wins
    assert(robotsAllowed("User-agent: *\nDisallow: /ab\nAllow: /ab\n", "x", "/abc"))
    // Crawl-delay: per selected group; merged groups read the MIN;
    // Sitemap lines are file-global, whatever group they sit in
    import graft.pipeline.UrlOps.{robotsCrawlDelay, robotsSitemaps}
    assert(robotsCrawlDelay(robots, "graftbot/2.0") == 5.0)
    assert(robotsCrawlDelay(robots, "NoBot/1.0") == -1) // '*' group has none here
    val merged = "User-agent: a\nCrawl-delay: 9\n\nUser-agent: a\nCrawl-delay: 3\nSitemap: https://x/s.xml\n"
    assert(robotsCrawlDelay(merged, "a/1.0") == 3.0)
    assert(robotsCrawlDelay(merged, "unrelated") == -1) // no matching group at all
    assert(robotsCrawlDelay("User-agent: *\nCrawl-delay: nonsense\n", "x") == -1)
    assert(robotsSitemaps(merged) == Seq("https://x/s.xml"))
    assert(robotsSitemaps(null) == Nil)
    // degenerate inputs: permissive, never a throw
    assert(robotsAllowed(null, "x", "/a"))
    assert(robotsAllowed("Disallow: /a\n", "x", "/a/b")) // rules before any UA line ignored
    assert(robotsAllowed("User-agent: *\nDisallow:\n", "x", "/anything")) // empty Disallow = allow all
    assert(robotsAllowed("%% not robots at all %%", "x", "/a"))
    // a specific group holding only Crawl-delay (or nothing) still
    // SHADOWS '*' — review finding: it never registered, so the '*'
    // Disallow wrongly applied
    val shadowOnly = "User-agent: graftbot\nCrawl-delay: 5\n\nUser-agent: *\nDisallow: /\n"
    assert(robotsAllowed(shadowOnly, "GraftBot", "/x"))
    assert(!robotsAllowed(shadowOnly, "other", "/x"))
    val shadowEof = "User-agent: *\nDisallow: /\n\nUser-agent: graftbot\n"
    assert(robotsAllowed(shadowEof, "GraftBot", "/x")) // group defined at EOF
    // an empty User-agent token matches NOTHING — review finding:
    // ua.contains("") merged its rules whenever '*' also matched
    val emptyTok = "User-agent:\nDisallow: /secret\n\nUser-agent: *\nDisallow: /other\n"
    assert(robotsAllowed(emptyTok, "anybot", "/secret/x"))
    assert(!robotsAllowed(emptyTok, "anybot", "/other/x"))
  }

  test("resolveHref: RFC 3986 reference resolution rules") {
    import graft.pipeline.UrlOps
    val base = "http://h.example/a/b/page.html?q=1"
    assert(UrlOps.resolveHref(base, "https://x.y/z") == "https://x.y/z")
    assert(UrlOps.resolveHref(base, "//cdn.x/l.js") == "http://cdn.x/l.js")
    assert(UrlOps.resolveHref(base, "/root?y=2") == "http://h.example/root?y=2")
    assert(UrlOps.resolveHref(base, "c/d") == "http://h.example/a/b/c/d")
    assert(UrlOps.resolveHref(base, "../up") == "http://h.example/a/up")
    assert(UrlOps.resolveHref(base, "../../../over") == "http://h.example/over") // never past root
    assert(UrlOps.resolveHref(base, "javascript:void(0)") == null)
    assert(UrlOps.resolveHref(base, "  ") == null)
    assert(UrlOps.resolveHref("no scheme here", "x") == null)
    assert(UrlOps.resolveHref(null, "x") == null)
    // query-only ref keeps the FULL base path (RFC 3986 §5.3) —
    // review finding: it resolved against the directory
    assert(UrlOps.resolveHref(base, "?page=2") == "http://h.example/a/b/page.html?page=2")
    // any other scheme'd ref is absolute-but-not-a-document: dropped,
    // not merged into a phantom path (review finding)
    assert(UrlOps.resolveHref(base, "about:blank") == null)
    assert(UrlOps.resolveHref(base, "sms:+15551234") == null)
  }

  test("outlinks: data-href is not href; the right attribute wins") {
    val s = spark; import s.implicits._
    import graft.pipeline.UrlOps
    val df = Seq(
      (1L, "http://h.example/", """<a data-href="/tracked" class="x">t</a>"""),
      (2L, "http://h.example/", """<a href="/real" data-href="/fake">r</a>""")
    ).toDF("id", "url", "html")
    val got = UrlOps.outlinks(df, "id", "url", "html").collect()
      .map(r => r.getLong(0) -> r.getString(r.fieldIndex("outlink"))).toMap
    assert(!got.contains(1L)) // no real href at all
    assert(got(2L) == "http://h.example/real")
  }

  test("pageRank: hand-computed one-iteration update with dangling mass, rank conserves") {
    val s = spark; import s.implicits._
    import graft.pipeline.Graph
    // nodes A(out: B, C), B(out: A), C dangling
    // p0 = round(1/3, 6) = 0.333333; dangling mass dm = p(C)
    // p1(A) = 0.15/3 + 0.85*(p(B)/1 + dm/3) = 0.05 + 0.85*(0.333333 + 0.111111) = 0.427777
    // p1(B) = 0.05 + 0.85*(p(A)/2 + dm/3) = 0.05 + 0.85*(0.1666665 + 0.111111) = 0.286111
    // p1(C) = same inbound as B (A's other target) = 0.286111
    val e2 = Seq(("A", "B"), ("B", "A"), ("A", "C")).toDF("src", "dst")
    val (out, cleanup) = Graph.pageRankWithCleanup(e2, "src", "dst", iters = 1)
    val got = out.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    cleanup()
    assert(math.abs(got("A") - 0.427777) < 1e-9, s"A = ${got("A")}")
    assert(math.abs(got("B") - 0.286111) < 1e-9, s"B = ${got("B")}")
    assert(math.abs(got("C") - 0.286111) < 1e-9, s"C = ${got("C")}")
    // rank is conserved (within rounding) over more iterations on the
    // fixture graph
    val src = s.range(0, 100).where(col("id") % 10 =!= 7)
    val eg = src.select(col("id").as("src"), ((col("id") * 3 + 1) % 100).as("dst"))
      .unionByName(src.select(col("id").as("src"), ((col("id") * 7 + 2) % 100).as("dst")))
    val (pr, cl2) = Graph.pageRankWithCleanup(eg, "src", "dst", iters = 3)
    val total = pr.agg(sum("rank")).head().getDouble(0)
    cl2()
    assert(math.abs(total - 1.0) < 1e-3, s"total rank drifted to $total")
  }

  /** PageRank of `e` on the driver route and on the distributed loop;
    * the rows must agree with exact double equality.
    */
  private def assertRoutesAgree(e: org.apache.spark.sql.DataFrame, iters: Int, what: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import graft.pipeline.Graph
    val (local, noRelease) = Graph.pageRankWithCleanup(e, "src", "dst", iters)
    noRelease()
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"$what: expected the driver route")
    val (dist, release) = Graph.pageRankDistributed(e, "src", "dst", iters)
    try {
      assert(local.schema == dist.schema, s"$what: schema")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (Option(r.getString(0)), r.getDouble(1))).sortBy(_._1)
      val (got, want) = (rows(local), rows(dist))
      assert(got.map { case (v, p) => (v, java.lang.Double.doubleToLongBits(p)) }
        .sameElements(want.map { case (v, p) => (v, java.lang.Double.doubleToLongBits(p)) }),
        s"$what at iters=$iters: driver ${got.mkString(", ")} vs distributed ${want.mkString(", ")}")
    } finally release()
  }

  test("pageRank: the driver route replays the distributed loop exactly (fixtures)") {
    val s = spark; import s.implicits._
    val hand = Seq(("A", "B"), ("B", "A"), ("A", "C")).toDF("src", "dst")
    Seq(1, 3).foreach(assertRoutesAgree(hand, _, "3-node hand graph"))
    val src = s.range(0, 100).where(col("id") % 10 =!= 7)
    val eg = src.select(col("id").as("src"), ((col("id") * 3 + 1) % 100).as("dst"))
      .unionByName(src.select(col("id").as("src"), ((col("id") * 7 + 2) % 100).as("dst")))
    Seq(0, 1, 3).foreach(assertRoutesAgree(eg, _, "100-node fixture"))
  }

  test("pageRank: the driver route replays the distributed loop exactly (edge shapes)") {
    val s = spark; import s.implicits._
    val cycle = (0 until 10).map(i => (s"n$i", s"n${(i + 1) % 10}")).toDF("src", "dst")
    assertRoutesAgree(cycle, 3, "cycle, nothing dangles")
    val star = (1 to 9).map(i => ("hub", s"leaf$i")).toDF("src", "dst")
    assertRoutesAgree(star, 3, "star whose leaves all dangle")
    assertRoutesAgree(Seq.empty[(String, String)].toDF("src", "dst"), 2, "empty edge list")
    assertRoutesAgree(Seq(("A", "A"), ("A", "B"), ("B", "A")).toDF("src", "dst"), 3, "self-loop")
    assertRoutesAgree(Seq(("A", "B"), ("A", "B"), ("A", "C"), ("B", "A"), ("C", "A"), ("C", "A"))
      .toDF("src", "dst"), 3, "parallel duplicate edges")
    // a null endpoint is a dangling node that no contribution reaches
    assertRoutesAgree(Seq[(String, String)](("A", null), (null, "B"), ("A", "B"), ("B", "A"), ("B", "C"))
      .toDF("src", "dst"), 3, "null src and null dst")
    assertRoutesAgree(Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L)).toDF("src", "dst"), 3,
      "bigint ids")
  }

  test("pageRank: DriverEdgeCap edges rank on the driver, one edge more runs distributed") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    import graft.pipeline.Graph
    val cap = Graph.DriverEdgeCap.toLong
    def ring(m: Long) = spark.range(0, m).select(col("id").as("src"), ((col("id") + 1) % m).as("dst"))
    val (atCap, noRelease) = Graph.pageRankWithCleanup(ring(cap), "src", "dst", iters = 0)
    noRelease()
    assert(atCap.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(atCap.count() == cap)
    val (over, release) = Graph.pageRankWithCleanup(ring(cap + 1), "src", "dst", iters = 0)
    try {
      assert(over.queryExecution.optimizedPlan.collectFirst { case r: LogicalRDD => r }.nonEmpty,
        "above the cap the ranks come from the distributed loop's checkpoint")
      assert(over.count() == cap + 1)
    } finally release()
  }

  test("pageRank: q_pagerank and q_pagerank_host take the driver route") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // both queries build their graph from spark.range at every scale
    // factor, so no input directory is read
    for (q <- Seq("q_pagerank", "q_pagerank_host")) {
      val out = SparkEntry.queries(q)(spark, "")
      SparkEntry.runPendingCleanups()
      assert(out.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], s"$q: ${out.queryExecution.optimizedPlan}")
    }
  }

  test("pageRank: superseded rounds release their blocks (never O(iters) cached)") {
    val s = spark; import s.implicits._
    import graft.pipeline.Graph
    val sc = s.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val src = s.range(0, 50)
    val eg = src.select(col("id").as("src"), ((col("id") * 3 + 1) % 50).as("dst"))
    // eager rounds materialize inside the call, so the census after
    // return is exact: persisted edge + node frames (lazy, so they
    // may or may not have registered yet) plus AT MOST the final
    // round's checkpoint blocks — round N-1 is released as soon as
    // round N exists. The old per-round persist accumulation would
    // leave ~iters extra entries here.
    val (pr, cleanup) = Graph.pageRankDistributed(eg, "src", "dst", iters = 8)
    val afterCall = sc.getPersistentRDDs.keySet -- before
    assert(afterCall.size <= 3,
      s"expected <=3 live cached frames (edges, nodes, final round), got ${afterCall.size}")
    assert(pr.count() == 50)
    cleanup()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"cleanup left ${leaked.size} cached RDDs")
  }

  test("urlCanonical: port/path/query edge rules and non-URL passthrough") {
    val s = spark; import s.implicits._
    val cases = Seq(
      ("https://Example.com:443/", "https://example.com/"),
      ("https://example.com:8443/x", "https://example.com:8443/x"), // non-default port kept
      ("http://example.com", "http://example.com/"), // empty path -> root
      ("http://example.com/?utm_source=a&utm_medium=b", "http://example.com/"), // tracking-only -> no '?'
      ("http://example.com/A/B?z=1&y=2", "http://example.com/A/B?y=2&z=1"), // path case kept, params sorted
      ("  not a url at all  ", "not a url at all"), // trimmed passthrough
      ("ftp://Files.example.com:21/pub/", "ftp://files.example.com:21/pub") // unknown scheme: port kept
    )
    val df = cases.zipWithIndex.map { case ((in, _), i) => (i, in) }.toDF("id", "url")
    val got = UrlOps.withCanonicalUrl(df, "url").orderBy("id").collect()
      .map(r => r.getString(r.fieldIndex("url_canon")))
    for (((in, want), g) <- cases.zip(got)) assert(g == want, s"canon($in) = $g, want $want")
    // null never throws
    assert(UrlOps.withCanonicalUrl(Seq((1, null: String)).toDF("id", "url"), "url")
      .head().isNullAt(2))
  }

  test("dedupByUrl: messy variants collapse to the earliest id") {
    val s = spark; import s.implicits._
    import graft.testing.UrlFixture
    val df = (0L until 500L).map(i => (i, UrlFixture.messyUrl(i))).toDF("id", "url")
    val kept = UrlOps.dedupByUrl(df, "url", "id").select("id").collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 100L).toSet)
    // null urls are the ABSENCE of a key: url-less rows all pass
    // through (review finding: the null group collapsed them to one)
    val withNulls = Seq((1L, null: String), (2L, null: String), (3L, "http://a.com/x"))
      .toDF("id", "url")
    assert(UrlOps.dedupByUrl(withNulls, "url", "id").select("id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("video containers: MP4 and AVI metadata from real box walks") {
    import graft.pipeline.MediaInfo
    import graft.testing.MediaFixture
    // i=6 -> mvhd version 0; i=3 -> version 1: both box versions parse
    for (i <- Seq(3L, 6L)) {
      val m = Multimodal.parseMediaHeader(MediaFixture.mp4Payload(i))
      assert(m.format == "mp4")
      assert(m.width.contains(MediaFixture.mp4Width(i)))
      assert(m.height.contains(MediaFixture.mp4Height(i)))
      assert(m.duration_ms.contains(MediaFixture.mp4DurationMs(i)))
      assert(m.n_frames.contains(MediaFixture.mp4FrameCount(i).toLong))
    }
    // moov-before-mdat (the streaming layout) parses identically
    assert(Multimodal.parseMediaHeader(MediaFixture.mp4Payload(6, moovFirst = true)) ==
      Multimodal.parseMediaHeader(MediaFixture.mp4Payload(6)))
    // the 64-bit largesize form: rewrap moov with size32 == 1 + u64 size
    val std = MediaFixture.mp4Payload(6)
    val moovAt = {
      var k = -1
      for (p <- 0 to std.length - 4 if k < 0)
        if (std(p) == 'm' && std(p + 1) == 'o' && std(p + 2) == 'o' && std(p + 3) == 'v') k = p - 4
      k
    }
    assert(moovAt > 0)
    val payload = std.drop(moovAt + 8)
    val big = new java.io.ByteArrayOutputStream
    big.write(std, 0, moovAt)
    big.write(Array[Byte](0, 0, 0, 1)); big.write("moov".getBytes("US-ASCII"))
    val sz = payload.length + 16L
    for (shift <- 56 to 0 by -8) big.write(((sz >> shift) & 0xff).toInt)
    big.write(payload)
    assert(Multimodal.parseMediaHeader(big.toByteArray) ==
      Multimodal.parseMediaHeader(std))
    // AVI: avih main-header fields (i=1: 328x248, 25000 us/frame, 41 frames)
    assert(Multimodal.parseMediaHeader(MediaFixture.aviPayload(1)) ==
      MediaInfo("avi", Some(328), Some(248), None, None, None, Some(1025L), Some(41L)))
    // truncation fuzz over both containers: never throws
    for (pl <- Seq(std, MediaFixture.aviPayload(1)); cut <- 0 to pl.length) {
      val m = Multimodal.parseMediaHeader(pl.take(cut))
      assert(Set("unknown", "mp4", "avi")(m.format))
    }
    // an avih whose u32-max uspf * frames would overflow the Long
    // product reports duration None, not a wrapped negative number
    val hugeAvi = {
      val out = new java.io.ByteArrayOutputStream
      def le32(v: Long): Unit = for (s <- 0 to 24 by 8) out.write(((v >> s) & 0xff).toInt)
      out.write("RIFF".getBytes("US-ASCII")); le32(4 + 8 + 4 + 8 + 56)
      out.write("AVI ".getBytes("US-ASCII"))
      out.write("LIST".getBytes("US-ASCII")); le32(4 + 8 + 56)
      out.write("hdrl".getBytes("US-ASCII"))
      out.write("avih".getBytes("US-ASCII")); le32(56)
      le32(0xffffffffL) // dwMicroSecPerFrame = u32 max
      le32(0); le32(0); le32(0)
      le32(0xffffffffL) // dwTotalFrames = u32 max
      le32(0); le32(1); le32(0)
      le32(640); le32(480)
      for (_ <- 0 until 4) le32(0)
      out.toByteArray
    }
    val ha = Multimodal.parseMediaHeader(hugeAvi)
    assert(ha.format == "avi" && ha.duration_ms.isEmpty && ha.n_frames.contains(0xffffffffL))
  }

  test("mp4SampleTable: real stsc/stsz/stco/stss composition into frame ranges") {
    import graft.testing.MediaFixture
    val i = 7L // 12 frames -> 4 chunks of 3: the stsc walk crosses chunks
    val pl = MediaFixture.mp4Payload(i)
    val t = Multimodal.mp4SampleTable(pl)
    val n = MediaFixture.mp4FrameCount(i)
    assert(t.length == n)
    var off = 24L // ftyp(16) + mdat header(8)
    for (j <- 0 until n) {
      assert(t(j).frame_idx == j)
      assert(t(j).offset == off)
      assert(t(j).n_bytes == MediaFixture.mp4SampleSize(i, j))
      assert(t(j).is_keyframe == (j % 4 == 0))
      off += MediaFixture.mp4SampleSize(i, j)
    }
    // moov-first layout: offsets shift with the mdat but address the
    // SAME sample bytes
    val plMf = MediaFixture.mp4Payload(i, moovFirst = true)
    val mf = Multimodal.mp4SampleTable(plMf)
    assert(mf.length == n)
    for (j <- 0 until n) {
      val a = java.util.Arrays.copyOfRange(pl, t(j).offset.toInt, t(j).offset.toInt + t(j).n_bytes)
      val b = java.util.Arrays.copyOfRange(plMf, mf(j).offset.toInt, mf(j).offset.toInt + mf(j).n_bytes)
      assert(java.util.Arrays.equals(a, b))
    }
    // truncation fuzz: null or a table whose ranges fit the prefix — never a throw
    for (cut <- 0 to pl.length) {
      val r = Multimodal.mp4SampleTable(java.util.Arrays.copyOfRange(pl, 0, cut))
      assert(r == null || r.forall(f => f.offset + f.n_bytes <= cut))
    }
    assert(Multimodal.mp4SampleTable(null) == null)
    assert(Multimodal.mp4SampleTable(MediaFixture.payload(0)) == null) // PNG: not a video
  }

  test("aviSampleTable: idx1 walk under both offset conventions (VERDICT r8 #3)") {
    import graft.testing.MediaFixture
    // i=7 -> movi-RELATIVE offsets (7%6=1); i=10 -> ABSOLUTE (10%6=4)
    for (i <- Seq(7L, 10L)) {
      val pl = MediaFixture.aviPayload(i)
      val t = Multimodal.aviSampleTable(pl)
      val n = MediaFixture.aviFrameCount(i)
      assert(t.length == n, s"i=$i")
      var hdr = 100L // RIFF(12) + hdrl LIST(76) + movi LIST hdr(8) + 'movi'(4)
      for (j <- 0 until n) {
        assert(t(j).frame_idx == j)
        assert(t(j).offset == hdr + 8, s"i=$i j=$j")
        assert(t(j).n_bytes == MediaFixture.aviFrameSize(i, j))
        assert(t(j).is_keyframe == (j % 3 == 0))
        // the mapped bytes are the closed-form chunk data
        for (k <- 0 until t(j).n_bytes)
          assert((pl(t(j).offset.toInt + k) & 0xff) == MediaFixture.aviFrameByte(i, j, k))
        hdr += 8 + MediaFixture.aviFrameSize(i, j)
      }
      // both conventions address the same bytes
      assert(Multimodal.videoSampleTable(pl).toSeq == t.toSeq)
      // truncation fuzz: null or in-range frames, never a throw
      for (cut <- 0 to pl.length by 7) {
        val r = Multimodal.aviSampleTable(java.util.Arrays.copyOfRange(pl, 0, cut))
        assert(r == null || r.forall(f => f.offset + f.n_bytes <= cut))
      }
    }
    // a lying idx1 length drops that entry without renumbering
    val pl = MediaFixture.aviPayload(10L)
    val idxPos = pl.length - 16 * MediaFixture.aviFrameCount(10L)
    val lying = pl.clone
    lying(idxPos + 12) = 0xff.toByte; lying(idxPos + 13) = 0xff.toByte // entry 0 len = 65535
    val lt = Multimodal.aviSampleTable(lying)
    assert(lt.length == MediaFixture.aviFrameCount(10L) - 1 && lt.head.frame_idx == 1)
    assert(Multimodal.aviSampleTable(null) == null)
    assert(Multimodal.aviSampleTable(MediaFixture.payload(0)) == null)
    // an AVI with no idx1 (the pre-round-9 fixture shape) maps to null
    assert(Multimodal.videoSampleTable(MediaFixture.mp4Payload(3L)) != null)
  }

  test("videoFrames: digest matches an independent md5 over the sample bytes") {
    val s = spark; import s.implicits._
    import graft.testing.MediaFixture
    val i = 5L
    val pl = MediaFixture.mp4Payload(i)
    val df = Seq((i, pl)).toDF("id", "payload")
    val rows = Multimodal.videoFrames(df, "id", "payload")
      .orderBy("frame_idx").collect()
    assert(rows.length == MediaFixture.mp4FrameCount(i))
    val t = Multimodal.mp4SampleTable(pl)
    val md = java.security.MessageDigest.getInstance("MD5")
    val slice = java.util.Arrays.copyOfRange(pl, t(0).offset.toInt, t(0).offset.toInt + t(0).n_bytes)
    val hexs = slice.map(b => f"${b & 0xff}%02X").mkString
    val expect = md.digest(hexs.getBytes("US-ASCII")).map(b => f"${b & 0xff}%02x").mkString
    assert(rows(0).getAs[String]("frame_digest") == expect)
    // a non-MP4 payload contributes no rows (explode of null)
    val mixed = Seq((1L, pl), (2L, MediaFixture.payload(0))).toDF("id", "payload")
    assert(Multimodal.videoFrames(mixed, "id", "payload")
      .select("id").distinct().collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("decodeWavSamples: real PCM decode, 8-bit centered and 16-bit signed LE") {
    import graft.testing.MediaFixture
    // fixture i=13: 1 channel, 16-bit, data bytes (i*31 + j*7 + 3) % 256
    val s16 = Multimodal.decodeWavSamples(MediaFixture.payload(13))
    val nb = (200 + 13 % 777).toInt
    assert(s16.length == nb / 2)
    val b0 = (13 * 31 + 0 * 7 + 3) % 256; val b1 = (13 * 31 + 1 * 7 + 3) % 256
    val expected0 = { val u = b0 | (b1 << 8); if (u >= 32768) u - 65536 else u }
    assert(s16(0) == expected0)
    // fixture i=3 (k=0): 1 channel, 8-bit -> sample = byte - 128
    val s8 = Multimodal.decodeWavSamples(MediaFixture.payload(3))
    assert(s8.length == 200 + 3)
    assert(s8(0) == (3 * 31 + 3) % 256 - 128)
    // non-PCM format tag refuses to guess
    val wav = MediaFixture.payload(13)
    val nonPcm = wav.clone
    nonPcm(20) = 3 // fmt tag: IEEE float
    assert(Multimodal.decodeWavSamples(nonPcm) == null)
    assert(Multimodal.decodeWavSamples("not audio".getBytes) == null)
    // features: peak/rms match a direct fold over the decoded samples
    val f = Multimodal.wavAudioFeatures(wav)
    assert(f.n_samples.get == s16.length.toLong)
    assert(f.peak.get == s16.map(math.abs).max)
    val ss = s16.map(v => v.toLong * v).sum
    assert(f.rms.get == math.sqrt(ss.toDouble / s16.length))
  }

  test("decodeWavSamples: 24/32-bit and WAVE_FORMAT_EXTENSIBLE PCM decode exactly") {
    import graft.testing.MediaFixture
    for (bps <- 1 to 4; ext <- Seq(false, true)) {
      val n = 300
      val s = Multimodal.decodeWavSamples(MediaFixture.wavPcmPayload(9, bps, n, extensible = ext))
      assert(s != null && s.length == n, s"bps=$bps ext=$ext")
      for (k <- 0 until n)
        assert(s(k) == MediaFixture.wavSampleValue(9, k, bps), s"sample $k bps=$bps ext=$ext")
    }
    // features stay correct where a Long sum of squares would
    // overflow: 5000 full-range 32-bit samples need the 128-bit path
    val f = Multimodal.wavAudioFeatures(MediaFixture.wavPcmPayload(3, 4, 5000))
    val samples = (0 until 5000).map(k => MediaFixture.wavSampleValue(3, k, 4))
    assert(f.n_samples.get == 5000L)
    val maxAbs = samples.map(v => math.abs(v.toLong)).max
    assert(f.peak.get == math.min(maxAbs, Int.MaxValue.toLong).toInt)
    val exact = samples.map(v => BigInt(v) * BigInt(v)).sum
    assert(exact > BigInt(Long.MaxValue), "fixture must actually overflow a Long")
    val expected = math.sqrt((BigDecimal(exact) / 5000).toDouble)
    assert(math.abs(f.rms.get - expected) / expected < 1e-12)
    // extensible with a non-PCM subformat (e.g. IEEE float) -> null
    val floatWav = MediaFixture.wavPcmPayload(1, 4, 10, extensible = true)
    assert((floatWav(44) & 0xff) == 0x01, "fixture GUID layout drifted")
    floatWav(44) = 0x03 // KSDATAFORMAT_SUBTYPE_IEEE_FLOAT starts 03 00
    assert(Multimodal.decodeWavSamples(floatWav) == null)
    // truncation fuzz over the widest variant never throws
    val good = MediaFixture.wavPcmPayload(5, 3, 100, extensible = true)
    for (cut <- 0 to good.length by 11) Multimodal.decodeWavSamples(good.take(cut))
  }

  test("decodePngPixels: real inflate + unfilter reconstructs closed-form pixels (all 5 filters)") {
    import graft.testing.MediaFixture
    // h >= 5 so scanlines (y + i) % 5 sweep every filter type;
    // i % 4 == 2 rows (2, 10, 30) are Adam7 INTERLACED — i=10 is
    // 14x13, so all seven passes are non-empty
    for (i <- Seq(2L, 7L, 10L, 30L)) {
      val (w, h, bpp, px) = Multimodal.decodePngPixels(MediaFixture.imagePayload(i))
      assert(bpp == 4 && w == 4 + (i % 13).toInt && h == 3 + (i % 11).toInt)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 4)
        assert((px(y * w * 4 + x * 4 + c) & 0xff) == MediaFixture.pixelByte(i, x, y, c),
          s"pixel mismatch at i=$i ($x,$y,$c)")
    }
    // header-only fixture PNG carries garbage IDAT -> null, not a throw
    assert(Multimodal.decodePngPixels(MediaFixture.payload(0)) == null)
    assert(Multimodal.decodePngPixels(Array[Byte](1, 2, 3)) == null)
  }

  test("imageEmbedding: adaptive pooling over real decoded pixels, every format") {
    import graft.testing.MediaFixture
    val e = Multimodal.imageEmbedding(MediaFixture.imagePayload(6), 2)
    val w = 4 + (6 % 13); val h = 3 + (6 % 11)
    // expected from the closed-form pixel formula, independent of the decoder
    val sums = Array.fill(4)(0L); val counts = Array.fill(4)(0L)
    for (y <- 0 until h; x <- 0 until w) {
      val cell = (y * 2 / h) * 2 + (x * 2 / w)
      sums(cell) += (0 until 3).map(c => MediaFixture.pixelByte(6, x, y, c)).sum
      counts(cell) += 1
    }
    for (c <- 0 until 4)
      assert(e(c) == (sums(c) / (765.0 * counts(c))).toFloat, s"cell $c")
    // GIF and JPEG payloads embed through their own real decoders
    val gifE = Multimodal.imageEmbedding(MediaFixture.gifPayload(3), 4)
    assert(gifE.length == 16 && gifE.forall(v => v >= 0f && v <= 1f))
    val jpgE = Multimodal.imageEmbedding(MediaFixture.jpegPayload(3), 3)
    assert(jpgE.length == 9 && jpgE.forall(v => v >= 0f && v <= 1f))
    // undecodable payloads yield null, not a throw
    assert(Multimodal.imageEmbedding(MediaFixture.payload(4), 2) == null)
    assert(Multimodal.imageEmbedding(null, 2) == null)
  }

  test("PNG and GIF decoders agree with the JDK decoder bit-for-bit (lossless formats)") {
    import graft.testing.MediaFixture
    import javax.imageio.ImageIO
    // i=2/10 are Adam7-interlaced PNGs, i=1/7/10 interlaced GIFs —
    // the JDK decoder cross-validates the interlaced paths too
    for (i <- Seq(1L, 2L, 7L, 8L, 10L, 23L)) {
      val pngBytes = MediaFixture.imagePayload(i)
      val (w, h, bpp, px) = Multimodal.decodePngPixels(pngBytes)
      assert(bpp == 4)
      val jdk = ImageIO.read(new java.io.ByteArrayInputStream(pngBytes))
      assert(jdk.getWidth == w && jdk.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        val argb = jdk.getRGB(x, y)
        val o = (y * w + x) * 4
        assert((px(o) & 0xff) == ((argb >> 16) & 0xff), s"png R ($x,$y) i=$i")
        assert((px(o + 1) & 0xff) == ((argb >> 8) & 0xff), s"png G ($x,$y) i=$i")
        assert((px(o + 2) & 0xff) == (argb & 0xff), s"png B ($x,$y) i=$i")
        assert((px(o + 3) & 0xff) == ((argb >>> 24) & 0xff), s"png A ($x,$y) i=$i")
      }
      val gifBytes = MediaFixture.gifPayload(i)
      val (gw, gh, gbpp, gpx) = Multimodal.decodeGifPixels(gifBytes)
      assert(gbpp == 3)
      // the JDK's GIF reader mishandles interlaced images short
      // enough to have EMPTY passes (h < 5): it assigns stream rows
      // to the clipped pass-2 slot and drops them (verified against
      // ImageIO empirically — its own interlaced writer+reader
      // round trip garbles h=4). The closed-form roundtrip test
      // pins the spec behavior there; cross-validate where the JDK
      // is itself spec-conformant.
      val jdkGifBroken = i % 3 == 1 && gh < 5
      val jdkG = ImageIO.read(new java.io.ByteArrayInputStream(gifBytes))
      assert(jdkG.getWidth == gw && jdkG.getHeight == gh)
      for (y <- 0 until gh if !jdkGifBroken; x <- 0 until gw) {
        val argb = jdkG.getRGB(x, y)
        val o = (y * gw + x) * 3
        assert((gpx(o) & 0xff) == ((argb >> 16) & 0xff), s"gif R ($x,$y) i=$i")
        assert((gpx(o + 1) & 0xff) == ((argb >> 8) & 0xff), s"gif G ($x,$y) i=$i")
        assert((gpx(o + 2) & 0xff) == (argb & 0xff), s"gif B ($x,$y) i=$i")
      }
    }
  }

  test("decodePngPixels: truncation and corruption fuzz never throws") {
    import graft.testing.MediaFixture
    val good = MediaFixture.imagePayload(5)
    // every truncation: null or a full decode, never an exception
    for (cut <- 0 to good.length by 7) {
      Multimodal.decodePngPixels(good.take(cut))
    }
    // single-byte corruptions across the whole payload (skip none):
    // must never throw; zlib/filter damage shows up as null or as
    // different pixels, both acceptable
    for (pos <- good.indices) {
      val bad = good.clone
      bad(pos) = (bad(pos) ^ 0x5a).toByte
      Multimodal.decodePngPixels(bad)
    }
    // hostile IHDR: dims whose raw buffer would exceed the cap
    val hostile = good.clone
    hostile(16) = 0x7f.toByte; hostile(17) = 0xff.toByte // width ~2^31
    assert(Multimodal.decodePngPixels(hostile) == null)
  }

  test("decodeGifPixels: real LZW decode reconstructs closed-form palette pixels") {
    import graft.testing.MediaFixture
    // i % 3 == 1 rows (7, 43) are INTERLACED: rows arrive in the
    // 4-pass permutation and must land back in display order
    for (i <- Seq(0L, 7L, 9L, 41L, 43L)) {
      val (w, h, bpp, px) = Multimodal.decodeGifPixels(MediaFixture.gifPayload(i))
      assert(bpp == 3 && w == 4 + (i % 13).toInt && h == 3 + (i % 11).toInt)
      for (y <- 0 until h; x <- 0 until w) {
        val p = MediaFixture.gifPixelIndex(i, x, y)
        val base = (y * w + x) * 3
        assert((px(base) & 0xff) == p, s"R at ($x,$y) i=$i")
        assert((px(base + 1) & 0xff) == (2 * p + 1) % 256, s"G at ($x,$y) i=$i")
        assert((px(base + 2) & 0xff) == 255 - p, s"B at ($x,$y) i=$i")
      }
    }
    // a GIF big enough to force periodic Clear codes mid-stream (600
    // literals -> two resets) still reconstructs exactly — in both
    // row orders (interlacing permutes rows across the Clear resets)
    for (inter <- Seq(false, true)) {
      val (bw, bh, _, bpx) = Multimodal.decodeGifPixels(MediaFixture.gifPayloadSized(30, 20, 3, inter))
      assert(bw == 30 && bh == 20)
      for (y <- 0 until 20; x <- 0 until 30) {
        val p = MediaFixture.gifPixelIndex(3, x, y)
        assert((bpx((y * 30 + x) * 3) & 0xff) == p,
          s"R at ($x,$y) across Clear resets (interlaced=$inter)")
      }
    }
    // header-only fixture GIF has no image data -> null, not a throw
    assert(Multimodal.decodeGifPixels(MediaFixture.payload(2)) == null)
  }

  test("decodeJpegPixels: constant-block grayscale round-trips the lossy pipeline exactly") {
    import graft.testing.MediaFixture
    for (i <- Seq(0L, 7L, 42L, 199L)) {
      val (w, h, bpp, px) = Jpeg.decodePixels(MediaFixture.jpegPayload(i), 64 * 1024 * 1024)
      assert(bpp == 1 && w == 9 + (i % 16).toInt && h == 9 + (i % 12).toInt)
      for (y <- 0 until h; x <- 0 until w)
        assert((px(y * w + x) & 0xff) == MediaFixture.jpegBlockValue(i, x / 8, y / 8),
          s"pixel ($x,$y) i=$i")
    }
  }

  test("decodeJpegPixels matches the JDK decoder on real DCT content") {
    import graft.testing.MediaFixture
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    def pix(i: Long, x: Int, y: Int, c: Int): Int =
      ((x * 11 + y * 17 + c * 29 + i * 31 + (x * y) % 37) % 256).toInt

    // grayscale, non-multiple-of-8 dims, through MY encoder: my
    // decoder and the JDK's must agree within IDCT tolerance
    val (gw, gh) = (21, 13)
    val gray = Array.tabulate(gw * gh)(k => pix(1, k % gw, k / gw, 0).toByte)
    val gBytes = MediaFixture.jpegEncode(gw, gh, Array(gray), quantVal = 16, restartInterval = 0)
    val (dw, dh, dbpp, dpx) = Jpeg.decodePixels(gBytes, 64 * 1024 * 1024)
    assert(dw == gw && dh == gh && dbpp == 1)
    val jdkG = ImageIO.read(new java.io.ByteArrayInputStream(gBytes))
    assert(jdkG.getWidth == gw && jdkG.getHeight == gh)
    for (y <- 0 until gh; x <- 0 until gw) {
      val mine = dpx(y * gw + x) & 0xff
      val jdk = jdkG.getRaster.getSample(x, y, 0)
      assert(math.abs(mine - jdk) <= 2, s"gray ($x,$y): mine=$mine jdk=$jdk")
    }

    // 4:4:4 color through MY encoder: same cross-check per channel
    val (cw, ch) = (19, 14)
    val rgb = new Array[Byte](cw * ch * 3)
    for (y <- 0 until ch; x <- 0 until cw; c <- 0 until 3)
      rgb((y * cw + x) * 3 + c) = pix(2, x, y, c).toByte
    val cBytes = MediaFixture.jpegEncodeRgb(cw, ch, rgb, quantVal = 8)
    val (ew, eh, ebpp, epx) = Jpeg.decodePixels(cBytes, 64 * 1024 * 1024)
    assert(ew == cw && eh == ch && ebpp == 3)
    val jdkC = ImageIO.read(new java.io.ByteArrayInputStream(cBytes))
    for (y <- 0 until ch; x <- 0 until cw) {
      val argb = jdkC.getRGB(x, y)
      val o = (y * cw + x) * 3
      assert(math.abs((epx(o) & 0xff) - ((argb >> 16) & 0xff)) <= 3, s"R ($x,$y)")
      assert(math.abs((epx(o + 1) & 0xff) - ((argb >> 8) & 0xff)) <= 3, s"G ($x,$y)")
      assert(math.abs((epx(o + 2) & 0xff) - (argb & 0xff)) <= 3, s"B ($x,$y)")
    }

    // a JDK-ENCODED grayscale JPEG (foreign Annex-K-style Huffman
    // tables, its own quant matrices) through MY decoder
    val img = new BufferedImage(26, 17, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 17; x <- 0 until 26) img.getRaster.setSample(x, y, 0, pix(3, x, y, 0))
    val fOut = new java.io.ByteArrayOutputStream
    assert(ImageIO.write(img, "jpeg", fOut))
    val fBytes = fOut.toByteArray
    val dec = Jpeg.decodePixels(fBytes, 64 * 1024 * 1024)
    assert(dec != null, "JDK-encoded grayscale must decode")
    val (fw, fh, fbpp, fpx) = dec
    assert(fw == 26 && fh == 17 && fbpp == 1)
    val jdkF = ImageIO.read(new java.io.ByteArrayInputStream(fBytes))
    for (y <- 0 until 17; x <- 0 until 26)
      assert(math.abs((fpx(y * 26 + x) & 0xff) - jdkF.getRaster.getSample(x, y, 0)) <= 2,
        s"foreign-encoder gray ($x,$y)")
  }

  test("decodeJpegPixels: 4:2:0 subsampled color matches the JDK decoder") {
    import graft.testing.MediaFixture
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    def pix(i: Long, x: Int, y: Int, c: Int): Int =
      ((x * 11 + y * 17 + c * 29 + i * 31 + (x * y) % 37) % 256).toInt

    // MY 4:2:0 encoder (box-averaged chroma, interleaved 2x2 luma
    // MCUs) through both decoders — the engine's triangle-filter
    // upsampling mirrors the IJG formula the JDK uses, so the only
    // slack left is IDCT + color-convert rounding
    val (cw, ch) = (23, 18) // odd width: exercises ceil'd chroma dims
    val rgb = new Array[Byte](cw * ch * 3)
    for (y <- 0 until ch; x <- 0 until cw; c <- 0 until 3)
      rgb((y * cw + x) * 3 + c) = pix(4, x, y, c).toByte
    val bytes = MediaFixture.jpegEncodeRgb(cw, ch, rgb, quantVal = 8, subsample420 = true)
    val dec = Jpeg.decodePixels(bytes, 64 * 1024 * 1024)
    assert(dec != null, "4:2:0 stream must decode")
    val (dw, dh, dbpp, dpx) = dec
    assert(dw == cw && dh == ch && dbpp == 3)
    val jdk = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(jdk.getWidth == cw && jdk.getHeight == ch)
    var totalDiff = 0L
    for (y <- 0 until ch; x <- 0 until cw) {
      val argb = jdk.getRGB(x, y)
      val o = (y * cw + x) * 3
      val dr = math.abs((dpx(o) & 0xff) - ((argb >> 16) & 0xff))
      val dg = math.abs((dpx(o + 1) & 0xff) - ((argb >> 8) & 0xff))
      val db = math.abs((dpx(o + 2) & 0xff) - (argb & 0xff))
      assert(dr <= 4 && dg <= 4 && db <= 4, s"4:2:0 ($x,$y): dr=$dr dg=$dg db=$db")
      totalDiff += dr + dg + db
    }
    assert(totalDiff.toDouble / (cw * ch * 3) < 1.0, "mean channel diff must stay below 1")

    // a JDK-ENCODED color JPEG (the writer defaults to 4:2:0 with
    // Annex-K-style tables) through MY decoder vs the JDK's own read
    val img = new BufferedImage(20, 15, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 15; x <- 0 until 20)
      img.setRGB(x, y, (pix(5, x, y, 0) << 16) | (pix(5, x, y, 1) << 8) | pix(5, x, y, 2))
    val fOut = new java.io.ByteArrayOutputStream
    assert(ImageIO.write(img, "jpeg", fOut))
    val fBytes = fOut.toByteArray
    val fdec = Jpeg.decodePixels(fBytes, 64 * 1024 * 1024)
    assert(fdec != null, "JDK-encoded color JPEG must decode")
    val (fw, fh, fbpp, fpx) = fdec
    assert(fw == 20 && fh == 15 && fbpp == 3)
    val jdkF = ImageIO.read(new java.io.ByteArrayInputStream(fBytes))
    for (y <- 0 until 15; x <- 0 until 20) {
      val argb = jdkF.getRGB(x, y)
      val o = (y * 20 + x) * 3
      assert(math.abs((fpx(o) & 0xff) - ((argb >> 16) & 0xff)) <= 4, s"foreign R ($x,$y)")
      assert(math.abs((fpx(o + 1) & 0xff) - ((argb >> 8) & 0xff)) <= 4, s"foreign G ($x,$y)")
      assert(math.abs((fpx(o + 2) & 0xff) - (argb & 0xff)) <= 4, s"foreign B ($x,$y)")
    }
  }

  test("decodeJpegPixels: progressive (SOF2) streams match the JDK decoder") {
    import java.awt.image.BufferedImage
    import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
    def pix(i: Long, x: Int, y: Int, c: Int): Int =
      ((x * 11 + y * 17 + c * 29 + i * 31 + (x * y) % 37) % 256).toInt
    def writeProgressive(img: BufferedImage): Array[Byte] = {
      val wr = ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = wr.getDefaultWriteParam
      p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
      val out = new java.io.ByteArrayOutputStream
      val ios = ImageIO.createImageOutputStream(out)
      wr.setOutput(ios)
      wr.write(null, new IIOImage(img, null, null), p)
      wr.dispose(); ios.close()
      out.toByteArray
    }
    def hasSof2(b: Array[Byte]): Boolean =
      b.indices.dropRight(1).exists(k => (b(k) & 0xff) == 0xff && (b(k + 1) & 0xff) == 0xc2)

    // grayscale progressive: spectral selection + successive
    // approximation through DC/AC first + refinement scans
    val gImg = new BufferedImage(29, 22, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 22; x <- 0 until 29) gImg.getRaster.setSample(x, y, 0, pix(6, x, y, 0))
    val gBytes = writeProgressive(gImg)
    assert(hasSof2(gBytes), "JDK must have written a progressive frame")
    val gDec = Jpeg.decodePixels(gBytes, 64 * 1024 * 1024)
    assert(gDec != null, "progressive grayscale must decode")
    val (gw, gh, gbpp, gpx) = gDec
    assert(gw == 29 && gh == 22 && gbpp == 1)
    val gJdk = ImageIO.read(new java.io.ByteArrayInputStream(gBytes))
    for (y <- 0 until 22; x <- 0 until 29)
      assert(math.abs((gpx(y * 29 + x) & 0xff) - gJdk.getRaster.getSample(x, y, 0)) <= 2,
        s"progressive gray ($x,$y)")

    // 4:2:0 color progressive: interleaved DC scans + per-component
    // AC scans over subsampled chroma
    val cImg = new BufferedImage(25, 19, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 19; x <- 0 until 25)
      cImg.setRGB(x, y, (pix(7, x, y, 0) << 16) | (pix(7, x, y, 1) << 8) | pix(7, x, y, 2))
    val cBytes = writeProgressive(cImg)
    assert(hasSof2(cBytes), "JDK must have written a progressive color frame")
    val cDec = Jpeg.decodePixels(cBytes, 64 * 1024 * 1024)
    assert(cDec != null, "progressive color must decode")
    val (cw, ch, cbpp, cpx) = cDec
    assert(cw == 25 && ch == 19 && cbpp == 3)
    val cJdk = ImageIO.read(new java.io.ByteArrayInputStream(cBytes))
    for (y <- 0 until 19; x <- 0 until 25) {
      val argb = cJdk.getRGB(x, y)
      val o = (y * 25 + x) * 3
      assert(math.abs((cpx(o) & 0xff) - ((argb >> 16) & 0xff)) <= 4, s"prog R ($x,$y)")
      assert(math.abs((cpx(o + 1) & 0xff) - ((argb >> 8) & 0xff)) <= 4, s"prog G ($x,$y)")
      assert(math.abs((cpx(o + 2) & 0xff) - (argb & 0xff)) <= 4, s"prog B ($x,$y)")
    }

    // progressive truncation / corruption fuzz: null or decode, never a throw
    for (cut <- 0 to cBytes.length by 31) Jpeg.decodePixels(cBytes.take(cut), 64 * 1024 * 1024)
    for (pos <- cBytes.indices by 13) {
      val bad = cBytes.clone
      bad(pos) = (bad(pos) ^ 0x6d).toByte
      Jpeg.decodePixels(bad, 64 * 1024 * 1024)
    }
  }

  test("decodeJpegPixels: restart markers restate DC prediction without changing pixels") {
    import graft.testing.MediaFixture
    import javax.imageio.ImageIO
    val (w, h) = (33, 18) // 5x3 MCUs -> several RST boundaries at interval 2
    val gray = Array.tabulate(w * h)(k => ((k * 13 + 5) % 256).toByte)
    val plain = MediaFixture.jpegEncode(w, h, Array(gray), quantVal = 16, restartInterval = 0)
    val rst = MediaFixture.jpegEncode(w, h, Array(gray), quantVal = 16, restartInterval = 2)
    assert(rst.length > plain.length, "RST variant must actually contain restart markers")
    val (_, _, _, a) = Jpeg.decodePixels(plain, 64 * 1024 * 1024)
    val (_, _, _, b) = Jpeg.decodePixels(rst, 64 * 1024 * 1024)
    // same quantized coefficients either way -> bit-identical pixels
    assert(java.util.Arrays.equals(a, b))
    // and the JDK agrees the restart-marker stream is well-formed
    val jdk = ImageIO.read(new java.io.ByteArrayInputStream(rst))
    assert(jdk.getWidth == w && jdk.getHeight == h)
  }

  test("decodeJpegPixels: truncation and corruption never throw") {
    import graft.testing.MediaFixture
    val good = MediaFixture.jpegPayload(11)
    for (cut <- 0 to good.length by 7) Jpeg.decodePixels(good.take(cut), 64 * 1024 * 1024)
    for (pos <- good.indices by 3) {
      val bad = good.clone
      bad(pos) = (bad(pos) ^ 0x55).toByte
      Jpeg.decodePixels(bad, 64 * 1024 * 1024)
    }
    // header-only fixture JPEG (no scan) -> null, not a throw
    assert(Jpeg.decodePixels(MediaFixture.payload(1), 64 * 1024 * 1024) == null)
    // hostile dims: SOF claims a huge frame -> allocation cap -> null
    val big = good.clone
    val sof = {
      var i = 2
      var at = -1
      while (at < 0) {
        if ((big(i) & 0xff) == 0xff && (big(i + 1) & 0xff) == 0xc0) at = i
        else i += 1
      }
      at
    }
    big(sof + 5) = 0x7f; big(sof + 6) = 0xff.toByte // height ~32k
    big(sof + 7) = 0x7f; big(sof + 8) = 0xff.toByte // width ~32k
    assert(Jpeg.decodePixels(big, 64 * 1024 * 1024) == null)
  }

  test("decodeGifPixels: interlace flag flip, truncation and corruption never throw") {
    import graft.testing.MediaFixture
    val good = MediaFixture.gifPayload(9) // 9 % 3 == 0: sequential encoding
    val imgDesc = {
      // image descriptor follows header(13) + GCT(768) + GCE(8)
      13 + 768 + 8
    }
    assert((good(imgDesc) & 0xff) == 0x2c, "fixture layout drifted")
    val (w, h, _, seqPx) = Multimodal.decodeGifPixels(good)
    // flipping the interlace flag on sequentially-encoded data is
    // DEFINED: the decoder de-permutes rows that were never permuted,
    // yielding the same ROWS in interlaced display positions — a row
    // permutation of the image, never a null or a throw
    val flipped = good.clone
    flipped(imgDesc + 9) = (flipped(imgDesc + 9) | 0x40).toByte
    val (fw, fh, _, flipPx) = Multimodal.decodeGifPixels(flipped)
    assert(fw == w && fh == h)
    def rowSet(px: Array[Byte]) =
      (0 until h).map(y => java.util.Arrays.copyOfRange(px, y * w * 3, (y + 1) * w * 3).toSeq).toSet
    assert(rowSet(flipPx) == rowSet(seqPx), "flag flip must permute rows, not alter them")
    assert(!java.util.Arrays.equals(flipPx, seqPx), "h=12 interlace order must differ from sequential")
    for (cut <- 0 to good.length by 5) Multimodal.decodeGifPixels(good.take(cut))
    for (pos <- good.indices by 3) {
      val bad = good.clone
      bad(pos) = (bad(pos) ^ 0x33).toByte
      Multimodal.decodeGifPixels(bad)
    }
  }

  // ---- urlHost / hostEdges (domain-level graph) --------------------

  test("urlHost canonicalizes case, www., default ports; schemeless -> empty") {
    val s = spark; import s.implicits._
    val out = Seq(
      "https://WWW.Example.COM/path?q=1#frag",
      "http://example.com:80/a",
      "https://example.com:443/",
      "http://example.com:8080/a", // non-default port KEPT
      "https://sub.example.com/x",
      "not a url",
      "/relative/only").toDF("u")
      .select(graft.pipeline.UrlOps.urlHost(col("u")).as("h"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("example.com", "example.com", "example.com",
      "example.com:8080", "sub.example.com", "", ""))
  }

  test("hostEdges collapses to distinct inter-host pairs, drops intra-host and unparseable") {
    val s = spark; import s.implicits._
    val e = Seq(
      ("https://a.com/1", "https://B.COM/x"),
      ("https://WWW.a.com/2", "https://b.com/y"), // same host pair after canon
      ("https://a.com/3", "https://a.com/4"), // intra-host: dropped
      ("garbage", "https://b.com/z") // unparseable src: dropped
    ).toDF("src_url", "dst_url")
    val out = graft.pipeline.Graph.hostEdges(e, "src_url", "dst_url")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(("a.com", "b.com")))
  }

  // ---- in-engine logistic-regression training ----------------------

  test("fitLogistic: one GD step from w=0 matches the hand-computed gradient") {
    val s = spark; import s.implicits._
    // At w=0 every prediction is 0.5, so grad_b = avg(0.5 - y) and
    // grad_j = avg((0.5 - y) * x_j).
    val f = Seq((1.0, 1.0), (2.0, 1.0), (-1.0, 0.0), (-2.0, 0.0))
      .toDF("x", "y")
    val w = TextAnalysis.fitLogistic(f, Seq("x"), "y", steps = 1, lr = 1.0)
    assert(w.size == 2)
    assert(math.abs(w(0) - 0.0) < 1e-12) // avg(0.5-y) = 0 (balanced)
    // avg((0.5-y)*x) = ((-0.5)(1) + (-0.5)(2) + (0.5)(-1) + (0.5)(-2)) / 4 = -0.75
    assert(math.abs(w(1) - 0.75) < 1e-12) // w1 = 0 - 1.0 * (-0.75)
  }

  test("fitLogistic separates a linearly separable frame; steps=0 returns zeros") {
    val s = spark; import s.implicits._
    val f = Seq((1.5, 1.0), (2.5, 1.0), (3.0, 1.0), (-1.5, 0.0), (-2.0, 0.0), (-3.5, 0.0))
      .toDF("x", "y")
    val w0 = TextAnalysis.fitLogistic(f, Seq("x"), "y", steps = 0)
    assert(w0 == Seq(0.0, 0.0))
    val w = TextAnalysis.fitLogistic(f, Seq("x"), "y", steps = 10)
    assert(w(1) > 0.5) // positive slope separates the classes
    // determinism: same inputs, same trajectory, bit-identical
    assert(TextAnalysis.fitLogistic(f, Seq("x"), "y", steps = 10) == w)
  }

  test("logisticQualityScores: fitted scores track the weak label") {
    val s = spark; import s.implicits._
    val d = Seq(
      (1L, "the cat sat on the mat with the hat", "en"),
      (2L, "the dog ran to the park with the ball", "en"),
      (3L, "xyzzy plugh quux frobozz", "zz"),
      (4L, "blorp glorp snorp", "zz"),
      (5L, "the bird flew over the lake near the hill", "en"),
      (6L, "wibble wobble wubble flob", "zz")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.logisticQualityScores(
      d, "doc_id", "text", label = col("lang") === "en", steps = 25)
    val m = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val en = Seq(1L, 2L, 5L).map(m); val zz = Seq(3L, 4L, 6L).map(m)
    assert(en.min > zz.max, s"en=$en zz=$zz")
    assert(out.columns.toSeq == Seq("doc_id", "score"))
  }
}
