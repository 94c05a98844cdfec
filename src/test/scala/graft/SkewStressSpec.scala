package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Similarity}

/** Skew stress: the hot-bucket / hot-cell caps are the 100 TB safety
  * property of every candidate generator — ONE boilerplate signature
  * (or one dense embedding cell) holding half the corpus must not
  * turn the within-bucket self-join quadratic. Each test feeds a
  * corpus where a single key owns the majority of rows and pins that
  * the quadratic stage's input is bounded by the cap, not by the
  * corpus: the hot key contributes zero (LSH/SimHash drop oversized
  * buckets) or cap-bounded (SemDedup saturates the cell) pairs.
  *
  * Wall-clock ceilings are deliberately loose (they catch only a
  * quadratic catastrophe); the row-count assertions are the real pin
  * — uncapped, the hot set alone would emit ~12.5M candidate pairs
  * per band here instead of 0.
  */
class SkewStressSpec extends SparkSuite {

  private val hotDocs = 5000
  private val uniqueDocs = 500

  /** Half-plus corpus on one text: ids [0, hotDocs) share a single
    * boilerplate paragraph; the rest are distinct word soups.
    */
  private def skewedCorpus = {
    val s = spark; import s.implicits._
    val boiler = "all work and no play makes jack a dull boy every single day."
    val rows = (0 until hotDocs).map(i => (i.toLong, boiler)) ++
      (0 until uniqueDocs).map { i =>
        val w = (0 until 12).map(j => s"w${(i * 131 + j * 17) % 9973}x$j").mkString(" ")
        ((hotDocs + i).toLong, w + ".")
      }
    rows.toDF("doc_id", "text")
  }

  private def timed[T](maxSec: Double, what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < maxSec, f"$what took $sec%.1fs — cap did not bound the quadratic stage")
    r
  }

  test("minhashCandidates: an oversized LSH bucket is dropped, not self-joined") {
    val (cand, cleanup) = Dedup.minhashCandidatesWithCleanup(
      skewedCorpus, "doc_id", "text",
      shingleWords = 3, numHashes = 16, bands = 4, maxBucketSize = 50)
    try {
      val pairs = timed(120.0, "minhash over skewed corpus") {
        cand.select(col("id_a"), col("id_b")).collect()
      }
      // every band bucket of the hot text holds 5000 rows > cap -> the
      // hot key contributes ZERO pairs (docs this common are caught by
      // exact dedup, not LSH — standard practice, documented on the op)
      val hotHot = pairs.count(r => r.getLong(0) < hotDocs && r.getLong(1) < hotDocs)
      assert(hotHot == 0, s"$hotHot hot-hot pairs leaked past the bucket cap")
      // distinct word soups may band-collide occasionally; the point
      // is the total stays bucket-bounded, nowhere near hot^2
      assert(pairs.length < 1000, s"${pairs.length} candidate pairs from a capped corpus")
    } finally cleanup()
  }

  test("simhashCandidates: an oversized SimHash band bucket is dropped, not self-joined") {
    val (cand, cleanup) = Dedup.simhashCandidatesWithCleanup(
      skewedCorpus, "doc_id", "text",
      bits = 32, bands = 4, maxHamming = 3, maxBucketSize = 50)
    try {
      val pairs = timed(120.0, "simhash over skewed corpus") {
        cand.select(col("id_a"), col("id_b")).collect()
      }
      val hotHot = pairs.count(r => r.getLong(0) < hotDocs && r.getLong(1) < hotDocs)
      assert(hotHot == 0, s"$hotHot hot-hot pairs leaked past the bucket cap")
    } finally cleanup()
  }

  test("semDedup: a hot embedding cell saturates at maxCellSize instead of going quadratic") {
    val s = spark; import s.implicits._
    val dim = 16
    // 2000 identical vectors (one hot cell) + 500 mutually dissimilar
    // 3-hot vectors (pairwise cosine <= 2/3, far under the threshold)
    val hot = (0 until 2000).map(i => (i.toLong, Array.fill(dim)(1.0f)))
    val combos = (for {
      a <- 0 until dim; b <- a + 1 until dim; c <- b + 1 until dim
    } yield (a, b, c)).take(500)
    val spread = combos.zipWithIndex.map { case ((a, b, c), i) =>
      val v = new Array[Float](dim); v(a) = 1f; v(b) = 1f; v(c) = 1f
      ((2000 + i).toLong, v)
    }
    val df = (hot ++ spread).toDF("row_id", "emb")
    val (kept, cleanup) = Dedup.semDedupWithCleanup(
      df, "row_id", "emb", threshold = 0.9, nlist = 4, maxCellSize = 50)
    try {
      val n = timed(120.0, "semDedup over a hot cell")(kept.count())
      // the 50 cap-participating hot rows dedup to their min-id head
      // (49 dropped); the 1950 saturated rows and all spread rows pass
      // through untouched — the pair join saw 50 rows, never 2000
      assert(n == 2000 + 500 - 49, s"expected saturation semantics, got $n survivors")
    } finally cleanup()
  }

  test("embeddingNearDups: a giant block saturates at maxBlockSize, never quadratic") {
    val s = spark; import s.implicits._
    val dim = 16
    // one caller-chosen blocking key covering 3000 identical vectors —
    // uncapped this is a 4.5M-pair self-join; the participation cap
    // bounds it to C(40,2) pairs among the lowest ids
    val combos = (for { a <- 0 until dim; b <- a + 1 until dim } yield (a, b)).take(100)
    val rows = (0 until 3000).map(i => (i.toLong, "hot", Array.fill(dim)(1.0))) ++
      combos.zipWithIndex.map { case ((a, b), i) =>
        // distinct 2-hot combos: pairwise cosine <= 1/2, far below 0.9
        val v = new Array[Double](dim); v(a) = 1.0; v(b) = 1.0
        ((3000 + i).toLong, "cold", v)
      }
    val df = rows.toDF("id", "block", "emb")
    val pairs = timed(120.0, "embeddingNearDups over a giant block") {
      Dedup.embeddingNearDups(df, "id", "emb", Seq("block"), 0.9, maxBlockSize = 40)
        .select(col("id_a"), col("id_b")).collect()
    }
    // exactly the cap's pair budget: all 40 participants are identical
    assert(pairs.length == 40 * 39 / 2, s"expected C(40,2) pairs, got ${pairs.length}")
    assert(pairs.forall(r => r.getLong(0) < 40 && r.getLong(1) < 40),
      "a row past the participation cap emitted a pair")
  }

  test("embeddingNearDups DEFAULT cap budgets a saturated block at ~33.5M pairs (VERDICT r12 #4)") {
    val s = spark; import s.implicits._
    // the default must be a real pairs budget, not a cap in name
    // only: 2^13 participants = C(8192, 2) pairs in a saturated
    // block — bounded single-partition work. (The old 100k default
    // allowed ~5e9 pairs per block.)
    assert(Dedup.DefaultMaxBlockSize == 8192)
    val worstPairs = Dedup.DefaultMaxBlockSize.toLong * (Dedup.DefaultMaxBlockSize - 1) / 2
    assert(worstPairs == 33550336L && worstPairs < 50000000L,
      s"default cap's saturated-block budget out of range: $worstPairs")
    // and the default actually reaches the rank filter when the
    // caller omits maxBlockSize
    val df = Seq((1L, "k", Array(1.0, 0.0))).toDF("id", "block", "emb")
    val plan = Dedup.embeddingNearDups(df, "id", "emb", Seq("block"), 0.9)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("8192"),
      s"default participation cap not found in the plan:\n$plan")
  }

  test("winnowCandidates: a corpus of identical docs caps out instead of going quadratic") {
    val s = spark; import s.implicits._
    // 5000 byte-identical documents: every fingerprint hash is held
    // by all 5000 docs, far past maxHashDocs — each hot hash drops
    // WHOLE (the minhash cap rule), so the self-join never sees the
    // quadratic bucket and the result is empty. High-multiplicity
    // exact duplicates are exact-dedup's job (digest groupBy),
    // which runs before near-dup candidates in the pipeline order.
    val text = "an identical document repeated verbatim across the whole corpus many times over"
    val docs = (1L to 5000L).map(i => (i, text)).toDF("doc_id", "text")
    val (pairs, cleanup) = graft.pipeline.Dedup.winnowCandidatesWithCleanup(
      docs, "doc_id", "text", k = 20, w = 16, minShared = 2L, maxHashDocs = 100)
    try {
      val n = timed(120.0, "winnow candidates over identical docs")(pairs.count())
      assert(n == 0, s"hot hashes must drop whole, got $n pairs")
    } finally cleanup()
  }

  test("dedupByUrl: one hot canonical URL is a map-side-combined agg, not a hot join") {
    val s = spark; import s.implicits._
    // 50k rows of ONE url + 5k distinct: the groupBy(min) combines
    // map-side, so the hot key ships one row per task, and the
    // left_semi keeps exactly one survivor of the hot class
    val rows = (0 until 50000).map(i => (i.toLong, "http://hot.example/same")) ++
      (0 until 5000).map(i => ((50000 + i).toLong, s"http://cold.example/p$i"))
    val df = rows.toDF("id", "url")
    val n = timed(120.0, "url dedup over a hot key") {
      graft.pipeline.UrlOps.dedupByUrl(df, "url", "id").count()
    }
    assert(n == 1 + 5000, s"expected one hot survivor + all cold rows, got $n")
  }

  test("pageRank: a universally-linked hub node stays a map-side-combined agg") {
    val s = spark; import s.implicits._
    // 20k nodes all linking to node 0 (plus a chain so nothing
    // dangles): the per-dst contribution agg combines map-side, so
    // the hub receives one partial per task, not 20k rows in one
    // reducer
    val hub = (1 until 20000).map(i => (i.toLong, 0L))
    val chain = (0 until 20000).map(i => (i.toLong, ((i + 1) % 20000).toLong))
    val e = (hub ++ chain).toDF("src", "dst")
    // ONE iteration: after it the hub holds ~d/2 of all mass (at two
    // iterations the hub's mass legitimately sloshes down its single
    // chain edge to node 1 — rank oscillates on this graph)
    val (pr, cleanup) = graft.pipeline.Graph.pageRankDistributed(e, "src", "dst", iters = 1)
    try {
      val rows = timed(120.0, "pageRank over a hub graph")(pr.collect())
      assert(rows.length == 20000)
      val hubRank = rows.find(_.getString(0) == "0").get.getDouble(1)
      val restMax = rows.filter(_.getString(0) != "0").map(_.getDouble(1)).max
      assert(hubRank > 100 * restMax, s"the hub must dominate: hub=$hubRank restMax=$restMax")
    } finally cleanup()
  }
}
