package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Sampling, Similarity}

class SamplingSpec extends SparkSuite {

  private def ids = {
    val s = spark; import s.implicits._
    (0 until 2000).map(i => (i.toLong, s"g${i % 5}")).toDF("id", "grp")
  }

  test("deterministic sample hits the fraction within sampling error and is repartition-stable") {
    val out = Sampling.deterministicSample(ids, Seq("id"), 0.3, salt = "s1")
    val n = out.count()
    assert(n > 2000 * 0.25 && n < 2000 * 0.35, s"got $n of 2000 at fraction 0.3")
    val again = Sampling.deterministicSample(ids.repartition(13), Seq("id"), 0.3, salt = "s1")
    assert(out.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      again.select("id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("fraction edge cases: 0 keeps nothing, 1 keeps everything") {
    assert(Sampling.deterministicSample(ids, Seq("id"), 0.0).count() == 0)
    assert(Sampling.deterministicSample(ids, Seq("id"), 1.0).count() == 2000)
  }

  test("different salts draw (nearly) independent samples") {
    val a = Sampling.deterministicSample(ids, Seq("id"), 0.3, salt = "a")
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.deterministicSample(ids, Seq("id"), 0.3, salt = "b")
      .select("id").collect().map(_.getLong(0)).toSet
    val overlap = a.intersect(b).size.toDouble
    // independent 0.3 samples overlap ~0.09 * 2000 = 180; correlated ones ~600
    assert(overlap < 2000 * 0.15, s"salts correlated: overlap $overlap")
  }

  test("sample filter pushes down to the parquet scan (no shuffle, no extra stage)") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Sampling.deterministicSample(d, Seq("doc_id"), 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling should be a pure filter:\n$plan")
  }

  test("assignSplit partitions every row into disjoint bands with ~right sizes") {
    val out = Sampling.assignSplit(ids, Seq("id"),
      Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1), salt = "s")
    val sizes = out.groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == Set("train", "validation", "test")) // fractions sum to 1 -> no 'rest'
    assert(sizes.values.sum == 2000)
    assert(math.abs(sizes("train") - 1600.0) < 120, s"train band off: $sizes")
    assert(math.abs(sizes("validation") - 200.0) < 70, s"validation band off: $sizes")
    // composes with deterministicSample: a 0.8 sample with the same
    // keys/salt is EXACTLY the train band (shared keyDigest)
    val sampled = Sampling.deterministicSample(ids, Seq("id"), 0.8, salt = "s")
      .select("id").collect().map(_.getLong(0)).toSet
    val train = out.where(col("split") === "train").select("id").collect().map(_.getLong(0)).toSet
    assert(sampled == train)
    // and it is a pure projection: no shuffle
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignSplit should not shuffle:\n$plan")
  }

  test("dedupLines keeps first occurrence corpus-wide and rebuilds docs in order") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "intro\nshared boilerplate\nbody one"),
      (2L, "shared boilerplate\nbody two\n\n  \nbody two"), // blank lines dropped; in-doc dup kept once
      (3L, "  shared boilerplate  \nunique tail")           // trimmed match still dedups, original kept
    ).toDF("doc_id", "text")
    val out = graft.pipeline.Dedup.dedupLines(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "intro\nshared boilerplate\nbody one")
    assert(out(2L) == "body two")
    assert(out(3L) == "unique tail")
    // a doc that is ALL duplicates rebuilds to empty
    val docs2 = docs.unionByName(Seq((4L, "intro\nbody two")).toDF("doc_id", "text"))
    val out2 = graft.pipeline.Dedup.dedupLines(docs2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2(4L) == "")
  }

  test("capPerGroup keeps at most n per group, deterministically") {
    val capped = Sampling.capPerGroup(ids, Seq("grp"), 7,
      Seq(md5(col("id").cast("string")), col("id")))
    val sizes = capped.groupBy("grp").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ == 7))
    val again = Sampling.capPerGroup(ids.repartition(11), Seq("grp"), 7,
      Seq(md5(col("id").cast("string")), col("id")))
    assert(capped.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      again.select("id").collect().map(_.getLong(0)).sorted.toSeq)
    // groups smaller than the cap survive whole
    val tiny = Sampling.capPerGroup(ids.where(col("id") < 3), Seq("grp"), 7, Seq(col("id")))
    assert(tiny.count() == 3)
  }

  test("mixtureSample: integer weights copy exactly, zero drops, fractional samples, default passes through") {
    val out = Sampling.mixtureSample(ids, "grp",
      Map("g0" -> 2.0, "g1" -> 0.0, "g2" -> 0.5),
      keyCols = Seq("id"), salt = "mx")
    val byGrp = out.groupBy("grp").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp("g0") == 800L, s"g0 weight 2.0 should yield exactly 2 copies: $byGrp") // 400 rows x 2
    assert(!byGrp.contains("g1"), s"g1 weight 0 should vanish: $byGrp")
    assert(byGrp("g2") > 400 * 0.4 && byGrp("g2") < 400 * 0.6, s"g2 ~half: $byGrp")
    assert(byGrp("g3") == 400L && byGrp("g4") == 400L, s"default weight 1: $byGrp")
    // copy indices enumerate epochs: g0 rows appear once with copy=0 and once with copy=1
    val copies = out.where(col("grp") === "g0").groupBy("id").agg(sort_array(collect_list("copy")).as("cs"))
    assert(copies.collect().forall(_.getSeq[Long](1) == Seq(0L, 1L)))
    // deterministic: same call, same rows
    val again = Sampling.mixtureSample(ids.repartition(7), "grp",
      Map("g0" -> 2.0, "g1" -> 0.0, "g2" -> 0.5), keyCols = Seq("id"), salt = "mx")
    assert(out.select("id", "copy").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      again.select("id", "copy").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
  }

  test("packSequences equals the naive global cumsum and never single-partitions the corpus") {
    val s = spark; import s.implicits._
    val docs = (0 until 500).map(i => (i.toLong, (i % 97 + 1).toLong)).toDF("id", "toks")
    val out = Sampling.packSequences(docs, "id", "toks", capacity = 100L, salt = "pk")
      .collect().map(r => (r.getLong(0), (r.getLong(2), r.getLong(3)))).toMap
    // reference: explicit global order by (md5(id ||  || salt), id)
    def dg(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"${id}\u0001pk".getBytes("UTF-8")).map("%02x".format(_)).mkString
    var cum = 0L
    (0 until 500).map(_.toLong).sortBy(i => (dg(i), i)).foreach { i =>
      val len = i % 97 + 1
      assert(out(i) == (cum / 100L, cum % 100L), s"doc $i: ${out(i)} vs start $cum")
      cum += len
    }
    // scale guard: the corpus-side window shuffles on the derived
    // bucket key (not into one partition), and the 256-row offset
    // frame comes back as a broadcast
    val plan = Sampling.packSequences(docs, "id", "toks", 100L, "pk")
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__bkt__"), s"corpus window not bucket-partitioned:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"bucket offsets not broadcast:\n$plan")
  }

  test("shuffleRank is the md5-order permutation, epoch-sensitive, never a global funnel") {
    val s = spark; import s.implicits._
    val docs = (0 until 400).map(i => Tuple1(i.toLong)).toDF("id")
    def dg(id: Long, salt: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"${id}\u0001$salt".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = Sampling.shuffleRank(docs, Seq("id"), salt = "e1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // a permutation of [0, n) matching the explicit global md5 order
    assert(got.values.toSeq.sorted == (0L until 400L).toSeq)
    (0 until 400).map(_.toLong).sortBy(i => (dg(i, "e1"), i)).zipWithIndex.foreach {
      case (id, r) => assert(got(id) == r.toLong, s"id $id: rank ${got(id)} vs $r")
    }
    // a different epoch salt is a (virtually certainly) different permutation
    val e2 = Sampling.shuffleRank(docs, Seq("id"), salt = "e2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(e2.values.toSeq.sorted == (0L until 400L).toSeq)
    assert(got != e2, "epoch salt did not change the permutation")
    // scale guard: data windows shuffle on the bucket key; only the
    // 256-row offset frame crosses a broadcast
    val plan = Sampling.shuffleRank(docs, Seq("id"), "e1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__bkt__"), s"rank window not bucket-partitioned:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"bucket offsets not broadcast:\n$plan")
  }

  test("dsirLogWeights matches an independent local computation and scores target-like docs higher") {
    val s = spark; import s.implicits._
    val target = Seq((100L, "alpha beta gamma"), (101L, "alpha beta")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta gamma"),      // identical to target doc -> highest
      (2L, "zeta eta theta iota"),   // disjoint vocabulary -> lowest
      (3L, "alpha zeta"),            // mixed
      (4L, "")                       // no grams -> exactly 0
    ).toDF("doc_id", "text")
    val out = Sampling.dsirLogWeights(raw, target, "doc_id", "text", buckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // independent local oracle: same grams, same md5-uint32 bucket
    // hash, same add-one-smoothed log-ratio formula
    def words(t: String) = t.toLowerCase.trim.replaceAll("\\s+", " ").split(" ").filter(_.nonEmpty).toSeq
    def grams(t: String) = { val w = words(t); w ++ w.sliding(2).filter(_.length == 2).map(_.mkString(" ")) }
    def bucket(g: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 64).toInt
    }
    val tCnt = Seq("alpha beta gamma", "alpha beta").flatMap(grams).groupBy(bucket).view.mapValues(_.size).toMap
    val rawTexts = Seq("alpha beta gamma", "zeta eta theta iota", "alpha zeta", "")
    val rCnt = rawTexts.flatMap(grams).groupBy(bucket).view.mapValues(_.size).toMap
    val (tt, rt) = (tCnt.values.sum.toDouble, rCnt.values.sum.toDouble)
    def lw(t: String): Double = grams(t).map { g =>
      val b = bucket(g)
      math.log((tCnt.getOrElse(b, 0) + 1.0) / (tt + 64)) - math.log((rCnt.getOrElse(b, 0) + 1.0) / (rt + 64))
    }.sum
    Seq(1L, 2L, 3L).foreach { id =>
      val expect = lw(rawTexts((id - 1).toInt))
      assert(math.abs(out(id) - expect) < 1e-9, s"doc $id: ${out(id)} vs local $expect")
    }
    assert(out(4L) == 0.0)
    assert(out(1L) > out(3L) && out(3L) > out(2L), s"ordering violated: $out")
  }

  test("kmeans replays an independent local Lloyd loop exactly (draw, assignment, rounded means)") {
    val rows = kmeansFixture
    val df = kmeansDf(rows)
    val cents = graft.pipeline.Similarity.kmeansCentroids(df, "vec_id", "emb", k = 3, iters = 2)
    val got = graft.pipeline.Similarity.kmeansAssign(df, cents, "vec_id", "emb")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // local oracle mirroring the operator's contract step for step
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def round(v: Double, d: Int) = BigDecimal(v).setScale(d, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    var cl: Map[Long, Seq[Double]] = rows.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(3).map { case (id, v) => id -> v }.toMap
    def assign(c: Map[Long, Seq[Double]]): Map[Long, Long] = rows.map { case (id, v) =>
      id -> c.toSeq.map { case (cid, cv) => (-round(cos(v, cv), 4), cid) }.min._2
    }.toMap
    for (_ <- 0 until 2) {
      val a = assign(cl)
      cl = rows.groupBy { case (id, _) => a(id) }.map { case (cid, members) =>
        cid -> (0 until 3).map(d => round(members.map(_._2(d)).sum / members.size, 6)).toSeq
      }
    }
    assert(got == assign(cl), s"spark $got vs local ${assign(cl)}")
    // the two direction clusters never share a centroid
    val even = (2L to 12L by 2).map(got).toSet
    val odd = (1L to 11L by 2).map(got).toSet
    assert(even.intersect(odd).isEmpty, s"clusters merged: $got")

    // deep training (iters=9 crosses the every-4-rounds plan
    // compaction twice): the distributed loop still matches the local
    // replica round for round — the literal re-embedding must not
    // perturb the trajectory — and completes in bounded time (VERDICT
    // r5 #7). The loop runs only on the distributed route; a fixture
    // this small takes the driver route through kmeansCentroids.
    val deepCents = graft.pipeline.Similarity.kmeansCentroidsDistributed(df, "vec_id", "emb", k = 3, iters = 9)
    val deepGot = graft.pipeline.Similarity.kmeansAssign(df, deepCents, "vec_id", "emb")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var cl9: Map[Long, Seq[Double]] = rows.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(3).map { case (id, v) => id -> v }.toMap
    for (_ <- 0 until 9) {
      val a = assign(cl9)
      cl9 = rows.groupBy { case (id, _) => a(id) }.map { case (cid, members) =>
        cid -> (0 until 3).map(d => round(members.map(_._2(d)).sum / members.size, 6)).toSeq
      }
    }
    assert(deepGot == assign(cl9), s"spark $deepGot vs local ${assign(cl9)}")
  }

  /** Two direction clusters in 3D with per-row perturbations. */
  private def kmeansFixture: Seq[(Long, Seq[Double])] = (1L to 12L).map { i =>
    val eps = i * 0.01
    if (i % 2 == 0) (i, Seq(1.0, eps, 0.0)) else (i, Seq(0.0, eps, 1.0))
  }

  private def kmeansDf(rows: Seq[(Long, Seq[Double])]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("vec_id", "emb")
  }

  /** Centroid rows with every double as its bits, in a total order. */
  private def centroidBits(cents: DataFrame): Seq[(String, Seq[Long], Long)] =
    cents.collect().toSeq.map { r =>
      (String.valueOf(r.get(0)), r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))
    }.sortBy(c => (c._1, c._2.mkString(",")))

  /** k-means of `df` on the driver route and on the distributed loop
    * (over `distInput`, by default `df` itself): identical schema and
    * bit-identical rows.
    */
  private def assertKmeansRoutesAgree(df: DataFrame, k: Int, iters: Int, what: String,
                                      distInput: Option[DataFrame] = None,
                                      driverRoute: Boolean = true): Seq[(String, Seq[Long], Long)] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val local = Similarity.kmeansCentroids(df, "vec_id", "emb", k, iters)
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation] == (driverRoute && iters > 0),
      s"$what: expected the ${if (driverRoute) "driver" else "distributed"} route, got " +
        local.queryExecution.optimizedPlan)
    val dist = Similarity.kmeansCentroidsDistributed(distInput.getOrElse(df), "vec_id", "emb", k, iters)
    assert(local.schema == dist.schema, s"$what: schema ${local.schema} vs ${dist.schema}")
    val (got, want) = (centroidBits(local), centroidBits(dist))
    assert(got == want, s"$what at k=$k iters=$iters: driver $got vs distributed $want")
    got
  }

  test("kmeans: the driver route replays the distributed loop exactly (fixtures)") {
    val df = kmeansDf(kmeansFixture)
    Seq(0, 1, 2, 9).foreach(i => assertKmeansRoutesAgree(df, 3, i, "12-row fixture"))
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    Seq(8, 16).foreach(k => assertKmeansRoutesAgree(e, k, 2, "sf0.01 embeddings"))
  }

  test("kmeans: the driver route replays the distributed loop exactly (shapes)") {
    val s = spark; import s.implicits._
    val fx = kmeansFixture
    assert(assertKmeansRoutesAgree(kmeansDf(fx), 20, 2, "k above the row count").nonEmpty)
    assert(assertKmeansRoutesAgree(kmeansDf(Nil), 3, 2, "empty input").isEmpty)
    // one direction throughout: every row ties at cosine 1 and the
    // lowest drawn id wins, so the other drawn centroids empty and drop
    val line = (1L to 8L).map(i => (i, Seq(i.toDouble, 2.0 * i)))
    assert(assertKmeansRoutesAgree(kmeansDf(line), 3, 1, "clusters that empty").length == 1)
    // k = rows draws both copies of each duplicated id; round one merges
    // them into one centroid per id, as groupBy(cent_id) does
    val dup = fx.take(6) ++ fx.take(6).map { case (i, v) => (i, v.map(_ * 2.0 + 0.5)) }
    Seq(0, 1, 2).foreach(i => assertKmeansRoutesAgree(kmeansDf(dup), 12, i, "duplicate ids"))
    val str = fx.map { case (i, v) => (s"v$i", v) }.toDF("vec_id", "emb")
    Seq(1, 2).foreach(i => assertKmeansRoutesAgree(str, 3, i, "string ids"))
    val int = fx.map { case (i, v) => (i.toInt, v.map(_.toFloat)) }.toDF("vec_id", "emb")
    assertKmeansRoutesAgree(int, 3, 2, "int ids, float vectors")
    val zero = kmeansDf(fx :+ (13L -> Seq(0.0, 0.0, 0.0)))
    Seq(1, 2).foreach(i => assertKmeansRoutesAgree(zero, 4, i, "a zero vector"))
    Seq(1, 2).foreach(i => assertKmeansRoutesAgree(kmeansDf((0L, Seq(0.0, 0.0, 0.0)) +: fx), 3, i,
      "a zero vector in the draw"))
    // shapes the driver route leaves to the distributed loop
    val empty = spark.range(1, 6).select(col("id").as("vec_id"), array().cast("array<double>").as("emb"))
    assert(assertKmeansRoutesAgree(empty, 2, 1, "empty vectors", driverRoute = false).isEmpty)
    val ragged = kmeansDf(fx :+ (13L -> Seq(1.0, 0.5)))
    assertKmeansRoutesAgree(ragged, 3, 2, "ragged vectors", driverRoute = false)
  }

  test("kmeans: both routes and the assignment drop null-vector rows") {
    val df = spark.range(1, 14).select(col("id").as("vec_id"),
      when(col("id") === 13, lit(null)).otherwise(array((col("id") % 2).cast("double"), col("id") * 0.01,
        (lit(1) - col("id") % 2).cast("double"))).as("emb"))
    val clean = df.where(col("vec_id") =!= 13)
    def labels(cents: DataFrame, in: DataFrame) =
      Similarity.kmeansAssign(in, cents, "vec_id", "emb").collect().map(r => (r.getLong(0), r.get(1))).toSeq.sortBy(_._1)
    // k = 3 leaves the null row out of the md5 draw; k = 13 would draw it
    for (k <- Seq(3, 13); iters <- Seq(1, 2)) {
      val got = assertKmeansRoutesAgree(df, k, iters, "a null vector")
      assert(got == assertKmeansRoutesAgree(clean, k, iters, "the same rows without it"),
        s"k=$k iters=$iters: the null row changed the fit")
      for (cents <- Seq(Similarity.kmeansCentroids(df, "vec_id", "emb", k, iters),
                        Similarity.kmeansCentroidsDistributed(df, "vec_id", "emb", k, iters))) {
        val got = labels(cents, df)
        assert(got.map(_._1) == (1L to 12L), s"k=$k iters=$iters: $got")
        assert(got == labels(cents, clean), s"k=$k iters=$iters")
      }
    }
  }

  test("kmeans: a mean on a 6-dp HALF_UP boundary rounds as the one-partition distributed sum") {
    // one cluster (k = 1) whose first component has the exact decimal
    // mean 0.2408915; its double sum rounds up or down with the order
    // of addition, so only the same order gives the same centroid
    val xs = Seq(0.2408937, 0.2408962, 0.2408873, 0.2408888)
    def mean(v: Seq[Double]) =
      graft.plans.PqArgBestExpr.roundHalfUp(v.foldLeft(0.0)(_ + _) / v.length, 6)
    assert(xs.permutations.map(mean).toSet.size == 2, "the fixture must sit on an order-sensitive boundary")
    val df = kmeansDf(xs.zipWithIndex.map { case (x, i) => (i.toLong, Seq(x, 1.0)) })
    val got = assertKmeansRoutesAgree(df, 1, 1, "rounding boundary", Some(df.coalesce(1)))
    assert(got.head._2.head == java.lang.Double.doubleToLongBits(mean(xs)))
  }

  test("kmeans: DriverKmeansRowCap rows fit on the driver, one row more runs distributed") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val cap = Similarity.DriverKmeansRowCap.toLong
    def rows(n: Long) = spark.range(0, n)
      .select(col("id").as("vec_id"), array((col("id") % 7).cast("double"), lit(1.0)).as("emb"))
    val atCap = Similarity.kmeansCentroids(rows(cap), "vec_id", "emb", k = 2, iters = 1)
    assert(atCap.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    val over = Similarity.kmeansCentroids(rows(cap + 1), "vec_id", "emb", k = 2, iters = 1)
    assert(!over.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "above the cap the centroids come from the distributed loop")
    assert(atCap.count() > 0 && over.count() > 0)
  }
}
