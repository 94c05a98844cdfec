package graft

import org.apache.spark.sql.functions._

import graft.pipeline.TextAnalysis

/** In-engine BPE training vs an independent local trainer: the
  * driver merge loop over the collected vocabulary must reproduce the
  * classic single-machine algorithm exactly (same pair counting over
  * overlapping positions, same count-desc/lexicographic tie-break,
  * same leftmost non-overlapping merge application).
  */
class BpeTrainSpec extends SparkSuite {

  /** Reference trainer: the Sennrich pseudocode, verbatim, over code
    * points.
    */
  private def localTrain(texts: Seq[String], numMerges: Int): Seq[(String, String)] = {
    var vocab: Map[Vector[String], Long] = texts
      .flatMap(_.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) =>
        w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp))) -> ws.size.toLong
      }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.size < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (toks, c) =>
        toks.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + c
          case _ => ()
        }
      }
      val eligible = counts.filter(_._2 >= 2)
      if (eligible.isEmpty) done = true
      else {
        val (pair, _) = eligible.minBy { case ((a, b), c) => (-c, a, b) }
        merges += pair
        vocab = vocab.map { case (toks, c) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < toks.length) {
            if (i < toks.length - 1 && toks(i) == pair._1 && toks(i + 1) == pair._2) {
              out += pair._1 + pair._2; i += 2
            } else { out += toks(i); i += 1 }
          }
          out.result() -> c
        }.groupBy(_._1).map { case (t, m) => t -> m.values.sum }
      }
    }
    merges.toSeq
  }

  private val corpus = Seq(
    "low lower lowest low low",
    "new newer newest new newer",
    "wide wider widest wide",
    "low new wide lowest newest",
    "the the the them then there",
    "running runner run runs running")

  test("training reproduces the local reference merge for merge, both paths") {
    val inputs: Seq[(Seq[String], Int)] =
      Seq(corpus -> 12, corpus -> 20, corpus -> 24) ++
        collisionCorpora.map(_ -> 16) ++
        abcCorpora(4).map(_ -> 8)
    inputs.foreach { case (docs, numMerges) =>
      val got = TextAnalysis.bpeTrainMerges(textFrame(docs), "text", numMerges)
      val want = localTrain(docs, numMerges)
      assert(got == want, s"corpus=$docs merges=$numMerges:\n got: $got\nwant: $want")
    }
    assert(localTrain(corpus, 20).nonEmpty)
  }

  test("small-vocab training is job-bounded: 64 merges in a handful of jobs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val texts = docs.select("text").collect().map(_.getString(0)).toSeq
    val (merges, jobs) = withJobCount(TextAnalysis.bpeTrainMerges(docs, "text", numMerges = 64))
    assert(merges.size == 64, s"corpus should support 64 merges, got ${merges.size}")
    // one bounded collect of the vocabulary, then the loop on the
    // driver: 2 jobs, because adaptive execution runs the word count's
    // shuffle map stage as a job of its own before the collect's
    assert(jobs == 2, s"expected 2 Spark jobs for 64 merges, saw $jobs")
    assert(merges == localTrain(texts, 64))
  }

  /** Collision-dense corpora: pure-'a' run-length words and mixed
    * a/b words repeatedly merge into strings equal to an earlier
    * merge's product ('aa'+'a' after 'a'+'aa'), the case where the
    * incremental pair counts must re-credit pairs that already exist.
    */
  private val collisionCorpora = Seq(
    Seq("aaaaaaa aaa aa aaaa", "aaaaa aa aaaaaa", "a aaa aaaaaaaa"),
    Seq("abab ab abab abab ab", "ababab abab ab", "ba bab abab"),
    Seq("aaa aaa aaa aaa", "aa aa aa", "aaaa aaaa aaaa aaaa aaaa"),
    Seq("aabaa aab aabaab aab", "baab aabaa baab", "ab aab aabaab aabaab"))

  /** Random tiny-alphabet corpora: deep merge chains and heavy pair
    * ties, the regime where a tie-break or count-maintenance slip
    * shows.
    */
  private def abcCorpora(n: Int): Seq[Seq[String]] = {
    val gen = for {
      nDocs <- org.scalacheck.Gen.choose(1, 5)
      docs <- org.scalacheck.Gen.listOfN(nDocs, for {
        nWords <- org.scalacheck.Gen.choose(1, 8)
        words <- org.scalacheck.Gen.listOfN(nWords, for {
          len <- org.scalacheck.Gen.choose(1, 6)
          cs <- org.scalacheck.Gen.listOfN(len, org.scalacheck.Gen.oneOf("a", "b", "c"))
        } yield cs.mkString)
      } yield words.mkString(" "))
    } yield docs
    Iterator.continually(gen.sample).flatten.take(n).toSeq
  }

  private def textFrame(docs: Seq[String]) = {
    val s = spark; import s.implicits._
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  /** `body`'s result and the number of Spark jobs it started. */
  private def withJobCount[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      // the listener bus is async — wait for the count to stabilize
      var last = -1
      var spins = 0
      while (jobs.get() != last && spins < 50) {
        last = jobs.get(); Thread.sleep(100); spins += 1
      }
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("vocabulary at DriverVocabCap trains on the driver; one word more fails naming the cap") {
    // distinct 5-letter base-26 words, id 0 -> "aaaaa"
    def words(n: Long) = spark.range(n).select(concat((4 to 0 by -1).map(k =>
      char(lit(97) + (col("id") / math.pow(26, k).toLong) % 26)): _*).as("text"))
    val cap = TextAnalysis.DriverVocabCap.toLong
    val (merges, jobs) = withJobCount(TextAnalysis.bpeTrainMerges(words(cap), "text", numMerges = 2))
    assert(jobs == 2, s"expected 2 Spark jobs at the cap, saw $jobs")
    val texts = words(cap).collect().map(_.getString(0)).toSeq
    assert(merges.size == 2 && merges == localTrain(texts, 2), s"got $merges")
    val err = intercept[IllegalArgumentException](
      TextAnalysis.bpeTrainMerges(words(cap + 1), "text", numMerges = 2))
    assert(err.getMessage.contains("DriverVocabCap"), err.getMessage)
    val (none, zeroJobs) = withJobCount(TextAnalysis.bpeTrainMerges(words(cap + 1), "text", 0))
    assert(none.isEmpty && zeroJobs == 0, s"numMerges = 0 must run no job, saw $zeroJobs")
  }

  test("early stop: no pair with count >= 2 ends training before numMerges") {
    // every adjacent pair occurs once -> zero merges
    assert(TextAnalysis.bpeTrainMerges(textFrame(Seq("ab cd ef")), "text", numMerges = 5).isEmpty)
  }

  test("characters outside the BMP train and serve as one token each") {
    // 😀 and 🙂 share a UTF-16 high surrogate: split by UTF-16 unit,
    // both emoji would become the same two `?` tokens
    val docs = Seq("😀😀😀 🙂🙂 😀😀😀", "🙂🙂 🙂🙂")
    val df = textFrame(docs)
    val merges = TextAnalysis.bpeTrainMerges(df, "text", numMerges = 5)
    assert(merges == Seq(("😀", "😀"), ("🙂", "🙂"), ("😀😀", "😀")), s"got $merges")
    assert(merges == localTrain(docs, 5))
    val nBpe = TextAnalysis.withBpeTokenCount(df, "text", merges)
      .agg(sum("n_bpe")).head().getLong(0)
    val untrained = TextAnalysis.withBpeTokenCount(df, "text", Nil)
      .agg(sum("n_bpe")).head().getLong(0)
    assert(untrained == 12 && nBpe == 5, s"untrained $untrained, trained $nBpe")
  }

  test("trained merges close the loop: serving counts drop as merges learn the corpus") {
    val df = textFrame(corpus)
    val merges = TextAnalysis.bpeTrainMerges(df, "text", numMerges = 30)
    val untrained = TextAnalysis.withBpeTokenCount(df, "text", Nil)
      .agg(sum("n_bpe")).head().getLong(0)
    val trained = TextAnalysis.withBpeTokenCount(df, "text", merges)
      .agg(sum("n_bpe")).head().getLong(0)
    assert(trained < untrained,
      s"learned merges must compress the training corpus: $trained !< $untrained")
    // parity with the local trainer's final vocabulary application
    val localMerges = localTrain(corpus, 30)
    val viaLocal = TextAnalysis.withBpeTokenCount(df, "text", localMerges)
      .agg(sum("n_bpe")).head().getLong(0)
    assert(trained == viaLocal)
  }

  test("random small-alphabet corpora: both paths reproduce the reference, merge for merge") {
    abcCorpora(5).foreach { docs =>
      val got = TextAnalysis.bpeTrainMerges(textFrame(docs), "text", numMerges = 8)
      val want = localTrain(docs, 8)
      assert(got == want, s"corpus=$docs: got $got want $want")
    }
  }
}
