package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamOps
import graft.streaming.StreamOps.SessionEvent

/** Structured Streaming extensions: the same operators run on batch
  * frames (deterministic) and on a MemoryStream (exercising the
  * streaming planner, watermarks, and state handling).
  */
class StreamingSpec extends SparkSuite {

  /** Streams ids 200-202 while a managed root's background rebuild
    * runs, waits for the maintenance thread to finish, then streams
    * id 203: that batch publishes the finished rebuild on the trigger
    * thread.
    */
  private def tickThroughRebuild(
      input: MemoryStream[(Long, Array[Double], Long)],
      q: org.apache.spark.sql.streaming.StreamingQuery,
      root: String,
      vec: Int => Array[Double],
      all: scala.collection.mutable.Map[Long, Array[Double]]): Unit = {
    def tick(id: Long): Unit = {
      val v = vec(id.toInt); all(id) = v
      input.addData((id, v, id)); q.processAllAvailable()
    }
    (200L to 202L).foreach { id => tick(id); Thread.sleep(200) }
    assert(StreamOps.awaitMaintenance(root), "maintenance thread failed to drain")
    tick(203L)
  }

  test("windowedAverages tumbling event-time windows (batch parity)") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, ts("2024-01-01"), 10.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), 20.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:07:00"), 30.0)
    ).toDF("user_id", "ts", "value")
    val out = StreamOps.windowedAverages(df, "ts", Seq("user_id"), "value", "5 minutes")
    val got = out.orderBy("window_start")
      .select("value_avg", "n_events").collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(got == Seq((15.0, 2L), (30.0, 1L)))
  }

  test("windowedAverages runs as a real stream with a watermark") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("user_id", "ts", "value")
    val out = StreamOps.windowedAverages(df, "ts", Seq("user_id"), "value", "5 minutes")
    val q = out.writeStream.format("memory").queryName("wavg_test")
      .outputMode("update").start()
    try {
      input.addData((1L, ts("2024-01-01"), 10.0), (1L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 30.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT value_avg, n_events FROM wavg_test").collect()
      assert(rows.map(r => (r.getDouble(0), r.getLong(1))).toSet == Set((20.0, 2L)))
    } finally q.stop()
  }

  test("batch text operators (PII redaction, quality, token count) compose into streams") {
    // the pipeline operators are pure column expressions, so the SAME
    // code runs over readStream — this pins that no operator silently
    // requires a batch-only feature (e.g. a window without watermark)
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val out = df.select(
      col("doc_id"),
      graft.pipeline.TextAnalysis.piiRedact(col("text")).as("red"),
      graft.pipeline.TextAnalysis.tokenCount(col("text")).as("n_tok"))
    val q = out.writeStream.format("memory").queryName("pii_stream").outputMode("append").start()
    try {
      input.addData((1L, "mail a@b.io now"), (2L, "clean text"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, red, n_tok FROM pii_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(rows == Set((1L, "mail <EMAIL> now", 3), (2L, "clean text", 2)))
    } finally q.stop()
  }

  test("crawl ingest operators (URL canon, HTML text, BPE count, quality score UDFs) stream") {
    // the round-8 ingest surface is per-row work (expressions + scalar
    // UDFs), so the SAME code must run over readStream unchanged —
    // live ingestion of a crawl feed is the deployment shape
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val df = input.toDF().toDF("id", "url", "html")
    val out = graft.pipeline.UrlOps.withCanonicalUrl(
      graft.pipeline.WebIngest.withHtmlText(df, "html"), "url")
      .withColumn("n_bpe", size(graft.pipeline.TextAnalysis.bpeTokensUdf(
        graft.testing.TokenFixture.merges)(col("text"))))
      .select("id", "url_canon", "text", "n_bpe")
    val q = out.writeStream.format("memory").queryName("ingest_stream").outputMode("append").start()
    try {
      input.addData(
        (1L, "HTTP://Example.com:80/A?b=2&a=1#f", "<p>hello</p><script>x<1</script>"),
        (2L, "http://www.example.com/A?a=1&b=2", "xyz abc"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, url_canon, text, n_bpe FROM ingest_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
      assert(rows == Set(
        (1L, "http://example.com/A?a=1&b=2", "hello", 1),
        (2L, "http://example.com/A?a=1&b=2", "xyz abc", 5)))
    } finally q.stop()
  }

  test("bloomBuild over a stream (complete mode) equals the batch filter") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val vals = (0 until 200).map(i => s"u$i")
    val batch = graft.pipeline.Sketch.bloomBuild(vals.map(Tuple1(_)).toDF("v"), "v", 1024, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val input = MemoryStream[String]
    val q = graft.pipeline.Sketch.bloomBuild(input.toDF().toDF("v"), "v", 1024, 3)
      .writeStream.format("memory").queryName("bloom_parity").outputMode("complete").start()
    try {
      val (a, b) = vals.splitAt(120)
      input.addData(a: _*); q.processAllAvailable()
      input.addData(b: _*); q.processAllAvailable()
      val streamed = spark.sql("SELECT word, bits FROM bloom_parity").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch, "streamed bloom state diverges from the batch build")
    } finally q.stop()
  }

  test("writePartitionedStream: exactly-once partitioned files, batch-readable, restart-safe") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-stream-sink")
    val path = root.resolve("data").toString
    val ckpt = root.resolve("ckpt").toString
    val input = MemoryStream[(Long, String, Double)]
    def start() = StreamOps.writePartitionedStream(
      input.toDF().toDF("user_id", "lang", "value"), path, ckpt, Seq("lang"))
    val q = start()
    try {
      input.addData((1L, "en", 1.0), (2L, "fr", 2.0)); q.processAllAvailable()
      input.addData((3L, "en", 3.0)); q.processAllAvailable()
    } finally q.stop()
    // restart from the same checkpoint: nothing re-emits, tail appends
    val q2 = start()
    try {
      input.addData((4L, "de", 4.0)); q2.processAllAvailable()
    } finally q2.stop()
    val back = graft.sources.Sink.readPartitioned(s, path)
      .select("user_id", "lang", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(back == Set((1L, "en", 1.0), (2L, "fr", 2.0), (3L, "en", 3.0), (4L, "de", 4.0)),
      s"stream sink round-trip mismatch: $back")
    // the layout is the batch sink's: one dir per partition value
    // (_spark_metadata is the file sink's exactly-once commit log)
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("lang=en", "lang=fr", "lang=de", "_spark_metadata"),
      s"unexpected layout: $dirs")
  }

  test("ivfAppendStream: streamed index maintenance equals direct appendBatch, incl. a cell move") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-stream")
    val streamIdx = root.resolve("stream/idx").toString
    val batchIdx = root.resolve("batch/idx").toString
    val ckpt = root.resolve("ckpt").toString
    def vec(seed: Int) = Array.tabulate(8)(d => math.sin(seed * 13 + d).abs + 0.1)
    val base = (1 to 40).map(i => (i.toLong, vec(i))).toDF("id", "v")
    graft.pipeline.IvfIndex.build(base, "id", "v", streamIdx, nlist = 8)
    graft.pipeline.IvfIndex.build(base, "id", "v", batchIdx, nlist = 8)
    // batch 1: new ids; batch 2: id=3 re-ingested with id=30's vector
    // (a cell move under the frozen quantizer) + within-batch dup of
    // id=50 where only the later order wins
    val b1 = Seq((41L, vec(41), 1L), (42L, vec(42), 1L))
    val b2 = Seq((3L, vec(30), 2L), (50L, vec(7), 2L), (50L, vec(50), 3L))
    val statsSeen = scala.collection.mutable.ArrayBuffer.empty[graft.pipeline.IvfIndex.IvfStats]
    val input = MemoryStream[(Long, Array[Double], Long)]
    val q = StreamOps.ivfAppendStream(
      input.toDF().toDF("id", "v", "ts"), streamIdx, ckpt, "id", "v", "ts",
      onBatch = st => statsSeen.synchronized { statsSeen += st; () })
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // the same maintenance applied directly
    graft.pipeline.IvfIndex.appendBatch(s, batchIdx,
      b1.map(t => (t._1, t._2)).toDF("id", "v"), "id", "v")
    graft.pipeline.IvfIndex.appendBatch(s, batchIdx,
      Seq((3L, vec(30)), (50L, vec(50))).toDF("id", "v"), "id", "v")
    def layout(p: String) = s.read.parquet(p)
      .select(col("cent_id").cast("long"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(layout(streamIdx) == layout(batchIdx),
      "streamed cell layout diverged from direct appendBatch")
    // the moved id lives ONLY in its new cell, and serving agrees
    assert(layout(streamIdx).count(_._2 == 3L) == 1)
    val queries = Seq((3L, vec(30))).toDF("id", "v")
    def serve(p: String) = graft.pipeline.IvfIndex
      .searchTopK(s, p, queries, "id", "v", k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(serve(streamIdx) == serve(batchIdx))
    assert(statsSeen.size == 2 && statsSeen.last.rows == 43,
      s"drift stats must reach the callback per batch: $statsSeen")
  }

  test("ivfAppendStreamManaged: skewed appends trip a blue/green rebuild; repoint is loss-free (r14)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-managed")
    val root = tmp.resolve("idx").toString
    val ckpt = tmp.resolve("ckpt").toString
    def vec(seed: Int) = Array.tabulate(8)(d => math.sin(seed * 13 + d).abs + 0.1)
    val all = scala.collection.mutable.Map.empty[Long, Array[Double]]
    val base = (1 to 40).map { i => all(i.toLong) = vec(i); (i.toLong, vec(i)) }.toDF("id", "v")
    val gen1 = graft.pipeline.IvfIndex.managedInit(base, "id", "v", root, nlist = 8)
    assert(graft.pipeline.IvfIndex.managedCurrent(s, root) == gen1)
    val rebuilds = scala.collection.mutable.ArrayBuffer.empty[String]
    val input = MemoryStream[(Long, Array[Double], Long)]
    val q = StreamOps.ivfAppendStreamManaged(
      input.toDF().toDF("id", "v", "ts"), root, ckpt, "id", "v", "ts",
      maxSkew = 3.0,
      onRebuild = p => rebuilds.synchronized { rebuilds += p; () })
    try {
      // one hot batch: 40 near-identical vectors pile into one cell of
      // the 8-cell quantizer -> skew ~4.5 trips the 3.0 threshold and
      // kicks the maintenance thread (outside the trigger)
      val hot = (100L to 139L).map { i =>
        val v = vec(7).map(_ + (i - 100L) * 1e-4); all(i) = v; (i, v, 1L) }
      input.addData(hot: _*); q.processAllAvailable()
      // the id stream continues while the rebuild runs, and a later
      // batch publishes it on the trigger thread — the flip must lose
      // none of them
      tickThroughRebuild(input, q, root, vec, all)
    } finally {
      q.stop()
      // drain any in-flight rebuild: a daemon outliving the test would
      // race later suites' session use
      assert(StreamOps.awaitMaintenance(root), "maintenance thread failed to drain")
    }
    assert(rebuilds.synchronized(rebuilds.nonEmpty),
      "skewed appends must trigger a published blue/green rebuild")
    val current = graft.pipeline.IvfIndex.managedCurrent(s, root)
    assert(current != gen1, "serving must repoint to the new generation")
    // loss-freedom: every ingested id is in the published generation
    val served = s.read.parquet(current).select("id").collect().map(_.getLong(0)).toSet
    assert(served == all.keySet, s"missing after flip: ${all.keySet -- served}")
    // serving parity at full probe: the regenerated index returns the
    // brute-force answer over everything ingested (cells are layout,
    // not semantics)
    val queries = Seq((7000L, vec(3))).toDF("id", "v")
    val viaIdx = graft.pipeline.IvfIndex
      .searchTopK(s, current, queries, "id", "v", k = 5, nprobe = 9999)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    val corpus = all.toSeq.map { case (i, v) => (i, v) }.toDF("id", "v")
    val brute = graft.pipeline.Similarity
      .bruteForceTopK(corpus, queries, "id", "v", k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(viaIdx == brute, s"full-probe serving parity broke: $viaIdx vs $brute")
  }

  test("ivfAppendStreamManaged over an INT8 root: compressed layout survives append, catch-up and rebuild (r15)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-managed8")
    val root = tmp.resolve("idx").toString
    val ckpt = tmp.resolve("ckpt").toString
    def vec(seed: Int) = Array.tabulate(8)(d => math.sin(seed * 13 + d).abs + 0.1)
    val all = scala.collection.mutable.Map.empty[Long, Array[Double]]
    val base = (1 to 40).map { i => all(i.toLong) = vec(i); (i.toLong, vec(i)) }.toDF("id", "v")
    val gen1 = graft.pipeline.IvfIndex.managedInit(base, "id", "v", root, nlist = 8, int8 = true)
    assert(!s.read.parquet(gen1).columns.contains("v"), "int8 init must not store float vectors")
    val rebuilds = scala.collection.mutable.ArrayBuffer.empty[String]
    val input = MemoryStream[(Long, Array[Double], Long)]
    val q = StreamOps.ivfAppendStreamManaged(
      input.toDF().toDF("id", "v", "ts"), root, ckpt, "id", "v", "ts",
      maxSkew = 3.0,
      onRebuild = p => rebuilds.synchronized { rebuilds += p; () })
    try {
      val hot = (100L to 139L).map { i =>
        val v = vec(7).map(_ + (i - 100L) * 1e-4); all(i) = v; (i, v, 1L) }
      input.addData(hot: _*); q.processAllAvailable()
      tickThroughRebuild(input, q, root, vec, all)
    } finally {
      q.stop()
      assert(StreamOps.awaitMaintenance(root), "maintenance thread failed to drain")
    }
    assert(rebuilds.synchronized(rebuilds.nonEmpty), "skewed appends must trigger a rebuild")
    val current = graft.pipeline.IvfIndex.managedCurrent(s, root)
    assert(current != gen1)
    val layout = s.read.parquet(current)
    assert(layout.columns.contains("__codes__") && !layout.columns.contains("v"),
      "the rebuilt generation must inherit the int8 layout")
    val served = layout.select("id").collect().map(_.getLong(0)).toSet
    assert(served == all.keySet, s"missing after flip: ${all.keySet -- served}")
    // full-probe parity against the in-memory COMPRESSED operator:
    // codes round-trip the dequantize -> requantize cycle exactly, so
    // the streamed index (appends + catch-up + rebuild) scores every
    // pair exactly like int8TopK over the original float vectors
    val queries = Seq((7000L, vec(3))).toDF("id", "v")
    val viaIdx = graft.pipeline.IvfIndex
      .searchTopK(s, current, queries, "id", "v", k = 5, nprobe = 9999)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    val corpus = all.toSeq.map { case (i, v) => (i, v) }.toDF("id", "v")
    val int8 = graft.pipeline.Similarity
      .int8TopK(corpus, queries, "id", "v", k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(viaIdx == int8, s"compressed full-probe parity broke: $viaIdx vs $int8")
  }

  test("ivfAppendStreamManaged over a PQ root: frozen codebooks through append, catch-up and rebuild (r16)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-managedpq")
    val root = tmp.resolve("idx").toString
    val ckpt = tmp.resolve("ckpt").toString
    def vec(seed: Int) = Array.tabulate(8)(d => math.sin(seed * 13 + d).abs + 0.1)
    val all = scala.collection.mutable.Map.empty[Long, Array[Double]]
    val base = (1 to 40).map { i => all(i.toLong) = vec(i); (i.toLong, vec(i)) }.toDF("id", "v")
    val gen1 = graft.pipeline.IvfIndex.managedInitPq(
      base, "id", "v", root, dims = 8, m = 2, ksub = 4, iters = 1, nlist = 8)
    assert(!s.read.parquet(gen1).columns.contains("v"), "PQ init must not store float vectors")
    val cb1 = s.read.parquet(s"$gen1/_codebooks")
      .select(col("sub_id"), col("__ci__"), col("__cbv__"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val rebuilds = scala.collection.mutable.ArrayBuffer.empty[String]
    val input = MemoryStream[(Long, Array[Double], Long)]
    val q = StreamOps.ivfAppendStreamManaged(
      input.toDF().toDF("id", "v", "ts"), root, ckpt, "id", "v", "ts",
      maxSkew = 3.0,
      onRebuild = p => rebuilds.synchronized { rebuilds += p; () })
    try {
      val hot = (100L to 139L).map { i =>
        val v = vec(7).map(_ + (i - 100L) * 1e-4); all(i) = v; (i, v, 1L) }
      input.addData(hot: _*); q.processAllAvailable()
      tickThroughRebuild(input, q, root, vec, all)
    } finally {
      q.stop()
      assert(StreamOps.awaitMaintenance(root), "maintenance thread failed to drain")
    }
    assert(rebuilds.synchronized(rebuilds.nonEmpty), "skewed appends must trigger a rebuild")
    val current = graft.pipeline.IvfIndex.managedCurrent(s, root)
    assert(current != gen1)
    val layout = s.read.parquet(current)
    assert(layout.columns.contains("__pq__") && !layout.columns.contains("v"),
      "the rebuilt generation must inherit the PQ layout")
    val served = layout.select("id").collect().map(_.getLong(0)).toSet
    assert(served == all.keySet, s"missing after flip: ${all.keySet -- served}")
    // codebooks are FROZEN through the whole lifecycle: the rebuilt
    // generation's sidecar is byte-identical to generation 1's
    val cb2 = s.read.parquet(s"$current/_codebooks")
      .select(col("sub_id"), col("__ci__"), col("__cbv__"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    assert(cb2 == cb1, "rebuild must carry the codebooks verbatim")
    // and every streamed id's codes equal a FRESH deterministic
    // encode of its float vector under those frozen codebooks: the
    // full pipeline (append -> catch-up -> rebuild carry) preserved
    // every code
    val cbDf = s.read.parquet(s"$current/_codebooks")
    val expected = graft.pipeline.Similarity.pqEncode(
      all.toSeq.map { case (i, v) => (i, v) }.toDF("id", "v"), cbDf, "id", "v", dims = 8, m = 2)
      .join(cbDf.select(col("sub_id"), col("cent_id").as("code_id"), col("__ci__")), Seq("sub_id", "code_id"))
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("sub_id"), col("__ci__")))),
        x => x("__ci__")).as("pq"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // r17: ksub <= 256 layouts store ranks as tinyint with a fixed
    // -128 offset — decode before comparing to the fresh rank encode
    val stored = layout
      .select(col("id"), transform(col("__pq__").cast("array<int>"), c => c + 128).as("pq"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(stored == expected, "streamed codes must equal fresh encodes under the frozen codebooks")
  }

  test("ivfAppendStreamManaged carries PAYLOAD columns through the within-batch reducer (r18)") {
    // a payload-bearing index requires its appends to carry the
    // payload columns; latestPerId must keep every non-order column
    // of the kept row or the first micro-batch dies on appendBatch's
    // schema check
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-managedpay")
    val root = tmp.resolve("idx").toString
    val ckpt = tmp.resolve("ckpt").toString
    def vec(seed: Int) = Array.tabulate(8)(d => math.sin(seed * 13 + d).abs + 0.1)
    val base = (1 to 40).map(i => (i.toLong, vec(i), i % 3)).toDF("id", "v", "label")
    graft.pipeline.IvfIndex.managedInit(base, "id", "v", root, nlist = 8,
      payloadCols = Seq("label"))
    val input = MemoryStream[(Long, Array[Double], Long, Int)]
    val q = StreamOps.ivfAppendStreamManaged(
      input.toDF().toDF("id", "v", "ts", "label"), root, ckpt, "id", "v", "ts")
    try {
      // two versions of id 100 in ONE batch: latest-by-ts must win and
      // its PAYLOAD must ride with the kept row (label 7, not 5)
      input.addData((100L, vec(100), 1L, 5), (100L, vec(200), 2L, 7))
      q.processAllAvailable()
    } finally q.stop()
    val cur = graft.pipeline.IvfIndex.managedCurrent(s, root)
    val row = s.read.parquet(cur).where(col("id") === 100L)
      .select("label").collect()
    assert(row.map(_.getInt(0)).toSeq == Seq(7),
      s"latest row's payload must survive the reducer and the append, got ${row.toSeq}")
    // filtered serving over the streamed-in payload
    val queries = Seq((9000L, vec(100))).toDF("id", "v")
    val hits = graft.pipeline.IvfIndex.searchTopK(s, cur, queries, "id", "v",
      k = 50, nprobe = 9999, filter = Some(col("label") === 7))
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(hits == Set(100L), s"filter must see the streamed payload, got $hits")
  }

  test("ivfAppendStreamManaged REFUSES a residual-PQ root at wiring time, before any batch (r18)") {
    // the managed stream always arms the drift trigger, and a
    // residual-coded PQ store can never be drift-retrained (codes are
    // bound to the frozen coarse quantizer) — thrown mid-stream, the
    // refusal would land on the maintenance daemon as a per-trigger
    // crash loop (ADVICE r17 #2); it must land HERE, at setup
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-managedres")
    val root = tmp.resolve("idx").toString
    val ckpt = tmp.resolve("ckpt").toString
    def vec(seed: Int) = Array.tabulate(8)(d => math.sin(seed * 13 + d).abs + 0.1)
    val base = (1 to 40).map(i => (i.toLong, vec(i))).toDF("id", "v")
    graft.pipeline.IvfIndex.managedInitPq(base, "id", "v", root,
      dims = 8, m = 2, ksub = 4, nlist = 8, residual = true)
    val input = MemoryStream[(Long, Array[Double], Long)]
    val ex = intercept[IllegalArgumentException] {
      StreamOps.ivfAppendStreamManaged(
        input.toDF().toDF("id", "v", "ts"), root, ckpt, "id", "v", "ts")
    }
    assert(ex.getMessage.contains("RESIDUAL"), s"unexpected: ${ex.getMessage}")
  }

  test("ivfAppendStreamManaged may be wired BEFORE managedInit; the first batch appends normally (r19)") {
    // ADVICE r18 #4: the r18 wiring-time residual check resolved
    // managedCurrent unconditionally, so the previously legal ordering
    // 'wire the stream, then managedInit before the first batch' died
    // at construction with an unrelated no-generation-marker message.
    // With no marker there is nothing to validate at wiring — an
    // uninitialized root still fails at the first batch with its own
    // message, and a residual root initialized after wiring is caught
    // by managedMaintain's defense-in-depth check at the drift trigger
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-wirefirst")
    val root = tmp.resolve("idx").toString
    val ckpt = tmp.resolve("ckpt").toString
    def vec(seed: Int) = Array.tabulate(8)(d => math.sin(seed * 13 + d).abs + 0.1)
    val input = MemoryStream[(Long, Array[Double], Long)]
    // wiring first: must NOT throw (the root is not initialized yet)
    val q = StreamOps.ivfAppendStreamManaged(
      input.toDF().toDF("id", "v", "ts"), root, ckpt, "id", "v", "ts")
    try {
      val base = (1 to 40).map(i => (i.toLong, vec(i))).toDF("id", "v")
      graft.pipeline.IvfIndex.managedInit(base, "id", "v", root, nlist = 8)
      input.addData((500L, vec(500), 1L))
      q.processAllAvailable()
    } finally q.stop()
    val cur = graft.pipeline.IvfIndex.managedCurrent(s, root)
    val served = s.read.parquet(cur).select("id").collect().map(_.getLong(0)).toSet
    assert(served == ((1 to 40).map(_.toLong).toSet + 500L),
      s"the first batch after init-after-wiring must append normally, got ${served.size} ids")
  }

  test("ivfAppendStreamManaged: a rebuild orphaned at stream stop publishes on restart without retraining (r15)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-orphan")
    val root = tmp.resolve("idx").toString
    val ckpt = tmp.resolve("ckpt").toString
    def vec(seed: Int) = Array.tabulate(8)(d => math.sin(seed * 13 + d).abs + 0.1)
    val base = (1 to 40).map(i => (i.toLong, vec(i))).toDF("id", "v")
    val gen1 = graft.pipeline.IvfIndex.managedInit(base, "id", "v", root, nlist = 8)
    // the daemon finished its retrain but the stream stopped before
    // the next batch could publish: only the durable _pending marker
    // survives (no in-memory state)
    val pending = graft.pipeline.IvfIndex.managedMaintain(
      s, root, "id", "v", maxSkew = 0.0, nlist = 8, publish = false).get
    assert(graft.pipeline.IvfIndex.managedCurrent(s, root) == gen1,
      "orphaned rebuild must stay unpublished until resumed")
    // restart: the new stream's FIRST batch must flip to the pending
    // generation (no retraining) and append into it
    val rebuilds = scala.collection.mutable.ArrayBuffer.empty[String]
    val input = MemoryStream[(Long, Array[Double], Long)]
    val q = StreamOps.ivfAppendStreamManaged(
      input.toDF().toDF("id", "v", "ts"), root, ckpt, "id", "v", "ts",
      maxSkew = 1e9, // nothing may trip a NEW rebuild — resume only
      onRebuild = p => rebuilds.synchronized { rebuilds += p; () })
    try {
      input.addData((500L, vec(500), 1L))
      q.processAllAvailable()
    } finally q.stop()
    assert(rebuilds.synchronized(rebuilds.toSeq) == Seq(pending),
      s"restart must publish exactly the orphaned generation, got $rebuilds")
    assert(graft.pipeline.IvfIndex.managedCurrent(s, root) == pending)
    val served = s.read.parquet(pending).select("id").collect().map(_.getLong(0)).toSet
    assert(served == ((1 to 40).map(_.toLong).toSet + 500L),
      "the post-restart append must land in the resumed generation")
    // no retraining happened: exactly the two known generation dirs
    val gens = new java.io.File(root).listFiles.filter(f =>
      f.isDirectory && f.getName.startsWith("gen-")).map(_.getName).toSet
    assert(gens == Set(gen1, pending).map(_.split('/').last), s"unexpected generations: $gens")
  }

  test("ivfAppendStreamManaged with vacuumGraceMs GCs superseded generations after each publish (r16)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-vacstream")
    val root = tmp.resolve("idx").toString
    val ckpt = tmp.resolve("ckpt").toString
    def vec(seed: Int) = Array.tabulate(8)(d => math.sin(seed * 13 + d).abs + 0.1)
    val base = (1 to 40).map(i => (i.toLong, vec(i))).toDF("id", "v")
    val gen1 = graft.pipeline.IvfIndex.managedInit(base, "id", "v", root, nlist = 8)
    def genDirs(): Set[String] = new java.io.File(root).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("gen-")).map(_.getName).toSet
    // rebuild #1 sits pending (the daemon-finished shape); the stream
    // publishes it on its first batch and — with the grace at 0 —
    // vacuums gen1 right after the flip, on the trigger thread
    val p1 = graft.pipeline.IvfIndex.managedMaintain(
      s, root, "id", "v", maxSkew = 0.0, nlist = 8, publish = false).get
    val rebuilds = scala.collection.mutable.ArrayBuffer.empty[String]
    val input = MemoryStream[(Long, Array[Double], Long)]
    val q = StreamOps.ivfAppendStreamManaged(
      input.toDF().toDF("id", "v", "ts"), root, ckpt, "id", "v", "ts",
      maxSkew = 1e9, // publishes only pre-seeded pendings; no new rebuild
      onRebuild = p => rebuilds.synchronized { rebuilds += p; () },
      vacuumGraceMs = Some(0L))
    try {
      input.addData((500L, vec(500), 1L))
      q.processAllAvailable()
      assert(rebuilds.synchronized(rebuilds.toSeq) == Seq(p1))
      assert(genDirs() == Set(p1.split('/').last),
        s"after publish #1 + vacuum only the live generation may remain, got ${genDirs()}")
      // rebuild #2 through the same still-running stream
      val p2 = graft.pipeline.IvfIndex.managedMaintain(
        s, root, "id", "v", maxSkew = 0.0, nlist = 8, publish = false).get
      input.addData((501L, vec(501), 2L))
      q.processAllAvailable()
      assert(rebuilds.synchronized(rebuilds.toSeq) == Seq(p1, p2))
      assert(genDirs() == Set(p2.split('/').last),
        s"after publish #2 + vacuum only the live generation may remain, got ${genDirs()}")
    } finally q.stop()
    // serving is unaffected: the surviving generation holds everything
    val current = graft.pipeline.IvfIndex.managedCurrent(s, root)
    val served = s.read.parquet(current).select("id").collect().map(_.getLong(0)).toSet
    assert(served == ((1 to 40).map(_.toLong).toSet ++ Set(500L, 501L)),
      s"vacuum must never cost data: ${served.size} ids served")
    assert(graft.pipeline.IvfIndex.searchTopK(s, current,
      Seq((9000L, vec(3))).toDF("id", "v"), "id", "v", k = 3, nprobe = 9999).count() > 0)
  }

  test("ivfAppendStreamManaged: a delete landing between daemon-finish and trigger-publish does not resurrect (r16)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-delres")
    val root = tmp.resolve("idx").toString
    val ckpt = tmp.resolve("ckpt").toString
    def vec(seed: Int) = Array.tabulate(8)(d => math.sin(seed * 13 + d).abs + 0.1)
    val base = (1 to 40).map(i => (i.toLong, vec(i))).toDF("id", "v")
    val gen1 = graft.pipeline.IvfIndex.managedInit(base, "id", "v", root, nlist = 8)
    // the daemon finished its retrain (durable _pending marker, not
    // yet published)...
    val pending = graft.pipeline.IvfIndex.managedMaintain(
      s, root, "id", "v", maxSkew = 0.0, nlist = 8, publish = false).get
    // ...and an operator deletes ids from the LIVE generation in the
    // window before the next micro-batch publishes the rebuild
    graft.pipeline.IvfIndex.deleteVectors(
      s, gen1, Seq(3L, 7L).toDF("id"), "id")
    val rebuilds = scala.collection.mutable.ArrayBuffer.empty[String]
    val input = MemoryStream[(Long, Array[Double], Long)]
    val q = StreamOps.ivfAppendStreamManaged(
      input.toDF().toDF("id", "v", "ts"), root, ckpt, "id", "v", "ts",
      maxSkew = 1e9, // resume-and-publish only, no new rebuild
      onRebuild = p => rebuilds.synchronized { rebuilds += p; () })
    try {
      input.addData((500L, vec(500), 1L))
      q.processAllAvailable()
    } finally q.stop()
    assert(rebuilds.synchronized(rebuilds.toSeq) == Seq(pending))
    assert(graft.pipeline.IvfIndex.managedCurrent(s, root) == pending)
    val served = s.read.parquet(pending).select("id").collect().map(_.getLong(0)).toSet
    assert(!served.contains(3L) && !served.contains(7L),
      s"ids deleted mid-window resurrected across the flip: $served")
    assert(served == ((1 to 40).map(_.toLong).toSet -- Set(3L, 7L)) + 500L,
      "everything else (including the post-restart append) must survive the flip")
  }

  test("sessionize splits on inactivity gaps (batch parity)") {
    val s = spark; import s.implicits._
    val events = Seq(
      SessionEvent(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      SessionEvent(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:30"), 2.0),
      SessionEvent(1L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 3.0), // > 1 min gap
      SessionEvent(2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 4.0)
    ).toDS()
    val out = StreamOps.sessionize(events, gapMillis = 60000).collect()
    val byKey = out.groupBy(_.key)
    assert(byKey(1L).length == 2)
    val first = byKey(1L).minBy(_.start.getTime)
    assert(first.nEvents == 2 && first.totalValue == 3.0)
    assert(byKey(2L).head.nEvents == 1)
  }

  test("ivfAppendStream's within-batch reducer breaks orderCol ties deterministically (ADVICE r13)") {
    val s = spark; import s.implicits._
    // two rows with the SAME (id, order) but different vectors: the
    // winner must be a function of the vector VALUES, not of the
    // physical row order a replayed micro-batch may change
    val rows = Seq(
      (1L, Array(1.0f, 0.0f), 5L),
      (1L, Array(0.0f, 1.0f), 5L),
      (2L, Array(0.5f, 0.5f), 1L))
    val fwd = rows.toDF("id", "vec", "ord")
    val rev = rows.reverse.toDF("id", "vec", "ord").repartition(3)
    def pick(df: org.apache.spark.sql.DataFrame) =
      StreamOps.latestPerId(df, "id", "vec", "ord")
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toList).toMap
    val a = pick(fwd)
    val b = pick(rev)
    assert(a == b, s"tie winner must be row-order independent: $a vs $b")
    assert(a.keySet == Set(1L, 2L) && a(2L) == List(0.5f, 0.5f))
  }

  test("streamingDedup keeps one row per normalized digest") {
    val s = spark; import s.implicits._
    val df = Seq(
      (ts("2024-01-01"), "The quick brown fox"),
      (ts("2024-01-01"), "the  quick BROWN fox!"), // same normalized digest
      (ts("2024-01-01"), "something else")
    ).toDF("ts", "text")
    val out = StreamOps.streamingDedup(df, "ts", "text")
    assert(out.count() == 2)
  }

  test("filterAgainstBlocklist drops blocklisted keys from a live stream (left_anti, stateless)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // blocklist as the batch pipeline would emit it: contaminated ids
    val block = Seq((2L, "why"), (4L, "why")).toDF("doc_id", "reason")
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = StreamOps.filterAgainstBlocklist(stream, block, Seq("doc_id"))
      .writeStream.format("memory").queryName("blocklist_test").outputMode("append").start()
    try {
      input.addData((1L, "keep"), (2L, "drop"), (3L, "keep"), (4L, "drop"))
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM blocklist_test").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L))
    } finally q.stop()
  }

  test("lshCandidatePairs batch mode emits exactly the batch pipeline's candidate set") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "The  quick Brown fox jumps over the lazy dog!"),
      (4L, "completely different content about spark engines and shuffles")
    ).toDF("doc_id", "text")
    val streamed = StreamOps.lshCandidatePairs(docs, "doc_id", "text")
      .collect().map(p => (p.id_a, p.id_b)).toSet
    val batch = graft.pipeline.Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    SparkEntry.runPendingCleanups()
  }

  test("lshCandidatePairs pairs a late duplicate against state from an earlier micro-batch") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    // stateTTLMillis = 0: a processing-time timeout keeps triggering
    // clock-check batches forever, which processAllAvailable never
    // drains — TTL off for the test, state still persists across
    // micro-batches
    val q = StreamOps.lshCandidatePairs(stream, "doc_id", "text", stateTTLMillis = 0L)
      .writeStream.format("memory").queryName("lsh_stream").outputMode("append").start()
    try {
      input.addData((1L, "the quick brown fox jumps over the lazy dog"),
        (4L, "completely different content about spark engines and shuffles"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM lsh_stream").count() == 0) // nothing similar yet
      // the duplicate arrives a micro-batch later -> pairs against state
      input.addData((2L, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      val pairs = spark.sql("SELECT id_a, id_b FROM lsh_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L)))
    } finally q.stop()
  }

  test("lshCandidatePairs saturates (not drops) an over-cap bucket") {
    val s = spark; import s.implicits._
    val many = (1L to 5L).map(i => (i, "identical text repeated for the bucket cap test"))
      .toDF("doc_id", "text")
    // cap 2: ids 1 and 2 enter each bucket and pair; 3..5 are ignored
    val pairs = StreamOps.lshCandidatePairs(many, "doc_id", "text", maxBucketIds = 2)
      .collect().map(p => (p.id_a, p.id_b)).toSet
    assert(pairs == Set((1L, 2L)))
  }

  /** The events table (second-truncated so the streaming ms clock and
    * the batch us clock agree exactly), as (user_id, ts, value) rows.
    */
  private def eventRows(): Seq[(Long, java.sql.Timestamp, Double)] = {
    val s = spark; import s.implicits._
    SparkEntry.eventsTable(s, "/root/testdata/sf0.001")
      .select(col("user_id"), date_trunc("second", col("ts")).as("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
      .collect().toSeq.sortBy(_._2.getTime)
  }

  test("windowedAverages over a live stream of the events table equals the batch run (parity)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val rows = eventRows()
    def summarize(df: org.apache.spark.sql.DataFrame) =
      df.select(col("window_start"), col("window_end"), col("user_id"),
        round(col("value_avg"), 6).as("a"), col("n_events"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
        .toSet
    val batch = summarize(StreamOps.windowedAverages(
      rows.toDF("user_id", "ts", "value"), "ts", Seq("user_id"), "value", "1 hour"))
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val streamDf = input.toDF().toDF("user_id", "ts", "value")
    // complete mode: the memory sink holds the full aggregation state,
    // so the final table must equal the batch aggregation even though
    // events arrive across two micro-batches
    val q = StreamOps.windowedAverages(streamDf, "ts", Seq("user_id"), "value", "1 hour")
      .writeStream.format("memory").queryName("wavg_parity").outputMode("complete").start()
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      input.addData(first); q.processAllAvailable()
      input.addData(second); q.processAllAvailable()
      val streamed = summarize(spark.table("wavg_parity"))
      assert(streamed == batch,
        s"stream/batch diverge: only-stream=${streamed -- batch}, only-batch=${batch -- streamed}")
    } finally q.stop()
  }

  test("sessionize over a live stream of the events table equals the batch twin (parity)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val rows = eventRows()
    // batch twin: GroupOps.sessionize session numbers -> per-session
    // (start, end, n, total) aggregates
    val batch = graft.operators.GroupOps.sessionize(
      rows.toDF("user_id", "ts", "value"), Seq("user_id"), "ts", gapSeconds = 3600L)
      .groupBy(col("user_id"), col("session"))
      .agg(min(col("ts")).as("start"), max(col("ts")).as("end"),
        count(lit(1)).as("n"), sum(col("value")).as("total"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(2).getTime, r.getTimestamp(3).getTime,
        r.getLong(4), BigDecimal(r.getDouble(5)).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    val input = MemoryStream[SessionEvent]
    // TTL=0 (NoTimeout): processAllAvailable drains; trailing sessions
    // are closed by a far-future flush event per user, whose own
    // session stays open and is never emitted
    val q = StreamOps.sessionize(input.toDS(), gapMillis = 3600000L, stateTTLMillis = 0L)
      .writeStream.format("memory").queryName("sess_parity").outputMode("append").start()
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      input.addData(first.map(r => SessionEvent(r._1, r._2, r._3)))
      q.processAllAvailable()
      input.addData(second.map(r => SessionEvent(r._1, r._2, r._3)))
      q.processAllAvailable()
      val flushTs = java.sql.Timestamp.valueOf("2100-01-01 00:00:00")
      input.addData(rows.map(_._1).distinct.map(uid => SessionEvent(uid, flushTs, 0.0)))
      q.processAllAvailable()
      val streamed = spark.table("sess_parity")
        .as[graft.streaming.StreamOps.Session].collect()
        .map(x => (x.key, x.start.getTime, x.end.getTime, x.nEvents.toLong,
          BigDecimal(x.totalValue).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
        .toSet
      assert(streamed == batch,
        s"stream/batch diverge: only-stream=${streamed -- batch}, only-batch=${batch -- streamed}")
    } finally q.stop()
  }

  test("lshCandidatePairs batch mode INTENTIONALLY diverges from the batch pipeline on an over-cap bucket") {
    val s = spark; import s.implicits._
    // 5 identical docs, cap 2 on both sides: the batch pipeline drops
    // the over-cap bucket WHOLESALE (it sees the full corpus), while
    // the streaming operator SATURATES — the first cap ids still pair
    // (it cannot know the bucket will overflow later). ADVICE r5: pin
    // the documented divergence, not just the under-cap agreement.
    val many = (1L to 5L).map(i => (i, "identical text repeated for the bucket cap test"))
      .toDF("doc_id", "text")
    val streamed = StreamOps.lshCandidatePairs(many, "doc_id", "text", maxBucketIds = 2)
      .collect().map(p => (p.id_a, p.id_b)).toSet
    val batch = graft.pipeline.Dedup.minhashCandidates(many, "doc_id", "text", maxBucketSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == Set((1L, 2L)), s"stream should saturate at the cap: $streamed")
    assert(batch.isEmpty, s"batch should drop the over-cap bucket wholesale: $batch")
    SparkEntry.runPendingCleanups()
  }

  test("streamingDedup over a live stream equals the batch dedupExact twin (parity)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // originals arrive in micro-batch 1, duplicates + one new doc in
    // micro-batch 2: first-arrival (stream) and min-id (batch twin)
    // then pick the SAME survivors, making the parity exact
    val first = Seq(
      (1L, t(1), "The quick brown fox"),
      (2L, t(2), "something else entirely"),
      (3L, t(3), "third distinct document"))
    val second = Seq(
      (4L, t(4), "the  quick BROWN fox!"), // normalized dup of 1
      (5L, t(5), "SOMETHING  else entirely"), // normalized dup of 2
      (6L, t(6), "a genuinely new arrival"))
    val batchKept = graft.pipeline.Dedup.dedupExact(
      (first ++ second).toDF("doc_id", "ts", "text"), "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val stream = input.toDF().toDF("doc_id", "ts", "text")
    val q = StreamOps.streamingDedup(stream, "ts", "text", delay = "1 hour")
      .writeStream.format("memory").queryName("dedup_parity").outputMode("append").start()
    try {
      input.addData(first); q.processAllAvailable()
      input.addData(second); q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id FROM dedup_parity")
        .collect().map(_.getLong(0)).toSet
      assert(streamed == batchKept,
        s"stream/batch diverge: only-stream=${streamed -- batchKept}, only-batch=${batchKept -- streamed}")
    } finally q.stop()
  }

  test("enrichWithDimension over a live stream equals the batch left join twin (parity)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val rows = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (1L, 11.0), (4L, 40.0))
    def summarize(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("value"), col("tier")).collect()
        .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
    val batch = summarize(rows.toDF("user_id", "value").join(dim, Seq("user_id"), "left"))
    val input = MemoryStream[(Long, Double)]
    val stream = input.toDF().toDF("user_id", "value")
    val q = StreamOps.enrichWithDimension(stream, dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enrich_parity").outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(2)
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      val streamed = summarize(spark.table("enrich_parity"))
      assert(streamed == batch,
        s"stream/batch diverge: only-stream=${streamed -- batch}, only-batch=${batch -- streamed}")
    } finally q.stop()
  }

  test("filterAgainstBlocklist over a live stream equals the batch left_anti twin (parity)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val block = Seq((2L, "contaminated"), (4L, "dup"), (4L, "dup again")).toDF("doc_id", "reason")
    val rows = Seq((1L, "keep"), (2L, "drop"), (3L, "keep"), (4L, "drop"), (5L, "keep"))
    def summarize(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = summarize(rows.toDF("doc_id", "text")
      .join(block.select("doc_id").distinct(), Seq("doc_id"), "left_anti"))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = StreamOps.filterAgainstBlocklist(stream, block, Seq("doc_id"))
      .writeStream.format("memory").queryName("blocklist_parity").outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(2)
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      val streamed = summarize(spark.table("blocklist_parity"))
      assert(streamed == batch,
        s"stream/batch diverge: only-stream=${streamed -- batch}, only-batch=${batch -- streamed}")
    } finally q.stop()
  }

  test("countMinSketch runs unchanged as a streaming aggregation (batch parity)") {
    // the CMS plan is one explode + groupBy-count, which Structured
    // Streaming aggregates incrementally in complete mode — the
    // mergeable-sketch story needs no streaming twin, the SAME
    // operator IS the twin. Final streamed state == batch sketch.
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.pipeline.Sketch
    val input = MemoryStream[String]
    val stream = input.toDF().toDF("v")
    val q = Sketch.countMinSketch(stream, "v", d = 3, w = 16)
      .writeStream.format("memory").queryName("cms_stream").outputMode("complete").start()
    try {
      input.addData((0 until 400).map(i => s"w${i % 7}"): _*)
      q.processAllAvailable()
      input.addData((0 until 300).map(i => s"w${i % 11}"): _*) // second micro-batch updates counts
      q.processAllAvailable()
      val streamed = spark.sql("SELECT row_id, bucket, cnt FROM cms_stream")
      val batch = Sketch.countMinSketch(
        ((0 until 400).map(i => s"w${i % 7}") ++ (0 until 300).map(i => s"w${i % 11}"))
          .map(Tuple1(_)).toDF("v"), "v", d = 3, w = 16)
      assertSame(streamed, batch)
    } finally q.stop()
  }

  test("enrichWithDimension broadcast-joins a stream against a static table") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Double)]
    val stream = input.toDF().toDF("user_id", "value")
    val q = StreamOps.enrichWithDimension(stream, dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enrich_test").outputMode("append").start()
    try {
      input.addData((1L, 10.0), (3L, 30.0)) // 3 has no dim row -> null tier
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, tier FROM enrich_test").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows == Map(1L -> Some("gold"), 3L -> None))
    } finally q.stop()
  }

  test("upsertStream: micro-batches merge latest-state by key, restart re-applies idempotently") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-stream-upsert")
    val path = root.resolve("data").toString
    val ckpt = root.resolve("ckpt").toString
    val input = MemoryStream[(Long, String, Double, Long)]
    def start() = StreamOps.upsertStream(
      input.toDF().toDF("id", "part", "v", "ver"), path, ckpt,
      keyCols = Seq("id"), partitionCols = Seq("part"), orderCol = "ver",
      sortCols = Seq("id"))
    def state(): Map[Long, Double] =
      graft.sources.Sink.readPartitioned(s, path)
        .select("id", "v").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val q = start()
    try {
      // batch 1: inserts, including a same-key pair — the higher ver
      // must win within the batch
      input.addData((1L, "a", 1.0, 1L), (2L, "a", 2.0, 1L), (2L, "a", 20.0, 2L))
      q.processAllAvailable()
      assert(state() == Map(1L -> 1.0, 2L -> 20.0))
      // batch 2: replace id=1, insert id=3 in another partition
      input.addData((1L, "a", 10.0, 3L), (3L, "b", 3.0, 1L))
      q.processAllAvailable()
      assert(state() == Map(1L -> 10.0, 2L -> 20.0, 3L -> 3.0))
    } finally q.stop()
    // restart from the checkpoint: committed batches do not re-apply
    // (and if one did, the upsert is idempotent) — state unchanged,
    // new data still merges
    val q2 = start()
    try {
      input.addData((3L, "b", 30.0, 2L))
      q2.processAllAvailable()
      assert(state() == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    } finally q2.stop()
  }
}
