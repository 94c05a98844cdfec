package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.{Parquet, Sink}

/** The partitioned sink: the properties a 100 TB pipeline's output
  * layout lives or dies by — lossless round-trip, deterministic
  * layout across re-runs, file-size control, and partition-scoped
  * overwrite for idempotent incremental runs.
  */
class SinkSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  private def tmp(): Path = Files.createTempDirectory("graft-sink-spec")

  /** (partition dir → parquet file count), recursively. */
  private def layout(root: Path): Map[String, Int] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .toSeq
      .groupBy(p => root.relativize(p.getParent).toString)
      .view.mapValues(_.size).toMap

  test("round-trip is lossless: every row and column survives the write/read cycle") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val out = tmp()
    Sink.writePartitioned(d, out.toString, Seq("lang"), sortCols = Seq("doc_id"))
    val back = Sink.readPartitioned(spark, out.toString)
      .select(d.columns.map(col).toSeq: _*)
    assert(back.exceptAll(d).isEmpty && d.exceptAll(back).isEmpty,
      "re-read dataset differs from the source")
  }

  test("re-running the same write reproduces the same layout and content (idempotency)") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val out = tmp()
    def run(): Unit = Sink.writePartitioned(
      d, out.toString, Seq("lang"), sortCols = Seq("doc_id"),
      maxRecordsPerFile = 50L, filesPerPartition = 2)
    run()
    val l1 = layout(out)
    val c1 = Sink.readPartitioned(spark, out.toString).count()
    run()
    assert(layout(out) == l1, "re-run changed the partition-dir/file-count layout")
    assert(Sink.readPartitioned(spark, out.toString).count() == c1,
      "re-run changed the row count")
  }

  test("maxRecordsPerFile rolls a hot partition into multiple scan-parallel files") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val out = tmp()
    Sink.writePartitioned(d, out.toString, Seq("lang"),
      sortCols = Seq("doc_id"), maxRecordsPerFile = 50L)
    val counts = Sink.readPartitioned(spark, out.toString)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val files = layout(out)
    counts.foreach { case (lang, n) =>
      val got = files(s"lang=$lang")
      val want = math.ceil(n / 50.0).toInt
      assert(got >= want, s"lang=$lang holds $n rows but only $got files (cap 50)")
    }
  }

  test("filesPerPartition salts a hot partition's write across tasks, deterministically") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val out = tmp()
    Sink.writePartitioned(d, out.toString, Seq("lang"),
      sortCols = Seq("doc_id"), filesPerPartition = 2)
    // the salt may collide both hash buckets into one task, but the
    // biggest partition (en, ~193 rows) splits in practice
    assert(layout(out).values.max >= 2, s"no partition split across tasks: ${layout(out)}")
    // and the salt is content-derived: a second write lands identically
    val l1 = layout(out)
    Sink.writePartitioned(d, out.toString, Seq("lang"),
      sortCols = Seq("doc_id"), filesPerPartition = 2)
    assert(layout(out) == l1, "content-hash salting is not deterministic across runs")
  }

  test("dynamic overwrite replaces only the partitions present in the input") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val out = tmp()
    Sink.writePartitioned(d, out.toString, Seq("lang"), sortCols = Seq("doc_id"))
    val before = Sink.readPartitioned(spark, out.toString).count()
    // re-run ONLY the 'en' slice, with doctored content
    val enOnly = d.where(col("lang") === "en").withColumn("n_chars", lit(-1L))
    Sink.writePartitioned(enOnly, out.toString, Seq("lang"), sortCols = Seq("doc_id"))
    val back = Sink.readPartitioned(spark, out.toString)
    assert(back.count() == before, "partition-scoped rewrite changed total row count")
    assert(back.where(col("lang") === "en").agg(max("n_chars")).head.getLong(0) == -1L,
      "the rewritten partition does not carry the new content")
    assert(back.where(col("lang") =!= "en").agg(min("n_chars")).head.getLong(0) >= 0L,
      "an untouched partition was clobbered by the partial re-run")
  }

  test("compaction rewrites only overfull partitions down to the target, content intact") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val out = tmp()
    // fragment: salt each lang partition across 4 files
    Sink.writePartitioned(d, out.toString, Seq("lang"),
      sortCols = Seq("doc_id"), filesPerPartition = 4)
    val before = layout(out)
    assert(before.values.exists(_ > 1), "fixture must start fragmented")
    val content = Sink.readPartitioned(spark, out.toString)
      .select(d.columns.map(col).toSeq: _*)
    val beforeHash = content.orderBy(col("doc_id")).collect().map(_.toString).mkString("\n")

    val compacted = Sink.compactPartitions(
      spark, out.toString, Seq("lang"), sortCols = Seq("doc_id"), targetFiles = 1)
    assert(compacted.nonEmpty, "fragmented partitions must be reported as compacted")
    val after = layout(out)
    assert(after.values.forall(_ <= 1), s"file counts above target after compaction: $after")
    val afterHash = Sink.readPartitioned(spark, out.toString)
      .select(d.columns.map(col).toSeq: _*)
      .orderBy(col("doc_id")).collect().map(_.toString).mkString("\n")
    assert(afterHash == beforeHash, "compaction must not change dataset content")
    // already-compact layout: second pass is a no-op
    assert(Sink.compactPartitions(spark, out.toString, Seq("lang"),
      sortCols = Seq("doc_id"), targetFiles = 1).isEmpty,
      "compaction of a compact layout must be a no-op")
    // no staging residue
    assert(layout(out).keySet.forall(k => !k.contains(".compact-")),
      "staging directory must be cleaned up")
  }

  test("compaction mid-swap: a racing reader sees every row (duplicates allowed, loss not)") {
    val s = spark; import s.implicits._
    val out = tmp()
    val base = (1L to 40L).map(i => (i, "a", i * 1.0)).toDF("id", "part", "v")
    Sink.writePartitioned(base, out.toString, Seq("part"),
      sortCols = Seq("id"), filesPerPartition = 4)
    assert(layout(out)("part=a") > 1, "fixture must start fragmented")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    Sink.midSwapHook = { _ =>
      seen += s.read.parquet(out.toString).select("id").collect().map(_.getLong(0)).toSet
    }
    try Sink.compactPartitions(s, out.toString, Seq("part"), sortCols = Seq("id"), targetFiles = 1)
    finally Sink.midSwapHook = _ => ()
    assert(seen.size == 1)
    // old+new both on disk at the hook: distinct ids must be complete
    assert(seen.head == (1L to 40L).toSet,
      s"mid-swap read lost rows: missing ${(1L to 40L).toSet -- seen.head}")
    assert(layout(out)("part=a") == 1)
  }

  test("compaction leaves partitions at-or-under the target byte-for-byte untouched") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val out = tmp()
    Sink.writePartitioned(d, out.toString, Seq("lang"), sortCols = Seq("doc_id"))
    // fragment ONE partition by re-writing just its rows salted
    val hot = d.where(col("lang") === "en")
    Sink.writePartitioned(hot, out.toString, Seq("lang"),
      sortCols = Seq("doc_id"), filesPerPartition = 4)
    import java.nio.file.Files
    val untouched = Files.walk(out).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("lang=en"))
      .map(p => p.toString -> Files.getLastModifiedTime(p))
      .toMap
    val compacted = Sink.compactPartitions(
      spark, out.toString, Seq("lang"), sortCols = Seq("doc_id"), targetFiles = 1)
    assert(compacted == Seq("lang=en"), s"only the fragmented partition may be rewritten: $compacted")
    untouched.foreach { case (p, mtime) =>
      assert(Files.getLastModifiedTime(java.nio.file.Paths.get(p)) == mtime,
        s"compaction touched a compact partition's file: $p")
    }
  }

  test("partition-value filters prune the re-read to the matching directories") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val out = tmp()
    Sink.writePartitioned(d, out.toString, Seq("lang"), sortCols = Seq("doc_id"))
    val plan = Sink.readPartitioned(spark, out.toString)
      .where(col("lang") === "en")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("lang"),
      s"lang filter not applied as a partition filter:\n$plan")
    // partition pruning happens at the file index: the scan's data
    // filters must NOT contain the partition predicate
    assert(!plan.contains("PushedFilters: [IsNotNull(lang)"),
      s"partition predicate degraded to a data filter:\n$plan")
  }

  // ---- key-level upsert / delete ----------------------------------

  /** content digest of untouched-partition files for byte-stability */
  private def fileBytes(root: Path, sub: String): Map[String, Long] =
    Files.walk(root.resolve(sub)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap

  test("upsertPartitioned: replace + insert, batch-scoped rewrite, untouched partitions byte-stable") {
    val s = spark; import s.implicits._
    def rows(xs: (Long, String, Double)*) = xs.toSeq.toDF("id", "part", "v")
    val out = tmp()
    val base = rows((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0), (4L, "c", 4.0))
    // bootstrap on an empty path = plain write
    val r0 = Sink.upsertPartitioned(s, out.toString, base, Seq("id"), Seq("part"), Seq("id"))
    assert(r0 == Seq("part=a", "part=b", "part=c"))
    val cBytes = fileBytes(out, "part=c")
    val mtime = Files.getLastModifiedTime(
      Files.walk(out.resolve("part=c")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get)
    // batch touches a (replace id=2, insert id=9) and b (replace id=3)
    val batch = rows((2L, "a", 20.0), (9L, "a", 90.0), (3L, "b", 30.0))
    val r1 = Sink.upsertPartitioned(s, out.toString, batch, Seq("id"), Seq("part"), Seq("id"))
    assert(r1 == Seq("part=a", "part=b"))
    val back = Sink.readPartitioned(s, out.toString)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(back == Map(1L -> 1.0, 2L -> 20.0, 3L -> 30.0, 4L -> 4.0, 9L -> 90.0))
    // partition c untouched — same files, same bytes, same mtime
    assert(fileBytes(out, "part=c") == cBytes)
    assert(Files.getLastModifiedTime(
      Files.walk(out.resolve("part=c")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get) == mtime,
      "untouched partition was rewritten")
    // idempotent: same batch again -> same content
    Sink.upsertPartitioned(s, out.toString, batch, Seq("id"), Seq("part"), Seq("id"))
    val again = Sink.readPartitioned(s, out.toString)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == back)
  }

  test("upsertRelocating: a moved key leaves its old partition in the SAME single rewrite") {
    val s = spark; import s.implicits._
    def rows(xs: (Long, String, Double)*) = xs.toSeq.toDF("id", "part", "v")
    val out = tmp()
    val base = rows((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0), (4L, "c", 4.0))
    Sink.upsertPartitioned(s, out.toString, base, Seq("id"), Seq("part"), Seq("id"))
    // id=2 relocates a -> b; oldPartitions names the source partition
    val batch = rows((2L, "b", 20.0), (9L, "b", 90.0))
    val oldParts = Seq("a").toDF("part")
    val swaps = scala.collection.mutable.ArrayBuffer.empty[String]
    val hook = Sink.midSwapHook
    Sink.midSwapHook = rel => swaps.synchronized { swaps += rel; () }
    val rels =
      try Sink.upsertRelocating(s, out.toString, batch, Seq("id"), Seq("part"),
        oldPartitions = Some(oldParts), sortCols = Seq("id"))
      finally Sink.midSwapHook = hook
    assert(rels == Seq("part=a", "part=b"))
    // one swap per touched partition — never the deleteKeys+upsert double walk
    assert(swaps.sorted == Seq("part=a", "part=b"),
      s"expected exactly one swap per touched partition, saw $swaps")
    val back = Sink.readPartitioned(s, out.toString)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getDouble(1))).toSet
    assert(back == Set((1L, "a", 1.0), (2L, "b", 20.0), (3L, "b", 3.0),
      (4L, "c", 4.0), (9L, "b", 90.0)),
      s"stale row of the moved key must leave its old partition: $back")
    // a relocation that EMPTIES the old partition drops its dir
    val batch2 = rows((1L, "b", 10.0))
    Sink.upsertRelocating(s, out.toString, batch2, Seq("id"), Seq("part"),
      oldPartitions = Some(Seq("a").toDF("part")), sortCols = Seq("id"))
    assert(!Files.exists(out.resolve("part=a")), "emptied source partition must drop")
    assert(Sink.readPartitioned(s, out.toString).where(col("id") === 1L)
      .select("part").head().getString(0) == "b")
  }

  test("a reader listing MID-SWAP still sees a complete generation (never torn/empty)") {
    val s = spark; import s.implicits._
    def rows(xs: (Long, String, Double)*) = xs.toSeq.toDF("id", "part", "v")
    val out = tmp()
    val base = rows((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
    Sink.upsertPartitioned(s, out.toString, base, Seq("id"), Seq("part"), Seq("id"))
    val batch = rows((2L, "a", 20.0), (9L, "a", 90.0))
    // hook fires between rename-in and delete-old: the widest racing
    // window. A lister here must find the COMPLETE new generation
    // (old-generation rows may coexist briefly — duplicates, never
    // missing data, never an empty partition)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Set[Double]]]
    Sink.midSwapHook = { rel =>
      val read = s.read.parquet(out.toString).where(col("part") === "a")
        .select("id", "v").collect()
        .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getDouble(1)).toSet }
      seen += read
    }
    try Sink.upsertPartitioned(s, out.toString, batch, Seq("id"), Seq("part"), Seq("id"))
    finally Sink.midSwapHook = _ => ()
    assert(seen.size == 1, s"expected one swapped partition, hook saw ${seen.size}")
    val mid = seen.head
    // the new generation is fully present...
    assert(mid.get(1L).exists(_.contains(1.0)))
    assert(mid.get(2L).exists(_.contains(20.0)))
    assert(mid.get(9L).exists(_.contains(90.0)))
    // ...and nothing beyond old+new ever appears
    assert(mid.keySet == Set(1L, 2L, 9L), s"unexpected mid-swap keys: $mid")
    assert(mid.values.flatten.toSet.subsetOf(Set(1.0, 2.0, 20.0, 90.0)))
    // after the swap: exactly the new generation
    val after = s.read.parquet(out.toString).where(col("part") === "a")
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(after == Map(1L -> 1.0, 2L -> 20.0, 9L -> 90.0))
  }

  test("readSnapshot mid-swap sees EXACTLY one generation under upsert AND compaction (r14)") {
    val s = spark; import s.implicits._
    def rows(xs: (Long, String, Double)*) = xs.toSeq.toDF("id", "part", "v")
    val out = tmp()
    Sink.upsertPartitioned(s, out.toString,
      rows((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0)), Seq("id"), Seq("part"), Seq("id"))
    // --- upsert: the plain listing shows old+new duplicates mid-swap;
    // the snapshot read must resolve to the NEW generation alone
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Double]]
    val plains = scala.collection.mutable.ArrayBuffer.empty[Long]
    Sink.midSwapHook = { _ =>
      plains += s.read.parquet(out.toString).where(col("part") === "a").count()
      snaps += Sink.readSnapshot(s, out.toString, Seq("part"))
        .where(col("part") === "a").select("id", "v").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    try Sink.upsertPartitioned(s, out.toString,
      rows((2L, "a", 20.0), (9L, "a", 90.0)), Seq("id"), Seq("part"), Seq("id"))
    finally Sink.midSwapHook = _ => ()
    assert(snaps.size == 1)
    assert(plains.head > 3, "precondition: the plain mid-swap listing must show the dup window")
    assert(snaps.head == Map(1L -> 1.0, 2L -> 20.0, 9L -> 90.0),
      s"snapshot mid-swap must be exactly one generation: ${snaps.head}")
    // --- compaction: same guarantee — row multiset never doubles
    // (filesPerPartition=2 leaves partition a overfull for targetFiles=1)
    Sink.upsertPartitioned(s, out.toString, rows((4L, "a", 4.0)), Seq("id"), Seq("part"), Seq("id"),
      filesPerPartition = 2)
    val expect = Map(1L -> 1.0, 2L -> 20.0, 9L -> 90.0, 4L -> 4.0)
    val csnaps = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Double]]
    Sink.midSwapHook = { _ =>
      csnaps += Sink.readSnapshot(s, out.toString, Seq("part"))
        .where(col("part") === "a").select("id", "v").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    try Sink.compactPartitions(s, out.toString, Seq("part"), Seq("id"), targetFiles = 1)
    finally Sink.midSwapHook = _ => ()
    assert(csnaps.nonEmpty && csnaps.forall(_ == expect),
      s"snapshot mid-compaction must be exactly one generation: $csnaps")
    // --- steady state: snapshot == plain read; bulk layouts without
    // manifests fall back to the listing
    assert(Sink.readSnapshot(s, out.toString, Seq("part")).count()
      == s.read.parquet(out.toString).count())
    val bulk = tmp()
    Sink.writePartitioned(rows((7L, "x", 7.0)), bulk.toString, Seq("part"))
    assert(Sink.readSnapshot(s, bulk.toString, Seq("part")).count() == 1)
  }

  test("readSnapshot: a full swap completing between its two listings still resolves ONE complete generation (r15)") {
    val s = spark; import s.implicits._
    def rows(xs: (Long, String, Double)*) = xs.toSeq.toDF("id", "part", "v")
    val out = tmp()
    Sink.upsertPartitioned(s, out.toString,
      rows((1L, "a", 1.0), (2L, "a", 2.0)), Seq("id"), Seq("part"), Seq("id"))
    // complete an ENTIRE swap (rename-in, new manifest, old files +
    // old manifest deleted) inside the window between readSnapshot's
    // manifest listing and its data listing: the manifest it already
    // holds now names deleted files, so without the one-shot
    // re-resolution the reader would fall back to a raw listing of
    // files being deleted (FILE_NOT_EXIST at scan) — the r14 race
    var fired = false
    Sink.snapshotRaceHook = { dir =>
      if (!fired && dir.contains("part=a")) {
        fired = true
        Sink.upsertPartitioned(s, out.toString,
          rows((2L, "a", 20.0), (9L, "a", 90.0)), Seq("id"), Seq("part"), Seq("id"))
      }
    }
    val snap =
      try Sink.readSnapshot(s, out.toString, Seq("part"))
        .where(col("part") === "a").select("id", "v").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      finally Sink.snapshotRaceHook = _ => ()
    assert(fired, "precondition: the swap must run inside the listing window")
    assert(snap == Map(1L -> 1.0, 2L -> 20.0, 9L -> 90.0),
      s"reader must re-resolve to the new generation, exactly once: $snap")
  }

  test("deleteKeys: tombstoned rows vanish, emptied partitions drop, others untouched") {
    val s = spark; import s.implicits._
    def rows(xs: (Long, String, Double)*) = xs.toSeq.toDF("id", "part", "v")
    val out = tmp()
    val base = rows((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0), (4L, "c", 4.0))
    Sink.writePartitioned(base, out.toString, Seq("part"), Seq("id"))
    val cBytes = fileBytes(out, "part=c")
    // delete one of two rows in a, the only row in b
    val keys = Seq((2L, "a"), (3L, "b")).toDF("id", "part")
    val r = Sink.deleteKeys(s, out.toString, keys, Seq("id"), Seq("part"), Seq("id"))
    assert(r == Seq("part=a")) // b emptied -> dropped, not rewritten
    val back = Sink.readPartitioned(s, out.toString)
      .collect().map(r2 => r2.getLong(0) -> r2.getDouble(1)).toMap
    assert(back == Map(1L -> 1.0, 4L -> 4.0))
    assert(!Files.exists(out.resolve("part=b")), "emptied partition dir should drop")
    assert(fileBytes(out, "part=c") == cBytes, "unrelated partition touched")
    // deleting unknown keys / empty table is a no-op
    assert(Sink.deleteKeys(s, out.toString,
      Seq((99L, "zz")).toDF("id", "part"), Seq("id"), Seq("part")) == Nil)
  }

  test("schema evolution: a batch with a new column coexists; evolved read nulls old rows") {
    val s = spark
    val d = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang")
    val out = tmp()
    // epoch 1 has no quality column; epoch 2 grows one
    Sink.writePartitioned(d.where(col("doc_id") % 2 === 0)
      .withColumn("epoch", lit("e1")), out.toString, Seq("epoch", "lang"), Seq("doc_id"))
    Sink.writePartitioned(d.where(col("doc_id") % 2 =!= 0)
      .withColumn("quality", col("doc_id") % 7)
      .withColumn("epoch", lit("e2")), out.toString, Seq("epoch", "lang"), Seq("doc_id"))
    val evolved = Sink.readPartitionedEvolved(s, out.toString)
    assert(evolved.columns.contains("quality"), evolved.columns.mkString(","))
    assert(evolved.count() == d.count())
    // pre-evolution rows read null quality; post-evolution keep theirs
    assert(evolved.where(col("epoch") === "e1" && col("quality").isNotNull).count() == 0)
    assert(evolved.where(col("epoch") === "e2" && col("quality").isNull).count() == 0)
  }

  test("upsert + delete compose to the reference latest-state semantics at table scale") {
    val s = spark
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val out = tmp()
    val b1 = d.where(col("doc_id") % 3 =!= 2)
    val b2 = d.where(col("doc_id") % 2 === 0)
      .withColumn("n_chars", col("n_chars") + 1000)
    Sink.upsertPartitioned(s, out.toString, b1, Seq("doc_id"), Seq("lang"), Seq("doc_id"))
    Sink.upsertPartitioned(s, out.toString, b2, Seq("doc_id"), Seq("lang"), Seq("doc_id"))
    val expected = d
      .where(col("doc_id") % 3 =!= 2 || col("doc_id") % 2 === 0)
      .withColumn("n_chars",
        when(col("doc_id") % 2 === 0, col("n_chars") + 1000).otherwise(col("n_chars")))
    val back = Sink.readPartitioned(s, out.toString).select("doc_id", "lang", "n_chars")
    assert(back.exceptAll(expected).isEmpty && expected.exceptAll(back).isEmpty)
    // then forget every doc_id % 5 == 0
    val keys = back.where(col("doc_id") % 5 === 0).select("doc_id", "lang")
    Sink.deleteKeys(s, out.toString, keys, Seq("doc_id"), Seq("lang"), Seq("doc_id"))
    val after = Sink.readPartitioned(s, out.toString).select("doc_id", "lang", "n_chars")
    val expected2 = expected.where(col("doc_id") % 5 =!= 0)
    assert(after.exceptAll(expected2).isEmpty && expected2.exceptAll(after).isEmpty)
  }

  // ---- in-file order, footer schema, job counts --------------------

  /** Descents of the long `sortCol` per parquet file under `root`,
    * each file read on its own, in file order.
    */
  private def descents(root: Path, sortCol: String): Map[String, Int] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map { f =>
        val ids = spark.read.parquet(f.toString).select(sortCol).collect().map(_.getLong(0))
        root.relativize(f).toString -> ids.sliding(2).count(w => w.length == 2 && w(0) > w(1))
      }.toMap

  test("every file written by writePartitioned, compaction, upsert and delete holds sortCols ascending") {
    // four input splits, each descending: a write that keeps task
    // order leaves descents inside every split and at its boundaries
    val rows = spark.range(0, 400, 1, 4).select(
      (lit(400L) - col("id")).as("id"), (col("id") % 3).cast("string").as("part"),
      col("id").cast("double").as("v"))
    val out = tmp()
    def check(op: String): Unit = {
      val d = descents(out, "id")
      assert(d.nonEmpty && d.values.forall(_ == 0), s"after $op, descents per file: $d")
    }
    Sink.writePartitioned(rows, out.toString, Seq("part"), Seq("id"), filesPerPartition = 2)
    check("writePartitioned")
    assert(Sink.compactPartitions(spark, out.toString, Seq("part"), Seq("id"), targetFiles = 1).nonEmpty)
    check("compactPartitions")
    Sink.upsertPartitioned(spark, out.toString,
      rows.where(col("id") % 7 === 0).withColumn("v", col("v") + 1), Seq("id"), Seq("part"), Seq("id"))
    check("upsertPartitioned")
    Sink.deleteKeys(spark, out.toString,
      rows.where(col("id") % 5 === 0).select("id", "part"), Seq("id"), Seq("part"), Seq("id"))
    check("deleteKeys")
    assert(Sink.readPartitioned(spark, out.toString).count() == 400 - 80)
  }

  test("readLayout: the footer schema is spark.read's, for roots, leaf dirs and files, with no job") {
    val s = spark; import s.implicits._
    val base = (1L to 12L).map(i => (i, i * 0.5, s"t$i", (i % 3).toInt, s"p${i % 2}"))
      .toDF("id", "v", "s", "k", "p")
    // one and two levels, an underscore-named column, integer dirs
    val layouts = Seq(Seq("p") -> base, Seq("p", "k") -> base, Seq("k") -> base,
      Seq("_p") -> base.withColumnRenamed("p", "_p"))
    for ((partitionCols, df) <- layouts) {
      val out = tmp().toString
      Sink.writePartitioned(df, out, partitionCols, Seq("id"))
      val leaves = layout(Paths.get(out)).keys.map(rel => Paths.get(out, rel).toString).toSeq.sorted
      val files = leaves.flatMap(dir => Files.list(Paths.get(dir)).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")))
      assert(leaves.size > 1 && files.size >= leaves.size, s"$partitionCols: $leaves / $files")
      for (paths <- Seq(Seq(out), leaves, files))
        sameAsSpark(s"$partitionCols over $paths", Parquet.read(spark, out, paths),
          spark.read.option("basePath", out).parquet(paths: _*))
      // the one-path form, which sets no basePath
      sameAsSpark(s"$partitionCols root", Parquet.read(spark, out), spark.read.parquet(out))
    }
    // a plain Spark-written directory
    val plain = tmp().resolve("plain").toString
    base.repartition(3).write.parquet(plain)
    sameAsSpark("plain directory", Parquet.read(spark, plain), spark.read.parquet(plain))
  }

  /** `read` runs no job and has `inferred`'s schema and rows. */
  private def sameAsSpark(label: String, read: => org.apache.spark.sql.DataFrame,
                          inferred: => org.apache.spark.sql.DataFrame): Unit = {
    var built: org.apache.spark.sql.DataFrame = null
    val sites = jobSites { built = read }
    assert(sites.isEmpty, s"$label: ran jobs $sites")
    val expected = inferred
    assert(built.schema == expected.schema, label)
    assert(built.exceptAll(expected).isEmpty && expected.exceptAll(built).isEmpty, label)
  }

  test("readLayout: files without Spark's row metadata read the converted footer schema, with no job") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); optional double score; optional binary raw; }")
    val conf = spark.sparkContext.hadoopConfiguration
    val out = tmp()
    for ((part, ids) <- Seq("x" -> (1L to 3L), "y" -> (4L to 5L))) {
      val file = new org.apache.hadoop.fs.Path(out.resolve(s"part=$part").resolve("f.parquet").toUri)
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf)).withType(schema).build()
      val groups = new SimpleGroupFactory(schema)
      try ids.foreach(i => w.write(groups.newGroup().append("id", i).append("name", s"n$i")
        .append("score", i * 1.5).append("raw", s"r$i")))
      finally w.close()
    }
    // the converter reads the session conf at call time: the same file
    // reads `raw` as binary, then, with binaryAsString set, as a string
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try for ((asString, rawType) <- Seq("false" -> BinaryType, "true" -> StringType)) {
      spark.conf.set(key, asString)
      var built: org.apache.spark.sql.DataFrame = null
      val sites = jobSites { built = Parquet.read(spark, out.toString, Seq(out.toString)) }
      assert(sites.isEmpty, s"a footer without row metadata ran jobs $sites")
      val inferred = spark.read.parquet(out.toString)
      assert(built.schema("raw").dataType == rawType)
      assert(built.schema == inferred.schema)
      assert(built.orderBy("id").collect().toSeq == inferred.orderBy("id").collect().toSeq)
      assert(built.count() == 5)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("deleteKeys: duplicate and null keys delete what distinct non-null keys do") {
    val s = spark; import s.implicits._
    val out = tmp()
    val base = Seq((Option(1L), "a", 1.0), (Option(2L), "a", 2.0), (Option.empty[Long], "a", 3.0),
      (Option(3L), "b", 4.0), (Option(4L), "b", 5.0)).toDF("id", "part", "v")
    Sink.writePartitioned(base, out.toString, Seq("part"), Seq("id"))
    // 2 three times, a null id in a and in b, 4 twice
    val keys = Seq((Option(2L), "a"), (Option(2L), "a"), (Option.empty[Long], "a"), (Option(2L), "a"),
      (Option(4L), "b"), (Option.empty[Long], "b"), (Option(4L), "b")).toDF("id", "part")
    assert(Sink.deleteKeys(s, out.toString, keys, Seq("id"), Seq("part"), Seq("id")) ==
      Seq("part=a", "part=b"))
    // a null key matches nothing, not even the null-keyed row
    val back = Sink.readPartitioned(s, out.toString).select("id", "part", "v")
      .as[(Option[Long], String, Double)].collect().toSet
    assert(back == Set((Option(1L), "a", 1.0), (Option.empty[Long], "a", 3.0), (Option(3L), "b", 4.0)))
  }

  test("job counts: deleteKeys runs no inference job and at most 5 jobs; reads build with none") {
    val s = spark; import s.implicits._
    val rows = spark.range(0, 300, 1, 3).select(col("id"), (col("id") % 4).cast("string").as("part"),
      col("id").cast("double").as("v"))
    val out = tmp().toString
    Sink.writePartitioned(rows, out, Seq("part"), Seq("id"))
    val keys = rows.where(col("id") % 5 === 0).select("id", "part")
    val deleteSites = jobSites { Sink.deleteKeys(s, out, keys, Seq("id"), Seq("part"), Seq("id")); () }
    // one touched-set job, then the rewrite's broadcast, shuffle and write
    assert(deleteSites.size <= 5, s"deleteKeys jobs: $deleteSites")
    assert(!deleteSites.exists(_.startsWith("parquet at Sink")), s"inference job in $deleteSites")
    assert(jobSites { Sink.readPartitioned(s, out); () }.isEmpty)
    assert(jobSites { Sink.readSnapshot(s, out, Seq("part")); () }.isEmpty)
    val upsertSites = jobSites {
      Sink.upsertPartitioned(s, out, Seq((1L, "1", 9.0), (2L, "2", 9.0)).toDF("id", "part", "v"),
        Seq("id"), Seq("part"), Seq("id")); ()
    }
    assert(upsertSites.count(_.startsWith("collect at Sink")) == 1 && upsertSites.size <= 4,
      s"upsert jobs, touched set first: $upsertSites")
    assert(Sink.readPartitioned(s, out).count() == 240)
  }
}
