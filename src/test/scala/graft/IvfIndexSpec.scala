package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{IvfIndex, Similarity}

/** Persisted IVF index vs the in-memory operator: same math, but the
  * serving scan must read ONLY the probed cell partitions.
  */
class IvfIndexSpec extends SparkSuite {

  private def emb: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  private def tempPath(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-ivf-$name").toString + "/idx"

  private def resultSet(df: DataFrame): Set[(Long, Long, Double, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  test("stored search is identical to the in-memory ivfTopK") {
    val path = tempPath("parity")
    IvfIndex.build(emb, "vec_id", "emb", path, nlist = 16)
    val q = emb.where(col("vec_id") % 50 === 0)
    val stored = IvfIndex.searchTopK(spark, path, q, "vec_id", "emb", k = 5, nprobe = 4)
    val mem = Similarity.ivfTopK(emb, q, "vec_id", "emb", k = 5, nlist = 16, nprobe = 4)
    assert(resultSet(stored) == resultSet(mem))
  }

  test("int8 layout: serves ivfInt8TopK exactly, stores no float vectors, maintains through append/delete/rebuild (r15)") {
    val path = tempPath("int8")
    IvfIndex.build(emb, "vec_id", "emb", path, nlist = 16, int8 = true)
    // the compressed layout: tinyint codes + scale + code norm, NO
    // float vector column — that's the ~4-6x on-disk shrink
    val schema = spark.read.parquet(path).schema
    assert(!schema.fieldNames.contains("emb"), "int8 layout must not store float vectors")
    assert(schema.fieldNames.toSet.intersect(Set("__codes__", "__scale__", "__cn__")).size == 3)
    assert(schema("__codes__").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.ByteType, "codes must store as tinyint")
    // serving parity with the in-memory compressed operator
    val q = emb.where(col("vec_id") % 50 === 0)
    val stored = IvfIndex.searchTopK(spark, path, q, "vec_id", "emb", k = 5, nprobe = 4)
    val mem = Similarity.ivfInt8TopK(emb, q, "vec_id", "emb", k = 5, nlist = 16, nprobe = 4)
    assert(resultSet(stored) == resultSet(mem),
      "int8 stored serving must reproduce ivfInt8TopK bit-for-bit")
    // a changed-vector append moves the key and keeps the layout int8
    val layout0 = spark.read.parquet(path)
      .select(col("cent_id").cast("long"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (c1, id1) = layout0.head
    val (c2, id2) = layout0.find(_._1 != c1).get
    IvfIndex.appendBatch(spark, path,
      emb.where(col("vec_id") === id2).select(lit(id1).as("vec_id"), col("emb")),
      "vec_id", "emb")
    val after = spark.read.parquet(path)
    assert(!after.columns.contains("emb"), "append must inherit the int8 layout")
    val moved = after.where(col("vec_id") === id1)
      .select(col("cent_id").cast("long")).collect().map(_.getLong(0))
    assert(moved.toSeq == Seq(c2), s"changed vector must move id $id1 to cell $c2, got ${moved.toSeq}")
    // delete keeps stats truthful on the compressed layout too
    val s0 = IvfIndex.stats(spark, path, "vec_id")
    val st = IvfIndex.deleteVectors(spark, path,
      emb.where(col("vec_id") < 10).select("vec_id"), "vec_id")
    assert(st.rows == s0.rows - emb.where(col("vec_id") < 10).count())
    // rebuild inherits the compression mode (vectors reconstructed as
    // code * scale; requantization reproduces the codes exactly)
    val path2 = tempPath("int8-rebuilt")
    IvfIndex.rebuild(spark, path, path2, "vec_id", "emb", nlist = 16)
    val re = spark.read.parquet(path2)
    assert(!re.columns.contains("emb") && re.columns.contains("__codes__"),
      "rebuild of an int8 layout must stay int8")
    assert(re.count() == st.rows, "rebuild must carry every surviving id")
    val codes0 = spark.read.parquet(path).select(col("vec_id"), col("__codes__").cast("array<int>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val codes2 = re.select(col("vec_id"), col("__codes__").cast("array<int>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes0 == codes2, "dequantize -> requantize must round-trip every code exactly")
  }

  test("PQ layout: serves pqTopK exactly, stores codes not vectors, maintains through append/delete/rebuild (r16)") {
    val s = spark
    val path = tempPath("pq")
    IvfIndex.buildPq(emb, "vec_id", "emb", path, dims = 64, m = 4, ksub = 8, iters = 1, nlist = 16)
    // the compressed layout: m rank-index codes + reconstruction norm,
    // no float vector column — dims*8 bytes collapse to ~m ints + 8
    val schema = s.read.parquet(path).schema
    assert(!schema.fieldNames.contains("emb"), "PQ layout must not store float vectors")
    assert(schema.fieldNames.toSet.intersect(Set("__pq__", "__xn__")).size == 2)
    assert(schema("__pq__").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.ByteType,
      "ksub <= 256 must store code ranks as tinyint (-128 offset) — half the smallint payload")
    assert(s.read.parquet(s"$path/_codebooks").count() == 4L * 8L,
      "codebook sidecar must hold m x ksub codewords")
    // the declared-shape sidecar (r17): serving addresses the flat
    // LUT from these values, never from codebook-row inference
    val meta = s.read.parquet(s"$path/_pq_meta").head()
    assert((meta.getInt(0), meta.getInt(1), meta.getInt(2)) == ((4, 8, 16)),
      s"_pq_meta must declare (m, ksub, sub), got $meta")
    // serving parity: the stored ADC path reproduces the in-memory
    // IVF-PQ operator bit-for-bit at the same parameters
    val q = emb.where(col("vec_id") % 50 === 0)
    val stored = IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5, nprobe = 4)
    val mem = Similarity.pqTopK(emb, q, "vec_id", "emb", k = 5, dims = 64,
      m = 4, ksub = 8, iters = 1, nlist = 16, nprobe = 4)
    assert(resultSet(stored) == resultSet(mem),
      "PQ stored serving must reproduce pqTopK bit-for-bit")
    // a changed-vector append re-encodes under the FROZEN codebooks
    // and moves the key's cell under the frozen coarse quantizer
    val layout0 = s.read.parquet(path)
      .select(col("cent_id").cast("long"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (c1, id1) = layout0.head
    val (c2, id2) = layout0.find(_._1 != c1).get
    IvfIndex.appendBatch(s, path,
      emb.where(col("vec_id") === id2).select(lit(id1).as("vec_id"), col("emb")),
      "vec_id", "emb")
    val after = s.read.parquet(path)
    assert(!after.columns.contains("emb"), "append must inherit the PQ layout")
    val moved = after.where(col("vec_id") === id1)
      .select(col("cent_id").cast("long")).collect().map(_.getLong(0))
    assert(moved.toSeq == Seq(c2), s"changed vector must move id $id1 to cell $c2, got ${moved.toSeq}")
    // the re-encoded codes equal id2's stored codes (same input
    // vector, same frozen codebooks -> same deterministic encode)
    def codesOf(id: Long) = after.where(col("vec_id") === id)
      .select(col("__pq__").cast("array<int>")).head().getSeq[Int](0)
    assert(codesOf(id1) == codesOf(id2), "same vector must encode to the same codes")
    // delete keeps stats truthful on the PQ layout too
    val s0 = IvfIndex.stats(s, path, "vec_id")
    val st = IvfIndex.deleteVectors(s, path,
      emb.where(col("vec_id") < 10).select("vec_id"), "vec_id")
    assert(st.rows == s0.rows - emb.where(col("vec_id") < 10).count())
    // rebuild inherits the layout: fresh coarse quantizer, codes and
    // codebooks carried BYTE-IDENTICALLY (no re-encode of lossy
    // reconstructions), so full-probe serving is unchanged
    val path2 = tempPath("pq-rebuilt")
    IvfIndex.rebuild(s, path, path2, "vec_id", "emb", nlist = 16)
    val re = s.read.parquet(path2)
    assert(!re.columns.contains("emb") && re.columns.contains("__pq__"),
      "rebuild of a PQ layout must stay PQ")
    assert(re.count() == st.rows, "rebuild must carry every surviving id")
    val codes0 = s.read.parquet(path).select(col("vec_id"), col("__pq__").cast("array<int>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val codes2 = re.select(col("vec_id"), col("__pq__").cast("array<int>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes0 == codes2, "rebuild must carry every code verbatim")
    val full0 = IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5, nprobe = 9999)
    val full2 = IvfIndex.searchTopK(s, path2, q, "vec_id", "emb", k = 5, nprobe = 9999)
    assert(resultSet(full0) == resultSet(full2),
      "full-probe PQ serving must be identical across a rebuild (codes + codebooks carried)")
    // the rank encoding and the declared-shape sidecar carry across
    // the rebuild with the frozen codebooks (r17)
    assert(re.schema("__pq__").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.ByteType,
      "rebuild must preserve the tinyint rank encoding")
    val meta2 = s.read.parquet(s"$path2/_pq_meta").head()
    assert((meta2.getInt(0), meta2.getInt(1), meta2.getInt(2)) == ((4, 8, 16)),
      "rebuild must carry the _pq_meta sidecar")
  }

  test("residual PQ store (IVFADC): serves pqTopK(residual) exactly; maintenance keeps cell/code units bound (r17)") {
    val s = spark
    val path = tempPath("pqres")
    IvfIndex.buildPq(emb, "vec_id", "emb", path, dims = 64, m = 4, ksub = 8,
      iters = 1, nlist = 16, residual = true)
    // meta declares the residual mode; codes are tinyint at ksub=8
    val meta = s.read.parquet(s"$path/_pq_meta").select("residual").head()
    assert(meta.getBoolean(0), "_pq_meta must declare residual = true")
    // serving parity with the in-memory IVFADC operator
    val q = emb.where(col("vec_id") % 50 === 0)
    val stored = IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5, nprobe = 4)
    val mem = Similarity.pqTopK(emb, q, "vec_id", "emb", k = 5, dims = 64,
      m = 4, ksub = 8, iters = 1, nlist = 16, nprobe = 4, residual = true)
    assert(resultSet(stored) == resultSet(mem),
      "residual stored serving must reproduce pqTopK(residual) bit-for-bit")
    // append re-derives residual codes from ORIGINAL floats under the
    // frozen quantizers: same vector => same cell, codes, and norm
    val pair = s.read.parquet(path)
      .select(col("cent_id").cast("long"), col("vec_id")).limit(1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    IvfIndex.appendBatch(s, path,
      emb.where(col("vec_id") === pair._2).select(lit(77771L).as("vec_id"), col("emb")),
      "vec_id", "emb")
    val clone = s.read.parquet(path)
      .where(col("vec_id").isin(pair._2, 77771L))
      .select(col("cent_id").cast("long"), col("__pq__").cast("array<int>"), col("__xn__"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2))).distinct
    assert(clone.length == 1,
      s"the same vector must append to the same (cell, codes, norm) unit, got $clone")
    // rebuild is compaction-only: cells, codes, centroids all verbatim
    val path2 = tempPath("pqres-rebuilt")
    IvfIndex.rebuild(s, path, path2, "vec_id", "emb")
    def unitMap(p: String) = s.read.parquet(p)
      .select(col("vec_id"), col("cent_id").cast("long"), col("__pq__").cast("array<int>"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Int](2)))).toMap
    assert(unitMap(path) == unitMap(path2),
      "residual rebuild must carry every (cell, codes) unit verbatim")
    val stored2 = IvfIndex.searchTopK(s, path2, q, "vec_id", "emb", k = 5, nprobe = 4)
    assert(resultSet(stored2) == resultSet(
      IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5, nprobe = 4)),
      "serving must be identical across a residual rebuild")
    // retraining refusals: new centroids on rebuild, drift maintenance
    val exR = intercept[IllegalArgumentException] {
      IvfIndex.rebuild(s, path, tempPath("pqres-retrain"), "vec_id", "emb",
        centroids = Some(Similarity.kmeansCentroids(emb, "vec_id", "emb", k = 8, iters = 1)))
    }
    assert(exR.getMessage.contains("residual"), s"unexpected: ${exR.getMessage}")
  }

  test("PQ rank width dispatches on ksub: tinyint(-128) through 256 codewords, smallint above (r17)") {
    val s = spark
    import org.apache.spark.sql.types.{ArrayType, ByteType, ShortType}
    // m=8 / ksub=256 — the realistic byte-code PQ setting the -128
    // offset exists for (ranks 0..255 don't fit signed tinyint raw).
    // iters=0 keeps all 256 init codewords over the 500-row corpus
    // (one Lloyd round over 500 points could empty a cluster and
    // trip the fail-fast below, which is its own test).
    val path = tempPath("pq256")
    IvfIndex.buildPq(emb, "vec_id", "emb", path, dims = 64, m = 8, ksub = 256,
      iters = 0, nlist = 16)
    val layout = s.read.parquet(path)
    assert(layout.schema("__pq__").dataType.asInstanceOf[ArrayType].elementType == ByteType)
    // stored values are rank - 128: full-range check plus decode sanity
    val mn = layout.select(min(element_at(col("__pq__"), 1).cast("int"))).head().getInt(0)
    assert(mn >= -128, "offset ranks must start at -128")
    // serving decodes the offset and reproduces the in-memory operator
    val q = emb.where(col("vec_id") % 50 === 0)
    val stored = IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5, nprobe = 4)
    val mem = Similarity.pqTopK(emb, q, "vec_id", "emb", k = 5, dims = 64,
      m = 8, ksub = 256, iters = 0, nlist = 16, nprobe = 4)
    assert(resultSet(stored) == resultSet(mem),
      "tinyint-rank serving must reproduce pqTopK bit-for-bit at m=8/ksub=256")
    // a re-encoded append conforms to the store's tinyint width
    val id0 = emb.select("vec_id").head().getLong(0)
    IvfIndex.appendBatch(s, path,
      emb.where(col("vec_id") === id0).select(lit(99991L).as("vec_id"), col("emb")),
      "vec_id", "emb")
    assert(s.read.parquet(path).schema("__pq__")
      .dataType.asInstanceOf[ArrayType].elementType == ByteType,
      "append must not widen the stored rank type")
    // ksub above 256 keeps the smallint rank layout
    val pathWide = tempPath("pq300")
    IvfIndex.buildPq(emb, "vec_id", "emb", pathWide, dims = 64, m = 4, ksub = 300,
      iters = 0, nlist = 16)
    assert(s.read.parquet(pathWide).schema("__pq__")
      .dataType.asInstanceOf[ArrayType].elementType == ShortType,
      "ksub > 256 must store smallint ranks")
  }

  test("filtered ANN: predicate applies to candidates (k fills), payload survives append and rebuild (r17)") {
    val s = spark
    val e = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"), col("label"))
    val path = tempPath("filtered")
    IvfIndex.build(e, "vec_id", "emb", path, nlist = 8, payloadCols = Seq("label"))
    val q = e.where(col("vec_id") % 50 === 0).select("vec_id", "emb")
    val res = IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5,
      nprobe = 8, filter = Some(col("label") === 3))
    val rows = res.collect()
    // every result satisfies the predicate
    val labelOf = e.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.forall(r => labelOf(r.getLong(1)) == 3), "results must honor the filter")
    // k FILLS from matching rows: at full probe every query with >= k
    // matching candidates returns exactly k (post-filtering a plain
    // top-k would return fewer whenever other labels crowd the window)
    val matching = e.where(col("label") === 3).count()
    assert(matching >= 5)
    val perQuery = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perQuery.values.forall(_ == 5),
      s"full-probe filtered search must fill k, got ${perQuery.toMap}")
    // unfiltered serving on a payload layout is unchanged by payload
    val plain = IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5, nprobe = 8)
    val noPayloadPath = tempPath("nopayload")
    IvfIndex.build(e.select("vec_id", "emb"), "vec_id", "emb", noPayloadPath, nlist = 8)
    assert(resultSet(plain) == resultSet(
      IvfIndex.searchTopK(s, noPayloadPath, q, "vec_id", "emb", k = 5, nprobe = 8)),
      "payload must not change unfiltered serving")
    // payload survives an append (batch must carry it) and a rebuild
    val donor = e.orderBy("vec_id").limit(1)
    IvfIndex.appendBatch(s, path,
      donor.select(lit(88881L).as("vec_id"), col("emb"), col("label")), "vec_id", "emb")
    assert(s.read.parquet(path).where(col("vec_id") === 88881L)
      .select("label").head().getInt(0) == donor.select("label").head().getInt(0))
    val exMissing = intercept[IllegalArgumentException] {
      IvfIndex.appendBatch(s, path,
        donor.select(lit(88882L).as("vec_id"), col("emb")), "vec_id", "emb")
    }
    assert(exMissing.getMessage.contains("payload"), s"unexpected: ${exMissing.getMessage}")
    val path2 = tempPath("filtered-rebuilt")
    IvfIndex.rebuild(s, path, path2, "vec_id", "emb", nlist = 8)
    assert(s.read.parquet(path2).columns.contains("label"),
      "rebuild must carry payload columns")
    val res2 = IvfIndex.searchTopK(s, path2, q, "vec_id", "emb", k = 5,
      nprobe = 8, filter = Some(col("label") === 3))
    assert(resultSet(res2) == resultSet(
      IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5,
        nprobe = 8, filter = Some(col("label") === 3))),
      "filtered serving must be identical across a rebuild")
    SparkEntry.runPendingCleanups()
  }

  test("filtered ANN over COMPRESSED layouts: payload in PQ cells, predicate pushed, survives append/rebuild (r18)") {
    val s = spark
    val e = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"), col("label"))
    val q = e.where(col("vec_id") % 50 === 0).select("vec_id", "emb")
    val labelOf = e.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def checkStore(path: String, residual: Boolean): Unit = {
      IvfIndex.buildPq(e, "vec_id", "emb", path, dims = 64, m = 4, ksub = 8,
        iters = 1, nlist = 8, residual = residual, payloadCols = Seq("label"))
      assert(s.read.parquet(path).columns.contains("label"),
        "PQ cells must store the payload column")
      val res = IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5,
        nprobe = 8, filter = Some(col("label") === 3)).collect()
      assert(res.forall(r => labelOf(r.getLong(1)) == 3), "results must honor the filter")
      // k FILLS from matching rows at full probe (post-filtering a
      // plain top-k would under-fill whenever other labels crowd it)
      assert(res.groupBy(_.getLong(0)).values.forall(_.length == 5),
        "full-probe filtered PQ search must fill k")
      // unfiltered serving is unchanged by payload: same ADC results
      // as a payload-less twin of the same fit
      val twin = path + "-twin"
      IvfIndex.buildPq(e.select("vec_id", "emb"), "vec_id", "emb", twin,
        dims = 64, m = 4, ksub = 8, iters = 1, nlist = 8, residual = residual)
      assert(resultSet(IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5, nprobe = 8)) ==
        resultSet(IvfIndex.searchTopK(s, twin, q, "vec_id", "emb", k = 5, nprobe = 8)),
        "payload must not change unfiltered PQ serving")
      // payload survives an append (batch must carry it; codes encode
      // under the frozen codebooks either way)
      val donor = e.orderBy("vec_id").limit(1)
      IvfIndex.appendBatch(s, path,
        donor.select(lit(77771L).as("vec_id"), col("emb"), lit(3).as("label")),
        "vec_id", "emb")
      assert(s.read.parquet(path).where(col("vec_id") === 77771L)
        .select("label").head().getInt(0) == 3, "append must store the payload")
      val exMissing = intercept[IllegalArgumentException] {
        IvfIndex.appendBatch(s, path,
          donor.select(lit(77772L).as("vec_id"), col("emb")), "vec_id", "emb")
      }
      assert(exMissing.getMessage.contains("payload"), s"unexpected: ${exMissing.getMessage}")
      // rebuild carries payload verbatim in BOTH modes (compaction for
      // residual, coarse retrain for raw) and filtered serving is
      // identical across the generation
      val path2 = path + "-rebuilt"
      IvfIndex.rebuild(s, path, path2, "vec_id", "emb", nlist = 8)
      assert(s.read.parquet(path2).columns.contains("label"),
        "rebuild must carry PQ payload columns")
      assert(resultSet(IvfIndex.searchTopK(s, path2, q, "vec_id", "emb", k = 5,
        nprobe = 8, filter = Some(col("label") === 3))) ==
        resultSet(IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5,
          nprobe = 8, filter = Some(col("label") === 3))),
        "filtered PQ serving must be identical across a rebuild")
    }
    checkStore(tempPath("fpq-raw"), residual = false)
    checkStore(tempPath("fpq-resid"), residual = true)
    SparkEntry.runPendingCleanups()
  }

  test("_layout declares vector and payload: keymap version hashes payload; ambiguous array payload keeps a real version (r18)") {
    val s = spark
    // a payload column that is ITSELF array<double> — the shape that
    // made the r17 heuristic fall back to a null version (the vector
    // was no longer the unique array<double> content column)
    val e = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"),
        col("label"), slice(col("embedding").cast("array<double>"), 1, 2).as("aux"))
    val path = tempPath("layoutmeta")
    IvfIndex.build(e, "vec_id", "emb", path, nlist = 8, payloadCols = Seq("label", "aux"))
    def verOf(id: Long): Option[Long] = {
      val r = s.read.parquet(s"$path/_keymap").where(col("vec_id") === id)
        .select("__ver__").head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    val id0 = e.orderBy("vec_id").select("vec_id").head().getLong(0)
    val v0 = verOf(id0)
    assert(v0.isDefined,
      "declared _layout meta must give a real version even when payload is array<double>")
    // PAYLOAD-ONLY re-ingest (same vector, changed label) must change
    // the version — this is what makes a payload change visible to
    // catchUpDiff across a generation flip (ADVICE r17 #1)
    val donor = e.where(col("vec_id") === id0)
    IvfIndex.appendBatch(s, path,
      donor.select(col("vec_id"), col("emb"), lit(9999).as("label"), col("aux")),
      "vec_id", "emb")
    val v1 = verOf(id0)
    assert(v1.isDefined && v1 != v0,
      s"payload-only change must flip the keymap version, got $v0 -> $v1")
    // same vector AND same payload re-ingested => same version (the
    // hash is content-derived, stable across generations)
    IvfIndex.appendBatch(s, path,
      donor.select(col("vec_id"), col("emb"), lit(9999).as("label"), col("aux")),
      "vec_id", "emb")
    assert(verOf(id0) == v1, "identical content must rehash to the identical version")
    // LEGACY pin: with no _layout sidecar the pre-r18 heuristic rules,
    // and two array<double> content columns mean an UNKNOWN version
    // (null) — the documented id-only catch-up fallback, never a wrong
    // guess between the vector and the payload array
    val legacy = tempPath("layoutmeta-legacy")
    IvfIndex.build(e, "vec_id", "emb", legacy, nlist = 8, payloadCols = Seq("label", "aux"))
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$legacy/_layout"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$legacy/_keymap"), true)
    IvfIndex.stats(s, legacy, "vec_id") // re-derives the keymap, now metaless
    assert(s.read.parquet(s"$legacy/_keymap").where(col("__ver__").isNotNull).count() == 0,
      "a metaless store with ambiguous content columns must keep the null-version contract")
    SparkEntry.runPendingCleanups()
  }

  test("payload version hash survives null-shifts: nulls hash via sentinel, never skipped (r18)") {
    // Spark's xxhash64 SKIPS null children (the running hash passes
    // through unchanged), so without a sentinel a (lang=null,
    // lic="en") row and its (lang="en", lic=null) re-ingest hash to
    // the same __ver__ — a payload-only change catch-up would miss
    val s = spark; import s.implicits._
    val corpus = Seq(
      (1L, Array.tabulate(4)(_ * 0.5 + 0.1), Option("en"), Option.empty[String]),
      (2L, Array.tabulate(4)(d => 1.0 - d * 0.2), Option("de"), Option("mit")))
      .toDF("id", "v", "lang", "lic")
    val path = tempPath("nullver")
    IvfIndex.build(corpus, "id", "v", path, nlist = 2, payloadCols = Seq("lang", "lic"))
    def ver(id: Long): Long = s.read.parquet(s"$path/_keymap")
      .where(col("id") === id).select("__ver__").head().getLong(0)
    val v0 = ver(1L) // (lang="en", lic=null)
    IvfIndex.appendBatch(s, path,
      corpus.where(col("id") === 1L)
        .select(col("id"), col("v"), lit(null).cast("string").as("lang"), lit("en").as("lic")),
      "id", "v")
    assert(ver(1L) != v0,
      "a null-shift across payload columns with the same non-null sequence must flip the version")
    SparkEntry.runPendingCleanups()
  }

  test("filtered recall accounting + selectivity-aware probing (r18)") {
    val s = spark
    val e = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"), col("label"))
    val q = e.where(col("vec_id") % 50 === 0).select("vec_id", "emb")
    val path = tempPath("selprobe")
    IvfIndex.build(e, "vec_id", "emb", path, nlist = 16, payloadCols = Seq("label"))
    val pred = col("label") === 3
    // recallReport(filter): truth is brute force over the FILTERED
    // corpus, serving is the filtered search — the frontier an
    // operator sizes nprobe from. Full probe is exact (float store).
    val rep = IvfIndex.recallReport(s, path, q, "vec_id", "emb", k = 5,
      nprobes = Seq(2, 16), filter = Some(pred))
      .collect().map(r => r.getInt(1) -> r.getDouble(4)).toMap
    assert(rep(16) == 1.0, s"full-probe filtered recall must be exact, got ${rep(16)}")
    assert(rep(2) <= rep(16), "filtered recall must not decrease with nprobe")
    val unfiltered = IvfIndex.recallReport(s, path, q, "vec_id", "emb", k = 5,
      nprobes = Seq(2)).head().getDouble(4)
    // the selectivity-induced drop this surface exists to SHOW: at
    // ~10% selectivity the k nearest matching rows scatter across
    // more cells than the k nearest overall
    assert(rep(2) <= unfiltered + 1e-12,
      s"a selective filter cannot raise fixed-nprobe recall: filtered ${rep(2)} vs $unfiltered")
    // adaptive probing: nprobe widens by measured selectivity
    // (~0.1 here => 2/0.1 = 20, clamped to nlist = full probe), so
    // filtered recall at the AUTO-widened probe matches the exact
    // answer without hand-tuning nprobe per predicate
    val truth = Similarity.bruteForceTopK(e.where(pred), q, "vec_id", "emb", k = 5)
      .select("query_id", "neighbor_id")
    val adaptive = IvfIndex.searchTopKAdaptive(s, path, q, "vec_id", "emb", k = 5,
      nprobe = 2, filter = Some(pred)).select("query_id", "neighbor_id")
    val total = truth.count()
    val hits = truth.join(adaptive, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(total > 0 && hits == total,
      s"auto-widened filtered search must recover brute-force recall, got $hits/$total")
    // without a filter the adaptive wrapper IS searchTopK
    assert(resultSet(IvfIndex.searchTopKAdaptive(s, path, q, "vec_id", "emb", k = 5, nprobe = 4)) ==
      resultSet(IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5, nprobe = 4)))
    SparkEntry.runPendingCleanups()
  }

  test("stored-index recallReport: float store equals the in-memory fitted report; compressed stores expose quantization loss (r17)") {
    val s = spark
    val q = emb.where(col("vec_id") % 50 === 0)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4))).toSet
    // float store: serving is bit-identical to ivfTopK under the
    // stored centroids, so the stored report must EQUAL the in-memory
    // fitted report over the same centroid frame
    val path = tempPath("recall-float")
    IvfIndex.build(emb, "vec_id", "emb", path, nlist = 16)
    val storedRep = IvfIndex.recallReport(s, path, q, "vec_id", "emb", k = 5,
      nprobes = Seq(2, 4, 16))
    val memRep = Similarity.recallReportFitted(emb, q, "vec_id", "emb", k = 5,
      nprobes = Seq(2, 4, 16),
      centroids = s.read.parquet(s"$path/_centroids"))
    assert(rowsOf(storedRep) == rowsOf(memRep),
      "float-store recall frontier must equal the in-memory fitted report")
    // full probe of a float store IS brute force => recall exactly 1
    assert(rowsOf(storedRep).exists(r => r._2 == 16 && r._5 == 1.0))
    // a PQ store measured against the ORIGINAL floats exposes the
    // quantization loss: full-probe recall can sit below 1.0, which
    // is the number a caller trading bytes for recall actually needs
    val pathPq = tempPath("recall-pq")
    IvfIndex.buildPq(emb, "vec_id", "emb", pathPq, dims = 64, m = 4, ksub = 8,
      iters = 1, nlist = 16, residual = true)
    val pqRep = IvfIndex.recallReport(s, pathPq, q, "vec_id", "emb", k = 5,
      nprobes = Seq(4, 16), truthCorpus = Some(emb))
      .collect().map(r => r.getInt(1) -> r.getDouble(4)).toMap
    assert(pqRep(4) <= pqRep(16) + 1e-12, "recall must not decrease with nprobe")
    // 12 bits/vector over 64 near-random dims loses most neighbors —
    // the point is the report SHOWS that (the in-memory float report
    // would claim 1.0 at full probe), so a caller sizes m/ksub from
    // measured loss instead of folklore
    assert(pqRep(16) > 0.0 && pqRep(16) < 1.0,
      s"full-probe PQ recall vs original floats must expose the quantization loss, got ${pqRep(16)}")
    // WITHOUT truthCorpus the report measures probing loss only: ADC
    // is EXACT over the store's own reconstruction (numerator
    // decomposes dot(q, x̂) exactly; the stored norm is |x̂|), so a
    // full probe recalls 1.0 against the reconstruction-based truth —
    // for the residual layout this also pins that pqReconRows adds
    // the cell centroid back (r17: r̂ alone would shred the truth)
    val pqSelf = IvfIndex.recallReport(s, pathPq, q, "vec_id", "emb", k = 5,
      nprobes = Seq(16)).head().getDouble(4)
    assert(pqSelf == 1.0,
      s"full-probe ADC must be exact against the store's own reconstruction, got $pqSelf")
    val pathPqRaw = tempPath("recall-pq-raw")
    IvfIndex.buildPq(emb, "vec_id", "emb", pathPqRaw, dims = 64, m = 4, ksub = 8,
      iters = 1, nlist = 16)
    val pqSelfRaw = IvfIndex.recallReport(s, pathPqRaw, q, "vec_id", "emb", k = 5,
      nprobes = Seq(16)).head().getDouble(4)
    assert(pqSelfRaw == 1.0,
      s"raw-PQ full-probe ADC must be exact against its reconstruction, got $pqSelfRaw")
    SparkEntry.runPendingCleanups()
  }

  test("buildPq fails fast when Lloyd cannot keep ksub codewords per subspace (r17)") {
    // 500 corpus rows cannot seed 600 codewords: the init draw comes
    // up short, and silent unequal counts would mis-address the flat
    // ADC LUT (s*ksub + rank) in every downstream scorer
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.buildPq(emb, "vec_id", "emb", tempPath("pqfail"),
        dims = 64, m = 4, ksub = 600, iters = 0, nlist = 16)
    }
    assert(ex.getMessage.contains("codeword counts"), s"unexpected: ${ex.getMessage}")
  }

  test("PQ codebook sidecar: __ci__ is the SQL row_number rank for long and string ids, raw and residual") {
    import org.apache.spark.sql.expressions.Window
    val byType = Seq("long" -> emb,
      "string" -> emb.select(col("vec_id").cast("string").as("vec_id"), col("emb")))
    for ((t, corpus) <- byType; residual <- Seq(false, true)) {
      val path = tempPath(s"pqcb-$t-$residual")
      IvfIndex.buildPq(corpus, "vec_id", "emb", path, dims = 64, m = 4, ksub = 8,
        iters = 1, nlist = 16, residual = residual)
      val cb = spark.read.parquet(s"$path/_codebooks")
        .select(col("sub_id"), col("cent_id"), col("__ci__"))
      assert(cb.schema("cent_id").dataType == corpus.schema("vec_id").dataType,
        s"$t/$residual: the sidecar keeps the draw-id type")
      val bad = cb
        .withColumn("__rn__", row_number().over(Window.partitionBy(col("sub_id")).orderBy(col("cent_id"))) - 1)
        .where(col("__ci__") =!= col("__rn__"))
      assert(cb.count() == 32L && bad.isEmpty,
        s"$t/$residual: stored __ci__ differs from the SQL rank: ${bad.collect().mkString(", ")}")
      // 500 corpus rows cannot seed 600 codewords per subspace
      val ex = intercept[IllegalArgumentException] {
        IvfIndex.buildPq(corpus, "vec_id", "emb", tempPath(s"pqcb-fail-$t-$residual"),
          dims = 64, m = 4, ksub = 600, iters = 0, nlist = 16, residual = residual)
      }
      assert(ex.getMessage.contains("Lloyd training left unequal codeword counts per subspace"),
        s"unexpected: ${ex.getMessage}")
    }
    SparkEntry.runPendingCleanups()
  }

  test("PQ managed lifecycle: catch-up carries codes verbatim so the drain gate holds across the flip (r16)") {
    val s = spark
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-pqmng").toString + "/root"
    val gen1 = IvfIndex.managedInitPq(emb.where(col("vec_id") < 400), "vec_id", "emb", root,
      dims = 64, m = 4, ksub = 8, iters = 1, nlist = 8)
    val next = IvfIndex.managedMaintain(s, root, "vec_id", "emb",
      maxSkew = 0.0, nlist = 8, publish = false).get
    // late arrivals to the OLD generation while the rebuild sat
    // pending: a brand-new id and a changed-vector re-ingest — if the
    // keymap version hash were unstable across PQ generations, the
    // drain gate would refuse this publish forever
    IvfIndex.appendBatch(s, gen1, emb.where(col("vec_id") === 450), "vec_id", "emb")
    IvfIndex.appendBatch(s, gen1,
      emb.where(col("vec_id") === 460).select(lit(5L).as("vec_id"), col("emb")), "vec_id", "emb")
    assert(IvfIndex.managedFinishPending(s, root, "vec_id", "emb").contains(next))
    assert(IvfIndex.managedCurrent(s, root) == next)
    // both late writes followed, codes verbatim from the old generation
    val oldCodes = s.read.parquet(gen1).select(col("vec_id"), col("__pq__").cast("array<int>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val newCodes = s.read.parquet(next).select(col("vec_id"), col("__pq__").cast("array<int>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(newCodes.keySet == oldCodes.keySet)
    assert(newCodes == oldCodes, "every code must cross the flip byte-identically")
  }

  test("AutoNlist derives max(16, ceil(sqrt(n))) cells and matches the in-memory operator") {
    // 500 vectors at sf0.001 -> ceil(sqrt(n over the NONZERO set));
    // pin the arithmetic itself plus the stored centroid count
    val n = emb.where(
      aggregate(col("emb"), lit(0.0), (a, x) => a + x * x) > 0).count()
    val want = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    assert(Similarity.autoNlist(n) == want)
    assert(Similarity.autoNlist(200000L) == 448) // the sf10 sizing
    assert(Similarity.autoNlist(4L) == 16)       // tiny-corpus floor
    val path = tempPath("auto")
    IvfIndex.build(emb, "vec_id", "emb", path, nlist = Similarity.AutoNlist)
    val stored = spark.read.parquet(path + "/_centroids").count()
    assert(stored == want, s"derived nlist: want $want centroids on disk, got $stored")
    // parity: the stored auto-sized index serves exactly what the
    // in-memory operator computes at the same derived nlist
    val q = emb.where(col("vec_id") % 50 === 0)
    val viaStore = IvfIndex.searchTopK(spark, path, q, "vec_id", "emb", k = 5, nprobe = 4)
    val mem = Similarity.ivfTopK(emb, q, "vec_id", "emb", k = 5,
      nlist = Similarity.AutoNlist, nprobe = 4)
    assert(resultSet(viaStore) == resultSet(mem))
  }

  // descend through AQE wrappers — executedPlan.collect stops at
  // the adaptive boundary
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => allScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(q.plan)
    case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(allScans)
  }

  private def assertPrunedTo(out: DataFrame, pathTag: String, nCells: Int): Unit = {
    out.queryExecution.toRdd.count()
    val scans = allScans(out.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(pathTag)))
    assert(scans.nonEmpty, "no file scan over the index found")
    val cellScan = scans.find(_.metadata.get("PartitionFilters").exists(_.contains("cent_id")))
    assert(cellScan.isDefined,
      s"index scan carries no cent_id PartitionFilters: ${scans.map(_.metadata.get("PartitionFilters"))}")
    assert(cellScan.get.selectedPartitions.partitionCount == nCells,
      s"expected $nCells probed cell partitions, scanned ${cellScan.get.selectedPartitions.partitionCount}")
  }

  test("the serving scan partition-prunes to the probed cells") {
    val path = tempPath("prune")
    IvfIndex.build(emb, "vec_id", "emb", path, nlist = 16)
    // a single query with nprobe=2 probes exactly 2 of 16 cells
    val q = emb.orderBy("vec_id").limit(1)
    assertPrunedTo(
      IvfIndex.searchTopK(spark, path, q, "vec_id", "emb", k = 3, nprobe = 2),
      "graft-ivf-prune", nCells = 2)
  }

  test("the PQ serving scan partition-prunes to the probed cells too (r16)") {
    val path = tempPath("pqprune")
    IvfIndex.buildPq(emb, "vec_id", "emb", path, dims = 64, m = 4, ksub = 8, iters = 1, nlist = 16)
    val q = emb.orderBy("vec_id").limit(1)
    assertPrunedTo(
      IvfIndex.searchTopK(spark, path, q, "vec_id", "emb", k = 3, nprobe = 2),
      "graft-ivf-pqprune", nCells = 2)
  }

  test("appendBatch upserts under frozen centroids; re-append is idempotent") {
    val path = tempPath("append")
    val a = emb.where(col("vec_id") % 2 === 0)
    val b = emb.where(col("vec_id") % 2 =!= 0)
    IvfIndex.build(a, "vec_id", "emb", path, nlist = 8)
    IvfIndex.appendBatch(spark, path, b, "vec_id", "emb")
    val ids = spark.read.parquet(path).select("vec_id")
      .collect().map(_.getLong(0)).sorted
    val all = emb.where(Similarity.dot(col("emb"), col("emb")) > 0)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(all), "every (non-zero) id exactly once after append")
    val before = spark.read.parquet(path).collect().map(_.toString).sorted
    IvfIndex.appendBatch(spark, path, b, "vec_id", "emb")
    val after = spark.read.parquet(path).collect().map(_.toString).sorted
    assert(before.sameElements(after), "re-appending the same batch must rewrite in place")
    // appended vectors actually serve: a query must see odd-id neighbors
    val q = emb.where(col("vec_id") % 50 === 0).limit(5)
    val res = IvfIndex.searchTopK(spark, path, q, "vec_id", "emb", k = 5, nprobe = 8)
    assert(res.where(col("neighbor_id") % 2 =!= 0).count() > 0)
  }

  test("appendBatch with a CHANGED vector moves the key and clears its stale cell row") {
    val path = tempPath("move")
    IvfIndex.build(emb, "vec_id", "emb", path, nlist = 8)
    val layout0 = spark.read.parquet(path)
      .select(col("cent_id").cast("long"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (c1, id1) = layout0.head
    val (c2, id2) = layout0.find(_._1 != c1).get
    // re-ingest id1 carrying id2's vector: frozen centroids assign the
    // VECTOR, so id1 must land in id2's cell — and its old row in c1
    // must be tombstoned, or searches return duplicate/stale neighbors
    val batch = emb.where(col("vec_id") === id2)
      .select(lit(id1).as("vec_id"), col("emb"))
    IvfIndex.appendBatch(spark, path, batch, "vec_id", "emb")
    val after = spark.read.parquet(path).where(col("vec_id") === id1)
      .select(col("cent_id").cast("long")).collect().map(_.getLong(0))
    assert(after.length == 1, s"id $id1 must appear exactly once, got ${after.toSeq}")
    assert(after.head == c2, s"changed vector must move id $id1 from cell $c1 to $c2")
    // serving sees each neighbor at most once across all probed cells
    val q = emb.where(col("vec_id") === id2)
    val res = IvfIndex.searchTopK(spark, path, q, "vec_id", "emb", k = 50, nprobe = 8)
    val dups = res.groupBy("query_id", "neighbor_id").count().where(col("count") > 1).count()
    assert(dups == 0, "duplicate neighbors served after a moved-key append")
  }

  test("appendBatch is a single walk: each touched cell swaps exactly ONCE (VERDICT r12 #5)") {
    val path = tempPath("onewalk")
    IvfIndex.build(emb, "vec_id", "emb", path, nlist = 8)
    val layout0 = spark.read.parquet(path)
      .select(col("cent_id").cast("long"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (c1, id1) = layout0.head
    val (c2, id2) = layout0.find(_._1 != c1).get
    // a moved key touches BOTH its old cell (tombstone) and its new
    // cell (landing) — the old deleteKeys-then-upsert pair swapped
    // the layout twice; the relocating upsert must swap each cell
    // partition at most once, in one staged rewrite
    val batch = emb.where(col("vec_id") === id2)
      .select(lit(id1).as("vec_id"), col("emb"))
    val swaps = scala.collection.mutable.ArrayBuffer.empty[String]
    val old = graft.sources.Sink.midSwapHook
    graft.sources.Sink.midSwapHook = rel => swaps.synchronized { swaps += rel; () }
    try IvfIndex.appendBatch(spark, path, batch, "vec_id", "emb")
    finally graft.sources.Sink.midSwapHook = old
    val cellSwaps = swaps.filter(_.startsWith("cent_id="))
    assert(cellSwaps.sorted == Seq(s"cent_id=$c1", s"cent_id=$c2").sorted,
      s"expected one swap per touched cell (old $c1 + new $c2), saw $cellSwaps")
    // and the move still happened correctly
    val after = spark.read.parquet(path).where(col("vec_id") === id1)
      .select(col("cent_id").cast("long")).collect().map(_.getLong(0))
    assert(after.toSeq == Seq(c2))
  }

  test("appendBatch rewrites only the touched cells; every other cell is byte-stable") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val path = tempPath("touch")
    IvfIndex.build(emb, "vec_id", "emb", path, nlist = 8)
    def cellFiles(): Map[String, Long] =
      Files.walk(Paths.get(path)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && p.toString.contains("cent_id="))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
    val before = cellFiles()
    // a single new id carrying an EXISTING row's vector lands in
    // exactly that row's cell; append cost must be that one cell (and
    // the keymap), never a corpus rewrite
    val donor = spark.read.parquet(path).orderBy("vec_id").limit(1)
      .select(col("cent_id").cast("long")).head().getLong(0)
    val batch = emb.where(col("vec_id") === donor)
      .select(lit(999999L).as("vec_id"), col("emb"))
    IvfIndex.appendBatch(spark, path, batch, "vec_id", "emb")
    val after = cellFiles()
    val touchedDirs = (before.keySet ++ after.keySet)
      .filter(f => !before.get(f).exists(t => after.get(f).contains(t)))
      .map(f => f.replaceAll(".*/(cent_id=[^/]+)/.*", "$1"))
    assert(touchedDirs == Set(s"cent_id=$donor"),
      s"append touched cells other than the batch's: $touchedDirs")
  }

  test("deleteVectors tombstones corpus AND keymap; serving + stats + move detection stay true (r14)") {
    val s = spark; import s.implicits._
    val path = tempPath("delete")
    IvfIndex.build(emb, "vec_id", "emb", path, nlist = 16)
    val before = IvfIndex.stats(s, path, "vec_id")
    val victims = emb.orderBy("vec_id").limit(20).select("vec_id")
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    val after = IvfIndex.deleteVectors(s, path, victims, "vec_id")
    // stats are truthful: exactly the victims left the sidecar
    assert(after.rows == before.rows - victimIds.size,
      s"stats rows ${after.rows} != ${before.rows} - ${victimIds.size}")
    // serving excludes deleted ids
    val q = emb.where(col("vec_id") % 50 === 0)
    val served = IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5, nprobe = 16)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(served.intersect(victimIds).isEmpty, "deleted ids must not serve")
    // corpus layout rows really gone (not just sidecar)
    val live = s.read.parquet(path).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(live.intersect(victimIds).isEmpty)
    // move detection stays correct: re-ingesting a DELETED id is a
    // plain insert (its keymap entry is gone), and lands exactly once
    val back = emb.join(victims.limit(5), Seq("vec_id"), "left_semi")
    IvfIndex.appendBatch(s, path, back, "vec_id", "emb")
    val reAdded = s.read.parquet(path)
      .join(back.select("vec_id"), Seq("vec_id"), "left_semi")
      .groupBy("vec_id").count().collect()
    assert(reAdded.length == 5 && reAdded.forall(_.getLong(1) == 1L),
      "re-ingest after delete must insert exactly once")
    val statsBack = IvfIndex.stats(s, path, "vec_id")
    assert(statsBack.rows == after.rows + 5)
  }

  test("managed lifecycle: changed-vector catch-up, drain-guarded publish, pending resume, vacuum (r15)") {
    val s = spark
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-managed15").toString + "/root"
    val gen1 = IvfIndex.managedInit(emb.where(col("vec_id") < 400), "vec_id", "emb", root, nlist = 8)
    // retrain WITHOUT publishing (maxSkew = 0 always trips): the
    // daemon-side shape — a durable _pending marker records the
    // built-and-caught-up generation
    val next = IvfIndex.managedMaintain(s, root, "vec_id", "emb",
      maxSkew = 0.0, nlist = 8, publish = false).get
    assert(IvfIndex.managedPendingGeneration(s, root).contains(next))
    assert(IvfIndex.managedCurrent(s, root) == gen1, "unpublished rebuild must not repoint serving")
    // late arrivals to the OLD generation while the rebuild sat
    // pending: one brand-NEW id, and one id RE-INGESTED WITH A
    // CHANGED VECTOR (the ADVICE case the id-only diff missed)
    IvfIndex.appendBatch(s, gen1, emb.where(col("vec_id") === 450), "vec_id", "emb")
    IvfIndex.appendBatch(s, gen1,
      emb.where(col("vec_id") === 460).select(lit(5L).as("vec_id"), col("emb")), "vec_id", "emb")
    // the guard: publishing an undrained generation must REFUSE, and
    // serving must stay on the old generation
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.managedPublish(s, root, next, "vec_id")
    }
    assert(ex.getMessage.contains("undrained"), s"unexpected message: ${ex.getMessage}")
    assert(IvfIndex.managedCurrent(s, root) == gen1)
    // finishPending = final catch-up + guarded publish: both late
    // writes follow, latest vector wins for the re-ingested key
    assert(IvfIndex.managedFinishPending(s, root, "vec_id", "emb").contains(next))
    assert(IvfIndex.managedCurrent(s, root) == next)
    assert(IvfIndex.managedPendingGeneration(s, root).isEmpty, "published marker must clear")
    val v460 = emb.where(col("vec_id") === 460).select("emb").head.getSeq[Double](0)
    val v5 = spark.read.parquet(next).where(col("vec_id") === 5L).select("emb").collect()
    assert(v5.length == 1 && v5.head.getSeq[Double](0) == v460,
      "a vector changed during the rebuild window must follow into the published generation")
    assert(spark.read.parquet(next).where(col("vec_id") === 450L).count() == 1)
    // vacuum: the superseded generation (and its markers) go; the
    // live one is untouched and keeps serving
    val deleted = IvfIndex.managedVacuum(s, root, graceMs = 0L)
    assert(deleted.exists(_.endsWith(gen1.split('/').last)), s"gen1 should be vacuumed, got $deleted")
    assert(!new java.io.File(gen1).exists, "superseded generation directory must be deleted")
    assert(IvfIndex.managedCurrent(s, root) == next)
    val q = emb.where(col("vec_id") % 50 === 0)
    assert(IvfIndex.searchTopK(s, IvfIndex.managedCurrent(s, root), q,
      "vec_id", "emb", k = 3, nprobe = 8).count() > 0)
    // a PENDING generation survives vacuum until published
    val next2 = IvfIndex.managedMaintain(s, root, "vec_id", "emb",
      maxSkew = 0.0, nlist = 8, publish = false).get
    IvfIndex.managedVacuum(s, root, graceMs = 0L)
    assert(new java.io.File(next2).exists, "pending generation must survive vacuum")
    assert(IvfIndex.managedFinishPending(s, root, "vec_id", "emb").contains(next2))
    assert(IvfIndex.managedCurrent(s, root) == next2)
  }

  test("managedMaintain with trainCentroids retrains a FITTED coarse quantizer (r16)") {
    val s = spark
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-fit16").toString + "/root"
    val corpus = emb.where(col("vec_id") < 400)
    IvfIndex.managedInit(corpus, "vec_id", "emb", root, nlist = 8)
    // the trainer sees the old generation's corpus and returns the
    // fitted frame; the rebuilt generation must store EXACTLY it
    val next = IvfIndex.managedMaintain(s, root, "vec_id", "emb",
      maxSkew = 0.0, publish = true,
      trainCentroids = Some(c => Similarity.kmeansCentroids(c, "vec_id", "emb", k = 6, iters = 1))).get
    assert(IvfIndex.managedCurrent(s, root) == next)
    val stored = s.read.parquet(s"$next/_centroids")
      .select(col("cent_id"), col("__cv__"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // training is deterministic, so re-fitting over the same corpus
    // reproduces the stored frame (corpusVectors round-trips floats)
    val expect = Similarity.kmeansCentroids(
      corpus.select(col("vec_id"), col("emb")), "vec_id", "emb", k = 6, iters = 1)
      .select(col("cent_id"), col("__cv__"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(stored.keySet == expect.keySet && stored == expect,
      "the rebuilt generation must store the fitted quantizer verbatim")
    // every id carried, cells from the fitted assignment
    assert(s.read.parquet(next).count() ==
      corpus.where(aggregate(col("emb"), lit(0.0), (a, x) => a + x * x) > 0).count())
    val q = emb.where(col("vec_id") % 100 === 0)
    assert(IvfIndex.searchTopK(s, next, q, "vec_id", "emb", k = 3, nprobe = 6).count() > 0)
    SparkEntry.runPendingCleanups()
  }

  test("managedVacuum ages unmarked dirs by their NEWEST file, so in-flight builds survive a scheduled vacuum (r16)") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val s = spark
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-vac16").toString + "/root"
    IvfIndex.managedInit(emb.where(col("vec_id") < 200), "vec_id", "emb", root, nlist = 8)
    // an IN-FLIGHT rebuild: the gen root was created minutes ago but a
    // deep partition file was written moments ago — root-mtime aging
    // would call this stale and delete a live multi-minute retrain
    val inflight = Paths.get(root, "gen-0000000000001")
    Files.createDirectories(inflight.resolve("cent_id=0"))
    Files.write(inflight.resolve("cent_id=0/part-0.parquet"), Array[Byte](1, 2, 3))
    val old = FileTime.fromMillis(System.currentTimeMillis() - 3600000L)
    Files.setLastModifiedTime(inflight, old)
    Files.setLastModifiedTime(inflight.resolve("cent_id=0"), old)
    // (the leaf file keeps its fresh mtime — that IS the signal)
    val deleted = IvfIndex.managedVacuum(s, root, graceMs = 600000L)
    assert(deleted.isEmpty && Files.exists(inflight),
      s"an unmarked dir with a fresh leaf write must survive vacuum, deleted=$deleted")
    // a FRESH unmarked dir survives even a zero grace: the r17 floor
    // (max(graceMs, UnmarkedVacuumFloorMs)) closes the TOCTOU where a
    // short reader grace could race a live build's write gap
    val deleted1b = IvfIndex.managedVacuum(s, root, graceMs = 0L)
    assert(deleted1b.isEmpty && Files.exists(inflight),
      s"the unmarked floor must protect fresh dirs from a zero-grace vacuum, deleted=$deleted1b")
    // genuinely crashed debris — every file old — is reclaimed...
    Files.setLastModifiedTime(inflight.resolve("cent_id=0/part-0.parquet"), old)
    // ...but not while skipUnmarked exempts it (the managed stream
    // passes this while its maintenance daemon is alive for the root)
    val deletedSkip = IvfIndex.managedVacuum(s, root, graceMs = 600000L, skipUnmarked = true)
    assert(deletedSkip.isEmpty && Files.exists(inflight),
      s"skipUnmarked must exempt unmarked dirs entirely, deleted=$deletedSkip")
    val deleted2 = IvfIndex.managedVacuum(s, root, graceMs = 600000L)
    assert(deleted2.exists(_.endsWith("gen-0000000000001")) && !Files.exists(inflight),
      s"stale unmarked debris must be reclaimed, deleted=$deleted2")
  }

  test("superseded pending markers clear so stacked unpublished rebuilds do not pin dirs forever (r16)") {
    val s = spark
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-pend16").toString + "/root"
    IvfIndex.managedInit(emb.where(col("vec_id") < 200), "vec_id", "emb", root, nlist = 8)
    // two unpublished rebuilds stack (maxSkew = 0 always trips): only
    // the newest is ever resumed; the older marker must not pin its
    // directory against vacuum forever
    val p1 = IvfIndex.managedMaintain(s, root, "vec_id", "emb",
      maxSkew = 0.0, nlist = 8, publish = false).get
    val p2 = IvfIndex.managedMaintain(s, root, "vec_id", "emb",
      maxSkew = 0.0, nlist = 8, publish = false).get
    assert(p1 != p2)
    assert(IvfIndex.managedPendingGeneration(s, root).contains(p2),
      "the newest pending generation wins")
    // resolving pendings demoted p1 to unmarked debris; vacuum (which
    // itself resolves nothing) reclaims it by newest-file age — the
    // r17 unmarked floor lowered to 0 here, since this freshly-written
    // dir is EXACTLY what the floor protects in production
    val oldFloor = IvfIndex.UnmarkedVacuumFloorMs
    IvfIndex.UnmarkedVacuumFloorMs = 0L
    val deleted =
      try IvfIndex.managedVacuum(s, root, graceMs = 0L)
      finally IvfIndex.UnmarkedVacuumFloorMs = oldFloor
    assert(deleted.exists(_.endsWith(p1.split('/').last)) && !new java.io.File(p1).exists,
      s"the superseded pending dir must be reclaimable, deleted=$deleted")
    assert(new java.io.File(p2).exists, "the newest pending must survive")
    // and the newest still publishes normally
    assert(IvfIndex.managedFinishPending(s, root, "vec_id", "emb").contains(p2))
    assert(IvfIndex.managedCurrent(s, root) == p2)
  }

  test("deleteVectors on the live generation mid-rebuild does not resurrect at publish (r16)") {
    val s = spark
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-managed16").toString + "/root"
    val gen1 = IvfIndex.managedInit(emb.where(col("vec_id") < 400), "vec_id", "emb", root, nlist = 8)
    // the daemon-side shape: retrain snapshots the live corpus, leaves
    // a durable _pending marker, does not publish
    val next = IvfIndex.managedMaintain(s, root, "vec_id", "emb",
      maxSkew = 0.0, nlist = 8, publish = false).get
    // deletes land on the LIVE generation while the rebuild sits
    // pending — the snapshot already copied these ids into `next`
    val victims = emb.where(col("vec_id") < 10).select("vec_id")
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    IvfIndex.deleteVectors(s, gen1, victims, "vec_id")
    assert(s.read.parquet(gen1).where(col("vec_id") < 10).count() == 0)
    // the drain gate is two-sided: the pending generation still holds
    // the deleted ids, so it is NOT drained and publish must refuse
    assert(!IvfIndex.managedDrained(s, gen1, next, "vec_id"),
      "a generation holding deleted ids must not count as drained")
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.managedPublish(s, root, next, "vec_id")
    }
    assert(ex.getMessage.contains("undrained"), s"unexpected message: ${ex.getMessage}")
    assert(IvfIndex.managedCurrent(s, root) == gen1)
    // finishPending propagates the deletes (catch-up is two-sided)
    // and then the guarded publish succeeds
    assert(IvfIndex.managedFinishPending(s, root, "vec_id", "emb").contains(next))
    assert(IvfIndex.managedCurrent(s, root) == next)
    val served = s.read.parquet(next).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(served.intersect(victimIds).isEmpty,
      s"deleted ids resurrected across the flip: ${served.intersect(victimIds)}")
    // stats stay truthful: the keymap sidecar agrees with the layout
    val st = IvfIndex.stats(s, next, "vec_id")
    assert(st.rows == s.read.parquet(next).count(),
      s"keymap rows ${st.rows} != layout rows after delete propagation")
    // and the deleted ids do not serve at full probe
    val q = emb.where(col("vec_id") % 50 === 0)
    val neighbors = IvfIndex.searchTopK(s, next, q, "vec_id", "emb", k = 1000, nprobe = 9999)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(neighbors.intersect(victimIds).isEmpty, "deleted ids must not serve after the flip")
  }

  test("drifted appends trip needsRebuild; rebuild restores balance and serving parity") {
    val s = spark; import s.implicits._
    val path = tempPath("drift")
    val base = emb.where(col("vec_id") < 400)
    IvfIndex.build(base, "vec_id", "emb", path, nlist = 8)
    // craft a batch that piles into ONE frozen cell: every vector is a
    // strong multiple of one centroid plus a per-class hot coordinate.
    // Under the frozen draw they all score highest against that
    // centroid; under a retrained draw the per-class structure splits
    val cents = spark.read.parquet(path + "/_centroids")
      .orderBy("cent_id").collect()
    val c0 = cents.head.getSeq[Double](1).toArray
    val batchRows = (1000L until 1300L).map { id =>
      val cls = (id % 4).toInt
      val v = c0.clone()
      v(cls) = v(cls) + 2.0 * math.sqrt(c0.map(x => x * x).sum)
      (id, v.toSeq)
    }
    val batch = batchRows.toDF("vec_id", "emb")
    val st = IvfIndex.appendBatch(spark, path, batch, "vec_id", "emb")
    assert(st.rows == spark.read.parquet(path).count(), "stats row count must match the layout")
    assert(st.skew > 2.0, s"drifted appends should skew the cells, got ${st.skew}")
    assert(IvfIndex.needsRebuild(spark, path, maxSkew = 2.0))
    assert(!IvfIndex.needsRebuild(spark, path, maxSkew = st.skew + 1))
    val path2 = tempPath("drift-rebuilt")
    IvfIndex.rebuild(spark, path, path2, "vec_id", "emb", nlist = 8)
    val st2 = IvfIndex.stats(spark, path2)
    assert(st2.rows == st.rows, "rebuild must carry every row over")
    assert(st2.skew < st.skew, s"rebuild should restore balance: ${st.skew} -> ${st2.skew}")
    // rebuilt serving is bit-identical to the in-memory operator over
    // the same (union) corpus — rebuild rereads the corpus from the
    // old layout, so the centroid draw matches ivfTopK's exactly
    val corpus = base.select(col("vec_id"), col("emb").cast("array<double>").as("emb"))
      .unionByName(batch.select(col("vec_id"), col("emb").cast("array<double>").as("emb")))
    val q = corpus.where(col("vec_id") % 100 === 0)
    val stored = IvfIndex.searchTopK(spark, path2, q, "vec_id", "emb", k = 5, nprobe = 4)
    val mem = Similarity.ivfTopK(corpus, q, "vec_id", "emb", k = 5, nlist = 8, nprobe = 4)
    assert(resultSet(stored) == resultSet(mem))
  }

  // ---- round 19: version scheme 2, histogram-bounded adaptive -----

  /** Downgrade a store's `_layout` sidecar to the r18 shape (no
    * `scheme` column -> read as scheme 1) and re-mint its keymap under
    * that scheme — how the never-mix pins below simulate a live r18
    * store without r18 code.
    */
  private def downgradeToScheme1(path: String): Unit = {
    val s = spark
    val row = s.read.parquet(s"$path/_layout")
      .select("vec_col", "payload_cols").collect().head
    import s.implicits._
    Seq((row.getString(0), row.getSeq[String](1)))
      .toDF("vec_col", "payload_cols")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_layout_tmp")
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_layout"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$path/_layout_tmp"),
      new org.apache.hadoop.fs.Path(s"$path/_layout"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_keymap"), true)
    IvfIndex.stats(s, path, "id") // re-derives the keymap under scheme 1
    ()
  }

  test("scheme 2: a string payload equal to the NUL char is distinct from NULL; scheme-1 stores keep their hashes (r19)") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (1L, Array.tabulate(4)(_ * 0.5 + 0.1), Option("en")),
      (2L, Array.tabulate(4)(d => 1.0 - d * 0.2), Option("mit")))
      .toDF("id", "v", "lic")
    def ver(path: String, id: Long): Long = s.read.parquet(s"$path/_keymap")
      .where(col("id") === id).select("__ver__").head().getLong(0)
    // scheme 2 (every r19+ build): NULL vs the literal NUL string are
    // structurally different (typed isNull flag), so the pathological
    // re-ingest VERDICT r18 #1 named flips the version
    val path = tempPath("nulchar")
    IvfIndex.build(corpus.where(col("id") === 1L)
      .select(col("id"), col("v"), lit(null).cast("string").as("lic"))
      .unionByName(corpus.where(col("id") === 2L)),
      "id", "v", path, nlist = 2, payloadCols = Seq("lic"))
    assert(s.read.parquet(s"$path/_layout").select("scheme").head().getInt(0) == 2,
      "new builds must declare the current version-hash scheme")
    val v0 = ver(path, 1L)
    IvfIndex.appendBatch(s, path,
      corpus.where(col("id") === 1L)
        .select(col("id"), col("v"), lit("\u0000").as("lic")), "id", "v")
    assert(ver(path, 1L) != v0,
      "scheme 2: lic=NULL -> lic=NUL-char must flip the version (typed null flag)")
    // never-mix pin: a scheme-1 sidecar (r18 store) keeps the in-band
    // sentinel hash, where that same transition is (documentedly)
    // invisible — its on-disk hashes were minted under scheme 1 and a
    // silent re-mint would un-drain any in-flight blue/green publish
    val legacy = tempPath("nulchar-legacy")
    IvfIndex.build(corpus.where(col("id") === 1L)
      .select(col("id"), col("v"), lit(null).cast("string").as("lic"))
      .unionByName(corpus.where(col("id") === 2L)),
      "id", "v", legacy, nlist = 2, payloadCols = Seq("lic"))
    downgradeToScheme1(legacy)
    val lv0 = ver(legacy, 1L)
    IvfIndex.appendBatch(s, legacy,
      corpus.where(col("id") === 1L)
        .select(col("id"), col("v"), lit("\u0000").as("lic")), "id", "v")
    assert(ver(legacy, 1L) == lv0,
      "scheme-1 stores must keep their sentinel hash verbatim (never mix schemes mid-store)")
    SparkEntry.runPendingCleanups()
  }

  test("scheme 2 folds __scale__: a uniformly rescaled re-ingest flips the int8 version; rebuild still drains (r19)") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (1L, Array(0.1, 0.2, 0.4, 0.8)),
      (2L, Array(1.0, -0.5, 0.25, -0.125)),
      (3L, Array(-0.3, 0.9, 0.6, 0.2)))
      .toDF("id", "v")
    def ver(path: String, id: Long): Long = s.read.parquet(s"$path/_keymap")
      .where(col("id") === id).select("__ver__").head().getLong(0)
    val path = tempPath("scalever")
    IvfIndex.build(corpus, "id", "v", path, nlist = 2, int8 = true)
    val v0 = ver(path, 1L)
    // 2x rescale: every code round(2v/(2s)) reproduces exactly, the
    // scale doubles — identical codes, different stored magnitude
    IvfIndex.appendBatch(s, path,
      corpus.where(col("id") === 1L)
        .select(col("id"), transform(col("v"), x => x * 2.0).as("v")), "id", "v")
    val after = s.read.parquet(path).where(col("id") === 1L)
      .select("__codes__", "__scale__").head()
    assert(ver(path, 1L) != v0,
      "scheme 2 must flip the version on a same-codes rescale (ADVICE r18 #2)")
    // the rescale really did keep the codes and move the scale — the
    // exact blind spot the scale fold closes
    val orig = Seq((1L, Array(0.1, 0.2, 0.4, 0.8))).toDF("id", "v")
    val origRow = Similarity.quantizeInt8(orig, "v", "c", "s")
      .select(col("c").cast("array<int>"), col("s")).head()
    assert(after.getSeq[Byte](0).map(_.toInt) == origRow.getSeq[Int](0),
      "codes must be identical across the rescale")
    assert(after.getDouble(1) == origRow.getDouble(1) * 2.0, "scale must double")
    // the scale fold is only safe because rebuild/catch-up now carry
    // codes AND scale VERBATIM: a rebuilt generation must be DRAINED
    // (every version equal), or blue/green publish would refuse forever
    val path2 = tempPath("scalever-rebuilt")
    IvfIndex.rebuild(s, path, path2, "id", "v", nlist = 2)
    assert(IvfIndex.managedDrained(s, path, path2, "id"),
      "an int8 rebuild must carry codes+scale verbatim so versions drain across generations")
    // legacy (scheme-1) stores keep the codes-only hash: same rescale,
    // no flip — documented, never re-minted mid-store
    val legacy = tempPath("scalever-legacy")
    IvfIndex.build(corpus, "id", "v", legacy, nlist = 2, int8 = true)
    downgradeToScheme1(legacy)
    val lv0 = ver(legacy, 1L)
    IvfIndex.appendBatch(s, legacy,
      corpus.where(col("id") === 1L)
        .select(col("id"), transform(col("v"), x => x * 2.0).as("v")), "id", "v")
    assert(ver(legacy, 1L) == lv0,
      "scheme-1 int8 stores must keep the codes-only hash (never mix schemes mid-store)")
    SparkEntry.runPendingCleanups()
  }

  test("migrateLayout: a legacy store misses a payload-only re-ingest; the migrated store catches it (r19)") {
    val s = spark
    val e = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"), col("label"))
    val path = tempPath("migrate")
    IvfIndex.build(e, "vec_id", "emb", path, nlist = 8, payloadCols = Seq("label"))
    // simulate a PRE-r18 store: no _layout sidecar at all, keymap
    // re-derived under the metaless heuristic (vector-only hash)
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_layout"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_keymap"), true)
    IvfIndex.stats(s, path, "vec_id")
    def ver(id: Long): Option[Long] = {
      val r = s.read.parquet(s"$path/_keymap").where(col("vec_id") === id)
        .select("__ver__").head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    val id0 = e.orderBy("vec_id").select("vec_id").head().getLong(0)
    val donor = e.where(col("vec_id") === id0)
    val v0 = ver(id0)
    // payload-only re-ingest: the legacy vector-only hash cannot see it
    IvfIndex.appendBatch(s, path,
      donor.select(col("vec_id"), col("emb"), lit(777).as("label")), "vec_id", "emb")
    assert(ver(id0) == v0,
      "the legacy metaless scheme is blind to a payload-only change (the migration's reason)")
    // one-shot migration: declared sidecar at the current scheme + a
    // full keymap re-mint from stored content
    IvfIndex.migrateLayout(s, path, "vec_id", "emb")
    val meta = s.read.parquet(s"$path/_layout").head()
    assert(meta.getSeq[String](meta.fieldIndex("payload_cols")) == Seq("label") &&
      meta.getInt(meta.fieldIndex("scheme")) == 2,
      s"migrate must declare the heuristic payload at the current scheme, got $meta")
    val v1 = ver(id0)
    assert(v1.isDefined, "migrated keymap must carry real versions")
    IvfIndex.appendBatch(s, path,
      donor.select(col("vec_id"), col("emb"), lit(778).as("label")), "vec_id", "emb")
    assert(ver(id0) != v1,
      "after migration a payload-only re-ingest must flip the version")
    // idempotent: re-running re-derives identical hashes
    val before = s.read.parquet(s"$path/_keymap")
      .select(col("vec_id"), col("__ver__"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    IvfIndex.migrateLayout(s, path, "vec_id", "emb")
    val afterM = s.read.parquet(s"$path/_keymap")
      .select(col("vec_id"), col("__ver__"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterM == before, "migrateLayout must be idempotent")
    SparkEntry.runPendingCleanups()
  }

  test("_cellhist stays EXACT through build, append (with a moved key), delete, and rebuild (r19)") {
    val s = spark
    val e = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"), col("label"))
    val path = tempPath("hist")
    IvfIndex.build(e, "vec_id", "emb", path, nlist = 8,
      payloadCols = Seq("label"), histogramCols = Seq("label"))
    def histOf(p: String): Map[(Long, Int), Long] = s.read.parquet(s"$p/_cellhist")
      .select(col("cent_id"), col("label"), col("__n__"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    def recount(p: String): Map[(Long, Int), Long] = s.read.parquet(p)
      .groupBy(col("cent_id").cast("long").as("c"), col("label")).count()
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(histOf(path) == recount(path), "build histogram must equal a direct recount")
    // append that MOVES a key across cells (an id re-ingested with a
    // different cell's vector): both the new cell and the vacated cell
    // must recount
    val layout0 = s.read.parquet(path)
      .select(col("cent_id").cast("long"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (c1, id1) = layout0.head
    val (_, id2) = layout0.find(_._1 != c1).get
    IvfIndex.appendBatch(s, path,
      e.where(col("vec_id") === id2).select(lit(id1).as("vec_id"), col("emb"), col("label")),
      "vec_id", "emb")
    assert(histOf(path) == recount(path), "append (with a moved key) must keep the histogram exact")
    // delete: the touched cells recount; a fully-emptied cell drops out
    IvfIndex.deleteVectors(s, path,
      e.orderBy("vec_id").limit(10).select("vec_id"), "vec_id")
    assert(histOf(path) == recount(path), "delete must keep the histogram exact")
    // rebuild (cells change under the fresh quantizer): full recount
    val path2 = tempPath("hist-rebuilt")
    IvfIndex.rebuild(s, path, path2, "vec_id", "emb", nlist = 8)
    assert(histOf(path2) == recount(path2), "rebuild must recount the histogram for the new cells")
    // residual-PQ compaction rebuild carries the histogram verbatim
    val pqPath = tempPath("hist-pqr")
    IvfIndex.buildPq(e, "vec_id", "emb", pqPath, dims = 64, m = 4, ksub = 8, iters = 1,
      nlist = 8, residual = true, payloadCols = Seq("label"), histogramCols = Seq("label"))
    assert(histOf(pqPath) == recount(pqPath))
    val pqPath2 = tempPath("hist-pqr2")
    IvfIndex.rebuild(s, pqPath, pqPath2, "vec_id", "emb")
    assert(histOf(pqPath2) == histOf(pqPath),
      "a compaction-only rebuild must carry the histogram verbatim")
    SparkEntry.runPendingCleanups()
  }

  test("histogram-bounded adaptive: absent predicate probes nothing; rare-but-present recovers brute force; maxProbe caps the scan (r19)") {
    val s = spark
    // rare label: ~1% of rows get label 99 (the regime where
    // ceil(nprobe/sel) saturates and r18 fell back to a FULL probe)
    val e = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"),
        when(col("vec_id") % 97 === 0, lit(99)).otherwise(col("label")).as("label"))
    val q = e.where(col("vec_id") % 50 === 0).select("vec_id", "emb")
    val path = tempPath("adapthist")
    IvfIndex.build(e, "vec_id", "emb", path, nlist = 16,
      payloadCols = Seq("label"), histogramCols = Seq("label"))
    // ABSENT predicate (the typo'd license string): the histogram says
    // no cell matches, so the serve probes ZERO cells and returns the
    // (exactly correct) empty result — r18 scanned every cell here
    val absent = IvfIndex.searchTopKAdaptive(s, path, q, "vec_id", "emb", k = 5,
      nprobe = 2, filter = Some(col("label") === 12345), maxProbe = 4)
    absent.queryExecution.toRdd.count()
    val absentScans = allScans(absent.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("graft-ivf-adapthist")))
    assert(absentScans.forall(_.selectedPartitions.partitionCount == 0),
      s"an absent predicate must probe zero cell partitions, got " +
        s"${absentScans.map(_.selectedPartitions.partitionCount)}")
    assert(absent.isEmpty, "an absent predicate must return the empty top-k")
    // RARE-BUT-PRESENT, uncapped: the histogram widens to every
    // match-bearing cell within the full routing, so recall recovers
    // brute force over the filtered corpus — while scanning only the
    // cells that hold label-99 rows, never all 16
    val pred = col("label") === 99
    val truth = Similarity.bruteForceTopK(e.where(pred), q, "vec_id", "emb", k = 5)
      .select("query_id", "neighbor_id")
    val adaptive = IvfIndex.searchTopKAdaptive(s, path, q, "vec_id", "emb", k = 5,
      nprobe = 2, filter = Some(pred))
    adaptive.queryExecution.toRdd.count()
    val matchCells = s.read.parquet(s"$path/_cellhist").where(col("label") === 99)
      .select("cent_id").distinct().count()
    val rareScans = allScans(adaptive.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("graft-ivf-adapthist")))
      .filter(_.metadata.get("PartitionFilters").exists(_.contains("cent_id")))
    assert(rareScans.nonEmpty && rareScans.forall(_.selectedPartitions.partitionCount <= matchCells),
      s"the rare-label serve must scan only match-bearing cells (<= $matchCells), got " +
        s"${rareScans.map(_.selectedPartitions.partitionCount)}")
    val total = truth.count()
    val hits = truth.join(adaptive.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(total > 0 && hits == total,
      s"uncapped histogram widening must recover brute-force filtered recall, got $hits/$total")
    // maxProbe CAP: the routing keeps at most `cap` cells PER QUERY,
    // so a single query's probed partition count is bounded by the
    // cap even when the selectivity estimate wants more — the
    // documented recall contract (the scan over many queries is the
    // union of their per-query sets, so the single-query plan is the
    // observable form of the bound)
    val q1 = q.orderBy("vec_id").limit(1)
    val capped = IvfIndex.searchTopKAdaptive(s, path, q1, "vec_id", "emb", k = 5,
      nprobe = 2, filter = Some(pred), maxProbe = 3)
    capped.queryExecution.toRdd.count()
    val cappedScans = allScans(capped.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("graft-ivf-adapthist")))
      .filter(_.metadata.get("PartitionFilters").exists(_.contains("cent_id")))
    assert(cappedScans.nonEmpty && cappedScans.forall(_.selectedPartitions.partitionCount <= 3),
      s"maxProbe=3 must bound the probed partitions, got " +
        s"${cappedScans.map(_.selectedPartitions.partitionCount)}")
    // a predicate outside the histogram's columns falls back to the
    // scan estimate; on a histogram-covered predicate both paths see
    // identical counts, so the neighbor sets agree
    val fallback = IvfIndex.searchTopKAdaptive(s, path, q, "vec_id", "emb", k = 5,
      nprobe = 2, filter = Some(pred && col("vec_id") >= 0))
    assert(resultSet(fallback).map(t => (t._1, t._2)) == resultSet(adaptive).map(t => (t._1, t._2)),
      "the scan-estimate fallback must agree with the histogram path on a covered predicate")
    // the histogram answers adaptive serving over COMPRESSED layouts
    // through the same dispatch: a PQ store built with histogramCols
    // serves the absent predicate with zero probed cells too
    val pqPath = tempPath("adapthist-pq")
    IvfIndex.buildPq(e, "vec_id", "emb", pqPath, dims = 64, m = 4, ksub = 8, iters = 1,
      nlist = 16, payloadCols = Seq("label"), histogramCols = Seq("label"))
    assert(IvfIndex.searchTopKAdaptive(s, pqPath, q, "vec_id", "emb", k = 5,
      nprobe = 2, filter = Some(col("label") === 12345), maxProbe = 4).isEmpty,
      "a PQ store's histogram must answer an absent predicate with the empty top-k")
    SparkEntry.runPendingCleanups()
  }

  test("REFINE layout (IVFPQ+R): triple stored next to the ranks; full-probe refine IS int8 brute force; survives append + rebuild (r19)") {
    val s = spark
    val q = emb.where(col("vec_id") % 50 === 0)
    val path = tempPath("refine")
    IvfIndex.buildPq(emb.where(col("vec_id") < 400), "vec_id", "emb", path,
      dims = 64, m = 4, ksub = 8, iters = 1, nlist = 16, refineInt8 = true)
    // layout: PQ ranks AND the int8 triple, never a float vector
    val schema = spark.read.parquet(path).schema
    assert(schema.fieldNames.toSet.intersect(
      Set("__pq__", "__xn__", "__codes__", "__scale__", "__cn__")).size == 5,
      s"refine layout must store ranks + triple, got ${schema.fieldNames.mkString(",")}")
    assert(!schema.fieldNames.contains("emb"), "refine layout must not store float vectors")
    // FULL probe + refine >= corpus: the ADC stage shortlists every
    // candidate and the re-rank is exact int8 cosine over all pairs —
    // identical to the in-memory int8 brute force, which pins the
    // refine scoring math end to end
    def int8Truth(corpus: DataFrame) =
      Similarity.int8TopK(corpus, q, "vec_id", "emb", k = 5)
    val full = IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5,
      nprobe = 16, refine = 600)
    assert(resultSet(full) == resultSet(int8Truth(emb.where(col("vec_id") < 400))),
      "full-probe refine must reproduce int8 brute force exactly")
    // refine recovers ORDERING, not COVERAGE: vs the store's own
    // (int8-reconstructed) truth, the re-ranked serve can only improve
    // on raw ADC at the same probe — and at a FULL probe (coverage
    // complete) a shortlist spanning the whole corpus must recover the
    // truth exactly, where raw ADC stays quantization-limited
    def recallAt(nprobe: Int, refine: Int): Double =
      IvfIndex.recallReport(s, path, q, "vec_id", "emb", k = 5, nprobes = Seq(nprobe),
        refine = refine).select("recall_at_k").head().getDouble(0)
    val (adc, refined) = (recallAt(4, 0), recallAt(4, 200))
    assert(refined >= adc,
      s"refined recall must not lose to raw ADC at the same probe: $adc -> $refined")
    // ~1.0, not == 1.0: the report's truth reconstructs code*scale
    // floats while the serve scores integer dots — mathematically the
    // same cosine, but a pair landing within one ulp of a 4-decimal
    // rounding boundary can round apart (exact serving parity is
    // pinned bit-for-bit against int8TopK above; this pins that the
    // re-rank ESCAPES the ADC ceiling, which sits near 0.5 here)
    val fullRefine = recallAt(16, 600)
    assert(fullRefine >= 0.95 && fullRefine >= recallAt(16, 0),
      s"a full-probe, full-shortlist refine must recover (nearly all of) the int8 truth, " +
        s"got $fullRefine")
    // appendBatch derives the batch's OWN triple (build parity): the
    // full-probe equality then holds over the grown corpus
    IvfIndex.appendBatch(s, path,
      emb.where(col("vec_id") >= 400 && col("vec_id") < 420), "vec_id", "emb")
    val afterAppend = IvfIndex.searchTopK(s, path, q, "vec_id", "emb", k = 5,
      nprobe = 16, refine = 600)
    assert(resultSet(afterAppend) == resultSet(int8Truth(emb.where(col("vec_id") < 420))),
      "append must carry the refine layout (triple derived from the batch)")
    // rebuild carries ranks AND triple verbatim; routing re-derives
    // from the higher-fidelity code*scale reconstruction
    val path2 = tempPath("refine-rebuilt")
    IvfIndex.rebuild(s, path, path2, "vec_id", "emb", nlist = 16)
    val cols2 = spark.read.parquet(path2).columns.toSet
    assert(Set("__pq__", "__codes__", "__scale__", "__cn__").subsetOf(cols2),
      "rebuild must carry the refine triple")
    val afterRebuild = IvfIndex.searchTopK(s, path2, q, "vec_id", "emb", k = 5,
      nprobe = 16, refine = 600)
    assert(resultSet(afterRebuild) == resultSet(int8Truth(emb.where(col("vec_id") < 420))),
      "rebuilt refine store must serve identically at a full probe")
    // RESIDUAL refine: the triple quantizes the FULL vector, so the
    // same full-probe equality holds on the IVFADC rung, and the
    // compaction-only rebuild carries it
    val pathR = tempPath("refine-resid")
    IvfIndex.buildPq(emb.where(col("vec_id") < 400), "vec_id", "emb", pathR,
      dims = 64, m = 4, ksub = 8, iters = 1, nlist = 16, residual = true,
      refineInt8 = true)
    val fullR = IvfIndex.searchTopK(s, pathR, q, "vec_id", "emb", k = 5,
      nprobe = 16, refine = 600)
    assert(resultSet(fullR) == resultSet(int8Truth(emb.where(col("vec_id") < 400))),
      "residual refine at a full probe must reproduce int8 brute force")
    val pathR2 = tempPath("refine-resid-rebuilt")
    IvfIndex.rebuild(s, pathR, pathR2, "vec_id", "emb")
    assert(Set("__pq__", "__codes__", "__scale__", "__cn__")
      .subsetOf(spark.read.parquet(pathR2).columns.toSet),
      "the compaction-only residual rebuild must carry the refine triple")
    assert(resultSet(IvfIndex.searchTopK(s, pathR2, q, "vec_id", "emb", k = 5,
      nprobe = 16, refine = 600)) == resultSet(fullR))
  }

  test("refine maintenance + refusals: catch-up carries the triple across the flip; non-refine layouts fail fast (r19)") {
    val s = spark
    val q = emb.where(col("vec_id") % 50 === 0)
    // managed lifecycle: late arrivals to the old generation follow
    // through catch-up WITH their triple, and the drain gate (whose
    // scheme-2 version hash now folds the triple in next to the
    // ranks) holds across the flip
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-refmng").toString + "/root"
    val gen1 = IvfIndex.managedInitPq(emb.where(col("vec_id") < 400), "vec_id", "emb", root,
      dims = 64, m = 4, ksub = 8, iters = 1, nlist = 8, refineInt8 = true)
    val next = IvfIndex.managedMaintain(s, root, "vec_id", "emb",
      maxSkew = 0.0, nlist = 8, publish = false).get
    IvfIndex.appendBatch(s, gen1, emb.where(col("vec_id") === 450), "vec_id", "emb")
    assert(IvfIndex.managedFinishPending(s, root, "vec_id", "emb").contains(next))
    def tripleOf(p: String) = s.read.parquet(p)
      .select(col("vec_id"), col("__codes__").cast("array<int>"), col("__scale__"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getDouble(2)))).toMap
    val (oldT, newT) = (tripleOf(gen1), tripleOf(next))
    assert(newT.keySet == oldT.keySet && newT == oldT,
      "the int8 triple must cross the generation flip byte-identically")
    assert(resultSet(IvfIndex.searchTopK(s, next, q, "vec_id", "emb", k = 5,
      nprobe = 8, refine = 600)) ==
      resultSet(Similarity.int8TopK(
        emb.where(col("vec_id") < 400 || col("vec_id") === 450), q, "vec_id", "emb", k = 5)),
      "the published generation must serve refined results over every caught-up row")
    // refusals: a plain PQ store has no triple; float layouts have
    // nothing finer to refine with; a sub-k pool is a contract error
    val plainPq = tempPath("refine-plainpq")
    IvfIndex.buildPq(emb, "vec_id", "emb", plainPq, dims = 64, m = 4, ksub = 8,
      iters = 1, nlist = 16)
    val e1 = intercept[IllegalArgumentException](
      IvfIndex.searchTopK(s, plainPq, q, "vec_id", "emb", k = 5, nprobe = 4, refine = 20))
    assert(e1.getMessage.contains("refineInt8"))
    val floatIdx = tempPath("refine-float")
    IvfIndex.build(emb, "vec_id", "emb", floatIdx, nlist = 16)
    val e2 = intercept[IllegalArgumentException](
      IvfIndex.searchTopK(s, floatIdx, q, "vec_id", "emb", k = 5, nprobe = 4, refine = 20))
    assert(e2.getMessage.contains("PQ layout"))
    val refIdx = tempPath("refine-subk")
    IvfIndex.buildPq(emb, "vec_id", "emb", refIdx, dims = 64, m = 4, ksub = 8,
      iters = 1, nlist = 16, refineInt8 = true)
    val e3 = intercept[IllegalArgumentException](
      IvfIndex.searchTopK(s, refIdx, q, "vec_id", "emb", k = 5, nprobe = 4, refine = 3))
    assert(e3.getMessage.contains("refine"))
  }
}
