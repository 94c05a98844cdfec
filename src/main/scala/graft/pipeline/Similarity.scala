package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (query set × corpus — fine when
  * the query side is small enough to broadcast). Scale path:
  * sign-random-projection LSH bucketing so the join only touches
  * matching buckets; recall is tuned with `planes` (bucket
  * granularity) and multi-probe is achieved by repeating with
  * different seeds and unioning.
  *
  * Per-row vector math is codegen'd Catalyst expressions over Array
  * columns — no UDF. Model frames that serving ships whole (centroid
  * sets, PQ codebooks) are collected once to the driver and ride the
  * plan as literals, and small k-means fits run on the driver
  * ([[kmeansCentroids]]).
  */
object Similarity {

  /** Dot product of two numeric-array columns — the native Catalyst
    * expression ([[graft.plans.DotProductExpr]]): a codegen'd
    * primitive loop with the same left-to-right accumulation order as
    * [[dotExpr]], so results are bit-identical FOR `array<double>`
    * inputs, while skipping the interpreted per-element lambda cost
    * every vector operator was paying (Spark never codegens HOFs).
    * Other numeric arrays are cast to `array<double>` up front (a
    * no-op for double columns), so a float-array input multiplies in
    * exact double precision here where the HOF form multiplied in
    * float first — this path can differ from [[dotExpr]] in low-order
    * bits (every in-repo caller pre-casts to double, where the two
    * are bit-identical).
    */
  def dot(a: Column, b: Column): Column =
    graft.internal.exprColumn(graft.plans.DotProductExpr(
      graft.internal.columnExpr(a.cast("array<double>")),
      graft.internal.columnExpr(b.cast("array<double>"))))

  /** [[dot]] WITHOUT the `array<double>` pre-cast — for sides that
    * are already `array<double>` or int8 code arrays
    * (`array<tinyint>`). Byte sides dot in their stored 1-byte form
    * ([[graft.plans.DotProductExpr]] dispatches per element type;
    * exact — products ≤ 127², sums ≪ 2^53), which is the point: the
    * int8 ANN scoring joins and shuffles carry codes at 1 byte per
    * component instead of the 8 bytes an up-front cast would inflate
    * them to.
    */
  def dotRaw(a: Column, b: Column): Column =
    graft.internal.exprColumn(graft.plans.DotProductExpr(
      graft.internal.columnExpr(a), graft.internal.columnExpr(b)))

  /** Norm over an uncast (double or int8-code) array — see [[dotRaw]]. */
  def normRaw(a: Column): Column = sqrt(dotRaw(a, a))

  /** Drops rows whose vector has zero norm. Cosine is undefined for
    * the zero vector: Spark's double divide-by-zero yields null,
    * DuckDB's IEEE division yields NaN, and either can occupy top-k
    * slots when candidates are scarce — so every top-k entry point
    * excludes zero vectors from BOTH sides up front, and the oracle
    * SQL applies the same filter. (An all-zero embedding is a
    * degenerate/corrupt row in any real corpus; dropping it is the
    * defined contract, not a silent repair.)
    *
    * NaN-bearing vectors are excluded EXPLICITLY (r16): both Spark
    * and DuckDB order NaN GREATER than every number, so a bare
    * `dot > 0` keeps a NaN vector — and its NaN cosine would then
    * rank ABOVE every real neighbor in the (score desc) top-k window,
    * serving garbage first. Same degenerate-row contract as the zero
    * vector; the oracle SQL applies the same `NOT isnan` filter.
    */
  private[pipeline] def dropZeroVectors(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.where(dot(v, v) > 0.0d && !isnan(dot(v, v)))
  }

  /** The interpreted HOF form of [[dot]] — kept as the spec the
    * DuckDB oracle mirrors (`list_dot_product` / explicit fold),
    * pinned bit-identical to the native form in PipelineSpec.
    */
  def dotExpr(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each row of `queries`, the `k`
    * nearest corpus rows. Ranking uses (rounded score desc, id asc)
    * so results are stable across engines at float-epsilon level.
    *
    * Broadcast the query side (it is the small one by construction).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      scoreDecimals: Int = 4
  ): DataFrame = {
    // norms staged per row, not per (query, corpus) pair
    val q = broadcast(
      dropZeroVectors(queries, vecCol).select(col(idCol).as("query_id"), col(vecCol).as("__qv__"),
        norm(col(vecCol)).as("__qn__"))
    )
    val c = dropZeroVectors(corpus, vecCol).select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv__"),
      norm(col(vecCol)).as("__cn__"))
    val scored = q
      .crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        round(dot(col("__qv__"), col("__cv__")) / (col("__qn__") * col("__cn__")), scoreDecimals))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * 4x storage cut that makes a 100 TB embedding corpus hold its
    * working set: per-vector scale `max(|x|)/127`, code
    * `round(x/scale)` in [-127, 127] (the max element rounds to
    * exactly +-127, so no clamp is needed). Deterministic —
    * half-away-from-zero rounding over exact double arithmetic, so
    * an external engine reproduces every code. All-zero vectors get
    * scale 0 and all-zero codes. Codes are kept as an integer array
    * column; `scale` rides alongside for dequantization
    * (`x ~ code * scale`).
    */
  def quantizeInt8(
      df: DataFrame,
      vecCol: String,
      codesCol: String = "codes",
      scaleCol: String = "scale"
  ): DataFrame = {
    // fused native kernel (r15): the former three-lambda expression
    // chain (abs transform -> array_max -> round transform) was the
    // dominant cost of every int8 build — HOFs never codegen. The
    // kernel replays the identical arithmetic (same IEEE scale
    // division, Spark's own BigDecimal HALF_UP rounding per code), so
    // the int8 oracles gate it unchanged.
    val q = graft.internal.exprColumn(graft.plans.Int8QuantizeExpr(
      graft.internal.columnExpr(col(vecCol).cast("array<double>"))))
    df.withColumn("__q8__", q)
      .withColumn(scaleCol, col("__q8__").getField("scale"))
      .withColumn(codesCol, col("__q8__").getField("codes"))
      .drop("__q8__")
  }

  /** [[bruteForceTopK]] over int8-quantized vectors: cosine on the
    * CODES (the per-vector scales cancel out of the ratio, so
    * scoring is integer dot products — exact in double up to 2^53 —
    * plus one division). Recall degrades only by the quantization
    * error; storage and shuffle shrink 4x. Same (rounded score desc,
    * id asc) determinism contract as the float path.
    */
  def int8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      scoreDecimals: Int = 4
  ): DataFrame = {
    // codes stay array<tinyint> through the join (r15): the corpus
    // side is the volume, and dotting bytes directly (exact — see
    // dotRaw) keeps it 1 byte per component instead of the 8 the
    // old array<double> cast shipped
    def codes(df: DataFrame, id: String, cv: String) =
      quantizeInt8(dropZeroVectors(df, vecCol).select(col(idCol).as(id), col(vecCol)), vecCol, cv, "__s__")
        .select(col(id), col(cv).cast("array<tinyint>").as(cv))
    val q = broadcast(
      codes(queries, "query_id", "__qv__").withColumn("__qn__", normRaw(col("__qv__"))))
    val c = codes(corpus, "neighbor_id", "__cv__").withColumn("__cn__", normRaw(col("__cv__")))
    val scored = q.crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        round(dotRaw(col("__qv__"), col("__cv__")) / (col("__qn__") * col("__cn__")), scoreDecimals))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplane matrix: component (p, d)
    * = (uint32 of the first 8 hex chars of md5("seed#p#d") mod 2001
    * - 1000) / 1000, uniform in [-1, 1]. Computed ONCE in plain Scala
    * at plan-construction time and embedded as literal arrays — the
    * per-row work is a pure codegen'd zip_with fold with zero hashing
    * — and md5 makes the same matrix reproducible in any engine
    * (`('0x' || substring(md5(s), 1, 8))::BIGINT % 2001` in DuckDB),
    * so LSH results are oracle-checkable, unlike the earlier
    * xxhash64 formulation.
    */
  def planeMatrix(planes: Int, dims: Int, seed: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(planes, dims) { (p, d) =>
      md.reset()
      val dig = md.digest(s"$seed#$p#$d".getBytes("UTF-8"))
      val u = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) | ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
      ((u % 2001L) - 1000L).toDouble / 1000.0
    }
  }

  /** Johnson-Lindenstrauss random projection: reduce `dims`-d
    * embeddings to `k` dims by projecting onto the md5-derived
    * [[planeMatrix]] rows, scaled by 1/√k (distance-preserving in
    * expectation — JL lemma; the standard pre-step that makes
    * brute-force/IVF over 768-d web embeddings affordable by
    * shrinking the vectors the quadratic stages carry). One JVM-UDF
    * pass per row computing all k components (the [[lshBucketUdf]]
    * rationale: lambda HOFs never code-generate), division (not
    * reciprocal multiply) so an external engine reproduces every
    * double: component p = <v, r_p> / √(k/3), sums left-to-right —
    * the planes are uniform[-1,1] (variance 1/3), so the unbiased
    * distance-preserving scale is √(k·σ²) = √(k/3), not the
    * unit-gaussian √k (RandomProjectionSpec pins the median
    * distortion at ~1).
    * Null vectors stay null; a length mismatch with `dims` throws
    * (silent truncation would corrupt distances).
    */
  def randomProjection(
      df: DataFrame,
      vecCol: String,
      outCol: String,
      dims: Int,
      k: Int,
      seed: Int = 7
  ): DataFrame = {
    val m = planeMatrix(k, dims, seed)
    val root = math.sqrt(k / 3.0)
    val proj = udf { (vec: Seq[Double]) =>
      if (vec == null) null
      else {
        require(vec.length == dims, s"expected $dims-d vector, got ${vec.length}")
        Array.tabulate(k) { p =>
          val plane = m(p)
          var s = 0.0
          var d = 0
          while (d < dims) { s += vec(d) * plane(d); d += 1 }
          s / root
        }
      }
    }
    df.withColumn(outCol, proj(col(vecCol)))
  }

  /** Sign-LSH bucket id: one bit per hyperplane = sign of <v, r_p>.
    * Returns a string of 0/1 of length `planes`. `dims` must match
    * the vector length (zip_with would null-pad a mismatch).
    */
  def lshBucket(vec: Column, planes: Int, dims: Int, seed: Int = 42): Column = {
    val m = planeMatrix(planes, dims, seed)
    val bits = (0 until planes).map { p =>
      val plane = array(m(p).map(lit): _*)
      val proj = aggregate(zip_with(vec, plane, (v, r) => v * r), lit(0.0d), (acc, v) => acc + v)
      when(proj >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** Same bucket string as [[lshBucket]] (bit-identical: sign of
    * <v, r_p> over the md5-derived plane matrix) as a JVM-native UDF:
    * ONE pass over the vector computing all `planes` projections.
    * The expression form runs `planes` interpreted
    * `aggregate(zip_with(...))` lambda folds per row — Spark never
    * code-generates lambda higher-order functions, the same pathology
    * measured and fixed for MinHash ([[Dedup.minhashSignatureUdf]])
    * and SimHash ([[Dedup.simhashUdf]]) — so [[lshTopK]] uses this on
    * the hot path while the expression form remains the spec the
    * DuckDB oracle mirrors (pinned equal in PipelineSpec).
    */
  def lshBucketUdf(planes: Int, dims: Int, seed: Int = 42): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val m = planeMatrix(planes, dims, seed)
    udf { (vec: Seq[Double]) =>
      // null vector: the expression form's when(null >= 0, "1")
      // .otherwise("0") yields the all-zeros bucket — mirror it
      // instead of NPE-ing on vec.length
      if (vec == null) "0" * planes
      else {
      val n = math.min(dims, vec.length)
      val sb = new java.lang.StringBuilder(planes)
      var p = 0
      while (p < planes) {
        val row = m(p)
        var acc = 0.0
        var d = 0
        while (d < n) { acc += vec(d) * row(d); d += 1 }
        sb.append(if (acc >= 0) '1' else '0')
        p += 1
      }
      sb.toString
      }
    }
  }

  /** LSH-bucketed cosine top-k: queries join only their own bucket.
    * With `probes > 1`, unions results over several independent
    * hash seeds (multi-probe) before re-ranking globally per query.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dims: Int,
      planes: Int = 8,
      probes: Int = 2,
      scoreDecimals: Int = 4
  ): DataFrame = {
    val corpusNz = dropZeroVectors(corpus, vecCol)
    val queriesNz = dropZeroVectors(queries, vecCol)
    val per = (0 until probes).map { probe =>
      val seed = 42 + probe
      val bucketUdf = lshBucketUdf(planes, dims, seed)
      val c = corpusNz.select(
        col(idCol).as("neighbor_id"),
        col(vecCol).as("__cv__"),
        norm(col(vecCol)).as("__cn__"),
        bucketUdf(col(vecCol)).as("__bucket__")
      )
      val q = queriesNz.select(
        col(idCol).as("query_id"),
        col(vecCol).as("__qv__"),
        norm(col(vecCol)).as("__qn__"),
        bucketUdf(col(vecCol)).as("__bucket__")
      )
      q.join(c, Seq("__bucket__"))
        .where(col("query_id") =!= col("neighbor_id"))
        .select(
          col("query_id"),
          col("neighbor_id"),
          round(dot(col("__qv__"), col("__cv__")) / (col("__qn__") * col("__cn__")), scoreDecimals).as("score")
        )
    }
    val all = per.reduce(_ unionByName _).dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    all
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** IVF (inverted-file) cosine top-k — the coarse-quantizer scale
    * path: corpus rows are assigned to their nearest of `nlist`
    * centroids, and each query scores only the rows in its `nprobe`
    * nearest centroid cells, so the scored fraction is ~nprobe/nlist
    * of the corpus instead of all of it.
    *
    * Centroids are the `nlist` corpus vectors whose md5(id) sorts
    * lowest — a deterministic uniform draw with no RNG state and no
    * k-means iterations, reproducible in any engine (so the whole
    * operator is oracle-checkable, like the md5-plane sign-LSH).
    * The centroid set is broadcast; assignment is a broadcast
    * cross-join + per-row rank, one shuffle each side. Ties rank by
    * (rounded similarity desc, centroid id) so assignment is exact
    * across engines.
    *
    * RECALL vs COST: with the random draw, cells carry no semantic
    * coherence, so recall@k tracks the probed FRACTION nprobe/nlist
    * (measured ~2× the fraction on the synthetic embeddings) — a
    * large derived nlist at fixed nprobe trades recall for speed.
    * The 100 TB recipe that keeps BOTH is a TRAINED quantizer: pass
    * `centroids = Some(kmeansCentroids(...))` (fit offline, possibly
    * on a [[Sampling.deterministicSample]]) and coherent cells
    * retain recall at probed fractions where the random draw decays
    * (PipelineSpec pins fitted ≥ random at a 6% fraction). With
    * `centroids` given, `nlist` is ignored.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      scoreDecimals: Int = 4,
      centroids: Option[DataFrame] = None
  ): DataFrame = {
    val corpusNz = dropZeroVectors(corpus, vecCol)
    val queriesNz = dropZeroVectors(queries, vecCol)
    val cents = centroids.map(broadcast)
      .getOrElse(ivfCentroids(corpusNz, idCol, vecCol, resolveNlist(nlist, corpusNz)))
    // corpus routing is TWO-LEVEL (build-side cost ~2·n·√nlist dots,
    // one exchange); query probing stays flat — queries are few and
    // flat nprobe ranking probes the truly nearest cells
    val corpusCells = ivfAssignTwoLevel(corpusNz, cents, idCol, vecCol, "neighbor", scoreDecimals)
    val queryCells = ivfAssign(queriesNz, cents, idCol, vecCol, "query", keep = nprobe, scoreDecimals)
    // a corpus row lives in exactly ONE cell and a query probes
    // DISTINCT cells, so each (query, neighbor) pair appears at most
    // once — no dedup stage needed before the global re-rank
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    queryCells
      .join(corpusCells, Seq("cent_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        round(dot(col("__queryv__"), col("__neighborv__")) / (col("__queryn__") * col("__neighborn__")), scoreDecimals))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** [[ivfTopK]] serving from int8 CODES — the standard compressed
    * ANN shape at 100 TB: cell routing stays float (the centroid set
    * is broadcast and tiny), but the per-cell scoring joins carry
    * 4x-smaller quantized vectors, which is where the volume lives.
    * Scores are quantized cosine (scales cancel, integer-exact
    * sums); ranking keeps the (rounded score desc, id asc) contract.
    */
  def ivfInt8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      scoreDecimals: Int = 4
  ): DataFrame = {
    val corpusNz = dropZeroVectors(corpus, vecCol)
    val queriesNz = dropZeroVectors(queries, vecCol)
    val cents = ivfCentroids(corpusNz, idCol, vecCol, resolveNlist(nlist, corpusNz))
    // tinyint end-to-end (r15): the cell join ships corpus codes at
    // 1 byte per component — that join is where the volume lives
    def codesOf(df: DataFrame, id: String, cv: String) =
      quantizeInt8(df.select(col(idCol).as(id), col(vecCol)), vecCol, cv, "__s__")
        .select(col(id), col(cv).cast("array<tinyint>").as(cv))
    val corpusCells = ivfAssignTwoLevel(corpusNz, cents, idCol, vecCol, "neighbor", scoreDecimals)
      .select("cent_id", "neighbor_id")
      .join(codesOf(corpusNz, "neighbor_id", "__nq__"), Seq("neighbor_id"))
      .withColumn("__nn__", normRaw(col("__nq__")))
    val queryCells = ivfAssign(queriesNz, cents, idCol, vecCol, "query", keep = nprobe, scoreDecimals)
      .select("cent_id", "query_id")
      .join(broadcast(codesOf(queriesNz, "query_id", "__qq__")), Seq("query_id"))
      .withColumn("__qn__", normRaw(col("__qq__")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    queryCells
      .join(corpusCells, Seq("cent_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        round(dotRaw(col("__qq__"), col("__nq__")) / (col("__qn__") * col("__nn__")), scoreDecimals))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Sentinel `nlist` value meaning "derive from the corpus size":
    * [[autoNlist]] of the nonzero-vector count. A FIXED nlist makes
    * probed-cell size grow linearly with the corpus (cell ~ n/nlist,
    * and a probe scans whole cells), so serving cost at 100 TB is
    * corpus-linear no matter how selective nprobe is; the standard
    * sizing is nlist ∝ √n, which balances the broadcast assignment
    * stage (n·nlist) against the probe stage (n_q·nprobe·n/nlist) and
    * keeps BOTH sub-linear per row.
    */
  val AutoNlist: Int = 0

  /** The derived cell count for a corpus of `n` nonzero vectors:
    * `max(16, ⌈√n⌉)` — √n cells of ~√n vectors each; the floor keeps
    * tiny corpora from degenerating to a single cell. Pure integer →
    * IEEE-double math, so any engine derives the same value for the
    * oracle replay.
    */
  def autoNlist(n: Long): Int = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

  private[pipeline] def resolveNlist(nlist: Int, corpusNz: DataFrame): Int =
    if (nlist == AutoNlist) autoNlist(corpusNz.count()) else nlist

  /** The `nlist` deterministic IVF centroids of [[ivfTopK]]: the
    * corpus vectors whose md5(id) sorts lowest, broadcast as
    * (cent_id, __cv__, __cn__). Shared with [[Dedup.semDedup]] so
    * both operators block by the same cells.
    */
  private[graft] def ivfCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int
  ): DataFrame = broadcast(
    corpus
      .select(col(idCol).as("cent_id"), col(vecCol).as("__cv__"), norm(col(vecCol)).as("__cn__"),
        md5(col(idCol).cast("string")).as("__h__"))
      .orderBy(col("__h__"), col("cent_id"))
      .limit(nlist)
      .drop("__h__")
  )

  /** Lloyd k-means over an embedding column — the TRAINED upgrade of
    * the [[ivfTopK]] coarse quantizer (whose centroids are a uniform
    * draw, not fitted). Every step is deterministic and
    * engine-portable, so the whole trained model is oracle-checkable:
    *
    *  - init = the [[ivfCentroids]] md5-order draw (no RNG state);
    *  - assignment = nearest centroid by (cosine rounded to
    *    `scoreDecimals` desc, centroid id asc) — [[ivfAssign]];
    *  - update = per-dimension mean rounded to `centroidDecimals`
    *    (the ONE cross-engine-inexact step is the sum inside the
    *    mean; rounding absorbs its ulp-level order sensitivity except
    *    on a mean that lands on a rounding boundary), dimensions in
    *    order, norms re-derived from the rounded components so
    *    downstream cosines are bit-identical given identical means.
    *
    * Scale shape: one bounded collect of at most [[DriverKmeansRowCap]]
    * + 1 rows picks the route from the rows it returns, never from a
    * plan estimate.
    *  - Driver route, at most [[DriverKmeansRowCap]] rows: the whole
    *    fit runs in Scala over the collected `(id, vec, norm, md5)`
    *    rows — the draw sorts by (md5, id) in Spark's SQL order, the
    *    assignment is [[graft.plans.PqArgBestExpr]]'s own loop, the
    *    means sum in row order — and the result is a broadcast local
    *    relation: one Spark job in all.
    *  - Distributed route ([[kmeansCentroidsDistributed]]), above the
    *    cap, for `iters = 0`, and for shapes the driver route does not
    *    take (a null vector element, empty or ragged vectors, a
    *    decimal element type, `k < 0`): per iteration one collect of
    *    the k-row centroid frame into the packed assignment kernel and
    *    one (cent, dim)-keyed hash agg whose shuffle carries k x dims
    *    rows after map-side combine — no all-pairs stage — about four
    *    Spark jobs a round.
    * The routes return identical rows wherever the distributed sums
    * add in row order (one partition); across partitions the
    * distributed mean is itself order-sensitive at a rounding
    * boundary. The cap is not a knob: below it one thread finishes
    * the fit in milliseconds where the distributed loop pays its jobs
    * every round, and above it the driver heap, not speed, is the
    * limit. Both routes drop null-vector rows before the draw, so a
    * null vector is never drawn and never assigned. A centroid that
    * attracts no rows drops out (standard Lloyd). Train offline and
    * persist the result for reuse.
    *
    * Returns the fitted (cent_id, __cv__, __cn__) broadcast frame —
    * feed it to [[kmeansAssign]] for cluster labels.
    */
  def kmeansCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      scoreDecimals: Int = 4,
      centroidDecimals: Int = 6
  ): DataFrame = {
    def distributed = kmeansCentroidsDistributed(df, idCol, vecCol, k, iters, scoreDecimals, centroidDecimals)
    // a decimal vector averages in decimal arithmetic, not in doubles
    val doubleMeans = df.schema(vecCol).dataType match {
      case ArrayType(_: DecimalType, _) => false
      case ArrayType(_: NumericType, _) => true
      case _                            => false
    }
    if (iters < 1 || k < 0 || !doubleMeans) return distributed
    val probe = df.where(col(vecCol).isNotNull)
      .select(col(idCol).as("cent_id"), col(vecCol).cast("array<double>").as("__cv__"),
      norm(col(vecCol)).as("__cn__"), md5(col(idCol).cast("string")).as("__h__"))
    graft.internal.collectAtMost(probe, DriverKmeansRowCap)
      .flatMap(driverKmeans(probe, _, k, iters, scoreDecimals, centroidDecimals))
      .getOrElse(distributed)
  }

  /** Largest input [[kmeansCentroids]] fits on the driver. It bounds
    * the driver heap one call holds: the collected rows (at 64-dim
    * vectors about 1.5 KB a row — boxed components, the md5 string)
    * plus one primitive copy of each vector (0.5 KB), so about 64 MB
    * at 2^15 rows. It is a constant, not a conf: the route is decided
    * from the collected row count, and below the cap the driver fit
    * (rows x k kernel evaluations a round) beats the distributed
    * loop's four Spark jobs a round.
    */
  private[graft] val DriverKmeansRowCap: Int = 1 << 15

  /** The driver route over the collected probe `rows` of
    * [[kmeansCentroids]], or `None` for a shape it does not take: a
    * null vector element (its norm is null), ragged lengths, or
    * empty vectors (the distributed update's `posexplode` filters
    * them out before the assignment).
    * Each step replays the distributed plan: centroids rank in id
    * order, so [[graft.plans.PqArgBestExpr]]'s positional tiebreak is
    * the (cosine desc, id asc) rule; equal drawn ids (duplicate ids)
    * form one cluster, as `groupBy(cent_id)` does; and each mean is
    * `avg`'s sum from 0.0 in row order, divided by the count, then
    * Spark's Round.
    */
  private def driverKmeans(
      probe: DataFrame,
      rows: Array[Row],
      k: Int,
      iters: Int,
      scoreDecimals: Int,
      centroidDecimals: Int
  ): Option[DataFrame] = {
    import graft.plans.PqArgBestExpr
    import org.apache.spark.sql.catalyst.expressions.Literal
    if (rows.exists(_.isNullAt(2))) return None
    val vecs = rows.map(_.getSeq[Double](1).toArray)
    val norms = rows.map(_.getDouble(2))
    val dims = vecs.headOption.fold(0)(_.length)
    if (vecs.exists(v => v.length != dims || v.isEmpty)) return None
    val idType = probe.schema("cent_id").dataType
    val byId = new SqlOrder(Seq(idType))
    val draw = new SqlOrder(Seq(StringType, idType))
      .sort(rows.indices)(i => Row(rows(i).get(3), rows(i).get(0))).take(k)
    // (id, vector, norm), in id order
    var cents = byId.sort(draw.map(i => (rows(i).get(0), vecs(i), norms(i))))(c => Row(c._1))
    for (_ <- 1 to iters if cents.nonEmpty) {
      val kernel = PqArgBestExpr(Literal.create(null, ArrayType(DoubleType)), Literal(0.0), Literal(0),
        Array(cents.map(_._2).toArray), Array(cents.map(_._3).toArray), scoreDecimals, l2 = false)
      val keys = cents.map(c => byId.key(Row(c._1)))
      val cluster = new Array[Int](cents.length)
      for (j <- 1 until cents.length)
        cluster(j) = if (byId.ord.equiv(keys(j - 1), keys(j))) cluster(j - 1) else j
      val sums = Array.fill(cents.length)(new Array[Double](dims))
      val counts = new Array[Long](cents.length)
      for (i <- rows.indices) {
        val c = cluster(kernel.best(vecs(i), norms(i), 0))
        val (sum, v) = (sums(c), vecs(i))
        for (d <- 0 until dims) sum(d) += v(d)
        counts(c) += 1
      }
      cents = cents.indices.filter(counts(_) > 0).map { c =>
        val m = sums(c).map(x => PqArgBestExpr.roundHalfUp(x / counts(c).toDouble, centroidDecimals))
        (cents(c)._1, m, math.sqrt(PqArgBestExpr.selfDot(m)))
      }
    }
    val schema = StructType(Seq(
      StructField("cent_id", idType),
      StructField("__cv__", ArrayType(DoubleType), nullable = false),
      StructField("__cn__", DoubleType)))
    import scala.jdk.CollectionConverters._
    Some(broadcast(probe.sparkSession.createDataFrame(
      cents.map { case (id, v, n) => Row(id, v.toSeq, n) }.asJava, schema)))
  }

  /** The distributed route of [[kmeansCentroids]] at any size. */
  private[graft] def kmeansCentroidsDistributed(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      scoreDecimals: Int = 4,
      centroidDecimals: Int = 6
  ): DataFrame = {
    val src = df.where(col(vecCol).isNotNull)
    var cents = ivfCentroids(src, idCol, vecCol, k)
    for (i <- 1 to iters) {
      val assigned = ivfAssign(src, cents, idCol, vecCol, "row", keep = 1, scoreDecimals)
      cents = broadcast(lloydMeans(
        assigned, Seq("cent_id"), "__rowv__", "__cv__", "__cn__", centroidDecimals))
      if (i % CompactEveryIters == 0 && i < iters) cents = compactCentroids(cents)
    }
    cents
  }

  /** One distributed Lloyd update, shared by [[kmeansCentroidsDistributed]]
    * (keyed by `cent_id`) and [[pqCodebooks]] (keyed by `(sub_id,
    * cent_id)`): per key, the mean of the assigned `vecCol` vectors,
    * each dimension `round(avg, centroidDecimals)`, reassembled in
    * dimension order as `outVec`, with its L2 norm as `outNorm`.
    */
  private def lloydMeans(
      assigned: DataFrame,
      keys: Seq[String],
      vecCol: String,
      outVec: String,
      outNorm: String,
      centroidDecimals: Int
  ): DataFrame = {
    val ks = keys.map(col)
    assigned
      .select(ks :+ posexplode(col(vecCol)).as(Seq("__dim__", "__v__")): _*)
      .groupBy(ks :+ col("__dim__"): _*)
      .agg(round(avg(col("__v__")), centroidDecimals).as("__m__"))
      .groupBy(ks: _*)
      .agg(array_sort(collect_list(struct(col("__dim__"), col("__m__")))).as("__dm__"))
      .select(ks :+ transform(col("__dm__"), x => x.getField("__m__")).as(outVec): _*)
      .withColumn(outNorm, norm(col(outVec)))
  }

  /** Plan-depth relief interval for [[kmeansCentroids]] — every this
    * many Lloyd rounds the centroid plan is collapsed to a literal.
    */
  private val CompactEveryIters = 4

  /** Materialize the (k-row by contract) centroid frame and re-embed
    * it as a literal local relation. The collect is bounded by k — a
    * frame the driver already holds in full whenever it is broadcast
    * — and the rebuilt plan is depth-1, so training cost stays linear
    * in `iters` instead of the analyzer re-walking every prior round.
    * Values round-trip exactly (double/array-of-double), keeping the
    * training trajectory bit-identical to the unrolled plan.
    */
  private def compactCentroids(cents: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    broadcast(cents.sparkSession.createDataFrame(cents.collect().toList.asJava, cents.schema))
  }

  /** Cluster labels under a fitted [[kmeansCentroids]] model:
    * (idCol, cent_id), assignment by the same deterministic
    * (rounded cosine desc, cent_id asc) rule training used. A
    * null-vector row gets no label, as training skips it.
    */
  def kmeansAssign(
      df: DataFrame,
      cents: DataFrame,
      idCol: String,
      vecCol: String,
      scoreDecimals: Int = 4
  ): DataFrame =
    ivfAssign(df.where(col(vecCol).isNotNull), cents, idCol, vecCol, "row", keep = 1, scoreDecimals)
      .select(col("row_id").as(idCol), col("cent_id"))

  // ---- product quantization (IVF-PQ: the compressed-domain path) --

  /** Product-quantization codebooks: the vector splits into `m`
    * contiguous subspaces of `dims / m` components, and each subspace
    * trains its own `ksub`-codeword quantizer with the SAME
    * deterministic Lloyd machinery as [[kmeansCentroids]] (md5-order
    * init, rounded-cosine rank-1 assignment, rounded means) — so the
    * whole fitted model is reproducible in any engine, like every
    * other fitted model here. Returns a broadcastable
    * `(sub_id, cent_id, __cbv__, __cbn__, __cbn2__)` frame of
    * `m * ksub` rows (`__cbn2__` = the codeword's squared norm,
    * summed once per codeword so reconstruction norms don't
    * re-derive it per row).
    *
    * At 100 TB: train on a deterministic sample
    * ([[Sampling.deterministicSample]]) — the codebook is a
    * statistic, not a per-row artifact — then encode the full corpus
    * with the broadcast result.
    */
  def pqCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      m: Int,
      ksub: Int,
      iters: Int,
      scoreDecimals: Int = 4,
      centroidDecimals: Int = 6,
      l2: Boolean = false
  ): DataFrame = {
    require(dims % m == 0, s"dims=$dims must split evenly into m=$m subspaces")
    val sub = dims / m
    // all m subspaces train JOINTLY over one exploded (row, sub_id,
    // subvector) frame: assignment and means are independent per
    // subspace, so the trajectory is bit-identical to m separate
    // Lloyd runs — but every iteration is ONE corpus scan instead of
    // m (the scan count must not grow with m at 100 TB)
    val subsArr = array((0 until m).map(s =>
      slice(col(vecCol).cast("array<double>"), s * sub + 1, sub)): _*)
    val ex = corpus.select(col(idCol), posexplode(subsArr).as(Seq("sub_id", "__sv__")))
    // the init draw: the md5-lowest ksub ids (the ivfCentroids rule —
    // the same ids seed every subspace, as slicing doesn't change
    // ids). In residual (l2) mode the draw EXCLUDES zero vectors:
    // the coarse quantizer uses the SAME md5 order, so whenever
    // ksub <= nlist the unfiltered draw would pick exactly the coarse
    // centroids' own rows — whose residuals are all EXACTLY ZERO by
    // construction — and Lloyd would start from ksub copies of the
    // zero codeword and collapse to one. The oracle applies the same
    // nonzero filter to its init CTE.
    val initSrc = if (l2) dropZeroVectors(corpus, vecCol) else corpus
    // ONE narrow collect of the ksub init rows (r20 opt, guide §2.4):
    // the former form broadcast the draw ids and re-scanned the WHOLE
    // exploded corpus through a join just to slice out ksub rows — an
    // extra corpus pass (plus its broadcast job) at the head of every
    // PQ fit. The subspace slices and norms are computed driver-side
    // with the exact SQL arithmetic (slice copies doubles; norm is the
    // same left-to-right self-dot + sqrt the kernel uses), so the init
    // codebook is bit-identical. Null/irregular vectors keep the join
    // form — the proven path for shapes the fast one can't take.
    val initRows = initSrc
      .select(col(idCol).as("cent_id"), col(vecCol).cast("array<double>").as("__v__"),
        md5(col(idCol).cast("string")).as("__h__"))
      .orderBy(col("__h__"), col("cent_id"))
      .limit(ksub)
      .select(col("cent_id"), col("__v__"))
      .collect()
    val cleanInit = initRows.forall { r =>
      !r.isNullAt(0) && !r.isNullAt(1) && {
        val v = r.getSeq[Any](1); v.length == dims && v.forall(_ != null)
      }
    }
    var cents =
      if (cleanInit) {
        import scala.jdk.CollectionConverters._
        val idType = initSrc.schema(initSrc.schema.fieldIndex(idCol)).dataType
        val initSchema = StructType(Seq(
          StructField("sub_id", IntegerType, nullable = false),
          StructField("cent_id", idType),
          StructField("__cbv__", ArrayType(DoubleType)),
          StructField("__cbn__", DoubleType)))
        val rows = initRows.toSeq.flatMap { r =>
          val v = r.getSeq[Double](1)
          (0 until m).map { s0 =>
            val sv = v.slice(s0 * sub, s0 * sub + sub)
            var acc = 0.0d
            var i = 0
            while (i < sv.length) { acc += sv(i) * sv(i); i += 1 }
            org.apache.spark.sql.Row(s0, r.get(0), sv, math.sqrt(acc))
          }
        }
        broadcast(corpus.sparkSession.createDataFrame(rows.asJava, initSchema))
      } else {
        val initIds = broadcast(initSrc
          .select(col(idCol).as("cent_id"), md5(col(idCol).cast("string")).as("__h__"))
          .orderBy(col("__h__"), col("cent_id"))
          .limit(ksub)
          .drop("__h__"))
        broadcast(ex
          .join(initIds, ex(idCol) === initIds("cent_id"))
          .select(col("sub_id"), col("cent_id"), col("__sv__").as("__cbv__"))
          .withColumn("__cbn__", norm(col("__cbv__"))))
      }
    for (i <- 1 to iters) {
      val assigned = pqRank1(ex, PqCodebook.collect(cents), scoreDecimals, l2)
      cents = broadcast(lloydMeans(
        assigned, Seq("sub_id", "cent_id"), "__sv__", "__cbv__", "__cbn__", centroidDecimals))
      if (i % CompactEveryIters == 0 && i < iters) cents = compactCentroids(cents)
    }
    broadcast(cents.withColumn("__cbn2__", dot(col("__cbv__"), col("__cbv__"))))
  }

  /** One collected codeword: `(draw id, codeword vector, norm,
    * squared norm)` — the id as the collected external value of the
    * codebook's id type (null allowed).
    */
  private[pipeline] final case class PqCw(id: Any, v: Array[Double], n: Double, n2: Double)

  /** A collected codebook: per-subspace [[PqCw]] arrays, each sorted by
    * draw id in Spark's SQL ascending order (nulls first). A
    * codeword's POSITION in its subspace is its stored rank `__ci__` —
    * `row_number() OVER (PARTITION BY sub_id ORDER BY cent_id) - 1` —
    * and [[graft.plans.PqArgBestExpr]]'s positional tiebreak is the
    * (metric, id asc) rule, for any orderable id type. The sidecar
    * frame ([[frame]]) and the packed kernel inputs both come from
    * this one value; the collect is bounded by m·ksub — the frame
    * serving broadcasts whole.
    */
  private[graft] final case class PqCodebook(idType: DataType, subs: Array[Array[PqCw]]) {
    def m: Int = subs.length

    /** Fail fast on a dropped codeword (ADVICE r16): Lloyd drops a
      * codeword whose cluster empties, and a subspace with fewer than
      * ksub codewords would silently mis-address the flat ADC LUT
      * (s*ksub + rank) everywhere downstream.
      */
    def requireFull(m: Int, ksub: Int, op: String): Unit =
      require(this.m == m && subs.forall(_.length == ksub),
        s"$op: Lloyd training left unequal codeword counts per subspace (expected $m x $ksub, got " +
          s"${subs.zipWithIndex.map { case (cws, s) => s"sub $s: ${cws.length}" }.mkString(", ")}) " +
          "- the flat ADC addressing requires exactly ksub codewords in every subspace; " +
          "lower ksub (an empty cluster means the corpus cannot support this many codewords), " +
          "reduce iters, or train on more rows")

    /** The stored-codebook frame `(sub_id, cent_id, __cbv__, __cbn__,
      * __cbn2__, __ci__)` as a broadcast literal relation.
      */
    def frame(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import scala.jdk.CollectionConverters._
      val schema = StructType(Seq(
        StructField("sub_id", IntegerType, nullable = false),
        StructField("cent_id", idType),
        StructField("__cbv__", ArrayType(DoubleType)),
        StructField("__cbn__", DoubleType),
        StructField("__cbn2__", DoubleType),
        StructField("__ci__", IntegerType, nullable = false)))
      val rows = for {
        (cws, s) <- subs.toSeq.zipWithIndex
        (c, ci) <- cws.toSeq.zipWithIndex
      } yield Row(s, c.id, c.v.toSeq, c.n, c.n2, ci)
      broadcast(spark.createDataFrame(rows.asJava, schema))
    }

    /** The winner position of `sv` in subspace `subId` (-1: the
      * subspace has no codeword). `aux` is the staged subvector norm
      * (cosine) or squared norm (`l2`).
      */
    def argBest(sv: Column, aux: Column, subId: Column, scoreDecimals: Int, l2: Boolean): Column =
      graft.internal.exprColumn(graft.plans.PqArgBestExpr(
        graft.internal.columnExpr(sv.cast("array<double>")),
        graft.internal.columnExpr(aux),
        graft.internal.columnExpr(subId),
        subs.map(_.map(_.v)), subs.map(_.map(_.n)), scoreDecimals, l2))

    /** Draw id at position `idx` of subspace `subId`, in the codebook's
      * own id type.
      */
    def idAt(subId: Column, idx: Column): Column =
      element_at(element_at(graft.internal.exprColumn(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          subs.toSeq.map(_.toSeq.map(_.id)), ArrayType(ArrayType(idType)))),
        subId + 1), idx + 1)

    /** The packed per-row encode, step 1: every subspace's slice of
      * `vec` and its norm (`l2`: squared norm), hoisted so each
      * computes once per row (a projection cannot reference its own
      * output aliases).
      */
    def stagedCols(vec: Column, l2: Boolean): Seq[Column] = {
      val sub = subs.head.head.v.length
      (0 until m).flatMap { s =>
        val svExpr = slice(vec.cast("array<double>"), s * sub + 1, sub)
        val aux =
          if (l2) dot(svExpr, svExpr).as(s"__sv2${s}__")
          else norm(svExpr).as(s"__svn${s}__")
        Seq(svExpr.as(s"__sv${s}__"), aux)
      }
    }

    /** Step 2, over [[stagedCols]]: `__bi{s}__`, subspace `s`'s winner
      * position — its rank `__ci__` — ONE kernel eval per (row,
      * subspace).
      */
    def idxCols(scoreDecimals: Int, l2: Boolean): Seq[Column] = (0 until m).map { s =>
      val aux = if (l2) col(s"__sv2${s}__") else col(s"__svn${s}__")
      argBest(col(s"__sv${s}__"), aux, lit(s), scoreDecimals, l2).as(s"__bi${s}__")
    }

    /** Subspace `s`'s winner squared norm (`__cbn2__`) — a literal lookup. */
    def n2(s: Int): Column =
      element_at(typedLit(subs(s).toSeq.map(_.n2)), col(s"__bi${s}__") + 1)

    /** Subspace `s`'s winner codeword (`__cbv__`) — a literal lookup. */
    def v(s: Int): Column =
      element_at(typedLit(subs(s).toSeq.map(_.v.toSeq)), col(s"__bi${s}__") + 1)
  }

  private[graft] object PqCodebook {

    /** Collect a codebook frame `(sub_id, cent_id, __cbv__, __cbn__,
      * ...)` — a fitted one, or a stored sidecar read back (whose own
      * `__ci__`/`__cbn2__` are re-derived, never trusted). Every
      * subspace `0 until m` must hold a codeword.
      */
    def collect(cb: DataFrame): PqCodebook = {
      val (idType, groups) =
        collectCodewords(cb, col("sub_id").cast("int"), col("cent_id"), col("__cbv__"), col("__cbn__"))
      val bySub = groups.toMap
      val m = if (groups.isEmpty) 0 else groups.map(_._1.asInstanceOf[Int]).max + 1
      require(groups.forall(_._1.asInstanceOf[Int] >= 0) && (0 until m).forall(bySub.contains),
        s"PQ codebook must hold codewords for every subspace 0 until $m, " +
          s"got sub_ids ${groups.map(_._1).mkString(", ")}")
      PqCodebook(idType, (0 until m).map(bySub).toArray)
    }

    /** A centroid frame `(cent_id, __cv__, __cn__)` as a one-subspace
      * codebook — the [[ivfAssign]] rank-1 route.
      */
    def ofCentroids(cents: DataFrame): PqCodebook = {
      val (idType, groups) = collectCodewords(cents, lit(0), col("cent_id"), col("__cv__"), col("__cn__"))
      PqCodebook(idType, Array(groups.headOption.map(_._2).getOrElse(Array.empty[PqCw])))
    }
  }

  /** ONE collect of `(key, id, vector, norm)` rows, sorted on the
    * driver by (key, id) in Spark's own SQL ascending order
    * ([[SqlOrder]]) and grouped by key in that order. Returns the id
    * type and the per-key codeword arrays. Adds no Spark job: the sort
    * runs over rows the collect already returns.
    */
  private def collectCodewords(
      df: DataFrame,
      key: Column,
      id: Column,
      v: Column,
      n: Column
  ): (DataType, Seq[(Any, Array[PqCw])]) = {
    val sel = df.select(key.as("k"), id.as("id"), v.cast("array<double>").as("v"), n.as("n"))
    val sorted = new SqlOrder(sel.schema.fields.take(2).map(_.dataType).toSeq)
      .sort(sel.collect().toSeq)(r => Row(r.get(0), r.get(1)))
    val groups = scala.collection.mutable.LinkedHashMap.empty[Any, Vector[PqCw]]
    sorted.foreach { r =>
      val cv = r.getSeq[Double](2).toArray
      val cw = PqCw(r.get(1), cv, r.getDouble(3), graft.plans.PqArgBestExpr.selfDot(cv))
      groups.update(r.get(0), groups.getOrElse(r.get(0), Vector.empty) :+ cw)
    }
    (sel.schema(1).dataType, groups.toSeq.map { case (k, cws) => k -> cws.toArray })
  }

  /** Spark's SQL ascending order over rows of `types`: Catalyst's
    * natural ordering over the converted values, nulls first (the
    * `orderBy` and window default).
    */
  private final class SqlOrder(types: Seq[DataType]) {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(
      StructType(types.zipWithIndex.map { case (t, i) => StructField(s"_$i", t) }))
    val ord: Ordering[InternalRow] =
      org.apache.spark.sql.catalyst.expressions.RowOrdering.createNaturalAscendingOrdering(types)
    def key(r: Row): InternalRow = toCatalyst(r).asInstanceOf[InternalRow]
    /** `items` sorted by `f`; stable, so equal keys keep their input order. */
    def sort[T](items: Seq[T])(f: T => Row): Seq[T] =
      items.map(x => key(f(x)) -> x).sortBy(_._1)(ord).map(_._2)
  }

  /** Rank-1 codeword assignment for one exploded (row, sub_id, __sv__)
    * frame — the step shared by PQ training and [[pqEncode]]: the
    * per-(row, subspace) winner of a [[graft.plans.PqArgBestExpr]]
    * argmax over the collected codebook, one projection with zero
    * exchanges. Two metrics behind one deterministic contract:
    *
    *  - cosine (`l2 = false`, the raw-vector mode): (rounded cosine
    *    desc, cent_id asc);
    *  - squared L2 (`l2 = true`, the RESIDUAL mode): (rounded
    *    |sv − cbv|² asc, cent_id asc), expanded as
    *    `dot(sv,sv) − 2·dot(sv,cbv) + dot(cbv,cbv)` — the exact IEEE
    *    expression an external engine replays term-for-term.
    *    Residuals NEED l2: a residual can be exactly zero (every
    *    coarse centroid's own row), and zero-vector cosine is 0/0 —
    *    null in Spark but NaN in DuckDB, ranked at OPPOSITE ends of a
    *    desc window. L2 has no division, so the degenerate class
    *    vanishes instead of needing a filter.
    *
    * An empty codebook assigns nothing (no rows), as an inner join
    * against it would.
    */
  private def pqRank1(
      ex: DataFrame,
      cb: PqCodebook,
      scoreDecimals: Int,
      l2: Boolean
  ): DataFrame = {
    if (cb.m == 0) return ex.where(lit(false)).withColumn("cent_id", lit(null).cast(cb.idType))
    val staged =
      if (!l2) ex.withColumn("__svn__", norm(col("__sv__")))
      else ex.withColumn("__sv2__", dot(col("__sv__"), col("__sv__")))
    val aux = if (l2) col("__sv2__") else col("__svn__")
    staged.withColumn("__bi__", cb.argBest(col("__sv__"), aux, col("sub_id").cast("int"), scoreDecimals, l2))
      .withColumn("cent_id", cb.idAt(col("sub_id"), col("__bi__")))
      .drop("__bi__", "__sv2__")
  }

  /** PQ codes: one `(idCol, sub_id, code_id)` row per (vector,
    * subspace) — the nearest codeword by the deterministic (rounded
    * cosine desc, cent_id asc) rule shared with [[ivfAssign]]. This
    * IS the compressed corpus: `m` small ids per vector instead of
    * `dims` doubles (the 100 TB memory story), joined back by id.
    */
  def pqEncode(
      df: DataFrame,
      codebook: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      m: Int,
      scoreDecimals: Int = 4,
      l2: Boolean = false
  ): DataFrame =
    pqCodes(df, PqCodebook.collect(codebook), idCol, vecCol, dims, m, scoreDecimals, l2)

  /** [[pqEncode]] under an already-collected codebook. */
  private def pqCodes(
      df: DataFrame,
      cb: PqCodebook,
      idCol: String,
      vecCol: String,
      dims: Int,
      m: Int,
      scoreDecimals: Int,
      l2: Boolean
  ): DataFrame = {
    val sub = dims / m
    val subsArr = array((0 until m).map(s =>
      slice(col(vecCol).cast("array<double>"), s * sub + 1, sub)): _*)
    val exploded = df
      .select(col(idCol), posexplode(subsArr).as(Seq("sub_id", "__sv__")))
    pqRank1(exploded, cb, scoreDecimals, l2)
      .select(col(idCol), col("sub_id"), col("cent_id").as("code_id"))
  }

  /** IVF-PQ cosine top-k — the compressed-domain ANN scale path:
    * the [[ivfTopK]] coarse quantizer prunes each query to its
    * `nprobe` cells (~nprobe/nlist of the corpus), and the fine stage
    * scores candidates by ASYMMETRIC DISTANCE COMPUTATION over the PQ
    * codes instead of exact dot products: per query a lookup table of
    * `m * ksub` partial dot products (query subvector x codeword) is
    * computed ONCE, and each candidate pair then costs `m` table
    * lookups + adds — no vector math per pair, and candidates travel
    * as `m`-id code rows, not `dims`-double vectors. The approximate
    * score is `sum_s <q_s, cw(x, s)> / (|q| * |x_hat|)` with
    * `|x_hat|` the reconstruction norm from the codeword squared
    * norms.
    *
    * Everything downstream of the fitted codebooks is deterministic
    * and engine-portable (rounded scores, id tiebreaks), so the whole
    * operator is oracle-checkable like [[ivfTopK]].
    *
    * Scale shape: codebooks and the per-query LUT rows broadcast; the
    * candidate join shuffles (query_id, neighbor_id, m code rows)
    * only for pairs sharing a probed cell; one hash agg sums the `m`
    * partials per pair with map-side combine; the final top-k is a
    * per-query window over candidates. No stage touches corpus
    * vectors after encode.
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dims: Int,
      m: Int = 4,
      ksub: Int = 8,
      iters: Int = 1,
      nlist: Int = 16,
      nprobe: Int = 4,
      scoreDecimals: Int = 4,
      residual: Boolean = false
  ): DataFrame = {
    // single-query form (the oracle replays fit + search as one
    // plan): no persistence, the model frames inline into the search
    val model = pqFit(corpus, idCol, vecCol, dims, m, ksub, iters, nlist, nprobe,
      scoreDecimals, persist = false, residual = residual)
    pqSearch(model, queries, idCol, vecCol, k)
  }

  /** A fitted IVF-PQ index: the coarse-quantizer centroids, the
    * trained codebooks, and the ENCODED corpus (codes, cell
    * assignments, reconstruction norms). Fitting is the expensive,
    * corpus-scanning part; everything a search needs afterwards is
    * here, so serving reuses one fit across arbitrarily many query
    * batches without retraining. `release()` drops the persisted
    * corpus-side frames when the index retires.
    */
  final case class PqModel private[pipeline] (
      centroids: DataFrame,
      codebooks: DataFrame,
      codes: DataFrame,
      cells: DataFrame,
      norms: DataFrame,
      dims: Int,
      m: Int,
      ksub: Int,
      nprobe: Int,
      scoreDecimals: Int,
      residual: Boolean,
      private val releaseThunk: () => Unit) {
    def release(): Unit = releaseThunk()
  }

  /** Fit the IVF-PQ index of [[pqTopK]] once: coarse centroids,
    * jointly-trained codebooks, and the three corpus-side frames a
    * search consumes (codes, cells, reconstruction norms). With
    * `persist` (the serving default) those frames materialize to
    * MEMORY_AND_DISK so each query batch reads the encoded corpus
    * from cache instead of re-running encode; `persist = false`
    * keeps those frames lazy for single-shot plans (and for the
    * oracle, which must replay the whole fit). The codebooks are
    * collected at fit time either way (m·ksub rows) and the model
    * carries them as a literal [[PqCodebook]] frame.
    *
    * At 100 TB: fit on the full corpus (encode is one scan; training
    * can subsample via [[Sampling.deterministicSample]] upstream),
    * then serve every downstream query batch from the ~`m` bytes/row
    * compressed frames — the raw vectors are never touched again.
    *
    * `residual = true` (r17) is canonical IVFADC: the fine quantizer
    * trains on and encodes `x − c_cell(x)` — the residual after the
    * coarse quantizer — instead of the raw vector. Residuals
    * concentrate near the origin (the coarse quantizer has already
    * absorbed the between-cell variance), so the SAME m×ksub byte
    * budget spends its codewords on a much tighter distribution and
    * reconstructs materially closer vectors ⇒ higher recall at equal
    * probed fraction (measured on the repo's own fixtures — see
    * [[pqRecallReport]]). Differences from the raw mode, all replayed
    * by the oracle:
    *  - codeword assignment is SQUARED L2, not cosine (residuals are
    *    offsets, not directions — and the coarse centroid's own row
    *    has an exactly-zero residual, which cosine cannot rank
    *    portably: see [[pqRank1]]);
    *  - the reconstruction is `x̂ = c_cell + r̂`, so the stored norm
    *    is |x̂| and the ADC numerator gains a per-(query, cell)
    *    `dot(q, c_cell)` term — nprobe scalars per query, never
    *    per-candidate work;
    *  - the codes are RELATIVE TO the coarse quantizer: retraining
    *    cells invalidates them (the persisted-index consequence is
    *    documented at [[IvfIndex.buildPq]]).
    */
  def pqFit(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      m: Int = 4,
      ksub: Int = 8,
      iters: Int = 1,
      nlist: Int = 16,
      nprobe: Int = 4,
      scoreDecimals: Int = 4,
      persist: Boolean = true,
      residual: Boolean = false
  ): PqModel = {
    import org.apache.spark.storage.StorageLevel
    val corpusNz = dropZeroVectors(corpus, vecCol)
    // the centroid frame persists too in serving mode: every search
    // routes its queries against it
    var cents = ivfCentroids(corpusNz, idCol, vecCol, resolveNlist(nlist, corpusNz))
    if (residual) return pqFitResidual(corpusNz, cents, idCol, vecCol, dims, m, ksub,
      iters, nprobe, scoreDecimals, persist)
    // ONE collect of the trained codebook (m*ksub rows) feeds the
    // encode, and the model's codebook frame is its literal relation —
    // so no search re-runs the Lloyd lineage, and `__ci__` comes with it
    val cbv = PqCodebook.collect(pqCodebooks(corpusNz, idCol, vecCol, dims, m, ksub, iters, scoreDecimals))
    // serving mode fails fast if Lloyd dropped a codeword (r17,
    // ADVICE r16): pqSearch addresses a flat m x ksub LUT. (The lazy
    // persist=false form stays unchecked by contract — it exists for
    // single-shot plans the oracle replays relationally, where a
    // dropped codeword shows up as a gated mismatch instead.)
    if (persist) {
      cents = cents.persist(StorageLevel.MEMORY_AND_DISK)
      cbv.requireFull(m, ksub, "pqFit")
    }
    val cb = cbv.frame(corpus.sparkSession)
    var codes = pqCodes(corpusNz, cbv, idCol, vecCol, dims, m, scoreDecimals, l2 = false)
      .withColumnRenamed(idCol, "neighbor_id")
    var cells = ivfAssignTwoLevel(corpusNz, cents, idCol, vecCol, "neighbor", scoreDecimals)
      .select(col("neighbor_id"), col("cent_id"))
    if (persist) {
      codes = codes.persist(StorageLevel.MEMORY_AND_DISK)
      cells = cells.persist(StorageLevel.MEMORY_AND_DISK)
    }
    // built AFTER codes persists so the norm scan reads the cache
    var xnorm = codes
      .join(cb.select(col("sub_id"), col("cent_id").as("code_id"), col("__cbn2__")),
        Seq("sub_id", "code_id"))
      .groupBy(col("neighbor_id"))
      .agg(sqrt(sum(col("__cbn2__"))).as("__xn__"))
    if (persist) xnorm = xnorm.persist(StorageLevel.MEMORY_AND_DISK)
    val persisted = if (persist) Seq(cents, codes, cells, xnorm) else Nil
    PqModel(cents, cb, codes, cells, xnorm, dims, m, ksub, nprobe, scoreDecimals,
      residual = false, () => persisted.foreach(_.unpersist()))
  }

  /** The residual-mode fit behind [[pqFit]] (`residual = true`) —
    * see the mode's contract there. Stage shape mirrors the raw fit:
    * ONE extra broadcast join derives the residual frame from the
    * cell assignment (which the raw fit computes anyway), training /
    * encode run over it with the L2 rank rule, and the
    * reconstruction norms add a per-row `zip_with` with the cell
    * centroid — no new shuffle, no per-pair work.
    */
  private def pqFitResidual(
      corpusNz: DataFrame,
      cents0: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      m: Int,
      ksub: Int,
      iters: Int,
      nprobe: Int,
      scoreDecimals: Int,
      persist: Boolean
  ): PqModel = {
    import org.apache.spark.storage.StorageLevel
    var cents = cents0
    // the cell assignment feeds the residuals AND the model's cells
    // frame — in serving mode persist it once instead of routing the
    // corpus twice
    var assigned = ivfAssignTwoLevel(corpusNz, cents, idCol, vecCol, "neighbor", scoreDecimals)
    if (persist) {
      cents = cents.persist(StorageLevel.MEMORY_AND_DISK)
      assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    }
    val cells = assigned.select(col("neighbor_id"), col("cent_id"))
    // r = x − c_cell(x), componentwise — exact IEEE subtraction any
    // engine replays
    val resid = assigned
      .join(cents.select(col("cent_id"), col("__cv__")), Seq("cent_id"))
      .select(col("neighbor_id"), col("cent_id"),
        zip_with(col("__neighborv__"), col("__cv__"), (a, b) => a - b).as("__rv__"))
    // one collect of the trained codebook, as in the raw fit
    val cbv = PqCodebook.collect(pqCodebooks(resid.select(col("neighbor_id"), col("__rv__")),
      "neighbor_id", "__rv__", dims, m, ksub, iters, scoreDecimals, l2 = true))
    if (persist) cbv.requireFull(m, ksub, "pqFit(residual)")
    val cb = cbv.frame(corpusNz.sparkSession)
    var codes = pqCodes(resid, cbv, "neighbor_id", "__rv__", dims, m, scoreDecimals, l2 = true)
    var cellsP = cells
    if (persist) {
      codes = codes.persist(StorageLevel.MEMORY_AND_DISK)
      cellsP = cellsP.persist(StorageLevel.MEMORY_AND_DISK)
    }
    // |x̂| with x̂ = c_cell + r̂: reconstruct r̂ from the codes (the
    // codeword arrays concatenate in subspace order), add the cell
    // centroid, take the norm — the full-reconstruction norm the ADC
    // denominator needs in residual mode
    var xnorm = codes
      .join(cb.select(col("sub_id"), col("cent_id").as("code_id"), col("__cbv__")),
        Seq("sub_id", "code_id"))
      .groupBy(col("neighbor_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub_id"), col("__cbv__")))),
        x => x("__cbv__"))).as("__rh__"))
      .join(cellsP, Seq("neighbor_id"))
      .join(cents.select(col("cent_id"), col("__cv__")), Seq("cent_id"))
      .select(col("neighbor_id"),
        norm(zip_with(col("__cv__"), col("__rh__"), (a, b) => a + b)).as("__xn__"))
    if (persist) xnorm = xnorm.persist(StorageLevel.MEMORY_AND_DISK)
    val persisted = if (persist) Seq(cents, assigned, codes, cellsP, xnorm) else Nil
    PqModel(cents, cb, codes, cellsP, xnorm, dims, m, ksub, nprobe, scoreDecimals,
      residual = true, () => persisted.foreach(_.unpersist()))
  }

  /** Search a fitted [[PqModel]]: coarse-prune each query to its
    * `nprobe` cells, score candidates by asymmetric distance
    * computation over the PQ codes (per-query LUT of m x ksub
    * partial dot products, broadcast), keep the top `k`. Touches
    * only the model's compressed frames — never a corpus vector —
    * so serving cost is per-query-batch, not per-corpus.
    *
    * Zero/NaN-norm queries are dropped like every other top-k entry
    * point (r17, ADVICE r16): cosine is undefined for them, and
    * Spark's null score vs DuckDB's NaN would rank OPPOSITE ends of
    * the desc window — the oracle's query CTE already derives from
    * the nonzero-filtered corpus, so the engine filter is what keeps
    * the two sides aligned when a degenerate query appears.
    */
  def pqSearch(
      model: PqModel,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val sub = model.dims / model.m
    val queriesNz = dropZeroVectors(queries, vecCol)
    val qAssigned = ivfAssign(queriesNz, model.centroids, idCol, vecCol, "query",
      keep = model.nprobe, model.scoreDecimals)
    // residual mode: the ADC numerator decomposes dot(q, x̂) =
    // dot(q, c_cell) + dot(q, r̂); the first term depends only on the
    // (query, probed cell) pair — nprobe scalars per query, derived
    // here against the broadcast centroid frame, never per candidate
    val queryCells =
      if (!model.residual) qAssigned.select(col("query_id"), col("cent_id"))
      else qAssigned
        .join(broadcast(model.centroids.select(col("cent_id"), col("__cv__"))), Seq("cent_id"))
        .select(col("query_id"), col("cent_id"),
          dot(col("__queryv__"), col("__cv__")).as("__qcd__"))
    val subsArr = array((0 until model.m).map(s =>
      slice(col(vecCol).cast("array<double>"), s * sub + 1, sub)): _*)
    val lut = queriesNz
      .select(col(idCol).as("query_id"),
        norm(col(vecCol).cast("array<double>")).as("__qn__"),
        posexplode(subsArr).as(Seq("sub_id", "__qsv__")))
      .join(model.codebooks, Seq("sub_id"))
      .select(col("query_id"), col("__qn__"), col("sub_id"),
        col("cent_id").as("code_id"), dot(col("__qsv__"), col("__cbv__")).as("__part__"))
    // ADC tables packed into ARRAYS so the scoring stage is one
    // codegen'd fold per candidate pair. The exploded alternative
    // (pairs x m sub-rows through a LUT join + re-aggregation) moves
    // m x |pairs| rows through two extra exchanges — measured 7x
    // slower at 60k vectors. Arrays sort by (sub, code) so index
    // s*ksub + code-rank addresses the flat LUT.
    val lutArr = lut
      .groupBy(col("query_id"))
      .agg(first(col("__qn__")).as("__qn__"),
        transform(
          array_sort(collect_list(struct(col("sub_id"), col("code_id"), col("__part__")))),
          x => x("__part__")).as("__lutf__"))
    // code ids are draw ids, not 0..ksub-1 — the flat index is the
    // code's RANK `__ci__` within its sub's (sub_id, code_id) order,
    // matching the lut array's sort (the model's codebook frame is a
    // [[PqCodebook]] frame, which carries it)
    val codeIdx = model.codebooks
      .select(col("sub_id"), col("cent_id").as("code_id"), col("__ci__"))
    val codesArr = model.codes
      .join(broadcast(codeIdx), Seq("sub_id", "code_id"))
      .groupBy(col("neighbor_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub_id"), col("__ci__")))),
        x => x("__ci__")).as("__codes__"))
      .join(model.norms, Seq("neighbor_id"))
    val pairCols =
      if (model.residual) Seq(col("query_id"), col("neighbor_id"), col("__qcd__"))
      else Seq(col("query_id"), col("neighbor_id"))
    val pairs = queryCells
      .join(model.cells, Seq("cent_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(pairCols: _*)
    val adc = aggregate(
      sequence(lit(0), lit(model.m - 1)), lit(0.0),
      (acc, s) => acc + element_at(col("__lutf__"),
        (s * model.ksub + element_at(col("__codes__"), s + 1) + 1).cast("int")))
    val num = if (model.residual) col("__qcd__") + adc else adc
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    pairs
      .join(codesArr, Seq("neighbor_id"))
      .join(broadcast(lutArr), Seq("query_id"))
      .withColumn("score", round(num / (col("__qn__") * col("__xn__")), model.scoreDecimals))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Measured recall@k of IVF serving vs brute force, one row per
    * (nlist, nprobe) configuration — the data-driven sizing surface
    * for `nprobe` at scale. The two-level routed assignment is a
    * BLOCKING structure (the chosen cell may differ from the flat
    * argmax near group boundaries) and random-draw cells carry no
    * semantic coherence, so the only trustworthy recall number is a
    * MEASURED one on the operator's own corpus: run this on a
    * deterministic sample ([[Sampling.deterministicSample]]) with
    * candidate configs, read the (recall, probed_fraction) frontier,
    * and size `nprobe` from data instead of folklore.
    *
    * Output: `(nlist, nprobe, resolved_nlist, probed_fraction,
    * recall_at_k)` — `recall_at_k` is the micro-averaged fraction of
    * brute-force top-k pairs the IVF route reproduces (1.0 at
    * `nprobe >= resolved_nlist` by construction: probing every cell
    * IS brute force under the same tie rules); `probed_fraction` is
    * the cost side (`nprobe / resolved_nlist` of the corpus scanned
    * per query). The ground truth is computed ONCE and persisted;
    * each config then costs one ivfTopK + one semi-join count. The
    * per-config loop is driver-side by design — `configs` is a
    * handful of candidate settings, never data-sized.
    */
  def recallReport(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      configs: Seq[(Int, Int)],
      scoreDecimals: Int = 4
  ): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = corpus.sparkSession
    import spark.implicits._
    val truth = bruteForceTopK(corpus, queries, idCol, vecCol, k, scoreDecimals)
      .select(col("query_id"), col("neighbor_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val total = truth.count()
      val nzCount = dropZeroVectors(corpus, vecCol).count()
      // the per-config serves are INDEPENDENT given the persisted
      // truth — run them concurrently so one config's Catalyst
      // planning overlaps another's execution and short jobs back-fill
      // the tail (r20 opt, guide §2.6); `futs.map(_.get())` keeps the
      // declared configs order, and each value is a pure function of
      // its config, so the report is unchanged
      val rows = graft.Cleanup.concurrently(configs) { case (nlist, nprobe) =>
        // clamped to the nonzero corpus count (r17, ADVICE r16):
        // ivfCentroids' limit(nlist) yields fewer cells when the
        // corpus is smaller than nlist, so the unclamped value would
        // overstate cost (probed_fraction) and delay the declared
        // "1.0 at nprobe >= resolved_nlist" point
        val resolved = math.min(
          (if (nlist == AutoNlist) autoNlist(nzCount) else nlist).toLong, nzCount).toInt
        val served = ivfTopK(corpus, queries, idCol, vecCol, k, nlist, nprobe, scoreDecimals)
          .select(col("query_id"), col("neighbor_id"))
        val hits = truth.join(served, Seq("query_id", "neighbor_id"), "left_semi").count()
        (nlist, nprobe, resolved,
          math.min(1.0, nprobe.toDouble / resolved),
          if (total == 0L) 0.0 else hits.toDouble / total)
      }
      rows.toDF("nlist", "nprobe", "resolved_nlist", "probed_fraction", "recall_at_k")
    } finally { truth.unpersist(); () }
  }

  /** [[recallReport]] for a FITTED quantizer: sweep `nprobes` under
    * one trained centroid frame (a [[kmeansCentroids]] fit — or any
    * (cent_id, __cv__, __cn__) frame) instead of the md5 draw. This
    * is the report that justifies the training cost: compare its
    * frontier against [[recallReport]] at the same probed fractions
    * and keep the quantizer only where fitted recall clears random
    * (PipelineSpec pins fitted ≥ random at a 6% fraction on loose
    * clusters — the regime training exists for). Output matches
    * [[recallReport]] with `nlist` reported as the frame's cell
    * count.
    */
  def recallReportFitted(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobes: Seq[Int],
      centroids: DataFrame,
      scoreDecimals: Int = 4
  ): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = corpus.sparkSession
    import spark.implicits._
    // the driver budget fires BEFORE the collect materializes the
    // frame (r17, VERDICT r16 #4): one narrow (count, dim) aggregate
    // — executor-side, never driver-held — decides whether the
    // frame fits, so an oversized fitted quantizer fails with the
    // sizing knobs named instead of OOM-ing the driver mid-collect
    val stat = centroids.agg(count(lit(1)), max(size(col("__cv__")))).head()
    val nlist = stat.getLong(0).toInt
    val dim = if (nlist == 0) 0 else stat.getInt(1)
    require(nlist.toLong * dim <= MaxCentroidComponents,
      s"recallReportFitted: centroid frame is $nlist cells x $dim dims = " +
        s"${nlist.toLong * dim} components, over the ${MaxCentroidComponents}-component " +
        "driver budget (Similarity.MaxCentroidComponents) - the frame is collected AND " +
        "broadcast whole; train fewer cells (cap nlist below sqrt(n)), reduce the embedding " +
        "dim (randomProjection), or raise the budget on a bigger driver")
    // the frame is contractually broadcast-sized; materialize once so
    // a possibly-iterative training lineage doesn't replay per config
    val cents = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(centroids.collect(): _*), centroids.schema))
    val truth = bruteForceTopK(corpus, queries, idCol, vecCol, k, scoreDecimals)
      .select(col("query_id"), col("neighbor_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val total = truth.count()
      // independent per-nprobe serves overlapped, results in declared
      // order (r20 opt, guide §2.6 — see [[graft.Cleanup.concurrently]])
      val rows = graft.Cleanup.concurrently(nprobes) { nprobe =>
        val served = ivfTopK(corpus, queries, idCol, vecCol, k,
          nlist, nprobe, scoreDecimals, centroids = Some(cents))
          .select(col("query_id"), col("neighbor_id"))
        val hits = truth.join(served, Seq("query_id", "neighbor_id"), "left_semi").count()
        (nlist, nprobe, nlist,
          math.min(1.0, nprobe.toDouble / nlist),
          if (total == 0L) 0.0 else hits.toDouble / total)
      }
      rows.toDF("nlist", "nprobe", "resolved_nlist", "probed_fraction", "recall_at_k")
    } finally { truth.unpersist(); () }
  }

  /** Routing thresholds for [[ivfAssignTwoLevel]]: the flat
    * [[ivfAssign]] route is taken only when the centroid set has
    * fewer than [[TwoLevelMinNlist]] rows AND the vector side has
    * fewer than [[TwoLevelMinRows]] rows. Since r19 both routes are
    * one exchange-free projection over the vector side (per-row
    * [[graft.plans.PqArgBestExpr]] argbests against driver-collected
    * centroid arrays), so two costs are balanced:
    *
    *  - the two-level route pays a FIXED cost that does not grow
    *    with n: the membership aggregation over the (nlist ×
    *    ⌈√nlist⌉) centroid cross join, its persist, and the driver
    *    collects of the live supers and of the member groups — a few
    *    small jobs that dominate at small inputs (measured before
    *    r19 at sf0.1, n = 2k, nlist = 45: ~2× the flat route);
    *  - the flat route pays nlist dot products per vector, against
    *    the two-level route's ~2·√nlist, so n·nlist in all. Before
    *    r19 the flat route also shipped those n·nlist scored rows,
    *    vectors included, through a rank window's exchange: at sf10
    *    with a FIXED nlist = 16 quantizer it measured ~10 s slower
    *    than the two-level route on q_ann_ivf_fitted. That is a
    *    pre-r19 figure; the exchange is gone, and the crossover has
    *    not been re-measured since.
    *
    * So: small nlist alone does not justify flat — only small
    * nlist × small n does. The bounds cap the flat route's dot
    * products at 64 × 100k a call; auto-sized callers
    * ([[autoNlist]]) cross the nlist bound at n ≈ 4k and never come
    * near the corner.
    *
    * The route is part of the RESULT contract (the two routes may
    * pick different cells for a vector near a group boundary), so
    * the oracle SQL branches on the same two counts —
    * [[graft.OracleSql]] INTERPOLATES these constants into its route
    * guard (r16), so the two sides cannot drift if the thresholds
    * move.
    */
  private[graft] val TwoLevelMinNlist = 64

  /** See [[TwoLevelMinNlist]] — the vector-side row bound of the
    * flat route.
    */
  private[graft] val TwoLevelMinRows = 100000L

  /** Driver-memory budget for the centroid collect in
    * [[ivfAssignTwoLevel]], in vector COMPONENTS (nlist × dim
    * doubles). The centroid frame is contractually broadcast-sized —
    * every caller ships it whole to every executor — but it is the one
    * driver-held term that grows with corpus size under [[autoNlist]]
    * (nlist = √n): at n = 10¹⁰ and dim = 4k that is ~4×10⁸ doubles,
    * ~3 GB, and the collect would OOM the driver mid-job with a
    * generic heap error. The default budget (2²⁶ components = 512 MB
    * of doubles) fails such an index with a clear, actionable message
    * instead; callers with bigger drivers can raise it. (Spark's own
    * `spark.driver.maxResultSize` also bounds the collect, but its
    * error names neither the operator nor the sizing knobs.)
    */
  // @volatile (r17): tests and multi-threaded drivers (the managed
  // stream's maintenance daemon collects centroids off the trigger
  // thread) may set and read this from different threads
  @volatile private[graft] var MaxCentroidComponents: Long = 1L << 26

  /** Nearest-centroid cell assignment — the IVF routing used by every
    * build/append path. Two routes behind one contract-stable switch:
    *
    *  - FLAT ([[ivfAssign]](keep = 1)) when the centroid set has
    *    fewer than [[TwoLevelMinNlist]] rows, or when the centroid id
    *    type is not integral (strings etc. — the two-level tiebreak
    *    needs numeric negation; the flat window orders any type);
    *  - TWO-LEVEL otherwise, cutting the assignment asymptote from
    *    n·nlist to ~2·n·√nlist dot products: the ⌈√nlist⌉
    *    SUPER-centroids (the same md5-order draw rule as
    *    [[ivfCentroids]], taken FROM the centroid set) partition the
    *    centroids into coarse groups; each vector ranks the
    *    super-centroids first and then only the winner group's
    *    members. Both ranks keep the engine-portable (cosine rounded
    *    to `scoreDecimals` desc, id asc) rule, so the full route —
    *    super draw, membership, both ranks — replays exactly in the
    *    oracle.
    *
    * The centroid frame is contractually tiny (it is broadcast whole
    * by every caller), so it is collected ONCE into a literal local
    * relation: the route decision, the id-contract guard, and every
    * downstream reference reuse the same driver-held rows — a
    * potentially expensive centroid lineage (the md5-order corpus
    * limit, or a fitted k-means training) is never evaluated twice,
    * and the flat branch runs no extra job at all.
    *
    * Two-level specifics, by design:
    *  - the chosen cell may differ from the flat argmax when the
    *    globally nearest centroid sits outside the winner group (IVF
    *    cells are a blocking structure, not a semantic claim; the
    *    gated recall pins hold — see PipelineSpec);
    *  - vectors rank only LIVE super-cells (those that won at least
    *    one member in the membership rank), so every vector lands in
    *    a non-empty group even under rounded-cosine ties;
    *  - both vector-side ranks are per-row argbests in ONE
    *    projection, so no exchange carries the vectors. The
    *    centroid-to-super membership rank is an ORDERED-STRUCT MAX
    *    AGGREGATION over the centroid rows: the (sim desc, id asc)
    *    rule becomes max over struct(sim, -id). The negation flips
    *    the tiebreak without touching the similarity component (no
    *    -0.0 artifacts), which is exactly why the guard below requires
    *    integral NON-NEGATIVE centroid ids on this route — a negative
    *    id would invert the documented asc tiebreak silently.
    */
  private[graft] def ivfAssignTwoLevel(
      df: DataFrame,
      cents0: DataFrame,
      idCol: String,
      vecCol: String,
      pfx: String,
      scoreDecimals: Int,
      carryCols: Seq[String] = Nil,
      knownRows: Option[Long] = None
  ): DataFrame = {
    import scala.jdk.CollectionConverters._
    val spark = cents0.sparkSession
    val rows = cents0.collect()
    // the driver-memory contract on this collect (VERDICT r15 #7):
    // nlist × dim must fit the documented budget — fail with the
    // sizing knobs named, not a generic heap error three stages later
    if (rows.nonEmpty) {
      val dim = rows.head.getSeq[Double](cents0.schema.fieldIndex("__cv__")).length
      require(rows.length.toLong * dim <= MaxCentroidComponents,
        s"ivfAssignTwoLevel: centroid frame is ${rows.length} cells x $dim dims = " +
          s"${rows.length.toLong * dim} components, over the ${MaxCentroidComponents}-component " +
          "driver budget (Similarity.MaxCentroidComponents) - the frame is collected AND " +
          "broadcast whole; train fewer cells (cap nlist below sqrt(n)), reduce the embedding " +
          "dim (randomProjection), or raise the budget on a bigger driver")
    }
    val cents = broadcast(spark.createDataFrame(rows.toList.asJava, cents0.schema))
    val idIdx = cents0.schema.fieldIndex("cent_id")
    val integralId = cents0.schema(idIdx).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
    // the vector-side count runs ONLY when the centroid set is small
    // enough for flat to be in play — auto-sized paths with nlist
    // < 64 imply n ≲ 4k, so the count is trivial there; a fixed
    // small-nlist quantizer over a big corpus pays one narrow scan
    // and is repaid many times over by the routing it buys. Callers
    // that already counted the frame (the AutoNlist builds) pass
    // `knownRows` so the scan never runs twice (r20 opt).
    def smallCorpus: Boolean = knownRows.getOrElse(df.count()) < TwoLevelMinRows
    if (!integralId || (rows.length < TwoLevelMinNlist && smallCorpus)) {
      if (!integralId && rows.length >= TwoLevelMinNlist)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"ivfAssignTwoLevel: centroid id type ${cents0.schema(idIdx).dataType} is not integral; " +
            "routing FLAT (n·nlist) — use integral non-negative ids for the two-level (n·√nlist) route")
      ivfAssign(df, cents, idCol, vecCol, pfx, keep = 1, scoreDecimals, carryCols)
    } else {
      require(!rows.exists(r => r.isNullAt(idIdx) || java.lang.Long.parseLong(r.get(idIdx).toString) < 0L),
        "ivfAssignTwoLevel: centroid ids must be non-negative — the two-level tiebreak " +
          "negates the id for its (sim desc, id asc) rule; a negative id would invert it silently")
      // super draw: the same md5-order rule as ivfCentroids, applied
      // driver-side to the already-collected centroid rows (pure
      // SELECTION — no arithmetic to diverge from the oracle replay,
      // which re-derives it with SQL md5 + the same ASCII-hex order)
      val nsup = math.ceil(math.sqrt(rows.length.toDouble)).toInt
      val md = java.security.MessageDigest.getInstance("MD5")
      def hex(s: String): String = {
        md.reset()
        md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      }
      val supRows = rows
        .sortBy(r => (hex(r.get(idIdx).toString), java.lang.Long.parseLong(r.get(idIdx).toString)))
        .take(nsup)
      val sups0 = broadcast(spark.createDataFrame(supRows.toList.asJava, cents0.schema))
        .select(col("cent_id").as("__sup__"), col("__cv__").as("__sv__"), col("__cn__").as("__sn__"))
      // centroid -> super membership: tiny (nlist x nsup) broadcast
      // cross join, same rank rule
      val msim = round(dot(col("__cv__"), col("__sv__")) / (col("__cn__") * col("__sn__")), scoreDecimals)
      val mem = cents.crossJoin(sups0)
        .withColumn("__mk__", struct(msim.as("s"), (col("__sup__") * lit(-1)).as("i")))
        .groupBy(col("cent_id"), col("__cv__"), col("__cn__"))
        .agg(max(col("__mk__")).as("__mkw__"))
        .withColumn("__sup__", col("__mkw__").getField("i") * lit(-1))
        .drop("__mkw__")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.Cleanup.defer(() => { mem.unpersist(); () })
      // the membership frame is tiny (one row per centroid) and below
      // it feeds only driver-side collection — materialize via the
      // collect itself (the former mem.count() warm-up job is gone,
      // r19 opt)
      // live super-cells (those that won >= 1 member), vectors
      // included — every centroid appears exactly once as a mem
      // cent_id, so the super's own row supplies its vector
      val live =
        mem.select(col("cent_id").as("__sup__"), col("__cv__").as("__sv__"), col("__cn__").as("__sn__"))
          .join(mem.select(col("__sup__")).distinct(), Seq("__sup__"))
      // PACKED two-level routing (r19 opt, guide §2.4): the former
      // crossJoin + max(struct) aggregations shuffled the corpus
      // TWICE (hash-agg exchanges keyed on the row, vectors riding
      // along). Both levels are per-row argmaxes over frames the
      // driver already holds whole, so route in ONE projection with
      // zero exchanges: level 1 picks the nearest live super
      // ([[graft.plans.PqArgBestExpr]] — the same rounded cosine and
      // the same (sim desc, id asc) tiebreak with the aggregation
      // form's NaN/null placement), and level 2's `subId` child is
      // the level-1 winner index, selecting that super's member-cell
      // array. Values bit-identical: same metric expressions over
      // the same collected doubles, same comparator semantics (see
      // PqArgBestExpr's contract note). Both levels' arrays sort by id
      // (the positional tiebreak); members group per live super, in
      // the supers' order.
      val sups = PqCodebook.ofCentroids(
        live.select(col("__sup__").cast("long").as("cent_id"), col("__sv__").as("__cv__"),
          col("__sn__").as("__cn__")))
      val (idType, memGroups) = collectCodewords(mem, col("__sup__").cast("long"), col("cent_id"),
        col("__cv__"), col("__cn__"))
      val memBySup = memGroups.toMap
      val members = PqCodebook(idType, sups.subs.head.map(sup => memBySup(sup.id)))
      val base = df.select(Seq(col(idCol).as(s"${pfx}_id"), col(vecCol).as(s"__${pfx}v__"),
        norm(col(vecCol)).as(s"__${pfx}n__")) ++ carryCols.map(col): _*)
      val pv = col(s"__${pfx}v__")
      val pn = col(s"__${pfx}n__")
      base.withColumn("__si__", sups.argBest(pv, pn, lit(0), scoreDecimals, l2 = false))
        .withColumn("cent_id", members.idAt(col("__si__"),
          members.argBest(pv, pn, col("__si__"), scoreDecimals, l2 = false)))
        .drop("__si__")
    }
  }

  /** Nearest `keep` centroids per row (norms staged per row/centroid;
    * ties on rounded similarity rank by centroid id so assignment is
    * exact across engines): (pfx_id, __pfxv__, __pfxn__, cent_id).
    */
  private[graft] def ivfAssign(
      df: DataFrame,
      cents: DataFrame,
      idCol: String,
      vecCol: String,
      pfx: String,
      keep: Int,
      scoreDecimals: Int,
      carryCols: Seq[String] = Nil
  ): DataFrame = {
    // keep=1 PACKED route (r19 opt): rank-1 nearest-centroid is the
    // same per-row argbest the PQ encode runs — one projection over
    // the collected centroid frame as a one-subspace [[PqCodebook]]
    // (same rounded cosine, same (sim desc, id asc) rule), replacing
    // the crossJoin × per-row window sort that shuffled the corpus
    // with its vectors
    if (keep == 1) {
      val cb = PqCodebook.ofCentroids(cents)
      val base = df.select(Seq(col(idCol).as(s"${pfx}_id"),
        col(vecCol).as(s"__${pfx}v__"),
        norm(col(vecCol)).as(s"__${pfx}n__")) ++ carryCols.map(col): _*)
      return if (cb.subs.head.isEmpty) base.where(lit(false)).withColumn("cent_id", lit(null).cast(cb.idType))
      else base.withColumn("cent_id", cb.idAt(lit(0),
        cb.argBest(col(s"__${pfx}v__"), col(s"__${pfx}n__"), lit(0), scoreDecimals, l2 = false)))
    }
    ivfAssignRanked(df, cents, idCol, vecCol, pfx, keep, scoreDecimals, carryCols)
      .drop("__cr__")
  }

  /** The window form of [[ivfAssign]] KEEPING the per-row rank column
    * `__cr__` (1-based nearest-centroid order). A caller that serves
    * several probe widths from one routing pass filters
    * `__cr__ <= width` instead of re-ranking — row_number's prefix
    * property makes the filtered frame identical to a fresh
    * keep = width assignment (r20 opt: the adaptive serve routed its
    * queries twice, once for the estimate and once widened).
    */
  private[graft] def ivfAssignRanked(
      df: DataFrame,
      cents: DataFrame,
      idCol: String,
      vecCol: String,
      pfx: String,
      keep: Int,
      scoreDecimals: Int,
      carryCols: Seq[String] = Nil
  ): DataFrame = {
    val scored = df
      .select(Seq(col(idCol).as(s"${pfx}_id"), col(vecCol).as(s"__${pfx}v__"),
        norm(col(vecCol)).as(s"__${pfx}n__")) ++ carryCols.map(col): _*)
      .crossJoin(cents)
      .withColumn("__csim__",
        round(dot(col(s"__${pfx}v__"), col("__cv__")) / (col(s"__${pfx}n__") * col("__cn__")), scoreDecimals))
    val w = Window.partitionBy(col(s"${pfx}_id")).orderBy(col("__csim__").desc, col("cent_id").asc)
    scored
      .withColumn("__cr__", row_number().over(w))
      .where(col("__cr__") <= keep)
      .drop("__cv__", "__cn__", "__csim__")
  }
}
