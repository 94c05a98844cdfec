package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Link-graph analysis over an edge list — the web-graph quality
  * signals (PageRank-family centrality) crawl pipelines score pages
  * with, fed by [[UrlOps.outlinks]] edges.
  */
object Graph {

  /** Largest edge list [[pageRankWithCleanup]] ranks on the driver.
    * It bounds the driver heap the driver route holds for one call:
    * the collected rows (a row and two strings an edge, on the order
    * of 150 bytes for short ids), two int arrays over the edges, and
    * the node table and rank arrays — tens of MB at 2^18 edges. It is
    * a constant, not a conf: the route is decided from the collected
    * row count, and below the cap one thread finishes the iteration
    * in milliseconds while the distributed loop pays about eight Spark
    * jobs a round.
    */
  private[graft] val DriverEdgeCap: Int = 1 << 18

  /** PageRank by power iteration, every step deterministic and
    * engine-portable (the kmeans recipe): ranks round to `decimals`
    * each round, so the DuckDB oracle replays the exact trajectory
    * with unrolled CTEs. The update is the standard
    * dangling-mass-redistributing form:
    *
    *   p'(v) = round((1-d)/N + d * (sum over edges u->v of
    *           p(u)/outdeg(u)  +  dangling/N), decimals)
    *
    * with `dangling` the summed rank of zero-outdegree nodes.
    *
    * Scale shape: one bounded collect of at most [[DriverEdgeCap]] + 1
    * edges picks the route from the rows it returns, never from a
    * plan estimate (an inflated estimate cannot flip it).
    *  - Driver route, at most [[DriverEdgeCap]] edges: the whole
    *    iteration runs in Scala over the collected edges and the
    *    result is a local relation — one Spark job in all, where the
    *    distributed loop runs about eight per round.
    *  - Distributed route, above the cap: per iteration the edge
    *    contributions shuffle once keyed on dst with map-side combine
    *    (edges carry ids only, never payloads); N and the dangling
    *    mass are broadcast scalar aggs; the node frame (id, outdeg)
    *    is computed once and persisted.
    * Both routes replay the same expression tree term for term, so
    * they return identical doubles. The cap is not a knob: the local
    * route wins at every size below it, and above it the driver heap,
    * not speed, is the limit. Iteration count is the caller's
    * convergence budget (fixed-iteration PageRank is the standard
    * corpus-scoring form — convergence-tested loops belong offline).
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      damping: Double = 0.85,
      decimals: Int = 6
  ): DataFrame =
  {
    val (out, release) = pageRankWithCleanup(edges, srcCol, dstCol, iters, damping, decimals)
    graft.Cleanup.deferFragile(release) // releases checkpoint blocks
    out
  }

  /** [[pageRank]] plus the cleanup thunk releasing the distributed
    * route's persisted edge + node frames (both are read every
    * iteration; without the persist each round would re-derive them
    * from the source plan). On the driver route the thunk is a no-op.
    */
  def pageRankWithCleanup(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      damping: Double = 0.85,
      decimals: Int = 6
  ): (DataFrame, () => Unit) = {
    // persisted BEFORE the probe, so the distributed route reads the
    // partitions the probe already computed instead of recomputing them
    val e = persistedEdges(edges, srcCol, dstCol, iters)
    graft.internal.collectAtMost(e, DriverEdgeCap) match {
      case None => powerIterate(e, iters, damping, decimals)
      case Some(rows) =>
        e.unpersist()
        (driverPageRank(e, rows, iters, damping, decimals), () => ())
    }
  }

  /** The distributed route of [[pageRankWithCleanup]] at any size. */
  private[graft] def pageRankDistributed(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      damping: Double = 0.85,
      decimals: Int = 6
  ): (DataFrame, () => Unit) =
    powerIterate(persistedEdges(edges, srcCol, dstCol, iters), iters, damping, decimals)

  /** The `(src, dst)` string edge list both routes read, persisted. */
  private def persistedEdges(edges: DataFrame, srcCol: String, dstCol: String,
                             iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    edges.select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** The driver route over the collected `(src, dst)` rows of `e`.
    * Every step mirrors the distributed plan: a null endpoint is a
    * node (`distinct` keeps it) whose degree and contribution joins
    * miss (a join drops null keys), so it dangles and receives no
    * inbound mass, and the update keeps the Catalyst association.
    */
  private def driverPageRank(e: DataFrame, rows: Array[Row], iters: Int, damping: Double,
                             decimals: Int): DataFrame = {
    val index = new java.util.HashMap[String, Integer]() // admits the null key
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    def id(node: String): Int = {
      val i = index.get(node)
      if (i != null) i
      else { index.put(node, names.length); names += node; names.length - 1 }
    }
    val src = rows.map(r => id(r.getString(0)))
    val dst = rows.map(r => id(r.getString(1)))
    val n = names.length
    val deg = new Array[Long](n)
    src.foreach(u => if (names(u) != null) deg(u) += 1)
    def round(x: Double): Double = graft.plans.PqArgBestExpr.roundHalfUp(x, decimals)
    val nd = n.toDouble
    var rank = Array.fill(n)(round(1.0 / nd))
    for (_ <- 1 to iters) {
      var dm = 0.0
      for (v <- 0 until n if deg(v) == 0) dm += rank(v)
      val in = new Array[Double](n)
      for (k <- src.indices if deg(src(k)) > 0 && names(dst(k)) != null)
        in(dst(k)) += rank(src(k)) / deg(src(k))
      rank = Array.tabulate(n)(v => round((1.0 - damping) / nd + damping * (in(v) + dm / nd)))
    }
    val schema = StructType(Seq(
      StructField("node", StringType, e.schema("src").nullable || e.schema("dst").nullable),
      StructField("rank", DoubleType)))
    e.sparkSession.createDataFrame(
      java.util.Arrays.asList(Array.tabulate[Row](n)(v => Row(names(v), rank(v))): _*), schema)
  }

  /** The distributed power iteration over the persisted edges `e`;
    * the returned thunk releases `e`, the node frame and the last
    * round's checkpoint.
    */
  private def powerIterate(e: DataFrame, iters: Int, damping: Double,
                           decimals: Int): (DataFrame, () => Unit) = {
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
    val outdeg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("__deg__"))
    val base = nodes
      .join(outdeg, Seq("node"), "left")
      .select(col("node"), coalesce(col("__deg__"), lit(0L)).as("__deg__"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nDf = broadcast(base.agg(count(lit(1)).cast("double").as("__n__")))
    // each round reads the previous ranks TWICE (dangling mass +
    // contributions), so every round must materialize — but only the
    // CURRENT round's blocks are live input. Eager localCheckpoint +
    // immediate release of round N-1 (the connectedComponents
    // pattern, Dedup.scala) keeps at most two rounds cached at any
    // instant instead of O(iters) frames held to the cleanup thunk,
    // and truncates lineage so recompute can't go exponential.
    var (ranks, releaseRanks) = graft.internal.localCheckpointTracked(
      base.crossJoin(nDf)
        .select(col("node"), col("__deg__"), col("__n__"),
          round(lit(1.0) / col("__n__"), decimals).as("rank")),
      eager = true)
    for (_ <- 1 to iters) {
      val dangling = broadcast(ranks.where(col("__deg__") === 0)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm__")))
      val contribs = e
        // dangling rows can't join (no outgoing edges) — filtering
        // them first keeps the join input minimal and avoids even
        // producing the IEEE-infinite rank/0.0 rows
        .join(ranks.where(col("__deg__") > 0)
          .select(col("node").as("src"), (col("rank") / col("__deg__")).as("__c__")),
          Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("__c__")).as("__in__"))
      val (updated, releaseUpdated) = graft.internal.localCheckpointTracked(
        base.crossJoin(nDf)
          .join(contribs, Seq("node"), "left")
          .crossJoin(dangling)
          .select(col("node"), col("__deg__"), col("__n__"),
            round((lit(1.0) - lit(damping)) / col("__n__") +
              lit(damping) * (coalesce(col("__in__"), lit(0.0)) + col("__dm__") / col("__n__")),
              decimals).as("rank")),
        eager = true)
      releaseRanks() // round N-1's blocks are superseded by round N
      ranks = updated
      releaseRanks = releaseUpdated
    }
    (ranks.select(col("node"), col("rank")),
      () => { e.unpersist(); base.unpersist(); releaseRanks() })
  }

  /** Collapse a URL-level edge list to the HOST graph: both endpoints
    * map through [[UrlOps.urlHost]], intra-host edges (the vast
    * majority of a real crawl's links — nav bars, pagination) drop,
    * and parallel edges dedup to one `(host_src, host_dst)` pair.
    * Feeding the result to [[pageRank]] gives domain-level centrality
    * — the crawl-prioritization view (which DOMAINS matter) rather
    * than the page view.
    *
    * Scale shape: the host map is per-row codegen'd expressions that
    * pipeline with the scan; the only shuffle is the distinct on the
    * collapsed pairs, whose cardinality is |hosts|² -bounded and in
    * practice orders of magnitude below the URL edge count — the
    * whole point of aggregating before iterating.
    */
  def hostEdges(edges: DataFrame, srcUrlCol: String, dstUrlCol: String): DataFrame =
    edges
      .select(
        UrlOps.urlHost(col(srcUrlCol)).as("host_src"),
        UrlOps.urlHost(col(dstUrlCol)).as("host_dst"))
      .where(col("host_src") =!= "" && col("host_dst") =!= "" &&
        col("host_src") =!= col("host_dst"))
      .distinct()
}
