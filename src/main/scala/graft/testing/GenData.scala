package graft.testing

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator for scale testing.
  *
  * Reproduces the driver's TPC-H-ish star schema (TESTDATA.md: region
  * nation customer supplier part orders lineitem events documents
  * embeddings) at any scale factor, with the distributions measured
  * from `/root/testdata/sf0.1`:
  *
  *  - lineitem fanout: rows pick a uniform random orderkey, so
  *    per-order counts are Binomial(n, 1/orders) ~ Poisson(4);
  *    `l_linenumber` is uniform 1..7 (NOT sequential — matched to the
  *    observed flat linenumber histogram).
  *  - documents: 10–100 words uniform from a 30-word vocabulary;
  *    ~5% of docs are a near-dup of an earlier doc (same text plus a
  *    trailing `" dup"` token — the observed mutation), ~0.3% are
  *    exact copies. Languages en 41% / fr es de zh ~15% each over the
  *    SAME vocabulary (lang is a label, as shipped).
  *  - events: value ~ Exponential(mean 50), ts stratified-uniform over
  *    Jan 2024 and monotone in event_id (as shipped).
  *  - embeddings: 64-dim N(0, 0.1315²) with a small (σ=0.02)
  *    deterministic per-label centroid offset, L2-normalized (the
  *    shipped vectors have ‖v‖ = 1 exactly), labels uniform 0..9.
  *
  * All randomness is `xxhash64`-derived from (salt, row id), so the
  * output is bit-identical across runs, partitionings, and cluster
  * sizes — no RNG state, no sequential dependence, every column a pure
  * codegen'd expression over `spark.range`. That is the property that
  * makes this generator cluster-shaped: generating sf1000 on 1000
  * executors is the same embarrassingly parallel `range` scan.
  *
  * Usage: `GenData.main(Array(outDir, sf))` or
  * `GenData.generate(spark, outDir, sf)`.
  */
object GenData {

  private val Mask53 = (1L << 53) - 1
  private val Two53 = (1L << 53).toDouble

  /** Uniform [0,1) from a salt and any number of driving columns. */
  private def u(salt: Int, cols: Column*): Column =
    (xxhash64((lit(salt) +: cols): _*).bitwiseAND(lit(Mask53))).cast("double") / lit(Two53)

  /** Standard normal via Box–Muller on two independent hash uniforms. */
  private def gauss(saltA: Int, saltB: Int, cols: Column*): Column =
    sqrt(lit(-2.0) * log(lit(1.0) - u(saltA, cols: _*))) *
      cos(lit(2.0 * math.Pi) * u(saltB, cols: _*))

  private def pick(values: Seq[String], salt: Int, cols: Column*): Column =
    element_at(
      array(values.map(lit): _*),
      pmod(xxhash64((lit(salt) +: cols): _*), lit(values.size)).cast("int") + 1)

  private val Vocab = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenData <outDir> <sf>")
    val outDir = args(0)
    val sf = args(1).toDouble
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    generate(spark, outDir, sf)
    spark.stop()
  }

  def generate(spark: SparkSession, outDir: String, sf: Double): Unit = {
    import spark.implicits._

    def n(base: Long): Long = math.max(1L, math.round(base * sf))
    val nCustomer = n(150000)
    val nSupplier = n(10000)
    val nPart = n(200000)
    val nOrders = n(1500000)
    val nLineitem = n(6000000)
    val nEvents = n(1000000)
    val nUsers = n(15000)
    val nDocs = n(50000)
    val nVecs = n(20000)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[gen] $name done")
    }

    val id = col("id")

    write(
      Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
        .toDF("r_regionkey", "r_name"),
      "region")

    write(
      spark.range(25).select(
        id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"),
        (id % 5).cast("int").as("n_regionkey")),
      "nation")

    write(
      spark.range(nCustomer).select(
        id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        (u(101, id) * 25).cast("int").as("c_nationkey"),
        round(lit(-1000.0) + u(102, id) * 11000.0, 2).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 103, id)
          .as("c_mktsegment")),
      "customer")

    write(
      spark.range(nSupplier).select(
        id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        (u(111, id) * 25).cast("int").as("s_nationkey"),
        round(lit(-1000.0) + u(112, id) * 11000.0, 2).as("s_acctbal")),
      "supplier")

    write(
      spark.range(nPart).select(
        id.as("p_partkey"),
        concat(
          pick(Seq("blue", "cold", "hot", "large", "new", "old", "red", "small"), 121, id),
          lit(" "),
          pick(Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"), 122, id))
          .as("p_name"),
        concat(lit("Brand#"), pmod(xxhash64(lit(123), id), lit(25))).as("p_brand"),
        pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), 124, id)
          .as("p_type"),
        ((u(125, id) * 50).cast("int") + 1).as("p_size"),
        round(lit(900.0) + (id % 1000).cast("double") * 0.1, 1).as("p_retailprice")),
      "part")

    // o_orderdate spans 1995-01-01 .. 2001-08-01 (2404 days) at
    // midnight; recomputed hash-deterministically from the orderkey in
    // the lineitem generator below, so no orders↔lineitem join is
    // needed to keep l_shipdate consistent with its order's date.
    def orderDate(okey: Column): Column =
      date_add(to_date(lit("1995-01-01")), (u(131, okey) * 2405).cast("int"))

    write(
      spark.range(nOrders).select(
        id.as("o_orderkey"),
        (u(132, id) * nCustomer).cast("long").as("o_custkey"),
        pick(Seq("F", "O", "P"), 133, id).as("o_orderstatus"),
        round(lit(1000.0) + u(134, id) * 499000.0, 2).as("o_totalprice"),
        orderDate(id).cast("timestamp").as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 135, id)
          .as("o_orderpriority")),
      "orders")

    val lOrderkey = (u(141, id) * nOrders).cast("long")
    write(
      spark.range(nLineitem).select(
        lOrderkey.as("l_orderkey"),
        (u(142, id) * nPart).cast("long").as("l_partkey"),
        (u(143, id) * nSupplier).cast("long").as("l_suppkey"),
        ((u(144, id) * 7).cast("int") + 1).as("l_linenumber"),
        ((u(145, id) * 50).cast("int") + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + u(146, id) * 104100.0, 2).as("l_extendedprice"),
        round(u(147, id) * 0.1, 2).as("l_discount"),
        round(u(148, id) * 0.08, 2).as("l_tax"),
        pick(Seq("A", "N", "R"), 149, id).as("l_returnflag"),
        pick(Seq("F", "O"), 150, id).as("l_linestatus"),
        date_add(orderDate(lOrderkey), (u(151, id) * 95).cast("int") + 1)
          .cast("timestamp").as("l_shipdate")),
      "lineitem")

    // stratified-uniform timestamps, monotone in event_id: event i
    // lands uniformly inside slot i of Jan 2024 split into nEvents
    // slots — matches the shipped table's sorted-by-id layout without
    // a global sort.
    val epochMicros = 1704067200000000L // 2024-01-01T00:00:00Z
    val slotMicros = 30.0 * 86400 * 1e6 / nEvents
    write(
      spark.range(nEvents).select(
        id.as("event_id"),
        timestamp_micros(
          (lit(epochMicros.toDouble) + (id.cast("double") + u(161, id)) * slotMicros)
            .cast("long")).as("ts"),
        (u(162, id) * nUsers).cast("long").as("user_id"),
        pick(Seq("click", "error", "purchase", "signup", "view"), 163, id).as("event_type"),
        round(lit(-50.0) * log(lit(1.0) - u(164, id)), 2).as("value"),
        concat(lit("{\"k\": "), (u(165, id) * 100).cast("int"), lit("}")).as("props")),
      "events")

    // documents: text is a pure function of gen_id, so a dup row just
    // generates from its base doc's id — no self-join. Near-dups
    // (~5%) append the " dup" token; exact dups (~0.3%) copy verbatim.
    // Bases are drawn from the preceding ≤200 ids, keeping duplicate
    // group sizes O(1) as the corpus scales (edges ∝ docs, matching
    // the shipped corpus's 2-member groups).
    val kindU = u(171, id)
    val baseId = id - 1 - (u(172, id) * least(id, lit(200)).cast("double")).cast("long")
    val genId = when(id === 0 || kindU >= 0.053, id).otherwise(baseId)
    val nWords = (pmod(xxhash64(lit(173), genId), lit(91)).cast("int") + 10)
    val baseText = array_join(
      transform(
        sequence(lit(0), nWords - 1),
        j => element_at(
          array(Vocab.map(lit): _*),
          pmod(xxhash64(lit(174), genId, j), lit(Vocab.size)).cast("int") + 1)),
      " ")
    val text = when(id =!= 0 && kindU >= 0.003 && kindU < 0.053,
      concat(baseText, lit(" dup"))).otherwise(baseText)
    val langU = u(175, id)
    write(
      spark.range(nDocs).select(
        id.as("doc_id"),
        text.as("text"),
        when(langU < 0.41, "en").when(langU < 0.5575, "fr").when(langU < 0.705, "es")
          .when(langU < 0.8525, "de").otherwise("zh").as("lang"),
        concat(lit("src"), pmod(xxhash64(lit(176), id), lit(20))).as("source"),
        length(text).as("n_chars")),
      "documents")

    // shipped embeddings are L2-normalized (‖v‖ = 1.0 exactly at
    // sf0.1) — generate gaussian + small label-centroid offset, then
    // normalize.
    val label = pmod(xxhash64(lit(181), id), lit(10)).cast("int")
    val rawVec = transform(
      sequence(lit(0), lit(63)),
      d => gauss(182, 183, id, d) * lit(0.1315) + gauss(184, 185, label, d) * lit(0.02))
    val norm = sqrt(aggregate(rawVec, lit(0.0), (acc, x) => acc + x * x))
    write(
      spark.range(nVecs)
        .select(id.as("vec_id"), rawVec.as("raw"), norm.as("nrm"), label.as("label"))
        .select(
          col("vec_id"),
          transform(col("raw"), x => (x / col("nrm")).cast("float")).as("embedding"),
          col("label")),
      "embeddings")
  }
}
