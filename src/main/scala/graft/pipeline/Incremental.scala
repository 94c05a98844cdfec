package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental near-duplicate detection against a PERSISTED
  * fingerprint store — what a rolling 100 TB crawl actually runs:
  * each new batch is MinHashed ONCE, its banded fingerprints are
  * joined against the store of every prior batch's fingerprints, and
  * the batch's own fingerprints are appended. No prior batch's TEXT
  * is ever re-tokenized or re-hashed; the recurring cost is
  * O(new batch) text work plus an equi join against the compact
  * (id, band, bandsig) store.
  *
  * Store layout ([[graft.sources.Sink.writePartitioned]]):
  * `batch=<label>/band=<b>/` — so re-running a batch's ingest
  * replaces exactly that batch's partitions (dynamic partition
  * overwrite = idempotent retries), and per-band reads prune to a
  * directory walk. `bandsig` is the in-file sort key, which parquet
  * min/max stats turn into bucket-range skipping on the join side.
  *
  * The candidate join reproduces [[Dedup.minhashCandidates]]'s
  * semantics EXACTLY over (store ∪ new) — same hot-bucket cap over
  * the combined bucket size, same (id_a < id_b) orientation, same
  * n_band_matches — pinned by the q_dedup_incremental oracle:
  * fingerprint batch A, persist, then process batch B against the
  * store == the one-shot candidates over A ∪ B, bit for bit.
  *
  * With `newPairsOnly = true` (the production mode) pairs internal to
  * the store — already emitted when their batches were processed —
  * are excluded, and a Bloom filter over the NEW batch's bucket keys
  * ([[Sketch.bloomBuild]], deterministic md5 bits) pre-prunes the
  * store side: a store row whose (band, bandsig) bucket provably
  * contains no new-batch member cannot form a new pair, and the
  * filter has NO false negatives, so pruning is loss-free. False
  * positives only add join input, never pairs (the equi join is
  * exact). The cap stays exact in this mode too: a bucket containing
  * a new-batch member always survives the Bloom (its own key was
  * inserted), so its combined size — and hence its cap decision — is
  * computed over every member, identical to the one-shot run.
  */
object IncrementalDedup {

  /** MinHash-fingerprint a batch and write it into the store at
    * `storePath` under `batch=<batchLabel>/band=<b>/`. Re-running the
    * same label replaces exactly that batch's partitions.
    */
  def writeBatchFingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      storePath: String,
      batchLabel: String,
      shingleWords: Int = 3,
      numHashes: Int = 8,
      bands: Int = 4
  ): Unit = {
    val fps = Dedup.bandedFingerprints(docs, idCol, textCol, shingleWords, numHashes, bands)
      .withColumn("batch", lit(batchLabel))
    graft.sources.Sink.writePartitioned(
      fps, storePath, partitionCols = Seq("batch", "band"),
      sortCols = Seq("bandsig", idCol))
  }

  /** The persisted store back as (idCol, band, bandsig) — `batch` is
    * dropped; candidates don't care which epoch a fingerprint came
    * from.
    */
  def readStore(spark: SparkSession, storePath: String, idCol: String): DataFrame =
    graft.sources.Parquet.read(spark, storePath).select(col(idCol), col("band"), col("bandsig"))

  /** Candidate pairs of `newDocs` processed against a fingerprint
    * `store` (from [[readStore]]): (id_a, id_b, n_band_matches),
    * id_a < id_b. Set `newPairsOnly = false` for full one-shot parity
    * (store-internal pairs included — the oracle mode); leave it true
    * in production so each pair is emitted exactly once, by the batch
    * that completed it. Call the cleanup thunk after the consuming
    * action.
    */
  def candidatesWithStoreCleanup(
      store: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int = 3,
      numHashes: Int = 8,
      bands: Int = 4,
      maxBucketSize: Int = 1000,
      newPairsOnly: Boolean = true,
      bloomBits: Int = 0,
      bloomHashes: Int = 0
  ): (DataFrame, () => Unit) = {
    // the new batch's fingerprints: computed once, persisted — they
    // feed the Bloom build, both join sides, and the store append
    val newFps = Dedup
      .bandedFingerprints(newDocs, idCol, textCol, shingleWords, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val key = concat_ws("|", col("band").cast("string"), col("bandsig"))
    val storeSide =
      if (!newPairsOnly) store
      else {
        // Bloom over the new batch's bucket keys prunes store rows to
        // buckets that MIGHT intersect the batch. Whole buckets pass
        // or fail together (the key is the bucket id), so surviving
        // buckets keep every member and the cap below stays exact.
        //
        // The filter is sized from the BATCH, not a constant: ~10
        // bits per distinct bucket key with 7 probes ≈ 0.8% false
        // positives (m/n = 10, k = 7 ≈ the m/n·ln2 optimum), so the
        // store-side leak stays sub-percent no matter how the batch
        // grows; a fixed 2^20 filter saturated once batches passed
        // ~100k buckets and quietly stopped pruning. Pass bloomBits
        // (with bloomHashes) to override.
        val newKeys = newFps.select(key.as("__k__")).distinct()
        val mBits =
          if (bloomBits > 0) bloomBits
          else {
            val target = math.max(1L << 16, newKeys.count() * 10L)
            // cap at 2^27 bits = 16 MB of filter words to broadcast
            (math.min(target, 1L << 27) + 63L & ~63L).toInt
          }
        // NOTE (param coupling): the probe-count default changed 3 → 7
        // in r12 alongside the batch-sized filter (k = 7 ≈ m/n·ln2 at
        // m/n = 10). A caller that pins bloomBits while leaving
        // bloomHashes at default gets 7 probes against their chosen
        // size — correctness-safe either way (Bloom false positives
        // only weaken pruning, never results), but pin BOTH params
        // together when tuning; they are jointly optimal, not
        // independent knobs.
        val kHashes = if (bloomHashes > 0) bloomHashes else 7
        val bloom = Sketch.bloomBuild(newKeys, "__k__", mBits, kHashes)
        val survivors = Sketch
          .bloomProbe(bloom, store.select(key.as("__k__")), "__k__", mBits, kHashes)
          .where(col("maybe_seen")).select(col("__k__"))
        // deliberately NO broadcast hint on the survivors: their size
        // is batch-keys + fp-rate x store-keys, which can exceed any
        // driver budget when the STORE is huge. AQE picks broadcast
        // at runtime when the surviving set is actually small and
        // keeps a shuffled semi join otherwise (IncrementalDedupSpec
        // pins the big-store plan) — the broadcast decision is made
        // on exact runtime sizes, not a guess.
        store
          .withColumn("__k__", key)
          .join(survivors, Seq("__k__"), "left_semi")
          .drop("__k__")
      }
    val combined = storeSide.withColumn("__new__", lit(false))
      .unionByName(newFps.withColumn("__new__", lit(true)))
    // identical cap rule to the one-shot path: combined bucket size
    val wBucket = Window.partitionBy(col("band"), col("bandsig"))
    val capped = combined
      .withColumn("__bsize__", count(lit(1)).over(wBucket))
      .where(col("__bsize__") <= maxBucketSize)
      .drop("__bsize__")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = capped.select(col("band"), col("bandsig"), col(idCol).as("id_a"), col("__new__").as("__na__"))
    val b = capped.select(col("band"), col("bandsig"), col(idCol).as("id_b"), col("__new__").as("__nb__"))
    val joined = a.join(b, Seq("band", "bandsig"))
      .where(col("id_a") < col("id_b"))
    val scoped = if (newPairsOnly) joined.where(col("__na__") || col("__nb__")) else joined
    val pairs = scoped
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_band_matches"))
    (pairs, () => { newFps.unpersist(); capped.unpersist(); () })
  }

  /** One full incremental step: candidates of `newDocs` vs the store
    * at `storePath`, and the batch's fingerprints appended under
    * `batchLabel` so the NEXT batch sees them. The write happens
    * eagerly (it is the cheap part — the fingerprints are already
    * persisted for the join); the returned candidate frame is lazy as
    * usual.
    */
  def processBatch(
      spark: SparkSession,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      storePath: String,
      batchLabel: String,
      shingleWords: Int = 3,
      numHashes: Int = 8,
      bands: Int = 4,
      maxBucketSize: Int = 1000
  ): (DataFrame, () => Unit) = {
    // bootstrap: the FIRST batch has no store yet — process against
    // an empty fingerprint frame (schema borrowed from the batch's
    // own fingerprints) instead of failing parquet schema inference
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an existing-but-empty directory (no batch= partitions) is still
    // an empty store — parquet schema inference would fail on it
    val hasData = fs.exists(root) &&
      fs.listStatus(root).exists(st => !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
    // the batch's own partitions are excluded BY LABEL, not by write
    // ordering: the parquet file listing is lazy, so by the time the
    // candidate frame executes, this step's own write below is already
    // on disk and would otherwise double every new fingerprint
    // (pinned by IncrementalDedupSpec's chaining test)
    val store =
      if (hasData)
        graft.sources.Parquet.read(spark, storePath)
          .where(col("batch") =!= batchLabel)
          .select(col(idCol), col("band"), col("bandsig"))
      else
        Dedup.bandedFingerprints(newDocs, idCol, textCol, shingleWords, numHashes, bands).limit(0)
    val (pairs, cleanup) = candidatesWithStoreCleanup(
      store, newDocs, idCol, textCol, shingleWords, numHashes, bands, maxBucketSize)
    writeBatchFingerprints(newDocs, idCol, textCol, storePath, batchLabel,
      shingleWords, numHashes, bands)
    (pairs, cleanup)
  }
}
