package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Partitioned parquet sink — the output half of a 100 TB pipeline.
  * (Reference analog: the parquet side-cache in
  * `pd_utils/optimize/load/__init__.py` is its only writer; a
  * distributed pipeline additionally needs partition layout, file
  * sizing, and idempotent re-runs, which this provides.)
  *
  * Layout rules that survive scale:
  *   - `partitionCols` must be LOW-cardinality (a date, a language, a
  *     source shard) — every distinct value is a filesystem directory
  *     and a catalog entry; partition pruning then turns reads of
  *     `WHERE lang = 'en'` into a directory walk, never a scan.
  *   - `maxRecordsPerFile` caps file size so a hot partition value
  *     still rolls into scan-parallel files instead of one
  *     multi-gigabyte object.
  *   - `filesPerPartition > 1` spreads a hot partition's WRITE across
  *     that many tasks via a content-hash salt — deterministic, no
  *     RNG — so one skewed key cannot serialize the write stage.
  *
  * Idempotency: writes run in dynamic partition-overwrite mode — a
  * re-run (full or of a partition subset) atomically replaces exactly
  * the partitions present in the input and leaves every other
  * partition untouched. Same input + same session config → same
  * directory set, same per-directory file count, same row content
  * per file (task assignment is content-hashed and in-file order is
  * `sortCols`-stabilized), so re-runs are safe to point downstream
  * consumers at. Each file is sorted by `partitionCols ++ sortCols`:
  * Spark's planned write sorts every task by the partition columns and
  * would drop a sort by `sortCols` alone.
  *
  * Schema: every read of a layout ([[readPartitioned]],
  * [[readSnapshot]], and the reads inside [[compactPartitions]],
  * [[upsertPartitioned]], [[upsertRelocating]] and [[deleteKeys]])
  * takes the data schema from the Catalyst schema Spark's writer
  * stores in the footer of one file, read on the driver, and the
  * partition columns from the directory names; none runs a
  * schema-inference job. [[readPartitionedEvolved]] merges every
  * footer instead.
  *
  * Jobs per op on an existing layout, when the keys or batch are small
  * enough to broadcast and need no shuffle of their own:
  *   - [[writePartitioned]]: 2 (the placement shuffle, the write);
  *   - [[compactPartitions]]: the same 2;
  *   - [[deleteKeys]], [[upsertPartitioned]], [[upsertRelocating]]: 4 —
  *     one for the touched partition set (each task dedups its own
  *     tuples, the driver dedups the rest; no shuffle), then the
  *     broadcast of the keys into the left-anti join, the placement
  *     shuffle and the write.
  *
  * Bucketed (catalog) output for shuffle-free same-key joins lives in
  * [[Bucketing]]; this sink is the path-based side.
  */
object Sink {

  /** Write `df` under `path` partitioned by `partitionCols`.
    *
    * @param sortCols          in-file row order (also what a
    *                          min/max-pruning reader benefits from);
    *                          empty = leave task order
    * @param maxRecordsPerFile roll a task's output file after this
    *                          many rows (0 = single file per task)
    * @param filesPerPartition max write tasks per partition value
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      sortCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      filesPerPartition: Int = 1
  ): Unit = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    require(filesPerPartition >= 1, s"filesPerPartition must be >= 1, got $filesPerPartition")
    val dataCols = df.columns.filterNot(partitionCols.contains).toSeq
    require(dataCols.nonEmpty, "df must carry at least one non-partition column")
    // one write task per partition value (hash-colocated), or, with a
    // salt, up to filesPerPartition tasks per value; the salt is a
    // content hash so the row→file assignment is deterministic. The
    // task count is pinned explicitly — an AQE-coalesced repartition
    // would fold salted buckets back into one task and make the
    // layout a function of runtime statistics instead of the input
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val placed =
      if (filesPerPartition == 1) df.repartition(n, partitionCols.map(col): _*)
      else df
        .withColumn("__file__", pmod(xxhash64(dataCols.map(col): _*), lit(filesPerPartition)))
        .repartition(n, (partitionCols :+ "__file__").map(col): _*)
        .drop("__file__")
    // the planned write sorts each task by partitionCols itself and
    // drops any inner sort it replaces; leading with partitionCols
    // makes its required ordering a prefix of ours, so it adds none
    val ordered =
      if (sortCols.nonEmpty) placed.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      else placed
    val w = ordered.write
      .mode(SaveMode.Overwrite)
      // replace only the partitions present in df; everything else on
      // disk survives — per-write override, session config untouched
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
    val capped =
      if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w
    capped.parquet(path)
  }

  /** The written dataset back as a DataFrame (partition columns are
    * reconstructed from the directory layout; partition-value filters
    * on them prune to a directory walk).
    */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    readLayout(spark, path, Seq(path))

  /** [[readPartitioned]] with schema evolution: union the schemas of
    * every file footer (`mergeSchema`) so batches written before a
    * column existed read as null for it — the contract a long-lived
    * incremental layout needs when the pipeline grows a field (a new
    * quality score, a new provenance tag). Costs a footer read per
    * file at planning (why it is not the default read path); run
    * [[compactPartitions]] after wide-scale evolution to re-write
    * stragglers under the current schema.
    */
  def readPartitionedEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** `paths` (partition dirs or data files under `basePath`) as one
    * DataFrame, without Spark's schema-inference job. The data schema
    * is the Catalyst schema Spark's writer stores in every file footer
    * (`org.apache.spark.sql.parquet.row.metadata`), read on the driver
    * from the first visible file by name; Spark's own inference, without
    * `mergeSchema`, also reads a single file's footer, but in a job.
    * Partition columns are still discovered, and typed, from the
    * directory names. A layout whose first file lacks that metadata
    * (written by another parquet writer) is read with Spark's inference.
    */
  private[graft] def readLayout(spark: SparkSession, basePath: String, paths: Seq[String]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    def firstFile(fs: FileSystem, st: FileStatus): Option[Path] =
      if (st.isFile) Some(st.getPath)
      else fs.listStatus(st.getPath).sortBy(_.getPath.getName).iterator
        .filterNot(c => isHidden(c.getPath))
        .flatMap(firstFile(fs, _))
        .nextOption()
    // a missing path is left to Spark's read, which reports it
    val footer = paths.iterator.map(new Path(_)).flatMap { p =>
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) firstFile(fs, fs.getFileStatus(p)) else None
    }.nextOption()
    val schema = footer.flatMap { f =>
      val in = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try Option(in.getFileMetaData.getKeyValueMetaData.get(RowMetadataKey))
      finally in.close()
    }.flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption.collect { case st: StructType => st })
    val reader = spark.read.option("basePath", basePath)
    schema.fold(reader)(st => reader.schema(st)).parquet(paths: _*)
  }

  /** Where Spark's parquet writer stores the written Catalyst schema. */
  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  // Spark's own hidden-path rule: dot-prefixed always; underscore-
  // prefixed only when NOT a partition dir (`col=value` contains '=')
  // -- an underscore-named partition COLUMN must stay visible
  private def isHidden(p: Path): Boolean =
    p.getName.startsWith(".") || (p.getName.startsWith("_") && !p.getName.contains("="))

  /** The visible partition dirs exactly `depth` levels below `dir`. */
  private def leaves(fs: FileSystem, dir: Path, depth: Int): Seq[Path] =
    if (depth == 0) Seq(dir)
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && !isHidden(st.getPath))
      .flatMap(st => leaves(fs, st.getPath, depth - 1))

  /** The visible parquet data files directly in `dir`. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !isHidden(st.getPath) && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)

  /** Small-file maintenance for a [[writePartitioned]] layout: every
    * partition whose parquet file count exceeds `targetFiles` is
    * rewritten down to at most `targetFiles` files (same content,
    * `sortCols` in-file order restored), all other partitions are
    * left byte-for-byte untouched. Returns the relative paths of the
    * partitions it rewrote.
    *
    * This is the aging pass a long-lived incremental sink needs:
    * dynamic partition overwrite keeps RE-RUNS clean, but a partition
    * that keeps RECEIVING small appends (hourly crawl batches into a
    * daily partition) accretes files until open/seek overhead — not
    * bytes — dominates scan cost. Compaction touches only the
    * overfull partitions, so its cost is proportional to the data
    * actually fragmented, never to the table.
    *
    * Mechanics: overfull leaf directories are discovered with one
    * driver-side listing (cheap by the low-cardinality partition
    * contract), their rows are read with the root as `basePath` (so
    * partition values survive), rewritten through the same
    * deterministic placement as [[writePartitioned]] into a hidden
    * staging dir under the root (dot-prefixed — invisible to any
    * concurrent reader), and swapped in per partition by renaming
    * the staged files IN before deleting the old ones (names never
    * collide — Spark stamps the write job's UUID into file names).
    * A reader racing the swap always lists at least one complete
    * generation: old, old+new (briefly, duplicate rows), or new —
    * never a torn or empty partition. As with [[upsertPartitioned]],
    * that old+new window means a concurrent reader can see every row
    * TWICE — readers needing at-most-once rows during maintenance
    * must snapshot the listing or retry; completeness-only readers
    * are always safe.
    * Writing in place instead would trip Spark's
    * cannot-overwrite-a-read-path guard and, worse, delete inputs
    * before outputs commit.
    */
  def compactPartitions(
      spark: SparkSession,
      path: String,
      partitionCols: Seq[String],
      sortCols: Seq[String] = Nil,
      targetFiles: Int = 1,
      maxRecordsPerFile: Long = 0L
  ): Seq[String] = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualified so relativization below works: listStatus returns
    // scheme-qualified paths, and a string-prefix mismatch would make
    // the staging path silently resolve back to the source partition
    val root = fs.makeQualified(new Path(path))
    if (!fs.exists(root)) return Nil

    val overfull = leaves(fs, root, partitionCols.length)
      .filter(d => dataFiles(fs, d).size > targetFiles)
    if (overfull.isEmpty) return Nil

    val staging = new Path(root, s".compact-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      val rows = readLayout(spark, path, overfull.map(_.toString))
      writePartitioned(rows, staging.toString, partitionCols, sortCols,
        maxRecordsPerFile, filesPerPartition = targetFiles)
      overfull.map { dir =>
        val rel = root.toUri.relativize(dir.toUri).getPath.stripSuffix("/")
        require(rel.nonEmpty && !rel.startsWith("/") && !rel.contains(":"),
          s"partition dir $dir did not relativize under $root (got '$rel')")
        val stagedDir = new Path(staging, rel)
        val staged = dataFiles(fs, stagedDir)
        require(staged.nonEmpty, s"compaction produced no files for $rel")
        // rename-in first, delete-old after (the rewriteVia swap
        // order): a racing lister sees at least one complete
        // generation at every instant; the manifest commit between
        // the two gives readSnapshot exactly one
        val old = dataFiles(fs, dir)
        val oldNames = old.map(_.getName).toSet
        require(staged.forall(f => !oldNames.contains(f.getName)),
          s"staged file names collide with live files in $rel — cannot swap atomically")
        staged.foreach(f => fs.rename(f, new Path(dir, f.getName)))
        val oldManifests = manifestFiles(fs, dir)
        writeManifest(fs, dir, staged.map(_.getName))
        midSwapHook(rel)
        oldManifests.foreach(f => fs.delete(f, false))
        old.foreach(f => fs.delete(f, false))
        rel
      }
    } finally {
      fs.delete(staging, true)
      ()
    }
  }

  // ---- key-level maintenance (MERGE / tombstones) -----------------

  /** Hive-style leaf dir for one partition-value tuple — MUST match
    * what Spark's partitionBy writer produces byte for byte (the
    * existing-partition lookup and the staged-swap rels both key on
    * it), so the escaping is Spark's own.
    */
  private def partitionRel(values: Seq[(String, Any)]): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    values.map { case (c, v) =>
      require(v != null, s"null partition value for '$c' — the upsert/delete " +
        "contract requires concrete partition values")
      s"${escapePathName(c)}=${escapePathName(v.toString)}"
    }.mkString("/")
  }

  /** The distinct partition tuples of `df` as sorted leaf rels, in one
    * job with no shuffle: each task dedups its own rows and the driver
    * dedups the rest — bounded by the low-cardinality partition contract.
    */
  private def touchedRels(df: DataFrame, partitionCols: Seq[String]): Seq[String] =
    df.select(partitionCols.map(col): _*).rdd
      .mapPartitions(_.toSet.iterator)
      .collect().distinct
      .map(r => partitionRel(partitionCols.zipWithIndex.map { case (c, i) => c -> r.get(i) }))
      .toSeq.sorted

  /** MERGE INTO for a [[writePartitioned]] layout: every `batch` row
    * replaces the existing row with the same key (or inserts), and
    * only the partitions PRESENT IN THE BATCH are rewritten — cost
    * scales with the batch's partition footprint, never the table.
    *
    * CONTRACT (documented, spec-pinned): partition values must be a
    * pure function of the key columns — a key lives in exactly one
    * partition forever. Without that, a key whose partition value
    * changed would leave its stale row alive in the old partition
    * (finding it would take a full-table scan, which is exactly what
    * this operation exists to avoid). `batch` must be key-unique
    * (pre-aggregate latest-wins upstream; [[graft.operators.Fill]]
    * keep-one-per-group is the standard reducer).
    *
    * Mechanics: the affected leaf dirs are derived from the batch's
    * distinct partition tuples (one driver-side collect bounded by the
    * low-cardinality partition contract), their current rows are
    * anti-joined against the batch keys, survivors + batch rewrite
    * through the deterministic [[writePartitioned]] placement into a
    * hidden staging dir, and files swap in per partition (the
    * [[rewriteVia]] rename-in-then-delete-old order — a racing
    * lister always sees at least one complete generation, never a
    * torn or empty partition). Returns the rewritten partition rels.
    *
    * CONCURRENT-READER CAVEAT: during a swap there is a window where
    * a RAW-LISTING reader ([[readPartitioned]]) sees the OLD and NEW
    * generation of a partition TOGETHER — duplicate keys/rows, so
    * e.g. a concurrent aggregation can double-count (the deliberate
    * trade against the torn/empty window a delete-first order has).
    * Readers that require at-most-once keys during maintenance should
    * use [[readSnapshot]], which resolves each partition through its
    * generation manifest to exactly one complete generation at every
    * instant; readers that only require completeness (every live row
    * present) are safe either way. Applies equally to
    * [[compactPartitions]] — same swap mechanics.
    */
  def upsertPartitioned(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keyCols: Seq[String],
      partitionCols: Seq[String],
      sortCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      filesPerPartition: Int = 1
  ): Seq[String] =
    upsertRelocating(spark, path, batch, keyCols, partitionCols,
      oldPartitions = None, sortCols, maxRecordsPerFile, filesPerPartition)

  /** [[upsertPartitioned]] for layouts where a key's partition value
    * CAN change (e.g. an IVF cell assignment under re-ingested
    * vectors): `oldPartitions` names the partition tuples the
    * batch's keys may be leaving. Those dirs join the survivor scan,
    * so a moved key's stale row is dropped from its old partition in
    * the SAME staged rewrite that lands the new row — one directory
    * walk, one staging dir, at most one swap per touched partition
    * (vs the separate deleteKeys-then-upsert pair, which listed and
    * swapped twice). Everything else — placement, swap order, race
    * windows — is [[upsertPartitioned]]/[[rewriteVia]] verbatim.
    */
  def upsertRelocating(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keyCols: Seq[String],
      partitionCols: Seq[String],
      oldPartitions: Option[DataFrame],
      sortCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      filesPerPartition: Int = 1
  ): Seq[String] = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(path))
    if (!fs.exists(root)) {
      writePartitioned(batch, path, partitionCols, sortCols, maxRecordsPerFile, filesPerPartition)
      return touchedRels(batch, partitionCols)
    }
    // one driver-side collect covers the batch's partitions AND any
    // relocation sources — a single touched set for a single rewrite
    val touchedF = oldPartitions.foldLeft(batch.select(partitionCols.map(col): _*)) {
      (acc, old) => acc.unionByName(old.select(partitionCols.map(col): _*))
    }
    val existingDirs = touchedRels(touchedF, partitionCols).map(rel => new Path(root, rel)).filter(fs.exists)
    val survivors =
      if (existingDirs.isEmpty) batch.limit(0)
      else readLayout(spark, path, existingDirs.map(_.toString))
        .join(batch.select(keyCols.map(col): _*), keyCols, "left_anti")
        .select(batch.columns.map(col).toSeq: _*)
    rewriteVia(spark, fs, root, s".upsert", partitionCols,
      survivors.unionByName(batch), sortCols, maxRecordsPerFile, filesPerPartition,
      alsoClear = existingDirs)
  }

  /** Key tombstones for a [[writePartitioned]] layout (the
    * right-to-be-forgotten pass): every row whose key appears in
    * `keys` is removed; only the partitions named by the keys are
    * rewritten. `keys` must carry `partitionCols` too — under the
    * stable-partition contract (see [[upsertPartitioned]]) deriving
    * them is the caller's one-liner, and requiring them keeps this
    * operation partition-scoped instead of full-scan. A partition
    * whose rows are all deleted is removed from the layout. Returns
    * the rewritten partition rels.
    */
  def deleteKeys(
      spark: SparkSession,
      path: String,
      keys: DataFrame,
      keyCols: Seq[String],
      partitionCols: Seq[String],
      sortCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      filesPerPartition: Int = 1
  ): Seq[String] = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    require(partitionCols.forall(keys.columns.contains),
      s"keys frame must carry the partition columns $partitionCols (stable-partition contract)")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(path))
    if (!fs.exists(root)) return Nil
    val existingDirs = touchedRels(keys, partitionCols).map(rel => new Path(root, rel)).filter(fs.exists)
    if (existingDirs.isEmpty) return Nil
    // no distinct(): a repeated key removes nothing more in a left-anti
    // join, and deduplicating would cost an aggregation stage
    val survivors = readLayout(spark, path, existingDirs.map(_.toString))
      .join(keys.select(keyCols.map(col): _*), keyCols, "left_anti")
    rewriteVia(spark, fs, root, s".delete", partitionCols,
      survivors, sortCols, maxRecordsPerFile, filesPerPartition,
      alsoClear = existingDirs)
  }

  /** Test seam: invoked once per partition between the rename-in and
    * delete-old phases of [[rewriteVia]]'s swap (the widest
    * concurrent-reader window). SinkSpec lists mid-swap through it.
    */
  private[graft] var midSwapHook: String => Unit = _ => ()

  // ---- generation manifests (snapshot isolation for readers) ------

  private val ManifestPrefix = "_manifest-"

  /** Write a generation manifest into `dir` naming that partition's
    * live data files. The name embeds a millisecond timestamp so the
    * LATEST generation sorts lexicographically last; underscore-
    * prefixed without '=' so Spark's own readers never see it.
    */
  private def writeManifest(fs: FileSystem, dir: Path, fileNames: Seq[String]): Unit = {
    val gen = f"${System.currentTimeMillis()}%013d-${java.util.UUID.randomUUID().toString.take(8)}"
    val out = fs.create(new Path(dir, ManifestPrefix + gen), false)
    try out.write(fileNames.sorted.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def manifestFiles(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(ManifestPrefix))
      .map(_.getPath)

  /** SNAPSHOT read of a [[writePartitioned]] layout: exactly one
    * complete generation per partition, even while an
    * upsert/delete/compaction swap is mid-flight. The plain
    * [[readPartitioned]] listing has a documented old+new window
    * during a swap (duplicate rows — see [[upsertPartitioned]]);
    * this reader instead resolves each partition through its
    * generation manifest:
    *
    *  - every swap commit writes a `_manifest-<ts>` file naming the
    *    new generation's data files BEFORE the superseded files (and
    *    the superseded manifest) are deleted, so at every instant at
    *    least one manifest names a fully-present generation;
    *  - the reader picks, per partition, the NEWEST manifest whose
    *    named files are all present in the listing (mid-swap that is
    *    the new generation; just before the commit it is the old);
    *  - a partition with no valid manifest (bulk [[writePartitioned]]
    *    output that never went through maintenance, or a manifest
    *    staled by a direct overwrite) falls back to the plain file
    *    listing — identical to [[readPartitioned]] there;
    *  - manifests are listed BEFORE the data files, and a partition
    *    whose manifests all failed validation is re-resolved once
    *    from fresh listings: a swap that commits between the two
    *    listings deletes the old generation's files out from under
    *    its manifest, and the retry then lands on the new manifest —
    *    without it the reader would fall back to a raw listing whose
    *    files are being deleted (FILE_NOT_EXIST at scan).
    *
    * Residual window (documented): the scan itself is lazy — a swap
    * completing between this resolution and the action can still
    * delete a resolved file. Keep a grace period on generation GC
    * (the [[graft.pipeline.IvfIndex.managedVacuum]] model) sized to
    * reader latency, as with any snapshot-retention scheme.
    *
    * Cost: one driver-side listing per partition (the same
    * low-cardinality contract every maintenance op relies on) plus
    * one tiny manifest read for maintained partitions.
    */
  def readSnapshot(
      spark: SparkSession,
      path: String,
      partitionCols: Seq[String]
  ): DataFrame = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(path))
    require(fs.exists(root), s"no layout at $path")
    val files = leaves(fs, root, partitionCols.length).flatMap { dir =>
      def resolve(fireHook: Boolean, retried: Boolean): Seq[Path] = {
        // manifests FIRST: a swap landing after this point only ADDS
        // a newer manifest; the stale one fails validation below and
        // the retry picks the new one up
        val manifests = manifestFiles(fs, dir)
          .sortBy(_.getName)(Ordering[String].reverse)
          .map { mf =>
            val in = fs.open(mf)
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
            finally in.close()
          }
        if (fireHook) snapshotRaceHook(dir.toString)
        val listed = dataFiles(fs, dir)
        val listedNames = listed.map(_.getName).toSet
        manifests.find(names => names.nonEmpty && names.forall(listedNames.contains)) match {
          case Some(names)                              => names.map(n => new Path(dir, n))
          case None if manifests.nonEmpty && !retried   => resolve(fireHook = false, retried = true)
          case None                                     => listed
        }
      }
      resolve(fireHook = true, retried = false)
    }
    require(files.nonEmpty, s"snapshot read found no data files under $path")
    readLayout(spark, path, files.map(_.toString))
  }

  /** Test seam: invoked once per partition between [[readSnapshot]]'s
    * manifest listing and its data-file listing (the race window the
    * retry closes). SinkSpec completes a full swap through it.
    */
  private[graft] var snapshotRaceHook: String => Unit = _ => ()

  /** Staged rewrite + per-partition swap: write `rows` through the
    * deterministic placement into a hidden staging dir, then for
    * every affected partition RENAME THE STAGED FILES IN FIRST and
    * delete the superseded files after. Staged names never collide
    * with live ones (Spark stamps each write job's UUID into its
    * file names — guarded below), so a concurrent lister always sees
    * at least one complete generation: old-only before the renames,
    * old+new during the window (duplicate rows, both complete),
    * new-only after — never a torn or empty partition. The one
    * remaining non-atomic case is a partition the rewrite EMPTIED
    * (`alsoClear` with no staged counterpart): there the delete IS
    * the publish and a racing lister sees old or empty, both valid
    * generations. `alsoClear` names partitions that must drop their
    * current files even if the rewrite produced nothing for them.
    */
  private def rewriteVia(
      spark: SparkSession,
      fs: FileSystem,
      root: Path,
      stagePrefix: String,
      partitionCols: Seq[String],
      rows: DataFrame,
      sortCols: Seq[String],
      maxRecordsPerFile: Long,
      filesPerPartition: Int,
      alsoClear: Seq[Path]
  ): Seq[String] = {
    val staging = new Path(root, s"$stagePrefix-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      writePartitioned(rows, staging.toString, partitionCols, sortCols,
        maxRecordsPerFile, filesPerPartition)
      val staged =
        if (fs.exists(staging)) leaves(fs, staging, partitionCols.length)
        else Nil
      val stagedRels = staged.map { sdir =>
        val rel = staging.toUri.relativize(sdir.toUri).getPath.stripSuffix("/")
        require(rel.nonEmpty && !rel.startsWith("/") && !rel.contains(":"),
          s"staged dir $sdir did not relativize under $staging (got '$rel')")
        rel
      }
      // partitions emptied by the rewrite: clear and drop the dir
      // (manifests go too — an empty partition has no generation)
      alsoClear.foreach { dir =>
        val rel = root.toUri.relativize(dir.toUri).getPath.stripSuffix("/")
        if (!stagedRels.contains(rel)) {
          dataFiles(fs, dir).foreach(f => fs.delete(f, false))
          manifestFiles(fs, dir).foreach(f => fs.delete(f, false))
          if (fs.listStatus(dir).isEmpty) fs.delete(dir, false)
          ()
        }
      }
      staged.zip(stagedRels).map { case (sdir, rel) =>
        val dest = new Path(root, rel)
        fs.mkdirs(dest)
        val old = dataFiles(fs, dest)
        val in = dataFiles(fs, sdir)
        val oldNames = old.map(_.getName).toSet
        require(in.forall(f => !oldNames.contains(f.getName)),
          s"staged file names collide with live files in $rel — cannot swap atomically")
        in.foreach(f => fs.rename(f, new Path(dest, f.getName)))
        // COMMIT: the new generation's manifest lands while BOTH
        // generations' files are present, then the superseded
        // manifest and files go — a readSnapshot racing anywhere in
        // this window resolves to exactly one complete generation
        val oldManifests = manifestFiles(fs, dest)
        writeManifest(fs, dest, in.map(_.getName))
        midSwapHook(rel)
        oldManifests.foreach(f => fs.delete(f, false))
        old.foreach(f => fs.delete(f, false))
        rel
      }.sorted
    } finally {
      fs.delete(staging, true)
      ()
    }
  }

  /** Z-order clustered write ([[graft.operators.ZOrder]]): rows
    * cluster by the Morton curve over `zCols`, land in `nBuckets`
    * equal-sized `zbucket=` partitions (exact z-quantile assignment —
    * deterministic, no sampling), and sort by z within each file, so
    * parquet min/max stats prune reads filtered on ANY of the
    * clustered columns. The `zbucket` directory column is layout
    * metadata; `readPartitioned` surfaces it like any partition
    * column and [[compactPartitions]] maintains it like any layout.
    *
    * `tiebreakCols` pins a total in-file row order (z-values
    * collide by construction — they are coarse rank buckets), keeping
    * re-runs byte-stable like the rest of the sink.
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      zCols: Seq[String],
      tiebreakCols: Seq[String],
      bits: Int = 6,
      nBuckets: Int = 64,
      maxRecordsPerFile: Long = 0L
  ): Unit = {
    require(tiebreakCols.nonEmpty, "tiebreakCols must pin a total order")
    val (withB, cleanup) = graft.operators.ZOrder.withZBucket(df, zCols, bits, nBuckets)
    // zvalue rides along into the files (in-file rows sort by it, so
    // row-group stats inside large files stay z-tight too; readers
    // get the curve position for free)
    try writePartitioned(
      withB, path, partitionCols = Seq("zbucket"),
      sortCols = "zvalue" +: tiebreakCols, maxRecordsPerFile = maxRecordsPerFile)
    finally cleanup()
  }
}
