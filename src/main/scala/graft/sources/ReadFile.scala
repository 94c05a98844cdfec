package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Extension-dispatch loader + cache-aware ingestion.
  *
  * Reference: pd_utils/optimize/load/__init__.py:6-22 (read_file — csv
  * only) and pd_utils/load.py:7-42 (load_sas with an mtime-checked CSV
  * side-cache). SAS7BDAT reads through [[Sas7bdat]] (pure-JVM page
  * parser, uncompressed files); the mtime-checked Parquet side-cache
  * mirrors load_sas's CSV cache — any slow source gets a columnar
  * cache next to it that is reused while fresher than the source.
  */
object ReadFile {

  def readFile(spark: SparkSession, path: String): DataFrame = {
    val lower = path.toLowerCase
    // compression suffixes (.gz/.zst/...) are handled by the codecs
    // inside each text source; dispatch on the logical extension
    val ext = lower.stripSuffix(".gz").stripSuffix(".zst").stripSuffix(".bz2")
    // input from outside graft: Spark's summary-file and mergeSchema rules apply
    if (ext.endsWith(".parquet")) spark.read.parquet(path)
    else if (ext.endsWith(".csv"))
      spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    else if (ext.endsWith(".tsv"))
      spark.read.option("header", "true").option("inferSchema", "true")
        .option("sep", "\t").csv(path)
    // .json and .jsonl are the same source: Spark's JSON reader is
    // line-delimited by default (the training-data drop format)
    else if (ext.endsWith(".json") || ext.endsWith(".jsonl")) spark.read.json(path)
    else if (ext.endsWith(".orc")) spark.read.orc(path)
    else if (ext.endsWith(".sas7bdat")) Sas7bdat.read(spark, path)
    else throw new IllegalArgumentException(s"unsupported extension: $path")
  }

  /** load_sas parity (pd_utils/load.py:7-42): read a sas7bdat through
    * a sibling Parquet cache (`<name>.parquet` next to the file —
    * columnar in place of the reference's CSV), reusing the cache
    * while it is fresher than the source.
    */
  def loadSas(spark: SparkSession, path: String): DataFrame = {
    require(path.toLowerCase.endsWith(".sas7bdat"), s"not a sas7bdat path: $path")
    val cachePath = path.substring(0, path.length - ".sas7bdat".length) + ".parquet"
    readCached(spark, path, cachePath)
  }

  /** Reads `path` through a Parquet cache at `cachePath`: reuses the
    * cache while its mtime is newer than the source (the reference's
    * CSV-cache contract, pd_utils/load.py:12-33), else re-ingests and
    * rewrites it.
    */
  def readCached(spark: SparkSession, path: String, cachePath: String): DataFrame = {
    val src = Paths.get(path)
    val cache = Paths.get(cachePath)
    val cacheFresh = Files.exists(cache) && {
      val cm = Files.getLastModifiedTime(cache).toMillis
      val sm = Files.getLastModifiedTime(src).toMillis
      cm >= sm
    }
    if (!cacheFresh) readFile(spark, path).write.mode("overwrite").parquet(cachePath)
    Parquet.read(spark, cachePath)
  }
}
