package graft.testing

import org.apache.spark.sql.SparkSession

/** The one local `SparkSession` builder of the runners (`Bench`,
  * `Verify`, `GenData`) and the test suites. The base confs live here
  * once; a runner's deliberate difference is a named `extra` at its
  * call site.
  */
object Sessions {

  /** A `local[cpus]` session with `cpus` shuffle partitions and:
    *  - UTC session time zone;
    *  - `nanosAsLong`: the events table has shipped nanosecond
    *    timestamps, which the vectorized parquet reader rejects, so
    *    they read as raw longs and `SparkEntry.eventsTable` converts
    *    them;
    *  - a 30 s ContextCleaner periodic GC: the cleaner releases
    *    broadcast blocks and shuffle state only after their driver-side
    *    references are collected, and the 30 min default outlives a
    *    whole run, so a broadcast-heavy query's blocks would tax every
    *    later query's memory (measured ~9 s of phantom cost on
    *    q_simhash_candidates in-suite vs a fresh JVM);
    *  - the [[graft.GraftExtensions]] rules and functions;
    *  - no UI, and WARN logging.
    * `extra` confs are set after the base ones, so they win.
    */
  def local(cpus: String, extra: (String, String)*): SparkSession = {
    val base = Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.cleaner.periodicGC.interval" -> "30s",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false")
    val spark = (base ++ extra)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
