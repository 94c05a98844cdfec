package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — extra names select a
    // subset (iteration aid; the driver always runs the full map)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // correctness must gate the SCALE path: force the distributed
    // exact-percentile plan (size-adaptive default would route the
    // small correctness SFs to the builtin aggregate, leaving the
    // 100TB-shaped plan oracle-untested)
    val spark = graft.testing.Sessions.local(cpus, "graft.percentiles.distributedThresholdBytes" -> "0")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val cause = Option(e.getCause).getOrElse(e)
        System.err.println(s"[verify] $name failed: $cause")
        cause.getStackTrace.take(6).foreach(f => System.err.println(s"[verify]   at $f"))
      }
      finally SparkEntry.runPendingCleanups()
    }
    SparkEntry.releaseShared()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles =
      if (only.isEmpty) SparkEntry.oracleSql
      else SparkEntry.oracleSql.filter { case (k, _) => only(k) }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
