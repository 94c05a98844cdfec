package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read under src/main goes through
  * [[graft.sources.Parquet]], so a new read cannot bring Spark's
  * schema-inference job back. The sites below are the only others, and
  * each still exists.
  */
class ParquetReadDriftSpec extends AnyFunSuite {

  // a DataFrameReader chain ending in parquet(...), or any format("parquet")
  private val parquetRead =
    """\.read(?:Stream)?(?:\s*\.\s*(?:option|options|schema)\((?:[^()]|\([^()]*\))*\))*\s*\.\s*parquet\(|format\(\s*"parquet"\s*\)""".r

  /** file under src/main/scala/graft -> (allowed matches, why). The
    * helper builds its reader in steps, which the pattern does not match.
    */
  private val allowed = Map(
    "sources/ReadFile.scala" -> (1, "readFile reads a user's parquet, where Spark's summary-file and mergeSchema rules apply"),
    "sources/Sink.scala" -> (1, "readPartitionedEvolved merges every footer's schema (mergeSchema)"),
    "streaming/StreamOps.scala" -> (1, "writePartitionedStream's format(\"parquet\") is a streaming sink, a write"),
    "sources/Bucketing.scala" -> (1, "writeBucketed's format(\"parquet\") is a bucketed table write"))

  test("parquet reads under src/main go through graft.sources.Parquet") {
    val root = Paths.get("src/main/scala/graft")
    val found: Map[String, Int] = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> parquetRead.findAllMatchIn(Files.readString(p)).size)
      .filter(_._2 > 0).toMap
    assert(found.nonEmpty, s"no parquet read found under $root")
    val unexpected = found.filter { case (f, n) => !allowed.get(f).exists(_._1 == n) }
    assert(unexpected.isEmpty, s"parquet reads outside graft.sources.Parquet: $unexpected; allowed: $allowed")
    val stale = allowed.keySet -- found.keySet
    assert(stale.isEmpty, s"allowed sites that no longer read parquet: $stale")
  }
}
