package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[graft.sources.Parquet]]: every read of graft's parquet has
  * `spark.read.parquet`'s schema, runs no schema-inference job, and
  * keeps no state between reads. `SinkSpec`'s readLayout tests cover
  * Spark-written directories, partitioned layouts and files without
  * Spark's row metadata.
  */
class ParquetReadSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def withTempDir(f: File => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-parquet-read").toFile
    try f(dir) finally FileUtils.deleteQuietly(dir)
  }

  /** The call sites of the jobs a `DataFrameReader` call itself ran:
    * schema inference, whatever file the read was written in.
    */
  private def readerJobs(body: => Unit): Seq[String] =
    jobStarts(body).collect { case (site, top) if top.contains("DataFrameReader") => site }

  test("a query's first build on a fresh directory runs no schema-inference job") {
    withTempDir { dir =>
      FileUtils.copyFile(new File(s"$sf/embeddings.parquet"), new File(dir, "embeddings.parquet"))
      for (build <- Seq("first", "second")) {
        val sites = jobSites { SparkEntry.queries("q_kmeans")(spark, dir.getPath); () }
        SparkEntry.runPendingCleanups()
        assert(!sites.exists(_.startsWith("parquet at")), s"$build build: $sites")
      }
    }
  }

  test("building and serving q_ann_ivf_store and q_ann_ivf_store_pq runs no schema-inference job") {
    for (q <- Seq("q_ann_ivf_store", "q_ann_ivf_store_pq")) {
      // a store write is also "parquet at IvfIndex"; only its reads may not run a job
      val inference = readerJobs { SparkEntry.queries(q)(spark, sf).collect(); () }
      SparkEntry.runPendingCleanups()
      assert(inference.isEmpty, s"$q: $inference")
    }
  }

  test("every sf0.001 table reads spark.read.parquet's schema with no job, and fresh attributes") {
    val tables = new File(sf).list().filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(tables.contains("events") && tables.contains("embeddings"))
    for (name <- tables) {
      var built: DataFrame = null
      val sites = jobSites { built = SparkEntry.t(spark, sf, name) }
      assert(sites.isEmpty, s"$name: $sites")
      assert(built.schema == spark.read.parquet(s"$sf/$name.parquet").schema, name)
    }
    // two reads of one table join as two relations, not as one
    val (a, b) = (SparkEntry.t(spark, sf, "region"), SparkEntry.t(spark, sf, "region"))
    val pairs = a.join(b, a("r_regionkey") === b("r_regionkey") + 1).count()
    assert(pairs == a.count() - 1)
  }

  test("a table rewritten between two reads is read with its new schema") {
    withTempDir { dir =>
      val s = spark; import s.implicits._
      val path = new File(dir, "t.parquet").getPath
      Seq((1L, "x"), (2L, "y")).toDF("id", "old_name").write.parquet(path)
      assert(SparkEntry.t(spark, dir.getPath, "t").columns.toSeq == Seq("id", "old_name"))
      assert(SparkEntry.t(spark, dir.getPath, "t").columns.toSeq == Seq("id", "old_name"))
      Seq((3L, "z")).toDF("id", "new_name").write.mode("overwrite").parquet(path)
      val reread = SparkEntry.t(spark, dir.getPath, "t")
      assert(reread.columns.toSeq == Seq("id", "new_name"))
      assert(reread.select(col("new_name")).as[String].collect().toSeq == Seq("z"))
    }
  }
}
