package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

/** `SparkEntry.t`'s schema memo: later reads of a table skip the
  * schema-inference job, read the same schema, and never outlive a
  * rewrite of the table.
  */
class SchemaMemoSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def withTempDir(f: File => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-schema-memo").toFile
    try f(dir) finally FileUtils.deleteQuietly(dir)
  }

  test("a query built a second time against the same directory runs no schema-inference job") {
    withTempDir { dir =>
      FileUtils.copyFile(new File(s"$sf/embeddings.parquet"), new File(dir, "embeddings.parquet"))
      def inference(sites: Seq[String]) = sites.count(_.startsWith("parquet at SparkEntry"))
      val first = jobSites { SparkEntry.queries("q_kmeans")(spark, dir.getPath); () }
      SparkEntry.runPendingCleanups()
      assert(inference(first) == 1, s"first build: $first")
      val second = jobSites { SparkEntry.queries("q_kmeans")(spark, dir.getPath); () }
      SparkEntry.runPendingCleanups()
      assert(inference(second) == 0, s"second build: $second")
    }
  }

  test("the memoized read has spark.read.parquet's schema, and fresh attributes") {
    val tables = new File(sf).list().filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(tables.contains("events") && tables.contains("embeddings"))
    for (name <- tables) {
      SparkEntry.t(spark, sf, name)
      val memoized = SparkEntry.t(spark, sf, name)
      assert(memoized.schema == spark.read.parquet(s"$sf/$name.parquet").schema, name)
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
