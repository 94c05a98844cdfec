package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.TestKit

/** Shared SparkSession + the reference's `DataFrameTest` fixtures
  * (/root/reference/tests/test_pandas.py:16-145), ported verbatim as
  * Seq literals. All golden expectations in the suites come from the
  * same file (line references per test).
  */
trait SparkSuite extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSuite.session

  def assertSame(actual: DataFrame, expected: DataFrame, tol: Double = 1e-6): Unit =
    TestKit.assertSame(actual, expected, tol)

  def ts(s: String): Timestamp = Timestamp.valueOf(s + " 00:00:00")

  /** Call sites of the Spark jobs `body` runs, in start order. */
  def jobSites(body: => Unit): Seq[String] = jobStarts(body).map(_._1)

  /** (call site, Spark method that started the job) of the jobs `body`
    * runs, in start order. The method is the top frame of the result
    * stage's long call site, e.g. `...DataFrameReader.parquet(...)` for
    * a read's schema-inference job and `...DataFrameWriter.parquet(...)`
    * for a write, which share the short site "parquet at <file>".
    */
  def jobStarts(body: => Unit): Seq[(String, String)] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        // the result stage's name is the action's call site
        if (js.stageInfos.nonEmpty) {
          val result = js.stageInfos.maxBy(_.stageId)
          sites.add((result.name, result.details.linesIterator.nextOption().getOrElse("")))
        }
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      // the listener bus is async — wait for the count to stabilize
      var last = -1
      var spins = 0
      while (sites.size != last && spins < 50) {
        last = sites.size; Thread.sleep(100); spins += 1
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    sites.toArray(Array.empty[(String, String)]).toSeq
  }

  import scala.language.implicitConversions

  // --- fixtures (tests/test_pandas.py:18-145) ---------------------

  /** tests/test_pandas.py:18-34 */
  def fixtureDf: DataFrame = {
    val s = spark; import s.implicits._
    Seq(
      (10516L, "a", "1/1/2000", 1.01), (10516L, "a", "1/2/2000", 1.02),
      (10516L, "a", "1/3/2000", 1.03), (10516L, "a", "1/4/2000", 1.04),
      (10516L, "b", "1/1/2000", 1.05), (10516L, "b", "1/2/2000", 1.06),
      (10516L, "b", "1/3/2000", 1.07), (10516L, "b", "1/4/2000", 1.08),
      (10517L, "a", "1/1/2000", 1.09), (10517L, "a", "1/2/2000", 1.10),
      (10517L, "a", "1/3/2000", 1.11), (10517L, "a", "1/4/2000", 1.12)
    ).toDF("PERMNO", "byvar", "Date", "RET")
  }

  /** tests/test_pandas.py:36-53 */
  def fixtureDfDuplicateRow: DataFrame = {
    val s = spark; import s.implicits._
    Seq(
      (10516L, "a", "1/1/2000", 1.01), (10516L, "a", "1/2/2000", 1.02),
      (10516L, "a", "1/3/2000", 1.03), (10516L, "a", "1/3/2000", 1.03),
      (10516L, "a", "1/4/2000", 1.04),
      (10516L, "b", "1/1/2000", 1.05), (10516L, "b", "1/2/2000", 1.06),
      (10516L, "b", "1/3/2000", 1.07), (10516L, "b", "1/4/2000", 1.08),
      (10517L, "a", "1/1/2000", 1.09), (10517L, "a", "1/2/2000", 1.10),
      (10517L, "a", "1/3/2000", 1.11), (10517L, "a", "1/4/2000", 1.12)
    ).toDF("PERMNO", "byvar", "Date", "RET")
  }

  /** tests/test_pandas.py:55-71 */
  def fixtureDfWeight: DataFrame = {
    val s = spark; import s.implicits._
    Seq(
      (10516L, "a", "1/1/2000", 1.01, 0L), (10516L, "a", "1/2/2000", 1.02, 1L),
      (10516L, "a", "1/3/2000", 1.03, 1L), (10516L, "a", "1/4/2000", 1.04, 0L),
      (10516L, "b", "1/1/2000", 1.05, 1L), (10516L, "b", "1/2/2000", 1.06, 1L),
      (10516L, "b", "1/3/2000", 1.07, 1L), (10516L, "b", "1/4/2000", 1.08, 1L),
      (10517L, "a", "1/1/2000", 1.09, 0L), (10517L, "a", "1/2/2000", 1.10, 0L),
      (10517L, "a", "1/3/2000", 1.11, 0L), (10517L, "a", "1/4/2000", 1.12, 1L)
    ).toDF("PERMNO", "byvar", "Date", "RET", "weight")
  }

  /** tests/test_pandas.py:73-81 */
  def fixtureDfNanByvar: DataFrame = {
    val s = spark; import s.implicits._
    Seq(
      (Option("a"), 1.0), (Option.empty[String], 2.0),
      (Option("b"), 3.0), (Option("b"), 4.0)
    ).toDF("byvar", "val")
  }

  /** tests/test_pandas.py:83-91 */
  def fixtureDfNanByvarAndVal: DataFrame = {
    val s = spark; import s.implicits._
    Seq(
      (Option("a"), Option(1.0)), (Option.empty[String], Option(2.0)),
      (Option("b"), Option.empty[Double]), (Option("b"), Option(4.0))
    ).toDF("byvar", "val")
  }

  /** tests/test_pandas.py:93-98 */
  def fixtureSingleTicker: DataFrame = {
    val s = spark; import s.implicits._
    Seq(("a", ts("2000-01-01"), "ADM")).toDF("byvar", "Date", "TICKER")
  }

  /** tests/test_pandas.py:106-133 (df_gvkey_str / df_gvkey_str2) */
  def fixtureGvkeyStr: DataFrame = {
    val s = spark; import s.implicits._
    Seq(
      (Option("001076"), Option(ts("1995-03-01"))),
      (Option("001076"), Option(ts("1995-04-01"))),
      (Option("001722"), Option(ts("2012-01-01"))),
      (Option("001722"), Option(ts("2012-07-01"))),
      (Option("001722"), Option.empty[Timestamp]),
      (Option.empty[String], Option(ts("2012-01-01")))
    ).toDF("GVKEY", "Date")
  }

  def fixtureGvkeyStr2: DataFrame = {
    val s = spark; import s.implicits._
    Seq(
      (Option("001076"), Option(ts("1995-02-01"))),
      (Option("001076"), Option(ts("1995-03-02"))),
      (Option("001722"), Option(ts("2011-11-01"))),
      (Option("001722"), Option(ts("2011-10-01"))),
      (Option("001722"), Option.empty[Timestamp]),
      (Option.empty[String], Option(ts("2012-01-01")))
    ).toDF("GVKEY", "Date")
  }

  /** tests/test_pandas.py:135-145; `idx` added because our API takes
    * explicit order columns where pandas relies on row order
    * (SURVEY §1.1).
    */
  def fixtureFillData: DataFrame = {
    val s = spark; import s.implicits._
    Seq(
      (0L, 4L, Option("c"), Option.empty[Double], "a"),
      (1L, 1L, Option("d"), Option(3.0), "a"),
      (2L, 10L, Option("e"), Option(100.0), "a"),
      (3L, 2L, Option.empty[String], Option(6.0), "b"),
      (4L, 5L, Option("f"), Option(8.0), "b"),
      (5L, 11L, Option("g"), Option(150.0), "b")
    ).toDF("idx", "y", "x1", "x2", "group")
  }

  /** tests/test_pandas.py:1032-1053 (df_period) */
  def fixtureDfPeriod: DataFrame = {
    val s = spark; import s.implicits._
    Seq(
      (10516L, ts("2000-01-01"), 1.01), (10516L, ts("2000-01-02"), 1.02),
      (10516L, ts("2000-01-03"), 1.03), (10516L, ts("2000-01-04"), 1.04),
      (10516L, ts("2000-01-05"), 1.05), (10516L, ts("2000-01-06"), 1.06),
      (10516L, ts("2000-01-07"), 1.07), (10516L, ts("2000-01-08"), 1.08),
      (10517L, ts("2000-01-01"), 1.09), (10517L, ts("2000-01-02"), 1.10),
      (10517L, ts("2000-01-03"), 1.11), (10517L, ts("2000-01-04"), 1.12),
      (10517L, ts("2000-01-05"), 1.05), (10517L, ts("2000-01-06"), 1.06),
      (10517L, ts("2000-01-07"), 1.07), (10517L, ts("2000-01-08"), 1.08)
    ).toDF("PERMNO", "Date", "RET")
  }
}

object SparkSuite {
  // bucketed-table specs write through saveAsTable; keep the
  // warehouse out of the repo working tree
  lazy val session: SparkSession = graft.testing.Sessions.local("4",
    "spark.app.name" -> "graft-tests",
    "spark.sql.warehouse.dir" -> java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
}
