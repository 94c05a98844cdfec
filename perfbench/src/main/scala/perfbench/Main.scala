package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** JVM side of the benchmark; `perfbench/run.py` drives it.
  *
  * Modes (`--mode`):
  *  - `selftest --queries a,b --out FILE`: exit 3 if a name is missing
  *    from `SparkEntry.queries` or `SparkEntry.oracleSql`; write every
  *    name of `SparkEntry.queries` to FILE, one a line.
  *  - `gen --out DIR --sf X`: write GenData's tables at scale X.
  *  - `run --queries a,... --input DIR --out DIR --seconds N --trace 0|1`:
  *    set up, write every query's output once for the oracle check,
  *    run one untimed warm-up pass, then run complete passes over the
  *    queries, one query at a time, until N seconds of passes have been
  *    measured. With `--trace 1`
  *    passes alternate untraced and traced, and each traced query
  *    writes one line to `trace.jsonl`.
  *
  * The session uses the same confs as `graft.Bench`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def queries = opts("queries").split(",").toSeq.filter(_.nonEmpty)
    opts("mode") match {
      case "selftest" =>
        selfTest(queries)
        write(opts("out"), SparkEntry.queries.keys.toSeq.sorted.map(_ + "\n").mkString)
      case "gen" =>
        val spark = session(opts)
        graft.testing.GenData.generate(spark, opts("out"), opts("sf").toDouble)
        spark.stop()
      case "run" => run(opts, queries)
      case m => sys.error(s"unknown mode $m")
    }
  }

  private def selfTest(queries: Seq[String]): Unit = {
    val missing = queries.filterNot(q => SparkEntry.queries.contains(q) && SparkEntry.oracleSql.contains(q))
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] not in SparkEntry.queries/oracleSql: ${missing.mkString(", ")}")
      sys.exit(3)
    }
  }

  private def session(opts: Map[String, String]): SparkSession = {
    val cpus = opts("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // keep Spark's scratch files inside the benchmark's work directory
      .config("spark.local.dir", opts("scratch"))
      .config("spark.sql.warehouse.dir", s"${opts("scratch")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def materialize(df: DataFrame): Unit = { df.queryExecution.toRdd.count(); () }

  private def usedHeapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  private def storage(spark: SparkSession): (Double, Int) = {
    val sc = spark.sparkContext
    (sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0, sc.getPersistentRDDs.size)
  }

  private def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), s.getBytes(UTF_8)); ()
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def run(opts: Map[String, String], queries: Seq[String]): Unit = {
    selfTest(queries)
    val input = opts("input")
    val out = opts("out")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    // SparkEntry.queries builds its map on every call: look up once, untimed
    val fns = SparkEntry.queries
    val spark = session(opts)

    // first pass, untimed: every output goes to parquet for the oracle.
    // Writing the first query's output is the warm-up, so set-up time
    // runs from JVM start until it is written. Each output keeps its
    // partitions: coalescing to one file would run the last stage in a
    // single task.
    var setupS = 0.0
    val verifyErrors = ArrayBuffer.empty[(String, String)]
    queries.foreach { q =>
      try fns(q)(spark, input).write.mode("overwrite").parquet(s"$out/verify/$q")
      catch { case e: Throwable => verifyErrors += q -> String.valueOf(e) }
      finally SparkEntry.runPendingCleanups()
      if (q == queries.head)
        setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    }
    SparkEntry.releaseShared()
    write(s"$out/verify/oracle_sql.json",
      obj(queries.map(q => q -> str(SparkEntry.oracleSql(q)))))
    System.gc()
    // one more untimed pass: the JIT keeps speeding the queries up over
    // the first passes, and timing them would measure the warm-up
    queries.foreach { q =>
      try materialize(fns(q)(spark, input))
      catch { case _: Throwable => () } // a failure is counted in the passes below
      finally SparkEntry.runPendingCleanups()
    }
    SparkEntry.releaseShared()
    System.gc()

    val tracer = new Tracer(spark)
    val traceLines = ArrayBuffer.empty[String]
    val passes = ArrayBuffer.empty[String]
    val failures = ArrayBuffer.empty[(String, String)]
    val t0 = System.nanoTime()
    var p = 0
    def measuring = (System.nanoTime() - t0) / 1e9 < seconds
    // in a traced run, even passes are untraced and odd passes traced;
    // a traced run needs at least one of each
    while (measuring || p == 0 || (trace && p == 1)) {
      val traced = trace && p % 2 == 1
      if (traced) tracer.attach()
      val times = ArrayBuffer.empty[(String, String)]
      var retainedHeapMb = 0.0
      queries.foreach { q =>
        val (store0Mb, store0Rdds) = if (traced) storage(spark) else (0.0, 0)
        if (traced) tracer.drain()
        val c0 = tracer.counters
        val w0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        var nb = -1L
        var na = -1L
        var wb = Long.MaxValue
        var wa = Long.MaxValue
        var error: Option[String] = None
        try {
          val df = fns(q)(spark, input)
          nb = System.nanoTime(); wb = System.currentTimeMillis()
          materialize(df)
          na = System.nanoTime(); wa = System.currentTimeMillis()
          if (traced) tracer.addPhases(df.queryExecution)
        } catch { case e: Throwable => error = Some(String.valueOf(e)) }
        finally SparkEntry.runPendingCleanups()
        val n3 = System.nanoTime()
        val w3 = System.currentTimeMillis()
        val wallS = (n3 - n0) / 1e9
        error match {
          case Some(e) => failures += s"$q (pass $p)" -> e
          case None => times += q -> num(wallS)
        }
        if (traced) {
          tracer.drain()
          val d = tracer.counters - c0
          val (store1Mb, store1Rdds) = storage(spark)
          val jobs = tracer.jobsSince(w0).filter(_.startMs <= w3)
          tracer.forgetJobs()
          val wallMs = w3 - w0
          val busyMs = Tracer.busyMs(jobs, w0, w3)
          def phase(j: JobRecord) = if (j.startMs < wb) "build" else if (j.startMs < wa) "action" else "cleanup"
          def secs(a: Long, b: Long) = if (a < 0 || b < 0) "null" else num((b - a) / 1e9)
          val mb = 1048576.0
          traceLines += obj(Seq(
            "pass" -> p.toString, "query" -> str(q), "ok" -> error.isEmpty.toString,
            "wall_s" -> num(wallS), "wall_ms" -> wallMs.toString,
            "build_s" -> secs(n0, nb), "action_s" -> secs(nb, na),
            "cleanup_s" -> num((n3 - (if (na >= 0) na else if (nb >= 0) nb else n0)) / 1e9),
            "gap_ms" -> (wallMs - busyMs).toString, "job_busy_ms" -> busyMs.toString,
            "jobs" -> jobs.map(j => obj(Seq(
              "id" -> j.id.toString, "phase" -> str(phase(j)),
              "start_ms" -> (j.startMs - w0).toString, "end_ms" -> (j.endMs - w0).toString,
              "stages" -> j.stages.toString, "site" -> str(j.site)))).mkString("[", ",", "]"),
            "plan" -> obj(Seq(
              "executions" -> d.executions.toString, "analysis_s" -> num(d.analysisMs / 1e3),
              "optimization_s" -> num(d.optimizationMs / 1e3), "planning_s" -> num(d.planningMs / 1e3))),
            "exec" -> obj(Seq(
              "stages" -> d.stages.toString, "tasks" -> d.tasks.toString,
              "task_run_s" -> num(d.taskRunMs / 1e3), "task_cpu_s" -> num(d.taskCpuNs / 1e9),
              "task_gc_s" -> num(d.taskGcMs / 1e3))),
            "shuffle" -> obj(Seq(
              "read_mb" -> num(d.shuffleReadB / mb), "write_mb" -> num(d.shuffleWriteB / mb),
              "spill_mb" -> num(d.spillB / mb))),
            "io" -> obj(Seq("input_mb" -> num(d.inputB / mb), "output_mb" -> num(d.outputB / mb))),
            "cleanup" -> obj(Seq(
              "leaked_mb" -> num(math.max(0.0, store1Mb - store0Mb)),
              "leaked_rdds" -> math.max(0, store1Rdds - store0Rdds).toString)),
            "error" -> error.map(str).getOrElse("null")))
        }
        // quiesce between queries, outside the timed window, as Bench does
        System.gc()
        retainedHeapMb = math.max(retainedHeapMb, usedHeapMb())
      }
      if (traced) tracer.detach()
      SparkEntry.releaseShared()
      System.gc()
      passes += obj(Seq("pass" -> p.toString, "traced" -> traced.toString,
        "retained_heap_mb" -> num(retainedHeapMb), "queries" -> obj(times.toSeq)))
      p += 1
    }

    val rt = ManagementFactory.getRuntimeMXBean
    val env = obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cores" -> str(opts("cpus")),
      "shuffle_partitions" -> str(spark.conf.get("spark.sql.shuffle.partitions")),
      "max_heap_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "jvm_args" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens"))
        .map(str).mkString("[", ",", "]"),
      "java" -> str(System.getProperty("java.version")),
      "spark" -> str(spark.version),
      "spark_confs" -> obj(spark.sparkContext.getConf.getAll.toSeq.sorted
        .filterNot { case (k, _) => k.startsWith("spark.driver.") || k == "spark.app.id" ||
          k == "spark.app.startTime" || k == "spark.executor.id" }
        .map { case (k, v) => k -> str(v) })))
    write(s"$out/trace.jsonl", traceLines.map(_ + "\n").mkString)
    write(s"$out/result.json", obj(Seq(
      "setup_s" -> num(setupS),
      "passes" -> passes.mkString("[", ",", "]"),
      "verify_errors" -> obj(verifyErrors.toSeq.map { case (q, e) => q -> str(e) }),
      "failures" -> obj(failures.toSeq.map { case (q, e) => q -> str(e) }),
      "env" -> env)))
    spark.stop()
  }
}
