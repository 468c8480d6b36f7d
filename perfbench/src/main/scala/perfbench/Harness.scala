package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload in one fresh local session,
  * driven by one closed-loop client that sends the next query only when
  * the previous one has returned. Writes `result.json` (and, traced,
  * `trace.json`) into the run directory; run.py turns them into metrics.
  *
  * usage: Harness <workload> <data> <out-dir> <seed> <seconds> <trace 0|1> <cores>
  */
object Harness {
  def session(cores: Int, outDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores timestamp[ns] (see SparkEntry.tsToTimestamp)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the catalog compiles more than the default 100 codegen classes
      // per pass; a smaller cache would recompile inside warm passes
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(outDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(outDir, "warehouse").getAbsolutePath)
      .getOrCreate()

  /** Drops what a query left persisted or cached, so each query starts
    * from the same storage state (the library's own Bench does the same). */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Fixed-cost probe: an in-memory aggregation with no IO, whose time
    * depends only on how much of the machine is free. Taken before and
    * after the timed passes, it makes a capture on a loaded machine
    * identify itself. Median of 3 after 2 untimed runs, in ms. */
  private def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 22).selectExpr("sum(id * 7L)").collect()
      (System.nanoTime() - t0) / 1e6
    }
    (1 to 2).foreach(_ => once())
    (1 to 3).map(_ => once()).sorted.apply(1)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Resets VmHWM to the current RSS, so the peak covers the timed
    * passes only. */
  private def resetPeakRss(): Unit =
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case _: Exception => }

  def main(args: Array[String]): Unit = {
    val Array(workloadName, data, outDir, seedS, secondsS, traceS, coresS) = args
    val (seed, seconds, traced, cores) = (seedS.toLong, secondsS.toDouble, traceS == "1", coresS.toInt)
    val result = mutable.LinkedHashMap[String, Any]()
    result("workload") = workloadName
    result("seed") = seed
    result("cores_used") = cores
    result("load_avg_start") = loadAvg()

    // set-up on this side is the session start; run.py times the inputs
    // and the reference results
    val workload = Workload(workloadName, data, seed)
    val t0 = System.nanoTime()
    val spark = session(cores, outDir)
    spark.sparkContext.setLogLevel("WARN")
    result("session_s") = (System.nanoTime() - t0) / 1e9
    result("queries") = workload.queries.map(_.name)
    result("input_rows_per_pass") = workload.inputRowsPerPass

    val trace = if (traced) Some(new Trace(spark)) else None
    val failures = mutable.LinkedHashMap[String, String]()
    var attempted = 0

    /** One closed-loop pass; returns (wall seconds, per-query ms of the
      * queries that returned). */
    def pass(index: Int, probe: Probe): (Double, Seq[Double]) = {
      val t0 = System.nanoTime()
      val lat = workload.queries.flatMap { q =>
        attempted += 1
        probe.begin(q.name, index)
        val q0 = System.nanoTime()
        val ok =
          try {
            val df = probe.span("operators.build")(q.build(spark))
            probe.span("execute")(Sink.run(df))
            true
          } catch {
            case e: Exception =>
              failures.getOrElseUpdate(q.name, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
              false
          }
        val ms = (System.nanoTime() - q0) / 1e6
        probe.end()
        releaseCaches(spark)
        if (ok) Some(ms) else None
      }
      ((System.nanoTime() - t0) / 1e9, lat)
    }

    result("calib_before_ms") = calibrate(spark)
    resetPeakRss()
    trace.foreach(_.install())
    val (coldS, _) = pass(0, trace.getOrElse(NoProbe))
    result("cold_pass_s") = coldS

    // untimed passes for half the measuring time let the JIT settle after
    // the cold pass (warm passes still speed up by a fifth over the first
    // few seconds); then warm passes until the measuring time is spent.
    // The traced run alternates untraced and traced passes, to measure its
    // own overhead
    trace.foreach(_.uninstall())
    val settled = System.nanoTime() + (seconds / 2 * 1e9).toLong
    while ({ pass(-1, NoProbe); System.nanoTime() < settled }) ()
    val warm = mutable.ArrayBuffer[Double]()
    val warmTraced = mutable.ArrayBuffer[Double]()
    val samples = mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var index = 1
    while (index == 1 || (traced && warmTraced.isEmpty) || System.nanoTime() < deadline) {
      val tracing = traced && index % 2 == 0
      trace.foreach(t => if (tracing) t.install() else t.uninstall())
      val (wall, lat) = pass(index, if (tracing) trace.get else NoProbe)
      if (tracing) warmTraced += wall
      else { warm += wall; samples ++= lat }
      index += 1
    }
    trace.foreach(_.uninstall())
    result("peak_rss_mb") = peakRssMb()
    result("calib_after_ms") = calibrate(spark)
    result("warm_pass_s") = warm.toSeq
    result("warm_traced_pass_s") = warmTraced.toSeq
    result("samples_ms") = samples.toSeq
    result("attempted") = attempted

    val t2 = System.nanoTime()
    workload.writeResults(spark, outDir).foreach { case (q, why) => failures.getOrElseUpdate(q, why) }
    result("results_s") = (System.nanoTime() - t2) / 1e9
    result("failed_queries") = failures.toMap
    result("load_avg_end") = loadAvg()

    trace.foreach(t => Files.writeString(Paths.get(outDir, "trace.json"), Json.write(TraceReport(t, cores))))
    spark.stop()
    Files.writeString(Paths.get(outDir, "result.json"), Json.write(result))
  }
}

/** A minimal JSON writer for the harness's maps, sequences and numbers. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
