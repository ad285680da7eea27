package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point: sets the program up several times, runs
  * one workload for a fixed measuring time, and writes every raw
  * observation (timings, output fingerprints, errors, spans) to one JSON
  * file. `perfbench/run.py` launches it and turns the file into metrics.
  *
  * Usage: `Harness key=value ...` with keys `workload`, `data`, `work`,
  * `out`, `seconds`, `trace` (0|1), `cores`, `setups`, `launch_ms` and, for
  * a batch workload, `warm_data` (the warm-up's smaller input) and
  * `min_ops` or, for
  * fx_stream, `chunks`, `files_per_s`, `disorder_hours`, `warm_files`.
  *
  * Nothing is swallowed: an operation that throws is recorded with its
  * stack trace and counts as failed; a set-up failure ends the run with a
  * non-zero exit code.
  */
object Harness {

  private def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("ckpt").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def describe(t: Throwable): String = {
    val w = new java.io.StringWriter
    t.printStackTrace(new java.io.PrintWriter(w))
    w.toString
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { kv =>
      val i = kv.indexOf('=')
      kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap
    val workload = a("workload")
    val data = a("data")
    val work = Paths.get(a("work"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val setups = a("setups").toInt
    val launchMs = a("launch_ms").toLong
    HeapPeak.now() // collections are recorded from here on
    val result = mutable.LinkedHashMap[String, Any]("workload" -> workload,
      "cores" -> cores)

    val stream = if (workload == "fx_stream") Some(new FxStream(s"$data/ticks", work,
      a("chunks").toInt, a("files_per_s").toDouble, a("disorder_hours").toInt,
      a("warm_files").toInt, cores)) else None
    val batch = if (stream.isEmpty) Some(BatchWorkload(workload, data)) else None

    // set-up, several times: a fresh session and the program-side staging
    // (the first also pays JVM launch); then untimed warm-up operations
    var spark: SparkSession = null
    val setupLog = mutable.ArrayBuffer.empty[Map[String, Any]]
    for (i <- 0 until setups) {
      // the previous set-up's garbage is collected outside the timing
      if (i > 0) System.gc()
      val t0 = if (i == 0) launchMs else System.currentTimeMillis()
      if (spark != null) stop(spark)
      spark = session(work, cores)
      val staged = stream.map(_.stage(spark)).getOrElse(Map.empty)
      setupLog += Map("start_ms" -> t0, "end_ms" -> System.currentTimeMillis()) ++ staged
    }
    result("setups") = setupLog.toList
    val warm0 = System.nanoTime()
    result("warm_up") = stream match {
      case Some(s) => s.warmUp(spark)
      case None => Seq(BatchWorkload(workload, a("warm_data")).run(spark))
    }
    result("warm_up_ms") = (System.nanoTime() - warm0) / 1e6

    val tracer = if (trace) Some(new Tracer(spark.sparkContext, cores)) else None
    stream match {
      case Some(s) => result("stream") = s.feed(spark, tracer)
      case None => result("ops") = runBatch(spark, batch.get, seconds,
        a("min_ops").toInt, tracer)
    }
    tracer.foreach { t => result("spans") = t.records(); t.close() }
    stop(spark)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(a("out")).toFile, result)
  }

  /** Closed loop, one client: operations back to back until `seconds` of
    * measuring have passed and at least `minOps` have run. With tracing,
    * untraced and traced operations alternate so their times share one
    * host window.
    * Each operation's `mem_mb` is the peak heap after collection from its
    * start to a full collection at its end, outside its time.
    */
  private def runBatch(spark: SparkSession, w: BatchWorkload, seconds: Double,
      minOps: Int, tracer: Option[Tracer]): Seq[Map[String, Any]] = {
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    System.gc()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = tracer.isDefined && i % 2 == 1
      val aside0 = tracer.map(_.asideNanos).getOrElse(0L)
      val from = HeapPeak.now()
      val s = System.nanoTime()
      val rec: Map[String, Any] = try {
        if (traced) {
          val (fp, counts) = w.traced(spark, tracer.get, i)
          Map("fp" -> fp, "counts" -> counts)
        } else Map("fp" -> w.run(spark))
      } catch {
        case e: Throwable =>
          System.err.println(s"operation $i failed:")
          e.printStackTrace()
          Map("error" -> describe(e))
      }
      // trace bookkeeping is not part of an operation's time
      val aside = tracer.map(_.asideNanos).getOrElse(0L) - aside0
      val ms = (System.nanoTime() - s - aside) / 1e6
      ops += rec ++ Map("i" -> i, "traced" -> traced, "ms" -> ms,
        "mem_mb" -> HeapPeak.peakMb(from))
      i += 1
    }
    ops.toList
  }
}
