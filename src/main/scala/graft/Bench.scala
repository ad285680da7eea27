package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the g-tier/driver parquet carries TIMESTAMP(NANOS); graft.sources.Tables
    // sets this lazily on first use, but the WARMUP below reads events.parquet
    // directly — without the conf that read throws PARQUET_TYPE_ILLEGAL and
    // the whole warmup block silently no-ops on g-tier dirs (the first gate
    // then absorbs the JIT tax), so set it before anything reads
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // per-query JVM GC wall time: a query timed under GC pressure (its own
    // garbage or a collection triggered by earlier queries' heap) reads as
    // mysteriously slow while its plan audits clean — record the evidence
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val only = args.toSet // optional query-name filter for local runs
    // Untimed warmup BEFORE the timing loop: the first query a fresh JVM
    // runs pays ~5 s of one-time cost (classloading, codegen compiler spin-up,
    // first parquet footer read, first shuffle) that belongs to the JVM, not
    // the query. Without this, whichever query runs first absorbs it — and
    // since the map used to iterate in hash order, ADDING a gate reshuffled
    // which query that was, silently breaking round-over-round comparisons
    // (the r9 ann_lsh 1.5→7.2 s "regression" was exactly this).
    // The tiny original warmup (a 25-row groupBy) spun up classloading but
    // left the heavy machinery cold: the first REAL query still paid ~5 s
    // of C2-JIT on the shuffle/sort/codegen hot loops, broadcast infra and
    // the localCheckpoint block manager — and with sorted order that tax
    // always lands on ann_graph (measured 10.5-12.8 s cold vs ~5.5 s warm,
    // r10 sweeps a-c). So the warmup now runs one representative
    // moderate-volume query: a lineitem window + hash-agg join + broadcast
    // join, plus a small localCheckpoint round-trip.
    // The g-tier dirs (tools/gen_scale.py) carry only events/documents/
    // embeddings — fall back to an equivalent events-based warmup there,
    // otherwise the whole block silently no-ops and the first queries of a
    // g-tier sweep absorb the JIT tax (seen as inverted g0.1→g1 ratios).
    try {
      import org.apache.spark.sql.functions.{broadcast, col, row_number, sum => fsum}
      val (fact, key, ord, qty) =
        if (new java.io.File(s"$sfDir/lineitem.parquet").exists())
          (spark.read.parquet(s"$sfDir/lineitem.parquet")
            .select(col("l_orderkey").as("k1"), col("l_partkey").as("k2"),
              col("l_quantity").as("v")), "k2", "k1", "v")
        else
          (spark.read.parquet(s"$sfDir/events.parquet")
            .select(col("event_id").as("k1"), col("user_id").as("k2"),
              col("value").as("v")), "k2", "k1", "v")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(key).orderBy(ord)
      // dim side: the real nation table when present (keeps the sf-tier
      // warmup byte-identical to the recorded sweeps), a range otherwise
      val dim =
        if (new java.io.File(s"$sfDir/nation.parquet").exists())
          spark.read.parquet(s"$sfDir/nation.parquet")
        else spark.range(0, 25).select(col("id").as("n_nationkey"))
      fact.withColumn("rn", row_number().over(w))
        .join(fact.groupBy(key).agg(fsum(qty).as("s")), key)
        .join(broadcast(dim), col(key) % 25 === col("n_nationkey"))
        .write.format("noop").mode("overwrite").save()
      val cp = spark.read.parquet(s"$sfDir/documents.parquet")
        .limit(256).localCheckpoint()
      cp.count()
      org.apache.spark.sql.graftshim.CheckpointBridge.unpersistCheckpoint(cp)
      // NN-Descent-shaped warmup rounds: iterative (self-join → DotFold
      // cosine → window top-k sweep → distinct → localCheckpoint) over a
      // synthetic 512×16 vector set. Without this, the alphabetically
      // FIRST heavy gate — ann_graph — still paid 2-4 s of C2-JIT on
      // exactly these loops after the general warmup above (r10 A/B on
      // identical classes: 16.9 s first-position vs 11.1 s warmed; the
      // sorted-sweep + custom fold expression only JIT when exercised).
      import org.apache.spark.sql.functions.{expr, lit, pmod}
      val vecs = spark.range(0, 512)
        .select(col("id").as("vec_id"),
          expr("transform(sequence(0, 15), " +
            "j -> cast(pmod(id * (j + 3), 97) as double))").as("v"),
          pmod(col("id"), lit(16)).as("bk"))
      val pairs = vecs.join(vecs.select(col("bk"),
          col("vec_id").as("neighbor"), col("v").as("nv")), "bk")
        .filter(col("vec_id") =!= col("neighbor"))
        .withColumn("cos",
          operators.Similarity.dot(col("v"), col("nv")))
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("cos").desc, col("neighbor"))
      for (_ <- 1 to 2) {
        val top = pairs.withColumn("rk", row_number().over(wTop))
          .filter(col("rk") <= 5)
          .select("vec_id", "neighbor", "cos").distinct().localCheckpoint()
        top.count()
        org.apache.spark.sql.graftshim.CheckpointBridge.unpersistCheckpoint(top)
      }
    } catch { case _: Throwable => () }
    // deterministic (sorted) execution order so per-query numbers are
    // comparable across rounds regardless of how many gates exist
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      // noop-format write forces FULL evaluation of every output column —
      // count() lets Catalyst prune projection-only queries down to the scan,
      // which under-times expression-heavy queries (text_*, asof, simhash)
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable =>
          // a swallowed failure would read as a ~0 s timing — i.e. FASTER —
          // so a broken query must surface as an explicit per-query error
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
            .next().take(200))
        }
      val dt = (System.nanoTime() - t0) / 1e9
      val gc = (gcMillis() - g0) / 1e3
      // queries are independent; drop their cached relations so later ones
      // don't pay eviction pressure from earlier ones (release also drains
      // the graft pin registry; clearCache catches anything else)
      operators.Caches.release(spark)
      spark.catalog.clearCache()
      // harness-cost split, two directions — both twins run OUTSIDE the
      // gate timing and never count toward the total:
      //  - verification-carrying gates (SparkEntry.productionPath) time
      //    their PRODUCTION twin: prod measured, harness = gate − prod;
      //  - streaming replay gates (SparkEntry.replayHarness) time their
      //    HARNESS FLOOR (same staged input, kernel-free minimum query):
      //    harness measured, prod = gate − harness.
      // Either way the sum-of-medians stays an honest production number.
      // no twin for a FAILED gate: a split derived from the partial
      // time-to-failure would report a meaningless prod/harness pair
      // (e.g. "kernel is free") for a query already listed in errors
      def timedTwin(m: Map[String, (org.apache.spark.sql.SparkSession,
          String) => org.apache.spark.sql.DataFrame]): Option[Double] =
        m.get(name).filter(_ => err.isEmpty).flatMap { fn =>
          try {
            val t1 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val t = (System.nanoTime() - t1) / 1e9
            operators.Caches.release(spark)
            spark.catalog.clearCache()
            Some(t)
          } catch { case _: Throwable => None }
        }
      val prodSec = timedTwin(SparkEntry.productionPath)
      // a floor can only explain up to the gate it floors
      val floorSec = timedTwin(SparkEntry.replayHarness).map(math.min(_, dt))
      name -> (dt, gc, err, prodSec, floorSec)
    }
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def jmap(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val qs = jmap(results.map { case (k, (v, _, _, _, _)) => k -> v })
    val gcs = jmap(results.map { case (k, (_, g, _, _, _)) => k -> g })
    val errs = results.collect {
      case (k, (_, _, Some(e), _, _)) => jstr(k) + ":" + jstr(e)
    }.mkString("{", ",", "}")
    // gate time = production + harness, both reported; twins run OUTSIDE
    // the gate timing and never join the total. prod is measured directly
    // for verification-carrying gates, derived (gate − floor) for the
    // streaming replay gates; harness is the complement either way
    val prods = jmap(results.collect {
      case (k, (_, _, _, Some(p), _)) => k -> p
      case (k, (v, _, _, None, Some(h))) => k -> math.max(0.0, v - h) })
    val harness = jmap(results.collect {
      case (k, (v, _, _, Some(p), _)) => k -> math.max(0.0, v - p)
      case (k, (_, _, _, None, Some(h))) => k -> h })
    // failed queries contribute no time: the total must never look faster
    // because something broke
    val total = results.collect { case (_, (v, _, None, _, _)) => v }.sum
    val nFailed = results.count(_._2._3.isDefined)
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"gcSec":$gcs,"prodSec":$prods,"harnessSec":$harness,"errors":$errs,"failed":$nFailed,"sf":"$sfDir"}"""
    println(fullJson)
    // Measurement-reporting fix (r16): the full line above — the original
    // one-line contract, kept verbatim — is ~12 KB at 253 gates, and the
    // driver's record stores/parses only a ~2000-char TAIL of the output:
    // every BENCH_r01..r15.json has parsed:null because the line's head is
    // cut before the JSON parse. So ALSO (1) persist the full JSON to a
    // well-known file, and (2) print a compact final line that always fits
    // in the tail. Timing methodology is untouched.
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (fullJson + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(s"""{"metric":"bench","total":$total,"failed":$nFailed,"sf":"$sfDir","cpus":$cpus,"full":"bench_out.json"}""")
    spark.stop()
  }
}
