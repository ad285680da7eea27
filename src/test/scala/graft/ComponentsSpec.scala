package graft

import scala.util.Random

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

/** `Dedup.components` has two paths: a driver-side union-find for edge sets
  * within the driver bound, and the distributed min-label rounds above it.
  * Both must return the same `(id, comp)` rows — every node in ≥1 pair,
  * labeled with its component's smallest id — as an independent BFS.
  */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** No edge count is at most -1: every input takes the rounds. */
  private val ForceRounds = -1L

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def driverPath(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  /** Reference labels: breadth-first search over the undirected graph. */
  private def expected(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    val seen = scala.collection.mutable.Map.empty[Long, Long]
    for (start <- adj.keys.toSeq.sorted if !seen.contains(start)) {
      var frontier = List(start)
      val members = scala.collection.mutable.ArrayBuffer(start)
      seen(start) = start
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj(_)).distinct.filterNot(seen.contains)
        frontier.foreach { n => seen(n) = start; members += n }
      }
      val root = members.min
      members.foreach(seen(_) = root)
    }
    seen.toMap
  }

  private def checkBoth(edges: Seq[(Long, Long)], what: String): Unit = {
    val pairs = edges.toDF("id1", "id2")
    val driver = Dedup.components(pairs)
    val rounds = Dedup.components(pairs, 20, ForceRounds)
    assert(driverPath(driver), s"$what: expected the driver path")
    assert(!driverPath(rounds), s"$what: expected the distributed rounds")
    val want = expected(edges)
    assert(labels(driver) == want, s"$what: driver path")
    assert(labels(rounds) == want, s"$what: distributed rounds")
    assert(driver.schema.map(_.dataType) == rounds.schema.map(_.dataType))
    assert(driver.count() == want.size && rounds.count() == want.size,
      s"$what: one row per node")
  }

  test("driver union-find equals the distributed rounds on seeded random graphs") {
    for (seed <- 1 to 6) {
      val rnd = new Random(seed)
      // sparse over a wide, signed id range: many small clusters and trees
      val nodes = Seq.fill(40)(rnd.nextLong() % 1000000L).distinct
      val edges = Seq.fill(30 + rnd.nextInt(30)) {
        (nodes(rnd.nextInt(nodes.size)), nodes(rnd.nextInt(nodes.size)))
      }
      // duplicate, reversed and self pairs
      val extra = edges.take(5) ++ edges.take(5).map(_.swap) ++
        Seq((nodes.head, nodes.head))
      checkBoth(rnd.shuffle(edges ++ extra), s"seed $seed")
    }
  }

  test("duplicates, reversed pairs, self pairs, a long path, empty input") {
    checkBoth(Seq((2L, 1L), (1L, 2L), (2L, 1L), (3L, 3L), (9L, 7L), (7L, 9L)),
      "duplicates and self pairs")
    // 30 edges: longer than the rounds' default maxIter of 20, shuffled so
    // the union order is not the path order
    val path = new Random(7).shuffle((100L until 130L).map(i => (i + 1, i)))
    checkBoth(path, "path of 30 edges")
    assert(labels(Dedup.components(path.toDF("id1", "id2"))).values.toSet == Set(100L))
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    for (df <- Seq(Dedup.components(empty), Dedup.components(empty, 20, ForceRounds))) {
      assert(df.count() == 0)
      assert(df.columns.toSeq == Seq("id", "comp"))
      assert(df.schema.map(_.dataType) == empty.schema.map(_.dataType))
    }
  }

  test("the gate: exactly the bound takes the driver path, one more the rounds") {
    val edges = (1L to 6L).map(i => (i, i + 10))
    val atBound = Dedup.components(edges.take(5).toDF("id1", "id2"), 20, 5L)
    val overBound = Dedup.components(edges.toDF("id1", "id2"), 20, 5L)
    assert(driverPath(atBound), "5 edges at a bound of 5: driver path")
    assert(!driverPath(overBound), "6 edges at a bound of 5: rounds")
    assert(labels(atBound) == expected(edges.take(5)))
    assert(labels(overBound) == expected(edges))
  }

  test("ids the driver path does not handle take the rounds") {
    val ints = Seq((2, 1), (3, 2), (9, 8)).toDF("id1", "id2")
    val got = Dedup.components(ints)
    assert(!driverPath(got))
    assert(got.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1, 8 -> 8, 9 -> 8))
    val nulls = Seq((1L, Some(2L)), (3L, None)).toDF("id1", "id2")
    assert(!driverPath(Dedup.components(nulls)))
  }

  test("the driver path's collect runs 1 + ceil(log5 P) Spark jobs over P partitions") {
    def jobs(body: => DataFrame): (Int, DataFrame) = {
      val sc = spark.sparkContext
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      ListenerDrain.drain(sc)
      sc.addSparkListener(l)
      try {
        val df = body
        ListenerDrain.drain(sc)
        (n.get, df)
      } finally sc.removeSparkListener(l)
    }
    // ranges, not local relations: their collect is a real job per scan step
    // of Spark's incremental take (1 partition, then 4 more, then 20 more)
    for ((parts, want) <- Seq(1 -> 1, 8 -> 3)) {
      val pairs = spark.range(0, 40, 1, parts)
        .select((col("id") / 2).cast("long").as("id1"), (col("id") + 1).as("id2"))
      val (driverJobs, driver) = jobs(Dedup.components(pairs))
      assert(driverJobs == want, s"$parts partitions: driver path ran $driverJobs jobs")
      val (roundJobs, rounds) = jobs(Dedup.components(pairs, 20, ForceRounds))
      assert(roundJobs > want, s"$parts partitions: the rounds ran $roundJobs jobs")
      assert(labels(driver) == labels(rounds))
    }
  }

  test("the gate's cache of the edges is dropped on either path") {
    val pairs = Seq((2L, 1L), (3L, 2L), (9L, 8L)).toDF("id1", "id2")
    for (bound <- Seq(100L, ForceRounds)) {
      Dedup.components(pairs, 20, bound).collect()
      assert(pairs.select(col("id1"), col("id2")).storageLevel == StorageLevel.NONE,
        s"bound $bound left the edges cached")
    }
  }
}
