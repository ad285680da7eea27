package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup

/** Online MinHash near-dup detection over an ARRIVING document stream —
  * the streaming form of [[Dedup.minHashLsh]], and the shape a training-data
  * ingest pipeline actually runs: every new document must be checked against
  * the whole corpus seen so far, without ever re-scanning that corpus.
  *
  * Per micro-batch (`foreachBatch`):
  *
  *  1. shingle + MinHash-band the batch's documents with the SAME
  *     `Dedup.minHashSignatures`/`bandRows` code as batch — no drift;
  *  2. candidates = the batch's band rows equi-joined against the
  *     append-only BAND INDEX of all earlier documents, plus the
  *     within-batch triangular self-join. The index join touches only
  *     colliding band buckets — the arriving batch never scans the corpus;
  *  3. exact Jaccard over the full shingle sets (shared
  *     `Dedup.verifyJaccardSets` — per-pair `array_intersect`, identical
  *     values to the exploded-row verify) decides ≥ `minJaccard`;
  *  4. the batch's band rows and shingle sets are APPENDED to the index in
  *     one combined write — epoch-keyed directory writes, so a retried
  *     batch overwrites itself (idempotent) instead of double-appending.
  *
  * A pair is emitted exactly once: when its LATER member arrives. Over a
  * bounded replay the emitted pair set therefore equals the batch
  * `minHashLsh` result REGARDLESS of how the stream is sliced — which is
  * what the `stream_minhash` gate proves against the same DuckDB oracle as
  * `dedup_minhash`.
  *
  * Scale notes (100 TB corpus, unbounded stream): state is the band index —
  * O(corpus × numBands) compact rows on DISTRIBUTED storage, not in the
  * state store and never on the driver; each micro-batch's work is
  * |batch bands| probing a bucketed join plus exact verification of the few
  * colliding pairs. Band rows and per-doc shingle-SET rows (one array row
  * per document — ~|shingles/doc|× fewer rows than the exploded form the
  * index stored before r8, which made the per-epoch verify scan the
  * dominant stage) share ONE index relation (discriminated by which
  * columns are null — union partitions keep files single-kind, so the
  * IsNotNull filters prune at row-group stats), so an
  * epoch costs one index append and one compaction, not two of each. The
  * index directory count is BOUNDED: every `compactEvery` epochs the
  * accumulated epoch dirs are folded into one compacted dir (read → tmp →
  * rename → delete sources), so the per-batch re-plan lists
  * O(compactEvery) dirs regardless of stream age. In production the index
  * lives in a bucketed/partitioned table (bucket by (band, bkey) → the
  * probe is exchange-free on the index side); here it is plain parquet,
  * re-planned per batch.
  */
object StreamingNearDup {

  private val pairSchema = StructType.fromDDL(
    "id1 BIGINT, id2 BIGINT, jac DOUBLE")

  // combined index row: a band row (bkey set, shs null) or a per-doc
  // shingle-set row (shs set, band/bkey null)
  private val idxSchema = StructType.fromDDL(
    "id BIGINT, band INT, bkey STRING, shs ARRAY<STRING>")

  /** Replay a bounded document table through the online near-dup pipeline
    * in `batches` arrival slices (ascending `idCol` — the synthetic arrival
    * order) and return all emitted pairs. Result == `Dedup.minHashLsh` on
    * the same table, by construction.
    *
    * `profile`: when non-null, receives per-epoch stage wall times
    * (`(stage, seconds)`), and the epoch loop inserts two extra counting
    * actions that pin the shingle/signature stages separately (they are
    * otherwise folded into the candidate job) — measurement mode only, the
    * default path is untouched. Stages: compact, shingle, signature,
    * candidates (index read + band joins + distinct), verify (exact
    * Jaccard + pairs write), append (index write).
    */
  def replayBatch(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, numHashes: Int = 32,
      numBands: Int = 8, minJaccard: Double = 0.5,
      batches: Int = 4, compactEvery: Int = 8,
      inspect: Path => Unit = _ => (),
      profile: (String, Double) => Unit = null): DataFrame = {
    val spark = docs.sparkSession
    def timed[T](stage: String)(body: => T): T =
      if (profile == null) body
      else {
        val t0 = System.nanoTime()
        val r = body
        profile(stage, (System.nanoTime() - t0) / 1e9)
        r
      }

    val in = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).as("text"))
    // documents carry no event time: arrival order is the id (monotone,
    // unique), turned into a synthetic timestamp for the shared chunker
    val staged = in.withColumn("__ts", timestamp_micros(col("id")))
    val (chunk, _, _) = FileReplay.timeChunks(staged, "__ts", batches)
    val root = FileReplay.stage(staged, chunk, Seq.empty)

    val idxDir = Files.createDirectories(root.resolve("idx"))
    val pairsDir = Files.createDirectories(root.resolve("pairs"))

    // index dirs are `epoch_E` (one epoch's rows) or `compact_E` (all rows
    // from epochs ≤ E); anything else (tmp dirs mid-compaction) is ignored
    val dirEpoch = raw".*/(?:epoch|compact)_(\d+)$$".r
    def epochOf(p: String): Option[Long] = p match {
      case dirEpoch(e) => Some(e.toLong)
      case _ => None
    }
    def epochDirs(d: Path): Seq[String] = {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.toString).toList.sorted finally s.close()
    }
    // only epochs strictly BEFORE the current one: a RETRIED epoch must not
    // see its own prior half-written output, or the cross join pairs the
    // batch against itself (self-pairs at Jaccard 1.0, duplicated
    // within-batch pairs) and the retry stops being idempotent
    def readIdx(d: Path, schema: StructType, beforeEpoch: Long): DataFrame = {
      val dirs = epochDirs(d).filter(epochOf(_).exists(_ < beforeEpoch))
      if (dirs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else spark.read.parquet(dirs: _*)
    }
    def deleteDir(p: Path): Unit = {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
    // fold all index dirs from epochs < epoch into one `compact_(epoch-1)`
    // dir once their count reaches compactEvery, so the per-batch dir
    // listing (and the parquet re-plan behind it) stays O(compactEvery)
    // instead of O(stream age). Crash-safe order: materialize to a tmp dir
    // (invisible to readIdx), rename into place, THEN delete sources — a
    // crash can only leave sources + compact coexisting, which double-reads
    // set-like rows that the downstream distinct/dropDuplicates absorb.
    def compactIdx(d: Path, epoch: Long): Unit = {
      // reclaim stale tmp_* dirs first: a crash after writing tmp_<E-1> but
      // before the rename leaks the tmp dir permanently if the restarted
      // stream next compacts at a LATER epoch (the overwrite below only
      // cleans the SAME epoch's tmp). Listings ignore tmp_ dirs so this is
      // purely disk reclamation — any tmp dir seen here is dead by
      // construction (the rename that would consume it never happened).
      epochDirs(d).filter(_.matches(raw".*/tmp_\d+$$"))
        .foreach(p => deleteDir(Path.of(p)))
      val dirs = epochDirs(d).filter(epochOf(_).exists(_ < epoch))
      if (dirs.length >= compactEvery) {
        val tmp = d.resolve(f"tmp_${epoch - 1}%09d")
        val dst = d.resolve(f"compact_${epoch - 1}%09d")
        if (Files.exists(dst)) {
          // a prior attempt of this epoch already committed: the tmp→dst
          // rename is the commit point and dst was built from ALL dirs
          // < epoch (that set only grows at ≥ epoch), so dst ⊇ every
          // remaining source. Never delete dst — just finish the cleanup.
          dirs.filterNot(_ == dst.toString).foreach(p => deleteDir(Path.of(p)))
        } else {
          spark.read.parquet(dirs: _*)
            .write.mode("overwrite").parquet(tmp.toString)
          Files.move(tmp, dst) // same-fs dir rename: atomic commit
          dirs.foreach(p => deleteDir(Path.of(p)))
        }
      }
    }

    val q = FileReplay.source(spark, root, staged.schema)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        timed("compact")(compactIdx(idxDir, epoch))
        val b = batch.select(col("id"), col("text")).persist()
        try {
          // ONE aggregation produces the per-doc shingle sets; signatures
          // derive per-row from the sets (no second shuffle), and the sets
          // are what the index stores and the verify intersects
          val sets = Dedup.shingleRows(b, "text", "id", n, fan = false)
            .groupBy("id").agg(collect_list(col("sh")).as("shs")).persist()
          val bands = Dedup.bandRows(
            Dedup.minHashSignaturesFromSets(sets, numHashes),
            numHashes, numBands)
            .persist()
          try {
            if (profile != null) { // isolate the per-batch pipeline stages
              timed("shingle")(sets.count())
              timed("signature")(bands.count())
            }
            // read the index BEFORE appending this batch: cross-candidates
            // pair old × new only, within-batch pairs come from the
            // triangular self-join — each unordered pair found once. ONE
            // listing + plan serves both the band and shingle views.
            val seen = readIdx(idxDir, idxSchema, epoch)
            val seenBands = seen.filter(col("bkey").isNotNull)
              .select(col("id"), col("band"), col("bkey"))
            val within = bands.as("a").join(bands.as("b"),
                col("a.band") === col("b.band") &&
                  col("a.bkey") === col("b.bkey") && col("a.id") < col("b.id"))
              .select(col("a.id").as("id1"), col("b.id").as("id2"))
            val cross = seenBands.as("a").join(bands.as("b"),
                col("a.band") === col("b.band") &&
                  col("a.bkey") === col("b.bkey") &&
                  col("a.id") =!= col("b.id")) // guard: no self-pairs ever
              .select(least(col("a.id"), col("b.id")).as("id1"),
                greatest(col("a.id"), col("b.id")).as("id2"))
            // pinned: read three times below (id list ×2 sides + join probe)
            val cand = within.unionByName(cross).distinct().persist()
            // one count on the pinned relation serves BOTH the empty-epoch
            // skip and the verify's broadcast size gate
            val nCand = timed("candidates")(cand.count())
            try if (nCand == 0L) {
              // no band collisions this epoch (the common case at any sane
              // threshold): skip the exact-verify job — whose shingle-index
              // scan is the epoch's dominant read — and the empty output
              // write. The pairs reader lists only dirs that exist, and a
              // retry recomputes the same (deterministic) empty candidates.
              ()
            } else {
              // restrict the set index to the candidates' ids BEFORE the
              // exact verify — the semi-join keeps per-batch verify work
              // proportional to band collisions, not corpus size (in
              // production the index is bucketed by id, making this probe
              // scan-free too). dropDuplicates(id): an id's set row is
              // immutable, so a crash-window double-read of a compacted-
              // but-undeleted epoch dir just re-reads identical content.
              val candIds = cand.select(col("id1").as("id"))
                .unionByName(cand.select(col("id2").as("id"))).distinct()
              val seenSets = seen.filter(col("shs").isNotNull)
                .select(col("id"), col("shs"))
              val setsNeeded = seenSets.unionByName(sets)
                .join(broadcast(candIds), "id")
                .dropDuplicates("id")
              timed("verify")(
                Dedup.verifyJaccardSets(cand, setsNeeded, minJaccard, nCand)
                  .write.mode("overwrite")
                  .parquet(pairsDir.resolve(f"epoch_$epoch%09d").toString))
            } finally cand.unpersist()
            // ONE index append per epoch: band and shingle-set rows united
            // under the combined schema (each union branch keeps its own
            // partitions, so output files stay single-kind and the read-side
            // IsNotNull filters skip whole row groups)
            timed("append")(
              bands.select(col("id"), col("band"), col("bkey"),
                  lit(null).cast("array<string>").as("shs"))
                .unionByName(sets.select(col("id"),
                  lit(null).cast("int").as("band"),
                  lit(null).cast("string").as("bkey"), col("shs")))
                .write.mode("overwrite")
                .parquet(idxDir.resolve(f"epoch_$epoch%09d").toString))
          } finally { bands.unpersist(); sets.unpersist() }
        } finally b.unpersist()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    inspect(root)

    val outs = epochDirs(pairsDir)
    if (outs.isEmpty) // typed empty result — downstream select/gates rely on it
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], pairSchema)
    else spark.read.parquet(outs: _*)
  }
}
