package graft

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextAnalysis}

/** Unit coverage for the corpus-statistics and scrubbing text operators and
  * int8 embedding quantization (the oracle gates check them end-to-end at
  * sf0.01; these pin the semantics on crafted inputs).
  */
class TextOpsSpec extends SparkSpec {

  import spark.implicits._

  test("tfIdf demotes corpus-wide tokens below document-specific ones") {
    // 'common' appears in every doc; 'rare' only in doc 1 — despite equal
    // in-doc frequency, rare must outrank common on tf-idf
    // equal in-doc frequency: 'rare' (df=1) must outrank 'common' (df=3)
    val docs = Seq(
      (1L, "rare common"),
      (2L, "common common alpha"),
      (3L, "common beta beta")).toDF("doc_id", "text")
    val top = TextAnalysis.tfIdf(docs, k = 1)
      .select("doc_id", "tok").as[(Long, String)].collect().toMap
    assert(top(1L) == "rare", s"expected 'rare' to win doc 1, got ${top(1L)}")
    assert(top(3L) == "beta")
    // idf of an every-doc token: ln(4/4)+1 = 1 → tfidf == tf
    val common = TextAnalysis.tfIdf(docs, k = 3)
      .filter(col("tok") === "common" && col("doc_id") === 2L)
      .select("tfidf").as[Double].head()
    assert(common == 2.0, s"every-doc token tfidf must equal tf, got $common")
  }

  test("redact replaces emails then digit runs, with audit counts") {
    val docs = Seq(
      (1L, "mail a.user+x@sub.example.org and acct 12345678 or 42"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val r = TextAnalysis.redact(docs).orderBy("doc_id")
      .as[(Long, Int, Int, String)].collect()
    assert(r(0) == ((1L, 1, 1, "mail <EMAIL> and acct <NUM> or 42")), s"${r(0)}")
    assert(r(1) == ((2L, 0, 0, "no pii here at all")))
  }

  test("contamination flags shared trigrams against the benchmark only") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // 2 shared trigrams w/ bench
      (2L, "one two three four five six"),            // disjoint
      (3L, "alpha beta gamma unrelated tail words")   // 1 shared trigram
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta something else"))
      .toDF("bench_id", "text")
    val hits = graft.operators.TextAnalysis
      .contamination(docs, bench, n = 3, minShared = 2)
      .collect().map(r => (r.getLong(r.fieldIndex("doc_id")),
        r.getLong(r.fieldIndex("bench_id")),
        r.getLong(r.fieldIndex("shared")))).toSet
    // doc 1 shares "alpha beta gamma" + "beta gamma delta"; doc 3 only one
    assert(hits == Set((1L, 100L, 2L)), hits)
  }

  test("curation drops the near-dup loser, the contaminated doc and low quality") {
    val base = "the quick brown fox jumps over the lazy dog and then it runs to " +
      "the river where it drinks water and rests in the shade of a tree"
    val docs = Seq(
      (1L, base),                              // survives (cluster representative)
      (2L, base + " today"),                   // near-dup of 1 -> dropped
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu and it is that the of to in a clean long document here"),
      (4L, "???!!! ### $$$ %%% ^^^ &&&"),      // punctuation soup -> low quality
      (5L, "benchmark question one about the meaning of life and it is " +
        "that the answer to everything stays forty two here")  // contaminated
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "benchmark question one about the meaning of life " +
      "and all the rest of it")).toDF("bench_id", "text")
    val kept = graft.operators.Curation
      .curate(docs, bench, minJaccard = 0.3, minQuality = 0.45)
      .collect().map(_.getLong(0)).sorted.toSeq
    graft.operators.Caches.release(spark)
    assert(kept == Seq(1L, 3L), s"kept=$kept")
  }

  test("curation report: stage attrition sums to the curate survivor count") {
    val base = "the quick brown fox jumps over the lazy dog and then it runs to " +
      "the river where it drinks water and rests in the shade of a tree"
    val docs = Seq(
      (1L, base),
      (2L, base + " today"),                   // near-dup of 1 -> dedup drop
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu and it is that the of to in a clean long document here"),
      (4L, "???!!! ### $$$ %%% ^^^ &&&"),      // low quality drop
      (5L, "benchmark question one about the meaning of life and it is " +
        "that the answer to everything stays forty two here")  // contaminated
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "benchmark question one about the meaning of life " +
      "and all the rest of it")).toDF("bench_id", "text")
    val r = graft.operators.Curation
      .report(docs, bench, minJaccard = 0.3, minQuality = 0.45)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    graft.operators.Caches.release(spark)
    assert(r("input") == ((0L, 5L)), s"$r")
    assert(r("dedup") == ((1L, 4L)), s"$r")        // doc 2 dropped
    assert(r("quality") == ((1L, 3L)), s"$r")      // doc 4 dropped
    assert(r("decontaminate") == ((1L, 2L)), s"$r") // doc 5 dropped
  }

  test("repetition scores duplicated n-grams; short docs score zero") {
    val docs = Seq(
      (1L, "a b c d e a b c d e a b c d e"),  // heavy 5-gram repetition
      (2L, "q w e r t y u i o p"),            // all-unique 5-grams
      (3L, "tiny doc")                        // < n tokens
    ).toDF("doc_id", "text")
    val rows = graft.operators.TextAnalysis.repetition(docs, n = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows(1L)._3 > 0.5, s"repeated doc must score high: ${rows(1L)}")
    assert(rows(2L)._3 == 0.0 && rows(2L)._1 == rows(2L)._2, rows(2L))
    assert(rows(3L) == ((0L, 0L, 0.0)), rows(3L))
  }

  test("int8 quantization: bounded range, bounded cosine error, zero-safe") {
    val vecs = Seq(
      (1L, Array(0.3, -1.5, 0.7, 0.001)),
      (2L, Array(2.0, 2.0, -2.0, 0.5)),
      (3L, Array(0.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val qs = vecs.select(col("vec_id"),
      Similarity.quantizeInt8(col("embedding")).as("qs"))
    val rows = qs.select(col("vec_id"), col("qs.q"), col("qs.scale"))
      .as[(Long, Seq[Int], Double)].collect().sortBy(_._1)
    assert(rows.forall(_._2.forall(q => q >= -127 && q <= 127)))
    assert(rows(0)._2(1) == -127, "max-magnitude component must hit ±127")
    assert(rows(2)._2.forall(_ == 0) && rows(2)._3 == 0.0, "zero vector")

    // reconstruction error per component ≤ scale/2
    val err = qs.join(vecs, "vec_id")
      .select(zip_with(Similarity.dequantizeInt8(col("qs")), col("embedding"),
        (d, o) => abs(d - o)).as("e"), col("qs.scale"))
      .select(max(array_max(col("e")) - col("scale") * 0.5)).as[Double].head()
    assert(err <= 1e-12, s"component error above scale/2 by $err")
  }

  test("duplicateSpans counts corpus-duplicated positions; runs collapse them") {
    // 'p q r p q r' at w=3: grams at pos 0..3 = pqr, qrp, rpq, pqr — only
    // 'p q r' repeats (intra-doc), so 2 of 4 positions are duplicated and
    // they are NOT adjacent → two runs of a single gram (run_tokens = 3).
    val docs = Seq((1L, "p q r p q r")).toDF("doc_id", "text")
    val s = graft.operators.Dedup.duplicateSpans(docs, w = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(s == Seq((4L, 2L, 1L, 0.5)), s"spans=$s")
    val runs = graft.operators.Dedup.duplicateSpanRuns(docs, w = 3)
      .orderBy("run_start")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(runs == Seq((0L, 1L, 3L), (3L, 1L, 3L)), s"runs=$runs")
  }

  test("duplicateSpanRuns merges consecutive duplicated grams into one run") {
    // docs share the 5-token span 'x1..x5' → 3 consecutive duplicated
    // 3-grams per doc → ONE maximal run of run_tokens = 3 + 3 - 1 = 5
    val docs = Seq(
      (1L, "x1 x2 x3 x4 x5 u1 u2"),
      (2L, "z0 x1 x2 x3 x4 x5 v1")).toDF("doc_id", "text")
    val (spans, runs) = graft.operators.Dedup.duplicateSpanStats(docs, w = 3)
    val r = runs.orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    graft.operators.Caches.release(spark)
    assert(r.toSeq == Seq((1L, 0L, 3L, 5L), (2L, 1L, 3L, 5L)), s"runs=${r.toSeq}")
    val sp = spans.orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    // doc1: 5 positions, 3 dup; doc2: 5 positions, 3 dup
    assert(sp == Seq((1L, 5L, 3L), (2L, 5L, 3L)), s"spans=$sp")
  }

  test("exciseDuplicateSpans keeps the corpus-first copy and cuts the rest") {
    // d1 owns the first occurrence of the shared 5-token span 'p q r s t';
    // d2's copy (3 consecutive dup 3-grams → merged interval [1,5]) is cut.
    // d3's intra-doc repeat loses its second copy only.
    val docs = Seq(
      (1L, "p q r s t a b"),
      (2L, "z p q r s t b"),
      (3L, "m n o m n o")).toDF("doc_id", "text")
    val r = graft.operators.Dedup
      .exciseDuplicateSpans(docs, w = 3)
      .orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
    assert(r(0) == ((1L, 7L, 0L, "p q r s t a b")), r(0))
    assert(r(1) == ((2L, 7L, 5L, "z b")), r(1))
    assert(r(2) == ((3L, 6L, 3L, "m n o")), r(2))
    // a fully-duplicated doc empties to "" (not null) — concat_ws contract
    val all = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val c = graft.operators.Dedup.exciseDuplicateSpans(all, w = 3)
      .filter(col("doc_id") === 2L).select("text_clean").head().getString(0)
    assert(c == "", s"expected empty string, got '$c'")
  }

  test("unigramLogProb: tf-weighted mean equals the per-occurrence mean") {
    // corpus counts: a=2 b=2 c=1, total=5
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val rows = graft.operators.TextAnalysis.unigramLogProb(docs)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // doc1: all tokens have p=2/5 → mean = ln(0.4); doc2: (ln(2/5)+ln(1/5))/2
    assert(rows(0)._2 == 3L && math.abs(rows(0)._3 - (-0.916291)) < 1e-9, rows(0))
    assert(rows(1)._2 == 2L && math.abs(rows(1)._3 - (-1.262864)) < 1e-9, rows(1))
    assert(math.abs(rows(0)._4 - 2.5) < 1e-4 && math.abs(rows(1)._4 - 3.5355) < 1e-4)
  }

  test("ngramContainment flags an embedded doc that Jaccard misses") {
    // doc 1 is fully contained in the much larger doc 2: containment 1.0,
    // Jaccard far below any useful threshold
    val small = "alpha beta gamma delta epsilon"
    val big = small + " " + (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big), (3L, "totally different words here now"))
      .toDF("doc_id", "text")
    val cont = graft.operators.Dedup
      .ngramContainment(docs, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(cont == Seq((1L, 2L, 1.0)), s"containment pairs: $cont")
    val jac = graft.operators.Dedup
      .ngramJaccard(docs, minJaccard = 0.3).count()
    graft.operators.Caches.release(spark)
    assert(jac == 0, "Jaccard at any useful threshold must miss the subset pair")
  }

  test("bigramLogProb: conditional MLE, order-sensitive, short docs omitted") {
    // corpus bigrams: d1 = ab, ba, ac; d2 = ba  ⇒  c(ab)=1 c(ba)=2 c(ac)=1,
    // marginals a·=2 b·=2 ⇒ d1 mean = (ln½ + ln1 + ln½)/3, d2 mean = ln1
    val docs = Seq((1L, "a b a c"), (2L, "b a"), (3L, "solo")).toDF("doc_id", "text")
    val rows = graft.operators.TextAnalysis.bigramLogProb(docs)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length == 2, s"1-token doc must be omitted: ${rows.toSeq}")
    assert(rows(0)._2 == 3L && math.abs(rows(0)._3 - (-0.462098)) < 1e-9, rows(0))
    assert(rows(1)._2 == 1L && rows(1)._3 == 0.0 && rows(1)._4 == 1.0, rows(1))
    // order sensitivity: same unigram profile, different order ⇒ different score
    val shuffled = Seq((1L, "a a b c"), (2L, "b a"), (3L, "solo")).toDF("doc_id", "text")
    val s1 = graft.operators.TextAnalysis.bigramLogProb(shuffled)
      .filter(col("doc_id") === 1L).select("avg_logp").head().getDouble(0)
    assert(math.abs(s1 - rows(0)._3) > 1e-6,
      s"reordering tokens must move the bigram score: $s1 vs ${rows(0)._3}")
  }

  test("bigramInterpLogProb: Jelinek-Mercer hand-check, λ=1 degenerates to the MLE") {
    // same corpus as the MLE test; unigrams c(a)=3 c(b)=2 c(c)=1 c(solo)=1,
    // N=7; d1: p(ab)=.7·½+.3·2/7, p(ba)=.7·1+.3·3/7, p(ac)=.7·½+.3·1/7
    //  ⇒ mean −0.651043, ppl 1.9175; d2: p(ba) ⇒ −0.188052, ppl 1.2069
    val docs = Seq((1L, "a b a c"), (2L, "b a"), (3L, "solo")).toDF("doc_id", "text")
    val rows = graft.operators.TextAnalysis.bigramInterpLogProb(docs)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length == 2, s"1-token doc must be omitted: ${rows.toSeq}")
    assert(rows(0)._2 == 3L && math.abs(rows(0)._3 - (-0.651043)) < 1e-9
      && rows(0)._4 == 1.9175, rows(0))
    assert(rows(1)._2 == 1L && math.abs(rows(1)._3 - (-0.188052)) < 1e-9
      && rows(1)._4 == 1.2069, rows(1))
    // λ = 1 removes the unigram floor: scores equal the raw conditional MLE
    val atOne = graft.operators.TextAnalysis.bigramInterpLogProb(docs, lambda = 1.0)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(2)))
    val mle = graft.operators.TextAnalysis.bigramLogProb(docs)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(atOne.toSeq == mle.toSeq, s"λ=1 must equal the MLE: ${atOne.toSeq} vs ${mle.toSeq}")
  }

  test("quantizedTopK ranks like the exact brute force on well-separated vectors") {
    val corpus = (0L to 19L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 0.7 + d) + (if (d == (i % 8)) 3.0 else 0.0)))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 10 === 0)
    val exact = Similarity.bruteForceTopK(corpus, queries, 3)
      .select("q_id", "neighbor", "rk").collect().toSet
    val quant = Similarity.quantizedTopK(corpus, queries, 3)
      .select("q_id", "neighbor", "rk").collect().toSet
    assert(quant == exact,
      s"quantized ranking diverged on separated vectors:\n$quant\nvs\n$exact")
  }

  test("subwordVocab counts word-internal char n-grams with a total-order cut") {
    // 'abab abab ab' → bigrams: ab×5 (2 each from the two 'abab' + 1), ba×2;
    // trigrams: aba×2, bab×2; 4-grams: abab×2. k=3 keeps ab, then the
    // cnt=2 ties resolve alphabetically: aba, abab.
    val docs = Seq((1L, "abab abab ab")).toDF("doc_id", "text")
    val v = TextAnalysis.subwordVocab(docs, minLen = 2, maxLen = 4, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(v == Seq(("ab", 5L), ("aba", 2L), ("abab", 2L)), s"vocab=$v")
  }

  test("oovRate: tokens outside the top-k vocab count as OOV per language") {
    val docs = Seq(
      (1L, "en", "aa aa aa bb"),   // aa dominates
      (2L, "de", "aa cc")          // cc falls outside k=2 vocab {aa, bb}
    ).toDF("doc_id", "lang", "text")
    val r = TextAnalysis.oovRate(docs, k = 2).orderBy("lang").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        x.getDouble(3))).toSeq
    // vocab by (cnt desc, tok): aa(4), bb(1) — cc(1) loses the tie to bb
    assert(r == Seq(("de", 2L, 1L, 0.5), ("en", 4L, 4L, 0.0)), s"oov=$r")
  }

  test("normalize canonicalizes case/control/space runs; dup groups catch variants") {
    val docs = Seq(
      (1L, "The  quick\tbrown fox"),
      (2L, " the quick brown\nfox "),   // same canonical form as doc 1
      (3L, "the quick brown fox"),      // and again, already canonical
      (4L, "an unrelated document")).toDF("doc_id", "text")
    val n = TextAnalysis.normalize(docs).orderBy("doc_id").collect()
    // docs 3 and 4 are already canonical → unchanged; 1 and 2 changed
    assert(n.map(_.getBoolean(3)).toSeq == Seq(true, true, false, false))
    assert(n.map(_.getString(4)).distinct.length == 2,
      "docs 1-3 must share one canonical hash")
    val g = TextAnalysis.normalizedDupGroups(docs).collect()
    assert(g.length == 1 && g(0).getLong(1) == 3L && g(0).getLong(2) == 1L,
      s"expected one 3-doc group kept at doc 1, got ${g.toSeq}")
  }

  test("corpusNovelty: later docs lose novelty for grams first seen earlier") {
    val docs = Seq(
      (1L, "a b c d e"),      // 3 grams, all novel (first doc)
      (2L, "a b c x y z"),    // 4 grams; 'a b c' first seen in doc 1 → 3/4 novel
      (3L, "a b c d e")       // identical to doc 1 → 0/3 novel
    ).toDF("doc_id", "text")
    val r = graft.operators.Dedup.corpusNovelty(docs, w = 3)
      .orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getDouble(3))).toSeq
    assert(r == Seq((1L, 3L, 0L, 1.0), (2L, 4L, 1L, 0.75), (3L, 3L, 3L, 0.0)),
      s"novelty=$r")
  }

  test("split assigns every row to exactly one cut, stably under growth") {
    val small = (0L until 200L).map(i => Tuple1(i)).toDF("id")
    val cuts = Seq("train" -> 900L, "val" -> 950L, "test" -> 1000L)
    val a = graft.operators.Sampling.split(small, col("id"), cuts)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(a.size == 200 && a.values.toSet.subsetOf(Set("train", "val", "test")))
    // proportions in the right ballpark for 90/5/5 on 200 ids
    val byCut = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byCut("train") > 150, s"train share off: $byCut")
    // growth stability: the same ids in a larger table keep their split
    val big = (0L until 400L).map(i => Tuple1(i)).toDF("id")
    val b = graft.operators.Sampling.split(big, col("id"), cuts)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(a.forall { case (id, s) => b(id) == s },
      "a row's split must not change when the corpus grows")
  }

  test("contaminationBloom == contamination (sketch prefilter is lossless)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally unrelated text with no overlap at all"),
      (3L, "alpha beta gamma something else entirely here")
    ).toDF("doc_id", "text")
    val bench = Seq((97L, "alpha beta gamma delta nothing more"))
      .toDF("bench_id", "text")
    val exact = graft.operators.TextAnalysis
      .contamination(docs, bench, n = 3, minShared = 1)
      .orderBy("doc_id", "bench_id").collect().toSeq
    val bloom = graft.operators.TextAnalysis
      .contaminationBloom(docs, bench, n = 3, minShared = 1)
      .orderBy("doc_id", "bench_id").collect().toSeq
    assert(exact.nonEmpty && bloom == exact,
      s"\nbloom: $bloom\nexact: $exact")
  }

  test("survivorsByScore keeps the best-scoring cluster member, not min id") {
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // clusters {1,2,3} and {4,5}; 6 untouched. Scores favor 3 and 4; the
    // min-id rule would have kept 1 and 4.
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id1", "id2")
    val scores = Seq((1L, 0.1), (2L, 0.9), (3L, 0.9), (4L, 0.7), (5L, 0.2),
      (6L, 0.0)).toDF("doc_id", "quality_score")
    val got = graft.operators.Dedup.survivorsByScore(docs, pairs, scores)
      .select("doc_id").as[Long].collect().toSet
    // tie 2 vs 3 at 0.9 → smaller id (2) wins
    assert(got == Set(2L, 4L, 6L), s"got=$got")
  }

  test("winsorize clamps to per-group quantiles and rescales to [0,1]") {
    // group g1: 0..10 → p05/p95 interpolate to 0.5/9.5; outliers clamp.
    // group g2: constant → degenerate, norm 0.5 for all.
    val rows = (0 to 10).map(i => ("g1", i.toDouble)) ++
      Seq(("g2", 7.0), ("g2", 7.0), ("g2", 7.0))
    val df = rows.toDF("src", "v")
    val out = graft.operators.TextAnalysis.winsorize(df, "src", "v")
      .select("src", "v", "lo", "hi", "winsorized", "norm_score")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val g1 = out.filter(_._1 == "g1")
    assert(g1.forall(t => t._3 == 0.5 && t._4 == 9.5), s"bounds: ${g1.head}")
    assert(g1.forall(t => t._5 == math.min(math.max(t._2, 0.5), 9.5)))
    assert(g1.forall(t => t._6 >= 0.0 && t._6 <= 1.0))
    assert(g1.filter(_._2 == 0.0).forall(_._6 == 0.0), "clamped lo → 0")
    assert(g1.filter(_._2 == 10.0).forall(_._6 == 1.0), "clamped hi → 1")
    val g2 = out.filter(_._1 == "g2")
    assert(g2.nonEmpty && g2.forall(_._6 == 0.5), s"degenerate: ${g2.toSeq}")
  }

  test("chunk: full coverage, overlap, short/empty docs, exact reassembly") {
    import org.apache.spark.sql.functions.col
    val words = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, words),          // 10 tokens, width 4 stride 3 -> 3 chunks
      (2L, "only three words"),
      (3L, ""),             // empty -> no chunks
      (4L, "   "))          // whitespace-only -> no chunks
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.chunk(docs, width = 4, stride = 3)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    // doc 1: ceil((10-4)/3)+1 = 3 chunks at starts 0,3,6; LAST chunk
    // covers tokens 7..10 (start 6, len 4) — every position covered
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0L, 0L, 4L, "w1 w2 w3 w4"),
      (1L, 1L, 3L, 4L, "w4 w5 w6 w7"),
      (1L, 2L, 6L, 4L, "w7 w8 w9 w10")))
    // doc 2 fits one short chunk; docs 3 and 4 vanish
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 0L, 3L, "only three words")))
    assert(!out.exists(r => r._1 == 3L || r._1 == 4L))
    // stride == width: disjoint cover, concatenation reassembles the doc
    val flat = graft.operators.TextAnalysis.chunk(docs.filter(col("doc_id") === 1L),
        width = 3, stride = 3)
      .orderBy("chunk_id").collect().map(_.getString(4)).mkString(" ")
    assert(flat == words)
  }

  test("zipfFit recovers the exponent of an exact power-law corpus") {
    // construct token frequencies freq(rank) = round(1000 * rank^-1):
    // tokens t01..t20, token tNN repeated round(1000/NN) times — the fit
    // over the exact series must come out at slope ≈ -1, r² ≈ 1
    val text = (1 to 20).flatMap { r =>
      Seq.fill(math.round(1000.0 / r).toInt)(f"t$r%02d")
    }.mkString(" ")
    val docs = Seq((1L, text, "src")).toDF("doc_id", "text", "source")
    val out = TextAnalysis.zipfFit(docs, topN = 20).collect()
    assert(out.length == 1)
    val row = out.head
    assert(row.getAs[Long]("n_terms") == 20L)
    assert(math.abs(row.getAs[Double]("zipf_slope") - (-1.0)) < 0.01,
      s"slope ${row.getAs[Double]("zipf_slope")}")
    assert(row.getAs[Double]("r2") > 0.999)
    // a flat (non-Zipf) corpus bends the line to slope ~0
    val flatDocs = Seq((2L, (1 to 20).map(i => f"u$i%02d").mkString(" "),
      "flat")).toDF("doc_id", "text", "source")
    val s2 = TextAnalysis.zipfFit(flatDocs, topN = 20).collect().head
    assert(math.abs(s2.getAs[Double]("zipf_slope")) < 1e-9)
  }

  test("bm25: higher tf wins under equal idf; unmatched docs absent") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana banana")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25(docs, Seq("apple"), k = 10)
      .orderBy("rk").collect()
    assert(out.length == 2, out.mkString(";"))          // doc 3 never matches
    assert(out(0).getAs[Long]("doc_id") == 1L)          // tf=2 beats tf=1
    assert(out(0).getAs[Double]("bm25") > out(1).getAs[Double]("bm25"))
    assert(out.forall(_.getAs[Double]("bm25") > 0))
  }

  test("collocations: repeated adjacent pair wins with positive pmi") {
    val docs = Seq(
      (1L, "new york is big"),
      (2L, "new york new york"),
      (3L, "a b")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.collocations(docs, k = 10, minCount = 2L).collect()
    // only (new, york) reaches the count floor: n12 = 3 of 7 bigrams
    assert(out.length == 1, out.mkString(";"))
    val r = out(0)
    assert(r.getAs[String]("w1") == "new" && r.getAs[String]("w2") == "york")
    assert(r.getAs[Long]("n12") == 3L)
    // pmi = ln(3*7 / (3*3)) = ln(2.333..) rounded
    assert(math.abs(r.getAs[Double]("pmi") - math.round(
      math.log(21.0 / 9.0) * 1e6) / 1e6) < 1e-9, r.toString)
  }

  test("canonicalizeUrl: case, www, default port, slash, utm, order, frag") {
    import spark.implicits._
    val urls = Seq(
      "HTTP://WWW.Example.COM:80/a/",         // all defaults stripped
      "http://example.com/a",                 // already canonical
      "https://example.com:443/a",            // https default port
      "https://example.com:8443/a",           // NON-default port kept
      "http://example.com/a?b=2&a=1",         // params sorted
      "http://example.com/a?a=1&utm_source=x&b=2", // tracking dropped
      "http://example.com/a#section",         // fragment dropped
      "http://example.com/a?utm_source=x"     // all params tracking → no ?
    ).toDF("url")
    val got = urls
      .select(graft.operators.TextAnalysis.canonicalizeUrl(col("url")))
      .collect().map(_.getString(0)).toSeq
    assert(got(0) == "http://example.com/a", got(0))
    assert(got(1) == "http://example.com/a")
    assert(got(2) == "https://example.com/a")
    assert(got(3) == "https://example.com:8443/a")
    assert(got(4) == "http://example.com/a?a=1&b=2")
    assert(got(5) == "http://example.com/a?a=1&b=2")
    assert(got(6) == "http://example.com/a")
    assert(got(7) == "http://example.com/a")
  }
}
