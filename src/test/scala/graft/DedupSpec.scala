package graft

import graft.dedup.Dedup
import org.apache.spark.sql.Row

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs(texts: (Long, String)*) =
    texts.toDF("doc_id", "text")

  test("exactDedup keeps min doc_id per identical text with dup count") {
    val d = docs(0L -> "a b c", 1L -> "a b c", 2L -> "x y z", 3L -> "a b c")
    val out = Dedup.exactDedup(d).collect()
    assert(out.toSeq == Seq(Row(0L, 3L), Row(2L, 1L)))
  }

  test("ngramJaccard finds the planted near-dup pair and nothing else") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = "the quick brown fox jumps over the lazy dog again and again tonight"
    val other = "completely different words forming another document entirely here now"
    val d = docs(0L -> base, 1L -> near, 2L -> other)
    val out = Dedup.ngramJaccard(d, threshold = 0.5).collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 0L && out(0).getLong(1) == 1L)
    assert(out(0).getDouble(2) > 0.5 && out(0).getDouble(2) < 1.0)
  }

  test("minHashLsh reproduces the exact ngramJaccard result") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = "the quick brown fox jumps over the lazy dog again and again tonight"
    val other = "completely different words forming another document entirely here now"
    val d = docs(0L -> base, 1L -> near, 2L -> other, 3L -> (base + " extra"))
    val exact = Dedup.ngramJaccard(d, threshold = 0.5).collect().toSeq
    val lsh = Dedup.minHashLsh(d, threshold = 0.5, numHashes = 128, bands = 32).collect().toSeq
    assert(lsh == exact)
  }

  test("dedupAgainst pairs the batch against the corpus only, never the corpus with itself") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = "the quick brown fox jumps over the lazy dog again and again tonight"
    // batch doc 0 matches corpus doc 10; corpus docs 11/12 are near-dups
    // of EACH OTHER but must not pair (corpus×corpus is already done)
    val batch = docs(0L -> base, 1L -> "totally unrelated fresh arrival content words here")
    val corpus = docs(10L -> near, 11L -> (near + " extra"), 12L -> (near + " bonus"))
    val out = Dedup.dedupAgainst(batch, corpus, threshold = 0.5,
        numHashes = 128, bands = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.forall(_._1 <= 1L), "left side must be batch docs")
    assert(out.map(_._1).toSet == Set(0L), s"got ${out.toSeq}")
    assert(out.map(_._2).toSet == Set(10L, 11L, 12L), s"got ${out.toSeq}")
  }

  test("ingestAdmit routes corpus-dups, batch-internal dups and clean docs with reasons") {
    val seen = "the quick brown fox jumps over the lazy dog again and again today"
    val fresh = "completely new material about sailing boats across a calm winter sea"
    val corpus = docs(100L -> seen, 101L -> "unrelated corpus filler text goes here now")
    val batch = docs(
      1L -> seen,   // near-dups corpus doc 100 → corpus_dup
      2L -> fresh,  // first occurrence → admitted
      3L -> fresh,  // repeats batch doc 2 → batch_dup
      4L -> "another genuinely distinct document with entirely different words",
      5L -> "hi")   // <3 tokens: no shingles, cannot pair → admitted
    val out = Dedup.ingestAdmit(batch, corpus).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(out(1L) == ((false, "corpus_dup")), s"got ${out(1L)}")
    assert(out(2L) == ((true, "admitted")), s"got ${out(2L)}")
    assert(out(3L) == ((false, "batch_dup")), s"got ${out(3L)}")
    assert(out(4L) == ((true, "admitted")))
    assert(out(5L) == ((true, "admitted")))
  }

  test("simHash: identical docs at hamming 0, disjoint docs filtered out") {
    val d = docs(
      0L -> "alpha beta gamma delta epsilon zeta eta theta",
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "one two three four five six seven eight")
    val out = Dedup.simHash(d, maxHamming = 3).collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 0L && out(0).getLong(1) == 1L && out(0).getInt(2) == 0)
  }

  test("simHash block-combination candidates: exact recall on planted hamming-1..3 pairs") {
    import org.apache.spark.sql.functions._
    // base fingerprint + planted variants at hamming 1/2/3 across DIFFERENT
    // blocks (the worst case for block keying), plus far-away noise
    val base = 0x0F0F0F0F0F0F0F0L & ((1L << 60) - 1)
    val fps = Seq(
      0L -> base,
      1L -> (base ^ 1L),                         // h=1, block 0
      2L -> (base ^ (1L << 11) ^ (1L << 25)),    // h=2, blocks 1+2
      3L -> (base ^ (1L << 5) ^ (1L << 35) ^ (1L << 55)), // h=3, blocks 0,3,5
      4L -> (~base & ((1L << 60) - 1))           // h=60
    ).toDF("doc_id", "simhash")
    val pairs = Dedup.simHashCandidates(fps, maxHamming = 3)
      .filter(col("hamming") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute ground truth: every pair among 0..3 is within hamming 3+3=6 of
    // each other ONLY through doc 0; assert exactly the <=3 pairs appear
    val expected = Set((0L, 1L, 1), (0L, 2L, 2), (0L, 3L, 3), (1L, 2L, 3))
    assert(pairs == expected, s"got $pairs")
  }

  test("simHash candidate key space scales: 1e5 random fingerprints stay near-linear") {
    import org.apache.spark.sql.functions._
    // 10^5 uniform 60-bit fingerprints: with 20 tables of 30-bit keys the
    // expected collision volume is C(n,2)*20/2^30 ≈ 93 pairs — versus
    // ~6e5 under the old 4x15-bit chunk keys (n²-degenerate). Assert the
    // candidate set stays a vanishing fraction of n, i.e. the key space
    // grew with the corpus instead of capping at 2^15.
    val n = 100000L
    val fp = spark.range(n).select(col("id").as("doc_id"),
      expr("xxhash64(id) & ((1L << 60) - 1)").as("simhash"))
    val cands = Dedup.simHashCandidates(fp, maxHamming = 3).count()
    assert(cands < n / 20, s"candidate volume $cands degenerated for n=$n")
  }

  test("d04 at vocabulary saturation is output-bound: candidate overhead a small constant") {
    import org.apache.spark.sql.functions._
    // PLANS.md d04 attribution: on the saturated synthetic corpus the
    // hamming<=3 ANSWER is pair-density quadratic (4x per 2x corpus at
    // sf1→sf2), and the 6-block join's raw candidate volume tracks it
    // at a ~3–10x constant — the blocking stays efficient relative to
    // the irreducible answer (per-output-pair cost falls 20.7→12.2 us
    // with scale). Pin the selectivity bound on the real docs table.
    graft.functions.GraftFunctions.register(spark)
    val fp = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("toks", array_distinct(split(lower(col("text")), "\\s+")))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), expr("graft_simhash(toks)").as("simhash"))
      .localCheckpoint(true)
    val cands = Dedup.simHashCandidates(fp).count()
    val out = Dedup.simHashCandidates(fp).filter(col("hamming") <= 3).count()
    assert(out > 0, "saturated corpus must produce hamming<=3 pairs")
    assert(cands <= 20 * out,
      s"candidate volume $cands degenerated vs output $out — blocking no longer answer-bound")
  }

  test("d06 auto-params bound expected candidate mass sub-quadratically at scale") {
    // the recall-driven auto-params trade candidate mass for guaranteed
    // recall: bits grow ~log2(n) (halving per-table random collisions
    // per doubling) while tables grow to hold the e^(-T·p1^b) <= 1e-3
    // recall floor. The 100 TB contract is on the COST MODEL itself (a
    // pure function of n): expected random-collision mass
    // m(n) = C(n,2)·T(n)·0.5^b(n) grows ~27x per DECADE (n^1.44) —
    // sub-quadratic (100x) because every ~3.3 added bits per decade
    // claw back 10x of the n² term, but NOT linear: sign-LSH at
    // cos 0.75 (rho ≈ 0.44/0.67) cannot do better, which is exactly
    // why the corpus-scale default for embedding dedup is d16
    // (SemDeDup, ~n^1.5 cell-local with constant training) and d06 is
    // the boundary-free path for the >= 0.7 regime. Measured on real
    // embeddings at sf1→sf2: 2.8x candidates per 2x corpus = n^1.49,
    // matching the model (between bit steps the local ratio can touch
    // 4x — the discrete-bit artifact).
    val decades = (4 to 9).map(e => math.pow(10, e).toLong)
    val mass = decades.map { n =>
      val (t, b) = Dedup.lshParams(n, 0.75, 64)
      n -> (n.toDouble * (n - 1) / 2.0) * t * math.pow(0.5, b)
    }
    mass.sliding(2).foreach { case Seq((n1, m1), (n2, m2)) =>
      val ratio = m2 / m1
      assert(ratio < 30.0,
        s"collision mass grew ${ratio}x from n=$n1 to n=$n2 (quadratic would be 100x)")
    }
    // and the planted-pair side stays fully recalled at a real size
    // (the d06 oracle re-checks this corpus-wide at every SF)
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val planted = e.select(col("vec_id"), col("embedding")).unionByName(
      e.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val n = e.count()
    val twins = Dedup.embedDedupLsh(planted, 0.75).collect()
      .count(r => r.getLong(1) == r.getLong(0) + 1000000L && r.getDouble(2) == 1.0)
    assert(twins == n, s"banded recall lost planted twins: $twins of $n")
    graft.Caches.release()
  }

  test("sourceOverlap rolls near-dup pairs into an unordered source matrix") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = "the quick brown fox jumps over the lazy dog again and again tonight"
    val other = "completely different words forming another document entirely here now"
    val d = Seq(
      (0L, base, "crawlB"), (1L, near, "crawlA"), // cross-source near-dup
      (2L, base + " x", "crawlA"),                // same-pair within... near of 0 too
      (3L, other, "crawlC")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(d, threshold = 0.5).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // pairs: (0,1) B-A, (0,2) B-A, (1,2) A-A; least/greatest normalizes
    assert(out(("crawlA", "crawlB")) == 2L, s"got $out")
    assert(out(("crawlA", "crawlA")) == 1L)
    assert(!out.keySet.exists { case (a, b) => a.contains("crawlC") || b.contains("crawlC") })
  }

  test("pair-free corpora: sourceOverlap and dedupClusters degrade to empty/identity") {
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon", "s1"),
      (1L, "one two three four five six", "s2")
    ).toDF("doc_id", "text", "source")
    assert(Dedup.sourceOverlap(d, threshold = 0.8).collect().isEmpty)
    val clusters = Dedup.dedupClusters(d.withColumn("n_chars", org.apache.spark.sql.functions.length($"text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(0L -> 0L, 1L -> 1L), "singletons must self-label")
  }

  test("decontaminate flags the doc that leaks the benchmark, not the clean ones") {
    val bench = "the capital of france is paris and the capital of spain is madrid"
    val leak = "answer key the capital of france is paris and the capital of spain"
    val clean = "a completely unrelated training document about cooking pasta at home"
    val short = "too short" // < 3 tokens after split? 2 tokens -> skipped
    val d = Seq(
      (0L, bench, "eval"), (1L, leak, "train"), (2L, clean, "train"),
      (3L, short, "train")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.decontaminate(d, evalSource = "eval", minShared = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L)._2, s"leaked doc not flagged: ${out(1L)}")
    assert(out(1L)._1 >= 5)
    assert(!out(2L)._2 && out(2L)._1 == 0)
    assert(!out.contains(3L), "sub-3-token doc should carry no shingles")
    assert(!out.contains(0L), "eval docs are the reference set, not scored")
  }

  test("dedupAgainstIndex reproduces dedupAgainst from the saved index, corpus text unread") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = docs.filter(docs("source") === "src0")
    val corpus = docs.filter(docs("source") =!= "src0")
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_idx").toString
    graft.dedup.Dedup.writeDedupIndex(corpus, dir)
    val live = graft.dedup.Dedup.dedupAgainst(batch, corpus, threshold = 0.6).collect()
    val probe = graft.dedup.Dedup.dedupAgainstIndex(batch, dir, threshold = 0.6)
    assert(probe.collect().toSeq == live.toSeq,
      "index probe must be byte-identical to the live corpus join")
    // the probe plan reads ONLY index parquet — never the corpus text
    val scannedPaths = probe.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scannedPaths.exists(_.contains(dir.split("/").last)), "index tables scanned")
    assert(!scannedPaths.exists(_.contains("documents.parquet")) ||
      // the batch side legitimately reads documents; corpus text must
      // arrive only via the index — so documents scans must all be
      // batch-filtered (source = src0 pushed down)
      probe.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("documents.parquet")) => f
      }.forall(_.dataFilters.exists(_.toString.contains("src0"))),
      "corpus text must never be re-scanned by the probe")
  }

  test("signature index estimates Jaccard within MinHash error, same candidate recall") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = docs.filter(docs("source") === "src0")
    val corpus = docs.filter(docs("source") =!= "src0")
    val dir = java.nio.file.Files.createTempDirectory("graft_sig_idx").toString
    graft.dedup.Dedup.writeDedupIndex(corpus, dir)
    graft.dedup.Dedup.writeDedupSignatureIndex(corpus, dir + "_sig")
    val exact = graft.dedup.Dedup.dedupAgainstIndex(batch, dir, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // probe at (exact threshold − estimator tolerance): an estimate
    // the 4σ bound below deems acceptable must still clear the filter,
    // keeping the recall and tolerance assertions mutually consistent
    val est = graft.dedup.Dedup.dedupAgainstSignatureIndex(batch, dir + "_sig",
        threshold = 0.25).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty, "need real near-dup pairs to compare")
    exact.foreach { case (pair, j) =>
      assert(est.contains(pair), s"pair $pair (exact J=$j) missed by the signature index")
      // 64-hash MinHash: σ ≈ sqrt(J(1−J)/64) ≤ 0.0625; allow 4σ
      assert(math.abs(est(pair) - j) <= 0.25,
        s"pair $pair: estimate ${est(pair)} vs exact $j")
    }
  }

  test("optimizeIndex compacts an appended dedup index; probe byte-identical before/after") {
    import scala.jdk.CollectionConverters._
    def parquetByDir(root: String): Map[String, Int] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .toSeq.groupBy(_.getParent.toString).map { case (k, v) => k -> v.size }
      finally s.close()
    }
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = docs.filter(docs("source") === "src0")
    val corpus = docs.filter(docs("source") =!= "src0")
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_opt").toString
    Dedup.writeDedupIndex(corpus, dir)
    // ten nightly appends: every bi= directory accumulates one file
    // set per batch — the small-files decay this pass exists for
    (0 until 10).foreach { i =>
      Dedup.appendDedupIndex(
        Seq((2000000L + i, s"wholly unique appended document number $i " +
          "with plenty of distinct words to shingle properly")).toDF("doc_id", "text"),
        dir)
    }
    val before = Dedup.dedupAgainstIndex(batch, dir, threshold = 0.6).collect().toSeq
    assert(parquetByDir(dir).values.max >= 10,
      "appends must have accumulated per-batch files")
    val rewritten = graft.sources.Sources.optimizeIndex(spark, dir,
      targetFileBytes = 1L << 30)
    assert(rewritten > 0, "decayed leaves must rewrite")
    // at a 1 GiB target every leaf sizes to ceil(bytes/target) = 1
    assert(parquetByDir(dir).values.max == 1,
      s"every leaf must compact to its sized count: ${parquetByDir(dir)}")
    val after = Dedup.dedupAgainstIndex(batch, dir, threshold = 0.6).collect().toSeq
    assert(after == before, "probe must be byte-identical across compaction")
  }

  test("ingestAdmitIndexed matches live ingestAdmit; appended admissions shadow the next batch") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = docs.filter(docs("source") === "src0")
    val corpus = docs.filter(docs("source") =!= "src0")
    val dir = java.nio.file.Files.createTempDirectory("graft_admit_idx").toString
    graft.dedup.Dedup.writeDedupIndex(corpus, dir)
    val live = graft.dedup.Dedup.ingestAdmit(batch, corpus, threshold = 0.6).collect()
    val probe = graft.dedup.Dedup.ingestAdmitIndexed(batch, dir, threshold = 0.6).collect()
    assert(probe.toSeq == live.toSeq,
      "index admission must be verdict-identical to the live corpus join")
    // close the loop: append batch-1's admitted docs, then a near-copy
    // of one of them in batch-2 must come back corpus_dup
    val admittedIds = probe.filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    assert(admittedIds.nonEmpty, "need at least one admitted doc to exercise the loop")
    import spark.implicits._
    val keeper = batch.filter(batch("doc_id").isin(admittedIds.toSeq: _*))
    graft.dedup.Dedup.appendDedupIndex(keeper, dir)
    val copiedId = admittedIds.min
    val copiedText = keeper.filter(keeper("doc_id") === copiedId)
      .select("text").collect()(0).getString(0)
    val batch2 = Seq((1000000L, copiedText), (1000001L, "an entirely fresh document about nothing else whatsoever"))
      .toDF("doc_id", "text")
    val verdict2 = graft.dedup.Dedup.ingestAdmitIndexed(batch2, dir, threshold = 0.6)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(verdict2(1000000L) == "corpus_dup",
      s"the appended admission must shadow its copy: $verdict2")
    assert(verdict2(1000001L) == "admitted", s"fresh doc must admit: $verdict2")
  }

  test("bloomDecontaminate flags the leak, skips shorts, and never misses a d09 flag") {
    val bench = "the capital of france is paris and the capital of spain is madrid"
    val leak = "answer key the capital of france is paris and the capital of spain"
    val clean = "a completely unrelated training document about cooking pasta at home"
    val d = Seq(
      (0L, bench, "eval"), (1L, leak, "train"), (2L, clean, "train"),
      (3L, "too short", "train")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.bloomDecontaminate(d, evalSource = "eval", minShared = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L)._2 && out(1L)._1 >= 5, s"leaked doc not flagged: ${out.get(1L)}")
    assert(!out(2L)._2, s"clean doc false-flagged: ${out.get(2L)}")
    assert(!out.contains(3L) && !out.contains(0L))
  }

  test("bloomDecontaminate is a one-sided superset of exact d09 on real documents") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.decontaminate(d, minShared = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val bloom = Dedup.bloomDecontaminate(d, minShared = 8, fpp = 0.001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(bloom.keySet == exact.keySet, "same scored corpus universe")
    // no false negatives: pointwise count dominance lifts to flags
    exact.foreach { case (id, (nShared, flagged)) =>
      assert(bloom(id)._1 >= nShared, s"doc $id: bloom ${bloom(id)._1} < exact $nShared")
      if (flagged) assert(bloom(id)._2, s"doc $id flagged by d09 but missed by bloom")
    }
    // false-flag budget: at fpp=0.001 the extra flags stay under 1%
    val extra = bloom.count { case (id, (_, f)) => f && !exact(id)._2 }
    assert(extra <= math.max(1, exact.size / 100), s"$extra bloom-only flags of ${exact.size}")
  }

  test("dfCap drops a planted hot shingle and bounds the pair blowup") {
    // 40 docs all sharing one hot 3-gram ("common shared prefix") but
    // otherwise disjoint: uncapped, the hot shingle makes every pair a
    // candidate (40*39/2 = 780 joined rows); capped at 10 the shingle's
    // bucket disappears and no pair survives anywhere.
    val d = docs((0L until 40L).map(i =>
      i -> s"common shared prefix unique$i word$i token$i filler$i tail$i"): _*)
    val capped = Dedup.ngramJaccard(d, threshold = 0.2, dfCap = Some(10L)).collect()
    assert(capped.isEmpty)
    val uncapped = Dedup.ngramJaccard(d, threshold = 0.2).collect()
    assert(uncapped.isEmpty) // hot shingle alone is below threshold...
    // ...but it did inflate the candidate join: prove the cap removes
    // the quadratic bucket at the exploded level
    val hotPairs = Dedup.cappedShingleSets(d, None)
      .selectExpr("doc_id", "explode(sh) AS sh_h")
      .groupBy("sh_h").count().filter($"count" > 10).count()
    val cappedHot = Dedup.cappedShingleSets(d, Some(10L))
      .selectExpr("doc_id", "explode(sh) AS sh_h")
      .groupBy("sh_h").count().filter($"count" > 10).count()
    assert(hotPairs >= 1 && cappedHot == 0)
  }

  test("minHashLsh with a non-binding dfCap still equals exact d02") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = "the quick brown fox jumps over the lazy dog again and again tonight"
    val other = "completely different words forming another document entirely here now"
    val d = docs(0L -> base, 1L -> near, 2L -> other, 3L -> (base + " extra"))
    val exact = Dedup.ngramJaccard(d, threshold = 0.5).collect().toSeq
    val lsh = Dedup.minHashLsh(d, threshold = 0.5, numHashes = 128, bands = 32,
      dfCap = Some(1000L)).collect().toSeq
    assert(lsh == exact)
  }

  test("dedupClusters merges a transitive near-dup chain into one cluster") {
    // 0~1 and 1~2 pair above threshold but 0~2 does NOT — only
    // transitive closure puts all three in one cluster
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split(" ")
    val doc0 = t.mkString(" ")
    val doc1 = (t.dropRight(1) :+ "CHANGED").mkString(" ")
    val doc2 = ("FIRST" +: t.drop(1).dropRight(1) :+ "CHANGED").mkString(" ")
    val other = "totally unrelated words that share nothing with the chain docs"
    val d = docs(0L -> doc0, 1L -> doc1, 2L -> doc2, 3L -> other)
    val pairs = Dedup.ngramJaccard(d, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (1L, 2L)), s"planted chain wrong: $pairs")
    val out = Dedup.dedupClusters(d, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((0L, 0L, true), (1L, 0L, false), (2L, 0L, false), (3L, 3L, true)))
    // localEdgeLimit=0 forces the distributed min-label path — both
    // resolution strategies must produce identical labels
    val dist = Dedup.dedupClusters(d, threshold = 0.7, localEdgeLimit = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(dist.toSeq == out.toSeq)
  }

  test("embedDedup flags only the high-cosine pair") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.embedDedup(vecs, threshold = 0.95).collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 0L && out(0).getLong(1) == 1L)
    assert(out(0).getDouble(2) > 0.99)
  }

  test("embedDedupLsh reproduces brute-force embedDedup on real vectors") {
    // sf0.01 is the driver's correctness-gate scale — assert the
    // LSH/brute hash-equality exactly where the oracle will check it.
    // Threshold 0.5 is in the delegation regime (sign-LSH loses to
    // the codegen brute join below cos ~0.7 — sf1 finding), so this
    // asserts the adapter's byte-identity; 0.75 runs the LSH path on
    // the same real vectors.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val brute = Dedup.embedDedup(emb, threshold = 0.5).collect().toSeq
    val lsh = Dedup.embedDedupLsh(emb, threshold = 0.5).collect().toSeq
    assert(lsh == brute)
    val brute75 = Dedup.embedDedup(emb, threshold = 0.75).collect().toSeq
    val lsh75 = Dedup.embedDedupLsh(emb, threshold = 0.75).collect().toSeq
    assert(lsh75 == brute75, "LSH path must match brute at its own regime")
    // and on a synthetic corpus with a planted near-dup pair
    val vecs = Seq(
      (0L, Array.tabulate(64)(i => if (i == 0) 1.0f else 0.01f)),
      (1L, Array.tabulate(64)(i => if (i == 0) 0.98f else 0.012f)),
      (2L, Array.tabulate(64)(i => if (i == 1) 1.0f else -0.01f))
    ).toDF("vec_id", "embedding")
    val b2 = Dedup.embedDedup(vecs, threshold = 0.9).collect().toSeq
    val l2 = Dedup.embedDedupLsh(vecs, threshold = 0.9).collect().toSeq
    assert(b2 == l2 && b2.nonEmpty)
  }

  test("lshParams: depth grows with n, the recall bound holds at every pick") {
    for (t <- Seq(0.7, 0.75, 0.9)) {
      val p1 = 1.0 - math.acos(t) / math.Pi
      val picks = Seq(1e4.toLong, 1e6.toLong, 1e9.toLong).map(n => Dedup.lshParams(n, t, 64))
      // recall constraint T >= 6.9/p1^b (miss <= 1e-3) at every scale
      picks.foreach { case (tables, bits) =>
        assert(tables * math.pow(p1, bits) >= 6.9 - 1e-9,
          s"t=$t ($tables, $bits) violates the recall bound")
      }
      // the 100 TB posture: depth (and with it candidate thinning)
      // must GROW with the corpus — the r12-era fixed-T formula's
      // failure mode was depth stalling at b=8
      val depths = picks.map(_._2)
      assert(depths(0) < depths(1) && depths(1) < depths(2),
        s"t=$t depths $depths not increasing with n")
      // candidate volume stays sub-quadratic: T/2^b (the admitted pair
      // fraction on random data) shrinks as n grows
      val fracs = picks.map { case (tb, b) => tb / math.pow(2.0, b) }
      assert(fracs(0) > fracs(1) && fracs(1) > fracs(2),
        s"t=$t admitted-pair fractions $fracs not shrinking")
    }
  }

  test("semanticDedup: planted copies collapse to one keep, distinct vectors all keep") {
    // two well-separated directions; ids 10/11/12 are (near-)copies
    // along the first, ids 1/2 distinct along each
    def v(axis: Int, jitter: Float = 0f): Array[Float] =
      Array.tabulate(8)(i => (if (i == axis) 1f else 0.01f) + (if (i == 7) jitter else 0f))
    val vecs = Seq(
      (1L, v(0)), (2L, v(3)),
      (10L, v(0, 0.3f)), (11L, v(0, 0.3f)), (12L, v(0, 0.301f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, threshold = 0.999, cells = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toList
    // one verdict row per vector, always
    assert(out.map(_._1).sorted == List(1L, 2L, 10L, 11L, 12L))
    val byId = out.map(t => t._1 -> t).toMap
    // the copies share one group, canonical = min id, only it keeps
    assert(byId(10L)._2 == 10L && byId(10L)._3)
    assert(byId(11L)._2 == 10L && !byId(11L)._3)
    assert(byId(12L)._2 == 10L && !byId(12L)._3)
    // distinct vectors are their own group and keep
    assert(byId(1L)._3 && byId(2L)._3)
    // id 1 is cosine-identical direction to the copies up to jitter but
    // BELOW the threshold — grouped separately (drop list is exactly
    // the two shadowed copies)
    assert(out.count(!_._3) == 2)
    graft.Caches.release()
  }

  test("semanticDedup far_centroid keeps the member least similar to its cell centroid") {
    // group {1, 10, 11}: 1 and 10 sit exactly on axis 0, 11 leans
    // 0.29 toward axis 1 (cos ~0.96 to them — inside threshold 0.95).
    // The cell centroid is the member mean, which the two identical
    // copies pull toward axis 0 — so 11 is the off-center member the
    // paper's heuristic keeps (diversity), while min_id keeps 1.
    def v(axis: Int, lean: Float = 0f): Array[Float] =
      Array.tabulate(8)(i => (if (i == axis) 1f else 0f) + (if (i == 1) lean else 0f))
    val vecs = Seq(
      (1L, v(0)), (10L, v(0)), (11L, v(0, 0.29f)),
      (2L, v(3)), (12L, v(4))
    ).toDF("vec_id", "embedding")
    val far = Dedup.semanticDedup(vecs, threshold = 0.95, cells = 2,
        keepPolicy = "far_centroid")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toList
    val byId = far.map(t => t._1 -> t).toMap
    assert(byId(1L)._2 == 1L && byId(10L)._2 == 1L && byId(11L)._2 == 1L,
      s"the trio must group together: $far")
    assert(byId(11L)._3, "the off-center member survives under far_centroid")
    assert(!byId(1L)._3 && !byId(10L)._3, "the on-center copies drop")
    assert(byId(2L)._3 && byId(12L)._3, "singletons keep under any policy")
    // min_id on the same input keeps 1 instead — the policies differ
    // exactly on the canonical pick, never on grouping
    val minId = Dedup.semanticDedup(vecs, threshold = 0.95, cells = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toList
    assert(minId.find(_._1 == 1L).get._3 && !minId.find(_._1 == 11L).get._3)
    assert(far.map(t => (t._1, t._2)) == minId.map(t => (t._1, t._2)),
      "grouping must not depend on the keep policy")
    graft.Caches.release()
  }

  test("embedIngestAdmit: corpus copy flags corpus_dup, twin batch vectors split admitted/batch_dup") {
    def v(axis: Int): Array[Float] = Array.tabulate(8)(i => if (i == axis) 1f else 0.01f)
    val corpus = Seq((1L, v(0)), (2L, v(3))).toDF("vec_id", "embedding")
    val batch = Seq(
      (10L, v(0)), // copy of corpus 1 → corpus_dup
      (11L, v(5)), // new direction, first in → admitted
      (12L, v(5)), // twin of 11 → batch_dup, evidence 11
      (13L, v(6))  // distinct → admitted
    ).toDF("vec_id", "embedding")
    val out = Dedup.embedIngestAdmit(corpus, batch, threshold = 0.95,
        cells = 2, nprobe = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet == Set(10L, 11L, 12L, 13L), "one verdict per batch vector")
    assert(out(10L)._1 == "corpus_dup" && out(10L)._2 == 1L && out(10L)._3 > 0.99,
      s"got ${out(10L)}")
    assert(out(11L) == (("admitted", -1L, 0.0)), s"got ${out(11L)}")
    assert(out(12L)._1 == "batch_dup" && out(12L)._2 == 11L && out(12L)._3 > 0.99,
      s"got ${out(12L)}")
    assert(out(13L)._1 == "admitted")
    graft.Caches.release()
  }

  test("containmentDedup flags the contained direction Jaccard misses") {
    // doc 1 is a verbatim PREFIX of doc 0: all 6 of its shingles are in
    // doc 0's 10, so C(1→0)=1.0 — but J=6/10=0.6 and C(0→1)=0.6 stay
    // under threshold. The directional report must contain exactly the
    // 1→0 row; symmetric Jaccard at 0.8 (d02) finds nothing.
    val big = "a b c d e f g h i j k l"   // 12 toks -> 10 shingles
    val sub = "a b c d e f g h"           // 8 toks  -> 6 shingles, all in big
    val d = docs(0L -> big, 1L -> sub,
      2L -> "completely unrelated words forming another document here")
    assert(Dedup.ngramJaccard(d, threshold = 0.8).collect().isEmpty)
    val out = Dedup.containmentDedup(d, threshold = 0.8, minShingles = 5).collect()
    assert(out.length == 1, s"got ${out.toSeq}")
    val r = out(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 0L) // doc_id=contained, in_doc=container
    assert(r.getLong(2) == 6L && r.getLong(3) == 6L) // shared, nsh
    assert(r.getDouble(4) == 1.0)
  }

  test("containmentDedup minShingles floor drops vacuous tiny docs") {
    // a 4-token doc (2 shingles) inside a big one would report C=1.0
    // on nothing — the floor excludes it in BOTH directions' doc_id side
    val d = docs(0L -> "a b c d e f g h i j k l", 1L -> "a b c d")
    assert(Dedup.containmentDedup(d, threshold = 0.8, minShingles = 5)
      .collect().isEmpty)
    val loose = Dedup.containmentDedup(d, threshold = 0.8, minShingles = 1).collect()
    assert(loose.length == 1 && loose(0).getLong(0) == 1L)
  }

  test("containmentPrefix reproduces the exact containment report") {
    // the d02=d03 twin argument applied to containment: prefix-filtered
    // candidates must verify to the identical directional report,
    // including the asymmetric contained-prefix case
    val big = "a b c d e f g h i j k l"
    val sub = "a b c d e f g h"
    val d = docs(0L -> big, 1L -> sub,
      2L -> "completely unrelated words forming another document here",
      3L -> (big + " m n o"), 4L -> big)
    for (t <- Seq(0.8, 0.9)) {
      val exact = Dedup.containmentDedup(d, threshold = t, minShingles = 5).collect().toSeq
      val pref = Dedup.containmentPrefix(d, threshold = t, minShingles = 5).collect().toSeq
      assert(pref == exact, s"threshold $t: prefix=$pref exact=$exact")
      assert(exact.nonEmpty, s"threshold $t: planted cases must qualify")
    }
    graft.Caches.release()
  }

  test("containmentPrefix prunes hot-shingle candidates the inverted index would enumerate") {
    // every doc shares one HOT opening trigram; rarest-first prefixes
    // skip it, so candidate pairs stay confined to the planted dup —
    // the full inverted index would enumerate all ordered pairs
    val common = "the quick brown"
    val d = docs(
      0L -> s"$common alpha beta gamma delta epsilon",
      1L -> s"$common zeta eta theta iota kappa",
      2L -> s"$common lambda mu nu xi omicron",
      3L -> s"$common alpha beta gamma delta epsilon") // dup of 0
    val shingled = Dedup.cappedShingleSets(d, None)
    val cands = Dedup.containmentPrefixCandidates(shingled, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall: both directions of the planted dup are candidates
    assert(cands.contains((0L, 3L)) && cands.contains((3L, 0L)), s"got $cands")
    // pruning: nothing pairs through the hot shared opening alone
    assert(cands.size < 12, s"prefix filtering admitted all ordered pairs: $cands")
    val out = Dedup.containmentPrefix(d, threshold = 0.8, minShingles = 5).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 3L), (3L, 0L)))
    graft.Caches.release()
  }

  test("containmentAgainstIndex reproduces live d20 from the saved index with pruned scans") {
    val big = "a b c d e f g h i j k l"
    val sub = "a b c d e f g h"
    val batch = docs(0L -> sub, 1L -> "totally unrelated fresh arrival content words here")
    val corpus = docs(10L -> big, 11L -> (big + " m n o"), 12L -> "other words entirely distinct here now")
    val live = Dedup.containmentAgainst(batch, corpus, threshold = 0.8, minShingles = 5)
      .collect().toSeq
    assert(live.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft_cont_idx").toString
    Dedup.writeContainmentIndex(corpus, dir)
    val probeDf = Dedup.containmentAgainstIndex(batch, dir, threshold = 0.8, minShingles = 5)
    assert(probeDf.collect().toSeq == live,
      "saved-index probe must be result-identical to the live containment check")
    // the postings/order reads prune by the probe's bucket set — the
    // isin over the bkt partition column must land as partition
    // filters, not row filters (the a15 pin applied here)
    val scans = probeDf.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(p =>
          p.toString.contains("postings") || p.toString.contains("order")) => f
    }
    assert(scans.nonEmpty, "postings/order scans missing")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "probe buckets must prune partitions on the postings/order reads")
    graft.Caches.release()
  }

  test("indexed PPJoin filters: recall exact across appends under the frozen order; hot rows pruned") {
    // the saturation shape the frozen-order positional/size bounds must
    // survive: every doc shares a hot opening, real containment is
    // planted in a POST-SEED append (its shingles rank under the stale
    // seed order), and the probe must still find it — the filters may
    // only drop join rows, never qualifying pairs
    val common = "the quick brown fox jumps over"
    val big = s"$common alpha beta gamma delta epsilon zeta eta theta"
    val sub = s"$common alpha beta gamma delta epsilon"
    val dir = java.nio.file.Files.createTempDirectory("graft_cont_pp").toString
    // seed corpus: hot opening + its own vocabulary, no planted pair
    Dedup.writeContainmentIndex(docs(
      10L -> s"$common iota kappa lambda mu nu xi",
      11L -> s"$common omicron pi rho sigma tau upsilon"), dir, batchId = Some(-1L))
    // append introduces BRAND-NEW vocabulary (odf 0 under the frozen
    // order) including the container doc
    Dedup.writeContainmentIndex(docs(12L -> big), dir, batchId = Some(0L))
    graft.Caches.release()
    val batch = docs(0L -> sub,
      1L -> "totally unrelated fresh arrival content words here today")
    val out = Dedup.containmentAgainstIndex(batch, dir, threshold = 0.8,
      minShingles = 5).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 12L)),
      s"planted containment into appended vocabulary must survive the filters: ${out.toSeq}")
    // probe ≡ live d20 over the equivalent corpus (the d21 contract)
    val live = Dedup.containmentAgainst(batch, docs(
      10L -> s"$common iota kappa lambda mu nu xi",
      11L -> s"$common omicron pi rho sigma tau upsilon",
      12L -> big), threshold = 0.8, minShingles = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == live.toSeq, s"probe ${out.toSeq} != live ${live.toSeq}")
    // pruning teeth: a batch doc too LARGE for any corpus doc to
    // contain it (size bound: every n_corp < ⌈t·nsh⌉) yields zero
    // candidate pairs even though it shares the hot opening
    val giant = docs(5L -> (big + " " + (1 to 40).map(i => s"w$i").mkString(" ")))
    val none = Dedup.containmentAgainstIndex(giant, dir, threshold = 0.8,
      minShingles = 5).collect()
    assert(none.isEmpty, "size bound must reject containers smaller than t*|batch doc|")
    graft.Caches.release()
  }

  test("refreezeContainmentIndex: identical results, measurable candidate drop, appends rank under the new order") {
    // ORDER DECAY shape: heavy post-seed growth shares a hot common
    // core; under the stale frozen order every post-seed shingle sits
    // at odf 0, so the core floods probe prefixes and every appended
    // doc becomes a candidate. After a refreeze the core carries its
    // true (high) df, discriminative shingles take the prefix, and the
    // candidate volume collapses — with the REPORTED pairs identical.
    val core = (1 to 30).map(i => s"c$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_cont_rf").toString
    Dedup.writeContainmentIndex(docs(
      10L -> "seed vocabulary alpha beta gamma delta epsilon zeta eta theta",
      11L -> "more seed words iota kappa lambda mu nu xi omicron pi"),
      dir, batchId = Some(-1L))
    // each appended doc = hot core (28 shingles) + 10 own words, so a
    // probe sharing only the core sits at 28/36 = 0.778 < t — never a
    // true containment; only the planted doc-25 subset crosses t
    def appendedText(i: Long) =
      s"$core " + ('a' to 'j').map(c => s"u$i$c").mkString(" ")
    Dedup.writeContainmentIndex(
      docs((20L to 39L).map(i => i -> appendedText(i)): _*),
      dir, batchId = Some(0L))
    graft.Caches.release()
    val probe = docs(
      0L -> s"$core fresh probe tail words never seen anywhere at",
      1L -> (s"$core " + ('a' to 'h').map(c => s"u25$c").mkString(" ")))
    val before = Dedup.containmentProbeCandidates(probe, dir, 0.8)._2.count()
    assert(before >= 20L,
      s"stale-order probe must flood candidates through the hot core, got $before")
    val r1 = Dedup.containmentAgainstIndex(probe, dir, threshold = 0.8,
      minShingles = 5).collect().toSeq
    assert(r1.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 25L)),
      s"only the planted containment verifies: $r1")
    graft.Caches.release()
    val report = Dedup.refreezeContainmentIndex(spark, dir).collect().head
    assert(report.getLong(0) > 0L && report.getLong(1) > 0L, s"report: $report")
    val after = Dedup.containmentProbeCandidates(probe, dir, 0.8)._2.count()
    assert(after < before,
      s"refreeze must restore prefix concentration: $after !< $before")
    val r2 = Dedup.containmentAgainstIndex(probe, dir, threshold = 0.8,
      minShingles = 5).collect().toSeq
    assert(r2 == r1, s"probe results must be identical across a refreeze: $r2 != $r1")
    graft.Caches.release()
    // an append AFTER the refreeze ranks under the NEW order: probe it
    // together with the live d20 twin over the equivalent corpus
    val vdoc = (1 to 16).map(i => s"v$i").mkString(" ")
    Dedup.writeContainmentIndex(docs(50L -> vdoc), dir, batchId = Some(1L))
    graft.Caches.release()
    val probe2 = docs(2L -> (1 to 13).map(i => s"v$i").mkString(" "))
    val out = Dedup.containmentAgainstIndex(probe2, dir, threshold = 0.8,
      minShingles = 5).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((2L, 50L)), s"post-refreeze append must be probe-visible: $out")
    val liveCorpus = docs(Seq(
      10L -> "seed vocabulary alpha beta gamma delta epsilon zeta eta theta",
      11L -> "more seed words iota kappa lambda mu nu xi omicron pi",
      50L -> vdoc) ++ (20L to 39L).map(i => i -> appendedText(i)): _*)
    val live = Dedup.containmentAgainst(probe2, liveCorpus, threshold = 0.8,
      minShingles = 5).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == live, s"probe $out != live $live")
    graft.Caches.release()
  }

  test("refreeze publish is one atomic pointer: a held generation stays consistent, a mixed read would not be, GC keeps one grace copy") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft_cont_ptr").toString
    Dedup.writeContainmentIndex(docs(
      10L -> "seed vocabulary alpha beta gamma delta epsilon zeta eta theta",
      11L -> "more seed words iota kappa lambda mu nu xi omicron pi"),
      dir, batchId = Some(-1L))
    val core = (1 to 30).map(i => s"c$i").mkString(" ")
    Dedup.writeContainmentIndex(
      docs((20L to 29L).map(i =>
        i -> (s"$core " + ('a' to 'j').map(c => s"u$i$c").mkString(" "))): _*),
      dir, batchId = Some(0L))
    graft.Caches.release()
    // the shared-total-order property the PPJoin positional bound
    // needs: every posting's rank equals a re-rank under the SAME
    // generation's order/ — true within a generation, false across
    def rankConsistent(orderP: org.apache.hadoop.fs.Path,
                       postP: org.apache.hadoop.fs.Path): Boolean = {
      val odf = spark.read.parquet(orderP.toString).select("sh_h", "odf")
      val post = spark.read.parquet(postP.toString)
      val part =
        if (post.columns.contains("batch_id"))
          Window.partitionBy("batch_id", "doc_id")
        else Window.partitionBy("doc_id")
      post.join(odf, Seq("sh_h"), "left_outer")
        .withColumn("odf", coalesce(col("odf"), lit(0L)))
        .withColumn("rk2", row_number().over(
          part.orderBy(col("odf"), col("sh_h"))).cast("long"))
        .filter(col("rk") =!= col("rk2")).count() == 0L
    }
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a probe racing the publish: it resolved generation 0 and holds
    // those paths while the refreeze publishes generation 1
    val (g0, Seq(order0, post0)) =
      graft.sources.Snapshots.resolve(fs, root, Seq("order", "postings"))
    assert(g0 == 0L)
    Dedup.refreezeContainmentIndex(spark, dir)
    graft.Caches.release()
    // old-everything: still on disk, still internally consistent
    assert(fs.exists(order0) && fs.exists(post0),
      "the pre-publish generation must survive as the grace copy")
    assert(rankConsistent(order0, post0),
      "a reader holding the old generation must see one total order")
    // new-everything: resolves to the published snapshot, consistent
    val (g1, Seq(order1, post1)) =
      graft.sources.Snapshots.resolve(fs, root, Seq("order", "postings"))
    assert(g1 == 1L && order1 != order0)
    assert(rankConsistent(order1, post1))
    // and the MIX the r19 rename-window could hand a probe — new
    // postings ranked under the old order — violates the property;
    // this is the silent recall bug the single-pointer publish ends
    assert(!rankConsistent(order0, post1),
      "mixed generations must be demonstrably inconsistent (else this " +
        "test proves nothing about the race)")
    // second refreeze: generation 0 is GC'd, generation 1 becomes the
    // grace copy, the probe surface stays green
    Dedup.refreezeContainmentIndex(spark, dir)
    graft.Caches.release()
    assert(!fs.exists(order0) && !fs.exists(post0),
      "the second publish must GC generation 0")
    assert(fs.exists(order1) && fs.exists(post1),
      "generation 1 must survive as the new grace copy")
    val probe = docs(1L -> (s"$core " + ('a' to 'h').map(c => s"u25$c").mkString(" ")))
    val out = Dedup.containmentAgainstIndex(probe, dir, threshold = 0.8,
      minShingles = 5).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 25L)), s"probe after two refreezes: $out")
    graft.Caches.release()
  }

  test("containment index layout guard: a pre-frozen-order index refuses loudly, never opaquely") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cont_lv").toString
    Dedup.writeContainmentIndex(docs(
      10L -> "some corpus words here that shingle fine today"), dir, batchId = Some(-1L))
    // simulate a v1-era index: meta/ without layout_version
    spark.range(1).selectExpr("64L as n_buckets")
      .write.mode("overwrite").parquet(dir + "/meta")
    val probe = docs(0L -> "some corpus words here that shingle")
    val e1 = intercept[IllegalArgumentException](
      Dedup.containmentAgainstIndex(probe, dir).collect())
    assert(e1.getMessage.contains("reseed"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Dedup.writeContainmentIndex(docs(1L -> "appended words arrive here now"),
        dir, batchId = Some(0L)))
    assert(e2.getMessage.contains("reseed"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      Dedup.refreezeContainmentIndex(spark, dir))
    assert(e3.getMessage.contains("reseed"), e3.getMessage)
    // an explicit FUTURE layout version is equally refused
    spark.range(1).selectExpr("64L as n_buckets", "9 as layout_version")
      .write.mode("overwrite").parquet(dir + "/meta")
    val e4 = intercept[IllegalArgumentException](
      Dedup.containmentAgainstIndex(probe, dir).collect())
    assert(e4.getMessage.contains("incompatible"), e4.getMessage)
    graft.Caches.release()
  }

  test("maybeRefreezeContainmentIndex: holds below the decay threshold, fires exactly once past it, verdicts unchanged") {
    // the refreeze spec's decay shape, driven through the POLICY: a
    // fresh seed measures 0 decay (order covers its own vocabulary),
    // heavy all-new-vocab appends push the odf-0 share past the
    // threshold, the policy fires ONE refreeze, and the repaired
    // index measures 0 again so the next check holds
    val core = (1 to 30).map(i => s"c$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_cont_pol").toString
    Dedup.writeContainmentIndex(docs(
      10L -> "seed vocabulary alpha beta gamma delta epsilon zeta eta theta",
      11L -> "more seed words iota kappa lambda mu nu xi omicron pi"),
      dir, batchId = Some(-1L))
    graft.Caches.release()
    val exact = Dedup.RefreezePolicy(maxOdf0Share = 0.3, sampleBuckets = 64)
    assert(Dedup.containmentOrderDecay(spark, dir, 64) == 0.0,
      "a fresh seed's order covers its own vocabulary")
    assert(Dedup.maybeRefreezeContainmentIndex(spark, dir, exact).isEmpty,
      "below the threshold the policy must not rewrite")
    def appendedText(i: Long) =
      s"$core " + ('a' to 'j').map(c => s"u$i$c").mkString(" ")
    Dedup.writeContainmentIndex(
      docs((20L to 39L).map(i => i -> appendedText(i)): _*),
      dir, batchId = Some(0L))
    graft.Caches.release()
    val decayed = Dedup.containmentOrderDecay(spark, dir, 64)
    assert(decayed > 0.3, s"all-new-vocab appends must breach the threshold: $decayed")
    // the SAMPLED check (8 of 64 buckets — the at-scale form) sees the
    // same breach: decay is uniform across buckets by shingle hashing
    assert(Dedup.containmentOrderDecay(spark, dir, 8) > 0.3,
      "the sampled-bucket estimate must agree with the exact share")
    val probe = docs(
      0L -> s"$core fresh probe tail words never seen anywhere at",
      1L -> (s"$core " + ('a' to 'h').map(c => s"u25$c").mkString(" ")))
    val before = Dedup.containmentProbeCandidates(probe, dir, 0.8)._2.count()
    val r1 = Dedup.containmentAgainstIndex(probe, dir, threshold = 0.8,
      minShingles = 5).collect().toSeq
    graft.Caches.release()
    val fired = Dedup.maybeRefreezeContainmentIndex(spark, dir, exact)
    assert(fired.nonEmpty, "past the threshold the policy must refreeze")
    assert(fired.get.collect().head.getLong(0) > 0L)
    assert(Dedup.containmentOrderDecay(spark, dir, 64) == 0.0,
      "a refreeze re-derives the order from the postings: decay resets")
    assert(Dedup.maybeRefreezeContainmentIndex(spark, dir, exact).isEmpty,
      "exactly one refreeze: the repaired index holds on the next check")
    val after = Dedup.containmentProbeCandidates(probe, dir, 0.8)._2.count()
    assert(after < before,
      s"the fired refreeze must restore prefix concentration: $after !< $before")
    val r2 = Dedup.containmentAgainstIndex(probe, dir, threshold = 0.8,
      minShingles = 5).collect().toSeq
    assert(r2 == r1, s"verdicts must be policy-invariant: $r2 != $r1")
    graft.Caches.release()
  }

  test("containmentApply drops version chains into dominators in one acyclic pass") {
    val big = "a b c d e f g h i j k l"             // 10 shingles
    val mid = "a b c d e f g h i j"                  // 8, ⊂ big
    val sml = "a b c d e f g h"                      // 6, ⊂ mid ⊂ big
    // 3 = identical twin of big: mutual containment, dominance breaks
    // the tie to the smaller id (0 keeps, 3 drops into 0)
    val d = docs(0L -> big, 1L -> mid, 2L -> sml, 3L -> big,
      4L -> "totally different content with no overlap at all here")
    val out = Dedup.containmentApply(d, threshold = 0.8, minShingles = 5).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(out(0L) == ((true, -1L)), s"got $out")  // chain root keeps
    assert(out(4L) == ((true, -1L)))                // unrelated keeps
    // every dropped doc's dominators all sit at C=1.0, so the evidence
    // tie-break lands on the smallest dominating id (doc 0)
    assert(out(1L) == ((false, 0L)), s"got $out")  // mid drops
    assert(out(2L) == ((false, 0L)), s"got $out")  // sml drops
    assert(out(3L) == ((false, 0L)), s"got $out")  // twin drops into smaller id
  }

  test("containmentAgainstSignatureIndex estimates the asymmetric verdict the Jaccard score hides") {
    // sub = first 10 of big's 12 tokens: C(sub→big)=1.0 while
    // J=8/10=0.8 — inside the band regime, so the sig tier must
    // surface it, with the estimate near the true containment and the
    // est_jaccard column showing why the Jaccard loops would shrug
    val big = "a b c d e f g h i j k l"
    val sub = "a b c d e f g h i j"
    val batch = docs(0L -> sub,
      1L -> "totally unrelated fresh arrival content words here today")
    val corpus = docs(10L -> big,
      11L -> "other entirely different corpus words forming one more document")
    val dir = java.nio.file.Files.createTempDirectory("graft_sigc").toString
    Dedup.writeDedupSignatureIndex(corpus, dir)
    val out = Dedup.containmentAgainstSignatureIndex(batch, dir, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((0L, 10L)), s"got ${out.toSeq}")
    val (_, _, estC, estJ) = out(0)
    // exact C = 1.0, exact J = 0.8; the 64-hash estimator sits within
    // a generous 4σ band (σ_J ≈ 0.05 → σ_C ≲ 0.08 through the identity)
    assert(math.abs(estC - 1.0) <= 0.2, s"est_containment $estC far from 1.0")
    assert(math.abs(estJ - 0.8) <= 0.2, s"est_jaccard $estJ far from 0.8")
    assert(estC > estJ, "the whole point: containment evidence above the Jaccard score")
    // deterministic: a second probe reproduces the same estimates
    assert(Dedup.containmentAgainstSignatureIndex(batch, dir, threshold = 0.8)
      .collect().map(_.toSeq).toSeq == out.map(t => Seq(t._1, t._2, t._3, t._4)).toSeq)
    graft.Caches.release()
  }

  test("containmentAgainst reports only batch-in-corpus directions, never corpus self-pairs") {
    val big = "a b c d e f g h i j k l"
    val sub = "a b c d e f g h"                  // contained in big
    // batch: doc 0 is a near-subset of corpus doc 10; doc 1 CONTAINS
    // corpus doc 12 (reverse direction — must NOT be reported); doc 2
    // matches nothing
    val batch = docs(0L -> sub, 1L -> (big + " m n o"),
      2L -> "totally unrelated fresh arrival content words here today")
    // corpus docs 10/11 are near-dups of each other — must not pair
    val corpus = docs(10L -> big, 11L -> big, 12L -> big)
    val out = Dedup.containmentAgainst(batch, corpus,
      threshold = 0.8, minShingles = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    // doc 0 ⊂ each corpus doc at C=1.0; doc 1 ⊃ corpus (C(1→·)=10/13<0.8)
    assert(out.map(t => (t._1, t._2)).toSet ==
      Set((0L, 10L), (0L, 11L), (0L, 12L)), s"got ${out.toSeq}")
    assert(out.forall(_._3 == 1.0), s"got ${out.toSeq}")
    graft.Caches.release()
  }

  test("dedupSweep: one planted positive per regime lights exactly its flag, survivors keep") {
    import spark.implicits._
    // 1/2 exact pair; 3/4 near pair (one word changed: J≈.82, C=.9);
    // 5 ⊂ 6 (C=1, J≈.55); 7 unrelated; 8/9 semantic pair (identical
    // embeddings over unrelated texts)
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"),
      (3L, "november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee"),
      (4L, "november oscar papa quebec romeo sierra tango uniform victor whiskey xray zulu"),
      (5L, "one two three four five six seven eight"),
      (6L, "one two three four five six seven eight nine ten eleven twelve thirteen"),
      (7L, "uno dos tres cuatro cinco seis siete ocho nueve diez once doce"),
      (8L, "eins zwei drei vier fuenf sechs sieben acht neun zehn elf zwoelf"),
      (9L, "ichi ni san shi go roku nana hachi kyu ju hyaku sen")
    ).toDF("doc_id", "text")
    val axes = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f),
      Array(0f, 0f, 0f, 1f), Array(1f, 1f, 0f, 0f), Array(1f, 0f, 1f, 0f),
      Array(1f, 0f, 0f, 1f))
    val emb = ((1L to 7L).zip(axes) ++ Seq(
      (8L, Array(2f, 3f, 5f, 7f)), (9L, Array(2f, 3f, 5f, 7f))))
      .toDF("vec_id", "embedding")
    val out = graft.dedup.Dedup.dedupSweep(docs, emb,
        jaccardThreshold = 0.8, containThreshold = 0.95, semanticThreshold = 0.95)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getString(5)))).toMap
    // survivors of every regime keep — including the exact canonical,
    // whose copy is mutually containing (d22's dominance order spares it)
    for (id <- Seq(1L, 3L, 6L, 7L, 8L))
      assert(out(id)._5 == "keep", s"doc $id: ${out(id)}")
    // the exact copy: all of exact/near/contained fire; precedence = exact
    assert(out(2L)._1 && out(2L)._2 && out(2L)._5 == "exact", s"got ${out(2L)}")
    // near-only: one changed word — J above 0.8, C below 0.95
    assert(out(4L) == ((false, true, false, false, "near")), s"got ${out(4L)}")
    // contained-only: strict prefix — C=1, J below 0.8
    assert(out(5L) == ((false, false, true, false, "contained")), s"got ${out(5L)}")
    // semantic-only: identical vectors over unrelated text
    assert(out(9L) == ((false, false, false, true, "semantic")), s"got ${out(9L)}")
    graft.Caches.release()
  }

  test("writeContainmentIndex: a batch append leaves meta/ files and mtimes untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cont_meta").toString
    val big = "the quick brown fox jumps over alpha beta gamma delta epsilon zeta"
    Dedup.writeContainmentIndex(docs(
      10L -> "a seed document with its own vocabulary words inside",
      11L -> "another seed document carrying different words around"), dir, batchId = Some(-1L))
    graft.Caches.release()
    val seeded = filesUnder(s"$dir/meta")
    assert(seeded.nonEmpty)
    Thread.sleep(1100) // past a coarse mtime granularity: a rewrite would show
    Dedup.writeContainmentIndex(docs(12L -> big), dir, batchId = Some(0L))
    graft.Caches.release()
    assert(filesUnder(s"$dir/meta") == seeded, "a batch append must not rewrite meta/")
    // the probe after the append reads the seed's modulus and finds the batch
    val out = Dedup.containmentAgainstIndex(
      docs(0L -> "the quick brown fox jumps over alpha beta gamma delta"), dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 12L)), s"got ${out.toSeq}")
    graft.Caches.release()
  }

  test("a doc_id on both sides verifies against each side's own text: live d11/d12 equal their at-rest twins") {
    // doc 5 is a re-crawl: the batch copy edits the last three words of
    // the corpus copy, J = 17/23 ≈ 0.74, under the 0.8 threshold. Its
    // band signatures still collide, so the (5, 5) candidate forms and
    // only the verify can reject it.
    val words = (1 to 22).map(i => s"w$i")
    val crawled = words.mkString(" ")
    val recrawl = (words.take(19) ++ Seq("x1", "x2", "x3")).mkString(" ")
    val near = "the quick brown fox jumps over the lazy dog again and again today"
    val batch = docs(1L -> near, 5L -> recrawl)
    val corpus = docs(5L -> crawled, 11L -> (near + " ok"))
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_twin").toString
    Dedup.writeDedupIndex(corpus, dir, numHashes = 128, bands = 64)
    val live = Dedup.dedupAgainst(batch, corpus, numHashes = 128, bands = 64).collect().toSeq
    val atRest = Dedup.dedupAgainstIndex(batch, dir, numHashes = 128, bands = 64).collect().toSeq
    assert(live.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 11L)), s"got $live")
    assert(live == atRest)
    val admit = Dedup.ingestAdmit(batch, corpus, numHashes = 128, bands = 64).collect().toSeq
    val admitAtRest = Dedup.ingestAdmitIndexed(batch, dir, numHashes = 128, bands = 64)
      .collect().toSeq
    assert(admit.map(r => r.getLong(0) -> r.getString(2)) ==
      Seq(1L -> "corpus_dup", 5L -> "admitted"), s"got $admit")
    assert(admit == admitAtRest)
    graft.Caches.release()
  }

  test("a doc_id on both sides verifies against each side's own text: live d20 and s23 equal their at-rest twins") {
    // doc 5 is in the batch and, longer, in the corpus; batch doc 1
    // repeats batch doc 5's text. Both batch docs are contained in the
    // corpus copy of 5, which must serve as a container although its id
    // is also a batch id
    val sub = "a b c d e f g h"
    val batch = docs(5L -> sub, 1L -> sub)
    val corpus = docs(5L -> "a b c d e f g h i j k l",
      12L -> "other words entirely distinct here now and then")
    val dir = java.nio.file.Files.createTempDirectory("graft_cont_twin").toString
    Dedup.writeContainmentIndex(corpus, s"$dir/idx")
    val live = Dedup.containmentAgainst(batch, corpus).collect().toSeq
    val atRest = Dedup.containmentAgainstIndex(batch, s"$dir/idx").collect().toSeq
    assert(live.map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))) ==
      Seq((1L, 5L, 1.0), (5L, 5L, 1.0)), s"got $live")
    assert(live == atRest)
    graft.Caches.release()
    // s23's batch step against its indexed twin (s24's), one trigger
    import org.apache.spark.sql.functions.{col, lit}
    corpus.withColumn("batch_id", lit(-1L)).write.partitionBy("batch_id").parquet(s"$dir/corpus")
    Dedup.writeContainmentIndex(corpus, s"$dir/sidx", batchId = Some(-1L))
    graft.streaming.StreamingFlow.containmentAdmitBatch(s"$dir/corpus", s"$dir/v", 0.8, 5,
      None)(batch, 0L)
    graft.streaming.StreamingFlow.containmentAdmitIndexedBatch(s"$dir/sidx", s"$dir/vi", 0.8,
      5)(batch, 0L)
    def verdicts(path: String) = spark.read.parquet(path).filter(col("batch_id") === 0)
      .select("doc_id", "verdict", "evidence_id", "containment")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(verdicts(s"$dir/v") == Set((1L, "contained", 5L, 1.0), (5L, "contained", 5L, 1.0)),
      s"got ${verdicts(s"$dir/v")}")
    assert(verdicts(s"$dir/v") == verdicts(s"$dir/vi"))
    graft.Caches.release()
  }

  test("a warmed containmentAgainstIndex call reads meta/ and order/ through the schema memo") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cont_jobs").toString
    Dedup.writeContainmentIndex(docs(
      10L -> "a b c d e f g h i j k l",
      11L -> "other words entirely distinct here now and then"), dir)
    val batch = docs(0L -> "a b c d e f g h")
    Dedup.containmentAgainstIndex(batch, dir).collect()
    // left: the meta/ row collect and the probe's bucket-set collect
    // (a shuffle job and a result job); no footer-inference job
    assert(jobsRunBy(Dedup.containmentAgainstIndex(batch, dir)) == 3)
    graft.Caches.release()
  }

  test("shared bounds: sizeOk never prunes a qualifying Jaccard pair; need and prefixLen keep the prefix principle") {
    // the real helper Columns, evaluated by Spark on seeded (na, nb,
    // shared) rows per threshold. Edge thresholds are ratios t = k/n
    // whose product with na = n·m lands within an ulp of the integer
    // k·m (not on it); there shared = k·m qualifies exactly at the
    // boundary, for Jaccard (nb = shared) and for containment
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(20261020L)
    val edges = Iterator.continually {
      val n = 2 + rnd.nextInt(400)
      val k = 1 + rnd.nextInt(n - 1)
      val t = k.toDouble / n
      val ms = (1 to 60).filter(m => (n.toLong * m).toDouble * t != (k.toLong * m).toDouble)
      t -> ms.flatMap { m =>
        val (a, b) = (n.toLong * m, k.toLong * m)
        Seq((a, b, b), (b, a, b), (a, a + rnd.nextInt(100), b))
      }
    }.filter(_._2.nonEmpty).take(30).toSeq
    val randoms = (Seq(0.8, 0.9, 1.0) ++ Seq.fill(7)(0.05 + 0.95 * rnd.nextDouble())).map { t =>
      t -> Seq.fill(60) {
        val na = 1 + rnd.nextInt(5000)
        val nb = 1 + rnd.nextInt(5000)
        (na.toLong, nb.toLong, rnd.nextInt(math.min(na, nb) + 1).toLong)
      }
    }
    (edges ++ randoms).foreach { case (t, rows) =>
      rows.toDF("na", "nb", "shared")
        .select(col("na"), col("nb"), col("shared"),
          Dedup.sizeOk(col("na"), col("nb"), t).as("ok"),
          Dedup.need(col("na"), t).cast("long").as("need"),
          Dedup.prefixLen(col("na"), t).cast("long").as("plen"))
        .collect().foreach { r =>
          val (na, nb, shared) = (r.getLong(0), r.getLong(1), r.getLong(2))
          val ctx = s"t=$t na=$na nb=$nb shared=$shared"
          if (shared.toDouble / (na + nb - shared) >= t)
            assert(r.getBoolean(3), s"sizeOk pruned a qualifying pair: $ctx")
          if (shared.toDouble / na >= t) {
            assert(shared >= r.getLong(4), s"need above shared: $ctx need=${r.getLong(4)}")
            assert(r.getLong(5) >= na - shared + 1, s"prefix too short: $ctx plen=${r.getLong(5)}")
          }
        }
    }
  }
}
