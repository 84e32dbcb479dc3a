package graft

import graft.text.TextStats

class TextSpec extends SparkSpecBase {
  import spark.implicits._

  test("langId classifies real-language sentences") {
    val d = Seq(
      (0L, "the cat is on the mat and the dog is here", "en"),
      (1L, "der hund ist gross und die katze ist klein", "de"),
      (2L, "el perro es grande y la casa es bonita que bien", "es"),
      (3L, "le chien est grand et les chats sont petits", "fr"),
      (4L, "我是学生，他是老师，我们在学校。", "zh"),
      (5L, "zzzz qqqq xxxx wwww", "en")
    ).toDF("doc_id", "text", "lang")
    val out = TextStats.langId(d).collect()
    val preds = out.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(0L) == "en")
    assert(preds(1L) == "de")
    assert(preds(2L) == "es")
    assert(preds(3L) == "fr")
    assert(preds(4L) == "zh")
    assert(preds(5L) == "und")
  }

  test("repetition scores duplicated bigrams high, fresh text zero") {
    val d = Seq(
      (0L, "spam spam spam spam spam"),      // one distinct bigram, 4 total
      (1L, "all words here are different")   // every bigram unique
    ).toDF("doc_id", "text")
    val out = TextStats.repetition(d).collect().map(r =>
      r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    assert(out(0L) == ((4, 1, 0.75)))
    assert(out(1L) == ((4, 4, 0.0)))
  }

  test("seqPack lays docs end-to-end and cuts chunks at the context length") {
    val d = Seq(
      (0L, "a b c"),            // 3 toks: offsets 0..2, chunk 0
      (1L, "d e f g"),          // 4 toks: offsets 3..6, straddles chunks 0-1 at C=5
      (2L, "h i j k l m n")     // 7 toks: offsets 7..13, chunks 1-2
    ).toDF("doc_id", "text")
    val out = TextStats.seqPack(d, ctxLen = 5, bucketSize = 2L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(0L) == ((3L, 0L, 0L, 0L, 1L)))
    assert(out(1L) == ((4L, 3L, 0L, 1L, 2L)))
    assert(out(2L) == ((7L, 7L, 1L, 2L, 2L)))
  }

  test("spanDedup reports the corpus-duplicated span share per doc") {
    val spanA = (1 to 10).map(i => s"a$i").mkString(" ")
    val spanB = (1 to 10).map(i => s"b$i").mkString(" ")
    val spanC = (1 to 10).map(i => s"c$i").mkString(" ")
    val spanD = (1 to 10).map(i => s"d$i").mkString(" ")
    val d = Seq(
      (0L, s"$spanA $spanB"),   // shares A with doc 1
      (1L, s"$spanA $spanC"),   // shares A with doc 0
      (2L, spanD),              // nothing shared
      (3L, "too short")         // < 10 tokens: no spans, excluded
    ).toDF("doc_id", "text")
    val out = TextStats.spanDedup(d, spanTokens = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((0L, 2L, 1L, 0.5), (1L, 2L, 1L, 0.5), (2L, 1L, 0L, 0.0)))
  }

  test("piiScrub counts and redacts planted emails and urls") {
    val d = Seq(
      (0L, "contact me at jane.doe@example.com or https://example.com/x now"),
      (1L, "no pii in this document at all")
    ).toDF("doc_id", "text")
    val out = TextStats.piiScrub(d).collect().map(r =>
      r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(out(0L) == ((1, 1)))
    assert(out(1L) == ((0, 0)))
    // scrubbed hash differs from the raw hash (content actually changed)
    val raw = d.selectExpr("doc_id", "md5(text) AS m").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val scrubbed = TextStats.piiScrub(d).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(scrubbed(0L) != raw(0L) && scrubbed(1L) == raw(1L))
  }

  test("corpusStats reports volume, length percentiles and short share") {
    val d = Seq(
      (0L, "a b c d"),          // 4 tokens (short)
      (1L, Seq.fill(30)("w").mkString(" ")), // 30 tokens
      (2L, Seq.fill(10)("x").mkString(" "))  // 10 tokens (short)
    ).toDF("doc_id", "text")
    val r = TextStats.corpusStats(d, shortDocTokens = 20).collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 44L)
    assert(r.getDouble(3) == 10.0) // p50 of (4, 10, 30)
    assert(r.getLong(5) == 2L)
  }

  test("tokenStats counts whitespace tokens and uniques") {
    val d = Seq((0L, "a b b c", 7L)).toDF("doc_id", "text", "n_chars")
    val r = TextStats.tokenStats(d).collect()(0)
    assert(r.getInt(1) == 4 && r.getInt(2) == 3 && r.getInt(3) == 7)
  }

  test("fingerprint matches a hand-rolled rolling hash") {
    val d = Seq((0L, "ab")).toDF("doc_id", "text")
    val fp = TextStats.fingerprint(d).collect()(0).getLong(1)
    val expected = (('a'.toInt.toLong * 31) + 'b'.toInt) % 1000000007L
    assert(fp == expected)
  }

  test("ngramNovelty scores corpus-wide boilerplate above unique prose") {
    val boiler = "click here to subscribe now"
    val d = Seq(
      (0L, boiler), (1L, boiler), (2L, boiler),
      (3L, "entirely unique prose about falcons hunting at dawn")
    ).toDF("doc_id", "text")
    val out = TextStats.ngramNovelty(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(0L) == 3.0, s"boilerplate mean DF ${out(0L)}") // every bigram in 3 docs
    assert(out(3L) == 1.0, s"unique-prose mean DF ${out(3L)}")
  }

  test("cooccurrence counts unordered pairs within the window only") {
    val d = Seq((0L, "a b c d"), (1L, "a b")).toDF("doc_id", "text")
    val out = TextStats.cooccurrence(d, window = 2, topN = 10).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // doc0 window-2 pairs: ab ac bc bd cd; doc1 adds ab → ab counts 2;
    // (a,d) is 3 apart → excluded
    assert(out == Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L,
      ("b", "d") -> 1L, ("c", "d") -> 1L), s"got $out")
  }

  test("qualityFilter routes docs by the first failing rule in fixed order") {
    val good = (1 to 100).map(i => s"word$i").mkString(" ")        // long, alpha-heavy, distinct
    val spam = (1 to 15).map(_ => "buy now").mkString(" ")         // repetitive but also 30 tokens
    val digits = (1 to 30).map(i => s"$i$i$i").mkString(" ")       // no alpha → low quality
    val d = Seq(
      (0L, good), (1L, "too short"), (2L, spam), (3L, digits)
    ).toDF("doc_id", "text")
    val out = TextStats.qualityFilter(d).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(4), r.getString(5))).toMap
    assert(out(0L) == ((true, "pass")), s"got ${out(0L)}")
    assert(out(1L) == ((false, "too_short")))
    assert(out(2L)._2 == "repetitive" || out(2L)._2 == "low_quality", s"got ${out(2L)}")
    assert(!out(3L)._1 && out(3L)._2 == "low_quality")
  }

  test("termSalience ranks df-normalized tf with deterministic tie-breaks") {
    val d = Seq(
      (0L, "apple apple banana"),
      (1L, "banana cherry"),
      (2L, "cherry cherry cherry date")
    ).toDF("doc_id", "text")
    val out = TextStats.termSalience(d, topK = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getInt(5)))
    assert(out.toSeq == Seq(
      (0L, "apple", 2L, 1L, 6.0, 1), (0L, "banana", 1L, 2L, 1.5, 2),
      (1L, "banana", 1L, 2L, 1.5, 1), (1L, "cherry", 1L, 2L, 1.5, 2), // tie → term order
      (2L, "cherry", 3L, 2L, 4.5, 1), (2L, "date", 1L, 1L, 3.0, 2)), s"got ${out.toSeq}")
  }

  test("sourceMix keeps undersized sources whole and downsamples oversized ones to rate") {
    val big = (10L to 19L).map(i => (i, "big", (1 to 10).map(j => s"w$j").mkString(" ")))
    val d = (Seq((1L, "small", "two words")) ++ big).toDF("doc_id", "source", "text")
    // totals: small 2 + big 100 = 102; per-source budget 102*0.5/2 = 25.5
    // → rate(small)=1, rate(big)=0.255
    val out = TextStats.sourceMix(d, budgetShare = 0.5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.exists(_._1 == 1L), "undersized source must keep everything")
    val expectBig = (10L to 19L).filter(i =>
      ((i * 2654435761L) % 4294967296L).toDouble < 0.255 * 4294967296.0).toSet
    assert(out.filter(_._2 == "big").map(_._1).toSet == expectBig)
    assert(out.forall { case (_, src, n) => n == (if (src == "small") 2L else 10L) })
  }

  test("shardAssign gives each shard a dense 1..n position in hash order") {
    val d = (0L until 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = TextStats.shardAssign(d, nShards = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    def h(i: Long) = (i * 2654435761L) % 4294967296L
    assert(out.forall { case (id, shard, _) => shard == (h(id) % 8).toInt })
    out.groupBy(_._2).foreach { case (_, rows) =>
      val byHash = rows.sortBy(r => (h(r._1), r._1)).map(_._3)
      assert(byHash.toSeq == (1L to rows.length).toSeq, "positions must be dense in hash order")
    }
  }

  test("spanScrub keeps each span's first corpus occurrence and rewrites clean_text") {
    val spanA = (1 to 10).map(i => s"a$i").mkString(" ")
    val spanB = (1 to 10).map(i => s"b$i").mkString(" ")
    val d = Seq(
      (0L, s"$spanA $spanB tail1 tail2"),  // first occurrence of A and B; tail kept
      (1L, s"$spanA extra"),               // A is a repeat → dropped, tail kept
      (2L, s"$spanB $spanB")               // first B is a repeat of doc0's; second a repeat of the first
    ).toDF("doc_id", "text")
    val out = TextStats.spanScrub(d, spanTokens = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (0L, 2L, 0L, s"$spanA $spanB tail1 tail2"),
      (1L, 1L, 1L, "extra"),
      (2L, 2L, 2L, "")))
  }

  test("rollingScrub catches the grid-offset duplicate t17 provably misses") {
    // a 12-token passage duplicated at token offset 1 — one token off
    // the fixed 10-token span grid, so t17's grid fingerprints never
    // line up (docB's grid span starts at "x"), while every interior
    // rolling window of the passage matches
    val passage = (1 to 12).map(i => s"p$i").mkString(" ")
    val d = Seq(
      (0L, passage),           // first corpus occurrence: kept whole
      (1L, s"x $passage")      // duplicate shifted 1 off the grid
    ).toDF("doc_id", "text")
    // t17 baseline: the fixed grid sees no duplicate at all
    val grid = TextStats.spanScrub(d, spanTokens = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(grid(1L) == 0L, s"t17 should miss the shifted duplicate, got ${grid(1L)} drops")
    // t20: docB's windows at offsets 1..3 match docA's 0..2 → the
    // interval union covers tokens 1..12, leaving only the "x"
    val out = TextStats.rollingScrub(d, spanTokens = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (0L, 12L, 0L, passage),
      (1L, 13L, 12L, "x")), s"got ${out.toSeq}")
  }

  test("rollingScrub merges overlapping duplicate windows and keeps in-doc firsts") {
    val span = (1 to 10).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (0L, s"$span middle1 middle2 $span"), // repeat INSIDE one doc: second dropped
      (1L, "all fresh tokens nothing here repeats in any way at all")
    ).toDF("doc_id", "text")
    val byId = TextStats.rollingScrub(d, spanTokens = 10).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(byId(0L) == ((10L, s"$span middle1 middle2")), s"got ${byId(0L)}")
    assert(byId(1L)._1 == 0L)
  }

  test("sourceDrift scores skew on exact integer cross-products, zero for a lone source") {
    // corpus: x:2 y:3 spam:3, T=8; t_a = t_b = 4
    // a: x→2·8−2·4=8, y→2·8−3·4=4, spam→0−3·4=−12 ⇒ Σ|·|=24, 24/32=0.75, top=x
    // b: x→−8, y→−4, spam→3·8−3·4=12 ⇒ 0.75, top=spam
    val d = Seq(
      (0L, "a", "x y x y"),
      (1L, "b", "spam spam spam y")
    ).toDF("doc_id", "source", "text")
    val out = TextStats.sourceDrift(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getString(3))).toMap
    assert(out("a") == ((4L, 0.75, "x")), s"got ${out("a")}")
    assert(out("b") == ((4L, 0.75, "spam")), s"got ${out("b")}")
    // a single-source corpus IS the corpus distribution: drift 0
    val lone = TextStats.sourceDrift(
      Seq((0L, "only", "p q r p")).toDF("doc_id", "source", "text")).collect()
    assert(lone.length == 1 && lone(0).getDouble(2) == 0.0)
  }

  test("bpeTokens splits contractions, punctuation and numbers like a pre-tokenizer") {
    val d = Seq((0L, "I can't pay $12.50, she'll agree!"), (1L, "plain words only"))
      .toDF("doc_id", "text")
    val out = TextStats.bpeTokens(d).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    // lowercased: "i| can|'t| pay| $|12|.|50|,| she|'ll| agree|!" = 13 bpe vs 6 ws
    assert(out(0L) == (13, 6), s"got ${out(0L)}")
    assert(out(1L) == (3, 3))
  }

  test("sourceUpsample repeats undersized sources by fractional epochs, largest stays 1x") {
    // big: 16 tokens; small: 4 tokens → epochs = min(3, 16/4) = 3 exactly
    val d = Seq(
      (0L, "a b c d e f g h i j k l m n o p", "big"),
      (1L, "w x y z", "small")
    ).toDF("doc_id", "text", "source")
    val out = TextStats.sourceUpsample(d).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(out.filter(_._1 == 0L).map(_._2).toSeq == Seq(0L), "largest source stays 1x")
    assert(out.filter(_._1 == 1L).map(_._2).toSeq == Seq(0L, 1L, 2L),
      s"small source must emit 3 indexed copies, got ${out.toSeq}")
    // fractional part: epochs = min(1.5, ...) → every small doc emits 1
    // copy plus an LCG-decided extra; copy counts stay in {1, 2}
    val frac = TextStats.sourceUpsample(d, maxEpochs = 1.5).collect()
      .map(r => r.getLong(0)).groupBy(identity).map { case (k, v) => k -> v.length }
    assert(frac(0L) == 1 && (frac(1L) == 1 || frac(1L) == 2), s"got $frac")
  }

  test("unigramSurprisal matches the hand-computed twin; rare vocabulary outscores common") {
    // corpus counts: a=3, b=2, c=1, T=6
    val d = Seq(
      (0L, "a a b"), // (2·(−log2 3/6) + 1·(−log2 2/6)) / 3 = 1.1950
      (1L, "a b"),   // (1 + 1.58496) / 2                  = 1.2925
      (2L, "c"),     // −log2(1/6)                         = 2.5850
      (3L, "")       // tokenless — no row
    ).toDF("doc_id", "text")
    val out = TextStats.unigramSurprisal(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(0L, 1L, 2L), "empty doc carries no row")
    assert(out(0L) == (3L, 1.195), s"got ${out(0L)}")
    assert(out(1L) == (2L, 1.2925), s"got ${out(1L)}")
    assert(out(2L) == (1L, 2.585), s"got ${out(2L)}")
    // the rare-vocabulary doc is the most surprising
    assert(out(2L)._2 > out(1L)._2 && out(1L)._2 > out(0L)._2)
  }

  test("bigramSurprisal matches the hand-computed smoothed twin; word salad outscores template") {
    // corpus bigrams: ab:2, ba:3, bb:1, aa:1; contexts a·:3, b·:4; V=2, α=0.5
    // P(b|a)=2.5/4, P(a|b)=3.5/5, P(b|b)=1.5/5, P(a|a)=1.5/4
    val d = Seq(
      (0L, "a b a b a"), // template: (2·0.678072 + 2·0.514573)/4 = 0.596323
      (1L, "b b a a"),   // salad — same unigrams, rare ORDER:
                         // (1.736966 + 0.514573 + 1.415037)/3 = 1.222192
      (2L, "a")          // no bigram — no row
    ).toDF("doc_id", "text")
    val out = TextStats.bigramSurprisal(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(0L, 1L), "sub-2-token doc carries no row")
    assert(out(0L) == (4L, 0.5963), s"got ${out(0L)}")
    assert(out(1L) == (3L, 1.2222), s"got ${out(1L)}")
    // the signal t24 cannot produce: same tokens, surprising order
    assert(out(1L)._2 > out(0L)._2)
  }

  test("hashEmbed matches a hand-built xxhash64 twin float-for-float") {
    val dim = 8
    val out = TextStats.hashEmbed(
        Seq((0L, "apple banana APPLE"), (1L, ""), (2L, "   ")).toDF("doc_id", "text"),
        dim = dim)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // expected vector rebuilt from Spark's OWN xxhash64 (same bytes,
    // same default seed 42) — bucket = floorMod(h, dim), sign = h < 0
    val hr = spark.sql("SELECT xxhash64('apple'), xxhash64('banana')").head()
    val acc = new Array[Double](dim)
    for (h <- Seq(hr.getLong(0), hr.getLong(1), hr.getLong(0))) {
      acc((((h % dim) + dim) % dim).toInt) += (if (h < 0) -1.0 else 1.0)
    }
    val norm = math.sqrt(acc.map(x => x * x).sum)
    val expected = acc.map(x => (x / norm).toFloat).toSeq
    assert(out(0L) == expected, s"got ${out(0L)} want $expected")
    assert(out(1L) == Seq.fill(dim)(0.0f), "empty text must embed to the zero vector")
    assert(out(2L) == Seq.fill(dim)(0.0f), "whitespace text must embed to the zero vector")
  }

  test("hashEmbed output feeds the ANN stack: the near-dup doc outranks unrelated") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (1L, "the quick brown fox jumps over the lazy cat near the river bank"),
      (2L, "completely different text about cooking pasta with garlic and olive oil")
    ).toDF("doc_id", "text")
    // the output IS the embeddings-table shape — knnBrute runs unchanged
    val e = TextStats.hashEmbed(corpus).withColumnRenamed("doc_id", "vec_id")
    val nn = graft.ann.Ann.knnBrute(e, nQueries = 1, k = 2).collect()
    assert(nn.head.getLong(1) == 1L, s"near-dup must rank first, got ${nn.toSeq}")
    assert(nn.head.getDouble(2) > 0.8, s"near-dup cosine ${nn.head.getDouble(2)} too low")
    assert(nn.last.getLong(1) == 2L && nn.last.getDouble(2) < nn.head.getDouble(2))
  }

  test("weightedSample keeps exactly the docs whose LCG coin clears the weighted p") {
    import spark.implicits._
    // weights spread 10..1000 over 20 docs; rate 0.5 → p ∝ n_chars,
    // capped at 1 for the heaviest docs
    val rows = (1L to 20L).map(i => (i, s"src${i % 3}", i * i * 5L / 2 + 10L))
    val df = rows.toDF("doc_id", "source", "n_chars")
    val n = rows.size.toDouble
    val sumW = rows.map(_._3).sum.toDouble
    val expectKeep = rows.filter { case (id, _, w) =>
      val p = math.min(1.0, 0.5 * n * w.toDouble / sumW)
      ((id * 2654435761L) % 4294967296L).toDouble < p * 4294967296.0
    }.map(_._1).toSet
    val out = TextStats.weightedSample(df, rate = 0.5).collect()
    assert(out.map(_.getLong(0)).toSet == expectKeep, s"got ${out.toSeq}")
    // p is emitted capped: the heaviest doc's p_keep must be exactly 1.0
    val heavy = out.find(_.getLong(0) == 20L)
    assert(heavy.nonEmpty && heavy.get.getDouble(3) == 1.0,
      s"heaviest doc p_keep: ${heavy.map(_.getDouble(3))}")
    // deterministic: a second run keeps the identical cut
    assert(TextStats.weightedSample(df, rate = 0.5).collect().toSeq == out.toSeq)
  }

  // ----------------------------------------------------------- BM25

  /** The operator's exact float recipe, replicated op-for-op: per-term
    * contribution, then a left-to-right fold in sorted term order. */
  private def bm25Twin(hits: Seq[(String, Long, Long, Long)], // (term, tf, df, dl)
                       n: Long, sumDl: Long,
                       k1: Double = 1.2, b: Double = 0.75): Double = {
    val avgdl = sumDl.toDouble / n
    val score = hits.sortBy(_._1).foldLeft(0.0) { case (acc, (_, tf, df, dl)) =>
      val idf = math.log(1.0 + ((n - df) + 0.5) / (df + 0.5))
      acc + idf * (tf * (k1 + 1.0)) /
        (tf + k1 * ((1.0 - b) + (b * dl.toDouble) / avgdl))
    }
    math.floor(score * 10000.0 + 0.5) / 10000.0
  }

  test("bm25Search matches the hand-computed twin float-for-float") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "apple banana apple cherry"),
      (1L, "apple fig grape"),
      (2L, "banana banana kiwi melon plum"),
      (3L, "quince rose straw tulip")
    ).toDF("doc_id", "text")
    val queries = Seq((10L, "apple"), (10L, "banana"), (11L, "zzz"))
      .toDF("query_id", "term")
    val out = TextStats.bm25Search(corpus, queries, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(2)) ->
        (r.getInt(1), r.getLong(3), r.getDouble(4))).toMap
    graft.Caches.release()
    // N=4, Σdl=16; dfs: apple 2, banana 2
    val s0 = bm25Twin(Seq(("apple", 2L, 2L, 4L), ("banana", 1L, 2L, 4L)), 4L, 16L)
    val s1 = bm25Twin(Seq(("apple", 1L, 2L, 3L)), 4L, 16L)
    val s2 = bm25Twin(Seq(("banana", 2L, 2L, 5L)), 4L, 16L)
    assert(out((10L, 0L))._3 == s0, s"doc0: ${out((10L, 0L))} vs $s0")
    assert(out((10L, 1L))._3 == s1)
    assert(out((10L, 2L))._3 == s2)
    assert(out((10L, 0L))._2 == 2L && out((10L, 1L))._2 == 1L) // n_hit_terms
    // doc3 shares no term — absent; query 11's term is off-vocabulary
    assert(!out.contains((10L, 3L)) && !out.keys.exists(_._1 == 11L))
    // the two-term doc outranks the single-term docs
    assert(out((10L, 0L))._1 == 1)
  }

  test("bm25 index probe is result-identical to the live search (incl. split appends)") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val queries = TextStats.sampleQueries(docs)
    assert(queries.count() > 0, "sample query set must be non-empty")
    // topK wide enough to keep every candidate: the identity check
    // then covers the full scored relation, and the source doc — a
    // guaranteed candidate, it contains all its query's terms — must
    // surface with a full term-hit count (at topK=10 it can honestly
    // be outranked by shorter docs sharing the same boilerplate terms)
    val wide = 100000
    val live = TextStats.bm25Search(docs, queries, topK = wide).collect().toSeq
    graft.Caches.release()
    assert(live.nonEmpty)
    val qids = queries.select("query_id").distinct().as[Long].collect()
    val nTerms = queries.groupBy("query_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hitsByQ = live.groupBy(_.getLong(0))
    qids.foreach { q =>
      val self = hitsByQ(q).find(_.getLong(2) == q)
      assert(self.exists(_.getLong(3) == nTerms(q)),
        s"query $q must retrieve its source doc with all ${nTerms(q)} terms hit")
    }
    // single-shot index
    val d1 = java.nio.file.Files.createTempDirectory("graft_text_idx").toString
    TextStats.writeTextIndex(docs, d1)
    graft.Caches.release()
    val probed = TextStats.bm25SearchIndexed(TextStats.sampleQueries(docs), d1,
      topK = wide)
    val probeRows = probed.collect().toSeq
    assert(probeRows == live, "saved-index probe must equal the live search")
    // the postings/dfs reads prune by the query terms' bucket set
    val scans = probed.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(p =>
          p.toString.contains("postings") || p.toString.contains("dfs")) => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "query buckets must prune partitions on the postings/dfs reads")
    graft.Caches.release()
    // two-batch append: per-batch partial dfs/doclens/stats must fold
    // to the same scores (df is additive across disjoint doc batches)
    val d2 = java.nio.file.Files.createTempDirectory("graft_text_idx2").toString
    TextStats.writeTextIndex(docs.filter($"doc_id" % 2 === 0), d2, batchId = Some(0L))
    graft.Caches.release()
    TextStats.writeTextIndex(docs.filter($"doc_id" % 2 =!= 0), d2, batchId = Some(1L))
    graft.Caches.release()
    val appended = TextStats.bm25SearchIndexed(TextStats.sampleQueries(docs), d2,
      topK = wide).collect().toSeq
    assert(appended == live, "append-partitioned index must fold to the live scores")
    graft.Caches.release()
  }

  test("sampleQueries is bounded, deterministic and takes leading distinct terms") {
    import spark.implicits._
    val d = Seq(
      (0L, "alpha beta alpha gamma delta"),
      (97L, "one two three four five six"),
      (5L, "not sampled"),
      (97L * 40, "beyond the query cap")
    ).toDF("doc_id", "text")
    val out = TextStats.sampleQueries(d).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // docs 0 and 97 qualify; 5 (off-grid) and 97*40 (past cap) do not
    assert(out.map(_._1).toSet == Set(0L, 97L))
    assert(out.filter(_._1 == 0L).map(_._2).toSeq ==
      Seq("alpha", "beta", "gamma", "delta")) // distinct, document order
    assert(out.filter(_._1 == 97L).map(_._2).toSeq ==
      Seq("one", "two", "three", "four"))     // first qTerms only
  }

  test("percolate fires standing queries on all-terms presence; minFrac relaxes it") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta unrelated words here"),
      (2L, "alpha only here"),
      (3L, "nothing shared at all")
    ).toDF("doc_id", "text")
    val queries = Seq((100L, "alpha"), (100L, "beta"), (101L, "delta"))
      .toDF("query_id", "term")
    val strict = TextStats.percolate(docs, queries).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // all-terms: q100 fires on docs 0,1 (alpha+beta); q101 on doc 0 only
    assert(strict.keySet == Set((0L, 100L), (1L, 100L), (0L, 101L)), s"got $strict")
    assert(strict((0L, 100L)) == ((2L, 2L)) && strict((0L, 101L)) == ((1L, 1L)))
    // minFrac 0.5: one of q100's two terms suffices → doc 2 joins
    val relaxed = TextStats.percolate(docs, queries, minFrac = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(relaxed == Set((0L, 100L), (1L, 100L), (2L, 100L), (0L, 101L)),
      s"got $relaxed")
    // repeated terms in a doc count once (distinct semantics)
    val rep = TextStats.percolate(
      Seq((9L, "alpha alpha alpha")).toDF("doc_id", "text"),
      Seq((5L, "alpha")).toDF("query_id", "term")).collect()
    assert(rep.length == 1 && rep.head.getLong(2) == 1L)
  }

  // ---------------------------------------------------- chunk split

  test("rakeKeyphrases: hand-computed degree/freq scores, stopword segmentation, tie order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "deep learning of deep systems"), // "of" splits two phrases
      (2L, "learning the learning")          // two single-word instances
    ).toDF("doc_id", "text")
    val out = TextStats.rakeKeyphrases(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getDouble(3))))
      .toMap
    graft.Caches.release()
    // stats: deep(freq 2, degree 4), learning(freq 3, degree 4),
    // systems(freq 1, degree 2) → "deep systems" = 2+2 = 4.0 beats
    // "deep learning" = 2 + 4/3 = 3.3333; doc 2's twin instances both
    // score 4/3 and occupy ranks 1-2 with identical values
    assert(out((1L, 1)) == (("deep systems", 4.0)), s"got ${out((1L, 1))}")
    assert(out((1L, 2)) == (("deep learning", 3.3333)), s"got ${out((1L, 2))}")
    assert(out((2L, 1)) == (("learning", 1.3333)) &&
      out((2L, 2)) == (("learning", 1.3333)), s"got $out")
  }

  test("chunkSplit windows tokens with overlap and keeps the tail") {
    import spark.implicits._
    val d = Seq(
      (0L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // 10 toks
      (1L, "a b c"),                          // under one window
      (2L, "   "),                            // whitespace-only: no rows
      (3L, (1 to 11).map(i => s"x$i").mkString(" ")) // 11 toks: short tail
    ).toDF("doc_id", "text")
    val out = TextStats.chunkSplit(d, chunkTokens = 4, overlap = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // doc0: stride 3 → starts 0,3,6 cover 10 toks exactly
    assert(out((0L, 0L)) == ((0L, 4L, "t1 t2 t3 t4")))
    assert(out((0L, 1L)) == ((3L, 4L, "t4 t5 t6 t7")))
    assert(out((0L, 2L)) == ((6L, 4L, "t7 t8 t9 t10")))
    assert(!out.contains((0L, 3L)))
    // overlap: each chunk's first token repeats the previous chunk's last
    assert(out((0L, 1L))._3.startsWith(out((0L, 0L))._3.split(" ").last))
    // doc1: a single whole-doc chunk
    assert(out((1L, 0L)) == ((0L, 3L, "a b c")) && !out.contains((1L, 1L)))
    // doc2: no tokens, no rows
    assert(!out.keys.exists(_._1 == 2L))
    // doc3: 11 toks → 4 chunks, tail keeps the remainder (2 toks)
    assert(out((3L, 3L)) == ((9L, 2L, "x10 x11")))
    // non-overlapped prefixes + the last chunk reconstruct the doc
    val rebuilt = (0L to 2L).map(c => out((0L, c))._3.split(" ").take(3))
      .flatten ++ out((0L, 2L))._3.split(" ").drop(3)
    assert(rebuilt.mkString(" ") == "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")
  }

  // --- t33 TextRank ---

  /** Float-for-float twin of textrankKeywords' iteration: sorted
    * neighbor fold, same IEEE op sequence, same final rounding — AND
    * the same per-doc L1 convergence stop, decision-for-decision
    * (sorted-word fold of |Δ|, exact IEEE compare, same cadence). */
  private def textrankTwin(tokens: Seq[String], iterations: Int = 10,
                           d: Double = 0.85, tol: Double = 5e-6,
                           checkEvery: Int = 2): Map[String, Double] = {
    val stop = Set("the", "a", "of", "and", "is")
    val kept = tokens.map(_.toLowerCase).filter(t => !stop(t) && t.nonEmpty)
    val edges = kept.zip(kept.drop(1)).filter(p => p._1 != p._2)
      .flatMap(p => Seq(p, p.swap)).distinct
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val deg = adj.view.mapValues(_.size).toMap
    var score = adj.keys.map(_ -> 1.0).toMap
    var it = 0
    var stopped = false
    while (it < iterations && !stopped) {
      it += 1
      val prev = score
      score = adj.map { case (w, ns) =>
        var acc = 0.0
        ns.foreach(v => acc += score(v) / deg(v).toDouble)
        w -> ((1 - d) + d * acc)
      }
      if (tol > 0 && it % checkEvery == 0 && it < iterations) {
        var l1 = 0.0
        score.keys.toSeq.sorted.foreach(w => l1 += math.abs(score(w) - prev(w)))
        stopped = l1 < tol
      }
    }
    score.map { case (w, sc) => w -> math.floor(sc * 1e4 + 0.5) / 1e4 }
  }

  test("t33 textrank equals the sorted-fold twin float-for-float; hub word ranks first") {
    val docs = Seq(
      (1L, "alpha beta gamma", "en", "s", 15L),
      (2L, "hub alpha hub beta hub gamma", "en", "s", 28L),
      (3L, "the of and", "en", "s", 10L),          // all stopwords
      (4L, "solo", "en", "s", 4L),                  // no edges
      (5L, "x x x", "en", "s", 5L)                  // self-adjacency only
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.text.TextStats.textrankKeywords(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    // docs 3/4/5 carry no graph evidence → absent
    assert(out.map(_._1).toSet == Set(1L, 2L))
    val twin1 = textrankTwin("alpha beta gamma".split(" ").toSeq)
    val got1 = out.filter(_._1 == 1L).map(t => t._3 -> t._4).toMap
    assert(got1 == twin1, s"doc1: got $got1 want $twin1")
    val twin2 = textrankTwin("hub alpha hub beta hub gamma".split(" ").toSeq)
    val got2 = out.filter(_._1 == 2L).map(t => t._3 -> t._4).toMap
    assert(got2 == twin2, s"doc2: got $got2 want $twin2")
    // the bridging word outranks the leaves, and rank 1 is the hub
    val top2 = out.filter(t => t._1 == 2L && t._2 == 1).head
    assert(top2._3 == "hub" && got2("hub") > got2("alpha"))
    // the path's middle word outranks its endpoints
    assert(got1("beta") > got1("alpha") && got1("beta") > got1("gamma"))
  }

  test("t33 early-exit: converged docs freeze without moving the rounded output; stragglers iterate") {
    // doc 1: a 2-node graph converges EXACTLY after round 2 (each
    // node's score is (1-d)+d*score(other)/1 — the fixed point is hit
    // when both scores equalize), so the default tol must freeze it;
    // doc 2: a larger ring keeps moving longer. Either way the
    // contraction bound pins the rounded output to the fixed-count run.
    val docs = Seq(
      (1L, "alpha beta alpha beta", "en", "s", 20L),
      (2L, "a1 a2 a3 a4 a5 a6 a7 a8 a1 a3 a5 a7 a2 a6", "en", "s", 50L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    def rows(tol: Double) = graft.text.TextStats
      .textrankKeywords(docs, tol = tol).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSeq
    assert(rows(5e-6) == rows(0.0),
      "early exit must not move the rounded 4-dp output")
    // the defaults stay twin-exact (the twin replicates the stop rule)
    val got1 = rows(5e-6).filter(_._1 == 1L).map(t => t._3 -> t._4).toMap
    assert(got1 == textrankTwin("alpha beta alpha beta".split(" ").toSeq))
  }

  test("t33 textrank respects topK with rounded-score ranking and word tiebreak") {
    val docs = Seq((1L, "a1 a2 a3 a4 a5 a6 a7 a1", "en", "s", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.text.TextStats.textrankKeywords(docs, topK = 3).collect()
    assert(out.length == 3)
    assert(out.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
    // ranks strictly ordered by (rounded score desc, word asc)
    val pairs = out.map(r => (r.getDouble(3), r.getString(2)))
    assert(pairs.sliding(2).forall { case Array((s1, w1), (s2, w2)) =>
      s1 > s2 || (s1 == s2 && w1 < w2) })
  }

  test("t34 kwic: window edges, explicit terms, multi-occurrence") {
    val docs = Seq((1L, "alpha beta gamma beta delta", "en", "s", 27L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.text.TextStats.kwic(docs, terms = Some(Seq("beta")), window = 2)
      .collect().map(r => (r.getInt(1), r.getString(3), r.getString(4)))
    assert(out.toSeq == Seq(
      (1, "alpha", "gamma beta"),       // left clipped at doc start
      (3, "beta gamma", "delta")))      // right clipped at doc end
    // term as FIRST and LAST token: both contexts empty-string, not null
    val edge = graft.text.TextStats.kwic(
      Seq((2L, "edge middle edge", "en", "s", 16L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      terms = Some(Seq("edge")), window = 3)
      .collect().map(r => (r.getInt(1), r.getString(3), r.getString(4)))
    assert(edge.toSeq == Seq((0, "", "middle edge"), (2, "edge middle", "")))
  }

  test("t36 boilerplateScrub strips source-recurrent lines, keeps content and short lines") {
    val hdr = "WELCOME TO EXAMPLE SITE"
    // source A: header recurs in 3 docs → boilerplate there; doc 4 in
    // source B carries the SAME line below threshold → kept; short
    // lines ("--") never become candidates however often they recur
    val docs = Seq(
      (1L, s"$hdr\ncontent one\n--", "a"),
      (2L, s"$hdr\ncontent two\n--", "a"),
      (3L, s"$hdr\n--", "a"),
      (4L, s"$hdr\nother site text", "b")
    ).toDF("doc_id", "text", "source")
    val out = graft.text.TextStats.boilerplateScrub(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 1L, "content one\n--")), s"got ${out(1L)}")
    assert(out(2L) == ((3L, 1L, "content two\n--")), s"got ${out(2L)}")
    // doc 3 is all chrome: header stripped, the short line preserved
    assert(out(3L) == ((2L, 1L, "--")), s"got ${out(3L)}")
    // same line in another source, df=1 < minDocs: untouched
    assert(out(4L) == ((2L, 0L, s"$hdr\nother site text")), s"got ${out(4L)}")
  }

  test("t35 codeDetect: hand-counted signals route code, prose, and mention-heavy prose") {
    val code = "def add(a, b): { return a + b; } // c => a && b"
    val prose = "the quick brown fox jumps over the lazy dog again and again"
    // prose MENTIONING one keyword once: below minKeywords, no symbols
    val mention = "in python a routine may return early they say"
    val docs = Seq((1L, code), (2L, prose), (3L, mention))
      .toDF("doc_id", "text")
    val out = graft.text.TextStats.codeDetect(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getLong(3), r.getString(5)))).toMap
    // hand count for the code doc: ( ) { } ; and =,> from '=>' — 7
    // symbols; keywords ' def ', ' return ', '=>', '&&' — 4
    assert(out(1L)._1 == 7, s"code symbols ${out(1L)._1}")
    assert(out(1L)._2 == 4L, s"code keywords ${out(1L)._2}")
    assert(out(1L)._3 == "code")
    assert(out(2L) == ((0, 0L, "prose")), s"got ${out(2L)}")
    // one keyword mention, zero symbols: stays prose
    assert(out(3L)._1 == 0 && out(3L)._2 == 1L && out(3L)._3 == "prose",
      s"got ${out(3L)}")
  }

  /** `n` seeded 12-word documents over a 40-word vocabulary. */
  private def corpus(n: Int) = {
    import spark.implicits._
    val r = new scala.util.Random(11)
    (0 until n).map(i => (i.toLong, Seq.fill(12)(s"w${r.nextInt(40)}").mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("bm25SearchIndexed: a 300-row batch routes on the driver and equals the live search") {
    import spark.implicits._
    val docs = corpus(80)
    val dir = java.nio.file.Files.createTempDirectory("graft_text_route").toString
    TextStats.writeTextIndex(docs.filter($"doc_id" % 2 === 0), dir, batchId = Some(0L))
    TextStats.writeTextIndex(docs.filter($"doc_id" % 2 =!= 0), dir, batchId = Some(1L))
    graft.Caches.release()
    // 100 queries of 3 terms over w0..w44: w40..w44 are in no document
    val r = new scala.util.Random(5)
    val rows = (0 until 300).map(i => (i / 3L, s"w${r.nextInt(45)}"))
    val batch = rows.toDF("query_id", "term")
    val probe = TextStats.bm25SearchIndexed(batch, dir, topK = 100000)
    // routed: no cached query frame, the query side is local
    assert(probe.queryExecution.withCachedData.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    }.isEmpty)
    val got = probe.collect().toSeq
    graft.Caches.release()
    val live = TextStats.bm25Search(docs, batch, topK = 100000).collect().toSeq
    graft.Caches.release()
    assert(got.nonEmpty && got == live)
    // a repeated row and a null term change nothing
    val noisy = (rows.map { case (q, t) => (q, Option(t)) } ++
      Seq((0L, Some(rows(0)._2)), (0L, None))).toDF("query_id", "term")
    assert(TextStats.bm25SearchIndexed(noisy, dir, topK = 100000).collect().toSeq == got)
    // an empty batch returns no rows
    assert(TextStats.bm25SearchIndexed(batch.limit(0), dir).collect().isEmpty)
  }

  test("writeTextIndex: a batch append leaves meta/ untouched and a later probe sees the batch") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val docs = corpus(80)
    val dir = java.nio.file.Files.createTempDirectory("graft_text_meta").toString
    def metaFiles = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "meta"))
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.getLastModifiedTime(f).toMillis).toSeq.sorted
      finally s.close()
    }
    TextStats.writeTextIndex(docs.filter($"doc_id" % 2 === 0), dir, batchId = Some(0L))
    graft.Caches.release()
    val seeded = metaFiles
    assert(seeded.nonEmpty)
    val queries = TextStats.sampleQueries(docs, every = 4, maxQueries = 20)
    // the first probe memoizes every relation's schema under the seed
    val before = TextStats.bm25SearchIndexed(queries, dir, topK = 100000).collect().toSeq
    graft.Caches.release()
    Thread.sleep(1100) // past a coarse mtime granularity: a rewrite would show
    TextStats.writeTextIndex(docs.filter($"doc_id" % 2 =!= 0), dir, batchId = Some(1L))
    graft.Caches.release()
    assert(metaFiles == seeded, "a batch append must not rewrite meta/")
    val after = TextStats.bm25SearchIndexed(queries, dir, topK = 100000).collect().toSeq
    graft.Caches.release()
    val live = TextStats.bm25Search(docs, queries, topK = 100000).collect().toSeq
    graft.Caches.release()
    assert(after == live && before != live, "the probe after the append must see the batch")
  }
}
