package graft.text

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.{Num, Scans}
import graft.Num.stableRound
import graft.sources.Sources

/** Text-analysis operators for LLM-training-data pipelines
  * (SURVEY.md §2 "Text analysis"). All are single-pass narrow
  * transforms that run at scan speed inside whole-stage codegen.
  * The CPU-heavy ones (t02, t06) guard against degenerate input
  * parallelism via Scans.spreadIfNarrow: a few-unsplittable-files
  * input is spread once, while a pre-split scan (the 100 TB case)
  * passes through with no shuffle — document text never transits an
  * exchange at scale.
  */
object TextStats {

  // ------------------------------------------------------------------
  // Tokenizers. Each oracle copies its operator's tokenizer exactly, so
  // the two here (and `Dedup.shingleTokens`) differ on purpose and are
  // each written once: change one in its owner or nowhere. Neither
  // drops the "" token an empty or whitespace-only text splits to;
  // callers keep their own filtering.
  // ------------------------------------------------------------------

  /** The whitespace tokens of `text`, case kept: trimmed, split on
    * whitespace runs (t01, t09, t10, t15, t23, t30, the t02/t18 token
    * count and s13's rates). */
  private def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  /** The lowercase words of `text`: trimmed, lowercased, split on
    * whitespace runs (every word-level operator here, the retrieval
    * family, and s21). */
  private[graft] def lowerWords(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** The default stopword list of t05, t32, t33 and t34. */
  private[graft] val defaultStopwords: Seq[String] = Seq("the", "a", "of", "and", "is")

  /** Whether token `w` is in `stopwords`: literal values, never SQL
    * text, so a stopword such as "don't" is compared, not parsed. */
  private def isStopword(w: Column, stopwords: Seq[String]): Column = w.isin(stopwords: _*)

  /** t01_token_stats — tokenization + per-doc token/char counts.
    * Whitespace tokenizer (the reference for token counting; the
    * BPE-pretokenizer variant is t12 `bpeTokens` below). */
  def tokenStats(documents: DataFrame): DataFrame =
    documents
      .withColumn("toks", wsTokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_uniq_tokens"),
        length(col("text")).as("n_chars_actual"),
        col("n_chars"))
      .orderBy("doc_id")

  /** The GPT-2-style pre-tokenizer pattern, restricted to constructs
    * with identical leftmost-first alternation semantics on Java regex
    * (Spark) and RE2 (the DuckDB oracle): contraction suffixes,
    * space-attached letter/digit/punctuation runs, whitespace runs. No
    * lookarounds (RE2 has none), ASCII classes (case folded first),
    * and whitespace spelled as an EXPLICIT class — Java's \s includes
    * vertical tab (\x0B), RE2's does not, so \s itself is not
    * engine-portable. */
  private val bpeWs = " \\t\\n\\f\\r\\x0B"
  private val bpePattern =
    s"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9$bpeWs]+|[$bpeWs]+"

  /** t12_bpe_tokens — token counting in the units models bill in: a
    * BPE pre-tokenizer's first pass next to the whitespace count, so
    * length filters and the t10 packing math can work in model-ish
    * tokens ("words + punctuation + contraction splits") instead of
    * words. Single narrow regexp pass at scan speed; a production
    * pipeline swaps the pattern for its tokenizer's exact pre-tokenize
    * regex — the plumbing and the oracle protocol are unchanged. */
  def bpeTokens(documents: DataFrame): DataFrame =
    documents
      .withColumn("t", lower(trim(col("text"))))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(bpePattern), lit(0))).as("n_bpe_tokens"),
        size(split(col("t"), s"[$bpeWs]+")).as("n_ws_tokens"))
      .orderBy("doc_id")

  private def nchars = length(col("text"))
  private def alphaChars = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
  private def spaceChars = length(regexp_replace(col("text"), "[^ ]", ""))
  private def ntok = size(wsTokens(col("text")))

  /** The t02 quality formula over a `text` column, rounded with
    * stableRound — the SINGLE definition shared by the batch scorer
    * and the streaming quality gate (s10), so a doc sitting exactly
    * at a threshold routes identically in both. */
  private[graft] def qualityExpr: Column =
    stableRound(
      least(lit(1.0), ntok / lit(100.0)) * 0.4 +
        (alphaChars / nchars) * 0.4 +
        (lit(1.0) - spaceChars / nchars) * 0.2, 4)

  /** t02_quality_score — heuristic quality scoring from char-class
    * ratios and length stats (the C4/Gopher-style filters). Every
    * ratio is an int/int double division, so the oracle reproduces it
    * exactly. Two full-text regex passes per doc are the CPU cost —
    * hence the narrow-input spread guard. */
  def qualityScore(documents: DataFrame): DataFrame =
    Scans.spreadIfNarrow(documents, col("doc_id"))
      .filter(nchars > 0)
      .select(
        col("doc_id"),
        stableRound(alphaChars / nchars, 4).as("alpha_ratio"),
        stableRound(spaceChars / nchars, 4).as("space_ratio"),
        stableRound(nchars / ntok, 2).as("chars_per_tok"),
        qualityExpr.as("quality"))
      .orderBy("doc_id")

  /** Marker-word profiles for t03_langid. Real-language function words;
    * on synthetic word-salad data everything scores 0 → 'und'
    * (undetermined), which is the honest answer there. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " is ", " to "),
    "de" -> Seq(" der ", " die ", " und ", " ist ", " das "),
    "es" -> Seq(" el ", " la ", " que ", " los ", " es "),
    "fr" -> Seq(" le ", " la ", " et ", " les ", " est "),
    "zh" -> Seq("的", "是", "在", "了", "我"))

  /** t03_langid — marker-word language identification: count profile
    * hits per language over the padded lowercase text, argmax with a
    * deterministic tiebreak; 'und' when nothing matches. Single-pass,
    * codegen-friendly (length/replace only — no regex in the loop). */
  def langId(documents: DataFrame): DataFrame = {
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    def hits(ms: Seq[String]) = ms.map { m =>
      (length(padded) - length(replace(padded, lit(m), lit("")))) / m.length
    }.reduce(_ + _)
    val scored = markers.foldLeft(documents) { case (df, (l, ms)) =>
      df.withColumn(s"score_$l", hits(ms))
    }
    val best = markers.map { case (l, _) => struct(col(s"score_$l").as("s"), lit(l).as("l")) }
    scored
      .withColumn("best", greatest(best: _*))
      .select(
        col("doc_id"),
        when(col("best.s") > 0, col("best.l")).otherwise(lit("und")).as("pred_lang"),
        col("lang"),
        (when(col("best.s") > 0, col("best.l")).otherwise(lit("und")) === col("lang"))
          .as("correct"))
      .orderBy("doc_id")
  }

  /** t05_stopword_ratio — share of stopword tokens per document (the
    * Gopher-style repetition/quality signal). Narrow, single pass. */
  def stopwordRatio(documents: DataFrame,
                    stopwords: Seq[String] = defaultStopwords): DataFrame = {
    def nStop = size(filter(col("toks"), isStopword(_, stopwords)))
    documents
      .withColumn("toks", lowerWords(col("text")))
      .filter(size(col("toks")) > 0)
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        nStop.as("n_stop"),
        stableRound(nStop / size(col("toks")), 4).as("stop_ratio"))
      .orderBy("doc_id")
  }

  /** t06_word_freq — corpus-level token frequency (the Zipf-profile /
    * vocabulary report): explode tokens, count, top-N with full
    * tiebreak. The explode shuffles only (word, partial count) pairs
    * thanks to map-side partial aggregation. */
  def wordFreq(documents: DataFrame, topN: Int = 20): DataFrame =
    wordsOf(Scans.spreadIfNarrow(documents, col("doc_id")))
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(topN)

  /** t26_frequent_terms — t06's heavy-hitters SCALE PATH: the exact
    * word count's shuffle carries every distinct word each partition
    * saw (the full per-partition vocabulary — unbounded under the
    * typo/noise long tail of a 100 TB crawl); the Misra–Gries sketch
    * ([[graft.functions.TypedAggregators.FreqSketch]]) caps map-side
    * state and shuffle rows at `k` counters per partition, merging
    * with the offset rule. Estimates under-count by at most
    * N/(k+1), so every term with true frequency above that bound is
    * GUARANTEED in the sketch — choose k ≥ vocabulary-share of the
    * terms you care about and the top of the report is exact ranking
    * over under-counted-by-a-common-bound values. Rows-only (the
    * sketch's estimates depend on merge order — the spec pins the
    * order-independent guarantees against exact t06 instead). */
  def frequentTerms(documents: DataFrame, k: Int = 64, topN: Int = 20): DataFrame =
    termSketch(Scans.spreadIfNarrow(documents, col("doc_id")), k)
      .orderBy(col("est_freq").desc, col("word"))
      .limit(topN)

  /** The non-empty lowercase words of `documents`, one `word` row per
    * occurrence (t06 and the t26/s21 term sketch). */
  private def wordsOf(documents: DataFrame): DataFrame =
    documents.select(explode(lowerWords(col("text"))).as("word"))
      .filter(col("word") =!= "")

  /** The Misra–Gries term sketch with `k` counters as (word, est_freq)
    * rows, unsorted: t26's body over a batch and s21's over a stream
    * (whose aggregation state is the sketch buffer). */
  private[graft] def termSketch(documents: DataFrame, k: Int): DataFrame = {
    val sketch = udaf(new graft.functions.TypedAggregators.FreqSketch(k))
    wordsOf(documents)
      .agg(sketch(col("word")).as("sk"))
      .select(explode(col("sk")).as(Seq("word", "est_freq")))
  }

  /** t07_repetition — within-document repetition signal (the Gopher
    * duplicate-n-gram filter): fraction of word bigram occurrences
    * that repeat an earlier bigram. Distinct-bigram counting reuses
    * the compiled graft_shingle_hashes loop; single pass, no shuffle. */
  def repetition(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    documents
      .withColumn("toks", lowerWords(col("text")))
      .filter(size(col("toks")) >= 2)
      .select(
        col("doc_id"),
        (size(col("toks")) - 1).as("n_bigrams"),
        size(expr("graft_shingle_hashes(toks, 2)")).as("n_uniq_bigrams"))
      .withColumn("rep_ratio",
        stableRound(lit(1.0) - col("n_uniq_bigrams") / col("n_bigrams"), 4))
      .orderBy("doc_id")
  }

  /** t08_pii_scrub — PII redaction pass (the pre-training scrub):
    * count and replace email addresses and URLs, surfacing the
    * scrubbed text as an md5 so the full text never leaves the scan.
    * Patterns are RE2-safe so the DuckDB oracle runs them verbatim. */
  def piiScrub(documents: DataFrame): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    // whitespace class spelled out: Java's \s includes \x0B, RE2's
    // does not — an explicit set keeps both engines byte-identical
    val url = "https?://[^ \\t\\n\\x0B\\f\\r]+"
    documents.select(
      col("doc_id"),
      regexp_count(col("text"), lit(email)).as("n_emails"),
      regexp_count(col("text"), lit(url)).as("n_urls"),
      md5(regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
        url, "<URL>")).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  /** t09_corpus_stats — the curator's one-row corpus report: document
    * and token volume, length distribution (exact percentiles — at
    * 100 TB swap percentile -> percentile_approx, the q21/q29 rule),
    * and the share of short documents. One narrow scan + one single-
    * group aggregation. */
  def corpusStats(documents: DataFrame, shortDocTokens: Int = 20): DataFrame =
    documents
      .select(ntok.as("n_toks"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks").cast("long")).as("total_tokens"),
        // avg of ints is an exact-integer division, so the double is
        // engine-identical; stableRound erases the round() algorithm
        // difference (SURVEY.md §5)
        stableRound(avg("n_toks"), 2).as("mean_tokens"),
        round(expr("percentile(n_toks, 0.5)"), 2).as("p50_tokens"),
        round(expr("percentile(n_toks, 0.95)"), 2).as("p95_tokens"),
        count(when(col("n_toks") < shortDocTokens, 1)).as("n_short"))

  /** t04_fingerprint — rolling polynomial hash (mod 1e9+7) over the
    * document's codepoints: a locality-free exact fingerprint cheap
    * enough to compute at scan speed. */
  def fingerprint(documents: DataFrame): DataFrame =
    documents
      .withColumn("codes", transform(split(col("text"), ""), c => ascii(c)))
      .withColumn("fp", expr(
        "aggregate(codes, 0L, (acc, c) -> (acc * 31 + c) % 1000000007L)"))
      .select(col("doc_id"), col("fp"))
      .orderBy("doc_id")

  /** t10_seq_pack — training-sequence packing by global concatenation:
    * lay every document's tokens end-to-end in doc_id order and cut
    * the stream every `ctxLen` tokens (the standard pretraining
    * pack-then-chunk). Each doc learns its global token offset and
    * which training chunks it spans.
    *
    * The global prefix sum is built HIERARCHICALLY, never with a
    * single-partition window: (1) per-bucket token totals (tiny
    * aggregate), (2) running totals over the bucket table — corpus /
    * bucketSize rows, broadcastable; size bucketSize so this stays
    * small at the target scale, (3) a per-bucket window adds the
    * in-bucket cumsum to the bucket's base offset. The full-corpus
    * data shuffles once, on bucket — a global orderBy window would
    * serialize 100 TB through one task. */
  def seqPack(documents: DataFrame, ctxLen: Int = 2048,
              bucketSize: Long = 1024L): DataFrame = {
    val base = documents
      .select(col("doc_id"),
        ntok.cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"doc_id div $bucketSize"))
    val bucketOffsets = base
      .groupBy("bucket").agg(sum("n_tokens").as("btoks"))
      .withColumn("boff",
        coalesce(sum("btoks").over(
          Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("bucket", "boff")
    val wInBucket = Window.partitionBy("bucket").orderBy("doc_id")
    base
      .join(broadcast(bucketOffsets), "bucket")
      .withColumn("end_off", col("boff") + sum("n_tokens").over(wInBucket))
      .withColumn("start_off", col("end_off") - col("n_tokens"))
      .select(
        col("doc_id"), col("n_tokens"), col("start_off"),
        expr(s"start_off div $ctxLen").as("first_chunk"),
        expr(s"(end_off - 1) div $ctxLen").as("last_chunk"))
      .withColumn("n_chunks", col("last_chunk") - col("first_chunk") + 1)
      .orderBy("doc_id")
  }

  /** t11_span_dedup — substring-level duplication (the span-granular
    * form of Lee et al.'s exact substring dedup): fingerprint every
    * non-overlapping `spanTokens`-token span with the compiled
    * graft_span_hashes loop, count each span's document frequency,
    * and report per doc how much of it appears verbatim elsewhere in
    * the corpus. At 100 TB only (doc_id, 8-byte span hash) pairs
    * shuffle — document text never leaves the scan — and the span-DF
    * aggregation is partial (map-side combined). */
  def spanDedup(documents: DataFrame, spanTokens: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val spans = graft.Scans.spreadIfNarrow(documents, col("doc_id"))
      .withColumn("toks", lowerWords(col("text")))
      .select(col("doc_id"), expr(s"graft_span_hashes(toks, $spanTokens)").as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_spans"),
        explode(col("sh")).as("h"))
    // span hashes are distinct within a doc, so count(*) per hash IS
    // the document frequency
    val df = spans.groupBy("h").agg(count(lit(1)).as("span_df"))
    spans
      .join(df, "h")
      .groupBy("doc_id", "n_spans")
      .agg(count(when(col("span_df") > 1, 1)).as("dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("dup_spans"),
        stableRound(col("dup_spans") / col("n_spans"), 4).as("dup_share"))
      .orderBy("doc_id")
  }

  /** t13_ngram_novelty — corpus-normalized phrase novelty: each doc's
    * mean document frequency over its distinct word n-grams (default
    * bigrams). High mean-DF documents are built from phrases the whole
    * corpus repeats — boilerplate, templates, navigation chrome — the
    * document-frequency feature pass curation pipelines score before
    * filtering. Two partial-agg-friendly passes over (doc_id, 8-byte
    * n-gram hash) pairs: the DF count shuffles on the hash, the
    * re-join shuffles on the same key, text never leaves the scan
    * (the d02 inverted-index shape minus the quadratic pair step).
    * mean_ngram_df is a sum of exact long counts divided by an exact
    * long — an exact IEEE division both engines share (SURVEY §5). */
  def ngramNovelty(documents: DataFrame, n: Int = 2): DataFrame = {
    // shared tokenize-and-shingle pipeline (one definition to evolve);
    // persisted because the exploded relation feeds BOTH the DF count
    // and the probe side of the re-join — tracked so the caller's
    // Caches.release() drops it once the result is materialized
    val e = graft.Caches.tracked(graft.dedup.Dedup.withShingleHashes(documents, n)
      .select(col("doc_id"), explode(col("sh")).as("ng_h")))
    val df = e.groupBy("ng_h").agg(count(lit(1)).as("df"))
    e.join(df, "ng_h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        stableRound(sum("df") / count(lit(1)), 4).as("mean_ngram_df"))
      .orderBy("doc_id")
  }

  /** t18_quality_filter — the DECISION step of the curation pipeline:
    * the oracle-proven signals (whitespace token count, the shared t02
    * qualityExpr, t07's duplicate-bigram ratio) composed into a
    * keep/drop verdict, with the FIRST failing rule in a fixed order
    * as the reason — the Gopher/C4 filter bank as one narrow pass
    * with an auditable per-doc reason column (what a curation run
    * reports, not just what it keeps). Thresholds compare the ROUNDED
    * signals, so a boundary doc routes identically in Spark and the
    * oracle (the s10 protocol). */
  def qualityFilter(documents: DataFrame, minTokens: Int = 20, maxTokens: Int = 2048,
                    minQuality: Double = 0.6, maxRepetition: Double = 0.1): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    Scans.spreadIfNarrow(documents, col("doc_id"))
      .filter(nchars > 0)
      .withColumn("toks", lowerWords(col("text")))
      .withColumn("n_tokens", ntok)
      .withColumn("quality", qualityExpr)
      .withColumn("rep_ratio",
        when(size(col("toks")) >= 2,
          stableRound(lit(1.0) -
            size(expr("graft_shingle_hashes(toks, 2)")) / (size(col("toks")) - 1), 4))
          .otherwise(lit(0.0)))
      .withColumn("reason",
        when(col("n_tokens") < minTokens, "too_short")
          .when(col("n_tokens") > maxTokens, "too_long")
          .when(col("quality") < minQuality, "low_quality")
          .when(col("rep_ratio") > maxRepetition, "repetitive")
          .otherwise("pass"))
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("rep_ratio"),
        (col("reason") === "pass").as("keep"), col("reason"))
      .orderBy("doc_id")
  }

  /** t14_term_salience — per-doc top-K characteristic terms by
    * df-normalized salience: `tf · N / df` — TF-IDF's ranking with the
    * log dropped so the score is a ratio of exact integers (an IEEE
    * division both engines compute bit-identically; `ln` is libm-
    * dependent and NOT oracle-safe, and a monotone transform doesn't
    * change the top-K anyway). Shapes: one explode → two partial-agg
    * groupBys ((doc,term) then term) → a term-keyed join → a per-doc
    * top-K window. Only (doc_id, term, counts) tuples shuffle. */
  def termSalience(documents: DataFrame, topK: Int = 3): DataFrame = {
    // persisted (tracked): tf feeds BOTH the DF count and the probe
    // side of the re-join (the t13 precedent) — one tokenize pass, not
    // two; released by the caller's Caches.release(). The "" term of
    // an empty text is kept, as in t14's oracle.
    val tf = graft.Caches.tracked(termFreqs(documents, keepEmpty = true))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    // rank on the UNROUNDED double; ties broken by term so the cut is
    // deterministic in both engines
    val w = Window.partitionBy("doc_id").orderBy(col("salience").desc, col("term"))
    tf.join(dfc, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("salience", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        stableRound(col("salience"), 4).as("salience"), col("rnk"))
      .orderBy("doc_id", "rnk")
  }

  /** t24_unigram_surprisal — per-document mean unigram surprisal in
    * bits: the classic model-free quality/novelty signal (a cheap
    * perplexity proxy) — how "surprising" a document's tokens are
    * under the corpus's own unigram MLE. surprisal(doc) =
    * Σ tf·(−log2 cf/T) / Σ tf over the doc's distinct terms, where cf
    * is the corpus frequency and T the corpus token count.
    * Boilerplate and template spam (common tokens) score low; rare-
    * vocabulary documents score high — both tails are what a
    * training-mix owner inspects before filtering.
    *
    * Scale posture: identical plan shape to t14 — ONE tokenize pass
    * persisted at (doc, term) grain feeds both the corpus-frequency
    * aggregate and the probe side of the re-join; the term join's key
    * skew (stopwords are hot) is bounded because the probe side is
    * distinct (doc, term) pairs, and the corpus-frequency side is
    * vocabulary-grain (one row per term). Rows-only: −log2 is
    * transcendental (no cross-engine float determinism — SURVEY §5);
    * the spec pins a hand-computed twin and the rare-beats-common
    * ordering. Empty documents carry no tokens and no row. */
  def unigramSurprisal(documents: DataFrame): DataFrame = {
    // tracked: tf feeds the corpus-frequency aggregate AND the probe
    // side of the re-join (the t14 precedent)
    val tf = graft.Caches.tracked(termFreqs(documents))
    val cf = tf.groupBy("term").agg(sum("tf").as("cf"))
    val tot = cf.agg(sum("cf").as("t"))
    tf.join(cf, "term")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_toks"),
        (sum(col("tf") * -log2(col("cf").cast("double") / col("t")))
          / sum("tf")).as("sup"))
      .select(col("doc_id"), col("n_toks"),
        stableRound(col("sup"), 4).as("surprisal_bits"))
      .orderBy("doc_id")
  }

  /** t25_bigram_surprisal — per-document mean BIGRAM surprisal in
    * bits: t24's perplexity proxy with one token of context — the
    * KenLM-style n-gram-LM quality signal real curation pipelines
    * (CCNet, RedPajama) filter on. Each document scores
    * Σ tf·(−log2 P(w₂|w₁)) / Σ tf over its bigram bag, under the
    * corpus's own add-α-smoothed bigram model:
    * P(w₂|w₁) = (c(w₁w₂)+α) / (c(w₁·)+α·V) with c(w₁·) the context
    * count (bigrams starting with w₁) and V the corpus vocabulary.
    * Context makes the signal sharper than t24's unigram version:
    * common words in UNCOMMON orders (word salad, shuffled spam)
    * score high here while scoring average there.
    *
    * Scale posture: tokens cross ONE exchange (doc_id — the lead
    * window that forms bigrams), then everything is (doc, bigram) /
    * vocabulary grain, the t14/t24 shape: the per-doc bigram bag
    * persists once and feeds the corpus bigram counts, the context
    * counts derive from the bigram table (never a second tokenize),
    * and both model joins probe with distinct (doc, bigram) pairs so
    * stopword-pair heat is bounded. Rows-only: −log2 is
    * transcendental (SURVEY §5); the spec pins a hand-computed twin
    * and the shuffled-beats-template ordering. Documents with fewer
    * than 2 tokens carry no bigram and no row. */
  def bigramSurprisal(documents: DataFrame, alpha: Double = 0.5): DataFrame = {
    val toks = graft.Scans.spreadIfNarrow(documents, col("doc_id"))
      .select(col("doc_id"),
        posexplode(lowerWords(col("text"))).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bi = toks
      .withColumn("nxt", lead("tok", 1).over(w))
      .filter(col("nxt").isNotNull)
    // tracked: the (doc, bigram) bag feeds the corpus bigram counts
    // AND the probe side of the model re-join (t14/t24 precedent)
    val tf = graft.Caches.tracked(
      bi.groupBy("doc_id", "tok", "nxt").agg(count(lit(1)).as("tf")))
    val bcf = tf.groupBy("tok", "nxt").agg(sum("tf").as("bcf"))
    val ccf = bcf.groupBy("tok").agg(sum("bcf").as("ccf"))
    // the smoothing vocabulary is the BIGRAM model's: every token that
    // participates in some bigram, derived from the cached bag — no
    // second tokenize pass over the corpus
    val vocab = tf
      .select(explode(array(col("tok"), col("nxt"))).as("t"))
      .agg(countDistinct("t").as("v"))
    tf.join(bcf, Seq("tok", "nxt"))
      .join(ccf, Seq("tok"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
        (sum(col("tf") * -log2((col("bcf") + lit(alpha)) /
          (col("ccf") + lit(alpha) * col("v"))))
          / sum("tf")).as("sup"))
      .select(col("doc_id"), col("n_bigrams"),
        stableRound(col("sup"), 4).as("surprisal_bits"))
      .orderBy("doc_id")
  }

  /** Per-source token totals, the one derivation shared by t15's
    * rates, t23's epochs and s13's gate. Its token rule is `wsTokens`,
    * the determinism contract with their oracles: change it there or
    * nowhere. Persisted (tracked): every caller reads it at least
    * twice. */
  private def perSourceTokens(documents: DataFrame): DataFrame =
    graft.Caches.tracked(documents
      .select(col("source"), ntok.cast("long").as("n_toks"))
      .groupBy("source").agg(sum("n_toks").as("src_tokens")))

  /** The t15 per-source keep-rate table — the SINGLE definition shared
    * by the batch sampler and the streaming mixture gate (s13), so a
    * doc routes identically in both (the qualityExpr precedent). */
  private[graft] def sourceRatesOf(documents: DataFrame, budgetShare: Double): DataFrame = {
    val perSrc = perSourceTokens(documents)
    val tot = perSrc.agg(sum("src_tokens").as("total_tokens"), count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("rate", least(lit(1.0),
        col("total_tokens").cast("double") * budgetShare / col("n_sources") / col("src_tokens")))
      .select("source", "rate")
  }

  /** t15_source_mix — domain-mixture sampling to a token budget: a
    * training mix wants each source capped at an equal share of
    * `budgetShare · total_tokens`. Two tiny aggregations derive each
    * source's keep-rate (`min(1, budget/source_tokens)`); the corpus
    * passes once through a broadcast rate join + the deterministic
    * `Num.keeps` Bernoulli coin (q14's scramble — reproducible at any
    * cluster size, no rand()). Undersized sources keep everything
    * (rate 1); oversized ones downsample proportionally. */
  def sourceMix(documents: DataFrame, budgetShare: Double = 0.5): DataFrame = {
    val toks = documents.select(col("doc_id"), col("source"),
      ntok.cast("long").as("n_toks"))
    toks.join(broadcast(sourceRatesOf(documents, budgetShare)), "source")
      .filter(Num.keeps(col("doc_id"), col("rate")))
      .select("doc_id", "source", "n_toks")
      .orderBy("doc_id")
  }

  /** t23_source_upsample — the UPSAMPLING half of mixture control
    * (t15 downsamples oversized sources to a budget; this repeats
    * undersized ones): every source is brought toward the LARGEST
    * source's token count by fractional epochs — epochs(src) =
    * min(maxEpochs, max_tokens/src_tokens) — and each doc emits
    * floor(epochs) copies plus one more with probability
    * frac(epochs), decided by the same deterministic LCG as
    * t15/t16/s13, so a given doc's copy count is reproducible across
    * engines and runs. The output carries a copy index (doc_id,
    * source, copy) — the form a training-shard writer consumes
    * (dataset epochs materialized as rows, the standard mixture
    * practice when small high-quality sources must not drown).
    *
    * Scale posture: the rate table is source-grain (broadcast); the
    * corpus pass is one narrow join + a compiled sequence-explode —
    * output rows = Σ epochs(src)·|src|, the unavoidable output size.
    * The epochs ratio is ONE IEEE division per source (no float sums
    * anywhere), so the oracle is exact. */
  def sourceUpsample(documents: DataFrame, maxEpochs: Double = 3.0): DataFrame = {
    val perSrc = perSourceTokens(documents)
    val maxTok = perSrc.agg(max("src_tokens").as("max_tokens"))
    val epochs = perSrc.crossJoin(broadcast(maxTok))
      .withColumn("epochs", least(lit(maxEpochs),
        col("max_tokens").cast("double") / col("src_tokens")))
      .select("source", "epochs")
    documents.select(col("doc_id"), col("source"))
      .join(broadcast(epochs), "source")
      .withColumn("n_copies", floor(col("epochs")) +
        when(Num.keeps(col("doc_id"), col("epochs") - floor(col("epochs"))), 1L)
          .otherwise(0L))
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy"))
      .orderBy("doc_id", "copy")
  }

  /** t16_shard_assign — deterministic global shuffle + sharding for
    * training output: every doc gets a shard (LCG hash mod nShards)
    * and a stable position within its shard (ascending hash order =
    * pseudo-random document order). The position is a hierarchical
    * prefix sum, NOT one global row_number per shard: per-(shard,
    * high-hash-bucket) counts roll into running bucket offsets (a
    * window over ≤ nShards·256 rows), and each doc ranks only within
    * its bucket — t10's formulation, no single-partition window at
    * corpus scale. */
  def shardAssign(documents: DataFrame, nShards: Int = 8): DataFrame = {
    val base = documents
      .select(col("doc_id"),
        Num.scramble(col("doc_id")).as("h"))
      .withColumn("shard", (col("h") % nShards).cast("int"))
      .withColumn("bucket", expr("h div 16777216").cast("int")) // 2^24 → ≤256 buckets
    val counts = base.groupBy("shard", "bucket").agg(count(lit(1)).as("cnt"))
    val wS = Window.partitionBy("shard").orderBy("bucket")
    val offsets = counts
      .withColumn("boff", sum("cnt").over(wS) - col("cnt"))
      .select("shard", "bucket", "boff")
    val wB = Window.partitionBy("shard", "bucket").orderBy("h", "doc_id")
    base.join(broadcast(offsets), Seq("shard", "bucket"))
      .withColumn("pos", col("boff") + row_number().over(wB))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")
  }

  /** t19_cooccurrence — corpus-wide windowed word co-occurrence: every
    * unordered token pair within `window` positions, counted and
    * ranked — the statistics pass PMI embeddings / collocation mining
    * start from. One window pass computes all `window` lead columns
    * (single shuffle on doc_id), an array explode stacks them — no
    * per-offset re-scan — and the (word_a, word_b) count is a partial
    * agg (hot pairs collapse map-side before the shuffle). The top-N
    * plans as TakeOrderedAndProject: per-partition heaps, no global
    * sort. Total order (count desc, word_a, word_b) makes the cut
    * deterministic in both engines. */
  def cooccurrence(documents: DataFrame, window: Int = 3, topN: Int = 20): DataFrame = {
    val toks = graft.Scans.spreadIfNarrow(documents, col("doc_id"))
      .select(col("doc_id"),
        posexplode(lowerWords(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    toks
      .select(col("tok") +: (1 to window).map(o => lead("tok", o).over(w).as(s"l$o")): _*)
      .select(col("tok"),
        explode(array((1 to window).map(o => col(s"l$o")): _*)).as("nbr"))
      .filter(col("nbr").isNotNull)
      .select(least(col("tok"), col("nbr")).as("word_a"),
        greatest(col("tok"), col("nbr")).as("word_b"))
      .groupBy("word_a", "word_b").agg(count(lit(1)).as("n_cooc"))
      .orderBy(col("n_cooc").desc, col("word_a"), col("word_b"))
      .limit(topN)
  }

  /** t21_source_drift — per-source token-distribution drift vs the
    * corpus-wide distribution: the monitoring pass that tells a
    * training-mix owner a source's content has shifted (crawl rot, a
    * site redesign, an injected spam campaign) before it poisons the
    * mix. Over the corpus's global top-`topK` tokens, each source gets
    * the L1 distance between its token frequencies and the corpus's,
    * plus its most over-represented token (the "what changed" pointer).
    *
    * Determinism protocol: a float sum of per-token |p_s - p| terms is
    * aggregation-order-dependent, so the distance is computed on exact
    * INTEGER cross-products instead — |c_s·T - c·T_s| summed as longs
    * (exact in both engines), divided once by T_s·T at the end (a
    * single IEEE op on exact-long-derived doubles). The argmax token
    * uses the same integer ordering with a token tiebreak. Long-range
    * bound: c_s·T needs corpus tokens × source tokens < 2^63 — fine to
    * ~3e9 total tokens; past that, scale counts to per-million before
    * the products (the report is a ratio, unchanged).
    *
    * Scale shape: one explode → per-(source, token) partial-agg count;
    * everything after operates on that aggregate (vocab-sized, not
    * corpus-sized); the top-K table and one-row total broadcast. */
  def sourceDrift(documents: DataFrame, topK: Int = 50): DataFrame = {
    val tok = Scans.spreadIfNarrow(documents, col("doc_id"))
      .select(col("source"), explode(lowerWords(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    // tracked: the (source, token) counts feed the global top-K, the
    // per-source totals, the grand total AND the probe join
    val cnt = graft.Caches.tracked(
      tok.groupBy("source", "tok").agg(count(lit(1)).as("c")))
    val tot = cnt.groupBy("tok").agg(sum("c").as("c_all"))
    val topk = tot.orderBy(col("c_all").desc, col("tok")).limit(topK)
    val st = cnt.groupBy("source").agg(sum("c").as("t_s"))
    val g = cnt.agg(sum("c").as("t"))
    val pairs = st.crossJoin(broadcast(topk))
      .join(cnt, Seq("source", "tok"), "left")
      .crossJoin(broadcast(g))
      .withColumn("signed",
        coalesce(col("c"), lit(0L)) * col("t") - col("c_all") * col("t_s"))
    val w = Window.partitionBy("source").orderBy(col("signed").desc, col("tok"))
    pairs
      .withColumn("rn", row_number().over(w))
      .groupBy("source")
      .agg(
        max(col("t_s")).as("src_tokens"),
        stableRound(sum(abs(col("signed"))).cast("double") /
          (max(col("t_s")).cast("double") * max(col("t")).cast("double")), 4)
          .as("drift_l1"),
        max(when(col("rn") === 1, col("tok"))).as("top_over_token"))
      .orderBy("source")
  }

  /** Every span after its fingerprint's first corpus occurrence (min
    * (doc_id, spos)), as (doc_id, spos, h, rn) rows: the drop set of the
    * t17 and t20 scrubs. `hashFn` fingerprints each doc's lowercase
    * words into positional span hashes (`graft_span_pos_hashes` for
    * t17's grid, `graft_rolling_span_hashes` for t20's windows). The
    * rank costs one shuffle of (doc_id, spos, 8-byte hash) triples
    * keyed on the hash. */
  private def laterSpans(documents: DataFrame, hashFn: String,
                         spanTokens: Int): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    Scans.spreadIfNarrow(documents, col("doc_id"))
      .withColumn("toks", lowerWords(col("text")))
      .select(col("doc_id"),
        posexplode(expr(s"$hashFn(toks, $spanTokens)")).as(Seq("spos", "h")))
      .withColumn("rn", row_number().over(Window.partitionBy("h").orderBy("doc_id", "spos")))
      .filter(col("rn") > 1)
  }

  /** t20_rolling_scrub — SHIFT-INVARIANT exact-substring dedup (the
    * t17 apply step without its span-grid blind spot): t17 fingerprints
    * a fixed non-overlapping grid, so a duplicated passage offset by
    * even one token from a grid boundary is invisible — and real
    * boilerplate almost never lands grid-aligned. Here EVERY
    * overlapping `spanTokens`-token window is fingerprinted
    * (graft_rolling_span_hashes — one compiled pass, stride 1); for
    * each fingerprint the first corpus occurrence (min (doc_id, pos))
    * is kept, and the DROP MASK is the interval union of every later
    * occurrence's [pos, pos+spanTokens-1] token range — overlapping
    * duplicate windows merge into one scrubbed region (the greedy-merge
    * form of Lee et al.'s suffix-array dedup that stays relational).
    * A duplicated passage of length L ≥ spanTokens is caught at ANY
    * offset, because all of its L-spanTokens+1 interior windows match.
    *
    * Scale shape: rolling windows emit ~n_tokens hashes per doc —
    * spanTokens× more span rows than t17's grid — but each is only a
    * (doc_id, int, 8-byte hash) triple; the first-occurrence rank
    * shuffles those triples on the hash, the per-doc mask (int
    * positions) joins back on doc_id, and document text still crosses
    * exactly ONE exchange (the mask join). That linear-in-tokens
    * factor is the honest price of shift invariance; the suffix-array
    * alternative is super-linear to distribute at all. */
  def rollingScrub(documents: DataFrame, spanTokens: Int = 10): DataFrame = {
    // later occurrences contribute their token range to the doc's drop
    // mask, deduplicated/merged by the set union
    val drops = laterSpans(documents, "graft_rolling_span_hashes", spanTokens)
      .groupBy("doc_id")
      .agg(array_sort(array_distinct(flatten(collect_list(
        sequence(col("spos"), col("spos") + lit(spanTokens - 1)))))).as("drop_pos"))
    documents
      .join(drops, Seq("doc_id"), "left")
      .withColumn("toks", lowerWords(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("drop_pos")), lit(0)).cast("long").as("n_dropped_tokens"),
        array_join(
          filter(col("toks"), (_, j) =>
            !coalesce(array_contains(col("drop_pos"), j), lit(false))),
          " ").as("clean_text"))
      .orderBy("doc_id")
  }

  /** t17_span_scrub — the APPLY step of exact-substring dedup (Lee et
    * al., "Deduplicating Training Data Makes Language Models Better"):
    * where t11 only REPORTS span-level duplication, this materializes
    * the scrubbed corpus. Every non-overlapping `spanTokens`-token span
    * is fingerprinted positionally (graft_span_pos_hashes — one
    * compiled loop per doc); for each fingerprint the FIRST corpus
    * occurrence (min (doc_id, span_pos)) is kept and every later
    * occurrence is dropped, including repeats inside one doc; the
    * trailing <spanTokens tail is always kept. clean_text is the doc's
    * surviving tokens (lowercased / whitespace-normalized — the span
    * unit) rejoined.
    *
    * Scale shape: the first-occurrence ranking shuffles only
    * (doc_id, pos, 8-byte hash) triples on the hash; per-doc drop
    * masks (arrays of int positions) join back to the corpus on
    * doc_id, so document text crosses exactly one exchange — the one
    * any rewrite-the-corpus op needs to co-locate mask and text. */
  def spanScrub(documents: DataFrame, spanTokens: Int = 10): DataFrame = {
    val drops = laterSpans(documents, "graft_span_pos_hashes", spanTokens)
      .groupBy("doc_id").agg(collect_set("spos").as("drop_pos"))
    documents
      .join(drops, Seq("doc_id"), "left")
      .withColumn("toks", lowerWords(col("text")))
      .withColumn("n_spans", expr(s"size(toks) div $spanTokens"))
      .select(
        col("doc_id"), col("n_spans"),
        coalesce(size(col("drop_pos")), lit(0)).cast("long").as("n_dropped"),
        array_join(
          filter(col("toks"), (t, j) =>
            j >= col("n_spans") * spanTokens ||
              !coalesce(array_contains(col("drop_pos"), floor(j / spanTokens).cast("int")), lit(false))),
          " ").as("clean_text"))
      .orderBy("doc_id")
  }

  /** t22_hash_embed — MODEL-FREE document embeddings via signed
    * feature hashing (the hashing trick): each doc's token array maps
    * to a dense L2-normalized `dim`-float vector in one compiled
    * `graft_hash_embed` pass. This is the bridge between the text
    * stack and the ANN stack when no neural encoder is in the loop (or
    * before one runs): the output is exactly the `embeddings` table
    * shape, so d05/d06 near-dup, a01–a14 search/index/classify, and
    * a06 outlier scoring all run on raw text corpora unchanged.
    * Cosine between hashed vectors estimates token-multiset cosine
    * (signed collisions cancel in expectation; raise `dim` to tighten).
    *
    * Scale posture: scan-speed map-side work — no explode, no shuffle
    * (the output sort is presentational), no training state, and the
    * vector is dim·4 bytes regardless of doc length, so the op is the
    * cheapest whole-corpus pass in the inventory. Rows-only: float
    * vectors and XXH64 are not ANSI-SQL-expressible; the spec matches
    * a hand-built vector float-for-float against Spark's own xxhash64
    * and pins the near-dup-ranking property. */
  def hashEmbed(documents: DataFrame, dim: Int = 64, seed: Long = 42L): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    documents
      .select(col("doc_id"),
        call_function("graft_hash_embed", lowerWords(col("text")), lit(dim), lit(seed))
          .as("embedding"))
      .orderBy("doc_id")
  }

  /** t27_weighted_sample — weight-proportional Bernoulli (Poisson)
    * sampling, the primitive behind quality-weighted corpus selection
    * ("sample documents with probability ∝ score"): each doc is kept
    * independently with p = min(1, rate·n·w/Σw), so the expected
    * sample size is rate·n (less the mass clipped at p = 1) and
    * high-weight docs are proportionally favored. The coin is the
    * same deterministic Knuth-LCG scramble as t15/t16/t23, so the
    * sample is reproducible across engines and runs — the property a
    * training pipeline needs to re-materialize the exact same corpus
    * cut. Weight here = n_chars (stand-in for a model quality score;
    * any positive column composes, e.g. t02's score).
    *
    * Scale posture: one broadcast single-row aggregate (n, Σw), then a
    * scan-speed map+filter — no shuffle, no state, no per-group
    * buffers; the 100 TB plan is the parquet scan itself. p is a
    * fixed parenthesization of IEEE ops over exact integer inputs, so
    * the kept set and the emitted p are bit-equal cross-engine. */
  def weightedSample(documents: DataFrame, rate: Double = 0.3): DataFrame = {
    require(rate > 0 && rate <= 1.0, s"weightedSample: rate in (0,1], got $rate")
    val tot = documents.agg(
      count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_w"))
    val p = least(lit(1.0),
      lit(rate) * col("n_docs").cast("double") * col("n_chars").cast("double")
        / col("sum_w").cast("double"))
    documents.crossJoin(broadcast(tot))
      .filter(Num.keeps(col("doc_id"), p))
      .select(col("doc_id"), col("source"), col("n_chars"),
        stableRound(p, 6).as("p_keep"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // Full-text retrieval (BM25) — the keyword-search complement to the
  // embedding ANN family (a01–a19): eval-set decontamination by query
  // match, targeted corpus inspection, and hybrid (lexical+vector)
  // candidate generation all start from a BM25 top-k over the corpus.
  // ------------------------------------------------------------------

  /** (doc_id, term) rows of the lowercase words, one per occurrence,
    * spread once: the corpus side of t14, t24, t31 and the BM25
    * family. Only t14 keeps the "" term. */
  private def termsOf(documents: DataFrame, keepEmpty: Boolean = false): DataFrame = {
    val terms = Scans.spreadIfNarrow(documents, col("doc_id"))
      .select(col("doc_id"), explode(lowerWords(col("text"))).as("term"))
    if (keepEmpty) terms else terms.filter(col("term") =!= "")
  }

  /** The (doc_id, term, tf) term-frequency grain over [[termsOf]]. */
  private def termFreqs(documents: DataFrame, keepEmpty: Boolean = false): DataFrame =
    termsOf(documents, keepEmpty).groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** Deterministic corpus-derived query set for the t28/t29 inventory
    * rows: every `every`-th document (bounded to `maxQueries` ids so
    * the query count never scales with the corpus) contributes its
    * first `qTerms` DISTINCT terms in document order — a "more like
    * this" keyword query whose source doc should rank at or near the
    * top. Output grain: (query_id, term). */
  def sampleQueries(documents: DataFrame, every: Long = 97,
                    maxQueries: Int = 32, qTerms: Int = 4): DataFrame =
    documents
      .filter(col("doc_id") % every === 0 && col("doc_id") < every * maxQueries)
      .select(col("doc_id").as("query_id"),
        explode(slice(array_distinct(filter(
          lowerWords(col("text")), t => t =!= lit(""))),
          1, qTerms)).as("term"))

  /** The scoring tail shared by the live search and the index probe:
    * `cand` is the candidate relation at (query_id, doc_id, term, tf,
    * df, dl) grain, `stats` a single-row (n_docs, sum_dl) relation.
    * BM25 (Robertson/Lucene non-negative idf):
    *   idf(t)  = ln(1 + (N − df + 0.5)/(df + 0.5))
    *   s(q,d)  = Σ_t idf·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    * The per-term contributions are IEEE-deterministic per row; the
    * per-document sum folds them in SORTED TERM ORDER (array_sort +
    * aggregate) so the float total — and therefore the top-k cut —
    * is reproducible run to run regardless of aggregation order.
    * Ranking ties break by doc_id. Unsorted: the public searches sort
    * it, a21 fuses it as it is. */
  private def bm25Score(cand: DataFrame, stats: DataFrame, topK: Int,
                        k1: Double, b: Double): DataFrame = {
    val contrib = cand.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib", col("idf") * (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * col("dl").cast("double") / col("avgdl"))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    // ONE exchange serves both the (query, doc) aggregate and the
    // per-query rank window: hash-partitioning on query_id alone
    // satisfies the aggregate's clustering requirement (its keys are a
    // superset), so the explicit repartition replaces the aggregate's
    // own (query_id, doc_id) exchange AND the window's query_id
    // exchange — 2 Exchanges → 1. The per-pair candidate fan-in is
    // bounded by the query's term count, so the partial-aggregation
    // volume this forgoes is a ≤|q-terms| factor on an already
    // queries-proportional relation.
    contrib.repartition(col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_hit_terms"),
        aggregate(array_sort(collect_list(struct(col("term"), col("contrib")))),
          lit(0.0), (acc, x) => acc + x.getField("contrib")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_hit_terms"), stableRound(col("score"), 4).as("score"))
  }

  /** t28_bm25_search — BM25 top-k keyword retrieval over the corpus.
    * `queries` is a (query_id, term) relation (see [[sampleQueries]]).
    *
    * Plan shape (the 100 TB posture): ONE tokenize pass persisted at
    * (doc, term) tf grain feeds the document lengths, the corpus dfs
    * AND the candidate probe (the t14/t24 precedent). The query side
    * stays tiny by construction, so it BROADCASTS twice: first into
    * the vocabulary-grain df relation (→ a ≤|query-terms| qdf table),
    * then qdf broadcasts into the tf scan — the corpus never
    * hash-shuffles against the queries, and the candidate volume is
    * exactly the postings of the query terms. Only candidates join
    * doc lengths. Rows-only (ln is transcendental — SURVEY §5); the
    * spec pins a hand-computed twin float-for-float and the
    * self-retrieval property. */
  def bm25Search(documents: DataFrame, queries: DataFrame, topK: Int = 10,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tf = graft.Caches.tracked(termFreqs(documents))
    val dls = graft.Caches.tracked(
      tf.groupBy("doc_id").agg(sum("tf").as("dl")))
    val stats = dls.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val dfs = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qt = queries.select("query_id", "term").distinct()
    // query terms absent from the corpus have no postings and
    // contribute 0 — the inner joins drop them, semantics unchanged
    val qdf = dfs.join(broadcast(qt), Seq("term"))
    val cand = tf.join(broadcast(qdf), Seq("term"))
      .join(dls, Seq("doc_id"))
      .select("query_id", "doc_id", "term", "tf", "df", "dl")
    bm25Score(cand, stats, topK, k1, b).orderBy("query_id", "rank")
  }

  /** sink_text_index — PERSIST the corpus half of t28's derivation
    * (the writeContainmentIndex recipe for the retrieval regime):
    * one tokenize pass writes four relations under `path` —
    * `postings/` (bkt, term, doc_id, tf — the candidate side,
    * partitioned by term-hash bucket so a probe's query terms prune
    * to their directories), `dfs/` (bkt, term, df — the per-term
    * document frequency, same pruning), `doclens/` (doc_id, dl) and
    * `stats/` (n_docs, sum_dl), plus `meta/` (the bucket modulus — a
    * probe must hash with the sink's exact modulus). Appends
    * (batchId) land under the [[Sources.writeBatch]] protocol;
    * per-batch partial dfs and stats fold with one sum at probe
    * time, so append order can never change a score. CONTRACT:
    * appended doc batches must be DISJOINT in doc_id — a re-ingested
    * doc would double-count its df/dl and fan out the doclens join
    * (the admission loops s26/s14 guarantee this by construction).
    * Without batchId every call seeds; with one, only a path without
    * `meta/` seeds. */
  def writeTextIndex(corpus: DataFrame, path: String, nBuckets: Int = 64,
                     batchId: Option[Long] = None): Unit = {
    val spark = corpus.sparkSession
    // an APPEND must hash with the modulus the index was seeded with —
    // and ONLY a genuinely absent meta/ means "seeding call": a read
    // error on an existing meta must propagate, or this batch's
    // postings/dfs would hash into wrong buckets and the probe's
    // bucket pruning would silently miss them
    val seeding = batchId.isEmpty || !graft.Fs.exists(spark, path + "/meta")
    val effBuckets =
      if (seeding) nBuckets
      else bucketsOf(spark, path).toInt
    val tf = graft.Caches.tracked(
      termFreqs(corpus).withColumn("bkt",
        pmod(xxhash64(col("term")), lit(effBuckets.toLong)).cast("int")))
    val dls = graft.Caches.tracked(tf.groupBy("doc_id").agg(sum("tf").as("dl")))
    val dfs = tf.groupBy("bkt", "term").agg(count(lit(1)).as("df"))
    val stats = dls.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    // the five relations are independent once tf/dls are cached —
    // issue the writes concurrently (graft.Par, the guide's overlap-
    // independent-jobs pattern) so each job back-fills the others'
    // scheduling/commit tails instead of paying 5 full job latencies.
    // meta/ is written only when seeding: a batch append would write
    // the same modulus again and invalidate every reader's memo of it
    val metaW: Seq[() => Unit] =
      if (!seeding) Nil
      else Seq(() => corpus.sparkSession.range(1)
        .select(lit(effBuckets).as("n_buckets"))
        .write.mode("overwrite").parquet(path + "/meta"))
    def land(df: DataFrame, sub: String, parts: String*): () => Unit =
      () => Sources.writeBatch(df, path + "/" + sub, batchId, seeding, parts: _*)
    graft.Par.jobs(metaW ++ Seq(
      land(tf.select("bkt", "term", "doc_id", "tf"), "postings", "bkt"),
      land(dfs, "dfs", "bkt"),
      land(dls, "doclens"),
      land(stats, "stats")): _*)
  }

  /** t29_bm25_probe_indexed — t28 against the SAVED index:
    * result-identical to `bm25Search(corpus, queries)` over the same
    * corpus, with ZERO corpus text reads. The query terms' bucket set
    * (driver-bounded ≤ |query terms|) statically prunes the dfs and
    * postings directories; dfs/stats fold across append partitions
    * with one sum; only candidate docs join `doclens/`.
    *
    * Serving path: the bucket modulus is memoized on `meta/`'s
    * listing, and the (query_id, term) batch is collected once and
    * routed on the driver: each term's bucket is the same Catalyst
    * `Pmod(XxHash64(term), nBuckets)` the index was written with,
    * evaluated on the driver; the matching dfs rows and the stats rows
    * fold on the driver with exact long sums; the term list rides next
    * to the bucket partition filter as a pushed scan filter. The batch
    * is held on the driver and inlined in the plan: a probe batch is
    * bounded by its caller. */
  def bm25SearchIndexed(queries: DataFrame, indexPath: String, topK: Int = 10,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25SearchIndexedUnsorted(queries, indexPath, topK, k1, b)
      .orderBy("query_id", "rank")

  /** [[bm25SearchIndexed]] without its final sort (a21 fuses it
    * unsorted). A null term matches no index term, so it is dropped. */
  private[graft] def bm25SearchIndexedUnsorted(queries: DataFrame, indexPath: String,
                                               topK: Int = 10, k1: Double = 1.2,
                                               b: Double = 0.75): DataFrame = {
    val spark = queries.sparkSession
    val batch = queries.select("query_id", "term")
    val nBuckets = bucketsOf(spark, indexPath)
    val termType = batch.schema("term").dataType
    val pairs = batch.collect().toSeq.filterNot(_.isNullAt(1)).distinct
    val terms = pairs.map(_.get(1)).distinct
    // partition columns read back as INT (directory-value inference);
    // the bucket literals are Ints too — a cast on the partition
    // column would defeat the directory pruning this layout exists for
    val bkts = terms.map(t => Pmod(new XxHash64(Seq(Literal.create(t, termType))),
      Literal(nBuckets)).eval().asInstanceOf[Long].toInt).distinct
    val inBatch = col("bkt").isin(bkts: _*) && col("term").isin(terms: _*)
    // exact long sums, null when nothing non-null is summed (SQL sum)
    def fold(vs: Seq[Any]): java.lang.Long =
      vs.filter(_ != null).map(_.asInstanceOf[Long]).reduceOption(_ + _)
        .map(java.lang.Long.valueOf).orNull
    val dfByTerm =
      if (terms.isEmpty) Map.empty[Any, java.lang.Long]
      else Sources.readParquet(spark, indexPath + "/dfs").filter(inBatch)
        .select("term", "df").collect().toSeq
        .groupBy(_.get(0)).map { case (t, rs) => t -> fold(rs.map(_.get(1))) }
    val qdf = spark.createDataFrame(pairs.collect {
      case r if dfByTerm.contains(r.get(1)) => Row(r.get(1), dfByTerm(r.get(1)), r.get(0))
    }.asJava, StructType(Seq(batch.schema("term"), StructField("df", LongType),
      batch.schema("query_id"))))
    val st = Sources.readParquet(spark, indexPath + "/stats")
      .select("n_docs", "sum_dl").collect().toSeq
    val stats = spark.createDataFrame(
      Seq(Row(fold(st.map(_.get(0))), fold(st.map(_.get(1))))).asJava,
      StructType(Seq(StructField("n_docs", LongType), StructField("sum_dl", LongType))))
    val cand = Sources.readParquet(spark, indexPath + "/postings")
      .filter(inBatch)
      .join(broadcast(qdf), Seq("term"))
      .join(Sources.readParquet(spark, indexPath + "/doclens"), Seq("doc_id"))
      .select("query_id", "doc_id", "term", "tf", "df", "dl")
    bm25Score(cand, stats, topK, k1, b)
  }

  /** The bucket modulus in a text index's `meta/`, memoized on
    * `meta/`'s listing: it is written when the index is seeded and
    * never by an append. */
  private val metaBuckets = new Sources.PathMemo[Long]

  private def bucketsOf(spark: org.apache.spark.sql.SparkSession, indexPath: String): Long = {
    val path = indexPath + "/meta"
    def read() = Sources.readParquet(spark, path).collect()(0).getAs[Number](0).longValue
    metaBuckets(spark, path)(read()).getOrElse(read())
  }

  /** t31_percolate — reverse search (the percolator pattern):
    * STANDING queries are stored as (query_id, term) sets and every
    * document is checked against all of them — the alerting /
    * routing primitive (notify when a doc matching this keyword set
    * arrives), the exact inverse of t28's ad-hoc search. A query
    * matches a document when at least ceil(minFrac · |query terms|)
    * of its DISTINCT terms appear in the document (default 1.0 =
    * every term present).
    *
    * Plan: one tokenize pass to distinct (doc, term) pairs, the tiny
    * standing-query relation broadcasts into it (t28's discipline —
    * the corpus never hash-shuffles against the queries), hit counts
    * partial-aggregate at (doc, query) grain, the per-query size
    * broadcasts for the threshold. Exact integer logic end to end →
    * full hash oracle (which also pins the sampleQueries derivation
    * cross-engine for the whole retrieval family). */
  def percolate(documents: DataFrame, queries: DataFrame,
                minFrac: Double = 1.0): DataFrame = {
    require(minFrac > 0 && minFrac <= 1.0,
      s"percolate: minFrac in (0,1], got $minFrac")
    val dterms = termsOf(documents).distinct()
    val qt = queries.select("query_id", "term").distinct()
    val qsize = qt.groupBy("query_id").agg(count(lit(1)).as("n_query_terms"))
    dterms.join(broadcast(qt), Seq("term"))
      .groupBy("doc_id", "query_id")
      .agg(count(lit(1)).as("n_hit_terms"))
      .join(broadcast(qsize), Seq("query_id"))
      .filter(col("n_hit_terms") >=
        ceil(lit(minFrac) * col("n_query_terms") - lit(1e-9)))
      .select(col("doc_id"), col("query_id"),
        col("n_hit_terms"), col("n_query_terms"))
      .orderBy("doc_id", "query_id")
  }

  /** t30_chunk_split — fixed-token chunking with overlap (the RAG /
    * context-window splitting primitive, t10 seqPack's inverse): each
    * document's whitespace tokens split into `chunkTokens`-token
    * windows advancing by `chunkTokens − overlap`, the last chunk
    * keeping the tail remainder; a doc at or under one window emits
    * exactly one chunk. chunk_text is the token slice re-joined with
    * single spaces (normalized whitespace — the tokenizer's inverse),
    * so downstream embedding/dedup stages consume a canonical form.
    * Scale: scan-speed narrow generate (split → sequence → explode →
    * slice), no shuffle before the presentational sort; exact string
    * and integer arithmetic end to end → full hash oracle. */
  def chunkSplit(documents: DataFrame, chunkTokens: Int = 64,
                 overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"chunkSplit: need 0 <= overlap < chunkTokens, got $overlap/$chunkTokens")
    val stride = chunkTokens - overlap
    documents
      .withColumn("toks", filter(wsTokens(col("text")), t => t =!= lit("")))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .filter(col("n_toks") > 0)
      .withColumn("n_chunks", when(col("n_toks") <= chunkTokens, lit(1L))
        .otherwise(lit(1L) + floor(
          (col("n_toks") - lit(chunkTokens) + lit(stride - 1))
            / lit(stride.toDouble)).cast("long")))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("n_chunks") - 1)))
      .withColumn("start_tok", col("chunk_id") * stride)
      .withColumn("chunk_toks",
        slice(col("toks"), (col("start_tok") + 1).cast("int"), lit(chunkTokens)))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("chunk_toks")).cast("long").as("n_chunk_toks"),
        array_join(col("chunk_toks"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** t32_rake_keyphrases — RAKE keyword extraction (Rose et al. 2010,
    * the model-free keyphrase baseline): candidate phrases are the
    * maximal stopword-free token runs of each document; every word
    * accumulates CORPUS-level degree (Σ length of the phrase
    * instances containing it — co-occurrence mass) and frequency
    * (instance count), word score = degree/freq, and a phrase scores
    * the sum of its member word scores. Each document reports its
    * top-k phrases.
    *
    * Determinism protocol: degree/freq are exact integers; the phrase
    * score folds its members' IEEE ratios in SORTED member order (the
    * t28 sorted-fold — an unordered float sum would be
    * partition-order-dependent), the oracle's ordered-aggregate `sum(x
    * ORDER BY w)` runs the same sequence, and ranking uses the
    * ROUNDED score (raw near-ties would rank differently across
    * engines below the rounding grain) with a phrase-string
    * tiebreak → full hash oracle.
    *
    * Scale: one explode pass; phrase segmentation is a per-doc prefix
    * sum (bounded by doc length — the q53 window posture); word stats
    * aggregate with map-side combine at vocabulary grain; the score
    * join carries only (phrase instance, word) rows. */
  def rakeKeyphrases(documents: DataFrame,
                     stopwords: Seq[String] = defaultStopwords,
                     topK: Int = 3): DataFrame = {
    val toks = wordPositions(documents)
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val seg = toks
      .withColumn("is_stop", isStopword(col("w"), stopwords))
      .withColumn("phrase_id",
        sum(when(col("is_stop"), 1L).otherwise(0L)).over(wDoc))
      .filter(!col("is_stop"))
    val phrases = graft.Caches.tracked(seg.groupBy("doc_id", "phrase_id")
      .agg(expr("transform(array_sort(collect_list(struct(pos, w))), x -> x.w)")
        .as("words"))
      .withColumn("phrase", array_join(col("words"), " "))
      .withColumn("len", size(col("words")).cast("long")))
    val stats = phrases.select(explode(col("words")).as("w"), col("len"))
      .groupBy("w").agg(count(lit(1)).as("freq"), sum("len").as("degree"))
    val scored = phrases
      .select(col("doc_id"), col("phrase_id"), col("phrase"),
        explode(col("words")).as("w"))
      .join(stats, "w")
      .groupBy("doc_id", "phrase_id", "phrase")
      .agg(expr("aggregate(array_sort(collect_list(struct(w, degree, freq))), " +
        "CAST(0 AS DOUBLE), (acc, x) -> " +
        "acc + CAST(x.degree AS DOUBLE) / CAST(x.freq AS DOUBLE))").as("raw"))
      .withColumn("score", stableRound(col("raw"), 4))
    val wTop = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("phrase"))
    scored.withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= topK)
      .select(col("doc_id"), col("rnk"), col("phrase"), col("score"))
      .orderBy("doc_id", "rnk")
  }

  /** (doc_id, pos, w) rows of each doc's lowercase words, "" kept,
    * spread once: the token stream t32 segments and t33 links. */
  private def wordPositions(documents: DataFrame): DataFrame =
    Scans.spreadIfNarrow(documents, col("doc_id"))
      .withColumn("toks", lowerWords(col("text")))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "w")))

  /** t34_kwic — keyword-in-context concordance (the corpus
    * linguist's read, and the snippet generator behind the retrieval
    * tier: every occurrence of a watched term with its ±window token
    * context — what t28's result page shows under each hit). Terms
    * default to the corpus's top-`nTerms` non-stopword words derived
    * with t06's rank protocol (count desc, word tiebreak), so the
    * operator is self-contained and the oracle replays the same
    * derivation.
    *
    * Scale: one tokenize + posexplode pass; the term list broadcasts
    * (it is top-N by construction); context slices are doc-local
    * array ops — no shuffle beyond the derivation's vocabulary-grain
    * aggregate. Exact string/integer arithmetic → full hash oracle. */
  def kwic(documents: DataFrame, terms: Option[Seq[String]] = None,
           window: Int = 3, nTerms: Int = 3,
           stopwords: Seq[String] = defaultStopwords): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val withToks = Scans.spreadIfNarrow(documents, col("doc_id"))
      .withColumn("toks", lowerWords(col("text")))
      .select(col("doc_id"), col("toks"))
    val termDf = terms match {
      case Some(ts) => ts.toDF("term")
      case None =>
        withToks.select(explode(col("toks")).as("term"))
          .filter(!isStopword(col("term"), stopwords) && col("term") =!= "")
          .groupBy("term").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term")).limit(nTerms)
          .select("term")
    }
    withToks
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .join(broadcast(termDf), col("tok") === col("term"))
      .withColumn("p1", col("pos") + 1) // 1-based for slice
      .select(col("doc_id"), col("pos").cast("int").as("pos"), col("term"),
        array_join(slice(col("toks"), greatest(col("p1") - window, lit(1)),
          col("p1") - greatest(col("p1") - window, lit(1))), " ").as("left_ctx"),
        array_join(slice(col("toks"), col("p1") + 1, lit(window)), " ").as("right_ctx"))
      .orderBy("doc_id", "pos", "term")
  }

  /** t33_textrank — TextRank keyword extraction (Mihalcea & Tarau
    * 2004): per document, content words (non-stopwords) form an
    * undirected co-occurrence graph over ADJACENT kept tokens, and
    * PageRank-style power iteration scores centrality —
    * score'(w) = (1−d) + d·Σ_{v∈adj(w)} score(v)/deg(v) — the graph
    * counterpart to RAKE's frequency ratios (a word bridging many
    * contexts outranks a merely frequent one). Top-k words per doc.
    *
    * Determinism: every per-node neighbor sum folds in SORTED neighbor
    * order (the t28 sorted-fold — neighbor words are unique per node,
    * so the fold order is total), ranking uses the ROUNDED score with
    * a word tiebreak; the spec's Scala twin replays the identical IEEE
    * sequence float-for-float. Rows-only (iterative float scoring is
    * not SQL-expressible at matching op order).
    *
    * Scale: the graph is DOC-LOCAL — the contribution matrix is
    * block-diagonal by doc — so the iteration does not belong at the
    * distributed round grain at all: one exchange groups each doc's
    * adjacency rows, then ALL rounds run as a local per-doc loop
    * inside `flatMapGroups` (the r17 shape paid 10 corpus-wide
    * shuffle rounds with an eager materialization each — 9% of the
    * whole bench suite; this is ONE shuffle of the edge relation and
    * pure narrow compute, and was measured 5× faster at sf0.1).
    * Per-doc state is bounded by the doc's own vocabulary, the same
    * envelope every per-doc operator in this file carries; skew is
    * bounded by max doc length. Words with no within-doc edge carry
    * no rank (they have no graph evidence) and are absent, as are
    * all-stopword docs.
    *
    * Convergence early-exit (per doc, free inside the local loop):
    * every `checkEvery` rounds, a doc whose L1 score delta ‖Δ_t‖₁ <
    * `tol` stops iterating. Sound by the contraction bound: the
    * per-doc contribution matrix is column-stochastic, so
    * ‖Δ_{t+i}‖₁ ≤ d^i·‖Δ_t‖₁ and any single score's total future
    * movement is < tol·d/(1−d) ≈ 5.7·tol — at the default 5e-6 that
    * is under half the 4-dp output grain. Deterministic: the local
    * loop folds neighbor contributions AND the L1 delta in sorted
    * word order and compares exact IEEE doubles — the spec's Scala
    * twin replicates the whole sequence, stop decisions included,
    * float-for-float. `tol = 0` disables the exit (fixed-count
    * mode). */
  def textrankKeywords(documents: DataFrame,
                       stopwords: Seq[String] = defaultStopwords,
                       topK: Int = 5, iterations: Int = 10,
                       damping: Double = 0.85,
                       tol: Double = 5e-6, checkEvery: Int = 2): DataFrame = {
    val toks = wordPositions(documents)
      .filter(!isStopword(col("w"), stopwords) && col("w") =!= "")
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val hops = toks
      .withColumn("nxt", lead("w", 1).over(wDoc))
      .filter(col("nxt").isNotNull && col("nxt") =!= col("w"))
    val und = hops.select(col("doc_id"), col("w").as("a"), col("nxt").as("b"))
      .unionByName(hops.select(col("doc_id"), col("nxt").as("a"), col("w").as("b")))
      .distinct()
    val deg = und.groupBy("doc_id", "a").agg(count(lit(1)).as("deg"))
    // adjacency with the NEIGHBOR's degree attached: contribution of v
    // to w is score(v)/deg(v). Consumed exactly once (the single
    // group-shuffle below), so no caching.
    val adj = und.select(col("doc_id"), col("a").as("w"), col("b").as("v"))
      .join(deg.select(col("doc_id"), col("a").as("v"), col("deg")),
        Seq("doc_id", "v"))
    val spark = documents.sparkSession
    import spark.implicits._
    val (dmp, tl, maxIt, chk) = (damping, tol, iterations, checkEvery)
    val scores = adj
      .select(col("doc_id"), col("w"), col("v"), col("deg"))
      .as[(Long, String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (docId, rows) =>
        val es = rows.toArray
        // neighbors in sorted order (the fold order), degree by node
        val nbrs = es.groupBy(_._2).map { case (w, a) =>
          w -> a.map(_._3).sorted }
        val degOf = es.map(r => r._3 -> r._4).toMap
        var score = nbrs.keys.map(_ -> 1.0).toMap
        var it = 0
        var stopped = false
        while (it < maxIt && !stopped) {
          it += 1
          val prev = score
          score = nbrs.map { case (w, ns) =>
            var acc = 0.0
            ns.foreach(v => acc += prev(v) / degOf(v).toDouble)
            w -> ((1 - dmp) + dmp * acc)
          }
          if (tl > 0 && it % chk == 0 && it < maxIt) {
            var l1 = 0.0
            score.keys.toSeq.sorted.foreach(w =>
              l1 += math.abs(score(w) - prev(w)))
            stopped = l1 < tl
          }
        }
        score.iterator.map { case (w, sc) =>
          (docId, w, math.floor(sc * 1e4 + 0.5) / 1e4) }
      }
      .toDF("doc_id", "w", "score")
    val wTop = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("w"))
    scores
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= topK)
      .select(col("doc_id"), col("rnk"), col("w").as("word"), col("score"))
      .orderBy("doc_id", "rnk")
  }

  /** t36_boilerplate_scrub — corpus-level boilerplate LINE removal
    * (the C4/RefinedWeb recipe the per-doc scrubs can't express):
    * a line recurring across ≥ `minDocs` documents OF THE SAME SOURCE
    * (site headers, cookie banners, footer terms) is boilerplate and
    * strips from every doc, while unique content lines survive —
    * membership is corpus evidence, not pattern matching, so it
    * catches site-specific chrome no regex list knows. One
    * lines-explode pass; the document-frequency aggregate runs at
    * (source, trimmed-line) grain — the only thing shuffled is the
    * line text once per (doc, line), and reassembly sorts each doc's
    * kept lines by position (unique per doc → deterministic). Lines
    * shorter than `minChars` after trim never count as candidates
    * (they'd make empty/short lines "boilerplate" and shred
    * formatting) but are preserved in the output. All string/integer
    * arithmetic → full hash oracle. */
  def boilerplateScrub(documents: DataFrame, minDocs: Long = 3L,
                       minChars: Int = 5): DataFrame = {
    val lines = documents.select(col("doc_id"), col("source"),
      posexplode(split(col("text"), "\n", -1)).as(Seq("pos", "line")))
    val boiler = lines
      .filter(length(trim(col("line"))) >= minChars)
      .select(col("source"), trim(col("line")).as("bkey"), col("doc_id"))
      .distinct()
      .groupBy("source", "bkey").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("source"), col("bkey"))
    lines
      .join(boiler, lines("source") === boiler("source") &&
        trim(lines("line")) === boiler("bkey"), "left_outer")
      .select(col("doc_id"), col("pos"), col("line"),
        col("bkey").isNotNull.as("is_boiler"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler_lines"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN NOT is_boiler " +
            "THEN struct(pos, line) END)), x -> x.line)"), "\n").as("clean_text"))
      .orderBy("doc_id")
  }

  /** t35_code_detect — code-vs-prose routing, the curation gate that
    * keeps source code out of prose mixtures (and finds it for code
    * pipelines): two exact integer signals per doc — code-symbol
    * occurrences ({};()=<>[]#, counted by the langId length-replace
    * recipe: one scan per marker, no tokenize, no regex engine
    * semantics to match cross-engine) and padded code-keyword hits
    * (" def ", "#include", "=>", "&&", …) — thresholded into a
    * verdict. The symbol DENSITY routes (symbols per 1000 chars,
    * rounded at 4dp, and the verdict compares the SAME rounded value
    * the row displays — the m11 threshold-margin lesson); keyword
    * count is the OR-side for short snippets whose density hasn't
    * converged. One narrow projection-only pass, no shuffle at all
    * until the caller aggregates — at 100 TB this is a free rider on
    * any existing scan of `text`. Exact protocol: counts are
    * integers, the one division is integer/integer in double on both
    * engines → full hash oracle. */
  def codeDetect(documents: DataFrame, symPerKchar: Double = 30.0,
                 minKeywords: Int = 2): DataFrame = {
    val t = col("text")
    val symbols = Seq("{", "}", ";", "(", ")", "=", "<", ">", "[", "]", "#")
    val nSym = symbols.map(s =>
      length(t) - length(replace(t, lit(s), lit("")))).reduce(_ + _)
    val padded = concat(lit(" "), t, lit(" "))
    val keywords = Seq(" def ", " return ", " import ", " void ",
      " function ", "#include", " class ", "=>", "&&", "||", "();")
    val nKw = keywords.map(k =>
      ((length(padded) - length(replace(padded, lit(k), lit("")))) / k.length)
        .cast("long")) // diff is an exact multiple of the marker length
      .reduce(_ + _)
    documents
      .select(col("doc_id"), length(t).as("n_chars"),
        nSym.as("n_symbols"), nKw.as("n_keywords"))
      .withColumn("sym_per_kchar", stableRound(
        col("n_symbols") * lit(1000.0) / col("n_chars").cast("double"), 4))
      .withColumn("verdict",
        when(col("sym_per_kchar") >= symPerKchar ||
          col("n_keywords") >= minKeywords, "code").otherwise("prose"))
      .orderBy("doc_id")
  }
}
