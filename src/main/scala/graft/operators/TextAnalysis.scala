package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.CacheScope
import graft.functions.TextHash

/** Text-analysis operators for the training-data pipeline (SURVEY.md
  * §2.11): language-ID heuristic, quality scoring, token statistics,
  * and rolling-hash document fingerprinting, all over the `documents`
  * table.
  *
  * Everything is built from codegen'd built-ins (split / filter /
  * explode / regexp) plus the portable folds of [[TextHash]] — no UDFs.
  * Per-document computations are narrow; the only shuffles are the
  * final small aggregations (language matrix, term counts). Cross-row
  * floating aggregation is avoided on purpose: every double in an
  * output is a single division of exactly-computed integers, so results
  * hash-match an external oracle regardless of partitioning.
  */
object TextAnalysis {

  private val markerSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "et", "est", "une"))

  /** q23's stopwords: the quality band's stopword ratio and the
    * length-bias curve count these tokens. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "is", "to", "in")

  /** Marker-token language-ID heuristic: count stopword hits per
    * language profile, predict the argmax (deterministic preference
    * order on ties), 'und' when no marker hits at all. Output is the
    * (actual, predicted) confusion matrix with exact token totals. */
  def langIdMatrix(docs: DataFrame, textCol: String, langCol: String)
      : DataFrame = {
    val scored = docs
      .select(col(langCol).as("lang"),
        TextHash.tokens(lower(col(textCol))).as("w"))
      .select(col("lang") +: size(col("w")).as("n_tokens") +:
        markerSets.map { case (l, ms) =>
          TextHash.markerCountOf(col("w"), ms).as(s"c_$l")
        }: _*)
    val Seq(en, es, de, fr) = markerSets.map(m => col(s"c_${m._1}"))
    val pred = scored.withColumn("lang_pred", langPred(en, es, de, fr))
    val markers = en + es + de + fr
    pred.groupBy(col("lang"), col("lang_pred"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(markers).cast("long").as("marker_tokens"),
        sum(col("n_tokens")).cast("long").as("total_tokens"))
      .withColumn("marker_ratio",
        col("marker_tokens").cast("double") / col("total_tokens"))
      .orderBy(col("lang"), col("lang_pred"))
  }

  /** The marker-count argmax with q22's deterministic tie preference
    * (en ≥ es ≥ de ≥ fr) and the no-marker 'und' bucket — shared by
    * the confusion matrix and the fertility readout so the language
    * decision cannot drift between them. NULL text (all marker counts
    * NULL) is 'und', not a language: without the explicit guard every
    * `when` condition evaluates NULL → skipped and the row silently
    * falls through to the `otherwise` bucket — a confidently wrong
    * answer both engines would agree on (the oracle CASE has the
    * identical fall-through, so parity testing can never catch it). */
  private def langPred(en: Column, es: Column, de: Column,
      fr: Column): Column =
    when(en.isNull, "und")
      .when(en === 0 && es === 0 && de === 0 && fr === 0, "und")
      .when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")

  /** TOKENIZER FERTILITY BY LANGUAGE — the per-language cost readout
    * behind byte-budgeted corpus planning: bytes per (whitespace)
    * token and tokens per document, bucketed by PREDICTED language
    * (the q22 marker heuristic — shared [[langPred]], so the two
    * readouts can never disagree about a document's language). Real
    * tokenizers differ by language exactly this way (fertility —
    * tokens emitted per unit text — is the standard multilingual-cost
    * metric), so a byte-weighted mix translates to very different
    * token budgets per language; this is the conversion table.
    *
    * Scale shape: one row-local scoring pass (compiled marker counts,
    * byte length off the ORIGINAL text — lowering can change byte
    * counts under Unicode), one partial-aggregable groupBy over
    * ≤ |languages|+1 groups. Ratios guarded null on zero tokens (the
    * engine-portable division discipline). */
  def tokenFertility(docs: DataFrame, textCol: String,
      subwordMerges: Option[Seq[(String, String)]] = None): DataFrame = {
    // tokenizer seam (r15): None counts whitespace tokens (the
    // original contract — every existing caller/oracle unchanged);
    // Some(merges) counts greedy-BPE SUBWORDS under that merge table
    // (graft.functions.Bpe) — the fertility a token-budgeted pipeline
    // actually pays. Same row-local one-pass shape either way.
    def nTokens(w: Column): Column = subwordMerges match {
      case None => size(w).cast("long")
      case Some(m) =>
        graft.functions.Bpe.subwordCountOf(lower(trim(col(textCol))), m)
    }
    val scored = docs
      .select(octet_length(col(textCol)).cast("long").as("n_bytes"),
        nTokens(TextHash.tokens(lower(col(textCol)))).as("n_tokens"),
        TextHash.tokens(lower(col(textCol))).as("w"))
      .select(col("n_bytes") +: col("n_tokens") +:
        markerSets.map { case (l, ms) =>
          TextHash.markerCountOf(col("w"), ms).as(s"c_$l")
        }: _*)
    val Seq(en, es, de, fr) = markerSets.map(m => col(s"c_${m._1}"))
    scored.withColumn("lang", langPred(en, es, de, fr))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        sum(col("n_bytes")).as("total_bytes"))
      .select(col("lang"), col("n_docs"), col("total_tokens"),
        col("total_bytes"),
        when(col("total_tokens") > 0,
          col("total_bytes").cast("double") / col("total_tokens"))
          .as("bytes_per_token"),
        (col("total_tokens").cast("double") / col("n_docs"))
          .as("tokens_per_doc"))
      .orderBy(col("lang"))
  }

  /** BPE VOCABULARY TABLE — greedy-BPE subword segmentation of every
    * DISTINCT corpus word under a pinned merge table
    * ([[graft.functions.Bpe]]): per word, its corpus occurrence
    * count, char length, subword count, and the segmentation itself
    * (joined with '|' — an array column would hash-compare
    * engine-dependently). The per-word fertility table a tokenizer
    * rollout is judged by: which words fragment, which fuse, and how
    * much of the token budget each costs corpus-wide.
    *
    * Scale shape: ONE corpus pass folds the token stream to the
    * |vocab|-keyed count frame (partial-aggregated — per-task
    * combining means only distinct (word, count) partials cross the
    * exchange); the BPE fold then runs on |vocab| rows, NOT the
    * corpus — the classic per-distinct-word memoization (GPT-2's
    * `cache` dict) expressed as a plan shape. Everything after the
    * one groupBy touches ≤ |vocab| rows. */
  def bpeVocab(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    import graft.functions.Bpe
    docs.where(col(textCol).isNotNull)
      .select(explode(TextHash.tokens(lower(col(textCol)))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_occurrences"))
      .withColumn("subwords", Bpe.subwordsOf(col("word"), merges))
      .select(col("word"),
        col("n_occurrences"),
        length(col("word")).cast("long").as("n_chars"),
        size(col("subwords")).cast("long").as("n_subwords"),
        array_join(col("subwords"), "|").as("subword_str"))
      .orderBy(col("word"))
  }

  /** Per-document quality signals: char/token counts, mean token
    * length, stopword ratio, punctuation ratio, and a banded verdict —
    * the length/punct/stopword heuristics a pretraining filter runs
    * before anything model-based. All ratios are single divisions of
    * exact integers. */
  def qualityScores(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val base = docs.select(
      col(idCol).as("doc_id"),
      length(col(textCol)).as("n_chars"),
      TextHash.tokens(col(textCol)).as("w"),
      length(regexp_replace(col(textCol), "[a-zA-Z0-9\\s]", ""))
        .as("n_punct"))
    val m = base.select(
      col("doc_id"), col("n_chars"),
      size(col("w")).as("n_tokens"),
      TextHash.sumTokenLengthsOf(col("w")).as("sum_tok_len"),
      TextHash.markerCountOf(col("w"), stopwords).as("n_stop"),
      col("n_punct"))
    // zero-divisor guards: Spark's Divide yields null on /0 but DuckDB
    // yields inf/nan under IEEE semantics — an empty doc would silently
    // break the exact cross-engine compare. Pin null explicitly in both
    // engines (the oracle mirrors these CASE WHEN guards).
    val stopRatio = when(col("n_tokens") > 0,
      col("n_stop").cast("double") / col("n_tokens"))
    m.select(
      col("doc_id"), col("n_chars"), col("n_tokens"),
      when(col("n_tokens") > 0,
        col("sum_tok_len").cast("double") / col("n_tokens"))
        .as("avg_token_len"),
      stopRatio.as("stopword_ratio"),
      when(col("n_chars") > 0,
        col("n_punct").cast("double") / col("n_chars")).as("punct_ratio"),
      band(col("n_tokens"), col("n_stop")).as("quality_band"))
      .orderBy(col("doc_id"))
  }

  /** q23's quality band of one text, row-local: "high" with at least
    * 40 tokens and a stopword ratio of at least 0.05, "medium" with at
    * least 15 tokens, else "low" (also for NULL text). The quality gate
    * of the curation funnel and its streaming twin; [[qualityScores]]
    * reports the same band per document. */
  def qualityBand(text: Column): Column = {
    val w = TextHash.tokens(text)
    band(size(w), TextHash.markerCountOf(w, stopwords))
  }

  // the band from a document's token and stopword counts; the ratio is
  // only read at 40+ tokens, so it needs no zero-divisor guard
  private def band(nTokens: Column, nStop: Column): Column =
    when(nTokens >= 40 && nStop.cast("double") / nTokens >= 0.05, "high")
      .when(nTokens >= 15, "medium")
      .otherwise("low")

  /** Corpus term statistics under a BPE-ish regex tokenizer
    * (letter-runs | digit-runs | single punctuation): global occurrence
    * and document-frequency counts, top `limit` terms. Partial-
    * aggregable counts; the explode is the only row expansion.
    *
    * `exactDocFreq = false` switches document frequency to
    * `approx_count_distinct` (HyperLogLog++) — the 100 TB flag: an
    * exact distinct-doc set per hot token is the one memory hazard in
    * this aggregation, and HLL sketches are constant-size and
    * merge-friendly across partials. Default stays exact (the oracle
    * gate hash-compares counts). */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String,
      limit: Int = 50, exactDocFreq: Boolean = true): DataFrame = {
    val docFreq =
      if (exactDocFreq) countDistinct(col("doc_id"))
      else approx_count_distinct(col("doc_id"))
    docs
      .select(col(idCol).as("doc_id"),
        explode(expr(
          s"regexp_extract_all(lower($textCol), '([a-z]+|[0-9]+|[^a-z0-9\\\\s])', 1)"))
          .as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        docFreq.as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(limit)
  }

  /** Within-document repetition signals — the duplicate-text quality
    * filter of large-scale pretraining pipelines (the Gopher/
    * MassiveText-style "fraction of duplicate n-grams" rule): a
    * document whose 3-grams are mostly repeats of each other is
    * boilerplate/spam, whatever its length. Everything is row-local
    * over the compiled hash passes ([[graft.functions.TokenHashes]] /
    * [[graft.functions.ShingleHashes]] — the latter is already the
    * DISTINCT shingle set, so the dup-gram ratio is one size division):
    * no shuffle at any corpus size, O(chars) per document.
    *
    * Output per doc: token totals/distincts, 3-gram totals/distincts,
    * and the two ratios (null for docs too short to have the unit —
    * mirrored CASE guards in the oracle). */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        TextHash.tokenHashesOf(col(textCol)).as("wh"),
        TextHash.shingleHashesOf(col(textCol)).as("sh"))
      .select(col("doc_id"),
        size(col("wh")).as("n_tokens"),
        size(array_distinct(col("wh"))).as("n_distinct_tokens"),
        greatest(size(col("wh")) - 2, lit(0)).as("n_grams"),
        size(col("sh")).as("n_distinct_grams"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        col("n_grams"), col("n_distinct_grams"),
        dupRatio(col("n_tokens"), col("n_distinct_tokens"))
          .as("dup_token_ratio"),
        dupRatio(col("n_grams"), col("n_distinct_grams"))
          .as("dup_gram_ratio"))
      .orderBy(col("doc_id"))

  /** q35's dup-gram ratio of one text, row-local: the share of its word
    * 3-grams that repeat another, `1 - distinct/total`; NULL below 3
    * tokens. The repetition gate of the curation funnel and its
    * streaming twin; [[repetitionSignals]] reports the same ratio. */
  def dupGramRatio(text: Column): Column =
    dupRatio(size(TextHash.tokenHashesOf(text)) - 2,
      size(TextHash.shingleHashesOf(text)))

  // 1 - distinct/total, NULL when there is no unit to repeat
  private def dupRatio(total: Column, distinct: Column): Column =
    when(total > 0, lit(1.0) - distinct.cast("double") / total)

  /** Cross-corpus shingle commonness — the "is this document made of
    * text the corpus has seen a thousand times" signal (q35 measures
    * repetition WITHIN a doc; this measures it ACROSS the corpus:
    * boilerplate headers, license blocks, and template spam share
    * 3-grams corpus-wide long before they become exact duplicates).
    * Per doc: how many of its distinct 3-gram shingles occur in at
    * least `minDf` documents, and the common ratio.
    *
    * Scale shape: the per-doc distinct shingle set comes from the
    * compiled row-local [[TextHash.shingleHashesOf]] pass; the ONLY
    * shuffles are the document-frequency groupBy over 8-byte shingle
    * hashes and the equi-join back — both partial-aggregable /
    * hash-partitioned, no window, no driver state, the same shape as
    * q17's inverted index minus the pair blowup. Docs with < 3 tokens
    * have no shingle unit and are absent, like the oracle. */
  def shingleNovelty(docs: DataFrame, idCol: String, textCol: String,
      minDf: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(TextHash.shingleHashesOf(col(textCol))).as("hs"))
    // per-doc sets are distinct, so count(*) per shingle IS its df
    val df = sh.groupBy(col("hs")).agg(count(lit(1)).as("df"))
    sh.join(df, Seq("hs"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_shingles"), col("n_common"),
        (col("n_common").cast("double") / col("n_shingles"))
          .as("common_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Per-group corpus length profile: document counts, token totals,
    * and the token-count distribution (mean, min/max, and the
    * 25/50/75/87.5 percentiles) per `groupCol` — the distributional
    * snapshot a corpus team reads before setting length filters or
    * mixing weights.
    *
    * The percentile points are deliberately DYADIC (k/2^m): with
    * integer token counts, `p*(n-1)` then has a dyadic fractional part,
    * every term in the linear interpolation is exact in binary floating
    * point, and Spark's `percentile` and DuckDB's `quantile_cont` land
    * on bit-identical doubles — which is what lets q45 hash-verify a
    * continuous-quantile output. Non-dyadic points (0.9, 0.99) would
    * differ in the last ulp between engines.
    *
    * `exact = false` is the 100 TB flag, mirroring [[tokenStats]]'s
    * HLL switch: exact `percentile` buffers every value per group —
    * the one memory hazard here — while `approx_percentile`
    * (Greenwald-Khanna) is constant-size and merge-friendly across
    * partials. Default stays exact for the oracle gate. */
  def lengthProfile(docs: DataFrame, textCol: String, groupCol: String,
      exact: Boolean = true): DataFrame = {
    val qs = "array(0.25D, 0.5D, 0.75D, 0.875D)"
    val pct = if (exact) s"percentile(n_tokens, $qs)"
              else s"approx_percentile(n_tokens, $qs)"
    docs
      .select(col(groupCol).as("__g"),
        size(TextHash.tokenHashesOf(col(textCol))).as("n_tokens"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        avg(col("n_tokens")).as("mean_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        expr(pct).as("__pt"))
      .select(col("__g").as(groupCol), col("n_docs"), col("total_tokens"),
        col("mean_tokens"), col("min_tokens"), col("max_tokens"),
        element_at(col("__pt"), 1).cast("double").as("p25_tokens"),
        element_at(col("__pt"), 2).cast("double").as("p50_tokens"),
        element_at(col("__pt"), 3).cast("double").as("p75_tokens"),
        element_at(col("__pt"), 4).cast("double").as("p875_tokens"))
      .orderBy(col(groupCol))
  }

  /** Curriculum binning: assign every document its per-group length
    * QUARTILE (bucket 0-3) and report the resulting (group, bucket)
    * strata — the step that turns [[lengthProfile]]'s descriptive
    * percentiles into the actual curriculum/packing buckets a training
    * scheduler consumes (short-to-long ordering, per-bucket batch
    * shapes). Bucket boundaries are the group's exact 25/50/75
    * percentiles; `n_tokens <= p25 → 0`, `<= p50 → 1`, `<= p75 → 2`,
    * else 3. Dyadic quantile points keep the interpolated thresholds
    * engine-exact (the q45 trick), so the integer-vs-threshold
    * comparison can never flip between engines.
    *
    * Scale shape: the threshold aggregate is |groups| rows, broadcast
    * back onto a row-local bucket assignment; the final rollup is a
    * partial-aggregable groupBy on (group, bucket). The corpus itself
    * is never shuffled — the only wide exchange carries ≤ 4·|groups|
    * result rows. `exact=false` swaps the threshold computation to the
    * Greenwald-Khanna sketch (`approx_percentile`) — the 100 TB flag,
    * mirroring [[lengthProfile]]. */
  def curriculumBins(docs: DataFrame, textCol: String, groupCol: String,
      exact: Boolean = true): DataFrame = {
    val qs = "array(0.25D, 0.5D, 0.75D)"
    val pct = if (exact) s"percentile(n_tokens, $qs)"
              else s"approx_percentile(n_tokens, $qs)"
    val base = docs.select(col(groupCol).as("__g"),
      size(TextHash.tokens(col(textCol))).as("n_tokens"))
    val th = base.groupBy(col("__g")).agg(expr(pct).as("__pt"))
      .select(col("__g"),
        element_at(col("__pt"), 1).cast("double").as("__p25"),
        element_at(col("__pt"), 2).cast("double").as("__p50"),
        element_at(col("__pt"), 3).cast("double").as("__p75"))
    base.join(broadcast(th), Seq("__g"))
      .withColumn("bucket",
        when(col("n_tokens") <= col("__p25"), 0)
          .when(col("n_tokens") <= col("__p50"), 1)
          .when(col("n_tokens") <= col("__p75"), 2)
          .otherwise(3))
      .groupBy(col("__g"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .select(col("__g").as(groupCol), col("bucket"), col("n_docs"),
        col("total_tokens"), col("min_tokens"), col("max_tokens"))
      .orderBy(col(groupCol), col("bucket"))
  }

  /** Rolling-hash document fingerprints: a whole-document polynomial
    * fold over token hashes plus the minimum 8-token-gram hash (the
    * winnowing-style marker used for containment detection — shared
    * min-gram => likely shared passage). */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    // fully compiled (r5 verdict item 4): the token-hash pass, the
    // whole-document rolling fold, and the min-8-gram fold are all
    // codegen expressions — the nested transform/aggregate/slice HOF
    // this replaces was the last interpreted hot loop (q25's per-window
    // re-fold paid a Catalyst eval round trip per element). MinGramFold
    // folds the caller's `n_tokens >= 8` guard in (null below 8);
    // TextHashNativeSpec pins both folds ≡ the HOF reference.
    docs
      .select(col(idCol).as("doc_id"),
        TextHash.tokenHashesOf(col(textCol)).as("wh"))
      .select(
        col("doc_id"), size(col("wh")).as("n_tokens"),
        TextHash.rollingFoldOf(col("wh")).as("rolling_fp"),
        TextHash.minGramFoldOf(col("wh"), 8).as("min_gram_fp"))
      .orderBy(col("doc_id"))

  /** The word tokenizer the retrieval/vocabulary side shares
    * ([[Retrieval.bm25Scores]] uses the same classes): letter / digit
    * runs of the lowercased text — punctuation carries no vocabulary
    * signal. */
  private def wordTokens(textCol: String): Column =
    expr(s"regexp_extract_all(lower($textCol), '([a-z]+|[0-9]+)', 1)")

  /** Corpus vocabulary head — the Zipf profile: the `topK` most
    * frequent terms with collection frequency (total occurrences),
    * document frequency, and dense frequency rank. The table a corpus
    * team reads to build stopword lists, spot template spam (a
    * non-stopword term with df ≈ n_docs is boilerplate), and check a
    * tokenizer's health after an ingest change.
    *
    * Scale shape: tokens explode row-locally; ONE partial-aggregable
    * groupBy over terms (count + distinct-doc count) is the only
    * corpus-wide shuffle; the global top-k is TakeOrderedAndProject
    * (per-partition k-heaps, k rows to the driver side of the sort),
    * and the rank window runs over the ALREADY-LIMITED topK-row frame —
    * never over the vocabulary. Ties break lexicographically, pinned on
    * both engines.
    *
    * `exactDf = false` is the 100 TB flag ([[tokenStats]]'s HLL switch):
    * an exact distinct-doc set per hot term is the one memory hazard
    * here — a stopword's doc set is the whole corpus — while
    * HyperLogLog++ sketches are constant-size and merge-friendly across
    * partials. Default stays exact for the oracle gate. */
  def zipfProfile(docs: DataFrame, idCol: String, textCol: String,
      topK: Int = 100, exactDf: Boolean = true): DataFrame = {
    require(topK > 0, s"need topK > 0, got $topK")
    val dfAgg =
      if (exactDf) countDistinct(col("doc_id"))
      else approx_count_distinct(col("doc_id"))
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(wordTokens(textCol)).as("term"))
    val counts = tok.groupBy(col("term"))
      .agg(count(lit(1)).as("cf"), dfAgg.as("df"))
    val top = counts.orderBy(col("cf").desc, col("term")).limit(topK)
    // rank over the topK-row frame only (bounded single partition)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cf").desc, col("term"))
    top.withColumn("rank", row_number().over(w).cast("int"))
      .select(col("rank"), col("term"), col("cf"), col("df"))
      .orderBy(col("rank"))
  }

  /** Per-document lexical richness: token total, distinct-type count,
    * hapax count (types occurring exactly once IN the document), and
    * the type-token ratio on the 2^-20 fixed-point grid — the
    * vocabulary-diversity quality signal (machine-generated spam sits
    * at the extremes: keyword stuffing → TTR near 1, template loops →
    * TTR near 0).
    *
    * Scale shape: ONE (doc, term) groupBy — the same matched-term
    * stream shape as BM25's tf, partial-aggregable both levels; the
    * ratio is INTEGER division (n_distinct·2^20 div n_tokens), exact on
    * any engine, no doubles anywhere. Docs with zero word tokens have
    * no richness to measure and are absent, like the oracle. */
  def lexicalRichness(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(wordTokens(textCol)).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("n_hapax"),
        expr("(n_distinct * 1048576) div n_tokens").as("ttr_fp"))
      .orderBy(col("doc_id"))

  /** Novelty decay — per document, the fraction of its distinct 3-gram
    * shingles FIRST seen in an earlier document (ingest order = id
    * order): the curve a curation team watches to decide when a source
    * has stopped contributing new text and dedup should get more
    * aggressive. [[shingleNovelty]] measures symmetric commonness; this
    * is the ORDERED variant — late documents made entirely of
    * already-seen text score 2^20 even if no single earlier doc
    * contains them whole.
    *
    * Scale shape: identical to [[shingleNovelty]] — the compiled
    * row-local shingle pass, one min-aggregating groupBy over 8-byte
    * shingle hashes (first sighting per shingle), the equi-join back,
    * and an integer-division fixed-point ratio. No window, no driver
    * state. */
  def noveltyDecay(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(TextHash.shingleHashesOf(col(textCol))).as("hs"))
    val first = sh.groupBy(col("hs")).agg(min(col("doc_id")).as("first_id"))
    sh.join(first, Seq("hs"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") < col("doc_id"), 1L).otherwise(0L))
          .as("n_seen_before"))
      .select(col("doc_id"), col("n_shingles"), col("n_seen_before"),
        expr("(n_seen_before * 1048576) div n_shingles").as("seen_fp"))
      .orderBy(col("doc_id"))
  }

  /** Collocation LIFT — the corpus-analysis staple for phrase mining
    * ("which word pairs co-occur far beyond chance"): for each bigram,
    * `lift = P(ab) / (P(a)·P(b)) = c_ab·N / (c_a·c_b)` — PMI WITHOUT
    * the log, because `ln` is not engine-portable and the RANKING it
    * induces is identical (log is monotone). Scored on the 2^-20
    * fixed-point grid by one integer division of exact counts; top
    * `topK` by (lift desc, bigram) with a `minCount` support floor —
    * the floor is what keeps one-off hapax pairs (whose lift is
    * spuriously maximal) out, the standard collocation hygiene.
    *
    * Scale shape: bigram construction is a row-local array transform;
    * bigram and unigram counts are partial-aggregable groupBys over
    * hashable strings; the unigram frame joins back twice (left and
    * right word of each surviving bigram — AFTER the support floor,
    * so only candidate bigrams pay the join); the corpus token total
    * is the documented ONE-ROW broadcast scalar-append. Top-k plans
    * as TakeOrderedAndProject (per-partition heaps). Counts guarded
    * into DECIMAL(38,0) before the cross-multiply — at web scale
    * `c_ab·N` overflows a BIGINT. */
  def collocationLift(docs: DataFrame, textCol: String, topK: Int = 20,
      minCount: Long = 5L): DataFrame = {
    require(topK > 0 && minCount >= 1,
      s"need topK > 0 and minCount >= 1, got $topK/$minCount")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = docs.select(TextHash.tokens(col(textCol)).as("w"))
    val uni = w.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    // the >= 2 guard matters: Spark's sequence(1, 0) DESCENDS (step
    // defaults to -1 when start > stop), which would index element 0
    val bi = w.where(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
        .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
    val n = uni.agg(sum(col("c")).as("n_tokens"))
    bi
      .withColumn("a", split(col("bigram"), " ").getItem(0))
      .withColumn("b", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("t").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("t").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(n))
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
        expr(s"((CAST(c_ab AS DECIMAL(38,0)) * 1048576) * n_tokens) " +
          "div (CAST(c_a AS DECIMAL(38,0)) * c_b)").as("lift_fp"))
      .orderBy(col("lift_fp").desc, col("bigram"))
      .limit(topK)
  }

  /** Per-document VOCABULARY COVERAGE against the corpus's own top-K
    * terms — the tokenizer-coverage signal a training pipeline reads
    * before committing to a vocabulary: a doc whose tokens are mostly
    * outside the head vocabulary is boilerplate-free jargon, a
    * different language the lang-ID missed, or noise — and a corpus
    * whose mean OOV rate is high at the chosen K needs a bigger vocab
    * (or a different tokenizer) before any model sees it.
    *
    * Scale shape: ONE token-explode pass feeds both the vocabulary
    * aggregate (partial-combined; top-K via TakeOrdered, never a full
    * sort) and the per-doc fold; the K-row vocabulary broadcasts onto
    * the token stream (left join + null test = set membership), so
    * nothing corpus-sized shuffles except the per-doc groupBy itself.
    * Ties at the cf boundary break on the term string — a total order
    * both engines replay. Docs with ZERO whitespace tokens have no
    * occurrence rows and drop out (documented, matching the explode
    * semantics of every token-stream operator here). Output: (doc_id,
    * n_tokens, n_oov, oov_rate), by doc id. */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
      topK: Int = 1000,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    require(topK > 0, s"need topK > 0, got $topK")
    val toks = scope.persist(docs.select(col(idCol).as("doc_id"),
      explode(TextHash.tokens(col(textCol))).as("term")))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("cf"))
      .orderBy(col("cf").desc, col("term")).limit(topK)
      .select(col("term"), lit(1).as("__in_vocab"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Per-document BIGRAM FLUENCY under the corpus's own add-one-
    * smoothed bigram model — the language-model quality filter (the
    * CCNet/Gopher "perplexity" gate) with a log-free surrogate: each
    * doc scores the MEAN smoothed bigram probability
    * `(c(ab)+1)/(c(a·)+V)` of its adjacent token pairs, floored to a
    * 2^-20 fixed-point grid per bigram so the per-doc sum is an exact
    * integer. Boilerplate and fluent prose score high (their bigrams
    * repeat corpus-wide); keyboard mash, OCR noise and wrong-language
    * text score near zero. The published gate uses mean LOG prob
    * (perplexity); `ln` is a transcendental whose last bit varies by
    * libm (the q52 argument), so this operator ranks by mean
    * probability instead — the tails that a filter thresholds are the
    * same docs, and the score is engine-exact. `c(a·)` is the bigram-
    * context count (occurrences of `a` as a bigram head), V the
    * distinct-context count — the standard conditional-MLE
    * denominator pair.
    *
    * Scale shape: ONE row-local bigram explode pass (array transform,
    * no self-join) persisted and read three times — model counts,
    * context counts, and the scoring join; the ONE-ROW vocabulary size
    * is a broadcast scalar append (the q84 shape). The scoring join
    * shuffles on the bigram key with partial aggregation on both
    * model sides; docs with < 2 tokens have no bigrams and drop
    * (documented, the token-stream explode semantics). */
  def bigramFluency(docs: DataFrame, idCol: String, textCol: String,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val bi = scope.persist(docs
      .select(col(idCol).as("doc_id"), TextHash.tokens(col(textCol)).as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), " +
          "i -> struct(w[i] AS a, w[i + 1] AS b))")).as("e"))
      .select(col("doc_id"), col("e.a").as("a"), col("e.b").as("b")))
    val model = bi.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c_ab"))
    val ctx = bi.groupBy(col("a")).agg(count(lit(1)).as("c_a"))
    val vsz = bi.agg(count_distinct(col("a")).as("vsz"))
    val scoredModel = model.join(ctx, Seq("a"))
      .crossJoin(broadcast(vsz)) // ONE-ROW scalar append (q84 shape)
      .select(col("a"), col("b"),
        floor(lit(1048576.0) *
          ((col("c_ab").cast("double") + lit(1.0)) /
            (col("c_a").cast("double") + col("vsz").cast("double"))))
          .cast("long").as("f"))
    bi.join(scoredModel, Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("f")).cast("long").as("sum_fp"))
      .withColumn("fluency_fp",
        col("sum_fp").cast("double") / col("n_bigrams").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** CURATION FUNNEL — the per-source survival report of a standard
    * quality-gate stack (the first page of every training-data
    * curation writeup: "we started with N docs; the length gate kept
    * X%, the repetition gate Y%…"): four ordered row-local gates —
    * non-empty, char-length window, minimum token count, distinct-
    * token ratio — each stage counting docs that pass IT AND EVERY
    * GATE BEFORE IT, grouped by source. Reading the funnel: a stage
    * with a large drop is the binding constraint for that source; a
    * source whose stage-4 survival is far below the corpus's is a feed
    * to quarantine.
    *
    * Scale shape: every gate is a row-local boolean over one scan; the
    * only shuffle is the |sources|-row groupBy of the five counters
    * (partial-aggregated map-side), and the stage unpivot explodes the
    * AGGREGATE frame (5 rows per source), never the corpus. All counts
    * are exact integers; the survival rate is one division. The
    * distinct-ratio threshold compares two identically-computed IEEE
    * doubles, so the boundary cannot flip between engines. */
  def curationFunnel(docs: DataFrame, textCol: String, groupCol: String,
      minChars: Int = 100, maxChars: Int = 20000, minTokens: Int = 20,
      minDistinctRatio: Double = 0.25): DataFrame = {
    require(minChars <= maxChars && minTokens >= 0,
      s"bad gate config: chars [$minChars,$maxChars], tokens $minTokens")
    val w = TextHash.tokens(col(textCol))
    val g1 = length(trim(col(textCol))) > 0
    val g2 = g1 && length(col(textCol)).between(minChars, maxChars)
    val g3 = g2 && size(w) >= minTokens
    val g4 = g3 && (size(array_distinct(w)).cast("double") /
      size(w).cast("double")) >= minDistinctRatio
    val gates = Seq("nonempty" -> g1, "chars_in_range" -> g2,
      "min_tokens" -> g3, "distinct_ratio" -> g4)
    val counters = count(lit(1)).cast("long").as("n_docs") +:
      gates.zipWithIndex.map { case ((_, g), i) =>
        sum(when(g, 1L).otherwise(0L)).cast("long").as(s"__s$i")
      }
    val agg = docs.groupBy(col(groupCol))
      .agg(counters.head, counters.tail: _*)
    val entries = gates.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(i + 1).as("stage"), lit(name).as("gate"),
        col(s"__s$i").as("survivors"))
    }
    agg.select(col(groupCol), col("n_docs"),
        explode(array(entries: _*)).as("e"))
      .select(col(groupCol), col("e.stage").as("stage"),
        col("e.gate").as("gate"), col("n_docs"),
        col("e.survivors").as("survivors"))
      .withColumn("survival_rate",
        col("survivors").cast("double") / col("n_docs").cast("double"))
      .orderBy(col(groupCol), col("stage"))
  }

  /** GATE OVERLAP MATRIX — [[curationFunnel]]'s order-INDEPENDENT
    * sibling: the funnel charges each document to the FIRST gate that
    * rejects it, so a gate sitting behind a correlated earlier gate
    * looks cheap ("distinct-ratio only dropped 1%") when it would
    * condemn the same documents alone. This readout evaluates every
    * gate INDEPENDENTLY and reports, per unordered gate pair, how
    * much their failure sets overlap — failure counts, intersection,
    * union, and Jaccard. Reading it: Jaccard ≈ 1 means the two gates
    * are redundant (drop one, or fix the shared root cause); Jaccard
    * ≈ 0 with both large means the stack is genuinely multiplicative
    * and reordering won't save documents. Diagonal rows carry each
    * gate's standalone failure count.
    *
    * Scale shape: the four failure bits are row-local booleans over
    * one scan; ONE ungrouped partial-aggregated fold computes the 11
    * counters (4 singles + 6 pair intersections + the doc count), and
    * the pair unpivot explodes the ONE-ROW aggregate — the corpus is
    * never shuffled. Counts are exact longs; Jaccard is one division
    * (NULL when the union is empty — no failures to compare).
    *
    * Gate semantics: same thresholds as [[curationFunnel]], negated
    * and de-cascaded — `empty`, `chars_out_of_range`, `few_tokens`,
    * `low_distinct_ratio` (a tokenless doc fails the ratio gate too:
    * there is no vocabulary to defend it). NULL text fails EVERY
    * gate: the funnel rejects a NULL doc at its first gate, and a
    * de-cascaded readout that let NULL predicates sum as "no failure"
    * would under-report exactly those docs (each bit is
    * NULL-coalesced to failing). */
  def gateOverlap(docs: DataFrame, textCol: String,
      minChars: Int = 100, maxChars: Int = 20000, minTokens: Int = 20,
      minDistinctRatio: Double = 0.25): DataFrame = {
    require(minChars <= maxChars && minTokens >= 0,
      s"bad gate config: chars [$minChars,$maxChars], tokens $minTokens")
    val w = TextHash.tokens(col(textCol))
    val isNull = col(textCol).isNull
    val fails: Seq[(String, Column)] = Seq(
      "empty" -> (isNull || length(trim(col(textCol))) === 0),
      "chars_out_of_range" -> (isNull || !length(col(textCol))
        .between(minChars, maxChars)),
      "few_tokens" -> (isNull || size(w) < minTokens),
      "low_distinct_ratio" -> (isNull || size(w) === 0 ||
        (size(array_distinct(w)).cast("double") /
          size(w).cast("double")) < minDistinctRatio))
    val names = fails.map(_._1)
    val idxPairs = for {
      i <- names.indices; j <- names.indices if i <= j
    } yield (i, j)
    val counters = count(lit(1)).cast("long").as("n_docs") +:
      idxPairs.map { case (i, j) =>
        sum(when(fails(i)._2 && fails(j)._2, 1L).otherwise(0L))
          .cast("long").as(s"__f${i}_$j")
      }
    val agg = docs.agg(counters.head, counters.tail: _*)
    val entries = idxPairs.collect { case (i, j) if i < j =>
      struct(lit(names(i)).as("gate_a"), lit(names(j)).as("gate_b"),
        col(s"__f${i}_$i").as("fail_a"), col(s"__f${j}_$j").as("fail_b"),
        col(s"__f${i}_$j").as("fail_both"))
    } ++ names.indices.map { i =>
      struct(lit(names(i)).as("gate_a"), lit(names(i)).as("gate_b"),
        col(s"__f${i}_$i").as("fail_a"), col(s"__f${i}_$i").as("fail_b"),
        col(s"__f${i}_$i").as("fail_both"))
    }
    agg.select(col("n_docs"), explode(array(entries: _*)).as("e"))
      .select(col("e.gate_a").as("gate_a"), col("e.gate_b").as("gate_b"),
        col("n_docs"), col("e.fail_a").as("fail_a"),
        col("e.fail_b").as("fail_b"), col("e.fail_both").as("fail_both"),
        (col("e.fail_a") + col("e.fail_b") - col("e.fail_both"))
          .as("fail_either"))
      .withColumn("jaccard",
        when(col("fail_either") > 0, col("fail_both").cast("double") /
          col("fail_either").cast("double")))
      .orderBy(col("gate_a"), col("gate_b"))
  }

  /** LENGTH-BIAS CURVE — "is my quality signal length-biased": bucket
    * docs by character length (integer-width buckets — exact) and
    * report MICRO-AVERAGED stopword and punctuation ratios per bucket.
    * A curation team that filters on [[qualityScores]]' per-doc ratios
    * needs this table before trusting a single threshold: if the
    * stopword ratio trends with length, one global cut silently
    * over-filters short docs (the classic length-confound of quality
    * heuristics). Micro-averaging on purpose, twice over: summing the
    * integer NUMERATORS and DENOMINATORS per bucket keeps every
    * aggregate an exact long (a mean of per-doc float ratios would be
    * an order-dependent float sum — unverifiable), and it weights by
    * token mass, which is what a corpus-level filter actually acts on.
    *
    * Scale shape: the per-doc integers are row-local (the q23
    * formulas); ONE partial-aggregated groupBy over ≤ maxLen/width
    * buckets. Zero-denominator buckets keep NULL ratios (the
    * [[qualityScores]] guard). */
  def lengthBiasCurve(docs: DataFrame, textCol: String,
      bucketChars: Int = 1024): DataFrame = {
    require(bucketChars > 0, s"bucketChars must be positive: $bucketChars")
    val base = docs.select(
      length(col(textCol)).as("n_chars"),
      TextHash.tokens(col(textCol)).as("w"),
      length(regexp_replace(col(textCol), "[a-zA-Z0-9\\s]", ""))
        .as("n_punct"))
    base.select(
        (col("n_chars").cast("long") / lit(bucketChars.toLong))
          .cast("long").as("bucket"),
        col("n_chars"), size(col("w")).as("n_tokens"),
        TextHash.markerCountOf(col("w"), stopwords).as("n_stop"), col("n_punct"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_stop")).cast("long").as("total_stop"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_punct")).as("total_punct"))
      .withColumn("stop_ratio_micro",
        when(col("total_tokens") > 0, col("total_stop").cast("double") /
          col("total_tokens").cast("double")))
      .withColumn("punct_ratio_micro",
        when(col("total_chars") > 0, col("total_punct").cast("double") /
          col("total_chars").cast("double")))
      .orderBy(col("bucket"))
  }

  /** MIXED-LANGUAGE DETECTION — the segment-level refinement of
    * [[langIdMatrix]]: a document whose WHOLE-DOC language vote looks
    * clean can still interleave languages (boilerplate in one, body in
    * another; code-switching forums; scraped translations) — exactly
    * the docs a monolingual filter mis-gates. Chunk the token stream
    * into fixed windows of `chunkTokens`, run the q22 marker vote per
    * chunk (same marker sets, same deterministic tie order, `und` when
    * no marker hits), and report per doc: chunk counts, how many
    * distinct languages the chunks voted for, the majority language
    * with its share, and the `is_mixed` flag (≥ 2 distinct non-`und`
    * chunk votes).
    *
    * Scale shape: the token posexplode is the corpus pass; it
    * partial-aggregates straight to (doc, chunk, 4 counters) — the
    * conditional sums collapse map-side, so the shuffle ships chunk
    * rows, not tokens. Everything after runs on chunk-level frames
    * (≤ tokens/chunkTokens rows): the per-doc majority is a window
    * over the ≤ 4-langs-per-doc vote frame, ties to the
    * lexicographically first language (pinned on both engines).
    * All-`und` docs keep NULL majority columns (no vote — the
    * [[qualityScores]] null-guard contract).
    *
    * Output: (doc_id, n_chunks, n_lang_chunks, n_distinct_langs,
    * majority_lang, majority_share, is_mixed), ordered by doc_id. */
  def mixedLanguageFlags(docs: DataFrame, idCol: String,
      textCol: String, chunkTokens: Int = 16,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive: $chunkTokens")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
        posexplode(TextHash.tokens(lower(col(textCol)))).as(Seq("i", "t")))
      .withColumn("chunk",
        floor(col("i") / lit(chunkTokens)).cast("long"))
    val perChunk = toks.groupBy(col("doc_id"), col("chunk"))
      .agg(
        sum(when(col("t").isInCollection(markerSets.head._2), 1L)
          .otherwise(0L)).as(s"c_${markerSets.head._1}"),
        markerSets.tail.map { case (l, ms) =>
          sum(when(col("t").isInCollection(ms), 1L).otherwise(0L))
            .as(s"c_$l") }: _*)
    val Seq(en, es, de, fr) = markerSets.map(m => col(s"c_${m._1}"))
    // the voted chunk frame feeds the totals AND the majority path —
    // persisted so the token explode scans the corpus once
    val voted = scope.persist(perChunk.withColumn("lang_pred",
      when(en === 0 && es === 0 && de === 0 && fr === 0, "und")
        .when(en >= es && en >= de && en >= fr, "en")
        .when(es >= de && es >= fr, "es")
        .when(de >= fr, "de")
        .otherwise("fr")))
    val chunkTotals = voted.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("lang_pred") =!= "und", 1L).otherwise(0L))
          .as("n_lang_chunks"))
    val byLang = voted.where(col("lang_pred") =!= "und")
      .groupBy(col("doc_id"), col("lang_pred"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("c").desc, col("lang_pred"))
    val major = byLang
      .withColumn("rnk", row_number().over(w))
      .withColumn("n_distinct_langs",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .where(col("rnk") === 1)
      .select(col("doc_id"), col("n_distinct_langs"),
        col("lang_pred").as("majority_lang"),
        col("c").as("majority_chunks"))
    chunkTotals.join(major, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"), col("n_lang_chunks"),
        coalesce(col("n_distinct_langs"), lit(0L))
          .as("n_distinct_langs"),
        col("majority_lang"),
        when(col("n_lang_chunks") > 0,
          col("majority_chunks").cast("double") /
            col("n_lang_chunks").cast("double")).as("majority_share"),
        (coalesce(col("n_distinct_langs"), lit(0L)) > 1).as("is_mixed"))
      .orderBy(col("doc_id"))
  }

  /** DISTINCT-N DIVERSITY — the standard lexical-diversity report of
    * generation QA and corpus health (distinct-1/2/3 of the neural
    * text-gen literature): per group, total vs distinct n-gram counts
    * and their ratio, for n = 1..3 in ONE pass. A source whose
    * distinct-2/3 ratios sit far below its peers is template mass —
    * repeated boilerplate that q35's WITHIN-doc repetition signals
    * can't see (each doc looks fine; the GROUP repeats) — and
    * synthetic/model-generated feeds show exactly this collapse, which
    * is why the metric gates generated training data.
    *
    * Scale shape: n-grams assemble ROW-LOCALLY (array transforms over
    * the token array — no self-join, no window); one explode feeds one
    * partial-aggregated groupBy(group, n). `exact = true` (the oracle
    * gate) pays `countDistinct`'s expand; the 100 TB switch is
    * `approx_count_distinct` (HLL, constant state) — [[zipfProfile]]'s
    * exactDf argument verbatim. Docs shorter than n tokens contribute
    * no n-grams (empty transform), and the ratio divides exact counts
    * once.
    *
    * Output: (group, n, total_ngrams, distinct_ngrams, distinct_ratio)
    * ordered. */
  def distinctNgramDiversity(docs: DataFrame, groupCol: String,
      textCol: String, exact: Boolean = true): DataFrame = {
    val grams = docs.select(col(groupCol).as("g"),
        TextHash.tokens(col(textCol)).as("w"))
      .select(col("g"), explode(array(
        struct(lit(1).as("n"), col("w").as("gr")),
        // Spark's sequence(0, k) DESCENDS when k < 0, so a doc shorter
        // than n tokens must short-circuit to an empty array
        struct(lit(2).as("n"), expr(
          "CASE WHEN size(w) >= 2 THEN " +
            "transform(sequence(0, size(w) - 2), i -> " +
            "concat(element_at(w, i + 1), ' ', element_at(w, i + 2))) " +
            "ELSE slice(w, 1, 0) END").as("gr")),
        struct(lit(3).as("n"), expr(
          "CASE WHEN size(w) >= 3 THEN " +
            "transform(sequence(0, size(w) - 3), i -> " +
            "concat(element_at(w, i + 1), ' ', element_at(w, i + 2), " +
            "' ', element_at(w, i + 3))) ELSE slice(w, 1, 0) END").as("gr"))))
        .as("e"))
      .select(col("g"), col("e.n").as("n"),
        explode(col("e.gr")).as("gram"))
    val distinctAgg =
      if (exact) countDistinct(col("gram"))
      else approx_count_distinct(col("gram"))
    grams.groupBy(col("g"), col("n"))
      .agg(count(lit(1)).as("total_ngrams"),
        distinctAgg.as("distinct_ngrams"))
      .withColumn("distinct_ratio",
        col("distinct_ngrams").cast("double") /
          col("total_ngrams").cast("double"))
      .select(col("g").as(groupCol), col("n"), col("total_ngrams"),
        col("distinct_ngrams"), col("distinct_ratio"))
      .orderBy(col(groupCol), col("n"))
  }

  /** UNIGRAM DISTRIBUTION DIVERGENCE — total-variation distance
    * between every pair of groups' unigram distributions:
    * `TV(a,b) = ½ Σ_t |p_a(t) − p_b(t)|` over the UNION vocabulary.
    * The corpus-composition question this answers is different from
    * q91's set overlap (shared vocabulary) and q69's stratum mix
    * (row shares): two sources can share every term yet weight them so
    * differently that mixing them shifts the training distribution —
    * TV is exactly that shift, 0 for identical distributions, 1 for
    * disjoint ones. TV instead of KL/JS on purpose: divergences with a
    * `log` would hang the result on libm rounding (the q97/q105
    * argument), while TV over exact counts needs none —
    * `|c_a·N_b − c_b·N_a|` summed as DECIMAL(38,0) integers, the
    * union-vocab tail folded in CLOSED FORM (tokens only in `a`
    * contribute `(N_a − S_a)·N_b` where `S_a` is `a`'s count mass on
    * the SHARED vocab — no outer join, no explicit a-only frame), and
    * ONE final IEEE division by `2·N_a·N_b`.
    *
    * Scale shape: one token explode feeds one partial-aggregated
    * (group, term) count frame, persisted and read twice (pair join
    * sides); the within-term self-join fans out C(|groups|,2) pairs
    * per term — bounded by the group count, q91's exact argument — and
    * the |groups|-row totals ride broadcast joins. Pairs sharing NO
    * term are absent from the output by construction (their TV is
    * trivially 1; emitting them would need a non-equi pair skeleton —
    * a BNLJ — for rows that carry no information).
    *
    * Output: (group_a, group_b, n_tokens_a, n_tokens_b, tv_distance),
    * group_a < group_b, ordered. */
  def unigramDivergence(docs: DataFrame, groupCol: String,
      textCol: String,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val dec = "DECIMAL(19,0)"
    val counts = scope.persist(
      docs.select(col(groupCol).as("g"),
          explode(wordTokens(textCol)).as("t"))
        .groupBy(col("g"), col("t")).agg(count(lit(1)).as("c")))
    val totals = counts.groupBy(col("g")).agg(sum(col("c")).as("n"))
    val pairs = counts.select(col("g").as("ga"), col("t"),
        col("c").as("ca"))
      .join(counts.select(col("g").as("gb"), col("t"),
        col("c").as("cb")), Seq("t"))
      .where(col("ga") < col("gb"))
      .join(broadcast(totals.select(col("g").as("ga"),
        col("n").as("na"))), Seq("ga"))
      .join(broadcast(totals.select(col("g").as("gb"),
        col("n").as("nb"))), Seq("gb"))
    val agg = pairs.groupBy(col("ga"), col("gb"), col("na"), col("nb"))
      .agg(
        sum(abs(col("ca").cast(dec) * col("nb").cast(dec) -
          col("cb").cast(dec) * col("na").cast(dec))).as("shared_abs"),
        sum(col("ca")).as("sa"), sum(col("cb")).as("sb"))
    val numerator = col("shared_abs") +
      (col("na") - col("sa")).cast(dec) * col("nb").cast(dec) +
      (col("nb") - col("sb")).cast(dec) * col("na").cast(dec)
    agg.select(col("ga").as("group_a"), col("gb").as("group_b"),
        col("na").as("n_tokens_a"), col("nb").as("n_tokens_b"),
        (numerator.cast("double") /
          (lit(2.0) * col("na").cast("double") * col("nb").cast("double")))
          .as("tv_distance"))
      .orderBy(col("group_a"), col("group_b"))
  }

  /** READABILITY SIGNALS — the Flesch-family complexity proxy without
    * syllables (syllable counting is language- and dictionary-bound;
    * word LENGTH is the standard cross-lingual surrogate — long words
    * and long sentences are what every readability formula actually
    * responds to): per document, sentence count (runs of `.!?`), mean
    * word length, mean sentence length in tokens, and the long-word
    * (≥ 7 chars) ratio — the gate that separates prose from listings,
    * logs, and keyword stuffing at a different angle than
    * [[qualityScores]]' punctuation/stopword view.
    *
    * Engine-exact: every signal is a ratio of row-local INTEGER counts
    * on the 2^-20 fixed-point grid (`div` both engines — no doubles at
    * all, the q66 discipline); token char-mass comes from the codegen'd
    * [[TextHash.sumTokenLengthsOf]] fold. Zero-token / zero-sentence
    * docs keep NULL for the affected ratios (the qualityScores
    * null-guard contract).
    *
    * Scale shape: fully row-local — no shuffle at any corpus size
    * except the output ordering. */
  def readabilitySignals(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(col(idCol).as("doc_id"),
        TextHash.tokens(col(textCol)).as("w"),
        regexp_count(col(textCol), lit("[.!?]+")).cast("long")
          .as("n_sentences"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        col("n_sentences"),
        TextHash.sumTokenLengthsOf(col("w")).as("__sl"),
        size(filter(col("w"), t => length(t) >= 7)).cast("long")
          .as("__lw"))
      .select(col("doc_id"), col("n_tokens"), col("n_sentences"),
        when(col("n_tokens") > 0,
          expr("(__sl * 1048576) div n_tokens")).as("mean_word_len_fp"),
        when(col("n_sentences") > 0,
          expr("(n_tokens * 1048576) div n_sentences"))
          .as("mean_sentence_tokens_fp"),
        when(col("n_tokens") > 0,
          expr("(__lw * 1048576) div n_tokens")).as("long_word_ratio_fp"))
      .orderBy(col("doc_id"))

  /** VOCABULARY COVERAGE CURVE — how much of the corpus's token mass
    * the top-K terms carry, at a ladder of K's: the table that sizes a
    * vocabulary ("32k terms cover 97%; 50k buys 0.4% more"), prices a
    * stopword list, and flags template corpora (a tiny head covering
    * almost everything is q133's concentration signal seen
    * cumulatively). Complements [[vocabCoverage]] (per-DOC OOV at one
    * K) with the corpus-level curve that picks K in the first place.
    *
    * Scale shape: ONE partial-aggregable vocabulary groupBy; the head
    * is TakeOrdered (per-partition heaps, never a vocabulary sort —
    * the q65 argument), the cumulative runs over the ≤ max(ks)-row
    * head, and the corpus total rides the documented one-row
    * scalar-append. Exact integer cumulative, one IEEE division per
    * reading. K's exceeding the vocabulary emit no row (the head ran
    * dry — documented). Ties at the head boundary break on the term
    * string (the q65/q99 total order). */
  def coverageCurve(docs: DataFrame, textCol: String,
      ks: Seq[Int] = Seq(10, 100, 1000)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1) && ks.distinct == ks,
      s"need distinct positive ks, got $ks")
    import org.apache.spark.sql.expressions.Window
    val uni = docs.select(explode(wordTokens(textCol)).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val total = uni.agg(sum(col("c")).as("total_cf"))
    val head = uni.orderBy(col("c").desc, col("t")).limit(ks.max)
    val w = Window.orderBy(col("c").desc, col("t"))
    head
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("covered_cf", sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .where(col("k").isInCollection(ks.map(_.toLong)))
      .crossJoin(broadcast(total))
      .select(col("k"), col("covered_cf"), col("total_cf"),
        (col("covered_cf").cast("double") /
          col("total_cf").cast("double")).as("share"))
      .orderBy(col("k"))
  }

  /** URL DOMAIN PROFILE — the link census behind every domain
    * blocklist/allowlist decision: extract URLs from the text
    * ([[graft.operators.Scrub]]'s portable pattern), reduce each to
    * its lowercased host plus the `apex` last-two-labels
    * approximation (documented approximation — a true registrable
    * domain needs the public-suffix list, which is DATA, not code;
    * for co.uk-style suffixes the caller joins one), and count URL
    * mentions and distinct citing docs per host. A host with many
    * URLs in few docs is a template/self-link signature; many docs ×
    * one host is the "everyone links the same spam domain" signal.
    *
    * Scale shape: extraction is row-local (one regexp_extract_all +
    * explode — output sized by the corpus's actual link mass); ONE
    * partial-aggregable groupBy(host) with a distinct-doc expand. */
  def domainProfile(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val urls = docs.select(col(idCol).as("doc_id"),
        explode(expr(
          s"regexp_extract_all($textCol, '${graft.operators.Scrub.urlRe}', 0)"))
          .as("url"))
      .select(col("doc_id"),
        lower(regexp_extract(col("url"), "https?://([A-Za-z0-9.%-]+)", 1))
          .as("domain"))
    urls.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"))
      .withColumn("apex",
        regexp_extract(col("domain"), "([A-Za-z0-9-]+[.][A-Za-z0-9-]+)$", 1))
      .select(col("domain"), col("apex"), col("n_urls"), col("n_docs"))
      .orderBy(col("domain"))
  }

  /** CASING PROFILE — the SHOUTING/headline screen the Gopher-style
    * quality rules include and [[qualityScores]]' punctuation view
    * doesn't: per doc, letter and uppercase-letter counts, the
    * uppercase ratio, and the ALL-CAPS token share (tokens of ≥ 2
    * capitals — acronyms score low, headline spam and key-mashing
    * score high). ASCII letters only, deliberately: locale-dependent
    * case folding is not engine-portable, and the signal survives.
    *
    * Every ratio is an integer-division fixed-point of row-local
    * counts (the q66/q143 discipline); zero-letter / zero-token docs
    * keep NULL ratios. Fully row-local — no shuffle at any corpus
    * size. */
  def casingProfile(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(col(idCol).as("doc_id"),
        length(regexp_replace(col(textCol), "[^A-Za-z]", ""))
          .cast("long").as("n_letters"),
        length(regexp_replace(col(textCol), "[^A-Z]", ""))
          .cast("long").as("n_upper"),
        TextHash.tokens(col(textCol)).as("w"))
      .select(col("doc_id"), col("n_letters"), col("n_upper"),
        size(col("w")).cast("long").as("n_tokens"),
        size(filter(col("w"), t => t.rlike("^[A-Z]{2,}$"))).cast("long")
          .as("n_caps_tokens"))
      .select(col("doc_id"), col("n_letters"), col("n_upper"),
        col("n_tokens"), col("n_caps_tokens"),
        when(col("n_letters") > 0,
          expr("(n_upper * 1048576) div n_letters")).as("upper_ratio_fp"),
        when(col("n_tokens") > 0,
          expr("(n_caps_tokens * 1048576) div n_tokens"))
          .as("caps_token_ratio_fp"))
      .orderBy(col("doc_id"))

  /** UNIGRAM SIMPSON CONCENTRATION — per group, the probability that
    * two token draws (without replacement) are the SAME term:
    * `λ = Σ c_t(c_t−1) / (N(N−1))`. This is the diversity-vs-template
    * dial entropy usually measures, WITHOUT entropy's `log` (the
    * q97/q105/q112 libm argument — `ln` differs across math libraries,
    * a collision probability is exact rational arithmetic): a group
    * dominated by templated text (error pages, listings, generated
    * spam) concentrates token mass on few terms and λ spikes, while
    * organic prose keeps λ near the background stopword level.
    * `top_share` (the most frequent term's mass share) rides along as
    * the "is it ONE term" refinement of the same signal.
    *
    * Scale shape: tokens explode row-locally; (group, term) counts are
    * ONE partial-aggregable groupBy; the per-group fold runs over the
    * already-reduced count frame. `c(c−1)` and `N(N−1)` fold as
    * DECIMAL(38,0) — at web scale a hot term's c² overflows BIGINT —
    * and the only IEEE ops are the two final casts and one division
    * (correctly rounded from exact integers, the q107 argument).
    * Single-token groups keep NULL λ (no pair to draw); groups whose
    * docs have zero word tokens vanish with the explode (the
    * documented token-stream contract). */
  def simpsonConcentration(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val dec = "DECIMAL(38,0)"
    val counts = docs.select(col(groupCol),
        explode(wordTokens(textCol)).as("t"))
      .groupBy(col(groupCol), col("t")).agg(count(lit(1)).as("c"))
    counts.groupBy(col(groupCol))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        max(col("c")).as("n_top"),
        sum(col("c").cast(dec) * (col("c") - 1).cast(dec)).as("__cc1"))
      .select(col(groupCol), col("n_tokens"), col("n_types"),
        col("n_top"),
        when(col("n_tokens") >= 2,
          col("__cc1").cast("double") /
            (col("n_tokens").cast(dec) *
              (col("n_tokens") - 1).cast(dec)).cast("double"))
          .as("simpson_idx"),
        (col("n_top").cast("double") / col("n_tokens").cast("double"))
          .as("top_share"))
      .orderBy(col(groupCol))
  }

  /** SKIP-GRAM PMI PAIRS — the non-adjacent association mining
    * [[collocationLift]]'s bigrams can't see: term pairs co-occurring
    * within ±`window` positions (any gap up to window−1 tokens), the
    * counting scheme under word-embedding co-occurrence matrices and
    * topic-pair mining ("data ... pipeline" with an insertion still
    * counts; an adjacent-only bigram miner loses it). Pairs are
    * UNORDERED (alphabetical normalization — skip-gram context is
    * symmetric); each co-occurrence counts once per position pair.
    *
    * Same engine-exact discipline as q97: the association score is
    * the log-free fixed-point lift `(c_ab·2²⁰·N) div (c_a·c_b)` —
    * rank-equivalent to PMI (log is monotone), no transcendentals.
    * Support floor BEFORE the unigram joins; ties at the top-k
    * boundary pinned (lift DESC, pair ASC).
    *
    * Scale shape: the pair explode is ≤ (window−1)·tokens rows —
    * row-local assembly, ONE partial-aggregable pair count, two
    * \|vocab\|-row joins, a one-row total append; the top-k is a
    * TakeOrdered over the floored pair frame. */
  def skipgramLift(docs: DataFrame, textCol: String, window: Int = 3,
      topK: Int = 20, minCount: Long = 5L): DataFrame = {
    require(window >= 2, s"need window >= 2, got $window")
    require(topK > 0 && minCount >= 1,
      s"need topK > 0 and minCount >= 1, got $topK/$minCount")
    val w = docs.select(TextHash.tokens(col(textCol)).as("w"))
    val uni = w.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val offsetArrays = (1 until window).map(o =>
      // the >= o+1 guard: sequence(1, 0) DESCENDS (the q97 lesson)
      s"""CASE WHEN size(w) >= ${o + 1} THEN
            transform(sequence(1, size(w) - $o), i ->
              IF(element_at(w, i) <= element_at(w, i + $o),
                concat(element_at(w, i), ' ', element_at(w, i + $o)),
                concat(element_at(w, i + $o), ' ', element_at(w, i))))
          ELSE cast(array() AS array<string>) END""")
    val pairs = w
      .select(explode(expr(
        s"flatten(array(${offsetArrays.mkString(", ")}))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
    val n = uni.agg(sum(col("c")).as("n_tokens"))
    pairs
      .withColumn("a", split(col("pair"), " ").getItem(0))
      .withColumn("b", split(col("pair"), " ").getItem(1))
      .join(uni.select(col("t").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("t").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(n))
      .select(col("pair"), col("c_ab"), col("c_a"), col("c_b"),
        expr("((CAST(c_ab AS DECIMAL(38,0)) * 1048576) * n_tokens) " +
          "div (CAST(c_a AS DECIMAL(38,0)) * c_b)").as("lift_fp"))
      .orderBy(col("lift_fp").desc, col("pair"))
      .limit(topK)
  }

  /** HEAPS-LAW VOCABULARY GROWTH — distinct terms seen after the
    * first N tokens of the corpus, on a fixed grid of N: the classic
    * sublinear vocab-vs-corpus curve (Heaps/Herdan), and the
    * capacity-planning number behind vocabulary builds ("how much
    * MORE vocab does doubling the crawl buy?"). q159's coverage curve
    * reads the head of a FIXED corpus; this reads vocabulary as a
    * function of corpus SIZE. The token order is the deterministic
    * (doc_id, position) order — [[graft.operators.Packing]]'s
    * two-phase global offset, never a corpus-wide window.
    *
    * Output per grid point: (point, n_tokens_seen = min(point, total),
    * vocab_size, type_token_ratio) — all exact counts, one division.
    *
    * Scale shape: the offset pass is Packing's K-scale two-phase
    * prefix; first occurrences are ONE partial-aggregable min per
    * term; the curve is a single ungrouped conditional fold over the
    * \|vocab\|-row frame (the q165 shape) unpivoted to \|points\|
    * rows. */
  def heapsCurve(docs: DataFrame, idCol: String, textCol: String,
      points: Seq[Long] = Seq(256L, 1024L, 4096L, 16384L, 65536L,
        262144L),
      scope: graft.engine.CacheScope = graft.engine.CacheScope.unmanaged)
      : DataFrame = {
    require(points.nonEmpty && points.forall(_ >= 1),
      s"need positive grid points, got $points")
    val offs = Packing.contiguousOffsets(docs, idCol, textCol,
      maxTokens = 1 << 30, scope = scope)
      .select(col("doc_id"), col("n_tokens"), col("global_offset"))
    val toks = docs.select(col(idCol).as("doc_id"),
      TextHash.tokens(col(textCol)).as("w"))
    val firsts = toks
      .join(offs.select(col("doc_id"), col("global_offset")),
        Seq("doc_id"))
      .select(col("global_offset"),
        posexplode(col("w")).as(Seq("p0", "t")))
      .select((col("global_offset") + col("p0") + 1).as("gpos"),
        col("t"))
      .groupBy(col("t")).agg(min(col("gpos")).as("fp"))
    val total = offs.agg(sum(col("n_tokens")).as("n_total"))
    val aggs = points.zipWithIndex.map { case (pt, i) =>
      sum(when(col("fp") <= pt, 1L).otherwise(0L)).as(s"v$i") }
    val wide = firsts.agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(total))
    val entries = points.zipWithIndex.map { case (pt, i) => struct(
      lit(pt).as("point"), col(s"v$i").as("vocab_size")) }
    wide.select(col("n_total"), explode(array(entries: _*)).as("e"))
      .select(col("e.point"),
        least(col("e.point"), col("n_total")).as("n_tokens_seen"),
        col("e.vocab_size"),
        (col("e.vocab_size").cast("double") /
          least(col("e.point"), col("n_total")).cast("double"))
          .as("type_token_ratio"))
      .orderBy(col("point"))
  }

  /** BOILERPLATE N-GRAM FRACTION — [[repetitionSignals]]' CROSS-DOC
    * sibling (that one flags text repeating within itself; this flags
    * text the CORPUS repeats): per document, the fraction of its
    * n-token windows whose hash appears in at least `minDf` distinct
    * documents — headers, footers, license blocks, navigation chrome,
    * templated disclaimers. The standard CCNet/C4-style signal a
    * curation team thresholds on AFTER q60's paragraph dedup (q60
    * removes exact repeated paragraphs; this scores the residue that
    * repeats at sub-paragraph granularity or with interleaved noise).
    *
    * Engine-exact: windows are the [[TextHash.windowHashesOf]] rolling
    * polynomial hashes (the q211 span machinery); counts are exact
    * longs; the fraction is one IEEE division. Docs with fewer than
    * `n` tokens have no windows and drop out (the tokenless-doc
    * contract).
    *
    * Scale shape: the occurrence stream is linear in corpus token
    * mass; document frequency is ONE partial-aggregable fold over
    * 8-byte hashes; the frequent set re-attaches by LEFT SEMI hash
    * join on the hash key (one row per hash on the build side — never
    * a pair explosion, so no df cap is needed, unlike the pair
    * screens). At 100 TB the df fold and the semi join shuffle hashes,
    * not text. */
  def boilerplateFraction(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 5, minDf: Int = 2,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    require(n >= 1 && minDf >= 2,
      s"need window n >= 1 and minDf >= 2: n=$n, minDf=$minDf")
    val occ = scope.persist(
      docs.select(col(idCol).as("doc_id"),
        explode(TextHash.windowHashesOf(col(textCol), n)).as("hs")))
    val frequent = occ.select(col("doc_id"), col("hs")).distinct()
      .groupBy(col("hs")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf).select(col("hs"))
    val tot = occ.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"))
    val boiler = occ.join(frequent, Seq("hs"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
    tot.join(boiler, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        col("n_boiler").cast("double") / col("n_windows").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** DSIR-STYLE IMPORTANCE WEIGHTS — the domain-targeted sampling
    * score (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): score every document by how much its
    * hashed-unigram profile looks like a TARGET domain versus the rest
    * of the corpus, so a sampler can upweight target-like raw data.
    * The published score is Σ_t c_t(d)·log(p_target(t)/p_raw(t)); `log`
    * is libm-bound (the q97/q105 discipline), and unlike the PMI lift
    * a SUM of logs has no monotone rational surrogate. The engine-exact
    * replacement: quantize each term's likelihood RATIO to its
    * floor-log2 BAND via an integer power-of-two comparison ladder —
    * band(t) = max k ∈ [-20, 20] with a ≥ b·2^k where
    * a = (c_target+1)·(N_raw+V), b = (c_raw+1)·(N_target+V) (add-one
    * smoothing over the union vocabulary V) — then score = Σ c_t·band.
    * All integer: cross-products bounded by N²·2²⁰ (decimal-38 /
    * HUGEINT-safe at 100 TB), no transcendentals anywhere; the one
    * IEEE double is the final per-token mean. 1-bit log resolution is
    * the honest trade for hash-exactness: ranking by dyadic ratio
    * bands preserves every ≥ 2× likelihood distinction, which is the
    * resolution importance RESAMPLING actually consumes.
    *
    * Scale shape: one token explode into a (doc, term) partial
    * aggregate; the per-term target/raw counts are a second
    * |vocab|-keyed partial fold; corpus totals are the documented
    * ONE-ROW broadcast scalar-append; scoring re-joins the persisted
    * (doc, term) frame to the banded vocabulary on the term key (hash
    * join on strings, vocab-bounded, never a pair explosion) and folds
    * per doc. Zero-token documents drop out (no profile to weigh —
    * the tokenless-doc contract [[qualityScores]] documents).
    *
    * Capability provenance: beyond the reference (its ETL has no
    * corpus-composition tooling; nearest is the grouped rollup shape
    * `bot_ventas.py:62-67`); required by the north-star pipeline's
    * sampling/mixing family next to [[Sampling.mixToTokenBudget]]. */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val dec = "DECIMAL(19,0)"
    // (doc, term) occurrence counts, carrying the doc's side flag
    val dtc = scope.persist(
      docs.select(col(idCol).as("doc_id"), targetPred.as("is_t"),
          explode(wordTokens(textCol)).as("t"))
        .groupBy(col("doc_id"), col("is_t"), col("t"))
        .agg(count(lit(1)).as("c")))
    val feat = dtc.groupBy(col("t")).agg(
      sum(when(col("is_t"), col("c")).otherwise(lit(0L))).as("ct"),
      sum(when(col("is_t"), lit(0L)).otherwise(col("c"))).as("cr"))
    val tot = feat.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"),
      count(lit(1)).as("v"))
    val a = (col("ct") + lit(1L)).cast(dec) *
      (col("nr") + col("v")).cast(dec)
    val b = (col("cr") + lit(1L)).cast(dec) *
      (col("nt") + col("v")).cast(dec)
    // max k in [-20, 20] with a >= b·2^k — exact integer comparisons,
    // first match wins scanning k downward (ELSE = -20)
    val ladder = (19 to -19 by -1).foldLeft(
      when(a >= b * lit(1L << 20), lit(20))) { (acc, k) =>
        if (k >= 0) acc.when(a >= b * lit(1L << k), lit(k))
        else acc.when(a * lit(1L << -k) >= b, lit(k))
      }.otherwise(lit(-20))
    val banded = feat.crossJoin(broadcast(tot))
      .select(col("t"), ladder.cast("long").as("band"))
    dtc.join(banded, Seq("t"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("band")).as("score_sum"))
      .select(col("doc_id"), col("n_tokens"), col("score_sum"),
        (col("score_sum").cast("double") / col("n_tokens").cast("double"))
          .as("avg_band"))
      .orderBy(col("doc_id"))
  }
}
