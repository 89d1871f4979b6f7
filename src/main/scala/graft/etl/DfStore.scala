package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.functions.TextHash

/** Incremental document-frequency store — the PRODUCTION form of
  * [[graft.operators.TextAnalysis.boilerplateFraction]]'s df side
  * (q219): a live ingest doesn't re-scan the accumulated corpus to ask
  * "which n-gram windows are boilerplate"; it folds each arriving
  * batch's per-window DOCUMENT frequencies into a persisted (hash, df)
  * frame and answers boilerplate questions against the merged state.
  *
  * Merge law: document frequency is Σ over documents of an indicator,
  * so per-batch partial dfs merge by SUM — EXACT (the [[TrendStore]]
  * argument: integer counts, addition is the whole merge) under the
  * store's one delivery contract: batches PARTITION the corpus by
  * document. A document split across two ingests (or re-delivered)
  * would count twice; exactly-once per-document delivery is the
  * scheduler's job (the CMS counter caveat), and the spec pins the
  * batch-split ≡ one-shot equivalence that contract buys.
  *
  * The window span `n` is part of the store's identity: hashes from
  * different spans share no vocabulary, and summing them would be
  * silent corruption. It rides as column metadata on `df` (the
  * [[CmsStore]] width discipline) and reopening with a different span
  * fails fast.
  *
  * Scale shape: the batch fold is one distinct + one partial-aggregated
  * count over 8-byte hashes; the store holds the corpus's distinct
  * window vocabulary (never the corpus); reads merge by one hash-keyed
  * SUM; [[scoreBatch]] re-attaches the frequent set by LEFT SEMI hash
  * join — one build row per hash, no pair explosion, no df cap needed.
  */
final class DfStore(spark: SparkSession, storeDir: String, n: Int = 5) {
  require(n >= 1 && n <= 64, s"window span n=$n out of [1, 64]")

  private val store = new ParquetStore(spark, storeDir, "df store",
    stamp = Some("df" -> new MetadataBuilder().putLong("df_span", n.toLong)
      .build()))

  /** Fold one batch's per-window document frequencies into the store.
    * The batch must be a NEW, complete set of documents (the
    * partition-by-document contract above). */
  def ingest(docs: DataFrame, idCol: String, textCol: String): Unit =
    store.append(docs.select(col(idCol).as("doc_id"),
        explode(TextHash.windowHashesOf(col(textCol), n)).as("hs"))
      .distinct()
      .groupBy(col("hs")).agg(count(lit(1)).as("df")))

  /** The merged (hs, df) frame over everything ingested. */
  def dfCounts: DataFrame =
    store.read(spark.range(0).select(col("id").as("hs"), col("id").as("df")))
      .groupBy(col("hs")).agg(sum(col("df")).as("df"))

  /** The boilerplate vocabulary at a df threshold. */
  def frequent(minDf: Int = 2): DataFrame = {
    require(minDf >= 2, s"minDf=$minDf must be >= 2")
    dfCounts.where(col("df") >= minDf).select(col("hs"))
  }

  /** Per-doc boilerplate fraction of `docs` against the STORE's
    * corpus-wide frequencies — q219's output columns, with the df side
    * read from state instead of recomputed. Score after ingesting (a
    * batch scored before its own ingest sees only PRIOR batches'
    * dfs — the novelty reading, also legitimate, but not q219's). */
  def scoreBatch(docs: DataFrame, idCol: String, textCol: String,
      minDf: Int = 2): DataFrame = {
    val occ = docs.select(col(idCol).as("doc_id"),
      explode(TextHash.windowHashesOf(col(textCol), n)).as("hs"))
    val tot = occ.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"))
    val boiler = occ.join(frequent(minDf), Seq("hs"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
    tot.join(boiler, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        col("n_boiler").cast("double") / col("n_windows").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** Merge-on-compact ([[CmsStore.compact]]): rewrite the appends into
    * the merged frame. */
  def compact(): (Long, Long) = store.compact(dfCounts)
}
