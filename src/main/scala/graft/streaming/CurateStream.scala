package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Scrub, TextAnalysis}

/** Streaming corpus curation — the incremental twin of the batch
  * funnel ([[graft.etl.CorpusPipeline]]): watermark-bounded exact
  * dedup → quality-band gate → repetition gate → PII + network
  * redaction, applied as documents arrive.
  *
  * Every gate and the redaction are the batch funnel's ROW-LOCAL
  * expressions ([[TextAnalysis.qualityBand]], [[TextAnalysis.dupGramRatio]],
  * [[Scrub.redact]]), so the only stateful operator in the stream is
  * [[DedupStream.uniqueDocs]]'s bounded dedup — state stays at the
  * watermark horizon regardless of corpus size, and the gates add zero
  * state. Near-dup dedup (LSH clustering) and paragraph-level
  * boilerplate removal deliberately stay batch-side: the former's
  * candidate joins and the latter's paragraph document-frequency both
  * need corpus-wide visibility that a bounded state store cannot give
  * (same argument as full-history exact dedup, see DedupStream's
  * scaladoc).
  *
  * Two documented deltas vs the batch funnel, both inherent to
  * streaming: (a) dedup keeps the FIRST ARRIVAL, where batch keeps the
  * min-id canonical — identical decisions whenever arrival order
  * follows ids, and always the same surviving TEXT set (duplicates are
  * byte-identical, so the gates judge the same content either way);
  * (b) duplicates separated by more than the watermark horizon pass
  * through and are left for the batch pass. CurateStreamSpec pins the
  * stream ≡ the batch stage pipeline on in-order drained input.
  */
object CurateStream {

  /** The curated stream: `docs` must be a STREAMING frame with
    * event-time `tsCol`. Output rows carry (idCol, tsCol, textCol) with
    * the text redacted — the rows the batch funnel would have written
    * to `clean/`. */
  def curatedDocs(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, delay: String, maxRepetition: Double = 0.5)
      : DataFrame = {
    val deduped = DedupStream.uniqueDocs(docs, textCol, tsCol, delay)
    val dup = TextAnalysis.dupGramRatio(col(textCol))
    deduped
      .where(TextAnalysis.qualityBand(col(textCol)) =!= "low")
      .where(dup.isNull || dup <= maxRepetition)
      .select(col(idCol), col(tsCol), Scrub.redact(col(textCol)).as(textCol))
  }
}
