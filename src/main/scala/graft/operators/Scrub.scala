package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII scrubbing for pretraining corpora: redact personally
  * identifying spans before anything downstream sees the text. Pure
  * row-local regexp work — codegen'd, no shuffle, linear in corpus
  * size; exactly the shape that runs as the first pass over 100 TB.
  *
  * Patterns deliberately stick to regex constructs with identical
  * semantics in Java regex and RE2 (character classes, bounded
  * quantifiers, no alternation/backtracking) so an external oracle
  * replays the same redactions byte-for-byte.
  */
object Scrub {

  /** Email addresses. `[.]` instead of `\.` on purpose: the pattern is
    * spliced into Spark SQL literals (which eat lone backslashes),
    * DataFrame-API strings and DuckDB literals (which don't) — a
    * backslash-free pattern means one spelling with one meaning in all
    * three. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"

  /** Standalone runs of 6+ digits (phone fragments, ids, SSN-ish). */
  val longDigitsRe = "[0-9]{6,}"

  /** Redacted text plus per-document counts of what was removed —
    * counts first (on the original), then replacement, emails before
    * digit runs so an address's digits aren't double-counted. */
  def redactPii(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      size(expr(s"regexp_extract_all($textCol, '$emailRe', 0)"))
        .as("n_emails"),
      size(expr(
        s"regexp_extract_all(regexp_replace($textCol, '$emailRe', '<EMAIL>'), '$longDigitsRe', 0)"))
        .as("n_digit_runs"),
      maskPii(col(textCol)).as("redacted"))

  private def maskPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailRe, "<EMAIL>"),
      longDigitsRe, "<NUM>")

  /** URLs, scheme-anchored with a greedy path class. A trailing
    * sentence dot can be absorbed into the match — acceptable for
    * redaction (the span was getting removed anyway) and, like every
    * pattern here, byte-identical in Java regex and RE2. */
  val urlRe = "https?://[A-Za-z0-9./_%?=&#-]+"

  /** Dotted-quad IPv4. No word anchors (`\\b` is backslash territory —
    * see [[emailRe]]'s splicing note), so a dotted version string also
    * redacts; deliberate over-redaction, mirrored by the oracle. */
  val ipv4Re = "([0-9]{1,3}[.]){3}[0-9]{1,3}"

  /** Network-identifier redaction: URLs then IPv4s — URL FIRST, because
    * a URL's host may itself be a dotted quad and must come out as one
    * `<URL>`, not a `<IP>` embedded in link text. Counts follow the
    * redactPii discipline: each pattern counted on the text its
    * replacement actually sees. */
  def redactNetwork(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      size(expr(s"regexp_extract_all($textCol, '$urlRe', 0)"))
        .as("n_urls"),
      size(expr(
        s"regexp_extract_all(regexp_replace($textCol, '$urlRe', '<URL>'), '$ipv4Re', 0)"))
        .as("n_ips"),
      maskNetwork(col(textCol)).as("redacted"))

  private def maskNetwork(text: Column): Column =
    regexp_replace(regexp_replace(text, urlRe, "<URL>"), ipv4Re, "<IP>")

  /** The full redaction of one text, row-local: [[redactPii]]'s
    * `redacted` (e-mails, then digit runs) fed through
    * [[redactNetwork]]'s (URLs, then IPs). The redaction step of the
    * curation funnel and its streaming twin. */
  def redact(text: Column): Column = maskNetwork(maskPii(text))

  /** ENCODING HEALTH AUDIT — the mojibake screen of an ingest
    * pipeline: per group, how many docs carry C0 control characters
    * (binary leaked into text), U+FFFD replacement characters (a
    * decode ALREADY failed upstream — the bytes are gone, the marker
    * is all that's left), or zero-width characters (invisible
    * ZWSP/ZWJ/BOM debris that splits tokens silently and poisons
    * dedup hashes — two visually identical docs hash apart). Feeds
    * with high rates get a transcoding fix, not a filter: the
    * replacement-char rate especially is a SOURCE defect counter.
    *
    * Row-local `rlike` probes (codegen'd), one partial-aggregated
    * counter pass — the [[graft.operators.Rules]] audit discipline.
    * Tab/newline/CR are NOT counted as control defects (they are
    * legitimate text whitespace). */
  def encodingHealth(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    // escape sequences live in the PATTERN, never raw chars in source
    // (the DiffProps NUL lesson): C0 minus tab/newline/CR, U+FFFD,
    // and the ZWSP..ZWJ band + BOM/ZWNBSP
    val control = col(textCol)
      .rlike("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    val replacement = col(textCol).rlike("\\uFFFD")
    val zeroWidth = col(textCol).rlike("[\\u200B-\\u200D\\uFEFF]")
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(control, 1L).otherwise(0L)).as("n_control"),
        sum(when(replacement, 1L).otherwise(0L)).as("n_replacement"),
        sum(when(zeroWidth, 1L).otherwise(0L)).as("n_zero_width"))
      .withColumn("defect_rate",
        (col("n_control") + col("n_replacement") + col("n_zero_width"))
          .cast("double") / col("n_docs").cast("double"))
      .orderBy(col(groupCol))
  }

  /** K-ANONYMITY / L-DIVERSITY AUDIT — the privacy gate's other half
    * ([[redactPii]] masks direct identifiers; this measures
    * RE-IDENTIFICATION risk from the quasi-identifiers that remain):
    * a quasi-identifier combination shared by fewer than `k` rows
    * pinpoints individuals (k-anonymity), and a group whose sensitive
    * column holds fewer than `l` distinct values leaks the attribute
    * even when the group is large (l-diversity — everyone in the
    * group shares the secret). Output: one row per VIOLATING
    * quasi-group with its size and distinct-sensitive count, the
    * worklist a release gate suppresses or generalizes before data
    * leaves the curation boundary.
    *
    * NULL semantics: NULL quasi-values group together (a missing zip
    * is itself a quasi-identifier value); the distinct-sensitive
    * count uses the [[Rules.fdAudit]] pair-fold convention — NULL is
    * a DISTINCT assertion, so `{x, NULL}` counts 2 (a null-sensitive
    * row still separates the group), making the l-gate conservative
    * in the safe direction.
    *
    * Scale shape: one partial-aggregated pass to (quasi…, sensitive)
    * pair counts — the shuffle carries pair cardinality, not rows —
    * then a |pairs|-keyed fold to group stats; the violation filter
    * prunes before anything is ordered. */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, k: Long = 5L, l: Long = 2L): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(k >= 1 && l >= 1, s"need k >= 1 and l >= 1, got k=$k l=$l")
    val bad = (quasiCols :+ sensitiveCol).filterNot(df.columns.contains)
    require(bad.isEmpty, s"unknown columns: $bad")
    val qs = quasiCols.map(col)
    val pairs = df.groupBy(qs :+ col(sensitiveCol).as("__s"): _*)
      .agg(count(lit(1)).as("__rows"))
    pairs.groupBy(qs: _*)
      .agg(sum(col("__rows")).as("n_rows"),
        count(lit(1)).as("n_distinct_sensitive"))
      .withColumn("k_violation", col("n_rows") < k)
      .withColumn("l_violation", col("n_distinct_sensitive") < l)
      .where(col("k_violation") || col("l_violation"))
      .orderBy(quasiCols.map(c => col(c).asc_nulls_first): _*)
  }

  /** T-CLOSENESS AUDIT — the third privacy rung ([[kAnonymityAudit]]
    * covers k and l): a quasi-group can be large (k-safe) and carry
    * many distinct sensitive values (l-safe) yet still leak —
    * "every 30-something in src3 has a SHORT document" is an
    * inference even though the group has 50 rows and 12 values.
    * t-closeness (Li, Li & Venkatasubramanian, ICDE 2007) bounds the
    * DISTANCE between each group's sensitive-value distribution and
    * the global one. Distance here is total variation — the q112
    * engine-exact choice (the paper's EMD needs a value metric and a
    * transport solve; TV is the metric-free instance every engine can
    * replay exactly):
    * TV_g = [Σ_{v∈g} |c_gv·N − c_v·n_g| + (N − s_g)·n_g] / (2·n_g·N)
    * with s_g = Σ_{v∈g} c_v — the closed-form tail counts the values
    * the group never shows (their group probability is 0, so they
    * contribute their full global mass). All-integer numerator; ONE
    * IEEE division renders the distance; the violation flag compares
    * CROSS-MULTIPLIED integers against the dyadic threshold
    * `tNum/tDen`, so the boundary cannot flip between engines.
    *
    * Scale shape: one partial-aggregated (quasi, value) pair fold —
    * the shuffle carries pair cardinality, not rows — then a
    * |values|-keyed fold and a |groups|-keyed fold re-attached by
    * hash join; the global count is the documented ONE-ROW broadcast
    * scalar-append. Nothing row-scale is ever joined pairwise. */
  def tClosenessAudit(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, tNum: Long = 3L, tDen: Long = 8L)
      : DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(tNum >= 0 && tDen >= 1, s"bad threshold $tNum/$tDen")
    val bad = (quasiCols :+ sensitiveCol).filterNot(df.columns.contains)
    require(bad.isEmpty, s"unknown columns: $bad")
    val dec = "DECIMAL(19,0)"
    val qs = quasiCols.map(col)
    // NULL keys are GROUPS here (the kAnonymityAudit convention: a
    // null quasi-value identifies a cohort, a null sensitive value is
    // a distinct assertion), so every re-join below must be null-safe
    // — a plain equi-join would silently drop exactly the null-keyed
    // rows a privacy audit must keep. Struct keys give null-safe
    // equality in one column (and one join key).
    val pairs = df
      .select(struct(qs: _*).as("__qk"), col(sensitiveCol).as("__s"))
      .groupBy(col("__qk"), col("__s"))
      .agg(count(lit(1)).as("__c_gv"))
    val vtot = pairs.groupBy(col("__s").as("__sv"))
      .agg(sum(col("__c_gv")).as("__c_v"))
    val ntot = vtot.agg(sum(col("__c_v")).as("__n"))
    val gtot = pairs.groupBy(col("__qk").as("__gk"))
      .agg(sum(col("__c_gv")).as("__n_g"))
    val folded = pairs
      .join(vtot, col("__s") <=> col("__sv")).drop("__sv")
      .join(gtot, col("__qk") <=> col("__gk")).drop("__gk")
      .crossJoin(broadcast(ntot))
      .groupBy(col("__qk"), col("__n_g"), col("__n"))
      .agg(sum(abs(col("__c_gv").cast(dec) * col("__n").cast(dec) -
          col("__c_v").cast(dec) * col("__n_g").cast(dec)))
          .as("__shared"),
        sum(col("__c_v")).as("__s_g"))
    val numerator = col("__shared") +
      (col("__n") - col("__s_g")).cast(dec) * col("__n_g").cast(dec)
    val outQs = quasiCols.map(c => col("__qk").getField(c).as(c))
    folded
      .select(outQs :+ col("__n_g").as("n_rows") :+
        numerator.as("__num") :+
        (lit(2L).cast(dec) * col("__n_g").cast(dec) *
          col("__n").cast(dec)).as("__den"): _*)
      .select(quasiCols.map(col) :+ col("n_rows") :+
        (col("__num").cast("double") / col("__den").cast("double"))
          .as("tv_distance") :+
        (col("__num") * lit(tDen).cast(dec) >
          col("__den") * lit(tNum).cast(dec)).as("t_violation"): _*)
      .orderBy(quasiCols.map(c => col(c).asc_nulls_first): _*)
  }

  /** RECURSIVE (c,l)-DIVERSITY AUDIT — the stronger form of
    * [[kAnonymityAudit]]'s count-based l-gate (Machanavajjhala et al.,
    * TKDD 2007 §4): a group can hold `l` distinct sensitive values yet
    * still leak when one value DOMINATES ("29 of 30 rows say X; the
    * other values are alibis"). A group is recursively (c,l)-diverse
    * when `r₁ < c·(r_l + r_{l+1} + … + r_m)` — the top frequency is
    * bounded by `c` times the mass OUTSIDE the l−1 most frequent
    * values. The entropy variant needs logs, which have no
    * engine-portable form (the BM25/PMI lesson); the recursive form is
    * the real published metric AND pure integer arithmetic, so the
    * repo gets the stronger gate exactly rather than a weaker one
    * approximately.
    *
    * Output: EVERY quasi-group with its size, distinct-sensitive
    * count, top frequency, tail mass, and the `diverse` verdict
    * (cross-multiplied `r₁·cDen < cNum·tail`, `c = cNum/cDen` — a
    * rational c cannot flip between engines). The full table, not a
    * violations-only worklist: the release decision needs the margins
    * of the PASSING groups too (a group at `r₁ = c·tail − 1` is one
    * ingest away from leaking). NULL semantics follow
    * [[kAnonymityAudit]]: NULL quasi-values group together, a NULL
    * sensitive value is its own value.
    *
    * Tie note: positions among equal frequencies are interchangeable —
    * `r₁` is the max and the tail mass sums equal values whichever
    * side of position `l` they land on — so the row_number tie-break
    * never changes the output and engines cannot disagree.
    *
    * Scale shape: one partial-aggregated (quasi…, sensitive) pair
    * fold (shuffle carries pair cardinality, not rows), a keyed
    * window over each group's |values| frame, one |pairs|-keyed
    * fold. */
  def recursiveLDiversity(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, cNum: Long = 2L, cDen: Long = 1L,
      l: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(cNum >= 1 && cDen >= 1, s"need c > 0, got $cNum/$cDen")
    require(l >= 2, s"need l >= 2, got l=$l")
    val bad = (quasiCols :+ sensitiveCol).filterNot(df.columns.contains)
    require(bad.isEmpty, s"unknown columns: $bad")
    val qs = quasiCols.map(col)
    val pairs = df.groupBy(qs :+ col(sensitiveCol).as("__sv"): _*)
      .agg(count(lit(1)).as("__r"))
    val w = Window.partitionBy(qs: _*)
      .orderBy(col("__r").desc, col("__sv"))
    pairs.withColumn("__pos", row_number().over(w))
      .groupBy(qs: _*)
      .agg(sum(col("__r")).as("n_rows"),
        count(lit(1)).as("n_distinct_sv"),
        max(when(col("__pos") === 1, col("__r"))).as("r_top"),
        sum(when(col("__pos") >= l, col("__r")).otherwise(0L))
          .as("tail_mass"))
      .withColumn("diverse",
        col("r_top") * cDen < lit(cNum) * col("tail_mass"))
      .orderBy(quasiCols.map(c => col(c).asc_nulls_first): _*)
  }
}
