package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.{Dec, Tables}
import graft.operators.{Cohorts, Dedup, Diff, Drift, Joins, Multimodal, Packing, Profiling, Quantize, Retrieval, Rolling, Rules, Sampling, Scd, Scrub, SemiStructured, Similarity, Sketch, Skew, TextAnalysis, Trend}

/** [[Ext]] family: profiling, drift and distribution diagnostics — queries q62, q69, q74, q79, q83, q88, q93, q95, q102, q108, q111, q115, q120, q126, q127, q135, q136, q141, q146, q147, q163, q165, q166, q167, q173, q175, q176, q180, q182, q185, q193, q199, q200, q225.
  * Split from the monolithic Ext.scala in round 12
  * (pure relocation; helpers live in [[ExtHelpers]]). */
private[queries] trait ExtProfilingQ { self: ExtHelpers =>
  // ---------------------------------------------------------------- q62
  /** q62 — data-quality column profile (the pre-flight before trusting
    * a new table): per column, row/null/exact-distinct counts from ONE
    * partial-aggregable pass; the unpivot to long form happens on the
    * 1-row aggregate, never the table. Counts only — min/max would
    * need per-type rendering to stay engine-portable. */
  val q62: Q = Q(
    "q62_column_profile",
    (s, d) =>
      Profiling.columnProfile(Tables.orders(s, d),
        Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
          "o_orderpriority")),
    Some("""
      WITH m AS (
        SELECT 'o_custkey' AS column_name,
          CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_nulls,
          count(DISTINCT o_custkey) AS n_distinct, count(*) AS n_rows
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus',
          CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
          count(DISTINCT o_orderstatus), count(*) FROM orders
        UNION ALL
        SELECT 'o_totalprice',
          CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
          count(DISTINCT o_totalprice), count(*) FROM orders
        UNION ALL
        SELECT 'o_orderdate',
          CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
          count(DISTINCT o_orderdate), count(*) FROM orders
        UNION ALL
        SELECT 'o_orderpriority',
          CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
          count(DISTINCT o_orderpriority), count(*) FROM orders)
      SELECT column_name, n_rows, n_nulls, n_distinct
      FROM m ORDER BY column_name
    """.trim))

  // ---------------------------------------------------------------- q69
  /** q69 — daily event-mix drift: exact integer L1 distance between
    * consecutive days' event-type distributions (the ingest-health
    * alarm). Timestamps follow q34's ns-long → µs lift; the day is cut
    * in UTC on both engines. */
  val q69: Q = Q(
    "q69_event_drift",
    (s, d) =>
      Drift.dailyMixDrift(
        eventsUs(s, d),
        to_date(timestamp_micros(col("ts_us"))), "event_type"),
    Some("""
      WITH bd AS (
        SELECT CAST(ts AS DATE) AS day, event_type AS t, count(*) AS c
        FROM events GROUP BY 1, 2),
      tot AS (SELECT day, CAST(sum(c) AS BIGINT) AS n FROM bd GROUP BY day),
      pv AS (SELECT day + 1 AS day, t, c AS cp FROM bd),
      pt AS (SELECT day + 1 AS day, n AS np FROM tot),
      pairs AS (
        SELECT day, t, COALESCE(c, 0) AS c, COALESCE(cp, 0) AS cp
        FROM bd FULL JOIN pv USING (day, t)),
      j AS (SELECT pairs.day AS day, c, cp, n, np
            FROM pairs JOIN tot USING (day) JOIN pt USING (day))
      SELECT day, n AS n_events,
        CAST((sum(abs(c * np - cp * n)) * 1048576) // (n * np) AS BIGINT)
          AS drift_fp
      FROM j GROUP BY day, n, np ORDER BY day
    """.trim))

  // ---------------------------------------------------------------- q74
  /** q74 — equi-width histograms over the fact's numeric columns (the
    * distribution half of q62's profile; optimizer-stats / skew-
    * diagnosis input). Widths are powers of two so bucket assignment
    * is a pure IEEE exponent shift — exact on every engine; ONE scan,
    * row-local explode, one tiny (column, bucket) aggregate. */
  val q74: Q = Q(
    "q74_histogram",
    (s, d) =>
      Profiling.histogram(Tables.lineitem(s, d), Seq(
        "l_quantity" -> 8.0, "l_extendedprice" -> 4096.0,
        "l_discount" -> 0.015625, "l_tax" -> 0.015625)),
    Some("""
      SELECT column_name, bucket, bucket_lo, count(*) AS n_rows FROM (
        SELECT 'l_quantity' AS column_name,
          CAST(floor(l_quantity / 8.0) AS BIGINT) AS bucket,
          CAST(floor(l_quantity / 8.0) AS BIGINT) * 8.0 AS bucket_lo
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice',
          CAST(floor(l_extendedprice / 4096.0) AS BIGINT),
          CAST(floor(l_extendedprice / 4096.0) AS BIGINT) * 4096.0
        FROM lineitem
        UNION ALL
        SELECT 'l_discount',
          CAST(floor(l_discount / 0.015625) AS BIGINT),
          CAST(floor(l_discount / 0.015625) AS BIGINT) * 0.015625
        FROM lineitem
        UNION ALL
        SELECT 'l_tax',
          CAST(floor(l_tax / 0.015625) AS BIGINT),
          CAST(floor(l_tax / 0.015625) AS BIGINT) * 0.015625
        FROM lineitem)
      GROUP BY 1, 2, 3
      ORDER BY column_name, bucket NULLS FIRST
    """.trim))

  // ---------------------------------------------------------------- q79
  /** q79 — ingest-completeness matrix over the high-value event stream
    * (value ≥ 300 keeps the grid SPARSE, so the zero-fill path — the
    * whole point of the operator — is exercised, not just present):
    * one row per (event_type, day) across the observed span, zero
    * cells included. The q69 drift alarm's prior question: before
    * asking whether the mix shifted, ask whether anything arrived. */
  val q79: Q = Q(
    "q79_ingest_gaps",
    (s, d) =>
      Drift.ingestCompleteness(
        eventsUs(s, d).where(col("value") >= 300),
        to_date(timestamp_micros(col("ts_us"))), "event_type"),
    Some("""
      WITH b AS (
        SELECT CAST(ts AS DATE) AS day, event_type AS t
        FROM events WHERE value >= 300),
      obs AS (SELECT day, t, count(*) AS n FROM b GROUP BY 1, 2),
      span AS (SELECT min(day) AS lo, max(day) AS hi FROM b),
      types AS (SELECT DISTINCT t FROM b),
      alld AS (
        SELECT t, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE
          AS day
        FROM types, span)
      SELECT alld.t AS event_type, alld.day AS day,
        CAST(COALESCE(n, 0) AS BIGINT) AS n_events
      FROM alld LEFT JOIN obs ON alld.day = obs.day AND alld.t = obs.t
      ORDER BY 1, 2
    """.trim))

  // ---------------------------------------------------------------- q83
  /** q83 — robust daily-volume anomaly per event type: the median/MAD
    * robust z-score ((n − median) / MAD), the third monitoring rung
    * after q69 (mix shift) and q79 (delivery gaps). Median and MAD of
    * integer counts land on the 0.5/0.25 dyadic grids (the q45 trick),
    * so the score is one IEEE division of exact values — portable.
    * Constant-history types (MAD 0) score NULL. */
  val q83: Q = Q(
    "q83_volume_anomaly",
    (s, d) =>
      Drift.dailyVolumeAnomaly(
        eventsUs(s, d),
        to_date(timestamp_micros(col("ts_us"))), "event_type"),
    Some("""
      WITH b AS (
        SELECT CAST(ts AS DATE) AS day, event_type AS t FROM events),
      c AS (SELECT t, day, count(*) AS n FROM b GROUP BY 1, 2),
      med AS (SELECT t, quantile_cont(n, 0.5) AS m FROM c GROUP BY 1),
      dev AS (
        SELECT c.t, c.day, n, m, abs(n - m) AS d
        FROM c JOIN med USING (t)),
      mad AS (SELECT t, quantile_cont(d, 0.5) AS md FROM dev GROUP BY 1)
      SELECT dev.t AS event_type, dev.day AS day,
        CAST(n AS BIGINT) AS n_events,
        CASE WHEN md = 0 THEN NULL ELSE (n - m) / md END AS score
      FROM dev JOIN mad USING (t)
      ORDER BY 1, 2
    """.trim))

  // ---------------------------------------------------------------- q88
  /** q88 — equi-depth histograms over lineitem's integer-valued
    * columns: ~25% of rows per bucket split at the exact dyadic
    * 25/50/75 percentiles (integer-valued inputs ⇒ the interpolated
    * threshold is an exact rational on both engines — the q45/q50
    * trick one step further); NULLs in the accounted −1 bucket. */
  val q88: Q = Q(
    "q88_equidepth_histogram",
    (s, d) =>
      Profiling.equiDepthHistogram(Tables.lineitem(s, d),
        Seq("l_quantity", "l_linenumber", "l_suppkey")),
    Some("""
      WITH th AS (
        SELECT quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS qq,
          quantile_cont(l_linenumber, [0.25, 0.5, 0.75]) AS ql,
          quantile_cont(l_suppkey, [0.25, 0.5, 0.75]) AS qs
        FROM lineitem),
      e AS (
        SELECT 'l_quantity' AS column_name, CASE
          WHEN l_quantity IS NULL THEN -1
          WHEN l_quantity <= qq[1] THEN 0
          WHEN l_quantity <= qq[2] THEN 1
          WHEN l_quantity <= qq[3] THEN 2 ELSE 3 END AS bucket
        FROM lineitem, th
        UNION ALL
        SELECT 'l_linenumber', CASE
          WHEN l_linenumber IS NULL THEN -1
          WHEN l_linenumber <= ql[1] THEN 0
          WHEN l_linenumber <= ql[2] THEN 1
          WHEN l_linenumber <= ql[3] THEN 2 ELSE 3 END
        FROM lineitem, th
        UNION ALL
        SELECT 'l_suppkey', CASE
          WHEN l_suppkey IS NULL THEN -1
          WHEN l_suppkey <= qs[1] THEN 0
          WHEN l_suppkey <= qs[2] THEN 1
          WHEN l_suppkey <= qs[3] THEN 2 ELSE 3 END
        FROM lineitem, th)
      SELECT column_name, CAST(bucket AS INT) AS bucket,
        count(*) AS n_rows
      FROM e GROUP BY 1, 2 ORDER BY 1, 2
    """.trim))

  // ---------------------------------------------------------------- q93
  /** q93 — per-stratum percentile normalization
    * ([[Profiling.stratumPercentile]]): each doc's length percentile
    * WITHIN its language — the per-stratum rank that makes "keep each
    * language's top quartile" a one-filter curation policy where a
    * global cut would starve compact-alphabet languages. Exact-integer
    * rank arithmetic, one IEEE division, identical percent_rank
    * definition on both engines. */
  val q93: Q = Q(
    "q93_stratum_percentile",
    (s, d) =>
      Profiling.stratumPercentile(
        Tables.documents(s, d).select(col("doc_id"), col("lang"),
          col("n_chars")),
        "lang", "n_chars")
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id, lang, n_chars,
        percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pct
      FROM documents ORDER BY doc_id
    """.trim))

  // ---------------------------------------------------------------- q95
  /** q95 — numeric distribution drift ([[Drift.histogramDrift]]):
    * value-distribution L1 between two event slices on a shared
    * dyadic bucket grid — q69's alarm for CONTINUOUS signals (loss
    * spikes, unit changes). PSI/KL deliberately avoided: `ln` is not
    * engine-portable, the exact-integer L1 carries the alarm. */
  val q95: Q = Q(
    "q95_value_drift",
    (s, d) => {
      val e = Tables.events(s, d)
      Drift.histogramDrift(
        e.where(col("event_type") === "view").select(col("value")),
        e.where(col("event_type") === "purchase").select(col("value")),
        "value", 64.0)
    },
    Some("""
      WITH o AS (
        SELECT CAST(COALESCE(floor(value / 64.0),
          -9223372036854775808) AS BIGINT) AS bucket
        FROM events WHERE event_type = 'view'),
      n AS (
        SELECT CAST(COALESCE(floor(value / 64.0),
          -9223372036854775808) AS BIGINT) AS bucket
        FROM events WHERE event_type = 'purchase'),
      oc AS (SELECT bucket, count(*) AS c_old FROM o GROUP BY 1),
      nc AS (SELECT bucket, count(*) AS c_new FROM n GROUP BY 1),
      j AS (
        SELECT COALESCE(oc.bucket, nc.bucket) AS bucket,
          COALESCE(c_old, 0) AS c_old, COALESCE(c_new, 0) AS c_new
        FROM oc FULL JOIN nc ON oc.bucket = nc.bucket),
      t AS (SELECT sum(c_old) AS n_old, sum(c_new) AS n_new FROM j)
      SELECT CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
        count(*) AS n_buckets,
        CAST((sum(abs(c_new * n_old - c_old * n_new)) * 1048576)
          // (n_old * n_new) AS BIGINT) AS drift_fp
      FROM j, t GROUP BY n_old, n_new
    """.trim))

  // --------------------------------------------------------------- q102
  /** q102 — winsorization ([[Profiling.winsorize]]): clamp
    * `events.value` to its exact [p01, p99] interpolated percentiles —
    * robust outlier damping that keeps the rows (unlike a filter),
    * the cleaning step between profiling and training. The percentile
    * is q88's proven-portable aggregate; the clip is a row-local CASE
    * over the broadcast one-row bounds. */
  val q102: Q = Q(
    "q102_winsorize",
    (s, d) =>
      Profiling.winsorize(
        Tables.events(s, d).select(col("event_id"), col("value")),
        "value", pLo = 0.01, pHi = 0.99)
        .orderBy(col("event_id")),
    Some("""
      WITH th AS (
        SELECT quantile_cont(value, [0.01, 0.99]) AS t FROM events)
      SELECT event_id, value, t[1] AS lo, t[2] AS hi,
        CASE WHEN value < t[1] THEN t[1]
             WHEN value > t[2] THEN t[2]
             ELSE value END AS clipped
      FROM events, th ORDER BY event_id
    """.trim))

  // --------------------------------------------------------------- q108
  /** q108 — MAD outlier flags ([[Profiling.madOutliers]]): the robust
    * `|x − median| > k·MAD` labeller — both center and spread are
    * interpolated percentiles (the q88/q102-proven portable pair), the
    * flag one IEEE comparison; rows are kept, not dropped ([[q102]]
    * clips, this one labels). */
  val q108: Q = Q(
    "q108_mad_outliers",
    (s, d) =>
      Profiling.madOutliers(
        Tables.events(s, d).select(col("event_id"), col("value")),
        "value", k = 3.0)
        .orderBy(col("event_id")),
    Some("""
      WITH m AS (SELECT quantile_cont(value, 0.5) med FROM events),
      s AS (
        SELECT quantile_cont(abs(value - med), 0.5) mad, min(med) med
        FROM events, m)
      SELECT event_id, value, mad, med,
        (abs(value - med) > 3.0 * mad) AS is_outlier
      FROM events, s ORDER BY event_id
    """.trim))

  // --------------------------------------------------------------- q111
  /** q111 — mergeable grid percentile ([[Profiling.gridPercentile]]):
    * the bounded-state percentile — dyadic-width bin counters (the
    * q74 histogram contract), answer = lower edge of the first bin
    * whose cumulative count reaches `ceil(p·N)`, error ≤ width by
    * construction. The state is one counter per non-empty bin, so the
    * same sketch serves single-pass 100 TB profiling, incremental
    * stores, and streaming accumulation where the exact `percentile`
    * aggregate's value-multiset state would spill
    * (GridPercentileSpec pins bin-count mergeability:
    * batch-split ≡ one-shot). Engine-exact throughout: dyadic bins,
    * long counters, one IEEE multiply before `ceil`. */
  val q111: Q = Q(
    "q111_grid_percentile",
    (s, d) =>
      Profiling.gridPercentile(Tables.events(s, d), "value",
        width = 0.25, ps = Seq(0.25, 0.5, 0.9, 0.99)),
    Some("""
      WITH b AS (
        SELECT CAST(floor(value / 0.25e0) AS BIGINT) AS bin,
          CAST(count(*) AS BIGINT) AS n
        FROM events WHERE value IS NOT NULL GROUP BY 1),
      c AS (
        SELECT bin, n, CAST(sum(n) OVER (ORDER BY bin
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM b),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS n_values FROM b),
      p AS (SELECT CAST(unnest([0.25e0, 0.5e0, 0.9e0, 0.99e0])
        AS DOUBLE) AS p),
      x AS (
        SELECT p.p, t.n_values,
          CAST(ceil(p.p * t.n_values) AS BIGINT) AS target_rank,
          min(c.bin) AS bin
        FROM p CROSS JOIN t
        JOIN c ON c.cum >= CAST(ceil(p.p * t.n_values) AS BIGINT)
        GROUP BY 1, 2, 3)
      SELECT p, n_values, target_rank,
        CAST(bin AS DOUBLE) * 0.25e0 AS est_percentile
      FROM x ORDER BY p
    """.trim))

  // --------------------------------------------------------------- q115
  /** q115 — one-pass correlation matrix
    * ([[Profiling.correlationMatrix]]): Pearson r for every numeric
    * column pair from exact fixed-point moment sums — the redundancy
    * map read before feature selection. NOT Spark's `corr` (running
    * float means whose accumulation order a distributed engine can't
    * pin): integer moments on the 2^-20 grid, three IEEE ops at the
    * end, ONE pass for all pairs. */
  val q115: Q = Q(
    "q115_correlation_matrix",
    (s, d) =>
      Profiling.correlationMatrix(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount")),
    Some("""
      WITH c AS (
        SELECT CAST(floor(l_quantity * 1048576.0) AS BIGINT) f0,
          CAST(floor(l_extendedprice * 1048576.0) AS BIGINT) f1,
          CAST(floor(l_discount * 1048576.0) AS BIGINT) f2
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
          AND l_discount IS NOT NULL),
      m AS (
        SELECT CAST(count(*) AS HUGEINT) n,
          sum(CAST(f0 AS HUGEINT)) s0, sum(CAST(f1 AS HUGEINT)) s1,
          sum(CAST(f2 AS HUGEINT)) s2,
          sum(CAST(f0 AS HUGEINT) * f0) q0,
          sum(CAST(f1 AS HUGEINT) * f1) q1,
          sum(CAST(f2 AS HUGEINT) * f2) q2,
          sum(CAST(f0 AS HUGEINT) * f1) p01,
          sum(CAST(f0 AS HUGEINT) * f2) p02,
          sum(CAST(f1 AS HUGEINT) * f2) p12
        FROM c),
      e AS (
        SELECT 'l_quantity' a, 'l_extendedprice' b, n,
          n * p01 - s0 * s1 num, n * q0 - s0 * s0 dx,
          n * q1 - s1 * s1 dy FROM m
        UNION ALL SELECT 'l_quantity', 'l_discount', n,
          n * p02 - s0 * s2, n * q0 - s0 * s0, n * q2 - s2 * s2 FROM m
        UNION ALL SELECT 'l_extendedprice', 'l_discount', n,
          n * p12 - s1 * s2, n * q1 - s1 * s1, n * q2 - s2 * s2 FROM m)
      SELECT a AS column_a, b AS column_b, CAST(n AS BIGINT) AS n,
        CAST(num AS DOUBLE) /
          (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE))) AS r
      FROM e WHERE dx > 0 AND dy > 0
      ORDER BY column_a, column_b
    """.trim))

  // --------------------------------------------------------------- q120
  /** q120 — Benford first-digit profile ([[Profiling.benfordProfile]]):
    * observed vs expected first-significant-digit shares, the
    * data-forensics screen for fabricated / clipped / unit-glitched
    * feeds. Profiles the multi-decade `l_extendedprice` (tracks
    * Benford) beside the bounded `l_quantity` (legitimately doesn't) —
    * the screen-not-verdict contrast. Digit from exact-integer decimal
    * rendering, expectations as fixed literals — no libm log10 in
    * either engine. */
  val q120: Q = Q(
    "q120_benford_profile",
    (s, d) =>
      Profiling.benfordProfile(Tables.lineitem(s, d),
        Seq("l_extendedprice", "l_quantity")),
    Some("""
      WITH e AS (
        SELECT col, CAST(substring(CAST(CAST(floor(v) AS BIGINT)
          AS VARCHAR), 1, 1) AS INT) digit
        FROM (
          SELECT 'l_extendedprice' col, l_extendedprice v FROM lineitem
          UNION ALL SELECT 'l_quantity', l_quantity FROM lineitem) t
        WHERE v >= 1),
      c AS (
        SELECT col column_name, digit, CAST(count(*) AS BIGINT) n_rows
        FROM e GROUP BY 1, 2),
      w AS (
        SELECT *, CAST(sum(n_rows) OVER (PARTITION BY column_name)
          AS BIGINT) n_col
        FROM c),
      x AS (
        SELECT column_name, digit, n_rows,
          CAST(n_rows AS DOUBLE) / CAST(n_col AS DOUBLE) AS share,
          CASE digit
            WHEN 1 THEN 0.3010299956639812e0
            WHEN 2 THEN 0.17609125905568124e0
            WHEN 3 THEN 0.12493873660829992e0
            WHEN 4 THEN 0.09691001300805642e0
            WHEN 5 THEN 0.07918124604762482e0
            WHEN 6 THEN 0.06694678963061322e0
            WHEN 7 THEN 0.05799194697768673e0
            WHEN 8 THEN 0.05115252244738129e0
            WHEN 9 THEN 0.04575749056067514e0 END AS benford_share
        FROM w)
      SELECT column_name, digit, n_rows, share, benford_share,
        abs(share - benford_share) AS abs_dev
      FROM x ORDER BY column_name, digit
    """.trim))

  // --------------------------------------------------------------- q126
  /** q126 — CUSUM changepoint ([[Drift.cusumChangepoint]]): the
    * sustained-shift detector q83's robust z deliberately is not — a
    * feed drifting up 20% posts many slightly-high days, never one
    * extreme one; the cumulative sum accumulates them. The sequential
    * `max(0, S+x)` recurrence runs as its exact prefix-sum closed form
    * (`P − min(0, runmin P)`): two same-keyed windows, ONE exchange,
    * doubled integers end to end. */
  val q126: Q = Q(
    "q126_cusum_changepoint",
    (s, d) =>
      Drift.cusumChangepoint(eventsUs(s, d),
        to_date(timestamp_micros(col("ts_us"))), "event_type",
        slack = 1L, threshold = 10L),
    Some("""
      WITH b AS (
        SELECT CAST(ts AS DATE) AS day, event_type AS t FROM events),
      c AS (
        SELECT t, day, CAST(count(*) AS BIGINT) n FROM b GROUP BY 1, 2),
      med AS (SELECT t, quantile_cont(n, 0.5) m FROM c GROUP BY 1),
      x AS (
        SELECT c.t, c.day, n,
          CAST(2 * n - CAST(2.0e0 * m AS BIGINT) - 2 AS BIGINT) AS x
        FROM c JOIN med ON med.t = c.t),
      p AS (
        SELECT t, day, n, CAST(sum(x) OVER (PARTITION BY t ORDER BY day
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pp
        FROM x),
      q AS (
        SELECT t, day, n, pp, CAST(min(pp) OVER (PARTITION BY t
          ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS minpp
        FROM p)
      SELECT t AS event_type, day, n AS n_events,
        CAST(pp - least(minpp, 0) AS DOUBLE) / 2.0e0 AS cusum,
        (pp - least(minpp, 0) > 20) AS is_alarm
      FROM q ORDER BY event_type, day
    """.trim))

  // --------------------------------------------------------------- q127
  /** q127 — grid KS distance ([[Drift.gridKsDistance]]): the largest
    * CDF gap between the view and purchase value distributions on a
    * dyadic quarter grid — q95's L1 totals moved mass, KS catches the
    * one localized shift (a changed clip bound) that L1 dilutes.
    * Exact cross-multiplied integer cumulatives, one IEEE division. */
  val q127: Q = Q(
    "q127_ks_drift",
    (s, d) => {
      val e = Tables.events(s, d)
      Drift.gridKsDistance(
        e.where(col("event_type") === "view").select(col("value")),
        e.where(col("event_type") === "purchase").select(col("value")),
        "value", 0.25)
    },
    Some("""
      WITH o AS (
        SELECT CAST(floor(value / 0.25e0) AS BIGINT) bin
        FROM events WHERE event_type = 'view' AND value IS NOT NULL),
      nn AS (
        SELECT CAST(floor(value / 0.25e0) AS BIGINT) bin
        FROM events WHERE event_type = 'purchase'
          AND value IS NOT NULL),
      oc AS (SELECT bin, CAST(count(*) AS BIGINT) na FROM o GROUP BY 1),
      nc AS (SELECT bin, CAST(count(*) AS BIGINT) nb FROM nn GROUP BY 1),
      j AS (
        SELECT COALESCE(oc.bin, nc.bin) AS bin,
          COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
        FROM oc FULL OUTER JOIN nc ON oc.bin = nc.bin),
      t AS (
        SELECT CAST(COALESCE(sum(na), 0) AS BIGINT) n_old,
          CAST(COALESCE(sum(nb), 0) AS BIGINT) n_new
        FROM j),
      c AS (
        SELECT bin,
          CAST(sum(na) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
            AS BIGINT) ca,
          CAST(sum(nb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
            AS BIGINT) cb
        FROM j),
      f AS (
        SELECT max(abs(CAST(ca AS HUGEINT) * t.n_new -
          CAST(cb AS HUGEINT) * t.n_old)) AS num
        FROM c CROSS JOIN t)
      SELECT n_old, n_new,
        CASE WHEN n_old > 0 AND n_new > 0 THEN
          CAST(num AS DOUBLE) /
            (CAST(n_old AS DOUBLE) * CAST(n_new AS DOUBLE)) END
          AS ks_distance
      FROM t CROSS JOIN f
    """.trim))

  // --------------------------------------------------------------- q135
  /** q135 — Cramér's V ([[Profiling.cramersV]]): association strength
    * between two categorical columns (does `lang` predict `source`),
    * log-free and grid-free — `χ² = N·Σ o²/(r·c) − N` folds the
    * zero-observed cells in closed form, each observed cell pays one
    * integral division of DECIMAL(38,0) products, and the only IEEE
    * ops are the final casts, two divisions, and one sqrt. */
  val q135: Q = Q(
    "q135_cramers_v",
    (s, d) =>
      Profiling.cramersV(Tables.documents(s, d), "lang", "source"),
    Some("""
      WITH obs AS (
        SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS o
        FROM documents
        WHERE lang IS NOT NULL AND source IS NOT NULL
        GROUP BY 1, 2),
      rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY 1),
      ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY 1),
      cells AS (
        SELECT o,
          (CAST(o AS HUGEINT) * o * 1048576)
            // (CAST(r AS HUGEINT) * c) AS t_fp
        FROM obs JOIN rt USING (a) JOIN ct USING (b)),
      agg AS (
        SELECT coalesce(CAST(sum(o) AS BIGINT), 0) AS n_rows,
          (SELECT CAST(count(*) AS BIGINT) FROM rt) AS n_a,
          (SELECT CAST(count(*) AS BIGINT) FROM ct) AS n_b,
          sum(t_fp) AS st
        FROM cells)
      SELECT n_rows, n_a, n_b,
        CASE WHEN n_a >= 2 AND n_b >= 2
          THEN least(n_a - 1, n_b - 1) END AS dof,
        CASE WHEN n_a >= 2 AND n_b >= 2 THEN
          CAST(CAST(n_rows AS HUGEINT) * st
            - CAST(n_rows AS HUGEINT) * 1048576 AS DOUBLE) / 1048576.0e0
        END AS chi2,
        CASE WHEN n_a >= 2 AND n_b >= 2 THEN
          sqrt((CAST(CAST(n_rows AS HUGEINT) * st
              - CAST(n_rows AS HUGEINT) * 1048576 AS DOUBLE)
              / 1048576.0e0) /
            (CAST(n_rows AS DOUBLE) *
              CAST(least(n_a - 1, n_b - 1) AS DOUBLE)))
        END AS cramers_v
      FROM agg
    """.trim))

  // --------------------------------------------------------------- q136
  /** q136 — group-concentration profile
    * ([[Profiling.concentrationProfile]]): top-1 share, HHI, and Gini
    * of the docs-per-source distribution — the corpus-composition
    * alarm ("a handful of feeds ARE the corpus") read before trusting
    * per-group mixing weights. One groupBy reduces to |groups| rows;
    * exact integer folds, one IEEE division per reading. */
  val q136: Q = Q(
    "q136_source_concentration",
    (s, d) =>
      Profiling.concentrationProfile(Tables.documents(s, d), "source"),
    Some("""
      WITH s AS (
        SELECT source AS g, CAST(count(*) AS BIGINT) AS x
        FROM documents GROUP BY 1),
      r AS (SELECT g, x, row_number() OVER (ORDER BY x, g) AS i FROM s)
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
        coalesce(CAST(sum(x) AS BIGINT), 0) AS n_rows,
        CAST(max(x) AS DOUBLE) / CAST(sum(x) AS DOUBLE) AS top1_share,
        CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) /
          CAST(CAST(sum(x) AS HUGEINT) * sum(x) AS DOUBLE) AS hhi,
        CAST(2 * sum(CAST(i AS HUGEINT) * x)
            - (count(*) + 1) * CAST(sum(x) AS HUGEINT) AS DOUBLE) /
          CAST(CAST(count(*) AS HUGEINT) * sum(x) AS DOUBLE) AS gini
      FROM r
    """.trim))

  // --------------------------------------------------------------- q141
  /** q141 — key-candidate profile ([[Profiling.keyCandidates]]): per
    * column, row/null/distinct counts plus the largest duplicate group
    * and the candidate-key verdict — the pre-flight before trusting a
    * join key or the §2.9 sink PK. One row-local unpivot, one
    * (column, value) partial count, per-column fold over the reduced
    * frame. */
  val q141: Q = Q(
    "q141_key_candidates",
    (s, d) =>
      Profiling.keyCandidates(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus")),
    Some("""
      WITH u AS (
        SELECT 'o_orderkey' AS column_name,
          CAST(o_orderkey AS VARCHAR) AS v FROM orders
        UNION ALL
        SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_orderstatus', o_orderstatus FROM orders),
      c AS (
        SELECT column_name, v, CAST(count(*) AS BIGINT) AS c
        FROM u GROUP BY 1, 2)
      SELECT column_name,
        CAST(sum(c) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN v IS NULL THEN c ELSE 0 END) AS BIGINT)
          AS n_nulls,
        CAST(count(CASE WHEN v IS NOT NULL THEN 1 END) AS BIGINT)
          AS n_distinct,
        CAST(max(CASE WHEN v IS NOT NULL THEN c END) AS BIGINT)
          AS max_dup,
        (sum(CASE WHEN v IS NULL THEN c ELSE 0 END) = 0 AND
          count(CASE WHEN v IS NOT NULL THEN 1 END) = sum(c))
          AS is_candidate_key
      FROM c GROUP BY 1 ORDER BY 1
    """.trim))

  // --------------------------------------------------------------- q146
  /** q146 — label purity ([[Drift.labelPurity]]): per source, the
    * majority language and its mass share — the feed-routing health
    * gauge (q116 flags mixed DOCS; this flags mixed FEEDS) and the
    * label-noise pre-flight before per-label statistics. Tie order
    * pinned label-ascending NULLS FIRST on both engines. */
  val q146: Q = Q(
    "q146_source_lang_purity",
    (s, d) => Drift.labelPurity(Tables.documents(s, d), "source", "lang"),
    Some("""
      WITH c AS (
        SELECT source AS g, lang AS l, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2),
      r AS (
        SELECT g, l, c,
          row_number() OVER (PARTITION BY g
            ORDER BY c DESC, l ASC NULLS FIRST) AS rn,
          CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n_rows,
          CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n_labels
        FROM c)
      SELECT g AS source, n_rows, n_labels, l AS majority_label,
        CAST(c AS DOUBLE) / CAST(n_rows AS DOUBLE) AS purity
      FROM r WHERE rn = 1 ORDER BY source
    """.trim))

  // --------------------------------------------------------------- q147
  /** q147 — interquartile mean of order value
    * ([[Profiling.trimmedMean]]): per order priority, the mean of
    * [Q1, Q3]-band order totals in exact CENTS — the robust "typical
    * order" a fat tail can't drag; exact dyadic thresholds on
    * integer-valued money (the q88 argument), DECIMAL(38,0) kept-sum,
    * one IEEE division. */
  val q147: Q = Q(
    "q147_trimmed_order_value",
    (s, d) =>
      Profiling.trimmedMean(
        Tables.orders(s, d).select(col("o_orderpriority"),
          (Dec.d2(col("o_totalprice")) * 100).cast("long").as("cents")),
        "o_orderpriority", "cents"),
    Some("""
      WITH b AS (
        SELECT o_orderpriority AS g,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        FROM orders WHERE o_totalprice IS NOT NULL),
      th AS (
        SELECT g, quantile_cont(v, [0.25, 0.75]) AS q FROM b GROUP BY 1)
      SELECT b.g AS o_orderpriority,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN v >= q[1] AND v <= q[2] THEN 1 ELSE 0 END)
          AS BIGINT) AS n_kept,
        q[1] AS lo, q[2] AS hi,
        CASE WHEN sum(CASE WHEN v >= q[1] AND v <= q[2] THEN 1 ELSE 0
          END) > 0 THEN
          CAST(sum(CASE WHEN v >= q[1] AND v <= q[2] THEN CAST(v AS
            HUGEINT) ELSE 0 END) AS DOUBLE) /
          CAST(sum(CASE WHEN v >= q[1] AND v <= q[2] THEN 1 ELSE 0 END)
            AS DOUBLE)
        END AS trimmed_mean
      FROM b JOIN th ON b.g = th.g
      GROUP BY b.g, q[1], q[2]
      ORDER BY o_orderpriority
    """.trim))

  // --------------------------------------------------------------- q163
  /** q163 — day-of-week volume anomaly ([[Drift.dowVolumeAnomaly]]):
    * q83's robust z conditioned on the weekly season (days-since-epoch
    * mod 7 — integer arithmetic, no locale calendar) so a weekend/
    * weekday volume split stops posting two false alarms a week. */
  val q163: Q = Q(
    "q163_dow_anomaly",
    (s, d) =>
      Drift.dowVolumeAnomaly(eventsUs(s, d),
        to_date(timestamp_micros(col("ts_us"))), "event_type"),
    Some("""
      WITH c AS (
        SELECT event_type AS t, CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2),
      c2 AS (
        SELECT t, day, n_events,
          CAST((day - DATE '1970-01-01') % 7 AS INT) AS dow
        FROM c),
      med AS (
        SELECT t, dow, quantile_cont(n_events, 0.5) AS m
        FROM c2 GROUP BY 1, 2),
      dev AS (
        SELECT c2.t, c2.day, c2.dow, c2.n_events, med.m,
          abs(c2.n_events - med.m) AS dd
        FROM c2 JOIN med ON c2.t = med.t AND c2.dow = med.dow),
      mad AS (
        SELECT t, dow, quantile_cont(dd, 0.5) AS md
        FROM dev GROUP BY 1, 2)
      SELECT dev.t AS event_type, dev.day, dev.dow, dev.n_events,
        CASE WHEN mad.md = 0 THEN NULL
          ELSE (dev.n_events - dev.m) / mad.md END AS score
      FROM dev JOIN mad ON dev.t = mad.t AND dev.dow = mad.dow
      ORDER BY event_type, day
    """.trim))

  // --------------------------------------------------------------- q165
  /** q165 — co-missingness lift ([[Profiling.missingnessLift]]): do
    * fields go null TOGETHER — the one-broken-extractor signature
    * (lift ≫ 1) vs mutually-exclusive variants (lift ≪ 1); nulls
    * seeded deterministically (a ∧ b co-missing on id % 4, c
    * independent on id % 5). One pass, all pairs, fixed-point lift. */
  val q165: Q = Q(
    "q165_missingness_lift",
    (s, d) => {
      val seeded = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 4 === 0, lit(null).cast("string"))
          .otherwise(col("lang")).as("a"),
        when(col("doc_id") % 4 === 0, lit(null).cast("string"))
          .otherwise(col("source")).as("b"),
        when(col("doc_id") % 5 === 0, lit(null).cast("long"))
          .otherwise(col("n_chars")).as("c"))
      Profiling.missingnessLift(seeded, Seq("a", "b", "c"))
    },
    Some("""
      WITH seeded AS (
        SELECT doc_id,
          CASE WHEN doc_id % 4 = 0 THEN NULL ELSE lang END AS a,
          CASE WHEN doc_id % 4 = 0 THEN NULL ELSE source END AS b,
          CASE WHEN doc_id % 5 = 0 THEN NULL ELSE n_chars END AS c
        FROM documents),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN a IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS na,
          CAST(sum(CASE WHEN b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS nb,
          CAST(sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS nc,
          CAST(sum(CASE WHEN a IS NULL AND b IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS nab,
          CAST(sum(CASE WHEN a IS NULL AND c IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS nac,
          CAST(sum(CASE WHEN b IS NULL AND c IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS nbc
        FROM seeded)
      SELECT * FROM (
        SELECT 'a' AS column_a, 'b' AS column_b, n AS n_rows,
          na AS n_null_a, nb AS n_null_b, nab AS n_null_both,
          CASE WHEN na > 0 AND nb > 0 THEN
            CAST(((CAST(nab AS HUGEINT) * 1048576) * n)
              // (CAST(na AS HUGEINT) * nb) AS BIGINT) END AS lift_fp
        FROM m
        UNION ALL
        SELECT 'a', 'c', n, na, nc, nac,
          CASE WHEN na > 0 AND nc > 0 THEN
            CAST(((CAST(nac AS HUGEINT) * 1048576) * n)
              // (CAST(na AS HUGEINT) * nc) AS BIGINT) END
        FROM m
        UNION ALL
        SELECT 'b', 'c', n, nb, nc, nbc,
          CASE WHEN nb > 0 AND nc > 0 THEN
            CAST(((CAST(nbc AS HUGEINT) * 1048576) * n)
              // (CAST(nb AS HUGEINT) * nc) AS BIGINT) END
        FROM m) t
      ORDER BY column_a, column_b
    """.trim))

  // --------------------------------------------------------------- q166
  /** q166 — peak-rate profile ([[Drift.peakRateProfile]]): per event
    * type, minute-bucket count distribution (median, peak,
    * burstiness) — the queue-vs-bigger-average capacity number the
    * day-scale monitors can't see; integer buckets, exact median,
    * one division. */
  val q166: Q = Q(
    "q166_peak_rate",
    (s, d) =>
      Drift.peakRateProfile(eventsUs(s, d), col("ts_us"), "event_type"),
    Some("""
      WITH b AS (
        SELECT event_type AS t,
          CAST(epoch_us(ts) AS BIGINT) // 60000000 AS b,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2)
      SELECT t AS event_type, CAST(count(*) AS BIGINT) AS n_buckets,
        quantile_cont(n, 0.5) AS p50_rate,
        CAST(max(n) AS BIGINT) AS peak_rate,
        CASE WHEN quantile_cont(n, 0.5) > 0 THEN
          CAST(max(n) AS DOUBLE) / quantile_cont(n, 0.5)
        END AS burstiness
      FROM b GROUP BY 1 ORDER BY 1
    """.trim))

  // --------------------------------------------------------------- q167
  /** q167 — order-to-ship latency bands ([[Profiling.valueBands]]):
    * per order priority, the distribution of integer ship-latency
    * days (lineitem ship date minus order date) — the logistics SLO
    * table; exact quartiles on integer days. */
  val q167: Q = Q(
    "q167_ship_latency",
    (s, d) =>
      Profiling.valueBands(
        Tables.lineitem(s, d).join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey")),
        col("o_orderpriority"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long")),
    Some("""
      WITH g AS (
        SELECT o_orderpriority AS g,
          CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
            AS BIGINT) AS v
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      SELECT g, CAST(count(*) AS BIGINT) AS n,
        CAST(min(v) AS BIGINT) AS min_v,
        quantile_cont(v, 0.25) AS p25_v,
        quantile_cont(v, 0.5) AS p50_v,
        quantile_cont(v, 0.75) AS p75_v,
        CAST(max(v) AS BIGINT) AS max_v
      FROM g GROUP BY 1 ORDER BY 1
    """.trim))

  // --------------------------------------------------------------- q173
  /** q173 — seasonal-naive forecast error ([[Drift.seasonalNaiveError]]):
    * per stream, the WMAPE of the "same day last week" forecast on
    * daily counts — how tight an alarm band the stream supports;
    * exact-integer sums with ONE boundary division (never a mean of
    * per-day ratios), only days with an observed t−7 predecessor
    * score. */
  val q173: Q = Q(
    "q173_seasonal_naive",
    (s, d) =>
      Drift.seasonalNaiveError(eventsUs(s, d), col("event_type"),
        to_date(timestamp_micros(col("ts_us"))), lagDays = 7),
    Some("""
      WITH daily AS (
        SELECT event_type AS key,
          CAST(ts AS DATE) - DATE '1970-01-01' AS d,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2)
      SELECT c.key AS key, CAST(count(*) AS BIGINT) AS n_days_scored,
        CAST(sum(abs(c.n - p.n)) AS BIGINT) AS abs_err,
        CAST(sum(p.n) AS BIGINT) AS base,
        CAST(sum(abs(c.n - p.n)) AS DOUBLE) / CAST(sum(p.n) AS DOUBLE)
          AS wmape
      FROM daily c JOIN daily p ON c.key = p.key AND c.d = p.d + 7
      GROUP BY 1 ORDER BY 1
    """.trim))

  // --------------------------------------------------------------- q175
  /** q175 — snapshot profile drift ([[Drift.profileDrift]]): per
    * column, the schema-health diff between two corpus snapshots —
    * null-rate delta and distinct-count ratio over exact counts; the
    * "did the new crawl break an extractor" report before any
    * value-level drift test. Nulls seeded deterministically on the
    * new side (doc_id % 3). */
  val q175: Q = Q(
    "q175_profile_drift",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val oldSnap = docs.where(col("doc_id") % 2 === 0)
      val newSnap = docs.where(col("doc_id") % 2 === 1)
        .withColumn("lang",
          when(col("doc_id") % 3 === 0, lit(null).cast("string"))
            .otherwise(col("lang")))
      Drift.profileDrift(oldSnap, newSnap, Seq("lang", "source"))
    },
    Some("""
      WITH o AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
      n AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END AS lang,
          source
        FROM documents WHERE doc_id % 2 = 1),
      op AS (
        SELECT 'lang' AS column_name, count(*) AS r,
          sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS nl,
          count(DISTINCT lang) AS nd FROM o
        UNION ALL
        SELECT 'source', count(*),
          sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
          count(DISTINCT source) FROM o),
      np AS (
        SELECT 'lang' AS column_name, count(*) AS r,
          sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS nl,
          count(DISTINCT lang) AS nd FROM n
        UNION ALL
        SELECT 'source', count(*),
          sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
          count(DISTINCT source) FROM n)
      SELECT op.column_name AS column_name,
        CAST(op.r AS BIGINT) AS n_rows_old,
        CAST(op.nl AS BIGINT) AS n_nulls_old,
        CAST(op.nd AS BIGINT) AS n_distinct_old,
        CAST(np.r AS BIGINT) AS n_rows_new,
        CAST(np.nl AS BIGINT) AS n_nulls_new,
        CAST(np.nd AS BIGINT) AS n_distinct_new,
        CASE WHEN op.r > 0 AND np.r > 0 THEN
          CAST(np.nl AS DOUBLE) / CAST(np.r AS DOUBLE)
            - CAST(op.nl AS DOUBLE) / CAST(op.r AS DOUBLE)
        END AS null_rate_delta,
        CASE WHEN op.nd > 0 THEN
          CAST(np.nd AS DOUBLE) / CAST(op.nd AS DOUBLE)
        END AS ndv_ratio
      FROM op JOIN np USING (column_name) ORDER BY column_name
    """.trim))

  // --------------------------------------------------------------- q176
  /** q176 — transaction-value tail bands ([[Profiling.tailBands]]):
    * per event type, the exact dyadic tail ladder (1/2 … 63/64) of
    * integer-cent values — the SLO tail q167's quartiles can't see,
    * at percentile points whose interpolation weights are exponent
    * shifts (engine-exact on integers, never a decimal p99). */
  val q176: Q = Q(
    "q176_value_tail_bands",
    (s, d) =>
      Profiling.tailBands(eventsUs(s, d), col("event_type"),
        (Dec.d2(col("value")) * 100).cast("long")),
    Some("""
      WITH g AS (
        SELECT event_type AS g,
          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL)
      SELECT g, CAST(count(*) AS BIGINT) AS n,
        quantile_cont(v, 0.5) AS p50,
        quantile_cont(v, 0.75) AS p75,
        quantile_cont(v, 0.875) AS p875,
        quantile_cont(v, 0.9375) AS p9375,
        quantile_cont(v, 0.96875) AS p96875,
        quantile_cont(v, 0.984375) AS p984375,
        CAST(max(v) AS BIGINT) AS max_v
      FROM g GROUP BY 1 ORDER BY 1
    """.trim))

  // --------------------------------------------------------------- q180
  /** q180 — grid-percentile accuracy ([[Profiling.gridPercentileAccuracy]]):
    * the eval rung for the percentile sketch — per point, q111's grid
    * estimate vs the exact rank-based percentile, signed error, and
    * the `0 ≤ err < width` guarantee check; the exact side is the
    * documented eval-time reference cost. */
  val q180: Q = Q(
    "q180_grid_accuracy",
    (s, d) =>
      Profiling.gridPercentileAccuracy(Tables.events(s, d), "value",
        width = 0.25, ps = Seq(0.25, 0.5, 0.9, 0.99)),
    Some("""
      WITH b AS (
        SELECT CAST(floor(value / 0.25e0) AS BIGINT) AS bin,
          CAST(count(*) AS BIGINT) AS n
        FROM events WHERE value IS NOT NULL GROUP BY 1),
      c AS (
        SELECT bin, n, CAST(sum(n) OVER (ORDER BY bin
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM b),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS n_values FROM b),
      p AS (SELECT CAST(unnest([0.25e0, 0.5e0, 0.9e0, 0.99e0])
        AS DOUBLE) AS p),
      x AS (
        SELECT p.p, t.n_values,
          CAST(ceil(p.p * t.n_values) AS BIGINT) AS target_rank,
          min(c.bin) AS bin
        FROM p CROSS JOIN t
        JOIN c ON c.cum >= CAST(ceil(p.p * t.n_values) AS BIGINT)
        GROUP BY 1, 2, 3),
      vals AS (
        SELECT value AS v, CAST(count(*) AS BIGINT) AS n
        FROM events WHERE value IS NOT NULL GROUP BY 1),
      vc AS (
        SELECT v, CAST(sum(n) OVER (ORDER BY v
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM vals),
      ex AS (
        SELECT x.p, x.target_rank, min(vc.v) AS exact_percentile
        FROM x JOIN vc ON vc.cum >= x.target_rank GROUP BY 1, 2)
      SELECT x.p AS p, x.n_values, x.target_rank,
        CAST(x.bin AS DOUBLE) * 0.25e0 AS est_percentile,
        ex.exact_percentile,
        ex.exact_percentile - CAST(x.bin AS DOUBLE) * 0.25e0 AS err,
        (ex.exact_percentile - CAST(x.bin AS DOUBLE) * 0.25e0 >= 0
          AND ex.exact_percentile - CAST(x.bin AS DOUBLE) * 0.25e0
            < 0.25e0) AS within_width
      FROM x JOIN ex ON x.p = ex.p AND x.target_rank = ex.target_rank
      ORDER BY p
    """.trim))

  // --------------------------------------------------------------- q182
  /** q182 — key-sequence gap audit ([[Profiling.keyGapAudit]]): holes
    * in a supposedly-dense key space — total missing mass, gap count,
    * the largest gap and its start; gaps seeded deterministically
    * (every (k div 10) % 7 = 3 decade removed → periodic 10-wide
    * holes). The two-level bucketed lag replays the naive single
    * window exactly. */
  val q182: Q = Q(
    "q182_key_gap_audit",
    (s, d) =>
      Profiling.keyGapAudit(
        Tables.orders(s, d)
          .where(!(expr("o_orderkey div 10") % 7 === 3)),
        col("o_orderkey")),
    Some("""
      WITH k AS (
        SELECT DISTINCT o_orderkey AS k FROM orders
        WHERE (o_orderkey // 10) % 7 <> 3),
      g AS (SELECT k, lag(k) OVER (ORDER BY k) AS pk FROM k),
      gg AS (
        SELECT k - pk - 1 AS gap, pk + 1 AS gs
        FROM g WHERE pk IS NOT NULL)
      SELECT CAST((SELECT min(k) FROM k) AS BIGINT) AS min_key,
        CAST((SELECT max(k) FROM k) AS BIGINT) AS max_key,
        CAST((SELECT count(*) FROM k) AS BIGINT) AS n_keys,
        CAST((SELECT max(k) FROM k) - (SELECT min(k) FROM k) + 1
          - (SELECT count(*) FROM k) AS BIGINT) AS n_missing,
        CAST((SELECT count(*) FROM gg WHERE gap > 0) AS BIGINT)
          AS n_gaps,
        CAST((SELECT coalesce(max(gap), 0) FROM gg) AS BIGINT)
          AS max_gap,
        CAST((SELECT min(gs) FROM gg WHERE gap > 0
          AND gap = (SELECT max(gap) FROM gg)) AS BIGINT)
          AS max_gap_start
    """.trim))

  // --------------------------------------------------------------- q185
  /** q185 — head-tail rollup ([[Profiling.headTailRollup]]): the top-5
    * part brands by line volume plus ONE "(other)" residual row with
    * its category count and mass — the report-footer readout; ties
    * pinned (count DESC, category ASC), shares one division each. */
  val q185: Q = Q(
    "q185_head_tail_rollup",
    (s, d) =>
      Profiling.headTailRollup(
        Tables.lineitem(s, d).join(Tables.part(s, d),
          col("l_partkey") === col("p_partkey")),
        col("p_brand"), k = 5),
    Some("""
      WITH counts AS (
        SELECT coalesce(CAST(p_brand AS VARCHAR), '(null)') AS cat,
          CAST(count(*) AS BIGINT) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1),
      ranked AS (
        SELECT cat, n,
          row_number() OVER (ORDER BY n DESC, cat) AS r
        FROM counts),
      head AS (
        SELECT cat AS bucket, CAST(r AS INT) AS rank, n AS n_rows,
          CAST(1 AS BIGINT) AS n_categories
        FROM ranked WHERE r <= 5),
      tail AS (
        SELECT '(other)' AS bucket, CAST(6 AS INT) AS rank,
          CAST(sum(n) AS BIGINT) AS n_rows,
          CAST(count(*) AS BIGINT) AS n_categories
        FROM ranked WHERE r > 5
        HAVING sum(n) IS NOT NULL),
      u AS (SELECT * FROM head UNION ALL SELECT * FROM tail),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM counts)
      SELECT bucket, rank, n_rows, n_categories,
        CAST(n_rows AS DOUBLE) / CAST(tt AS DOUBLE) AS share
      FROM u, t ORDER BY rank
    """.trim))

  // --------------------------------------------------------------- q193
  /** q193 — contribution shares ([[Profiling.contributionShares]]):
    * order revenue by (region, nation) with each nation's share of
    * its region and of the total — the drill-down "percent of parent"
    * readout; exact decimal sums, boundary divisions only. */
  val q193: Q = Q(
    "q193_contribution_shares",
    (s, d) =>
      Profiling.contributionShares(
        Tables.orders(s, d)
          .join(Tables.customer(s, d),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.nation(s, d),
            col("c_nationkey") === col("n_nationkey"))
          .join(Tables.region(s, d),
            col("n_regionkey") === col("r_regionkey")),
        col("r_name"), col("n_name"), col("o_totalprice")),
    Some("""
      WITH g AS (
        SELECT r_name AS parent, n_name AS child,
          sum(CAST(o_totalprice AS DECIMAL(12,2))) AS v
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2),
      w AS (
        SELECT parent, child, v,
          sum(v) OVER (PARTITION BY parent) AS pv,
          sum(v) OVER () AS tv
        FROM g)
      SELECT parent, child, CAST(v AS DOUBLE) AS value,
        CASE WHEN pv <> 0 THEN
          CAST(v AS DOUBLE) / CAST(pv AS DOUBLE) END AS share_of_parent,
        CASE WHEN tv <> 0 THEN
          CAST(v AS DOUBLE) / CAST(tv AS DOUBLE) END AS share_of_total
      FROM w ORDER BY parent, child
    """.trim))

  // --------------------------------------------------------------- q199
  /** q199 — 2-D skyline ([[Profiling.skyline2D]]): parts no other
    * part dominates on (retail price, size) — the Pareto frontier via
    * sorted cumulative maxima over the per-x reduced frame, never a
    * pairwise join; oracle is the literal NOT-EXISTS dominance
    * definition. */
  val q199: Q = Q(
    "q199_skyline",
    (s, d) =>
      Profiling.skyline2D(Tables.part(s, d), col("p_partkey"),
        col("p_retailprice"), col("p_size").cast("long")),
    Some("""
      WITH pts AS (
        SELECT p_partkey AS id, p_retailprice AS x,
          CAST(p_size AS BIGINT) AS y
        FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL)
      SELECT id, x, y FROM pts b
      WHERE NOT EXISTS (
        SELECT 1 FROM pts a
        WHERE a.x >= b.x AND a.y >= b.y AND (a.x > b.x OR a.y > b.y))
      ORDER BY x DESC, id
    """.trim))

  // --------------------------------------------------------------- q200
  /** q200 — sample representativeness
    * ([[Profiling.sampleRepresentativeness]]): q32's hash sample vs
    * the full corpus, stratum mix on the fixed-point grid with signed
    * distortion — the audit that validates a sampling policy before
    * training on its output. */
  val q200: Q = Q(
    "q200_sample_representativeness",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val sample = Sampling.stratifiedByHash(docs, "doc_id", "lang",
        Map("en" -> 75, "es" -> 50, "de" -> 25, "fr" -> 10),
        defaultPct = 5)
      Profiling.sampleRepresentativeness(docs, sample, "lang")
    },
    Some(s"""
      WITH smp AS (
        SELECT doc_id, lang FROM documents
        WHERE ((doc_id % $P) * 2654435761 % $P + 12345) % $P % 100 <
          CASE lang WHEN 'en' THEN 75 WHEN 'es' THEN 50
                    WHEN 'de' THEN 25 WHEN 'fr' THEN 10 ELSE 5 END),
      f AS (
        SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n_full
        FROM documents GROUP BY 1),
      sm AS (
        SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n_sample
        FROM smp GROUP BY 1),
      ft AS (SELECT sum(n_full) AS tf FROM f),
      st AS (SELECT coalesce(sum(n_sample), 0) AS ts FROM sm)
      SELECT f.stratum AS stratum, n_full,
        CAST(coalesce(n_sample, 0) AS BIGINT) AS n_sample,
        CAST((n_full * 1048576) // tf AS BIGINT) AS share_full_fp,
        CAST(CASE WHEN ts > 0 THEN
          (coalesce(n_sample, 0) * 1048576) // ts ELSE 0 END AS BIGINT)
          AS share_sample_fp,
        CAST(CASE WHEN ts > 0 THEN
          (coalesce(n_sample, 0) * 1048576) // ts ELSE 0 END
          - (n_full * 1048576) // tf AS BIGINT) AS distortion_fp
      FROM f LEFT JOIN sm ON f.stratum = sm.stratum
      CROSS JOIN ft CROSS JOIN st
      ORDER BY stratum
    """.trim))

  // --------------------------------------------------------------- q225
  /** q225 — quality-score calibration
    * ([[Profiling.scoreOutcomeCalibration]]): is the q23 stopword
    * ratio actually predictive of near-duplication? Docs bin by the
    * exact rational `min((n_stop·8) div n_tokens, 7)`; the outcome is
    * membership in any q17 Jaccard pair (threshold 0.5). The
    * reliability table a curation team reads before shipping a
    * score threshold — a flat curve says the signal carries no
    * information about the outcome. */
  val q225: Q = Q(
    "q225_quality_calibration",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.ngramJaccardPairsUnordered(docs, "doc_id",
        "text", threshold = 0.5, maxDf = 100)
      val pos = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id")))
      val toks = graft.functions.TextHash.tokens(col("text"))
      val scored = docs.select(col("doc_id"),
        graft.functions.TextHash.markerCountOf(toks,
          TextAnalysis.stopwords).as("n_stop"),
        size(toks).as("n_tokens"))
      Profiling.scoreOutcomeCalibration(scored, "doc_id", "n_stop",
        "n_tokens", pos, "doc_id", bins = 8)
    },
    Some(s"""
      WITH $duckWords,
      $duckTokenHashes,
      $duckHashShingles,
      shf AS (
        SELECT doc_id, hs FROM sh
        QUALIFY count(*) OVER (PARTITION BY hs) <= 100
      ),
      sz AS (SELECT doc_id, count(*) n FROM shf GROUP BY 1),
      jacp AS (
        SELECT da AS doc_a, db AS doc_b
        FROM (
          SELECT a.doc_id da, b.doc_id db, count(*) i
          FROM shf a JOIN shf b ON a.hs = b.hs AND a.doc_id < b.doc_id
          GROUP BY 1, 2) inter
        JOIN sz sa ON sa.doc_id = da
        JOIN sz sb ON sb.doc_id = db
        WHERE (CAST(i AS DOUBLE) / (sa.n + sb.n - i)) >= 0.5),
      pos AS (
        SELECT DISTINCT doc_id FROM (
          SELECT doc_a AS doc_id FROM jacp
          UNION ALL SELECT doc_b FROM jacp)),
      sc AS (
        SELECT doc_id,
          len(list_filter(w,
            x -> x IN ('the', 'a', 'of', 'and', 'is', 'to', 'in')))
            AS n_stop,
          len(w) AS n_tokens
        FROM words),
      b AS (
        SELECT CAST(least((n_stop * 8) // n_tokens, 7) AS INT)
            AS bin_id,
          CASE WHEN doc_id IN (SELECT doc_id FROM pos) THEN 1 ELSE 0
            END AS p
        FROM sc WHERE n_tokens > 0)
      SELECT bin_id, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(p) AS BIGINT) AS n_positive,
        CAST(sum(p) AS DOUBLE) / CAST(count(*) AS DOUBLE)
          AS positive_rate
      FROM b GROUP BY 1 ORDER BY 1
    """.trim))

  /** Shared score/label frame for q228/q229: score = document length
    * (n_chars), label = membership in an EXACT-dup family (the q16
    * content-hash groups with more than one copy). Spark groups on
    * sha2(text) so the shuffle carries a 32-byte key, never the text
    * (q16 discipline); the oracle partitions by the text itself —
    * identical modulo SHA-256 collisions. */
  private def dupScored(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(sha2(col("text"), 256))
    Tables.documents(s, d).select(col("n_chars").as("score"),
      when(count(lit(1)).over(w) > 1, 1).otherwise(0).as("label"))
  }

  private val duckDupLab: String = """
      lab AS (
        SELECT n_chars AS s,
          CASE WHEN count(*) OVER (PARTITION BY text) > 1
            THEN 1 ELSE 0 END AS y
        FROM documents),
      g AS (
        SELECT s, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(y) AS BIGINT) AS np
        FROM lab GROUP BY 1)"""

  // --------------------------------------------------------------- q228
  /** q228 — score-gate ROC-AUC ([[Profiling.scoreAuc]]): does document
    * LENGTH rank exact-duplicated documents apart from unique ones?
    * The Mann–Whitney midrank identity computed on the |distinct
    * lengths|-key aggregate — ranks never materialize per row, tie
    * mass is handled by midranks, the DECIMAL(38,0) fold survives
    * corpus-scale rank products, and the one IEEE double is the final
    * division. The single-number companion to q225's reliability
    * curve. */
  val q228: Q = Q(
    "q228_score_auc",
    (s, d) => Profiling.scoreAuc(dupScored(s, d), "score", "label"),
    Some(s"""
      WITH $duckDupLab,
      w AS (
        SELECT s, n, np,
          CAST(coalesce(sum(n) OVER (ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS below
        FROM g),
      t AS (
        SELECT CAST(sum(np) AS BIGINT) AS n_pos,
          CAST(sum(n - np) AS BIGINT) AS n_neg,
          CAST(count(*) AS BIGINT) AS n_scores,
          sum(CAST(np AS HUGEINT) * (2 * below + n + 1)) AS r2
        FROM w)
      SELECT n_pos, n_neg, n_scores,
        CASE WHEN n_pos > 0 AND n_neg > 0 THEN
          CAST(r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE) /
          CAST(2 * CAST(n_pos AS HUGEINT) * CAST(n_neg AS HUGEINT)
            AS DOUBLE)
        END AS auc
      FROM t
    """.trim))

  // --------------------------------------------------------------- q229
  /** q229 — cumulative gain / lift curve ([[Profiling.gainCurve]]):
    * "keep the top X% by length — what share of the exact-dup rows do
    * we capture, at what lift over the base rate?" Bands are
    * equal-population by construction `(above·bands) div total` on the
    * distinct-score aggregate, so a tied score value lands wholly in
    * one band and the curve is engine-exact; capture and lift are 2^20
    * fixed-point. q228's AUC is this curve's integral; thresholds are
    * picked off this table. */
  val q229: Q = Q(
    "q229_gain_curve",
    (s, d) => Profiling.gainCurve(dupScored(s, d), "score", "label",
      bands = 10),
    Some(s"""
      WITH $duckDupLab,
      w AS (
        SELECT s, n, np,
          CAST(coalesce(sum(n) OVER (ORDER BY s DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS above,
          CAST(sum(n) OVER () AS BIGINT) AS total
        FROM g),
      b AS (
        SELECT CAST((above * 10) // total AS INT) AS band_id,
          CAST(sum(n) AS BIGINT) AS n_rows,
          CAST(sum(np) AS BIGINT) AS n_pos
        FROM w GROUP BY 1),
      c AS (
        SELECT band_id, n_rows, n_pos,
          CAST(sum(n_rows) OVER (ORDER BY band_id) AS BIGINT)
            AS cum_rows,
          CAST(sum(n_pos) OVER (ORDER BY band_id) AS BIGINT) AS cum_pos,
          CAST(sum(n_pos) OVER () AS BIGINT) AS tp,
          CAST(sum(n_rows) OVER () AS BIGINT) AS tr
        FROM b)
      SELECT band_id, n_rows, n_pos, cum_rows, cum_pos,
        CASE WHEN tp > 0 THEN (cum_pos * 1048576) // tp END
          AS capture_fp,
        CASE WHEN tp > 0 THEN
          CAST((CAST(cum_pos AS HUGEINT) * tr * 1048576)
            // (CAST(cum_rows AS HUGEINT) * tp) AS BIGINT) END
          AS lift_fp
      FROM c ORDER BY band_id
    """.trim))

  // --------------------------------------------------------------- q236
  /** q236 — sketch-based column profile
    * ([[Profiling.columnProfileSketch]]): q62's profile at the scale
    * where exact `countDistinct` (an Expand that multiplies every row
    * by |cols| and holds exact per-value state) stops being
    * affordable — exact row/null counters plus a per-column
    * HyperLogLog distinct estimate from ONE pass and ≤ 256 mergeable
    * registers per column. Values render via CAST-to-string and the
    * portable 31/131 char folds, so the ESTIMATE itself (not just its
    * error bound) hash-verifies; the oracle replays registers and the
    * linear-counting switch bit-for-bit. */
  val q236: Q = Q(
    "q236_column_profile_sketch",
    (s, d) =>
      Profiling.columnProfileSketch(Tables.documents(s, d),
        Seq("doc_id", "lang", "n_chars", "source"), m = 256, wBits = 52),
    Some(s"""
      WITH lv AS (
        SELECT 'doc_id' AS g, CAST(doc_id AS VARCHAR) AS v FROM documents
        UNION ALL SELECT 'lang', lang FROM documents
        UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR)
          FROM documents
        UNION ALL SELECT 'source', source FROM documents),
      cnt AS (
        SELECT g AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_nulls
        FROM lv GROUP BY 1),
      hs AS (
        SELECT g,
          CASE WHEN length(v) = 0 THEN 0 ELSE
            list_reduce(list_prepend(0::BIGINT,
              list_transform(range(1, length(v) + 1),
                j -> ascii(v[j]))),
              (h, c) -> ((h * 31) + c) % $P) END AS h1,
          CASE WHEN length(v) = 0 THEN 7 ELSE
            list_reduce(list_prepend(7::BIGINT,
              list_transform(range(1, length(v) + 1),
                j -> ascii(v[j]))),
              (h, c) -> ((h * 131) + c) % $P) END AS h2
        FROM lv WHERE v IS NOT NULL),
      hv AS (
        SELECT g, (h1*h1 % $P) * $P + (h2*h2 % $P) AS h FROM hs),
      ${duckHllTail(256, 52)}
      SELECT column_name, n_rows, n_nulls,
        coalesce(est_distinct, 0.0e0) AS est_distinct
      FROM cnt LEFT JOIN hll ON cnt.column_name = hll.g
      ORDER BY column_name
    """.trim))

  // --------------------------------------------------------------- q240
  /** q240 — expected calibration error
    * ([[Profiling.calibrationEce]]): the one-line gate over a q225-
    * style reliability table — length (capped at 4096 chars) read as
    * a dup-propensity score, calibrated against exact-dup membership,
    * summarized as the row-weighted |rate − midpoint| in 2^20
    * fixed-point with one final IEEE division. The monitor alarms on
    * this number moving; the q225 curve is what you open next. */
  val q240: Q = Q(
    "q240_calibration_ece",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val w = Window.partitionBy(sha2(col("text"), 256))
      val pos = docs
        .select(col("doc_id"), count(lit(1)).over(w).as("__c"))
        .where(col("__c") > 1).select(col("doc_id"))
      val scored = docs.select(col("doc_id"),
        col("n_chars").as("num"), lit(4096L).as("den"))
      Profiling.calibrationEce(
        Profiling.scoreOutcomeCalibration(scored, "doc_id", "num",
          "den", pos, "doc_id", bins = 10), bins = 10)
    },
    Some("""
      WITH pos AS (
        SELECT doc_id FROM (
          SELECT doc_id, count(*) OVER (PARTITION BY text) AS c
          FROM documents) WHERE c > 1),
      b AS (
        SELECT CAST(least((n_chars * 10) // 4096, 9) AS INT) AS bin_id,
          CASE WHEN doc_id IN (SELECT doc_id FROM pos)
            THEN 1 ELSE 0 END AS p
        FROM documents),
      cal AS (
        SELECT bin_id, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(p) AS BIGINT) AS n_positive
        FROM b GROUP BY 1),
      e AS (
        SELECT bin_id, n_rows, n_positive,
          (n_positive * 1048576) // n_rows AS rate_fp,
          ((2 * bin_id + 1) * 1048576) // 20 AS mid_fp
        FROM cal)
      SELECT CAST(sum(n_rows) AS BIGINT) AS n,
        CASE WHEN sum(n_rows) > 0 THEN
          CAST(sum(CAST(n_rows AS HUGEINT) * abs(rate_fp - mid_fp))
            AS DOUBLE) /
          CAST(CAST(sum(n_rows) AS HUGEINT) * 1048576 AS DOUBLE)
        END AS ece
      FROM e
    """.trim))
}
