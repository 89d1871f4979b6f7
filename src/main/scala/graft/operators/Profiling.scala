package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality profiling — the pre-flight a pipeline runs before it
  * trusts a new table (or before a corpus team sets filters): per
  * column, row count, null count, and exact distinct cardinality.
  *
  * Scale shape: ONE aggregate pass over the table computes every
  * metric (all partial-aggregable — null counters are sums,
  * `countDistinct` expands to Spark's internal Expand + two-phase
  * aggregate), and the wide 1-row result is unpivoted to long form
  * with `stack` AFTER aggregation, so the unpivot touches |cols| rows,
  * never the table. Metrics are deliberately counts only: min/max
  * would need per-type rendering to stay engine-portable, while counts
  * hash-verify as-is.
  */
object Profiling {

  /** Resolve a verbatim column name — backtick-escaped, so names
    * containing dots, quotes, or backticks resolve as one column
    * instead of being parsed as nested-field / SQL syntax. */
  private def raw(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** Long-form profile: (column_name, n_rows, n_nulls, n_distinct)
    * per requested column, ordered by column name. Built entirely from
    * Column expressions (internal aliases are positional, the user
    * name travels only as a string literal) — no SQL-string
    * interpolation, so arbitrary column names can't break parsing. */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs at least one column")
    val bad = cols.filterNot(df.columns.contains)
    require(bad.isEmpty, s"unknown columns: $bad")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) => Seq(
      sum(when(raw(c).isNull, 1L).otherwise(0L)).as(s"c${i}__nulls"),
      countDistinct(raw(c)).as(s"c${i}__distinct")) } :+
      count(lit(1)).as("__rows")
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = array(cols.zipWithIndex.map { case (c, i) => struct(
      lit(c).as("column_name"),
      col(s"c${i}__nulls").as("n_nulls"),
      col(s"c${i}__distinct").as("n_distinct")) }: _*)
    wide.select(explode(entries).as("e"), col("__rows").as("n_rows"))
      .select(col("e.column_name").as("column_name"), col("n_rows"),
        col("e.n_nulls").as("n_nulls"), col("e.n_distinct").as("n_distinct"))
      .orderBy(col("column_name"))
  }

  /** True iff `w` is an exact power of two (2^k, k any integer) —
    * the widths for which IEEE division is a pure exponent shift, so
    * `floor(x / w)` is bit-identical on every engine. */
  private[graft] def isDyadic(w: Double): Boolean =
    w > 0 && java.lang.Double.isFinite(w) &&
      (java.lang.Double.doubleToLongBits(w) & 0x000fffffffffffffL) == 0L

  /** Equi-width value histograms for numeric columns — the
    * distribution half of the profile ([[columnProfile]] counts; this
    * shapes), the input to skew diagnosis, curriculum thresholds, and
    * any optimizer-stats analog. Output: (column_name, bucket,
    * bucket_lo, n_rows) per non-empty bucket, where
    * `bucket = floor(value / width)` and `bucket_lo = bucket · width`;
    * NULL values land in a NULL bucket row so the histogram still
    * accounts every row.
    *
    * Widths are REQUIRED to be powers of two (any 2^k — 4096, 8,
    * 0.015625): dividing by 2^k only shifts the exponent, so bucket
    * assignment is exact IEEE on every engine — no "value on a bucket
    * boundary" drift, the same reasoning as the dyadic quantiles in
    * the length profile. A non-dyadic width fails loudly rather than
    * profiling approximately.
    *
    * Scale shape: ONE table scan; the (column, bucket) pairs are a
    * row-local explode (×|cols| before the map-side combine collapses
    * them to ≤ |cols|·|buckets| rows per task), then one tiny shuffle.
    * Per-column groupBys would scan the table |cols| times instead. */
  def histogram(df: DataFrame, widths: Seq[(String, Double)]): DataFrame =
    bucketCounts(df, widths)
      .orderBy(col("column_name"), col("bucket").asc_nulls_first)

  /** [[histogram]] without its sort: the (column_name, bucket,
    * bucket_lo, n_rows) counters, over a batch or a streaming frame (a
    * streaming aggregation cannot sort before its sink). Over a stream,
    * run with `outputMode("complete")` or `update`: the counters are
    * cumulative, and their state is |columns|·|buckets| rows however
    * many events flow through. */
  def bucketCounts(df: DataFrame, widths: Seq[(String, Double)])
      : DataFrame =
    bucketEntries(df, widths)
      .groupBy(col("column_name"), col("bucket"), col("bucket_lo"))
      .agg(count(lit(1)).as("n_rows"))

  /** Equi-depth (quantile-bucket) histograms — [[histogram]]'s other
    * half: equi-WIDTH shows the shape of a distribution on a fixed
    * grid; equi-DEPTH puts ~25% of rows in each bucket, which is what
    * a range-partitioner, a skew diagnosis ("is the top quartile one
    * value?"), or an optimizer's selectivity estimate actually wants.
    * Buckets: 0..3 split at the exact 25/50/75 percentiles
    * (`x <= p25 → 0`, … else 3), NULLs in an accounted −1 bucket.
    *
    * Exactness contract (the q45/q50 dyadic trick, one step further):
    * thresholds interpolate at dyadic quantile points over
    * INTEGER-VALUED columns, so `lower + (higher−lower)·f` incurs no
    * rounding at all — the threshold is the same exact rational on
    * every engine regardless of how the interpolation is algebraically
    * arranged, and the `<=` boundary comparison can never flip.
    * Fractional columns would make the threshold a rounded double
    * whose last ulp is engine-dependent; profile those with
    * [[histogram]]'s fixed grid instead.
    *
    * Scale shape: ONE pass computes all columns' percentile triples
    * (a single 1-row aggregate), appended via `crossJoin(broadcast)`
    * (the documented one-row scalar-append shape); bucket assignment
    * is a row-local CASE, and the rollup ships ≤ 5·|cols| pre-folded
    * rows per partition. */
  def equiDepthHistogram(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "equiDepthHistogram needs at least one column")
    val bad = cols.filterNot(df.columns.contains)
    require(bad.isEmpty, s"unknown columns: $bad")
    val th = df.agg(
      expr(s"percentile(${cols.head}, array(0.25D, 0.5D, 0.75D))")
        .as(s"__q_${cols.head}"),
      cols.tail.map(c =>
        expr(s"percentile($c, array(0.25D, 0.5D, 0.75D))").as(s"__q_$c")): _*)
    val entries = cols.map { c =>
      val q = col(s"__q_$c")
      val b = when(raw(c).isNull, lit(-1))
        .when(raw(c) <= element_at(q, 1), lit(0))
        .when(raw(c) <= element_at(q, 2), lit(1))
        .when(raw(c) <= element_at(q, 3), lit(2))
        .otherwise(lit(3))
      struct(lit(c).as("column_name"), b.cast("int").as("bucket"))
    }
    df.crossJoin(broadcast(th))
      .select(explode(array(entries: _*)).as("e"))
      .groupBy(col("e.column_name").as("column_name"),
        col("e.bucket").as("bucket"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("column_name"), col("bucket"))
  }

  /** WINSORIZATION — robust outlier clipping, the cleaning step between
    * profiling and training: clamp `valueCol` to its [pLo, pHi]
    * percentile bounds so a fat-tailed signal (loss spikes, price
    * errors, a feed's unit glitch) stops dominating downstream means
    * and gradients, without dropping the rows the way a filter would.
    * The exact interpolated percentile is the same aggregate
    * [[equiDepthHistogram]] already proved engine-portable (Spark
    * `percentile` ≡ DuckDB `quantile_cont`, identical linear
    * interpolation), and the clip itself is a row-local CASE over the
    * broadcast ONE-ROW bounds — the q88 scalar-append shape. NULLs
    * pass through unclipped (they are absent from the percentile by
    * both engines' definition). Output: every input column plus
    * (lo, hi, clipped).
    *
    * Scale note: the exact percentile is a single-pass aggregate whose
    * state is the value multiset per partition — at 100 TB switch the
    * bound source to the GK-sketch rung ([[lengthProfile]]'s
    * documented scale path); the clip stage is unchanged either way. */
  def winsorize(df: DataFrame, valueCol: String, pLo: Double = 0.01,
      pHi: Double = 0.99): DataFrame = {
    require(pLo >= 0.0 && pLo < pHi && pHi <= 1.0,
      s"need 0 <= pLo < pHi <= 1, got $pLo/$pHi")
    val th = df.agg(
      expr(s"percentile($valueCol, array(${pLo}D, ${pHi}D))").as("__th"))
    df.crossJoin(broadcast(th))
      .withColumn("lo", element_at(col("__th"), 1))
      .withColumn("hi", element_at(col("__th"), 2))
      .withColumn("clipped",
        when(raw(valueCol) < col("lo"), col("lo"))
          .when(raw(valueCol) > col("hi"), col("hi"))
          .otherwise(raw(valueCol)))
      .drop("__th")
  }

  /** The row-local half of [[histogram]]: one (column_name, bucket,
    * bucket_lo) row per (input row × profiled column), pre-aggregation.
    * Shared with [[graft.operators.Drift]]'s binning, so both bucket
    * identically by construction. */
  private[graft] def bucketEntries(df: DataFrame,
      widths: Seq[(String, Double)]): DataFrame = {
    require(widths.nonEmpty, "histogram needs at least one column")
    val bad = widths.map(_._1).filterNot(df.columns.contains)
    require(bad.isEmpty, s"unknown columns: $bad")
    val nonDyadic = widths.filterNot { case (_, w) => isDyadic(w) }
    require(nonDyadic.isEmpty,
      s"histogram widths must be powers of two for engine-exact " +
        s"bucketing, got: $nonDyadic")
    val entries = widths.map { case (c, w) =>
      struct(lit(c).as("column_name"),
        floor(raw(c) / lit(w)).cast("long").as("bucket"),
        lit(w).as("width"))
    }
    df.select(explode(array(entries: _*)).as("e"))
      .select(col("e.column_name").as("column_name"),
        col("e.bucket").as("bucket"),
        (col("e.bucket") * col("e.width")).as("bucket_lo"))
  }

  /** Per-stratum PERCENTILE normalization — `pct` ∈ [0,1] is the SQL
    * `percent_rank` of `valueCol` within its stratum: (rank−1)/(n−1),
    * ties share a rank, a single-row stratum scores 0. The curation
    * use: raw quality/length/loss signals are NOT comparable across
    * languages or sources (different alphabets, different scoring
    * regimes), so per-stratum thresholds ("keep each language's top
    * quartile") need each doc's rank INSIDE its stratum, not a global
    * cut. Engine-portable by construction: rank and count are exact
    * integers and the one division is a correctly-rounded IEEE op —
    * both engines define percent_rank identically.
    *
    * Scale shape: one hash exchange on the stratum + a per-stratum
    * sort — the honest cost of EXACT ranks (this is the exact sibling
    * of `TextAnalysis.curriculumBins`' threshold bins, which is the
    * cheap path when 4 buckets are enough). No global sort; skewed
    * strata split under AQE. */
  def stratumPercentile(df: DataFrame, stratumCol: String,
      valueCol: String): DataFrame = {
    require(df.columns.contains(stratumCol) && df.columns.contains(valueCol),
      s"need columns $stratumCol and $valueCol in ${df.columns.toSeq}")
    import org.apache.spark.sql.expressions.Window
    df.withColumn("pct", percent_rank().over(
      Window.partitionBy(raw(stratumCol)).orderBy(raw(valueCol))))
  }

  /** MAD outlier flagging — the robust sibling of a z-score cut:
    * flag rows where `|x − median| > k · MAD` (MAD = the median of
    * absolute deviations from the median). Robust because BOTH center
    * and spread are medians: a fat tail that would inflate a stddev
    * (and hide its own outliers) cannot move either statistic — the
    * standard pre-training signal-hygiene gate where [[winsorize]]
    * clips, this one LABELS (keep the rows, let the mixer decide).
    *
    * Exactness: both medians are the interpolated `percentile`
    * aggregate (≡ DuckDB `quantile_cont`, the q88/q102-proven pair);
    * the deviation, product and comparison are single IEEE ops over
    * identically-computed doubles, so the flag boundary cannot flip
    * between engines. NULL values keep NULL flags (no row drops — the
    * null-hygiene contract of [[winsorize]]).
    *
    * Scale shape: two percentile passes (MAD depends on the median —
    * inherently sequential) + one row-local flag pass, each over the
    * narrow projected column; the one-row stats frames ride broadcast
    * scalar appends (the q88/q102 shape, sweep-documented). */
  def madOutliers(df: DataFrame, valueCol: String,
      k: Double = 3.0): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val med = df.agg(expr(s"percentile($valueCol, 0.5D)").as("med"))
    val stats = df.crossJoin(broadcast(med))
      .agg(expr(s"percentile(abs($valueCol - med), 0.5D)").as("mad"),
        min(col("med")).as("med"))
    df.crossJoin(broadcast(stats))
      .withColumn("is_outlier",
        abs(raw(valueCol) - col("med")) > lit(k) * col("mad"))
  }

  /** MERGEABLE GRID PERCENTILE — the bounded-state sibling of the
    * exact `percentile` aggregate the family above leans on: bucket
    * values on a fixed dyadic grid (`bin = floor(x / width)`, the
    * [[histogram]] contract), count per bin, and answer each requested
    * percentile with the LOWER EDGE of the first bin whose cumulative
    * count reaches `ceil(p · N)`. The estimate is within `width` of
    * the true percentile by construction — and unlike the exact
    * aggregate (whose state is the value multiset per partition), the
    * sketch state is ONE COUNTER PER NON-EMPTY BIN: trivially
    * mergeable (bin counts add — GridPercentileSpec pins
    * batch-split ≡ one-shot), so the same grid serves incremental
    * stores, streaming accumulation, and 100 TB single-pass profiling
    * where a full-width exact percentile would spill.
    *
    * Engine-portability: the dyadic width makes bin assignment exact
    * IEEE ([[isDyadic]]); counts and cumulative sums are exact longs;
    * `p · N` is one IEEE multiply of a literal double by an
    * integer-valued double, identical on every engine, so `ceil` and
    * the `cum >= target` boundary cannot flip.
    *
    * Scale shape: ONE partial-aggregated pass over the projected
    * column builds the bin frame (≤ range/width rows — the caller
    * chooses `width` to bound it); the cumulative window, the one-row
    * total (broadcast scalar-append), and the per-p first-bin argmin
    * all run over that aggregate, never the table. NULLs are absent
    * from a percentile by definition; an empty input yields zero rows.
    *
    * Output: (p, n_values, target_rank, est_percentile), ordered. */
  def gridPercentile(df: DataFrame, valueCol: String, width: Double,
      ps: Seq[Double],
      scope: graft.engine.CacheScope = graft.engine.CacheScope.unmanaged)
      : DataFrame = {
    require(isDyadic(width),
      s"gridPercentile width must be a power of two for engine-exact " +
        s"bucketing, got $width")
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"percentile points must be in (0, 1], got $ps")
    // the bin frame feeds BOTH the cumulative window and the one-row
    // total — persisted, so the table scans once (PlanAuditSpec pins
    // the single scan)
    gridPercentileFromBins(
      scope.persist(gridBins(df, valueCol, width)), width, ps)
  }

  /** [[gridPercentile]]'s answer stage over an ALREADY-BUILT (bin, n)
    * counter frame — the entry point for durable/streaming bin stores
    * ([[graft.etl.GridStore]]), which accumulate [[gridBins]] state
    * and answer percentiles from the merged counters. Same plan from
    * here down, so store answers ≡ one-shot by construction. */
  private[graft] def gridPercentileFromBins(bins: DataFrame,
      width: Double, ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = bins.withColumn("cum",
      sum(col("n")).over(Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val total = bins.agg(sum(col("n")).as("n_values"))
    cum.crossJoin(broadcast(total))
      .select(col("bin"), col("cum"), col("n_values"),
        explode(array(ps.map(p => lit(p)): _*)).as("p"))
      .withColumn("target_rank", ceil(col("p") * col("n_values")))
      .where(col("cum") >= col("target_rank"))
      .groupBy(col("p"), col("n_values"), col("target_rank"))
      .agg(min(col("bin")).as("b"))
      .select(col("p"), col("n_values"), col("target_rank"),
        (col("b") * lit(width)).as("est_percentile"))
      .orderBy(col("p"))
  }

  /** The mergeable state of [[gridPercentile]]: one (bin, n) counter
    * row per non-empty bin. Factored out so stores / streaming twins
    * accumulate the IDENTICAL bin assignment by construction. */
  private[graft] def gridBins(df: DataFrame, valueCol: String,
      width: Double): DataFrame =
    df.select(raw(valueCol).as("v"))
      .where(col("v").isNotNull)
      .groupBy(floor(col("v") / lit(width)).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))

  /** Benford log10(1 + 1/d) shares as FIXED double literals (shared
    * verbatim with the oracle SQL): both engines parse the same
    * decimal string to the same nearest double, so no runtime log10 —
    * a libm call whose last ulp varies by platform — ever runs. */
  private[graft] val benfordShares: Seq[(Int, Double)] = Seq(
    1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
    3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
    5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
    7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
    9 -> 0.04575749056067514)

  /** BENFORD FIRST-DIGIT PROFILE — the data-forensics screen: natural
    * multi-decade measurements (prices, populations, file sizes)
    * follow Benford's law, `P(d) = log10(1 + 1/d)`; fabricated,
    * clipped, or unit-glitched feeds don't. Per column: observed
    * first-significant-digit counts, shares, the Benford expectation,
    * and the absolute deviation — a column whose deviations are large
    * ACROSS digits earns a human look before it trains anything. (A
    * bounded-range column like a 1–50 quantity legitimately deviates;
    * the profile is a screen, not a verdict — that contrast is why
    * q120 profiles one of each.)
    *
    * Engine-portability, twice over: the first digit comes from the
    * DECIMAL RENDERING of an exact integer (`floor` to BIGINT, cast
    * to string, first char) — never from `log10`/`pow`, whose libm
    * rounding varies — and the Benford expectations are fixed double
    * LITERALS ([[benfordShares]]) shared verbatim with the oracle.
    * Values below 1 are excluded (their first significant digit needs
    * fractional rescaling — a different operator's contract), as are
    * NULLs; shares divide exact counts once.
    *
    * Scale shape: row-local digit extraction, ONE partial-aggregated
    * groupBy over ≤ 9·|cols| cells, the per-column total a window
    * over that aggregate — nothing but counters crosses the wire. */
  def benfordProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "benfordProfile needs at least one column")
    val bad = cols.filterNot(df.columns.contains)
    require(bad.isEmpty, s"unknown columns: $bad")
    import org.apache.spark.sql.expressions.Window
    val entries = cols.map { c =>
      struct(lit(c).as("column_name"),
        substring(floor(raw(c)).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"),
        when(raw(c) >= 1, lit(1L)).as("ok"))
    }
    val counts = df.select(explode(array(entries: _*)).as("e"))
      .where(col("e.ok").isNotNull)
      .groupBy(col("e.column_name").as("column_name"),
        col("e.digit").as("digit"))
      .agg(count(lit(1)).as("n_rows"))
    val benford = benfordShares.tail.foldLeft(
      when(col("digit") === benfordShares.head._1,
        lit(benfordShares.head._2))) { case (acc, (d, p)) =>
      acc.when(col("digit") === d, lit(p)) }
    counts
      .withColumn("n_col", sum(col("n_rows")).over(
        Window.partitionBy(col("column_name"))))
      .select(col("column_name"), col("digit"), col("n_rows"),
        (col("n_rows").cast("double") / col("n_col").cast("double"))
          .as("share"))
      .withColumn("benford_share", benford)
      .withColumn("abs_dev", abs(col("share") - col("benford_share")))
      .orderBy(col("column_name"), col("digit"))
  }

  /** ONE-PASS PEARSON CORRELATION MATRIX — `r` for every column pair
    * from exact fixed-point moment sums: each value floors to a
    * 2^-20 long (the repo-wide grid), and `n`, `Σx`, `Σx²`, `Σxy` are
    * DECIMAL(38,0) integer folds, so the classic
    * `r = (nΣxy − ΣxΣy) / (√(nΣx² − (Σx)²) · √(nΣy² − (Σy)²))`
    * assembles from EXACT integers with three IEEE ops at the end
    * (two correctly-rounded sqrts and one division over
    * identically-computed doubles — engine-portable, no running-mean
    * float accumulation whose order a distributed engine can't pin,
    * which is why this is NOT Spark's `corr`). The profiling role:
    * a |cols|² redundancy map — a near-±1 pair is a duplicated or
    * derived signal (drop one before training), a near-0 pair with a
    * causal story is a data bug.
    *
    * Contract: rows with a NULL in ANY profiled column are excluded
    * (complete-case, so every pair shares one `n` and the matrix is
    * consistent); pairs where either side has zero variance on the
    * grid are excluded (r undefined — 0/0 diverges across engines).
    * The 2^40 fixed-point scale cancels exactly: √(2^40·a) =
    * 2^20·√a is exact IEEE (even power of two under sqrt).
    *
    * Scale shape: ONE partial-aggregated pass over the projected
    * columns computes all |cols|·(|cols|+1)/2 moments; the pair
    * unpivot explodes the 1-ROW aggregate, never the table. At
    * extreme value·row scale a DECIMAL(38,0) fold can overflow (Spark
    * nulls, the oracle's int128 wraps sooner) — rescale the inputs
    * first (winsorize / unit change), the q97 guard discussion. */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least two columns, got $cols")
    val bad = cols.filterNot(df.columns.contains)
    require(bad.isEmpty, s"unknown columns: $bad")
    val dec = "DECIMAL(19,0)"
    val complete = df.where(cols.map(raw(_).isNotNull).reduce(_ && _))
      .select(cols.zipWithIndex.map { case (c, i) =>
        floor(raw(c).cast("double") * lit(1048576.0)).cast("long")
          .as(s"f$i") }: _*)
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (i, j)
    val aggs =
      cols.indices.flatMap { i => Seq(
        sum(col(s"f$i").cast(dec)).as(s"s$i"),
        sum(expr(s"CAST(f$i AS $dec) * CAST(f$i AS $dec)")).as(s"q$i")) } ++
      pairs.map { case (i, j) =>
        sum(expr(s"CAST(f$i AS $dec) * CAST(f$j AS $dec)")).as(s"p${i}_$j")
      } :+ count(lit(1)).cast("long").as("n")
    val wide = complete.agg(aggs.head, aggs.tail: _*)
    val entries = pairs.map { case (i, j) => struct(
      lit(cols(i)).as("column_a"), lit(cols(j)).as("column_b"),
      (col("n").cast("DECIMAL(38,0)") * col(s"p${i}_$j") -
        col(s"s$i") * col(s"s$j")).as("num"),
      (col("n").cast("DECIMAL(38,0)") * col(s"q$i") -
        col(s"s$i") * col(s"s$i")).as("dx"),
      (col("n").cast("DECIMAL(38,0)") * col(s"q$j") -
        col(s"s$j") * col(s"s$j")).as("dy")) }
    wide.select(col("n"), explode(array(entries: _*)).as("e"))
      .where(col("e.dx") > 0 && col("e.dy") > 0)
      .select(col("e.column_a").as("column_a"),
        col("e.column_b").as("column_b"), col("n"),
        (col("e.num").cast("double") /
          (sqrt(col("e.dx").cast("double")) *
            sqrt(col("e.dy").cast("double")))).as("r"))
      .orderBy(col("column_a"), col("column_b"))
  }

  /** VALUE BANDS — count / min / exact quartiles / max of an
    * INTEGER-VALUED measure per group: the generic distribution
    * readout behind [[graft.operators.Rolling.dailyValueBands]]'
    * time-sliced form — latency distributions, gap profiles, size
    * bands. Quartiles over integers interpolate exactly on both
    * engines (the q88 dyadic-on-integers argument). ONE
    * partial-aggregable groupBy; the per-group multiset is the
    * documented profile-time cost ([[gridPercentile]] is the
    * bounded-state path). NULL values drop. */
  def valueBands(df: DataFrame, groupCol: Column, valueCol: Column)
      : DataFrame =
    df.select(groupCol.as("g"), valueCol.as("v"))
      .where(col("v").isNotNull)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        min(col("v")).as("min_v"),
        expr("percentile(v, array(0.25D, 0.5D, 0.75D))").as("__q"),
        max(col("v")).as("max_v"))
      .select(col("g"), col("n"), col("min_v"),
        element_at(col("__q"), 1).as("p25_v"),
        element_at(col("__q"), 2).as("p50_v"),
        element_at(col("__q"), 3).as("p75_v"),
        col("max_v"))
      .orderBy(col("g"))

  /** CO-MISSINGNESS LIFT — do columns go null TOGETHER: for every
    * column pair, `lift = P(both null) / (P(a null)·P(b null))` on
    * the exact-count fixed-point grid — lift ≫ 1 is the signature of
    * one broken extractor feeding several fields (fix the extractor,
    * not the columns), lift ≪ 1 of mutually-exclusive variants
    * (union-typed records hiding in one schema). The missingness
    * structure [[columnProfile]]'s per-column null counts can't see.
    *
    * Engine-exact: null indicators are 0/1 longs, every pair's
    * AND-count is a product sum, and the lift is q97's integral
    * division of DECIMAL(38,0) products. Scale shape: ONE ungrouped
    * partial-aggregable pass computes all |cols|² counters (the
    * [[correlationMatrix]] shape); the pair unpivot explodes the
    * 1-row aggregate. Pairs where either column never nulls keep
    * NULL lift (no mass to correlate). */
  def missingnessLift(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least two columns, got $cols")
    val bad = cols.filterNot(df.columns.contains)
    require(bad.isEmpty, s"unknown columns: $bad")
    val dec = "DECIMAL(38,0)"
    val ind = df.select(cols.zipWithIndex.map { case (c, i) =>
      when(raw(c).isNull, 1L).otherwise(0L).as(s"m$i") }: _*)
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (i, j)
    val aggs = cols.indices.map(i => sum(col(s"m$i")).as(s"n$i")) ++
      pairs.map { case (i, j) =>
        sum(col(s"m$i") * col(s"m$j")).as(s"n${i}_$j") } :+
      count(lit(1)).as("n")
    val wide = ind.agg(aggs.head, aggs.tail: _*)
    val entries = pairs.map { case (i, j) => struct(
      lit(cols(i)).as("ca"), lit(cols(j)).as("cb"),
      col(s"n$i").as("na"), col(s"n$j").as("nb"),
      col(s"n${i}_$j").as("nab")) }
    wide.select(col("n"), explode(array(entries: _*)).as("e"))
      .select(col("e.ca").as("column_a"), col("e.cb").as("column_b"),
        col("n").as("n_rows"), col("e.na").as("n_null_a"),
        col("e.nb").as("n_null_b"), col("e.nab").as("n_null_both"))
      .withColumn("lift_fp",
        when(col("n_null_a") > 0 && col("n_null_b") > 0, expr(
          s"((CAST(n_null_both AS $dec) * 1048576) * n_rows) " +
            s"div (CAST(n_null_a AS $dec) * n_null_b)")))
      .orderBy(col("column_a"), col("column_b"))
  }

  /** TRIMMED (default: interquartile) MEAN — the robust central
    * tendency completing the robust family ([[winsorize]] clamps,
    * [[madOutliers]] flags; this SUMMARIZES): per group, the mean of
    * values inside the exact [pLo, pHi] percentile band — the "typical
    * order value" a fat tail cannot drag, read next to the plain mean
    * to size how much the tail is lying.
    *
    * Engine-exact by composition of proven parts: the column must be
    * INTEGER-VALUED (money in cents via the `Dec` rule — the caller
    * converts; the fixture query shows the shape) and pLo/pHi DYADIC,
    * so the per-group interpolated thresholds are exact on both
    * engines (q88's dyadic-on-integers argument); the band test
    * compares exact doubles, the kept sum folds as DECIMAL(38,0), and
    * the mean is one IEEE division of exact values. Inclusive
    * boundaries: ties AT a threshold stay in (deterministic both
    * engines; with heavy ties the band holds more than pHi−pLo mass —
    * the standard quantile-ties caveat, documented not hidden).
    *
    * Scale shape: per-group exact percentile (the profile-time
    * multiset cost — q111's grid is the bounded-state alternative),
    * |groups|-row thresholds broadcast back, ONE partial-aggregable
    * conditional fold. NULLs drop (complete-case). */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double = 0.25, pHi: Double = 0.75,
      scope: graft.engine.CacheScope = graft.engine.CacheScope.unmanaged)
      : DataFrame = {
    require(0.0 <= pLo && pLo < pHi && pHi <= 1.0,
      s"need 0 <= pLo < pHi <= 1, got $pLo/$pHi")
    // dyadic RATIONAL on a coarse grid (k/64) — not isDyadic's
    // power-of-two test: the interpolation position p·(n−1) and the
    // fraction·(gap) product must stay exact in 53-bit arithmetic,
    // which a short binary fraction guarantees and 0.1 does not
    def onGrid(p: Double): Boolean = p * 64 == math.floor(p * 64)
    require(onGrid(pLo) && onGrid(pHi),
      s"pLo/pHi must be multiples of 1/64 (exact interpolation), " +
        s"got $pLo/$pHi")
    val dec = "DECIMAL(38,0)"
    val base = scope.persist(df
      .select(col(groupCol).as("g"), col(valueCol).cast("long").as("v"))
      .where(col("v").isNotNull))
    val th = base.groupBy(col("g"))
      .agg(expr(s"percentile(v, array(${pLo}D, ${pHi}D))").as("q"))
      .select(col("g"), element_at(col("q"), 1).as("lo"),
        element_at(col("q"), 2).as("hi"))
    val in = col("v") >= col("lo") && col("v") <= col("hi")
    base.join(broadcast(th), Seq("g"))
      .groupBy(col("g"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(in, 1L).otherwise(0L)).as("n_kept"),
        sum(when(in, col("v")).otherwise(0L).cast(dec)).as("__s"))
      .select(col("g").as(groupCol), col("n_rows"), col("n_kept"),
        col("lo"), col("hi"),
        when(col("n_kept") > 0, col("__s").cast("double") /
          col("n_kept").cast("double")).as("trimmed_mean"))
      .orderBy(col(groupCol))
  }

  /** KEY-CANDIDATE PROFILE — the uniqueness audit [[columnProfile]]'s
    * distinct counts gesture at but can't settle: per column, row /
    * null / distinct counts plus `max_dup` (the largest duplicate
    * group) and the `is_candidate_key` verdict (no NULLs, distinct ==
    * rows) — the pre-flight before trusting a column as a join key,
    * dedup identity, or PK for the insert-if-absent sink (§2.9): a
    * "key" with max_dup = 3 doesn't just fail uniqueness, it triples
    * join output where it collides.
    *
    * Scale shape: ONE row-local unpivot (a bounded ×|cols| explode)
    * feeds ONE partial-aggregable (column, value) count, and the
    * per-column fold runs over the reduced count frame — the shuffle
    * carries value cardinality, never rows twice (the fdAudit
    * pair-fold discipline). Values group by their STRING rendering so
    * one frame holds every column: exact for integer / string / date /
    * decimal columns; FLOAT columns are rejected (their rendering is
    * engine-formatting, and a float is not a key — profile those with
    * [[histogram]]). */
  def keyCandidates(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val bad = cols.filterNot(df.columns.contains)
    require(bad.isEmpty, s"unknown columns: $bad")
    val floaty = cols.filter { c =>
      val t = df.schema(c).dataType
      t == org.apache.spark.sql.types.FloatType ||
        t == org.apache.spark.sql.types.DoubleType }
    require(floaty.isEmpty,
      s"float columns are not key material (rendering is engine-" +
        s"formatting): $floaty")
    val entries = cols.map(c => struct(lit(c).as("column_name"),
      raw(c).cast("string").as("v")))
    df.select(explode(array(entries: _*)).as("e"))
      .select(col("e.column_name").as("column_name"), col("e.v").as("v"))
      .groupBy(col("column_name"), col("v"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("column_name"))
      .agg(sum(col("c")).as("n_rows"),
        sum(when(col("v").isNull, col("c")).otherwise(0L)).as("n_nulls"),
        count(when(col("v").isNotNull, lit(1))).as("n_distinct"),
        max(when(col("v").isNotNull, col("c"))).as("max_dup"))
      .withColumn("is_candidate_key",
        col("n_nulls") === 0 && col("n_distinct") === col("n_rows"))
      .orderBy(col("column_name"))
  }

  /** CRAMÉR'S V — association strength between two CATEGORICAL columns
    * (the [[correlationMatrix]] sibling for label-like data): does
    * `lang` predict `source`, does a feed's event mix depend on the
    * day-of-week, is a "new" dimension really a rename of an old one.
    * V ∈ [0, 1] normalizes the chi-square statistic by its maximum, so
    * it compares across tables of different size and cardinality.
    *
    * Engine-exact by the q52 discipline: the cross-cell identity
    * `χ² = N·Σ_{o>0} o²/(r·c) − N` removes the empty-cell grid a
    * textbook Σ(o−e)²/e needs (zero-observed cells contribute exactly
    * their expectation, which the −N term folds in closed form) — so
    * the only frames are the observed contingency cells and the two
    * margin totals. Each cell's o²·2²⁰/(r·c) is one integral division
    * of exact DECIMAL(38,0) products (o² overflows BIGINT at web
    * scale), the fixed-point terms sum as integers (order-free), and
    * the only IEEE ops are the final casts, two divisions, and one
    * `sqrt`.
    *
    * Scale shape: one partial-aggregable (a, b) count pass over the
    * table; margins are |a|- and |b|-row rollups of the CELL frame
    * (never the table) broadcast back onto it; the final reduction is
    * ONE ungrouped aggregate over ≤ |a|·|b| cells. NULL in either
    * column drops the row (complete-case, the correlationMatrix
    * convention). Degenerate tables (either margin constant → dof 0)
    * keep NULL χ²/V; the contract row survives an empty input. */
  def cramersV(df: DataFrame, colA: String, colB: String): DataFrame = {
    val dec = "DECIMAL(38,0)"
    val obs = df.where(raw(colA).isNotNull && raw(colB).isNotNull)
      .groupBy(raw(colA).as("a"), raw(colB).as("b"))
      .agg(count(lit(1)).as("o"))
    val rowTot = obs.groupBy(col("a")).agg(sum(col("o")).as("r"))
    val colTot = obs.groupBy(col("b")).agg(sum(col("o")).as("c"))
    val cells = obs
      .join(broadcast(rowTot), Seq("a"))
      .join(broadcast(colTot), Seq("b"))
      .withColumn("t_fp", expr(
        s"(CAST(o AS $dec) * CAST(o AS $dec) * 1048576) " +
          s"div (CAST(r AS $dec) * CAST(c AS $dec))"))
    cells.agg(
        coalesce(sum(col("o")), lit(0L)).as("n_rows"),
        countDistinct(col("a")).as("n_a"),
        countDistinct(col("b")).as("n_b"),
        sum(col("t_fp").cast(dec)).as("__st"))
      .withColumn("dof",
        when(col("n_a") >= 2 && col("n_b") >= 2,
          least(col("n_a") - 1, col("n_b") - 1)))
      .withColumn("chi2",
        when(col("dof").isNotNull,
          (col("n_rows").cast(dec) * col("__st") -
            col("n_rows").cast(dec) * 1048576L).cast("double") /
            lit(1048576.0)))
      .withColumn("cramers_v",
        when(col("dof").isNotNull,
          sqrt(col("chi2") /
            (col("n_rows").cast("double") * col("dof").cast("double")))))
      .select(col("n_rows"), col("n_a"), col("n_b"), col("dof"),
        col("chi2"), col("cramers_v"))
  }

  /** GROUP-CONCENTRATION PROFILE — how unevenly the corpus is spread
    * over a key (source, domain, language, customer): one row with the
    * three standard concentration readings over the GROUP-SIZE
    * distribution — `top1_share` (largest group's mass),
    * `hhi` (Herfindahl–Hirschman, Σ share² — the regulator's
    * concentration index, also the collision probability of two row
    * draws landing in the same group), and `gini` (the inequality
    * coefficient). The corpus-composition alarm a mixer reads before
    * trusting per-group weights: a Gini near 1 means a handful of
    * feeds ARE the corpus, and any per-group sampling knob is really a
    * knob on those feeds.
    *
    * Engine-exact: sizes are exact longs; the Gini uses the sorted
    * closed form `(2·Σ i·xᵢ − (k+1)·N) / (k·N)` with ranks from an
    * unambiguous (size, group) total order, Σi·x folded as
    * DECIMAL(38,0); HHI folds Σx² the same way; each output double is
    * one division (or one divide-of-casts) of exact integers.
    *
    * Scale shape: ONE partial-aggregable groupBy reduces the table to
    * |groups| rows; the rank window and final fold run on that reduced
    * frame only (the q65 argument — a single-partition sort of
    * |groups| rows, never the corpus). NULL keys form their own group
    * (absence concentration is still concentration). */
  def concentrationProfile(df: DataFrame, groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "DECIMAL(38,0)"
    val sizes = df.groupBy(raw(groupCol).as("g"))
      .agg(count(lit(1)).as("x"))
    val ranked = sizes.withColumn("i",
      row_number().over(Window.orderBy(col("x"), col("g"))))
    ranked.agg(
        count(lit(1)).as("n_groups"),
        coalesce(sum(col("x")), lit(0L)).as("n_rows"),
        max(col("x")).as("__top"),
        sum(expr(s"CAST(i AS $dec) * CAST(x AS $dec)")).as("__ix"),
        sum(expr(s"CAST(x AS $dec) * CAST(x AS $dec)")).as("__xx"))
      .select(col("n_groups"), col("n_rows"),
        when(col("n_rows") > 0,
          col("__top").cast("double") / col("n_rows").cast("double"))
          .as("top1_share"),
        when(col("n_rows") > 0,
          col("__xx").cast("double") /
            (col("n_rows").cast(dec) * col("n_rows").cast(dec))
              .cast("double")).as("hhi"),
        when(col("n_rows") > 0,
          (lit(2L).cast(dec) * col("__ix") -
            (col("n_groups") + 1).cast(dec) * col("n_rows").cast(dec))
            .cast("double") /
            (col("n_groups").cast(dec) * col("n_rows").cast(dec))
              .cast("double")).as("gini"))
  }

  /** TAIL BANDS — the SLO tail [[valueBands]]' quartiles can't see:
    * per group, the exact percentiles of an INTEGER measure at the
    * DYADIC tail points 1/2, 3/4, 7/8, 15/16, 31/32, 63/64 (column
    * names spell the decimal fraction: p9375 = .9375). A p99 SLO is
    * conventionally decimal, but 0.99 is not exactly representable in
    * binary and engines disagree in the last ulp of the interpolation
    * weight; the dyadic ladder brackets the same tail (63/64 ≈ p98.4)
    * with interpolation weights that are pure exponent shifts —
    * engine-exact on integer inputs, the q74/q88/q167 rule.
    *
    * Scale shape: ONE partial-aggregable groupBy; the exact per-group
    * percentile is the documented profile-time cost (the q147
    * caveat — [[gridPercentile]]'s bounded-bin grid is the
    * streaming-scale path). */
  def tailBands(df: DataFrame, groupCol: Column, valueCol: Column)
      : DataFrame =
    df.select(groupCol.as("g"), valueCol.as("v"))
      .where(col("v").isNotNull)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(v, array(0.5D, 0.75D, 0.875D, 0.9375D, " +
          "0.96875D, 0.984375D))").as("__q"),
        max(col("v")).as("max_v"))
      .select(col("g"), col("n"),
        element_at(col("__q"), 1).as("p50"),
        element_at(col("__q"), 2).as("p75"),
        element_at(col("__q"), 3).as("p875"),
        element_at(col("__q"), 4).as("p9375"),
        element_at(col("__q"), 5).as("p96875"),
        element_at(col("__q"), 6).as("p984375"),
        col("max_v"))
      .orderBy(col("g"))

  /** GRID-PERCENTILE ACCURACY EVAL — the eval rung for the percentile
    * sketch (the q129/q144/q148/q178 pattern applied to
    * [[gridPercentile]]): per percentile point, the grid estimate vs
    * the EXACT rank-based percentile (the value at rank ⌈p·n⌉), with
    * the signed error and the guarantee check `0 ≤ err < width` —
    * the estimate is the target value's bin FLOOR, so the true value
    * sits in [est, est + width). A violated bound means the grid (or
    * its merge path, [[graft.etl.GridStore]]) is broken, not noisy.
    *
    * The exact side sorts the distinct-VALUE frame through one global
    * cumulative window — the documented eval-time cost (the q20/q148
    * convention: the reference rung is allowed to be expensive;
    * production reads the sketch alone). Rank-based (never
    * interpolated) percentiles keep both sides engine-exact on any
    * input doubles. */
  def gridPercentileAccuracy(df: DataFrame, valueCol: String,
      width: Double, ps: Seq[Double],
      scope: graft.engine.CacheScope = graft.engine.CacheScope.unmanaged)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = gridPercentile(df, valueCol, width, ps, scope)
    val vals = df.select(raw(valueCol).as("v"))
      .where(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("n"))
    val cum = vals.withColumn("cum",
      sum(col("n")).over(Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val exact = cum
      .join(broadcast(grid.select(col("p"), col("target_rank"))),
        col("cum") >= col("target_rank"))
      .groupBy(col("p"), col("target_rank"))
      .agg(min(col("v")).as("exact_percentile"))
    grid.join(exact, Seq("p", "target_rank"))
      .withColumn("err", col("exact_percentile") - col("est_percentile"))
      .select(col("p"), col("n_values"), col("target_rank"),
        col("est_percentile"), col("exact_percentile"), col("err"),
        (col("err") >= 0.0 && col("err") < width).as("within_width"))
      .orderBy(col("p"))
  }

  /** KEY-SEQUENCE GAP AUDIT — where a supposedly-dense integer key
    * space has HOLES: one row with min/max key, distinct count, total
    * missing mass, the number of gaps, the largest gap and where it
    * starts (earliest start among maximal gaps — pinned). The
    * data-quality complement of [[keyCandidates]]: that audit asks
    * "is this column a key?", this asks "did part of the keyed data
    * VANISH?" — a dropped ingest shard shows up as one wide gap, a
    * lossy filter as many unit gaps.
    *
    * Scale shape: the naive lag-over-everything window funnels every
    * distinct key through ONE task; instead the keys bucket by
    * `k div 2²⁰` so within-bucket lags run in a PARTITIONED window,
    * and only the \|buckets\|-row boundary frame (keyspace/2²⁰ rows —
    * bounded by the key RANGE, not the corpus) pays a global-window
    * pass for the cross-bucket gaps (the Packing two-phase shape).
    * Both gap families then fold in one tiny aggregate. All integer
    * arithmetic; gap ties pin by (gap DESC, start ASC) via the
    * max-struct encode over exact ints. */
  def keyGapAudit(df: DataFrame, keyCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = df.select(keyCol.cast("long").as("k"))
      .where(col("k").isNotNull).distinct()
      .withColumn("bkt", expr("k div 1048576"))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("k"))
    val inGaps = keys
      .withColumn("pk", lag(col("k"), 1).over(wIn))
      .withColumn("gap", col("k") - col("pk") - 1)
      .withColumn("gs", col("pk") + 1)
    val perBucket = inGaps.groupBy(col("bkt"))
      .agg(min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        count(lit(1)).as("n_k"),
        coalesce(sum(when(col("gap") > 0, 1L).otherwise(0L)), lit(0L))
          .as("n_gaps_in"),
        max(when(col("gap") > 0, struct(col("gap"), (-col("gs"))
          .as("neg_gs")))).as("mx_in"))
    val wB = Window.orderBy(col("bkt"))
    val withBoundary = perBucket
      .withColumn("prev_max", lag(col("max_k"), 1).over(wB))
      .withColumn("bgap", col("min_k") - col("prev_max") - 1)
      .withColumn("bgs", col("prev_max") + 1)
    withBoundary.agg(
        min(col("min_k")).as("min_key"),
        max(col("max_k")).as("max_key"),
        sum(col("n_k")).as("n_keys"),
        (sum(col("n_gaps_in")) +
          coalesce(sum(when(col("bgap") > 0, 1L).otherwise(0L)), lit(0L)))
          .as("n_gaps"),
        greatest(
          coalesce(max(col("mx_in")), struct(lit(0L).as("gap"),
            lit(0L).as("neg_gs"))),
          coalesce(max(when(col("bgap") > 0, struct(col("bgap")
            .as("gap"), (-col("bgs")).as("neg_gs")))),
            struct(lit(0L).as("gap"), lit(0L).as("neg_gs"))))
          .as("mx"))
      .select(col("min_key"), col("max_key"), col("n_keys"),
        (col("max_key") - col("min_key") + 1 - col("n_keys"))
          .as("n_missing"),
        col("n_gaps"), col("mx.gap").as("max_gap"),
        when(col("mx.gap") > 0, -col("mx.neg_gs")).as("max_gap_start"))
  }

  /** HEAD-TAIL ROLLUP — the "top-k plus OTHERS" table every report
    * footer needs: the k most frequent categories with exact counts
    * and shares, and ONE residual row carrying everything else (how
    * many categories, how much mass) — the readout
    * [[concentrationProfile]] summarizes into indexes, kept
    * row-visible. NULL categories fold into the "(null)" bucket and
    * compete for the head like any value; a real category literally
    * named "(other)"/"(null)" would collide with the sentinels
    * (documented caveat). Ties pin (count DESC, category ASC).
    *
    * Scale shape: ONE partial-aggregable category count; the rank
    * window and the residual fold run over the |categories|-row
    * reduced frame (single-partition window bounded by category
    * cardinality — for a high-cardinality PER-GROUP variant use the
    * grouped top-k, q46); totals ride one-row broadcast appends. */
  def headTailRollup(df: DataFrame, catCol: Column, k: Int = 10)
      : DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(coalesce(catCol.cast("string"), lit("(null)")).as("cat"))
      .groupBy(col("cat")).agg(count(lit(1)).as("n"))
    val ranked = counts.withColumn("r",
      row_number().over(Window.orderBy(col("n").desc, col("cat"))))
    val head = ranked.where(col("r") <= k)
      .select(col("cat").as("bucket"), col("r").as("rank"),
        col("n").as("n_rows"), lit(1L).as("n_categories"))
    val tail = ranked.where(col("r") > k)
      .agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_categories"))
      .where(col("n_rows").isNotNull)
      .select(lit("(other)").as("bucket"), lit(k + 1).as("rank"),
        col("n_rows"), col("n_categories"))
    val total = counts.agg(sum(col("n")).as("__t"))
    head.unionByName(tail)
      .crossJoin(broadcast(total))
      .select(col("bucket"), col("rank"), col("n_rows"),
        col("n_categories"),
        (col("n_rows").cast("double") / col("__t").cast("double"))
          .as("share"))
      .orderBy(col("rank"))
  }

  /** CONTRIBUTION SHARES — the two-level "percent of parent / percent
    * of total" readout every drill-down dashboard opens with: exact
    * decimal value by (parent, child), each child's share of its
    * parent and of the grand total. [[graft.operators.Cohorts.paretoClasses]]
    * ranks a FLAT key space; this reads the HIERARCHY (nation within
    * region, category within department) — contribution analysis.
    *
    * Exactness: sums fold as DECIMAL(12,2) ([[graft.engine.Dec]]);
    * each share is ONE IEEE division of exact decimals at the
    * boundary; zero parents/totals keep NULL shares. Scale shape: ONE
    * partial-aggregable (parent, child) rollup; the parent and total
    * windows run over that reduced frame (the q162 justification —
    * bounded by the dimension, not the fact). */
  def contributionShares(df: DataFrame, parentCol: Column,
      childCol: Column, valueCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.engine.Dec
    val g = df.select(parentCol.as("parent"), childCol.as("child"),
        Dec.d2(valueCol).as("v"))
      .groupBy(col("parent"), col("child"))
      .agg(sum(col("v")).as("value"))
    val wP = Window.partitionBy(col("parent"))
    val wAll = Window.partitionBy()
    g.withColumn("pv", sum(col("value")).over(wP))
      .withColumn("tv", sum(col("value")).over(wAll))
      .select(col("parent"), col("child"),
        Dec.outD(col("value")).as("value"),
        when(col("pv") =!= 0,
          Dec.outD(col("value")) / Dec.outD(col("pv")))
          .as("share_of_parent"),
        when(col("tv") =!= 0,
          Dec.outD(col("value")) / Dec.outD(col("tv")))
          .as("share_of_total"))
      .orderBy(col("parent"), col("child"))
  }

  /** 2-D SKYLINE (Pareto frontier) — the maximal points under
    * "bigger is better on both axes": rows no other row dominates
    * (≥ on both, > on at least one). The curation shortlist operator
    * ("the docs that are both long AND high-quality, with nothing
    * strictly better") — the classic skyline query (Börzsönyi et al.,
    * ICDE 2001) restricted to 2-D, where it collapses to sorted
    * cumulative maxima instead of the general block-nested loop.
    *
    * Survival rule over the PER-X reduced frame: a row survives iff
    * its y is the max at its x AND strictly exceeds the best y among
    * all strictly-greater x (equal (x, y) rows tie into the frontier
    * together — neither dominates). All integer/exact comparisons; no
    * pairwise join anywhere.
    *
    * Scale shape: ONE partial-aggregable per-x max, a \|distinct x\|-
    * row cumulative window, a broadcast join back — corpus-sized work
    * is one groupBy; the window frame is bounded by the x
    * cardinality. */
  def skyline2D(df: DataFrame, idCol: Column, xCol: Column,
      yCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = df.select(idCol.as("id"), xCol.as("x"), yCol.as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
    val perX = pts.groupBy(col("x")).agg(max(col("y")).as("max_y"))
    val wDesc = Window.orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontierX = perX
      .withColumn("prev_max", max(col("max_y")).over(wDesc))
      .where(col("prev_max").isNull || col("max_y") > col("prev_max"))
      .select(col("x"), col("max_y"))
    val fx = frontierX
      .select(col("x").as("__fx"), col("max_y").as("__fy"))
    pts.join(broadcast(fx),
        col("x") === col("__fx") && col("y") === col("__fy"))
      .select(col("id"), col("x"), col("y"))
      .orderBy(col("x").desc, col("id"))
  }

  /** SAMPLE REPRESENTATIVENESS — did a deterministic sample distort
    * the stratum mix: per stratum, the full-corpus share vs the
    * sample share on the exact-count fixed-point grid, plus each
    * stratum's signed distortion — the audit that validates a
    * sampling policy BEFORE a model trains on its output (a hash
    * sample is unbiased in expectation; this measures the realized
    * draw). L1-style fixed-point arithmetic (the q69 rule): shares as
    * `count·2²⁰ div total`, distortion the integer difference.
    *
    * Scale shape: two partial-aggregable stratum counts (corpus and
    * sample), one \|strata\|-row join, two one-row total appends. */
  def sampleRepresentativeness(full: DataFrame, sample: DataFrame,
      stratumCol: String): DataFrame = {
    val f = full.groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_full"))
    val sm = sample.groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_sample"))
    val ft = f.agg(sum(col("n_full")).as("__tf"))
    val st = sm.agg(coalesce(sum(col("n_sample")), lit(0L)).as("__ts"))
    f.join(sm, Seq("stratum"), "left")
      .na.fill(0L, Seq("n_sample"))
      .crossJoin(broadcast(ft)).crossJoin(broadcast(st))
      .withColumn("share_full_fp",
        expr("(n_full * 1048576) div __tf"))
      .withColumn("share_sample_fp",
        when(col("__ts") > 0, expr("(n_sample * 1048576) div __ts"))
          .otherwise(lit(0L)))
      .select(col("stratum"), col("n_full"), col("n_sample"),
        col("share_full_fp"), col("share_sample_fp"),
        (col("share_sample_fp") - col("share_full_fp"))
          .as("distortion_fp"))
      .orderBy(col("stratum"))
  }

  /** SCORE-OUTCOME CALIBRATION — the reliability curve behind using
    * any per-row ratio score as a gate: bucket rows by the score into
    * `bins` equal-width bins and report, per bin, how often a binary
    * outcome holds. The table that answers "is this signal actually
    * predictive of the thing I filter for" BEFORE a threshold ships —
    * a flat curve means the score carries no information about the
    * outcome; a monotone one justifies (and locates) the cut.
    *
    * Engine-exact binning: the score is given as an INTEGER
    * numerator/denominator pair and the bin is
    * `min((num·bins) div den, bins−1)` — integer division, so the
    * edges are exact rationals and the boundary cannot flip between
    * engines (a `floor(ratio · bins)` on IEEE doubles could).
    * `positives` is an id frame (deduplicated here); rows with a
    * zero/NULL denominator have no score and drop out. The one IEEE
    * double is the per-bin rate.
    *
    * Scale shape: binning is row-local; the membership join is a hash
    * join on the id (positives arrive aggregated or raw — never
    * pairwise); ONE partial-aggregated fold over ≤ `bins` keys. */
  def scoreOutcomeCalibration(scored: DataFrame, idCol: String,
      numCol: String, denCol: String, positives: DataFrame,
      posIdCol: String, bins: Int = 8): DataFrame = {
    require(bins >= 2 && bins <= 1024, s"bins=$bins out of [2, 1024]")
    val pos = positives.select(col(posIdCol).as("__pid")).distinct()
    scored.where(col(denCol) > 0)
      .select(col(idCol).as("__id"),
        least(expr(s"($numCol * $bins) div $denCol"), lit(bins - 1))
          .cast("int").as("bin_id"))
      .join(pos, col("__id") === col("__pid"), "left")
      .select(col("bin_id"),
        when(col("__pid").isNotNull, 1L).otherwise(0L).as("__p"))
      .groupBy(col("bin_id"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__p")).as("n_positive"))
      .withColumn("positive_rate",
        col("n_positive").cast("double") / col("n_rows").cast("double"))
      .orderBy(col("bin_id"))
  }

  /** EXPECTED CALIBRATION ERROR (midpoint form) — the single number
    * over [[scoreOutcomeCalibration]]'s reliability table: how far, on
    * average (row-weighted), each bin's observed positive rate sits
    * from the bin's nominal midpoint. The curve says WHERE a score is
    * miscalibrated; this is the one-line regression gate ("ECE
    * worsened since last snapshot") a monitor alarms on. Midpoint-ECE
    * rather than mean-confidence-ECE deliberately: the bin's mean
    * predicted score is a ratio mean with no engine-exact form, while
    * the midpoint `(2b+1)/(2·bins)` is an exact rational.
    *
    * Engine-exact: rate and midpoint in 2^20 fixed-point integer
    * division, the weighted |diff| folded in DECIMAL(38,0), ONE final
    * IEEE division renders the [0,1] number.
    *
    * Scale shape: consumes the ≤ bins-row calibration table — this
    * fold is free; the cost is whatever built the table. */
  def calibrationEce(calib: DataFrame, bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 1024, s"bins=$bins out of [2, 1024]")
    val dec = "DECIMAL(38,0)"
    calib
      .select(col("bin_id"), col("n_rows"), col("n_positive"),
        expr("(n_positive * 1048576) div n_rows").as("__rate_fp"),
        expr(s"((2 * bin_id + 1) * 1048576) div ${2 * bins}")
          .as("__mid_fp"))
      .agg(sum(col("n_rows")).as("n"),
        sum(col("n_rows").cast(dec) *
          abs(col("__rate_fp") - col("__mid_fp")).cast(dec))
          .as("__wsum"))
      .select(col("n"),
        when(col("n") > 0, col("__wsum").cast("double") /
          (col("n").cast(dec) * lit(1048576L).cast(dec)).cast("double"))
          .as("ece"))
  }

  /** SKETCH-BASED COLUMN PROFILE — the 100 TB path for
    * [[columnProfile]]: the exact profile's `countDistinct` plans as
    * an Expand that multiplies every row by |cols| and holds exact
    * per-value state through the aggregate — fine at audit scale,
    * not at corpus scale. This variant keeps the exact row/null
    * counters (cheap sums) and replaces the distinct count with a
    * per-column HyperLogLog ([[Sketch.hllDistinct]]): ONE pass, a
    * row-local unpivot, and ≤ m registers per column of mergeable
    * state — the profile a 1000-executor job can afford on every
    * ingest.
    *
    * Engine-exact: values render through `CAST(x AS STRING)` and hash
    * with the portable 31/131 char folds, so the estimate — not just
    * the error bound — replays bit-for-bit in any engine (the q89
    * discipline). Column types are restricted to strings and
    * integers, whose string rendering is identical everywhere;
    * requesting a double/timestamp column fails loudly rather than
    * risking a formatting divergence.
    *
    * Output: (column_name, n_rows, n_nulls, est_distinct), NULLs
    * excluded from the sketch (they are counted, not hashed). */
  def columnProfileSketch(df: DataFrame, cols: Seq[String],
      m: Int = 256, wBits: Int = 52): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
      ShortType, StringType}
    require(cols.nonEmpty, "columnProfileSketch needs at least one column")
    val bad = cols.filterNot(df.columns.contains)
    require(bad.isEmpty, s"unknown columns: $bad")
    val allowed: Set[org.apache.spark.sql.types.DataType] =
      Set(StringType, ByteType, ShortType, IntegerType, LongType)
    val badType = cols.filter(c =>
      !allowed.contains(df.schema(c).dataType))
    require(badType.isEmpty,
      s"columns with non-portable string rendering: $badType " +
        "(only string and integer columns profile engine-exactly)")
    val p = graft.functions.TextHash.P
    val entries = cols.map(c => struct(lit(c).as("column_name"),
      raw(c).cast("string").as("__v")))
    val long = df.select(explode(array(entries: _*)).as("__e"))
      .select(col("__e.column_name").as("column_name"),
        col("__e.__v").as("__v"))
    val counts = long.groupBy(col("column_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_nulls"))
    val hashed = long.where(col("__v").isNotNull)
      .select(col("column_name"),
        graft.functions.TextHash.charFoldOf(col("__v"), 31L, 0L)
          .as("__h1"),
        graft.functions.TextHash.charFoldOf(col("__v"), 131L, 7L)
          .as("__h2"))
      .select(col("column_name"),
        ((col("__h1") * col("__h1") % p) * p +
          col("__h2") * col("__h2") % p).as("__h"))
    counts
      .join(Sketch.hllDistinct(hashed, "column_name", "__h", m, wBits)
        .select(col("column_name").as("__cn"), col("est_distinct")),
        col("column_name") === col("__cn"), "left")
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        coalesce(col("est_distinct"), lit(0.0)).as("est_distinct"))
      .orderBy(col("column_name"))
  }

  /** ROC-AUC of an integer score against a binary label — the one
    * number behind every "does this quality signal rank the bad rows
    * last" decision, computed exactly via the Mann–Whitney midrank
    * identity: `AUC = (Σ_pos midrank − P(P+1)/2) / (P·N)`. This is
    * what [[scoreOutcomeCalibration]]'s curve summarizes: calibration
    * shows WHERE the signal separates, AUC says HOW MUCH, ties (a
    * coarse score has many) handled by midranks rather than an
    * arbitrary tie-break.
    *
    * Engine-exact: ranks never materialize per row — the score is
    * integer-valued, so grouping by score gives (n, n_pos) per
    * distinct value, `2·midrank = 2·below + n + 1` is exact in
    * integers, and the fold `Σ n_pos·2·midrank` runs in DECIMAL(38,0)
    * (corpus-scale n_pos·rank products overflow any 64-bit width). The
    * single IEEE division at the end is the only double.
    *
    * Scale shape: ONE partial-aggregated fold to |distinct scores|
    * keys, then an unpartitioned running sum over that SMALL frame
    * (the q84 aggregated-rank discipline: the window touches score
    * values, never rows) and an ungrouped fold. NULL scores or labels
    * drop out (no rank is definable for them). */
  def scoreAuc(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "DECIMAL(38,0)"
    val g = scored
      .where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(scoreCol).cast("long").as("__s"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col(labelCol) =!= 0, 1L).otherwise(0L)).as("__np"))
    val w = Window.orderBy(col("__s"))
    g.withColumn("__below", coalesce(sum(col("__n"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .agg(sum(col("__np")).as("n_pos"),
        sum(col("__n") - col("__np")).as("n_neg"),
        count(lit(1)).as("n_scores"),
        sum(col("__np").cast(dec) *
          (lit(2L) * col("__below") + col("__n") + lit(1L)).cast(dec))
          .as("__r2"))
      .select(col("n_pos"), col("n_neg"), col("n_scores"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("__r2") - col("n_pos").cast(dec) *
            (col("n_pos") + lit(1L)).cast(dec)).cast("double") /
            (lit(2L).cast(dec) * col("n_pos").cast(dec) *
              col("n_neg").cast(dec)).cast("double")).as("auc"))
  }

  /** CUMULATIVE GAIN / LIFT CURVE of an integer score against a binary
    * label — the table behind "if we keep only the top X% by score,
    * what fraction of the positives do we capture": rows rank by score
    * DESCENDING, split into `bands` equal-population bands, and each
    * band reports its own and cumulative counts, the captured-positive
    * share, and the lift over the base rate. [[scoreAuc]] is this
    * curve's integral; teams act on the curve (pick the band where
    * capture flattens).
    *
    * Engine-exact banding: a distinct score value lands wholly in the
    * band where its run STARTS — `band = (above·bands) div total`,
    * `above` = rows with strictly higher score — so band edges are
    * exact integer rationals and never split a tie between engines
    * (an ntile over per-row ranks would, nondeterministically).
    * Capture and lift are 2^20 fixed-point integer divisions, folded
    * in DECIMAL(38,0) where products exceed 64 bits.
    *
    * Scale shape: identical to [[scoreAuc]] — one fold to |distinct
    * scores| keys, tiny-frame running sums, one fold to ≤ `bands`
    * rows. Empty high bands (coarse scores) are simply absent. */
  def gainCurve(scored: DataFrame, scoreCol: String, labelCol: String,
      bands: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bands >= 2 && bands <= 1024, s"bands=$bands out of [2, 1024]")
    val dec = "DECIMAL(38,0)"
    val g = scored
      .where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(scoreCol).cast("long").as("__s"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col(labelCol) =!= 0, 1L).otherwise(0L)).as("__np"))
    val wDesc = Window.orderBy(col("__s").desc)
    val banded = g
      .withColumn("__above", coalesce(sum(col("__n"))
        .over(wDesc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__total", col("__above") + coalesce(sum(col("__n"))
        .over(wDesc.rowsBetween(0, Window.unboundedFollowing)), lit(0L)))
      .withColumn("band_id",
        expr(s"(__above * $bands) div __total").cast("int"))
      .groupBy(col("band_id"))
      .agg(sum(col("__n")).as("n_rows"), sum(col("__np")).as("n_pos"))
    val wBand = Window.orderBy(col("band_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    banded
      .withColumn("cum_rows", sum(col("n_rows")).over(wBand))
      .withColumn("cum_pos", sum(col("n_pos")).over(wBand))
      .withColumn("__tp", sum(col("n_pos"))
        .over(Window.orderBy(col("band_id"))
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .withColumn("__tr", sum(col("n_rows"))
        .over(Window.orderBy(col("band_id"))
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .select(col("band_id"), col("n_rows"), col("n_pos"),
        col("cum_rows"), col("cum_pos"),
        when(col("__tp") > 0,
          expr("(cum_pos * 1048576) div __tp")).as("capture_fp"),
        when(col("__tp") > 0, expr(
          s"CAST((CAST(cum_pos AS $dec) * CAST(__tr AS $dec) * 1048576)" +
            s" div (CAST(cum_rows AS $dec) * CAST(__tp AS $dec))" +
            " AS BIGINT)")).as("lift_fp"))
      .orderBy(col("band_id"))
  }
}
