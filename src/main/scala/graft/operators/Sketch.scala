package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.CacheScope
import graft.functions.TextHash

/** Count-min sketch over portable token hashes — the fixed-memory
  * frequency rung UNDER the exact vocabulary groupBy (q65's Zipf
  * profile). The exact profile shuffles |vocab| keys; at 100 TB a
  * web-scale vocabulary (hundreds of billions of distinct n-grams) can
  * make even that reduced shuffle the bottleneck. The sketch replaces
  * it with a `depth`×`width` counter matrix whose size is a CONSTANT
  * chosen up front: every partition folds its occurrences into its own
  * d·w partial grid (map-side combine), and the only shuffle is
  * d·w·partitions pre-folded rows — independent of both corpus size
  * and vocabulary size. Estimates never undercount (each counter is a
  * superset sum); overcount is bounded by the usual CMS 2N/w with
  * probability 1 − 2^−d.
  *
  * Portability: bucket hashing reuses [[TextHash.minhashPerm]]'s affine
  * family mod the 30-bit prime [[TextHash.P]] — plain integer
  * arithmetic the DuckDB oracle replays bit-for-bit, which is what lets
  * a SKETCH (normally "approximate ⇒ unverifiable") hash-verify: the
  * estimate is a deterministic function of the corpus, engine-exact on
  * both sides.
  */
object Sketch {

  /** Sketch depth (independent counter rows). 4 rows ⇒ an estimate
    * exceeds the 2N/w bound with probability ≤ 2^−4. */
  val depth: Int = 4

  /** Bucket of hash `h` in sketch row `i`: the minhashPerm affine
    * re-hash folded onto `width` buckets. Row-local integer math;
    * every intermediate < 2^35. */
  def bucket(i: Int, h: Column, width: Int): Column =
    TextHash.minhashPerm(i, h) % lit(width.toLong)

  private def buckets(h: Column, width: Int): Column =
    array((0 until depth).map(i => bucket(i, h, width)): _*)

  /** Build the sketch from an occurrence stream: one row per
    * occurrence in `hashes(hashCol)` → the (r, b, cnt) counter grid,
    * ≤ depth·width rows. The groupBy key space IS the sketch, so the
    * map-side combine collapses everything before the exchange — the
    * constant-size-shuffle property the scaladoc above promises. */
  def cmBuild(hashes: DataFrame, hashCol: String,
      width: Int = 1024): DataFrame = {
    require(width > 0 && (width & (width - 1)) == 0,
      s"width must be a power of two, got $width")
    // the build width travels WITH the sketch (column metadata on
    // `cnt`), so a probe against a sketch built at a different width
    // fails fast instead of silently mis-bucketing and undercounting
    val widthMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("cm_width", width.toLong).putLong("cm_depth", depth.toLong)
      .build()
    hashes
      .select(posexplode(buckets(col(hashCol), width)).as(Seq("r", "b")))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("cnt"))
      .select(col("r"), col("b"), col("cnt").as("cnt", widthMeta))
  }

  /** Point-estimate counts for probe rows carrying `hashCol`: min over
    * the `depth` counters (absent bucket = 0 — nothing ever
    * incremented it). The sketch is BROADCAST (≤ d·w rows by
    * construction); probes keep all their columns AND their
    * multiplicity — a transient per-row id regroups after the bucket
    * explode, so duplicate probe rows each come back with their own
    * `est_cf` instead of collapsing. `width` must match the sketch's
    * build width (checked against the metadata [[cmBuild]] stamps —
    * probing at a different width mis-buckets and can undercount,
    * breaking the `est_cf ≥ cf` guarantee). Adds `est_cf`. */
  def cmEstimate(probes: DataFrame, hashCol: String, sketch: DataFrame,
      width: Int = 1024): DataFrame = {
    require(width > 0 && (width & (width - 1)) == 0,
      s"width must be a power of two, got $width")
    sketch.schema.fields.find(_.name == "cnt")
      .map(_.metadata).filter(_.contains("cm_width")).foreach { m =>
        require(m.getLong("cm_width") == width.toLong,
          s"cmEstimate width=$width but the sketch was built at " +
            s"width=${m.getLong("cm_width")} — estimates would " +
            "mis-bucket; probe with the build width")
      }
    val keep = probes.columns.toSeq
    probes
      .withColumn("__probe_id", monotonically_increasing_id())
      .select(col("*"),
        posexplode(buckets(col(hashCol), width)).as(Seq("r", "b")))
      .join(broadcast(sketch), Seq("r", "b"), "left")
      .na.fill(0L, Seq("cnt"))
      .groupBy((col("__probe_id") +: keep.map(col)): _*)
      .agg(min(col("cnt")).as("est_cf"))
      .drop("__probe_id")
  }

  /** HLL bias-correction constant α_m (Flajolet et al. 2007, the
    * published large-m approximation). Computed ONCE here and inlined
    * as a literal on both engines — the portability rule for anything
    * non-field-op: never let two libms each compute it. */
  def hllAlpha(m: Int): Double = 0.7213 / (1.0 + 1.079 / m)

  /** Linear-counting estimates `m·ln(m/V)` for V = 1..m empty buckets
    * — the HLL small-range branch. `ln` is transcendental, so the
    * values are computed once HERE and carried as literals into both
    * the Spark plan and the oracle SQL; `Double.toString` is shortest
    * round-trip, so the oracle parses back the bit-identical double. */
  def hllLinearLut(m: Int): IndexedSeq[Double] =
    (1 to m).map(v => m * math.log(m.toDouble / v))

  /** HyperLogLog distinct count per group — the fixed-memory
    * cardinality rung under exact `count(distinct)`. An exact distinct
    * shuffles every distinct key; at 100 TB a per-group user/entity
    * distinct over billions of keys is itself a corpus-scale exchange.
    * HLL replaces it with m registers per group: the (group, bucket)
    * partial aggregate combines map-side, so the first exchange
    * carries ≤ m rows per group PER PARTITION and the second ≤ m rows
    * per group total — both independent of cardinality.
    *
    * DETERMINISTIC AND ORACLE-REPLAYABLE: `hashCol` must hold a
    * non-negative BIGINT with `hash < m·2^wBits`; bucket is `h mod m`,
    * rho is leading-zero rank of the remaining `wBits` bits computed
    * EXACTLY via `length(bin(w))` (both engines print minimal binary),
    * registers sum as exact `2^(K−M_j)` BIGINTs, and the only floating
    * ops are the final pinned-parenthesization raw estimate and the
    * literal linear-counting lookup — IEEE field ops + shared literals,
    * bit-identical across engines.
    *
    * Output per group: `n_filled`, `n_empty`, `est_distinct` (raw HLL
    * estimate, or linear counting when the raw estimate ≤ 2.5m with
    * empty buckets remaining — the standard regime switch). */
  def hllDistinct(rows: DataFrame, groupCol: String, hashCol: String,
      m: Int = 256, wBits: Int = 52): DataFrame =
    hllEstimateFromRegisters(
      hllRegisters(rows, groupCol, hashCol, m, wBits), groupCol, m, wBits)

  /** The register-build stage of [[hllDistinct]]: (group, bucket,
    * max-rho) rows. A PLAN-ONLY transform whose aggregate is a keyed
    * `max` — associative, commutative, idempotent — which is what
    * makes HLL the mergeable/streamable sketch: re-feeding the same
    * keys can never move a register, and a streaming aggregation holds
    * exactly these ≤ m rows per group as its bounded state (run with
    * `outputMode("complete")` or `update` over a stream). */
  def hllRegisters(rows: DataFrame, groupCol: String, hashCol: String,
      m: Int = 256, wBits: Int = 52): DataFrame = {
    require(m >= 16 && (m & (m - 1)) == 0,
      s"m must be a power of two >= 16, got $m")
    require(wBits > 0 && wBits <= 56, s"need 0 < wBits <= 56, got $wBits")
    rows
      .select(col(groupCol),
        (col(hashCol) % m).as("b"),
        expr(s"`$hashCol` div $m").as("w"))
      .withColumn("rho",
        when(col("w") === 0L, lit(wBits + 1))
          .otherwise(lit(wBits) - length(bin(col("w"))) + 1))
      .groupBy(col(groupCol), col("b"))
      .agg(max(col("rho")).as("mj"))
  }

  /** The estimate fold of [[hllDistinct]] over a (group, b, mj)
    * register table — exact BIGINT register sums, then the one pinned
    * IEEE estimate (see [[hllLinearLut]] for the literal-constant
    * portability contract). */
  def hllEstimateFromRegisters(registers: DataFrame, groupCol: String,
      m: Int = 256, wBits: Int = 52): DataFrame = {
    require(m >= 16 && (m & (m - 1)) == 0,
      s"m must be a power of two >= 16, got $m")
    require(wBits > 0 && wBits <= 56, s"need 0 < wBits <= 56, got $wBits")
    val k = wBits + 1 // max rho; scaled register term = 2^(k - M_j)
    val alpha = hllAlpha(m)
    val lut = hllLinearLut(m)
    val raw = ((lit(alpha) * lit((m.toLong * m).toDouble)) *
      lit(math.pow(2.0, k))) / col("s_scaled").cast("double")
    registers
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_filled"),
        expr(s"sum(shiftleft(1L, $k - mj))").as("s_present"))
      .select(col(groupCol), col("n_filled"),
        (lit(m.toLong) - col("n_filled")).as("n_empty"),
        ((lit(m.toLong) - col("n_filled")) * lit(1L << k) +
          col("s_present")).as("s_scaled"))
      .withColumn("est_distinct",
        when(col("n_empty") > 0L && raw <= lit(2.5 * m),
          element_at(array(lut.map(lit): _*), col("n_empty").cast("int")))
          .otherwise(raw))
      .drop("s_scaled")
  }

  /** The verification composition: exact top-`topK` whitespace-token
    * frequencies (ground truth) side-by-side with their CMS estimates —
    * `est_cf ≥ cf` always, equality when none of a term's `depth`
    * buckets collides with other mass. Two corpus passes (exact counts
    * + sketch build), both scan-fused token explodes; the probe-side
    * char fold runs on topK rows only. */
  def heavyHittersEstimate(docs: DataFrame, textCol: String,
      topK: Int = 20, width: Int = 1024): DataFrame = {
    require(topK > 0, s"need topK > 0, got $topK")
    val toks = docs.select(explode(TextHash.tokens(col(textCol))).as("term"))
    val top = toks.groupBy(col("term")).agg(count(lit(1)).as("cf"))
      .orderBy(col("cf").desc, col("term")).limit(topK)
      .withColumn("h", expr(s"""
        aggregate(transform(sequence(1, length(term)),
          j -> ascii(substring(term, j, 1))),
          0L, (h, c) -> ((h * 31L) + c) % ${TextHash.P}L)"""))
    val sketch = cmBuild(
      docs.select(explode(TextHash.tokenHashesOf(col(textCol))).as("h")),
      "h", width)
    cmEstimate(top, "h", sketch, width)
      .select(col("term"), col("cf"), col("est_cf"))
      .orderBy(col("cf").desc, col("term"))
  }

  /** HLL ACCURACY EVALUATION — the q129/q144 discipline applied to the
    * sketch family: per group, the exact distinct count next to the
    * HLL estimate and the signed relative error — the number that
    * picks `m` (and re-validates after a key-distribution change;
    * HLL's ±1.04/√m is an EXPECTED error, the measured one on YOUR
    * keys is what a monitor alarms on). Run at profile time on a
    * slice the exact count can afford; production reads the sketch
    * alone.
    *
    * `rows` must carry both the PREPARED hash column (the caller owns
    * hashing — [[hllDistinct]]'s contract) and the original key for
    * the exact side. rel_error = est/exact − 1, one fixed IEEE
    * sequence over the exactly-replayed estimate (q89 pins the
    * estimate itself). Groups with exact 0 cannot appear (no rows, no
    * group). */
  def hllAccuracy(rows: DataFrame, groupCol: String, hashCol: String,
      exactCol: String, m: Int = 256, wBits: Int = 52): DataFrame = {
    val est = hllDistinct(rows, groupCol, hashCol, m, wBits)
      .select(col(groupCol), col("est_distinct"))
    val exact = rows.groupBy(col(groupCol))
      .agg(countDistinct(col(exactCol)).as("exact_distinct"))
    exact.join(est, Seq(groupCol))
      .select(col(groupCol), col("exact_distinct"), col("est_distinct"),
        (col("est_distinct") / col("exact_distinct").cast("double") -
          lit(1.0)).as("rel_error"))
      .orderBy(col(groupCol))
  }

  /** KMV (k-minimum-values / theta) sketch SET OPERATIONS between two
    * corpus sides over their distinct word-3-gram SHINGLE sets:
    * estimated distinct-shingle counts per side, of the union, of the
    * intersection, and an estimated Jaccard — WITHOUT ever joining
    * the sides. This is the sketch family's missing member next to
    * CMS (frequency, [[cmBuild]]) and HLL (single-set cardinality,
    * [[hllDistinct]]): HLL registers cannot intersect, but KMV
    * sketches compose — the k smallest of A ∪ B is a subset of
    * (k smallest of A) ∪ (k smallest of B), so union and intersection
    * estimates fall out of two k-row frames. The 100 TB use: "how
    * much content does corpus A share with corpus B" (the coarse
    * decontamination / source-redundancy signal) answered by shipping
    * two k-row sketches, not by the exact distinct-join the q36/q91
    * family pays; the shingle unit is [[graft.functions.TextHash]]'s
    * q17/q18 unit — the one whose sets genuinely intersect across
    * corpus slices.
    *
    * Estimator (Bar-Yossef et al.'s KMV, Beyer et al.'s unbiased
    * form): the raw shingle fold is SPREAD through the fixed affine
    * permutation `(h·2654435761 + 12345) mod P` first — the
    * polynomial fold is top-heavy in the LOW range (short tokens
    * barely wrap the modulus), and KMV reads the density of values
    * near 0, so the un-spread fold overshoots by ~25% (measured);
    * the multiplicative mix restores near-uniformity on [0, P) (the
    * q148 hash-conditioning lesson applied at the source). With θ
    * the k-th smallest spread hash of a side, `D̂ = (k−1)·P div θ` —
    * integer arithmetic end-to-end, so the DuckDB oracle replays the
    * ESTIMATE bit-for-bit (the q89 discipline: approximate ⇒ still
    * deterministic). A side with fewer than k distinct hashes is
    * reported EXACTLY (its whole hash set is the sketch). The
    * intersection estimate is `c·D̂_∪ div n_∪` where c counts union-k
    * survivors present in BOTH side sketches (n_∪ = k normally; when
    * the union has fewer than k distinct hashes the sketch IS the
    * union and c is the exact intersection count);
    * `jaccard_fp = c·2^20 div n_∪`.
    *
    * Scale shape: ONE corpus pass — the codegen'd shingle fold
    * explodes scan-fused — to distinct (side, hash) rows
    * (partial-aggregated dedup — repeated shingles never cross the
    * wire twice); per-side k smallest via rank-limit (WindowGroupLimit
    * pushes the k-cap into each map task BEFORE the exchange, so the
    * shuffle after dedup is ≤ k rows per partition, not the distinct
    * set); everything downstream touches ≤ 2k rows. The final
    * one-row × one-row assembly is a broadcast scalar-append
    * (PlanAuditSpec-documented). Payload text never shuffles — only
    * 8-byte hashes. */
  /** The fixed affine spread applied to every raw shingle fold before
    * it enters a KMV sketch (see [[kmvOverlap]]'s scaladoc for why:
    * the polynomial fold is top-heavy near 0; KMV reads density near
    * 0). A bijection mod P, so distinct COUNTS are unchanged. */
  def kmvSpread(h: Column): Column =
    (h * lit(2654435761L) + lit(12345L)) % lit(TextHash.P)

  /** Per-GROUP KMV sketch: the k smallest distinct spread shingle
    * hashes of each group's text — the build stage shared by
    * [[kmvOverlap]] (two-side split), [[kmvPairMatrix]] (all-pairs)
    * and the durable/streaming forms. Output (groupCol, h), ≤ k rows
    * per group. ONE corpus pass: scan-fused shingle explode →
    * partial-aggregated distinct → per-group rank-limit
    * (WindowGroupLimit caps each map task at k rows per group BEFORE
    * the exchange). */
  def kmvSketch(docs: DataFrame, groupCol: String, textCol: String,
      k: Int = 256): DataFrame = {
    require(k > 1 && (1 << 20) % k == 0,
      s"need k > 1 dividing 2^20, got $k")
    import org.apache.spark.sql.expressions.Window
    docs.where(col(textCol).isNotNull)
      .select(col(groupCol),
        explode(TextHash.shingleHashesOf(col(textCol))).as("h0"))
      .select(col(groupCol), kmvSpread(col("h0")).as("h"))
      .distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("h"))))
      .where(col("rn") <= k)
      .select(col(groupCol), col("h"))
  }

  def kmvOverlap(docs: DataFrame, isA: Column, textCol: String,
      k: Int = 256): DataFrame = {
    val kmv = kmvSketch(docs
      .select(when(isA, lit("a")).otherwise(lit("b")).as("side"),
        col(textCol)), "side", textCol, k)
    val stats = kmv.agg(
      sum(when(col("side") === "a", 1L).otherwise(0L)).as("n_a"),
      max(when(col("side") === "a", col("h"))).as("theta_a"),
      sum(when(col("side") === "b", 1L).otherwise(0L)).as("n_b"),
      max(when(col("side") === "b", col("h"))).as("theta_b"))
    // union sketch: k smallest across both side sketches (correct by
    // the subset property above); ≤ 2k rows in, ≤ k out — the
    // sort+limit is a TakeOrderedAndProject over a tiny frame
    val uAgg = kmv
      .groupBy(col("h"))
      .agg(max(col("side") === "a").as("in_a"),
        max(col("side") === "b").as("in_b"))
      .orderBy(col("h")).limit(k)
      .agg(count(lit(1)).as("n_union"),
        max(col("h")).as("theta_union"),
        sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L))
          .as("inter_in_k"))
    val kP = (k - 1).toLong * TextHash.P
    // `div` (integer division), not `/` (IEEE): the estimate must be
    // an exact BIGINT function of the sketch on both engines
    def est(n: String, theta: String): Column =
      when(col(n) < k, col(n))
        .otherwise(expr(s"CAST(${kP}L div $theta AS BIGINT)"))
    stats.crossJoin(broadcast(uAgg))
      .withColumn("est_a", est("n_a", "theta_a"))
      .withColumn("est_b", est("n_b", "theta_b"))
      .withColumn("est_union", est("n_union", "theta_union"))
      .withColumn("est_inter",
        expr("CAST(inter_in_k * est_union div n_union AS BIGINT)"))
      .withColumn("jaccard_fp",
        expr(s"CAST(inter_in_k * 1048576 div n_union AS BIGINT)"))
      .select(lit(k).as("k"), col("n_a"), col("theta_a"), col("est_a"),
        col("n_b"), col("theta_b"), col("est_b"), col("n_union"),
        col("theta_union"), col("est_union"), col("inter_in_k"),
        col("est_inter"), col("jaccard_fp"))
  }

  /** All-pairs KMV overlap matrix over PER-GROUP sketches — the
    * sketch rung under q91's exact source-overlap matrix: estimated
    * shared-shingle count and Jaccard for every unordered group pair,
    * computed entirely from the ≤ k-row-per-group [[kmvSketch]]
    * frame. q91 pays a corpus-wide distinct + per-pair intersection
    * join; this touches |groups|²·k sketch rows — at web scale
    * (hundreds of sources, k = 256) a few hundred thousand rows
    * regardless of corpus size, which is the whole point: build the
    * sketches once (or read them from the durable store), answer
    * every pairwise composition question from them.
    *
    * Per pair: the union sketch is the k smallest of the two k-sets
    * (the subset property), inter counts union-k survivors in both
    * sides, and the estimates are [[kmvOverlap]]'s integer-division
    * forms — deterministic, oracle-replayable. Pair fan-out is
    * |groups|² over a |groups|-row distinct frame — never the corpus.
    * A group with NO shingles (all-null/empty text) has no sketch
    * rows, so it is ABSENT from the matrix entirely — its pairs are
    * omitted, not reported with n = 0; a caller who needs every group
    * present should left-join its group universe against the output.
    * The sketch frame feeds THREE consumers (stats + both pair
    * sides) but is deliberately NOT persisted: the three subtrees are
    * identical, so ReuseExchange shares the one corpus distinct
    * exchange among them (measured: same shuffle bytes with or
    * without a cache, and the cache only added build overhead — the
    * r13 cache-vs-scan lesson holding for exchanges too). */
  def kmvPairMatrix(sketch: DataFrame, groupCol: String,
      k: Int = 256): DataFrame = {
    require(k > 1 && (1 << 20) % k == 0,
      s"need k > 1 dividing 2^20, got $k")
    import org.apache.spark.sql.expressions.Window
    val gStats = sketch.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), max(col("h")).as("theta"))
    val kP = (k - 1).toLong * TextHash.P
    def est(n: String, theta: String): Column =
      when(col(n) < k, col(n))
        .otherwise(expr(s"CAST(${kP}L div $theta AS BIGINT)"))
    // unordered pairs of the |groups|-row stats frame
    val left = gStats.select(col(groupCol).as("g1"),
      col("n").as("n_1"), col("theta").as("theta_1"))
    val right = gStats.select(col(groupCol).as("g2"),
      col("n").as("n_2"), col("theta").as("theta_2"))
    val pairs = left.join(right, col("g1") < col("g2"))
    // per-pair union sketch from the two k-sets: ≤ 2k rows per pair
    val s1 = pairs.select(col("g1"), col("g2"))
      .join(sketch.withColumnRenamed(groupCol, "g1"), Seq("g1"))
      .select(col("g1"), col("g2"), col("h"), lit(true).as("one"))
    val s2 = pairs.select(col("g1"), col("g2"))
      .join(sketch.withColumnRenamed(groupCol, "g2"), Seq("g2"))
      .select(col("g1"), col("g2"), col("h"), lit(false).as("one"))
    val u = s1.unionByName(s2)
      .groupBy(col("g1"), col("g2"), col("h"))
      .agg(max(col("one")).as("in_1"), max(!col("one")).as("in_2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("g1"), col("g2")).orderBy(col("h"))))
      .where(col("rn") <= k)
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("n_union"),
        max(col("h")).as("theta_union"),
        sum(when(col("in_1") && col("in_2"), 1L).otherwise(0L))
          .as("inter_in_k"))
    pairs.join(u, Seq("g1", "g2"))
      .select(col("g1"), col("g2"),
        col("n_1"), est("n_1", "theta_1").as("est_1"),
        col("n_2"), est("n_2", "theta_2").as("est_2"),
        col("n_union"),
        est("n_union", "theta_union").as("est_union"),
        col("inter_in_k"),
        expr("CAST(inter_in_k * " +
          "(CASE WHEN n_union < " + k + " THEN n_union ELSE " +
          s"CAST(${kP}L div theta_union AS BIGINT) END) " +
          "div n_union AS BIGINT)").as("est_inter"),
        expr("CAST(inter_in_k * 1048576 div n_union AS BIGINT)")
          .as("jaccard_fp"))
      .orderBy(col("g1"), col("g2"))
  }

  /** KMV accuracy evaluation — the eval rung over [[kmvOverlap]]
    * completing the measured-accuracy quartet (q129 ANN recall, q144
    * LSH operating point, q148 HLL accuracy, this): the sketch's four
    * set-size estimates side-by-side with their EXACT counterparts
    * and signed relative errors. The expected error is ±1/√(k−2) per
    * set (±6.3% at k = 256); this measures it on YOUR corpus split —
    * run at profile time on a slice the exact distinct-join can
    * afford, production ships the k-row sketches alone.
    *
    * Two corpus passes by definition (sketch + exact ground truth —
    * the q144 honest-eval cost); the exact side reduces to distinct
    * (side, hash) rows then folds flags per hash, so the
    * intersection never joins the corpus against itself. rel_* is
    * one IEEE division of exact BIGINTs (q148's discipline). */
  def kmvAccuracy(docs: DataFrame, isA: Column, textCol: String,
      k: Int = 256): DataFrame = {
    val est = kmvOverlap(docs, isA, textCol, k)
      .select(col("k"), col("est_a"), col("est_b"), col("est_union"),
        col("est_inter"))
    val exact = docs.where(col(textCol).isNotNull)
      .select(when(isA, lit("a")).otherwise(lit("b")).as("side"),
        explode(TextHash.shingleHashesOf(col(textCol))).as("h"))
      .distinct()
      .groupBy(col("h"))
      .agg(max(col("side") === "a").as("in_a"),
        max(col("side") === "b").as("in_b"))
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("exact_a"),
        sum(when(col("in_b"), 1L).otherwise(0L)).as("exact_b"),
        count(lit(1)).as("exact_union"),
        sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L))
          .as("exact_inter"))
    def rel(e: String, x: String): Column =
      col(e) / col(x).cast("double") - lit(1.0)
    est.crossJoin(broadcast(exact))
      .select(col("k"),
        col("exact_a"), col("est_a"), rel("est_a", "exact_a").as("rel_a"),
        col("exact_b"), col("est_b"), rel("est_b", "exact_b").as("rel_b"),
        col("exact_union"), col("est_union"),
        rel("est_union", "exact_union").as("rel_union"),
        col("exact_inter"), col("est_inter"),
        rel("est_inter", "exact_inter").as("rel_inter"))
  }
}
