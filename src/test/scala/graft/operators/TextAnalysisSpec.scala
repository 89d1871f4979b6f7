package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec

/** Edge-case pins for [[TextAnalysis.repetitionSignals]] (the q35
  * operator; bulk correctness is the DuckDB oracle gate). */
class TextAnalysisSpec extends SparkSpec {

  private def docs(texts: String*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
  }

  test("repetition signals: degenerate and saturated documents") {
    val out = TextAnalysis.repetitionSignals(
      docs(
        "",                       // 0: empty -> all zero, both ratios null
        "uno dos",                // 1: 2 tokens -> no grams, gram ratio null
        "a b c d",                // 2: all distinct -> both ratios 0.0
        "spam spam spam spam spam" // 3: one token repeated -> saturated
      ), "doc_id", "text").collect()

    def row(i: Int) = out(i)
    assert(row(0).getInt(1) == 0 && row(0).isNullAt(5) && row(0).isNullAt(6))
    assert(row(1).getInt(3) == 0 && row(1).isNullAt(6))
    assert(row(1).getDouble(5) == 0.0) // 2 distinct tokens of 2
    assert(row(2).getDouble(5) == 0.0 && row(2).getDouble(6) == 0.0)
    // 5 copies of one token: 1 distinct of 5 -> 0.8; 3 grams all equal
    // -> 1 distinct of 3 -> 2/3
    assert(row(3).getDouble(5) == 1.0 - 1.0 / 5)
    assert(row(3).getInt(3) == 3 && row(3).getInt(4) == 1)
    assert(row(3).getDouble(6) == 1.0 - 1.0 / 3)
  }

  test("length profile: dyadic percentiles interpolate exactly") {
    import scala.jdk.CollectionConverters._
    // one group, token counts 1,2,3,4 -> p*(n-1) positions 0.75, 1.5,
    // 2.25, 2.625: every interpolated value is exact in binary FP
    val df = spark.createDataFrame(
      Seq("a", "a a", "a a a", "a a a a").zipWithIndex
        .map { case (t, i) => Row(i.toLong, t, "en") }.asJava,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("lang", StringType))))
    val r = TextAnalysis.lengthProfile(df, "text", "lang").collect().head
    assert(r.getString(0) == "en" && r.getLong(1) == 4L && r.getLong(2) == 10L)
    assert(r.getDouble(3) == 2.5) // mean
    assert(r.getInt(4) == 1 && r.getInt(5) == 4)
    assert(r.getDouble(6) == 1.75)  // p25 = 1 + 0.75*(2-1)
    assert(r.getDouble(7) == 2.5)   // p50
    assert(r.getDouble(8) == 3.25)  // p75
    assert(r.getDouble(9) == 3.625) // p87.5
  }

  test("length profile: approx flag keeps the schema and lands near exact") {
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = TextAnalysis.lengthProfile(docs, "text", "lang")
    val approx = TextAnalysis.lengthProfile(docs, "text", "lang",
      exact = false)
    assert(exact.schema == approx.schema)
    val e = exact.collect().map(r => r.getString(0) -> r.getDouble(7)).toMap
    val a = approx.collect().map(r => r.getString(0) -> r.getDouble(7)).toMap
    assert(e.keySet == a.keySet)
    // GK sketch at default accuracy is rank-exact at this cardinality;
    // allow interpolation slack only
    e.foreach { case (k, v) => assert(math.abs(a(k) - v) <= v * 0.05 + 1.0,
      s"$k: exact $v vs approx ${a(k)}") }
  }

  test("repetition signals: repeated passage raises the gram ratio above the token ratio signal") {
    // 8 tokens, 4 distinct; grams: 6 total, "a b c" appears twice etc.
    val out = TextAnalysis.repetitionSignals(
      docs("a b c d a b c d"), "doc_id", "text").collect().head
    assert(out.getInt(1) == 8 && out.getInt(2) == 4)
    // 6 grams: abc bcd cda dab abc bcd -> 4 distinct
    assert(out.getInt(3) == 6 && out.getInt(4) == 4)
    assert(out.getDouble(6) == 1.0 - 4.0 / 6)
  }

  test("curriculumBins: buckets partition each group into ordered quartiles") {
    import org.apache.spark.sql.functions._
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = TextAnalysis.curriculumBins(docs, "text", "lang").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(4),
        r.getInt(5)))
    // every doc lands in exactly one bucket
    assert(out.map(_._3).sum == docs.count())
    out.groupBy(_._1).foreach { case (lang, rows) =>
      val byBucket = rows.sortBy(_._2)
      // buckets are 0..3 and non-empty on the fixture
      assert(byBucket.map(_._2).toSeq == (0 to 3))
      // bucket length ranges are disjoint and ordered: each bucket's
      // max_tokens <= the next bucket's min_tokens
      byBucket.sliding(2).foreach {
        case Array(lo, hi) => assert(lo._5 <= hi._4,
          s"$lang: bucket ${lo._2} max ${lo._5} > bucket ${hi._2} min ${hi._4}")
        case _ =>
      }
      // quartiles: no bucket holds more than half the group (exact
      // fourths shift only by ties at the dyadic thresholds)
      val n = rows.map(_._3).sum
      assert(rows.forall(_._3 <= (n + 1) / 2),
        s"$lang skewed: ${rows.sortBy(_._2).mkString(",")}")
    }
  }

  test("curriculumBins: approx sketch agrees with exact at fixture scale") {
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = TextAnalysis.curriculumBins(docs, "text", "lang")
    val approx = TextAnalysis.curriculumBins(docs, "text", "lang",
      exact = false)
    assert(exact.schema == approx.schema)
    // approx_percentile returns DATA values (no interpolation), so
    // boundary ties may shift docs between adjacent buckets — pin the
    // partition invariants plus per-bucket agreement within the
    // boundary tie mass, not bitwise equality
    val e = exact.collect().map(r => (r.getString(0), r.getInt(1)) ->
      r.getLong(2)).toMap
    val a = approx.collect().map(r => (r.getString(0), r.getInt(1)) ->
      r.getLong(2)).toMap
    assert(e.values.sum == a.values.sum)
    e.foreach { case (k, n) =>
      val diff = math.abs(a.getOrElse(k, 0L) - n)
      assert(diff <= math.max(4L, n / 4), s"$k: exact $n approx ${a.get(k)}")
    }
  }

  test("shingleNovelty: shared 3-grams count as common, short docs absent") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d"), // shingles abc (shared), bcd (unique)
      (2L, "a b c"),
      (3L, "a b c"),
      (4L, "x y")) // < 3 tokens: no shingle unit
      .toDF("doc_id", "text")
    val out = TextAnalysis.shingleNovelty(corpus, "doc_id", "text",
      minDf = 2).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val d1 = out.find(_.getLong(0) == 1L).get
    assert(d1.getLong(1) == 2L && d1.getLong(2) == 1L)
    assert(d1.getDouble(3) == 0.5)
    val d2 = out.find(_.getLong(0) == 2L).get
    assert(d2.getLong(1) == 1L && d2.getLong(2) == 1L)
  }

  test("shingleNovelty: partitioning-invariant on the fixture") {
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val one = TextAnalysis.shingleNovelty(docs.coalesce(1), "doc_id", "text")
      .collect().toSeq
    val many = TextAnalysis.shingleNovelty(docs.repartition(11), "doc_id",
      "text").collect().toSeq
    assert(one == many)
    assert(one.nonEmpty)
  }

  test("zipfProfile: rank by cf desc then term; df counts docs not copies") {
    val out = TextAnalysis.zipfProfile(
      docs("b b a", "b a c", "zz"), "doc_id", "text", topK = 3)
      .collect().map(r =>
        (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // cf: b=3, a=2, c=1, zz=1 -> top3 ranks b, a, c (tie c < zz)
    assert(out.toSeq == Seq((1, "b", 3L, 2L), (2, "a", 2L, 2L),
      (3, "c", 1L, 1L)))
  }

  test("zipfProfile: approx-df flag keeps the schema and lands near exact") {
    val d = docs("b b a", "b a c", "zz")
    val exact = TextAnalysis.zipfProfile(d, "doc_id", "text", topK = 3)
      .collect()
    val approx = TextAnalysis.zipfProfile(d, "doc_id", "text", topK = 3,
      exactDf = false).collect()
    assert(exact.map(_.schema.fieldNames.toSeq).head ==
      approx.map(_.schema.fieldNames.toSeq).head)
    // HLL is exact at this cardinality; ranks and cf identical
    assert(exact.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq ==
      approx.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq)
    assert(approx.forall(r => math.abs(r.getLong(3) - exact(
      approx.indexOf(r)).getLong(3)) <= 1))
  }

  test("lexicalRichness: hapax and integer-exact TTR; empty docs absent") {
    val out = TextAnalysis.lexicalRichness(
      docs("a a b", "", "x y z"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // doc0: 3 tokens, 2 types, 1 hapax, floor(2*2^20/3) = 699050
    assert(out(0L) == ((3L, 2L, 1L, 699050L)))
    // doc2: all hapax, TTR exactly 1.0 on the 2^-20 grid
    assert(out(2L) == ((3L, 3L, 3L, 1048576L)))
    assert(!out.contains(1L)) // zero word tokens -> absent
  }

  test("noveltyDecay: a verbatim repeat of an earlier doc scores 2^20") {
    val out = TextAnalysis.noveltyDecay(
      docs("uno dos tres cuatro", "uno dos tres cuatro",
        "cinco seis siete", "uno dos"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L)._2 == 0L)            // first sighting of everything
    assert(out(1L) == ((2L, 2L, 1048576L))) // all shingles seen in doc0
    assert(out(2L)._2 == 0L)            // disjoint text, nothing seen
    assert(!out.contains(3L))           // < 3 tokens: no shingle unit
  }

  test("collocationLift: hand-computed lift; hapax pairs floored out") {
    val s = spark; import s.implicits._
    // corpus: "x y" appears 5x (always together), "p q" appears 5x but
    // p also occurs 5x alone -> lift(x y) > lift(p q); "r s" once only
    // (hapax pair, floored out despite maximal lift)
    val docs = (Seq.fill(5)("x y") ++ Seq.fill(5)("p q") ++
      Seq.fill(5)("p") ++ Seq("r s")).map(Tuple1(_)).toDF("text")
    val out = TextAnalysis.collocationLift(docs, "text", topK = 10,
      minCount = 5L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // N = 5*2 + 5*2 + 5 + 2 = 27 tokens
    // lift(x y) = 5*27/(5*5) = 5.4 -> 5.4 * 2^20 floor = 5662310
    // lift(p q) = 5*27/(10*5) = 2.7 -> 2831155
    assert(out == Seq(
      ("x y", 5L, 5L, 5L, 5662310L),
      ("p q", 5L, 10L, 5L, 2831155L)), out.toString)
  }

  test("vocabCoverage: head terms in, tail terms OOV; ties break on the term") {
    val s = spark; import s.implicits._
    // cf: "a"->4, "b"->3, then a TIE at cf=2 between "c" and "d" —
    // topK=3 must take (a, b, c): ties break on the term string
    val docs = Seq(
      (1L, "a a b c"), (2L, "a b c d"), (3L, "a b d zz"),
      (4L, ""), (5L, "   "))
      .toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverage(docs, "doc_id", "text", topK = 3)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    // docs 4/5 have zero whitespace tokens -> no row (explode contract)
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((4L, 0L, 0.0)))              // all in {a,b,c}
    assert(out(2L) == ((4L, 1L, 0.25)))             // d is OOV
    assert(out(3L) == ((4L, 2L, 0.5)), out.toString) // d, zz OOV
  }

  test("bigramFluency: add-one bigram model by hand; short docs drop") {
    import spark.implicits._
    val fix = Seq(
      (1L, "a b a b"), // bigrams: ab, ba, ab
      (2L, "x y"),     // bigram: xy
      (3L, "z"),       // < 2 tokens → no row
      (4L, ""))        // empty → no row
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramFluency(fix, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet == Set(1L, 2L))
    // model: c(ab)=2 c(ba)=1 c(xy)=1; contexts: c(a)=2 c(b)=1 c(x)=1;
    // V = 3 distinct contexts {a, b, x}
    val fAb = math.floor(1048576.0 * ((2.0 + 1.0) / (2.0 + 3.0))).toLong
    val fBa = math.floor(1048576.0 * ((1.0 + 1.0) / (1.0 + 3.0))).toLong
    val fXy = fBa // same (1+1)/(1+3)
    assert(out(1L) == ((3L, 2 * fAb + fBa,
      (2 * fAb + fBa).toDouble / 3.0)))
    assert(out(2L) == ((1L, fXy, fXy.toDouble)))
    // the repeated-bigram doc reads as more fluent under ITS corpus
    assert(out(1L)._3 > out(2L)._3)
  }

  test("curationFunnel: cumulative gates, exact survivors per stage") {
    import spark.implicits._
    val good = (1 to 30).map(i => s"w$i").mkString(" ") // 30 distinct tokens
    val fix = Seq(
      ("s1", good + " " + ("pad" * 10)),  // passes all four gates
      ("s1", ""),                         // fails nonempty
      ("s1", "alpha beta gamma delta epsilon"), // 5 tokens → fails min_tokens
      ("s2", ("a " * 60).trim),           // 60 tokens, 1 distinct → fails ratio
      ("s2", good))                       // 30 distinct tokens, len ~ 107
      .toDF("source", "text")
    val out = TextAnalysis.curationFunnel(fix, "text", "source",
      minChars = 20, maxChars = 20000, minTokens = 20,
      minDistinctRatio = 0.25)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4))).toMap
    // s1: 3 docs; nonempty keeps 2; char window keeps 2; min_tokens
    // drops the 4-token doc → 1; ratio keeps 1
    assert(out(("s1", 1)) == (("nonempty", 3L, 2L)))
    assert(out(("s1", 2)) == (("chars_in_range", 3L, 2L)), out.toString)
    assert(out(("s1", 3)) == (("min_tokens", 3L, 1L)))
    assert(out(("s1", 4)) == (("distinct_ratio", 3L, 1L)))
    // s2: 2 docs; both nonempty + in char window + >= 20 tokens; the
    // all-same-token doc fails the distinct ratio (1/60 < 0.25)
    assert(out(("s2", 1)) == (("nonempty", 2L, 2L)))
    assert(out(("s2", 2)) == (("chars_in_range", 2L, 2L)))
    assert(out(("s2", 3)) == (("min_tokens", 2L, 2L)))
    assert(out(("s2", 4)) == (("distinct_ratio", 2L, 1L)))
    // funnel is monotone by construction
    for (s <- Seq("s1", "s2"))
      assert((1 to 3).forall(i => out((s, i))._3 >= out((s, i + 1))._3))
  }

  test("lengthBiasCurve: micro-averaged ratios from exact integer " +
    "sums, per integer-width bucket") {
    val s = spark; import s.implicits._
    // bucket 0 (<8 chars): "the x" (2 tokens, 1 stop, 5 chars, 0
    // punct) + "a!" (1 whitespace token "a!" — NOT a stop hit, the
    // q23 whole-token contract; 2 chars, 1 punct);
    // bucket 1 (8..15): "foo bar baz!" (3 tokens, 0 stop, 12 chars,
    // 1 punct)
    val docs = Seq("the x", "a!", "foo bar baz!").map(Tuple1(_))
      .toDF("text")
    val out = TextAnalysis.lengthBiasCurve(docs, "text",
      bucketChars = 8).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getDouble(6), r.getDouble(7)))).toMap
    assert(out(0L) == ((2L, 3L, 1L, 7L, 1L, 1.0 / 3.0, 1.0 / 7.0)))
    assert(out(1L) == ((1L, 3L, 0L, 12L, 1L, 0.0, 1.0 / 12.0)))
  }

  test("distinctNgramDiversity: n-gram totals and distincts by hand; " +
    "docs shorter than n contribute no n-grams") {
    val s = spark; import s.implicits._
    val df = Seq(("s1", "a b a b"), ("s1", "x"))
      .toDF("source", "text")
    val out = TextAnalysis.distinctNgramDiversity(df, "source", "text")
      .collect().map(r => r.getInt(1) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // 1-grams: a b a b x → 5 total, 3 distinct; 2-grams: "a b","b a",
    // "a b" → 3 total, 2 distinct ("x" doc adds none);
    // 3-grams: "a b a","b a b" → 2 total, 2 distinct
    assert(out(1) == ((5L, 3L, 0.6)))
    assert(out(2) == ((3L, 2L, 2.0 / 3.0)))
    assert(out(3) == ((2L, 2L, 1.0)))
  }

  test("unigramDivergence: hand-computed TV; identical distributions " +
    "score 0; disjoint-leaning pairs approach 1") {
    val s = spark; import s.implicits._
    // a: {x:2, y:2}  b: {x:1, y:3}  c: {x:2, y:2} (≡ a)  — N = 4 each
    // TV(a,b) = ½(|2·4−1·4| + |2·4−3·4|)/16 = ½·8/16 = 0.25
    val df = Seq(
      ("a", "x x y y"), ("b", "x y y y"), ("c", "x x y y"))
      .toDF("src", "text")
    val out = TextAnalysis.unigramDivergence(df, "src", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(("a", "b")) == ((4L, 4L, 0.25)))
    assert(out(("a", "c")) == ((4L, 4L, 0.0)))
    assert(out(("b", "c")) == ((4L, 4L, 0.25)))
  }

  test("mixedLanguageFlags: chunk votes split a code-switching doc; " +
    "pure and markerless docs keep clean flags; majority ties to the " +
    "lexicographically first language") {
    val s = spark; import s.implicits._
    val df = Seq(
      // two 4-token chunks: en then es — mixed, majority ties → 'en'
      (1L, "the the the the y y y y"),
      // one pure-en chunk
      (2L, "the of and is"),
      // one chunk with no markers at all → und, no majority
      (3L, "zz qq ww ee"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.mixedLanguageFlags(df, "doc_id", "text",
      chunkTokens = 4).collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) null else r.getString(4),
          if (r.isNullAt(5)) null else r.getDouble(5),
          r.getBoolean(6)))).toMap
    assert(out(1L) == ((2L, 2L, 2L, "en", 0.5, true)))
    assert(out(2L) == ((1L, 1L, 1L, "en", 1.0, false)))
    assert(out(3L) == ((1L, 0L, 0L, null, null, false)))
  }

  test("unigramDivergence: the union-vocab tail is accounted — a token " +
    "present only on one side still carries its full mass") {
    val s = spark; import s.implicits._
    // a: {x:1, z:1}  b: {x:1, w:1} — shared vocab {x} only.
    // TV = ½(|1·2−1·2| + 1·2 + 1·2)/4 = 1/2 (half of each side's mass
    // sits on a token the other side lacks)
    val df = Seq(("a", "x z"), ("b", "x w")).toDF("src", "text")
    val out = TextAnalysis.unigramDivergence(df, "src", "text").collect()
    assert(out.length == 1)
    assert(out(0).getDouble(4) == 0.5)
  }

  test("coverageCurve: exact cumulative shares by hand; ties at the head " +
    "break on the term; oversized ks emit no row") {
    // cf: a:4, b:3, c:2, d:1 → total 10; k=1 covers 4, k=3 covers 9
    val out = TextAnalysis.coverageCurve(
      docs("a a b c", "a b d", "a b c"), "text", ks = Seq(1, 3, 99))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(
      1L -> ((4L, 10L, 0.4)),
      3L -> ((9L, 10L, 0.9)))) // k=99 exceeds the 4-term vocab: no row
  }

  test("domainProfile: hosts lowercase, apex is last-two-labels, counts " +
    "split URL mentions from citing docs") {
    val out = TextAnalysis.domainProfile(
      docs(
        "see https://News.Example.COM/a and https://news.example.com/b",
        "also https://news.example.com/c plus http://sub.deep.other.org/x",
        "no links here"
      ), "doc_id", "text").collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(
      "news.example.com" -> (("example.com", 3L, 2L)),
      "sub.deep.other.org" -> (("other.org", 1L, 1L))))
  }

  test("casingProfile: ASCII letter/caps counts by hand; acronym vs " +
    "shouting; zero-letter docs keep NULL ratios") {
    val out = TextAnalysis.casingProfile(
      docs(
        "NASA made it",  // acronym: 1 caps token of 3, upper 4 of 10
        "BUY NOW",       // shouting: all caps
        "123 !!"         // no letters, no caps tokens
      ), "doc_id", "text").collect()
    val r0 = out(0)
    assert((r0.getLong(1), r0.getLong(2), r0.getLong(3),
      r0.getLong(4)) == ((10L, 4L, 3L, 1L)))
    assert(r0.getLong(5) == 4L * 1048576 / 10)
    assert(r0.getLong(6) == 1048576L / 3)
    val r1 = out(1)
    assert(r1.getLong(5) == 1048576L && r1.getLong(6) == 1048576L)
    val r2 = out(2)
    assert(r2.getLong(1) == 0L && r2.isNullAt(5) && r2.getLong(4) == 0L)
  }

  test("readabilitySignals: integer fixed-point by hand; zero-token and " +
    "zero-sentence docs keep NULL ratios") {
    val out = TextAnalysis.readabilitySignals(
      docs(
        "Hi there. All good?",  // 4 tokens (15 chars), 2 sentence runs
        "wonderful enormous",   // 2 long words, 0 sentences
        ""                      // empty
      ), "doc_id", "text").collect()
    val r0 = out(0)
    // tokens: Hi(2) there.(6) All(3) good?(5) → sum 16; long words 0
    assert((r0.getLong(1), r0.getLong(2)) == ((4L, 2L)))
    assert(r0.getLong(3) == 16L * 1048576 / 4)
    assert(r0.getLong(4) == 4L * 1048576 / 2)
    assert(r0.getLong(5) == 0L)
    val r1 = out(1)
    assert((r1.getLong(1), r1.getLong(2)) == ((2L, 0L)))
    assert(r1.isNullAt(4))                       // no sentences
    assert(r1.getLong(5) == 1048576L)            // all tokens long
    val r2 = out(2)
    assert(r2.getLong(1) == 0L && r2.isNullAt(3) && r2.isNullAt(5))
  }

  test("simpsonConcentration: exact collision probability; single-token " +
    "and token-free groups follow the contract") {
    val s = spark; import s.implicits._
    val df = Seq(
      ("t", "aa aa bb"), ("t", "aa"), // {aa:3, bb:1}: Σc(c−1)=6, N(N−1)=12
      ("one", "zz"),                  // N=1 → NULL λ (no pair to draw)
      ("none", "?!")                  // zero word tokens → group vanishes
    ).toDF("src", "text")
    val out = TextAnalysis.simpsonConcentration(df, "src", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) null else r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(out.keySet == Set("t", "one"))
    assert(out("t") == ((4L, 2L, 3L, 0.5, 0.75)))
    assert(out("one") == ((1L, 1L, 1L, null, 1.0)))
  }

  test("skipgramLift: gapped pairs count where adjacent bigrams miss; " +
    "pairs normalize alphabetically; support floor holds") {
    val s8 = spark; import s8.implicits._
    // "new X york" repeated: adjacent bigram "new york" NEVER occurs,
    // but the distance-2 skip-gram does — the operator's reason to be
    val docs = (1 to 6).map(i => s"new gap$i york plus filler").toDF("text")
    val out = TextAnalysis.skipgramLift(docs, "text", window = 3,
      topK = 50, minCount = 5L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.contains("new york") && out("new york")._1 == 6L)
    // adjacency also counts (offset 1): "york plus" seen 6x
    assert(out.contains("plus york"))  // alphabetical normalization
    // gap tokens are unique → each pair with them is below minCount
    assert(!out.keys.exists(_.contains("gap1")))
    // no pair order duplicates
    out.keys.foreach { p =>
      val Array(a, b) = p.split(" "); assert(a <= b, p) }
  }

  test("heapsCurve: first occurrences follow the (doc, position) " +
    "order; grid points past the corpus clamp to the total") {
    val s9 = spark; import s9.implicits._
    val docs = Seq((1L, "a b a"), (2L, "c a d")).toDF("doc_id", "text")
    val out = TextAnalysis.heapsCurve(docs, "doc_id", "text",
      points = Seq(2L, 4L, 8L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // stream: a(1) b(2) a(3) c(4) a(5) d(6)
    assert(out.toSeq == Seq(
      (2L, 2L, 2L, 1.0),
      (4L, 4L, 3L, 0.75),
      (8L, 6L, 4L, 4.0 / 6)))
  }

  test("gateOverlap: hand-computed failure sets; a fully-redundant " +
    "pair reads Jaccard 1.0") {
    // thresholds chars [5,10], tokens >= 2, distinct ratio >= 0.5
    // doc0 "" fails ALL; doc1 "abcdefg" fails few_tokens only;
    // doc2 "aa aa" fails nothing (ratio exactly 0.5 passes);
    // doc3 "a a a a a a" (11 chars) fails chars AND ratio
    val out = TextAnalysis.gateOverlap(
      docs("", "abcdefg", "aa aa", "a a a a a a"), "text",
      minChars = 5, maxChars = 10, minTokens = 2,
      minDistinctRatio = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          if (r.isNullAt(7)) -1.0 else r.getDouble(7)))).toMap
    // chars = {0,3}, low_ratio = {0,3}: identical sets -> redundant
    assert(out(("chars_out_of_range", "low_distinct_ratio")) ==
      ((2L, 2L, 2L, 2L, 1.0)))
    // empty = {0} vs few_tokens = {0,1}: both 1, either 2
    assert(out(("empty", "few_tokens")) == ((1L, 2L, 1L, 2L, 0.5)))
    // chars = {0,3} vs few_tokens = {0,1}: both 1, either 3
    assert(out(("chars_out_of_range", "few_tokens")) ==
      ((2L, 2L, 1L, 3L, 1.0 / 3)))
    // diagonals carry standalone counts, Jaccard 1 when non-empty
    assert(out(("empty", "empty")) == ((1L, 1L, 1L, 1L, 1.0)))
    assert(out.size == 10)
  }

  test("boilerplateFraction: occurrences scored, df over distinct " +
    "docs, clean docs at zero") {
    // 3-gram windows, minDf 2: "a b c" appears in docs 0, 1, 3
    val out = TextAnalysis.boilerplateFraction(
      docs(
        "a b c d",       // windows (a b c)(b c d) -> 1 of 2 boiler
        "a b c x",       // windows (a b c)(b c x) -> 1 of 2
        "p q r s",       // no shared window -> 0 of 2
        "a b c a b c"),  // (a b c)(b c a)(c a b)(a b c) -> 2 of 4
      "doc_id", "text", n = 3, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) == ((2L, 1L, 0.5)))
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 0L, 0.0)))
    assert(out(3L) == ((4L, 2L, 0.5)))
  }

  test("importanceWeights: hand-computed floor-log2 bands; target-" +
    "heavy terms score positive, raw-heavy negative") {
    // target = doc0 only. Features: 'aa' ct=4 cr=1, 'bb' ct=0 cr=5;
    // N_t=4, N_r=6, V=2.
    //   band(aa) = floor(log2(5*8 / (2*6)))  = floor(log2(3.33)) = 1
    //   band(bb) = floor(log2(1*8 / (6*6)))  = floor(log2(0.22)) = -3
    val corpus = docs("aa aa aa aa", "bb bb bb bb", "aa bb")
    val out = TextAnalysis.importanceWeights(corpus, "doc_id", "text",
      targetPred = org.apache.spark.sql.functions.col("doc_id") === 0L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) == ((4L, 4L, 1.0)))    // 4 * band(aa)
    assert(out(1L) == ((4L, -12L, -3.0))) // 4 * band(bb)
    assert(out(2L) == ((2L, -2L, -1.0)))  // band(aa) + band(bb)
  }

  test("qualityBand and dupGramRatio equal the bands and ratios of " +
    "qualityScores and repetitionSignals") {
    import org.apache.spark.sql.functions.col
    val d = docs(
      null,                                     // NULL text
      "",                                       // empty
      "uno dos",                                // < 3 tokens: no grams
      "a b c d a b c d",                        // repeated passage
      Seq.fill(5)("one two three").mkString(" "),      // 15 tokens
      Seq.fill(14)("the cat sat").mkString(" "),       // 42, stopwords
      (1 to 45).map(i => s"w$i").mkString(" "))        // 45, no stopword
    val want = TextAnalysis.qualityScores(d, "doc_id", "text")
      .select("doc_id", "quality_band")
      .join(TextAnalysis.repetitionSignals(d, "doc_id", "text")
        .select("doc_id", "dup_gram_ratio"), "doc_id")
    val got = d.select(col("doc_id"),
      TextAnalysis.qualityBand(col("text")).as("quality_band"),
      TextAnalysis.dupGramRatio(col("text")).as("dup_gram_ratio"))
    def rows(f: org.apache.spark.sql.DataFrame) =
      f.orderBy("doc_id").collect().toSeq
    assert(rows(got) == rows(want))
    assert(rows(got).map(_.getString(1)) ==
      Seq("low", "low", "low", "low", "medium", "high", "medium"))
    assert(rows(got).take(3).forall(_.isNullAt(2)))
  }
}
