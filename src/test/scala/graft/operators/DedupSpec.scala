package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Cluster-closure semantics on crafted graphs: transitivity across
  * chains (a-b, b-c ⇒ one cluster), singleton preservation, canonical
  * = min id.
  */
class DedupSpec extends SparkSpec {

  private def docs(ids: Long*) = spark.createDataFrame(
    spark.sparkContext.parallelize(ids.map(Row(_)), 2),
    StructType(Seq(StructField("doc_id", LongType))))

  private def pairs(ps: (Long, Long)*) = spark.createDataFrame(
    spark.sparkContext.parallelize(ps.map(p => Row(p._1, p._2)), 2),
    StructType(Seq(StructField("doc_a", LongType),
      StructField("doc_b", LongType))))

  test("chains close transitively; singletons stay; canonical is min id") {
    // components: {1,2,3,4} (a chain), {5,6}, {7} (singleton)
    val out = Dedup.nearDupClusters(
      docs(1, 2, 3, 4, 5, 6, 7),
      "doc_id",
      pairs(1L -> 2L, 2L -> 3L, 3L -> 4L, 5L -> 6L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (5L, 5L, true), (6L, 5L, false),
      (7L, 7L, true)))
  }

  test("a long chain converges within the diameter bound") {
    val n = 12
    val chain = (1 until n).map(i => i.toLong -> (i + 1).toLong)
    val out = Dedup.nearDupClusters(docs((1 to n).map(_.toLong): _*),
      "doc_id", pairs(chain: _*), maxIters = n + 2)
      .collect().map(_.getLong(1)).distinct
    assert(out.toSeq == Seq(1L)) // one component, all labeled min id
  }

  test("an unconverged run fails loudly at the maxIters cap") {
    // diameter 11 chain cannot close in 3 passes; the final-pass check
    // must detect the still-changing labels and trip the require, not
    // return a partially-propagated labeling
    val n = 12
    val chain = (1 until n).map(i => i.toLong -> (i + 1).toLong)
    val e = intercept[IllegalArgumentException] {
      Dedup.nearDupClusters(docs((1 to n).map(_.toLong): _*),
        "doc_id", pairs(chain: _*), maxIters = 3).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("pairs reaching ids OUTSIDE docs still propagate to their fixpoint") {
    // ids 2..4 exist only as pair endpoints: they join in as label rows
    // with null prev on their first appearance, which the convergence
    // check must read as CHANGE — filtering nulls would declare an
    // early fixpoint and leave the chain tail unlabeled
    val out = Dedup.nearDupClusters(docs(1), "doc_id",
      pairs(1L -> 2L, 2L -> 3L, 3L -> 4L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("convergence is correct when the first check lands past the fixpoint") {
    // a single edge converges in 1 pass; the quiet second pass must
    // still report the fixpoint
    val out = Dedup.nearDupClusters(docs(1, 2, 3), "doc_id",
      pairs(1L -> 2L), maxIters = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 3L)))
  }

  test("non-long ids are rejected, naming the column") {
    val intDocs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1), Row(2)), 2),
      StructType(Seq(StructField("doc_id", IntegerType))))
    val e = intercept[IllegalArgumentException] {
      Dedup.nearDupClusters(intDocs, "doc_id", pairs(1L -> 2L))
    }
    assert(e.getMessage.contains("'doc_id'") &&
      e.getMessage.contains("IntegerType"), e.getMessage)
  }

  private def textDocs(rows: (Long, String)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (i, t) => Row(i, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
  }

  test("cross-corpus pairs: only left×right, equal to the union self-join restricted to cross pairs") {
    // 1≈2 within LEFT (must NOT appear), 3≈11 across (must appear),
    // 12≈13 within RIGHT (must not), 4 and 14 unrelated
    val mk = (s: String) => s + " relleno para alcanzar suficientes tokens"
    val left = textDocs(
      1L -> mk("uno dos tres cuatro cinco seis"),
      2L -> mk("uno dos tres cuatro cinco seis"),
      3L -> mk("alfa beta gamma delta epsilon zeta"),
      4L -> "texto completamente distinto sin pareja en ningun lado aqui")
    val right = textDocs(
      11L -> mk("alfa beta gamma delta epsilon zeta"),
      12L -> mk("rojo verde azul morado amarillo gris"),
      13L -> mk("rojo verde azul morado amarillo gris"),
      14L -> "otro texto aislado que no se parece a nada mas tampoco")
    val cross = Dedup.crossNgramJaccardPairs(left, right, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cross == Set(3L -> 11L))
    // property: the cross operator ≡ the self-join over the union,
    // restricted to pairs that straddle the sides (id < 10 vs >= 10
    // encodes the side here, and union ids are distinct)
    val all = Dedup.ngramJaccardPairs(left.unionByName(right),
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a < 10) != (b < 10) }
      .map { case (a, b) => if (a < 10) (a, b) else (b, a) }.toSet
    assert(cross == all)
    // the same-table single-cache variant must agree row for row with
    // the general two-frame path on the equivalent split
    import org.apache.spark.sql.functions.col
    val split = Dedup.crossNgramJaccardPairsSplit(
      left.unionByName(right), "doc_id", "text",
      leftSide = col("doc_id") < 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(split == cross)
  }

  test("keepBest: richest variant wins its normalized group, min id breaks ties") {
    // 1,2,3 normalize identically ("A  b" ≡ "a b" ≡ "a B") and tie at
    // 2 tokens ⇒ the min id wins the group; 10 and 11 normalize apart
    // and stay their own groups
    val d = textDocs(
      1L -> "A  b", 2L -> "a b", 3L -> "a B",      // one group, all 2 tokens
      10L -> "x y z", 11L -> "x y z mas tokens")   // distinct norms
    val out = Dedup.keepBest(d, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getLong(3)))
    // group {1,2,3}: tie on n_tokens=2 ⇒ best is min id 1, 3 variants
    assert(out.contains((1L, 2, 3L)))
    // 10 and 11 are their own groups (different normalized content)
    assert(out.contains((10L, 3, 1L)) && out.contains((11L, 5, 1L)))
    // every input doc is accounted for exactly once across groups
    assert(out.map(_._3).sum == 5L)
  }

  test("keepBest: max-tokens selection is real, not keep-first") {
    // same normalized content is impossible with different token
    // counts, so richness selection is exercised ACROSS case variants
    // of different texts — here group-by-norm keeps id 2 (3 tokens)
    // over id 1 (2 tokens) only when norms match; craft matching norms
    // with differing ids where the LATER id ties richer is impossible
    // ⇒ pin instead that best_tokens always equals the group max and
    // best_id is the min id among max-token members, on the fixture
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Dedup.keepBest(docs, "doc_id", "text")
    import org.apache.spark.sql.functions._
    val base = docs.select(col("doc_id"),
      sha2(regexp_replace(lower(col("text")), "\\s+", " "), 256)
        .as("norm_hash"),
      size(graft.functions.TextHash.tokens(col("text"))).as("n"))
    // winner must have the max token count of its group and the lowest
    // id among the max-token members
    val joined = out.join(base, Seq("norm_hash"))
      .groupBy(col("norm_hash"), col("best_id"), col("best_tokens"))
      .agg(max(col("n")).as("grp_max"),
        min(when(col("n") === col("best_tokens"), col("doc_id")))
          .as("min_id_at_max"))
      .collect()
    joined.foreach { r =>
      assert(r.getInt(2) == r.getInt(3), s"best_tokens != group max: $r")
      assert(r.getLong(1) == r.getLong(4), s"best_id not min at max: $r")
    }
  }

  test("evalOverlapRate: self-overlap is total, disjoint overlap is zero") {
    val mk = (s: String) => s + " relleno para alcanzar suficientes tokens"
    val a = textDocs(1L -> mk("uno dos tres cuatro"),
      2L -> mk("alfa beta gamma delta"))
    val selfOut = Dedup.evalOverlapRate(a, a, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(3), r.getInt(4)))
    assert(selfOut.forall { case (_, rate, flag) =>
      rate == 1.0 && flag == 1 })
    val b = textDocs(3L -> "palabras nuevas sin parecido alguno verdad",
      4L -> "otra cosa completamente diferente tambien aqui")
    val disjoint = Dedup.evalOverlapRate(a, b, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3),
        r.getInt(4)))
    assert(disjoint.forall { case (_, hits, rate, flag) =>
      hits == 0L && rate == 0.0 && flag == 0 })
  }

  test("evalOverlapRate: partial overlap counts shared shingles one-sidedly") {
    // train doc shares its first 4 tokens (2 shingles) with eval
    val train = textDocs(1L -> "uno dos tres cuatro aaa bbb ccc ddd")
    val eval = textDocs(
      10L -> "uno dos tres cuatro xxx yyy zzz www qqq")
    val r = Dedup.evalOverlapRate(train, eval, "doc_id", "text",
      contaminatedAt = 0.3).collect().head
    // train has 6 shingles; shared: (uno dos tres), (dos tres cuatro)
    assert(r.getLong(1) == 6L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == 2.0 / 6)
    assert(r.getInt(4) == 1) // 0.333 >= 0.3
    // rate is one-sided: eval-only shingles never penalize the train doc
  }

  test("evalOverlapRate: the bloom rung matches the broadcast rung exactly") {
    // exactness across all three scale rungs: the Bloom prefilter has
    // no false negatives and the confirm join removes false positives,
    // so its output must be row-identical to the broadcast-set path.
    // An undersized filter (expectedItems << real count) keeps the
    // false-positive trickle real rather than vanishingly rare.
    val train = textDocs(
      1L -> "uno dos tres cuatro aaa bbb ccc ddd",
      2L -> "alfa beta gamma delta epsilon zeta",
      3L -> "texto nuevo sin solape con nada mas")
    val eval = textDocs(
      10L -> "uno dos tres cuatro xxx yyy zzz",
      11L -> "gamma delta epsilon zeta eta theta")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSeq
    val viaBroadcast = rows(Dedup.evalOverlapRate(
      train, eval, "doc_id", "text", contaminatedAt = 0.2))
    val viaBloom = rows(Dedup.evalOverlapRate(
      train, eval, "doc_id", "text", contaminatedAt = 0.2,
      broadcastEval = false, bloomPrefilter = true,
      bloomExpectedItems = 4L, bloomFpp = 0.5))
    assert(viaBloom == viaBroadcast,
      s"bloom=$viaBloom\nbroadcast=$viaBroadcast")
  }

  test("sourceOverlapMatrix: exact pair Jaccards; disjoint sources absent") {
    val s = spark; import s.implicits._
    // A and B share an identical doc (2 shingles); C overlaps A/B in
    // exactly one shingle out of its four; D's vocabulary is disjoint
    val docs = Seq(
      (1L, "alpha beta gamma delta", "A"),
      (2L, "alpha beta gamma delta", "B"),
      (3L, "alpha beta gamma zeta eta theta", "C"),
      (4L, "uno dos tres", "D"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlapMatrix(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got == Seq(
      ("A", "B", 2L, 2L, 1.0),
      ("A", "C", 1L, 5L, 0.2),
      ("B", "C", 1L, 5L, 0.2)), got.toString)
    // pairs with empty intersection (anything with D) never surface —
    // at web scale the matrix is as sparse as the real overlap
  }

  test("fuzzyMatchPairs: within-block edit pairs only; row mass rides along") {
    val s = spark; import s.implicits._
    val rows = Seq(
      "cold bolt", "cold bolt", "cold bolt", // 3 rows of one entity
      "old bolt",                            // 1 edit from cold bolt
      "gold ring",                           // different block (ring)
      "bold ring",                           // 2 edits from gold ring
      "cold brlt")                           // 1 edit, but block 'brlt'
      .map(Tuple1(_)).toDF("name")
    val got = Dedup.fuzzyMatchPairs(rows, "name", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      ("bold ring", "gold ring", 1, 1L, 1L),
      ("cold bolt", "old bolt", 1, 3L, 1L)), got.toString)
    // 'cold brlt' is 1 edit from 'cold bolt' but blocks differ — the
    // documented recall trade of blocked linkage: never compared
  }

  test("dropBoilerplateParagraphs: hot paragraph dropped everywhere, order kept") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val boiler = "subscribe to our newsletter"
    val corpus = Seq(
      (1L, s"alpha one\n\n$boiler\n\nbeta two"),
      (2L, s"$boiler\n\ngamma three"),
      (3L, s"delta four\n\n$boiler"),
      (4L, "epsilon five")).toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateParagraphs(corpus, "doc_id", "text",
      maxDf = 3).collect()
    val byId = out.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(byId(1L)._1 == 3 && byId(1L)._2 == 2)
    assert(byId(2L)._1 == 2 && byId(2L)._2 == 1)
    assert(byId(4L) == ((1L, 1L,
      sha256Hex("epsilon five"))))
    // doc 1's cleaned text restores original order minus the boiler
    assert(byId(1L)._3 == sha256Hex("alpha one\n\nbeta two"))
    // doc 3 keeps only its leading paragraph (no trailing separator)
    assert(byId(3L)._3 == sha256Hex("delta four"))
  }

  test("dropBoilerplateParagraphs: a doc that is ALL boilerplate hashes empty") {
    import spark.implicits._
    val corpus = (1L to 5L).map(i => (i, "the same thing"))
      .toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateParagraphs(corpus, "doc_id", "text",
      maxDf = 5).collect()
    assert(out.forall(r => r.getLong(2) == 0L &&
      r.getString(3) == sha256Hex("")))
  }

  test("repeatedSpanProfile: keep-first span accounting, cross-doc and within-doc") {
    import spark.implicits._
    // doc 1: 30 unique tokens (the FIRST occurrence of the a-block);
    // doc 2: 5 own tokens + a 25-token copy of doc 1's prefix — its 6
    //        span-20 windows at positions 5..10 all repeat doc 1, and
    //        the merged cover is [5, 30) = 25 tokens;
    // doc 3: a 20-token block repeated back-to-back — exactly ONE
    //        window (position 20) re-sees the block, masking [20, 40)
    val a = (1 to 30).map("a" + _).mkString(" ")
    val b = ((1 to 5).map("b" + _) ++ (1 to 25).map("a" + _)).mkString(" ")
    val c = ((1 to 20).map("c" + _) ++ (1 to 20).map("c" + _)).mkString(" ")
    val corpus = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val out = Dedup.repeatedSpanProfile(corpus, "doc_id", "text",
      spanTokens = 20).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out(1L) == ((30L, 11L, 0L, 0L, 0L))) // first occurrence kept
    assert(out(2L) == ((30L, 11L, 6L, 25L, 25L * 1048576 / 30)))
    assert(out(3L) == ((40L, 21L, 1L, 20L, 20L * 1048576 / 40)))
  }

  test("maskRepeatedSpans: covered tokens removed; accounting matches the profile") {
    import spark.implicits._
    val a = (1 to 30).map("a" + _).mkString(" ")
    val b = ((1 to 5).map("b" + _) ++ (1 to 25).map("a" + _)).mkString(" ")
    val c = ((1 to 20).map("c" + _) ++ (1 to 20).map("c" + _)).mkString(" ")
    val corpus = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val cleaned = Dedup.maskRepeatedSpans(corpus, "doc_id", "text",
      spanTokens = 20).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(1L) == a)
    assert(cleaned(2L) == (1 to 5).map("b" + _).mkString(" "))
    assert(cleaned(3L) == (1 to 20).map("c" + _).mkString(" "))
    // token accounting pins the two operators together: kept tokens ==
    // n_tokens - n_masked_tokens, per doc
    val prof = Dedup.repeatedSpanProfile(corpus, "doc_id", "text",
      spanTokens = 20).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(4)))).toMap
    cleaned.foreach { case (id, text) =>
      val kept = text.split("\\s+").count(_.nonEmpty)
      assert(kept == prof(id)._1 - prof(id)._2)
    }
  }

  test("repeatedSpanProfile: docs below the span emit zero windows, never negative") {
    import spark.implicits._
    val corpus = Seq((1L, "just three tokens"), (2L, "")).toDF("doc_id", "text")
    val out = Dedup.repeatedSpanProfile(corpus, "doc_id", "text",
      spanTokens = 20).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(5)))).toMap
    assert(out(1L) == ((3L, 0L, 0L)))
    assert(out(2L) == ((0L, 0L, 0L))) // empty text: fp guarded, no div0
  }

  test("containmentPairs: a quoted short doc scores 1.0 where Jaccard misses it") {
    val s = spark; import s.implicits._
    // doc 1 = a short "benchmark question"; doc 2 quotes it inside a
    // much longer page; doc 3 is unrelated. The quote shares ALL of
    // doc 1's shingles, so containment = 1.0 — while the symmetric
    // Jaccard is i/(na+nb-i) = small, under any useful threshold.
    val quote = "which river is the longest river on earth"
    val page = "reference almanac page intro " + quote +
      " closing remarks about sources and methods and appendix notes"
    val docs = Seq((1L, quote), (2L, page), (3L, "totally unrelated text"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
      threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.length == 1)
    val (a, b, i, nSmall, c) = out.head
    assert((a, b) == ((1L, 2L)))
    assert(i == nSmall && c == 1.0, out.head.toString) // fully contained
    // the same pair under the SYMMETRIC metric stays below 0.5
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.5).collect()
    assert(jac.isEmpty, "fixture meant to demonstrate the Jaccard gap")
  }

  test("containmentPairs: the df-cap drops hot-shingle evidence like q17") {
    val s = spark; import s.implicits._
    // every doc shares the same 3 tokens -> one shingle with df 4;
    // maxDf = 3 caps it, leaving no evidence, so no pairs emerge
    val docs = (1L to 4L).map(i => (i, "alpha beta gamma")).toDF("doc_id", "text")
    assert(Dedup.containmentPairs(docs, "doc_id", "text",
      threshold = 0.5, maxDf = 3).collect().isEmpty)
    // with the cap above df, all 6 identical pairs confirm at 1.0
    val full = Dedup.containmentPairs(docs, "doc_id", "text",
      threshold = 0.5, maxDf = 10).collect()
    assert(full.length == 6 && full.forall(_.getDouble(4) == 1.0))
  }

  test("crossContainmentPairs: eval-side normalization, direction matters") {
    val s = spark; import s.implicits._
    val quote = "which river is the longest river on earth"
    val train = Seq((10L, "encyclopedia entry preamble " + quote +
      " further discussion of nile amazon measurements and sources"))
      .toDF("doc_id", "text")
    val eval_ = Seq((20L, quote), (21L, "unrelated eval question text"))
      .toDF("doc_id", "text")
    // the quoted eval doc is fully contained in the training page
    val out = Dedup.crossContainmentPairs(train, eval_, "doc_id", "text",
      threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(out.toSeq == Seq((10L, 20L, 1.0)), out.mkString(","))
    // the REVERSE direction normalizes by the page's size — no hit:
    // containment is deliberately one-sided
    assert(Dedup.crossContainmentPairs(eval_, train, "doc_id", "text",
      threshold = 0.8).collect().isEmpty)
    // split form agrees with the two-corpus form (id-derived predicate —
    // the split contract: the predicate must survive into the index)
    val split = Dedup.crossContainmentPairsSplit(train.unionByName(eval_),
      "doc_id", "text", leftSide = col("doc_id") < 20, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(split.toSeq == Seq((10L, 20L, 1.0)))
  }

  private def sha256Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("dedupImpact: exact vs whitespace-normalized distincts — the " +
    "gap is formatting-only near-duplication") {
    val s = spark; import s.implicits._
    val docs = Seq(
      ("a", "x y"), ("a", "x y"),          // exact copy
      ("a", "x  y"),                        // whitespace-only variant
      ("a", "z"),                           // unique
      ("b", "w"))                           // clean source
      .toDF("source", "text")
    val out = Dedup.dedupImpact(docs, "source", "text").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))).toMap
    // source a: 4 docs, 3 exact contents ("x y", "x  y", "z"), 2
    // normalized contents ("x y", "z") — the norm gap flags "x  y"
    assert(out("a") == ((4L, 3L, 2L, 1L, 0.25)))
    assert(out("b") == ((1L, 1L, 1L, 0L, 0.0)))
  }

  test("clusterImpact: families count per touching source, canonicals " +
    "credit only the holder, survival by hand") {
    val s = spark; import s.implicits._
    // clusters: {1,2,3} (canonical 1), {4} singleton; sources:
    // X holds 1,2,4 — touches 2 families, keeps 1 and 4 (survival 1.0
    // of... 2 canonicals of 3 docs); Y holds 3 — touches family 1,
    // keeps nothing (its doc lost to X's canonical)
    val docsDf = Seq((1L, "X"), (2L, "X"), (3L, "Y"), (4L, "X"))
      .toDF("doc_id", "source")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc_id", "cluster_id")
    val out = Dedup.clusterImpact(docsDf, "doc_id", "source", clusters)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out("X") == ((3L, 2L, 2L, 2.0 / 3)))
    assert(out("Y") == ((1L, 1L, 0L, 0.0)))
  }

  test("pairsEval: hand counts; duplicate input rows collapse; empty " +
    "sides keep the NULL-ratio contract") {
    val got = pairs(1L -> 2L, 1L -> 2L, 3L -> 4L) // dup row collapses
    val want = pairs(1L -> 2L, 5L -> 6L)
    val r = Dedup.pairsEval(got, want).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 2L, 1L)))
    assert(r.getDouble(3) == 0.5 && r.getDouble(4) == 0.5)
    val e = Dedup.pairsEval(pairs(), want).collect()(0)
    assert((e.getLong(0), e.getLong(1), e.getLong(2)) == ((0L, 2L, 0L)))
    assert(e.isNullAt(3) && e.getDouble(4) == 0.0)
  }

  test("softDedup: each family keeps exactly ceil(sqrt(n)) rows, " +
    "deterministically, and smaller quotas are prefixes") {
    val s = spark; import s.implicits._
    // families: "a" ×9 (quota 3), "b" ×4 (quota 2), "c" ×2 (quota 2 —
    // ceil(√2); the sqrt law only bites from n=3), "d" ×1 (quota 1)
    val rows = (1L to 9L).map(i => (i, "a")) ++
      (10L to 13L).map(i => (i, "b")) ++
      Seq((14L, "c"), (15L, "c"), (16L, "d"))
    val df = rows.toDF("doc_id", "text")
    val out = Dedup.softDedup(df, "doc_id", "text").collect()
    val byFam = out.groupBy(_.getString(1)).map { case (h, rs) =>
      rs.head.getLong(2) -> rs.length }
    assert(byFam == Map(9L -> 3, 4L -> 2, 2L -> 2, 1L -> 1))
    // deterministic re-run, row for row
    val again = Dedup.softDedup(df, "doc_id", "text").collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // nested-prefix contract: rank-1 rows are a valid 1-per-family keep
    val rank1 = out.filter(_.getInt(4) == 1)
    assert(rank1.map(_.getString(1)).distinct.length == 4 &&
      rank1.length == 4)
  }

  test("winnowingPairs: the w+k-1 guarantee catches a shared run; " +
    "short and disjoint docs never pair; identical docs share all") {
    val s = spark; import s.implicits._
    val run = "alpha beta gamma delta epsilon zeta" // 6 tokens = w+k-1
    val docs = Seq(
      (1L, s"one two three $run four five six seven"),
      (2L, s"red blue green $run yellow purple orange pink"),
      (3L, "tiny doc here"),                      // < w+k-1 tokens
      (4L, "wholly different words appear in this document body text"),
      (5L, s"one two three $run four five six seven") // == doc 1
    ).toDF("doc_id", "text")
    val out = Dedup.winnowingPairs(docs, "doc_id", "text",
      span = 3, window = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // guarantee: the 6-token run yields ≥ 1 shared fingerprint
    assert(out.contains((1L, 2L)) && out((1L, 2L)) >= 1L)
    assert(out.contains((1L, 5L)) && out.contains((2L, 5L)))
    // identical docs share every fingerprint — strictly more than the
    // cross-pair that only shares the run
    assert(out((1L, 5L)) > out((1L, 2L)))
    // short docs select nothing; disjoint docs share nothing
    assert(!out.keys.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!out.keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("sortedNeighborPairs: window bounds the neighborhood; pairs " +
    "surface once from the sort-earlier end; prefix-boundary typos " +
    "are the documented miss") {
    val s6 = spark; import s6.implicits._
    val df = (Seq("aab", "aac", "aad", "aae", "aaf") ++
      Seq("zebra", "aebra") ++ Seq("aab")).toDF("n")
    val out = Dedup.sortedNeighborPairs(df, "n", windowSize = 4,
      maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getInt(2), r.getLong(3), r.getLong(4)))).toMap
    // aab..aaf are pairwise lev-1; windowSize 4 = 3 leads, so aab
    // reaches aac/aad/aae but NOT aaf; duplicate "aab" rows collapse
    // with their count
    assert(out.contains(("aab", "aac")) && out(("aab", "aac"))._2 == 2L)
    assert(out.contains(("aab", "aae")))
    assert(!out.contains(("aab", "aaf")))   // beyond the window
    assert(out.contains(("aac", "aaf")))    // within its window
    // zebra/aebra: lev 1 but prefixes 'ze'/'ae' split them — missed
    assert(!out.keys.exists(p => p._1.contains("ebra") ||
      p._2.contains("ebra")))
    // no self pairs, no reversed duplicates
    assert(out.keys.forall { case (a, b) => a < b })
  }

  test("pairAgreement: exact subset reads full containment; disjoint " +
    "sets read zero; duplicate rows inside a method collapse") {
    val s7 = spark; import s7.implicits._
    val a = Seq((1L, 2L), (1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val b = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val c = Seq((7L, 8L)).toDF("doc_a", "doc_b")
    val out = Dedup.pairAgreement(Seq("a" -> a, "b" -> b, "c" -> c))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4),
          Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    // a ⊂ b: both = |a| = 2 (the duplicate (1,2) row collapsed)
    assert(out(("a", "b")) == ((2L, 3L, 2L, Some(2.0 / 3))))
    assert(out(("a", "c")) == ((2L, 1L, 0L, Some(0.0))))
    assert(out(("b", "c")) == ((3L, 1L, 0L, Some(0.0))))
    intercept[IllegalArgumentException] {
      Dedup.pairAgreement(Seq("x" -> a))
    }
    intercept[IllegalArgumentException] {
      Dedup.pairAgreement(Seq("x" -> a, "x" -> b))
    }
  }

  test("pairTransitivityAudit: hand-computed wedges/closures; " +
    "non-canonical input (reversed, doubled, self-pairs) normalizes") {
    val s13 = spark; import s13.implicits._
    // triangle 1-2-3 plus a dangling edge 3-4:
    // wedges: (1,3)@2, (2,3)@1, (1,2)@3, (2,4)@3, (1,4)? no — 4 only
    // touches 3. closed: the 3 triangle wedges; open: (2,4) and (1,4)?
    // center 3 has leaves {1, 2, 4} → wedges (1,2) closed, (1,4) open,
    // (2,4) open. total wedges = 5, closed = 3.
    val clean = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val r1 = Dedup.pairTransitivityAudit(clean).collect()(0)
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) ==
      ((4L, 5L, 3L)))
    assert(math.abs(r1.getDouble(3) - 3.0 / 5) < 1e-15)
    // the same graph fed adversarially: reversed edges, a doubled
    // edge in both directions, and a self-pair — must normalize to
    // identical numbers (the review's undercount/quadruple hazard)
    val messy = Seq((2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (4L, 3L),
      (5L, 5L)).toDF("doc_a", "doc_b")
    val r2 = Dedup.pairTransitivityAudit(messy).collect()(0)
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) ==
      ((4L, 5L, 3L)), r2.toString)
  }

  test("pairDisagreements: consensus pairs drop; partial flags " +
    "surface with per-method columns") {
    val s12 = spark; import s12.implicits._
    val a = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val b = Seq((1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = Dedup.pairDisagreements(Seq("x" -> a, "y" -> b))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // (1,2) is consensus → dropped; the one-sided pairs keep flags
    assert(out == Map(
      (3L, 4L) -> ((1L, 0L)),
      (5L, 6L) -> ((0L, 1L))))
  }

  test("backgroundJaccard: identical docs land in the top band, " +
    "disjoint docs in zero; fractions sum the pair count") {
    val s13 = spark; import s13.implicits._
    // 4 docs, sampleK = 4 -> all 6 pairs scored. Docs 0 and 1 are
    // identical (Jaccard 1 -> gt_1_2); every other pair shares no
    // 3-gram shingle -> zero band.
    val df = Seq(
      (0L, "a b c d e"), (1L, "a b c d e"),
      (2L, "p q r s t"), (3L, "x y z w v")).toDF("doc_id", "text")
    val out = Dedup.backgroundJaccard(df, "doc_id", "text", sampleK = 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.toSeq == Seq(
      (0, "zero", 5L, 5.0 / 6),
      (5, "gt_1_2", 1L, 1.0 / 6)))
  }

  test("backgroundJaccard: the draw is the k smallest affine hashes — " +
    "adding a doc outside the sample leaves the bands unchanged") {
    val s14 = spark; import s14.implicits._
    val base = Seq(
      (0L, "a b c d e"), (1L, "a b c d e"),
      (2L, "p q r s t"), (3L, "x y z w v")).toDF("doc_id", "text")
    val P = 1000000007L
    // find an id whose affine hash exceeds all four in the sample, so
    // with sampleK = 4 it can never displace a sampled doc
    def h(id: Long) = ((id % P) * 2654435761L % P + 12345L) % P
    val maxH = (0L to 3L).map(h).max
    val outsider = (4L to 400L).find(h(_) > maxH).get
    val more = base.union(
      Seq((outsider, "a b c d e")).toDF("doc_id", "text"))
    val a = Dedup.backgroundJaccard(base, "doc_id", "text", sampleK = 4)
      .collect().toSeq
    val b = Dedup.backgroundJaccard(more, "doc_id", "text", sampleK = 4)
      .collect().toSeq
    assert(a == b)
  }

  test("neighborLabelAudit: majority vote both ways along pairs, " +
    "smallest-label tie-break, NULL votes and null-safe disagreement, " +
    "agreeing docs absent") {
    val s = spark; import s.implicits._
    val docs = Seq[(Long, String)](
      (1L, "en"), (2L, "en"), (3L, "de"), (4L, "en"), (5L, null),
      (6L, "en"), (7L, "en"))
      .toDF("doc_id", "lang")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (6L, 7L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.neighborLabelAudit(docs, "doc_id", "lang", pairs)
      .collect().map(r => r.getLong(0) -> ((r.getString(1),
        r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out == Map(
      // 1 sees {en, de}: tie -> 'de' wins (smallest), own 'en' flagged
      1L -> (("en", "de", 1L, 2L)),
      2L -> (("en", "de", 1L, 2L)),
      // 3 sees {en, en}: clear majority against its own 'de'
      3L -> (("de", "en", 2L, 2L)),
      // 4's one neighbor is NULL-labeled; 5's is 'en' — both flagged
      4L -> (("en", null, 1L, 1L)),
      5L -> ((null, "en", 1L, 1L))))
    // 6 and 7 agree with each other: not in the worklist
    assert(!out.contains(6L) && !out.contains(7L))
  }

  test("alignedFingerprintDecontam: half-share rule over aligned " +
    "positions, exact-dup member expansion, max-then-min witness") {
    import spark.implicits._
    val far = (1L << 44) - 1 // bit_count 44, never within Hamming 3
    // eval 100: 4 positions of fp 0; eval 104: 2 positions of fp 0
    val ev = ((0L to 3L).map(a => (100L, a, 0L)) ++
      (0L to 1L).map(a => (104L, a, 0L)))
      .toDF("doc_id", "frame_idx", "fp")
    // train 1 and 2: exact same 4-position all-zero signature (the
    //   member expansion must flag both off ONE representative match)
    // train 3: only position 0 matches (1/4 < half) — clean
    // train 7: 2 positions of fp 1 (Hamming 1): n_match 2 against
    //   BOTH evals (2*2 >= max(4,2) and >= max(2,2)) — the witness
    //   tie-break picks the smaller eval id 100
    val tr = ((0L to 3L).map(a => (1L, a, 0L)) ++
      (0L to 3L).map(a => (2L, a, 0L)) ++
      ((3L, 0L, 0L) +: (1L to 3L).map(a => (3L, a, far))) ++
      (0L to 1L).map(a => (7L, a, 1L)))
      .toDF("doc_id", "frame_idx", "fp")
    val got = Dedup.alignedFingerprintDecontam(tr, ev, "doc_id",
      "frame_idx", "fp", maxHamming = 3, bits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (1L, 4L, 4L, 100L, 4L),
      (2L, 4L, 4L, 100L, 4L),
      (7L, 2L, 2L, 100L, 4L)), got)
  }

  test("alignedFingerprintPairs/Clusters equal brute force on seeded " +
    "random sequence sets (lengths, gaps, dup families, bit-63 fps)") {
    import spark.implicits._
    // brute-force twin of the aligned decision
    def bruteForce(rows: Seq[(Long, Long, Long)])
        : (Set[(Long, Long, Long, Long, Long)], Map[Long, Long]) = {
      val byDoc = rows.groupBy(_._1)
        .map { case (d, rs) => d -> rs.map(r => r._2 -> r._3).toMap }
      val docs = byDoc.keys.toSeq.sorted
      val pairs = for {
        i <- docs.indices
        j <- i + 1 until docs.size
        a = docs(i); b = docs(j)
        fa = byDoc(a); fb = byDoc(b)
        nm = fa.keySet.intersect(fb.keySet).count(k =>
          java.lang.Long.bitCount(fa(k) ^ fb(k)) <= 3)
        if 2 * nm >= math.max(fa.size, fb.size)
      } yield (a, b, nm.toLong, fa.size.toLong, fb.size.toLong)
      // clusters = components over the pair set, min-id labels
      val adj = pairs.flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      def component(seed: Long): Set[Long] = {
        var seen = Set(seed); var frontier = Set(seed)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(adj.getOrElse(_, Set.empty))
            .diff(seen)
          seen ++= next; frontier = next
        }
        seen
      }
      val labels = docs.map(d => d -> component(d).min).toMap
      (pairs.toSet, labels)
    }
    val rng = new scala.util.Random(20260815L)
    for (trial <- 0 until 6) {
      val nDocs = 4 + rng.nextInt(12)
      val fpAlphabet = Seq.fill(3 + rng.nextInt(4))(
        rng.nextLong()) // includes bit-63-set values
      val rows = (0 until nDocs).flatMap { d =>
        val len = 1 + rng.nextInt(6)
        // gappy positions: some frames missing
        (0 until len).filter(_ => rng.nextInt(10) > 1).map { f =>
          // near-dup shaping: tweak a base fp by <= 4 random bits
          val base = fpAlphabet(rng.nextInt(fpAlphabet.size))
          val flips = rng.nextInt(5)
          val fp = (0 until flips).foldLeft(base)((v, _) =>
            v ^ (1L << rng.nextInt(64)))
          (d.toLong, f.toLong, fp)
        }
      }.filter(_ => true)
      if (rows.nonEmpty) {
        val fps = rows.toDF("doc_id", "frame_idx", "fp").persist()
        val (wantPairs, wantLabels) = bruteForce(rows)
        val gotPairs = Dedup.alignedFingerprintPairs(fps, "doc_id",
          "frame_idx", "fp", 3, 64)
          .collect().map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4))).toSet
        assert(gotPairs == wantPairs, s"trial $trial pairs")
        val gotLabels = Dedup.alignedFingerprintClusters(fps, "doc_id",
          "frame_idx", "fp", 3, 64)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(gotLabels == wantLabels, s"trial $trial clusters")
        fps.unpersist()
      }
    }
  }
  test("fingerprintClusters / alignedFingerprintClusters broadcasts are " +
    "bounded by duplicate mass: an all-unique corpus broadcasts ZERO " +
    "rows and boring docs become singletons row-locally") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec}

    // every BroadcastExchange's output-row count in the FINAL adaptive
    // plan — the direct reading of "no corpus-sized broadcast"
    def broadcastRows(df: DataFrame): Seq[Long] = {
      df.collect()
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => q +: walk(q.plan)
        case r: ReusedExchangeExec => r +: walk(r.child)
        case other => other +: other.children.flatMap(walk)
      }
      walk(df.queryExecution.executedPlan)
        .collect { case b: BroadcastExchangeLike =>
          b.metrics("numOutputRows").value }
    }

    val scope = graft.engine.CacheScope()
    try {
      // 64 docs, all four 16-bit pigeonhole lanes distinct across
      // docs: zero candidate pairs, zero multi-doc fingerprints — the
      // mostly-unique-lake shape that used to force a corpus-sized
      // broadcast
      val lane = 0x0001000100010001L
      val unique = (0L until 64L).map(i => (i, i * lane))
        .toDF("doc_id", "fp").persist()
      val uniq = Dedup.fingerprintClusters(unique, "doc_id", "fp", 3,
        64, scope)
      // AQE's empty-relation propagation usually erases the empty
      // broadcast joins outright — either way, nothing corpus-sized
      val bU = broadcastRows(uniq)
      assert(bU.forall(_ == 0L),
        s"unique-corpus broadcasts must be empty, got $bU")
      val outU = uniq.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      assert(outU.length == 64 &&
        outU.forall(t => t._1 == t._2 && t._3),
        "all-unique corpus must come back as all-singleton clusters")

      // add duplicate mass: one same-fp pair (NO pigeonhole pair —
      // radius-0 by shared hash) and one Hamming-1 pair; broadcasts
      // must scale with these 4 docs, not the 68-doc corpus
      val dup = (unique.as[(Long, Long)].collect().toSeq ++ Seq(
        (100L, 100L * lane), (101L, 100L * lane),
        (200L, 200L * lane), (201L, 200L * lane ^ 1L)))
        .toDF("doc_id", "fp").persist()
      val mixed = Dedup.fingerprintClusters(dup, "doc_id", "fp", 3, 64,
        scope)
      val bM = broadcastRows(mixed)
      assert(bM.nonEmpty, "plan-walk sanity: the duplicate-mass case " +
        "must surface its broadcast exchanges")
      assert(bM.forall(_ <= 4L),
        s"broadcasts must stay duplicate-mass-sized, got $bM")
      val got = mixed.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got(100L) == 100L && got(101L) == 100L)
      assert(got(200L) == 200L && got(201L) == 200L)
      assert((0L until 64L).forall(i => got(i) == i))
      unique.unpersist(); dup.unpersist()

      // sequence flavor: all-distinct signatures broadcast zero rows;
      // a same-signature group and a threshold-passing near pair stay
      // bounded by their own mass
      val uniqSeq = (0L until 40L).flatMap(i => Seq(
        (i, 0L, (1000L + i) * lane), (i, 1L, (2000L + i) * lane)))
        .toDF("doc_id", "frame_idx", "fp").persist()
      val alu = Dedup.alignedFingerprintClusters(uniqSeq, "doc_id",
        "frame_idx", "fp", 3, 64, scope = scope)
      val bA = broadcastRows(alu)
      assert(bA.forall(_ == 0L),
        s"unique-sequence broadcasts must be empty, got $bA")
      assert(alu.collect().forall(r => r.getLong(0) == r.getLong(1)))

      val dupSeq = (uniqSeq.as[(Long, Long, Long)].collect().toSeq ++
        Seq(
          (300L, 0L, 7000L * lane), (300L, 1L, 7001L * lane),
          (301L, 0L, 7000L * lane), (301L, 1L, 7001L * lane),
          (400L, 0L, 8000L * lane), (400L, 1L, 8001L * lane),
          (401L, 0L, 8000L * lane ^ 1L), (401L, 1L, 8001L * lane)))
        .toDF("doc_id", "frame_idx", "fp").persist()
      val alm = Dedup.alignedFingerprintClusters(dupSeq, "doc_id",
        "frame_idx", "fp", 3, 64, scope = scope)
      val bS = broadcastRows(alm)
      assert(bS.nonEmpty, "plan-walk sanity: the near-pair case must " +
        "surface its broadcast exchange")
      assert(bS.forall(_ <= 2L),
        s"sequence broadcasts must stay pair-mass-sized, got $bS")
      val gotS = alm.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotS(300L) == 300L && gotS(301L) == 300L,
        "same-signature group must cluster to its rep with no pairs")
      assert(gotS(400L) == 400L && gotS(401L) == 400L)
      assert((0L until 40L).forall(i => gotS(i) == i))
      uniqSeq.unpersist(); dupSeq.unpersist()
    } finally scope.close()
  }

  test("sequenceShinglePolicyCurve ≡ per-policy operator reruns: " +
    "n_flagged matches sequenceShingleContainment's pair count at " +
    "every grid point, hits = flagged (screen ⊆ truth), truth = the " +
    "uncapped shared-shingle relation — on a frame with trims, " +
    "copies, an all-capped group, and sub-k streams") {
    import org.apache.spark.sql.functions._
    val s2 = spark; import s2.implicits._
    def v(i: Int): Long = i.toLong * 2654435761L
    // reuse the collapse-equivalence fixture shape: overlapping trims
    // (streams s1/s2), copies, a 7-copy one-shingle group that trips
    // small caps, an unrelated stream, a sub-k doc
    val streams: Map[Long, Seq[Long]] = (
      Seq(3L, 10L, 11L).map(_ -> (1 to 6).map(v)) ++
      Seq(5L, 20L).map(_ -> (3 to 7).map(v)) ++
      Seq(30L -> (100 to 104).map(v)) ++
      (40L to 46L).map(_ -> (90 to 92).map(v)) ++
      Seq(50L -> (200 to 201).map(v))).toMap
        .map { case (d, fs) => d -> fs.map(_.toLong) }
    val fps = streams.toSeq.flatMap { case (d, fs) =>
      fs.zipWithIndex.map { case (fp, i) => (d, i.toLong, fp) } }
      .toDF("doc_id", "frame_idx", "fp")
    val policies = Seq((1, 2, 2L), (1, 2, 5L), (1, 4, 100L),
      (3, 4, 100L))
    val got = Dedup.sequenceShinglePolicyCurve(fps, "doc_id",
        "frame_idx", "fp", k = 3, policies = policies)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // truth: any shared 3-gram, no cap
    val shOf = streams.map { case (d, fs) =>
      d -> fs.sliding(3).filter(_.size == 3).map(_.toSeq).toSet }
    val ids = streams.keySet.toSeq.sorted
    val nTruth = (for {
      a <- ids; b <- ids if a < b
      if (shOf(a) & shOf(b)).nonEmpty
    } yield 1).size.toLong
    policies.foreach { case (num, den, cap) =>
      val want = Dedup.sequenceShingleContainment(fps, "doc_id",
          "frame_idx", "fp", k = 3, minSharedNum = num,
          minSharedDen = den, maxDf = cap).count()
      val (nf, nh, nt) = got((num.toLong, den.toLong, cap))
      assert(nf == want, s"policy ($num/$den, df<=$cap): $nf vs $want")
      assert(nh == nf, "screen must be a subset of the truth")
      assert(nt == nTruth, s"truth: $nt vs $nTruth")
    }
    // the grid is non-degenerate: the tight cap loses real pairs
    assert(got((1L, 2L, 2L))._1 < got((1L, 4L, 100L))._1)
  }

  test("sequenceShingleContainment: a TRIMMED copy (nonzero offset) " +
    "flags where aligned matching finds nothing, and df-capped " +
    "shingles drop from pairing") {
    import org.apache.spark.sql.functions._
    val s2 = spark; import s2.implicits._
    def v(i: Int): Long = i.toLong * 2654435761L // well-separated fps
    // doc 1 = frames v1..v6; doc 2 = v3..v7 (doc 1's tail, shifted by
    // 2 — the trimmed re-upload); docs 100..219 all carry ONE
    // identical hot shingle (v90,v91,v92) — df 120 > maxDf 100
    val rows =
      (0 until 6).map(i => (1L, i.toLong, v(i + 1))) ++
      (0 until 5).map(i => (2L, i.toLong, v(i + 3))) ++
      (100L until 220L).flatMap(d =>
        (0 until 3).map(i => (d, i.toLong, v(90 + i))))
    val fps = rows.toDF("doc_id", "frame_idx", "fp")
    // the aligned (same-index) rung sees NOTHING: no position agrees
    assert(Dedup.alignedFingerprintPairs(fps.where(col("doc_id") < 100),
      "doc_id", "frame_idx", "fp", maxHamming = 0, bits = 64)
      .count() == 0L)
    val got = Dedup.sequenceShingleContainment(fps, "doc_id",
        "frame_idx", "fp", k = 3, minSharedNum = 1, minSharedDen = 2,
        maxDf = 100L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // doc 1: shingles (v1v2v3)...(v4v5v6) = 4; doc 2: (v3v4v5),
    // (v4v5v6), (v5v6v7) = 3; shared = 2 ≥ ceil(min/2)
    assert(got == Set((1L, 2L, 2L, 4L, 3L)),
      s"containment pairs: $got")
  }

  test("clip rung signature collapse (r19) ≡ the naive doc-level " +
    "relation: containment pairs (incl. the member-order swap), " +
    "families, and the decontam gate all agree with a driver-side " +
    "model on a frame with copies, an all-capped copy group, trims, " +
    "and sub-k streams") {
    import org.apache.spark.sql.functions._
    val s2 = spark; import s2.implicits._
    def v(i: Int): Long = i.toLong * 2654435761L
    val k = 3; val maxDf = 5L
    // stream s1 = v1..v6 on docs {3, 10, 11} (rep 3 — member ids
    // interleave with s2's, exercising the a/b swap in the cross
    // expansion); s2 = v3..v7 on {5, 20} (s1's trimmed tail);
    // s3 = v100..v104 on {30} (unrelated); s4 = one shingle on
    // 7 copies {40..46} — its df (7) trips the cap, so the copies
    // must pair with NOTHING and stay cluster singletons;
    // doc 50 has < k frames — absent from every readout
    val streams: Map[Long, Seq[Long]] = (
      Seq(3L, 10L, 11L).map(_ -> (1 to 6).map(v)) ++
      Seq(5L, 20L).map(_ -> (3 to 7).map(v)) ++
      Seq(30L -> (100 to 104).map(v)) ++
      (40L to 46L).map(_ -> (90 to 92).map(v)) ++
      Seq(50L -> (200 to 201).map(v))).toMap
        .map { case (d, fs) => d -> fs.map(_.toLong) }
    val rows = streams.toSeq.flatMap { case (d, fs) =>
      fs.zipWithIndex.map { case (fp, i) => (d, i.toLong, fp) } }
    val fps = rows.toDF("doc_id", "frame_idx", "fp")

    // ---- driver-side naive model ----
    val shOf: Map[Long, Set[Seq[Long]]] = streams.map { case (d, fs) =>
      d -> fs.sliding(k).filter(_.size == k).map(_.toSeq).toSet }
    val df = shOf.values.flatten.groupBy(identity)
      .map { case (s, o) => s -> o.size }
    val cold = shOf.map { case (d, ss) =>
      d -> ss.filter(df(_) <= maxDf) }
    val ids = streams.keySet.toSeq.sorted
    def naivePairs(docs: Seq[Long]): Set[(Long, Long, Long, Long, Long)] =
      (for {
        a <- docs; b <- docs if a < b
        na = cold(a).size; nb = cold(b).size
        sh = (cold(a) & cold(b)).size
        if sh * 2 >= math.min(na, nb) && sh > 0
      } yield (a, b, sh.toLong, na.toLong, nb.toLong)).toSet
    val wantPairs = naivePairs(ids)
    val gotPairs = Dedup.sequenceShingleContainment(fps, "doc_id",
        "frame_idx", "fp", k = k, minSharedNum = 1, minSharedDen = 2,
        maxDf = maxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(gotPairs == wantPairs, s"pairs: $gotPairs vs $wantPairs")
    // the swap case really occurred: a pair whose smaller id carries
    // the SMALLER shingle count (s2 member 5 vs s1 member 10)
    assert(gotPairs.contains((5L, 10L, 2L, 3L, 4L)))
    // the capped copy group pairs with nothing, not even itself
    assert(!gotPairs.exists(p => p._1 >= 40L && p._1 <= 46L))

    // ---- families ≡ union-find over the naive pairs ----
    val universe = ids.filter(d => streams(d).size >= k)
    val parent = scala.collection.mutable.Map(
      universe.map(d => d -> d): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r); r
    }
    wantPairs.foreach { case (a, b, _, _, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val wantClusters = universe.map(d => (d, find(d), d == find(d)))
      .toSet
    val gotClusters = Dedup.sequenceShingleClusters(fps, "doc_id",
        "frame_idx", "fp", k = k, minSharedNum = 1, minSharedDen = 2,
        maxDf = maxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getBoolean(2))).toSet
    assert(gotClusters == wantClusters,
      s"clusters: $gotClusters vs $wantClusters")
    // capped copies are singletons; sub-k doc 50 has no row
    assert(gotClusters.contains((41L, 41L, true)))
    assert(!gotClusters.exists(_._1 == 50L))

    // ---- decontam ≡ the naive eval-normalized gate ----
    val evalIds = Set(3L, 20L)
    val trainIds = ids.filterNot(evalIds)
    val wantDecontam = trainIds.flatMap { t =>
      val hits = evalIds.toSeq.flatMap { e =>
        val sh = (cold(t) & cold(e)).size
        if (cold(e).nonEmpty && sh * 2 >= cold(e).size && sh > 0)
          Some((sh, e)) else None
      }
      if (hits.isEmpty) None
      else {
        val best = hits.maxBy { case (sh, e) => (sh, -e) }
        Some((t, best._1.toLong, cold(t).size.toLong, best._2,
          cold(best._2).size.toLong))
      }
    }.toSet
    val gotDecontam = Dedup.sequenceShingleDecontam(
        fps.where(!col("doc_id").isin(evalIds.toSeq: _*)),
        fps.where(col("doc_id").isin(evalIds.toSeq: _*)),
        "doc_id", "frame_idx", "fp", k = k, minSharedNum = 1,
        minSharedDen = 2, maxDf = maxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(gotDecontam == wantDecontam,
      s"decontam: $gotDecontam vs $wantDecontam")
    assert(wantDecontam.nonEmpty, "the gate must flag something")
  }
}
