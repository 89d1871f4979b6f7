package graft.operators

import graft.SparkSpec

/** Privacy-audit semantics (the q121 operator; redaction bulk
  * correctness is the q33/q38 oracle gate, and the streaming twin
  * drives the redactors in CurateStreamSpec). */
class ScrubSpec extends SparkSpec {

  test("kAnonymityAudit: small groups violate k, uniform-sensitive " +
    "groups violate l, clean groups are absent; NULL sensitive is a " +
    "distinct assertion") {
    val s = spark; import s.implicits._
    val df = Seq[(String, String, java.lang.Long)](
      // ("z1", "m"): 5 rows, 2 sensitive values — clean
      ("z1", "m", 1L), ("z1", "m", 1L), ("z1", "m", 2L),
      ("z1", "m", 2L), ("z1", "m", 2L),
      // ("z1", "f"): 2 rows — k-violation (also l-clean: 2 values)
      ("z1", "f", 1L), ("z1", "f", 2L),
      // ("z2", "m"): 5 rows all sensitive=7 — l-violation only
      ("z2", "m", 7L), ("z2", "m", 7L), ("z2", "m", 7L),
      ("z2", "m", 7L), ("z2", "m", 7L),
      // ("z2", "f"): 5 rows, {7, NULL} — NULL separates → l-clean
      ("z2", "f", 7L), ("z2", "f", 7L), ("z2", "f", 7L),
      ("z2", "f", 7L), ("z2", "f", null))
      .toDF("zip", "sex", "sv")
    val out = Scrub.kAnonymityAudit(df, Seq("zip", "sex"), "sv",
      k = 5L, l = 2L).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5))))
      .toMap
    assert(out.keySet == Set(("z1", "f"), ("z2", "m")))
    assert(out(("z1", "f"))  == ((2L, 2L, true, false)))
    assert(out(("z2", "m"))  == ((5L, 1L, false, true)))
  }

  test("encodingHealth: each defect class counted; tab/newline are NOT " +
    "control defects; clean docs score zero") {
    val s = spark; import s.implicits._
    val docs = Seq(
      ("a", "clean text"),
      ("a", "tab\tand\nnewline are fine"),
      ("a", "bell\u0007leaked"),   // C0 control
      ("a", "lost\uFFFDbyte"),    // replacement char
      ("a", "zero\u200Bwidth"),   // ZWSP
      ("b", "clean"))
      .toDF("source", "text")
    val out = Scrub.encodingHealth(docs, "source", "text").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))).toMap
    assert(out("a") == ((5L, 1L, 1L, 1L, 0.6)))
    assert(out("b") == ((1L, 0L, 0L, 0L, 0.0)))
  }

  test("kAnonymityAudit rejects bad config and unknown columns") {
    val s = spark; import s.implicits._
    val df = Seq(("a", 1L)).toDF("q", "sv")
    intercept[IllegalArgumentException] {
      Scrub.kAnonymityAudit(df, Seq(), "sv")
    }
    intercept[IllegalArgumentException] {
      Scrub.kAnonymityAudit(df, Seq("q"), "nope")
    }
    intercept[IllegalArgumentException] {
      Scrub.kAnonymityAudit(df, Seq("q"), "sv", k = 0L)
    }
  }

  test("tClosenessAudit: hand-computed TV with the closed-form tail; " +
    "the dyadic flag flips exactly with the threshold") {
    val s = spark; import s.implicits._
    // global: N=4, c(a)=3, c(b)=1
    // g1 = {a, a}: shared |2·4 − 3·2| = 2, tail (4−3)·2 = 2
    //   -> TV = 4 / 16 = 0.25
    // g2 = {a, b}: shared |1·4 − 3·2| + |1·4 − 1·2| = 4, tail 0
    //   -> TV = 4 / 16 = 0.25
    val df = Seq(("g1", "a"), ("g1", "a"), ("g2", "a"), ("g2", "b"))
      .toDF("g", "sv")
    val loose = Scrub.tClosenessAudit(df, Seq("g"), "sv",
      tNum = 3L, tDen = 8L) // t = 0.375 > 0.25 -> no violations
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(loose == Map(
      "g1" -> ((2L, 0.25, false)),
      "g2" -> ((2L, 0.25, false))))
    val tight = Scrub.tClosenessAudit(df, Seq("g"), "sv",
      tNum = 1L, tDen = 8L) // t = 0.125 < 0.25 -> both violate
      .collect().map(r => r.getBoolean(3))
    assert(tight.toSeq == Seq(true, true))
  }

  test("tClosenessAudit: null quasi-values form a group and null " +
    "sensitive values are a value — neither drops") {
    val s = spark; import s.implicits._
    val df = Seq[(String, String)](
      (null, "a"), (null, "a"),          // null-keyed GROUP
      ("g1", null), ("g1", null),        // null sensitive VALUE
      ("g2", "a"), ("g2", "b"))
      .toDF("g", "sv")
    val out = Scrub.tClosenessAudit(df, Seq("g"), "sv")
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    // all three groups present, each with its 2 rows — nothing lost
    // to a null-unsafe join
    assert(out == Map(None -> 2L, Some("g1") -> 2L, Some("g2") -> 2L))
    // the null-sensitive group is maximally far from a global dist
    // in which nulls are 2 of 6: hand fold —
    //   g1 = {null, null}: shared |2·6 − 2·2| = 8, tail (6−2)·2 = 8
    //   -> TV = 16 / 24 = 2/3
    val g1 = Scrub.tClosenessAudit(df, Seq("g"), "sv")
      .collect().find(r => r.getString(0) == "g1").get
    assert(g1.getDouble(2) == 16.0 / 24.0)
  }

  test("tClosenessAudit: a group mirroring the global distribution " +
    "reads TV = 0") {
    val s = spark; import s.implicits._
    // both groups are {a, a, b}: every group distribution IS the
    // global one, so TV must be exactly zero for both
    val df = Seq(("g1", "a"), ("g1", "a"), ("g1", "b"),
      ("g2", "a"), ("g2", "a"), ("g2", "b")).toDF("g", "sv")
    val out = Scrub.tClosenessAudit(df, Seq("g"), "sv")
      .collect().map(r => (r.getDouble(2), r.getBoolean(3)))
    assert(out.toSeq == Seq((0.0, false), (0.0, false)))
  }

  test("recursiveLDiversity: dominance fails, balance passes, " +
    "single-value groups have zero tail, NULL sensitive is a value") {
    val s = spark; import s.implicits._
    val df = Seq[(String, String)](
      // A: x*4, y*1, z*1 -> r_top 4, tail (pos>=3) 1; 4 < 2*1 false
      ("A", "x"), ("A", "x"), ("A", "x"), ("A", "x"), ("A", "y"),
      ("A", "z"),
      // B: x*2, y*2, z*2 -> r_top 2, tail 2; 2 < 4 true
      ("B", "x"), ("B", "x"), ("B", "y"), ("B", "y"), ("B", "z"),
      ("B", "z"),
      // C: x*5 alone -> r_top 5, tail 0; never diverse
      ("C", "x"), ("C", "x"), ("C", "x"), ("C", "x"), ("C", "x"),
      // D: null*3 dominates x*2 -> NULL is a value: r_top 3, tail 0
      ("D", null), ("D", null), ("D", null), ("D", "x"), ("D", "x"))
      .toDF("g", "sv")
    val out = Scrub.recursiveLDiversity(df, Seq("g"), "sv",
      cNum = 2L, cDen = 1L, l = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(out == Map(
      "A" -> ((6L, 3L, 4L, 1L, false)),
      "B" -> ((6L, 3L, 2L, 2L, true)),
      "C" -> ((5L, 1L, 5L, 0L, false)),
      "D" -> ((5L, 2L, 3L, 0L, false))))
  }

  test("recursiveLDiversity: rational c cross-multiplies exactly; a " +
    "tied run straddling position l cannot change the verdict") {
    val s = spark; import s.implicits._
    // E: a*2, b*2, c*1 with l=3: whichever of a/b takes position 1,
    // tail = 1 and r_top = 2 — verdict invariant under the tie
    val df = Seq(("E", "a"), ("E", "a"), ("E", "b"), ("E", "b"),
      ("E", "c")).toDF("g", "sv")
    // c = 2/1: 2 < 2*1 false; c = 3/2: 2*2 < 3*1 false; c = 5/2:
    // 2*2 < 5*1 true
    def verdict(cn: Long, cd: Long): Boolean =
      Scrub.recursiveLDiversity(df, Seq("g"), "sv", cn, cd, l = 3)
        .collect()(0).getBoolean(5)
    assert(!verdict(2L, 1L))
    assert(!verdict(3L, 2L))
    assert(verdict(5L, 2L))
  }

  test("redact equals redactPii's text fed through redactNetwork; a " +
    "dotted-quad URL host leaves as one <URL>") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    val texts = Seq(null, "", "no identifiers here",
      "write agent007@example.com, quote 123456789",
      "see https://10.0.0.7/path or 192.168.1.1")
    val d = spark.createDataFrame(
      texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    val pii = Scrub.redactPii(d, "doc_id", "text")
      .select(col("doc_id"), col("redacted").as("text"))
    val want = Scrub.redactNetwork(pii, "doc_id", "text")
      .select("doc_id", "redacted").orderBy("doc_id").collect().toSeq
    val got = d.select(col("doc_id"),
      Scrub.redact(col("text")).as("redacted"))
      .orderBy("doc_id").collect().toSeq
    assert(got == want)
    assert(got.map(r => Option(r.getString(1))) == Seq(None, Some(""),
      Some("no identifiers here"), Some("write <EMAIL>, quote <NUM>"),
      Some("see <URL> or <IP>")))
  }
}
