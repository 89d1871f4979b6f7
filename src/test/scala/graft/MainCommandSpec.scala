package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Main`'s argument parse, without a session: each verb's
  * accepted forms become a command, and malformed forms or an unknown
  * verb become the usage error (printed with exit code 2) before any
  * session opens. */
class MainCommandSpec extends AnyFunSuite {

  private def parses(args: Seq[String]) = Main.command(args.toList).isDefined

  private def forms(s: String*) = s.map(_.split(" ").toSeq)

  test("every verb's accepted argument forms map to a command") {
    val accepted = forms(
      "etl src wh",
      "report wh 2025-06-14",
      "compact wh",
      "corpus docs out", "corpus docs out 7", "corpus docs out --eval ev",
      "corpus docs out --eval ev 7", "corpus docs out 7 --eval ev",
      "media-fixture docs out",
      "corpus-media m out", "corpus-media m out 4096",
      "corpus-media m out --eval ev", "corpus-media m out --mix 1,1,0 4000",
      "corpus-media m out 4096 --eval ev --mix 1,2,3 4000",
      "corpus-media m out --mix 1,2,3 4000 --eval ev 4096",
      "paired-fixture docs out", "paired-fixture docs out --tri",
      "corpus-paired p out", "corpus-paired p out 4096 --eval ev",
      "corpus-paired p out --mix 1,1,1 100 --eval ev 4096",
      "index emb out",
      "search idx q out", "search idx q out 10", "search idx q out 10 3",
      "dedup-ingest docs store out", "dedup-ingest docs store out corpus",
      "dedup-ingest docs store out corpus 0.8",
      "cms-ingest p h store",
      "checksum-ingest p g t store",
      "kmv-ingest p g t store", "kmv-ingest p g t store 64",
      "hll-ingest p g h store",
      "grid-ingest p v 0.5 store",
      "bloom-ingest p h store",
      "winnow-ingest docs store out", "winnow-ingest docs store out 3",
      "trend-ingest p k d store",
      "df-ingest docs store out", "df-ingest docs store out 3",
      "export-shards docs out 4096",
      "export-zorder p out x y", "export-zorder p out x y 5",
      "export-zorder p out x y 5 8",
      "zorder-maintain p out x y",
      "dhash-ingest m store out",
      "audiofp-ingest m store out",
      "videofp-ingest m store out",
      "gif-ingest m store out",
      "bpe-train docs out", "bpe-train docs out 64",
      "bpe-apply docs merges out",
      "bucketize p t k 8",
      "stream-curate in out ckpt", "stream-curate in out ckpt 5m",
      "stream-funnel in out ckpt view", "stream-funnel in out ckpt view cart buy",
      "stream-sessionize in out ckpt", "stream-sessionize in out ckpt 15",
      "stream-dedup in out ckpt", "stream-dedup in out ckpt 1h",
      "stream-route in out ckpt",
      "explain q11_distinct", "explain all sf",
      "profile p out", "profile p out a b")
    assert(accepted.filterNot(parses).isEmpty)
    // the forms above cover every verb the usage text names, and no other
    val verbs = """(?:^usage: graft\.Main |\| )([a-z-]+) """.r
      .findAllMatchIn(Main.usage).map(_.group(1)).toSet
    assert(verbs.size == 37)
    assert(accepted.map(_.head).toSet == verbs)
  }

  test("malformed argument forms map to the usage error") {
    val malformed = forms(
      // a dangling --eval
      "corpus docs out --eval", "corpus-media m out 4096 --eval",
      "corpus-paired p out --eval",
      // a short --mix
      "corpus-media m out --mix", "corpus-media m out --mix 1,1,1",
      "corpus-paired p out --mix 1,1,1",
      // a wrong --mix weight count, or weights and budgets that are no
      // numbers
      "corpus-media m out --mix 1,1 4000",
      "corpus-paired p out --mix 1,1,1,1 4000",
      "corpus-media m out --mix a,b,c 4000",
      "corpus-media m out --mix 1,1,1 lots",
      // too many optional arguments
      "corpus docs out 7 8", "corpus docs out 7 --eval ev 8",
      "corpus-media m out 4096 5", "corpus-paired p out 1 2",
      "paired-fixture docs out --quad", "paired-fixture docs out --tri --tri",
      "search idx q out 10 3 x", "dedup-ingest d s o c 0.5 x",
      "kmv-ingest p g t s 64 1", "winnow-ingest d s o 2 3",
      "df-ingest d s o 2 3", "export-zorder p o x y 4 16 9",
      "bpe-train d o 1 2", "stream-curate i o c 5m 6m",
      "stream-sessionize i o c 15 16", "stream-dedup i o c 1h 2h",
      "explain q sf x",
      // too few or too many positional arguments
      "etl src", "etl src wh x", "report wh", "compact", "compact wh x",
      "index emb", "stream-funnel in out ckpt", "profile p",
      "bucketize p t k", "stream-route in out ckpt x",
      // numbers and dates that do not parse
      "report wh 14/06/2025", "kmv-ingest p g t s many",
      "grid-ingest p v wide s", "export-shards d o big",
      "bucketize p t k eight", "search idx q out ten",
      "dedup-ingest d s o c high", "stream-sessionize i o c soon")
    assert(malformed.filter(parses).isEmpty)
  }

  test("an unknown verb maps to the usage error") {
    for (args <- forms("load src wh", "ETL src wh", "--help", "etl-daily src wh"))
      assert(!parses(args), args)
    assert(!parses(Nil))
  }

  test("--eval and --mix pop out of the tail wherever they sit") {
    assert(Main.popEval(List("7")) == ((None, List("7"))))
    assert(Main.popEval(List("--eval", "ev", "7")) ==
      ((Some("ev"), List("7"))))
    assert(Main.popEval(List("7", "--eval", "ev")) ==
      ((Some("ev"), List("7"))))
    // weights bind to the strata in order; a zero weight drops its stratum
    assert(Main.popMix(List("64", "--mix", "1,0,2.5", "4000")) ==
      ((Some((Map("image" -> 1.0, "video" -> 2.5), 4000L)), List("64"))))
    assert(Main.popMix(List("--mix", "0,1,1", "10", "64"),
        Seq("text", "image", "audio")) ==
      ((Some((Map("image" -> 1.0, "audio" -> 1.0), 10L)), List("64"))))
    assert(Main.popMix(List("64")) == ((None, List("64"))))
    intercept[IllegalArgumentException](Main.popEval(List("7", "--eval")))
    intercept[IllegalArgumentException](
      Main.popMix(List("--mix", "1,1,1")))
  }
}
