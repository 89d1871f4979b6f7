package graft.perfbench

import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row

/** Seeded generators for the four workloads. Each takes its sizes from
  * the workload's parameters (`perfbench/workloads.json`) and draws
  * every choice from one `SplittableRandom(seed)`, so a seed fixes the
  * inputs. Each also returns what it planted, which the output checks
  * compare the program's results against. */
object Gen {

  /** Word list in the shape of the engine's `documents` test table:
    * short engine words plus the stopwords the quality gate counts. */
  val Vocab: Array[String] = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "join", "customer", "plan", "shuffle", "stage",
    "task", "cache", "index", "page", "file", "disk", "node", "lake",
    "graph", "model", "token", "the", "a", "of", "and", "is", "to", "in")

  def words(r: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(Vocab(r.nextInt(Vocab.length)))

  def paragraph(r: SplittableRandom, lo: Int, hi: Int): String =
    words(r, lo + r.nextInt(hi - lo + 1)).mkString(" ")

  /** Replace `edits` random words of `text` (a near-duplicate). */
  def nearCopy(r: SplittableRandom, text: String, edits: Int): String = {
    val ws = text.split(" ")
    (0 until edits).foreach { _ =>
      val i = r.nextInt(ws.length)
      ws(i) = if (ws(i) == "edited") "variant" else "edited"
    }
    ws.mkString(" ")
  }

  def writeText(p: Path, s: String): Long = {
    Files.write(p, s.getBytes(UTF_8))
    Files.size(p)
  }

  // ------------------------------------------------------------ etl_daily

  /** One day's reference-shaped source drop (FIXTURES.md §A1-A4, CSV
    * layout) and what the sink and report must do with it. */
  final case class Drop(day: Int, dir: Path, cut: LocalDate, factRows: Int,
      bytes: Long, expected: Map[String, (Long, Long)], report: String)

  /** Daily drops that re-send earlier fact rows (changed, so an update
    * would show) next to new ones, with junk dates, junk client and
    * transaction keys and orphan `id_tipo_trx` values planted. Every
    * drop is a batch the sink accepts: fact PKs are unique within a
    * drop and every sede exists. The generator replays the sink's
    * insert-if-absent rule on its own ledger to predict each day's
    * (inserted, ignored) counts and the report text. */
  final class EtlDays(seed: Long, p: Params) {
    private val r = new SplittableRandom(seed)
    private val start = LocalDate.parse("2025-06-01")
    private val nSedes = p.int("sedes")
    private val nTipos = p.int("tipos")
    private val nDist = p.int("distributors")
    private val ts = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

    private final case class Client(id: Int, afil: String, first: String,
        dist: Option[Int], dupDist: Option[Int], cat: String, rec: Int)
    private final case class Fact(idTrx: Option[Int], client: Option[Int],
        at: Option[LocalDateTime], tipo: Int, monto: JBigDecimal, sede: Int)

    private val clients = mutable.ArrayBuffer.empty[Client]
    private val history = mutable.ArrayBuffer.empty[Fact]
    private val ledger = mutable.HashMap.empty[Int, Fact]
    private val nullKeyRows = mutable.ArrayBuffer.empty[Fact]
    private val loaded = mutable.HashMap.empty[String, mutable.Set[Int]]
    private var nextTrx = 1

    private def newClients(n: Int): Unit = (0 until n).foreach { _ =>
      val id = clients.size + 1
      val dist = if (r.nextDouble() < 0.7) Some(1 + r.nextInt(nDist)) else None
      clients += Client(id,
        if (r.nextDouble() < 0.05) "sin fecha"
        else start.minusDays(30 + r.nextInt(900)).toString,
        start.minusDays(r.nextInt(30)).toString,
        dist,
        dist.filter(_ => r.nextDouble() < 0.05).map(d => d % nDist + 1),
        Seq("bodega", "minimarket", "farmacia", "ferreteria")(r.nextInt(4)),
        r.nextInt(50))
    }

    private def money(lo: Int, hi: Int): JBigDecimal =
      JBigDecimal.valueOf(lo * 100L + r.nextInt((hi - lo) * 100), 2)

    private def distName(d: Int) = s"Distribuidora $d"

    /** Write day `day`'s drop under `dir` and advance the ledger. Days
      * must be generated in order, starting at 0. */
    def next(day: Int, dir: Path): Drop = {
      Files.createDirectories(dir)
      val date = start.plusDays(day.toLong)
      newClients(if (day == 0) p.int("initial_clients")
        else p.int("new_clients_per_day"))
      val orphan = 100 + day / p.int("orphan_tipo_every_days")

      val fresh = (0 until p.int("new_trx_per_day")).map { _ =>
        val at = if (r.nextDouble() < p.double("intraday_share"))
          date.atTime(r.nextInt(24), r.nextInt(60))
          else date.atStartOfDay()
        val f = Fact(Some(nextTrx), Some(1 + r.nextInt(clients.size)),
          Some(at),
          if (r.nextDouble() < p.double("orphan_tipo_share")) orphan
          else 1 + r.nextInt(nTipos),
          money(1, 5000), 1 + r.nextInt(nSedes))
        nextTrx += 1
        f
      }
      val resent = if (history.isEmpty) Seq.empty[Fact] else {
        val picks = mutable.LinkedHashSet.empty[Int]
        val want = math.min(p.int("resent_per_day"), history.size)
        while (picks.size < want) picks += r.nextInt(history.size)
        picks.toSeq.map(i => history(i).copy(
          monto = history(i).monto.add(JBigDecimal.ONE)))
      }
      history ++= fresh
      // junk: unparseable dates and client keys load as NULL; a junk
      // transaction key is a NULL PK, which the sink always inserts
      val junkDate = (0 until p.int("junk_dates_per_day")).map { _ =>
        val f = Fact(Some(nextTrx), Some(1 + r.nextInt(clients.size)), None,
          1 + r.nextInt(nTipos), money(1, 500), 1 + r.nextInt(nSedes))
        nextTrx += 1
        f
      }
      val junkClient = (0 until p.int("junk_clients_per_day")).map { _ =>
        val f = Fact(Some(nextTrx), None, Some(date.atStartOfDay()),
          1 + r.nextInt(nTipos), money(1, 500), 1 + r.nextInt(nSedes))
        nextTrx += 1
        f
      }
      val junkKey = (0 until p.int("junk_trx_keys_per_day")).map { _ =>
        Fact(None, Some(1 + r.nextInt(clients.size)),
          Some(date.atStartOfDay()), 1 + r.nextInt(nTipos), money(1, 500),
          1 + r.nextInt(nSedes))
      }
      val rows = shuffle(fresh ++ resent ++ junkDate ++ junkClient ++ junkKey)

      var bytes = 0L
      val trx = new StringBuilder("IDCLIENTE,FECHA,IDTIPOTRX,IDTRX,MONTO,FEE,IDSEDE\n")
      rows.foreach { f =>
        trx ++= f.client.fold("N/A")(_.toString) += ','
        trx ++= f.at.fold("no registrada")(_.format(ts)) += ','
        trx ++= f.tipo.toString += ','
        trx ++= f.idTrx.fold("??")(_.toString) += ','
        trx ++= f.monto.toPlainString += ','
        trx ++= f.monto.movePointLeft(2).setScale(2, java.math.RoundingMode.DOWN)
          .toPlainString += ','
        trx ++= f.sede.toString += '\n'
      }
      bytes += writeText(dir.resolve("transacciones.csv"), trx.result())

      val cli = new StringBuilder("IDCLIENTE,fechaafiliacion,fechaprimertrx\n")
      clients.foreach(c => cli ++= s"${c.id},${c.afil},${c.first}\n")
      bytes += writeText(dir.resolve("clientes.csv"), cli.result())

      val varios = new StringBuilder("ID,NOMBRE SEDE\n")
      (1 to nSedes).foreach(s => varios ++= s"$s,Sede $s\n")
      varios ++= ",sin codigo\nS-9,codigo invalido\n"
      varios ++= "ID,DESCRIPCION\n"
      (1 to nTipos).foreach(t => varios ++= s"$t,Tipo $t\n")
      varios ++= "T?,sin codigo\n"
      bytes += writeText(dir.resolve("varios.csv"), varios.result())

      val withDist = clients.filter(_.dist.isDefined)
      val recs = withDist.map(c => (c, c.dist.get)) ++
        withDist.flatMap(c => c.dupDist.map(d => (c, d)))
      bytes += writeText(dir.resolve("recomendados.json"),
        recs.map { case (c, d) =>
          s"""{"IDCLIENTE": ${c.id}, "IDDISTRIBUIDOR": $d, """ +
            s""""NOMBRE DISTRIBUIDOR": "${distName(d)}", """ +
            s""""TELEFONO": ${51900000000L + c.id}, "categoría": "${c.cat}", """ +
            s""""recomendados": ${c.rec}}"""
        }.mkString("[\n", ",\n", "\n]\n"))

      // replay insert-if-absent on the ledger, table by table
      def load(table: String, keys: Iterable[Int]): (Long, Long) = {
        val have = loaded.getOrElseUpdate(table, mutable.Set.empty[Int])
        val ks = keys.toSet
        val ins = ks.count(k => !have.contains(k))
        have ++= ks
        (ins.toLong, (ks.size - ins).toLong)
      }
      val tipos = (1 to nTipos).toSet ++ rows.map(_.tipo)
      val expected = Map(
        "dim_sedes" -> load("dim_sedes", 1 to nSedes),
        "dim_tipo_transaccion" -> load("dim_tipo_transaccion", tipos),
        "dim_distribuidores" -> load("dim_distribuidores", recs.map(_._2)),
        "dim_clientes" -> load("dim_clientes", clients.map(_.id)),
        "fct_transacciones" -> {
          var ins = 0L
          var ign = 0L
          rows.foreach {
            case f @ Fact(None, _, _, _, _, _) => nullKeyRows += f; ins += 1
            case f @ Fact(Some(id), _, _, _, _, _) =>
              if (ledger.contains(id)) ign += 1
              else { ledger(id) = f; ins += 1 }
          }
          (ins, ign)
        })
      Drop(day, dir, date, rows.size, bytes, expected, reportFor(date))
    }

    /** The report `runReport` must print for `cut`, computed on the
      * ledger with the report's own rules: month-to-date and daily sums
      * compare the raw timestamp against the cut date's midnight; the
      * distributor split takes every row of the cut day. */
    private def reportFor(cut: LocalDate): String = {
      val facts = ledger.valuesIterator.toSeq ++ nullKeyRows
      val monthStart = cut.withDayOfMonth(1).atStartOfDay()
      val cutStart = cut.atStartOfDay()
      val inMonth = facts.filter(_.at.exists(t =>
        !t.isBefore(monthStart) && !t.isAfter(cutStart)))
      def total(fs: Iterable[Fact]) =
        fs.foldLeft(JBigDecimal.ZERO.setScale(2))(_ add _.monto)
      val daily = total(inMonth.filter(_.at.exists(_.toLocalDate == cut)))
      val byClient = clients.map(c => c.id -> c.dist).toMap
      val perDist = facts.filter(_.at.exists(_.toLocalDate == cut))
        .groupBy(f => f.client.flatMap(byClient).map(distName)
          .getOrElse("Venta Directa"))
        .map { case (name, fs) => (name, total(fs)) }.toSeq
        .sortWith { case ((n1, t1), (n2, t2)) =>
          val c = t1.compareTo(t2)
          c > 0 || (c == 0 && n1 < n2)
        }
      graft.etl.Report.formatMessage(Row(daily, total(inMonth)),
        perDist.map { case (n, t) => Row(n, t) }, cut)
    }

    /** Every fact PK the sink should hold, and the NULL-PK row count. */
    def factKeys: (Set[Int], Int) = (ledger.keySet.toSet, nullKeyRows.size)

    private def shuffle[T: scala.reflect.ClassTag](xs: Seq[T]): Seq[T] = {
      val a = xs.toArray
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }
  }

  // -------------------------------------------------------- corpus_curate

  final case class Corpus(docs: Seq[(Long, String)], eval: Seq[(Long, String)],
      distinctTexts: Long, planted: Seq[String], evalCopied: Set[Long])

  /** A document corpus in the `documents` table's shape with exact
    * copies, near-duplicate edits, shared boilerplate paragraphs,
    * short and repetitive documents, planted e-mails, digit runs, URLs
    * and IPs, and an eval set that copies some documents verbatim. */
  def corpus(seed: Long, p: Params): Corpus = {
    val r = new SplittableRandom(seed)
    val n = p.int("docs")
    val boiler = Seq.fill(p.int("boilerplate_paragraphs"))(paragraph(r, 12, 20))
    val planted = mutable.ArrayBuffer.empty[String]
    val plain = mutable.ArrayBuffer.empty[Int]
    val texts = new Array[String](n)
    (0 until n).foreach { i =>
      val u = r.nextDouble()
      val cut1 = p.double("exact_dup_share")
      val cut2 = cut1 + p.double("near_dup_share")
      val cut3 = cut2 + p.double("short_share")
      val cut4 = cut3 + p.double("repetitive_share")
      val cut5 = cut4 + p.double("boilerplate_only_share")
      texts(i) =
        if (i > 0 && u < cut1) texts(r.nextInt(i))
        else if (i > 0 && u < cut2) nearCopy(r, texts(r.nextInt(i)), 2)
        else if (u < cut3) paragraph(r, 4, 10)
        else if (u < cut4) {
          val phrase = words(r, 3).mkString(" ")
          Seq.fill(15)(phrase).mkString(" ")
        }
        else if (u < cut5) boiler(r.nextInt(boiler.size))
        else {
          val paras = mutable.ArrayBuffer.fill(1 + r.nextInt(3))(paragraph(r, 15, 35))
          var marked = false
          if (r.nextDouble() < p.double("pii_share")) {
            val email = s"user${r.nextInt(100000)}@mail${r.nextInt(100)}.example.com"
            val digits = s"555${1000000 + r.nextInt(9000000)}"
            planted += email += digits
            paras(0) = s"${paras(0)} contact $email or $digits"
            marked = true
          }
          if (r.nextDouble() < p.double("url_share")) {
            val url = s"https://host${r.nextInt(1000)}.example.org/p/${r.nextInt(1000)}"
            val ip = s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
            planted += url += ip
            paras(paras.size - 1) = s"${paras.last} see $url via $ip"
            marked = true
          }
          if (r.nextDouble() < p.double("boilerplate_share")) {
            paras += boiler(r.nextInt(boiler.size))
            marked = true
          }
          if (!marked) plain += i
          paras.mkString("\n\n")
        }
    }
    // eval: verbatim copies of plain documents no other document
    // derives from (the known overlap), plus unrelated documents
    val derived = texts.groupBy(identity).collect { case (t, xs) if xs.length > 1 => t }.toSet
    val pool = plain.filterNot(i => derived.contains(texts(i)))
    val copied = mutable.LinkedHashSet.empty[Int]
    val want = math.min(p.int("eval_copies"), pool.size)
    while (copied.size < want) copied += pool(r.nextInt(pool.size))
    val evalTexts = copied.toSeq.map(texts(_)) ++
      Seq.fill(p.int("eval_unrelated"))(paragraph(r, 30, 60))
    Corpus(texts.indices.map(i => (i.toLong, texts(i))),
      evalTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      texts.distinct.length.toLong, planted.toSeq, copied.map(_.toLong).toSet)
  }

  // --------------------------------------------------------- dedup_ingest

  /** Id-ordered batches of documents in which a share of each batch
    * near-copies a document of an earlier batch (mostly the one just
    * before, so pairs straddle batch boundaries) or an earlier document
    * of the same batch. Batches must be drawn in order, starting at 0;
    * [[planted]] holds every (source, copy) pair drawn so far. */
  final class DocBatches(seed: Long, p: Params) {
    private val r = new SplittableRandom(seed)
    private val size = p.int("batch_docs")
    private val texts = mutable.ArrayBuffer.empty[String]
    private val pairs = mutable.ArrayBuffer.empty[(Long, Long)]

    def planted: Seq[(Long, Long)] = pairs.toSeq

    def next(b: Int): Seq[(Long, String)] = {
      require(texts.size == b * size, s"batch $b drawn out of order")
      (0 until size).map { j =>
        val id = b * size + j
        val text =
          if (id > 0 && r.nextDouble() < p.double("batch_near_dup_share")) {
            val src =
              if (b > 0 && r.nextDouble() < p.double("cross_batch_share"))
                (b - 1) * size + r.nextInt(size)
              else if (j > 0) b * size + r.nextInt(j)
              else r.nextInt(id)
            pairs += ((src.toLong, id.toLong))
            nearCopy(r, texts(src), 1 + r.nextInt(2))
          } else paragraph(r, 30, 70)
        texts += text
        (id.toLong, text)
      }
    }
  }

  // ----------------------------------------------------------- ann_search

  /** Clustered embeddings (Gaussian blobs around random centres) and,
    * drawn on demand, query vectors that perturb randomly chosen
    * indexed vectors; [[queries]] holds every query drawn so far. */
  final class Vectors(seed: Long, p: Params) {
    private val r = new SplittableRandom(seed)
    private val dim = p.int("dim")
    private def gauss(): Double = {
      // Box-Muller: SplittableRandom has no nextGaussian on JDK 17
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    private val centres = Array.fill(p.int("clusters"), dim)(gauss())
    private val spread = p.double("cluster_spread")
    val index: Array[Array[Float]] = Array.fill(p.int("vectors")) {
      val c = centres(r.nextInt(centres.length))
      Array.tabulate(dim)(d => (c(d) + spread * gauss()).toFloat)
    }
    private val noise = p.double("query_noise")
    val queries = mutable.ArrayBuffer.empty[Array[Float]]

    /** Draw `n` more queries; returns their indices into [[queries]]. */
    def nextQueries(n: Int): Range = {
      val from = queries.size
      queries ++= Seq.fill(n) {
        val v = index(r.nextInt(index.length))
        Array.tabulate(dim)(d => (v(d) + noise * gauss()).toFloat)
      }
      from until queries.size
    }
  }
}
