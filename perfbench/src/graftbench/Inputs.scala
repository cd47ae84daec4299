package graftbench

import graft.codec.SpanCodec
import graft.fixtures.{Fixtures, HtmlFixtures}
import graft.fixtures.Fixtures.Rng
import graft.model._

/** Seeded input generators. The same seed gives the same rows; the
  * program only ever sees the generated rows.
  */
object Inputs {

  // ---------------- pdf_extract ----------------

  /** Sizes of one pdf_extract input. */
  final case class PdfSpec(composite: Int, shortLine: Int, badBox: Int, nullSpans: Int,
      tailPermille: Int = 1, tailPages: Int = 60, mediaPct: Int = 20)

  final case class PdfCorpus(rows: IndexedSeq[DocRow], malformed: Set[String])

  /** Random lowercase words. The short-line documents draw from this
    * vocabulary, so their line texts almost never repeat and the LM's
    * per-thread LRU cannot absorb them. */
  def vocabulary(rng: Rng, n: Int): Vector[String] = {
    val letters = "aeiounrstlhdcgmbfkwzpv"
    Vector.fill(n) {
      val len = 4 + rng.nextInt(7)
      val b = new StringBuilder
      (0 until len).foreach(_ => b += letters.charAt(rng.nextInt(letters.length)))
      b.toString
    }
  }

  /** A document of short justified lines (3 to 5 words): the reflow rules
    * before the LM fallback do not decide these junctions, so each one
    * reaches `CharLm` through `Scorer.newlineOrNot`; each page's first
    * paragraph opens with a hyphenated break that reaches it through
    * `Scorer.mergeHyphenated`. */
  def shortLineDoc(docId: String, rng: Rng, vocab: Vector[String]): DocRow = {
    val nPages = 2 + rng.nextInt(2)
    val pages = (0 until nPages).map { p =>
      var t = 100.0
      val paras = (0 until 3).map { k =>
        val nLines = 4 + rng.nextInt(3)
        val lines = (0 until nLines).map(_ =>
          (0 until 3 + rng.nextInt(3)).map(_ => vocab(rng.nextInt(vocab.length))))
        val lines2 =
          if (k == 0) lines.updated(0, lines(0).init :+ (lines(0).last + "-"))
          else lines
        val e = Fixtures.paragraph(s"$docId-p$p-e$k", lines2, "font1", t0 = t)
        t += nLines * 15.0 + 10.0
        e
      }
      val footer = Fixtures.paragraph(s"$docId-p$p-ftr",
        Seq(Seq("Seite", s"${p + 1}", "von", s"$nPages")),
        "font3", t0 = 800.0, w = 120.0, h = 10.0, isFooter = true)
      Page((paras :+ footer).toVector)
    }.toVector
    DocRow(docId, SpanCodec.encode(DocTree(Fixtures.fonts, pages)))
  }

  /** Replaces the first line's box with one that does not parse. */
  private def withBadBox(row: DocRow): DocRow = {
    val i = row.spans.indexWhere(_.kind == "line")
    DocRow(row.doc_id, row.spans.updated(i, row.spans(i).copy(text = "box=50.0,x,500.0,12.0")))
  }

  def pdfVocabulary(seed: Long): Vector[String] = vocabulary(new Rng(seed * 7919L + 1), 20000)

  /** Row `i` of the pdf_extract input: composite docs first, then the
    * short-line docs, the bad-box rows and the null-spans rows. Rows are
    * generated independently, so set-up can generate them in parallel. */
  def pdfRow(seed: Long, spec: PdfSpec, vocab: Vector[String], i: Int): DocRow = {
    val s = i - spec.composite
    val b = s - spec.shortLine
    val n = b - spec.badBox
    if (s < 0) {
      val rng = new Rng(seed * 1000003L + i)
      val pages = if (i % 1000 < spec.tailPermille) spec.tailPages else 1 + rng.nextInt(3)
      Fixtures.compositeDoc(f"c$seed-$i%07d", pages, rng,
        withMedia = rng.nextInt(100) < spec.mediaPct)
    } else if (b < 0) shortLineDoc(f"s$seed-$s%07d", new Rng(seed * 1000033L + s), vocab)
    else if (n < 0) withBadBox(Fixtures.compositeDoc(f"b$seed-$b%04d", 1, new Rng(seed + 77L * b)))
    else DocRow(f"n$seed-$n%04d", null)
  }

  def pdfSize(spec: PdfSpec): Int = spec.composite + spec.shortLine + spec.badBox + spec.nullSpans

  def pdfMalformed(seed: Long, spec: PdfSpec): Set[String] =
    ((0 until spec.badBox).map(b => f"b$seed-$b%04d") ++
      (0 until spec.nullSpans).map(n => f"n$seed-$n%04d")).toSet

  def pdf(seed: Long, spec: PdfSpec): PdfCorpus = {
    val vocab = pdfVocabulary(seed)
    PdfCorpus((0 until pdfSize(spec)).map(pdfRow(seed, spec, vocab, _)), pdfMalformed(seed, spec))
  }

  // ---------------- crawl probe ----------------

  final case class WebSpec(hosts: Int, depth: Int, fanout: Int)

  final case class Web(pages: Seq[(String, String)], robots: Seq[(String, String)],
      seeds: Seq[String], expectedDocs: Set[String])

  /** `HtmlFixtures.site` per host plus its robots.txt. Every page but the
    * robots-closed /geheim subtree and the noindex /hop1/0 lands. */
  def web(seed: Long, spec: WebSpec): Web = {
    val hosts = (0 until spec.hosts).map(k => s"h$k-s$seed.bench.example")
    val sites = hosts.zipWithIndex.map { case (h, k) =>
      h -> HtmlFixtures.site(spec.depth, spec.fanout, host = h, seed = seed * 131L + k)
    }
    val pages = sites.flatMap(_._2)
    val expected = sites.flatMap { case (h, s) =>
      s.map(_._1).filterNot(u =>
        u == s"https://$h/geheim/0" || u == s"https://$h/hop1/0")
    }.toSet
    Web(pages, hosts.map(h => HtmlFixtures.siteRobots(h)), hosts.map(h => s"https://$h/start"),
      expected)
  }

  // ---------------- near_dup ----------------

  final case class TextSpec(docs: Int, plantedPairs: Int, hotPct: Int,
      minWords: Int = 50, maxWords: Int = 90)

  final case class TextCorpus(rows: IndexedSeq[(Long, String)], planted: Set[(Long, Long)])

  val HotGram = "alle rechte vorbehalten"

  /** Random texts over a seeded vocabulary. Each planted pair is a copy of
    * an earlier doc with one word replaced; one boilerplate gram is
    * appended to `hotPct` percent of the docs. */
  def text(seed: Long, spec: TextSpec): TextCorpus = {
    val rng = new Rng(seed * 65537L + 3)
    val vocab = vocabulary(new Rng(seed * 7919L + 5), 5000)
    val base = Array.tabulate(spec.docs) { _ =>
      val n = spec.minWords + rng.nextInt(spec.maxWords - spec.minWords + 1)
      Array.fill(n)(vocab(rng.nextInt(vocab.length)))
    }
    // the copy sits at a random later position; ids are positions
    val planted = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    val used = scala.collection.mutable.HashSet.empty[Int]
    while (planted.size < spec.plantedPairs) {
      val a = rng.nextInt(spec.docs)
      val b = rng.nextInt(spec.docs)
      if (a < b && !used(a) && !used(b)) {
        used += a; used += b
        val copy = base(a).clone()
        copy(rng.nextInt(copy.length)) = vocab(rng.nextInt(vocab.length))
        base(b) = copy
        planted += ((a.toLong, b.toLong))
      }
    }
    val rows = base.indices.map { i =>
      val hot = !used(i) && rng.nextInt(100) < spec.hotPct
      (i.toLong, (if (hot) base(i) :+ HotGram else base(i)).mkString(" "))
    }
    TextCorpus(rows, planted.toSet)
  }

  /** SHA-256 over the rows' string forms: the input digest. */
  def digest(rows: Iterator[Any]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(String.valueOf(r).getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
