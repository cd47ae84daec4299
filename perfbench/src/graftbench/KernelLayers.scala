package graftbench

import graft.assemble.{DocumentOutput, OutElement}
import graft.classify.Classify
import graft.extract.Extractor
import graft.job.FastScan
import graft.model._
import graft.reflow.ExtractConfig
import graft.stats.DocInfo
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** The per-document kernel timed layer by layer, on one thread, on a
  * seeded sample: decode, corpus-of-one stats, classification, line
  * merge, reassembly. `layered` calls each layer's public function in the
  * order `Extractor.extractTree` does, so its output must equal
  * `Extractor.extractRow`'s; `kernel` is the composed path the job runs.
  */
object KernelLayers {
  val Layers: Seq[String] = Seq("codec.decode_us", "stats.docinfo_us", "classify.us",
    "reflow.paragraph_us", "assemble.us")

  /** Nanoseconds per layer, added to by `layered`. */
  final class Clock {
    val ns = new Array[Long](Layers.length)
    def apply[T](layer: Int)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally ns(layer) += System.nanoTime() - t0
    }
  }

  /** Spans rows in the job's Tungsten form: the array the scan hands to
    * `FastScan.decodeSpans`. */
  def internalRows(rows: Seq[DocRow]): IndexedSeq[InternalRow] = {
    val ser = ExpressionEncoder[DocRow]().createSerializer()
    rows.map(r => ser(r).copy()).toIndexedSeq
  }

  /** What the job does per row: decode, extract, emit. */
  def kernel(row: InternalRow, cfg: ExtractConfig): ExtractedDoc = {
    val tree = FastScan.decodeSpans(row.getArray(1), cfg.fast)
    val out = Extractor.extractTree(tree, cfg)
    ExtractedDoc(row.getUTF8String(0).toString, Extractor.emitSpans(out), out.text())
  }

  /** `kernel`, with each layer's public calls timed on `clock`. Follows
    * Extractor.extractTree step by step. */
  def layered(row: InternalRow, cfg: ExtractConfig, clock: Clock): ExtractedDoc = {
    val doc0 = clock(0)(FastScan.decodeSpans(row.getArray(1), cfg.fast))
    val info = clock(1)(new DocInfo(doc0))
    val doc = clock(2)(Classify.fixHeadersFooters(doc0, info))
    var cleanedHeader: List[OutElement] = Nil
    var cleanedFooter: List[OutElement] = Nil
    var newFootnotes: List[OutElement] = Nil
    if (cfg.seperateHeaderFooter) {
      var headers: Vector[Seq[Elem]] = doc.pages.map(_.elements.filter(_.isHeader))
      var footers: Vector[Seq[Elem]] = doc.pages.map(_.elements.filter(_.isFooter))
      if (cfg.removeDuplicateHeaderFooter) clock(2) {
        headers = Classify.removeDuplicates(headers, cfg.lang)
        footers = Classify.removeDuplicates(footers, cfg.lang)
      }
      val h = List.newBuilder[OutElement]
      val f = List.newBuilder[OutElement]
      val fn = List.newBuilder[OutElement]
      clock(3) {
        headers.zip(footers).zipWithIndex.foreach { case ((hs, fs), idxPage) =>
          hs.foreach(e => Extractor.linesToParagraph(info, cfg, e, idxPage, testFootnote = false)
            .foreach(h += _))
          fs.foreach(e => Extractor.linesToParagraph(info, cfg, e, idxPage, testFootnote = true)
            .foreach(p => if (p.typ == "footnotes") fn += p else f += p))
        }
      }
      cleanedHeader = h.result(); cleanedFooter = f.result(); newFootnotes = fn.result()
    }
    val data = List.newBuilder[OutElement]
    clock(3) {
      doc.pages.zipWithIndex.foreach { case (page, idxPage) =>
        page.elements.foreach { e =>
          val skipH = (cfg.seperateHeaderFooter || cfg.removeHeader) && e.isHeader
          val skipF = (cfg.seperateHeaderFooter || cfg.removeFooter) && e.isFooter
          if (!skipH && !skipF) e.typ match {
            case "heading" => data += Extractor.exportHeading(e)
            case "paragraph" =>
              Extractor.linesToParagraph(info, cfg, e, idxPage, testFootnote = true).foreach(data += _)
            case "image" | "drawing" =>
              if (cfg.keepMedia && !cfg.fast)
                data += new OutElement(e.typ, Nil, e.id, idxPage, mediaRef = e.mediaRef)
            case "table" =>
              if (cfg.keepMedia)
                data += new OutElement("table", Nil, e.id, idxPage, mediaRef = e.mediaRef,
                  payload = e.payload)
            case _ =>
          }
        }
        if (cfg.seperateHeaderFooter) data ++= newFootnotes.filter(_.idxPage == idxPage)
      }
    }
    if (cfg.removePageNumber) clock(2) {
      cleanedHeader = Classify.removePageNumberElements(cleanedHeader, cfg.pageNumberTypeBugCompat)
      cleanedFooter = Classify.removePageNumberElements(cleanedFooter, cfg.pageNumberTypeBugCompat)
    }
    clock(4) {
      val out = new DocumentOutput(data.result(), cleanedHeader, cleanedFooter, info.orderPage,
        cfg.lang)
      if (cfg.footnotesLast) out.reorderFootnotes()
      if (cfg.footnotesLast && cfg.removeHyphens) out.reversePageBreak()
      ExtractedDoc(row.getUTF8String(0).toString, Extractor.emitSpans(out), out.text())
    }
  }

  /** A third of the pdf_extract input, in its mix of composite and
    * short-line docs, without the long-doc tail and the malformed rows.
    * Like each of the job's task threads, the one probing thread meets
    * more distinct LM texts than Scorer's 8192-entry LRU holds, so every
    * rep reaches CharLm as often as the job does per doc. */
  def sample(seed: Long): IndexedSeq[DocRow] =
    Inputs.pdf(seed, Inputs.PdfSpec(composite = PdfExtract.Spec.composite / 3,
      shortLine = PdfExtract.Spec.shortLine / 3, badBox = 0, nullSpans = 0,
      tailPermille = 0)).rows

  /** How far the layer sum may stray from the composed kernel, in percent:
    * the layered path makes about ten extra clock reads per document. */
  val TolerancePct = 15.0

  /** Fails when the timed layers do not account for the kernel. */
  def accounted(m: Map[String, Double]): Check = {
    val pct = m("extract.accounted_pct")
    val ok = math.abs(pct - 100) <= TolerancePct
    Check(1, if (ok) 0 else 1, Seq(f"kernel layers account for $pct%.1f %% of " +
      f"extract.kernel_us (tolerance ±$TolerancePct%.0f %%)${if (ok) "" else ": FAILED"}"))
  }

  /** Per-doc µs of each layer and of the composed kernel, the layers'
    * share of the kernel, µs per CharLm.score call, the share of the
    * kernel the LM calls take (each the median of five reps after four
    * warm-up ones), and µs per HTML page. */
  def probe(seed: Long): Map[String, Double] = {
    val cfg = ExtractConfig()
    val rows = sample(seed)
    val irows = internalRows(rows)
    val n = irows.length
    // CharLm.score is timed in the alternation below, on what
    // Scorer.newlineOrNot scores: each doc's lines and its joined pairs of
    // consecutive lines
    val lmTexts = rows.map { r =>
      val ls = SpanLines.texts(r).toIndexedSeq
      ls ++ ls.sliding(2).collect { case Seq(a, b) => a + " " + b }
    }
    // The composed kernel and the layered path alternate doc by doc on this
    // one thread, so both see the same core, host and JIT conditions (run
    // sweep after sweep, or on two threads, they drifted apart by up to
    // 40 % on a shared host). They take different halves of the sample
    // and then swap, so neither meets texts the other just put in
    // Scorer's LRU; a rep covers every doc once on each path.
    val halves = irows.indices.partition(_ % 2 == 0)
    final case class Rep(kernelUs: Double, layerUs: Array[Double], lmCallsPerDoc: Double,
        lmUs: Double)
    def rep(): Rep = {
      val c = new Clock
      var kernelNs = 0L
      var lmKernel = 0L
      var lmNs = 0L
      var lmScored = 0L
      for ((mine, theirs) <- Seq(halves, halves.swap);
           i <- 0 until mine.length.max(theirs.length)) {
        if (i < mine.length) {
          val l0 = graft.lm.Scorer.threadLmCallCount
          val t0 = System.nanoTime()
          kernel(irows(mine(i)), cfg)
          val t1 = System.nanoTime()
          lmKernel += graft.lm.Scorer.threadLmCallCount - l0
          lmTexts(mine(i)).foreach(graft.lm.CharLm.score(_, cfg.lang))
          lmNs += System.nanoTime() - t1
          lmScored += lmTexts(mine(i)).length
          kernelNs += t1 - t0
        }
        if (i < theirs.length) layered(irows(theirs(i)), cfg, c)
      }
      Rep(kernelNs / 1e3 / n, c.ns.map(_ / 1e3 / n), lmKernel.toDouble / n,
        lmNs / 1e3 / lmScored)
    }
    // a workload that never ran the kernel before (near_dup) reaches this
    // with it JIT-cold: four warm-up reps, then the median of five
    (0 until 4).foreach(_ => rep())
    val reps = (0 until 5).map(_ => rep())
    val layerUs = Layers.indices.map(k => Stats.median(reps.map(_.layerUs(k))))

    val pages = Inputs.web(seed, Inputs.WebSpec(hosts = 1, depth = 2, fanout = 10)).pages
    pages.foreach { case (u, h) => graft.html.HtmlExtract.extractRow(u, h) }
    val htmlUs = Stats.median((0 until 3).map(_ => Stats.seconds(
      pages.foreach { case (u, h) => graft.html.HtmlExtract.extractRow(u, h) }) * 1e6 / pages.length))

    Layers.zip(layerUs).toMap ++ Map(
      "extract.kernel_us" -> Stats.median(reps.map(_.kernelUs)),
      "extract.accounted_pct" -> Stats.median(reps.map(r => r.layerUs.sum / r.kernelUs)) * 100,
      "lm.score_us" -> Stats.median(reps.map(_.lmUs)),
      "lm.kernel_pct" -> Stats.median(reps.map(r => r.lmCallsPerDoc * r.lmUs / r.kernelUs)) * 100,
      "html.extract_us" -> htmlUs)
  }
}

/** Line texts of a span stream: the words of each line joined by spaces. */
object SpanLines {
  def texts(row: DocRow): Iterator[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    row.spans.foreach { s =>
      if (s.kind == "line") { if (cur.nonEmpty) out += cur.toString; cur.clear() }
      else if (s.kind == "word") { if (cur.nonEmpty) cur += ' '; cur ++= s.text }
    }
    if (cur.nonEmpty) out += cur.toString
    out.iterator
  }
}
