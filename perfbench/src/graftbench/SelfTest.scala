package graftbench

import graft.extract.Extractor
import graft.reflow.ExtractConfig

/** The benchmark's own tests. Run: python3 perfbench/run.py --selftest */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Throwable => System.err.println(e); false }
    if (!r) failures += 1
    println(s"${if (r) "ok  " else "FAIL"} $name")
  }

  private def pdfDigest(seed: Long): String = {
    val c = Inputs.pdf(seed, Inputs.PdfSpec(composite = 200, shortLine = 100, badBox = 2, nullSpans = 2))
    Inputs.digest(c.rows.iterator ++ c.malformed.toSeq.sorted.iterator)
  }
  private def webDigest(seed: Long): String = {
    val w = Inputs.web(seed, Inputs.WebSpec(hosts = 2, depth = 2, fanout = 3))
    Inputs.digest(w.pages.iterator ++ w.robots.iterator ++ w.seeds.iterator)
  }
  private def textDigest(seed: Long): String = {
    val t = Inputs.text(seed, Inputs.TextSpec(docs = 300, plantedPairs = 10, hotPct = 3))
    Inputs.digest(t.rows.iterator ++ t.planted.toSeq.sorted.iterator)
  }

  def main(args: Array[String]): Unit = {
    Seq("pdf_extract" -> pdfDigest _, "crawl probe" -> webDigest _,
      "near_dup" -> textDigest _).foreach { case (w, d) =>
      test(s"$w: the same seed gives the same input digest")(d(7) == d(7))
      test(s"$w: another seed gives another input digest")(d(7) != d(8))
    }

    val cfg = ExtractConfig()
    val rows = KernelLayers.sample(3)
    val irows = KernelLayers.internalRows(rows)
    test("timed kernel layers compose to Extractor.extractRow's output on the sample") {
      val clock = new KernelLayers.Clock
      val bad = rows.indices.count(i =>
        KernelLayers.layered(irows(i), cfg, clock) != Extractor.extractRow(rows(i), cfg))
      if (bad > 0) System.err.println(s"$bad of ${rows.length} docs differ")
      bad == 0 && clock.ns.forall(_ > 0)
    }
    test("the composed kernel equals Extractor.extractRow on the sample") {
      rows.indices.forall(i => KernelLayers.kernel(irows(i), cfg) == Extractor.extractRow(rows(i), cfg))
    }

    test("the short-line share reaches CharLm on a warm pass") {
      irows.foreach(KernelLayers.kernel(_, cfg))
      val before = graft.lm.Scorer.lmCallCount
      irows.foreach(KernelLayers.kernel(_, cfg))
      graft.lm.Scorer.lmCallCount - before > 0
    }

    test("per task thread, the short-line share holds more distinct LM texts than Scorer's LRU") {
      Seq(1L, 12L).forall { seed =>
        // the job's own short-line docs for the seed; a fresh thread starts
        // with an empty LRU, and the texts do not repeat, so each distinct
        // text is one call
        val short = KernelLayers.internalRows(Inputs.pdf(seed,
          PdfExtract.Spec.copy(composite = 0, badBox = 0, nullSpans = 0)).rows)
        var calls = 0L
        val t = new Thread(() => {
          val c0 = graft.lm.Scorer.threadLmCallCount
          short.foreach(KernelLayers.kernel(_, cfg))
          calls = graft.lm.Scorer.threadLmCallCount - c0
        })
        t.start(); t.join()
        val perThread = calls.toDouble / PdfExtract.TaskThreads
        println(f"     seed $seed: ${calls.toDouble / short.length}%.1f distinct LM texts per " +
          f"short-line doc, $perThread%.0f per task thread")
        perThread > PdfExtract.LruEntries
      }
    }

    test("every metric has a well-formed, unique name and a unit") {
      val all = Main.EndToEnd ++ Main.PerLayer
      all.map(_._1).distinct.length == all.length && all.forall { case (n, u) =>
        n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}") && u.matches("[A-Za-z0-9_/%.-]{1,16}")
      }
    }

    test("a result line carries every metric with its unit") {
      val values = Main.EndToEnd.map(_._1 -> 1.5).toMap
      val line = Main.resultJson(correct = true, Check(3, 0, Nil), Main.EndToEnd, values)
      Main.EndToEnd.forall { case (n, u) =>
        line.contains(s""""$n": {"value": 1.5, "unit": "$u"}""")
      } && scala.util.Try(Main.resultJson(correct = true, Check(3, 0, Nil), Main.EndToEnd,
        values - "setup_s")).isFailure
    }

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
