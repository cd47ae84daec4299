package graftbench

import graft.pipeline.CrawlLoop
import graft.pipeline.CrawlLoop.{CrawlConfig, CycleMetric}
import org.apache.spark.sql.DataFrame

/** The crawl layer, timed in near_dup's traced run (the crawl lands the
  * documents the dedup stage reads): CrawlLoop.run to exhaustion over a
  * multi-host fixture web, once cold and once warm, plus a crawl whose
  * frontier holds only a robots-closed url. A crawl pass costs several
  * seconds per cycle whatever it fetches, too much to repeat as a
  * workload of its own within the benchmark's time budget.
  */
object CrawlProbe {
  val Spec = Inputs.WebSpec(hosts = 2, depth = 1, fanout = 40)

  def run(ctx: Ctx): (Map[String, Double], Check) = {
    val spark = ctx.spark
    import spark.implicits._
    val web = Inputs.web(ctx.seed, Spec)
    val dir = ctx.path("web")
    web.pages.toDF("url", "html").write.parquet(s"$dir/pages")
    web.seeds.toDF("url").write.parquet(s"$dir/seeds")
    web.robots.toDF("host", "robots_txt").write.parquet(s"$dir/robots")
    val pages = spark.read.parquet(s"$dir/pages")
    val seeds = spark.read.parquet(s"$dir/seeds")
    val robots = spark.read.parquet(s"$dir/robots")
    val inputs = Seq(pages, seeds, robots)

    def crawl(name: String, frontier: DataFrame): (Double, EngineStats, CrawlConfig) = {
      Guard.reset(spark, inputs)
      val cfg = CrawlConfig(outDir = ctx.path(name), cycles = 32, runId = "bench")
      val ((_, engine), s) = Stats.time(ctx.tracer.pass("crawl")(
        ctx.call("CrawlLoop.run")(CrawlLoop.run(spark, pages, frontier, robots, cfg))))
      (s, engine, cfg)
    }
    ctx.tracer.on = true
    val (coldS, _, _) = crawl("crawl-cold", seeds)
    val (warmS, engine, cfg) = crawl("crawl-warm", seeds)
    ctx.tracer.on = false
    val ms = spark.read.parquet(s"${cfg.outDir}/metrics").as[CycleMetric].collect()

    // a frontier holding only a robots-closed url: one cycle that fetches
    // nothing and reports exhaustion
    val closed = web.seeds.map(_.replace("/start", "/geheim/0")).toDF("url")
    val emptyS = Stats.median((0 until 3).map(i => crawl(s"crawl-empty-$i", closed)._1))

    val urls = CrawlLoop.readDocs(spark, cfg).select("url").collect().map(_.getString(0))
    val dups = urls.length - urls.distinct.length
    val missing = (web.expectedDocs -- urls).size
    val extra = (urls.toSet -- web.expectedDocs).size
    val check = Check(web.expectedDocs.size, missing + extra + dups,
      Seq(s"crawl probe: ${urls.length} docs landed, ${web.expectedDocs.size} expected, " +
        s"$missing missing, $extra unexpected, $dups duplicates"))
    (Map("crawl.cold_pass_s" -> coldS, "crawl.pass_s" -> warmS,
      "crawl.cycles" -> ms.length.toDouble,
      "crawl.cycle_s" -> warmS / ms.length,
      "crawl.docs_landed" -> ms.map(_.docs_kept).sum.toDouble,
      "crawl.jobs_per_cycle" -> engine.jobs.toDouble / ms.length,
      "crawl.cycle_max_s" -> ms.map(_.wall_ms).max / 1000.0,
      "crawl.empty_cycle_s" -> emptyS), check)
  }
}
