package graftbench

import graft.extract.Extractor
import graft.job.{ExtractJob, JobConfig}
import graft.model._
import graft.reflow.ExtractConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

object PdfExtract {
  /** Entries of Scorer's per-thread LRU, and the task threads at local[4]. */
  val LruEntries = 8192
  val TaskThreads = 4
  /** The short-line share is the fewest docs, rounded up to ten, whose
    * distinct CharLm texts exceed the LRU on each task thread for every
    * seed: a short-line doc yields 67.5 on average (its lines, each
    * junction's joined pair, each hyphen merge's two forms), 66.3 to 68.7
    * over the share of seeds 1 to 40, and 4 × 8192 / 66.3 = 494. The self
    * test checks the bound on two seeds. */
  val Spec = Inputs.PdfSpec(composite = 1500, shortLine = 500, badBox = 4, nullSpans = 4)
  val Chunks = 4
  /** Chunks whose metrics rows the simulated crash drops: the crash
    * between a chunk's commit and its metrics row. */
  val Dropped = Set(1, 3)
}

/** The paper's per-document kernel behind the job layer: ExtractJob.run in
  * its production shape (bucketed input, map-only, k chunks), then a
  * resume after the metrics rows of some chunks were lost.
  */
final class PdfExtract(seed: Long) extends Workload {
  import PdfExtract._
  private var cfg: JobConfig = _
  /** The input regenerated in the benchmark process for the output checks. */
  private lazy val corpus: Inputs.PdfCorpus = Inputs.pdf(seed, Spec)
  private lazy val expected: Map[String, ExtractedDoc] = {
    val ecfg = ExtractConfig()
    val rows = corpus.rows.filterNot(r => corpus.malformed(r.doc_id)).toArray
    val out = new Array[ExtractedDoc](rows.length)
    java.util.stream.IntStream.range(0, rows.length).parallel()
      .forEach(i => out(i) = Extractor.extractRow(rows(i), ecfg))
    out.map(d => d.doc_id -> d).toMap
  }
  private val reextracted = scala.collection.mutable.ArrayBuffer.empty[Set[Int]]
  private var before: Map[Int, Set[(String, Long)]] = Map.empty

  def inputDocs: Long = Inputs.pdfSize(Spec)

  def land(ctx: Ctx, dir: String): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val (seed, spec) = (this.seed, Spec)
    spark.range(0, Inputs.pdfSize(spec), 1, ctx.cores).as[Long].mapPartitions { ids =>
      val vocab = Inputs.pdfVocabulary(seed)
      ids.map(i => Inputs.pdfRow(seed, spec, vocab, i.toInt))
    }.write.parquet(s"$dir/raw")
    val bucketS = Stats.seconds(
      ExtractJob.bucketizeInput(spark, s"$dir/raw", s"$dir/bucketed", Chunks))
    Map("job.bucketize_s" -> bucketS)
  }

  def use(ctx: Ctx, dir: String): Seq[DataFrame] = {
    cfg = JobConfig(inputPath = s"$dir/bucketed", outputPath = ctx.path("out"),
      metricsPath = ctx.path("metrics"), runId = "bench", chunks = Chunks,
      bucketedInput = true, repartitionInput = false)
    Nil // the job scans its bucketed table itself; nothing stays cached
  }

  /** (file name, length) per chunk output directory. */
  private def listing(ctx: Ctx): Map[Int, Set[(String, Long)]] = {
    val p = new org.apache.hadoop.fs.Path(cfg.outputPath)
    val fs = p.getFileSystem(ctx.sc.hadoopConfiguration)
    fs.listStatus(p).filter(_.getPath.getName.startsWith("chunk=")).map { d =>
      d.getPath.getName.stripPrefix("chunk=").toInt ->
        fs.listStatus(d.getPath).map(f => (f.getPath.getName, f.getLen)).toSet
    }.toMap
  }

  def pass(ctx: Ctx): Unit = {
    ctx.deleteDir(cfg.outputPath)
    ctx.deleteDir(cfg.metricsPath)
    ctx.call("ExtractJob.run")(ExtractJob.run(ctx.spark, cfg))
  }

  def crash(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val kept = spark.read.parquet(cfg.metricsPath).as[PartitionMetric].collect()
      .filter(m => !Dropped(m.chunk_id))
    ctx.deleteDir(cfg.metricsPath)
    spark.createDataset(kept.toSeq).write.parquet(cfg.metricsPath)
    before = listing(ctx)
  }

  def resume(ctx: Ctx): Unit = {
    ctx.call("ExtractJob.run")(ExtractJob.run(ctx.spark, cfg))
    val after = listing(ctx)
    reextracted += (0 until Chunks).filter(c => before.get(c) != after.get(c)).toSet
  }

  /** Planted malformed docs per chunk (the chunk is the doc's bucket). */
  private var malformedBuckets: Map[Int, Long] = _
  private def malformedPerChunk(ctx: Ctx): Map[Int, Long] = {
    if (malformedBuckets == null)
      malformedBuckets = ctx.spark.read.parquet(cfg.inputPath)
        .filter(col("doc_id").isin(corpus.malformed.toSeq: _*))
        .select("bucket").collect().map(_.getAs[Number](0).intValue)
        .groupBy(identity).map { case (c, xs) => c -> xs.length.toLong }
    malformedBuckets
  }

  def check(ctx: Ctx, stage: String): Check = {
    val spark = ctx.spark
    import spark.implicits._
    val out = ExtractJob.readOutput(spark, cfg).collect()
    val ids = out.map(_.doc_id)
    val dups = ids.length - ids.distinct.length
    val wrong = out.count(d => !expected.get(d.doc_id).contains(d))
    val failedSet = corpus.rows.map(_.doc_id).toSet -- ids
    val misrouted = (failedSet -- corpus.malformed).size + (corpus.malformed -- failedSet).size
    // the failure seam: each chunk's metrics rows count exactly the
    // malformed docs its bucket holds, and a row reports done_with_failures
    // exactly when it counts one
    val metrics = spark.read.parquet(cfg.metricsPath).as[PartitionMetric].collect()
      .filter(_.run_id == cfg.runId)
    val counted = metrics.groupBy(_.chunk_id).map { case (c, ms) => c -> ms.map(_.n_failed).sum }
    val planted = malformedPerChunk(ctx)
    val countWrong = (0 until Chunks).count(c =>
      counted.getOrElse(c, 0L) != planted.getOrElse(c, 0L))
    val statusWrong = metrics.count(m =>
      m.status != (if (m.n_failed == 0) "done" else "done_with_failures"))
    def perChunk(m: Map[Int, Long]) = (0 until Chunks).map(m.getOrElse(_, 0L)).mkString("/")
    val notes = Seq(s"pdf_extract $stage: ${out.length} docs out, $wrong differ from " +
      s"Extractor.extractRow, $dups duplicates, ${failedSet.size} failed " +
      s"(${corpus.malformed.size} planted, $misrouted misrouted); metrics rows count " +
      s"${perChunk(counted)} failed per chunk (planted ${perChunk(planted)}, $countWrong " +
      s"chunks wrong), $statusWrong rows with a status that contradicts n_failed")
    val c = Check(corpus.rows.length + Chunks + metrics.length,
      wrong + dups + misrouted + countWrong + statusWrong, notes)
    if (stage != "final") c
    else {
      val badResumes = reextracted.count(_ != Dropped)
      c + Check(reextracted.length, badResumes,
        Seq(s"pdf_extract resumes: ${reextracted.length} runs, $badResumes re-extracted " +
          s"other chunks than ${Dropped.toSeq.sorted.mkString(",")}"))
    }
  }

  def layers(pass: Seq[(TraceSpan, EngineStats)], resume: Seq[(TraceSpan, EngineStats)])
      : Map[String, Double] =
    Map("job.chunks_reextracted" -> reextracted.last.size.toDouble)

  def probes(ctx: Ctx, warmPassS: Double): (Map[String, Double], Check) = {
    val spark = ctx.spark
    import spark.implicits._
    def slice(chunk: Int): DataFrame =
      spark.read.parquet(cfg.inputPath).filter(col("bucket") === chunk).select("doc_id", "spans")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val scanS = Stats.median((0 until 3).map(_ =>
      Stats.seconds((0 until Chunks).foreach(c => noop(slice(c))))))
    val extractS = Stats.median((0 until 3).map(_ => Stats.seconds((0 until Chunks).foreach { c =>
      val acc = spark.sparkContext.collectionAccumulator[PartitionMetric](s"probe-$c")
      noop(ExtractJob.extractChunk(slice(c).as[DocRow], cfg, c, acc).toDF())
    })))
    val noopS = Stats.median((0 until 3).map(_ => Stats.seconds(ExtractJob.run(spark, cfg))))
    (Map("job.scan_s" -> scanS, "job.extract_s" -> extractS,
      "job.sink_s" -> (warmPassS - extractS), "job.rerun_noop_s" -> noopS), Check(0, 0, Nil))
  }
}
