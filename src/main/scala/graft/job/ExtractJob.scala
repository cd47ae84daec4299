package graft.job

import graft.html.HtmlExtract
import graft.model._
import graft.reflow.ExtractConfig
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.CollectionAccumulator

/** The corpus-dimension driver (SURVEY.md §2.11 C1, §4): Iceberg/parquet
  * scan -> resume anti-join -> skew-aware repartition -> batched
  * mapPartitions extraction -> output + metrics sinks.
  *
  * Scale design (north_rule):
  *  - the unit of parallelism is the document row; extraction is
  *    embarrassingly parallel, so the only shuffles are the explicit
  *    repartition and (on resume) the anti-join;
  *  - skew: documents with span counts >= `bigDocSpanThreshold` are split
  *    into their own partition set sized one-doc-per-partition, so a
  *    handful of pathological documents never serialize a task (the
  *    reference has the same hot spot: per-PDF runtime dominated by LM
  *    calls, development/notes/03_notes.md);
  *  - resume: the corpus is processed in `chunks` deterministic slices
  *    (pmod(xxhash64(doc_id), chunks)); each completed chunk OVERWRITES its
  *    own chunk= directory (the retry unit — idempotent on any crash/retry
  *    interleaving) and then appends a metrics row; on restart, chunks with
  *    a 'done' metrics row are skipped — exact resume, verified by the
  *    resume-equivalence test (FIXTURES.md §4). With `bucketedInput` the
  *    input is laid out as bucket= partition dirs (bucketizeInput), so
  *    chunk selection is partition pruning and a k-chunk run scans the
  *    input ONCE total, not k times. On Iceberg the same flow maps to a
  *    bucket partition transform + replacePartitions snapshots + the
  *    metrics table.
  */
final case class JobConfig(
    inputPath: String,
    outputPath: String,
    metricsPath: String,
    runId: String = "run-0",
    numPartitions: Int = 32,
    chunks: Int = 1,
    bigDocSpanThreshold: Int = 20000,
    /** html-kernel skew threshold in CHARS (inputKind = "html"). A
      * separate knob from bigDocSpanThreshold: a 20k-span layout doc is
      * pathological, but a 20k-char page is ordinary — reusing the span
      * threshold would send most real pages down the big-doc salt branch
      * and stop the knob from isolating skew.
      */
    bigDocHtmlChars: Int = 500000,
    format: String = "parquet",
    /** input laid out as bucket=N partition dirs (ExtractJob.bucketizeInput):
      * chunk selection becomes partition PRUNING — a k-chunk run reads each
      * input byte once, instead of k full scans of a pmod filter.
      */
    bucketedInput: Boolean = false,
    /** set false when the input layout already distributes documents
      * (ingest-time hash bucketing): extraction runs map-only, zero
      * shuffle. Default true = explicit skew-aware repartition.
      */
    repartitionInput: Boolean = true,
    /** "chunk" (default): a crashed chunk is re-extracted whole and its
      * directory atomically Overwritten — exactly-once under any retry
      * interleaving. "doc": SURVEY §2.3 J4's doc-granular resume — an
      * incomplete chunk's surviving output rows are left-anti-joined
      * against the input by doc_id and only the missing documents are
      * re-extracted and Appended (requires job-level output commit,
      * parquet committer v1 / Iceberg snapshot, so a crashed append is
      * invisible; with task-level commits use "chunk").
      */
    resumeGranularity: String = "chunk",
    /** "spans" (default, the PDF layout kernel), "html" or "html_bytes"
      * (the web kernel over page text or crawl-native bytes): one entry
      * each in the kernel table `ExtractJob.kernels`.
      */
    inputKind: String = "spans",
    extract: ExtractConfig = ExtractConfig()) {
  require(ExtractJob.kernels.isDefinedAt(inputKind),
    s"unknown inputKind '$inputKind' (spans, html or html_bytes)")
  require(resumeGranularity == "chunk" || resumeGranularity == "doc",
    s"unknown resumeGranularity '$resumeGranularity' (chunk or doc)")
}

object ExtractJob {

  /** Read the docs table as a typed Dataset. Column pruning to
    * (doc_id, spans) is explicit so the scan never reads extra columns.
    */
  def readDocs(spark: SparkSession, cfg: JobConfig): Dataset[DocRow] = {
    import spark.implicits._
    spark.read.format(cfg.format).load(cfg.inputPath)
      .select("doc_id", "spans")
      .as[DocRow]
  }

  /** Partition granularity multiplier: more, smaller tasks smooth residual
    * skew after salting (cheap at task-scheduling level, no extra shuffle).
    */
  val SaltFactor = 4

  /** Skew-aware repartition (north_star requirement: "explicit
    * repartitioning on doc_id hash, salting for skewed long-document
    * partitions") in a SINGLE scan + single shuffle:
    *  - normal docs key on xxhash64(doc_id) — deterministic placement;
    *  - long docs (size(spans) >= bigThreshold) key on a size-salted hash,
    *    so a cluster of pathological documents spreads independently of
    *    its doc_id neighborhood;
    *  - SaltFactor x numPartitions output partitions so one long doc plus
    *    its co-residents never serializes a whole core's worth of work.
    * (An earlier two-branch filter+union formulation scanned the input
    * twice — at 100 TB that doubles the scan; this one doesn't.)
    */
  def repartitionSkewAware(
      docs: Dataset[DocRow],
      numPartitions: Int,
      bigThreshold: Int): Dataset[DocRow] = {
    import docs.sparkSession.implicits._
    repartitionSkewAwareDf(docs.toDF(), numPartitions, bigThreshold,
      size(col("spans"))).as[DocRow]
  }

  /** DataFrame-generic variant: `docSize` is the skew measure (span count
    * for the layout kernel, html length for the web kernel).
    */
  def repartitionSkewAwareDf(docs: org.apache.spark.sql.DataFrame,
      numPartitions: Int, bigThreshold: Int,
      docSize: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val key = when(docSize >= bigThreshold,
      xxhash64(col("doc_id"), lit("bigdoc-salt"), docSize))
      .otherwise(xxhash64(col("doc_id")))
    docs.repartition(numPartitions * SaltFactor, key)
  }

  /** What one input kind contributes to the shared chunk loop: its input
    * projection (doc_id first, the kernel's input second), its skew
    * measure and threshold, whether column 1 is a spans array (counted
    * into n_spans_in), and its per-row function, built on the driver
    * from the projected schema.
    */
  private[job] final case class Kernel(
      columns: DataFrame => DataFrame,
      size: Column,
      bigDoc: JobConfig => Int,
      countsSpans: Boolean,
      row: (StructType, ExtractConfig) => (String, InternalRow) => ExtractedDoc)

  /** The kernel table: the one place `inputKind` is matched. Skew is
    * span count vs bigDocSpanThreshold for layout docs, length vs
    * bigDocHtmlChars for pages (the units differ by ~an order of
    * magnitude — see the JobConfig scaladoc).
    */
  private[job] val kernels: PartialFunction[String, Kernel] = {
    case "spans" => Kernel(_.select("doc_id", "spans"), size(col("spans")),
      _.bigDocSpanThreshold, countsSpans = true, (schema, ecfg) => {
        val ord = FastScan.SpanOrdinals.from(schema)
        (docId, row) => FastScan.extractRow(docId, row.getArray(1), ecfg, ord)
      })
    case "html" => Kernel(_.select("doc_id", "html"), length(col("html")),
      _.bigDocHtmlChars, countsSpans = false, (_, _) => (docId, row) => {
        require(!row.isNullAt(1), "null html")
        HtmlExtract.extractRow(docId, row.getUTF8String(1).toString)
      })
    // length(binary) = octet count; bytes-per-char ~1 for the dominant
    // encodings, so the same char threshold applies
    case "html_bytes" => Kernel(htmlBytesColumns, length(col("html_bytes")),
      _.bigDocHtmlChars, countsSpans = false, (_, _) => (docId, row) => {
        require(!row.isNullAt(1), "null html_bytes")
        val ct = if (row.isNullAt(2)) null else row.getUTF8String(2).toString
        HtmlExtract.extractRowBytes(docId, row.getBinary(1), ct)
      })
  }

  /** html_bytes input: a WARC landing (Warc.ingestToTable) carries 3xx
    * redirect rows — crawl EDGES with empty bodies; only HTTP-200
    * captures are documents (mirrors Warc.extractAll's filter). A crawl
    * table without content_type still works: it reads as null and the
    * charset ladder continues past the absent transport layer.
    */
  private def htmlBytesColumns(df: DataFrame): DataFrame = {
    val content =
      if (df.columns.contains("http_status")) df.filter(col("http_status") === 200)
      else df
    content.select(col("doc_id"), col("html_bytes"),
      if (content.columns.contains("content_type")) col("content_type")
      else lit(null).cast("string").as("content_type"))
  }

  /** The chunk loop every kernel runs: one Tungsten-direct mapPartitions
    * pass over `df` (already projected by `kernel.columns`) — no encoder
    * deserialization of the input. Metrics are gathered through an
    * accumulator, one PartitionMetric per partition (per-partition
    * lineage).
    */
  private def extractRows(
      df: DataFrame,
      kernel: Kernel,
      cfg: JobConfig,
      chunkId: Int,
      metricsAcc: CollectionAccumulator[PartitionMetric]): Dataset[ExtractedDoc] = {
    val spark = df.sparkSession
    import spark.implicits._
    val runId = cfg.runId
    val countsSpans = kernel.countsSpans
    val extractRow = kernel.row(df.schema, cfg.extract)
    val rdd = df.queryExecution.toRdd.mapPartitions { it =>
      val t0 = System.currentTimeMillis()
      val lm0 = graft.lm.Scorer.threadLmCallCount // task = one thread
      var nDocs, nFailed, spansIn, spansOut = 0L
      var firstError = ""
      val out = it.flatMap { row =>
        nDocs += 1
        // docId resolved defensively FIRST: a null doc_id / null input is
        // a malformed DOCUMENT (metrics row), never a task failure — at
        // 10^12 rows every garbage shape occurs, and an NPE outside the
        // try would abort the whole chunk on one dirty row
        var docId = "(null doc_id)"
        try {
          if (!row.isNullAt(0)) docId = row.getUTF8String(0).toString
          // counted before the kernel runs: a failing doc's spans are input
          if (countsSpans) spansIn += row.getArray(1).numElements() // null spans -> NPE
          val r = extractRow(docId, row)
          spansOut += r.spans.length
          Some(r)
        } catch {
          case scala.util.control.NonFatal(e) =>
            nFailed += 1
            if (firstError.isEmpty) firstError = s"$docId: ${e.getMessage}"
            None
        }
      }
      // `++` evaluates its argument once, when `out` is drained: the
      // partition's metric is emitted exactly once
      out ++ {
        metricsAcc.add(PartitionMetric(
          runId, chunkId, org.apache.spark.TaskContext.getPartitionId(),
          nDocs, nFailed, spansIn, spansOut,
          graft.lm.Scorer.threadLmCallCount - lm0,
          System.currentTimeMillis() - t0,
          if (nFailed == 0) "done" else "done_with_failures",
          firstError, System.currentTimeMillis()))
        Iterator.empty
      }
    }
    spark.createDataset(rdd)
  }

  /** Extract one chunk of (doc_id, spans) rows with the spans kernel:
    * returns the output Dataset; metrics go to `metricsAcc`.
    */
  def extractChunk(
      docs: Dataset[DocRow],
      cfg: JobConfig,
      chunkId: Int,
      metricsAcc: CollectionAccumulator[PartitionMetric]): Dataset[ExtractedDoc] = {
    val spans = kernels("spans")
    extractRows(spans.columns(docs.toDF()), spans, cfg, chunkId, metricsAcc)
  }

  /** Chunk ids already recorded complete in the metrics table (resume).
    * A MISSING metrics table means a fresh run (empty set); an EXISTING
    * table that cannot be read fails loudly — silently returning empty
    * would reprocess every chunk and (pre-Overwrite) duplicate output.
    */
  def completedChunks(spark: SparkSession, cfg: JobConfig): Set[Int] = {
    val p = new org.apache.hadoop.fs.Path(cfg.metricsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else try {
      val df = spark.read.format(cfg.format).load(cfg.metricsPath)
      df.filter(col("run_id") === cfg.runId && col("status").startsWith("done"))
        .select("chunk_id").distinct()
        .collect().map(_.getInt(0)).toSet
    } catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(
          s"metrics table ${cfg.metricsPath} exists but is unreadable — " +
            "refusing to guess the resume state", e)
    }
  }

  /** Lay the input out as `bucket=N` partition directories keyed on
    * pmod(xxhash64(doc_id), chunks) — one pass over the raw table. A
    * chunked/resumed ExtractJob over this layout selects each chunk by
    * partition PRUNING, so a k-chunk run scans each input byte exactly
    * once (the unbucketed fallback filters the full input per chunk: k
    * scans of a 100 TB table). On Iceberg this is the table's bucket
    * partition transform, written once at ingest.
    */
  def bucketizeInput(spark: SparkSession, rawPath: String, bucketedPath: String,
      chunks: Int, format: String = "parquet"): Unit = {
    spark.read.format(format).load(rawPath)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(chunks)))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .format(format).save(bucketedPath)
  }

  /** Run the job end-to-end with checkpointed resume. */
  def run(spark: SparkSession, cfg: JobConfig): Unit = {
    import spark.implicits._
    val kernel = kernels(cfg.inputKind)
    // consulted regardless of cfg.chunks: a rerun of an already-complete
    // job (chunks=1 included) must be a no-op, not a second copy
    val done = completedChunks(spark, cfg)

    if (cfg.bucketedInput) {
      // the loop only visits buckets 0..chunks-1: a layout written with
      // MORE buckets than cfg.chunks would silently never extract the
      // excess buckets and still report success — fail loudly instead
      val p = new org.apache.hadoop.fs.Path(cfg.inputPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bucketDirs = fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("bucket="))
      val unparseable = bucketDirs.filter(_.stripPrefix("bucket=").toIntOption.isEmpty)
      require(unparseable.isEmpty,
        s"input has non-numeric bucket partition dirs ${unparseable.mkString(", ")} " +
          "(e.g. a null bucket value at write time) — the bucketed layout contract " +
          "requires integer buckets 0..chunks-1")
      val buckets = bucketDirs.map(_.stripPrefix("bucket=").toInt)
      require(buckets.nonEmpty,
        s"bucketedInput=true but ${cfg.inputPath} has no bucket= directories")
      val over = buckets.filter(_ >= cfg.chunks)
      require(over.isEmpty,
        s"input has bucket=${over.max} but chunks=${cfg.chunks} — " +
          "a smaller chunk count would silently drop those buckets")
    }

    (0 until cfg.chunks).foreach { chunk =>
      if (!done.contains(chunk)) {
        val slice =
          if (cfg.bucketedInput) {
            // partition pruning on the bucket= layout: only this chunk's
            // files are scanned (JobSpec asserts the pushed filter)
            kernel.columns(spark.read.format(cfg.format).load(cfg.inputPath)
              .filter(col("bucket") === chunk))
          } else {
            val docs = kernel.columns(spark.read.format(cfg.format).load(cfg.inputPath))
            if (cfg.chunks == 1) docs
            else docs.filter(pmod(xxhash64(col("doc_id")), lit(cfg.chunks)) === chunk)
          }
        val chunkDir = s"${cfg.outputPath}/chunk=$chunk"
        // doc-granular resume (J4): keep the docs a crashed attempt already
        // committed, re-extract only the missing ones (left-anti on doc_id)
        val docLevel = cfg.resumeGranularity == "doc"
        val survivors: Option[org.apache.spark.sql.DataFrame] =
          if (!docLevel) None
          else {
            val p = new org.apache.hadoop.fs.Path(chunkDir)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (fs.exists(p))
              scala.util.Try(spark.read.format(cfg.format).load(chunkDir)
                .select("doc_id")).toOption
            else None
          }
        val sliceTodo = survivors match {
          case Some(done) =>
            // broadcast when small; AQE/sort-merge otherwise — doc_id is
            // the join key on both sides, no wide rows cross the shuffle
            slice.join(done, Seq("doc_id"), "left_anti")
          case None => slice
        }
        val part =
          if (cfg.repartitionInput)
            repartitionSkewAwareDf(sliceTodo, cfg.numPartitions,
              kernel.bigDoc(cfg), kernel.size)
          else sliceTodo // ingest-time layout already distributes: map-only
        val acc = spark.sparkContext.collectionAccumulator[PartitionMetric](s"metrics-$chunk")
        val out = extractRows(part, kernel, cfg, chunk, acc)
        // chunk mode: Overwrite — the chunk directory is the retry unit, so
        // a crashed-after-partial-commit attempt (committer v2, speculative
        // tasks) is simply replaced on resume — idempotent by construction.
        // doc mode: Append of exactly the anti-joined remainder.
        val mode = if (survivors.isDefined) SaveMode.Append else SaveMode.Overwrite
        out.write.mode(mode).format(cfg.format).save(chunkDir)
        // chunk committed -> record completion (exact resume boundary);
        // dedupe on partition id: task retries/speculation can fire an
        // accumulator update more than once per partition
        val rows = scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala
          .groupBy(_.partition_id).map(_._2.head).toSeq
        val metricRows =
          if (rows.nonEmpty) rows
          else Seq(PartitionMetric(cfg.runId, chunk, -1, 0, 0, 0, 0, 0, 0,
            "done", "", System.currentTimeMillis()))
        spark.createDataset(metricRows).write.mode(SaveMode.Append)
          .format(cfg.format).save(cfg.metricsPath)
      }
    }
  }

  /** Read the combined output of all chunks. */
  def readOutput(spark: SparkSession, cfg: JobConfig): Dataset[ExtractedDoc] = {
    import spark.implicits._
    spark.read.format(cfg.format).load(s"${cfg.outputPath}/chunk=*")
      .select("doc_id", "spans", "text").as[ExtractedDoc]
  }

  /** Oracle comparison join (J5): rows whose span sequence differs from
    * the expected table under (kind, text, media_ref, order) — plain
    * Catalyst array-of-struct equality, broadcast-friendly.
    */
  def diffAgainstExpected(out: DataFrame, expected: DataFrame): DataFrame = {
    out.alias("o")
      .join(expected.alias("e"), Seq("doc_id"), "inner")
      .filter(!(col("o.spans") === col("e.spans")))
      .select(col("doc_id"), col("o.spans").as("actual"), col("e.spans").as("expected"))
  }

  /** The flags `main` documents, each taking one value. */
  private val Flags = Set("input", "output", "metrics", "run-id", "partitions",
    "chunks", "format", "big-doc-spans", "big-doc-html-chars", "fast",
    "bucketed-input", "repartition", "input-kind")

  /** `main`'s argv -> JobConfig. Every argument must be a `--flag value`
    * pair with a flag from `Flags`: an unknown or repeated flag, or a flag
    * without a value, fails instead of being dropped.
    */
  def parseArgs(args: Array[String]): JobConfig = {
    require(args.length % 2 == 0,
      s"expected --flag value pairs, got ${args.length} arguments: ${args.mkString(" ")}")
    val pairs = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--") && Flags(k.drop(2)),
        s"unknown flag '$k' (known: ${Flags.toSeq.sorted.map("--" + _).mkString(" ")})")
      k.drop(2) -> v
    }.toSeq
    val kv = pairs.toMap
    require(kv.size == pairs.size, s"repeated flag in ${args.mkString(" ")}")
    def req(k: String): String =
      kv.getOrElse(k, sys.error(s"missing required --$k <value>"))
    JobConfig(
      inputPath = req("input"),
      outputPath = req("output"),
      metricsPath = req("metrics"),
      runId = kv.getOrElse("run-id", "run-0"),
      numPartitions = kv.getOrElse("partitions", "32").toInt,
      chunks = kv.getOrElse("chunks", "1").toInt,
      bigDocSpanThreshold = kv.getOrElse("big-doc-spans", "20000").toInt,
      bigDocHtmlChars = kv.getOrElse("big-doc-html-chars", "500000").toInt,
      format = kv.getOrElse("format", "parquet"),
      bucketedInput = kv.getOrElse("bucketed-input", "false").toBoolean,
      repartitionInput = kv.getOrElse("repartition", "true").toBoolean,
      inputKind = kv.getOrElse("input-kind", "spans"),
      extract = ExtractConfig(fast = kv.getOrElse("fast", "true").toBoolean))
  }

  /** spark-submit entrypoint (north_rule: "run via spark-submit"):
    *
    *   spark-submit --class graft.job.ExtractJob <jar> \
    *     --input <path> --output <path> --metrics <path> \
    *     [--run-id r] [--partitions n] [--chunks k] [--format parquet] \
    *     [--big-doc-spans n] [--big-doc-html-chars n] [--fast true|false] \
    *     [--bucketed-input true|false] [--repartition true|false] \
    *     [--input-kind spans|html|html_bytes]
    *
    * The session is taken from spark-submit's conf (master, executors,
    * AQE, shuffle partitions come from the cluster submit, not the code);
    * a local/dev run without one uses -Dspark.master or local[32].
    */
  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    val builder = SparkSession.builder()
      .appName(s"graft-extract-${cfg.runId}")
      .config("spark.sql.adaptive.enabled", "true")
    // on a cluster, spark-submit provides the master; fall back for
    // local/dev invocation
    val withMaster =
      if (sys.props.contains("spark.master")) builder
      else builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", cfg.numPartitions.toString)
    val spark = withMaster.getOrCreate()
    run(spark, cfg)
    spark.stop()
  }
}
