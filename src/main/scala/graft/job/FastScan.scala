package graft.job

import graft.codec.{SpanCodec, TreeBuilder}
import graft.extract.Extractor
import graft.model._
import graft.reflow.ExtractConfig
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Tungsten-direct scan path: builds the per-document tree straight from
  * `InternalRow`/`ArrayData`, bypassing the Dataset encoder.
  *
  * Why: the generic `as[DocRow]` deserializer materializes 4 Strings + a
  * Span + a Seq cell per span (~10M objects per 40k docs) and measurably
  * saturates around 8 threads on allocation; this path allocates only the
  * Strings the kernel actually consumes and compares span kinds against
  * cached UTF8String constants without decoding them. Measured ~2x less
  * deser garbage; the per-layer cost is in perfbench's traced
  * `pdf_extract` run (`codec.decode_us`, `extract.kernel_us`).
  *
  * Safety: UnsafeRows from `queryExecution.toRdd` are reused by the
  * scanner — each row is fully consumed (tree built) before `next()`.
  */
object FastScan {

  private val KWord = UTF8String.fromString("word")
  private val KLine = UTF8String.fromString("line")
  private val KPara = UTF8String.fromString("para")
  private val KHeading = UTF8String.fromString("heading")
  private val KPage = UTF8String.fromString("page")
  private val KHdr = UTF8String.fromString("hdr")
  private val KFtr = UTF8String.fromString("ftr")
  private val KFont = UTF8String.fromString("font")
  private val KImage = UTF8String.fromString("image")
  private val KDrawing = UTF8String.fromString("drawing")
  private val KTable = UTF8String.fromString("table")

  /** Struct-field positions of the spans element, resolved BY NAME from
    * the actual schema: the Tungsten path reads by ordinal, and a parquet
    * file written with the same fields in a different struct order (or
    * with extra fields) would otherwise be silently misread — while the
    * typed `.as[DocRow]` path resolves names correctly, making the two
    * paths disagree on identical input.
    */
  final case class SpanOrdinals(kind: Int, text: Int, mediaRef: Int,
      offset: Int, arity: Int)

  object SpanOrdinals {
    /** The canonical (kind, text, media_ref, offset) layout. */
    val Default: SpanOrdinals = SpanOrdinals(0, 1, 2, 3, 4)

    def from(schema: org.apache.spark.sql.types.StructType): SpanOrdinals = {
      val st = schema("spans").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
      SpanOrdinals(st.fieldIndex("kind"), st.fieldIndex("text"),
        st.fieldIndex("media_ref"), st.fieldIndex("offset"), st.size)
    }
  }

  /** Decode one spans ArrayData (struct fields located by `ord`, in
    * offset order as written) into a DocTree.
    */
  def decodeSpans(arr: ArrayData, fast: Boolean,
      ord: SpanOrdinals = SpanOrdinals.Default): DocTree = {
    val n = arr.numElements()
    val b = new TreeBuilder(fast)
    var unsorted = false
    var prev = Int.MinValue
    var i = 0
    while (i < n && !unsorted) {
      val s = arr.getStruct(i, ord.arity)
      val off = if (s.isNullAt(ord.offset)) i else s.getInt(ord.offset)
      if (off < prev) unsorted = true
      else {
        prev = off
        feed(b, s, ord)
        i += 1
      }
    }
    if (unsorted) {
      // rare path: materialize + delegate to the sorting decoder
      val spans = (0 until n).map { j =>
        val s = arr.getStruct(j, ord.arity)
        Span(str(s, ord.kind), str(s, ord.text), str(s, ord.mediaRef),
          if (s.isNullAt(ord.offset)) j else s.getInt(ord.offset))
      }
      SpanCodec.decode(spans, fast)
    } else b.result()
  }

  private def str(s: InternalRow, ord: Int): String =
    if (s.isNullAt(ord)) "" else s.getUTF8String(ord).toString

  private def feed(b: TreeBuilder, s: InternalRow, o: SpanOrdinals): Unit = {
    val kind = if (s.isNullAt(o.kind)) null else s.getUTF8String(o.kind)
    if (kind == null) return
    // ordered by expected frequency: word >> line >> rest
    if (kind.equals(KWord)) b.onWord(str(s, o.text), str(s, o.mediaRef))
    else if (kind.equals(KLine)) b.onLine(str(s, o.text), str(s, o.mediaRef))
    else if (kind.equals(KPara)) b.onElem(isHeading = false, str(s, o.text), str(s, o.mediaRef))
    else if (kind.equals(KPage)) b.onPage()
    else if (kind.equals(KHdr)) b.onHdr()
    else if (kind.equals(KFtr)) b.onFtr()
    else if (kind.equals(KFont)) b.onFont(str(s, o.text), str(s, o.mediaRef))
    else if (kind.equals(KHeading)) b.onElem(isHeading = true, str(s, o.text), str(s, o.mediaRef))
    else if (kind.equals(KImage)) b.onMedia("image", str(s, o.mediaRef), if (s.isNullAt(o.offset)) 0 else s.getInt(o.offset))
    else if (kind.equals(KDrawing)) b.onMedia("drawing", str(s, o.mediaRef), if (s.isNullAt(o.offset)) 0 else s.getInt(o.offset))
    else if (kind.equals(KTable)) b.onTable(str(s, o.text), str(s, o.mediaRef))
    // unknown kinds ignored (forward compat)
  }

  /** The spans kernel on one row: decode -> extractTree -> emitSpans.
    * The job's chunk loop and `extract` both run it.
    */
  def extractRow(docId: String, spans: ArrayData, cfg: ExtractConfig,
      ord: SpanOrdinals): ExtractedDoc = {
    val out = Extractor.extractTree(decodeSpans(spans, cfg.fast, ord), cfg)
    ExtractedDoc(docId, Extractor.emitSpans(out), out.text())
  }

  /** Extract a (doc_id, spans) DataFrame via the Tungsten-direct path.
    * Returns the typed output Dataset (output-side encoding is cheap: a
    * handful of rendered spans per doc).
    */
  def extract(df: DataFrame, cfg: ExtractConfig): Dataset[ExtractedDoc] = {
    val spark = df.sparkSession
    import spark.implicits._
    val pruned = df.select("doc_id", "spans")
    val ord = SpanOrdinals.from(pruned.schema)
    val rdd = pruned.queryExecution.toRdd.mapPartitions(_.flatMap { row =>
      // a malformed document (null doc_id/spans included: the reads live
      // inside the try) fails the row, never the task
      try Some(extractRow(row.getUTF8String(0).toString, row.getArray(1), cfg, ord))
      catch { case scala.util.control.NonFatal(_) => None }
    })
    spark.createDataset(rdd)
  }
}
