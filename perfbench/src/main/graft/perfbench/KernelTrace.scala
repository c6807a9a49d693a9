package graft.perfbench

import graft.{Page, PageIn}
import graft.functions.{Charsets, CsvKernel, FormatSniff, RtfKernel}
import graft.functions.html.HtmlStream
import graft.functions.office.{DocxKernel, OdtKernel, PptxKernel, XlsxKernel}
import graft.functions.pdf.PdfExtractor
import graft.operators.ExtractKernel
import java.lang.management.ManagementFactory

/** Busy time, input bytes, allocated bytes, calls and failures of one layer. */
final class LayerCount {
  var busyNs = 0L
  var inBytes = 0L
  var allocBytes = 0L
  var calls = 0L
  var failed = 0L

  def busyS: Double = busyNs / 1e9
  def mbPerS: Double = Stats.ratio(inBytes / 1e6, busyS)
  def allocPerInByte: Double = Stats.ratio(allocBytes.toDouble, inBytes.toDouble)
  def failedShare: Double = Stats.ratio(failed.toDouble, calls.toDouble)
}

/** Single-thread kernel profile over a page sample, timed from outside the
  * program: every call into a kernel-layer function is a span, with its
  * allocation read from the thread's allocation counter. The dispatch
  * mirrors `ExtractKernel.extractOneIn`; its output is compared to
  * `extractOne` on every page so the profile cannot drift from the kernel.
  */
object KernelTrace {

  val Layers: Seq[String] = Seq("gzip", "sniff", "charset", "html", "pdf", "office", "csv_rtf")

  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated(): Long = threads.getCurrentThreadAllocatedBytes

  final case class Profile(
      pagesPerS: Double,
      extractBusyS: Double,
      allocPerInByte: Double,
      layers: Map[String, LayerCount],
      diverged: Int) {
    def coverage: Double = Stats.ratio(layers.values.map(_.busyS).sum, extractBusyS)
  }

  /** Profile `reps` passes over the sample; the last one counts. Each page
    * runs through `extractOne` as a whole, then through the traced
    * dispatch, so both see the same warm state. Spans of the last pass go
    * to `tracer`, one operation per page from `firstOp` on.
    */
  def profile(sample: IndexedSeq[Page], reps: Int, tracer: Tracer, firstOp: Int): Profile = {
    var counts = Map.empty[String, LayerCount]
    var busyNs = 0L
    var alloc = 0L
    var inBytes = 0L
    var diverged = 0
    (1 to reps).foreach { r =>
      val t = if (r == reps) tracer else new Tracer
      counts = Layers.map(_ -> new LayerCount).toMap
      busyNs = 0L; alloc = 0L; inBytes = 0L; diverged = 0
      sample.zipWithIndex.foreach { case (p, i) =>
        val a0 = allocated()
        val t0 = System.nanoTime()
        val want = ExtractKernel.extractOne(p).text
        busyNs += System.nanoTime() - t0
        alloc += allocated() - a0
        inBytes += p.html.length
        val op = firstOp + i
        if (t.span("kernel.page", op)(traced(p, counts, t, op)) != want) diverged += 1
      }
      Tracer.selfSeconds(t.all.filter(_.op >= firstOp)).foreach { case (name, sec) =>
        counts.get(name).foreach(c => c.busyNs = (sec * 1e9).toLong)
      }
    }
    Profile(Stats.ratio(sample.length.toDouble, busyNs / 1e9), busyNs / 1e9,
      Stats.ratio(alloc.toDouble, inBytes.toDouble), counts, diverged)
  }

  private def call[T](layer: String, in: Int, counts: Map[String, LayerCount], tracer: Tracer, op: Int)(
      f: => T): T = {
    val c = counts(layer)
    val a0 = allocated()
    try tracer.span(layer, op)(f)
    finally {
      c.allocBytes += allocated() - a0
      c.inBytes += in
      c.calls += 1
    }
  }

  private def fail(layer: String, counts: Map[String, LayerCount]): Unit = counts(layer).failed += 1

  /** The text `extractOneIn` would produce, with each layer call traced. */
  private def traced(p: Page, counts: Map[String, LayerCount], tracer: Tracer, op: Int): String = {
    val in = PageIn(p.url, p.warc_ts, p.html, p.lang)
    val raw = if (in.html == null) Array.emptyByteArray else in.html
    val none = graft.functions.TextAssembly.NoText
    def orNone(t: String) = if (t.isEmpty) none else t
    call("gzip", raw.length, counts, tracer, op)(FormatSniff.unwrapGzip(raw)) match {
      case Left(_) => none
      case Right(bytes) =>
        val n = bytes.length
        call("sniff", n, counts, tracer, op)(FormatSniff.sniff(bytes)) match {
          case FormatSniff.Pdf =>
            call("pdf", n, counts, tracer, op)(PdfExtractor.extract(bytes)) match {
              case Right(r) => orNone(r.text)
              case Left(_)  => fail("pdf", counts); none
            }
          case FormatSniff.Html =>
            val dec = call("charset", n, counts, tracer, op)(Charsets.decode(bytes, isHtml = true))
            try orNone(call("html", n, counts, tracer, op)(HtmlStream.extract(dec.text)).text)
            catch { case _: Exception => fail("html", counts); none }
          case FormatSniff.Txt =>
            orNone(call("charset", n, counts, tracer, op)(Charsets.decode(bytes)).text)
          case f @ (FormatSniff.Csv | FormatSniff.Rtf) =>
            val dec = call("charset", n, counts, tracer, op)(Charsets.decode(bytes))
            val kernel: String => (String, Int) = if (f == FormatSniff.Csv) CsvKernel.extract else RtfKernel.extract
            orNone(call("csv_rtf", n, counts, tracer, op)(kernel(dec.text))._1)
          case f @ (FormatSniff.Docx | FormatSniff.Xlsx | FormatSniff.Pptx | FormatSniff.Odt) =>
            try {
              val (text, _) = call("office", n, counts, tracer, op)(f match {
                case FormatSniff.Docx => DocxKernel.extract(bytes)
                case FormatSniff.Xlsx => XlsxKernel.extract(bytes)
                case FormatSniff.Pptx => PptxKernel.extract(bytes)
                case _                => OdtKernel.extract(bytes)
              })
              orNone(text)
            } catch { case _: Exception => fail("office", counts); none }
          case _ => none
        }
    }
  }
}
