package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import graft.model.{PageRecord, ExtractedDoc}
import graft.html.{HtmlParser, Boilerplate, HElem}
import graft.pdf.{PdfDoc, PdfText}
import graft.ids.DoiCascade
import graft.pipeline.Extractor

/** Single-thread cost of each parser layer, timed by calling the layers'
  * public functions directly, one layer at a time over a docId sample of
  * the workload's corpus (the same steps Extractor.extract and
  * Extractor.score chain per document).
  *
  * The PDF content stream is inflated inside PdfText.chars, so the inflate
  * is timed on its own (PdfDoc.pageContent) and moved from the `chars`
  * layer into the `doc` layer. The HTML `parse` layer includes the UTF-8
  * decode of the page bytes. */
object Layers {

  /** ns spent per layer over one pass of the sample, plus the same docs
    * through the whole per-document call (extract + score). */
  final case class Pass(ns: Map[String, Long], directNs: Long)

  final case class Sample(pages: Vector[PageRecord]) {
    val (pdf, html) = pages.partition(p => PdfDoc.isPdf(p.html))
    val pdfBytes: Long = pdf.map(_.html.length.toLong).sum
    val htmlBytes: Long = html.map(_.html.length.toLong).sum
  }

  private def timed[T](tracer: Tracer, parent: Long, layer: String, acc: collection.mutable.Map[String, Long])(f: => T): T =
    tracer.span(layer, "layer", parent) { _ =>
      val t0 = System.nanoTime()
      val r = f
      acc(layer) = acc.getOrElse(layer, 0L) + (System.nanoTime() - t0)
      r
    }

  def pass(s: Sample, target: Set[String], bycatch: Set[String],
      tracer: Tracer, parent: Long): Pass = {
    val acc = collection.mutable.Map.empty[String, Long]
    def t[T](layer: String)(f: => T): T = timed(tracer, parent, layer, acc)(f)
    val doms: Vector[HElem] = t("html.parse")(s.html.map(p => HtmlParser.parse(new String(p.html, UTF_8))))
    t("html.boilerplate")(doms.map(Boilerplate.extract))
    val docs = t("pdf.objects")(s.pdf.map { p =>
      val d = new PdfDoc(p.html)
      (d, d.pages, d.metadata)
    })
    t("pdf.inflate")(docs.foreach { case (d, ps, _) => ps.foreach(p => d.pageContent(p.asInstanceOf[d.Page])) })
    val chars = t("pdf.chars_with_inflate")(docs.map { case (d, ps, _) =>
      ps.map(p => PdfText.chars(d)(p.asInstanceOf[d.Page]))
    })
    val texts = t("pdf.assemble")(chars.map(_.map(PdfText.assemble(_)).mkString(" ")))
    t("ids.doi")(docs.zip(texts).map { case ((_, _, md), text) => DoiCascade(md, text) })
    val extracted: Vector[ExtractedDoc] = s.pages.map(Extractor.extract)
    t("textops.score")(extracted.map(Extractor.score(_, target, bycatch)))
    val directNs = tracer.span("extract+score", "layer", parent) { _ =>
      val t0 = System.nanoTime()
      s.pages.foreach(p => Extractor.score(Extractor.extract(p), target, bycatch))
      System.nanoTime() - t0
    }
    Pass(acc.toMap, directNs)
  }

  /** Two warm passes, then `timedPasses`; each layer's ns is the median
    * over the timed passes. Returns per-layer metrics and the layer sum
    * in µs per document. */
  def ledger(s: Sample, target: Set[String], bycatch: Set[String], tracer: Tracer,
      parent: Long, timedPasses: Int = 3): (Map[String, Double], Double) = {
    (1 to 2).foreach(i => tracer.span(s"warm pass $i", "pass", parent)(id => pass(s, target, bycatch, tracer, id)))
    val passes = (1 to timedPasses).map(i =>
      tracer.span(s"timed pass $i", "pass", parent)(id => pass(s, target, bycatch, tracer, id)))
    def med(xs: Seq[Long]): Double = Stats.median(xs.map(_.toDouble))
    val ns = passes.head.ns.keys.map(k => k -> med(passes.map(_.ns(k)))).toMap
    val direct = med(passes.map(_.directNs))
    val docs = s.pages.size.toDouble
    val html = ns("html.parse") + ns("html.boilerplate")
    val pdfChars = math.max(0.0, ns("pdf.chars_with_inflate") - ns("pdf.inflate"))
    val pdfDoc = ns("pdf.objects") + ns("pdf.inflate")
    val pdf = pdfDoc + pdfChars + ns("pdf.assemble")
    val sum = html + pdf + ns("ids.doi") + ns("textops.score")
    val m = Map(
      "html.parse_ns_per_byte" -> ns("html.parse") / s.htmlBytes,
      "html.boilerplate_ns_per_byte" -> ns("html.boilerplate") / s.htmlBytes,
      "html.cpu_share" -> html / sum,
      "pdf.doc_ns_per_byte" -> pdfDoc / s.pdfBytes,
      "pdf.chars_ns_per_byte" -> pdfChars / s.pdfBytes,
      "pdf.assemble_ns_per_byte" -> ns("pdf.assemble") / s.pdfBytes,
      "pdf.cpu_share" -> pdf / sum,
      "ids.doi_us_per_doc" -> ns("ids.doi") / s.pdf.size / 1e3,
      "ids.cpu_share" -> ns("ids.doi") / sum,
      "textops.score_us_per_doc" -> ns("textops.score") / docs / 1e3,
      "textops.cpu_share" -> ns("textops.score") / sum,
      "pipeline.direct_us_per_doc" -> direct / docs / 1e3)
    (m, sum / docs / 1e3)
  }
}
