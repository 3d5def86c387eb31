package perfbench

import graft.crawl.{SyntheticPage, SyntheticWeb}
import graft.extract.PdfFixture
import java.util.SplittableRandom

/** Generator of a realistically heavy synthetic site: 20–120 KB HTML pages
  * with `<style>` blocks, same-host `<link rel=stylesheet>` sheets, nested
  * DOM, tables and boilerplate navigation, plus a share of PDF documents,
  * all on one host.
  *
  * Every decision is a pure function of (seed, page), so the same
  * seed always yields the same site, whatever the generation order. The
  * site's robots.txt allows PDFs (unlike `SyntheticWeb`'s), so the PDF
  * extractor runs in the crawl.
  */
object HeavySite {

  val Host = "h0.heavybench.org"
  private val MinBytes = 20000
  private val MaxBytes = 120000
  private val StyleShare = 0.75 // pages carrying an inline <style> block
  private val SheetShare = 0.6 // pages linking the host's stylesheet
  private val PdfEvery = 8 // a PDF for every PdfEvery pages, all linked from the root page
  private val Fanout = 64 // page j links pages j*Fanout+1 .. j*Fanout+Fanout

  def pageUrl(j: Int): String = s"https://$Host/p$j.html"
  def pdfUrl(j: Int): String = s"https://$Host/doc$j.pdf"
  val sheetUrl: String = s"https://$Host/css/site.css"

  private def rng(seed: Long, parts: Long*): SplittableRandom = {
    var h = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    parts.foreach { p => h = java.lang.Long.rotateLeft(h ^ p, 29) * 0xBF58476D1CE4E5B9L }
    new SplittableRandom(h)
  }

  // A fixed pseudo-vocabulary of syllable words: text looks like prose to
  // the analyzer (word counts, language guess) without natural-language
  // fixtures on disk.
  private val syllables = Vector("ka", "lo", "mi", "ne", "ta", "ro", "su", "vi",
    "de", "pa", "ri", "no", "se", "ma", "tu", "le", "ba", "xo", "fi", "ga")
  private val vocab: Vector[String] = {
    val r = new SplittableRandom(7L)
    Vector.fill(4000) {
      val n = 1 + r.nextInt(4)
      (0 until n).map(_ => syllables(r.nextInt(syllables.size))).mkString
    }.distinct
  }
  private val common = Vector("the", "and", "of", "to", "in", "is", "that",
    "for", "with", "on", "as", "by", "this", "from", "are", "was")

  private def sentence(r: SplittableRandom, words: Int): String = {
    val sb = new StringBuilder
    var k = 0
    while (k < words) {
      if (k > 0) sb.append(' ')
      sb.append(if (r.nextInt(3) == 0) common(r.nextInt(common.size))
        else vocab(r.nextInt(vocab.size)))
      k += 1
    }
    sb.toString
  }

  /** CSS rules that touch display/visibility (the cascade's work) mixed
    * with rules it ignores; class names match ones the pages use.
    */
  private def cssRules(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    var k = 0
    while (k < n) {
      val c = r.nextInt(40)
      r.nextInt(8) match {
        case 0 => sb.append(s".c$c { display: block; margin: ${r.nextInt(20)}px }\n")
        case 1 => sb.append(s"div.b$c { visibility: visible; color: #${r.nextInt(4096)} }\n")
        case 2 => sb.append(s"section.s$c .x, p.c$c { display: inline-block }\n")
        case 3 => sb.append(s"@media screen { .m$c { display: flex } }\n")
        case 4 => sb.append(s"@media print { .c$c { display: none } }\n")
        case 5 => sb.append(s"#n$c { font-size: ${10 + r.nextInt(8)}px }\n")
        case 6 => sb.append(s"span.t$c, li.c$c { display: inline }\n")
        case _ => sb.append(s"/* rule $k */ td.c$c { padding: ${r.nextInt(9)}px }\n")
      }
      k += 1
    }
    sb.append(".promo { display: none }\n.tip { visibility: hidden }\n")
    sb.toString
  }

  /** A seeded permutation of 0 until n: page j takes its size from stratum
    * order(j).
    */
  private def strata(seed: Long, n: Int): Array[Int] = {
    val r = rng(seed, 4L)
    val a = Array.range(0, n)
    for (k <- a.length - 1 to 1 by -1) { val m = r.nextInt(k + 1); val t = a(k); a(k) = a(m); a(m) = t }
    a
  }

  private def isPdf(j: Int): Boolean = j % PdfEvery == PdfEvery - 1

  private def pdfBody(seed: Long, j: Int): String = {
    val r = rng(seed, 3L, j.toLong)
    val pages = (0 until 2 + r.nextInt(4)).map { _ =>
      (0 until 3 + r.nextInt(4)).map { _ =>
        PdfFixture.Block((0 until 3 + r.nextInt(5)).map(_ => sentence(r, 8 + r.nextInt(6))),
          if (r.nextInt(5) == 0) 14.0 else 10.0)
      }
    }
    PdfFixture.pdf(pages, title = s"Report $j of $Host",
      header = s"$Host reports", pageNumbers = true,
      compress = r.nextBoolean())
  }

  private def htmlPage(seed: Long, n: Int, order: Array[Int], j: Int): String = {
    val r = rng(seed, 1L, j.toLong)
    // log-uniform sizes, stratified: the n pages take one size from each of
    // n equal strata in a seeded order, so every seed serves the same size
    // mix and only the content differs
    val stratum = (order(j) + r.nextDouble()) / n
    val target = (MinBytes * math.pow(MaxBytes.toDouble / MinBytes, stratum)).toInt
    val sb = new StringBuilder(target + 4096)
    sb.append("<!DOCTYPE html><html lang=\"en\"><head><meta charset=\"utf-8\">")
    sb.append(s"<title>Article $j on $Host</title>")
    if (r.nextDouble() < SheetShare)
      sb.append("<link rel=\"stylesheet\" href=\"/css/site.css\">")
    if (r.nextDouble() < StyleShare)
      sb.append("<style>\n").append(cssRules(r, 20 + target / 600)).append("</style>")
    sb.append(s"</head><body class=\"page c${r.nextInt(40)}\">")
    // site-wide boilerplate navigation: identical on every page
    sb.append("<header class=\"site-header\"><nav class=\"main-nav\"><ul>")
    (0 until math.min(12, n)).foreach(t =>
      sb.append(s"<li class=\"c$t\"><a href=\"/p$t.html\">Section $t of $Host</a></li>"))
    sb.append("</ul></nav></header><div class=\"container\"><div class=\"row\">")
    sb.append("<main class=\"content\"><article>")
    sb.append(s"<h1>${sentence(r, 6)}</h1>")
    while (sb.length < target) {
      sb.append(s"<section class=\"s${r.nextInt(40)}\"><h2>${sentence(r, 5)}</h2>")
      (0 until 2 + r.nextInt(4)).foreach { _ =>
        r.nextInt(6) match {
          case 0 =>
            sb.append(s"<table class=\"data c${r.nextInt(40)}\"><thead><tr>")
            val cols = 3 + r.nextInt(4)
            (0 until cols).foreach(c => sb.append(s"<th>${sentence(r, 2)}</th>"))
            sb.append("</tr></thead><tbody>")
            (0 until 4 + r.nextInt(12)).foreach { _ =>
              sb.append("<tr>")
              (0 until cols).foreach(_ => sb.append(s"<td class=\"c${r.nextInt(40)}\">${sentence(r, 1 + r.nextInt(4))}</td>"))
              sb.append("</tr>")
            }
            sb.append("</tbody></table>")
          case 1 =>
            sb.append(s"<ul class=\"bullets m${r.nextInt(40)}\">")
            (0 until 3 + r.nextInt(6)).foreach(_ =>
              sb.append(s"<li class=\"c${r.nextInt(40)}\">${sentence(r, 6 + r.nextInt(10))}</li>"))
            sb.append("</ul>")
          case 2 =>
            // deep nesting: the DOM walk and the per-element cascade
            val depth = 4 + r.nextInt(6)
            (0 until depth).foreach(d => sb.append(s"<div class=\"b${r.nextInt(40)} x\" id=\"n${r.nextInt(40)}\">"))
            sb.append(s"<span class=\"t${r.nextInt(40)}\">${sentence(r, 10 + r.nextInt(20))}</span>")
            (0 until depth).foreach(_ => sb.append("</div>"))
          case 3 =>
            sb.append(s"<div class=\"promo\"><p>${sentence(r, 12)}</p></div>")
            sb.append(s"<p class=\"tip\">${sentence(r, 8)}</p>")
          case _ =>
            sb.append(s"<div class=\"b${r.nextInt(40)}\"><p class=\"c${r.nextInt(40)}\">")
              .append(sentence(r, 30 + r.nextInt(60)))
              .append(s" <a href=\"/p${r.nextInt(n)}.html#ref\">${sentence(r, 3)}</a> ")
              .append(sentence(r, 10 + r.nextInt(20))).append("</p></div>")
        }
      }
      sb.append("</section>")
    }
    sb.append("</article></main><aside class=\"sidebar\"><h3>Related</h3><ul>")
    // tree links (few, wide waves)
    (1 to Fanout).map(f => j * Fanout + f).filter(_ < n).foreach(t =>
      sb.append(s"<li><a href=\"/p$t.html\">${sentence(r, 4)}</a></li>"))
    if (j == 0) (0 until n).filter(isPdf).foreach(t =>
      sb.append(s"<li><a href=\"/doc$t.pdf\">Report $t (PDF)</a></li>"))
    sb.append("</ul></aside></div></div><footer class=\"site-footer\">")
    sb.append(s"<p>Copyright $Host all rights reserved</p>")
    sb.append("<ul class=\"legal\"><li><a href=\"/p0.html\">Home</a></li>")
    sb.append("<li><a href=\"/private/admin.html\">Admin</a></li></ul></footer>")
    sb.append("</body></html>")
    sb.toString
  }

  /** The site: `pages` HTML pages, a PDF for every eighth page, and the
    * stylesheet they link.
    */
  def generate(pages: Int, seed: Long): SyntheticWeb.Site = {
    val order = strata(seed, pages)
    val site = Map.newBuilder[String, SyntheticPage]
    site += sheetUrl -> SyntheticPage(sheetUrl, Host, 200, "text/css", null,
      cssRules(rng(seed, 2L), 150))
    for (j <- 0 until pages) {
      site += pageUrl(j) -> SyntheticPage(pageUrl(j), Host, 200, "text/html",
        null, htmlPage(seed, pages, order, j))
      if (isPdf(j))
        site += pdfUrl(j) -> SyntheticPage(pdfUrl(j), Host, 200,
          "application/pdf", null, pdfBody(seed, j))
    }
    SyntheticWeb.Site(site.result(),
      Map(Host -> "User-agent: *\nDisallow: /private/\nCrawl-delay: 0\n"), Map.empty, pageUrl(0))
  }

  /** Input properties of a site's documents (HTML and PDF bodies), so later
    * claims can name the measured share of the property they depend on.
    */
  final case class Properties(docs: Int, bytesP50: Double, bytesP99: Double,
      styleShare: Double, sheetShare: Double, pdfShare: Double)

  def properties(site: SyntheticWeb.Site): Properties = {
    val docs = site.pages.values.filter(p => p.status == 200 &&
      (p.content_type == "text/html" || p.content_type == "application/pdf")).toVector
    val sizes = docs.map(_.html.length.toDouble)
    val html = docs.filter(_.content_type == "text/html")
    def share(n: Int) = if (docs.isEmpty) 0.0 else n.toDouble / docs.size
    Properties(docs.size, Fmt.quantile(sizes, 0.5), Fmt.quantile(sizes, 0.99),
      share(html.count(_.html.contains("<style>"))),
      share(html.count(_.html.contains("rel=\"stylesheet\""))),
      share(docs.count(_.content_type == "application/pdf")))
  }
}
