package perfbench

import graft.core.ScopeFilter
import graft.crawl.{CrawlConfig, SyntheticWeb}

/** One benchmark workload: the generated site, the crawl config (user
  * defaults except the fields that give the workload its shape), how many
  * junk hashes pre-seed the seen set, and the size of each forget batch.
  */
final case class Workload(
    name: String,
    site: SyntheticWeb.Site,
    config: CrawlConfig,
    preSeeded: Long,
    forgetBatch: Int)

object Workloads {

  val names: Seq[String] = Seq("wide_crawl", "heavy_pages")

  /** The dataset export's per-site document minimum, lowered from the
    * export's default of 50 so that every site of every workload, at the
    * self-test's size too, passes it and all crawled documents are exported.
    */
  val ExportMinDocs: Long = 10L

  /** `scale` shrinks every workload for the self-test (1.0 = benchmark size). */
  def build(name: String, seed: Long, scale: Double): Workload = {
    def n(full: Int, min: Int) = math.max(min, math.round(full * scale).toInt)
    name match {
      case "wide_crawl" =>
        // few big waves over many hosts, on a seen set pre-seeded past
        // bloomMinSeenRows so the Bloom/Cuckoo filters engage
        val site = SyntheticWeb.generate(SyntheticWeb.Spec(hosts = 8,
          pagesPerHost = n(36, 12), hotHostFactor = 3, fanout = 64, seed = seed,
          treeLinks = true, sharedDomain = true))
        Workload(name, site, CrawlConfig(rootUrl = site.rootUrl,
          scope = ScopeFilter.Domain, waveBudgetMs = 600000L),
          preSeeded = n(210000, 1000).toLong, forgetBatch = n(40, 10))
      case "heavy_pages" =>
        // 20-120 KB pages, inline and linked CSS, PDFs: extraction-bound.
        // One small site in two waves (the root, then every page and PDF)
        val site = HeavySite.generate(pages = n(30, 10), seed = seed)
        Workload(name, site, CrawlConfig(rootUrl = site.rootUrl,
          scope = ScopeFilter.Domain), preSeeded = 0L, forgetBatch = n(6, 3))
      case other =>
        throw new IllegalArgumentException(
          s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
    }
  }
}
