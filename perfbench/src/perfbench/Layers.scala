package perfbench

import graft.Graft
import graft.core.UrlCanonicalizer
import graft.crawl.{CrawlEngine, CssFetch, FetchedPage, SequentialOracle}
import graft.extract.{DocAnalysis, HtmlParser, HtmlToSpans, PdfToSpans}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The traced run: per-layer metrics, timed from outside around calls into
  * each module, plus Spark job/stage accounting from a listener.
  */
object Layers {

  /** Call sites reported as `jobs.<callsite>.count|s` (every call site,
    * listed or not, is in the trace file).
    */
  val Callsites: Seq[String] = Seq(
    "CrawlEngine.runWave", "CrawlEngine.readBlooms", "CrawlEngine.assignSeq",
    "CrawlEngine.seedWarehouse", "TableIO.stage", "TableIO.stageGeneration",
    "SeenMaintenance.forget", "SeenMaintenance.maintainFilterBuckets",
    "SeenMaintenance.compactTable", "DatasetExport.write", "DatasetExport.datasetCard",
    "FileExport.writeFiles")

  val Tables: Seq[String] = Seq("frontier", "seen", "documents", "unique_blocks", "metrics",
    "hosts", "host_counts", "blooms", "fetch_log", "errors")

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def traced(o: Main.Opts, spark: SparkSession, w: Workload, oracle: SequentialOracle.Result,
      counted: Lifecycle, listener: JobListener): String = {
    val cores = Runtime.getRuntime.availableProcessors()
    // one traced pass, cold like an end-to-end run, so its layers explain
    // the end-to-end figures
    val rec = new SpanRecorder
    val runSpan = rec.start("run")
    val wlSpan = rec.start(s"workload ${w.name}")
    val gc0 = Jvm.gcSeconds
    Jvm.resetPeak()
    listener.settle()
    val listener0 = listener.selfSeconds
    val pass0 = System.nanoTime()
    val it = counted.iteration(0, Some(rec))
    val passS = (System.nanoTime() - pass0) / 1e9
    val gcS = Jvm.gcSeconds - gc0
    val peakMb = Jvm.peakOldMb
    val extract = rec("extract_probe")(extractProbe(w, oracle))
    rec.finish(wlSpan)
    rec.finish(runSpan)
    listener.settle()
    val listenerS = listener.selfSeconds - listener0
    val (allJobs, stages) = listener.snapshot
    // only the traced pass's jobs: those that started inside a span
    val jobOwner: Map[Int, Int] =
      allJobs.flatMap(j => rec.innermostAt(j.startMs).map(s => j.id -> s.id)).toMap
    val jobs = allJobs.filter(j => jobOwner.contains(j.id))
    log(s"traced pass: crawl ${Fmt.short(it.crawlS)} s" +
      (if (it.failures.isEmpty) "" else s", FAILED: ${it.failures.mkString("; ")}"))

    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, unit: String): Unit = m(k) = (v, unit)

    // --- crawl.CrawlEngine wave loop -------------------------------------
    val waves = rec.named("wave ").filter(s => jobs.exists(j => s.contains(j.startMs)))
    val waveS = waves.map(_.seconds)
    def under(s: rec.Span): Seq[JobListener.JobRec] = {
      def descends(id: Int): Boolean = id == s.id ||
        (id >= 0 && rec.all(id).parent >= 0 && descends(rec.all(id).parent))
      jobs.filter(j => jobOwner.get(j.id).exists(descends))
    }
    def stagesOf(js: Seq[JobListener.JobRec]) = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
    val perWave = waves.map { s =>
      val js = under(s)
      val st = stagesOf(js)
      (js.size.toDouble, st.size.toDouble, st.map(_.tasks).sum.toDouble,
        s.seconds - busySeconds(js, s))
    }
    put("wave.count", waves.size, "count")
    put("wave.s_p50", Fmt.median(waveS.drop(1)), "s")
    put("wave.s_max", if (waveS.isEmpty) Double.NaN else waveS.max, "s")
    put("wave.w0_s", waveS.headOption.getOrElse(Double.NaN), "s")
    put("wave.jobs", Fmt.median(perWave.map(_._1)), "count")
    put("wave.stages", Fmt.median(perWave.map(_._2)), "count")
    put("wave.tasks", Fmt.median(perWave.map(_._3)), "count")
    put("wave.driver_only_s", perWave.map(_._4).sum, "s")
    val crawlSpan = rec.named("crawl").head
    val crawlStages = stagesOf(under(crawlSpan))
    put("executor_busy_share",
      crawlStages.flatMap(_.taskMs).sum / 1000.0 / (crawlSpan.seconds * cores), "ratio")

    // --- Spark exchange ---------------------------------------------------
    val allStages = stagesOf(jobs)
    put("shuffle.write_bytes", allStages.map(_.shuffleWrite).sum.toDouble, "B")
    put("shuffle.read_bytes", allStages.map(_.shuffleRead).sum.toDouble, "B")
    put("spill_bytes", allStages.map(_.spill).sum.toDouble, "B")
    // skew over stages with at least one task per core and real work
    val skews = crawlStages.filter(s => s.tasks >= cores && s.taskMs.sum >= 200).map { s =>
      s.taskMs.max / math.max(1.0, Fmt.median(s.taskMs.map(_.toDouble).toSeq))
    }
    put("task_skew_max", if (skews.isEmpty) 1.0 else skews.max, "ratio")
    put("jobs.count", jobs.size, "count")
    put("jobs.s", jobs.map(j => (j.endMs - j.startMs) / 1000.0).sum, "s")
    val bySite = jobs.groupBy(_.callsite)
    Callsites.foreach { c =>
      val js = bySite.getOrElse(c, Nil)
      put(s"jobs.$c.count", js.size, "count")
      put(s"jobs.$c.s", js.map(j => (j.endMs - j.startMs) / 1000.0).sum, "s")
    }

    // --- crawl.TableIO ------------------------------------------------------
    val stageJobs = under(crawlSpan).filter(_.callsite == "TableIO.stage")
    put("stage_write.jobs", stageJobs.size, "count")
    put("stage_write.s", stageJobs.map(j => (j.endMs - j.startMs) / 1000.0).sum, "s")
    put("stage_write.bytes", stagesOf(stageJobs).map(_.output).sum.toDouble, "B")
    Tables.foreach { t =>
      val (n, b) = it.warehouseTables.getOrElse(t, (0L, 0L))
      put(s"warehouse.$t.files", n, "count")
      put(s"warehouse.$t.bytes", b, "B")
    }

    // --- fetch ----------------------------------------------------------------
    val f = counted.fetcher.asInstanceOf[CountingFetcher]
    put("fetch.page_calls", f.pageCalls.value.toDouble, "count")
    put("fetch.css_calls", f.cssCalls.value.toDouble, "count")
    put("fetch.robots_calls", f.robotsCalls.value.toDouble, "count")
    put("fetch.body_bytes", f.bodyBytes.value.toDouble, "B")
    put("css.hit_ratio", if (f.cssCalls.value == 0) 0.0
      else f.pagesWithSheet.value.toDouble / f.cssCalls.value, "ratio")

    // --- extract ----------------------------------------------------------------
    extract.foreach { case (k, v) => put(k, v, if (k == "extract.samples") "count" else "us") }
    put("extract.in_engine_ms", it.inEngineExtractMs, "ms")

    // --- seen layer ---------------------------------------------------------------
    put("seen.rows", it.seenRows, "count")
    put("seen.bloom_engaged", if (it.bloomEngaged) 1 else 0, "bool")
    put("forget.a_s", it.forgetAS, "s")
    put("forget.b_s", it.forgetBS, "s")
    put("compact.s", it.compactS, "s")
    put("forget.requested", it.forgets.map(_.requestedHashes).sum, "count")
    put("forget.retracted", it.forgets.map(_.retractedSeen).sum, "count")
    put("forget.to_cuckoo", it.forgets.map(_.bucketsRebuiltToCuckoo).sum, "count")
    put("forget.cuckoo_deleted", it.forgets.map(_.bucketsCuckooDeleted).sum, "count")
    put("forget.skipped_pending", it.forgets.map(_.skippedPending).sum, "count")

    // --- export --------------------------------------------------------------------
    put("export.s", it.exportS, "s")
    put("export.files", it.exportFiles._1, "count")
    put("export.bytes", it.exportFiles._2, "B")
    put("render.s", it.renderS, "s")
    put("render.files", it.renderFiles._1, "count")
    put("render.bytes", it.renderFiles._2, "B")

    // --- JVM and tracing ----------------------------------------------------------
    put("gc_s", gcS, "s")
    put("peak_heap_mb", peakMb, "MB")
    put("traced.crawl_pages_per_s", it.crawlPagesPerS, "1/s")
    // tracing's own cost over the traced pass: CPU time inside the listener
    // callbacks (on Spark's listener-bus thread) and inside the counting
    // wrapper (on the fetch tasks), as a share of the pass's core-seconds
    // (wall x cores). It is not a measured slowdown of the crawl
    val tracingS = listenerS + f.selfNanos.value / 1e9
    put("tracing.overhead_s", tracingS, "s")
    put("tracing.overhead_share", tracingS / (passS * cores), "ratio")

    writeTrace(o, w, rec, jobs, stages, jobOwner, m)
    Main.resultLine(it.failedOps == 0, it.attempted, it.failedOps, m)
  }

  /** Seconds of `s` during which at least one of `js` was running. */
  private def busySeconds(js: Seq[JobListener.JobRec], s: SpanRecorder#Span): Double = {
    val iv = js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: (Long, Long) = null
    iv.foreach { case (a, b) =>
      if (cur == null) cur = (a, b)
      else if (a <= cur._2) cur = (cur._1, math.max(cur._2, b))
      else { total += cur._2 - cur._1; cur = (a, b) }
    }
    if (cur != null) total += cur._2 - cur._1
    total / 1000.0
  }

  /** Single-threaded timings of the extraction modules on the workload's
    * own pages (a deterministic sample of what the crawl fetched).
    */
  private def extractProbe(w: Workload, oracle: SequentialOracle.Result): Seq[(String, Double)] = {
    val fetched = oracle.crawlOrder.flatMap(e => w.site.pages.get(e.url).map(e -> _))
      .filter(_._2.status == 200)
    val html = fetched.filter(_._2.content_type == "text/html")
    val pdf = fetched.filter(_._2.content_type == "application/pdf")
    def sample[T](xs: Seq[T], n: Int) =
      if (xs.size <= n) xs else xs.indices.by(xs.size / n).take(n).map(xs)
    val cache = mutable.Map.empty[String, String]
    def siteFetch(u: String) = w.site.pages.get(u) match {
      case Some(p) => (p.status, p.content_type, p.html)
      case None => (404, "", "")
    }
    val page, parse, spans, links, analyze, pdfUs = mutable.ArrayBuffer.empty[Double]
    def us[T](buf: mutable.ArrayBuffer[Double])(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      buf += (System.nanoTime() - t0) / 1e3
      r
    }
    val deadline = System.nanoTime() + 5000000000L // the probe never runs past 5 s
    (sample(html, 150) ++ sample(pdf, 40)).foreach { case (e, p) =>
      if (System.nanoTime() < deadline) {
        val css = if (p.content_type == "text/html")
          CssFetch.cssFor(p.html, e.url, e.host, siteFetch, cache) else ""
        val fp = FetchedPage(e.url, e.url_hash, e.host, e.parent_url, e.seq, e.depth, e.wave,
          p.status, p.content_type, p.redirect_to, p.html, 0.0, 0, 0, 0, css = css)
        us(page)(CrawlEngine.extractOne(fp, 0))
        if (p.content_type == "text/html") {
          val dom = us(parse)(HtmlParser.parse(p.html))
          val doc = us(spans)(HtmlToSpans.extractDom(dom, if (css.nonEmpty) Seq(css) else Nil))
          us(links)(HtmlToSpans.rawLinks(dom)._1.map(UrlCanonicalizer.resolve(e.url, _)))
          us(analyze)(DocAnalysis.analyzableItems(doc.spans))
        } else us(pdfUs)(PdfToSpans.extract(p.html))
      }
    }
    def p50(b: Seq[Double]) = if (b.isEmpty) 0.0 else Fmt.median(b.toSeq)
    Seq("extract.page_us_p50" -> p50(page.toSeq),
      "extract.page_us_p99" -> (if (page.isEmpty) 0.0 else Fmt.quantile(page.toSeq, 0.99)),
      "extract.parse_us" -> p50(parse.toSeq), "extract.spans_us" -> p50(spans.toSeq),
      "extract.links_us" -> p50(links.toSeq), "extract.analyze_us" -> p50(analyze.toSeq),
      "extract.pdf_us" -> p50(pdfUs.toSeq), "extract.samples" -> page.size.toDouble)
  }

  /** The span tree (phases and the Spark jobs under them) and the metrics,
    * as one JSON file under the work dir.
    */
  private def writeTrace(o: Main.Opts, w: Workload, rec: SpanRecorder,
      jobs: Seq[JobListener.JobRec], stages: Map[Int, JobListener.StageRec],
      jobOwner: Map[Int, Int], metrics: scala.collection.Map[String, (Double, String)]): Unit = {
    val t0 = rec.all.head.startMs
    val spanJson = rec.all.map { s =>
      mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> (s.startMs - t0), "end_ms" -> (s.endMs - t0), "s" -> s.seconds)
    }
    val jobJson = jobs.map { j =>
      val st = j.stageIds.flatMap(stages.get)
      mutable.LinkedHashMap[String, Any]("job" -> j.id, "parent" -> jobOwner.getOrElse(j.id, -1),
        "callsite" -> j.callsite, "start_ms" -> (j.startMs - t0), "end_ms" -> (j.endMs - t0),
        "ok" -> j.ok, "stages" -> st.size, "tasks" -> st.map(_.tasks).sum,
        "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
        "shuffle_read_bytes" -> st.map(_.shuffleRead).sum, "spill_bytes" -> st.map(_.spill).sum,
        "output_bytes" -> st.map(_.output).sum)
    }
    val bySite = jobs.groupBy(_.callsite).toSeq.sortBy(_._1).map { case (c, js) =>
      c -> mutable.LinkedHashMap[String, Any]("count" -> js.size,
        "s" -> js.map(j => (j.endMs - j.startMs) / 1000.0).sum)
    }
    val out = Fmt.json(mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> o.seed, "spans" -> spanJson, "jobs" -> jobJson,
      "callsites" -> mutable.LinkedHashMap(bySite: _*),
      "metrics" -> metrics.map { case (k, (v, u)) => k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) }))
    Files.createDirectories(Main.TraceDir)
    val file = Main.TraceDir.resolve(s"trace-${w.name}-seed${o.seed}.json")
    Files.write(file, out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    log(s"trace written to $file")
  }
}
