package perfbench

import graft.Graft
import graft.crawl.{CrawlEngine, Fetcher, SeenMaintenance, SequentialOracle, TableIO}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}
import java.nio.file.{Files, Path}

/** Timings and outputs of one crawl → forget → compact → export → render
  * pass over a fresh warehouse. An operation that threw leaves its time
  * NaN; one that failed its output check keeps its time and counts in
  * `failedOps`, so the result reports it as incorrect.
  */
final case class Iteration(
    setupS: Double,
    crawlS: Double,
    pages: Long,
    waves: Int,
    forgetAS: Double,
    forgetBS: Double,
    compactS: Double,
    exportS: Double, // mean time of one dataset export call
    renderS: Double, // mean time of one file export call
    exportDocs: Long, // documents the dataset export keeps (past its per-site gate)
    renderDocs: Long, // documents the file export renders (all of them)
    warehouseBytes: Long,
    attempted: Int,
    failedOps: Int,
    failures: Seq[String],
    seenRows: Long = 0L,
    bloomEngaged: Boolean = false,
    forgets: Seq[SeenMaintenance.ForgetReport] = Nil,
    exportFiles: (Long, Long) = (0L, 0L),
    renderFiles: (Long, Long) = (0L, 0L),
    warehouseTables: Map[String, (Long, Long)] = Map.empty,
    inEngineExtractMs: Double = Double.NaN,
    exportRepsS: Seq[Double] = Nil,
    renderRepsS: Seq[Double] = Nil) {
  def seenMaintenanceS: Double = forgetAS + forgetBS + compactS
  def crawlPagesPerS: Double = pages / crawlS
  def exportDocsPerS: Double = exportDocs / exportS
  def renderDocsPerS: Double = renderDocs / renderS
  def bytesPerPage: Double = warehouseBytes.toDouble / pages
}

/** Drives one workload through the public API the way a user does: the
  * Spark driver is the only client and submits each step after the previous one
  * committed (a closed loop of one).
  */
final class Lifecycle(spark: SparkSession, w: Workload, oracle: SequentialOracle.Result,
    val fetcher: Fetcher, parts: Int, workDir: Path) {

  private val docsSorted = oracle.documents.sortBy(_.seq)
  // two disjoint forget batches of crawled documents, spread over the crawl
  private val (batchA, batchB) = {
    val k = math.min(w.forgetBatch, docsSorted.size / 2)
    val stride = math.max(1, docsSorted.size / (2 * math.max(k, 1)))
    val picked = docsSorted.indices.by(stride).take(2 * k).map(i => docsSorted(i).doc_id)
    (picked.indices.filter(_ % 2 == 0).map(picked), picked.indices.filter(_ % 2 == 1).map(picked))
  }
  val expectedExport: Long = Gate.exportedDocs(oracle, Workloads.ExportMinDocs)

  /** One pass. With a recorder, every phase is a span and the crawl runs
    * one `run(1)` call per wave, each its own span.
    */
  def iteration(k: Int, rec: Option[SpanRecorder] = None): Iteration = {
    val dir = workDir.resolve(s"it$k")
    val wh = dir.resolve("warehouse").toString
    var attempted = 0
    var failedOps = 0
    val failures = Seq.newBuilder[String]
    def span[T](name: String)(f: => T): T = rec match {
      case Some(r) => r(name)(f)
      case None => f
    }
    /** Time one user-visible operation; a throw is a failure, never dropped. */
    def op[T](name: String)(f: => T): (Option[T], Double) = {
      attempted += 1
      val t0 = System.nanoTime()
      val r = try Some(span(name)(f)) catch {
        case e: Exception =>
          failedOps += 1
          failures += s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
      (r, if (r.isDefined) (System.nanoTime() - t0) / 1e9 else Double.NaN)
    }
    def check(name: String)(bad: => Seq[String]): Unit = {
      val b = try span("check")(bad) catch {
        case e: Exception => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      b.foreach(m => failures += s"$name: $m")
      if (b.nonEmpty) failedOps += 1
    }

    val io = new TableIO(wh, spark)
    val (_, setupS) = op("setup") {
      val junk = if (w.preSeeded <= 0) null
        else spark.range(w.preSeeded).select((col("id") + Gate.JunkBase).as("url_hash"))
      CrawlEngine.seedWarehouse(spark, io, w.config, extraSeen = junk)
    }

    var waves = 0
    val (crawled, crawlS) = op("crawl") {
      rec match {
        case Some(r) =>
          val engine = new CrawlEngine(spark, io, w.config, fetcher, parts)
          var more = true
          while (more) {
            more = r(s"wave $waves")(engine.run(1)) > 0
            if (more) waves += 1
          }
        case None =>
          waves = Graft.crawl(spark, w.config, fetcher, wh, parts).wavesProcessed
      }
    }
    val metricsDf = Graft.metrics(spark, wh)
    val pages = if (crawled.isEmpty) 0L
      else metricsDf.agg(sum(col("pages"))).head().getLong(0)
    if (crawled.isDefined) check("crawl")(Gate.crawl(spark, io, oracle, w.preSeeded))
    val tables = WarehouseListing.tables(Path.of(wh))
    val whBytes = tables.values.map(_._2).sum
    val inEngineMs = if (pages == 0) Double.NaN
      else metricsDf.agg(sum(col("extract_ms"))).head().getDouble(0) / pages

    val seenBefore = Graft.seenHashes(spark, wh).count()
    val engaged = io.waveExists("blooms", io.committedWave)
    def forget(name: String, urls: Seq[String]) = {
      val (r, s) = op(name)(Graft.forgetUrls(spark, wh, urls))
      if (r.isDefined) check(name)(r.toSeq.flatMap { rep =>
        Seq(
          if (rep.requestedHashes != urls.size) Some(s"requested ${rep.requestedHashes}, batch ${urls.size}") else None,
          if (rep.retractedSeen != urls.size) Some(s"retracted ${rep.retractedSeen}, batch ${urls.size}") else None
        ).flatten
      })
      (r, s)
    }
    def exportOnce(r: Int): (Double, (Long, Long)) = {
      val out = dir.resolve(s"dataset$r")
      val (done, s) = op("export")(Graft.exportDataset(Graft.documents(spark, wh), out.toString,
        minDocsPerSite = Workloads.ExportMinDocs))
      val files = Gate.files(out, ".parquet")
      if (done.isDefined) check("export") {
        val rows = if (files._1 == 0) 0L
          else spark.read.option("pathGlobFilter", "*.parquet").parquet(out.toString).count()
        if (expectedExport == 0) Seq("no document passes the export gate")
        else if (rows != expectedExport) Seq(s"$rows rows, expected $expectedExport")
        else Nil
      }
      (s, files)
    }
    def renderOnce(r: Int): (Double, (Long, Long)) = {
      val (contentDir, s) = op("render")(Graft.exportFiles(spark, wh, dir.resolve(s"files$r").toString))
      val files = contentDir.map(d => Gate.files(Path.of(d))).getOrElse((0L, 0L))
      if (contentDir.isDefined) check("render") {
        val expected = 3L * oracle.documents.size
        if (files._1 != expected) Seq(s"${files._1} files, expected $expected") else Nil
      }
      (s, files)
    }

    // The short export calls run three times and the render twice, and
    // their mean time is reported: the first call of each pays code
    // generation, as a user's first call does, and a mean over several
    // calls varies less than any one of them. The calls are interleaved
    // with the maintenance steps, which neither read nor change what they
    // export (forget keeps documents), so that a burst of outside load
    // slows one sample rather than all of them.
    val exports, renders = Seq.newBuilder[(Double, (Long, Long))]
    val (repA, forgetAS) = forget("forget_a", batchA)
    exports += exportOnce(0)
    renders += renderOnce(0)
    val (repB, forgetBS) = forget("forget_b", batchB)
    exports += exportOnce(1)
    renders += renderOnce(1)
    val (compacted, compactS) = op("compact")(Graft.compactTable(spark, wh, "seen"))
    val retracted = (repA ++ repB).map(_.retractedSeen).sum
    if (compacted.isDefined) check("compact")(compacted.toSeq.flatMap { n =>
      val after = Graft.seenHashes(spark, wh).count()
      Seq(
        if (n != seenBefore - retracted) Some(s"compacted $n rows, expected ${seenBefore - retracted}") else None,
        if (after != n) Some(s"seen reads $after rows after compaction of $n") else None
      ).flatten
    })
    exports += exportOnce(2)
    val exportRuns = exports.result()
    val renderRuns = renders.result()
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    deleteTree(dir)

    Iteration(setupS, crawlS, pages, waves, forgetAS, forgetBS, compactS,
      mean(exportRuns.map(_._1)), mean(renderRuns.map(_._1)), expectedExport,
      oracle.documents.size.toLong, whBytes, attempted, failedOps, failures.result(), seenBefore,
      engaged, repA.toSeq ++ repB.toSeq, exportRuns.head._2, renderRuns.head._2, tables, inEngineMs,
      exportRuns.map(_._1), renderRuns.map(_._1))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}

/** Per-table file counts and bytes of a warehouse (generations folded). */
object WarehouseListing {
  def tables(wh: Path): Map[String, (Long, Long)] =
    if (!Files.exists(wh)) Map.empty
    else {
      val s = Files.list(wh)
      try {
        val dirs = s.iterator()
        val out = scala.collection.mutable.Map.empty[String, (Long, Long)]
        dirs.forEachRemaining { p =>
          val name = p.getFileName.toString.replaceAll("_g\\d+$", "")
          val (n, b) = if (Files.isDirectory(p)) Gate.files(p)
            else (1L, Files.size(p))
          val key = if (Files.isDirectory(p)) name else "manifest"
          val (n0, b0) = out.getOrElse(key, (0L, 0L))
          out(key) = (n0 + n, b0 + b)
        }
        out.toMap
      } finally s.close()
    }
}
