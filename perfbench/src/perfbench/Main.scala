package perfbench

import graft.crawl.{SequentialOracle, SyntheticFetcher}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Crawl-lifecycle benchmark.
  *
  * {{{
  * Main --workload <wide_crawl|heavy_pages> --seed <n> --trace <0|1>
  *      --work-dir <dir> [--scale <f>]
  * }}}
  *
  * Generates the workload's site from the seed, then makes exactly one cold
  * pass of the lifecycle (seed warehouse → crawl → two forget batches →
  * compact seen → dataset export → per-document file export) on a fresh
  * warehouse, checking every output against the sequential oracle outside
  * the timed phases. The last stdout line is one JSON object: `correct`,
  * `attempted`, `failed`, `metrics`. With `--trace 0` the metrics are the
  * end-to-end ones; with `--trace 1` they are the per-layer ones of a
  * traced pass, and the span tree is written to [[TraceDir]].
  */
object Main {

  final case class Opts(workload: String, seed: Long, trace: Boolean, workDir: Path,
      scale: Double)

  /** Where traced runs write their span trees, relative to the checkout. */
  val TraceDir: Path = Path.of(".bench_build", "perfbench", "traces")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val o = Opts(need("workload"), need("seed").toLong, trace, Path.of(need("work-dir")),
      m.get("scale").map(_.toDouble).getOrElse(1.0))
    require(Workloads.names.contains(o.workload), s"unknown workload ${o.workload}")
    o
  }

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def run(o: Opts): Int = {
    Jvm.install()
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(o.workDir)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.workDir.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val listener = if (o.trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)

    val t1 = System.nanoTime()
    val w = Workloads.build(o.workload, o.seed, o.scale)
    val genS = (System.nanoTime() - t1) / 1e9
    val props = HeavySite.properties(w.site)
    println("input " + Fmt.json(mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> o.seed, "documents_served" -> props.docs,
      "bytes_per_page_p50" -> props.bytesP50, "bytes_per_page_p99" -> props.bytesP99,
      "share_with_style" -> props.styleShare, "share_with_linked_sheet" -> props.sheetShare,
      "share_pdf" -> props.pdfShare, "pre_seeded_seen" -> w.preSeeded, "cores" -> cores)))

    // the oracle is the correctness reference, computed once and outside
    // every timed phase
    val tOracle = System.nanoTime()
    val oracle = SequentialOracle.crawl(w.site, w.config)
    log(s"oracle: ${oracle.crawlOrder.size} pages, ${oracle.documents.size} documents " +
      s"(${Gate.exportedDocs(oracle, Workloads.ExportMinDocs)} past the export gate) in " +
      s"${Fmt.short((System.nanoTime() - tOracle) / 1e9)} s")

    val t2 = System.nanoTime()
    val fetcher = SyntheticFetcher.broadcast(spark, w.site)
    val broadcastS = (System.nanoTime() - t2) / 1e9
    log(s"session ${Fmt.short(sessionS)} s, site ${Fmt.short(genS)} s, broadcast ${Fmt.short(broadcastS)} s")
    val iterDir = o.workDir.resolve("iterations")

    val result =
      if (!o.trace)
        untraced(new Lifecycle(spark, w, oracle, fetcher, cores, iterDir), sessionS + genS + broadcastS)
      else Layers.traced(o, spark, w, oracle,
        new Lifecycle(spark, w, oracle, CountingFetcher(spark.sparkContext, fetcher), cores, iterDir),
        listener.get)
    println(result)
    spark.stop()
    0
  }

  /** End-to-end run: one cold lifecycle pass. */
  private def untraced(life: Lifecycle, onceS: Double): String = {
    val it = life.iteration(0)
    log(s"pass: setup ${Fmt.short(it.setupS)} s, crawl ${Fmt.short(it.crawlS)} s " +
      s"(${it.pages} pages, ${it.waves} waves), seen maintenance ${Fmt.short(it.seenMaintenanceS)} s, " +
      s"export ${it.exportRepsS.map(Fmt.short).mkString("/")} s, render ${it.renderRepsS.map(Fmt.short).mkString("/")} s, " +
      s"forget ${Fmt.short(it.forgetAS)}/${Fmt.short(it.forgetBS)} s, compact ${Fmt.short(it.compactS)} s" +
      (if (it.failures.isEmpty) "" else s", FAILED: ${it.failures.mkString("; ")}"))
    val metrics = mutable.LinkedHashMap[String, (Double, String)](
      "crawl_pages_per_s" -> (it.crawlPagesPerS, "1/s"),
      "export_docs_per_s" -> (it.exportDocsPerS, "1/s"),
      "render_docs_per_s" -> (it.renderDocsPerS, "1/s"),
      "seen_maintenance_s" -> (it.seenMaintenanceS, "s"),
      "bytes_per_page" -> (it.bytesPerPage, "B"),
      "ok_share" -> ((it.attempted - it.failedOps).toDouble / it.attempted, "ratio"),
      "setup_s" -> (onceS + it.setupS, "s"))
    resultLine(it.failedOps == 0, it.attempted, it.failedOps, metrics)
  }

  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: scala.collection.Map[String, (Double, String)]): String =
    Fmt.json(mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u)
      }))
}
