package graft

import graft.crawl._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR plus the crawl-engine throughput bench, prints ONE
  * JSON line. `SPARK_GRAFT_CPUS` selects the parallelism level — the
  * sandbox stand-in for cluster size (BASELINE.md §4): run at 8 and 32 to
  * evidence the N→4N scaling criterion.
  */
object Bench {

  /** Fixed-point JSON number: Locale.ROOT, so a comma-decimal default
    * locale cannot turn the contract line into invalid JSON.
    */
  private[graft] def fmt(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** Headline subset: the heavier relational/window/dedup/similarity ops.
    * q_jaccard_pairs is back in the list (round 2): its blocking join is
    * frequency-capped (maxDocFreq), which bounds the hot-shingle quadratic
    * blow-up that forced its round-1 exclusion; q_winnow_pairs joined in
    * round 3 for the same reason, plus the composed q_neardup_export
    * pipeline DAG.
    */
  private val headline = Seq(
    "q_agg_pricing", "q_orders_by_priority", "q_rolling_window",
    "q_first_wins", "q_anti_join", "q_semi_join", "q_join_agg",
    "q_topk_per_group", "q_global_topk", "q_hourly_events",
    "q_lang_histogram", "q_split_assign", "q_lang_rebalance", "q_pack_sequences",
    "q_chunk_docs",
    "q_doc_stats", "q_quality",
    "q_pii_scrub", "q_repetition", "q_normalize_text", "q_bpe_tokens",
    "q_lang_guess", "q_dedup_exact", "q_decontam", "q_jaccard_pairs",
    "q_minhash_lsh", "q_exact_substr",
    "q_lm_typicality", "q_simhash_pairs", "q_dedup_clusters", "q_winnow_pairs",
    "q_neardup_export", "q_pipeline_stats", "q_cosine_topk",
    "q_embedding_neardup", "q_ann_lsh", "q_ivf_topk", "q_pq_topk",
    "q_ivfpq_topk",
    "q_media_meta", "q_media_features", "q_media_resize")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // optional comma-separated subset for profiling (e.g. isolating one
    // query's wall time from its predecessors'); "nocrawl" skips the crawl leg
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val skipCrawl = subset.exists(s => !s.contains("crawl"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // untimed session warmup: JVM/JIT, codegen compilation, and parquet
    // footer reads land here instead of inflating the first timed query
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .limit(1000).agg(count(lit(1))).collect()
    spark.range(1000000).agg(sum(col("id"))).collect()

    // Each query runs REPS times and we record the MIN (plus all samples):
    // on a shared box a single co-scheduled noisy process can inflate one
    // sample several-fold, and two earlier rounds produced phantom
    // regressions that way. min-of-3 cannot be manufactured by contention.
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    headline.filter(n => subset.forall(_.contains(n))).foreach { name =>
      val fn = SparkEntry.queries(name)
      // a FAILED rep must not enter the min — an exception thrown after
      // 0.3s would otherwise report a phantom speedup. Failed reps record
      // as negative elapsed in the samples (visible, parseable) and are
      // excluded from the min; all-reps-failed records -1.
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        if (ok) sec else -sec
      }
      val succeeded = times.filter(_ >= 0)
      // an all-reps-failed query is recorded as JSON null in the per-query
      // map plus an explicit "failed" list — never a numeric sentinel that
      // downstream sums/diffs could silently absorb
      if (succeeded.nonEmpty) results(name) = succeeded.min
      else failed += name
      samples(name) = times
    }

    // ---- crawl-engine throughput (pages fetched+extracted per second) ----
    val (crawlSec, pages, waves) =
      if (skipCrawl) (0.0, 0L, 0) else crawlBench(spark, cpus)
    if (!skipCrawl) results("crawl") = crawlSec
    val pagesPerSec = if (crawlSec > 0) pages / crawlSec else 0.0

    // ---- scale-evidence legs (VERDICT_r05 #4) -----------------------------
    // (a) the same engine with a 10^6-row PRE-SEEDED seen table: the bloom
    //     negative cache genuinely engages (threshold 200k) and every
    //     wave's candidates cogroup against filters rebuilt from the
    //     authoritative seen set — the shape of a long-running crawl's
    //     late waves, which the fresh-start leg never reaches;
    // (b) a SKEWED web (one host = 50% of all pages) with a binding
    //     per-host wave cap: scheduling-level skew control must bound the
    //     hot host's share of every wave, so wall time tracks corpus size,
    //     not the hot host's serial chain.
    val (seededSec, seededPages, seededBloom, seededWh) =
      if (skipCrawl) (0.0, 0L, false, "") else seededSeenBench(spark, cpus)
    // (c) seen-set retraction over the seeded warehouse: compaction of the
    //     10^6-row seen set + Bloom→Cuckoo bucket transition, then a second
    //     forget through the incremental cuckoo remove() path
    val (forgetSec, forget2Sec, forgetRetracted, forgetToCuckoo, forgetIncr,
      forgetBatch) =
      if (skipCrawl) (0.0, 0.0, 0L, 0L, 0L, 0L) else forgetBench(spark, seededWh)
    val (skewSec, skewPages, skewWaves, skewHotMax) =
      if (skipCrawl) (0.0, 0L, 0, 0L) else skewBench(spark, cpus)
    if (!skipCrawl) {
      results("crawl_seeded_1m") = seededSec
      results("forget_batch_a_1m") = forgetSec
      results("forget_batch_b_incremental") = forget2Sec
      results("crawl_skew") = skewSec
    }

    // failed queries are absent from `results`, so the headline total only
    // sums real timings — a fully-failing query invalidates comparability,
    // it doesn't make the run faster
    val total = results.values.sum
    val qs = (results.map { case (k, v) => "\"" + k + "\":" + fmt(v, 3) } ++
        failed.map(k => "\"" + k + "\":null"))
      .mkString("{", ",", "}")
    val ss = samples.map { case (k, vs) =>
      "\"" + k + "\":" + vs.map(v => fmt(v, 3)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val fl = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val seededPps = if (seededSec > 0) seededPages / seededSec else 0.0
    val skewPps = if (skewSec > 0) skewPages / skewSec else 0.0
    println(s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","queries":$qs,"samples":$ss,"failed":$fl,"reps":$reps,"sf":"$sfDir","cpus":$cpus,"crawl_pages":$pages,"crawl_waves":$waves,"crawl_pages_per_sec":${fmt(pagesPerSec, 1)},"seeded_seen_rows":1000000,"seeded_bloom_engaged":$seededBloom,"seeded_pages":$seededPages,"seeded_pages_per_sec":${fmt(seededPps, 1)},"forget_batch_size":$forgetBatch,"forget_retracted":$forgetRetracted,"forget_buckets_to_cuckoo":$forgetToCuckoo,"forget_buckets_incremental":$forgetIncr,"skew_pages":$skewPages,"skew_waves":$skewWaves,"skew_hot_max_per_wave":$skewHotMax,"skew_pages_per_sec":${fmt(skewPps, 1)}}""")
    spark.stop()
  }

  /** Seeded synthetic-web crawl: tree-shaped links (BFS depth ~log_f n) so
    * waves are large and the engine — not wave-loop fixed cost — dominates.
    * Fixed simulated per-page fetch cost exercises the politeness/schedule/
    * extract pipeline rather than the absent network.
    */
  def crawlBench(spark: SparkSession, cpus: Int,
      hosts: Int = 24, pagesPerHost: Int = 1250): (Double, Long, Int) = {
    val (sec, pages, waves, _) = crawlBenchIo(spark, cpus, hosts, pagesPerHost)
    (sec, pages, waves)
  }

  /** Scale-evidence leg (a): crawl over a warehouse whose seen table is
    * PRE-SEEDED with `preSeeded` junk hashes (offset past any real
    * url_hash range), so seen_total clears bloomMinSeenRows from wave 0 —
    * the bloom buckets rebuild distributedly from the million-row seen
    * set and every wave's candidates take the cogroup path. Returns
    * (sec, pages, bloomEngaged, warehousePath) — the warehouse feeds the
    * retraction leg ([[forgetBench]]).
    */
  def seededSeenBench(spark: SparkSession, cpus: Int,
      preSeeded: Long = 1000000L,
      hosts: Int = 12, pagesPerHost: Int = 250): (Double, Long, Boolean, String) = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val site = SyntheticWeb.generate(SyntheticWeb.Spec(
      hosts = hosts, pagesPerHost = pagesPerHost, hotHostFactor = 3,
      fanout = 64, seed = 43L, treeLinks = true, sharedDomain = true))
    val config = CrawlConfig(rootUrl = site.rootUrl,
      scope = graft.core.ScopeFilter.Domain,
      waveBudgetMs = 600000L, maxWaves = 60, logFetches = false,
      simulatedExtractCostNanos =
        sys.env.get("GRAFT_EXTRACT_COST_NANOS").map(_.toLong).getOrElse(60000000L))
    val fetcher = SyntheticFetcher.broadcast(spark, site, simulatedCostNanos = 200000L)
    val wh = java.nio.file.Files.createTempDirectory("graft-bench-seeded").toString
    val io = new TableIO(wh, spark)
    // shared bootstrap + the junk seen rows: hashes offset to 2^40+ never
    // collide with real 64-bit url hashes in practice, so crawl results
    // are those of a fresh crawl while the seen machinery carries 10^6 rows
    CrawlEngine.seedWarehouse(spark, io, config,
      extraSeen = spark.range(preSeeded)
        .select((col("id") + (1L << 40)).as("url_hash")))
    val engine = new CrawlEngine(spark, io, config, fetcher, numPartitions = cpus)
    val t0 = System.nanoTime()
    engine.run()
    val sec = (System.nanoTime() - t0) / 1e9
    val pages = io.readAll("metrics", TableIO.MetricsSchema)
      .agg(org.apache.spark.sql.functions.sum(col("pages"))).head().getLong(0)
    (sec, pages, engine.lastWaveBloomEngaged, wh)
  }

  /** Scale-evidence leg (c): seen-set retraction (SeenMaintenance) against
    * the seeded warehouse — the million-row seen table is compacted minus
    * `forgetCount` crawled urls, the affected filter buckets transition
    * Bloom→Cuckoo, and a SECOND forget exercises the incremental cuckoo
    * remove() path (no rebuild). Returns (firstSec, secondSec,
    * retractedTotal, bucketsToCuckoo, bucketsIncremental, batchSize).
    */
  def forgetBench(spark: SparkSession, warehouse: String,
      forgetCount: Int = 2000): (Double, Double, Long, Long, Long, Long) = {
    import org.apache.spark.sql.functions.col
    val io = new TableIO(warehouse, spark)
    val crawled = io.readAll("documents", TableIO.DocumentsSchema)
      .select(col("doc_id")).limit(2 * forgetCount)
      .collect().map(_.getString(0))
    // equal-size batches so the two legs' timings are comparable even when
    // the crawl produced fewer than 2*forgetCount documents
    val k = math.min(forgetCount, crawled.length / 2)
    val (first, second) = (crawled.take(k), crawled.slice(k, 2 * k))
    val t0 = System.nanoTime()
    val r1 = SeenMaintenance.forgetUrls(spark, warehouse, first.toSeq,
      reseed = false)
    val sec1 = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val r2 = SeenMaintenance.forgetUrls(spark, warehouse, second.toSeq,
      reseed = false)
    val sec2 = (System.nanoTime() - t1) / 1e9
    (sec1, sec2, r1.retractedSeen + r2.retractedSeen,
      r1.bucketsRebuiltToCuckoo, r2.bucketsCuckooDeleted, k.toLong)
  }

  /** Scale-evidence leg (b): one host owns 50% of all pages (hosts-1
    * normal hosts vs one hotHostFactor = hosts-1 host) and the per-host
    * wave budget BINDS (cap = waveBudgetMs / minCrawlDelay = 150), so the
    * scheduler must spread the hot host across waves instead of letting
    * its serial chain own the crawl. Returns (sec, pages, waves,
    * hot-host max pages in any wave) — the last value is the cap
    * evidence, also asserted ≤ cap in CrawlParitySpec.
    */
  def skewBench(spark: SparkSession, cpus: Int,
      hosts: Int = 8, pagesPerHost: Int = 150): (Double, Long, Int, Long) = {
    import org.apache.spark.sql.functions.{col, count, max, lit}
    val site = SyntheticWeb.generate(SyntheticWeb.Spec(
      hosts = hosts, pagesPerHost = pagesPerHost, hotHostFactor = hosts - 1,
      fanout = 64, seed = 44L, treeLinks = true, sharedDomain = true))
    val config = CrawlConfig(rootUrl = site.rootUrl,
      scope = graft.core.ScopeFilter.Domain,
      waveBudgetMs = 15000L, // cap = 15000/100ms = 150 pages/host/wave: BINDS
      maxWaves = 60,
      logFetches = true, // per-(wave, host) counts are this leg's evidence
      simulatedExtractCostNanos =
        sys.env.get("GRAFT_EXTRACT_COST_NANOS").map(_.toLong).getOrElse(60000000L))
    val fetcher = SyntheticFetcher.broadcast(spark, site, simulatedCostNanos = 200000L)
    val wh = java.nio.file.Files.createTempDirectory("graft-bench-skew").toString
    val io = new TableIO(wh, spark)
    val engine = new CrawlEngine(spark, io, config, fetcher, numPartitions = cpus)
    val t0 = System.nanoTime()
    val waves = engine.run()
    val sec = (System.nanoTime() - t0) / 1e9
    val log = io.readAll("fetch_log", TableIO.FetchLogSchema)
    val pages = log.count()
    val hotMax = log.groupBy(col("wave"), col("host"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    (sec, pages, waves, hotMax)
  }

  def crawlBenchIo(spark: SparkSession, cpus: Int,
      hosts: Int = 24, pagesPerHost: Int = 1250): (Double, Long, Int, TableIO) = {
    val site = SyntheticWeb.generate(SyntheticWeb.Spec(
      hosts = hosts, pagesPerHost = pagesPerHost, hotHostFactor = 3,
      fanout = 64, seed = 42L, treeLinks = true, sharedDomain = true))
    val config = CrawlConfig(rootUrl = site.rootUrl,
      scope = graft.core.ScopeFilter.Domain,
      waveBudgetMs = 600000L, // politeness caps stay real but non-binding
      maxWaves = 60,
      logFetches = false, // request-log I/O excluded from the measured loop
      // ~60 ms CPU per page stands in for parsing + analyzing realistically-
      // sized pages (~100 KB of HTML through a browser-grade parser; the
      // synthetic fixtures are ~2 KB so their real parse cost is ~30x off);
      // override for profiling via GRAFT_EXTRACT_COST_NANOS
      simulatedExtractCostNanos =
        sys.env.get("GRAFT_EXTRACT_COST_NANOS").map(_.toLong).getOrElse(60000000L))
    // 0.2 ms simulated fetch CPU (socket bookkeeping; network latency is
    // WALL time handled by politeness pacing, not CPU, so it does not
    // belong in the per-host-serial fetch partition)
    val fetcher = SyntheticFetcher.broadcast(spark, site,
      simulatedCostNanos = 200000L)
    val wh = java.nio.file.Files.createTempDirectory("graft-bench-wh").toString
    val io = new TableIO(wh, spark)
    val engine = new CrawlEngine(spark, io, config, fetcher, numPartitions = cpus)
    val t0 = System.nanoTime()
    val waves = engine.run()
    val sec = (System.nanoTime() - t0) / 1e9
    val pages = io.readAll("metrics", TableIO.MetricsSchema)
      .agg(sum(col("pages"))).head().getLong(0)
    (sec, pages, waves, io)
  }
}
