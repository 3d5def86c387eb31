package graft.crawl

import graft.core.{ScopeFilter, UrlCanonicalizer}
import graft.extract.{DocAnalysis, HtmlParser, HtmlToSpans, PdfToSpans}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Fetch abstraction: HTTP is compute inside `mapPartitions`, never a Spark
  * source (SURVEY.md §2.1 S1). Implementations must be Serializable — they
  * run on executors.
  */
trait Fetcher extends Serializable {
  /** `attempt` = retries already spent on this url (0 = first try) — lets
    * deterministic test fetchers simulate transient failures without shared
    * state; real fetchers ignore it.
    */
  def fetch(url: String, attempt: Int = 0): FetchResponse
  def fetchRobots(host: String): String // robots.txt content, "" when absent
}

final case class FetchResponse(status: Int, contentType: String,
    redirectTo: String, body: String, retryAfterSec: Int = 0,
    // exception detail for transport-level failures (status < 0): surfaced
    // into the per-wave `errors` table (S9 — the reference's exceptions/
    // messages logs, WebsiteTextExtractor.cs:298-311)
    errorClass: String = null, errorMessage: String = null,
    errorStack: String = null)

/** Deterministic in-memory fetcher over the synthetic web fixture, with an
  * optional fixed simulated per-page cost so benchmarks exercise the engine
  * rather than the (absent) network.
  */
final class SyntheticFetcher(
    pages: Map[String, SyntheticPage],
    robots: Map[String, String],
    simulatedCostNanos: Long = 0L) extends Fetcher {

  private def simulate(): Unit = {
    if (simulatedCostNanos > 0) {
      val end = System.nanoTime() + simulatedCostNanos
      var x = 0L
      while (System.nanoTime() < end) { x += 1 }
    }
  }

  override def fetch(url: String, attempt: Int = 0): FetchResponse = {
    simulate()
    pages.get(url) match {
      case None => FetchResponse(404, "text/html", null, "")
      case Some(p) if p.fail_first > attempt => // transient outage window
        FetchResponse(503, "text/html", null, "", retryAfterSec = 1)
      case Some(p) => FetchResponse(p.status, p.content_type, p.redirect_to, p.html)
    }
  }

  override def fetchRobots(host: String): String = robots.getOrElse(host, "")
}

object SyntheticFetcher {
  /** Broadcast-backed variant: the page corpus ships to executors once via
    * torrent broadcast instead of riding in every task closure — the right
    * shape when the synthetic corpus is large (bench) or executors are
    * remote.
    */
  def broadcast(spark: org.apache.spark.sql.SparkSession,
      site: SyntheticWeb.Site, simulatedCostNanos: Long = 0L): Fetcher = {
    val bc = spark.sparkContext.broadcast((site.pages, site.robots))
    new BroadcastSyntheticFetcher(bc, simulatedCostNanos)
  }
}

private final class BroadcastSyntheticFetcher(
    bc: org.apache.spark.broadcast.Broadcast[(Map[String, SyntheticPage], Map[String, String])],
    simulatedCostNanos: Long) extends Fetcher {
  @transient private lazy val inner =
    new SyntheticFetcher(bc.value._1, bc.value._2, simulatedCostNanos)
  override def fetch(url: String, attempt: Int = 0): FetchResponse = inner.fetch(url, attempt)
  override def fetchRobots(host: String): String = inner.fetchRobots(host)
}

/** The Spark-native crawl engine: a driver loop over BFS "waves", each wave
  * one declarative DataFrame DAG (frontier → politeness schedule → fetch →
  * extract → analyze/dedup → schedule links → atomic commit), per SURVEY.md
  * §2.10/§3. State lives exclusively in TableIO tables, which is what makes
  * a killed run resume exactly (north rule). Semantics are byte-identical to
  * graft.crawl.SequentialOracle (asserted by CrawlParitySpec).
  *
  * Scale notes (designed for 10^10-URL frontiers, tested on local[32]):
  *  - fetch waves are repartitioned by hashed host so one host's URLs land
  *    in one partition (politeness is partition-local, J3); the per-host
  *    per-wave cap (waveBudget / crawlDelay) bounds skew at the SCHEDULING
  *    level — a hot host can never dominate a wave (SURVEY.md §4);
  *  - the seen-set anti-join is an equi-join on url_hash longs (never
  *    broadcast at frontier scale; AQE picks sort-merge vs shuffled-hash);
  *  - dense seq assignment is sort + zipWithIndex — two linear passes, no
  *    single-partition window bottleneck (W3);
  *  - per-host state NEVER lives on the driver: crawl delays, per-domain
  *    allowances AND robots rules are all columns joined in from the
  *    `hosts` / `host_counts` tables; the only per-host driver collect is
  *    the wave's newly-discovered hosts (their robots must be fetched),
  *    which is O(new hosts) and zero on late waves.
  */
final class CrawlEngine(
    spark: SparkSession,
    io: TableIO,
    config: CrawlConfig,
    fetcher: Fetcher,
    numPartitions: Int,
    nowMs: () => Long = () => System.currentTimeMillis()) {

  import spark.implicits._

  private val rootCanon = UrlCanonicalizer.canonicalize(config.rootUrl)
    .getOrElse(throw new IllegalArgumentException(s"bad root url: ${config.rootUrl}"))

  /** Size of the last wave's driver-side per-host state (test hook) —
    * the ONLY per-host data the driver ever touches: the wave's
    * newly-discovered hosts, whose robots must be fetched and staged.
    * O(new hosts), which goes to zero on late waves. Caps, allowances
    * AND robots rules are all join columns (hosts / host_counts tables),
    * so driver memory is O(1) with respect to wave width (candidate
    * hosts), frontier size, and crawl age — there is no robots broadcast
    * and no per-candidate-host driver structure at any scale.
    */
  private[graft] var lastWaveDelayMapSize: Int = -1

  /** Whether the last wave ran the partition-local bloom cogroup path
    * (test hook: the seeded-seen scale tests assert the negative cache
    * genuinely engaged past bloomMinSeenRows).
    */
  private[graft] var lastWaveBloomEngaged: Boolean = false

  // --- stop-condition / budget state (wave-synchronous contract shared
  // with SequentialOracle; all fields recoverable from tables/stats) ------
  private var stateLoaded = false
  private var pagesTotal = 0L
  private var errorsTotal = 0L
  private var contentCharsTotal = 0L
  private var startEpochMs = 0L
  private var seenRowsTotal = 1L // root hash seeds the set at bootstrap
  private var excludedPrefixes = Vector.empty[String]
  private var window10 = Vector.empty[(String, Double)] // (url, pct), seq order
  var stopReason: Option[String] = None

  /** Bloom negative-cache over seen url_hashes, PARTITION-LOCAL: one filter
    * per url_hash bucket, persisted as the per-wave `blooms` table and
    * applied by cogrouping candidates with their bucket's filter — no
    * filter bits and no hashes ever pass through the driver, so the path
    * is identical at a 10^10-URL frontier. Candidates that definitely were
    * never seen skip the exact anti-join entirely; "maybe seen" ones still
    * go through it (false positives are safe; false negatives cannot
    * happen because every accepted hash is folded into its bucket's filter
    * in the same wave it enters `seen`).
    */
  /** Hybrid engage rule: the exact anti-join is cheap while `seen` is
    * small — the filters only pay once the set passes bloomMinSeenRows
    * (the broadcast-vs-shuffle-join selection analog). Engaging later is
    * safe: readBlooms rebuilds the buckets from the authoritative seen
    * table on its first engaged wave.
    */
  private def bloomEnabled: Boolean =
    config.bloomCapacity > 0 && seenRowsTotal >= config.bloomMinSeenRows

  private def perBucketCapacity: Long =
    math.max(1024L, config.bloomCapacity / numPartitions)

  /** Previous wave's committed bucket filters; absent (bootstrap, legacy
    * warehouse, or a kill between stage and commit) OR keyed with a
    * DIFFERENT bucket count (the `bloom_buckets` manifest stat — resuming
    * at a different parallelism would cogroup candidates against the wrong
    * bucket's filter, i.e. Bloom FALSE NEGATIVES) → rebuild from the
    * authoritative seen table, distributedly.
    */
  private def readBlooms(wave: Int): org.apache.spark.sql.Dataset[FilterBucket] = {
    val cap = perBucketCapacity
    val fpr = config.bloomFpr
    val nb = numPartitions
    // blooms_v guards the row layout: v1 (pre-FilterBucket) warehouses and
    // bucket-count mismatches both rebuild from the authoritative seen table
    if (io.waveExists("blooms", wave - 1) &&
        io.stat("bloom_buckets").contains(nb.toLong) &&
        io.stat("blooms_v").contains(CrawlEngine.BloomsVersion)) {
      val persisted =
        io.readWave("blooms", wave - 1, TableIO.BloomsSchema).as[FilterBucket]
      // self-heal saturated buckets (a cuckoo insert failed or a remove
      // fence tripped — the bucket answers "maybe" for every key, so its
      // candidates all pay the exact anti-join): rebuild JUST those from
      // the authoritative seen table at doubled capacity. The check reads
      // two columns of an O(numPartitions)-row table, and is skipped when
      // the write that produced these buckets counted none saturated; the
      // heal scan runs only when saturation actually exists.
      val sat =
        if (CrawlEngine.noneSaturated(io)) Set.empty[Int]
        else persisted.filter($"saturated").select($"bucket")
          .as[Int].collect().toSet
      if (sat.isEmpty) persisted
      else {
        val satB = spark.sparkContext.broadcast(sat)
        // map-side filter BEFORE the shuffle: only the saturated buckets'
        // hashes move (1/nb of the seen set per saturated bucket), not the
        // whole table
        val healed = io.readAll("seen", TableIO.SeenSchema, lookahead = 1)
          .select($"url_hash").as[Long]
          .filter(h => satB.value.contains(CrawlEngine.bloomBucket(h, nb)))
          .groupByKey(h => CrawlEngine.bloomBucket(h, nb))
          .mapGroups { (b, hs) =>
            val all = hs.toArray
            val cf = graft.core.CuckooFilter64
              .forCapacity(math.max(cap, all.length * 2L))
            var stillSat = false
            all.foreach { h => if (!cf.add(h)) stillSat = true }
            FilterBucket.ofCuckoo(b, cf, stillSat)
          }
        persisted.filter(!$"saturated").union(healed)
      }
    } else
      io.readAll("seen", TableIO.SeenSchema, lookahead = 1)
        .select($"url_hash").as[Long]
        .groupByKey(h => CrawlEngine.bloomBucket(h, nb))
        .mapGroups { (b, hs) =>
          val bf = graft.core.BloomFilter64.forCapacity(cap, fpr)
          var n = 0L
          hs.foreach { h => bf.add(h); n += 1 }
          FilterBucket.of(b, bf, n)
        }
  }

  private def loadState(): Unit = {
    if (stateLoaded) return
    stateLoaded = true
    pagesTotal = io.stat("pages_total").getOrElse(0L)
    errorsTotal = io.stat("errors_total").getOrElse(0L)
    contentCharsTotal = io.stat("content_chars_total").getOrElse(0L)
    startEpochMs = io.stat("start_epoch_ms").getOrElse(nowMs())
    seenRowsTotal = io.stat("seen_total").getOrElse(1L)
    stopReason = io.statStr("stop_reason")
    val cw = io.committedWave
    if (config.minUniquePct > 0 && cw >= 0) {
      excludedPrefixes = io.readWave("excludes", cw, TableIO.ExcludesSchema)
        .collect().map(_.getString(0)).toVector
      window10 = io.readWave("window10", cw, TableIO.Window10Schema)
        .collect().sortBy(_.getInt(2)).map(r => (r.getString(0), r.getDouble(1))).toVector
    }
    // per-domain crawled counts need no driver state: the committed
    // host_counts wave table joins in as the allowance column directly
  }

  /** Run (or resume) the crawl to completion or a stop condition; returns
    * waves processed. A crawl stopped by the cascade stays stopped across
    * resumes (stop_reason persists in the manifest).
    */
  def run(maxWavesThisRun: Int = Int.MaxValue): Int = {
    if (io.committedWave == -2) bootstrap()
    loadState()
    var wave = io.committedWave + 1
    var processed = 0
    var continue = stopReason.isEmpty &&
      wave < config.maxWaves && processed < maxWavesThisRun
    while (continue) {
      val hadWork = runWave(wave)
      if (hadWork) processed += 1
      // periodic set-table compaction (compactEveryWaves > 0): a W-wave
      // crawl otherwise accumulates W partition directories per grow-only
      // table — O(W) listings per read. Runs strictly AFTER the wave
      // committed, through the same atomic generation flip as manual
      // maintenance; a kill inside it leaves the committed snapshot intact.
      if (hadWork && config.compactEveryWaves > 0 &&
          (wave + 1) % config.compactEveryWaves == 0) {
        timed(wave, "compact") {
          SeenMaintenance.compactWith(spark, io, "seen")
          SeenMaintenance.compactWith(spark, io, "unique_blocks")
        }
      }
      wave += 1
      continue = hadWork && stopReason.isEmpty &&
        wave < config.maxWaves && processed < maxWavesThisRun
    }
    // the maxWaves cap with work still pending is a terminal stop like any
    // other (SequentialOracle.scala:193): record it so CrawlResult callers
    // can tell it from natural completion, and persist it so resumes respect
    // it. (maxWavesThisRun is a per-call slice, NOT a stop condition.)
    if (stopReason.isEmpty && wave >= config.maxWaves &&
        io.stat("next_frontier").exists(_ > 0)) {
      stopReason = Some("max_waves")
      io.setStopReason("max_waves")
    }
    processed
  }

  /** Commit "-1": root frontier entry + root hash in the seen set, plus
    * the persisted config (WebsiteExtractorParams round-trip) and the
    * crawl start time (max-duration stop). Delegates to the shared
    * [[CrawlEngine.seedWarehouse]] so external seeders (scale benches,
    * specs) can never drift from this commit contract.
    */
  private def bootstrap(): Unit =
    CrawlEngine.seedWarehouse(spark, io, config, nowMs = nowMs())

  private def stageEc = CrawlEngine.stageEc

  private val trace = sys.env.contains("GRAFT_TRACE")
  private def timed[T](wave: Int, step: String)(f: => T): T = {
    if (!trace) f else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[trace] w$wave $step%-14s ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
  }

  /** Process one wave; false = frontier empty, crawl complete. */
  def runWave(wave: Int): Boolean = {
    loadState()
    if (stopReason.nonEmpty) return false
    // fast empty check from the previous commit's lineage stats (the Spark
    // isEmpty job only runs on the resume edge where no stat exists)
    if (io.stat("next_frontier").contains(0L) && io.committedWave == wave - 1) return false
    // na.fill: a warehouse written before the retry/redirect columns existed
    // reads nulls for them under the current schema — fill their defaults so
    // legacy-warehouse resume keeps working (as[FrontierEntry] would throw on
    // a null in a non-nullable field otherwise)
    val frontierBase = io.readWave("frontier", wave, TableIO.FrontierSchema, lookahead = 1)
      .na.fill(false, Seq("is_retry"))
      .na.fill(0, Seq("retry_count", "retry_after_sec", "redirect_position"))
    // forget-and-recrawl injection (SeenMaintenance): retracted URLs were
    // re-staged as ordinary frontier rows in the `reseed` table, targeted at
    // the first wave after the maintenance commit (stat reseed_wave). Their
    // seqs were assigned past max_seq at maintenance time, so ordering and
    // the engine's own seq assignment are untouched. Once this wave commits,
    // committedWave passes reseed_wave and the rows are never re-injected.
    val frontier = io.stat("reseed_wave") match {
      case Some(rw) if rw == wave.toLong &&
          io.waveExists("reseed", wave, lookahead = 1) =>
        frontierBase.unionByName(
          io.readWave("reseed", wave, TableIO.FrontierSchema, lookahead = 1))
      case _ => frontierBase
    }
    if (io.stat("next_frontier").isEmpty || io.committedWave != wave - 1) {
      if (timed(wave, "isEmpty")(frontier.isEmpty)) return false
    }
    val prevMaxSeq = io.stat("max_seq").getOrElse(0L)

    // ---- 1. robots for hosts newly appearing in the frontier -------------
    val fetcherL = fetcher
    val cfg = config
    val hostsTbl = io.readAll("hosts", TableIO.HostsSchema)
    // NEW hosts via distributed anti-join against the authoritative hosts
    // table, kept as a (persisted) Dataset: zero rows on late waves; on a
    // discovery-heavy wave (a 10^6-host seed list) the driver holds only
    // the COUNT — never the names, never the robots corpus
    val newHosts = frontier.select($"host").distinct()
      .join(hostsTbl.select($"host"), Seq("host"), "left_anti")
      .as[String].persist()
    // take(65) decides the branch AND delivers the ≤64 names in the SAME
    // job (the old shape ran a count job, then a second collect job on
    // discovery waves); only the >64 case pays a full count
    val (newHostsTaken, newHostsCount) = timed(wave, "hosts") {
      val taken = newHosts.take(65)
      (taken, if (taken.length <= 64) taken.length.toLong else newHosts.count())
    }
    // few new hosts → fetch robots on the driver (no job round-trip; the
    // ≤64 take is the only names-to-driver path and is O(64) by
    // construction; the common late-wave zero case runs one short-circuit
    // job); many → fetch in partitions, stage the states to the wave's
    // hosts partition IMMEDIATELY, and read the parquet back. persist()
    // alone cannot guarantee once-only network fetches: a lost cached
    // partition (executor death, speculative duplicate) would silently
    // RE-FETCH robots mid-wave, so the delay column / robots column /
    // staged hosts rows could come from DIFFERENT fetches of the same
    // host. The staged parquet (invisible until the wave commits) is the
    // immutable snapshot every downstream consumer — and a resumed
    // attempt — reads.
    var hostsStagedEarly = false
    val newHostStates: Dataset[HostState] = timed(wave, "robots")(
      if (newHostsCount == 0) {
        spark.emptyDataset[HostState]
      } else if (newHostsCount <= 64) {
        newHostsTaken.toSeq.map { h =>
          val content = fetcherL.fetchRobots(h)
          val delay = CompiledRobots.of(content).crawlDelaySec(cfg.userAgent)
          HostState(h, cfg.effectiveDelayMs(delay), content, wave)
        }.toDS()
      } else {
        val fetchedStates = newHosts.repartition(numPartitions)
          .mapPartitions { hosts =>
            hosts.map { h =>
              val content = fetcherL.fetchRobots(h)
              val delay = CompiledRobots.of(content).crawlDelaySec(cfg.userAgent)
              HostState(h, cfg.effectiveDelayMs(delay), content, wave)
            }
          }
        io.stage("hosts", wave, fetchedStates) // the one network-fetch job
        hostsStagedEarly = true
        io.readWave("hosts", wave, TableIO.HostsSchema, lookahead = 1)
          .as[HostState].persist()
      })
    lastWaveDelayMapSize = newHostsCount.toInt

    // ---- 2. politeness split: per-host cap in seq order, rest carries;
    //         per-domain budget DROPS entries beyond the allowance (O3).
    // Caps and allowances are COLUMNS computed by joining the frontier
    // against the hosts / host_counts TABLES — the budget filter runs
    // distributed and the driver holds no per-host politeness state at
    // any frontier scale (a wave touching 10^7 hosts costs it nothing).
    val freshDelays = newHostStates.select($"host", $"crawl_delay_ms")
    val delayCols = hostsTbl.select($"host", $"crawl_delay_ms")
      .union(freshDelays) // fresh hosts have no table row yet, so no dupes
    val defaultDelay = config.effectiveDelayMs(0)
    val waveBudget = config.waveBudgetMs
    val hostRank = Window.partitionBy($"host").orderBy($"seq")
    val ranked0 = frontier.withColumn("host_rank", row_number().over(hostRank))
      .join(delayCols, Seq("host"), "left")
      .withColumn("__cap", greatest(lit(1L),
        floor(lit(waveBudget) /
          greatest(lit(1L), coalesce($"crawl_delay_ms", lit(defaultDelay))))))
      .drop("crawl_delay_ms")
    val ranked =
      if (config.maxPagesPerDomain > 0) {
        val counts =
          if (io.waveExists("host_counts", wave - 1))
            io.readWave("host_counts", wave - 1, TableIO.HostCountsSchema)
          else Seq.empty[(String, Long)].toDF("host", "pages")
        val maxPerDomain = config.maxPagesPerDomain
        ranked0.join(counts.select($"host", $"pages".as("__crawled")),
            Seq("host"), "left")
          .filter($"host_rank" <=
            greatest(lit(0L), lit(maxPerDomain) - coalesce($"__crawled", lit(0L))))
          .drop("__crawled")
      } else ranked0
    val dueByHost = ranked.filter($"host_rank" <= $"__cap")
      .drop("host_rank", "__cap")
    val carry = ranked.filter($"host_rank" > $"__cap")
      .drop("host_rank", "__cap")
      .withColumn("wave", lit(wave + 1))
    // global page budget truncates in deterministic seq order (wave-level
    // MaxPagesToCrawl; overflow entries are dropped, matching the oracle)
    val due =
      if (config.maxPagesToCrawl > 0) {
        val budget = math.max(0L, config.maxPagesToCrawl - pagesTotal)
        CrawlEngine.assignSeq(spark, dueByHost, Seq("seq"), 0L, "gidx")
          .filter($"gidx" < budget).drop("gidx")
      } else dueByHost

    // ---- 3a. fetch: host-bucketed partitions (politeness is partition-
    //          local state; one host never spans two partitions) -----------
    // repartition hashes the KEY itself — never pre-bucket with pmod, or the
    // partitioner re-hashes the bucket ids and collides them (observed 32→20
    // occupied partitions with 3x skew). hash(host) keeps one host in exactly
    // one partition, which is the politeness requirement.
    val fetched = due.as[FrontierEntry]
      .repartition(numPartitions, $"host")
      .sortWithinPartitions($"host", $"seq")
      .mapPartitions { entries =>
        // stylesheet cache: hosts are partition-local, so this caches each
        // host's shared sheets for the whole task
        val cssCache = scala.collection.mutable.Map.empty[String, String]
        entries.map(e => CrawlEngine.fetchOne(fetcherL, e, cssCache))
      }

    // materialize the fetch stage before the extract shuffle: measured 5x
    // faster than leaving both exchanges in one AQE plan (the fetch subtree
    // otherwise re-executes during query-stage re-optimization), and the
    // count doubles as the pages-crawled figure
    val fetchedP = fetched.persist()
    val pagesFetched = timed(wave, "fetch")(fetchedP.count())

    // ---- 3b. extract: salted even repartition — hot-host skew constrains
    //          FETCH PACING only; parsing is embarrassingly parallel -------
    val extractCost = config.simulatedExtractCostNanos
    val results = fetchedP
      .repartition(numPartitions, $"seq")
      .mapPartitions { pages =>
        val pid = TaskContext.getPartitionId()
        pages.map(p => CrawlEngine.extractOne(p, pid, extractCost))
      }
      .persist()
    val (errorsWave, contentCharsWave, botBlockedWave) = timed(wave, "extract")(
      if (pagesFetched == 0) (0L, 0L, 0L)
      else {
        val r = results.toDF().agg(
          sum(when($"is_error", 1L).otherwise(0L)),
          sum($"content_chars".cast("long")),
          sum(when($"status" === HttpFetcher.BotProtectionStatus, 1L).otherwise(0L))).head()
        (if (r.isNullAt(0)) 0L else r.getLong(0),
          if (r.isNullAt(1)) 0L else r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2))
      })

    // ---- 4. text-block analysis + first-wins dedup (D3/W2) ---------------
    // Only UNIQUENESS needs cross-doc work; totals/language were folded
    // locally in the extract mapPartitions (PageResult.total_words/lang).
    val blocks = results.flatMap { r =>
      DocAnalysis.textKeys(r.spans).map(k => (r.seq, k.offset, k.text_hash, k.words))
    }.toDF("seq", "offset", "text_hash", "words")

    // first occurrence within the wave, by deterministic (seq, offset) order
    val firstWin = Window.partitionBy($"text_hash").orderBy($"seq", $"offset")
    val withRn = blocks.withColumn("rn", row_number().over(firstWin))
    // not already owned by a previous wave (cross-wave anti-join semantics,
    // expressed as left join + null test so no self-join lineage is needed)
    val uniqueBlocksTable = io.readAll("unique_blocks", TableIO.UniqueBlocksSchema)
    val newUnique = withRn.join(
        uniqueBlocksTable.select($"text_hash").withColumn("prev", lit(true)),
        Seq("text_hash"), "left")
      .filter($"rn" === 1 && $"prev".isNull)
      .select($"seq", $"text_hash", $"words")
      .persist()

    val uniquePerDoc = newUnique.groupBy($"seq")
      .agg(sum($"words").as("unique_words"))
      .withColumnRenamed("seq", "u_seq")

    val docs = results.toDF()
      .join(uniquePerDoc, $"seq" === $"u_seq", "inner") // inner: unique_words>0 implied
      .filter($"unique_words" > 0)
      .select($"url".as("doc_id"), $"spans", $"title", $"lang",
        $"total_words", $"unique_words", $"wave", $"seq")

    // ---- 5. candidate links → seen updates + next frontier (D1/J1/W3) ----
    val rawCand = results.flatMap { r =>
      // a redirect target continues its parent's 3xx chain; ordinary links
      // reset the chain (PageRequester.cs:86-141 redirect bookkeeping)
      val rp = if (r.status >= 300 && r.status < 400) r.redirect_position + 1 else 0
      r.out_links.zipWithIndex.map { case (link, idx) =>
        (r.seq, r.url, r.depth, idx, link,
          UrlCanonicalizer.urlHash(link), UrlCanonicalizer.host(link), rp)
      }
    }.toDF("parent_seq", "parent_url", "parent_depth", "link_index", "url",
      "url_hash", "host", "redirect_position")

    // within-wave first occurrence wins, deterministically (W2 analog)
    val candWin = Window.partitionBy($"url_hash").orderBy($"parent_seq", $"link_index")
    val waveDistinct = rawCand.withColumn("crn", row_number().over(candWin))
      .filter($"crn" === 1).drop("crn")

    // cross-wave: never-seen candidates only (D1 anti-join on hashed urls),
    // with the partition-local Bloom negative-cache peeling off
    // definitely-new candidates so only "maybe seen" rows pay the join
    // (SURVEY.md §7 step 7). Candidates cogroup with their url_hash
    // bucket's filter — the filter bits stay on executors.
    val seenTable = io.readAll("seen", TableIO.SeenSchema, lookahead = 1)
    val nb = numPartitions
    var flagged: DataFrame = null
    // snapshot the engage decision for the whole wave (seenRowsTotal moves
    // at the end of the wave; flipping mid-wave would desync prevBlooms)
    val useBloom = bloomEnabled
    lastWaveBloomEngaged = useBloom
    // one read of the previous wave's filters serves both the apply-side
    // cogroup here and the update cogroup at stage time
    val prevBlooms = if (useBloom) readBlooms(wave).persist() else null
    val notSeen = (if (useBloom) {
      flagged = waveDistinct.as[CandidateLink]
        .groupByKey(c => CrawlEngine.bloomBucket(c.url_hash, nb))
        .cogroup(prevBlooms.groupByKey(_.bucket)) { (_, cands, blooms) =>
          if (blooms.hasNext) {
            val bf = blooms.next().filter
            cands.map(c => (c, bf.mightContain(c.url_hash)))
          } else cands.map(c => (c, false)) // empty bucket: definitely new
        }.toDF("cand", "maybe_seen")
        .select($"cand.*", $"maybe_seen")
        .persist()
      val definitelyNew = flagged.filter(!$"maybe_seen").drop("maybe_seen")
      val needJoin = flagged.filter($"maybe_seen").drop("maybe_seen")
        .join(seenTable, Seq("url_hash"), "left_anti")
      definitelyNew.unionByName(needJoin)
    } else {
      waveDistinct.join(seenTable, Seq("url_hash"), "left_anti")
    }).persist()

    // every evaluated candidate becomes known — pass or fail (AddKnownUri).
    // The wave's seen-added total rides the stage:seen write as an
    // observe() metric (obsSeen, read after the staging futures complete)
    // instead of a dedicated count job; the persisted notSeen is
    // materialized lazily by its first staging consumer — concurrent
    // cache-miss computation is serialized per block by the BlockManager
    // (the step-8 staging contract). The retired design collect()ed
    // per-host candidate counts here to scope a robots broadcast —
    // O(wave candidate hosts) through the driver, the last crawl
    // structure that grew with wave width. Gone: robots rules are a
    // join column now, below.
    val obsSeen = org.apache.spark.sql.Observation()
    val seenAdds = notSeen.select($"url_hash")
      .observe(obsSeen, count(lit(1)).as("n"))

    // robots matching is a JOIN of candidates against the hosts TABLE on
    // `host` (plus this wave's freshly-fetched states, not yet committed),
    // with the pure matcher evaluated per row on the robots_txt column
    // riding the join — fully distributed. Hosts never seen before have
    // no table row, read null → Empty → pass (their robots are fetched
    // when they become frontier — reference semantics). Neither the
    // driver nor any broadcast ever holds the robots corpus or even this
    // wave's slice of it; at a 10^7-candidate-host wave this stage costs
    // the driver nothing. RobotsCache amortizes the per-row parse to once
    // per distinct robots body per executor thread (same-host rows are
    // contiguous after the join shuffle, so the memo hit rate is ~100%).
    val freshRobots = newHostStates.select($"host", $"robots_txt")
    val robotsCols = hostsTbl.select($"host", $"robots_txt")
      .unionByName(freshRobots) // fresh hosts have no table row yet: no dupes

    val scope = config.scope
    val root = rootCanon
    val maxDepth = config.maxDepth
    val userAgent = config.userAgent
    val excludesBc = spark.sparkContext.broadcast(excludedPrefixes)
    val passesFilters = udf((url: String, robotsTxt: String, parentDepth: Int) => {
      parentDepth + 1 <= maxDepth &&
      ScopeFilter.shouldCrawl(scope, url, root) &&
      RobotsCache.compiled(robotsTxt)
        .allowed(UrlCanonicalizer.pathAndQuery(url), userAgent) &&
      !excludesBc.value.exists(url.startsWith)
    })
    val perPage = Window.partitionBy($"parent_seq").orderBy($"link_index")
    val passing = notSeen
      .join(robotsCols, Seq("host"), "left")
      .filter(passesFilters($"url", coalesce($"robots_txt", lit("")), $"parent_depth"))
      .drop("robots_txt")
      .filter($"redirect_position" <= config.maxRedirects) // chain bound
      .withColumn("page_rank", row_number().over(perPage))
      .filter($"page_rank" <= config.maxLinksPerPage).drop("page_rank")

    val newFrontier = CrawlEngine.assignSeq(spark,
        passing.select($"url", $"url_hash", $"host", $"parent_url",
          ($"parent_depth" + 1).as("depth"), $"parent_seq", $"link_index",
          $"redirect_position"),
        Seq("parent_seq", "link_index"), prevMaxSeq + 1)
      .select($"url", $"url_hash", $"host", $"parent_url", $"depth", $"seq",
        $"redirect_position")
      .withColumn("wave", lit(wave + 1))
      .withColumn("is_retry", lit(false))
      .withColumn("retry_count", lit(0))
      .withColumn("retry_after_sec", lit(0))

    // transiently-failed fetches (5xx / network error) re-enter the next
    // wave with retry_count+1 (WebCrawler.cs:837-875); they keep their seq
    // (so they sort ahead of newly-discovered links, like the reference's
    // re-add to the front of the host queue) and bypass the seen gate —
    // their url_hash is already in `seen`.
    val retryEntries =
      if (config.maxRetries > 0) {
        results.toDF()
          .filter($"is_error" && ($"status" >= 500 || $"status" < 0) &&
            $"retry_count" < config.maxRetries)
          .select($"url", $"url_hash", $"host", $"parent_url", $"depth", $"seq",
            lit(wave + 1).as("wave"), lit(true).as("is_retry"),
            ($"retry_count" + 1).as("retry_count"),
            greatest($"retry_after_sec", lit(0)).as("retry_after_sec"),
            $"redirect_position")
      } else null

    // ---- 6. per-partition metrics lineage (A1 analog) --------------------
    val metrics = results.groupBy($"wave", $"partition_id").agg(
      count(lit(1)).as("pages"),
      sum(when($"is_error", 1L).otherwise(0L)).as("errors"),
      sum($"total_words").as("words"),
      sum($"fetch_ms").as("fetch_ms"),
      sum($"extract_ms").as("extract_ms"))

    // ---- 7. wave-boundary stop cascade (WebsiteTextExtractor.cs:638-767) -
    pagesTotal += pagesFetched
    errorsTotal += errorsWave
    contentCharsTotal += contentCharsWave
    var newExclude: Option[String] = None
    if (config.minUniquePct > 0) {
      // only the LAST 10 html rows of the wave can survive takeRight(10):
      // top-10 by seq desc collects exactly 10 rows, never the whole wave
      val waveTail = results.toDF()
        .filter($"status" === 200 && $"content_type" === "text/html")
        .select($"seq", $"url", $"total_words")
        .join(uniquePerDoc, $"seq" === $"u_seq", "left")
        .select($"seq", $"url",
          when($"total_words" > 0,
            coalesce($"unique_words", lit(0L)).cast("double") / $"total_words")
            .otherwise(lit(0.0)).as("pct"))
        .orderBy($"seq".desc).limit(10).collect()
        .reverseIterator.map(r => (r.getString(1), r.getDouble(2))).toVector
      window10 = (window10 ++ waveTail).takeRight(10)
    }
    // cascade order mirrors the reference (WebsiteTextExtractor.cs:642-766):
    // bot-wall → duration → pages → errors → minUnique → size-on-disk
    if (botBlockedWave > 0) {
      // the site rejects bots (DataDome): abort the whole crawl to comply
      stopReason = Some("bot_protection")
    } else if (config.maxDurationMin > 0 &&
        nowMs() - startEpochMs >= config.maxDurationMin * 60000L) {
      stopReason = Some("max_duration")
    } else if (config.maxPagesToCrawl > 0 && pagesTotal >= config.maxPagesToCrawl) {
      stopReason = Some("max_pages")
    } else if (config.maxErrors > 0 && errorsTotal >= config.maxErrors) {
      stopReason = Some("max_errors")
    } else if (config.minUniquePct > 0 && window10.size >= 10) {
      val avgPct = window10.map(_._2).sum / 10.0 * 100.0
      if (avgPct < config.minUniquePct) {
        // auto-exclude the longest common URL prefix of the last 10 pages
        // (WebsiteTextExtractor.cs:697-747); stop when no useful prefix
        val urls = window10.map(_._1)
        val lcp = urls.reduce { (a, b) =>
          a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1).mkString }
        val rootPrefix = rootCanon.take(rootCanon.indexOf('/', 8) + 1)
        if (lcp.length > rootPrefix.length && !excludedPrefixes.contains(lcp)) {
          excludedPrefixes :+= lcp
          newExclude = Some(lcp)
          window10 = Vector.empty // reference resets its window after excluding
        } else {
          stopReason = Some("min_unique_text")
        }
      }
    }
    if (stopReason.isEmpty && config.maxContentChars > 0 &&
        contentCharsTotal >= config.maxContentChars) {
      stopReason = Some("max_size_on_disk")
    }

    // ---- 8. stage everything, then atomically commit the wave ------------
    // The staged tables are INDEPENDENT outputs of already-materialized
    // persisted datasets, so their write jobs run CONCURRENTLY from a small
    // driver pool (Spark schedules concurrent actions fine; a cache-miss
    // partition computed by two jobs at once is serialized per-block by the
    // BlockManager). The atomic manifest commit — the only ordering that
    // matters for crash consistency — happens strictly after every staging
    // future completes, so a kill mid-stage still resumes at the previous
    // committed wave exactly as before.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val stageJobs = Seq.newBuilder[Future[Unit]]
    def staged(step: String)(f: => Unit): Unit =
      stageJobs += Future(timed(wave, step)(f))(stageEc)

    // Write-side file sizing (guide §6 "aim for right-sized output files"):
    // a wave's staged tables are tiny locally but arbitrarily large at
    // scale, so each write coalesces to a task count derived from an
    // ESTIMATED byte volume (clamped to [1, numPartitions] — at scale the
    // estimate exceeds the cap and the write keeps full width). Replaces
    // numPartitions near-empty shards per table per wave with a few
    // right-sized files — cheaper write jobs now, cheaper O(waves)
    // readAll listings/scans later. Estimates only shape file counts;
    // correctness never depends on them.
    def sized(df: DataFrame, estBytes: Long): DataFrame = {
      val p = math.max(1L, math.min(numPartitions.toLong,
        estBytes / (64L << 20) + 1)).toInt
      if (p < numPartitions) df.coalesce(p) else df
    }

    staged("stage:docs")(io.stage("documents", wave,
      sized(docs, pagesFetched * 4096L)))
    staged("stage:blocks")(io.stage("unique_blocks", wave,
      sized(newUnique.select($"text_hash", $"words"), pagesFetched * 240L)))
    staged("stage:seen")(io.stage("seen", wave + 1,
      sized(seenAdds, pagesFetched * 1024L)))
    if (newHostsCount > 0 && !hostsStagedEarly) {
      // the >64 branch already staged the fetch snapshot (and is READING
      // from that file — re-staging would overwrite its own input)
      staged("stage:hosts")(io.stage("hosts", wave, newHostStates))
    }
    staged("stage:metrics")(io.stage("metrics", wave, metrics.coalesce(1)))
    if (config.logFetches) {
      // request log (S9): one row per fetch, mirroring the reference's
      // per-request CSV columns that exist in our model
      val fetchLog = results.toDF().select(
        $"wave", $"seq", $"url", $"host", $"depth", $"status",
        $"content_type", $"no_follow", $"is_error", $"retry_count",
        size($"out_links").as("n_links"), size($"spans").as("n_spans"),
        $"total_words", round($"fetch_ms", 3).as("fetch_ms"),
        round($"extract_ms", 3).as("extract_ms"),
        round($"css_ms", 3).as("css_ms"))
      staged("stage:fetchlog")(io.stage("fetch_log", wave,
        sized(fetchLog, pagesFetched * 256L)))
    }
    if (errorsWave > 0) {
      // error-detail log (S9 remainder): the WHY of each error row —
      // exception class + message per failed fetch, persisted per wave
      // like the reference's exceptions/messages logs
      // (WebsiteTextExtractor.cs:298-311); appended per wave, so resume
      // carries the full history
      val errorLog = results.toDF().filter($"is_error").select(
        $"wave", $"seq", $"url", $"host", $"status",
        $"error_class", $"error_message", $"error_stack", $"retry_count")
      staged("stage:errors")(io.stage("errors", wave,
        sized(errorLog, errorsWave * 512L)))
    } else {
      // data-dependent staging: a killed earlier attempt of THIS wave may
      // have staged errors that the re-run no longer produces (transient
      // failure gone) — delete the stale partition or the commit below
      // would make it visible alongside a fetch_log that disagrees
      io.deleteStaged("errors", wave)
    }
    if (config.minUniquePct > 0) {
      val excludesDf = excludedPrefixes.map(p => (p, wave)).toDF("pattern", "wave")
      val windowDf = window10.zipWithIndex
        .map { case ((u, p), i) => (u, p, i) }.toDF("url", "pct", "ord")
      staged("stage:excludes") {
        io.stage("excludes", wave, excludesDf)
        io.stage("window10", wave, windowDf)
      }
    }
    if (config.maxPagesPerDomain > 0) {
      // cumulative counts, fully distributed: previous committed counts
      // union this wave's per-host page counts, summed — the driver never
      // holds a hosts-ever map (the one remaining crawl-age-proportional
      // driver structure, retired)
      val prevCounts =
        if (io.waveExists("host_counts", wave - 1))
          io.readWave("host_counts", wave - 1, TableIO.HostCountsSchema)
        else Seq.empty[(String, Long)].toDF("host", "pages")
      val hostCountsDf = prevCounts
        .union(results.groupBy($"host").agg(count(lit(1)).as("pages")))
        .groupBy($"host").agg(sum($"pages").as("pages"))
      staged("stage:hostcounts")(io.stage("host_counts", wave, hostCountsDf))
    }
    // saturated buckets among the staged filters, counted on their write
    val obsSaturated = org.apache.spark.sql.Observation()
    if (useBloom) {
      // fold this wave's accepted hashes into their buckets' filters and
      // stage the full bucket set for wave N (buckets with no additions
      // carry forward through the cogroup) — all executor-side
      val cap = perBucketCapacity
      val fpr = config.bloomFpr
      val newBlooms = notSeen.select($"url_hash").as[Long]
        .groupByKey(h => CrawlEngine.bloomBucket(h, nb))
        .cogroup(prevBlooms.groupByKey(_.bucket)) { (b, hs, buckets) =>
          // addAll preserves the bucket's representation: Bloom buckets add
          // bits, Cuckoo buckets (post-retraction) insert fingerprints —
          // with the saturation fence on a failed insert
          val base = if (buckets.hasNext) buckets.next()
                     else FilterBucket.of(b, graft.core.BloomFilter64.forCapacity(cap, fpr))
          Iterator(base.addAll(hs))
        }
      staged("stage:blooms")(io.stage("blooms", wave,
        newBlooms.observe(obsSaturated, CrawlEngine.saturatedBuckets.as("n"))))
    }
    // seqs are assigned BEFORE the retroactive exclude filter (the oracle's
    // seq counter is monotonic over assignments, not survivors).
    //
    // Both frontier counts (seqs assigned; rows staged) ride the ONE
    // staging write as observe() metrics instead of separate persist() +
    // count() rounds — two fewer jobs and two fewer cached copies per
    // wave, with byte-identical results (the counts are the same
    // aggregates, collected during the write job). The rare new-exclude
    // wave keeps the materialized path: the retroactive filter must not
    // risk being planned below the pre-filter count.
    val nextCountF: Future[(Long, Long)] = newExclude match {
      case Some(lcp) =>
        val newFrontierP = newFrontier.persist()
        val newAssigned = newFrontierP.count()
        val nextFrontierAll0 = carry.unionByName(newFrontierP)
        val nextFrontierAll =
          if (retryEntries != null) nextFrontierAll0.unionByName(retryEntries)
          else nextFrontierAll0
        // new exclude applies retroactively to the pending frontier
        // (Scheduler.FilterAllowedUrlsAfterConfig analog, Scheduler.cs:123-139)
        val nextFrontierP = nextFrontierAll.filter(!$"url".startsWith(lcp))
          .persist() // write + count both read it; released in-branch below
        Future(timed(wave, "stage:frontier") {
          try {
            io.stage("frontier", wave + 1, sized(nextFrontierP, pagesFetched * 2048L))
            (newAssigned, nextFrontierP.count())
          } finally {
            newFrontierP.unpersist()
            nextFrontierP.unpersist()
          }
        })(stageEc)
      case None =>
        val obsNew = org.apache.spark.sql.Observation()
        val obsNext = org.apache.spark.sql.Observation()
        val newFrontierO = newFrontier.observe(obsNew, count(lit(1)).as("n"))
        val nextFrontierAll0 = carry.unionByName(newFrontierO)
        val nextFrontierAll =
          if (retryEntries != null) nextFrontierAll0.unionByName(retryEntries)
          else nextFrontierAll0
        val nextFrontierOut = nextFrontierAll
          .observe(obsNext, count(lit(1)).as("n"))
        Future(timed(wave, "stage:frontier") {
          io.stage("frontier", wave + 1, sized(nextFrontierOut, pagesFetched * 2048L))
          (obsNew.get("n").asInstanceOf[Long],
            obsNext.get("n").asInstanceOf[Long])
        })(stageEc)
    }
    stageJobs.result().foreach(Await.result(_, Duration.Inf))
    val (newAssigned, nextCount) = Await.result(nextCountF, Duration.Inf)
    val seenAddedWave = obsSeen.get("n").asInstanceOf[Long]
    seenRowsTotal += seenAddedWave
    val baseStats = Map(
      "pages" -> pagesFetched,
      "pages_total" -> pagesTotal,
      "errors_total" -> errorsTotal,
      "content_chars_total" -> contentCharsTotal,
      "start_epoch_ms" -> startEpochMs,
      "seen_total" -> seenRowsTotal,
      "max_seq" -> (prevMaxSeq + newAssigned),
      "next_frontier" -> nextCount)
    // bloom_buckets records the bucket count the staged blooms are keyed on;
    // readBlooms rejects persisted filters whose count differs from the
    // current numPartitions (resume-at-different-parallelism safety)
    val stats = if (useBloom)
      baseStats + ("bloom_buckets" -> nb.toLong) +
        ("blooms_v" -> CrawlEngine.BloomsVersion) ++
        CrawlEngine.saturationStats(obsSaturated.get("n").asInstanceOf[Long],
          io.stat("gen_blooms").getOrElse(0L))
    else baseStats
    io.commitWave(wave, stats, stopReason)

    results.unpersist()
    newHosts.unpersist()
    newHostStates.unpersist() // no-op for the ≤64 local-relation branch
    if (flagged != null) flagged.unpersist()
    if (prevBlooms != null) prevBlooms.unpersist()
    fetchedP.unpersist()
    newUnique.unpersist()
    notSeen.unpersist()
    true
  }
}

object CrawlEngine {

  /** `error_class` value for HTTP-level (non-exception) error rows in the
    * errors log — e.g. a plain 404/500 with no transport exception.
    */
  val HttpStatusErrorClass = "HttpStatus"

  /** Manifest `blooms_v` value the persisted filter-bucket layout must carry
    * to be readable (readBlooms rebuilds otherwise). Bumped when
    * [[FilterBucket]]'s row shape changes — v2 added kind/count/saturated
    * for the Bloom→Cuckoo retraction transition.
    */
  val BloomsVersion = 2L

  /** Number of saturated filter buckets, observed on a blooms write. */
  private[crawl] def saturatedBuckets: Column = count(when(col("saturated"), 1))

  /** Manifest stats recording that the committed filter buckets of blooms
    * generation `gen` hold `saturated` saturated buckets. They are committed
    * together with the buckets they describe (a wave commit, or a forget's
    * generation flip).
    */
  private[crawl] def saturationStats(saturated: Long, gen: Long): Map[String, Long] =
    Map("blooms_saturated" -> saturated, "blooms_saturated_gen" -> gen)

  /** Whether the committed filter buckets are known to hold no saturated
    * bucket. A warehouse without the stats (legacy, a wave that did not
    * engage the filters) or whose blooms generation was flipped without
    * them cannot tell, and answers false.
    */
  private[crawl] def noneSaturated(io: TableIO): Boolean =
    io.stat("blooms_saturated").contains(0L) &&
      io.stat("blooms_saturated_gen") == Some(io.stat("gen_blooms").getOrElse(0L))

  /** Bootstrap a fresh warehouse exactly as a new engine would (the
    * commit-"-1" contract: root frontier entry + seen set + persisted
    * config + start time), optionally UNIONING `extraSeen` (a url_hash
    * DataFrame) into the initial seen set — how the seeded-seen scale
    * legs pre-load 10^5..10^6 hashes. The seeded row count is COUNTED
    * here, not caller-supplied: seen_total drives the Bloom-engage
    * threshold on resume, so a caller-passed count that disagreed with
    * the actual rows would silently mis-seed it. The engine's own
    * bootstrap delegates here, so external seeders can never drift from
    * the resume contract.
    */
  def seedWarehouse(spark: SparkSession, io: TableIO, config: CrawlConfig,
      extraSeen: DataFrame = null,
      nowMs: Long = System.currentTimeMillis()): Unit = {
    import spark.implicits._
    val rootCanon = UrlCanonicalizer.canonicalize(config.rootUrl)
      .getOrElse(throw new IllegalArgumentException(s"bad root url: ${config.rootUrl}"))
    val rootEntry = FrontierEntry(rootCanon, UrlCanonicalizer.urlHash(rootCanon),
      UrlCanonicalizer.host(rootCanon), "", 0, 0L, 0)
    io.stage("frontier", 0, Seq(rootEntry).toDS())
    val rootSeen = Seq(rootEntry.url_hash).toDF("url_hash")
    io.stage("seen", 0,
      if (extraSeen == null) rootSeen
      else extraSeen.select(col("url_hash")).union(rootSeen))
    val extraSeenCount = if (extraSeen == null) 0L else extraSeen.count()
    io.writeConfig(CrawlConfigCodec.toJson(config))
    val base = Map("max_seq" -> 0L, "next_frontier" -> 1L,
      "start_epoch_ms" -> nowMs)
    val stats =
      if (extraSeenCount > 0) base + ("seen_total" -> (extraSeenCount + 1L))
      else base
    io.commitWave(-1, stats)
  }

  /** JVM-shared driver pool for concurrent per-wave stage writes (step 8)
    * and for a forget's generation writes ([[SeenMaintenance]]).
    * Sized to overlap job-scheduling + parquet-commit latency, not to add
    * compute parallelism (executor cores do the work either way). Shared
    * across engine instances and daemon-threaded, so repeated engine
    * construction (tests, multi-crawl drivers) never accumulates threads
    * and the pool dies with the JVM; the wave loop and the forget always
    * await all their futures before committing.
    */
  private[crawl] lazy val stageEc = scala.concurrent.ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newFixedThreadPool(8,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-stage-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      }))

  /** Fetch one frontier entry (I/O only) — runs in the host-bucketed,
    * politeness-paced fetch stage.
    */
  def fetchOne(fetcher: Fetcher, e: FrontierEntry,
      cssCache: scala.collection.mutable.Map[String, String] = null): FetchedPage = {
    val t0 = System.nanoTime()
    val resp = fetcher.fetch(e.url, e.retry_count)
    val t1 = System.nanoTime()
    // same-host stylesheets fetched in the SAME paced partition (CssFetch:
    // the per-partition cache makes this one request per sheet per task);
    // timed SEPARATELY so fetch_ms stays the page-fetch latency and crawl
    // pages-per-sec remains comparable with pre-CSS rounds (ADVICE r05)
    val css =
      if (cssCache != null && resp.status == 200 &&
          resp.contentType == "text/html" && resp.body.nonEmpty)
        CssFetch.cssFor(resp.body, e.url, e.host, { u =>
          val r = fetcher.fetch(u)
          (r.status, r.contentType, r.body)
        }, cssCache)
      else ""
    val t2 = System.nanoTime()
    FetchedPage(e.url, e.url_hash, e.host, e.parent_url, e.seq, e.depth, e.wave,
      resp.status, resp.contentType, resp.redirectTo, resp.body, (t1 - t0) / 1e6,
      e.retry_count, resp.retryAfterSec, e.redirect_position,
      resp.errorClass, resp.errorMessage, resp.errorStack, css, (t2 - t1) / 1e6)
  }

  /** Extract one fetched page — the CPU-bound unit of work run in the
    * salted extract stage (north rule: extraction as a partition-parallel
    * mapPartitions emitting interleaved text+media span structs).
    */
  def extractOne(p: FetchedPage, partitionId: Int, simulatedCostNanos: Long = 0L): PageResult = {
    val t1 = System.nanoTime()
    if (simulatedCostNanos > 0) {
      val end = t1 + simulatedCostNanos
      var x = 0L
      while (System.nanoTime() < end) { x += 1 }
    }
    var title = ""
    var spans = Vector.empty[graft.core.Span]
    var outLinks = Vector.empty[String]
    var noFollow = false
    if (p.status == 200 && p.content_type == "text/html") {
      val dom = HtmlParser.parse(p.body)
      val extracted = HtmlToSpans.extractDom(dom,
        if (p.css != null && p.css.nonEmpty) Seq(p.css) else Nil)
      title = extracted.title
      spans = extracted.spans
      noFollow = extracted.noFollow
      if (!noFollow) {
        val (rawHrefs, baseHref) = HtmlToSpans.rawLinks(dom)
        val baseUrl = baseHref match {
          case Some(b) if b.startsWith("//") => p.url.takeWhile(_ != ':') + ":" + b
          case Some(b) => b
          case None => p.url
        }
        outLinks = dedupResolve(baseUrl, rawHrefs)
      }
    } else if (p.status == 200 && p.content_type == "application/pdf") {
      // PDF path (S6/J5/O4): body is the raw bytes as ISO-8859-1; PDFs
      // contribute spans but no out-links
      val extracted = PdfToSpans.extract(p.body)
      title = extracted.title
      spans = extracted.spans
      noFollow = true
    } else if (p.status >= 300 && p.status < 400 && p.redirect_to != null) {
      outLinks = dedupResolve(p.url, Vector(p.redirect_to))
    }
    val t2 = System.nanoTime()
    // per-doc stats are doc-local facts: fold them here, never shuffle them
    val items = DocAnalysis.analyzableItems(spans)
    val totalWords = items.map(_.words.toLong).sum
    val lang = DocAnalysis.docLanguage(items)
    // error classification (F9): any non-200 except a followable redirect
    val isError = p.status != 200 &&
      !(p.status >= 300 && p.status < 400 && p.redirect_to != null)
    // error detail for the S9 errors log: transport exceptions carry their
    // class/message from the fetcher; HTTP-level errors synthesize one
    val (errClass, errMsg, errStack) =
      if (!isError) (null, null, null)
      else if (p.error_class != null) (p.error_class, p.error_message, p.error_stack)
      else (CrawlEngine.HttpStatusErrorClass, s"HTTP ${p.status}", null)
    PageResult(p.url, p.url_hash, p.host, p.seq, p.depth, p.wave,
      p.status, p.content_type, title, spans, outLinks, noFollow,
      p.fetch_ms, (t2 - t1) / 1e6, partitionId, totalWords, lang, isError,
      p.parent_url, p.retry_count, p.retry_after_sec, p.redirect_position,
      if (p.body == null) 0 else p.body.length, p.css_ms,
      errClass, errMsg, errStack)
  }

  /** Bucket of a url_hash for partition-local seen-cache filters. */
  def bloomBucket(urlHash: Long, numBuckets: Int): Int =
    java.lang.Math.floorMod(urlHash, numBuckets.toLong).toInt

  /** In-page canonical-URL dedup, first occurrence order (D2). */
  def dedupResolve(baseUrl: String, hrefs: Vector[String]): Vector[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    hrefs.foreach(h => UrlCanonicalizer.resolve(baseUrl, h).foreach(seen.add))
    seen.toVector
  }

  /** Deterministic dense sequence assignment: total sort on `orderCols`
    * then zipWithIndex — two linear passes, no single-partition window, so
    * it scales to arbitrarily large candidate sets (W3).
    */
  def assignSeq(spark: SparkSession, df: DataFrame, orderCols: Seq[String],
      start: Long, outCol: String = "seq"): DataFrame = {
    val sorted = df.orderBy(orderCols.map(col): _*)
    val schema = StructType(sorted.schema.fields :+ StructField(outCol, LongType, nullable = false))
    val indexed = sorted.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (start + i))
    }
    spark.createDataFrame(indexed, schema)
  }
}
