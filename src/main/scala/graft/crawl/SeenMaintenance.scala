package graft.crawl

import graft.core.{CuckooFilter64, UrlCanonicalizer}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Seen-set retraction ("forget") and recrawl re-seeding — the engine
  * extension that realizes the north rule's deletion clause: the URL-seen
  * set is a partitioned Bloom filter FALLING BACK TO CUCKOO FOR DELETIONS.
  *
  * The reference has no retraction operation (its seen set only grows,
  * `Abot/Core/InMemoryCrawledUrlRepository.cs`), but a long-lived 10^10-URL
  * crawl needs one: content-freshness recrawls of a site section, operator
  * removal requests, or undoing a section crawled by mistake. Two modes:
  *
  *  - **reseed = true (recrawl now)**: the target URLs are re-staged as
  *    ordinary frontier rows for the next wave and re-fetched under the
  *    exact same politeness machinery. Their hashes STAY in the seen set —
  *    the engine invariant is "in frontier ⊆ in seen" (a candidate's hash
  *    enters seen the moment it enters the frontier); retracting them would
  *    double-fetch any reseeded URL whose re-fetched parent re-emits the
  *    link as a candidate. Re-fetched pages emit a new document row only
  *    where content changed (the F10 unique-text gate applies unchanged).
  *  - **reseed = false (pure retraction)**: the hashes leave the seen set
  *    (and their filter buckets), so the URLs become crawlable again the
  *    next time the crawl discovers a link to them.
  *
  * `dropDocuments = true` additionally rewrites the documents table without
  * the targets' rows (an operator removal request) — the Iceberg
  * copy-on-write delete shape: expensive and rare by design. Operational
  * logs (fetch_log, errors) and the shared unique-text blocks are
  * deliberately untouched.
  *
  * Everything is distributed — joins and per-bucket cogroups keyed on
  * url_hash; the driver holds only scalar counts, the exclude-prefix list,
  * and the O(numPartitions) bucket-kind directory. Crash-atomicity reuses
  * the warehouse's manifest contract ([[TableIO.stageGeneration]] /
  * [[TableIO.mergeStats]]): all replacement data is written into invisible
  * next-generation directories first, then ONE atomic manifest replace
  * flips the generation pointers, stats, and stop_reason together. A kill
  * at any point resumes from a consistent snapshot; re-running the forget
  * overwrites the orphans.
  *
  * Filter-bucket maintenance is where the Bloom→Cuckoo fallback lives:
  *  - a bucket losing entries for the FIRST time is rebuilt from its
  *    authoritative surviving hashes as a [[graft.core.CuckooFilter64]]
  *    (Bloom filters cannot delete);
  *  - a bucket that is ALREADY Cuckoo absorbs the retraction as O(deletes)
  *    incremental `remove()`s — no rebuild, no scan of its survivors;
  *  - untouched buckets carry over byte-for-byte (Bloom stays Bloom);
  *  - the no-false-negative contract is fenced by [[FilterBucket]]'s
  *    saturation flag (see its Scaladoc).
  *
  * Passes (Spark SQL executions) per operation:
  *  - a forget runs ONE aggregation pass — a single action that flags every
  *    target hash and returns every count it reports or commits plus the
  *    touched buckets' kinds — and then only the generation writes it
  *    needs, concurrently: reseed (when rows are re-staged or
  *    cancelled; the fresh seqs are ranked inside the write), seen (when a
  *    hash leaves or re-enters it), blooms (when the filters are engaged
  *    and a bucket is touched) and documents (`dropDocuments`). Counts the
  *    commit needs after a write (`seen_total`, the saturated buckets,
  *    dropped documents) are observed on that write. A retraction is 3
  *    passes with filters and 2 without; a reseed adds its reseed write.
  *    seen is scanned once for membership and once for the rewrite; a
  *    forget that turns buckets Cuckoo scans it once more, for the
  *    surviving hashes of exactly those buckets.
  *  - a compaction is its one generation write.
  */
object SeenMaintenance {

  /** Outcome of a forget operation. */
  final case class ForgetReport(
      requestedHashes: Long, // distinct known hashes asked to forget
      retractedSeen: Long, // hashes actually removed from the seen set
      reseeded: Long, // frontier rows re-staged for recrawl
      droppedDocuments: Long, // document rows removed (dropDocuments mode)
      bucketsRebuiltToCuckoo: Long, // Bloom (or saturated) buckets rebuilt
      bucketsCuckooDeleted: Long, // already-Cuckoo buckets updated in place
      skippedPending: Long) // targets awaiting their FIRST fetch: not touched

  /** Forget every crawled/known URL under a canonical-URL prefix.
    * Prefix resolution uses the frontier history (every URL that ever held
    * a frontier row); seen hashes of candidates that never passed the crawl
    * filters have no frontier row and are untouched — they would fail the
    * same filters again, so retracting them is pointless. The prefix is
    * canonicalized like any crawl URL (frontier rows store canonical
    * forms — a raw-cased or default-ported prefix would match nothing).
    */
  def forgetPrefix(spark: SparkSession, warehouse: String, prefix: String,
      reseed: Boolean = true, dropDocuments: Boolean = false): ForgetReport = {
    val io = new TableIO(warehouse, spark)
    val canonPrefix = UrlCanonicalizer.canonicalize(prefix).getOrElse(prefix)
    val targets = io.readAll("frontier", TableIO.FrontierSchema, lookahead = 1)
      .filter(col("url").startsWith(canonPrefix))
    forget(spark, io, targets,
      _.join(targets.select("url_hash"), Seq("url_hash"), "left_semi"),
      reseed, dropDocuments)
  }

  /** Forget an explicit URL list (canonicalized here; uncanonicalizable
    * entries are ignored).
    */
  def forgetUrls(spark: SparkSession, warehouse: String, urls: Seq[String],
      reseed: Boolean = true, dropDocuments: Boolean = false): ForgetReport = {
    import spark.implicits._
    val io = new TableIO(warehouse, spark)
    val canon = urls.flatMap(UrlCanonicalizer.canonicalize(_)).distinct
    val hashes = canon.map(UrlCanonicalizer.urlHash).toDF("url_hash")
    def isTarget(df: DataFrame) = df.join(hashes, Seq("url_hash"), "left_semi")
    val targets = isTarget(
      io.readAll("frontier", TableIO.FrontierSchema, lookahead = 1))
    forget(spark, io, targets, isTarget, reseed, dropDocuments)
  }

  /** Fold a grow-only set table's per-wave partitions into ONE wave-0
    * partition behind the atomic generation flip — `seen` and
    * `unique_blocks` grow a partition directory per wave, so a crawl of W
    * waves pays O(W) driver `exists()` calls on every `readAll` and O(W)
    * parquet footers per scan; a 10^4-wave crawl wants this periodically.
    * Lossless for set-semantics tables (their rows carry no wave column).
    * Returns the row count of the compacted snapshot.
    */
  def compactTable(spark: SparkSession, warehouse: String,
      name: String): Long =
    compactWith(spark, new TableIO(warehouse, spark), name)

  /** Same, over an existing TableIO — the engine's auto-compaction hook
    * (`CrawlConfig.compactEveryWaves`) runs this between wave commits. One
    * Spark SQL execution: the generation write, which also counts the rows
    * it writes (the returned snapshot size).
    */
  private[graft] def compactWith(spark: SparkSession, io: TableIO,
      name: String): Long = {
    require(name == "seen" || name == "unique_blocks",
      s"compactTable supports the grow-only set tables, not '$name'")
    require(io.committedWave >= -1, "compact needs a bootstrapped warehouse")
    val schema = if (name == "seen") TableIO.SeenSchema
                 else TableIO.UniqueBlocksSchema
    // lookahead mirrors each table's staging contract: seen is staged one
    // wave AHEAD (visible at committedWave+1); unique_blocks is staged at
    // the current wave, so a lookahead read could promote a killed
    // attempt's uncommitted staged partition into the committed snapshot
    val all = io.readAll(name, schema,
      lookahead = if (name == "seen") 1 else 0)
    val ((genKey, genVal), rows) =
      stageObserved(io, name, atWave = 0, all, count(lit(1)))
    io.mergeStats(Map(genKey -> genVal))
    io.dropOldGenerations(name)
    rows
  }

  /** [[TableIO.stageGeneration]] that also aggregates `metric` over the rows
    * it writes, observed on the write itself rather than by reading the
    * files back. Returns the generation pointer and the metric's value.
    */
  private def stageObserved(io: TableIO, name: String, atWave: Int,
      df: DataFrame, metric: Column): ((String, Long), Long) = {
    val obs = Observation()
    val gen = io.stageGeneration(name, atWave, df.observe(obs, metric.as("m")))
    (gen, obs.get("m").asInstanceOf[Long])
  }

  /** Core operation over frontier-shaped target rows; `probe` narrows the
    * seen table to rows whose hash may be a target's.
    */
  private def forget(spark: SparkSession, io: TableIO, targets: DataFrame,
      probe: DataFrame => DataFrame, reseed: Boolean,
      dropDocuments: Boolean): ForgetReport = {
    import spark.implicits._
    val c = io.committedWave
    require(c >= -1, "forget needs a bootstrapped warehouse")
    val reseedWave = c + 1

    val seen = io.readAll("seen", TableIO.SeenSchema, lookahead = 1)
    // targets still awaiting their FIRST fetch (rows in the next wave's
    // staged frontier) are excluded: they will be fetched momentarily, a
    // reseed row would duplicate the fetch, and retracting their hashes
    // while the frontier row stands would break "in frontier ⊆ in seen"
    // (the staged lookahead partition is not atomically rewritable — the
    // reseed table is the only frontier-shaped table forget may touch)
    val enginePending = io
      .readWave("frontier", c + 1, TableIO.FrontierSchema, lookahead = 1)
    // reseed rows an earlier forget left for the next wave: a pure
    // retraction CANCELS those of its targets (a removal request issued
    // after a recrawl request wins, and the retracted hashes must not ride
    // back in at the next wave); a reseed REPLACES them (new row wins)
    val pendingReseed =
      if (io.stat("reseed_wave").contains(reseedWave.toLong) &&
          io.waveExists("reseed", reseedWave, lookahead = 1))
        io.readWave("reseed", reseedWave, TableIO.FrontierSchema, lookahead = 1)
      else TableIO.emptyDf(spark, TableIO.FrontierSchema)
    // targets under a still-active exclude prefix are not re-staged (the
    // retroactive filter outranks recrawl), so they are retracted instead
    val excludes =
      if (reseed && io.waveExists("excludes", c))
        io.readWave("excludes", c, TableIO.ExcludesSchema)
          .collect().map(_.getString(0)) // bounded: the exclude-prefix list
      else Array.empty[String]
    // the persisted filter buckets, when the negative cache is engaged
    // (otherwise readBlooms rebuilds them from the rewritten seen table if
    // it engages later)
    val bucketCount = io.stat("bloom_buckets").map(_.toInt).filter(_ =>
      io.waveExists("blooms", c) &&
        io.stat("blooms_v").contains(CrawlEngine.BloomsVersion))

    // ---- 1. the aggregation pass ------------------------------------------
    // One row per distinct target hash and per hash with a pending reseed
    // row, flagging: pending its first fetch, present in seen (the one
    // membership scan of seen), its pending reseed rows, and its FIRST
    // frontier row (original discovery context — parent, depth — which a
    // reseed re-stages). Persisted: the summary below materializes it, and
    // every write reads it from there.
    val tagged = targets
      .select($"url_hash", lit(0).as("src"), struct($"seq", $"wave", $"url",
        $"host", $"parent_url", $"depth", $"redirect_position").as("first"))
      .unionByName(enginePending.select($"url_hash", lit(1).as("src")),
        allowMissingColumns = true)
      .unionByName(pendingReseed.select($"url_hash", lit(2).as("src")),
        allowMissingColumns = true)
      .unionByName(probe(seen).select($"url_hash", lit(3).as("src")),
        allowMissingColumns = true)
    val known = $"target" && !$"pending"
    val excluded = excludes.foldLeft(lit(false))(_ || $"first.url".startsWith(_))
    val assigned = lit(reseed) && known && !excluded
    // seen deltas, both preserving "in frontier ⊆ in seen": targets that
    // are NOT re-staged leave the seen set (-1, retract — only verified-
    // present hashes, the precondition of FilterBucket.removeAll's safety
    // argument), and re-staged hashes that an EARLIER forget had retracted
    // re-enter it (+1, re-add — a recrawl request must re-fetch exactly
    // once even if the url is rediscovered as a candidate in the same run).
    // Kept pending reseed rows need no re-add: the forget that staged them
    // re-added their hashes, which leave seen only together with the row.
    val op = when(known && $"present" && !assigned, -1)
      .when(assigned && !$"present", 1)
    // re-staged hashes get fresh seqs past max_seq in the order of their
    // original seqs; the seq line [0, max_seq] is cut into `seqRanges`
    // equal ranges so that each range ranks its rows on its own, offset by
    // the rows of the ranges before it (counted by the summary below)
    val maxSeq = io.stat("max_seq").getOrElse(0L)
    val seqRanges = math.max(1, spark.sparkContext.defaultParallelism)
    val rangeOf = least(lit(seqRanges - 1), greatest(lit(0L),
      floor($"first.seq" / (maxSeq / seqRanges + 1)))).cast("int")
    val perHash = tagged.groupBy($"url_hash").agg(
        max($"src" === 0).as("target"), max($"src" === 1).as("pending"),
        max($"src" === 3).as("present"),
        count(when($"src" === 2, 1)).as("reseed_rows"), min($"first").as("first"))
      .filter($"target" || $"reseed_rows" > 0)
      .select($"url_hash", $"target", $"pending", $"reseed_rows", $"first",
        known.as("known"), assigned.as("assigned"), op.as("op"),
        bucketCount.fold(lit(null).cast("int"))(nb =>
          when(op.isNotNull, pmod($"url_hash", lit(nb.toLong)).cast("int")))
          .as("bucket"),
        when(assigned, rangeOf).as("seq_range"))
      .persist()
    try {
      // every count this forget reports or commits, per touched filter
      // bucket (null: no seen delta) joined with the bucket's current kind,
      // plus, when reseeding, the re-staged rows per seq range — one Spark
      // action, at most numPartitions + seqRanges + 1 rows to the driver.
      // One task sums the per-hash rows (one per target): a single
      // partition needs no exchange before the final aggregate
      val one = perHash.coalesce(1)
      val perBucket = one.groupBy($"bucket").agg(
        count(when($"known", 1)).as("requested"),
        count(when($"target" && $"pending", 1)).as("skipped"),
        count(when($"op" === -1, 1)).as("retract"),
        count(when($"op" === 1, 1)).as("readd"),
        count(when($"assigned", 1)).as("assigned"),
        sum($"reseed_rows").as("reseed_rows"),
        sum(when($"known", $"reseed_rows").otherwise(0L)).as("replaced"))
      val withKinds = bucketCount.fold(perBucket)(_ => perBucket.join(
        io.readWave("blooms", c, TableIO.BloomsSchema)
          .select($"bucket", $"kind", $"saturated"), Seq("bucket"), "left"))
      val (rangeRows, summary) =
        if (!reseed) (Array.empty[Row], withKinds.collect())
        else withKinds.unionByName(one.filter($"seq_range".isNotNull)
            .groupBy($"seq_range").agg(count(lit(1)).as("ranked")),
            allowMissingColumns = true)
          .collect().partition(r => !r.isNullAt(r.fieldIndex("seq_range")))
      def total(name: String): Long = summary.map(_.getAs[Long](name)).sum
      val requested = total("requested")
      val retractedCount = total("retract")
      val nAssigned = total("assigned")
      // pending reseed rows whose hash is a (known) target of this forget:
      // cancelled by a retraction, replaced by a reseed
      val replacedPending = total("replaced")
      val keptPending = pendingReseed
        .join(perHash.filter($"known").select($"url_hash"), Seq("url_hash"), "left_anti")

      // ---- 2. the generation writes ---------------------------------------
      // Each writes an invisible next generation and yields the manifest
      // stats that publish it. They are independent, so they run
      // concurrently on the staging pool; the manifest flip below waits for
      // every one of them, so a failed write never leaves another running.
      implicit val ec: ExecutionContext = CrawlEngine.stageEc
      val writes = Seq.newBuilder[Future[Map[String, Long]]]

      // the reseed table
      if (!reseed) {
        if (replacedPending > 0) writes += Future {
          Map(io.stageGeneration("reseed", atWave = reseedWave, keptPending),
            "next_frontier" -> math.max(0L,
              io.stat("next_frontier").getOrElse(0L) - replacedPending))
        }
      } else if (total("reseed_rows") - replacedPending + nAssigned > 0) writes += Future {
        // one row per re-staged hash: its first frontier row with a fresh seq
        // past max_seq, merged with the kept pending reseed rows (repeated
        // forgets before the next run) — the reseed table is generation-
        // flipped like the others, so the merge is crash-atomic too
        val ranked = rangeRows.map(r => r.getAs[Int]("seq_range") -> r.getAs[Long]("ranked")).toMap
        val offsets = (0 until seqRanges).scanLeft(maxSeq)(_ + ranked.getOrElse(_, 0L))
        val restaged = perHash.filter($"assigned")
          .select($"url_hash", $"first.*", (element_at(typedLit(offsets.init), $"seq_range" + 1) +
            row_number().over(Window.partitionBy($"seq_range").orderBy($"first.seq")))
            .as("new_seq"))
          .select($"url", $"url_hash", $"host", $"parent_url", $"depth",
            $"new_seq".as("seq"), lit(reseedWave).as("wave"), lit(false).as("is_retry"),
            lit(0).as("retry_count"), lit(0).as("retry_after_sec"), $"redirect_position")
        Map(io.stageGeneration("reseed", atWave = reseedWave,
            keptPending.unionByName(restaged)),
          "reseed_wave" -> reseedWave.toLong,
          "max_seq" -> (maxSeq + nAssigned),
          // the run-loop fast-empty gate must see the injected work; pending
          // rows REPLACED by this forget counted +1 at their earlier forget
          // and count again inside nAssigned — subtract them or repeated
          // forgets drift the stat upward
          "next_frontier" -> math.max(0L,
            io.stat("next_frontier").getOrElse(0L) + nAssigned - replacedPending))
      }

      // the seen set: generation g+1 as a SINGLE wave-0 partition (copy-on-
      // write snapshot replace; the seen table is a set, so folding all waves
      // into one partition is lossless and doubles as compaction), plus the
      // filter buckets it feeds
      var rebuilt = 0L
      var cuckooUpdated = 0L
      if (retractedCount > 0 || total("readd") > 0) {
        val newSeen = seen
          .join(perHash.filter($"op" === -1).select($"url_hash"), Seq("url_hash"), "left_anti")
          .unionByName(perHash.filter($"op" === 1).select($"url_hash"))
        writes += Future {
          val ((genKey, genVal), seenAfter) =
            stageObserved(io, "seen", atWave = 0, newSeen, count(lit(1)))
          Map(genKey -> genVal, "seen_total" -> math.max(1L, seenAfter))
        }
        bucketCount.foreach { nb =>
          val touched = summary.filter(r => !r.isNullAt(r.fieldIndex("bucket")))
          def buckets(rows: Array[Row]) = rows.map(_.getAs[Int]("bucket")).toSet
          val hasDelete = touched.filter(_.getAs[Long]("retract") > 0)
          // a bucket needs a full rebuild (to Cuckoo) iff it LOSES a hash
          // while its current representation cannot delete (Bloom, or
          // saturated, or inconsistent/absent); adds alone never force one
          val rebuildSet = buckets(hasDelete.filter { r =>
            r.isNullAt(r.fieldIndex("kind")) ||
              r.getAs[Int]("kind") == FilterBucket.KindBloom || r.getAs[Boolean]("saturated")
          })
          rebuilt = rebuildSet.size
          cuckooUpdated = (buckets(hasDelete) -- rebuildSet).size
          if (touched.nonEmpty) writes += Future(writeFilterBuckets(spark, io,
            perHash, newSeen, nb, c, buckets(touched), rebuildSet))
        }
      }

      // document removal (operator removal request): the documents before
      // and after are counted on the write
      val docsBefore = Observation()
      val docsAfter = Observation()
      if (dropDocuments) writes += Future {
        val targetUrls = perHash.filter($"known").select($"first.url".as("doc_id"))
        Map(io.stageGeneration("documents", atWave = 0,
          io.readAll("documents", TableIO.DocumentsSchema)
            .observe(docsBefore, count(lit(1)).as("m"))
            .join(targetUrls, Seq("doc_id"), "left_anti")
            .observe(docsAfter, count(lit(1)).as("m"))))
      }

      // ---- 3. the single atomic maintenance commit ------------------------
      // every write has finished before the first failure is rethrown
      val done = writes.result().map(w => Await.ready(w, Duration.Inf).value.get)
      io.mergeStats(done.flatMap(_.get).toMap,
        clearStopReason = reseed && nAssigned > 0)
      io.dropOldGenerations("seen")
      io.dropOldGenerations("blooms")
      io.dropOldGenerations("reseed")
      if (dropDocuments) io.dropOldGenerations("documents")
      val droppedDocs = if (!dropDocuments) 0L
        else docsBefore.get("m").asInstanceOf[Long] - docsAfter.get("m").asInstanceOf[Long]
      ForgetReport(requested, retractedCount, nAssigned, droppedDocs,
        rebuilt, cuckooUpdated, total("skipped"))
    } finally perHash.unpersist()
  }

  /** Write the next generation of the filter buckets for the seen deltas of
    * `perHash` (`op` -1 = retract, +1 = re-add, keyed by `bucket`), touching
    * only the `affected` buckets: those in `rebuildSet` are rebuilt as Cuckoo
    * from their hashes in `newSeen` (the post-op seen set), the others take
    * the deltas in place, and the rest are copied through unchanged.
    * Returns the manifest stats that publish it.
    */
  private def writeFilterBuckets(spark: SparkSession, io: TableIO,
      perHash: DataFrame, newSeen: DataFrame, nb: Int, committedWave: Int,
      affected: Set[Int], rebuildSet: Set[Int]): Map[String, Long] = {
    import spark.implicits._
    val buckets = io.readWave("blooms", committedWave, TableIO.BloomsSchema)
      .as[FilterBucket]
    val updateSet = affected -- rebuildSet

    // rebuild class: sized with headroom for future adds (config capacity
    // share)
    val cfg = io.readConfig().map(CrawlConfigCodec.fromJson)
    val perBucketCap = cfg.map(c => math.max(1024L, c.bloomCapacity / nb))
      .getOrElse(1024L)
    val fpr = cfg.map(_.bloomFpr).getOrElse(0.001)
    // skipped entirely when nothing needs a rebuild — the incremental path
    // must stay O(deletes), never a scan of the seen set
    val rebuildB = spark.sparkContext.broadcast(rebuildSet)
    val rebuilt = if (rebuildSet.isEmpty) spark.emptyDataset[FilterBucket]
    else newSeen.select($"url_hash").as[Long]
      // map-side filter before the shuffle: only rebuild buckets' hashes move
      .filter(h => rebuildB.value.contains(CrawlEngine.bloomBucket(h, nb)))
      .groupByKey(h => CrawlEngine.bloomBucket(h, nb))
      .mapGroups { (b, hs) =>
        val all = hs.toArray
        val cf = CuckooFilter64.forCapacity(math.max(perBucketCap, all.length.toLong))
        var sat = false
        all.foreach { h => if (!cf.add(h)) sat = true }
        FilterBucket.ofCuckoo(b, cf, sat)
      }

    // incremental class: removes hit only Cuckoo-unsaturated buckets (the
    // rebuild set caught every other delete); adds preserve the bucket's
    // kind, creating a fresh Bloom bucket when none exists yet
    def inUpdateSet = $"bucket".isin(updateSet.toSeq: _*)
    val updated = if (updateSet.isEmpty) spark.emptyDataset[FilterBucket]
    else perHash.filter(inUpdateSet).select($"bucket", $"url_hash", $"op")
      .as[(Int, Long, Int)].groupByKey(_._1)
      .cogroup(buckets.filter(inUpdateSet).groupByKey(_.bucket)) { (b, os, bs) =>
        val (dels, adds) = os.toArray.partition(_._3 < 0)
        val base = if (bs.hasNext) bs.next()
          else FilterBucket.of(b,
            graft.core.BloomFilter64.forCapacity(perBucketCap, fpr))
        val afterDels =
          if (dels.isEmpty) base else base.removeAll(dels.iterator.map(_._2))
        Iterator(afterDels.addAll(adds.iterator.map(_._2)))
      }

    // untouched buckets carry over unchanged; a rebuild bucket whose rows
    // were ALL deleted simply disappears (an absent bucket means "nothing
    // seen here" — exactly right after full retraction)
    val untouched = buckets.filter(!$"bucket".isin(affected.toSeq: _*))
    val newBuckets = untouched.toDF()
      .unionByName(rebuilt.toDF()).unionByName(updated.toDF())
    val ((genKey, genVal), saturated) = stageObserved(io, "blooms",
      atWave = committedWave, newBuckets, CrawlEngine.saturatedBuckets)
    Map(genKey -> genVal) ++ CrawlEngine.saturationStats(saturated, genVal)
  }
}
