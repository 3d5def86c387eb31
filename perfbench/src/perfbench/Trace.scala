package perfbench

import graft.core.UrlCanonicalizer
import graft.crawl.{CssFetch, FetchResponse, Fetcher}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.util.LongAccumulator
import scala.collection.mutable

/** In-memory span tree of one traced run: run → workload → phase → Spark
  * job. Phases are opened and closed by the benchmark on its own thread;
  * Spark jobs are attached afterwards to the innermost phase span that was
  * open when the job started. Nothing is written until the run ends.
  */
final class SpanRecorder {
  final class Span(val id: Int, val parent: Int, val name: String,
      val startMs: Long, val startNs: Long) {
    var endMs: Long = -1L
    var endNs: Long = -1L
    def seconds: Double = (endNs - startNs) / 1e9
    def contains(ms: Long): Boolean = startMs <= ms && (endMs < 0 || ms <= endMs)
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def apply[T](name: String)(f: => T): T = {
    val s = start(name)
    try f finally finish(s)
  }

  def start(name: String): Span = {
    val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    s
  }

  def finish(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    open = open.filterNot(_ eq s)
  }

  def all: Seq[Span] = spans.toSeq
  def named(prefix: String): Seq[Span] = spans.filter(_.name.startsWith(prefix)).toSeq

  /** Innermost span (deepest, latest-started) open at wall time `ms`. */
  def innermostAt(ms: Long): Option[Span] = {
    val depth = mutable.Map.empty[Int, Int]
    def d(s: Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent < 0) 0 else 1 + d(spans(s.parent)))
    spans.filter(_.contains(ms)).maxByOption(s => (d(s), s.startNs))
  }
}

/** Spark job and stage accounting from the listener bus. Jobs are keyed by
  * the call site Spark records (the first program frame of the submitting
  * thread's stack, file and method, no line).
  */
final class JobListener extends SparkListener {
  import JobListener.{JobRec, StageRec}

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  // SQL jobs run their stages from a planner thread pool, so their own
  // call site is Spark's; the query's call site comes with its execution
  private val executionSites = mutable.Map.empty[Long, String]
  private val stages = mutable.Map.empty[Int, StageRec]
  @volatile private var lastEventNs = System.nanoTime()
  @volatile private var selfNs = 0L

  /** Time spent inside this listener's callbacks (tracing's own cost). */
  def selfSeconds: Double = selfNs / 1e9

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    lock.synchronized(f)
    lastEventNs = System.nanoTime()
    selfNs += lastEventNs - t0
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      timed(executionSites(x.executionId) = JobListener.callsite(x.details))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val sqlSite = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionSites.get(id.toLong))
    val site = sqlSite.orElse(e.stageInfos.maxByOption(_.stageId)
      .map(s => JobListener.callsite(s.details))).getOrElse("other")
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, site, e.stageIds, ok = false)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val s = stages.getOrElseUpdate(e.stageId, new StageRec)
    s.tasks += 1
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.output += m.outputMetrics.bytesWritten
    }
  }

  /** Wait until the bus has delivered every event of finished actions. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    def busy = lock.synchronized(jobs.values.exists(_.endMs < 0))
    while (System.nanoTime() < deadline &&
        (busy || System.nanoTime() - lastEventNs < 50000000L)) Thread.sleep(10)
  }

  def snapshot: (Seq[JobRec], Map[Int, StageRec]) =
    lock.synchronized((jobs.values.toVector, stages.toMap))
}

object JobListener {
  final class StageRec {
    var tasks = 0
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var output = 0L
  }
  final case class JobRec(id: Int, startMs: Long, var endMs: Long, callsite: String,
      stageIds: Seq[Int], var ok: Boolean)

  private val Frame = """^\s*(?:at\s+)?([\w.$]+)\.([\w$]+)\(([\w.]+?)\.scala(?::\d+)?\)""".r

  /** "CrawlEngine.runWave" from the first graft (else benchmark) frame of a
    * long-form call site; anonymous-function frames map to their method.
    */
  def callsite(longForm: String): String = {
    val frames = longForm.split("\n").toSeq.flatMap(l => Frame.findFirstMatchIn(l))
    def key(m: scala.util.matching.Regex.Match): String = {
      val cls = m.group(1).split('.').last.stripSuffix("$").takeWhile(_ != '$')
      val method = m.group(2).split('$').filter(p => p.nonEmpty && p != "anonfun" &&
        !p.forall(_.isDigit) && p != "adapted").headOption.getOrElse(m.group(2))
      s"$cls.$method"
    }
    frames.find(_.group(1).startsWith("graft."))
      .orElse(frames.find(_.group(1).startsWith("perfbench.")))
      .map(key).getOrElse("other")
  }
}

/** Counting wrapper around the benchmark's fetcher: page, stylesheet and
  * robots calls, body bytes, and pages that link a same-host sheet. The
  * counters are accumulators because fetches run inside Spark tasks.
  */
final class CountingFetcher(inner: Fetcher, val pageCalls: LongAccumulator,
    val cssCalls: LongAccumulator, val robotsCalls: LongAccumulator,
    val bodyBytes: LongAccumulator, val pagesWithSheet: LongAccumulator,
    val selfNanos: LongAccumulator) extends Fetcher {

  override def fetch(url: String, attempt: Int = 0): FetchResponse = {
    val r = inner.fetch(url, attempt)
    val t0 = System.nanoTime()
    if (r.contentType == "text/css") cssCalls.add(1)
    else {
      pageCalls.add(1)
      if (r.body != null) bodyBytes.add(r.body.length)
      if (r.status == 200 && r.contentType == "text/html" && r.body != null &&
          CssFetch.stylesheetUrls(r.body, url, UrlCanonicalizer.host(url)).nonEmpty)
        pagesWithSheet.add(1)
    }
    selfNanos.add(System.nanoTime() - t0)
    r
  }

  override def fetchRobots(host: String): String = {
    robotsCalls.add(1)
    inner.fetchRobots(host)
  }
}

object CountingFetcher {
  def apply(sc: SparkContext, inner: Fetcher): CountingFetcher =
    new CountingFetcher(inner, sc.longAccumulator("fetch.page_calls"),
      sc.longAccumulator("fetch.css_calls"), sc.longAccumulator("fetch.robots_calls"),
      sc.longAccumulator("fetch.body_bytes"), sc.longAccumulator("fetch.pages_with_sheet"),
      sc.longAccumulator("fetch.counting_nanos"))
}
