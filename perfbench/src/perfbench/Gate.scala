package perfbench

import graft.crawl.{DocumentRow, SequentialOracle, TableIO}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Output checks of one lifecycle iteration, run outside every timed phase.
  * Each returns the list of mismatches (empty = correct).
  */
object Gate {

  /** First hash of the junk range that pre-seeds the seen set; real url
    * hashes land there with negligible probability.
    */
  val JunkBase: Long = 1L << 40

  /** Crawl order, seen set (minus the junk hashes) and per-document spans
    * equal the sequential oracle's.
    */
  def crawl(spark: SparkSession, io: TableIO, oracle: SequentialOracle.Result,
      preSeeded: Long): Seq[String] = {
    import spark.implicits._
    val bad = Seq.newBuilder[String]
    // an entry is fetched in the last wave its frontier row appears in
    // (politeness carry-over restages it with wave + 1 until it is due)
    val frontier = io.readAll("frontier", TableIO.FrontierSchema, lookahead = 1)
      .select($"url", $"seq", $"wave").as[(String, Long, Int)].collect()
    val fetched = frontier.groupBy(_._1).map { case (url, rows) =>
      (url, rows.head._2, rows.map(_._3).max)
    }.toSet
    val expectedOrder = oracle.crawlOrder.map(e => (e.url, e.seq, e.wave)).toSet
    if (fetched != expectedOrder)
      bad += s"crawl order: ${(fetched -- expectedOrder).size} extra, " +
        s"${(expectedOrder -- fetched).size} missing"

    val seen = io.readAll("seen", TableIO.SeenSchema, lookahead = 1)
    val junk = col("url_hash") >= JunkBase && col("url_hash") < JunkBase + preSeeded
    val junkRows = seen.filter(junk).count()
    if (junkRows != preSeeded) bad += s"seen: $junkRows pre-seeded rows, expected $preSeeded"
    val real = seen.filter(!junk).as[Long].collect().toSet
    if (real != oracle.seen)
      bad += s"seen: ${(real -- oracle.seen).size} extra, ${(oracle.seen -- real).size} missing"

    val docs = io.readAll("documents", TableIO.DocumentsSchema).as[DocumentRow]
      .collect().sortBy(_.seq).toVector
    // by seq: politeness carry-over fetches some lower seqs in later waves
    val expected = oracle.documents.sortBy(_.seq)
    if (docs.size != expected.size)
      bad += s"documents: ${docs.size}, oracle ${expected.size}"
    else {
      val diff = docs.zip(expected).filter { case (e, o) => e != o }
      diff.headOption.foreach { case (e, o) =>
        val fields = e.productElementNames.zip(e.productIterator.zip(o.productIterator))
          .collect { case (n, (a, b)) if a != b => n }.mkString(",")
        bad += s"documents: ${diff.size} rows differ from the oracle, first ${o.doc_id} in $fields"
      }
    }
    bad.result()
  }

  /** Documents the dataset export keeps: sites with at least `minDocs`. */
  def exportedDocs(oracle: SequentialOracle.Result, minDocs: Long): Long = {
    val site = "^https?://([^/]+)/".r
    oracle.documents
      .groupBy(d => site.findFirstMatchIn(d.doc_id).map(_.group(1)).getOrElse(""))
      .values.map(_.size.toLong).filter(_ >= minDocs).sum
  }

  /** Regular files under a local directory, with their total bytes. */
  def files(dir: java.nio.file.Path, suffix: String = ""): (Long, Long) = {
    if (!java.nio.file.Files.exists(dir)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(dir)
      try {
        var n = 0L
        var bytes = 0L
        s.iterator().forEachRemaining { p =>
          val name = p.getFileName.toString
          if (java.nio.file.Files.isRegularFile(p) && name.endsWith(suffix) &&
              !name.startsWith(".") && !name.startsWith("_")) {
            n += 1
            bytes += java.nio.file.Files.size(p)
          }
        }
        (n, bytes)
      } finally s.close()
    }
  }
}
