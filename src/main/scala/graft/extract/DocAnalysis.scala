package graft.extract

import graft.core.{LangId, Span, TextStats}

/** One analyzable text item of a document: a TextBlock's text or a
  * Section/List/Table title. NavigationList titles and TableCell coordinate
  * payloads are NOT analyzed — exactly the switch in
  * `wordslab.nlptextdoc/NLPTextAnalyzer.AnalyzeDocumentElement:103-125`
  * (cases Section, List, Table, TextBlock only).
  */
final case class AnalyzedItem(
    offset: Int,
    text: String,
    text_hash: Long,
    words: Int,
    lang: String)

/** Language-free key of one analyzable item: what the first-wins block
  * dedup and the render ownership window need.
  */
final case class TextKey(offset: Int, text: String, text_hash: Long, words: Int)

object DocAnalysis {

  private val titledStarts = Set("Section.Start", "List.Start", "Table.Start")

  /** Keys of the analyzable items in span order, without language detection. */
  def textKeys(spans: Seq[Span]): Seq[TextKey] =
    spans.collect {
      case s if (titledStarts.contains(s.kind) && s.text.nonEmpty) || s.kind == "TextBlock.Text" =>
        TextKey(s.offset, s.text, TextStats.textHash(s.text), TextStats.of(s.text).words)
    }

  def analyzableItems(spans: Seq[Span]): Seq[AnalyzedItem] =
    textKeys(spans).map(k => AnalyzedItem(k.offset, k.text, k.text_hash, k.words, LangId.detect(k.text)))

  /** Document language = argmax of per-language word sums, first-seen wins
    * ties (C# dictionary Aggregate semantics, `NLPTextAnalyzer.cs:94-97`).
    * Returns "?" when no analyzable items.
    */
  def docLanguage(items: Seq[AnalyzedItem]): String = {
    if (items.isEmpty) return "?"
    val firstSeen = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    items.foreach(i => firstSeen.updateWith(i.lang) {
      case Some(w) => Some(w + i.words)
      case None => Some(i.words.toLong)
    })
    firstSeen.maxBy { case (_, w) => w }._1 // LinkedHashMap.maxBy keeps first max
  }
}
