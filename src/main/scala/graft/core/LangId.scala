package graft.core

/** Deterministic, dependency-free language identification.
  *
  * The reference uses fastText lid.176.ftz with a 0.6 probability floor
  * (`wordslab.nlptextdoc/NLPTextAnalyzer.cs:45-59,176-198`); that native
  * model is unavailable offline, so per SURVEY.md §7 the detector is
  * pluggable and this default is an offline-trainable classifier that is
  * stable across runs — parity tests pin this classifier (engine and
  * sequential oracle share it), they never depend on fastText outputs.
  *
  * The default model is a Cavnar–Trenkle character-n-gram profile
  * classifier ("N-Gram-Based Text Categorization", SDAIR 1994 — public
  * method): per language, the top-[[ProfileSize]] character 1..5-grams of
  * word-padded text ranked by frequency; classification is the
  * out-of-place rank-distance between the document's profile and each
  * language profile, with a normalized-distance floor standing in for the
  * reference's probability floor ("?" when no language is close enough).
  * Profiles train at class-load time on the embedded fixture corpora
  * below (parallel sample sentences written for this repo), so the model
  * ships as code — no files, no network, bit-stable across JVMs.
  *
  * Non-Latin scripts take a deterministic fast path: when most letters
  * belong to one non-Latin script, the text maps to that script's
  * dominant language (documented deviation: fastText distinguishes e.g.
  * ru/uk/bg within Cyrillic; the dominant-script map does not).
  *
  * Kernel: every gram is a packed integer key whose order equals
  * String.compareTo on the gram text (see the machinery section), so the
  * frequency-then-text ranking never builds a String. Counts go into a
  * per-thread primitive open-addressing table that is reused across calls;
  * the top-[[ProfileSize]] cut walks a histogram of the counts and sorts
  * only the grams above the boundary count plus the ties at it; the
  * distance loop looks each ranked key up once in a table holding all
  * seven language ranks. Case folding uses Locale.ROOT, so results do not
  * depend on the JVM's default locale.
  */
object LangId {

  /** Profile length per Cavnar–Trenkle (300 in the paper). */
  val ProfileSize = 300

  /** Normalized out-of-place distance above which the best candidate is
    * rejected as "?" — the deterministic analog of fastText's P > 0.6
    * floor. Calibrated on the held-out fixtures in LangIdSpec: real
    * sentences in the trained languages score 0.45–0.75 (short ones at
    * the high end), random-keyboard gibberish 0.80+.
    */
  val MaxNormDistance = 0.78

  /** Only the first chunk of a long text feeds the document profile —
    * 4 kB of characters saturates a 300-n-gram profile (C-T §4), so this
    * bounds per-block classify cost without changing results on long docs.
    */
  val MaxProfileChars = 4000

  // --- training corpora: parallel sample sentences (authored for this
  // repo; common function words + everyday vocabulary). Parallel content
  // keeps the profiles topic-neutral — they differ by language only. -----
  private val training: Map[String, String] = Map(
    "en" -> ("The quick brown fox jumps over the lazy dog while the children " +
      "were playing in the garden. This is not the first time that we have " +
      "seen such a thing happen here. People who live in this country often " +
      "say that the weather changes from one day to the next. She said that " +
      "they would come back when the work was finished. There are many " +
      "reasons why the government should not have done this. It was the " +
      "best of times and it was the worst of times. What do you think about " +
      "the new building near the station? Everyone knows that reading books " +
      "is one of the most important things for young students. He could not " +
      "remember where he had left his keys this morning. The history of " +
      "science shows that great discoveries are often made by accident."),
    "fr" -> ("Le chat noir dort sur le canapé pendant que les enfants jouent " +
      "dans le jardin. Ce n'est pas la première fois que nous voyons une " +
      "telle chose se produire ici. Les gens qui vivent dans ce pays disent " +
      "souvent que le temps change d'un jour à l'autre. Elle a dit qu'ils " +
      "reviendraient quand le travail serait terminé. Il y a beaucoup de " +
      "raisons pour lesquelles le gouvernement n'aurait pas dû faire cela. " +
      "C'était le meilleur des temps et c'était le pire des temps. Que " +
      "pensez-vous du nouveau bâtiment près de la gare? Tout le monde sait " +
      "que la lecture des livres est une des choses les plus importantes " +
      "pour les jeunes étudiants. Il ne pouvait pas se rappeler où il avait " +
      "laissé ses clés ce matin. L'histoire de la science montre que les " +
      "grandes découvertes sont souvent faites par hasard."),
    "de" -> ("Die schwarze Katze schläft auf dem Sofa während die Kinder im " +
      "Garten spielen. Es ist nicht das erste Mal dass wir so etwas hier " +
      "gesehen haben. Die Menschen die in diesem Land leben sagen oft dass " +
      "sich das Wetter von einem Tag auf den anderen ändert. Sie sagte dass " +
      "sie zurückkommen würden wenn die Arbeit beendet wäre. Es gibt viele " +
      "Gründe warum die Regierung das nicht hätte tun sollen. Es war die " +
      "beste Zeit und es war die schlimmste Zeit. Was denken Sie über das " +
      "neue Gebäude in der Nähe des Bahnhofs? Jeder weiß dass das Lesen von " +
      "Büchern eines der wichtigsten Dinge für junge Studenten ist. Er " +
      "konnte sich nicht erinnern wo er heute Morgen seine Schlüssel " +
      "gelassen hatte. Die Geschichte der Wissenschaft zeigt dass große " +
      "Entdeckungen oft durch Zufall gemacht werden."),
    "es" -> ("El gato negro duerme en el sofá mientras los niños juegan en " +
      "el jardín. No es la primera vez que vemos algo así aquí. La gente " +
      "que vive en este país dice a menudo que el tiempo cambia de un día " +
      "para otro. Ella dijo que volverían cuando el trabajo estuviera " +
      "terminado. Hay muchas razones por las que el gobierno no debería " +
      "haber hecho esto. Era el mejor de los tiempos y era el peor de los " +
      "tiempos. ¿Qué piensas del nuevo edificio cerca de la estación? Todo " +
      "el mundo sabe que la lectura de libros es una de las cosas más " +
      "importantes para los jóvenes estudiantes. No podía recordar dónde " +
      "había dejado sus llaves esta mañana. La historia de la ciencia " +
      "muestra que los grandes descubrimientos se hacen a menudo por " +
      "accidente."),
    "it" -> ("Il gatto nero dorme sul divano mentre i bambini giocano in " +
      "giardino. Non è la prima volta che vediamo una cosa del genere qui. " +
      "Le persone che vivono in questo paese dicono spesso che il tempo " +
      "cambia da un giorno all'altro. Ha detto che sarebbero tornati quando " +
      "il lavoro fosse finito. Ci sono molte ragioni per cui il governo non " +
      "avrebbe dovuto fare questo. Era il migliore dei tempi ed era il " +
      "peggiore dei tempi. Cosa pensi del nuovo edificio vicino alla " +
      "stazione? Tutti sanno che la lettura dei libri è una delle cose più " +
      "importanti per i giovani studenti. Non riusciva a ricordare dove " +
      "aveva lasciato le sue chiavi questa mattina. La storia della scienza " +
      "mostra che le grandi scoperte sono spesso fatte per caso."),
    "pt" -> ("O gato preto dorme no sofá enquanto as crianças brincam no " +
      "jardim. Não é a primeira vez que vemos uma coisa destas aqui. As " +
      "pessoas que vivem neste país dizem muitas vezes que o tempo muda de " +
      "um dia para o outro. Ela disse que eles voltariam quando o trabalho " +
      "estivesse terminado. Há muitas razões pelas quais o governo não " +
      "deveria ter feito isto. Era o melhor dos tempos e era o pior dos " +
      "tempos. O que você acha do novo edifício perto da estação? Todos " +
      "sabem que a leitura de livros é uma das coisas mais importantes " +
      "para os jovens estudantes. Ele não conseguia lembrar onde tinha " +
      "deixado as suas chaves esta manhã. A história da ciência mostra que " +
      "as grandes descobertas são muitas vezes feitas por acaso."),
    "nl" -> ("De zwarte kat slaapt op de bank terwijl de kinderen in de tuin " +
      "spelen. Het is niet de eerste keer dat we zoiets hier hebben gezien. " +
      "De mensen die in dit land wonen zeggen vaak dat het weer van de ene " +
      "dag op de andere verandert. Ze zei dat ze terug zouden komen wanneer " +
      "het werk klaar was. Er zijn veel redenen waarom de regering dit niet " +
      "had moeten doen. Het was de beste der tijden en het was de slechtste " +
      "der tijden. Wat vind je van het nieuwe gebouw bij het station? " +
      "Iedereen weet dat het lezen van boeken een van de belangrijkste " +
      "dingen voor jonge studenten is. Hij kon zich niet herinneren waar " +
      "hij vanochtend zijn sleutels had gelaten. De geschiedenis van de " +
      "wetenschap laat zien dat grote ontdekkingen vaak per ongeluk worden " +
      "gedaan."))

  /** Deterministic language order: ties in classification resolve to the
    * first (strictly-less comparison below).
    */
  private val langsOrdered = Vector("en", "fr", "de", "es", "it", "pt", "nl")

  private val Scripts = Character.UnicodeScript.values

  // --- Cavnar–Trenkle machinery ------------------------------------------
  //
  // Grams are 1..5 chars of word-padded lowercase text ("_word_", per the
  // paper's tokenization: digits and punctuation never enter a gram). A gram
  // is packed into two primitives: `hi` holds chars 0..3 as 16-bit fields,
  // char 0 in the top bits, and `lo` holds char 4; absent positions are 0.
  // No gram char is U+0000, so ordering by `hi` unsigned and then `lo` is
  // exactly String.compareTo on the grams (a shorter gram is a prefix padded
  // with 0, and sorts first). Counting, top-K selection and the rank-distance
  // lookups run on these keys; only [[profile]] decodes them to Strings.

  /** Open-addressing map from packed gram keys to a positive Int (a count
    * while profiling a text; a row of [[langRanks]] in [[langGrams]]).
    * Value 0 marks an empty slot; `used` lists the filled slots in insertion
    * order, so clearing and scanning touch only those.
    */
  private final class GramTable(private var bits: Int) {
    var hi = new Array[Long](1 << bits)
    var lo = new Array[Int](1 << bits)
    var value = new Array[Int](1 << bits)
    var used = new Array[Int](1 << bits)
    var size = 0

    private def slot(h: Long, l: Int): Int = {
      val mask = (1 << bits) - 1
      var i = (((h + l * 0xC2B2AE3D27D4EB4FL) * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt
      while (value(i) != 0 && (hi(i) != h || lo(i) != l)) i = (i + 1) & mask
      i
    }

    def get(h: Long, l: Int): Int = value(slot(h, l))

    def increment(h: Long, l: Int): Unit = {
      var i = slot(h, l)
      if (value(i) != 0) value(i) += 1
      else {
        if (2 * (size + 1) > value.length) { grow(); i = slot(h, l) }
        hi(i) = h; lo(i) = l; value(i) = 1; used(size) = i; size += 1
      }
    }

    def clear(): Unit = {
      var k = 0
      while (k < size) { value(used(k)) = 0; k += 1 }
      size = 0
    }

    private def grow(): Unit = {
      val (oh, ol, ov, ou) = (hi, lo, value, used)
      bits += 1
      hi = new Array[Long](1 << bits); lo = new Array[Int](1 << bits)
      value = new Array[Int](1 << bits); used = new Array[Int](1 << bits)
      var k = 0
      while (k < size) {
        val o = ou(k)
        val i = slot(oh(o), ol(o))
        hi(i) = oh(o); lo(i) = ol(o); value(i) = ov(o); used(k) = i
        k += 1
      }
    }
  }

  /** Per-thread working memory of [[profile]] and [[detect]], reused across
    * calls: the gram counts, the ranked profile (slots of `grams`), the
    * boundary ties and count histogram of the top-K selection, and the
    * per-script letter counts of [[detect]]. Its size follows the largest
    * text profiled on the thread, which [[detect]] caps at
    * [[MaxProfileChars]].
    */
  private final class Scratch {
    val grams = new GramTable(10)
    val ranked = new Array[Int](ProfileSize)
    var ties = new Array[Int](ProfileSize)
    var buf = new Array[Int](ProfileSize) // merge buffer, as long as `ties`
    var hist = new Array[Int](256)
    val scripts = new Array[Int](Scripts.length)
    val dist = new Array[Long](langsOrdered.size)
  }

  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** Counts the grams that end with symbol `c` of a padded word that holds
    * `k` symbols before it, the last four packed in `w` (newest lowest).
    */
  private def countGrams(g: GramTable, w: Long, k: Int, c: Char): Unit = {
    val x = (w << 16) | c
    g.increment(x << 48, 0)
    if (k >= 1) g.increment(x << 32, 0)
    if (k >= 2) g.increment(x << 16, 0)
    if (k >= 3) g.increment(x, 0)
    if (k >= 4) g.increment(w, c)
  }

  /** Rank order: higher count first, ties by gram text. */
  private def ranksBefore(g: GramTable, x: Int, y: Int): Boolean = {
    val cx = g.value(x)
    val cy = g.value(y)
    if (cx != cy) cx > cy
    else {
      val c = java.lang.Long.compareUnsigned(g.hi(x), g.hi(y))
      c < 0 || (c == 0 && g.lo(x) < g.lo(y))
    }
  }

  /** Merge sort of the slots `a(from until to)` into rank order, through
    * `buf` (at least as long as `a`); short runs are insertion-sorted.
    */
  private def sortSlots(g: GramTable, a: Array[Int], buf: Array[Int], from: Int, to: Int): Unit =
    if (to - from <= 12) {
      var i = from + 1
      while (i < to) {
        val v = a(i)
        var j = i - 1
        while (j >= from && ranksBefore(g, v, a(j))) { a(j + 1) = a(j); j -= 1 }
        a(j + 1) = v
        i += 1
      }
    } else {
      val mid = (from + to) >>> 1
      sortSlots(g, a, buf, from, mid)
      sortSlots(g, a, buf, mid, to)
      if (ranksBefore(g, a(mid), a(mid - 1))) {
        System.arraycopy(a, from, buf, from, mid - from)
        var i = from
        var j = mid
        var k = from
        while (i < mid) {
          if (j < to && ranksBefore(g, a(j), buf(i))) { a(k) = a(j); j += 1 }
          else { a(k) = buf(i); i += 1 }
          k += 1
        }
      }
    }

  /** Counts the grams of the first `maxChars` chars of `text` into
    * `s.grams` and writes the ranked profile's slots to `s.ranked`; returns
    * the profile length (at most [[ProfileSize]]). Top-K selection walks a
    * histogram of the counts down to the boundary count, so only the grams
    * above it and the ties at it are sorted, never every distinct gram.
    */
  private def rankGrams(text: String, maxChars: Int, s: Scratch): Int = {
    val slice = if (text.length > maxChars) text.substring(0, maxChars) else text
    val lower = slice.toLowerCase(java.util.Locale.ROOT)
    val g = s.grams
    g.clear()
    var w = 0L // last four symbols of the current padded word, newest lowest
    var k = 0  // symbols of the current padded word so far; 0 outside a word
    var i = 0
    while (i <= lower.length) {
      val c = if (i < lower.length) lower.charAt(i) else ' '
      if (Character.isLetter(c)) {
        if (k == 0) { countGrams(g, 0L, 0, '_'); w = '_'; k = 1 }
        countGrams(g, w, k, c)
        w = (w << 16) | c
        k += 1
      } else if (k > 0) {
        countGrams(g, w, k, '_')
        w = 0L
        k = 0
      }
      i += 1
    }
    if (g.size <= ProfileSize) {
      System.arraycopy(g.used, 0, s.ranked, 0, g.size)
      sortSlots(g, s.ranked, s.buf, 0, g.size)
      return g.size
    }
    var maxCount = 0
    var u = 0
    while (u < g.size) { maxCount = math.max(maxCount, g.value(g.used(u))); u += 1 }
    if (s.hist.length <= maxCount) s.hist = new Array[Int](maxCount + 1)
    java.util.Arrays.fill(s.hist, 0, maxCount + 1, 0)
    u = 0
    while (u < g.size) { s.hist(g.value(g.used(u))) += 1; u += 1 }
    var boundary = maxCount
    var above = 0 // grams with a count above `boundary`
    while (above + s.hist(boundary) < ProfileSize) { above += s.hist(boundary); boundary -= 1 }
    if (s.ties.length < s.hist(boundary)) {
      s.ties = new Array[Int](s.hist(boundary))
      s.buf = new Array[Int](s.hist(boundary))
    }
    var nAbove = 0
    var nTies = 0
    u = 0
    while (u < g.size) {
      val slot = g.used(u)
      val v = g.value(slot)
      if (v > boundary) { s.ranked(nAbove) = slot; nAbove += 1 }
      else if (v == boundary) { s.ties(nTies) = slot; nTies += 1 }
      u += 1
    }
    sortSlots(g, s.ranked, s.buf, 0, nAbove)
    sortSlots(g, s.ties, s.buf, 0, nTies)
    System.arraycopy(s.ties, 0, s.ranked, nAbove, ProfileSize - nAbove)
    ProfileSize
  }

  /** Ranked n-gram profile (most frequent first, ties by gram text for
    * bit-stable profiles), truncated to [[ProfileSize]].
    */
  def profile(text: String, maxChars: Int = Int.MaxValue): Vector[String] = {
    val s = scratch.get
    val n = rankGrams(text, maxChars, s)
    val g = s.grams
    Vector.tabulate(n) { r =>
      val slot = s.ranked(r)
      val h = g.hi(slot)
      val cs = new Array[Char](5)
      var len = 0
      while (len < 4 && ((h >>> (48 - 16 * len)) & 0xFFFF) != 0) {
        cs(len) = (h >>> (48 - 16 * len)).toChar
        len += 1
      }
      if (g.lo(slot) != 0) { cs(4) = g.lo(slot).toChar; len = 5 }
      new String(cs, 0, len)
    }
  }

  /** Union of the trained language profiles' grams; a gram's value is its
    * row in [[langRanks]] plus one.
    */
  private val langGrams = new GramTable(12)

  /** Rank of each [[langGrams]] row per language (row-major, languages in
    * [[langsOrdered]] order); -1 when the gram is not in that profile.
    */
  private val langRanks: Array[Int] = {
    val trained = langsOrdered.map { lang =>
      val s = new Scratch
      val n = rankGrams(training(lang), Int.MaxValue, s)
      (s.grams, s.ranked.take(n))
    }
    trained.foreach { case (g, ranked) => ranked.foreach(slot => langGrams.increment(g.hi(slot), g.lo(slot))) }
    (0 until langGrams.size).foreach(row => langGrams.value(langGrams.used(row)) = row + 1)
    val ranks = Array.fill(langGrams.size * langsOrdered.size)(-1)
    trained.zipWithIndex.foreach { case ((g, ranked), li) =>
      ranked.zipWithIndex.foreach { case (slot, r) =>
        ranks((langGrams.get(g.hi(slot), g.lo(slot)) - 1) * langsOrdered.size + li) = r
      }
    }
    ranks
  }

  // --- non-Latin script fast path ------------------------------------------

  /** Dominant-script → language map for scripts where the script itself
    * identifies the (dominant) language. Deterministic; a coarser call
    * than fastText makes inside a script family (documented deviation).
    */
  private val scriptLang: Map[Character.UnicodeScript, String] = {
    import Character.UnicodeScript._
    Map(CYRILLIC -> "ru", GREEK -> "el", ARABIC -> "ar", HEBREW -> "he",
      HAN -> "zh", HIRAGANA -> "ja", KATAKANA -> "ja", HANGUL -> "ko",
      THAI -> "th", DEVANAGARI -> "hi", GEORGIAN -> "ka", ARMENIAN -> "hy")
  }

  /** Classify one text. "?" when fewer than 2 words or no trained language
    * profile is within [[MaxNormDistance]] (the probability-floor analog).
    * The document profile's out-of-place distance to each language profile
    * is |docRank − langRank| per document gram, a missing gram costing the
    * maximum ([[ProfileSize]]), normalized to [0, 1].
    */
  def detect(text: String): String = {
    if (text == null) return "?"
    val s = scratch.get
    // word floor first (reference behavior: too little signal → "?")
    var words = 0
    var inWord = false
    var li = 0
    var latinLetters = 0
    var otherLetters = 0
    while (li < text.length) {
      val c = text.charAt(li)
      if (Character.isLetter(c)) {
        if (!inWord) { words += 1; inWord = true }
        if (c < 0x80) latinLetters += 1 // ASCII letters are all Latin script
        else {
          val sc = Character.UnicodeScript.of(c)
          if (sc == Character.UnicodeScript.LATIN) latinLetters += 1
          else { otherLetters += 1; s.scripts(sc.ordinal) += 1 }
        }
      } else inWord = false
      li += 1
    }
    // dominant non-Latin script, first in script order on ties; resets counts
    var bestScript = -1
    if (otherLetters > 0) {
      var bestN = 0
      var o = 0
      while (o < s.scripts.length) {
        if (s.scripts(o) > bestN) { bestN = s.scripts(o); bestScript = o }
        s.scripts(o) = 0
        o += 1
      }
    }
    if (words < 2 && otherLetters == 0) return "?"
    if (otherLetters > latinLetters) return scriptLang.getOrElse(Scripts(bestScript), "?")
    val n = rankGrams(text, MaxProfileChars, s)
    if (n == 0) return "?"
    val g = s.grams
    val nLangs = langsOrdered.size
    java.util.Arrays.fill(s.dist, 0L)
    var r = 0
    while (r < n) {
      val slot = s.ranked(r)
      val row = langGrams.get(g.hi(slot), g.lo(slot)) - 1
      var l = 0
      while (l < nLangs) {
        val lr = if (row < 0) -1 else langRanks(row * nLangs + l)
        s.dist(l) += (if (lr < 0) ProfileSize else math.abs(r - lr))
        l += 1
      }
      r += 1
    }
    var bestLang = "?"
    var bestDist = Double.MaxValue
    var l = 0
    while (l < nLangs) {
      val d = s.dist(l).toDouble / (n.toLong * ProfileSize)
      if (d < bestDist) { bestDist = d; bestLang = langsOrdered(l) }
      l += 1
    }
    if (bestDist <= MaxNormDistance) bestLang else "?"
  }

  // --- previous default, kept for accuracy comparison ---------------------

  private val stopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "it", "for",
      "was", "with", "are", "this", "have", "from", "not", "they", "his",
      "her", "you", "all", "were", "when", "there", "can", "been", "has",
      "more", "who", "will", "about", "which"),
    "fr" -> Set("le", "la", "les", "de", "des", "du", "et", "est", "en",
      "un", "une", "dans", "que", "qui", "pour", "sur", "avec", "pas",
      "par", "plus", "mais", "comme", "sont", "nous", "vous", "leur",
      "cette", "ces", "aux", "être", "fait", "était"),
    "de" -> Set("der", "die", "das", "und", "ist", "von", "den", "mit",
      "auf", "für", "nicht", "ein", "eine", "als", "auch", "aus", "bei",
      "nach", "wie", "wird", "sind", "oder", "zum", "zur", "über", "wenn",
      "aber", "noch", "werden", "einer"),
    "es" -> Set("el", "la", "los", "las", "de", "que", "en", "un", "una",
      "por", "con", "para", "del", "se", "su", "al", "es", "como", "más",
      "pero", "sus", "fue", "ser", "son", "entre", "está", "cuando",
      "hay", "este", "esta"))

  /** Round-1..5 default (stopword-hit ratio over en/fr/de/es), retained so
    * LangIdSpec can assert the n-gram model measurably beats it on the
    * held-out fixtures.
    */
  def stopwordHeuristic(text: String): String = {
    val words = text.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}]+").filter(_.nonEmpty)
    if (words.length < 2) return "?"
    var bestLang = "?"
    var bestHits = 0
    Vector("en", "fr", "de", "es").foreach { lang =>
      val sw = stopwords(lang)
      var hits = 0
      words.foreach(w => if (sw.contains(w)) hits += 1)
      if (hits > bestHits) { bestHits = hits; bestLang = lang }
    }
    if (bestHits.toDouble / words.length >= 0.18) bestLang else "?"
  }
}
