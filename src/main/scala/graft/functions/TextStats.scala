package graft.functions

/** Text-analysis kernels for the training-data pipeline tier: language ID
  * (script ranges + function-word profiles), quality scoring, token
  * counting, document fingerprinting (rolling hash), shingling, MinHash and
  * SimHash signatures. All pure, integer/long arithmetic, deterministic
  * across JVMs. Reference analogs: the lang heuristic extends the
  * Malayalam Unicode-range check (enhanced_extract.py:101-111); counts
  * mirror A2 (enhanced_extract.py:629).
  */
object TextStats {

  // ---- tokenization ------------------------------------------------------

  /** Whitespace tokens (reference A2: len(text.split())). */
  def tokens(text: String): Array[String] =
    text.split("\\s+").filter(_.nonEmpty)

  /** The lowercase whitespace tokenizer as a Spark UDF — the ONE
    * engine-side definition every operator shares (the oracle-side twin
    * is `queries.Shared.tokCtesOver`): a tokenizer tweak applied anywhere
    * else would silently diverge a driver query from the shared oracle
    * tokenization.
    */
  lazy val lowerTokensUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((t: String) =>
      if (t == null) Array.empty[String] else tokens(t.toLowerCase))

  def tokenCount(text: String): Int = tokens(text).length

  // ---- line-level cleaning (C4 rules) ------------------------------------

  final case class LineCleanResult(cleaned: String, nLines: Int, nKept: Int, nKeptWords: Int)

  /** C4's line-granularity cleaning rules (Raffel et al. 2020 §2.2 —
    * "Colossal Clean Crawled Corpus"): keep a line only if it ends in
    * terminal punctuation (`.!?"`), has at least `minWords` words, and
    * does not mention javascript (case-insensitive). Kept lines are
    * re-joined with `\n`; counts come back alongside so gates can be
    * expressed on the result without re-splitting. Line-level rules are
    * a DIFFERENT tier from the library's document-level quality gates:
    * they surgically remove boilerplate (cookie banners, nav stubs,
    * script fragments) while keeping the page. Pure per-document
    * function — map-only at any scale.
    */
  def c4LineClean(text: String, minWords: Int = 3): LineCleanResult = {
    if (text == null) return LineCleanResult("", 0, 0, 0)
    val lines = text.split("\n", -1)
    val kept = new StringBuilder
    var nk = 0
    var nkw = 0
    var i = 0
    while (i < lines.length) {
      val t = lines(i).trim
      val words = tokens(t)
      val terminal = t.nonEmpty && ".!?\"".indexOf(t.charAt(t.length - 1)) >= 0
      val js = t.toLowerCase.contains("javascript")
      if (terminal && words.length >= minWords && !js) {
        if (nk > 0) kept.append('\n')
        kept.append(t)
        nk += 1
        nkw += words.length
      }
      i += 1
    }
    LineCleanResult(kept.toString, lines.length, nk, nkw)
  }

  // ---- language ID -------------------------------------------------------

  private val enStop = Set("the", "and", "of", "to", "in", "is", "that", "it", "for", "with", "was", "on", "are", "this", "a")
  private val esStop = Set("el", "la", "de", "que", "y", "en", "los", "del", "las", "por", "un", "una", "con", "para", "es")
  private val deStop = Set("der", "die", "und", "das", "von", "zu", "mit", "den", "im", "für", "ist", "des", "ein", "auf", "nicht")
  private val frStop = Set("le", "la", "les", "de", "des", "et", "en", "un", "une", "du", "est", "que", "dans", "pour", "qui")

  /** Deterministic language heuristic: script ranges first (the reference's
    * Malayalam check generalized), then function-word profile scoring for
    * Latin-script text; "und" (undetermined) when no evidence.
    */
  def langId(text: String): String = {
    var ml, cjk, cyr, arab, latin = 0
    var i = 0
    val n = math.min(text.length, 4000)
    while (i < n) {
      val c = text.charAt(i)
      if (c >= 'ഀ' && c <= 'ൿ') ml += 1
      else if ((c >= '一' && c <= '鿿') || (c >= '぀' && c <= 'ヿ')) cjk += 1
      else if (c >= 'Ѐ' && c <= 'ӿ') cyr += 1
      else if (c >= '؀' && c <= 'ۿ') arab += 1
      else if (Character.isLetter(c) && c < 'ɐ') latin += 1
      i += 1
    }
    val scripted = ml + cjk + cyr + arab
    if (scripted * 5 > latin) {
      if (ml >= cjk && ml >= cyr && ml >= arab) return "ml"
      if (cjk >= cyr && cjk >= arab) return "zh"
      if (cyr >= arab) return "ru"
      return "ar"
    }
    if (latin == 0) return "und"
    val ws = tokens(text.toLowerCase.take(4000))
    var en, es, de, fr = 0
    ws.foreach { w =>
      if (enStop(w)) en += 1
      if (esStop(w)) es += 1
      if (deStop(w)) de += 1
      if (frStop(w)) fr += 1
    }
    val best = math.max(math.max(en, es), math.max(de, fr))
    if (best == 0) "und"
    else if (en == best) "en"
    else if (es == best) "es"
    else if (de == best) "de"
    else "fr"
  }

  // ---- quality scoring ---------------------------------------------------

  final case class Quality(
      nChars: Int,
      nTokens: Int,
      meanWordLen: Double,
      stopwordRatio: Double,
      punctRatio: Double,
      digitRatio: Double,
      upperRatio: Double,
      score: Double // 0..1 composite
  )

  /** Gopher/C4-style quality signals with fixed thresholds. */
  def quality(text: String): Quality = {
    val ts = tokens(text)
    val nTok = ts.length
    val nChars = text.length
    if (nTok == 0) return Quality(nChars, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    var punct, digit, upper, letters = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isLetter(c)) { letters += 1; if (Character.isUpperCase(c)) upper += 1 }
      else if (Character.isDigit(c)) digit += 1
      else if (!Character.isWhitespace(c)) punct += 1
      i += 1
    }
    val stop = ts.count(w => enStop(w.toLowerCase))
    val meanLen = ts.map(_.length).sum.toDouble / nTok
    val stopR = stop.toDouble / nTok
    val punctR = punct.toDouble / math.max(1, nChars)
    val digitR = digit.toDouble / math.max(1, nChars)
    val upperR = if (letters == 0) 0.0 else upper.toDouble / letters
    // composite: reward 3<=meanLen<=10, some stopwords, low punct/digit/caps
    var s = 1.0
    if (meanLen < 3.0 || meanLen > 10.0) s -= 0.25
    if (stopR < 0.01) s -= 0.25
    if (punctR > 0.2) s -= 0.2
    if (digitR > 0.3) s -= 0.15
    if (upperR > 0.5) s -= 0.15
    if (nTok < 5) s -= 0.3
    Quality(nChars, nTok, meanLen, stopR, punctR, digitR, upperR, math.max(0.0, s))
  }

  // ---- fingerprints / signatures ------------------------------------------

  /** 64-bit polynomial rolling hash of the whitespace-normalized text —
    * a stable content fingerprint (exact-dup key cheaper than md5).
    */
  def fingerprint64(text: String): Long = {
    var h = 1469598103934665603L // FNV offset basis
    var i = 0
    var lastWs = false
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (Character.isWhitespace(c)) lastWs = true
      else {
        if (lastWs) { h ^= ' '.toLong; h *= 1099511628211L; lastWs = false }
        h ^= c.toLong
        h *= 1099511628211L // FNV prime
      }
      i += 1
    }
    h
  }

  /** 64-bit mix (splitmix64 finalizer) — the hash family base. */
  @inline def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Hash of one word k-gram (shingle), derived from word hashes so no
    * intermediate strings are allocated.
    */
  def shingleHashes(text: String, k: Int): Array[Long] = {
    val ws = tokens(text.toLowerCase)
    if (ws.length < k) {
      if (ws.isEmpty) return Array.empty
      // short doc: single shingle over everything
      var h = 0L
      ws.foreach(w => h = mix64(h ^ mix64(w.hashCode.toLong)))
      return Array(h)
    }
    val wordH = ws.map(w => mix64(w.hashCode.toLong))
    val out = new Array[Long](ws.length - k + 1)
    var i = 0
    while (i + k <= ws.length) {
      var h = 0L
      var j = 0
      while (j < k) { h = mix64(h ^ wordH(i + j)); j += 1 }
      out(i) = h
      i += 1
    }
    out
  }

  /** Distinct shingle strings (for the exact n-gram Jaccard operator, which
    * must be SQL-mirrorable — DuckDB computes the same strings).
    */
  def shingleStrings(text: String, k: Int): Array[String] = {
    val ws = tokens(text.toLowerCase)
    if (ws.length < k) return if (ws.isEmpty) Array.empty else Array(ws.mkString(" "))
    val out = new Array[String](ws.length - k + 1)
    var i = 0
    while (i + k <= ws.length) { out(i) = ws.slice(i, i + k).mkString(" "); i += 1 }
    out.distinct
  }

  /** MinHash signature: numHashes permutations via h_i(x) = mix64(x ^ seed_i). */
  def minhash(text: String, k: Int, numHashes: Int): Array[Long] = {
    val sh = shingleHashes(text, k)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      var j = 0
      while (j < numHashes) {
        val h = mix64(sh(i) ^ (j * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  /** Estimated Jaccard from two MinHash signatures. */
  def estJaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.length == 0 || a.length != b.length) return 0.0
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** LSH band keys: hash each band of `rows` signature slots to a bucket. */
  def bandKeys(sig: Array[Long], bands: Int, rows: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = b.toLong * 0x9E3779B97F4A7C15L
      var r = 0
      while (r < rows && b * rows + r < sig.length) { h = mix64(h ^ sig(b * rows + r)); r += 1 }
      // pack band index into the key so buckets never collide across bands
      out(b) = (h & 0x00FFFFFFFFFFFFFFL) | (b.toLong << 56)
      b += 1
    }
    out
  }

  @inline def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** 64-bit SimHash over DISTINCT word k-gram shingles — the SAME feature
    * set the exact Jaccard definition uses. Token-level simhash (hashing
    * words instead of shingles — the removed round-2 design) separates
    * same-vocabulary near-dups weakly (unrelated
    * docs sharing one word distribution land at small hamming, true
    * near-dups at large), which forces near-all-pairs banding for exact
    * recall. Shingle features fix the geometry: a pair with shingle Jaccard
    * j has expected hamming 64·acos(2j/(1+j))/π (≈10 at j=0.8, ≈4 at
    * j=0.93), and because unrelated docs share almost NO k-grams their
    * signatures stay near hamming 32 — so narrow maxHamming prunes
    * aggressively without losing true pairs.
    */
  def simhashShingle64(text: String, k: Int): Long = {
    val sh = shingleHashes(text, k)
    val votes = new Array[Int](64)
    val seen = new java.util.HashSet[java.lang.Long](sh.length * 2)
    var i = 0
    while (i < sh.length) {
      val h = sh(i)
      if (seen.add(h)) {
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** All DISTINCT word k-grams, joined by single spaces, with NO short-doc
    * fallback (a doc with fewer than k tokens contributes nothing). This is
    * the decontamination feature set and must stay bit-compatible with the
    * DuckDB mirror (lower → `\s+` split → drop empties → lead-window
    * concat), unlike [[shingleStrings]] whose short-doc single-shingle
    * fallback exists for the Jaccard definition.
    */
  def wordGrams(text: String, k: Int): Array[String] = {
    val ws = tokens(text.toLowerCase)
    if (ws.length < k) return Array.empty
    val out = new Array[String](ws.length - k + 1)
    var i = 0
    while (i + k <= ws.length) { out(i) = ws.slice(i, i + k).mkString(" "); i += 1 }
    out.distinct
  }

  /** Gopher-style within-document repetition signals (Rae et al. 2021,
    * "Scaling Language Models", table A1 — repetition filters over
    * most-frequent n-gram and duplicated n-gram fractions), adapted to this
    * corpus's word-level shape (the synthetic documents are single
    * "sentences", so line/paragraph duplication is degenerate and the
    * word-gram signals are the informative ones).
    *
    * Returns integer numerators/denominators rather than fractions so the
    * DuckDB oracle can compare exactly (no float hashing):
    * `[top2, n2, dup3, n3]` where
    *  - top2 = occurrences of the MOST frequent word bigram
    *  - n2   = total bigram positions (tokens-1)
    *  - dup3 = trigram positions covered by trigrams occurring >= 2 times
    *  - n3   = total trigram positions (tokens-2)
    * Callers derive the Gopher fractions top2/n2 and dup3/n3 and flag docs
    * above threshold; all zero for docs shorter than the gram size.
    */
  def repetitionStats(text: String): Array[Long] = {
    val ws = tokens(text.toLowerCase)
    val n = ws.length
    val out = new Array[Long](4)
    if (n < 2) return out
    val c2 = new java.util.HashMap[String, Int](n * 2)
    var i = 0
    while (i + 2 <= n) {
      c2.merge(ws(i) + " " + ws(i + 1), 1, (a, b) => a + b)
      i += 1
    }
    var top2 = 0
    val it2 = c2.values.iterator()
    while (it2.hasNext) { val c = it2.next(); if (c > top2) top2 = c }
    out(0) = top2.toLong
    out(1) = (n - 1).toLong
    if (n < 3) return out
    val c3 = new java.util.HashMap[String, Int](n * 2)
    i = 0
    while (i + 3 <= n) {
      c3.merge(ws(i) + " " + ws(i + 1) + " " + ws(i + 2), 1, (a, b) => a + b)
      i += 1
    }
    var dup3 = 0L
    val it3 = c3.values.iterator()
    while (it3.hasNext) { val c = it3.next(); if (c >= 2) dup3 += c }
    out(2) = dup3
    out(3) = (n - 2).toLong
    out
  }

  // ---- text-stage utilities (SURVEY §2.7 F12/F13/F15) ----------------------

  /** F13 (hugging_face.py:13-32): split into chunks of <= maxWords
    * whitespace tokens, each chunk re-joined with single spaces.
    */
  def chunk(text: String, maxWords: Int = 1000): Seq[String] =
    tokens(text).grouped(math.max(1, maxWords)).map(_.mkString(" ")).toSeq

  /** F12 substitute (the reference's spaCy noun-chunk ranker replaced by a
    * deterministic regex-token scorer, SURVEY §2.7): lowercase word tokens
    * of length >= 4, stopwords dropped, ranked by (-freq, word), top k.
    */
  def keywords(text: String, k: Int = 20): Seq[(String, Int)] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    tokens(text.toLowerCase).foreach { w =>
      val t = w.filter(_.isLetter)
      if (t.length >= 4 && !enStop(t)) counts(t) = counts.getOrElse(t, 0) + 1
    }
    counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(k)
  }

  /** F15 — the reference's keyword-rule classification tier, verbatim map
    * and scoring (combined_pipeline.py:724-770): +1 per keyword contained in
    * the lowercased text; best label; confidence = hits / (nWords + 1).
    * ML tiers are out of scope (placeholders in the reference too).
    */
  private val keywordMap: Seq[(String, Seq[String])] = Seq(
    "invoice" -> Seq("invoice", "amount due", "total due", "invoice number", "bill to"),
    "purchase order" -> Seq("purchase order", "po number", "purchase order no"),
    "maintenance" -> Seq("maintenance", "job card", "work order", "technician"),
    "incident report" -> Seq("incident report", "incident", "reported", "injury"),
    "board meeting" -> Seq("board meeting", "minutes", "attendees", "resolution"),
    "legal opinion" -> Seq("legal opinion", "opinion of counsel", "whereas", "hereto"),
    "hr policy" -> Seq("hr policy", "human resources", "leave policy", "code of conduct")
  )

  def classify(text: String): (String, Double) = {
    if (text == null || text.trim.isEmpty) return ("Unknown", 0.0)
    val lower = text.toLowerCase
    var bestLabel = "Unknown"
    var bestScore = 0
    keywordMap.foreach { case (label, kws) =>
      val hits = kws.count(lower.contains)
      if (hits > bestScore) { bestScore = hits; bestLabel = label }
    }
    if (bestScore == 0) ("Unknown", 0.0)
    else (bestLabel, bestScore.toDouble / (tokens(text).length + 1))
  }
}
