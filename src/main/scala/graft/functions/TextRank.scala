package graft.functions

/** F14 — TextRank extractive summarization (SURVEY.md §2.7), the
  * deterministic Scala replacement for the reference's Sumy TextRank stage
  * (hugging_face.py:53-58): sentence graph with Mihalcea-Tarau overlap
  * similarity, damped power iteration with a FIXED iteration count (no
  * convergence branch — float noise can never change control flow), top-k
  * sentences returned in document order (Sumy's contract).
  *
  * Determinism: all accumulation loops run in fixed index order, ties in
  * the final ranking break by sentence position, and the iteration count is
  * constant — identical output across JVMs and partitionings.
  */
object TextRank {

  final val Damping = 0.85
  final val Iterations = 30

  /** Sentence split: a [.!?] run ends a sentence at following whitespace.
    * Deterministic and allocation-light; no abbreviation model (the
    * reference's tokenizer is language-model-free for this stage too).
    */
  def sentences(text: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val n = text.length
    var start = 0
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c == '.' || c == '!' || c == '?') {
        var j = i + 1
        while (j < n && (text.charAt(j) == '.' || text.charAt(j) == '!' || text.charAt(j) == '?')) j += 1
        if (j >= n || Character.isWhitespace(text.charAt(j))) {
          val s = text.substring(start, j).trim
          if (s.nonEmpty) out += s
          start = j
          i = j
        } else i = j
      } else i += 1
    }
    val tail = text.substring(start).trim
    if (tail.nonEmpty) out += tail
    out.toSeq
  }

  private def contentWords(s: String): Set[String] =
    TextStats.tokens(s.toLowerCase).iterator.map(_.filter(_.isLetter)).filter(_.length >= 2).toSet

  /** Top-k sentences by TextRank score, in document order. Texts with <= k
    * sentences return all of them (the identity case).
    */
  def summarize(text: String, k: Int): Seq[String] = {
    val ss = sentences(text)
    if (ss.length <= k) return ss
    val words = ss.map(contentWords).toArray
    val n = ss.length

    // Mihalcea-Tarau similarity: |overlap| / (log|A| + log|B|)
    val w = Array.ofDim[Double](n, n)
    val outSum = new Array[Double](n)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val a = words(i)
        val b = words(j)
        if (a.size > 1 && b.size > 1) {
          val overlap = a.count(b.contains)
          if (overlap > 0) {
            val s = overlap / (math.log(a.size.toDouble) + math.log(b.size.toDouble))
            w(i)(j) = s
            w(j)(i) = s
          }
        }
        j += 1
      }
      i += 1
    }
    i = 0
    while (i < n) {
      var j = 0
      var s = 0.0
      while (j < n) { s += w(i)(j); j += 1 }
      outSum(i) = s
      i += 1
    }

    var score = Array.fill(n)(1.0 / n)
    var it = 0
    while (it < Iterations) {
      val next = new Array[Double](n)
      var v = 0
      while (v < n) {
        var acc = 0.0
        var u = 0
        while (u < n) {
          if (w(u)(v) > 0.0 && outSum(u) > 0.0) acc += score(u) * w(u)(v) / outSum(u)
          u += 1
        }
        next(v) = (1.0 - Damping) / n + Damping * acc
        v += 1
      }
      score = next
      it += 1
    }

    val top = score.zipWithIndex
      .sortBy { case (s, idx) => (-s, idx) } // tie -> earlier sentence
      .take(k)
      .map(_._2)
      .sorted // document order, Sumy's contract
    top.map(ss).toSeq
  }
}
