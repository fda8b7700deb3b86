package graft.functions

import java.util.regex.Pattern

/** PII redaction kernel for the training-data pipeline tier: masks
  * emails, NANP-style phone numbers, and IPv4 addresses with typed
  * placeholders and reports per-type hit counts (the standard
  * pre-training scrub pass — C4/Dolma-style taggers do exactly this
  * before quality filtering).
  *
  * Deliberately regex-subset-disciplined, like the PDF/PNG parsers: the
  * three patterns use only constructs with IDENTICAL semantics in
  * java.util.regex and RE2 (character classes, bounded repetition,
  * non-capturing groups, \b) so the DuckDB oracle can run the SAME
  * patterns — no lookaround, no backreferences. Masking order is fixed
  * (email, then phone, then IP) and idempotent: placeholders contain no
  * digits or '@', so a second pass is a no-op.
  *
  * Scale shape: pure per-row scalar work — map-only, no shuffle, safe
  * inside any projection. Null text passes through as null with zero
  * counts (a null doc is PII-free, not a job-failing NPE).
  */
object PiiScrub {

  /** Portable (Java ∩ RE2) patterns — keep in sync with the SQL mirror
    * in the p_scrub_pii oracle (queries.PipelineQueries).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  private val email = Pattern.compile(EmailRe)
  private val phone = Pattern.compile(PhoneRe)
  private val ipv4 = Pattern.compile(Ipv4Re)

  /** (cleaned text, emails masked, phones masked, IPs masked). */
  final case class Scrubbed(clean: String, n_email: Int, n_phone: Int, n_ip: Int)

  private def mask(p: Pattern, s: String, tag: String): (String, Int) = {
    val m = p.matcher(s)
    var n = 0
    val out = new java.lang.StringBuilder
    while (m.find()) { n += 1; m.appendReplacement(out, tag) }
    m.appendTail(out)
    (if (n == 0) s else out.toString, n)
  }

  def scrub(text: String): Scrubbed = {
    if (text == null) return Scrubbed(null, 0, 0, 0)
    val (s1, ne) = mask(email, text, "<EMAIL>")
    val (s2, np) = mask(phone, s1, "<PHONE>")
    val (s3, ni) = mask(ipv4, s2, "<IP>")
    Scrubbed(s3, ne, np, ni)
  }
}
