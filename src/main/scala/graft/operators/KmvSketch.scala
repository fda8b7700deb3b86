package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, functions => F}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** K-Minimum-Values ("theta") distinct-value sketch (Bar-Yossef et al.
  * 2002; the theta-sketch framing of Dasgupta et al. 2016) — the sketch
  * tier that does what HLL ([[HllSketch]]) cannot: SET ALGEBRA on
  * distinct counts. Keep the k smallest DISTINCT hash values of a set;
  * union is a k-bounded merge of sorted buffers, and the intersection
  * of two sets is estimated from the common sketch hashes below
  * theta = min(theta_a, theta_b). That answers cross-snapshot questions
  * — "how many distinct urls/hosts/tokens do two crawl snapshots
  * share?" — at 10^12 rows without shuffling either side's distinct
  * values anywhere (reference analog: the corpus-level counter reports,
  * `combined_pipeline.py` summary stats, which a sketch replaces once
  * exact counting stops fitting).
  *
  * Engine-reproducible by the same discipline as [[HllSketch]]: the
  * hash is the first 12 hex digits of md5 (48 bits — exact in a signed
  * long on the Spark side and in BIGINT strpos-arithmetic on the DuckDB
  * side), so the sketch CONTENT (the k minimum hashes), the k-th
  * smallest hash (theta), and the common-below-theta COUNT are
  * deterministic integers the oracle replays exactly; only the float
  * estimates ([[estimateDistinct]], [[estimateIntersection]]) stay
  * driver-side and spec-tested, never oracle-compared.
  *
  * Distribution: the build is a typed Aggregator whose buffer is the
  * sorted distinct min-k long array — it partial-aggregates map-side
  * (each input partition reduces to ≤k longs before the exchange) and
  * merges as a k-bounded sorted walk, so the shuffle carries P partial
  * buffers of ≤k longs each, never the corpus. Dedup + min-k is
  * idempotent, commutative and associative (a semilattice, the same
  * property that makes HLL registers mergeable), so sketches built over
  * disjoint or overlapping corpus slices merge losslessly.
  */
object KmvSketch {

  val HashBits = 48
  /** 2^48 — the hash space size; theta of an unsaturated sketch. */
  val HashSpace: Long = 1L << HashBits

  /** 48-bit value hash as a long column: md5-prefix arithmetic,
    * mirrored in SQL by 12-digit strpos arithmetic (see
    * queries.Shared.md5PrefixSql).
    */
  def hash48(value: Column): Column =
    F.conv(F.substring(F.md5(value.cast("string")), 1, 12), 16, 10).cast("long")

  /** Inserts `h` into the sorted-distinct buffer, keeping the k
    * smallest; a duplicate hash is a no-op (KMV is a DISTINCT sketch —
    * this is what makes the aggregation duplicate-insensitive and the
    * buffer a semilattice element).
    */
  private[graft] def insert(b: Seq[Long], h: Long, k: Int): Seq[Long] = {
    if (b.size >= k && h >= b.last) return b
    var lo = 0
    var hi = b.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (b(mid) < h) lo = mid + 1 else hi = mid
    }
    if (lo < b.size && b(lo) == h) return b // duplicate
    val buf = scala.collection.mutable.ArrayBuffer.from(b)
    buf.insert(lo, h)
    if (buf.size > k) buf.remove(buf.size - 1)
    buf.toSeq
  }

  /** Merges two sorted-distinct buffers keeping the k smallest. */
  private[graft] def mergeSorted(a: Seq[Long], b: Seq[Long], k: Int): Seq[Long] = {
    if (a.isEmpty) return b.take(k)
    if (b.isEmpty) return a.take(k)
    // capacity: k may be "unbounded" (Int.MaxValue) — never pre-allocate it
    val out = new scala.collection.mutable.ArrayBuffer[Long](math.min(k, a.size + b.size))
    var i = 0
    var j = 0
    while (out.size < k && (i < a.size || j < b.size)) {
      if (j >= b.size) { out += a(i); i += 1 }
      else if (i >= a.size) { out += b(j); j += 1 }
      else if (a(i) < b(j)) { out += a(i); i += 1 }
      else if (b(j) < a(i)) { out += b(j); j += 1 }
      else { out += a(i); i += 1; j += 1 } // equal: take once
    }
    out.toSeq
  }

  /** Bounded distinct-min-k aggregator over pre-hashed longs. */
  final case class Kmv(k: Int) extends Aggregator[Long, Seq[Long], Seq[Long]] {
    def zero: Seq[Long] = Seq.empty
    def reduce(b: Seq[Long], h: Long): Seq[Long] = insert(b, h, k)
    def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] = mergeSorted(a, b, k)
    def finish(r: Seq[Long]): Seq[Long] = r
    def bufferEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** Null-tolerant boxed variant for the SQL registration
    * (`kmv_sketch`): a primitive-Long input encoder silently decodes a
    * NULL hash to 0L — which would insert a spurious minimum into the
    * sketch. Boxed input + explicit skip keeps SQL semantics (aggregates
    * ignore NULL) identical to the column path, where md5(NULL) is NULL
    * and never reaches the buffer.
    */
  final case class KmvBoxed(k: Int)
      extends Aggregator[java.lang.Long, Seq[Long], Seq[Long]] {
    def zero: Seq[Long] = Seq.empty
    def reduce(b: Seq[Long], h: java.lang.Long): Seq[Long] =
      if (h == null) b else insert(b, h.longValue, k)
    def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] = mergeSorted(a, b, k)
    def finish(r: Seq[Long]): Seq[Long] = r
    def bufferEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** One-row sketch of the distinct values of `valueCol`: column `sk`
    * is the sorted array of the ≤k minimum distinct 48-bit hashes.
    */
  def sketch(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    val agg = F.udaf(Kmv(k), ExpressionEncoder[Long]())
    df.select(hash48(F.col(valueCol)).as("h")).agg(agg(F.col("h")).as("sk"))
  }

  /** Theta of a sketch column: the k-th smallest hash if the sketch is
    * saturated, else the full hash space (every distinct hash is
    * present — the sketch IS the exact distinct set).
    */
  def thetaCol(sk: Column, k: Int): Column =
    F.when(F.size(sk) < k, F.lit(HashSpace)).otherwise(F.element_at(sk, k))

  /** KMV unbiased distinct-count estimate: (k-1) / (theta / 2^48) for a
    * saturated sketch, the exact size otherwise. Driver-side float.
    */
  def estimateDistinct(sk: Seq[Long], k: Int): Double =
    if (sk.size < k) sk.size.toDouble
    else (k - 1).toDouble * HashSpace.toDouble / sk.last.toDouble

  /** Intersection estimate from two sketches: common hashes below
    * theta = min(theta_a, theta_b), scaled back by the sampled hash
    * fraction. Driver-side float.
    */
  def estimateIntersection(a: Seq[Long], b: Seq[Long], k: Int): Double = {
    val thetaA = if (a.size < k) HashSpace else a.last
    val thetaB = if (b.size < k) HashSpace else b.last
    val theta = math.min(thetaA, thetaB)
    val common = a.toSet.intersect(b.toSet).count(_ < theta)
    common.toDouble * HashSpace.toDouble / theta.toDouble
  }
}
