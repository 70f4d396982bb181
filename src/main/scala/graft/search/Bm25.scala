package graft.search

/** BM25 scoring math shared by the golden exact scorer and the block-max
  * WAND engine (north rule: k1=1.2, b=0.75).
  *
  * Both engines call these exact functions and sum per-term contributions
  * in ascending term order, so golden and fast scores are bit-identical
  * doubles — which is what lets the comparison harness assert
  * rank-identical top-k with exact score equality, echoing the
  * reference's identical-vs-diff discipline
  * (reference: response_comparison.py:42-63).
  */
object Bm25 extends Serializable {
  final val K1 = 1.2
  final val B = 0.75

  /** Lucene-shaped BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5)) — always ≥ 0. */
  def idf(df: Long, n: Long): Double =
    math.log(1.0 + (n - df + 0.5) / (df + 0.5))

  /** Term-frequency normalization component; depends only on the doc. */
  def tfNorm(tf: Long, dl: Long, avgdl: Double): Double = {
    val tfd = tf.toDouble
    tfd * (K1 + 1.0) / (tfd + K1 * (1.0 - B + B * (dl.toDouble / avgdl)))
  }

  def score(tf: Long, dl: Long, df: Long, n: Long, avgdl: Double): Double =
    idf(df, n) * tfNorm(tf, dl, avgdl)
}
