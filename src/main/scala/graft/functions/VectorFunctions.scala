package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.{CentroidArgmax, CentroidTopN, CosineSimilarity, DotProduct, GraftExpressions, HyperplaneBuckets, InterleaveBits, NfcNormalize, PqAdc, PqEncode, PqLut, RankBucket, RollingHash, SimHash64}

/** Public facade over the native Catalyst kernels in
  * [[org.apache.spark.sql.graft]] (which must live inside Spark's namespace
  * for `private[sql]` access). Use these exactly like
  * `org.apache.spark.sql.functions._`.
  */
object VectorFunctions {

  /** cosine_sim(a, b): cosine similarity of two array<float> columns. */
  def cosine_sim(a: Column, b: Column): Column =
    GraftExpressions.column(CosineSimilarity(
      GraftExpressions.expression(a), GraftExpressions.expression(b)))

  /** dot_product(a, b): dot product of two array<float> columns. */
  def dot_product(a: Column, b: Column): Column =
    GraftExpressions.column(DotProduct(
      GraftExpressions.expression(a), GraftExpressions.expression(b)))

  /** hyperplane_buckets(emb): all LSH table bucket ids of an array<float>
    * column in one fused kernel — `planes` is the flattened
    * (nTables·bitsPerTable) × dim hyperplane matrix. Returns
    * array<long>(nTables). Throws on embedding-dimension mismatch. */
  def hyperplane_buckets(emb: Column, planes: Array[Float],
                         nTables: Int, bitsPerTable: Int): Column =
    GraftExpressions.column(HyperplaneBuckets(
      GraftExpressions.expression(emb), planes, nTables, bitsPerTable))

  /** centroid_argmax(emb): id of the nearest (max-cosine) centroid —
    * `centroids` is the flattened ids.length × dim matrix, carried as one
    * reference object so the plan stays O(1) in nList. Ties go to the larger
    * id; throws on dimension mismatch. */
  def centroid_argmax(emb: Column, centroids: Array[Float],
                      ids: Array[Int]): Column =
    GraftExpressions.column(CentroidArgmax(
      GraftExpressions.expression(emb), centroids, ids))

  /** centroid_topn(emb): the topN nearest centroids as
    * array<struct<csim double, centroid_id int>>, cosine DESC, ties to the
    * smaller id — the IVF probe step fused into one O(1)-to-plan kernel. */
  def centroid_topn(emb: Column, centroids: Array[Float], ids: Array[Int],
                    topN: Int): Column =
    GraftExpressions.column(CentroidTopN(
      GraftExpressions.expression(emb), centroids, ids, topN))

  /** rank_bucket(c): equi-depth bucket index of a double column — the count
    * of sorted `boundaries` <= value, binary-searched in one kernel with the
    * boundary array carried as a single reference object. */
  def rank_bucket(c: Column, boundaries: Array[Double]): Column =
    GraftExpressions.column(RankBucket(
      GraftExpressions.expression(c), boundaries))

  /** interleave_bits(buckets): Morton / z-order code of an array<int> of
    * bucket ids — low `bitsPerDim` bits of each element interleaved (dim 0
    * most significant within each bit group) into one long. */
  def interleave_bits(buckets: Column, bitsPerDim: Int): Column =
    GraftExpressions.column(InterleaveBits(
      GraftExpressions.expression(buckets), bitsPerDim))

  /** simhash64(tokens): 64-bit SimHash of an array<string> column — per-
    * token xxhash64 majority vote, fused into one map-side kernel. */
  def simhash64(tokens: Column): Column =
    GraftExpressions.column(SimHash64(GraftExpressions.expression(tokens)))

  /** rolling_hash(text): order-sensitive 63-bit document fingerprint. */
  def rolling_hash(c: Column): Column =
    GraftExpressions.column(RollingHash(GraftExpressions.expression(c)))

  /** nfc_normalize(text): Unicode canonical composition (NFC) with an
    * allocation-free fast path for already-normalized text. */
  def nfc_normalize(c: Column): Column =
    GraftExpressions.column(NfcNormalize(GraftExpressions.expression(c)))

  /** pq_encode(emb): per-subspace product-quantization codes
    * (array<int>(m)) of an array<float> column — argmin-L2 against the
    * flattened m×ksub×dsub `codebooks` matrix, carried as one reference
    * object (O(1) plan at any ksub). */
  def pq_encode(emb: Column, codebooks: Array[Float], m: Int,
                ksub: Int): Column =
    GraftExpressions.column(PqEncode(
      GraftExpressions.expression(emb), codebooks, m, ksub))

  /** pq_lut(q): the per-query ADC lookup table (array<float>(m·ksub)) —
    * dot(q_j, codebook[j][c]) for every subspace/code cell. */
  def pq_lut(q: Column, codebooks: Array[Float], m: Int, ksub: Int): Column =
    GraftExpressions.column(PqLut(
      GraftExpressions.expression(q), codebooks, m, ksub))

  /** pq_adc(codes, lut): asymmetric-distance score Σ_j lut[j·ksub+codes_j]
    * ≈ dot(query, candidate) — O(m) per pair. */
  def pq_adc(codes: Column, lut: Column, ksub: Int): Column =
    GraftExpressions.column(PqAdc(
      GraftExpressions.expression(codes), GraftExpressions.expression(lut),
      ksub))
}
