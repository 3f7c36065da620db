package graft.similarity

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.util.{Q, Tables}

/** Distributed PCA over the embedding table — the compression/whitening
  * step a production vector pipeline runs before indexing (PQ/OPQ-style
  * codebooks, whitened retrieval, drift-robust low-rank features all start
  * here).
  *
  * Spark-first split of the work, exactly like Lloyd in [[Similarity]]:
  *  - the DATA-scale part — the d×d Gramian and the mean — is ONE
  *    partial-aggregated pass via a typed [[Aggregator]] whose buffer is a
  *    flat `double[1 + d + d(d+1)/2]` (count, per-dim sums, upper-triangle
  *    product sums). Map tasks combine locally; the shuffle carries one
  *    ~2 KB buffer per partition, never a row. This is how MLlib's
  *    RowMatrix computes its Gramian, and the only shape that works at
  *    100 TB (the naive explode-pairs formulation shuffles d² rows per
  *    vector).
  *  - the VOCAB-scale part — assembling the covariance from the buffer and
  *    eigendecomposing it — is driver-side small-matrix math (d = 64 here;
  *    cyclic Jacobi, deterministic given its input), the same
  *    driver-holds-centroids contract as [[Similarity.ivfCentroids]].
  *  - projection is again data-scale: k codegen'd [[graft.functions.VecDot]]
  *    dot products against broadcast-literal loading rows, minus a
  *    precomputed mean offset — scan-speed, zero shuffles.
  *
  * Determinism note: the Gramian's double sums merge in partition order, so
  * the low bits of the covariance (and hence the loadings) are not
  * bit-stable across cluster layouts — which is why [[q_embed_pca]] is
  * rows-only and SimilaritySpec pins everything with numeric tolerances
  * (eigen residual, orthonormality, brute-force projection parity) instead
  * of hashes. Loadings are sign-fixed (largest-magnitude component made
  * positive) so the output basis is canonical up to those tolerances.
  */
object Pca {

  /** One-pass mean + Gramian accumulator. Buffer layout:
    * [n, s_0..s_{d-1}, g_{00}, g_{01}..g_{0,d-1}, g_{11}.., g_{d-1,d-1}]
    * (upper triangle, row-major).
    */
  final class GramianAgg(d: Int)
    extends Aggregator[Array[Float], Array[Double], Array[Double]] {
    private val size = 1 + d + d * (d + 1) / 2
    override def zero: Array[Double] = new Array[Double](size)
    override def reduce(b: Array[Double], a: Array[Float]): Array[Double] = {
      if (a != null && a.length == d) {
        b(0) += 1
        var i = 0
        var t = 1 + d
        while (i < d) {
          val ai = a(i)
          b(1 + i) += ai
          var j = i
          while (j < d) {
            b(t) += ai.toDouble * a(j)
            t += 1
            j += 1
          }
          i += 1
        }
      }
      b
    }
    override def merge(x: Array[Double], y: Array[Double]): Array[Double] = {
      var i = 0
      while (i < size) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(r: Array[Double]): Array[Double] = r
    override def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  final case class PcaModel(mean: Array[Double], eigenValues: Array[Double],
      loadings: Array[Array[Double]], n: Long)

  /** Mean + covariance via the one-pass aggregator (covariance assembled
    * driver-side from the 1+d+d(d+1)/2 buffer: C = G/n − μμᵀ).
    */
  private[similarity] def covariance(emb: DataFrame, d: Int): (Array[Double], Array[Array[Double]], Long) = {
    import emb.sparkSession.implicits._
    val buf = emb.select(col("embedding").cast("array<float>"))
      .as[Array[Float]]
      .select(new GramianAgg(d).toColumn)
      .head()
    val n = buf(0).toLong
    require(n > 1, s"PCA needs more than one vector, got $n")
    val mean = Array.tabulate(d)(i => buf(1 + i) / n)
    val cov = Array.ofDim[Double](d, d)
    var t = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = buf(t) / n - mean(i) * mean(j)
        cov(i)(j) = c
        cov(j)(i) = c
        t += 1
        j += 1
      }
      i += 1
    }
    (mean, cov, n)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — the
    * textbook driver-side solver: rotate away the largest off-diagonal
    * mass sweep by sweep until it vanishes. Deterministic given `a`.
    * Returns (eigenvalues, eigenvectors as rows), unsorted.
    */
  private[similarity] def jacobi(aIn: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = aIn.length
    val a = Array.tabulate(d, d)((i, j) => aIn(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off = math.max(off, math.abs(apq))
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
            val t0 = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1))
              case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1))
            }
            val c = 1.0 / math.sqrt(t0 * t0 + 1)
            val s = t0 * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p)
              val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k)
              val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vpk = v(p)(k)
              val vqk = v(q)(k)
              v(p)(k) = c * vpk - s * vqk
              v(q)(k) = s * vpk + c * vqk
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Fit top-k principal components: one distributed pass + driver Jacobi.
    * Components sort by eigenvalue descending (index as the deterministic
    * tiebreak) and are sign-fixed: the largest-magnitude coordinate of
    * each loading is made positive.
    */
  def fit(emb: DataFrame, k: Int, d: Int = 64): PcaModel = {
    val (mean, cov, n) = covariance(emb, d)
    val (vals, vecs) = jacobi(cov)
    val order = vals.indices.sortBy(i => (-vals(i), i)).take(k)
    val loadings = order.map { i =>
      val row = vecs(i).clone()
      var best = 0
      var j = 1
      while (j < row.length) {
        if (math.abs(row(j)) > math.abs(row(best))) best = j
        j += 1
      }
      if (row(best) < 0) { var t = 0; while (t < row.length) { row(t) = -row(t); t += 1 } }
      row
    }.toArray
    PcaModel(mean, order.map(vals).toArray, loadings, n)
  }

  /** Project embeddings onto the model's components: k codegen'd dot
    * products against literal loading rows minus the constant mean offset.
    */
  def project(emb: DataFrame, model: PcaModel): DataFrame = {
    val e = col("embedding").cast("array<double>")
    val cols = model.loadings.zipWithIndex.map { case (row, j) =>
      val offset = row.indices.map(i => row(i) * model.mean(i)).sum
      (graft.functions.VectorFunctions.vecDot(e, typedLit(row.toSeq)) - lit(offset))
        .as(s"pc${j + 1}")
    }
    emb.select(col("vec_id") +: cols.toIndexedSeq: _*)
  }

  /** Rows-only (double low-bit nondeterminism, see object doc); the eigen
    * residual, orthonormality, captured-variance, and brute-force
    * projection parity are pinned in SimilaritySpec.
    */
  val q_embed_pca: Q = Q("q_embed_pca", None) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val model = fit(emb, k = 4)
    project(emb, model).orderBy("vec_id")
  }
}
