package graft.similarity

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed principal-component analysis over an embedding column
  * (Pearson 1901; Jolliffe's standard formulation). The algorithm is the
  * two-phase shape every large-scale system uses (it is what Spark MLlib's
  * `RowMatrix.computePrincipalComponents` does internally): ONE distributed
  * pass accumulates the d×d Gram matrix + mean — d(d+3)/2 + 1 numbers per
  * partition cross the wire, never rows — then the d×d symmetric
  * eigenproblem runs driver-local (d = 64 here: microseconds of driver
  * work, zero shuffles). A second bounded pass projects every vector onto
  * the learned components and checks Var(scoreᵢ) = λᵢ against the corpus
  * itself — the decomposition is verified on the DATA, not just internally
  * consistent.
  *
  * At 100 TB the scan is embarrassingly parallel and the driver state is
  * O(d²) regardless of corpus size; nothing about the shape changes.
  */
object Pca {

  final case class PcaModel(
      n: Long,
      dim: Int,
      mean: Array[Double],
      eigenvalues: Array[Double],     // all d, descending
      components: Array[Array[Double]], // components(i) = i-th eigenvector
      trace: Double)                  // total variance Σλ

  /** One treeAggregate pass: count, per-dim sums, upper-triangle Gram. */
  def fit(emb: DataFrame, vecCol: String): PcaModel = {
    val d = emb.select(col(vecCol)).head().getSeq[Float](0).length
    val gramLen = d * (d + 1) / 2
    val rdd = emb.select(col(vecCol)).rdd
      .map(_.getSeq[Float](0).toArray)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // acc layout: [count | sum(d) | gram upper-triangle(d(d+1)/2)]
      val zero = new Array[Double](1 + d + gramLen)
      val acc = rdd.treeAggregate(zero)(
        seqOp = { (a, v) =>
          a(0) += 1.0
          var i = 0
          while (i < d) { a(1 + i) += v(i); i += 1 }
          var p = 1 + d
          i = 0
          while (i < d) {
            var j = i
            while (j < d) { a(p) += v(i).toDouble * v(j); p += 1; j += 1 }
            i += 1
          }
          a
        },
        combOp = { (a, b) =>
          var i = 0
          while (i < a.length) { a(i) += b(i); i += 1 }
          a
        })
      val n = acc(0).toLong
      require(n > 1, s"PCA needs at least 2 vectors, got $n")
      val mean = Array.tabulate(d)(i => acc(1 + i) / n)
      val cov = Array.ofDim[Double](d, d)
      var p = 1 + d
      var i = 0
      while (i < d) {
        var j = i
        while (j < d) {
          val c = acc(p) / n - mean(i) * mean(j) // population covariance
          cov(i)(j) = c; cov(j)(i) = c
          p += 1; j += 1
        }
        i += 1
      }
      val trace = (0 until d).map(k => cov(k)(k)).sum
      val (vals, vecs) = symEigen(cov)
      PcaModel(n, d, mean, vals, vecs, trace)
    } finally { rdd.unpersist(); () }
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (Golub & Van
    * Loan §8.5) — unconditionally stable, quadratically convergent, ~5
    * sweeps at d = 64. Returns (eigenvalues desc, matching eigenvectors).
    */
  def symEigen(cIn: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = cIn.length
    val a = Array.tabulate(d, d)((i, j) => cIn(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val scale = math.max(1e-300, (0 until d).map(i => math.abs(a(i)(i))).max)
    def offNorm(): Double = {
      var s = 0.0
      var i = 0
      while (i < d) { var j = i + 1; while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    var sweep = 0
    while (sweep < 100 && offNorm() > 1e-24 * scale * scale) {
      var p = 0
      while (p < d) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq; a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi; a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < d) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq; v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map(i => Array.tabulate(d)(r => v(r)(i))).toArray
    (vals, vecs)
  }

  /** Second distributed pass: Var of each of the top-k projections,
    * population form E[(qᵢ·(x−μ))²] (the projection mean is 0 by
    * construction). k sums per partition cross the wire.
    */
  def projectionVariances(emb: DataFrame, vecCol: String, model: PcaModel,
      k: Int): Array[Double] = {
    val comps = model.components.take(k)
    val mean = model.mean
    val d = model.dim
    val rdd = emb.select(col(vecCol)).rdd.map(_.getSeq[Float](0).toArray)
    val acc = rdd.treeAggregate(new Array[Double](k + 1))(
      seqOp = { (a, vec) =>
        a(k) += 1.0
        var c = 0
        while (c < k) {
          var s = 0.0
          var i = 0
          while (i < d) { s += comps(c)(i) * (vec(i) - mean(i)); i += 1 }
          a(c) += s * s
          c += 1
        }
        a
      },
      combOp = { (a, b) =>
        var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
      })
    Array.tabulate(k)(c => acc(c) / acc(k))
  }

  /** The q_pca envelope surface: per-component contract flags over the
    * top-k decomposition, every one independently falsifiable —
    * 'evr_unit_ok' (0 ≤ λᵢ/Σλ ≤ 1), 'monotone_ok' (λᵢ ≥ λᵢ₊₁),
    * 'ortho_ok' (|qᵢ·qⱼ − δᵢⱼ| < 1e-8 for all j ≤ i), 'projvar_ok'
    * (corpus-measured Var(scoreᵢ) within 1e-6·λ₁ of λᵢ — the on-data
    * check), plus the measured-floor flags for the leading/cumulative
    * explained-variance ratio (floors set from measurements at all three
    * SFs, the measured-min-minus-margin rule of
    * RecallProbe, deleted, last held at cdb9a9a).
    */
  def pcaContract(spark: SparkSession, emb: DataFrame, vecCol: String, k: Int,
      evr1Floor: Double, cumFloor: Double): DataFrame = {
    val model = fit(emb, vecCol)
    val kk = math.min(k, model.dim)
    val pv = projectionVariances(emb, vecCol, model, kk)
    val evr = model.eigenvalues.map(_ / model.trace)
    val tol = 1e-6 * math.max(model.eigenvalues(0), 1e-12)
    def dot(x: Array[Double], y: Array[Double]): Double =
      x.zip(y).map { case (a, b) => a * b }.sum
    val rows = (0 until kk).map { i =>
      val unitOk = evr(i) >= -1e-12 && evr(i) <= 1.0 + 1e-12
      val monoOk = i + 1 >= model.dim ||
        model.eigenvalues(i) >= model.eigenvalues(i + 1) - 1e-12
      val orthoOk = (0 to i).forall { j =>
        val target = if (i == j) 1.0 else 0.0
        math.abs(dot(model.components(i), model.components(j)) - target) < 1e-8
      }
      val projOk = math.abs(pv(i) - model.eigenvalues(i)) <= tol
      Row((i + 1).toLong, model.n, model.dim.toLong,
        if (unitOk) 1L else 0L, if (monoOk) 1L else 0L,
        if (orthoOk) 1L else 0L, if (projOk) 1L else 0L,
        if (evr(0) >= evr1Floor) 1L else 0L,
        if (evr.take(kk).sum >= cumFloor) 1L else 0L)
    }
    val schema = StructType(Seq(
      StructField("component", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("dim", LongType, nullable = false),
      StructField("evr_unit_ok", LongType, nullable = false),
      StructField("monotone_ok", LongType, nullable = false),
      StructField("ortho_ok", LongType, nullable = false),
      StructField("projvar_ok", LongType, nullable = false),
      StructField("evr1_floor_ok", LongType, nullable = false),
      StructField("cum_floor_ok", LongType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema).orderBy("component")
  }
}
