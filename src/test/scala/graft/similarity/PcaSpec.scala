package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Closed-form algebra + contract checks for the distributed PCA
  * (similarity/Pca.scala). The DuckDB gate pins the envelope flags on the
  * real corpus; these pin the eigensolver and the fit on fixtures where
  * the decomposition is known exactly.
  */
class PcaSpec extends SparkSpec {

  import spark.implicits._

  private def embDir(vecs: Seq[Array[Float]]): String = {
    val dir = Files.createTempDirectory("graft_pca").toString
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("symEigen: hand-computed 2x2 and a diagonal matrix") {
    // [[2,1],[1,2]] has eigenvalues 3, 1 with eigenvectors (1,1)/√2, (1,-1)/√2
    val (vals, vecs) = Pca.symEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(vals(0) - 3.0) < 1e-12 && math.abs(vals(1) - 1.0) < 1e-12)
    assert(math.abs(math.abs(vecs(0)(0)) - 1 / math.sqrt(2)) < 1e-12)
    assert(math.abs(vecs(0)(0) - vecs(0)(1)) < 1e-12, "λ=3 vector is (1,1) direction")
    val (dv, _) = Pca.symEigen(Array(
      Array(5.0, 0.0, 0.0), Array(0.0, 9.0, 0.0), Array(0.0, 0.0, 1.0)))
    assert(dv.toSeq === Seq(9.0, 5.0, 1.0), "diagonal matrix: sorted diagonal")
  }

  test("fit recovers planted axis-aligned variances as the exact spectrum") {
    // ±c_j·e_j rows for c = 2,3,4,5 in d=4: mean 0, cov = diag(c_j²/4),
    // eigenvalues {25,16,9,4}/4 desc, components = coordinate axes
    val c = Seq(2f, 3f, 4f, 5f)
    val vecs = (0 until 4).flatMap { j =>
      Seq(Array.tabulate(4)(i => if (i == j) c(j) else 0f),
        Array.tabulate(4)(i => if (i == j) -c(j) else 0f))
    }
    val emb = graft.io.Sources.table(spark, embDir(vecs), "embeddings")
    val m = Pca.fit(emb, "embedding")
    assert(m.n === 8L && m.dim === 4)
    val want = Seq(25.0, 16.0, 9.0, 4.0).map(_ / 4.0)
    m.eigenvalues.toSeq.zip(want).foreach { case (got, w) =>
      assert(math.abs(got - w) < 1e-10, s"eigenvalue $got != $w") }
    // each component is a coordinate axis: one ±1 entry, rest 0
    m.components.foreach { q =>
      assert(math.abs(q.map(math.abs).max - 1.0) < 1e-10)
      assert(q.map(x => x * x).sum - 1.0 < 1e-10)
    }
    // projection variances equal the spectrum on the data itself
    val pv = Pca.projectionVariances(emb, "embedding", m, 4)
    pv.zip(m.eigenvalues).foreach { case (v, l) =>
      assert(math.abs(v - l) < 1e-10, s"Var(score) $v != λ $l") }
  }

  test("rank-1 data: first component explains everything") {
    // all vectors are multiples of one direction u ⇒ evr1 = 1, rest 0
    val u = Array.tabulate(8)(i => (i + 1).toFloat)
    val vecs = Seq(1f, 2f, 3f, 5f, 8f).map(t => u.map(_ * t))
    val emb = graft.io.Sources.table(spark, embDir(vecs), "embeddings")
    val m = Pca.fit(emb, "embedding")
    assert(m.eigenvalues(0) / m.trace > 1.0 - 1e-9, "rank-1: evr1 = 1")
    assert(math.abs(m.eigenvalues(1)) < 1e-6 * m.trace)
  }

  test("q_pca contract flags are all green on the real corpus") {
    val rows = graft.SparkEntry.queries("q_pca")(spark, graft.TestData.Sf0001).collect()
    assert(rows.length === 8)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === i + 1L)
      assert(r.getLong(2) === 64L)
      (3 until 9).foreach(c => assert(r.getLong(c) === 1L,
        s"component ${i + 1}: flag $c must hold"))
    }
  }
}
