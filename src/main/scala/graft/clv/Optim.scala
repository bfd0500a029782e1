package graft.clv

import org.apache.spark.rdd.RDD

/** Shared optimizer-support utilities. */
object Optim {

  /** Most compressed observations a model fit collects to the driver;
    * beyond it the objective runs as Spark jobs (`fitDistributed`). */
  val MaxDriverRows = 2000000L

  /** Sum (ll, w) partials over `xs` split into fixed 1024-element chunks,
    * evaluated in parallel but REDUCED IN CHUNK ORDER — results are
    * bit-identical to a sequential left fold over the same chunking, run
    * after run, regardless of thread scheduling. Small inputs stay on the
    * calling thread.
    */
  def chunkedParallelSum[T](xs: Array[T])(
      chunk: (Array[T], Int, Int) => (Double, Double)): (Double, Double) = {
    val n = xs.length
    val chunkSize = 1024
    if (n <= chunkSize) chunk(xs, 0, n)
    else {
      val bounds = (0 until n by chunkSize).map(s => (s, math.min(s + chunkSize, n)))
      val partials = new Array[(Double, Double)](bounds.length)
      java.util.stream.IntStream.range(0, bounds.length).parallel().forEach { ci =>
        partials(ci) = chunk(xs, bounds(ci)._1, bounds(ci)._2)
      }
      var ll = 0.0
      var w = 0.0
      var i = 0
      while (i < partials.length) { ll += partials(i)._1; w += partials(i)._2; i += 1 }
      (ll, w)
    }
  }

  /** Sum (ll, w) partials of `rdd` in one job: `chunk` runs once per
    * partition, and the partition totals are added in partition order on
    * the driver — deterministic, like [[chunkedParallelSum]]. */
  def partitionSum[T: scala.reflect.ClassTag](rdd: RDD[T])(
      chunk: (Array[T], Int, Int) => (Double, Double)): (Double, Double) =
    rdd.mapPartitions { it => val a = it.toArray; Iterator(chunk(a, 0, a.length)) }
      .collect()
      .foldLeft((0.0, 0.0)) { case ((ll, w), (l, v)) => (ll + l, w + v) }

  /** Penalized mean NLL from the (Σ w·ll, Σ w) totals (lifetimes' objective:
    * penalizer × Σ of the squared exponentiated params). */
  def penalizedMean(logParams: Array[Double], sums: (Double, Double),
      penalizer: Double): Double =
    -sums._1 / sums._2 +
      penalizer * logParams.foldLeft(0.0) { (s, lp) => s + math.exp(lp) * math.exp(lp) }
}
