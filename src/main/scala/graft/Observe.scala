package graft

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.Observation

/** Bounded read of an [[Observation]]'s metrics, and the join strategy
  * iterative operators pick from an observed row count.
  *
  * An observation's metrics arrive over the listener bus — normally
  * sub-millisecond after the action returns (measured: eager
  * `localCheckpoint` delivers reliably), but unbounded by API contract.
  * Iterative operators that fold their convergence signal into a
  * checkpoint job (see `Dedup.connectedComponents`) must not hang the
  * driver on a listener-bus anomaly, so reads wait on `Observation.future`
  * with a timeout and return None when it expires, letting the caller fall
  * back to an explicit job.
  */
object Observe {

  private def read(obs: Observation, key: String, timeoutMs: Long): Option[Number] =
    try {
      val row = Await.result(obs.future, timeoutMs.millis)
      row.getValuesMap[Number](row.schema.fieldNames.toSeq).get(key)
    } catch { case _: TimeoutException => None }

  /** A count metric (values of count() observations are Longs). */
  def metric(obs: Observation, key: String, timeoutMs: Long = 10000L): Option[Long] =
    read(obs, key, timeoutMs).map(_.longValue())

  /** A floating-point metric (sum/avg observations — e.g. the pagerank L1
    * residual). */
  def metricDouble(obs: Observation, key: String, timeoutMs: Long = 10000L): Option[Double] =
    read(obs, key, timeoutMs).map(_.doubleValue())

  /** Join hint for a side of `rows` rows (guide §3.1): broadcast while it
    * provably fits, shuffled-hash beyond (no sort, no broadcast cap). */
  def joinHint(rows: Long): String =
    if (rows <= (4L << 20)) "BROADCAST" else "SHUFFLE_HASH"
}
