package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.commons.math3.special.Beta

/** Order statistics used for every reported figure. */
object Stats {
  /** The Harrell-Davis estimate of quantile `q` (0 < q < 1), NaN when
    * empty: a Beta-weighted mean of all order statistics. A run has a few
    * dozen ops at most, and on so few samples the plain sample quantile
    * jumps between neighbouring values from run to run. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    val n = s.length
    val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
    var prev = 0.0
    var sum = 0.0
    for (i <- 1 to n) {
      val cdf = if (i == n) 1.0 else Beta.regularizedBeta(i.toDouble / n, a, b)
      sum += (cdf - prev) * s(i - 1)
      prev = cdf
    }
    if (n == 0) Double.NaN else sum
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
}

/** A seeded deck of op kinds: every pass deals each kind of `kinds` once,
  * so that a run's op mix is exact rather than sampled. The first pass
  * deals them in the given order, so that the cold ops (the first of each
  * kind) come in the same order on every seed; each later pass in a fresh
  * seeded order. */
final class Deck[K](kinds: Seq[K], rnd: java.util.SplittableRandom) {
  private var hand = kinds.toList
  def next(): K = {
    if (hand.isEmpty) {
      val a = kinds.toBuffer
      for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x }
      hand = a.toList
    }
    val k = hand.head
    hand = hand.tail
    k
  }
}

/** One operation of a closed loop. `kind` is the op type, `face` the read
  * face it used (empty when it is not a read), `rows` the rows it returned
  * or committed.
  */
final case class Op(seq: Int, kind: String, face: String, startNs: Long, endNs: Long,
    ok: Boolean, error: String, rows: Long, cold: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** The closed-loop client: one operation at a time, the next only after the
  * previous one returned. The timer covers the operation alone; its result
  * is checked after the timer stops, and an operation that throws or
  * returns a wrong result is recorded as failed, never as a fast success.
  */
final class Client(val tracer: Tracer) {
  val ops = ArrayBuffer[Op]()
  private val seenKinds = mutable.Set[String]()
  /** Wall time spent inside operations (checks excluded). */
  var timedNs = 0L

  /** Run one timed operation. `body` returns the op's result and the rows
    * it returned or committed; `check` returns a mismatch description or
    * None when the result is right.
    */
  def run[T](kind: String, face: String = "")(body: => (T, Long))(check: T => Option[String]): Option[T] = {
    val seq = ops.size
    val key = if (face.isEmpty) kind else s"$kind/$face"
    val cold = seenKinds.add(key)
    tracer.beginOp(seq, key)
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    timedNs += t1 - t0
    tracer.endOp(seq, t0, t1)
    val verdict = res match {
      case Left(e) => Some(s"threw ${Client.describe(e)}")
      case Right((v, _)) =>
        try check(v) catch { case NonFatal(e) => Some(s"check threw ${Client.describe(e)}") }
    }
    val rows = res.map(_._2).getOrElse(0L)
    ops += Op(seq, kind, face, t0, t1, verdict.isEmpty, verdict.getOrElse(""), rows, cold)
    System.err.println(f"[perfbench] op $seq%d $key%s ${(t1 - t0) / 1e6}%.1f ms${verdict.fold("")(" FAILED: " + _)}%s")
    res.toOption.map(_._1)
  }

  def okOps: Seq[Op] = ops.filter(_.ok).toSeq

  /** Median latency of the successful ops matching `p` (0 if none ran). */
  def medianMs(p: Op => Boolean): Double = {
    val xs = okOps.filter(p).map(_.ms)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
  def failures: Seq[String] =
    ops.filterNot(_.ok).map(o => s"op ${o.seq} ${o.kind}${if (o.face.nonEmpty) "/" + o.face else ""}: ${o.error}").toSeq
}

object Client {
  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
    s"${e.getClass.getSimpleName}: ${msg.take(300)}"
  }
}
