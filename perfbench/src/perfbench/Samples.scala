package perfbench

import scala.collection.mutable

/** Named latency samples and counters of a run. */
final class Samples {
  val lists: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map.empty
  val counts: mutable.Map[String, Double] = mutable.Map.empty

  def add(name: String, v: Double): Unit =
    lists.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def count(name: String, v: Double = 1.0): Unit =
    counts(name) = counts.getOrElse(name, 0.0) + v
  def get(name: String): Seq[Double] = lists.get(name).map(_.toSeq).getOrElse(Nil)
  def n(name: String): Double = counts.getOrElse(name, 0.0)
}

/** Failures of one run: each is counted against the operations attempted,
  * and any failure makes the run incorrect. */
final class Checks {
  private val notes = mutable.ArrayBuffer.empty[String]
  @volatile var attempted = 0L
  def failures: Seq[String] = synchronized(notes.toSeq)
  def fail(msg: String): Unit = synchronized { notes += msg }
  def expect(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)
  def attempt(n: Long = 1): Unit = synchronized { attempted += n }
}
