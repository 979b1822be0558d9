package perfbench

import scala.collection.mutable

/** Operations attempted and failed per category, and every check that
  * did not hold. A failed operation is recorded and the run goes on.
  */
final class Tally {
  val categories: Seq[String] = Seq("closes", "exports", "dashboards", "queries", "gates")
  private val attempted = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val failed = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val succeeded = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
  val wrong: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Runs one operation; `None` when it threw. */
  def op[A](category: String, what: String)(body: => A): Option[A] = {
    attempted(category) += 1
    try {
      val r = body
      succeeded.getOrElseUpdate(category, mutable.ArrayBuffer.empty) += what
      Some(r)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        failed(category) += 1
        failures += s"$category $what: $e"
        System.err.println(s"[perfbench] FAILED $category $what: $e")
        e.printStackTrace()
        None
    }
  }

  /** The operations of `category` that completed. */
  def done(category: String): Seq[String] = succeeded.get(category).map(_.toSeq).getOrElse(Nil)

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { wrong += what; System.err.println(s"[perfbench] WRONG $what") }

  /** Runs a block of checks; one that throws (say, on a missing output)
    * counts as a check that did not hold.
    */
  def checking(what: String)(body: => Unit): Unit =
    try body
    catch { case e: Throwable if scala.util.control.NonFatal(e) => check(ok = false, s"$what: $e") }

  def attemptedTotal: Int = attempted.values.sum
  def failedTotal: Int = failed.values.sum
  def summary: String = categories.map(c => s"$c ${attempted(c)} attempted ${failed(c)} failed").mkString(", ")
}
