package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** A wrong output. Thrown by checks, which run outside timed windows. */
final class Mismatch(msg: String) extends RuntimeException(msg)

/** Everything one benchmark run shares: session, seed, fresh working
  * directory, the current span recorder and the failure accounting.
  *
  * @param inject  `throw` or `corrupt`: make the first timed operation
  *                throw inside an engine call, or report a wrong output,
  *                to show that both count as failures and are never timed
  */
final class Run(val spark: SparkSession, val work: Path, val seed: Long, val cpus: Int,
    val inject: String) {
  var spans: Spans = Spans.Off
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  private var timedOps = 0

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Run one timed operation: `op` returns its duration in ns after its
    * own checks. An operation that throws, or whose check fails, counts as
    * failed and gives no sample.
    */
  def attempt[A](what: String, timed: Boolean = true)(op: => A): Option[A] = {
    attempted += 1
    if (timed) timedOps += 1
    try Some(op)
    catch {
      case e: Exception =>
        failed += 1
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[perfbench] FAILED $what: $e")
        None
    }
  }

  /** True during the first timed operation when `kind` was injected. */
  def injectNow(kind: String): Boolean = inject == kind && timedOps == 1

  /** Run `body` with no spans recorded: untimed work inside a traced unit. */
  def untraced[A](body: => A): A = {
    val s = spans
    spans = Spans.Off
    try body finally spans = s
  }

  /** Count a failure that belongs to no single operation. */
  def fail(what: String): Unit = {
    failed += 1
    errors += what
    System.err.println(s"[perfbench] FAILED $what")
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new Mismatch(what)

  def checkEq[A](what: String, got: A, want: A): Unit =
    check(got == want, s"$what: got $got, want $want")

  def dir(name: String): Path = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d
  }
}

object Run {
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally w.close()
    }

  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally w.close()
    }
}
