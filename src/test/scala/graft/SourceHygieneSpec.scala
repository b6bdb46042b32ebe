package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Repo lint.
  *
  * No literal control bytes in Scala sources. Round 3 shipped a raw \x01
  * in SimilarityFunctions.scala (and a NUL in a CsvImport comment) — both
  * grep as binary, mangle in diffs, and NUL breaks some tools. Use
  * \uXXXX escapes instead; this spec makes the rule self-enforcing.
  *
  * Cache lifetime has one owner: `graft.core.Cached`. Outside it, only
  * the session purge (`Materialize.purge`) and `CsvImport`'s lazy result
  * with its `release()` handle may persist or release anything.
  *
  * Timing has one loop: `graft.core.TimedPasses`. It alone materializes
  * a query for the clock, and the retired ScaleCheck modes and their side
  * artifacts stay retired.
  */
class SourceHygieneSpec extends AnyFunSuite {

  test("no literal control bytes in any .scala source") {
    val roots = Seq("src/main/scala", "src/test/scala")
      .map(r => Paths.get(sys.props("user.dir"), r))
    val offenders = roots.flatMap { root =>
      Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .flatMap { p =>
          val bytes = Files.readAllBytes(p)
          val bad = bytes.zipWithIndex.collect {
            case (b, i) if (b >= 0 && b < 0x20) && b != '\t' && b != '\n' && b != '\r' =>
              (i, f"0x$b%02x")
          }
          if (bad.isEmpty) None
          else Some(s"$p: ${bad.take(3).mkString(", ")}${if (bad.length > 3) " …" else ""}")
        }
    }
    assert(offenders.isEmpty,
      s"literal control bytes in source (use \\uXXXX escapes):\n${offenders.mkString("\n")}")
  }

  test("caches are made and released only by graft.core.Cached") {
    val root = Paths.get(sys.props("user.dir"), "src/main/scala")
    val allowed = Set("graft/core/Cached.scala", "graft/core/Materialize.scala",
      "graft/ops/CsvImport.scala")
    val call = "\\.persist\\(|unpersist\\(|localCheckpoint\\(|\\.cache\\(\\)".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => allowed.contains(root.relativize(p).toString.replace('\\', '/')))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if call.findFirstIn(line).isDefined =>
            s"${root.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      s"cache calls outside graft.core.Cached:\n${offenders.mkString("\n")}")
  }

  test("one timed runner: only TimedPasses materializes, no retired scale modes") {
    val main = Paths.get(sys.props("user.dir"), "src/main/scala")
    val self = "graft/SourceHygieneSpec.scala"
    def lines(root: Path): Iterator[(String, String, Int)] =
      Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val rel = root.relativize(p).toString.replace('\\', '/')
          Files.readAllLines(p).asScala.iterator.zipWithIndex.map { case (l, i) => (rel, l, i + 1) }
        }
    val materialize = lines(main).collect {
      case (f, l, i) if l.contains("Materialize.full(") && f != "graft/core/TimedPasses.scala" =>
        s"$f:$i: ${l.trim}"
    }.toSeq
    assert(materialize.isEmpty, s"Materialize.full outside TimedPasses:\n${materialize.mkString("\n")}")
    val retired = Seq("SPARK_GRAFT_SCALE_X100", "SPARK_GRAFT_SCALE_X1000", "SCALE_CHECK_REPRO")
    val named = Seq(main, Paths.get(sys.props("user.dir"), "src/test/scala")).flatMap(lines)
      .collect { case (f, l, i) if f != self && retired.exists(l.contains) => s"$f:$i: ${l.trim}" }
    assert(named.isEmpty, s"retired scale modes named:\n${named.mkString("\n")}")
  }
}
