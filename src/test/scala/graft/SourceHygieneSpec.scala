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
}
