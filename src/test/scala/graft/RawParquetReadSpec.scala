package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source scans for calls the engine routes through one owner:
  *  - a plain `read.parquet(...)` infers its schema in a Spark job; the
  *    engine reads parquet only through [[graft.sources.Parquet.read]],
  *    which takes it from a footer instead;
  *  - the session configs carry the engine's semantics (UTC, ANSI off,
  *    `nanosAsLong`), so a session is built only by
  *    [[graft.core.GraftSession]];
  *  - a store's commit steps (pointer swing, exclusive publish, writer
  *    lock) are atomic only as [[graft.sources.Commit]] makes them, so
  *    no other file renames over a target or builds a FileContext.
  * Each scan keeps a new hand-rolled call from coming back unnoticed.
  */
class RawParquetReadSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")
  private val test = Paths.get("src/test/scala")

  /** Fails on any line matching `pattern` under `roots` outside
    * `allowed`. Liveness does not hang on the file count: the walk must
    * reach `graft/Tables.scala`, and the pattern must match inside its
    * allowed file.
    */
  private def scan(pattern: Regex, roots: Seq[Path], allowed: Path,
      fix: String): Unit = {
    assert(Files.isRegularFile(allowed), s"missing $allowed")
    val files = roots.flatMap(r => Files.walk(r).iterator().asScala)
      .filter(p => p.toString.endsWith(".scala") && p != allowed)
    assert(files.contains(main.resolve("graft/Tables.scala")),
      s"the walk of ${roots.mkString(", ")} missed graft/Tables.scala")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if pattern.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"$fix:\n" + hits.mkString("\n"))
    assert(pattern.findFirstIn(
      new String(Files.readAllBytes(allowed), "UTF-8")).isDefined,
      s"$pattern matches nothing in $allowed")
  }

  test("no read.parquet( in src/main/scala outside graft.sources.Parquet") {
    scan("""read\s*\.\s*parquet\s*\(""".r, Seq(main),
      main.resolve("graft/sources/Parquet.scala"),
      "raw parquet reads (use graft.sources.Parquet.read)")
  }

  test("no SparkSession builder in src outside graft.core.GraftSession") {
    scan("""SparkSession\s*\.\s*builder\b""".r, Seq(main, test),
      main.resolve("graft/core/GraftSession.scala"),
      "hand-built sessions (use graft.core.GraftSession)")
  }

  test("no overwriting rename or FileContext in src/main/scala outside graft.sources.Commit") {
    scan("""Rename\s*\.\s*OVERWRITE|ATOMIC_MOVE|FileContext\s*\.\s*getFileContext""".r,
      Seq(main), main.resolve("graft/sources/Commit.scala"),
      "hand-rolled commit steps (use graft.sources.Commit)")
  }
}
