package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A plain `read.parquet(...)` infers its schema in a Spark job; the
  * engine reads parquet only through [[graft.sources.Parquet.read]],
  * which takes it from a footer instead. This scan keeps a new raw read
  * from bringing the job back unnoticed.
  */
class RawParquetReadSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val reader = root.resolve("graft/sources/Parquet.scala")
  private val rawRead = """read\s*\.\s*parquet\s*\(""".r

  test("no read.parquet( in src/main/scala outside graft.sources.Parquet") {
    assert(Files.isRegularFile(reader), s"missing $reader")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != reader)
      .toSeq
    assert(files.size > 100, s"only ${files.size} sources under $root")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if rawRead.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      "raw parquet reads (use graft.sources.Parquet.read):\n" +
        hits.mkString("\n"))
    // the pattern is live: it finds the reader's own fallback read
    assert(rawRead.findFirstIn(
      new String(Files.readAllBytes(reader), "UTF-8")).isDefined)
  }
}
