package graft

import org.apache.spark.sql.functions._
import graft.sources.{Commit, VersionedTable}

/** The hand-rolled transactional table: linear versions, pointer-file
  * commit, MERGE-into, time travel, vacuum, crash invisibility.
  */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("vt").toString

  test("commit publishes atomically and read sees the snapshot") {
    val root = tmp()
    assert(VersionedTable.currentVersion(spark, root).isEmpty)
    val v1 = VersionedTable.commit(
      Seq((1, "a"), (2, "b")).toDF("id", "x"), root)
    assert(v1 == 1L)
    assert(VersionedTable.read(spark, root).count() == 2)
    val v2 = VersionedTable.commit(
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "x"), root)
    assert(v2 == 2L)
    assert(VersionedTable.read(spark, root).count() == 3)
    // time travel to the retained previous version
    assert(VersionedTable.read(spark, root, Some(1L)).count() == 2)
  }

  test("mergeInto upserts against the committed snapshot") {
    val root = tmp()
    VersionedTable.mergeInto(spark, root,
      Seq((1, "a"), (2, "b")).toDF("id", "x"), Seq("id"))
    VersionedTable.mergeInto(spark, root,
      Seq((2, "B"), (3, "c")).toDF("id", "x"), Seq("id"))
    val got = VersionedTable.read(spark, root)
      .orderBy("id").as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "a"), (2, "B"), (3, "c")))
    assert(VersionedTable.currentVersion(spark, root) == Some(2L))
  }

  test("a staged-but-unpublished version directory is invisible") {
    val root = tmp()
    VersionedTable.commit(Seq((1, "a")).toDF("id", "x"), root)
    // simulate a crashed writer: full data directory, no pointer flip
    Seq((9, "crash")).toDF("id", "x")
      .write.parquet(s"$root/_v00000002")
    assert(VersionedTable.currentVersion(spark, root) == Some(1L))
    assert(VersionedTable.read(spark, root)
      .as[(Int, String)].collect().toSeq == Seq((1, "a")))
    // the next commit skips past the orphan instead of colliding
    val v = VersionedTable.commit(Seq((2, "b")).toDF("id", "x"), root)
    assert(v == 3L)
    assert(VersionedTable.read(spark, root)
      .as[(Int, String)].collect().toSeq == Seq((2, "b")))
  }

  test("writer lock is single-flight and releases on completion") {
    val root = tmp()
    // a second writer inside the critical section fails fast
    Commit.withWriterLock(spark, root) {
      VersionedTable.commit(Seq((1, "a")).toDF("id", "x"), root)
      intercept[IllegalStateException] {
        Commit.withWriterLock(spark, root) { fail("must not run") }
      }
    }
    // lock released -> next writer proceeds
    Commit.withWriterLock(spark, root) {
      VersionedTable.commit(Seq((2, "b")).toDF("id", "x"), root)
    }
    assert(VersionedTable.currentVersion(spark, root) == Some(2L))
    // lock also releases when the body throws
    intercept[RuntimeException] {
      Commit.withWriterLock(spark, root) {
        throw new RuntimeException("writer crashed")
      }
    }
    Commit.withWriterLock(spark, root) {}
  }

  test("vacuum drops retired versions, keeps the recent window") {
    val root = tmp()
    (1 to 4).foreach { i =>
      VersionedTable.commit(Seq((i, s"v$i")).toDF("id", "x"), root)
    }
    VersionedTable.vacuum(spark, root, keep = 2)
    // v3, v4 retained; v1, v2 gone
    assert(VersionedTable.read(spark, root, Some(4L)).count() == 1)
    assert(VersionedTable.read(spark, root, Some(3L)).count() == 1)
    intercept[Exception] {
      VersionedTable.read(spark, root, Some(1L)).count()
    }
  }
}
