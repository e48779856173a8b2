package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier,
  TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.{Commit, SegmentedTable, VersionedTable}

/** The commit steps under every store: a reader racing commits never
  * finds a pointer missing or torn, exactly one of several racing
  * writers wins a publish or the writer lock, stores whose pointers
  * carry the checksummed filesystem's `.crc` sidecar stay readable and
  * writable, and the IVF index's pointer swings leave no residue.
  */
class CommitSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** Runs `commits` while one reader thread polls `poll` (given the
    * number of polls so far) in a tight loop; returns the reader's poll
    * count, and the number of polls that failed with the first few
    * failures.
    */
  private def racing(commits: => Unit)(poll: Long => Unit)
      : (Long, Long, Seq[String]) = {
    val first = new ConcurrentLinkedQueue[String]()
    val failed = new AtomicLong()
    val polls = new AtomicLong()
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        try poll(polls.getAndIncrement())
        catch {
          case e: Throwable =>
            if (failed.getAndIncrement() < 5) first.add(e.toString)
        }
      }
    })
    reader.start()
    try commits finally { stop = true; reader.join() }
    (polls.get, failed.get, first.toArray(Array.empty[String]).toSeq)
  }

  test("a reader never misses a VersionedTable commit's pointer") {
    val root = tmp("commit_vt")
    VersionedTable.commit(Seq(0L).toDF("id"), root)
    @volatile var lastSeen = 1L
    val (polls, failed, firstFailures) = racing {
      (1 to 200).foreach { i =>
        VersionedTable.commit(Seq(i.toLong).toDF("id"), root)
      }
    } { n =>
      val v = VersionedTable.currentVersion(spark, root)
        .getOrElse(throw new IllegalStateException("no pointer"))
      if (v < lastSeen) throw new IllegalStateException(s"v$v after v$lastSeen")
      lastSeen = v
      if (n % 64 == 0) VersionedTable.read(spark, root)
    }
    assert(failed == 0L, s"$failed of $polls polls failed: $firstFailures")
    assert(polls > 200 && lastSeen <= 201L)
    assert(VersionedTable.currentVersion(spark, root) == Some(201L))
  }

  test("a reader never misses a SegmentedTable append's manifest") {
    val root = tmp("commit_seg")
    SegmentedTable.commitFull(Seq(0L).toDF("id"), root)
    @volatile var lastSeen = 1L
    val (polls, failed, firstFailures) = racing {
      (1 to 200).foreach { i =>
        SegmentedTable.appendSegment(Seq(i.toLong).toDF("id"), root)
      }
    } { n =>
      val v = SegmentedTable.currentVersion(spark, root)
        .getOrElse(throw new IllegalStateException("no manifest"))
      if (v < lastSeen) throw new IllegalStateException(s"v$v after v$lastSeen")
      lastSeen = v
      val ms = SegmentedTable.members(spark, root, Some(v))
      if (ms.size != v) throw new IllegalStateException(
        s"manifest $v lists ${ms.size} members")
      if (n % 64 == 0) SegmentedTable.read(spark, root)
    }
    assert(failed == 0L, s"$failed of $polls polls failed: $firstFailures")
    assert(polls > 200 && lastSeen <= 201L)
    assert(SegmentedTable.currentVersion(spark, root) == Some(201L))
    assert(SegmentedTable.rowCount(spark, root) == 201L)
  }

  test("of four writers racing, exactly one publishes a manifest version " +
      "and exactly one takes the writer lock") {
    val root = tmp("commit_race")
    val fs = Commit.fs(spark, root)
    val rounds = 100
    val barrier = new CyclicBarrier(4)
    val published = Array.fill(rounds)(new AtomicInteger())
    val locked = Array.fill(rounds)(new AtomicInteger())
    val errs = new ConcurrentLinkedQueue[String]()
    val writers = (0 until 4).map { w =>
      new Thread(() => {
        def together(): Unit = barrier.await(30, TimeUnit.SECONDS)
        try (0 until rounds).foreach { r =>
          val target = new Path(root, f"_manifest-$r%08d")
          together()
          if (Commit.publish(fs, target, s"writer $w"))
            published(r).incrementAndGet()
          together()
          // a winner holds the lock until every writer has tried it
          try Commit.withWriterLock(spark, root) {
            locked(r).incrementAndGet()
            together()
          } catch { case _: IllegalStateException => together() }
        } catch { case e: Throwable => errs.add(e.toString) }
      })
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    assert(errs.isEmpty, errs.toArray.mkString("; "))
    assert(published.map(_.get).toSeq == Seq.fill(rounds)(1))
    assert(locked.map(_.get).toSeq == Seq.fill(rounds)(1))
    // every manifest holds one whole writer's content; nothing staged
    // is left behind, and the lock is released
    val names = new File(root).list().toSeq
    assert(names.sorted == (0 until rounds).map(r => f"_manifest-$r%08d"))
    (0 until rounds).foreach { r =>
      val c = Commit.read(fs, new Path(root, f"_manifest-$r%08d"))
      assert(c.exists(_.matches("writer [0-3]")), c)
    }
  }

  /** A pointer or manifest written as the stores used to write it: a
    * staged file through the checksummed filesystem (so with a `.crc`
    * sidecar), renamed over the target by FileContext.
    */
  private def legacyWrite(root: String, name: String, content: String,
      overwrite: Boolean): Unit = {
    val fs = Commit.fs(spark, root)
    val staged = new Path(root, s".$name.tmp-legacy")
    val out = fs.create(staged, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    val fc = FileContext.getFileContext(fs.getUri, fs.getConf)
    if (overwrite)
      fc.rename(staged, new Path(root, name), Options.Rename.OVERWRITE)
    else fc.rename(staged, new Path(root, name))
    assert(new File(root, s".$name.crc").exists(), s"no sidecar for $name")
  }

  /** The file as the checksummed filesystem reads it (verifying any
    * `.crc` sidecar).
    */
  private def checkedRead(root: String, name: String): String = {
    val in = Commit.fs(spark, root).open(new Path(root, name))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("tables whose pointers carry a .crc sidecar read back and take " +
      "further commits") {
    val vt = tmp("commit_legacy_vt")
    Seq(1L, 2L).toDF("id").write.parquet(s"$vt/_v00000001")
    legacyWrite(vt, "_LATEST", "1", overwrite = true)
    assert(VersionedTable.currentVersion(spark, vt) == Some(1L))
    assert(VersionedTable.read(spark, vt).count() == 2L)
    assert(VersionedTable.commit(Seq(3L).toDF("id"), vt) == 2L)
    assert(VersionedTable.read(spark, vt).as[Long].collect().toSeq == Seq(3L))
    assert(VersionedTable.read(spark, vt, Some(1L)).count() == 2L)
    // the stale sidecar went with the swing: a checksummed read agrees
    assert(checkedRead(vt, "_LATEST") == "2")

    val seg = tmp("commit_legacy_seg")
    Seq(1L, 2L).toDF("id").write.parquet(s"$seg/_seg00000001")
    legacyWrite(seg, "_manifest-00000001", "_seg00000001", overwrite = false)
    legacyWrite(seg, "_LATEST_MANIFEST", "1", overwrite = true)
    assert(SegmentedTable.currentVersion(spark, seg) == Some(1L))
    assert(SegmentedTable.read(spark, seg).count() == 2L)
    assert(SegmentedTable.appendSegment(Seq(3L).toDF("id"), seg) == 2L)
    assert(SegmentedTable.read(spark, seg).as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
    assert(checkedRead(seg, "_LATEST_MANIFEST") == "2")
    assert(checkedRead(seg, "_manifest-00000001") == "_seg00000001")
  }

  test("three IVF compactions leave no .crc sidecar or staged pointer " +
      "in the index root") {
    val dim = 4
    def vecs(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("vec_id"),
        array((0 until dim).map(d =>
          when(col("id") % dim === d, 1.0).otherwise(0.01)): _*)
          .as("embedding"))
    val centroids = (0 until dim).map(c =>
        (c.toLong, (0 until dim).map(d => if (d == c) 1.0 else 0.0)))
      .toDF("cell_id", "centroid")
    val dir = tmp("commit_ivf")
    Similarity.writeIvfIndex(vecs(0, 40), centroids, "vec_id", "embedding", dir)
    (1 to 3).foreach { i =>
      Similarity.appendToIvfIndexTagged(vecs(40L * i, 40L * i + 40),
        centroids, "vec_id", "embedding", dir, s"b$i")
      Similarity.compactIvfCells(spark, dir)
    }
    assert(Similarity.currentIvfRoot(spark, dir).endsWith("_v0003"))
    assert(Similarity.readIvfIndex(spark, dir).count() == 160L)
    // `._SUCCESS.crc` is the index write's own job marker, not a commit
    val residue = new File(dir).list().toSeq.filter(n =>
      (n.endsWith(".crc") && n != "._SUCCESS.crc") ||
        (n.startsWith("._CURRENT.") && n.endsWith(".tmp")))
    assert(residue.isEmpty, residue.mkString(", "))
    assert(new File(dir, "_batch_tags").list().toSeq.sorted ==
      Seq("b1", "b2", "b3"))
  }
}
