package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, StandardCopyOption,
  StandardOpenOption}

import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  FileUtil, Options, Path}
import org.apache.spark.sql.SparkSession

/** The filesystem steps every on-disk store commits with — the one
  * place that decides how a commit reaches the disk ([[VersionedTable]],
  * [[SegmentedTable]] and the IVF index in
  * [[graft.operators.Similarity]] all go through it):
  *  - [[swing]]: stage a complete small file, then atomically replace
  *    the target (the `_LATEST` / `_LATEST_MANIFEST` / `_CURRENT`
  *    pointer flip);
  *  - [[publish]]: stage a complete file, then install it only if the
  *    target is absent (the manifest compare-and-swap);
  *  - [[create]] and [[withWriterLock]]: an exclusive create;
  *  - [[read]] a pointer or manifest, and list [[numbered]] children.
  *
  * On `file:` paths the steps are java.nio calls, each one system call
  * the kernel makes atomic: `rename(2)` to swing, `link(2)` (fails with
  * EEXIST) to publish, `open(O_CREAT|O_EXCL)` to create. Hadoop's local
  * filesystem gives none of these: its overwriting rename deletes the
  * target and then renames (a reader finds no pointer in between), its
  * exclusive create and rename check for the target first and act
  * second, and its checksummed writes keep a `.crc` sidecar that a
  * reader checks against the data while the two are renamed one after
  * the other. So nothing here writes a sidecar, reads skip any sidecar
  * a store already has, and a swing drops the target's stale one.
  * Elsewhere the steps are FileContext calls, atomic on HDFS.
  *
  * A store's layout version and its crash points (one per step) belong
  * here, once, rather than in each store.
  */
object Commit {

  def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Replace `target` with a file holding `content`: a reader opening
    * it sees the old content or the new, never neither and never part.
    */
  def swing(fs: FileSystem, target: Path, content: String): Unit = {
    val staged = stage(fs, target, content)
    if (local(fs)) {
      Files.deleteIfExists(nio(fs,
        new Path(target.getParent, s".${target.getName}.crc")))
      Files.move(nio(fs, staged), nio(fs, target),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } else context(fs).rename(staged, target, Options.Rename.OVERWRITE)
  }

  /** Install a file holding `content` at `target` if no file is there:
    * true for the one writer that installed it, false for every writer
    * that found it taken. Readers see the complete file or none.
    */
  def publish(fs: FileSystem, target: Path, content: String): Boolean = {
    val staged = stage(fs, target, content)
    try {
      if (local(fs)) Files.createLink(nio(fs, target), nio(fs, staged))
      else context(fs).rename(staged, target)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException |
          _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: IOException if fs.exists(target) => false
    } finally fs.delete(staged, false)
  }

  /** Create `p` holding `content` if it does not exist (parents made as
    * needed); false if it does. Unlike [[publish]], a reader may see the
    * file before its content: meant for locks and empty markers.
    */
  def create(fs: FileSystem, p: Path, content: String = ""): Boolean = {
    val bytes = content.getBytes(UTF_8)
    try {
      if (local(fs)) {
        val f = nio(fs, p)
        Files.createDirectories(f.getParent)
        Files.write(f, bytes, StandardOpenOption.CREATE_NEW)
      } else {
        val out = context(fs).create(p, java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        try out.write(bytes) finally out.close()
      }
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException |
          _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }
  }

  /** ST8 single-flight: at most one writer per store root. The lock is
    * `_WRITER_LOCK`, made by [[create]] and holding its creation time
    * (ms) so an operator can judge staleness after a crashed writer; a
    * second writer fails fast instead of queueing — the reference's
    * single-run sensor semantics. Commits themselves take no lock:
    * callers that serialize externally keep last-pointer-swing-wins,
    * matching how the reference leaves throttling to the orchestrator.
    */
  def withWriterLock[T](spark: SparkSession, root: String)(body: => T): T = {
    val f = fs(spark, root)
    val lock = new Path(root, "_WRITER_LOCK")
    if (!create(f, lock, System.currentTimeMillis().toString))
      throw new IllegalStateException(s"another writer holds the lock on $root")
    try body finally f.delete(lock, false)
  }

  /** The content of a small file, or None if it does not exist. */
  def read(fs: FileSystem, p: Path): Option[String] =
    try {
      val bytes =
        if (local(fs)) Files.readAllBytes(nio(fs, p))
        else { val in = fs.open(p); try in.readAllBytes() finally in.close() }
      Some(new String(bytes, UTF_8))
    } catch { case _: NoSuchFileException | _: FileNotFoundException => None }

  /** Children of `root` named `<prefix>N[suffix]`, with N — the digits
    * right after the prefix (tagged segments carry a `-tag` suffix).
    * A missing root has none.
    */
  def numbered(fs: FileSystem, root: Path, prefix: String)
      : Seq[(Long, FileStatus)] =
    (try fs.listStatus(root).toSeq
     catch { case _: FileNotFoundException => Seq.empty })
      .flatMap(s => numberOf(s.getPath.getName, prefix).map(_ -> s))

  /** N of a `<prefix>N[suffix]` name, as [[numbered]] reads it. */
  def numberOf(name: String, prefix: String): Option[Long] =
    if (!name.startsWith(prefix)) None
    else {
      val digits = name.drop(prefix.length).takeWhile(_.isDigit)
      if (digits.isEmpty) None else digits.toLongOption
    }

  /** `dst` as a hard link to `src` on the local filesystem (a metadata
    * operation, whatever the size), a copy elsewhere.
    */
  def linkOrCopy(fs: FileSystem, src: Path, dst: Path): Unit =
    if (local(fs)) Files.createLink(nio(fs, dst), nio(fs, src))
    else FileUtil.copy(fs, src, fs, dst, false, fs.getConf)

  /** `content` complete in a hidden file beside `target`. */
  private def stage(fs: FileSystem, target: Path, content: String): Path = {
    val staged = new Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")
    val bytes = content.getBytes(UTF_8)
    if (local(fs)) Files.write(nio(fs, staged), bytes)
    else {
      val out = fs.create(staged, true)
      try out.write(bytes) finally out.close()
    }
    staged
  }

  private def local(fs: FileSystem): Boolean = fs.getUri.getScheme == "file"

  private def nio(fs: FileSystem, p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(fs.makeQualified(p).toUri)

  private def context(fs: FileSystem): FileContext =
    FileContext.getFileContext(fs.getUri, fs.getConf)
}
