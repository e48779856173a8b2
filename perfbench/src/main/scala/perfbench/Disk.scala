package perfbench

import java.io.File

/** On-disk sizes under a directory tree. */
object Disk {

  /** Every regular file under `dir` with its size. */
  def files(dir: String): Map[String, Long] = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
      else Iterator(f)
    walk(new File(dir)).filter(_.isFile).map(f => f.getPath -> f.length()).toMap
  }

  def bytes(dir: String): Long = files(dir).values.sum

  /** Bytes and count of the files under `dir` that are not in `before`. */
  def written(before: Map[String, Long], dir: String): Map[String, Double] = {
    val fresh = files(dir).filter { case (p, _) => !before.contains(p) }
    Map("bytes_written" -> fresh.values.sum.toDouble,
      "files_written" -> fresh.size.toDouble)
  }
}
