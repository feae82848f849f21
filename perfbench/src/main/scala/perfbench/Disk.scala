package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Sizes and copies of output directories. */
object Disk {

  /** Data files under `dir`: Spark's `_SUCCESS`, `_CURRENT` and checkpoint
    * metadata start with `_`, Hadoop's checksum files with `.`. */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
      }.toList
      finally s.close()
    }

  def subdirs(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(Files.isDirectory(_)).map(_.toString).toList.sorted
    finally s.close()
  }

  def dataBytes(dir: Path): Long = dataFiles(dir).map(Files.size).sum

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }
}
