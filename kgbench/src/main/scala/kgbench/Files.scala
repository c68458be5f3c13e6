package kgbench

import java.nio.file.{Files => JFiles, Path, Paths}
import scala.jdk.CollectionConverters._

/** On-disk sizes and counts of a table or state directory. */
object Files {
  private def walk(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!JFiles.exists(root)) Nil
    else scala.util.Using.resource(JFiles.walk(root))(_.iterator().asScala.toList)
  }

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    JFiles.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
  }

  /** Bytes of every data file under `dir` (checksums and markers left out). */
  def bytes(dir: String): Long = walk(dir).filter(isData).map(JFiles.size).sum

  /** Parquet files under `dir`. */
  def parquetFiles(dir: String): Int =
    walk(dir).count(p => isData(p) && p.getFileName.toString.endsWith(".parquet"))

  def regularFiles(dir: String): Int = walk(dir).count(isData)

  def dirs(dir: String): Int = walk(dir).count(JFiles.isDirectory(_))

  def delete(dir: String): Unit =
    walk(dir).reverse.foreach(p => JFiles.deleteIfExists(p))
}
