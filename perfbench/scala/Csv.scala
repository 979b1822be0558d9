package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** Reads the program's outputs without running a Spark job, so checks
  * neither cost job overhead nor show up in the ledger.
  */
object Csv {

  final case class Table(header: Seq[String], rows: Seq[Array[String]])

  private def parts(dir: Path, suffix: String): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq(dir)
    else Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-") && p.getFileName.toString.endsWith(suffix))
      .toSeq.sortBy(_.getFileName.toString)

  /** A CSV written by Spark (a directory of part files, each with a header). */
  def rows(dir: Path): Table = {
    val files = parts(dir, ".csv").map(f => Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq)
    val header = files.find(_.nonEmpty).map(f => split(f.head).toSeq).getOrElse(Nil)
    Table(header, files.flatMap(_.drop(1)).filter(_.nonEmpty).map(split))
  }

  /** One CSV line; fields may be double-quoted with "" escapes. */
  def split(line: String): Array[String] = {
    val out = Array.newBuilder[String]
    val sb = new StringBuilder
    var quoted = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { sb += '"'; i += 1 }
        else if (c == '"') quoted = false
        else sb += c
      } else if (c == '"') quoted = true
      else if (c == ',') { out += sb.toString; sb.clear() }
      else sb += c
      i += 1
    }
    out += sb.toString
    out.result()
  }

  /** Row count of a parquet directory, from the file footers. */
  def parquetRows(spark: SparkSession, dir: Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    parts(dir, ".parquet").filter(Files.isRegularFile(_)).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toUri), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }
}
