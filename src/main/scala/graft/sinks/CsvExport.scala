package graft.sinks

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import graft.operators.Staging
import graft.repl.TableFormat

/** CSV export with the reference's semantics (/root/reference/src/main.rs:
  * 266-286): header row + displayed values with the thousands-separator
  * commas stripped (i.e. plain values).
  *
  * Two paths:
  *  - [[exportDistributed]]: Spark's codegen'd CSV sink, partitioned —
  *    the 100 TB path (one file per partition, optional partitionBy).
  *  - [[exportSingleFile]]: coalesce to one CSV file at `path`, exactly
  *    what the reference's `|out=` does for human-sized results.
  * Both are a [[Staging.scope]], like [[ParquetSink]]'s writes.
  */
object CsvExport {

  def exportDistributed(df: DataFrame, dir: String,
                        partitionBy: Seq[String] = Nil): Unit = Staging.scope {
    val w = df.write.mode("overwrite").option("header", "true")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).csv(dir)
  }

  def exportSingleFile(df: DataFrame, path: String): Unit = {
    val tmp = path + ".spark-tmp"
    Staging.scope(
      df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp))
    val part = new File(tmp).listFiles().find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no csv part written in $tmp"))
    Files.move(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
    new File(tmp).listFiles().foreach(_.delete())
    new File(tmp).delete()
  }

  /** Reference-exact export of an already-rendered table: displayed
    * cell values with the grouping commas removed (main.rs:273-276). */
  def exportRendered(header: Seq[String], rows: Seq[Seq[String]], path: String): Unit = {
    val sb = new StringBuilder
    (header +: rows).foreach { r =>
      sb.append(r.map(c => {
        val v = c.replace(",", "")
        if (v.contains("\"") || v.contains("\n"))
          "\"" + v.replace("\"", "\"\"") + "\"" else v
      }).mkString(",")).append("\n")
    }
    Files.writeString(Paths.get(path), sb.toString)
  }
}
