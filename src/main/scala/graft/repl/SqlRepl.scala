package graft.repl

import java.io.{BufferedReader, InputStreamReader, PrintStream}
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftInternal, SparkSession}
import graft.operators.Staged
import graft.sinks.CsvExport
import graft.sources.Ingest
import graft.{GraftSession, Tables}

/** The reference's interactive surface (/root/reference/src/main.rs:
  * 130-177) on Spark SQL: read a line, execute it as SQL, pretty-print
  * with thousands separators, and honor the `<sql> |out=/path.csv`
  * export suffix (commas stripped from displayed values, like
  * main.rs:273-276).
  *
  * Line history mirrors rustyline's optional file history
  * (main.rs:137-141, 175-176): every executed line is recorded, an
  * existing history file is loaded on start, and `\history` / `!N` /
  * `!!` list and recall entries (a plain stdin loop has no terminal to
  * do arrow-key editing in).
  *
  * Library-first: `runLine` is pure-ish (returns the rendered table) so
  * the REPL loop is a thin stdin/stdout shell and tests drive runLine
  * directly.
  */
final class SqlRepl(spark: SparkSession, out: PrintStream = System.out,
                    maxRows: Int = 1000,
                    historyFile: Option[Path] = None) {

  private val history = scala.collection.mutable.ArrayBuffer[String]()
  historyFile.filter(Files.exists(_)).foreach { p =>
    history ++= Files.readAllLines(p).asScala
  }

  private var historyWritable = true

  private def record(cmd: String): Unit = {
    history += cmd
    if (historyWritable) historyFile.foreach { p =>
      try Files.writeString(p, cmd + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      catch { case e: java.io.IOException =>
        // degrade to in-memory history rather than killing the session
        historyWritable = false
        out.println(s"Warning: cannot write history file $p: ${e.getMessage}")
      }
    }
  }

  /** Resolve `!N` (1-based) / `!!` recall; None = nothing to run. */
  private def resolve(line: String): Option[String] = line match {
    case "!!" =>
      val r = history.lastOption
      if (r.isEmpty) out.println("Error: history is empty")
      r
    case s if s.length > 1 && s.head == '!' && s.tail.forall(_.isDigit) =>
      s.tail.toIntOption.filter(i => i >= 1 && i <= history.size) match {
        case Some(i) => Some(history(i - 1))
        case None => out.println(s"Error: no history entry ${s.tail}"); None
      }
    case s => Some(s)
  }

  /** Execute one REPL line; returns the rendered table text. */
  def runLine(line: String): String = {
    val (sql, exportPath) = SqlRepl.splitExport(line)
    val df = spark.sql(sql)
    val header = df.columns.toSeq
    val rows = df.take(maxRows).map(r =>
      (0 until r.length).map(i => TableFormat.cell(r.get(i))): Seq[String]).toSeq
    val rendered = TableFormat.renderRows(header, rows)
    exportPath.foreach(p => CsvExport.exportRendered(header, rows, p))
    rendered
  }

  /** Handle one input line; false = the REPL should exit. */
  private def processLine(line: String): Boolean = {
    val trimmed = line.trim
    if (trimmed == "exit" || trimmed == "quit") false
    else {
      if (trimmed == "\\history")
        history.zipWithIndex.foreach { case (h, i) => out.println(s"${i + 1}  $h") }
      else if (trimmed.nonEmpty) resolve(trimmed).foreach { cmd =>
        record(cmd)
        try out.println(runLine(cmd))
        catch { case e: Exception => out.println(s"Error: ${e.getMessage}") }
      }
      true
    }
  }

  def loop(in: BufferedReader): Unit = {
    var go = true
    var line = ""
    while (go &&
        { out.print("[SQL] >> "); out.flush(); line = in.readLine(); line != null })
      go = processLine(line)
  }

  /** Interactive terminal loop on JLine3 — the reference's rustyline UX
    * (/root/reference/src/main.rs:142-171): arrow-key editing and
    * history recall, Ctrl-C clears the current line and continues,
    * Ctrl-D exits. Command semantics are identical to [[loop]] (same
    * [[processLine]]); the history FILE stays owned by [[record]] so
    * `\\history` / `!N` indices agree between modes — JLine only holds
    * the in-memory buffer that arrow keys browse, seeded from the
    * loaded file history. Use only when stdin is a real terminal. */
  def interactiveLoop(): Unit = {
    val terminal = org.jline.terminal.TerminalBuilder.builder()
      .system(true).build()
    val jhist = new org.jline.reader.impl.history.DefaultHistory()
    val reader = org.jline.reader.LineReaderBuilder.builder()
      .terminal(terminal).history(jhist).build()
    history.foreach(jhist.add)
    try {
      var go = true
      while (go) {
        val line =
          try reader.readLine("[SQL] >> ")
          catch {
            case _: org.jline.reader.UserInterruptException => "" // Ctrl-C
            case _: org.jline.reader.EndOfFileException     => null // Ctrl-D
          }
        go = line != null && processLine(line)
      }
    } finally terminal.close()
  }
}

object SqlRepl {
  /** `select ... |out=/path.csv` → (sql, Some(path)) — main.rs:148-159. */
  def splitExport(line: String): (String, Option[String]) =
    line.split("\\|out=", 2) match {
      case Array(sql, path) => (sql.trim, Some(path.trim))
      case _                => (line.trim, None)
    }

  private[repl] final case class CliConf(
      file: Option[String] = None, sheet: Option[String] = None,
      coerceZero: Boolean = false, unique: Option[Seq[String]] = Some(Nil),
      history: Option[Path] = None, dataDir: Option[String] = None)

  private[repl] def parseArgs(args: Seq[String]): CliConf = {
    def walk(rest: List[String], c: CliConf): CliConf = rest match {
      case "-f" :: v :: t       => walk(t, c.copy(file = Some(v)))
      case "-s" :: v :: t       => walk(t, c.copy(sheet = Some(v)))
      case "--coerce=zero" :: t => walk(t, c.copy(coerceZero = true))
      case "--no-unique" :: t   => walk(t, c.copy(unique = None))
      case "--unique" :: v :: t =>
        walk(t, c.copy(unique = Some(v.split(",").toSeq)))
      case "--history" :: v :: t =>
        walk(t, c.copy(history = Some(Paths.get(v))))
      case d :: t               => walk(t, c.copy(dataDir = Some(d)))
      case Nil                  => c
    }
    walk(args.toList, CliConf())
  }

  /** The table a workbook load registers (the reference's table name,
    * main.rs:181). The load's staged RDD carries the same name. */
  val WorkbookTable = "excel_rows"

  /** The reference's one workflow in one command
    * (main.rs:25-34, 130-177): `-f file.xlsx -s Sheet1` loads the sheet
    * as table `excel_rows`, enforces key uniqueness on the first column
    * (its `idx_service_name` unique index; `--unique c1,c2` overrides,
    * `--no-unique` disables), then drops into the SQL REPL. Without
    * `-f`, the positional arg is a parquet data dir (graft's native
    * mode). Separated from `main` so tests can drive it end-to-end.
    *
    * `excel_rows` is a snapshot taken at load, as in the reference's
    * SQLite import: the workbook is parsed once, and every statement
    * reads the staged rows; edit the file and load it again to see the
    * change. The rows are held in block-manager storage, and
    * `spark.graft.staging.reliable` applies to them as to every staged
    * frame ([[loadWorkbook]] says when they are freed). */
  def runCli(args: Array[String], spark: SparkSession,
             in: BufferedReader, out: PrintStream,
             interactive: Boolean = false): Unit = {
    val c = parseArgs(args.toIndexedSeq)
    c.file match {
      case Some(f) =>
        val df = loadWorkbook(spark, f, c)
        out.println(s"Loaded $f${c.sheet.fold("")(s => s" sheet $s")} " +
          s"as table $WorkbookTable (${df.columns.mkString(", ")})")
      case None =>
        Tables.registerAll(spark, c.dataDir.getOrElse("/root/testdata/sf0.001"))
    }
    val repl = new SqlRepl(spark, out, historyFile = c.history)
    if (interactive) repl.interactiveLoop() else repl.loop(in)
  }

  /** Parse workbook `f` once, check its keys, and register the rows as
    * `excel_rows`.
    *
    * The rows are staged by [[Staged.checkpointStage]]: held in
    * block-manager storage (local checkpoint), or written as a reliable
    * checkpoint when `spark.graft.staging.reliable=true`. The key check
    * and every later statement read the staged rows, not the file.
    *
    * Lifetime: a load replaces the session's `excel_rows` only after
    * its checks pass, then frees the rows of the load it replaced. A
    * failed load (a corrupt sheet, duplicate keys) frees what it staged
    * and leaves the previous `excel_rows`, if any, queryable. */
  private def loadWorkbook(spark: SparkSession, f: String, c: CliConf): DataFrame = {
    val reader = spark.read.format("graft.sources.xlsx.XlsxDataSource")
      .option("path", f)
    c.sheet.foreach(s => reader.option("sheet", s))
    if (c.coerceZero) reader.option("coerce", "zero")
    val df = reader.load()
    if (df.columns.isEmpty)
      throw new IllegalArgumentException(
        s"xlsx: ${c.sheet.fold("the first sheet")(s => s"sheet $s")} of $f " +
          s"has no rows: nothing to load as $WorkbookTable")
    val keyCols = c.unique.map {
      case Nil  => Seq(df.columns.head)
      case cols => cols
    }
    GraftInternal.unpersistOnFailure(spark.sparkContext, s"load $WorkbookTable") {
      val staged = Staged.checkpointStage(df, eager = true)
      keyCols.foreach(ks => Ingest.assertUnique(staged, ks))
      GraftInternal.backingRdds(staged).foreach(_.setName(WorkbookTable))
      SqlRepl.synchronized { // one swap at a time: no replaced rows are missed
        val replaced = stagedRows(spark)
        staged.createOrReplaceTempView(WorkbookTable)
        replaced.foreach(GraftInternal.unpersistQuietly)
      }
      staged
    }
  }

  /** The staged rows behind the session's current `excel_rows`, when a
    * workbook load registered it. */
  private def stagedRows(spark: SparkSession): Seq[RDD[_]] =
    if (!spark.catalog.tableExists(WorkbookTable)) Nil
    else GraftInternal.backingRdds(spark.table(WorkbookTable))
      .filter(_.name == WorkbookTable)

  /** Entry point. `runMain graft.repl.SqlRepl <dataDir>` (parquet mode)
    * or `runMain graft.repl.SqlRepl -f file.xlsx -s Sheet1` (reference
    * parity mode). Uses the JLine editor when attached to a real
    * terminal; piped/forked stdin (sbt run, tests, scripts) falls back
    * to the plain line loop. */
  /** True only when stdin/stdout really are a terminal. On JDK < 22 a
    * non-null `System.console()` implies a tty; JDK 22+ returns a
    * Console even for redirected streams and adds `isTerminal` — probe
    * it reflectively so piped stdin keeps the plain loop there too. */
  private def stdinIsTerminal: Boolean = {
    val c = System.console()
    c != null && (try
      c.getClass.getMethod("isTerminal").invoke(c).asInstanceOf[Boolean]
    catch { case _: NoSuchMethodException => true })
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    runCli(args, spark,
      new BufferedReader(new InputStreamReader(System.in)), System.out,
      interactive = stdinIsTerminal)
    spark.stop()
  }
}
