package graft

import java.nio.file.Files
import graft.repl.{SqlRepl, TableFormat}

class ReplSpec extends TestSpark {

  test("cell formatting matches the reference display rules") {
    assert(TableFormat.cell(null) === "NULL")
    assert(TableFormat.cell(1234567L) === "1,234,567")
    assert(TableFormat.cell(1234567.25) === "1,234,567.25")
    assert(TableFormat.cell(-9876543) === "-9,876,543")
    assert(TableFormat.cell(Array[Byte](1, 2)) === "BLOB")
    assert(TableFormat.cell("plain") === "plain")
  }

  test("splitExport parses the |out= suffix") {
    assert(SqlRepl.splitExport("select 1") === ("select 1", None))
    assert(SqlRepl.splitExport("select * from t; |out=/tmp/x.csv") ===
      ("select * from t;", Some("/tmp/x.csv")))
  }

  test("loop: renders results, survives bad SQL, honors quit and EOF") {
    import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream, StringReader}
    def run(input: String): String = {
      val bos = new ByteArrayOutputStream()
      new SqlRepl(spark, new PrintStream(bos, true, "UTF-8"))
        .loop(new BufferedReader(new StringReader(input)))
      bos.toString("UTF-8")
    }
    val out = run("SELECT 1 AS x\nSELECT * FROM bogus_t\nSELECT 2 AS y\nquit\n")
    assert(out.contains("| x |") && out.contains("| 1 |"))
    assert(out.contains("Error:"))
    assert(out.contains("| y |"))        // loop survived the error
    val eof = run("SELECT 3 AS z\n")     // EOF without quit
    assert(eof.contains("| 3 |"))
  }

  test("runLine renders a query and exports comma-stripped csv") {
    Tables.registerAll(spark, sfDir)
    val out = Files.createTempFile("repl", ".csv").toString
    val repl = new SqlRepl(spark)
    val rendered = repl.runLine(
      "SELECT r_name, count(*) AS cnt FROM region GROUP BY r_name " +
        s"ORDER BY r_name |out=$out")
    assert(rendered.contains("r_name"))
    assert(rendered.startsWith("+"))
    val csv = Files.readString(java.nio.file.Paths.get(out)).trim.split("\n")
    assert(csv.head === "r_name,cnt")
    assert(csv.length === 6) // header + 5 regions
  }

  test("table-valued operators through plain SQL text: dedup_corpus and " +
      "asof_join run end-to-end from the REPL") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    val repl = new SqlRepl(spark)
    // dedup: two exact copies + one unique doc -> 2 survivors
    Seq((1L, "the quick brown fox jumps over the lazy dog tonight"),
        (2L, "the quick brown fox jumps over the lazy dog tonight"),
        (3L, "completely different words about spark engines and data"))
      .toDF("doc_id", "text").createOrReplaceTempView("repl_docs")
    val dedup = repl.runLine(
      "SELECT doc_id FROM dedup_corpus('repl_docs', 'doc_id', 'text', 0.7) " +
        "ORDER BY doc_id")
    assert(dedup.startsWith("+"), dedup)
    assert(dedup.contains("1") && dedup.contains("3") &&
      !dedup.lines().anyMatch(l => l.contains("| 2")), dedup)
    // as-of: each fact picks up the latest dim at or before its ts
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 100.0),
        (1L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 200.0))
      .toDF("k", "ts", "px").createOrReplaceTempView("repl_dim")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 7L),
        (1L, java.sql.Timestamp.valueOf("2024-01-01 13:00:00"), 8L))
      .toDF("k", "ts", "fact_id").createOrReplaceTempView("repl_fact")
    val asof = repl.runLine(
      "SELECT fact_id, px FROM asof_join('repl_fact', 'k', 'ts', " +
        "'repl_dim', 'k', 'ts', 'px') ORDER BY fact_id")
    assert(asof.contains("100") && asof.contains("200"), asof)
    // bad table name fails as a normal analysis error (the REPL loop's
    // catch renders those as "Error: ..." — covered by the loop test)
    val e = intercept[Exception] {
      repl.runLine("SELECT * FROM dedup_corpus('no_such_table', 'a', 'b')")
    }
    assert(e.getMessage.contains("no_such_table"))
    // CDC merge through SQL text: update lands, delete drops, insert adds
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
      .createOrReplaceTempView("repl_snap")
    Seq((1L, 11.0, "update"), (2L, 0.0, "delete"), (3L, 30.0, "insert"))
      .toDF("k", "v", "op").createOrReplaceTempView("repl_chg")
    val merged = repl.runLine(
      "SELECT k, v FROM apply_changeset('repl_snap', 'repl_chg', 'k') " +
        "ORDER BY k")
    assert(merged.contains("11") && merged.contains("30") &&
      !merged.lines().anyMatch(l => l.contains("| 2 ")), merged)
    // SCD2 history through SQL text: versions close at the next seq
    Seq((1L, 10.0, "insert", 1L), (1L, 11.0, "update", 4L))
      .toDF("k", "v", "op", "seq").createOrReplaceTempView("repl_hist")
    val hist = repl.runLine(
      "SELECT k, v, valid_from, valid_to, is_current FROM " +
        "scd2_history('repl_hist', 'k') ORDER BY valid_from")
    assert(hist.contains("10") && hist.contains("11"), hist)
    assert(hist.contains("true") && hist.contains("false"), hist)
    // interval union through SQL text: [0,10]+[5,12] merge, [20,25] apart
    Seq((1L, 0L, 10L), (1L, 5L, 12L), (1L, 20L, 25L))
      .toDF("k", "s", "e").createOrReplaceTempView("repl_iv")
    val merged2 = repl.runLine(
      "SELECT m_start, m_end, n_merged FROM " +
        "interval_merge('repl_iv', 'k', 's', 'e') ORDER BY m_start")
    assert(merged2.contains("12") && merged2.contains("25"), merged2)
    // PPS sample through SQL text: sum of multiplicities == k
    Seq((1L, 100L), (2L, 1L), (3L, 1L)).toDF("id", "w")
      .createOrReplaceTempView("repl_w")
    val pps = repl.runLine(
      "SELECT sum(mult) AS total FROM pps_sample('repl_w', 'id', 'w', 3)")
    assert(pps.contains("3"), pps)
    // range digests through SQL text: 2 ranges for keys {1, 65}
    Seq((1L, "a"), (65L, "b")).toDF("k", "v")
      .createOrReplaceTempView("repl_rd")
    val rd = repl.runLine(
      "SELECT count(*) AS n FROM range_digest('repl_rd', 'k', 64, 'k,v')")
    assert(rd.contains("2"), rd)
  }

  test("CLI parity: -f xlsx -s sheet loads excel_rows and serves SQL + |out= " +
       "end-to-end (reference demo workflow in one command)") {
    import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream, StringReader}
    import graft.sources.xlsx.XlsxWriter
    val dir = Files.createTempDirectory("cli-xlsx").toFile
    val p = new java.io.File(dir, "perf.xlsx").getAbsolutePath
    XlsxWriter.write(p, "Sheet1", Seq(
      Seq("service_name", "average_response_time_95_ms", "count",
          "max_response_time_95_ms", "min_response_time_95_ms"),
      Seq("checkout", 12.5, 1000, 99.9, 1.25),
      Seq("search", 8.25, 250000, 50.0, 0.5)))
    val csvOut = Files.createTempFile("cli", ".csv").toString
    val bos = new ByteArrayOutputStream()
    SqlRepl.runCli(Array("-f", p, "-s", "Sheet1"), spark,
      new BufferedReader(new StringReader(
        "SELECT service_name, count FROM excel_rows ORDER BY service_name " +
          s"|out=$csvOut\nquit\n")),
      new PrintStream(bos, true, "UTF-8"))
    val out = bos.toString("UTF-8")
    assert(out.contains("as table excel_rows"))
    assert(out.contains("checkout") && out.contains("250,000"))
    val csv = Files.readString(java.nio.file.Paths.get(csvOut)).trim.split("\n")
    // numeric xlsx columns infer as double (reference loads them as REAL too)
    assert(csv.toSeq === Seq("service_name,count", "checkout,1000.0", "search,250000.0"))
  }

  test("CLI parity: duplicate keys fail the load like the reference's " +
       "unique index; --no-unique admits them") {
    import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream, StringReader}
    import graft.sources.xlsx.XlsxWriter
    val dir = Files.createTempDirectory("cli-dup").toFile
    val p = new java.io.File(dir, "dup.xlsx").getAbsolutePath
    XlsxWriter.write(p, "Sheet1", Seq(
      Seq("service_name", "count"),
      Seq("checkout", 1), Seq("checkout", 2), Seq("search", 3)))
    def run(flags: Array[String]): String = {
      val bos = new ByteArrayOutputStream()
      SqlRepl.runCli(flags ++ Array("-f", p, "-s", "Sheet1"), spark,
        new BufferedReader(new StringReader("quit\n")),
        new PrintStream(bos, true, "UTF-8"))
      bos.toString("UTF-8")
    }
    val e = intercept[graft.sources.Ingest.DuplicateKeysException](run(Array()))
    assert(e.nKeys === 1 && e.sample === Seq("checkout"))
    assert(run(Array("--no-unique")).contains("as table excel_rows"))
  }

  // -- workbook load: parse once, staged rows and their lifetime ------------

  private def workbook(name: String, rows: Seq[Seq[Any]]): String = {
    val p = new java.io.File(Files.createTempDirectory("cli-wb").toFile, name)
      .getAbsolutePath
    graft.sources.xlsx.XlsxWriter.write(p, "Sheet1", rows)
    p
  }

  private def services(names: String*): Seq[Seq[Any]] =
    Seq("service_name", "count") +: names.zipWithIndex.map {
      case (n, i) => Seq(n, i + 1)
    }

  /** Load workbook `p` through the CLI; returns what it printed. */
  private def load(p: String, flags: String*): String = {
    import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream, StringReader}
    val bos = new ByteArrayOutputStream()
    SqlRepl.runCli((flags ++ Seq("-f", p, "-s", "Sheet1")).toArray, spark,
      new BufferedReader(new StringReader("quit\n")),
      new PrintStream(bos, true, "UTF-8"))
    bos.toString("UTF-8")
  }

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def names(): Seq[String] =
    spark.sql("SELECT service_name FROM excel_rows ORDER BY service_name")
      .collect().map(_.getString(0)).toSeq

  test("workbook load: three loads hold one staged RDD, and a workbook " +
       "rewritten at the same path is seen by the next load") {
    val p = workbook("svc.xlsx", services("a", "b"))
    val before = persisted
    (1 to 3).foreach(_ => load(p))
    val held = spark.sparkContext.getPersistentRDDs.values
      .filter(_.name == SqlRepl.WorkbookTable)
    assert(held.size === 1, held)
    assert((persisted -- before).size === 1)
    assert(names() === Seq("a", "b"))
    graft.sources.xlsx.XlsxWriter.write(p, "Sheet1", services("c", "d", "e"))
    load(p)
    assert(names() === Seq("c", "d", "e"))
    assert(spark.sparkContext.getPersistentRDDs.values
      .count(_.name == SqlRepl.WorkbookTable) === 1)
  }

  test("workbook load: a duplicate-key load frees its own staged rows and " +
       "leaves the previous excel_rows answering") {
    load(workbook("good.xlsx", services("a", "b")))
    val before = persisted
    val dup = workbook("dup.xlsx", services("x", "x", "y"))
    intercept[graft.sources.Ingest.DuplicateKeysException](load(dup))
    assert((persisted -- before).isEmpty)
    assert(names() === Seq("a", "b"))
  }

  test("workbook load: a reload or a failed load frees staged rows without " +
       "the lineage-truncated WARN") {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("lineage-warn", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("lineage has been truncated")) warned.add(m)
      }
    }
    appender.start()
    val ctx = LoggerContext.getContext(false)
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      // the probe sees the WARN RDD.unpersist logs for a local checkpoint
      val probe = spark.sparkContext.parallelize(1 to 3).localCheckpoint()
      probe.count()
      probe.unpersist()
      assert(warned.size === 1, warned)
      warned.clear()
      val p = workbook("twice.xlsx", services("a", "b"))
      load(p)
      load(p)
      intercept[graft.sources.Ingest.DuplicateKeysException](
        load(workbook("dup2.xlsx", services("x", "x"))))
      // a statement whose operator frees CC checkpoints as it goes
      Tables.registerAll(spark, sfDir)
      new SqlRepl(spark).runLine(
        "SELECT count(*) FROM dedup_corpus('documents', 'doc_id', 'text')")
      assert(warned.isEmpty, warned)
    } finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    assert(names() === Seq("a", "b"))
  }

  test("a REPL statement over dedup_corpus leaves the persisted RDDs and " +
       "the cached plans as they were") {
    Tables.registerAll(spark, sfDir)
    val repl = new SqlRepl(spark)
    val (before, entries) = (persisted, cacheEntries)
    val out = repl.runLine(
      "SELECT count(*) AS n FROM dedup_corpus('documents', 'doc_id', 'text')")
    assert(out.contains("| n"), out)
    assert(persisted -- before === Set.empty)
    assert(cacheEntries === entries)
  }

  test("workbook load: statements read the staged rows and never scan the " +
       "xlsx again") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    val p = workbook("once.xlsx", services("a", "b", "c"))
    // stages whose RDD lineage reads a DataSource V2 scan (the xlsx
    // source is the only one these statements could reach)
    val stages, scanStages = new AtomicInteger()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet()
        if (e.stageInfo.rddInfos.exists(_.name == "DataSourceRDD"))
          scanStages.incrementAndGet()
      }
    }
    def counted(body: => Unit): (Int, Int) = {
      org.apache.spark.sql.GraftInternal.waitForListeners(spark)
      stages.set(0); scanStages.set(0)
      body
      org.apache.spark.sql.GraftInternal.waitForListeners(spark)
      (stages.get, scanStages.get)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (_, loadScans) = counted(load(p))
      assert(loadScans >= 1, "the probe must see the load's own scan")
      // a snapshot: the statements need the file no more
      new java.io.File(p).delete()
      val repl = new SqlRepl(spark)
      val (ran, scans) = counted(Seq(
        "SELECT count(*) AS n FROM excel_rows",
        "SELECT service_name FROM excel_rows WHERE count > 1 ORDER BY 1",
        "SELECT max(count) AS m, min(service_name) AS s FROM excel_rows",
        "SELECT service_name, rank() OVER (ORDER BY count DESC) AS r " +
          "FROM excel_rows").foreach(repl.runLine))
      assert(ran >= 4)
      assert(scans === 0)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(names() === Seq("a", "b", "c"))
  }

  test("workbook load: an empty sheet fails with a named error") {
    val p = workbook("empty.xlsx", Nil)
    val e = intercept[IllegalArgumentException](load(p))
    assert(e.getMessage.contains(p) && e.getMessage.contains("Sheet1"),
      e.getMessage)
  }

  test("workbook load: a corrupt sheet fails the load itself and leaves no " +
       "staged RDD and no excel_rows view") {
    import scala.jdk.CollectionConverters._
    import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
    // enough rows that schema inference (the first ~100) parses cleanly
    // and the cut surfaces only while the rows are staged
    val good = workbook("whole.xlsx",
      services((1 to 400).map(i => s"svc$i"): _*))
    val cut = new java.io.File(new java.io.File(good).getParent, "cut.xlsx")
      .getAbsolutePath
    val zin = new ZipFile(good)
    val zos = new ZipOutputStream(new java.io.FileOutputStream(cut))
    try zin.entries().asScala.foreach { e =>
      val bytes = zin.getInputStream(e).readAllBytes()
      zos.putNextEntry(new ZipEntry(e.getName))
      zos.write(
        if (e.getName.endsWith("sheet1.xml")) bytes.take(bytes.length * 4 / 5)
        else bytes)
      zos.closeEntry()
    } finally { zos.close(); zin.close() }
    spark.catalog.dropTempView(SqlRepl.WorkbookTable)
    val before = persisted
    intercept[Exception](load(cut, "--no-unique"))
    assert((persisted -- before).isEmpty)
    assert(!spark.catalog.tableExists(SqlRepl.WorkbookTable))
  }

  test("history: \\history lists, !N and !! recall, and the file persists " +
       "across REPL instances") {
    import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream, StringReader}
    val hist = Files.createTempFile("repl-history", ".txt")
    Files.delete(hist) // start with no history file
    def run(input: String): String = {
      val bos = new ByteArrayOutputStream()
      new SqlRepl(spark, new PrintStream(bos, true, "UTF-8"),
          historyFile = Some(hist))
        .loop(new BufferedReader(new StringReader(input)))
      bos.toString("UTF-8")
    }
    val out1 = run("SELECT 41 AS a\n!1\n!!\n\\history\nquit\n")
    // !1 and !! both re-executed the first line
    assert("\\| 41 \\|".r.findAllIn(out1).size === 3, out1)
    assert(out1.contains("1  SELECT 41 AS a"))
    // new instance: history reloaded from the file, !1 still resolves
    val out2 = run("!1\nquit\n")
    assert(out2.contains("| 41 |"), out2)
    assert(Files.readAllLines(hist).size === 4) // 3 executions + 1 recall
  }

  test("thousands separators render in the table and strip in the export") {
    Tables.registerAll(spark, sfDir)
    val out = Files.createTempFile("repl2", ".csv").toString
    val repl = new SqlRepl(spark)
    val rendered = repl.runLine(
      s"SELECT count(*) AS n FROM lineitem |out=$out")
    assert(rendered.contains(","))  // 6,005-ish formatted
    val body = Files.readString(java.nio.file.Paths.get(out))
    assert(!body.split("\n")(1).contains(","))
  }
}
