package graft

import java.nio.file.Files
import graft.sources.xlsx.XlsxWriter

class XlsxSourceSpec extends TestSpark {
  import spark.implicits._

  /** Fixture mirroring the reference's demo.xlsx shape
    * (service_name + four numeric response-time columns). */
  private lazy val fixture: String = {
    val dir = Files.createTempDirectory("xlsx").toFile
    val p = new java.io.File(dir, "perf.xlsx").getAbsolutePath
    XlsxWriter.write(p, "Sheet1", Seq(
      Seq("service_name", "average_response_time_95_ms", "count",
          "max_response_time_95_ms", "min_response_time_95_ms"),
      Seq("checkout", 12.5, 1000, 99.9, 1.25),
      Seq("search", 8.25, 250000, 50.0, 0.5),
      Seq("login", "n/a", 42, 10.0, 0.1)   // non-numeric cell in numeric col
    ))
    p
  }

  test("reads header, infers string + double columns, nulls bad numerics") {
    val df = spark.read.format("graft.sources.xlsx.XlsxDataSource")
      .option("sheet", "Sheet1").option("path", fixture).load()
    assert(df.columns.toSeq === Seq("service_name", "average_response_time_95_ms",
      "count", "max_response_time_95_ms", "min_response_time_95_ms"))
    val rows = df.orderBy("service_name")
      .as[(String, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    assert(rows === Seq(
      ("checkout", Some(12.5), Some(1000.0), Some(99.9), Some(1.25)),
      ("login", None, Some(42.0), Some(10.0), Some(0.1)),
      ("search", Some(8.25), Some(250000.0), Some(50.0), Some(0.5))))
  }

  test("coerce=zero reproduces the reference's unwrap_or(0.0) semantics") {
    val df = spark.read.format("graft.sources.xlsx.XlsxDataSource")
      .option("sheet", "Sheet1").option("coerce", "zero")
      .option("path", fixture).load()
    val login = df.filter($"service_name" === "login")
      .select("average_response_time_95_ms").as[Double].head()
    assert(login === 0.0)
  }

  test("column pruning pushes into the reader") {
    val df = spark.read.format("graft.sources.xlsx.XlsxDataSource")
      .option("path", fixture).load()
      .select("service_name")
    assert(df.as[String].collect().toSet === Set("checkout", "search", "login"))
    assert(df.queryExecution.executedPlan.toString.contains("service_name"))
  }

  test("reads the reference's real demo.xlsx (shared-strings path)") {
    val demo = "/root/reference/demo.xlsx"
    assume(new java.io.File(demo).exists())
    val df = spark.read.format("graft.sources.xlsx.XlsxDataSource")
      .option("path", demo).load()
    assert(df.columns.nonEmpty)
    assert(df.count() > 0)
  }

  test("sql over the xlsx table matches the reference demo workflow") {
    val df = spark.read.format("graft.sources.xlsx.XlsxDataSource")
      .option("path", fixture).load()
    df.createOrReplaceTempView("excel_rows")
    val n = spark.sql(
      "SELECT service_name FROM excel_rows WHERE count > 100").count()
    assert(n === 2)
  }

  test("a directory of workbooks reads as one table with one partition per file") {
    // xlsx isn't block-splittable, so parallelism = #files — the
    // documented scale shape: many workbooks → many partitions
    val dir = Files.createTempDirectory("xlsx-many").toFile
    (1 to 3).foreach { i =>
      XlsxWriter.write(new java.io.File(dir, s"part$i.xlsx").getAbsolutePath,
        "Sheet1", Seq(
          Seq("service_name", "count"),
          Seq(s"svc${i}a", i * 10), Seq(s"svc${i}b", i * 10 + 1)))
    }
    val df = spark.read.format("graft.sources.xlsx.XlsxDataSource")
      .option("sheet", "Sheet1").option("path", dir.getAbsolutePath).load()
    assert(df.rdd.getNumPartitions === 3)
    assert(df.count() === 6)
    assert(df.select("service_name").as[String].collect().toSet ===
      Set("svc1a", "svc1b", "svc2a", "svc2b", "svc3a", "svc3b"))
  }

  test("a missing sheet fails with an error that names it") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.xlsx.XlsxDataSource")
        .option("sheet", "Nope").option("path", fixture).load()
    }
    assert(e.getMessage === s"xlsx: sheet Nope not found in $fixture")
  }

  test("rich-text runs join and phonetic guides are dropped, in shared " +
       "and inline strings") {
    // XlsxWriter writes no shared strings: take its package parts and
    // swap in a hand-written sheet and shared-strings table
    val shared =
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<si><t>Tokyo</t><rPh sb="0" eb="5"><t>トウキョウ</t></rPh></si>
        |<si><r><t>New </t></r><r><rPr><b/></rPr><t>York</t></r></si>
        |</sst>""".stripMargin
    def inline(ref: String, is: String) =
      s"""<c r="$ref" t="inlineStr"><is>$is</is></c>"""
    val sheet =
      s"""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
         |<sheetData>
         |<row r="1">${inline("A1", "<t>city</t>")}</row>
         |<row r="2"><c r="A2" t="s"><v>0</v></c></row>
         |<row r="3"><c r="A3" t="s"><v>1</v></c></row>
         |<row r="4">${inline("A4", "<r><t>Hello </t></r><r><t>World</t></r>")}</row>
         |<row r="5">${inline("A5", "<t>Osaka</t><rPh sb=\"0\" eb=\"5\"><t>オオサカ</t></rPh>")}</row>
         |</sheetData>
         |</worksheet>""".stripMargin
    val p = rewritten(_.endsWith("sheet1.xml"), Map(
      "xl/worksheets/sheet1.xml" -> sheet, "xl/sharedStrings.xml" -> shared))
    val cities = spark.read.format("graft.sources.xlsx.XlsxDataSource")
      .option("path", p).load().as[String].collect().toSeq
    assert(cities === Seq("Tokyo", "New York", "Hello World", "Osaka"))
  }

  test("a directory with no workbook fails with a named error") {
    val dir = Files.createTempDirectory("xlsx-none").toFile.getAbsolutePath
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.xlsx.XlsxDataSource")
        .option("path", dir).load()
    }
    assert(e.getMessage.contains(dir), e.getMessage)
  }

  /** A copy of a one-column XlsxWriter workbook (`city`: `Oslo`)
    * without the parts `drop` selects and with the parts in `put`,
    * written inside a fresh temp directory. */
  private def rewritten(drop: String => Boolean,
                        put: Map[String, String] = Map.empty): String = {
    import scala.jdk.CollectionConverters._
    import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
    val dir = Files.createTempDirectory("xlsx-parts").toFile
    val base = new java.io.File(dir, "base.xlsx").getAbsolutePath
    XlsxWriter.write(base, "Sheet1", Seq(Seq("city"), Seq("Oslo")))
    val p = new java.io.File(dir, "parts.xlsx").getAbsolutePath
    val zin = new ZipFile(base)
    val zos = new ZipOutputStream(new java.io.FileOutputStream(p))
    def write(name: String, bytes: Array[Byte]): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(bytes); zos.closeEntry()
    }
    try {
      zin.entries().asScala.filterNot(e => drop(e.getName))
        .foreach(e => write(e.getName, zin.getInputStream(e).readAllBytes()))
      put.foreach { case (name, xml) => write(name, xml.getBytes("UTF-8")) }
    } finally { zos.close(); zin.close() }
    p
  }

  private def loadError(path: String): IllegalArgumentException =
    intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.xlsx.XlsxDataSource")
        .option("path", path).load()
    }

  test("a zip with no workbook part fails with an error naming file and part") {
    val p = rewritten(_ == "xl/workbook.xml")
    assert(loadError(p).getMessage === s"xlsx: $p has no part xl/workbook.xml")
  }

  test("a worksheet part the relationships name but the zip lacks fails by name") {
    val p = rewritten(_ == "xl/worksheets/sheet1.xml")
    assert(loadError(p).getMessage ===
      s"xlsx: $p has no part xl/worksheets/sheet1.xml")
  }

  test("a file that is not a zip fails with an error that names it") {
    val p = Files.createTempFile("xlsx-not-zip", ".xlsx")
    Files.write(p, "service_name,count\nsearch,1\n".getBytes("UTF-8"))
    val e = loadError(p.toString)
    assert(e.getMessage.startsWith(s"xlsx: $p is not a zip archive"), e.getMessage)
  }

  test("a workbook without relationships reads its first sheet from sheet1.xml") {
    val p = rewritten(_ == "xl/_rels/workbook.xml.rels")
    assert(spark.read.format("graft.sources.xlsx.XlsxDataSource")
      .option("path", p).load().as[String].collect().toSeq === Seq("Oslo"))
  }
}
