package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM XLSX read/write (zip + StAX): the attribute-table format the
  * reference reaches through GDAL's xlsx driver (st_read_xlsx.test). */
class XlsxSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark

  test("writer → reader round-trip with numbers, strings, and escapes") {
    Graft.register(spark)
    val df = spark.sql("""
      SELECT 1337 AS i, 'foobar' AS f, 2.5d AS d, 'a <b> & "c"' AS esc
      UNION ALL
      SELECT -1, 'second, row', 0.125d, NULL""")
    val dir = tempDir("graft_xlsx").toString
    graft.io.GeoWriter.xlsx(df, s"$dir/t.xlsx", singleFile = true)

    val rows = graft.io.Xlsx.rows(s"$dir/t.xlsx")
    assert(rows.head.toSeq == Seq("i", "f", "d", "esc"))
    assert(rows.length == 3)

    val back = spark.read.format("geo").load(s"$dir/t.xlsx")
    back.createOrReplaceTempView("xlsx_rt")
    val r = spark.sql("SELECT i, f, d, esc FROM xlsx_rt ORDER BY cast(i AS INT)").collect()
    assert(r(0).getString(0) == "-1" && r(0).getString(1) == "second, row" && r(0).getString(3) == null)
    assert(r(1).getString(0) == "1337" && r(1).getString(1) == "foobar" &&
      r(1).getString(2) == "2.5" && r(1).getString(3) == "a <b> & \"c\"")
    // numbers come back castable (the sheet stores them as t="n")
    assert(spark.sql("SELECT sum(cast(i AS INT)) FROM xlsx_rt").collect()(0).getLong(0) == 1336L)
  }

  test("shared-strings workbooks parse (external writers use them)") {
    // hand-build a minimal workbook that uses the sharedStrings part, the
    // layout Excel itself produces (our writer uses inline strings instead)
    val dir = tempDir("graft_xlsx2")
    val p = dir.resolve("s.xlsx")
    val z = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(p))
    def part(n: String, c: String): Unit = {
      z.putNextEntry(new java.util.zip.ZipEntry(n)); z.write(c.getBytes("UTF-8")); z.closeEntry()
    }
    part("xl/sharedStrings.xml",
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><si><t>name</t></si><si><t>alpha</t></si></sst>""")
    part("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="inlineStr"><is><t>n</t></is></c></row>
        |<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v>42</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    z.finish(); z.close()
    val rows = graft.io.Xlsx.rows(p.toString)
    assert(rows.head.toSeq == Seq("name", "n"))
    assert(rows(1).toSeq == Seq("alpha", "42"))
  }
}
