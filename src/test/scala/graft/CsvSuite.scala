package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.DataTable
import graft.sources.Csv

/** Port of the reference's CSV/parse tests (`tests/testDf.nim` CSV blocks,
  * `tests/testParse.nim`) against the same fixture data and inline
  * strings. Inference semantics per `io.nim:465-605`.
  */
class CsvSuite extends SparkSpec {

  private val mpgPath = "/root/reference/data/mpg.csv"

  test("mpg.csv: shape and inferred types (testDf.nim:364+ CSV end-to-end)") {
    val df = Csv.readCsv(spark, mpgPath)
    assert(df.count() == 234)
    assert(df.columns.length == 11)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("displ") == DoubleType)
    assert(types("cyl") == LongType)
    assert(types("hwy") == LongType)
    assert(types("cty") == LongType)
    assert(types("manufacturer") == StringType)
    assert(types("class") == StringType)
  }

  test("mpg golden means (testDf.nim:859-885 'Group by')") {
    val mpg = DataTable(Csv.readCsv(spark, mpgPath))
    val summary = mpg.summarize(
      "mean_cyl" -> avg(col("cyl")), "mean_hwy" -> avg(col("hwy")))
    assert(almostEqual(colDoubles(summary, "mean_cyl").head, 5.88889, 1e-5))
    assert(almostEqual(colDoubles(summary, "mean_hwy").head, 23.4402, 1e-5))
    val grouped = mpg.groupBy("cyl").summarize(
      "mean_displ" -> avg(col("displ")), "mean_hwy" -> avg(col("hwy")))
    assert(colLongs(grouped, "cyl") == Seq(4L, 5L, 6L, 8L))
    assertAllClose(colDoubles(grouped, "mean_displ"),
      Seq(2.14568, 2.5, 3.40886, 5.13286), 1e-5)
    assertAllClose(colDoubles(grouped, "mean_hwy"),
      Seq(28.8025, 28.75, 22.8228, 17.6286), 1e-5)
  }

  test("mpg filter golden counts (testDf.nim:908-913)") {
    val mpg = DataTable(Csv.readCsv(spark, mpgPath))
    val cyl4 = mpg.filter(col("cyl") === 4)
    assert(cyl4.df.count() == 81)
    assert(cyl4.filter(col("drv") === "4").df.count() == 23)
  }

  test("mpg unequal filter (testDf.nim:915-918 'Unequal')") {
    val mpg = DataTable(Csv.readCsv(spark, mpgPath))
    val noSuv = mpg.filter(col("class") =!= "suv")
    assert(!colStrings(DataTable(noSuv.df.select("class").distinct()), "class").contains("suv"))
  }

  test("mpg grouped mutate cty + mean(hwy) golden (testDf.nim:2036-2071)") {
    // the reference relies on a stable arrange('class') keeping file order
    // within ties; reproduce that total order with an explicit row index
    // (single partition -> monotonically_increasing_id is the file order)
    val mpg = DataTable(Csv.readCsv(spark, mpgPath).coalesce(1)
      .withColumn("__ord", monotonically_increasing_id()))
    val r = mpg.groupBy("class")
      .mutate("subMeanHwy" -> (col("cty") + avg(col("hwy")))).ungroup
      .arrange("class", "__ord")
    assert(r.df.count() == 234)
    assertAllClose(colDoubles(r, "subMeanHwy").take(5),
      Seq(40.8, 39.8, 40.8, 39.8, 39.8))
  }

  test("unique on duplicated rows from CSV string (testDf.nim:1324-1340)") {
    val data =
      """t_in_s,  C1_in_V,  C2_in_V,  type
        |-3.0000E-06,  -2.441E-04,  -6.836E-04,  T1
        |-2.9992E-06,  2.441E-04,  -6.836E-04 ,  T1
        |-2.9984E-06,  1.025E-03,  -8.789E-04 ,  T1
        |-2.9976E-06,  1.025E-03,  -2.930E-04 ,  T1
        |-2.9992E-06,  2.441E-04,  -6.836E-04 ,  T1
        |-2.9984E-06,  1.025E-03,  -8.789E-04 ,  T1
        |-2.9976E-06,  1.025E-03,  -2.930E-04 ,  T1
        |-2.9968E-06,  9.277E-04,  2.930E-04  ,  T2
        |""".stripMargin
    val df = DataTable(Csv.parseCsvString(spark, data))
    assert(df.df.count() == 8)
    assert(df.unique().df.count() == 5)
    // scientific notation -> double
    assert(df.df.schema("t_in_s").dataType == DoubleType)
    assert(df.df.schema("type").dataType == StringType)
  }

  test("user headers starting with _c are NOT renamed (only synthetic _cN)") {
    val df = Csv.parseCsvString(spark,
      """_cost,_category,x
        |1.5,a,10
        |2.5,b,20""".stripMargin)
    assert(df.columns.toSeq == Seq("_cost", "_category", "x"))
  }

  test("custom column names on headerless data (testDf.nim:1384-1407)") {
    val data =
      """-3.0000E-06,  -2.441E-04,  -6.836E-04,  T1
        |-2.9992E-06,  2.441E-04,  -6.836E-04 ,  T1
        |-2.9984E-06,  1.025E-03,  -8.789E-04 ,  T1
        |""".stripMargin
    val cols = Seq("V1", "V2", "V3", "Channel")
    val df = Csv.parseCsvString(spark, data, header = false, colNames = cols)
    assert(df.count() == 3)
    assert(df.columns.toSeq.sorted == cols.sorted)
  }

  test("numeric column names stay plain (testDf.nim:1409-1432)") {
    val data =
      """-3.0000E-06,  -2.441E-04,  -6.836E-04,  T1
        |-2.9992E-06,  2.441E-04,  -6.836E-04 ,  T1
        |""".stripMargin
    val df = Csv.parseCsvString(spark, data, header = false,
      colNames = Seq("0", "1", "2", "3"))
    assert(df.columns.toSeq == Seq("0", "1", "2", "3"))
  }

  test("custom colNames replacing a real header via skipLines (testDf.nim:1434-1447)") {
    val data =
      """ ag, Z=47, (Energy (eV),f1,f2)
        |   10.0000     -9999.00      1.18566
        |   10.1617     -9999.00      1.22941
        |   10.3261     -9999.00      1.27478
        |   10.4931     -9999.00      1.32182
        |   10.6628     -9999.00      1.38215
        |""".stripMargin
    val df = Csv.parseCsvString(spark, data, sep = " ", skipLines = 1,
      colNames = Seq("Energy", "f1", "f2"))
    assert(df.count() == 5)
    assert(df.columns.toSeq.sorted == Seq("Energy", "f1", "f2"))
    assert(colDoubles(DataTable(df), "f1") == Seq.fill(5)(-9999.0))
  }

  test("space separated data with trailing spacing (testDf.nim:1449-1458)") {
    val data =
      """   Energy            f1           f2
        |   10.0000     -9999.00      1.18566
        |   10.1617     -9999.00      1.22941
        |   10.3261     -9999.00      1.27478
        |   10.4931     -9999.00      1.32182
        |   10.6628     -9999.00      1.38215
        |""".stripMargin
    val df = Csv.parseCsvString(spark, data, sep = " ")
    assert(df.count() == 5)
    assert(df.columns.toSeq.sorted == Seq("Energy", "f1", "f2"))
    assert(colDoubles(DataTable(df), "f1") == Seq.fill(5)(-9999.0))
  }

  test("empty numeric fields become NaN and promote int columns to double (io.nim:224-226)") {
    val data =
      """a,b,c
        |1,2.5,x
        |,3.5,y
        |3,,z
        |""".stripMargin
    val df = Csv.parseCsvString(spark, data)
    assert(df.schema("a").dataType == DoubleType) // int col + empty -> double w/ NaN
    assert(df.schema("b").dataType == DoubleType)
    assert(df.schema("c").dataType == StringType)
    val a = colDoubles(DataTable(df.orderBy("c")), "a")
    assert(a(0) == 1.0 && a(1).isNaN && a(2) == 3.0)
    val b = colDoubles(DataTable(df.orderBy("c")), "b")
    assert(b(0) == 2.5 && b(1) == 3.5 && b(2).isNaN)
  }

  test("inf/nan spellings parse like parseNumber (testParse.nim:22-228)") {
    val data =
      """v
        |1.5
        |inf
        |-inf
        |NaN
        |""".stripMargin
    val df = Csv.parseCsvString(spark, data)
    assert(df.schema("v").dataType == DoubleType)
    val vs = colDoubles(DataTable(df), "v")
    assert(vs(0) == 1.5 && vs(1).isPosInfinity && vs(2).isNegInfinity && vs(3).isNaN)
  }

  test("bool column inference (strTabToDf lattice, dataframe.nim:421-493)") {
    val data =
      """flag,n
        |true,1
        |false,2
        |TRUE,3
        |""".stripMargin
    val df = Csv.parseCsvString(spark, data)
    assert(df.schema("flag").dataType == BooleanType)
    assert(df.schema("n").dataType == LongType)
    assert(colSeq(DataTable(df.orderBy("n")), "flag") == Seq(true, false, true))
  }

  test("word digits quirk behind flag (parseStringDigit, io.nim:323-330)") {
    val data =
      """x
        |one
        |2
        |nine
        |""".stripMargin
    val off = Csv.parseCsvString(spark, data)
    assert(off.schema("x").dataType == StringType)
    val on = Csv.parseCsvString(spark, data, wordDigits = true)
    assert(on.schema("x").dataType == LongType)
    assert(colLongs(DataTable(on.orderBy("x")), "x").sorted == Seq(1L, 2L, 9L))
  }

  test("comment lines are skipped (io.nim readCsv '#' headers)") {
    val data =
      """# generated by instrument
        |a,b
        |1,x
        |2,y
        |""".stripMargin
    val df = Csv.parseCsvString(spark, data)
    assert(df.count() == 2)
    assert(df.columns.toSeq == Seq("a", "b"))
  }

  test("strTabToDf infers per-column types (dataframe.nim:421-493)") {
    val df = Csv.strTabToDf(spark, Seq(
      "i" -> Seq("1", "2", "3"),
      "f" -> Seq("1.5", "2", "-3e2"),
      "b" -> Seq("true", "false", "TRUE"),
      "s" -> Seq("a", "1", "true")))
    assert(df.schema.map(_.dataType) == Seq(LongType, DoubleType, BooleanType, StringType))
    assert(colDoubles(DataTable(df.orderBy("i")), "f") == Seq(1.5, 2.0, -300.0))
  }

  test("writeCsv roundtrip preserves types and values (io.nim:807-826)") {
    val df = graft.api.toDf(spark)(
      "i" -> Seq(1, 2, 3),
      "f" -> Seq(1.5, -2.25, 1e-6),
      "s" -> Seq("a", "b,c", "d\"e"),
      "bl" -> Seq(true, false, true))
    val path = "/tmp/graft_test_csv_roundtrip"
    Csv.writeCsvSingle(df.df, path)
    val back = DataTable(Csv.readCsv(spark, path)).arrange("i")
    assert(back.df.schema.map(_.dataType) ==
      Seq(LongType, DoubleType, StringType, BooleanType))
    assert(colLongs(back, "i") == Seq(1L, 2L, 3L))
    assert(colDoubles(back, "f") == Seq(1.5, -2.25, 1e-6))
    assert(colStrings(back, "s") == Seq("a", "b,c", "d\"e"))
    assert(colSeq(back, "bl") == Seq(true, false, true))
  }

  test("URL fetch path: fetchUrl + parseCsvString (io.nim:672-686, 752-756)") {
    // http/https dispatch in readCsv is exactly this composition; no
    // egress in the test env, so the helper is exercised via file://
    val p = java.nio.file.Files.createTempFile("graft_url_csv", ".csv")
    java.nio.file.Files.writeString(p, "x,y\n1,a\n2,b\n3,c\n")
    val content = Csv.fetchUrl("file://" + p)
    val df = DataTable(Csv.parseCsvString(spark, content)).arrange("x")
    assert(df.df.schema("x").dataType == LongType)
    assert(colLongs(df, "x") == Seq(1L, 2L, 3L))
    assert(colStrings(df, "y") == Seq("a", "b", "c"))
    // a file:// PATH (not URL-fetched) still reads distributed
    val viaSpark = DataTable(Csv.readCsv(spark, "file://" + p)).arrange("x")
    assert(colLongs(viaSpark, "x") == Seq(1L, 2L, 3L))
    java.nio.file.Files.delete(p)
  }

  test("allowLineBreaks parses quoted embedded newlines (io.nim:744-748)") {
    val p = java.nio.file.Files.createTempFile("graft_ml_csv", ".csv")
    java.nio.file.Files.writeString(p, "x,s\n1,\"line one\nline two\"\n2,plain\n")
    val df = DataTable(Csv.readCsv(spark, p.toString, allowLineBreaks = true)).arrange("x")
    assert(colLongs(df, "x") == Seq(1L, 2L))
    assert(colStrings(df, "s") == Seq("line one\nline two", "plain"))
    java.nio.file.Files.delete(p)
  }

  test("maxLines caps data rows, not counting header or skipLines (io.nim:723-724)") {
    val data = "junk\nx\n10\n20\n30\n40\n"
    val df = Csv.parseCsvString(spark, data, skipLines = 1, maxLines = 2)
    assert(colLongs(DataTable(df).arrange("x"), "x") == Seq(10L, 20L))
    // same through the file path
    val p = java.nio.file.Files.createTempFile("graft_max_csv", ".csv")
    java.nio.file.Files.writeString(p, data)
    val df2 = Csv.readCsv(spark, p.toString, skipLines = 1, maxLines = 2)
    assert(colLongs(DataTable(df2).arrange("x"), "x") == Seq(10L, 20L))
    java.nio.file.Files.delete(p)
  }

  test("maxLines counts DATA lines: blanks and comments inside the window are free") {
    val data = "x\n# a note\n10\n\n20\n30\n"
    val df = Csv.parseCsvString(spark, data, maxLines = 2)
    assert(colLongs(DataTable(df).arrange("x"), "x") == Seq(10L, 20L))
    val p = java.nio.file.Files.createTempFile("graft_maxd_csv", ".csv")
    java.nio.file.Files.writeString(p, data)
    val df2 = Csv.readCsv(spark, p.toString, maxLines = 2)
    assert(colLongs(DataTable(df2).arrange("x"), "x") == Seq(10L, 20L))
    java.nio.file.Files.delete(p)
  }

  test("headerSymbol mode: names from the '#'-line, preamble skipped (io.nim:714-718)") {
    val data = "# x y z\n# units: m s kg\n1 2 3\n4 5 6\n"
    val df = Csv.parseCsvString(spark, data, sep = " ", headerSymbol = "#")
    assert(df.columns.toSeq == Seq("x", "y", "z"))
    assert(colLongs(DataTable(df).arrange("x"), "x") == Seq(1L, 4L))
    assert(colLongs(DataTable(df).arrange("x"), "z") == Seq(3L, 6L))
    // file path variant, comma-separated
    val p = java.nio.file.Files.createTempFile("graft_hsym_csv", ".csv")
    java.nio.file.Files.writeString(p, "#a,b\n#note\n10,20\n30,40\n")
    val df2 = Csv.readCsv(spark, p.toString, headerSymbol = "#")
    assert(df2.columns.toSeq == Seq("a", "b"))
    assert(colLongs(DataTable(df2).arrange("a"), "b") == Seq(20L, 40L))
    java.nio.file.Files.delete(p)
  }

  test("headerSymbol skips only the contiguous preamble; comment stays independent") {
    // '%' is the header/preamble symbol; a mid-file '%'-line is DATA
    val data = "%x,y\n%preamble note\nab,1\n%mid,2\ncd,3\n"
    val df = Csv.parseCsvString(spark, data, headerSymbol = "%", comment = "")
    assert(df.columns.toSeq == Seq("x", "y"))
    assert(colLongs(DataTable(df).arrange("y"), "y") == Seq(1L, 2L, 3L))
    // the user's comment char ('#' default) keeps working mid-file,
    // un-clobbered by the symbol
    val df2 = Csv.parseCsvString(spark, "%x\n%pre\n1\n# a comment\n2\n",
      headerSymbol = "%")
    assert(colLongs(DataTable(df2).arrange("x"), "x") == Seq(1L, 2L))
    // file-path variant: same positional semantics
    val p = java.nio.file.Files.createTempFile("graft_hsym2_csv", ".csv")
    java.nio.file.Files.writeString(p, data)
    val df3 = Csv.readCsv(spark, p.toString, headerSymbol = "%", comment = "")
    assert(colLongs(DataTable(df3).arrange("y"), "y") == Seq(1L, 2L, 3L))
    java.nio.file.Files.delete(p)
    // header + preamble only: empty table, named columns
    val df4 = Csv.parseCsvString(spark, "%a,b\n%only preamble\n", headerSymbol = "%")
    assert(df4.columns.toSeq == Seq("a", "b") && df4.count() == 0L)
  }

  test("toSkip removes optional characters before parsing (io.nim:709-713)") {
    // the reference's doc example: comma-separated with stray spaces
    val df = Csv.parseCsvString(spark, "a,b\n5, 10\n8, 3\n", toSkip = Set(' '))
    assert(df.schema.map(_.dataType) == Seq(LongType, LongType))
    assert(colLongs(DataTable(df).arrange("a"), "b") == Seq(10L, 3L))
  }

  test("semicolon-separated unicode CSV (Studentenstatistik; testDf.nim:831-857 Arrange fixture)") {
    val df = Csv.readCsv(spark, "/root/reference/data/Studentenstatistik_BB_Datensatz.csv",
      sep = ";")
    assert(df.count() > 0)
    val cats = Seq("Subject_group", "Type_of_university", "Gender")
    assert(cats.forall(df.columns.contains))
    // arrange by the three categoricals must equal driver-side tuple sort
    val sorted = DataTable(df).arrange(cats: _*).df
      .select(cats.map(col): _*).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(sorted == sorted.sorted)
  }

  test("unnamed first column + scientific notation (03-sample_hugo.csv; io.nim:143-144)") {
    val df = Csv.readCsv(spark, "/root/reference/data/03-sample_hugo.csv")
    assert(df.count() > 0)
    assert(df.columns.head.startsWith("Unnamed"))
    // at least one double column parsed from scientific notation
    assert(df.schema.fields.exists(_.dataType == org.apache.spark.sql.types.DoubleType))
  }

  test("sparse long-format CSV (fishdata_sparse; gather/spread fixture)") {
    val df = DataTable(Csv.readCsv(spark, "/root/reference/data/fishdata_sparse.csv"))
    val nCells = df.df.count()
    assert(nCells > 0)
    assert(df.df.schema("fish").dataType == LongType)
    // spread stations to wide then gather back: non-null cells preserved
    val wideCols = colStrings(DataTable(df.df.select("station").distinct()), "station")
    val wide = df.spread("station", "seen", values = wideCols)
    val long = wide.gather(wideCols, key = "station", value = "seen",
      dropNulls = true)
    assert(long.df.count() == nCells)
  }

  test("join regression fixtures: common-column modes (testDf.nim:2258-2290)") {
    val dfChip = DataTable(Csv.readCsv(spark, "/root/reference/data/df_chip_join_regression.csv"))
    val dfAll = DataTable(Csv.readCsv(spark, "/root/reference/data/df_all_join_regression.csv"))
    val expEvNum = Seq(0L, 1L, 2L, 3L, 5L, 6L, 7L, 8L, 9L, 10L, 11L)
    // ccRename: both Idx columns kept with suffixes
    val ren = dfChip.innerJoin(dfAll, by = Seq("eventNumber"), merge = graft.api.CcRename)
      .arrange("eventNumber")
    assert(!ren.columns.contains("Idx"))
    assert(ren.columns.contains("Idx_left") && ren.columns.contains("Idx_right"))
    assert(colLongs(ren, "eventNumber").take(11) == expEvNum)
    // ccLeft: left's Idx survives unsuffixed
    val left = dfChip.innerJoin(dfAll, by = Seq("eventNumber"), merge = graft.api.CcLeft)
      .arrange("eventNumber")
    assert(left.columns.contains("Idx"))
    assert(!left.columns.exists(_.startsWith("Idx_")))
    assert(colLongs(left, "eventNumber").take(11) == expEvNum)
    // ccDrop: no Idx at all
    val drop = dfChip.innerJoin(dfAll, by = Seq("eventNumber"), merge = graft.api.CcDrop)
    assert(!drop.columns.exists(_.contains("Idx")))
  }

  // ---- hermetic twins of the reference-fixture tests above: small
  // hand-written files under src/test/resources/csv, golden values
  // cross-checked against DuckDB 1.0.0 read_csv on the same files ----

  private def fixture(name: String): String =
    getClass.getResource(s"/csv/$name").getPath

  test("hermetic: semicolon separator with unicode headers") {
    val df = Csv.readCsv(spark, fixture("studierende_semicolon.csv"), sep = ";")
    assert(df.columns.toSeq == Seq("Fächergruppe", "Hochschulart", "Geschlecht",
      "Jahr", "Studierende", "Studienanfänger_Anteil"))
    assert(df.schema.map(_.dataType) ==
      Seq(StringType, StringType, StringType, LongType, LongType, DoubleType))
    assert(df.count() == 12L)
    val sums = DataTable(df).groupBy("Fächergruppe")
      .summarize("s" -> sum(col("Studierende")))
      .df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums == Map("Geisteswissenschaften" -> 1930L,
      "Ingenieurwissenschaften" -> 2995L, "Kunst, Kunstwissenschaft" -> 450L,
      "Mathematik, Naturwissenschaften" -> 1595L,
      "Rechts-, Wirtschafts- und Sozialwissenschaften" -> 2715L))
    // arrange by the three categoricals: DuckDB's ORDER BY 1, 2, 3
    val cats = Seq("Fächergruppe", "Hochschulart", "Geschlecht")
    val sorted = DataTable(df).arrange(cats: _*).df
      .select(cats.map(col): _*).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(sorted.take(3) == Seq(
      ("Geisteswissenschaften", "Universität", "männlich"),
      ("Geisteswissenschaften", "Universität", "weiblich"),
      ("Ingenieurwissenschaften", "Fachhochschule", "männlich")))
    assert(sorted.last == ("Rechts-, Wirtschafts- und Sozialwissenschaften",
      "Universität", "männlich"))
    assert(sorted == sorted.sorted)
  }

  test("hermetic: unnamed first column with scientific notation") {
    val df = Csv.readCsv(spark, fixture("unnamed_scientific.csv"))
    assert(df.columns.toSeq == Seq("Unnamed0", "time", "E_kin", "dose"))
    assert(df.schema.map(_.dataType) ==
      Seq(LongType, DoubleType, DoubleType, DoubleType))
    val r = df.agg(sum("Unnamed0"), sum("E_kin"), min("dose"), max("E_kin"))
      .head()
    assert(r.getLong(0) == 10L)
    assert(r.getDouble(1) == 50625.0 && r.getDouble(2) == -32.0 &&
      r.getDouble(3) == 25000.0)
    val sums = df.agg(sum("time"), sum("dose")).head()
    assertAllClose(Seq(sums.getDouble(0), sums.getDouble(1)), Seq(0.0225, -30.686), 1e-12)
  }

  test("hermetic: sparse long-format CSV spreads and gathers back") {
    val df = DataTable(Csv.readCsv(spark, fixture("fish_sparse.csv")))
    assert(df.df.schema.map(_.dataType) == Seq(LongType, StringType, LongType))
    assert(df.df.count() == 16L)
    val stations = Seq("Base_TD", "I80_1", "Lisbon", "Release", "Rstr")
    val wide = df.spread("station", "seen", values = stations)
    assert(wide.df.count() == 6L)
    // non-null cells per station, as DuckDB's PIVOT ... USING first(seen)
    val seen = stations.map(s => wide.df.filter(col(s).isNotNull).count())
    assert(seen == Seq(2L, 3L, 3L, 6L, 2L), s"per-station cells: $seen")
    val long = wide.gather(stations, key = "station", value = "seen",
      dropNulls = true)
    assert(long.df.count() == 16L)
  }

  test("hermetic: common-column join modes") {
    val dfChip = DataTable(Csv.readCsv(spark, fixture("chip_join.csv")))
    val dfAll = DataTable(Csv.readCsv(spark, fixture("all_join.csv")))
    val expEvNum = Seq(0L, 1L, 2L, 3L, 5L, 6L, 7L, 8L, 9L, 10L, 11L)
    val ren = dfChip.innerJoin(dfAll, by = Seq("eventNumber"), merge = graft.api.CcRename)
      .arrange("eventNumber")
    assert(!ren.columns.contains("Idx"))
    assert(ren.columns.contains("Idx_left") && ren.columns.contains("Idx_right"))
    assert(colLongs(ren, "eventNumber") == expEvNum)
    assert(colLongs(ren, "Idx_left").sum == 55L && colLongs(ren, "Idx_right").sum == 62L)
    assert(colLongs(ren, "hits").sum == 520L && colDoubles(ren, "energy").sum == 21.75)
    val left = dfChip.innerJoin(dfAll, by = Seq("eventNumber"), merge = graft.api.CcLeft)
      .arrange("eventNumber")
    assert(left.columns.contains("Idx"))
    assert(!left.columns.exists(_.startsWith("Idx_")))
    assert(colLongs(left, "Idx").sum == 55L)
    assert(colLongs(left, "eventNumber") == expEvNum)
    val drop = dfChip.innerJoin(dfAll, by = Seq("eventNumber"), merge = graft.api.CcDrop)
    assert(!drop.columns.exists(_.contains("Idx")))
    assert(drop.df.count() == 11L)
  }

  test("mpg end-to-end slice (SURVEY §7.3; testDf.nim:1981 dplyr comparison)") {
    val mpg = DataTable(Csv.readCsv(spark, mpgPath))
    val res = mpg
      .mutate("ratio" -> (col("cty").cast("double") / col("hwy")))
      .filter(col("cyl") > 4)
      .groupBy("class")
      .summarize("mHwy" -> avg(col("hwy")))
      .arrange("class")
    val classes = colStrings(res, "class")
    assert(classes == classes.sorted)
    assert(res.df.count() > 0)
    // spot value: mean hwy of 2seater (all cyl 8) = 24.8
    val twoSeater = colDoubles(res.filter(col("class") === "2seater"), "mHwy")
    assertAllClose(twoSeater, Seq(24.8), 1e-6)
  }
}
