package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{CsvImport, CsvImportConfig, CsvExport, CsvExportConfig}
import java.nio.file.{Files, Paths}
import TestSpark.{spark, tmpDir}

/** csvimport corner cases — semantics from the reference's
  * a_test_csvimport_corner_cases.py (quote modes, separators, bad lines,
  * comments, skip_lines, lineno) exercised against our line-parallel
  * implementation.
  */
class CsvImportSpec extends AnyFunSuite {

  private def write(name: String, content: String): String = {
    val p = Paths.get(tmpDir(s"csv_$name"), name + ".csv")
    Files.writeString(p, content)
    p.toString
  }

  private def rows(path: String, cfg: CsvImportConfig): Seq[Seq[String]] = {
    val res = CsvImport(spark, path, cfg)
    res.data.collect().map(_.toSeq.map(v => Option(v).map(_.toString).orNull)).toSeq
  }

  test("basic header + fields") {
    val p = write("basic", "a,b,c\n1,2,3\n4,5,6\n")
    val got = rows(p, CsvImportConfig()).sortBy(_.head)
    assert(got == Seq(Seq("1", "2", "3"), Seq("4", "5", "6")))
  }

  test("custom separator and no-separator mode") {
    val p = write("sep", "a;b\n1;2\n")
    assert(rows(p, CsvImportConfig(separator = ";")).head == Seq("1", "2"))
    val p2 = write("nosep", "line\nwhole line, commas and all\n")
    assert(rows(p2, CsvImportConfig(separator = "")).head ==
      Seq("whole line, commas and all"))
  }

  test("quote modes: doubled-quote escape, both-quotes, off") {
    val p = write("quotes", "a,b\n\"x,y\",\"he said \"\"hi\"\"\"\n")
    assert(rows(p, CsvImportConfig()).head == Seq("x,y", "he said \"hi\""))
    // quotes="both": single OR double quotes open a field
    val p2 = write("both", "a,b\n'x,y',\"z\"\n")
    assert(rows(p2, CsvImportConfig(quotes = "both")).head == Seq("x,y", "z"))
    // quotes off: quote chars are plain data
    val p3 = write("qoff", "a,b\n\"x\",y\n")
    assert(rows(p3, CsvImportConfig(quotes = "")).head == Seq("\"x\"", "y"))
  }

  test("unquoted quote chars inside fields are data") {
    val p = write("mid", "a,b\nx\"y,z\n")
    assert(rows(p, CsvImportConfig()).head == Seq("x\"y", "z"))
  }

  test("bad lines go to the bad dataset with their lineno") {
    val p = write("bad", "a,b\n1,2\nonly-one-field\n3,4,5\n6,7\n")
    val res = CsvImport(spark, p, CsvImportConfig(allowBad = true))
    assert(res.data.count() == 2)
    val bad = res.bad.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(bad == Seq((2L, "only-one-field"), (3L, "3,4,5")))
  }

  test("bad lines throw when allowBad=false") {
    val p = write("badthrow", "a,b\n1\n")
    intercept[IllegalArgumentException] {
      CsvImport(spark, p, CsvImportConfig())
    }
  }

  test("leading comment/empty lines never become the header") {
    val p = write("hdr_comment", "# generated\n\na,b\n1,2\n")
    val r = CsvImport(spark, p, CsvImportConfig(comment = "#", skipEmptyLines = true))
    assert(r.data.columns.toSeq == Seq("a", "b"))
    assert(r.data.collect().map(_.toSeq).toSeq == Seq(Seq("1", "2")))
    assert(r.skipped.count() == 2, "comment and empty line land in skipped")
  }

  test("comment, skip_lines and skipped dataset") {
    val p = write("skip", "garbage line\na,b\n#note\n1,2\n")
    val res = CsvImport(spark, p,
      CsvImportConfig(skipLines = 1, comment = "#"))
    assert(res.data.collect().map(_.toSeq).toSeq == Seq(Seq("1", "2")))
    val skipped = res.skipped.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(skipped == Seq((0L, "garbage line"), (2L, "#note")))
  }

  test("rename, discard and lineno label") {
    val p = write("ren", "a,b,c\n1,2,3\n")
    val res = CsvImport(spark, p, CsvImportConfig(
      rename = Map("a" -> "x"), discard = Set("b"),
      linenoLabel = Some("lineno")))
    assert(res.data.columns.toSeq == Seq("lineno", "x", "c"))
    assert(res.data.collect().head.toSeq == Seq(1L, "1", "3"))
  }

  test("allow_extra_empty tolerates trailing empty fields") {
    val p = write("extra", "a,b\n1,2,,\n")
    val res = CsvImport(spark, p, CsvImportConfig(allowExtraEmpty = true))
    assert(res.data.collect().head.toSeq == Seq("1", "2"))
  }

  test("export/import round-trip preserves values needing quotes") {
    val s = spark
    import s.implicits._
    val df = Seq(("a,b", "line\"quote", "plain"), ("", "x", "y"))
      .toDF("c1", "c2", "c3")
    val out = tmpDir("csv_rt") + "/rt.csv"
    CsvExport(df, out, CsvExportConfig(quoteMode = "lazy"))
    val back = rows(out, CsvImportConfig())
    assert(back.toSet == Set(Seq("a,b", "line\"quote", "plain"), Seq("", "x", "y")))
  }

  test("zipped export column-concats aligned datasets, later wins on dups") {
    val s = spark
    import s.implicits._
    val a = Seq((0L, "x0", "old0"), (1L, "x1", "old1"), (2L, "x2", "old2"))
      .toDF("rid", "xa", "dup")
    val b = Seq((0L, "y0", "new0"), (1L, "y1", "new1"), (2L, "y2", "new2"))
      .toDF("rid", "yb", "dup")
    val out = tmpDir("csv_zipped") + "/zipped.csv"
    CsvExport.zipped(Seq(a, b), "rid", out)
    val lines = Files.readAllLines(Paths.get(out))
    assert(lines.get(0) == "xa,yb,dup", "alignment col dropped, later dataset wins dup")
    assert(lines.get(1) == "x0,y0,new0" && lines.get(3) == "x2,y2,new2",
      "rows ordered by the alignment column")
    intercept[IllegalArgumentException] { CsvExport.zipped(Seq(a), "rid", out) }
  }

  test("zipped export widens mixed integral key widths; rejects other mixes") {
    val s = spark
    import s.implicits._
    // int rowids on one side, bigint on the other — both legal withRowId
    // shapes; the alignment guard widens to bigint instead of failing
    val a = Seq((0, "x0"), (1, "x1")).toDF("rid", "xa")
    val b = Seq((0L, "y0"), (1L, "y1")).toDF("rid", "yb")
    val out = tmpDir("csv_zip_mixed") + "/zipped.csv"
    CsvExport.zipped(Seq(a, b), "rid", out)
    val lines = Files.readAllLines(Paths.get(out))
    assert(lines.get(0) == "xa,yb" && lines.get(1) == "x0,y0")
    // string vs int stays a fail-fast caller bug
    val c = Seq(("0", "z0"), ("1", "z1")).toDF("rid", "zc")
    val ex = intercept[IllegalArgumentException] {
      CsvExport.zipped(Seq(a, c), "rid", out)
    }
    assert(ex.getMessage.contains("one type across inputs"))
  }

  test("gzip single-file export round-trips through import") {
    val s = spark
    import s.implicits._
    val df = (1 to 100).map(i => (i.toString, s"val$i")).toDF("a", "b")
    val out = tmpDir("csv_gz") + "/data.csv.gz"
    CsvExport(df, out, CsvExportConfig(compression = "gzip"))
    // multi-member gzip must decompress transparently via textFile
    val back = CsvImport(spark, out, CsvImportConfig())
    assert(back.data.count() == 100)
    assert(back.data.filter(org.apache.spark.sql.functions.col("a") === "42")
      .collect().head.getString(1) == "val42")
  }

  test("compression other than none or gzip fails before anything is written") {
    val s = spark
    import s.implicits._
    val df = Seq(("1", "2")).toDF("a", "b")
    val dir = tmpDir("csv_bad_codec")
    Seq(CsvExportConfig(), CsvExportConfig(sliced = true),
        CsvExportConfig(encoding = "iso-8859-1")).foreach { cfg =>
      val out = s"$dir/out.csv"
      val ex = intercept[IllegalArgumentException] {
        CsvExport(df, out, cfg.copy(compression = "bzip2"))
      }
      assert(ex.getMessage.contains("bzip2"))
      assert(!Files.exists(Paths.get(out)) && !Files.exists(Paths.get(s"$out.parts")))
    }
  }

  test("lineSeparator reaches data rows") {
    val s = spark
    import s.implicits._
    val df = Seq(("1", "2")).toDF("a", "b")
    val out = tmpDir("csv_sep") + "/sep.csv"
    CsvExport(df, out, CsvExportConfig(lineSeparator = "\r\n"))
    val content = Files.readString(Paths.get(out))
    assert(content == "a,b\r\n1,2\r\n")
  }

  test("encoding=bytes: every byte 0x01-0xFF round-trips unmangled") {
    // the round-3 gap: sc.textFile UTF-8-decodes with U+FFFD replacement,
    // silently corrupting latin-1 (or any non-UTF-8) input. The byte path
    // must preserve ALL bytes except the record separator \n (reference
    // csvimport.py:173-300 never decodes).
    // \n and \r are record separators at the byte level (Hadoop line
    // reader); ',' is the field separator; '"' would open a quoted field
    val allBytes = (1 to 255)
      .filter(b => b != '\n' && b != '\r' && b != ',' && b != '"')
      .map(_.toByte).toArray
    val field = new String(allBytes.map(b => (b & 0xFF).toChar))
    val p = Paths.get(tmpDir("csv_bytes"), "bytes.csv")
    val content = "k,v\n".getBytes("ISO-8859-1") ++
      "1,".getBytes("ISO-8859-1") ++ allBytes ++ "\n".getBytes("ISO-8859-1")
    Files.write(p, content)
    val got = rows(p.toString, CsvImportConfig(encoding = "bytes")).head
    assert(got(0) == "1")
    assert(got(1) == field, "every non-separator byte value preserved bijectively")
  }

  test("encoding strict: undecodable lines become bad, never corrupted") {
    // 0xC4 alone is invalid UTF-8; with encoding=utf-8 strict the line is
    // bad (latin-1-rendered bytes in `bad.data`), not silently U+FFFD'd
    val p = Paths.get(tmpDir("csv_enc"), "mixed.csv")
    Files.write(p, "k,v\n1,ok\n".getBytes("ISO-8859-1") ++
      "2,badÄbyte\n".getBytes("ISO-8859-1"))
    val res = CsvImport(spark, p.toString,
      CsvImportConfig(encoding = "utf-8", encodingErrors = "strict", allowBad = true))
    assert(res.data.collect().map(_.getString(0)).toSeq == Seq("1"))
    val bad = res.bad.collect()
    assert(bad.length == 1 && bad(0).getString(1) == "2,badÄbyte",
      "raw bytes survive into bad (latin-1 rendering)")
    // replace mode keeps the line with U+FFFD instead
    val rep = CsvImport(spark, p.toString,
      CsvImportConfig(encoding = "utf-8", encodingErrors = "replace"))
    assert(rep.data.count() == 2)
    // unknown charset / errors mode fail fast driver-side
    intercept[Exception](CsvImport(spark, p.toString, CsvImportConfig(encoding = "no-such")))
    intercept[Exception](CsvImport(spark, p.toString, CsvImportConfig(encodingErrors = "maybe")))
  }

  test("explicit charset decode (latin-1 file read as latin-1 text)") {
    val p = Paths.get(tmpDir("csv_l1spec"), "l1.csv")
    Files.write(p, "k,v\n1,café\n".getBytes("ISO-8859-1"))
    val got = rows(p.toString, CsvImportConfig(encoding = "iso-8859-1")).head
    assert(got == Seq("1", "café"))
  }

  test("undecodable header is a config error even with allowBad=true") {
    // with auto labels, a header that fails strict decode must NOT be
    // routed to bad (promoting the first data row to label row mislabels
    // every column) — it errors, pointing at the encoding
    val p = Paths.get(tmpDir("csv_badhdr"), "badhdr.csv")
    Files.write(p, "k,vÄl\n".getBytes("ISO-8859-1") ++
      "1,ok\n".getBytes("ISO-8859-1"))
    val e = intercept[Exception] {
      CsvImport(spark, p.toString,
        CsvImportConfig(encoding = "utf-8", encodingErrors = "strict",
          allowBad = true)).data.collect()
    }
    assert(e.getMessage.contains("header"), e.getMessage)
    // explicit labels sidestep header detection: the bad line goes to bad
    val res = CsvImport(spark, p.toString,
      CsvImportConfig(encoding = "utf-8", encodingErrors = "strict",
        allowBad = true, labels = Seq("k", "v"), skipLines = 1))
    assert(res.data.collect().map(_.getString(0)).toSeq == Seq("1"))
  }

  test("non-ASCII-superset charsets and non-ASCII custom newlines are rejected") {
    val p = write("enc_guard", "a,b\n1,2\n")
    // utf-16: byte-level \n splitting would slice code units mid-character
    intercept[Exception] {
      CsvImport(spark, p, CsvImportConfig(encoding = "utf-16"))
    }
    // a 0x80+ delimiter char would be UTF-8-encoded by Hadoop and never
    // match latin-1 file bytes
    intercept[Exception] {
      CsvImport(spark, p, CsvImportConfig(encoding = "bytes", newline = "ä"))
    }
    // ASCII custom newline with a non-UTF-8 charset stays fine
    val p2 = Paths.get(tmpDir("csv_nl0"), "nl0.csv")
    Files.write(p2, "k,v\u00001,café\u0000".getBytes("ISO-8859-1"))
    val got = rows(p2.toString, CsvImportConfig(encoding = "iso-8859-1",
      newline = "\u0000")).head
    assert(got == Seq("1", "café"))
  }

  test("export encoding=bytes: byte-preserving import writes back byte-identical") {
    // bytes in → bytes out must be the identity on content (reference
    // a_csvexport.py never decodes). Every non-separator byte value goes
    // through import(bytes) → export(bytes) and the file bytes match.
    val allBytes = (1 to 255)
      .filter(b => b != '\n' && b != '\r' && b != ',' && b != '"')
      .map(_.toByte).toArray
    val p = Paths.get(tmpDir("csv_bytes_rt"), "orig.csv")
    val content = "k,v\n".getBytes("ISO-8859-1") ++
      "1,".getBytes("ISO-8859-1") ++ allBytes ++ "\n".getBytes("ISO-8859-1")
    Files.write(p, content)
    val imported = CsvImport(spark, p.toString, CsvImportConfig(encoding = "bytes"))
    val out = Paths.get(tmpDir("csv_bytes_rt"), "back.csv").toString
    CsvExport(imported.data.orderBy("k"), out,
      CsvExportConfig(encoding = "bytes"))
    assert(Files.readAllBytes(Paths.get(out)).toSeq == content.toSeq,
      "export must reproduce the original file byte for byte")
  }

  test("export with a charset: latin-1 text lands as latin-1 bytes, strict on misfit") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "Ärger"), (2L, "groß")).toDF("k", "v")
    val out = Paths.get(tmpDir("csv_l1_export"), "l1.csv").toString
    CsvExport(df.orderBy("k"), out, CsvExportConfig(encoding = "iso-8859-1"))
    val want = "k,v\n1,Ärger\n2,groß\n".getBytes("ISO-8859-1")
    assert(Files.readAllBytes(Paths.get(out)).toSeq == want.toSeq)
    // unencodable text (€ is not in latin-1) fails loudly, never mojibake
    val bad = Seq((1L, "€")).toDF("k", "v")
    intercept[org.apache.spark.SparkException] {
      CsvExport(bad, Paths.get(tmpDir("csv_l1_export"), "bad.csv").toString,
        CsvExportConfig(encoding = "iso-8859-1"))
    }
    // unknown charset fails fast driver-side
    intercept[Exception] {
      CsvExport(df, Paths.get(tmpDir("csv_l1_export"), "x.csv").toString,
        CsvExportConfig(encoding = "no-such"))
    }
    // non-ASCII-superset charset (utf-16 would emit a BOM per line) fails
    // fast driver-side, mirroring the import guard — never a corrupt file
    intercept[IllegalArgumentException] {
      CsvExport(df, Paths.get(tmpDir("csv_l1_export"), "u16.csv").toString,
        CsvExportConfig(encoding = "utf-16"))
    }
  }
}
