package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Native `.xlsx` read/write with ZERO dependencies beyond the JDK —
  * the reference's front door (`pd.read_excel(EXCEL_FILE)`
  * `/root/reference/test.py:113`, state read `test.py:101`, state write
  * `test.py:197-201`) as an engine source/sink. An `.xlsx` is a ZIP of
  * XML parts (`xl/workbook.xml`, `xl/worksheets/sheetN.xml`,
  * `xl/sharedStrings.xml`); `java.util.zip` + StAX (`javax.xml.stream`)
  * cover both directions.
  *
  * Type policy — ALL columns read as strings (`pd.read_excel(dtype=str)`
  * / DuckDB `all_varchar=true`): Excel carries no schema, and the
  * engine's hash-match correctness bar tolerates no type inference
  * (EXCEL_INGESTION.md). Numeric cells surface as their raw stored
  * lexeme (date serials included); callers cast explicitly downstream,
  * exactly like the documented conversion recipe.
  *
  * Scale shape: one `.xlsx` is a ZIP — NOT splittable — so the unit of
  * parallelism is the FILE: `read` rides the `binaryFile` source and
  * parses each workbook on an executor, so a directory of thousands of
  * Forms exports (the realistic big-ingest case) fans out across the
  * cluster; a single workbook is one task, like any other non-splittable
  * container. The writer is driver-side and BOUNDED BY DESIGN: Excel
  * itself caps a sheet at 1,048,576 rows, so an xlsx artifact is a
  * report, not a dataset — `write` enforces the cap rather than
  * pretending to stream.
  */
object Xlsx {

  // ---------------------------------------------------------------- read

  /** The sheet every read takes (1-based workbook order): the first, as
    * the reference's `pd.read_excel` reads by default. */
  val Sheet = 1

  /** Distributed read of one file or a glob of files: first row of each
    * workbook is the header; every data cell is a string, missing/blank
    * cells are null. The sheet read is [[Sheet]], the workbook's first.
    *
    * Header policy: headers must agree EXACTLY across files (the safe
    * mode — a silent column drift in a Forms export corrupts every
    * downstream positional read).
    *
    * The returned frame is a LAZY plan; a consumer that acts on it more
    * than once re-parses every workbook per action (zip + StAX, CPU-
    * bound) and should `.cache()` it like any other expensive source.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    read(spark, path, allowMissingColumns = false)

  /** [[read]] with the header policy explicit: `allowMissingColumns` is
    * the `unionByName(allowMissingColumns)`-style mode for real-world
    * multi-week exports whose template gained or lost columns between
    * weeks (the reference's v1→v2 drift hazard,
    * `/root/reference/test.py:115-124`): the result schema is the
    * UNION of all headers (first-seen order over path-sorted files, so
    * the schema is deterministic whatever order the listing returns),
    * each file's cells are matched to it BY NAME via that file's own
    * header, and columns a file lacks read as null for its rows —
    * reordered columns are therefore also handled.
    */
  private[graft] def read(spark: SparkSession, path: String,
      allowMissingColumns: Boolean): DataFrame = {
    // Header validation is its own HEADER-ONLY job: each workbook's XML
    // parse stops after row 0 (maxRowsPerFile = 1), so the driver
    // collects one slim row per workbook and NOTHING is cached — the
    // earlier design cached the full raw parse plus a materialized
    // projection, i.e. two in-memory string copies of the corpus, just
    // to check headers.
    val headers = readRaw(spark, path, maxRowsPerFile = 1)
      .filter(col("row_idx") === 0)
      .select(col("path"), col("cells")).collect()
    require(headers.nonEmpty, s"Xlsx.read: no rows in any workbook under $path")
    val byPath: Seq[(String, Seq[String])] =
      headers.map(r => r.getString(0) -> r.getSeq[String](1)).sortBy(_._1).toSeq
    val header: Seq[String] =
      if (allowMissingColumns) {
        // union-by-name is ill-defined for a workbook whose header
        // repeats a name: indexOf would silently read only the FIRST
        // occurrence's cells and the union would collapse the columns
        // — refuse loudly instead of dropping data (strict mode keeps
        // duplicates positionally, so it remains the escape hatch)
        byPath.foreach { case (p, hh) =>
          val dups = hh.groupBy(identity).collect { case (c, o) if o.size > 1 => c }
          require(dups.isEmpty,
            s"Xlsx.read(allowMissingColumns): $p repeats header name(s) ${dups.mkString(", ")} " +
              "— by-name union cannot address duplicate columns; read it in strict mode")
        }
        val seen = scala.collection.mutable.LinkedHashSet.empty[String]
        byPath.foreach(_._2.foreach(seen += _))
        seen.toSeq
      } else {
        val h = byPath.head._2
        byPath.foreach { case (p, hh) =>
          require(hh == h,
            s"Xlsx.read: header mismatch across workbooks: $p has $hh vs $h")
        }
        h
      }
    // SNAPSHOT semantics: the body plan is pinned to the file set whose
    // headers were just validated — the lazy plan re-lists the directory
    // at action time, and a workbook landing between validation and the
    // action would otherwise be consumed positionally against a header
    // it never agreed to. (Files REWRITTEN in place are out of scope —
    // the same single-writer window every sink in this engine assumes.)
    val validated = byPath.map(_._1).toSet
    val body = readRaw(spark, path)
      .filter(col("row_idx") > 0 && col("path").isInCollection(validated))
    if (allowMissingColumns) {
      // per-file by-name projection: a tiny broadcast mapping frame
      // (one row per workbook: union-position → that file's 1-based
      // cell index, 0 = column absent) joined on path keeps the cell
      // lookup inside codegen — no per-file plan branches, no UDF
      val posSchema = StructType(Seq(
        StructField("path", StringType, nullable = false),
        StructField("__pos", ArrayType(IntegerType, containsNull = false))))
      val posRows = byPath.map { case (p, hh) =>
        Row(p, header.map(c => hh.indexOf(c) + 1)) }
      val mapping = spark.createDataFrame(
        spark.sparkContext.parallelize(posRows, 1), posSchema)
      body.join(broadcast(mapping), Seq("path"))
        .select(header.zipWithIndex.map { case (name, i) =>
          when(element_at(col("__pos"), i + 1) > 0,
            try_element_at(col("cells"), element_at(col("__pos"), i + 1))).as(name)
        }: _*)
    } else {
      body.select(header.zipWithIndex.map { case (name, i) =>
        // try_: rows store trailing empty cells sparsely, so a short
        // cells array means null, not an error
        try_element_at(col("cells"), lit(i + 1)).as(name)
      }: _*)
    }
  }

  /** Raw per-row read of [[Sheet]]: (path, row_idx, cells
    * array<string>) — row 0 is the sheet's first row, cells
    * padded/ragged exactly as stored.
    * `maxRowsPerFile` truncates each workbook's PARSE (not just the
    * output) after that many rows — the header-validation path reads
    * row 0 without materializing any sheet body.
    */
  def readRaw(spark: SparkSession, path: String,
      maxRowsPerFile: Int = Int.MaxValue): DataFrame = {
    val bin = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xlsx")
      .load(path)
      .select(col("path"), col("content"))
    val schema = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("row_idx", LongType, nullable = false),
      StructField("cells", ArrayType(StringType, containsNull = true))))
    val rdd = bin.rdd.flatMap { r =>
      val p = r.getString(0)
      val rows =
        try parseWorkbook(r.getAs[Array[Byte]](1), Sheet, maxRowsPerFile)
        catch { case e: Exception =>
          throw new IllegalArgumentException(s"Xlsx: failed to parse $p: ${e.getMessage}", e)
        }
      rows.iterator.zipWithIndex.map { case (cells, i) => Row(p, i.toLong, cells) }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Parse one workbook's `sheet` (1-based) into rows of cells. */
  private[graft] def parseWorkbook(bytes: Array[Byte], sheet: Int,
      maxRows: Int = Int.MaxValue): Vector[Seq[String]] = {
    val parts = readZip(bytes)
    val shared = parts.get("xl/sharedStrings.xml").map(parseSharedStrings)
      .getOrElse(Vector.empty)
    val sheetPart = resolveSheetPart(parts, sheet)
    parseSheet(
      parts.getOrElse(sheetPart,
        throw new IllegalArgumentException(s"missing sheet part $sheetPart")),
      shared, maxRows)
  }

  private def readZip(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = Map.newBuilder[String, Array[Byte]]
    var e: ZipEntry = zin.getNextEntry
    while (e != null) {
      if (!e.isDirectory) out += (e.getName -> zin.readAllBytes())
      zin.closeEntry()
      e = zin.getNextEntry
    }
    out.result()
  }

  /** XXE-hardened StAX reader: xlsx parts are machine-written XML; no
    * DTDs, no external entities, ever.
    */
  private def xmlReader(bytes: Array[Byte]): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(new ByteArrayInputStream(bytes), "UTF-8")
  }

  /** workbook.xml lists sheets in order with r:id; workbook.xml.rels maps
    * r:id → part path. Falls back to the conventional
    * `xl/worksheets/sheetN.xml` when either part is absent.
    */
  private def resolveSheetPart(parts: Map[String, Array[Byte]], sheet: Int): String = {
    val conventional = s"xl/worksheets/sheet$sheet.xml"
    (for {
      wb <- parts.get("xl/workbook.xml")
      rels <- parts.get("xl/_rels/workbook.xml.rels")
    } yield {
      val rids = Vector.newBuilder[String]
      val r = xmlReader(wb)
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
          // the relationship id attribute lives in the officeDocument
          // relationships namespace; match by local name
          val rid = (0 until r.getAttributeCount)
            .find(i => r.getAttributeLocalName(i) == "id")
            .map(r.getAttributeValue)
          rid.foreach(rids += _)
        }
      }
      val targets = Map.newBuilder[String, String]
      val r2 = xmlReader(rels)
      while (r2.hasNext) {
        if (r2.next() == XMLStreamConstants.START_ELEMENT && r2.getLocalName == "Relationship") {
          val id = Option(r2.getAttributeValue(null, "Id"))
          val target = Option(r2.getAttributeValue(null, "Target"))
          for (i <- id; t <- target)
            targets += (i -> (if (t.startsWith("/")) t.stripPrefix("/") else s"xl/$t"))
        }
      }
      val ridList = rids.result()
      if (sheet < 1 || sheet > ridList.size) conventional
      else targets.result().getOrElse(ridList(sheet - 1), conventional)
    }).getOrElse(conventional)
  }

  /** sharedStrings.xml: one entry per `<si>`, concatenating every `<t>`
    * run (rich-text strings split across runs).
    */
  private[graft] def parseSharedStrings(bytes: Array[Byte]): Vector[String] = {
    val out = Vector.newBuilder[String]
    val r = xmlReader(bytes)
    var inSi = false
    var inT = false
    val sb = new StringBuilder
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => inSi = true; sb.clear()
            case "t" if inSi => inT = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA if inT =>
          sb.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t" => inT = false
            case "si" => inSi = false; out += sb.toString
            case _ =>
          }
        case _ =>
      }
    }
    out.result()
  }

  /** sheetN.xml: `<row>` of `<c r="A1" t="...">` cells. Cell types:
    * `s` shared string, `inlineStr` inline, `str` formula-cached string,
    * `b` boolean (TRUE/FALSE), default numeric — surfaced as the raw
    * stored lexeme. Sparse refs honored (missing columns → null).
    */
  private[graft] def parseSheet(bytes: Array[Byte], shared: Vector[String],
      maxRows: Int = Int.MaxValue): Vector[Seq[String]] = {
    val rows = Vector.newBuilder[Seq[String]]
    var nRows = 0
    val r = xmlReader(bytes)
    var cells: scala.collection.mutable.ArrayBuffer[String] = null
    var cellCol = -1
    var cellType = ""
    var inV = false
    var inIsT = false
    var nextCol = 0
    val sb = new StringBuilder
    def endCell(): Unit = if (cellCol >= 0) {
      val raw = sb.toString
      val value = cellType match {
        case "s" =>
          // styled blanks can carry t="s" with no <v> — an empty index is
          // a null cell, not a workbook-killing NumberFormatException
          val t = raw.trim
          if (t.isEmpty) null
          else {
            val i = t.toInt
            if (i >= 0 && i < shared.size) shared(i) else null
          }
        case "b" => if (raw.trim == "1") "TRUE" else "FALSE"
        case _ => raw // inlineStr/str accumulated via <t>; numeric via <v>
      }
      while (cells.size < cellCol) cells += null
      cells += (if (cellType != "inlineStr" && cellType != "str" && raw.isEmpty) null else value)
      cellCol = -1
    }
    while (nRows < maxRows && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" =>
              cells = scala.collection.mutable.ArrayBuffer.empty[String]
              nextCol = 0
            case "c" if cells != null =>
              val ref = Option(r.getAttributeValue(null, "r"))
              cellCol = ref.map(colIndexOf).getOrElse(nextCol)
              nextCol = cellCol + 1
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
              sb.clear()
            case "v" if cellCol >= 0 => inV = true
            case "t" if cellCol >= 0 && cellType == "inlineStr" => inIsT = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA if inV || inIsT =>
          sb.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v" => inV = false
            case "t" if inIsT => inIsT = false
            case "c" => endCell()
            case "row" if cells != null => rows += cells.toVector; cells = null; nRows += 1
            case _ =>
          }
        case _ =>
      }
    }
    rows.result()
  }

  /** "BC23" → 0-based column index 54. */
  private[graft] def colIndexOf(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  // --------------------------------------------------------------- write

  /** Excel's hard per-sheet row cap (2^20); one header row is reserved. */
  val MaxDataRows: Int = 1048575

  /** Write `df` as a single-sheet `.xlsx` (header = column names). The
    * collect is bounded by Excel's own row cap — an xlsx is a report
    * artifact, exactly the reference's `to_excel` of its metadata table.
    * Numeric/boolean columns store as native cell types; everything else
    * (strings, dates, nulls) as inline strings — no sharedStrings part,
    * so output is one streamed pass, deterministic for a given row
    * order. Pass a SORTED df for byte-stable output. The one sheet is
    * named `Sheet1`.
    */
  def write(df: DataFrame, path: String): Unit = {
    val rows = df.limit(MaxDataRows + 1).collect()
    require(rows.length <= MaxDataRows,
      s"Xlsx.write: more than $MaxDataRows data rows — an xlsx is a report " +
        "format (Excel's own sheet cap); write parquet for datasets")
    val schema = df.schema
    val out = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(out, UTF_8)
    def part(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes(UTF_8))
      zip.closeEntry()
    }
    part("[Content_Types].xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
        """</Types>""")
    part("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        """</Relationships>""")
    part("xl/workbook.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
        """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        s"""<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>""" +
        """</workbook>""")
    part("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
        """</Relationships>""")

    val sheet = new StringBuilder
    sheet.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      .append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    def inlineCell(ref: String, v: String): String =
      s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${escapeXml(v)}</t></is></c>"""
    sheet.append("<row r=\"1\">")
    schema.fields.zipWithIndex.foreach { case (f, c) =>
      sheet.append(inlineCell(s"${colRefOf(c)}1", f.name))
    }
    sheet.append("</row>")
    rows.zipWithIndex.foreach { case (row, ri) =>
      val rr = ri + 2
      sheet.append(s"""<row r="$rr">""")
      schema.fields.zipWithIndex.foreach { case (f, c) =>
        if (!row.isNullAt(c)) {
          val ref = s"${colRefOf(c)}$rr"
          f.dataType match {
            case _: NumericType =>
              sheet.append(s"""<c r="$ref"><v>${row.get(c)}</v></c>""")
            case BooleanType =>
              sheet.append(s"""<c r="$ref" t="b"><v>${if (row.getBoolean(c)) 1 else 0}</v></c>""")
            case _ =>
              sheet.append(inlineCell(ref, String.valueOf(row.get(c))))
          }
        }
      }
      sheet.append("</row>")
    }
    sheet.append("</sheetData></worksheet>")
    part("xl/worksheets/sheet1.xml", sheet.toString)
    zip.close()
    val target = new java.io.File(path)
    Option(target.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(target.toPath, out.toByteArray)
  }

  /** 0-based column index → "A", "Z", "AA", … */
  private[graft] def colRefOf(index: Int): String = {
    var i = index + 1
    val sb = new StringBuilder
    while (i > 0) {
      val rem = (i - 1) % 26
      sb.insert(0, ('A' + rem).toChar)
      i = (i - 1) / 26
    }
    sb.toString
  }

  private def escapeXml(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c if c < ' ' && c != '\t' && c != '\n' && c != '\r' =>
        sb.append(s"_x${"%04X".format(c.toInt)}_") // OOXML control-char escape
      case c => sb.append(c)
    }
    sb.toString
  }
}
