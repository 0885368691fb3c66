package graft.csv

import scala.collection.mutable.ArrayBuffer

/** A CSV cell that remembers whether it was quoted in the source — the
  * reference's load-bearing type annotation (SURVEY.md §1.1/§1.3; the
  * `{Value, Quoted}` record consumed at `/root/reference/write.go:199-205`).
  */
final case class RawCell(value: String, quoted: Boolean)

/** Thrown for malformed records; counted against the parse-error budget
  * (`/root/reference/write.go:138-147`). Carries the record number for
  * positional error reporting. */
final case class CsvParseException(record: Long, msg: String)
    extends Exception(s"record $record: $msg")

/** RFC-4180 quote-preserving CSV: parse and render, as pure functions.
  *
  * Spark's CSV reader discards the quoted bit, so the compat path reads
  * lines via `spark.read.text` (or an iterator) and splits here
  * (SURVEY.md §2A #1, §7.4). Handles embedded quotes (`""`), commas and
  * CR/LF inside quoted fields, and bare CR normalization, matching
  * RFC 4180 as implemented by the reference's csv library.
  *
  * Rendering mirrors the reference's read path (`read.go:181-186`):
  * a cell is quoted iff its `quoted` bit is set OR quoting is forced by
  * content (embedded comma/quote/newline — RFC 4180 requires it).
  */
object QuoteCsv {

  /** Parse one logical CSV record (which may contain embedded newlines if
    * they are inside quotes — the caller must hand us a full record).
    * Returns the cells; throws CsvParseException on malformed input
    * (quote in unquoted field, unterminated quote, trailing garbage). */
  def parseRecord(line: String, recordNo: Long = 0L): IndexedSeq[RawCell] = {
    val cells = ArrayBuffer.empty[RawCell]
    val sb = new StringBuilder
    val n = line.length
    var i = 0
    var done = false
    while (!done) {
      sb.clear()
      var quoted = false
      if (i < n && line.charAt(i) == '"') {
        quoted = true
        i += 1
        var closed = false
        while (!closed) {
          if (i >= n) throw CsvParseException(recordNo, "unterminated quoted field")
          val c = line.charAt(i)
          if (c == '"') {
            if (i + 1 < n && line.charAt(i + 1) == '"') { sb.append('"'); i += 2 }
            else { closed = true; i += 1 }
          } else { sb.append(c); i += 1 }
        }
        if (i < n && line.charAt(i) != ',')
          throw CsvParseException(recordNo, s"unexpected character after closing quote at $i")
      } else {
        while (i < n && line.charAt(i) != ',') {
          val c = line.charAt(i)
          if (c == '"')
            throw CsvParseException(recordNo, s"bare quote in unquoted field at $i")
          sb.append(c)
          i += 1
        }
      }
      cells += RawCell(sb.toString, quoted)
      if (i < n && line.charAt(i) == ',') i += 1 // next field follows
      else done = true
    }
    cells.toIndexedSeq
  }

  /** Split a full CSV text into logical records, respecting newlines inside
    * quoted fields. Accepts LF and CRLF record separators; strips the CR of
    * CRLF. Pure; used by both the local pipeline and tests. */
  def splitRecords(text: String): IndexedSeq[String] = {
    val out = ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inQuotes = false
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      c match {
        case '"' =>
          inQuotes = !inQuotes // "" toggles twice — net unchanged, correct
          sb.append(c); i += 1
        case '\r' if !inQuotes && i + 1 < n && text.charAt(i + 1) == '\n' =>
          out += sb.toString; sb.clear(); i += 2
        case '\n' if !inQuotes =>
          out += sb.toString; sb.clear(); i += 1
        case _ =>
          sb.append(c); i += 1
      }
    }
    if (sb.nonEmpty) out += sb.toString
    out.toIndexedSeq
  }

  /** Does `s` hold a character RFC 4180 allows only inside quotes? */
  private[graft] def needsQuoting(s: String): Boolean =
    s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r')

  /** Render one cell per the reference's typed-quoting rule: quote iff the
    * value is a string (`read.go:183-185`); content-forced quoting is
    * applied regardless so output stays RFC-4180 valid. */
  def renderCell(c: RawCell): String =
    if (c.quoted || needsQuoting(c.value)) "\"" + c.value.replace("\"", "\"\"") + "\""
    else c.value

  def renderRecord(cells: Seq[RawCell]): String =
    cells.iterator.map(renderCell).mkString(",")
}
