package graft.sink

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import java.io.Writer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

/** Ordered single-file CSV sink with the Initializer header contract
  * (S5/R3/R4/A6/P10 — `concepts/src/concept_csv_export.py:183-190,607-629`;
  * `locations/src/location_csv_export.py:98-102,219-230`).
  *
  * Internals keep real nulls; `""` rendering happens only here at the
  * boundary (SURVEY §7.4.3). The single ordered file is a product
  * contract (Initializer loads rows top-down), and every export is a
  * dictionary, not the raw fact data. So the rows are handled as what
  * they are, small data: sorted inside one partition (`coalesce(1)` +
  * `sortWithinPartitions`, no exchange and no sampling job), rendered as
  * strings by Spark's own cast in the same projection (numbers and
  * booleans print as Spark prints them), collected once, and written by
  * the driver — as the reference does with Python's `csv` over its
  * result rows. The driver holds one export's rows at a time, so its
  * heap bounds the export size.
  *
  * Dialect: RFC 4180, the one the reference's Python `csv` and the
  * Initializer's OpenCSV read — `,` delimiter, LF record ends, a value
  * quoted only when it holds `,`, `"`, CR or LF, a `"` inside it
  * doubled (`""`), `\` an ordinary character. A value is written as it
  * is: no whitespace is trimmed at either end. Null and `""` are both
  * written as an empty field. [[graft.sources.CsvSource.read]] reads the
  * same dialect.
  *
  * The file is written beside the target under a hidden temporary name
  * and renamed onto it atomically (same directory, so the same
  * filesystem); the temporary file is deleted if anything fails. A
  * failed write leaves `path` as it was, never truncated.
  */
object CsvSink {

  /** Column reference by EXACT name. Iniz headers contain dots
    * (`Mappings|SAME-AS|org.openmrs.module.emrapi`), which bare `col()`
    * would parse as nested-field access — always go through this for
    * dynamic column names. */
  def qcol(name: String): Column = col(s"`$name`")

  /** The rows of `df`, sorted by `orderCols` inside one partition, with
    * `columns` in exact order, each cast to string by Spark (null stays
    * null), collected on the driver. `orderCols` must be a unique key:
    * only a unique key makes the order total. */
  def collectStrings(df: DataFrame, columns: Seq[String], orderCols: Seq[Column]): Array[Row] =
    df.coalesce(1).sortWithinPartitions(orderCols: _*)
      .select(columns.map(c => qcol(c).cast("string").as(c)): _*)
      .collect()

  /** Write `df` as ONE CSV file at `path` (header, ordered by the unique
    * key `orderCols`), selecting `columns` in exact order. */
  def write(df: DataFrame, columns: Seq[String], orderCols: Seq[Column],
      path: String): Unit =
    writeRows(columns, collectStrings(df, columns, orderCols), path)

  /** Write `header` and then `rows` (string fields, in header order) as
    * one RFC 4180 file at `path`, replacing it atomically. */
  def writeRows(header: Seq[String], rows: Array[Row], path: String): Unit = {
    val target = Paths.get(path).toAbsolutePath
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID}.tmp")
    try {
      val out = Files.newBufferedWriter(tmp, UTF_8, StandardOpenOption.CREATE_NEW)
      try {
        record(out, header)
        rows.foreach(r => record(out, header.indices.map(r.getString)))
      } finally out.close()
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  private def record(out: Writer, fields: Seq[String]): Unit = {
    out.write(fields.map(field).mkString(","))
    out.write('\n')
  }

  private def field(v: String): String =
    if (v == null) ""
    else if (v.exists(c => c == ',' || c == '"' || c == '\r' || c == '\n'))
      "\"" + v.replace("\"", "\"\"") + "\""
    else v
}
