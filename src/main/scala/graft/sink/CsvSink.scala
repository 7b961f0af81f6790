package graft.sink

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.commons.io.FileUtils

/** Ordered single-file CSV sink with the Initializer header contract
  * (S5/R3/R4/A6/P10 — `concepts/src/concept_csv_export.py:183-190,607-629`;
  * `locations/src/location_csv_export.py:98-102,219-230`).
  *
  * Internals keep real nulls; `""` rendering happens only here at the
  * boundary (SURVEY §7.4.3). The single ordered file is a product
  * contract (Initializer loads rows top-down), so the final stage
  * serializes through one task by design — everything upstream remains
  * distributed, and the row count at this boundary is an export-sized
  * dictionary, not the raw fact data.
  */
object CsvSink {

  /** Column reference by EXACT name. Iniz headers contain dots
    * (`Mappings|SAME-AS|org.openmrs.module.emrapi`), which bare `col()`
    * would parse as nested-field access — always go through this for
    * dynamic column names. */
  def qcol(name: String): Column = col(s"`$name`")

  /** A6/R4: drop columns whose value is empty (null ≡ "") in EVERY row,
    * except those in `alwaysKeep`. One aggregate pass over all columns —
    * the data-dependent schema discovery SURVEY §1.3.3 requires. */
  def pruneEmptyColumns(df: DataFrame, alwaysKeep: Set[String]): DataFrame = {
    val candidates = df.columns.filterNot(alwaysKeep)
    if (candidates.isEmpty) return df
    // coalesce: max over ZERO rows is null — an empty input must write
    // a header-only CSV (all candidates pruned), not NPE on getInt.
    val probes: Seq[Column] = candidates.toSeq.map(c =>
      coalesce(max(when(qcol(c).isNotNull && length(qcol(c).cast("string")) > 0, 1)
        .otherwise(0)), lit(0)).as(c))
    val row = df.agg(probes.head, probes.tail: _*).head()
    val empty = candidates.zipWithIndex.collect {
      case (c, i) if row.getInt(i) == 0 => c
    }.toSet
    df.select(df.columns.filterNot(empty).map(qcol).toIndexedSeq: _*)
  }

  /** Render every column as string with null → "" (the reference's CSV
    * boundary behavior; internally nulls stay real). */
  def renderStrings(df: DataFrame): DataFrame =
    df.select(df.columns.map(c =>
      coalesce(qcol(c).cast("string"), lit("")).as(c)).toIndexedSeq: _*)

  /** Write `df` as ONE CSV file at `path` (header, ordered by
    * `orderCols`), selecting `columns` in exact order. Spark writes a
    * part-file into a staging dir; the part is moved to `path` and the
    * staging dir (`_SUCCESS`, `.crc` files) is deleted. */
  def write(df: DataFrame, columns: Seq[String], orderCols: Seq[Column],
      path: String): Unit = {
    val out = renderStrings(
      df.orderBy(orderCols: _*).select(columns.map(qcol): _*))
    val staging = Files.createTempDirectory("graft-csv")
    try {
      val tmp = staging.resolve("out").toString
      out.coalesce(1).write
        .option("header", "true").option("emptyValue", "")
        .mode("overwrite").csv(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .find(p => p.endsWith(".csv") && p.contains("part-"))
        .getOrElse(sys.error(s"no part file written under $tmp"))
      val target = Paths.get(path)
      Option(target.getParent).foreach(Files.createDirectories(_))
      Files.move(Paths.get(part), target, StandardCopyOption.REPLACE_EXISTING)
    } finally FileUtils.deleteDirectory(staging.toFile)
  }
}
