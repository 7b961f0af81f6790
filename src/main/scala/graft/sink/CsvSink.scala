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
  * dictionary, not the raw fact data. Because the rows meet in one
  * partition anyway, they are sorted there (`repartition(1)` +
  * `sortWithinPartitions`) rather than by a global `orderBy`, whose
  * range partitioning costs a sampling job and a shuffle per export.
  *
  * Dialect: RFC 4180, the one the reference's Python `csv` and the
  * Initializer's OpenCSV read — `,` delimiter, `"` quotes, a `"` inside
  * a value doubled (`""`), `\` an ordinary character, newlines allowed
  * inside quoted values. [[graft.sources.CsvSource.read]] reads the same
  * dialect.
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
    * `orderCols`), selecting `columns` in exact order. `orderCols` must
    * be a unique key: the rows are sorted inside one partition, and only
    * a unique key makes that order total.
    *
    * Spark writes a part file into a hidden staging dir next to `path`;
    * the part is renamed onto `path` atomically (same directory, so the
    * same filesystem) and the staging dir is deleted. A failed write
    * leaves `path` as it was, never truncated. */
  def write(df: DataFrame, columns: Seq[String], orderCols: Seq[Column],
      path: String): Unit = {
    val out = renderStrings(df.repartition(1).sortWithinPartitions(orderCols: _*)
      .select(columns.map(qcol): _*))
    val target = Paths.get(path).toAbsolutePath
    Files.createDirectories(target.getParent)
    val staging = Files.createTempDirectory(target.getParent,
      s".${target.getFileName}.graft-csv")
    try {
      val tmp = staging.resolve("out").toString
      out.write
        .option("header", "true").option("emptyValue", "")
        .option("escape", "\"")
        .mode("overwrite").csv(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .find(p => p.endsWith(".csv") && p.contains("part-"))
        .getOrElse(sys.error(s"no part file written under $tmp"))
      Files.move(Paths.get(part), target, StandardCopyOption.ATOMIC_MOVE)
    } finally FileUtils.deleteDirectory(staging.toFile)
  }
}
