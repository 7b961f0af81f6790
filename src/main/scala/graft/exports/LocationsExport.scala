package graft.exports

import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._
import graft.functions.{MysqlFunctions => M}
import graft.sink.CsvSink

/** Locations export (`locations/src/location_csv_export.py:105-230` and
  * the static `sql/locations.sql`): location rows with parent lookup,
  * tags spread to `Tag|<name>` = TRUE columns (R1) and attributes to
  * `Attribute|<name>` = value columns (R2), fixed leading columns plus
  * sorted dynamic columns (R3).
  *
  * Spark-first shape: instead of group_concat-ing tags/attributes into
  * delimited strings and re-splitting them client-side (which breaks on
  * values containing ':' — the reference bug at
  * `location_csv_export.py:150-152`), each spread is its own pivot
  * joined back on `location_id`. Attribute values survive any
  * character. Tag/attribute name sets are data-dependent (SURVEY §7.3),
  * so one `distinct` query finds both header sets and each pivot is
  * handed its values: one discovery job instead of the one per pivot
  * that Spark's value-less `pivot` runs.
  */
object LocationsExport {

  /** One row per location: UUID, Void/Retire, Name, Description,
    * Parent (name), plus the dynamic `Tag|x` / `Attribute|x` columns. */
  def pipeline(t: String => DataFrame): DataFrame = {
    val base = t("location").as("l")
      .join(t("location").as("p"),
        col("l.parent_location") === col("p.location_id"), "left")
      .select(col("l.location_id").as("location_id"),
        col("l.uuid").as("UUID"),
        col("l.retired").as("Void/Retire"),
        col("l.name").as("Name"),
        col("l.description").as("Description"),
        col("p.name").as("Parent"))

    val tagRows = t("location_tag_map").as("ltm")
      .join(broadcast(t("location_tag").as("lt")),
        col("ltm.location_tag_id") === col("lt.location_tag_id"))
      .select(col("ltm.location_id").as("location_id"),
        concat(lit("Tag|"), col("lt.name")).as("__hdr"))

    val attrRows = t("location_attribute").as("la")
      .join(broadcast(t("location_attribute_type").as("lat")),
        col("la.attribute_type_id") === col("lat.location_attribute_type_id"))
      .select(col("la.location_id").as("location_id"),
        concat(lit("Attribute|"), col("lat.name")).as("__hdr"),
        col("la.value_reference").as("__val"))

    // both header sets in one query; `__tag` keeps a null name's header
    // on its own side, as separate discovery would
    val found = tagRows.select(lit(true).as("__tag"), col("__hdr"))
      .union(attrRows.select(lit(false).as("__tag"), col("__hdr")))
      .distinct().collect()
    def headers(tag: Boolean): Seq[String] = found.filter(_.getBoolean(0) == tag)
      .map(r => Option(r.getString(1))).sorted.map(_.orNull).toSeq

    val tags = pivotOn(tagRows, headers(tag = true)).agg(first(lit("TRUE")))
    // min, not first: a location with multiple rows for one attribute
    // type must pivot deterministically (MySQL's group_concat-then-
    // split is effectively last-wins; this project pins every such
    // choice — same convention as sortedDistinctConcat)
    val attrs = pivotOn(attrRows, headers(tag = false)).agg(min(col("__val")))

    base
      .join(tags, Seq("location_id"), "left")
      .join(attrs, Seq("location_id"), "left")
  }

  /** `rows` grouped by `location_id` and pivoted on `__hdr` over the
    * header `values`. Past `spark.sql.pivotMaxValues` values this defers
    * to Spark's own discovering `pivot`, which fails with Spark's error
    * for that limit. */
  private def pivotOn(rows: DataFrame, values: Seq[String]): RelationalGroupedDataset = {
    val grouped = rows.groupBy("location_id")
    val maxValues = rows.sparkSession.conf.get("spark.sql.pivotMaxValues").toInt
    if (values.length > maxValues) grouped.pivot("__hdr")
    else grouped.pivot("__hdr", values)
  }

  /** R3 column order: fixed prefix + sorted attributes + sorted tags
    * (`location_csv_export.py:219-230`). */
  def orderedColumns(df: DataFrame): Seq[String] = {
    val fixed = Seq("UUID", "Void/Retire", "Name", "Description", "Parent")
    val attrs = df.columns.filter(_.startsWith("Attribute|")).sorted
    val tags = df.columns.filter(_.startsWith("Tag|")).sorted
    fixed ++ attrs ++ tags
  }

  def export(t: String => DataFrame, outPath: String): Unit = {
    val rows = pipeline(t)
    CsvSink.write(rows, orderedColumns(rows), Seq(col("location_id")), outPath)
  }

  /** The static `sql/locations.sql` variant: parent referenced by UUID,
    * no tags/attributes, ordered by location_id. */
  def simple(t: String => DataFrame): DataFrame =
    t("location").as("l")
      .join(t("location").as("p"),
        col("l.parent_location") === col("p.location_id"), "left")
      .select(col("l.location_id").as("location_id"),
        col("l.uuid").as("Uuid"),
        col("l.retired").as("Void/Retire"),
        col("l.name").as("Name"),
        col("l.description").as("Description"),
        col("p.uuid").as("Parent"))
}
