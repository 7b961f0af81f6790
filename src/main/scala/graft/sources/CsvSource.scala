package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CSV ingress (S4): exclude-list CSVs
  * (`concepts/src/concept_csv_export.py:441-454`) and the util's
  * concepts-CSV input (`util/src/concept_set_csv_creator.py:51-52`). */
object CsvSource {

  /** A header CSV in the dialect [[graft.sink.CsvSink]] writes (RFC 4180:
    * `""` is a quote inside a quoted value, quoted values may span lines). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("escape", "\"")
      .option("multiLine", "true").csv(path)

  /** Distinct exclude keys from one or more exclude CSVs (each must
    * contain the key column). Deduped across files (A5). */
  def excludeKeys(spark: SparkSession, keyCol: String,
      paths: Seq[String]): DataFrame =
    paths.map(p => read(spark, p).select(col(keyCol)))
      .reduce(_ unionByName _)
      .distinct()

  /** J13: drop rows whose key appears in the exclude set. */
  def applyExcludes(df: DataFrame, keyCol: String, excludes: DataFrame): DataFrame =
    df.join(excludes.toDF(keyCol), Seq(keyCol), "left_anti")
}
