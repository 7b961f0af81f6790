package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.{BaseRelation, Filter, PrunedFilteredScan}
import org.apache.spark.sql.types.StructType
import java.io.FileInputStream
import java.util.Properties

/** JDBC ingress (S1) + runtime-properties credential loading (S3/V4).
  *
  * The reference shells out to the `mysql` CLI and re-parses its TSV
  * stdout (`concepts/src/concept_csv_export.py:533-591`) — a single
  * pipe that loses types and NULLs. Spark's JDBC source replaces the
  * whole path: typed rows, real NULLs, predicate pushdown into MySQL,
  * and optional partitioned parallel scans on the primary key.
  */
final case class JdbcConfig(
    url: String,
    user: String,
    password: String,
    fetchSize: Int = 10000,
    numPartitions: Int = 8)

object JdbcSource {

  /** Read one table. `partitionKey` enables a parallel range scan:
    * Spark issues numPartitions bounded queries over [lower, upper] —
    * use the integer PK (e.g. concept_id). Unpartitioned reads stream
    * through one connection (fine for dimension-sized tables). */
  def table(spark: SparkSession, cfg: JdbcConfig, name: String,
      partitionKey: Option[(String, Long, Long)] = None): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", cfg.url)
      .option("dbtable", name)
      .option("user", cfg.user)
      .option("password", cfg.password)
      .option("fetchsize", cfg.fetchSize)
    partitionKey match {
      case Some((colName, lower, upper)) => base
        .option("partitionColumn", colName)
        .option("lowerBound", lower)
        .option("upperBound", upper)
        .option("numPartitions", cfg.numPartitions)
        .load()
      case None => base.load()
    }
  }

  /** Partitioned read with auto-probed bounds: one MIN/MAX query on the
    * key, then a numPartitions-way range scan. The probe is a single
    * index-only query on the PK — negligible next to the scan it
    * parallelizes. Falls back to a plain read when the table is empty
    * or the key has no range. */
  def tableAutoPartitioned(spark: SparkSession, cfg: JdbcConfig,
      name: String, keyCol: String): DataFrame = {
    val bounds = spark.read.format("jdbc")
      .option("url", cfg.url)
      .option("query", s"SELECT MIN($keyCol) AS lo, MAX($keyCol) AS hi FROM $name")
      .option("user", cfg.user)
      .option("password", cfg.password)
      .load().head()
    if (bounds.isNullAt(0) || bounds.isNullAt(1))
      table(spark, cfg, name)
    else {
      // MIN/MAX inherit the key's JDBC type (INT PKs like concept_id
      // map to IntegerType, BIGINT to LongType) — widen via Number, a
      // direct getLong would ClassCastException on INT keys.
      val (lo, hi) = (bounds.getAs[Number](0).longValue,
        bounds.getAs[Number](1).longValue)
      if (hi > lo) table(spark, cfg, name, Some((keyCol, lo, hi)))
      else table(spark, cfg, name)
    }
  }

  /** Table resolver for the export pipelines: [[table]], with a size
    * estimate of `COUNT(*)` rows × the schema's `defaultSize`.
    *
    * A JDBC relation reports no size, so Spark takes every export table
    * for a large one and plans its joins as sort-merge joins; AQE then
    * shuffles both sides before it sees the sizes and rewrites each join
    * to a broadcast. With the estimate, Spark's own
    * `spark.sql.autoBroadcastJoinThreshold` chooses when it plans: a
    * dictionary table is broadcast at once, and a table above the
    * threshold still gets a shuffle join. That is why it is an estimate
    * and not a broadcast hint, which would broadcast a table of any
    * size. The count runs over a plain JDBC connection, not as a Spark
    * job. [[table]] and [[tableAutoPartitioned]] stay unsized; their
    * other callers may read fact-sized tables. */
  def resolver(spark: SparkSession, cfg: JdbcConfig): String => DataFrame = name => {
    val rel = table(spark, cfg, name).queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case scan: BaseRelation with PrunedFilteredScan => scan
      }
    }
    spark.baseRelationToDataFrame(
      SizedRelation(rel, rowCount(cfg, name) * rel.schema.defaultSize))
  }

  private def rowCount(cfg: JdbcConfig, name: String): Long = {
    val conn = java.sql.DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $name")
      rs.next()
      rs.getLong(1)
    } finally conn.close()
  }

  /** `rel` with `sizeInBytes`; scans, pruning and pushdown are `rel`'s. */
  private final case class SizedRelation(rel: BaseRelation with PrunedFilteredScan,
      override val sizeInBytes: Long) extends BaseRelation with PrunedFilteredScan {
    def sqlContext: SQLContext = rel.sqlContext
    def schema: StructType = rel.schema
    override def needConversion: Boolean = rel.needConversion
    override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
      rel.unhandledFilters(filters)
    def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] =
      rel.buildScan(requiredColumns, filters)
    override def toString: String = rel.toString
  }

  /** S3: extract connection.username / connection.password from an
    * openmrs-runtime.properties file (the reference greps them —
    * `concept_csv_export.py:103-121`); V4: both must be present and
    * non-empty. */
  def credentials(propertiesPath: String): (String, String) = {
    val props = new Properties()
    val in = new FileInputStream(propertiesPath)
    try props.load(in) finally in.close()
    val user = Option(props.getProperty("connection.username")).getOrElse("")
    val password = Option(props.getProperty("connection.password")).getOrElse("")
    require(user.nonEmpty,
      s"connection.username missing or empty in $propertiesPath")
    require(password.nonEmpty,
      s"connection.password missing or empty in $propertiesPath")
    (user, password)
  }
}
