package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.config.ConceptsConfig
import graft.exports.{ConceptSetCreator, ConceptsExport, LocationsExport, OrderTypesExport}
import graft.sources.{CsvSource, JdbcSource, JdbcConfig}

/** CLI entry point mirroring the reference's argparse surface
  * (`concepts/src/concept_csv_export.py:641-760`,
  * `locations/src/location_csv_export.py:233-280`,
  * `util/src/concept_set_csv_creator.py:80-97`).
  *
  * Usage:
  *   ExportCli concepts   --tables <src> --out <csv> [--locales en,es]
  *       [--name-types full,short] [--mapping-types SAME-AS,...]
  *       [--sources PIH|Name,...] [--version 2.3] [--key-mapping SRC]
  *       [--set-name NAME] [--exclude-files a.csv,b.csv] [--limit N]
  *       (--out defaults to <set-name-with-dashes>.csv when --set-name
  *        is given)
  *   ExportCli locations  --tables <src> --out <csv>
  *   ExportCli ordertypes --tables <src> --out <csv>
  *   ExportCli conceptset --in <concepts.csv> --out <csv>
  *
  * `<src>` selects the ingress: `parquet:<dir>` (one <table>.parquet per
  * table), `csv:<dir>` (one <table>.csv, header + inferred schema), or
  * `jdbc:<url>` with `--user/--password` or `--props <runtime.properties>`.
  * An option the domain does not read is an error naming it.
  */
object ExportCli {

  def main(args: Array[String]): Unit = {
    val (domain, opts) = parse(args)
    // shuffle partitions match `local[*]`'s threads unless SPARK_GRAFT_CPUS
    // says otherwise, as in GraftSession.local
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = GraftSession.builder(s"graft-export-$domain",
        sys.env.getOrElse("SPARK_MASTER", "local[*]"), cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, domain, opts) finally spark.stop()
  }

  /** The options each domain reads; `run` rejects any other. */
  private val TableOptions = Set("tables", "user", "password", "props", "out")
  private val DomainOptions: Map[String, Set[String]] = Map(
    "concepts" -> (TableOptions ++ Set("locales", "name-types", "mapping-types",
      "sources", "version", "key-mapping", "set-name", "limit", "exclude-files")),
    "locations" -> TableOptions,
    "ordertypes" -> TableOptions,
    "conceptset" -> Set("in", "out"))

  def run(spark: SparkSession, domain: String, opts: Map[String, String]): Unit = {
    val allowed = DomainOptions.getOrElse(domain, sys.error(s"unknown domain '$domain' " +
      "(expected concepts|locations|ordertypes|conceptset)"))
    opts.keys.toSeq.sorted.find(!allowed(_)).foreach { k =>
      throw new IllegalArgumentException(s"--$k is not an option of the $domain " +
        s"export (expected one of ${allowed.toSeq.sorted.map("--" + _).mkString(", ")})")
    }
    val limit = opts.get("limit").map(v => v.toIntOption.filter(_ >= 0).getOrElse(
      throw new IllegalArgumentException(s"--limit must be a non-negative integer, got '$v'")))
    // default output name: derived from the set name with spaces
    // squished to dashes (P8, concept_csv_export.py:594-596) when
    // --out is omitted on a concepts --set-name export
    val out = opts.get("out")
      .orElse(if (domain == "concepts") opts.get("set-name")
        .map(n => graft.functions.Naming.squishName(n) + ".csv") else None)
      .getOrElse(sys.error("--out required"))
    lazy val tables = resolver(spark, opts)
    domain match {
      case "concepts" =>
        val cfg = ConceptsConfig(
          locales = opts.get("locales").map(_.split(",").toSeq)
            .getOrElse(Seq("en")),
          nameTypes = opts.get("name-types").map(_.split(",").toSeq)
            .getOrElse(Seq("full", "short")),
          mappingTypes = opts.get("mapping-types").map(_.split(",").toSeq)
            .getOrElse(ConceptsConfig.defaultMappingTypes),
          conceptSources = opts.get("sources").map(_.split(",").toSeq)
            .getOrElse(ConceptsConfig.defaultConceptSources),
          version = opts.getOrElse("version", "2.3"),
          conceptKeyMapping = opts.get("key-mapping"),
          setName = opts.get("set-name"),
          limit = limit)
        val warnings = ConceptsExport.stopCharacterScan(tables, cfg).collect()
        if (warnings.nonEmpty) {
          System.err.println(
            s"WARNING: ${warnings.length} values contain the Initializer " +
            "stop character ';' and will corrupt delimited cells:")
          warnings.take(20).foreach(r => System.err.println(s"  $r"))
        }
        val rows = ConceptsExport.pipeline(tables, cfg)
        val kept = opts.get("exclude-files").fold(rows) { files =>
          CsvSource.applyExcludes(rows, cfg.key,
            CsvSource.excludeKeys(spark, cfg.key, files.split(",").toSeq))
        }
        ConceptsExport.writeOrdered(kept, cfg, out)
      case "locations" => LocationsExport.export(tables, out)
      case "ordertypes" => OrderTypesExport.export(tables, out)
      case "conceptset" =>
        val in = opts.getOrElse("in", sys.error("--in required"))
        ConceptSetCreator.export(CsvSource.read(spark, in), out)
    }
    println(s"wrote $out")
  }

  /** Table resolver from the --tables spec. It resolves each table
    * once: every stage that reads a table reads the same DataFrame, so
    * Spark reuses the exchanges two stages build over it instead of
    * scanning and shuffling it twice. */
  def resolver(spark: SparkSession, opts: Map[String, String]): String => DataFrame = {
    val spec = opts.getOrElse("tables", sys.error("--tables required"))
    def oncePerTable(read: String => DataFrame): String => DataFrame = {
      val resolved = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
      name => resolved.getOrElseUpdate(name, read(name))
    }
    spec.split(":", 2) match {
      case Array("parquet", dir) =>
        oncePerTable(name => spark.read.parquet(s"$dir/$name.parquet"))
      case Array("csv", dir) =>
        oncePerTable(name => spark.read.option("header", "true")
          .option("inferSchema", "true").csv(s"$dir/$name.csv"))
      case Array("jdbc", url) =>
        val (user, pass) = (opts.get("user"), opts.get("password")) match {
          case (Some(u), Some(p)) => (u, p)
          case _ => JdbcSource.credentials(opts.getOrElse("props",
            sys.error("--user/--password or --props required for jdbc")))
        }
        // resolves each table once itself
        JdbcSource.resolver(spark, JdbcConfig(s"jdbc:$url", user, pass))
      case _ => sys.error(s"bad --tables spec '$spec' " +
        "(expected parquet:<dir>, csv:<dir>, or jdbc:<url>)")
    }
  }

  /** `<domain> (--<option> <value>)*`, each option at most once;
    * anything else is a usage error. */
  private[graft] def parse(args: Array[String]): (String, Map[String, String]) = {
    def usage(problem: String): Nothing = throw new IllegalArgumentException(
      s"$problem (usage: ExportCli <domain> [--<option> <value>]...)")
    if (args.isEmpty) usage("domain required: concepts|locations|ordertypes|conceptset")
    val opts = args.tail.grouped(2).map {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
      case Array(k, _*) if k.startsWith("--") => usage(s"missing value for $k")
      case Array(t, _*) => usage(s"unexpected argument '$t'")
    }.toSeq
    val keys = opts.map(_._1)
    keys.diff(keys.distinct).headOption.foreach(k => usage(s"--$k given more than once"))
    (args.head, opts.toMap)
  }
}
