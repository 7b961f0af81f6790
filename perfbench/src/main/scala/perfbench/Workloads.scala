package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ExportCli
import graft.config.ConceptsConfig
import graft.exports.{ConceptsExport, LocationsExport, OrderTypesExport}
import graft.graph.GraphOps
import graft.operators.Dedup
import graft.sink.{CsvSink, JdbcSink, ParquetSink}
import graft.sink.CsvSink.qcol
import graft.sources.JdbcConfig

/** What one job produced: problems found by the output checks, CSV bytes
  * written and their digests, LSH pair counts. */
final case class JobOutput(problems: Seq[String], csvBytes: Long = 0L,
    md5s: Map[String, String] = Map.empty, candidates: Long = 0L, verified: Long = 0L)

/** A benchmark workload. [[setup]] generates the inputs from the seed and
  * ingests them; it may run several times per run (the last one is kept).
  * [[job]] runs the untraced job through the program's public entry
  * points; [[replay]] runs the same job through the public stage
  * functions with a span around each call. Both leave their outputs in
  * `out` for [[check]]. */
trait Workload {
  def name: String
  /** Items one job processes: concepts exported or documents deduped. */
  def items: Long
  def setup(spark: SparkSession, dir: Path, tracer: Tracer): Unit
  def job(spark: SparkSession, out: Path): Unit
  def replay(spark: SparkSession, out: Path, tracer: Tracer): Unit
  def check(spark: SparkSession, out: Path): JobOutput
  /** Checks over every job's output that cost about a job themselves, so
    * only traced runs (which are longer anyway) make them, outside any
    * timing window. Returns the indices of failing jobs with reasons. */
  def traceChecks(spark: SparkSession, dir: Path,
      outputs: Seq[JobOutput]): Seq[(Int, String)] = Nil
}

object Workloads {

  val names: Seq[String] = Seq("omrs_jdbc_full", "corpus_neardup")

  def apply(name: String, seed: Long, cores: Int): Workload = name match {
    case "omrs_jdbc_full" => new OmrsJdbcFull(seed, cores)
    case "corpus_neardup" => new CorpusNearDup(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected ${names.mkString(", ")})")
  }

  /** Export settings every concepts job uses: English and Spanish names. */
  val conceptsCfg: ConceptsConfig = ConceptsConfig(locales = Seq("en", "es"))

  def frame(spark: SparkSession, t: Table): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(t.rows: _*), t.schema)

  def readText(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  def fileMd5(p: Path): String = java.security.MessageDigest.getInstance("MD5")
    .digest(Files.readAllBytes(p)).map(b => f"$b%02x").mkString

  /** The concepts pipeline replayed stage by stage: the same public calls,
    * in the same order, with the same materializations as
    * `ConceptsExport.export` (via `pipeline` and `writeOrdered`). */
  def conceptsReplay(t: String => DataFrame, cfg: ConceptsConfig, out: String,
      tr: Tracer): Unit = {
    tr.span("exports.stop_scan")(ConceptsExport.stopCharacterScan(t, cfg).collect())
    val all = tr.span("exports.wide")(
      ConceptsExport.withKeyMapping(ConceptsExport.wide(t, cfg), cfg).localCheckpoint())
    require(cfg.setName.isEmpty && cfg.limit.isEmpty, "replay covers full exports only")
    val selEdges = tr.span("exports.edges")(ConceptsExport.edges(t, all, cfg)
      .join(all.select(qcol(cfg.key).as("src")), Seq("src"), "left_semi")
      .localCheckpoint())
    tr.span("graph.detect_cycles")(GraphOps.detectCycles(selEdges))
    val rows = tr.span("graph.topo_order")(GraphOps.topoOrder(all, cfg.key, selEdges))
      .withColumn("__tie", struct(col("is_set"), col("concept_id")))
    tr.span("sink.csv_write")(ConceptsExport.writeOrdered(rows, cfg, out))
  }

  /** Tables → parquet ingress directory, one `<table>.parquet` each. */
  def writeParquet(spark: SparkSession, tables: Seq[Table], dir: Path): Unit =
    tables.foreach(t => frame(spark, t).write.mode("overwrite")
      .parquet(dir.resolve(t.name + ".parquet").toString))
}

import Workloads._

/** The reference's product path: an OpenMRS database in, Initializer CSVs
  * out. Inputs live in an embedded in-memory Derby database. */
final class OmrsJdbcFull(seed: Long, cores: Int) extends Workload {
  val name = "omrs_jdbc_full"
  val concepts = 3000
  val nLocations = 1000
  val nOrderTypes = 50

  private var dict: Gen.Dictionary = _
  private var locs: Gen.Locations = _
  private var orderTypes: Table = _
  private var url: String = _
  private var generation = 0

  def items: Long = dict.live.toLong

  private def tables: Seq[Table] = dict.tables ++ locs.tables :+ orderTypes

  def setup(spark: SparkSession, dir: Path, tr: Tracer): Unit = {
    dict = Gen.dictionary(seed, concepts)
    locs = Gen.locations(seed, nLocations)
    orderTypes = Gen.orderTypes(seed, nOrderTypes)
    if (url != null) drop(url)
    generation += 1
    url = s"jdbc:derby:memory:perfbench_${generation}"
    val cfg = JdbcConfig(url, user = "", password = "", numPartitions = cores)
    val conn = java.sql.DriverManager.getConnection(url + ";create=true")
    try {
      val st = conn.createStatement()
      tables.foreach { t =>
        val cols = t.schema.fields.zipWithIndex.map { case (f, i) =>
          val sqlType = f.dataType match {
            case LongType => "BIGINT"
            case IntegerType => "INTEGER"
            case DoubleType => "DOUBLE"
            // Spark binds a null string as CLOB on Derby, which a VARCHAR
            // column refuses; nullable text columns are CLOBs
            case _ if t.rows.exists(_.isNullAt(i)) => "CLOB"
            case _ => "VARCHAR(256)"
          }
          s"${f.name} $sqlType"
        }
        // audit columns real OpenMRS tables carry; the export never reads them
        val audit = Seq("creator BIGINT", "date_created VARCHAR(32)", "changed_by BIGINT")
        st.execute(s"CREATE TABLE ${t.name} (${(cols ++ audit).mkString(", ")})")
        tr.span("sink.jdbc_ingest")(JdbcSink.write(frame(spark, t), cfg, t.name))
      }
      st.close()
    } finally conn.close()
  }

  private def drop(u: String): Unit =
    try java.sql.DriverManager.getConnection(u + ";drop=true")
    catch { case _: java.sql.SQLException => () }

  private def ingress: Map[String, String] =
    Map("tables" -> url, "user" -> "", "password" -> "")

  def job(spark: SparkSession, out: Path): Unit = {
    def opts(file: String) = ingress + ("out" -> out.resolve(file).toString)
    ExportCli.run(spark, "concepts", opts("concepts.csv") + ("locales" -> "en,es"))
    ExportCli.run(spark, "locations", opts("locations.csv"))
    ExportCli.run(spark, "ordertypes", opts("ordertypes.csv"))
  }

  def replay(spark: SparkSession, out: Path, tr: Tracer): Unit = {
    val raw = ExportCli.resolver(spark, ingress)
    val t: String => DataFrame = n => tr.span("sources.resolve")(raw(n))
    conceptsReplay(t, conceptsCfg, out.resolve("concepts.csv").toString, tr)
    tr.span("exports.locations") {
      val rows = LocationsExport.pipeline(t)
      tr.span("sink.csv_write")(CsvSink.write(rows, LocationsExport.orderedColumns(rows),
        Seq(col("location_id")), out.resolve("locations.csv").toString))
    }
    tr.span("exports.ordertypes") {
      val rows = OrderTypesExport.pipeline(t)
      tr.span("sink.csv_write")(CsvSink.write(rows, OrderTypesExport.columns,
        Seq(col("order_type_id")), out.resolve("ordertypes.csv").toString))
    }
  }

  def check(spark: SparkSession, out: Path): JobOutput = {
    val files = Seq("concepts.csv", "locations.csv", "ordertypes.csv").map(out.resolve)
    val problems = Checks.conceptsCsv(readText(files(0)), dict.live) ++
      Checks.headerAndRows("locations", readText(files(1)), locs.header, locs.rows) ++
      Checks.headerAndRows("order types", readText(files(2)), Gen.orderTypeHeader,
        orderTypes.rows.length)
    JobOutput(problems, files.map(Files.size).sum,
      files.map(f => f.getFileName.toString -> fileMd5(f)).toMap)
  }

  /** Every job's concepts CSV must be byte-identical to one exported from
    * the same tables handed to the pipeline directly (no JDBC). */
  override def traceChecks(spark: SparkSession, dir: Path,
      outputs: Seq[JobOutput]): Seq[(Int, String)] = {
    val frames = tables.map(t => t.name -> frame(spark, t)).toMap
    val direct = dir.resolve("concepts_direct.csv")
    ConceptsExport.export(frames(_), conceptsCfg, direct.toString)
    val want = fileMd5(direct)
    drop(url)
    outputs.zipWithIndex.collect {
      case (o, i) if o.md5s.get("concepts.csv").exists(_ != want) =>
        i -> "JDBC-ingress concepts CSV differs from the direct-ingress export"
    }
  }
}

/** Near-duplicate curation of a seeded corpus through a fixed chain of
  * `Dedup` / `GraphOps` / `ParquetSink` calls. */
final class CorpusNearDup(seed: Long) extends Workload {
  val name = "corpus_neardup"
  val docs = 3000
  val threshold = 0.7
  val recallFloor = 0.98

  private var corpus: Gen.Corpus = _
  private var reps: Map[Long, Long] = _
  private var dir: Path = _

  def items: Long = docs.toLong

  def setup(spark: SparkSession, d: Path, tr: Tracer): Unit = {
    corpus = Gen.corpus(seed, docs)
    reps = Checks.exactReps(corpus.docs)
    dir = d
    writeParquet(spark, Seq(Gen.corpusTable(corpus)), dir)
  }

  // what the last job returned, for check()
  private var verifiedPairs: Seq[(Long, Long, Double)] = Nil
  private var candidates = 0L
  private var exactGroups = 0L

  def job(spark: SparkSession, out: Path): Unit = chain(spark, out, Tracer.off)
  def replay(spark: SparkSession, out: Path, tr: Tracer): Unit = chain(spark, out, tr)

  private def chain(spark: SparkSession, out: Path, tr: Tracer): Unit = {
    val raw = ExportCli.resolver(spark, Map("tables" -> s"parquet:$dir"))
    val docsDf = tr.span("sources.resolve")(raw("corpus"))
    val exact = tr.span("operators.exact")(
      Dedup.exact(docsDf, "id", "text").localCheckpoint())
    exactGroups = exact.count()
    val uniq = docsDf.join(exact.select(col("keep_id").as("id")), Seq("id"), "left_semi")
    val sets = tr.span("operators.shingle")(Dedup.shingleSets(uniq, "id", "text", 3))
    val sigs = tr.span("operators.minhash")(Dedup.minHashSigsFromSets(sets, "id", 64))
    val cands = tr.span("operators.lsh_candidates")(
      Dedup.lshCandidatePairs(Dedup.lshBuckets(sigs, "id", 16), "id").localCheckpoint())
    candidates = cands.count()
    val verified = tr.span("operators.verify")(
      Dedup.verifyJaccardSets(cands, sets.withColumnRenamed("id", "__id"), threshold)
        .localCheckpoint())
    verifiedPairs = verified.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val comps = tr.span("graph.cc_star")(
      GraphOps.connectedComponentsStar(verified.select("id_a", "id_b")).localCheckpoint())
    val kept = uniq.join(comps.filter(col("node") =!= col("comp")).select(col("node").as("id")),
      Seq("id"), "left_anti")
    tr.span("sink.parquet_write")(ParquetSink.writePartitioned(kept,
      out.resolve("kept").toString, Seq("shard")))
  }

  def check(spark: SparkSession, out: Path): JobOutput = {
    val survivors = reps.values.toSeq.distinct
    val keptIds = spark.read.parquet(out.resolve("kept").toString)
      .select("id").collect().map(_.getLong(0)).toSet
    val want = Checks.keptIds(survivors, verifiedPairs)
    val recall = Checks.recall(corpus.planted, reps, verifiedPairs)
    val problems =
      Option.when(exactGroups != survivors.length)(
        s"exact dedup kept $exactGroups documents, expected ${survivors.length}").toSeq ++
      Checks.verifiedPairs(verifiedPairs, corpus.text, threshold, 200, seed) ++
      Option.when(recall < recallFloor)(
        f"recall on planted near-duplicates $recall%.4f < $recallFloor").toSeq ++
      Option.when(keptIds != want)(
        s"kept ${keptIds.size} documents, expected ${want.size} " +
          s"(${(keptIds -- want).size} unexpected, ${(want -- keptIds).size} missing)").toSeq
    JobOutput(problems, candidates = candidates, verified = verifiedPairs.length)
  }
}
