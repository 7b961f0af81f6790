package graft.exports

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.ConceptsConfig
import graft.sources.{JdbcConfig, JdbcSource}
import graft.sink.JdbcSink

/** Scale gate for the reference's actual product path — the concepts
  * export run END-TO-END through a real JDBC database at data-scaled
  * size (`concept_csv_export.py:533-558` is one hand-written mega-query
  * against MySQL; ours is the declarative pipeline whose filters and
  * column pruning Catalyst pushes into the JDBC scans unaided).
  *
  * The fixture specs (ExportsSpec) prove the plan shape and the edge
  * semantics on a 7-concept dictionary; this gate proves the same path
  * at production dictionary size: a deterministic OpenMRS-shaped
  * synthetic dictionary scaled to the sf dir (one concept per document
  * row — sf0.1 ≈ 5k concepts, the GenScale sf1 dir ≈ 50k, the size of
  * a large real deployment), ingested into embedded Derby ONCE per
  * (session, dir), then exported twice — JDBC-ingress and
  * direct-frame-ingress — and byte-compared. The gate FAILS (exception,
  * never a fast success) if the two CSVs differ, if no filter pushed
  * into the JDBC scans, or if the unread audit columns leak into a
  * scan (column pruning lost). Registered as q470 (rows-only driver
  * check; the byte-identity and plan asserts ARE the verification —
  * DuckDB cannot read Derby, and every piece of the export itself is
  * already SQL-oracled by q01–q44).
  */
object ScaledOmrs {

  /** Deterministic synthetic dictionary, `n` concepts. Shapes chosen to
    * exercise every pivot/join of the export at scale: multi-locale
    * names (es for id%3==0), SHORT names (id%5==0), voided name rows
    * (id%11==0), descriptions (id%2==0), CIEL SAME-AS mappings
    * (id%2==0) plus the PIH Number/Name split (id%6==0 numeric-coded,
    * id%6==3 named), retired reference terms (id%13==0, must be
    * filtered), retired concepts (id%10==9), numeric rows (id%9==0),
    * complex rows (id%17==0), sets (id%7==0) whose members are the
    * next three LIVE concepts (forward edges only — acyclic by
    * construction, so the topo reorder runs but the cycle guard stays
    * quiet), coded answers (id%8==0). */
  def tables(s: SparkSession, n: Long): Map[String, DataFrame] = {
    import s.implicits._
    val ids = s.range(1, n + 1).select(col("id").as("concept_id"))

    val concept = ids.select(
      col("concept_id"),
      concat(lit("uuid-"), col("concept_id")).as("uuid"),
      (lit(10) + col("concept_id") % 2).cast("long").as("class_id"),
      when(col("concept_id") % 9 === 0, 21L)
        .when(col("concept_id") % 17 === 0, 23L)
        .when(col("concept_id") % 8 === 0, 22L)
        .otherwise(20L).as("datatype_id"),
      when(col("concept_id") % 10 === 9, 1).otherwise(0).as("retired"),
      when(col("concept_id") % 7 === 0, 1).otherwise(0).as("is_set"))

    val conceptClass = Seq((10L, "Misc"), (11L, "Question"))
      .toDF("concept_class_id", "name")
    val conceptDatatype = Seq(
      (20L, "N/A"), (21L, "Numeric"), (22L, "Coded"), (23L, "Complex"))
      .toDF("concept_datatype_id", "name")

    val fsnEn = ids.select(col("concept_id"),
      concat(lit("Concept "), col("concept_id")).as("name"),
      lit("en").as("locale"), lit("FULLY_SPECIFIED").as("concept_name_type"),
      lit(0).as("voided"))
    val fsnEs = ids.filter(col("concept_id") % 3 === 0)
      .select(col("concept_id"),
        concat(lit("Concepto "), col("concept_id")).as("name"),
        lit("es").as("locale"), lit("FULLY_SPECIFIED").as("concept_name_type"),
        lit(0).as("voided"))
    val shortEn = ids.filter(col("concept_id") % 5 === 0)
      .select(col("concept_id"),
        concat(lit("C"), col("concept_id")).as("name"),
        lit("en").as("locale"), lit("SHORT").as("concept_name_type"),
        lit(0).as("voided"))
    val voidedEn = ids.filter(col("concept_id") % 11 === 0)
      .select(col("concept_id"),
        concat(lit("Old concept "), col("concept_id")).as("name"),
        lit("en").as("locale"), lit("FULLY_SPECIFIED").as("concept_name_type"),
        lit(1).as("voided"))
    val conceptName = fsnEn.unionByName(fsnEs).unionByName(shortEn)
      .unionByName(voidedEn)

    val conceptDescription = ids.filter(col("concept_id") % 2 === 0)
      .select(col("concept_id"),
        concat(lit("Description of concept "), col("concept_id"))
          .as("description"),
        lit("en").as("locale"))

    val conceptMapType = Seq((30L, "SAME-AS"), (31L, "NARROWER-THAN"))
      .toDF("concept_map_type_id", "name")
    val conceptReferenceSource = Seq((40L, "CIEL"), (41L, "PIH"))
      .toDF("concept_source_id", "name")

    // term ids partition by source: CIEL terms = concept_id, PIH terms
    // = concept_id + n (disjoint ranges, deterministic joins)
    val cielTerms = ids.filter(col("concept_id") % 2 === 0)
      .select(col("concept_id").as("concept_reference_term_id"),
        (col("concept_id") + 100000).cast("string").as("code"),
        lit(40L).as("concept_source_id"),
        when(col("concept_id") % 13 === 0, 1).otherwise(0).as("retired"))
    val pihTerms = ids.filter(col("concept_id") % 6 === 0 ||
        col("concept_id") % 6 === 3)
      .select((col("concept_id") + n).as("concept_reference_term_id"),
        when(col("concept_id") % 6 === 0, col("concept_id").cast("string"))
          .otherwise(concat(lit("NAME "), col("concept_id"))).as("code"),
        lit(41L).as("concept_source_id"), lit(0).as("retired"))
    val conceptReferenceTerm = cielTerms.unionByName(pihTerms)

    val cielMaps = ids.filter(col("concept_id") % 2 === 0)
      .select(col("concept_id"), lit(30L).as("concept_map_type_id"),
        col("concept_id").as("concept_reference_term_id"))
    val pihMaps = ids.filter(col("concept_id") % 6 === 0 ||
        col("concept_id") % 6 === 3)
      .select(col("concept_id"), lit(30L).as("concept_map_type_id"),
        (col("concept_id") + n).as("concept_reference_term_id"))
    val conceptReferenceMap = cielMaps.unionByName(pihMaps)

    val conceptNumeric = ids.filter(col("concept_id") % 9 === 0)
      .select(col("concept_id"),
        (col("concept_id") % 100 + 200).cast("double").as("hi_absolute"),
        lit(null).cast("double").as("hi_critical"),
        (col("concept_id") % 100 + 150).cast("double").as("hi_normal"),
        lit(0.0).as("low_absolute"),
        lit(null).cast("double").as("low_critical"),
        lit(1.0).as("low_normal"),
        lit("mg").as("units"),
        lit(1).as("display_precision"),
        (col("concept_id") % 2).cast("int").as("allow_decimal"))

    val conceptComplex = ids.filter(col("concept_id") % 17 === 0)
      .select(col("concept_id"), lit("ImageHandler").as("handler"))

    // members = the next three concepts that are neither retired nor
    // themselves sets (live leaves only; strictly forward ids → acyclic)
    def liveLeaf(c: org.apache.spark.sql.Column) =
      c % 10 =!= 9 && c % 7 =!= 0 && c <= n
    val conceptSet = ids.filter(col("concept_id") % 7 === 0)
      .select(col("concept_id").as("concept_set"),
        explode(array(lit(1), lit(2), lit(3))).as("k"))
      .select(col("concept_set"),
        (col("concept_set") + col("k")).cast("long").as("concept_id"),
        col("k").cast("double").as("sort_weight"))
      .filter(liveLeaf(col("concept_id")))

    val conceptAnswer = ids.filter(col("concept_id") % 8 === 0)
      .select(col("concept_id"),
        explode(array(lit(1), lit(2))).as("k"))
      .select(col("concept_id"),
        (col("concept_id") + col("k") * 2 + 1).cast("long")
          .as("answer_concept"),
        col("k").cast("double").as("sort_weight"))
      .filter(col("answer_concept") <= n)

    Map(
      "concept" -> concept,
      "concept_class" -> conceptClass,
      "concept_datatype" -> conceptDatatype,
      "concept_name" -> conceptName,
      "concept_description" -> conceptDescription,
      "concept_map_type" -> conceptMapType,
      "concept_reference_source" -> conceptReferenceSource,
      "concept_reference_term" -> conceptReferenceTerm,
      "concept_reference_map" -> conceptReferenceMap,
      "concept_numeric" -> conceptNumeric,
      "concept_complex" -> conceptComplex,
      "concept_set" -> conceptSet,
      "concept_answer" -> conceptAnswer)
  }

  /** Derby ingest memo: one embedded database per (session, sf dir),
    * loaded once — the scaled analogue of ExportsSpec's fixture DB,
    * with the audit columns real OpenMRS tables carry (so column
    * pruning is OBSERVABLE in the plan). Returns the JdbcConfig. */
  private val dbStage = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), JdbcConfig]
  private def derbyDb(s: SparkSession, dir: String, n: Long): JdbcConfig =
    dbStage.getOrElseUpdate((s, dir), {
      // full-string md5, not abs(hashCode): hashCode collides across
      // dirs (and abs(Int.MinValue) is negative) — r15 advisor
      val dbName = "omrs" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val url = s"jdbc:derby:memory:$dbName"
      val conn = java.sql.DriverManager.getConnection(url + ";create=true")
      try {
        val st = conn.createStatement()
        val cfgJ = JdbcConfig(url, user = "", password = "")
        import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
        tables(s, n).foreach { case (name, df) =>
          val cols = df.schema.fields.map { f =>
            val t = f.dataType match {
              case LongType => "BIGINT"
              case IntegerType => "INTEGER"
              case DoubleType => "DOUBLE"
              case _ => "VARCHAR(256)"
            }
            s"${f.name} $t"
          }
          val audit = Seq("creator BIGINT", "date_created VARCHAR(32)",
            "changed_by BIGINT")
          st.execute(s"CREATE TABLE $name (${(cols ++ audit).mkString(", ")})")
          JdbcSink.write(df, cfgJ, name)
        }
        st.close()
        cfgJ
      } finally conn.close()
    })

  /** Direct-frame-ingress export memo: the comparison baseline CSV,
    * written once per (session, dir) — the gate's timed body then pays
    * the JDBC-ingress export (the path under test) plus the byte
    * compare, not two full export pipelines. */
  private val directCsvStage = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]
  private def directCsv(s: SparkSession, dir: String, n: Long,
      cfg: ConceptsConfig): String =
    directCsvStage.getOrElseUpdate((s, dir), {
      val out = tmpDir(s, dir).resolve("concepts_direct.csv").toString
      val direct = tables(s, n)
      ConceptsExport.export(direct(_), cfg, out)
      out
    })

  /** ONE temp dir per (session, dir), recursively deleted by a JVM
    * shutdown hook — repeated bench/verify passes previously leaked a
    * fresh full-dictionary CSV directory per gate invocation (r15
    * advisor), and `File.deleteOnExit` alone only removes EMPTY
    * directories, so the CSVs written into the dir survived JVM exit
    * (r16 advisor). The hook walks each memoized dir depth-first. */
  private val tmpStage = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), java.nio.file.Path]
  private lazy val tmpCleanup: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpStage.values.foreach { root =>
        try {
          import scala.jdk.CollectionConverters._
          scala.util.Using.resource(java.nio.file.Files.walk(root)) {
            _.sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala
              .foreach(p => try java.nio.file.Files.deleteIfExists(p)
                catch { case _: java.io.IOException => () })
          }
        } catch { case _: Throwable => () }
      }))
  private def tmpDir(s: SparkSession, dir: String): java.nio.file.Path =
    tmpStage.getOrElseUpdate((s, dir), {
      tmpCleanup
      java.nio.file.Files.createTempDirectory("graft_omrs_scale_")
    })

  /** Bench stage hook (see PipelineQueries.sharedStageBuilders): the
    * Derby ingest and the direct-export baseline, built once. */
  def buildDbStage(s: SparkSession, dir: String): Unit = {
    val n = scaleFor(s, dir)
    derbyDb(s, dir, n)
    directCsv(s, dir, n, gateCfg)
    ()
  }

  private val gateCfg = ConceptsConfig(locales = Seq("en", "es"))

  def clearSharedStages(): Unit = {
    // DROP the in-memory Derby databases, not just the memo: Derby
    // memory DBs outlive the connection, so a cleared memo re-running
    // CREATE TABLE against the still-alive database would hard-fail
    // (r15 advisor). ';drop=true' "succeeds" via SQLException 08006.
    dbStage.values.foreach { cfg =>
      try java.sql.DriverManager.getConnection(cfg.url + ";drop=true")
      catch { case _: java.sql.SQLException => () }
    }
    dbStage.clear(); directCsvStage.clear()
  }

  /** One concept per document row of the sf dir. */
  private def scaleFor(s: SparkSession, dir: String): Long =
    graft.sources.Tables.documents(s, dir).count()

  /** The q470 gate (see object doc). Returns a one-row summary the
    * driver rows-checks; every real assertion throws inside. */
  def gate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = scaleFor(s, dir)
    val cfg = gateCfg
    val jdbcCfg = derbyDb(s, dir, n)
    val jdbcResolver = JdbcSource.resolver(s, jdbcCfg)

    // plan gate at scale: filters pushed into the JDBC scans, audit
    // columns pruned out of every scan
    val plan = ConceptsExport.wide(jdbcResolver, cfg)
      .queryExecution.executedPlan.toString
    val lc = plan.toLowerCase
    require(lc.contains("pushedfilters") && lc.contains("equalto(retired,0)") &&
        lc.contains("equalto(voided,0)"),
      s"retired/voided filters not pushed into the JDBC scans:\n${plan.take(1500)}")
    require(!lc.contains("date_created") && !lc.contains("changed_by"),
      "audit columns leaked into a JDBC scan — column pruning lost")

    val outJ = tmpDir(s, dir).resolve("concepts_jdbc.csv").toString
    val outD = directCsv(s, dir, n, cfg)
    val t0 = System.nanoTime()
    ConceptsExport.export(jdbcResolver, cfg, outJ)
    val jdbcSec = (System.nanoTime() - t0) / 1e9
    val bj = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(outJ))
    val bd = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(outD))
    require(java.util.Arrays.equals(bj, bd),
      s"JDBC-ingress CSV (${bj.length} B) differs from direct-ingress " +
        s"CSV (${bd.length} B) at dictionary size $n")
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(bj).map(b => f"$b%02x").mkString
    val csvRows = bj.count(_ == '\n'.toByte).toLong
    Seq((n, csvRows, bj.length.toLong, hex,
      math.rint(jdbcSec * 1000) / 1000))
      .toDF("n_concepts", "csv_rows", "csv_bytes", "csv_md5", "jdbc_export_sec")
  }
}
