package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps the q223 candidate-pair stage's plan (the stage the r16
  * blocking change rewrote) — it executes inside the
  * connectedComponentsStar fixpoint behind a checkpoint boundary, so the
  * final query's explain cannot show it. Usage:
  *
  *   Test/runMain graft.tools.GoldenPairsPlanDump <outFile>
  */
object GoldenPairsPlanDump {
  def main(args: Array[String]): Unit = {
    val out = Paths.get(args.headOption.getOrElse(
      "plans/r16/q223_pairs_after.txt"))
    val spark = graft.GraftSession.builder("graft-pairsplan", "local[4]", 4)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val recs = graft.operators.CoreQueries.goldenRecordBase(spark, dir)
    def dump(df: org.apache.spark.sql.DataFrame,
        p: java.nio.file.Path): Unit = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { df.explain("formatted") }
      Files.createDirectories(p.getParent)
      Files.writeString(p, buf.toString)
      println(s"wrote $p")
    }
    dump(graft.operators.CoreQueries.goldenRecordPairs(recs), out)

    // the r15 construction, replicated verbatim for the before-plan
    // (the r15 HEAD has no extracted pair method to dump): one join on
    // the fixed-cardinality (nation, segment) block key, all three
    // match predicates as post-join filters
    import org.apache.spark.sql.functions._
    val left = recs.select(col("c_custkey").as("id_a"),
      col("c_name").as("na"), col("c_nationkey"), col("c_mktsegment"),
      col("c_acctbal").as("ba"))
    val right = recs.select(col("c_custkey").as("id_b"),
      col("c_name").as("nb"), col("c_nationkey"), col("c_mktsegment"),
      col("c_acctbal").as("bb"))
    val r15Pairs = left.repartition(32)
      .join(right, Seq("c_nationkey", "c_mktsegment"))
      .filter(col("id_a") < col("id_b") &&
        levenshtein(col("na"), col("nb")) <= 1 &&
        abs(col("ba") - col("bb")) <= 2.0)
      .select("id_a", "id_b")
    dump(r15Pairs, out.getParent.resolve(
      out.getFileName.toString.replace("_after", "_before")))
    spark.stop()
  }
}
