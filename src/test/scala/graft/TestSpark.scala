package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (session bring-up is
  * ~10s; suites must not each pay it), built the way users' sessions are
  * (`GraftSession.builder`). Small shuffle partition count — fixtures
  * are tiny. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.builder("graft-test", "local[4]", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
