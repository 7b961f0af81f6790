package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession builder pre-configured the way
  * the engine expects — GraftExtensions registered (native `graft_dot`
  * and `graft_lsh_buckets`; every operator falls back to bit-identical
  * built-in compositions without them, just slower), UTC session time
  * (the oracle/export contract), and shuffle parallelism sized to the
  * worker count instead of Spark's default 200 (right for local and
  * small-cluster runs; raise it with the cluster), and a generated-code
  * cache that holds a whole job ([[CodegenCacheEntries]]).
  *
  * `Bench`/`Verify`/`ExportCli` and the test suites all build their
  * sessions here, so the configuration the gates validate is the
  * configuration users get.
  */
object GraftSession {

  /** Size of Spark's generated-code cache (`spark.sql.codegen.cache.maxEntries`,
    * default 100). One concepts + locations + order-types export compiles
    * about 160 distinct classes and one corpus near-dup chain about 55, so
    * at the default the LRU evicts every class before the next job asks for
    * it again and each job recompiles its whole working set (~4 s of Janino
    * per export job). 1000 holds several jobs' worth with headroom.
    *
    * The conf is static: `CodeGenerator` sizes its cache once, when the
    * class first loads, from the session active at that moment. It must
    * therefore be set on the builder, before the JVM's first session
    * exists; setting it on a running session has no effect. */
  private val CodegenCacheEntries = 1000

  def builder(appName: String, master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** The harness default: local master with `SPARK_GRAFT_CPUS` threads
    * (`defaultCpus` if unset) and matching shuffle partitions, UI off. */
  def local(appName: String, defaultCpus: String = "32"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = builder(appName, s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The engine's constant-partition windows (rank heads, bucket
    // offsets, n_sources frames) are all provably-bounded single
    // frames — the repartition is the POINT. WindowExec still warns
    // "No Partition Defined" per instance after constant folding
    // empties the partition spec, flooding bench/verify logs (the r8
    // timeout's tail was half this warning); silence exactly that
    // logger, nothing else.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
