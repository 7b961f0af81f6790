package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, inside one JVM:
  *
  *   1. start the session (`GraftSession.local`, `local[cores]`, shuffle
  *      partitions = cores) and set the inputs up [[SetupReps]] times;
  *   2. run the first job in the fresh session;
  *   3. run steady-state jobs back to back (closed loop, one client) for
  *      `--seconds`, at least [[MinSteady]] of them;
  *   4. in a traced run, alternate untraced jobs with traced replays
  *      (untraced, traced, untraced, …);
  *   5. check every job's output (a traced run also makes the
  *      workload's costlier `traceChecks`), force a GC, report.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --result <file>
  */
object Main {

  val SetupReps = 3
  /** One steady job per untraced run: the first job and the set-ups
    * already cost most of a run, and the 48 runs of a full comparison
    * must fit in 3,420 s. */
  val MinSteady = 1
  /** Stop starting jobs once this many have failed. */
  val MaxFailed = 3

  final case class Metric(name: String, value: Double, unit: String)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"--$k required"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val workload = Workloads(need("workload"), seed, cores)
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local("perfbench")
    val sessionS = secondsSince(t0)
    try {
      val (metrics, attempted, failed) = run(spark, workload, seed, seconds, trace, cores,
        work, sessionS)
      val correct = failed == 0
      val json = metrics.map(m =>
        s""""${m.name}": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}""")
        .mkString("{", ", ", "}")
      Files.write(Paths.get(need("result")),
        s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $json}"""
          .getBytes("UTF-8"))
    } finally spark.stop()
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Driver heap in use once garbage collection stops freeing memory.
    * Checkpointed blocks are released by Spark's cleaner thread only after
    * a GC has collected their datasets, so collect until the figure
    * settles (within 1 MB), at most eight rounds. */
  def heapAfterGcMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); Thread.sleep(300); mx.getHeapMemoryUsage.getUsed }
    var prev = Long.MaxValue
    var used = collect()
    var rounds = 1
    while (rounds < 8 && math.abs(prev - used) > 1000000L) {
      prev = used; used = collect(); rounds += 1
    }
    used / 1e6
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.walk(p))(_.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.deleteIfExists))
  }

  def run(spark: SparkSession, w: Workload, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: Path, sessionS: Double): (Seq[Metric], Int, Int) = {
    val listener = new EngineListener
    val rec = new Recorder(spark.sparkContext, listener)
    if (trace) spark.sparkContext.addSparkListener(listener)
    val tracer: Tracer = if (trace) rec else Tracer.off

    // ---- set-up, several times; the last one's inputs are used
    val setups = (1 to SetupReps).map { i =>
      val dir = work.resolve(s"input$i")
      deleteTree(dir)
      Files.createDirectories(dir)
      rec.job = -i                 // set-up spans are not job spans
      val t = System.nanoTime()
      w.setup(spark, dir, tracer)
      val s = secondsSince(t)
      if (i > 1) deleteTree(work.resolve(s"input${i - 1}"))
      s
    }
    val inputDir = work.resolve(s"input$SetupReps")
    val setupS = sessionS + median(setups)
    System.err.println(f"[perfbench] session $sessionS%.2f s, set-ups " +
      setups.map(s => f"$s%.2f").mkString(", ") + " s")

    // ---- jobs
    val outputs = ArrayBuffer.empty[JobOutput]
    val untraced = ArrayBuffer.empty[Double]    // steady-state untraced job seconds
    val traced = ArrayBuffer.empty[(Int, Double)] // (recorder job id, seconds)
    def attempt(k: Int, replay: Boolean): Option[Double] = {
      val out = work.resolve(s"job$k")
      deleteTree(out)
      Files.createDirectories(out)
      val t = System.nanoTime()
      val secs = try {
        if (replay) { rec.job = k; rec.span("job")(w.replay(spark, out, rec)) }
        else w.job(spark, out)
        Some(secondsSince(t))
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] job $k failed: $e"); e.printStackTrace(); None
      }
      val o = secs match {
        case Some(_) =>
          try w.check(spark, out)
          catch { case e: Exception => JobOutput(Seq(s"output check threw $e")) }
        case None => JobOutput(Seq("job threw"))
      }
      o.problems.foreach(p => System.err.println(s"[perfbench] job $k: $p"))
      outputs += o
      deleteTree(out)
      secs
    }

    val firstS = attempt(0, replay = false).getOrElse(Double.NaN)
    val loopStart = System.nanoTime()
    var k = 1
    // a traced run alternates untraced and traced jobs, starting and
    // ending untraced, so warm-up drift cancels in trace.overhead_s
    def enough = if (trace) untraced.length >= 2 && traced.nonEmpty
      else untraced.length >= MinSteady
    def failing = outputs.count(_.problems.nonEmpty) >= MaxFailed
    while ((secondsSince(loopStart) < seconds || !enough) && !failing) {
      val replay = trace && k % 2 == 0
      attempt(k, replay).foreach(s => if (replay) traced += ((k, s)) else untraced += s)
      k += 1
    }

    System.err.println(f"[perfbench] first job $firstS%.2f s, steady " +
      (untraced.map(s => f"$s%.2f") ++ traced.map(t => f"${t._2}%.2f traced"))
        .mkString(", ") + " s")

    // ---- end-of-run checks (outside every timing window)
    // every job, traced replays included, must write the same CSV bytes
    val sameBytes = outputs.indices.collect {
      case i if outputs(i).md5s.nonEmpty && outputs(i).md5s != outputs.head.md5s =>
        i -> "CSV bytes differ from the first job's"
    }
    val tFinish = System.nanoTime()
    val late = sameBytes ++ (if (!trace) Nil
      else try w.traceChecks(spark, inputDir, outputs.toSeq)
      catch { case e: Exception =>
        e.printStackTrace(); outputs.indices.map(_ -> s"end-of-run check threw $e") })
    System.err.println(f"[perfbench] end-of-run checks ${secondsSince(tFinish)}%.2f s")
    late.foreach { case (i, why) => System.err.println(s"[perfbench] job $i: $why") }
    val failedIdx = outputs.indices.filter(i => outputs(i).problems.nonEmpty).toSet ++
      late.map(_._1)
    val attempted = outputs.length
    val failed = failedIdx.size

    val jobP50 = median(untraced.toSeq)
    val metrics = if (!trace) {
      val heap = heapAfterGcMb()
      val okFrac = 1.0 - failed.toDouble / attempted
      println(f"[perfbench] ${w.name} seed=$seed: steady jobs n=${untraced.length} " +
        f"failed_frac=${failed.toDouble / attempted}%.4f (${failed}/${attempted})")
      Seq(
        Metric("setup_s", setupS, "s"),
        Metric("first_job_s", firstS, "s"),
        Metric("job_s_p50", jobP50, "s"),
        Metric("items_per_s", w.items / jobP50, "1/s"),
        Metric("ok_frac", okFrac, "frac"),
        Metric("heap_after_gc_mb", heap, "MB"))
    } else layerMetrics(w, rec, traced.toSeq, outputs.toSeq, jobP50, cores)

    Files.write(work.resolve("spans.jsonl"),
      rec.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    deleteTree(inputDir)
    metrics.foreach(m => println(f"[perfbench] ${w.name} ${m.name} = ${m.value} ${m.unit}"))
    (metrics, attempted, failed)
  }

  /** Per-layer metrics: medians over the traced jobs of each span's self
    * time and of the engine counters inside it. Layers a workload does
    * not call read 0. */
  def layerMetrics(w: Workload, rec: Recorder, traced: Seq[(Int, Double)],
      outputs: Seq[JobOutput], untracedP50: Double, cores: Int): Seq[Metric] = {
    val jobs = traced.map(_._1)
    def med(f: Int => Double): Double = median(jobs.map(f))
    def self(name: String): Double = med(rec.selfSeconds(_, name))
    def root(j: Int): Span = rec.spans.find(s => s.job == j && s.name == "job").get
    val mb = 1e6
    val ingest = median(rec.spans.filter(_.job < 0).groupBy(_.job).values
      .map(_.filter(_.name == "sink.jdbc_ingest").map(_.seconds).sum).toSeq)
    val tracedOut = jobs.map(outputs)
    val cands = median(tracedOut.map(_.candidates.toDouble))
    val verified = median(tracedOut.map(_.verified.toDouble))
    Seq(
      Metric("sources.resolve_s", self("sources.resolve"), "s"),
      Metric("sources.resolve_calls", med(rec.count(_, "sources.resolve").toDouble), "count"),
      Metric("sources.scan_rows", med(j => root(j).counters.inputRows.toDouble), "rows"),
      Metric("exports.stop_scan_s", self("exports.stop_scan"), "s"),
      Metric("exports.wide_s", self("exports.wide"), "s"),
      Metric("exports.edges_s", self("exports.edges"), "s"),
      Metric("exports.locations_s", self("exports.locations"), "s"),
      Metric("exports.ordertypes_s", self("exports.ordertypes"), "s"),
      Metric("graph.detect_cycles_s", self("graph.detect_cycles"), "s"),
      Metric("graph.topo_order_s", self("graph.topo_order"), "s"),
      Metric("graph.cc_star_s", self("graph.cc_star"), "s"),
      Metric("graph.jobs", med(rec.engineJobs(_, "graph.").toDouble), "count"),
      Metric("sink.csv_write_s", self("sink.csv_write"), "s"),
      Metric("sink.csv_mb", median(tracedOut.map(_.csvBytes / mb)), "MB"),
      Metric("sink.parquet_write_s", self("sink.parquet_write"), "s"),
      Metric("sink.jdbc_ingest_s", if (ingest.isNaN) 0.0 else ingest, "s"),
      Metric("operators.exact_s", self("operators.exact"), "s"),
      Metric("operators.shingle_s", self("operators.shingle"), "s"),
      Metric("operators.minhash_s", self("operators.minhash"), "s"),
      Metric("operators.lsh_candidates_s", self("operators.lsh_candidates"), "s"),
      Metric("operators.verify_s", self("operators.verify"), "s"),
      Metric("operators.candidate_pairs", cands, "count"),
      Metric("operators.verified_pairs", verified, "count"),
      Metric("operators.lsh_precision", if (cands > 0) verified / cands else 0.0, "frac"),
      Metric("spark.jobs", med(root(_).counters.jobs.toDouble), "count"),
      Metric("spark.stages", med(root(_).counters.stages.toDouble), "count"),
      Metric("spark.tasks", med(root(_).counters.tasks.toDouble), "count"),
      Metric("spark.shuffle_read_mb", med(root(_).counters.shuffleReadBytes / mb), "MB"),
      Metric("spark.shuffle_write_mb", med(root(_).counters.shuffleWriteBytes / mb), "MB"),
      Metric("spark.spill_mb", med(root(_).counters.spillBytes / mb), "MB"),
      Metric("spark.gc_s", med(root(_).counters.gcMs / 1e3), "s"),
      Metric("spark.task_busy_s", med(root(_).counters.busyMs / 1e3), "s"),
      Metric("spark.core_util", med(j =>
        root(j).counters.busyMs / 1e3 / (root(j).seconds * cores)), "frac"),
      Metric("trace.overhead_s", median(traced.map(_._2)) - untracedP50, "s"))
  }
}
