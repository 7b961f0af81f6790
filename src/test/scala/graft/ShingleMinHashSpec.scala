package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{MinHashSignature, WordShingles}
import graft.operators.Dedup

/** The native shingle and MinHash kernels against the compositions they
  * replaced ([[DedupReference]]), on seeded adversarial inputs, through
  * both generated code and `eval`; and the plan and job shape of the
  * two corpus stages built on them. */
class ShingleMinHashSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Java \s separators, Unicode spaces that are not \s, and words with
  // non-ASCII letters, combining marks and surrogate pairs
  private val words = Seq("a", "b", "ab", "the", "fox", "\u00fc",
    "\u65e5\u672c", "\uD83D\uDE00", "\uD834\uDD1Ex", "e\u0301",
    "a\u00a0b", "x\u2003y", "q\u3000", "\u0085", "\u001c", "\u2028z")
  private val seps = Seq(" ", " ", "  ", "\t", "\n", "\r\n", "\u000b", "\f",
    " \t ", "\u00a0", "\u2003", "\u3000")
  private val edges = Seq("", "", " ", "  ", "\t", " \t", "\n ", "\r\n",
    "\u000b", "\f", "\u00a0", "\t\u2003")
  private val fixed: Seq[Option[String]] = Seq(None, Some(""), Some(" "),
    Some("   "), Some("\t"), Some(" \t "), Some("\n"), Some("\u00a0"),
    Some("a"), Some("a b"), Some("a a a a a a"), Some("a b a b a b a"),
    Some("\ta"), Some("a\t"), Some(" a "), Some("\t\ta b\t"),
    Some("a  b   c"), Some("x y z x y z x y z"))

  private def adversarialTexts(seed: Int, count: Int): Seq[Option[String]] = {
    val rng = new scala.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.length))
    fixed ++ Seq.fill(count) {
      val k = rng.nextInt(13)
      val body = (0 until k).map(i =>
        (if (i > 0) pick(seps) else "") + pick(words)).mkString
      Some(pick(edges) + body + pick(edges))
    }
  }

  /** Rows `(id, text)`; the tail rows hold malformed UTF-8, which the
    * binary → string cast passes through unchanged. */
  private def textFrame(seed: Int, count: Int): DataFrame = {
    val valid = adversarialTexts(seed, count).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val bad = Seq(
      Array[Byte](0xff.toByte, ' ', 'a', ' ', 'b'),
      Array[Byte]('a', ' ', 0xc3.toByte),
      Array[Byte](0xed.toByte, 0xa0.toByte, 0x80.toByte, '\t', 'x', ' ', 'y'),
      Array[Byte]('a', 0x80.toByte, ' ', 'b', ' ', 'c', ' ', 'd'),
      // two different malformed bytes decode to the same U+FFFD shingle
      Array[Byte](0xff.toByte, ' ', 'a', ' ', 0xfe.toByte, ' ', 'a'))
      .zipWithIndex.map { case (b, i) => (100000L + i, b) }.toDF("id", "bin")
      .select(col("id"), col("bin").cast("string").as("text"))
    valid.unionByName(bad)
  }

  /** Runs `df`; true when a whole-stage codegen subtree of its final
    * plan evaluates an expression of class `cls`. */
  private def codegens(df: DataFrame, cls: Class[_]): Boolean = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
      .exists(_.child.exists(_.expressions.exists(_.exists(cls.isInstance))))
  }

  private def hex(bytes: Array[Byte]): String = bytes.map(b => f"$b%02x").mkString

  /** Shingles as hex bytes: decoding to Java strings would hide
    * malformed UTF-8. */
  private def hexes(a: ArrayData): Seq[String] =
    a.toArray[UTF8String](StringType).toSeq.map(u => hex(u.getBytes))

  private def hexShingles(df: DataFrame): Map[Long, Seq[String]] =
    df.select(col("id"), col("sh").cast("array<binary>"))
      .as[(Long, Seq[Array[Byte]])].collect()
      .map { case (id, bs) => id -> bs.map(hex) }.toMap

  test("native word shingles equal the transform composition on adversarial text (codegen and eval)") {
    val texts = textFrame(seed = 20260419, count = 600)
    for (n <- Seq(1, 2, 3, 5)) {
      // the repartition keeps the projection out of the optimizer's
      // local-relation folding, so it runs as generated code (in its
      // own projection: a lambda in the same one would disable it)
      val native = texts.repartition(3).select(col("id"),
        Dedup.shingles(col("text"), n).as("sh"))
      assert(codegens(native, classOf[WordShingles]),
        "graft_word_shingles must run inside whole-stage codegen")
      val nat = hexShingles(native)
      val ref = hexShingles(texts.select(col("id"),
        DedupReference.shingles(col("text"), n).as("sh")))
      val textOf = texts.as[(Long, Option[String])].collect().toMap
      assert(nat.size == ref.size && ref.size == textOf.size)
      ref.foreach { case (id, r) =>
        val text = textOf(id)
        assert(nat(id) == r, s"n=$n id=$id text=${text.map(_.map(_.toInt))}")
        if (id < 100000L) {
          val evaluated = WordShingles(
            Literal.create(text.map(UTF8String.fromString).orNull, StringType), n).eval()
          assert(hexes(evaluated.asInstanceOf[ArrayData]) == r, s"eval n=$n id=$id")
        }
      }
    }
    // eval over malformed bytes: decoded as Spark's split decodes them,
    // so the two malformed bytes give one U+FFFD shingle
    val raw = UTF8String.fromBytes(
      Array[Byte](0xff.toByte, ' ', 'a', ' ', 0xfe.toByte, ' ', 'a'))
    assert(WordShingles(Literal.create(raw, StringType), 2).eval()
      .asInstanceOf[ArrayData].toArray[UTF8String](StringType).toSeq
      .map(_.toString) == Seq("\ufffd a", "a \ufffd"))
  }

  /** Rows `(id, __sh)`: shingle sets with duplicates, null elements,
    * all-null, empty and null sets. */
  private def setFrame(seed: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    val pool = adversarialTexts(seed, 200).flatten
    val sets: Seq[Option[Seq[String]]] =
      Seq(None, Some(Seq()), Some(Seq(null)), Some(Seq(null, null)),
        Some(Seq("")), Some(Seq("a b c", "a b c")), Some(Seq(null, "x", null))) ++
        Seq.fill(300) {
          Some(Seq.fill(rng.nextInt(30)) {
            rng.nextInt(10) match {
              case 0 => null
              case 1 => "dup shingle"
              case _ => pool(rng.nextInt(pool.length))
            }
          })
        }
    sets.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "__sh")
  }

  test("native MinHash equals the explode/aggregate and array_min compositions (codegen and eval)") {
    val sets = setFrame(seed = 4177)
    val local = sets.as[(Long, Option[Seq[String]])].collect().toMap
    def sigs(df: DataFrame): Map[Long, Seq[java.lang.Long]] =
      df.as[(Long, Seq[java.lang.Long])].collect().toMap
    for (k <- Seq(1, 16, 64)) {
      val rowForm = sets.repartition(3).select(col("id"),
        Dedup.minHashSigRow(col("__sh"), k).as("sig"))
      val natRows = sigs(rowForm)
      assert(codegens(rowForm, classOf[MinHashSignature]),
        "graft_minhash must run inside whole-stage codegen")
      val refRows = sigs(sets.select(col("id"),
        DedupReference.minHashSigRow(col("__sh"), k).as("sig")))
      assert(natRows.size == local.size && refRows.size == local.size)
      refRows.foreach { case (id, ref) =>
        assert(natRows(id) == ref, s"row form k=$k id=$id set=${local(id)}")
        assert(ref.length == k)
        val set = local(id).map(s => new GenericArrayData(
          s.map(x => if (x == null) null else UTF8String.fromString(x)).toArray[Any]))
        val evaluated = MinHashSignature(Literal.create(set.orNull,
          ArrayType(StringType)), k).eval().asInstanceOf[ArrayData]
        val evalSeq = (0 until k).map(i =>
          if (evaluated.isNullAt(i)) null else java.lang.Long.valueOf(evaluated.getLong(i)))
        assert(evalSeq == ref, s"eval k=$k id=$id")
      }
      // batch form: rows whose set is empty or null have no signature
      val nat = sigs(Dedup.minHashSigsFromSets(sets, "id", k))
      val ref = sigs(DedupReference.minHashSigsFromSets(sets, "id", k))
      assert(nat == ref, s"batch form k=$k")
      assert(nat.keySet == local.collect {
        case (id, Some(s)) if s.nonEmpty => id }.toSet)
    }
  }

  test("graft_word_shingles and graft_minhash reject out-of-range sizes") {
    val df = Seq("a b c").toDF("text")
    intercept[Exception](df.select(Dedup.shingles(col("text"), 0)).collect())
    intercept[Exception](df.select(Dedup.minHashSigRow(
      Dedup.shingles(col("text"), 2), 0)).collect())
    intercept[Exception](df.select(Dedup.minHashSigRow(
      Dedup.shingles(col("text"), 2), MinHashSignature.MaxHashes + 1)).collect())
  }

  test("shingle and MinHash stages: no lambda, no explode or shuffle, one Spark job to sign") {
    val rng = new scala.util.Random(31)
    val docs = (0L until 400L).map(i =>
      (i, Seq.fill(5 + rng.nextInt(40))("w" + rng.nextInt(50)).mkString(" ")))
      .toDF("doc_id", "text")
    val checkpoints = new ConcurrentLinkedQueue[QueryExecution]()
    val qel = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (funcName == "localCheckpoint") checkpoints.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // listener events arrive asynchronously
    def nextCheckpoint(): QueryExecution = {
      val deadline = System.nanoTime() + 20000000000L
      while (checkpoints.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!checkpoints.isEmpty, "no localCheckpoint execution was reported")
      checkpoints.poll()
    }
    def exprs(qe: QueryExecution): Seq[Expression] =
      qe.optimizedPlan.collect { case p => p.expressions }.flatten
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(listener)
    try {
      val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
      val setsQe = nextCheckpoint()
      assert(!exprs(setsQe).exists(_.exists(_.isInstanceOf[LambdaFunction])),
        s"shingleSets plan holds a lambda:\n${setsQe.optimizedPlan}")

      Thread.sleep(300)
      checkpoints.clear()
      jobs.set(0)
      val sigs = Dedup.minHashSigsFromSets(sets, "doc_id", 64)
      val sigQe = nextCheckpoint()
      Thread.sleep(300)
      assert(sigQe.optimizedPlan.collect { case g: Generate => g }.isEmpty,
        s"minHashSigsFromSets explodes:\n${sigQe.optimizedPlan}")
      assert(collect(sigQe.executedPlan) { case e: Exchange => e }.isEmpty,
        s"minHashSigsFromSets shuffles:\n${sigQe.executedPlan}")
      assert(jobs.get == 1, s"minHashSigsFromSets ran ${jobs.get} Spark jobs")
      assert(sigs.count() == 400L)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qel)
    }
  }
}
