package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{MysqlFunctions => M, TextFunctions => T}

class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("castUnsigned: MySQL CAST AS UNSIGNED semantics (prefix digits, 0 fallback)") {
    val rows = Seq("123", "123abc", "abc", "", " 42", "12;34", "0", "9x9")
      .toDF("s")
      .select(M.castUnsigned(col("s")).as("v")).as[Long].collect().toSeq
    assert(rows == Seq(123L, 123L, 0L, 0L, 42L, 12L, 0L, 9L))
  }

  test("castUnsigned: null input yields 0 (oracle coalesce parity)") {
    val v = Seq[Option[String]](None).toDF("s")
      .select(M.castUnsigned(col("s")).as("v")).as[Long].head()
    assert(v == 0L)
  }

  test("oracleRound: DuckDB double-rounding parity at boundaries") {
    // values verified against DuckDB round(CAST(x AS DOUBLE), s)
    val cases = Seq(
      (2.675, 2, 2.68), (2.665, 2, 2.67), (1.005, 2, 1.0),
      (50863.854999999996, 2, 50863.86),
      (-2.675, 2, -2.68), (-2.665, 2, -2.67),
      (0.86875, 4, 0.8688))
    cases.foreach { case (x, s, want) =>
      val got = Seq(x).toDF("x").select(M.oracleRound(col("x"), s)).as[Double].head()
      assert(got == want, s"oracleRound($x, $s) = $got, want $want")
    }
  }

  test("orderedDistinctConcat: distinct names ordered by min weight, ties by name") {
    val df = Seq(
      (1, "b", 2.0), (1, "a", 3.0), (1, "b", 9.0), (1, "c", 1.0),
      (2, "z", 1.0)).toDF("id", "name", "w")
    val got = df.groupBy("id")
      .agg(M.orderedDistinctConcat(col("name"), col("w"), ";").as("s"))
      .orderBy("id").as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "c;b;a"), (2, "z")))
  }

  test("orderedDistinctConcat: null names dropped like GROUP_CONCAT") {
    val df = Seq((1, Some("x"), 1.0), (1, None, 0.5)).toDF("id", "name", "w")
    val got = df.groupBy("id")
      .agg(M.orderedDistinctConcat(col("name"), col("w"), ";").as("s"))
      .as[(Int, String)].head()
    assert(got == (1, "x"))
  }

  test("stripNewlines matches REPLACE(REPLACE(x,'\\r',''),'\\n','')") {
    val got = Seq("a\r\nb\nc\rd").toDF("s")
      .select(M.stripNewlines(col("s"))).as[String].head()
    assert(got == "abcd")
  }

  test("sortedDistinctConcat: distinct values, sorted, joined") {
    val got = Seq((1, "b"), (1, "a"), (1, "b")).toDF("id", "v")
      .groupBy("id").agg(M.sortedDistinctConcat(col("v"), ",").as("s"))
      .as[(Int, String)].head()
    assert(got == (1, "a,b"))
  }

  test("tokens: blank and empty text yield empty arrays") {
    val got = Seq("", "   ", "a  b\tc").toDF("s")
      .select(T.tokenCount(col("s"))).as[Int].collect().toSeq
    assert(got == Seq(0, 0, 3))
  }

  test("rollingHash: deterministic, order-sensitive, bounded") {
    val df = Seq("one two three", "three two one", "one two three").toDF("s")
    val hs = df.select(T.rollingHash(col("s"))).as[Long].collect().toSeq
    assert(hs(0) == hs(2))
    assert(hs(0) != hs(1)) // order matters
    assert(hs.forall(h => h >= 0 && h < 2147483647L))
    // long repetitive text must not overflow under ANSI mode
    val long = Seq(("w " * 5000).trim).toDF("s")
    long.select(T.rollingHash(col("s"))).as[Long].head()
  }

  test("naming: identifier and filename mangling (P7/P8)") {
    import graft.functions.Naming
    assert(Naming.nameTransform("ICD-10-WHO 2nd") == "ICD_10_WHO_2nd")
    assert(Naming.nameTransform("org.openmrs.module.emrapi") == "org_openmrs_module_emrapi")
    assert(Naming.nameTransform("PIH|Name") == "PIH_Name")
    assert(Naming.squishName("Vital signs set") == "Vital-signs-set")
  }

  test("langId: picks the profile language on clear-cut text") {
    val got = Seq(
      "the cat and the dog of the house",
      "el perro y la casa de la playa que",
      "der hund und die katze ist das").toDF("s")
      .select(T.langId(col("s"))).as[String].collect().toSeq
    assert(got == Seq("en", "es", "de"))
  }

  test("tfidfTopTerms: smoothed idf, hand-computed weights, deterministic ranks") {
    import graft.operators.TextCorpus
    // N=2; df(a)=2 → idf 1.0; df(b)=df(c)=1 → idf ln(1.5)+1 ≈ 1.4055
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextCorpus.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rnk")
      .as[(Long, String, Double, Int)].collect().toSeq
    assert(got == Seq(
      (1L, "a", 2.0, 1), (1L, "b", 1.4055, 2),
      (2L, "c", 1.4055, 1), (2L, "a", 1.0, 2)))
  }

  test("bm25Rank: more/denser query-term matches rank higher; non-matching docs absent") {
    import graft.operators.TextCorpus
    val docs = Seq(
      (1L, "join hash join scan extra words here making it longer"),
      (2L, "join other words"),
      (3L, "nothing relevant at all"),
      (4L, "join hash scan")).toDF("doc_id", "text")
    val got = TextCorpus.bm25Rank(docs, "doc_id", "text",
        queryTerms = Seq("join", "hash", "scan"), k = 10)
      .as[(Long, Double, Int)].collect().toSeq.sortBy(_._3)
    assert(got.map(_._1) == Seq(4L, 1L, 2L),
      s"short all-term doc first, then long multi-term, then single-term; got $got")
    assert(!got.exists(_._1 == 3L), "doc without query terms must not appear")
    assert(got.map(_._3) == Seq(1, 2, 3))
  }

  test("native graft_md5_long is bit-identical to the conv(substring(md5)) composition") {
    assert(spark.catalog.functionExists("graft_md5_long"),
      "TestSpark must install GraftExtensions")
    val rng = new scala.util.Random(47)
    val strs = Seq("", " ", "a", "inc:123", "räksmörgås £µ€ 漢字",
      "\n\t;|", "0" * 500) ++
      Seq.fill(200)(rng.alphanumeric.take(1 + rng.nextInt(60)).mkString) ++
      Seq.fill(50)(Seq.fill(1 + rng.nextInt(20))(
        (0x20 + rng.nextInt(0x2500)).toChar).mkString)
    for (digits <- Seq(1, 8, 10, 15)) {
      val fallback = conv(substring(md5(col("s")), 1, digits), 16, 10)
        .cast("long")
      val mismatches = strs.toDF("s")
        .select(col("s"),
          call_function("graft_md5_long", col("s"), lit(digits)).as("n"),
          fallback.as("f"))
        .filter(col("n") =!= col("f") || col("n").isNull =!= col("f").isNull)
        .count()
      assert(mismatches == 0, s"digits=$digits")
    }
  }

  test("native graft_nfc / graft_is_nfc agree with the JDK Normalizer on planted and random text") {
    assert(spark.catalog.functionExists("graft_nfc"))
    assert(spark.catalog.functionExists("graft_is_nfc"))
    import java.text.Normalizer
    val rng = new scala.util.Random(53)
    val strs = Seq("", "plain ascii",
      "caf\u00e9 precomposed", "cafe\u0301 decomposed",
      "A\u030A n\u0303 multi", "\u00c5 already",
      "mixed caf\u00e9 and e\u0301",
      "s\u0323\u0307 ordered marks", "s\u0307\u0323 reordered marks") ++
      Seq.fill(100)(Seq.fill(1 + rng.nextInt(16))(
        (0x20 + rng.nextInt(0x2500)).toChar).mkString)
    val got = strs.toDF("s")
      .select(col("s"), call_function("graft_nfc", col("s")).as("n"),
        call_function("graft_is_nfc", col("s")).as("q"))
      .as[(String, String, Boolean)].collect()
    got.foreach { case (s, n, q) =>
      assert(n == Normalizer.normalize(s, Normalizer.Form.NFC),
        s"nfc mismatch for ${s.map(_.toInt.toHexString)}")
      assert(q == Normalizer.isNormalized(s, Normalizer.Form.NFC),
        s"is_nfc mismatch for ${s.map(_.toInt.toHexString)}")
      assert(q == (n == s), "quick-check must agree with normalize-identity")
    }
    // TextFunctions wrappers (native path under TestSpark) row-identical
    val plain = strs.toDF("s").select(col("s"),
      graft.functions.TextFunctions.nfc(col("s")).as("n"),
      graft.functions.TextFunctions.isNfc(col("s")).as("q"))
      .as[(String, String, Boolean)].collect()
    assert(plain.toSeq == got.toSeq)
  }

  test("columns built with no active session analyze to the native expressions") {
    import org.apache.spark.sql.SparkSession
    import graft.expressions.{Md5PrefixLong, NfcNormalize, PcmSamples}
    // a Column is built before any session analyzes it; with no session
    // active on this thread it must still hold the native call
    val prev = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    val cols =
      try Seq(T.md5Int(col("s"), 8), T.nfc(col("s")),
        graft.operators.Multimodal.pcmSamples(col("w")))
      finally prev.foreach(SparkSession.setActiveSession)
    val df = Seq(("cafe\u0301", Array.fill[Byte](48)(1))).toDF("s", "w")
      .select(cols: _*)
    val nodes = df.queryExecution.analyzed.expressions.flatMap(_.collect {
      case _: Md5PrefixLong => "md5"
      case _: NfcNormalize => "nfc"
      case _: PcmSamples => "pcm"
    })
    assert(nodes.toSet == Set("md5", "nfc", "pcm"), s"analyzed plan: $nodes")
    // 48 bytes of 0x01: two samples of 0x0101 past the 44-byte header
    val (_, n, p) = df.as[(Long, String, Seq[Int])].head()
    assert(n == "caf\u00e9" && p == Seq(257, 257))
  }

  test("QDigestAgg: rank error within log2(U)/sigma under random partitioning and merge order") {
    val sigma = 50
    val logU = 10 // tight sigma + small universe forces real compression
    val ps = Seq(0.5, 0.9, 0.99)
    val agg = new graft.functions.QDigestAgg(sigma, logU, ps)
    val rng = new scala.util.Random(7)
    // skewed mixture: heavy mass at small values + uniform tail
    val values = Array.fill(20000)(
      if (rng.nextInt(3) == 0) rng.nextInt(1 << logU).toLong
      else rng.nextInt(40).toLong)
    for (trial <- 0 until 5) {
      val r2 = new scala.util.Random(trial)
      val nParts = 1 + r2.nextInt(12)
      val parts = values.groupBy(_ => r2.nextInt(nParts)).values.toArray
      var bufs = parts.map(p => p.foldLeft(agg.zero)(agg.reduce))
      while (bufs.length > 1) { // merge in random pair order
        val i = r2.nextInt(bufs.length)
        val j0 = r2.nextInt(bufs.length - 1)
        val j = if (j0 >= i) j0 + 1 else j0
        val merged = agg.merge(bufs(i), bufs(j))
        bufs = bufs.zipWithIndex.collect {
          case (b, k) if k != i && k != j => b } :+ merged
      }
      val out = agg.finish(bufs.head)
      val n = values.length.toLong
      assert(out(ps.length) == n, "n must be conserved through merges")
      assert(out(ps.length + 1) <= 6L * sigma, "size must stay bounded")
      val bound = (logU * n + sigma - 1) / sigma
      ps.zipWithIndex.foreach { case (p, k) =>
        val est = out(k)
        val target = math.ceil(p * n).toLong
        val lo = values.count(_ < est).toLong
        val hi = values.count(_ <= est).toLong
        assert(lo <= target - 1 + bound && hi >= target - bound,
          s"trial=$trial p=$p est=$est target=$target lo=$lo hi=$hi bound=$bound")
      }
    }
    // uncompressed regime: answers are the exact upper-rank values
    val small = Array.tabulate(100)(i => i.toLong)
    val loose = new graft.functions.QDigestAgg(100000, logU, ps)
    val exact = loose.finish(small.foldLeft(loose.zero)(loose.reduce))
    assert(exact.take(3).toSeq == Seq(49L, 89L, 98L),
      s"exact-regime quantiles off: ${exact.toSeq}")
  }

  test("native graft_ac_counts equals brute-force overlap counts and the HOF fallback") {
    assert(spark.catalog.functionExists("graft_ac_counts"))
    val pats = Seq("a", "aa", "ab", "aba", "bab", "abab", "b")
    def brute(s: String, p: String): Long =
      (0 to s.length - p.length).count(i => s.regionMatches(i, p, 0, p.length))
        .toLong
    val rng = new scala.util.Random(29)
    val strs = Seq("", "a", "aaa", "ababab", "bbbb", "abba", "xyz") ++
      Seq.fill(200)(Seq.fill(rng.nextInt(30))(
        "ab" (rng.nextInt(2))).mkString) ++
      Seq.fill(50)(Seq.fill(rng.nextInt(30))(
        "abx" (rng.nextInt(3))).mkString)
    // direct automaton
    val ac = new graft.expressions.AcAutomaton(pats.toArray)
    strs.foreach { s =>
      val got = ac.countAll(s).toSeq
      val want = pats.map(p => brute(s, p))
      assert(got == want, s"countAll($s): got $got want $want")
    }
    // expression (codegen path) and composition fallback, row-identical
    val df = strs.toDF("s").select(col("s"),
      call_function("graft_ac_counts", col("s"),
        array(pats.map(lit): _*)).as("n"),
      array(pats.map { p =>
        when(length(col("s")) < p.length, lit(0L))
          .otherwise(size(filter(
            sequence(lit(1), length(col("s")) - p.length + 1),
            j => col("s").substr(j, lit(p.length)) === lit(p)))
            .cast("long"))
      }: _*).as("f"))
      .as[(String, Seq[Long], Seq[Long])].collect()
    df.foreach { case (s, n, f) =>
      assert(n == pats.map(p => brute(s, p)), s"expr mismatch on $s")
      assert(n == f, s"fallback mismatch on $s")
    }
  }

  test("PII redaction replaces every email/phone span and counts agree") {
    val rows = Seq(
      (1L, "mail a.b+c@x-corp.io and B@Y.ORG, call +4915712345678 now"),
      (2L, "no pii here, just text with an @ sign and + plus"),
      (3L, "+1234567 edge: seven digits matches, +123456 does not"),
      (4L, "")).toDF("id", "t")
    val got = rows.select(col("id"),
        graft.functions.TextFunctions.emailCount(col("t")).as("e"),
        graft.functions.TextFunctions.phoneCount(col("t")).as("p"),
        graft.functions.TextFunctions.redactPii(col("t")).as("r"))
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 2 && got(1L)._3 == 1)
    assert(got(1L)._4 == "mail <EMAIL> and <EMAIL>, call <PHONE> now")
    assert(got(2L)._2 == 0 && got(2L)._3 == 0 && got(2L)._4 == rows
      .filter(col("id") === 2).select("t").as[String].head())
    assert(got(3L)._2 == 0 && got(3L)._3 == 1)
    assert(got(3L)._4 == "<PHONE> edge: seven digits matches, +123456 does not")
    assert(got(4L)._2 == 0 && got(4L)._3 == 0 && got(4L)._4 == "")
  }

  test("native function descriptors reject wrong arity / non-numeric literals cleanly") {
    // wrong-number-of-arguments must be a proper error, not an
    // IndexOutOfBounds deep in the descriptor
    for (bad <- Seq("graft_md5_long('x')", "graft_md5_long('x', 8, 9)",
        "graft_dot(array(1.0d))", "graft_md5_long('x', 'notanumber')")) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT $bad").collect()
      }
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.contains("argument") || msg.contains("literal"),
        s"$bad should fail with an argument-count/type message, got: $msg")
    }
  }

  test("TopKAgg equals the window form on adversarial ties, any partitioning") {
    val rnd = new scala.util.Random(11)
    // heavy ties: scores drawn from just 4 values across 3 groups
    val rows = (0L until 400L).map(i =>
      (s"g${i % 3}", rnd.nextInt(4).toDouble, i))
    val df = rows.toDF("g", "s", "id")
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKAgg(5),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    def run(in: org.apache.spark.sql.DataFrame) =
      in.groupBy("g").agg(topk(col("s"), col("id")).as("t"))
        .select(col("g"), posexplode(col("t")))
        .select(col("g"), col("pos"), col("col._1").as("s"),
          col("col._2").as("id"))
        .as[(String, Int, Double, Long)].collect().toSet
    val got = run(df)
    // naive truth: sort by (s desc, id asc), take 5 per group
    val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.sortBy(r => (-r._2, r._3)).take(5).zipWithIndex
        .map { case ((_, s, id), p) => (g, p, s, id) }
    }.toSet
    assert(got == want)
    assert(run(df.repartition(17)) == want, "partitioning must not matter")
  }

  test("occurrences: literal counts, non-overlapping greedy, null-safe, empty marker rejected") {
    import spark.implicits._
    val df = Seq(
      ("abcabcab", "abc", 2L),   // plain repeats
      ("aaaa", "aa", 2L),        // overlapping input counts greedily: 2 not 3
      ("no hit", "zzz", 0L),
      ("", "x", 0L))
      .toDF("s", "m", "want")
    df.collect() // materialize before per-row markers
    val got = df.as[(String, String, Long)].collect().map { case (s, m, want) =>
      val n = Seq(s).toDF("s")
        .select(graft.functions.TextFunctions.occurrences(col("s"), m))
        .as[Long].head()
      (n, want)
    }
    got.foreach { case (n, want) => assert(n == want) }
    assert(Seq("x").toDF("s")
      .select(graft.functions.TextFunctions.occurrences(lit(null.asInstanceOf[String]), "m"))
      .as[Option[Long]].head().isEmpty, "null input stays null")
    intercept[IllegalArgumentException] {
      graft.functions.TextFunctions.occurrences(col("s"), "")
    }
  }

  test("graft_pair_counts equals the HOF composition, overlaps and repeats included") {
    import spark.implicits._
    val texts = Seq("abcabcab", "aaaa", "xy", "x", "", "batch batch batch",
      "aa") ++ // PUA merge symbols, the BPE round case
      (1 to 50).map(i => s"doc $i " * (i % 7 + 1))
    val df = texts.toDF("t")
    val native = df
      .select(explode(call_function("graft_pair_counts", col("t")))
        .as(Seq("pair", "c")))
      .groupBy("pair").agg(sum(col("c").cast("long")).as("cnt"))
      .as[(String, Long)].collect().toMap
    val hof = df.filter(length(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect().toMap
    assert(native == hof)
  }

  test("graft_vec_sum: equals posexplode+groupBy on longs and doubles; nulls and empty input") {
    import spark.implicits._
    val dfL = Seq(Seq(1L, 2L, 3L), Seq(10L, 20L, 30L), Seq(-1L, 0L, 7L))
      .toDF("a")
    val gotL = dfL.repartition(3)
      .agg(call_function("graft_vec_sum", col("a"))).as[Seq[Long]].head()
    assert(gotL == Seq(10L, 22L, 40L))
    // replay via the explode formulation this aggregate replaces
    val replay = dfL.select(posexplode(col("a")).as(Seq("i", "v")))
      .groupBy("i").agg(sum("v")).orderBy("i").as[(Int, Long)]
      .collect().map(_._2).toSeq
    assert(gotL == replay)
    val dfD = Seq(Some(Seq(0.5, 1.5)), None, Some(Seq(2.0, -0.5)))
      .toDF("a")
    assert(dfD.agg(call_function("graft_vec_sum", col("a")))
      .as[Seq[Double]].head() == Seq(2.5, 1.0)) // null row skipped
    // zero rows => NULL, like built-in sum
    assert(dfL.filter(lit(false))
      .agg(call_function("graft_vec_sum", col("a")))
      .as[Option[Seq[Long]]].head().isEmpty)
    // ragged input is an error, not a silent truncation
    val e = intercept[Exception] {
      Seq(Seq(1L, 2L), Seq(1L)).toDF("a")
        .coalesce(1).agg(call_function("graft_vec_sum", col("a"))).head()
    }
    assert(e.getMessage.contains("ragged") ||
      Option(e.getCause).exists(_.getMessage.contains("ragged")))
  }

  test("graft_vec_outer_sum: equals the nested-transform outer-product replay") {
    import spark.implicits._
    val dfL = Seq(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L), Seq(-2L, 0L, 1L))
      .toDF("a")
    val got = dfL.repartition(2)
      .agg(call_function("graft_vec_outer_sum", col("a")))
      .as[Seq[Long]].head()
    // replay via the d² explode formulation this kernel replaces
    val replay = dfL.select(explode(expr(
        "flatten(transform(a, (x, i) -> transform(a, (y, j) -> " +
          "struct(i AS i, j AS j, x * y AS p))))")).as("s"))
      .groupBy("s.i", "s.j").agg(sum("s.p").as("sp"))
      .orderBy("i", "j").as[(Int, Int, Long)].collect().map(_._3).toSeq
    assert(got == replay && got.length == 9)
    // symmetry: out[i*d+j] == out[j*d+i]
    for (i <- 0 until 3; j <- 0 until 3)
      assert(got(i * 3 + j) == got(j * 3 + i))
    // doubles too
    val gotD = Seq(Seq(0.5, 2.0)).toDF("a")
      .agg(call_function("graft_vec_outer_sum", col("a")))
      .as[Seq[Double]].head()
    assert(gotD == Seq(0.25, 1.0, 1.0, 4.0))
  }

  test("RBO nano-weight table: positive, decreasing, and sums to (1 - p^k) for identical lists") {
    val w = graft.operators.PipelineQueries.rboNanoWeights
    assert(w.size == graft.operators.PipelineQueries.rboK)
    assert(w.forall(_ > 0L))
    assert(w == w.sorted.reverse, "deeper shared ranks must weigh less")
    // two identical top-k lists share every pair at m = d, so the gate's
    // integer sum must equal the closed form (1-p)·Σ p^(d-1)·(d terms
    // telescoped) = 1 - p^k, here in nano-units with rounding slack
    val wantNanos = math.round((1 - math.pow(0.9, 20)) * 1e9)
    assert(math.abs(w.sum - wantNanos) <= w.size, s"got ${w.sum}, want ~$wantNanos")
  }
}
