package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst dot product over two `array<double>` columns.
  *
  * The built-in formulations pay real per-pair overhead in the hot
  * pair loops (millions of rows): `aggregate(zip_with(...))` allocates
  * an intermediate ArrayData per row, and an unrolled
  * `a[0]*b[0] + ... + a[63]*b[63]` expression re-checks null/bounds per
  * element across a 128-node expression tree. This expression compiles
  * to a single tight Java loop over the two ArrayData buffers inside
  * whole-stage codegen — the one place in the engine where built-ins
  * genuinely can't express the efficient form (SURVEY §7.3 preference
  * order: compose built-ins first, custom Expression second).
  *
  * Semantics: left-to-right summation over the common prefix of the two
  * arrays — bit-identical to the unrolled built-in composition kept as
  * the test reference and to the sequential SQL-oracle formulations.
  * Array ELEMENTS must be non-null (embedding vectors; undefined
  * otherwise), null INPUTS yield null via the standard null-intolerant
  * contract.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** `SparkSessionExtensions` installer: activate with
  * `.config("spark.sql.extensions", "graft.expressions.GraftExtensions")`
  * (or pass to `withExtensions`). Registers the native functions
  * (`graft_dot`, `graft_lsh_buckets`, `graft_word_shingles`,
  * `graft_minhash`, …) and the native join strategies. Required: the
  * operators call these functions unconditionally, with no built-in
  * fallback, so a session without the extension fails analysis with
  * `UNRESOLVED_ROUTINE` naming the `graft_…` function. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotProductDescriptor)
    ext.injectFunction(GraftExtensions.lshBucketsDescriptor)
    ext.injectFunction(GraftExtensions.md5PrefixLongDescriptor)
    ext.injectFunction(GraftExtensions.wordShinglesDescriptor)
    ext.injectFunction(GraftExtensions.minHashDescriptor)
    ext.injectFunction(GraftExtensions.bloomContainsDescriptor)
    ext.injectFunction(GraftExtensions.winnowSelectDescriptor)
    ext.injectFunction(GraftExtensions.pngBytesDescriptor)
    ext.injectFunction(GraftExtensions.pngDecodeDescriptor)
    ext.injectFunction(GraftExtensions.pngDhashDescriptor)
    ext.injectFunction(GraftExtensions.pngResizeDescriptor)
    ext.injectFunction(GraftExtensions.gifBytesDescriptor)
    ext.injectFunction(GraftExtensions.gifDecodeDescriptor)
    ext.injectFunction(GraftExtensions.gifResizeDescriptor)
    ext.injectFunction(GraftExtensions.aviDibBytesDescriptor)
    ext.injectFunction(GraftExtensions.aviSceneBytesDescriptor)
    ext.injectFunction(GraftExtensions.aviFrameMeansDescriptor)
    ext.injectFunction(GraftExtensions.aviRle8BytesDescriptor)
    ext.injectFunction(GraftExtensions.aviRle8FrameMeansDescriptor)
    ext.injectFunction(GraftExtensions.aviInterleavedBytesDescriptor)
    ext.injectFunction(GraftExtensions.aviInterleavedDecodeDescriptor)
    ext.injectFunction(GraftExtensions.tarBytesDescriptor)
    ext.injectFunction(GraftExtensions.tarGzBytesDescriptor)
    ext.injectFunction(GraftExtensions.tarEntriesDescriptor)
    ext.injectFunction(GraftExtensions.zipBytesDescriptor)
    ext.injectFunction(GraftExtensions.zipEntriesDescriptor)
    ext.injectFunction(GraftExtensions.cdcChunksDescriptor)
    ext.injectFunction(GraftExtensions.nfcNormalizeDescriptor)
    ext.injectFunction(GraftExtensions.isNfcDescriptor)
    ext.injectFunction(GraftExtensions.acCountsDescriptor)
    ext.injectFunction(GraftExtensions.pairCountsDescriptor)
    ext.injectFunction(GraftExtensions.deflateLenDescriptor)
    ext.injectFunction(GraftExtensions.jaroWinklerDescriptor)
    ext.injectFunction(GraftExtensions.pcmSamplesDescriptor)
    ext.injectFunction(GraftExtensions.wavPcmBytesDescriptor)
    ext.injectFunction(GraftExtensions.wavSegBytesDescriptor)
    ext.injectFunction(GraftExtensions.audioFpDescriptor)
    ext.injectFunction(GraftExtensions.lzComplexityDescriptor)
    ext.injectFunction(GraftExtensions.warcBytesDescriptor)
    ext.injectFunction(GraftExtensions.warcEntriesDescriptor)
    ext.injectFunction(GraftExtensions.vecSumDescriptor)
    ext.injectFunction(GraftExtensions.vecOuterSumDescriptor)
    ext.injectFunction(GraftExtensions.probeCellsDescriptor)
    // §7.3(c): whole-operator strategies for the native as-of join
    // and the native banded range join
    ext.injectPlannerStrategy(_ => graft.plans.AsofStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.BandStrategy)
    // …and the optimizer rule that reroutes PLAIN-syntax band joins
    // (lk === rk && abs(lt − rt) <= lit(gap)) to the native operator,
    // so users get the merge-pass plan without knowing the API exists
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
  }
}

object GraftExtensions {

  /** `graft_vec_sum(arr)` — native elementwise array-sum aggregate. */
  val vecSumDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_vec_sum"),
      new ExpressionInfo(classOf[VecSumAgg].getName, "graft_vec_sum"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_vec_sum takes exactly 1 argument, got ${children.length}")
        VecSumAgg(children.head)
      })

  /** `graft_vec_outer_sum(arr)` — native outer-product-sum aggregate. */
  val vecOuterSumDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_vec_outer_sum"),
      new ExpressionInfo(classOf[VecOuterSumAgg].getName, "graft_vec_outer_sum"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_vec_outer_sum takes exactly 1 argument, got ${children.length}")
        VecOuterSumAgg(children.head)
      })

  /** `graft_probe_cells(vec, centers, nprobe)` — nprobe nearest
    * coarse-quantizer cells by (sqdist, cell); `centers` must be a
    * foldable `array<array<double>>` literal (the fit-derived centroid
    * matrix, baked into the generated code) and `nprobe` a foldable
    * numeric literal. */
  val probeCellsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_probe_cells"),
      new ExpressionInfo(classOf[ProbeCells].getName, "graft_probe_cells"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_probe_cells takes exactly 3 arguments, got ${children.length}")
        require(children(1).foldable,
          "graft_probe_cells centers must be a literal array<array<double>>")
        require(children(2).foldable &&
            children(2).eval().isInstanceOf[Number],
          "graft_probe_cells nprobe must be a numeric literal")
        val rows = children(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val nlist = rows.numElements()
        require(nlist > 0, "graft_probe_cells centers must be non-empty")
        val first = rows.getArray(0)
        val dim = first.numElements()
        val flat = new Array[Double](nlist * dim)
        var i = 0
        while (i < nlist) {
          val r = rows.getArray(i)
          require(r.numElements() == dim,
            s"graft_probe_cells centers must be rectangular: row $i has " +
              s"${r.numElements()} values, row 0 has $dim")
          var j = 0
          while (j < dim) { flat(i * dim + j) = r.getDouble(j); j += 1 }
          i += 1
        }
        ProbeCells(children.head, flat, nlist, dim,
          children(2).eval().asInstanceOf[Number].intValue)
      })

  val dotProductDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_dot takes exactly 2 arguments, got ${children.length}")
        DotProduct(children(0), children(1))
      })

  /** `graft_lsh_buckets(vec, bands, planesPerBand, dim, seed)` — the
    * non-vector arguments must be foldable literals (they parameterize
    * the generated code, not per-row inputs). */
  val lshBucketsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_lsh_buckets"),
      new ExpressionInfo(classOf[LshBuckets].getName, "graft_lsh_buckets"),
      (children: Seq[Expression]) => {
        require(children.length == 5,
          s"graft_lsh_buckets takes exactly 5 arguments, got ${children.length}")
        def intArg(i: Int): Int = {
          require(children(i).foldable,
            s"graft_lsh_buckets argument $i must be a literal")
          require(children(i).eval().isInstanceOf[Number],
            s"graft_lsh_buckets argument $i must be a numeric literal")
          children(i).eval().asInstanceOf[Number].intValue
        }
        def longArg(i: Int): Long = {
          require(children(i).foldable,
            s"graft_lsh_buckets argument $i must be a literal")
          require(children(i).eval().isInstanceOf[Number],
            s"graft_lsh_buckets argument $i must be a numeric literal")
          children(i).eval().asInstanceOf[Number].longValue
        }
        LshBuckets(children.head, intArg(1), intArg(2), intArg(3), longArg(4))
      })

  /** `graft_md5_long(str, hexDigits)` — hexDigits must be a foldable
    * literal (it parameterizes the generated code). */
  val md5PrefixLongDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_md5_long"),
      new ExpressionInfo(classOf[Md5PrefixLong].getName, "graft_md5_long"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_md5_long takes exactly 2 arguments, got ${children.length}")
        require(children(1).foldable,
          "graft_md5_long hexDigits must be a literal")
        require(children(1).eval().isInstanceOf[Number],
          "graft_md5_long hexDigits must be a numeric literal")
        Md5PrefixLong(children.head,
          children(1).eval().asInstanceOf[Number].intValue)
      })

  /** `graft_word_shingles(text, n)` — the distinct word n-grams of a
    * document (see [[WordShingles]]); `n` must be a foldable literal. */
  val wordShinglesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_word_shingles"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_word_shingles takes exactly 2 arguments, got ${children.length}")
        require(children(1).foldable &&
            children(1).eval().isInstanceOf[Number],
          "graft_word_shingles n must be a numeric literal")
        WordShingles(children.head,
          children(1).eval().asInstanceOf[Number].intValue)
      })

  /** `graft_minhash(shingles, numHashes)` — the MinHash signature of a
    * shingle set (see [[MinHashSignature]]); `numHashes` must be a
    * foldable literal. */
  val minHashDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_minhash takes exactly 2 arguments, got ${children.length}")
        require(children(1).foldable &&
            children(1).eval().isInstanceOf[Number],
          "graft_minhash numHashes must be a numeric literal")
        MinHashSignature(children.head,
          children(1).eval().asInstanceOf[Number].intValue)
      })

  /** `graft_nfc(str)` — Unicode NFC canonical composition (see
    * [[NfcNormalize]]). */
  val nfcNormalizeDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_nfc takes exactly 1 argument, got ${children.length}")
        NfcNormalize(children.head)
      })

  /** `graft_is_nfc(str)` — quick-check NFC membership (see
    * [[IsNfc]]). */
  val isNfcDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_is_nfc"),
      new ExpressionInfo(classOf[IsNfc].getName, "graft_is_nfc"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_is_nfc takes exactly 1 argument, got ${children.length}")
        IsNfc(children.head)
      })

  /** `graft_ac_counts(text, patterns)` — Aho-Corasick all-occurrence
    * counts; `patterns` must be a foldable array of string literals
    * (it parameterizes the automaton built at plan time). */
  val acCountsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_ac_counts"),
      new ExpressionInfo(classOf[MultiPatternCounts].getName, "graft_ac_counts"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_ac_counts takes exactly 2 arguments, got ${children.length}")
        require(children(1).foldable,
          "graft_ac_counts patterns must be a literal array")
        val arr = children(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val pats = (0 until arr.numElements()).map(i =>
          arr.getUTF8String(i).toString)
        MultiPatternCounts(children.head, pats)
      })

  /** `graft_pair_counts(str)` — per-row adjacent-character-pair count
    * map (see [[PairCounts]], the BPE-fit inner loop). */
  val pairCountsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_pair_counts"),
      new ExpressionInfo(classOf[PairCounts].getName, "graft_pair_counts"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_pair_counts takes exactly 1 argument, got ${children.length}")
        PairCounts(children.head)
      })

  /** `graft_deflate_len(str)` — zlib-deflated byte length of the
    * string's UTF-8 bytes (see [[DeflateLen]], the compression-ratio
    * quality signal). */
  val deflateLenDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_deflate_len"),
      new ExpressionInfo(classOf[DeflateLen].getName, "graft_deflate_len"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_deflate_len takes exactly 1 argument, got ${children.length}")
        DeflateLen(children.head)
      })

  /** `graft_pcm_samples(wav_binary)` — all signed 16-bit LE samples of
    * a canonical-header WAV as array<int> (see [[PcmSamples]]). */
  val pcmSamplesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_pcm_samples"),
      new ExpressionInfo(classOf[PcmSamples].getName, "graft_pcm_samples"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_pcm_samples takes exactly 1 argument, got ${children.length}")
        PcmSamples(children.head)
      })

  /** `graft_wav_pcm_bytes(rate, channels, nSamples, docId)` — the
    * md5-payload canonical WAV generator (see [[WavPcmBytes]]). */
  val wavPcmBytesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_wav_pcm_bytes"),
      new ExpressionInfo(classOf[WavPcmBytes].getName, "graft_wav_pcm_bytes"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          s"graft_wav_pcm_bytes takes exactly 4 arguments, got ${children.length}")
        WavPcmBytes(children(0), children(1), children(2), children(3))
      })

  /** `graft_wav_seg_bytes(rate, channels, nSamples, docId)` — the
    * loudness-segment WAV (1024-sample segments, md5 amplitudes; see
    * [[WavSegBytes]]). */
  val wavSegBytesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_wav_seg_bytes"),
      new ExpressionInfo(classOf[WavSegBytes].getName, "graft_wav_seg_bytes"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          s"graft_wav_seg_bytes takes exactly 4 arguments, got ${children.length}")
        WavSegBytes(children(0), children(1), children(2), children(3))
      })

  /** `graft_audio_fp(wav_binary, frameLen)` — envelope+zero-crossing
    * gradient fingerprint (see [[AudioEnvelopeFp]]); frameLen must be
    * a foldable literal (it parameterizes the loop). */
  val audioFpDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_audio_fp"),
      new ExpressionInfo(classOf[AudioEnvelopeFp].getName, "graft_audio_fp"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_audio_fp takes exactly 2 arguments, got ${children.length}")
        require(children(1).foldable &&
            children(1).eval().isInstanceOf[Number],
          "graft_audio_fp frameLen must be a numeric literal")
        AudioEnvelopeFp(children.head,
          children(1).eval().asInstanceOf[Number].intValue)
      })

  /** `graft_jaro_winkler(str, str)` — byte-level Jaro–Winkler
    * similarity (see [[JaroWinkler]], the blocked fuzzy-match scorer). */
  val jaroWinklerDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "graft_jaro_winkler"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_jaro_winkler takes exactly 2 arguments, got ${children.length}")
        JaroWinkler(children(0), children(1))
      })

  /** `graft_bloom_contains(filter, hash)` — probe a serialized
    * `org.apache.spark.util.sketch.BloomFilter` (as built by
    * `Dataset.stat.bloomFilter` over a LONG column) with a long key.
    * Wraps the predicate Spark's own runtime-filter rewrite uses
    * (`BloomFilterMightContain`, codegen'd: one deserialize per task,
    * then bit probes), exposed as a function so a USER-level plan can
    * carry a pre-built filter as a broadcast-sized literal — the
    * 100 TB decontamination prefilter shape (q114). The filter
    * argument must be a foldable binary (the expression's own
    * contract); the key must be the same hash family the filter was
    * built over (the engine uses `xxhash64`). */
  val bloomContainsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_bloom_contains"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_bloom_contains takes exactly 2 arguments, got ${children.length}")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))
      })

  /** `graft_warc_bytes(members)` — WARC/1.0 shard file from ordered
    * `array<struct<doc_id, text>>` members (see [[WarcBytes]]). */
  val warcBytesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_warc_bytes"),
      new ExpressionInfo(classOf[WarcBytes].getName, "graft_warc_bytes"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_warc_bytes takes exactly 1 argument, got ${children.length}")
        WarcBytes(children.head)
      })

  /** `graft_warc_entries(binary)` — strict WARC walk → record metadata
    * + payload digests, NULL on any non-conforming byte (see
    * [[WarcEntries]]). */
  val warcEntriesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_warc_entries"),
      new ExpressionInfo(classOf[WarcEntries].getName, "graft_warc_entries"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_warc_entries takes exactly 1 argument, got ${children.length}")
        WarcEntries(children.head)
      })

  /** `graft_lz76(text, maxChars)` — LZ76 phrase complexity of the
    * first maxChars characters (see [[LzComplexity]]); maxChars must
    * be a foldable numeric literal (it bounds the per-row work). */
  val lzComplexityDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_lz76"),
      new ExpressionInfo(classOf[LzComplexity].getName, "graft_lz76"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_lz76 takes exactly 2 arguments, got ${children.length}")
        require(children(1).foldable && children(1).eval().isInstanceOf[Number],
          "graft_lz76 maxChars must be a numeric literal")
        LzComplexity(children.head,
          children(1).eval().asInstanceOf[Number].intValue)
      })

  /** `graft_winnow(text, gram, window)` — gram and window must be
    * foldable numeric literals (they parameterize the generated
    * code). */
  val winnowSelectDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[WinnowSelect].getName, "graft_winnow"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_winnow takes exactly 3 arguments, got ${children.length}")
        def intArg(i: Int): Int = {
          require(children(i).foldable,
            s"graft_winnow argument $i must be a literal")
          require(children(i).eval().isInstanceOf[Number],
            s"graft_winnow argument $i must be a numeric literal")
          children(i).eval().asInstanceOf[Number].intValue
        }
        WinnowSelect(children.head, intArg(1), intArg(2))
      })

  /** `graft_png_bytes(width, height, docId[, brightness])` — real
    * 8-bit RGB PNG payload with md5-derived pixels; the optional
    * brightness delta (clamped per channel) plants photometric
    * near-duplicates (see [[PngBytes]]). */
  val pngBytesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_png_bytes"),
      new ExpressionInfo(classOf[PngBytes].getName, "graft_png_bytes"),
      (children: Seq[Expression]) => {
        require(children.length == 3 || children.length == 4,
          s"graft_png_bytes takes 3 or 4 arguments, got ${children.length}")
        val delta = if (children.length == 4) children(3)
          else org.apache.spark.sql.catalyst.expressions.Literal(0)
        PngBytes(children(0), children(1), children(2), delta)
      })

  /** `graft_png_dhash(binary)` — perceptual difference-hash of a
    * decoded PNG as four 16-bit bands (see [[PngDhash]]; the bands
    * are the LSH buckets of the image near-dup join). */
  val pngDhashDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_png_dhash"),
      new ExpressionInfo(classOf[PngDhash].getName, "graft_png_dhash"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_png_dhash takes exactly 1 argument, got ${children.length}")
        PngDhash(children.head)
      })

  /** `graft_png_decode(binary)` — full PNG decode (chunk walk + CRC +
    * inflate + un-filter) → stats struct, NULL if non-conforming. */
  val pngDecodeDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_png_decode"),
      new ExpressionInfo(classOf[PngDecode].getName, "graft_png_decode"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_png_decode takes exactly 1 argument, got ${children.length}")
        PngDecode(children.head)
      })

  /** `graft_png_resize(binary, w2, h2)` — full decode, NN resample,
    * re-encode (see [[PngResize]]). */
  val pngResizeDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_png_resize"),
      new ExpressionInfo(classOf[PngResize].getName, "graft_png_resize"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_png_resize takes exactly 3 arguments, got ${children.length}")
        PngResize(children(0), children(1), children(2))
      })

  /** `graft_gif_bytes(width, height, docId)` — real GIF87a with a
    * from-scratch LZW compressor, md5-derived palette indices (see
    * [[GifBytes]]). */
  val gifBytesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_gif_bytes"),
      new ExpressionInfo(classOf[GifBytes].getName, "graft_gif_bytes"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_gif_bytes takes exactly 3 arguments, got ${children.length}")
        GifBytes(children(0), children(1), children(2))
      })

  /** `graft_gif_decode(binary)` — strict GIF87a walk + LZW decode →
    * index-histogram struct, NULL if non-conforming. */
  val gifDecodeDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_gif_decode"),
      new ExpressionInfo(classOf[GifDecode].getName, "graft_gif_decode"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_gif_decode takes exactly 1 argument, got ${children.length}")
        GifDecode(children.head)
      })

  /** `graft_gif_resize(binary, w2, h2)` — decode + nearest-neighbor
    * resample → the same stats struct as decode (see [[GifResize]]). */
  val gifResizeDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_gif_resize"),
      new ExpressionInfo(classOf[GifResize].getName, "graft_gif_resize"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_gif_resize takes exactly 3 arguments, got ${children.length}")
        GifResize(children(0), children(1), children(2))
      })

  /** `graft_avi_dib_bytes(w, h, nFrames, usPerFrame, docId)` — canonical
    * AVI with uncompressed-DIB frames, md5-derived pixels (see
    * [[AviDibBytes]]). */
  val aviDibBytesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_avi_dib_bytes"),
      new ExpressionInfo(classOf[AviDibBytes].getName, "graft_avi_dib_bytes"),
      (children: Seq[Expression]) => {
        require(children.length == 5,
          s"graft_avi_dib_bytes takes exactly 5 arguments, got ${children.length}")
        AviDibBytes(children(0), children(1), children(2), children(3),
          children(4))
      })

  /** `graft_avi_scene_bytes(w, h, nFrames, usPerFrame, docId)` — the
    * scene-structured AVI (shots of 4 + id % 3 frames, per-(shot,
    * channel) md5 base + per-byte noise; see [[AviSceneBytes]]). */
  val aviSceneBytesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_avi_scene_bytes"),
      new ExpressionInfo(classOf[AviSceneBytes].getName, "graft_avi_scene_bytes"),
      (children: Seq[Expression]) => {
        require(children.length == 5,
          s"graft_avi_scene_bytes takes exactly 5 arguments, got ${children.length}")
        AviSceneBytes(children(0), children(1), children(2), children(3),
          children(4))
      })

  /** `graft_avi_frames(binary)` — full AVI-DIB demux+decode (grammar
    * walk + per-frame channel means), NULL if non-conforming. */
  val aviFrameMeansDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_avi_frames"),
      new ExpressionInfo(classOf[AviFrameMeans].getName, "graft_avi_frames"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_avi_frames takes exactly 1 argument, got ${children.length}")
        AviFrameMeans(children.head)
      })

  /** `graft_avi_rle8_bytes(w, h, nFrames, usPerFrame, docId)` — AVI
    * with MS-RLE8-compressed palettized frames (see [[AviRle8Bytes]]). */
  val aviRle8BytesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_avi_rle8_bytes"),
      new ExpressionInfo(classOf[AviRle8Bytes].getName, "graft_avi_rle8_bytes"),
      (children: Seq[Expression]) => {
        require(children.length == 5,
          s"graft_avi_rle8_bytes takes exactly 5 arguments, got ${children.length}")
        AviRle8Bytes(children(0), children(1), children(2), children(3),
          children(4))
      })

  /** `graft_avi_rle8_frames(avi_binary)` — demux + real RLE8 decode →
    * per-frame palette-mapped channel means (see [[AviRle8FrameMeans]]). */
  val aviRle8FrameMeansDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_avi_rle8_frames"),
      new ExpressionInfo(classOf[AviRle8FrameMeans].getName, "graft_avi_rle8_frames"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_avi_rle8_frames takes exactly 1 argument, got ${children.length}")
        AviRle8FrameMeans(children.head)
      })

  /** `graft_avi_av_bytes(w, h, nFrames, usPerFrame, sampleRate,
    * samplesPerFrame, docId)` — two-stream interleaved AVI (DIB video
    * + PCM audio), md5-derived content (see [[AviInterleavedBytes]]). */
  val aviInterleavedBytesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_avi_av_bytes"),
      new ExpressionInfo(classOf[AviInterleavedBytes].getName, "graft_avi_av_bytes"),
      (children: Seq[Expression]) => {
        require(children.length == 7,
          s"graft_avi_av_bytes takes exactly 7 arguments, got ${children.length}")
        AviInterleavedBytes(children(0), children(1), children(2),
          children(3), children(4), children(5), children(6))
      })

  /** `graft_avi_av_decode(binary)` — two-stream AVI demux+decode
    * (frame means + per-chunk PCM rms/peak), NULL if non-conforming. */
  val aviInterleavedDecodeDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_avi_av_decode"),
      new ExpressionInfo(classOf[AviInterleavedDecode].getName, "graft_avi_av_decode"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_avi_av_decode takes exactly 1 argument, got ${children.length}")
        AviInterleavedDecode(children.head)
      })

  /** `graft_tar_bytes(array<struct<doc_id, text>>)` — USTAR shard of
    * one member file per doc (see [[TarBytes]]). */
  val tarBytesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_tar_bytes"),
      new ExpressionInfo(classOf[TarBytes].getName, "graft_tar_bytes"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_tar_bytes takes exactly 1 argument, got ${children.length}")
        TarBytes(children.head, gzipMembers = false)
      })

  /** `graft_targz_bytes(array<struct<doc_id, text>>)` — USTAR shard
    * with per-member GZIP payloads, the WebDataset `.gz` convention
    * (see [[TarBytes]]). */
  val tarGzBytesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_targz_bytes"),
      new ExpressionInfo(classOf[TarBytes].getName, "graft_targz_bytes"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_targz_bytes takes exactly 1 argument, got ${children.length}")
        TarBytes(children.head, gzipMembers = true)
      })

  /** `graft_tar_entries(binary)` — USTAR walk (checksum/magic/padding
    * verified) → entry metadata + payload digests, NULL if corrupt. */
  val tarEntriesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_tar_entries"),
      new ExpressionInfo(classOf[TarEntries].getName, "graft_tar_entries"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_tar_entries takes exactly 1 argument, got ${children.length}")
        TarEntries(children.head)
      })

  /** `graft_zip_bytes(array<struct<doc_id, text>>)` — STORED-method
    * PKZIP archive with a central directory (see [[ZipBytes]]). */
  val zipBytesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_zip_bytes"),
      new ExpressionInfo(classOf[ZipBytes].getName, "graft_zip_bytes"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_zip_bytes takes exactly 1 argument, got ${children.length}")
        ZipBytes(children.head)
      })

  /** `graft_zip_entries(binary)` — central-directory walk with local-
    * header cross-validation and per-member CRC-32 verification (see
    * [[ZipEntries]]). */
  val zipEntriesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_zip_entries"),
      new ExpressionInfo(classOf[ZipEntries].getName, "graft_zip_entries"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_zip_entries takes exactly 1 argument, got ${children.length}")
        ZipEntries(children.head)
      })

  /** `graft_cdc_chunks(text, window, mask)` — content-defined chunk
    * list (see [[CdcChunks]]); window and mask must be literals (they
    * parameterize the generated code). */
  val cdcChunksDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "graft_cdc_chunks"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_cdc_chunks takes exactly 3 arguments, got ${children.length}")
        def intArg(i: Int): Int = {
          require(children(i).foldable,
            s"graft_cdc_chunks argument $i must be a literal")
          require(children(i).eval().isInstanceOf[Number],
            s"graft_cdc_chunks argument $i must be a numeric literal")
          children(i).eval().asInstanceOf[Number].intValue
        }
        CdcChunks(children.head, intArg(1), intArg(2))
      })
}
