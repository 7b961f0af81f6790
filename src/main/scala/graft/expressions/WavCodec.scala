package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType}

/** Native WAV kernels behind [[graft.operators.Multimodal]]:
  *
  * [[WavPcmBytes]] builds the canonical RIFF/fmt/data container with
  * the md5-derived non-silent 16-bit PCM payload — BYTE-identical to
  * the hex-assembly Column form kept as a test reference (asserted in
  * AudioEmbedSpec), which evaluates one interpreted md5+concat
  * lambda per sample (~2 s of q262's wall at sf0.1 for 3M samples);
  * here the samples are a tight MessageDigest loop into a ByteBuffer.
  *
  * [[AudioEnvelopeFp]] is the whole q262 fingerprint as ONE codegen'd
  * call: decode every signed 16-bit LE sample, frame the clip, and
  * pack [energy gradient | zero-crossing gradient] sign bits — the
  * map-only shape that replaces a 512×-explode + two windows + two
  * aggregations (the composed form's 3M-row shuffle at sf0.1 becomes
  * zero). Semantics pinned to the composed/oracle closed form:
  * frames of `frameLen` samples, T = nFrames−1 transitions,
  * fp = Σ_{f<T} [e(f+1)>e(f)]«f  +  Σ_{f<T} [z(f+1)>z(f)]«(f+T),
  * where z counts WITHIN-frame sign boundaries ((s≥0) flips between
  * consecutive samples, frame-local — the first sample of a frame
  * never compares against the previous frame). */
case class WavPcmBytes(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
  extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(first, second, third).forall(_.dataType.isInstanceOf[IntegerType]) &&
        fourth.dataType.isInstanceOf[LongType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_wav_pcm_bytes requires (int rate, int channels, " +
        "int nSamples, long docId), got " +
        Seq(first, second, third, fourth).map(_.dataType).mkString(", "))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_wav_pcm_bytes"

  override def nullSafeEval(r: Any, c: Any, n: Any, id: Any): Any =
    WavPcmBytes.build(r.asInstanceOf[Int], c.asInstanceOf[Int],
      n.asInstanceOf[Int], id.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, c, n, id) =>
      s"${ev.value} = graft.expressions.WavPcmBytes.build($r, $c, $n, $id);")

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression, q: Expression): WavPcmBytes =
    copy(f, s, t, q)
}

object WavPcmBytes {
  private val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Unsigned 16-bit PCM bit pattern for flat sample index `j`:
    * first 8 hex digits of md5("pcm:id:j") as an unsigned int,
    * mod 65536 — `TextFunctions.md5Int(s, 8) % 65536`. */
  def sampleBits(id: Long, j: Int): Int = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s"pcm:$id:$j".getBytes("UTF-8"))
    // uint32 % 65536 keeps only the low two digest bytes
    ((d(2) & 0xff) << 8) | (d(3) & 0xff)
  }

  /** Canonical 16-bit PCM WAV bytes, byte-identical to the composed
    * `Multimodal.wavBytesPcm`. Public + static-shaped for codegen. */
  def build(rate: Int, channels: Int, nSamples: Int, id: Long): Array[Byte] = {
    val blockAlign = channels * 2
    val dataSize = nSamples * blockAlign
    val nVals = nSamples * channels
    val buf = java.nio.ByteBuffer.allocate(44 + nVals * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(dataSize + 36)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(channels.toShort)
      .putInt(rate).putInt(rate * blockAlign)
      .putShort(blockAlign.toShort).putShort(16.toShort)
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var j = 0
    while (j < nVals) {
      buf.putShort(sampleBits(id, j).toShort)
      j += 1
    }
    buf.array()
  }
}

/** [[WavPcmBytes]] with LOUDNESS-SEGMENT-structured samples — the
  * planted ground truth for the audio onset gate (q303, the audio twin
  * of q302's video scene generator): samples partition into segments
  * of 1024 (4 analysis frames of 256); segment `g` carries a stable
  * md5 amplitude `amp = 8 + md5("amp:<id>:<g>") % 57` and each sample
  * scales the [[WavPcmBytes.sampleBits]] noise by it —
  * `value = (bits·amp) div 64 − 512·amp` (floor division on
  * NON-NEGATIVE integers, so the SQL `//` restatement is exact) — so
  * frame-energy jumps mark the true onsets and both the bytes and the
  * expected detection outcome have ANSI-SQL closed forms.
  * [[PcmSamples]] decodes the output unchanged. */
case class WavSegBytes(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
  extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(first, second, third).forall(_.dataType.isInstanceOf[IntegerType]) &&
        fourth.dataType.isInstanceOf[LongType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_wav_seg_bytes requires (int rate, int channels, " +
        "int nSamples, long docId), got " +
        Seq(first, second, third, fourth).map(_.dataType).mkString(", "))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_wav_seg_bytes"

  override def nullSafeEval(r: Any, c: Any, n: Any, id: Any): Any =
    WavSegBytes.build(r.asInstanceOf[Int], c.asInstanceOf[Int],
      n.asInstanceOf[Int], id.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, c, n, id) =>
      s"${ev.value} = graft.expressions.WavSegBytes.build($r, $c, $n, $id);")

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression, q: Expression): WavSegBytes =
    copy(f, s, t, q)
}

object WavSegBytes {
  val SegSamples = 1024

  /** md5-derived segment amplitude in [8, 64]. */
  def ampFor(id: Long, seg: Int): Int =
    (8 + AviDibBytes.md5Mod(s"amp:$id:$seg", 57L)).toInt

  /** The signed sample value at flat index j — the closed form the
    * oracle restates: floor-scaled non-negative bits, then centered. */
  def sampleValue(id: Long, j: Int): Int = {
    val amp = ampFor(id, j / SegSamples)
    WavPcmBytes.sampleBits(id, j) * amp / 64 - 512 * amp
  }

  /** Canonical 16-bit PCM WAV with segment-scaled samples. Public +
    * static-shaped for codegen. */
  def build(rate: Int, channels: Int, nSamples: Int, id: Long): Array[Byte] = {
    val blockAlign = channels * 2
    val dataSize = nSamples * blockAlign
    val nVals = nSamples * channels
    val buf = java.nio.ByteBuffer.allocate(44 + nVals * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(dataSize + 36)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(channels.toShort)
      .putInt(rate).putInt(rate * blockAlign)
      .putShort(blockAlign.toShort).putShort(16.toShort)
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var j = 0
    var amp = 0
    while (j < nVals) {
      if (j % SegSamples == 0) amp = ampFor(id, j / SegSamples)
      buf.putShort((WavPcmBytes.sampleBits(id, j) * amp / 64 - 512 * amp).toShort)
      j += 1
    }
    buf.array()
  }
}

/** See [[WavPcmBytes]] scaladoc. `frameLen` must be a foldable literal
  * (it parameterizes the loop); NULL for inputs shorter than two full
  * frames (no transition exists — the composed form's empty-sum would
  * yield 0, but a sub-two-frame clip is out of the operator's domain
  * and the gate never builds one). */
case class AudioEnvelopeFp(child: Expression, frameLen: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType if frameLen >= 1 => TypeCheckResult.TypeCheckSuccess
    case BinaryType => TypeCheckResult.TypeCheckFailure(
      s"graft_audio_fp frameLen must be >= 1, got $frameLen")
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_audio_fp requires a binary input, got $t")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_audio_fp"

  override def nullSafeEval(input: Any): Any = {
    val r = AudioEnvelopeFp.fp(input.asInstanceOf[Array[Byte]], frameLen)
    if (r == java.lang.Long.MIN_VALUE) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.expressions.AudioEnvelopeFp.fp($c, $frameLen);
      |if (${ev.value} == java.lang.Long.MIN_VALUE) { ${ev.isNull} = true; }
      |""".stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): AudioEnvelopeFp =
    copy(child = newChild)
}

object AudioEnvelopeFp {
  /** Envelope fingerprint; Long.MinValue signals NULL (fewer than two
    * frames). Public + static-shaped for codegen. */
  def fp(bytes: Array[Byte], frameLen: Int): Long = {
    if (bytes == null || bytes.length < 44) return java.lang.Long.MIN_VALUE
    val n = (bytes.length - 44) / 2
    val nFrames = n / frameLen
    if (nFrames < 2) return java.lang.Long.MIN_VALUE
    val e = new Array[Long](nFrames)
    val z = new Array[Long](nFrames)
    var f = 0
    while (f < nFrames) {
      var ef = 0L
      var zf = 0L
      var k = 0
      var prevNonNeg = false
      while (k < frameLen) {
        val i = f * frameLen + k
        val lo = bytes(44 + 2 * i) & 0xff
        val hi = bytes(44 + 2 * i + 1)
        val s = (hi << 8) | lo
        ef += s.toLong * s
        val nonNeg = s >= 0
        if (k > 0 && nonNeg != prevNonNeg) zf += 1
        prevNonNeg = nonNeg
        k += 1
      }
      e(f) = ef
      z(f) = zf
      f += 1
    }
    val t = nFrames - 1
    var acc = 0L
    f = 0
    while (f < t) {
      if (e(f + 1) > e(f)) acc |= 1L << f
      if (z(f + 1) > z(f)) acc |= 1L << (f + t)
      f += 1
    }
    acc
  }
}
