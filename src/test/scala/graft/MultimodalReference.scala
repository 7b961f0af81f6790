package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The built-in compositions `Multimodal` generated and decoded PCM
  * WAV clips with before its native kernels (`graft_wav_pcm_bytes`,
  * `graft_pcm_samples`), kept as equivalence references: the kernels
  * must match them bit for bit. */
object MultimodalReference {

  /** Little-endian hex of an unsigned 16-bit value. */
  private def le16Hex(v: Column): Column = {
    val be = lpad(hex(v.cast("long")), 4, "0")
    concat(substring(be, 3, 2), substring(be, 1, 2))
  }

  /** `Multimodal.wavBytesPcm` by hex assembly: the canonical 44-byte
    * header of the silent `Multimodal.wavBytes` clip, then each sample
    * as its unsigned 16-bit pattern, md5('pcm:doc:j') mod 65536, with
    * the md5 prefix parsed by `conv`. */
  def wavBytesPcm(sampleRate: Column, channels: Column,
      nSamples: Column, docId: Column): Column = {
    val header = substring(hex(
      graft.operators.Multimodal.wavBytes(sampleRate, channels, nSamples)), 1, 88)
    val nVals = (nSamples * channels).cast("int")
    val payloadHex = array_join(transform(sequence(lit(0), nVals - 1), j =>
      le16Hex(pmod(conv(substring(md5(concat(lit("pcm:"),
        docId.cast("string"), lit(":"), j.cast("string"))), 1, 8), 16, 10)
        .cast("long"), lit(65536L)))), "")
    unhex(concat(header, payloadHex))
  }

  /** Signed 16-bit PCM sample at flat index `j` of a canonical WAV:
    * the little-endian byte pair at 1-based byte 45 + 2j, folded to
    * two's complement. */
  def pcmSampleAt(media: Column, j: Column): Column = {
    val pair = hex(media.substr(lit(45) + j * 2, lit(2)))
    val raw = conv(concat(substring(pair, 3, 2), substring(pair, 1, 2)), 16, 10)
      .cast("long")
    raw - when(raw >= 32768, lit(65536L)).otherwise(lit(0L))
  }
}
