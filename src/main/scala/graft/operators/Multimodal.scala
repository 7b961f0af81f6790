package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{MysqlFunctions, TextFunctions}

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `BinaryType` columns plus typed metadata, processed without ever
  * materializing a payload on the driver.
  *
  * LOSSY codec libraries (JPEG, H.264, …) are NOT available in this
  * environment, so decode of lossy payloads is a clearly-marked
  * deterministic STUB (`fakeDecodeMeta`) — the remaining boundary.
  * Every UNCOMPRESSED public format has a REAL decode with pure byte
  * arithmetic, content included: WAV header + PCM samples
  * (q105/q113/q134), PPM pixels (q130), AVI container (q135) and
  * uncompressed-DIB video frame pixels ([[withAviFrameMeans]], q140) —
  * no dependency needed. COMPRESSED lossless decode is real too: PNG
  * (zlib-DEFLATE IDAT, CRC-checked chunk walk, all five scanline
  * filters) via [[graft.expressions.PngDecode]] on the JDK's zlib
  * (q145) — the expression layer, since no builtin column composition
  * can express inflate. Everything
  * Spark-side is real and is the part that matters at 100 TB: the
  * schema contract, bytewise chunking/frame sampling as codegen'd
  * expressions, metadata extraction, and the rule that payload bytes
  * flow executor-to-executor only (filters/projections on metadata
  * push down BEFORE payload-touching stages, so pruned files are never
  * decoded).
  */
object Multimodal {

  /** Byte length of a payload. */
  def payloadBytes(media: Column): Column = length(media).cast("long")

  /** STUB decode: deterministic fake (width, height, channels) derived
    * from the payload's md5 — stands in for a real codec while keeping
    * every downstream contract (struct schema, null for empty payloads)
    * real. Replace the three hash-derived fields with a codec call at
    * deployment; the signature is the contract. */
  def fakeDecodeMeta(media: Column): Column = {
    def hx(from: Int, len: Int, mod: Int, base: Int): Column =
      (conv(substring(md5(media), from, len), 16, 10).cast("long")
        % mod + base).cast("int")
    when(length(media) > 0, struct(
      hx(1, 4, 1920, 16).as("width"),
      hx(5, 4, 1080, 16).as("height"),
      hx(9, 1, 3, 1).as("channels")))
  }

  /** Aspect-preserving resize target for a bounded long side — pure
    * metadata math (the real resize kernel would consume it). */
  def resizeDims(width: Column, height: Column, maxSide: Int): Column = {
    val long = greatest(width, height).cast("double")
    val scale = when(long > maxSide, lit(maxSide) / long).otherwise(lit(1.0))
    struct(floor(width * scale).cast("int").as("width"),
      floor(height * scale).cast("int").as("height"))
  }

  /** Frame sampling: treat the payload as fixed-size frames of
    * `frameBytes`, keep every `stride`-th frame as its own binary —
    * a codegen'd expression (sequence + transform + bytewise substring),
    * no UDF, no driver involvement. */
  def sampleFrames(media: Column, frameBytes: Int, stride: Int): Column = {
    val nFrames = ceil(length(media).cast("double") / frameBytes).cast("int")
    when(length(media) > 0,
      transform(sequence(lit(0), nFrames - 1, lit(stride)),
        i => substring(media, i * frameBytes + 1, lit(frameBytes))))
      .otherwise(array().cast("array<binary>"))
  }

  /** Number of frames kept by [[sampleFrames]] without materializing
    * them (metadata-only planning). */
  def sampledFrameCount(media: Column, frameBytes: Int, stride: Int): Column = {
    val nFrames = ceil(length(media).cast("double") / frameBytes).cast("int")
    when(nFrames > 0, floor((nFrames - 1).cast("double") / stride).cast("int") + 1)
      .otherwise(lit(0))
  }

  // ---- WAV (RIFF) — a REAL public-format decode, no dependencies ----
  // Layout per the public RIFF/WAVE spec ("Multimedia Programming
  // Interface and Data Specifications 1.0", IBM/Microsoft 1991),
  // canonical 44-byte header: "RIFF" + riffSize(LE32) + "WAVE" +
  // "fmt " + 16(LE32) + format(LE16) + channels(LE16) + rate(LE32) +
  // byteRate(LE32) + blockAlign(LE16) + bits(LE16) + "data" +
  // dataSize(LE32) + payload.

  /** Little-endian unsigned integer read from `nbytes` (≤ 7) bytes of
    * a binary column at 1-based `offset` — pure byte arithmetic over
    * the hex encoding: `hex()` emits two digits per byte in storage
    * order, so reversing the byte PAIRS yields the big-endian digit
    * string `conv()` parses. Codegen'd built-ins end to end. */
  def leUInt(bin: Column, offset: Int, nbytes: Int): Column =
    leUIntAt(bin, lit(offset), nbytes)

  /** Little-endian fixed-width hex encoding of a non-negative integer
    * value — the writer inverse of [[leUInt]]. Raises (rather than
    * silently truncating the low nibbles) when the value doesn't fit
    * the field: lpad would otherwise KEEP the leftmost digits of an
    * over-wide hex string, corrupting the header with no error. */
  private def leHex(v: Column, nbytes: Int): Column = {
    val h = hex(v.cast("long"))
    val be = when(length(h) <= nbytes * 2, lpad(h, nbytes * 2, "0"))
      .otherwise(raise_error(concat(
        lit(s"leHex overflow: value needs more than $nbytes bytes: "), h)))
    concat((nbytes to 1 by -1).map(i =>
      substring(be, (i - 1) * 2 + 1, 2)): _*)
  }

  /** Deterministic 16-bit PCM WAV bytes: canonical RIFF header +
    * silent payload, built entirely from codegen'd hex arithmetic and
    * one `unhex`. The HEADER is bit-exact per the spec (it round-trips
    * through any conformant reader — [[wavMeta]] or `javax.sound`);
    * only the payload CONTENT is synthetic (silence), standing in for
    * real capture data the test environment doesn't have. */
  def wavBytes(sampleRate: Column, channels: Column,
      nSamples: Column): Column = {
    val bits = 16
    val blockAlign = channels * lit(bits / 8)
    val dataSize = (nSamples * blockAlign).cast("long")
    val byteRate = (sampleRate * blockAlign).cast("long")
    unhex(concat(
      lit("52494646"), leHex(dataSize + 36, 4), lit("57415645"), // RIFF…WAVE
      lit("666D7420"), leHex(lit(16), 4), leHex(lit(1), 2),      // fmt , PCM
      leHex(channels, 2), leHex(sampleRate, 4), leHex(byteRate, 4),
      leHex(blockAlign, 2), leHex(lit(bits), 2),
      lit("64617461"), leHex(dataSize, 4),                        // data
      repeat(lit("00"), dataSize.cast("int"))))
  }

  /** Deterministic NON-canonical WAV bytes: the same audio parameters
    * as [[wavBytes]] but with a `JUNK` padding chunk (a real chunk id
    * from the RIFF spec's chunk grammar; odd `junkLen`s exercise the
    * pad-to-even rule) spliced either BEFORE `fmt ` (`junkFirst`) or
    * between `fmt ` and `data`. Still a conformant RIFF file — the
    * riff size field accounts for the extra chunk — but a layout the
    * canonical fixed-offset [[wavMeta]] rejects, which is exactly what
    * gates [[withWavMetaChunked]] (q113). */
  def wavBytesChunked(sampleRate: Column, channels: Column,
      nSamples: Column, junkLen: Column, junkFirst: Column): Column = {
    val bits = 16
    val blockAlign = channels * lit(bits / 8)
    val dataSize = (nSamples * blockAlign).cast("long")
    val byteRate = (sampleRate * blockAlign).cast("long")
    val junkPadded = (junkLen + pmod(junkLen, lit(2))).cast("long")
    val junkHex = concat(lit("4A554E4B"), leHex(junkLen, 4),      // JUNK
      repeat(lit("00"), junkPadded.cast("int")))
    val fmtHex = concat(
      lit("666D7420"), leHex(lit(16), 4), leHex(lit(1), 2),       // fmt , PCM
      leHex(channels, 2), leHex(sampleRate, 4), leHex(byteRate, 4),
      leHex(blockAlign, 2), leHex(lit(bits), 2))
    val dataHex = concat(lit("64617461"), leHex(dataSize, 4),     // data
      repeat(lit("00"), dataSize.cast("int")))
    // riff size = WAVE form type + every chunk at (8 + padded size);
    // fmt (16) and data (blockAlign multiple) are always even
    val riffSize = lit(4L) + (lit(8L) + junkPadded) + lit(8L + 16L) +
      (lit(8L) + dataSize)
    unhex(concat(
      lit("52494646"), leHex(riffSize, 4), lit("57415645"),       // RIFF…WAVE
      when(junkFirst, concat(junkHex, fmtHex))
        .otherwise(concat(fmtHex, junkHex)),
      dataHex))
  }

  /** REAL WAV decode — validates the four RIFF/WAVE/fmt/data magics
    * and reads channel count, sample rate, bit depth and data-chunk
    * byte length straight out of the header bytes, deriving sample
    * count and duration. NULL (whole struct) for non-WAV payloads.
    * Assumes the canonical chunk order ([[wavBytes]]'s layout and the
    * overwhelmingly common one); exotic chunk orders would need a
    * chunk-walk fold, out of scope. This replaces the r4-r6 stub for
    * the audio modality: the parse is real byte arithmetic, executes
    * inside whole-stage codegen, and needs no external codec. */
  /** Byte-level magic comparison — NEVER decode(…, 'UTF-8') on
    * arbitrary binary: Spark 4's strict coding-error action throws
    * MALFORMED_CHARACTER_CODING on invalid UTF-8 (any JPEG/PNG row
    * would crash the query) instead of failing the comparison. */
  private def magicAt(bin: Column, offset: Column, magic: String): Column =
    substr(bin, offset.cast("int"), lit(4)) ===
      lit(magic.getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  def wavMeta(media: Column): Column = {
    val isWav = magicAt(media, lit(1), "RIFF") &&
      magicAt(media, lit(9), "WAVE") &&
      magicAt(media, lit(13), "fmt ") &&
      magicAt(media, lit(37), "data")
    val channels = leUInt(media, 23, 2)
    val rate = leUInt(media, 25, 4)
    val bits = leUInt(media, 35, 2)
    val dataSize = leUInt(media, 41, 4)
    // exact integer quotient (blockAlign divides dataSize by
    // construction); `/` is double division in Spark, so cast back
    val nSamples = (dataSize / (channels * (bits / lit(8)))).cast("long")
    when(isWav && length(media) >= 44, struct(
      channels.cast("int").as("channels"),
      rate.cast("int").as("sample_rate"),
      bits.cast("int").as("bits"),
      nSamples.as("n_samples"),
      MysqlFunctions.oracleRound(
        nSamples.cast("double") * lit(1000.0) / rate.cast("double"), 4)
        .as("duration_ms")))
  }

  /** [[leUInt]] at a DYNAMIC (Column) 1-based offset. */
  private def leUIntAt(bin: Column, offset: Column, nbytes: Int): Column = {
    val h = hex(substr(bin, offset.cast("int"), lit(nbytes)))
    val be = concat((nbytes to 1 by -1).map(i =>
      substring(h, (i - 1) * 2 + 1, 2)): _*)
    conv(be, 16, 10).cast("long")
  }

  /** [[wavMeta]] generalized to NON-canonical chunk orders: walks up
    * to `maxChunks` RIFF chunks (id + LE32 size, data padded to even —
    * per the spec's chunk grammar) to locate `fmt ` and `data` wherever
    * they sit, e.g. behind a `LIST`/`INFO` metadata chunk, then reads
    * the same fields relative to the found offsets. Returns `df` with
    * a struct column `out` (NULL when the magics fail or either chunk
    * is beyond the walk). A DataFrame (not Column) API on purpose: the
    * walk is STAGED across projections so each step's offset/size is
    * evaluated once — a single nested expression would re-embed the
    * offset tree exponentially per level (a flat 6-level build OOM'd
    * codegen), the q105 duplication lesson applied at operator shape. */
  def withWavMetaChunked(df: DataFrame, mediaCol: String, out: String,
      maxChunks: Int = 6): DataFrame = {
    val media = col(mediaCol)
    var cur = df
      .withColumn("__wmc_off", lit(13L))
      .withColumn("__wmc_fmt", lit(null).cast("long"))
      .withColumn("__wmc_dat", lit(null).cast("long"))
    for (_ <- 0 until maxChunks) {
      cur = cur
        .withColumn("__wmc_sz", leUIntAt(media, col("__wmc_off") + 4, 4))
        .withColumn("__wmc_fmt", coalesce(col("__wmc_fmt"),
          when(magicAt(media, col("__wmc_off"), "fmt "), col("__wmc_off"))))
        .withColumn("__wmc_dat", coalesce(col("__wmc_dat"),
          when(magicAt(media, col("__wmc_off"), "data"), col("__wmc_off"))))
        .withColumn("__wmc_off", col("__wmc_off") + 8 + col("__wmc_sz")
          + pmod(col("__wmc_sz"), lit(2L)))
    }
    val isRiff = magicAt(media, lit(1), "RIFF") &&
      magicAt(media, lit(9), "WAVE")
    val staged = cur
      .withColumn("__wmc_ch", leUIntAt(media, col("__wmc_fmt") + 10, 2))
      .withColumn("__wmc_rate", leUIntAt(media, col("__wmc_fmt") + 12, 4))
      .withColumn("__wmc_bits", leUIntAt(media, col("__wmc_fmt") + 22, 2))
      .withColumn("__wmc_dsz", leUIntAt(media, col("__wmc_dat") + 4, 4))
      .withColumn("__wmc_n", (col("__wmc_dsz") /
        (col("__wmc_ch") * (col("__wmc_bits") / lit(8)))).cast("long"))
    staged
      .withColumn(out,
        when(isRiff && col("__wmc_fmt").isNotNull && col("__wmc_dat").isNotNull,
          struct(
            col("__wmc_ch").cast("int").as("channels"),
            col("__wmc_rate").cast("int").as("sample_rate"),
            col("__wmc_bits").cast("int").as("bits"),
            col("__wmc_n").as("n_samples"),
            MysqlFunctions.oracleRound(col("__wmc_n").cast("double")
              * lit(1000.0) / col("__wmc_rate").cast("double"), 4)
              .as("duration_ms"))))
      .drop(staged.columns.filter(_.startsWith("__wmc_")): _*)
  }

  /** [[wavBytes]] with NON-SILENT payload: each 16-bit PCM sample is
    * an md5-derived int16 (`md5('pcm:doc:j') % 65536 − 32768`, j = the
    * flat sample index), little-endian like the format demands — so
    * the audio CONTENT, not just the header, is oracle-checkable, the
    * [[ppmBytes]] move applied to the audio modality. Native
    * `graft_wav_pcm_bytes`: a tight digest loop into a ByteBuffer. */
  def wavBytesPcm(sampleRate: Column, channels: Column,
      nSamples: Column, docId: Column): Column =
    call_function("graft_wav_pcm_bytes", sampleRate.cast("int"),
      channels.cast("int"), nSamples.cast("int"), docId.cast("long"))

  /** REAL signal statistics over a canonical 16-bit PCM WAV payload:
    * decodes every sample (little-endian two's complement — value ≥
    * 2¹⁵ folds to value − 2¹⁶) and emits peak |amplitude| and RMS —
    * actual DSP arithmetic on the decoded samples, not metadata.
    * NULL struct for non-canonical/non-16-bit payloads. Sample sums
    * are exact (squares < 2³⁰, counts bounded) so the stats carry no
    * fold-order dependence. Per-sample reads go through the hex path —
    * fine at clip scale (the gate's); hour-long audio wants a
    * binary-slice `mapPartitions`, the [[withPpmMeta]] boundary. */
  def wavSignalStats(media: Column): Column = {
    val meta = wavMeta(media)
    val nVals = (meta.getField("n_samples") *
      meta.getField("channels")).cast("int")
    val signed = (j: Column) => {
      val raw = leUIntAt(media, lit(45L) + j.cast("long") * 2, 2)
      raw - when(raw >= 32768, lit(65536L)).otherwise(lit(0L))
    }
    val samples = transform(sequence(lit(0), nVals - 1), j => signed(j))
    when(meta.isNotNull && meta.getField("bits") === 16, struct(
      meta.getField("n_samples").as("n_samples"),
      aggregate(samples, lit(0L), (acc, s) => greatest(acc, abs(s)))
        .as("peak"),
      MysqlFunctions.oracleRound(
        sqrt(aggregate(samples, lit(0.0), (acc, s) => acc + s * s)
          / nVals.cast("double")), 4).as("rms")))
  }

  /** ALL signed 16-bit PCM samples of a canonical WAV as `array<int>`
    * — the bulk-decode shape: one native call per clip
    * (`graft_pcm_samples`, codegen'd primitive-array pass). */
  def pcmSamples(media: Column): Column =
    call_function("graft_pcm_samples", media)

  /** Whole-clip envelope fingerprint: frame the PCM payload into
    * `frameLen`-sample frames and pack [energy-gradient |
    * zero-crossing-gradient] sign bits (T = nFrames−1 transitions:
    * bit f = e(f+1)>e(f), bit f+T = z(f+1)>z(f); z counts
    * WITHIN-frame (s≥0) flips). NULL below two full frames. One
    * codegen'd native call per clip (`graft_audio_fp`) — the map-only
    * shape that replaces a per-sample explode + two windows. */
  def audioEnvelopeFp(media: Column, frameLen: Int): Column =
    call_function("graft_audio_fp", media, lit(frameLen))

  /** Strided decimation stats over a canonical 16-bit mono PCM WAV —
    * the audio twin of the q190 image resize: keep every `factor`-th
    * sample and re-featurize (n_out, peak, rms over the SURVIVING
    * samples). Plain subsampling, aliasing and all — the stage this
    * models is the strided-read plumbing of a resample pipeline (a
    * production resampler low-pass-filters first; that filter is one
    * more HOF over the same sample reads). Mono only: the flat index
    * IS the sample index, so the strided closed form
    * `md5('pcm:doc:(j·factor)')` restates in SQL verbatim. Same
    * exactness discipline as [[wavSignalStats]] (integer peak,
    * exact square sums). */
  def wavDecimatedStats(media: Column, factor: Int): Column = {
    require(factor >= 1, "decimation factor must be >= 1")
    val meta = wavMeta(media)
    val nVals = (meta.getField("n_samples") *
      meta.getField("channels")).cast("int")
    val nOut = ((nVals + lit(factor - 1)) / lit(factor)).cast("int")
    val signed = (j: Column) => {
      val raw = leUIntAt(media, lit(45L) + j.cast("long") * 2, 2)
      raw - when(raw >= 32768, lit(65536L)).otherwise(lit(0L))
    }
    val samples = transform(sequence(lit(0), nOut - 1),
      j => signed(j * lit(factor)))
    when(meta.isNotNull && meta.getField("bits") === 16 &&
      meta.getField("channels") === 1, struct(
      nOut.cast("long").as("n_out"),
      aggregate(samples, lit(0L), (acc, s) => greatest(acc, abs(s)))
        .as("peak"),
      MysqlFunctions.oracleRound(
        sqrt(aggregate(samples, lit(0.0), (acc, s) => acc + s * s)
          / nOut.cast("double")), 4).as("rms")))
  }

  /** Fixed-point Goertzel tone powers over the FIRST `n` samples of a
    * canonical 16-bit mono PCM WAV — single-bin spectral analysis, the
    * classic DTMF/pilot-tone detector and the cheapest real frequency-
    * domain audio feature (one multiply-add per sample per bin vs a
    * full FFT; the standard pre-filter for "does this clip contain the
    * calibration tone" style corpus triage). For each (bin k, fixed-
    * point coefficient c = round(2·cos(2πk/n)·2¹⁴)) the recurrence
    * `s_j = x_j + ⌊c·s_{j−1}/2¹⁴⌋ − s_{j−2}` runs inside one
    * `aggregate` HOF (left-to-right, deterministic) with a two-long
    * struct state, and the bin power is `s₁² + s₂² − ⌊c·s₁·s₂/2¹⁴⌋`.
    * ALL-INTEGER state: coefficients are precomputed literals (no
    * in-plan cos — cross-engine libm rounding could flip the fixed
    * point), and the ⌊·/2¹⁴⌋ steps divide by a power of two, exact in
    * doubles, so DuckDB's recursive-CTE restatement reproduces every
    * intermediate bit. The caller fixes `n` so the coefficient set is
    * one literal table, not per-row trigonometry. */
  def wavGoertzel(media: Column, n: Int, coeffs: Seq[(Int, Long)]): Column = {
    require(n >= 2 && coeffs.nonEmpty)
    val meta = wavMeta(media)
    val signed = (j: Column) => {
      val raw = leUIntAt(media, lit(45L) + j.cast("long") * 2, 2)
      raw - when(raw >= 32768, lit(65536L)).otherwise(lit(0L))
    }
    val samples = transform(sequence(lit(0), lit(n - 1)), j => signed(j))
    val step = (c: Long) => (acc: Column, x: Column) => struct(
      (x + floor(acc.getField("s1") * lit(c) / lit(16384.0)).cast("long")
        - acc.getField("s2")).as("s1"),
      acc.getField("s1").as("s2"))
    val powers = coeffs.map { case (k, c) =>
      val st = aggregate(samples,
        struct(lit(0L).as("s1"), lit(0L).as("s2")), step(c))
      (st.getField("s1") * st.getField("s1")
        + st.getField("s2") * st.getField("s2")
        - floor(st.getField("s1") * st.getField("s2") * lit(c)
          / lit(16384.0)).cast("long")).as(s"p$k")
    }
    when(meta.isNotNull && meta.getField("bits") === 16 &&
      meta.getField("channels") === 1 &&
      meta.getField("n_samples") >= n, struct(powers: _*))
  }

  /** Deterministic minimal AVI bytes — the VIDEO container is RIFF
    * like WAV, so the same hex-arithmetic writer applies: `RIFF size
    * 'AVI '` + a canonical `LIST hdrl` whose FIRST child is the
    * 56-byte `avih` main header (the spec mandates avih first:
    * dwMicroSecPerFrame, dwTotalFrames, dwStreams, dwWidth, dwHeight
    * among its 14 LE32 fields) + an empty `LIST movi`. Frame DATA
    * stays synthetic (no codec in this environment — the documented
    * boundary); the container grammar and header arithmetic are
    * real. */
  def aviBytes(width: Column, height: Column, nFrames: Column,
      usPerFrame: Column): Column = {
    val avihHex = concat(
      leHex(usPerFrame, 4), leHex(lit(0), 4), leHex(lit(0), 4),
      leHex(lit(0), 4), leHex(nFrames, 4), leHex(lit(0), 4),
      leHex(lit(1), 4), leHex(lit(0), 4), leHex(width, 4),
      leHex(height, 4), lit("0" * 32))
    // hdrl LIST payload = 'hdrl' + avih chunk (8 + 56); movi LIST
    // payload = just its form type
    unhex(concat(
      lit("52494646"), leHex(lit(4 + 8 + 68 + 8 + 4), 4), lit("41564920"),
      lit("4C495354"), leHex(lit(68), 4), lit("6864726C"),
      lit("61766968"), leHex(lit(56), 4), avihHex,
      lit("4C495354"), leHex(lit(4), 4), lit("6D6F7669")))
  }

  /** REAL AVI main-header decode (canonical layout — LIST hdrl first,
    * avih its first child, as the spec mandates; exotic orders would
    * reuse the [[withWavMetaChunked]] walk): validates the four
    * RIFF/AVI /LIST-hdrl/avih magics and reads frame timing, frame
    * count, stream count and dimensions straight from the avih bytes,
    * deriving fps and duration. NULL struct otherwise. Completes the
    * modality triangle: WAV (audio), PPM (image), AVI (video) all
    * parse with the same codegen'd byte arithmetic. */
  def aviMeta(media: Column): Column = {
    val ok = magicAt(media, lit(1), "RIFF") &&
      magicAt(media, lit(9), "AVI ") &&
      magicAt(media, lit(13), "LIST") &&
      magicAt(media, lit(21), "hdrl") &&
      magicAt(media, lit(25), "avih")
    val usPer = leUInt(media, 33, 4)
    val frames = leUInt(media, 33 + 16, 4)
    val streams = leUInt(media, 33 + 24, 4)
    val width = leUInt(media, 33 + 32, 4)
    val height = leUInt(media, 33 + 36, 4)
    when(ok && length(media) >= 44, struct(
      width.cast("int").as("width"),
      height.cast("int").as("height"),
      frames.as("n_frames"),
      streams.cast("int").as("streams"),
      MysqlFunctions.oracleRound(
        lit(1000000.0) / usPer.cast("double"), 4).as("fps"),
      MysqlFunctions.oracleRound(
        (frames * usPer).cast("double") / lit(1000.0), 4).as("duration_ms")))
  }

  /** Deterministic AVI with REAL uncompressed DIB frame payloads — the
    * full canonical single-video-stream grammar: `LIST hdrl` carries
    * `avih` AND a `LIST strl` with the `strh` stream header and `strf`
    * BITMAPINFOHEADER (24-bit BI_RGB — the one video encoding that
    * needs NO codec); `LIST movi` carries one `00db` chunk per frame,
    * DWORD-padded BGR rasters with zero pad bytes. Pixel bytes are
    * md5-derived per (doc, frame, byte index) — reproducible in ANSI
    * SQL, so frame CONTENT (not just the container) is oracle-checkable
    * ([[ppmBytes]]'s move for video).
    *
    * Native [[graft.expressions.AviDibBytes]] — this was a builtin
    * hex-concat composition through round 8, but that tree is exactly
    * what `CollapseProject` re-embeds into every per-byte read site of
    * a downstream decoder, and the round-8 bench measured the combined
    * plan at minutes of driver-side canonicalization (see the AviCodec
    * scaladoc). Requires GraftExtensions on the session (all driver
    * mains and tests register it). */
  def aviBytesDib(width: Column, height: Column, nFrames: Column,
      usPerFrame: Column, docId: Column): Column =
    call_function("graft_avi_dib_bytes", width, height, nFrames,
      usPerFrame, docId)

  /** [[aviBytesDib]] with scene-structured pixels (shots of
    * `4 + docId % 3` frames) — the planted ground truth for the
    * q302 shot-boundary detector. Native
    * [[graft.expressions.AviSceneBytes]]. */
  def aviBytesScene(width: Column, height: Column, nFrames: Column,
      usPerFrame: Column, docId: Column): Column =
    call_function("graft_avi_scene_bytes", width, height, nFrames,
      usPerFrame, docId)

  /** Two-stream INTERLEAVED AVI: DIB video ('00db') alternating with
    * 16-bit mono PCM audio ('01wb') per frame interval — the capture-
    * file grammar with two `LIST strl` stream headers. Pixel bytes
    * keep [[aviBytesDib]]'s closed form; audio samples the q134 PCM
    * convention keyed per (doc, frame, sample). Native
    * [[graft.expressions.AviInterleavedBytes]]. */
  def aviBytesInterleaved(width: Column, height: Column, nFrames: Column,
      usPerFrame: Column, sampleRate: Column, samplesPerFrame: Column,
      docId: Column): Column =
    call_function("graft_avi_av_bytes", width, height, nFrames,
      usPerFrame, sampleRate, samplesPerFrame, docId)

  /** WebDataset-style USTAR shard of one member per doc — `members`
    * must be the shard's ordered `array<struct<doc_id, text>>`.
    * Native [[graft.expressions.TarBytes]]; real `tar` reads the
    * output (spec-driven). */
  def tarBytes(members: Column): Column =
    call_function("graft_tar_bytes", members)

  /** WARC/1.0 shard file from the shard's ordered
    * `array<struct<doc_id, text>>` members — one warcinfo record +
    * one response record per doc (see
    * [[graft.expressions.WarcBytes]]). */
  def warcBytes(members: Column): Column =
    call_function("graft_warc_bytes", members)

  /** Strict WARC walk → `(n_records, warc_len, records(...))`, NULL
    * on any non-conforming byte (see
    * [[graft.expressions.WarcEntries]]). */
  def warcEntries(warc: Column): Column =
    call_function("graft_warc_entries", warc)

  /** [[tarBytes]] with caller-controlled member names — `members` is
    * the shard's ordered `array<struct<name: string, text: string>>`
    * (names verbatim, 1-100 ASCII chars). The WebDataset paired-sample
    * convention: a training sample is ALL members sharing a key stem
    * (`<key>.txt` + `<key>.cls` + …), adjacent in one shard. */
  def tarBytesNamed(members: Column): Column =
    call_function("graft_tar_bytes", members)

  /** [[tarBytes]] with per-member GZIP payloads (`<doc_id>.txt.gz`) —
    * the WebDataset `.gz` member convention. Compressed bytes have no
    * SQL closed form; the walker's `content_*` fields (inflated,
    * CRC-checked) do. */
  def tarBytesGz(members: Column): Column =
    call_function("graft_targz_bytes", members)

  /** USTAR archive walk: `struct(n_entries, tar_len, entries
    * array<struct<idx, name, size, payload_md5>>)`, checksums and
    * padding verified, NULL for any corrupt byte. Native
    * [[graft.expressions.TarEntries]]. */
  def tarEntries(tar: Column): Column =
    call_function("graft_tar_entries", tar)

  /** STORED-method PKZIP archive of one member per doc — the
    * random-access container beside the sequential tar shards (central
    * directory at the tail → two ranged reads fetch one member).
    * `members` is the shard's ordered `array<struct<doc_id, text>>`.
    * Native [[graft.expressions.ZipBytes]]; `java.util.zip` reads the
    * output (spec-driven). */
  def zipBytes(members: Column): Column =
    call_function("graft_zip_bytes", members)

  /** PKZIP central-directory walk: `struct(n_entries, zip_len, entries
    * array<struct<idx, name, size, crc_ok, payload_md5>>)` — local
    * headers cross-validated against the CD, payload CRC-32 recomputed
    * (`crc_ok`), NULL for structural non-conformance. Native
    * [[graft.expressions.ZipEntries]]. */
  def zipEntries(zip: Column): Column =
    call_function("graft_zip_entries", zip)

  /** Demux+decode of the two-stream interleaved AVI: adds `out` =
    * struct(width, height, n_frames, fps, sample_rate, frames
    * array<struct(frame, mean_b, mean_g, mean_r, n_samples, rms,
    * peak)>) — per-frame-interval VIDEO channel means AND AUDIO
    * rms/peak from one walk of the alternating chunk grammar; NULL
    * for non-conforming payloads. Native
    * [[graft.expressions.AviInterleavedDecode]]. */
  def withAviAvDecode(df: DataFrame, mediaCol: String,
      out: String): DataFrame =
    df.withColumn(out, call_function("graft_avi_av_decode", col(mediaCol)))

  /** REAL video frame content decode over the canonical
    * [[aviBytesDib]] layout: validates the container grammar (RIFF/
    * AVI /hdrl/avih + strl/strh 'vids' + strf BITMAPINFOHEADER with
    * planes=1, 24-bit, BI_RGB + movi, and per-frame '00db' chunk magic
    * and size), reads dims from the STRF (the header that governs
    * frame layout — not avih), fps from strh dwRate/dwScale, then
    * decodes every frame's pixels straight from the chunk bytes —
    * bottom-up DWORD-padded BGR rows — into per-frame per-channel
    * means. Adds `out` = struct(width, height, n_frames, fps,
    * frames array<struct(frame, mean_b, mean_g, mean_r)>), NULL for
    * non-conforming payloads. Closes the content-verification
    * triangle: WAV samples (q134), PPM pixels (q130), video frames —
    * [[fakeDecodeMeta]] is no longer the only pixel path for video.
    *
    * Native [[graft.expressions.AviFrameMeans]] — the round-8 builtin
    * composition read the payload per byte through interpreted HOF
    * lambdas (one md5 + hex round-trip each) and its plan exploded
    * under CollapseProject when fed a generated `__avi` column; the
    * native decoder is one codegen'd pass over the bytes and its plan
    * is a single node regardless of what feeds it. */
  def withAviFrameMeans(df: DataFrame, mediaCol: String,
      out: String): DataFrame =
    df.withColumn(out, call_function("graft_avi_frames", col(mediaCol)))

  /** AVI with MS-RLE8-COMPRESSED palettized frames ('MRLE' handler,
    * biCompression=1, 1024-byte palette after the BITMAPINFOHEADER,
    * variable-size '00dc' chunks) — the intra-frame-compressed codec
    * that closes the "video frames are uncompressed DIB only"
    * boundary. Run values keep the md5 closed-form convention
    * (`md5("rle:<id>:<f>:<y>:<r>") % 256`, 4 equal runs per row) so
    * decoded CONTENT is oracle-checkable. Native
    * [[graft.expressions.AviRle8Bytes]]. */
  def aviBytesRle8(width: Column, height: Column, nFrames: Column,
      usPerFrame: Column, docId: Column): Column =
    call_function("graft_avi_rle8_bytes", width, height, nFrames,
      usPerFrame, docId)

  /** Demux + REAL RLE8 decode of [[aviBytesRle8]]'s layout: validates
    * the container grammar + palettized strf, then runs the full
    * MS-RLE8 state machine (count-byte runs, EOL/EOB/delta escapes,
    * absolute mode with WORD alignment) into a palette-mapped raster
    * per frame — per-frame channel means + encoded chunk size. Adds
    * `out` = struct(width, height, n_frames, fps, frames
    * array<struct(frame, enc_bytes, mean_b, mean_g, mean_r)>); NULL
    * for any non-conforming payload. Native
    * [[graft.expressions.AviRle8FrameMeans]]. */
  def withAviRle8FrameMeans(df: DataFrame, mediaCol: String,
      out: String): DataFrame =
    df.withColumn(out, call_function("graft_avi_rle8_frames", col(mediaCol)))

  /** Deterministic binary PPM (P6) bytes: the ASCII header
    * `P6\n<w> <h>\n255\n` (netpbm spec layout — single-space/newline
    * separators, no comments) + w·h·3 payload bytes whose values are
    * md5-derived per (doc, byte index) — reproducible in ANSI SQL like
    * every hash-derived constant here, so the image CONTENT (not just
    * the header) is oracle-checkable. The image modality's analogue of
    * [[wavBytes]]. */
  def ppmBytes(width: Column, height: Column, docId: Column): Column = {
    val nb = (width * height * 3).cast("int")
    val payloadHex = array_join(transform(sequence(lit(0), nb - 1), i =>
      lpad(hex(pmod(TextFunctions.md5Int(concat(lit("ppm:"),
        docId.cast("string"), lit(":"), i.cast("string")), 8),
        lit(256))), 2, "0")), "")
    unhex(concat(hex(concat(lit("P6\n"), width.cast("string"), lit(" "),
      height.cast("string"), lit("\n255\n"))), payloadHex))
  }

  /** REAL PPM (P6) decode + per-channel statistics: validates the
    * magic, parses the VARIABLE-WIDTH decimal width/height/maxval
    * fields digit-by-digit (up to 4 digits each — the staged-walk
    * shape of [[withWavMetaChunked]]: each digit step is its own
    * projection so the offset tree is evaluated once per stage, never
    * re-embedded), checks the payload length, and computes the mean of
    * each RGB channel straight from the payload bytes. Returns `df`
    * with a struct column `out` (NULL for non-P6 payloads or length
    * mismatches). Statistics read w·h·3 single bytes through the hex
    * path — fine for thumbnail-scale payloads (the gate's); megapixel
    * images want a binary-slice `mapPartitions` instead, the
    * documented boundary. */
  def withPpmMeta(df: DataFrame, mediaCol: String, out: String,
      maxDigits: Int = 4): DataFrame = {
    val media = col(mediaCol)
    def byteAt(off: Column) = leUIntAt(media, off, 1)
    // parse one decimal field at __pm_off, staged one digit per step
    def parseField(in: DataFrame, valCol: String): DataFrame = {
      var cur = in.withColumn(valCol, lit(0L))
        .withColumn("__pm_done", lit(false))
      for (_ <- 0 until maxDigits) {
        cur = cur
          .withColumn("__pm_b", byteAt(col("__pm_off")))
          .withColumn("__pm_d",
            !col("__pm_done") && col("__pm_b") >= 48 && col("__pm_b") <= 57)
          .withColumn(valCol,
            when(col("__pm_d"), col(valCol) * 10 + (col("__pm_b") - 48))
              .otherwise(col(valCol)))
          .withColumn("__pm_off",
            when(col("__pm_d"), col("__pm_off") + 1).otherwise(col("__pm_off")))
          .withColumn("__pm_done", col("__pm_done") || !col("__pm_d"))
      }
      cur.drop("__pm_b", "__pm_d", "__pm_done")
    }
    val isP6 = substr(media, lit(1), lit(3)) ===
      lit("P6\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    var cur = df.withColumn("__pm_off", lit(4L))
    cur = parseField(cur, "__pm_w")
    cur = cur.withColumn("__pm_sep1", byteAt(col("__pm_off")) === 32)
      .withColumn("__pm_off", col("__pm_off") + 1)
    cur = parseField(cur, "__pm_h")
    cur = cur.withColumn("__pm_sep2", byteAt(col("__pm_off")) === 10)
      .withColumn("__pm_off", col("__pm_off") + 1)
    cur = parseField(cur, "__pm_mx")
    cur = cur.withColumn("__pm_sep3", byteAt(col("__pm_off")) === 10)
      .withColumn("__pm_off", col("__pm_off") + 1)
    val npix = (col("__pm_w") * col("__pm_h")).cast("int")
    val valid = isP6 && col("__pm_sep1") && col("__pm_sep2") &&
      col("__pm_sep3") && col("__pm_w") > 0 && col("__pm_h") > 0 &&
      length(media) === col("__pm_off") - 1 + col("__pm_w") * col("__pm_h") * 3
    def chanMean(c: Int) = MysqlFunctions.oracleRound(
      aggregate(transform(sequence(lit(0), npix - 1), p =>
        leUIntAt(media, col("__pm_off") + p.cast("long") * 3 + c, 1)
          .cast("double")),
        lit(0.0), (acc, x) => acc + x) /
        (col("__pm_w") * col("__pm_h")).cast("double"), 4)
    val staged = cur
    staged
      .withColumn(out, when(valid, struct(
        col("__pm_w").cast("int").as("width"),
        col("__pm_h").cast("int").as("height"),
        col("__pm_mx").cast("int").as("maxval"),
        (col("__pm_w") * col("__pm_h")).as("n_pixels"),
        chanMean(0).as("mean_r"),
        chanMean(1).as("mean_g"),
        chanMean(2).as("mean_b"))))
      .drop(staged.columns.filter(_.startsWith("__pm_")): _*)
  }

  /** Metadata extraction over a media table: one row per document with
    * payload size, frame plan, and stub-decoded dimensions. The only
    * stage that touches payload bytes; everything downstream can run
    * on the (tiny) metadata projection. */
  def mediaMeta(df: DataFrame, idCol: String, mediaCol: String,
      frameBytes: Int = 1024, stride: Int = 4): DataFrame = {
    val media = col(mediaCol)
    df.select(col(idCol),
      payloadBytes(media).as("n_bytes"),
      ceil(length(media).cast("double") / frameBytes).cast("int").as("n_frames"),
      sampledFrameCount(media, frameBytes, stride).as("n_sampled"),
      fakeDecodeMeta(media).getField("width").as("width"),
      fakeDecodeMeta(media).getField("height").as("height"))
  }
}
