package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{MysqlFunctions, TextFunctions}

/** Deduplication operators for large-scale text corpora: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. All are pure DataFrame
  * pipelines — no driver materialization, no UDFs, shuffles only on
  * group/join keys — so they scale horizontally: the only skew hazard
  * is hot LSH buckets / high-document-frequency shingles, which
  * `maxBucket`/`maxDf` caps bound explicitly. Shingling and MinHash
  * signing run as native codegen'd expressions
  * ([[graft.expressions.WordShingles]],
  * [[graft.expressions.MinHashSignature]]); several other stages
  * (band hashes, the collision audit, prefix filtering) still use
  * higher-order functions, which run outside whole-stage codegen.
  */
object Dedup {

  /** Materialize a shared intermediate once. Shingling a corpus is a
    * map-only but expensive projection (tokenize + slice + concat per
    * doc); the pair pipelines consume it from 4-7 plan positions (hot
    * set, per-doc sizes, both self-join sides, verification), and
    * without an explicit materialization Catalyst re-evaluates the
    * whole projection at every position. */
  private def materialized(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Exact dedup (hash-groupBy on a normalized fingerprint): one row
    * per distinct content, keeping the minimum id. Single shuffle on
    * the md5 fingerprint — uniform key distribution by construction. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingles of `text`: every run of `n` consecutive
    * tokens, joined by one space, distinct per document in
    * first-occurrence order. Tokens are [[TextFunctions.tokens]]:
    * `text` trimmed of U+0020 only, then split on runs of Java `\s`
    * (`[ \t\n\x0B\f\r]`) keeping empty edge tokens, so a leading tab
    * gives an empty first token; NBSP and other Unicode spaces are not
    * separators. A document with fewer than `n` tokens yields one
    * shingle, the whole token sequence; empty-after-trim and null text
    * yield `[""]`. One linear pass per document in the native
    * [[graft.expressions.WordShingles]]; never null. */
  def shingles(text: Column, n: Int): Column =
    call_function("graft_word_shingles", text, lit(n))

  /** Shingle the corpus ONCE, materialized: (idCol, __sh array<string>).
    * The shared first stage of the whole n-gram family — signatures,
    * LSH candidates, Jaccard verification, and the inverted-index join
    * all consume this one checkpoint instead of re-running the
    * tokenize+slice+concat projection per consumer. Repartitioned
    * first: a small parquet input arrives as ONE partition, which would
    * otherwise single-thread both the shingling projection and every
    * downstream broadcast-join probe that streams this side. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame =
    materialized(df
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col(idCol), shingles(col(textCol), shingleSize).as("__sh")))

  /** MinHash signatures from pre-shingled sets, materialized —
    * signatures feed the hot-bucket count and both LSH self-join sides,
    * so consumers read one checkpoint. A map-only select of
    * [[minHashSigRow]] over the rows whose set is non-empty (an empty
    * or null set has no signature); one row per input row, so `sets`
    * holds one set per id, as [[shingleSets]] gives.
    * Returns (idCol, sig array<long>). */
  def minHashSigsFromSets(sets: DataFrame, idCol: String,
      numHashes: Int): DataFrame =
    materialized(sets.filter(size(col("__sh")) > 0)
      .select(col(idCol), minHashSigRow(col("__sh"), numHashes).as("sig")))

  /** MinHash signatures: `numHashes` independent min-hashes per doc,
    * over the [[shingles]] of `textCol` (same token rule); documents
    * whose shingle set is empty get no row.
    *
    * Hash family: ONE md5-prefix base hash per shingle, expanded to
    * numHashes values through the affine universal family
    * `h_i = (base·(2i+1) + i·40503) mod (2^31-1)` — 64 multiplications
    * instead of 64 md5 invocations per shingle (the md5-per-seed
    * variant spent ~160M md5 calls at sf0.1), while staying
    * deterministic, free of stored random state, and reproducible in
    * ANSI SQL so the whole LSH pipeline is oracle-verifiable. All
    * intermediates fit a Long under ANSI: base < 2^32, 2i+1 < 2^8 ⇒
    * product < 2^40.
    * Returns (idCol, sig array<long>).
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64): DataFrame =
    minHashSigsFromSets(shingleSets(df, idCol, textCol, shingleSize),
      idCol, numHashes)

  /** ROW-WISE MinHash signature of a shingle array (element i = min
    * over the non-null shingles of the affine family of
    * [[minHashSignatures]]): a map-only expression, the native
    * [[graft.expressions.MinHashSignature]], which hashes each shingle
    * once. An empty, all-null or null array gives `numHashes` nulls.
    * The shingles are usually [[shingles]] of a text (same token rule).
    * Both the batch [[minHashSigsFromSets]] and the streaming near-dup
    * path use it; the stream needs the map-only shape, since a stateful
    * streaming aggregation would hold per-doc state to the watermark. */
  def minHashSigRow(shingles: Column, numHashes: Int): Column =
    call_function("graft_minhash", shingles, lit(numHashes))

  /** Band → bucket hashes of a signature array (the [[lshBuckets]]
    * banding as a Column): element b = xxhash64(slice b, seed b). */
  def bandBuckets(sig: Column, bands: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * (size(sig) / bands) + 1,
        size(sig) / bands), b))

  /** LSH banding: split the signature into `bands` bands of
    * numHashes/bands rows each; band hash = xxhash64 of the slice.
    * Returns (idCol, band, bucket) — one row per (doc, band).
    */
  def lshBuckets(sigs: DataFrame, idCol: String, bands: Int): DataFrame =
    sigs.select(col(idCol), posexplode(bandBuckets(col("sig"), bands)))
      .toDF(idCol, "band", "bucket")

  /** Candidate pairs from LSH buckets: docs sharing any (band, bucket).
    * `maxBucket` drops degenerate hot buckets (e.g. empty-text dupes at
    * 100 TB scale would otherwise produce a quadratic bucket) — dropped
    * buckets are by definition huge duplicate classes better handled by
    * [[exact]] first.
    */
  def lshCandidatePairs(buckets: DataFrame, idCol: String,
      maxBucket: Int = 1000): DataFrame = {
    // Hot-bucket cap via groupBy + broadcast anti-join. The r1 version
    // counted with a Window over every bucket row — a full shuffle+sort
    // of the exploded set. groupBy.count partial-aggregates map-side,
    // and the over-cap set is tiny by construction, so it broadcasts.
    val hot = buckets.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucket)
      .select("band", "bucket")
    val pruned = buckets.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    val a = pruned.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val b = pruned.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard verification of candidate pairs against the true
    * shingle sets. `candidates(id_a, id_b)`; returns pairs with
    * `jaccard` ≥ threshold. The shingle sets are joined in (two hash
    * joins keyed on doc id), intersected with array ops — no UDF.
    */
  def verifyJaccard(candidates: DataFrame, df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, threshold: Double): DataFrame =
    verifyJaccardSets(candidates,
      materialized(df.select(col(idCol).as("__id"),
        shingles(col(textCol), shingleSize).as("__sh"))),
      threshold)

  /** [[verifyJaccard]] over precomputed (materialized) shingle sets
    * `(__id, __sh array<string>)` — lets pipelines shingle the corpus
    * exactly once.
    *
    * The candidate side is explicitly repartitioned: candidate pairs
    * are two longs each, so AQE's byte-based partition coalescing
    * funnels even a 400k-pair set into one post-shuffle partition —
    * single-threading the string-set intersections, which are the
    * pipeline's CPU core (measured 4× on q32 at sf0.1). An explicit
    * numShufflePartitions repartition is exempt from AQE coalescing and
    * keeps the verify stage wide. */
  def verifyJaccardSets(candidates: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame = {
    candidates
      .repartition(candidates.sparkSession.sessionState.conf.numShufflePartitions)
      .join(sets.select(col("__id").as("id_a"), col("__sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", MysqlFunctions.oracleRound(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash-LSH near-dup from precomputed stages ([[shingleSets]] +
    * [[minHashSigsFromSets]]): bands → candidate pairs → exact-Jaccard
    * verify. Lets callers share the expensive stages across the whole
    * query family (signatures, pairs, duplicate groups). */
  def minHashNearDupFromStages(sets: DataFrame, sigs: DataFrame,
      idCol: String, bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    val cands = lshCandidatePairs(lshBuckets(sigs, idCol, bands), idCol)
    verifyJaccardSets(cands,
      sets.withColumnRenamed(idCol, "__id"), threshold)
  }

  /** Full MinHash-LSH near-dup pipeline: signatures → bands → candidate
    * pairs → exact-Jaccard verify. */
  def minHashNearDup(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, shingleSize)
    val sigs = minHashSigsFromSets(sets, idCol, numHashes)
    minHashNearDupFromStages(sets, sigs, idCol, bands, threshold)
  }

  /** Cross-corpus MinHash near-dup: verified `J ≥ threshold` pairs
    * between an incoming batch and a reference corpus — the NEAR-dup
    * leg of incremental ingestion beside [[dedupAgainstReference]]'s
    * exact leg (each day's crawl is checked against the accumulated
    * corpus, not re-deduped with it). LSH banding blocks ONLY across
    * the two sides: no intra-batch or intra-reference candidate is
    * generated or verified, so the pruned pair space is |inc|×|ref|,
    * not (|inc|+|ref|)². The hot-bucket quadratic guard counts the
    * COMBINED bucket population ([[lshCandidatePairs]]'s cap).
    * Contract: ids unique across both inputs. Returns
    * `(inc_id, ref_id, jaccard)`. */
  def nearDupAgainstReference(incoming: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.7,
      maxBucket: Int = 1000): DataFrame = {
    val incSets = shingleSets(incoming, idCol, textCol, shingleSize)
    val refSets = shingleSets(reference, idCol, textCol, shingleSize)
    nearDupAgainstReferenceFromStages(
      incSets, minHashSigsFromSets(incSets, idCol, numHashes),
      refSets, minHashSigsFromSets(refSets, idCol, numHashes),
      idCol, bands, threshold, maxBucket)
  }

  /** [[nearDupAgainstReference]] over PRECOMPUTED stages — the
    * steady-state incremental form: the accumulated reference corpus's
    * shingle sets and MinHash signatures are computed ONCE at ingestion
    * time and persisted (e.g. via `ParquetSink`); each day's batch
    * shingles/signs only ITSELF and joins against the persisted stage
    * tables. The convenience wrapper above re-derives all four stages
    * per call — at 100 TB accumulated reference with a 100 GB daily
    * batch that re-hashes ~99.9 % unchanged data, so this overload is
    * the at-scale entry point (the batch analogue is
    * [[minHashNearDupFromStages]]). The reference TEXT is never an
    * input: a plan built from persisted stages provably cannot read it
    * (asserted in PlanSpec).
    *
    * `incSets`/`refSets`: `(idCol, __sh array<string>)` as produced by
    * [[shingleSets]]; `incSigs`/`refSigs`: `(idCol, sig array<long>)`
    * as produced by [[minHashSigsFromSets]] — both round-trip parquet
    * losslessly. Contract: ids unique across both inputs. */
  def nearDupAgainstReferenceFromStages(incSets: DataFrame,
      incSigs: DataFrame, refSets: DataFrame, refSigs: DataFrame,
      idCol: String, bands: Int = 16, threshold: Double = 0.7,
      maxBucket: Int = 1000): DataFrame = {
    val incB = lshBuckets(incSigs, idCol, bands)
    val refB = lshBuckets(refSigs, idCol, bands)
    val hot = incB.unionAll(refB).groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucket)
      .select("band", "bucket")
    val cands = incB.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
      .select(col("band"), col("bucket"), col(idCol).as("id_a"))
      .join(refB.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
        .select(col("band"), col("bucket"), col(idCol).as("id_b")),
        Seq("band", "bucket"))
      .select("id_a", "id_b").distinct()
    verifyJaccardSets(cands,
        incSets.withColumnRenamed(idCol, "__id")
          .unionAll(refSets.withColumnRenamed(idCol, "__id")), threshold)
      .select(col("id_a").as("inc_id"), col("id_b").as("ref_id"),
        col("jaccard"))
  }

  /** Day-close maintenance for the persisted incremental stages:
    * tomorrow's reference (sets, sigs) = today's plus the batch rows
    * that were ACCEPTED (classified `new` — duplicate rows must not
    * enter the reference, or every later batch re-matches them). Pure
    * unionAll + one semi-join per stage: the batch stages were already
    * computed for the dedup itself, so closing the loop re-hashes
    * NOTHING — write the outputs back over the persisted tables (e.g.
    * `ParquetSink`) and the [[nearDupAgainstReferenceFromStages]] /
    * [[dedupAgainstReferenceFps]] contract is complete. Stage rows are
    * per-doc deterministic, so the merged tables are row-identical to
    * recomputing from scratch over (reference ∪ accepted) — property-
    * tested in DedupSimilaritySpec. */
  def mergedReferenceStages(refSets: DataFrame, refSigs: DataFrame,
      incSets: DataFrame, incSigs: DataFrame, idCol: String,
      acceptedIds: DataFrame): (DataFrame, DataFrame) = {
    val ids = acceptedIds.select(col(idCol))
    (refSets.unionAll(incSets.join(ids, Seq(idCol), "left_semi")),
      refSigs.unionAll(incSigs.join(ids, Seq(idCol), "left_semi")))
  }

  /** The exact-dedup leg's maintenance twin: tomorrow's reference
    * fingerprint table = today's plus the accepted batch fingerprints
    * (one md5 per accepted doc — the only re-hash, unavoidable and
    * tiny). Distinct applied so the table never grows duplicate rows. */
  def mergedReferenceFps(refFps: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, acceptedIds: DataFrame): DataFrame =
    refFps.select(col("fp")).unionAll(
      incoming.join(acceptedIds.select(col(idCol)), Seq(idCol), "left_semi")
        .select(TextFunctions.fingerprint(col(textCol)).as("fp")))
      .distinct()

  /** SimHash over whitespace tokens: per bit j, sum +1/-1 for each
    * token whose hash has bit j set/clear; bit j of the fingerprint =
    * sign of the sum. `bits` parallel sum-aggregates — one shuffle,
    * map-side combined. The token hash is a 60-bit md5 prefix (15 hex
    * digits) so the whole sketch is reproducible in ANSI SQL; near-dup
    * pairs then compare by hamming distance ([[simHashPairs]]).
    * Documents with no tokens produce no row (no hash evidence).
    */
  val simHashBits = 60
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("t"))
      .withColumn("h", TextFunctions.md5Int(col("t"), 15))
    val bitSums = (0 until simHashBits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j"))
    val agg = tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until simHashBits).map(j =>
        when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    agg.select(col(idCol), fp.as("simhash"))
  }

  /** SimHash near-dup candidates: block on 4×16-bit chunks (two docs
    * within hamming distance 3 of each other share at least one exact
    * chunk), verify with `bit_count(xor) <= maxHamming`. */
  def simHashPairs(sims: DataFrame, idCol: String, maxHamming: Int = 3): DataFrame = {
    val chunked = sims.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*)))
      .toDF(idCol, "simhash", "chunk", "ckey")
    val a = chunked.select(col("chunk"), col("ckey"),
      col(idCol).as("id_a"), col("simhash").as("sh_a"))
    val b = chunked.select(col("chunk"), col("ckey"),
      col(idCol).as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** EXACT shared-substring dup detection via winnowing fingerprints
    * (Schleimer et al., SIGMOD'03 — the MOSS algorithm; the
    * character-level exact-substring dedup of Lee et al. 2021, public
    * arXiv 2107.06499, at index density 2/(window+1) instead of a
    * suffix array): hash every `gram`-char window of each document,
    * select per sliding window of `window` consecutive hashes the
    * minimum (ties pinned by position — the hash and position pack
    * into ONE long, so the rolling min IS the tie-broken argmin), and
    * join documents on the SELECTED windows' actual text — string
    * equality, not hash equality, so a reported pair provably shares
    * an exact `gram`-char substring (no collision false positives).
    * Winnowing's guarantee: any shared run of ≥ gram+window−1 chars
    * selects at least one common fingerprint on both sides, so no
    * such pair is missed.
    *
    * Output: (id_a, id_b, n_shared) — distinct selected fingerprints
    * the pair shares.
    *
    * Scale shape: the window explode is O(chars) rows (inherent to
    * exact-substring semantics) but map-only; the rolling min is one
    * doc-keyed window; everything downstream operates on the ~2/window
    * density SELECTED index only. `maxDf` drops boilerplate
    * fingerprints (df > maxDf docs) via a broadcast anti-join before
    * the pair join — the same hot-key cap as [[ngramJaccardPairsFromSets]]
    * (vacuous at gate scale: the testdata's hottest window spans 3
    * docs, so the oracle need not model it). Documents of any length
    * are accepted: the position packs into the low 23 bits of the
    * encoded long ((2^40−1)·2^23 + 2^23−1 = 2^63−1), so docs longer
    * than `maxChunkChars` (≤ 2^23 chars) are split into overlapping
    * chunks inline — overlap `gram+window−2` chars, so every
    * `gram+window−1`-char span (the winnowing guarantee unit) lies
    * whole inside some chunk and NO cross-chunk run is lost; selected
    * fingerprints dedupe on (doc, window text) across chunks. Docs
    * within budget stay exactly one chunk (k = 0, substr = identity),
    * so the common path is byte-identical to the unchunked plan.
    *
    * The hash + rolling min + distinct run as ONE native pass per
    * chunk ([[graft.expressions.WinnowSelect]], `graft_winnow`) — no
    * position explode, no window exchange. */
  def winnowedDupPairs(df: DataFrame, idCol: String, textCol: String,
      gram: Int = 50, window: Int = 10, maxDf: Int = 1000,
      maxChunkChars: Int = 8388608): DataFrame = {
    require(gram > 0 && window > 0)
    require(maxChunkChars <= 8388608 && maxChunkChars >= gram + window,
      "chunk must fit the 23-bit position field and hold a full window")
    // chunk start stride: capacity minus the overlap that protects
    // boundary-crossing runs
    val step = (maxChunkChars - (gram + window - 2)).toLong
    val docs0 = df
      .select(col(idCol).as("__id"), col(textCol).as("__txt"))
      .filter(length(col("__txt")) >= gram)
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
    // kmax = ceil((len − capacity)/step) chunks past the first are
    // needed so the last chunk reaches the end; len ≤ capacity ⇒ 0.
    val kmax = greatest(lit(0L),
      ceil((length(col("__txt")).cast("long") - maxChunkChars)
        .cast("double") / step).cast("long"))
    val docs = docs0
      .select(col("__id"), explode(sequence(lit(0L), kmax)).as("__c"),
        col("__txt"))
      .select(col("__id"),
        substr(col("__txt"), (col("__c") * step + 1L).cast("int"),
          lit(maxChunkChars)).as("__txt"))
      .filter(length(col("__txt")) >= gram)
    // The selected encodings stream out of the scan and recover their
    // text inline: generate → substr → drop __txt sits in one codegen
    // span, so the chunk text never crosses an exchange.
    val fp = docs
      .select(col("__id"), col("__txt"),
        explode(call_function("graft_winnow", col("__txt"),
          lit(gram), lit(window))).as("__m"))
      .select(col("__id"),
        substr(col("__txt"), pmod(col("__m"), lit(8388608L)).cast("int"),
          lit(gram)).as("win"))
      .distinct()
    val hot = fp.groupBy("win").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf).select("win")
    val pruned = fp.join(broadcast(hot), Seq("win"), "left_anti")
    pruned.select(col("win"), col("__id").as("id_a"))
      .join(pruned.select(col("win"), col("__id").as("id_b")), Seq("win"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
  }

  /** Incremental exact dedup: classify an incoming batch against an
    * already-ingested reference corpus — the steady-state shape of a
    * production pipeline, where each day's crawl dedups against the
    * accumulated corpus rather than re-deduping everything. Status per
    * incoming row: `dup_of_ref` (fingerprint already in the reference),
    * `dup_in_batch` (first occurrence of this fingerprint inside the
    * batch wins — min id), else `new`.
    *
    * Scale shape: two shuffles on the md5 fingerprint (reference
    * distinct + batch min-id aggregate), then fingerprint-keyed joins —
    * uniform keys by construction; the reference side carries ONE
    * column (the fingerprint), never its text. */
  def dedupAgainstReference(incoming: DataFrame, reference: DataFrame,
      idCol: String, textCol: String): DataFrame =
    dedupAgainstReferenceFps(incoming, idCol, textCol,
      reference.select(TextFunctions.fingerprint(col(textCol)).as("fp")))

  /** [[dedupAgainstReference]] over a PRECOMPUTED reference fingerprint
    * table `(fp string)` — the steady-state incremental form: the
    * accumulated corpus's fingerprints are persisted once at ingestion
    * (a single md5 per document — tiny) and each day's batch joins
    * against that table instead of re-fingerprinting the whole corpus
    * per call. Need not be pre-distinct (distinct applied here). */
  def dedupAgainstReferenceFps(incoming: DataFrame, idCol: String,
      textCol: String, refFps: DataFrame): DataFrame = {
    val inc = incoming.select(col(idCol),
      TextFunctions.fingerprint(col(textCol)).as("fp"))
    val ref = refFps.select(col("fp"))
      .distinct().withColumn("__inref", lit(1))
    val keep = inc.groupBy("fp").agg(min(col(idCol)).as("__keep"))
    inc.join(ref, Seq("fp"), "left")
      .join(keep, Seq("fp"))
      .select(col(idCol), col("fp"),
        when(col("__inref").isNotNull, lit("dup_of_ref"))
          .when(col(idCol) =!= col("__keep"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"))
  }

  /** n-gram Jaccard similarity via COUNT-BASED inverted-index
    * verification (the MapReduce-canonical exact set-similarity join,
    * Vernica et al. SIGMOD'10 family) — no LSH approximation: every
    * pair with rounded J ≥ threshold gets its exact Jaccard.
    *
    * Shape: explode shingles → doc-frequency; shingles with df > maxDf
    * are "hot" (stop-shingles), the rest "rare". The rare inverted
    * index self-joins and a single narrow groupBy counts each pair's
    * shared-rare shingles EXACTLY (shingles are distinct per doc, so
    * one co-occurrence row per shared shingle). The hot remainder of
    * the intersection is recovered from tiny per-doc hot-shingle
    * arrays (≤ |global hot set| elements each). |A∩B| = shared_rare +
    * |hotA ∩ hotB| — exact — and J follows from the sizes alone.
    *
    * Why counting instead of prefix-filter + array verification
    * (ppjoin): on Spark the per-pair `array_intersect` verification is
    * the cost center, not candidate generation — the ≥τ filter gets
    * pushed into the verify join's CONDITION, evaluating the set
    * intersection twice per row outside codegen, and the full shingle
    * arrays ride through every exchange. The count join touches only
    * (id, id) longs, partial-aggregates map-side, and its volume is
    * bounded by Σ_sh C(min(df, maxDf), 2) — the same bound the
    * candidate stage always had. Measured at sf0.1: 3× faster than the
    * prefix-filtered array-verify formulation, identical output.
    *
    * Pairs whose entire intersection is hot shingles produce no
    * co-occurrence row and are not emitted — the deliberate maxDf
    * contract (a pair held together only by stop-shingles is noise at
    * corpus scale; raise maxDf if that regime matters).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.5,
      maxDf: Int = 100): DataFrame =
    ngramJaccardPairsFromSets(
      shingleSets(df, idCol, textCol, shingleSize), idCol, threshold, maxDf)

  /** [[ngramJaccardPairs]] over precomputed [[shingleSets]] output. */
  def ngramJaccardPairsFromSets(shSets: DataFrame, idCol: String,
      threshold: Double, maxDf: Int): DataFrame =
    pairOverlapFromSets(shSets, idCol, maxDf)
      .withColumn("jaccard", MysqlFunctions.oracleRound(
        col("__inter").cast("double") /
          (col("__sa") + col("__sb") - col("__inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Exact shingle-set overlap per candidate pair — the shared tail of
    * the n-gram family: returns `(id_a, id_b, __inter, __sa, __sb)`
    * (intersection size + both set sizes) for every pair sharing at
    * least one sub-`maxDf` shingle. [[ngramJaccardPairsFromSets]] and
    * [[containmentPairsFromSets]] are both one projection over this. */
  private def pairOverlapFromSets(shSets: DataFrame, idCol: String,
      maxDf: Int): DataFrame = {
    val sets = shSets.withColumnRenamed(idCol, "__id")
    val sh = sets.select(col("__id"), explode(col("__sh")).as("sh"))
    // Stop-shingle cap: groupBy doc-frequency + broadcast anti-join of
    // the (small) hot set.
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("__df"))
    val hot = dfreq.filter(col("__df") > maxDf).select("sh")
    val rare = sh.join(broadcast(hot), Seq("sh"), "left_anti")
    val sizes = sets.select(col("__id"), size(col("__sh")).cast("long").as("__sz"))
    // exact shared-rare counts: one narrow self-join + groupBy
    val co = rare.select(col("sh"), col("__id").as("id_a"))
      .join(rare.select(col("sh"), col("__id").as("id_b")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__cr"))
    // per-doc stats (size + hot-shingle array) combined ONCE at doc
    // granularity, then joined once per pair side — doc-count-sized, no
    // broadcast hint (wrong at 1000× scale); the two pair-set joins
    // move only narrow rows and AQE broadcasts the small side at gate
    // scale on runtime stats
    val hotSets = sh.join(broadcast(hot), Seq("sh"), "left_semi")
      .groupBy("__id").agg(collect_list(col("sh")).as("__hsh"))
    val docStats = sizes.join(hotSets, Seq("__id"), "left")
    co
      .join(docStats.select(col("__id").as("id_a"), col("__sz").as("__sa"),
        col("__hsh").as("__ha")), Seq("id_a"))
      .join(docStats.select(col("__id").as("id_b"), col("__sz").as("__sb"),
        col("__hsh").as("__hb")), Seq("id_b"))
      .withColumn("__inter", col("__cr") +
        when(col("__ha").isNotNull && col("__hb").isNotNull,
          size(array_intersect(col("__ha"), col("__hb"))).cast("long"))
        .otherwise(lit(0L)))
  }

  /** Shingle-containment pairs — the ASYMMETRIC near-dup score Jaccard
    * misses: `cont_a = |S_a ∩ S_b| / |S_a|` (how much of a is inside
    * b) and symmetrically `cont_b`. A short document wholly embedded
    * in a long one scores `cont ≈ 1` while its Jaccard is only
    * `|small|/|large|` — the sub-document duplication mode (quoted
    * articles, concatenated crawls, prefix-truncated re-uploads) that
    * a resemblance threshold never surfaces (Broder 1997's
    * resemblance-vs-containment distinction). Emits every candidate
    * pair with `max(cont_a, cont_b) ≥ threshold` plus its Jaccard, so
    * the caller sees exactly which keeps/drops a Jaccard pipeline
    * would have made differently.
    *
    * Scale shape: identical to [[ngramJaccardPairsFromSets]] — the
    * inverted-index candidate join + one overlap aggregate
    * ([[pairOverlapFromSets]], shared code), then a map-only score
    * projection; the asymmetric score costs nothing extra. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.8,
      maxDf: Int = 100): DataFrame =
    containmentPairsFromSets(shingleSets(df, idCol, textCol, shingleSize),
      idCol, threshold, maxDf)

  /** Per-document n-gram NOVELTY against a reference slice — the
    * data-valuation score of selection pipelines ("does this incoming
    * document add anything the corpus hasn't seen?"): for every
    * non-reference document, the fraction of its distinct shingles
    * absent from the reference slice's shingle vocabulary.
    * High novelty = new information worth keeping; novelty ≈ 0 = the
    * document restates what the corpus already holds (the selection
    * complement of the dedup family: dedup finds the SAME text,
    * novelty quantifies how much is NEW).
    *
    * Input is [[shingleSets]] output with an extra boolean `refCol`
    * marking the reference slice. Returns (idCol, n_shingles, n_novel,
    * novelty 4-dp) for the non-reference docs.
    *
    * Scale shape: one explode + a distinct on the reference shingles
    * (map-side combined) + ONE shingle-keyed left join + a doc-keyed
    * count aggregate — the inverted-index shape; nothing doc² or
    * vocabulary-sized on one node, and the reference vocabulary is
    * never collected. */
  def noveltyFromSets(shSets: DataFrame, idCol: String,
      refCol: String): DataFrame = {
    val ex = shSets.select(col(idCol), col(refCol).cast("boolean").as("__ref"),
      explode(col("__sh")).as("sh"))
    val refSh = ex.filter(col("__ref")).select("sh").distinct()
      .withColumn("__seen", lit(1))
    ex.filter(!col("__ref"))
      .join(refSh, Seq("sh"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", MysqlFunctions.oracleRound(
        col("n_novel").cast("double") / col("n_shingles").cast("double"), 4))
  }

  /** [[containmentPairs]] over precomputed [[shingleSets]] output. */
  def containmentPairsFromSets(shSets: DataFrame, idCol: String,
      threshold: Double, maxDf: Int): DataFrame =
    pairOverlapFromSets(shSets, idCol, maxDf)
      .withColumn("cont_a", MysqlFunctions.oracleRound(
        col("__inter").cast("double") / col("__sa").cast("double"), 4))
      .withColumn("cont_b", MysqlFunctions.oracleRound(
        col("__inter").cast("double") / col("__sb").cast("double"), 4))
      .withColumn("jaccard", MysqlFunctions.oracleRound(
        col("__inter").cast("double") /
          (col("__sa") + col("__sb") - col("__inter")).cast("double"), 4))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("id_a", "id_b", "cont_a", "cont_b", "jaccard")

  /** Sorted-neighborhood dedup (Hernández & Stolfo SIGMOD'95): sort the
    * corpus by a cheap normalized key, slide a fixed window of `window`
    * positions down the sorted order, and verify each in-window pair
    * with exact edit distance. The classic blocking alternative to
    * LSH — O(n·w) candidate pairs instead of bucket-quadratic, catches
    * prefix-similar near-dups that hash blocking splits apart.
    *
    * Scale shape: the global sort rank is computed TWO-LEVEL (the
    * [[graft.operators.CorpusOps.packSequences]] move, re-keyed for an
    * arbitrary sort key): range-bucket on the key's leading character,
    * broadcast per-bucket offsets from a bucket-count window (bucket
    * count ≤ alphabet size — driver-safe), then a within-bucket
    * row_number. No single-partition global window anywhere. Pair
    * generation is an equi-join on rank+d for d ∈ 1..window — corpus ×
    * w rows, shuffle on rank (uniform by construction). The leading-
    * char bucket is the skew hazard (a corpus where every key starts
    * identically degenerates to one bucket) — swap in a longer prefix
    * with the key when that happens, same remedy as any range sort.
    *
    * Emits `(id_a, id_b, dist)` with `id_a < id_b` and
    * `dist = levenshtein(key_a, key_b) ≤ maxDist`, ordered. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, key: Column,
      window: Int, maxDist: Int): DataFrame = {
    require(window >= 1 && maxDist >= 0)
    val base = df.select(col(idCol).as("__id"), key.as("__key"))
    // level 1: bucket = leading char (range-bucketing that preserves
    // lexicographic order BETWEEN buckets; '' sorts first)
    val bucketed = base.withColumn("__bkt", substring(col("__key"), 1, 1))
    val offs = bucketed.groupBy("__bkt").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(
        sum("__n").over(org.apache.spark.sql.expressions.Window
          .orderBy("__bkt").rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("__bkt", "__off")
    // level 2: within-bucket rank, ties broken by id (deterministic)
    val localWin = org.apache.spark.sql.expressions.Window
      .partitionBy("__bkt").orderBy(col("__key"), col("__id"))
    val ranked = bucketed.join(broadcast(offs), Seq("__bkt"))
      .withColumn("__rank", col("__off") + row_number().over(localWin))
      .select(col("__id"), col("__key"), col("__rank"))
    val probes = ranked.select(col("__id").as("__ida"),
        col("__key").as("__ka"),
        explode(sequence(lit(1), lit(window))).as("__d"),
        col("__rank"))
      .withColumn("__rank", col("__rank") + col("__d"))
    probes.join(ranked.withColumnRenamed("__id", "__idb")
        .withColumnRenamed("__key", "__kb"), Seq("__rank"))
      .withColumn("dist", levenshtein(col("__ka"), col("__kb")))
      .filter(col("dist") <= maxDist)
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"), col("dist"))
  }

  /** LSH design audit: the banded-MinHash collision S-curve measured
    * against theory on a PLANTED variable-similarity corpus — the
    * "will my banding catch J=0.6 pairs?" question answered with data
    * before a production run, the same design-regime discipline as
    * q51. Each document gets ONE variant keeping token i iff
    * `md5('keep:'+id+':'+i) mod 10 < 4 + id mod 7` (keep levels
    * 0.4…1.0 → pair Jaccards spread over the whole S-curve, all
    * md5-derived so the oracle replays generation exactly). For each
    * (doc, variant) pair: exact shingle Jaccard, how many of the 16
    * bands' 4-row signature slices matched, whether the pair would
    * surface as an LSH candidate, and the theoretical collision
    * probability 1−(1−J⁴)¹⁶ — expanded as repeated squaring
    * (multiplications only, no libm pow) so both engines compute the
    * identical IEEE value.
    *
    * Scale shape: variant generation is map-only; signatures ride the
    * standard shingle/signature stages; the pair frame is LINEAR in
    * corpus size (each doc joins exactly its own variant — no pair
    * blowup, band membership checked by direct slice comparison
    * rather than a bucket self-join).
    */
  def lshCollisionAudit(docs: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    // p_theory below unrolls (1-j^4)^16 as exact repeated squaring;
    // generalizing needs a pow() both engines compute identically
    require(bands == 16 && rowsPerBand == 4,
      "collision audit is pinned to the 16x4 production banding")
    val numHashes = bands * rowsPerBand
    val t = TextFunctions.tokens(trim(col(textCol)))
    val keepLvl = lit(4L) + pmod(col(idCol), lit(7L))
    val keptIdx = filter(sequence(lit(1), size(col("__t"))), i =>
      pmod(TextFunctions.md5Int(concat(lit("keep:"),
        col(idCol).cast("string"), lit(":"), i.cast("string")), 8),
        lit(10L)) < keepLvl)
    // NB: the +10000 rename happens in its OWN projection — putting it
    // in the same select as the keep predicate lets Spark's lateral
    // column alias resolution bind the predicate's idCol reference to
    // the renamed value (observed: doc 0 hashed as 'keep:10000:i' at
    // level 8), silently changing every variant
    val variants = docs.select(col(idCol), t.as("__t"))
      .select(col(idCol),
        array_join(transform(keptIdx, i =>
          element_at(col("__t"), i.cast("int"))), " ").as(textCol))
      .select((col(idCol) + lit(10000L)).as(idCol), col(textCol))
    val corpus = docs.select(col(idCol), col(textCol)).unionByName(variants)
    val sets = shingleSets(corpus, idCol, textCol, 3)
    val sigs = minHashSigsFromSets(sets, idCol, numHashes)
    val pairSets = sets.filter(col(idCol) < 10000)
      .select(col(idCol).as("id_a"), col("__sh").as("__sa"))
      .join(sets.filter(col(idCol) >= 10000)
        .select((col(idCol) - lit(10000L)).as("id_a"), col("__sh").as("__sb")),
        Seq("id_a"))
    val pairSigs = sigs.filter(col(idCol) < 10000)
      .select(col(idCol).as("id_a"), col("sig").as("__ga"))
      .join(sigs.filter(col(idCol) >= 10000)
        .select((col(idCol) - lit(10000L)).as("id_a"), col("sig").as("__gb")),
        Seq("id_a"))
    val bandHit = filter(sequence(lit(0), lit(bands - 1)), b =>
      (1 to rowsPerBand).map(i =>
        element_at(col("__ga"), (b * rowsPerBand + i).cast("int")) ===
          element_at(col("__gb"), (b * rowsPerBand + i).cast("int")))
        .reduce(_ && _))
    val j = col("__inter").cast("double") / col("__uni").cast("double")
    val jr = MysqlFunctions.oracleRound(j, 4)
    // 1 - (1 - j^4)^16 by exact repeated squaring (bands=16, rows=4)
    val j2 = jr * jr; val j4 = j2 * j2
    val y = lit(1.0) - j4
    val y2 = y * y; val y4 = y2 * y2; val y8 = y4 * y4; val y16 = y8 * y8
    pairSets.join(pairSigs, Seq("id_a"))
      .withColumn("keep_lvl", lit(4L) + pmod(col("id_a"), lit(7L)))
      .withColumn("__inter",
        size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .withColumn("__uni", (size(col("__sa")) + size(col("__sb"))).cast("long")
        - col("__inter"))
      .withColumn("n_hit_bands", size(bandHit).cast("long"))
      .select(col("id_a"), col("keep_lvl"),
        size(col("__sa")).cast("long").as("n_sh_a"),
        size(col("__sb")).cast("long").as("n_sh_b"),
        jr.as("jaccard"),
        col("n_hit_bands"),
        (col("n_hit_bands") > 0).as("collided"),
        MysqlFunctions.oracleRound(lit(1.0) - y16, 6).as("p_theory"))
  }

  /** LSH parameter design table — q179's S-curve audit turned into the
    * DESIGNER: for every banding (b, r) with b·r = `totalHashes` (both
    * powers of two), integrate the collision curve 1−(1−Jʳ)ᵇ over a
    * J grid and report the false-positive mass below τ and the
    * false-negative mass at or above it. The (b, r) minimizing their
    * sum is the banding to deploy at that τ — the table every
    * MinHash-LSH rollout should be read off, computed by the engine
    * itself.
    *
    * Determinism discipline: powers by EXACT repeated squaring (r and
    * b are powers of two — multiplications only, no libm pow), the τ
    * threshold compared on the INTEGER grid index, every grid point
    * quantized `floor(·10⁶+.5)` before summation — the entire output
    * is BIGINTs, no float column at all. Driver-free: the grid is a
    * range × 7-config frame, map-only.
    */
  def lshDesignTable(totalHashes: Int, tauGrid: Int): DataFrame = {
    require(Integer.bitCount(totalHashes) == 1, "totalHashes must be 2^k")
    val spark = org.apache.spark.sql.SparkSession.active
    def log2(x: Int): Int = Integer.numberOfTrailingZeros(x)
    def sq(c: Column, k: Int): Column =
      (0 until k).foldLeft(c)((x, _) => x * x)
    val legs = (0 to log2(totalHashes)).map { i =>
      val r = 1 << i
      val b = totalHashes / r
      val grid = spark.range(1, 100)
        .select(col("id").cast("int").as("g"),
          (col("id").cast("double") / lit(100.0)).as("j"))
      val p = lit(1.0) - sq(lit(1.0) - sq(col("j"), log2(r)), log2(b))
      grid.select(col("g"), p.as("p"))
        .agg(
          sum(when(col("g") < tauGrid,
            floor(col("p") * lit(1e6) + lit(0.5)).cast("long"))
            .otherwise(lit(0L))).as("fp_fp"),
          sum(when(col("g") >= tauGrid,
            floor((lit(1.0) - col("p")) * lit(1e6) + lit(0.5)).cast("long"))
            .otherwise(lit(0L))).as("fn_fp"))
        .select(lit(b).cast("int").as("bands"),
          lit(r).cast("int").as("rows_per_band"),
          col("fp_fp"), col("fn_fp"),
          (col("fp_fp") + col("fn_fp")).as("total_fp"))
    }
    val table = legs.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    table.coalesce(1)
      .withColumn("is_best",
        col("total_fp") === min("total_fp").over(w))
      .orderBy("bands")
  }

  /** EXACT set-similarity join by prefix filtering (Chaudhuri et al.
    * ICDE'06; the candidate-generation core of PPJoin, Xiao et al.
    * WWW'08) — every pair with set-Jaccard ≥ tauNum/tauDen, no
    * approximation: the complement to MinHash-LSH ([[minhashPairs]])
    * when the guarantee must be "ALL qualifying pairs", not "with
    * high probability".
    *
    * The pruning lemma: J(A,B) ≥ τ ⇒ |A∩B| ≥ ⌈τ·|A|⌉, so if the
    * elements of every set are ordered by ONE global total order, A
    * and B must share an element among each one's first
    * `|set| − ⌈τ·|set|⌉ + 1` elements. Ordering rarest-first
    * (document frequency asc, term asc) makes those prefix elements
    * the least common ones, which is what shrinks the candidate join.
    * The order is applied as a SORT KEY — `sort_array` over
    * `struct(df, term)` — never materialized as a global rank: no
    * global row_number, no single-partition window (the q143 lesson).
    * ⌈τ·s⌉ evaluates as `(s·tauNum + tauDen − 1) div tauDen`, so every
    * threshold in the operator is exact integer arithmetic; the final
    * τ gate compares `inter·tauDen ≥ uni·tauNum` the same way.
    *
    * Scale shape: df count and per-set sort are one term-keyed and one
    * id-keyed shuffle; the candidate join explodes ONLY prefix tokens
    * (on this corpus ~32 % of the pair space survives vs 100 % for the
    * naive all-pairs; on a natural heavy-tailed vocabulary far less);
    * verification joins the bounded per-doc term arrays to exactly the
    * candidate pairs — never corpus × corpus. High-df prefix tokens
    * are the skew hazard, bounded by construction: rarest-first order
    * puts a frequent token in a prefix only when a set has almost
    * nothing else.
    *
    * `toks` must be DISTINCT (id, term) pairs.
    */
  def prefixFilterJoin(toks: DataFrame, idCol: String,
      tauNum: Int, tauDen: Int): DataFrame = {
    require(tauNum > 0 && tauNum < tauDen, "tau must be in (0,1)")
    val dfreq = toks.groupBy("term").agg(count(lit(1)).as("df"))
    val sets = toks.join(dfreq, Seq("term"))
      .groupBy(col(idCol)).agg(
        sort_array(collect_list(struct(col("df"), col("term")))).as("l"),
        count(lit(1)).as("s"))
    val prefLen = s"int(s - ((s * $tauNum + ${tauDen - 1}) div $tauDen) + 1)"
    val pref = sets.select(col(idCol).as("__id"), col("s"),
      explode(expr(s"transform(slice(l, 1, $prefLen), x -> x.term)"))
        .as("term"))
    // size filter (the prefix filter's standard companion): J ≥ τ
    // forces τ·|B| ≤ |A| ≤ |B|/τ, checked by integer cross-multiply on
    // the sizes already riding the prefix rows — it prunes candidates
    // BEFORE the distinct/verify stages ever see them
    val cand = pref.as("a").join(pref.as("b"),
        col("a.term") === col("b.term") && col("a.__id") < col("b.__id") &&
          col("a.s") * tauDen >= col("b.s") * tauNum &&
          col("b.s") * tauDen >= col("a.s") * tauNum)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    val termSets = sets.select(col(idCol).as("__id"),
      expr("transform(l, x -> x.term)").as("ts"), col("s"))
    cand
      .join(termSets.select(col("__id").as("id_a"), col("ts").as("__tsa"),
        col("s").as("__sa")), Seq("id_a"))
      .join(termSets.select(col("__id").as("id_b"), col("ts").as("__tsb"),
        col("s").as("__sb")), Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("__tsa"), col("__tsb"))).cast("long"))
      .withColumn("uni", col("__sa") + col("__sb") - col("inter"))
      .where(col("inter") * tauDen >= col("uni") * tauNum)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        MysqlFunctions.oracleRound(
          col("inter").cast("double") / col("uni").cast("double"), 6)
          .as("jac"))
  }
}
