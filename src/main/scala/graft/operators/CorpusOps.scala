package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{MysqlFunctions, TextFunctions}

/** Corpus curation operators a large-scale training-data pipeline needs
  * around the dedup/similarity core: deterministic dataset splitting and
  * stratified sampling, per-domain quota capping, benchmark
  * decontamination, sequence packing, and blocked fuzzy matching. All
  * are single-shuffle (or shuffle-free) DataFrame compositions of
  * codegen'd built-ins; nothing is ever collected to the driver —
  * every operator stays fully distributed.
  */
object CorpusOps {

  /** Fold a distinct-shingle frame (`__sh` string column) into a Bloom
    * filter NOW (a distributed aggregate collected to its ~1.2 B/item
    * serialized form) and return the probe: shingle Column → boolean
    * Column, the native codegen'd `graft_bloom_contains` over the
    * filter bytes. Shared by the batch
    * [[bloomDecontaminateFromSets]] and the streaming
    * `EventStreams.deconStream` (where the filter is built once at
    * plan-build against the static bench side). */
  private[graft] def shingleBloomProbe(benchSh: DataFrame,
      expectedItems: Long, fpp: Double): Column => Column = {
    val bf = benchSh.select(xxhash64(col("__sh")).as("__h"))
      .stat.bloomFilter("__h", expectedItems, fpp)
    val bytes = {
      val os = new java.io.ByteArrayOutputStream()
      bf.writeTo(os)
      os.toByteArray
    }
    sh => call_function("graft_bloom_contains", lit(bytes), xxhash64(sh))
  }

  /** Deterministic hash bucket in [0, buckets): md5 prefix of
    * `salt:id` — the engine's standard hash derivation (SQL-reproducible,
    * so split assignments are oracle-verifiable and STABLE across runs,
    * reshuffles, and engine versions — the property that matters for
    * train/test splits: a document's split must never depend on
    * partitioning or arrival order). */
  def hashBucket(id: Column, salt: String, buckets: Int): Column =
    pmod(TextFunctions.md5Int(concat(lit(s"$salt:"), id.cast("string")), 8),
      lit(buckets.toLong)).cast("int")

  /** Train/val/test split assignment by deterministic hash bucket:
    * bucket < trainPct → "train", < trainPct+valPct → "val", else
    * "test". Per-row projection, no shuffle — at 100 TB this is a free
    * column on the scan. Fractions are in integer percent so bucket
    * boundaries are exact (no float threshold ambiguity). */
  def hashSplit(df: DataFrame, idCol: String, salt: String = "split",
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      "split percents must be non-negative and sum to <= 100")
    val b = hashBucket(col(idCol), salt, 100)
    df.withColumn("bucket", b)
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  /** Per-domain quota cap (the RefinedWeb/C4-style source balancer):
    * keep the `cap` best documents per domain by (score desc, id asc).
    * One shuffle on the domain key; the rank window streams each
    * domain's partition. Scores are expected PRE-ROUNDED (the engine's
    * rounded-score ranking convention — rank comparisons must not
    * depend on last-ulp score differences). At 100 TB a skewed domain
    * is the hot key — cap the skew upstream with a per-domain count +
    * broadcast filter if one domain dominates the corpus. */
  def domainCap(df: DataFrame, idCol: String, domainCol: String,
      score: Column, cap: Int): DataFrame = {
    val w = Window.partitionBy(col(domainCol))
      .orderBy(col("score").desc, col(idCol))
    df.select(col(idCol), col(domainCol), score.as("score"))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= cap)
  }

  /** Benchmark decontamination: count, per corpus document, the n-gram
    * shingles it shares with a benchmark/eval set — the standard
    * "did the training set leak the test set" scan (n-gram overlap, as
    * in GPT-3/PaLM contamination analyses). Returns one row per
    * CONTAMINATED document: (id, n_overlap).
    *
    * Scale shape: the benchmark side is tiny (an eval set), so its
    * distinct-shingle set broadcasts; the corpus streams through one
    * explode + broadcast hash-semi-join + per-doc count (map-side
    * combined) — no shuffle of the corpus text, no pair join. Shingle
    * arrays are distinct per document ([[Dedup.shingles]]), so
    * count(*) after the join IS the distinct-overlap count.
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3): DataFrame =
    decontaminateFromSets(
      corpus.select(col(idCol), Dedup.shingles(col(textCol), shingleSize).as("__sh")),
      bench.select(Dedup.shingles(col(textCol), shingleSize).as("__sh")),
      idCol)

  /** Deterministic stratified sample: within each stratum, keep the
    * `pct`% of rows with the smallest md5(salt:id) ranks (quota =
    * ⌈n·pct/100⌉, integer-exact). The per-language / per-source
    * subsampler of corpus curation — like [[hashSplit]] the membership
    * is a pure function of (id, stratum population), reproducible on
    * any engine; unlike a Bernoulli `sample()` the quota is EXACT per
    * stratum, and unlike `sampleBy` it is seed-stable across Spark
    * versions. One shuffle on the stratum key. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
      pct: Int, salt: String = "sample"): DataFrame = {
    require(pct >= 0 && pct <= 100, "pct must be in [0, 100]")
    val h = TextFunctions.md5Int(concat(lit(s"$salt:"), col(idCol).cast("string")), 8)
    val w = Window.partitionBy(col(stratumCol)).orderBy(h, col(idCol))
    val n = Window.partitionBy(col(stratumCol))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(n))
      // ⌈n·pct/100⌉ in exact integer arithmetic (the float form
      // n*0.01*pct is NOT exactly ⌈⌉ at representability boundaries)
      .filter(col("__rn") <= floor((col("__n") * pct + 99) / lit(100)).cast("long"))
      .drop("__rn", "__n")
  }

  /** Domain-mixture planner: given per-row domain + token count and a
    * target mixture `target(domain, target_pct)`, compute each
    * domain's actual token share and the per-domain KEEP RATE that
    * realizes the target mixture by pure downsampling — `rate_d ∝
    * target_d / tokens_d`, normalized so the binding domain (the one
    * already at or under target) keeps rate 1.0 and everything else
    * thins proportionally. Feed the rates to [[weightedSample]] (join
    * on domain) to execute the plan deterministically. The standard
    * mixture-balancing step of multi-source pretraining corpora
    * (C4/Pile-style source weighting).
    *
    * Scale shape: one domain-keyed aggregate (map-side combined), two
    * broadcast 1-row aggregates (max ratio, total) — the mixture table
    * is domain-count-sized, never data-sized. */
  def mixtureRates(df: DataFrame, domainCol: String, tokens: Column,
      target: DataFrame): DataFrame = {
    require(target.columns.contains("domain") &&
      target.columns.contains("target_pct"),
      s"target needs (domain, target_pct), got ${target.columns.toSeq}")
    val tok = df.select(col(domainCol).as("domain"), tokens.cast("long").as("__tk"))
      .groupBy("domain").agg(sum("__tk").as("n_tokens"))
    val joined = tok.join(target, Seq("domain"))
      .withColumn("__ratio",
        col("target_pct").cast("double") / col("n_tokens").cast("double"))
    val mx = joined.agg(max("__ratio").as("__mx"))
    val tot = tok.agg(sum("n_tokens").cast("double").as("__tot"))
    joined.crossJoin(broadcast(mx)).crossJoin(broadcast(tot))
      .select(col("domain"), col("n_tokens"),
        MysqlFunctions.oracleRound(
          lit(100.0) * col("n_tokens").cast("double") / col("__tot"), 4)
          .as("actual_pct"),
        col("target_pct"),
        MysqlFunctions.oracleRound(col("__ratio") / col("__mx"), 6)
          .as("keep_rate"))
  }

  /** Deterministic weighted (importance) sampling: keep a row with
    * probability `weight` (clamped to [0, 1]) — the quality-proportional
    * downsampler of DCLM/RedPajama-style curation, where high-scoring
    * documents survive and low-scoring ones thin out. The coin is
    * md5-derived (`md5(salt:id)/2^32 < weight`), so membership is a
    * pure function of (id, weight): stable across runs, partitionings,
    * and engines, and exactly reproducible in SQL — a Bernoulli
    * `rand()` sample is none of those. Per-row projection + filter, no
    * shuffle; at 100 TB it rides the scan like [[hashSplit]].
    * Expects `weight` PRE-ROUNDED if it comes from float arithmetic
    * (the rounded-score convention: membership must not flip on
    * last-ulp weight differences between engines). */
  def weightedSample(df: DataFrame, idCol: String, weight: Column,
      salt: String = "wsample"): DataFrame = {
    val u = TextFunctions.md5Int(
      concat(lit(s"$salt:"), col(idCol).cast("string")), 8)
      .cast("double") / lit(4294967296.0)
    df.withColumn("weight", least(greatest(weight, lit(0.0)), lit(1.0)))
      .filter(u < col("weight"))
  }

  /** Fixed-size weighted sampling WITHOUT replacement — Efraimidis &
    * Spirakis (IPL 2006): key_i = u_i^(1/w_i) with u_i uniform, take
    * the n largest keys; the result is distributed exactly as
    * sequential weighted draws without replacement. The fixed-SIZE
    * complement of [[weightedSample]]'s Bernoulli thinning (which
    * cannot hit a target count): mixture builders that need "exactly n
    * docs, weight-proportional" use this one.
    *
    * Determinism: u is md5-derived (`(md5Int(salt:id, 8)+1)/2^32` —
    * the +1 keeps u in (0,1], so ln is finite), and ranking by
    * u^(1/w) is order-equivalent to ranking by ln(u)/w (monotone:
    * ln u < 0), which skips the pow/exp round-trip; the key is PINNED
    * to 10 dp (the rounded-score convention) with id tie-break, so
    * sample membership cannot flip on last-ulp float differences
    * between engines — the whole pipeline has an ANSI-SQL closed form.
    *
    * 100 TB shape: per-row key projection on the scan + one
    * `TakeOrdered` top-n (per-partition heads + merge — no global
    * sort, no shuffle of the corpus); n rows reach the driver side
    * only if the caller collects. Weights must be ≥ 1 and integral
    * (token counts, byte sizes) — float weights would re-introduce
    * the cross-engine ulp hazard inside the key. */
  def weightedReservoir(df: DataFrame, idCol: String, weight: Column,
      n: Int, salt: String = "esample"): DataFrame = {
    val u = (TextFunctions.md5Int(
        concat(lit(s"$salt:"), col(idCol).cast("string")), 8) + 1L)
      .cast("double") / lit(4294967296.0)
    val key = MysqlFunctions.oracleRound(log(u) / weight.cast("double"), 10)
    val ranked = df.withColumn("w", weight.cast("long"))
      .filter(col("w") >= 1L)
      .withColumn("es_key", key)
      .orderBy(col("es_key").desc, col(idCol)).limit(n)
    ranked.withColumn("rnk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(lit(0)).orderBy(col("es_key").desc, col(idCol)))
        .cast("int"))
  }

  /** GPT-style sequence packing: concatenate documents in id order and
    * chunk the token stream into fixed `blockTokens` blocks — each doc
    * gets its starting offset, its block SPAN (`start_off`/`end_off`/
    * first `block`/`n_blocks`), so a consumer can slice its bytes out
    * of the packed stream without recomputing any prefix sum (docs may
    * straddle blocks). The packing is a PREFIX SUM, and the global
    * window that computes one naively is a single-partition
    * scale-killer — so this uses the two-level formulation: per-bucket
    * token totals (tiny aggregate), a running offset over the bucket
    * totals (window over #buckets rows, bounded by construction), and
    * a within-bucket cumulative window. Identical integers to the
    * global cumsum, but every big window is keyed.
    *
    * Span semantics: `end_off` is exclusive (`start_off + n_tokens`);
    * `n_blocks` = blocks the doc's tokens touch — `0` for an empty doc
    * (it occupies no token, hence no block). */
  def packSequences(df: DataFrame, idCol: String, tokens: Column,
      blockTokens: Long, bucketSize: Long = 1024L): DataFrame = {
    require(blockTokens > 0 && bucketSize > 0)
    val base = df.select(col(idCol), tokens.cast("long").as("n_tokens"))
      .withColumn("__bkt", floor(col(idCol) / lit(bucketSize)).cast("long"))
    val bucketTotals = base.groupBy("__bkt")
      .agg(sum("n_tokens").as("__btotal"))
      .withColumn("__boff",
        // bucket-count frame (one row per bucket) — constant partition
        // key silences the WindowExec single-partition warning
        coalesce(sum("__btotal").over(
          Window.partitionBy(lit(0)).orderBy("__bkt")
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("__bkt", "__boff")
    val win = Window.partitionBy("__bkt").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(bucketTotals, Seq("__bkt"))
      .withColumn("start_off",
        col("__boff") + coalesce(sum("n_tokens").over(win), lit(0L)))
      .withColumn("block", floor(col("start_off") / lit(blockTokens)).cast("long"))
      .withColumn("end_off", col("start_off") + col("n_tokens"))
      .withColumn("n_blocks",
        when(col("n_tokens") === 0L, lit(0L))
          .otherwise(floor((col("end_off") - 1L) / lit(blockTokens)).cast("long")
            - col("block") + 1L))
      .select(col(idCol), col("n_tokens"), col("start_off"), col("block"),
        col("end_off"), col("n_blocks"))
  }

  /** Blocked fuzzy matching over the DISTINCT values of a string
    * column — entity-resolution-style near-key detection (name/title
    * variants that exact dedup misses). Classic blocking: a cheap key
    * (e.g. last token, phonetic code, length band) gates the pair
    * space, then `levenshtein` verifies within blocks. Operating on
    * distinct values first is the load-bearing scale move: the pair
    * stage sees |distinct| rows, not |corpus|, and edit distance is
    * integer-exact so the whole operator is oracle-verifiable.
    * At 100 TB the block histogram is the skew check — a degenerate
    * block (everything one key) needs a second blocking key, same as
    * any ER pipeline. */
  def fuzzyPairs(df: DataFrame, nameCol: String,
      blockKey: Column => Column, maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val names = df.select(col(nameCol).as("name"))
      .filter(col("name").isNotNull).distinct()
      .withColumn("__blk", blockKey(col("name")))
    names.select(col("__blk"), col("name").as("name_a"))
      .join(names.select(col("__blk"), col("name").as("name_b")), Seq("__blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select("name_a", "name_b", "dist")
  }

  /** Blocked Jaro–Winkler record linkage: distinct (block, name) rows,
    * an equi-join on the blocking key(s), and the native
    * `graft_jaro_winkler` scorer on each in-block pair (a < b), 4-dp
    * pinned, thresholded at `minSim`. Same shape as [[fuzzyPairs]] but
    * with the similarity scorer entity resolution actually ranks by —
    * JW rewards shared prefixes, the name-key case, where edit
    * distance treats all positions alike. The JW loop is O(la·lb) per
    * pair, so the BLOCKING is the scale contract: the pair stage sees
    * Σ_blocks |block|², never |corpus|² — a degenerate block is the
    * skew alarm exactly as in [[fuzzyPairs]]. */
  def linkagePairs(df: DataFrame, nameCol: String,
      blockCols: Seq[String], minSim: Double): DataFrame = {
    require(blockCols.nonEmpty, "linkage needs at least one blocking key")
    val names = df
      .select((blockCols.map(col) :+ col(nameCol).as("name")): _*)
      .filter(col("name").isNotNull).distinct()
    val a = names.toDF(blockCols :+ "name_a": _*)
    val b = names.toDF(blockCols :+ "name_b": _*)
    a.join(b, blockCols)
      .filter(col("name_a") < col("name_b"))
      .withColumn("jw", MysqlFunctions.oracleRound(
        call_function("graft_jaro_winkler", col("name_a"), col("name_b")),
        4))
      .filter(col("jw") >= minSim)
  }

  /** [[decontaminate]] over pre-shingled `(id, __sh array<string>)`
    * rows — lets a pipeline reuse one materialized shingle stage across
    * dedup AND decontamination instead of re-tokenizing the corpus
    * (the [[Dedup.shingleSets]] contract). */
  def decontaminateFromSets(corpusSets: DataFrame, benchSets: DataFrame,
      idCol: String): DataFrame = {
    val benchSh = benchSets
      .select(explode(col("__sh")).as("__sh"))
      .distinct()
    corpusSets
      .select(col(idCol), explode(col("__sh")).as("__sh"))
      .join(broadcast(benchSh), Seq("__sh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** [[decontaminateFromSets]] at the 100 TB shape: a BLOOM-PREFILTERED
    * scan. The plain form broadcasts the benchmark's distinct-shingle
    * SET and explodes every corpus document into the overlap join — at
    * petabyte scale the explode of the whole corpus is the cost, and a
    * large eval suite's shingle set can outgrow a broadcast join. Here
    * the bench shingles fold into a Bloom filter (`stat.bloomFilter`, a
    * distributed aggregate; ~1.2 bytes/item at fpp 1e-2 — still
    * broadcastable when the set itself is not), the corpus is probed
    * IN-SCAN (`exists` over the shingle array, each probe a codegen'd
    * `BloomFilterMightContain` bit test), and only CANDIDATE documents
    * — ones with at least one probable hit — reach the explode and the
    * exact verify join that discards the false positives. Bloom filters
    * have no false NEGATIVES, and FP documents contribute zero rows to
    * the inner overlap join, so the result is row-identical to
    * [[decontaminateFromSets]] — which is what the q114 oracle states.
    * The verify join is a plain shuffle join (not broadcast): its left
    * side is only the candidates' shingles, and the right side is
    * assumed too large to broadcast (the regime this operator exists
    * for).
    *
    * `expectedItems` sizes the filter (a capacity ESTIMATE, ≥ the
    * bench's distinct-shingle count for `fpp` to hold; overshooting
    * costs filter bytes, undershooting degrades fpp — never
    * correctness). The probe is the native `graft_bloom_contains`. */
  def bloomDecontaminateFromSets(corpusSets: DataFrame,
      benchSets: DataFrame, idCol: String, expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    // materialized once: the Bloom build (an action at operator
    // construction) and the verify join otherwise each pay the bench
    // explode+distinct shuffle
    val benchSh = benchSets
      .select(explode(col("__sh")).as("__sh"))
      .distinct()
      .localCheckpoint()
    val probe = shingleBloomProbe(benchSh, expectedItems, fpp)
    val candidates = corpusSets
      .filter(exists(col("__sh"), probe))
    candidates
      .select(col(idCol), explode(col("__sh")).as("__sh"))
      .join(benchSh, Seq("__sh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Context-window chunk plan: split each document's token stream into
    * training chunks of `maxTokens` with `overlap` tokens carried
    * between consecutive chunks (stride = maxTokens − overlap) — the
    * sliding-window long-document treatment every context-bounded
    * trainer applies before [[packSequences]]-style batching. Emits one
    * row per chunk: `(id, chunk_id, start_tok, n_chunk_tokens)` —
    * chunk k covers tokens `[k·stride, k·stride + n_chunk_tokens)`,
    * the last chunk is the (possibly short) tail, and a document
    * shorter than `maxTokens` is exactly one chunk. Empty documents
    * produce no chunks.
    *
    * Scale shape: a per-row token count + sequence/explode — map-only,
    * O(chunks) output rows, no shuffle; at 100 TB this is a free
    * column on the scan feeding the actual slice step. */
  def chunkPlan(df: DataFrame, idCol: String, textCol: String,
      maxTokens: Int = 128, overlap: Int = 16): DataFrame = {
    require(maxTokens > overlap && overlap >= 0,
      "need maxTokens > overlap >= 0 for a positive stride")
    val stride = (maxTokens - overlap).toLong
    val n = TextFunctions.tokenCount(col(textCol)).cast("long")
    // chunks past the first needed so the last chunk reaches the end
    val kmax = greatest(lit(0L),
      ceil((n - maxTokens).cast("double") / stride).cast("long"))
    df.select(col(idCol), n.as("__n"), explode(sequence(lit(0L), kmax)).as("k"))
      .filter(col("__n") > 0)
      .select(col(idCol), col("k").cast("int").as("chunk_id"),
        (col("k") * stride).as("start_tok"),
        least(lit(maxTokens.toLong), col("__n") - col("k") * stride)
          .as("n_chunk_tokens"))
  }

  /** Deterministic per-epoch training order + shard assignment — the
    * data-order step of a training run: epoch e's order is the corpus
    * ranked by `md5(<salt><e>:<id>)` (an independent pseudorandom
    * permutation per epoch, the engine's standard hash derivation — no
    * stored RNG state, any row's placement is recomputable from its id
    * alone), shard = rank mod `shards` (round-robin over the shuffled
    * order, so shard sizes differ by at most 1 and each shard is an
    * unbiased subsample of the epoch order), pos = rank div `shards`
    * (the row's position within its shard's read sequence).
    *
    * Scale shape: the global per-epoch rank uses the two-level
    * bucket-offset pattern (the q58/q143 machinery): bucket = the
    * hash's top 8 bits (order-preserving BETWEEN buckets), per-bucket
    * counts cumulated in a (epochs×256)-row window, local rank
    * windowed per (epoch, bucket) — no executor ever sorts the whole
    * epoch, no single-partition window. Everything else is map-only
    * arithmetic on the rank. */
  def epochShards(df: DataFrame, idCol: String, epochs: Int, shards: Int,
      salt: String = "epoch"): DataFrame = {
    require(epochs >= 1 && shards >= 1)
    val e = df.select(col(idCol))
      .withColumn("epoch", explode(sequence(lit(0), lit(epochs - 1))))
      .withColumn("__hv", TextFunctions.md5Int(
        concat(lit(salt), col("epoch").cast("string"), lit(":"),
          col(idCol).cast("string")), 8))
    val bucketed = e.withColumn("__bkt", shiftright(col("__hv"), 24).cast("int"))
    val boff = bucketed.groupBy("epoch", "__bkt")
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(
        sum("__n").over(Window.partitionBy("epoch").orderBy("__bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("epoch", "__bkt", "__off")
    val local = Window.partitionBy("epoch", "__bkt")
      .orderBy(col("__hv"), col(idCol))
    val s = shards.toLong
    bucketed.join(boff, Seq("epoch", "__bkt"))
      .withColumn("__rnk", col("__off") + row_number().over(local) - 1)
      .select(col(idCol), col("epoch").cast("int").as("epoch"),
        pmod(col("__rnk"), lit(s)).cast("int").as("shard"),
        ((col("__rnk") - pmod(col("__rnk"), lit(s))) / s).cast("long").as("pos"))
  }

  /** Group-aware K-fold assignment + audit (scikit-learn's GroupKFold
    * contract, hash-deterministic): fold = md5(group) mod k, so EVERY
    * row of a group lands in one fold BY CONSTRUCTION — the split that
    * actually prevents leakage when near-duplicates cluster inside
    * groups (q127 shows the doc-level hash split leaking exactly
    * those). Emits the per-fold audit: docs, distinct groups, token
    * mass and its share — the balance numbers a group split trades
    * against leakage (group sizes vary, so shares drift from 1/k; the
    * audit is where that drift becomes visible).
    *
    * Scale: fold assignment is a pure projection on the group column;
    * the audit is one (fold)-keyed aggregate with distinct-group
    * counting — nothing group-count² anywhere. */
  def groupKFoldAudit(arrs: DataFrame, groupCol: String,
      tokArrCol: String, k: Int): DataFrame = {
    val fold = pmod(TextFunctions.md5Int(
      concat(lit("fold:"), col(groupCol)), 15), lit(k.toLong))
    val base = arrs.select(col(groupCol), fold.as("fold"),
      size(col(tokArrCol)).cast("long").as("nt"))
    val perFold = base.groupBy("fold").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col(groupCol)).as("n_groups"),
      sum("nt").as("n_tokens"))
    val total = base.agg(sum("nt").as("t_tokens"))
    perFold.crossJoin(broadcast(total))
      .select(col("fold"), col("n_docs"), col("n_groups"), col("n_tokens"),
        MysqlFunctions.oracleRound(col("n_tokens").cast("double")
          / col("t_tokens").cast("double"), 6).as("token_share"))
      .orderBy("fold")
  }

  /** Waterfilling cap solve — the mixture PLANNER next to
    * [[mixtureRates]]' descriptive table: given per-source token
    * masses and a token budget `B`, find the level `C` such that
    * `Σ min(massᵢ, C) = B` — small sources contribute fully, large
    * ones are capped at a COMMON level (max-min fair allocation; the
    * standard shape of "downsample the big crawls, keep the long
    * tail" mixture design, e.g. the Pile's per-set caps).
    *
    * Exact solve, no iteration: sort masses ascending, take k = the
    * largest count of fully-kept smallest sources with
    * `P_k + (n−k)·m_k ≤ B` (all sums exact BIGINTs), then
    * `C = (B − P_k)/(n−k)` — one double division of exact integers
    * (k = n degenerates to no capping). Every comparison on the
    * integer side of the divide, so source selection cannot drift
    * between engines; only C and the allocations are rounded ratios.
    *
    * Scale shape: ONE map-side-combined per-source aggregate is the
    * corpus-sized step; the sort/prefix work runs on the
    * n_sources-row frame, coalesced to one partition (the q178
    * bounded-frame contract).
    */
  def waterfillCaps(arrs: DataFrame, srcCol: String, tokArrCol: String,
      budgetNum: Int, budgetDen: Int): DataFrame = {
    val masses = arrs.groupBy(col(srcCol))
      .agg(sum(size(col(tokArrCol))).cast("long").as("mass"))
      .coalesce(1)
    val w = Window.partitionBy(lit(0))
      .orderBy(col("mass").asc, col(srcCol).asc)
    val ranked = masses
      .withColumn("j", row_number().over(w).cast("long"))
      .withColumn("pk", sum("mass").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(lit(0))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("total", sum("mass").over(
        Window.partitionBy(lit(0))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("budget",
        expr(s"(total * $budgetNum) div $budgetDen"))
    // k = max j with P_j + (n-j)*m_j <= B; k = 0 when none qualifies
    val kRow = ranked
      .withColumn("ok",
        col("pk") + (col("n") - col("j")) * col("mass") <= col("budget"))
      .agg(max(when(col("ok"), col("j")).otherwise(lit(0L))).as("k"),
        max("n").as("n"), max("budget").as("budget"), max("total").as("total"))
    val pkOfK = ranked.select(col("j").as("k"), col("pk").as("p_k"))
    val solved = kRow.join(pkOfK, Seq("k"), "left")
      .na.fill(0L, Seq("p_k"))
      .withColumn("cap_raw",
        when(col("k") === col("n"), col("total").cast("double"))
          .otherwise((col("budget") - col("p_k")).cast("double")
            / (col("n") - col("k")).cast("double")))
    ranked.crossJoin(broadcast(solved.select(
        col("budget").as("b_budget"), col("cap_raw"))))
      .select(col(srcCol), col("mass"),
        col("b_budget").as("budget"),
        MysqlFunctions.oracleRound(col("cap_raw"), 6).as("cap"),
        (col("mass").cast("double") > col("cap_raw")).as("capped"),
        MysqlFunctions.oracleRound(
          least(col("mass").cast("double"), col("cap_raw")), 6).as("alloc"))
      .orderBy(col(srcCol))
  }

  /** Cross-document boilerplate detection (the CCNet/RefinedWeb
    * paragraph-dedup step): split each document into segments on
    * `sepRegex`, count each segment's document frequency WITHIN its
    * group (site/domain/source — boilerplate is a per-site phenomenon:
    * the same nav header on every page of one site), and mark segments
    * whose df exceeds `num/den` of the group's documents. Downstream
    * drops `is_boiler` segments and rejoins — headers, footers, cookie
    * banners, nav menus vanish without any hand-written pattern list.
    *
    * Returns the segment-level frame `(idCol, groupCol, segment, df,
    * n_docs, is_boiler)`. The threshold compare is integer cross-
    * multiplication (df·den > n_docs·num) — no FP, so the SQL oracle
    * agrees exactly at the boundary.
    *
    * Shape: one shuffle keyed (group, segment) for the df aggregate
    * (map-side partials collapse the repeats — boilerplate is BY
    * DEFINITION high-multiplicity, so partial aggregation eats it),
    * one join back to the segment frame on the same key (co-
    * partitioned — Catalyst reuses the exchange), and a broadcast of
    * the per-group doc counts. No global structure: each group's
    * boilerplate is decided from that group's rows alone, so the
    * operator scales with the largest SITE, not the corpus. */
  def segmentBoilerplate(docs: DataFrame, idCol: String, groupCol: String,
      textCol: String, sepRegex: String = " \\| ",
      num: Long = 1L, den: Long = 2L): DataFrame = {
    require(num > 0 && den > 0, "threshold num/den must be positive")
    val seg = docs.select(col(idCol), col(groupCol),
      explode(split(col(textCol), sepRegex)).as("segment"))
    val df = seg.groupBy(col(groupCol), col("segment"))
      .agg(count(lit(1)).as("df"))
    val nd = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
    seg.join(df, Seq(groupCol, "segment"))
      .join(broadcast(nd), Seq(groupCol))
      .withColumn("is_boiler", col("df") * den > col("n_docs") * num)
  }

  /** Rendezvous (highest-random-weight) shard assignment: owner(x) =
    * argmax over shards of hash(x, shard) — the sharding scheme whose
    * reshard movement is provably 1/(N+1) of keys when a shard is
    * added (only keys whose NEW shard wins move), vs mod-N's
    * (N)/(N+1). Map-only: N md5 evaluations per row folded into one
    * codegen'd sort-of-structs argmax (the langId trick), no shuffle,
    * no coordination — which is why HRW is the sharding of stateless
    * router fleets. Ties (never in practice with a 60-bit hash) break
    * toward the higher shard id, pinned in the SQL oracle. */
  def rendezvousShard(key: Column, nShards: Int): Column = {
    require(nShards > 0, "nShards must be positive")
    val scored = (0 until nShards).map { sh =>
      struct((-TextFunctions.md5Int(
          concat(key.cast("string"), lit(":"), lit(sh)), 8)).as("negScore"),
        lit(-sh).as("negShard"))
    }
    (-sort_array(array(scored: _*)).getItem(0).getField("negShard"))
      .cast("int")
  }
}
