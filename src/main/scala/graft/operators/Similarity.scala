package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.MysqlFunctions

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and a random-
  * hyperplane LSH-bucketed variant as the 100 TB scale path.
  *
  * Vector math uses `zip_with`/`aggregate` higher-order functions —
  * sequential fold per row, deterministic, no UDF. At cluster scale the
  * brute-force path broadcasts the (small) query set and makes one pass
  * over the corpus; the LSH path turns the corpus pass into a bucket
  * hash-join.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns
    * (dimension-agnostic; allocates a products array per row). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Pair-loop dot product: the native codegen'd
    * [[graft.expressions.DotProduct]] (`graft_dot`), one tight loop with
    * no intermediate array (zip_with+aggregate allocates an ArrayData
    * per pair, which dominates at millions of pairs). Left-to-right
    * summation order matches [[dot]] and the SQL oracles exactly. */
  def pairDot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** L2-normalize once (O(d) per vector) so pair similarity is a bare
    * dot product — no per-pair norm recomputation. MUST be followed by
    * a [[barrier]] before any pair loop. */
  def normalized(v: Column): Column = transform(v, x => x / norm(v))

  /** Materialization barrier (one small exchange): forces upstream
    * projections — the O(d) normalization — to be evaluated once per
    * row at the shuffle boundary. Without it Catalyst's projection
    * collapse inlines the `transform` lambda into the per-pair
    * projection, re-evaluating the normalization for every `getItem`
    * in the pair loop (measured 5× slowdown on the τ-join at sf0.1). */
  private def barrier(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** L2-normalize + materialize a corpus ONCE for the whole similarity
    * family: returns (idCol, vecCol as normalized array<double>),
    * localCheckpointed. Pass the result to any op here with
    * `preNormalized = true` — the values are the SAME normalization
    * expression the ops would compute inline, just materialized, so
    * results (and the SQL oracles) are bit-identical. The flag then
    * applies to BOTH corpus and query inputs: re-normalizing an
    * already-normalized vector divides by a norm of 1±ulp and would
    * NOT be bit-identical. */
  def normalizeCorpus(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    barrier(df.select(col(idCol),
      normalized(col(vecCol).cast("array<double>")).as(vecCol)))
      .localCheckpoint()

  /** Corpus prep shared by the ops: rename + (unless pre-normalized)
    * normalize behind a barrier. */
  private def prep(corpus: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String, preNormalized: Boolean): DataFrame =
    if (preNormalized)
      corpus.select(col(idCol).as(idAs), col(vecCol).as(vecAs))
    else
      barrier(corpus.select(col(idCol).as(idAs),
        normalized(col(vecCol).cast("array<double>")).as(vecAs)))

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` is expected to be small (broadcast side); the corpus is
    * scanned once, then a per-query top-k window runs on the
    * |corpus|×|queries| score rows. Ranks are deterministic (ties broken
    * by neighbor id).
    *
    * The score-pair volume is |corpus|·|queries| — exact-verifier
    * economics, ENFORCED like [[cosineSimJoin]]'s row cap: the call
    * counts both sides and fails fast above `maxPairs` instead of
    * launching a stage that would run for days at corpus scale. The
    * corpus-as-queries callers (q206 mutual-kNN, q461 LOO eval) are
    * quadratic BY CONTRACT under this cap; their at-scale route swaps
    * this leg for [[ivfSelfTopK]] candidates feeding the same
    * downstream joins — a composition gated in its own right
    * (q467/q468), not just asserted here. */
  def cosineTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int,
      preNormalized: Boolean = false, maxPairs: Long = 2000000000L): DataFrame = {
    // cap counts run on the RAW inputs, before the normalize/barrier
    // prep: prep doesn't change row counts, and a bare count over a
    // parquet-backed frame collapses to the metadata fast path, where
    // counting the prepped side would materialize the normalization
    // just to guard it (measured ~0.2 s per call × three calls in
    // q154 — the r15 bench-flag adjudication)
    val (cc, qc) = (corpus.count(), queries.count())
    val c = prep(corpus, idCol, vecCol, "neighbor_id", "cvec", preNormalized)
    val q = prep(queries, idCol, vecCol, "query_id", "qvec", preNormalized)
    // overflow-safe cap check: the raw product cc*qc wraps Long in
    // exactly the regime the cap exists to block (~2e11 corpus-as-
    // queries → product ~4e22), silently passing the require — divide
    // instead of multiplying
    require(qc == 0 || cc <= maxPairs / qc,
      s"cosineTopK: |corpus|×|queries| = $cc×$qc score pairs — above " +
        s"the $maxPairs cap for the exact brute-force leg. Route " +
        "candidates through annTopK/ivfTopK at this scale (the mutual/" +
        "eval joins downstream are leg-agnostic), or raise maxPairs " +
        "deliberately.")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", pairDot(col("qvec"), col("cvec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Mutual (reciprocal) top-k filter over a k-NN frame: keep the
    * unordered pairs where EACH side ranks the other within its own
    * top-k — the standard high-precision near-dup/bitext filter
    * (reciprocal rank is much stronger evidence than one-sided rank:
    * a hub vector appears in thousands of top-k lists, but its own
    * list holds only k entries, so hubs are demoted automatically).
    *
    * Input is any `(query_id, neighbor_id, rnk)` frame where every id
    * appears as a query (e.g. [[cosineTopK]] with `queries = corpus`,
    * or the IVF/LSH candidate legs at scale). The filter itself is a
    * self-join of that k·n-row frame on the reversed pair — tiny
    * relative to the k-NN computation, and shape-independent of how
    * the k-NN frame was produced: at 100 TB the brute-force leg is
    * replaced by an index leg and this join is unchanged. */
  def mutualTopK(topk: DataFrame): DataFrame = {
    val fwd = topk.select(col("query_id").as("id_a"),
      col("neighbor_id").as("id_b"), col("rnk").as("rnk_ab"))
    val rev = topk.select(col("neighbor_id").as("id_a"),
      col("query_id").as("id_b"), col("rnk").as("rnk_ba"))
    fwd.join(rev, Seq("id_a", "id_b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "rnk_ab", "rnk_ba")
  }

  /** All sign-random-projection band buckets in one column
    * (`array<long>`, one bucket per band; band b uses plane seed
    * `baseSeed + b` and is a `planesPerBand`-bit key where bit p =
    * sign(vec · plane_p), so cosine-similar vectors collide with high
    * probability): the native codegen'd [[graft.expressions.LshBuckets]]
    * (`graft_lsh_buckets`), one plan node. The planes are md5-derived
    * ([[graft.expressions.LshPlanes]]) and reproducible in ANSI SQL as
    * `('0x'||substr(md5(s),1,8))::BIGINT / 4294967296.0 - 0.5`, which
    * makes bucket assignments — and the ANN query output —
    * oracle-verifiable. */
  def lshBucketsAll(vec: Column, bands: Int, planesPerBand: Int, dim: Int,
      baseSeed: Long = 42L): Column =
    call_function("graft_lsh_buckets", vec,
      lit(bands), lit(planesPerBand), lit(dim), lit(baseSeed))

  /** ANN top-k with **multi-probe**: candidates come from the query's
    * own LSH bucket plus every bucket at hamming distance 1 (each
    * single plane-bit flipped). Single-bucket probing measurably lost
    * recall in r1 (35/40 rows at 500 vectors); probing the numPlanes+1
    * adjacent buckets recovers the neighbors that fall just across one
    * hyperplane while still touching only ~(numPlanes+1)/2^numPlanes of
    * the corpus — the scale path stays a bucket hash-join, not a scan
    * per query.
    */
  def annTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int, numPlanes: Int = 6, dim: Int = 64,
      preNormalized: Boolean = false): DataFrame = {
    val c = prep(corpus, idCol, vecCol, "neighbor_id", "cvec", preNormalized)
      .withColumn("bucket",
        element_at(lshBucketsAll(col("cvec"), 1, numPlanes, dim), 1))
    val probeCols = lit(0L) +: (0 until numPlanes).map(p => lit(1L << p))
    val q = prep(queries, idCol, vecCol, "query_id", "qvec", preNormalized)
      .withColumn("bucket0",
        element_at(lshBucketsAll(col("qvec"), 1, numPlanes, dim), 1))
      .withColumn("bucket", explode(array(probeCols.map(col("bucket0").bitwiseXOR(_)): _*)))
      .drop("bucket0")
    val cands = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cands.withColumn("sim", pairDot(col("qvec"), col("cvec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Exact cosine τ-similarity self-join: all pairs with cosine ≥
    * threshold, verifiable against a brute-force oracle. Each vector is
    * L2-normalized ONCE (O(N·d)), so the pair stage is a single dot
    * product — no per-pair norm recomputation. The pair stage itself is
    * inherently quadratic: use it for bounded corpora / verification;
    * at corpus scale route near-dup detection (cos ≥ ~0.9) through
    * [[cosineNearDupLsh]] and top-k search through [[annTopK]], which
    * trade exactness for bucket-join pruning.
    *
    * The bounded-corpus contract is ENFORCED, not advisory (the
    * `lshCandidatePairs` `maxBucket` discipline): the input is counted
    * and the call fails fast above `maxRows` instead of launching an
    * N² stage that would run for days at corpus scale. The count is a
    * deliberate extra pass over the UN-checkpointed frame — a
    * localCheckpoint here would pin maxRows×dim doubles of block
    * storage for the session with no free point (the returned frame
    * references it forever; the Boosting final-round lesson), and at
    * the bounded scales this operator is legal for, one more
    * normalize pass is noise. */
  def cosineSimJoin(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double,
      preNormalized: Boolean = false, maxRows: Long = 200000L): DataFrame = {
    val n = prep(corpus, idCol, vecCol, "__id", "nvec", preNormalized)
    val cnt = n.count()
    require(cnt <= maxRows,
      s"cosineSimJoin: input has $cnt rows — above the $maxRows-row " +
        "cap for the exact quadratic pair stage (~" + (cnt * cnt / 2) +
        " pairs). This operator is for bounded/verification corpora; " +
        "route near-dup through cosineNearDupLsh and top-k through " +
        "annTopK/ivfTopK, or raise maxRows deliberately.")
    val a = n.select(col("__id").as("id_a"), col("nvec").as("va"))
    val b = n.select(col("__id").as("id_b"), col("nvec").as("vb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        MysqlFunctions.oracleRound(pairDot(col("va"), col("vb")), 4))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** The centroid matrix as ONE nested-array literal (a single
    * `Literal` of `array<array<double>>` ArrayData — NOT nlist×dim
    * expression leaves, which cost seconds of optimizer time per pass;
    * the same pathology the LshBuckets expression exists to avoid).
    * Distances come from per-row `transform` over this literal, so cell
    * assignment is a MAP-ONLY projection: no cross join, no shuffle of
    * the corpus — at cluster scale the whole assign pass rides the
    * scan. */
  private def centersLit(centers: Array[Array[Double]]): Column =
    typedlit[Seq[Seq[Double]]](centers.map(_.toIndexedSeq).toIndexedSeq)

  private def sqDist(vec: Column, ctr: Column): Column =
    aggregate(zip_with(vec, ctr, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Nearest cell per corpus row: argmin over the centroid matrix by
    * (distance², cell) — [[probeCellsCol]] with nprobe=1, one tight loop
    * instead of an nlist-element HOF distance array per row (the
    * assignment pass is n×nlist, the biggest per-row cost of every
    * Lloyd round). Adds `cell` as a projected column. */
  private def assignCells(c: DataFrame, vecCol: String,
      centers: Array[Array[Double]]): DataFrame =
    c.withColumn("cell", element_at(probeCellsCol(col(vecCol), centers, 1), 1))

  /** Fixed-iteration Lloyd coarse quantizer fit, shared by [[ivfTopK]]
    * and [[semanticNearDupPairs]]: init = the `nlist` vectors with the
    * smallest md5(seed:id) hashes, then `iters` rounds of map-only
    * assignment + per-cell mean (quantized to 6 decimals per round —
    * see [[roundCoord6]]). Only the nlist×dim centroid matrix reaches
    * the driver (what any k-means reduce collects); cells that lose
    * every member keep their previous center. At 100 TB fit on a
    * representative sample — each round is one pass over the fit
    * input. */
  def fitQuantizer(c: DataFrame, idCol: String, vecCol: String,
      nlist: Int, dim: Int, seed: Long, iters: Int): Array[Array[Double]] = {
    import graft.functions.TextFunctions
    var centers: Array[Array[Double]] = c
      .withColumn("__h", TextFunctions.md5Int(
        concat(lit(s"$seed:"), col(idCol).cast("string")), 8))
      .orderBy(col("__h"), col(idCol)).limit(nlist)
      .select(vecCol).collect()
      .map(_.getSeq[Double](0).toArray)
    for (_ <- 0 until iters) {
      // per-cell mean via ONE native elementwise-sum buffer per cell
      // (graft_vec_sum) instead of dim separate avg() columns: same
      // sum/count arithmetic (identical up to the partition-order
      // nondeterminism both forms already have, absorbed by
      // roundCoord6), but the per-row work is one tight loop instead
      // of dim getItem projections
      val means = assignCells(c, vecCol, centers)
        .groupBy("cell")
        .agg(call_function("graft_vec_sum",
          col(vecCol).cast("array<double>")).as("s"),
          count(lit(1)).as("n"))
        .collect()
        .map { r =>
          val s = r.getSeq[Double](1)
          val cn = r.getLong(2).toDouble
          r.getAs[Int]("cell") ->
            Array.tabulate(dim)(j => roundCoord6(s(j) / cn))
        }.toMap
      centers = centers.indices.map(i => means.getOrElse(i, centers(i))).toArray
    }
    centers
  }

  /** Residual (two-level) vector quantization distortion audit — the
    * RQ construction modern ANN engines layer under IVF (Chen et al.
    * '10 "optimized residual VQ"; Lucene/ScaNN's VQ-then-residual
    * stage): after the coarse level-1 quantizer assigns each vector a
    * cell, a SECOND Lloyd quantizer is fit on the RESIDUALS
    * `r = v − c1[cell]`, and reconstruction error drops from
    * ‖v − c1‖² to ‖v − c1 − c2‖² at the cost of one more small code.
    * This operator reports, per level-1 cell, the mean squared
    * reconstruction error with and without the residual stage — the
    * "is a second level worth 4 more bits?" design table.
    *
    * Level-1 centers arrive pre-fit (the shared q53 coarse fit —
    * fit once, reuse); the level-2 fit is [[fitQuantizer]] on the
    * residual frame. Scale shape identical to IVF: assignment is
    * map-only against centroid literals, the fit collects only
    * nlist2×dim means per round, distortions are 8-dp-pinned
    * DECIMAL-summed per cell. */
  def residualQuantDistortion(corpus: DataFrame, idCol: String,
      vecCol: String, c1: Array[Array[Double]], nlist2: Int, dim: Int,
      seed2: Long, iters: Int): DataFrame = {
    val resid = assignCells(corpus, vecCol, c1)
      .withColumnRenamed("cell", "cell1")
      .withColumn("r", zip_with(col(vecCol),
        element_at(centersLit(c1), col("cell1") + 1), (x, y) => x - y))
      .select(col(idCol), col("cell1"), col("r"))
      .localCheckpoint() // read by the fit rounds, assign and report
    val c2 = fitQuantizer(resid, idCol, "r", nlist2, dim, seed2, iters)
    val d1 = aggregate(transform(col("r"), x => x * x),
      lit(0.0), (acc, x) => acc + x)
    val d2 = sqDist(col("r"), element_at(centersLit(c2), col("cell") + 1))
    def mse(d: Column) = MysqlFunctions.oracleRound(
      sum(MysqlFunctions.oracleRound(d, 8).cast("decimal(28,8)"))
        .cast("double") / count(lit(1)), 6)
    assignCells(resid, "r", c2)
      .groupBy(col("cell1").as("cell"))
      .agg(count(lit(1)).as("n_vecs"), mse(d1).as("mse_c1"),
        mse(d2).as("mse_rq"))
      .orderBy("cell")
  }

  /** DuckDB-parity rounding of a driver-side centroid coordinate —
    * the same double-arithmetic half-away-from-zero formula as
    * [[MysqlFunctions.oracleRound]], applied at scale 6. Centroids are
    * quantized to 6 decimals after every Lloyd mean step so the
    * cross-engine float drift of an unordered mean (Spark sums in
    * partition order, an oracle in scan order — ulp-level differences)
    * is absorbed before the next assignment pass; every downstream
    * distance/dot is then computed over IDENTICAL coordinate values in
    * identical fold order in both engines, making the whole IVF
    * pipeline hash-oracle-able (q53). A 1e-6 quantization is far below
    * any clustering-relevant resolution. */
  private def roundCoord6(x: Double): Double =
    if (x < 0) -math.floor(-x * 1e6 + 0.5) / 1e6
    else math.floor(x * 1e6 + 0.5) / 1e6

  /** IVF (inverted-file) ANN top-k — the other standard scale path
    * besides sign-LSH. Index build: a fixed-iteration Lloyd coarse
    * quantizer over the corpus (`nlist` cells), implemented directly as
    * DataFrame aggregations: initial centers are the vectors with the
    * `nlist` smallest md5(seed:id) hashes (deterministic, no stored
    * random state — the engine's standard derivation), then `iters`
    * rounds of assign (a MAP-ONLY projection against the single
    * centroid-matrix literal — see [[assignCells]]; the corpus never
    * shuffles for assignment) + per-cell mean (dim avg aggregates,
    * map-side combined down to nlist rows; only the nlist×dim centroid
    * matrix ever reaches the driver — exactly what any k-means reduce
    * collects), each mean quantized via [[roundCoord6]]. A fixed small
    * `iters` is the IVF norm: the quantizer only has to be
    * locality-preserving, not converged.
    * Because init is hash-derived and `iters` is fixed, the
    * ENTIRE build unrolls into ANSI SQL — q53's DuckDB oracle
    * reproduces init, all three assign/mean rounds, the final
    * assignment, the probe ranking, and the top-k, hash-for-hash.
    *
    * Query: probe the `nprobe` nearest centroids and rank exactly
    * within the probed posting lists — each query touches
    * ~nprobe/nlist of the corpus. At 100 TB fit the quantizer on a
    * representative sample (each Lloyd round is a full pass over the
    * fit input), then assign the full corpus with the fitted centroids.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int, nlist: Int = 16, nprobe: Int = 4,
      dim: Int = 64, seed: Long = 42L, iters: Int = 3,
      preNormalized: Boolean = false,
      fittedCenters: Option[Array[Array[Double]]] = None): DataFrame = {
    // materialized once: init scan + iters assign/mean passes + the
    // final assignment all read this checkpoint (a pre-normalized
    // corpus IS the checkpoint — no second materialization)
    val c =
      if (preNormalized)
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      else
        barrier(corpus.select(col(idCol).as("neighbor_id"),
          normalized(col(vecCol).cast("array<double>")).as("cvec")))
          .localCheckpoint()
    val centers = fittedCenters.getOrElse(
      fitQuantizer(c, "neighbor_id", "cvec", nlist, dim, seed, iters))
    val assigned = assignCells(c, "cvec", centers)
    // per-query nprobe nearest cells, map-only like the assignment,
    // exploded into probe rows (no window, no join)
    val q = prep(queries, idCol, vecCol, "query_id", "qvec", preNormalized)
      .select(col("query_id"), col("qvec"),
        explode(probeCellsCol(col("qvec"), centers, nprobe)).as("cell"))
    val scored = assigned.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", pairDot(col("qvec"), col("cvec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Corpus-size-scaled cell count for the self-kNN IVF pass:
    * nlist = max(16, ⌈n/125⌉) keeps the expected posting-list size —
    * and therefore the candidates scored per query — constant (~125 ×
    * nprobe) as the corpus grows, which is what makes the END-TO-END
    * pass linear in n (the per-row probe scan is n×nlist — native via
    * [[graft.expressions.ProbeCells]] — whose absolute cost stays far
    * below the candidate scoring it bounds). The 16 floor means any
    * corpus up to 2000 vectors fits exactly the q53 gate parameters
    * (nlist=16), so the sf-scale oracle pins nlist=16 and stays valid
    * under testdata regeneration up to that size. */
  def nlistForCount(n: Long): Int =
    math.max(16L, (n + 124L) / 125L).toInt

  /** Per-row probe list: the `nprobe` nearest cells of the fitted
    * coarse quantizer, ordered by (squared distance, cell) — element 0
    * is the row's own assignment cell. Native codegen'd
    * [[graft.expressions.ProbeCells]] (`graft_probe_cells`): one
    * map-only tight loop, no per-row struct array or sort. */
  private def probeCellsCol(vec: Column, centers: Array[Array[Double]],
      nprobe: Int): Column =
    call_function("graft_probe_cells", vec, centersLit(centers), lit(nprobe))

  /** IVF self-kNN: exact-within-probed-cells top-k cosine neighbors
    * for EVERY corpus vector — the index-backed leg that replaces
    * [[cosineTopK]]'s corpus-as-queries brute force at scale, feeding
    * the identical downstream joins ([[mutualTopK]], the kNN-eval
    * vote). This is the composition q206/q461 document as their
    * 100 TB route, gated in its own right (q467/q468).
    *
    * Scale shape — every stage linear in n by construction:
    *   - nlist scales with the corpus ([[nlistForCount]]), so
    *     candidates per query stay ~125×nprobe regardless of n;
    *   - the Lloyd fit runs on a FIXED-SIZE md5-ranked sample
    *     (`fitSampleMax`, the md5Panel idiom) — per-round cost is
    *     sample×nlist, linear in n via nlist;
    *   - probe selection is one map-only pass (n×nlist native tight
    *     loop, no shuffle, no struct sort);
    *   - candidate generation is a CELL-KEYED SHUFFLE JOIN of the
    *     posting side (n rows) against the exploded probe side
    *     (n×nprobe rows) — NOT [[ivfTopK]]'s broadcast-queries join,
    *     which assumes a small query set; here both sides are the
    *     corpus and neither is collected or broadcast anywhere.
    *
    * Unlike the brute-force leg there is no pair cap to hit: pair
    * volume is bounded by construction, not by contract. */
  def ivfSelfTopK(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 4, dim: Int = 64, seed: Long = 42L,
      iters: Int = 3, preNormalized: Boolean = false,
      fitSampleMax: Int = 2048,
      fittedCenters: Option[Array[Array[Double]]] = None): DataFrame = {
    val c0 = prep(corpus, idCol, vecCol, "neighbor_id", "cvec", preNormalized)
    // read by count + fit + probe passes; a pre-normalized corpus is
    // already materialized (normalizeCorpus checkpoints)
    val c = if (preNormalized) c0 else c0.localCheckpoint()
    val centers = fittedCenters.getOrElse {
      val n = c.count()
      val nlist = nlistForCount(n)
      // fixed-size md5-ranked fit sample (the md5Panel contract): a
      // corpus-fraction sample would grow the per-round fit cost
      // superlinearly once nlist scales too
      val fit =
        if (n <= fitSampleMax) c
        else {
          import graft.functions.TextFunctions
          c.withColumn("__h", TextFunctions.md5Int(
              concat(lit(s"fit$seed:"), col("neighbor_id").cast("string")), 8))
            .orderBy(col("__h"), col("neighbor_id")).limit(fitSampleMax)
            .select("neighbor_id", "cvec")
        }
      fitQuantizer(fit, "neighbor_id", "cvec", nlist, dim, seed, iters)
    }
    val probed = c.withColumn("__probes",
      probeCellsCol(col("cvec"), centers, nprobe))
    val posting = probed.select(col("neighbor_id"), col("cvec"),
      element_at(col("__probes"), 1).as("cell"))
    val queries = probed.select(col("neighbor_id").as("query_id"),
      col("cvec").as("qvec"), explode(col("__probes")).as("cell"))
    val scored = posting.join(queries, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", pairDot(col("qvec"), col("cvec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Embedding near-duplicate pairs via banded sign-LSH: `bands`
    * independent plane sets of `planesPerBand` bits each; a pair is a
    * candidate when it collides in ANY band (OR-of-bands, like MinHash
    * banding), then exact cosine ≥ threshold verifies. Collision
    * probability per band is (1-θ/π)^planesPerBand, so recall climbs
    * with bands while candidate volume stays ~Σ_b N_b²/2^planesPerBand.
    * `maxBucket` drops degenerate hot buckets. Designed for the true
    * near-dup regime (threshold ≥ ~0.85) where per-band collision is
    * likely; for lower thresholds use [[cosineSimJoin]] — sign-LSH
    * cannot prune a low-similarity join without losing recall. */
  def cosineNearDupLsh(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 8, planesPerBand: Int = 8,
      dim: Int = 64, maxBucket: Int = 1000,
      preNormalized: Boolean = false): DataFrame = {
    val c = prep(corpus, idCol, vecCol, "__id", "nvec", preNormalized)
    // per-band plane set via distinct seeds (42+band); one posexplode
    // row per band
    val bucketArr = lshBucketsAll(col("nvec"), bands, planesPerBand, dim)
    // Candidate generation runs on BARE (id, band, bucket) rows — the
    // bucket self-join and the pair dedup shuffle only ids, never the
    // dim-sized vectors (carrying both vectors through dropDuplicates
    // measured ~6× slower at sf0.1). Vectors re-attach to the deduped
    // pair set via two joins against the (small relative to the pair
    // set) normalized corpus.
    val banded = c.select(col("__id"),
      posexplode(bucketArr).as(Seq("band", "bucket")))
    val hot = banded.groupBy("band", "bucket").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucket).select("band", "bucket")
    val pruned = banded.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    val pairs = pruned.select(col("band"), col("bucket"), col("__id").as("id_a"))
      .join(pruned.select(col("band"), col("bucket"), col("__id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    pairs
      .join(c.select(col("__id").as("id_a"), col("nvec").as("va")), Seq("id_a"))
      .join(c.select(col("__id").as("id_b"), col("nvec").as("vb")), Seq("id_b"))
      .withColumn("cos",
        MysqlFunctions.oracleRound(pairDot(col("va"), col("vb")), 4))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Semantic (embedding-space) decontamination: for each corpus
    * vector, its maximum cosine to ANY benchmark vector plus the
    * closest benchmark id — the embedding-space analogue of the n-gram
    * decontamination scan (`CorpusOps.decontaminate`), catching
    * paraphrased eval leakage that token overlap misses.
    *
    * Scale shape: the benchmark side is an eval set (small), so it
    * ships as ONE nested-array literal exactly like [[ivfTopK]]'s
    * centroid matrix — the corpus pass is then a MAP-ONLY projection
    * (per-row `transform` + `array_max`): no join, no shuffle, no
    * corpus movement at all. Returns only rows with best ≥ threshold:
    * (id, closest bench id, best cosine rounded 4dp). Ties on the max
    * pin to the smallest bench index (array_position takes the first
    * match; the bench literal is sorted by bench id). */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      preNormalized: Boolean = false): DataFrame = {
    val c = prep(corpus, idCol, vecCol, "__id", "nvec", preNormalized)
    val b = prep(bench, idCol, vecCol, "__bid", "bvec", preNormalized)
    val rows = b.orderBy("__bid").collect()
    // widen via Number: an INT id column would ClassCastException on a
    // direct getLong (the JdbcSource bounds-probe lesson)
    val benchIds = rows.map(_.getAs[Number](0).longValue)
    val benchMat = rows.map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    val sims = transform(typedlit[Seq[Seq[Double]]](benchMat),
      bv => dot(col("nvec"), bv))
    c.withColumn("__sims", sims)
      .withColumn("best_cos",
        MysqlFunctions.oracleRound(array_max(col("__sims")), 4))
      .withColumn("bench_id",
        element_at(typedlit[Seq[Long]](benchIds.toIndexedSeq),
          array_position(col("__sims"), array_max(col("__sims"))).cast("int")))
      .filter(col("best_cos") >= threshold)
      .select(col("__id").as(idCol), col("bench_id"), col("best_cos"))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023, public
    * arXiv 2303.09540): block the corpus by the SAME fixed-iteration
    * Lloyd coarse quantizer [[ivfTopK]] uses ([[fitQuantizer]]), then
    * verify exact cosine ≥ threshold WITHIN each cell — the standard
    * "cluster, then prune within cluster" semantic-dedup recipe.
    * Pair volume is Σ_cell |N_c|²/2 instead of N²/2; recall misses are
    * exactly the cross-cell pairs (the documented SemDeDup trade-off —
    * raise nlist for smaller cells, or run [[cosineNearDupLsh]] for
    * hash-blocked recall instead). Because init/means are md5-derived
    * and 6-dp-quantized like q53, the whole pipeline — fit, assignment,
    * in-cell pairs, cosines — unrolls into an exact SQL oracle.
    * Downstream: feed the pairs to `GraphOps.connectedComponentsStar` and
    * keep each component's min id, as q55 does with MinHash pairs. */
  def semanticNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, dim: Int = 64, seed: Long = 42L,
      iters: Int = 3, preNormalized: Boolean = false): DataFrame = {
    val c = semPrep(corpus, idCol, vecCol, preNormalized)
    val centers = fitQuantizer(c, "__id", "nvec", nlist, dim, seed, iters)
    inCellVerifiedPairs(c, centers, threshold)
  }

  /** [[semanticNearDupPairs]] with the CORPUS-KEYED cell count — the
    * at-scale SemDeDup configuration. A fixed nlist makes expected
    * in-cell pair volume Σ N_c²/2 ≈ n²/(2·nlist) — asymptotically
    * quadratic, which is exactly why the fixed-nlist gate (q75) is
    * excluded from sf1 slope gating. Here nlist = [[nlistForCount]](n)
    * (∝ n above the 2000-vector floor) keeps expected in-cell
    * candidates per vector constant, and the Lloyd fit runs on a
    * FIXED-SIZE md5-ranked sample, so fit cost is sample×nlist ∝ n —
    * the whole pass is linear in the corpus (gated by q469's sf0.1→sf1
    * slope row). At the floor the fit is parameter-identical to the
    * fixed-nlist form, so q75's oracle construction gates this exact
    * code path at sf scale. */
  def semanticNearDupPairsScaled(corpus: DataFrame, idCol: String,
      vecCol: String, threshold: Double, dim: Int = 64, seed: Long = 42L,
      iters: Int = 3, preNormalized: Boolean = false,
      fitSampleMax: Int = 2048): DataFrame = {
    val c = semPrep(corpus, idCol, vecCol, preNormalized)
    val n = c.count()
    val nlist = nlistForCount(n)
    val fit =
      if (n <= fitSampleMax) c
      else {
        import graft.functions.TextFunctions
        c.withColumn("__h", TextFunctions.md5Int(
            concat(lit(s"fit$seed:"), col("__id").cast("string")), 8))
          .orderBy(col("__h"), col("__id")).limit(fitSampleMax)
          .select("__id", "nvec")
      }
    val centers = fitQuantizer(fit, "__id", "nvec", nlist, dim, seed, iters)
    inCellVerifiedPairs(c, centers, threshold)
  }

  private def semPrep(corpus: DataFrame, idCol: String, vecCol: String,
      preNormalized: Boolean): DataFrame =
    if (preNormalized)
      corpus.select(col(idCol).as("__id"), col(vecCol).as("nvec"))
    else
      barrier(corpus.select(col(idCol).as("__id"),
        normalized(col(vecCol).cast("array<double>")).as("nvec")))
        .localCheckpoint()

  /** The shared SemDeDup tail: assign cells, self-join within cell,
    * verify exact cosine ≥ threshold (4-dp-pinned). */
  private def inCellVerifiedPairs(c: DataFrame,
      centers: Array[Array[Double]], threshold: Double): DataFrame = {
    val assigned = assignCells(c, "nvec", centers)
    assigned.select(col("cell"), col("__id").as("id_a"), col("nvec").as("va"))
      .join(assigned.select(col("cell"), col("__id").as("id_b"),
        col("nvec").as("vb")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        MysqlFunctions.oracleRound(pairDot(col("va"), col("vb")), 4))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Per-vector symmetric int8 quantization — the 4× storage/bandwidth
    * cut an embedding corpus takes before indexing at 100 TB (the IVF
    * cell assignment and candidate scans read codes; only the final
    * re-rank touches floats). scale = max|x|/127, code_i =
    * floor(x_i/scale + 0.5) ∈ [-127, 127] — literal floor(+0.5), no
    * round() builtin, so the codes are bit-identical on any engine
    * (Spark round is HALF_UP away from zero, DuckDB's is
    * floor(+0.5) — they disagree on negative halves). A zero vector
    * quantizes to zero codes with scale 0 (no division). Staged
    * projections: scale is referenced per element, so it must be a
    * bound column, not an inline tree (the q105 duplication lesson).
    * Returns (idCol, scale, codes array<int>) — plus the original
    * vector when `keepVec` (for reconstruction-error checks); map-only,
    * no shuffle. */
  /** Two-stage quantized top-k (the ScaNN-style scan shape): stage 1
    * ranks ALL candidates by the INT8 approximate similarity
    * `scale_q · scale_c · Σ code_q[i]·code_c[i]` — the scan reads ¼
    * the bytes of the float corpus, and the integer dot is EXACT and
    * fold-order-independent (no float-summation drift, so the
    * candidate cut reproduces bit-for-bit on any engine); stage 2
    * re-ranks the surviving `k·refine` candidates per query with the
    * exact float dot and keeps top-k. At 100 TB the stage-1 scan is
    * the memory-bandwidth cost center — codes-only is the point;
    * compose with IVF cell blocking ([[ivfTopK]]'s build) when even
    * the quantized full scan is too much. Quantization happens on the
    * (normalized) vectors the cosine ranking uses. */
  def quantizedTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int, refine: Int = 20,
      preNormalized: Boolean = false): DataFrame = {
    val c = int8Quantize(
      prep(corpus, idCol, vecCol, "neighbor_id", "cvec", preNormalized),
      "neighbor_id", "cvec", keepVec = true)
      .withColumnRenamed("scale", "cscale").withColumnRenamed("codes", "ccodes")
    val q = int8Quantize(
      prep(queries, idCol, vecCol, "query_id", "qvec", preNormalized),
      "query_id", "qvec", keepVec = true)
      .withColumnRenamed("scale", "qscale").withColumnRenamed("codes", "qcodes")
    val approx = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("asim", col("qscale") * col("cscale") *
        aggregate(zip_with(col("qcodes"), col("ccodes"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).cast("double"))
    val wa = Window.partitionBy("query_id")
      .orderBy(col("asim").desc, col("neighbor_id"))
    val cands = approx.withColumn("__ar", row_number().over(wa))
      .filter(col("__ar") <= k * refine)
    val scored = cands.withColumn("sim",
      pairDot(col("qvec"), col("cvec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Per-subspace PQ codebooks: an m × ksub × dsub centroid tensor,
    * trained like [[fitQuantizer]] but for all m subspaces in ONE
    * aggregation per Lloyd round (each row explodes into m
    * (subspace, cell, subvector) rows; per-(s, cell) means are
    * map-side combined, and only the m·ksub·dsub tensor reaches the
    * driver). Init = every subspace's slice of the SAME ksub
    * md5-ranked vectors (one ranking, m slices — deterministic, no
    * stored random state); means re-quantized to 6 decimals per round
    * ([[roundCoord6]]) so the whole build unrolls into ANSI SQL
    * exactly like the IVF build. Cells that lose every member keep
    * their previous center (both engines). */
  def fitCodebooks(c: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, dsub: Int, seed: Long,
      iters: Int): Array[Array[Array[Double]]] = {
    import graft.functions.TextFunctions
    val initDocs: Array[Array[Double]] = c
      .withColumn("__h", TextFunctions.md5Int(
        concat(lit(s"$seed:"), col(idCol).cast("string")), 8))
      .orderBy(col("__h"), col(idCol)).limit(ksub)
      .select(vecCol).collect()
      .map(_.getSeq[Double](0).toArray)
    var books = Array.tabulate(m)(s =>
      initDocs.map(v => v.slice(s * dsub, (s + 1) * dsub)))
    // the (s, sv) explode is iteration-invariant — materialize it once
    // and re-assign against it each round instead of re-exploding
    val sub = c.select(explode(array((0 until m).map { s =>
        struct(lit(s).as("s"),
          slice(col(vecCol), s * dsub + 1, dsub).as("sv"))
      }: _*)).as("r"))
      .select(col("r.s").as("s"), col("r.sv").as("sv"))
      .localCheckpoint()
    for (_ <- 0 until iters) {
      val means = assignSubCells(sub, books)
        .groupBy("s", "cell")
        .agg(avg(col("sv").getItem(0)).as("d0"),
          (1 until dsub).map(j => avg(col("sv").getItem(j)).as(s"d$j")): _*)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          Array.tabulate(dsub)(j => roundCoord6(r.getDouble(j + 2)))).toMap
      books = Array.tabulate(m)(s => Array.tabulate(ksub)(cc =>
        means.getOrElse((s, cc), books(s)(cc))))
    }
    books
  }

  /** Persist fitted ANN stages to parquet — the cross-session index
    * contract. At 100 TB an IVF/PQ index is fit ONCE (each Lloyd round
    * is a full pass over the fit sample) and then reused for months of
    * assign/build/query sessions; a fit that lives only in a
    * driver-side memo dies with the JVM and forces every new session
    * to refit from the corpus. This is the similarity family's
    * analogue of the dedup family's persisted reference stages
    * ([[Dedup.nearDupAgainstReferenceFromStages]]): write the tiny
    * deterministic fit tensors (nlist×dim coarse centers as
    * `(cell int, coord array<double>)` under `<dir>/centers`,
    * m×ksub×dsub PQ codebooks as `(s int, cell int, coord
    * array<double>)` under `<dir>/books`), read them back with
    * [[fitStagesFromParquet]], and pass them as `fittedCenters`/
    * `fittedBooks` — the consuming plan provably cannot scan the
    * corpus for fitting (asserted in PlanSpec). Coordinates are
    * [[roundCoord6]]-quantized doubles, which round-trip parquet
    * bit-exactly, so a query plan built on the read-back fit is
    * IDENTICAL to one built in the fitting session. */
  def writeFitStages(spark: SparkSession, dir: String,
      centers: Option[Array[Array[Double]]],
      books: Option[Array[Array[Array[Double]]]]): Unit = {
    import spark.implicits._
    centers.foreach { cs =>
      cs.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "coord")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centers")
    }
    books.foreach { bs =>
      (for (s <- bs.indices; cc <- bs(s).indices)
        yield (s, cc, bs(s)(cc).toSeq)).toDF("s", "cell", "coord")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/books")
    }
  }

  /** Read back what [[writeFitStages]] wrote (absent stage → None).
    * Only the fit tensors are collected — a few KB, exactly what the
    * fitting reduce collected — never corpus rows; the parquet scan is
    * of the stage dir alone. */
  def fitStagesFromParquet(spark: SparkSession, dir: String):
      (Option[Array[Array[Double]]], Option[Array[Array[Array[Double]]]]) = {
    def exists(p: String) =
      new java.io.File(new java.net.URI(s"file:$p").getPath).exists() ||
        new java.io.File(p).exists()
    val centers =
      if (!exists(s"$dir/centers")) None
      else Some {
        val rows = spark.read.parquet(s"$dir/centers")
          .select("cell", "coord").collect()
        val out = new Array[Array[Double]](rows.length)
        rows.foreach(r => out(r.getInt(0)) = r.getSeq[Double](1).toArray)
        out
      }
    val books =
      if (!exists(s"$dir/books")) None
      else Some {
        val rows = spark.read.parquet(s"$dir/books")
          .select("s", "cell", "coord").collect()
        val m = rows.map(_.getInt(0)).max + 1
        val ksub = rows.map(_.getInt(1)).max + 1
        val out = Array.ofDim[Array[Double]](m, ksub)
        rows.foreach(r =>
          out(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
        out
      }
    (centers, books)
  }

  /** Index-staleness audit against a fitted coarse quantizer — the
    * index-ops check a 100 TB ANN deployment runs before deciding to
    * refit (the persisted-fit contract's other half: [[writeFitStages]]
    * makes the fit reusable for months, this measures when the corpus
    * has drifted away from it). The corpus (with a boolean `newCol`
    * marking the post-fit arrivals) is assigned to the fitted cells,
    * then per cell: the full-corpus occupancy (`n_fit`, `share_fit` —
    * what the fitted index was balanced for), the new-slice occupancy
    * (`n_new`, `share_new`), and the new slice's quantization
    * distortion (`mean_sqdist_new`, 0 for a cell no new row lands in).
    * Appended to every row: the total-variation distance between the
    * two occupancy distributions (`tvd = ½·Σ|share_new − share_fit|`,
    * the standard drift statistic) and the verdict
    * `refit_needed = tvd ≥ threshold`. Shares and distortions are
    * 4-dp rounded (the [[roundCoord6]] rationale at output scale);
    * counts are exact integers.
    *
    * Scale shape: assignment is the [[assignCells]] map-only
    * projection against the centroid literal — the whole audit is ONE
    * corpus scan into a cell-keyed aggregate (map-side combined to
    * nlist rows), the empty-cell fill is a left join from an
    * nlist-row range, and the totals/TVD are aggregates OVER the
    * nlist-row result (the per-cell exchange is reused, not the
    * scan — at cluster scale everything after the first aggregate is
    * driver-trivial). Nothing corpus-sized shuffles and only nlist
    * rows reach the driver. */
  def indexStalenessAudit(corpus: DataFrame, idCol: String, vecCol: String,
      newCol: String, centers: Array[Array[Double]],
      tvdThreshold: Double, preNormalized: Boolean = false): DataFrame = {
    val nlist = centers.length
    val c0 =
      if (preNormalized)
        corpus.select(col(idCol).as("vid"), col(vecCol).as("cvec"),
          col(newCol).cast("boolean").as("__new"))
      else
        barrier(corpus.select(col(idCol).as("vid"),
          normalized(col(vecCol).cast("array<double>")).as("cvec"),
          col(newCol).cast("boolean").as("__new")))
    // distance array staged in its own projection: argmin and min both
    // read it (CollapseProject keeps a non-cheap alias referenced >1×)
    val asg = c0
      .withColumn("__d", transform(centersLit(centers), ctr => sqDist(col("cvec"), ctr)))
      .select(
        (array_position(col("__d"), array_min(col("__d"))) - 1).cast("int").as("cell"),
        array_min(col("__d")).as("sqd"),
        col("__new"))
    // materialized: nlist rows, but FOUR consumers downstream (fill,
    // totals, TVD, final projection) — without the checkpoint each one
    // re-derives the aggregate and the corpus is scanned 8× (caught by
    // PlanSpec); with it the corpus feeds exactly one eager pass
    val perCell = asg.groupBy("cell").agg(
      count(lit(1)).as("n_fit"),
      sum(when(col("__new"), 1L).otherwise(0L)).as("n_new"),
      sum(when(col("__new"), col("sqd"))).as("__sumd"))
      .localCheckpoint()
    val cells = corpus.sparkSession.range(nlist.toLong)
      .select(col("id").cast("int").as("cell"))
    val filled = cells.join(perCell, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_fit"), lit(0L)).as("n_fit"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        col("__sumd"))
    // totals from the nlist-row aggregate, NOT a second corpus pass
    val tot = perCell.agg(sum("n_fit").as("__n_all"), sum("n_new").as("__n_new_tot"))
    val sh = filled.crossJoin(broadcast(tot))
      .withColumn("__sf", col("n_fit").cast("double") / col("__n_all"))
      .withColumn("__sn", col("n_new").cast("double") / col("__n_new_tot"))
    val tvd = sh.agg(MysqlFunctions.oracleRound(
      lit(0.5) * sum(abs(col("__sn") - col("__sf"))), 4).as("tvd"))
    sh.crossJoin(broadcast(tvd))
      .select(col("cell"), col("n_fit"), col("n_new"),
        MysqlFunctions.oracleRound(col("__sf"), 4).as("share_fit"),
        MysqlFunctions.oracleRound(col("__sn"), 4).as("share_new"),
        when(col("n_new") > 0,
          MysqlFunctions.oracleRound(col("__sumd") / col("n_new"), 4))
          .otherwise(lit(0.0)).as("mean_sqdist_new"),
        col("tvd"),
        (col("tvd") >= lit(tvdThreshold)).as("refit_needed"))
      .orderBy("cell")
  }

  /** All m sub-codebooks as ONE nested literal (m × ksub × dsub) so a
    * subspace-generic expression can `element_at` into it by the `s`
    * column — one literal node in the tree instead of m unrolled
    * centroid arrays (the [[centersLit]] rationale, one level up). */
  private def booksLit(books: Array[Array[Array[Double]]]): Column =
    typedlit[Seq[Seq[Seq[Double]]]](
      books.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq)

  /** Nearest sub-codebook cell per exploded (s, sv) row —
    * [[assignCells]]'s argmin/tie rule (first position of the min
    * distance² = min by (distance², cell)), with the distance array
    * STAGED in its own projection so it is computed once per row (the
    * CollapseProject boundary: a non-cheap alias referenced twice). */
  private def assignSubCells(sub: DataFrame,
      books: Array[Array[Array[Double]]]): DataFrame =
    sub.withColumn("__d",
        transform(element_at(booksLit(books), col("s") + 1),
          ctr => sqDist(col("sv"), ctr)))
      .withColumn("cell",
        (array_position(col("__d"), array_min(col("__d"))) - 1).cast("int"))

  /** Per-row PQ code array: for each subspace s, the argmin cell of the
    * row's dsub-slice against `books(s)` — a subspace-generic lambda
    * over one [[booksLit]] literal, so the tree stays small at any m. */
  private def pqCodes(vec: Column, books: Array[Array[Array[Double]]],
      m: Int, dsub: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), s => {
      val sv = slice(vec, s * dsub + 1, lit(dsub))
      val dists = transform(element_at(booksLit(books), s + 1),
        ctr => sqDist(sv, ctr))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    })

  /** Per-query ADC lookup table: lut[s·ksub + c] = ⟨q_s, books[s][c]⟩,
    * each dot an index-ordered fold (the oracle's list_sum order; the
    * 0.0 seed is exact — 0.0 + x ≡ x — so values match an unrolled
    * left reduce bit-for-bit). */
  private def adcLut(qvec: Column, books: Array[Array[Array[Double]]],
      m: Int, dsub: Int): Column =
    flatten(transform(sequence(lit(0), lit(m - 1)), s => {
      val qs = slice(qvec, s * dsub + 1, lit(dsub))
      transform(element_at(booksLit(books), s + 1), ctr =>
        aggregate(zip_with(qs, ctr, (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x))
    }))

  /** ADC approximate score: Σ_s lut[s·ksub + codes[s]] — m array
    * lookups + m−1 adds per candidate, summed in subspace order (the
    * oracle's `list_sum(list(t ORDER BY s))`). */
  private def adcSim(lut: Column, codes: Column, m: Int, ksub: Int): Column =
    (0 until m).map(s =>
      element_at(lut, element_at(codes, s + 1) + lit(s * ksub) + 1))
      .reduce(_ + _)

  /** Product-quantization top-k with an asymmetric-distance (ADC)
    * stage-1 scan + exact re-rank — the third standard quantized-scan
    * shape next to [[quantizedTopK]]'s scalar int8 (4×) and
    * [[ivfTopK]]'s cell blocking: m sub-codebooks of ksub centroids
    * code each vector as m SMALL INTS (64×-compressed at the defaults:
    * 8 codes vs 64 doubles), and a query scores a candidate as
    * `Σ_s lut[s][code_s]` where the per-query lookup table
    * `lut[s][c] = ⟨q_s, books[s][c]⟩` is computed ONCE per query row
    * from the centroid literals (m·ksub dsub-dim dots on the broadcast
    * side), so the per-candidate cost is m array lookups + m−1 adds
    * over the codes-only corpus — the memory-bandwidth point of PQ at
    * 100 TB. Stage 2 re-ranks the k·refine survivors with the exact
    * float dot (q112's pattern). Every float fold is index/subspace
    *-ordered identically to the SQL oracle, and the codebooks are
    * 6-dp-quantized per Lloyd round, so the ENTIRE pipeline — build,
    * encode, ADC scan, re-rank — is hash-oracle-able (q116). At
    * 100 TB fit the codebooks on a representative sample, as with
    * [[ivfTopK]]'s quantizer. */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int, m: Int = 8, ksub: Int = 16,
      refine: Int = 20, dim: Int = 64, seed: Long = 4242L, iters: Int = 3,
      preNormalized: Boolean = false,
      fittedBooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val dsub = dim / m
    val c =
      if (preNormalized)
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      else
        barrier(corpus.select(col(idCol).as("neighbor_id"),
          normalized(col(vecCol).cast("array<double>")).as("cvec")))
          .localCheckpoint()
    val books = fittedBooks.getOrElse(
      fitCodebooks(c, "neighbor_id", "cvec", m, ksub, dsub, seed, iters))
    val coded = c.withColumn("codes", pqCodes(col("cvec"), books, m, dsub))
    val q0 = prep(queries, idCol, vecCol, "query_id", "qvec", preNormalized)
    val q = q0.withColumn("__lut", adcLut(col("qvec"), books, m, dsub))
    val approx = coded.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("asim", adcSim(col("__lut"), col("codes"), m, ksub))
    val wa = Window.partitionBy("query_id")
      .orderBy(col("asim").desc, col("neighbor_id"))
    val cands = approx.withColumn("__ar", row_number().over(wa))
      .filter(col("__ar") <= k * refine)
    val scored = cands.withColumn("sim",
      pairDot(col("qvec"), col("cvec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** IVF-PQ top-k — the composed cluster-scale ANN shape (the IVFADC
    * system of Jégou/Douze/Schmid, "Product Quantization for Nearest
    * Neighbor Search", IEEE TPAMI 33(1), 2011, §V — here without
    * residual encoding, i.e. codebooks trained on the raw normalized
    * vectors): [[ivfTopK]]'s coarse quantizer cuts the stage-1 scan to
    * ~nprobe/nlist of the corpus, and within the probed cells
    * [[pqTopK]]'s ADC scoring reads only the m-byte code arrays — at
    * the defaults each candidate costs 8 lookup-adds against the
    * per-query LUT instead of a 64-double dot, and the scanned bytes
    * drop 64×. Stage 2 re-ranks the k·refine ADC survivors with the
    * exact float dot. Both Lloyd builds are md5-derived/6-dp-quantized,
    * so the ENTIRE composed pipeline — coarse build, PQ build, encode,
    * probe, ADC, re-rank — unrolls into chained SQL CTEs and is
    * hash-oracled end-to-end (q117). Pass `fittedCenters`/
    * `fittedBooks` to reuse fits across queries (fit once on a
    * representative sample at 100 TB, as with [[fitQuantizer]]). */
  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int, nlist: Int = 16, nprobe: Int = 4,
      m: Int = 8, ksub: Int = 16, refine: Int = 20, dim: Int = 64,
      coarseSeed: Long = 42L, pqSeed: Long = 4242L, iters: Int = 3,
      preNormalized: Boolean = false,
      fittedCenters: Option[Array[Array[Double]]] = None,
      fittedBooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val dsub = dim / m
    val c =
      if (preNormalized)
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      else
        barrier(corpus.select(col(idCol).as("neighbor_id"),
          normalized(col(vecCol).cast("array<double>")).as("cvec")))
          .localCheckpoint()
    val centers = fittedCenters.getOrElse(
      fitQuantizer(c, "neighbor_id", "cvec", nlist, dim, coarseSeed, iters))
    val books = fittedBooks.getOrElse(
      fitCodebooks(c, "neighbor_id", "cvec", m, ksub, dsub, pqSeed, iters))
    val coded = assignCells(c, "cvec", centers)
      .withColumn("codes", pqCodes(col("cvec"), books, m, dsub))
    // query side: nprobe nearest cells (map-only, like q53's probe) +
    // the per-query ADC LUT, exploded to one row per probe
    val q = prep(queries, idCol, vecCol, "query_id", "qvec", preNormalized)
      .select(col("query_id"), col("qvec"),
        adcLut(col("qvec"), books, m, dsub).as("__lut"),
        explode(probeCellsCol(col("qvec"), centers, nprobe)).as("cell"))
    val approx = coded.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("asim", adcSim(col("__lut"), col("codes"), m, ksub))
    val wa = Window.partitionBy("query_id")
      .orderBy(col("asim").desc, col("neighbor_id"))
    val cands = approx.withColumn("__ar", row_number().over(wa))
      .filter(col("__ar") <= k * refine)
    val scored = cands.withColumn("sim",
      pairDot(col("qvec"), col("cvec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Diversity-capped sampling: keep at most `cap` vectors per
    * semantic cluster (the coarse-quantizer cells of [[ivfTopK]]),
    * chosen by deterministic md5(salt:id) rank — the cluster-balanced
    * subsampling step of embedding-aware curation (the selection side
    * of SemDeDup-style pruning, arXiv 2303.09540: cap the
    * over-represented semantic regions instead of keeping the corpus'
    * natural cluster skew). Membership is a pure function of
    * (id, cell population) — reproducible on any engine, like
    * [[graft.operators.CorpusOps.stratifiedSample]].
    *
    * Scale shape: cell assignment is the map-only centroid-literal
    * projection; the per-cell rank would be an nlist-partition window
    * (a skew hazard — nlist is small by design), so it runs TWO-LEVEL:
    * a local top-cap within md5-derived shards (any superset of the
    * true top-cap survives the prune; ≤ cap·shards rows per cell
    * continue), then the exact rank over the survivors. */
  def clusterCapSample(corpus: DataFrame, idCol: String, vecCol: String,
      cap: Int, nlist: Int = 16, dim: Int = 64, seed: Long = 42L,
      iters: Int = 3, salt: String = "divcap",
      preNormalized: Boolean = false,
      fittedCenters: Option[Array[Array[Double]]] = None): DataFrame = {
    import graft.functions.TextFunctions
    val c =
      if (preNormalized)
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      else
        barrier(corpus.select(col(idCol).as("neighbor_id"),
          normalized(col(vecCol).cast("array<double>")).as("cvec")))
          .localCheckpoint()
    val centers = fittedCenters.getOrElse(
      fitQuantizer(c, "neighbor_id", "cvec", nlist, dim, seed, iters))
    val assigned = assignCells(c, "cvec", centers)
      .withColumn("__h", TextFunctions.md5Int(
        concat(lit(s"$salt:"), col("neighbor_id").cast("string")), 8))
    val shards = c.sparkSession.sessionState.conf.numShufflePartitions
    val wLocal = Window.partitionBy(col("cell"), pmod(col("__h"), lit(shards)))
      .orderBy(col("__h"), col("neighbor_id"))
    val pruned = assigned.withColumn("__lr", row_number().over(wLocal))
      .filter(col("__lr") <= cap)
    val w = Window.partitionBy("cell").orderBy(col("__h"), col("neighbor_id"))
    pruned.withColumn("r", row_number().over(w).cast("int"))
      .filter(col("r") <= cap)
      .select(col("neighbor_id").as(idCol), col("cell"), col("r"))
  }

  /** Deterministic ±1 sign matrix for [[randomProject]] — the
    * [[graft.expressions.LshBuckets.planes]] md5 derivation reduced to
    * its parity bit, reproducible in ANSI SQL as
    * `CASE WHEN ('0x'||substr(md5('salt:j:i'),1,8))::BIGINT % 2 = 0
    * THEN 1.0 ELSE -1.0 END`. */
  private def jlSigns(outDim: Int, dim: Int,
      salt: String): Array[Array[Double]] =
    Array.tabulate(outDim, dim) { (j, i) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$salt:$j:$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 8)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }

  /** Johnson-Lindenstrauss random projection to `outDim` dimensions
    * with ±1 signs scaled by 1/√outDim — the database-friendly JL
    * family (Achlioptas, JCSS 66(4) 2003: random-sign entries satisfy
    * the JL lemma with the same guarantees as Gaussians). The cheap
    * pre-ANN dimensionality cut: pairwise distances are preserved to
    * (1±ε) w.h.p., so downstream LSH/IVF/PQ index a 4×-smaller vector.
    * Signs are md5-derived (no stored random state), the per-output
    * dot is an index-ordered fold over ONE nested sign literal
    * (subspace-generic lambda — the [[booksLit]] tree-size lesson), so
    * projections are bit-identical to the SQL restatement and
    * hash-oracle-able (q120). Map-only: at 100 TB the projection rides
    * the scan, no shuffle. */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
      outDim: Int, dim: Int = 64, salt: String = "jl",
      preNormalized: Boolean = false): DataFrame = {
    val base = prep(df, idCol, vecCol, idCol, "__v", preNormalized)
    base.select(col(idCol), jlProjExpr(col("__v"), outDim, dim, salt).as("proj"))
  }

  private def jlProjExpr(vec: Column, outDim: Int, dim: Int,
      salt: String): Column = {
    val signs = jlSigns(outDim, dim, salt)
    val signsLit = typedlit[Seq[Seq[Double]]](
      signs.map(_.toIndexedSeq).toIndexedSeq)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    transform(sequence(lit(0), lit(outDim - 1)), j =>
      aggregate(zip_with(vec, element_at(signsLit, j + 1), (x, s) => x * s),
        lit(0.0), (acc, x) => acc + x) * lit(scale))
  }

  /** JL distortion audit — the verifiable FACTS of [[randomProject]]:
    * over all pairs of the first `sampleMax` vectors, the ratio of
    * projected to original squared distance (4-dp rounded), summarized
    * as one row (n_pairs, avg/min/max ratio). The JL lemma says these
    * ratios concentrate near 1; the audit is how a pipeline PROVES its
    * projection didn't wreck geometry before re-indexing. Pairs are
    * |sample|², so keep `sampleMax` bounded (the audit is a sample
    * statistic, not a corpus pass; vectors are assumed distinct —
    * identical pair → 0/0 NaN, as in the SQL restatement). */
  def jlDistortionAudit(df: DataFrame, idCol: String, vecCol: String,
      outDim: Int, sampleMax: Long, dim: Int = 64, salt: String = "jl",
      preNormalized: Boolean = false): DataFrame = {
    import graft.functions.MysqlFunctions.oracleRound
    val base = prep(df, idCol, vecCol, "__id", "__v", preNormalized)
      .filter(col("__id") < sampleMax)
      .withColumn("__p", jlProjExpr(col("__v"), outDim, dim, salt))
    val a = base.select(col("__id").as("ia"), col("__v").as("va"),
      col("__p").as("pa"))
    val b = base.select(col("__id").as("ib"), col("__v").as("vb"),
      col("__p").as("pb"))
    def sq(x: Column, y: Column) =
      aggregate(zip_with(x, y, (u, w) => (u - w) * (u - w)),
        lit(0.0), (acc, e) => acc + e)
    val pairs = a.join(broadcast(b), col("ia") < col("ib"))
      .withColumn("ratio",
        oracleRound(sq(col("pa"), col("pb")) / sq(col("va"), col("vb")), 4))
    pairs.agg(count(lit(1)).as("n_pairs"),
      oracleRound(avg(col("ratio")), 4).as("avg_ratio"),
      min(col("ratio")).as("min_ratio"),
      max(col("ratio")).as("max_ratio"))
  }

  /** Reciprocal-rank fusion of top-k rankings (Cormack, Clarke &
    * Buettcher, SIGIR 2009): `score(q, n) = Σ_legs 1/(rrfK + rank)`,
    * the standard way hybrid retrieval merges rankers with
    * incomparable scores (exact / LSH / IVF here; BM25 + vectors in a
    * search stack) using only RANKS. Each leg is a `(query_id,
    * neighbor_id, rnk)` frame; a missing candidate contributes 0. The
    * fused score is a sum of exact-integer-input divisions added in
    * FIXED leg order (a left-join chain off the candidate union, terms
    * in declaration order), then 6-dp-rounded before ranking — so the
    * fusion hash-oracles (q125). Legs are top-k frames (k·|queries|
    * rows), so every join here moves tiny frames regardless of corpus
    * scale. */
  def rrfFuse(legs: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(legs.nonEmpty, "need at least one ranking")
    import graft.functions.MysqlFunctions.oracleRound
    val keyed = legs.zipWithIndex.map { case (l, i) =>
      l.select(col("query_id"), col("neighbor_id"), col("rnk").as(s"__r$i"))
    }
    val u = keyed.map(_.select("query_id", "neighbor_id"))
      .reduce(_ unionAll _).distinct()
    // legs are k·|queries| frames — always broadcastable by
    // construction, so the whole fusion chain is broadcast hash joins
    val joined = keyed.foldLeft(u)((acc, l) =>
      acc.join(broadcast(l), Seq("query_id", "neighbor_id"), "left"))
    val score = keyed.indices.map(i =>
      coalesce(lit(1.0) / (lit(rrfK) + col(s"__r$i")), lit(0.0)))
      .reduce(_ + _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    joined.withColumn("score", oracleRound(score, 6))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "score", "rnk")
  }

  /** Borda-count fusion of top-k rankings: each leg awards a candidate
    * `k − rank + 1` points (top hit k, last kept 1, absent 0) and the
    * fused score is the point SUM — rank-only like [[rrfFuse]] but with
    * a linear integer schedule, so the fusion is an exact BIGINT with
    * no float rounding anywhere. Same `(query_id, neighbor_id, rnk)`
    * leg shape and broadcast contract as rrfFuse (legs are k·|queries|
    * frames, so the whole left-join chain is broadcast hash joins).
    * Returns the top `take` per query by (score desc, neighbor_id). */
  def bordaFuse(legs: Seq[DataFrame], k: Int, take: Int): DataFrame = {
    require(legs.nonEmpty, "need at least one ranking")
    val keyed = legs.zipWithIndex.map { case (l, i) =>
      l.select(col("query_id"), col("neighbor_id"), col("rnk").as(s"__r$i"))
    }
    val u = keyed.map(_.select("query_id", "neighbor_id"))
      .reduce(_ unionAll _).distinct()
    val joined = keyed.foldLeft(u)((acc, l) =>
      acc.join(broadcast(l), Seq("query_id", "neighbor_id"), "left"))
    val score = keyed.indices.map(i =>
      coalesce(lit(k + 1) - col(s"__r$i"), lit(0)).cast("long"))
      .reduce(_ + _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    joined.withColumn("score", score)
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= take)
      .select("query_id", "neighbor_id", "score", "rnk")
  }

  def int8Quantize(df: DataFrame, idCol: String, vecCol: String,
      keepVec: Boolean = false): DataFrame = {
    val v = col(vecCol)
    val codes = when(col("__scale") === 0,
        transform(col("__v"), _ => lit(0)))
      .otherwise(transform(col("__v"),
        x => floor(x / col("__scale") + lit(0.5)).cast("int")))
    val base = df.select(col(idCol), v.as("__v"))
      .withColumn("__scale",
        array_max(transform(col("__v"), x => abs(x))) / lit(127.0))
    val out = Seq(col(idCol), col("__scale").as("scale"), codes.as("codes")) ++
      (if (keepVec) Seq(col("__v").as(vecCol)) else Nil)
    base.select(out: _*)
  }

  /** NDCG@k of an approximate retrieval leg against an exact one —
    * the GRADED quality gate next to [[topKRecall]]-style binary
    * recall: the approximate index is charged for returning the right
    * neighbors in the wrong ORDER (rel = k+1 − exact_rank, position
    * discount 1/log₂(p+1), Järvelin & Kekäläinen TOIS'02).
    *
    * Both inputs are `(query_id, neighbor_id, rnk)` top-k frames.
    * Every DCG term is fixed-point quantized (`floor(·10⁶+.5)` longs)
    * so per-query sums are exact integers; the IDCG normalizer runs
    * through the SAME column expression over a k-row range rather
    * than a driver-side constant — an engine/oracle `ln` divergence
    * then surfaces as a hash mismatch instead of hiding in a baked
    * literal. Scale: one broadcast join and one aggregate over
    * k·|queries| rows; the heavy lifting happened in the legs.
    */
  def ndcgAtK(s: SparkSession, exact: DataFrame, approx: DataFrame,
      k: Int): DataFrame = {
    def termFp(rel: Column, p: Column): Column =
      floor(rel / (log(p + lit(1.0)) / log(lit(2.0))) * lit(1e6) + lit(0.5))
        .cast("long")
    val terms = approx.join(
        broadcast(exact.withColumnRenamed("rnk", "erank")),
        Seq("query_id", "neighbor_id"), "left")
      .withColumn("rel", coalesce(lit(k + 1) - col("erank"), lit(0))
        .cast("double"))
    val dcg = terms.groupBy("query_id").agg(
      sum(termFp(col("rel"), col("rnk").cast("double"))).as("dcg_fp"),
      count(when(col("erank").isNotNull, 1)).as("n_rel_found"))
    val idcg = s.range(1, k + 1)
      .select((lit(k + 1) - col("id")).cast("double").as("rel"),
        col("id").cast("double").as("p"))
      .agg(sum(termFp(col("rel"), col("p"))).as("idcg_fp"))
    dcg.crossJoin(broadcast(idcg))
      .select(col("query_id"), col("n_rel_found"), col("dcg_fp"),
        col("idcg_fp"),
        MysqlFunctions.oracleRound(col("dcg_fp").cast("double")
          / col("idcg_fp").cast("double"), 6).as("ndcg"))
  }

  /** Greedy k-center coreset (Gonzalez farthest-point traversal) over
    * the embedding column — DIVERSE-subset selection, the geometric
    * complement of [[clusterCapSample]]'s frequency capping: data-
    * pruning pipelines (SemDeDup→prototypicality→coverage lineages)
    * keep a small set that COVERS the embedding space, and greedy
    * k-center is the standard 2-approximation for it. Deterministic:
    * seed = min vec_id, then k−1 rounds of "pick the candidate whose
    * max cosine similarity to the chosen set is LOWEST" (farthest
    * under cosine distance), ties by vec_id.
    *
    * Scale shape: the chosen set stays on the driver (k rows — the
    * same bounded-fit contract as the IVF codebooks), and each round
    * is ONE map-only pass over candidates keeping a running
    * max-similarity column (`greatest(ms, cos(vec, new_center))` —
    * incremental, so round t costs O(n·d), not O(n·t·d)) followed by a
    * TakeOrdered(1) argmin — no shuffle, no per-round full sort. k
    * bounded rounds ⇒ k scans; `localCheckpoint` flattens the lineage
    * the same way the PageRank/LPA loops do. Output is rank-only
    * (round, vec_id) — float similarity values never leave the plan,
    * so the gate hashes argmin DECISIONS, which the chained-CTE oracle
    * replays with `list_cosine_similarity`. */
  def kcenterCoreset(emb0: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1)
    val s = emb0.sparkSession
    val emb = emb0.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).cast("array<double>").as("embedding"))
    val first = emb.orderBy("vec_id").limit(1).collect()(0)
    def vlit(v: Seq[Double]): Column = array(v.map(lit): _*)
    val picks = scala.collection.mutable.ArrayBuffer(first.getLong(0))
    var cand = emb.filter(col("vec_id") =!= first.getLong(0))
      .select(col("vec_id"), col("embedding"),
        cosine(col("embedding"), vlit(first.getSeq[Double](1))).as("ms"))
      .localCheckpoint()
    for (_ <- 2 to k) {
      val r = cand.orderBy(col("ms").asc, col("vec_id").asc).limit(1)
        .select("vec_id", "embedding").collect()(0)
      picks += r.getLong(0)
      cand = cand.filter(col("vec_id") =!= r.getLong(0))
        .select(col("vec_id"), col("embedding"),
          greatest(col("ms"),
            cosine(col("embedding"), vlit(r.getSeq[Double](1)))).as("ms"))
        .localCheckpoint()
    }
    import s.implicits._
    picks.toSeq.zipWithIndex
      .map { case (id, i) => (i + 1, id) }
      .toDF("rnd", "vec_id")
      .orderBy("rnd")
  }
}
