package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{MysqlFunctions, TextFunctions}

/** Corpus-level text statistics — operators whose weights depend on the
  * whole corpus, not a single document (unlike
  * [[graft.functions.TextFunctions]]' per-row expressions).
  */
object TextCorpus {

  /** Top-k terms per document by smoothed TF-IDF:
    * `tf(t,d) · (ln((N+1)/(df(t)+1)) + 1)` (the sklearn-style smoothing
    * that keeps corpus-wide terms finite), ranked per doc by
    * (tfidf desc, term asc) — fully deterministic, and exactly
    * reproducible in SQL (ranking compares the 4-dp ROUNDED score, so
    * last-ulp `ln` differences between engines cannot flip ranks).
    *
    * Scale shape: tokenize+explode → per-(doc,term) counts (map-side
    * combined, one shuffle on (doc,term)), document frequencies from
    * the tf table (one shuffle on term), corpus size N as a broadcast
    * 1-row aggregate (no driver action), per-doc top-k window
    * partitioned by doc. No step materializes anything doc-count² or
    * vocabulary-sized on one node.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    tfidfFromToks(df, lowerToks(df, idCol, textCol), idCol, k)

  /** [[tfidfTopTerms]] over a pre-built `(idCol, term)` token stream —
    * the shared-stage entry: the tfidf/bm25/vocab/fluency family reads
    * ONE tokenize+explode pass (localCheckpointed by the caller, the
    * MinHash-family pattern) instead of four. */
  def tfidfFromToks(df: DataFrame, toks: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("__n"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", MysqlFunctions.oracleRound(
        col("tf") * (log((col("__n") + lit(1.0)) / (col("df") + lit(1.0)))
          + lit(1.0)), 4))
    val w = Window.partitionBy(idCol).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("term"), col("tfidf"), col("rnk"))
  }

  /** Top-k documents for a term query by Okapi BM25:
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))` with
    * `idf = ln((N−df+0.5)/(df+0.5) + 1)` (the non-negative variant) —
    * the standard retrieval scorer, used in data curation to rank a
    * corpus against a high-quality reference query. Ranking compares
    * the 4-dp ROUNDED score (ties by doc id) so the ranking is
    * deterministic and engine-portable.
    *
    * Scale shape: term filter pushes into the exploded token stream
    * before any aggregation (only query-term rows shuffle), per-doc
    * lengths aggregate map-side, N/avgdl are broadcast 1-row
    * aggregates, final top-k is a TakeOrdered — nothing
    * vocabulary-sized or doc² anywhere.
    */
  def bm25Rank(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25FromToks(df, lowerToks(df, idCol, textCol), idCol, queryTerms, k, k1, b)

  /** [[bm25Rank]] over a pre-built `(idCol, term)` token stream (see
    * [[tfidfFromToks]]). */
  def bm25FromToks(df: DataFrame, toks: DataFrame, idCol: String,
      queryTerms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("__dl"))
    val tf = toks.filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("__n"))
    val avgdl = dl.agg(avg("__dl").as("__avgdl"))
    val idf = log((col("__n") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val scored = tf.join(dfreq, Seq("term"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(n)).crossJoin(broadcast(avgdl))
      .withColumn("__s", idf * col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * col("__dl") / col("__avgdl"))))
      .groupBy(col(idCol))
      .agg(MysqlFunctions.oracleRound(sum("__s"), 4).as("score"))
    // TakeOrdered top-k first (per-partition top-k + merge, no global
    // sort), then number the k survivors — the rank window only ever
    // sees k rows
    scored.orderBy(col("score").desc, col(idCol)).limit(k)
      .withColumn("rnk",
        // constant partition key: the frame is the k limit survivors,
        // so single-partition is the point — the literal spec keeps
        // WindowExec from logging the degradation warning on every run
        row_number().over(Window.partitionBy(lit(0))
          .orderBy(col("score").desc, col(idCol))).cast("int"))
      .select(col(idCol), col("score"), col("rnk"))
  }

  /** Gopher/C4-style repetition signals per document — the filters
    * that catch boilerplate and degenerate generation loops (Rae et
    * al. 2021 §A1.1, public arXiv 2112.11446):
    * `top_token_frac` = occurrences of the most frequent token /
    * token count (0 for an empty doc), and `dup_3gram_frac` =
    * duplicated 3-gram fraction `(n − distinct)/n` over the doc's
    * 3-gram MULTISET (0 when fewer than one 3-gram).
    *
    * Scale shape: the top-token stage is explode → (doc,token) count →
    * per-doc max/sum, both map-side combined and keyed by doc — the
    * standard two-level word-count; the 3-gram stage is a pure per-row
    * higher-order-function projection (transform/array_distinct), no
    * shuffle at all. An empty-doc row survives via the left join. */
  def repetitionStats(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // materialized: both the top-token aggregate and the 3-gram
    // projection read the tokenization — without the checkpoint the
    // tokenize runs once per consumer (the Dedup.shingleSets pattern)
    val toks = df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__t"))
      .localCheckpoint()
    val top = toks.select(col(idCol), explode(col("__t")).as("__tk"))
      .groupBy(col(idCol), col("__tk")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol)).agg(max("__c").as("__mx"), sum("__c").as("__tot"))
    val grams = toks.withColumn("__g",
      when(size(col("__t")) >= 3,
        transform(sequence(lit(1), size(col("__t")) - 2),
          i => concat_ws(" ", element_at(col("__t"), i),
            element_at(col("__t"), i + 1), element_at(col("__t"), i + 2))))
        .otherwise(array().cast("array<string>")))
      .select(col(idCol),
        when(size(col("__g")) === 0, lit(0.0))
          .otherwise(MysqlFunctions.oracleRound(
            (size(col("__g")) - size(array_distinct(col("__g")))).cast("double")
              / size(col("__g")).cast("double"), 4))
          .as("dup_3gram_frac"))
    grams.join(top, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(MysqlFunctions.oracleRound(
          col("__mx").cast("double") / col("__tot").cast("double"), 4),
          lit(0.0)).as("top_token_frac"),
        col("dup_3gram_frac"))
  }

  /** Unigram log-probability fluency score — the oracle-able stand-in
    * for the LM-perplexity quality signal of CCNet-style curation
    * (Wenzek et al. 2019, public arXiv 1911.00359): score(d) = mean
    * over d's tokens of log10(corpusFreq(token)/corpusTokens), rounded
    * to 4 dp. Gibberish and rare-token soup score low; common fluent
    * text scores high. NULL for an empty document (no tokens to
    * average — kept, not dropped, so the caller decides).
    *
    * Scale shape: one explode, a vocab-keyed count (map-side combined —
    * never broadcast blindly: at corpus scale the vocabulary is big;
    * AQE may still broadcast it from runtime stats), corpus size as a
    * broadcast 1-row aggregate, one doc-keyed mean. */
  def fluencyScore(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // materialized: the frequency table, the corpus total, and the
    // per-doc join all read this explode — one tokenize pass, not three
    fluencyFromToks(df, lowerToks(df, idCol, textCol).localCheckpoint(), idCol)

  /** [[fluencyScore]] over a pre-built `(idCol, term)` token stream.
    * The stream is read from three plan positions — pass a materialized
    * (localCheckpointed) stage or the tokenize re-runs per consumer. */
  def fluencyFromToks(df: DataFrame, toks: DataFrame, idCol: String): DataFrame = {
    val freq = toks.groupBy("term").agg(count(lit(1)).as("__c"))
    val n = toks.agg(count(lit(1)).cast("double").as("__n"))
    val perDoc = toks.join(freq, Seq("term"))
      .crossJoin(broadcast(n))
      .groupBy(col(idCol))
      .agg(MysqlFunctions.oracleRound(
        avg(log10(col("__c").cast("double") / col("__n"))), 4).as("fluency"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
  }

  /** Corpus vocabulary head: the k most frequent (lowercased,
    * whitespace) tokens with counts and ranks — the Zipf-head table
    * every tokenizer/filter design step starts from.
    *
    * Scale shape: explode → per-term count (map-side combined, one
    * shuffle on term), then TakeOrdered top-k; the rank window runs on
    * the k survivors only. Vocabulary never sits on one node.
    */
  def vocabTopTerms(df: DataFrame, textCol: String, k: Int): DataFrame =
    vocabTopFromToks(
      df.select(explode(TextFunctions.tokens(lower(col(textCol)))).as("term")), k)

  /** [[vocabTopTerms]] over a pre-built token stream (any extra
    * columns beside `term` are ignored). */
  def vocabTopFromToks(toks: DataFrame, k: Int): DataFrame = {
    val counts = toks.groupBy("term").agg(count(lit(1)).as("n"))
    counts.orderBy(col("n").desc, col("term")).limit(k)
      .withColumn("rnk",
        row_number().over(Window.partitionBy(lit(0))
          .orderBy(col("n").desc, col("term"))).cast("int"))
  }

  /** The family's canonical token stream: lowercased whitespace/BPE-ish
    * tokens, one row per (doc, token occurrence). */
  def lowerToks(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))

  /** Misra-Gries heavy-hitter summary — the DETERMINISTIC-guarantee
    * companion to the probabilistic count-min sketch (q126): k
    * counters, and for EVERY term `exact - ⌊N/(k+1)⌋ ≤ estimate ≤
    * exact`, with every term of frequency > ⌊N/(k+1)⌋ guaranteed
    * present (Misra & Gries '82). No failure probability, no seed.
    *
    * Scale shape: one pass, bounded state — each partition folds its
    * rows through a k-counter MG summary (`mapPartitions`: genuinely
    * imperative bounded-state streaming, the documented last-resort
    * case), so only ≤ k (term, count) pairs per partition reach the
    * merge. Summaries MERGE by counter addition followed by
    * subtracting the (k+1)-th largest merged count and dropping
    * non-positives — the mergeable-summaries construction (Agarwal,
    * Cormode, Huang, Phillips, Wei, Yi, PODS'12), which preserves the
    * N/(k+1) bound for any merge tree. The merge happens driver-side
    * over the ≤ partitions·k collected pairs in ascending partition-id
    * order (deterministic given the input's partitioning; the EMITTED
    * gate facts are theorem-guaranteed booleans, invariant to stream
    * and merge order). */
  def misraGries(toks: DataFrame, termCol: String, k: Int): Map[String, Long] = {
    require(k > 0, "k must be positive")
    val spark = toks.sparkSession
    import spark.implicits._
    val partial = toks.select(col(termCol).cast("string")).as[String]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { t =>
          m.get(t) match {
            case Some(c) => m(t) = c + 1
            case None if m.size < k => m(t) = 1L
            case None =>
              // decrement-all: each of the k counters and the unmatched
              // arrival together pay one unit — ≤ N/(k+1) such events
              val dead = List.newBuilder[String]
              m.foreach { case (key, c) =>
                if (c == 1L) dead += key else m(key) = c - 1 }
              dead.result().foreach(m.remove)
          }
        }
        val pid = org.apache.spark.TaskContext.getPartitionId()
        m.iterator.map { case (t, c) => (pid, t, c) }
      }.collect()
    def mergeTwo(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val sum = (a.keySet ++ b.keySet).iterator
        .map(t => t -> (a.getOrElse(t, 0L) + b.getOrElse(t, 0L))).toMap
      if (sum.size <= k) sum
      else {
        // subtract the (k+1)-th largest count (ties by term — any
        // consistent rule works; the bound is order-free)
        val cut = sum.toSeq.sortBy { case (t, c) => (-c, t) }.apply(k)._2
        sum.iterator.collect {
          case (t, c) if c > cut => t -> (c - cut) }.toMap
      }
    }
    partial.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map { case (_, t, c) => t -> c }.toMap)
      .foldLeft(Map.empty[String, Long])(mergeTwo)
  }

  /** Top-k bigram collocations by pointwise mutual information —
    * `pmi(a,b) = ln( p(ab) / (p(a)·p(b)) )` with `p(ab) = c_ab/M`
    * (bigram count over total bigrams) and unigram `p(w) = c_w/N` —
    * the standard collocation extractor (Church & Hanks 1990) a
    * tokenizer/phrase-vocab design step runs over a corpus. A
    * `minCount` floor drops the unstable low-count tail (raw PMI is
    * maximal for hapax pairs); ranking compares the 4-dp ROUNDED score
    * (ties by the pair itself) so the top-k is deterministic and
    * engine-portable.
    *
    * Scale shape: the bigram build is a per-row HOF projection +
    * explode (O(tokens), map-only), pair and unigram counts are
    * map-side-combined keyed aggregates, N/M are broadcast 1-row
    * aggregates, and the final top-k is a TakeOrdered — nothing
    * vocabulary² anywhere. */
  def bigramPmi(df: DataFrame, textCol: String, minCount: Long,
      k: Int): DataFrame =
    bigramPmiFromArrs(
      df.select(TextFunctions.tokens(lower(col(textCol))).as("a")),
      minCount, k)

  /** [[bigramPmi]] over a pre-built token-ARRAY stage `(…, a
    * array<string>)` — the positional form of the family's shared
    * tokenize: bigrams need in-order arrays, not the exploded `(id,
    * term)` stream the tfidf/bm25/fluency legs consume, so the shared
    * stage is the array and BOTH shapes derive from it (the exploded
    * stream is `explode(a)`). One tokenize pass family-wide. */
  def bigramPmiFromArrs(arrs: DataFrame, minCount: Long,
      k: Int): DataFrame = {
    val toks = arrs.select(explode(col("a")).as("w"))
    val uni = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val n = toks.agg(count(lit(1)).cast("double").as("__n"))
    val bg = arrs.filter(size(col("a")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("a")) - 1),
        i => struct(element_at(col("a"), i).as("w1"),
          element_at(col("a"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val m = bg.agg(count(lit(1)).cast("double").as("__m"))
    val scored = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("__c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("__c2")), Seq("w2"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(m))
      .withColumn("pmi", MysqlFunctions.oracleRound(
        log((col("c_ab") / col("__m")) /
          ((col("__c1") / col("__n")) * (col("__c2") / col("__n")))), 4))
    scored.orderBy(col("pmi").desc, col("w1"), col("w2")).limit(k)
      .withColumn("rnk", row_number()
        .over(Window.partitionBy(lit(0))
          .orderBy(col("pmi").desc, col("w1"), col("w2"))).cast("int"))
      .select("w1", "w2", "c_ab", "pmi", "rnk")
  }

  /** Dunning log-likelihood-ratio (G²) collocation scores (Dunning,
    * CL 1993) — the significance-corrected cousin of [[
    * bigramPmiFromArrs]]: PMI over-rewards rare pairs; G² scores the
    * 2×2 contingency of (first word = w1) × (second word = w2) over
    * ALL bigram slots, so a high score needs evidence, not just a
    * tiny denominator. Margins are bigram-POSITION counts (c(w1·),
    * c(·w2)), observed/expected cells from the exact integer counts,
    * G² = 2·Σ O·ln(O/E) with empty cells contributing 0, 4-dp pinned.
    * Same shape as the PMI leg: one HOF bigram explode over the shared
    * token-array stage, three keyed counts, min-count cut, top-k via
    * orderBy+limit. */
  def bigramG2FromArrs(arrs: DataFrame, minCount: Long,
      k: Int): DataFrame = {
    val bg = arrs.filter(size(col("a")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("a")) - 1),
        i => struct(element_at(col("a"), i).as("w1"),
          element_at(col("a"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val n = bg.agg(count(lit(1)).as("__n"))
    val first = bg.groupBy("w1").agg(count(lit(1)).as("__ca"))
    val second = bg.groupBy("w2").agg(count(lit(1)).as("__cb"))
    def ll(o: Column, e: Column): Column =
      when(o > 0, o.cast("double") * log(o.cast("double") / e))
        .otherwise(lit(0.0))
    val scored = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .join(first, Seq("w1")).join(second, Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("__o11", col("c_ab"))
      .withColumn("__o12", col("__ca") - col("c_ab"))
      .withColumn("__o21", col("__cb") - col("c_ab"))
      .withColumn("__o22",
        col("__n") - col("__ca") - col("__cb") + col("c_ab"))
      .withColumn("__nd", col("__n").cast("double"))
      .withColumn("g2", MysqlFunctions.oracleRound(lit(2.0) * (
        ll(col("__o11"), col("__ca").cast("double") * col("__cb") / col("__nd")) +
        ll(col("__o12"), col("__ca").cast("double") * (col("__n") - col("__cb")) / col("__nd")) +
        ll(col("__o21"), (col("__n") - col("__ca")).cast("double") * col("__cb") / col("__nd")) +
        ll(col("__o22"), (col("__n") - col("__ca")).cast("double") * (col("__n") - col("__cb")) / col("__nd"))), 4))
    scored.orderBy(col("g2").desc, col("w1"), col("w2")).limit(k)
      .withColumn("rnk", row_number()
        .over(Window.partitionBy(lit(0))
          .orderBy(col("g2").desc, col("w1"), col("w2"))).cast("int"))
      .select("w1", "w2", "c_ab", "g2", "rnk")
  }

  /** Add-k-smoothed bigram language-model score per document — the
    * real conditional-probability form of the LM-perplexity quality
    * signal ([[fluencyScore]] is the order-blind unigram stand-in):
    * `avg_logp(d) = mean over d's bigram occurrences of
    * log10 P(w2|w1)` with `P(w2|w1) = (c(w1w2)+k) / (c(w1)+k·V)`
    * (Laplace/add-k smoothing, V = corpus vocabulary size) — the
    * textbook bigram LM (Jurafsky & Martin ch. 3), trained on the
    * corpus itself as CCNet-style curation does with its reference LM
    * (Wenzek et al., arXiv 1911.00359). Perplexity is
    * `10^(−avg_logp)`; word-salad scores low where the unigram score
    * cannot see it (all-common-words in random order). 4-dp-rounded;
    * NULL for documents with <2 tokens (no bigram to score — kept, the
    * [[fluencyScore]] convention).
    *
    * Scale shape: the bigram build is a per-row HOF projection +
    * explode (map-only over the shared token-ARRAY stage); train
    * counts are map-side-combined keyed aggregates (never broadcast —
    * the bigram vocabulary is corpus-sized); scoring joins the bigram
    * stream to its count tables keyed on (w1,w2) then w1 (skewed by
    * stop-pairs — AQE's skew handling applies), V is a broadcast 1-row
    * aggregate, and the per-doc mean is one doc-keyed aggregate. */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
      addK: Double = 0.5): DataFrame =
    bigramLogProbFromArrs(df,
      df.select(col(idCol),
        TextFunctions.tokens(lower(col(textCol))).as("a")).localCheckpoint(),
      idCol, addK)

  /** [[bigramLogProb]] over a pre-built token-ARRAY stage `(idCol, a
    * array<string>)` — pass a materialized stage: the arrays are read
    * from two plan positions (the scoring stream and the train
    * counts). */
  def bigramLogProbFromArrs(df: DataFrame, arrs: DataFrame, idCol: String,
      addK: Double): DataFrame = {
    val toks = arrs.select(explode(col("a")).as("w"))
    val uni = toks.groupBy("w").agg(count(lit(1)).as("__c1"))
    val v = toks.agg(countDistinct(col("w")).cast("double").as("__v"))
      .head().getDouble(0)
    bigramLogProbFromModel(df, arrs, idCol, addK, uni,
      docBigrams(arrs, idCol).groupBy("w1", "w2")
        .agg(count(lit(1)).as("__cab")), v)
  }

  /** The `(doc, w1, w2)` adjacent-pair stream of a token-array stage —
    * shared by in-session LM fitting, persisted-LM fitting and doc
    * scoring (one extraction shape, three consumers). */
  private def docBigrams(arrs: DataFrame, idCol: String): DataFrame =
    arrs.filter(size(col("a")) >= 2)
      .select(col(idCol), explode(transform(sequence(lit(1), size(col("a")) - 1),
        i => struct(element_at(col("a"), i).as("w1"),
          element_at(col("a"), i + 1).as("w2")))).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** [[bigramLogProbFromArrs]] against a SUPPLIED model — `uni`
    * `(w, __c1)`, `cab` `(w1, w2, __cab)`, `vocab` = |V| — instead of
    * counts derived in-plan. Left joins with zero-count backoff: a
    * bigram or head word absent from the model scores
    * `addK / (addK·V)` = 1/V, the add-k prior, so the scorer is
    * well-defined on docs the model never saw; on the fit corpus
    * itself every pair matches and the result is bit-identical to the
    * in-session path (q118's oracle holds verbatim). */
  def bigramLogProbFromModel(df: DataFrame, arrs: DataFrame, idCol: String,
      addK: Double, uni: DataFrame, cab: DataFrame,
      vocab: Double): DataFrame = {
    val bg = docBigrams(arrs, idCol)
    val perDoc = bg.join(cab, Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w1"), col("__c1")), Seq("w1"), "left")
      .withColumn("__l", log10(
        (coalesce(col("__cab"), lit(0L)) + lit(addK)) /
          (coalesce(col("__c1"), lit(0L)) + lit(addK) * lit(vocab))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        MysqlFunctions.oracleRound(avg(col("__l")), 4).as("avg_logp"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
  }

  /** Persist a fitted add-k bigram LM — unigram counts, bigram counts,
    * vocab size — as three parquet stages under `base`. The text-family
    * twin of `Similarity.writeFitStages`: the LM is fit ONCE over the
    * reference corpus and every later scoring session reads the count
    * tables back instead of re-aggregating the corpus. Counts are
    * integers, so the round-trip is exact by construction (no float
    * pinning needed). Unlike the ANN tensors (nlist×dim, driver-sized),
    * LM counts scale with the vocabulary — they stay DataFrames
    * end-to-end and are never collected. */
  def writeLmStages(spark: org.apache.spark.sql.SparkSession, base: String,
      arrs: DataFrame, idCol: String): Unit = {
    val toks = arrs.select(explode(col("a")).as("w"))
    toks.groupBy("w").agg(count(lit(1)).as("__c1"))
      .write.mode("overwrite").parquet(s"$base/lm_uni")
    docBigrams(arrs, idCol).groupBy("w1", "w2")
      .agg(count(lit(1)).as("__cab"))
      .write.mode("overwrite").parquet(s"$base/lm_bigram")
    // vocab size ≡ the unigram table's non-null row count (it is
    // grouped by w, and countDistinct ignores nulls), so derive it
    // from the just-written parquet instead of a third explode+
    // distinct pass over the token arrays (r16; same value by
    // construction)
    spark.read.parquet(s"$base/lm_uni")
      .agg(count(col("w")).cast("double").as("v"))
      .write.mode("overwrite").parquet(s"$base/lm_meta")
  }

  /** Read back what [[writeLmStages]] wrote: `(uni, cab, vocabSize)`.
    * Only the one-row meta is collected; the count tables stay
    * DataFrames (vocabulary-sized — join them, never materialize). */
  def lmStagesFromParquet(spark: org.apache.spark.sql.SparkSession,
      base: String): (DataFrame, DataFrame, Double) =
    (spark.read.parquet(s"$base/lm_uni"),
      spark.read.parquet(s"$base/lm_bigram"),
      spark.read.parquet(s"$base/lm_meta").head().getDouble(0))

  /** Interpolated Kneser-Ney bigram LM score per document — the
    * smoothing the production perplexity filters actually use (KenLM;
    * CCNet's reference LM — Kneser & Ney, ICASSP'95; Chen & Goodman,
    * Harvard TR-10-98), upgrading [[bigramLogProbFromArrs]]'s add-k:
    * `P_KN(w2|w1) = max(c(w1w2)−D, 0)/c(w1·)
    *              + (D·N1+(w1·)/c(w1·)) · (N1+(·w2)/N1+(··))`
    * with absolute discount `D` (default 0.75) — the backoff weight is
    * the probability mass the discount freed, and the lower-order
    * distribution is the CONTINUATION count (in how many distinct
    * contexts does w2 appear), not the raw unigram frequency, so
    * "francisco" (frequent but only after "san") no longer inflates
    * word-salad scores the way add-k lets it.
    *
    * Determinism contract: every model quantity is an integer count;
    * `P_KN` is a fixed-shape double expression over those integers
    * (bit-identical across engines), each per-bigram `log10 P` is
    * 6-dp-pinned, and the per-doc mean sums those pins as
    * `DECIMAL(28,6)` (exact, order-independent) before the final 4-dp
    * round — the q336-class float-reduction rule applied up front.
    *
    * Scale shape: identical to [[bigramLogProbFromArrs]] — the pair
    * stream and the three count tables are map-side-combined keyed
    * aggregates over the shared token-ARRAY stage; N1+(··) is a
    * broadcast 1-row aggregate; scoring joins key on (w1,w2), w1, w2
    * (stop-pair skew → AQE); the per-doc mean is one doc-keyed
    * aggregate. Nothing is collected; counts stay DataFrames. */
  def knLogProbFromArrs(df: DataFrame, arrs: DataFrame, idCol: String,
      discount: Double = 0.75): DataFrame = {
    val bg = docBigrams(arrs, idCol)
    val cab = bg.groupBy("w1", "w2").agg(count(lit(1)).as("__cab"))
    val hist = cab.groupBy("w1")
      .agg(sum(col("__cab")).as("__c1"), count(lit(1)).as("__nf"))
    val cont = cab.groupBy("w2").agg(count(lit(1)).as("__nb"))
    val ntypes = cab.agg(count(lit(1)).cast("double").as("__nt"))
    val d = lit(discount)
    // expression order mirrors the oracle text exactly — double ops
    // are IEEE-exact per op, so same shape ⇒ same bits pre-pin
    val p = greatest(col("__cab").cast("double") - d, lit(0.0)) /
        col("__c1").cast("double") +
      (d * col("__nf").cast("double") / col("__c1").cast("double")) *
        (col("__nb").cast("double") / col("__nt"))
    val perDoc = bg
      .join(cab, Seq("w1", "w2"))
      .join(hist, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(ntypes))
      .withColumn("__l",
        MysqlFunctions.oracleRound(log10(p), 6).cast("decimal(28,6)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        MysqlFunctions.oracleRound(
          sum(col("__l")).cast("double") / count(lit(1)), 4).as("avg_logp"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
  }

  /** KMV (k-minimum-values) distinct sketch with set operations
    * (Bar-Yossef et al. RANDOM'02; Beyer et al. SIGMOD'07 — the
    * unbiased (k−1)/x_k estimator; the theta-sketch family's
    * construction): estimate the distinct-term count of each corpus
    * side, their union, their Jaccard overlap and intersection size
    * from three k-row sketches. `toks` = `(sideA: boolean, term)`;
    * terms are hashed with the md5Int convention so every sketch —
    * and therefore every estimate — has an ANSI-SQL closed form
    * (the reason this is not `approx_count_distinct`: HLL registers
    * can't estimate INTERSECTIONS and aren't oracle-stable; KMV set
    * algebra does both).
    *
    * Method: one groupBy(hash) pass flags each distinct hash with its
    * side membership (the only vocabulary-sized shuffle); each sketch
    * is then a k-row ascending TakeOrdered over the flagged table
    * (per-partition top-k + merge — no global sort). est = (k−1)/x_k
    * with x_k = k-th smallest hash normalized to [0,1); a side with
    * fewer than k distinct hashes IS its own exact count (the KMV
    * degenerate rule). Jaccard = ρ/|sketch(union)| where ρ counts
    * union-sketch members present in BOTH sides (membership rides the
    * flags — no re-probe of the big table); intersection =
    * Jaccard · est(union). Exact counts ride the same flags aggregate
    * for free, so the output row pins estimate AND truth side by side.
    *
    * 100 TB shape: the flags table is vocabulary-sized but the
    * estimator only ever materializes k rows of it at the driver-free
    * TakeOrdered boundary; merging pre-built per-shard sketches
    * (union of k-sets, re-take k smallest) is associative — the
    * mergeable-summaries property the PODS'12 framing proved — so the
    * sketch distributes exactly like the q126/q141 heavy hitters. */
  def kmvSplitOverlap(toks: DataFrame, sideACol: String, termCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2 for the (k-1)/x_k estimator")
    val twoPow60 = 1152921504606846976.0 // md5Int(·,15) < 2^60
    val hashed = toks.select(col(sideACol).as("__a"),
      TextFunctions.md5Int(concat(lit("kmv:"), col(termCol)), 15).as("__h"))
      .distinct()
    val flags = hashed.groupBy("__h").agg(
      max(when(col("__a"), 1L).otherwise(0L)).as("__ina"),
      max(when(!col("__a"), 1L).otherwise(0L)).as("__inb"))
    def est(cnt: Column, xk: Column): Column =
      when(cnt < k, cnt.cast("double")).otherwise(lit(k - 1.0) / xk)
    def sideEst(flag: String, out: String) =
      flags.filter(col(flag) === 1L).orderBy("__h").limit(k)
        .agg(count(lit(1)).as("c"), (max(col("__h")) / twoPow60).as("xk"))
        .select(est(col("c"), col("xk")).as(out))
    val sa = sideEst("__ina", "__ea")
    val sb = sideEst("__inb", "__eb")
    val su = flags.orderBy("__h").limit(k)
      .agg(count(lit(1)).as("c"), (max(col("__h")) / twoPow60).as("xk"),
        sum(when(col("__ina") === 1L && col("__inb") === 1L, 1L)
          .otherwise(0L)).as("rho"))
      .select(est(col("c"), col("xk")).as("__eu"),
        (col("rho").cast("double") / col("c").cast("double")).as("__ej"))
    val ex = flags.agg(
      sum("__ina").as("n_a"), sum("__inb").as("n_b"),
      count(lit(1)).as("n_union"),
      sum(col("__ina") * col("__inb")).as("n_intersect"))
    sa.crossJoin(sb).crossJoin(su).crossJoin(ex)
      .select(lit(k).as("k"),
        MysqlFunctions.oracleRound(col("__ea"), 4).as("est_a"),
        MysqlFunctions.oracleRound(col("__eb"), 4).as("est_b"),
        MysqlFunctions.oracleRound(col("__eu"), 4).as("est_union"),
        MysqlFunctions.oracleRound(col("__ej"), 4).as("est_jaccard"),
        MysqlFunctions.oracleRound(col("__ej") * col("__eu"), 4)
          .as("est_intersect"),
        col("n_a"), col("n_b"), col("n_union"), col("n_intersect"))
  }

  /** Heaps'-law vocabulary-growth audit (Heaps 1978; the V(n) ≈ K·n^β
    * empirical law every tokenizer/vocab design consults): walk the
    * corpus in `idCol` order in buckets of `bucketSize` docs and emit,
    * per bucket, token throughput and NEW-vocabulary arrivals, their
    * running totals, and the local Heaps exponent
    * β = Δlog₁₀V / Δlog₁₀n between consecutive buckets. A corpus
    * whose β collapses early is repetitive (dedup/boilerplate
    * signal); one whose β stays near 1 is ID-like noise (garbage
    * signal) — the two tails the audit exists to catch.
    *
    * Scale shape: "first occurrence of each term" is ONE groupBy(term)
    * over the token stream (the only corpus-sized shuffle), bucketed
    * BEFORE any running sum — the windows then run on the nbuckets-row
    * bucket table under a constant partition key (the established
    * two-level pattern; no corpus-sized window anywhere). β is
    * computed per row from its neighbor via lag — no cross-bucket
    * float summation, so the oracle reproduces it bit-for-bit.
    * Precondition: every bucket holds ≥1 token (empty buckets would
    * zero Δlog n; the gate corpus' 10..99-token docs guarantee it). */
  def vocabGrowth(arrs: DataFrame, idCol: String,
      bucketSize: Int): DataFrame = {
    require(bucketSize > 0)
    val toks = arrs.select(col(idCol), explode(col("a")).as("w"))
    val bkt = arrs
      .select(floor(col(idCol) / bucketSize).cast("long").as("bkt"),
        size(col("a")).cast("long").as("__n"))
      .groupBy("bkt").agg(sum("__n").as("n_tokens"))
    val firsts = toks.groupBy("w").agg(min(col(idCol)).as("__first"))
      .select(floor(col("__first") / bucketSize).cast("long").as("bkt"))
      .groupBy("bkt").agg(count(lit(1)).as("new_terms"))
    val w = Window.partitionBy(lit(0)).orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lagW = Window.partitionBy(lit(0)).orderBy("bkt")
    bkt.join(firsts, Seq("bkt"), "left")
      .withColumn("new_terms", coalesce(col("new_terms"), lit(0L)))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("cum_vocab", sum("new_terms").over(w))
      .withColumn("beta", MysqlFunctions.oracleRound(
        (log10(col("cum_vocab")) - log10(lag(col("cum_vocab"), 1).over(lagW))) /
          (log10(col("cum_tokens")) - log10(lag(col("cum_tokens"), 1).over(lagW))),
        4))
      .select("bkt", "n_tokens", "new_terms", "cum_tokens", "cum_vocab",
        "beta")
  }

  /** Byte-pair-encoding vocabulary learning (Sennrich ACL'16; the
    * GPT-2 byte-level variant operates on the raw character stream,
    * which is what this does): `rounds` merge rounds, each round
    * (1) counting every ADJACENT character pair in the current corpus
    * (overlapping positions counted — the standard convention),
    * (2) electing the most frequent pair (ties broken by binary
    * string order, so the election is deterministic and
    * engine-portable), and (3) rewriting every non-overlapping
    * left-to-right occurrence to a fresh single symbol from the
    * Unicode private-use area (U+E000+r) — exactly `replace`'s
    * semantics in both Spark and ANSI SQL, and exactly BPE's greedy
    * merge on repeated runs ("aaaa" + merge "aa" → two symbols).
    * Merged symbols participate in later rounds' pairs, so the merge
    * table is the real BPE vocabulary prefix.
    *
    * Scale shape: each round is ONE corpus scan whose pair counts
    * hash-aggregate map-side into at most |Σ|² keys (the alphabet is
    * bounded, so the post-partial shuffle is tiny regardless of corpus
    * size), plus one TakeOrdered(1) election — the only driver state
    * is one (pair, count) row per round, the bounded-fit-tensor
    * contract the ANN fits use. The corpus is never materialized
    * between rounds: round r's text is the original scan under a
    * chain of r codegen'd `StringReplace`s, so column pruning and
    * the pushdown reach the parquet scan in every round. The extra
    * per-round length scan (`corpus_chars_after`) shares that chain;
    * at production scale it would fold into the next round's pair
    * pass. Per-round cost is O(corpus); total O(rounds · corpus) —
    * the same shape every BPE trainer has.
    *
    * Returns one row per merge round: `(round, c1, c2, cnt,
    * corpus_chars_after)` with the elected pair as two Unicode
    * codepoints (PUA symbols from earlier rounds included), its
    * adjacent-position count, and the corpus character total after
    * the rewrite.
    */
  def bpeMerges(df: DataFrame, textCol: String, rounds: Int): DataFrame =
    bpeMergesFromFit(df.sparkSession, bpeFit(df, textCol, rounds))

  /** [[bpeMerges]]' output shape from an already-computed fit — the
    * fit-once/consume-twice seam: q160 (merge table) and q164 (encode
    * audit) share ONE `rounds × 2`-scan fit via the caller's memo
    * instead of each re-running it (the persisted-ANN-fit contract,
    * applied to the tokenizer). */
  def bpeMergesFromFit(spark: org.apache.spark.sql.SparkSession,
      fit: (Seq[(Int, Int, Int, Long, Long)], Column)): DataFrame = {
    import spark.implicits._
    fit._1.toDF("round", "c1", "c2", "cnt", "corpus_chars_after")
      .orderBy("round")
  }

  /** The fit loop shared by [[bpeMerges]] and [[bpeEncode]]: returns
    * the merge table rows and the final rewrite chain (the original
    * text column under `rounds` chained codegen'd replaces). */
  private[graft] def bpeFit(df: DataFrame, textCol: String, rounds: Int)
      : (Seq[(Int, Int, Int, Long, Long)], Column) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Long, Long)]
    // pair scan: native one-walk-per-row count map
    // ([[graft.expressions.PairCounts]]), then one bounded-alphabet
    // pair aggregate
    var cur: Column = col(textCol)
    for (r <- 0 until rounds) {
      val pairs = df
        .select(explode(call_function("graft_pair_counts", cur))
          .as(Seq("pair", "__c")))
        .groupBy("pair").agg(sum(col("__c").cast("long")).as("cnt"))
      val best = pairs.orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()(0)
      val bp = best.getString(0)
      val sym = (0xE000 + r).toChar.toString
      cur = replace(cur, lit(bp), lit(sym))
      val charsAfter = df.select(sum(length(cur)).cast("long").as("__c"))
        .collect()(0).getLong(0)
      out += ((r, bp.charAt(0).toInt, bp.charAt(1).toInt,
        best.getLong(1), charsAfter))
    }
    (out.toSeq, cur)
  }

  /** Tokenizer APPLY for the [[bpeMerges]] fit — the fertility audit
    * every tokenizer change ships with: encode each document with the
    * learned merge chain and report its symbol count against raw
    * characters and whitespace words. `compression` = chars/symbol
    * (higher = the vocabulary covers the corpus better);
    * `fertility` = symbols/word (lower = fewer tokens per word, the
    * number LM training cost scales with).
    *
    * Scale shape: the fit is [[bpeFit]] (one bounded-alphabet
    * aggregate per round); the encode pass is ONE scan — the merge
    * chain is `rounds` chained codegen'd `replace`s on the original
    * column, so the apply step adds no shuffle at all.
    */
  /** Positional phrase search: elect the corpus' most frequent word
    * bigram (count DESC, words ASC — deterministic) and emit every
    * document containing it as a CONSECUTIVE phrase, with match count
    * and first 0-based word position. The classic positional-index
    * probe, done Spark-first: bigram counting and phrase probing both
    * ride the per-row token array (map-only pair generation, map-side
    * combined counts) — no positional-postings self-join exists
    * anywhere in the plan. A term-partitioned postings table is the
    * right layout when queries arrive dynamically; for a known
    * phrase, scanning the token arrays IS the minimal plan (one
    * corpus scan + a 1-row election), and overlapping matches are
    * counted exactly like the postings adjacency join would.
    */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String): DataFrame =
    phraseSearchFromArrs(df.select(col(idCol),
      TextFunctions.tokens(lower(trim(col(textCol)))).as("a")), idCol)

  /** [[phraseSearch]] over a PRE-TOKENIZED `(idCol, a array<string>)`
    * frame — the shared-token-stage entry point: the r9 gate path
    * tokenized the corpus twice (election + position scan) while the
    * whole tfidf/bm25/vocab family rode one cached token stage; this
    * overload lets the phrase probe ride the same stage (tokens()
    * trims internally, so the staged lower-cased arrays are
    * bit-identical to the inline tokenization). */
  def phraseSearchFromArrs(arr: DataFrame, idCol: String): DataFrame = {
    val best = arr.filter(size(col("a")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(a) - 2), i -> struct(a[i] AS w1, a[i + 1] AS w2))"))
        .as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)
      .limit(1).collect()(0)
    val (w1, w2) = (best.getString(0), best.getString(1))
    arr.filter(size(col("a")) >= 2)
      .select(col(idCol), filter(expr("sequence(0, size(a) - 2)"),
        i => element_at(col("a"), (i + lit(1)).cast("int")) === lit(w1) &&
          element_at(col("a"), (i + lit(2)).cast("int")) === lit(w2))
        .as("hits"))
      .filter(size(col("hits")) > 0)
      .select(col(idCol),
        size(col("hits")).cast("long").as("n_matches"),
        element_at(col("hits"), 1).cast("long").as("first_pos"),
        lit(w1).as("w1"), lit(w2).as("w2"))
  }

  /** Zipf rank–frequency fit over the vocabulary head: least-squares
    * slope of ln(count) on ln(rank) for the top `topK` terms — the
    * corpus-health diagnostic next to [[vocabGrowth]]'s Heaps law
    * (natural corpora sit near slope −1; synthetic/templated text
    * shows up flat). All regression sums run over FIXED-POINT
    * quantized coordinates (`floor(ln·10⁶+0.5)` longs), so the sums
    * are exact integers — order-independent, engine-portable — and
    * the slope/intercept/R² are ratios of exact integers evaluated in
    * an identical IEEE sequence both sides (the q162 discipline).
    *
    * Scale shape: one map-side-combined term count (the only
    * corpus-sized shuffle), a TakeOrdered head, and a 100-row
    * aggregate. Nothing vocabulary-sized leaves the executors.
    */
  def zipfFit(toks: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy(lit(0))
      .orderBy(col("cnt").desc, col("term").asc)
    val ranked = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(topK)
      .withColumn("rnk", row_number().over(w))
    val q = ranked.select(
      floor(log(col("rnk").cast("double")) * lit(1e6) + lit(0.5))
        .cast("long").as("x"),
      floor(log(col("cnt").cast("double")) * lit(1e6) + lit(0.5))
        .cast("long").as("y"))
    q.agg(count(lit(1)).cast("long").as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("num", col("n").cast("double") * col("sxy")
        - col("sx").cast("double") * col("sy"))
      .withColumn("denx", col("n").cast("double") * col("sxx")
        - col("sx").cast("double") * col("sx"))
      .withColumn("deny", col("n").cast("double") * col("syy")
        - col("sy").cast("double") * col("sy"))
      .withColumn("slope_raw", col("num") / col("denx"))
      .select(col("n").as("n_terms"),
        MysqlFunctions.oracleRound(col("slope_raw"), 6).as("slope"),
        MysqlFunctions.oracleRound(
          (col("sy").cast("double") - col("slope_raw") * col("sx"))
            / col("n") / lit(1e6), 6).as("intercept"),
        MysqlFunctions.oracleRound(
          col("num") * col("num") / (col("denx") * col("deny")), 6)
          .as("r2"))
  }

  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame =
    bpeEncodeFromFit(df, idCol, textCol, bpeFit(df, textCol, rounds))

  /** [[bpeEncode]] from an already-computed fit (see
    * [[bpeMergesFromFit]] for the sharing contract). */
  def bpeEncodeFromFit(df: DataFrame, idCol: String, textCol: String,
      fit: (Seq[(Int, Int, Int, Long, Long)], Column)): DataFrame = {
    val encoded = fit._2
    df.select(col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_words"),
        length(encoded).cast("long").as("n_tokens"))
      .withColumn("compression", MysqlFunctions.oracleRound(
        col("n_chars").cast("double") / col("n_tokens").cast("double"), 6))
      .withColumn("fertility", MysqlFunctions.oracleRound(
        col("n_tokens").cast("double") / col("n_words").cast("double"), 6))
  }

  /** Source-concentration audit: Gini coefficient of token mass across
    * corpus sources — the mixture-inequality diagnostic next to q83's
    * mixture rates (a training mix dominated by one crawl shows up as
    * G → 1 long before a per-source table is eyeballed). Exact sorted
    * formula G = 2·Σ(i·mᵢ)/(n·S) − (n+1)/n over masses ascending
    * (ties by source name): every sum is an exact BIGINT, the final
    * ratio one fixed IEEE sequence (q166 discipline).
    *
    * Scale shape: ONE map-side-combined per-source aggregate is the
    * only corpus-sized step; the rank/prefix work happens on the
    * n_sources-row frame (explicitly coalesced to one partition — the
    * frame is the number of DISTINCT SOURCES, bounded and tiny, which
    * is why a window here is legal where q143 had to bucket). */
  def sourceGini(arrs: DataFrame, srcCol: String, tokArrCol: String)
      : DataFrame = {
    val masses = arrs.groupBy(col(srcCol))
      .agg(sum(size(col(tokArrCol))).cast("long").as("mass"))
      .coalesce(1)
    val w = Window.partitionBy(lit(0))
      .orderBy(col("mass").asc, col(srcCol).asc)
    masses.withColumn("i", row_number().over(w).cast("long"))
      .agg(count(lit(1)).cast("long").as("n_sources"),
        sum("mass").as("total_tokens"),
        sum(col("i") * col("mass")).as("wsum"),
        max("mass").as("max_mass"))
      .select(col("n_sources"), col("total_tokens"),
        MysqlFunctions.oracleRound(
          lit(2.0) * col("wsum").cast("double")
            / (col("n_sources").cast("double")
              * col("total_tokens").cast("double"))
            - (col("n_sources") + lit(1L)).cast("double")
              / col("n_sources").cast("double"), 6).as("gini"),
        MysqlFunctions.oracleRound(col("max_mass").cast("double")
          / col("total_tokens").cast("double"), 6).as("top_share"))
  }

  /** Tokenizer round-trip audit over a [[bpeFit]] merge chain — the
    * invariant every tokenizer change must ship with: expanding the
    * merge symbols in REVERSE merge order reconstructs the original
    * text exactly (later-round pairs may contain earlier symbols;
    * reverse expansion resolves the nesting). Losslessness holds by
    * construction — the PUA symbols cannot occur in input text — so a
    * FALSE `ok` is a real defect (symbol collision or a non-greedy
    * rewrite divergence), which is exactly why the audit emits per-doc
    * booleans instead of asserting silently. Scale: encode and decode
    * are one chain of 2·rounds codegen'd `replace`s over the single
    * corpus scan — zero shuffles (map-only), like q172.
    */
  def bpeRoundtrip(df: DataFrame, idCol: String, textCol: String,
      fit: (Seq[(Int, Int, Int, Long, Long)], Column)): DataFrame = {
    val encoded = fit._2
    val decoded = fit._1.reverse.foldLeft(encoded) { case (c, row) =>
      val sym = (0xE000 + row._1).toChar.toString
      val pair = "" + row._2.toChar + row._3.toChar
      replace(c, lit(sym), lit(pair))
    }
    df.select(col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      length(encoded).cast("long").as("n_tokens"),
      (decoded === col(textCol)).as("ok"))
  }

  /** HyperLogLog distinct-count estimate per key (Flajolet et al. 2007),
    * built on the engine's universal md5 hash so the DuckDB oracle
    * reproduces the ESTIMATE bit-for-bit, not just the exact count.
    *
    * Register construction is fully integer-exact: the 60-bit
    * `md5Int(item, 15)` splits into `bucket = h mod m` and
    * `w = h div m`; the rank is `maxBits + 1 - bitlen(w)` with
    * `bitlen` via `length(bin(w))` (minimal-width binary string in
    * both Spark and DuckDB — no float log2 at power-of-two
    * boundaries). The indicator sum is kept scaled by `2^(maxBits+1)`
    * so it stays an exact BIGINT (`shiftleft`); only the final
    * alpha·m²/Z ratio and the small-range linear-counting correction
    * `m·ln(m/V)` touch doubles, in an identical IEEE sequence on both
    * engines (the q166 fixed-point discipline).
    *
    * Scale shape — THE distinct-count architecture at 100 TB: the only
    * corpus-sized step is a (key, bucket)-keyed max that map-side
    * combines down to ≤ m rows per key per partition, then an m-row
    * aggregate per key. Registers are mergeable (pointwise max), so
    * per-shard register tables union and re-max without touching raw
    * items — unlike `count(distinct)` which shuffles every distinct
    * item. The gate query also emits the exact count purely as the
    * oracle's recall check (q106 pattern); at scale you would drop it.
    *
    * p=6 (m=64) in the gate so the synthetic corpus' ~1.6 k-bigram
    * cardinality genuinely exercises the raw-estimate regime, not just
    * linear counting; alphaFor matches the published constants.
    */
  def hllDistinct(pairs: DataFrame, keyCol: String, itemCol: String,
      p: Int): DataFrame = {
    val exact = pairs.groupBy(col(keyCol))
      .agg(countDistinct(col(itemCol)).as("n_exact"))
    hllEstimate(hllRegisters(pairs, keyCol, itemCol, p), keyCol, p)
      .join(exact, Seq(keyCol))
      .withColumn("rel_err", MysqlFunctions.oracleRound(
        (col("est") - col("n_exact").cast("double"))
          / col("n_exact").cast("double"), 6))
      .select(col(keyCol), col("v_zero"), col("z_scaled"),
        col("n_exact"), col("est"), col("rel_err"))
      .orderBy(col(keyCol))
  }

  /** Per-key HLL register table `(key, bucket, rho)` — the MERGEABLE,
    * PERSISTABLE sketch state (union of corpora = pointwise register
    * max): written nightly per shard, it answers any future
    * distinct-count union without re-reading a byte of corpus
    * (q174's contract; the [[hllDistinct]] gate consumes it inline).
    * Only occupied buckets appear — absent rows are rho=0, the
    * convention [[hllEstimate]] reconstructs. */
  def hllRegisters(pairs: DataFrame, keyCol: String, itemCol: String,
      p: Int): DataFrame = {
    require(p >= 4 && p <= 14, s"HLL precision $p outside [4,14]")
    val m = 1 << p
    val maxBits = 60 - p                 // bits left in w after the bucket
    val h = TextFunctions.md5Int(col(itemCol), 15)
    // h is non-negative, m a power of two: bucket/rest via exact bit ops
    // (a double-typed `/` would lose bits above 2^53)
    val hashed = pairs.select(col(keyCol),
      pmod(h, lit(m.toLong)).as("bucket"),
      shiftright(h, p).as("w"))
    val withRho = hashed.withColumn("rho",
      when(col("w") === 0, lit(maxBits + 1))
        .otherwise(lit(maxBits + 1) - length(bin(col("w")))).cast("int"))
    withRho.groupBy(col(keyCol), col("bucket"))
      .agg(max(col("rho")).as("rho"))
  }

  /** Cardinality estimate from an [[hllRegisters]] table: the exact
    * 2^(maxBits+1)-scaled BIGINT indicator sum, then the alpha·m²/Z
    * ratio with the V-zero linear-counting branch in one fixed IEEE
    * sequence (shared with [[graft.functions.HllDistinctAgg]].finish
    * and the oracle SQL). */
  def hllEstimate(regs: DataFrame, keyCol: String, p: Int): DataFrame =
    hllEstimateKeys(regs, Seq(keyCol), p)

  /** [[hllEstimate]] grouped by a multi-column key — the set-algebra
    * consumers (q188's pairwise unions) key registers by (src_a,
    * src_b). */
  def hllEstimateKeys(regs: DataFrame, keyCols: Seq[String], p: Int)
      : DataFrame = {
    val m = 1 << p
    val maxBits = 60 - p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val scaleF = math.pow(2.0, (maxBits + 1).toDouble)   // exact in double
    regs.groupBy(keyCols.map(col): _*).agg(
        count(lit(1)).cast("long").as("nb"),
        sum(call_function("shiftleft", lit(1L),
          lit(maxBits + 1) - col("rho"))).as("z_regs"))
      .withColumn("v_zero", lit(m.toLong) - col("nb"))
      .withColumn("z_scaled",
        col("z_regs") + col("v_zero") * shiftleft(lit(1L), maxBits + 1))
      .withColumn("est_raw",
        lit(alpha) * lit(m.toDouble) * lit(m.toDouble) * lit(scaleF)
          / col("z_scaled").cast("double"))
      .withColumn("est_unrounded",
        when(col("est_raw") <= lit(2.5 * m) && col("v_zero") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v_zero").cast("double")))
          .otherwise(col("est_raw")))
      .select(keyCols.map(col) ++ Seq(col("v_zero"), col("z_scaled"),
        MysqlFunctions.oracleRound(col("est_unrounded"), 4).as("est")): _*)
  }

  /** Blocklist scan — the banned-term filtering stage of a web-corpus
    * pipeline, with the list itself DERIVED from the corpus so the gate
    * is self-contained: the top `k` terms by document frequency among
    * terms of length ≥ `minLen` (df desc, term asc — deterministic).
    * Per document: total blocklisted occurrences, distinct blocklisted
    * terms hit, and the policy action (`drop` ≥ 3 distinct hits,
    * `flag` ≥ 1, else `keep`) — the CCNet/RefinedWeb-style tiered
    * policy rather than a binary filter.
    *
    * Scale shape: df is one map-side-combined term count; the k-row
    * list broadcast-joins against the token stream (Spark plans a
    * BroadcastHashJoin — no shuffle of the corpus), and the per-doc
    * rollup shuffles only the HIT tokens, a k-term-bounded subset.
    * Documents with zero hits never leave the map side — the final
    * left join reattaches them with `keep`. In production the list is
    * a provided table; the derivation here stands in for the lookup.
    */
  def blocklistScan(df: DataFrame, toks: DataFrame, idCol: String,
      k: Int, minLen: Int): DataFrame = {
    val dfreq = toks.select(col(idCol), col("term")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
      .where(length(col("term")) >= minLen)
      .orderBy(col("df").desc, col("term").asc).limit(k)
      .select(col("term"))
    val hits = toks.join(broadcast(dfreq), Seq("term"))
      .groupBy(col(idCol)).agg(
        count(lit(1)).cast("long").as("n_hits"),
        countDistinct(col("term")).as("n_hit_terms"))
    df.select(col(idCol)).join(hits, Seq(idCol), "left")
      .na.fill(0L, Seq("n_hits", "n_hit_terms"))
      .withColumn("action",
        when(col("n_hit_terms") >= 3, lit("drop"))
          .when(col("n_hit_terms") >= 1, lit("flag"))
          .otherwise(lit("keep")))
      .orderBy(col(idCol))
  }

  /** Character-entropy quality signal — Shannon entropy (bits) of the
    * document's letter distribution over the fixed a–z alphabet, the
    * cheap gibberish/templating detector that needs no model (low
    * entropy ⇒ repeated few letters ⇒ boilerplate or degenerate text).
    *
    * Per-letter counts come from 26 `length(text) − length(replace())`
    * probes — a pure projection, NO explode: the naive per-char
    * explode+groupBy shape multiplies the corpus ~500× through a
    * (doc, char) shuffle, while a bounded alphabet makes entropy
    * map-only (zero shuffles; one WholeStageCodegen span — the q172
    * discipline). Entropy itself follows the fixed-point contract:
    * each c·ln(c) term quantized to an exact `floor(·10⁶+.5)` long and
    * summed in fixed a–z order, so the sum is order-independent and
    * engine-exact; only the final `ln(T) − S/10⁶/T)/ln 2` ratio runs
    * in doubles, in an identical IEEE sequence both sides.
    */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = lower(col(textCol))
    val cnts = array(('a' to 'z').map { ch =>
      (length(t) - length(regexp_replace(t, ch.toString, ""))).cast("long")
    }: _*)
    val base = df.select(col(idCol), cnts.as("cnts"))
      .withColumn("n_letters", aggregate(col("cnts"), lit(0L), (a, x) => a + x))
      .withColumn("n_distinct_letters",
        size(filter(col("cnts"), x => x > 0)).cast("long"))
      .withColumn("s_fp", aggregate(col("cnts"), lit(0L), (a, x) =>
        a + when(x > 0,
          floor(x.cast("double") * log(x.cast("double")) * lit(1e6) + lit(0.5))
            .cast("long")).otherwise(lit(0L))))
      .withColumn("max_cnt", coalesce(array_max(col("cnts")), lit(0L)))
    base.select(col(idCol), col("n_letters"), col("n_distinct_letters"),
        when(col("n_letters") === 0, lit(0.0))
          .otherwise(MysqlFunctions.oracleRound(
            (log(col("n_letters").cast("double"))
              - col("s_fp").cast("double") / lit(1e6)
                / col("n_letters").cast("double"))
              / log(lit(2.0)), 6)).as("entropy_bits"),
        when(col("n_letters") === 0, lit(0.0))
          .otherwise(MysqlFunctions.oracleRound(
            col("max_cnt").cast("double") / col("n_letters").cast("double"),
            6)).as("max_letter_frac"))
      .orderBy(col(idCol))
  }

  /** Gopher-style quality rules (Rae et al. 2021 §A1.1, the
    * MassiveText filter family) — each rule a deterministic predicate
    * over one document, all five evaluated in a single map-only
    * projection with ZERO shuffles: quality filtering at 100 TB is
    * embarrassingly parallel and the plan must say so (one
    * WholeStageCodegen span over the scan; verified in the spec).
    *
    * Ratio rules compare via integer cross-multiplication
    * (`mean ≥ 3 ⇔ sum ≥ 3n`), so every predicate is EXACT integer
    * arithmetic — no float thresholds to drift between engines. The
    * top-term dominance count (repetition signal) is a bounded-
    * vocabulary higher-order-function fold over the token array —
    * O(distinct·len) per row, map-side, instead of the explode +
    * (doc,term) shuffle a naive mode computation would cost.
    *
    * Rules: r1 word count in [minWords,maxWords]; r2 mean word length
    * in [3,10]; r3 contains a stopword; r4 top-term fraction ≤ 1/4;
    * r5 alphabetic-word fraction ≥ 4/5. keep = all five.
    */
  /** Interpolated Kneser-Ney bigram language model (Kneser & Ney,
    * ICASSP'95; the Chen & Goodman '98 interpolated form with a single
    * fixed discount) scored over the fit corpus itself — the
    * distributional upgrade of the add-k model ([[bigramLogProbFromArrs]],
    * q118): probability mass freed by discounting observed bigram counts
    * is redistributed by CONTINUATION counts (in how many distinct
    * contexts does w2 appear), not raw frequency, which is what makes KN
    * the standard n-gram smoother for perplexity filtering.
    *
    *   P(w2|w1) = max(c(w1,w2)−d, 0)/c(w1·)
    *            + d·N1+(w1·)/c(w1·) · N1+(·w2)/|bigram types|
    *
    * All counts are integers (exact in double), the discount is the
    * classic 0.75 (exactly representable), and the per-doc average is
    * 4-dp-pinned — so the SQL oracle restates the formula verbatim.
    *
    * Scale shape: ONE bigram explode of the token arrays → the count
    * tables are all derived from the (w1,w2) aggregate (vocabulary²-
    * bounded, in practice bigram-type-sized): head totals and head
    * fan-out by grouping it on w1, continuation counts on w2, the type
    * total as a broadcast 1-row aggregate. Scoring joins the per-doc
    * bigram stream against those model tables on (w1,w2)/w1/w2 —
    * shuffle-keyed joins, nothing corpus² and nothing collected. On the
    * fit corpus every pair/head/tail is present, so inner joins are
    * total (the oracle uses the same joins). */
  def knBigramLogProb(df: DataFrame, arrs: DataFrame, idCol: String,
      discount: Double = 0.75): DataFrame = {
    val bg = docBigrams(arrs, idCol)
    val cab = bg.groupBy("w1", "w2").agg(count(lit(1)).as("__cab"))
    val head = cab.groupBy("w1")
      .agg(sum(col("__cab")).as("__cw1"),
        count(lit(1)).as("__n1h"))
    val cont = cab.groupBy("w2").agg(count(lit(1)).as("__n1c"))
    val types = cab.agg(count(lit(1)).cast("double").as("__dtot"))
    val perDoc = bg
      .join(cab, Seq("w1", "w2"))
      .join(head, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn("__l", log10(
        (col("__cab") - lit(discount)) / col("__cw1") +
          lit(discount) * col("__n1h") / col("__cw1") *
            (col("__n1c") / col("__dtot"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        MysqlFunctions.oracleRound(avg(col("__l")), 4).as("avg_logp"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
  }

  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Int, maxWords: Int): DataFrame = {
    val a = TextFunctions.tokens(lower(col(textCol)))
    val base = df.select(col(idCol), a.as("a"))
      .withColumn("n_words", size(col("a")).cast("long"))
      .withColumn("sum_len", aggregate(col("a"), lit(0L),
        (acc, x) => acc + length(x).cast("long")))
      .withColumn("mode_cnt", coalesce(array_max(transform(
        array_distinct(col("a")),
        t => size(filter(col("a"), x => x === t)).cast("long"))), lit(0L)))
      .withColumn("n_alpha", size(filter(col("a"),
        x => x.rlike("^[a-z]+$"))).cast("long"))
    base.select(col(idCol), col("n_words"), col("sum_len"), col("mode_cnt"),
        (col("n_words") >= minWords && col("n_words") <= maxWords).as("r1_count"),
        (col("sum_len") >= lit(3L) * col("n_words") &&
          col("sum_len") <= lit(10L) * col("n_words")).as("r2_wordlen"),
        (array_contains(col("a"), "the") || array_contains(col("a"), "a"))
          .as("r3_stopword"),
        (col("mode_cnt") * 4 <= col("n_words")).as("r4_dominance"),
        (col("n_alpha") * 5 >= col("n_words") * 4).as("r5_alpha"))
      .withColumn("keep", col("r1_count") && col("r2_wordlen") &&
        col("r3_stopword") && col("r4_dominance") && col("r5_alpha"))
      .orderBy(col(idCol))
  }
}
