package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** The built-in compositions `Dedup` computed shingles, MinHash
  * signatures and winnow fingerprints with before its native kernels
  * (`expressions.WordShingles`, `expressions.MinHashSignature`,
  * `expressions.WinnowSelect`), kept as equivalence references: the
  * kernels must match them bit for bit on every input. */
object DedupReference {

  /** `array_distinct` over a `transform` lambda that slices and joins
    * the tokens at each position; short documents give the whole token
    * sequence. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextFunctions.tokens(text)
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", toks))))
  }

  /** Row form: `numHashes` `array_min(transform(...))` lambdas. */
  def minHashSigRow(shingles: Column, numHashes: Int): Column =
    array((0 until numHashes).map(i =>
      array_min(transform(shingles, sh =>
        pmod(TextFunctions.md5Int(sh, 8) * lit(2L * i + 1) + lit(i * 40503L),
          lit(2147483647L))))): _*)

  /** Batch form: explode every shingle of `(idCol, __sh)` and take
    * `numHashes` parallel `min` aggregates per id (behind a shuffle). */
  def minHashSigsFromSets(sets: DataFrame, idCol: String,
      numHashes: Int): DataFrame = {
    val based = sets.select(col(idCol), explode(col("__sh")).as("sh"))
      .withColumn("__base", TextFunctions.md5Int(col("sh"), 8))
    val minCols = (0 until numHashes).map(i =>
      min(pmod(col("__base") * lit(2L * i + 1) + lit(i * 40503L),
        lit(2147483647L))).as(s"h$i"))
    based.groupBy(col(idCol))
      .agg(minCols.head, minCols.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Winnow selection as a position explode, an md5 hash per
    * `gram`-char window and a rolling min over `window` positions: one
    * `(idCol, m)` row per distinct selected encoding
    * (hash·2^23 + 1-based position) of every document of at least
    * `gram` chars. */
  def winnowEncodings(df: DataFrame, idCol: String, textCol: String,
      gram: Int, window: Int): DataFrame =
    df.filter(length(col(textCol)) >= gram)
      .select(col(idCol), col(textCol),
        explode(sequence(lit(1), length(col(textCol)) - (gram - 1))).as("i"))
      .select(col(idCol), col("i"),
        (TextFunctions.md5Int(substr(col(textCol), col("i"), lit(gram)), 10)
          * lit(8388608L) + col("i")).as("enc"))
      .withColumn("m", min(col("enc")).over(
        Window.partitionBy(idCol).orderBy("i").rowsBetween(0, window - 1)))
      .select(col(idCol), col("m"))
      .distinct()

  /** `Dedup.winnowedDupPairs` for documents that fit one chunk, over
    * [[winnowEncodings]]: each selected encoding recovers its window
    * text, windows in more than `maxDf` documents are dropped, and
    * every pair of documents counts the windows it shares. */
  def winnowedDupPairs(df: DataFrame, idCol: String, textCol: String,
      gram: Int, window: Int, maxDf: Int): DataFrame = {
    val fp = winnowEncodings(df, idCol, textCol, gram, window)
      .join(df.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol).as("id"),
        substr(col(textCol), pmod(col("m"), lit(8388608L)).cast("int"),
          lit(gram)).as("win"))
      .distinct()
    val kept = fp.groupBy("win").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("win")
      .join(fp, "win")
    kept.select(col("win"), col("id").as("id_a"))
      .join(kept.select(col("win"), col("id").as("id_b")), "win")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
  }
}
