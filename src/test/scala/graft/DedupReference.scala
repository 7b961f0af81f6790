package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** The built-in compositions `Dedup` computed shingles and MinHash
  * signatures with before its native kernels
  * (`expressions.WordShingles`, `expressions.MinHashSignature`), kept
  * as equivalence references: the kernels must match them bit for bit
  * on every input. */
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
}
