package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-Pair-Encoding merge training, Spark-first.
  *
  * Classic BPE (Sennrich et al. 2016) trains on the WORD-TYPE grain:
  * the corpus collapses to (word, count) once, and every merge round
  * runs over that distinct-word frame — at 100 TB the fact table is
  * touched exactly once, and the iterated frame is |vocabulary| rows
  * (millions, not billions), partitioned by word hash with all pair
  * counting map-side combined. Per round the driver collects ONE row
  * (the argmax pair) — metadata, not data, the same contract as
  * [[graft.operators.Windows.globalCumSum]]'s offsets.
  *
  * Words are held as space-separated symbol strings (" l o w "). The
  * winning pair applies via [[applyMerge]] — TRUE greedy leftmost
  * non-overlapping merging (Sennrich's semantics): "a a a a" under
  * merge (a,a) becomes "aa aa", "a b a b" under (a,b) becomes
  * "ab ab". A naive padded `replace(w, " l r ", " lr ")` misses every
  * second consecutive occurrence because the shared separator space is
  * consumed by the first match; applyMerge doubles the separators
  * first so adjacent occurrences no longer share boundary characters
  * (see its scaladoc). Symbols never contain spaces (whitespace
  * tokenization upstream). Every round localCheckpoints
  * the word frame: the iterate is referenced twice per round (pair
  * count + rewrite) and an uncut lineage loop doubles the plan per
  * round (see Dedup.connectedComponents).
  *
  * All outputs are exact integers/strings with a total-order argmax
  * tie-break (count desc, then (l, r) lexicographic), so results are
  * engine-deterministic and hash-stable.
  */
object Bpe {

  final case class Merge(merge_rank: Long, l_sym: String, r_sym: String,
      pair_count: Long)

  /** One space-padded symbol string per word: "low" -> " l o w ". */
  def symbolized(words: DataFrame, wordCol: String, cntCol: String): DataFrame =
    words.select(
      concat(lit(" "), regexp_replace(col(wordCol), "(.)", "$1 ")).as("w"),
      col(cntCol).cast("long").as("cnt"))

  /** Train `rounds` merges; returns the learned merges in order plus the
    * final symbolized word frame (for downstream vocab/tokenize use).
    * The returned frame is localCheckpoint-pinned; callers that keep it
    * long-term should manage its release.
    */
  def trainMerges(words: DataFrame, wordCol: String, cntCol: String,
      rounds: Int): (Seq[Merge], DataFrame) = {
    var w = symbolized(words, wordCol, cntCol).localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var k = 1
    var exhausted = false
    while (k <= rounds && !exhausted) {
      val best = pairCounts(w)
        .orderBy(col("c").desc, col("l"), col("r")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val b = best(0)
        val (l, r, c) = (b.getString(0), b.getString(1), b.getLong(2))
        merges += Merge(k.toLong, l, r, c)
        val next = w.select(
          applyMerge(col("w"), l, r).as("w"),
          col("cnt")).localCheckpoint(true)
        org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(w)
        w = next
        k += 1
      }
    }
    (merges.toSeq, w)
  }

  /** Apply one merge (l, r) -> "lr" to a space-padded symbol string with
    * TRUE greedy leftmost non-overlapping semantics.
    *
    * Plain `replace(w, " l r ", " lr ")` is leftmost non-overlapping but
    * the padded pattern CONSUMES both boundary spaces, so back-to-back
    * occurrences lose their shared separator: " a a a a " -> " aa a a "
    * (one merge, not two) and " a b a b " -> " ab a b ". The classic fix:
    * double every space first, so each separator contributes one space
    * to its left occurrence and one to its right — then the same plain
    * replace of " l  r " with " lr " is EXACTLY greedy leftmost merging
    * (Java and DuckDB `replace` are both non-rescanning leftmost scans).
    * A final regexp collapse of space runs restores the canonical
    * single-space padded form. All three steps are engine-identical, so
    * the DuckDB oracle mirror (TextQueries.bpeCtes) stays exact.
    */
  def applyMerge(w: org.apache.spark.sql.Column, l: String,
      r: String): org.apache.spark.sql.Column =
    regexp_replace(
      replace(replace(w, lit(" "), lit("  ")),
        lit(s" $l  $r "), lit(s" $l$r ")),
      " +", " ")

  /** Weighted adjacent-pair counts of a symbolized word frame: every
    * adjacent position counts (including overlaps — "a a a" contributes
    * (a,a) twice), weighted by the word count. One (l,r)-keyed shuffle
    * of an already-collapsed frame.
    */
  def pairCounts(symWords: DataFrame): DataFrame =
    symWords
      .select(col("cnt"), expr("filter(split(w, ' '), x -> x != '')").as("syms"))
      .filter(size(col("syms")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, size(syms) - 1)," +
          " i -> struct(syms[i-1] AS l, syms[i] AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("c"))

  /** Per-symbol corpus frequencies of a symbolized word frame. */
  def symbolCounts(symWords: DataFrame): DataFrame =
    symWords
      .select(col("cnt"),
        explode(expr("filter(split(w, ' '), x -> x != '')")).as("sym"))
      .groupBy(col("sym")).agg(sum(col("cnt")).as("n_tok"))
}
