package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the training-data pipeline, expressed as
  * builtin-function compositions (codegen'd, UDF-free) so they run
  * inside WholeStageCodegen at any scale.
  */
object TextFunctions {

  /** The `n`-token windows of token-array column `toks`, one element
    * per window: `body` is SQL over the window's 0-based start `i`.
    * Empty under `n` tokens. Pass a PROJECTED token column — a split()
    * inside the lambda is not hoisted by Catalyst (O(words²)). */
  private[graft] def tokenWindows(toks: String, n: Int, body: String): Column = expr(
    s"""CASE WHEN size($toks) < $n THEN array()
       |ELSE transform(sequence(0, size($toks) - $n),
       |  i -> $body) END""".stripMargin)

  /** SQL for the word `n`-gram starting at `i`: the window's tokens
    * joined by one space (a [[tokenWindows]] body). */
  private[graft] def gramSql(toks: String, n: Int): String =
    s"concat_ws(' ', slice($toks, i + 1, $n))"

  /** The word `n`-grams of token-array column `toks`, in order. */
  private[graft] def wordGrams(toks: String, n: Int): Column =
    tokenWindows(toks, n, gramSql(toks, n))

  /** xxhash64 of each distinct shingle — dedup math downstream moves
    * 8-byte hashes, never document bodies. */
  def shingleHashes(text: String, k: Int): Column = expr(
    s"""CASE WHEN char_length($text) < $k THEN array()
       |ELSE array_distinct(transform(
       |  sequence(0, char_length($text) - $k),
       |  i -> xxhash64(substring($text, i + 1, $k)))) END""".stripMargin)

  /** Count of tokens that appear in `markers`. */
  def markerCount(text: String, markers: Seq[String]): Column = {
    val set = markers.map(m => s"'$m'").mkString(", ")
    expr(s"size(filter(split($text, ' '), t -> t IN ($set)))")
  }
}
