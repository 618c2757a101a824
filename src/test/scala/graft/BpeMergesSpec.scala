package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** The BPE merge loop when the argmax runs out: a round that finds no
  * adjacent symbol pair left ends the loop, with the merges learned so
  * far and an empty dict.
  */
class BpeMergesSpec extends SparkSpecBase {
  import spark.implicits._

  private def dict(words: (String, Long)*) =
    words.toDF("word", "wc").select(col("word"),
      concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("spaced"),
      col("wc"))

  test("a dict of one-symbol words learns no merge and leaves an empty dict") {
    val (merges, out) = TextOps.bpeMerges(dict("a" -> 3L, "b" -> 1L))
    assert(merges.collect().isEmpty)
    assert(merges.columns.toSeq == Seq("round", "pair", "pair_count"))
    assert(out.collect().isEmpty)
  }

  test("merges stop at the round whose argmax is empty") {
    val (merges, out) = TextOps.bpeMerges(dict("ab" -> 2L, "cd" -> 1L, "x" -> 5L))
    assert(merges.as[(Int, String, Long)].collect().toSeq ==
      Seq((0, "a b", 2L), (1, "c d", 1L)))
    assert(out.collect().isEmpty)
  }
}
