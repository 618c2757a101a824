package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** The BPE merge loop: its driver rounds against the same rounds stated
  * as SQL, and the end of the loop when the argmax runs out (a round that
  * finds no adjacent symbol pair left ends the loop, with the merges
  * learned so far and an empty dict).
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

  test("driver merges equal the SQL replace chain on tied and overlapping pairs") {
    // random words over a three-letter alphabet, each beside its mirror
    // with a and b swapped at the same count, so top counts tie; and runs
    // of one letter, whose pairs overlap
    val rng = new scala.util.Random(5)
    val mirror = (w: String) => w.map { case 'a' => 'b'; case 'b' => 'a'; case c => c }
    val ws = Seq.fill(40)(Seq.fill(1 + rng.nextInt(6))("abc"(rng.nextInt(3))).mkString)
    val counts = (ws.map(w => w -> (1L + rng.nextInt(4))) ++
      Seq("aaaa" -> 9L, "bbbbb" -> 9L, "ccc" -> 2L)).toMap
    val words = counts.toSeq.flatMap { case (w, n) => Seq(w -> n, mirror(w) -> n) }
      .distinct.groupBy(_._1).map(_._2.head).toSeq
    val (merges, out) = TextOps.bpeMerges(dict(words: _*))

    // each round in SQL: pair counts by groupBy, argmax by sort, merge by
    // `replace`
    var sqlDict = dict(words: _*)
    var tied, overlapped = 0
    val expected = (0 until TextOps.BpeRounds).map { r =>
      val ranked = sqlDict
        .select(split(trim(col("spaced")), " ").as("l"), col("wc"))
        .filter(size(col("l")) > 1)
        .select(explode(expr(
          "zip_with(slice(l, 1, size(l) - 1), slice(l, 2, size(l) - 1), (x, y) -> x || ' ' || y)"))
          .as("pair"), col("wc"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("pair")).as[(String, Long)].take(2)
      val (pair, n) = ranked.head
      if (ranked.length > 1 && ranked(1)._2 == n) tied += 1
      val Array(x, y) = pair.split(" ")
      if (x == y && sqlDict.as[(String, String, Long)].collect()
          .exists(_._2.contains(s" $x $x $x "))) overlapped += 1
      sqlDict = sqlDict.withColumn("spaced", replace(col("spaced"),
        lit(s" $pair "), lit(s" ${pair.replace(" ", "")} ")))
      (r, pair, n)
    }
    assert(tied > 0, "no round's top count was tied")
    assert(overlapped > 0, "no merged pair overlapped itself")
    assert(merges.as[(Int, String, Long)].collect().toSeq == expected)
    assert(out.as[(String, String, Long)].collect().sorted.toSeq ==
      sqlDict.as[(String, String, Long)].collect().sorted.toSeq)
  }
}
