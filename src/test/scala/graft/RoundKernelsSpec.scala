package graft

import graft.functions.{NearestCentroid, RoundKernels, SimFunctions}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The round kernels of emb_kmeans and BPE against the DataFrame
  * formulations they replaced: the interpreted higher-order-function
  * nearest centroid with a posexplode + groupBy(cid, pos) Lloyd update,
  * and `reduceByKey` pair counts with a (count desc, pair asc) ranking.
  * Each runs at 1 and 5 partitions.
  */
class RoundKernelsSpec extends SparkSpecBase {
  import spark.implicits._

  private val dim = 6

  /** Random vectors in [-1, 1) plus forced ties: vectors at the midpoint
    * of centroids 0 and 1, and a group near centroid 2, whose twin 5 it
    * ties on every vector, so that cluster 5 empties in the first round.
    */
  private val seedCents: Seq[(Int, Seq[Double])] = Seq(
    0 -> Seq.fill(dim)(0.0), 1 -> Seq.fill(dim)(1.0),
    2 -> Seq.fill(dim)(-3.0), 5 -> Seq.fill(dim)(-3.0))

  private val vectors: Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(17)
    val random = Seq.fill(60)(Array.fill(dim)(rng.nextFloat() * 2 - 1))
    val mid = Seq.fill(5)(Array.fill(dim)(0.5f))
    val far = Seq.fill(7)(Array.fill(dim)(-3.0f + rng.nextFloat() / 8))
    (random ++ mid ++ far).zipWithIndex.map { case (v, i) => (i.toLong, v) }
  }

  private def frame(parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
        vectors.map { case (id, v) => Row(id, v.toSeq) }, parts),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))

  // the formulation emb_kmeans used before its round kernel
  private def hofNearest(cents: Seq[(Int, Seq[Double])]): Column =
    array_min(transform(typedLit(cents), c => struct(
      aggregate(zip_with(col("embedding"), c.getField("_2"), (x, m) =>
        floor((x.cast(DoubleType) - m) * (x.cast(DoubleType) - m)
          * lit(1073741824.0)).cast(LongType)),
        lit(0L), (acc, x) => acc + x),
      c.getField("_1"))))
      .cast("struct<dist_q:bigint,cid:int>")

  private def hofRound(e: DataFrame, cents: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double])] =
    e.select(col("embedding"), hofNearest(cents).getField("cid").as("cid"))
      .select(col("cid"), posexplode(col("embedding")))
      .groupBy(col("cid"), col("pos"))
      .agg((sum(floor(col("col").cast(DoubleType) * 16384.0).cast(LongType))
        .cast(DoubleType) / (lit(16384.0) * count(lit(1)))).as("m"))
      .collect().toSeq.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (c, rs) => (c, rs.sortBy(_.getInt(1)).map(_.getDouble(2))) }

  private def kernelRound(e: DataFrame, cents: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double])] = {
    val (cids, means) = RoundKernels.lloydRound(
      e.select(col("embedding")).queryExecution.toRdd, isFloat = true,
      cents.map(_._1).toArray, cents.map(_._2.toArray).toArray)
    cids.toSeq.zip(means.map(_.toSeq).toSeq)
  }

  // bitwise, so -0.0 and 0.0 differ
  private def bits(cs: Seq[(Int, Seq[Double])]) =
    cs.map { case (c, m) => (c, m.map(java.lang.Double.doubleToLongBits)) }

  private def onParts(parts: Int) =
    if (parts == 1) "1 partition" else s"$parts partitions"

  for (parts <- Seq(1, 5)) {
    test(s"Lloyd rounds equal the HOF + groupBy(cid, pos) rounds, ties and an emptied cluster included (${onParts(parts)})") {
      val e = frame(parts)
      var hof = seedCents
      var kernel = seedCents
      for (r <- 1 to 3) {
        hof = hofRound(e, hof)
        kernel = kernelRound(e, kernel)
        assert(bits(kernel) == bits(hof), s"round $r")
        if (r == 1) assert(hof.map(_._1) == Seq(0, 1, 2), "cluster 5 empties")
      }
    }

    test(s"the final assignment equals the HOF nearest centroid, ties to the lowest cid (${onParts(parts)})") {
      val e = frame(parts)
      val cents = kernelRound(e, seedCents)
      for (cs <- Seq(seedCents, cents)) {
        def rows(n: Column) = e.select(col("vec_id"), n.as("n"))
          .select(col("vec_id"), col("n.dist_q"), col("n.cid"))
          .orderBy("vec_id").as[(Long, Long, Int)].collect().toSeq
        val got = rows(SimFunctions.nearestCentroid(col("embedding"),
          cs.map(_._1), cs.map(_._2)))
        assert(got == rows(hofNearest(cs)))
        if (cs == seedCents) {
          // the midpoints tie centroids 0 and 1, the far group 2 and 5
          assert(got.filter(_._1 >= 60).map(_._3).toSet == Set(0, 2))
        }
      }
    }
  }

  test("the nearest-centroid expression evaluates as its generated code does; a null or short vector gives NULL") {
    val means = seedCents.map(_._2)
    val expr = NearestCentroid(BoundReference(0, ArrayType(FloatType), nullable = true),
      seedCents.map(_._1), means)
    def eval(v: Seq[Float]): Any =
      expr.eval(InternalRow(if (v == null) null else new GenericArrayData(v.toArray[Any])))
    val mid = Seq.fill(dim)(0.5f)
    val generated = Seq(mid).toDF("embedding")
      .select(SimFunctions.nearestCentroid(col("embedding"), seedCents.map(_._1), means)
        .as("n")).select("n.dist_q", "n.cid").as[(Long, Int)].head()
    val row = eval(mid).asInstanceOf[InternalRow]
    assert((row.getLong(0), row.getInt(1)) == generated)
    assert(generated == ((0.25 * 1073741824.0).toLong * dim, 0))
    assert(eval(null) == null)
    assert(eval(Seq.fill(dim - 1)(0.5f)) == null)
    val short = Seq(Some(Seq.fill(dim - 1)(0.5f)), None).toDF("embedding")
      .select(SimFunctions.nearestCentroid(col("embedding"), seedCents.map(_._1), means))
      .collect()
    assert(short.forall(_.isNullAt(0)))
  }

  test("a Lloyd round fails on a vector that is null or of another length") {
    val cids = seedCents.map(_._1).toArray
    val cents = seedCents.map(_._2.toArray).toArray
    for (bad <- Seq(None, Some(Seq.fill(dim + 1)(0.5f)))) {
      val rows = (Seq(Some(Seq.fill(dim)(0.5f)), bad)).toDF("embedding")
        .queryExecution.toRdd
      val err = intercept[Exception](
        RoundKernels.lloydRound(rows, isFloat = true, cids, cents))
      assert(err.getMessage.contains(s"hold $dim elements"))
    }
  }

  /** Random words over a three-letter alphabet, spaced as BPE spells
    * them, with random counts, each beside its mirror with a and b
    * swapped: the first round's top count is tied.
    */
  private def words(parts: Int) = {
    val rng = new scala.util.Random(5)
    val ws = Seq.fill(40) {
      val w = Seq.fill(1 + rng.nextInt(6))("abc"(rng.nextInt(3))).mkString
      (" " + w.mkString(" ") + " ", 1L + rng.nextInt(4))
    }
    val mirror = ws.map { case (w, n) =>
      (w.map { case 'a' => 'b'; case 'b' => 'a'; case c => c }, n) }
    spark.sparkContext.parallelize(ws ++ mirror, parts)
  }

  private val ranking = Ordering.by[(String, Long), (Long, String)](p => (-p._2, p._1))

  for (parts <- Seq(1, 5)) {
    test(s"BPE pair counts equal reduceByKey and the argmax is the ranking's first pair, through 8 merges (${onParts(parts)})") {
      var ws = words(parts)
      var tiedRounds = 0
      for (r <- 0 until 8) {
        val counts = RoundKernels.pairCounts(ws)
        val expected = ws.flatMap { case (s, wc) =>
          val l = s.trim.split(" ")
          (1 until l.length).map(i => (l(i - 1) + " " + l(i), wc))
        }.reduceByKey(_ + _)
        assert(counts.toMap == expected.collect().toMap, s"round $r")
        val top = expected.takeOrdered(1)(ranking).headOption
        assert(RoundKernels.topPair(counts) == top, s"round $r")
        top.foreach { case (pair, n) =>
          if (counts.values.count(_ == n) > 1) tiedRounds += 1
          val merged = RoundKernels.merge(ws, pair)
          // the merge is SQL `replace`: non-overlapping, left to right
          val sql = ws.toDF("spaced", "wc").select(replace(col("spaced"),
              lit(s" $pair "), lit(s" ${pair.replace(" ", "")} ")), col("wc"))
            .as[(String, Long)].collect().toSeq
          assert(merged.collect().toSeq == sql, s"round $r")
          ws = merged
        }
      }
      assert(tiedRounds > 0, "no round's top count was tied")
    }
  }

  test("BPE argmax on count ties takes the smallest pair") {
    assert(RoundKernels.topPair(Map("b c" -> 4L, "a c" -> 4L, "c a" -> 4L, "a b" -> 3L))
      == Some("a c" -> 4L))
    assert(RoundKernels.topPair(Map.empty[String, Long]).isEmpty)
    val ws = spark.sparkContext.parallelize(Seq(" c d " -> 2L, " a b " -> 2L, " b a " -> 1L), 3)
    assert(RoundKernels.topPair(RoundKernels.pairCounts(ws)) == Some("a b" -> 2L))
    assert(RoundKernels.merge(spark.sparkContext.parallelize(Seq(" a b a b b " -> 1L)), "a b")
      .collect().toSeq == Seq(" ab a b b " -> 1L))
  }
}
