package graft

import graft.functions.{NearestCentroid, RoundKernels, SimFunctions}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftops.GraftInternal.rebase
import org.apache.spark.sql.types._

/** The round kernels of graft's driver-state loops against the DataFrame
  * formulations they replaced: the interpreted higher-order-function
  * nearest centroid with a posexplode + groupBy(cid, pos) Lloyd update
  * (emb_kmeans), emb_pq_topk's broadcast-codebook Lloyd rounds over
  * subspaces, emb_kcenter_sample's crossJoin + running-minimum rounds,
  * emb_pca_power's join/agg power iteration, and `reduceByKey` pair
  * counts with a (count desc, pair asc) ranking (BPE). Each RDD round
  * runs at 1 and 5 partitions.
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

  // emb_kmeans' policy: a cluster that ends up empty is dropped
  private def kernelRound(e: DataFrame, cents: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double])] =
    cents.map(_._1).zip(RoundKernels.lloydRound(
        e.select(col("embedding")).queryExecution.toRdd, isFloat = true, 1,
        cents.map(_._2.toArray).toArray))
      .collect { case (cid, Array(Some(mean))) => (cid, mean.toSeq) }

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
    val cents = seedCents.map(_._2.toArray).toArray
    for (bad <- Seq(None, Some(Seq.fill(dim + 1)(0.5f)))) {
      val rows = (Seq(Some(Seq.fill(dim)(0.5f)), bad)).toDF("embedding")
        .queryExecution.toRdd
      val err = intercept[Exception](
        RoundKernels.lloydRound(rows, isFloat = true, 1, cents))
      assert(err.getMessage.contains(s"hold $dim elements"))
    }
  }

  // emb_pq_topk's codebook round before its kernel: each subvector joins
  // the broadcast codebook, takes its least (d2, code), and each (sub,
  // code) takes the quantized mean of its subvectors; a code that won
  // nothing keeps its centroid (the left join + coalesce)
  private def pqRoundDf(e: DataFrame, nSub: Int,
      cents: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double])] = {
    val sd = dim / nSub
    val sub = e.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${nSub - 1}), b -> slice(embedding, b*$sd + 1, $sd))")))
      .toDF("vec_id", "sub_id", "sub_vec")
    val codebook = (for {
      sid <- 0 until nSub
      (code, m) <- cents
    } yield (sid, code, m.slice(sid * sd, sid * sd + sd))).toDF("sub_id", "code", "centroid")
    val dist2 = aggregate(
      zip_with(col("sub_vec"), col("centroid"), (x, c) =>
        floor((x.cast(DoubleType) - c) * (x.cast(DoubleType) - c)
          * lit(1073741824.0)).cast(LongType)),
      lit(0L), (acc, x) => acc + x)
    val upd = sub.join(broadcast(codebook), Seq("sub_id"))
      .withColumn("d2", dist2)
      .groupBy(col("vec_id"), col("sub_id"))
      .agg(min(struct(col("d2"), col("code"), col("sub_vec"))).as("m"))
      .select(col("sub_id"), col("m.code").as("code"), posexplode(col("m.sub_vec")))
      .toDF("sub_id", "code", "pos", "v")
      .groupBy(col("sub_id"), col("code"), col("pos"))
      .agg((sum(floor(col("v").cast(DoubleType) * 16384.0).cast(LongType))
        .cast(DoubleType) / (lit(16384.0) * count(lit(1)))).as("m"))
      .groupBy(col("sub_id"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        st => st.getField("m")).as("c2"))
    val next = codebook.join(upd, Seq("sub_id", "code"), "left")
      .select(col("sub_id"), col("code"), coalesce(col("c2"), col("centroid")))
      .as[(Int, Int, Seq[Double])].collect()
    cents.map { case (code, _) =>
      (code, next.filter(_._2 == code).sortBy(_._1).flatMap(_._3).toSeq) }
  }

  // emb_pq_topk's policy: a code that wins nothing in a subspace keeps
  // its centroid there
  private def pqRound(e: DataFrame, nSub: Int,
      cents: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double])] = {
    val sd = dim / nSub
    val next = RoundKernels.lloydRound(e.select(col("embedding")).queryExecution.toRdd,
      isFloat = true, nSub, cents.map(_._2.toArray).toArray)
    cents.zip(next).map { case ((code, m), upd) =>
      (code, (0 until nSub).flatMap(s => upd(s).map(_.toSeq)
        .getOrElse(m.slice(s * sd, s * sd + sd)))) }
  }

  for (parts <- Seq(1, 5); nSub <- Seq(1, 2)) {
    test(s"PQ codebook rounds over $nSub subspace(s) equal the broadcast-codebook rounds; an emptied code keeps its centroid (${onParts(parts)})") {
      val e = frame(parts)
      var df = seedCents
      var kernel = seedCents
      for (r <- 1 to 3) {
        val rdd = e.select(col("embedding")).queryExecution.toRdd
        if (r == 1) {
          // code 5 ties code 2 on every subvector: it wins nothing
          val won = RoundKernels.lloydRound(rdd, isFloat = true, nSub,
            kernel.map(_._2.toArray).toArray)
          assert(won(3).forall(_.isEmpty) && won(2).forall(_.isDefined))
        }
        df = pqRoundDf(e, nSub, df)
        kernel = pqRound(e, nSub, kernel)
        assert(bits(kernel) == bits(df), s"round $r")
        if (r == 1) assert(kernel(3) == seedCents(3), "code 5 keeps its seed")
      }
    }
  }

  /** k-center vectors: random ones in [-1/2, 1/2), a group at +3/4 and
    * its mirror at −3/4, both equally far from the zero seed, and an
    * exact copy of each group's lowest id placed before it, at a higher
    * id, so that every pick is tied and the lowest vec_id must win
    * wherever the rows sit.
    */
  private def kcenterFrame(parts: Int): DataFrame = {
    val rng = new scala.util.Random(23)
    val random = Seq.tabulate(30)(i => (i.toLong + 1, Seq.fill(dim)(rng.nextFloat() - 0.5f)))
    val groups = for {
      (sign, base) <- Seq((1f, 40L), (-1f, 50L))
      i <- 0 until 3
    } yield (base + i, Seq.tabulate(dim)(c => sign * (0.75f - c * i / 64f)))
    val copies = groups.filter(_._1 % 10 == 0).map { case (id, v) => (id + 9, v) }
    val rows = (0L, Seq.fill(dim)(0f)) +: (copies ++ random ++ groups.reverse)
    spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (id, v) => Row(id, v) }, parts),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
  }

  // emb_kcenter_sample's rounds before its kernel: a running minimum of
  // d2 per vector, the argmax by max(struct(d2, -vec_id)), and a join to
  // fetch the pick's vector
  private def kcenterDf(e0: DataFrame, rounds: Int): Seq[(Long, Long)] = {
    val e = e0.withColumn("nq", SimFunctions.qdotLong(col("embedding"), col("embedding")))
    def d2To(sel: DataFrame): DataFrame =
      e.crossJoin(broadcast(sel))
        .withColumn("d2", col("nq") + col("sel_nq")
          - lit(2L) * SimFunctions.qdotLong(col("embedding"), col("sel_emb")))
        .select(col("vec_id"), col("d2"))
    val seed = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("sel_id"), col("embedding").as("sel_emb"), col("nq").as("sel_nq"))
    var md = rebase(d2To(seed))
    (1 to rounds).map { _ =>
      val pick = md
        .agg(max(struct(col("d2").as("d2"), (-col("vec_id")).as("nv"))).as("m"))
        .select((-col("m.nv")).as("sel_id"), col("m.d2").as("min_d2"))
      val sel = rebase(pick.join(e, pick("sel_id") === e("vec_id"))
        .select(col("sel_id"), col("embedding").as("sel_emb"), col("nq").as("sel_nq"),
          col("min_d2")))
      md = rebase(md.as("m").join(d2To(sel.drop("min_d2")).as("n"), "vec_id")
        .select(col("vec_id"), least(col("m.d2"), col("n.d2")).as("d2")))
      sel.select(col("sel_id"), col("min_d2")).as[(Long, Long)].head()
    }
  }

  for (parts <- Seq(1, 5)) {
    test(s"k-center rounds equal the crossJoin + running-minimum rounds; equal d2 goes to the lowest vec_id (${onParts(parts)})") {
      val e = kcenterFrame(parts)
      val rows = e.select(col("vec_id"), col("embedding")).queryExecution.toRdd
      val seed = Array.fill(dim)(0.0)
      val picks = (1 to 7).foldLeft(Vector((0L, 0L, seed))) { (ps, _) =>
        ps :+ RoundKernels.farthest(rows, isFloat = true, ps.map(_._3).toArray)
      }.tail
      assert(picks.map(p => (p._1, p._2)) == kcenterDf(e, 7))
      // the +3/4 group's 40 and its copy 49 tie; then the mirror's 50 and 59
      assert(picks.take(2).map(_._1) == Seq(40L, 50L))
      val vecs = e.as[(Long, Seq[Float])].collect().toMap
      picks.foreach { case (id, _, v) => assert(v.toSeq == vecs(id).map(_.toDouble)) }
    }
  }

  test("a k-center round fails on a vector that is null or of another length") {
    for (bad <- Seq(None, Some(Seq.fill(dim + 1)(0.5f)))) {
      val rows = Seq((0L, Some(Seq.fill(dim)(0.5f))), (1L, bad)).toDF("vec_id", "embedding")
        .queryExecution.toRdd
      val err = intercept[Exception](
        RoundKernels.farthest(rows, isFloat = true, Array(Array.fill(dim)(0.0))))
      assert(err.getMessage.contains(s"hold $dim elements"))
    }
  }

  /** A symmetric Gram matrix of `n` random vectors, its cells rounded to
    * 6 decimals as emb_pca_power rounds the collected fold.
    */
  private def gram(n: Int): Array[Array[Double]] = {
    val rng = new scala.util.Random(31)
    val xs = Seq.fill(n)(Array.fill(dim)(rng.nextFloat() * 2 - 1))
    Array.tabulate(dim, dim)((i, j) => RoundKernels.roundHalfUp(
      xs.map(x => Math.floor(x(i).toDouble * x(j) * 67108864.0).toLong).sum / 67108864.0, 6))
  }

  test("the power iteration and eigenvalue equal emb_pca_power's join/agg rounds") {
    val q30 = 1073741824.0
    val g = gram(40)
    val gDf = (for (i <- 0 until dim; j <- 0 until dim) yield (i.toLong, j.toLong, g(i)(j)))
      .toDF("i", "j", "gram")
    def wOf(v: DataFrame): DataFrame = gDf.join(broadcast(v), Seq("j"))
      .groupBy(col("i"))
      .agg(sum(floor(col("gram") * col("vj") * q30).cast(LongType)).as("qw"))
      .select(col("i"), (col("qw").cast(DoubleType) / q30).as("w"))
    var vDf = (0 until dim).map(j => (j.toLong, 0.125)).toDF("j", "vj")
    var v = Array.fill(dim)(0.125)
    for (r <- 1 to 8) {
      val w = wOf(vDf)
      val n = w.agg(sum(floor(col("w") * col("w") * q30).cast(LongType)).as("nq"))
      vDf = rebase(w.crossJoin(broadcast(n)).select(col("i").as("j"),
        round(col("w") / sqrt(col("nq").cast(DoubleType) / q30), 9).as("vj")))
      v = RoundKernels.powerStep(g, v)
      val expected = vDf.orderBy("j").select("vj").as[Double].collect()
      assert(v.map(java.lang.Double.doubleToLongBits).toSeq ==
        expected.map(java.lang.Double.doubleToLongBits).toSeq, s"step $r")
    }
    val wFin = wOf(vDf).select(col("i").as("j"), col("w"))
    val lam = vDf.join(broadcast(wFin), Seq("j"))
      .agg(sum(floor(col("vj") * col("w") * q30).cast(LongType)).as("ql"))
      .select(round(col("ql").cast(DoubleType) / q30, 6)).as[Double].head()
    assert(java.lang.Double.doubleToLongBits(RoundKernels.eigenvalue(g, v)) ==
      java.lang.Double.doubleToLongBits(lam))
  }

  test("roundHalfUp equals Spark's round on a DOUBLE, halfway values of either sign included") {
    val rng = new scala.util.Random(41)
    // halfway between two 9- or 6-decimal values in decimal, whatever
    // their binary neighbours are
    val halfway = Seq(0.1234567895, 5e-10, 1.0000000005, 0.0000015, 12.3456785,
      0.9999999995, 3.14159265e-3 + 5e-12)
    val xs = (halfway ++ halfway.map(-_) ++ Seq(0.0, -0.0, 1e-12, -1e-12) ++
      Seq.fill(200)((rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(6) - 2)))
    // a local relation's projection is evaluated while optimizing, an
    // RDD's in generated code
    for (scale <- Seq(6, 9); (how, df) <- Seq("evaluated" -> xs.toDF("x"),
        "generated" -> spark.sparkContext.parallelize(xs, 3).toDF("x"))) {
      val rounded = df.select(round(col("x"), scale)).as[Double].collect()
      val ours = xs.map(RoundKernels.roundHalfUp(_, scale))
      assert(ours.map(java.lang.Double.doubleToLongBits) ==
        rounded.toSeq.map(java.lang.Double.doubleToLongBits), s"scale $scale, $how")
    }
    // HALF_UP on the decimal form: away from zero at the midpoint
    assert(RoundKernels.roundHalfUp(0.1234567895, 9) == 0.12345679)
    assert(RoundKernels.roundHalfUp(-0.1234567895, 9) == -0.12345679)
    assert(RoundKernels.roundHalfUp(-5e-10, 9) == -1e-9)
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
      // the kernels read the dict as the driver collects it; the oracle
      // counts and merges it where it lies, in `parts` partitions
      var ws = words(parts)
      var tiedRounds = 0
      for (r <- 0 until 8) {
        val counts = RoundKernels.pairCounts(ws.collect().toSeq)
        val expected = ws.flatMap { case (s, wc) =>
          val l = s.trim.split(" ")
          (1 until l.length).map(i => (l(i - 1) + " " + l(i), wc))
        }.reduceByKey(_ + _)
        assert(counts == expected.collect().toMap, s"round $r")
        val top = expected.takeOrdered(1)(ranking).headOption
        assert(RoundKernels.topPair(counts) == top, s"round $r")
        top.foreach { case (pair, n) =>
          if (counts.values.count(_ == n) > 1) tiedRounds += 1
          val (from, to) = RoundKernels.mergeOf(pair)
          val merged = ws.collect().toSeq.map { case (s, wc) => (s.replace(from, to), wc) }
          // the merge is SQL `replace`: non-overlapping, left to right
          val sql = ws.toDF("spaced", "wc").select(replace(col("spaced"),
              lit(s" $pair "), lit(s" ${pair.replace(" ", "")} ")), col("wc"))
            .as[(String, Long)].collect().toSeq
          assert(merged == sql, s"round $r")
          ws = spark.sparkContext.parallelize(merged, parts)
        }
      }
      assert(tiedRounds > 0, "no round's top count was tied")
    }
  }

  test("BPE argmax on count ties takes the smallest pair") {
    assert(RoundKernels.topPair(Map("b c" -> 4L, "a c" -> 4L, "c a" -> 4L, "a b" -> 3L))
      == Some("a c" -> 4L))
    assert(RoundKernels.topPair(Map.empty[String, Long]).isEmpty)
    val ws = Seq(" c d " -> 2L, " a b " -> 2L, " b a " -> 1L)
    assert(RoundKernels.topPair(RoundKernels.pairCounts(ws)) == Some("a b" -> 2L))
    val (from, to) = RoundKernels.mergeOf("a b")
    assert(" a b a b b ".replace(from, to) == " ab a b b ")
  }
}
