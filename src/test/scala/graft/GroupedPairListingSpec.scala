package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The group-compressed pair listings (doc_ngram_dedup_grouped,
  * doc_containment_grouped, doc_simhash_grouped, doc_minhash_lsh_grouped,
  * mm_phash_pairs_grouped) must be exactly expansion-equivalent to
  * their exploded twins: on any corpus, aggregating the exploded pair
  * listing by group must reproduce every compressed row's multiplicity
  * and scores, and vice versa. Checked on the sf corpus (all texts
  * unique — text compression is the identity) and on a 3× duplicated
  * corpus (the ScaleUp shape, where the exploded listing is 9× larger).
  */
class GroupedPairListingSpec extends SparkSpecBase {

  private def dupCorpus(k: Int): String = {
    val base = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val dup = (0 until k).map(i => base.withColumn("doc_id",
      col("doc_id") + lit(i * 1000000000L))).reduce(_ union _)
    val dir = java.nio.file.Files.createTempDirectory("groupedpair").toString
    dup.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** exploded listing rolled up to rep-group pairs (rep_a, rep_b,
    * n_pairs, scores...), for comparison with the compressed listing
    * (rep = doc_id % 10^9 on the dup corpus); each score must be one
    * value per group pair.
    */
  private def rollup(exploded: DataFrame, scoreCols: Seq[String]): Set[Seq[Any]] = {
    val ra = col("doc_a") % 1000000000L
    val rb = col("doc_b") % 1000000000L
    exploded
      .withColumn("rep_a", least(ra, rb))
      .withColumn("rep_b", greatest(ra, rb))
      .groupBy(col("rep_a"), col("rep_b"))
      .agg(count(lit(1)).as("n_pairs"), scoreCols.flatMap(c =>
        Seq(countDistinct(col(c)).as(s"d_$c"), min(col(c)).as(c))): _*)
      .collect().map { r =>
        scoreCols.foreach(c =>
          assert(r.getAs[Long](s"d_$c") == 1L,
            s"group pair has inconsistent $c: $r"))
        Seq[Any](r.getAs[Long]("rep_a"), r.getAs[Long]("rep_b"),
          r.getAs[Long]("n_pairs")) ++ scoreCols.map(c => r.getAs[Any](c))
      }.toSet
  }

  /** the compressed listing as (rep_a, rep_b, n_pairs, scores...) */
  private def compressed(name: String, dir: String,
      scoreCols: Seq[String] = Nil): Set[Seq[Any]] =
    SparkEntry.queries(name)(spark, dir).collect().map(r =>
      Seq[Any](r.getAs[Long]("rep_a"), r.getAs[Long]("rep_b"),
        r.getAs[Long]("n_pairs")) ++ scoreCols.map(c => r.getAs[Any](c))).toSet

  test("unique-text corpus: compression is the identity (no within rows)") {
    val g = run("doc_ngram_dedup_grouped").collect()
    val e = run("doc_ngram_dedup").collect()
    assert(g.length == e.length)
    assert(g.forall(_.getAs[Long]("n_pairs") == 1L))
    assert(g.forall(r => r.getAs[Long]("rep_a") != r.getAs[Long]("rep_b")))
    val gs = g.map(r => (r.getAs[Long]("rep_a"), r.getAs[Long]("rep_b"),
      r.getAs[Long]("n_common"), r.getAs[Double]("jaccard"))).toSet
    val es = e.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
      r.getAs[Long]("n_common"), r.getAs[Double]("jaccard"))).toSet
    assert(gs == es)
  }

  test("duplicated corpus: exploded listing rolls up to the compressed one") {
    // scores included: the within rows (rep_a = rep_b) must carry the
    // same n_common / jaccard / containment as the exploded listing's
    // pairs of identical texts
    val dir = dupCorpus(3)
    val gCols = Seq("n_common", "jaccard")
    val exG = rollup(SparkEntry.queries("doc_ngram_dedup")(spark, dir), gCols)
    assert(compressed("doc_ngram_dedup_grouped", dir, gCols) == exG)
    val cCols = Seq("n_common", "containment", "jaccard")
    val exC = rollup(
      SparkEntry.queries("doc_containment_pairs")(spark, dir), cCols)
    assert(compressed("doc_containment_grouped", dir, cCols) == exC)
    // within rows exist and carry m*(m-1)/2 = 3 pairs per duplicated text
    val within = SparkEntry.queries("doc_ngram_dedup_grouped")(spark, dir)
      .filter(col("rep_a") === col("rep_b")).collect()
    assert(within.nonEmpty)
    assert(within.forall(_.getAs[Long]("n_pairs") == 3L))
    assert(within.forall(_.getAs[Double]("jaccard") == 1.0))
  }

  /** doc_simhash_grouped collapses on the SIGNATURE (not the text — the
    * sf corpus already contains distinct texts that hash to the same
    * simhash), so its rollup key is the per-signature min-doc_id rep.
    */
  private def simhashRollup(dir: String): Set[(Long, Long, Int, Long)] = {
    val sig = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextFunctions.simhash64(col("text")).as("sh"))
    val rep = sig.groupBy(col("sh")).agg(min(col("doc_id")).as("rep"))
    val m = sig.join(rep, "sh").select(col("doc_id"), col("rep"))
    SparkEntry.queries("doc_simhash")(spark, dir)
      .join(m.select(col("doc_id").as("doc_a"), col("rep").as("ra")), "doc_a")
      .join(m.select(col("doc_id").as("doc_b"), col("rep").as("rb")), "doc_b")
      .select(least(col("ra"), col("rb")).as("rep_a"),
        greatest(col("ra"), col("rb")).as("rep_b"), col("hamming"))
      .groupBy(col("rep_a"), col("rep_b"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("hamming")).as("dh"), min(col("hamming")).as("h"))
      .collect().map { r =>
        assert(r.getAs[Long]("dh") == 1L, s"group pair mixes hammings: $r")
        (r.getAs[Long]("rep_a"), r.getAs[Long]("rep_b"),
          r.getAs[Int]("h"), r.getAs[Long]("n_pairs"))
      }.toSet
  }

  private def simhashCompressed(dir: String): Set[(Long, Long, Int, Long)] =
    SparkEntry.queries("doc_simhash_grouped")(spark, dir).collect().map(r =>
      (r.getAs[Long]("rep_a"), r.getAs[Long]("rep_b"),
        r.getAs[Int]("hamming"), r.getAs[Long]("n_pairs"))).toSet

  test("simhash: exploded listing rolls up exactly to the grouped one") {
    // on the base corpus (where colliding signatures exist but no
    // duplicated texts) ...
    assert(simhashCompressed(sf) == simhashRollup(sf))
    // ... and on a 3x duplicated corpus (the ScaleUp shape, where the
    // exploded listing is ~9x larger)
    val dir = dupCorpus(3)
    val comp = simhashCompressed(dir)
    assert(comp == simhashRollup(dir))
    // duplicated signatures contribute hamming-0 within rows of
    // m*(m-1)/2 >= 3 pairs
    val within = comp.filter(t => t._1 == t._2)
    assert(within.nonEmpty)
    assert(within.forall(_._3 == 0))
    assert(within.forall(_._4 >= 3L))
  }

  /** doc_minhash_lsh_grouped collapses on the full 32-perm SIGNATURE
    * (same reasoning as simhash: distinct texts can share a signature),
    * so the rollup key is the per-signature min-doc_id rep. The exploded
    * listing (doc_minhash_lsh) has no score columns — equivalence is the
    * exact pair-count decomposition: cross-group rep pairs carry
    * m_a·m_b (a shared signature shares every band), within-group rows
    * m(m−1)/2.
    */
  private def minhashRollup(dir: String): Set[Seq[Any]] = {
    val sig = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(col("text")) >= 20)
      .select(col("doc_id"),
        graft.functions.TextFunctions.minhash_signature(col("text")).as("sg"))
    val rep = sig.groupBy(col("sg")).agg(min(col("doc_id")).as("rep"))
    val m = sig.join(rep, "sg").select(col("doc_id"), col("rep"))
    SparkEntry.queries("doc_minhash_lsh")(spark, dir)
      .join(m.select(col("doc_id").as("doc_a"), col("rep").as("ra")), "doc_a")
      .join(m.select(col("doc_id").as("doc_b"), col("rep").as("rb")), "doc_b")
      .select(least(col("ra"), col("rb")).as("rep_a"),
        greatest(col("ra"), col("rb")).as("rep_b"))
      .groupBy(col("rep_a"), col("rep_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .collect().map(r => Seq[Any](r.getAs[Long]("rep_a"),
        r.getAs[Long]("rep_b"), r.getAs[Long]("n_pairs"))).toSet
  }

  test("minhash-lsh: exploded listing rolls up exactly to the grouped one") {
    // base corpus: signature-keyed rollup equality (collisions included)
    assert(compressed("doc_minhash_lsh_grouped", sf) == minhashRollup(sf))
    // 3x duplicated corpus: the ScaleUp shape where the exploded listing
    // carries ~9x the rows and every text contributes a within row
    val dir = dupCorpus(3)
    val comp = compressed("doc_minhash_lsh_grouped", dir)
    assert(comp == minhashRollup(dir))
    val within = comp.filter(t => t(0) == t(1))
    assert(within.nonEmpty)
    assert(within.forall(_(2).asInstanceOf[Long] >= 3L))
  }

  /** mm_phash_pairs_grouped collapses on the 64-bit pHASH (duplicate
    * images share it bit-exactly; distinct images colliding into one
    * hash are hamming-0 near-dups by the detector's own definition).
    */
  private def phashOf(dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.ImageCodec
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val img = ImageCodec.decode(ImageCodec.toPng(
          ImageCodec.syntheticImage(id, 32 + (id % 3).toInt * 16, 32)))
        (id, if (img == null) 0L else ImageCodec.phash64(img))
      }).toDF("doc_id", "ph")
  }

  private def phashRollup(dir: String): Set[(Long, Long, Long, Long)] = {
    val sig = phashOf(dir)
    val rep = sig.groupBy(col("ph")).agg(min(col("doc_id")).as("rep"))
    val m = sig.join(rep, "ph").select(col("doc_id"), col("rep"))
    SparkEntry.queries("mm_phash_pairs")(spark, dir)
      .join(m.select(col("doc_id").as("doc_a"), col("rep").as("ra")), "doc_a")
      .join(m.select(col("doc_id").as("doc_b"), col("rep").as("rb")), "doc_b")
      .select(least(col("ra"), col("rb")).as("rep_a"),
        greatest(col("ra"), col("rb")).as("rep_b"), col("hamming"))
      .groupBy(col("rep_a"), col("rep_b"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("hamming")).as("dh"), min(col("hamming")).as("h"))
      .collect().map { r =>
        assert(r.getAs[Long]("dh") == 1L, s"group pair mixes hammings: $r")
        (r.getAs[Long]("rep_a"), r.getAs[Long]("rep_b"),
          r.getAs[Long]("h"), r.getAs[Long]("n_pairs"))
      }.toSet
  }

  private def phashCompressed(dir: String): Set[(Long, Long, Long, Long)] =
    SparkEntry.queries("mm_phash_pairs_grouped")(spark, dir).collect().map(r =>
      (r.getAs[Long]("rep_a"), r.getAs[Long]("rep_b"),
        r.getAs[Long]("hamming"), r.getAs[Long]("n_pairs"))).toSet

  test("phash: exploded listing rolls up exactly to the grouped one") {
    assert(phashCompressed(sf) == phashRollup(sf))
    // duplicated corpus with the id shift a multiple of 768 (the image
    // period), so every replica is image-identical to its original —
    // the ScaleUp-at-×1000 shape that makes the exploded listing
    // quadratic: each group carries m=3 and a within row of 3 pairs
    val base = Tables.t(spark, sf, "documents").select(col("doc_id"))
    val dup = (0 until 3).map(i => base.withColumn("doc_id",
      col("doc_id") + lit(i * 768000000L))).reduce(_ union _)
    val dir = java.nio.file.Files.createTempDirectory("phashdup").toString
    dup.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val comp = phashCompressed(dir)
    assert(comp == phashRollup(dir))
    val within = comp.filter(t => t._1 == t._2)
    assert(within.nonEmpty)
    assert(within.forall(t => t._3 == 0L && t._4 >= 3L))
  }
}
