package graft

import graft.operators.TextOps
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftops.GraftInternal
import org.apache.spark.sql.internal.SQLConf

/** Plan growth in iterative operators stays bounded. Every action's
  * optimized plan — localCheckpoint materializations included — is
  * measured while connectedComponents runs to a fixed point; none may be
  * larger than one contraction round's plan plus slack. A loop that
  * chains several contractions between rebases nests each round's state
  * twice into the next, so its plans grow geometrically and fail here
  * long before they cost minutes of planning in a bench run. The
  * driver-state loops (emb_kmeans, emb_pq_topk's codebook,
  * emb_kcenter_sample, emb_pca_power, BPE) and the loops that rebase
  * their state each round (logistic regression, streamline advection)
  * are held to the same plan bound, and their builders to a fixed number
  * of jobs and stages a round. doc_ngram_lm_interp, which is not a loop,
  * runs no builder job at all.
  */
class PlanSizeSpec extends SparkSpecBase {

  /** One LS+SS contraction round plans to 57 optimized nodes in the
    * first round and to 66 in later ones, whose state adds a filter and a
    * projection. The bound is one round and half another: chaining a
    * second contraction before the rebase already exceeds it (641 nodes).
    * It is a fixed number, not measured at run time, so a loop that grows
    * every plan cannot raise its own bound.
    */
  private val bound = 100

  private def assertBounded(sizes: Seq[(String, Int)], tag: String): Unit = {
    assert(sizes.nonEmpty)
    info(s"$tag: ${sizes.size} actions, largest plan ${sizes.map(_._2).max} " +
      s"nodes, bound $bound")
    val over = sizes.filter(_._2 > bound)
    assert(over.isEmpty, s"$tag: ${over.size} action plans exceed $bound " +
      s"nodes: ${sizes.map(_._2).mkString(",")}")
  }

  test("CC on a 240-node shuffled-id ring: every action plan within one round's bound") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val ids = rng.shuffle((0L until 240L).toVector)
    val es = ids.indices.map(i => (ids(i), ids((i + 1) % ids.length)))
    val edges = es.toDF("src", "dst").union(es.map(_.swap).toDF("src", "dst"))
    val sizes = PlanSizes.of(spark) {
      TextOps.connectedComponents(ids.toDF("node"), edges).collect()
    }
    // a long ring needs many rounds: the bound must hold on all of them
    assert(sizes.size > 10, s"expected many CC rounds, got ${sizes.size} actions")
    assertBounded(sizes, "shuffled ring")
  }

  test("geo_contour_rings at sf0.001: every CC action plan within one round's bound") {
    // building the query runs its CC loop; the query's own plan is the
    // caller's pipeline, not a round, and is not measured
    assertBounded(PlanSizes.of(spark) { run("geo_contour_rings") },
      "geo_contour_rings")
  }

  /** Every action plan of the iterative query `name` within the bound,
    * and its builder, which runs the `rounds` rounds, within `maxJobs`
    * jobs and `maxStages` stages. With `unpersisted`, building and
    * collecting the query leaves no RDD persisted.
    */
  private def assertLoopBounded(name: String, rounds: Int, maxJobs: Int,
      maxStages: Int, unpersisted: Boolean): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // the builder runs the rounds, the collect the query's own plan
    assertBounded(PlanSizes.of(spark) { run(name).collect() }, name)
    val left = sc.getPersistentRDDs.keySet -- before
    val n = JobCount.of(spark)(run(name))
    info(s"$name: builder ran ${n.jobs} jobs and ${n.stages} stages over " +
      s"$rounds rounds; ${left.size} RDDs left persisted")
    assert(n.jobs <= maxJobs, s"$name: ${n.jobs} builder jobs, bound $maxJobs")
    assert(n.stages <= maxStages, s"$name: ${n.stages} builder stages, bound $maxStages")
    if (unpersisted) assert(left.isEmpty, s"$name left ${left.size} RDDs persisted")
  }

  test("emb_kmeans, emb_pq_topk, emb_kcenter_sample, emb_pca_power, doc_bpe_train, doc_bpe_apply: every action plan bounded, at most 1 job and 1 stage a round") {
    // A round is one single-stage RDD aggregate, or driver arithmetic
    // that runs no job (emb_pca_power's power iteration, BPE's merges).
    // (query, rounds that run a job, jobs and stages before the first
    // round: k-means' seed job, which also caches its vectors, k-center's
    // seed collect, the PQ seed codebook's aggregate, the PCA Gram fold,
    // BPE's dict collect with its word-count shuffle)
    for ((name, rounds, setupJobs, setupStages) <- Seq(("emb_kmeans", 3, 1, 1),
        ("emb_pq_topk", 2, 2, 2), ("emb_kcenter_sample", 7, 1, 1),
        ("emb_pca_power", 0, 2, 2), ("doc_bpe_train", 0, 2, 2),
        ("doc_bpe_apply", 0, 2, 2)))
      // every driver-state loop leaves no RDD persisted
      assertLoopBounded(name, rounds, setupJobs + rounds, setupStages + rounds,
        unpersisted = true)
  }

  test("doc_quality_logreg, geo_wind_streamline: every action plan bounded, builder jobs bounded a round") {
    // These loops rebase their state each round. Under AQE, planning a
    // lazy checkpoint runs the shuffle and broadcast stages beneath it, so
    // each round's stages run in the builder: a fixed number a round (the
    // counts measured on this code, rounded up; set-up jobs included),
    // where a loop that re-ran earlier rounds would multiply them. Each
    // of those jobs runs one stage. Their checkpoints stay persisted.
    // (query, rounds, builder jobs a round)
    for ((name, rounds, perRound) <- Seq(("doc_quality_logreg", 4, 9),
        ("geo_wind_streamline", 6, 3)))
      assertLoopBounded(name, rounds, perRound * rounds, perRound * rounds,
        unpersisted = false)
  }

  test("doc_ngram_lm_interp: no builder job, no persisted RDD, one tokenize pass") {
    // not a loop, so nothing to rebase: its per-doc bigram counts feed the
    // scoring join and the three model frames through reused exchanges
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val n = JobCount.of(spark)(run("doc_ngram_lm_interp"))
    assert(n.jobs == 0, s"${n.jobs} builder jobs")
    run("doc_ngram_lm_interp").collect()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    withAqeOff {
      val plan = run("doc_ngram_lm_interp").queryExecution.executedPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }
      val reused = plan.collect { case r: ReusedExchangeExec => r }
      assert(scans.size == 1, s"${scans.size} documents scans:\n$plan")
      // docBg's exchange under the model, c12's under c1, c2 and the total
      assert(reused.size == 4, s"${reused.size} reused exchanges:\n$plan")
    }
  }

  test("rebase keeps output partitioning and drops origin statistics") {
    // AQE off: under AQE Spark's checkpoint records no partitioning at all
    withAqeOff {
      val keyed = spark.range(0, 1000)
        .select((col("id") % 7).as("k"), col("id").as("v"))
        .repartition(col("k"))
      val rebased = GraftInternal.rebase(keyed)
      val agg = rebased.groupBy(col("k")).agg(sum(col("v")).as("s"))
      val exchanges = agg.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, "groupBy on the rebased key planned an " +
        s"Exchange:\n${agg.queryExecution.executedPlan}")
      assert(agg.collect().map(_.getLong(1)).sum == (0L until 1000L).sum)
      assert(rebased.queryExecution.optimizedPlan.stats.sizeInBytes ==
        BigInt(SQLConf.get.defaultSizeInBytes))
    }
  }

  private def withAqeOff[T](f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, old)
  }
}
