package graft.operators

import graft.{Det, Q, Tables}
import graft.Det._
import graft.functions.{RoundKernels, SimFunctions}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** §2.E similarity search over the `embeddings` table (64-dim float).
  *
  * All dot products are fixed-point quantized (floor(x·y·2^30) per element,
  * BIGINT sums) so results are order-independent and bit-identical to the
  * DuckDB oracle — no UDFs, everything stays in codegen'd array
  * expressions (`zip_with`/`aggregate`/`posexplode`).
  */
object Similarity {

  private def emb(s: SparkSession, d: String) = Tables.t(s, d, "embeddings")

  /** Whether `embedding` holds floats rather than doubles: how the round
    * kernels read it.
    */
  private def floatEmbedding(e: DataFrame): Boolean =
    e.schema("embedding").dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Quantized dot product of two float arrays: BIGINT, exact.
    * Codegen-native (functions/SimFunctions.QDotLong) — same arithmetic
    * as the aggregate(zip_with(...)) tree, but a fused loop that
    * participates in whole-stage codegen: on the cell-blocked pair joins
    * this expression is evaluated O(n·cell) times and the interpreted
    * HOF tree was the measured bottleneck (~6× on emb_semantic_dedup).
    */
  private def qdot(a: Column, b: Column): Column =
    SimFunctions.qdotLong(a, b)

  /** DuckDB equivalent per-element term (i is a 1-based series index). */
  private def qterm(ax: String, bx: String): String =
    s"CAST(FLOOR(CAST($ax AS DOUBLE)*CAST($bx AS DOUBLE)*1073741824) AS BIGINT)"

  // deterministic ±1 hyperplane components for emb_lsh_ann, shared by the
  // Spark literals and the oracle's VALUES table (splitmix64 parity)
  private val LshPlanes = 8 // 256 buckets — tens of candidates per bucket
  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def lshSign(p: Int, c: Int): Long =
    if ((splitmix64(p * 64L + c) & 1L) == 0L) 1L else -1L

  // emb_jl_sketch's ±1 projection matrix (distinct splitmix64 stream)
  private def jlSign(dd: Int, c: Int): Long =
    if ((splitmix64(1000003L + dd * 64L + c) & 1L) == 0L) 1L else -1L

  // emb_semantic_dedup's corpus-adaptive cell refinement: target mean
  // cell size (documented IVF sizing parameter — cells multiply with the
  // corpus so per-cell pair work stays bounded) and the refinement
  // hyperplane budget (2^16 sub-cells per centroid max ≈ 68 B vectors
  // per label at S=1024 before the split saturates). Distinct splitmix64
  // stream from lshSign/jlSign.
  private[graft] val IvfTargetCell = 1024L
  private[graft] val IvfMaxSplit = 16
  private def ivfSign(p: Int, c: Int): Long =
    if ((splitmix64(3000017L + p * 64L + c) & 1L) == 0L) 1L else -1L

  // emb_knn_graph's corpus-adaptive bucket refinement (r11 — the ×1000
  // tier found the fixed 2^8 LSH buckets quadratic at 5M vectors, the
  // same defect class as r7's fixed IVF cell count): target mean bucket
  // size and refinement budget, distinct splitmix64 stream.
  private[graft] val KnnTargetBucket = 256L
  private[graft] val KnnMaxSplit = 16
  private def knnSign(p: Int, c: Int): Long =
    if ((splitmix64(5000029L + p * 64L + c) & 1L) == 0L) 1L else -1L

  /** emb_semantic_dedup's candidate stage, exposed for plan specs: IVF
    * cell assignment (argmax quantized dot vs the codebook centroids),
    * corpus-adaptive cell refinement, and the cell-keyed pair join with
    * exact quantized-cosine scoring. Returns (vec_a, vec_b) edges with
    * cos_sim >= 0.3 inside a refined cell.
    *
    * Cell sizing (the SemDeDup scale contract, and round 7's honest ×100
    * finding): the label codebook alone is L cells regardless of corpus
    * size, so cell-blocked pair work grows O(n²/L) — invisible at ×10,
    * dominant at ×100. The cell key is therefore (centroid, bits mod 2^k):
    * `bits` packs IvfMaxSplit deterministic ±1 hyperplane sign bits
    * (splitmix64 parity, shared with the oracle as a VALUES table) of the
    * 2^14-quantized vector, and the split depth k is the smallest value
    * with L·IvfTargetCell·2^k ≥ n — cell count grows ∝ n, mean cell size
    * stays ≤ IvfTargetCell, total pair work O(n·S). Exact duplicates have
    * identical bits so dup recall is unaffected; near-dups agree on sign
    * bits with high probability (each bit flips only if the hyperplane
    * separates the pair). k is decided by exact integer comparisons on
    * both engines; at the gate SFs k = 0 and the refinement is the
    * identity (bits mod 1 = 0).
    */
  private[graft] def semanticAssigned(s: SparkSession, d: String): DataFrame = {
    val e0 = emb(s, d).withColumn("nq", qdot(col("embedding"), col("embedding")))
    // refinement bits: 16 sign bits of exact BIGINT hyperplane dots,
    // computed once per vector in one codegen'd expression (no shuffle)
    val bitsCol = (0 until IvfMaxSplit).map { p =>
      val signs = typedLit((0 until 64).map(c => ivfSign(p, c)))
      val dot = aggregate(
        zip_with(col("embedding"), signs, (x, sgn) =>
          floor(x.cast(DoubleType) * 16384.0).cast(LongType) * sgn),
        lit(0L), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val e = e0.withColumn("bits", bitsCol)
    // codebook: quantized per-label mean vectors (same arithmetic as
    // emb_centroids / emb_ivf_topk — exact in both engines)
    val cent = e0
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(floor(col("x").cast(DoubleType) * 16384.0).cast(LongType))
        .cast(DoubleType) / (lit(16384.0) * count(lit(1)))).as("c"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("ps"))
      .select(col("label").as("c_label"),
        expr("transform(ps, p -> p.c)").as("centroid"))
    // split depth: one row, exact integer decision, broadcast everywhere
    val kdf = e0.agg(count(lit(1)).as("n_vec"))
      .crossJoin(cent.agg(count(lit(1)).as("n_cells")))
      .select(expr(s"aggregate(sequence($IvfMaxSplit, 0, -1), " +
        s"CAST($IvfMaxSplit AS BIGINT), (acc, c) -> " +
        s"IF(n_cells * $IvfTargetCell * shiftleft(CAST(1 AS BIGINT), c) " +
        s">= n_vec, CAST(c AS BIGINT), acc))").as("k"))
    // assign each vector to its nearest cell: argmax of the BIGINT
    // fixed-point dot, via the argmin-struct fold (map-side combine,
    // no per-key sort); trailing struct fields ride along uncompared
    val dotq = aggregate(
      zip_with(col("embedding"), col("centroid"), (x, c) =>
        floor(x.cast(DoubleType) * c * lit(1048576.0)).cast(LongType)),
      lit(0L), (acc, x) => acc + x)
    e.crossJoin(broadcast(cent))
      .withColumn("m", struct((-dotq).as("nd"), col("c_label").as("cell"),
        col("embedding").as("emb"), col("nq").as("nqv"),
        col("bits").as("bitsv")))
      .groupBy(col("vec_id"))
      .agg(min(col("m")).as("m"))
      .crossJoin(broadcast(kdf))
      .select(col("vec_id"), col("m.cell").as("cell"),
        expr("m.bitsv % shiftleft(CAST(1 AS BIGINT), CAST(k AS INT))")
          .as("subcell"),
        col("m.emb").as("embedding"), col("m.nqv").as("nq"))
  }

  private[graft] def semanticScoredPairs(s: SparkSession, d: String): DataFrame = {
    // explicit-numPartitions repartition on the cell key: the JOIN INPUT
    // is tiny (n vectors), so AQE would coalesce the pair join to one
    // partition — and the join's OUTPUT is the ~n·S/2-pair frame whose
    // 64-dim scoring is the query's real work, serialized onto one core
    // (measured 37 s vs 3 s at ×10). A user repartition with explicit
    // count is exempt from AQE coalescing; both join branches reuse the
    // one exchange, so this costs nothing extra.
    val np = math.max(1, s.conf
      .get("spark.sql.shuffle.partitions", "32").toInt)
    val assigned = semanticAssigned(s, d)
      .repartition(np, col("cell"), col("subcell"))
    // pair stage: join keyed on the refined CELL, not the label
    val a = assigned.select(col("cell"), col("subcell"),
      col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"), col("nq").as("nq_a"))
    val b = assigned.select(col("cell"), col("subcell"),
      col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("nq").as("nq_b"))
    a.join(b, Seq("cell", "subcell")).filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", qdot(col("emb_a"), col("emb_b")).cast(DoubleType)
        / (sqrt(col("nq_a").cast(DoubleType)) * sqrt(col("nq_b").cast(DoubleType))))
      .select(col("cell"), col("subcell"),
        col("vec_a"), col("vec_b"), col("cos_sim"))
  }

  /** Oracle text for the refined IVF cell assignment — mirrors
    * semanticScoredPairs exactly (shared by emb_semantic_dedup and
    * emb_dedup_sweep). Splices as CTEs: cent, dotq, p16, kk, bitsq,
    * assign(vec_id, cell, subcell).
    */
  private def ivfAssignSql: String = {
    val planeRows = (for {
      p <- 0 until IvfMaxSplit
      c <- 0 until 64
    } yield s"($p,${c + 1},${ivfSign(p, c)})").mkString(",")
    s"""cent AS (
          SELECT label AS c_label, i,
                 CAST(CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE)*16384.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
                 / (16384.0*COUNT(*)) AS c
          FROM embeddings, generate_series(1, 64) AS t(i) GROUP BY 1, 2),
        dotq AS (
          SELECT e.vec_id, c.c_label,
                 CAST(SUM(CAST(FLOOR(CAST(e.embedding[c.i] AS DOUBLE)*c.c*1048576.0) AS BIGINT)) AS BIGINT) AS dq
          FROM embeddings e CROSS JOIN cent c
          GROUP BY 1, 2),
        p16(p, i, s) AS (VALUES $planeRows),
        kk AS (
          SELECT COALESCE(MIN(c), $IvfMaxSplit) AS k
          FROM generate_series(0, $IvfMaxSplit) AS t(c)
          WHERE (SELECT COUNT(DISTINCT label) FROM embeddings)
                * $IvfTargetCell * (CAST(1 AS BIGINT) << c)
                >= (SELECT COUNT(*) FROM embeddings)),
        bitsq AS (
          SELECT vec_id,
                 CAST(SUM(CASE WHEN pd >= 0 THEN (CAST(1 AS BIGINT) << p)
                               ELSE 0 END) AS BIGINT) AS bits
          FROM (
            SELECT e.vec_id, pl.p,
                   SUM(CAST(FLOOR(CAST(e.embedding[pl.i] AS DOUBLE)*16384.0) AS BIGINT) * pl.s) AS pd
            FROM embeddings e CROSS JOIN p16 pl
            GROUP BY 1, 2) pdt
          GROUP BY 1),
        assign AS (
          SELECT a.vec_id, a.cell,
                 b.bits % (CAST(1 AS BIGINT) << kk.k) AS subcell
          FROM (
            SELECT vec_id, c_label AS cell FROM (
              SELECT vec_id, c_label,
                     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dq DESC, c_label) AS rn
              FROM dotq) WHERE rn = 1) a
          JOIN bitsq b ON b.vec_id = a.vec_id
          CROSS JOIN kk)"""
  }

  /** Oracle text for the refined-cell-blocked exact pair dots (follows
    * ivfAssignSql's `assign`).
    */
  private def ivfDotsSql: String = s"""dots AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 SUM(${qterm("a.embedding[i]", "b.embedding[i]")}) AS dot
          FROM embeddings a JOIN assign sa ON sa.vec_id = a.vec_id
          JOIN assign sb ON sb.cell = sa.cell AND sb.subcell = sa.subcell
          JOIN embeddings b ON b.vec_id = sb.vec_id AND a.vec_id < b.vec_id
          CROSS JOIN generate_series(1, 64) AS t(i)
          GROUP BY 1, 2)"""

  private[graft] def semanticPairs(s: SparkSession, d: String): DataFrame =
    semanticScoredPairs(s, d).filter(col("cos_sim") >= 0.3)
      .select(col("vec_a"), col("vec_b"))

  /** Brute-force exact cosine top-5 for the probe set (vec_id < 10) —
    * emb_cosine_topk's body, shared with emb_recall_at_k as the ANN
    * ground truth.
    */
  private def exactTopk(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).withColumn("nq", qdot(col("embedding"), col("embedding")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
        col("nq").as("q_nq"))
    val joined = e.join(broadcast(q), col("vec_id") =!= col("q_vec_id"))
      .withColumn("cos_sim",
        qdot(col("q_emb"), col("embedding")).cast(DoubleType)
          / (sqrt(col("q_nq").cast(DoubleType)) * sqrt(col("nq").cast(DoubleType))))
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("q_vec_id"), col("rn"), col("vec_id").as("n_vec_id"),
        col("cos_sim"))
      .orderBy(col("q_vec_id"), col("rn"))
  }

  private val exactTopkOracle: String = s"""
        WITH n AS (
          SELECT vec_id, SUM(${qterm("embedding[i]", "embedding[i]")}) AS nq
          FROM embeddings, generate_series(1, 64) AS t(i) GROUP BY 1),
        dots AS (
          SELECT q.vec_id AS q_vec_id, e.vec_id AS n_vec_id,
                 SUM(${qterm("q.embedding[i]", "e.embedding[i]")}) AS dot
          FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
          JOIN embeddings e ON e.vec_id <> q.vec_id
          CROSS JOIN generate_series(1, 64) AS t(i)
          GROUP BY 1, 2),
        sims AS (
          SELECT d.q_vec_id, d.n_vec_id,
                 CAST(d.dot AS DOUBLE)/(sqrt(CAST(nq1.nq AS DOUBLE))*sqrt(CAST(nq2.nq AS DOUBLE))) AS cos_sim
          FROM dots d
          JOIN n nq1 ON nq1.vec_id = d.q_vec_id
          JOIN n nq2 ON nq2.vec_id = d.n_vec_id)
        SELECT q_vec_id, CAST(rn AS INT) AS rn, n_vec_id, cos_sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
                       ORDER BY cos_sim DESC, n_vec_id) AS rn
          FROM sims) WHERE rn <= 5
        ORDER BY q_vec_id, rn"""

  /** IVF nprobe=1 top-5 for the probe set — emb_ivf_topk's body, shared
    * with emb_recall_at_k as the ANN side of the recall audit.
    */
  /** IVF cell assignment (vec_id, label, embedding, nq, cell) — shared
    * by emb_ivf_topk, emb_recall_at_k, and emb_ivf_balance.
    */
  /** Codebook: quantized per-label centroid vectors (exact arithmetic) —
    * shared by the assignment path and the multi-probe sweep.
    */
  private def ivfCentroids(s: SparkSession, d: String): DataFrame =
    emb(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(floor(col("x").cast(DoubleType) * 16384.0).cast(LongType))
        .cast(DoubleType) / (lit(16384.0) * count(lit(1)))).as("c"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("ps"))
      .select(col("label").as("c_label"),
        expr("transform(ps, p -> p.c)").as("centroid"))

  private def ivfAssigned(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).withColumn("nq", qdot(col("embedding"), col("embedding")))
        val cent = ivfCentroids(s, d)
        // assign every vector to its nearest centroid (10 cells: broadcast);
        // argmax of the exact BIGINT fixed-point dot via the struct-min
        // fold (map-side combinable, no per-vector sort)
        val dotq = aggregate(
          zip_with(col("embedding"), col("centroid"), (x, c) =>
            floor(x.cast(DoubleType) * c * lit(1048576.0)).cast(LongType)),
          lit(0L), (acc, x) => acc + x)
        val assigned = e.crossJoin(broadcast(cent))
          .withColumn("m", struct((-dotq).as("nd"), col("c_label").as("cell"),
            col("label").as("lbl"), col("embedding").as("emb"), col("nq").as("nqv")))
          .groupBy(col("vec_id")).agg(min(col("m")).as("m"))
          .select(col("vec_id"), col("m.lbl").as("label"), col("m.emb").as("embedding"),
            col("m.nqv").as("nq"), col("m.cell").as("cell"))
        assigned
  }

  private def ivfTopk(s: SparkSession, d: String): DataFrame = {
        val assigned = ivfAssigned(s, d)
        // probe: queries search only their own cell
        val q = assigned.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
            col("nq").as("q_nq"), col("cell"))
        val cand = assigned.join(broadcast(q), Seq("cell"))
          .filter(col("vec_id") =!= col("q_vec_id"))
          .withColumn("cos_sim", qdot(col("q_emb"), col("embedding")).cast(DoubleType)
            / (sqrt(col("q_nq").cast(DoubleType)) * sqrt(col("nq").cast(DoubleType))))
        val wTop = Window.partitionBy(col("q_vec_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
        cand.withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 5)
          .select(col("q_vec_id"), col("rn"), col("vec_id").as("n_vec_id"),
            col("cell"), col("cos_sim"))
          .orderBy(col("q_vec_id"), col("rn"))
  }

  /** DuckDB CTE chain through `assigned` — shared with emb_ivf_balance. */
  private val IVF_ASSIGN_CTES: String = s"""
        WITH x AS (
          SELECT vec_id, label, t.i AS pos, CAST(embedding[t.i] AS DOUBLE) AS x
          FROM embeddings, generate_series(1, 64) AS t(i)),
        nq AS (
          SELECT e.vec_id,
                 CAST(SUM(${qterm("e.embedding[t.i]", "e.embedding[t.i]")}) AS BIGINT) AS nq
          FROM embeddings e, generate_series(1, 64) AS t(i) GROUP BY 1),
        cent AS (
          SELECT label AS c_label, pos,
                 CAST(SUM(CAST(FLOOR(x*16384.0) AS BIGINT)) AS DOUBLE)
                   / (16384.0*COUNT(*)) AS c
          FROM x GROUP BY 1, 2),
        dots AS (
          SELECT x.vec_id, c.c_label,
                 CAST(SUM(CAST(FLOOR(x.x*c.c*1048576.0) AS BIGINT)) AS BIGINT) AS dotq
          FROM x JOIN cent c ON x.pos = c.pos GROUP BY 1, 2),
        assigned AS (
          SELECT d.vec_id, e.label, n.nq, d.c_label AS cell
          FROM (SELECT vec_id, c_label, ROW_NUMBER() OVER (PARTITION BY vec_id
                  ORDER BY dotq DESC, c_label) AS rn FROM dots) d
          JOIN embeddings e ON e.vec_id = d.vec_id
          JOIN nq n ON n.vec_id = d.vec_id
          WHERE d.rn = 1)"""

  private val ivfTopkOracle: String = s"""$IVF_ASSIGN_CTES,
        pairdot AS (
          SELECT a.vec_id AS q_vec_id, b.vec_id,
                 CAST(SUM(${qterm("ea.embedding[t.i]", "eb.embedding[t.i]")}) AS BIGINT) AS pq
          FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id
          JOIN embeddings ea ON ea.vec_id = a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id,
          generate_series(1, 64) AS t(i)
          WHERE a.vec_id < 10
          GROUP BY 1, 2),
        scored AS (
          SELECT p.q_vec_id, p.vec_id, b.cell, b.label,
                 CAST(p.pq AS DOUBLE)
                   / (sqrt(CAST(qa.nq AS DOUBLE))*sqrt(CAST(b.nq AS DOUBLE))) AS cos_sim
          FROM pairdot p
          JOIN assigned qa ON qa.vec_id = p.q_vec_id
          JOIN assigned b ON b.vec_id = p.vec_id)
        SELECT q_vec_id, CAST(rn AS INT) AS rn, vec_id AS n_vec_id, cell, cos_sim
        FROM (SELECT s.*, ROW_NUMBER() OVER (PARTITION BY q_vec_id
                ORDER BY cos_sim DESC, vec_id) AS rn FROM scored s)
        WHERE rn <= 5 ORDER BY q_vec_id, rn"""

  val defs: Seq[(String, Q)] = Seq(

    // ----- emb_cosine_topk: brute-force cosine top-k ---------------------
    // Queries (vec_id < 10) broadcast against all candidates; the scale
    // path replaces the crossJoin with the LSH buckets of emb_lsh_ann.
    "emb_cosine_topk" -> Q(
      build = exactTopk,
      oracle = Some(exactTopkOracle),
      bench = true),

    // ----- emb_centroids: per-label centroid (IVF coarse quantizer) ------
    "emb_centroids" -> Q(
      build = (s, d) =>
        emb(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .select(col("label"), (col("pos") + 1).cast(LongType).as("dim"),
            floor(col("x").cast(DoubleType) * lit(16384.0)).cast(LongType).as("xq"))
          .groupBy(col("label"), col("dim"))
          .agg((sum(col("xq")).cast(DoubleType)
            / (lit(16384.0) * count(lit(1)))).as("centroid"))
          .orderBy(col("label"), col("dim")),
      oracle = Some("""
        SELECT label, CAST(i AS BIGINT) AS dim,
               CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE)*16384) AS BIGINT)) AS DOUBLE)
               / (16384.0*COUNT(*)) AS centroid
        FROM embeddings, generate_series(1, 64) AS t(i)
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ----- emb_sim_calibration: does cosine predict the label? -----------
    // The calibration report an embedding consumer reads before trusting
    // similarity thresholds: bucket vector pairs by cosine decile and
    // measure the same-label rate per decile — a well-calibrated space
    // shows the rate rising monotonically with similarity. Pairs come
    // from fixed-size blocking (vec_id div 10: 45 pairs per 10-vector
    // block — O(4.5 n), never all-pairs); the cosine is the exact
    // quantized-dot arithmetic of emb_near_dup, so the decile floor is
    // cross-engine stable.
    "emb_sim_calibration" -> Q(
      build = (s, d) => {
        val e = emb(s, d)
          .withColumn("nq", qdot(col("embedding"), col("embedding")))
          .withColumn("blk", expr("vec_id div 10"))
        val a = e.select(col("blk"), col("vec_id").as("id_a"),
          col("embedding").as("va"), col("nq").as("na"), col("label").as("la"))
        val b = e.select(col("blk"), col("vec_id").as("id_b"),
          col("embedding").as("vb"), col("nq").as("nb"), col("label").as("lb"))
        a.join(b, Seq("blk"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("cos",
            qdot(col("va"), col("vb")).cast(DoubleType)
              / (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb").cast(DoubleType))))
          .withColumn("decile",
            expr("CAST(greatest(-10, least(9, FLOOR(cos * 10.0))) AS BIGINT)"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("la") === col("lb"), 1L).otherwise(0L))
              .as("n_same"))
          .withColumn("same_rate",
            col("n_same").cast(DoubleType) / col("n_pairs"))
          .orderBy(col("decile"))
      },
      oracle = Some(s"""
        WITH e AS (
          SELECT vec_id, label, vec_id // 10 AS blk, embedding,
                 (SELECT CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                    * CAST(embedding[i] AS DOUBLE) * 1073741824) AS BIGINT))
                    AS BIGINT)
                  FROM generate_series(1, 64) AS t(i)) AS nq
          FROM embeddings),
        pairs AS (
          SELECT a.label AS la, b.label AS lb, a.nq AS na, b.nq AS nb,
                 (SELECT CAST(SUM(CAST(FLOOR(CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE) * 1073741824) AS BIGINT))
                    AS BIGINT)
                  FROM generate_series(1, 64) AS t(i)) AS dot
          FROM e a JOIN e b ON a.blk = b.blk AND a.vec_id < b.vec_id),
        scored AS (
          SELECT la, lb,
                 CAST(GREATEST(-10, LEAST(9, FLOOR(
                   CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE))
                     * sqrt(CAST(nb AS DOUBLE))) * 10.0))) AS BIGINT)
                   AS decile
          FROM pairs)
        SELECT decile, COUNT(*) AS n_pairs,
               CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_same,
               CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) AS same_rate
        FROM scored GROUP BY 1 ORDER BY decile""")),

    // ----- emb_pair_sim: cosine similarity between label centroids -------
    "emb_pair_sim" -> Q(
      build = (s, d) => {
        val sums = emb(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .select(col("label"), col("pos"),
            floor(col("x").cast(DoubleType) * lit(16384.0)).cast(LongType).as("xq"))
          .groupBy(col("label"), col("pos"))
          .agg(sum(col("xq")).as("sv"))
        val norms = sums.groupBy(col("label"))
          .agg(sum(col("sv") * col("sv")).as("nn"))
        sums.as("a")
          .join(sums.as("b"), col("a.pos") === col("b.pos")
            && col("a.label") < col("b.label"))
          .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
          .agg(sum(col("a.sv") * col("b.sv")).as("dot"))
          .join(norms.select(col("label").as("label_a"), col("nn").as("na")), "label_a")
          .join(norms.select(col("label").as("label_b"), col("nn").as("nb")), "label_b")
          .select(col("label_a"), col("label_b"),
            (col("dot").cast(DoubleType)
              / (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb").cast(DoubleType))))
              .as("cos_sim"))
          .orderBy(col("label_a"), col("label_b"))
      },
      oracle = Some("""
        WITH s AS (
          SELECT label, i, SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE)*16384) AS BIGINT)) AS sv
          FROM embeddings, generate_series(1, 64) AS t(i) GROUP BY 1, 2),
        n AS (SELECT label, SUM(sv*sv) AS nn FROM s GROUP BY 1)
        SELECT a.label AS label_a, b.label AS label_b,
               CAST(SUM(a.sv*b.sv) AS DOUBLE)
               / (sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) AS cos_sim
        FROM s a JOIN s b ON a.i = b.i AND a.label < b.label
        JOIN n na ON na.label = a.label
        JOIN n nb ON nb.label = b.label
        GROUP BY a.label, b.label, na.nn, nb.nn
        ORDER BY label_a, label_b""")),

    // ----- emb_near_dup: embedding-cosine near-duplicate pairs -----------
    // Blocked exact scoring: candidates are generated within a blocking
    // key (label — the shard/partition key a 100 TB pipeline blocks on;
    // swap in the LSH bucket below for unkeyed corpora), then scored with
    // the exact quantized cosine. The join shuffles on the block key —
    // O(sum block²), never global O(n²).
    "emb_near_dup" -> Q(
      build = (s, d) => {
        val e = emb(s, d).withColumn("nq", qdot(col("embedding"), col("embedding")))
        val a = e.select(col("label"), col("vec_id").as("vec_a"),
          col("embedding").as("emb_a"), col("nq").as("nq_a"))
        val b = e.select(col("label"), col("vec_id").as("vec_b"),
          col("embedding").as("emb_b"), col("nq").as("nq_b"))
        a.join(b, Seq("label")).filter(col("vec_a") < col("vec_b"))
          .withColumn("cos_sim", qdot(col("emb_a"), col("emb_b")).cast(DoubleType)
            / (sqrt(col("nq_a").cast(DoubleType)) * sqrt(col("nq_b").cast(DoubleType))))
          .filter(col("cos_sim") >= 0.3)
          .select(col("label"), col("vec_a"), col("vec_b"), col("cos_sim"))
          .orderBy(col("vec_a"), col("vec_b"))
      },
      oracle = Some(s"""
        WITH n AS (
          SELECT vec_id, SUM(${qterm("embedding[i]", "embedding[i]")}) AS nq
          FROM embeddings, generate_series(1, 64) AS t(i) GROUP BY 1),
        dots AS (
          SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
                 SUM(${qterm("a.embedding[i]", "b.embedding[i]")}) AS dot
          FROM embeddings a
          JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
          CROSS JOIN generate_series(1, 64) AS t(i)
          GROUP BY 1, 2, 3)
        SELECT d.label, d.vec_a, d.vec_b,
               CAST(d.dot AS DOUBLE)/(sqrt(CAST(na.nq AS DOUBLE))*sqrt(CAST(nb.nq AS DOUBLE))) AS cos_sim
        FROM dots d
        JOIN n na ON na.vec_id = d.vec_a
        JOIN n nb ON nb.vec_id = d.vec_b
        WHERE CAST(d.dot AS DOUBLE)/(sqrt(CAST(na.nq AS DOUBLE))*sqrt(CAST(nb.nq AS DOUBLE))) >= 0.3
        ORDER BY vec_a, vec_b""")),

    // ----- emb_semantic_dedup: SemDeDup-style corpus pruning -------------
    // The embedding-space dedup pass (SemDeDup): cluster the corpus with a
    // coarse quantizer first, then pair-score ONLY within a cluster — that
    // is the published algorithm's design and the reason it scales: the
    // pair join is keyed on the cell id, so the shuffle is O(sum cell²)
    // with bounded cells, never corpus².  Cells here are IVF cells (each
    // vector assigned to its nearest codebook centroid — the emb_ivf_topk
    // coarse quantizer); at 100 TB k grows with the corpus so cell size
    // stays bounded.  Determinism: centroids are exact quantized means,
    // the assignment score is a per-element-floored BIGINT dot (order-
    // independent sum, identical in both engines), ties break on cell id.
    // Closure = per-cell union-find (components cannot span cells — see
    // the build); representative = component-min vec_id.  Emits the
    // keep/drop decision a 100 TB shard applies.  Oracle: DuckDB
    // recursive-CTE exact CC over the identical cell-blocked
    // quantized-cosine graph.
    "emb_semantic_dedup" -> Q(
      build = (s, d) => {
        import org.apache.spark.sql.Encoders
        // Closure: pairs are intra-cell by construction (the join is
        // keyed on the refined cell), so components NEVER span a cell and
        // the global CC is exactly the per-cell CC. That turns the
        // log-diameter pointer-jumping loop (a checkpointed shuffle per
        // round — it dominated this query's runtime) into ONE shuffle:
        // group self-edges + pair edges by cell key, run an in-task
        // min-root union-find over the ≤ ~IvfTargetCell node slice.
        // Result is order-independent (the component partition and its
        // min-id representative don't depend on edge order), so the
        // oracle's recursive-CTE CC still matches bit-for-bit.
        val assigned = semanticAssigned(s, d)
        val pr = semanticScoredPairs(s, d).filter(col("cos_sim") >= 0.3)
        // typed (cell, subcell) key — a string concat key could collide
        // distinct cells if a label ever contained the separator
        val tri = assigned
          .select(col("cell"), col("subcell"),
            col("vec_id").as("a"), col("vec_id").as("b"))
          .union(pr.select(col("cell"), col("subcell"),
            col("vec_a").as("a"), col("vec_b").as("b")))
        val cc = tri
          .groupByKey((r: Row) => (r.getInt(0), r.getLong(1)))(
            Encoders.product[(Int, Long)])
          .flatMapGroups { (_: (Int, Long), it: Iterator[Row]) =>
            val parent = scala.collection.mutable.HashMap.empty[Long, Long]
            def find(x: Long): Long = {
              var r = x
              while (parent(r) != r) r = parent(r)
              var c = x
              while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
              r
            }
            it.foreach { r =>
              val a = r.getLong(2); val b = r.getLong(3)
              if (!parent.contains(a)) parent(a) = a
              if (!parent.contains(b)) parent(b) = b
              val ra = find(a); val rb = find(b)
              // union-by-min keeps every tree root = component min id
              if (ra < rb) parent(rb) = ra
              else if (rb < ra) parent(ra) = rb
            }
            parent.keys.toArray.iterator.map(v => (v, find(v)))
          }(Encoders.product[(Long, Long)])
          .toDF("vec_id", "rep_id")
        cc.withColumn("keep", col("vec_id") === col("rep_id"))
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy(col("rep_id"))))
          .orderBy(col("vec_id"))
      },
      oracle = Some(s"""
        WITH RECURSIVE n AS (
          SELECT vec_id, SUM(${qterm("embedding[i]", "embedding[i]")}) AS nq
          FROM embeddings, generate_series(1, 64) AS t(i) GROUP BY 1),
        $ivfAssignSql,
        $ivfDotsSql,
        pairs AS (
          SELECT d.vec_a, d.vec_b FROM dots d
          JOIN n na ON na.vec_id = d.vec_a
          JOIN n nb ON nb.vec_id = d.vec_b
          WHERE CAST(d.dot AS DOUBLE)/(sqrt(CAST(na.nq AS DOUBLE))*sqrt(CAST(nb.nq AS DOUBLE))) >= 0.3),
        edges AS (SELECT vec_a AS s, vec_b AS t FROM pairs
                  UNION ALL SELECT vec_b, vec_a FROM pairs),
        walk(node, lbl) AS (
          SELECT vec_id, vec_id FROM embeddings
          UNION
          SELECT w.node, e.t FROM walk w JOIN edges e ON e.s = w.lbl),
        cc AS (SELECT node AS vec_id, MIN(lbl) AS rep_id FROM walk GROUP BY 1)
        SELECT vec_id, rep_id, vec_id = rep_id AS keep,
               COUNT(*) OVER (PARTITION BY rep_id) AS cluster_size
        FROM cc ORDER BY vec_id""")),

    // ----- emb_ivf_topk: IVF-style ANN -----------------------------------
    // Coarse quantizer = per-label centroids (emb_centroids); each vector
    // is assigned to its max-inner-product centroid cell, queries probe
    // only their own cell (nprobe=1) and score exactly within it. At
    // 100 TB the cell assignment is the partition key — each probe
    // touches one partition instead of the whole corpus. Cell assignment
    // uses the 2^20-quantized BIGINT dot (order-free, same fixed-point
    // discipline as the rest of the module) so the whole pipeline —
    // assignment, probe, ranking — is bit-reproducible by the oracle.
    "emb_ivf_topk" -> Q(
      build = ivfTopk,
      oracle = Some(ivfTopkOracle)),

    // ----- emb_recall_at_k: ANN quality audit ----------------------------
    // Measure, don't guess: recall@5 of the IVF nprobe=1 probe against
    // the brute-force exact top-5 for the same query set. Both sides are
    // deterministic (exact BIGINT ranking), so the audit itself is
    // hash-checked. At 100 TB this is the query you run on a sample
    // before trusting the ANN index for the production dedup sweep.
    "emb_recall_at_k" -> Q(
      build = (s, d) => {
        val ex = exactTopk(s, d).select(col("q_vec_id"), col("n_vec_id"))
        val ann = ivfTopk(s, d)
          .select(col("q_vec_id"), col("n_vec_id"), lit(1L).as("hit"))
        ex.join(ann, Seq("q_vec_id", "n_vec_id"), "left")
          .groupBy(col("q_vec_id"))
          .agg(count(lit(1)).as("k"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .withColumn("recall", col("n_hits").cast(DoubleType) / col("k"))
          .orderBy(col("q_vec_id"))
      },
      oracle = Some(s"""
        SELECT e.q_vec_id, CAST(COUNT(*) AS BIGINT) AS k,
               CAST(COUNT(a.n_vec_id) AS BIGINT) AS n_hits,
               CAST(COUNT(a.n_vec_id) AS DOUBLE)/COUNT(*) AS recall
        FROM ($exactTopkOracle) e
        LEFT JOIN ($ivfTopkOracle) a
          ON a.q_vec_id = e.q_vec_id AND a.n_vec_id = e.n_vec_id
        GROUP BY e.q_vec_id ORDER BY e.q_vec_id""")),

    // ----- emb_ann_sweep: nprobe recall/cost tuning table ----------------
    // The tuning artifact an ANN deployment is sized from: for nprobe in
    // {1, 2, 4}, each query probes its top-nprobe centroid cells (ranked
    // by the SAME exact fixed-point dot the assignment uses), and the
    // sweep reports recall@5 against the brute-force truth plus the
    // average candidate count — the recall/cost curve that decides the
    // production nprobe before any 100 TB sweep is launched. All
    // rankings are exact-integer; the only doubles are the final cosine
    // (shared chain) and the two report ratios.
    "emb_ann_sweep" -> Q(
      build = (s, d) => {
        val assigned = ivfAssigned(s, d)
        val e = emb(s, d)
          .withColumn("nq", qdot(col("embedding"), col("embedding")))
        val cent = ivfCentroids(s, d)
        val dq = aggregate(
          zip_with(col("embedding"), col("centroid"), (x, c) =>
            floor(x.cast(DoubleType) * c * lit(1048576.0)).cast(LongType)),
          lit(0L), (acc, x) => acc + x)
        val wCell = Window.partitionBy(col("q_vec_id"))
          .orderBy(col("dq").desc, col("cell"))
        val ranked = e.filter(col("vec_id") < 10)
          .crossJoin(broadcast(cent))
          .withColumn("dq", dq)
          .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
            col("nq").as("q_nq"), col("c_label").as("cell"), col("dq"))
          .withColumn("crank", row_number().over(wCell))
          .filter(col("crank") <= 4)
        val probe = ranked
          .withColumn("level", explode(array(lit(1), lit(2), lit(4))))
          .filter(col("crank") <= col("level"))
        val cand = assigned.join(broadcast(probe), Seq("cell"))
          .filter(col("vec_id") =!= col("q_vec_id"))
        val costs = cand.groupBy(col("level"))
          .agg(count(lit(1)).as("n_cand"),
            countDistinct(col("q_vec_id")).as("n_queries"))
        val wTop = Window.partitionBy(col("level"), col("q_vec_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
        val top5 = cand
          .withColumn("cos_sim",
            qdot(col("q_emb"), col("embedding")).cast(DoubleType)
              / (sqrt(col("q_nq").cast(DoubleType))
                * sqrt(col("nq").cast(DoubleType))))
          .withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= 5)
        val ex = exactTopk(s, d)
          .select(col("q_vec_id"), col("n_vec_id"), lit(1L).as("hit"))
        top5
          .join(ex, col("vec_id") === ex("n_vec_id")
            && top5("q_vec_id") === ex("q_vec_id"), "left")
          .groupBy(col("level"))
          .agg(count(lit(1)).as("total_k"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .join(costs, Seq("level"))
          .select(col("level"), col("n_queries"), col("total_k"),
            col("n_hits"),
            (col("n_hits").cast(DoubleType) / col("total_k")).as("recall"),
            (col("n_cand").cast(DoubleType) / col("n_queries"))
              .as("avg_candidates"))
          .orderBy(col("level"))
      },
      oracle = Some(s"""$IVF_ASSIGN_CTES,
        qc AS (
          SELECT d.vec_id AS q_vec_id, d.c_label AS cell,
                 ROW_NUMBER() OVER (PARTITION BY d.vec_id
                   ORDER BY d.dotq DESC, d.c_label) AS crank
          FROM dots d WHERE d.vec_id < 10),
        lv(level) AS (VALUES (1), (2), (4)),
        probe AS (
          SELECT l.level, q.q_vec_id, q.cell
          FROM qc q CROSS JOIN lv l WHERE q.crank <= l.level),
        cand AS (
          SELECT p.level, p.q_vec_id, a.vec_id
          FROM probe p JOIN assigned a ON a.cell = p.cell
          WHERE a.vec_id <> p.q_vec_id),
        costs AS (
          SELECT level, CAST(COUNT(*) AS BIGINT) AS n_cand,
                 CAST(COUNT(DISTINCT q_vec_id) AS BIGINT) AS n_queries
          FROM cand GROUP BY 1),
        pairdot AS (
          SELECT c.level, c.q_vec_id, c.vec_id,
                 CAST(SUM(${qterm("ea.embedding[t.i]", "eb.embedding[t.i]")}) AS BIGINT) AS pq
          FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.q_vec_id
          JOIN embeddings eb ON eb.vec_id = c.vec_id,
          generate_series(1, 64) AS t(i)
          GROUP BY 1, 2, 3),
        scored AS (
          SELECT p.level, p.q_vec_id, p.vec_id,
                 CAST(p.pq AS DOUBLE)
                   / (sqrt(CAST(na.nq AS DOUBLE))*sqrt(CAST(nb.nq AS DOUBLE)))
                   AS cos_sim
          FROM pairdot p
          JOIN nq na ON na.vec_id = p.q_vec_id
          JOIN nq nb ON nb.vec_id = p.vec_id),
        top5 AS (
          SELECT * FROM (
            SELECT s.*, ROW_NUMBER() OVER (PARTITION BY level, q_vec_id
              ORDER BY cos_sim DESC, vec_id) AS rn
            FROM scored s) WHERE rn <= 5),
        ex AS ($exactTopkOracle),
        hits AS (
          SELECT t.level, CAST(COUNT(*) AS BIGINT) AS total_k,
                 CAST(SUM(CASE WHEN e.n_vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_hits
          FROM top5 t LEFT JOIN ex e
            ON e.q_vec_id = t.q_vec_id AND e.n_vec_id = t.vec_id
          GROUP BY 1)
        SELECT h.level, c.n_queries, h.total_k, h.n_hits,
               CAST(h.n_hits AS DOUBLE)/h.total_k AS recall,
               CAST(c.n_cand AS DOUBLE)/c.n_queries AS avg_candidates
        FROM hits h JOIN costs c ON c.level = h.level
        ORDER BY h.level""")),

    // ----- emb_kcenter_sample: greedy max-min diverse subset -------------
    // k-center greedy (Gonzalez): pick the seed, then 7 times the vector
    // FARTHEST from everything already selected — the diversity sampler
    // a curation pipeline uses to build eval/probe subsets that span the
    // embedding space instead of oversampling its dense core. Distances
    // are exact integers (d2 = nq_a + nq_b - 2*qdot) and the argmax
    // tie-breaks on min vec_id. The ≤ 8 picks are the only state a round
    // hands to the next, so they live on the driver: a round is one
    // single-stage RDD aggregate over the vectors, planned once
    // (RoundKernels.farthest), that takes each vector's least d2 over
    // the picks and returns the winner's id, min d2 and vector. Re-scoring
    // every pick equals folding the new one into a running minimum,
    // because d2 is exact. The oracle unrolls the identical 7 rounds as
    // CTE stages (the emb_kmeans / doc_quality_logreg discipline).
    "emb_kcenter_sample" -> Q(
      build = (s, d) => {
        val e = emb(s, d)
        val isFloat = floatEmbedding(e)
        val seed = e.filter(col("vec_id") === 0).select(col("embedding")).collect()
        require(seed.nonEmpty, "emb_kcenter_sample seeds from vec_id 0")
        // (vec_id, min_d2, vector) of each pick, in the order picked
        val first = (0L, 0L, seed(0).getSeq[Number](0).map(_.doubleValue).toArray)
        // the vectors, planned once; each round re-reads them
        val rows = e.select(col("vec_id"), col("embedding")).queryExecution.toRdd
        val picks = (1 to 7).foldLeft(Vector(first)) { (ps, _) =>
          ps :+ RoundKernels.farthest(rows, isFloat, ps.map(_._3).toArray)
        }
        s.createDataFrame(picks.zipWithIndex.map {
            case ((id, d2, _), r) => Row(id, r, d2) }.asJava,
          StructType(Seq(StructField("vec_id", LongType),
            StructField("sel_round", IntegerType, nullable = false),
            StructField("min_d2", LongType))))
      },
      oracle = Some {
        val nqCte = s"""nqx AS (
          SELECT e.vec_id,
                 CAST(SUM(${qterm("e.embedding[t.i]", "e.embedding[t.i]")}) AS BIGINT) AS nq
          FROM embeddings e, generate_series(1, 64) AS t(i) GROUP BY 1)"""
        def ndCte(k: Int, prevPick: String): String = s"""nd$k AS (
          SELECT e.vec_id,
                 nn.nq + pb.nq
                   - 2 * CAST(SUM(${qterm("e.embedding[t.i]", "pb.embedding[t.i]")}) AS BIGINT) AS d2
          FROM embeddings e
          JOIN nqx nn ON nn.vec_id = e.vec_id
          CROSS JOIN (SELECT b.embedding, q.nq FROM $prevPick x
                      JOIN embeddings b ON b.vec_id = x.vec_id
                      JOIN nqx q ON q.vec_id = b.vec_id) pb,
          generate_series(1, 64) AS t(i)
          GROUP BY e.vec_id, nn.nq, pb.nq)"""
        val rounds = (1 to 7).map { k =>
          val mdPrev = if (k == 1) "nd0" else s"md${k - 1}"
          val nd = ndCte(k, s"p$k")
          s"""p$k AS (SELECT vec_id, d2 FROM $mdPrev
                      ORDER BY d2 DESC, vec_id LIMIT 1),
              $nd,
              md$k AS (SELECT m.vec_id, LEAST(m.d2, n.d2) AS d2
                       FROM $mdPrev m JOIN nd$k n ON n.vec_id = m.vec_id)"""
        }.mkString(",\n")
        val sel = (1 to 7)
          .map(k => s"SELECT $k AS sel_round, vec_id, d2 AS min_d2 FROM p$k")
          .mkString(" UNION ALL ")
        s"""
        WITH $nqCte,
        seed AS (SELECT vec_id FROM embeddings WHERE vec_id = 0),
        ${ndCte(0, "seed")},
        $rounds
        SELECT vec_id, sel_round, min_d2 FROM (
          SELECT 0 AS sel_round, vec_id, CAST(0 AS BIGINT) AS min_d2 FROM seed
          UNION ALL $sel)
        ORDER BY sel_round"""
      }),

    // ----- emb_knn_accuracy: leave-one-out k-NN label probe --------------
    // The cheapest meaningful quality probe for an embedding space: if
    // 5-NN majority vote can't recover a vector's own label, the space
    // is not separating the classes the pipeline cares about (run before
    // trusting any embedding-driven dedup/curation). Candidates come
    // from the SAME LSH buckets as emb_knn_graph — O(n·bucket), never
    // all pairs — ranked by the exact fixed-point dot; majority vote
    // tie-breaks on the smaller label; per-label accuracy plus sample
    // counts, all exact integers until the final ratios.
    "emb_knn_accuracy" -> Q(
      build = (s, d) => {
        val e = emb(s, d).withColumn("nq", qdot(col("embedding"), col("embedding")))
        val xq = transform(col("embedding"),
          x => floor(x.cast(DoubleType) * lit(1048576.0)).cast(LongType))
        val sig = (0 until LshPlanes).map { p =>
          val plane = typedLit((0 until 64).map(c => lshSign(p, c)))
          val dot = aggregate(
            zip_with(xq, plane, (x, pl) => x * pl), lit(0L), (acc, x) => acc + x)
          when(dot >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
        }.reduce(_.bitwiseOR(_))
        val keyed = e.select(col("vec_id"), col("label"), col("embedding"),
          sig.as("bucket"))
        val a = keyed.select(col("bucket"), col("vec_id"), col("label"),
          col("embedding").as("emb_a"))
        val b = keyed.select(col("bucket"), col("vec_id").as("n_vec_id"),
          col("label").as("n_label"), col("embedding").as("emb_b"))
        val nn = a.join(b, Seq("bucket"))
          .filter(col("vec_id") =!= col("n_vec_id"))
          .withColumn("simq", qdot(col("emb_a"), col("emb_b")))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("vec_id"))
              .orderBy(col("simq").desc, col("n_vec_id"))))
          .filter(col("rn") <= 5)
        val votes = nn.groupBy(col("vec_id"), col("label"), col("n_label"))
          .agg(count(lit(1)).as("v"))
        val pred = votes
          .groupBy(col("vec_id"), col("label"))
          .agg(max(struct(col("v"), (-col("n_label")).as("nl"))).as("m"))
          .select(col("vec_id"), col("label"),
            (-col("m.nl")).as("pred_label"))
        pred.groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("pred_label") === col("label"), 1L).otherwise(0L))
              .as("n_correct"))
          .withColumn("accuracy",
            col("n_correct").cast(DoubleType) / col("n_vecs"))
          .orderBy(col("label"))
      },
      oracle = Some {
        val planeRows = (for {
          p <- 0 until LshPlanes
          c <- 0 until 64
        } yield s"($p,${1L << p},${c + 1},${lshSign(p, c)})").mkString(",")
        s"""
        WITH planes(p, w, i, s) AS (VALUES $planeRows),
        xq AS (
          SELECT vec_id, t.i AS i,
                 CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE)*1048576.0) AS BIGINT) AS x
          FROM embeddings, generate_series(1, 64) AS t(i)),
        sig AS (
          SELECT x.vec_id,
                 CAST(SUM(CASE WHEN pd.d >= 0 THEN pd.w ELSE 0 END) AS BIGINT)
                   AS bucket
          FROM (SELECT vec_id FROM embeddings) x
          JOIN (SELECT xq.vec_id, pl.p, MAX(pl.w) AS w,
                       SUM(xq.x * pl.s) AS d
                FROM xq JOIN planes pl ON pl.i = xq.i
                GROUP BY 1, 2) pd ON pd.vec_id = x.vec_id
          GROUP BY 1),
        keyed AS (
          SELECT e.vec_id, e.label, s.bucket
          FROM embeddings e JOIN sig s ON s.vec_id = e.vec_id),
        pairs AS (
          SELECT a.vec_id, a.label, b.vec_id AS n_vec_id, b.label AS n_label,
                 CAST(SUM(${qterm("ea.embedding[t.i]", "eb.embedding[t.i]")}) AS BIGINT) AS simq
          FROM keyed a JOIN keyed b
            ON b.bucket = a.bucket AND b.vec_id <> a.vec_id
          JOIN embeddings ea ON ea.vec_id = a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id,
          generate_series(1, 64) AS t(i)
          GROUP BY 1, 2, 3, 4),
        nn AS (
          SELECT * FROM (
            SELECT p.*, ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY simq DESC, n_vec_id) AS rn
            FROM pairs p) WHERE rn <= 5),
        votes AS (
          SELECT vec_id, label, n_label, COUNT(*) AS v
          FROM nn GROUP BY 1, 2, 3),
        pred AS (
          SELECT vec_id, label, n_label AS pred_label FROM (
            SELECT v.*, ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY v DESC, n_label) AS pr
            FROM votes v) WHERE pr = 1)
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(CASE WHEN pred_label = label THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_correct,
               CAST(SUM(CASE WHEN pred_label = label THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*) AS accuracy
        FROM pred GROUP BY 1 ORDER BY label"""
      }),

    // ----- emb_ivf_balance: index-health report --------------------------
    // The balance audit run before trusting an IVF index: per-cell vector
    // counts, share of the corpus, and the balance factor n·k/total (1.0
    // = perfectly even; a hot cell >> 1 means its probes degrade toward
    // brute force and its partition skews the scan). Same shared
    // assignment frame as the probe path, one tiny groupBy on the cell.
    "emb_ivf_balance" -> Q(
      build = (s, d) => {
        val cells = ivfAssigned(s, d)
          .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
        val t = cells.agg(sum(col("n_vecs")).as("tot"),
          count(lit(1)).as("k"))
        cells.crossJoin(broadcast(t))
          .select(col("cell"), col("n_vecs"),
            (col("n_vecs").cast(DoubleType) / col("tot")).as("share"),
            (col("n_vecs").cast(DoubleType) * col("k") / col("tot"))
              .as("balance"))
          .orderBy(col("cell"))
      },
      oracle = Some(s"""$IVF_ASSIGN_CTES,
        cells AS (SELECT cell, COUNT(*) AS n_vecs FROM assigned GROUP BY 1),
        t AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS tot, COUNT(*) AS k
              FROM cells)
        SELECT c.cell, c.n_vecs,
               CAST(c.n_vecs AS DOUBLE) / t.tot AS share,
               CAST(c.n_vecs AS DOUBLE) * t.k / t.tot AS balance
        FROM cells c, t ORDER BY c.cell""")),

    // ----- emb_lsh_ann: random-hyperplane LSH buckets --------------------
    // 8 deterministic pseudo-random hyperplanes (hash-derived ±1
    // components); sign bits form the bucket key. Candidates share a
    // bucket — O(n) shuffle instead of O(n²) crossJoin at scale. The
    // plane dot is the ±-signed sum of the 2^20-quantized coordinates —
    // an exact BIGINT, so the sign bit (and hence every bucket id) is
    // order-free and reproducible in the DuckDB oracle, which recomputes
    // the signature from the same ±1 literals.
    "emb_lsh_ann" -> Q(
      build = (s, d) => {
        val e = emb(s, d)
        val xq = transform(col("embedding"),
          x => floor(x.cast(DoubleType) * lit(1048576.0)).cast(LongType))
        val sig = (0 until LshPlanes).map { p =>
          val plane = typedLit((0 until 64).map(c => lshSign(p, c)))
          val dot = aggregate(
            zip_with(xq, plane, (x, pl) => x * pl), lit(0L), (acc, x) => acc + x)
          when(dot >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
        }.reduce(_.bitwiseOR(_))
        val keyed = e.select(col("vec_id"), col("label"), sig.as("bucket"))
        keyed.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_vecs"),
            countDistinct(col("label")).as("n_labels"),
            min(col("vec_id")).as("min_vec_id"))
          .orderBy(col("bucket"))
      },
      oracle = Some {
        val planeRows = (for {
          p <- 0 until LshPlanes
          c <- 0 until 64
        } yield s"($p,${1L << p},${c + 1},${lshSign(p, c)})").mkString(",")
        s"""
        WITH planes(p, w, i, s) AS (VALUES $planeRows),
        xq AS (
          SELECT vec_id, label, t.i AS i,
                 CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE)*1048576) AS BIGINT) AS xq
          FROM embeddings, generate_series(1, 64) AS t(i)),
        dots AS (
          SELECT x.vec_id, p.p, p.w, CAST(SUM(x.xq*p.s) AS BIGINT) AS dp
          FROM xq x JOIN planes p ON x.i = p.i GROUP BY 1, 2, 3),
        sig AS (
          SELECT vec_id, CAST(SUM(CASE WHEN dp >= 0 THEN w ELSE 0 END) AS BIGINT) AS bucket
          FROM dots GROUP BY 1)
        SELECT g.bucket, COUNT(*) AS n_vecs,
               CAST(COUNT(DISTINCT e.label) AS BIGINT) AS n_labels,
               MIN(e.vec_id) AS min_vec_id
        FROM sig g JOIN embeddings e ON g.vec_id = e.vec_id
        GROUP BY g.bucket ORDER BY g.bucket"""
      }),

    // ----- emb_outliers: distance-to-own-centroid QC ---------------------
    // Label-quality audit (mislabeled / corrupt vectors): top-5 vectors
    // farthest from their label centroid. All comparisons happen on the
    // exact integer  sum((xq*n - Sq)^2)  — quantized coordinates times the
    // group count minus the quantized coordinate sums — so the ranking is
    // order-free and cross-engine; only the final reported distance
    // divides/sqrt's (identical IEEE ops). Shuffles: per-(label,pos) sums,
    // join back, per-vec sum — all keyed on the label.
    "emb_outliers" -> Q(
      build = (s, d) => {
        val q = emb(s, d)
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("pos", "x")))
          .withColumn("xq",
            floor(col("x").cast(DoubleType) * lit(16384.0)).cast(LongType))
        val sums = q.groupBy(col("label"), col("pos"))
          .agg(sum(col("xq")).as("sq"), count(lit(1)).as("n"))
        val d2 = q.join(sums, Seq("label", "pos"))
          .withColumn("t", col("xq") * col("n") - col("sq"))
          .groupBy(col("vec_id"), col("label"))
          .agg(max(col("n")).as("n"), sum(col("t") * col("t")).as("d2n"))
        val w = Window.partitionBy(col("label")).orderBy(col("d2n").desc, col("vec_id"))
        d2.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("label"), col("rn"), col("vec_id"),
            (sqrt(col("d2n").cast(DoubleType)) / (lit(16384.0) * col("n")))
              .as("dist"))
          .orderBy(col("label"), col("rn"))
      },
      oracle = Some("""
        WITH q AS (
          SELECT vec_id, label, t.i AS pos,
                 CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE)*16384) AS BIGINT) AS xq
          FROM embeddings, generate_series(1, 64) AS t(i)),
        s AS (SELECT label, pos, CAST(SUM(xq) AS BIGINT) AS sq, COUNT(*) AS n
              FROM q GROUP BY 1, 2),
        d AS (SELECT q.vec_id, q.label, MAX(s.n) AS n,
                     CAST(SUM((q.xq*s.n - s.sq)*(q.xq*s.n - s.sq)) AS BIGINT) AS d2n
              FROM q JOIN s ON q.label = s.label AND q.pos = s.pos
              GROUP BY 1, 2)
        SELECT label, CAST(rn AS INT) AS rn, vec_id,
               sqrt(CAST(d2n AS DOUBLE)) / (16384.0 * n) AS dist
        FROM (SELECT d.*, ROW_NUMBER() OVER (PARTITION BY label
                ORDER BY d2n DESC, vec_id) AS rn FROM d)
        WHERE rn <= 5 ORDER BY label, rn""")),

    // ----- emb_pq_topk: product-quantization ANN (ADC search) ------------
    // The memory-compression leg of the ANN triad (LSH buckets, IVF cells,
    // PQ codes): split the 64-dim vector into 8 subspaces of 8 dims, build
    // a per-subspace codebook (10 codes/subspace, the k-means-lite
    // quantizer), encode every vector as 8 small codes, then answer top-k
    // by asymmetric distance (query subvector vs. code centroid, summed
    // via a broadcast codebook join). At 100 TB the codes are 8
    // bytes/vector instead of 256 — the scan-side payload shrinks 32x
    // while distances stay a narrow map over the code columns.
    "emb_pq_topk" -> Q(
      build = (s, d) => {
        val nSub = 8 // subspaces of 8 dims each
        val e = emb(s, d)
        val isFloat = floatEmbedding(e)
        val sub = e.select(col("vec_id"), col("label"),
            posexplode(expr("transform(sequence(0, 7), b -> slice(embedding, b*8 + 1, 8))")))
          .toDF("vec_id", "label", "sub_id", "sub_vec")
        // ADC distance: query subvector vs. code centroid — per-dim
        // residual quantized to BIGINT (RoundKernels.distQ's rule: order-
        // free exact sums, the fixed-point discipline of emb_kmeans) so
        // ADC ranking and the reported distance carry a DuckDB oracle
        val dist2 = aggregate(
          zip_with(col("sub_vec"), col("centroid"), (x, c) =>
            floor((x.cast(DoubleType) - c) * (x.cast(DoubleType) - c)
              * lit(1073741824.0)).cast(LongType)),
          lit(0L), (acc, x) => acc + x)
        // codebook: each label's quantized mean vector seeds one code
        // (code = label), then 2 Lloyd rounds over the 8 subspaces train
        // it (RoundKernels.lloydRound, the emb_kmeans round: each
        // subvector goes to its nearest code, ties to the lowest code, and
        // each code's subspace takes the quantized mean of the subvectors
        // it won). A code that wins no subvector of a subspace keeps its
        // previous centroid there. The 10×64 centroids are the only state
        // a round hands to the next, so they live on the driver.
        val seed = e.select(col("label"), posexplode(col("embedding")))
          .groupBy(col("label"), col("pos"))
          .agg((sum(floor(col("col").cast(DoubleType) * 16384.0).cast(LongType))
            .cast(DoubleType) / (lit(16384.0) * count(lit(1)))).as("m"))
          .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
          .map { case (code, rs) => (code, rs.sortBy(_.getInt(1)).map(_.getDouble(2))) }
        // the vectors, planned once; each round re-reads them
        val vecs = e.select(col("embedding")).queryExecution.toRdd
        val cents = (1 to 2).foldLeft(seed.map(_._2).toArray) { (cb, _) =>
          val next = RoundKernels.lloydRound(vecs, isFloat, nSub, cb)
          cb.indices.map(j => cb(j).grouped(cb(j).length / nSub).zip(next(j))
            .flatMap { case (old, upd) => upd.getOrElse(old) }.toArray).toArray
        }
        val codebook = s.createDataFrame((for {
            sid <- 0 until nSub
            ((code, _), m) <- seed.zip(cents)
          } yield Row(sid, code, m.slice(sid * 8, sid * 8 + 8).toSeq)).asJava,
          StructType(Seq(StructField("sub_id", IntegerType, nullable = false),
            StructField("code", IntegerType),
            StructField("centroid", ArrayType(DoubleType, containsNull = false)))))
        // encode: each subvector takes the nearest code of its subspace
        // by the rule the rounds train with (RoundKernels.nearest over
        // distQ; codes ascend, so a tie goes to the lowest code)
        val codes = e.select(col("vec_id"), col("label"),
            posexplode(array((0 until nSub).map { b =>
              SimFunctions.nearestCentroid(slice(col("embedding"), b * 8 + 1, 8),
                seed.map(_._1), cents.map(_.slice(b * 8, b * 8 + 8).toSeq).toSeq)("cid")
            }: _*)))
          .toDF("vec_id", "label", "sub_id", "code")
        // ADC: queries (vec_id < 10) score candidates by summed
        // query-subvector -> code-centroid distances
        val lut = sub.filter(col("vec_id") < 10)
          .join(broadcast(codebook), Seq("sub_id"))
          .select(col("vec_id").as("q_vec_id"), col("sub_id"), col("code"),
            dist2.as("qd2"))
        val wTop = Window.partitionBy(col("q_vec_id"))
          .orderBy(col("adc_d2"), col("vec_id"))
        codes.join(broadcast(lut), Seq("sub_id", "code"))
          .filter(col("vec_id") =!= col("q_vec_id"))
          .groupBy(col("q_vec_id"), col("vec_id"), col("label"))
          .agg(sum(col("qd2")).as("adc_d2"), count(lit(1)).as("n_sub"))
          .filter(col("n_sub") === nSub) // all subspaces present
          .withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= 5)
          .select(col("q_vec_id"), col("rn"), col("vec_id").as("n_vec_id"),
            col("label"),
            round(sqrt(col("adc_d2").cast(DoubleType) / 1073741824.0), 6).as("adc_dist"))
          .orderBy(col("q_vec_id"), col("rn"))
      },
      oracle = Some {
        // d2 between a subvector (from sub) and a codebook centroid c,
        // per-dim quantized — shared fragment for encode + query LUT
        def dq(x: String, c: String): String =
          s"CAST(SUM(CAST(FLOOR(($x-$c)*($x-$c)*1073741824.0) AS BIGINT)) AS BIGINT)"
        // 2 Lloyd rounds unrolled: encode against cb{r-1}, re-mean, carry
        // previous centroid for empty codes (COALESCE = the Spark left join)
        val rounds = (1 to 2).map { r =>
          s"""enc$r AS (
            SELECT vec_id, sub_id, code FROM (
              SELECT s.vec_id, s.sub_id, c.code, ROW_NUMBER() OVER (
                PARTITION BY s.vec_id, s.sub_id
                ORDER BY ${dq("s.v", "c.c")}, c.code) AS rn
              FROM sub s JOIN cb${r - 1} c ON s.sub_id = c.sub_id AND s.pos = c.pos
              GROUP BY s.vec_id, s.sub_id, c.code)
            WHERE rn = 1),
          upd$r AS (
            SELECT e.sub_id, e.code, s.pos,
                   CAST(SUM(CAST(FLOOR(s.v*16384.0) AS BIGINT)) AS DOUBLE)
                     / (16384.0*COUNT(*)) AS c
            FROM enc$r e JOIN sub s ON s.vec_id = e.vec_id AND s.sub_id = e.sub_id
            GROUP BY 1, 2, 3),
          cb$r AS (
            SELECT p.sub_id, p.code, p.pos, COALESCE(u.c, p.c) AS c
            FROM cb${r - 1} p LEFT JOIN upd$r u
              ON u.sub_id = p.sub_id AND u.code = p.code AND u.pos = p.pos)"""
        }.mkString(",\n")
        s"""
        WITH sub AS (
          SELECT vec_id, label, CAST((t.i-1)//8 AS INT) AS sub_id,
                 CAST((t.i-1)%8 AS INT) AS pos, CAST(embedding[t.i] AS DOUBLE) AS v
          FROM embeddings, generate_series(1, 64) AS t(i)),
        cb0 AS (
          SELECT sub_id, label AS code, pos,
                 CAST(SUM(CAST(FLOOR(v*16384.0) AS BIGINT)) AS DOUBLE)
                   / (16384.0*COUNT(*)) AS c
          FROM sub GROUP BY 1, 2, 3),
        $rounds,
        codes AS (
          SELECT vec_id, label, sub_id, code FROM (
            SELECT s.vec_id, MIN(s.label) AS label, s.sub_id, c.code,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub_id
                     ORDER BY ${dq("s.v", "c.c")}, c.code) AS rn
            FROM sub s JOIN cb2 c ON s.sub_id = c.sub_id AND s.pos = c.pos
            GROUP BY s.vec_id, s.sub_id, c.code)
          WHERE rn = 1),
        lut AS (
          SELECT s.vec_id AS q_vec_id, s.sub_id, c.code, ${dq("s.v", "c.c")} AS qd2
          FROM sub s JOIN cb2 c ON s.sub_id = c.sub_id AND s.pos = c.pos
          WHERE s.vec_id < 10
          GROUP BY s.vec_id, s.sub_id, c.code),
        adc AS (
          SELECT l.q_vec_id, k.vec_id, k.label,
                 CAST(SUM(l.qd2) AS BIGINT) AS adc_d2, COUNT(*) AS n_sub
          FROM codes k JOIN lut l ON l.sub_id = k.sub_id AND l.code = k.code
          WHERE k.vec_id <> l.q_vec_id
          GROUP BY 1, 2, 3)
        SELECT q_vec_id, CAST(rn AS INT) AS rn, vec_id AS n_vec_id, label,
               round(sqrt(CAST(adc_d2 AS DOUBLE)/1073741824.0), 6) AS adc_dist
        FROM (SELECT a.*, ROW_NUMBER() OVER (PARTITION BY q_vec_id
                ORDER BY adc_d2, vec_id) AS rn
              FROM adc a WHERE n_sub = 8)
        WHERE rn <= 5 ORDER BY q_vec_id, rn"""
      }),

    // ----- emb_kmeans: Lloyd clustering (IVF coarse-quantizer training) --
    // The training step the IVF index (emb_ivf_topk) assumes: k=8 centroids
    // refined by 3 Lloyd rounds from a deterministic seed (the 8 lowest
    // vec_ids). The k×64 centroids are the only state a round hands to the
    // next, so they live on the driver. The vectors are read once into a
    // persisted RDD, which the seed job fills and the builder unpersists
    // before it returns. A round is one single-stage RDD aggregate over
    // them (RoundKernels.lloydRound): each task
    // assigns its vectors to their nearest centroid and sums floor(x·16384)
    // per cluster and dimension, and the driver divides the k·64 sums by
    // the counts, the same order-free quantized mean as emb_centroids. No
    // round plans a DataFrame, and the aggregate carries k·65 Longs a task,
    // not vectors, so it scales to any corpus size. The distance is the
    // per-dimension squared residual quantized to BIGINT before the sum:
    // exact and order-free, with ties going to the lowest cid — the
    // discipline that lets a fixed-round Lloyd carry a DuckDB oracle
    // (unrolled CTE per round, like geo_geodesic). The final assignment
    // runs the same kernel as one expression over the collected centroids.
    "emb_kmeans" -> Q(
      build = (s, d) => {
        val k = 8
        val e = emb(s, d)
        val isFloat = floatEmbedding(e)
        // the vectors, read once: the seed job caches them for the rounds
        val vecs = RoundKernels.persisted(
          e.select(col("embedding"), col("vec_id").cast(LongType)).queryExecution.toRdd)
        // a cluster that ends up empty is dropped
        val (cids, cents) = try {
          (1 to 3).foldLeft(RoundKernels.below(vecs, isFloat, k).unzip) {
            case ((c, m), _) => c.zip(RoundKernels.lloydRound(vecs, isFloat, 1, m))
              .collect { case (cid, Array(Some(mean))) => (cid, mean) }.unzip
          }
        } finally vecs.unpersist(blocking = false)
        e.select(col("vec_id"), col("label"), SimFunctions.nearestCentroid(
            col("embedding"), cids.toSeq, cents.map(_.toSeq).toSeq).as("n"))
          .select(col("vec_id"), col("label"), col("n.cid").as("cid"),
            count(lit(1)).over(Window.partitionBy(col("n.cid"))).as("cluster_size"),
            round(sqrt(col("n.dist_q").cast(DoubleType) / 1073741824.0), 6).as("dist"))
          .orderBy(col("vec_id"))
      },
      oracle = Some {
        // unrolled Lloyd rounds: centroids_r and assignment_r as CTE
        // layers generated by the same loop count as the Spark side
        val rounds = (1 to 3).map { r =>
          s"""a$r AS (
            SELECT vec_id, cid, dq FROM (
              SELECT x.vec_id, c.cid,
                     CAST(SUM(CAST(FLOOR((x.x-c.c)*(x.x-c.c)*1073741824.0) AS BIGINT)) AS BIGINT) AS dq,
                     ROW_NUMBER() OVER (PARTITION BY x.vec_id
                       ORDER BY CAST(SUM(CAST(FLOOR((x.x-c.c)*(x.x-c.c)*1073741824.0) AS BIGINT)) AS BIGINT), c.cid) AS rn
              FROM x JOIN c${r - 1} c ON x.pos = c.pos
              GROUP BY x.vec_id, c.cid)
            WHERE rn = 1),
          c$r AS (
            SELECT a.cid, x.pos,
                   CAST(SUM(CAST(FLOOR(x.x*16384.0) AS BIGINT)) AS DOUBLE)
                     / (16384.0*COUNT(*)) AS c
            FROM a$r a JOIN x ON x.vec_id = a.vec_id
            GROUP BY 1, 2)"""
        }.mkString(",\n")
        s"""
        WITH x AS (
          SELECT vec_id, label, t.i AS pos, CAST(embedding[t.i] AS DOUBLE) AS x
          FROM embeddings, generate_series(1, 64) AS t(i)),
        c0 AS (
          SELECT CAST(vec_id AS INT) AS cid, pos, x AS c FROM x WHERE vec_id < 8),
        $rounds,
        final AS (
          SELECT vec_id, cid, dq FROM (
            SELECT x.vec_id, c.cid,
                   CAST(SUM(CAST(FLOOR((x.x-c.c)*(x.x-c.c)*1073741824.0) AS BIGINT)) AS BIGINT) AS dq,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                     ORDER BY CAST(SUM(CAST(FLOOR((x.x-c.c)*(x.x-c.c)*1073741824.0) AS BIGINT)) AS BIGINT), c.cid) AS rn
            FROM x JOIN c3 c ON x.pos = c.pos
            GROUP BY x.vec_id, c.cid)
          WHERE rn = 1)
        SELECT f.vec_id, e.label, f.cid,
               COUNT(*) OVER (PARTITION BY f.cid) AS cluster_size,
               round(sqrt(CAST(f.dq AS DOUBLE)/1073741824.0), 6) AS dist
        FROM final f JOIN embeddings e ON e.vec_id = f.vec_id
        ORDER BY f.vec_id"""
      }),

    // ----- emb_dim_stats: per-dimension whitening statistics -------------
    // The normalization pass every embedding pipeline runs before
    // PCA/whitening or index training (mean-center + scale): per
    // dimension, n / mean / variance / min / max over the whole corpus.
    // Sums are fixed-point BIGINTs (floor(x·2^30), floor(x²·2^30)), so
    // the aggregation is order-free and map-side combinable — at 100 TB
    // this is ONE combinable shuffle of 64 groups, the cheapest possible
    // full-corpus statistic. Mean/variance derive from the two integer
    // sums with deterministic IEEE ops only.
    "emb_dim_stats" -> Q(
      build = (s, d) => {
        val q = 1073741824.0 // 2^30
        emb(s, d)
          .select(posexplode(col("embedding")).as(Seq("pos", "x")))
          .select((col("pos") + 1).cast(LongType).as("dim"),
            col("x").cast(DoubleType).as("v"))
          .groupBy(col("dim"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("v") * q).cast(LongType)).as("qs"),
            sum(floor(col("v") * col("v") * q).cast(LongType)).as("qss"),
            min(col("v")).as("vmin"), max(col("v")).as("vmax"))
          .select(col("dim"), col("n"),
            round(col("qs").cast(DoubleType) / q / col("n"), 9).as("mean"),
            round(col("qss").cast(DoubleType) / q / col("n")
              - (col("qs").cast(DoubleType) / q / col("n"))
              * (col("qs").cast(DoubleType) / q / col("n")), 9).as("variance"),
            col("vmin"), col("vmax"))
          .orderBy(col("dim"))
      },
      oracle = Some("""
        WITH px AS (
          SELECT i AS dim, CAST(embedding[i] AS DOUBLE) AS v
          FROM embeddings, generate_series(1, 64) AS t(i)),
        agg AS (
          SELECT dim, COUNT(*) AS n,
                 SUM(CAST(FLOOR(v*1073741824) AS BIGINT)) AS qs,
                 SUM(CAST(FLOOR(v*v*1073741824) AS BIGINT)) AS qss,
                 MIN(v) AS vmin, MAX(v) AS vmax
          FROM px GROUP BY dim)
        SELECT dim, n,
               round(CAST(qs AS DOUBLE)/1073741824/n, 9) AS mean,
               round(CAST(qss AS DOUBLE)/1073741824/n
                 - (CAST(qs AS DOUBLE)/1073741824/n)
                 * (CAST(qs AS DOUBLE)/1073741824/n), 9) AS variance,
               vmin, vmax
        FROM agg ORDER BY dim""")),

    // ----- emb_gram: corpus Gram matrix via a typed Aggregator -----------
    // The Σ x·xᵀ pass PCA whitening / OPQ rotation training runs before
    // index build. The declarative form explodes d² = 4096 rows per
    // vector — that explode IS the job at 100 TB — so this uses the
    // custom GramMatrix Aggregator (functions/GramAggregator.scala):
    // each partition folds its vectors into ONE 4096-cell BIGINT buffer
    // map-side, partials merge element-wise, and the shuffle carries one
    // buffer per partition. Fixed-point cells keep the fold order-free,
    // so the DuckDB oracle (which does the honest double-unnest) must
    // agree bit-for-bit.
    "emb_gram" -> Q(
      build = (s, d) => {
        val spark = s
        import spark.implicits._
        val g = emb(s, d).select(col("embedding")).as[Seq[Float]]
          .select(graft.functions.GramMatrix(64).toColumn.name("g"))
        g.select(posexplode(col("g")).as(Seq("k", "qsum")))
          .select(expr("CAST(k DIV 64 + 1 AS BIGINT)").as("i"),
            expr("CAST(k % 64 + 1 AS BIGINT)").as("j"),
            col("qsum"),
            round(col("qsum").cast(DoubleType) / 67108864.0, 6).as("gram"))
          .orderBy(col("i"), col("j"))
      },
      oracle = Some("""
        WITH cells AS (
          SELECT i, j,
                 SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                   * CAST(embedding[j] AS DOUBLE) * 67108864) AS BIGINT)) AS qsum
          FROM embeddings, generate_series(1, 64) t(i), generate_series(1, 64) u(j)
          GROUP BY i, j)
        SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
               CAST(qsum AS BIGINT) AS qsum,
               round(CAST(qsum AS DOUBLE)/67108864.0, 6) AS gram
        FROM cells ORDER BY i, j"""))
  ,

    // ----- emb_pca_power: dominant principal component -------------------
    // The PCA pass index builders run before whitening/OPQ: dominant
    // eigenvector of the Gram matrix by 8 power iterations. Scale split:
    // the corpus-sized work is the Gram fold (GramMatrix aggregator —
    // map-side d² buffers, shuffle O(partitions·d²)), collected as its
    // 4,096 cells; the iteration then runs over the 64×64 matrix on the
    // driver (RoundKernels.powerStep), with no corpus access and no job.
    // Determinism: every matvec/norm/dot sums in fixed-point BIGINT
    // (order-free), iterates are rounded to 9 decimals as Spark's `round`
    // does, and the DuckDB oracle replays the identical 8 unrolled
    // iterations.
    "emb_pca_power" -> Q(
      build = (s, d) => {
        val spark = s
        import spark.implicits._
        val qsum = emb(s, d).select(col("embedding")).as[Seq[Float]]
          .select(graft.functions.GramMatrix(64).toColumn).head()
        val gram = qsum.map(q => RoundKernels.roundHalfUp(q / 67108864.0, 6))
          .grouped(64).map(_.toArray).toArray
        val v = (1 to 8).foldLeft(Array.fill(64)(0.125))((v, _) =>
          RoundKernels.powerStep(gram, v))
        val lam = RoundKernels.eigenvalue(gram, v)
        s.createDataFrame(v.indices.map(j => Row(j + 1L, v(j), lam)).asJava,
          StructType(Seq(StructField("dim", LongType), StructField("loading", DoubleType),
            StructField("eigenvalue", DoubleType))))
      },
      oracle = Some {
        val q30 = "1073741824.0"
        val iters = (1 to 8).map { k =>
          s"""w$k AS (
               SELECT g.i,
                      SUM(CAST(FLOOR(g.gram * v.vj * $q30) AS BIGINT)) AS qw
               FROM g JOIN v${k - 1} v ON v.j = g.j GROUP BY g.i),
             n$k AS (
               SELECT SUM(CAST(FLOOR((CAST(qw AS DOUBLE)/$q30)
                 * (CAST(qw AS DOUBLE)/$q30) * $q30) AS BIGINT)) AS nq
               FROM w$k),
             v$k AS (
               SELECT w.i AS j,
                      round((CAST(w.qw AS DOUBLE)/$q30)
                        / sqrt(CAST(n.nq AS DOUBLE)/$q30), 9) AS vj
               FROM w$k w, n$k n)"""
        }.mkString(",\n")
        s"""
        WITH cells AS (
          SELECT i, j,
                 SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                   * CAST(embedding[j] AS DOUBLE) * 67108864) AS BIGINT)) AS qsum
          FROM embeddings, generate_series(1, 64) t(i), generate_series(1, 64) u(j)
          GROUP BY i, j),
        g AS (
          SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
                 round(CAST(qsum AS DOUBLE)/67108864.0, 6) AS gram
          FROM cells),
        v0 AS (SELECT DISTINCT j, 0.125 AS vj FROM g),
        $iters,
        wf AS (
          SELECT g.i AS j,
                 CAST(SUM(CAST(FLOOR(g.gram * v.vj * $q30) AS BIGINT))
                   AS DOUBLE)/$q30 AS w
          FROM g JOIN v8 v ON v.j = g.j GROUP BY g.i),
        lam AS (
          SELECT round(CAST(SUM(CAST(FLOOR(v.vj * w.w * $q30) AS BIGINT))
                   AS DOUBLE)/$q30, 6) AS eigenvalue
          FROM v8 v JOIN wf w ON w.j = v.j)
        SELECT v.j AS dim, v.vj AS loading, l.eigenvalue
        FROM v8 v, lam l ORDER BY dim"""
      })
  ,

    // ----- emb_quantize_int8: scalar int8 index compression --------------
    // The 4× index-compression pass every production vector store ships
    // (FAISS SQ8, pgvector halfvec/int8): per-dimension global [min,max]
    // → 8-bit code floor((x-min)/scale) with midpoint dequantization,
    // plus per-vector reconstruction error. Scale shape: the dim stats
    // are ONE combinable shuffle of 64 groups (emb_dim_stats' plan), the
    // codes come from a broadcast join of those 64 rows — no second
    // full-corpus shuffle beyond the per-vector agg. Determinism: floor
    // (not round — no tie-break hazard) on IEEE-exact arithmetic, error
    // sums in fixed point (order-free), constant dims guarded before the
    // division can produce Inf.
    "emb_quantize_int8" -> Q(
      build = (s, d) => {
        val q = 1073741824.0 // 2^30
        val el = emb(s, d)
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("pos", "x")))
          .select(col("vec_id"), col("label"),
            (col("pos") + 1).cast(LongType).as("dim"),
            col("x").cast(DoubleType).as("v"))
        val stats = el.groupBy(col("dim"))
          .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
          .withColumn("scale",
            when(col("vmax") > col("vmin"),
              (col("vmax") - col("vmin")) / 255.0).otherwise(lit(0.0)))
        el.join(broadcast(stats), Seq("dim"))
          .withColumn("code",
            when(col("scale") === 0.0, 0L).otherwise(
              least(lit(255L),
                floor((col("v") - col("vmin")) / col("scale")).cast(LongType))))
          .withColumn("xhat",
            col("vmin") + (col("code").cast(DoubleType) + 0.5) * col("scale"))
          .withColumn("err",
            when(col("scale") === 0.0, 0.0).otherwise(col("v") - col("xhat")))
          .groupBy(col("vec_id"), col("label"))
          .agg(count(lit(1)).as("n_dims"),
            round(sum(floor(col("err") * col("err") * q).cast(LongType))
              .cast(DoubleType) / q / count(lit(1)), 9).as("mse"),
            round(max(abs(col("err"))), 9).as("max_abs_err"))
          .orderBy(col("vec_id"))
      },
      oracle = Some("""
        WITH el AS (
          SELECT vec_id, label, i AS dim,
                 CAST(embedding[i] AS DOUBLE) AS v
          FROM embeddings e,
               LATERAL unnest(generate_series(1, len(embedding))) AS t(i)),
        stats AS (
          SELECT dim, MIN(v) AS vmin, MAX(v) AS vmax,
                 CASE WHEN MAX(v) > MIN(v)
                      THEN (MAX(v) - MIN(v)) / 255.0 ELSE 0.0 END AS scale
          FROM el GROUP BY 1),
        coded AS (
          SELECT e.vec_id, e.label, e.v, s.vmin, s.scale,
                 CASE WHEN s.scale = 0.0 THEN 0
                      ELSE least(255, CAST(floor((e.v - s.vmin) / s.scale)
                                           AS BIGINT)) END AS code
          FROM el e JOIN stats s ON s.dim = e.dim),
        errs AS (
          SELECT vec_id, label,
                 CASE WHEN scale = 0.0 THEN 0.0
                      ELSE v - (vmin + (CAST(code AS DOUBLE) + 0.5) * scale)
                 END AS err
          FROM coded)
        SELECT vec_id, label, COUNT(*) AS n_dims,
               round(CAST(SUM(CAST(FLOOR(err * err * 1073741824.0) AS BIGINT))
                     AS DOUBLE) / 1073741824.0 / COUNT(*), 9) AS mse,
               round(MAX(abs(err)), 9) AS max_abs_err
        FROM errs GROUP BY 1, 2 ORDER BY vec_id""")),

    // ----- emb_knn_graph: approximate kNN-graph construction -------------
    // The index-build step graph-based ANN (HNSW/NN-descent families)
    // starts from: a k-nearest-neighbor graph, here approximated by
    // exact top-4 cosine WITHIN each random-hyperplane LSH bucket (the
    // emb_lsh_ann signature — O(Σ n_b²) pair work instead of n²). The
    // emitted per-vector report carries the graph-quality signals an
    // index builder watches: degree (bucket too small → underlinked) and
    // the reciprocal-edge count (symmetric neighborhoods → good bucket
    // geometry). Exact fixed-point sims, vec_id tie-breaks — the graph
    // is engine-identical edge for edge.
    "emb_knn_graph" -> Q(
      build = (s, d) => {
        val e = emb(s, d).withColumn("nq", qdot(col("embedding"), col("embedding")))
        val xq = transform(col("embedding"),
          x => floor(x.cast(DoubleType) * lit(1048576.0)).cast(LongType))
        val sig = (0 until LshPlanes).map { p =>
          val plane = typedLit((0 until 64).map(c => lshSign(p, c)))
          val dot = aggregate(
            zip_with(xq, plane, (x, pl) => x * pl), lit(0L), (acc, x) => acc + x)
          when(dot >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
        }.reduce(_.bitwiseOR(_))
        // corpus-adaptive refinement (r11; the semantic_dedup precedent):
        // 2^8 base buckets alone make per-bucket pair work O(n²/256) —
        // flat at ×100, disk-death at ×1000. Extra sign-plane bits split
        // each bucket so bucket count grows ∝ n and mean occupancy stays
        // ≤ KnnTargetBucket; k is an exact integer decision from one
        // 1-row count aggregate, identical on both engines. At gate SFs
        // k = 0 and the refinement is the identity (bits % 1 = 0).
        val bitsCol = (0 until KnnMaxSplit).map { p =>
          val signs = typedLit((0 until 64).map(c => knnSign(p, c)))
          val dot = aggregate(
            zip_with(xq, signs, (x, sgn) => x * sgn),
            lit(0L), (acc, x) => acc + x)
          when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
        }.reduce(_ + _)
        val kdf = e.agg(count(lit(1)).as("n_vec"))
          .select(expr(s"aggregate(sequence($KnnMaxSplit, 0, -1), " +
            s"CAST($KnnMaxSplit AS BIGINT), (acc, c) -> " +
            s"IF(256 * $KnnTargetBucket * shiftleft(CAST(1 AS BIGINT), c) " +
            s">= n_vec, CAST(c AS BIGINT), acc))").as("k"))
        val keyed = e.select(col("vec_id"), col("embedding"), col("nq"),
            sig.as("bucket"), bitsCol.as("bits"))
          .crossJoin(broadcast(kdf))
          .withColumn("sub",
            expr("bits % shiftleft(CAST(1 AS BIGINT), CAST(k AS INT))"))
        val a = keyed.select(col("bucket"), col("sub"), col("vec_id"),
          col("embedding").as("emb_a"), col("nq").as("nq_a"))
        val b = keyed.select(col("bucket"), col("sub"),
          col("vec_id").as("n_vec_id"),
          col("embedding").as("emb_b"), col("nq").as("nq_b"))
        val ranked = a.join(b, Seq("bucket", "sub"))
          .filter(col("vec_id") =!= col("n_vec_id"))
          .withColumn("simq", qdot(col("emb_a"), col("emb_b")))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("vec_id"))
              .orderBy(col("simq").desc, col("n_vec_id"))))
          .filter(col("rn") <= 4)
          .select(col("vec_id"), col("n_vec_id"))
        val edges = ranked.cache()
        val recip = edges
          .join(edges.select(col("vec_id").as("n_vec_id"),
            col("n_vec_id").as("vec_id")), Seq("vec_id", "n_vec_id"), "left_semi")
          .groupBy(col("vec_id")).agg(count(lit(1)).as("n_reciprocal"))
        edges.groupBy(col("vec_id")).agg(count(lit(1)).as("degree"))
          .join(recip, Seq("vec_id"), "left")
          .na.fill(0L, Seq("n_reciprocal"))
          .withColumn("well_linked",
            col("degree") === 4 && col("n_reciprocal") >= 2)
          .orderBy(col("vec_id"))
      },
      oracle = Some {
        val planeRows = (for {
          p <- 0 until LshPlanes
          c <- 0 until 64
        } yield s"($p,${1L << p},${c + 1},${lshSign(p, c)})").mkString(",")
        val kplaneRows = (for {
          p <- 0 until KnnMaxSplit
          c <- 0 until 64
        } yield s"($p,${1L << p},${c + 1},${knnSign(p, c)})").mkString(",")
        s"""
        WITH planes(p, w, i, s) AS (VALUES $planeRows),
        kplanes(p, w, i, s) AS (VALUES $kplaneRows),
        xq AS (
          SELECT vec_id, t.i AS i,
                 CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE)*1048576) AS BIGINT) AS xq
          FROM embeddings, generate_series(1, 64) AS t(i)),
        dots AS (
          SELECT x.vec_id, p.p, p.w, CAST(SUM(x.xq*p.s) AS BIGINT) AS dp
          FROM xq x JOIN planes p ON x.i = p.i GROUP BY 1, 2, 3),
        kdots AS (
          SELECT x.vec_id, p.p, p.w, CAST(SUM(x.xq*p.s) AS BIGINT) AS dp
          FROM xq x JOIN kplanes p ON x.i = p.i GROUP BY 1, 2, 3),
        kval AS (
          -- COALESCE mirrors the Spark aggregate's $KnnMaxSplit fallback:
          -- past ~4.3e9 vectors no c satisfies the bound and MIN is NULL,
          -- which would silently empty the oracle while the engine clamps
          SELECT CAST(COALESCE(MIN(g.c), $KnnMaxSplit) AS INT) AS k
          FROM generate_series(0, $KnnMaxSplit) AS g(c),
               (SELECT COUNT(*) AS n FROM embeddings) nn
          WHERE 256 * $KnnTargetBucket * (CAST(1 AS BIGINT) << g.c) >= nn.n),
        buckets AS (
          SELECT d.vec_id,
                 CAST(SUM(CASE WHEN d.dp >= 0 THEN d.w ELSE 0 END) AS BIGINT)
                   AS bucket,
                 CAST(kb.bits % (CAST(1 AS BIGINT) << kv.k) AS BIGINT) AS sub
          FROM dots d
          JOIN (SELECT vec_id,
                       CAST(SUM(CASE WHEN dp >= 0 THEN w ELSE 0 END) AS BIGINT)
                         AS bits
                FROM kdots GROUP BY 1) kb ON kb.vec_id = d.vec_id
          CROSS JOIN kval kv
          GROUP BY 1, 3),
        sims AS (
          SELECT a.vec_id, b.vec_id AS n_vec_id,
                 SUM(${qterm("ea.embedding[t.i]", "eb.embedding[t.i]")}) AS simq
          FROM buckets a JOIN buckets b
            ON a.bucket = b.bucket AND a.sub = b.sub AND a.vec_id <> b.vec_id
          JOIN embeddings ea ON ea.vec_id = a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id
          CROSS JOIN generate_series(1, 64) AS t(i)
          GROUP BY 1, 2),
        edges AS MATERIALIZED (
          SELECT vec_id, n_vec_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY simq DESC, n_vec_id) AS rn
            FROM sims) WHERE rn <= 4),
        recip AS (
          SELECT e.vec_id, COUNT(*) AS n_reciprocal
          FROM edges e
          WHERE EXISTS (SELECT 1 FROM edges r
                        WHERE r.vec_id = e.n_vec_id AND r.n_vec_id = e.vec_id)
          GROUP BY 1)
        SELECT d.vec_id, d.degree, COALESCE(r.n_reciprocal, 0) AS n_reciprocal,
               d.degree = 4 AND COALESCE(r.n_reciprocal, 0) >= 2
                 AS well_linked
        FROM (SELECT vec_id, COUNT(*) AS degree FROM edges GROUP BY 1) d
        LEFT JOIN recip r ON d.vec_id = r.vec_id
        ORDER BY d.vec_id"""
      }),

    // ----- emb_centroid_drift: embedding-distribution drift monitor ------
    // The drift check every embedding-backed index/pipeline runs between
    // ingestion batches: split the corpus into two deterministic halves
    // (vec_id parity standing in for batch A/B), compute per-label
    // centroids of each half with the exact fixed-point arithmetic of
    // emb_centroids, and report the squared centroid displacement per
    // label. A label whose halves disagree is drifting (or the split is
    // too small — n_a/n_b ride along for that call). Exact: quantized
    // coordinate sums, counts, and ONE double chain per dimension summed
    // in the fixed 64-dim order via the aggregate HOF.
    "emb_centroid_drift" -> Q(
      build = (s, d) => {
        def half(filter: Column, na: String, ca: String) = emb(s, d)
          .filter(filter)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy(col("label"), col("pos"))
          .agg(count(lit(1)).as("cnt"),
            sum(floor(col("x").cast(DoubleType) * 16384.0).cast(LongType))
              .as("sq"))
          .groupBy(col("label"))
          .agg(max(col("cnt")).as(na),
            array_sort(collect_list(struct(col("pos"),
              (col("sq").cast(DoubleType) / (lit(16384.0) * col("cnt"))).as("c"))))
              .as("ps"))
          .select(col("label"), col(na),
            expr("transform(ps, p -> p.c)").as(ca))
        val a = half(col("vec_id") % 2 === 0, "n_a", "cent_a")
        val b = half(col("vec_id") % 2 === 1, "n_b", "cent_b")
        a.join(b, Seq("label"))
          .withColumn("drift2", expr(
            """aggregate(zip_with(cent_a, cent_b, (x, y) ->
               CAST(FLOOR((x - y)*(x - y)*1073741824.0) AS BIGINT)),
               CAST(0 AS BIGINT), (acc, v) -> acc + v)"""))
          .select(col("label"), col("n_a"), col("n_b"),
            (col("drift2").cast(DoubleType) / 1073741824.0).as("drift_sq"),
            (col("drift2") > floor(lit(0.01) * 1073741824.0).cast(LongType))
              .as("drifted"))
          .orderBy(col("label"))
      },
      oracle = Some("""
        WITH el AS (
          SELECT vec_id, label, t.i AS pos,
                 CAST(embedding[t.i] AS DOUBLE) AS x
          FROM embeddings, generate_series(1, 64) AS t(i)),
        ha AS (
          SELECT label, pos, COUNT(*) AS cnt,
                 CAST(SUM(CAST(FLOOR(x*16384.0) AS BIGINT)) AS BIGINT) AS sq
          FROM el WHERE vec_id % 2 = 0 GROUP BY 1, 2),
        hb AS (
          SELECT label, pos, COUNT(*) AS cnt,
                 CAST(SUM(CAST(FLOOR(x*16384.0) AS BIGINT)) AS BIGINT) AS sq
          FROM el WHERE vec_id % 2 = 1 GROUP BY 1, 2),
        dims AS (
          SELECT a.label, a.pos, a.cnt AS n_a, b.cnt AS n_b,
                 CAST(FLOOR((CAST(a.sq AS DOUBLE)/(16384.0*a.cnt)
                       - CAST(b.sq AS DOUBLE)/(16384.0*b.cnt))
                     *(CAST(a.sq AS DOUBLE)/(16384.0*a.cnt)
                       - CAST(b.sq AS DOUBLE)/(16384.0*b.cnt))
                     *1073741824.0) AS BIGINT) AS d2
          FROM ha a JOIN hb b ON a.label = b.label AND a.pos = b.pos)
        SELECT label, MAX(n_a) AS n_a, MAX(n_b) AS n_b,
               CAST(CAST(SUM(d2) AS BIGINT) AS DOUBLE)/1073741824.0 AS drift_sq,
               CAST(SUM(d2) AS BIGINT)
                 > CAST(FLOOR(0.01*1073741824.0) AS BIGINT) AS drifted
        FROM dims GROUP BY 1 ORDER BY label""")),

    // ----- emb_mrl_recall: truncated-dimension recall audit --------------
    // The Matryoshka-representation question every index operator asks
    // before shipping a shorter embedding: how much of the exact top-k
    // survives if only the FIRST 16 of 64 dimensions are kept (MRL-style
    // prefix truncation — a 4x index-size/bandwidth cut)? Ground truth is
    // the full-dim exact top-5 (emb_cosine_topk's arithmetic); candidate
    // is the same brute-force top-5 over the prefix slice. Both sides use
    // the exact BIGINT fixed-point dot, so the per-query recall is
    // engine-stable. Same broadcast-probe shape as emb_recall_at_k —
    // O(n·|probes|), no all-pairs.
    "emb_mrl_recall" -> Q(
      build = (s, d) => {
        val e = emb(s, d)
          .withColumn("emb16", expr("slice(embedding, 1, 16)"))
          .withColumn("nq", qdot(col("embedding"), col("embedding")))
          .withColumn("nq16", qdot(col("emb16"), col("emb16")))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
            col("emb16").as("q_emb16"), col("nq").as("q_nq"),
            col("nq16").as("q_nq16"))
        val joined = e.join(broadcast(q), col("vec_id") =!= col("q_vec_id"))
          .withColumn("cos_full",
            qdot(col("q_emb"), col("embedding")).cast(DoubleType)
              / (sqrt(col("q_nq").cast(DoubleType)) * sqrt(col("nq").cast(DoubleType))))
          .withColumn("cos_16",
            qdot(col("q_emb16"), col("emb16")).cast(DoubleType)
              / (sqrt(col("q_nq16").cast(DoubleType)) * sqrt(col("nq16").cast(DoubleType))))
        val wf = Window.partitionBy(col("q_vec_id"))
          .orderBy(col("cos_full").desc, col("vec_id"))
        val wt = Window.partitionBy(col("q_vec_id"))
          .orderBy(col("cos_16").desc, col("vec_id"))
        val ranked = joined
          .withColumn("rn_full", row_number().over(wf))
          .withColumn("rn_16", row_number().over(wt))
        val exact = ranked.filter(col("rn_full") <= 5)
          .select(col("q_vec_id"), col("vec_id"))
        val trunc = ranked.filter(col("rn_16") <= 5)
          .select(col("q_vec_id"), col("vec_id"), lit(1L).as("hit"))
        exact.join(trunc, Seq("q_vec_id", "vec_id"), "left")
          .groupBy(col("q_vec_id"))
          .agg(count(lit(1)).as("k"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .withColumn("recall", col("n_hits").cast(DoubleType) / col("k"))
          .orderBy(col("q_vec_id"))
      },
      oracle = Some(s"""
        WITH n AS (
          SELECT vec_id,
                 SUM(${qterm("embedding[i]", "embedding[i]")}) AS nq,
                 SUM(CASE WHEN i <= 16
                     THEN ${qterm("embedding[i]", "embedding[i]")} END) AS nq16
          FROM embeddings, generate_series(1, 64) AS t(i) GROUP BY 1),
        dots AS (
          SELECT q.vec_id AS q_vec_id, e.vec_id AS n_vec_id,
                 SUM(${qterm("q.embedding[i]", "e.embedding[i]")}) AS dot,
                 SUM(CASE WHEN i <= 16
                     THEN ${qterm("q.embedding[i]", "e.embedding[i]")} END) AS dot16
          FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
          JOIN embeddings e ON e.vec_id <> q.vec_id
          CROSS JOIN generate_series(1, 64) AS t(i)
          GROUP BY 1, 2),
        sims AS (
          SELECT d.q_vec_id, d.n_vec_id,
                 CAST(d.dot AS DOUBLE)/(sqrt(CAST(nq1.nq AS DOUBLE))*sqrt(CAST(nq2.nq AS DOUBLE))) AS cos_full,
                 CAST(d.dot16 AS DOUBLE)/(sqrt(CAST(nq1.nq16 AS DOUBLE))*sqrt(CAST(nq2.nq16 AS DOUBLE))) AS cos_16
          FROM dots d
          JOIN n nq1 ON nq1.vec_id = d.q_vec_id
          JOIN n nq2 ON nq2.vec_id = d.n_vec_id),
        ranked AS (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY q_vec_id
                   ORDER BY cos_full DESC, n_vec_id) AS rn_full,
                 ROW_NUMBER() OVER (PARTITION BY q_vec_id
                   ORDER BY cos_16 DESC, n_vec_id) AS rn_16
          FROM sims)
        SELECT e.q_vec_id, CAST(COUNT(*) AS BIGINT) AS k,
               CAST(COUNT(t.n_vec_id) AS BIGINT) AS n_hits,
               CAST(COUNT(t.n_vec_id) AS DOUBLE)/COUNT(*) AS recall
        FROM (SELECT q_vec_id, n_vec_id FROM ranked WHERE rn_full <= 5) e
        LEFT JOIN (SELECT q_vec_id, n_vec_id FROM ranked WHERE rn_16 <= 5) t
          ON t.q_vec_id = e.q_vec_id AND t.n_vec_id = e.n_vec_id
        GROUP BY e.q_vec_id ORDER BY e.q_vec_id"""))
  ) ++ Seq(

    // ----- emb_rank_fusion: reciprocal-rank fusion of two retrievers -----
    // RRF (Cormack et al. 2009) — the standard way hybrid search merges
    // ranked lists without score calibration: fuse the cosine retriever
    // with the euclidean retriever, score = sum over lists of
    // 1/(60 + rank) for ranks <= 10. Both input rankings come from the
    // SAME exact BIGINT kernels (quantized dot; L2^2 = nq_a + nq_b -
    // 2*dot is pure integer algebra), and the RRF score is integer-
    // scaled 10^12 div (60 + r), so fusion, ordering, and the final
    // top-5 are engine-identical. Shape: probe-set broadcast against
    // the store, two per-query rank windows, one fused window — never
    // an all-pairs join.
    "emb_rank_fusion" -> Q(
      build = (s, d) => {
        val e = emb(s, d)
          .withColumn("nq", qdot(col("embedding"), col("embedding")))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
            col("nq").as("q_nq"))
        val wC = Window.partitionBy(col("q_vec_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
        val wE = Window.partitionBy(col("q_vec_id"))
          .orderBy(col("l2q"), col("vec_id"))
        val wF = Window.partitionBy(col("q_vec_id"))
          .orderBy(col("rrf_q").desc, col("vec_id"))
        e.join(broadcast(q), col("vec_id") =!= col("q_vec_id"))
          .withColumn("dot", qdot(col("q_emb"), col("embedding")))
          .withColumn("cos_sim", col("dot").cast(DoubleType)
            / (sqrt(col("q_nq").cast(DoubleType))
              * sqrt(col("nq").cast(DoubleType))))
          .withColumn("l2q", col("q_nq") + col("nq") - lit(2L) * col("dot"))
          .withColumn("rc", row_number().over(wC))
          .withColumn("re", row_number().over(wE))
          .withColumn("rrf_q",
            when(col("rc") <= 10, expr("1000000000000 div (60 + rc)"))
              .otherwise(0L)
              + when(col("re") <= 10, expr("1000000000000 div (60 + re)"))
              .otherwise(0L))
          .filter(col("rrf_q") > 0)
          .withColumn("rn", row_number().over(wF))
          .filter(col("rn") <= 5)
          .select(col("q_vec_id"), col("rn").cast(IntegerType).as("rn"),
            col("vec_id").as("n_vec_id"), col("rrf_q"),
            col("rc").cast(IntegerType).as("rank_cos"),
            col("re").cast(IntegerType).as("rank_l2"))
          .orderBy(col("q_vec_id"), col("rn"))
      },
      oracle = Some(s"""
        WITH n AS (
          SELECT vec_id, SUM(${qterm("embedding[i]", "embedding[i]")}) AS nq
          FROM embeddings, generate_series(1, 64) AS t(i) GROUP BY 1),
        dots AS (
          SELECT q.vec_id AS q_vec_id, e.vec_id,
                 SUM(${qterm("q.embedding[i]", "e.embedding[i]")}) AS dot
          FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
          JOIN embeddings e ON e.vec_id <> q.vec_id
          CROSS JOIN generate_series(1, 64) AS t(i)
          GROUP BY 1, 2),
        sims AS (
          SELECT d.q_vec_id, d.vec_id,
                 CAST(d.dot AS DOUBLE)
                   /(sqrt(CAST(nq1.nq AS DOUBLE))*sqrt(CAST(nq2.nq AS DOUBLE)))
                   AS cos_sim,
                 nq1.nq + nq2.nq - 2*d.dot AS l2q
          FROM dots d
          JOIN n nq1 ON nq1.vec_id = d.q_vec_id
          JOIN n nq2 ON nq2.vec_id = d.vec_id),
        ranked AS (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY q_vec_id
                   ORDER BY cos_sim DESC, vec_id) AS rc,
                 ROW_NUMBER() OVER (PARTITION BY q_vec_id
                   ORDER BY l2q, vec_id) AS re
          FROM sims),
        fused AS (
          SELECT *,
                 (CASE WHEN rc <= 10 THEN 1000000000000 // (60 + rc)
                       ELSE 0 END)
                 + (CASE WHEN re <= 10 THEN 1000000000000 // (60 + re)
                         ELSE 0 END) AS rrf_q
          FROM ranked)
        SELECT q_vec_id, CAST(rn AS INT) AS rn, vec_id AS n_vec_id, rrf_q,
               CAST(rc AS INT) AS rank_cos, CAST(re AS INT) AS rank_l2
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
                ORDER BY rrf_q DESC, vec_id) AS rn
              FROM fused WHERE rrf_q > 0)
        WHERE rn <= 5
        ORDER BY q_vec_id, rn""")),

    // ----- emb_hard_negatives: contrastive-training pair mining ----------
    // The mining step behind every contrastive embedding fine-tune: per
    // anchor, the hardest positive (most-similar vector of the SAME
    // label) and the hardest negative (most-similar vector of a
    // DIFFERENT label), with the triplet margin between them. A negative
    // margin marks label noise / boundary anchors — the rows a curation
    // pass escalates. Anchor set broadcasts against the store; both
    // argmaxes are single struct-min folds over exact quantized-cosine
    // doubles (map-side combinable, no sort, no pair materialization).
    "emb_hard_negatives" -> Q(
      build = (s, d) => {
        val e = emb(s, d)
          .withColumn("nq", qdot(col("embedding"), col("embedding")))
        val anchors = e.filter(col("vec_id") < 50)
          .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
            col("nq").as("a_nq"), col("label").as("a_label"))
        val scored = e.join(broadcast(anchors), col("vec_id") =!= col("a_id"))
          .withColumn("cos_sim",
            qdot(col("a_emb"), col("embedding")).cast(DoubleType)
              / (sqrt(col("a_nq").cast(DoubleType))
                * sqrt(col("nq").cast(DoubleType))))
          .withColumn("m",
            struct((-col("cos_sim")).as("nc"), col("vec_id").as("vid")))
        scored
          .groupBy(col("a_id"), col("a_label"))
          .agg(
            min(when(col("label") === col("a_label"), col("m"))).as("p"),
            min(when(col("label") =!= col("a_label"), col("m"))).as("ng"))
          .filter(col("p").isNotNull && col("ng").isNotNull)
          .select(col("a_id"), col("a_label"),
            col("p.vid").as("pos_id"), (-col("p.nc")).as("pos_sim"),
            col("ng.vid").as("neg_id"), (-col("ng.nc")).as("neg_sim"),
            (col("ng.nc") - col("p.nc")).as("margin"))
          .orderBy(col("a_id"))
      },
      oracle = Some(s"""
        WITH n AS (
          SELECT vec_id, SUM(${qterm("embedding[i]", "embedding[i]")}) AS nq
          FROM embeddings, generate_series(1, 64) AS t(i) GROUP BY 1),
        dots AS (
          SELECT a.vec_id AS a_id, a.label AS a_label,
                 e.vec_id, e.label,
                 SUM(${qterm("a.embedding[i]", "e.embedding[i]")}) AS dot
          FROM (SELECT * FROM embeddings WHERE vec_id < 50) a
          JOIN embeddings e ON e.vec_id <> a.vec_id
          CROSS JOIN generate_series(1, 64) AS t(i)
          GROUP BY 1, 2, 3, 4),
        sims AS (
          SELECT d.a_id, d.a_label, d.vec_id, d.label,
                 CAST(d.dot AS DOUBLE)
                   /(sqrt(CAST(n1.nq AS DOUBLE))*sqrt(CAST(n2.nq AS DOUBLE)))
                   AS cos_sim
          FROM dots d
          JOIN n n1 ON n1.vec_id = d.a_id
          JOIN n n2 ON n2.vec_id = d.vec_id),
        ranked AS (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY a_id,
                     (label = a_label)
                   ORDER BY cos_sim DESC, vec_id) AS r
          FROM sims),
        pos AS (SELECT a_id, a_label, vec_id AS pos_id, cos_sim AS pos_sim
                FROM ranked WHERE label = a_label AND r = 1),
        neg AS (SELECT a_id, vec_id AS neg_id, cos_sim AS neg_sim
                FROM ranked WHERE label <> a_label AND r = 1)
        SELECT p.a_id, p.a_label, p.pos_id, p.pos_sim,
               g.neg_id, g.neg_sim, p.pos_sim - g.neg_sim AS margin
        FROM pos p JOIN neg g ON g.a_id = p.a_id
        ORDER BY p.a_id"""))
  ) ++ Seq(

    // ----- emb_cluster_purity: cluster-quality audit ---------------------
    // The evaluation op that closes the clustering loop: assign every
    // vector to its nearest label-centroid cell (the IVF coarse
    // quantizer) and audit the assignment against the true labels —
    // per-cell size, majority label, and purity, the standard external
    // cluster-quality metrics a curation pipeline tracks per ingest
    // batch. Centroids are exact fixed-point means; the cell argmax is
    // an integer-quantized dot with label tie-break (struct-min fold,
    // map-side combinable); purity is one IEEE division of exact counts.
    "emb_cluster_purity" -> Q(
      build = (s, d) => {
        val e = emb(s, d)
        val cent = e
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy(col("label"), col("pos"))
          .agg((sum(floor(col("x").cast(DoubleType) * 16384.0).cast(LongType))
            .cast(DoubleType) / (lit(16384.0) * count(lit(1)))).as("c"))
          .groupBy(col("label"))
          .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("ps"))
          .select(col("label").as("cell"),
            expr("transform(ps, p -> p.c)").as("centroid"))
        val dotq = aggregate(
          zip_with(col("embedding"), col("centroid"), (x, c) =>
            floor(x.cast(DoubleType) * c * lit(1048576.0)).cast(LongType)),
          lit(0L), (acc, x) => acc + x)
        val assigned = e.crossJoin(broadcast(cent))
          .withColumn("m", struct((-dotq).as("nd"), col("cell").as("cl")))
          .groupBy(col("vec_id"), col("label"))
          .agg(min(col("m")).as("m"))
          .select(col("vec_id"), col("label"), col("m.cl").as("cell"))
        val conf = assigned.groupBy(col("cell"), col("label"))
          .agg(count(lit(1)).as("nl"))
        conf.groupBy(col("cell"))
          .agg(sum(col("nl")).as("n_vecs"),
            max(struct(col("nl"), (-col("label")).as("neg_l"))).as("mj"))
          .select(col("cell"), col("n_vecs"),
            (-col("mj.neg_l")).as("major_label"),
            col("mj.nl").as("n_major"),
            (col("mj.nl").cast(DoubleType) / col("n_vecs")).as("purity"))
          .orderBy(col("cell"))
      },
      oracle = Some(s"""
        WITH cent AS (
          SELECT label AS cell, i AS pos,
                 CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE)*16384)
                      AS BIGINT)) AS DOUBLE) / (16384.0*COUNT(*)) AS c
          FROM embeddings, generate_series(1, 64) AS t(i)
          GROUP BY 1, 2),
        dots AS (
          SELECT e.vec_id, e.label, c.cell,
                 SUM(CAST(FLOOR(CAST(e.embedding[c.pos] AS DOUBLE)
                      * c.c * 1048576) AS BIGINT)) AS dq
          FROM embeddings e CROSS JOIN cent c
          GROUP BY 1, 2, 3),
        assigned AS (
          SELECT vec_id, label, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY dq DESC, cell) AS r
          FROM dots),
        conf AS (
          SELECT cell, label, COUNT(*) AS nl
          FROM assigned WHERE r = 1 GROUP BY 1, 2),
        pick AS (
          SELECT cell, nl, label,
                 ROW_NUMBER() OVER (PARTITION BY cell
                   ORDER BY nl DESC, label) AS rm,
                 SUM(nl) OVER (PARTITION BY cell) AS n_vecs
          FROM conf)
        SELECT cell, CAST(n_vecs AS BIGINT) AS n_vecs,
               label AS major_label, nl AS n_major,
               CAST(nl AS DOUBLE) / n_vecs AS purity
        FROM pick WHERE rm = 1 ORDER BY cell""")),

    // ----- emb_dedup_sweep: threshold sweep for semantic dedup -----------
    // The calibration run before committing a SemDeDup pass at scale:
    // for each candidate cosine threshold, how many pairs fire and what
    // fraction of the corpus survives the keep-smallest-id rule
    // (removed = vectors with ANY smaller-id neighbor at >= t — the same
    // IVF-cell-blocked candidate pairs emb_semantic_dedup clusters, so
    // the sweep prices exactly the dedup that would run). The curve is
    // what picks the production threshold; emb_ann_sweep is the recall
    // analogue for the index side. Shape: the cell-blocked pair frame
    // once (O(Σcell²), never corpus²), a 5-way threshold explode on the
    // already-filtered survivors, two-stage distinct on (thresh, vec_b).
    "emb_dedup_sweep" -> Q(
      build = (s, d) => {
        val pairs = semanticScoredPairs(s, d)
        val tot = emb(s, d).agg(count(lit(1)).as("n_vec"))
        val th = s.range(1)
          .select(explode(expr("array(0.2D, 0.3D, 0.4D, 0.5D, 0.6D)"))
            .as("thresh"))
        val fired = pairs
          .filter(col("cos_sim") >= 0.2)
          .select(col("vec_b"), col("cos_sim"),
            explode(expr("array(0.2D, 0.3D, 0.4D, 0.5D, 0.6D)")).as("thresh"))
          .filter(col("cos_sim") >= col("thresh"))
          .groupBy(col("thresh"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("vec_b")).as("n_removed"))
        // dry thresholds stay on the curve as explicit zeros
        th.join(fired, Seq("thresh"), "left")
          .crossJoin(broadcast(tot))
          .select(col("thresh"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_removed"), lit(0L)).as("n_removed"),
            ((col("n_vec") - coalesce(col("n_removed"), lit(0L)))
              .cast(DoubleType) / col("n_vec").cast(DoubleType))
              .as("kept_frac"))
          .orderBy(col("thresh"))
      },
      oracle = Some(s"""
        WITH n AS (
          SELECT vec_id, SUM(${qterm("embedding[i]", "embedding[i]")}) AS nq
          FROM embeddings, generate_series(1, 64) AS t(i) GROUP BY 1),
        $ivfAssignSql,
        $ivfDotsSql,
        sims AS (
          SELECT d.vec_b,
                 CAST(d.dot AS DOUBLE)
                 / (sqrt(CAST(na.nq AS DOUBLE))*sqrt(CAST(nb.nq AS DOUBLE)))
                   AS cos_sim
          FROM dots d
          JOIN n na ON na.vec_id = d.vec_a
          JOIN n nb ON nb.vec_id = d.vec_b),
        th AS (SELECT unnest([0.2e0, 0.3e0, 0.4e0, 0.5e0, 0.6e0]) AS thresh),
        tot AS (SELECT COUNT(*) AS n_vec FROM embeddings),
        fired AS (
          SELECT t.thresh, COUNT(*) AS n_pairs,
                 COUNT(DISTINCT s.vec_b) AS n_removed
          FROM sims s JOIN th t ON s.cos_sim >= t.thresh
          GROUP BY 1)
        SELECT t.thresh,
               COALESCE(f.n_pairs, 0) AS n_pairs,
               COALESCE(f.n_removed, 0) AS n_removed,
               CAST(o.n_vec - COALESCE(f.n_removed, 0) AS DOUBLE)
                 / o.n_vec AS kept_frac
        FROM th t LEFT JOIN fired f ON f.thresh = t.thresh
        CROSS JOIN tot o
        ORDER BY t.thresh""")),

    // ----- emb_jl_sketch: random-projection ANN + recall probe ------------
    // Johnson-Lindenstrauss dimensionality reduction as a search index:
    // project 64-dim vectors to 16 dims through a deterministic ±1 sign
    // matrix (splitmix64 parity — the emb_lsh_ann discipline, distinct
    // seed), search top-10 by squared L2 in the PROJECTED space, and score
    // recall against the exact quantized-L2 top-10. The scale story is the
    // 4× distance-compute reduction (and the JL guarantee that pairwise
    // L2 survives the projection): projections are exact BIGINTs
    // (±-signed sums of 2^20-quantized coordinates, order-free), so every
    // ranking — and the recall — is bit-reproducible in the oracle.
    "emb_jl_sketch" -> Q(
      build = (s, d) => {
        val e = emb(s, d)
        val xq = transform(col("embedding"),
          x => floor(x.cast(DoubleType) * lit(1048576.0)).cast(LongType))
        // 16 projected coordinates as one array column: y_d = Σ_j s(d,j)·xq_j
        val proj = (0 until 16).map { dd =>
          val signs = typedLit((0 until 64).map(c => jlSign(dd, c)))
          aggregate(zip_with(xq, signs, (x, sg) => x * sg),
            lit(0L), (acc, x) => acc + x)
        }
        val y = e.select(col("vec_id"), array(proj: _*).as("y"))
        val qy = y.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_vec_id"), col("y").as("qy"))
        val jlDist = y.join(broadcast(qy), col("vec_id") =!= col("q_vec_id"))
          .withColumn("d2", aggregate(
            zip_with(col("qy"), col("y"), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x))
        val wJl = Window.partitionBy(col("q_vec_id"))
          .orderBy(col("d2"), col("vec_id"))
        val jlTop = jlDist.withColumn("rn", row_number().over(wJl))
          .filter(col("rn") <= 10)
          .select(col("q_vec_id"), col("vec_id"))
        // exact ground truth: squared L2 on the same quantized coordinates
        val ex = e.select(col("vec_id"), xq.as("xq"))
        val qx = ex.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_vec_id"), col("xq").as("qx"))
        val exDist = ex.join(broadcast(qx), col("vec_id") =!= col("q_vec_id"))
          .withColumn("d2", aggregate(
            zip_with(col("qx"), col("xq"), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x))
        val exTop = exDist.withColumn("rn", row_number().over(wJl))
          .filter(col("rn") <= 10)
          .select(col("q_vec_id"), col("vec_id"))
        qx.select(col("q_vec_id"))
          .join(jlTop.join(exTop, Seq("q_vec_id", "vec_id"))
            .groupBy(col("q_vec_id")).agg(count(lit(1)).as("n_overlap")),
            Seq("q_vec_id"), "left")
          .select(col("q_vec_id"),
            coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
            (coalesce(col("n_overlap"), lit(0L)).cast(DoubleType) / 10.0)
              .as("recall_at_10"))
          .orderBy(col("q_vec_id"))
      },
      oracle = Some {
        val signRows = (for {
          dd <- 0 until 16
          c <- 0 until 64
        } yield s"($dd,${c + 1},${jlSign(dd, c)})").mkString(",")
        s"""
        WITH signs(d, i, s) AS (VALUES $signRows),
        xq AS (
          SELECT vec_id, t.i AS i,
                 CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE)*1048576) AS BIGINT)
                   AS xq
          FROM embeddings, generate_series(1, 64) AS t(i)),
        y AS (
          SELECT x.vec_id, g.d, CAST(SUM(x.xq * g.s) AS BIGINT) AS y
          FROM xq x JOIN signs g ON g.i = x.i GROUP BY 1, 2),
        jl_d AS (
          SELECT q.vec_id AS q_vec_id, e.vec_id,
                 CAST(SUM((q.y - e.y)*(q.y - e.y)) AS BIGINT) AS d2
          FROM (SELECT * FROM y WHERE vec_id < 10) q
          JOIN y e ON e.d = q.d AND e.vec_id <> q.vec_id
          GROUP BY 1, 2),
        jl_top AS (
          SELECT q_vec_id, vec_id FROM (
            SELECT q_vec_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q_vec_id
                     ORDER BY d2, vec_id) AS rn
            FROM jl_d) WHERE rn <= 10),
        ex_d AS (
          SELECT q.vec_id AS q_vec_id, e.vec_id,
                 CAST(SUM((q.xq - e.xq)*(q.xq - e.xq)) AS BIGINT) AS d2
          FROM (SELECT * FROM xq WHERE vec_id < 10) q
          JOIN xq e ON e.i = q.i AND e.vec_id <> q.vec_id
          GROUP BY 1, 2),
        ex_top AS (
          SELECT q_vec_id, vec_id FROM (
            SELECT q_vec_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q_vec_id
                     ORDER BY d2, vec_id) AS rn
            FROM ex_d) WHERE rn <= 10),
        hit AS (
          SELECT j.q_vec_id, COUNT(*) AS n_overlap
          FROM jl_top j JOIN ex_top x
            ON x.q_vec_id = j.q_vec_id AND x.vec_id = j.vec_id
          GROUP BY 1)
        SELECT q.vec_id AS q_vec_id,
               COALESCE(h.n_overlap, 0) AS n_overlap,
               CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / 10.0 AS recall_at_10
        FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < 10) q
        LEFT JOIN hit h ON h.q_vec_id = q.vec_id
        ORDER BY q_vec_id"""
      }),

    // ----- emb_binary_hash: sign-binarized codes + hamming recall ---------
    // The memory-floor leg of the compression ladder (float32 256 B → PQ
    // 8 B → THIS: 8 B of sign bits): binarize each vector to two 32-bit
    // sign words (bit d = embedding[d] ≥ 0 — an exact IEEE sign test, so
    // the code is bit-reproducible with no quantization), search top-10 by
    // hamming distance (bit_count of the XOR — two table lookups per pair
    // at scale), score recall@10 against the exact quantized-cosine truth.
    // Two BIGINT words, not one, so no engine ever shifts into the sign
    // bit. The angle→hamming relation (Goemans-Williamson) is what LSH
    // banding exploits; this is its exhaustive-scan form.
    "emb_binary_hash" -> Q(
      build = (s, d) => {
        val e = emb(s, d)
        def word(lo: Int): Column = (0 until 32).map { b =>
          when(element_at(col("embedding"), lo + b + 1) >= 0f,
            shiftleft(lit(1L), b)).otherwise(lit(0L))
        }.reduce(_ + _)
        val coded = e.select(col("vec_id"),
          word(0).as("c_lo"), word(32).as("c_hi"))
        val q = coded.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_vec_id"),
            col("c_lo").as("q_lo"), col("c_hi").as("q_hi"))
        val ham = coded.join(broadcast(q), col("vec_id") =!= col("q_vec_id"))
          .withColumn("hamming",
            bit_count(col("c_lo").bitwiseXOR(col("q_lo"))) +
              bit_count(col("c_hi").bitwiseXOR(col("q_hi"))))
        val wq = Window.partitionBy(col("q_vec_id"))
          .orderBy(col("hamming"), col("vec_id"))
        val hamTop = ham.withColumn("rn", row_number().over(wq))
          .filter(col("rn") <= 10).select(col("q_vec_id"), col("vec_id"))
        // exact truth: quantized-cosine top-10 (the emb_cosine_topk body)
        val en = e.withColumn("nq", qdot(col("embedding"), col("embedding")))
        val qe = en.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
            col("nq").as("q_nq"))
        val cos = en.join(broadcast(qe), col("vec_id") =!= col("q_vec_id"))
          .withColumn("cos_sim",
            qdot(col("q_emb"), col("embedding")).cast(DoubleType)
              / (sqrt(col("q_nq").cast(DoubleType))
                * sqrt(col("nq").cast(DoubleType))))
        val wc = Window.partitionBy(col("q_vec_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
        val cosTop = cos.withColumn("rn", row_number().over(wc))
          .filter(col("rn") <= 10).select(col("q_vec_id"), col("vec_id"))
        qe.select(col("q_vec_id"))
          .join(hamTop.join(cosTop, Seq("q_vec_id", "vec_id"))
            .groupBy(col("q_vec_id")).agg(count(lit(1)).as("n_overlap")),
            Seq("q_vec_id"), "left")
          .select(col("q_vec_id"),
            coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
            (coalesce(col("n_overlap"), lit(0L)).cast(DoubleType) / 10.0)
              .as("recall_at_10"))
          .orderBy(col("q_vec_id"))
      },
      oracle = Some(s"""
        WITH code AS (
          SELECT vec_id,
                 CAST(SUM(CASE WHEN embedding[t.i] >= 0
                   THEN (CAST(1 AS BIGINT) << (t.i - 1)) ELSE 0 END)
                   AS BIGINT) AS c_lo,
                 CAST(SUM(CASE WHEN embedding[t.i + 32] >= 0
                   THEN (CAST(1 AS BIGINT) << (t.i - 1)) ELSE 0 END)
                   AS BIGINT) AS c_hi
          FROM embeddings, generate_series(1, 32) AS t(i) GROUP BY 1),
        ham AS (
          SELECT q.vec_id AS q_vec_id, e.vec_id,
                 bit_count(xor(q.c_lo, e.c_lo))
                   + bit_count(xor(q.c_hi, e.c_hi)) AS hamming
          FROM (SELECT * FROM code WHERE vec_id < 10) q
          JOIN code e ON e.vec_id <> q.vec_id),
        ham_top AS (
          SELECT q_vec_id, vec_id FROM (
            SELECT q_vec_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q_vec_id
                     ORDER BY hamming, vec_id) AS rn
            FROM ham) WHERE rn <= 10),
        n AS (
          SELECT vec_id, SUM(${qterm("embedding[i]", "embedding[i]")}) AS nq
          FROM embeddings, generate_series(1, 64) AS t(i) GROUP BY 1),
        dots AS (
          SELECT q.vec_id AS q_vec_id, e.vec_id,
                 SUM(${qterm("q.embedding[i]", "e.embedding[i]")}) AS dot
          FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
          JOIN embeddings e ON e.vec_id <> q.vec_id
          CROSS JOIN generate_series(1, 64) AS t(i)
          GROUP BY 1, 2),
        cos_top AS (
          SELECT q_vec_id, vec_id FROM (
            SELECT d.q_vec_id, d.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY d.q_vec_id
                     ORDER BY CAST(d.dot AS DOUBLE)
                       / (sqrt(CAST(nq.nq AS DOUBLE))
                          * sqrt(CAST(ne.nq AS DOUBLE))) DESC,
                       d.vec_id) AS rn
            FROM dots d
            JOIN n nq ON nq.vec_id = d.q_vec_id
            JOIN n ne ON ne.vec_id = d.vec_id) WHERE rn <= 10),
        hit AS (
          SELECT h.q_vec_id, COUNT(*) AS n_overlap
          FROM ham_top h JOIN cos_top c
            ON c.q_vec_id = h.q_vec_id AND c.vec_id = h.vec_id
          GROUP BY 1)
        SELECT q.vec_id AS q_vec_id,
               COALESCE(h.n_overlap, 0) AS n_overlap,
               CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / 10.0 AS recall_at_10
        FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < 10) q
        LEFT JOIN hit h ON h.q_vec_id = q.vec_id
        ORDER BY q_vec_id"""))
  )
}
