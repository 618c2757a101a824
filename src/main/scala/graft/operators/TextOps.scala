package graft.operators

import graft.{Det, Q, Tables}
import graft.functions.RoundKernels
import graft.Det._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftops.GraftInternal.rebase
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** §2.D text analysis + deduplication over `documents` — the
  * LLM-training-data pipeline layer. Exact dedup and shingle-join
  * near-dup detection carry DuckDB oracles; MinHash-LSH / SimHash /
  * winnowing fingerprints are the O(n·bands) scale path (spec-tested,
  * rows-only at the driver).
  */
object TextOps {

  private def docs(s: SparkSession, d: String) = Tables.t(s, d, "documents")

  /** Distributed per-group exact rank: appends `rn` (1-based rank of each
    * row within its `grp`, ordered by (ord, tie)) and `n_grp` (group
    * size) without ever running a window over an unbounded partition —
    * the per-group face of the shared Det.rankPrefix idiom (q53's global
    * rank is the other). A 99%-one-group corpus still ranks across all
    * partitions in parallel.
    */
  private def groupRank(df: DataFrame, grp: String, ord: String,
      tie: String): DataFrame =
    Det.rankPrefix(df, Seq(col(grp)), Seq(col(ord), col(tie)))

  /** BPE merge rounds for doc_bpe_train/apply (vocab-sized work per round). */
  private[graft] val BpeRounds = 8

  /** The BPE merge loop of doc_bpe_train and doc_bpe_apply over a word
    * dict with a sentinel-padded symbol string `spaced` and a frequency
    * `wc`. The dict is rebased once and read as (spaced, wc) pairs. A
    * round counts the adjacent symbol pairs, weighted by `wc`, in one
    * single-stage RDD aggregate whose per-partition maps hold at most the
    * distinct pairs (RoundKernels.pairCounts), and takes the argmax
    * (count desc, pair asc — deterministic) on the driver. The next round
    * reads the pairs with that one merge applied (RoundKernels.merge, the
    * same non-overlapping left-to-right replace as SQL `replace`). No
    * round plans a DataFrame. Returns the merge table (round, pair,
    * pair_count) and the dict after all merges: the rebased dict with one
    * `replace` per merge on `spaced`, planned once, its other columns
    * carried through unchanged. A round with no pair left (every word one
    * symbol) ends the loop with an empty dict.
    */
  private[graft] def bpeMerges(words: DataFrame): (DataFrame, DataFrame) = {
    val base = rebase(words)
    var pairs = RoundKernels.wordCounts(
      base.select(col("spaced"), col("wc")).queryExecution.toRdd)
    val merges = (0 until BpeRounds).iterator.map { r =>
      RoundKernels.topPair(RoundKernels.pairCounts(pairs)).map { case (pair, n) =>
        pairs = RoundKernels.merge(pairs, pair)
        Row(r, pair, n)
      }
    }.takeWhile(_.isDefined).flatten.toList
    val dict = base.withColumn("spaced", merges.foldLeft(col("spaced")) { (c, m) =>
      val (from, to) = RoundKernels.mergeOf(m.getString(1))
      replace(c, lit(from), lit(to))
    })
    (words.sparkSession.createDataFrame(merges.asJava,
      StructType(Seq(StructField("round", IntegerType, nullable = false),
        StructField("pair", StringType), StructField("pair_count", LongType)))),
      if (merges.size < BpeRounds) dict.limit(0) else dict)
  }

  /** occurrences of substring w, exact integer arithmetic both engines */
  private def occC(c: Column, w: String): Column =
    ((length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(w), "")))
      / w.length).cast(LongType)
  private def occS(x: String, w: String): String =
    s"CAST((length($x) - length(replace($x, '$w', ''))) / ${w.length} AS BIGINT)"

  /** DuckDB fragments replaying TextHashKernels' Karp-Rabin arithmetic
    * (mod P = 2^31-1, bases B1/B2): the k-gram polynomial hash at 1-based
    * position `i` as an explicit 20-term sum. Every term < 2^39, the sum
    * < 2^44 — strict-BIGINT safe, so the oracle computes the exact value
    * the codegen kernel computes.
    */
  private val HP = graft.functions.TextHashKernels.P
  private def powMod(b: Long, e: Int): Long = {
    var r = 1L; var i = 0
    while (i < e) { r = r * b % HP; i += 1 }
    r
  }
  private def gramSum(base: Long): String =
    (0 until 20)
      .map(j => s"CAST(ascii(substr(text, CAST(i AS INT) + $j, 1)) AS BIGINT) * ${powMod(base, 19 - j)}")
      .mkString(" + ")

  /** Spark-side twin of gramSum (same 20-term polynomial, Spark SQL
    * substring syntax) for ops that need the per-position window hash as
    * plain column math rather than through a kernel expression.
    */
  private def sharedGramSpark: String =
    (0 until 20)
      .map(j => s"CAST(ascii(substring(text, i + $j, 1)) AS BIGINT) * ${powMod(graft.functions.TextHashKernels.B1, 19 - j)}")
      .mkString(" + ")
  /** Rolling token hash (list_reduce) — same recurrence as the kernel. */
  private def tokSum(base: Long): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |            list_transform(generate_series(1, CAST(len(t) AS INT)),
       |              j -> CAST(ascii(substr(t, j, 1)) AS BIGINT))),
       |            (acc, x) -> (acc * $base + x) % $HP)""".stripMargin

  // char shingles: k=20, stride 4 (both engines generate identical sets).
  // r13: char_windows slices every window in one O(len) kernel pass — the
  // position explode + per-window substring head-scan was O(len²/4) per
  // doc and carried the full text through the explode; window sets are
  // identical on the ASCII corpus (ByteKernelsSpec).
  private def shinglesOf(dd: DataFrame): DataFrame =
    dd.filter(length(col("text")) >= 20)
      .select(col("doc_id"),
        explode(graft.functions.ByteFunctions.char_windows(col("text"), 20, 4))
          .as("sh"))
      .distinct()

  private def shingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(docs(s, d))

  /** In-row bigram stream over whitespace tokens: equivalent to
    * posexplode(split(text,' ')) → filter(term ≠ '') → lag/lead over
    * (doc_id, pos) — i.e. consecutive NON-EMPTY tokens — but computed
    * from the split array in one narrow pass. r14 (guide §2.4, remove
    * shuffles outright): the window form shuffled and sorted the entire
    * token stream per query; adjacency is a per-row property of the
    * filtered array, so no Exchange is fundamentally required. Emits
    * `keep` columns plus (w1, w2) per consecutive token pair.
    */
  private def bigramsOf(dd: DataFrame, keep: Seq[String]): DataFrame = {
    val ks = keep.map(col)
    dd.select(ks :+ expr("filter(split(text, ' '), t -> t <> '')").as("ws"): _*)
      .filter(size(col("ws")) >= 2)
      .select(ks :+ explode(expr(
        "transform(sequence(1, size(ws) - 1)," +
          " i -> struct(ws[i-1] AS w1, ws[i] AS w2))")).as("bg"): _*)
      .select(ks :+ col("bg.w1").as("w1") :+ col("bg.w2").as("w2"): _*)
  }

  /** Core of doc_exact_substr, factored so the expansion-equivalence
    * spec can drive it over a seeded corpus: stride-1 L-char
    * duplicated-window find (gram_hashes kernel, total occurrences ≥ 2)
    * + maximal-span merge (island detection over duplicated positions).
    */
  private[graft] def exactSubstrOf(dd: DataFrame, L: Int = 50): DataFrame = {
    val eligible = dd.filter(length(col("text")) >= L)
    val w = eligible
      .select(col("doc_id"), length(col("text")).as("len"),
        posexplode(graft.functions.TextFunctions.gram_hashes(col("text"), L)))
      .select(col("doc_id"), col("len"), (col("pos") + 1).as("i"),
        col("col").as("h"))
    val dup = w.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("h"))
    val dw = w.join(dup, Seq("h"), "left_semi")
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val spans = dw
      .withColumn("st",
        when(col("i") - lag(col("i"), 1).over(byDoc) <= L, 0).otherwise(1))
      .withColumn("g", sum(col("st")).over(byDoc))
      .groupBy(col("doc_id"), col("len"), col("g"))
      .agg(min(col("i")).as("s"), (max(col("i")) + lit(L - 1)).as("e"),
        count(lit(1)).as("nw"))
    val per = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_chars"),
        sum(col("nw")).as("n_dup_windows"))
    eligible
      .select(col("doc_id"), length(col("text")).as("len"),
        (length(col("text")) - (L - 1)).cast(LongType).as("n_windows"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        (coalesce(col("dup_chars"), lit(0L)).cast(DoubleType) / col("len"))
          .as("dup_frac"),
        (coalesce(col("dup_chars"), lit(0L)).cast(DoubleType) / col("len")
          >= 0.2).as("flagged"))
      .orderBy(col("doc_id"))
  }

  // DuckDB 1.0 can't lateral-join generate_series on a column; use a fixed
  // series (docs are < 1024 chars) + filter, which yields the same set.
  private val SHINGLES = """
    SELECT DISTINCT d.doc_id, substr(d.text, g.i, 20) AS sh
    FROM documents d, generate_series(1, 1024, 4) AS g(i)
    WHERE length(d.text) >= 20 AND g.i <= length(d.text) - 19"""

  /** The shingle join: exact Jaccard and containment scores for every
    * shingle-sharing pair (doc_a < doc_b, with n_common and the shingle
    * counts n_a, n_b), unfiltered, plus the per-doc shingle counts
    * (doc_id, n_sh) it scored them with.
    */
  private def shingleScoresOf(dd: DataFrame): (DataFrame, DataFrame) = {
    val sh = shinglesOf(dd)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val scored = sh.as("x")
      .join(sh.as("y"), col("x.sh") === col("y.sh")
        && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard", col("n_common").cast(DoubleType)
        / (col("n_a") + col("n_b") - col("n_common")))
      .withColumn("containment", col("n_common").cast(DoubleType)
        / least(col("n_a"), col("n_b")))
    (scored, sizes)
  }

  /** Scored shingle-sharing pairs — shared by the pair reports, the CC
    * edge sets and the LSH evaluations.
    */
  private def jaccardAllOf(dd: DataFrame): DataFrame = shingleScoresOf(dd)._1

  private def jaccardAll(s: SparkSession, d: String): DataFrame =
    jaccardAllOf(docs(s, d))

  /** Identical-text groups over shingle-bearing docs (length >= 20):
    * (sizes = (rep, m), repDocs = one row per distinct text, keyed by the
    * group-min doc_id, members = every doc with its rep) — the text form
    * of `sigGroups`. The window partitions by the text itself, so its
    * input keeps `text` whichever frames a caller reads: all three share
    * one exchange, and `documents` is scanned once. Partitioned by
    * md5(text) instead, the frames without `text` would prune it below
    * the window and plan a second exchange over a second scan.
    */
  private def repGroups(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val g = docs(s, d).filter(length(col("text")) >= 20)
      .withColumn("rep", min(col("doc_id")).over(
        Window.partitionBy(col("text"))))
    (g.groupBy(col("rep")).agg(count(lit(1)).as("m")),
      g.filter(col("doc_id") === col("rep")), g)
  }

  /** The group-weight rule of every rep-collapsed pair listing and pair
    * count. Items with one group key (a text, or a signature) collapse to
    * a rep, the group's min doc_id, with multiplicity m. Whenever a pair's
    * score depends only on the two keys, the exploded pair set is exactly
    * recovered from the reps: a cross pair of reps (a, b) stands for
    * m_a·m_b member pairs with the reps' score, and each group with m ≥ 2
    * adds m(m−1)/2 within pairs scored as an item against itself. So the
    * pair joins run over distinct keys only, and duplicate-multiplied pair
    * frames never materialize.
    *
    * `sigGroups` collapses `items` (doc_id plus the key column `key`) to
    * (key, rep, m); `repGroups` is the text form.
    */
  private[operators] def sigGroups(items: DataFrame, key: String): DataFrame =
    items.groupBy(col(key))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("m"))

  /** Adds the cross-pair weight n_pairs = m_a·m_b to rep pairs. */
  private[operators] def weighed(pairs: DataFrame): DataFrame =
    pairs.withColumn("n_pairs", col("m_a") * col("m_b"))

  /** Attaches each group's m to text rep pairs (doc_a, doc_b) as m_a, m_b. */
  private def withGroupSizes(pairs: DataFrame, sizes: DataFrame): DataFrame =
    pairs.join(sizes.select(col("rep").as("doc_a"), col("m").as("m_a")), "doc_a")
      .join(sizes.select(col("rep").as("doc_b"), col("m").as("m_b")), "doc_b")

  /** The within rows (rep_a = rep_b = rep, `self`..., n_pairs =
    * m(m−1)/2) of every group with m ≥ 2; `self` are the score columns of
    * an item paired with itself.
    */
  private[operators] def withinRows(groups: DataFrame, self: Column*): DataFrame =
    groups.filter(col("m") >= 2)
      .select(Seq(col("rep").as("rep_a"), col("rep").as("rep_b")) ++ self
        :+ expr("m * (m - 1) div 2").as("n_pairs"): _*)

  /** The grouped shingle-score frame under doc_ngram_dedup_grouped,
    * doc_containment_grouped and doc_sim_histogram: every shingle-sharing
    * pair of distinct texts (rep_a < rep_b) plus one within row per
    * duplicated text (n_common = its shingle count, jaccard = containment
    * = 1), each with n_common, jaccard, containment and n_pairs. The
    * within rows' shingle counts come from the same shingle pass that
    * scores the cross pairs.
    */
  private def groupedShingleScores(s: SparkSession, d: String): DataFrame = {
    val (groups, repDocs, _) = repGroups(s, d)
    val (scored, nsh) = shingleScoresOf(repDocs)
    weighed(withGroupSizes(scored, groups))
      .select(col("doc_a").as("rep_a"), col("doc_b").as("rep_b"),
        col("n_common"), col("jaccard"), col("containment"), col("n_pairs"))
      .union(withinRows(groups.join(nsh, col("rep") === col("doc_id")),
        col("n_sh").as("n_common"), lit(1.0).as("jaccard"),
        lit(1.0).as("containment")))
  }

  /** The one banded self-join of the signature pair listings (MinHash-LSH,
    * SimHash, pHash and their _grouped twins): `keys` holds one key
    * column per band, and two items are a candidate pair when they share
    * a band's key. Returns each pair once, `<id>_a` < `<id>_b`, with
    * `<c>_a` and `<c>_b` for every column `c` in `carry`. The join is a
    * shuffled hash join, so both sides read one shuffle of the banded
    * keys (the planner reuses the exchange) and a signature kernel under
    * `items` runs once; a broadcast join would compute `items` per side.
    */
  private[operators] def bandPairs(items: DataFrame, id: String,
      keys: Seq[Column], carry: Seq[String] = Nil): DataFrame = {
    val cs = id +: carry
    val banded = items.select(cs.map(col) :+
      posexplode(array(keys: _*)).as(Seq("band", "key")): _*)
    banded.as("x").join(banded.as("y").hint("shuffle_hash"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key")
          && col(s"x.$id") < col(s"y.$id"))
      .select(cs.map(c => col(s"x.$c").as(s"${c}_a"))
        ++ cs.map(c => col(s"y.$c").as(s"${c}_b")): _*)
      .distinct() // a pair sharing 2+ bands repeats the same row
  }

  /** The four 16-bit chunks of a 64-bit hash: SimHash's and pHash's band
    * keys.
    */
  private[operators] def hashChunks(h: String): Seq[Column] =
    (0 until 4).map(c => shiftright(col(h), c * 16).bitwiseAND(0xFFFFL))

  /** Oracle CTEs for the rep-group algebra: g, mm(rep, m), rd (rep docs),
    * gsh / gsizes / gcpairs (the shingle join over DISTINCT texts only).
    */
  private val GROUPED_CTES = """
    g AS (
      SELECT doc_id, text, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep
      FROM documents WHERE length(text) >= 20),
    mm AS (SELECT rep, COUNT(*) AS m FROM g GROUP BY 1),
    rd AS (SELECT doc_id, text FROM g WHERE doc_id = rep),
    gsh AS (
      SELECT DISTINCT d.doc_id, substr(d.text, s.i, 20) AS sh
      FROM rd d, generate_series(1, 1024, 4) AS s(i)
      WHERE s.i <= length(d.text) - 19),
    gsizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM gsh GROUP BY 1),
    gcpairs AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_common
      FROM gsh x JOIN gsh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2),
    gscored AS (
      SELECT p.doc_a, p.doc_b, p.n_common,
             CAST(p.n_common AS DOUBLE)/(a.n_sh + b.n_sh - p.n_common)
               AS jaccard,
             CAST(p.n_common AS DOUBLE)/least(a.n_sh, b.n_sh) AS containment
      FROM gcpairs p
      JOIN gsizes a ON a.doc_id = p.doc_a
      JOIN gsizes b ON b.doc_id = p.doc_b)"""

  /** Near-dup pairs at the dedup threshold (>= 0.5). */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    jaccardAll(s, d).filter(col("jaccard") >= 0.5)

  /** Distributed connected components via alternating large-star /
    * small-star contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond"). `nodes` has column `node`; `edges` has
    * (`src`,`dst`) and must be symmetric. Returns (`node`,`label`) where
    * label = min node id in the component.
    *
    * Why not hash-min + pointer jumping (the r1–r3 implementation): that
    * converges in O(diameter) rounds on long cycles — measured 1200+
    * rounds on a 7000-node ring with shuffled ids (contour rings hit
    * this), because the "jump" target is the neighborhood min, whose own
    * neighborhood barely extends the frontier. LS/SS contracts the same
    * ring in 11 rounds and is O(log² n) worst-case on any shape. Each
    * round is two groupBy+join passes over the edge set, never more
    * edges than the input, with a per-round `rebase` keeping plan depth
    * and stats O(1).
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // r13 (guide §2.4, remove shuffles outright): the edge-PAIR form of
    // each LS/SS contraction cost ~8 exchanges per round (two
    // groupBy+join passes + two (u,v) distincts + the fixed-point join),
    // and round LATENCY — not data — dominated the long-ring CC
    // (geo_contour_rings: 10 rounds × ~0.65 s measured at sf0.1). The
    // adjacency-LIST form below is the same Kiveris et al. alternation
    // (identical star-forest fixed point, hence identical labels) with 2
    // groupBy exchanges per round: the closed-neighborhood min and both
    // stars' emissions fold IN-ROW over the sorted neighbor array, and
    // symmetrize+dedup ride the regrouping collect_set. Per-group memory
    // is one node's neighbor set — the same reduce-side width the
    // published MapReduce formulation carries, and large-star exists
    // precisely to keep hub degrees shrinking at scale.
    //
    // iterate only over the subgraph that has edges — isolated nodes
    // join back as their own singleton components at the end
    def toLists(pairs: DataFrame): DataFrame = pairs
      .groupBy(col("u")).agg(sort_array(collect_set(col("v"))).as("nb"))
    var L = rebase(
      toLists(edges.select(col("src").as("u"), col("dst").as("v"))))
    // one LS+SS contraction: list in, SYMMETRIC PAIR STREAM out (the
    // caller fuses the final regroup with its fixed-point test)
    def contractPairs(d: DataFrame): DataFrame = {
      // m = min(closed neighborhood) = least(u, nb[1]) (nb sorted)
      def withM(df: DataFrame): DataFrame =
        df.withColumn("m", least(col("u"), element_at(col("nb"), 1)))
      // large-star: every neighbor v > u re-attaches to m
      val ls = withM(d).select(col("m"),
          explode(filter(col("nb"), v => v > col("u"))).as("v"))
        .select(col("v").as("u"), col("m").as("v"))
      val lsL = toLists(ls.union(ls.select(col("v").as("u"), col("u").as("v"))))
      // small-star: every neighbor v <= u (and u itself) attaches to m
      val ss = withM(lsL).select(col("m"),
          explode(filter(col("nb"),
            v => v <= col("u") && v =!= col("m"))).as("v"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(withM(lsL).filter(col("u") =!= col("m"))
          .select(col("u"), col("m").as("v")))
      ss.union(ss.select(col("v").as("u"), col("u").as("v")))
    }
    // fixed-point test fused into the round's own regroup (no separate
    // join with the previous state): the previous round's edges ride
    // the same groupBy tagged old=true, and a node is "fresh" when its
    // sorted new neighbor array differs from its sorted old one
    // (vanished nodes surface as new=[] ≠ old). Zero fresh ⟺
    // identical edge sets (arrays are canonical: sorted distinct).
    def regroupTagged(ssPairs: DataFrame, prev: DataFrame): DataFrame = {
      val tagged = ssPairs.select(col("u"), col("v"), lit(false).as("old"))
        .union(prev.select(col("u"), explode(col("nb")).as("v"),
          lit(true).as("old")))
      tagged.groupBy(col("u")).agg(
          sort_array(collect_set(when(!col("old"), col("v")))).as("nb"),
          sort_array(collect_set(when(col("old"), col("v")))).as("nb0"))
        .select(col("u"), col("nb"),
          (col("nb") =!= col("nb0")).as("fresh"))
    }
    // one contraction per round, rebased before the round's single count
    // action: every action's plan holds one contraction over a LogicalRDD
    var converged = false
    var round = 0
    val maxRounds = 30 // LS+SS contractions: deep headroom over O(log² n)
    while (!converged && round < maxRounds) {
      val reg = rebase(regroupTagged(contractPairs(L), L))
      converged = reg.filter(col("fresh")).count() == 0L
      L = reg.filter(size(col("nb")) > 0).select(col("u"), col("nb"))
      round += 1
    }
    // Never emit silently-wrong labels: if the loop exited on the round cap
    // rather than a fixed point, fail loudly so the caller can raise maxRounds.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds")
    // terminal state is a star forest rooted at each component's min
    val lbl = L.select(col("u").as("node"),
      least(col("u"), element_at(col("nb"), 1)).as("label"))
    nodes.join(lbl, Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
  }

  // Matching DuckDB CTE list (embed after WITH / WITH RECURSIVE).
  /** Engine-shared Jelinek–Mercer fragment: interpolated bigram
    * probability over exact counts, ln quantized at 6 decimals.
    */
  private object LmK {
    val nll: String =
      "CAST(round(0.0 - ln(0.7e0 * CAST(c12 AS DOUBLE) / c1" +
        " + 0.3e0 * CAST(c2 AS DOUBLE) / nn), 6) AS DECIMAL(18,6)) AS nll"
  }

  /** Engine-shared order-0 entropy compressibility fragments
    * (doc_compress_ratio): est_ratio = H/8 bits-per-char from the exact
    * DECIMAL nll sum (wsum = sum c·round(ln(c/n),6)); ln2 is a pinned
    * double literal so neither engine's libm constant enters.
    */
  private object EntRatioK {
    val estRatio: String =
      "(0.0e0 - CAST(wsum AS DOUBLE) / n_bytes) / 0.6931471805599453e0 / 8.0e0"
    val flag: String =
      "CASE WHEN est_ratio < 0.49e0 THEN 'boilerplate' " +
        "WHEN est_ratio > 0.525e0 THEN 'gibberish' ELSE 'ok' END"
  }

  private val JPAIRS = s"""
    sh AS ($SHINGLES),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    cpairs AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2),
    jpairs_all AS (
      SELECT p.doc_a, p.doc_b, p.n_common,
             CAST(p.n_common AS DOUBLE)/(a.n_sh + b.n_sh - p.n_common) AS jaccard
      FROM cpairs p
      JOIN sizes a ON a.doc_id = p.doc_a
      JOIN sizes b ON b.doc_id = p.doc_b),
    jpairs AS (SELECT * FROM jpairs_all WHERE jaccard >= 0.5)"""

  /** MinHash signature + band CTEs (DuckDB), shared by the
    * doc_minhash_lsh oracle and the doc_lsh_recall evaluation oracle.
    */
  private lazy val MINHASH_CTES: String = s"""d AS (
          SELECT doc_id, text, length(text) AS n FROM documents
          WHERE length(text) >= 20),
        pos AS (
          SELECT doc_id, text, unnest(generate_series(1, n - 19)) AS i FROM d),
        sp AS (
          SELECT doc_id,
                 (${gramSum(graft.functions.TextHashKernels.B1)}) % $HP AS g1,
                 (${gramSum(graft.functions.TextHashKernels.B2)}) % $HP AS g2
          FROM pos WHERE (i - 1) % 4 = 0),
        pm AS (
          SELECT doc_id, p,
                 MIN((((((p+1)*2654435761) % $HP) * g1
                     + (((p+1)*1779033703) % $HP) * g2) % $HP
                     + ((p+1)*1013904242) % $HP) % $HP) AS s
          FROM sp, (SELECT unnest(generate_series(0, 31)) AS p) pp
          GROUP BY doc_id, p),
        bands AS (
          SELECT doc_id, p // 4 AS band,
                 MAX(CASE WHEN p % 4 = 0 THEN s END) AS s0,
                 MAX(CASE WHEN p % 4 = 1 THEN s END) AS s1,
                 MAX(CASE WHEN p % 4 = 2 THEN s END) AS s2,
                 MAX(CASE WHEN p % 4 = 3 THEN s END) AS s3
          FROM pm GROUP BY doc_id, p // 4)"""

  /** MinHash-LSH candidate pairs (distinct, doc_a < doc_b) — the band
    * join shared by doc_minhash_lsh and the doc_lsh_recall evaluation.
    */
  private def minhashBandPairs(s: SparkSession, d: String): DataFrame =
    minhashBandPairsOf(docs(s, d))

  private def minhashBandPairsOf(dd: DataFrame): DataFrame =
    bandPairs(minhashSigs(dd), "doc_id", minhashBands)
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"))

  /** (doc_id, sig): the 32-perm MinHash signature of every shingle-bearing
    * doc.
    */
  private def minhashSigs(dd: DataFrame): DataFrame =
    dd.filter(length(col("text")) >= 20)
      .select(col("doc_id"),
        graft.functions.TextFunctions.minhash_signature(col("text")).as("sig"))

  /** (doc_id, simhash): the one-pass 64-bit SimHash of every doc. */
  private def simhashSigs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      graft.functions.TextFunctions.simhash64(col("text")).as("simhash"))

  /** 8 bands × 4 rows: each band's key is its 4 raw signature values (no
    * band-hash collision risk, and the DuckDB oracle can replay it).
    */
  private val minhashBands: Seq[Column] =
    (0 until 8).map(b => slice(col("sig"), b * 4 + 1, 4))

  /** Per-doc (doc_id, lang, trigram, cnt) counts — the one corpus
    * tokenize pass shared by LID training and scoring.
    */
  private def lidDocTri(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), col("lang"), lower(col("text")).as("t"))
      .filter(length(col("t")) >= 3)
      // r13: one char_windows kernel pass per doc (O(len)) — the
      // transform-over-positions form paid an O(i) substring head-scan
      // per trigram (O(len²) per doc) plus interpreted lambda overhead
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.ByteFunctions.char_windows(col("t"), 3, 1))
          .as("tri"))
      .groupBy(col("doc_id"), col("lang"), col("tri"))
      .agg(count(lit(1)).as("cnt"))

  /** Laplace-smoothed (trigram, lang) LID model, trained ONCE per corpus
    * dir and memoized as driver-local rows: (tri, mlang, lp) plus the
    * per-lang unseen-trigram fallback (mlang, fb). The model is
    * vocabulary-sized — bounded by charset³·|langs|, never corpus-sized —
    * so holding it on the driver and re-emitting it as a LocalRelation is
    * the train-once/broadcast pattern a 100 TB deployment ships, not a
    * data collect. Every scoring query (doc_char_lid, doc_lid_confusion)
    * then costs one corpus pass; previously each re-trained from scratch.
    * Cross-engine determinism is unchanged: the DECIMAL(18,6) quantized
    * logprobs survive the collect round-trip bit-exactly. (Memoizing
    * driver rows rather than a persisted view is deliberate — Verify and
    * Bench unpersist all RDD blocks between queries, which would strand a
    * cached/localCheckpoint'd plan.)
    */
  private val lidModelCache = new scala.collection.concurrent.TrieMap[
    String, (Array[org.apache.spark.sql.Row], Array[org.apache.spark.sql.Row])]()

  /** Per-language vocabulary cap for the collected LID model: at most K
    * trigrams per language (most frequent first, ties broken by trigram
    * text) are held on the driver; rarer trigrams score with the per-lang
    * unseen fallback. K = 131072 is far above any ASCII-ish corpus's
    * per-lang trigram vocabulary (~charset³ ≈ 40³ = 64k for lowercased
    * text), so gate outputs are unchanged (LidVocabCapSpec asserts it) —
    * the cap exists to bound driver memory on a 100 TB Unicode corpus,
    * where vocab could otherwise grow toward 2²¹ codepoint-triples.
    */
  private[graft] val LidVocabCapK = 131072

  /** Cache key = dir + a cheap content fingerprint of documents.parquet
    * (file names, lengths, mtimes), so regenerating the data under the
    * same path within one JVM (ScaleUp rewriting a sweep dir, then
    * re-verifying) retrains instead of silently scoring against a stale
    * model.
    */
  private def lidCorpusKey(d: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq
          .sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val doc = new java.io.File(new java.io.File(d), "documents.parquet")
    walk(doc).map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString(d + "|", ",", "")
  }

  /** Train the LID model (no memoization): collected (tri, mlang, lp)
    * rows capped at `capK` trigrams per language, plus per-lang fallback
    * rows. Exposed for LidVocabCapSpec, which asserts capped == uncapped
    * on the gate corpus.
    */
  private[graft] def trainLidModel(s: SparkSession, d: String, capK: Int)
      : (Array[org.apache.spark.sql.Row], Array[org.apache.spark.sql.Row]) = {
    // persist the SMALL model frame (distinct trigram x lang): totals,
    // vocab count, and the smoothed logprobs all derive from it; the
    // corpus-wide explode+groupBy lineage runs once
    val model = lidDocTri(s, d).groupBy(col("tri"), col("lang").as("mlang"))
      .agg(sum(col("cnt")).as("c"))
      .persist()
    try {
      val totals = model.groupBy(col("mlang")).agg(sum(col("c")).as("tot"))
      val vocab = model.select(col("tri")).distinct()
        .agg(count(lit(1)).as("v"))
      val fallback = totals.crossJoin(broadcast(vocab))
        .select(col("mlang"),
          round(log(lit(1.0) / (col("tot") + col("v")).cast(DoubleType)), 6)
            .cast(DecimalType(18, 6)).as("fb"))
      // totals and vocab come from the UNCAPPED model so the smoothed
      // probabilities are identical; the cap only bounds which (tri,
      // mlang) rows ride to the driver — the rest fall back to fb.
      val capped = model.withColumn("rk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("mlang"))
            .orderBy(col("c").desc, col("tri"))))
        .filter(col("rk") <= capK).drop("rk")
      val scored = capped
        .join(broadcast(totals.withColumnRenamed("mlang", "tlang")),
          col("mlang") === col("tlang"))
        .drop("tlang")
        .crossJoin(broadcast(vocab))
        .select(col("tri"), col("mlang"),
          round(log((col("c") + 1).cast(DoubleType) / (col("tot") + col("v"))), 6)
            .cast(DecimalType(18, 6)).as("lp"))
      (scored.collect(), fallback.collect())
    } finally model.unpersist(false)
  }

  private def lidModel(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (mRows, fRows) = lidModelCache.getOrElseUpdate(lidCorpusKey(d),
      trainLidModel(s, d, LidVocabCapK))
    val mSchema = StructType(Seq(StructField("tri", StringType),
      StructField("mlang", StringType), StructField("lp", DecimalType(18, 6))))
    val fSchema = StructType(Seq(StructField("mlang", StringType),
      StructField("fb", DecimalType(18, 6))))
    (s.createDataFrame(java.util.Arrays.asList(mRows: _*), mSchema),
      s.createDataFrame(java.util.Arrays.asList(fRows: _*), fSchema))
  }

  /** Shared char-trigram LID frame: per doc, (lang, pred_lang, score,
    * agree) — the doc_char_lid pipeline, reused by doc_lid_confusion.
    * One corpus pass: tokenize, score against the broadcast lidModel,
    * per-doc argmax.
    */
  private def charLid(s: SparkSession, d: String): DataFrame = {
        val (scoredModel, fallback) = lidModel(s, d)
        val crossed = lidDocTri(s, d)
          .crossJoin(broadcast(fallback))
          .join(broadcast(scoredModel), Seq("tri", "mlang"), "left")
          .withColumn("term",
            (col("cnt").cast(DecimalType(18, 0))
              * coalesce(col("lp"), col("fb"))).cast(DecimalType(30, 6)))
        val perLang = crossed.groupBy(col("doc_id"), col("lang"), col("mlang"))
          .agg(sum(col("term")).cast(DecimalType(32, 6)).as("score"))
        perLang.groupBy(col("doc_id"), col("lang"))
          .agg(max(struct(col("score"), col("mlang"))).as("best"))
          .select(col("doc_id"), col("lang"),
            col("best.mlang").as("pred_lang"),
            col("best.score").cast(DoubleType).as("score"),
            (col("best.mlang") === col("lang")).as("agree"))
          // r13: no orderBy here — doc_char_lid adds it; doc_lid_confusion
          // aggregates this frame, and the range exchange + sort were
          // dead weight on that path
  }

  /** The matching DuckDB CTE chain (through `best`), shared by the
    * doc_char_lid and doc_lid_confusion oracles.
    */
  private val CHARLID_CTES: String = """
        WITH t0 AS (SELECT doc_id, lang, lower(text) AS t FROM documents
                    WHERE length(text) >= 3),
        tri AS (
          SELECT doc_id, lang, substr(t, i, 3) AS tri
          FROM t0, generate_series(1, 1024) AS g(i)
          WHERE i <= length(t) - 2),
        doctri AS (
          SELECT doc_id, lang, tri, COUNT(*) AS cnt
          FROM tri GROUP BY 1, 2, 3),
        model AS (
          SELECT tri, lang AS mlang, CAST(SUM(cnt) AS BIGINT) AS c
          FROM doctri GROUP BY 1, 2),
        totals AS (SELECT mlang, CAST(SUM(c) AS BIGINT) AS tot
                   FROM model GROUP BY 1),
        vocab AS (SELECT COUNT(DISTINCT tri) AS v FROM model),
        langs AS (
          SELECT mlang, tot,
                 CAST(round(ln(1.0 / (tot + v)), 6) AS DECIMAL(18,6)) AS fb
          FROM totals, vocab),
        sm AS (
          SELECT m.tri, m.mlang,
                 CAST(round(ln(CAST(m.c + 1 AS DOUBLE) / (t.tot + v.v)), 6)
                   AS DECIMAL(18,6)) AS lp
          FROM model m JOIN totals t ON m.mlang = t.mlang, vocab v),
        crossed AS (
          SELECT d.doc_id, d.lang, l.mlang,
                 CAST(CAST(d.cnt AS DECIMAL(18,0))
                   * COALESCE(s.lp, l.fb) AS DECIMAL(30,6)) AS term
          FROM doctri d
          CROSS JOIN langs l
          LEFT JOIN sm s ON s.tri = d.tri AND s.mlang = l.mlang),
        perlang AS (
          SELECT doc_id, lang, mlang,
                 CAST(SUM(term) AS DECIMAL(32,6)) AS score
          FROM crossed GROUP BY 1, 2, 3),
        best AS (
          SELECT doc_id, lang, mlang AS pred_lang,
                 CAST(score AS DOUBLE) AS score
          FROM perlang
          QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, mlang DESC) = 1)"""

  val defs: Seq[(String, Q)] = Seq(

    // ----- doc_exact_dedup: content-hash dedup ---------------------------
    "doc_exact_dedup" -> Q(
      build = (s, d) =>
        docs(s, d)
          .groupBy(md5(col("text").cast(BinaryType)).as("content_hash"))
          .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
          .orderBy(col("content_hash")),
      oracle = Some("""
        SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY content_hash"""),
      bench = true),

    // ----- doc_paragraph_dedup: paragraph-level exact dedup --------------
    // The C4/Dolma corpus op between whole-document and n-gram dedup:
    // documents are split into paragraphs, every paragraph that already
    // occurred anywhere earlier in the corpus (first occurrence = lowest
    // (doc_id, para_idx)) is dropped, and each document is re-assembled
    // from its surviving paragraphs. Paragraphs here are deterministic
    // 10-word chunks (the corpus has no newlines). Scale shape: explode
    // → ROW_NUMBER windowed on the paragraph key (one shuffle keyed on
    // paragraph content — how production paragraph dedup distributes;
    // at 100 TB you'd key on md5(para) to bound key width, identical
    // plan) → per-doc re-assembly (second shuffle on doc_id). No
    // all-pairs anywhere. The first-occurrence winner comes from a
    // map-side-combinable groupBy-min + equi-join rather than a
    // row_number window: a boilerplate paragraph repeated millions of
    // times would make one giant sorted window partition (and AQE cannot
    // split a window), while the min-struct aggregate combines on the
    // map side and the probe join is AQE-skew-splittable.
    "doc_paragraph_dedup" -> Q(
      build = (s, d) => {
        val paras = docs(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"),
            posexplode(expr(
              "transform(sequence(0, CAST(ceil(size(ws)/10.0) AS INT) - 1)," +
                " i -> array_join(slice(ws, i*10 + 1, 10), ' '))"))
              .as(Seq("para_idx", "para")))
        val keepers = paras
          .groupBy(col("para"))
          .agg(min(struct(col("doc_id"), col("para_idx"))).as("keeper"))
        paras
          .join(keepers, "para")
          .withColumn("is_dup",
            col("doc_id") =!= col("keeper.doc_id")
              || col("para_idx") =!= col("keeper.para_idx"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_paras"),
            sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"),
            (sum(when(col("is_dup"), 1L).otherwise(0L)).cast(DoubleType)
              / count(lit(1))).as("dup_ratio"),
            concat_ws(" ", expr(
              "transform(array_sort(collect_list(CASE WHEN NOT is_dup THEN" +
                " struct(para_idx, para) END)), p -> p.para)"))
              .as("clean_text"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        p AS (
          SELECT doc_id, i AS para_idx,
                 array_to_string(list_slice(ws, i*10 + 1, i*10 + 10), ' ') AS para
          FROM w, LATERAL unnest(generate_series(0,
                 CAST(ceil(len(ws)/10.0) AS BIGINT) - 1)) AS t(i)),
        m AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY para
                      ORDER BY doc_id, para_idx) > 1 AS is_dup
          FROM p)
        SELECT doc_id, COUNT(*) AS n_paras,
               CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
               CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)/COUNT(*)
                 AS dup_ratio,
               COALESCE(string_agg(CASE WHEN NOT is_dup THEN para END, ' '
                 ORDER BY para_idx), '') AS clean_text
        FROM m GROUP BY doc_id ORDER BY doc_id"""),
      bench = true),

    // ----- doc_token_count: whitespace tokenization ----------------------
    "doc_token_count" -> Q(
      build = (s, d) =>
        docs(s, d)
          .select(col("doc_id"), col("lang"),
            (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
              .cast(LongType).as("n_tokens"))
          .orderBy(col("doc_id")),
      oracle = Some("""
        SELECT doc_id, lang,
               CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
        FROM documents ORDER BY doc_id""")),

    // ----- doc_bpe_tokens: BPE-ish regex tokenization counts -------------
    // Subword-style segmentation: runs of letters, single digits, and
    // punctuation as separate tokens (the GPT-2 pre-tokenizer shape,
    // simplified to regex classes both engines implement identically).
    "doc_bpe_tokens" -> Q(
      build = (s, d) =>
        docs(s, d)
          .select(col("doc_id"), col("lang"),
            size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]|[^a-z0-9 ]"), lit(0)))
              .cast(LongType).as("n_bpe_tokens"))
          .orderBy(col("doc_id")),
      oracle = Some("""
        SELECT doc_id, lang,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]', 0)) AS BIGINT) AS n_bpe_tokens
        FROM documents ORDER BY doc_id""")),

    // ----- doc_bpe_train: corpus-level BPE merge training ----------------
    // Tokenizer training as a distributed pipeline (Sennrich et al. 2016
    // byte-pair encoding): collapse the corpus to a word-frequency dict
    // (THE corpus-sized shuffle — everything after operates on vocab-sized
    // data, the property that makes BPE trainable on 100 TB), then per
    // round: count adjacent symbol pairs weighted by word frequency,
    // take the argmax (count desc, pair asc — deterministic), and apply
    // the merge to every word. Words are spelled as space-joined symbol
    // strings padded with sentinel spaces, so applying a merge is a plain
    // left-to-right `replace(' a b ' -> ' ab ')` — identical greedy
    // semantics in Spark and DuckDB, no UDF. The merge rounds are
    // bpeMerges, shared with doc_bpe_apply. Output: the learned merge
    // table.
    "doc_bpe_train" -> Q(
      build = (s, d) => {
        val (merges, _) = bpeMerges(docs(s, d)
          .select(explode(expr(
            "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("wc"))
          .select(concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 "))
            .as("spaced"), col("wc")))
        merges
          .select(col("round"), col("pair"),
            regexp_replace(col("pair"), " ", "").as("merged"), col("pair_count"))
          .orderBy(col("round"))
      },
      oracle = Some {
        // every CTE is MATERIALIZED: the round chain references spaced$r
        // and best$r multiple times, and DuckDB's default CTE inlining
        // re-expands the whole prefix per reference — exponential in the
        // round count (measured: 8 rounds inlined >2 min at sf0.001 vs
        // 0.08 s materialized)
        val rounds = (0 until BpeRounds).map { r =>
          val next =
            if (r < BpeRounds - 1) s""",
            spaced${r + 1} AS MATERIALIZED (
              SELECT replace(spaced, ' ' || (SELECT pair FROM best$r) || ' ',
                     ' ' || replace((SELECT pair FROM best$r), ' ', '') || ' ') AS spaced, wc
              FROM spaced$r)"""
            else ""
          s"""
            px$r AS MATERIALIZED (
              SELECT l, wc, unnest(generate_series(1, len(l)-1)) AS i
              FROM (SELECT string_split(trim(spaced), ' ') AS l, wc FROM spaced$r)),
            pc$r AS MATERIALIZED (
              SELECT l[i] || ' ' || l[i+1] AS pair,
                     CAST(SUM(wc) AS BIGINT) AS pair_count
              FROM px$r GROUP BY 1),
            best$r AS MATERIALIZED (
              SELECT $r AS round, pair, pair_count FROM pc$r
              ORDER BY pair_count DESC, pair LIMIT 1)$next"""
        }.mkString(",")
        val union = (0 until BpeRounds)
          .map(r => s"SELECT * FROM best$r").mkString(" UNION ALL ")
        s"""
        WITH words AS MATERIALIZED (
          SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
          FROM documents),
        wdict AS MATERIALIZED (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM words GROUP BY 1),
        spaced0 AS MATERIALIZED (
          SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS spaced, wc
          FROM wdict),$rounds
        SELECT round, pair, replace(pair, ' ', '') AS merged, pair_count
        FROM ($union) ORDER BY round"""
      },
      bench = true),

    // ----- doc_bpe_apply: tokenize the corpus with the trained merges ----
    // The other half of the tokenizer story: ENCODE every document with
    // the merge table doc_bpe_train learns. The key production property:
    // after training, the final per-WORD segmentation IS the encoder —
    // so apply = explode doc words, broadcast-join the vocab-sized
    // word→segmentation dict, aggregate token counts per doc. The
    // corpus-sized pass is one explode + one broadcast join + one
    // combinable groupBy; all merge applications happen on the
    // vocab-sized dict (identical greedy `replace(' a b ' -> ' ab ')`
    // semantics as training, both engines).
    "doc_bpe_apply" -> Q(
      build = (s, d) => {
        val (_, dict) = bpeMerges(docs(s, d)
          .select(explode(expr(
            "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("wc"))
          .select(col("word"),
            concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 "))
              .as("spaced"), col("wc")))
        val enc = dict.select(col("word"),
          size(split(trim(col("spaced")), " ")).cast(LongType).as("n_sym"))
        docs(s, d)
          .select(col("doc_id"), explode(expr(
            "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
          .join(broadcast(enc), Seq("word"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_sym")).as("n_tokens"),
            sum(length(col("word")).cast(LongType)).as("n_chars_alpha"))
          .select(col("doc_id"), col("n_words"), col("n_tokens"),
            col("n_chars_alpha"),
            round(col("n_chars_alpha").cast(DoubleType) / col("n_tokens"), 6)
              .as("chars_per_token"))
          .orderBy(col("doc_id"))
      },
      oracle = Some {
        // identical round chain to doc_bpe_train (all CTEs MATERIALIZED —
        // see the note there), except `word` rides along as the encoder
        // join key and every learned merge (including the last) is
        // applied to produce the final segmentation dict.
        val rounds = (0 until BpeRounds).map { r =>
          s"""
            px$r AS MATERIALIZED (
              SELECT l, wc, unnest(generate_series(1, len(l)-1)) AS i
              FROM (SELECT string_split(trim(spaced), ' ') AS l, wc FROM spaced$r)),
            pc$r AS MATERIALIZED (
              SELECT l[i] || ' ' || l[i+1] AS pair,
                     CAST(SUM(wc) AS BIGINT) AS pair_count
              FROM px$r GROUP BY 1),
            best$r AS MATERIALIZED (
              SELECT pair FROM pc$r
              ORDER BY pair_count DESC, pair LIMIT 1),
            spaced${r + 1} AS MATERIALIZED (
              SELECT word, replace(spaced, ' ' || (SELECT pair FROM best$r) || ' ',
                     ' ' || replace((SELECT pair FROM best$r), ' ', '') || ' ') AS spaced, wc
              FROM spaced$r)"""
        }.mkString(",")
        s"""
        WITH words AS MATERIALIZED (
          SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
          FROM documents),
        wdict AS MATERIALIZED (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM words GROUP BY 1),
        spaced0 AS MATERIALIZED (
          SELECT word, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS spaced, wc
          FROM wdict),$rounds,
        enc AS MATERIALIZED (
          SELECT word, CAST(len(string_split(trim(spaced), ' ')) AS BIGINT) AS n_sym
          FROM spaced$BpeRounds),
        wd AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
          FROM documents)
        SELECT wd.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(e.n_sym) AS BIGINT) AS n_tokens,
               CAST(SUM(length(wd.word)) AS BIGINT) AS n_chars_alpha,
               round(CAST(SUM(length(wd.word)) AS DOUBLE)/SUM(e.n_sym), 6)
                 AS chars_per_token
        FROM wd JOIN enc e USING (word)
        GROUP BY wd.doc_id ORDER BY wd.doc_id"""
      }),

    // ----- doc_quality: heuristic quality scoring ------------------------
    "doc_quality" -> Q(
      build = (s, d) => {
        val nTok = (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
          .cast(LongType)
        docs(s, d)
          .withColumn("n_tokens", nTok)
          .withColumn("dup_cnt", occC(col("text"), "dup"))
          .select(col("doc_id"), col("n_tokens"), col("dup_cnt"),
            (col("n_chars").cast(DoubleType) / col("n_tokens")).as("avg_tok_len"),
            when(col("n_tokens") >= 60 && col("dup_cnt") === 0, "high")
              .when(col("n_tokens") >= 30, "mid").otherwise("low").as("quality"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        SELECT doc_id, n_tokens, dup_cnt,
               CAST(n_chars AS DOUBLE)/n_tokens AS avg_tok_len,
               CASE WHEN n_tokens >= 60 AND dup_cnt = 0 THEN 'high'
                    WHEN n_tokens >= 30 THEN 'mid' ELSE 'low' END AS quality
        FROM (
          SELECT doc_id, n_chars,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
                 ${occS("text", "dup")} AS dup_cnt
          FROM documents)
        ORDER BY doc_id""")),

    // ----- doc_lang_heuristic: stopword-ratio scoring --------------------
    "doc_lang_heuristic" -> Q(
      build = (s, d) =>
        docs(s, d)
          .withColumn("occ_the", occC(col("text"), " the "))
          .withColumn("occ_a", occC(col("text"), " a "))
          .select(col("doc_id"), col("lang"), col("occ_the"), col("occ_a"),
            when(col("occ_the") + col("occ_a") >= 3, "en_like")
              .otherwise("other").as("verdict"))
          .orderBy(col("doc_id")),
      oracle = Some(s"""
        SELECT doc_id, lang, occ_the, occ_a,
               CASE WHEN occ_the + occ_a >= 3 THEN 'en_like' ELSE 'other' END AS verdict
        FROM (
          SELECT doc_id, lang, ${occS("text", " the ")} AS occ_the,
                 ${occS("text", " a ")} AS occ_a
          FROM documents)
        ORDER BY doc_id""")),

    // ----- doc_normalize: text cleaning (lower/strip/collapse) -----------
    "doc_normalize" -> Q(
      build = (s, d) =>
        docs(s, d)
          .select(col("doc_id"),
            regexp_replace(
              trim(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " ")),
              " +", " ").as("clean_text"))
          .withColumn("clean_len", length(col("clean_text")).cast(LongType))
          .orderBy(col("doc_id")),
      oracle = Some("""
        SELECT doc_id, clean_text, CAST(length(clean_text) AS BIGINT) AS clean_len
        FROM (
          SELECT doc_id,
                 regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
                                ' +', ' ', 'g') AS clean_text
          FROM documents)
        ORDER BY doc_id""")),

    // ----- doc_mask: PII-style masking (digit runs) ----------------------
    "doc_mask" -> Q(
      build = (s, d) =>
        docs(s, d)
          .select(col("doc_id"),
            regexp_replace(col("text"), "[0-9]+", "<NUM>").as("masked"))
          .withColumn("n_masked",
            ((length(col("masked"))
              - length(regexp_replace(col("masked"), java.util.regex.Pattern.quote("<NUM>"), ""))) / 5)
              .cast(LongType))
          .orderBy(col("doc_id")),
      oracle = Some("""
        SELECT doc_id, masked,
               CAST((length(masked) - length(replace(masked, '<NUM>', ''))) / 5 AS BIGINT) AS n_masked
        FROM (SELECT doc_id, regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS masked
              FROM documents)
        ORDER BY doc_id""")),

    // ----- doc_dedup_keep_best: dedup with keeper selection --------------
    // The real pipeline op: per content-hash group keep the "best" copy
    // (longest text, doc_id tiebreak), emit keeper + drop count.
    "doc_dedup_keep_best" -> Q(
      build = (s, d) => {
        val w = Window.partitionBy(col("content_hash"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        docs(s, d)
          .withColumn("content_hash", md5(col("text").cast(BinaryType)))
          .withColumn("rn", row_number().over(w))
          .withColumn("n_group", count(lit(1)).over(Window.partitionBy(col("content_hash"))))
          .filter(col("rn") === 1)
          .select(col("content_hash"), col("doc_id").as("keeper_id"),
            col("n_chars"), (col("n_group") - 1).cast(LongType).as("n_dropped"))
          .orderBy(col("content_hash"))
      },
      oracle = Some("""
        SELECT content_hash, keeper_id, n_chars, n_dropped FROM (
          SELECT md5(text) AS content_hash, doc_id AS keeper_id, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY md5(text)
                                    ORDER BY n_chars DESC, doc_id) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY md5(text)) - 1 AS BIGINT) AS n_dropped
          FROM documents)
        WHERE rn = 1 ORDER BY content_hash""")),

    // ----- doc_vocab: corpus vocabulary stats ----------------------------
    "doc_vocab" -> Q(
      build = (s, d) =>
        docs(s, d)
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy(col("word"))
          .agg(count(lit(1)).as("n_occurrences"))
          .orderBy(col("n_occurrences").desc, col("word"))
          .limit(50),
      oracle = Some("""
        SELECT word, COUNT(*) AS n_occurrences FROM (
          SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
        GROUP BY word ORDER BY n_occurrences DESC, word LIMIT 50""")),

    // ----- doc_ngram_dedup: shingle-join near-dup pairs ------------------
    // The shuffle is keyed on the shingle — O(n·shingles), not O(n²); this
    // is the exact-Jaccard oracle for the MinHash scale path below.
    "doc_ngram_dedup" -> Q(
      build = (s, d) =>
        jaccardPairs(s, d)
          .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
          .orderBy(col("doc_a"), col("doc_b")),
      oracle = Some(s"""
        WITH $JPAIRS
        SELECT doc_a, doc_b, n_common, jaccard FROM jpairs
        ORDER BY doc_a, doc_b"""),
      bench = true),

    // ----- doc_ngram_dedup_grouped: production-form near-dup listing -----
    // The group-COMPRESSED twin of doc_ngram_dedup — the form a 100 TB
    // pipeline actually ships. The exploded listing's output itself grows
    // ~m² under duplicate multiplicity (no plan beats its own output size,
    // the r8 ×100 finding). Here identical texts collapse to their min-id
    // rep and each row carries its pair multiplicity (the group-weight
    // rule, `sigGroups`); spec'd in GroupedPairListingSpec. With all-unique
    // texts it IS the exploded listing plus no within rows.
    "doc_ngram_dedup_grouped" -> Q(
      build = (s, d) =>
        groupedShingleScores(s, d).filter(col("jaccard") >= 0.5)
          .select(col("rep_a"), col("rep_b"), col("n_common"), col("jaccard"),
            col("n_pairs"))
          .orderBy(col("rep_a"), col("rep_b")),
      oracle = Some(s"""
        WITH $GROUPED_CTES
        SELECT j.doc_a AS rep_a, j.doc_b AS rep_b, j.n_common, j.jaccard,
               ma.m * mb.m AS n_pairs
        FROM gscored j
        JOIN mm ma ON ma.rep = j.doc_a
        JOIN mm mb ON mb.rep = j.doc_b
        WHERE j.jaccard >= 0.5
        UNION ALL
        SELECT m.rep, m.rep, s.n_sh, 1.0e0, m.m * (m.m - 1) // 2
        FROM mm m JOIN gsizes s ON s.doc_id = m.rep
        WHERE m.m >= 2
        ORDER BY rep_a, rep_b""")),

    // ----- doc_incremental_dedup: new batch vs existing corpus -----------
    // The backfill/ingest pattern: treat src0 as the incoming batch and
    // everything else as the corpus; keep only incoming docs whose
    // content hash is unseen. Anti join on the hash — shuffle keyed on
    // the hash, no full-corpus broadcast.
    "doc_incremental_dedup" -> Q(
      build = (s, d) => {
        val hashed = docs(s, d)
          .withColumn("content_hash", md5(col("text").cast(BinaryType)))
        val incoming = hashed.filter(col("source") === "src0")
        val corpus = hashed.filter(col("source") =!= "src0")
          .select(col("content_hash"))
        incoming
          .join(corpus, Seq("content_hash"), "left_anti")
          .select(col("doc_id"), col("content_hash"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        SELECT doc_id, md5(text) AS content_hash, n_chars
        FROM documents d1
        WHERE source = 'src0'
          AND NOT EXISTS (SELECT 1 FROM documents d2
                          WHERE d2.source <> 'src0' AND md5(d2.text) = md5(d1.text))
        ORDER BY doc_id""")),

    // ----- doc_edit_distance: fuzzy matching within blocked pairs --------
    // Levenshtein over metadata-blocked candidate pairs (same lang+source,
    // nearby ids) — the exact re-rank step after LSH candidate generation.
    // Scale shape: the ±40-id band is IN the join key, not a post-join
    // filter — (lang, source) alone is low-cardinality and one hot block
    // would materialize O(B^2) pairs. Each left row keys on its id bucket
    // (doc_id div 40); the right side replicates to its own and previous
    // bucket (geo_proximity_pairs pattern), so any in-band pair meets in
    // exactly the left row's bucket and per-key work is O(B*80).
    "doc_edit_distance" -> Q(
      build = (s, d) => {
        val band = 40
        val a = docs(s, d).select(col("doc_id").as("doc_a"), col("lang"),
          col("source"), col("text").as("text_a"))
          .withColumn("bucket", expr(s"doc_a div $band"))
        val b = docs(s, d).select(col("doc_id").as("doc_b"), col("lang"),
          col("source"), col("text").as("text_b"))
          .withColumn("bucket", explode(array(
            expr(s"doc_b div $band"), expr(s"doc_b div $band - 1"))))
        a.join(b, Seq("lang", "source", "bucket"))
          .filter(col("doc_a") < col("doc_b") && col("doc_b") - col("doc_a") <= band)
          .select(col("doc_a"), col("doc_b"),
            levenshtein(col("text_a"), col("text_b")).as("edit_dist"),
            (levenshtein(col("text_a"), col("text_b")).cast(DoubleType)
              / greatest(length(col("text_a")), length(col("text_b"))))
              .as("rel_dist"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      oracle = Some("""
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist,
               CAST(levenshtein(a.text, b.text) AS DOUBLE)
               / greatest(length(a.text), length(b.text)) AS rel_dist
        FROM documents a
        JOIN documents b ON a.lang = b.lang AND a.source = b.source
         AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 40
        ORDER BY doc_a, doc_b""")),

    // ----- doc_minhash_lsh: MinHash signatures + LSH banding -------------
    // Signature computed by the one-pass rolling-hash kernel
    // (graft.functions.MinHashSignature): no shingle explode, no shuffle
    // until the band join. Bands join on the 4 raw signature values (no
    // band-hash collision risk, and the DuckDB oracle can replay the
    // whole pipeline — the kernel's mod-2^31-1 arithmetic is the reason).
    "doc_minhash_lsh" -> Q(
      build = (s, d) => minhashBandPairs(s, d).orderBy(col("doc_a"), col("doc_b")),
      oracle = Some(s"""
        WITH $MINHASH_CTES
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.s0 = y.s0 AND x.s1 = y.s1
         AND x.s2 = y.s2 AND x.s3 = y.s3 AND x.doc_id < y.doc_id
        ORDER BY doc_a, doc_b"""),
      bench = true),

    // ----- doc_minhash_lsh_grouped: production form of the LSH listing ---
    // The ×1000 sweep (BENCH_NOTES r10) showed doc_minhash_lsh is the
    // fourth output-bound pair listing: identical texts ⇒ identical
    // signatures ⇒ every replica pair is a candidate OUTPUT row (m²
    // growth — 23 s at ×100 hid it, 433 s at ×1000 did not). Same cure
    // as ngram/containment/simhash: band-join over DISTINCT signatures
    // (the group-weight rule, `sigGroups`: a signature determines every
    // band, so all member pairs are candidates together, and identical
    // signatures share all 8 bands). Expansion-equivalence spec'd in
    // GroupedPairListingSpec; grouping is by SIGNATURE, not text, so
    // cross-text signature collisions are handled by construction.
    "doc_minhash_lsh_grouped" -> Q(
      build = (s, d) => {
        val mm = sigGroups(minhashSigs(docs(s, d)), "sig")
        weighed(bandPairs(mm, "rep", minhashBands, Seq("m")))
          .select(col("rep_a"), col("rep_b"), col("n_pairs"))
          .union(withinRows(mm))
          .orderBy(col("rep_a"), col("rep_b"))
      },
      oracle = Some(s"""
        WITH $MINHASH_CTES,
        sigl AS (
          SELECT doc_id, list(s ORDER BY p) AS sig FROM pm GROUP BY doc_id),
        mm AS (
          SELECT sig, MIN(doc_id) AS rep, CAST(COUNT(*) AS BIGINT) AS m
          FROM sigl GROUP BY sig),
        keyed AS (
          SELECT rep, m, b,
                 sig[CAST(b*4+1 AS INT)] AS s0, sig[CAST(b*4+2 AS INT)] AS s1,
                 sig[CAST(b*4+3 AS INT)] AS s2, sig[CAST(b*4+4 AS INT)] AS s3
          FROM mm, (SELECT unnest(generate_series(0, 7)) AS b) bb)
        SELECT rep_a, rep_b, n_pairs FROM (
          SELECT DISTINCT x.rep AS rep_a, y.rep AS rep_b,
                 x.m * y.m AS n_pairs
          FROM keyed x JOIN keyed y
            ON x.b = y.b AND x.s0 = y.s0 AND x.s1 = y.s1
           AND x.s2 = y.s2 AND x.s3 = y.s3 AND x.rep < y.rep)
        UNION ALL
        SELECT rep, rep, m * (m - 1) // 2 FROM mm WHERE m >= 2
        ORDER BY rep_a, rep_b""")),

    // ----- doc_simhash: 64-bit SimHash + hamming candidate pairs ---------
    // SimHash computed per row by the one-pass kernel (no token explode,
    // no 64-column aggregation shuffle).
    "doc_simhash" -> Q(
      build = (s, d) =>
        // candidates: exact match on any of 4 16-bit chunks, then hamming<=6
        bandPairs(simhashSigs(s, d), "doc_id", hashChunks("simhash"),
            Seq("simhash"))
          .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
            bit_count(col("simhash_a").bitwiseXOR(col("simhash_b")))
              .as("hamming"))
          .filter(col("hamming") <= 6)
          .orderBy(col("doc_a"), col("doc_b")),
      oracle = Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents),
        th AS (
          SELECT doc_id,
                 ${tokSum(graft.functions.TextHashKernels.B1)} * 2147483648
               + ${tokSum(graft.functions.TextHashKernels.B2)} AS h
          FROM tok WHERE len(t) > 0),
        votes AS (
          SELECT doc_id, j,
                 SUM(CASE WHEN ((h >> CAST(j AS INT)) & 1) = 1
                     THEN 1 ELSE -1 END) AS v
          FROM th, (SELECT unnest(generate_series(0, 61)) AS j) jj
          GROUP BY doc_id, j),
        sh AS (
          SELECT doc_id,
                 SUM(CASE WHEN v > 0
                     THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
                     ELSE 0 END) AS simhash
          FROM votes GROUP BY doc_id),
        keyed AS (
          SELECT doc_id, simhash, c, (simhash >> CAST(c * 16 AS INT)) & 65535 AS ck
          FROM sh, (SELECT unnest(generate_series(0, 3)) AS c) cc)
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
               CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
        FROM keyed x JOIN keyed y
          ON x.c = y.c AND x.ck = y.ck AND x.doc_id < y.doc_id
        WHERE bit_count(xor(x.simhash, y.simhash)) <= 6
        ORDER BY doc_a, doc_b""")),

    // ----- doc_simhash_grouped: production-form SimHash listing ----------
    // The group-COMPRESSED twin of doc_simhash (the doc_ngram_dedup_grouped
    // pattern): m byte-identical documents share one simhash, so the
    // exploded listing's OUTPUT grows ~m² under duplicate multiplicity
    // (every replica pair is a hamming-0 row — the r10 ×100 finding:
    // 112 s, output-bound). Here identical SIGNATURES collapse to their
    // min-doc_id rep (the group-weight rule, `sigGroups`; within rows are
    // hamming 0). Exactly expansion-equivalent to the exploded listing
    // (GroupedPairListingSpec).
    "doc_simhash_grouped" -> Q(
      build = (s, d) => {
        val mm = sigGroups(simhashSigs(s, d), "simhash")
        weighed(bandPairs(mm, "rep", hashChunks("simhash"), Seq("simhash", "m")))
          .select(col("rep_a"), col("rep_b"),
            bit_count(col("simhash_a").bitwiseXOR(col("simhash_b")))
              .as("hamming"), col("n_pairs"))
          .filter(col("hamming") <= 6)
          .union(withinRows(mm, lit(0).as("hamming")))
          .orderBy(col("rep_a"), col("rep_b"))
      },
      oracle = Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents),
        th AS (
          SELECT doc_id,
                 ${tokSum(graft.functions.TextHashKernels.B1)} * 2147483648
               + ${tokSum(graft.functions.TextHashKernels.B2)} AS h
          FROM tok WHERE len(t) > 0),
        votes AS (
          SELECT doc_id, j,
                 SUM(CASE WHEN ((h >> CAST(j AS INT)) & 1) = 1
                     THEN 1 ELSE -1 END) AS v
          FROM th, (SELECT unnest(generate_series(0, 61)) AS j) jj
          GROUP BY doc_id, j),
        sh AS (
          SELECT doc_id,
                 SUM(CASE WHEN v > 0
                     THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
                     ELSE 0 END) AS simhash
          FROM votes GROUP BY doc_id),
        mm AS (
          SELECT simhash, MIN(doc_id) AS rep, CAST(COUNT(*) AS BIGINT) AS m
          FROM sh GROUP BY simhash),
        keyed AS (
          SELECT simhash, rep, m, c,
                 (simhash >> CAST(c * 16 AS INT)) & 65535 AS ck
          FROM mm, (SELECT unnest(generate_series(0, 3)) AS c) cc),
        cpairs AS (
          SELECT DISTINCT x.simhash AS sa, y.simhash AS sb,
                 x.rep AS rep_a, y.rep AS rep_b
          FROM keyed x JOIN keyed y
            ON x.c = y.c AND x.ck = y.ck AND x.rep < y.rep
          WHERE bit_count(xor(x.simhash, y.simhash)) <= 6)
        SELECT p.rep_a, p.rep_b,
               CAST(bit_count(xor(p.sa, p.sb)) AS INT) AS hamming,
               ma.m * mb.m AS n_pairs
        FROM cpairs p
        JOIN mm ma ON ma.simhash = p.sa
        JOIN mm mb ON mb.simhash = p.sb
        UNION ALL
        SELECT rep, rep, 0, m * (m - 1) // 2
        FROM mm WHERE m >= 2
        ORDER BY rep_a, rep_b""")),

    // ----- doc_fingerprint: winnowed rolling-hash fingerprints -----------
    // Winnowing (k=20, w=5) in one pass per row via the codegen kernel
    // (graft.functions.WinnowFingerprints) — a narrow map over the scan,
    // no intermediate arrays, which is the shape you want at 100 TB.
    "doc_fingerprint" -> Q(
      build = (s, d) =>
        docs(s, d)
          .filter(length(col("text")) >= 24) // need >= 5 shingles
          .select(col("doc_id"),
            graft.functions.TextFunctions.winnow_fingerprints(col("text")).as("fps"))
          .select(col("doc_id"), size(col("fps")).cast(LongType).as("n_fingerprints"),
            element_at(col("fps"), 1).as("min_fp")) // kernel emits sorted
          .orderBy(col("doc_id")),
      oracle = Some(s"""
        WITH d AS (
          SELECT doc_id, text, length(text) AS n FROM documents
          WHERE length(text) >= 24),
        pos AS (
          SELECT doc_id, text, n, unnest(generate_series(1, n - 19)) AS i FROM d),
        g AS (
          SELECT doc_id, n, i,
                 ((${gramSum(graft.functions.TextHashKernels.B1)}) % $HP) * 2147483648
               + ((${gramSum(graft.functions.TextHashKernels.B2)}) % $HP) AS fp
          FROM pos),
        wmin AS (
          SELECT doc_id, n, i,
                 min(fp) OVER (PARTITION BY doc_id ORDER BY i
                               ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS m
          FROM g),
        fps AS (SELECT DISTINCT doc_id, m FROM wmin WHERE i <= n - 23)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
               MIN(m) AS min_fp
        FROM fps GROUP BY doc_id ORDER BY doc_id""")),

    // ----- doc_winnow_overlap: MOSS-style fingerprint-overlap pairs ------
    // The consumer of the winnowed fingerprints: pairwise containment
    // (shared fingerprints / smaller fingerprint set) over an exploded
    // fp self-join. Fingerprints held by > 50 documents are dropped
    // before pairing (broadcast anti-join) — the stopword-shingle cap
    // that bounds any fp bucket at 50² pairs, so the join stays skew-safe
    // when one boilerplate line appears in millions of documents.
    "doc_winnow_overlap" -> Q(
      build = (s, d) => {
        val fps = docs(s, d)
          .filter(length(col("text")) >= 24)
          .select(col("doc_id"),
            explode(graft.functions.TextFunctions.winnow_fingerprints(col("text")))
              .as("fp")) // kernel emits distinct fps per doc
        val nf = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
        val common = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
          .filter(col("df") > 50).select(col("fp"))
        val rare = fps.join(broadcast(common), Seq("fp"), "left_anti")
        rare.as("a").join(rare.as("b"),
            col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= 8)
          .join(nf.select(col("doc_id").as("doc_a"), col("nfp").as("nfp_a")),
            Seq("doc_a"))
          .join(nf.select(col("doc_id").as("doc_b"), col("nfp").as("nfp_b")),
            Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("shared"),
            (col("shared").cast(DoubleType)
              / least(col("nfp_a"), col("nfp_b")).cast(DoubleType))
              .as("containment"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      oracle = Some(s"""
        WITH d AS (
          SELECT doc_id, text, length(text) AS n FROM documents
          WHERE length(text) >= 24),
        pos AS (
          SELECT doc_id, text, n, unnest(generate_series(1, n - 19)) AS i FROM d),
        g AS (
          SELECT doc_id, n, i,
                 ((${gramSum(graft.functions.TextHashKernels.B1)}) % $HP) * 2147483648
               + ((${gramSum(graft.functions.TextHashKernels.B2)}) % $HP) AS fp
          FROM pos),
        wmin AS (
          SELECT doc_id, n, i,
                 min(fp) OVER (PARTITION BY doc_id ORDER BY i
                               ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS m
          FROM g),
        fps AS (SELECT DISTINCT doc_id, m FROM wmin WHERE i <= n - 23),
        nf AS (SELECT doc_id, COUNT(*) AS nfp FROM fps GROUP BY doc_id),
        rare AS (
          SELECT a.doc_id, a.m FROM fps a
          JOIN (SELECT m FROM fps GROUP BY m HAVING COUNT(*) <= 50) r
            ON r.m = a.m),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
          FROM rare a JOIN rare b ON a.m = b.m AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT p.doc_a, p.doc_b, p.shared,
               CAST(p.shared AS DOUBLE)
                 / CAST(least(na.nfp, nb.nfp) AS DOUBLE) AS containment
        FROM pairs p
        JOIN nf na ON na.doc_id = p.doc_a
        JOIN nf nb ON nb.doc_id = p.doc_b
        WHERE p.shared >= 8
        ORDER BY doc_a, doc_b""")),

    // ----- doc_sim_histogram: pair-similarity distribution ---------------
    // Where should the dedup threshold sit? The histogram of exact-Jaccard
    // scores over all shingle-sharing pairs answers it (the knee between
    // the background hump and the duplicate spike). Bucketing floor(j*10)
    // is the same IEEE op on the same doubles on both engines.
    "doc_sim_histogram" -> Q(
      // r10 ×100 catch-up finding: the raw jaccardAll form OOMs at ×100 —
      // replica groups blow the shingle join ×m² — but the output is an
      // AGGREGATE over the group-weighted pairs (`sigGroups`), whose
      // within rows (jaccard 1.0) land in bucket 10. Output identical
      // (hash-gated sf0.01 + sf0.1).
      build = (s, d) =>
        groupedShingleScores(s, d)
          .groupBy(floor(col("jaccard") * 10.0).cast(LongType).as("bucket"))
          .agg(sum(col("n_pairs")).as("n_pairs"),
            sum(when(col("jaccard") >= 0.5, col("n_pairs")).otherwise(0L))
              .as("n_above_threshold"))
          .orderBy(col("bucket")),
      oracle = Some(s"""
        WITH $GROUPED_CTES,
        wpairs AS (
          SELECT CAST(floor(s.jaccard*10.0) AS BIGINT) AS bucket,
                 ma.m * mb.m AS w, s.jaccard >= 0.5 AS above
          FROM gscored s
          JOIN mm ma ON ma.rep = s.doc_a
          JOIN mm mb ON mb.rep = s.doc_b
          UNION ALL
          SELECT 10, m * (m - 1) // 2, TRUE FROM mm WHERE m >= 2)
        SELECT bucket, CAST(SUM(w) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN above THEN w ELSE 0 END) AS BIGINT)
                 AS n_above_threshold
        FROM wpairs GROUP BY 1 ORDER BY bucket""")),

    // ----- doc_source_overlap: cross-source duplication matrix -----------
    // Which crawls re-collect each other's documents? Pairs of sources
    // sharing a content hash, counted — the dedup-planning dashboard that
    // decides processing order. Shuffle keyed on the hash; pair expansion
    // happens inside each tiny hash group.
    "doc_source_overlap" -> Q(
      build = (s, d) => {
        val h = docs(s, d)
          .select(md5(col("text").cast(BinaryType)).as("h"), col("source"))
          .distinct()
        h.as("a").join(h.as("b"),
            col("a.h") === col("b.h") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
          .agg(count(lit(1)).as("n_shared"))
          .orderBy(col("source_a"), col("source_b"))
      },
      oracle = Some("""
        WITH h AS (SELECT DISTINCT md5(text) AS h, source FROM documents)
        SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
        FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2 ORDER BY source_a, source_b""")),

    // ----- doc_length_profile: corpus length histogram per language ------
    // The first chart of every corpus report: doc-length distribution per
    // lang in 128-char buckets with exact share-of-language. One partial
    // aggregation; the share division is the same IEEE op on both engines.
    "doc_length_profile" -> Q(
      build = (s, d) => {
        val wl = Window.partitionBy(col("lang"))
        docs(s, d)
          .withColumn("len_bucket", expr("n_chars div 128"))
          .groupBy(col("lang"), col("len_bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars_total"))
          .withColumn("share",
            col("n_docs").cast(DoubleType) / sum(col("n_docs")).over(wl))
          .orderBy(col("lang"), col("len_bucket"))
      },
      oracle = Some("""
        SELECT lang, len_bucket, n_docs, chars_total,
               CAST(n_docs AS DOUBLE)
               / SUM(n_docs) OVER (PARTITION BY lang) AS share
        FROM (
          SELECT lang, n_chars // 128 AS len_bucket, COUNT(*) AS n_docs,
                 CAST(SUM(n_chars) AS BIGINT) AS chars_total
          FROM documents GROUP BY 1, 2)
        ORDER BY lang, len_bucket""")),

    // ----- doc_cc_clusters: connected components over near-dup pairs -----
    // The closure step of every dedup pipeline: near-dup similarity is not
    // transitive, so the canonical "document group" is the connected
    // component of the pair graph, labelled by its min doc_id. The shared
    // connectedComponents helper runs large-star/small-star contractions
    // to a fixed point, rebasing each round so the plan stays O(1) deep
    // regardless of component diameter — the shape that survives a 100 TB
    // corpus. Oracle: DuckDB recursive CTE computing exact CC.
    //
    // Exact-first collapse (the production dedup ordering, and the r8 ×100
    // finding): Jaccard depends only on the text, so byte-identical docs
    // are interchangeable in the pair graph — but their shingle posting
    // lists multiply the candidate self-join quadratically (a boilerplate
    // page duplicated 10^6 times is 10^12 candidate pairs). Collapse each
    // distinct text to its min-doc_id representative FIRST (one linear
    // hash groupBy), run the shingle/Jaccard graph and CC over distinct
    // texts only, then project components back through the text group.
    // Exactly output-preserving: members of a text group share every
    // edge their representative has, and the component min over reps IS
    // the min over all members (rep = group min).
    //
    // Texts shorter than the shingle length (20 chars) are NOT collapsed:
    // they have no shingles and therefore no edges in the oracle graph, so
    // byte-identical short texts are singleton clusters there — collapsing
    // them would merge what the graph keeps apart. Each short doc is its
    // own rep (the "#"-prefixed doc_id key can't collide with md5 hex).
    "doc_cc_clusters" -> Q(
      build = (s, d) => {
        val grp = docs(s, d)
          .withColumn("rep", min(col("doc_id")).over(
            Window.partitionBy(
              when(length(col("text")) >= 20, md5(col("text").cast(BinaryType)))
                .otherwise(concat(lit("#"), col("doc_id").cast(StringType))))))
        val repDocs = grp.filter(col("doc_id") === col("rep"))
        val pairs = jaccardAllOf(repDocs).filter(col("jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"))
        // the union references pairs twice, but ReusedExchange dedups the
        // twin shingle-join subplans — cheaper than a forced checkpoint
        val edges = pairs
          .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
          .toDF("src", "dst")
        val nodes = repDocs.select(col("doc_id").as("node"))
        val repCc = connectedComponents(nodes, edges)
          .select(col("node").as("rep"), col("label").as("cluster_id"))
        grp.select(col("doc_id"), col("rep"))
          .join(repCc, Seq("rep"))
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
          .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH RECURSIVE $JPAIRS,
        edges AS (SELECT doc_a AS s, doc_b AS t FROM jpairs
                  UNION ALL SELECT doc_b, doc_a FROM jpairs),
        walk(node, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT w.node, e.t FROM walk w JOIN edges e ON e.s = w.lbl),
        cc AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY 1)
        SELECT doc_id, cluster_id,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM cc ORDER BY doc_id""")),

    // ----- doc_sample_hash: deterministic hash sampling ------------------
    // Reproducible corpus subsampling: keep a doc iff the first 4 hex chars
    // of md5(doc_id || salt) fall below the threshold (~1/8). A pure narrow
    // map over the scan — no shuffle, no RNG state, same sample on every
    // engine and every run; the only sampler that is referentially
    // transparent across a 1000-executor retry storm.
    "doc_sample_hash" -> Q(
      build = (s, d) =>
        docs(s, d)
          .withColumn("skey",
            substring(md5(concat(col("doc_id").cast(StringType), lit(":s1"))
              .cast(BinaryType)), 1, 4))
          .filter(col("skey") < "2000")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("skey"))
          .orderBy(col("doc_id")),
      oracle = Some("""
        SELECT doc_id, lang, source, n_chars, skey FROM (
          SELECT doc_id, lang, source, n_chars,
                 substr(md5(CAST(doc_id AS VARCHAR) || ':s1'), 1, 4) AS skey
          FROM documents)
        WHERE skey < '2000' ORDER BY doc_id""")),

    // ----- doc_stratified_sample: exact per-stratum fraction -------------
    // ceil(n/5) docs per language, chosen by hash order (deterministic,
    // unbiased); one window shuffle keyed on the stratum.
    "doc_stratified_sample" -> Q(
      build = (s, d) => {
        val h = md5(concat(col("doc_id").cast(StringType), lit(":s2")).cast(BinaryType))
        val w = Window.partitionBy(col("lang")).orderBy(h, col("doc_id"))
        docs(s, d)
          .withColumn("rn", row_number().over(w))
          .withColumn("n_lang", count(lit(1)).over(Window.partitionBy(col("lang"))))
          .filter(col("rn") <= expr("(n_lang + 4) div 5"))
          .select(col("doc_id"), col("lang"), col("n_lang"), col("rn"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        SELECT doc_id, lang, n_lang, rn FROM (
          SELECT doc_id, lang,
                 ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':s2'), doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY lang) AS n_lang
          FROM documents)
        WHERE rn <= (n_lang + 4) // 5 ORDER BY doc_id""")),

    // ----- doc_train_test_split: deterministic corpus split --------------
    // Hash-range assignment (~80/10/10 by first md5 hex byte) — stable under
    // corpus growth: a doc's split never changes when other docs arrive,
    // unlike row_number-based splits. Emits per-(split, lang) counts.
    "doc_train_test_split" -> Q(
      build = (s, d) =>
        docs(s, d)
          .withColumn("h2",
            substring(md5(concat(col("doc_id").cast(StringType), lit(":s3"))
              .cast(BinaryType)), 1, 2))
          .withColumn("split",
            when(col("h2") < "cd", "train")
              .when(col("h2") < "e7", "valid").otherwise("test"))
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"))
          .orderBy(col("split"), col("lang")),
      oracle = Some("""
        SELECT split, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
        FROM (
          SELECT lang, n_chars,
                 CASE WHEN h2 < 'cd' THEN 'train'
                      WHEN h2 < 'e7' THEN 'valid' ELSE 'test' END AS split
          FROM (SELECT lang, n_chars,
                       substr(md5(CAST(doc_id AS VARCHAR) || ':s3'), 1, 2) AS h2
                FROM documents))
        GROUP BY 1, 2 ORDER BY split, lang""")),

    // ----- doc_domain_cap: per-source quota capping ----------------------
    // The Common-Crawl-style balancing op: cap each (source, lang) bucket
    // at 20 docs, keeping the longest (doc_id tiebreak). One window shuffle
    // keyed on the bucket; emits the per-bucket keep/drop accounting.
    "doc_domain_cap" -> Q(
      build = (s, d) => {
        val w = Window.partitionBy(col("source"), col("lang"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        docs(s, d)
          .withColumn("rn", row_number().over(w))
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("rn") <= 20, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("rn") <= 20, col("n_chars")).otherwise(0L)).as("chars_kept"))
          .orderBy(col("source"), col("lang"))
      },
      oracle = Some("""
        SELECT source, lang, COUNT(*) AS n_total,
               CAST(SUM(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN rn <= 20 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
        FROM (
          SELECT source, lang, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY source, lang
                                    ORDER BY n_chars DESC, doc_id) AS rn
          FROM documents)
        GROUP BY 1, 2 ORDER BY source, lang""")),

    // ----- doc_unigram_logprob: LM-perplexity-style quality scoring ------
    // The CCNet-style fluency filter: score each doc by mean unigram
    // surprisal -ln p(term) under the corpus's own unigram model, flag the
    // high-perplexity tail. Two shuffles (term counts, per-doc agg); the
    // model join is keyed on the term, broadcastable once the vocabulary
    // is Zipf-truncated. Per-token surprisals round to 6 decimals before
    // the DECIMAL-exact sum, so the mean is order-free and cross-engine.
    "doc_unigram_logprob" -> Q(
      build = (s, d) => {
        val toks = docs(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
        val model = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        val total = model.agg(sum(col("cnt")).as("n_total"))
        val scored = toks.join(model, "term")
          .crossJoin(broadcast(total))
          .withColumn("nll",
            round(-log(col("cnt").cast(DoubleType) / col("n_total")), 6)
              .cast(DecimalType(18, 6)))
        scored.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            (sum(col("nll")).cast(DoubleType) / count(lit(1))).as("mean_nll"))
          .withColumn("verdict",
            when(col("mean_nll") <= 4.0, "fluent").otherwise("rare"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        toks_f AS (SELECT doc_id, term FROM toks WHERE term <> ''),
        model AS (SELECT term, COUNT(*) AS cnt FROM toks_f GROUP BY 1),
        total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM model),
        scored AS (
          SELECT t.doc_id,
                 CAST(round(-ln(CAST(m.cnt AS DOUBLE) / n_total), 6)
                      AS DECIMAL(18,6)) AS nll
          FROM toks_f t JOIN model m ON t.term = m.term, total)
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(nll) AS DOUBLE) / COUNT(*) AS mean_nll,
               CASE WHEN CAST(SUM(nll) AS DOUBLE) / COUNT(*) <= 4.0
                    THEN 'fluent' ELSE 'rare' END AS verdict
        FROM scored GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- doc_bigram_surprisal: sequence-aware fluency + repetition -----
    // The bigram step up from doc_unigram_logprob: mean conditional
    // surprisal -ln p(w2|w1) under the corpus bigram model, plus the
    // distinct-bigram ratio (repeated bigrams = boilerplate). Bigrams come
    // from one lag() window per doc — no positional self-join; the model
    // is two groupBys keyed on the bigram/left-context. Surprisals round
    // to 6 decimals before a DECIMAL-exact sum (order-free, cross-engine).
    "doc_bigram_surprisal" -> Q(
      build = (s, d) => {
        // r14: in-row bigrams (bigramsOf) — the lag() window shuffled and
        // sorted the whole token stream; same consecutive-non-empty pairs
        val big = bigramsOf(docs(s, d), Seq("doc_id"))
          .select(col("doc_id"), col("w1").as("prev"), col("w2").as("term"))
        val pair = big.groupBy(col("prev"), col("term")).agg(count(lit(1)).as("c12"))
        val left = pair.groupBy(col("prev")).agg(sum(col("c12")).as("c1"))
        val scored = big
          .join(pair, Seq("prev", "term")).join(left, Seq("prev"))
          .withColumn("nll",
            round(-log(col("c12").cast(DoubleType) / col("c1")), 6)
              .cast(DecimalType(18, 6)))
        scored.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            (sum(col("nll")).cast(DoubleType) / count(lit(1))).as("mean_nll2"),
            (countDistinct(concat_ws(" ", col("prev"), col("term")))
              .cast(DoubleType) / count(lit(1))).as("distinct_ratio"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, g.i AS pos, l[g.i] AS term
          FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
               generate_series(1, 2048) AS g(i)
          WHERE g.i <= len(l) AND l[g.i] <> ''),
        big AS (
          SELECT doc_id, prev, term FROM (
            SELECT doc_id, term,
                   LAG(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM toks)
          WHERE prev IS NOT NULL),
        pair AS (SELECT prev, term, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
        lft AS (SELECT prev, CAST(SUM(c12) AS BIGINT) AS c1 FROM pair GROUP BY 1),
        scored AS (
          SELECT b.doc_id,
                 CAST(round(-ln(CAST(p.c12 AS DOUBLE) / l.c1), 6)
                      AS DECIMAL(18,6)) AS nll,
                 b.prev || ' ' || b.term AS bigram
          FROM big b
          JOIN pair p ON b.prev = p.prev AND b.term = p.term
          JOIN lft l ON b.prev = l.prev)
        SELECT doc_id, COUNT(*) AS n_bigrams,
               CAST(SUM(nll) AS DOUBLE) / COUNT(*) AS mean_nll2,
               CAST(COUNT(DISTINCT bigram) AS DOUBLE) / COUNT(*) AS distinct_ratio
        FROM scored GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- doc_tfidf: top-3 distinguishing terms per document ------------
    // Token explode -> tf per (doc, term), df per term, tfidf = tf·ln(N/df).
    // Ranking uses the integer dominance order (tf desc, df asc, term) so
    // the cross-engine row set is exact; the tfidf value itself is rounded
    // to 3 decimals (ln differs ~1 ulp between libms).
    "doc_tfidf" -> Q(
      build = (s, d) => {
        val toks = docs(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
        val tf = toks.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        // tf is already distinct per (doc, term): df falls out of it with no
        // second pass over the tokens and no extra distinct shuffle
        val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("df"), col("term"))
        tf.join(df, "term")
          .crossJoin(broadcast(n))
          .withColumn("tfidf",
            round(col("tf") * log(col("n_docs").cast(DoubleType) / col("df")), 3))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("df"),
            col("tfidf"))
          .orderBy(col("doc_id"), col("rn"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        toks_f AS (SELECT doc_id, term FROM toks WHERE term <> ''),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks_f GROUP BY 1, 2),
        df AS (SELECT term, COUNT(*) AS df
               FROM (SELECT DISTINCT doc_id, term FROM toks_f) GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT doc_id, rn, term, tf, df, tfidf FROM (
          SELECT tf.doc_id, tf.term, tf.tf, df.df,
                 round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 3) AS tfidf,
                 ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                    ORDER BY tf.tf DESC, df.df, tf.term) AS rn
          FROM tf JOIN df ON tf.term = df.term, n)
        WHERE rn <= 3 ORDER BY doc_id, rn""")),

    // ----- doc_gopher_rules: composite quality-rule filter ---------------
    // The Gopher/C4-style rule battery every pretraining pipeline runs
    // before anything expensive: word-count bounds, mean word length
    // bounds, stopword presence, and single-word dominance — each rule a
    // boolean column plus the conjunction, so downstream stages can slice
    // by failure reason. One token-explode aggregate keyed on the doc (for
    // the dominance ratio); everything else is per-row column math. All
    // ratios are exact integer divisions, so the booleans are
    // threshold-stable across engines.
    "doc_gopher_rules" -> Q(
      build = (s, d) => {
        val tops = docs(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("doc_id")).agg(max(col("cnt")).as("top_cnt"))
        docs(s, d)
          .withColumn("n_words",
            (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
              .cast(LongType))
          .withColumn("stop_hits", occC(col("text"), " the ") + occC(col("text"), " a "))
          .join(tops, Seq("doc_id"))
          .withColumn("mean_word_len",
            (col("n_chars") - (col("n_words") - 1)).cast(DoubleType) / col("n_words"))
          .withColumn("top_word_frac", col("top_cnt").cast(DoubleType) / col("n_words"))
          .select(col("doc_id"), col("n_words"), col("mean_word_len"),
            col("stop_hits"), col("top_word_frac"),
            (col("n_words") >= 50 && col("n_words") <= 100000).as("ok_len"),
            (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0).as("ok_wlen"),
            (col("stop_hits") >= 2).as("ok_stop"),
            (col("top_word_frac") <= 0.12).as("ok_rep"))
          .withColumn("passes",
            col("ok_len") && col("ok_wlen") && col("ok_stop") && col("ok_rep"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        wc AS (SELECT doc_id, w, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
        tops AS (SELECT doc_id, MAX(cnt) AS top_cnt FROM wc GROUP BY 1),
        base AS (
          SELECT d.doc_id,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
                 ${occS("text", " the ")} + ${occS("text", " a ")} AS stop_hits,
                 n_chars, top_cnt
          FROM documents d JOIN tops t ON d.doc_id = t.doc_id),
        r AS (SELECT doc_id, n_words,
                CAST(n_chars - (n_words - 1) AS DOUBLE)/n_words AS mean_word_len,
                stop_hits,
                CAST(top_cnt AS DOUBLE)/n_words AS top_word_frac
              FROM base)
        SELECT doc_id, n_words, mean_word_len, stop_hits, top_word_frac,
               n_words >= 50 AND n_words <= 100000 AS ok_len,
               mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS ok_wlen,
               stop_hits >= 2 AS ok_stop,
               top_word_frac <= 0.12 AS ok_rep,
               (n_words >= 50 AND n_words <= 100000)
                 AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                 AND stop_hits >= 2 AND top_word_frac <= 0.12 AS passes
        FROM r ORDER BY doc_id""")),

    // ----- doc_repetition: duplicated-bigram repetition score ------------
    // The Gopher repetition signal: what fraction of a document's word
    // bigrams are repeats (1 − distinct/total)? Catches looping generator
    // output and boilerplate that char-level dedup misses. One explode +
    // one aggregate keyed on the doc; the fraction is an exact integer
    // division, so the flag threshold is stable across engines.
    "doc_repetition" -> Q(
      build = (s, d) =>
        docs(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))"))
            .as("bg"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), countDistinct(col("bg")).as("n_distinct"))
          .withColumn("dup_frac",
            lit(1.0) - col("n_distinct").cast(DoubleType) / col("n_bigrams"))
          .withColumn("repetitive", col("dup_frac") > 0.2)
          .orderBy(col("doc_id")),
      oracle = Some("""
        WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        bg AS (SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
               FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
                     FROM wl WHERE len(w) >= 2)),
        agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                       COUNT(DISTINCT bg) AS n_distinct
                FROM bg GROUP BY 1)
        SELECT doc_id, n_bigrams, n_distinct,
               1.0 - CAST(n_distinct AS DOUBLE)/n_bigrams AS dup_frac,
               1.0 - CAST(n_distinct AS DOUBLE)/n_bigrams > 0.2 AS repetitive
        FROM agg ORDER BY doc_id""")),

    // ----- doc_contamination: benchmark n-gram overlap audit -------------
    // The eval-contamination check run before any training shard ships:
    // treat src0 as the held-out benchmark; a train document is flagged
    // when it shares character shingles with ANY benchmark doc (the
    // 13-gram-overlap audit at shingle granularity). Scale shape: one
    // semi-join keyed on the shingle (the same shuffle the exact-dedup
    // family uses) — never doc×doc pairs.
    "doc_contamination" -> Q(
      build = (s, d) => {
        val srcs = docs(s, d).select(col("doc_id"), col("source"))
        val shs = shingles(s, d).join(srcs, Seq("doc_id"))
        val bench = shs.filter(col("source") === "src0").select(col("sh")).distinct()
        val train = shs.filter(col("source") =!= "src0")
        val sizes = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
        train.join(bench, Seq("sh"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
          .join(sizes, Seq("doc_id"))
          .withColumn("shared_frac", col("n_shared").cast(DoubleType) / col("n_sh"))
          .withColumn("contaminated", col("shared_frac") >= 0.5)
          .select(col("doc_id"), col("n_shared"), col("n_sh"),
            col("shared_frac"), col("contaminated"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH sh AS ($SHINGLES),
        shs AS (SELECT sh.doc_id, sh.sh, d.source
                FROM sh JOIN documents d ON sh.doc_id = d.doc_id),
        bench AS (SELECT DISTINCT sh FROM shs WHERE source = 'src0'),
        train AS (SELECT * FROM shs WHERE source <> 'src0'),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM train GROUP BY 1),
        shared AS (SELECT t.doc_id, COUNT(*) AS n_shared FROM train t
                   WHERE EXISTS (SELECT 1 FROM bench b WHERE b.sh = t.sh)
                   GROUP BY 1)
        SELECT s.doc_id, n_shared, n_sh,
               CAST(n_shared AS DOUBLE)/n_sh AS shared_frac,
               CAST(n_shared AS DOUBLE)/n_sh >= 0.5 AS contaminated
        FROM shared s JOIN sizes z ON s.doc_id = z.doc_id
        ORDER BY s.doc_id""")),

    // ----- doc_span_dedup: exact substring-span dedup --------------------
    // The "Deduplicating Training Data Makes Language Models Better"
    // capability: find exact character spans repeated across documents
    // (the suffix-array find, re-expressed as a stride-8 32-char window
    // groupBy). A span occurring in >= 2 distinct docs is duplicated;
    // each doc reports how much of it is made of duplicated spans. At
    // 100 TB the only change is hashing the span to a 64-bit key before
    // the shuffle (same semantics modulo collisions) — the shape stays
    // one explode + two keyed aggs, no pair join anywhere.
    "doc_span_dedup" -> Q(
      build = (s, d) => {
        // r13: char_windows kernel — see shinglesOf (same window set,
        // multiplicity preserved: no distinct here)
        val w = docs(s, d).filter(length(col("text")) >= 32)
          .select(col("doc_id"),
            explode(graft.functions.ByteFunctions
              .char_windows(col("text"), 32, 8)).as("span"))
        val dup = w.groupBy(col("span"))
          .agg(countDistinct(col("doc_id")).as("n_docs"))
          .filter(col("n_docs") >= 2)
        val tot = w.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
        val dd = w.join(dup, Seq("span"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_spans"))
        tot.join(dd, Seq("doc_id"), "left")
          .withColumn("n_dup_spans", coalesce(col("n_dup_spans"), lit(0L)))
          .withColumn("dup_frac", col("n_dup_spans").cast(DoubleType) / col("n_spans"))
          .withColumn("flagged", col("dup_frac") >= 0.2)
          .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
            col("dup_frac"), col("flagged"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH w AS (
          SELECT d.doc_id, substr(d.text, g.i, 32) AS span
          FROM documents d, generate_series(1, 1024, 8) AS g(i)
          WHERE length(d.text) >= 32 AND g.i <= length(d.text) - 31),
        dup AS (SELECT span FROM w GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2),
        tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM w GROUP BY 1),
        dd AS (SELECT doc_id, COUNT(*) AS n_dup_spans FROM w
               WHERE span IN (SELECT span FROM dup) GROUP BY 1)
        SELECT t.doc_id, t.n_spans,
               COALESCE(dd.n_dup_spans, 0) AS n_dup_spans,
               CAST(COALESCE(dd.n_dup_spans, 0) AS DOUBLE)/t.n_spans AS dup_frac,
               CAST(COALESCE(dd.n_dup_spans, 0) AS DOUBLE)/t.n_spans >= 0.2 AS flagged
        FROM tot t LEFT JOIN dd ON t.doc_id = dd.doc_id
        ORDER BY t.doc_id""")),

    // ----- doc_exact_substr: full ExactSubstr duplicated-span dedup ------
    // The published training-data-dedup standard (Lee et al.,
    // "Deduplicating Training Data Makes Language Models Better"): find
    // EVERY 50-char window occurring more than once in the corpus
    // (stride 1 — the suffix-array "find" re-expressed as a Karp-Rabin
    // hash groupBy), then merge overlapping duplicated windows into
    // MAXIMAL duplicated spans per document (the paper's expansion
    // step). doc_span_dedup remains the cheap stride-8 approximation;
    // this is the exact pass. Scale shape: the gram_hashes kernel emits
    // all window hashes in one codegen'd pass (8-byte shuffle keys, no
    // substring shuffle — the 100 TB posture the stride-8 form only
    // promised in a comment); the span merge is two bounded per-doc
    // windows (≤ len rows per doc). The engine keys on the combined
    // 62-bit (B1,B2) hash while the oracle keys on the raw substring —
    // they disagree only on a double-collision (~2^-62 per pair), so
    // the hash gate cross-checks the kernel against literal substring
    // equality. ASCII corpus contract, as doc_cdc_chunks.
    "doc_exact_substr" -> Q(
      build = (s, d) => exactSubstrOf(docs(s, d)),
      oracle = Some("""
        WITH w AS (
          SELECT d.doc_id, length(d.text) AS len, g.i,
                 substr(d.text, g.i, 50) AS sp
          FROM documents d, generate_series(1, 1024) AS g(i)
          WHERE length(d.text) >= 50 AND g.i <= length(d.text) - 49),
        dup AS (SELECT sp FROM w GROUP BY sp HAVING COUNT(*) >= 2),
        dw AS (SELECT doc_id, len, i FROM w
               WHERE sp IN (SELECT sp FROM dup)),
        isl AS (
          SELECT doc_id, len, i,
                 CASE WHEN i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i)
                        <= 50 THEN 0 ELSE 1 END AS st
          FROM dw),
        grps AS (
          SELECT doc_id, len, i,
                 SUM(st) OVER (PARTITION BY doc_id ORDER BY i) AS g
          FROM isl),
        spans AS (
          SELECT doc_id, len, g, MIN(i) AS s, MAX(i) + 49 AS e,
                 COUNT(*) AS nw
          FROM grps GROUP BY 1, 2, 3),
        per AS (
          SELECT doc_id, len, CAST(COUNT(*) AS BIGINT) AS n_spans,
                 CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
                 CAST(SUM(nw) AS BIGINT) AS n_dup_windows
          FROM spans GROUP BY 1, 2),
        base AS (
          SELECT doc_id, length(text) AS len,
                 CAST(length(text) - 49 AS BIGINT) AS n_windows
          FROM documents WHERE length(text) >= 50)
        SELECT b.doc_id, b.n_windows,
               COALESCE(p.n_dup_windows, 0) AS n_dup_windows,
               COALESCE(p.n_spans, 0) AS n_spans,
               COALESCE(p.dup_chars, 0) AS dup_chars,
               CAST(COALESCE(p.dup_chars, 0) AS DOUBLE) / b.len AS dup_frac,
               CAST(COALESCE(p.dup_chars, 0) AS DOUBLE) / b.len >= 0.2
                 AS flagged
        FROM base b LEFT JOIN per p ON b.doc_id = p.doc_id
        ORDER BY b.doc_id""")),

    // ----- doc_pack_sequences: training-example packing ------------------
    // Pack documents into fixed 2048-token training sequences: shuffle
    // deterministically (md5 order — growth-stable like the split/sample
    // family), run a prefix sum of token counts, and assign each doc to
    // the sequence where it starts. The prefix sum is two-level (the
    // ts_concurrency pattern): a local window per (source, first hex
    // char of the order key) — a RANGE bucket of the md5 order, so
    // bucket-local prefix + bucket offset == the global per-source
    // prefix sum, exactly, in integers — plus a tiny offset window over
    // the 16 bucket totals. Parallelism is sources × 16 instead of
    // sources, and nothing about the result changes at any scale.
    "doc_pack_sequences" -> Q(
      build = (s, d) => {
        // n_tok via the separator-count idiom (length minus length-sans-
        // spaces + 1), the SAME formula the oracle runs — `split` would
        // agree only on single-space text, and doc_token_count already
        // standardized this mirror-idiom for whitespace token counts
        val t = docs(s, d).select(col("doc_id"), col("source"),
          (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
            .cast(LongType).as("n_tok"),
          md5(concat(col("doc_id").cast(StringType), lit(":pack"))
            .cast(BinaryType)).as("h"))
          .withColumn("hb", substring(col("h"), 1, 1))
        val wLocal = Window.partitionBy(col("source"), col("hb"))
          .orderBy(col("h"), col("doc_id"))
        val totals = t.groupBy(col("source"), col("hb"))
          .agg(sum(col("n_tok")).as("btot"))
        val wOff = Window.partitionBy(col("source")).orderBy(col("hb"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = totals
          .withColumn("off", coalesce(sum(col("btot")).over(wOff), lit(0L)))
          .select(col("source"), col("hb"), col("off"))
        t.withColumn("lcum", sum(col("n_tok")).over(wLocal))
          .join(broadcast(offsets), Seq("source", "hb"))
          .withColumn("cum", col("off") + col("lcum"))
          .withColumn("seq_id", expr("(cum - n_tok) div 2048"))
          .groupBy(col("source"), col("seq_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
            min(col("h")).as("first_h"))
          .withColumn("fill_frac", col("n_tokens").cast(DoubleType) / 2048.0)
          .select(col("source"), col("seq_id"), col("n_docs"), col("n_tokens"),
            col("first_h"), col("fill_frac"))
          .orderBy(col("source"), col("seq_id"))
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tok,
                 md5(CAST(doc_id AS VARCHAR) || ':pack') AS h
          FROM documents),
        c AS (
          SELECT source, n_tok, h,
                 SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id) AS cum
          FROM t)
        SELECT source, CAST((cum - n_tok)//2048 AS BIGINT) AS seq_id,
               COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               MIN(h) AS first_h,
               CAST(SUM(n_tok) AS DOUBLE)/2048.0 AS fill_frac
        FROM c GROUP BY 1, 2 ORDER BY source, seq_id""")),

    // ----- doc_mixture_weights: temperature-scaled source mixing ---------
    // The data-mixing step of corpus assembly: per-source sampling
    // weights w_i ∝ n_i^0.7 (temperature alpha = 0.7, the standard
    // multinomial rebalancing) and an integer allocation of a 100k-doc
    // training budget. The power weight is 2^20-fixed-point quantized so
    // shares and allocations are exact integer arithmetic on both
    // engines; the total rides in on a broadcast scalar, no global
    // window.
    "doc_mixture_weights" -> Q(
      build = (s, d) => {
        // separator-count token idiom, mirrored with the oracle text
        // (see doc_pack_sequences) — split() only agrees on clean text
        val g = docs(s, d).groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum((length(col("text"))
              - length(regexp_replace(col("text"), " ", "")) + 1)
              .cast(LongType)).as("n_tokens"))
          .withColumn("qw",
            floor(pow(col("n_docs").cast(DoubleType), 0.7) * 1048576.0).cast(LongType))
        g.crossJoin(broadcast(g.select(sum(col("qw")).as("tq"))))
          .withColumn("share", col("qw").cast(DoubleType) / col("tq").cast(DoubleType))
          .withColumn("target_docs", expr("(100000 * qw) div tq"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("share"), col("target_docs"))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH g AS (
          SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS n_tokens,
                 CAST(FLOOR(pow(CAST(COUNT(*) AS DOUBLE), 0.7)*1048576.0) AS BIGINT) AS qw
          FROM documents GROUP BY 1),
        tot AS (SELECT CAST(SUM(qw) AS BIGINT) AS tq FROM g)
        SELECT g.source, g.n_docs, g.n_tokens,
               CAST(g.qw AS DOUBLE)/CAST(t.tq AS DOUBLE) AS share,
               (100000 * g.qw)//t.tq AS target_docs
        FROM g CROSS JOIN tot t
        ORDER BY g.source""")),

    // ----- doc_dsir: hashed-ngram importance weights (DSIR) --------------
    // Data Selection via Importance Resampling (Xie et al. 2023, public):
    // score every raw doc by how target-like its hashed-bigram feature
    // distribution is. Features: bigrams hashed into 256 buckets (first
    // md5 hex byte — the same cross-engine hashing doc_sample_hash uses).
    // Raw model = bucket counts over the whole corpus; target model =
    // bucket counts over the lang='en' subset; both Laplace-smoothed.
    // Per-doc weight = mean log-likelihood ratio over its bigrams.
    // Scale shape: the model is 256 rows regardless of corpus size — the
    // per-bigram join is a broadcast, and the only real shuffles are the
    // two model groupBys and the per-doc agg. Surprisal rounds to 6
    // decimals before the DECIMAL-exact sum (order-free, cross-engine),
    // exactly the doc_unigram_logprob convention.
    "doc_dsir" -> Q(
      build = (s, d) => {
        // ONE corpus tokenize pass: per-(doc, bucket) counts first; both
        // models and the per-doc weights derive from this frame, which is
        // ≤ 256 rows per doc — at 100 TB the corpus is scanned and
        // shuffled once, not three times. r14: in-row bigrams (bigramsOf)
        // replace the lead() window — no token-stream Exchange+Sort.
        val docBkt = bigramsOf(docs(s, d), Seq("doc_id", "lang"))
          .select(col("doc_id"), col("lang"),
            substring(md5(concat(col("w1"), lit(" "), col("w2"))
              .cast(BinaryType)), 1, 2).as("bkt"))
          .groupBy(col("doc_id"), col("lang"), col("bkt"))
          .agg(count(lit(1)).as("cnt"))
        val raw = docBkt.groupBy(col("bkt")).agg(sum(col("cnt")).as("rc"))
        val tgt = docBkt.filter(col("lang") === "en")
          .groupBy(col("bkt")).agg(sum(col("cnt")).as("tc"))
        val model = raw.join(tgt, Seq("bkt"), "left")
          .na.fill(0L, Seq("tc"))
          .crossJoin(broadcast(raw.agg(sum(col("rc")).as("rt"))))
          .crossJoin(broadcast(tgt.agg(sum(col("tc")).as("tt"))))
          .withColumn("llr",
            round(log((col("tc") + 1).cast(DoubleType) / (col("tt") + 256))
              - log((col("rc") + 1).cast(DoubleType) / (col("rt") + 256)), 6)
              .cast(DecimalType(18, 6)))
          .select(col("bkt"), col("llr"))
        docBkt.join(broadcast(model), Seq("bkt"))
          .groupBy(col("doc_id"))
          .agg(sum(col("cnt")).as("n_bigrams"),
            (sum((col("cnt").cast(DecimalType(18, 0)) * col("llr"))
              .cast(DecimalType(30, 6))).cast(DoubleType)
              / sum(col("cnt"))).as("mean_llr"))
          .withColumn("keep", col("mean_llr") > 0.0)
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH w AS (
          SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
        toks AS (
          SELECT doc_id, lang, ws[i] AS term, i AS pos
          FROM w, LATERAL unnest(generate_series(1, len(ws))) AS t(i)
          WHERE ws[i] <> ''),
        bg AS (
          SELECT doc_id, lang,
                 substr(md5(term || ' ' ||
                   lead(term) OVER (PARTITION BY doc_id ORDER BY pos)), 1, 2)
                   AS bkt
          FROM toks
          QUALIFY lead(term) OVER (PARTITION BY doc_id ORDER BY pos)
                  IS NOT NULL),
        docbkt AS (
          SELECT doc_id, lang, bkt, COUNT(*) AS cnt
          FROM bg GROUP BY 1, 2, 3),
        raw AS (SELECT bkt, CAST(SUM(cnt) AS BIGINT) AS rc
                FROM docbkt GROUP BY 1),
        tgt AS (SELECT bkt, CAST(SUM(cnt) AS BIGINT) AS tc
                FROM docbkt WHERE lang = 'en' GROUP BY 1),
        rt AS (SELECT CAST(SUM(rc) AS BIGINT) AS rt FROM raw),
        tt AS (SELECT CAST(SUM(tc) AS BIGINT) AS tt FROM tgt),
        model AS (
          SELECT r.bkt,
                 CAST(round(ln(CAST(COALESCE(t.tc, 0) + 1 AS DOUBLE)
                                / (tt.tt + 256))
                          - ln(CAST(r.rc + 1 AS DOUBLE) / (rt.rt + 256)), 6)
                      AS DECIMAL(18,6)) AS llr
          FROM raw r LEFT JOIN tgt t ON t.bkt = r.bkt, rt, tt)
        SELECT b.doc_id, CAST(SUM(b.cnt) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(CAST(b.cnt AS DECIMAL(18,0)) * m.llr
                             AS DECIMAL(30,6))) AS DOUBLE)
                 / SUM(b.cnt) AS mean_llr,
               CAST(SUM(CAST(CAST(b.cnt AS DECIMAL(18,0)) * m.llr
                             AS DECIMAL(30,6))) AS DOUBLE)
                 / SUM(b.cnt) > 0.0 AS keep
        FROM docbkt b JOIN model m ON m.bkt = b.bkt
        GROUP BY b.doc_id ORDER BY b.doc_id""")),

    // ----- doc_line_dedup: corpus-frequency line removal (CCNet) ---------
    // The CCNet/RefinedWeb hash-of-line filter: unlike doc_paragraph_dedup
    // (which keeps the FIRST occurrence), boilerplate removal drops EVERY
    // occurrence of a line whose corpus frequency exceeds a threshold —
    // nav bars and cookie banners should vanish from the keeper doc too.
    // Lines are the same deterministic 10-word chunks. Scale shape: one
    // groupBy keyed on the line (map-side combinable counts; key would be
    // md5(line) at 100 TB), a broadcast-able frequency join only for
    // over-threshold lines, and a per-doc re-assembly shuffle.
    "doc_line_dedup" -> Q(
      build = (s, d) => {
        val lines = docs(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"),
            posexplode(expr(
              "transform(sequence(0, CAST(ceil(size(ws)/10.0) AS INT) - 1)," +
                " i -> array_join(slice(ws, i*10 + 1, 10), ' '))"))
              .as(Seq("line_idx", "line")))
        val hot = lines.groupBy(col("line"))
          .agg(count(lit(1)).as("freq"))
          .filter(col("freq") >= 3)
        lines.join(broadcast(hot), Seq("line"), "left")
          .withColumn("drop", col("freq").isNotNull)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_lines"),
            sum(when(col("drop"), 1L).otherwise(0L)).as("n_dropped"),
            concat_ws(" ", expr(
              "transform(array_sort(collect_list(CASE WHEN NOT drop THEN" +
                " struct(line_idx, line) END)), p -> p.line)"))
              .as("clean_text"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        p AS (
          SELECT doc_id, i AS line_idx,
                 array_to_string(list_slice(ws, i*10 + 1, i*10 + 10), ' ') AS line
          FROM w, LATERAL unnest(generate_series(0,
                 CAST(ceil(len(ws)/10.0) AS BIGINT) - 1)) AS t(i)),
        hot AS (SELECT line, COUNT(*) AS freq FROM p GROUP BY 1
                HAVING COUNT(*) >= 3),
        m AS (SELECT p.*, h.freq IS NOT NULL AS dropped
              FROM p LEFT JOIN hot h ON h.line = p.line)
        SELECT doc_id, COUNT(*) AS n_lines,
               CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dropped,
               COALESCE(string_agg(CASE WHEN NOT dropped THEN line END, ' '
                 ORDER BY line_idx), '') AS clean_text
        FROM m GROUP BY doc_id ORDER BY doc_id""")),

    // ----- doc_url_normalize: URL canonicalization + dedup ---------------
    // The CommonCrawl-pipeline URL dedup step: canonicalize (lowercase
    // scheme/host, strip default port, www. prefix, fragment, tracking
    // params; sort surviving query params; strip trailing slash) and
    // dedup on the canonical form. The corpus has no URL column, so a
    // messy URL is synthesized deterministically per doc (4 variants of
    // the same logical URL — CASE on doc_id % 4) and the canonicalizer
    // must collapse them. Pure narrow string map (higher-order
    // filter/array_sort for the query params — no UDF) + one groupBy on
    // the canonical key: the exact-dedup scale shape.
    "doc_url_normalize" -> Q(
      build = (s, d) => {
        val raw = docs(s, d).withColumn("raw_url", expr(
          """CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN concat('HTTPS://WWW.', upper(source),
               '.Example.COM:443/docs/', CAST(doc_id div 4 AS STRING),
               '/?utm_source=feed&id=7&ref=rss#frag')
             WHEN 1 THEN concat('https://', source, '.example.com/docs/',
               CAST(doc_id div 4 AS STRING), '?id=7')
             WHEN 2 THEN concat('https://www.', source,
               '.example.com/docs/', CAST(doc_id div 4 AS STRING),
               '/?id=7&utm_medium=email')
             ELSE concat('HTTPS://', upper(source), '.EXAMPLE.COM/docs/',
               CAST(doc_id div 4 AS STRING), '?ref=social&id=7#top') END"""))
        raw
          .withColumn("nofrag", expr("element_at(split(raw_url, '#'), 1)"))
          .withColumn("scheme", expr(
            "lower(element_at(split(nofrag, '://'), 1))"))
          .withColumn("rest", expr("element_at(split(nofrag, '://'), 2)"))
          .withColumn("hostport", expr("element_at(split(rest, '/'), 1)"))
          .withColumn("host", expr(
            """CASE WHEN lower(hostport) LIKE 'www.%'
               THEN substring(lower(element_at(split(hostport, ':'), 1)), 5)
               ELSE lower(element_at(split(hostport, ':'), 1)) END"""))
          .withColumn("pathq", expr(
            "substring(rest, length(hostport) + 1)"))
          .withColumn("path", expr(
            """CASE WHEN element_at(split(pathq, '\\?'), 1) LIKE '%/'
               AND length(element_at(split(pathq, '\\?'), 1)) > 1
               THEN substring(element_at(split(pathq, '\\?'), 1), 1,
                 length(element_at(split(pathq, '\\?'), 1)) - 1)
               ELSE element_at(split(pathq, '\\?'), 1) END"""))
          .withColumn("qparams", expr(
            """array_join(array_sort(filter(
                 split(coalesce(element_at(split(pathq, '\\?'), 2), ''), '&'),
                 x -> x != '' AND NOT startswith(x, 'utm_')
                   AND NOT startswith(x, 'ref='))),
               '&')"""))
          .withColumn("canon_url", expr(
            """concat(scheme, '://', host, path,
               CASE WHEN qparams != '' THEN concat('?', qparams)
                    ELSE '' END)"""))
          .groupBy(col("canon_url"))
          .agg(min(col("doc_id")).as("keeper_id"),
            count(lit(1)).as("n_variants"))
          .orderBy(col("canon_url"))
      },
      oracle = Some("""
        WITH raw AS (
          SELECT doc_id,
            CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN 'HTTPS://WWW.' || upper(source) ||
              '.Example.COM:443/docs/' || CAST(doc_id // 4 AS VARCHAR) ||
              '/?utm_source=feed&id=7&ref=rss#frag'
            WHEN 1 THEN 'https://' || source || '.example.com/docs/' ||
              CAST(doc_id // 4 AS VARCHAR) || '?id=7'
            WHEN 2 THEN 'https://www.' || source || '.example.com/docs/' ||
              CAST(doc_id // 4 AS VARCHAR) || '/?id=7&utm_medium=email'
            ELSE 'HTTPS://' || upper(source) || '.EXAMPLE.COM/docs/' ||
              CAST(doc_id // 4 AS VARCHAR) || '?ref=social&id=7#top'
            END AS raw_url
          FROM documents),
        s1 AS (
          SELECT doc_id, string_split(raw_url, '#')[1] AS nofrag FROM raw),
        s2 AS (
          SELECT doc_id,
                 lower(string_split(nofrag, '://')[1]) AS scheme,
                 string_split(nofrag, '://')[2] AS rest
          FROM s1),
        s3 AS (
          SELECT *, string_split(rest, '/')[1] AS hostport FROM s2),
        s4 AS (
          SELECT *,
            CASE WHEN lower(hostport) LIKE 'www.%'
                 THEN substr(lower(string_split(hostport, ':')[1]), 5)
                 ELSE lower(string_split(hostport, ':')[1]) END AS host,
            substr(rest, length(hostport) + 1) AS pathq
          FROM s3),
        s5 AS (
          SELECT *,
            CASE WHEN string_split(pathq, '?')[1] LIKE '%/'
                  AND length(string_split(pathq, '?')[1]) > 1
                 THEN substr(string_split(pathq, '?')[1], 1,
                   length(string_split(pathq, '?')[1]) - 1)
                 ELSE string_split(pathq, '?')[1] END AS path,
            array_to_string(list_sort(list_filter(
              string_split(COALESCE(string_split(pathq, '?')[2], ''), '&'),
              x -> x <> '' AND NOT starts_with(x, 'utm_')
                AND NOT starts_with(x, 'ref='))), '&') AS qparams
          FROM s4),
        canon AS (
          SELECT doc_id,
                 scheme || '://' || host || path ||
                 CASE WHEN qparams <> '' THEN '?' || qparams ELSE '' END
                   AS canon_url
          FROM s5)
        SELECT canon_url, MIN(doc_id) AS keeper_id, COUNT(*) AS n_variants
        FROM canon GROUP BY 1 ORDER BY canon_url"""))
  ,

    // ----- doc_pii_scan: PII detection census ----------------------------
    // The detection half of the PII story (doc_mask is the redaction
    // half): count emails / phone numbers / IPv4 literals per document
    // and surface the first email domain — the audit report a corpus
    // release pipeline publishes before and after scrubbing. The corpus
    // text carries no PII, so a contact blob is synthesized
    // deterministically for 2 of every 3 docs (pure string concat, both
    // engines identical) and the scanner must find exactly it. All
    // regexes are in the RE2-safe subset (character classes + bounded
    // repetition, no lookaround) so Java and RE2 agree. Pure narrow map
    // — no shuffle at all until the ORDER BY.
    "doc_pii_scan" -> Q(
      build = (s, d) => {
        val withPii = docs(s, d).withColumn("body", expr(
          """CASE WHEN doc_id % 3 = 0 THEN text
             ELSE concat(text, ' reach user', CAST(doc_id AS STRING),
               '@mail', CAST(doc_id % 7 AS STRING), '.com or 555-',
               CAST(1000 + doc_id % 9000 AS STRING), ' at 10.0.',
               CAST(doc_id % 256 AS STRING), '.',
               CAST(doc_id * 7 % 256 AS STRING)) END"""))
        withPii.select(col("doc_id"),
            size(regexp_extract_all(col("body"),
              lit("[a-z0-9]+@[a-z0-9]+\\.[a-z]+"), lit(0)))
              .cast(LongType).as("n_emails"),
            size(regexp_extract_all(col("body"),
              lit("555-[0-9]{4}"), lit(0)))
              .cast(LongType).as("n_phones"),
            size(regexp_extract_all(col("body"),
              lit("[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"), lit(0)))
              .cast(LongType).as("n_ipv4"),
            regexp_extract(col("body"),
              "[a-z0-9]+@([a-z0-9]+\\.[a-z]+)", 1).as("email_domain"))
          .withColumn("has_pii",
            col("n_emails") + col("n_phones") + col("n_ipv4") > 0L)
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH body AS (
          SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN text
            ELSE text || ' reach user' || CAST(doc_id AS VARCHAR) ||
              '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com or 555-' ||
              CAST(1000 + doc_id % 9000 AS VARCHAR) || ' at 10.0.' ||
              CAST(doc_id % 256 AS VARCHAR) || '.' ||
              CAST(doc_id * 7 % 256 AS VARCHAR) END AS body
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(body,
                 '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(body,
                 '555-[0-9]{4}')) AS BIGINT) AS n_phones,
               CAST(len(regexp_extract_all(body,
                 '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))
                 AS BIGINT) AS n_ipv4,
               COALESCE(regexp_extract(body,
                 '[a-z0-9]+@([a-z0-9]+\.[a-z]+)', 1), '') AS email_domain,
               CAST(len(regexp_extract_all(body,
                 '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS BIGINT)
               + CAST(len(regexp_extract_all(body,
                 '555-[0-9]{4}')) AS BIGINT)
               + CAST(len(regexp_extract_all(body,
                 '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))
                 AS BIGINT) > 0 AS has_pii
        FROM body ORDER BY doc_id"""))
  ,

    // ----- doc_zipf_fit: corpus Zipf-law slope ---------------------------
    // The one-number corpus health check (natural text has rank-frequency
    // slope ≈ −1; boilerplate-heavy or synthetic corpora drift off):
    // least-squares fit of ln(freq) on ln(rank) over the top 100 terms.
    // Scale shape: term counts are one combinable shuffle; the top-100 is
    // TakeOrdered (distributed partial top-k, NOT a global window rank —
    // q22's lesson); the regression runs over 100 rows. Tie-break on
    // (count desc, term) makes the rank deterministic; ln()s round to 6
    // decimals before the DECIMAL-exact moment sums.
    "doc_zipf_fit" -> Q(
      build = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val top = docs(s, d)
          .select(explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
          .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term")).limit(100)
        val ranked = top.withColumn("rank", row_number().over(
            Window.orderBy(col("cnt").desc, col("term")))) // 100 rows only
          .withColumn("x",
            round(log(col("rank").cast(DoubleType)), 6)
              .cast(DecimalType(18, 6)))
          .withColumn("y",
            round(log(col("cnt").cast(DoubleType)), 6)
              .cast(DecimalType(18, 6)))
        ranked.agg(count(lit(1)).as("n_terms"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum((col("x") * col("y")).cast(DecimalType(28, 12))).as("sxy"),
            sum((col("x") * col("x")).cast(DecimalType(28, 12))).as("sxx"))
          .select(col("n_terms"),
            round((col("n_terms") * col("sxy").cast(DoubleType)
                - col("sx").cast(DoubleType) * col("sy").cast(DoubleType))
              / (col("n_terms") * col("sxx").cast(DoubleType)
                - col("sx").cast(DoubleType) * col("sx").cast(DoubleType)), 6)
              .as("zipf_slope"),
            round((col("sy").cast(DoubleType)
              - ((col("n_terms") * col("sxy").cast(DoubleType)
                  - col("sx").cast(DoubleType) * col("sy").cast(DoubleType))
                / (col("n_terms") * col("sxx").cast(DoubleType)
                  - col("sx").cast(DoubleType) * col("sx").cast(DoubleType)))
                * col("sx").cast(DoubleType)) / col("n_terms"), 6)
              .as("zipf_intercept"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT t.term FROM documents,
               LATERAL unnest(string_split(text, ' ')) AS t(term)
          WHERE t.term <> ''),
        top AS (
          SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1
          ORDER BY cnt DESC, term LIMIT 100),
        ranked AS (
          SELECT CAST(round(ln(CAST(ROW_NUMBER() OVER
                   (ORDER BY cnt DESC, term) AS DOUBLE)), 6)
                 AS DECIMAL(18,6)) AS x,
                 CAST(round(ln(CAST(cnt AS DOUBLE)), 6)
                 AS DECIMAL(18,6)) AS y
          FROM top),
        moments AS (
          SELECT COUNT(*) AS n_terms,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(CAST(x * y AS DECIMAL(28,12))) AS sxy,
                 SUM(CAST(x * x AS DECIMAL(28,12))) AS sxx
          FROM ranked)
        SELECT n_terms,
               round((n_terms * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n_terms * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                 AS zipf_slope,
               round((CAST(sy AS DOUBLE)
                 - ((n_terms * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (n_terms * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                   * CAST(sx AS DOUBLE)) / n_terms, 6)
                 AS zipf_intercept
        FROM moments"""))
  ,

    // ----- doc_lsh_recall: LSH quality evaluation ------------------------
    // The calibration report a production dedup pipeline publishes before
    // trusting its LSH stage: precision/recall of the MinHash-LSH
    // candidate pairs against the exact Jaccard ≥ 0.5 ground truth.
    //
    // Group-weighted pair algebra (r8, same root cause as
    // doc_cc_clusters' collapse; the rule is stated on `sigGroups`): both
    // Jaccard and the MinHash signature depend only on the text, and
    // identical texts have jac = 1 (≥ 0.5) and share every band, so the
    // within pairs add alike to exact, candidates and hits. The plan runs
    // the shingle/band joins over DISTINCT texts only — output identical
    // (the oracle still brute-forces the full corpus). With all-unique
    // texts (the gate SFs) every m = 1 and the algebra is the old plan.
    "doc_lsh_recall" -> Q(
      build = (s, d) => {
        val (sizes, repDocs, _) = repGroups(s, d)
        val within = withinRows(sizes)
          .agg(coalesce(sum(col("n_pairs")), lit(0L)).as("w"))
        val exact = jaccardAllOf(repDocs).filter(col("jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"))
        val cand = minhashBandPairsOf(repDocs)
        def wsum(df: DataFrame, n: String): DataFrame =
          weighed(withGroupSizes(df, sizes))
            .agg(coalesce(sum(col("n_pairs")), lit(0L)).as(n))
        val nEx = wsum(exact, "xw").crossJoin(broadcast(within))
          .select((col("xw") + col("w")).as("n_exact"))
        val nCd = wsum(cand, "cw").crossJoin(broadcast(within))
          .select((col("cw") + col("w")).as("n_candidates"))
        val nHit = wsum(exact.join(cand, Seq("doc_a", "doc_b")), "hw")
          .crossJoin(broadcast(within))
          .select((col("hw") + col("w")).as("n_hits"))
        nEx.crossJoin(broadcast(nCd)).crossJoin(broadcast(nHit))
          .select(col("n_exact"), col("n_candidates"), col("n_hits"),
            (col("n_hits").cast(DoubleType) / col("n_candidates"))
              .as("precision"),
            (col("n_hits").cast(DoubleType) / col("n_exact")).as("recall"))
      },
      oracle = Some(s"""
        WITH $JPAIRS,
        $MINHASH_CTES,
        cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.s0 = y.s0 AND x.s1 = y.s1
           AND x.s2 = y.s2 AND x.s3 = y.s3 AND x.doc_id < y.doc_id),
        nex AS (SELECT COUNT(*) AS n_exact FROM jpairs),
        ncd AS (SELECT COUNT(*) AS n_candidates FROM cand),
        nhit AS (SELECT COUNT(*) AS n_hits
                 FROM jpairs j JOIN cand c
                   ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b)
        SELECT n_exact, n_candidates, n_hits,
               CAST(n_hits AS DOUBLE) / n_candidates AS precision,
               CAST(n_hits AS DOUBLE) / n_exact AS recall
        FROM nex, ncd, nhit""")),

    // ----- doc_lsh_band_tuning: bands/rows sweep over one signature -----
    // The LSH tuning table (emb_ann_sweep's text twin): the SAME 32-perm
    // MinHash signature banded three ways — (4 bands x 8 rows),
    // (8 x 4), (16 x 2) — with per-config candidate count, precision and
    // recall against the exact Jaccard >= 0.5 truth. The S-curve
    // tradeoff (more rows per band = stricter = precision up, recall
    // down) is what picks the production banding before a corpus-wide
    // dedup run. Band keys are the row values joined into one string
    // (identical decimal rendering both engines); configs with zero
    // candidates still report (left join from the config table).
    // Scale shape (r8): same group-weighted pair algebra as
    // doc_lsh_recall — band joins and the exact truth run over distinct
    // texts; identical sigs share every band in every banding, so the
    // within pairs add to every config's candidates AND hits. Output
    // identical, duplicate-multiplied pair frames never materialize.
    "doc_lsh_band_tuning" -> Q(
      build = (s, d) => {
        val spark = s
        import spark.implicits._
        val (sizes, repDocs, _) = repGroups(s, d)
        val within = withinRows(sizes)
          .agg(coalesce(sum(col("n_pairs")), lit(0L)).as("w"))
        val sigs = minhashSigs(repDocs)
        def bandedFor(bands: Int, rows: Int): DataFrame = {
          val bandCols = (0 until bands).map { b =>
            struct(lit(b).as("band"),
              concat_ws(":", (0 until rows).map(r =>
                element_at(col("sig"), b * rows + r + 1).cast(StringType)): _*)
                .as("key"))
          }
          sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
            .select(lit(bands).as("bands"), lit(rows).as("rows_per_band"),
              col("doc_id"), col("bs.band").as("band"), col("bs.key").as("key"))
        }
        val banded = Seq((4, 8), (8, 4), (16, 2))
          .map { case (b, r) => bandedFor(b, r) }.reduce(_ unionByName _)
        val cand = banded.as("x").join(banded.as("y"),
            col("x.bands") === col("y.bands")
              && col("x.band") === col("y.band")
              && col("x.key") === col("y.key")
              && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.bands").as("bands"),
            col("x.rows_per_band").as("rows_per_band"),
            col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .distinct()
        val exact = jaccardAllOf(repDocs).filter(col("jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"))
        val nEx = weighed(withGroupSizes(exact, sizes))
          .agg(coalesce(sum(col("n_pairs")), lit(0L)).as("xw"))
          .crossJoin(broadcast(within))
          .select((col("xw") + col("w")).as("n_exact"))
        val met = weighed(withGroupSizes(cand.join(exact.withColumn("hit",
            lit(1L)), Seq("doc_a", "doc_b"), "left"), sizes))
          .groupBy(col("bands"), col("rows_per_band"))
          .agg(sum(col("n_pairs")).as("cw"),
            sum(when(col("hit") === 1L, col("n_pairs"))
              .otherwise(lit(0L))).as("hw"))
        Seq((4, 8), (8, 4), (16, 2)).toDF("bands", "rows_per_band")
          .join(met, Seq("bands", "rows_per_band"), "left")
          .na.fill(0L, Seq("cw", "hw"))
          .crossJoin(broadcast(nEx))
          .crossJoin(broadcast(within))
          .select(col("bands"), col("rows_per_band"), col("n_exact"),
            (col("cw") + col("w")).as("n_candidates"),
            (col("hw") + col("w")).as("n_hits"))
          .select(col("bands"), col("rows_per_band"), col("n_exact"),
            col("n_candidates"), col("n_hits"),
            when(col("n_candidates") > 0,
              col("n_hits").cast(DoubleType) / col("n_candidates"))
              .as("precision"),
            (col("n_hits").cast(DoubleType) / col("n_exact")).as("recall"))
          .orderBy(col("bands"))
      },
      oracle = Some(s"""
        WITH $JPAIRS,
        $MINHASH_CTES,
        cfg(bands, rows_per_band) AS (VALUES (4, 8), (8, 4), (16, 2)),
        bkeys AS (
          SELECT c.bands, c.rows_per_band, m.doc_id,
                 m.p // c.rows_per_band AS band,
                 string_agg(CAST(m.s AS VARCHAR), ':' ORDER BY m.p) AS key
          FROM pm m CROSS JOIN cfg c
          GROUP BY 1, 2, 3, 4),
        cand AS (
          SELECT DISTINCT x.bands, x.rows_per_band,
                 x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bkeys x JOIN bkeys y
            ON x.bands = y.bands AND x.band = y.band AND x.key = y.key
           AND x.doc_id < y.doc_id),
        nex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM jpairs),
        met AS (
          SELECT c.bands, c.rows_per_band,
                 CAST(COUNT(*) AS BIGINT) AS n_candidates,
                 CAST(SUM(CASE WHEN j.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_hits
          FROM cand c LEFT JOIN jpairs j
            ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
          GROUP BY 1, 2)
        SELECT f.bands, f.rows_per_band, n.n_exact,
               COALESCE(m.n_candidates, 0) AS n_candidates,
               COALESCE(m.n_hits, 0) AS n_hits,
               CASE WHEN COALESCE(m.n_candidates, 0) > 0
                    THEN CAST(m.n_hits AS DOUBLE) / m.n_candidates
               END AS precision,
               CAST(COALESCE(m.n_hits, 0) AS DOUBLE) / n.n_exact AS recall
        FROM cfg f
        LEFT JOIN met m ON m.bands = f.bands
          AND m.rows_per_band = f.rows_per_band
        CROSS JOIN nex n
        ORDER BY f.bands""")),

    // ----- doc_gopher_repetition: the full Gopher repetition battery -----
    // The complete repetition-signal set from Gopher/RefinedWeb (top
    // n-gram character fraction for n=2..4, duplicated n-gram character
    // fraction for n=5..7) that doc_repetition's single bigram score
    // abbreviates. "Character fraction" is count*len(gram)/n_chars (the
    // standard approximation — overlaps uncounted), an exact
    // BIGINT/BIGINT division. One tokenize + one (doc, n, gram) explode
    // feeds all six signals; per-doc work is O(words * 6). Argmax grams
    // tie-break on (count, len, gram) so both engines pick identically.
    "doc_gopher_repetition" -> Q(
      build = (s, d) => {
        val grams = docs(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"), col("w"),
            explode(expr("sequence(2, 7)")).as("n"))
          .filter(size(col("w")) >= col("n"))
          .select(col("doc_id"), col("n"),
            explode(expr("transform(sequence(1, size(w) - n + 1), " +
              "i -> array_join(slice(w, i, n), ' '))")).as("gram"))
          .groupBy(col("doc_id"), col("n"), col("gram"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("glen", length(col("gram")).cast(LongType))
        val stats = grams
          .groupBy(col("doc_id"), col("n"))
          .agg(
            max(struct(col("cnt"), col("glen"), col("gram"))).as("top"),
            sum(when(col("cnt") >= 2, col("cnt") * col("glen"))
              .otherwise(0L)).as("dup_chars"))
          .select(col("doc_id"), col("n"),
            (col("top.cnt") * col("top.glen")).as("top_chars"),
            col("dup_chars"))
        val pivoted = stats.groupBy(col("doc_id"))
          .agg(
            coalesce(max(when(col("n") === 2, col("top_chars"))), lit(0L)).as("t2"),
            coalesce(max(when(col("n") === 3, col("top_chars"))), lit(0L)).as("t3"),
            coalesce(max(when(col("n") === 4, col("top_chars"))), lit(0L)).as("t4"),
            coalesce(max(when(col("n") === 5, col("dup_chars"))), lit(0L)).as("d5"),
            coalesce(max(when(col("n") === 6, col("dup_chars"))), lit(0L)).as("d6"),
            coalesce(max(when(col("n") === 7, col("dup_chars"))), lit(0L)).as("d7"))
        docs(s, d).select(col("doc_id"), col("n_chars"))
          .join(pivoted, Seq("doc_id"), "left")
          .na.fill(0L, Seq("t2", "t3", "t4", "d5", "d6", "d7"))
          .select(col("doc_id"),
            (col("t2").cast(DoubleType) / col("n_chars")).as("top2_frac"),
            (col("t3").cast(DoubleType) / col("n_chars")).as("top3_frac"),
            (col("t4").cast(DoubleType) / col("n_chars")).as("top4_frac"),
            (col("d5").cast(DoubleType) / col("n_chars")).as("dup5_frac"),
            (col("d6").cast(DoubleType) / col("n_chars")).as("dup6_frac"),
            (col("d7").cast(DoubleType) / col("n_chars")).as("dup7_frac"))
          .withColumn("passes",
            col("top2_frac") <= 0.20 && col("top3_frac") <= 0.18
              && col("top4_frac") <= 0.16 && col("dup5_frac") <= 0.15
              && col("dup6_frac") <= 0.14 && col("dup7_frac") <= 0.13)
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH wl AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w
                    FROM documents),
        grams AS (
          SELECT doc_id, n, array_to_string(w[i:i+n-1], ' ') AS gram,
                 COUNT(*) AS cnt
          FROM wl, generate_series(2, 7) AS s(n),
               generate_series(1, 1024) AS g(i)
          WHERE len(w) >= n AND i <= len(w) - n + 1
          GROUP BY 1, 2, 3),
        gl AS (SELECT doc_id, n, gram, cnt,
                      CAST(length(gram) AS BIGINT) AS glen FROM grams),
        tops AS (
          SELECT doc_id, n, cnt * glen AS top_chars
          FROM gl
          QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id, n
                    ORDER BY cnt DESC, glen DESC, gram DESC) = 1),
        dups AS (
          SELECT doc_id, n,
                 CAST(SUM(CASE WHEN cnt >= 2 THEN cnt * glen ELSE 0 END)
                   AS BIGINT) AS dup_chars
          FROM gl GROUP BY 1, 2),
        piv AS (
          SELECT t.doc_id,
                 COALESCE(MAX(CASE WHEN t.n = 2 THEN top_chars END), 0) AS t2,
                 COALESCE(MAX(CASE WHEN t.n = 3 THEN top_chars END), 0) AS t3,
                 COALESCE(MAX(CASE WHEN t.n = 4 THEN top_chars END), 0) AS t4,
                 COALESCE(MAX(CASE WHEN u.n = 5 THEN dup_chars END), 0) AS d5,
                 COALESCE(MAX(CASE WHEN u.n = 6 THEN dup_chars END), 0) AS d6,
                 COALESCE(MAX(CASE WHEN u.n = 7 THEN dup_chars END), 0) AS d7
          FROM tops t FULL JOIN dups u ON t.doc_id = u.doc_id AND t.n = u.n
          GROUP BY 1),
        fr AS (
          SELECT d.doc_id,
                 CAST(COALESCE(t2, 0) AS DOUBLE)/n_chars AS top2_frac,
                 CAST(COALESCE(t3, 0) AS DOUBLE)/n_chars AS top3_frac,
                 CAST(COALESCE(t4, 0) AS DOUBLE)/n_chars AS top4_frac,
                 CAST(COALESCE(d5, 0) AS DOUBLE)/n_chars AS dup5_frac,
                 CAST(COALESCE(d6, 0) AS DOUBLE)/n_chars AS dup6_frac,
                 CAST(COALESCE(d7, 0) AS DOUBLE)/n_chars AS dup7_frac
          FROM documents d LEFT JOIN piv p ON d.doc_id = p.doc_id)
        SELECT doc_id, top2_frac, top3_frac, top4_frac,
               dup5_frac, dup6_frac, dup7_frac,
               top2_frac <= 0.20 AND top3_frac <= 0.18 AND top4_frac <= 0.16
                 AND dup5_frac <= 0.15 AND dup6_frac <= 0.14
                 AND dup7_frac <= 0.13 AS passes
        FROM fr ORDER BY doc_id""")),

    // ----- doc_containment_pairs: asymmetric shingle containment ---------
    // Subset/superset near-dup detection: containment
    // |A∩B| / min(|A|,|B|) catches a short document wholly embedded in a
    // long one, which symmetric Jaccard dilutes below threshold. Same
    // single shingle-keyed shuffle as the Jaccard family (never doc x doc
    // pairs); emits pairs at containment >= 0.9 with their Jaccard so the
    // report shows what the Jaccard path would have missed.
    "doc_containment_pairs" -> Q(
      build = (s, d) =>
        jaccardAll(s, d)
          .filter(col("containment") >= 0.9)
          .select(col("doc_a"), col("doc_b"), col("n_common"),
            col("containment"), col("jaccard"),
            (col("jaccard") < 0.5).as("jaccard_missed"))
          .orderBy(col("doc_a"), col("doc_b")),
      oracle = Some(s"""
        WITH sh AS ($SHINGLES),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        cpairs AS (
          SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_common
          FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
          GROUP BY 1, 2),
        scored AS (
          SELECT p.doc_a, p.doc_b, p.n_common,
                 CAST(p.n_common AS DOUBLE)/least(a.n_sh, b.n_sh) AS containment,
                 CAST(p.n_common AS DOUBLE)/(a.n_sh + b.n_sh - p.n_common) AS jaccard
          FROM cpairs p
          JOIN sizes a ON a.doc_id = p.doc_a
          JOIN sizes b ON b.doc_id = p.doc_b)
        SELECT doc_a, doc_b, n_common, containment, jaccard,
               jaccard < 0.5 AS jaccard_missed
        FROM scored WHERE containment >= 0.9
        ORDER BY doc_a, doc_b""")),

    // ----- doc_containment_grouped: production-form containment listing --
    // Group-compressed twin of doc_containment_pairs (same algebra as
    // doc_ngram_dedup_grouped — containment too depends only on the
    // texts). Expansion-equivalent to the exploded listing; output stays
    // rep-level under any duplicate multiplicity.
    "doc_containment_grouped" -> Q(
      build = (s, d) =>
        groupedShingleScores(s, d).filter(col("containment") >= 0.9)
          .select(col("rep_a"), col("rep_b"), col("n_common"),
            col("containment"), col("jaccard"),
            (col("jaccard") < 0.5).as("jaccard_missed"), col("n_pairs"))
          .orderBy(col("rep_a"), col("rep_b")),
      oracle = Some(s"""
        WITH $GROUPED_CTES
        SELECT j.doc_a AS rep_a, j.doc_b AS rep_b, j.n_common,
               j.containment, j.jaccard, j.jaccard < 0.5 AS jaccard_missed,
               ma.m * mb.m AS n_pairs
        FROM gscored j
        JOIN mm ma ON ma.rep = j.doc_a
        JOIN mm mb ON mb.rep = j.doc_b
        WHERE j.containment >= 0.9
        UNION ALL
        SELECT m.rep, m.rep, s.n_sh, 1.0e0, 1.0e0, FALSE,
               m.m * (m.m - 1) // 2
        FROM mm m JOIN gsizes s ON s.doc_id = m.rep
        WHERE m.m >= 2
        ORDER BY rep_a, rep_b""")),

    // ----- doc_bloom_dedup: Bloom-filter membership pre-filter -----------
    // The streaming-backfill shape of incremental dedup at 100 TB: the
    // existing corpus is folded into a 2^20-bit Bloom filter (16384
    // BIGINT words, k=3 probes — ~1% false positives at this load), a
    // map-side-combinable bit_or aggregation that yields a ~128 KB
    // broadcastable summary instead of a corpus-wide anti-join. Incoming
    // docs probe the filter; definite-new docs skip the expensive exact
    // check entirely, and the emitted false-positive flag audits the
    // filter against the exact answer. Each probe position is 20 bits of
    // the content md5 (5 hex chars), so both engines compute identical
    // positions with pure integer math.
    "doc_bloom_dedup" -> Q(
      build = (s, d) => {
        val hashed = docs(s, d)
          .withColumn("h", md5(col("text").cast(BinaryType)))
        def pos(j: Int): Column =
          expr(s"CAST(conv(substring(h, ${j * 5 + 1}, 5), 16, 10) AS BIGINT)")
        def positions(df: DataFrame): DataFrame = df
          .withColumn("p", explode(array(pos(0), pos(1), pos(2))))
          .withColumn("word_idx", expr("p div 32"))
          .withColumn("mask", expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))"))
        val corpus = hashed.filter(col("source") =!= "src0")
        val incoming = hashed.filter(col("source") === "src0")
        val words = positions(corpus.select(col("h")))
          .groupBy(col("word_idx"))
          .agg(expr("bit_or(mask)").as("word"))
        val probes = positions(incoming.select(col("doc_id"), col("h")))
          .join(broadcast(words), Seq("word_idx"), "left")
          .withColumn("hit",
            col("word").isNotNull && expr("(word & mask) = mask"))
          .groupBy(col("doc_id"), col("h"))
          .agg(min(col("hit")).as("maybe_dup"))
        val exact = incoming
          .join(corpus.select(col("h")).distinct(), Seq("h"), "left_semi")
          .select(col("doc_id")).withColumn("is_dup", lit(true))
        probes.join(exact, Seq("doc_id"), "left")
          .na.fill(false, Seq("is_dup"))
          .select(col("doc_id"), col("maybe_dup"), col("is_dup"),
            (col("maybe_dup") && !col("is_dup")).as("false_positive"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH hashed AS (
          SELECT doc_id, source, md5(text) AS h FROM documents),
        pos AS (
          SELECT doc_id, source, h, j,
                 CAST((ascii(substr(h, j*5 + 1, 1)) - CASE WHEN ascii(substr(h, j*5 + 1, 1)) >= 97 THEN 87 ELSE 48 END)*65536 + (ascii(substr(h, j*5 + 2, 1)) - CASE WHEN ascii(substr(h, j*5 + 2, 1)) >= 97 THEN 87 ELSE 48 END)*4096 + (ascii(substr(h, j*5 + 3, 1)) - CASE WHEN ascii(substr(h, j*5 + 3, 1)) >= 97 THEN 87 ELSE 48 END)*256 + (ascii(substr(h, j*5 + 4, 1)) - CASE WHEN ascii(substr(h, j*5 + 4, 1)) >= 97 THEN 87 ELSE 48 END)*16 + (ascii(substr(h, j*5 + 5, 1)) - CASE WHEN ascii(substr(h, j*5 + 5, 1)) >= 97 THEN 87 ELSE 48 END)*1 AS BIGINT) AS p
          FROM hashed, generate_series(0, 2) AS s(j)),
        pm AS (SELECT doc_id, source, h, p // 32 AS word_idx,
                      CAST(1 AS BIGINT) << CAST(p % 32 AS INT) AS mask
               FROM pos),
        words AS (
          SELECT word_idx, bit_or(mask) AS word
          FROM pm WHERE source <> 'src0' GROUP BY 1),
        probes AS (
          SELECT i.doc_id, i.h,
                 MIN(w.word_idx IS NOT NULL
                     AND (w.word & i.mask) = i.mask) AS maybe_dup
          FROM pm i LEFT JOIN words w ON i.word_idx = w.word_idx
          WHERE i.source = 'src0'
          GROUP BY 1, 2)
        SELECT p.doc_id, p.maybe_dup,
               EXISTS (SELECT 1 FROM hashed c
                       WHERE c.source <> 'src0' AND c.h = p.h) AS is_dup,
               p.maybe_dup AND NOT EXISTS (SELECT 1 FROM hashed c
                       WHERE c.source <> 'src0' AND c.h = p.h)
                 AS false_positive
        FROM probes p ORDER BY p.doc_id""")),

    // ----- doc_char_lid: character-trigram language identification -------
    // The Cavnar–Trenkle-style char-n-gram LID every pretraining pipeline
    // runs (fastText's cheap cousin), self-trained on the corpus's own
    // lang labels: per-language Laplace-smoothed trigram models, per-doc
    // log-likelihood under each language, argmax prediction, agreement
    // flag against the stored label. Log-probs are quantized to 6
    // decimals and summed in DECIMAL (the doc_dsir determinism scheme),
    // so the cross-engine argmax is exact. Scale shape: the model is a
    // (trigram, lang) frame shuffled once and broadcast to score; the
    // corpus is tokenized exactly once.
    "doc_char_lid" -> Q(
      build = (s, d) => charLid(s, d).orderBy(col("doc_id")),
      oracle = Some(s"""$CHARLID_CTES
        SELECT doc_id, lang, pred_lang, score, pred_lang = lang AS agree
        FROM best ORDER BY doc_id""")),

    // ----- doc_lid_confusion: language-ID evaluation matrix --------------
    // The evaluation layer over doc_char_lid: confusion counts between
    // labeled and predicted language plus per-truth recall — the QA
    // report a corpus team reads before trusting LID-based filtering.
    // Pure composition over the shared charLid frame (one extra tiny
    // groupBy); exact counts, one division per row.
    "doc_lid_confusion" -> Q(
      build = (s, d) => {
        val conf = charLid(s, d)
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n_docs"))
        // r13: n_lang as a window over conf, not conf.groupBy + self-join
        // — the join form evaluated the whole charLid scoring subtree
        // TWICE (no exchange reuse across the two branches; measured ~2×
        // doc_char_lid's time). The window runs over the |langs|² conf
        // frame; values identical.
        conf
          .withColumn("n_lang", sum(col("n_docs")).over(
            Window.partitionBy(col("lang"))))
          .select(col("lang"), col("pred_lang"), col("n_docs"), col("n_lang"),
            (col("n_docs").cast(DoubleType) / col("n_lang")).as("frac"),
            (col("lang") === col("pred_lang")).as("diagonal"))
          .orderBy(col("lang"), col("pred_lang"))
      },
      oracle = Some(s"""$CHARLID_CTES ,
        conf AS (
          SELECT lang, pred_lang, COUNT(*) AS n_docs
          FROM best GROUP BY 1, 2),
        tot AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_lang
                FROM conf GROUP BY 1)
        SELECT c.lang, c.pred_lang, c.n_docs, t.n_lang,
               CAST(c.n_docs AS DOUBLE) / t.n_lang AS frac,
               c.lang = c.pred_lang AS diagonal
        FROM conf c JOIN tot t ON c.lang = t.lang
        ORDER BY c.lang, c.pred_lang""")),


    // ----- doc_drift_kl: corpus-mix drift via hashed-vocab KL ------------
    // The distribution-shift alarm a continuously-ingesting corpus needs:
    // KL(incoming ‖ corpus) over a 256-bucket hashed vocabulary (the
    // doc_dsir feature space), per language — when a source starts
    // sending different text, the divergence jumps long before any
    // exact-dedup signal moves. Laplace-smoothed bucket distributions,
    // ln quantized at 6 decimals, weighted sum in DECIMAL (engine-exact);
    // one corpus tokenize pass, 256-bucket frames only after the first
    // aggregation.
    "doc_drift_kl" -> Q(
      build = (s, d) => {
        val toks = docs(s, d)
          .select(col("lang"), col("source"),
            explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
          .select(col("lang"), (col("source") === "src0").as("incoming"),
            substring(md5(col("term").cast(BinaryType)), 1, 2).as("bkt"))
          .groupBy(col("lang"), col("incoming"), col("bkt"))
          .agg(count(lit(1)).as("cnt"))
        val inc = toks.filter(col("incoming"))
          .select(col("lang"), col("bkt"), col("cnt").as("pc"))
        val base = toks.filter(!col("incoming"))
          .select(col("lang"), col("bkt"), col("cnt").as("qc"))
        val tot = inc.groupBy(col("lang")).agg(sum(col("pc")).as("pt"))
          .join(base.groupBy(col("lang")).agg(sum(col("qc")).as("qt")), Seq("lang"))
        // densify over ALL 256 buckets: the unseen-bucket Laplace terms
        // are systematically positive when pt != qt, and dropping them
        // (an observed-support-only sum) can push the "KL" negative
        val dom = tot.select(col("lang"))
          .crossJoin(broadcast(
            docs(s, d).sparkSession.range(256).select(
              expr("lpad(lower(hex(id)), 2, '0')").as("bkt"))))
        dom.join(inc, Seq("lang", "bkt"), "left")
          .join(base, Seq("lang", "bkt"), "left")
          .na.fill(0L, Seq("pc", "qc"))
          .join(broadcast(tot), Seq("lang"))
          .withColumn("term_d", expr(
            """CAST(CAST(pc + 1 AS DECIMAL(18,0))
               * CAST(round(ln((CAST(pc + 1 AS DOUBLE)/(pt + 256))
                              / (CAST(qc + 1 AS DOUBLE)/(qt + 256))), 6)
                      AS DECIMAL(18,6)) AS DECIMAL(30,6))"""))
          .groupBy(col("lang"))
          .agg(max(col("pt")).as("n_incoming"), max(col("qt")).as("n_corpus"),
            (sum(col("term_d")).cast(DoubleType)
              / (max(col("pt")) + lit(256))).as("kl_nats"))
          .withColumn("drifted", col("kl_nats") > 0.05)
          .orderBy(col("lang"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT lang, source = 'src0' AS incoming,
                 substr(md5(t.term), 1, 2) AS bkt, COUNT(*) AS cnt
          FROM (SELECT lang, source, unnest(string_split(text, ' ')) AS term
                FROM documents) t
          WHERE t.term <> ''
          GROUP BY 1, 2, 3),
        inc AS (SELECT lang, bkt, cnt AS pc FROM toks WHERE incoming),
        base AS (SELECT lang, bkt, cnt AS qc FROM toks WHERE NOT incoming),
        tot AS (
          SELECT i.lang, i.pt, b.qt
          FROM (SELECT lang, CAST(SUM(pc) AS BIGINT) AS pt FROM inc GROUP BY 1) i
          JOIN (SELECT lang, CAST(SUM(qc) AS BIGINT) AS qt FROM base GROUP BY 1) b
            ON i.lang = b.lang),
        dom AS (
          SELECT t.lang, lpad(lower(hex(g.i)), 2, '0') AS bkt
          FROM tot t, generate_series(0, 255) AS g(i)),
        merged AS (
          SELECT d.lang, d.bkt,
                 COALESCE(i.pc, 0) AS pc, COALESCE(b.qc, 0) AS qc
          FROM dom d
          LEFT JOIN inc i ON i.lang = d.lang AND i.bkt = d.bkt
          LEFT JOIN base b ON b.lang = d.lang AND b.bkt = d.bkt),
        terms AS (
          SELECT m.lang, t.pt, t.qt,
                 CAST(CAST(m.pc + 1 AS DECIMAL(18,0))
                   * CAST(round(ln((CAST(m.pc + 1 AS DOUBLE)/(t.pt + 256))
                                  / (CAST(m.qc + 1 AS DOUBLE)/(t.qt + 256))), 6)
                          AS DECIMAL(18,6)) AS DECIMAL(30,6)) AS term_d
          FROM merged m JOIN tot t ON m.lang = t.lang)
        SELECT lang, MAX(pt) AS n_incoming, MAX(qt) AS n_corpus,
               CAST(SUM(term_d) AS DOUBLE) / (MAX(pt) + 256) AS kl_nats,
               CAST(SUM(term_d) AS DOUBLE) / (MAX(pt) + 256) > 0.05 AS drifted
        FROM terms GROUP BY 1 ORDER BY lang""")),

    // ----- doc_dedup_decision: the end-to-end corpus pruning verdict -----
    // The single artifact a production dedup run actually ships: one row
    // per document with its keep/drop DECISION and the keeper it defers
    // to, composed from the family's stages in the canonical order —
    // exact dedup first (content-hash groups, min-id keeper), then
    // near-dup closure among the exact survivors (shingle-Jaccard >= 0.5
    // pairs -> connected components, min-id keeper per component).
    // Every stage is the already-proven machinery (hash groupBy, shingle
    // join, LS/SS CC); this op is their composition plus the decision
    // rules, so the 100 TB story is inherited: hash-keyed shuffles, edge
    // lists never materialize doc x doc, iterative closure checkpointed.
    "doc_dedup_decision" -> Q(
      build = (s, d) => {
        val base = docs(s, d)
        val hashed = base
          .select(col("doc_id"), md5(col("text").cast(BinaryType)).as("h"))
        val keepers = hashed.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
        val exact = hashed.join(keepers, Seq("h"))
        val exactDups = exact.filter(col("doc_id") =!= col("keeper"))
          .select(col("doc_id"), lit("exact_dup").as("status"),
            col("keeper").as("keeper_id"))
        val surv = exact.filter(col("doc_id") === col("keeper"))
          .select(col("doc_id"))
        // r11 scale fix (found by the ×1000 tier): run the shingle pair
        // join over SURVIVORS ONLY — jaccard is a function of the two
        // texts alone, so pairs-over-survivors ≡ pairs-over-all
        // semi-joined to survivors, but m byte-identical replicas no
        // longer put m² rows in every posting-list join (the r8
        // doc_cc_clusters defect, reborn here behind the semi-join:
        // ×1000 ran >20 min; fixed form is seconds). Output-identical;
        // oracle unchanged (it filters the full pair set to survivors).
        val survDocs = base.join(surv, Seq("doc_id"))
        val pairs = jaccardAllOf(survDocs).filter(col("jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"))
        val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        val cc = connectedComponents(surv.select(col("doc_id").as("node")), edges)
        val nearDecided = cc.select(col("node").as("doc_id"),
          when(col("label") =!= col("node"), lit("near_dup"))
            .otherwise(lit("kept")).as("status"),
          col("label").as("keeper_id"))
        // resolve keeper chains: an exact-dup whose hash-group keeper was
        // itself near-dropped defers to THAT keeper's component root, so
        // every emitted keeper_id is a kept document
        val exactResolved = exactDups
          .join(nearDecided.select(col("doc_id").as("keeper_id"),
            col("keeper_id").as("root_id")), Seq("keeper_id"))
          .select(col("doc_id"), col("status"), col("root_id").as("keeper_id"))
        exactResolved.union(nearDecided).orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH RECURSIVE hashed AS (
          SELECT doc_id, md5(text) AS h FROM documents),
        ek AS (SELECT h, MIN(doc_id) AS keeper FROM hashed GROUP BY 1),
        exact AS (SELECT d.doc_id, e.keeper FROM hashed d JOIN ek e USING (h)),
        surv AS (SELECT doc_id FROM exact WHERE doc_id = keeper),
        $JPAIRS,
        sp AS (
          SELECT doc_a, doc_b FROM jpairs
          WHERE doc_a IN (SELECT doc_id FROM surv)
            AND doc_b IN (SELECT doc_id FROM surv)),
        edges AS (SELECT doc_a AS s, doc_b AS t FROM sp
                  UNION ALL SELECT doc_b, doc_a FROM sp),
        walk(node, lbl) AS (
          SELECT doc_id, doc_id FROM surv
          UNION
          SELECT w.node, e.t FROM walk w JOIN edges e ON e.s = w.lbl),
        cc AS (SELECT node, MIN(lbl) AS lbl FROM walk GROUP BY 1)
        SELECT doc_id, status, keeper_id FROM (
          SELECT e.doc_id, 'exact_dup' AS status, c.lbl AS keeper_id
          FROM exact e JOIN cc c ON c.node = e.keeper
          WHERE e.doc_id <> e.keeper
          UNION ALL
          SELECT node AS doc_id,
                 CASE WHEN lbl <> node THEN 'near_dup' ELSE 'kept' END AS status,
                 lbl AS keeper_id
          FROM cc)
        ORDER BY doc_id""")),

    // ----- doc_ngram_lm_interp: interpolated bigram LM scoring -----------
    // Jelinek–Mercer interpolation — the standard fix for the bigram
    // sparsity that makes doc_bigram_surprisal's raw conditional blow up
    // on unseen pairs: P(w2|w1) = λ·c12/c1 + (1−λ)·c2/N with λ = 0.7,
    // self-trained on the corpus. Per-doc mean negative log-likelihood is
    // the quality score (CCNet's perplexity filter shape). Determinism:
    // every probability is a double chain over exact BIGINT counts with
    // λ as a shared e0 literal; ln is quantized to 6 decimals and the
    // per-doc mean runs in DECIMAL (the doc_dsir scheme). Scale: ONE
    // corpus tokenize pass; the three model frames aggregate from the
    // same (doc, w1, w2) counts; scoring is one bigram-keyed join.
    "doc_ngram_lm_interp" -> Q(
      build = (s, d) => {
        // r14: in-row bigrams (bigramsOf) replace the lead() window — no
        // token-stream Exchange+Sort (guide §2.4); same pair multiset
        val docBg = bigramsOf(docs(s, d), Seq("doc_id"))
          .groupBy(col("doc_id"), col("w1"), col("w2"))
          .agg(count(lit(1)).as("cnt"))
        val docBgCk = rebase(docBg)
        val c12 = docBgCk.groupBy(col("w1"), col("w2"))
          .agg(sum(col("cnt")).as("c12"))
        val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
        val c2 = c12.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
        val nTot = c12.agg(sum(col("c12")).as("nn"))
        val model = c12.join(c1, Seq("w1")).join(c2, Seq("w2"))
          .crossJoin(broadcast(nTot))
          .selectExpr("w1", "w2", LmK.nll)
        docBgCk.join(model, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(sum(col("cnt")).as("n_bigrams"),
            (sum((col("cnt").cast(DecimalType(18, 0)) * col("nll"))
              .cast(DecimalType(30, 6))).cast(DoubleType)
              / sum(col("cnt"))).as("mean_nll"))
          .withColumn("keep", col("mean_nll") <= 6.0)
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, ws[i] AS term, i AS pos
          FROM (SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents) t,
               LATERAL unnest(generate_series(1, len(ws))) AS u(i)
          WHERE ws[i] <> ''),
        bg AS (
          SELECT doc_id, term AS w1,
                 lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
          FROM toks
          QUALIFY lead(term) OVER (PARTITION BY doc_id ORDER BY pos)
                  IS NOT NULL),
        docbg AS (
          SELECT doc_id, w1, w2, COUNT(*) AS cnt FROM bg GROUP BY 1, 2, 3),
        c12 AS (SELECT w1, w2, CAST(SUM(cnt) AS BIGINT) AS c12
                FROM docbg GROUP BY 1, 2),
        c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
        c2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM c12 GROUP BY 1),
        nt AS (SELECT CAST(SUM(c12) AS BIGINT) AS nn FROM c12),
        model AS (
          SELECT m.w1, m.w2, ${LmK.nll}
          FROM c12 m JOIN c1 USING (w1) JOIN c2 USING (w2), nt),
        scored AS (
          SELECT d.doc_id, d.cnt, m.nll
          FROM docbg d JOIN model m ON d.w1 = m.w1 AND d.w2 = m.w2)
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(CAST(cnt AS DECIMAL(18,0)) * nll
                    AS DECIMAL(30,6))) AS DOUBLE) / SUM(cnt) AS mean_nll,
               CAST(SUM(CAST(CAST(cnt AS DECIMAL(18,0)) * nll
                    AS DECIMAL(30,6))) AS DOUBLE) / SUM(cnt) <= 6.0 AS keep
        FROM scored GROUP BY 1 ORDER BY doc_id""")),

    // ----- doc_quality_logreg: trained quality-filter classifier ---------
    // The model-based quality filter stage (the fastText/logreg
    // classifier pipelines train to imitate curated corpora, cf. CCNet /
    // DSIR's discriminative cousin): logistic regression over 16 hashed
    // bigram-fraction features + bias, trained with 4 full-batch
    // gradient-descent rounds against the lang=='en' target, reporting
    // the learned weights and train accuracy. Distributed-training
    // shape: features are a (doc, bucket) frame shuffled once; each
    // round is one broadcast of the 17 weights, one per-doc DECIMAL dot
    // product, one 17-group gradient aggregation — the canonical
    // data-parallel GD step, no driver-side vectors. Determinism: x and
    // w live in DECIMAL(18,9)/(18,6) (exact products, order-free sums);
    // the only libm call is exp() in the sigmoid, rounded to 6 decimals
    // at each use (the doc_dsir ln-quantization scheme).
    "doc_quality_logreg" -> Q(
      build = (s, d) => {
        // r14: in-row bigrams replace the lead() window (no token-stream
        // Exchange+Sort, guide §2.4), and n_bg — the per-doc bigram total
        // the old code recovered with a window sum — is just
        // size(filtered tokens) - 1, computed in-row, so the per-doc
        // window shuffle goes too.
        val bg = docs(s, d)
          .select(col("doc_id"), col("lang"),
            expr("filter(split(text, ' '), t -> t <> '')").as("ws"))
          .filter(size(col("ws")) >= 2)
          .select(col("doc_id"), col("lang"),
            (size(col("ws")) - 1).cast(LongType).as("n_bg"),
            explode(expr("transform(sequence(1, size(ws) - 1)," +
              " i -> struct(ws[i-1] AS w1, ws[i] AS w2))")).as("bgp"))
          .select(col("doc_id"), col("lang"), col("n_bg"),
            substring(md5(concat(col("bgp.w1"), lit(" "), col("bgp.w2"))
              .cast(BinaryType)), 1, 1).as("bkt"))
        val counts = bg
          .groupBy(col("doc_id"), col("lang"), col("n_bg"), col("bkt"))
          .agg(count(lit(1)).as("cnt"))
        val feats = counts
          .select(col("doc_id"), col("lang"), col("bkt"),
            expr("CAST(round(CAST(cnt AS DOUBLE) / n_bg, 9) AS DECIMAL(18,9))")
              .as("x"))
          .union(counts.select(col("doc_id"), col("lang")).distinct()
            .select(col("doc_id"), col("lang"), lit("B").as("bkt"),
              expr("CAST(1.0 AS DECIMAL(18,9))").as("x")))
          .withColumn("y", when(col("lang") === "en", 1).otherwise(0))
        // hash-partition by doc_id BEFORE the checkpoint: rebase
        // preserves the checkpoint's output partitioning, so with AQE off
        // each GD round's groupBy(doc_id, y) and the grad join on doc_id
        // are exchange-free (guide §2.4: two operations keyed the same
        // way share one exchange) — 2 shuffles/round × 4 rounds removed
        // for one up-front repartition. Under AQE the checkpoint records
        // no partitioning, and the rounds shuffle.
        val featsCk = rebase(feats.repartition(col("doc_id")))
        val n = featsCk.select(col("doc_id")).distinct().count()
        val buckets = (0 to 9).map(_.toString) ++ Seq("a", "b", "c", "d", "e", "f", "B")
        var w = featsCk.sparkSession
          .createDataFrame(buckets.map(b => Tuple1(b)))
          .toDF("bkt")
          .withColumn("w", expr("CAST(0.0 AS DECIMAL(18,9))"))
        for (_ <- 1 to 4) {
          val sig = featsCk.join(broadcast(w), Seq("bkt"))
            .groupBy(col("doc_id"), col("y"))
            .agg(sum(expr("CAST(x * w AS DECIMAL(38,18))")).as("z"))
            .withColumn("sigma", expr(
              "CAST(round(1.0 / (1.0 + exp(0.0 - CAST(z AS DOUBLE))), 6) AS DECIMAL(18,6))"))
          val grad = featsCk.join(sig.select(col("doc_id"), col("sigma"), col("y").as("yy")),
              Seq("doc_id"))
            .groupBy(col("bkt"))
            .agg(sum(expr("CAST((sigma - yy) * x AS DECIMAL(38,15))")).as("g"))
            .withColumn("gd", expr(s"CAST(g AS DOUBLE) / $n"))
          w = rebase(
            w.join(grad.select(col("bkt"), col("gd")), Seq("bkt"), "left")
              .select(col("bkt"), expr(
                "CAST(w - CAST(round(2.0 * coalesce(gd, 0.0), 9) AS DECIMAL(18,9)) AS DECIMAL(18,9))")
                .as("w")))
        }
        val scored = featsCk.join(broadcast(w), Seq("bkt"))
          .groupBy(col("doc_id"), col("y"))
          .agg(sum(expr("CAST(x * w AS DECIMAL(38,18))")).as("z"))
          .withColumn("pred", (col("z") >= 0).cast("int"))
        val acc = scored
          .agg((sum(when(col("pred") === col("y"), 1L).otherwise(0L))
            .cast(DoubleType) / count(lit(1))).as("accuracy"))
        w.crossJoin(broadcast(acc))
          .select(col("bkt"), col("w").cast(DoubleType).as("weight"),
            col("accuracy"))
          .orderBy(col("bkt"))
      },
      oracle = Some {
        val rounds = (1 to 4).map { k =>
          s"""z$k AS (
            SELECT f.doc_id, f.y,
              SUM(CAST(f.x * w.w AS DECIMAL(38,18))) AS z
            FROM feats f JOIN w${k - 1} w ON f.bkt = w.bkt
            GROUP BY 1, 2),
          s$k AS (
            SELECT doc_id, y,
              CAST(round(1.0 / (1.0 + exp(0.0 - CAST(z AS DOUBLE))), 6)
                AS DECIMAL(18,6)) AS sigma
            FROM z$k),
          g$k AS (
            SELECT f.bkt,
              CAST(SUM(CAST((s.sigma - s.y) * f.x AS DECIMAL(38,15)))
                AS DOUBLE) / nn.n AS gd
            FROM feats f JOIN s$k s ON f.doc_id = s.doc_id, nn
            GROUP BY 1, nn.n),
          w$k AS (
            SELECT w.bkt,
              CAST(w.w - CAST(round(2.0 * COALESCE(g.gd, 0.0), 9)
                AS DECIMAL(18,9)) AS DECIMAL(18,9)) AS w
            FROM w${k - 1} w LEFT JOIN g$k g ON w.bkt = g.bkt)"""
        }.mkString(",\n          ")
        s"""
        WITH toks AS (
          SELECT doc_id, lang, ws[i] AS term, i AS pos
          FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws
                FROM documents) t,
               LATERAL unnest(generate_series(1, len(ws))) AS u(i)
          WHERE ws[i] <> ''),
        bg AS (
          SELECT doc_id, lang,
                 substr(md5(term || ' ' ||
                   lead(term) OVER (PARTITION BY doc_id ORDER BY pos)), 1, 1)
                   AS bkt
          FROM toks
          QUALIFY lead(term) OVER (PARTITION BY doc_id ORDER BY pos)
                  IS NOT NULL),
        counts AS (
          SELECT doc_id, lang, bkt, COUNT(*) AS cnt,
                 CAST(SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS BIGINT)
                   AS n_bg
          FROM bg GROUP BY 1, 2, 3),
        feats0 AS (
          SELECT doc_id, lang, bkt,
                 CAST(round(CAST(cnt AS DOUBLE) / n_bg, 9) AS DECIMAL(18,9))
                   AS x
          FROM counts
          UNION ALL
          SELECT DISTINCT doc_id, lang, 'B' AS bkt,
                 CAST(1.0 AS DECIMAL(18,9)) AS x
          FROM counts),
        feats AS (
          SELECT doc_id, bkt, x,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM feats0),
        nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM feats),
        w0 AS (
          SELECT unnest(['0','1','2','3','4','5','6','7','8','9',
                         'a','b','c','d','e','f','B']) AS bkt,
                 CAST(0.0 AS DECIMAL(18,9)) AS w),
        $rounds,
        scored AS (
          SELECT f.doc_id, f.y,
                 SUM(CAST(f.x * w.w AS DECIMAL(38,18))) AS z
          FROM feats f JOIN w4 w ON f.bkt = w.bkt
          GROUP BY 1, 2),
        acc AS (
          SELECT CAST(SUM(CASE WHEN (CASE WHEN z >= 0 THEN 1 ELSE 0 END) = y
                               THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                   AS accuracy
          FROM scored)
        SELECT w.bkt, CAST(w.w AS DOUBLE) AS weight, a.accuracy
        FROM w4 w, acc a ORDER BY w.bkt"""
      }),

    // ----- doc_pagerank: link-graph authority scores ---------------------
    // The web-graph quality signal modern pretraining curation ranks
    // sources by: PageRank over the document link graph (damping 0.85,
    // 8 power-iteration rounds). The synthetic graph gives every doc
    // exactly 3 md5-derived out-links into the contiguous id space, so
    // both engines build the identical graph. All rank mass is INTEGER
    // (10^15 units): contributions floor-divide by out-degree, damping is
    // (17·x) div 20 — no float drift anywhere, any iteration count, any
    // engine. Spark iterates 8 checkpointed rounds (emb_kmeans shape:
    // O(1) plan depth, one join + one groupBy per round); the oracle
    // unrolls the same recurrence as 8 CTE stages. Scale: edge list is
    // shuffled on dst once per round — the canonical distributed
    // PageRank; no adjacency collected anywhere.
    "doc_pagerank" -> Q(
      build = (s, d) => {
        val TOT = 1000000000000000L // 10^15 rank units
        val n = broadcast(docs(s, d).agg(count(lit(1)).as("n")))
        val nodes = docs(s, d).select(col("doc_id"))
        val edges = rebase(
          nodes.crossJoin(n)
            .select(col("doc_id").as("src"), col("n"),
              explode(expr("sequence(1, 3)")).as("j"))
            .withColumn("dst", expr(
              "CAST(conv(substring(md5(concat(CAST(src AS STRING), ':pr', " +
                "CAST(j AS STRING))), 1, 5), 16, 10) AS BIGINT) % n"))
            .select(col("src"), col("dst")))
        val base = nodes.crossJoin(n)
          .select(col("doc_id"),
            expr(s"($TOT * 3 div 20) div n").as("b"))
        var ranks = nodes.crossJoin(n)
          .select(col("doc_id"), expr(s"$TOT div n").as("r"))
        for (_ <- 1 to 8) {
          val contrib = edges
            .join(ranks.withColumnRenamed("doc_id", "src"), Seq("src"))
            .groupBy(col("dst"))
            .agg(sum(expr("r div 3")).as("cs"))
          ranks = rebase(
            base.join(contrib.withColumnRenamed("dst", "doc_id"),
              Seq("doc_id"), "left")
              .select(col("doc_id"),
                (col("b") + expr("(17 * coalesce(cs, CAST(0 AS BIGINT))) div 20")).as("r")))
        }
        ranks
          .select(col("doc_id"), col("r").as("pr_units"),
            (col("r").cast(DoubleType) / lit(1.0e15)).as("pr"))
          .orderBy(col("doc_id"))
      },
      oracle = Some {
        val rounds = (1 to 8).map { k =>
          s"""c$k AS (
            SELECT e.dst, CAST(SUM(r.r // 3) AS BIGINT) AS cs
            FROM edges e JOIN r${k - 1} r ON r.doc_id = e.src GROUP BY 1),
          r$k AS (
            SELECT d.doc_id, b.b + (17 * COALESCE(c.cs, 0)) // 20 AS r
            FROM documents d LEFT JOIN c$k c ON d.doc_id = c.dst, base b)"""
        }.mkString(",\n          ")
        s"""
        WITH n1 AS (SELECT COUNT(*) AS n FROM documents),
        edges AS (
          SELECT src, CAST((ascii(substr(h, 1, 1)) - CASE WHEN ascii(substr(h, 1, 1)) >= 97 THEN 87 ELSE 48 END)*65536 + (ascii(substr(h, 2, 1)) - CASE WHEN ascii(substr(h, 2, 1)) >= 97 THEN 87 ELSE 48 END)*4096 + (ascii(substr(h, 3, 1)) - CASE WHEN ascii(substr(h, 3, 1)) >= 97 THEN 87 ELSE 48 END)*256 + (ascii(substr(h, 4, 1)) - CASE WHEN ascii(substr(h, 4, 1)) >= 97 THEN 87 ELSE 48 END)*16 + (ascii(substr(h, 5, 1)) - CASE WHEN ascii(substr(h, 5, 1)) >= 97 THEN 87 ELSE 48 END)*1 AS BIGINT) % n AS dst
          FROM (SELECT d.doc_id AS src,
                       md5(CAST(d.doc_id AS VARCHAR) || ':pr' || j) AS h, n1.n
                FROM documents d, generate_series(1, 3) AS s(j), n1)),
        base AS (SELECT (1000000000000000 * 3 // 20) // n AS b FROM n1),
        r0 AS (SELECT doc_id, 1000000000000000 // n AS r FROM documents, n1),
        $rounds
        SELECT doc_id, r AS pr_units, CAST(r AS DOUBLE) / 1.0e15 AS pr
        FROM r8 ORDER BY doc_id"""
      }),

    // ----- doc_perplexity_prune: CCNet head/middle/tail bucketing --------
    // The CCNet pruning stage on top of the doc_unigram_logprob scorer:
    // per-language perplexity deciles split the corpus into head (keep),
    // middle (maybe), tail (drop) — the published 1/3-2/3 recipe
    // (Wenzek et al. 2019) with the same 6-decimal-rounded DECIMAL-exact
    // surprisal sums, so the ordering key is engine-identical and ties
    // break on doc_id. Deciles come from the distributed per-group exact
    // rank (groupRank — no per-language window ever sees an unbounded
    // partition) through NTILE's exact closed form (front-loaded tiles:
    // the first n mod 10 tiles get the extra row), so the output is
    // bit-identical to the oracle's ntile(10) while ranking an
    // all-one-language corpus in parallel.
    "doc_perplexity_prune" -> Q(
      build = (s, d) => {
        val toks = docs(s, d)
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
        val model = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        val total = model.agg(sum(col("cnt")).as("n_total"))
        val perDoc = toks.join(model, "term")
          .crossJoin(broadcast(total))
          .withColumn("nll",
            round(-log(col("cnt").cast(DoubleType) / col("n_total")), 6)
              .cast(DecimalType(18, 6)))
          .groupBy(col("doc_id"), col("lang"))
          .agg(count(lit(1)).as("n_tokens"),
            (sum(col("nll")).cast(DoubleType) / count(lit(1))).as("mean_nll"))
        groupRank(perDoc, "lang", "mean_nll", "doc_id")
          .withColumn("decile", expr(
            """CAST(CASE WHEN rn <= (n_grp % 10) * (n_grp div 10 + 1)
                 THEN (rn - 1) div (n_grp div 10 + 1) + 1
                 ELSE (n_grp % 10)
                      + (rn - (n_grp % 10) * (n_grp div 10 + 1) - 1)
                        div (n_grp div 10) + 1
               END AS INT)"""))
          .withColumn("bucket",
            when(col("decile") <= 3, "head")
              .when(col("decile") <= 7, "middle").otherwise("tail"))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("mean_nll"), col("decile"), col("bucket"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
          FROM documents),
        toks_f AS (SELECT * FROM toks WHERE term <> ''),
        model AS (SELECT term, COUNT(*) AS cnt FROM toks_f GROUP BY 1),
        total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM model),
        perdoc AS (
          SELECT t.doc_id, t.lang, COUNT(*) AS n_tokens,
                 CAST(SUM(CAST(round(-ln(CAST(m.cnt AS DOUBLE) / n_total), 6)
                      AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_nll
          FROM toks_f t JOIN model m ON t.term = m.term, total
          GROUP BY 1, 2),
        ranked AS (
          SELECT *, ntile(10) OVER (PARTITION BY lang
                   ORDER BY mean_nll, doc_id) AS decile
          FROM perdoc)
        SELECT doc_id, lang, n_tokens, mean_nll, decile,
               CASE WHEN decile <= 3 THEN 'head'
                    WHEN decile <= 7 THEN 'middle' ELSE 'tail' END AS bucket
        FROM ranked ORDER BY doc_id""")),

    // ----- doc_tokenizer_fertility: tokenizer audit per lang/source ------
    // The tokenizer-fit audit every multilingual corpus needs before
    // training: fertility (subword tokens per whitespace word) and
    // compression (chars per token) per (lang, source), using the same
    // GPT-2-style pre-tokenizer as doc_bpe_tokens. High fertility marks
    // languages the tokenizer serves poorly (the standard tokenizer-
    // parity metric). Pure column math into one tiny groupBy; ratios are
    // single IEEE divisions of exact integer sums.
    "doc_tokenizer_fertility" -> Q(
      build = (s, d) =>
        docs(s, d)
          .select(col("lang"), col("source"), col("n_chars"),
            expr("size(filter(split(text, ' '), x -> x <> ''))")
              .cast(LongType).as("n_words"),
            size(regexp_extract_all(col("text"),
              lit("[a-z]+|[0-9]|[^a-z0-9 ]"), lit(0)))
              .cast(LongType).as("n_toks"))
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
            sum(col("n_toks")).as("n_tokens"),
            sum(col("n_chars")).as("n_chars"))
          .withColumn("fertility",
            col("n_tokens").cast(DoubleType) / col("n_words"))
          .withColumn("chars_per_token",
            col("n_chars").cast(DoubleType) / col("n_tokens"))
          .orderBy(col("lang"), col("source")),
      oracle = Some("""
        WITH per AS (
          SELECT lang, source, n_chars,
                 CAST(len(list_filter(string_split(text, ' '),
                      x -> x <> '')) AS BIGINT) AS n_words,
                 CAST(len(regexp_extract_all(text,
                      '[a-z]+|[0-9]|[^a-z0-9 ]', 0)) AS BIGINT) AS n_toks
          FROM documents),
        g AS (
          SELECT lang, source, COUNT(*) AS n_docs,
                 CAST(SUM(n_words) AS BIGINT) AS n_words,
                 CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
                 CAST(SUM(n_chars) AS BIGINT) AS n_chars
          FROM per GROUP BY 1, 2)
        SELECT lang, source, n_docs, n_words, n_tokens, n_chars,
               CAST(n_tokens AS DOUBLE) / n_words AS fertility,
               CAST(n_chars AS DOUBLE) / n_tokens AS chars_per_token
        FROM g ORDER BY lang, source""")),

    // ----- doc_collocations: corpus-level PMI phrase mining --------------
    // The phrase-detection pass tokenizer pipelines run before merging
    // multi-word units (word2vec's phrase pass, Mikolov et al. 2013):
    // score every bigram by pointwise mutual information against the
    // corpus bigram model and keep the top collocations. The PMI value is
    // emitted as the LOG-FREE likelihood ratio c12*N/(c1*c2) — every term
    // an exact BIGINT, the single division correctly-rounded IEEE on both
    // engines — so the output is hash-stable with no transcendental in
    // sight. Two groupBys over one bigram pass; the top-50 is
    // orderBy+limit (TakeOrdered — per-partition heaps then one k-row
    // merge, never a global sort shuffle).
    "doc_collocations" -> Q(
      build = (s, d) => {
        // r14: in-row bigrams (bigramsOf) replace the lag() window — no
        // token-stream Exchange+Sort (guide §2.4); same (w1, w2) multiset
        val big = bigramsOf(docs(s, d), Seq("doc_id"))
          .select(col("w1"), col("w2"))
        val pair = big.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c12"))
        val lft = pair.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
        val rgt = pair.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
        val n = pair.agg(sum(col("c12")).as("n_big"))
        pair.filter(col("c12") >= 5)
          .join(lft, "w1").join(rgt, "w2")
          .crossJoin(broadcast(n))
          .withColumn("lift",
            (col("c12") * col("n_big")).cast(DoubleType)
              / (col("c1") * col("c2")))
          .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
            col("lift"))
          .orderBy(col("lift").desc, col("w1"), col("w2"))
          .limit(50)
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, g.i AS pos, l[g.i] AS term
          FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
               generate_series(1, 2048) AS g(i)
          WHERE g.i <= len(l) AND l[g.i] <> ''),
        big AS (
          SELECT w1, w2 FROM (
            SELECT doc_id, term AS w2,
                   LAG(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
            FROM toks)
          WHERE w1 IS NOT NULL),
        pair AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
        lft AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM pair GROUP BY 1),
        rgt AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM pair GROUP BY 1),
        n AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_big FROM pair)
        SELECT p.w1, p.w2, p.c12, l.c1, r.c2,
               CAST(p.c12 * n.n_big AS DOUBLE) / (l.c1 * r.c2) AS lift
        FROM pair p JOIN lft l ON p.w1 = l.w1
                    JOIN rgt r ON p.w2 = r.w2, n
        WHERE p.c12 >= 5
        ORDER BY lift DESC, p.w1, p.w2 LIMIT 50""")),

    // ----- doc_compress_ratio: DEFLATE compressibility quality signal ----
    // The compression-ratio filter production corpus pipelines run
    // alongside the Gopher rules: machine-generated boilerplate compresses
    // far below natural text, random gibberish barely compresses at all,
    // so both tails of the ratio distribution are drop candidates. The
    // gate-checked estimator is the ORDER-0 ENTROPY bound — est_ratio =
    // H(chars)/8 bits-per-char over the first 2 KB, the information-
    // theoretic floor any real codec approaches — computed with the house
    // ln idiom (round(ln,6) DECIMAL partials, ts_entropy's exact-sum
    // shape) so DuckDB hash-matches it; the REAL zlib byte count
    // (graft.functions.Compress.deflateLen, used by the spec and
    // available for production scoring) stays out of the gate because no
    // SQL engine reproduces zlib. Scale shape: the per-char explode is
    // the one linear decode pass, histogram rows map-side combine to
    // <= 96 (distinct printable chars) per doc, everything else is a
    // per-doc agg — no shuffle wider than the corpus itself.
    "doc_compress_ratio" -> Q(
      build = (s, d) => {
        val chars = docs(s, d)
          .select(col("doc_id"),
            least(length(col("text")), lit(2048)).as("n"),
            col("text"))
          .select(col("doc_id"), col("n"),
            explode(expr("sequence(1, n)")).as("i"), col("text"))
          .select(col("doc_id"), col("n"),
            expr("ascii(substr(text, i, 1))").as("b"))
        val cnt = chars.groupBy(col("doc_id"), col("n"), col("b"))
          .agg(count(lit(1)).as("c"))
          .withColumn("lp", expr(
            "CAST(round(ln(CAST(c AS DOUBLE) / n), 6) AS DECIMAL(18,6))"))
        cnt.groupBy(col("doc_id"))
          .agg(max(col("n")).as("n_bytes"),
            count(lit(1)).as("n_distinct_chars"),
            sum(expr("CAST(CAST(c AS DECIMAL(18,0)) * lp AS DECIMAL(30,6))"))
              .as("wsum"))
          .withColumn("est_ratio", expr(EntRatioK.estRatio))
          .withColumn("flag", expr(EntRatioK.flag))
          .select(col("doc_id"), col("n_bytes"), col("n_distinct_chars"),
            col("est_ratio"), col("flag"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH chars AS (
          SELECT doc_id, least(length(text), 2048) AS n,
                 ascii(substr(text, CAST(i AS INT), 1)) AS b
          FROM documents
          CROSS JOIN generate_series(1, 2048) AS g(i)
          WHERE i <= least(length(text), 2048)),
        cnt AS (
          SELECT doc_id, n, b, COUNT(*) AS c FROM chars GROUP BY 1, 2, 3),
        lp AS (
          SELECT doc_id, n, c,
                 CAST(round(ln(CAST(c AS DOUBLE) / n), 6) AS DECIMAL(18,6))
                   AS lp
          FROM cnt),
        agg AS (
          SELECT doc_id, MAX(n) AS n_bytes, COUNT(*) AS n_distinct_chars,
                 SUM(CAST(CAST(c AS DECIMAL(18,0)) * lp AS DECIMAL(30,6)))
                   AS wsum
          FROM lp GROUP BY 1)
        SELECT doc_id, n_bytes, n_distinct_chars,
               ${EntRatioK.estRatio} AS est_ratio,
               ${EntRatioK.flag} AS flag
        FROM agg ORDER BY doc_id""")),

    // ----- doc_ngram_novelty: ingestion-order novelty score --------------
    // How much genuinely NEW text does each document add to the corpus so
    // far? Per doc, the fraction of its distinct 5-gram word shingles
    // whose first corpus occurrence (min doc_id — ingestion order) is this
    // document. The memorization/freshness metric curators watch as a
    // crawl ages: novelty falling toward 0 means the crawl is re-reading
    // itself. One shingle-keyed groupBy for first-owner, one semi-join
    // back — the exact shingle-join shape of doc_contamination, linear in
    // corpus size at any SF.
    "doc_ngram_novelty" -> Q(
      build = (s, d) => {
        // r14: in-row 5-gram windows over the filtered token array — the
        // lead()×4 window shuffled and sorted the whole token stream
        // (guide §2.4); identical window set (consecutive non-empty
        // tokens, full windows only)
        val sh = docs(s, d)
          .select(col("doc_id"),
            expr("filter(split(text, ' '), t -> t <> '')").as("ws"))
          .filter(size(col("ws")) >= 5)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(ws) - 4)," +
              " i -> concat_ws(' ', slice(ws, i, 5)))")).as("g"))
          .distinct()
        val first = sh.groupBy(col("g")).agg(min(col("doc_id")).as("owner"))
        sh.join(first, "g")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .withColumn("novelty",
            col("n_novel").cast(DoubleType) / col("n_shingles"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, g.i AS pos, l[g.i] AS term
          FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
               generate_series(1, 2048) AS g(i)
          WHERE g.i <= len(l) AND l[g.i] <> ''),
        sh AS (
          SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   concat_ws(' ', term, LEAD(term, 1) OVER w,
                     LEAD(term, 2) OVER w, LEAD(term, 3) OVER w,
                     LEAD(term, 4) OVER w) AS g,
                   LEAD(term, 4) OVER w AS k
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
          WHERE k IS NOT NULL),
        first AS (SELECT g, MIN(doc_id) AS owner FROM sh GROUP BY 1)
        SELECT s.doc_id, COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN f.owner = s.doc_id THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_novel,
               CAST(SUM(CASE WHEN f.owner = s.doc_id THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*) AS novelty
        FROM sh s JOIN first f ON s.g = f.g
        GROUP BY 1 ORDER BY s.doc_id""")),

    // ----- doc_cdc_chunks: content-defined chunking ----------------------
    // The storage-dedup layer below document dedup (LBFS/FastCDC shape):
    // cut chunk boundaries where the 20-byte Karp-Rabin window hash
    // satisfies h % 64 == 0, so an insertion early in a document shifts
    // ONE boundary instead of re-chunking everything after it (the whole
    // point vs fixed-size blocks). Gear-style without the min-size
    // suppression (that clause is inherently sequential; declared
    // simplification). The per-position hash is the SAME 20-term
    // polynomial both engines already share for MinHash (gramSum), chunk
    // identity is md5 (bit-identical across engines), and cross-doc
    // duplicate chunks fall out of one hash-keyed groupBy — linear,
    // shuffle on the chunk hash, the production dedup-store shape.
    "doc_cdc_chunks" -> Q(
      build = (s, d) => {
        // one rolling-hash pass per doc (graft.functions.CdcCuts) — the
        // 20-term expression form recomputed substring(text, i+j) per
        // term and turned quadratic on long documents (26 s at sf0.1);
        // the kernel computes the identical polynomial value in O(len)
        val w = Window.partitionBy(col("doc_id")).orderBy(col("cut"))
        val cuts = docs(s, d)
          .filter(length(col("text")) >= 20)
          .select(col("doc_id"), col("text"),
            explode(graft.functions.TextFunctions.cdc_cuts(col("text")))
              .as("cutL"))
          .filter(col("cutL") <= length(col("text")) - 19)
          .select(col("doc_id"), col("text"),
            col("cutL").cast(IntegerType).as("cut"))
        val starts = docs(s, d)
          .filter(length(col("text")) >= 20)
          .select(col("doc_id"), col("text"), lit(1).as("cut"))
          .unionByName(cuts)
        val chunks = starts
          .withColumn("nxt", lead(col("cut"), 1).over(w))
          .withColumn("clen",
            coalesce(col("nxt"), length(col("text")) + 1) - col("cut"))
          .filter(col("clen") > 0)
          .withColumn("chunk_md5",
            md5(expr("CAST(substring(text, cut, clen) AS BINARY)")))
          .withColumn("chunk_idx", row_number().over(w) - 1)
        val dups = chunks.groupBy(col("chunk_md5"))
          .agg(count(lit(1)).as("n_copies"))
        chunks.join(dups, "chunk_md5")
          .select(col("doc_id"), col("chunk_idx"), col("cut").as("start"),
            col("clen"), col("chunk_md5"), col("n_copies"),
            (col("n_copies") > 1).as("is_dup"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      oracle = Some(s"""
        WITH d AS (
          SELECT doc_id, text FROM documents WHERE length(text) >= 20),
        pos AS (
          SELECT doc_id, text,
                 unnest(generate_series(2, length(text) - 19)) AS i
          FROM d),
        cuts AS (
          SELECT doc_id, text, i AS cut FROM pos
          WHERE ((${gramSum(graft.functions.TextHashKernels.B1)}) % $HP) % 64 = 0),
        starts AS (
          SELECT doc_id, text, 1 AS cut FROM d
          UNION ALL SELECT doc_id, text, cut FROM cuts),
        chunks AS (
          SELECT doc_id, cut,
                 COALESCE(LEAD(cut, 1) OVER w, length(text) + 1) - cut
                   AS clen,
                 text,
                 ROW_NUMBER() OVER w - 1 AS chunk_idx
          FROM starts WINDOW w AS (PARTITION BY doc_id ORDER BY cut)),
        hashed AS (
          SELECT doc_id, chunk_idx, cut AS start, clen,
                 md5(substr(text, CAST(cut AS INT), CAST(clen AS INT)))
                   AS chunk_md5
          FROM chunks WHERE clen > 0),
        dups AS (
          SELECT chunk_md5, COUNT(*) AS n_copies FROM hashed GROUP BY 1)
        SELECT h.doc_id, h.chunk_idx, h.start, h.clen, h.chunk_md5,
               d2.n_copies, d2.n_copies > 1 AS is_dup
        FROM hashed h JOIN dups d2 ON h.chunk_md5 = d2.chunk_md5
        ORDER BY h.doc_id, h.chunk_idx""")),

    // ----- doc_prefix_dedup: shared-boilerplate prefix report ------------
    // Web corpora accumulate documents that differ only after a common
    // header (mirrored pages, templated articles); exact dedup misses
    // them and MinHash may not, so pipelines also run the cheap
    // prefix-group report: documents sharing their first 40 characters,
    // grouped, with the earliest doc as the canonical example. One
    // map-side-combinable groupBy on the prefix — linear, and at 100 TB
    // the prefix key is 40 bytes regardless of document size.
    "doc_prefix_dedup" -> Q(
      build = (s, d) =>
        docs(s, d)
          .filter(length(col("text")) >= 40)
          .select(substring(col("text"), 1, 40).as("prefix"), col("doc_id"),
            col("n_chars"))
          .groupBy(col("prefix"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("canonical_doc"),
            sum(col("n_chars")).as("chars_at_stake"))
          .filter(col("n_docs") >= 2)
          .orderBy(col("prefix")),
      oracle = Some("""
        SELECT substr(text, 1, 40) AS prefix, COUNT(*) AS n_docs,
               MIN(doc_id) AS canonical_doc,
               CAST(SUM(n_chars) AS BIGINT) AS chars_at_stake
        FROM documents WHERE length(text) >= 40
        GROUP BY 1 HAVING COUNT(*) >= 2
        ORDER BY prefix""")),

    // ----- doc_triangle_count: dup-cluster density -----------------------
    // Triangle counting over the near-dup graph (the classic distributed
    // graph kernel): a document in many triangles sits in a TIGHT
    // duplicate cluster (everything similar to everything — safe to keep
    // one), while high degree with few triangles means hub-like chained
    // similarity (risky to collapse transitively). The id-ordered edge
    // orientation (a<b from jaccardPairs) counts each triangle exactly
    // once with two joins — the standard MapReduce formulation whose join
    // fan-out is bounded by the oriented degree. Local clustering
    // coefficient = 2t/(deg·(deg-1)), exact integers into one division.
    "doc_triangle_count" -> Q(
      // r11 scale fix (the ×1000 tier's third catch): the old form built
      // the jaccard edge set over ALL docs — m byte-identical replicas
      // form an m-clique (m² edges) and contribute m³ triangle-join rows,
      // so ×1000 was disk-death. The output is PER-DOC (linear), and
      // every member of an identical-text group has the same degree and
      // triangle count, so the whole query decomposes exactly onto the
      // rep graph (distinct texts, multiplicities m): for a doc in group
      // A with neighbor groups N(A) (jaccard is a function of the two
      // texts alone, within-group jaccard = 1 ≥ 0.5):
      //   degree = (m_A−1) + Σ_{B∈N(A)} m_B
      //   triangles = C(m_A−1,2)                    (both in A)
      //             + (m_A−1)·Σ m_B                 (one in A, one in B)
      //             + Σ_{B∈N(A)} C(m_B,2)           (both in same B)
      //             + Σ_{rep-triangles (A,B,C)} m_B·m_C  (distinct B,C)
      // Triangle joins now run over the rep edge set only; docs fan back
      // out through one membership join. Output-identical (m ≡ 1
      // degenerates to the old plan); oracle unchanged.
      build = (s, d) => {
        val (sizes, repDocs, memb) = repGroups(s, d)
        val re = jaccardAllOf(repDocs).filter(col("jaccard") >= 0.5)
          .select(col("doc_a").as("ra"), col("doc_b").as("rb"))
        val sym = re.select(col("ra").as("a"), col("rb").as("b"))
          .unionAll(re.select(col("rb").as("a"), col("ra").as("b")))
        val nbr = sym
          .join(sizes.select(col("rep").as("b"), col("m").as("mb")), Seq("b"))
          .groupBy(col("a").as("rep"))
          .agg(sum(col("mb")).as("s_nb"),
            sum(expr("mb * (mb - 1) div 2")).as("c2_nb"))
        val rtri = re.as("e1")
          .join(re.as("e2"), col("e2.ra") === col("e1.rb"))
          .join(re.as("e3"), col("e3.ra") === col("e1.ra")
            && col("e3.rb") === col("e2.rb"))
          .select(col("e1.ra").as("ta"), col("e1.rb").as("tb"),
            col("e2.rb").as("tc"))
          .join(sizes.select(col("rep").as("ta"), col("m").as("ma")), Seq("ta"))
          .join(sizes.select(col("rep").as("tb"), col("m").as("mb")), Seq("tb"))
          .join(sizes.select(col("rep").as("tc"), col("m").as("mc")), Seq("tc"))
        val triCross = rtri.select(col("ta").as("rep"),
            (col("mb") * col("mc")).as("w"))
          .unionAll(rtri.select(col("tb").as("rep"),
            (col("ma") * col("mc")).as("w")))
          .unionAll(rtri.select(col("tc").as("rep"),
            (col("ma") * col("mb")).as("w")))
          .groupBy(col("rep")).agg(sum(col("w")).as("t_cross"))
        val groupStats = sizes
          .join(nbr, Seq("rep"), "left")
          .join(triCross, Seq("rep"), "left")
          .withColumn("s_nb", coalesce(col("s_nb"), lit(0L)))
          .withColumn("degree", col("m") - 1 + col("s_nb"))
          .filter(col("degree") >= 1)
          .withColumn("n_triangles",
            expr("(m - 1) * (m - 2) div 2") + (col("m") - 1) * col("s_nb")
              + coalesce(col("c2_nb"), lit(0L))
              + coalesce(col("t_cross"), lit(0L)))
        memb.join(groupStats, Seq("rep"))
          .select(col("doc_id"), col("degree"), col("n_triangles"),
            when(col("degree") >= 2,
              col("n_triangles").cast(DoubleType) * 2.0
                / (col("degree") * (col("degree") - 1)))
              .otherwise(lit(0.0)).as("clustering"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH $JPAIRS,
        e AS (SELECT doc_a, doc_b FROM jpairs),
        tri AS (
          SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
          FROM e e1
          JOIN e e2 ON e2.doc_a = e1.doc_b
          JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
        perdoc AS (
          SELECT doc_id, COUNT(*) AS n_triangles FROM (
            SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
          GROUP BY 1),
        deg AS (
          SELECT doc_id, COUNT(*) AS degree FROM (
            SELECT doc_a AS doc_id FROM e
            UNION ALL SELECT doc_b FROM e)
          GROUP BY 1)
        SELECT d.doc_id, d.degree,
               CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles,
               CASE WHEN d.degree >= 2
                    THEN CAST(COALESCE(p.n_triangles, 0) AS DOUBLE) * 2.0
                         / (d.degree * (d.degree - 1))
                    ELSE 0.0 END AS clustering
        FROM deg d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // ----- doc_wordlist_filter: blocklist-driven safety/policy filter ----
    // The wordlist gate every corpus pipeline runs before the learned
    // classifiers (the C4 badwords pass, RefinedWeb's URL/word filters):
    // a categorized blocklist — hard terms force DROP, soft categories
    // accumulate and only dense hits escalate — joined against the
    // tokenized corpus. The list here is a stand-in over the synthetic
    // vocabulary (production swaps the VALUES table); the MACHINERY is
    // the real thing: broadcast list join (never a scan per term), exact
    // per-category counts via one groupBy, density thresholds on exact
    // integer ratios (hits*1000 vs n_tokens*25 — no division), action
    // precedence drop > review > keep. Linear in corpus tokens at any
    // scale.
    "doc_wordlist_filter" -> Q(
      build = (s, d) => {
        val list = s.createDataFrame(Seq(
          ("slow", "perf", true), ("big", "perf", false),
          ("merge", "perf", false), ("customer", "sensitive", false),
          ("key", "sensitive", false)))
          .toDF("term", "category", "hard")
        val toks = docs(s, d)
          .select(col("doc_id"),
            (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
              .cast(LongType).as("n_tokens"),
            explode(split(col("text"), " ")).as("term"))
        val hits = toks.join(broadcast(list), Seq("term"))
          .groupBy(col("doc_id"), col("n_tokens"))
          .agg(count(lit(1)).as("n_hits"),
            sum(when(col("hard"), 1L).otherwise(0L)).as("n_hard"),
            sum(when(col("category") === "perf", 1L).otherwise(0L))
              .as("n_perf"),
            sum(when(col("category") === "sensitive", 1L).otherwise(0L))
              .as("n_sensitive"))
        docs(s, d)
          .select(col("doc_id"),
            (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
              .cast(LongType).as("n_tokens"))
          .join(hits.drop("n_tokens"), Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_hits", "n_hard", "n_perf", "n_sensitive"))
          .withColumn("action", expr(
            """CASE WHEN n_hard > 0 THEN 'drop'
                    WHEN n_hits * 1000 > n_tokens * 25 THEN 'review'
                    ELSE 'keep' END"""))
          .select(col("doc_id"), col("n_tokens"), col("n_hits"),
            col("n_hard"), col("n_perf"), col("n_sensitive"), col("action"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH list(term, category, hard) AS (VALUES
          ('slow', 'perf', TRUE), ('big', 'perf', FALSE),
          ('merge', 'perf', FALSE), ('customer', 'sensitive', FALSE),
          ('key', 'sensitive', FALSE)),
        toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
        hits AS (
          SELECT t.doc_id, COUNT(*) AS n_hits,
                 CAST(SUM(CASE WHEN l.hard THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hard,
                 CAST(SUM(CASE WHEN l.category = 'perf' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_perf,
                 CAST(SUM(CASE WHEN l.category = 'sensitive' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_sensitive
          FROM toks t JOIN list l ON t.term = l.term
          GROUP BY 1),
        base AS (
          SELECT doc_id,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1
                   AS BIGINT) AS n_tokens
          FROM documents)
        SELECT b.doc_id, b.n_tokens,
               COALESCE(h.n_hits, 0) AS n_hits,
               COALESCE(h.n_hard, 0) AS n_hard,
               COALESCE(h.n_perf, 0) AS n_perf,
               COALESCE(h.n_sensitive, 0) AS n_sensitive,
               CASE WHEN COALESCE(h.n_hard, 0) > 0 THEN 'drop'
                    WHEN COALESCE(h.n_hits, 0) * 1000 > b.n_tokens * 25
                      THEN 'review'
                    ELSE 'keep' END AS action
        FROM base b LEFT JOIN hits h ON h.doc_id = b.doc_id
        ORDER BY b.doc_id""")),

    // ----- doc_quality_decision: the end-to-end keep/drop verdict --------
    // The quality twin of doc_dedup_decision: a corpus pipeline's final
    // per-document verdict composes independent screens with an explicit
    // precedence — hard blocklist hit > Gopher structural fail > entropy
    // tail (the doc_compress_ratio bound) > keep — because downstream
    // needs ONE actionable label plus the evidence columns, not four
    // disconnected reports. Every signal is recomputed with its home
    // query's exact idiom (same formula text, same thresholds), so this
    // stays consistent with the standalone screens by construction.
    // Scale shape: three linear passes (word counts, char histogram,
    // blocklist join) joined on doc_id — no new join wider than the
    // corpus.
    "doc_quality_decision" -> Q(
      build = (s, d) => {
        // gopher structural screen (doc_gopher_rules thresholds)
        val tops = docs(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("doc_id")).agg(max(col("cnt")).as("top_cnt"))
        val gopher = docs(s, d)
          .withColumn("n_words",
            (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
              .cast(LongType))
          .join(tops, Seq("doc_id"))
          .select(col("doc_id"), col("n_words"),
            (col("top_cnt").cast(DoubleType) / col("n_words"))
              .as("top_word_frac"))
        // entropy screen (doc_compress_ratio chain)
        val cnt = docs(s, d)
          .select(col("doc_id"),
            least(length(col("text")), lit(2048)).as("n"), col("text"))
          .select(col("doc_id"), col("n"),
            explode(expr("sequence(1, n)")).as("i"), col("text"))
          .select(col("doc_id"), col("n"),
            expr("ascii(substr(text, i, 1))").as("b"))
          .groupBy(col("doc_id"), col("n"), col("b"))
          .agg(count(lit(1)).as("c"))
          .withColumn("lp", expr(
            "CAST(round(ln(CAST(c AS DOUBLE) / n), 6) AS DECIMAL(18,6))"))
        val ent = cnt.groupBy(col("doc_id"))
          .agg(max(col("n")).as("n_bytes"),
            sum(expr("CAST(CAST(c AS DECIMAL(18,0)) * lp AS DECIMAL(30,6))"))
              .as("wsum"))
          .withColumn("est_ratio", expr(EntRatioK.estRatio))
          .select(col("doc_id"), col("est_ratio"))
        // blocklist screen (doc_wordlist_filter hard terms)
        val hard = docs(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term") === "slow")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hard"))
        gopher.join(ent, Seq("doc_id"))
          .join(hard, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_hard"))
          .withColumn("verdict", expr(
            """CASE WHEN n_hard > 0 THEN 'drop_blocklist'
                    WHEN n_words < 50 OR n_words > 100000
                      OR top_word_frac > 0.12 THEN 'drop_gopher'
                    WHEN est_ratio < 0.49e0 OR est_ratio > 0.525e0
                      THEN 'drop_entropy'
                    ELSE 'keep' END"""))
          .select(col("doc_id"), col("n_words"), col("top_word_frac"),
            col("est_ratio"), col("n_hard"), col("verdict"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH w AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        wc AS (SELECT doc_id, w, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
        tops AS (SELECT doc_id, MAX(cnt) AS top_cnt FROM wc GROUP BY 1),
        gopher AS (
          SELECT d.doc_id,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1
                   AS BIGINT) AS n_words,
                 CAST(t.top_cnt AS DOUBLE)
                   / (length(text) - length(replace(text, ' ', '')) + 1)
                   AS top_word_frac
          FROM documents d JOIN tops t ON d.doc_id = t.doc_id),
        chars AS (
          SELECT doc_id, least(length(text), 2048) AS n,
                 ascii(substr(text, CAST(i AS INT), 1)) AS b
          FROM documents
          CROSS JOIN generate_series(1, 2048) AS g(i)
          WHERE i <= least(length(text), 2048)),
        ccnt AS (
          SELECT doc_id, n, b, COUNT(*) AS c FROM chars GROUP BY 1, 2, 3),
        lp AS (
          SELECT doc_id, n, c,
                 CAST(round(ln(CAST(c AS DOUBLE) / n), 6) AS DECIMAL(18,6))
                   AS lp
          FROM ccnt),
        ent AS (
          SELECT doc_id, MAX(n) AS n_bytes,
                 SUM(CAST(CAST(c AS DECIMAL(18,0)) * lp AS DECIMAL(30,6)))
                   AS wsum
          FROM lp GROUP BY 1),
        entr AS (
          SELECT doc_id, ${EntRatioK.estRatio} AS est_ratio FROM ent),
        hard AS (
          SELECT doc_id, COUNT(*) AS n_hard FROM w
          WHERE w = 'slow' GROUP BY 1)
        SELECT g.doc_id, g.n_words, g.top_word_frac, e.est_ratio,
               COALESCE(h.n_hard, 0) AS n_hard,
               CASE WHEN COALESCE(h.n_hard, 0) > 0 THEN 'drop_blocklist'
                    WHEN g.n_words < 50 OR g.n_words > 100000
                      OR g.top_word_frac > 0.12 THEN 'drop_gopher'
                    WHEN e.est_ratio < 0.49e0 OR e.est_ratio > 0.525e0
                      THEN 'drop_entropy'
                    ELSE 'keep' END AS verdict
        FROM gopher g JOIN entr e ON e.doc_id = g.doc_id
        LEFT JOIN hard h ON h.doc_id = g.doc_id
        ORDER BY g.doc_id""")),

    // ----- doc_corpus_report: per-source corpus health dashboard ---------
    // The one-row-per-source table a curation team actually reads: doc
    // and token counts, the within-source exact-duplicate share, the
    // Gopher structural pass rate, and the mean compressibility bound —
    // corpus telemetry, not per-doc detail. Every ingredient uses its
    // home screen's exact idiom; the only divisions are the final
    // ratios, and the mean entropy ratio is aggregated as a
    // floor-quantized integer sum (order-free) before its single
    // division. Scale: three linear passes + per-source aggs; the md5
    // dup groupBy is the doc_exact_dedup shape.
    "doc_corpus_report" -> Q(
      build = (s, d) => {
        val base = docs(s, d)
          .select(col("doc_id"), col("source"),
            (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
              .cast(LongType).as("n_tok"),
            md5(col("text").cast(BinaryType)).as("h"))
        val dup = base.groupBy(col("source"), col("h"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("source"))
          .agg(sum(when(col("c") > 1, col("c")).otherwise(0L))
            .as("n_dup_docs"))
        val tops = docs(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("doc_id")).agg(max(col("cnt")).as("top_cnt"))
        val gopher = base.join(tops, Seq("doc_id"))
          .withColumn("pass", (col("n_tok") >= 50 && col("n_tok") <= 100000
            && col("top_cnt").cast(DoubleType) / col("n_tok") <= 0.12))
        val ent = docs(s, d)
          .select(col("doc_id"), col("source"),
            least(length(col("text")), lit(2048)).as("n"), col("text"))
          .select(col("doc_id"), col("source"), col("n"),
            explode(expr("sequence(1, n)")).as("i"), col("text"))
          .select(col("doc_id"), col("source"), col("n"),
            expr("ascii(substr(text, i, 1))").as("b"))
          .groupBy(col("doc_id"), col("source"), col("n"), col("b"))
          .agg(count(lit(1)).as("c"))
          .withColumn("lp", expr(
            "CAST(round(ln(CAST(c AS DOUBLE) / n), 6) AS DECIMAL(18,6))"))
          .groupBy(col("doc_id"), col("source"))
          .agg(max(col("n")).as("n_bytes"),
            sum(expr("CAST(CAST(c AS DECIMAL(18,0)) * lp AS DECIMAL(30,6))"))
              .as("wsum"))
          .withColumn("rq", expr(
            s"CAST(floor((${EntRatioK.estRatio}) * 1000000.0e0) AS BIGINT)"))
        val perSrc = gopher.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
            sum(when(col("pass"), 1L).otherwise(0L)).as("n_gopher_pass"))
        val entSrc = ent.groupBy(col("source"))
          .agg(sum(col("rq")).as("sum_rq"))
        perSrc.join(dup, Seq("source")).join(entSrc, Seq("source"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("n_dup_docs"),
            (col("n_dup_docs").cast(DoubleType) / col("n_docs"))
              .as("dup_rate"),
            col("n_gopher_pass"),
            (col("n_gopher_pass").cast(DoubleType) / col("n_docs"))
              .as("gopher_pass_rate"),
            (col("sum_rq").cast(DoubleType) / lit(1000000.0) / col("n_docs"))
              .as("mean_est_ratio"))
          .orderBy(col("source"))
      },
      oracle = Some(s"""
        WITH base AS (
          SELECT doc_id, source,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1
                   AS BIGINT) AS n_tok,
                 md5(text) AS h
          FROM documents),
        dup AS (
          SELECT source,
                 CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                   AS n_dup_docs
          FROM (SELECT source, h, COUNT(*) AS c FROM base GROUP BY 1, 2)
          GROUP BY 1),
        w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents),
        wc AS (SELECT doc_id, w, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
        tops AS (SELECT doc_id, MAX(cnt) AS top_cnt FROM wc GROUP BY 1),
        gopher AS (
          SELECT b.source, b.n_tok,
                 (b.n_tok >= 50 AND b.n_tok <= 100000
                  AND CAST(t.top_cnt AS DOUBLE) / b.n_tok <= 0.12) AS pass
          FROM base b JOIN tops t ON t.doc_id = b.doc_id),
        chars AS (
          SELECT doc_id, source, least(length(text), 2048) AS n,
                 ascii(substr(text, CAST(i AS INT), 1)) AS b
          FROM documents
          CROSS JOIN generate_series(1, 2048) AS g(i)
          WHERE i <= least(length(text), 2048)),
        ccnt AS (
          SELECT doc_id, source, n, b, COUNT(*) AS c
          FROM chars GROUP BY 1, 2, 3, 4),
        lp AS (
          SELECT doc_id, source, n, c,
                 CAST(round(ln(CAST(c AS DOUBLE) / n), 6) AS DECIMAL(18,6))
                   AS lp
          FROM ccnt),
        ed AS (
          SELECT doc_id, source, MAX(n) AS n_bytes,
                 SUM(CAST(CAST(c AS DECIMAL(18,0)) * lp AS DECIMAL(30,6)))
                   AS wsum
          FROM lp GROUP BY 1, 2),
        er AS (
          SELECT source,
                 CAST(SUM(CAST(floor((${EntRatioK.estRatio}) * 1000000.0e0)
                   AS BIGINT)) AS BIGINT) AS sum_rq
          FROM ed GROUP BY 1),
        src AS (
          SELECT g.source, COUNT(*) AS n_docs,
                 CAST(SUM(g.n_tok) AS BIGINT) AS n_tokens,
                 CAST(SUM(CASE WHEN g.pass THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_gopher_pass
          FROM gopher g GROUP BY 1)
        SELECT s.source, s.n_docs, s.n_tokens, d.n_dup_docs,
               CAST(d.n_dup_docs AS DOUBLE) / s.n_docs AS dup_rate,
               s.n_gopher_pass,
               CAST(s.n_gopher_pass AS DOUBLE) / s.n_docs AS gopher_pass_rate,
               CAST(e.sum_rq AS DOUBLE) / 1000000.0 / s.n_docs
                 AS mean_est_ratio
        FROM src s JOIN dup d ON d.source = s.source
        JOIN er e ON e.source = s.source
        ORDER BY s.source""")),

    // ----- doc_soft_dedup: inverse-cluster-size sampling weights ---------
    // Soft deduplication (the published alternative to hard dropping —
    // keep every copy but downweight it so the training distribution sees
    // each distinct content once): exact content-hash clusters, per-doc
    // sampling weight 1/cluster_size, effective char mass n_chars/size.
    // Unlike doc_exact_dedup (keeper per hash) / doc_dedup_keep_best
    // (quality argmax), the output here is per-DOC — the weight column a
    // sampler multiplies into its rates. Shape: one hash groupBy + one
    // hash-keyed join, both map-side combinable; weights are single IEEE
    // divisions of exact integers — bit-identical cross-engine.
    "doc_soft_dedup" -> Q(
      build = (s, d) => {
        val hashed = docs(s, d)
          .select(col("doc_id"), col("n_chars"),
            md5(col("text").cast(BinaryType)).as("h"))
        val sizes = hashed.groupBy(col("h"))
          .agg(count(lit(1)).as("cluster_size"))
        hashed.join(sizes, "h")
          .select(col("doc_id"), col("cluster_size"),
            (lit(1.0) / col("cluster_size").cast(DoubleType)).as("weight"),
            (col("n_chars").cast(DoubleType)
              / col("cluster_size").cast(DoubleType)).as("eff_chars"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH hashed AS (
          SELECT doc_id, n_chars, md5(text) AS h FROM documents),
        sizes AS (SELECT h, COUNT(*) AS cluster_size FROM hashed GROUP BY 1)
        SELECT a.doc_id, s.cluster_size,
               1.0e0 / s.cluster_size AS weight,
               CAST(a.n_chars AS DOUBLE) / s.cluster_size AS eff_chars
        FROM hashed a JOIN sizes s ON s.h = a.h
        ORDER BY a.doc_id""")),

    // ----- doc_ccnet_buckets: per-language perplexity tertiles -----------
    // The CCNet corpus layout (Wenzek et al. 2020, public): documents
    // split per language into head/middle/tail by LM-perplexity rank —
    // head trains, tail is held for filtering studies. Score = the
    // doc_unigram_logprob mean surprisal (6-decimal-rounded DECIMAL-exact
    // terms). Ranking within each language uses the two-level distributed
    // exact-rank idiom (range partition on (lang, score, doc_id),
    // per-(partition, lang) offsets broadcast back) — no per-language
    // window ever sees a corpus-sized partition, so a 99%-English corpus
    // (this one) still ranks in parallel. Bucket rule: rank*3 <= n →
    // head, <= 2n → middle, else tail. Output is langs×buckets rows with
    // order-free min/max cutoffs.
    "doc_ccnet_buckets" -> Q(
      build = (s, d) => {
        val toks = docs(s, d)
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
        val model = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        val total = model.agg(sum(col("cnt")).as("n_total"))
        val scored = toks.join(model, "term")
          .crossJoin(broadcast(total))
          .withColumn("nll",
            round(-log(col("cnt").cast(DoubleType) / col("n_total")), 6)
              .cast(DecimalType(18, 6)))
          .groupBy(col("doc_id"), col("lang"))
          .agg((sum(col("nll")).cast(DoubleType) / count(lit(1)))
            .as("mean_nll"))
        groupRank(scored, "lang", "mean_nll", "doc_id")
          .withColumn("bucket",
            when(col("rn") * 3 <= col("n_grp"), "head")
              .when(col("rn") * 3 <= col("n_grp") * 2, "middle")
              .otherwise(lit("tail")))
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("mean_nll")).as("min_nll"),
            max(col("mean_nll")).as("max_nll"))
          .orderBy(col("lang"), col("bucket"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
          FROM documents),
        toks_f AS (SELECT * FROM toks WHERE term <> ''),
        model AS (SELECT term, COUNT(*) AS cnt FROM toks_f GROUP BY 1),
        total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM model),
        scored AS (
          SELECT t.doc_id, t.lang,
                 CAST(SUM(CAST(round(-ln(CAST(m.cnt AS DOUBLE) / n_total), 6)
                   AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_nll
          FROM toks_f t JOIN model m ON t.term = m.term, total
          GROUP BY 1, 2),
        ranked AS (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY mean_nll, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY lang) AS n_lang
          FROM scored),
        bucketed AS (
          SELECT lang, mean_nll,
                 CASE WHEN rn * 3 <= n_lang THEN 'head'
                      WHEN rn * 3 <= n_lang * 2 THEN 'middle'
                      ELSE 'tail' END AS bucket
          FROM ranked)
        SELECT lang, bucket, COUNT(*) AS n_docs,
               MIN(mean_nll) AS min_nll, MAX(mean_nll) AS max_nll
        FROM bucketed GROUP BY 1, 2
        ORDER BY lang, bucket""")),

    // ----- doc_token_budget: water-filling per-source token allocation ---
    // The mixture-assembly step after doc_mixture_weights proposes shares:
    // given a global token budget B (here total/3), find the per-source
    // cap C such that sum(min(tokens_s, C)) = B — classic water-filling.
    // Sources below the water level keep everything; the rest are capped
    // at the common level. Closed form over the source aggregate: sort
    // ascending, the level lands in the first segment where
    // prefix + tokens·remaining >= B, C = (B - prefix) div remaining —
    // pure integer math, bit-exact. Shape: one combinable source
    // aggregate (sources-sized ever after), one window over that
    // bounded frame, one broadcast scalar join back.
    "doc_token_budget" -> Q(
      build = (s, d) => {
        val g = docs(s, d).groupBy(col("source"))
          .agg(sum((length(col("text"))
            - length(regexp_replace(col("text"), " ", "")) + 1)
            .cast(LongType)).as("n_tokens"))
        // rank + exclusive prefix over the per-source frame via the
        // distributed Det.rankPrefix idiom — "source" is the domain axis
        // of a real corpus (millions of rows at 100 TB), so no
        // partition-less window may ever see it
        val ws = Det.rankPrefix(g,
            Seq.empty, Seq(col("n_tokens"), col("source")),
            Some(col("n_tokens")))
          .withColumn("budget", expr("gtot div 3"))
        val level = ws
          .filter(col("prefix")
            + col("n_tokens") * (col("n_grp") - col("rn") + 1)
            >= col("budget"))
          .agg(min(struct(col("rn"), col("prefix"), col("n_grp"),
            col("budget"))).as("m"))
          // BIGINT div, not double /: exact at any token scale
          .select(expr(
            "(m.budget - m.prefix) div (m.n_grp - m.rn + 1)").as("cap"))
        g.crossJoin(broadcast(level))
          .select(col("source"), col("n_tokens"), col("cap"),
            least(col("n_tokens"), col("cap")).as("alloc_tokens"),
            (col("n_tokens") > col("cap")).as("capped"))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH g AS (
          SELECT source,
                 CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
                   AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
        tot AS (SELECT COUNT(*) AS n_src, CAST(SUM(n_tokens) AS BIGINT) AS tot
                FROM g),
        ws AS (
          SELECT g.source, g.n_tokens, t.n_src, t.tot // 3 AS budget,
                 ROW_NUMBER() OVER (ORDER BY g.n_tokens, g.source) AS rn,
                 COALESCE(SUM(g.n_tokens) OVER (
                   ORDER BY g.n_tokens, g.source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prefix
          FROM g, tot t),
        level AS (
          SELECT CAST((budget - prefix) // (n_src - rn + 1) AS BIGINT) AS cap
          FROM ws
          WHERE prefix + n_tokens * (n_src - rn + 1) >= budget
          ORDER BY rn LIMIT 1)
        SELECT g.source, g.n_tokens, l.cap,
               CAST(least(g.n_tokens, l.cap) AS BIGINT) AS alloc_tokens,
               g.n_tokens > l.cap AS capped
        FROM g, level l
        ORDER BY g.source""")),

    // ----- doc_chunk_windows: overlapping context-window chunker ----------
    // The other half of sequence assembly: doc_pack_sequences packs SHORT
    // docs into fixed windows; this SPLITS long docs into overlapping
    // 64-token windows with stride 48 (16-token overlap carries context
    // across the cut — the standard long-document chunker in front of any
    // fixed-context model). Chunk count is the closed form 1 +
    // ceil((n−64)/48) for n>64 (a trailing window fully contained in the
    // previous one is never emitted), so the explode is bounded by
    // n_tokens/48 — linear in corpus size, keyed by doc. The chunk
    // fingerprint is md5 of the re-joined token slice (byte-identical in
    // both engines), the id a downstream exact-dedup consumes directly.
    "doc_chunk_windows" -> Q(
      build = (s, d) =>
        docs(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .withColumn("n", size(col("toks")).cast(LongType))
          .select(col("doc_id"), col("toks"), col("n"),
            explode(expr(
              "sequence(0L, CASE WHEN n > 64 THEN (n - 17) DIV 48 ELSE 0L END)"))
              .as("k"))
          .select(col("doc_id"), col("k").as("chunk_idx"),
            (col("k") * 48 + 1).as("tok_start"),
            least(col("k") * 48 + 64, col("n")).as("tok_end"),
            (least(col("k") * 48 + 64, col("n")) - col("k") * 48)
              .as("n_chunk_tokens"),
            md5(concat_ws(" ",
              slice(col("toks"), (col("k") * 48 + 1).cast(IntegerType), lit(64))))
              .as("chunk_md5"))
          .orderBy(col("doc_id"), col("chunk_idx")),
      oracle = Some("""
        WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n
          FROM documents),
        ks AS (
          SELECT doc_id, toks, n,
                 unnest(generate_series(0,
                   CASE WHEN n > 64 THEN (n - 17) // 48 ELSE 0 END)) AS k
          FROM base)
        SELECT doc_id, k AS chunk_idx,
               k * 48 + 1 AS tok_start,
               least(k * 48 + 64, n) AS tok_end,
               least(k * 48 + 64, n) - k * 48 AS n_chunk_tokens,
               md5(array_to_string(
                 toks[CAST(k * 48 + 1 AS INT) :
                      CAST(least(k * 48 + 64, n) AS INT)], ' ')) AS chunk_md5
        FROM ks ORDER BY doc_id, chunk_idx""")),

    // ----- doc_heaps_curve: vocabulary growth checkpoints -----------------
    // Heaps'-law curve for the corpus: at 10 doc-count checkpoints, the
    // cumulative token count N and distinct-type count V (plus the exact
    // integer type/token ratio). The scan shape is the Heaps trick
    // itself: V(c) needs no re-scan per checkpoint — each type carries its
    // FIRST-SEEN doc (a min-groupBy), and both curves come from joining
    // the 10-row broadcast checkpoint list against vocab-sized / doc-sized
    // stats frames, never against raw text twice. Tells a data curator
    // whether more of the same source still buys new vocabulary.
    "doc_heaps_curve" -> Q(
      build = (s, d) => {
        val toks = docs(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val firstSeen = toks.groupBy(col("tok"))
          .agg(min(col("doc_id")).as("first_doc"))
        val perDoc = toks.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tok"))
        val ck = docs(s, d).agg(count(lit(1)).as("n_docs"))
          .select(col("n_docs"),
            explode(expr("sequence(1L, 10L)")).as("ckpt"))
          .select(col("ckpt"), expr("(ckpt * n_docs) DIV 10").as("cutoff"))
        val nTok = broadcast(ck)
          .join(perDoc, perDoc("doc_id") < ck("cutoff"))
          .groupBy(col("ckpt"), col("cutoff"))
          .agg(sum(col("n_tok")).as("n_tokens"))
        val vTypes = broadcast(ck)
          .join(firstSeen, firstSeen("first_doc") < ck("cutoff"))
          .groupBy(col("ckpt"))
          .agg(count(lit(1)).as("v_types"))
        nTok.join(vTypes, Seq("ckpt"))
          .select(col("ckpt"), col("cutoff"), col("n_tokens"), col("v_types"),
            expr("(v_types * 1000000) DIV n_tokens").as("ttr_x1e6"))
          .orderBy(col("ckpt"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        first_seen AS (
          SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY 1),
        per_doc AS (
          SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY 1),
        ck AS (
          SELECT i AS ckpt, (i * (SELECT COUNT(*) FROM documents)) // 10
                   AS cutoff
          FROM generate_series(1, 10) AS t(i)),
        nt AS (
          SELECT c.ckpt, c.cutoff, CAST(SUM(p.n_tok) AS BIGINT) AS n_tokens
          FROM ck c JOIN per_doc p ON p.doc_id < c.cutoff GROUP BY 1, 2),
        vt AS (
          SELECT c.ckpt, CAST(COUNT(*) AS BIGINT) AS v_types
          FROM ck c JOIN first_seen f ON f.first_doc < c.cutoff GROUP BY 1)
        SELECT n.ckpt, n.cutoff, n.n_tokens, v.v_types,
               (v.v_types * 1000000) // n.n_tokens AS ttr_x1e6
        FROM nt n JOIN vt v ON v.ckpt = n.ckpt
        ORDER BY n.ckpt""")),

    // ----- doc_shard_plan: token-balanced training-shard assignment ------
    // The step between curation and the trainer: split the corpus into N
    // equal-token shards so data-parallel ranks finish epochs together.
    // Boustrophedon LPT: rank docs by tokens DESC (doc_id tiebreak) and
    // deal them serpentine across 16 shards — the classic deterministic
    // greedy that bounds shard skew by one max-doc. The rank comes from
    // Det.rankPrefix (distributed exact rank — no partition-less window
    // over the corpus-sized frame); gtot rides along for the imbalance
    // audit, so the whole plan is two bounded shuffles + the final
    // 16-row aggregate. Output: per-shard doc/token totals and the
    // ppm deviation from perfect balance.
    "doc_shard_plan" -> Q(
      build = (s, d) => {
        val t = docs(s, d).select(col("doc_id"), col("source"),
          (length(col("text"))
            - length(regexp_replace(col("text"), " ", "")) + 1)
            .cast(LongType).as("n_tok"))
        Det.rankPrefix(t, Seq.empty,
            Seq((-col("n_tok")).as("neg"), col("doc_id")),
            Some(col("n_tok")))
          .withColumn("shard", expr(
            """CASE WHEN ((rn - 1) div 16) % 2 = 0 THEN (rn - 1) % 16
               ELSE 15 - (rn - 1) % 16 END"""))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tokens"),
            max(col("gtot")).as("gtot"))
          .select(col("shard"), col("n_docs"), col("n_tokens"),
            expr("((n_tokens * 16 - gtot) * 1000000) div gtot")
              .as("dev_ppm"))
          .orderBy(col("shard"))
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1
                   AS BIGINT) AS n_tok
          FROM documents),
        r AS (
          SELECT doc_id, n_tok,
                 ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) AS rn
          FROM t),
        tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS gtot FROM t),
        sh AS (
          SELECT CASE WHEN ((rn - 1) // 16) % 2 = 0 THEN (rn - 1) % 16
                      ELSE 15 - (rn - 1) % 16 END AS shard,
                 n_tok
          FROM r)
        SELECT s.shard, COUNT(*) AS n_docs,
               CAST(SUM(s.n_tok) AS BIGINT) AS n_tokens,
               CAST((CAST(SUM(s.n_tok) AS BIGINT) * 16 - t.gtot) * 1000000
                 // t.gtot AS BIGINT) AS dev_ppm
        FROM sh s, tot t GROUP BY s.shard, t.gtot
        ORDER BY s.shard""")),

    // ----- doc_upsample_plan: mixture-epoch materialization --------------
    // After doc_mixture_weights proposes shares, the trainer needs an
    // integer repeat count PER DOCUMENT: temperature-mixed token budgets
    // (tau = 0.5 over per-source token mass, 10M-token budget) give each
    // source B_s; every doc repeats floor(B_s / S_s) times, and the
    // remainder B_s mod S_s is filled by one extra pass over an
    // md5-ordered prefix of the source — the deterministic fractional-
    // epoch rule (data recipes à la LLaMA/DoReMi materialized, not
    // sampled). The per-source exclusive token prefix in md5 order is
    // Det.rankPrefix's grouped value path — one range shuffle + a
    // broadcast offset table, never a per-source sorted window. All
    // quantities integer-exact on both engines.
    // Bound (cf. rankPrefix's documented 2^33): qw = floor(sqrt(s_tok))·2^10,
    // so the budget product 10^7·qw stays under 2^63 until a single source
    // holds ~7.7e17 tokens (≈ 3 PB of text) — two decades past the 100 TB
    // design scale. (2^10, not 2^20: the wider quantization overflowed at
    // ~7.7e11 tokens, inside the design envelope — ADVICE r7.)
    "doc_upsample_plan" -> Q(
      build = (s, d) => {
        val t = docs(s, d).select(col("doc_id"), col("source"),
          (length(col("text"))
            - length(regexp_replace(col("text"), " ", "")) + 1)
            .cast(LongType).as("n_tok"),
          md5(col("doc_id").cast(StringType)).as("h"))
        val ranked = Det.rankPrefix(t, Seq(col("source")),
          Seq(col("h"), col("doc_id")), Some(col("n_tok")))
        val g = ranked.groupBy(col("source"))
          .agg(max(col("gtot")).as("s_tok"))
          .withColumn("qw",
            floor(sqrt(col("s_tok").cast(DoubleType)) * 1024.0)
              .cast(LongType))
        val b = g.crossJoin(broadcast(g.select(sum(col("qw")).as("tq"))))
          .select(col("source"), col("s_tok"),
            expr("(10000000 * qw) div tq").as("bs"))
        ranked.join(broadcast(b), Seq("source"))
          .withColumn("base_epochs", expr("bs div s_tok"))
          .withColumn("extra", expr("prefix + n_tok <= bs % s_tok"))
          .select(col("doc_id"), col("source"), col("n_tok"),
            col("base_epochs"),
            col("extra"),
            expr("base_epochs + CASE WHEN extra THEN 1 ELSE 0 END")
              .as("repeats"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1
                   AS BIGINT) AS n_tok,
                 md5(CAST(doc_id AS VARCHAR)) AS h
          FROM documents),
        g AS (
          SELECT source, CAST(SUM(n_tok) AS BIGINT) AS s_tok,
                 CAST(FLOOR(sqrt(CAST(SUM(n_tok) AS DOUBLE)) * 1024.0e0)
                   AS BIGINT) AS qw
          FROM t GROUP BY 1),
        tot AS (SELECT CAST(SUM(qw) AS BIGINT) AS tq FROM g),
        b AS (
          SELECT g.source, g.s_tok,
                 CAST((10000000 * g.qw) // t.tq AS BIGINT) AS bs
          FROM g, tot t),
        w AS (
          SELECT t.*,
                 CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source
                   ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS prefix
          FROM t)
        SELECT w.doc_id, w.source, w.n_tok,
               CAST(b.bs // b.s_tok AS BIGINT) AS base_epochs,
               w.prefix + w.n_tok <= b.bs % b.s_tok AS extra,
               CAST(b.bs // b.s_tok
                 + CASE WHEN w.prefix + w.n_tok <= b.bs % b.s_tok
                        THEN 1 ELSE 0 END AS BIGINT) AS repeats
        FROM w JOIN b ON b.source = w.source
        ORDER BY w.doc_id"""))
  )
}
