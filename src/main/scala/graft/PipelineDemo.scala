package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end training-data pipeline composed from graft operators:
  * ingest → clean → exact-dedup (keep best) → quality filter → MinHash-LSH
  * candidates → connected-components canonical dedup → per-source quota
  * cap → hash train/valid/test split → embedding join → partitioned write.
  * One declarative DAG plus the checkpointed CC loop — Catalyst fuses the
  * narrow stages; shuffles are the dedup groupings, the LSH band join, the
  * CC rounds, the cap window, and the final write partitioning.
  * Usage: runMain graft.PipelineDemo [sfDir] [outDir]
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("target/pipeline_out")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.t(spark, sfDir, "documents")
    println(s"ingested: ${docs.count()}")

    // clean
    val cleaned = docs.withColumn("clean_text",
      regexp_replace(trim(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " ")),
        " +", " "))

    // exact dedup, keep the longest copy per content hash
    val wBest = Window.partitionBy(col("content_hash"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val exactDeduped = cleaned
      .withColumn("content_hash", md5(col("clean_text").cast(BinaryType)))
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1).drop("rn")
    println(s"after exact dedup: ${exactDeduped.count()}")

    // quality filter
    val quality = exactDeduped
      .withColumn("n_tokens",
        (length(col("clean_text")) - length(regexp_replace(col("clean_text"), " ", "")) + 1)
          .cast(LongType))
      .filter(col("n_tokens") >= 25)
    println(s"after quality filter: ${quality.count()}")

    // near-dup candidates via MinHash-LSH banding
    val sigs = quality.select(col("doc_id"),
      functions.TextFunctions.minhash_signature(col("clean_text")).as("sig"))
    val candPairs = operators.TextOps.bandPairs(sigs, "doc_id",
        (0 until 8).map(b => xxhash64(slice(col("sig"), b * 4 + 1, 4))))
      .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))

    // canonical dedup: connected components over the candidate graph —
    // near-dup similarity isn't transitive, the component is the document
    // group; keep each component's min doc_id
    val cc = operators.TextOps.connectedComponents(
      quality.select(col("doc_id").as("node")),
      candPairs.union(candPairs.select(col("dst"), col("src"))).toDF("src", "dst"))
    val pruned = quality.join(
      cc.filter(col("node") === col("label")).select(col("node").as("doc_id")),
      Seq("doc_id"))
    println(s"after CC near-dup dedup: ${pruned.count()}")

    // per-source quota cap (keep longest 100 docs per source)
    val wCap = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val capped = pruned.withColumn("cap_rn", row_number().over(wCap))
      .filter(col("cap_rn") <= 100).drop("cap_rn")
    println(s"after source cap: ${capped.count()}")

    // per-source token budget (water-filling level over the kept corpus):
    // report how a global budget of total/3 tokens would be allocated
    val srcTok = capped.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
    val tot = srcTok.agg(count(lit(1)).as("n_src"),
      sum(col("src_tokens")).as("tot"))
    val wAsc = Window.orderBy(col("src_tokens"), col("source"))
    val level = srcTok
      .withColumn("rn", row_number().over(wAsc))
      .withColumn("prefix", coalesce(sum(col("src_tokens")).over(
        wAsc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(tot))
      .filter(col("prefix")
        + col("src_tokens") * (col("n_src") - col("rn") + 1) >= expr("tot div 3"))
      .agg(min(struct(col("rn"), col("prefix"), col("n_src"),
        expr("tot div 3").as("budget"))).as("m"))
      .select(expr("(m.budget - m.prefix) div (m.n_src - m.rn + 1)").as("cap"))
    val alloc = srcTok.crossJoin(broadcast(level))
      .select(sum(least(col("src_tokens"), col("cap"))).as("alloc"))
      .head().getLong(0)
    println(s"token budget (total/3) water-filled allocation: $alloc tokens")

    // context-window chunking of the kept long docs (the sequence-assembly
    // stage a fixed-context trainer consumes): 64-token windows, stride 48
    val chunks = capped
      .select(col("doc_id"),
        org.apache.spark.sql.functions.split(col("clean_text"), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast(LongType))
      .select(col("doc_id"), explode(expr(
        "sequence(0L, CASE WHEN n > 64 THEN (n - 17) DIV 48 ELSE 0L END)"))
        .as("k"))
    println(s"context windows (64 tok, stride 48): ${chunks.count()}")

    // growth-stable hash split
    val split = capped.withColumn("split",
      when(substring(md5(concat(col("doc_id").cast(StringType), lit(":s3"))
        .cast(BinaryType)), 1, 2) < "cd", "train")
        .when(substring(md5(concat(col("doc_id").cast(StringType), lit(":s3"))
          .cast(BinaryType)), 1, 2) < "e7", "valid").otherwise("test"))

    // attach embeddings (broadcastable dim at this scale)
    val emb = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val enriched = split.join(emb, Seq("doc_id"), "left")
    println(s"with embeddings: ${enriched.filter(col("embedding").isNotNull).count()}")

    // partitioned write (split/lang layout for downstream pruning)
    enriched.select("doc_id", "lang", "source", "split", "clean_text",
        "n_tokens", "embedding")
      .write.mode("overwrite").partitionBy("split", "lang").parquet(outDir)
    val back = spark.read.parquet(outDir)
    println(s"written+readback: ${back.count()} rows, " +
      s"splits=${back.select("split").distinct().count()}, " +
      s"langs=${back.select("lang").distinct().count()}")
    spark.stop()
  }
}
