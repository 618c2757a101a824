package graft

import graft.functions.{ImageCodec, Onnx}
import graft.streaming.Streams
import java.awt.image.BufferedImage
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpecBase {

  test("mm_tile: tiles cover every image completely") {
    val tile = 224
    val rows = run("mm_tile").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).values.foreach { ts =>
      val w = ts.head.getAs[Long]("img_w")
      val h = ts.head.getAs[Long]("img_h")
      // tiles stay in bounds
      ts.foreach { t =>
        assert(t.getAs[Long]("tile_x") >= 0 && t.getAs[Long]("tile_x") + tile <= w)
        assert(t.getAs[Long]("tile_y") >= 0 && t.getAs[Long]("tile_y") + tile <= h)
      }
      // right/bottom edges are reached
      assert(ts.exists(t => t.getAs[Long]("tile_x") + tile == w))
      assert(ts.exists(t => t.getAs[Long]("tile_y") + tile == h))
    }
  }

  test("mm_blob_meta: sha256 is stable and 64 hex chars") {
    val rows = run("mm_blob_meta").limit(5).collect()
    rows.foreach(r => assert(r.getAs[String]("sha256").matches("[0-9a-f]{64}")))
  }

  test("mm_batch_infer: every payload scored once, batches bounded at 32") {
    val rows = run("mm_batch_infer").collect()
    assert(rows.length == Tables.t(spark, sf, "documents").count())
    rows.foreach { r =>
      val n = r.getAs[Int]("batch_n")
      assert(n >= 1 && n <= 32)
      assert(r.getAs[Int]("batch_pos") < n)
      val cls = r.getAs[Int]("pred_class")
      assert(cls >= 0 && cls < 4)
      // analytic bound through the smoke_mlp.onnx MLP: features ≤ 255,
      // |w1| ≤ 5/8 (8 in), |b1| ≤ 3/4 → relu ≤ 1276; |w2| ≤ 1/4 (16 in),
      // |b2| ≤ 1 → |logit| ≤ 5105
      (0 until 4).foreach(k => assert(math.abs(r.getAs[Double](s"logit$k")) <= 5105.0))
    }
    // executor logits ARE the committed-ONNX session outputs: recompute
    // through decode → features → Onnx.smokeLogits locally and compare
    // bit-exactly (doc residue class 768 = the feature period)
    rows.take(50).foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val m = id % 768
      val img = ImageCodec.decode(ImageCodec.toPng(
        ImageCodec.syntheticImage(m, 32 + (m % 3).toInt * 16, 32)))
      val lg = Onnx.smokeLogits(ImageCodec.features(img))
      (0 until 4).foreach { k =>
        assert(java.lang.Double.doubleToRawLongBits(lg(k))
          == java.lang.Double.doubleToRawLongBits(r.getAs[Double](s"logit$k")),
          s"doc $id logit$k: ${lg(k)} vs ${r.getAs[Double](s"logit$k")}")
      }
      assert(r.getAs[Int]("pred_class") == lg.indexOf(lg.max))
    }
    // deterministic across runs
    val again = run("mm_batch_infer").collect()
    assert(rows.map(_.getAs[Int]("pred_class")).toSeq
      == again.map(_.getAs[Int]("pred_class")).toSeq)
  }

  test("mm_feature_extract: real ImageIO decode, deterministic 8-dim features") {
    def grab() = run("mm_feature_extract").collect().map(r =>
      r.getAs[Long]("doc_id") -> (0 until 8).map(k => r.getAs[Double](s"f$k"))).toMap
    val a = grab()
    val b = grab()
    assert(a == b)
    assert(a.values.forall(_.length == 8))
    // every payload is a valid PNG and decodes
    assert(run("mm_feature_extract").collect().forall(_.getAs[Boolean]("decoded")))
  }

  test("ImageCodec: decode recovers known pixel statistics exactly") {
    import java.awt.image.BufferedImage
    // solid color: mean channels are exact
    val img = new BufferedImage(8, 8, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, (200 << 16) | (100 << 8) | 50)
    val f = ImageCodec.features(ImageCodec.decode(ImageCodec.toPng(img)))
    assert(f(0) == 200.0 && f(1) == 100.0 && f(2) == 50.0)
    val lum = (299L * 200 + 587L * 100 + 114L * 50) / 1000L
    assert(f(3) == lum.toDouble && f(4) == 0.0) // mean lum, zero variance
    assert(f(5) == lum.toDouble && f(6) == lum.toDouble) // min = max
    assert(f(7) == 0.0) // no edges in a solid image
    // two-band image: mean = midpoint, edge energy = one step per row
    val img2 = new BufferedImage(8, 8, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8)
      img2.setRGB(x, y, if (x < 4) 0 else 0xFFFFFF)
    val f2 = ImageCodec.features(ImageCodec.decode(ImageCodec.toPng(img2)))
    assert(f2(0) == 127.5 && f2(1) == 127.5 && f2(2) == 127.5)
    assert(f2(5) == 0.0 && f2(6) == 255.0)
    // 8 rows x 7 horizontal diffs, one 255-step per row: 8*255/56
    assert(math.abs(f2(7) - 8.0 * 255.0 / 56.0) < 1e-12)
  }

  test("mm_hist_compare: correlation bounded, intersection below both marginals") {
    val df = run("mm_hist_compare").cache()
    assert(df.count() > 0)
    assert(df.filter(col("corr") > 1.0 + 1e-12 || col("corr") < -1.0 - 1e-12).count() == 0)
    assert(df.filter(col("smin") > least(col("n_cur"), col("n_prev"))).count() == 0)
    // identical frames must correlate at exactly 1: compare a frame to itself
    // through the same arithmetic
    val hist = Tables.t(spark, sf, "documents").filter(length(col("text")) >= 16)
      .limit(1).select(col("doc_id"),
        explode(expr("sequence(1, length(text))")).as("pos"), col("text"))
      .select(expr("ascii(substring(text, pos, 1))").as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("cnt"))
    val r = hist.agg(
      (lit(256) * sum(col("cnt") * col("cnt")) - sum(col("cnt")) * sum(col("cnt")))
        .cast("double").as("num"),
      sqrt((lit(256) * sum(col("cnt") * col("cnt")) - sum(col("cnt")) * sum(col("cnt")))
        .cast("double") * (lit(256) * sum(col("cnt") * col("cnt"))
        - sum(col("cnt")) * sum(col("cnt"))).cast("double")).as("den"))
      .selectExpr("num/den AS corr").head.getDouble(0)
    assert(r == 1.0)
  }

  test("mm_ssim: identical tiles score 1; scores bounded") {
    val df = run("mm_ssim").cache()
    assert(df.count() > 0)
    assert(df.filter(col("mean_ssim") > 1.0 + 1e-9).count() == 0)
    assert(df.filter(col("min_ssim") > 1.0 + 1e-9).count() == 0)
    // SSIM of a tile against itself is exactly 1 by the formula
    val one = spark.sql(
      """SELECT ((2.0e0*(sx/16.0e0)*(sy/16.0e0) + 6.5025e0)
            * (2.0e0*(sxy/16.0e0 - (sx/16.0e0)*(sy/16.0e0)) + 58.5225e0))
           / (((sx/16.0e0)*(sx/16.0e0) + (sy/16.0e0)*(sy/16.0e0) + 6.5025e0)
              * ((sxx/16.0e0 - (sx/16.0e0)*(sx/16.0e0))
                 + (syy/16.0e0 - (sy/16.0e0)*(sy/16.0e0)) + 58.5225e0)) AS s
         FROM (SELECT 1600L AS sx, 1600L AS sy, 164000L AS sxx,
                      164000L AS syy, 164000L AS sxy)""").head.getDouble(0)
    assert(one == 1.0)
  }

  test("mm_feature_extract decode survives a corrupt payload (flagged, not thrown)") {
    assert(ImageCodec.decode(Array[Byte](1, 2, 3, 4)) == null)
  }

  // One case per model: 40 records (a full 32-batch plus a tail of 8)
  // with one broken blob, scored by the model's stream and checked
  // against its committed session run locally — bit-exact outputs and
  // pred_class, the broken blob scored as a zero input, batches of at
  // most 32, and smoke_cnn2's calibrated scores summing to ~1.
  private case class StreamModel(name: String,
      stream: Dataset[Streams.InferIn] => Dataset[Streams.InferOut],
      model: Array[Double] => Array[Double],
      input: BufferedImage => Array[Double], inputLen: Int, calibrated: Boolean)

  Seq(
    StreamModel("stream_batch_infer: live scoring matches the batch ONNX path bit-exactly",
      Streams.batchInferStream, Onnx.smokeLogits, ImageCodec.features, 8, false),
    StreamModel("stream_conv_infer: live conv scoring matches the batch CNN path bit-exactly",
      Streams.convInferStream, Onnx.smokeCnnLogits, ImageCodec.cnnTile8, 64, false),
    StreamModel("stream_cnn2_infer: live extended-op scoring matches the batch path bit-exactly",
      Streams.cnn2InferStream, Onnx.smokeCnn2Scores, ImageCodec.cnnTile8, 64, true)
  ).zipWithIndex.foreach { case (m, n) =>
    test(m.name) {
      import spark.implicits._
      implicit val sq = spark.sqlContext
      val in = MemoryStream[Streams.InferIn]
      val q = m.stream(in.toDS())
        .writeStream.format("memory").queryName(s"infer_out_$n")
        .outputMode("append").start()
      def png(id: Long): Array[Byte] = ImageCodec.toPng(ImageCodec.docFrame(id))
      in.addData((0L until 40L).map(i =>
        Streams.InferIn(i, if (i == 7L) Array[Byte](1, 2, 3) else png(i))))
      q.processAllAvailable()
      val out = spark.table(s"infer_out_$n").collect()
      q.stop()
      assert(out.length == 40)
      out.foreach { r =>
        val id = r.getAs[Long]("doc_id")
        val v = m.model(
          if (id == 7L) new Array[Double](m.inputLen)
          else m.input(ImageCodec.decode(png(id))))
        val got = (0 until 4).map(k => r.getAs[Double](s"logit$k"))
        (0 until 4).foreach { k =>
          assert(java.lang.Double.doubleToRawLongBits(v(k))
            == java.lang.Double.doubleToRawLongBits(got(k)), s"doc $id logit$k")
        }
        assert(r.getAs[Int]("pred_class") == v.indexOf(v.max))
        assert(r.getAs[Int]("batch_len") <= 32)
        if (m.calibrated) assert(math.abs(got.sum - 1.0) < 1e-5, s"doc $id")
      }
    }
  }

  test("oracle payload-scan caps cover the data (generate_series bounds)") {
    // The mm_scene_segments / mm_motion_tiles / mm_keyframes oracles scan
    // payload bytes via a hardcoded generate_series(1, 1024), and the
    // keyframe focus window via (1, 960) over pos ≤ floor(len/32)*32-64
    // — both exhaustive iff len ≤ 1024. If the documents table ever
    // ships text longer than that, the oracle would silently truncate
    // while the Spark build scans the full payload — a spurious
    // hash-red. Fail loudly here instead.
    val maxLen = Tables.t(spark, sf, "documents")
      .agg(max(length(col("text")))).head.getInt(0)
    assert(maxLen <= 1024,
      s"documents.text max length $maxLen exceeds the 1024 oracle scan cap; " +
        "raise the generate_series bounds in Multimodal oracles")
  }
}
