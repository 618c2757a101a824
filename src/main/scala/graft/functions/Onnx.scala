package graft.functions

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

/** Minimal ONNX model reader/writer + executor for the smoke-classifier
  * inference operators (mm_batch_infer, mm_conv_infer, mm_cnn2_infer
  * and their streaming twins, all through [[Onnx.Scorer]]).
  *
  * The reference runs a real ONNX image classifier through ONNX Runtime
  * (odin_onnx/src/lib.rs: `Session::builder()...commit_from_file`, run via
  * `ort::inputs!`). graft's dependencies include no ONNX Runtime JVM
  * binding, so the *execution engine* here is a small pure-JVM
  * interpreter — but the *model artifacts* are genuine ONNX files:
  * `src/main/resources/graft/smoke_{mlp,cnn,cnn2}.onnx` are standard
  * protobuf encoded against the public `onnx/onnx.proto` schema (field
  * numbers below are from that public definition) and load in stock
  * onnxruntime/netron unchanged. The parser reads the protobuf wire
  * format directly; the executor supports the MLP subset (Gemm, Relu,
  * MatMul, Add — Gemm: Y = alpha·A·B^T + beta·C under transB=1,
  * unidirectional broadcast of C), the conv-net subset (Conv, MaxPool,
  * AveragePool, GlobalAveragePool, Flatten) and the head/normalization
  * ops an exported classifier carries (BatchNormalization, Sigmoid,
  * Softmax, Concat), all with ONNX-spec semantics.
  *
  * All arithmetic is float32, as ONNX Runtime would compute for an f32
  * graph; executors and the driver-side oracle LUT run the identical JVM
  * code path, so logits are bit-identical across the plan.
  */
object Onnx {

  // ---------- model ----------

  final case class Tensor(dims: Seq[Int], data: Array[Float]) {
    require(dims.product == data.length,
      s"tensor dims ${dims.mkString("x")} != ${data.length} values")
  }

  final case class Node(
      opType: String,
      inputs: Seq[String],
      outputs: Seq[String],
      attrI: Map[String, Long] = Map.empty,
      attrF: Map[String, Float] = Map.empty,
      attrIs: Map[String, Seq[Long]] = Map.empty)

  final case class Model(
      irVersion: Long,
      opsetVersion: Long,
      producer: String,
      graphName: String,
      inputName: String,
      inputDims: Seq[Long], // -1 = symbolic batch dim
      outputName: String,
      outputDims: Seq[Long],
      nodes: Seq[Node],
      inits: Map[String, Tensor],
      initOrder: Seq[String])

  // ---------- protobuf wire-format primitives ----------

  private final class Reader(buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var v = 0L
      while ({
        val b = buf(pos); pos += 1
        v |= (b & 0x7FL) << shift; shift += 7
        (b & 0x80) != 0
      }) ()
      v
    }
    def fixed32(): Int = {
      val v = ByteBuffer.wrap(buf, pos, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
      pos += 4; v
    }
    def bytes(): (Int, Int) = { // (offset, length) view into buf
      val len = varint().toInt; val off = pos; pos += len; (off, len)
    }
    def string(): String = {
      val (off, len) = bytes(); new String(buf, off, len, "UTF-8")
    }
    def sub(): Reader = { val (off, len) = bytes(); new Reader(buf, off, off + len) }
    def raw: Array[Byte] = buf
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => val (_, _) = bytes()
      case 5 => pos += 4
      case t => throw new IllegalArgumentException(s"wire type $t unsupported")
    }
  }

  private final class Writer {
    private val out = new ByteArrayOutputStream()
    def result(): Array[Byte] = out.toByteArray
    def varint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7FL) != 0) { out.write(((x & 0x7F) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
    }
    def key(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    def i64(field: Int, v: Long): Unit = { key(field, 0); varint(v) }
    def f32(field: Int, v: Float): Unit = {
      key(field, 5)
      val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putFloat(v)
      out.write(b.array())
    }
    def bytes(field: Int, v: Array[Byte]): Unit = {
      key(field, 2); varint(v.length.toLong); out.write(v)
    }
    def str(field: Int, v: String): Unit = bytes(field, v.getBytes("UTF-8"))
    def msg(field: Int)(f: Writer => Unit): Unit = {
      val w = new Writer; f(w); bytes(field, w.result())
    }
    def packedF32(field: Int, vs: Array[Float]): Unit = {
      val b = ByteBuffer.allocate(4 * vs.length).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(b.putFloat); bytes(field, b.array())
    }
    def packedI64(field: Int, vs: Seq[Long]): Unit = {
      val w = new Writer; vs.foreach(w.varint); bytes(field, w.result())
    }
  }

  // ---------- decode (public onnx.proto field numbers) ----------

  /** Parse an ONNX ModelProto from bytes (subset: the fields an MLP
    * inference graph carries; unknown fields are skipped per protobuf
    * rules, so richer models still load as long as their ops are in the
    * executor's subset).
    */
  def parse(bytesIn: Array[Byte]): Model = {
    var irVersion = 0L; var opset = 0L; var producer = ""
    var graph: Reader = null
    val top = new Reader(bytesIn, 0, bytesIn.length)
    while (top.hasMore) {
      val k = top.varint(); val field = (k >> 3).toInt; val wire = (k & 7).toInt
      field match {
        case 1 => irVersion = top.varint() // ModelProto.ir_version
        case 2 => producer = top.string() // ModelProto.producer_name
        case 7 => graph = top.sub() // ModelProto.graph
        case 8 => // ModelProto.opset_import: OperatorSetIdProto{domain=1,version=2}
          val o = top.sub()
          while (o.hasMore) {
            val ok = o.varint()
            ((ok >> 3).toInt: @unchecked) match {
              case 2 => opset = o.varint()
              case _ => o.skip((ok & 7).toInt)
            }
          }
        case _ => top.skip(wire)
      }
    }
    require(graph != null, "ModelProto.graph missing")

    var graphName = ""
    var nodes = Vector.empty[Node]
    var inits = Map.empty[String, Tensor]
    var initOrder = Vector.empty[String]
    var inName = ""; var inDims = Seq.empty[Long]
    // all graph.input entries in order; the data input is resolved AFTER
    // the scan (graph.input may precede initializers in a legal file, and
    // pre-IR-4 exporters list initializers in graph.input too — deciding
    // per-entry against initializers-seen-so-far mis-detects both cases)
    var declIns = Vector.empty[(String, Seq[Long])]
    var outName = ""; var outDims = Seq.empty[Long]

    def parseValueInfo(r: Reader): (String, Seq[Long]) = {
      var nm = ""; var dims = Seq.empty[Long]
      while (r.hasMore) {
        val k = r.varint()
        ((k >> 3).toInt: @unchecked) match {
          case 1 => nm = r.string() // ValueInfoProto.name
          case 2 => // ValueInfoProto.type: TypeProto.tensor_type=1
            val t = r.sub()
            while (t.hasMore) {
              val tk = t.varint()
              if ((tk >> 3).toInt == 1) { // TypeProto.Tensor
                val tt = t.sub()
                while (tt.hasMore) {
                  val tk2 = tt.varint()
                  ((tk2 >> 3).toInt: @unchecked) match {
                    case 2 => // TensorShapeProto.shape → dim=1
                      val sh = tt.sub()
                      while (sh.hasMore) {
                        val sk = sh.varint()
                        if ((sk >> 3).toInt == 1) { // Dimension
                          val dm = sh.sub()
                          var dv = -1L
                          while (dm.hasMore) {
                            val dk = dm.varint()
                            ((dk >> 3).toInt: @unchecked) match {
                              case 1 => dv = dm.varint() // dim_value
                              case _ => dm.skip((dk & 7).toInt) // dim_param
                            }
                          }
                          dims = dims :+ dv
                        } else sh.skip((sk & 7).toInt)
                      }
                    case _ => tt.skip((tk2 & 7).toInt)
                  }
                }
              } else t.skip((tk & 7).toInt)
            }
          case _ => r.skip((k & 7).toInt)
        }
      }
      (nm, dims)
    }

    def parseTensor(r: Reader): (String, Tensor) = {
      var nm = ""; var dims = Vector.empty[Int]; var dt = 0L
      var data: Array[Float] = Array.emptyFloatArray
      while (r.hasMore) {
        val k = r.varint(); val field = (k >> 3).toInt; val wire = (k & 7).toInt
        field match {
          case 1 => // dims (packed or unpacked varints)
            if (wire == 2) {
              val p = r.sub()
              while (p.hasMore) dims = dims :+ p.varint().toInt
            } else dims = dims :+ r.varint().toInt
          case 2 => dt = r.varint() // data_type: 1 = FLOAT
          case 4 => // float_data (packed fixed32)
            val p = r.sub()
            val n = (p.end - p.pos) / 4
            data = Array.tabulate(n)(_ => java.lang.Float
              .intBitsToFloat(p.fixed32()))
          case 8 => nm = r.string() // name
          case 9 => // raw_data (little-endian f32)
            val (off, len) = r.bytes()
            val bb = ByteBuffer.wrap(r.raw, off, len)
              .order(ByteOrder.LITTLE_ENDIAN)
            data = Array.tabulate(len / 4)(_ => bb.getFloat())
          case _ => r.skip(wire)
        }
      }
      require(dt == 1L, s"tensor $nm: only FLOAT initializers supported, got $dt")
      (nm, Tensor(dims, data))
    }

    def parseNode(r: Reader): Node = {
      var op = ""; var ins = Vector.empty[String]; var outs = Vector.empty[String]
      var ai = Map.empty[String, Long]; var af = Map.empty[String, Float]
      var ais = Map.empty[String, Seq[Long]]
      while (r.hasMore) {
        val k = r.varint(); val field = (k >> 3).toInt; val wire = (k & 7).toInt
        field match {
          case 1 => ins = ins :+ r.string()
          case 2 => outs = outs :+ r.string()
          case 4 => op = r.string()
          case 5 => // AttributeProto{name=1, f=2, i=3, ints=8, type=20}
            val a = r.sub()
            var an = ""; var av = 0L; var afv = 0.0f; var at = 0L
            var avs = Vector.empty[Long]
            while (a.hasMore) {
              val ak = a.varint(); val aw = (ak & 7).toInt
              ((ak >> 3).toInt: @unchecked) match {
                case 1 => an = a.string()
                case 2 => afv = java.lang.Float.intBitsToFloat(a.fixed32())
                case 3 => av = a.varint()
                case 8 => // ints: packed (wire 2) or unpacked varints
                  if (aw == 2) {
                    val p = a.sub()
                    while (p.hasMore) avs = avs :+ p.varint()
                  } else avs = avs :+ a.varint()
                case 20 => at = a.varint()
                case _ => a.skip(aw)
              }
            }
            if (at == 1L) af += (an -> afv)
            else if (at == 7L || avs.nonEmpty) ais += (an -> avs)
            else ai += (an -> av)
          case _ => r.skip(wire)
        }
      }
      Node(op, ins, outs, ai, af, ais)
    }

    while (graph.hasMore) {
      val k = graph.varint(); val field = (k >> 3).toInt; val wire = (k & 7).toInt
      field match {
        case 1 => nodes = nodes :+ parseNode(graph.sub())
        case 2 => graphName = graph.string()
        case 5 =>
          val (nm, t) = parseTensor(graph.sub())
          inits += (nm -> t); initOrder = initOrder :+ nm
        case 11 =>
          val (nm, dims) = parseValueInfo(graph.sub())
          declIns = declIns :+ (nm -> dims)
        case 12 =>
          val (nm, dims) = parseValueInfo(graph.sub()); outName = nm; outDims = dims
        case _ => graph.skip(wire)
      }
    }
    declIns.find { case (nm, _) => !inits.contains(nm) }.foreach {
      case (nm, dims) => inName = nm; inDims = dims
    }
    Model(irVersion, opset, producer, graphName, inName, inDims, outName,
      outDims, nodes, inits, initOrder)
  }

  // ---------- encode ----------

  /** Serialize a Model back to ONNX protobuf bytes (used to generate the
    * committed fixture; the round-trip is spec-asserted).
    */
  def encode(m: Model): Array[Byte] = {
    val w = new Writer
    w.i64(1, m.irVersion)
    w.str(2, m.producer)
    w.msg(7) { g =>
      m.nodes.foreach { n =>
        g.msg(1) { nw =>
          n.inputs.foreach(nw.str(1, _))
          n.outputs.foreach(nw.str(2, _))
          nw.str(4, n.opType)
          // deterministic attr order: ints sorted, then floats sorted,
          // then int lists sorted
          n.attrI.toSeq.sortBy(_._1).foreach { case (an, av) =>
            nw.msg(5) { aw => aw.str(1, an); aw.i64(3, av); aw.i64(20, 2) }
          }
          n.attrF.toSeq.sortBy(_._1).foreach { case (an, av) =>
            nw.msg(5) { aw => aw.str(1, an); aw.f32(2, av); aw.i64(20, 1) }
          }
          n.attrIs.toSeq.sortBy(_._1).foreach { case (an, avs) =>
            nw.msg(5) { aw =>
              aw.str(1, an); aw.packedI64(8, avs); aw.i64(20, 7)
            }
          }
        }
      }
      g.str(2, m.graphName)
      m.initOrder.foreach { nm =>
        val t = m.inits(nm)
        g.msg(5) { tw =>
          t.dims.foreach(d => tw.i64(1, d.toLong))
          tw.i64(2, 1L) // FLOAT
          tw.packedF32(4, t.data)
          tw.str(8, nm)
        }
      }
      def valueInfo(field: Int, nm: String, dims: Seq[Long]): Unit =
        g.msg(field) { vw =>
          vw.str(1, nm)
          vw.msg(2) { tp =>
            tp.msg(1) { tt =>
              tt.i64(1, 1L) // elem_type FLOAT
              tt.msg(2) { sh =>
                dims.foreach { d =>
                  sh.msg(1) { dm =>
                    if (d >= 0) dm.i64(1, d) else dm.str(2, "N")
                  }
                }
              }
            }
          }
        }
      valueInfo(11, m.inputName, m.inputDims)
      valueInfo(12, m.outputName, m.outputDims)
    }
    w.msg(8) { o => o.str(1, ""); o.i64(2, m.opsetVersion) }
    w.result()
  }

  // ---------- executor ----------

  /** A shaped float32 value flowing through the graph. */
  private final case class V(dims: Array[Int], data: Array[Float])

  /** An inference session over a parsed model: topological (graph-order)
    * execution of the node list, float32 throughout. One Session is built
    * per classloader (see `smokeSession`) and reused across batches —
    * the same lifecycle odin_onnx gives its ort::Session.
    *
    * Executor op subset: Gemm, MatMul, Relu, Add (the MLP path); Conv
    * (2D, group=1, dilation=1, explicit pads), MaxPool and AveragePool
    * (2D, count_include_pad both ways), GlobalAveragePool, Flatten (the
    * vision path); and the head/normalization ops a real exported
    * classifier carries — Sigmoid, Softmax (last axis),
    * BatchNormalization (inference-mode per-channel fold), Concat
    * (any axis, N inputs). Values are N-D row-major tensors; Conv
    * follows the ONNX spec (NCHW input, [M,C,kH,kW] weights,
    * oH = (H + padT + padB − kH) / sH + 1), the pools ignore padded
    * cells, Flatten reshapes around its `axis`. Attribute lists are
    * length-checked and pads >= kernel rejected with op-context
    * messages (ADVICE r11) — malformed models fail loudly, never with
    * a bare IndexOutOfBounds or a propagated −inf.
    */
  final class Session(val model: Model) {
    private val hidden = model.inits

    /** Run the graph on a row-major batch (each row = one flattened
      * input tensor, reshaped per the model's declared input dims with
      * the symbolic batch dim bound to the batch length); returns the
      * output as [n, outSize] rows.
      */
    def run(batch: Array[Array[Float]]): Array[Array[Float]] = {
      if (batch.isEmpty) return Array.empty
      var vals: Map[String, V] =
        hidden.map { case (nm, t) => nm -> V(t.dims.toArray, t.data) }
      val n = batch.length
      val inDim = batch(0).length
      val declared = model.inputDims.map(_.toInt)
      val rest = declared.drop(1).filter(_ > 0)
      val inShape: Array[Int] =
        if (declared.nonEmpty && rest.product == inDim && rest.nonEmpty)
          (n +: rest).toArray
        else Array(n, inDim)
      val flat = new Array[Float](n * inDim)
      var i = 0
      while (i < n) { System.arraycopy(batch(i), 0, flat, i * inDim, inDim); i += 1 }
      vals += (model.inputName -> V(inShape, flat))

      def as2d(v: V, ctx: String): (Int, Int, Array[Float]) = v.dims match {
        case Array(a, b) => (a, b, v.data)
        case Array(a) => (1, a, v.data)
        case other => throw new IllegalArgumentException(
          s"$ctx: expected 2-D, got ${other.mkString("x")}")
      }

      def gemm(node: Node): V = {
        val (ar, ac, a) = as2d(vals(node.inputs(0)), s"Gemm ${node.outputs.head} A")
        val (br, bc, b) = as2d(vals(node.inputs(1)), s"Gemm ${node.outputs.head} B")
        val alpha = node.attrF.getOrElse("alpha", 1.0f)
        val beta = node.attrF.getOrElse("beta", 1.0f)
        val transB = node.attrI.getOrElse("transB", 0L) == 1L
        require(node.attrI.getOrElse("transA", 0L) == 0L, "transA unsupported")
        val (k, m) = if (transB) (bc, br) else (br, bc)
        require(ac == k, s"Gemm ${node.outputs.head}: inner dims $ac vs $k")
        val out = new Array[Float](ar * m)
        var r = 0
        while (r < ar) {
          var c = 0
          while (c < m) {
            var acc = 0.0f
            var j = 0
            while (j < k) {
              val bv = if (transB) b(c * k + j) else b(j * m + c)
              acc += a(r * ac + j) * bv
              j += 1
            }
            out(r * m + c) = alpha * acc
            c += 1
          }
          r += 1
        }
        if (node.inputs.length > 2) {
          val cv = vals(node.inputs(2))
          val (cr, cc, cd) = as2d(cv, s"Gemm ${node.outputs.head} C")
          require(cc == m || (cr == 1 && cd.length == m),
            s"Gemm bias shape ${cr}x$cc vs cols $m")
          var r2 = 0
          while (r2 < ar) {
            var c2 = 0
            while (c2 < m) {
              out(r2 * m + c2) += beta * cd(if (cd.length == m) c2
                else r2 * cc + c2)
              c2 += 1
            }
            r2 += 1
          }
        }
        V(Array(ar, m), out)
      }

      def conv(node: Node): V = {
        val x = vals(node.inputs(0))
        val w = vals(node.inputs(1))
        require(x.dims.length == 4, s"Conv ${node.outputs.head}: input must " +
          s"be NCHW, got ${x.dims.mkString("x")}")
        require(w.dims.length == 4, s"Conv ${node.outputs.head}: weights " +
          s"must be [M,C,kH,kW], got ${w.dims.mkString("x")}")
        require(node.attrI.getOrElse("group", 1L) == 1L,
          s"Conv ${node.outputs.head}: only group=1 supported")
        val dil = node.attrIs.getOrElse("dilations", Seq(1L, 1L))
        require(dil.forall(_ == 1L),
          s"Conv ${node.outputs.head}: only dilation=1 supported")
        val Array(nb, cIn, h, wd) = x.dims
        val Array(m, cW, kH, kW) = w.dims
        require(cW == cIn, s"Conv ${node.outputs.head}: channels $cIn vs $cW")
        val strides = node.attrIs.getOrElse("strides", Seq(1L, 1L)).map(_.toInt)
        val pads = node.attrIs.getOrElse("pads", Seq(0L, 0L, 0L, 0L)).map(_.toInt)
        // malformed attribute lists fail with an op-context message, not
        // an IndexOutOfBounds mid-loop (ADVICE r11)
        require(strides.length >= 2 && pads.length >= 4,
          s"Conv ${node.outputs.head}: strides needs 2 entries and pads 4," +
            s" got ${strides.length}/${pads.length}")
        val (sH, sW) = (strides(0), strides(1))
        val (pT, pL, pB, pR) = (pads(0), pads(1), pads(2), pads(3))
        require(pT < kH && pB < kH && pL < kW && pR < kW,
          s"Conv ${node.outputs.head}: pad >= kernel " +
            s"(${pads.mkString(",")} vs ${kH}x$kW) is outside the " +
            "supported subset")
        val oH = (h + pT + pB - kH) / sH + 1
        val oW = (wd + pL + pR - kW) / sW + 1
        val bias: Array[Float] =
          if (node.inputs.length > 2) {
            val b = vals(node.inputs(2))
            require(b.data.length == m,
              s"Conv ${node.outputs.head}: bias ${b.data.length} vs M $m")
            b.data
          } else new Array[Float](m)
        val out = new Array[Float](nb * m * oH * oW)
        var b0 = 0
        while (b0 < nb) {
          var f = 0
          while (f < m) {
            var oy = 0
            while (oy < oH) {
              var ox = 0
              while (ox < oW) {
                var acc = bias(f)
                var c = 0
                while (c < cIn) {
                  var ky = 0
                  while (ky < kH) {
                    val iy = oy * sH - pT + ky
                    if (iy >= 0 && iy < h) {
                      var kx = 0
                      while (kx < kW) {
                        val ix = ox * sW - pL + kx
                        if (ix >= 0 && ix < wd)
                          acc += x.data(((b0 * cIn + c) * h + iy) * wd + ix) *
                            w.data(((f * cIn + c) * kH + ky) * kW + kx)
                        kx += 1
                      }
                    }
                    ky += 1
                  }
                  c += 1
                }
                out(((b0 * m + f) * oH + oy) * oW + ox) = acc
                ox += 1
              }
              oy += 1
            }
            f += 1
          }
          b0 += 1
        }
        V(Array(nb, m, oH, oW), out)
      }

      def maxPool(node: Node): V = {
        val x = vals(node.inputs(0))
        require(x.dims.length == 4, s"MaxPool ${node.outputs.head}: input " +
          s"must be NCHW, got ${x.dims.mkString("x")}")
        val Array(nb, cIn, h, wd) = x.dims
        val kern = node.attrIs.getOrElse("kernel_shape",
          throw new IllegalArgumentException(
            s"MaxPool ${node.outputs.head}: kernel_shape required"))
          .map(_.toInt)
        val (kH, kW) = (kern(0), kern(1))
        val strides = node.attrIs.get("strides").map(_.map(_.toInt))
          .getOrElse(Seq(kH, kW))
        val pads = node.attrIs.getOrElse("pads", Seq(0L, 0L, 0L, 0L)).map(_.toInt)
        require(strides.length >= 2 && pads.length >= 4,
          s"MaxPool ${node.outputs.head}: strides needs 2 entries and pads " +
            s"4, got ${strides.length}/${pads.length}")
        val (sH, sW) = (strides(0), strides(1))
        val (pT, pL, pB, pR) = (pads(0), pads(1), pads(2), pads(3))
        // a window lying entirely in padding would emit -inf; the
        // supported subset requires pads < kernel so every window sees
        // at least one real cell (ADVICE r11)
        require(pT < kH && pB < kH && pL < kW && pR < kW,
          s"MaxPool ${node.outputs.head}: pad >= kernel " +
            s"(${pads.mkString(",")} vs ${kH}x$kW) is outside the " +
            "supported subset")
        val oH = (h + pT + pB - kH) / sH + 1
        val oW = (wd + pL + pR - kW) / sW + 1
        val out = new Array[Float](nb * cIn * oH * oW)
        var b0 = 0
        while (b0 < nb) {
          var c = 0
          while (c < cIn) {
            var oy = 0
            while (oy < oH) {
              var ox = 0
              while (ox < oW) {
                var mx = Float.NegativeInfinity
                var ky = 0
                while (ky < kH) {
                  val iy = oy * sH - pT + ky
                  if (iy >= 0 && iy < h) {
                    var kx = 0
                    while (kx < kW) {
                      val ix = ox * sW - pL + kx
                      if (ix >= 0 && ix < wd) {
                        val v = x.data(((b0 * cIn + c) * h + iy) * wd + ix)
                        if (v > mx) mx = v
                      }
                      kx += 1
                    }
                  }
                  ky += 1
                }
                out(((b0 * cIn + c) * oH + oy) * oW + ox) = mx
                ox += 1
              }
              oy += 1
            }
            c += 1
          }
          b0 += 1
        }
        V(Array(nb, cIn, oH, oW), out)
      }

      def avgPool(node: Node): V = {
        val x = vals(node.inputs(0))
        require(x.dims.length == 4, s"AveragePool ${node.outputs.head}: " +
          s"input must be NCHW, got ${x.dims.mkString("x")}")
        val Array(nb, cIn, h, wd) = x.dims
        val kern = node.attrIs.getOrElse("kernel_shape",
          throw new IllegalArgumentException(
            s"AveragePool ${node.outputs.head}: kernel_shape required"))
          .map(_.toInt)
        val (kH, kW) = (kern(0), kern(1))
        val strides = node.attrIs.get("strides").map(_.map(_.toInt))
          .getOrElse(Seq(kH, kW))
        val pads = node.attrIs.getOrElse("pads", Seq(0L, 0L, 0L, 0L)).map(_.toInt)
        require(strides.length >= 2 && pads.length >= 4,
          s"AveragePool ${node.outputs.head}: strides needs 2 entries and " +
            s"pads 4, got ${strides.length}/${pads.length}")
        val (sH, sW) = (strides(0), strides(1))
        val (pT, pL, pB, pR) = (pads(0), pads(1), pads(2), pads(3))
        require(pT < kH && pB < kH && pL < kW && pR < kW,
          s"AveragePool ${node.outputs.head}: pad >= kernel is outside " +
            "the supported subset")
        // count_include_pad=0 (default): divide by VALID cells only;
        // =1: divide by the full kernel area (padded cells count as 0)
        val incPad = node.attrI.getOrElse("count_include_pad", 0L) == 1L
        val oH = (h + pT + pB - kH) / sH + 1
        val oW = (wd + pL + pR - kW) / sW + 1
        val out = new Array[Float](nb * cIn * oH * oW)
        var b0 = 0
        while (b0 < nb) {
          var c = 0
          while (c < cIn) {
            var oy = 0
            while (oy < oH) {
              var ox = 0
              while (ox < oW) {
                var s = 0.0f; var cnt = 0
                var ky = 0
                while (ky < kH) {
                  val iy = oy * sH - pT + ky
                  if (iy >= 0 && iy < h) {
                    var kx = 0
                    while (kx < kW) {
                      val ix = ox * sW - pL + kx
                      if (ix >= 0 && ix < wd) {
                        s += x.data(((b0 * cIn + c) * h + iy) * wd + ix)
                        cnt += 1
                      }
                      kx += 1
                    }
                  }
                  ky += 1
                }
                out(((b0 * cIn + c) * oH + oy) * oW + ox) =
                  s / (if (incPad) kH * kW else cnt)
                ox += 1
              }
              oy += 1
            }
            c += 1
          }
          b0 += 1
        }
        V(Array(nb, cIn, oH, oW), out)
      }

      // inference-mode BatchNormalization: per-channel affine from the
      // recorded running stats — y = scale·(x−mean)/sqrt(var+eps) + B.
      // Inputs: X, scale[C], B[C], mean[C], var[C]; NCHW or [N,C].
      def batchNorm(node: Node): V = {
        val x = vals(node.inputs(0))
        require(node.inputs.length >= 5,
          s"BatchNormalization ${node.outputs.head}: needs X,scale,B,mean,var")
        val sc = vals(node.inputs(1)).data
        val bb = vals(node.inputs(2)).data
        val mu = vals(node.inputs(3)).data
        val vr = vals(node.inputs(4)).data
        val eps = node.attrF.getOrElse("epsilon", 1e-5f)
        val cC = if (x.dims.length >= 2) x.dims(1) else x.dims(0)
        require(sc.length == cC && bb.length == cC && mu.length == cC
          && vr.length == cC,
          s"BatchNormalization ${node.outputs.head}: param length vs C=$cC")
        // fold to one multiply-add per element: a = scale/sqrt(var+eps),
        // b = B − a·mean (the standard inference-time BN fold)
        val a = Array.tabulate(cC)(c =>
          sc(c) / math.sqrt(vr(c).toDouble + eps).toFloat)
        val b2 = Array.tabulate(cC)(c => bb(c) - a(c) * mu(c))
        val inner = if (x.dims.length > 2) x.dims.drop(2).product else 1
        val out = new Array[Float](x.data.length)
        var i2 = 0
        while (i2 < out.length) {
          val c = i2 / inner % cC
          out(i2) = a(c) * x.data(i2) + b2(c)
          i2 += 1
        }
        V(x.dims, out)
      }

      def softmax(node: Node): V = {
        val x = vals(node.inputs(0))
        val rank = x.dims.length
        val axisRaw = node.attrI.getOrElse("axis", -1L).toInt
        val axis = if (axisRaw < 0) rank + axisRaw else axisRaw
        require(axis == rank - 1,
          s"Softmax ${node.outputs.head}: only last-axis softmax in this " +
            s"subset (axis=$axisRaw, rank=$rank)")
        val inner = x.dims(rank - 1)
        val outer = x.data.length / inner
        val out = new Array[Float](x.data.length)
        var r = 0
        while (r < outer) {
          var mx = Float.NegativeInfinity
          var j = 0
          while (j < inner) {
            if (x.data(r * inner + j) > mx) mx = x.data(r * inner + j)
            j += 1
          }
          var s = 0.0f
          j = 0
          while (j < inner) {
            val e = math.exp((x.data(r * inner + j) - mx).toDouble).toFloat
            out(r * inner + j) = e; s += e
            j += 1
          }
          j = 0
          while (j < inner) { out(r * inner + j) /= s; j += 1 }
          r += 1
        }
        V(x.dims, out)
      }

      def concat(node: Node): V = {
        val parts = node.inputs.map(vals(_))
        val rank = parts.head.dims.length
        val axisRaw = node.attrI.getOrElse("axis",
          throw new IllegalArgumentException(
            s"Concat ${node.outputs.head}: axis required")).toInt
        val axis = if (axisRaw < 0) rank + axisRaw else axisRaw
        require(axis >= 0 && axis < rank,
          s"Concat ${node.outputs.head}: axis $axisRaw out of rank $rank")
        parts.foreach { p =>
          require(p.dims.length == rank && (0 until rank).forall(i2 =>
            i2 == axis || p.dims(i2) == parts.head.dims(i2)),
            s"Concat ${node.outputs.head}: shape mismatch " +
              parts.map(_.dims.mkString("x")).mkString(" vs "))
        }
        val outDims = parts.head.dims.clone()
        outDims(axis) = parts.map(_.dims(axis)).sum
        val lead = parts.head.dims.take(axis).product
        val trail = parts.head.dims.drop(axis + 1).product
        val out = new Array[Float](outDims.product)
        val rowLen = outDims(axis) * trail
        var l = 0
        while (l < lead) {
          var off = 0
          parts.foreach { p =>
            val seg = p.dims(axis) * trail
            System.arraycopy(p.data, l * seg, out, l * rowLen + off, seg)
            off += seg
          }
          l += 1
        }
        V(outDims, out)
      }

      model.nodes.foreach { node =>
        val res: V = node.opType match {
          case "Gemm" => gemm(node)
          case "MatMul" => gemm(node.copy(attrF = Map.empty, attrI = Map.empty,
            inputs = node.inputs.take(2)))
          case "Relu" =>
            val v = vals(node.inputs.head)
            V(v.dims, v.data.map(x => if (x > 0f) x else 0f))
          case "Add" =>
            val a = vals(node.inputs(0))
            val b = vals(node.inputs(1))
            val out =
              if (java.util.Arrays.equals(a.dims, b.dims))
                Array.tabulate(a.data.length)(i2 => a.data(i2) + b.data(i2))
              else if (a.dims.length == 4 && b.data.length == a.dims(1)) {
                // NCHW per-channel bias broadcast [C] / [1,C,1,1]
                val hw = a.dims(2) * a.dims(3)
                Array.tabulate(a.data.length)(i2 =>
                  a.data(i2) + b.data(i2 / hw % a.dims(1)))
              } else { // trailing-dim broadcast [1,c] over [r,c]
                val c = a.dims.last
                require(b.data.length == c,
                  s"Add broadcast ${b.dims.mkString("x")} vs ${a.dims.mkString("x")}")
                Array.tabulate(a.data.length)(i2 => a.data(i2) + b.data(i2 % c))
              }
            V(a.dims, out)
          case "Conv" => conv(node)
          case "MaxPool" => maxPool(node)
          case "AveragePool" => avgPool(node)
          case "GlobalAveragePool" =>
            val v = vals(node.inputs.head)
            require(v.dims.length == 4,
              s"GlobalAveragePool ${node.outputs.head}: input must be NCHW")
            val Array(nb, cC, h, wd) = v.dims
            val hw = h * wd
            val out = new Array[Float](nb * cC)
            var i2 = 0
            while (i2 < nb * cC) {
              var s = 0.0f
              var j = 0
              while (j < hw) { s += v.data(i2 * hw + j); j += 1 }
              out(i2) = s / hw
              i2 += 1
            }
            V(Array(nb, cC, 1, 1), out)
          case "Sigmoid" =>
            val v = vals(node.inputs.head)
            V(v.dims, v.data.map(x =>
              (1.0 / (1.0 + math.exp(-x.toDouble))).toFloat))
          case "Softmax" => softmax(node)
          case "Concat" => concat(node)
          case "BatchNormalization" => batchNorm(node)
          case "Flatten" =>
            val v = vals(node.inputs.head)
            val axis = node.attrI.getOrElse("axis", 1L).toInt
            val lead = v.dims.take(axis).product
            V(Array(lead, v.data.length / lead), v.data)
          case op => throw new UnsupportedOperationException(
            s"ONNX op $op not in executor subset (Gemm/MatMul/Relu/Add/" +
              "Conv/MaxPool/AveragePool/GlobalAveragePool/Sigmoid/Softmax/" +
              "Concat/BatchNormalization/Flatten)")
        }
        vals += (node.outputs.head -> res)
      }
      val o = vals(model.outputName)
      require(o.dims(0) == n, s"output rows ${o.dims(0)} != batch $n")
      val oc = o.data.length / n
      Array.tabulate(n)(r =>
        java.util.Arrays.copyOfRange(o.data, r * oc, (r + 1) * oc))
    }
  }

  // ---------- the smoke-classifier fixture ----------

  /** The deterministic 8→16→4 MLP committed as smoke_mlp.onnx: integer
    * weights from a fixed LCG-free formula (no RNG — reproducible from
    * source), layer1 Gemm(transB)+Relu, layer2 Gemm(transB). The 4 output
    * classes mirror the reference smoke classifier's label set
    * (odin_onnx configs: cloud/smoke/fire/none).
    */
  def fixtureModel: Model = {
    val w1 = Tensor(Seq(16, 8),
      Array.tabulate(16 * 8)(i => (((i * 37) % 11) - 5).toFloat / 8f))
    val b1 = Tensor(Seq(16), Array.tabulate(16)(i => ((i % 7) - 3).toFloat / 4f))
    val w2 = Tensor(Seq(4, 16),
      Array.tabulate(4 * 16)(i => (((i * 29) % 9) - 4).toFloat / 16f))
    val b2 = Tensor(Seq(4), Array.tabulate(4)(i => (i - 2).toFloat / 2f))
    Model(
      irVersion = 8L, opsetVersion = 13L, producer = "graft",
      graphName = "smoke_mlp",
      inputName = "x", inputDims = Seq(-1L, 8L),
      outputName = "logits", outputDims = Seq(-1L, 4L),
      nodes = Seq(
        Node("Gemm", Seq("x", "w1", "b1"), Seq("h1"),
          attrI = Map("transB" -> 1L),
          attrF = Map("alpha" -> 1.0f, "beta" -> 1.0f)),
        Node("Relu", Seq("h1"), Seq("r1")),
        Node("Gemm", Seq("r1", "w2", "b2"), Seq("logits"),
          attrI = Map("transB" -> 1L),
          attrF = Map("alpha" -> 1.0f, "beta" -> 1.0f))),
      inits = Map("w1" -> w1, "b1" -> b1, "w2" -> w2, "b2" -> b2),
      initOrder = Seq("w1", "b1", "w2", "b2"))
  }

  /** The deterministic conv smoke classifier committed as
    * smoke_cnn.onnx — the vision-model shape odin_onnx actually serves
    * (its configs load convolutional smoke/fire classifiers):
    * [N,1,8,8] grayscale → Conv(4@3×3, pad 1) → Relu → MaxPool 2×2 →
    * Conv(8@3×3, pad 1) → Relu → MaxPool 2×2 → Flatten →
    * Gemm(transB) → 4 logits (cloud/smoke/fire/none). Integer-derived
    * weights from fixed formulas — reproducible from source, no RNG.
    */
  def fixtureConvModel: Model = {
    val w1 = Tensor(Seq(4, 1, 3, 3),
      Array.tabulate(4 * 9)(i => (((i * 41) % 13) - 6).toFloat / 8f))
    val b1 = Tensor(Seq(4), Array.tabulate(4)(i => ((i % 3) - 1).toFloat / 4f))
    val w2 = Tensor(Seq(8, 4, 3, 3),
      Array.tabulate(8 * 4 * 9)(i => (((i * 23) % 15) - 7).toFloat / 16f))
    val b2 = Tensor(Seq(8), Array.tabulate(8)(i => ((i % 5) - 2).toFloat / 8f))
    val w3 = Tensor(Seq(4, 32),
      Array.tabulate(4 * 32)(i => (((i * 31) % 11) - 5).toFloat / 16f))
    val b3 = Tensor(Seq(4), Array.tabulate(4)(i => (i - 2).toFloat / 2f))
    Model(
      irVersion = 8L, opsetVersion = 13L, producer = "graft",
      graphName = "smoke_cnn",
      inputName = "img", inputDims = Seq(-1L, 1L, 8L, 8L),
      outputName = "logits", outputDims = Seq(-1L, 4L),
      nodes = Seq(
        Node("Conv", Seq("img", "w1", "b1"), Seq("c1"),
          attrI = Map("group" -> 1L),
          attrIs = Map("kernel_shape" -> Seq(3L, 3L),
            "strides" -> Seq(1L, 1L), "pads" -> Seq(1L, 1L, 1L, 1L),
            "dilations" -> Seq(1L, 1L))),
        Node("Relu", Seq("c1"), Seq("r1")),
        Node("MaxPool", Seq("r1"), Seq("p1"),
          attrIs = Map("kernel_shape" -> Seq(2L, 2L),
            "strides" -> Seq(2L, 2L))),
        Node("Conv", Seq("p1", "w2", "b2"), Seq("c2"),
          attrI = Map("group" -> 1L),
          attrIs = Map("kernel_shape" -> Seq(3L, 3L),
            "strides" -> Seq(1L, 1L), "pads" -> Seq(1L, 1L, 1L, 1L),
            "dilations" -> Seq(1L, 1L))),
        Node("Relu", Seq("c2"), Seq("r2")),
        Node("MaxPool", Seq("r2"), Seq("p2"),
          attrIs = Map("kernel_shape" -> Seq(2L, 2L),
            "strides" -> Seq(2L, 2L))),
        Node("Flatten", Seq("p2"), Seq("fl"), attrI = Map("axis" -> 1L)),
        Node("Gemm", Seq("fl", "w3", "b3"), Seq("logits"),
          attrI = Map("transB" -> 1L),
          attrF = Map("alpha" -> 1.0f, "beta" -> 1.0f))),
      inits = Map("w1" -> w1, "b1" -> b1, "w2" -> w2, "b2" -> b2,
        "w3" -> w3, "b3" -> b3),
      initOrder = Seq("w1", "b1", "w2", "b2", "w3", "b3"))
  }

  /** The extended conv classifier committed as smoke_cnn2.onnx — one
    * committed artifact that exercises EVERY op the executor supports
    * beyond the LeNet shape (r12: the first real exported model hits
    * AveragePool / GlobalAveragePool / Softmax / Sigmoid / Concat /
    * BatchNormalization immediately):
    * [N,1,8,8] → Conv(4@3×3 pad 1) → BatchNormalization → Relu →
    * AveragePool 2×2 → Conv(8@3×3 pad 1) → Sigmoid →
    * {GlobalAveragePool | MaxPool 4×4} → Flatten ×2 → Concat(axis 1) →
    * Gemm → Softmax → 4 calibrated class scores. Integer-derived
    * weights from fixed formulas — reproducible from source, no RNG.
    */
  def fixtureConvModel2: Model = {
    val w1 = Tensor(Seq(4, 1, 3, 3),
      Array.tabulate(4 * 9)(i => (((i * 41) % 13) - 6).toFloat / 8f))
    val b1 = Tensor(Seq(4), Array.tabulate(4)(i => ((i % 3) - 1).toFloat / 4f))
    val bnS = Tensor(Seq(4), Array.tabulate(4)(i => 1.0f + (i % 2) * 0.5f))
    val bnB = Tensor(Seq(4), Array.tabulate(4)(i => (i - 2).toFloat / 8f))
    val bnM = Tensor(Seq(4), Array.tabulate(4)(i => ((i % 3) - 1).toFloat / 16f))
    val bnV = Tensor(Seq(4), Array.tabulate(4)(i => 0.25f + (i % 2) * 0.75f))
    val w2 = Tensor(Seq(8, 4, 3, 3),
      Array.tabulate(8 * 4 * 9)(i => (((i * 23) % 15) - 7).toFloat / 16f))
    val b2 = Tensor(Seq(8), Array.tabulate(8)(i => ((i % 5) - 2).toFloat / 8f))
    val w3 = Tensor(Seq(4, 16),
      Array.tabulate(4 * 16)(i => (((i * 31) % 11) - 5).toFloat / 4f))
    val b3 = Tensor(Seq(4), Array.tabulate(4)(i => (i - 2).toFloat / 2f))
    Model(
      irVersion = 8L, opsetVersion = 13L, producer = "graft",
      graphName = "smoke_cnn2",
      inputName = "img", inputDims = Seq(-1L, 1L, 8L, 8L),
      outputName = "scores", outputDims = Seq(-1L, 4L),
      nodes = Seq(
        Node("Conv", Seq("img", "w1", "b1"), Seq("c1"),
          attrI = Map("group" -> 1L),
          attrIs = Map("kernel_shape" -> Seq(3L, 3L),
            "strides" -> Seq(1L, 1L), "pads" -> Seq(1L, 1L, 1L, 1L),
            "dilations" -> Seq(1L, 1L))),
        Node("BatchNormalization",
          Seq("c1", "bn_s", "bn_b", "bn_m", "bn_v"), Seq("bn"),
          attrF = Map("epsilon" -> 1e-5f)),
        Node("Relu", Seq("bn"), Seq("r1")),
        Node("AveragePool", Seq("r1"), Seq("ap"),
          attrIs = Map("kernel_shape" -> Seq(2L, 2L),
            "strides" -> Seq(2L, 2L))),
        Node("Conv", Seq("ap", "w2", "b2"), Seq("c2"),
          attrI = Map("group" -> 1L),
          attrIs = Map("kernel_shape" -> Seq(3L, 3L),
            "strides" -> Seq(1L, 1L), "pads" -> Seq(1L, 1L, 1L, 1L),
            "dilations" -> Seq(1L, 1L))),
        Node("Sigmoid", Seq("c2"), Seq("sg")),
        Node("GlobalAveragePool", Seq("sg"), Seq("ga")),
        Node("MaxPool", Seq("sg"), Seq("mp"),
          attrIs = Map("kernel_shape" -> Seq(4L, 4L),
            "strides" -> Seq(4L, 4L))),
        Node("Flatten", Seq("ga"), Seq("f1"), attrI = Map("axis" -> 1L)),
        Node("Flatten", Seq("mp"), Seq("f2"), attrI = Map("axis" -> 1L)),
        Node("Concat", Seq("f1", "f2"), Seq("cc"),
          attrI = Map("axis" -> 1L)),
        Node("Gemm", Seq("cc", "w3", "b3"), Seq("lg"),
          attrI = Map("transB" -> 1L),
          attrF = Map("alpha" -> 1.0f, "beta" -> 1.0f)),
        Node("Softmax", Seq("lg"), Seq("scores"),
          attrI = Map("axis" -> -1L))),
      inits = Map("w1" -> w1, "b1" -> b1, "bn_s" -> bnS, "bn_b" -> bnB,
        "bn_m" -> bnM, "bn_v" -> bnV, "w2" -> w2, "b2" -> b2,
        "w3" -> w3, "b3" -> b3),
      initOrder = Seq("w1", "b1", "bn_s", "bn_b", "bn_m", "bn_v",
        "w2", "b2", "w3", "b3"))
  }

  private def resourceSession(path: String): Session = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"resource $path missing")
    val bytes =
      try in.readAllBytes()
      finally in.close()
    new Session(parse(bytes))
  }

  /** Classloader-wide session over the committed fixture — loaded once
    * per executor JVM, shared by every batch (ort Session lifecycle).
    */
  lazy val smokeSession: Session = resourceSession("/graft/smoke_mlp.onnx")

  /** Classloader-wide session over the committed conv fixture. */
  lazy val cnnSession: Session = resourceSession("/graft/smoke_cnn.onnx")

  /** Classloader-wide session over the committed extended conv fixture
    * (BatchNorm/AveragePool/Sigmoid/GlobalAveragePool/Concat/Softmax).
    */
  lazy val cnn2Session: Session = resourceSession("/graft/smoke_cnn2.onnx")

  /** One committed image classifier, as every image-inference operator
    * scores with it: a decoded frame's model input (`inputOf`: the 8
    * feature stats or the 8×8 block-mean tile), a zero input of that
    * length for a frame that does not decode, and one batched session
    * run (f32 in, exact f64 widening out). mm_batch_infer, mm_conv_infer,
    * mm_cnn2_infer and their three streams score through it. Every op is
    * row-independent, so a batched run equals the per-row runs of the
    * driver-side oracle LUTs (`smokeLogits`, `smokeCnnLogits`,
    * `smokeCnn2Scores`), which name their sessions themselves.
    */
  sealed abstract class Scorer(inputLen: Int) extends Serializable {
    protected def inputOf(img: BufferedImage): Array[Double]
    protected def session: Session

    /** Encoded frames (PNG or JPEG) → one output row each, in one run. */
    def score(frames: scala.collection.Seq[Array[Byte]]): Array[Array[Double]] =
      session.run(frames.map { bytes =>
        val img = ImageCodec.decode(bytes)
        if (img == null) new Array[Float](inputLen)
        else inputOf(img).map(_.toFloat)
      }.toArray).map(_.map(_.toDouble))
  }

  object Scorer {
    /** smoke_mlp.onnx over the 8 feature stats → 4 logits. */
    case object Mlp extends Scorer(8) {
      protected def inputOf(img: BufferedImage) = ImageCodec.features(img)
      protected def session = smokeSession
    }
    /** smoke_cnn.onnx over the 8×8 tile → 4 logits. */
    case object Cnn extends Scorer(64) {
      protected def inputOf(img: BufferedImage) = ImageCodec.cnnTile8(img)
      protected def session = cnnSession
    }
    /** smoke_cnn2.onnx over the 8×8 tile → 4 calibrated (softmax) scores. */
    case object Cnn2 extends Scorer(64) {
      protected def inputOf(img: BufferedImage) = ImageCodec.cnnTile8(img)
      protected def session = cnn2Session
    }
  }

  /** The mm_cnn2_infer entry: 8×8 tile → calibrated class scores
    * (softmax output) as f64, identical on executors and in the
    * driver-side oracle LUT.
    */
  def smokeCnn2Scores(pixels: Array[Double]): Array[Double] =
    cnn2Session.run(Array(pixels.map(_.toFloat))).head.map(_.toDouble)

  /** The mm_conv_infer entry: an 8×8 grayscale tile (f64 in [0,1]) →
    * f32 NCHW input → conv-net logits back as f64 (exact widening),
    * identical on executors and in the driver-side oracle LUT.
    */
  def smokeCnnLogits(pixels: Array[Double]): Array[Double] =
    cnnSession.run(Array(pixels.map(_.toFloat))).head.map(_.toDouble)

  /** The mm_batch_infer entry: features (f64 stats) → f32 input → logits
    * back as f64 (exact widening), identical on executors and in the
    * driver-side oracle LUT.
    */
  def smokeLogits(features: Array[Double]): Array[Double] =
    smokeSession.run(Array(features.map(_.toFloat))).head.map(_.toDouble)
}
