package graft.model

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory

/** The linear language-ID model artifact.
  *
  * Schema from `/root/reference/tools.py:102-108` (model_to_dict) and its
  * consumer `/root/reference/web/predict.js:2-7`:
  * {"features": [...], "classes": [...], "coef": [[...]], "intercept": [...]}
  * coef is n_classes x n_features. The model is a driver object, broadcast
  * to executors — never a table column.
  */
final case class LangIdModel(
    features: Array[String],
    classes: Array[String],
    coef: Array[Array[Double]],
    intercept: Array[Double],
) extends Serializable {
  require(coef.length == classes.length, "coef rows must equal classes")
  require(intercept.length == classes.length, "intercept must equal classes")
  require(coef.forall(_.length == features.length), "coef cols must equal features")

  def numClasses: Int = classes.length
  def numFeatures: Int = features.length

  /** M2: keep the first n features (model is importance-ordered first).
    * Ref behavior: `tools.py:88-99` (shrink_model). */
  def shrink(n: Int): LangIdModel =
    copy(features = features.take(n), coef = coef.map(_.take(n)))

  /** A7+O2: importance = mean(|coef|) per feature; reorder features/coef by
    * importance desc. Ref behavior: `train_model.py:34-51`. Ties broken by
    * original index (stable), matching numpy argsort. */
  def reorderByImportance: LangIdModel = {
    val nf = features.length
    val importance = new Array[Double](nf)
    var j = 0
    while (j < nf) {
      var s = 0.0; var i = 0
      while (i < coef.length) { s += math.abs(coef(i)(j)); i += 1 }
      importance(j) = s / coef.length
      j += 1
    }
    val order = (0 until nf).sortBy(j => (-importance(j), j)).toArray
    copy(
      features = order.map(features),
      coef = coef.map(row => order.map(row)),
    )
  }

  /** M1: round weights to d decimals (half-up away from zero, like numpy's
    * round-half-even? numpy uses banker's rounding; the reference's
    * np.round is half-even). Ref behavior: `tools.py:63-85`. */
  def rounded(decimals: Int): LangIdModel = {
    def r(v: Double): Double =
      BigDecimal(v).setScale(decimals, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    copy(coef = coef.map(_.map(r)), intercept = intercept.map(r))
  }

  /** Compact JSON, matching `json.dumps(separators=(",", ":"))` for the
    * model dict (`tools.py:119`): ints emitted without ".0" (compact_value,
    * `tools.py:55-60`). */
  def toCompactJson: String = {
    val f = JsonNodeFactory.instance
    val root = f.objectNode()
    val fa = root.putArray("features"); features.foreach(fa.add)
    val ca = root.putArray("classes"); classes.foreach(ca.add)
    val co = root.putArray("coef")
    coef.foreach { row =>
      val r = co.addArray()
      row.foreach(v => if (v.isWhole && math.abs(v) < 1e15) r.add(v.toLong) else r.add(v))
    }
    val ia = root.putArray("intercept")
    intercept.foreach(v => if (v.isWhole && math.abs(v) < 1e15) ia.add(v.toLong) else ia.add(v))
    LangIdModel.mapper.writeValueAsString(root)
  }

  /** M7: symmetric int8 quantization (ex17, `experiments/experiments.md:478-501`):
    * scale = max|coef| / 127 per model; returns (bytes, scale) where bytes
    * is the row-major int8 coef matrix + int8 intercepts. Dequantized
    * scoring error is bounded by scale/2 per active feature. */
  def quantizeInt8: (Array[Byte], Double) = {
    var maxAbs = 0.0
    coef.foreach(_.foreach(v => if (math.abs(v) > maxAbs) maxAbs = math.abs(v)))
    intercept.foreach(v => if (math.abs(v) > maxAbs) maxAbs = math.abs(v))
    val scale = if (maxAbs == 0) 1.0 else maxAbs / 127.0
    val out = new Array[Byte](numClasses * numFeatures + numClasses)
    var k = 0
    coef.foreach(_.foreach { v => out(k) = math.round(v / scale).toByte; k += 1 })
    intercept.foreach { v => out(k) = math.round(v / scale).toByte; k += 1 }
    (out, scale)
  }

  /** Reconstruct a model from int8-quantized bytes (lossy). */
  def dequantizeInt8(bytes: Array[Byte], scale: Double): LangIdModel = {
    val nc = numClasses; val nf = numFeatures
    val co = Array.tabulate(nc, nf)((i, j) => bytes(i * nf + j) * scale)
    val ic = Array.tabulate(nc)(i => bytes(nc * nf + i) * scale)
    copy(coef = co, intercept = ic)
  }

  /** S7: persist the compact JSON (driver-side, like `tools.py:124-135`). */
  def save(path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      toCompactJson.getBytes("UTF-8"))

  /** M3: gzipped size of the compact JSON in KB (`tools.py:111-121`). */
  def gzippedSizeKb: Double = {
    val bytes = toCompactJson.getBytes("UTF-8")
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.size() / 1024.0
  }
}

object LangIdModel {
  private[model] val mapper = new ObjectMapper()

  def fromJson(json: String): LangIdModel = {
    val n: JsonNode = mapper.readTree(json)
    def strings(field: String): Array[String] = {
      val arr = n.get(field)
      Array.tabulate(arr.size())(i => arr.get(i).asText())
    }
    def doubles(node: JsonNode): Array[Double] =
      Array.tabulate(node.size())(i => node.get(i).asDouble())
    val coefNode = n.get("coef")
    LangIdModel(
      features = strings("features"),
      classes = strings("classes"),
      coef = Array.tabulate(coefNode.size())(i => doubles(coefNode.get(i))),
      intercept = doubles(n.get("intercept")),
    )
  }
}
