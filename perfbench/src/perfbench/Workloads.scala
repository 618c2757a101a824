package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** One workload of `workloads.json`. Batch workloads list queries by their
  * `SparkEntry.queries` name; the stream workload lists monitors. A pass
  * runs every member once, in an order drawn from the seed.
  *
  * @param minPasses timed passes every run makes, however long they take;
  *                  the tail percentile is fixed from the samples they give
  * @param batchRows events per micro-batch (stream)
  */
final case class Workload(name: String, kind: String, members: Seq[String],
    minPasses: Int, batchRows: Int) {
  def isStream: Boolean = kind == "stream"
}

object Workloads {
  def load(path: Path): Map[String, Workload] = {
    implicit val formats: Formats = DefaultFormats
    val js = JsonMethods.parse(
      new String(Files.readAllBytes(path), StandardCharsets.UTF_8))
    js.asInstanceOf[JObject].obj.map { case (name, w) =>
      val kind = (w \ "kind").extract[String]
      name -> Workload(name, kind,
        (w \ (if (kind == "stream") "monitors" else "queries")).extract[Seq[String]],
        (w \ "min_passes").extract[Int],
        (w \ "batch_rows").extractOpt[Int].getOrElse(0))
    }.toMap
  }
}
