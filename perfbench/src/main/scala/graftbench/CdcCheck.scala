package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Checks a CDC run's bus and claim-check blobs against the generator's
  * ground truth. Parsing uses Jackson, not graft's own JSON code.
  */
object CdcCheck {
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .enable(DeserializationFeature.USE_BIG_INTEGER_FOR_INTS)

  def parse(s: String): JsonNode = mapper.readTree(s)

  /** Structural equality: object key order ignored, numbers by value. */
  def jsonEq(a: JsonNode, b: JsonNode): Boolean =
    if (a.isNumber && b.isNumber) a.decimalValue.compareTo(b.decimalValue) == 0
    else if (a.isObject && b.isObject)
      a.size == b.size && a.fieldNames.asScala.forall(k => b.has(k) && jsonEq(a.get(k), b.get(k)))
    else if (a.isArray && b.isArray)
      a.size == b.size && (0 until a.size).forall(i => jsonEq(a.get(i), b.get(i)))
    else a.equals(b)

  final case class BusRow(source: String, detailType: String, detail: String, eventID: String)

  def readBus(spark: SparkSession, busDir: String): Seq[BusRow] =
    if (!Files.exists(Paths.get(busDir, "_spark_metadata"))) Seq.empty
    else spark.read.parquet(busDir).select("source", "detailType", "detail", "eventID")
      .collect().toSeq.map(r => BusRow(r.getString(0), r.getString(1), r.getString(2), r.getString(3)))

  /** Number of records (ground truth entries plus stray bus rows) that do
    * not match.
    */
  def mismatches(truth: Iterable[GenRecord], bus: Seq[BusRow], blobDir: String): Int = {
    val byId = bus.groupBy(_.eventID)
    val known = truth.iterator.map(_.eventID).toSet
    val stray = byId.keysIterator.count(id => !known.contains(id))
    val bad = truth.count { g =>
      val rows = byId.getOrElse(g.eventID, Nil)
      g.expect match {
        case Expect.Dropped | Expect.Suppressed => rows.nonEmpty
        case e: Expect.Emit => rows.size != 1 || !rowOk(rows.head, e, g.eventID, blobDir)
      }
    }
    bad + stray
  }

  private def rowOk(r: BusRow, e: Expect.Emit, id: String, blobDir: String): Boolean =
    try {
      val d = parse(r.detail)
      def field(k: String): Option[JsonNode] = Option(d.get(k)).filterNot(_.isNull)
      def sameJson(k: String, want: Option[String]): Boolean = (field(k), want) match {
        case (None, None) => true
        case (Some(got), Some(w)) => jsonEq(got, parse(w))
        case _ => false
      }
      val paths = d.get("attributesChanged").elements.asScala.map(_.asText).toVector.sorted
      val blobOk = (field("imagesUrl"), e.blob) match {
        case (None, None) => true
        case (Some(url), Some(want)) =>
          val path = Paths.get(blobDir, s"$id.json")
          url.asText == s"$blobDir/$id.json" && Files.exists(path) &&
            jsonEq(parse(new String(Files.readAllBytes(path), "UTF-8")), parse(want))
        case _ => false
      }
      r.source == CdcGen.Source && r.detailType == CdcGen.DetailType &&
        field("operation").map(_.asText).contains(e.op) &&
        field("pk").map(_.asText).contains(e.pk) &&
        paths == e.paths &&
        sameJson("newImage", e.inlineNew) && sameJson("oldImage", e.inlineOld) && blobOk
    } catch { case scala.util.control.NonFatal(_) => false }
}
