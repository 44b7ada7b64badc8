package graft.sources

import org.apache.spark.sql.connector.read.streaming.{Offset => StreamingOffset}

/** Streaming offset = the set of files fully processed, as a single-line
  * JSON object `{path: length, ...}` sorted by path. Single-line is a HARD
  * requirement: Spark's OffsetSeqLog is line-oriented — one line per source —
  * so a newline inside an offset splits it into phantom sources on restart.
  * Files are immutable once written (the append pattern of stream archives;
  * in-place growth is not tracked).
  */
private[sources] case class CdcOffset(files: Map[String, Long]) extends StreamingOffset {
  override def json(): String =
    graft.attr.Json.JObj(
      files.toVector.sortBy(_._1).map { case (p, l) =>
        (p, graft.attr.Json.JNum(BigDecimal(l)))
      }).print
}

private[sources] object CdcOffset {
  def fromJson(s: String): CdcOffset =
    if (s.isEmpty) CdcOffset(Map.empty)
    else graft.attr.JsonParser.parse(s) match {
      case o: graft.attr.Json.JObj =>
        CdcOffset(o.fields.map {
          case (p, graft.attr.Json.JNum(n)) => (p, n.toLong)
          case (p, other) => throw new IllegalArgumentException(
            s"malformed CdcOffset entry $p -> $other")
        }.toMap)
      case other => throw new IllegalArgumentException(s"malformed CdcOffset: $other")
    }
}
