package graft.cdc

import scala.util.{Failure, Success, Try}

import graft.attr.{AttrCodec, AttrVal, Json, JsonParser, JsonPrinter}
import graft.attr.AttrVal.MVal
import graft.diff.Diff

/** The per-record data-plane program (OP-3..OP-10), a pure behavioral port of
  * `processDynamoDBRecord` at
  * `/root/reference/lib/lambda/dynamo-stream-handler.ts:89-178`:
  *
  *  1. validity guards — drop records missing `eventName` / `eventID` /
  *     `dynamodb` (`:92-97`);
  *  2. unmarshall `Keys` / `NewImage` / `OldImage` (`:101-110`);
  *  3. recursive diff (`:112-116` → [[graft.diff.Diff]]);
  *  4. envelope (`:118-125`);
  *  5. no-op MODIFY suppression — AFTER the diff (`:126-128`);
  *  6. claim-check routing at `sizeThreshold` (`:130-166`): small → inline
  *     `newImage` always + `oldImage` only for REMOVE (`:135-138`); large OR
  *     missing/zero `SizeBytes` (the `size &&` falsiness quirk Q5, `:134`) →
  *     blob `{oldImage,newImage}` + `imagesUrl`.
  *
  * Pure (no I/O): blob content is RETURNED for the sink layer to write, which
  * is what makes the operator distributable — Spark tasks call this in a
  * typed `map` and the `foreachBatch` sink performs the writes.
  */
object RecordProcessor {

  /** Outcome of one record: the event to publish plus an optional blob to
    * write. `None` = dropped (invalid or suppressed), mirroring the early
    * `return`s.
    */
  final case class Processed(event: ItemChanged, blob: Option[BlobPayload])

  def process(rec: CdcRecord, cfg: CdcConfig): Option[Processed] =
    (rec.eventName.filter(_.nonEmpty), rec.eventID.filter(_.nonEmpty), rec.dynamodb) match {
      case (Some(operation), Some(eventID), Some(ddb)) =>
        processValid(operation, eventID, ddb, cfg)
      case _ => None // validity guards, `dynamo-stream-handler.ts:92-97`
    }

  private def processValid(
      operation: String,
      eventID: String,
      ddb: CdcStreamPart,
      cfg: CdcConfig): Option[Processed] = {
    def unm(raw: Option[String]): Option[MVal] =
      raw.map(s => normalize(AttrCodec.unmarshallItem(s), cfg))
    processImages(operation, eventID, ddb.SizeBytes,
      unm(ddb.Keys), unm(ddb.NewImage), unm(ddb.OldImage), cfg)
  }

  private def normalize(m: MVal, cfg: CdcConfig): MVal =
    if (cfg.strictCompat) m
    else AttrVal.normalizeSets(m) match { case mm: MVal => mm; case _ => m }

  /** The post-unmarshall record program (diff → envelope → suppression →
    * claim-check). Fused callers (already holding [[MVal]] images) enter
    * here directly — no serialize/re-parse between pipeline stages.
    */
  def processImages(
      operation: String,
      eventID: String,
      size: Option[Long],
      keys: Option[MVal],
      newImage: Option[MVal],
      oldImage: Option[MVal],
      cfg: CdcConfig): Option[Processed] = {
    val d = Diff.diffImages(newImage, oldImage)

    if (operation == "MODIFY" && d.attributesChanged.isEmpty) return None

    def keyVal(k: String): Option[AttrVal] = keys.flatMap(_.get(k))
    def keyStr(k: String): Option[String] = keyVal(k).map(keyText)
    // JSON encoding of the raw key value (strings quoted, numbers bare) —
    // what JSON.stringify sees for the untyped `keys?.pk` assignment
    def keyJson(k: String): Option[String] = keyVal(k).map(AttrVal.printJson)

    val small = size.exists(s => s != 0L && s < cfg.sizeThreshold)
    val inlineNew = if (small) newImage.map(AttrVal.printJson) else None
    val inlineOld =
      if (small && operation == "REMOVE") oldImage.map(AttrVal.printJson) else None
    val (imagesUrl, blob) =
      if (small) (None, None)
      else {
        // JSON.stringify({oldImage, newImage}) omits absent fields (`:140-143`)
        val fields = Vector.newBuilder[(String, Json)]
        oldImage.foreach(m => fields += (("oldImage", AttrVal.toJson(m))))
        newImage.foreach(m => fields += (("newImage", AttrVal.toJson(m))))
        val body = Json.JObj(fields.result()).print
        (Some(cfg.imagesUrl(eventID)), Some(BlobPayload(cfg.blobKey(eventID), body)))
      }

    val event = ItemChanged(
      operation = operation,
      pk = keyStr("pk"),
      sk = keyStr("sk"),
      attributesChanged = d.attributesChanged,
      before = AttrVal.printJson(d.before),
      after = AttrVal.printJson(d.after),
      newImage = inlineNew,
      oldImage = inlineOld,
      imagesUrl = imagesUrl,
      eventID = eventID,
      pkJson = keyJson("pk"),
      skJson = keyJson("sk"))
    Some(Processed(event, blob))
  }

  /** A key's display text, which pk filters match: an S value raw, any
    * other tag as its JSON text.
    */
  def keyText(v: AttrVal): String = v match {
    case AttrVal.SVal(s) => s
    case other           => AttrVal.printJson(other)
  }

  /** Error-isolated variant (OP-3): malformed records are logged-and-dropped
    * like the reference's per-record `try/catch`
    * (`dynamo-stream-handler.ts:20-25`), not task-failing.
    */
  def processSafe(rec: CdcRecord, cfg: CdcConfig): Option[Processed] =
    Try(process(rec, cfg)) match {
      case Success(r) => r
      case Failure(_) => None
    }

  /** Fused line path: parse ONCE, unmarshall straight from the JSON tree,
    * evaluate the pk filter on the parsed keys, and run the record program
    * with no intermediate image strings. Every line input (batch, backfill,
    * Kafka, and the `graft-cdc` line source under `CdcPipeline.stream`)
    * enters here, so this is the exact pk authority: the pk text is the
    * un-normalized pk (an S-typed pk raw, other tags as their JSON text, as
    * `parseRecord` → `CdcSource.pkText` reads it), and a record without a pk
    * fails any filter. Events are byte-equal to [[parseRecord]] →
    * [[processSafe]] (ProcessLineFuzzSpec's differential property).
    */
  def processLine(line: String, cfg: CdcConfig, rules: Seq[PkFilter.Rule]): Option[Processed] =
    Try {
      JsonParser.parseOpt(line).collect { case o: Json.JObj => o }.flatMap { o =>
        (o.asMap.get("eventName").collect { case Json.JStr(s) if s.nonEmpty => s },
          o.asMap.get("eventID").collect { case Json.JStr(s) if s.nonEmpty => s },
          o.asMap.get("dynamodb").collect { case d: Json.JObj => d }) match {
          case (Some(op), Some(id), Some(ddb)) =>
            def unm(field: String): Option[MVal] =
              ddb.asMap.get(field).map(j => normalize(AttrCodec.unmarshallItem(j), cfg))
            val keys = ddb.asMap.get("Keys").map(j => AttrCodec.unmarshallItem(j))
            val pkOk = rules.isEmpty ||
              keys.flatMap(_.get("pk")).map(keyText).exists(PkFilter.matches(_, rules))
            if (!pkOk) None
            else {
              val size = ddb.asMap.get("SizeBytes").collect { case Json.JNum(n) => n.toLong }
              processImages(op, id, size, keys.map(normalize(_, cfg)),
                unm("NewImage"), unm("OldImage"), cfg)
            }
          case _ => None
        }
      }
    }.toOption.flatten

  /** Parse one raw stream-record JSON line (FIXTURES.md §A1 shape) into a
    * [[CdcRecord]], keeping image subtrees as raw JSON strings.
    */
  def parseRecord(line: String): Option[CdcRecord] =
    JsonParser.parseOpt(line).collect { case o: Json.JObj =>
      val eventID = o.asMap.get("eventID").collect { case Json.JStr(s) => s }
      val eventName = o.asMap.get("eventName").collect { case Json.JStr(s) => s }
      val ddb = o.asMap.get("dynamodb").collect { case d: Json.JObj =>
        CdcStreamPart(
          SizeBytes = d.asMap.get("SizeBytes").collect { case Json.JNum(n) => n.toLong },
          Keys = d.asMap.get("Keys").map(_.print),
          NewImage = d.asMap.get("NewImage").map(_.print),
          OldImage = d.asMap.get("OldImage").map(_.print))
      }
      CdcRecord(eventID, eventName, ddb)
    }

  /** Bus-row construction (OP-13): `Detail` is the JSON of the event with JS
    * field insertion order — `after, attributesChanged, before, operation,
    * pk, sk[, oldImage][, newImage][, imagesUrl]` — and absent optionals
    * omitted, matching `JSON.stringify(itemChange)`
    * (`dynamo-stream-handler.ts:118-125,135-138,165,173`).
    *
    * r22 hot-path form (guide §1.2 per-task work): the event's JSON-valued
    * fields (`before`/`after`, key JSON, inline images) are ALWAYS produced
    * by [[AttrVal.printJson]] / [[Json.print]] upstream, and that printer is
    * canonical — `print(parse(s)) == s` for its own output (fields already
    * in JS key order, numbers already normalized, strings already escaped;
    * pinned by RecordProcessorSpec's splice-equivalence test). So the detail
    * frame is assembled by SPLICING those strings directly instead of
    * re-parsing every image into a [[Json]] tree and re-printing it — the
    * parse/re-print round-trip was the bus map's dominant per-record cost
    * (the inline `newImage` rides every small event). Byte-identical output
    * for canonical inputs; a NON-canonical JSON string (impossible from the
    * record program; conceivable only from a hand-built custom-transform
    * event) is now spliced as-is rather than re-normalized.
    */
  def toBusEvent(e: ItemChanged, cfg: CdcConfig): BusEvent = {
    val sb = new StringBuilder(96 + e.before.length + e.after.length +
      e.newImage.fold(0)(_.length) + e.oldImage.fold(0)(_.length))
    sb.append("{\"after\":").append(e.after)
    sb.append(",\"attributesChanged\":[")
    var first = true
    e.attributesChanged.foreach { p =>
      if (!first) sb.append(','); first = false
      JsonPrinter.escape(p, sb)
    }
    sb.append("],\"before\":").append(e.before)
    sb.append(",\"operation\":")
    JsonPrinter.escape(e.operation, sb)
    // raw JSON key values: a number-typed pk rides as `"pk":5`, not `"pk":"5"`
    // (reference assigns the untyped unmarshalled value). Fall back to the
    // display string for events built without key JSON (custom transforms).
    def key(name: String, json: Option[String], display: Option[String]): Unit =
      json match {
        case Some(j) => sb.append(",\"").append(name).append("\":").append(j)
        case None => display.foreach { s =>
          sb.append(",\"").append(name).append("\":"); JsonPrinter.escape(s, sb)
        }
      }
    key("pk", e.pkJson, e.pk)
    key("sk", e.skJson, e.sk)
    e.oldImage.foreach(v => sb.append(",\"oldImage\":").append(v))
    e.newImage.foreach(v => sb.append(",\"newImage\":").append(v))
    e.imagesUrl.foreach { v =>
      sb.append(",\"imagesUrl\":"); JsonPrinter.escape(v, sb)
    }
    sb.append('}')
    BusEvent(cfg.eventSource, CdcConfig.DetailType, sb.toString, e.eventID)
  }
}
