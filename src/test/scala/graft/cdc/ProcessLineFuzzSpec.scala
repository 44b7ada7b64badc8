package graft.cdc

import scala.util.Try

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.attr.AttrCodec
import graft.diff.DiffPropSpec

/** Fuzz the fused per-record path (OP-3 error isolation as a LAW): for ANY
  * input line — random garbage, truncated JSON, JSON of the wrong shape,
  * near-miss stream records — `processLine` must return (not throw), because
  * at 100 TB a single poison record that throws kills a task and, after
  * retries, the job. And the DIFFERENTIAL law: on any line, `processLine`
  * publishes byte-for-byte what the record path (`parseRecord` → pk text
  * through `CdcSource.pkText` → `processSafe`, the path GoldenSpec pins)
  * publishes, under every `pkFilters` and `strictCompat` setting.
  */
object ProcessLineFuzzSpec extends Properties("RecordProcessor.processLine") {

  private val cfg = CdcConfig(eventSource = "fuzz", blobDir = "/tmp/fuzz-blobs")

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(500)
  private val rules = PkFilter.compile(Seq("USER#*"))

  private val genGarbage: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.chooseNum(0, 255)).map(_.map(_.toChar).mkString),
    Gen.const(""),
    Gen.const("{"),
    Gen.const("""{"eventID":"""),
    Gen.const("null"),
    Gen.const("[1,2,3]"))

  private val genNearMiss: Gen[String] = for {
    id <- Gen.alphaNumStr.map(_.take(6))
    op <- Gen.oneOf("INSERT", "MODIFY", "REMOVE", "", "BOGUS")
    size <- Gen.oneOf("1", "0", "-5", "99999999999999999999", "\"big\"", "null")
    keys <- Gen.oneOf(
      """{"pk":{"S":"USER#1"}}""",
      """{"pk":{"N":"7"}}""",
      """{"pk":"unwrapped"}""",
      """{"pk":{"X":"badtag"}}""",
      "null", "[]")
    img <- Gen.oneOf(
      """{"a":{"N":"1"}}""",
      """{"a":{"N":"not-a-number"}}""",
      """{"a":{"L":[{"S":"x"},{"BAD":1}]}}""",
      "{}", "null")
  } yield s"""{"eventID":"$id","eventName":"$op","dynamodb":{"SizeBytes":$size,"Keys":$keys,"NewImage":$img}}"""

  property("never throws on garbage") = forAll(genGarbage) { line =>
    RecordProcessor.processLine(line, cfg, rules)
    true
  }

  property("never throws on near-miss records") = forAll(genNearMiss) { line =>
    RecordProcessor.processLine(line, cfg, rules)
    true
  }

  /** One stream record assembled from optional raw-JSON fields: DiffPropSpec
    * items as images (sometimes identical, for suppression), the near-miss
    * values above, and pks of every tag the filters see differently.
    */
  private val genRecord: Gen[String] = {
    def field(name: String, g: Gen[String]): Gen[Option[String]] =
      Gen.frequency(1 -> Gen.const(None), 6 -> g.map(v => Some(s""""$name":$v""")))
    def obj(fields: Seq[Option[String]]): String = fields.flatten.mkString("{", ",", "}")
    val genImage: Gen[String] = Gen.frequency(
      6 -> DiffPropSpec.genItem.map(m => AttrCodec.marshallItem(m).print),
      1 -> Gen.oneOf("""{"a":{"N":"not-a-number"}}""", """{"a":{"L":[{"S":"x"},{"BAD":1}]}}""",
        """{"r":{"SS":["b","a"]},"n":{"NS":["2","1.0"]}}""", "{}", "null"))
    val genPk: Gen[String] = Gen.oneOf(
      Gen.chooseNum(0, 3).map(n => s"""{"S":"USER#$n"}"""),
      Gen.oneOf("""{"S":"ORG#1"}""", """{"S":"A\"B"}""", "{\"S\":\"USER#\\u0041\"}",
        """{"N":"7"}""", """{"N":"7.0"}""", """{"N":"70"}""", """{"N":"-7"}""",
        """{"SS":["USER#2","USER#1"]}""", """{"NS":["7"]}""", """{"BOOL":true}""",
        """{"NULL":true}""", """{"B":"AQID"}""", """"USER#1"""", """{"X":"badtag"}"""))
    val genKeys: Gen[String] = Gen.frequency(
      8 -> (for { pk <- genPk; sk <- field("sk", Gen.const("""{"S":"A"}""")) }
        yield obj(Seq(Some(s""""pk":$pk"""), sk))),
      1 -> Gen.oneOf("""{"sk":{"S":"USER#1"}}""", "{}", "null", "[]"))
    val genDdb: Gen[String] = for {
      size <- field("SizeBytes", Gen.oneOf("50", "0", "65535", "65536", "200000", "-5",
        "99999999999999999999", "1.5", "\"big\"", "null"))
      keys <- field("Keys", genKeys)
      img <- genImage
      same <- Gen.frequency(1 -> true, 3 -> false)
      other <- genImage
      newImg <- field("NewImage", Gen.const(img))
      oldImg <- field("OldImage", Gen.const(if (same) img else other))
      ddb <- Gen.frequency(8 -> Gen.const(obj(Seq(size, keys, newImg, oldImg))),
        1 -> Gen.oneOf("{}", "null", "[]"))
    } yield ddb
    for {
      id <- field("eventID", Gen.oneOf(Gen.const("\"\""), Gen.const("\"id/../x y\""),
        Gen.alphaNumStr.map(s => "\"e-" + s.take(6) + "\"")))
      op <- field("eventName", Gen.oneOf("INSERT", "MODIFY", "REMOVE", "", "BOGUS").map("\"" + _ + "\""))
      ddb <- field("dynamodb", genDdb)
    } yield obj(Seq(id, op, ddb))
  }

  private val settings: Seq[(CdcConfig, Seq[PkFilter.Rule])] = for {
    // "{}" is what every set-typed pk prints as (a JS Set stringifies to {})
    patterns <- Seq(Nil, Seq("USER#*"), Seq("7"), Seq("{}"))
    strict <- Seq(false, true)
  } yield (cfg.copy(pkFilters = patterns, strictCompat = strict), PkFilter.compile(patterns))

  /** What a record publishes: the bus detail, and the blob key and body. */
  private def published(p: Option[RecordProcessor.Processed], c: CdcConfig) =
    p.map(r => (RecordProcessor.toBusEvent(r.event, c), r.blob))

  /** The record path `CdcPipeline.stream` ran before it read lines: the
    * source parsed the record and dropped it on malformed `Keys` or a pk
    * outside the filter, then `processSafe` ran the record program.
    */
  private def recordPath(line: String, c: CdcConfig, rules: Seq[PkFilter.Rule]) =
    Try(RecordProcessor.parseRecord(line).filter { r =>
      val pk = r.dynamodb.flatMap(_.Keys).flatMap(graft.sources.CdcSource.pkText)
      rules.isEmpty || pk.exists(PkFilter.matches(_, rules))
    }).toOption.flatten.flatMap(RecordProcessor.processSafe(_, c))

  property("processLine publishes what the record path publishes") =
    forAll(Gen.frequency(12 -> genRecord, 1 -> genNearMiss, 1 -> genGarbage)) { line =>
      settings.forall { case (c, rules) =>
        published(RecordProcessor.processLine(line, c, rules), c) ==
          published(recordPath(line, c, rules), c)
      } :| line
    }

  property("valid record parses regardless of surrounding fuzz runs") =
    forAll(Gen.chooseNum(1, 1000)) { n =>
      val line =
        s"""{"eventID":"e-$n","eventName":"INSERT","dynamodb":{"SizeBytes":50,""" +
          s""""Keys":{"pk":{"S":"USER#$n"}},"NewImage":{"pk":{"S":"USER#$n"},"v":{"N":"$n"}}}}"""
      RecordProcessor.processLine(line, cfg, rules).exists(_.event.operation == "INSERT")
    }
}
