package graft.cdc

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** End-to-end Structured Streaming pipeline: stream-record JSON lines →
  * bus parquet + claim-check blobs, with error isolation, suppression,
  * Q5/Q6 routing, and exactly-once restart (SURVEY.md §5.2 item 3).
  */
class CdcStreamSpec extends SparkSuite {

  private def run(lines: Seq[String], cfg: CdcConfig => CdcConfig = identity): (Seq[BusEvent], Seq[String], String) = {
    val base = Files.createTempDirectory("graft-stream-spec").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/batch.json"), lines.mkString("\n").getBytes)
    val c = cfg(CdcConfig(eventSource = "spec", blobDir = s"$base/blobs"))
    val q = CdcPipeline.stream(spark, in, s"$base/bus", s"$base/ckpt", c).start()
    q.awaitTermination()
    import spark.implicits._
    val bus = spark.read.parquet(s"$base/bus").as[BusEvent].collect().toSeq.sortBy(_.eventID)
    val blobDir = new java.io.File(s"$base/blobs")
    val blobs = Option(blobDir.listFiles()).map(_.map(_.getName).toSeq.sorted).getOrElse(Nil)
    (bus, blobs, base)
  }

  private val small =
    """{"eventID":"s-1","eventName":"INSERT","dynamodb":{"SizeBytes":100,"Keys":{"pk":{"S":"U#1"},"sk":{"S":"A"}},"NewImage":{"pk":{"S":"U#1"},"sk":{"S":"A"},"x":{"N":"1"}}}}"""
  private val noop =
    """{"eventID":"s-2","eventName":"MODIFY","dynamodb":{"SizeBytes":90,"Keys":{"pk":{"S":"U#1"}},"OldImage":{"pk":{"S":"U#1"},"x":{"N":"1"}},"NewImage":{"pk":{"S":"U#1"},"x":{"N":"1"}}}}"""
  private val bigRemove =
    """{"eventID":"s-3","eventName":"REMOVE","dynamodb":{"SizeBytes":200000,"Keys":{"pk":{"S":"U#2"},"sk":{"S":"B"}},"OldImage":{"pk":{"S":"U#2"},"sk":{"S":"B"},"v":{"S":"big"}}}}"""

  test("stream: emit, suppress, claim-check, error isolation") {
    val (bus, blobs, base) = run(Seq(small, noop, bigRemove, "not json", """{"eventName":"INSERT"}"""))
    assert(bus.map(_.eventID) == Seq("s-1", "s-3")) // s-2 suppressed, garbage dropped
    assert(bus.forall(b => b.source == "spec" && b.detailType == "dynamo.item.changed"))
    assert(bus.head.detail.contains(""""newImage":{"pk":"U#1","sk":"A","x":1}"""))
    val rem = bus(1)
    assert(rem.detail.contains(""""imagesUrl":""") && !rem.detail.contains(""""newImage""""))
    assert(blobs == Seq("s-3.json"))
    val body = new String(Files.readAllBytes(Paths.get(s"$base/blobs/s-3.json")))
    assert(body == """{"oldImage":{"pk":"U#2","sk":"B","v":"big"}}""")
  }

  test("stream: restart on same checkpoint emits nothing new (exactly-once)") {
    val base = Files.createTempDirectory("graft-stream-spec2").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/b1.json"), small.getBytes)
    val c = CdcConfig(eventSource = "spec", blobDir = s"$base/blobs")
    CdcPipeline.stream(spark, in, s"$base/bus", s"$base/ckpt", c).start().awaitTermination()
    CdcPipeline.stream(spark, in, s"$base/bus", s"$base/ckpt", c).start().awaitTermination()
    assert(spark.read.parquet(s"$base/bus").count() == 1)
  }

  test("stream: present-but-empty dynamodb emits, like the fused batch path (reference truthy-{} quirk)") {
    val emptyDdb =
      """{"eventID":"s-e","eventName":"INSERT","dynamodb":{}}"""
    val noDdb =
      """{"eventID":"s-n","eventName":"INSERT"}"""
    // fused batch path: {} passes the validity guard (truthy), absent drops
    val cfg = CdcConfig(eventSource = "spec", blobDir = "/tmp/unused-blobs-empty")
    import spark.implicits._
    val batchIds = CdcPipeline.batch(spark, writeLines(Seq(emptyDdb, noDdb)), cfg)
      .collect().map(_.eventID).sorted
    assert(batchIds.toSeq == Seq("s-e"))
    // streaming over the line source: processLine sees the same distinction
    val (bus, _, _) = run(Seq(emptyDdb, noDdb))
    assert(bus.map(_.eventID) == Seq("s-e"), bus.map(_.eventID).mkString(","))
    // and the emitted event is the claim-check shape (SizeBytes absent = Q5
    // falsy -> blob path), matching processLine
    assert(bus.head.detail.contains(""""imagesUrl":"""))
  }

  test("stream: pk filter applies before the per-record program") {
    val (bus, _, _) = run(Seq(small, bigRemove), c => c.copy(pkFilters = Seq("U#1")))
    assert(bus.map(_.eventID) == Seq("s-1"))
  }

  /** Every GoldenSpec record, garbage, a poison byte, `dynamodb: {}`,
    * missing/untagged/escaped/N-typed pks. */
  private val parityLines: Seq[Array[Byte]] = {
    val img = """{"pk":{"S":"P"},"m":{"M":{"t":{"L":[{"S":"a"}]}}}}"""
    val body = """"Keys":{"pk":{"S":"P"}},"NewImage":{"pk":{"S":"P"}}"""
    def modify(id: String, oldImg: String, newImg: String) =
      s"""{"eventID":"$id","eventName":"MODIFY","dynamodb":{"SizeBytes":60,"Keys":{"pk":{"S":"P"}},"OldImage":{"pk":{"S":"P"},$oldImg},"NewImage":{"pk":{"S":"P"},$newImg}}}"""
    Seq(
      """{"eventID":"g1","eventName":"INSERT","dynamodb":{"SizeBytes":60,"Keys":{"pk":{"S":"P"},"sk":{"S":"S"}},"NewImage":{"pk":{"S":"P"},"sk":{"S":"S"},"a":{"N":"1"}}}}""",
      """{"eventID":"g2","eventName":"REMOVE","dynamodb":{"SizeBytes":60,"Keys":{"pk":{"S":"P"}},"OldImage":{"pk":{"S":"P"},"a":{"N":"1"}}}}""",
      s"""{"eventID":"g3","eventName":"MODIFY","dynamodb":{"SizeBytes":60,"Keys":{"pk":{"S":"P"}},"OldImage":$img,"NewImage":$img}}""",
      modify("g4", """"meta":{"M":{"visits":{"N":"3"}}}""", """"meta":{"M":{"visits":{"N":"4"}}}"""),
      modify("g5", """"l":{"L":[{"N":"1"},{"N":"2"}]}""", """"l":{"L":[{"N":"2"},{"N":"1"}]}"""),
      modify("g6", """"x":{"NULL":true}""", """"x":{"M":{}}"""),
      modify("g7", """"roles":{"SS":["admin","user"]}""", """"roles":{"SS":["admin"]}"""),
      modify("g8", """"b":{"B":"AQID"}""", """"b":{"B":"AQX/"}"""),
      s"""{"eventID":"g9","eventName":"INSERT","dynamodb":{"SizeBytes":65536,$body}}""",
      s"""{"eventID":"g10","eventName":"INSERT","dynamodb":{$body}}""",
      s"""{"eventID":"g11","eventName":"INSERT","dynamodb":{"SizeBytes":65535,$body}}""",
      """{"eventID":"g12","dynamodb":{"SizeBytes":1}}""",
      """{"eventName":"INSERT","dynamodb":{"SizeBytes":1}}""",
      """{"eventID":"g13","eventName":"INSERT"}""",
      "not json", "{", """{"eventName":"INSERT"}""",
      """{"eventID":"s-e","eventName":"INSERT","dynamodb":{}}""",
      """{"eventID":"n-1","eventName":"INSERT","dynamodb":{"SizeBytes":10,"Keys":{"sk":{"S":"USER#2"}},"NewImage":{"x":{"N":"1"}}}}""",
      """{"eventID":"n-2","eventName":"INSERT","dynamodb":{"SizeBytes":10,"Keys":{"pk":"USER#2"},"NewImage":{"x":{"N":"1"}}}}""",
      """{"eventID":"e-1","eventName":"INSERT","dynamodb":{"SizeBytes":10,"Keys":{"pk":{"S":"A\"B"}},"NewImage":{"pk":{"S":"A\"B"}}}}""",
      """{"eventID":"u-1","eventName":"INSERT","dynamodb":{"SizeBytes":10,"Keys":{"pk":{"S":"USER#1"}},"NewImage":{"pk":{"S":"USER#1"}}}}""",
      """{"eventID":"o-9","eventName":"REMOVE","dynamodb":{"SizeBytes":10,"Keys":{"pk":{"S":"ORG#9"}},"OldImage":{"pk":{"S":"ORG#9"}}}}""",
      """{"eventID":"k-7","eventName":"INSERT","dynamodb":{"SizeBytes":10,"Keys":{"pk":{"N":"7"}},"NewImage":{"pk":{"N":"7"}}}}""",
      """{"eventID":"k-70","eventName":"INSERT","dynamodb":{"SizeBytes":10,"Keys":{"pk":{"N":"70"}},"NewImage":{"pk":{"N":"70"}}}}"""
    ).map(_.getBytes("UTF-8")) ++ Seq(
      ("""{"eventID":"x-1","eventName":"INSERT","dynamodb":{"SizeBytes":10,"Keys":{"pk":{"S":"USER#9"}},"NewImage":{"s":{"S":"a""".getBytes("UTF-8") :+ 0xFF.toByte) ++
        """b"}}}}""".getBytes("UTF-8"),
      "garbageÿ".getBytes("ISO-8859-1"))
  }

  test("stream and batch publish the same bus rows and blobs") {
    import spark.implicits._
    val configs = Seq(
      CdcConfig(),
      CdcConfig(strictCompat = true),
      // OR'd escape-free patterns: the source's substring skip is on
      CdcConfig(pkFilters = Seq("P", "USER#*", "7")),
      // a pattern JSON escapes: the skip is off, the exact check decides
      CdcConfig(pkFilters = Seq("A\"B", "ORG#*")))
    configs.zipWithIndex.foreach { case (c0, i) =>
      val base = Files.createTempDirectory("graft-parity").toString
      val in = s"$base/in"
      Files.createDirectories(Paths.get(in))
      Files.write(Paths.get(s"$in/a.json"), parityLines.reduce(_ ++ "\n".getBytes ++ _))
      val c = c0.copy(eventSource = "parity", blobDir = s"$base/blobs")
      CdcPipeline.stream(spark, in, s"$base/bus", s"$base/ckpt", c).start().awaitTermination()
      val streamed = spark.read.parquet(s"$base/bus").as[BusEvent].collect().toSeq.sortBy(_.eventID)
      val batched = CdcPipeline.busRows(CdcPipeline.batch(spark, in, c), c)
        .collect().toSeq.sortBy(_.eventID)
      assert(streamed.nonEmpty && streamed == batched, s"config $i")
      val blobDir = new java.io.File(c.blobDir)
      val streamBlobs = Option(blobDir.listFiles()).toSeq.flatten
        .map(f => f.getName -> new String(Files.readAllBytes(f.toPath), "UTF-8")).sortBy(_._1)
      val batchBlobs = CdcPipeline.processedLines(spark.read.textFile(in), c)
        .collect().toSeq.flatMap(_.blob).map(b => b.key -> b.body).sortBy(_._1)
      assert(streamBlobs == batchBlobs, s"config $i")
    }
  }

  test("backfill: replay appends only unseen eventIDs, rewrites blobs") {
    val (bus0, blobs0, base) = run(Seq(small, bigRemove))
    assert(bus0.map(_.eventID) == Seq("s-1", "s-3") && blobs0 == Seq("s-3.json"))
    val cfg = CdcConfig(eventSource = "spec", blobDir = s"$base/blobs")
    // replay the SAME archive → nothing appended
    assert(CdcPipeline.backfill(spark, s"$base/in", s"$base/bus", cfg) == 0L)
    assert(CdcPipeline.readBus(spark, s"$base/bus").count() == 2)
    // extend the archive with one new record → exactly one appended
    val extra =
      """{"eventID":"s-9","eventName":"INSERT","dynamodb":{"SizeBytes":90,"Keys":{"pk":{"S":"U#9"}},"NewImage":{"pk":{"S":"U#9"},"x":{"N":"9"}}}}"""
    Files.write(Paths.get(s"$base/in/batch2.json"), extra.getBytes)
    assert(CdcPipeline.backfill(spark, s"$base/in", s"$base/bus", cfg) == 1L)
    // idempotence: a third run over the extended archive appends nothing
    assert(CdcPipeline.backfill(spark, s"$base/in", s"$base/bus", cfg) == 0L)
    import spark.implicits._
    val ids = CdcPipeline.readBus(spark, s"$base/bus")
      .as[BusEvent].collect().map(_.eventID).sorted
    assert(ids.toSeq == Seq("s-1", "s-3", "s-9"))
    // the pre-existing blob survived the replay
    assert(Files.exists(Paths.get(s"$base/blobs/s-3.json")))
  }

  test("compactBus: same rows, fewer files, includes backfilled events") {
    val (bus0, _, base) = run(Seq(small, bigRemove))
    assert(bus0.length == 2)
    val cfg = CdcConfig(eventSource = "spec", blobDir = s"$base/blobs")
    val extra =
      """{"eventID":"s-8","eventName":"INSERT","dynamodb":{"SizeBytes":90,"Keys":{"pk":{"S":"U#8"}},"NewImage":{"pk":{"S":"U#8"},"x":{"N":"8"}}}}"""
    Files.write(Paths.get(s"$base/in/batch2.json"), extra.getBytes)
    assert(CdcPipeline.backfill(spark, s"$base/in", s"$base/bus", cfg) == 1L)
    assert(CdcPipeline.compactBus(spark, s"$base/bus", s"$base/bus-compact") == 3L)
    val files = new java.io.File(s"$base/bus-compact").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, s"expected 1 compacted file, got ${files.length}")
    import spark.implicits._
    val ids = spark.read.parquet(s"$base/bus-compact").as[BusEvent]
      .collect().map(_.eventID).sorted
    assert(ids.toSeq == Seq("s-1", "s-3", "s-8"))
  }

  test("bus consumer: streaming per-operation counts over the live sink") {
    val (bus0, _, base) = run(Seq(small, bigRemove))
    assert(bus0.length == 2)
    val counts = CdcPipeline.busOperationCounts(spark, s"$base/bus", "spec")
      .writeStream.outputMode("complete").format("memory")
      .queryName("graft_bus_counts")
      .option("checkpointLocation", s"$base/consumer-ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    counts.awaitTermination()
    val rows = spark.table("graft_bus_counts").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows == Map("INSERT" -> 1L, "REMOVE" -> 1L), rows.toString)
  }

  test("dedupByEventId: replayed at-least-once delivery collapses to one row") {
    import spark.implicits._
    // simulate an at-least-once source re-delivering a whole micro-batch
    // (reference semantics: retryAttempts 0, bisectBatchOnError redelivery)
    val cfg = CdcConfig(eventSource = "spec", blobDir = "/tmp/unused-blobs")
    val once = CdcPipeline.busRows(
      CdcPipeline.batch(spark, writeLines(Seq(small, bigRemove)), cfg), cfg)
    val replayed = once.union(once).union(once)
    assert(replayed.count() == 6)
    val deduped = CdcPipeline.dedupByEventId(replayed).collect().sortBy(_.eventID)
    assert(deduped.map(_.eventID).toSeq == Seq("s-1", "s-3"))
  }

  test("cleanBlobs removes only blobs older than the retention window") {
    val dir = Files.createTempDirectory("graft-blob-retention").toString
    CdcPipeline.writeBlob(dir, BlobPayload("old.json", "{}"))
    CdcPipeline.writeBlob(dir, BlobPayload("fresh.json", "{}"))
    val now = System.currentTimeMillis()
    val dayMs = 24L * 3600 * 1000
    Files.setLastModifiedTime(Paths.get(dir, "old.json"),
      java.nio.file.attribute.FileTime.fromMillis(now - dayMs - 60000))
    assert(CdcPipeline.cleanBlobs(dir, olderThanMs = dayMs, nowMs = now) == 1)
    assert(Files.exists(Paths.get(dir, "fresh.json")))
    assert(!Files.exists(Paths.get(dir, "old.json")))
    assert(CdcPipeline.cleanBlobs(s"$dir/missing", dayMs, now) == 0)
  }

  private def writeLines(lines: Seq[String]): String = {
    val in = Files.createTempDirectory("graft-dedup-in").toString
    Files.write(Paths.get(s"$in/batch.json"), lines.mkString("\n").getBytes)
    in
  }
}
