package graft.cdc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** End-to-end CDC dataflow assembly (SURVEY.md §3.2 trace): source lines →
  * one typed map (parse + pk filter + unmarshall + diff + envelope +
  * suppression + routing) → sinks.
  *
  * The pipeline is NARROW — no shuffle anywhere: per-record logic is
  * partition-local, so on a 1000-executor cluster each task streams its input
  * split through [[RecordProcessor]] independently. Per-key ordering (the
  * reference's per-shard FIFO) is the source's partitioning contract; when it
  * matters (stateful consumers), partition by `pk` upstream.
  */
object CdcPipeline {

  /** Parse a raw-JSON-lines Dataset into records. Kept as a typed map so a
    * malformed line drops (error isolation, OP-3) instead of failing the task.
    */
  def parse(lines: Dataset[String]): Dataset[CdcRecord] = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines.flatMap(RecordProcessor.parseRecord _)
  }

  /** OP-2 applied relationally BEFORE the per-record program, like the
    * event-source-mapping filter runs before the Lambda. The predicate is the
    * compiled [[PkFilter.toColumn]] Catalyst expression over the marshalled
    * pk (codegen'd; when the pk is a top-level column of the source it
    * reaches the scan as a pushed filter — asserted in OpsSpec). The fused
    * raw-line path evaluates the same rules on the parsed keys instead
    * ([[RecordProcessor.processLine]]).
    */
  def applyPkFilter(recs: Dataset[CdcRecord], cfg: CdcConfig): Dataset[CdcRecord] = {
    if (cfg.pkFilters.isEmpty) recs
    else {
      val pkCol = get_json_object(col("dynamodb.Keys"), "$.pk.S")
      recs.filter(pkCol.isNotNull && PkFilter.toColumn(pkCol, cfg.pkFilters))
    }
  }

  /** The record-level core: validity guards, unmarshall, diff, suppression,
    * claim-check routing — one narrow typed map.
    */
  def processed(recs: Dataset[CdcRecord], cfg: CdcConfig): Dataset[RecordProcessor.Processed] = {
    val spark = recs.sparkSession
    import spark.implicits._
    recs.flatMap(r => RecordProcessor.processSafe(r, cfg))
  }

  def events(recs: Dataset[CdcRecord], cfg: CdcConfig): Dataset[ItemChanged] = {
    val spark = recs.sparkSession
    import spark.implicits._
    processed(recs, cfg).map(_.event)
  }

  /** Batch run over a directory of stream-record JSON lines (fused path). */
  def batch(spark: SparkSession, inputDir: String, cfg: CdcConfig): Dataset[ItemChanged] = {
    import spark.implicits._
    processedLines(spark.read.textFile(inputDir), cfg).map(_.event)
  }

  /** Bus rows ready for a sink (OP-13 envelope + OP-14 consumer filtering). */
  def busRows(items: Dataset[ItemChanged], cfg: CdcConfig): Dataset[BusEvent] = {
    val spark = items.sparkSession
    import spark.implicits._
    items.map(RecordProcessor.toBusEvent(_, cfg))
  }

  /** Consumer-side pattern subscription (OP-14): equality on source +
    * detailType, as the EventBridge rule at
    * `/root/reference/lib/cdk-dynamodb-cdc-stack.ts:32-38`.
    */
  def subscribe(bus: DataFrame, source: String): DataFrame =
    bus.filter(col("source") === lit(source) &&
      col("detailType") === lit(CdcConfig.DetailType))

  /** Read the bus directory seeing BOTH streaming-sink files and
    * batch-appended [[backfill]] files. A streaming parquet sink keeps a
    * `_spark_metadata` log and `spark.read.parquet(dir)` honors it,
    * silently hiding any file the log doesn't list — so backfilled events
    * would vanish from consumers (and from backfill's own dedup read,
    * breaking idempotence). Passing explicit file paths bypasses the log.
    * Trade-off (documented): files from a failed in-flight streaming batch
    * would also be visible; the streaming sink is AvailableNow/
    * checkpoint-gated here, so that window is the current batch only.
    *
    * Consumer boundary: batch consumers (analytics, [[subscribe]] over a
    * `readBus` frame, backfill's own dedup) see streaming AND backfilled
    * files through this method. A STREAMING consumer attached to the sink
    * directory (e.g. the CdcApp observer's FileStreamSource) takes its file
    * list from the sink's metadata log and therefore sees only
    * stream-delivered events — route backfills such consumers must see
    * through the streaming input path instead.
    */
  /** Thrown by [[readBus]] when the bus holds no parquet files yet — a
    * DEDICATED type so callers (backfill) can treat exactly "bus is empty"
    * as empty without catching broader failure classes that must propagate.
    */
  final class NoBusFilesException(dir: String)
      extends RuntimeException(s"no parquet files in $dir")

  def readBus(spark: SparkSession, busDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(busDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    if (files.isEmpty) throw new NoBusFilesException(busDir)
    spark.read.parquet(files: _*)
  }

  /** Fused narrow path over raw lines: one parse, no intermediate image
    * strings (see [[RecordProcessor.processLine]]).
    */
  def processedLines(lines: Dataset[String], cfg: CdcConfig): Dataset[RecordProcessor.Processed] = {
    val spark = lines.sparkSession
    import spark.implicits._
    val rules = PkFilter.compile(cfg.pkFilters)
    lines.flatMap(l => RecordProcessor.processLine(l, cfg, rules))
  }

  /** Streaming raw lines through the DSv2 `graft-cdc` line source: new
    * files are the stream, split by byte range and packed into at most one
    * task per slot. `cfg.pkFilters` rides the `pkFilters` reader option,
    * where it only prunes lines that cannot match (the reference's
    * deploy-time event-source-mapping filter); the exact pk check is the
    * consumer's. `maxFilesPerTrigger` bounds each micro-batch (the source's
    * ReadLimit.maxFiles contract), so a backlog drains as a SEQUENCE of
    * bounded triggers instead of one giant cold batch — honored under
    * Trigger.AvailableNow too.
    */
  private def streamLines(spark: SparkSession, inputDir: String, cfg: CdcConfig,
      maxFilesPerTrigger: Int): Dataset[String] = {
    import spark.implicits._
    val reader = spark.readStream.format("graft-cdc")
    if (cfg.pkFilters.nonEmpty) reader.option("pkFilters", PkFilter.toOption(cfg.pkFilters))
    if (maxFilesPerTrigger != Int.MaxValue)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
    reader.load(inputDir).as[String]
  }

  /** Streaming [[CdcRecord]]s for [[CdcApp]] custom transforms: the
    * [[streamLines]] line stream, [[RecordProcessor.parseRecord]], then the
    * EXACT pk residual over the pk text of `Keys` (an S-typed pk matches on
    * its raw text, other tags on their JSON text, as in `processLine`). A
    * record whose `Keys` fail to unmarshall drops (OP-3), filter or not.
    */
  def streamRecords(spark: SparkSession, inputDir: String, cfg: CdcConfig,
      maxFilesPerTrigger: Int = Int.MaxValue): Dataset[CdcRecord] = {
    import spark.implicits._
    val rules = PkFilter.compile(cfg.pkFilters)
    streamLines(spark, inputDir, cfg, maxFilesPerTrigger).flatMap { line =>
      Try(RecordProcessor.parseRecord(line).filter { r =>
        // pkText throws on malformed Keys: the Try drops the record
        val pk = r.dynamodb.flatMap(_.Keys).flatMap(graft.sources.CdcSource.pkText)
        rules.isEmpty || pk.exists(PkFilter.matches(_, rules))
      }).toOption.flatten
    }
  }

  /** Streaming pipeline: [[streamLines]] (DSv2 micro-batch line source with
    * `pkFilters` pruning, byte-range splits packed one task per slot) → the
    * fused per-record program [[RecordProcessor.processLine]] (one parse per
    * record; exact pk filter) → sink that (a) writes claim-check blobs
    * task-side and (b) appends bus rows as parquet, one file per task —
    * exactly-once per micro-batch via checkpointing (stronger than the
    * reference's at-least-once, SURVEY §4.2).
    */
  def stream(
      spark: SparkSession,
      inputDir: String,
      busDir: String,
      checkpointDir: String,
      cfg: CdcConfig,
      maxFilesPerTrigger: Int = Int.MaxValue): DataStreamWriter[BusEvent] = {
    import spark.implicits._
    val rules = PkFilter.compile(cfg.pkFilters)
    val blobDir = cfg.blobDir

    streamLines(spark, inputDir, cfg, maxFilesPerTrigger)
      .mapPartitions { it =>
        // Task-local claim-check writes (OP-10/11): the blob store is a
        // directory; each task writes only its own records' blobs.
        it.flatMap(RecordProcessor.processLine(_, cfg, rules)).map { p =>
          p.blob.foreach(b => writeBlob(blobDir, b))
          RecordProcessor.toBusEvent(p.event, cfg)
        }
      }
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", busDir)
  }

  def writeBlob(dir: String, blob: BlobPayload): Unit = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    Files.write(d.resolve(blob.key), blob.body.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Streaming consumer over the live bus sink: subscribe with the OP-14
    * pattern rule, then maintain running per-operation counts — the
    * "analytics serving" end of the CDC loop (produce → bus → consume)
    * running as its own continuously-updating streaming query. Complete
    * output mode: the aggregate is small (one row per operation), so
    * re-emitting the whole result each micro-batch is the cheap, correct
    * choice. Reads the sink's `_spark_metadata` log (a FileStreamSource),
    * so it sees exactly the stream-delivered events — the consumer boundary
    * [[readBus]] documents.
    */
  def busOperationCounts(spark: SparkSession, busDir: String, source: String): DataFrame = {
    val busSchema = org.apache.spark.sql.Encoders.product[BusEvent].schema
    subscribe(spark.readStream.schema(busSchema).parquet(busDir), source)
      .select(get_json_object(col("detail"), "$.operation").as("operation"))
      .groupBy(col("operation"))
      .agg(count(lit(1)).as("n"))
  }

  /** At-least-once compatibility (SURVEY §4.2): the reference delivers
    * at-least-once with drop-on-failure (`retryAttempts: 0`,
    * `/root/reference/lib/constructs/dynamo.ts:137`,
    * `dynamo-stream-handler.ts:20-25`), so a consumer fed by such a source
    * can see the same stream record twice. This engine's own checkpointed
    * path is exactly-once, but when ingesting an external at-least-once bus,
    * dedup on the stream-unique `eventID`. Works on batch and streaming
    * frames alike (streaming keeps eventID dedup state; pair with a
    * watermark upstream to bound it).
    */
  def dedupByEventId(bus: Dataset[BusEvent]): Dataset[BusEvent] =
    bus.dropDuplicates("eventID")

  /** Idempotent batch backfill / replay — the reprocessing path every CDC
    * deployment eventually needs (handler bug fixed, archive re-ingested,
    * bus partially lost): run the full pipeline over an input archive and
    * append ONLY events whose `eventID` is not already on the bus (one
    * anti-join on the stream-unique id). Claim-check blobs for fresh events
    * are (re)written — `writeBlob` truncates, so re-running is a no-op for
    * existing keys. Returns the number of events appended.
    */
  def backfill(spark: SparkSession, inputDir: String, busDir: String, cfg: CdcConfig): Long = {
    import spark.implicits._
    val proc = processedLines(spark.read.textFile(inputDir), cfg)
    // Narrow catch: ONLY "bus does not exist / is empty yet" may mean empty —
    // any other read failure (corrupt footer, transient FS error) must
    // propagate, or the anti-join would silently re-append the whole archive
    // as duplicates. Both cases are now dedicated types, not broad classes.
    val existing =
      try readBus(spark, busDir).select(col("eventID").as("existing_id"))
      catch {
        case _: java.io.FileNotFoundException => Seq.empty[String].toDF("existing_id")
        case _: NoBusFilesException => Seq.empty[String].toDF("existing_id")
      }
    val fresh = proc.toDF()
      .withColumn("eid", col("event.eventID"))
      // replay archives come from at-least-once sources: dedup WITHIN the
      // archive too, not just against the bus
      .dropDuplicates("eid")
      .join(existing, col("eid") === col("existing_id"), "left_anti")
      .drop("eid")
      .as[RecordProcessor.Processed]
    val blobDir = cfg.blobDir
    val bus = fresh.mapPartitions { it =>
      it.map { p =>
        p.blob.foreach(b => writeBlob(blobDir, b))
        RecordProcessor.toBusEvent(p.event, cfg)
      }
    }.persist()
    try {
      val n = bus.count()
      if (n > 0) bus.write.mode("append").parquet(busDir)
      n
    } finally { bus.unpersist(); () }
  }

  /** Bus compaction — the small-files answer for a long-running streaming
    * sink: every micro-batch appends a part file, and at 100 TB a week of
    * 1-minute batches is ~10k tiny files whose open/footer costs dominate
    * scans. Compacts the CURRENT contents (streaming + backfilled files, via
    * [[readBus]]) into `outDir` with `targetPartitions` files. Written to a
    * NEW directory on purpose: rewriting in place would race the live sink
    * and desync its `_spark_metadata` log — the operational pattern is
    * compact → point consumers at the compacted dir → retire the old dir
    * once the sink checkpoint rolls over. Returns the row count written.
    */
  def compactBus(spark: SparkSession, busDir: String, outDir: String,
      targetPartitions: Int = 1): Long = {
    val rows = readBus(spark, busDir)
    val n = rows.count()
    rows.repartition(targetPartitions).write.mode("overwrite").parquet(outDir)
    n
  }

  /** Blob retention sweep — the engine counterpart of the reference's 24 h
    * S3 lifecycle rule (`/root/reference/lib/constructs/dynamo.ts:111-116`;
    * presigned URLs expire on the same clock,
    * `dynamo-stream-handler.ts:161`). Deletes claim-check blobs whose
    * last-modified time is older than `olderThanMs`; returns how many were
    * removed. Run it as a periodic maintenance job against the blob dir.
    */
  def cleanBlobs(dir: String, olderThanMs: Long,
      nowMs: Long = System.currentTimeMillis()): Int = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return 0
    val cutoff = nowMs - olderThanMs
    var removed = 0
    val s = Files.list(d)
    try s.forEach { p =>
      if (Files.isRegularFile(p) && Files.getLastModifiedTime(p).toMillis < cutoff) {
        Files.delete(p); removed += 1
      }
    } finally s.close()
    removed
  }
}
