package graft.sources

import java.util

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow, Offset => StreamingOffset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.attr.AttrCodec
import graft.cdc.{PkFilter, RecordProcessor}

/** DataSource V2 LINE source over stream-record JSON-line directories:
  * `spark.read.format("graft-cdc").load(dir)` (batch) and
  * `spark.readStream.format("graft-cdc").load(dir)` (micro-batch: new files
  * are the stream) — the engine's OP-1 source. Schema: one `line STRING`
  * column. The source decodes nothing: the record program
  * ([[graft.cdc.RecordProcessor.processLine]]) parses each record exactly
  * once, downstream.
  *
  * Read options: `path`, `splitSize` (byte-range split size, Hadoop line
  * semantics), `maxFilesPerTrigger` (streaming admission) and `pkFilters`
  * (a JSON array of reference-style pk patterns, OR'd — the analogue of
  * DynamoDB's event-source-mapping filter running before the handler, the
  * reference's `lib/constructs/dynamo.ts:157-191`).
  *
  * `pkFilters` contract — the source only PRUNES, never decides: a line is
  * skipped only when it contains no pattern verbatim, and that pre-parse
  * substring skip fires only when EVERY pattern is escape-free (no quote,
  * backslash or control character, which JSON would print differently).
  * Every surviving line still goes through the exact pk check downstream
  * (`processLine`, or the `streamRecords` residual).
  *
  * Tasks: each scan packs its byte-range splits into at most one task per
  * slot ([[CdcScan.pack]]), so a trigger of many small files costs a couple
  * of tasks (and bus files), not one per file.
  */
class CdcSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = CdcSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CdcTable(Option(properties.get("path"))
      .getOrElse(throw new IllegalArgumentException("graft-cdc requires a path")))
  override def supportsExternalMetadata(): Boolean = false
}

object CdcSource {
  val schema: StructType = StructType(Seq(StructField("line", StringType)))

  /** pk text exactly as the fused pipeline computes it
    * (RecordProcessor.processLine semantics); throws on malformed Keys.
    */
  private[graft] def pkText(keysJson: String): Option[String] =
    AttrCodec.unmarshallItem(keysJson).get("pk").map(RecordProcessor.keyText)
}

/** Hadoop Configuration is not serializable; standard write/readFields
  * wrapper so executors receive the session's spark.hadoop.* settings
  * (S3A credentials, defaultFS) instead of empty defaults.
  */
private[sources] class SerializableHadoopConf(
    @transient private var conf: org.apache.hadoop.conf.Configuration) extends Serializable {
  def value: org.apache.hadoop.conf.Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new org.apache.hadoop.conf.Configuration(false)
    conf.readFields(in)
  }
}

private[sources] class CdcTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft-cdc:$path"
  override def schema(): StructType = CdcSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new CdcScan(path,
      Option(options.get("pkFilters")).fold(Seq.empty[PkFilter.Rule])(PkFilter.fromOption),
      options.getLong("splitSize", 128L * 1024 * 1024),
      options.getInt("maxFilesPerTrigger", Int.MaxValue))
}

private[sources] class CdcScan(path: String, rules: Seq[PkFilter.Rule], splitSize: Long,
    maxFilesPerTrigger: Int) extends Scan with Batch {
  override def readSchema(): StructType = CdcSource.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-cdc path=$path pkFilters=[${rules.mkString(", ")}]"

  private val spark = SparkSession.active
  private val hadoopConf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
  // the slot count the packing targets, read once when the scan is planned
  private val parallelism = spark.sparkContext.defaultParallelism

  override def planInputPartitions(): Array[InputPartition] =
    CdcScan.plan(CdcScan.listFiles(path, hadoopConf), splitSize, parallelism)

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory(rules, hadoopConf)

  /** Streaming read over the same directory: new files are the stream (the
    * engine analogue of new stream-shard batches arriving). Same reader, same
    * `pkFilters` pruning, same splits and packing as the batch path.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcMicroBatchStream(path, rules, splitSize, parallelism, hadoopConf, maxFilesPerTrigger)
}

private[sources] object CdcScan {
  /** List (path, length) under `path` via Hadoop FS with the SESSION conf:
    * the same code path serves file://, hdfs://, and object stores with the
    * user's credentials/endpoints.
    */
  def listFiles(path: String, hadoopConf: SerializableHadoopConf): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hadoopConf.value)
    val st = fs.getFileStatus(p)
    val files =
      if (st.isFile) Seq(st)
      else fs.listStatus(p).toSeq.filter(_.isFile).sortBy(_.getPath.getName)
    files.map(f => (f.getPath.toString, f.getLen))
  }

  /** BYTE-RANGE SPLITS at `splitSize` (Hadoop line-reader boundary semantics:
    * a split owns the lines that start inside [start, start + length]) — one
    * 100 GB archive file is 800 splits, which [[pack]] never merges below
    * its byte count. A zero-length file is one empty split.
    */
  def splitFiles(files: Seq[(String, Long)], splitSize: Long): Seq[CdcSplit] =
    files.flatMap { case (f, len) =>
      if (len == 0) Seq(CdcSplit(f, 0L, 0L))
      else (0L until len by splitSize).map { start =>
        CdcSplit(f, start, math.min(splitSize, len - start))
      }
    }

  /** Packs splits into `n = min(#splits, max(parallelism, ceil(bytes /
    * splitSize)))` tasks: one task per slot for a trigger of small files, at
    * least one task per `splitSize` bytes for large inputs. Largest split
    * first onto the least-loaded task (bytes, then split count, then index —
    * so every task gets a split and the grouping depends only on the
    * splits); each task reads its splits in (path, start) order.
    */
  def pack(splits: Seq[CdcSplit], splitSize: Long, parallelism: Int): Array[InputPartition] = {
    val total = splits.map(_.length).sum
    val n = math.min(splits.size.toLong,
      math.max(parallelism.toLong, (total + splitSize - 1) / splitSize)).toInt
    val groups = Array.fill(n)(Vector.newBuilder[CdcSplit])
    val least = mutable.PriorityQueue.empty[(Long, Int, Int)](Ordering[(Long, Int, Int)].reverse)
    (0 until n).foreach(i => least.enqueue((0L, 0, i)))
    splits.sortBy(s => (-s.length, s.file, s.start)).foreach { s =>
      val (bytes, count, i) = least.dequeue()
      groups(i) += s
      least.enqueue((bytes + s.length, count + 1, i))
    }
    groups.map(g => CdcTaskPartition(g.result().sortBy(s => (s.file, s.start))): InputPartition)
  }

  def plan(files: Seq[(String, Long)], splitSize: Long, parallelism: Int): Array[InputPartition] =
    pack(splitFiles(files, splitSize), splitSize, parallelism)
}

/** Micro-batch planning: each trigger processes the files that appeared since
  * the last committed offset, split and packed exactly like the batch scan.
  * Implements [[SupportsTriggerAvailableNow]] so `Trigger.AvailableNow` pins
  * the end offset once at query start (drain-and-stop semantics without the
  * wrapper's extra listing per batch).
  */
private[sources] class CdcMicroBatchStream(path: String, rules: Seq[PkFilter.Rule],
    splitSize: Long, parallelism: Int, hadoopConf: SerializableHadoopConf,
    maxFilesPerTrigger: Int) extends MicroBatchStream with SupportsTriggerAvailableNow {

  private var fixedEnd: Option[CdcOffset] = None

  private def snapshot(): CdcOffset = CdcOffset(CdcScan.listFiles(path, hadoopConf).toMap)

  override def prepareForTriggerAvailableNow(): Unit = fixedEnd = Some(snapshot())
  override def initialOffset(): StreamingOffset = CdcOffset(Map.empty)
  override def latestOffset(): StreamingOffset = fixedEnd.getOrElse(snapshot())
  override def deserializeOffset(json: String): StreamingOffset = CdcOffset.fromJson(json)

  /** Admission control: `maxFilesPerTrigger` bounds each micro-batch — at
    * scale a week-long backlog must drain as many bounded batches (bounded
    * task count, bounded sink commit, steady checkpoint cadence), not one
    * giant catch-up batch. Under Trigger.AvailableNow the cap still applies
    * per batch; Spark keeps scheduling batches until the pinned end offset
    * is reached.
    */
  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger == Int.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxFiles(maxFilesPerTrigger)

  override def latestOffset(start: StreamingOffset, limit: ReadLimit): StreamingOffset = {
    val available = fixedEnd.getOrElse(snapshot()).files
    val done = start.asInstanceOf[CdcOffset].files
    limit match {
      case mf: ReadMaxFiles =>
        val fresh = available.toSeq
          .filter { case (p, _) => !done.contains(p) }
          .sortBy(_._1)
          .take(mf.maxFiles())
        CdcOffset(done ++ fresh)
      case _ => CdcOffset(available)
    }
  }

  override def planInputPartitions(start: StreamingOffset, end: StreamingOffset): Array[InputPartition] = {
    val done = start.asInstanceOf[CdcOffset].files
    val now = end.asInstanceOf[CdcOffset].files
    val fresh = now.toSeq.filter { case (p, _) => !done.contains(p) }.sortBy(_._1)
    CdcScan.plan(fresh, splitSize, parallelism)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory(rules, hadoopConf)

  override def commit(end: StreamingOffset): Unit = ()
  override def stop(): Unit = ()
}

/** One byte range of one file: the lines that start inside it. */
private[sources] case class CdcSplit(file: String, start: Long, length: Long)

/** One task's splits, read one after another in (path, start) order. */
private[sources] case class CdcTaskPartition(splits: Seq[CdcSplit]) extends InputPartition

private[sources] class CdcReaderFactory(rules: Seq[PkFilter.Rule],
    hadoopConf: SerializableHadoopConf) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val splits = partition.asInstanceOf[CdcTaskPartition].splits.iterator
    // Pre-parse needles, ONLY for values JSON never escapes in our format
    // (quote/backslash/control chars would differ between the pk text and
    // its in-line representation, and any char may legally be \u-escaped by
    // exotic writers — such needles disable the shortcut, never correctness).
    // A matching line contains AT LEAST ONE pattern needle.
    val needles = rules.map {
      case PkFilter.Eq(v) => v
      case PkFilter.Prefix(p) => p
    }
    val skipSafe = needles.nonEmpty && needles.forall(escapeFree)

    new PartitionReader[InternalRow] {
      private var lines: SplitLines = _
      private val row = new GenericInternalRow(1)

      override def next(): Boolean = {
        while (lines != null || splits.hasNext) {
          if (lines == null) lines = new SplitLines(splits.next(), hadoopConf)
          val line = lines.next()
          if (line == null) { lines.close(); lines = null }
          else if (!skipSafe || needles.exists(line.contains)) {
            row.update(0, UTF8String.fromString(line))
            return true
          }
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = if (lines != null) lines.close()
    }
  }

  private def escapeFree(v: String): Boolean =
    v.forall(c => c >= 0x20 && c < 0x7f && c != '"' && c != '\\')
}

/** The lines of one split, opened on construction. Hadoop LineReader: exact
  * BYTE accounting for split boundaries (char-based readers can't track file
  * offsets through buffering). Split contract (same as Hadoop's
  * LineRecordReader): a split owns every line that STARTS inside
  * [start, start + length]; a reader with start > 0 discards the first
  * (partial) line, and the last owned line is read to completion past the
  * boundary.
  */
private[sources] final class SplitLines(split: CdcSplit, hadoopConf: SerializableHadoopConf) {
  private val lr = {
    val p = new org.apache.hadoop.fs.Path(split.file)
    val in = p.getFileSystem(hadoopConf.value).open(p)
    if (split.start > 0) in.seek(split.start)
    new org.apache.hadoop.util.LineReader(in)
  }
  private val end = split.start + split.length
  private var pos = split.start
  private val text = new org.apache.hadoop.io.Text()
  if (split.start > 0) pos += lr.readLine(text) // skip the partial line

  /** The next owned line, or null past the split. `pos <= end`, not `<`: a
    * line starting EXACTLY at `end` belongs to this split (Hadoop
    * LineRecordReader reads while position <= end); the next split's
    * unconditional first-line skip discards it. With strict `<` neither
    * split would read it — silent data loss on any file where a line start
    * aligns with a splitSize multiple.
    */
  def next(): String =
    if (pos > end) null
    else {
      val n = lr.readLine(text)
      if (n == 0) null // EOF
      else {
        pos += n
        // new String(bytes, UTF_8) REPLACEs malformed bytes — a poison byte
        // must not throw from the line iterator (OP-3 at the source)
        new String(text.getBytes, 0, text.getLength, java.nio.charset.StandardCharsets.UTF_8)
      }
    }

  def close(): Unit = lr.close()
}
