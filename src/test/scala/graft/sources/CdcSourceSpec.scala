package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSuite
import graft.cdc.{CdcConfig, PkFilter, RecordProcessor}

class CdcSourceSpec extends SparkSuite {

  private val lines = Seq(
    """{"eventID":"d-1","eventName":"INSERT","dynamodb":{"SizeBytes":50,"Keys":{"pk":{"S":"USER#1"},"sk":{"S":"A"}},"NewImage":{"pk":{"S":"USER#1"},"v":{"N":"1"}}}}""",
    """{"eventID":"d-2","eventName":"MODIFY","dynamodb":{"SizeBytes":60,"Keys":{"pk":{"S":"USER#2"}},"NewImage":{"pk":{"S":"USER#2"},"v":{"N":"2"}},"OldImage":{"pk":{"S":"USER#2"},"v":{"N":"1"}}}}""",
    """{"eventID":"d-3","eventName":"REMOVE","dynamodb":{"SizeBytes":70,"Keys":{"pk":{"S":"ORG#9"}},"OldImage":{"pk":{"S":"ORG#9"}}}}""",
    "garbage not json",
    """{"eventID":"d-5","eventName":"INSERT","dynamodb":{"SizeBytes":0,"Keys":{"pk":{"N":"7"}},"NewImage":{"pk":{"N":"7"}}}}""")

  private def writeDir(): String = {
    val dir = Files.createTempDirectory("graft-dsv2").toString
    Files.write(Paths.get(s"$dir/a.json"), lines.take(3).mkString("\n").getBytes)
    Files.write(Paths.get(s"$dir/b.json"), lines.drop(3).mkString("\n").getBytes)
    dir
  }

  private def read(dir: String, opts: (String, String)*): Seq[String] =
    spark.read.format(classOf[CdcSource].getName).options(opts.toMap).load(dir)
      .collect().map(_.getString(0)).toSeq

  private val EventId = """"eventID":"([^"]*)"""".r
  private def eventId(line: String): String =
    EventId.findFirstMatchIn(line).map(_.group(1)).getOrElse(line)

  /** The byte-range splits of every file under `dir`. */
  private def splitsOf(dir: String, splitSize: Long): Seq[CdcSplit] =
    CdcScan.splitFiles(CdcScan.listFiles(dir,
      new SerializableHadoopConf(spark.sessionState.newHadoopConf())), splitSize)

  test("short name 'graft-cdc' resolves via DataSourceRegister") {
    val df = spark.read.format("graft-cdc").load(writeDir())
    assert(df.schema == CdcSource.schema && df.schema.fieldNames.toSeq == Seq("line"))
    // a line source: the garbage line is a line too; the record program drops it
    assert(df.count() == 5)
  }

  test("byte-range splits: tiny splitSize reads every line exactly once") {
    val dir = Files.createTempDirectory("graft-dsv2-split").toString
    val many = (0 until 200).map { i =>
      s"""{"eventID":"s-$i","eventName":"INSERT","dynamodb":{"SizeBytes":10,"Keys":{"pk":{"S":"U#${i % 7}"}},"NewImage":{"pk":{"S":"U#${i % 7}"},"v":{"N":"$i"}}}}"""
    }
    Files.write(Paths.get(s"$dir/big.json"), many.mkString("\n").getBytes)
    // ~150-byte lines with a 256-byte splitSize → dozens of splits, every
    // boundary landing mid-line
    val splits = splitsOf(dir, 256).length
    assert(splits > 10, s"expected many splits, got $splits")
    val ids = read(dir, "splitSize" -> "256").map(eventId)
    assert(ids.length == 200 && ids.distinct.length == 200)
    // pk pruning still exact across split boundaries
    assert(read(dir, "splitSize" -> "256", "pkFilters" -> """["U#3"]""").length ==
      (0 until 200).count(_ % 7 == 3))
  }

  test("a line starting exactly at a split boundary is read exactly once") {
    // Every line is padded to exactly 128 bytes (127 chars + '\n'), so with
    // splitSize=128 every line after the first STARTS exactly at a boundary.
    // The old `pos < end` loop read such a line in neither split (previous
    // split stopped at pos == end; next split's first-line skip discarded it)
    // — this file lost all but line 0. Hadoop semantics: previous split owns
    // it (reads while pos <= end).
    val dir = Files.createTempDirectory("graft-dsv2-align").toString
    def line(i: Int): String = {
      val base =
        s"""{"eventID":"b-$i","eventName":"INSERT","dynamodb":{"SizeBytes":1,"Keys":{"pk":{"S":"P$i"}},"NewImage":{"pad":{"S":"PAD"}}}}"""
      base.replace("PAD", "x" * (127 - base.length + 3))
    }
    val many = (0 until 64).map(line)
    assert(many.forall(_.length == 127))
    Files.write(Paths.get(s"$dir/aligned.json"), many.mkString("\n").getBytes)
    val splits = splitsOf(dir, 128).length
    assert(splits >= 63, s"got $splits splits")
    val ids = read(dir, "splitSize" -> "128").map(eventId)
    assert(ids.length == 64, s"lost lines at split boundaries: ${ids.length}/64")
    assert(ids.distinct.length == 64, "duplicated lines across splits")
  }

  test("packing: at most one task per slot, every split in exactly one task") {
    def packed(files: Seq[(String, Long)], splitSize: Long, slots: Int): Seq[Seq[CdcSplit]] =
      CdcScan.plan(files, splitSize, slots).toSeq.map(_.asInstanceOf[CdcTaskPartition].splits)
    def covers(tasks: Seq[Seq[CdcSplit]], splits: Seq[CdcSplit]): Boolean =
      tasks.flatten.sortBy(s => (s.file, s.start)) == splits.sortBy(s => (s.file, s.start))

    // small input: one task per slot, never more tasks than splits
    val small = (0 until 10).map(i => (f"/in/f$i%02d.json", 500L + i))
    val smallTasks = packed(small, 128L << 20, 4)
    assert(smallTasks.length == 4 && covers(smallTasks, CdcScan.splitFiles(small, 128L << 20)))
    assert(packed(small.take(3), 128L << 20, 4).length == 3)
    // large input: at least one task per splitSize bytes, whatever the slots
    val large = Seq(("/in/a", 2500L), ("/in/b", 10000L), ("/in/c", 0L), ("/in/d", 700L), ("/in/e", 3333L))
    val largeSplits = CdcScan.splitFiles(large, 1000)
    val largeTasks = packed(large, 1000, 4)
    assert(largeTasks.length == 17 && largeTasks.length >= (16533 + 999) / 1000)
    assert(covers(largeTasks, largeSplits) && largeTasks.forall(_.nonEmpty))
    // each task reads its splits in (path, start) order
    assert(largeTasks.forall(t => t == t.sortBy(s => (s.file, s.start))))
    // the grouping depends only on the offset range, not on listing order
    assert(packed(large.reverse, 1000, 4) == largeTasks && packed(large, 1000, 4) == largeTasks)
    assert(CdcScan.pack(scala.util.Random.shuffle(largeSplits), 1000, 4).toSeq ==
      CdcScan.pack(largeSplits, 1000, 4).toSeq)
    // a 100 GB file is still 800 tasks
    assert(CdcScan.plan(Seq(("/in/huge", 100L << 30)), 128L << 20, 4).length == 800)

    // end to end on local[4]: ten small files and an empty one read as four
    // tasks, every line exactly once
    val dir = Files.createTempDirectory("graft-dsv2-pack").toString
    (0 until 10).foreach { i =>
      Files.write(Paths.get(f"$dir/f$i%02d.json"), lines.take(3).map(_.replace("d-", s"f$i-")).mkString("\n").getBytes)
    }
    Files.write(Paths.get(s"$dir/empty.json"), Array.emptyByteArray)
    val df = spark.read.format(classOf[CdcSource].getName).load(dir)
    assert(df.rdd.getNumPartitions == 4, df.rdd.getNumPartitions.toString)
    val ids = df.collect().map(r => eventId(r.getString(0))).toSeq
    assert(ids.length == 30 && ids.distinct.length == 30)
    assert(read(s"$dir/empty.json").isEmpty)
  }

  test("escaped pk value: pushed equality still finds the row (residual authority)") {
    val dir = Files.createTempDirectory("graft-dsv2-esc").toString
    val esc =
      """{"eventID":"e-1","eventName":"INSERT","dynamodb":{"SizeBytes":10,"Keys":{"pk":{"S":"A\"B"}},"NewImage":{"pk":{"S":"A\"B"}}}}"""
    Files.write(Paths.get(s"$dir/a.json"), esc.getBytes)
    // the needle A"B is not escape-free, so the substring shortcut is
    // disabled and the row must still be found via parse + exact filter
    val pattern = Seq("A\"B")
    val read1 = read(dir, "pkFilters" -> PkFilter.toOption(pattern))
    assert(read1 == Seq(esc))
    val cfg = CdcConfig(eventSource = "dsv2", blobDir = "/tmp/unused", pkFilters = pattern)
    val kept = read1.flatMap(RecordProcessor.processLine(_, cfg, PkFilter.compile(pattern)))
    assert(kept.map(_.event.eventID) == Seq("e-1"))
  }

  test("missing pk under a pk filter drops; untagged pk drops like processLine") {
    val dir = Files.createTempDirectory("graft-dsv2-nopk").toString
    val noPk =
      """{"eventID":"n-1","eventName":"INSERT","dynamodb":{"SizeBytes":10,"Keys":{"sk":{"S":"USER#2"}},"NewImage":{"x":{"N":"1"}}}}"""
    val untagged =
      """{"eventID":"n-2","eventName":"INSERT","dynamodb":{"SizeBytes":10,"Keys":{"pk":"USER#2"},"NewImage":{"x":{"N":"1"}}}}"""
    Files.write(Paths.get(s"$dir/a.json"), Seq(noPk, untagged).mkString("\n").getBytes)
    val cfg = CdcConfig(eventSource = "dsv2", blobDir = "/tmp/unused")
    def kept(ls: Seq[String], pattern: Seq[String]): Seq[String] =
      ls.flatMap(RecordProcessor.processLine(_, cfg, PkFilter.compile(pattern))).map(_.event.eventID)
    // both lines contain the needle, so the source keeps both; neither may
    // satisfy pk = 'USER#2' (n-1 has no pk, n-2's Keys are malformed)
    val pruned = read(dir, "pkFilters" -> """["USER#2"]""")
    assert(pruned.map(eventId) == Seq("n-1", "n-2"))
    assert(kept(pruned, Seq("USER#2")).isEmpty)
    // unfiltered: the missing-pk record surfaces, the malformed-Keys record
    // drops entirely
    assert(kept(read(dir), Nil) == Seq("n-1"))
  }

  test("a poison byte in one file does not kill the scan (OP-3 at the source)") {
    val dir = Files.createTempDirectory("graft-dsv2-poison").toString
    val good =
      """{"eventID":"p-1","eventName":"INSERT","dynamodb":{"SizeBytes":10,"Keys":{"pk":{"S":"U"}},"NewImage":{"pk":{"S":"U"}}}}"""
    val bytes = ("garbageÿ".getBytes("ISO-8859-1") :+ 0xFF.toByte) ++
      ("\n" + good).getBytes("UTF-8")
    Files.write(Paths.get(s"$dir/a.json"), bytes)
    val got = read(dir)
    // the poison bytes become U+FFFD; the good line after them is intact
    assert(got.length == 2 && got.head.startsWith("garbage") && got.head.contains('\uFFFD'))
    assert(got(1) == good)
  }

  private def explainOf(q: StreamingQuery): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) { q.explain() }
    buf.toString
  }

  test("pkFilters option: patterns OR together; Catalyst conjuncts AND on top") {
    val dir = writeDir()
    // reference rule-array semantics: ["USER#1","ORG#*"] = eq OR prefix
    val either = read(dir, "pkFilters" -> """["USER#1","ORG#*"]""")
    assert(either.map(eventId).sorted == Seq("d-1", "d-3"))
    // a Catalyst predicate above the scan narrows the pattern set, never widens it
    val both = spark.read.format(classOf[CdcSource].getName)
      .option("pkFilters", """["USER#1","ORG#*"]""").load(dir)
      .filter(col("line").contains("\"USER#"))
    assert(both.collect().map(r => eventId(r.getString(0))).toSeq == Seq("d-1"))
  }

  test("micro-batch read: pk filter pushes into the streaming scan") {
    val dir = Files.createTempDirectory("graft-dsv2-mb").toString
    Files.write(Paths.get(s"$dir/a.json"), lines.take(3).mkString("\n").getBytes)
    val out = Files.createTempDirectory("graft-dsv2-mb-out").toString
    val ckpt = Files.createTempDirectory("graft-dsv2-mb-ckpt").toString
    // Catalyst doesn't push filters into streaming scans, so source-level
    // pruning arrives via the pkFilters OPTION; the exact check stays with
    // the record program, as in the pipeline.
    val q = spark.readStream.format(classOf[CdcSource].getName)
      .option("pkFilters", """["USER#*"]""").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val ids = spark.read.parquet(out).collect().map(r => eventId(r.getString(0))).sorted
    assert(ids.toSeq == Seq("d-1", "d-2"))
    val plan = explainOf(q)
    assert(plan.contains("pkFilters=[Prefix(USER#)]"), plan.take(600))
  }

  test("micro-batch read: only files newer than the committed offset are processed") {
    val dir = Files.createTempDirectory("graft-dsv2-tail").toString
    Files.write(Paths.get(s"$dir/a.json"), lines.take(3).mkString("\n").getBytes)
    val out = Files.createTempDirectory("graft-dsv2-tail-out").toString
    val ckpt = Files.createTempDirectory("graft-dsv2-tail-ckpt").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format(classOf[CdcSource].getName).load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def got: Seq[String] = spark.read.parquet(out).collect().map(_.getString(0)).toSeq.sorted
    runOnce()
    assert(got == lines.take(3).sorted)
    // a new file arrives; the committed offset keeps a.json from reprocessing
    Files.write(Paths.get(s"$dir/b.json"), lines.drop(3).mkString("\n").getBytes)
    runOnce()
    assert(got == lines.sorted, got.mkString("\n"))
    // nothing new → third run appends nothing (exactly-once over the offset log)
    runOnce()
    assert(got.length == 5)
  }

  test("maxFilesPerTrigger drains a backlog as bounded micro-batches") {
    val dir = Files.createTempDirectory("graft-dsv2-admission").toString
    // 3-file backlog; cap = 1 file per micro-batch
    Files.write(Paths.get(s"$dir/a.json"), lines.take(2).mkString("\n").getBytes)
    Files.write(Paths.get(s"$dir/b.json"), lines.slice(2, 3).mkString("\n").getBytes)
    Files.write(Paths.get(s"$dir/c.json"), lines.drop(4).mkString("\n").getBytes)
    val out = Files.createTempDirectory("graft-dsv2-admission-out").toString
    val ckpt = Files.createTempDirectory("graft-dsv2-admission-ckpt").toString
    val q = spark.readStream.format(classOf[CdcSource].getName)
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // every record arrived exactly once...
    val ids = spark.read.parquet(out).collect().map(r => eventId(r.getString(0))).sorted
    assert(ids.toSeq == Seq("d-1", "d-2", "d-3", "d-5"), ids.mkString(","))
    // ...across one micro-batch per file (offsets log batches 0,1,2)
    val batches = new java.io.File(s"$ckpt/offsets").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).sorted
    assert(batches.length == 3, s"expected 3 bounded batches, got ${batches.mkString(",")}")
  }

  test("CdcOffset roundtrips through its JSON encoding") {
    val o = CdcOffset(Map("/x/a b.json" -> 12L, "/x/b.json" -> 0L))
    assert(CdcOffset.fromJson(o.json()) == o)
    assert(CdcOffset.fromJson("") == CdcOffset(Map.empty))
  }
}
