package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.cdc.{CdcConfig, CdcPipeline}

/** The two CDC workloads. Both drive `CdcPipeline.stream` over generated
  * stream-record files and check the bus and blobs against the generator.
  */
object CdcWorkloads {

  def config(blobDir: Path): CdcConfig =
    CdcConfig(eventSource = CdcGen.Source, blobDir = blobDir.toString,
      pkFilters = Seq(CdcGen.PkFilter))

  /** Write `recs` as one JSON-lines file, through a staging name so a
    * listing never sees it half written.
    */
  def writeFile(staging: Path, dir: Path, name: String, recs: Seq[GenRecord]): Unit = {
    val tmp = staging.resolve(name)
    Files.write(tmp, recs.iterator.map(_.line).mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def offsetFiles(json: String): Set[String] =
    if (json == null || json.isEmpty) Set.empty
    else CdcCheck.parse(json).fieldNames.asScala.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet

  /** Input files a data batch read, from the source's offsets. */
  def batchFiles(p: StreamingQueryProgress): Set[String] = {
    val s = p.sources.head
    offsetFiles(s.endOffset) -- offsetFiles(s.startOffset)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  private def sleepUntil(t: Long): Unit = {
    val w = t - System.currentTimeMillis()
    if (w > 0) Thread.sleep(w)
  }

  // ---------------------------------------------------------------- backlog

  /** Closed-loop drain: the same pre-written backlog, drained by a fresh
    * query per round in bounded triggers. Untimed rounds warm the JVM; timed
    * rounds follow until the window is filled. Rounds are short, so a window
    * holds several and a median over them passes over a round slowed by a
    * burst of CPU steal.
    */
  def backlog(ctx: Ctx): Outcome = {
    val (nRecords, nFiles, filesPerTrigger, warmRounds) =
      if (ctx.smoke) (2000, 8, 2, 1) else (8000, 16, 4, 4)
    val gen = new CdcGen.Gen(ctx.seed)
    val recs = Vector.fill(nRecords)(gen.next())
    val in = ctx.dir("backlog/in")
    val staging = ctx.dir("backlog/staging")
    val fileRecs = recs.grouped(nRecords / nFiles).zipWithIndex.map { case (rs, i) =>
      val name = f"part-$i%05d.jsonl"
      writeFile(staging, in, name, rs)
      name -> rs.size
    }.toMap

    final case class Round(secs: Double, workNs: Long, jitNs: Long, tasks: Vector[Long],
        fresh: Vector[Double], progress: Vector[StreamingQueryProgress],
        storeBytes: Long, busFiles: Long, busBytes: Long, blobBytes: Long, failed: Int,
        heapMb: Double, stealPct: Double)

    def round(i: Int, check: Boolean): Round = {
      val dir = ctx.dir(s"backlog/round-$i")
      val bus = dir.resolve("bus"); val blobs = dir.resolve("blobs")
      // a full collection first, so every round starts with the old
      // generation holding only what outlives a round, not the garbage the
      // rounds before it promoted
      System.gc()
      val (work0, jit0, tasks0) = (Meter.workNanos(), Meter.jitNanos(), ctx.tasks.snapshot())
      Meter.resetHeapPeak()
      val wall0 = System.currentTimeMillis()
      val ticks0 = Env.cpuTicks()
      val t0 = System.nanoTime()
      val q = CdcPipeline.stream(ctx.spark, in.toString, bus.toString,
        dir.resolve("checkpoint").toString, config(blobs), filesPerTrigger).start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val stealPct = Env.stealPct(ticks0)
      val heapMb = Meter.heapPeakMb()
      val (work, jit) = (Meter.workNanos() - work0, Meter.jitNanos() - jit0)
      val tasks = ctx.tasks.snapshot().zip(tasks0).map { case (a, b) => a - b }
      val progress = Meter.dataProgress(q)
      // every backlog record is due when the drain starts
      val fresh = progress.flatMap { p =>
        val lag = (Meter.commitMs(p) - wall0).toDouble
        batchFiles(p).toVector.flatMap(f => Vector.fill(fileRecs(f))(lag))
      }
      val failed =
        if (!check) 0
        else CdcCheck.mismatches(recs, CdcCheck.readBus(ctx.spark, bus.toString), blobs.toString) +
          (if (fresh.size == nRecords) 0 else nRecords)
      val r = Round(secs, work, jit, tasks, fresh, progress, Meter.dirBytes(dir),
        Meter.dirFiles(bus, ".parquet"), Meter.dirBytes(bus), Meter.dirBytes(blobs), failed, heapMb, stealPct)
      deleteTree(dir)
      r
    }

    val warm = (0 until warmRounds).map(i => round(-1 - i, check = false))
    System.err.println(warm.map(r => f"${r.secs}%.2f").mkString("perfbench: warm rounds ", ", ", " s"))
    val setupS = Meter.uptimeMs() / 1000.0
    val rounds = Vector.newBuilder[Round]
    var timed = 0.0
    var i = 0
    while (timed < ctx.seconds || i == 0) {
      val r = round(i, check = true)
      rounds += r; timed += r.secs; i += 1
    }
    val rs = rounds.result()
    System.err.println(rs.map(r => f"perfbench: round ${r.secs}%.2f s, " +
      f"${r.progress.size} triggers, work cpu ${r.workNs / 1e9}%.2f s, jit cpu ${r.jitNs / 1e9}%.2f s, " +
      f"heap peak ${r.heapMb}%.1f MB, cpu steal ${r.stealPct}%.1f%%").mkString("\n"))

    // each trigger's input records over its execution time
    val triggerRates = rs.flatMap(_.progress).map { p =>
      batchFiles(p).toVector.map(fileRecs).sum * 1000.0 / Meter.phase(p, "triggerExecution")
    }
    val e2e = new Metrics
    e2e("setup_s", "s", setupS)
    e2e("records_per_s", "1/s", Meter.median(triggerRates))
    e2e("cpu_us_per_record", "us", Meter.median(rs.map(_.workNs / 1e3 / nRecords)))
    e2e("freshness_ms_p50", "ms", Meter.median(rs.map(r => Meter.median(r.fresh))))
    e2e("freshness_ms_tail", "ms",
      Meter.median(rs.map(r => Meter.quantile(r.fresh, Meter.tailQuantile(r.fresh.size)))))
    e2e("heap_peak_mb", "MB", Meter.median(rs.map(_.heapMb)))
    e2e("store_mb", "MB", Meter.median(rs.map(_.storeBytes / Layers.Mb)))

    val layers = new Metrics
    if (ctx.trace) {
      Replay.run(ctx, recs, layers)
      layers("cdc.bus_files", "count", Meter.median(rs.map(_.busFiles.toDouble)))
      layers("cdc.bus_mb", "MB", Meter.median(rs.map(_.busBytes / Layers.Mb)))
      layers("cdc.blob_mb", "MB", Meter.median(rs.map(_.blobBytes / Layers.Mb)))
      Layers.enginePhases(layers, rs.flatMap(_.progress))
      Layers.perTrigger(layers, rs.map(_.tasks).reduce(_.zip(_).map { case (a, b) => a + b }),
        rs.map(_.jitNs).sum, rs.map(_.progress.size).sum)
      layers("jvm.rss_peak_mb", "MB", Meter.rssPeakMb())
      Layers.bypassed(layers, Layers.Live)
    }
    // the corpus-store probe runs in the traced run only, after the window
    val (probeOps, probeFailed) = if (ctx.trace) CorpusProbe.run(ctx, layers) else (0L, 0L)
    Outcome(rs.size.toLong * nRecords + probeOps, rs.map(_.failed.toLong).sum + probeFailed, e2e, layers)
  }

  // ------------------------------------------------------------------- live

  /** Open loop: a generator thread writes one small file per tick at a fixed
    * rate, stamping each record with its due time, and the pipeline runs on
    * a fixed processing-time trigger. The JVM is first warmed untimed by a
    * back-to-back drain of files of the same shape.
    */
  def live(ctx: Ctx): Outcome = {
    val tickMs = 200L
    val triggerMs = 1000L
    val perTick = 20 // 100 records/s
    val ticksPerTrigger = (triggerMs / tickMs).toInt
    val warmTriggers = if (ctx.smoke) 3 else 30
    val gen = new CdcGen.Gen(ctx.seed)
    val staging = ctx.dir("live/staging")

    val warmIn = ctx.dir("live/warm-in")
    (0 until warmTriggers * ticksPerTrigger).foreach { k =>
      writeFile(staging, warmIn, f"warm-$k%08d.jsonl", Vector.fill(perTick)(gen.next()))
    }
    CdcPipeline.stream(ctx.spark, warmIn.toString, ctx.work.resolve("live/warm-bus").toString,
      ctx.work.resolve("live/warm-checkpoint").toString, config(ctx.dir("live/warm-blobs")),
      ticksPerTrigger).start().awaitTermination()

    val in = ctx.dir("live/in")
    val bus = ctx.work.resolve("live/bus"); val blobs = ctx.dir("live/blobs")
    val checkpoint = ctx.work.resolve("live/checkpoint")
    val q = CdcPipeline.stream(ctx.spark, in.toString, bus.toString, checkpoint.toString,
      config(blobs)).trigger(Trigger.ProcessingTime(triggerMs)).start()

    // Spark aligns processing-time triggers to multiples of the interval;
    // ticks sit half a tick before that grid, so a file lands well before
    // the trigger that should read it
    val g0 = (System.currentTimeMillis() / triggerMs + 1) * triggerMs - tickMs / 2
    // one settling trigger interval before the window
    val firstTick = ticksPerTrigger + 1L
    val lastTick = ticksPerTrigger + ctx.seconds * 1000L / tickMs
    val endTick = lastTick + ticksPerTrigger
    val written = new ConcurrentHashMap[String, Vector[(GenRecord, Long)]]()
    val lateness = new ConcurrentLinkedQueue[java.lang.Long]()
    val writer = new Thread(() => {
      (1L to endTick).foreach { k =>
        val due = g0 + k * tickMs
        sleepUntil(due)
        val batch = Vector.tabulate(perTick)(i => (gen.next(), due - tickMs + (i + 1) * tickMs / perTick))
        val name = f"live-$k%08d.jsonl"
        writeFile(staging, in, name, batch.map(_._1))
        written.put(name, batch)
        if (k >= firstTick && k <= lastTick) lateness.add(System.currentTimeMillis() - due)
      }
    }, "perfbench-generator")
    writer.setDaemon(true)
    writer.start()

    val windowStart = g0 + (firstTick - 1) * tickMs
    val windowEnd = g0 + lastTick * tickMs
    sleepUntil(windowStart)
    val setupS = Meter.uptimeMs() / 1000.0
    Meter.resetHeapPeak()
    val (tasks0, jit0) = (ctx.tasks.snapshot(), Meter.jitNanos())
    // work CPU per trigger interval; each interval holds one trigger and the
    // records due in one interval
    val intervals = ((windowEnd - windowStart) / triggerMs).toInt
    val cpuSamples = (1 to intervals).map { k =>
      val c0 = Meter.workNanos()
      sleepUntil(windowStart + k * triggerMs)
      (Meter.workNanos() - c0).toDouble
    }
    val tasks = ctx.tasks.snapshot().zip(tasks0).map { case (a, b) => a - b }
    val jit = Meter.jitNanos() - jit0
    val heapMb = Meter.heapPeakMb()
    writer.join()
    // stop only once every written file is committed, so the store always
    // holds the same files however the triggers fell
    q.processAllAvailable()
    q.stop()

    val windowFiles = (firstTick to lastTick).map(k => f"live-$k%08d.jsonl")
    val progress = Meter.dataProgress(q)
    val commitOf = progress.flatMap(p => batchFiles(p).map(_ -> Meter.commitMs(p))).toMap
    val windowRecs = windowFiles.flatMap(f => written.get(f))
    val fresh = windowFiles.flatMap { f =>
      commitOf.get(f).toVector.flatMap(c => written.get(f).map { case (_, due) => (c - due).toDouble })
    }
    val uncommitted = windowFiles.filterNot(commitOf.contains).map(written.get(_).size).sum
    // rows of records outside the window are not checked; rows of no
    // generated record are
    val allIds = written.values.asScala.flatMap(_.map(_._1.eventID)).toSet
    val windowIds = windowRecs.map(_._1.eventID).toSet
    val failed = uncommitted + CdcCheck.mismatches(windowRecs.map(_._1),
      CdcCheck.readBus(ctx.spark, bus.toString)
        .filter(r => windowIds.contains(r.eventID) || !allIds.contains(r.eventID)),
      blobs.toString)
    val lastCommit = windowFiles.flatMap(commitOf.get).maxOption.getOrElse(windowEnd)
    val windowProgress = progress.filter(p => batchFiles(p).exists(windowFiles.contains))
    val n = windowRecs.size
    System.err.println(f"perfbench: ${windowProgress.size} live triggers, median " +
      f"${Meter.median(windowProgress.map(Meter.phase(_, "triggerExecution")))}%.0f ms, " +
      f"jit cpu ${jit / 1e9}%.2f s, heap peak $heapMb%.1f MB, ${progress.size} batches, " +
      f"bus ${Meter.dirBytes(bus)} B, blobs ${Meter.dirBytes(blobs)} B, checkpoint ${Meter.dirBytes(checkpoint)} B, " +
      cpuSamples.map(c => f"${c / 1e6}%.0f").mkString("work cpu per interval ", " ", " ms"))

    val e2e = new Metrics
    e2e("setup_s", "s", setupS)
    e2e("records_per_s", "1/s", n * 1000.0 / (lastCommit - windowStart))
    e2e("cpu_us_per_record", "us", Meter.median(cpuSamples) / 1e3 / (n.toDouble / intervals))
    e2e("freshness_ms_p50", "ms", Meter.median(fresh))
    e2e("freshness_ms_tail", "ms", Meter.quantile(fresh, Meter.tailQuantile(fresh.size)))
    e2e("heap_peak_mb", "MB", heapMb)
    e2e("store_mb", "MB",
      (Meter.dirBytes(bus) + Meter.dirBytes(blobs) + Meter.dirBytes(checkpoint)) / Layers.Mb)

    val layers = new Metrics
    if (ctx.trace) {
      Replay.run(ctx, windowRecs.map(_._1), layers)
      layers("cdc.bus_files", "count", Meter.dirFiles(bus, ".parquet").toDouble)
      layers("cdc.bus_mb", "MB", Meter.dirBytes(bus) / Layers.Mb)
      layers("cdc.blob_mb", "MB", Meter.dirBytes(blobs) / Layers.Mb)
      Layers.enginePhases(layers, windowProgress)
      Layers.perTrigger(layers, tasks, jit, intervals)
      layers("gen.lateness_ms_max", "ms", lateness.asScala.map(_.toDouble).max)
      layers("sources.pending_files_max", "count", windowProgress.map(batchFiles(_).size.toDouble).max)
      layers("jvm.rss_peak_mb", "MB", Meter.rssPeakMb())
      Layers.bypassed(layers, Layers.Corpus)
    }
    Outcome(n.toLong, failed.toLong, e2e, layers)
  }
}
