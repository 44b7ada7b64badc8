package graftbench

import scala.util.control.NonFatal

import graft.attr.{AttrCodec, AttrVal}
import graft.cdc.{CdcPipeline, PkFilter, RecordProcessor}
import graft.diff.Diff
import graft.sources.ReaderAccess

/** Single-threaded replay of generated records through the calls
  * `CdcPipeline.stream` makes for each record, timing each layer:
  *
  *  1. the source reader: `RecordProcessor.parseRecord`, then the pk text
  *     of `Keys` (`AttrCodec.unmarshallItem`) against the pk filter;
  *  2. `RecordProcessor.processSafe`, which unmarshalls `Keys`, `NewImage`
  *     and `OldImage` from their strings and runs the record program;
  *  3. `RecordProcessor.toBusEvent` and `CdcPipeline.writeBlob`.
  *
  * `processSafe` is timed whole. Its unmarshall and diff are also timed
  * alone on the same record, with the same calls, and taken out of it, which
  * leaves the record program's own time. The first pass warms the code; the
  * second is measured.
  */
object Replay {
  private final class Clock { var ns = 0L; var n = 0L
    def add(d: Long): Unit = { ns += d; n += 1 }
    def us: Double = if (n == 0) 0.0 else ns / 1e3 / n
  }

  /** `f`'s result and its run time in nanoseconds. */
  private def timed[T](f: => T): (T, Long) = {
    val t = System.nanoTime(); val r = f; (r, System.nanoTime() - t)
  }

  def run(ctx: Ctx, recs: Seq[GenRecord], out: Metrics): Unit = {
    val blobDir = ctx.dir("replay/blobs")
    val cfg = CdcWorkloads.config(blobDir)
    val rules = PkFilter.compile(cfg.pkFilters)
    def unm(s: String) = AttrVal.normalizeSets(AttrCodec.unmarshallItem(s)).asInstanceOf[AttrVal.MVal]
    val parse, unmarshall, diff, process, bus, blob = new Clock
    var paths, suppressed, claimChecked, dropped = 0L
    for (_ <- 0 until 2) {
      Seq(parse, unmarshall, diff, process, bus, blob).foreach { c => c.ns = 0; c.n = 0 }
      paths = 0; suppressed = 0; claimChecked = 0; dropped = 0
      recs.iterator.zipWithIndex.foreach { case (g, i) =>
        val (rec, parseNs) = timed(try RecordProcessor.parseRecord(g.line) catch { case NonFatal(_) => None })
        parse.add(parseNs)
        val keys = rec.flatMap(_.dynamodb).flatMap(_.Keys)
        val (pkOk, pkNs) = timed(try keys.flatMap(ReaderAccess.pkText).exists(PkFilter.matches(_, rules))
          catch { case NonFatal(_) => false })
        (rec, pkOk) match {
          case (Some(r), true) =>
            // the same unmarshall and diff processSafe runs, timed alone;
            // which of the two runs first alternates, so neither always
            // finds the record in cache
            def split() = {
              val ddb = r.dynamodb.get
              val (images, imagesNs) = timed(try Some((ddb.NewImage.map(unm), ddb.OldImage.map(unm),
                keys.map(unm))) catch { case NonFatal(_) => None })
              (imagesNs, images.map { case (n, o, _) => timed(Diff.diffImages(n, o).attributesChanged) })
            }
            def whole() = timed(RecordProcessor.processSafe(r, cfg))
            val ((p, processNs), (imagesNs, changed)) =
              if ((i & 1) == 0) { val sp = split(); (whole(), sp) } else (whole(), split())
            val isSuppressed = p.isEmpty && r.eventName.contains("MODIFY") && changed.exists(_._1.isEmpty)
            if (p.isDefined || isSuppressed) {
              val (c, diffNs) = changed.get
              unmarshall.add(pkNs + imagesNs)
              diff.add(diffNs); paths += c.size
              process.add(processNs - imagesNs - diffNs)
            }
            p match {
              case None => if (isSuppressed) suppressed += 1 else dropped += 1
              case Some(pr) =>
                bus.add(timed(RecordProcessor.toBusEvent(pr.event, cfg))._2)
                pr.blob.foreach { b =>
                  claimChecked += 1
                  blob.add(timed(CdcPipeline.writeBlob(blobDir.toString, b))._2)
                }
            }
          case _ => dropped += 1
        }
      }
    }
    out("attr.parse_us", "us", parse.us)
    out("attr.unmarshall_us", "us", unmarshall.us)
    out("diff.diff_us", "us", diff.us)
    out("diff.paths_per_record", "count", if (diff.n == 0) 0.0 else paths.toDouble / diff.n)
    out("cdc.process_us", "us", process.us)
    out("cdc.bus_event_us", "us", bus.us)
    out("cdc.blob_write_us", "us", blob.us)
    out("cdc.records_suppressed", "count", suppressed.toDouble)
    out("cdc.records_claim_checked", "count", claimChecked.toDouble)
    out("cdc.records_dropped", "count", dropped.toDouble)
    CdcWorkloads.deleteTree(ctx.work.resolve("replay"))
  }
}
