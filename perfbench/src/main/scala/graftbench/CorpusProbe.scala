package graftbench

import java.nio.file.Files
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.streaming.Trigger

import graft.ops.Dedup
import graft.streaming.{BucketedCorpusIngest, CorpusIngest}

/** The corpus-store probe of the traced `cdc_backlog` run: document CDC
  * events drained in bounded triggers into the shingle-bucketed corpus store
  * (`BucketedCorpusIngest`), measuring the `graft.streaming` stores and the
  * `graft.ops` incremental probe. Every verdict is known by construction:
  * exact copies of live documents are duplicates of them, text from the
  * stream vocabulary (disjoint from the static corpus's) is new, and copies
  * of retired text are new again.
  */
object CorpusProbe {
  final case class Want(isDup: Boolean, matchId: Long)

  final case class Plan(static: Vector[(Long, String)],
      triggers: Vector[Vector[CorpusIngest.DocEvent]],
      verdicts: Map[Long, Want], live: Set[Long])

  private val Words = 30

  def plan(seed: Long, nStatic: Int, nTriggers: Int, perTrigger: Int): Plan = {
    val rnd = new SplittableRandom(seed)
    def text(prefix: String): String = {
      val ws = mutable.LinkedHashSet.empty[String]
      while (ws.size < Words) ws += s"$prefix${rnd.nextInt(5000)}"
      ws.mkString(" ")
    }
    def pick[T](xs: mutable.ArrayBuffer[T]): T = xs.remove(rnd.nextInt(xs.size))
    val static = Vector.tabulate(nStatic)(i => (i.toLong + 1, text("a")))
    val textOf = mutable.Map.empty[Long, String] ++= static
    val liveStatic = mutable.ArrayBuffer.from(static.map(_._1))
    val streamLive = mutable.ArrayBuffer.empty[Long]
    val deadTexts = mutable.ArrayBuffer.empty[String]
    val verdicts = mutable.Map.empty[Long, Want]
    val live = mutable.Set.empty[Long] ++= static.map(_._1)
    var nextId = 1000000L
    var seq = 0L
    val triggers = Vector.tabulate(nTriggers) { t =>
      val evs = Vector.newBuilder[CorpusIngest.DocEvent]
      def ev(id: Long, kind: String, txt: String): Unit = {
        evs += CorpusIngest.DocEvent(seq, id, kind, txt); seq += 1
      }
      def share(p: Double) = (perTrigger * p).toInt
      val nCopyStream = if (t == 0) 0 else share(0.10)
      val nCopyDead = if (t == 0) 0 else share(0.10)
      val nCopyStatic = share(0.15)
      val nModify = share(0.10)
      val nRemove = share(0.10)
      val nFresh = perTrigger - nCopyStream - nCopyDead - nCopyStatic - nModify - nRemove
      // targets of copies must stay live through this trigger, so pick them
      // from what earlier triggers left before this trigger's retirements
      val admittedHere = mutable.ArrayBuffer.empty[Long]
      val deadHere = mutable.ArrayBuffer.empty[String]
      val copyStatic = Vector.fill(nCopyStatic)(pick(liveStatic))
      (0 until nModify).foreach { _ =>
        val w = pick(liveStatic)
        deadHere += textOf(w)
        val t2 = text("b"); textOf(w) = t2
        ev(w, "MODIFY", t2); verdicts(w) = Want(false, -1L); admittedHere += w
      }
      (0 until nRemove).foreach { _ =>
        val z = pick(liveStatic)
        deadHere += textOf(z); live -= z
        ev(z, "REMOVE", "")
      }
      copyStatic.foreach { x =>
        val id = nextId; nextId += 1
        ev(id, "INSERT", textOf(x)); verdicts(id) = Want(true, x)
        liveStatic += x
      }
      (0 until nCopyStream).foreach { _ =>
        val y = streamLive(rnd.nextInt(streamLive.size))
        val id = nextId; nextId += 1
        ev(id, "INSERT", textOf(y)); verdicts(id) = Want(true, y)
      }
      (0 until nCopyDead).foreach { _ =>
        val id = nextId; nextId += 1
        val txt = pick(deadTexts); textOf(id) = txt
        ev(id, "INSERT", txt); verdicts(id) = Want(false, -1L); live += id
      }
      (0 until nFresh).foreach { _ =>
        val id = nextId; nextId += 1
        val txt = text("b"); textOf(id) = txt
        ev(id, "INSERT", txt); verdicts(id) = Want(false, -1L); live += id
        admittedHere += id
      }
      streamLive ++= admittedHere.filter(_ >= 1000000L)
      deadTexts ++= deadHere
      evs.result()
    }
    Plan(static, triggers, verdicts.toMap, live.toSet)
  }

  /** Bootstrap the store from a 500-document static corpus, drain one
    * untimed and three measured triggers of 100 events, check every verdict
    * and the final live set, and report the store layers. Returns the events
    * checked and the mismatches.
    */
  def run(ctx: Ctx, out: Metrics): (Long, Long) = {
    val spark = ctx.spark
    import spark.implicits._
    val (nStatic, perTrigger, nTriggers) = if (ctx.smoke) (200, 40, 2) else (500, 100, 4)
    val p = plan(ctx.seed, nStatic, nTriggers, perTrigger)
    val in = ctx.dir("corpus/in")
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    p.triggers.zipWithIndex.foreach { case (evs, i) =>
      val f = in.resolve(f"events-$i%05d.json")
      Files.write(f, evs.map(e =>
        s"""{"seq":${e.seq},"doc_id":${e.doc_id},"event":"${e.event}","text":"${e.text}"}""")
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      // the file source orders new files by modification time
      Files.setLastModifiedTime(f, FileTime.fromMillis(t0 + i * 1000L))
    }

    val table = "corpus_store"
    val auxDir = ctx.dir("corpus/aux")
    val aux = auxDir.resolve("idx").toString
    BucketedCorpusIngest.bootstrap(spark, table, aux,
      Dedup.shingles(p.static.toDF("doc_id", "text")),
      nBuckets = spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val verdicts = new java.util.concurrent.ConcurrentHashMap[Long, Array[(Long, Long, Long)]]()
    val sinkDone = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val events = spark.readStream.schema(Encoders.product[CorpusIngest.DocEvent].schema)
      .option("maxFilesPerTrigger", "1").json(in.toString).as[CorpusIngest.DocEvent]
    val q = BucketedCorpusIngest.ingestStream(events, table, aux, (df: DataFrame, b: Long) => {
      verdicts.put(b, df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))))
      sinkDone.put(b, System.currentTimeMillis())
      ()
    }).option("checkpointLocation", ctx.work.resolve("corpus/checkpoint").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val progress = Meter.dataProgress(q)
    val measured = progress.drop(1)

    val got = verdicts.asScala.values.toVector.flatMap(_.toVector)
    val upserts = p.triggers.flatten.filter(_.event != "REMOVE").map(_.doc_id).toSet
    val byId = got.groupBy(_._1)
    val badVerdicts = upserts.count { id =>
      val w = p.verdicts(id)
      byId.get(id) match {
        case Some(Vector((_, m, d))) => (d == 1L) != w.isDup || (w.isDup && m != w.matchId)
        case _ => true
      }
    } + byId.keySet.count(id => !upserts.contains(id))
    val badBatches = progress.zipWithIndex.count { case (pr, k) => pr.numInputRows != p.triggers(k).size } +
      math.abs(progress.size - nTriggers)
    val liveIds = BucketedCorpusIngest.liveIndex(spark, table, aux)
      .select("doc_id").distinct().as[Long].collect().toSet
    val wantLive = p.live
    val failed = badVerdicts + badBatches + (liveIds -- wantLive).size + (wantLive -- liveIds).size

    val tableDir = ctx.work.resolve("warehouse").resolve(table)
    val tableRows = BucketedCorpusIngest.tableScan(spark, table).count()
    val liveRows = BucketedCorpusIngest.liveIndex(spark, table, aux).count()
    // from the verdict sink's return to the end of the trigger's store writes
    val sinkMs = measured.flatMap(pr => Option(sinkDone.get(pr.batchId)).map(d =>
      (Meter.commitMs(pr) - Meter.phase(pr, "commitOffsets") - d).toDouble))
    out("streaming.trigger_ms", "ms", Meter.median(measured.map(Meter.phase(_, "triggerExecution"))))
    out("streaming.sink_ms", "ms", Meter.median(sinkMs))
    out("streaming.admitted", "count", got.count(_._3 == 0L).toDouble)
    out("streaming.rejected", "count", got.count(_._3 == 1L).toDouble)
    out("streaming.retired", "count",
      spark.read.parquet(graft.streaming.IndexTombstones.dir(aux)).count().toDouble)
    out("streaming.store_files", "count",
      (Meter.dirFiles(tableDir, ".parquet") + Meter.dirFiles(auxDir, ".parquet")).toDouble)
    out("streaming.store_live_rows", "count", liveRows.toDouble)
    out("streaming.store_dead_rows", "count", (tableRows - liveRows).toDouble)
    out("streaming.store_mb", "MB", (Meter.dirBytes(tableDir) + Meter.dirBytes(auxDir)) / Layers.Mb)
    out("streaming.aux_mb", "MB", Meter.dirBytes(auxDir) / Layers.Mb)
    System.err.println(f"perfbench: corpus probe triggers " +
      progress.map(pr => f"${Meter.phase(pr, "triggerExecution") / 1e3}%.2f").mkString(" ") + " s")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    (upserts.size.toLong, failed.toLong)
  }
}
