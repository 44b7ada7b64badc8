package graftbench

import java.util.{Base64, SplittableRandom}

/** Plain item values, built by the generator and written in both forms the
  * benchmark needs: the DynamoDB wire form the pipeline reads, and the
  * engine-mode plain JSON the pipeline should print (sets as sorted arrays,
  * binary as an index-keyed object). Independent of `graft.attr`, so the
  * checks do not lean on the code they check.
  */
sealed trait PV
object PV {
  final case class S(v: String) extends PV
  /** `text` is the wire text; two texts with equal numeric value are equal. */
  final case class N(text: String) extends PV
  final case class Bool(v: Boolean) extends PV
  case object Null extends PV
  final case class M(fields: Vector[(String, PV)]) extends PV {
    def get(k: String): PV = fields.find(_._1 == k).get._2
    def set(k: String, v: PV): M =
      if (fields.exists(_._1 == k)) M(fields.map { case (kk, vv) => (kk, if (kk == k) v else vv) })
      else M(fields :+ (k -> v))
    def drop(k: String): M = M(fields.filterNot(_._1 == k))
  }
  final case class L(items: Vector[PV]) extends PV
  final case class SS(items: Vector[String]) extends PV
  final case class NS(items: Vector[String]) extends PV
  final case class B(bytes: Vector[Byte]) extends PV
  final case class BS(items: Vector[Vector[Byte]]) extends PV

  private def b64(b: Vector[Byte]): String = Base64.getEncoder.encodeToString(b.toArray)

  def str(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c    => sb.append(c)
    }
    sb.append('"')
  }

  private def seq[T](xs: Seq[T], sb: java.lang.StringBuilder)(f: T => Unit): Unit = {
    sb.append('[')
    xs.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); f(x) }
    sb.append(']')
  }

  private def obj[T](xs: Seq[(String, T)], sb: java.lang.StringBuilder)(f: T => Unit): Unit = {
    sb.append('{')
    xs.iterator.zipWithIndex.foreach { case ((k, v), i) =>
      if (i > 0) sb.append(','); str(k, sb); sb.append(':'); f(v)
    }
    sb.append('}')
  }

  /** DynamoDB AttributeValue wire form. */
  def wire(v: PV, sb: java.lang.StringBuilder): Unit = v match {
    case S(s)     => sb.append("{\"S\":"); str(s, sb); sb.append('}')
    case N(t)     => sb.append("{\"N\":"); str(t, sb); sb.append('}')
    case Bool(b)  => sb.append("{\"BOOL\":").append(b).append('}')
    case Null     => sb.append("{\"NULL\":true}")
    case M(fs)    => sb.append("{\"M\":"); wireItem(M(fs), sb); sb.append('}')
    case L(xs)    => sb.append("{\"L\":"); seq(xs, sb)(wire(_, sb)); sb.append('}')
    case SS(xs)   => sb.append("{\"SS\":"); seq(xs, sb)(str(_, sb)); sb.append('}')
    case NS(xs)   => sb.append("{\"NS\":"); seq(xs, sb)(str(_, sb)); sb.append('}')
    case B(b)     => sb.append("{\"B\":"); str(b64(b), sb); sb.append('}')
    case BS(xs)   => sb.append("{\"BS\":"); seq(xs, sb)(x => str(b64(x), sb)); sb.append('}')
  }

  def wireItem(m: M, sb: java.lang.StringBuilder): Unit = obj(m.fields, sb)(wire(_, sb))

  private def binObj(b: Vector[Byte], sb: java.lang.StringBuilder): Unit =
    obj(b.zipWithIndex.map { case (x, i) => (i.toString, x & 0xff) }, sb)(n => sb.append(n))

  /** Engine-mode plain JSON of an unmarshalled value. */
  def plain(v: PV, sb: java.lang.StringBuilder): Unit = v match {
    case S(s)    => str(s, sb)
    case N(t)    => sb.append(t)
    case Bool(b) => sb.append(b)
    case Null    => sb.append("null")
    case M(fs)   => obj(fs, sb)(plain(_, sb))
    case L(xs)   => seq(xs, sb)(plain(_, sb))
    case SS(xs)  => seq(xs.sorted, sb)(str(_, sb))
    case NS(xs)  => seq(xs.sortBy(BigDecimal(_)), sb)(t => sb.append(t))
    case B(b)    => binObj(b, sb)
    case BS(xs)  => seq(xs.sortBy(b64), sb)(binObj(_, sb))
  }

  def plainString(v: PV): String = { val sb = new java.lang.StringBuilder; plain(v, sb); sb.toString }
}

/** What the pipeline must do with one input line. */
sealed trait Expect
object Expect {
  /** Dropped before the bus: invalid, malformed or pk-filtered. */
  case object Dropped extends Expect
  /** A MODIFY whose images are equal in engine mode. */
  case object Suppressed extends Expect
  /** Published once. `inline*` and `blob` hold the plain JSON expected. */
  final case class Emit(op: String, pk: String, paths: Vector[String],
      inlineNew: Option[String], inlineOld: Option[String],
      blob: Option[String]) extends Expect
}

/** One generated input line with its ground truth. */
final case class GenRecord(eventID: String, line: String, expect: Expect)

/** Seeded generator of DynamoDB stream-record JSON lines. Every block of
  * [[CdcGen.BlockSize]] records holds exactly [[CdcGen.Mix]]; the seed picks
  * the order inside the block (large items keep fixed slots) and every value,
  * so the work per block is the same on every seed.
  */
object CdcGen {
  val SizeThreshold: Long = 64 * 1024
  val PkFilter = "item#*"
  val Source = "perfbench"
  val DetailType = "dynamo.item.changed"

  sealed trait Kind
  case object Insert extends Kind
  case object Modify extends Kind
  case object NoopModify extends Kind
  case object Remove extends Kind
  case object BigInsert extends Kind
  case object BigModify extends Kind
  case object BigShrinkModify extends Kind
  case object BigRemove extends Kind
  case object NoSizeModify extends Kind
  case object ZeroSizeInsert extends Kind
  case object ZeroSizeRemove extends Kind
  case object FilteredModify extends Kind
  case object Invalid extends Kind
  case object Malformed extends Kind

  /** The shares are chosen for coverage, not taken from observed traffic
    * (we know of no public figures for them). Every kind other than plain
    * INSERT, MODIFY and REMOVE appears as often as the checks need to see
    * each of its forms once per block, except the pk-filtered kind, whose
    * ten records make the reader's pruning a visible share of the work.
    * DynamoDB Streams writes no record for a write that leaves the item
    * unchanged, so a MODIFY is a no-op to the engine only through set order
    * or number spelling, and real streams always carry a non-zero
    * `SizeBytes`: those kinds get one record each.
    */
  val BlockSize = 1000
  val Mix: Seq[(Kind, Int)] = Seq(
    Insert -> 325, Modify -> 519, NoopModify -> 1, Remove -> 131,
    BigInsert -> 1, BigModify -> 1, BigShrinkModify -> 1, BigRemove -> 1,
    NoSizeModify -> 1, ZeroSizeInsert -> 1, ZeroSizeRemove -> 1,
    FilteredModify -> 10, Invalid -> 4, Malformed -> 3)
  require(Mix.map(_._2).sum == BlockSize)

  private val words = Vector("alpha", "bravo", "delta", "echo", "golf", "hotel",
    "india", "kilo", "lima", "mike", "oscar", "papa", "romeo", "sierra", "tango",
    "victor", "whiskey", "yankee", "zulu", "quote\"d", "back\\slash")

  final class Gen(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    private var blockKinds: IndexedSeq[Kind] = IndexedSeq.empty
    private var pos = 0
    private var serial = 0L
    // invalid and malformed lines cycle through their forms, so every block
    // holds each form once
    private var invalids, malformeds = 0

    private def text(n: Int): String =
      Iterator.fill(n)(words(rnd.nextInt(words.length))).mkString(" ")
    private def bytes(n: Int): Vector[Byte] = Vector.fill(n)(rnd.nextInt(256).toByte)
    private def num(): String = rnd.nextInt(4) match {
      case 0 => rnd.nextInt(1000000).toString
      case 1 => s"${rnd.nextInt(1000)}.${rnd.nextInt(90) + 10}"
      case 2 => s"-${rnd.nextInt(5000)}"
      case _ => s"${rnd.nextInt(100)}.5"
    }
    private def distinct[T](n: Int)(f: => T): Vector[T] = {
      val out = scala.collection.mutable.LinkedHashSet.empty[T]
      while (out.size < n) out += f
      out.toVector
    }
    private def shuffle[T](xs: Vector[T]): Vector[T] = {
      val a = scala.collection.mutable.ArrayBuffer.from(xs)
      var i = a.length - 1
      while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.toVector
    }

    private def item(pk: String, bodyChars: Int): PV.M = PV.M(Vector(
      "pk" -> PV.S(pk), "sk" -> PV.S("v1"),
      "name" -> PV.S(text(3)),
      "count" -> PV.N(rnd.nextInt(100000).toString),
      "price" -> PV.N(s"${rnd.nextInt(500)}.50"),
      "active" -> PV.Bool(rnd.nextBoolean()),
      "note" -> PV.Null,
      "meta" -> PV.M(Vector(
        "a" -> PV.M(Vector("b" -> PV.N(num()), "c" -> PV.S(text(2)))),
        "tags" -> PV.L(Vector.fill(3)(PV.S(text(1)))))),
      "ss" -> PV.SS(distinct(3)(text(2))),
      "ns" -> PV.NS(distinct(3)(num())),
      "bin" -> PV.B(bytes(16)),
      "bs" -> PV.BS(distinct(2)(bytes(8))),
      "hist" -> PV.L(Vector.fill(5)(PV.N(num()))),
      "body" -> PV.S(text(bodyChars / 6))))

    /** Apply 1 to 3 distinct changes; returns the new image and the paths
      * the diff must report. `body` forces the replacement of the long text
      * in or out; a large item's fate (claim-checked or inline) hangs on it.
      */
    private def mutate(old: PV.M, body: Option[Boolean] = None): (PV.M, Vector[String]) = {
      val n = 1 + rnd.nextInt(3)
      val picks = body match {
        case None        => shuffle((0 until 12).toVector).take(n)
        case Some(false) => shuffle((0 until 11).toVector).take(n)
        case Some(true)  => shuffle((0 until 11).toVector).take(n - 1) :+ 11
      }
      picks.foldLeft((old, Vector.empty[String])) { case ((m, paths), k) =>
        k match {
          case 0 => (m.set("name", PV.S(text(3) + " x")), paths :+ "name")
          case 1 =>
            val PV.N(c) = m.get("count"): @unchecked
            (m.set("count", PV.N((c.toLong + 1).toString)), paths :+ "count")
          case 2 =>
            val meta = m.get("meta").asInstanceOf[PV.M]
            val a = meta.get("a").asInstanceOf[PV.M]
            val PV.N(b) = a.get("b"): @unchecked
            (m.set("meta", meta.set("a", a.set("b", PV.N((BigDecimal(b) + 1).toString)))),
              paths ++ Vector("meta", "meta.a", "meta.a.b"))
          case 3 =>
            val meta = m.get("meta").asInstanceOf[PV.M]
            val PV.L(tags) = meta.get("tags"): @unchecked
            (m.set("meta", meta.set("tags", PV.L(tags :+ PV.S("new")))),
              paths ++ Vector("meta", "meta.tags"))
          case 4 =>
            val PV.SS(xs) = m.get("ss"): @unchecked
            (m.set("ss", PV.SS(xs :+ "member added")), paths :+ "ss")
          case 5 =>
            val PV.B(b) = m.get("bin"): @unchecked
            val i = rnd.nextInt(b.length)
            (m.set("bin", PV.B(b.updated(i, (b(i) ^ 0x5a).toByte))), paths ++ Vector("bin", s"bin.$i"))
          case 6 => (m.set("extra", PV.S(text(2))), paths :+ "extra")
          case 7 => (m.drop("note"), paths :+ "note")
          case 8 =>
            val PV.L(h) = m.get("hist"): @unchecked
            val j = rnd.nextInt(h.length)
            val PV.N(t) = h(j): @unchecked
            (m.set("hist", PV.L(h.updated(j, PV.N((BigDecimal(t) + 7).toString)))), paths :+ "hist")
          case 9 =>
            val PV.Bool(b) = m.get("active"): @unchecked
            (m.set("active", PV.Bool(!b)), paths :+ "active")
          case 10 =>
            val PV.NS(xs) = m.get("ns"): @unchecked
            (m.set("ns", PV.NS(xs :+ "123456789.25")), paths :+ "ns")
          case _ => (m.set("body", PV.S(text(40))), paths :+ "body")
        }
      }
    }

    /** Equal in engine mode: set order shuffled, a number re-spelled. */
    private def noop(old: PV.M): PV.M = {
      val PV.N(p) = old.get("price"): @unchecked
      val PV.SS(ss) = old.get("ss"): @unchecked
      val PV.NS(ns) = old.get("ns"): @unchecked
      val PV.BS(bs) = old.get("bs"): @unchecked
      old.set("price", PV.N(p.stripSuffix("0")))
        .set("ss", PV.SS(ss.reverse)).set("ns", PV.NS(ns.reverse)).set("bs", PV.BS(bs.reverse))
    }

    private def keys(m: PV.M): Vector[String] = m.fields.map(_._1)

    private def wireLine(id: String, op: String, size: Option[Long], pk: String,
        newImg: Option[PV.M], oldImg: Option[PV.M]): String = {
      val sb = new java.lang.StringBuilder(2048)
      sb.append("{\"eventID\":"); PV.str(id, sb)
      sb.append(",\"eventName\":"); PV.str(op, sb)
      sb.append(",\"dynamodb\":{")
      size.foreach(s => sb.append("\"SizeBytes\":").append(s).append(','))
      sb.append("\"Keys\":{\"pk\":{\"S\":"); PV.str(pk, sb); sb.append("},\"sk\":{\"S\":\"v1\"}}")
      newImg.foreach { m => sb.append(",\"NewImage\":"); PV.wireItem(m, sb) }
      oldImg.foreach { m => sb.append(",\"OldImage\":"); PV.wireItem(m, sb) }
      sb.append("}}")
      sb.toString
    }

    private def wireSize(m: PV.M): Long = {
      val sb = new java.lang.StringBuilder; PV.wireItem(m, sb); sb.length.toLong
    }

    private def emit(id: String, op: String, pk: String, size: Option[Long],
        newImg: Option[PV.M], oldImg: Option[PV.M], paths: Vector[String]): GenRecord = {
      val small = size.exists(s => s != 0L && s < SizeThreshold)
      val blob =
        if (small) None
        else {
          val fields = oldImg.map(m => "oldImage" -> PV.plainString(m)).toVector ++
            newImg.map(m => "newImage" -> PV.plainString(m)).toVector
          Some(fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
        }
      GenRecord(id, wireLine(id, op, size, pk, newImg, oldImg),
        Expect.Emit(op, pk, paths.distinct.sorted,
          if (small) newImg.map(PV.plainString) else None,
          if (small && op == "REMOVE") oldImg.map(PV.plainString) else None,
          blob))
    }

    def next(): GenRecord = {
      if (pos == blockKinds.length) {
        // large items sit at fixed, evenly spaced slots in a fixed order, so
        // any run of records holds the same large items; every other kind
        // is shuffled
        val (big, small) = Mix.flatMap { case (k, n) => Vector.fill(n)(k) }.toVector
          .partition(Set[Kind](BigInsert, BigModify, BigShrinkModify, BigRemove))
        val slots = big.indices.map(i => (2 * i + 1) * BlockSize / (2 * big.size))
        blockKinds = big.zip(slots).foldLeft(shuffle(small)) { case (ks, (k, at)) => ks.patch(at, Seq(k), 0) }
        pos = 0
      }
      val kind = blockKinds(pos)
      pos += 1
      serial += 1
      val id = f"ev-$seed%d-$serial%08d"
      val pk = s"item#$serial"
      def small = item(pk, 360)
      kind match {
        case Insert =>
          val m = small; emit(id, "INSERT", pk, Some(wireSize(m)), Some(m), None, keys(m))
        case Modify =>
          val o = small; val (n, p) = mutate(o)
          emit(id, "MODIFY", pk, Some(wireSize(n)), Some(n), Some(o), p)
        case NoopModify =>
          val o = small; val n = noop(o)
          GenRecord(id, wireLine(id, "MODIFY", Some(wireSize(n)), pk, Some(n), Some(o)), Expect.Suppressed)
        case Remove =>
          val o = small; emit(id, "REMOVE", pk, Some(wireSize(o)), None, Some(o), keys(o))
        case BigInsert =>
          val m = item(pk, 72000); emit(id, "INSERT", pk, Some(wireSize(m)), Some(m), None, keys(m))
        case BigModify =>
          val o = item(pk, 72000); val (n, p) = mutate(o, body = Some(false))
          emit(id, "MODIFY", pk, Some(wireSize(n)), Some(n), Some(o), p)
        case BigShrinkModify =>
          val o = item(pk, 72000); val (n, p) = mutate(o, body = Some(true))
          emit(id, "MODIFY", pk, Some(wireSize(n)), Some(n), Some(o), p)
        case BigRemove =>
          val o = item(pk, 72000); emit(id, "REMOVE", pk, Some(wireSize(o)), None, Some(o), keys(o))
        case NoSizeModify =>
          val o = small; val (n, p) = mutate(o)
          emit(id, "MODIFY", pk, None, Some(n), Some(o), p)
        case ZeroSizeInsert =>
          val m = small; emit(id, "INSERT", pk, Some(0L), Some(m), None, keys(m))
        case ZeroSizeRemove =>
          val o = small; emit(id, "REMOVE", pk, Some(0L), None, Some(o), keys(o))
        case FilteredModify =>
          val opk = s"other#$serial"
          val o = item(opk, 360); val (n, _) = mutate(o)
          GenRecord(id, wireLine(id, "MODIFY", Some(wireSize(n)), opk, Some(n), Some(o)), Expect.Dropped)
        case Invalid =>
          val m = small
          invalids += 1
          val line = invalids % 4 match {
            case 0 => wireLine(id, "INSERT", Some(wireSize(m)), pk, Some(m), None)
              .replace("\"eventName\":\"INSERT\",", "")
            case 1 => wireLine(id, "", Some(wireSize(m)), pk, Some(m), None)
            case 2 => wireLine(id, "INSERT", Some(wireSize(m)), pk, Some(m), None)
              .replace(s"""{"eventID":"$id",""", "{")
            case _ => s"""{"eventID":"$id","eventName":"INSERT"}"""
          }
          GenRecord(id, line, Expect.Dropped)
        case Malformed =>
          val m = small
          val full = wireLine(id, "INSERT", Some(wireSize(m)), pk, Some(m), None)
          malformeds += 1
          val line = malformeds % 3 match {
            case 0 => full.take(full.length / 2)
            case 1 => full.replace("{\"S\":\"v1\"}", "{\"Q\":\"v1\"}")
            case _ => s"not json $id"
          }
          GenRecord(id, line, Expect.Dropped)
      }
    }
  }
}
