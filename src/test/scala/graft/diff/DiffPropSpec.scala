package graft.diff

import org.scalacheck.{Arbitrary, Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.attr.{AttrCodec, AttrVal, JsonParser}
import graft.attr.AttrVal._

/** Property laws from SURVEY.md §5.2 over random AttrVal trees. */
object DiffPropSpec extends Properties("Diff") {

  private val genScalar: Gen[AttrVal] = Gen.oneOf(
    Gen.alphaNumStr.map(s => SVal(s.take(8))),
    Gen.chooseNum(-1000000L, 1000000L).map(n => NVal(BigDecimal(n))),
    Gen.chooseNum(-999L, 999L).map(n => NVal(BigDecimal(n) / 100)),
    Gen.oneOf(true, false).map(BoolVal),
    Gen.const(NullVal),
    Gen.listOfN(3, Gen.chooseNum(0, 255)).map(bs => BVal(bs.map(_.toByte).toVector)))

  private def genVal(depth: Int): Gen[AttrVal] =
    if (depth <= 0) genScalar
    else Gen.frequency(
      5 -> genScalar,
      2 -> Gen.listOfN(2, genVal(depth - 1)).map(xs => LVal(xs.toVector)),
      3 -> genFields(depth - 1).map(MVal(_)))

  private def genFields(depth: Int): Gen[Vector[(String, AttrVal)]] =
    for {
      n <- Gen.chooseNum(0, 4)
      keys <- Gen.listOfN(n, Gen.identifier.map(_.take(5))).map(_.distinct)
      vals <- Gen.sequence[Vector[AttrVal], AttrVal](keys.map(_ => genVal(depth)).toVector)
    } yield keys.toVector.zip(vals)

  private[graft] val genItem: Gen[MVal] = genFields(3).map(MVal(_))
  implicit private val arbItem: Arbitrary[MVal] = Arbitrary(genItem)

  property("diff(x, x) is empty") = forAll { (x: MVal) =>
    Diff.diffImages(Some(x), Some(x)).isEmpty
  }

  property("insert reports exactly the top-level keys, after == image") = forAll { (x: MVal) =>
    val r = Diff.diffImages(Some(x), None)
    r.attributesChanged == x.keys && r.after == MVal(x.keys.map(k => k -> x.asMap(k)))
  }

  property("remove is symmetric to insert") = forAll { (x: MVal) =>
    val r = Diff.diffImages(None, Some(x))
    r.attributesChanged == x.keys && r.before == MVal(x.keys.map(k => k -> x.asMap(k)))
  }

  property("path-prefix closure: every dotted path has its parent reported") =
    forAll { (a: MVal, b: MVal) =>
      val paths = Diff.diffImages(Some(a), Some(b)).attributesChanged
      val set = paths.toSet
      paths.filter(_.contains('.')).forall { p =>
        set.contains(p.substring(0, p.lastIndexOf('.')))
      }
    }

  /** Canonical key order for order-insensitive map comparison. The diff's
    * own field order is NOT symmetric by design: `compare` iterates common
    * keys in the NEW side's order (the JS `Object.keys(newImage)` insertion
    * order, `dynamo-stream-handler.ts:41-70`), so `diff(a,b).before` lists
    * common changed keys in a-order while `diff(b,a).after` lists the same
    * (key, value) pairs in b-order. The symmetry law therefore holds up to
    * map key order — the r21 seed 7GK9lkGjZM7uI0V6JZDvb1z20lq3CmqjB9Hs
    * ZHmuZ3E= falsified the stronger order-sensitive phrasing with two
    * common changed keys ordered (o,x) in one image and (x,o) in the other.
    */
  private def canon(v: AttrVal): AttrVal = v match {
    case MVal(fs) => MVal(fs.map { case (k, x) => (k, canon(x)) }.sortBy(_._1))
    case LVal(xs) => LVal(xs.map(canon))
    case other    => other
  }

  property("symmetry: swapping images swaps before/after (mod key order)") =
    forAll { (a: MVal, b: MVal) =>
      val r1 = Diff.diffImages(Some(a), Some(b))
      val r2 = Diff.diffImages(Some(b), Some(a))
      canon(r1.before) == canon(r2.after) && canon(r1.after) == canon(r2.before) &&
        r1.attributesChanged.sorted == r2.attributesChanged.sorted
    }

  // patch-reconstruction law uses the set/binary-free universe (sets are
  // diff-invisible, binary reconstructs as an index map — documented limits)
  private val genPlainScalar: Gen[AttrVal] = Gen.oneOf(
    Gen.alphaNumStr.map(s => SVal(s.take(8))),
    Gen.chooseNum(-1000000L, 1000000L).map(n => NVal(BigDecimal(n))),
    Gen.oneOf(true, false).map(BoolVal),
    Gen.const(NullVal))

  private def genPlainVal(depth: Int): Gen[AttrVal] =
    if (depth <= 0) genPlainScalar
    else Gen.frequency(
      5 -> genPlainScalar,
      2 -> Gen.listOfN(2, genPlainVal(depth - 1)).map(xs => LVal(xs.toVector)),
      3 -> genPlainFields(depth - 1).map(MVal(_)))

  private def genPlainFields(depth: Int): Gen[Vector[(String, AttrVal)]] =
    for {
      n <- Gen.chooseNum(0, 4)
      keys <- Gen.listOfN(n, Gen.identifier.map(_.take(5))).map(_.distinct)
      vals <- Gen.sequence[Vector[AttrVal], AttrVal](keys.map(_ => genPlainVal(depth)).toVector)
    } yield keys.toVector.zip(vals)

  property("patch reconstruction: old + before/after deltas == new (mod null≡{})") =
    forAll(genPlainFields(3).map(MVal(_)), genPlainFields(3).map(MVal(_))) { (oldI: MVal, newI: MVal) =>
      val d = Diff.diffImages(Some(newI), Some(oldI))
      Diff.eqModNull(Diff.applyPatch(oldI, d.before, d.after), newI)
    }

  property("marshall/unmarshall roundtrip") = forAll { (x: MVal) =>
    AttrCodec.unmarshallItem(AttrCodec.marshallItem(x).print) == x
  }

  property("json print/parse roundtrip on stringify view") = forAll { (x: MVal) =>
    val j = AttrVal.toJson(x)
    graft.attr.Json.eq(JsonParser.parse(j.print), j)
  }
}
