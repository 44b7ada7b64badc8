package graft.cdc

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.attr.{Json, JsonParser}

/** Source-level pk predicate compiler (OP-2) — a behavioral port of the
  * filter-rule construction at `/root/reference/lib/constructs/dynamo.ts:157-191`:
  *
  *  - no `*` in the pattern → equality on `pk` (`FilterRule.isEqual`,
  *    `dynamo.ts:162`);
  *  - exactly one `*` → prefix match on the part BEFORE the star
  *    (`FilterRule.beginsWith(splitFilter[0])`, `dynamo.ts:166` — note the
  *    suffix after the star is discarded, so `"a*b"` means prefix `"a"`);
  *  - more than one `*` → rejected (`dynamo.ts:171`);
  *  - multiple patterns OR together (one rule array, `dynamo.ts:175-185`).
  *
  * Spark-first: the compiled predicate is a plain [[Column]] applied as an
  * early `filter`, which Catalyst's `PushDownPredicates` pushes into the scan
  * (visible as `PushedFilters: [EqualTo(pk,..), StringStartsWith(pk,..)]`) —
  * the engine's equivalent of filtering records before the handler is ever
  * invoked.
  */
object PkFilter {

  sealed trait Rule
  final case class Eq(value: String) extends Rule
  final case class Prefix(prefix: String) extends Rule

  final class InvalidPkFilterException(pattern: String)
      extends IllegalArgumentException(s"Invalid pkFilter: $pattern")

  def compileOne(pattern: String): Rule = {
    // JS String.split("*"): "ab" -> ["ab"], "a*" -> ["a",""], "a*b*c" -> 3 parts
    val parts = pattern.split("\\*", -1)
    parts.length match {
      case 1 => Eq(pattern)
      case 2 => Prefix(parts(0))
      case _ => throw new InvalidPkFilterException(pattern)
    }
  }

  def compile(patterns: Seq[String]): Seq[Rule] = patterns.map(compileOne)

  /** Predicate over a string pk column; empty pattern list = no filtering
    * (the reference attaches no FilterCriteria when `pkFilters` is absent).
    */
  def toColumn(pkCol: Column, patterns: Seq[String]): Column =
    if (patterns.isEmpty) lit(true)
    else
      compile(patterns)
        .map {
          case Eq(v)     => pkCol === lit(v)
          case Prefix(p) => pkCol.startsWith(p)
        }
        .reduce(_ || _)

  /** Row-level evaluation for the pure (non-Spark) record path. */
  def matches(pk: String, rules: Seq[Rule]): Boolean =
    rules.isEmpty || rules.exists {
      case Eq(v)     => pk == v
      case Prefix(p) => pk.startsWith(p)
    }

  /** The `graft-cdc` reader's `pkFilters` option: the patterns as one JSON
    * array of strings, parsed back into compiled rules by [[fromOption]].
    */
  def toOption(patterns: Seq[String]): String =
    Json.JArr(patterns.toVector.map(Json.JStr)).print

  def fromOption(option: String): Seq[Rule] = JsonParser.parse(option) match {
    case Json.JArr(items) =>
      items.map {
        case Json.JStr(pat) => compileOne(pat)
        case other => throw new IllegalArgumentException(s"pkFilters entries must be strings: $other")
      }
    case other => throw new IllegalArgumentException(s"pkFilters must be a JSON array: $other")
  }
}
