package graft.table

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, concat_ws, unix_date, unix_micros}
import org.apache.spark.sql.types._

/** The value domain the sink's dir pruning rests on. Every `.stats`
  * writer and reader, every probe, bounded read and DSv2 admission
  * agrees on it through this object; no other code converts a key or
  * skip-column value into it, orders it, or renders it.
  *
  *   - A TAG per supported Spark type: `long` (every integral type),
  *     `string`, `date`, `ts`. Other types have no tag and never prune.
  *   - A CANONICAL value per tag: a Long (the integral value, the epoch
  *     day, the epoch micros) or the String itself.
  *   - One ORDER: Longs numerically, Strings in unsigned UTF-8 byte
  *     order — the order Spark's min/max computes every recorded
  *     bound under.
  *   - The `.stats` line codec: `col TAB tag TAB min TAB max` (strings
  *     URL-coded), `col TAB tag TAB none` for no non-null value, and the
  *     reserved `__rows TAB rows TAB <n>` total.
  *   - The `.bloom2` canon on both sides: the Spark column the writers
  *     hash and the driver-side rendering of collected probe rows. A
  *     disagreement between the two silently prunes true matches. */
private[graft] object KeyDomain {

  /** A closed canonical interval [lo, hi]. */
  type Range = (Any, Any)

  /** Per-column (name, tag, range) — None when the column holds no
    * non-null value. The shape of every recorded and probed box. */
  type Ranges = Seq[(String, String, Option[Range])]

  /** Per-column closed canonical bounds: column → (tag, range). */
  type Bounds = Map[String, (String, Range)]

  // ── tags and canon ──────────────────────────────────────────────

  def tagOf(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case StringType => Some("string")
    case DateType => Some("date")
    case TimestampType => Some("ts")
    case _ => None
  }

  /** (tag, canonical value) of any external form — integral, String,
    * `java.sql.Date`/`LocalDate`, `Timestamp`/`Instant` — or of a
    * canonical Long (tag `long`). None outside the domain. */
  def canon(v: Any): Option[(String, Any)] = v match {
    case n @ (_: Byte | _: Short | _: Int | _: Long) =>
      Some(("long", n.asInstanceOf[Number].longValue))
    case s: String => Some(("string", s))
    case d: java.sql.Date => Some(("date", d.toLocalDate.toEpochDay))
    case d: java.time.LocalDate => Some(("date", d.toEpochDay))
    // floorDiv, not /: getTime of a pre-1970 timestamp with fractional
    // seconds is a negative non-multiple of 1000, and truncation would
    // shift its canon a full second HIGH (-0.5 s → +0.5 s) — a
    // non-monotone canon that inverts recorded min/max and
    // bloom-mismatches the write side's exact unix_micros, silently
    // pruning dirs that hold the probed key.
    case t: java.sql.Timestamp =>
      Some(("ts", Math.floorDiv(t.getTime, 1000L) * 1000000L +
        t.getNanos / 1000L))
    case t: java.time.Instant =>
      Some(("ts", t.getEpochSecond * 1000000L + t.getNano / 1000L))
    case _ => None
  }

  /** The canonical range of an aggregate's (min, max) over a tagged
    * column — None when either is null (no non-null value). */
  def rangeOf(lo: Any, hi: Any): Option[Range] =
    if (lo == null || hi == null) None
    else Some((canonValue(lo), canonValue(hi)))

  private def canonValue(v: Any): Any = canon(v).map(_._2).getOrElse(
    throw new IllegalStateException(s"graft: $v is outside the key domain"))

  /** Canonical → the external value of `dt`: a narrowed integral, the
    * String, a `LocalDate`, an `Instant` — what a literal or a Row of
    * that type takes. */
  def toExternal(v: Any, dt: DataType): Any = (v, dt) match {
    case (l: Long, ByteType) => l.toByte
    case (l: Long, ShortType) => l.toShort
    case (l: Long, IntegerType) => l.toInt
    case (l: Long, LongType) => l
    case (s: String, StringType) => s
    case (l: Long, DateType) => java.time.LocalDate.ofEpochDay(l)
    case (l: Long, TimestampType) => java.time.Instant.ofEpochSecond(
      Math.floorDiv(l, 1000000L), Math.floorMod(l, 1000000L) * 1000L)
    case _ => throw new IllegalStateException(
      s"graft: stat value $v does not convert to $dt")
  }

  /** The widest Spark type of a tag: the literal type of a canonical
    * bound with no column type to narrow to. */
  def typeOf(tag: String): DataType = tag match {
    case "long" => LongType
    case "string" => StringType
    case "date" => DateType
    case _ => TimestampType
  }

  /** The domain ends of a tag, completing a one-sided bound. Strings
    * have no upper end. Dates span the full Int epoch-day range, NOT
    * -Int.MaxValue: a pruned dir is never scanned, so an off-by-one
    * end would silently drop a dir whose max is the domain minimum. */
  def sentinels(tag: String): (Option[Any], Option[Any]) = tag match {
    case "long" | "ts" => (Some(Long.MinValue), Some(Long.MaxValue))
    case "string" => (Some(""), None)
    case "date" => (Some(Int.MinValue.toLong), Some(Int.MaxValue.toLong))
    case _ => (None, None)
  }

  // ── order and intervals ─────────────────────────────────────────

  /** Strings compare in UNSIGNED UTF-8 byte order. Java's
    * String.compareTo is UTF-16 code-unit order, which disagrees above
    * the BMP (a surrogate pair sorts below U+E000 in UTF-16 but above
    * it in UTF-8); pruning under the wrong order silently DROPS
    * matching dirs — missing point-read rows, un-rewritten merge dirs
    * (resurrected deletes), incomplete erasure. */
  def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: String, y: String) =>
      val p = x.getBytes(UTF_8); val q = y.getBytes(UTF_8)
      java.util.Arrays.compareUnsigned(p, q) < 0
    case _ => throw new IllegalStateException(s"stat type mismatch: $a / $b")
  }

  def min(a: Any, b: Any): Any = if (lt(b, a)) b else a
  def max(a: Any, b: Any): Any = if (lt(a, b)) b else a

  /** The smallest interval holding both. */
  def hull(a: Range, b: Range): Range = (min(a._1, b._1), max(a._2, b._2))

  /** The values in both (lo > hi when they are disjoint). */
  def intersect(a: Range, b: Range): Range = (max(a._1, b._1), min(a._2, b._2))

  /** Can the closed intervals share a value: neither lies strictly
    * past the other. */
  def overlaps(a: Range, b: Range): Boolean =
    !(lt(a._2, b._1) || lt(b._2, a._1))

  // ── the `.stats` line codec ─────────────────────────────────────

  /** The reserved total line's prefix. Its tag "rows" is no data
    * type's tag, so a key column NAMED `__rows` keeps its range line. */
  private val RowsPrefix = "__rows\trows\t"

  /** The lines of a `.stats` file: one per ranged column, then the
    * total when `totalRows >= 0`. */
  def statsLines(ranges: Ranges, totalRows: Long): Seq[String] = {
    def enc(v: Any) = v match {
      case s: String => URLEncoder.encode(s, "UTF-8")
      case l => l.toString
    }
    ranges.map {
      case (k, tag, Some((lo, hi))) => s"$k\t$tag\t${enc(lo)}\t${enc(hi)}"
      case (k, tag, None) => s"$k\t$tag\tnone"
    } ++ (if (totalRows >= 0) Seq(s"$RowsPrefix$totalRows") else Nil)
  }

  /** A parsed `.stats` file: column → (tag, range), and the total. A
    * total that does not parse (a torn line) reads as absent. */
  def parseStats(lines: Seq[String])
      : (Map[String, (String, Option[Range])], Option[Long]) = {
    def dec(tag: String, s: String): Any =
      if (tag == "string") URLDecoder.decode(s, "UTF-8") else s.toLong
    val (total, ranged) = lines.filter(_.nonEmpty).partition(_.startsWith(RowsPrefix))
    (ranged.map { l =>
      val p = l.split("\t", -1)
      p(0) -> (p(1),
        if (p(2) == "none") None else Some((dec(p(1), p(2)), dec(p(1), p(3)))))
    }.toMap,
      total.headOption.flatMap(_.split("\t", -1)(2).trim.toLongOption))
  }

  // ── the `.bloom2` canon ─────────────────────────────────────────

  /** The composite key a bloom hashes: each key column's canon as a
    * string, joined by U+0001 in NAME-SORTED column order, so a probe
    * passing the same keys in another order probes the same canon.
    * Dates and timestamps render as epoch day / epoch micros, NOT a
    * cast: a cast renders under spark.sql.session.timeZone, so a
    * sidecar written under one zone would miss every probe made under
    * another. NULL components are skipped (concat_ws): a row with a
    * NULL key can never match a null-rejecting equi-join. */
  def keyCanon(schema: StructType, keys: Seq[String]): Column = {
    def one(k: String) = schema(k).dataType match {
      case TimestampType => unix_micros(col(k)).cast("string")
      case DateType => unix_date(col(k)).cast("string")
      case _ => col(k).cast("string")
    }
    concat_ws("\u0001", keys.sorted.map(one): _*)
  }

  /** One key value's component of [[keyCanon]], on the driver. */
  def bloomCanon(v: Any): Option[String] = canon(v).map(_._2.toString)

  /** [[keyCanon]] of collected rows on the driver, distinct. Every key
    * column of `schema` must carry a tag. */
  def canonRowsOf(rows: Array[Row], schema: StructType,
      keys: Seq[String]): Array[String] =
    rows.map { r =>
      keys.sorted.flatMap { k =>
        val i = schema.fieldIndex(k)
        if (r.isNullAt(i)) None else bloomCanon(r.get(i))
      }.mkString("\u0001")
    }.distinct
}
