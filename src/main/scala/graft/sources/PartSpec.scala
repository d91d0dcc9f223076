package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The manifest partition SPEC behind `merge.partcol` / `PARTITIONED
  * BY` (r13 generalization of the single-column tag): an ordered list
  * of partition KEYS, each an identity column or a `days(col)`
  * transform over a date/timestamp column. The reference's layout unit
  * is DynamoDB's single partition key (`/root/reference/index.js:305`);
  * composite and time-bucketed keys are what the same design needs at
  * 100 TB, where "one day of one tenant" — not "one tenant" — is the
  * unit a write retires and a storage-partitioned join co-locates.
  *
  * The manifest model is UNCHANGED: one string tag per data file
  * ([[CommitLog.FileEntry.partTag]]). What generalizes is the tag's
  * derivation and decoding:
  *
  *  - single identity key (every pre-r13 table): tag = the value's own
  *    `cast(string)` — bit-identical to the historical format, so
  *    existing tables, logs, and partition-scoped APIs are untouched;
  *  - anything else: tag = '/'-joined components, each URL-style
  *    escaped (`%` → `%25`, `/` → `%2F`) so the join is unambiguous
  *    for ANY string value; a `days` component is the value's UTC
  *    epoch-day (`Math.floorDiv(micros, 86 400 000 000)` — timezone-
  *    free, matching [[GraftFunctions.Days]] exactly).
  *
  * Any null component nulls the whole tag (string concat semantics),
  * which the partitioned write path already refuses loudly.
  */
private[graft] final case class PartSpec(keys: Seq[PartSpec.Key]) {
  import PartSpec._

  require(keys.nonEmpty, "empty partition spec")
  require(keys.map(k => lc(k.column)).distinct.size == keys.size,
    s"duplicate partition key column in spec '$render'")

  /** The historical shape: one identity key, raw tag. */
  def isSingleIdentity: Boolean =
    keys.lengthCompare(1) == 0 && keys.head.transform == Identity

  def sourceColumns: Seq[String] = keys.map(_.column)

  def render: String = keys.map {
    case Key(c, Identity) => c
    case Key(c, Days) => s"days($c)"
    case Key(c, Hours) => s"hours($c)"
    case Key(c, Months) => s"months($c)"
    case Key(c, Years) => s"years($c)"
    case Key(c, Bucket(n)) => s"bucket($n,$c)"
    case Key(c, Truncate(w)) => s"truncate($w,$c)"
  }.mkString(",")

  /** Index of the key whose SOURCE column is `col` (ci), if any. */
  def keyIndexOf(col: String): Option[Int] = {
    val l = lc(col)
    val i = keys.indexWhere(k => lc(k.column) == l)
    if (i < 0) None else Some(i)
  }

  /** The tag STRING expression over `df`'s columns (no "v" prefix —
    * the partitioned write path adds it). Null-propagating. */
  def tagExpr(df: DataFrame): Column = {
    def component(k: Key): Column = {
      val f = df.schema.fields.find(x => lc(x.name) == lc(k.column))
        .getOrElse(throw new IllegalArgumentException(
          s"partition key column '${k.column}' not in ${df.schema.fieldNames.mkString(",")}"))
      val c = df.col(quoted(f.name))
      k.transform match {
        case Identity => c.cast(StringType)
        case Days => daysExpr(c, f.dataType).cast(StringType)
        case Hours => hoursExpr(c, f.dataType).cast(StringType)
        case Months => monthsExpr(c, f.dataType).cast(StringType)
        case Years => yearsExpr(c, f.dataType).cast(StringType)
        case Bucket(n) => bucketExpr(c, f.dataType, n).cast(StringType)
        case Truncate(w) => truncExpr(c, f.dataType, w).cast(StringType)
      }
    }
    if (isSingleIdentity) component(keys.head)
    else keys.map(k => escapeExpr(component(k)))
      .reduce((a, b) => concat(a, lit(Sep.toString), b))
  }

  /** Inverse of [[tagExpr]]'s encoding: the tag's component strings,
    * positionally aligned with [[keys]]. */
  def decode(tag: String): Seq[String] =
    if (isSingleIdentity) Seq(tag)
    else {
      val parts = tag.split(Sep.toString, -1).toSeq.map(unescape(_))
      require(parts.size == keys.size,
        s"partition tag '$tag' has ${parts.size} components, spec " +
          s"'$render' expects ${keys.size}")
      parts
    }

  /** Component string an arriving LITERAL would produce for key `i` —
    * the runtime-pruning judge. None = not judgeable (conservative:
    * the caller must keep the file). */
  def componentOfLiteral(i: Int, l: Literal): Option[String] =
    if (l.value == null) None
    else keys(i).transform match {
      case Identity => scala.util.Try(
        Option(Cast(l, StringType).eval(null)).map(_.toString)).toOption.flatten
      case Days => (l.dataType, l.value) match {
        case (_: TimestampType, m: java.lang.Long) =>
          Some(Math.floorDiv(m, MicrosPerDay).toString)
        case (DateType, d: java.lang.Integer) => Some(d.toString)
        case _ => None
      }
      case Hours => (l.dataType, l.value) match {
        case (_: TimestampType, m: java.lang.Long) =>
          Some(Math.floorDiv(m, MicrosPerHour).toString)
        case _ => None
      }
      case Months => epochDayOf(l).map { d =>
        val ld = java.time.LocalDate.ofEpochDay(d)
        ((ld.getYear - 1970) * 12 + (ld.getMonthValue - 1)).toString
      }
      case Years => epochDayOf(l).map(d =>
        (java.time.LocalDate.ofEpochDay(d).getYear - 1970).toString)
      case Bucket(n) =>
        // replay the tag expression exactly — md5 of the value's own
        // cast-to-string ([[PartSpec.bucketOf]])
        scala.util.Try(Option(Cast(l, StringType).eval(null)).map(s =>
          PartSpec.bucketOf(s.toString, n).toString)).toOption.flatten
      case Truncate(w) => (l.dataType, l.value) match {
        case (StringType, u: org.apache.spark.unsafe.types.UTF8String) =>
          // Spark's own character semantics (code points, not UTF-16)
          Some(u.substringSQL(1, w).toString)
        case (ByteType | ShortType | IntegerType | LongType, v: Number) =>
          val x = v.longValue
          Some((x - Math.floorMod(x, w.toLong)).toString)
        case _ => None
      }
    }

  /** UTC epoch-day of a DATE or TIMESTAMP literal. */
  private def epochDayOf(l: Literal): Option[Long] = (l.dataType, l.value) match {
    case (DateType, d: java.lang.Integer) => Some(d.longValue)
    case (_: TimestampType, m: java.lang.Long) =>
      Some(Math.floorDiv(m, MicrosPerDay))
    case _ => None
  }
}

private[graft] object PartSpec {
  sealed trait Transform
  case object Identity extends Transform
  case object Days extends Transform
  /** r15 completions of the standard lakehouse transform family
    * (Iceberg's hour/month/year + hash-bucket + value-truncate): the
    * layout vocabulary a 100 TB table actually partitions by —
    * hours(ts) for high-rate event logs, months/years for long
    * retention, bucket(n, id) to bound partition count on
    * high-cardinality keys, truncate(w, s) for prefix locality. Tags
    * stay plain strings; runtime file pruning judges arriving join
    * values through [[PartSpec.componentOfLiteral]] for ALL of them. */
  case object Hours extends Transform
  case object Months extends Transform
  case object Years extends Transform
  final case class Bucket(n: Int) extends Transform
  final case class Truncate(w: Int) extends Transform
  final case class Key(column: String, transform: Transform)

  private[sources] val Sep = '/'
  private[sources] val MicrosPerDay = 86400000000L
  private[sources] val MicrosPerHour = 3600000000L

  /** Mirror a comparison operator across `literal OP column` →
    * `column OP' literal` — shared by every range judge so the op
    * encoding has one home. */
  private[sources] def flipOp(op: String): String = op match {
    case ">" => "<"; case ">=" => "<="
    case "<" => ">"; case "<=" => ">="
    case x => x
  }

  private def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
  private def quoted(name: String) = s"`${name.replace("`", "``")}`"

  private val DaysRe = """(?i)^days\s*\(\s*([^()]+?)\s*\)$""".r
  private val HoursRe = """(?i)^hours\s*\(\s*([^()]+?)\s*\)$""".r
  private val MonthsRe = """(?i)^months\s*\(\s*([^()]+?)\s*\)$""".r
  private val YearsRe = """(?i)^years\s*\(\s*([^()]+?)\s*\)$""".r
  private val BucketRe = """(?i)^bucket\s*\(\s*(\d+)\s*,\s*([^()]+?)\s*\)$""".r
  private val TruncRe = """(?i)^truncate\s*\(\s*(\d+)\s*,\s*([^()]+?)\s*\)$""".r

  /** Parse a `merge.partcol` value: comma-separated keys, each a bare
    * column (identity) or a transform — `days(col)`, `hours(col)`,
    * `months(col)`, `years(col)`, `bucket(n, col)`, `truncate(w,
    * col)`. A bare single column is the historical spec and keeps the
    * historical tag format. */
  def parse(s: String): PartSpec = {
    val toks = s.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    require(toks.nonEmpty, s"empty partition spec '$s'")
    // bucket/truncate carry their argument through the comma split:
    // re-join "bucket(4" + "id)" style fragments first
    val joined = scala.collection.mutable.ArrayBuffer.empty[String]
    toks.foreach { t =>
      if (joined.nonEmpty &&
          joined.last.count(_ == '(') > joined.last.count(_ == ')'))
        joined(joined.length - 1) = joined.last + "," + t
      else joined += t
    }
    PartSpec(joined.toSeq.map {
      case DaysRe(c) => Key(c, Days)
      case HoursRe(c) => Key(c, Hours)
      case MonthsRe(c) => Key(c, Months)
      case YearsRe(c) => Key(c, Years)
      case BucketRe(n, c) =>
        require(n.toInt >= 1, s"bucket($n, $c): bucket count must be >= 1")
        Key(c, Bucket(n.toInt))
      case TruncRe(w, c) =>
        require(w.toInt >= 1, s"truncate($w, $c): width must be >= 1")
        Key(c, Truncate(w.toInt))
      case c =>
        require(!c.contains('(') && !c.contains(')'),
          s"unsupported partition transform '$c' — identity columns, " +
            "days/hours/months/years(col), bucket(n, col) and " +
            "truncate(w, col) are supported")
        Key(c, Identity)
    })
  }

  /** UTC epoch-day of a date/timestamp column — EXACT integer floor
    * division (`x - pmod(x, d)` is a non-negative-remainder multiple,
    * so the truncating `div` equals floor for any sign), matching
    * [[GraftFunctions.Days]]'s `Math.floorDiv` bit-for-bit. */
  private[sources] def daysExpr(c: Column, dt: DataType): Column = dt match {
    case DateType => datediff(c, lit(java.sql.Date.valueOf("1970-01-01")))
    case _: TimestampType =>
      // (m - pmod(m, d)) is the exact floor multiple for any sign; the
      // double division's result is an INTEGER with relative error
      // ~1e-16 · (2^63 / 8.64e10) ≈ 1e-8 ≪ 0.5, so round() recovers it
      // exactly for every representable timestamp (a plain cast would
      // truncate q − ε to q − 1 past 2^53 micros)
      val m = unix_micros(c)
      val d = lit(MicrosPerDay)
      round((m - pmod(m, d)) / d, 0).cast(LongType)
    case other => throw new IllegalArgumentException(
      s"days(...) partition transform needs a DATE or TIMESTAMP " +
        s"column, got $other")
  }

  /** UTC epoch-hour of a timestamp — the same exact-floor form as
    * [[daysExpr]]. */
  private[sources] def hoursExpr(c: Column, dt: DataType): Column = dt match {
    case _: TimestampType =>
      val m = unix_micros(c)
      val d = lit(MicrosPerHour)
      round((m - pmod(m, d)) / d, 0).cast(LongType)
    case other => throw new IllegalArgumentException(
      s"hours(...) partition transform needs a TIMESTAMP column, got $other")
  }

  /** The value's UTC calendar DATE (the column itself for DATE;
    * epoch-day reconstruction for TIMESTAMP — timezone-free, unlike
    * year()/month() straight on a timestamp). */
  private def utcDate(c: Column, dt: DataType): Column = dt match {
    case DateType => c
    case _: TimestampType =>
      date_add(lit(java.sql.Date.valueOf("1970-01-01")),
        daysExpr(c, dt).cast(IntegerType))
    case other => throw new IllegalArgumentException(
      s"calendar partition transform needs a DATE or TIMESTAMP column, got $other")
  }

  /** Months since 1970-01 (Iceberg's months transform domain). */
  private[sources] def monthsExpr(c: Column, dt: DataType): Column = {
    val d = utcDate(c, dt)
    (year(d) - lit(1970)) * lit(12) + (month(d) - lit(1))
  }

  /** Years since 1970. */
  private[sources] def yearsExpr(c: Column, dt: DataType): Column =
    year(utcDate(c, dt)) - lit(1970)

  /** Deterministic hash bucket in [0, n): md5 of the value's own
    * cast-to-string (the identity tag's domain), first 15 hex chars as
    * an unsigned 60-bit int, mod n. md5-derived like the engine's
    * other deterministic hashes — replayable by any engine with md5,
    * and [[PartSpec.componentOfLiteral]] replays it bit-exactly on the
    * driver for runtime file pruning. */
  private[sources] def bucketExpr(c: Column, dt: DataType, n: Int): Column = {
    dt match {
      case _: StructType | _: ArrayType | _: MapType =>
        throw new IllegalArgumentException(
          s"bucket(...) partition transform needs an atomic column, got $dt")
      case _ => ()
    }
    pmod(conv(substring(md5(c.cast(StringType).cast(BinaryType)), 1, 15),
      16, 10).cast(LongType), lit(n.toLong))
  }

  /** Value truncation: strings keep their first `w` characters,
    * integrals floor to the nearest multiple of `w` (Iceberg's
    * truncate semantics — ordered, so range predicates still prune). */
  private[sources] def truncExpr(c: Column, dt: DataType, w: Int): Column =
    dt match {
      case StringType => substring(c, 1, w)
      case ByteType | ShortType | IntegerType | LongType =>
        (c.cast(LongType) - pmod(c.cast(LongType), lit(w.toLong))).cast(LongType)
      case other => throw new IllegalArgumentException(
        s"truncate(...) partition transform needs a STRING or integral " +
          s"column, got $other")
    }

  /** The bucket ordinal of a value's CAST-TO-STRING form: md5 (UTF-8
    * bytes, lowercase hex), first 15 hex chars as an unsigned 60-bit
    * int, mod n — the exact JVM replay of [[bucketExpr]], shared by
    * the literal judge and the V2 bucket function (SPJ). */
  private[sources] def bucketOf(castStr: String, n: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(castStr.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = md.map(b => f"$b%02x").mkString.substring(0, 15)
    Math.floorMod(java.lang.Long.parseLong(hex, 16), n.toLong).toInt
  }

  /** Component escaping for composite tags: `%` → `%25`, `/` → `%2F`
    * (in that order — unescape reverses it). */
  private[sources] def escapeExpr(c: Column): Column =
    regexp_replace(regexp_replace(c, "%", "%25"), "/", "%2F")

  private[sources] def unescape(s: String): String =
    s.replace("%2F", "/").replace("%25", "%")
}

/** The catalog-level V2 functions Spark needs to RESOLVE transform
  * partition keys for storage-partitioned joins: a scan reporting
  * `KeyGroupedPartitioning(days(ts))` is only usable when the table's
  * catalog (as a [[org.apache.spark.sql.connector.catalog
  * .FunctionCatalog]]) can load a bound `days` function —
  * `V2ExpressionUtils.toCatalystOpt` otherwise drops the grouping and
  * the join falls back to a shuffle. Iceberg ships the same shim for
  * the same reason. Evaluation must match the WRITE path's tag
  * derivation exactly ([[PartSpec.daysExpr]]): UTC epoch-day by
  * floor division, no session-timezone dependence. */
private[graft] object GraftFunctions {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}

  val DaysName = "days"

  object DaysUnbound extends UnboundFunction {
    override def name(): String = DaysName
    override def description(): String =
      "days(date|timestamp): UTC epoch-day partition transform"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1,
        s"days takes one argument, got ${inputType.fields.length}")
      inputType.fields(0).dataType match {
        case DateType => DaysOfDate
        case _: TimestampType => DaysOfTimestamp
        case other => throw new UnsupportedOperationException(
          s"days: unsupported input type $other")
      }
    }
  }

  /** Both bindings share one canonicalName: a date and a timestamp
    * side produce the SAME epoch-day for the same instant, so Spark's
    * transform-compatibility check (canonicalName equality) may
    * co-locate them. */
  sealed abstract class DaysBound(input: DataType)
      extends ScalarFunction[Integer] {
    override def name(): String = DaysName
    override def canonicalName(): String = "graft.days"
    override def inputTypes(): Array[DataType] = Array(input)
    override def resultType(): DataType = DateType
    override def isResultNullable: Boolean = false
  }

  object DaysOfTimestamp extends DaysBound(TimestampType) {
    override def produceResult(
        in: org.apache.spark.sql.catalyst.InternalRow): Integer =
      Math.floorDiv(in.getLong(0), PartSpec.MicrosPerDay).toInt
  }

  object DaysOfDate extends DaysBound(DateType) {
    override def produceResult(
        in: org.apache.spark.sql.catalyst.InternalRow): Integer =
      in.getInt(0)
  }

  val BucketName = "bucket"

  /** `bucket(n, col)` — the V2 function behind a reported
    * `KeyGroupedPartitioning(bucket(n, col))` (Spark resolves the
    * transform as a 2-arg function call, numBuckets literal first —
    * the same shape Iceberg's shim binds). Evaluation replays
    * [[PartSpec.bucketOf]] over the value's cast-to-string, so the
    * function, the write-path tag expression, and the runtime-pruning
    * literal judge are one definition. */
  object BucketUnbound extends UnboundFunction {
    override def name(): String = BucketName
    override def description(): String =
      "bucket(n, col): md5-derived hash bucket partition transform"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2,
        s"bucket takes (numBuckets, value), got ${inputType.fields.length} args")
      require(inputType.fields(0).dataType == IntegerType,
        s"bucket's first argument must be INT, got ${inputType.fields(0).dataType}")
      new BucketBound(inputType.fields(1).dataType)
    }
  }

  final class BucketBound(valueType: DataType) extends ScalarFunction[Integer] {
    override def name(): String = BucketName
    override def canonicalName(): String = "graft.bucket"
    override def inputTypes(): Array[DataType] = Array(IntegerType, valueType)
    override def resultType(): DataType = IntegerType
    override def isResultNullable: Boolean = false
    override def produceResult(
        in: org.apache.spark.sql.catalyst.InternalRow): Integer = {
      val n = in.getInt(0)
      // the value's Spark cast-to-string form, per supported type
      val s = valueType match {
        case StringType => in.getUTF8String(1).toString
        case LongType => in.getLong(1).toString
        case IntegerType => in.getInt(1).toString
        case ShortType => in.getShort(1).toString
        case ByteType => in.getByte(1).toString
        case BooleanType => in.getBoolean(1).toString
        case DateType => java.time.LocalDate.ofEpochDay(in.getInt(1)).toString
        case other => throw new UnsupportedOperationException(
          s"bucket: unsupported value type $other")
      }
      PartSpec.bucketOf(s, n)
    }
  }
}
