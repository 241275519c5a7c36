package graft.operators

import graft.operators.AtomicIncrement.{FileColumnStats, NullTag}
import graft.operators.Incremental.{AllNullFile, BinaryStats, DoubleStats,
  FooterStats, LongStats}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{date_from_unix_date, lit,
  timestamp_micros}
import org.apache.spark.sql.types._

/** The one codec for a manifest line's column stats: [[encode]] turns a
  * footer's [[Incremental.FooterStats]] into the recorded group,
  * [[decode]] turns a group back, and every reader of a data column's
  * bounds works on the decoded form.
  *
  * Two kinds of reader share it:
  *  - MAY-CONTAIN readers (pruning) take each file's decoded bounds as
  *    they are ([[signs]], or the bounds themselves). A cut-down string
  *    bound still brackets the file's values, so pruning on it stays
  *    conservative.
  *  - EXACT readers (watermarks, floors, metadata aggregates, z-order
  *    bounds) fold a whole snapshot through [[foldExact]], the only
  *    place that decides when recorded bounds ARE the column's values.
  */
private[graft] object ManifestStats {

  /** The manifest group recording `s` for `column` under `tag`: numbers
    * as decimal strings, string bounds as base64 of their UTF-8 bytes
    * (raw bounds could carry the manifest's tab/newline separators),
    * an all-null file as the [[NullTag]] group with empty bounds.
    */
  def encode(column: String, tag: String, s: FooterStats): FileColumnStats =
    s match {
      case LongStats(mn, mx) =>
        FileColumnStats(column, tag, mn.toString, mx.toString)
      case DoubleStats(mn, mx) =>
        FileColumnStats(column, tag, mn.toString, mx.toString)
      case BinaryStats(mn, mx) =>
        val b64 = java.util.Base64.getEncoder
        FileColumnStats(column, tag, b64.encodeToString(mn),
          b64.encodeToString(mx))
      case AllNullFile => FileColumnStats(column, NullTag, "", "")
    }

  /** The recorded group back in the footer's primitive domain (`ts` in
    * micros, `date` in unix days). None for a tag this reader does not
    * know and for damaged bounds (a hand-edited manifest): every caller
    * treats None as "no stats", so a bad line costs pruning or an exact
    * shortcut, never an exception or a wrong answer.
    */
  def decode(fc: FileColumnStats): Option[FooterStats] =
    try fc.tag match {
      case NullTag => Some(AllNullFile)
      case "string" =>
        val b64 = java.util.Base64.getDecoder
        Some(BinaryStats(b64.decode(fc.min), b64.decode(fc.max)))
      case "double" | "float" =>
        Some(DoubleStats(fc.min.toDouble, fc.max.toDouble))
      case "long" | "int" | "short" | "byte" | "ts" | "date" =>
        Some(LongStats(fc.min.toLong, fc.max.toLong))
      case _ => None
    } catch { case _: IllegalArgumentException => None }

  /** The EXACT bounds of one column over a set of files, each file's
    * stats given in turn (None = the file has none usable). The answer
    * is the column's true min and max, or None:
    *  - every file must answer: one without stats might hold the true
    *    bound, so a partial fold is no answer;
    *  - all-null files add nothing (SQL's null-ignoring min/max), and
    *    a column all-null everywhere folds to [[AllNullFile]];
    *  - one primitive family only;
    *  - no string bound parquet may have cut. parquet-mr writes binary
    *    bounds whole unless `parquet.statistics.truncate.length` (L) is
    *    set (past 4 KB it then drops the stats, which lands the no-stats
    *    line). With L set it keeps an L-byte prefix of the min and bumps
    *    the last character of an L-byte prefix of the max, each cut back
    *    to a whole UTF-8 character: a cut bound is L − 3 to L bytes long
    *    and is not a value of the column (a bumped max over-shoots it).
    *    A string bound of that length or longer is refused, read
    *    against the session's L.
    * Consumes `stats` only until the answer is known to be None.
    */
  def foldExact(stats: IterableOnce[Option[FooterStats]])
      : Option[FooterStats] = {
    lazy val cutFrom = truncateLength - 3
    var acc: FooterStats = AllNullFile
    val it = stats.iterator
    while (it.hasNext) {
      acc = (acc, it.next()) match {
        case (_, None) => return None
        case (a, Some(AllNullFile)) => a
        case (_, Some(BinaryStats(mn, mx)))
            if mn.length >= cutFrom || mx.length >= cutFrom => return None
        case (AllNullFile, Some(s)) => s
        case (LongStats(a, b), Some(LongStats(mn, mx))) =>
          LongStats(math.min(a, mn), math.max(b, mx))
        case (DoubleStats(a, b), Some(DoubleStats(mn, mx))) =>
          DoubleStats(math.min(a, mn), math.max(b, mx))
        case (BinaryStats(a, b), Some(BinaryStats(mn, mx))) =>
          BinaryStats(if (cmp(mn, a) < 0) mn else a,
            if (cmp(mx, b) > 0) mx else b)
        case _ => return None
      }
    }
    Some(acc)
  }

  /** [[foldExact]] over one column's manifest groups, one per file (None
    * = the line does not cover the column): the fold, and the one tag
    * every non-null group agrees on ([[NullTag]] when there is none).
    * None also for no files and for disagreeing tags (type evolution).
    */
  def exactBounds(groups: Seq[Option[FileColumnStats]])
      : Option[(String, FooterStats)] = {
    val tags = groups.flatten.map(_.tag).filter(_ != NullTag).distinct
    if (groups.isEmpty || tags.size > 1) None
    else foldExact(groups.iterator.map(_.flatMap(decode)))
      .map(tags.headOption.getOrElse(NullTag) -> _)
  }

  /** The max of `s` as a typed literal of `dt`: micros → timestamp, unix
    * days → date, the integral and floating families by cast, strings
    * from their UTF-8 bytes (Spark's string `>` filters in that same
    * byte order). None when `s` is not of `dt`'s family.
    */
  def maxLiteral(dt: DataType, s: FooterStats): Option[Column] =
    (dt, s) match {
      case (TimestampType, LongStats(_, mx)) =>
        Some(timestamp_micros(lit(mx)))
      case (DateType, LongStats(_, mx)) =>
        Some(date_from_unix_date(lit(mx.toInt)))
      case (LongType | IntegerType | ShortType | ByteType,
            LongStats(_, mx)) => Some(lit(mx).cast(dt))
      case (DoubleType | FloatType, DoubleStats(_, mx)) =>
        Some(lit(mx).cast(dt))
      case (StringType, BinaryStats(_, mx)) => Some(lit(utf8(mx)))
      case _ => None
    }

  /** Signs of (min − v) and (max − v) for file bounds `s` recorded under
    * `tag` and a filter value `v`, when `v` compares EXACTLY in that
    * family: integral values, timestamps (as micros) and dates (as
    * days) against long bounds; any number against floating bounds;
    * strings in UTF-8 byte order. A fractional or arbitrary-precision
    * number against integral bounds compares in BigDecimal — truncating
    * `k > -20.5` to `k > -20` would prune a file whose max is -20. None
    * (the caller keeps the file) for anything else, NaN and infinities
    * included.
    */
  def signs(tag: String, s: FooterStats, v: Any): Option[(Int, Int)] =
    (s, v) match {
      case (LongStats(lo, hi), _) => exactLong(tag, v) match {
        case Some(x) => Some((lo.compareTo(x), hi.compareTo(x)))
        case None => v match {
          case n: Number if AtomicIncrement.integralTags.contains(tag) =>
            try {
              val x = new java.math.BigDecimal(n.toString)
              Some((java.math.BigDecimal.valueOf(lo).compareTo(x),
                java.math.BigDecimal.valueOf(hi).compareTo(x)))
            } catch { case _: NumberFormatException => None }
          case _ => None
        }
      }
      case (DoubleStats(lo, hi), n: Number) =>
        val x = n.doubleValue()
        Some((lo.compareTo(x), hi.compareTo(x)))
      case (BinaryStats(lo, hi), str: String) =>
        val x = str.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        Some((cmp(lo, x), cmp(hi, x)))
      case _ => None
    }

  /** `v` as a long in `tag`'s primitive domain, for the value types that
    * convert without loss.
    */
  private def exactLong(tag: String, v: Any): Option[Long] = (tag, v) match {
    case (t, n @ (_: java.lang.Byte | _: java.lang.Short |
        _: java.lang.Integer | _: java.lang.Long))
        if AtomicIncrement.integralTags.contains(t) =>
      Some(n.asInstanceOf[Number].longValue())
    case ("ts", t: java.sql.Timestamp) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaTimestamp(t))
    case ("ts", i: java.time.Instant) =>
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano / 1000L))
    case ("date", d: java.sql.Date) => Some(d.toLocalDate.toEpochDay)
    case ("date", d: java.time.LocalDate) => Some(d.toEpochDay)
    case _ => None
  }

  /** Unsigned lexicographic byte order: parquet's UTF8 sort order and
    * Spark's string comparison alike.
    */
  def cmp(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  def utf8(b: Array[Byte]): String =
    new String(b, java.nio.charset.StandardCharsets.UTF_8)

  /** The session's `parquet.statistics.truncate.length` as the parquet
    * writer sees it (session conf over the Hadoop conf; unset = no
    * truncation). With no session to ask, 0: every string bound counts
    * as possibly cut.
    */
  private def truncateLength: Int = {
    val key = org.apache.parquet.hadoop.ParquetOutputFormat
      .STATISTICS_TRUNCATE_LENGTH
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(0)(s => s.conf.getOption(key).map(_.trim.toInt).getOrElse(
        s.sparkContext.hadoopConfiguration.getInt(key, Int.MaxValue)))
  }
}
