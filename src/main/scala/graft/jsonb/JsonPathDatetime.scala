package graft.jsonb

import java.time._

/** `.datetime()` item method for [[JsonPath]] — template parsing,
  * default-format inference, rendering and cross-type comparison,
  * mirroring the reference executor (jsonpath_exec.c
  * executeDateTimeMethod / compareDatetime) for the template subset its
  * regression suite exercises (dd, mm, yyyy, HH24, MI, SS, TZH, TZM,
  * quoted literals and punctuation separators).
  *
  * Values keep the offset they were parsed with; serialization renders
  * ISO-8601 with minutes always present in offsets ("+03:00"), matching
  * the reference's JsonEncodeDateTime output.
  */
object JsonPathDatetime {

  /** Comparison of a tz-less value against a tz-carrying one requires
    * time-zone usage; the reference raises this OUTSIDE the predicate
    * error capture (plain ereport, not RETURN_ERROR), so it aborts the
    * whole query even inside filters and is not silenced. Modeled as a
    * distinct exception that [[JsonPath]]'s predicate machinery does
    * not swallow.
    */
  final class DatetimeCastError(msg: String) extends RuntimeException(msg) {
    override def fillInStackTrace(): Throwable = this
  }

  /** Session time zone for tz-requiring casts (`*_tz` functions); the
    * regression suite runs its comparison blocks under UTC.
    */
  val sessionZone: ThreadLocal[ZoneId] =
    ThreadLocal.withInitial(() => ZoneOffset.UTC)

  private def err(msg: String): Nothing =
    throw new JsonPath.PathError(msg, structural = false)

  // ----------------------------------------------------------------- parsing

  def parse(s: String, template: Option[String]): JDateTime = template match {
    case Some(t) => parseTemplate(s, t)
    case None    => parseDefault(s)
  }

  private val dateRe = """(\d{4,7})-(\d{2})-(\d{2})""".r
  private val tzRe = """([+-])(\d{1,2})(?::(\d{1,2}))?""".r
  // compiled once: datetime() runs per row in table scans
  private val fullPat = java.util.regex.Pattern.compile(
    """(\d{4,7})-(\d{2})-(\d{2})([T ])(\d{2}):(\d{2}):(\d{2})(\.\d+)?( ?[+-]\d{1,2}(?::\d{1,2})?)?""")
  private val timeOnlyPat = java.util.regex.Pattern.compile(
    """(\d{2}):(\d{2}):(\d{2})(\.\d+)?( ?[+-]\d{1,2}(?::\d{1,2})?)?""")

  /** Default-format inference: ISO date / time / timestamp with 'T' or
    * single space, optional trailing offset. A lowercase 't' separator
    * is NOT recognized (matching the reference).
    */
  private def parseDefault(s: String): JDateTime = {
    def notRecognized(): Nothing =
      err(s"""datetime format is not recognized: "$s"""")
    def offset(tz: String): ZoneOffset = tz match {
      case tzRe(sign, h, m) =>
        val sec = h.toInt * 3600 + (if (m == null) 0 else m.toInt * 60)
        ZoneOffset.ofTotalSeconds(if (sign == "-") -sec else sec)
      case _ => notRecognized()
    }
    def nanos(frac: String): Int =
      if (frac == null) 0
      else math.round((frac.toDouble) * 1e9).toInt

    s match {
      case dateRe(y, mo, d) =>
        make(date = Some((y.toInt, mo.toInt, d.toInt)), time = None, tz = None,
          onBadField = notRecognized())
      case _ =>
        val fm = fullPat.matcher(s)
        val tm = timeOnlyPat.matcher(s)
        if (fm.matches()) {
          val ld = checkedDate(fm.group(1).toInt, fm.group(2).toInt,
            fm.group(3).toInt, notRecognized())
          val lt = checkedTime(fm.group(5).toInt, fm.group(6).toInt,
            fm.group(7).toInt, nanos(fm.group(8)), notRecognized())
          val ldt = LocalDateTime.of(ld, lt)
          if (fm.group(9) != null)
            mk(OffsetDateTime.of(ldt, offset(fm.group(9).trim)))
          else mk(ldt)
        } else if (tm.matches()) {
          val lt = checkedTime(tm.group(1).toInt, tm.group(2).toInt,
            tm.group(3).toInt, nanos(tm.group(4)), notRecognized())
          if (tm.group(5) != null) mk(OffsetTime.of(lt, offset(tm.group(5).trim)))
          else mk(lt)
        } else notRecognized()
    }
  }

  private def checkedDate(y: Int, mo: Int, d: Int, onBad: => Nothing): LocalDate =
    try LocalDate.of(y, mo, d) catch { case _: DateTimeException => onBad }
  private def checkedTime(h: Int, mi: Int, se: Int, n: Int, onBad: => Nothing): LocalTime =
    try LocalTime.of(h, mi, se, n) catch { case _: DateTimeException => onBad }

  private def make(date: Option[(Int, Int, Int)], time: Option[(Int, Int, Int)],
      tz: Option[Int], onBadField: => Nothing): JDateTime = {
    (date, time, tz) match {
      case (Some((y, mo, d)), None, None) =>
        mk(checkedDate(y, mo, d, onBadField))
      case (Some((y, mo, d)), Some((h, mi, se)), None) =>
        mk(LocalDateTime.of(checkedDate(y, mo, d, onBadField),
          checkedTime(h, mi, se, 0, onBadField)))
      case (Some((y, mo, d)), Some((h, mi, se)), Some(off)) =>
        mk(OffsetDateTime.of(checkedDate(y, mo, d, onBadField),
          checkedTime(h, mi, se, 0, onBadField), ZoneOffset.ofTotalSeconds(off)))
      case (None, Some((h, mi, se)), None) =>
        mk(checkedTime(h, mi, se, 0, onBadField))
      case (None, Some((h, mi, se)), Some(off)) =>
        mk(OffsetTime.of(checkedTime(h, mi, se, 0, onBadField),
          ZoneOffset.ofTotalSeconds(off)))
      case (Some((y, mo, d)), None, Some(off)) =>
        // date + zone alone has no reference analog; treat as date
        mk(checkedDate(y, mo, d, onBadField))
      case _ => onBadField
    }
  }

  // template field keywords, longest match first
  private val fields = Seq("HH24", "TZH", "TZM", "yyyy", "YYYY", "dd", "DD",
    "mm", "MM", "MI", "SS")

  private def parseTemplate(input: String, template: String): JDateTime = {
    var ti = 0 // template pos
    var si = 0 // input pos
    var year, mon, day, hour, min, sec = -1
    // sign kept separately: -00:30 must not collapse to +00:30
    var tzh = Integer.MIN_VALUE; var tzm = 0; var tzSign = 1
    def readDigits(n: Int, field: String): Int = {
      if (si + n > input.length)
        err("input string is too short for datetime format")
      val chunk = input.substring(si, si + n)
      if (!chunk.forall(Character.isDigit))
        err(s"""invalid value "$chunk" for "$field"""")
      si += n
      chunk.toInt
    }
    // tz fields accept 1-2 digits ("+1" and "+05" both parse)
    def readDigitsUpTo(n: Int, field: String): Int = {
      if (si >= input.length)
        err("input string is too short for datetime format")
      var len = 0
      while (len < n && si + len < input.length &&
          Character.isDigit(input.charAt(si + len))) len += 1
      if (len == 0)
        err(s"""invalid value "${input.charAt(si)}" for "$field"""")
      val chunk = input.substring(si, si + len)
      si += len
      chunk.toInt
    }
    while (ti < template.length) {
      val c = template.charAt(ti)
      if (c == '"') {
        // quoted literal must match input exactly
        val end = template.indexOf('"', ti + 1)
        val lit = template.substring(ti + 1, if (end < 0) template.length else end)
        lit.foreach { lc =>
          if (si >= input.length)
            err("input string is too short for datetime format")
          if (input.charAt(si) != lc)
            err(s"""unmatched format character "$lc"""")
          si += 1
        }
        ti = (if (end < 0) template.length else end + 1)
      } else if (Character.isLetter(c)) {
        fields.find(f => template.startsWith(f, ti)) match {
          case Some(f) =>
            ti += f.length
            f match {
              case "yyyy" | "YYYY" =>
                // years may be wider than 4 digits (year 1000000)
                var extra = 4
                while (si + extra < input.length &&
                    Character.isDigit(input.charAt(si + extra))) extra += 1
                year = readDigits(extra, "yyyy")
              case "mm" | "MM" => mon = readDigits(2, "mm")
              case "dd" | "DD" => day = readDigits(2, "dd")
              case "HH24"      => hour = readDigits(2, "HH24")
              case "MI"        => min = readDigits(2, "MI")
              case "SS"        => sec = readDigits(2, "SS")
              case "TZH" =>
                if (si >= input.length)
                  err("input string is too short for datetime format")
                tzSign = input.charAt(si) match {
                  case '+' => si += 1; 1
                  case '-' => si += 1; -1
                  case _   => 1
                }
                tzh = readDigitsUpTo(2, "TZH")
              case "TZM" => tzm = readDigitsUpTo(2, "TZM")
            }
          case None =>
            err(s"""invalid datetime format separator: "$c"""")
        }
      } else {
        // separator: must match the input character
        if (si >= input.length)
          err("input string is too short for datetime format")
        if (input.charAt(si) != c)
          err(s"""unmatched format character "$c"""")
        si += 1
        ti += 1
      }
    }
    if (si < input.length)
      err("trailing characters remain in input string after datetime format")
    val hasDate = year >= 0 || mon >= 0 || day >= 0
    val hasTime = hour >= 0 || min >= 0 || sec >= 0
    val hasTz = tzh != Integer.MIN_VALUE
    def badValue: Nothing =
      err(s"""datetime format is not recognized: "$input"""")
    val off =
      if (hasTz) Some(tzSign * (tzh * 3600 + tzm * 60))
      else None
    make(
      date = if (hasDate) Some((if (year >= 0) year else 1,
        if (mon >= 0) mon else 1, if (day >= 0) day else 1)) else None,
      time = if (hasTime) Some((if (hour >= 0) hour else 0,
        if (min >= 0) min else 0, if (sec >= 0) sec else 0)) else None,
      tz = off, onBadField = badValue)
  }

  // --------------------------------------------------------------- rendering

  private def two(n: Int): String = f"$n%02d"

  private def renderOffset(off: ZoneOffset): String = {
    val total = off.getTotalSeconds
    val sign = if (total < 0) "-" else "+"
    val a = math.abs(total)
    s"$sign${two(a / 3600)}:${two(a % 3600 / 60)}"
  }

  private def renderTime(t: LocalTime): String = {
    val base = s"${two(t.getHour)}:${two(t.getMinute)}:${two(t.getSecond)}"
    if (t.getNano != 0) {
      val frac = (t.getNano / 1000).toString.reverse.padTo(6, '0').reverse
        .reverse.dropWhile(_ == '0').reverse
      s"$base.$frac"
    } else base
  }

  private def renderDate(d: LocalDate): String =
    f"${d.getYear}%04d-${two(d.getMonthValue)}-${two(d.getDayOfMonth)}"

  def mk(t: java.time.temporal.Temporal): JDateTime = {
    val text = t match {
      case d: LocalDate      => renderDate(d)
      case lt: LocalTime     => renderTime(lt)
      case ot: OffsetTime    => renderTime(ot.toLocalTime) + renderOffset(ot.getOffset)
      case dt: LocalDateTime => renderDate(dt.toLocalDate) + "T" + renderTime(dt.toLocalTime)
      case odt: OffsetDateTime =>
        renderDate(odt.toLocalDate) + "T" + renderTime(odt.toLocalTime) +
          renderOffset(odt.getOffset)
      case other => other.toString
    }
    JDateTime(t, text)
  }

  def typeName(dt: JDateTime): String = dt.value match {
    case _: LocalDate      => "date"
    case _: LocalTime      => "time without time zone"
    case _: OffsetTime     => "time with time zone"
    case _: LocalDateTime  => "timestamp without time zone"
    case _: OffsetDateTime => "timestamp with time zone"
    case _                 => "datetime"
  }

  // -------------------------------------------------------------- comparison

  private def castError(from: String, to: String): Nothing =
    throw new DatetimeCastError(
      s"cannot convert value from $from to $to without time zone usage")

  /** Three-valued comparison (1/0/-1 = true/false/unknown), mirroring
    * compareDatetime: the date family (date/timestamp/timestamptz) and
    * the time family (time/timetz) are internally comparable; a
    * tz-less vs tz-carrying comparison requires useTz, cross-family is
    * unknown.
    */
  def compare(op: String, a: JDateTime, b: JDateTime, useTz: Boolean): Int = {
    val av = a.value; val bv = b.value
    def timeFamily(t: java.time.temporal.Temporal) =
      t.isInstanceOf[LocalTime] || t.isInstanceOf[OffsetTime]
    if (timeFamily(av) != timeFamily(bv)) return -1 // cross-family: unknown

    val zone = sessionZone.get()
    def sessionOffsetNow: ZoneOffset = zone.getRules.getOffset(Instant.now())

    val c: Long =
      if (timeFamily(av)) {
        val hasTz = av.isInstanceOf[OffsetTime] || bv.isInstanceOf[OffsetTime]
        // (utc micros, seconds WEST of UTC) — the reference's
        // timetz_cmp_internal sorts by GMT-equivalent time first, then
        // breaks ties on the zone, so 13:35+01 < 12:35+00 despite the
        // equal instant
        def key(t: java.time.temporal.Temporal): (Long, Long) = t match {
          case lt: LocalTime =>
            if (hasTz && !useTz) castError("time", "timetz")
            val offE = if (hasTz) sessionOffsetNow.getTotalSeconds.toLong else 0L
            (lt.toNanoOfDay / 1000 - offE * 1000000, -offE)
          case ot: OffsetTime =>
            val offE = ot.getOffset.getTotalSeconds.toLong
            (ot.toLocalTime.toNanoOfDay / 1000 - offE * 1000000, -offE)
          case _ => (0L, 0L)
        }
        val (au, az) = key(av); val (bu, bz) = key(bv)
        val primary = java.lang.Long.compare(au, bu)
        (if (primary != 0) primary else java.lang.Long.compare(az, bz)).toLong
      } else {
        val hasTz = av.isInstanceOf[OffsetDateTime] || bv.isInstanceOf[OffsetDateTime]
        def localDt(t: java.time.temporal.Temporal): LocalDateTime = t match {
          case d: LocalDate     => d.atStartOfDay()
          case dt: LocalDateTime => dt
          case _                => null
        }
        if (!hasTz) {
          // tz-less date family: compare local datetimes directly
          localDt(av).compareTo(localDt(bv)).toLong
        } else {
          def instant(t: java.time.temporal.Temporal): Instant = t match {
            case odt: OffsetDateTime => odt.toInstant
            case d: LocalDate =>
              if (!useTz) castError("date", "timestamptz")
              d.atStartOfDay(zone).toInstant
            case dt: LocalDateTime =>
              if (!useTz) castError("timestamp", "timestamptz")
              dt.atZone(zone).toInstant
            case _ => Instant.EPOCH
          }
          instant(av).compareTo(instant(bv)).toLong
        }
      }
    val res = op match {
      case "==" => c == 0
      case "!=" => c != 0
      case "<"  => c < 0
      case "<=" => c <= 0
      case ">"  => c > 0
      case ">=" => c >= 0
    }
    if (res) 1 else 0
  }
}
