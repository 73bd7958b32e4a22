package graft.functions

import java.util.Locale

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.{TreePattern, UnaryLike}
import org.apache.spark.sql.catalyst.trees.TreePattern.TreePattern
import org.apache.spark.sql.types._

/** ClickHouse scalar-function pack — SURVEY.md §2.7.
  *
  * The reference forks DataFusion to add these names
  * (crates/datafusion/src/physical_plan/clickhouse.rs:37-136; e2e tests
  * crates/tests_integ/tests/sanity_checks.rs:981-1262). Here each is a thin
  * builder over codegen'd Catalyst built-ins — no UDFs — registered either
  * at runtime ([[register]]) or through `spark.sql.extensions`
  * ([[GraftExtensions]]). Spark's FunctionRegistry is case-insensitive,
  * which matches the reference planner's lowercasing of unquoted names
  * (sql/planner.rs:1520-1528).
  */
object ClickHouseFunctions {

  /** toDate: polymorphic like the reference's kernels
    * (timestamp32_to_date / int64_to_date / utf8_to_date,
    * crates/datafusion_tests/tests/clickhouse.rs:15-80): timestamps and
    * strings cast to DATE; integers are days-since-epoch with negatives
    * clamped to 0 (int64_to_date maps -1 → 1970-01-01).
    */
  case class ChToDate(child: Expression, timeZoneId: Option[String] = None)
      extends RuntimeReplaceable with UnaryLike[Expression]
      with TimeZoneAwareExpression {
    override lazy val replacement: Expression = child.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val days = Cast(child, IntegerType)
        DateFromUnixDate(If(LessThan(days, Literal(0)), Literal(0), days))
      case _ => Cast(child, DateType, timeZoneId)
    }
    // TimeZoneAwareExpression makes nodePatterns final (TIME_ZONE_AWARE +
    // nodePatternsInternal) and clobbers RuntimeReplaceable's pattern —
    // without this the pruned ReplaceExpressions rule never sees the node.
    override def nodePatternsInternal(): Seq[TreePattern] =
      Seq(TreePattern.RUNTIME_REPLACEABLE)
    override def withTimeZone(tz: String): ChToDate = copy(timeZoneId = Some(tz))
    override protected def withNewChildInternal(c: Expression): ChToDate =
      copy(child = c)
  }

  /** toDateTime: date/string cast to TIMESTAMP; integers are epoch seconds
    * with negatives clamped to 0 (int64_to_datetime semantics).
    */
  case class ChToDateTime(child: Expression, timeZoneId: Option[String] = None)
      extends RuntimeReplaceable with UnaryLike[Expression]
      with TimeZoneAwareExpression {
    override lazy val replacement: Expression = child.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val secs = Cast(child, LongType)
        SecondsToTimestamp(If(LessThan(secs, Literal(0L)), Literal(0L), secs))
      case _ => Cast(child, TimestampType, timeZoneId)
    }
    override def nodePatternsInternal(): Seq[TreePattern] =
      Seq(TreePattern.RUNTIME_REPLACEABLE)
    override def withTimeZone(tz: String): ChToDateTime = copy(timeZoneId = Some(tz))
    override protected def withNewChildInternal(c: Expression): ChToDateTime =
      copy(child = c)
  }

  /** How toUUID treats an unparseable input — mirrors the reference's
    * TreatNonUUIDAs (clickhouse.rs:74-82).
    */
  sealed trait NonUuidMode
  case object UuidError extends NonUuidMode
  case object UuidNull extends NonUuidMode
  case object UuidZero extends NonUuidMode

  /** Parse a canonical 8-4-4-4-12 UUID string to its 16 raw bytes —
    * the reference returns FixedSizeBinary(16)
    * (utf8_to_uuid_or_{error,null,zero}, datafusion_tests/tests/
    * clickhouse.rs:84-130). Codegen'd via a static [[UuidBytes]] helper
    * call (VERDICT r7 wrong #3 — the old CodegenFallback broke the
    * surrounding whole-stage pipeline for any plan touching a UUID
    * column, the last interpreted island in the repo).
    */
  case class UuidParse(child: Expression, mode: NonUuidMode)
      extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = mode != UuidZero || child.nullable
    override def nullSafeEval(v: Any): Any = {
      val s = v.toString
      UuidBytes.parse(s) match {
        case Some(bytes) => bytes
        case None => mode match {
          case UuidError =>
            throw new IllegalArgumentException(s"Cannot parse UUID: '$s'")
          case UuidNull => null
          case UuidZero => new Array[Byte](16)
        }
      }
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val h = "graft.functions.UuidBytes"
      mode match {
        case UuidError =>
          nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $h.parseOrThrow($c);")
        case UuidZero =>
          nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $h.parseOrZero($c);")
        case UuidNull =>
          // the result is null for a NON-null unparseable input, so the
          // generated block must set isNull itself
          nullSafeCodeGen(ctx, ev, c =>
            s"""${ev.value} = $h.parseOrNull($c);
               |${ev.isNull} = ${ev.value} == null;""".stripMargin)
      }
    }
    override protected def withNewChildInternal(c: Expression): UuidParse =
      copy(child = c)
  }

  /** Format 16 UUID bytes back to the canonical string (uuid_to_large_utf). */
  case class UuidFormat(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = StringType
    // eval returns null for any non-16-byte input regardless of child
    // nullability — inheriting child.nullable would let IsNotNull pruning
    // assume nulls cannot occur (ADVICE r1).
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[Array[Byte]]
      if (b.length != 16) null
      else org.apache.spark.unsafe.types.UTF8String.fromString(UuidBytes.format(b))
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = graft.functions.UuidBytes.formatUtf8($c);
           |${ev.isNull} = ${ev.value} == null;""".stripMargin)
    override protected def withNewChildInternal(c: Expression): UuidFormat =
      copy(child = c)
  }

  private type Builder = Seq[Expression] => Expression

  // ---- lambda plumbing for the CH array higher-order family ------------
  // CH's functional array surface (arrayMap/arrayFilter/...) takes the
  // lambda FIRST: arrayMap(x -> x*2, arr). Spark's SQL parser hands the
  // registry builder the parsed LambdaFunction as an ordinary child, so
  // each builder just reorders children into the matching Catalyst
  // higher-order expression; ResolveLambdaVariables then binds the vars
  // exactly as for Spark's own transform()/filter().
  private def nv(n: String): UnresolvedNamedLambdaVariable =
    UnresolvedNamedLambdaVariable(Seq(n))

  private def lambdaOf(e: Expression, fn: String): LambdaFunction = e match {
    case l: LambdaFunction => l
    case other => throw new IllegalArgumentException(
      s"$fn expects a lambda (x -> expr) as its first argument, got $other")
  }

  /** aggregate(arr, 0, (acc,x) -> acc+x): zero is an Int literal so the
    * analyzer's ArrayAggregate coercion widens it to the element family
    * (Long stays Long, fractional goes Double) — CH's arraySum widening.
    */
  private def arraySumOf(a: Expression): Expression = {
    val acc = nv("graft_acc"); val x = nv("graft_x"); val fin = nv("graft_fin")
    ArrayAggregate(a, Literal(0L),
      LambdaFunction(Add(acc, x), Seq(acc, x)),
      LambdaFunction(fin, Seq(fin)))
  }

  /** Key-function sort (CH arraySort(λ, a)): decorate-sort-undecorate with
    * the parsed lambda's own body/args reused verbatim — sort an array of
    * (key, value) structs, then project the value back out. Ties on the
    * key fall back to the element's own ordering (deterministic in both
    * engines; CH's stable sort differs only for duplicate elements, which
    * compare equal anyway).
    */
  private def arrayKeySort(l: LambdaFunction, a: Expression,
                           asc: Boolean): Expression = {
    val pair = CreateNamedStruct(Seq(
      Literal("k"), l.function, Literal("v"), l.arguments.head))
    val p = nv("graft_p")
    ArrayTransform(
      SortArray(ArrayTransform(a, LambdaFunction(pair, l.arguments)),
        Literal(asc)),
      LambdaFunction(
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
          p, Literal("v")), Seq(p)))
  }

  private def emptyIntArray: Expression =
    Literal.create(Array.empty[Int], ArrayType(IntegerType))

  /** CH JSON functions address by KEY; Spark's GetJsonObject wants a
    * '$.key' JSONPath — prepend it (works for literal and computed keys).
    */
  private def jsonPath(k: Expression): Expression = k match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType)
        if s.toString.startsWith("$") => k // already a JSONPath
    case _ => Concat(Seq(Literal("$."), Cast(k, StringType)))
  }

  private def one(name: String)(f: Expression => Expression): Builder = {
    case Seq(e) => f(e)
    case exprs => throw new IllegalArgumentException(
      s"$name expects 1 argument, got ${exprs.length}")
  }

  private def two(name: String)(f: (Expression, Expression) => Expression): Builder = {
    case Seq(a, b) => f(a, b)
    case exprs => throw new IllegalArgumentException(
      s"$name expects 2 arguments, got ${exprs.length}")
  }

  /** The strftime %-code translation shared by formatDateTime and
    * fromUnixTimestamp(x, fmt): C-style codes (what CH and DuckDB speak)
    * to Spark's Java pattern, at build time. Unknown codes error.
    */
  private def chFormatToJava(f: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < f.length) {
      val c = f.charAt(i)
      if (c == '%' && i + 1 < f.length) {
        out.append(f.charAt(i + 1) match {
          case 'Y' => "yyyy"
          case 'y' => "yy"
          case 'm' => "MM"
          case 'd' => "dd"
          case 'H' => "HH"
          case 'M' => "mm"
          case 'S' => "ss"
          case 'j' => "DDD"
          case 'e' => "d"
          case 'F' => "yyyy-MM-dd"
          case 'T' => "HH:mm:ss"
          case 'a' => "EEE"
          case 'b' => "MMM"
          case '%' => "%"
          case other => throw new IllegalArgumentException(
            s"formatDateTime: unsupported code %$other")
        })
        i += 2
      } else if (c.isLetter) {
        // quote the whole literal-letter RUN once — per-letter quoting
        // would put \'\' between letters, which Java reads as a literal
        // quote character
        val start = i
        while (i < f.length && f.charAt(i).isLetter && f.charAt(i) != '%')
          i += 1
        out.append("'").append(f.substring(start, i)).append("'")
      } else {
        out.append(c)
        i += 1
      }
    }
    out.toString
  }

  /** The Sunday on or before d (Spark DayOfWeek: Sunday=1..Saturday=7). */
  private def sundayStart(d: Expression): Expression =
    DateSub(d, Subtract(DayOfWeek(d), Literal(1)))

  /** MySQL/CH week mode 0 over a date-or-timestamp: Sunday-start weeks,
    * 0-53; days before the year's first Sunday land in week 0. The
    * first Sunday is sundayStart(jan1 + 6) — the unique Sunday in the
    * year's first seven days.
    */
  private def sundayWeek(e: Expression): Expression = {
    val d = Cast(e, DateType)
    val jan1 = TruncDate(d, Literal("year"))
    val firstSunday = sundayStart(DateAdd(jan1, Literal(6)))
    If(LessThan(d, firstSunday), Literal(0),
      Add(Cast(IntegralDivide(
        Cast(Subtract(UnixDate(sundayStart(d)), UnixDate(firstSunday)),
          LongType), Literal(7L)), IntegerType), Literal(1)))
  }

  /** Epoch-anchored unit ordinal in seconds-granularity units. The shift
    * (62168256000 s = 719540 days) keeps the dividend positive over the
    * whole Date32 range so IntegralDivide behaves as floor-division; it is
    * a multiple of 3600 and 60, so hour/minute boundaries are unmoved.
    */
  private def relSeconds(e: Expression, unitSeconds: Long): Expression =
    Cast(IntegralDivide(
      Add(UnixSeconds(Cast(e, TimestampType)), Literal(62168256000L)),
      Literal(unitSeconds)), LongType)

  /** Monday-start week ordinal: 719540 ≡ 3 (mod 7) puts the division
    * boundary on Mondays (epoch day 4 = Monday 1970-01-05), matching the
    * ISO convention DuckDB's date_diff('week') counts.
    */
  private def relWeek(e: Expression): Expression =
    Cast(IntegralDivide(
      Add(Cast(UnixDate(Cast(e, DateType)), LongType), Literal(719540L)),
      Literal(7L)), LongType)

  /** Floor a timestamp onto an N-second grid (the toStartOfFiveMinutes
    * family).
    */
  private def floorSeconds(e: Expression, n: Int): Expression =
    SecondsToTimestamp(Multiply(
      Cast(IntegralDivide(UnixSeconds(Cast(e, TimestampType)),
        Literal(n.toLong)), LongType), Literal(n.toLong)))

  /** Truncate a timestamp to DateTime64(p)'s tick grid (p <= 6; µs is
    * Spark's floor). Integral division truncates toward zero — matching
    * CH's cast behavior for the post-1970 range; pre-epoch sub-tick
    * residues differ by one tick (documented, like the Date clamp).
    */
  private def dt64Trunc(ts: Expression, p: Int): Expression =
    if (p >= 6) ts
    else {
      val step = Literal(math.pow(10, 6 - p).toLong)
      MicrosToTimestamp(Multiply(
        Cast(IntegralDivide(UnixMicros(ts), step), LongType), step))
    }

  private def litInt(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Byte, ByteType) => v.toInt
    case Literal(v: Short, ShortType) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn scale must be an integer literal, got $other")
  }

  private def litStr(e: Expression, fn: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) =>
      v.toString
    case other => throw new IllegalArgumentException(
      s"$fn separator must be a string literal, got $other")
  }

  /** CH addUnit/subtractUnit family: polymorphic like CH — Date inputs stay
    * DATE for whole-day-or-coarser units (addDays(Date) → Date), anything
    * else goes through timestamp arithmetic (addHours(Date) → DateTime,
    * CH's own widening).
    */
  case class ChAddUnit(child: Expression, n: Expression, unit: String,
                       timeZoneId: Option[String] = None)
      extends RuntimeReplaceable with TimeZoneAwareExpression
      with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {
    override def left: Expression = child
    override def right: Expression = n
    // Sub-day arithmetic is exact epoch-micros addition (session is
    // pinned UTC, same as CH's default timezone-naive arithmetic); month+
    // units use calendar arithmetic with end-of-month clamping, as CH.
    private def microsPer: Long = unit match {
      case "HOUR" => 3600000000L
      case "MINUTE" => 60000000L
      case "SECOND" => 1000000L
    }
    // Spark's add_months/date_add and make_ym_interval take an INT count:
    // the CH count (any integer width) is cast first
    private def nTimes(k: Int): Expression = Multiply(Cast(n, IntegerType), Literal(k))
    private def months(k: Int): Expression = MakeYMInterval(Literal(0), nTimes(k))
    private def tsAdd(ts: Expression): Expression = unit match {
      // calendar month-add on a timestamp keeps the time of day (CH
      // addMonths(DateTime) contract) — ts + YM interval
      case "YEAR" => TimestampAddYMInterval(ts, months(12), timeZoneId)
      case "QUARTER" => TimestampAddYMInterval(ts, months(3), timeZoneId)
      case "MONTH" => TimestampAddYMInterval(ts, months(1), timeZoneId)
      case "WEEK" => MicrosToTimestamp(Add(UnixMicros(ts),
        Multiply(Cast(n, LongType), Literal(7L * 86400000000L))))
      case "DAY" => MicrosToTimestamp(Add(UnixMicros(ts),
        Multiply(Cast(n, LongType), Literal(86400000000L))))
      case _ => MicrosToTimestamp(Add(UnixMicros(ts),
        Multiply(Cast(n, LongType), Literal(microsPer))))
    }
    override lazy val replacement: Expression = child.dataType match {
      case DateType => unit match {
        case "YEAR" => AddMonths(child, nTimes(12))
        case "QUARTER" => AddMonths(child, nTimes(3))
        case "MONTH" => AddMonths(child, nTimes(1))
        case "WEEK" => DateAdd(child, nTimes(7))
        case "DAY" => DateAdd(child, nTimes(1))
        case _ => tsAdd(Cast(child, TimestampType, timeZoneId))
      }
      case _ => tsAdd(Cast(child, TimestampType, timeZoneId))
    }
    // same clobber as ChToDate: TimeZoneAwareExpression finalizes
    // nodePatterns, so re-expose RUNTIME_REPLACEABLE for the rewrite rule
    override def nodePatternsInternal(): Seq[TreePattern] =
      Seq(TreePattern.RUNTIME_REPLACEABLE)
    override def withTimeZone(tz: String): ChAddUnit = copy(timeZoneId = Some(tz))
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): ChAddUnit = copy(child = l, n = r)
  }

  /** CH empty()/notEmpty(): type-polymorphic zero-length test (arrays,
    * maps, strings, binaries — string_functions.rs's empty kernel family).
    */
  case class ChEmpty(child: Expression, negated: Boolean)
      extends RuntimeReplaceable with UnaryLike[Expression] {
    override lazy val replacement: Expression = {
      val isEmpty = child.dataType match {
        case _: ArrayType | _: MapType => EqualTo(Size(child), Literal(0))
        case BinaryType => EqualTo(Length(child), Literal(0))
        case StringType => EqualTo(Length(child), Literal(0))
        case _ => EqualTo(Length(Cast(child, StringType)), Literal(0))
      }
      if (negated) Not(isEmpty) else isEmpty
    }
    override protected def withNewChildInternal(c: Expression): ChEmpty =
      copy(child = c)
  }

  /** name → expression builder; every entry is a Catalyst built-in
    * composition (SURVEY §2.7 table).
    */
  val functions: Seq[(String, Builder)] = Seq[(String, Builder)](
    "toYear" -> one("toYear")(e => Year(e)),
    "toYYYY" -> one("toYYYY")(e => Year(e)),
    // toYYYYMM(d) = year*100 + month — the canonical CH partition-key
    // expression (PARTITION BY toYYYYMM(date), docs/lang.md).
    "toYYYYMM" -> one("toYYYYMM")(e =>
      Add(Multiply(Year(e), Literal(100)), Month(e))),
    "toQuarter" -> one("toQuarter")(e => Quarter(e)),
    // toYYYYMMDD(d) = y*10000 + m*100 + d — the finer CH partition key.
    "toYYYYMMDD" -> one("toYYYYMMDD")(e =>
      Add(Add(Multiply(Year(e), Literal(10000)),
        Multiply(Month(e), Literal(100))), DayOfMonth(e))),
    "toMonth" -> one("toMonth")(e => Month(e)),
    "toDayOfYear" -> one("toDayOfYear")(e => DayOfYear(e)),
    "toDayOfMonth" -> one("toDayOfMonth")(e => DayOfMonth(e)),
    // CH: Mon=1..Sun=7; Spark WeekDay: Mon=0..Sun=6.
    "toDayOfWeek" -> one("toDayOfWeek")(e => Add(WeekDay(e), Literal(1))),
    "toHour" -> one("toHour")(e => Hour(e)),
    "toMinute" -> one("toMinute")(e => Minute(e)),
    "toSecond" -> one("toSecond")(e => Second(e)),
    "toDate" -> one("toDate")(e => ChToDate(e)),
    "toDateTime" -> one("toDateTime")(e => ChToDateTime(e)),
    // toDate32: like toDate but over Date32's signed range — integer
    // days are NOT clamped at 1970 (pre-epoch days are in range)
    "toDate32" -> one("toDate32")(e => e.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        DateFromUnixDate(Cast(e, IntegerType))
      case _ => Cast(e, DateType)
    }),
    // toDateTime64(x, p): numeric x is SECONDS (fractional allowed),
    // strings/timestamps cast; the result truncates to 10^-p ticks
    "toDateTime64" -> two("toDateTime64")((x, p) =>
      dt64Trunc(x.dataType match {
        case _: NumericType => SecondsToTimestamp(x)
        case _ => Cast(x, TimestampType)
      }, litInt(p, "toDateTime64"))),
    // now64([p]): current timestamp at 10^-p ticks (CH default p=3)
    "now64" -> { exprs =>
      val p = exprs match {
        case Seq() => 3
        case Seq(e) => litInt(e, "now64")
        case _ => throw new IllegalArgumentException(
          "now64 expects 0 or 1 arguments")
      }
      dt64Trunc(Cast(CurrentTimestamp(), TimestampType), p)
    },
    "endsWith" -> two("endsWith")((l, r) => EndsWith(l, r)),
    // toDecimal32/64(x, s) → CAST(x AS DECIMAL(9|18, s)). The reference
    // leaves this rewrite TODO in its own TPC-H port
    // (tpch/01095_tpch_like_smoke.sql:417); scale must be a literal.
    "toDecimal32" -> two("toDecimal32")((x, s) =>
      Cast(x, DecimalType(9, litInt(s, "toDecimal32")))),
    "toDecimal64" -> two("toDecimal64")((x, s) =>
      Cast(x, DecimalType(18, litInt(s, "toDecimal64")))),
    "generateUUIDv4" -> { exprs =>
      require(exprs.isEmpty, "generateUUIDv4 takes no arguments")
      UuidParse(new Uuid(), UuidError)
    },
    "toUUID" -> one("toUUID")(e => UuidParse(e, UuidError)),
    "toUUIDOrNull" -> one("toUUIDOrNull")(e => UuidParse(e, UuidNull)),
    "toUUIDOrZero" -> one("toUUIDOrZero")(e => UuidParse(e, UuidZero)),
    "UUIDStringToNum" -> one("UUIDStringToNum")(e => UuidParse(e, UuidError)),
    "UUIDNumToString" -> one("UUIDNumToString")(UuidFormat),
    // ---- CH array / string / arithmetic surface (round-10 widening) ----
    // arrayJoin is CH's row-multiplying function — exactly Spark's
    // explode generator; the analyzer lifts it into Generate.
    "arrayJoin" -> one("arrayJoin")(e => Explode(e)),
    "has" -> two("has")((a, x) => ArrayContains(a, x)),
    // CH indexOf: 1-based position, 0 when absent — ArrayPosition's own
    // contract.
    "indexOf" -> two("indexOf")((a, x) => ArrayPosition(a, x)),
    "arrayStringConcat" -> { exprs =>
      exprs match {
        case Seq(a) => ArrayJoin(a, Literal(""), None)
        case Seq(a, sep) => ArrayJoin(a, sep, None)
        case _ => throw new IllegalArgumentException(
          "arrayStringConcat expects (array[, separator])")
      }
    },
    // splitByChar(sep, s) — CH's argument order; sep must be a 1-char
    // literal (CH's own constraint). limit -1 keeps trailing empties,
    // matching CH.
    "splitByChar" -> two("splitByChar")((sep, s) => {
      val c = litStr(sep, "splitByChar")
      require(c.length == 1, s"splitByChar separator must be 1 char: '$c'")
      StringSplit(s, Literal(java.util.regex.Pattern.quote(c)), Literal(-1))
    }),
    "empty" -> one("empty")(e => ChEmpty(e, negated = false)),
    "notEmpty" -> one("notEmpty")(e => ChEmpty(e, negated = true)),
    "lengthUTF8" -> one("lengthUTF8")(e => Length(e)),
    "lowerUTF8" -> one("lowerUTF8")(e => Lower(e)),
    "upperUTF8" -> one("upperUTF8")(e => Upper(e)),
    "toString" -> one("toString")(e => Cast(e, StringType)),
    "ifNull" -> two("ifNull")((a, b) => Coalesce(Seq(a, b))),
    // CH named arithmetic: divide always returns Float64; intDiv
    // truncates (IntegralDivide); modulo keeps integer semantics.
    "plus" -> two("plus")((a, b) => Add(a, b)),
    "minus" -> two("minus")((a, b) => Subtract(a, b)),
    "multiply" -> two("multiply")((a, b) => Multiply(a, b)),
    "divide" -> two("divide")((a, b) =>
      Divide(Cast(a, DoubleType), Cast(b, DoubleType))),
    "intDiv" -> two("intDiv")((a, b) => IntegralDivide(a, b)),
    "modulo" -> two("modulo")((a, b) => Remainder(a, b)),
    "bitAnd" -> two("bitAnd")((a, b) => BitwiseAnd(a, b)),
    "bitOr" -> two("bitOr")((a, b) => BitwiseOr(a, b)),
    "bitXor" -> two("bitXor")((a, b) => BitwiseXor(a, b)),
    "bitNot" -> one("bitNot")(e => BitwiseNot(e)),
    // ---- CH datetime pack #2: truncation, arithmetic, diffs ------------
    // toStartOf{Year,Quarter,Month} and toMonday return DATE (CH
    // contract); the sub-day truncations return DateTime.
    "toStartOfYear" -> one("toStartOfYear")(e =>
      TruncDate(Cast(e, DateType), Literal("year"))),
    "toStartOfQuarter" -> one("toStartOfQuarter")(e =>
      TruncDate(Cast(e, DateType), Literal("quarter"))),
    "toStartOfMonth" -> one("toStartOfMonth")(e =>
      TruncDate(Cast(e, DateType), Literal("month"))),
    "toMonday" -> one("toMonday")(e =>
      TruncDate(Cast(e, DateType), Literal("week"))),
    "toStartOfDay" -> one("toStartOfDay")(e =>
      TruncTimestamp(Literal("day"), Cast(e, TimestampType))),
    "toStartOfHour" -> one("toStartOfHour")(e =>
      TruncTimestamp(Literal("hour"), Cast(e, TimestampType))),
    "toStartOfMinute" -> one("toStartOfMinute")(e =>
      TruncTimestamp(Literal("minute"), Cast(e, TimestampType))),
    "toStartOfSecond" -> one("toStartOfSecond")(e =>
      TruncTimestamp(Literal("second"), Cast(e, TimestampType))),
    "toStartOfFiveMinutes" -> one("toStartOfFiveMinutes")(floorSeconds(_, 300)),
    "toStartOfTenMinutes" -> one("toStartOfTenMinutes")(floorSeconds(_, 600)),
    "toStartOfFifteenMinutes" ->
      one("toStartOfFifteenMinutes")(floorSeconds(_, 900)),
    // toStartOfWeek(d[, mode]): mode 0 (CH default) = the Sunday <= d;
    // mode 1 = the Monday (toMonday)
    "toStartOfWeek" -> { exprs =>
      val (e, mode) = exprs match {
        case Seq(x) => (x, 0)
        case Seq(x, m) => (x, litInt(m, "toStartOfWeek"))
        case _ => throw new IllegalArgumentException(
          "toStartOfWeek expects 1 or 2 arguments")
      }
      if (mode == 1) TruncDate(Cast(e, DateType), Literal("week"))
      else DateSub(TruncDate(DateAdd(Cast(e, DateType), Literal(1)),
        Literal("week")), Literal(1))
    },
    // toStartOfInterval(t, INTERVAL n unit) — the interval must be a
    // literal; day-time intervals floor the epoch-microsecond grid,
    // year-month intervals floor the month count
    "toStartOfInterval" -> two("toStartOfInterval")((t, iv) => iv match {
      case Literal(us: Long, _: DayTimeIntervalType) =>
        MicrosToTimestamp(Multiply(
          Cast(IntegralDivide(UnixMicros(Cast(t, TimestampType)),
            Literal(us)), LongType), Literal(us)))
      case Literal(months: Int, _: YearMonthIntervalType) =>
        val mIdx = Add(Multiply(Subtract(Year(t), Literal(1970)),
          Literal(12)), Subtract(Month(t), Literal(1)))
        val fl = Multiply(Cast(IntegralDivide(mIdx, Literal(months.toLong)),
          IntegerType), Literal(months))
        MakeDate(Add(Literal(1970), Cast(Divide(fl, Literal(12)),
          IntegerType)), Add(Pmod(fl, Literal(12)), Literal(1)), Literal(1))
      case other => throw new IllegalArgumentException(
        s"toStartOfInterval expects a literal INTERVAL, got $other")
    }),
    "addYears" -> two("addYears")((e, n) => ChAddUnit(e, n, "YEAR")),
    "addMonths" -> two("addMonths")((e, n) => ChAddUnit(e, n, "MONTH")),
    "addWeeks" -> two("addWeeks")((e, n) => ChAddUnit(e, n, "WEEK")),
    "addDays" -> two("addDays")((e, n) => ChAddUnit(e, n, "DAY")),
    "addHours" -> two("addHours")((e, n) => ChAddUnit(e, n, "HOUR")),
    "addMinutes" -> two("addMinutes")((e, n) => ChAddUnit(e, n, "MINUTE")),
    "addSeconds" -> two("addSeconds")((e, n) => ChAddUnit(e, n, "SECOND")),
    "subtractDays" -> two("subtractDays")((e, n) =>
      ChAddUnit(e, UnaryMinus(n), "DAY")),
    "subtractMonths" -> two("subtractMonths")((e, n) =>
      ChAddUnit(e, UnaryMinus(n), "MONTH")),
    // dateDiff(unit, start, end): Spark's PARSER already special-cases
    // this exact name with an unquoted unit keyword and maps it to
    // TimestampDiff — registering it would never be reached and CH's
    // quoted-'unit' spelling cannot pass the parser; callers use the
    // unquoted form (which CH also accepts).
    // epoch seconds, floor semantics (Spark's timestamp->long cast).
    "toUnixTimestamp" -> one("toUnixTimestamp")(e =>
      Cast(Cast(e, TimestampType), LongType)),
    // ISO week number (Spark's weekofyear IS ISO-8601) and days since
    // epoch (CH's relative-day ordinal).
    "toISOWeek" -> one("toISOWeek")(e => WeekOfYear(Cast(e, DateType))),
    "toRelativeDayNum" -> one("toRelativeDayNum")(e =>
      UnixDate(Cast(e, DateType))),
    // ---- boundary ordinals + dateDiff -----------------------------------
    // CH's toRelative*Num family: unit ordinals whose DIFFERENCES are
    // dateDiff's boundary-crossing counts. Sub-day ordinals shift by
    // 62168256000 s (719540 days — divisible by 3600/60, ≡3 mod 7) so
    // IntegralDivide == floor-division over the whole Date32 range and
    // the Monday-start week boundary lands right; the constant shift
    // cancels in differences (dateDiff), which is the contract that
    // matters (CH's own ordinals are "from a fixed point in the past").
    "toRelativeHourNum" -> one("toRelativeHourNum")(relSeconds(_, 3600L)),
    "toRelativeMinuteNum" -> one("toRelativeMinuteNum")(relSeconds(_, 60L)),
    "toRelativeSecondNum" -> one("toRelativeSecondNum")(relSeconds(_, 1L)),
    "toRelativeWeekNum" -> one("toRelativeWeekNum")(relWeek),
    "toRelativeMonthNum" -> one("toRelativeMonthNum")(e =>
      Add(Multiply(Year(Cast(e, DateType)), Literal(12)),
        Month(Cast(e, DateType)))),
    "toRelativeQuarterNum" -> one("toRelativeQuarterNum")(e =>
      Add(Multiply(Year(Cast(e, DateType)), Literal(4)),
        Quarter(Cast(e, DateType)))),
    "toRelativeYearNum" -> one("toRelativeYearNum")(e =>
      Year(Cast(e, DateType))),
    // dateDiff('unit', start, end[, tz]): the count of UNIT BOUNDARIES
    // crossed between start and end (CH and DuckDB agree on this
    // crossing-count semantics; not elapsed-time division). Computed as
    // ordinal(end) - ordinal(start); returns Int64 like CH. The optional
    // tz argument is accepted; conversions follow the session zone.
    // CH dateDiff is reachable ONLY under this internal name: Spark's
    // parser owns `datediff`/`date_diff` (quoted units rejected at parse;
    // and registering the name would SHADOW Spark's native 2-arg
    // datediff(end, start), which other entries use — found when d25b
    // broke). The dialect layer renames the quoted-unit CH form to this
    // builder (rewriteQueryTails); Spark's own forms keep the builtin.
    "chDateDiff" -> dateDiffBuilder) ++ functionsTail

  private lazy val dateDiffBuilder: Builder = { exprs =>
      val (u, a, b) = exprs match {
        case Seq(u0, a0, b0) => (u0, a0, b0)
        case Seq(u0, a0, b0, _) => (u0, a0, b0)
        case _ => throw new IllegalArgumentException(
          "dateDiff expects (unit, start, end[, tz])")
      }
      val unit = litStr(u, "dateDiff").toLowerCase(Locale.ROOT)
      def d(e: Expression) = Cast(e, DateType)
      def diff(f: Expression => Expression): Expression =
        Cast(Subtract(f(b), f(a)), LongType)
      unit match {
        case "year" | "yy" | "yyyy" => diff(e => Year(d(e)))
        case "quarter" | "qq" | "q" => diff(e =>
          Add(Multiply(Year(d(e)), Literal(4)), Quarter(d(e))))
        case "month" | "mm" | "m" => diff(e =>
          Add(Multiply(Year(d(e)), Literal(12)), Month(d(e))))
        case "week" | "wk" | "ww" => diff(relWeek)
        case "day" | "dd" | "d" => Cast(DateDiff(d(b), d(a)), LongType)
        case "hour" | "hh" | "h" => diff(relSeconds(_, 3600L))
        case "minute" | "mi" | "n" => diff(relSeconds(_, 60L))
        case "second" | "ss" | "s" => diff(relSeconds(_, 1L))
        case other => throw new IllegalArgumentException(
          s"dateDiff: unsupported unit '$other'")
      }
  }

  private lazy val functionsTail: Seq[(String, Builder)] = Seq(
    // fromUnixTimestamp(sec[, format]): epoch seconds → DateTime, or a
    // formatted string via the shared strftime translation.
    "fromUnixTimestamp" -> { exprs => exprs match {
      case Seq(e) => SecondsToTimestamp(Cast(e, LongType))
      case Seq(e, fmt) => DateFormatClass(
        SecondsToTimestamp(Cast(e, LongType)),
        Literal(chFormatToJava(litStr(fmt, "fromUnixTimestamp"))), None)
      case _ => throw new IllegalArgumentException(
        "fromUnixTimestamp expects 1 or 2 arguments")
    }},
    "monthName" -> one("monthName")(e =>
      DateFormatClass(Cast(e, TimestampType), Literal("MMMM"), None)),
    // dateName('part', x): the named/numbered part AS A STRING (CH
    // returns String for every part).
    "dateName" -> two("dateName")((u, e) => {
      val d = Cast(e, DateType); val ts = Cast(e, TimestampType)
      litStr(u, "dateName").toLowerCase(Locale.ROOT) match {
        case "year" => Cast(Year(d), StringType)
        case "quarter" => Cast(Quarter(d), StringType)
        case "month" => DateFormatClass(ts, Literal("MMMM"), None)
        case "week" => Cast(WeekOfYear(d), StringType)
        case "dayofyear" => Cast(DayOfYear(d), StringType)
        case "day" => Cast(DayOfMonth(d), StringType)
        case "weekday" => DateFormatClass(ts, Literal("EEEE"), None)
        case "hour" => Cast(Hour(ts), StringType)
        case "minute" => Cast(Minute(ts), StringType)
        case "second" => Cast(Second(ts), StringType)
        case other => throw new IllegalArgumentException(
          s"dateName: unsupported part '$other'")
      }
    }),
    // timeSlot: the half-hour grid (CH rounds a DateTime down to :00/:30)
    "timeSlot" -> one("timeSlot")(floorSeconds(_, 1800)),
    // ISO-8601 week-numbering year (differs from toYear around Jan 1)
    "toISOYear" -> one("toISOYear")(e => YearOfWeek(Cast(e, DateType))),
    // toWeek(d[, mode]): mode 0 (CH/MySQL default) = Sunday-start weeks,
    // 0-53, days before the year's first Sunday are week 0 (strftime %U);
    // mode 3 = ISO-8601 (toISOWeek). Other modes error loudly.
    "toWeek" -> { exprs =>
      val (e, mode) = exprs match {
        case Seq(x) => (x, 0)
        case Seq(x, m) => (x, litInt(m, "toWeek"))
        case _ => throw new IllegalArgumentException(
          "toWeek expects 1 or 2 arguments")
      }
      mode match {
        case 0 => sundayWeek(e)
        case 3 => WeekOfYear(Cast(e, DateType))
        case other => throw new IllegalArgumentException(
          s"toWeek: unsupported mode $other (0 and 3 are implemented)")
      }
    },
    // toYearWeek(d[, mode]) = year*100 + week under the mode's year
    // attribution: mode 3 uses the ISO week-numbering year; mode 0
    // attributes week-0 days to the PREVIOUS year's last week (MySQL
    // YEARWEEK), i.e. it is mode 0 of the Sunday-start week of the date
    // shifted back to the latest Sunday <= d, recomputed in that week's
    // own year.
    "toYearWeek" -> { exprs =>
      val (e, mode) = exprs match {
        case Seq(x) => (x, 0)
        case Seq(x, m) => (x, litInt(m, "toYearWeek"))
        case _ => throw new IllegalArgumentException(
          "toYearWeek expects 1 or 2 arguments")
      }
      mode match {
        case 3 =>
          val d = Cast(e, DateType)
          Add(Multiply(YearOfWeek(d), Literal(100)), WeekOfYear(d))
        case 0 =>
          // anchor on the Sunday that starts d's week: its year owns the
          // week, and within that year the Sunday is never in week 0
          val sun = sundayStart(Cast(e, DateType))
          Add(Multiply(Year(sun), Literal(100)), sundayWeek(sun))
        case other => throw new IllegalArgumentException(
          s"toYearWeek: unsupported mode $other (0 and 3 are implemented)")
      }
    },
    // ---- CH array higher-order pack (round-10 session 4) ---------------
    // CH puts the lambda first; each builder reorders into the codegen'd
    // Catalyst higher-order expression. arrayMap over 2 arrays is CH's
    // n-ary form → ZipWith.
    "arrayMap" -> { exprs => exprs match {
      case Seq(l, a) => ArrayTransform(a, lambdaOf(l, "arrayMap"))
      case Seq(l, a, b) => ZipWith(a, b, lambdaOf(l, "arrayMap"))
      case _ => throw new IllegalArgumentException(
        "arrayMap expects (lambda, array[, array2])")
    }},
    "arrayFilter" -> two("arrayFilter")((l, a) =>
      ArrayFilter(a, lambdaOf(l, "arrayFilter"))),
    "arrayExists" -> two("arrayExists")((l, a) =>
      ArrayExists(a, lambdaOf(l, "arrayExists"))),
    "arrayAll" -> two("arrayAll")((l, a) =>
      ArrayForAll(a, lambdaOf(l, "arrayAll"))),
    // Lambda-carrying builders must RETURN a HigherOrderFunction (the
    // analyzer rejects e.g. Size(ArrayFilter(..)) as the built root), so
    // count/first are ArrayAggregate folds that splice the parsed
    // lambda's own variable in as the fold's element argument.
    "arrayCount" -> two("arrayCount")((l0, a) => {
      val l = lambdaOf(l0, "arrayCount")
      val acc = nv("graft_acc"); val fin = nv("graft_fin")
      ArrayAggregate(a, Literal(0),
        LambdaFunction(Add(acc, If(l.function, Literal(1), Literal(0))),
          Seq(acc, l.arguments.head)),
        LambdaFunction(fin, Seq(fin)))
    }),
    // CH arrayFirst returns default(T) when nothing matches; here the
    // ANSI answer is NULL (documented divergence, same spirit as the
    // WITH TOTALS NULL-keyed totals row). First-match fold: keep the
    // first element whose predicate fired.
    // The fold's zero must carry the element type, which is unknown at
    // build time — an empty slice OF THE INPUT ARRAY is the typed empty;
    // matches accumulate as 1-element arrays and finish unwraps (null
    // when nothing matched; element_at is non-throwing by construction).
    "arrayFirst" -> two("arrayFirst")((l0, a) => {
      val l = lambdaOf(l0, "arrayFirst")
      val acc = nv("graft_acc"); val fin = nv("graft_fin")
      val x = l.arguments.head
      ArrayAggregate(a, Slice(a, Literal(1), Literal(0)),
        LambdaFunction(If(And(EqualTo(Size(acc), Literal(0)), l.function),
          CreateArray(Seq(x)), acc), Seq(acc, x)),
        LambdaFunction(ElementAt(fin, Literal(1), None, false), Seq(fin)))
    }),
    "arraySum" -> { exprs => exprs match {
      case Seq(a) => arraySumOf(a)
      case Seq(l, a) => arraySumOf(ArrayTransform(a, lambdaOf(l, "arraySum")))
      case _ => throw new IllegalArgumentException(
        "arraySum expects ([lambda,] array)")
    }},
    "arrayAvg" -> one("arrayAvg")(a =>
      Divide(Cast(arraySumOf(a), DoubleType), Cast(Size(a), DoubleType))),
    "arrayMin" -> one("arrayMin")(a => ArrayMin(a)),
    "arrayMax" -> one("arrayMax")(a => ArrayMax(a)),
    "arraySort" -> { exprs => exprs match {
      case Seq(a) => SortArray(a, Literal(true))
      case Seq(l, a) => arrayKeySort(lambdaOf(l, "arraySort"), a, asc = true)
      case _ => throw new IllegalArgumentException(
        "arraySort expects ([lambda,] array)")
    }},
    "arrayReverseSort" -> { exprs => exprs match {
      case Seq(a) => SortArray(a, Literal(false))
      case Seq(l, a) => arrayKeySort(lambdaOf(l, "arrayReverseSort"), a, asc = false)
      case _ => throw new IllegalArgumentException(
        "arrayReverseSort expects ([lambda,] array)")
    }},
    "arrayDistinct" -> one("arrayDistinct")(a => ArrayDistinct(a)),
    "arrayUniq" -> one("arrayUniq")(a => Size(ArrayDistinct(a))),
    "arrayConcat" -> { exprs =>
      require(exprs.nonEmpty, "arrayConcat expects at least one array")
      Concat(exprs)
    },
    // CH arraySlice(a, offset[, length]): 1-based, negative offset counts
    // from the end, omitted length runs to the end — Slice's own contract,
    // with size(a) as the always-sufficient default length.
    "arraySlice" -> { exprs => exprs match {
      case Seq(a, off) => Slice(a, off, Size(a))
      case Seq(a, off, len) => Slice(a, off, len)
      case _ => throw new IllegalArgumentException(
        "arraySlice expects (array, offset[, length])")
    }},
    "arrayReverse" -> one("arrayReverse")(a => Reverse(a)),
    "arrayFlatten" -> one("arrayFlatten")(a => Flatten(a)),
    "arrayEnumerate" -> one("arrayEnumerate")(a =>
      If(EqualTo(Size(a), Literal(0)), emptyIntArray,
        new Sequence(Literal(1), Size(a)))),
    "arrayPushBack" -> two("arrayPushBack")((a, x) =>
      Concat(Seq(a, CreateArray(Seq(x))))),
    "arrayPushFront" -> two("arrayPushFront")((a, x) =>
      Concat(Seq(CreateArray(Seq(x)), a))),
    "arrayPopBack" -> one("arrayPopBack")(a =>
      Slice(a, Literal(1), Greatest(Seq(Subtract(Size(a), Literal(1)),
        Literal(0))))),
    "arrayPopFront" -> one("arrayPopFront")(a =>
      Slice(a, Literal(2), Size(a))),
    // ---- CH format/encode pack ----------------------------------------
    // formatDateTime uses C-style % codes (the strftime family CH and
    // DuckDB share); the literal format translates once at build time to
    // Spark's Java pattern. Unknown % codes are an error, not silent
    // passthrough.
    "formatDateTime" -> two("formatDateTime")((ts, fmt) =>
      DateFormatClass(Cast(ts, TimestampType),
        Literal(chFormatToJava(litStr(fmt, "formatDateTime"))))),
    "base64Encode" -> one("base64Encode")(e => Base64(Cast(e, BinaryType))),
    "base64Decode" -> one("base64Decode")(e => Cast(UnBase64(e), StringType)),
    "hex" -> one("hex")(e => Hex(e)),
    "unhex" -> one("unhex")(e => Unhex(e)),
    "bitShiftLeft" -> two("bitShiftLeft")((a, b) =>
      ShiftLeft(a, Cast(b, IntegerType))),
    "bitShiftRight" -> two("bitShiftRight")((a, b) =>
      ShiftRight(a, Cast(b, IntegerType))),
    // ---- CH string pack #3 ---------------------------------------------
    // position is CH's (haystack, needle) order — 1-based, 0 when absent
    // (StringLocate's own contract); countSubstrings counts
    // non-overlapping occurrences via length arithmetic (codegen-only,
    // no UDF); splitByString is the multi-char split (keeps empties).
    "position" -> two("position")((h, n) => new StringLocate(n, h)),
    "positionCaseInsensitive" -> two("positionCaseInsensitive")((h, n) =>
      new StringLocate(Lower(n), Lower(h))),
    "countSubstrings" -> two("countSubstrings")((h, n) =>
      If(Or(IsNull(h), IsNull(n)), Literal(null, IntegerType),
        If(EqualTo(Length(n), Literal(0)), Literal(0),
          Cast(IntegralDivide(
            Subtract(Length(h), Length(StringReplace(h, n, Literal("")))),
            Length(n)), IntegerType)))),
    "startsWith" -> two("startsWith")((l, r) => StartsWith(l, r)),
    "trimBoth" -> one("trimBoth")(e => StringTrim(e)),
    "trimLeft" -> one("trimLeft")(e => StringTrimLeft(e)),
    "trimRight" -> one("trimRight")(e => StringTrimRight(e)),
    "leftPad" -> { exprs => exprs match {
      case Seq(s, n) => StringLPad(s, Cast(n, IntegerType), Literal(" "))
      case Seq(s, n, p) => StringLPad(s, Cast(n, IntegerType), p)
      case _ => throw new IllegalArgumentException(
        "leftPad expects (s, len[, pad])")
    }},
    "rightPad" -> { exprs => exprs match {
      case Seq(s, n) => StringRPad(s, Cast(n, IntegerType), Literal(" "))
      case Seq(s, n, p) => StringRPad(s, Cast(n, IntegerType), p)
      case _ => throw new IllegalArgumentException(
        "rightPad expects (s, len[, pad])")
    }},
    "substringUTF8" -> { exprs => exprs match {
      case Seq(s, p) => Substring(s, Cast(p, IntegerType), Literal(Int.MaxValue))
      case Seq(s, p, l) => Substring(s, Cast(p, IntegerType), Cast(l, IntegerType))
      case _ => throw new IllegalArgumentException(
        "substringUTF8 expects (s, pos[, len])")
    }},
    "reverseUTF8" -> one("reverseUTF8")(e => Reverse(e)),
    "concatWithSeparator" -> { exprs =>
      require(exprs.length >= 2,
        "concatWithSeparator expects (sep, s1[, s2, ...])")
      ConcatWs(exprs)
    },
    // splitByString(sep, s) — CH argument order; multi-char literal
    // separator, trailing empties kept (limit -1), like splitByChar.
    "splitByString" -> two("splitByString")((sep, s) => {
      val sp = litStr(sep, "splitByString")
      require(sp.nonEmpty, "splitByString separator must be non-empty")
      StringSplit(s, Literal(java.util.regex.Pattern.quote(sp)), Literal(-1))
    }),
    // ---- CH conditionals / tuples / array pack #3 ----------------------
    // if(c, a, b) and multiIf(c1, v1, c2, v2, ..., else) are CH's core
    // conditional spellings; tuple == named_struct by position,
    // tupleElement == 1-based struct field access.
    "if" -> { exprs => exprs match {
      case Seq(c, a, b) => If(c, a, b)
      case _ => throw new IllegalArgumentException("if expects (cond, then, else)")
    }},
    "multiIf" -> { exprs =>
      require(exprs.length >= 3 && exprs.length % 2 == 1,
        "multiIf expects (cond1, val1, ..., condN, valN, else)")
      val branches = exprs.dropRight(1).grouped(2).map {
        case Seq(c, v) => (c, v)
      }.toSeq
      CaseWhen(branches, Some(exprs.last))
    },
    "tuple" -> { exprs =>
      require(exprs.nonEmpty, "tuple expects at least one element")
      CreateStruct(exprs)
    },
    "tupleElement" -> two("tupleElement")((t, i) =>
      GetStructField(t, litInt(i, "tupleElement") - 1)),
    // arrayReduce('agg', arr): CH applies a named aggregate to the array;
    // here the supported names map onto the array fold/extremum builders.
    "arrayReduce" -> two("arrayReduce")((name, a) =>
      litStr(name, "arrayReduce").toLowerCase(Locale.ROOT) match {
        case "sum" => arraySumOf(a)
        case "min" => ArrayMin(a)
        case "max" => ArrayMax(a)
        case "avg" => Divide(Cast(arraySumOf(a), DoubleType),
          Cast(Size(a), DoubleType))
        case "count" => Size(a)
        case "uniq" | "uniqexact" => Size(ArrayDistinct(a))
        case other => throw new IllegalArgumentException(
          s"arrayReduce: unsupported aggregate '$other'")
      }),
    "arrayIntersect" -> { exprs =>
      require(exprs.length >= 2, "arrayIntersect expects at least 2 arrays")
      exprs.reduce((a, b) => ArrayIntersect(a, b))
    },
    "arrayWithConstant" -> two("arrayWithConstant")((n, x) =>
      ArrayRepeat(x, Cast(n, IntegerType))),
    // CH arrayElement: 1-based, negative from the end; out-of-range gives
    // default(T) in CH — NULL here (the pack's standing ANSI divergence).
    "arrayElement" -> two("arrayElement")((a, i) =>
      ElementAt(a, i, None, false)),
    "countEqual" -> two("countEqual")((a, x) => {
      val acc = nv("graft_acc"); val el = nv("graft_el")
      val fin = nv("graft_fin")
      ArrayAggregate(a, Literal(0),
        LambdaFunction(Add(acc, If(EqualNullSafe(el, x), Literal(1),
          Literal(0))), Seq(acc, el)),
        LambdaFunction(fin, Seq(fin)))
    }),
    // ---- CH JSON extraction (key-addressed v1) -------------------------
    // JSONExtract*(json, 'key') over Spark's codegen'd GetJsonObject;
    // numeric/bool variants cast the extracted text. JSONHas is
    // extraction-not-null (a JSON null value reads as absent — documented;
    // CH's own JSONHas sees it). JSONLength(json) is the array length.
    "JSONExtractString" -> two("JSONExtractString")((j, k) =>
      GetJsonObject(j, jsonPath(k))),
    "JSONExtractInt" -> two("JSONExtractInt")((j, k) =>
      Cast(GetJsonObject(j, jsonPath(k)), LongType)),
    "JSONExtractFloat" -> two("JSONExtractFloat")((j, k) =>
      Cast(GetJsonObject(j, jsonPath(k)), DoubleType)),
    "JSONExtractBool" -> two("JSONExtractBool")((j, k) =>
      Cast(GetJsonObject(j, jsonPath(k)), BooleanType)),
    "JSONHas" -> two("JSONHas")((j, k) =>
      IsNotNull(GetJsonObject(j, jsonPath(k)))),
    "JSONLength" -> one("JSONLength")(j => LengthOfJsonArray(j)),
    // ---- CH IPv4 numeric/dotted conversions ----------------------------
    // Pure integer/string arithmetic — the identical expression shape is
    // the DuckDB oracle, so no codec can drift.
    "IPv4NumToString" -> one("IPv4NumToString")(ip => {
      val v = Cast(ip, LongType)
      def octet(shift: Int) =
        Cast(Remainder(ShiftRight(v, Literal(shift)), Literal(256L)), StringType)
      Concat(Seq(octet(24), Literal("."), octet(16), Literal("."),
        octet(8), Literal("."), octet(0)))
    }),
    "IPv4StringToNum" -> one("IPv4StringToNum")(s => {
      val parts = StringSplit(s, Literal("\\."), Literal(-1))
      def part(i: Int) = Cast(ElementAt(parts, Literal(i), None, false), LongType)
      Add(Add(Add(Multiply(part(1), Literal(16777216L)),
        Multiply(part(2), Literal(65536L))),
        Multiply(part(3), Literal(256L))), part(4))
    }),
    // CH range(N) = [0..N) / range(start, end) — empty when end <= start.
    "range" -> { exprs => exprs match {
      case Seq(n) =>
        val en = Cast(n, IntegerType)
        If(LessThanOrEqual(en, Literal(0)), emptyIntArray,
          new Sequence(Literal(0), Subtract(en, Literal(1))))
      case Seq(st, en) =>
        val s0 = Cast(st, IntegerType); val e0 = Cast(en, IntegerType)
        If(LessThanOrEqual(e0, s0), emptyIntArray,
          new Sequence(s0, Subtract(e0, Literal(1))))
      case _ => throw new IllegalArgumentException(
        "range expects (end) or (start, end)")
    }}
  )

  /** Runtime registration on an existing session. */
  def register(spark: SparkSession): Unit = functions.foreach {
    case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
  }
}

/** Raw-byte UUID codec shared by the expressions and tests. */
object UuidBytes {
  def parse(s: String): Option[Array[Byte]] = {
    val t = s.trim
    val canonical = t.length == 36 &&
      t.charAt(8) == '-' && t.charAt(13) == '-' &&
      t.charAt(18) == '-' && t.charAt(23) == '-'
    if (!canonical) return None
    val hex = t.replace("-", "").toLowerCase(Locale.ROOT)
    if (hex.length != 32 || !hex.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')))
      return None
    val out = new Array[Byte](16)
    var i = 0
    while (i < 16) {
      out(i) = Integer.parseInt(hex.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    Some(out)
  }

  def format(b: Array[Byte]): String = {
    val hex = b.map(x => f"${x & 0xff}%02x").mkString
    s"${hex.substring(0, 8)}-${hex.substring(8, 12)}-${hex.substring(12, 16)}-" +
      s"${hex.substring(16, 20)}-${hex.substring(20, 32)}"
  }

  // Codegen entry points: UuidBytes has no companion class, so Scala emits
  // static forwarders and generated Java calls these as
  // `graft.functions.UuidBytes.parseOrNull(s)`.
  import org.apache.spark.unsafe.types.UTF8String

  def parseOrNull(s: UTF8String): Array[Byte] = parse(s.toString).orNull

  def parseOrZero(s: UTF8String): Array[Byte] =
    parse(s.toString).getOrElse(new Array[Byte](16))

  def parseOrThrow(s: UTF8String): Array[Byte] =
    parse(s.toString).getOrElse(
      throw new IllegalArgumentException(s"Cannot parse UUID: '$s'"))

  def formatUtf8(b: Array[Byte]): UTF8String =
    if (b.length != 16) null else UTF8String.fromString(format(b))
}

/** SparkSessionExtensions installer: enable with
  * `spark.sql.extensions=graft.functions.GraftExtensions`. Injects the CH
  * function pack and the engine's optimizer rules (`graft.plans.GraftRules`,
  * the list GraftSession installs at runtime).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ClickHouseFunctions.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.ClickHouseFunctions", name),
        builder))
    }
    graft.plans.GraftRules.inject(ext)
  }
}
