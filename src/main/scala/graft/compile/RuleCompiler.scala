package graft.compile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.exprs.{functions => gf}
import graft.rules._
import graft.rules.VRule._

/** Compiles a [[WarySpec]] into Catalyst `Column` expressions.
  *
  * This is the Spark analogue of wary's proc-macro emission
  * (wary_derive/src/wary/validate.rs, transform.rs): a spec compiles once
  * on the driver into a pure expression tree; Catalyst then constant-folds,
  * prunes, and whole-stage-codegens it. No per-row interpretation, no UDFs
  * in the standard rules.
  *
  * Error model (wary/src/error/mod.rs:294-328):
  * `errors: array<struct<path: array<string>, code: string, message: string>>`
  * and "valid" ⇔ `size(errors) = 0` — the validate-then-transform gate of
  * `Wary::wary` (wary/src/lib.rs:107-111).
  */
object RuleCompiler {

  val errStructType: StructType = StructType(
    Seq(
      StructField("path", ArrayType(StringType, containsNull = false), nullable = false),
      // nullable: dynamic validator codes (email/url/credit_card) are
      // nullable-typed expressions even though they never emit null
      StructField("code", StringType, nullable = true),
      StructField("message", StringType, nullable = true),
      // raw JSON text of the reference's `detail` payload — the untagged
      // serde serialization of the error enum variant
      // (error/mod.rs:293-303 `detail: &'d Error`, serde(untagged)).
      // NULL ⇔ a unit variant, which untagged serde serializes as `null`.
      StructField("detail", StringType, nullable = true)
    )
  )
  val errArrayType: ArrayType = ArrayType(errStructType, containsNull = false)

  def noErrs: Column = array().cast(errArrayType)

  /** Unit-variant detail: untagged serde of a unit variant is `null`. */
  private def nullDetail: Column = lit(null).cast(StringType)

  /** serde_json string escaping for compile-time literals — the shared
    * escaper ([[graft.exprs.JsonEscape]]) keeps literal and runtime paths
    * byte-identical. serde_json does not escape '/' or non-ASCII.
    */
  private[compile] def jsonStr(s: String): String =
    graft.exprs.JsonEscape.quote(s)

  private def err1(
      path: Column,
      code: String,
      message: Column,
      detail: Column = nullDetail
  ): Column =
    array(
      struct(
        path.cast(ArrayType(StringType, false)).as("path"),
        lit(code).as("code"),
        message.as("message"),
        detail.as("detail")
      )
    ).cast(errArrayType)

  /** Single-error array for engine-level failures (EnumGate's unknown
    * variant); shares err1's struct construction/casting.
    */
  private[compile] def singleErr(
      path: Column, code: String, message: Column): Column =
    err1(path, code, message)

  private def whenErr(
      violated: Column,
      path: Column,
      code: String,
      message: Column,
      detail: Column = nullDetail
  ): Column =
    when(violated, err1(path, code, message, detail)).otherwise(noErrs)

  /** Rust Debug-format for message payloads ({value:?}): strings quoted,
    * everything else plain.
    */
  private def debugFmt(v: Any): String = v match {
    case s: String => "\"" + s + "\""
    case s: Seq[_] => debugSlice(s)
    case other     => other.toString
  }

  /** Rust `{:?}` of a slice: elements Debug-formatted, `[a, b]`. */
  private def debugSlice(needle: Seq[Any]): String =
    needle.map(debugFmt).mkString("[", ", ", "]")

  /** lit() that also understands Seq literals (array rules). */
  private def litAny(v: Any): Column = v match {
    case s: Seq[_]  => array(s.map(x => lit(x)): _*)
    case c: Column  => c
    case other      => lit(other)
  }

  private def concatErrs(cols: Seq[Column]): Column = cols match {
    case Seq()  => noErrs
    case Seq(c) => c
    case cs     => concat(cs: _*).cast(errArrayType)
  }

  // ------------------------------------------------------------------ top

  /** Errors column for a whole DataFrame row under `spec`. */
  def compileTop(df: DataFrame, spec: WarySpec): Column = {
    val schema = df.schema
    compileStruct(name => col(name), n => schema(n).dataType, spec, array())
  }

  /** Errors for a STRUCT COLUMN under `spec` (the Dive shape, exposed for
    * enum-variant compilation — emit.rs:186-342 runs each variant's field
    * rules under `match self`).
    */
  def compileStructCol(
      value: Column,
      st: StructType,
      spec: WarySpec,
      basePath: Seq[String] = Nil
  ): Column =
    compileStruct(name => value.getField(name), n => st(n).dataType, spec,
      array(basePath.map(lit): _*))

  /** Shared by top-level rows and `Dive` recursion: `get`/`dtOf` abstract
    * over col(name) vs struct.getField(name). `basePath` is a column so a
    * dive under `inner` keeps its runtime element index; a transparent
    * field adds no segment to it.
    */
  private def compileStruct(
      get: String => Column,
      dtOf: String => DataType,
      spec: WarySpec,
      basePath: Column
  ): Column =
    concatErrs(spec.fields.map { f =>
      val path =
        if (f.transparent) basePath
        else concat(basePath, array(lit(f.pathName)))
      compileField(get(f.name), dtOf(f.name), path, f.rules)
    })

  // ---------------------------------------------------------------- field

  /** Option-hoisting semantics (validate.rs:300-327): when the value is
    * NULL only `required` can fire; all other rules are skipped.
    */
  def compileField(
      value: Column,
      dt: DataType,
      path: Column,
      rules: Seq[VRule]
  ): Column = {
    val onNull =
      if (rules.exists { case Required(false) => true; case _ => false })
        err1(path, "cannot_be_empty", lit("value should not be empty"))
      else noErrs
    val onValue = concatErrs(rules.map(r => compileRule(value, dt, path, r)))
    when(value.isNull, onNull).otherwise(onValue).cast(errArrayType)
  }

  // ----------------------------------------------------------- length kit

  private def lengthOf(value: Column, dt: DataType, unit: LengthUnit): Column =
    (unit, dt) match {
      case (LengthUnit.Default, _: ArrayType)  => size(value).cast(LongType)
      case (LengthUnit.Default, StringType)    => octet_length(value).cast(LongType)
      case (LengthUnit.Bytes, _)               => octet_length(value).cast(LongType)
      case (LengthUnit.Chars, _)               => char_length(value).cast(LongType)
      case (LengthUnit.CodeUnits, _)           => gf.utf16_count(value).cast(LongType)
      case (LengthUnit.Graphemes, _)           => gf.grapheme_count(value).cast(LongType)
      case (u, d) =>
        throw new IllegalArgumentException(s"length($u) unsupported for $d")
    }

  // ----------------------------------------------------------------- rule

  private def compileRule(
      value: Column,
      dt: DataType,
      path: Column,
      rule: VRule
  ): Column = rule match {

    case Required(false) =>
      val empty = dt match {
        case _: ArrayType => size(value) === 0
        case StringType   => octet_length(value) === 0
        case _            => lit(false) // non-slice non-null always passes
      }
      whenErr(empty, path, "cannot_be_empty", lit("value should not be empty"))

    case Required(true) =>
      val nonEmpty = dt match {
        case _: ArrayType => size(value) > 0
        case StringType   => octet_length(value) > 0
        case _            => lit(true) // non-slice Some(_) is non-empty
      }
      whenErr(nonEmpty, path, "should_be_empty", lit("value should be empty"))

    case Equals(other, false) =>
      // detail: ShouldEqual { value: ItemSlice } where value is the Debug
      // string of the expected value (equals.rs:136-147)
      whenErr(!(value === litAny(other)), path, "should_equal",
        lit(s"expected to equal ${debugFmt(other)}"),
        lit(s"""{"value":${jsonStr(debugFmt(other))}}"""))

    case Equals(other, true) =>
      whenErr(value === litAny(other), path, "should_not_equal",
        lit(s"expected to not equal ${debugFmt(other)}"),
        lit(s"""{"value":${jsonStr(debugFmt(other))}}"""))

    case Range(min, max, exMin, exMax) =>
      // wary short-circuits: min error suppresses max check
      // (range.rs:139-157); unordered compare (NaN) errors on whichever
      // bound is checked first.
      val nan = dt match {
        case DoubleType | FloatType => isnan(value)
        case _                      => lit(false)
      }
      val tooSmall = min.map { m =>
        val c = litAny(m)
        nan || (if (exMin) value <= c else value < c)
      }
      val tooLarge = max.map { m =>
        val c = litAny(m)
        nan || (if (exMax) value >= c else value > c)
      }
      val smallErr = tooSmall.map(cond =>
        whenErr(cond, path, "too_small", lit("value is too small")))
      val largeErr = tooLarge.map(cond =>
        whenErr(cond, path, "too_large", lit("value is too large")))
      (smallErr, largeErr) match {
        case (Some(s), Some(l)) => when(size(s) > 0, s).otherwise(l)
        case (Some(s), None)    => s
        case (None, Some(l))    => l
        case (None, None)       => noErrs
      }

    case Length(unit, min, max, exMin, exMax) =>
      // message format strings match the reference exactly
      // (length.rs error message() variants)
      val len = lengthOf(value, dt, unit)
      val short = len < min || (len === min && lit(exMin))
      val long = len > max || (len === max && lit(exMax))
      val shortWord = if (exMin) "more than" else "at least"
      val longWord = if (exMax) "less than" else "at most"
      // detail: TooShort/TooLong {min|max, actual, exclusive}
      // (length.rs:12-25; serde field order = declaration order)
      val shortErr = whenErr(short, path, "too_short",
        concat(lit(s"expected length of $shortWord $min, found "),
          len.cast(StringType)),
        concat(lit(s"""{"min":$min,"actual":"""), len.cast(StringType),
          lit(s""","exclusive":$exMin}""")))
      val longErr = whenErr(long, path, "too_long",
        concat(lit(s"expected length of $longWord $max, found "),
          len.cast(StringType)),
        concat(lit(s"""{"max":$max,"actual":"""), len.cast(StringType),
          lit(s""","exclusive":$exMax}""")))
      when(size(shortErr) > 0, shortErr).otherwise(longErr)

    case ContainsStr(needle, false) =>
      // detail: ShouldContain { value: &str } — the raw needle string
      whenErr(!value.contains(lit(needle)), path, "should_contain",
        lit(s"expected to contain $needle"),
        lit(s"""{"value":${jsonStr(needle)}}"""))

    case ContainsStr(needle, true) =>
      // byte position of the match (Rust str::find — contains.rs:351-373):
      // instr is 1-based char position; convert via octet_length of prefix.
      val pos = octet_length(substring(value, lit(1),
        (instr(value, needle) - 1).cast(IntegerType)))
      whenErr(value.contains(lit(needle)), path, "should_not_contain",
        concat(lit("found unexpected value at position "),
          pos.cast(StringType), lit(s": $needle")),
        concat(lit("""{"position":"""), pos.cast(StringType),
          lit(s""","value":${jsonStr(needle)}}""")))

    case ContainsSlice(needle, _, _) if needle.isEmpty =>
      // Empty needle is vacuously Ok in the reference for all four modes:
      // InOrder/InOrderNot destructure `[first, rest @ ..]` and return
      // Ok(()) on empty (contains.rs:216-218,248-250); AnyOrder/AnyOrderNot
      // iterate zero needle items (contains.rs:285,312).
      noErrs

    case ContainsSlice(needle, false, not) =>
      // contiguous-subsequence search (sliding window,
      // contains.rs:203-271)
      val n = needle.size
      val lits = litAny(needle)
      val starts = when(size(value) < n, array().cast(ArrayType(IntegerType)))
        .otherwise(filter(
          sequence(lit(0), size(value) - n),
          i => slice(value, i + 1, lit(n)) === lits
        ))
      val found = size(starts) > 0
      // detail value: ItemSlice = Debug string of the needle slice
      if (!not)
        whenErr(!found, path, "should_contain_slice",
          lit(s"expected to contain ${debugSlice(needle)}"),
          lit(s"""{"value":${jsonStr(debugSlice(needle))}}"""))
      else
        // reference message appends the Debug-formatted needle
        // (contains.rs message(): "...position {position}: {value:?}")
        whenErr(found, path, "should_not_contain_slice",
          concat(lit("found unexpected value at position "),
            element_at(starts, 1).cast(StringType),
            lit(s": ${debugSlice(needle)}")),
          concat(lit("""{"position":"""),
            element_at(starts, 1).cast(StringType),
            lit(s""","value":${jsonStr(debugSlice(needle))}}""")))

    case ContainsSlice(needle, true, not) =>
      // any-order subset test (contains.rs:273-326)
      val lits = litAny(needle)
      if (!not)
        whenErr(
          !forall(lits, x => array_contains(value, x)),
          path, "should_contain_slice",
          lit(s"expected to contain ${debugSlice(needle)}"),
          lit(s"""{"value":${jsonStr(debugSlice(needle))}}"""))
      else {
        val hitIdx = filter(
          sequence(lit(0), lit(needle.size - 1)),
          i => array_contains(value, element_at(lits, i + 1))
        )
        whenErr(size(hitIdx) > 0, path, "should_not_contain_slice",
          concat(lit("found unexpected value at position "),
            element_at(hitIdx, 1).cast(StringType),
            lit(s": ${debugSlice(needle)}")),
          concat(lit("""{"position":"""),
            element_at(hitIdx, 1).cast(StringType),
            lit(s""","value":${jsonStr(debugSlice(needle))}}""")))
      }

    case PrefixStr(v, false) =>
      whenErr(!value.startsWith(v), path, "should_start_with",
        lit(s"expected to start with $v"),
        lit(s"""{"value":${jsonStr(v)}}"""))
    case PrefixStr(v, true) =>
      whenErr(value.startsWith(v), path, "should_not_start_with",
        lit(s"expected to not start with $v"),
        lit(s"""{"value":${jsonStr(v)}}"""))

    case PrefixSlice(v, not) =>
      val n = v.size
      val matches = size(value) >= n && slice(value, 1, n) === litAny(v)
      val detail = lit(s"""{"value":${jsonStr(debugSlice(v))}}""")
      if (!not)
        whenErr(!matches, path, "should_start_with_slice",
          lit(s"expected to start with ${debugSlice(v)}"), detail)
      else
        whenErr(matches, path, "should_not_start_with_slice",
          lit(s"expected to not start with ${debugSlice(v)}"), detail)

    case SuffixStr(v, false) =>
      whenErr(!value.endsWith(v), path, "should_end_with",
        lit(s"expected to end with $v"),
        lit(s"""{"value":${jsonStr(v)}}"""))
    case SuffixStr(v, true) =>
      whenErr(value.endsWith(v), path, "should_not_end_with",
        lit(s"expected to not end with $v"),
        lit(s"""{"value":${jsonStr(v)}}"""))

    case SuffixSlice(v, not) =>
      val n = v.size
      val matches =
        size(value) >= n &&
          slice(value, size(value) - n + 1, lit(n)) === litAny(v)
      val detail = lit(s"""{"value":${jsonStr(debugSlice(v))}}""")
      if (!not)
        whenErr(!matches, path, "should_end_with_slice",
          lit(s"expected to end with ${debugSlice(v)}"), detail)
      else
        whenErr(matches, path, "should_not_end_with_slice",
          lit(s"expected to not end with ${debugSlice(v)}"), detail)

    case Alphanumeric(ascii) =>
      val mode = if (ascii) "alnum_ascii" else "alnum"
      whenErr(gf.first_bad_char(value, mode) >= 0, path, "alphanumeric",
        lit("value should be alphanumeric"))

    case AsciiRule =>
      // all-ASCII ⇔ UTF-8 byte count equals char count
      whenErr(octet_length(value) =!= char_length(value), path, "ascii",
        lit("expected ASCII"))

    case Lowercase(ascii) =>
      val mode = if (ascii) "lower_ascii" else "lower"
      val pos = gf.first_bad_char(value, mode)
      whenErr(pos >= 0, path, "lowercase",
        concat(lit("expected lowercase character at position "),
          pos.cast(StringType)),
        concat(lit("""{"position":"""), pos.cast(StringType), lit("}")))

    case Uppercase(ascii) =>
      val mode = if (ascii) "upper_ascii" else "upper"
      val pos = gf.first_bad_char(value, mode)
      whenErr(pos >= 0, path, "uppercase",
        concat(lit("expected uppercase character at position "),
          pos.cast(StringType)),
        concat(lit("""{"position":"""), pos.cast(StringType), lit("}")))

    case Regex(pattern) =>
      // match with the Rust-dialect translation; report the ORIGINAL
      // pattern (the reference serializes matcher.as_str(), regex.rs:99)
      whenErr(!value.rlike(gf.rustRegexToJava(pattern)), path, "no_match",
        lit(s"value does not match pattern $pattern"),
        lit(s"""{"pattern":${jsonStr(pattern)}}"""))

    case Addr(mode) =>
      val (kind, code, msg) = mode match {
        case "ipv4" => ("ipv4", "invalid_ipv4", "invalid IPv4 address")
        case "ipv6" => ("ipv6", "invalid_ipv6", "invalid IPv6 address")
        case _      => ("ip", "invalid_ip", "invalid IP address")
      }
      whenErr(gf.validator_code(value, kind) =!= "", path, code, lit(msg))

    case Uuid =>
      whenErr(gf.validator_code(value, "uuid") =!= "", path, "uuid",
        lit("expected valid UUID"))

    case Semver =>
      whenErr(gf.validator_code(value, "semver") =!= "", path, "semver",
        lit("expected semantic version"))

    case CreditCard =>
      dynamicErr(gf.validator_code(value, "credit_card"), path,
        creditCardMessages, lit("invalid credit card"))
    case Email =>
      dynamicErr(gf.validator_code(value, "email"), path,
        emailMessages, lit("invalid email address"))
    case Url =>
      dynamicErr(gf.validator_code(value, "url"), path,
        urlMessages, lit("invalid URL"))

    case Time(min, max, exMin, exMax) =>
      // inverted codes kept for parity (time.rs:139-152)
      val tooNew = min.map { m =>
        if (exMin) value <= lit(m) else value < lit(m)
      }
      val tooOld = max.map { m =>
        if (exMax) value >= lit(m) else value > lit(m)
      }
      val newErr = tooNew.map(c =>
        whenErr(c, path, "too_new", lit("time is too new")))
      val oldErr = tooOld.map(c =>
        whenErr(c, path, "too_old", lit("time is too old")))
      (newErr, oldErr) match {
        case (Some(a), Some(b)) => when(size(a) > 0, a).otherwise(b)
        case (Some(a), None)    => a
        case (None, Some(b))    => b
        case (None, None)       => noErrs
      }

    case Func(code, message, pred) =>
      // detail: Error::Custom { code, message } serializes its two fields
      // (error/mod.rs:61-68, untagged struct variant)
      whenErr(!pred(value), path, code, lit(message),
        lit(s"""{"code":${jsonStr(code)},"message":${jsonStr(message)}}"""))

    case And(rules) =>
      // first failing rule only (validate.rs:234-253)
      rules.map(r => compileRule(value, dt, path, r))
        .foldRight(noErrs)((e, acc) => when(size(e) > 0, e).otherwise(acc))

    case Or(rules) =>
      // any success ⇒ pass; total failure ⇒ last branch's errors
      // (validate.rs:255-292)
      val compiled = rules.map(r => compileRule(value, dt, path, r))
      val anyPass = compiled.map(size(_) === 0).reduce(_ || _)
      when(anyPass, noErrs).otherwise(compiled.last).cast(errArrayType)

    case Inner(rules) =>
      val et = dt match {
        case ArrayType(e, _) => e
        case other =>
          throw new IllegalArgumentException(s"inner() on non-array $other")
      }
      flatten(
        transform(
          value,
          (x, i) =>
            compileField(x, et, concat(path, array(i.cast(StringType))), rules)
        )
      ).cast(errArrayType)

    case Dive(spec) =>
      val st = dt match {
        case s: StructType => s
        case other =>
          throw new IllegalArgumentException(s"dive on non-struct $other")
      }
      compileStruct(
        name => value.getField(name), n => st(n).dataType, spec, path)

  }

  /** Reference per-variant messages keyed by code — email.rs:62-104,
    * url.rs:39-69, credit_card.rs:36-52. Looked up via a constant map
    * literal (Catalyst folds it), falling back to a generic message for
    * any unmapped code.
    */
  private val emailMessages = Map(
    "invalid_character" -> "invalid character",
    "missing_separator" -> "missing separator",
    "local_part_empty" -> "local-part is empty",
    "local_part_too_long" -> "local-part is too long",
    "domain_empty" -> "domain is empty",
    "domain_too_long" -> "domain is too long",
    "sub_domain_empty" -> "sub-domain is empty",
    "sub_domain_too_long" -> "sub-domain is too long",
    "domain_too_few" -> "too few sub-domains",
    "domain_invalid_separator" -> "invalid separator",
    "unbalanced_quotes" -> "unbalanced quotes in local-part",
    "invalid_comment" -> "invalid comment",
    "invalid_ip_address" -> "invalid IP address",
    "unsupported_domain_literal" -> "unsupported domain literal",
    "unsupported_display_name" -> "unsupported display name",
    "missing_display_name" -> "missing display name",
    "missing_end_bracket" -> "missing end bracket"
  )

  private val urlMessages = Map(
    "empty_host" -> "empty host",
    "idna_error" -> "invalid international domain name",
    "invalid_port" -> "invalid port number",
    "invalid_ipv4_address" -> "invalid IPv4 address",
    "invalid_ipv6_address" -> "invalid IPv6 address",
    "invalid_domain_character" -> "invalid domain character",
    "relative_url_without_base" -> "relative URL without a base",
    "relative_url_with_cannot_be_a_base_base" ->
      "relative URL with a cannot-be-a-base base",
    "set_host_on_cannot_be_a_base_url" ->
      "a cannot-be-a-base URL doesn’t have a host to set",
    "overflow" -> "URLs more than 4 GB are not supported",
    "other" -> "unknown URL error"
  )

  private val creditCardMessages = Map(
    "invalid_card_format" -> "invalid character in PAN",
    "unknown_card_type" -> "unknown credit card type",
    "invalid_card_length" -> "invalid PAN length",
    "invalid_card_luhn" -> "invalid luhn checksum"
  )

  /** For validators whose error code is data-dependent (email/url/
    * credit_card): "" ⇒ pass, otherwise the code itself is the wary code
    * and the message is the reference's per-variant string.
    */
  private def dynamicErr(
      code: Column,
      path: Column,
      messages: Map[String, String],
      fallback: Column
  ): Column = {
    val msgMap = map(
      messages.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    // try_element_at: ANSI element_at throws on a missing map key
    val message = coalesce(try_element_at(msgMap, code), fallback)
    when(
      code =!= "",
      array(struct(
        path.cast(ArrayType(StringType, false)).as("path"),
        code.as("code"),
        message.as("message"),
        // email/url/credit_card variants are all unit → detail null
        nullDetail.as("detail")
      )).cast(errArrayType)
    ).otherwise(noErrs)
  }

  // ----------------------------------------------------------- transforms

  def compileTransforms(value: Column, dt: DataType, ts: Seq[TRule]): Column =
    ts.foldLeft(value)((c, t) => compileTransform(c, dt, t))

  private val upperAlpha = ('A' to 'Z').mkString
  private val lowerAlpha = ('a' to 'z').mkString

  private def compileTransform(value: Column, dt: DataType, t: TRule): Column =
    t match {
      case TRule.Lower(false) => lower(value)
      // ascii mode maps only A-Z, leaving non-ASCII untouched
      // (lowercase.rs:149-159, test "ßeLLO"→"ßello")
      case TRule.Lower(true)  => translate(value, upperAlpha, lowerAlpha)
      case TRule.Upper(false) => upper(value)
      case TRule.Upper(true)  => translate(value, lowerAlpha, upperAlpha)
      case TRule.Trim(false)  => gf.wary_trim(value)
      case TRule.Trim(true)   => gf.wary_trim_ascii(value)
      case TRule.Inner(ts) =>
        val et = dt match {
          case ArrayType(e, _) => e
          case other =>
            throw new IllegalArgumentException(s"inner() on non-array $other")
        }
        transform(value, x => compileTransforms(x, et, ts))
      case TRule.Dive(spec) =>
        val st = dt match {
          case s: StructType => s
          case other =>
            throw new IllegalArgumentException(s"dive on non-struct $other")
        }
        val rebuilt = struct(st.fields.map { sf =>
          val inner = value.getField(sf.name)
          val transformed = spec.fields.find(_.name == sf.name) match {
            case Some(f) => compileTransforms(inner, sf.dataType, f.transforms)
            case None    => inner
          }
          transformed.as(sf.name)
        }.toSeq: _*)
        when(value.isNull, lit(null).cast(st)).otherwise(rebuilt)
      case TRule.Func(f) => f(value)
    }
}
