package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith, WithWindowDefinition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.graft.ParamLiterals
import org.apache.spark.sql.types.{DateType, DoubleType, IntegerType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{FastText, FastVector, TextHash}

/** The engine's extension/registration point — Spark's counterpart of
  * the reference's extension install machinery (reference:duckdb:39-55,
  * `INSTALL/LOAD` → extension entry point). Sessions built with
  * `.withExtensions(new GraftExtensions)` (see [[GraftSession]]) can
  * call the native expressions from text SQL:
  *
  * {{{
  *   SELECT graft_simhash64(text) FROM documents
  *   SELECT graft_minhash_sig(text, 3) FROM documents   -- 64-perm sig
  *   SELECT graft_rolling_fp(text) FROM documents
  * }}}
  *
  * It also injects [[org.apache.spark.sql.graft.ParamLiterals]], which
  * takes the primitive constants of filters and projections out of the
  * generated Java source, so that statements differing only in those
  * constants share their compiled classes. It runs as a columnar rule's
  * pre-transition step, which Spark applies to every query stage under
  * adaptive execution and to the whole plan without it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""), builder))
    }
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
    })
  }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** (name, usage, builder) for every injected native function. */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_simhash64", "graft_simhash64(text) - 64-bit SimHash",
      (args: Seq[Expression]) => FastText.SimHash64(args.head)),
    ("graft_rolling_fp",
      "graft_rolling_fp(text) - Karp-Rabin rolling fingerprint",
      (args: Seq[Expression]) => FastText.RollingFp(args.head)),
    ("graft_minhash_sig",
      "graft_minhash_sig(text, n) - 64-perm MinHash signature over " +
        "word-n-gram shingles",
      (args: Seq[Expression]) => {
        val (a, b) = TextHash.makePerms(seed = 42L, 64)
        FastText.MinHashSig(args.head, intArg(args(1), "shingle n"), a, b)
      }),
    ("graft_dot", "graft_dot(a, b) - dot product of double arrays",
      (args: Seq[Expression]) => FastVector.Dot(args.head, args(1))),
    ("graft_normalize",
      "graft_normalize(vec) - L2-normalize a float/double array",
      (args: Seq[Expression]) => FastVector.NormalizeVec(args.head)),
    ("graft_vector_sum",
      "graft_vector_sum(vec) - aggregate: elementwise sum of double " +
        "arrays (centroid/mean building block)",
      (args: Seq[Expression]) => FastVector.VectorSum(args.head)),
    ("graft_kmv",
      "graft_kmv(hash, k) - aggregate: k-minimum-values distinct " +
        "sketch (k smallest distinct hashes, ascending)",
      (args: Seq[Expression]) =>
        graft.functions.Kmv.KmvSketch(args.head, intArg(args(1), "k"))),
    // DuckDB-vocabulary Unicode normalizers (r17): engine-neutral
    // NFD-strip-marks and NFC, so migrating scripts that call them
    // keep working at the text entry.
    ("strip_accents",
      "strip_accents(text) - remove accents/diacritics (NFD + drop " +
        "nonspacing marks; the utf8proc strip_accents map)",
      (args: Seq[Expression]) => graft.functions.Unicode.Unaccent(args.head)),
    ("nfc_normalize",
      "nfc_normalize(text) - Unicode canonical composition (NFC)",
      (args: Seq[Expression]) => graft.functions.Unicode.Nfc(args.head)))

  // ---- DuckDB dialect functions --------------------------------------

  private type Builder = Seq[Expression] => Expression

  /** A Spark builtin applied to `args`, resolved through Spark's own
    * registry (so Spark's arity and type checks apply unchanged).
    */
  private def fn(name: String, args: Expression*): Expression =
    FunctionRegistry.builtin.lookupFunction(FunctionIdentifier(name), args)

  /** A lambda variable the analyzer binds like a parsed one. */
  private def lambdaVar() = UnresolvedNamedLambdaVariable(
    Seq(UnresolvedNamedLambdaVariable.freshVarName("x")))

  /** `x -> f(x)` */
  private def lambda(f: Expression => Expression): LambdaFunction = {
    val x = lambdaVar()
    LambdaFunction(f(x), Seq(x))
  }

  private def nonNull(list: Expression): Expression =
    fn("filter", list, lambda(IsNotNull(_)))

  private def sqlOf(args: Seq[Expression]): String =
    args.map(_.sql).mkString(", ")

  private def strLitOpt(e: Expression): Option[String] = e match {
    case Literal(v: UTF8String, _: StringType) => Some(v.toString)
    case _ => None
  }

  private def strLit(e: Expression, what: String): String =
    strLitOpt(e).getOrElse(throw new IllegalArgumentException(
      s"$what must be a string literal, got: ${e.sql}"))

  /** A builder that refuses any argument count but `n`. */
  private def exactly(n: Int, shape: String)(
      f: Seq[Expression] => Expression): (String, Builder) =
    (shape, args => {
      require(args.length == n, s"$shape, got: ${sqlOf(args)}")
      f(args)
    })

  /** A builder with its usage line. */
  private def call(usage: String)(f: Builder): (String, Builder) = (usage, f)

  private def rename(to: String): (String, Builder) =
    (s"Spark's $to", args => fn(to, args: _*))

  // list_sum: DuckDB SKIPS NULL elements and returns NULL for an
  // empty/all-NULL list — a guarded left-fold over the non-NULL
  // elements, accumulating in DOUBLE in DuckDB's element order (so
  // DOUBLE inputs are bit-identical; integer inputs widen).
  private def listSum(l: Expression): Expression =
    CaseWhen(Seq(EqualTo(fn("size", nonNull(l)), Literal(0)) ->
      Literal(null)), fn("aggregate", nonNull(l), Literal(0.0), {
      val (a, x) = (lambdaVar(), lambdaVar())
      LambdaFunction(Add(a, x), Seq(a, x))
    }))

  // array_to_string: DuckDB joins the NON-NULL elements and returns
  // NULL when there are none, where array_join returns ''.
  private def arrayToString(l: Expression, sep: Expression): Expression =
    CaseWhen(Seq(EqualTo(fn("size", nonNull(l)), Literal(0)) ->
      Literal(null)), fn("array_join", l, sep))

  private val StrftimeMap = Map(
    'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
    'H' -> "HH", 'I' -> "hh", 'M' -> "mm", 'S' -> "ss",
    'j' -> "DDD", 'a' -> "EEE", 'A' -> "EEEE", 'b' -> "MMM",
    'B' -> "MMMM", 'p' -> "a", 'G' -> "YYYY", 'V' -> "ww")

  /** DuckDB's %-format as a Java pattern: literal characters that ARE
    * Java pattern letters get quoted (the T of an ISO stamp), and an
    * unknown % token refuses rather than passing a wrong pattern.
    */
  private[graft] def strftimeToJava(fmt: String): String = {
    val out = new StringBuilder
    val lit = new StringBuilder
    // literal runs are flushed as ONE quoted block — adjacent
    // per-character quotes ('Q''t''r') would read as escaped quote
    // characters in a Java pattern
    def flush(): Unit = if (lit.nonEmpty) {
      val s = lit.toString
      if (s.exists(_.isLetter) || s.contains('\''))
        out.append("'").append(s.replace("'", "''")).append("'")
      else out.append(s)
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%') {
        require(i + 1 < fmt.length, s"dangling % in strftime format $fmt")
        val t = fmt.charAt(i + 1)
        if (t == '%') { lit.append('%'); i += 2 }
        else {
          flush()
          out.append(StrftimeMap.getOrElse(t,
            throw new IllegalArgumentException(
              s"unsupported strftime token %$t in $fmt")))
          i += 2
        }
      } else { lit.append(c); i += 1 }
    }
    flush()
    out.toString
  }

  private def strftimeLike(name: String, spark: String): (String, Builder) =
    exactly(2, s"$name takes (value, format)") { a =>
      fn(spark, a(0), Literal(strftimeToJava(
        strLit(a(1), s"$name: the format"))))
    }

  // string_split: DuckDB splits on a LITERAL separator, Spark's split
  // takes a Java regex — the separator is regex-quoted per character
  // ('.' must not match every character). Limit -1 keeps trailing
  // empties ('a,' → ['a', '']) as DuckDB does.
  private def stringSplit(name: String): (String, Builder) =
    exactly(2, s"$name takes (string, separator)") { a =>
      val sep = strLit(a(1), s"$name: the separator").flatMap {
        case c if "\\^$.|?*+()[]{}".contains(c) => s"\\$c"
        case c => c.toString
      }
      fn("split", a(0), Literal(sep), Literal(-1))
    }

  // format(fmt, args…): DuckDB's brace template. A bare `{}` is
  // format_string's %s (same rendering on every pinned type), `{{`/`}}`
  // are literal braces, a literal % escapes to %%. Positional `{0}`,
  // named `{name}` and spec `{:d}` forms refuse — their renderings
  // diverge per type. DuckDB nulls the WHOLE result when ANY argument
  // is NULL (format_string prints 'null'), hence the CASE guard.
  private def formatTemplate(tpl: String, nArgs: Int): String = {
    val sb = new StringBuilder
    var i = 0
    var holes = 0
    while (i < tpl.length) {
      if (tpl.startsWith("{{", i)) { sb.append('{'); i += 2 }
      else if (tpl.startsWith("}}", i)) { sb.append('}'); i += 2 }
      else if (tpl.startsWith("{}", i)) { sb.append("%s"); i += 2
        holes += 1 }
      else tpl.charAt(i) match {
        case '{' | '}' => throw new IllegalArgumentException(
          "format: only bare {} placeholders are supported " +
            "(positional {n}, named {name} and spec {:…} forms " +
            s"diverge between engines): '$tpl'")
        case '%' => sb.append("%%"); i += 1
        case c => sb.append(c); i += 1
      }
    }
    require(holes == nArgs, s"format: template has $holes placeholder(s) " +
      s"but $nArgs argument(s) were passed: '$tpl'")
    sb.toString
  }

  private def anyNull(args: Seq[Expression]): Expression =
    args.map(IsNull(_): Expression).reduce(Or(_, _))

  /** DuckDB function names, each built into the Spark expression that
    * computes DuckDB's result (every mapping below was pinned against
    * DuckDB 1.0). Registered beside [[functions]] by both
    * [[GraftExtensions]] and [[installInto]]; `LakeSql.sql` installs
    * them into any session it runs on.
    *
    * Collision rule: no name here may exist in Spark's builtin
    * registry (ExtensionsSpec checks it), because registering it would
    * shadow Spark's meaning for every caller. DuckDB names that Spark
    * also defines, with another meaning or argument order, are [[pins]]
    * instead.
    */
  val dialect: Seq[(String, String, Seq[Expression] => Expression)] =
    Seq[(String, (String, Builder))](
    // aggregates: OVER and FILTER keep working on the Spark aggregate
    // (NULL order keys are skipped by max_by/min_by as by DuckDB)
    "arg_max" -> rename("max_by"),
    "arg_min" -> rename("min_by"),
    // exact interpolated percentile (identical on DOUBLE inputs;
    // DECIMAL inputs are typed-divergent in DuckDB itself)
    "quantile_cont" -> rename("percentile"),
    // DuckDB's discrete quantile is the element at rank
    // max(1, ceil(p·n)); percentile_approx at accuracy 1e6 selects the
    // same rank below a million rows per group while staying a bounded
    // sketch above (the list-of-percentages form rides the same call)
    "quantile_disc" -> exactly(2,
      "quantile_disc takes (value, percentage[s])") { a =>
      fn("percentile_approx", a(0), a(1), Literal(1000000))
    },
    // histogram(x): value → count MAP, keys ascending, NULLs skipped,
    // empty → NULL. The identical collect_list aggregates share one
    // buffer; the per-distinct filter pass is O(d·n) per group.
    "histogram" -> exactly(1, "histogram takes one argument") { a =>
      val xs = () => fn("collect_list", a(0))
        .asInstanceOf[AggregateFunction].toAggregateExpression()
      val counted = lambda(v => fn("struct", v,
        fn("size", fn("filter", xs(), lambda(EqualTo(_, v))))))
      CaseWhen(Seq(EqualTo(fn("size", xs()), Literal(0)) -> Literal(null)),
        fn("map_from_entries", fn("transform",
          fn("array_sort", fn("array_distinct", xs())), counted)))
    },
    "ends_with" -> rename("endswith"),
    "to_hex" -> rename("hex"),
    "sha256" -> exactly(1, "sha256 takes one argument") { a =>
      fn("sha2", a(0), Literal(256))
    },
    "editdist3" -> exactly(2, "editdist3 takes two strings") { a =>
      fn("levenshtein", a: _*)
    },
    // 1-based hit or 0 on miss on both engines; BIGINT as in DuckDB
    "strpos" -> exactly(2, "strpos takes (string, search)") { a =>
      Cast(fn("instr", a: _*), LongType)
    },
    // first-char codepoint; DuckDB gives -1 for '' where ascii gives 0
    "unicode" -> exactly(1, "unicode takes one argument") { a =>
      CaseWhen(Seq(EqualTo(a(0), Literal("")) -> Literal(-1)),
        fn("ascii", a(0)))
    },
    // both keep leading/trailing empties with limit -1
    "regexp_split_to_array" -> exactly(2,
      "regexp_split_to_array takes (string, pattern)") { a =>
      fn("split", a(0), a(1), Literal(-1))
    },
    "string_split" -> stringSplit("string_split"),
    "string_to_array" -> stringSplit("string_to_array"),
    // epoch seconds keep their fraction (1577836801.5)
    "epoch" -> exactly(1, "epoch takes one timestamp") { a =>
      Divide(fn("unix_micros", Cast(a(0), TimestampType)), Literal(1e6))
    },
    "epoch_ms" -> exactly(1, "epoch_ms takes one timestamp") { a =>
      IntegralDivide(fn("unix_micros", Cast(a(0), TimestampType)),
        Literal(1000))
    },
    "epoch_us" -> exactly(1, "epoch_us takes one timestamp") { a =>
      fn("unix_micros", Cast(a(0), TimestampType))
    },
    "strftime" -> strftimeLike("strftime", "date_format"),
    "strptime" -> strftimeLike("strptime", "to_timestamp"),
    "format" -> (("format takes (template, arg, …)", (a: Seq[Expression]) => {
      require(a.length >= 2,
        "format takes (template, arg, …) with at least one argument")
      val tpl = formatTemplate(strLit(a(0), "format: the template"),
        a.length - 1)
      CaseWhen(Seq(anyNull(a.tail) -> Literal(null)),
        fn("format_string", Literal(tpl) +: a.tail: _*))
    })),
    "json_extract_string" -> exactly(2,
      "json_extract_string takes (json, 'path')") { a =>
      val p = strLit(a(1), "json_extract_string: the path (a computed " +
        "path cannot be normalized)")
      fn("get_json_object", a(0), Literal(if (p.startsWith("$")) p
        else "$." + p))
    },
    // both return keys in document order
    "json_keys" -> rename("json_object_keys"),
    // DuckDB returns a LIST: the value singleton, or [] for a missing
    // key (try_element_at gives the bare value or NULL)
    "map_extract" -> exactly(2, "map_extract takes (map, key)") { a =>
      nonNull(fn("array", fn("try_element_at", a: _*)))
    },
    "list_value" -> rename("array"),
    // interval constructors: make_interval(y, mo, w, d, h, mi, s) slots
    "to_years" -> toInterval(0), "to_months" -> toInterval(1),
    "to_days" -> toInterval(3), "to_hours" -> toInterval(4),
    "to_minutes" -> toInterval(5), "to_seconds" -> toInterval(6),
    // list vocabulary; the lambda forms are Spark's transform/filter
    // with the same `x -> …` grammar
    "list_transform" -> rename("transform"),
    "list_filter" -> rename("filter"),
    // ASC NULLS LAST on both (sort_array would put NULLS FIRST); a
    // 2-arg list_sort('DESC') lands in array_sort's lambda slot and
    // fails analysis
    "list_sort" -> rename("array_sort"),
    // DESC NULLS LAST on both ([3, NULL, 1] → [3, 1, NULL])
    "list_reverse_sort" -> exactly(1, "list_reverse_sort takes ONE " +
      "argument (the null-order modifier is not supported — DESC " +
      "NULLS LAST is the pinned order)") { a =>
      fn("sort_array", a(0), Literal(false))
    },
    "list_min" -> rename("array_min"),
    "list_max" -> rename("array_max"),
    "list_reverse" -> rename("reverse"),
    // NULL-propagating array concat on both engines
    "list_concat" -> rename("concat"),
    // DuckDB answers FALSE for an absent element in a NULL-carrying
    // list where array_contains answers NULL
    "list_contains" -> (("list_contains(list, element)",
      (a: Seq[Expression]) =>
        fn("coalesce", fn("array_contains", a: _*), Literal(false)))),
    // 1-based inclusive bounds → slice's length e-b+1, floored at 0
    // (DuckDB returns [] when e < b; a negative length throws)
    "list_slice" -> exactly(3, "list_slice takes (list, begin, end)") { a =>
      fn("slice", a(0), a(1), fn("greatest",
        Add(Subtract(a(2), a(1)), Literal(1)), Literal(0)))
    },
    "list_sum" -> exactly(1, "list_sum takes one list") { a =>
      listSum(a(0))
    },
    // TRUE iff the lists share a non-NULL element (DuckDB 1.0: NULLs
    // never match); both sides drop NULLs so arrays_overlap is
    // two-valued except on a NULL list
    "list_has_any" -> exactly(2, "list_has_any takes (list, list)") { a =>
      fn("arrays_overlap", nonNull(a(0)), nonNull(a(1)))
    },
    // TRUE iff every non-NULL element of b is in a
    "list_has_all" -> exactly(2, "list_has_all takes (list, list)") { a =>
      EqualTo(fn("size", fn("array_except", nonNull(a(1)), a(0))),
        Literal(0))
    },
    // removes duplicates AND NULLs; element order unspecified
    "list_distinct" -> exactly(1, "list_distinct takes one list") { a =>
      fn("array_distinct", nonNull(a(0)))
    },
    // the COUNT of distinct non-NULL elements
    "list_unique" -> exactly(1, "list_unique takes one list") { a =>
      fn("size", fn("array_distinct", nonNull(a(0))))
    },
    // 1-based hit or 0 on miss on both engines (NULL list → NULL)
    "list_position" -> rename("array_position"),
    "list_indexof" -> rename("array_position"),
    // 1-based element access, l[0] = NULL, negative from the end,
    // out of range = NULL — the subscript rewrite's pin
    "list_extract" -> listElement("list_extract"),
    "list_element" -> listElement("list_element"),
    // DuckDB's dispatch sugar over the named list functions
    "list_aggregate" -> (("list_aggregate(list, 'fn'[, arg])",
      (a: Seq[Expression]) => {
        require(a.length >= 2,
          s"list_aggregate takes (list, 'fn'[, arg]), got: ${sqlOf(a)}")
        strLit(a(1), "list_aggregate: the function name").toLowerCase match {
          case "sum" => listSum(a(0))
          case "min" => fn("array_min", a(0))
          case "max" => fn("array_max", a(0))
          case "count" => fn("size", nonNull(a(0)))
          case "string_agg" =>
            require(a.length == 3, "list_aggregate(l, 'string_agg', separator)")
            arrayToString(a(0), a(2))
          case other => throw new IllegalArgumentException(
            s"list_aggregate: unsupported function '$other' (sum, min, " +
              "max, count, string_agg)")
        }
      })),
    "array_length" -> rename("array_size"),
    "array_to_string" -> exactly(2,
      "array_to_string takes (list, separator)") { a =>
      arrayToString(a(0), a(1))
    },
    // DuckDB's regexp_matches(s, re) is a partial-match boolean —
    // exactly Spark's regexp_like (both SEARCH, neither anchors)
    "regexp_matches" -> rename("regexp_like"),
    "datetrunc" -> call("datetrunc('unit', value)")(dateTrunc)
  ).map { case (name, (usage, builder)) => (name, s"$name: $usage", builder) }

  /** Spark's own `name(args)`, left for the analyzer to resolve: the
    * [[pins]] build on a parsed plan, where [[fn]] cannot run Spark's
    * builders (some assert resolved arguments).
    */
  private def spark(name: String, args: Expression*): Expression =
    UnresolvedFunction(name, args, isDistinct = false)

  private def respell(to: String): (String, Builder) =
    (s"Spark's $to", args => spark(to, args: _*))

  // ---- DuckDB's meaning of Spark-defined names ------------------------

  /** DuckDB function names that Spark's builtin registry also defines,
    * with another meaning or argument order, each built into the
    * Spark expression that computes DuckDB's result. Registering them
    * would shadow Spark's meaning for every caller, so [[pin]] swaps
    * them on the parsed plan of a statement that entered through
    * `LakeSql`; `spark.sql` callers keep Spark's meaning. A builder
    * that meets a form both engines share returns Spark's own call.
    */
  val pins: Seq[(String, String, Seq[Expression] => Expression)] =
    Seq[(String, (String, Builder))](
    // log(x) is DuckDB's log10 and Spark's natural log; the 2-arg
    // log(base, x) agrees on both engines
    "log" -> call("log(x) is log10") { a =>
      if (a.length == 1) spark("log10", a(0)) else spark("log", a: _*)
    },
    // left/right(s, n<0): DuckDB drops |n| from the OTHER end
    // ('abc',-1 → 'ab'/'bc') where Spark returns '' — a substr CASE
    // exact on every pinned edge (0, ±beyond-length, NULL n → NULL)
    "left" -> call("left(string, n)") { a =>
      if (a.length != 2) spark("left", a: _*)
      else spark("substr", a(0), Literal(1), CaseWhen(Seq(
        GreaterThanOrEqual(a(1), Literal(0)) -> a(1),
        LessThan(a(1), Literal(0)) ->
          spark("greatest", Add(spark("length", a(0)), a(1)),
            Literal(0)))))
    },
    "right" -> call("right(string, n)") { a =>
      if (a.length != 2) spark("right", a: _*)
      else CaseWhen(Seq(
        LessThan(a(1), Literal(0)) ->
          spark("substr", a(0), Subtract(Literal(1), a(1))),
        GreaterThanOrEqual(a(1), Literal(0)) -> spark("substr", a(0),
          spark("greatest", Add(Subtract(spark("length", a(0)), a(1)),
            Literal(1)), Literal(1)))))
    },
    // substr(s, 0, L): DuckDB's window rule [0,L)∩[1,∞) drops one char
    // ('abcdef',0,3 → 'ab') where Spark treats 0 as 1 ('abc') — a
    // literal-0 start shifts to (1, L-1); the 2-arg substr(s, 0) agrees
    // (whole string) and negative starts agree (from-end on both)
    "substr" -> substr("substr"), "substring" -> substr("substring"),
    // 2-arg trims take (string, chars) in DuckDB but (trimStr, string)
    // in Spark: the same call with swapped argument meaning, silently
    // different unless the trim set is symmetric. 1-arg and
    // TRIM(LEADING … FROM …) forms agree (the latter never parses to a
    // call by name)
    "ltrim" -> trim("ltrim"), "rtrim" -> trim("rtrim"),
    "trim" -> trim("trim"),
    // printf: DuckDB NULLs the WHOLE result when ANY argument is NULL
    // (printf('%s-%d', NULL, 5) → NULL) where format_string prints
    // 'null' — the same whole-result guard format() carries
    "printf" -> call("printf(format, arg, …)") { a =>
      if (a.length >= 2) CaseWhen(Seq(anyNull(a.tail) -> Literal(null)),
        spark("format_string", a: _*))
      else if (a.length == 1) spark("format_string", a(0))
      else spark("printf", a: _*)
    },
    // concat: DuckDB SKIPS NULL arguments (concat('a', NULL, 'b') = 'ab',
    // all-NULL = '') where Spark's concat propagates NULL —
    // concat_ws('') is DuckDB's concat for the string operands the
    // shared dialect covers (DuckDB casts every argument to VARCHAR;
    // list operands stringify there, so they are out of the dialect).
    // list_concat and `||` keep Spark's NULL-propagating concat.
    "concat" -> call("concat(string, …) skips NULLs") { a =>
      if (a.nonEmpty) spark("concat_ws", Literal("") +: a: _*)
      else spark("concat", a: _*)
    },
    // hash(): both engines have it with DIFFERENT functions (DuckDB's
    // own 64-bit vs Spark's 32-bit Murmur3) — same spelling, silently
    // different values on every input; the one honest mapping is none
    "hash" -> call("hash() refuses") { a =>
      throw new IllegalArgumentException("hash() is engine-specific " +
        "(DuckDB's 64-bit hash vs Spark's Murmur3) — the same call " +
        "returns DIFFERENT values per engine; use md5()/sha256()/" +
        s"xxhash64() for a portable hash: hash(${sqlOf(a)})")
    },
    "skewness" -> moment("skewness"), "kurtosis" -> moment("kurtosis"),
    "date_diff" -> dateDiff("date_diff"), "datediff" -> dateDiff("datediff"),
    "date_trunc" -> call("date_trunc('unit', value)")(dateTrunc),
    "date_part" -> datePart("date_part"),
    // Spark parses EXTRACT(field FROM x) as extract('field', x)
    "extract" -> datePart("extract"),
    // DuckDB's map(keys_list, values_list) builds a MAP from two lists
    // (Spark's map takes alternating entries); both keep entry order
    "map" -> respell("map_from_arrays"),
    // DuckDB's len() on a LIST is Spark's size; a string argument fails
    // analysis loudly (use length(), which both engines share)
    "len" -> respell("size"),
    // regexp_extract's default group diverges: DuckDB's 2-arg form
    // extracts the FULL match (group 0) where Spark's defaults to group
    // 1; regexp_extract_all shares it. 3-arg calls agree (and both
    // engines return '' on no match). Patterns stay in the shared
    // RE2∩Java dialect; engine-specific syntax fails loudly at
    // whichever engine rejects it.
    "regexp_extract" -> regexpExtract("regexp_extract"),
    "regexp_extract_all" -> regexpExtract("regexp_extract_all"),
    "regexp_replace" -> call("regexp_replace(string, pattern, " +
      "replacement[, flags])")(regexpReplace)
  ).map { case (name, (usage, builder)) => (name, s"$name: $usage", builder) }

  private def substr(name: String): (String, Builder) =
    call(s"$name(string, start[, length])") {
      case Seq(s, Literal(0, IntegerType), l) =>
        spark(name, s, Literal(1), Subtract(l, Literal(1)))
      case a => spark(name, a: _*)
    }

  private def trim(name: String): (String, Builder) =
    call(s"$name(string[, characters])") { a =>
      if (a.length == 2) spark(name, a(1), a(0)) else spark(name, a: _*)
    }

  // skewness/kurtosis: DuckDB computes the SAMPLE-corrected statistics
  // (adjusted Fisher–Pearson G1 / sample excess G2) while Spark's
  // same-named aggregates are the POPULATION g1/g2 — pinned: skew
  // {1,2,2,3,9} DuckDB 1.9694 vs Spark 1.3211; the correction
  // identities G1 = g1·√(n(n−1))/(n−2) and
  // G2 = (n−1)/((n−2)(n−3))·((n+1)·g2 + 6) reproduce DuckDB exactly
  // (both pinned cases bit-equal), with NULL below the minimum n
  // (DuckDB: skewness n<3, kurtosis n<4 — the CASE guard also keeps
  // ANSI Spark off the zero divisor). The identity is per group and
  // per frame, so `agg` builds every inner aggregate the way the
  // pinned call is written: [[pin]] gives each one the call's
  // DISTINCT, FILTER and window (the whole CASE cannot carry them).
  private def momentOf(name: String,
      agg: String => Expression): Expression = {
    val n = agg("count")
    val m = agg(name)
    if (name == "skewness")
      CaseWhen(Seq(LessThan(n, Literal(3)) -> Literal(null)),
        Divide(Multiply(m, spark("sqrt",
          Multiply(Cast(n, DoubleType), Subtract(n, Literal(1))))),
          Subtract(n, Literal(2))))
    else
      CaseWhen(Seq(LessThan(n, Literal(4)) -> Literal(null)),
        Multiply(Divide(Subtract(Cast(n, DoubleType), Literal(1)),
          Multiply(Subtract(n, Literal(2)), Subtract(n, Literal(3)))),
          Add(Multiply(Add(n, Literal(1)), m), Literal(6))))
  }

  private def moment(name: String): (String, Builder) =
    exactly(1, s"$name takes one argument") { a =>
      momentOf(name, spark(_, a: _*))
    }

  // date_diff counts PARTITION-BOUNDARY crossings in DuckDB (month of
  // Jan-31 → Feb-01 is 1), not elapsed full units — so each unit is the
  // boundary identity: day → datediff(b, a) (calendar-day delta, same
  // rule), month → 12·year+month delta, year → year delta. Sub-day
  // units count unit-GRID crossings (hour of 10:59:59 → 11:00:00 is 1;
  // 10:00:00 → 10:59:59 is 0; negatives symmetric) — the epoch-grid
  // identity floor(epoch_us(b)/unit) - floor(epoch_us(a)/unit). The
  // session runs UTC (GraftSession pins it), so the epoch grid IS the
  // wall-clock grid and DATE operands land on midnight exactly as
  // DuckDB's implicit cast does; floor() is exact for any |unix_micros|
  // below 2^53. Other units refuse. Spark's 2-arg datediff(end, start)
  // has no unit literal and keeps its meaning.
  private def dateDiff(name: String): (String, Builder) =
    call(s"$name('unit', start, end)") { a =>
      a.headOption.flatMap(strLitOpt) match {
        case None => spark(name, a: _*)
        case Some(unit) =>
          require(a.length == 3,
            s"$name takes ('unit', start, end), got: ${sqlOf(a)}")
          val (x, y) = (a(1), a(2))
          def micros(e: Expression) =
            spark("unix_micros", Cast(e, TimestampType))
          def grid(step: Long): Expression = {
            def cell(e: Expression) = Cast(spark("floor", Divide(micros(e),
              Literal(BigDecimal(s"$step.0")))), LongType)
            Subtract(cell(y), cell(x))
          }
          def months(e: Expression) =
            Add(Multiply(spark("year", e), Literal(12)), spark("month", e))
          unit.toLowerCase match {
            case "day" => spark("datediff", y, x)
            case "month" => Subtract(months(y), months(x))
            case "year" => Subtract(spark("year", y), spark("year", x))
            case "hour" => grid(3600000000L)
            case "minute" => grid(60000000L)
            case "second" => grid(1000000L)
            case "millisecond" => grid(1000L)
            case "microsecond" => Subtract(micros(y), micros(x))
            case other => throw new IllegalArgumentException(
              s"$name: unsupported unit '$other' (year, month, day, " +
                "hour, minute, second, millisecond, microsecond)")
          }
      }
    }

  // date_trunc / datetrunc: DuckDB returns DATE for day-and-coarser
  // units where Spark stays TIMESTAMP (silent once the value renders:
  // CAST(… AS VARCHAR) gives '2021-03-01' vs '2021-03-01 00:00:00'),
  // and Spark returns a SILENT NULL for a unit it doesn't know where
  // DuckDB's decade/century/millennium work — so unshared units refuse
  // instead of nulling. Sub-day units are value- and type-shared.
  private def dateTrunc(a: Seq[Expression]): Expression =
    a.headOption.flatMap(strLitOpt).map(_.toLowerCase) match {
      case Some("day" | "week" | "month" | "quarter" | "year") =>
        Cast(fn("date_trunc", a: _*), DateType)
      case Some(u) => require(Set("hour", "minute", "second",
          "millisecond", "microsecond")(u),
        s"date_trunc unit '$u' is not shared (Spark would return NULL " +
          "silently) — supported: year, quarter, month, week, day, " +
          "hour, minute, second, millisecond, microsecond")
        fn("date_trunc", a: _*)
      case None => fn("date_trunc", a: _*)
    }

  // date_part shares its name and field vocabulary with Spark EXCEPT
  // the fields below, and EXTRACT(field FROM x) is the SAME vocabulary
  // in the SQL-standard spelling — probed divergences, identical for
  // both spellings:
  //   dow          DuckDB Sunday=0..6; Spark extract Sunday=1..7 —
  //                SILENT wrong values → dayofweek(x)-1
  //   isodow       DuckDB Mon=1..Sun=7; Spark has no such field →
  //                weekday(x)+1
  //   epoch        DuckDB fractional epoch seconds (1709600523.5);
  //                Spark refuses the field → unix_micros/1e6 DOUBLE
  //   second       DuckDB INTEGER seconds-in-minute (3 for 03.456789);
  //                Spark extract returns DECIMAL WITH the fraction —
  //                SILENT wrong values → exact integer pmod on
  //                unix_micros (no float rounding at ms boundaries)
  //   millisecond  DuckDB includes the seconds (3456) — same pmod grid
  //   microsecond  DuckDB includes the seconds (3456789) — same grid
  // The other fields (year/month/day/hour/minute/doy/week/quarter) are
  // probed SHARED.
  private val ExtractPins: Map[String, Expression => Expression] = {
    def inMinute(x: Expression) = spark("pmod",
      spark("unix_micros", Cast(x, TimestampType)), Literal(60000000L))
    Map(
      "dow" -> (x => Subtract(spark("dayofweek", x), Literal(1))),
      "isodow" -> (x => Add(spark("weekday", x), Literal(1))),
      "epoch" -> (x => Divide(spark("unix_micros", Cast(x, TimestampType)),
        Literal(1e6))),
      "second" -> (x => IntegralDivide(inMinute(x), Literal(1000000L))),
      "millisecond" -> (x => IntegralDivide(inMinute(x), Literal(1000L))),
      "microsecond" -> inMinute)
  }

  private def datePart(name: String): (String, Builder) =
    call(s"$name('field', value)") { a =>
      a.headOption.flatMap(strLitOpt).map(_.toLowerCase)
        .flatMap(ExtractPins.get) match {
        case Some(fix) =>
          require(a.length == 2, s"$name takes ('unit', value)")
          fix(a(1))
        case None => spark(name, a: _*)
      }
    }

  private def regexpExtract(name: String): (String, Builder) =
    call(s"$name(string, pattern[, group]) — group 0 by default") { a =>
      require(a.length == 2 || a.length == 3,
        s"$name takes (string, pattern[, group]), got: ${sqlOf(a)}")
      if (a.length == 2) spark(name, a(0), a(1), Literal(0))
      else spark(name, a: _*)
    }

  // regexp_replace: DuckDB's DEFAULT is FIRST-match-only
  // (regexp_replace('aaa','a','b') = 'baa'); the 'g' flag is global —
  // which is Spark's ONLY behavior. So 'g' drops to Spark's 3-arg
  // global form, and the bare 3-arg / explicit-'' form builds the
  // anchored first-match identity — `(?s)^(.*?)(?:p)` replaced with
  // `$1r`: the ^ anchor admits exactly one (the leftmost) match, (?s)
  // keeps the lazy prefix spanning newlines, and the (?:…) wrap
  // preserves p's own precedence. It refuses a non-literal pattern or
  // replacement, a pattern with its own ^/\A/(?m) anchor (the injected
  // prefix would defeat it) or with backreferences (the prefix group
  // shifts numbering), and a replacement with $ or \ (Spark's
  // replacement metacharacters — DuckDB's \1 group syntax has no
  // unshifted equivalent here).
  private def regexpReplace(a: Seq[Expression]): Expression = {
    require(a.length == 3 || a.length == 4,
      s"regexp_replace takes (string, pattern, replacement[, flags]), " +
        s"got: ${sqlOf(a)}")
    val flag = if (a.length == 4) strLit(a(3), "regexp_replace: the flags")
      else ""
    flag match {
      case "g" => spark("regexp_replace", a(0), a(1), a(2))
      case "" =>
        val pat = strLitOpt(a(1)).getOrElse(throw new IllegalArgumentException(
          "regexp_replace without 'g' is FIRST-match-only in DuckDB — the " +
            s"rewrite needs a literal pattern (got: ${a(1).sql}); spell " +
            "the 'g' flag for global replacement"))
        val rep = strLitOpt(a(2)).getOrElse(throw new IllegalArgumentException(
          "regexp_replace without 'g' needs a literal replacement (got: " +
            s"${a(2).sql}); spell the 'g' flag for global replacement"))
        // a ^ INSIDE a character class ([^0-9] negation, [a^] literal)
        // is not an anchor — only a top-level (unescaped, outside
        // [...]) caret defeats the injected prefix and refuses
        def anchorCaret(p: String): Boolean = {
          var i = 0; var inClass = false
          while (i < p.length) {
            p.charAt(i) match {
              case '\\' => i += 1 // escaped char — \^ is a literal
              case '[' if !inClass => inClass = true
              case ']' if inClass => inClass = false
              case '^' if !inClass => return true
              case _ =>
            }
            i += 1
          }
          false
        }
        require(!anchorCaret(pat) && !pat.contains("\\A") &&
          !pat.contains("(?m"),
          "first-match regexp_replace: pattern anchors (^, \\A, (?m) " +
            s"would be defeated by the injected prefix: '$pat'")
        require(!"\\\\\\d".r.findFirstIn(pat).isDefined,
          "first-match regexp_replace: backreferences in the pattern " +
            "shift under the injected prefix group: '" + pat + "'")
        require(!rep.contains("$") && !rep.contains("\\"),
          "first-match regexp_replace: replacement must be free of " +
            s"$$/\\ metacharacters: '$rep'")
        // the prefix back-reference stays NUMBERED ($1): Spark's
        // regexp_replace does NOT resolve ${name} references (it
        // substitutes empty — Java-only syntax). $1 before a
        // digit-leading replacement is resolved GREEDILY-legal by Java
        // ('$19' = group 19 only if it exists, else group 1 + literal
        // '9'), so the shape is ambiguous ONLY when the pattern carries
        // 10+ capture groups — counted class- and escape-aware, refused
        // there, safe below
        def countGroups(p: String): Int = {
          var i = 0; var inClass = false; var n = 0
          while (i < p.length) {
            p.charAt(i) match {
              case '\\' => i += 1
              case '[' if !inClass => inClass = true
              case ']' if inClass => inClass = false
              case '(' if !inClass =>
                if (i + 1 >= p.length || p.charAt(i + 1) != '?') n += 1
              case _ =>
            }
            i += 1
          }
          n
        }
        require(!(rep.headOption.exists(_.isDigit) &&
            countGroups(pat) + 1 >= 10),
          "first-match regexp_replace: a digit-leading replacement " +
            "after a 10+-group pattern would absorb into the $1 " +
            s"prefix reference: '$rep'")
        spark("regexp_replace", a(0), Literal(s"(?s)^(.*?)(?:$pat)"),
          Literal("$1" + rep))
      case other => throw new IllegalArgumentException(
        s"regexp_replace flag '$other' is not supported ('' = " +
          "first-match, 'g' = global)")
    }
  }

  private def toInterval(slot: Int): (String, Builder) =
    exactly(1, "to_* takes one number") { a =>
      fn("make_interval", Seq.tabulate(7)(i =>
        if (i == slot) a(0) else Literal(0)): _*)
    }

  private def listElement(name: String): (String, Builder) =
    exactly(2, s"$name takes (list, index)") { a =>
      fn("try_element_at", a(0), fn("nullif", a(1), Literal(0)))
    }

  private def all: Seq[(String, String, Builder)] = functions ++ dialect

  private lazy val dialectByName = dialect.map(d => d._1 -> d._3).toMap
  private lazy val pinByName = pins.map(p => p._1 -> p._3).toMap

  /** DuckDB's meaning for every call in a parsed, not yet resolved
    * plan, including subqueries, CTE bodies, WINDOW-clause definitions,
    * lambda bodies and MERGE/UPDATE actions. A call to a [[pins]] name
    * becomes its builder's expression; the walk visits the arguments
    * first and never the built expression, so Spark's own functions a
    * builder emits keep Spark's meaning. A [[dialect]] call stays for
    * the analyzer, but its builder is dry-run here, so that a refusal
    * (wrong arity, a non-literal format, separator or path, an
    * unsupported token) is raised even when an argument names a column
    * the analyzer would reject first; any other failure of the dry run
    * is left to the analyzer, which calls the same builder.
    */
  def pin(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map {
      case (name, q, depth) =>
        (name, pin(q).asInstanceOf[SubqueryAlias], depth)
    })
    case d: WithWindowDefinition => d.copy(windowDefinitions =
      d.windowDefinitions.map { case (name, w) =>
        name -> pinExpr(w).asInstanceOf[WindowSpecDefinition]
      })
    case p => p.mapExpressions(pinExpr)
  }

  /** [[pin]] for one expression. */
  def pinExpr(e: Expression): Expression = e match {
    case WindowExpression(u: UnresolvedFunction, spec) if isMoment(u) =>
      val w = pinExpr(spec).asInstanceOf[WindowSpecDefinition]
      momentCall(pinArgs(u), WindowExpression(_, w))
    case UnresolvedWindowExpression(u: UnresolvedFunction, ref)
        if isMoment(u) =>
      momentCall(pinArgs(u), UnresolvedWindowExpression(_, ref))
    case u: UnresolvedFunction if u.nameParts.length == 1 =>
      val v = pinArgs(u)
      val name = v.nameParts.head.toLowerCase
      if (isMoment(v)) momentCall(v, identity)
      else pinByName.get(name) match {
        case Some(b) => b(v.arguments)
        case None =>
          dialectByName.get(name).foreach { b =>
            try b(v.arguments) catch {
              case e: IllegalArgumentException => throw e
              case scala.util.control.NonFatal(_) =>
            }
          }
          v
      }
    case q: SubqueryExpression =>
      q.withNewPlan(pin(q.plan)).mapChildren(pinExpr)
    case other => other.mapChildren(pinExpr)
  }

  private def pinArgs(u: UnresolvedFunction): UnresolvedFunction =
    u.mapChildren(pinExpr).asInstanceOf[UnresolvedFunction]

  private val Moments = Set("skewness", "kurtosis")

  private def isMoment(u: UnresolvedFunction): Boolean =
    u.nameParts.length == 1 && u.arguments.length == 1 &&
      Moments(u.nameParts.head.toLowerCase)

  /** A skewness/kurtosis call `v` (arguments already pinned) whose inner
    * aggregates each take the call's DISTINCT and FILTER and, through
    * `over`, its window.
    */
  private def momentCall(v: UnresolvedFunction,
      over: Expression => Expression): Expression =
    momentOf(v.nameParts.head.toLowerCase,
      agg => over(v.copy(nameParts = Seq(agg))))

  /** Register every native function into an existing session (the
    * post-hoc equivalent of building withExtensions — same builders).
    * Names the session already resolves (a session built with the
    * extensions has them all) are left alone: re-registering one logs
    * a replacement warning per name.
    */
  def installInto(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, _, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        org.apache.spark.sql.graft.Glue.registerFunction(spark, name, builder)
    }
  }
}

/** Builder for a fully-configured engine session: extensions installed,
  * AQE on, UTC, sane shuffle parallelism for the local gate.
  *
  * Spark's codegen cache (`spark.sql.codegen.cache.maxEntries`, a static
  * setting, default 100) is raised to 1000 entries. A compiled class is
  * cached once per class loader, and the driver thread and the task
  * threads use different loaders, so each class body takes two entries.
  * The working set of a mix of lake statements is larger than 100: on
  * the benchmark's `lake-dml` mix, with the same literals every other
  * pass, 100 entries still recompiled 82–99 classes a pass and 1000
  * entries 2–4 (see [[GraftExtensions]] for why literals no longer
  * matter). The larger cache retained about 2 MB more heap there.
  *
  * The `file:` FileSystem is [[graft.util.LocalFs]] (`fs.file.impl`).
  * Without the native libhadoop, Hadoop's local file system forks a
  * `chmod` for every file and directory it creates (each data file,
  * its `.crc`, each committer directory) and an `ls -ld` for every
  * `listFiles` entry: over a thousand processes in 20 s of lake DML. The
  * replacement changes nothing but how permissions are set and read
  * (through `java.nio`, same mode bits, same lazy reads). Hadoop caches
  * one `file:` FileSystem per JVM and user, and the cache key ignores
  * the configuration: if anything in the JVM obtains a `file:`
  * FileSystem before the session starts, that stock instance is the
  * one every later caller gets.
  */
object GraftSession {
  def builder(master: String = "local[*]",
      shufflePartitions: Int = 32): org.apache.spark.sql.SparkSession.Builder =
    org.apache.spark.sql.SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", 1000)
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.util.LocalFs].getName)
}
