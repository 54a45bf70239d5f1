package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CharEntropy, CosineSimilarity, SimHash64}

/** The library's SQL function surface: registers the native
  * codegen'd kernels and the DuckDB-dialect functions in a session's
  * SQL function registry, so a SQL-only client (the reference's sole
  * API is SQL text over POST /, uquery-rs src/web/request.rs) can call
  * them directly:
  *
  *   GraftExtensions.injectInto(spark)
  *   SELECT cosine_sim(embedding, query_vec), simhash64(token_hashes) ...
  *
  * This is preference tier (b) of the custom-operator ladder (builder
  * brief): a Catalyst `Expression` with `doGenCode`, reachable from
  * both the Column API and SQL. `injectInto` is the one function
  * entry and `ParamLiterals.inject` the one planner-rule entry.
  */
object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(getClass.getName.stripSuffix("$"), null, name, usage, "", "", "", "", "", "", "built-in")

  private[graft] val registrations: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim",
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float vectors (fused codegen loop)."),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"cosine_sim expects 2 arguments, got ${args.length}")
        CosineSimilarity(args.head, args(1))
      }),
    ("simhash64",
      info("simhash64", "simhash64(hashes) - 64-bit SimHash signature from an array of token hashes."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"simhash64 expects 1 argument, got ${args.length}")
        SimHash64(args.head)
      }),
    ("char_entropy",
      info("char_entropy", "char_entropy(s) - Shannon entropy (bits/byte) of a string's UTF-8 bytes (fused codegen tally)."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"char_entropy expects 1 argument, got ${args.length}")
        CharEntropy(args.head)
      }),
    // NOT a plain alias: DuckDB's epoch_ms is overloaded by argument
    // type — BIGINT ms → TIMESTAMP, TIMESTAMP → BIGINT ms. A plain
    // alias onto unix_millis lost the first overload; this dispatches
    // on the resolved child type like DuckDB's own overload resolution.
    // the dialect shim's rendering of DuckDB's `//` operator: integer
    // division on integral operands, plain division otherwise
    // (IntDivDispatch doc has the verified semantics)
    ("graft_intdiv",
      info("graft_intdiv", "graft_intdiv(a, b) - DuckDB's // operator: integral div on integers, plain division otherwise."),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"graft_intdiv expects 2 arguments, got ${args.length}")
        graft.functions.IntDivDispatch(args.head, args(1))
      }),
    // overrides Spark's builtin factorial: Spark silently NULLs outside
    // [0,20] and accepts any integral width, DuckDB binds INTEGER only,
    // returns 1 for negatives, HUGEINT above 20 — FactorialDispatch has
    // the verified rule-by-rule mapping (loud where BIGINT can't hold it)
    ("factorial",
      info("factorial", "factorial(n) - DuckDB semantics: INTEGER input only, n<0 -> 1, loud error where the result exceeds BIGINT."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"factorial expects 1 argument, got ${args.length}")
        graft.functions.FactorialDispatch(args.head)
      }),
    // overrides Spark's builtin bit_count: DuckDB counts within the
    // input's own width (bit_count(-1::INT) = 32), Spark sign-extends
    // to 64 (BitCountDispatch doc has the verified overload table)
    ("bit_count",
      info("bit_count", "bit_count(x) - set bits within x's own integral width (DuckDB)."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"bit_count expects 1 argument, got ${args.length}")
        graft.functions.BitCountDispatch(args.head)
      }),
    // the dialect shim's rendering of DuckDB's << / >> operators
    // (Spark cannot parse >> at all, and its << wraps where DuckDB is
    // loud — ShiftDispatch doc has the verified rule table)
    ("graft_shiftl",
      info("graft_shiftl", "graft_shiftl(x, n) - DuckDB's << (loud on negative/overflowing shifts)."),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"graft_shiftl expects 2 arguments, got ${args.length}")
        graft.functions.ShiftDispatch(args.head, args(1), isLeft = true)
      }),
    ("graft_shiftr",
      info("graft_shiftr", "graft_shiftr(x, n) - DuckDB's >> (arithmetic; 0 outside [0, width))."),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"graft_shiftr expects 2 arguments, got ${args.length}")
        graft.functions.ShiftDispatch(args.head, args(1), isLeft = false)
      }),
    ("graft_slice",
      info("graft_slice", "graft_slice(x, a, b) - DuckDB bracket slice x[a:b]: 1-based end-inclusive, negative-from-end, on strings and lists."),
      (args: Seq[Expression]) => {
        require(args.length == 3, s"graft_slice expects 3 arguments, got ${args.length}")
        graft.functions.SliceDispatch(args.head, args(1), args(2))
      }),
    ("graft_at",
      info("graft_at", "graft_at(x, i) - DuckDB bracket access x[i] on strings, lists and maps."),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"graft_at expects 2 arguments, got ${args.length}")
        graft.functions.AtDispatch(args.head, args(1))
      }),
    ("list_slice",
      info("list_slice", "list_slice(l, a, b[, step]) - DuckDB list slice (1-based, end-inclusive, negative-from-end; optional positive step)."),
      (args: Seq[Expression]) => {
        require(args.length == 3 || args.length == 4,
          s"list_slice expects 3-4 arguments, got ${args.length}")
        val base = graft.functions.SliceDispatch(args.head, args(1), args(2))
        if (args.length == 3) base
        else {
          // stepped slice (verified list_slice([1,2,3,4,5],1,5,2) =
          // [1,3,5]): keep 0-based positions divisible by step
          import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, EqualTo, LambdaFunction, Literal, Pmod, UnresolvedNamedLambdaVariable}
          val x = UnresolvedNamedLambdaVariable(Seq("__lsx"))
          val i = UnresolvedNamedLambdaVariable(Seq("__lsi"))
          ArrayFilter(base, LambdaFunction(
            EqualTo(Pmod(i, args(3)), Literal(0)), Seq(x, i)))
        }
      }),
    // DuckDB's monthname/dayname return FULL names ("February",
    // "Saturday"); Spark 4 ships builtins of the same name returning
    // 3-letter abbreviations — a silent value divergence without these
    // overrides (round 9, found by the probe8 value pins)
    ("monthname",
      info("monthname", "monthname(d) - full English month name (DuckDB semantics)."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"monthname expects 1 argument, got ${args.length}")
        builtinBuilder("date_format")(Seq(args.head,
          org.apache.spark.sql.catalyst.expressions.Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString("MMMM"),
            org.apache.spark.sql.types.StringType)))
      }),
    ("dayname",
      info("dayname", "dayname(d) - full English day name (DuckDB semantics)."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"dayname expects 1 argument, got ${args.length}")
        builtinBuilder("date_format")(Seq(args.head,
          org.apache.spark.sql.catalyst.expressions.Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString("EEEE"),
            org.apache.spark.sql.types.StringType)))
      }),
    ("epoch_ms",
      info("epoch_ms", "epoch_ms(x) - BIGINT ms->TIMESTAMP or TIMESTAMP->BIGINT ms (DuckDB's overloads)."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"epoch_ms expects 1 argument, got ${args.length}")
        graft.functions.EpochMsDispatch(args.head)
      }),
    // DuckDB's epoch family (verified against DuckDB 1.x): epoch →
    // DOUBLE seconds with fractional µs, epoch_us/epoch_ns → BIGINT.
    // Spark's unix_* split these by unit and don't accept DATE, so
    // each casts through TIMESTAMP first.
    ("epoch",
      info("epoch", "epoch(ts) - DOUBLE seconds since epoch (fractional microseconds, DuckDB semantics)."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"epoch expects 1 argument, got ${args.length}")
        import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, Literal, UnixMicros}
        Divide(Cast(UnixMicros(Cast(args.head, org.apache.spark.sql.types.TimestampType)),
          org.apache.spark.sql.types.DoubleType), Literal(1e6))
      }),
    ("epoch_us",
      info("epoch_us", "epoch_us(ts) - BIGINT microseconds since epoch."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"epoch_us expects 1 argument, got ${args.length}")
        import org.apache.spark.sql.catalyst.expressions.{Cast, UnixMicros}
        UnixMicros(Cast(args.head, org.apache.spark.sql.types.TimestampType))
      }),
    ("epoch_ns",
      info("epoch_ns", "epoch_ns(ts) - BIGINT nanoseconds since epoch (µs-precision input × 1000)."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"epoch_ns expects 1 argument, got ${args.length}")
        import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Multiply, UnixMicros}
        Multiply(UnixMicros(Cast(args.head, org.apache.spark.sql.types.TimestampType)),
          Literal(1000L))
      }),
    // DuckDB's len dispatches on argument type: chars for strings,
    // cardinality for lists (the divergence that kept `len` out of the
    // plain-alias table until now)
    ("len",
      info("len", "len(x) - characters of a string or cardinality of a list (DuckDB's type dispatch)."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"len expects 1 argument, got ${args.length}")
        graft.functions.LenDispatch(args.head)
      }),
    // DuckDB's list_append/list_prepend/list_concat treat a NULL list
    // as empty (verified: list_append(NULL, 3) = [3], list_prepend(1,
    // NULL) = [1], list_concat([1], NULL) = [1]) — and list_prepend
    // takes (element, list), the REVERSE of Spark's array_prepend.
    // Only a both-NULL list_concat stays NULL.
    ("list_append",
      info("list_append", "list_append(list, e) - append with DuckDB's NULL-list-as-empty semantics."),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"list_append expects 2 arguments, got ${args.length}")
        builtinBuilder("array_append")(Seq(coalesceEmptyArray(args.head), args(1)))
      }),
    ("list_prepend",
      info("list_prepend", "list_prepend(e, list) - DuckDB argument order; NULL list treated as empty."),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"list_prepend expects 2 arguments, got ${args.length}")
        builtinBuilder("array_prepend")(Seq(coalesceEmptyArray(args(1)), args.head))
      }),
    ("list_concat",
      info("list_concat", "list_concat(a, b) - concat skipping NULL sides; NULL only when both are NULL."),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"list_concat expects 2 arguments, got ${args.length}")
        import org.apache.spark.sql.catalyst.expressions.{And, IsNull, Literal}
        builtinBuilder("if")(Seq(
          And(IsNull(args.head), IsNull(args(1))),
          Literal.create(null, org.apache.spark.sql.types.NullType),
          builtinBuilder("concat")(Seq(
            coalesceEmptyArray(args.head), coalesceEmptyArray(args(1))))))
      }),
    // DuckDB list_aggregate + the list_sum/avg/min/max shorthands:
    // NULL elements skipped, empty/all-NULL lists → NULL (count → 0),
    // dispatched on the resolved element type (ListAggregateDispatch)
    ("list_aggregate",
      info("list_aggregate", "list_aggregate(list, 'fn'[, sep]) - reduce a list with min/max/count/sum/avg, or string_agg with a separator (DuckDB NULL semantics)."),
      (args: Seq[Expression]) => {
        if (args.length == 3) {
          // the 3-arg form forwards the extra argument to the named
          // aggregate; string_agg/listagg (the separator form) is the
          // DuckDB usage (probe 18) — array_join skips NULLs exactly
          // like DuckDB's string_agg
          val fn = args(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(s,
                _: org.apache.spark.sql.types.StringType) if s != null =>
              s.toString.toLowerCase
            case other => throw new IllegalArgumentException(
              s"list_aggregate: the function name must be a string literal, got $other")
          }
          require(fn == "string_agg" || fn == "listagg",
            s"list_aggregate: 3-arg form supports string_agg, got '$fn'")
          builtinBuilder("array_join")(Seq(
            org.apache.spark.sql.catalyst.expressions.Cast(args.head,
              org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType)), args(2)))
        } else {
          require(args.length == 2, s"list_aggregate expects 2 arguments, got ${args.length}")
          graft.functions.ListAggregateDispatch(args.head, args(1))
        }
      }),
    ("list_sum",
      info("list_sum", "list_sum(list) - sum of non-NULL elements; NULL when none."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"list_sum expects 1 argument, got ${args.length}")
        graft.functions.ListAggregateDispatch(args.head, strLit("sum"))
      }),
    ("list_avg",
      info("list_avg", "list_avg(list) - mean of non-NULL elements; NULL when none."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"list_avg expects 1 argument, got ${args.length}")
        graft.functions.ListAggregateDispatch(args.head, strLit("avg"))
      }),
    ("list_min",
      info("list_min", "list_min(list) - minimum non-NULL element."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"list_min expects 1 argument, got ${args.length}")
        graft.functions.ListAggregateDispatch(args.head, strLit("min"))
      }),
    ("list_max",
      info("list_max", "list_max(list) - maximum non-NULL element."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"list_max expects 1 argument, got ${args.length}")
        graft.functions.ListAggregateDispatch(args.head, strLit("max"))
      }),
    // DuckDB string_split treats the separator as a LITERAL (Spark's
    // split is regex), splits per character on an empty separator, and
    // returns [''] for an empty input (verified against DuckDB 1.x) —
    // composed here from StringSplitSQL (Spark's literal-delimiter
    // kernel) plus the two edge fixes. A NON-literal separator that is
    // empty at runtime is the one uncovered edge (returns the whole
    // string unsplit); DuckDB usage is overwhelmingly literal.
    ("string_split", stringSplitInfo("string_split"), stringSplitBuilder("string_split")),
    ("str_split", stringSplitInfo("str_split"), stringSplitBuilder("str_split")),
    ("string_to_array", stringSplitInfo("string_to_array"), stringSplitBuilder("string_to_array")),
    // DuckDB strftime/strptime speak C/Python %-directives while Spark
    // speaks JDK DateTimeFormatter patterns — a plain alias would
    // silently misread every format string, so the format literal is
    // TRANSLATED at registration (bind) time and unsupported
    // directives fail loudly. Rendering/parsing then runs through the
    // codegen'd builtins (date_format / to_timestamp).
    ("strptime",
      info("strptime", "strptime(s, '%Y-%m-%d') - DuckDB C-style timestamp parsing."),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"strptime expects 2 arguments, got ${args.length}")
        builtinBuilder("to_timestamp")(Seq(args.head, translatedFormat("strptime", args(1))))
      }),
    // NOT a plain alias: DuckDB's list_distinct also drops NULL
    // elements, Spark's array_distinct keeps one — compose the null
    // filter explicitly. Element ORDER is explicitly unspecified in
    // DuckDB (hash-table iteration: [1,2,3] -> [3,2,1] but a 6-element
    // concat comes back bucket-ordered — round-13 fuzz) and
    // first-occurrence here; order-sensitive consumers must sort, as
    // DuckDB's own docs prescribe (omissions row).
    ("list_distinct",
      info("list_distinct", "list_distinct(arr) - distinct non-NULL elements; element order unspecified (sort to pin it)."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"list_distinct expects 1 argument, got ${args.length}")
        distinctNonNull(args.head)
      }),
    // DuckDB list_unique COUNTS distinct non-NULL elements (verified:
    // list_unique([1,1,NULL,2,NULL]) = 2) — it is not a dedup'd list
    ("list_unique",
      info("list_unique", "list_unique(arr) - COUNT of distinct non-NULL elements (DuckDB semantics)."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"list_unique expects 1 argument, got ${args.length}")
        builtinBuilder("cardinality")(Seq(distinctNonNull(args.head)))
      }),
    // DuckDB quantile_disc: the element at index ceil(p·n) of the
    // sorted non-NULL values (verified: p=0 → first, p=1 → last, works
    // on any orderable type). Composed from builtins — the group is
    // collected to an array, which is the shim-layer trade-off; the
    // library's own quantile queries use percentile/approx instead.
    ("quantile_disc",
      info("quantile_disc", "quantile_disc(x, p) - exact discrete quantile (DuckDB semantics)."),
      quantileDiscBuilder),
    // bare `quantile` is DuckDB's alias of quantile_disc (verified:
    // quantile(x, 0.5) over [1,2] = 1, the discrete lower value)
    ("quantile",
      info("quantile", "quantile(x, p) - DuckDB alias of quantile_disc."),
      quantileDiscBuilder))

  private def quantileDiscBuilder: Seq[Expression] => Expression =
      (args: Seq[Expression]) => {
        require(args.length == 2, s"quantile_disc expects 2 arguments, got ${args.length}")
        import org.apache.spark.sql.catalyst.expressions.{Cast, CreateArray, Multiply}
        // sort_array, not array_sort: the higher-order builder asserts
        // resolved args at bind time; NULL placement is moot because
        // collect_list already skips NULLs (as DuckDB's quantile does).
        // The index derives from count(x) — a second, independent
        // aggregate — because re-referencing the collect_list subtree
        // trips aggregate planning (fresh semantically-equal instances
        // are fine: the planner dedups them by canonical form).
        // pre-built aggregate functions must be wrapped explicitly —
        // the analyzer only wraps the ones it resolves itself
        def agg(name: String, in: Expression): Expression =
          builtinBuilder(name)(Seq(in)) match {
            case f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction =>
              f.toAggregateExpression()
            case e => e
          }
        def scalarQ(p: Expression): Expression = {
          val sorted = builtinBuilder("sort_array")(Seq(
            agg("collect_list", args.head),
            org.apache.spark.sql.catalyst.expressions.Literal(true)))
          val n = agg("count", args.head)
          val idx = builtinBuilder("greatest")(Seq(
            org.apache.spark.sql.catalyst.expressions.Literal(1),
            Cast(builtinBuilder("ceil")(Seq(Multiply(
              Cast(p, org.apache.spark.sql.types.DoubleType),
              Cast(n, org.apache.spark.sql.types.DoubleType)))),
              org.apache.spark.sql.types.IntegerType)))
          builtinBuilder("try_element_at")(Seq(sorted, idx))
        }
        // DuckDB's list form quantile_disc(x, [p1, p2, …]) → LIST of
        // the per-p discrete quantiles (round 9; DialectSpec pins)
        args(1) match {
          case ca: CreateArray => CreateArray(ca.children.map(scalarQ))
          case _ => scalarQ(args(1))
        }
      }

  /** Continuation of the registration table (split around the shared
    * quantile builder above purely for source organization).
    */
  private[graft] val registrations2: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    // DuckDB's float-accumulator aggregates: fsum/favg force DOUBLE
    // accumulation (Kahan in DuckDB; same value modulo fp order)
    ("fsum",
      info("fsum", "fsum(x) - sum with DOUBLE accumulation (DuckDB's Kahan-summed sumkahan)."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"fsum expects 1 argument, got ${args.length}")
        builtinBuilder("sum")(Seq(org.apache.spark.sql.catalyst.expressions.Cast(
          args.head, org.apache.spark.sql.types.DoubleType)))
      }),
    ("favg",
      info("favg", "favg(x) - mean with DOUBLE accumulation."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"favg expects 1 argument, got ${args.length}")
        builtinBuilder("avg")(Seq(org.apache.spark.sql.catalyst.expressions.Cast(
          args.head, org.apache.spark.sql.types.DoubleType)))
      }),
    // DuckDB format() speaks fmt's {}-placeholders, Spark's
    // fmt-style templates → per-placeholder printf/pad expressions
    // (probe 23: default align is LEFT for strings, RIGHT for numbers;
    // fill/center via guarded pads; NULL args propagate like DuckDB)
    ("format",
      info("format", "format('{}-{}', args...) - DuckDB fmt-style formatting (fill/align/width/.precision/dfsxoeg)."),
      (args: Seq[Expression]) => {
        require(args.nonEmpty, "format expects at least the template argument")
        // decimals/floats → double so java's %f accepts them (Spark
        // parses 3.14 literals as DECIMAL, which format_string rejects)
        val fmtArgs = args.tail.map(graft.functions.FmtArgCast)
        nullPropagating(fmtArgs, fmtFormatExpr(args.head, fmtArgs))
      }),
    // DuckDB regexp_extract/extract_all default to group 0 (the whole
    // match); Spark's default is group 1 — re-register with the
    // DuckDB default, explicit group indexes pass through
    ("regexp_extract",
      info("regexp_extract", "regexp_extract(s, re[, group]) - group defaults to 0 (DuckDB semantics)."),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{If, IsNull, Literal}
        val withIdx = if (args.length == 2) args :+ Literal(0) else args
        // DuckDB returns '' when the requested group exceeds the
        // pattern's group count (regexp_extract('abc', 'b', 2) = '');
        // Spark raises INVALID_PARAMETER_VALUE.REGEX_GROUP_INDEX
        // (round-13 fuzz v4). Literal pattern+index short-circuit at
        // build time; non-literal forms keep Spark's loud error.
        val knownOverflow =
          withIdx(1).foldable && withIdx(2).foldable && {
            try {
              val pat = withIdx(1).eval(null)
              val idx = withIdx(2).eval(null) match {
                case n: Number => n.intValue()
                case _ => -1
              }
              pat != null && idx >
                java.util.regex.Pattern.compile(pat.toString).matcher("").groupCount()
            } catch { case _: Throwable => false }
          }
        if (knownOverflow)
          If(IsNull(args.head),
            Literal(null, org.apache.spark.sql.types.StringType), Literal(""))
        else if (!withIdx(1).foldable || !withIdx(2).foldable) {
          // per-row pattern (or index): the overflow check must run at
          // runtime — DuckDB evaluates it row by row ('' for the rows
          // that overflow, the extraction for the rest). The If guard
          // keeps the builtin unevaluated on overflow rows, so Spark's
          // loud REGEX_GROUP_INDEX never fires for them.
          import org.apache.spark.sql.catalyst.expressions.GreaterThan
          If(GreaterThan(withIdx(2), graft.functions.RegexGroupCount(withIdx(1))),
            If(IsNull(args.head),
              Literal(null, org.apache.spark.sql.types.StringType), Literal("")),
            builtinBuilder("regexp_extract")(withIdx))
        } else builtinBuilder("regexp_extract")(withIdx)
      }),
    ("regexp_extract_all",
      info("regexp_extract_all", "regexp_extract_all(s, re[, group]) - group defaults to 0 (DuckDB semantics)."),
      (args: Seq[Expression]) => {
        val withIdx = if (args.length == 2)
          args :+ org.apache.spark.sql.catalyst.expressions.Literal(0) else args
        builtinBuilder("regexp_extract_all")(withIdx)
      }),
    // DuckDB date_diff counts unit BOUNDARIES crossed, not elapsed
    // units — a 3-arg call with a (DuckDB-style) quoted unit literal
    // gets the boundary composition; 2-arg datediff and Spark's
    // unquoted-unit date_diff delegate to the builtins
    // Spark's parser special-cases date_diff/datediff and rejects a
    // quoted unit before any registry lookup — the dialect shim
    // renames the quoted-unit spelling to graft_date_diff textually
    ("graft_date_diff", dateDiffInfo("graft_date_diff"), dateDiffBuilder("graft_date_diff")),
    ("time_bucket",
      info("time_bucket", "time_bucket(width, ts[, origin]) - fixed-width buckets aligned to DuckDB's 2000-01-03 / 2000-01-01 origins."),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          s"time_bucket expects 2 or 3 arguments, got ${args.length}")
        graft.functions.TimeBucket(args.head, args(1), args.drop(2).headOption)
      }),
    // DuckDB's JSON extraction, variant-backed so quoting is faithful:
    // json_extract / `->` keep JSON form ('"x"'), json_extract_string /
    // `->>` / json_value unquote scalars. Paths: '$.a[0]' as-is,
    // '/a/b' pointers, bare keys, integer indexes. Malformed JSON
    // yields NULL (try_parse_json) rather than an error.
    ("graft_json_extract", jsonExtractInfo("graft_json_extract"), jsonExtractBuilder(asText = false)),
    ("json_extract", jsonExtractInfo("json_extract"), jsonExtractBuilder(asText = false)),
    ("graft_json_extract_string", jsonExtractInfo("graft_json_extract_string"), jsonExtractBuilder(asText = true)),
    ("json_extract_string", jsonExtractInfo("json_extract_string"), jsonExtractBuilder(asText = true)),
    ("json_value", jsonExtractInfo("json_value"), jsonExtractBuilder(asText = true)),
    // 1-arg trunc is DuckDB's numeric truncation toward zero; the
    // 2-arg date form stays Spark's builtin
    ("trunc",
      info("trunc", "trunc(x) - numeric truncation toward zero; trunc(date, fmt) stays Spark's."),
      (args: Seq[Expression]) => {
        if (args.length == 1) graft.functions.TruncDispatch(args.head)
        else builtinBuilder("trunc")(args)
      }),
    // DuckDB types ceil/floor DOUBLE for every non-decimal numeric
    // (even integers: typeof(ceil(5)) = DOUBLE) where Spark returns
    // BIGINT — round-13 fuzz finding; values identical, type-only
    ("ceil",
      info("ceil", "ceil(x) - smallest integer >= x, typed DOUBLE for non-decimal inputs (DuckDB)."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"ceil expects 1 argument, got ${args.length}")
        graft.functions.CeilFloorDispatch(args.head, isCeil = true)
      }),
    ("ceiling",
      info("ceiling", "ceiling(x) - alias of ceil with DuckDB result typing."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"ceiling expects 1 argument, got ${args.length}")
        graft.functions.CeilFloorDispatch(args.head, isCeil = true)
      }),
    ("floor",
      info("floor", "floor(x) - largest integer <= x, typed DOUBLE for non-decimal inputs (DuckDB)."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"floor expects 1 argument, got ${args.length}")
        graft.functions.CeilFloorDispatch(args.head, isCeil = false)
      }),
    // DuckDB's avg is DOUBLE for every numeric input; Spark keeps
    // DECIMAL(p, s+4) for decimal children — a VALUE divergence, not
    // just a type one (avg of decimal-literal columns truncates at
    // s+4 digits: round(avg(round(d,1)),6) printed -7.06667 against
    // DuckDB's -7.066667 — round-13 fuzz finding). FmtArgCast sends
    // DECIMAL/FLOAT through DOUBLE and everything else untouched.
    ("avg",
      info("avg", "avg(x) - arithmetic mean, always DOUBLE for numerics (DuckDB)."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"avg expects 1 argument, got ${args.length}")
        builtinBuilder("avg")(Seq(graft.functions.FmtArgCast(args.head)))
      }),
    ("mean",
      info("mean", "mean(x) - alias of avg with DuckDB DOUBLE typing."),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"mean expects 1 argument, got ${args.length}")
        builtinBuilder("avg")(Seq(graft.functions.FmtArgCast(args.head)))
      }),
    // DuckDB rounds the BINARY double (floor(|x|*10^n+0.5) signed);
    // Spark rounds the shortest decimal rendering — silently different
    // at representability boundaries (round(-17.85, 1): -17.8 vs
    // -17.9). Decimal inputs keep Spark's exact path; the scale may be
    // a runtime expression (DuckDB allows it, Spark's builtin doesn't).
    ("round",
      info("round", "round(x[, n]) - binary-value rounding like DuckDB; DOUBLE for non-decimal inputs."),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2,
          s"round expects 1-2 arguments, got ${args.length}")
        val n = if (args.length == 2) args(1)
          else org.apache.spark.sql.catalyst.expressions.Literal(0)
        graft.functions.RoundDispatch(args.head, n)
      }))

  /** Round-5 second long-tail batch. Every entry's semantics were
    * verified against DuckDB 1.5 before registration (edge cases in
    * the per-entry comments); anything NOT matching exactly stays
    * unregistered so it fails loudly instead of silently diverging.
    */
  private[graft] val registrations3: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Abs, Add, BitwiseXor, Cast, CaseWhen, Ceil, Divide, EqualTo, GreaterThan, If, LessThan, LessThanOrEqual, Literal, Multiply, Not, Or, Pmod, Remainder, Signum, Subtract, IsNaN, Length}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
    import org.apache.spark.sql.types._
    def two(name: String, args: Seq[Expression]): Unit =
      require(args.length == 2, s"$name expects 2 arguments, got ${args.length}")
    def one(name: String, args: Seq[Expression]): Unit =
      require(args.length == 1, s"$name expects 1 argument, got ${args.length}")
    def D(e: Expression) = Cast(e, DoubleType)
    def raise(msg: String): Expression =
      builtinBuilder("raise_error")(Seq(Literal(msg)))
    // range/generate_series in the SELECT list return a BIGINT list in
    // DuckDB. range is end-EXCLUSIVE, generate_series INCLUSIVE; step 0
    // or a step pointing away from the stop yields [] (verified:
    // range(0) = [], range(1,5,0) = [], generate_series(2,2,5) = [2],
    // range(2,2,1) = []); 1-arg forms start at 0.
    def series(fname: String, exclusive: Boolean)(args: Seq[Expression]): Expression = {
      require(args.nonEmpty && args.length <= 3,
        s"$fname expects 1-3 arguments, got ${args.length}")
      def L(x: Long) = Literal(x)
      def C(e: Expression) = Cast(e, LongType)
      val (a, b, s) = args.length match {
        case 1 => (L(0L), C(args(0)), L(1L))
        case 2 => (C(args(0)), C(args(1)), L(1L))
        case _ => (C(args(0)), C(args(1)), C(args(2)))
      }
      val dir = Multiply(Subtract(b, a), s)
      val empty = Literal.create(Array.empty[Long], ArrayType(LongType))
      val stop =
        if (exclusive) Subtract(b, If(GreaterThan(s, L(0L)), L(1L), L(-1L))) else b
      val isEmpty = Or(EqualTo(s, L(0L)),
        if (exclusive) LessThanOrEqual(dir, L(0L)) else LessThan(dir, L(0L)))
      CaseWhen(Seq((isEmpty, empty)),
        Some(builtinBuilder("sequence")(Seq(a, stop, s))))
    }
    Seq(
    ("xor",
      info("xor", "xor(a, b) - bitwise xor (DuckDB: integers only; booleans fail loudly there too)."),
      (args: Seq[Expression]) => { two("xor", args); BitwiseXor(args(0), args(1)) }),
    ("add",
      info("add", "add(a, b) - the + operator as a function."),
      (args: Seq[Expression]) => { two("add", args); Add(args(0), args(1)) }),
    ("subtract",
      info("subtract", "subtract(a, b) - the - operator as a function."),
      (args: Seq[Expression]) => { two("subtract", args); Subtract(args(0), args(1)) }),
    ("multiply",
      info("multiply", "multiply(a, b) - the * operator as a function."),
      (args: Seq[Expression]) => { two("multiply", args); Multiply(args(0), args(1)) }),
    ("divide",
      info("divide", "divide(a, b) - integer division on integral operands (verified divide(-7,2) = -3), plain division otherwise."),
      (args: Seq[Expression]) => { two("divide", args); graft.functions.DivideDispatch(args(0), args(1)) }),
    // fdiv/fmod are DuckDB's FLOORED division/modulo as DOUBLE
    // (verified fdiv(7,2) = 3.0; fmod(-7.5,2) = 0.5, fmod(7.5,-2) =
    // -0.5, fmod(-7,-2) = -1 — exactly Spark's pmod on doubles)
    ("fdiv",
      info("fdiv", "fdiv(a, b) - floored division as DOUBLE (DuckDB semantics)."),
      (args: Seq[Expression]) => { two("fdiv", args)
        D(builtinBuilder("floor")(Seq(Divide(D(args(0)), D(args(1)))))) }),
    ("fmod",
      info("fmod", "fmod(a, b) - floored modulo as DOUBLE (DuckDB semantics: a - b*floor(a/b); pmod differs on negative divisors)."),
      (args: Seq[Expression]) => { two("fmod", args)
        val (a, b) = (D(args(0)), D(args(1)))
        Subtract(a, Multiply(b, D(builtinBuilder("floor")(Seq(Divide(a, b)))))) }),
    // even: round away from zero to the next even integer, DOUBLE
    // (verified even(2.5) = 4, even(-2.5) = -4, even(2.0) = 2,
    // even(0) = 0): sign(x) * (c + c%2) with c = ceil(|x|)
    ("even",
      info("even", "even(x) - round away from zero to the next even integer (DuckDB semantics)."),
      (args: Seq[Expression]) => { one("even", args)
        val xd = D(args.head)
        val c = D(Ceil(Abs(xd)))
        Multiply(Signum(xd), Add(c, Remainder(c, Literal(2.0)))) }),
    ("isinf",
      info("isinf", "isinf(x) - true when x is +/-Infinity."),
      (args: Seq[Expression]) => { one("isinf", args)
        val xd = D(args.head)
        Or(EqualTo(xd, Literal(Double.PositiveInfinity)),
          EqualTo(xd, Literal(Double.NegativeInfinity))) }),
    ("isfinite",
      info("isfinite", "isfinite(x) - true when x is neither NaN nor infinite."),
      (args: Seq[Expression]) => { one("isfinite", args)
        val xd = D(args.head)
        And2(Not(IsNaN(xd)), Not(Or(EqualTo(xd, Literal(Double.PositiveInfinity)),
          EqualTo(xd, Literal(Double.NegativeInfinity))))) }),
    ("nextafter",
      info("nextafter", "nextafter(a, b) - next representable double after a toward b."),
      (args: Seq[Expression]) => { two("nextafter", args)
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          classOf[java.lang.Math], DoubleType, "nextAfter",
          Seq(D(args(0)), D(args(1))), Seq(DoubleType, DoubleType),
          returnNullable = false) }),
    // unicode/ord: codepoint of the FIRST character, -1 for ''
    // (verified unicode('€x') = 8364, unicode('') = -1, ord same);
    // Spark's ascii already returns full codepoints, so only the
    // empty case needs the branch
    ("unicode",
      info("unicode", "unicode(s) - codepoint of the first character, -1 for empty (DuckDB semantics)."),
      (args: Seq[Expression]) => { one("unicode", args)
        CaseWhen(Seq((EqualTo(Length(args.head), Literal(0)), Literal(-1))),
          Some(builtinBuilder("ascii")(args))) }),
    ("ord",
      info("ord", "ord(s) - DuckDB alias of unicode()."),
      (args: Seq[Expression]) => { one("ord", args)
        CaseWhen(Seq((EqualTo(Length(args.head), Literal(0)), Literal(-1))),
          Some(builtinBuilder("ascii")(args))) }),
    // DuckDB log(x) is the BASE-10 logarithm; Spark's log(x) is the
    // natural log — a silent value divergence (round-11 probe catch:
    // DuckDB log(100) = 2.0, Spark = 4.605...). Two-arg log(b, x)
    // agrees on both engines and delegates unchanged.
    ("log",
      info("log", "log(x) - base-10 logarithm; log(b, x) - base-b (DuckDB semantics)."),
      (args: Seq[Expression]) => args match {
        case Seq(x) => builtinBuilder("log10")(Seq(x))
        case Seq(b, x) => builtinBuilder("log")(Seq(b, x))
        case _ => throw new IllegalArgumentException(
          s"log expects 1-2 arguments, got ${args.length}")
      }),
    // DuckDB ERRORS on out-of-domain math where Spark silently yields
    // NaN/NULL (sqrt(-1) = NaN, ln(0) = NULL) — a NaN flowing into a
    // result is the worst kind of divergence, so the server face
    // raises like DuckDB. NULL inputs still pass through as NULL.
    ("sqrt",
      info("sqrt", "sqrt(x) - errors on negative input (DuckDB semantics)."),
      (args: Seq[Expression]) => { one("sqrt", args)
        val x = D(args.head)
        CaseWhen(Seq((LessThan(x, Literal(0.0)),
          D(raise("cannot take square root of a negative number")))),
          Some(builtinBuilder("sqrt")(Seq(x)))) }),
    ("ln",
      info("ln", "ln(x) - errors on x <= 0 (DuckDB semantics)."),
      (args: Seq[Expression]) => { one("ln", args)
        val x = D(args.head)
        CaseWhen(Seq((LessThanOrEqual(x, Literal(0.0)),
          D(raise("cannot take logarithm of a non-positive number")))),
          Some(builtinBuilder("ln")(Seq(x)))) }),
    ("log10",
      info("log10", "log10(x) - errors on x <= 0 (DuckDB semantics)."),
      (args: Seq[Expression]) => { one("log10", args)
        val x = D(args.head)
        CaseWhen(Seq((LessThanOrEqual(x, Literal(0.0)),
          D(raise("cannot take logarithm of a non-positive number")))),
          Some(builtinBuilder("log10")(Seq(x)))) }),
    ("log2",
      info("log2", "log2(x) - errors on x <= 0 (DuckDB semantics)."),
      (args: Seq[Expression]) => { one("log2", args)
        val x = D(args.head)
        CaseWhen(Seq((LessThanOrEqual(x, Literal(0.0)),
          D(raise("cannot take logarithm of a non-positive number")))),
          Some(builtinBuilder("log2")(Seq(x)))) }),
    // NaN guard: Spark ORDERS NaN greater than every double, so a bare
    // Abs(x) > 1.0 bound check trapped asin(NaN) — DuckDB returns NaN
    // there (fuzz v5: asin(power(-0.75, 0.5))). Exempt NaN explicitly.
    ("asin",
      info("asin", "asin(x) - errors outside [-1, 1], NaN in NaN out (DuckDB semantics)."),
      (args: Seq[Expression]) => { one("asin", args)
        val x = D(args.head)
        CaseWhen(Seq(
          (IsNaN(x), x),
          (GreaterThan(Abs(x), Literal(1.0)),
            D(raise("ASIN is undefined outside [-1,1]")))),
          Some(builtinBuilder("asin")(Seq(x)))) }),
    ("acos",
      info("acos", "acos(x) - errors outside [-1, 1], NaN in NaN out (DuckDB semantics)."),
      (args: Seq[Expression]) => { one("acos", args)
        val x = D(args.head)
        CaseWhen(Seq(
          (IsNaN(x), x),
          (GreaterThan(Abs(x), Literal(1.0)),
            D(raise("ACOS is undefined outside [-1,1]")))),
          Some(builtinBuilder("acos")(Seq(x)))) }),
    // DuckDB substr with start = 0 counts the window from virtual
    // position 0 (substr('hello', 0, 3) = 'he'); Spark treats 0 as 1
    // ('hel') — silent divergence. Negative starts (from-end) agree.
    ("substr",
      info("substr", "substr(s, start[, len]) - start 0 clips the window (DuckDB semantics)."),
      (args: Seq[Expression]) => args match {
        case Seq(s, st) => builtinBuilder("substring")(Seq(s, st))
        case Seq(s, st, len) =>
          CaseWhen(Seq((EqualTo(Cast(st, LongType), Literal(0L)),
            builtinBuilder("substring")(Seq(s, Literal(1),
              builtinBuilder("greatest")(Seq(Subtract(Cast(len, LongType), Literal(1L)), Literal(0L))))))),
            Some(builtinBuilder("substring")(Seq(s, st, len))))
        case _ => throw new IllegalArgumentException(
          s"substr expects 2-3 arguments, got ${args.length}")
      }),
    ("substring",
      info("substring", "substring(s, start[, len]) - start 0 clips the window (DuckDB semantics)."),
      (args: Seq[Expression]) => args match {
        case Seq(s, st) => builtinBuilder("substring")(Seq(s, st))
        case Seq(s, st, len) =>
          CaseWhen(Seq((EqualTo(Cast(st, LongType), Literal(0L)),
            builtinBuilder("substring")(Seq(s, Literal(1),
              builtinBuilder("greatest")(Seq(Subtract(Cast(len, LongType), Literal(1L)), Literal(0L))))))),
            Some(builtinBuilder("substring")(Seq(s, st, len))))
        case _ => throw new IllegalArgumentException(
          s"substring expects 2-3 arguments, got ${args.length}")
      }),
    // DuckDB's two-arg trim family takes (string, characters); Spark's
    // builtins take (trimStr, string) — a SILENT value divergence
    // (Spark ltrim('xxabcx','x') = '' where DuckDB returns 'abcx';
    // round-11 probe catch). The dispatch swaps the arguments; one-arg
    // forms delegate unchanged, and TRIM(BOTH x FROM y) parses at the
    // grammar level so it never reaches this registry entry.
    ("ltrim",
      info("ltrim", "ltrim(s[, chars]) - left-trim chars (DuckDB argument order)."),
      (args: Seq[Expression]) => args match {
        case Seq(s) => builtinBuilder("ltrim")(Seq(s))
        case Seq(s, cs) => builtinBuilder("ltrim")(Seq(cs, s))
        case _ => throw new IllegalArgumentException(
          s"ltrim expects 1-2 arguments, got ${args.length}")
      }),
    ("rtrim",
      info("rtrim", "rtrim(s[, chars]) - right-trim chars (DuckDB argument order)."),
      (args: Seq[Expression]) => args match {
        case Seq(s) => builtinBuilder("rtrim")(Seq(s))
        case Seq(s, cs) => builtinBuilder("rtrim")(Seq(cs, s))
        case _ => throw new IllegalArgumentException(
          s"rtrim expects 1-2 arguments, got ${args.length}")
      }),
    ("trim",
      info("trim", "trim(s[, chars]) - trim chars from both ends (DuckDB argument order)."),
      (args: Seq[Expression]) => args match {
        case Seq(s) => builtinBuilder("trim")(Seq(s))
        case Seq(s, cs) => builtinBuilder("trim")(Seq(cs, s))
        case _ => throw new IllegalArgumentException(
          s"trim expects 1-2 arguments, got ${args.length}")
      }),
    // DuckDB left/right with NEGATIVE n drop -n characters from the
    // other end (left('hello',-2) = 'hel', right('hello',-2) = 'llo');
    // Spark's builtins return '' for negative n — branch at dispatch.
    ("left",
      info("left", "left(s, n) - prefix of n chars; negative n drops -n from the end (DuckDB semantics)."),
      (args: Seq[Expression]) => { two("left", args)
        val (s, n) = (args(0), args(1))
        CaseWhen(Seq((Not(LessThan(n, Literal(0))), builtinBuilder("left")(args))),
          Some(builtinBuilder("substring")(Seq(s, Literal(1),
            builtinBuilder("greatest")(Seq(Add(Length(s), n), Literal(0))))))) }),
    ("right",
      info("right", "right(s, n) - suffix of n chars; negative n drops -n from the start (DuckDB semantics)."),
      (args: Seq[Expression]) => { two("right", args)
        val (s, n) = (args(0), args(1))
        CaseWhen(Seq((Not(LessThan(n, Literal(0))), builtinBuilder("right")(args))),
          Some(builtinBuilder("substring")(Seq(s, Add(Abs(n), Literal(1)),
            Length(s))))) }),
    ("to_base",
      info("to_base", "to_base(n, base[, min_len]) - n rendered in base (uppercase, like DuckDB); negative n errors."),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          s"to_base expects 2 or 3 arguments, got ${args.length}")
        val conv = builtinBuilder("conv")(
          Seq(Cast(Cast(args(0), LongType), StringType), Literal(10), Cast(args(1), IntegerType)))
        val padded = if (args.length == 3)
          builtinBuilder("lpad")(Seq(conv, Cast(args(2), IntegerType), Literal("0")))
        else conv
        CaseWhen(Seq((LessThan(Cast(args(0), LongType), Literal(0L)),
          raise("to_base: number must be greater than or equal to 0"))), Some(padded)) }),
    // julian day as DOUBLE: epoch days + 2440588 (verified
    // julian(DATE '1970-01-01') = 2440588.0; timestamps add the
    // day-fraction: julian(2024-03-05 12:00) = 2460375.5)
    ("julian",
      info("julian", "julian(d) - Julian day number as DOUBLE (DuckDB semantics)."),
      (args: Seq[Expression]) => { one("julian", args)
        Add(Divide(D(builtinBuilder("unix_micros")(
            Seq(Cast(args.head, TimestampType)))), Literal(86400e6)),
          Literal(2440588.0)) }),
    ("constant_or_null",
      info("constant_or_null", "constant_or_null(x, cond...) - x, or NULL when any cond is NULL (DuckDB semantics)."),
      (args: Seq[Expression]) => {
        require(args.length >= 2, s"constant_or_null expects >= 2 arguments, got ${args.length}")
        val allSet = args.tail.map(a =>
          org.apache.spark.sql.catalyst.expressions.IsNotNull(a): Expression)
          .reduce((x, y) => And2(x, y))
        CaseWhen(Seq((allSet, args.head)), None) }),
    ("struct_extract",
      info("struct_extract", "struct_extract(s, 'name') - field access as a function."),
      (args: Seq[Expression]) => { two("struct_extract", args)
        UnresolvedExtractValue(args(0), args(1)) }),
    // hamming/mismatches error on unequal lengths, like DuckDB
    // ("Strings must be of equal length"); distance counts differing
    // positions (BIGINT)
    ("hamming",
      info("hamming", "hamming(a, b) - positional differences; errors when lengths differ (DuckDB semantics)."),
      (args: Seq[Expression]) => hammingExpr("hamming", args)),
    ("mismatches",
      info("mismatches", "mismatches(a, b) - DuckDB alias of hamming()."),
      (args: Seq[Expression]) => hammingExpr("mismatches", args)),
    // DuckDB day numbering: dayofweek Sunday=0..Saturday=6 (Spark's is
    // 1-based); isodow Monday=1..Sunday=7 (= Spark weekday + 1)
    ("dayofweek",
      info("dayofweek", "dayofweek(d) - Sunday=0..Saturday=6 (DuckDB numbering)."),
      (args: Seq[Expression]) => { one("dayofweek", args)
        Subtract(builtinBuilder("dayofweek")(args), Literal(1)) }),
    ("isodow",
      info("isodow", "isodow(d) - ISO day of week, Monday=1..Sunday=7."),
      (args: Seq[Expression]) => { one("isodow", args)
        Add(builtinBuilder("weekday")(args), Literal(1)) }),
    // yearweek: ISO week-year * 100 + ISO week (verified
    // yearweek(2023-01-01) = 202252, yearweek(2024-12-30) = 202501);
    // the ISO year is the year of that week's Thursday
    ("yearweek",
      info("yearweek", "yearweek(d) - ISO year*100 + ISO week (DuckDB semantics)."),
      (args: Seq[Expression]) => { one("yearweek", args)
        val isodow = Add(builtinBuilder("weekday")(Seq(args.head)), Literal(1))
        val thursday = builtinBuilder("date_add")(
          Seq(Cast(args.head, DateType), Subtract(Literal(4), isodow)))
        Add(Multiply(builtinBuilder("year")(Seq(thursday)), Literal(100)),
          builtinBuilder("weekofyear")(Seq(args.head))) }),
    // timezone(tz, naive_ts) interprets the naive timestamp IN tz and
    // returns the instant (verified 10:00 America/New_York → 15:00
    // UTC) — exactly to_utc_timestamp with swapped arguments
    ("timezone",
      info("timezone", "timezone(tz, ts) - interpret naive ts in tz (DuckDB AT TIME ZONE semantics)."),
      (args: Seq[Expression]) => { two("timezone", args)
        builtinBuilder("to_utc_timestamp")(Seq(args(1), args(0))) }),
    // entropy: Shannon entropy (log2) of the value distribution,
    // NULLs skipped, all-NULL group → 0.0 (verified entropy(['a','a',
    // NULL,'b']) = 0.918..., entropy([NULL]) = 0.0). Composed as
    // log2(n) − Σ c·log2(c)/n with the run counts c from ONE pass of
    // the aggregate HOF over the sorted collected values (stringified
    // for type-generic equality) — same independent-aggregate trick as
    // quantile_disc (count + collect_list, never the same subtree twice)
    ("entropy",
      info("entropy", "entropy(x) - Shannon entropy, log base 2 (DuckDB semantics)."),
      (args: Seq[Expression]) => { one("entropy", args)
        import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, LambdaFunction, UnresolvedNamedLambdaVariable}
        def agg(name: String, in: Expression): Expression =
          builtinBuilder(name)(Seq(in)) match {
            case f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction =>
              f.toAggregateExpression()
            case e => e
          }
        def field(st: Expression, f: String) = UnresolvedExtractValue(st, Literal(f))
        def st3(p: Expression, c: Expression, a: Expression) =
          builtinBuilder("named_struct")(Seq(
            Literal("p"), p, Literal("c"), c, Literal("a"), a))
        def term(c: Expression): Expression =
          CaseWhen(Seq((EqualTo(c, Literal(0L)), Literal(0.0))),
            Some(Multiply(D(c), builtinBuilder("log2")(Seq(D(c))))))
        val n = agg("count", args.head)
        val arr = builtinBuilder("sort_array")(Seq(
          agg("collect_list", Cast(args.head, StringType)), Literal(true)))
        val acc = UnresolvedNamedLambdaVariable(Seq("__e_acc"))
        val v = UnresolvedNamedLambdaVariable(Seq("__e_v"))
        val seed = st3(Literal.create(null, StringType), Literal(0L), Literal(0.0))
        val step = LambdaFunction(
          CaseWhen(Seq((EqualNullSafe(v, field(acc, "p")),
            st3(field(acc, "p"), Add(field(acc, "c"), Literal(1L)), field(acc, "a")))),
            Some(st3(v, Literal(1L), Add(field(acc, "a"), term(field(acc, "c")))))),
          Seq(acc, v))
        val fin = LambdaFunction(Add(field(acc, "a"), term(field(acc, "c"))), Seq(acc))
        val sum = builtinBuilder("aggregate")(Seq(arr, seed, step, fin))
        CaseWhen(Seq((EqualTo(n, Literal(0L)), Literal(0.0))),
          Some(Subtract(builtinBuilder("log2")(Seq(D(n))), Divide(sum, D(n))))) }),
    // signbit is plain x < 0 in DuckDB (verified signbit(-0.0) = false
    // there — it does NOT inspect the IEEE sign bit of negative zero)
    ("signbit",
      info("signbit", "signbit(x) - the IEEE sign bit (probe 26: -0.0 IS true in DuckDB 1.5.2)."),
      (args: Seq[Expression]) => { one("signbit", args)
        val x = D(args.head)
        // x < 0 misses negative zero; the sign of a zero survives only
        // in its rendering ("-0.0"), and NaN renders unsigned — so the
        // string probe covers exactly the ±0.0 hole and nothing else
        Or(LessThan(x, Literal(0.0)),
          And2(EqualTo(x, Literal(0.0)),
            builtinBuilder("startswith")(Seq(
              Cast(x, org.apache.spark.sql.types.StringType),
              Literal("-"))))) }),
    // mad: median absolute deviation as DOUBLE (verified mad([1,2,4])
    // = 1.0, mad([1.0,2.0]) = 0.5 — quantile_cont interpolation).
    // Composed from THREE independent aggregates (count + two sorted
    // collect_lists — each referenced exactly once, because repeated
    // references to a non-deterministic aggregate break planning):
    // median = mean of the 1-2 middle elements via a slice fold, then
    // the same over the sorted absolute deviations.
    ("mad",
      info("mad", "mad(x) - median absolute deviation (DuckDB semantics)."),
      (args: Seq[Expression]) => { one("mad", args)
        import org.apache.spark.sql.catalyst.expressions.{Floor, LambdaFunction, UnresolvedNamedLambdaVariable}
        def agg(name: String, in: Expression): Expression =
          builtinBuilder(name)(Seq(in)) match {
            case f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction =>
              f.toAggregateExpression()
            case e => e
          }
        def field(st: Expression, f: String) = UnresolvedExtractValue(st, Literal(f))
        val n = agg("count", args.head)
        val lo = Cast(Add(Floor(Divide(D(Subtract(n, Literal(1L))), Literal(2.0))), Literal(1L)), IntegerType)
        val len = Cast(Subtract(Literal(2L), Remainder(n, Literal(2L))), IntegerType) // 1 if n odd, 2 if even
        def meanOfMiddle(sortedArr: Expression): Expression = {
          val a = UnresolvedNamedLambdaVariable(Seq("__m_a"))
          val v = UnresolvedNamedLambdaVariable(Seq("__m_v"))
          val seed = builtinBuilder("named_struct")(Seq(
            Literal("s"), Literal(0.0), Literal("c"), Literal(0L)))
          val step = LambdaFunction(builtinBuilder("named_struct")(Seq(
            Literal("s"), Add(field(a, "s"), v),
            Literal("c"), Add(field(a, "c"), Literal(1L)))), Seq(a, v))
          val fin = LambdaFunction(Divide(field(a, "s"), D(field(a, "c"))), Seq(a))
          builtinBuilder("aggregate")(Seq(
            builtinBuilder("slice")(Seq(sortedArr, lo, len)), seed, step, fin))
        }
        def sortedList: Expression = builtinBuilder("sort_array")(Seq(
          agg("collect_list", D(args.head)), Literal(true)))
        val med = meanOfMiddle(sortedList)
        val dv = UnresolvedNamedLambdaVariable(Seq("__m_d"))
        val devs = builtinBuilder("sort_array")(Seq(
          builtinBuilder("transform")(Seq(agg("collect_list", D(args.head)),
            LambdaFunction(Abs(Subtract(dv, med)), Seq(dv)))), Literal(true)))
        meanOfMiddle(devs) }),
    // struct_insert arrives as graft_struct_insert(s, 'k1', v1, ...)
    // via the dialect's := rewrite; UpdateFields appends/overwrites
    // fields exactly like DuckDB's struct_insert
    ("graft_struct_insert",
      info("graft_struct_insert", "struct_insert(s, k := v, ...) - add fields to a struct."),
      (args: Seq[Expression]) => {
        require(args.length >= 3 && args.length % 2 == 1,
          s"struct_insert expects a struct plus name/value pairs, got ${args.length} args")
        args.drop(1).grouped(2).foldLeft(args.head) { case (acc, Seq(k, v)) =>
          val name = k match {
            case Literal(s, StringType) if s != null => s.toString
            case _ => throw new IllegalArgumentException("struct_insert: field names must be identifiers")
          }
          org.apache.spark.sql.catalyst.expressions.UpdateFields(acc, name, v)
        } }),
    ("range",
      info("range", "range([start,] stop[, step]) - end-EXCLUSIVE BIGINT list (DuckDB semantics)."),
      (args: Seq[Expression]) => series("range", exclusive = true)(args)),
    ("generate_series",
      info("generate_series", "generate_series([start,] stop[, step]) - end-INCLUSIVE BIGINT list (DuckDB semantics)."),
      (args: Seq[Expression]) => series("generate_series", exclusive = false)(args))) ++ {
    // big-date parts (verified: decade(1999) = 199 = floor(year/10);
    // century(2000) = 20, century(2001) = 21 = floor((y-1)/100)+1;
    // millennium(2024) = 3; era = 1 for CE)
    def yearOf(e: Expression) = builtinBuilder("year")(Seq(e))
    def divPart(name: String, div: Int, shifted: Boolean) =
      (name,
        info(name, s"$name(d) - DuckDB's $name date part."),
        (args: Seq[Expression]) => { one(name, args)
          if (shifted)
            Add(Cast(builtinBuilder("floor")(Seq(Divide(
              D(Subtract(yearOf(args.head), Literal(1))), Literal(div.toDouble)))), LongType),
              Literal(1L))
          else
            Cast(builtinBuilder("floor")(Seq(Divide(
              D(yearOf(args.head)), Literal(div.toDouble)))), LongType)
        }: Expression)
    // to_* interval constructors (verified to_years(2) = INTERVAL 2
    // YEAR, to_days(30) = INTERVAL 30 days): make_interval slots are
    // (years, months, weeks, days, hours, mins, secs)
    def toInterval(name: String, slot: Int) =
      (name,
        info(name, s"$name(n) - INTERVAL constructor (DuckDB semantics)."),
        (args: Seq[Expression]) => { one(name, args)
          val slots = Seq.tabulate(7)(i =>
            if (i == slot) Cast(args.head, IntegerType): Expression else Literal(0))
          builtinBuilder("make_interval")(slots)
        }: Expression)
    Seq(
      divPart("decade", 10, shifted = false),
      divPart("century", 100, shifted = true),
      divPart("millennium", 1000, shifted = true),
      ("era",
        info("era", "era(d) - 1 for CE dates (DuckDB semantics)."),
        (args: Seq[Expression]) => { one("era", args)
          CaseWhen(Seq((LessThanOrEqual(yearOf(args.head), Literal(0)), Literal(0))),
            Some(Literal(1))): Expression }),
      toInterval("to_years", 0), toInterval("to_months", 1),
      toInterval("to_weeks", 2), toInterval("to_days", 3),
      toInterval("to_hours", 4), toInterval("to_minutes", 5),
      toInterval("to_seconds", 6),
      // path parsing (verified: parse_filename('/a/b/c.txt') = 'c.txt',
      // parse_filename(p, true) strips the LAST extension ('a.tar.gz' →
      // 'a.tar'); parse_dirname is the TOPMOST component ('/' absolute,
      // 'a' relative, '' bare file); parse_dirpath drops the last
      // component ('' when there is no '/')
      ("parse_filename",
        info("parse_filename", "parse_filename(p[, trim_ext]) - last path component (DuckDB semantics)."),
        (args: Seq[Expression]) => {
          require(args.length == 1 || args.length == 2,
            s"parse_filename expects 1-2 arguments, got ${args.length}")
          val fname = builtinBuilder("element_at")(
            Seq(builtinBuilder("split")(Seq(args.head, Literal("/"))), Literal(-1)))
          if (args.length == 1) fname
          else CaseWhen(Seq((Cast(args(1), BooleanType),
            builtinBuilder("regexp_replace")(Seq(fname, Literal("\\.[^.]*$"), Literal(""))))),
            Some(fname)): Expression }),
      ("parse_dirname",
        info("parse_dirname", "parse_dirname(p) - topmost path component (DuckDB semantics)."),
        (args: Seq[Expression]) => { one("parse_dirname", args)
          val first = builtinBuilder("element_at")(
            Seq(builtinBuilder("split")(Seq(args.head, Literal("/"))), Literal(1)))
          CaseWhen(Seq(
            (builtinBuilder("startswith")(Seq(args.head, Literal("/"))), Literal("/")),
            (Not(builtinBuilder("contains")(Seq(args.head, Literal("/")))), Literal(""))),
            Some(first)): Expression }),
      ("parse_dirpath",
        info("parse_dirpath", "parse_dirpath(p) - path minus the last component (DuckDB semantics)."),
        (args: Seq[Expression]) => { one("parse_dirpath", args)
          CaseWhen(Seq((Not(builtinBuilder("contains")(Seq(args.head, Literal("/")))),
            Literal(""))),
            Some(builtinBuilder("regexp_replace")(
              Seq(args.head, Literal("/[^/]*$"), Literal(""))))): Expression }))
    }
  }

  /** And with Spark's three-valued NULL logic (plain catalyst And). */
  private def And2(a: Expression, b: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.And(a, b)

  /** Shared body of hamming()/mismatches(). */
  private def hammingExpr(fname: String, args: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, CaseWhen, Cast, EqualTo, LambdaFunction, Length, Literal, Not, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.types.LongType
    require(args.length == 2, s"$fname expects 2 arguments, got ${args.length}")
    val x = UnresolvedNamedLambdaVariable(Seq("__hx"))
    val y = UnresolvedNamedLambdaVariable(Seq("__hy"))
    def chars(e: Expression) = builtinBuilder("split")(Seq(e, Literal("")))
    val diffs = builtinBuilder("zip_with")(Seq(chars(args(0)), chars(args(1)),
      LambdaFunction(Not(EqualTo(x, y)), Seq(x, y))))
    val v = UnresolvedNamedLambdaVariable(Seq("__hv"))
    val cnt = Cast(builtinBuilder("size")(
      Seq(ArrayFilter(diffs, LambdaFunction(v, Seq(v))))), LongType)
    CaseWhen(Seq((Not(EqualTo(Length(args(0)), Length(args(1)))),
      builtinBuilder("raise_error")(Seq(Literal(s"$fname: strings must be of equal length"))))),
      Some(cnt))
  }

  /** `array_distinct(filter(arr, x -> x IS NOT NULL))` — DuckDB's
    * notion of a list's distinct elements (NULLs dropped).
    */
  private def distinctNonNull(arr: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ArrayFilter, IsNotNull, LambdaFunction, UnresolvedNamedLambdaVariable}
    val v = UnresolvedNamedLambdaVariable(Seq("__ld_x"))
    ArrayDistinct(ArrayFilter(arr, LambdaFunction(IsNotNull(v), Seq(v))))
  }

  /** DuckDB/fmt `{}` template → a Concat of literal segments and
    * per-placeholder printf/pad expressions (probe 23).
    *
    * Grammar per placeholder: `{[index][:[[fill]align][sign][#][0]
    * [width][.precision][type]]}` with `{{`/`}}` brace escapes.
    * Alignment semantics pinned against DuckDB: default align is LEFT
    * for strings and RIGHT for numbers (the old one-printf translation
    * right-aligned everything — `{:5}` on a string was silently
    * wrong); `<`/`>` map to printf flags, `^` and custom fill chars
    * become guarded lpad/rpad wrappers (fmt never truncates — a value
    * wider than the field passes through; center puts the extra fill
    * on the RIGHT). `=` (align-after-sign) and nested braces stay
    * loud. fmt forbids mixing auto and manual indexing; so do we.
    */
  private[graft] def fmtFormatExpr(template: Expression,
      fmtArgs: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Concat,
      FormatString, GreaterThanOrEqual, If, Length, Literal, StringLPad,
      StringRPad, Subtract}
    import org.apache.spark.sql.types.{IntegerType, NumericType}
    require(template.foldable, "format: the template must be a string literal")
    val raw = template.eval(null) match {
      case null => throw new IllegalArgumentException("format: template is NULL")
      case u => u.toString
    }
    val segments = scala.collection.mutable.ArrayBuffer.empty[Expression]
    val text = new StringBuilder
    def flushText(): Unit =
      if (text.nonEmpty) { segments += strLit(text.toString); text.clear() }
    var auto = 0
    var sawAuto = false
    var sawManual = false
    val specRe = "^(?:(.)?([<>^=]))?([+\\- ])?(#?)(0?)(\\d*)(\\.\\d+)?([dfsxoeg]?)$".r
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '{' && i + 1 < raw.length && raw.charAt(i + 1) == '{') { text.append('{'); i += 2 }
      else if (c == '}' && i + 1 < raw.length && raw.charAt(i + 1) == '}') { text.append('}'); i += 2 }
      else if (c == '{') {
        val close = raw.indexOf('}', i)
        require(close >= 0, s"format: unbalanced '{' in template: $raw")
        val body = raw.substring(i + 1, close)
        val (idxPart, specPart) = body.indexOf(':') match {
          case -1 => (body, "")
          case k  => (body.substring(0, k), body.substring(k + 1))
        }
        flushText()
        val idx =
          if (idxPart.isEmpty) { sawAuto = true; val k = auto; auto += 1; k }
          else {
            require(idxPart.forall(_.isDigit), s"format: unsupported placeholder {$body}")
            sawManual = true; idxPart.toInt
          }
        require(!(sawAuto && sawManual),
          "format: cannot mix automatic {} and manual {N} indexing (fmt rule)")
        require(idx < fmtArgs.length,
          s"format: placeholder {$body} references argument $idx but only ${fmtArgs.length} given")
        val arg = fmtArgs(idx)
        specPart match {
          case specRe(fill, align, sign, hash, zero, width, prec, ty) =>
            require(align != "=", s"format: '=' alignment unsupported ({$body})")
            val isNumeric =
              if (ty != null && ty.nonEmpty && ty != "s") true
              else if (ty == "s") false
              else try arg.dataType.isInstanceOf[NumericType]
                catch { case _: Throwable => false }
            val effAlign = Option(align).filter(_ != null).filter(_.nonEmpty)
              .getOrElse(if (isNumeric) ">" else "<")
            val effFill = Option(fill).filter(_ != null).filter(_.nonEmpty).getOrElse(" ")
            val tyChar =
              if (ty != null && ty.nonEmpty) ty
              else if (zero == "0" && isNumeric) {
                // {:06} zero-pads after the sign — printf's %0Nd does
                // exactly that for integrals; floats have no printf
                // equivalent (lpad would put zeros before the sign)
                val integral = try {
                  import org.apache.spark.sql.types._
                  arg.dataType match {
                    case ByteType | ShortType | IntegerType | LongType => true
                    case _ => false
                  }
                } catch { case _: Throwable => false }
                require(integral,
                  s"format: zero-padding needs an integral argument or an explicit type ({$body})")
                "d"
              } else "s"
            val signS = Option(sign).filter(_ != null).getOrElse("")
            val precS = Option(prec).filter(_ != null).getOrElse("")
            def pf(spec: String) = FormatString(Seq(strLit(spec), arg): _*)
            if (effAlign == "^" || effFill != " ") {
              // pad wrappers: format the bare value, then guarded pads
              require(width.nonEmpty,
                s"format: fill/center alignment needs a width ({$body})")
              val w = width.toInt
              val base = pf(s"%$signS$hash$precS$tyChar")
              val fillLit = strLit(effFill)
              val wLit = Literal(w)
              val padded = effAlign match {
                case "<" => StringRPad(base, wLit, fillLit)
                case ">" => StringLPad(base, wLit, fillLit)
                case _ => // center: left gets floor(pad/2), extra fill right
                  val leftTarget = Cast(Add(Length(base),
                    Cast(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
                      Subtract(wLit, Length(base)), Literal(2), evalMode =
                        org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY),
                      IntegerType)), IntegerType)
                  StringRPad(StringLPad(base, leftTarget, fillLit), wLit, fillLit)
              }
              segments += If(GreaterThanOrEqual(Length(base), wLit), base, padded)
            } else {
              // printf-expressible: right align is printf's default,
              // '<' is the '-' flag; numeric zero-pad passes through.
              // Width-less left alignment is a no-op — and Java's
              // formatter REJECTS a bare '-' flag (fuzz v4: every
              // served format('{}', <string>) crashed with
              // MissingFormatWidthException before this guard)
              val flag = if (effAlign == "<" && width.nonEmpty) "-" else ""
              segments += pf(s"%$signS$hash$flag$zero$width$precS$tyChar")
            }
          case _ => throw new IllegalArgumentException(
            s"format: unsupported format spec {$body}")
        }
        i = close + 1
      } else { text.append(c); i += 1 }
    }
    flushText()
    if (segments.isEmpty) strLit("")
    else if (segments.length == 1) segments.head
    else Concat(segments.toSeq)
  }

  /** DuckDB's format/printf are NULL-propagating (any NULL argument →
    * NULL result); Spark's format_string renders the string "null".
    */
  private[graft] def nullPropagating(fmtArgs: Seq[Expression],
      result: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{If, IsNull, Literal, Or}
    if (fmtArgs.isEmpty) result
    else {
      val anyNull = fmtArgs.map(IsNull(_): Expression).reduce(Or(_, _))
      If(anyNull, Literal(null, org.apache.spark.sql.types.StringType), result)
    }
  }

  private def strLit(s: String): Expression =
    org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType)

  private def jsonExtractInfo(name: String): ExpressionInfo =
    info(name, s"$name(json, path) - DuckDB JSON extraction ('$$.a', '/a/b', key or index paths).")

  /** DuckDB path spellings → Spark variant paths, at bind time (the
    * path argument is a literal in all DuckDB usage; non-literals fail
    * loudly rather than risking per-row mistranslation).
    */
  private def jsonPathLiteral(e: Expression): Expression = {
    require(e.foldable, "json path must be a literal")
    val v = e.eval(null)
    require(v != null, "json path is NULL")
    val path = e.dataType match {
      case t if t.isInstanceOf[org.apache.spark.sql.types.StringType] =>
        val s = v.toString
        if (s.startsWith("$")) s
        else if (s.startsWith("/"))
          "$" + s.split('/').filter(_.nonEmpty).map { seg =>
            if (seg.forall(_.isDigit)) s"[$seg]" else s".$seg"
          }.mkString
        else "$." + s
      case _ => s"$$[$v]" // integer index (DuckDB: 0-based, like variant)
    }
    strLit(path)
  }

  private def jsonExtractBuilder(asText: Boolean): Seq[Expression] => Expression =
    (args: Seq[Expression]) => {
      require(args.length == 2, s"json extraction expects 2 arguments, got ${args.length}")
      if (!args(1).foldable) {
        // RUNTIME key (`j ->> k` with k a column): the TEXT form maps
        // exactly onto get_json_object with a per-row path (pinned vs
        // DuckDB 2026-08-15: scalars unquote, objects/arrays render as
        // JSON text, missing keys are NULL). The JSON form (`->`)
        // stays loud: it quotes string leaves ('"x"'), and the variant
        // path it compiles to must be a constant — get_json_object
        // cannot reproduce the quoting, so error beats silently-wrong.
        require(asText,
          "json `->` with a runtime key is not supported here - use the text form " +
            "`->>` / json_extract_string (the JSON form needs a constant path)")
        val key = args(1)
        import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
        val path = key.dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            builtinBuilder("concat")(Seq(strLit("$["),
              org.apache.spark.sql.catalyst.expressions.Cast(
                key, org.apache.spark.sql.types.StringType), strLit("]")))
          case _ =>
            builtinBuilder("concat")(Seq(strLit("$."), key))
        }
        builtinBuilder("get_json_object")(Seq(args.head, path))
      } else {
        val parsed = builtinBuilder("try_parse_json")(Seq(args.head))
        val path = jsonPathLiteral(args(1))
        if (asText)
          builtinBuilder("variant_get")(Seq(parsed, path, strLit("string")))
        else
          builtinBuilder("to_json")(Seq(builtinBuilder("variant_get")(Seq(parsed, path))))
      }
    }

  private def dateDiffInfo(name: String): ExpressionInfo =
    info(name, s"$name('unit', start, end) - DuckDB boundary-crossing date difference (BIGINT).")

  private def dateDiffBuilder(name: String): Seq[Expression] => Expression =
    (args: Seq[Expression]) => {
      val quotedUnit = args.length == 3 && args.head.foldable &&
        args.head.dataType.isInstanceOf[org.apache.spark.sql.types.StringType] &&
        args.head.eval(null) != null
      if (quotedUnit)
        graft.functions.BoundaryDateDiff(args.head.eval(null).toString, args(1), args(2))
      else builtinBuilder("datediff")(args)
    }

  private def stringSplitInfo(name: String): ExpressionInfo =
    info(name, s"$name(s, sep) - split on a LITERAL separator (DuckDB semantics; '' splits per character).")

  private def stringSplitBuilder(name: String): Seq[Expression] => Expression =
    (args: Seq[Expression]) => {
      require(args.length == 2, s"$name expects 2 arguments, got ${args.length}")
      import org.apache.spark.sql.catalyst.expressions.{CreateArray, EqualTo, If, StringSplitSQL}
      val emptyLiteralSep = args(1).foldable && {
        val v = args(1).eval(null); v != null && v.toString.isEmpty
      }
      if (emptyLiteralSep)
        builtinBuilder("split")(Seq(args.head, strLit(""))) // per-char, like DuckDB
      else
        If(EqualTo(args.head, strLit("")),
          CreateArray(Seq(strLit(""))), // DuckDB: string_split('', sep) = ['']
          StringSplitSQL(args.head, args(1)))
    }

  /** `coalesce(list, array())` — renders DuckDB's NULL-list-as-empty
    * convention; the analyzer's type coercion widens the empty
    * array<null> literal to the list's element type.
    */
  private def coalesceEmptyArray(e: Expression): Expression =
    builtinBuilder("coalesce")(Seq(e,
      org.apache.spark.sql.catalyst.expressions.CreateArray(Nil)))

  private def builtinBuilder(name: String): Seq[Expression] => Expression =
    org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
      .lookupFunctionBuilder(FunctionIdentifier(name))
      .getOrElse(throw new IllegalStateException(s"builtin $name not found"))

  /** The format argument as a translated JDK-pattern literal. DuckDB
    * usage is overwhelmingly a string literal; non-foldable formats
    * fail loudly rather than risking a per-row mistranslation.
    */
  private def translatedFormat(fn: String, e: Expression): Expression = {
    require(e.foldable, s"$fn: the format argument must be a string literal")
    val raw = e.eval(null) match {
      case null => throw new IllegalArgumentException(s"$fn: format is NULL")
      case u => u.toString
    }
    org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(cFormatToJava(fn, raw)),
      org.apache.spark.sql.types.StringType)
  }

  /** C/Python strftime directives → JDK DateTimeFormatter patterns.
    * Literal runs are single-quoted so pattern letters in plain text
    * can't activate; `%-d`-style no-pad variants map to the single
    * letter; directives whose semantics Spark can't reproduce exactly
    * (locale week numbers, %U/%W/%w, timezone names) throw — an
    * unknown-directive error beats a silently shifted date.
    */
  private[graft] def cFormatToJava(fn: String, fmt: String): String = {
    val sb = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      sb.append("'").append(lit.toString.replace("'", "''")).append("'")
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        var j = i + 1
        val dash = fmt.charAt(j) == '-'
        if (dash && j + 1 < fmt.length) j += 1
        val d = fmt.charAt(j)
        d match {
          case '%' => lit.append('%')
          case 'n' => lit.append('\n')
          case 't' => lit.append('\t')
          case _ =>
            val mapped = (d, dash) match {
              case ('a', _) => "EEE"
              case ('A', _) => "EEEE"
              case ('b', _) | ('h', _) => "MMM"
              case ('B', _) => "MMMM"
              case ('d', false) => "dd"
              case ('d', true) | ('e', _) => "d"
              case ('f', _) => "SSSSSS" // microseconds
              case ('g', _) => "SSS"    // DuckDB: milliseconds
              case ('H', false) => "HH"
              case ('H', true) => "H"
              case ('I', false) => "hh"
              case ('I', true) => "h"
              case ('j', _) => "DDD"
              case ('m', false) => "MM"
              case ('m', true) => "M"
              case ('M', false) => "mm"
              case ('M', true) => "m"
              case ('p', _) => "a"
              case ('S', false) => "ss"
              case ('S', true) => "s"
              case ('y', _) => "yy"
              case ('Y', _) => "yyyy"
              case (other, _) => throw new IllegalArgumentException(
                s"$fn: unsupported directive %$other (supported: %a %A %b %B %d %e %f %g %H %I %j %m %M %p %S %y %Y %% %n %t and %- no-pad variants)")
            }
            flush(); sb.append(mapped)
        }
        i = j + 1
      } else { lit.append(c); i += 1 }
    }
    flush()
    sb.toString
  }

  /** Round-6 batch: the last probe-3 loud omissions implementable
    * with fidelity — bar / age / md5_number_lower. (bitstring and
    * txid_current are UDF-registered in injectInto; md5_number stays
    * omitted: DuckDB's 128-bit little-endian HUGEINT overflows our
    * DECIMAL(38,0) mapping for most digests, and a silently truncated
    * high half is worse than an unknown-function error.)
    */
  private[graft] val registrations4: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Add, Cast, CaseWhen, Divide, GreaterThanOrEqual, LessThanOrEqual, Literal, Multiply, Subtract}
    import org.apache.spark.sql.types._
    def D(e: Expression) = Cast(e, DoubleType)
    Seq(
      // DuckDB bar(x, min, max[, width=80]): fraction clamped to
      // [0,1], rendered at EIGHTH-block resolution — the bar is
      // floor(frac*width*8) eighths = full blocks '█' plus one
      // partial block from ▏▎▍▌▋▊▉ (verified: bar(5,0,10,10) =
      // '█████'; bar(3,0,16,4) = '▊', i.e. 0.75 chars = 6 eighths).
      ("bar",
        info("bar", "bar(x, min, max[, width]) - unicode bar chart cell (DuckDB semantics, width default 80)."),
        (args: Seq[Expression]) => {
          require(args.length == 3 || args.length == 4,
            s"bar expects 3-4 arguments, got ${args.length}")
          val x = D(args(0)); val mn = D(args(1)); val mx = D(args(2))
          val w = if (args.length == 4) D(args(3)) else Literal(80.0)
          val frac = CaseWhen(Seq(
            (LessThanOrEqual(x, mn), Literal(0.0)),
            (GreaterThanOrEqual(x, mx), Literal(1.0))),
            Some(Divide(Subtract(x, mn), Subtract(mx, mn))))
          val eighths = Cast(builtinBuilder("floor")(
            Seq(Multiply(Multiply(frac, w), Literal(8.0)))), IntegerType)
          // eighths/8 is exact in double for the clamped range, so the
          // toward-zero int cast is a true integer division here
          val full = Cast(Divide(D(eighths), Literal(8.0)), IntegerType)
          val part = Subtract(eighths, Multiply(full, Literal(8)))
          val partial = builtinBuilder("element_at")(Seq(
            builtinBuilder("array")(Seq(Literal(""), Literal("▏"), Literal("▎"),
              Literal("▍"), Literal("▌"), Literal("▋"), Literal("▊"),
              Literal("▉"))),
            Add(part, Literal(1))))
          builtinBuilder("concat")(Seq(
            builtinBuilder("repeat")(Seq(Literal("█"), full)), partial))
        }),
      // age: the symbolic field-wise difference, NOT a flat delta —
      // graft.functions.AgeInterval has the borrow rules; the 1-arg
      // form is vs today's midnight (DuckDB/Postgres semantics)
      ("age",
        info("age", "age(end[, start]) - symbolic calendar interval difference (DuckDB/Postgres semantics; 1-arg is vs today's midnight)."),
        (args: Seq[Expression]) => {
          require(args.length == 1 || args.length == 2,
            s"age expects 1-2 arguments, got ${args.length}")
          def ts(e: Expression) = Cast(e, TimestampType)
          if (args.length == 2) graft.functions.AgeInterval(ts(args(0)), ts(args(1)))
          else graft.functions.AgeInterval(
            ts(builtinBuilder("current_date")(Nil)), ts(args(0)))
        }),
      // md5_number_lower: DuckDB loads the FIRST 8 digest bytes as a
      // little-endian unsigned 64-bit integer (verified:
      // md5_number_lower('abc') = 12704604231530709392). Byte-reversed
      // hex through conv(_,16,10) — conv is unsigned-64 exactly like
      // the Load<uint64_t>; UBIGINT maps to DECIMAL(20,0) per the
      // type-alias table.
      ("md5_number_lower",
        info("md5_number_lower", "md5_number_lower(s) - lower 64 bits of the MD5 digest, little-endian (DuckDB's UBIGINT as DECIMAL(20,0))."),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"md5_number_lower expects 1 argument, got ${args.length}")
          val h = builtinBuilder("md5")(Seq(Cast(args.head, StringType)))
          val leHex = builtinBuilder("concat")(
            (0 until 8).reverse.map(i =>
              builtinBuilder("substring")(Seq(h, Literal(i * 2 + 1), Literal(2))): Expression))
          Cast(builtinBuilder("conv")(Seq(leHex, Literal(16), Literal(10))), DecimalType(20, 0))
        }))
  }

  /** Round-6 second batch (probe5 closures): the list/vector/JSON/
    * regex/date function tier a migrating user reaches next. Every
    * entry reproduces DuckDB's documented semantics; corner notes per
    * entry. (json_structure and bitstring_agg stay loud omissions:
    * the first renders DuckDB's type-template vocabulary, the second
    * needs a BIT accumulator — both would be invented behavior.)
    */
  private[graft] val registrations5: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Add, ArrayContains, ArrayFilter, ArrayForAll, Cast, CaseWhen, Coalesce, CreateArray, CreateNamedStruct, ElementAt, Exp, Expression => Expr, IsNotNull, IsNull, LambdaFunction, Literal, Multiply, Or, RLike, Size, Slice, SortArray, Sqrt, Subtract, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
    import org.apache.spark.sql.types._
    def one(n: String, a: Seq[Expression]): Unit =
      require(a.length == 1, s"$n expects 1 argument, got ${a.length}")
    def two(n: String, a: Seq[Expression]): Unit =
      require(a.length == 2, s"$n expects 2 arguments, got ${a.length}")
    def lv(n: String) = UnresolvedNamedLambdaVariable(Seq(n))
    def agg(e: Expression): Expression = e match {
      case f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction =>
        f.toAggregateExpression()
      case other => other
    }
    // Σ over zip_with — the double-precision fold shared by the
    // array_* vector functions (operands cast to DOUBLE first)
    def fold2(a: Expression, b: Expression)(f: (Expression, Expression) => Expression): Expression = {
      val x = lv("__f2x"); val y = lv("__f2y")
      val acc = lv("__f2a"); val v = lv("__f2v")
      builtinBuilder("aggregate")(Seq(
        builtinBuilder("zip_with")(Seq(a, b,
          LambdaFunction(f(Cast(x, DoubleType), Cast(y, DoubleType)), Seq(x, y)))),
        Literal(0.0),
        LambdaFunction(Add(acc, v), Seq(acc, v))))
    }
    def containsInfo(n: String) =
      info(n, s"$n(l, v) - true/false membership; NULL only on NULL inputs (DuckDB semantics).")
    // NOT a RuntimeReplaceable dispatch: a lambda-bearing list operand
    // (list_contains(list_transform(..), v)) leaves the cached lazy
    // replacement unresolved ("Cannot resolve the runtime replaceable
    // expression", v9 seed-156 sweep) — the inline tree analyzes fine.
    // A null-TYPED needle (which ArrayContains rejects at analysis) is
    // handled for the overwhelmingly common LITERAL NULL spelling by
    // folding to NULL here; a null-typed non-literal still fails loud.
    val duckContains: Seq[Expression] => Expression = { args =>
      two("list_contains", args)
      if (args.exists(a => a.isInstanceOf[Literal] && a.dataType == NullType))
        Literal.create(null, BooleanType)
      else
        CaseWhen(Seq((Or(IsNull(args(0)), IsNull(args(1))),
          Literal.create(null, BooleanType))),
          Some(Coalesce(Seq(ArrayContains(args(0), args(1)), Literal(false)))))
    }
    def dot(a: Expression, b: Expression): Expression =
      fold2(a, b)(Multiply(_, _))
    Seq(
      // DuckDB list_reduce has NO seed: the first element seeds the
      // fold (list_reduce([1,2,3], f) = f(f(1,2),3); empty list
      // errors — ANSI element_at reproduces that loudly)
      ("list_reduce",
        info("list_reduce", "list_reduce(l, (a, b) -> ...) - fold seeded by the FIRST element (DuckDB semantics; empty list errors)."),
        (args: Seq[Expression]) => { two("list_reduce", args)
          val l = args.head
          builtinBuilder("aggregate")(Seq(
            Slice(l, Literal(2), Subtract(Size(l), Literal(1))),
            ElementAt(l, Literal(1)), args(1)))
        }),
      // list_zip pads the shorter list with NULL and names the struct
      // fields list_1/list_2 exactly like DuckDB
      ("list_zip",
        info("list_zip", "list_zip(a, b) - element-wise zip into {list_1, list_2} structs (NULL-padded)."),
        (args: Seq[Expression]) => { two("list_zip", args)
          val x = lv("__lzx"); val y = lv("__lzy")
          builtinBuilder("zip_with")(Seq(args(0), args(1),
            LambdaFunction(CreateNamedStruct(Seq(
              Literal("list_1"), x, Literal("list_2"), y)), Seq(x, y))))
        }),
      // first non-NULL element (get() is 0-based and NULL-safe, so an
      // all-NULL or empty list yields NULL like DuckDB)
      ("list_any_value",
        info("list_any_value", "list_any_value(l) - first non-NULL element."),
        (args: Seq[Expression]) => { one("list_any_value", args)
          val v = lv("__lav")
          builtinBuilder("get")(Seq(
            ArrayFilter(args.head, LambdaFunction(IsNotNull(v), Seq(v))),
            Literal(0)))
        }),
      // list_count counts NON-NULL elements (it is list_aggregate's
      // 'count'), BIGINT like DuckDB
      ("list_count",
        info("list_count", "list_count(l) - number of non-NULL elements (BIGINT)."),
        (args: Seq[Expression]) => { one("list_count", args)
          val v = lv("__lcv")
          Cast(Size(ArrayFilter(args.head,
            LambdaFunction(IsNotNull(v), Seq(v)))), LongType)
        }),
      // NULL list in → NULL out; NULL ELEMENTS are ignored (DuckDB:
      // list_has_any([1], [NULL]) = false) — arrays_overlap alone
      // returns NULL there, hence the coalesce under a null-input guard
      ("list_has_any",
        info("list_has_any", "list_has_any(a, b) - true when the lists share a non-NULL element."),
        (args: Seq[Expression]) => { two("list_has_any", args)
          CaseWhen(Seq((Or(IsNull(args(0)), IsNull(args(1))),
            Literal.create(null, BooleanType))),
            Some(Coalesce(Seq(
              builtinBuilder("arrays_overlap")(Seq(args(0), args(1))),
              Literal(false)))))
        }),
      // DuckDB list_intersect: distinct shared elements. DuckDB's own
      // output ORDER is unspecified (hash-set iteration — verified
      // [1,2,3]∩[2,3,4] = [3,2] but [3,2,2,1]∩[2,3] = [2,3]); ours is
      // Spark's first-list order, so DialectSpec pins through list_sort
      ("list_intersect",
        info("list_intersect", "list_intersect(a, b) - distinct elements present in both lists (order unspecified, as DuckDB's)."),
        (args: Seq[Expression]) => { two("list_intersect", args)
          builtinBuilder("array_intersect")(args) }),
      // DuckDB list_contains (= array_contains = array_has = list_has
      // there): NULL list or NULL needle -> NULL, but an ABSENT needle
      // returns FALSE even when the list carries NULL elements —
      // Spark's ArrayContains returns NULL there (SQL three-valued).
      // Grammar-v9 finding over the parquet-read nested fixture
      // (round 15); the plain alias hid the divergence for 8 rounds.
      ("list_contains", containsInfo("list_contains"), duckContains),
      ("array_contains", containsInfo("array_contains"), duckContains),
      ("array_has", containsInfo("array_has"), duckContains),
      ("list_has", containsInfo("list_has"), duckContains),
      ("list_has_all",
        info("list_has_all", "list_has_all(a, b) - true when every non-NULL element of b is in a (empty b -> true)."),
        (args: Seq[Expression]) => { two("list_has_all", args)
          val v = lv("__lhv"); val w = lv("__lhw")
          ArrayForAll(
            ArrayFilter(args(1), LambdaFunction(IsNotNull(v), Seq(v))),
            LambdaFunction(Coalesce(Seq(
              ArrayContains(args(0), w), Literal(false))), Seq(w)))
        }),
      ("array_inner_product",
        info("array_inner_product", "array_inner_product(a, b) - dot product as DOUBLE."),
        (args: Seq[Expression]) => { two("array_inner_product", args)
          dot(args(0), args(1)) }),
      ("list_inner_product",
        info("list_inner_product", "list_inner_product(a, b) - dot product as DOUBLE."),
        (args: Seq[Expression]) => { two("list_inner_product", args)
          dot(args(0), args(1)) }),
      // DuckDB ships list_dot_product as an alias of list_inner_product
      ("list_dot_product",
        info("list_dot_product", "list_dot_product(a, b) - dot product as DOUBLE (alias of list_inner_product)."),
        (args: Seq[Expression]) => { two("list_dot_product", args)
          dot(args(0), args(1)) }),
      ("array_distance",
        info("array_distance", "array_distance(a, b) - Euclidean distance as DOUBLE."),
        (args: Seq[Expression]) => { two("array_distance", args)
          Sqrt(fold2(args(0), args(1))((x, y) =>
            Multiply(Subtract(x, y), Subtract(x, y)))) }),
      ("list_distance",
        info("list_distance", "list_distance(a, b) - Euclidean distance as DOUBLE."),
        (args: Seq[Expression]) => { two("list_distance", args)
          Sqrt(fold2(args(0), args(1))((x, y) =>
            Multiply(Subtract(x, y), Subtract(x, y)))) }),
      ("array_cosine_similarity",
        info("array_cosine_similarity", "array_cosine_similarity(a, b) - cosine similarity as DOUBLE."),
        (args: Seq[Expression]) => { two("array_cosine_similarity", args)
          org.apache.spark.sql.catalyst.expressions.Divide(
            dot(args(0), args(1)),
            Multiply(Sqrt(dot(args(0), args(0))), Sqrt(dot(args(1), args(1)))))
        }),
      ("list_cosine_similarity",
        info("list_cosine_similarity", "list_cosine_similarity(a, b) - cosine similarity as DOUBLE."),
        (args: Seq[Expression]) => { two("list_cosine_similarity", args)
          org.apache.spark.sql.catalyst.expressions.Divide(
            dot(args(0), args(1)),
            Multiply(Sqrt(dot(args(0), args(0))), Sqrt(dot(args(1), args(1)))))
        }),
      // grade_up: 1-based indices that would sort the list ascending
      // (verified list_grade_up([30,10,20]) = [2,3,1]); sort the
      // (value, index) structs — fieldwise struct ordering makes index
      // the deterministic tie-break, exactly DuckDB's stable sort
      ("list_grade_up",
        info("list_grade_up", "list_grade_up(l) - 1-based indices that sort l ascending."),
        (args: Seq[Expression]) => { one("list_grade_up", args)
          val l = args.head
          val v = lv("__lgv"); val i = lv("__lgi"); val st = lv("__lgs")
          val zipped = builtinBuilder("zip_with")(Seq(l,
            builtinBuilder("sequence")(Seq(Literal(1), Size(l))),
            LambdaFunction(CreateNamedStruct(Seq(
              Literal("v"), v, Literal("i"), i)), Seq(v, i))))
          val graded = builtinBuilder("transform")(Seq(
            SortArray(zipped, Literal(true)),
            LambdaFunction(UnresolvedExtractValue(st, Literal("i")), Seq(st))))
          // sequence(1, 0) is DESCENDING in Spark, so the empty list
          // must short-circuit (DuckDB: grade_up([]) = [])
          CaseWhen(Seq((org.apache.spark.sql.catalyst.expressions.EqualTo(
            Size(l), Literal(0)),
            Cast(CreateArray(Nil), ArrayType(IntegerType)))), Some(graded))
        }),
      ("map_contains",
        info("map_contains", "map_contains(m, k) - true when the map has the key."),
        (args: Seq[Expression]) => { two("map_contains", args)
          builtinBuilder("map_contains_key")(args) }),
      // JSON construction: keys must be literals (DuckDB allows
      // runtime keys; non-foldable keys fail loudly here)
      ("json_object",
        info("json_object", "json_object(k1, v1, ...) - JSON object from key/value pairs."),
        (args: Seq[Expression]) => {
          require(args.length % 2 == 0, s"json_object expects key/value pairs, got ${args.length} arguments")
          builtinBuilder("to_json")(Seq(CreateNamedStruct(args)))
        }),
      ("json_array",
        info("json_array", "json_array(v1, ...) - JSON array (elements must share a type here; DuckDB also allows mixed)."),
        (args: Seq[Expression]) =>
          builtinBuilder("to_json")(Seq(CreateArray(args))) ),
      ("json_valid",
        info("json_valid", "json_valid(s) - true when s parses as JSON."),
        (args: Seq[Expression]) => { one("json_valid", args)
          IsNotNull(builtinBuilder("get_json_object")(Seq(args.head, Literal("$")))) }),
      // DuckDB's json_array_length returns 0 for any VALID non-array
      // JSON (objects, scalars, 'null') and ERRORS on malformed input;
      // Spark's builtin returns NULL for both (round-13 fuzz v4). The
      // 2-arg path form follows DuckDB: missing path -> NULL, non-array
      // at the path -> 0.
      ("json_array_length",
        info("json_array_length", "json_array_length(j[, path]) - array length; 0 for valid non-array JSON, NULL for NULL/missing path, loud on malformed (DuckDB)."),
        (args: Seq[Expression]) => {
          require(args.length == 1 || args.length == 2,
            s"json_array_length expects 1-2 arguments, got ${args.length}")
          val doc = args.head
          val target =
            if (args.length == 2) builtinBuilder("get_json_object")(Seq(doc, args(1)))
            else doc
          val valid = IsNotNull(builtinBuilder("get_json_object")(Seq(doc, Literal("$"))))
          CaseWhen(Seq(
            (IsNull(doc), Literal(null, NullType)),
            (org.apache.spark.sql.catalyst.expressions.Not(valid),
              builtinBuilder("raise_error")(Seq(Literal(
              "json_array_length: malformed JSON input (DuckDB raises Invalid Input Error here)")))),
            (IsNull(target), Literal(null, NullType))),
            Some(builtinBuilder("coalesce")(Seq(
              builtinBuilder("json_array_length")(Seq(target)), Literal(0))))
          )
        }),
      ("regexp_full_match",
        info("regexp_full_match", "regexp_full_match(s, re) - whole-string regex match."),
        (args: Seq[Expression]) => { two("regexp_full_match", args)
          RLike(args(0), org.apache.spark.sql.catalyst.expressions.Concat(Seq(
            Literal("^(?:"), args(1), Literal(")$"))))
        }),
      ("sha256",
        info("sha256", "sha256(s) - SHA-256 hex digest."),
        (args: Seq[Expression]) => { one("sha256", args)
          builtinBuilder("sha2")(Seq(args.head, Literal(256))) }),
      // geometric mean via exp(avg(ln)) — DuckDB's geomean; zero or
      // negative inputs produce the same NaN/-Inf family there
      ("geomean",
        info("geomean", "geomean(x) - geometric mean as DOUBLE."),
        (args: Seq[Expression]) => { one("geomean", args)
          Exp(agg(builtinBuilder("avg")(Seq(
            builtinBuilder("ln")(Seq(Cast(args.head, DoubleType))))))) }),
      ("geometric_mean",
        info("geometric_mean", "geometric_mean(x) - geometric mean as DOUBLE."),
        (args: Seq[Expression]) => { one("geometric_mean", args)
          Exp(agg(builtinBuilder("avg")(Seq(
            builtinBuilder("ln")(Seq(Cast(args.head, DoubleType))))))) }),
      // DuckDB's skewness/kurtosis are SAMPLE-corrected estimators with
      // small-n NULLs (skewness needs n>=3, kurtosis n>=4; zero-variance
      // groups are NULL on both engines) where Spark's builtins are the
      // population forms (round-13 fuzz v4; d_moments documents the
      // difference and computes portable moments by hand). Textbook
      // corrections over the population values:
      //   skew_samp = g1 * sqrt(n(n-1)) / (n-2)
      //   kurt_samp = ((n+1)*g2 + 6) * (n-1) / ((n-2)(n-3))
      // OVER-window usage cannot route through these composites (Spark
      // can't window an arithmetic-of-aggregates) — the serving plane
      // rebuilds the same correction over per-spec window aggregates
      // in Dialect.sqlServed (momentWin).
      ("skewness",
        info("skewness", "skewness(x) - sample skewness (DuckDB's estimator; NULL when n < 3)."),
        (args: Seq[Expression]) => { one("skewness", args)
          import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Divide, LessThan, Literal, Multiply, Sqrt, Subtract}
          val x = Cast(args.head, DoubleType)
          val n = Cast(agg(builtinBuilder("count")(Seq(x))), DoubleType)
          val g1 = agg(builtinBuilder("skewness")(Seq(x)))
          val corrected = Multiply(g1,
            Divide(Sqrt(Multiply(n, Subtract(n, Literal(1.0)))), Subtract(n, Literal(2.0))))
          CaseWhen(Seq((LessThan(n, Literal(3.0)), Literal(null, DoubleType))),
            Some(builtinBuilder("nanvl")(Seq(corrected, Literal(null, DoubleType))))) }),
      ("kurtosis",
        info("kurtosis", "kurtosis(x) - sample excess kurtosis (DuckDB's estimator; NULL when n < 4)."),
        (args: Seq[Expression]) => { one("kurtosis", args)
          import org.apache.spark.sql.catalyst.expressions.{Add, CaseWhen, Divide, LessThan, Literal, Multiply, Subtract}
          val x = Cast(args.head, DoubleType)
          val n = Cast(agg(builtinBuilder("count")(Seq(x))), DoubleType)
          val g2 = agg(builtinBuilder("kurtosis")(Seq(x)))
          val corrected = Divide(
            Multiply(Add(Multiply(Add(n, Literal(1.0)), g2), Literal(6.0)),
              Subtract(n, Literal(1.0))),
            Multiply(Subtract(n, Literal(2.0)), Subtract(n, Literal(3.0))))
          CaseWhen(Seq((LessThan(n, Literal(4.0)), Literal(null, DoubleType))),
            Some(builtinBuilder("nanvl")(Seq(corrected, Literal(null, DoubleType))))) }),
      ("kurtosis_pop",
        info("kurtosis_pop", "kurtosis_pop(x) - population excess kurtosis (Spark's builtin IS this estimator)."),
        (args: Seq[Expression]) => { one("kurtosis_pop", args)
          builtinBuilder("kurtosis")(Seq(Cast(args.head, DoubleType))) }),
      // Spark's Atan2 adds 0.0 to both operands, normalizing a -0.0
      // argument to +0.0 — atan2(-0.0, -1) read +pi where DuckDB (IEEE)
      // says -pi (round-13 fuzz v4). Call java.lang.Math.atan2 raw.
      ("atan2",
        info("atan2", "atan2(y, x) - IEEE atan2, -0.0 preserved (DuckDB)."),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"atan2 expects 2 arguments, got ${args.length}")
          org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
            classOf[java.lang.Math], DoubleType, "atan2",
            Seq(Cast(args(0), DoubleType), Cast(args(1), DoubleType)),
            inputTypes = Seq(DoubleType, DoubleType),
            propagateNull = true, returnNullable = false)
        }),
      // Spark's Corr divides by sqrt(M2x*M2y) INSIDE evaluateExpression,
      // so a zero-variance or single-pair group throws DIVIDE_BY_ZERO
      // under ANSI (round-13 fuzz v4) where DuckDB returns NULL — and
      // the nullOnDivideByZero constructor flag only guards the n==1
      // arm, not the n>=2 zero-variance division. Build the
      // coefficient from guarded primitives instead: covar_samp over
      // the pairwise-complete columns divided by the stddev product,
      // with the CASE keeping the division unreachable when the
      // denominator is 0/NULL. The OVER form rebuilds the same shape
      // over per-spec window aggregates (Dialect.sqlServed momentWin).
      ("corr",
        info("corr", "corr(y, x) - Pearson correlation, NULL for n<2 or zero variance (DuckDB)."),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"corr expects 2 arguments, got ${args.length}")
          import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Divide, EqualTo, If, IsNull, Literal, Multiply, Or}
          val y = Cast(args(0), DoubleType)
          val x = Cast(args(1), DoubleType)
          val nullD = Literal(null, DoubleType)
          val xp = If(IsNull(y), nullD, x)
          val yp = If(IsNull(x), nullD, y)
          val num = agg(builtinBuilder("covar_samp")(Seq(yp, xp)))
          val den = Multiply(
            agg(builtinBuilder("stddev_samp")(Seq(xp))),
            agg(builtinBuilder("stddev_samp")(Seq(yp))))
          CaseWhen(Seq(
            (Or(IsNull(den), EqualTo(den, Literal(0.0))), nullD)),
            Some(builtinBuilder("nanvl")(Seq(Divide(num, den), nullD))))
        }),
      // DuckDB's list form: date_part(['year','month'], d) returns a
      // struct keyed by the requested parts; scalar form delegates
      ("date_part",
        info("date_part", "date_part(part | [parts], x) - scalar part, or a struct of parts for the list form (DuckDB semantics)."),
        (args: Seq[Expression]) => { two("date_part", args)
          args.head match {
            case CreateArray(parts, _) if parts.nonEmpty && parts.forall(_.foldable) =>
              CreateNamedStruct(parts.flatMap { p =>
                val name = String.valueOf(p.eval(null))
                Seq(Literal(name),
                  builtinBuilder("date_part")(Seq(Literal(name), args(1))): Expr)
              })
            // DuckDB day numbering for the FUNCTION form too (the
            // extract() spelling already rewrites textually): dow is
            // Sunday=0, isodow Monday=1..7 — Spark's date_part('dow')
            // is 1-based (round-13 fuzz)
            case p if p.foldable && p.eval(null) != null &&
                Seq("dow", "weekday").contains(String.valueOf(p.eval(null)).toLowerCase) =>
              Subtract(builtinBuilder("dayofweek")(Seq(args(1))), Literal(1))
            case p if p.foldable && p.eval(null) != null &&
                String.valueOf(p.eval(null)).equalsIgnoreCase("isodow") =>
              Add(builtinBuilder("weekday")(Seq(args(1))), Literal(1))
            // yearweek = ISO year * 100 + ISO week (fuzz v6; Spark's
            // extract has no such field but carries both halves)
            case p if p.foldable && p.eval(null) != null &&
                String.valueOf(p.eval(null)).equalsIgnoreCase("yearweek") =>
              Add(Multiply(builtinBuilder("date_part")(
                  Seq(Literal("yearofweek"), args(1))), Literal(100)),
                builtinBuilder("weekofyear")(Seq(args(1))))
            case _ => builtinBuilder("date_part")(args)
          }
        }),
      ("repeat",
        info("repeat", "repeat(s|l, n) - string repeat, or list concatenation repeat (DuckDB's overload)."),
        (args: Seq[Expression]) => { two("repeat", args)
          graft.functions.RepeatDispatch(args(0), args(1)) }),
      ("datetrunc",
        info("datetrunc", "datetrunc(part, x) - DATE for date-grain parts, TIMESTAMP for time-grain (DuckDB)."),
        (args: Seq[Expression]) => { two("datetrunc", args)
          graft.functions.DateTruncDispatch(args(0), args(1)) }),
      // date_trunc itself carries the same part-dispatched result type
      // (round-13 fuzz: Spark's builtin is TIMESTAMP-always, DuckDB
      // returns DATE for year/quarter/month/week/day grains)
      ("date_trunc",
        info("date_trunc", "date_trunc(part, x) - DATE for date-grain parts, TIMESTAMP for time-grain (DuckDB)."),
        (args: Seq[Expression]) => { two("date_trunc", args)
          graft.functions.DateTruncDispatch(args(0), args(1)) }),
      ("datesub",
        info("datesub", "datesub(part, start, end) - COMPLETE part units between start and end (DuckDB semantics; date_diff counts crossings)."),
        (args: Seq[Expression]) => {
          require(args.length == 3, s"datesub expects 3 arguments, got ${args.length}")
          graft.functions.DateSubParts(args(0),
            Cast(args(1), TimestampType), Cast(args(2), TimestampType))
        }),
      // 3-arg form is DuckDB's datesub alias; the 2-arg form stays
      // Spark's own date_sub(date, days)
      ("date_sub",
        info("date_sub", "date_sub(part, start, end) - DuckDB datesub; date_sub(date, n) stays Spark's."),
        (args: Seq[Expression]) => {
          if (args.length == 3)
            graft.functions.DateSubParts(args(0),
              Cast(args(1), TimestampType), Cast(args(2), TimestampType))
          else builtinBuilder("date_sub")(args)
        }))
  }

  /** Round-8 probe6 batch: list ordering/selection sugar, top-n
    * aggregate forms, temporal series/arithmetic dispatch, and the
    * reversed strftime argument order. Semantics pinned against DuckDB
    * (see DialectSpec "probe6 batch").
    */
  private[graft] val registrations6: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Add, Cast, CaseWhen, Expression => Expr, GreaterThanOrEqual, LambdaFunction, Literal, Not, Size, SortArray, Subtract, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
    import org.apache.spark.sql.types._
    def lv(n: String) = UnresolvedNamedLambdaVariable(Seq(n))
    def aggE(e: Expression): Expression = e match {
      case f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction =>
        f.toAggregateExpression()
      case other => other
    }
    def collected(x: Expression) = aggE(builtinBuilder("collect_list")(Seq(x)))
    def strLit(e: Expression, fn: String): String = e match {
      case Literal(s, StringType) if s != null => s.toString.trim.toUpperCase
      case _ => throw new IllegalArgumentException(s"$fn: ordering arguments must be string literals")
    }
    def isIntervalish(e: Expression): Boolean =
      try e.dataType match {
        case _: DayTimeIntervalType | _: YearMonthIntervalType => true
        case org.apache.spark.sql.types.CalendarIntervalType => true
        case _ => false
      } catch { case _: Throwable => false }
    // temporal series: Spark sequence handles date/timestamp + interval
    // steps natively and inclusively; DuckDB's range is end-EXCLUSIVE,
    // so the stop value (present only when the step lands exactly) is
    // filtered back out
    def temporalSeries(exclusive: Boolean)(args: Seq[Expression]): Expression = {
      val seq = builtinBuilder("sequence")(args)
      if (!exclusive) seq
      else {
        val x = lv("__ts_x")
        builtinBuilder("filter")(Seq(seq,
          LambdaFunction(Not(org.apache.spark.sql.catalyst.expressions.EqualTo(x, args(1))), Seq(x))))
      }
    }
    def topN(fn: String, desc: Boolean)(args: Seq[Expression]): Expression =
      if (args.length != 2) builtinBuilder(fn)(args)
      else {
        // min(x, n)/max(x, n): LIST of the n smallest/largest non-NULL
        // values (DuckDB). n must be a literal; sort asc then slice,
        // reversed for max.
        val sorted = SortArray(collected(args(0)), Literal(!desc))
        builtinBuilder("slice")(Seq(sorted, Literal(1), args(1)))
      }
    def argTopN(fn: String, target: String, desc: Boolean)(args: Seq[Expression]): Expression =
      if (args.length == 2) {
        // DuckDB's arg_min/arg_max (and their min_by/max_by aliases)
        // SKIP rows whose ARG is NULL — arg_max(s, rn) over
        // {(1,'a'),(3,NULL)} is 'a' — where Spark's max_by returns the
        // NULL at the winning key (round-13 fuzz v4). NULLing the key
        // when the arg is NULL makes the builtin skip those rows;
        // all-NULL args yield NULL on both engines. DuckDB's ordered
        // first/last/arbitrary KEEP NULL args — Dialect's ordered-agg
        // rewrite targets graft_minby_raw/graft_maxby_raw for those.
        val key = CaseWhen(
          Seq((org.apache.spark.sql.catalyst.expressions.IsNull(args(0)),
            Literal(null, org.apache.spark.sql.types.NullType))),
          Some(args(1)))
        builtinBuilder(target)(Seq(args(0), key))
      }
      else if (args.length != 3) builtinBuilder(target)(args)
      else {
        // arg_min(x, val, n)/arg_max: LIST of x for the n smallest/
        // largest val; (val, x) struct sort keeps ties deterministic
        val st = lv("__atn_s")
        val pairs = collected(org.apache.spark.sql.catalyst.expressions.CreateNamedStruct(
          Seq(Literal("v"), args(1), Literal("x"), args(0))))
        val sorted = SortArray(pairs, Literal(!desc))
        val sliced = builtinBuilder("slice")(Seq(sorted, Literal(1), args(2)))
        builtinBuilder("transform")(Seq(sliced,
          LambdaFunction(UnresolvedExtractValue(st, Literal("x")), Seq(st))))
      }
    Seq(
      // full list_sort arity (the plain alias covered 1-arg only).
      // DuckDB's default null order is NULLS LAST in BOTH directions
      // (verified [1,3,NULL] asc / [3,1,NULL] desc).
      ("list_sort",
        info("list_sort", "list_sort(l[, 'ASC'|'DESC'[, 'NULLS FIRST'|'NULLS LAST']]) - DuckDB list sort."),
        (args: Seq[Expression]) => {
          require(args.nonEmpty && args.length <= 3,
            s"list_sort expects 1-3 arguments, got ${args.length}")
          if (args.length == 1) builtinBuilder("array_sort")(args)
          else {
            val dir = strLit(args(1), "list_sort")
            val nulls = if (args.length == 3) strLit(args(2), "list_sort") else "NULLS LAST"
            (dir, nulls) match {
              case ("ASC", "NULLS LAST")   => builtinBuilder("array_sort")(Seq(args.head))
              case ("ASC", "NULLS FIRST")  => SortArray(args.head, Literal(true))
              case ("DESC", "NULLS LAST")  => SortArray(args.head, Literal(false))
              case ("DESC", "NULLS FIRST") =>
                builtinBuilder("reverse")(Seq(builtinBuilder("array_sort")(Seq(args.head))))
              case other => throw new IllegalArgumentException(
                s"list_sort: unsupported ordering $other")
            }
          }
        }),
      ("list_reverse_sort",
        info("list_reverse_sort", "list_reverse_sort(l) - descending sort, NULLS LAST (DuckDB)."),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"list_reverse_sort expects 1 argument, got ${args.length}")
          SortArray(args.head, Literal(false))
        }),
      ("array_slice",
        info("array_slice", "array_slice(l, a, b) - alias of list_slice (1-based, end-inclusive)."),
        (args: Seq[Expression]) =>
          registrations.find(_._1 == "list_slice").get._3(args)),
      ("list_select",
        info("list_select", "list_select(l, idxs) - elements at the 1-based indices; out-of-range -> NULL (DuckDB)."),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"list_select expects 2 arguments, got ${args.length}")
          val i = lv("__lsel_i")
          builtinBuilder("transform")(Seq(args(1),
            LambdaFunction(builtinBuilder("get")(Seq(args(0),
              Cast(Subtract(i, Literal(1)), IntegerType))), Seq(i))))
        }),
      ("list_where",
        info("list_where", "list_where(l, mask) - elements whose mask entry is true (DuckDB)."),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"list_where expects 2 arguments, got ${args.length}")
          val x = lv("__lw_x"); val m = lv("__lw_m"); val st = lv("__lw_s")
          val zipped = builtinBuilder("zip_with")(Seq(args(0), args(1),
            LambdaFunction(org.apache.spark.sql.catalyst.expressions.CreateNamedStruct(
              Seq(Literal("x"), x, Literal("m"), m)), Seq(x, m))))
          val kept = builtinBuilder("filter")(Seq(zipped,
            LambdaFunction(UnresolvedExtractValue(st, Literal("m")), Seq(st))))
          builtinBuilder("transform")(Seq(kept,
            LambdaFunction(UnresolvedExtractValue(st, Literal("x")), Seq(st))))
        }),
      ("list_resize",
        info("list_resize", "list_resize(l, n[, fill]) - truncate or pad to n (default fill NULL, DuckDB)."),
        (args: Seq[Expression]) => {
          require(args.length == 2 || args.length == 3,
            s"list_resize expects 2-3 arguments, got ${args.length}")
          val l = args(0); val n = args(1)
          val fill = if (args.length == 3) args(2) else Literal(null, NullType)
          val truncated = builtinBuilder("slice")(Seq(l, Literal(1), n))
          val padded = builtinBuilder("concat")(Seq(l,
            builtinBuilder("array_repeat")(Seq(fill, Subtract(Cast(n, IntegerType), Size(l))))))
          CaseWhen(Seq((GreaterThanOrEqual(Size(l), Cast(n, IntegerType)), truncated)), Some(padded))
        }),
      // top-n aggregate forms; 1-/2-arg forms fall through to builtins
      ("min", info("min", "min(x[, n]) - minimum, or LIST of the n smallest (DuckDB)."),
        (args: Seq[Expression]) => topN("min", desc = false)(args)),
      ("max", info("max", "max(x[, n]) - maximum, or LIST of the n largest (DuckDB)."),
        (args: Seq[Expression]) => topN("max", desc = true)(args)),
      ("arg_min", info("arg_min", "arg_min(x, val[, n]) - x at the minimum val, or LIST for the n smallest."),
        (args: Seq[Expression]) => argTopN("arg_min", "min_by", desc = false)(args)),
      ("arg_max", info("arg_max", "arg_max(x, val[, n]) - x at the maximum val, or LIST for the n largest."),
        (args: Seq[Expression]) => argTopN("arg_max", "max_by", desc = true)(args)),
      ("min_by", info("min_by", "min_by(x, val[, n]) - DuckDB alias surface of arg_min."),
        (args: Seq[Expression]) => argTopN("min_by", "min_by", desc = false)(args)),
      ("max_by", info("max_by", "max_by(x, val[, n]) - DuckDB alias surface of arg_max."),
        (args: Seq[Expression]) => argTopN("max_by", "max_by", desc = true)(args)),
      // raw Spark min_by/max_by (NULL args KEPT): the internal target
      // of Dialect's ordered-agg rewrite — DuckDB's first/last/
      // arbitrary(x ORDER BY k) keep a NULL x at the winning k, unlike
      // its arg_min/arg_max (round-13 fuzz v4)
      ("graft_minby_raw", info("graft_minby_raw", "graft_minby_raw(x, val) - Spark min_by, NULL args kept (internal)."),
        (args: Seq[Expression]) => builtinBuilder("min_by")(args)),
      ("graft_maxby_raw", info("graft_maxby_raw", "graft_maxby_raw(x, val) - Spark max_by, NULL args kept (internal)."),
        (args: Seq[Expression]) => builtinBuilder("max_by")(args)),
      // NOTE: DuckDB's any_value returns the first NON-NULL value, but
      // a registry override cannot carry that: Spark's ResolveFunctions
      // REBUILDS AnyValue/First with the parse-level ignoreNulls flag,
      // clobbering any builder-supplied value — the serving plane sets
      // ignoreNulls on the UnresolvedFunction instead (Dialect's
      // pre-analysis transform, round-13 fuzz v4).
      // date_add(date, INTERVAL) is DuckDB's form; (date, int) stays
      // Spark's. Output follows Spark's +: date stays DATE for
      // day-granularity intervals where DuckDB promotes to TIMESTAMP —
      // value-equivalent, type divergence documented.
      ("date_add",
        info("date_add", "date_add(d, INTERVAL) - DuckDB interval add; date_add(d, n) stays Spark's."),
        (args: Seq[Expression]) => {
          if (args.length == 2 && isIntervalish(args(1))) Add(args(0), args(1))
          else builtinBuilder("date_add")(args)
        }),
      // strftime accepts both argument orders in DuckDB; a %-bearing
      // string literal in position 1 is the format
      ("strftime",
        info("strftime", "strftime(ts, fmt) or strftime(fmt, ts) - DuckDB C-style formatting."),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"strftime expects 2 arguments, got ${args.length}")
          val (ts, fmt) = args.head match {
            case Literal(s, StringType) if s != null && s.toString.contains("%") => (args(1), args.head)
            case _ => (args.head, args(1))
          }
          builtinBuilder("date_format")(Seq(ts, translatedFormat("strftime", fmt)))
        }),
      // temporal generate_series/range: Spark sequence natively walks
      // date/timestamp with interval steps (inclusive); DuckDB's range
      // is end-exclusive so the stop value is filtered back out.
      // Numeric forms fall through to the registrations3 builders.
      ("generate_series",
        info("generate_series", "generate_series(a, b[, step]) - inclusive series; temporal or BIGINT."),
        (args: Seq[Expression]) => {
          if (args.length == 3 && isIntervalish(args(2))) temporalSeries(exclusive = false)(args)
          else registrations3.find(_._1 == "generate_series").get._3(args)
        }),
      ("range",
        info("range", "range(a, b[, step]) - end-exclusive series; temporal or BIGINT."),
        (args: Seq[Expression]) => {
          if (args.length == 3 && isIntervalish(args(2))) temporalSeries(exclusive = true)(args)
          else registrations3.find(_._1 == "range").get._3(args)
        }),
      // bitstring_agg (closes the other probe5 omission): bit p-lo set
      // for each aggregated value, rendered left-to-right over
      // [lo, hi]. Rendering is character-identical to DuckDB's BIT
      // display; the TYPE is VARCHAR here (same documented divergence
      // as the scalar bitstring). 1-arg form ranges over the actual
      // min/max (what DuckDB's column stats resolve to on a full
      // scan); out-of-range values in the 3-arg form fail loudly like
      // DuckDB's Out of Range Error.
      ("bitstring_agg",
        info("bitstring_agg", "bitstring_agg(x[, lo, hi]) - '0'/'1' bitstring with a bit per aggregated value."),
        (args: Seq[Expression]) => {
          require(args.length == 1 || args.length == 3,
            s"bitstring_agg expects 1 or 3 arguments, got ${args.length}")
          val x = args.head
          val (lo, hi) =
            if (args.length == 3) (Cast(args(1), LongType), Cast(args(2), LongType))
            else (aggE(builtinBuilder("min")(Seq(x))), aggE(builtinBuilder("max")(Seq(x))))
          val seen = aggE(builtinBuilder("collect_set")(Seq(Cast(x, LongType))))
          val p = lv("__bsa_p")
          val rendered = builtinBuilder("array_join")(Seq(
            builtinBuilder("transform")(Seq(
              builtinBuilder("sequence")(Seq(lo, hi)),
              LambdaFunction(CaseWhen(Seq((
                org.apache.spark.sql.catalyst.expressions.ArrayContains(seen, p),
                Literal("1"))), Some(Literal("0"))), Seq(p)))),
            Literal("")))
          if (args.length == 3) {
            val outOfRange = org.apache.spark.sql.catalyst.expressions.Or(
              org.apache.spark.sql.catalyst.expressions.LessThan(
                aggE(builtinBuilder("min")(Seq(Cast(x, LongType)))), lo),
              org.apache.spark.sql.catalyst.expressions.GreaterThan(
                aggE(builtinBuilder("max")(Seq(Cast(x, LongType)))), hi))
            CaseWhen(Seq((outOfRange,
              builtinBuilder("raise_error")(Seq(Literal(
                "bitstring_agg: value is out of range"))))), Some(rendered))
          } else rendered
        }))
  }

  /** Round-8 probe7 batch: binary/encoding helpers, bitstring bit
    * access, histogram, map_extract, regex flag forms, LIKE escapes,
    * and misc sugar. Semantics pinned against DuckDB (DialectSpec
    * "probe7 batch").
    */
  private[graft] val registrations7: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Add, Cast, CreateArray, CreateNamedStruct, Expression => Expr, If, ILike, LambdaFunction, Like, Literal, Size, Substring, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.types._
    def lv(n: String) = UnresolvedNamedLambdaVariable(Seq(n))
    def mapExtractInfo(n: String) =
      info(n, s"$n(m, k) - [value] when the key exists, else [] (DuckDB; maps only).")
    val mapExtractBuilder: Seq[Expression] => Expression = { args =>
      require(args.length == 2, s"map_extract expects 2 arguments, got ${args.length}")
      builtinBuilder("slice")(Seq(
        CreateArray(Seq(builtinBuilder("try_element_at")(args))),
        Literal(1),
        If(builtinBuilder("coalesce")(Seq(
            builtinBuilder("map_contains_key")(args), Literal(false))),
          Literal(1), Literal(0))))
    }
    def aggE(e: Expression): Expression = e match {
      case f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction =>
        f.toAggregateExpression()
      case other => other
    }
    def litStr(e: Expression, fn: String): String = e match {
      case Literal(s, StringType) if s != null => s.toString
      case _ => throw new IllegalArgumentException(s"$fn: argument must be a string literal")
    }
    def escChar(e: Expression, fn: String): Char = {
      val s = litStr(e, fn)
      require(s.length == 1, s"$fn: the escape must be a single character")
      s.head
    }
    // inline-flag regex composition; the pattern may be a runtime
    // expression. DuckDB/RE2 options (probe 25): 'i' case-insensitive
    // and 's' dot-matches-newline map to the same Java inline flags;
    // 'm'/'n'/'p' mean NEWLINE-SENSITIVE matching there — which is
    // Java's DEFAULT (and 'p' isn't even a valid Java inline flag, so
    // the old (?p) group raised at run time) — and 'c'
    // (case-sensitive) is the default on both: all four are no-ops.
    // 'l' (literal) and anything unknown stay loud.
    def flagged(pattern: Expression, flags: String): Expression = {
      val bad = flags.filterNot(c => "ismnpcg".contains(c))
      require(bad.isEmpty,
        s"regex options '$bad' unsupported (DuckDB options i/s/g map; m/n/p/c are the Java default)")
      // options apply IN ORDER and can cancel each other (probe 25:
      // regexp_matches('ab','AB','ic') is FALSE in DuckDB — the later
      // 'c' turns case sensitivity back on; 'm'/'n'/'p' likewise turn
      // newline sensitivity back on, cancelling an earlier 's')
      val eff = flags.foldLeft(Set.empty[Char]) {
        case (acc, 'i') => acc + 'i'
        case (acc, 'c') => acc - 'i'
        case (acc, 's') => acc + 's'
        case (acc, 'm' | 'n' | 'p') => acc - 's'
        case (acc, _) => acc
      }
      val inline = "is".filter(eff.contains)
      if (inline.isEmpty) pattern
      else builtinBuilder("concat")(Seq(Literal(s"(?$inline)"), pattern))
    }
    // DuckDB/RE2 rewrite syntax -> Java replacement syntax (probe 25:
    // '\1' in a Java replacement is a literal '1', so every DuckDB
    // group reference was silently dropped before): \N -> $(N+shift)
    // (\0 = the whole match; shift covers the first-match emulation's
    // prepended group), \\ -> literal backslash, literal $ -> \$.
    // Unknown \x escapes and multi-digit backrefs stay loud.
    def duckRepLit(e: Expression, shift: Int): Option[Expression] = e match {
      case Literal(s, StringType) if s != null =>
        val p = s.toString
        val sb = new StringBuilder(p.length + 4)
        var i = 0
        while (i < p.length) {
          val c = p.charAt(i)
          if (c == '\\' && i + 1 < p.length) {
            val d = p.charAt(i + 1)
            if (d.isDigit) {
              require(i + 2 >= p.length || !p.charAt(i + 2).isDigit,
                "regexp_replace: multi-digit backreferences in the replacement are unsupported")
              val n = d - '0'
              // \0 = the whole user match. Under first-match emulation
              // (shift=2) the user pattern is its own capturing group,
              // group 2 after the lazy prefix — NOT $0, which would be
              // prefix+match, and NOT $1, which is the prefix alone.
              val g = if (n == 0 && shift > 0) 2 else n + shift
              require(g <= 9,
                s"regexp_replace: backreference \\$n cannot be renumbered for " +
                  "first-match emulation here - use the 'g' flag")
              sb.append('$').append(g)
            } else if (d == '\\') sb.append("\\\\")
            else throw new IllegalArgumentException(
              s"regexp_replace: unsupported escape '\\$d' in the replacement")
            i += 2
          } else if (c == '$') { sb.append("\\$"); i += 1 }
          else if (c == '\\') { sb.append("\\\\"); i += 1 }
          else { sb.append(c); i += 1 }
        }
        Some(Literal(sb.toString))
      case _ => None
    }
    // The first-match regexp_replace emulation prepends one capturing
    // group AND wraps the user pattern in another (so the replacement's
    // \0 has a group to reference), shifting every group number in the
    // user's pattern by two — a backreference like '(a)\1' would
    // silently point at the lazy prefix. For LITERAL patterns, renumber
    // \1-\7 up by two (staying single-digit, so Java never parses
    // '\10' ambiguously); \8, \9 and multi-digit backrefs reject
    // loudly. Escapes and character classes are skipped (inside [...]
    // a \digit is not a backref).
    def shiftBackrefs(pattern: Expression): Expression = pattern match {
      case Literal(s, StringType) if s != null =>
        val p = s.toString
        if (!p.contains('\\')) pattern
        else {
          val sb = new StringBuilder(p.length + 4)
          var i = 0
          var inClass = false
          while (i < p.length) {
            val c = p.charAt(i)
            if (c == '\\' && i + 1 < p.length) {
              val d = p.charAt(i + 1)
              if (!inClass && d >= '1' && d <= '9') {
                require(d <= '7' && (i + 2 >= p.length || !p.charAt(i + 2).isDigit),
                  "regexp_replace: this backreference cannot be renumbered for " +
                    "first-match emulation here - use the 'g' flag")
                sb.append('\\').append((d + 2).toChar)
              } else sb.append(c).append(d)
              i += 2
            } else {
              if (c == '[') inClass = true else if (c == ']') inClass = false
              sb.append(c); i += 1
            }
          }
          Literal(sb.toString)
        }
      case other => other
    }
    Seq(
      // encode/decode: DuckDB's 1-arg VARCHAR<->BLOB forms; the 2-arg
      // charset forms stay Spark's
      ("encode",
        info("encode", "encode(s) - VARCHAR to BLOB (utf8); encode(s, charset) stays Spark's."),
        (args: Seq[Expression]) =>
          if (args.length == 1) Cast(args.head, BinaryType)
          else builtinBuilder("encode")(args)),
      ("decode",
        info("decode", "decode(b) - BLOB to VARCHAR; decode(b, charset) stays Spark's."),
        (args: Seq[Expression]) =>
          if (args.length == 1) Cast(args.head, StringType)
          else builtinBuilder("decode")(args)),
      // bit access over the VARCHAR-rendered bitstring (same type
      // policy as bitstring/bitstring_agg): 0-based from the left
      ("get_bit",
        info("get_bit", "get_bit(bits, i) - the 0-based i-th bit of a bitstring."),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"get_bit expects 2 arguments, got ${args.length}")
          Cast(Substring(args(0), Add(Cast(args(1), IntegerType), Literal(1)), Literal(1)),
            IntegerType)
        }),
      ("set_bit",
        info("set_bit", "set_bit(bits, i, v) - bitstring with the 0-based i-th bit set to v."),
        (args: Seq[Expression]) => {
          require(args.length == 3, s"set_bit expects 3 arguments, got ${args.length}")
          val i = Cast(args(1), IntegerType)
          builtinBuilder("concat")(Seq(
            Substring(args(0), Literal(1), i),
            Cast(args(2), StringType),
            Substring(args(0), Add(i, Literal(2)), Literal(Int.MaxValue))))
        }),
      // histogram(x): MAP of value -> count, keys ascending (DuckDB).
      // Composed from collect_list — the per-key counting is O(k·n) on
      // the collected array, which is fine for the shim layer (the
      // library's own profiling ops use real aggregates).
      ("histogram",
        info("histogram", "histogram(x) - MAP of value -> count, keys ascending (DuckDB)."),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"histogram expects 1 argument, got ${args.length}")
          val all = aggE(builtinBuilder("collect_list")(Seq(args.head)))
          val k = lv("__hg_k"); val e = lv("__hg_e")
          val keys = builtinBuilder("array_sort")(Seq(
            builtinBuilder("array_distinct")(Seq(all))))
          builtinBuilder("map_from_entries")(Seq(
            builtinBuilder("transform")(Seq(keys,
              LambdaFunction(CreateNamedStruct(Seq(
                Literal("key"), k,
                Literal("value"), Cast(Size(builtinBuilder("filter")(Seq(all,
                  LambdaFunction(org.apache.spark.sql.catalyst.expressions.EqualTo(e, k), Seq(e))))),
                  LongType))), Seq(k)))))) }),
      // map_extract returns a LIST: [value] or [] when absent (DuckDB).
      // element_at is DuckDB's second spelling of the SAME map-only
      // function (lists are a binder error there — map_contains_key
      // keeps that loud here too); NULL map/key also yield [] (measured
      // on the oracle, round-15 grammar v9). Spark's builtin
      // element_at(list, i) is shadowed on the served path only.
      ("map_extract", mapExtractInfo("map_extract"), mapExtractBuilder),
      // element_at dispatches on type: maps take the DuckDB list form
      // above; arrays keep Spark's native semantics (the library's own
      // query modules use element_at(arr, i) on the same session)
      ("element_at",
        mapExtractInfo("element_at"),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"element_at expects 2 arguments, got ${args.length}")
          graft.functions.ElementAtDispatch(args.head, args(1))
        }),
      // regex flag forms. NOTE: DuckDB's 3-arg regexp_replace replaces
      // the FIRST match and needs 'g' for global; Spark's builtin is
      // global-only, so the 4-arg form requires 'g' (loud otherwise —
      // never a silent first-vs-all divergence) and folds i/s/m into
      // an inline group.
      ("regexp_replace",
        info("regexp_replace", "regexp_replace(s, pat, rep[, 'g[ism]']) - FIRST-match replace like DuckDB; 'g' for global."),
        (args: Seq[Expression]) => {
          // RE2 REJECTS a rewrite whose backreference exceeds the
          // pattern's group count and returns the input UNCHANGED
          // (fuzz v4: regexp_replace('xab','ab','[\1]') = 'xab' in
          // DuckDB; Java throws INVALID_REGEXP_REPLACE at runtime).
          // Literal pattern+replacement detect it at build time.
          def backrefOverflow: Boolean = (args(1), args(2)) match {
            case (Literal(p, StringType), Literal(r, StringType))
                if p != null && r != null =>
              try {
                val gc = java.util.regex.Pattern.compile(p.toString)
                  .matcher("").groupCount()
                val s = r.toString
                var i = 0
                var maxRef = 0
                while (i < s.length - 1) {
                  if (s.charAt(i) == '\\' && s.charAt(i + 1).isDigit) {
                    maxRef = math.max(maxRef, s.charAt(i + 1) - '0'); i += 2
                  } else if (s.charAt(i) == '\\') i += 2
                  else i += 1
                }
                maxRef > gc
              } catch { case _: Throwable => false }
            case _ => false
          }
          // highest \N in a LITERAL replacement — drives the runtime
          // overflow guard for per-row patterns (0 = no backrefs or a
          // non-literal replacement)
          val maxRefInRep: Int = args.lift(2) match {
            case Some(Literal(r, StringType)) if r != null =>
              val s = r.toString
              var i = 0
              var m = 0
              while (i < s.length - 1) {
                if (s.charAt(i) == '\\' && s.charAt(i + 1).isDigit) {
                  m = math.max(m, s.charAt(i + 1) - '0'); i += 2
                } else if (s.charAt(i) == '\\') i += 2
                else i += 1
              }
              m
            case _ => 0
          }
          val built: Expression =
          if (args.length >= 3 && args.length <= 4 && backrefOverflow)
            Cast(args(0), StringType)
          else if (args.length == 3) {
            // DuckDB's 3-arg form replaces the FIRST match only; Spark's
            // builtin is global-only (a silent divergence the round-11
            // sweep caught). First-only via the anchored lazy-prefix
            // rewrite: ((?s)^.*?)(pat) -> $1rep matches at most once
            // (it is ^-anchored), so the global engine performs exactly
            // one replacement. The prefix + wrap groups shift user
            // group numbers by two (and give \0 a real group to hit),
            // so replacements carrying $/\ references stay LOUD rather
            // than silently mis-referencing.
            val repT = duckRepLit(args(2), shift = 2).getOrElse(
              throw new IllegalArgumentException(
                "regexp_replace: a non-literal replacement needs the 'g' flag here " +
                  "(first-match emulation shifts group numbers)"))
            val anchored = builtinBuilder("concat")(Seq(
              Literal("((?s)^.*?)("), shiftBackrefs(args(1)), Literal(")")))
            builtinBuilder("regexp_replace")(
              Seq(args(0), anchored,
                Literal("$1" + repT.asInstanceOf[Literal].value.toString)))
          } else if (args.length != 4) builtinBuilder("regexp_replace")(args)
          else {
            val flags = litStr(args(3), "regexp_replace").toLowerCase
            if (flags.contains("g"))
              builtinBuilder("regexp_replace")(Seq(args(0), flagged(args(1), flags),
                duckRepLit(args(2), shift = 0).getOrElse(args(2))))
            else {
              val repT = duckRepLit(args(2), shift = 2).getOrElse(
                throw new IllegalArgumentException(
                  "regexp_replace: a non-literal replacement needs the 'g' flag here " +
                    "(first-match emulation shifts group numbers)"))
              val anchored = builtinBuilder("concat")(Seq(
                Literal("((?s)^.*?)("), flagged(shiftBackrefs(args(1)), flags), Literal(")")))
              builtinBuilder("regexp_replace")(
                Seq(args(0), anchored,
                  Literal("$1" + repT.asInstanceOf[Literal].value.toString)))
            }
          }
          // per-row pattern + literal backrefs in the replacement:
          // DuckDB/RE2 rejects an overflowing rewrite ROW BY ROW and
          // returns that row's input unchanged; Java would raise
          // INVALID_REGEXP_REPLACE. Guard at runtime so only the
          // overflow rows short-circuit (round-13 ADVICE item).
          if (args.length >= 3 && maxRefInRep > 0 && !args(1).foldable) {
            import org.apache.spark.sql.catalyst.expressions.GreaterThan
            If(GreaterThan(Literal(maxRefInRep),
                graft.functions.RegexGroupCount(args(1))),
              Cast(args(0), StringType), built)
          } else built
        }),
      // DuckDB's regexp_split_to_table: one row per split piece
      // (probe 25) — explode over the regex split
      ("regexp_split_to_table",
        info("regexp_split_to_table", "regexp_split_to_table(s, re) - one row per split piece."),
        (args: Seq[Expression]) => {
          require(args.length == 2,
            s"regexp_split_to_table expects 2 arguments, got ${args.length}")
          org.apache.spark.sql.catalyst.expressions.Explode(
            builtinBuilder("split")(args))
        }),
      ("regexp_matches",
        info("regexp_matches", "regexp_matches(s, pat[, flags]) - partial-match test with inline flags."),
        (args: Seq[Expression]) => {
          require(args.length == 2 || args.length == 3,
            s"regexp_matches expects 2-3 arguments, got ${args.length}")
          val pat = if (args.length == 3)
            flagged(args(1), litStr(args(2), "regexp_matches").toLowerCase) else args(1)
          org.apache.spark.sql.catalyst.expressions.RLike(args(0), pat)
        }),
      // regexp_extract with a name list returns a STRUCT of the groups
      ("regexp_extract",
        info("regexp_extract", "regexp_extract(s, pat[, group | [names]]) - group text, or a named-group STRUCT."),
        (args: Seq[Expression]) => args match {
          case Seq(s, p, CreateArray(names, _)) =>
            val fields = names.zipWithIndex.flatMap { case (n, i) =>
              Seq(Literal(litStr(n, "regexp_extract")),
                builtinBuilder("regexp_extract")(Seq(s, p, Literal(i + 1))))
            }
            CreateNamedStruct(fields)
          case other =>
            // delegate to the registrations2 builder: DuckDB's group
            // default is 0 (whole match), not Spark's 1
            registrations2.find(_._1 == "regexp_extract").get._3(other)
        }),
      ("like_escape",
        info("like_escape", "like_escape(s, pat, esc) - LIKE with a custom escape character."),
        (args: Seq[Expression]) => {
          require(args.length == 3, s"like_escape expects 3 arguments, got ${args.length}")
          Like(args(0), args(1), escChar(args(2), "like_escape"))
        }),
      ("ilike_escape",
        info("ilike_escape", "ilike_escape(s, pat, esc) - case-insensitive LIKE with a custom escape."),
        (args: Seq[Expression]) => {
          require(args.length == 3, s"ilike_escape expects 3 arguments, got ${args.length}")
          ILike(args(0), args(1), escChar(args(2), "ilike_escape"))
        }),
      // printf: format_string, with DECIMAL arguments cast to double
      // (a bare 3.14 literal parses as DECIMAL and %f rejects it);
      // NULL args propagate to a NULL result like DuckDB (probe 23)
      ("printf",
        info("printf", "printf(fmt, ...) - C-style formatting (DuckDB)."),
        (args: Seq[Expression]) => {
          require(args.nonEmpty, "printf expects at least the format")
          val fmtArgs = args.tail.map { a =>
            try a.dataType match {
              case _: DecimalType => Cast(a, DoubleType)
              case _ => a
            } catch { case _: Throwable => a }
          }
          GraftExtensions.nullPropagating(fmtArgs,
            builtinBuilder("format_string")(args.head +: fmtArgs))
        }),
      ("alias",
        info("alias", "alias(expr) - the expression's name as text (DuckDB)."),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"alias expects 1 argument, got ${args.length}")
          Literal(args.head match {
            case a: UnresolvedAttribute => a.nameParts.last
            case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
            case e => try e.sql catch { case _: Throwable => e.toString }
          })
        }),
      ("generate_subscripts",
        info("generate_subscripts", "generate_subscripts(l, 1) - one row per 1-based index."),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"generate_subscripts expects 2 arguments, got ${args.length}")
          require(args(1) match { case Literal(v, _) => String.valueOf(v) == "1"; case _ => false },
            "generate_subscripts: only dimension 1 is supported (lists are 1-dimensional)")
          // UnresolvedFunction: sequence's registry builder asserts
          // RESOLVED args at build time, and the list argument may
          // still be an unresolved array(...) here
          org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
            Seq("explode"), Seq(org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
              Seq("sequence"), Seq(Literal(1), Size(args.head)), isDistinct = false)),
            isDistinct = false)
        }))
  }

  /** Round-10 probe9 closures: ISO-year arithmetic, the TIME
    * constructor (rendered as DuckDB's own JSON string — the engine
    * has no TIME type, the bitstring-as-VARCHAR precedent), the upper
    * md5 digest half, parse_path, the element-extraction family with
    * DuckDB's index-0/out-of-bounds conventions, and aggregate alias
    * delegations (kahan_sum -> fsum, list_aggr -> list_aggregate).
    */
  private[graft] val registrations8: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Add, CaseWhen, Cast, Literal, Multiply, Subtract}
    import org.apache.spark.sql.types._
    def one(n: String, a: Seq[Expression]): Unit =
      require(a.length == 1, s"$n expects 1 argument, got ${a.length}")
    def two(n: String, a: Seq[Expression]): Unit =
      require(a.length == 2, s"$n expects 2 arguments, got ${a.length}")
    Seq(
      // isoyear: the year of the ISO week = the year of that week's
      // Thursday (verified isoyear(2021-01-01) = 2020,
      // isoyear(2024-12-30) = 2025) — same construction as yearweek
      ("isoyear",
        info("isoyear", "isoyear(d) - ISO week-numbering year (DuckDB semantics)."),
        (args: Seq[Expression]) => { one("isoyear", args)
          val isodow = Add(builtinBuilder("weekday")(Seq(args.head)), Literal(1))
          builtinBuilder("year")(Seq(builtinBuilder("date_add")(
            Seq(Cast(args.head, DateType), Subtract(Literal(4), isodow))))) }),
      // make_time: DuckDB returns TIME; the engine has no TIME type so
      // this renders DuckDB's own JSON/text form (verified to_json(
      // make_time(10,30,12.5)) = "10:30:12.5" — fraction trimmed of
      // trailing zeros, integral seconds zero-padded to 2)
      ("make_time",
        info("make_time", "make_time(h, m, s) - DuckDB TIME rendered as its text form (the engine has no TIME type)."),
        (args: Seq[Expression]) => {
          require(args.length == 3, s"make_time expects 3 arguments, got ${args.length}")
          def pad2(e: Expression) = builtinBuilder("lpad")(
            Seq(Cast(e, StringType), Literal(2), Literal("0")))
          val secRaw = Cast(Cast(args(2), DecimalType(15, 6)), StringType)
          val noZeros = builtinBuilder("regexp_replace")(
            Seq(builtinBuilder("regexp_replace")(
              Seq(secRaw, Literal("0+$"), Literal(""))), Literal("\\.$"), Literal("")))
          val ip = builtinBuilder("substring_index")(Seq(noZeros, Literal("."), Literal(1)))
          val secFmt = CaseWhen(Seq((
            org.apache.spark.sql.catalyst.expressions.GreaterThan(
              builtinBuilder("instr")(Seq(noZeros, Literal("."))), Literal(0)),
            builtinBuilder("concat")(Seq(pad2(ip), Literal("."),
              builtinBuilder("substring_index")(Seq(noZeros, Literal("."), Literal(-1))))))),
            Some(pad2(noZeros)))
          builtinBuilder("concat")(Seq(pad2(args(0)), Literal(":"),
            pad2(args(1)), Literal(":"), secFmt)): Expression }),
      // md5_number_upper: the LAST 8 digest bytes as a little-endian
      // unsigned 64 (verified md5_number_upper('abc') =
      // 12704604231530709392) — same byte-reversal as md5_number_lower
      ("md5_number_upper",
        info("md5_number_upper", "md5_number_upper(s) - upper 64 bits of the MD5 digest, little-endian (DuckDB's UBIGINT as DECIMAL(20,0))."),
        (args: Seq[Expression]) => { one("md5_number_upper", args)
          val h = builtinBuilder("md5")(Seq(Cast(args.head, StringType)))
          val leHex = builtinBuilder("concat")(
            (8 until 16).reverse.map(i =>
              builtinBuilder("substring")(Seq(h, Literal(i * 2 + 1), Literal(2))): Expression))
          Cast(builtinBuilder("conv")(Seq(leHex, Literal(16), Literal(10))),
            DecimalType(20, 0)) }),
      // parse_path: components as a list, '/' head for absolute paths
      // (verified parse_path('/a/b/c.txt') = ['/','a','b','c.txt'],
      // parse_path('a/b.txt') = ['a','b.txt'])
      ("parse_path",
        info("parse_path", "parse_path(p) - path components as a list (DuckDB semantics, '/' separator)."),
        (args: Seq[Expression]) => { one("parse_path", args)
          val x = org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable(Seq("__pp"))
          val parts = org.apache.spark.sql.catalyst.expressions.ArrayFilter(
            builtinBuilder("split")(Seq(args.head, Literal("/"))),
            org.apache.spark.sql.catalyst.expressions.LambdaFunction(
              org.apache.spark.sql.catalyst.expressions.Not(
                org.apache.spark.sql.catalyst.expressions.EqualTo(x, Literal(""))), Seq(x)))
          CaseWhen(Seq((builtinBuilder("startswith")(Seq(args.head, Literal("/"))),
            builtinBuilder("concat")(Seq(
              org.apache.spark.sql.catalyst.expressions.CreateArray(Seq(Literal("/"))),
              parts)))),
            Some(parts)): Expression }),
      // the element-extraction family (index-0 → NULL for lists / ''
      // for strings, negative from the end, OOB NULL/'': pinned vs
      // DuckDB in ArrayExtractDispatch's scaladoc)
      ("array_extract",
        info("array_extract", "array_extract(x, i) - list element or string character (DuckDB index conventions)."),
        (args: Seq[Expression]) => { two("array_extract", args)
          graft.functions.ArrayExtractDispatch(args.head, args(1)) }),
      ("list_element",
        info("list_element", "list_element(l, i) - DuckDB alias of array_extract."),
        (args: Seq[Expression]) => { two("list_element", args)
          graft.functions.ArrayExtractDispatch(args.head, args(1)) }),
      ("list_extract",
        info("list_extract", "list_extract(l, i) - DuckDB alias of array_extract."),
        (args: Seq[Expression]) => { two("list_extract", args)
          graft.functions.ArrayExtractDispatch(args.head, args(1)) }),
      // sign: DuckDB returns TINYINT (-1/0/1) for every numeric input
      // where Spark's signum returns DOUBLE — cast to the integer form
      ("sign",
        info("sign", "sign(x) - -1/0/1 as an integer (DuckDB returns TINYINT, not DOUBLE)."),
        (args: Seq[Expression]) => { one("sign", args)
          Cast(builtinBuilder("signum")(args), IntegerType) }),
      // weekday: DuckDB's weekday is an alias of its dayofweek
      // (Sunday=0..Saturday=6) — Spark's own weekday builtin is
      // Monday=0..Sunday=6, a silent value divergence the probe10 pin
      // caught (isodow/yearweek above use Spark's builtin via
      // builtinBuilder and are unaffected by this registry override)
      ("weekday",
        info("weekday", "weekday(d) - Sunday=0..Saturday=6 (DuckDB numbering, = its dayofweek)."),
        (args: Seq[Expression]) => { one("weekday", args)
          Subtract(builtinBuilder("dayofweek")(args), Literal(1)) }),
      // timezone_hour/minute: the session-zone UTC offset at the given
      // instant. The serving plane pins spark.sql.session.timeZone to
      // UTC (GraftSession/server config), where DuckDB returns 0 —
      // checked at build time and refused loudly under any other zone
      // rather than silently diverging.
      ("timezone_hour",
        info("timezone_hour", "timezone_hour(ts) - UTC-offset hour of the session zone (0 under the engine's pinned UTC; other zones refused loudly)."),
        (args: Seq[Expression]) => { one("timezone_hour", args)
          val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
          require(tz == "UTC" || tz == "Etc/UTC" || tz == "+00:00",
            s"timezone_hour: session zone is '$tz' — only the engine's pinned UTC is supported")
          Cast(Multiply(Literal(0), builtinBuilder("year")(
            Seq(Cast(args.head, TimestampType)))), IntegerType) }),
      ("timezone_minute",
        info("timezone_minute", "timezone_minute(ts) - UTC-offset minute of the session zone (0 under the engine's pinned UTC)."),
        (args: Seq[Expression]) => { one("timezone_minute", args)
          val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
          require(tz == "UTC" || tz == "Etc/UTC" || tz == "+00:00",
            s"timezone_minute: session zone is '$tz' — only the engine's pinned UTC is supported")
          Cast(Multiply(Literal(0), builtinBuilder("year")(
            Seq(Cast(args.head, TimestampType)))), IntegerType) }),
      // long-horizon interval constructors (verified to_centuries(1) =
      // INTERVAL 100 YEAR): years-slot make_interval with the factor
      ("to_centuries",
        info("to_centuries", "to_centuries(n) - INTERVAL n*100 years (DuckDB semantics)."),
        (args: Seq[Expression]) => { one("to_centuries", args)
          builtinBuilder("make_interval")(
            Multiply(Cast(args.head, IntegerType), Literal(100)) +:
              Seq.fill(6)(Literal(0): Expression)) }),
      ("to_decades",
        info("to_decades", "to_decades(n) - INTERVAL n*10 years (DuckDB semantics)."),
        (args: Seq[Expression]) => { one("to_decades", args)
          builtinBuilder("make_interval")(
            Multiply(Cast(args.head, IntegerType), Literal(10)) +:
              Seq.fill(6)(Literal(0): Expression)) }),
      ("to_millennia",
        info("to_millennia", "to_millennia(n) - INTERVAL n*1000 years (DuckDB semantics)."),
        (args: Seq[Expression]) => { one("to_millennia", args)
          builtinBuilder("make_interval")(
            Multiply(Cast(args.head, IntegerType), Literal(1000)) +:
              Seq.fill(6)(Literal(0): Expression)) }),
      // aggregate alias delegations onto existing registered builders
      ("kahan_sum",
        info("kahan_sum", "kahan_sum(x) - DuckDB alias of fsum (DOUBLE accumulation)."),
        (args: Seq[Expression]) => registrations2.find(_._1 == "fsum").get._3(args)),
      ("sumkahan",
        info("sumkahan", "sumkahan(x) - DuckDB alias of fsum (DOUBLE accumulation)."),
        (args: Seq[Expression]) => registrations2.find(_._1 == "fsum").get._3(args)),
      ("list_aggr",
        info("list_aggr", "list_aggr(list, 'fn') - DuckDB alias of list_aggregate."),
        (args: Seq[Expression]) => { two("list_aggr", args)
          graft.functions.ListAggregateDispatch(args.head, args(1)) }),
      ("array_aggregate",
        info("array_aggregate", "array_aggregate(list, 'fn') - DuckDB alias of list_aggregate."),
        (args: Seq[Expression]) => { two("array_aggregate", args)
          graft.functions.ListAggregateDispatch(args.head, args(1)) }),
      ("array_aggr",
        info("array_aggr", "array_aggr(list, 'fn') - DuckDB alias of list_aggregate."),
        (args: Seq[Expression]) => { two("array_aggr", args)
          graft.functions.ListAggregateDispatch(args.head, args(1)) }))
  }

  /** DuckDB function-name aliases onto Spark builtins with matching
    * semantics AND argument order — the function-level face of the
    * dialect shim (`server.Dialect` handles the syntax-level sugar).
    * Only same-semantics pairs are aliased; names whose DuckDB
    * behavior differs (string_split literal-vs-regex, engine hash
    * values) are deliberately NOT mapped — a silently-different
    * result is worse than an unknown-function error. (strftime/
    * strptime, len, epoch*, and the list_append/prepend/concat family
    * are handled above as real registrations reproducing DuckDB's
    * type dispatch, argument order and NULL conventions — not plain
    * aliases.)
    */
  private[graft] val duckAliases: Seq[(String, String)] = Seq(
    "list_transform" -> "transform",
    "list_filter" -> "filter",
    // list_contains/array_contains/array_has/list_has are real
    // registrations now (round-15 grammar-v9 finding: DuckDB returns
    // FALSE for an absent needle in a NULL-carrying list; the plain
    // alias inherited Spark's three-valued NULL)
    // list_append/list_concat deliberately NOT aliased: DuckDB skips
    // NULL list inputs (list_append(NULL, 3) = [3]) where Spark's
    // array_append/concat return NULL — the silent-divergence class
    // this table's policy forbids
    "list_value" -> "array",
    "quantile_cont" -> "percentile",
    // round-5 long-tail batch, each verified same-semantics vs DuckDB
    // 1.5: list_position (1-based, 0 when absent, NULL on NULL list =
    // array_position exactly), array_length/size (NULL-in-NULL-out),
    // strpos/instr (1-based, 0 absent), prefix/suffix booleans,
    // regexp_split_to_array (both regex-based), today/current_date,
    // gen_random_uuid()/uuid(), unnest in the select list = explode
    // (DuckDB's expression-wrapped unnest stays unsupported — loud)
    "list_position" -> "array_position",
    "list_indexof" -> "array_position",
    "array_length" -> "size",
    "strpos" -> "instr",
    "starts_with" -> "startswith",
    "prefix" -> "startswith",
    "ends_with" -> "endswith",
    "suffix" -> "endswith",
    "regexp_split_to_array" -> "split",
    "today" -> "current_date",
    "get_current_timestamp" -> "now",
    "gen_random_uuid" -> "uuid",
    "uuidv4" -> "uuid",
    "unnest" -> "explode",
    // round-5 second batch: editdist3 is DuckDB's levenshtein alias;
    // week = ISO week on both engines (verified week(2024-12-30) = 1 =
    // Spark weekofyear); to_hex/from_hex are both uppercase-hex/binary
    // exactly like Spark's hex/unhex (verified to_hex(255) = 'FF')
    "editdist3" -> "levenshtein",
    "week" -> "weekofyear",
    "to_hex" -> "hex",
    "from_hex" -> "unhex",
    // DuckDB's row(1, 'x') anonymous-struct constructor
    "row" -> "struct",
    // Spark's split is already regex-based — identical semantics
    "string_split_regex" -> "split",
    // round-6 probe5 closures (verified same-semantics):
    // reverse works on arrays in Spark exactly like list_reverse;
    // json_object_keys = json_keys (array of top-level keys);
    // listagg = group_concat/listagg (comma default handled by Spark);
    // flatten/map_keys/map_values/map_entries already share names
    "list_reverse" -> "reverse",
    "json_keys" -> "json_object_keys",
    "group_concat" -> "listagg",
    // round-8 probe6/7: list_apply = list_transform; to/from_base64 and
    // array_to_string map onto Spark's identical builtins (verified)
    "list_apply" -> "transform",
    // round-10 probe10: Spark's split is regex-based, same as DuckDB's
    // str_split_regex (string_split_regex already aliased above)
    "str_split_regex" -> "split",
    "to_base64" -> "base64",
    "from_base64" -> "unbase64",
    "array_to_string" -> "array_join")

  private def aliasRegistrations: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = {
    val builtin = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
    duckAliases.flatMap { case (alias, target) =>
      builtin.lookupFunctionBuilder(FunctionIdentifier(target)).map { b =>
        (alias, info(alias, s"$alias(...) - DuckDB-dialect alias of $target."), b)
      }
    }
  }

  /** Round-11b probe-12 closures: concat's NULL-skip (the silent
    * divergence this tier caught — DuckDB concat SKIPS NULL arguments
    * and stringifies everything, Spark's nulls the whole result) and
    * the extract-field long tail Spark's parser lacks (epoch / decade /
    * century / millennium / milliseconds / microseconds — reached via
    * Dialect.rewriteExtractFields, which turns
    * `extract(epoch FROM x)` into `graft_extract_epoch(x)`).
    */
  private[graft] val registrations9: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Add, And, CaseWhen, Cast, Divide, EqualTo, GreaterThan, GreaterThanOrEqual, LambdaFunction, LessThan, LessThanOrEqual, Literal, Multiply, Subtract, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.types._
    def one(n: String, a: Seq[Expression]): Unit =
      require(a.length == 1, s"$n expects 1 argument, got ${a.length}")
    def ts(e: Expression) = Cast(e, TimestampType)
    // sub-minute microseconds: unix_micros(ts) - unix_micros(trunc-to-minute)
    def subMinuteMicros(e: Expression): Expression =
      Subtract(
        builtinBuilder("unix_micros")(Seq(ts(e))),
        builtinBuilder("unix_micros")(Seq(
          builtinBuilder("date_trunc")(Seq(Literal("minute"), ts(e))))))
    Seq(
      ("concat",
        info("concat", "concat(a, b, ...) - stringifies and SKIPS NULL arguments (DuckDB semantics; Spark's builtin nulls the whole result)."),
        (args: Seq[Expression]) => {
          require(args.nonEmpty, "concat expects at least 1 argument")
          builtinBuilder("concat_ws")(
            Literal("") +: args.map(a => Cast(a, StringType): Expression))
        }),
      ("graft_extract_epoch",
        info("graft_extract_epoch", "extract(epoch FROM x) - seconds since 1970 as DOUBLE (DuckDB typing)."),
        (args: Seq[Expression]) => { one("graft_extract_epoch", args)
          Divide(Cast(builtinBuilder("unix_micros")(Seq(ts(args.head))), DoubleType),
            Literal(1e6)) }),
      ("graft_extract_decade",
        info("graft_extract_decade", "extract(decade FROM x) - year // 10 (DuckDB semantics)."),
        (args: Seq[Expression]) => { one("graft_extract_decade", args)
          Cast(builtinBuilder("floor")(Seq(Divide(
            Cast(builtinBuilder("year")(Seq(args.head)), DoubleType),
            Literal(10.0)))), LongType) }),
      ("graft_extract_century",
        info("graft_extract_century", "extract(century FROM x) - ((year - 1) // 100) + 1 (DuckDB semantics, CE dates)."),
        (args: Seq[Expression]) => { one("graft_extract_century", args)
          Add(Cast(builtinBuilder("floor")(Seq(Divide(
            Cast(Subtract(builtinBuilder("year")(Seq(args.head)), Literal(1)), DoubleType),
            Literal(100.0)))), LongType), Literal(1L)) }),
      ("graft_extract_millennium",
        info("graft_extract_millennium", "extract(millennium FROM x) - ((year - 1) // 1000) + 1 (DuckDB semantics, CE dates)."),
        (args: Seq[Expression]) => { one("graft_extract_millennium", args)
          Add(Cast(builtinBuilder("floor")(Seq(Divide(
            Cast(Subtract(builtinBuilder("year")(Seq(args.head)), Literal(1)), DoubleType),
            Literal(1000.0)))), LongType), Literal(1L)) }),
      ("graft_extract_milliseconds",
        info("graft_extract_milliseconds", "extract(milliseconds FROM x) - sub-minute milliseconds: seconds*1000 + ms (DuckDB semantics)."),
        (args: Seq[Expression]) => { one("graft_extract_milliseconds", args)
          Cast(Divide(Cast(subMinuteMicros(args.head), DoubleType), Literal(1000.0)),
            LongType) }),
      ("graft_extract_microseconds",
        info("graft_extract_microseconds", "extract(microseconds FROM x) - sub-minute microseconds: seconds*1e6 + us (DuckDB semantics)."),
        (args: Seq[Expression]) => { one("graft_extract_microseconds", args)
          subMinuteMicros(args.head) }),
      ("graft_step_slice",
        info("graft_step_slice", "graft_step_slice(list, from, to, step) - DuckDB list step slicing a[s:e:st]: both bounds inclusive, negative-from-end, clamped; negative step walks backward; step 0 errors."),
        (args: Seq[Expression]) => {
          require(args.length == 4, s"graft_step_slice expects 4 arguments, got ${args.length}")
          val lst = args(0)
          val st = Cast(args(3), IntegerType)
          val n = builtinBuilder("size")(Seq(lst))
          def norm(e: Expression): Expression = {
            val ce = Cast(e, IntegerType)
            CaseWhen(Seq((LessThan(ce, Literal(0)), Add(Add(n, Literal(1)), ce))), ce)
          }
          val na = norm(args(1)); val nb = norm(args(2))
          val lo = builtinBuilder("greatest")(Seq(na, Literal(1)))
          val hi = builtinBuilder("least")(Seq(nb, n))
          val dStart = builtinBuilder("least")(Seq(na, n))
          val dEnd = builtinBuilder("greatest")(Seq(nb, Literal(1)))
          val lv = UnresolvedNamedLambdaVariable(Seq("__ssi"))
          def pick(idx: Expression): Expression = builtinBuilder("transform")(Seq(idx,
            LambdaFunction(builtinBuilder("element_at")(Seq(lst, lv)), Seq(lv))))
          val empty = builtinBuilder("slice")(Seq(lst, Literal(1), Literal(0)))
          CaseWhen(Seq(
            (EqualTo(st, Literal(0)),
              builtinBuilder("raise_error")(Seq(Literal("Slice step cannot be zero")))),
            (And(GreaterThan(st, Literal(0)), LessThanOrEqual(lo, hi)),
              pick(builtinBuilder("sequence")(Seq(lo, hi, st)))),
            (And(LessThan(st, Literal(0)), GreaterThanOrEqual(dStart, dEnd)),
              pick(builtinBuilder("sequence")(Seq(dStart, dEnd, st))))),
            empty)
        }),
      ("graft_int_cast",
        info("graft_int_cast", "graft_int_cast(x, 'TYPE') - CAST to an integer type with DuckDB's rounding rules (Dialect.rewriteIntCasts target)."),
        (args: Seq[Expression]) => intCastBuilder(args, tryMode = false)),
      ("graft_try_int_cast",
        info("graft_try_int_cast", "graft_try_int_cast(x, 'TYPE') - TRY_CAST to an integer type with DuckDB's rounding rules."),
        (args: Seq[Expression]) => intCastBuilder(args, tryMode = true)),
      // probe 26: explicit CAST(x AS VARCHAR) carries Java's floating
      // rendering ('1.0E8', 'NaN') where DuckDB prints '100000000.0' /
      // 'nan' — floating sources dispatch to the DuckDB text renderer
      ("graft_varchar_cast",
        info("graft_varchar_cast", "graft_varchar_cast(x) - CAST to VARCHAR with DuckDB floating-point text (Dialect.rewriteVarcharCasts target)."),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"graft_varchar_cast expects 1 argument, got ${args.length}")
          graft.functions.VarcharCastDispatch(args.head, tryMode = false) }),
      ("graft_try_varchar_cast",
        info("graft_try_varchar_cast", "graft_try_varchar_cast(x) - TRY_CAST to VARCHAR with DuckDB floating-point text."),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"graft_try_varchar_cast expects 1 argument, got ${args.length}")
          graft.functions.VarcharCastDispatch(args.head, tryMode = true) }))
  }

  private def intCastBuilder(args: Seq[Expression], tryMode: Boolean): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    require(args.length == 2, s"graft_int_cast expects 2 arguments, got ${args.length}")
    val tname = args(1) match {
      case Literal(s, _: StringType) if s != null => s.toString.toUpperCase
      case other => throw new IllegalArgumentException(
        s"graft_int_cast: type name must be a string literal, got $other")
    }
    val target = tname match {
      case "TINYINT" => ByteType
      case "SMALLINT" => ShortType
      case "INT" | "INTEGER" => IntegerType
      case "BIGINT" => LongType
      case other => throw new IllegalArgumentException(
        s"graft_int_cast: unsupported target type $other")
    }
    graft.functions.IntCastDispatch(args.head, target, tryMode)
  }

  /** Probe-tier-15 closures: DuckDB/utf8proc case mapping for
    * upper/lower (Java's String case functions apply FULL Unicode
    * mappings — 'straße' uppercases to STRASSE there vs STRAẞE in
    * DuckDB, lower('İ') grows a combining dot — silent value
    * divergences on international text), split_part's part=0 → ''
    * (Spark raises INVALID_INDEX_OF_ZERO), and lpad/rpad's loud
    * "Insufficient padding" error when an empty pad would actually be
    * needed (Spark silently returns the unpadded string).
    */
  private val registrations10: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.StringType
    def caseMap(n: String, up: Boolean) =
      (n, info(n, s"$n(s) - Unicode SIMPLE case mapping (DuckDB/utf8proc semantics)."),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"$n expects 1 argument, got ${args.length}")
          // explicit string cast = the builtin's implicit coercion
          graft.functions.CaseMapDispatch(Cast(args.head, StringType), up): Expression
        })
    def padGuard(n: String) =
      (n, info(n, s"$n(s, len, pad) - pad with DuckDB's loud empty-pad error."),
        (args: Seq[Expression]) => {
          if (args.length != 3) builtinBuilder(n)(args)
          else {
            val emptyPad = EqualTo(builtinBuilder("length")(Seq(args(2))), Literal(0))
            val padNeeded = GreaterThan(args(1), builtinBuilder("length")(Seq(args(0))))
            If(And(emptyPad, padNeeded),
              Cast(new RaiseError(
                Literal(s"Insufficient padding in ${n.toUpperCase}")), StringType),
              builtinBuilder(n)(args)): Expression
          }
        })
    Seq(
      caseMap("upper", up = true), caseMap("ucase", up = true),
      caseMap("lower", up = false), caseMap("lcase", up = false),
      padGuard("lpad"), padGuard("rpad"),
      ("split_part",
        info("split_part", "split_part(s, sep, n) - DuckDB semantics: NULL string/part, n = 0 and out-of-range yield ''; a NULL separator returns the whole string; an empty separator splits per character."),
        (args: Seq[Expression]) => {
          require(args.length == 3, s"split_part expects 3 arguments, got ${args.length}")
          // round-13 fuzz: DuckDB's NULL handling is NOT null-in-null-out
          // (pinned: split_part(NULL, ',', 1) = ''; split_part('a,b',
          // NULL, 1) = 'a,b'; split_part('a,b', ',', NULL) = '';
          // split_part('a,b', '', 1) = 'a' — per-character split)
          If(IsNull(args(0)), Literal(""),
            If(IsNull(args(1)), args(0),
              If(IsNull(args(2)), Literal(""),
                If(EqualTo(args(2), Literal(0)), Literal(""),
                  If(EqualTo(args(1), Literal("")),
                    builtinBuilder("substring")(Seq(args(0), args(2), Literal(1))),
                    builtinBuilder("split_part")(args)))))): Expression
        }),
      ("graft_div",
        info("graft_div", "graft_div(a, b) - DuckDB's / operator: always DOUBLE, NULL on zero divisor (Dialect.sqlServed target)."),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"graft_div expects 2 arguments, got ${args.length}")
          graft.functions.DivDispatch(args(0), args(1)): Expression
        }),
      // probe-20 JSON aggregates/quote as builtin compositions:
      // json_group_array = to_json over the collected list,
      // json_group_object = to_json over the collected map,
      // json_quote = to_json of a 1-element array with the brackets
      // stripped (renders any value as its JSON text)
      ("json_group_array",
        info("json_group_array", "json_group_array(x) - aggregate values into a JSON array string."),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"json_group_array expects 1 argument, got ${args.length}")
          builtinBuilder("to_json")(Seq(builtinBuilder("collect_list")(args) match {
            case f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction =>
              f.toAggregateExpression()
            case e => e
          })): Expression
        }),
      ("json_group_object",
        info("json_group_object", "json_group_object(k, v) - aggregate pairs into a JSON object string."),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"json_group_object expects 2 arguments, got ${args.length}")
          def coll(e: Expression) = builtinBuilder("collect_list")(Seq(e)) match {
            case f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction =>
              f.toAggregateExpression()
            case x => x
          }
          builtinBuilder("to_json")(Seq(
            builtinBuilder("map_from_arrays")(Seq(coll(args(0)), coll(args(1)))))): Expression
        }),
      ("json_quote",
        info("json_quote", "json_quote(x) - render a value as JSON text (DuckDB semantics)."),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"json_quote expects 1 argument, got ${args.length}")
          val arr = builtinBuilder("to_json")(Seq(
            org.apache.spark.sql.catalyst.expressions.CreateArray(args)))
          builtinBuilder("substring")(Seq(arr, Literal(2),
            org.apache.spark.sql.catalyst.expressions.Subtract(
              builtinBuilder("length")(Seq(arr)), Literal(2)))): Expression
        }),
      // DuckDB's map(keys_list, values_list) two-list constructor vs
      // Spark's variadic map(k1, v1, …): without the dispatch,
      // map([1,2],['a','b']) silently became a ONE-entry Spark map of
      // array→array (cardinality 1 where DuckDB says 2 — probe 16).
      // Arity 2 dispatches on the RESOLVED types (arrays → map_from_arrays,
      // scalars → the 1-entry variadic meaning); other arities stay builtin.
      ("map",
        info("map", "map(keys, values) - DuckDB two-list constructor; variadic k/v pairs otherwise."),
        (args: Seq[Expression]) => {
          if (args.length == 2) graft.functions.MapDispatch(args(0), args(1))
          else builtinBuilder("map")(args): Expression
        }))
  }

  /** Probe-24 closures: DuckDB's list/array_agg keep NULL elements and
    * return NULL (not []) on empty input — collect_list does neither.
    * Elements wrap in a single-field struct (a struct row is non-NULL
    * even when its field is), collect, unwrap, and a Size guard maps
    * the empty collection to a typed NULL. Composes with the
    * in-aggregate ORDER BY rewrite (which stacks its own named_struct
    * sort wrapper on top of array_agg).
    */
  private val registrations11: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform,
      CreateNamedStruct, EqualTo, Expression => Expr, If, LambdaFunction,
      Literal, Size, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
    import org.apache.spark.sql.types.{ArrayType, StringType}
    def aggE(e: Expr): Expr = e match {
      case f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction =>
        f.toAggregateExpression()
      case other => other
    }
    def duckList(n: String) =
      (n, info(n, s"$n(x) - DuckDB list aggregate: NULL elements kept, NULL (not []) on empty input (probe 24)."),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"$n expects 1 argument, got ${args.length}")
          val x = args.head
          val wrapped = CreateNamedStruct(Seq(
            Literal(org.apache.spark.unsafe.types.UTF8String.fromString("v"),
              StringType), x))
          val coll = aggE(builtinBuilder("collect_list")(Seq(wrapped)))
          val s = UnresolvedNamedLambdaVariable(Seq("__lst_s"))
          val unwrapped = ArrayTransform(coll, LambdaFunction(
            UnresolvedExtractValue(s, Literal(
              org.apache.spark.unsafe.types.UTF8String.fromString("v"),
              StringType)), Seq(s)))
          val nullTyped = try Literal.create(null, ArrayType(x.dataType))
            catch { case _: Throwable => Literal.create(null, ArrayType(StringType)) }
          If(EqualTo(Size(unwrapped), Literal(0)), nullTyped, unwrapped): Expression
        })
    Seq(duckList("list"), duckList("array_agg"))
  }

  // round-15 optimization: fused kernels emitted by
  // Dialect.rewriteFrameExclude's min/max decomposition (one collected
  // frame + one primitive loop instead of 4 windows / 2 interpreted
  // HOF passes per row — see functions/FrameExcludeMinMax.scala).
  private val registrations12: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = {
    def boolLit(e: Expression, what: String): Boolean = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(b: Boolean, org.apache.spark.sql.types.BooleanType) => b
      case other => throw new IllegalArgumentException(s"$what must be a boolean literal, got $other")
    }
    Seq(
      ("fe_mm_excl_cur",
        info("fe_mm_excl_cur", "fe_mm_excl_cur(frame, cur, is_min) - min/max of the collected frame with ONE instance of cur removed (window EXCLUDE CURRENT ROW rewrite kernel)."),
        (args: Seq[Expression]) => {
          require(args.length == 3, s"fe_mm_excl_cur expects 3 arguments, got ${args.length}")
          graft.functions.FeMinMaxExclCur(args(0), args(1), boolLit(args(2), "is_min"))
        }),
      ("fe_mm_excl_peers",
        info("fe_mm_excl_peers", "fe_mm_excl_peers(frame, key, self, is_min, ties) - min/max of the collected (k,v) frame excluding the current peer group, TIES re-adds self (window EXCLUDE GROUP/TIES rewrite kernel)."),
        (args: Seq[Expression]) => {
          require(args.length == 5, s"fe_mm_excl_peers expects 5 arguments, got ${args.length}")
          graft.functions.FeMinMaxExclPeers(args(0), args(1), args(2),
            boolLit(args(3), "is_min"), boolLit(args(4), "ties"))
        }))
  }

  private[graft] def allRegistrations: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] =
    registrations ++ registrations2 ++ registrations3 ++ registrations4 ++
      registrations5 ++ aliasRegistrations ++ registrations6 ++ registrations7 ++
      registrations8 ++ registrations9 ++ registrations10 ++ registrations11 ++
      registrations12

  private val txidCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** DuckDB's `product(x)` aggregate: multiplies non-NULL doubles,
    * NULL when no values (verified). A typed Aggregator — there is no
    * builtin product, and exp(sum(ln)) breaks on zeros/negatives.
    */
  private object ProductAgg extends org.apache.spark.sql.expressions.Aggregator[java.lang.Double, (Double, Boolean), java.lang.Double] {
    override def zero: (Double, Boolean) = (1.0, false)
    override def reduce(b: (Double, Boolean), a: java.lang.Double): (Double, Boolean) =
      if (a == null) b else (b._1 * a, true)
    override def merge(x: (Double, Boolean), y: (Double, Boolean)): (Double, Boolean) =
      (x._1 * y._1, x._2 || y._2)
    override def finish(r: (Double, Boolean)): java.lang.Double =
      if (r._2) r._1 else null
    override def bufferEncoder: org.apache.spark.sql.Encoder[(Double, Boolean)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaBoolean)
    override def outputEncoder: org.apache.spark.sql.Encoder[java.lang.Double] =
      org.apache.spark.sql.Encoders.DOUBLE
  }

  // One registration per session (round-8 verdict #2): the SQL-declared
  // inventory queries call injectInto on every invocation, so a bench
  // min-of-2 re-run used to re-register the full dialect surface into
  // the same session registry — the 14 `replaced a previously
  // registered function` WARNs in the BENCH_r08 tail. Weak keys: a
  // served-and-dropped newSession() must not be pinned by the guard.
  private val injectedSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Register ONLY the frame-EXCLUDE min/max kernels (round-15): the
    * declared-query path runs Dialect.sqlServed on the SHARED library
    * session, where the full injectInto would rebind builtins to
    * DuckDB semantics for every other query on that session (the
    * round-15-build element_at incident). These two names are novel —
    * no builtin is shadowed — so the narrow registration is safe
    * anywhere. Guarded per session; drop-then-register keeps the
    * warn-free-tail invariant on re-entry.
    */
  private val feKernelSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def injectFrameExcludeKernels(spark: SparkSession): Unit = {
    if (feKernelSessions.put(spark, java.lang.Boolean.TRUE) != null) return
    val reg = spark.sessionState.functionRegistry
    registrations12.foreach { case (name, inf, builder) =>
      val id = FunctionIdentifier(name)
      reg.dropFunction(id)
      reg.registerFunction(id, inf, builder)
    }
  }

  /** Registers every function above, plus the typed-Aggregator UDAF
    * `product` and the scalar UDFs below, in a built session.
    */
  def injectInto(spark: SparkSession): Unit = {
    if (injectedSessions.put(spark, java.lang.Boolean.TRUE) != null) return
    val reg = spark.sessionState.functionRegistry
    // Later registration wins (registrations6's generate_series /
    // range and registrations7's regexp_extract wrap the earlier
    // builders of the same name) — enforce it by deduping keep-LAST
    // before touching the registry, then drop
    // any existing entry (an earlier ours, or a shadowed Spark builtin
    // clone) so registerFunction never logs a replacement WARN: the
    // round-5 invariant is a warn-free bench tail, where any warn is
    // signal.
    val lastWins = scala.collection.mutable.LinkedHashMap
      .empty[String, (ExpressionInfo, Seq[Expression] => Expression)]
    allRegistrations.foreach { case (n, i, b) => lastWins(n) = (i, b) }
    lastWins.foreach { case (name, (inf, builder)) =>
      val id = FunctionIdentifier(name)
      reg.dropFunction(id)
      reg.registerFunction(id, inf, builder)
    }
    spark.udf.register("product",
      org.apache.spark.sql.functions.udaf(ProductAgg, org.apache.spark.sql.Encoders.DOUBLE))
    // String-distance / normalization functions with no Spark builtin
    // equivalent — shim-layer scalar UDFs (not used by any library hot
    // path; the library's own fuzzy-dedup uses the codegen'd kernels).
    // Each verified against DuckDB 1.5:
    //   jaro_similarity('martha','marhta') = 0.944..., winkler 0.961...
    //   damerau_levenshtein('abc','acb') = 1; strip_accents('éà')='ea'
    def nd(f: (String, String) => Double): (String, String) => java.lang.Double =
      (a, b) => if (a == null || b == null) null else java.lang.Double.valueOf(f(a, b))
    def nl(f: (String, String) => Long): (String, String) => java.lang.Long =
      (a, b) => if (a == null || b == null) null else java.lang.Long.valueOf(f(a, b))
    // json_structure: DuckDB's type-template rendering (closes the
    // last probe5 omission). Semantics pinned against DuckDB:
    // non-negative ints -> "UBIGINT", negative -> "BIGINT", floats ->
    // "DOUBLE", strings "VARCHAR", bools "BOOLEAN", null "NULL";
    // arrays unify elementwise (NULL yields to anything, the numeric
    // ladder UBIGINT<BIGINT<DOUBLE widens, objects merge keys,
    // incompatibles collapse to "JSON", [] -> ["NULL"]); malformed
    // input fails loudly like DuckDB's Invalid Input Error.
    spark.udf.register("json_structure", (s: String) =>
      if (s == null) null else graft.functions.JsonStructure.render(s))
    // probe-20 JSON tail (each pinned against DuckDB): json_type's
    // scalar vocabulary (UBIGINT/BIGINT/DOUBLE/VARCHAR/BOOLEAN/NULL),
    // RFC-7386 merge_patch (null deletes), deep-subtree containment,
    // json_quote's value-to-JSON-text rendering
    spark.udf.register("json_type", (s: String) =>
      if (s == null) null else graft.functions.JsonTail.jsonType(s))
    spark.udf.register("json_merge_patch", (a: String, b: String) =>
      if (a == null || b == null) null
      else graft.functions.JsonTail.mergePatch(a, b))
    spark.udf.register("json_contains", (h: String, n: String) =>
      if (h == null || n == null) null
      else java.lang.Boolean.valueOf(graft.functions.JsonTail.contains(h, n)))
    // DuckDB's string-distance family operates on UTF-8 BYTES, not
    // codepoints (round-13 fuzz v4: levenshtein('ÄbÇ','AbC') = 4 there,
    // jaro_similarity = 0.5111 — both only explainable byte-wise).
    // The ISO-8859-1 round-trip maps each UTF-8 byte to one char, so
    // the char-based algorithms below become byte-based exactly.
    def byteView(s: String): String =
      new String(s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.StandardCharsets.ISO_8859_1)
    def bd(f: (String, String) => Double): (String, String) => java.lang.Double =
      (a, b) => if (a == null || b == null) null
        else java.lang.Double.valueOf(f(byteView(a), byteView(b)))
    def bl(f: (String, String) => Long): (String, String) => java.lang.Long =
      (a, b) => if (a == null || b == null) null
        else java.lang.Long.valueOf(f(byteView(a), byteView(b)))
    spark.udf.register("jaro_similarity", bd(StringDistances.jaro))
    spark.udf.register("jaro_winkler_similarity", bd(StringDistances.jaroWinkler))
    spark.udf.register("damerau_levenshtein", bl(StringDistances.damerauLevenshtein))
    // Spark's builtin levenshtein counts codepoint edits — drop it (the
    // chr pattern below: replacement WARNs break the warn-free-tail
    // invariant) and register the byte-based form under both DuckDB
    // names. DataFrame-side hot paths calling functions.levenshtein
    // directly keep the codegen'd builtin.
    reg.dropFunction(FunctionIdentifier("levenshtein"))
    spark.udf.register("levenshtein", bl(StringDistances.levenshtein))
    reg.dropFunction(FunctionIdentifier("editdist3"))
    spark.udf.register("editdist3", bl(StringDistances.levenshtein))
    // Spark's builtin chr is byte-oriented (codepoint % 256 — chr(769)
    // silently yields ́ % 256 = \x01) while DuckDB's takes any
    // Unicode codepoint and ERRORS outside the valid range (probe 19
    // follow-up: nfc_normalize('e' || chr(769)) silently broke through
    // the wrapped chr). Full-range Unicode with DuckDB's loud bounds.
    // Drop the builtin clone FIRST — udf.register over an existing name
    // logs a replacement WARN, and the warn-free invariant
    // (WarnAuditSpec) treats any warn as signal.
    reg.dropFunction(FunctionIdentifier("chr"))
    spark.udf.register("chr", (cp: Int) =>
      if (cp < 0 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF))
        throw new IllegalArgumentException(s"Invalid UTF8 Codepoint $cp")
      else new String(Character.toChars(cp)))
    spark.udf.register("nfc_normalize", (s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    spark.udf.register("strip_accents", (s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
        .replaceAll("\\p{M}", ""))
    // gamma/lgamma via commons-math3 (ships with Spark — verified
    // gamma(5) = 24, lgamma(5) = 3.178..., gamma(0.5) = sqrt(pi))
    def nd1(f: Double => Double): java.lang.Double => java.lang.Double =
      x => if (x == null) null else java.lang.Double.valueOf(f(x.doubleValue()))
    spark.udf.register("gamma",
      nd1(org.apache.commons.math3.special.Gamma.gamma))
    spark.udf.register("lgamma",
      nd1(org.apache.commons.math3.special.Gamma.logGamma))
    // gcd/lcm over int64 (verified gcd(-12,18) = 6, gcd(0,0) = 0,
    // lcm(0,5) = 0 — DuckDB takes absolute values)
    def gcdL(a: Long, b: Long): Long = {
      var (x, y) = (math.abs(a), math.abs(b))
      while (y != 0) { val t = x % y; x = y; y = t }
      x
    }
    def nl2(f: (Long, Long) => Long): (java.lang.Long, java.lang.Long) => java.lang.Long =
      (a, b) => if (a == null || b == null) null else java.lang.Long.valueOf(f(a, b))
    spark.udf.register("gcd", nl2(gcdL))
    spark.udf.register("greatest_common_divisor", nl2(gcdL))
    def lcmL(a: Long, b: Long): Long =
      if (a == 0 || b == 0) 0L else math.abs(a / gcdL(a, b) * b)
    spark.udf.register("lcm", nl2(lcmL))
    spark.udf.register("least_common_multiple", nl2(lcmL))
    // format_bytes: binary units with TRUNCATED tenths (verified
    // 1234567 → '1.1 MiB' where round-half would give 1.2, 1887436 →
    // '1.7 MiB', 1023 → '1023 bytes')
    spark.udf.register("format_bytes", (n: java.lang.Long) =>
      if (n == null) null
      else {
        val b = n.longValue()
        if (b < 1024L) s"$b bytes"
        else {
          val units = Seq("KiB", "MiB", "GiB", "TiB", "PiB", "EiB")
          var unit = 1024L; var i = 0
          while (i < units.length - 1 && b >= unit * 1024L) { unit *= 1024L; i += 1 }
          val t = (BigInt(b) * 10 / BigInt(unit)).toLong // truncated tenths
          s"${t / 10}.${t % 10} ${units(i)}"
        }
      })
    // formatReadableDecimalSize: the DECIMAL-unit sibling (verified
    // 999 → '999 bytes', 1500 → '1.5 kB', 123456789 → '123.4 MB' —
    // lowercase 'k', truncated tenths like format_bytes)
    spark.udf.register("formatReadableDecimalSize", (n: java.lang.Long) =>
      if (n == null) null
      else {
        val b = n.longValue()
        if (b > -1000L && b < 1000L) s"$b bytes"
        else {
          val neg = b < 0; val abs = math.abs(b)
          val units = Seq("kB", "MB", "GB", "TB", "PB", "EB")
          var unit = 1000L; var i = 0
          while (i < units.length - 1 && abs >= unit * 1000L) { unit *= 1000L; i += 1 }
          val t = (BigInt(abs) * 10 / BigInt(unit)).toLong
          s"${if (neg) "-" else ""}${t / 10}.${t % 10} ${units(i)}"
        }
      })
    // bitstring: DuckDB's BIT constructor, zero-padded on the left.
    // Our column type is VARCHAR (Spark has no BIT); the rendered
    // value is character-identical to DuckDB's bitstring display —
    // the type divergence is documented in COVERAGE.md. Both DuckDB
    // errors reproduce: non-0/1 characters, and a target length
    // shorter than the input (verified: bitstring('0101', 8) =
    // '00000101'; bitstring('0101', 3) errors).
    spark.udf.register("bitstring", (s: String, len: java.lang.Integer) =>
      if (s == null || len == null) null
      else {
        if (!s.forall(c => c == '0' || c == '1'))
          throw new IllegalArgumentException(
            s"bitstring: invalid character in bit string: '$s'")
        if (len.intValue() < s.length)
          throw new IllegalArgumentException(
            "bitstring: length must be equal to or larger than the length of the bit string")
        ("0" * (len.intValue() - s.length)) + s
      })
    // txid_current: transaction ids have no Spark meaning — a
    // session-monotonic counter reproduces the one USEFUL property
    // (strictly increasing across calls) without inventing fake
    // transactional semantics. Nondeterministic so Catalyst never
    // collapses two calls into one.
    spark.udf.register("txid_current",
      org.apache.spark.sql.functions.udf(() => txidCounter.incrementAndGet())
        .asNondeterministic())
    // regexp_escape: backslash-escape every regex metacharacter
    // (verified regexp_escape('a.b') = 'a\.b')
    spark.udf.register("regexp_escape", (s: String) =>
      if (s == null) null
      else s.replaceAll("""[.^$\\*+?()\[\]{}|]""", """\\$0"""))
    // substring_grapheme: 1-based, length in GRAPHEME CLUSTERS —
    // java.text.BreakIterator gives the same cluster boundaries
    // DuckDB's utf8proc does for combining sequences
    spark.udf.register("substring_grapheme",
      (s: String, start: java.lang.Integer, len: java.lang.Integer) =>
        if (s == null || start == null || len == null) null
        else {
          val it = java.text.BreakIterator.getCharacterInstance
          it.setText(s)
          val bounds = scala.collection.mutable.ArrayBuffer(it.first())
          var b = it.next()
          while (b != java.text.BreakIterator.DONE) { bounds += b; b = it.next() }
          val n = bounds.length - 1 // grapheme count
          val from = math.max(0, start.intValue() - 1)
          val until = math.min(n, from + math.max(0, len.intValue()))
          if (from >= until) "" else s.substring(bounds(from), bounds(until))
        })
    // current_setting: the introspection settings a client actually
    // reads, SNAPSHOTTED at registration (the UDF runs on executors
    // where the session is unreachable); unknown keys fail loudly.
    // Values render as text — DuckDB types them per setting.
    val settingsSnapshot: Map[String, String] =
      Map("threads" -> spark.sparkContext.defaultParallelism.toString,
        "memory_limit" -> spark.conf.getOption("spark.driver.memory").getOrElse("unset")) ++
        spark.conf.getAll
    spark.udf.register("current_setting", (k: String) =>
      if (k == null) null
      else settingsSnapshot.getOrElse(k,
        throw new IllegalArgumentException(s"current_setting: unknown setting '$k'")))
  }

  /** Textbook Jaro / Jaro-Winkler / Damerau-Levenshtein (the full
    * unrestricted-transposition variant DuckDB exposes is OSA there —
    * verified damerau_levenshtein('ca','abc') below settles which).
    */
  private[graft] object StringDistances {
    def jaro(a: String, b: String): Double = {
      if (a.isEmpty && b.isEmpty) return 1.0
      if (a.isEmpty || b.isEmpty) return 0.0
      val window = math.max(0, math.max(a.length, b.length) / 2 - 1)
      val aM = new Array[Boolean](a.length)
      val bM = new Array[Boolean](b.length)
      var m = 0
      for (i <- a.indices) {
        val lo = math.max(0, i - window); val hi = math.min(b.length - 1, i + window)
        var j = lo
        var hit = false
        while (j <= hi && !hit) {
          if (!bM(j) && a.charAt(i) == b.charAt(j)) { aM(i) = true; bM(j) = true; m += 1; hit = true }
          j += 1
        }
      }
      if (m == 0) return 0.0
      var t = 0; var k = 0
      for (i <- a.indices if aM(i)) {
        while (!bM(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      (m.toDouble / a.length + m.toDouble / b.length + (m - t / 2.0) / m) / 3.0
    }
    def jaroWinkler(a: String, b: String): Double = {
      val j = jaro(a, b)
      var l = 0
      while (l < math.min(4, math.min(a.length, b.length)) && a.charAt(l) == b.charAt(l)) l += 1
      j + l * 0.1 * (1.0 - j)
    }
    // FULL Damerau-Levenshtein (Lowrance-Wagner), not the restricted
    // OSA variant: verified DuckDB damerau_levenshtein('ca','abc') = 2
    // (OSA would say 3)
    def damerauLevenshtein(a: String, b: String): Long = {
      val (n, m) = (a.length, b.length)
      val inf = n + m
      val d = Array.ofDim[Int](n + 2, m + 2)
      d(0)(0) = inf
      for (i <- 0 to n) { d(i + 1)(0) = inf; d(i + 1)(1) = i }
      for (j <- 0 to m) { d(0)(j + 1) = inf; d(1)(j + 1) = j }
      val da = scala.collection.mutable.Map.empty[Char, Int]
      for (i <- 1 to n) {
        var db = 0
        for (j <- 1 to m) {
          val k = da.getOrElse(b.charAt(j - 1), 0)
          val l = db
          val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) { db = j; 0 } else 1
          d(i + 1)(j + 1) = math.min(
            math.min(d(i)(j) + cost, d(i + 1)(j) + 1),
            math.min(d(i)(j + 1) + 1, d(k)(l) + (i - k - 1) + 1 + (j - l - 1)))
        }
        da(a.charAt(i - 1)) = i
      }
      d(n + 1)(m + 1).toLong
    }

    /** Plain Levenshtein (two-row DP). Callers pass a byteView'd
      * string, so the distance is UTF-8 byte edits like DuckDB's.
      */
    def levenshtein(a: String, b: String): Long = {
      if (a.isEmpty) return b.length.toLong
      if (b.isEmpty) return a.length.toLong
      var prev = Array.tabulate(b.length + 1)(identity)
      var cur = new Array[Int](b.length + 1)
      var i = 1
      while (i <= a.length) {
        cur(0) = i
        var j = 1
        while (j <= b.length) {
          val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), prev(j - 1) + cost)
          j += 1
        }
        val t = prev; prev = cur; cur = t
        i += 1
      }
      prev(b.length).toLong
    }
  }
}
