package graft.server

import org.apache.spark.sql.SparkSession

/** DuckDB-dialect compatibility shim for the HTTP serving plane.
  *
  * The reference's clients speak DuckDB SQL (uquery-rs forwards the
  * text verbatim to libduckdb, src/core/duckdb.rs:87). The well-defined
  * sugar they rely on is rewritten here onto Spark SQL so those
  * queries run unchanged:
  *
  *   - `SELECT * EXCLUDE (a, b)`      → `SELECT * EXCEPT (a, b)` (native in Spark 4)
  *   - `... QUALIFY <pred>`           → wrap in a subquery + WHERE
  *   - `read_parquet('p')`            → `parquet.`p``
  *   - `read_csv[_auto]('p')` /
  *     `read_json[_auto]('p')`        → temp view over spark.read with
  *                                       header+schema inference (DuckDB
  *                                       auto-inference semantics)
  *   - bare `FROM 'file.csv'`         → same as the explicit readers
  *
  * Every rewrite is a narrow syntactic match; SQL that matches nothing
  * passes through untouched. String literals and quoted identifiers
  * are respected by a real scanner, not lookarounds. File paths are
  * validated against the sandbox BEFORE any read touches disk (schema
  * inference would otherwise leak bytes ahead of the plan-level check).
  */
object Dialect {

  final case class RejectedPath(path: String)
      extends RuntimeException(s"file access outside allowed directories: $path")

  // SQL identifier characters — '_' must count, or identifiers like
  // __qualify would re-trigger keyword matches
  private def isWordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'

  /** Positions of characters that sit inside quotes ('…' with '' escape,
    * "…" identifiers, `…` identifiers) — rewrites must skip these.
    */
  private def quoteMask(sql: String): Array[Boolean] = {
    val mask = new Array[Boolean](sql.length)
    var i = 0
    var q: Char = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (q == 0) {
        if (c == '\'' || c == '"' || c == '`') { q = c; mask(i) = true }
      } else {
        mask(i) = true
        if (c == q) {
          // '' escape inside single quotes stays inside the literal
          if (q == '\'' && i + 1 < sql.length && sql.charAt(i + 1) == '\'') { mask(i + 1) = true; i += 1 }
          else q = 0
        }
      }
      i += 1
    }
    mask
  }

  /** First top-level (paren-depth-0, unquoted) occurrence of a keyword;
    * -1 if absent.
    */
  private def firstTopLevel(sql: String, kw: String): Int = {
    val mask = quoteMask(sql)
    val upper = sql.toUpperCase
    var depth = 0
    var i = 0
    while (i < sql.length) {
      if (!mask(i)) {
        sql.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
            if (depth == 0 && upper.startsWith(kw, i) &&
                (i == 0 || !isWordChar(sql.charAt(i - 1))) &&
                (i + kw.length >= sql.length || !isWordChar(sql.charAt(i + kw.length))))
              return i
        }
      }
      i += 1
    }
    -1
  }

  /** Any unquoted occurrence of a raw token (no word-boundary check) —
    * lets callers (and specs) ask "does this SQL use dialect surface
    * outside string literals?".
    */
  private[graft] def hasUnquoted(sql: String, tok: String): Boolean = {
    val mask = quoteMask(sql)
    var i = 0
    while (i + tok.length <= sql.length) {
      if (!mask(i) && sql.startsWith(tok, i)) return true
      i += 1
    }
    false
  }

  /** Any unquoted occurrence of a keyword at ANY paren depth (used to
    * detect window expressions nested inside a predicate).
    */
  private def containsUnquoted(sql: String, kw: String): Boolean = {
    val mask = quoteMask(sql)
    val upper = sql.toUpperCase
    var i = 0
    while (i < sql.length) {
      if (!mask(i) && upper.startsWith(kw, i) &&
          (i == 0 || !isWordChar(sql.charAt(i - 1))) &&
          (i + kw.length >= sql.length || !isWordChar(sql.charAt(i + kw.length))))
        return true
      i += 1
    }
    false
  }

  /** Find the last top-level (paren-depth-0, unquoted) occurrence of a
    * keyword; -1 if absent.
    */
  private def lastTopLevel(sql: String, kw: String): Int = {
    val mask = quoteMask(sql)
    val upper = sql.toUpperCase
    var depth = 0
    var found = -1
    var i = 0
    while (i < sql.length) {
      if (!mask(i)) {
        sql.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
            if (depth == 0 && upper.startsWith(kw, i) &&
                (i == 0 || !isWordChar(sql.charAt(i - 1))) &&
                (i + kw.length >= sql.length || !isWordChar(sql.charAt(i + kw.length))))
              found = i
        }
      }
      i += 1
    }
    found
  }

  /** `prefix QUALIFY cond [ORDER BY …] [LIMIT …]` →
    * `SELECT * FROM (prefix) __q WHERE cond [ORDER BY …] [LIMIT …]`.
    * The predicate references select-list aliases, which the subquery
    * wrap makes visible — the same rewrite e_qualify_topk_per_group
    * applies at authoring time.
    */
  private def rewriteQualify(sql: String): String = {
    val at = lastTopLevel(sql, "QUALIFY")
    if (at < 0) return sql
    val prefix = sql.substring(0, at).trim
    val rest = sql.substring(at + "QUALIFY".length)
    // split the trailing ORDER BY / LIMIT / OFFSET off the predicate
    val tailAt = Seq("ORDER", "LIMIT", "OFFSET")
      .map(k => lastTopLevel(rest, k)).filter(_ >= 0).sorted.headOption
    val (cond, tail) = tailAt match {
      case Some(t) => (rest.substring(0, t), rest.substring(t))
      case None => (rest, "")
    }
    // DuckDB's most common form is an INLINE window predicate
    // (`QUALIFY row_number() OVER (…) = 1`). Spark rejects window
    // functions in WHERE, so the predicate is synthesized as an aliased
    // boolean column and filtered by alias. DuckDB evaluates QUALIFY
    // BEFORE the projection (base columns are in scope), so the column
    // is injected at FROM level — below the select list — whenever the
    // query has no GROUP BY; a named WINDOW clause stays in scope
    // because it travels with the FROM segment. With GROUP BY the
    // injection point must sit above the aggregate instead (windows
    // there can only see projected columns — same as the alias path).
    // Alias-only predicates keep the plain WHERE rewrite (their window
    // already ran inside `prefix`).
    if (containsUnquoted(cond, "OVER")) {
      val fromAt = firstTopLevel(prefix, "FROM")
      if (fromAt >= 0 && firstTopLevel(prefix, "GROUP") < 0) {
        val selectList = prefix.substring(0, fromAt).trim
        val fromSeg = prefix.substring(fromAt)
        s"""$selectList FROM (
           |  SELECT *, (${cond.trim}) AS __qp $fromSeg
           |) __qualify WHERE __qp ${tail.trim}""".stripMargin.trim
      } else
        s"""SELECT * EXCEPT (__qp) FROM (
           |  SELECT *, (${cond.trim}) AS __qp FROM ($prefix) __qualify_in
           |) __qualify WHERE __qp ${tail.trim}""".stripMargin.trim
    } else
      s"SELECT * FROM ($prefix) __qualify WHERE ${cond.trim} ${tail.trim}".trim
  }

  /** `* EXCLUDE (…)` → `* EXCEPT (…)` — only when the keyword follows a
    * `*` at the same nesting (the star-modifier position).
    */
  private def rewriteExclude(sql: String): String = {
    val mask = quoteMask(sql)
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      if (!mask(i) && sql.toUpperCase.startsWith("EXCLUDE", i) &&
          (i == 0 || !isWordChar(sql.charAt(i - 1))) &&
          (i + 7 >= sql.length || !isWordChar(sql.charAt(i + 7)))) {
        val before = sql.substring(0, i).reverse.dropWhile(_.isWhitespace)
        if (before.headOption.contains('*')) { out.append("EXCEPT"); i += 7 }
        else { out.append(sql.charAt(i)); i += 1 }
      } else { out.append(sql.charAt(i)); i += 1 }
    }
    out.toString
  }

  /** `SELECT DISTINCT ON (keys) list FROM … [ORDER BY ord] [tail]` →
    * row_number window partitioned by the keys, ordered by the query's
    * ORDER BY (DuckDB semantics: first row per key in output order).
    * Window ordering must reference base columns, the common usage; an
    * alias there fails analysis and surfaces as a 400 like any bad SQL.
    */
  private def rewriteDistinctOn(sql: String): String = {
    val upper = sql.toUpperCase
    val sel = firstTopLevel(sql, "SELECT")
    if (sel < 0) return sql
    val donAt = upper.indexOf("DISTINCT ON", sel)
    if (donAt < 0 || sql.substring(sel + 6, donAt).trim.nonEmpty) return sql
    // matching-paren extraction of the key list
    val open = sql.indexOf('(', donAt)
    if (open < 0) return sql
    val mask = quoteMask(sql)
    var depth = 0; var i = open; var close = -1
    while (i < sql.length && close < 0) {
      if (!mask(i)) {
        if (sql.charAt(i) == '(') depth += 1
        else if (sql.charAt(i) == ')') { depth -= 1; if (depth == 0) close = i }
      }
      i += 1
    }
    if (close < 0) return sql
    val keys = sql.substring(open + 1, close)
    val remainder = sql.substring(close + 1) // "<select-list> FROM <rest> [ORDER BY …]"
    val tailAt = Seq("ORDER", "LIMIT", "OFFSET")
      .map(k => lastTopLevel(remainder, k)).filter(_ >= 0).sorted.headOption
    val (body, tail) = tailAt match {
      case Some(t) => (remainder.substring(0, t), remainder.substring(t))
      case None => (remainder, "")
    }
    val ordAt = lastTopLevel(tail, "ORDER")
    val windowOrder =
      if (ordAt >= 0) {
        val afterOrder = tail.substring(ordAt)
        val cut = Seq("LIMIT", "OFFSET").map(k => lastTopLevel(afterOrder, k))
          .filter(_ >= 0).sorted.headOption
        cut.map(c => afterOrder.substring("ORDER BY".length + 1, c))
          .getOrElse(afterOrder.substring("ORDER BY".length + 1))
      } else keys
    val fromAt = firstTopLevel(body, "FROM")
    if (fromAt < 0) return sql
    val selectList = body.substring(0, fromAt).trim
    val rest = body.substring(fromAt)
    // DuckDB resolves the outer ORDER BY against the FROM scope, but
    // the rewrite's outer query only sees the (possibly aliased)
    // select list — `DISTINCT ON (f) f0 AS f ... ORDER BY f0` used to
    // fail UNRESOLVED_COLUMN (grammar-v7 finding). Sort keys that are
    // not output columns are projected as hidden __obN columns inside
    // the subquery and excluded with __rn.
    val outNames: Set[String] = splitTopLevel(selectList, ',').map(_.trim).map { it =>
      val up = it.toUpperCase(java.util.Locale.ROOT)
      val asAt = up.lastIndexOf(" AS ")
      val nm =
        if (asAt >= 0) it.substring(asAt + 4).trim
        else it.substring(it.lastIndexOf('.') + 1).trim
      nm.stripPrefix("`").stripSuffix("`").toLowerCase(java.util.Locale.ROOT)
    }.toSet
    val hasStar = selectList.contains("*")
    var obCount = 0
    val hidden = new scala.collection.mutable.ArrayBuffer[String]()
    val outerTail =
      if (ordAt < 0) tail.trim
      else {
        val afterOrder = tail.substring(ordAt)
        val cut = Seq("LIMIT", "OFFSET").map(k => lastTopLevel(afterOrder, k))
          .filter(_ >= 0).sorted.headOption
        val (orderTxt, limitTxt) = cut match {
          case Some(c) => (afterOrder.substring("ORDER BY".length + 1, c), afterOrder.substring(c))
          case None => (afterOrder.substring("ORDER BY".length + 1), "")
        }
        val items = splitTopLevel(orderTxt, ',').map(_.trim).filter(_.nonEmpty).map { item =>
          val sufRe = """(?i)\s+(ASC|DESC)(\s+NULLS\s+(FIRST|LAST))?\s*$|\s+NULLS\s+(FIRST|LAST)\s*$""".r
          val suffix = sufRe.findFirstIn(item).getOrElse("")
          val keyExpr = item.substring(0, item.length - suffix.length).trim
          val bare = keyExpr.substring(keyExpr.lastIndexOf('.') + 1)
            .stripPrefix("`").stripSuffix("`").toLowerCase(java.util.Locale.ROOT)
          val isOut = outNames.contains(bare) ||
            (hasStar && keyExpr.matches("""[A-Za-z_`][A-Za-z0-9_.`]*"""))
          if (isOut) item
          else {
            val nm = s"__ob$obCount"; obCount += 1
            hidden += s"($keyExpr) AS $nm"
            s"$nm$suffix"
          }
        }
        val pre = tail.substring(0, ordAt).trim
        (if (pre.nonEmpty) pre + " " else "") +
          s"ORDER BY ${items.mkString(", ")}" +
          (if (limitTxt.nonEmpty) " " + limitTxt.trim else "")
      }
    val hiddenSel = if (hidden.isEmpty) "" else hidden.mkString(", ", ", ", "")
    val exceptCols = ("__rn" +: (0 until obCount).map(i => s"__ob$i")).mkString(", ")
    s"""SELECT * EXCEPT ($exceptCols) FROM (
       |  SELECT $selectList$hiddenSel,
       |    row_number() OVER (PARTITION BY $keys ORDER BY ${windowOrder.trim}) AS __rn
       |  $rest) __distinct_on
       |WHERE __rn = 1 $outerTail""".stripMargin.trim
  }

  /** `SUMMARIZE <table>` → a select over the profiled view
    * (operators.SummaryProfile — Dataset.summary's semantics rebuilt
    * on raw catalyst aggregates; Spark 4's own summary() resolves
    * function names through the session registry, where the dialect's
    * list-valued element_at intercepted its internal stat-map reads —
    * round-15 regression caught by the probe5 pin): DuckDB's
    * interactive profiling verb.
    */
  private def rewriteSummarize(spark: SparkSession, sql: String): String = {
    val m = """(?i)^\s*SUMMARIZE\s+([A-Za-z_][A-Za-z0-9_.]*)\s*;?\s*$""".r
    // DuckDB also SUMMARIZEs a query: `SUMMARIZE SELECT ...`
    val mq = """(?is)^\s*SUMMARIZE\s+((?:\()?\s*(?:SELECT|WITH|VALUES|FROM)\b.*?)\s*;?\s*$""".r
    def viewOf(key: String, df: => org.apache.spark.sql.DataFrame): String = {
      // full md5 of the source text — same recipe as rewriteSources'
      // viewFor: 32-bit hashCode collisions ("Aa"/"BB") would race two
      // concurrent SUMMARIZEs onto one view name
      val name = "graft_summarize_" + java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      graft.operators.SummaryProfile.of(df).createOrReplaceTempView(name)
      name
    }
    sql match {
      case m(table) =>
        s"SELECT * FROM ${viewOf(table, spark.table(table))}"
      case mq(q) =>
        val body = if (q.toUpperCase.startsWith("FROM")) rewriteFromFirst(q) else q
        s"SELECT * FROM ${viewOf(body, spark.sql(body))}"
      case _ => sql
    }
  }

  /** DuckDB's simplified `PIVOT` statement →
    * Spark's `SELECT * FROM … PIVOT (… FOR … IN (…))`.
    *
    * Covered form (the one DuckDB's docs lead with):
    *   `PIVOT <table> ON <col> USING <agg>(<arg>) [GROUP BY <cols>]`
    * Spark requires an explicit IN value list where DuckDB auto-detects
    * the spreading values, so the rewrite enumerates
    * `SELECT DISTINCT <col>` at rewrite time (ordered — deterministic
    * column order, matching DuckDB's sorted pivot columns). Both
    * engines then name generated columns by the value itself. Other
    * PIVOT spellings pass through and fail loudly downstream (project
    * rule: an error beats silently-different results).
    */
  private def rewritePivot(spark: SparkSession, sql: String): String = {
    // the ORDER BY / LIMIT tail is part of DuckDB's simplified-PIVOT
    // statement (docs lead with `PIVOT … GROUP BY … ORDER BY … LIMIT n`);
    // Spark accepts the same tail after its PIVOT clause verbatim
    val m = ("""(?is)^\s*PIVOT\s+([A-Za-z_][A-Za-z0-9_.]*)\s+ON\s+([A-Za-z_][A-Za-z0-9_]*)""" +
      """(?:\s+IN\s*\(([^)]*)\))?""" +
      """\s+USING\s+([A-Za-z_][A-Za-z0-9_]*)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)""" +
      """(?:\s+GROUP\s+BY\s+([A-Za-z0-9_,\s]+?))?""" +
      """(?:\s+ORDER\s+BY\s+([A-Za-z0-9_,.\s"]+?))?""" +
      """(?:\s+LIMIT\s+(\d+))?\s*;?\s*$""").r
    sql match {
      case m(table, onCol, explicitIn, aggFn, aggArg, groupBy, orderBy, limit) =>
        // an explicit `ON c IN (v1, v2)` list skips value enumeration
        // entirely (DuckDB's spelling for a fixed spreading list).
        // Enumeration failure (missing table/column) passes the text
        // through UNREWRITTEN — the loud table-not-found belongs to
        // analysis, not to a rewrite-time crash
        val inListOpt = Option(explicitIn).map(_.trim).filter(_.nonEmpty).orElse {
          try {
            val vals = spark.table(table).select(onCol).distinct().na.drop()
              .orderBy(onCol).collect().map(_.get(0))
            Some(vals.map {
              case s: String => "'" + s.replace("'", "''") + "'"
              case v => String.valueOf(v)
            }.mkString(", "))
          } catch { case scala.util.control.NonFatal(_) => None }
        }
        val inList = inListOpt.getOrElse(return sql)
        val src = Option(groupBy).map(_.trim).filter(_.nonEmpty) match {
          // explicit GROUP BY → project exactly (groups, on, arg): Spark
          // pivots group by all remaining columns
          case Some(g) => s"(SELECT $g, $onCol, $aggArg FROM $table)"
          case None => table
        }
        val tail = Option(orderBy).map(o => s" ORDER BY ${o.trim}").getOrElse("") +
          Option(limit).map(l => s" LIMIT $l").getOrElse("")
        s"SELECT * FROM $src PIVOT ($aggFn($aggArg) FOR $onCol IN ($inList))$tail"
      case _ => sql
    }
  }

  /** First depth-0, unmasked, word-bounded occurrence of keyword `kw`
    * (case-insensitive), tracking (), [] and {} — the bracket-content
    * variant of [[firstTopLevel]] (which only tracks parens).
    */
  private def topLevelKeyword(content: String, kw: String): Int = {
    val mask = quoteMask(content)
    val upper = content.toUpperCase
    var depth = 0
    var i = 0
    while (i < content.length) {
      if (!mask(i)) {
        content.charAt(i) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case _ =>
            if (depth == 0 && upper.startsWith(kw, i) &&
                (i == 0 || !isWordChar(content.charAt(i - 1))) &&
                (i + kw.length >= content.length || !isWordChar(content.charAt(i + kw.length))))
              return i
        }
      }
      i += 1
    }
    -1
  }

  /** DuckDB list comprehension `[expr FOR v IN list (IF cond)?]` →
    * `transform(list, v -> expr)`, with the IF clause becoming an
    * inner `filter(list, v -> cond)`. Returns None when the bracket
    * content isn't comprehension-shaped (plain list literal).
    * Nested comprehensions come out as bracket content of the result
    * and are rewritten by the enclosing loop's re-scan.
    */
  private def comprehensionToTransform(content: String): Option[String] = {
    val forAt = topLevelKeyword(content, "FOR")
    if (forAt < 0) return None
    val expr = content.substring(0, forAt).trim
    val rest = content.substring(forAt + 3)
    val inAt = topLevelKeyword(rest, "IN")
    if (inAt < 0) return None
    val v = rest.substring(0, inAt).trim
    if (expr.isEmpty || v.isEmpty || !v.forall(isWordChar) || v.charAt(0).isDigit)
      return None
    val tail = rest.substring(inAt + 2)
    val ifAt = topLevelKeyword(tail, "IF")
    val (lst, cond) =
      if (ifAt < 0) (tail.trim, None)
      else (tail.substring(0, ifAt).trim, Some(tail.substring(ifAt + 2).trim))
    if (lst.isEmpty || cond.exists(_.isEmpty)) return None
    Some(cond match {
      case Some(c) => s"transform(filter($lst, $v -> $c), $v -> $expr)"
      case None => s"transform($lst, $v -> $expr)"
    })
  }

  /** DuckDB bracket syntax → Spark functions, quote-aware:
    *
    *   - postfix `expr[i]`    → `try_element_at(expr, i)` (1-based,
    *     NULL out-of-range — DuckDB's semantics; Spark's native `[ ]`
    *     is 0-based on arrays, so the dialect shim must translate)
    *   - postfix `expr[0]`    → typed NULL (DuckDB returns NULL at 0)
    *   - `expr[a:b]`          → `slice(expr, a, b-a+1)` (1-based,
    *     end-inclusive); `[:b]`, `[a:]`, `[:]` handled
    *   - non-postfix `[x, y]` and `ARRAY[x, y]` → `array(x, y)`
    *   - `[expr FOR v IN xs IF cond]` list comprehensions →
    *     `transform(filter(xs, v -> cond), v -> expr)`
    *   - `CAST(x AS T[])` type suffixes are left untouched
    *
    * `map[k]` yields a one-element LIST ([value] / []), exactly as
    * DuckDB's map_extract — closed in round 15 (grammar v9); it was a
    * documented bare-value divergence before.
    */
  private def rewriteBrackets(sql: String): String = {
    var s = sql
    var from = 0
    var guard = 0
    while (guard < 10000) {
      guard += 1
      val mask = quoteMask(s)
      var i = from
      while (i < s.length && (mask(i) || s.charAt(i) != '[')) i += 1
      if (i >= s.length) return s
      // matching ']' (nested brackets allowed)
      var depth = 0; var j = i; var close = -1
      while (j < s.length && close < 0) {
        if (!mask(j)) {
          if (s.charAt(j) == '[') depth += 1
          else if (s.charAt(j) == ']') { depth -= 1; if (depth == 0) close = j }
        }
        j += 1
      }
      if (close < 0) return s // unbalanced — leave untouched
      val content = s.substring(i + 1, close)
      var p = i - 1
      while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
      // a string literal is a subscriptable primary too: 'abcdef'[2:4]
      val postfix = p >= 0 &&
        (isWordChar(s.charAt(p)) || s.charAt(p) == ')' || s.charAt(p) == ']' ||
          s.charAt(p) == '`' || s.charAt(p) == '\'')
      // a comprehension-shaped bracket is NEVER a subscript (the
      // postfix heuristic sees `SELECT [x for …]` as "subscript of the
      // word SELECT" because the content has no top-level comma)
      val comp = comprehensionToTransform(content)
      if (!postfix || comp.isDefined) {
        val repl = comp.getOrElse("array(" + content + ")")
        s = s.substring(0, i) + repl + s.substring(close + 1)
        from = i // literal content may itself contain brackets
      } else if (content.trim.isEmpty) {
        val start0 = operandStart(s, p)
        if (literalAfterKeyword(s.substring(start0, p + 1))) {
          // `SELECT []` / `THEN []` — an EMPTY list literal after a
          // bare keyword (round-13 fuzz; the type-suffix skip below
          // used to leave it for Spark's parser to reject)
          s = s.substring(0, i) + "array()" + s.substring(close + 1)
          from = i
        } else from = close + 1 // `INTEGER[]` type suffix, not a subscript
      } else {
        val start = operandStart(s, p)
        val operand = s.substring(start, p + 1)
        if (operand.equalsIgnoreCase("ARRAY")) {
          // DuckDB's explicit list-literal keyword form
          s = s.substring(0, start) + "array(" + content + ")" + s.substring(close + 1)
          from = start
        } else if (literalAfterKeyword(operand)) {
          // `SELECT [1]`, `WHEN [..] THEN` — a bracket after a bare SQL
          // keyword is a list literal, not a subscript of the keyword
          s = s.substring(0, i) + "array(" + content + ")" + s.substring(close + 1)
          from = i
        } else if (topLevelComma(content)) {
          from = close + 1 // not a DuckDB subscript shape — leave as-is
        } else {
          val colon = topLevelColon(content)
          val repl =
            if (colon < 0) {
              // graft_at dispatches on operand type (string chars,
              // list 1-based with the [0] → NULL edge, map lookup)
              s"graft_at($operand, ${content.trim})"
            } else {
              // graft_slice carries DuckDB's full slice semantics
              // (end-inclusive, negative-from-end, clamping) for both
              // strings and lists; missing bounds are 1 and -1
              val a = content.substring(0, colon).trim
              val rest = content.substring(colon + 1)
              val colon2 = topLevelColon(rest)
              if (colon2 >= 0) {
                // step slice a[s:e:st] — DuckDB requires BOTH bounds
                // with a step (empty-bound step forms are parser
                // errors there too); lists only, strings stay loud
                // like DuckDB's own Not-implemented
                val b = rest.substring(0, colon2).trim
                val st = rest.substring(colon2 + 1).trim
                s"graft_step_slice($operand, $a, $b, $st)"
              } else {
                val b = rest.trim
                (a.isEmpty, b.isEmpty) match {
                  case (true, true)   => s"($operand)"
                  case (true, false)  => s"graft_slice($operand, 1, $b)"
                  case (false, true)  => s"graft_slice($operand, $a, -1)"
                  case (false, false) => s"graft_slice($operand, $a, $b)"
                }
              }
            }
          s = s.substring(0, start) + repl + s.substring(close + 1)
          from = start
        }
      }
    }
    s
  }

  /** Bare SQL keywords a `[...]` can directly follow — there the
    * bracket is a list literal, never a subscript of the keyword.
    * CASE's END is deliberately absent: `(CASE … END)[i]` subscripts
    * the case result.
    */
  private val bracketKeywords: Set[String] = Set(
    "SELECT", "WHERE", "FROM", "AND", "OR", "NOT", "THEN", "ELSE", "WHEN",
    "CASE", "ON", "BY", "AS", "IN", "IS", "ALL", "ANY", "SOME", "DISTINCT",
    "UNION", "EXCEPT", "INTERSECT", "HAVING", "LIMIT", "OFFSET", "VALUES",
    "SET", "RETURN", "RETURNS", "BETWEEN", "LIKE", "ILIKE", "GLOB", "JOIN",
    "USING", "OVER", "ORDER", "GROUP", "ASC", "DESC", "NULLS", "FIRST",
    "LAST")

  private def literalAfterKeyword(operand: String): Boolean =
    bracketKeywords.contains(operand.toUpperCase(java.util.Locale.ROOT))

  /** Start index of the postfix-primary ending at `pEnd`: a dotted
    * identifier chain whose segments are names, `quoted` names,
    * 'string' literals, or balanced ()/[] groups (function calls,
    * prior subscripts).
    */
  private def operandStart(s: String, pEnd: Int): Int = {
    val mask = quoteMask(s)
    var p = pEnd
    var done = false
    while (!done && p >= 0) {
      s.charAt(p) match {
        case '\'' if mask(p) =>
          // a 'string' literal primary: consume the masked run; nothing
          // subscript-able chains before a literal
          while (p >= 0 && mask(p)) p -= 1
          return p + 1
        case c @ (')' | ']') =>
          val open = if (c == ')') '(' else '['
          var depth = 0
          var matched = false
          while (p >= 0 && !matched) {
            val ch = s.charAt(p)
            if (!mask(p)) {
              if (ch == c) depth += 1
              else if (ch == open) { depth -= 1; if (depth == 0) matched = true }
            }
            p -= 1
          }
          if (!matched) return pEnd // unbalanced — degenerate, single char
        case '`' =>
          p -= 1
          while (p >= 0 && s.charAt(p) != '`') p -= 1
          p -= 1
        case c if isWordChar(c) =>
          val wEnd = p
          while (p >= 0 && isWordChar(s.charAt(p))) p -= 1
          // `CASE … END` is a primary (round-13 fuzz: `CASE … END // 3`
          // used to take the bare word END as the operand) — scan back
          // to the matching CASE, counting nested pairs, quote-masked
          if (s.substring(p + 1, wEnd + 1).equalsIgnoreCase("END")) {
            var depth = 1
            while (p >= 0 && depth > 0) {
              if (!mask(p) && isWordChar(s.charAt(p))) {
                val we = p
                while (p >= 0 && isWordChar(s.charAt(p))) p -= 1
                val w = s.substring(p + 1, we + 1)
                if (w.equalsIgnoreCase("END")) depth += 1
                else if (w.equalsIgnoreCase("CASE")) depth -= 1
              } else p -= 1
            }
            if (depth > 0) return pEnd // unbalanced — degenerate
            return p + 1 // CASE never chains behind '.' or a call
          }
        case _ => done = true
      }
      // continue through '.' chains and name-before-parens
      if (!done) {
        if (p >= 0 && s.charAt(p) == '.') p -= 1
        else if (p >= 0 && isWordChar(s.charAt(p))) () // fn name precedes group
        else done = true
      }
    }
    p + 1
  }

  /** Index of a depth-0 ':' in bracket content; -1 if none. Tracks
    * (), [] and {} (struct literals use `{'k': v}` colons).
    */
  private def topLevelColon(content: String): Int = {
    val mask = quoteMask(content)
    var depth = 0
    var i = 0
    while (i < content.length) {
      if (!mask(i)) {
        content.charAt(i) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case ':' if depth == 0 => return i
          case _ =>
        }
      }
      i += 1
    }
    -1
  }

  private def topLevelComma(content: String): Boolean = {
    val mask = quoteMask(content)
    var depth = 0
    var i = 0
    while (i < content.length) {
      if (!mask(i)) {
        content.charAt(i) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case ',' if depth == 0 => return true
          case _ =>
        }
      }
      i += 1
    }
    false
  }

  /** Split on a separator at depth 0 w.r.t. (), [], {} and quotes. */
  private def splitTopLevel(content: String, sep: Char): Seq[String] = {
    val mask = quoteMask(content)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var last = 0
    var i = 0
    while (i < content.length) {
      if (!mask(i)) {
        content.charAt(i) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case c if c == sep && depth == 0 =>
            out += content.substring(last, i); last = i + 1
          case _ =>
        }
      }
      i += 1
    }
    out += content.substring(last)
    out.toSeq
  }

  /** DuckDB struct/map literals, quote-aware:
    *   `{'a': 1, 'b': x}`   → `named_struct('a', 1, 'b', x)`
    *   `MAP {'k': v}`       → `map('k', v)`
    * Braces whose content is not `key: value` pairs pass through.
    */
  private def rewriteBraces(sql: String): String = {
    var s = sql
    var from = 0
    var guard = 0
    while (guard < 10000) {
      guard += 1
      val mask = quoteMask(s)
      var i = from
      while (i < s.length && (mask(i) || s.charAt(i) != '{')) i += 1
      if (i >= s.length) return s
      var depth = 0; var j = i; var close = -1
      while (j < s.length && close < 0) {
        if (!mask(j)) {
          if (s.charAt(j) == '{') depth += 1
          else if (s.charAt(j) == '}') { depth -= 1; if (depth == 0) close = j }
        }
        j += 1
      }
      if (close < 0) return s
      val content = s.substring(i + 1, close)
      var p = i - 1
      while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
      val mapKw = p >= 2 && s.substring(p - 2, p + 1).equalsIgnoreCase("MAP") &&
        (p - 3 < 0 || !isWordChar(s.charAt(p - 3)))
      val pairs = splitTopLevel(content, ',').map { part =>
        val c = topLevelColon(part)
        if (c < 0) None
        else {
          val rawKey = part.substring(0, c).trim
          val value = part.substring(c + 1).trim
          val key =
            if (rawKey.startsWith("'")) Some(rawKey)
            else if (rawKey.nonEmpty && rawKey.forall(isWordChar)) Some(s"'$rawKey'")
            else None
          key.map(k => s"$k, $value")
        }
      }
      if (content.trim.isEmpty || pairs.exists(_.isEmpty)) {
        from = close + 1 // not a struct/map literal shape — leave it
      } else {
        val args = pairs.flatten.mkString(", ")
        if (mapKw) {
          s = s.substring(0, p - 2) + "map(" + args + ")" + s.substring(close + 1)
          from = p - 2
        } else {
          s = s.substring(0, i) + "named_struct(" + args + ")" + s.substring(close + 1)
          from = i
        }
      }
    }
    s
  }

  /** `struct_pack(a := 1, b := x)` → `named_struct('a', 1, 'b', x)` —
    * DuckDB's named-argument struct constructor — and
    * `struct_insert(s, b := 2)` → `graft_struct_insert(s, 'b', 2)`
    * (the UpdateFields builder in GraftExtensions).
    */
  private def rewriteStructPack(sql: String): String =
    rewriteNamedArgFn(rewriteNamedArgFn(sql, "STRUCT_PACK", 0), "STRUCT_INSERT", 1)

  private def rewriteNamedArgFn(sql: String, fname: String, positional: Int): String = {
    var s = sql
    var guard = 0
    while (guard < 1000) {
      guard += 1
      val at = {
        val mask = quoteMask(s)
        val upper = s.toUpperCase
        var i = 0
        var found = -1
        while (i < s.length && found < 0) {
          if (!mask(i) && upper.startsWith(fname, i) &&
              (i == 0 || !isWordChar(s.charAt(i - 1))) &&
              (i + fname.length < s.length && !isWordChar(s.charAt(i + fname.length))))
            found = i
          i += 1
        }
        found
      }
      if (at < 0) return s
      val open = s.indexOf('(', at + fname.length)
      if (open < 0 || s.substring(at + fname.length, open).trim.nonEmpty) return s
      val mask = quoteMask(s)
      var depth = 0; var j = open; var close = -1
      while (j < s.length && close < 0) {
        if (!mask(j)) {
          if (s.charAt(j) == '(') depth += 1
          else if (s.charAt(j) == ')') { depth -= 1; if (depth == 0) close = j }
        }
        j += 1
      }
      if (close < 0) return s
      val parts = splitTopLevel(s.substring(open + 1, close), ',')
      if (parts.length <= positional) return s
      val args = parts.zipWithIndex.map { case (part, idx) =>
        if (idx < positional) Some(part.trim) // leading positional args pass through
        else {
          val i2 = part.indexOf(":=")
          if (i2 < 0) None
          else {
            val key = part.substring(0, i2).trim
            val value = part.substring(i2 + 2).trim
            if (key.nonEmpty && key.forall(isWordChar)) Some(s"'$key', $value") else None
          }
        }
      }
      if (args.length == positional || args.exists(_.isEmpty)) return s
      val target = if (fname == "STRUCT_PACK") "named_struct" else "graft_struct_insert"
      s = s.substring(0, at) + target + "(" + args.flatten.mkString(", ") + ")" + s.substring(close + 1)
    }
    s
  }

  private val UsingSamplePct =
    """(?i)\bUSING\s+SAMPLE\s+(\d+(?:\.\d+)?)\s*(?:%|PERCENT\b)""".r
  private val UsingSampleRows =
    """(?i)\bUSING\s+SAMPLE\s+(\d+)(?:\s+ROWS\b)?""".r

  /** `USING SAMPLE n%` → `TABLESAMPLE (n PERCENT)`; `USING SAMPLE n
    * [ROWS]` → `TABLESAMPLE (n ROWS)` (both directly follow a table
    * reference in DuckDB, the same position Spark's TABLESAMPLE takes).
    */
  private def rewriteSample(sql: String): String = {
    // regexes only fire outside quotes: check match position in mask
    def applyRe(s: String, re: scala.util.matching.Regex, fmt: List[String] => String): String = {
      val mask = quoteMask(s)
      re.replaceAllIn(s, m =>
        if (mask(m.start)) java.util.regex.Matcher.quoteReplacement(m.matched)
        else java.util.regex.Matcher.quoteReplacement(fmt(m.subgroups)))
    }
    val pct = applyRe(sql, UsingSamplePct, g => s"TABLESAMPLE (${g.head} PERCENT)")
    relocateSample(applyRe(pct, UsingSampleRows, g => s"TABLESAMPLE (${g.head} ROWS)"))
  }

  /** DuckDB also accepts the sample clause at the END of the query
    * (`FROM t WHERE c USING SAMPLE 5`), where it still binds to the
    * FROM table (verified: the sample applies BEFORE the WHERE). Spark
    * only parses TABLESAMPLE in table position, so a terminal clause
    * is relocated to just before the first top-level WHERE/GROUP/
    * HAVING/ORDER/LIMIT.
    */
  private def relocateSample(sql: String): String = {
    val at = lastTopLevel(sql, "TABLESAMPLE")
    if (at < 0) return sql
    val open = sql.indexOf('(', at)
    if (open < 0) return sql
    val mask = quoteMask(sql)
    var depth = 0; var j = open; var close = -1
    while (j < sql.length && close < 0) {
      if (!mask(j)) {
        if (sql.charAt(j) == '(') depth += 1
        else if (sql.charAt(j) == ')') { depth -= 1; if (depth == 0) close = j }
      }
      j += 1
    }
    if (close < 0 || sql.substring(close + 1).trim.nonEmpty) return sql // not terminal
    val kwAt = Seq("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT")
      .map(k => firstTopLevel(sql, k)).filter(p => p >= 0 && p < at)
      .sorted.headOption
    kwAt match {
      case Some(k) =>
        val seg = sql.substring(at, close + 1)
        sql.substring(0, k).trim + " " + seg + " " + sql.substring(k, at).trim
      case None => sql
    }
  }

  /** End index (exclusive) of the postfix-primary starting at `from`:
    * optional unary sign, then a dotted chain of names/numbers,
    * `quoted` names, or balanced () / [] groups.
    */
  private def operandEnd(s: String, from: Int): Int = {
    val mask = quoteMask(s)
    var p = from
    while (p < s.length && s.charAt(p).isWhitespace) p += 1
    if (p < s.length && (s.charAt(p) == '-' || s.charAt(p) == '+')) p += 1
    while (p < s.length && s.charAt(p).isWhitespace) p += 1
    var done = false
    while (!done && p < s.length) {
      s.charAt(p) match {
        case c @ ('(' | '[') =>
          val closeCh = if (c == '(') ')' else ']'
          var depth = 0
          var matched = false
          while (p < s.length && !matched) {
            val ch = s.charAt(p)
            if (!mask(p)) {
              if (ch == c) depth += 1
              else if (ch == closeCh) { depth -= 1; if (depth == 0) matched = true }
            }
            p += 1
          }
          if (!matched) return from
        case '`' =>
          p += 1
          while (p < s.length && s.charAt(p) != '`') p += 1
          p += 1
        case c if isWordChar(c) =>
          val wStart = p
          while (p < s.length && isWordChar(s.charAt(p))) p += 1
          // forward mirror of operandStart's CASE handling: a right
          // operand starting with CASE runs to its matching END
          if (s.substring(wStart, p).equalsIgnoreCase("CASE")) {
            var depth = 1
            while (p < s.length && depth > 0) {
              if (!mask(p) && isWordChar(s.charAt(p))) {
                val ws = p
                while (p < s.length && isWordChar(s.charAt(p))) p += 1
                val w = s.substring(ws, p)
                if (w.equalsIgnoreCase("CASE")) depth += 1
                else if (w.equalsIgnoreCase("END")) depth -= 1
              } else p += 1
            }
            if (depth > 0) return from // unbalanced — degenerate
            return p
          }
        case _ => done = true
      }
      if (!done) {
        if (p < s.length && (s.charAt(p) == '.' ||
            s.charAt(p) == '(' || s.charAt(p) == '[')) {
          if (s.charAt(p) == '.') p += 1 // continue the dotted chain
          // '(' / '[' loop again as postfix group
        } else done = true
      }
    }
    p
  }

  /** DuckDB's `//` operator → `graft_intdiv(a, b)` (a dispatching
    * expression: integral division on integers, PLAIN division on any
    * non-integral operand — DuckDB's verified behavior; a blanket
    * `div` would silently floor `7.5 // 2`).
    */
  private def rewriteIntDiv(sql: String): String = {
    var s = sql
    var guard = 0
    while (guard < 1000) {
      guard += 1
      val mask = quoteMask(s)
      var i = 0
      var at = -1
      while (i + 1 < s.length && at < 0) {
        if (!mask(i) && s.charAt(i) == '/' && !mask(i + 1) && s.charAt(i + 1) == '/')
          at = i
        i += 1
      }
      if (at < 0) return s
      var p = at - 1
      while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
      if (p < 0) return s
      val start = operandStart(s, p)
      val end = operandEnd(s, at + 2)
      if (end <= at + 2) return s
      val leftOp = s.substring(start, p + 1)
      val rightOp = s.substring(at + 2, end).trim
      s = s.substring(0, start) + s"graft_intdiv($leftOp, $rightOp)" + s.substring(end)
    }
    s
  }

  /** DuckDB's `date_diff('unit', a, b)` (quoted unit) → a graft
    * function name. Spark's PARSER special-cases date_diff/datediff
    * and rejects string-literal units before any registry lookup, so
    * the quoted-unit spelling must be renamed textually; the graft
    * registration carries DuckDB's boundary-crossing semantics.
    * Unquoted-unit and 2-arg spellings pass through untouched.
    */
  private def rewriteDateDiff(sql: String): String = {
    val re = """(?i)\b(date_diff|datediff)\s*\(\s*'""".r
    val mask = quoteMask(sql)
    val sb = new StringBuilder
    var last = 0
    re.findAllMatchIn(sql).foreach { m =>
      if (!mask(m.start) && m.start >= last) {
        sb.append(sql.substring(last, m.start))
        sb.append("graft_date_diff")
        sb.append(sql.substring(m.start + m.group(1).length, m.end))
        last = m.end
      }
    }
    if (last == 0) sql else { sb.append(sql.substring(last)); sb.toString }
  }

  /** DuckDB's JSON sugar: `x::JSON` casts vanish (JSON values travel
    * as strings; extraction parses at use), and the `->` / `->>`
    * operators become graft_json_extract / graft_json_extract_string
    * calls (variant-backed, quoting-faithful).
    *
    * `->` is also DuckDB's lambda arrow — an arrow whose LEFT operand
    * is a bare identifier directly after `(` or `,` is a lambda
    * parameter and is left alone, as is a parenthesized multi-param
    * head `(a, b) ->`. Right operands may be 'key' / integer literals
    * or (round 12) bare possibly-qualified identifiers — the
    * RUNTIME-keyed form `j ->> k`, which maps onto a per-row
    * get_json_object path (probe 22; the JSON form `j -> k` stays
    * loud there — it quotes string leaves, which no runtime path
    * function reproduces). The ambiguous leftovers (a json arrow on a
    * bare column as the first argument of a call, a call-shaped right
    * operand) fail loudly at parse rather than risking a silent
    * mis-rewrite — parenthesizing the left side opts back in:
    * `(j) ->> 'k'`.
    */
  private def rewriteJsonOps(sql: String): String = {
    // strip ::JSON (quote-masked)
    val castRe = """(?i)::\s*JSON\b""".r
    val m0 = quoteMask(sql)
    var s = {
      val sb = new StringBuilder
      var last = 0
      castRe.findAllMatchIn(sql).foreach { m =>
        if (!m0(m.start) && m.start >= last) {
          sb.append(sql.substring(last, m.start)); last = m.end
        }
      }
      if (last == 0) sql else { sb.append(sql.substring(last)); sb.toString }
    }
    var searchFrom = 0
    var guard = 0
    while (guard < 1000) {
      guard += 1
      val mask = quoteMask(s)
      var i = searchFrom
      var at = -1
      var arrowLen = 0
      while (i + 1 < s.length && at < 0) {
        if (!mask(i) && s.charAt(i) == '-' && s.charAt(i + 1) == '>') {
          at = i
          arrowLen = if (i + 2 < s.length && s.charAt(i + 2) == '>') 3 else 2
        }
        i += 1
      }
      if (at < 0) return s
      // right operand: a 'key' / integer literal, or (round 12) a bare
      // possibly-qualified IDENTIFIER — the runtime-keyed form `j ->> k`.
      // An identifier followed by '(' is a call, not a key: left alone
      // (loud), never split mid-expression.
      var r = at + arrowLen
      while (r < s.length && s.charAt(r).isWhitespace) r += 1
      var identRight = false
      val rightEnd =
        if (r < s.length && s.charAt(r) == '\'') {
          var e = r + 1
          while (e < s.length && mask(e)) e += 1
          e
        } else if (r < s.length && s.charAt(r).isDigit) {
          var e = r
          while (e < s.length && s.charAt(e).isDigit) e += 1
          e
        } else if (r < s.length && (s.charAt(r).isLetter || s.charAt(r) == '_')) {
          var e = r
          while (e < s.length && (isWordChar(s.charAt(e)) || s.charAt(e) == '.')) e += 1
          var w = e
          while (w < s.length && s.charAt(w).isWhitespace) w += 1
          if (w < s.length && s.charAt(w) == '(') -1 else { identRight = true; e }
        } else -1
      // left-operand info is needed both for the extraction rewrite
      // and for the single-param lambda unwrap
      var p = at - 1
      while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
      if (p < 0) return s
      val start = operandStart(s, p)
      val leftOp = s.substring(start, p + 1)
      val bareIdent = leftOp.nonEmpty && leftOp.forall(isWordChar)
      var q = start - 1
      while (q >= 0 && s.charAt(q).isWhitespace) q -= 1
      val callArgPos = q >= 0 && (s.charAt(q) == '(' || s.charAt(q) == ',')
      val parenIdent = leftOp.length > 2 &&
        leftOp.startsWith("(") && leftOp.endsWith(")") && {
          val inner = leftOp.substring(1, leftOp.length - 1).trim
          inner.nonEmpty && inner.forall(isWordChar)
        }
      if (parenIdent && (identRight || rightEnd < 0)) {
        // `(x) -> body` with a non-key right operand is a SINGLE-param
        // lambda head (valid DuckDB); Spark's grammar only
        // parenthesizes MULTI-param heads, so in a call-argument
        // position unwrap to `x -> body` — elsewhere leave the arrow
        // alone (loud beats a json rewrite that fails at bind).
        // Quoted/integer right operands keep the extraction rewrite:
        // `(j) -> 'k'` can only be a key access. (round-13 advice #3)
        if (callArgPos) {
          val inner = leftOp.substring(1, leftOp.length - 1).trim
          s = s.substring(0, start) + inner + s.substring(p + 1)
          searchFrom = start
        } else searchFrom = at + arrowLen
      }
      else if (rightEnd < 0) { searchFrom = at + arrowLen }
      else {
        // `->>` is never a lambda arrow (DuckDB lambdas use `->`), so
        // the call-argument ambiguity guard only applies to the 2-char
        // form: `max(props ->> 'k')` rewrites, `f(x -> 'k')` stays a
        // lambda (grammar-v7 finding: the guard parse-failed every
        // json ->> on a bare column inside an aggregate call)
        val lambdaParam = bareIdent && callArgPos && arrowLen == 2
        // `(a, b) -> …` is a MULTI-PARAM lambda head (list_reduce et
        // al.) — with identifier right operands now rewritable, a
        // top-level comma inside a parenthesized left operand must
        // disqualify the arrow or `(a, b) -> a` would silently become
        // a json extraction
        val multiParamLambda = leftOp.startsWith("(") && leftOp.endsWith(")") && {
          val lm = quoteMask(leftOp)
          var depth = 0; var comma = false
          var li = 0
          while (li < leftOp.length) {
            if (!lm(li)) leftOp.charAt(li) match {
              case '(' => depth += 1
              case ')' => depth -= 1
              case ',' => if (depth == 1) comma = true
              case _ => ()
            }
            li += 1
          }
          comma
        }
        if (lambdaParam || multiParamLambda) {
          searchFrom = at + arrowLen
        }
        else {
          val right = s.substring(r, rightEnd)
          val fn = if (arrowLen == 3) "graft_json_extract_string" else "graft_json_extract"
          s = s.substring(0, start) + s"$fn($leftOp, $right)" + s.substring(rightEnd)
          searchFrom = start
        }
      }
    }
    s
  }

  /** DuckDB's in-aggregate ORDER BY — `string_agg(x[, sep] ORDER BY
    * k)`, `array_agg(x ORDER BY k)`, `list(x ORDER BY k)` — which
    * Spark's parser rejects. string_agg maps onto Spark 4's
    * `listagg … WITHIN GROUP`; array_agg/list sort the collected
    * array (sort_array when ordering by the collected expression
    * itself, a struct-sort + project otherwise; DESC reverses).
    * Multi-key or NULLS-qualified specs are left alone → loud parse
    * error, never a silently unsorted result.
    */
  private val AggOrderRe = """(?i)\b(string_agg|array_agg|list|first|last|arbitrary|any_value|sum|avg|mean|min|max|count|median|mode|product|quantile_cont|quantile_disc|quantile|bool_and|bool_or|bit_and|bit_or|bit_xor|entropy|favg|fsum)\s*\(""".r

  /** Aggregates whose result provably does not depend on input order —
    * DuckDB accepts ORDER BY inside any aggregate and it is a no-op
    * for these (pinned: sum(x ORDER BY x) = sum(x), probe 17), so the
    * clause is stripped rather than failed. */
  private val orderInsensitiveAggs = Set(
    "sum", "avg", "mean", "min", "max", "count", "median", "mode",
    "product", "quantile_cont", "quantile_disc", "quantile",
    "bool_and", "bool_or", "bit_and", "bit_or", "bit_xor",
    "entropy", "favg", "fsum")

  private def rewriteAggOrder(sql: String): String = {
    var s = sql
    var from = 0
    var guard = 0
    while (guard < 200) {
      guard += 1
      val mask = quoteMask(s)
      val mOpt = AggOrderRe.findAllMatchIn(s).find(m => m.start >= from && !mask(m.start))
      if (mOpt.isEmpty) return s
      val m = mOpt.get
      val open = m.end - 1
      var depth = 0
      var j = open
      var close = -1
      while (j < s.length && close < 0) {
        if (!mask(j)) s.charAt(j) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) close = j
          case _ =>
        }
        j += 1
      }
      if (close < 0) return s
      val content = s.substring(open + 1, close)
      val ob = firstTopLevel(content, "ORDER BY")
      val fn = m.group(1).toLowerCase(java.util.Locale.ROOT)
      val replacement =
        if (ob < 0) distinctList(fn, content, s.substring(close + 1))
        else aggOrderReplacement(fn, content.substring(0, ob).trim,
          content.substring(ob + "ORDER BY".length).trim)
      replacement match {
        case Some(repl) =>
          s = s.substring(0, m.start) + repl + s.substring(close + 1)
          from = m.start
        case None => from = m.end // unsupported spec — fails loudly downstream
      }
    }
    s
  }

  /** One parsed in-aggregate sort key: (expr, ascending, nullsFirst).
    * DuckDB defaults (verified, matching its list_sort pins): ASC, and
    * NULLS LAST in BOTH directions unless spelled explicitly.
    */
  private def parseSortKeys(spec: String): Seq[(String, Boolean, Boolean)] =
    splitTopLevel(spec, ',').map(_.trim).filter(_.nonEmpty).map { k0 =>
      var k = k0
      var nullsFirst = false
      val upN = k.toUpperCase
      if (upN.endsWith("NULLS FIRST")) { nullsFirst = true; k = k.dropRight(11).trim }
      else if (upN.endsWith("NULLS LAST")) k = k.dropRight(10).trim
      var asc = true
      val up = k.toUpperCase
      if (up.endsWith(" DESC")) { asc = false; k = k.dropRight(5).trim }
      else if (up.endsWith(" ASC")) k = k.dropRight(4).trim
      (k, asc, nullsFirst)
    }

  /** Lexicographic comparator over `named_struct('k0', …, 'k1', …)`
    * structs for array_sort's two-arg form — the general rendering of
    * an arbitrary multi-key / NULLS-spec in-aggregate ORDER BY
    * (round-8 verdict #7 closed the one-key-only restriction).
    */
  private def sortComparator(keys: Seq[(String, Boolean, Boolean)]): String = {
    def cmp(i: Int): String =
      if (i >= keys.length) "0"
      else {
        val f = s"k$i"
        val (_, asc, nf) = keys(i)
        val (lt, gt) = if (asc) ("-1", "1") else ("1", "-1")
        val (nullL, nullR) = if (nf) ("-1", "1") else ("1", "-1")
        s"(CASE WHEN __l.$f IS NULL AND __r.$f IS NULL THEN ${cmp(i + 1)}" +
          s" WHEN __l.$f IS NULL THEN $nullL WHEN __r.$f IS NULL THEN $nullR" +
          s" WHEN __l.$f < __r.$f THEN $lt WHEN __l.$f > __r.$f THEN $gt" +
          s" ELSE ${cmp(i + 1)} END)"
      }
    cmp(0)
  }

  /** `transform(array_sort(array_agg(struct)), __o -> __o.v)` — the
    * value array in sort-spec order.
    */
  private def sortedValueArray(x: String, keys: Seq[(String, Boolean, Boolean)]): String = {
    val fields = keys.zipWithIndex.map { case ((k, _, _), i) => s"'k$i', $k" }
    val struct = s"named_struct(${fields.mkString(", ")}, 'v', $x)"
    s"transform(array_sort(array_agg($struct), (__l, __r) -> ${sortComparator(keys)}), __o -> __o.v)"
  }

  /** `array_agg(DISTINCT x)` / `list(DISTINCT x)` without ORDER BY:
    * the registered list aggregate is an expression over collect_list
    * and cannot take DISTINCT, so dedupe its result. Window and FILTER
    * forms stay loud. */
  private def distinctList(fn: String, content: String, rest: String): Option[String] = {
    val x = content.trim
    val tail = rest.trim.toUpperCase(java.util.Locale.ROOT)
    if ((fn == "array_agg" || fn == "list") && x.toUpperCase.startsWith("DISTINCT ") &&
        !tail.startsWith("OVER") && !tail.startsWith("FILTER"))
      Some(s"array_distinct($fn(${x.substring(9).trim}))")
    else None
  }

  private def aggOrderReplacement(fn: String, argsPart: String, spec: String): Option[String] = {
    val keys = parseSortKeys(spec)
    if (keys.isEmpty) return None
    // order-insensitive aggregates: DuckDB allows the clause, the
    // result ignores it — strip (probe 17)
    if (orderInsensitiveAggs(fn)) return Some(s"$fn($argsPart)")
    val oneKeyPlain = keys.length == 1 && !spec.toUpperCase.contains("NULLS")
    if (fn == "string_agg") {
      val args = splitTopLevel(argsPart, ',').map(_.trim)
      if (args.isEmpty || args.length > 2) return None
      val sep = if (args.length == 2) args(1) else "','" // DuckDB's default
      if (args.head.toUpperCase.startsWith("DISTINCT ")) {
        // the DISTINCT form keeps listagg (its sort key must equal the
        // distinct expression, DuckDB's own restriction — pinned)
        if (oneKeyPlain)
          Some(s"listagg(${args.head}, $sep) WITHIN GROUP (ORDER BY $spec)")
        else None
      } else {
        // the comparator construction for the plain form (round-13
        // fuzz: Spark's `listagg … WITHIN GROUP` analyzer crashes with
        // a ClassCastException when any DISTINCT aggregate shares the
        // Aggregate — RewriteDistinctAggregates mishandles the
        // ordering child). NULL values are skipped like DuckDB's
        // string_agg, and an all-NULL group yields NULL, not ''
        // (array_join alone would render the empty string).
        val arr = sortedValueArray(args.head, keys)
        Some(s"CASE WHEN size(filter($arr, __sv -> __sv IS NOT NULL)) = 0 " +
          s"THEN NULL ELSE array_join($arr, $sep) END")
      }
    } else if (fn == "first" || fn == "last" || fn == "arbitrary" || fn == "any_value") {
      // first(x ORDER BY k) is the x of the minimum k = min_by(x, k)
      // (verified: first/arbitrary pick the first sorted row INCLUDING
      // a NULL x, last the final one; DESC flips — probe 17). DuckDB's
      // any_value is the odd one out: it returns the first NON-NULL
      // value in the requested order (round-13 fuzz v4), which is
      // exactly the NULL-arg-skipping min_by/max_by the arg_min family
      // now uses; first/last/arbitrary route to the raw Spark builtins
      // (graft_minby_raw) so their NULL-keeping semantics survive.
      // Multi-key / NULLS specs take the comparator-sorted array's
      // first/last element instead (filtered to non-NULLs for
      // any_value; get() renders the all-NULL group NULL).
      val x = argsPart.trim
      if (x.toUpperCase.startsWith("DISTINCT ") || splitTopLevel(x, ',').length != 1) return None
      if (oneKeyPlain) {
        val (key, asc, _) = keys.head
        val wantMin = (fn != "last") ^ !asc
        val target =
          if (fn == "any_value") { if (wantMin) "min_by" else "max_by" }
          else { if (wantMin) "graft_minby_raw" else "graft_maxby_raw" }
        Some(s"$target($x, $key)")
      } else if (fn == "any_value") {
        Some(s"get(filter(${sortedValueArray(x, keys)}, __av -> __av IS NOT NULL), 0)")
      } else {
        val pos = if (fn == "last") "-1" else "1"
        // try_element_at, NOT element_at: the session registry now
        // carries DuckDB's map-only element_at (round 15), and the
        // try form is also NULL-safe on an empty collected array
        Some(s"try_element_at(${sortedValueArray(x, keys)}, $pos)")
      }
    } else {
      val x = argsPart.trim
      val distinct = x.toUpperCase.startsWith("DISTINCT ")
      val bare = if (distinct) x.substring(9).trim else x
      val keyIsValue = keys.length == 1 && bare == keys.head._1
      // DISTINCT + sort key only when the key IS the value (DuckDB's
      // own restriction for a well-defined result)
      if (splitTopLevel(bare, ',').length != 1 || (distinct && !keyIsValue)) return None
      // NULLS LAST both ways, like DuckDB: array_sort puts NULLs last
      // ascending, sort_array descending
      val sorted =
        if (!oneKeyPlain || !keyIsValue) sortedValueArray(bare, keys)
        else if (keys.head._2) s"array_sort(array_agg($bare))"
        else s"sort_array(array_agg($bare), false)"
      // array_distinct keeps the sorted order and one NULL, like DuckDB
      Some(if (distinct) s"array_distinct($sorted)" else sorted)
    }
  }

  /** Postgres-style regex/like operators DuckDB supports: `~` is
    * regexp_full_match (anchored, verified: 'Abc' ~ '^A' is FALSE),
    * `!~` its negation, `~~`/`!~~` are LIKE/NOT LIKE. Pattern must be
    * a string literal for the anchored forms (the overwhelming usage);
    * otherwise the operator is left → loud parse error.
    */
  /** DuckDB's `^` (and `**`) is POWER while Spark's `^` is bitwise
    * XOR — the nastiest silent-divergence operator in the dialect
    * (2 ^ 3 = 8.0 there, 1 here). Both spellings rewrite to
    * power(a, b), left-associative like Postgres/DuckDB; DuckDB's
    * bitwise xor stays reachable as the registered xor() function.
    * Operands are primary expressions (literals, identifier chains,
    * calls, parenthesized exprs, brackets, a leading unary sign on
    * the right side); a `^` whose operands the scanner cannot bound
    * is left alone — every realistic spelling is covered, and `**`
    * inside comments is excluded by the binary-context check.
    */
  /** DuckDB's postfix `!` factorial and prefix `@` abs operators.
    * `n!` (not `!=`/`!~`) rewrites to factorial(n) for a bounded left
    * primary — a number, identifier chain, or parenthesized/bracketed
    * expression; `@expr` rewrites to abs for `@(...)` and `@ident`
    * (not `@>` containment). Anything the scanner cannot bound is left
    * alone → loud parse error, never a silent mis-read.
    */
  private def rewriteFactorialAbs(sql: String): String = {
    if (sql.indexOf('!') < 0 && sql.indexOf('@') < 0) return sql
    val mask = quoteMask(sql)
    var out = sql
    // right-to-left so earlier indices stay valid after replacement
    var i = sql.length - 1
    val edits = scala.collection.mutable.ListBuffer.empty[(Int, Int, String)]
    while (i >= 0) {
      val c = sql.charAt(i)
      if (!mask(i) && c == '!' &&
          (i + 1 >= sql.length || (sql.charAt(i + 1) != '=' && sql.charAt(i + 1) != '~')) &&
          (i == 0 || (sql.charAt(i - 1) != '!' && sql.charAt(i - 1) != '<' && sql.charAt(i - 1) != '>'))) {
        var p = i - 1
        while (p >= 0 && sql.charAt(p).isWhitespace) p -= 1
        if (p >= 0) {
          val start =
            if (sql.charAt(p) == ')' || sql.charAt(p) == ']') {
              val open = if (sql.charAt(p) == ')') '(' else '['
              var depth = 0; var q = p; var s = -1
              while (q >= 0 && s < 0) {
                if (!mask(q)) {
                  if (sql.charAt(q) == sql.charAt(p)) depth += 1
                  else if (sql.charAt(q) == open) { depth -= 1; if (depth == 0) s = q }
                }
                q -= 1
              }
              s
            } else if (isWordChar(sql.charAt(p))) {
              var q = p
              while (q >= 0 && (isWordChar(sql.charAt(q)) || sql.charAt(q) == '.')) q -= 1
              q + 1
            } else -1
          if (start >= 0)
            edits += ((start, i + 1, s"factorial(${sql.substring(start, p + 1)})"))
        }
      } else if (!mask(i) && c == '@' &&
          i + 1 < sql.length && sql.charAt(i + 1) != '>' &&
          (i == 0 || sql.charAt(i - 1) != '<')) {
        if (sql.charAt(i + 1) == '(') {
          edits += ((i, i + 1, "abs"))
        } else if (isWordChar(sql.charAt(i + 1))) {
          var q = i + 1
          while (q < sql.length && (isWordChar(sql.charAt(q)) || sql.charAt(q) == '.')) q += 1
          edits += ((i, q, s"abs(${sql.substring(i + 1, q)})"))
        }
      }
      i -= 1
    }
    // edits were collected right-to-left: apply in that order
    edits.foreach { case (s, e, repl) => out = out.substring(0, s) + repl + out.substring(e) }
    out
  }

  private def rewritePower(sql: String): String = {
    if (sql.indexOf('^') < 0 && !sql.contains("**")) return sql
    val mask = quoteMask(sql)

    def matchOpenLeft(close: Int): Int = {
      val cl = sql.charAt(close); val op = if (cl == ')') '(' else '['
      var depth = 0; var q = close
      while (q >= 0) {
        if (!mask(q)) {
          if (sql.charAt(q) == cl) depth += 1
          else if (sql.charAt(q) == op) { depth -= 1; if (depth == 0) return q }
        }
        q -= 1
      }
      -1
    }
    def matchCloseRight(open: Int): Int = {
      val op = sql.charAt(open); val cl = if (op == '(') ')' else ']'
      var depth = 0; var q = open
      while (q < sql.length) {
        if (!mask(q)) {
          if (sql.charAt(q) == op) depth += 1
          else if (sql.charAt(q) == cl) { depth -= 1; if (depth == 0) return q }
        }
        q += 1
      }
      -1
    }
    def wordish(c: Char): Boolean = isWordChar(c) || c == '.'

    // start index of the primary ending just before `before`; -1 if unbounded
    def leftStart(before: Int): Int = {
      var p = before - 1
      while (p >= 0 && sql.charAt(p).isWhitespace) p -= 1
      if (p < 0) return -1
      var start = -1
      var done = false
      while (!done) {
        done = true
        sql.charAt(p) match {
          case ')' | ']' =>
            val o = matchOpenLeft(p)
            if (o < 0) return -1
            start = o
            var q = o - 1
            while (q >= 0 && wordish(sql.charAt(q))) q -= 1
            if (q < o - 1) start = q + 1
            p = start - 1
          case '\'' | '"' | '`' if mask(p) => // closing quote
            var q = p
            while (q >= 0 && mask(q)) q -= 1
            start = q + 1
            p = q
          case c if wordish(c) =>
            var q = p
            while (q >= 0 && wordish(sql.charAt(q))) q -= 1
            if (sql.substring(q + 1, p + 1).equalsIgnoreCase("END")) {
              // `CASE … END ^ 2` (round-13 fuzz): the CASE expression
              // is the primary — scan back to its matching CASE
              var depth = 1
              var r2 = q
              while (r2 >= 0 && depth > 0) {
                if (!mask(r2) && isWordChar(sql.charAt(r2))) {
                  val we = r2
                  while (r2 >= 0 && isWordChar(sql.charAt(r2))) r2 -= 1
                  val w = sql.substring(r2 + 1, we + 1)
                  if (w.equalsIgnoreCase("END")) depth += 1
                  else if (w.equalsIgnoreCase("CASE")) depth -= 1
                } else r2 -= 1
              }
              if (depth > 0) return -1
              start = r2 + 1
              p = r2
            } else { start = q + 1; p = q }
          case _ => return if (start >= 0) start else -1
        }
        // chained primary: `a.b(c)[1]` — keep consuming through '.'
        if (p >= 0 && sql.charAt(p) == '.') { p -= 1; done = false }
      }
      start
    }

    // DuckDB binds a UNARY sign TIGHTER than `^`/`**` in every form
    // (-2.5 ^ 2 = 6.25, -x ^ 2 = 6.25, 3 * -2.5 ^ 2 = 18.75; binary
    // 0-2.5 ^ 2 = -6.25 — all pinned 2026-08-15). A sign preceding the
    // left primary joins the operand when its own left context cannot
    // end an expression (operator/paren/comma/keyword/start-of-text).
    def includeUnarySign(ls: Int): Int = {
      var q = ls - 1
      while (q >= 0 && sql.charAt(q).isWhitespace) q -= 1
      if (q < 0 || (sql.charAt(q) != '-' && sql.charAt(q) != '+')) return ls
      var r2 = q - 1
      while (r2 >= 0 && sql.charAt(r2).isWhitespace) r2 -= 1
      val unary =
        if (r2 < 0) true
        else if (isWordChar(sql.charAt(r2))) {
          var ws = r2
          while (ws >= 0 && isWordChar(sql.charAt(ws))) ws -= 1
          UnaryContextKw.contains(sql.substring(ws + 1, r2 + 1).toUpperCase)
        } else !")]'\"`".contains(sql.charAt(r2))
      if (unary) q else ls
    }

    // end index (exclusive) of the primary starting at/after `after`
    def rightEnd(after: Int): Int = {
      var p = after
      while (p < sql.length && sql.charAt(p).isWhitespace) p += 1
      if (p < sql.length && (sql.charAt(p) == '-' || sql.charAt(p) == '+')) p += 1
      if (p >= sql.length) return -1
      var end = -1
      sql.charAt(p) match {
        case '\'' | '"' | '`' =>
          var q = p + 1
          while (q < sql.length && mask(q)) q += 1
          end = q
        case '(' | '[' =>
          val c = matchCloseRight(p)
          if (c < 0) return -1
          end = c + 1
        case c if wordish(c) =>
          var q = p
          while (q < sql.length && wordish(sql.charAt(q))) q += 1
          if (sql.substring(p, q).equalsIgnoreCase("CASE")) {
            // forward mirror: `2 ^ CASE … END` runs to the matching END
            var depth = 1
            while (q < sql.length && depth > 0) {
              if (!mask(q) && isWordChar(sql.charAt(q))) {
                val ws = q
                while (q < sql.length && isWordChar(sql.charAt(q))) q += 1
                val w = sql.substring(ws, q)
                if (w.equalsIgnoreCase("CASE")) depth += 1
                else if (w.equalsIgnoreCase("END")) depth -= 1
              } else q += 1
            }
            if (depth > 0) return -1
          }
          end = q
        case _ => return -1
      }
      // trailing chains: call args, subscripts, field access
      var more = true
      while (more && end < sql.length) {
        more = false
        sql.charAt(end) match {
          case '(' | '[' =>
            val c = matchCloseRight(end)
            if (c < 0) return end
            end = c + 1; more = true
          case '.' if end + 1 < sql.length && isWordChar(sql.charAt(end + 1)) =>
            var q = end + 1
            while (q < sql.length && wordish(sql.charAt(q))) q += 1
            end = q; more = true
          case _ => ()
        }
      }
      end
    }

    var i = 0
    while (i < sql.length) {
      if (!mask(i)) {
        val isCaret = sql.charAt(i) == '^'
        val isStar2 = !isCaret && sql.charAt(i) == '*' && i + 1 < sql.length &&
          sql.charAt(i + 1) == '*' && (i == 0 || sql.charAt(i - 1) != '*') &&
          (i + 2 >= sql.length || sql.charAt(i + 2) != '*')
        if (isCaret || isStar2) {
          val opLen = if (isCaret) 1 else 2
          // binary context only (excludes '/* ... **/' comment tails)
          var p = i - 1
          while (p >= 0 && sql.charAt(p).isWhitespace) p -= 1
          val binary = p >= 0 && (isWordChar(sql.charAt(p)) || sql.charAt(p) == ')' ||
            sql.charAt(p) == ']' || sql.charAt(p) == '\'' || sql.charAt(p) == '"' ||
            sql.charAt(p) == '`')
          if (binary) {
            val ls0 = leftStart(i)
            val ls = if (ls0 >= 0) includeUnarySign(ls0) else ls0
            val re = rightEnd(i + opLen)
            if (ls >= 0 && re > 0) {
              val l = sql.substring(ls, i).trim
              val r = sql.substring(i + opLen, re).trim
              return rewritePower(
                sql.substring(0, ls) + s"power($l, $r)" + sql.substring(re))
            }
          }
        }
      }
      i += 1
    }
    sql
  }

  /** DuckDB glob pattern → anchored Java regex ( * → .* , ? → . ,
    * [abc]/[!abc] classes; everything else literal). Emitted with
    * doubled backslashes so Spark's escape-processing string parser
    * yields the single-backslash regex.
    */
  private def globRegex(pat: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < pat.length) {
      pat.charAt(i) match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '[' =>
          sb.append('[')
          i += 1
          if (i < pat.length && pat.charAt(i) == '!') { sb.append('^'); i += 1 }
          while (i < pat.length && pat.charAt(i) != ']') { sb.append(pat.charAt(i)); i += 1 }
          sb.append(']')
        case c if "\\.^$+(){}|".indexOf(c) >= 0 => sb.append("\\\\").append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** `x GLOB 'pat'` / `x NOT GLOB 'pat'` (DuckDB globbing) → anchored
    * RLIKE. Literal patterns only — a non-literal right side stays,
    * and Spark rejects the GLOB keyword loudly.
    */
  private def rewriteGlob(sql: String): String = {
    if (!containsUnquoted(sql, "GLOB")) return sql
    val mask = quoteMask(sql)
    val mOpt = """(?i)\b(NOT\s+)?GLOB\s*""".r.findAllMatchIn(sql)
      .find(mm => !mask(mm.start) && mm.end < sql.length && sql.charAt(mm.end) == '\'')
    val m = mOpt.getOrElse(return sql)
    var q = m.end + 1
    while (q < sql.length && mask(q)) q += 1
    val inner = sql.substring(m.end + 1, q - 1)
    val rep = (if (m.group(1) != null) "NOT RLIKE " else "RLIKE ") +
      "'^(?:" + globRegex(inner) + ")$'"
    rewriteGlob(sql.substring(0, m.start) + rep + sql.substring(q))
  }

  private def rewriteTildeOps(sql: String): String = {
    val mask = quoteMask(sql)
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      var matched = false
      if (!mask(i) && sql.charAt(i) == '~' || (!mask(i) && sql.charAt(i) == '!' &&
          i + 1 < sql.length && sql.charAt(i + 1) == '~')) {
        val neg = sql.charAt(i) == '!'
        var k = i + (if (neg) 1 else 0) // first '~'
        var tildes = 0
        while (k < sql.length && sql.charAt(k) == '~') { tildes += 1; k += 1 }
        // binary only: an operand must end just before
        var p = i - 1
        while (p >= 0 && sql.charAt(p).isWhitespace) p -= 1
        val binary = p >= 0 && (isWordChar(sql.charAt(p)) || sql.charAt(p) == ')' ||
          sql.charAt(p) == ']' || sql.charAt(p) == '`' || sql.charAt(p) == '\'')
        if (binary && tildes == 2) {
          out.append(if (neg) " NOT LIKE " else " LIKE ")
          i = k
          matched = true
        } else if (binary && (tildes == 1 || tildes == 3)) {
          // ~ anchored regex, ~~~ glob — both need the literal pattern
          var r = k
          while (r < sql.length && sql.charAt(r).isWhitespace) r += 1
          if (r < sql.length && sql.charAt(r) == '\'') {
            var q = r + 1
            while (q < sql.length && mask(q)) q += 1
            val inner0 = sql.substring(r + 1, q - 1)
            val inner = if (tildes == 3) globRegex(inner0) else inner0
            out.append(if (neg) " NOT RLIKE " else " RLIKE ")
              .append("'^(?:").append(inner).append(")$'")
            i = q
            matched = true
          }
        }
      }
      if (!matched) { out.append(sql.charAt(i)); i += 1 }
    }
    out.toString
  }

  /** DuckDB's quantified comparison over a LIST — `x = ANY(list)`,
    * `x > ALL(list)` — becomes exists/forall with the comparison in a
    * lambda (same three-valued NULL logic).
    *
    * SUBQUERY forms (round-13 fuzz v4: Spark has no quantified
    * comparison at all — every `e op ANY (SELECT …)` parse-errored)
    * rewrite to a three-valued CASE over scalar AGGREGATES of the
    * subquery (an array-materializing exists() form is impossible:
    * Spark rejects subquery expressions inside higher-order functions,
    * and outer refs inside the subquery's own aggregates trip
    * AGGREGATE_FUNCTION_MIXED_OUTER_LOCAL_REFERENCES — the aggregate
    * shells below keep E outside every aggregate):
    *
    *   E =  ANY (sub) → CASE WHEN E IN (sub) THEN true
    *                         WHEN E IS NULL AND COUNT > 0 THEN NULL
    *                         WHEN NULLCNT > 0 THEN NULL ELSE false END
    *   E <> ANY (sub) → CASE WHEN COUNT = 0 THEN false
    *                         WHEN E IS NOT NULL AND NDIST >= 2 THEN true
    *                         WHEN E <> ONLYVAL THEN true
    *                         WHEN E IS NULL OR NULLCNT > 0 THEN NULL
    *                         ELSE false END
    *   E >  ANY (sub) → CASE WHEN E > MIN THEN true
    *                         WHEN COUNT = 0 THEN false
    *                         WHEN E IS NULL OR NULLCNT > 0 THEN NULL
    *                         ELSE false END     (< <= >= mirror on MAX/MIN)
    *   ALL forms are the duals (false/NULL/true; empty subquery TRUE).
    *
    * Verified against DuckDB: TRUE beats NULL beats FALSE for ANY,
    * FALSE beats NULL beats TRUE for ALL, empty is FALSE/TRUE. The
    * aggregate shells are uncorrelated scalar subqueries, so E may
    * carry outer references (E only ever appears OUTSIDE the
    * subqueries), and nothing is materialized beyond O(1) aggregates —
    * the shape a 100 TB right side would want anyway. Projected `E IN`
    * alone renders false where DuckDB keeps NULL (probe-27 omissions
    * row); the NULL-count arms here restore the three-valued result.
    */
  private val QuantifiedRe = """(?i)\b(ANY|ALL|SOME)\s*\(""".r

  /** Extends a comparison LHS leftward over binary arithmetic/concat
    * chains (`a + 1 = ANY(…)` must capture `a + 1`, not `1`). Absorbs
    * `+ - * / % & | ^` (and `||`) joints while the preceding token is
    * another primary; a joint preceded by a boundary (comma, open
    * paren, keyword, or nothing) is a unary sign and is absorbed into
    * the operand itself.
    */
  private def comparisonLhsStart(s: String, pEnd: Int): Int = {
    var st = operandStart(s, pEnd)
    var loop = true
    while (loop && st > 0) {
      var q = st - 1
      while (q >= 0 && s.charAt(q).isWhitespace) q -= 1
      if (q >= 0 && "+-*/%&|^".indexOf(s.charAt(q)) >= 0) {
        var q2 = q
        while (q2 >= 0 && "+-*/%&|^".indexOf(s.charAt(q2)) >= 0) q2 -= 1
        var r = q2
        while (r >= 0 && s.charAt(r).isWhitespace) r -= 1
        val boundary =
          if (r < 0) true
          else if (s.charAt(r) == ',' || s.charAt(r) == '(') true
          // a comparison operator char before the sign run means the
          // run is a unary sign (`x <> -5 << 2` must keep the `-` with
          // the 5 so graft_shiftl(-5, 2) raises DuckDB's negative-
          // left-shift error, not compute -(5 << 2))
          else if ("<>=!".indexOf(s.charAt(r)) >= 0) true
          else if (isWordChar(s.charAt(r))) {
            var w = r
            while (w >= 0 && isWordChar(s.charAt(w))) w -= 1
            literalAfterKeyword(s.substring(w + 1, r + 1))
          } else false
        if (boundary) {
          // unary sign context: keep the sign with the operand, stop
          st = q2 + 1
          loop = false
        } else if (r >= 0 && (isWordChar(s.charAt(r)) || s.charAt(r) == ')' ||
            s.charAt(r) == ']' || s.charAt(r) == '`' || s.charAt(r) == '\'')) {
          st = operandStart(s, r)
        } else loop = false
      } else loop = false
    }
    st
  }

  private def rewriteQuantified(sql: String): String = {
    var s = sql
    var from = 0
    var guard = 0
    while (guard < 200) {
      guard += 1
      val mask = quoteMask(s)
      val mOpt = QuantifiedRe.findAllMatchIn(s).find(m => m.start >= from && !mask(m.start))
      if (mOpt.isEmpty) return s
      val m = mOpt.get
      val open = m.end - 1
      var depth = 0
      var j = open
      var close = -1
      while (j < s.length && close < 0) {
        if (!mask(j)) s.charAt(j) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) close = j
          case _ =>
        }
        j += 1
      }
      if (close < 0) return s
      val inner = s.substring(open + 1, close).trim
      val innerUp = inner.toUpperCase(java.util.Locale.ROOT)
      val subquery = Seq("SELECT", "FROM", "WITH", "VALUES", "TABLE")
        .exists(k => innerUp.startsWith(k))
      // the comparison operator directly before ANY/ALL
      var p = m.start - 1
      while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
      var opEnd = p
      while (p >= 0 && "<>=!".indexOf(s.charAt(p)) >= 0) p -= 1
      val op = if (opEnd > p) s.substring(p + 1, opEnd + 1) else ""
      val validOp = Set("=", "==", "!=", "<>", "<", "<=", ">", ">=").contains(op)
      if (!validOp) { from = m.end }
      else if (subquery) {
        while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
        if (p < 0) return s
        val start = comparisonLhsStart(s, p)
        val e = "(" + s.substring(start, p + 1) + ")"
        val isAll = m.group(1).equalsIgnoreCase("ALL")
        val normOp = op match { case "==" => "=" case "!=" => "<>" case o => o }
        // ONE struct-producing scalar subquery carries every aggregate
        // the CASE arms need; its text repeats per reference, but the
        // identical plans collapse under ReuseSubquery, so the inner
        // relation is scanned once for the aggregates (plus the
        // semi-join pass for the IN arms) — the shape a 100 TB right
        // side wants. Fields are per-operator so ordering comparisons
        // never pay the count(DISTINCT) expand.
        def stats(fields: (String, String)*): String => String = {
          val st = s"(SELECT named_struct(" +
            fields.map { case (n, e) => s"'$n', $e" }.mkString(", ") +
            s") FROM ($inner) __qt(__qc))"
          (f: String) => s"$st.$f"
        }
        val basic = stats("c" -> "count(*)", "nc" -> "count(*) - count(__qc)")
        val cnt = basic("c")
        val nullCnt = basic("nc")
        lazy val distinctStats = stats("c" -> "count(*)",
          "nc" -> "count(*) - count(__qc)", "nd" -> "count(DISTINCT __qc)",
          "mx" -> "max(__qc)")
        def ordStats(ext: String) = stats("c" -> "count(*)",
          "nc" -> "count(*) - count(__qc)", "ext" -> s"$ext(__qc)")
        val rewritten = (normOp, isAll) match {
          case ("=", false) =>
            s"(CASE WHEN $e IN ($inner) THEN true " +
              s"WHEN $e IS NULL AND $cnt > 0 THEN NULL " +
              s"WHEN $nullCnt > 0 THEN NULL ELSE false END)"
          case ("<>", true) =>
            s"(CASE WHEN $e IN ($inner) THEN false " +
              s"WHEN $e IS NULL AND $cnt > 0 THEN NULL " +
              s"WHEN $nullCnt > 0 THEN NULL ELSE true END)"
          case ("<>", false) =>
            val d = distinctStats
            s"(CASE WHEN ${d("c")} = 0 THEN false " +
              s"WHEN $e IS NOT NULL AND ${d("nd")} >= 2 THEN true " +
              s"WHEN $e <> ${d("mx")} THEN true " +
              s"WHEN $e IS NULL OR ${d("nc")} > 0 THEN NULL ELSE false END)"
          case ("=", true) =>
            val d = distinctStats
            s"(CASE WHEN ${d("c")} = 0 THEN true " +
              s"WHEN $e IS NOT NULL AND ${d("nd")} >= 2 THEN false " +
              s"WHEN $e <> ${d("mx")} THEN false " +
              s"WHEN $e IS NULL OR ${d("nc")} > 0 THEN NULL ELSE true END)"
          case (o, false) =>
            // op ANY: compare against the weakest witness (min for >/>=,
            // max for </<=)
            val d = ordStats(if (o == ">" || o == ">=") "min" else "max")
            s"(CASE WHEN $e $o ${d("ext")} THEN true " +
              s"WHEN ${d("c")} = 0 THEN false " +
              s"WHEN $e IS NULL OR ${d("nc")} > 0 THEN NULL ELSE false END)"
          case (o, true) =>
            // op ALL: the strongest witness must satisfy it
            val d = ordStats(if (o == ">" || o == ">=") "max" else "min")
            s"(CASE WHEN ${d("c")} = 0 THEN true " +
              s"WHEN NOT ($e $o ${d("ext")}) THEN false " +
              s"WHEN $e IS NULL OR ${d("nc")} > 0 THEN NULL ELSE true END)"
        }
        // reprocess from the rewrite start: the emitted text has no
        // ANY/ALL tokens of its own, but a nested quantifier inside
        // the inlined subquery still needs its own pass
        s = s.substring(0, start) + rewritten + s.substring(close + 1)
        from = start
      }
      else {
        while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
        if (p < 0) return s
        val start = operandStart(s, p)
        val leftOp = s.substring(start, p + 1)
        val fn = if (m.group(1).equalsIgnoreCase("ALL")) "forall" else "exists"
        s = s.substring(0, start) +
          s"$fn($inner, __q -> ($leftOp) $op __q)" + s.substring(close + 1)
        from = start
      }
    }
    s
  }

  /** DuckDB accepts `OFFSET n LIMIT m` in either order; Spark wants
    * LIMIT first.
    */
  /** DuckDB's `<<`/`>>` bit-shift operators → graft_shiftl/graft_shiftr
    * (fuzz v4: Spark cannot parse `>>` at all — PARSE_SYNTAX_ERROR —
    * and its `<<` wraps silently where DuckDB raises). Operand capture
    * follows DuckDB's verified precedence: additive/multiplicative
    * bind TIGHTER than shifts (`16 >> 1 + 1` = 4, `2 << 2 * 2` = 32)
    * while `&`/`|` share the shift tier left-associatively
    * (`1 | 2 << 2` = 12) — the LHS absorbs arithmetic/bit chains via
    * comparisonLhsStart, the RHS absorbs `+ - * / %` joints but stops
    * at the next same-tier operator. Runs AFTER rewritePower, so `^`
    * is already a power() call primary. (`->>` json arrows were
    * consumed earlier; DuckDB spells nested types with parens, not
    * angles, so a `>>` in type-argument position cannot occur in
    * served DuckDB SQL.)
    */
  private def rewriteShiftOps(sql: String): String = {
    var s = sql
    var from = 0
    var guard = 0
    while (guard < 200) {
      guard += 1
      val mask = quoteMask(s)
      var i = -1
      var j = math.max(from, 0)
      while (j < s.length - 1 && i < 0) {
        val c = s.charAt(j)
        if (!mask(j) && (c == '<' || c == '>') && s.charAt(j + 1) == c &&
            (j == 0 || (s.charAt(j - 1) != '-' && s.charAt(j - 1) != c)) &&
            (j + 2 >= s.length || s.charAt(j + 2) != c))
          i = j
        else j += 1
      }
      if (i < 0) return s
      val isLeft = s.charAt(i) == '<'
      var p = i - 1
      while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
      if (p < 0) return s
      val start = comparisonLhsStart(s, p)
      val lhs = s.substring(start, p + 1)
      var e = operandEnd(s, i + 2)
      if (e <= i + 2) { from = i + 2 }
      else {
        var loop = true
        while (loop) {
          var q = e
          while (q < s.length && s.charAt(q).isWhitespace) q += 1
          if (q < s.length && "+-*/%".indexOf(s.charAt(q)) >= 0 &&
              !(q + 1 < s.length &&
                "+-*/%<>=&|".indexOf(s.charAt(q + 1)) >= 0)) {
            val e2 = operandEnd(s, q + 1)
            if (e2 > q + 1) e = e2 else loop = false
          } else loop = false
        }
        val rhs = s.substring(i + 2, e).trim
        val fn = if (isLeft) "graft_shiftl" else "graft_shiftr"
        s = s.substring(0, start) + s"$fn($lhs, $rhs)" + s.substring(e)
        from = start
      }
    }
    s
  }

  private def rewriteOffsetLimit(sql: String): String = {
    val re = """(?i)\bOFFSET\s+(\d+)\s+LIMIT\s+(\d+)""".r
    val mask = quoteMask(sql)
    re.replaceAllIn(sql, m =>
      if (mask(m.start)) java.util.regex.Matcher.quoteReplacement(m.matched)
      else s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}")
  }

  /** The two PRAGMA metadata verbs DuckDB clients commonly issue. */
  /** DuckDB's simplified `UNPIVOT` statement →
    * Spark's `SELECT * FROM … UNPIVOT (v FOR n IN (cols))`.
    * Covered form: `UNPIVOT <table> ON <c1, c2…> INTO NAME <n> VALUE <v>`.
    * Other spellings pass through and fail loudly downstream.
    */
  private def rewriteUnpivot(sql: String): String = {
    val m = ("""(?is)^\s*UNPIVOT\s+([A-Za-z_][A-Za-z0-9_.]*)\s+ON\s+([A-Za-z0-9_,\s]+?)""" +
      """\s+INTO\s+NAME\s+([A-Za-z_][A-Za-z0-9_]*)\s+VALUE\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""").r
    sql match {
      case m(table, cols, name, value) =>
        s"SELECT * FROM $table UNPIVOT ($value FOR $name IN (${cols.trim}))"
      case _ => sql
    }
  }

  /** DuckDB's FROM-first syntax: a bare `FROM t [...]` statement (no
    * leading SELECT) runs as `SELECT * FROM t [...]`, and the
    * `FROM t SELECT list [...]` ordering moves the select list back in
    * front. Keyword detection is quote- and paren-masked, so
    * `FROM (SELECT …) t` — a subquery source with no outer select
    * list — stays a bare-FROM statement.
    */
  private def rewriteFromFirst(sql: String): String = {
    val head = """(?is)^\s*FROM\b""".r
    if (head.findFirstIn(sql).isEmpty) return sql
    val trimmed = sql.trim.stripSuffix(";")
    val fromAt = firstTopLevel(trimmed, "FROM")
    val selAt = firstTopLevel(trimmed, "SELECT")
    if (selAt < 0)
      return "SELECT * " + trimmed.substring(fromAt)
    // FROM <src> SELECT <list> [tail]: split the list from trailing
    // clauses at the first top-level clause keyword after SELECT
    val src = trimmed.substring(fromAt + 4, selAt).trim
    val rest = trimmed.substring(selAt + 6).trim
    val cut = Seq("WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "QUALIFY")
      .map(k => firstTopLevel(rest, k)).filter(_ >= 0).sorted.headOption
    cut match {
      case Some(c) =>
        s"SELECT ${rest.substring(0, c).trim} FROM $src ${rest.substring(c).trim}"
      case None => s"SELECT $rest FROM $src"
    }
  }

  /** `COLUMNS(…)` call sites in `text`: (start, open-paren, close-paren). */
  private def columnsCalls(text: String): Seq[(Int, Int, Int)] = {
    val mask = quoteMask(text)
    val lower = text.toLowerCase
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var i = 0
    while (i < text.length) {
      var advanced = false
      if (!mask(i) && lower.startsWith("columns", i) &&
          (i == 0 || !isWordChar(text.charAt(i - 1)) && text.charAt(i - 1) != '.') &&
          (i + 7 >= text.length || !isWordChar(text.charAt(i + 7)))) {
        var k = i + 7
        while (k < text.length && text.charAt(k).isWhitespace) k += 1
        if (k < text.length && text.charAt(k) == '(') {
          var depth = 0; var j = k; var close = -1
          while (j < text.length && close < 0) {
            if (!mask(j)) {
              if (text.charAt(j) == '(') depth += 1
              else if (text.charAt(j) == ')') { depth -= 1; if (depth == 0) close = j }
            }
            j += 1
          }
          if (close >= 0) { out += ((i, k, close)); i = close + 1; advanced = true }
        }
      }
      if (!advanced) i += 1
    }
    out.toSeq
  }

  /** Column names matched by a COLUMNS() argument: `*`,
    * `* EXCLUDE (…)`, `'regex'` (partial match — DuckDB's RE2 search
    * semantics) or a lambda `v -> predicate` evaluated per column NAME
    * through a one-row-per-name VALUES relation (plain SQL, no
    * name-predicate interpreter to maintain).
    */
  private def columnsMatch(spark: SparkSession, arg: String, cols: Seq[String]): Seq[String] = {
    val a = arg.trim
    val excl = """(?is)^\*\s+EXCLUDE\s*\((.*)\)$""".r
    a match {
      case "*" => cols
      case excl(list) =>
        val drop = splitTopLevel(list, ',')
          .map(_.trim.stripPrefix("\"").stripSuffix("\"").toLowerCase).toSet
        cols.filterNot(c => drop.contains(c.toLowerCase))
      case _ if a.startsWith("'") && a.endsWith("'") && a.length >= 2 =>
        val re = java.util.regex.Pattern.compile(
          a.substring(1, a.length - 1).replace("''", "'"))
        cols.filter(c => re.matcher(c).find())
      case _ if a.contains("->") =>
        val arrow = a.indexOf("->")
        val v = a.substring(0, arrow).trim
        val body = a.substring(arrow + 2).trim
        if (v.isEmpty || !v.forall(isWordChar))
          throw new IllegalArgumentException(
            s"COLUMNS lambda parameter must be a bare identifier, got: $v")
        val values = cols.zipWithIndex
          .map { case (c, i) => s"($i, '${c.replace("'", "''")}')" }.mkString(", ")
        spark.sql(
          s"""SELECT `$v` FROM (VALUES $values) AS __columns_names(__i, `$v`)
             |WHERE $body ORDER BY __i""".stripMargin)
          .collect().map(_.getString(0)).toSeq
      case bare if bare.nonEmpty && bare.forall(isWordChar) =>
        // DuckDB also accepts a bare column identifier: COLUMNS(x)
        // expands to exactly that column (verified: SELECT
        // max(COLUMNS(x)) == max(x)); unknown names stay loud
        cols.filter(_.equalsIgnoreCase(bare)) match {
          case Seq(c) => Seq(c)
          case _ => throw new IllegalArgumentException(
            s"COLUMNS($bare) matched no column")
        }
      case other =>
        throw new IllegalArgumentException(s"unsupported COLUMNS() argument: $other")
    }
  }

  /** DuckDB `COLUMNS(…)` star-expressions in the TOP-LEVEL select
    * list — `COLUMNS(*)`, `COLUMNS(* EXCLUDE (…))`, `COLUMNS('regex')`
    * and the lambda form `COLUMNS(c -> predicate)`. Spark has no
    * star-expression macro, so the shim expands the match at rewrite
    * time: the FROM segment's schema comes from a LIMIT-0 analysis
    * pass (no execution — and the rewrite already runs inside the
    * pooled/timed admission path), then each select item containing
    * COLUMNS is replicated once per matched column with the call
    * replaced by the quoted column name — DuckDB's expression
    * expansion, so `min(COLUMNS(*))` becomes one `min` per column.
    * Several COLUMNS in one item must share one argument and expand in
    * lockstep (as DuckDB requires). Occurrences the shim can't resolve
    * (no FROM, subquery-nested, unsupported argument shapes) pass
    * through and fail loudly downstream.
    */
  /** Round-11 closure of the subquery residue: COLUMNS() inside a
    * parenthesized subquery (derived tables, IN/EXISTS bodies) now
    * rewrites too — each balanced paren group whose content is a
    * SELECT gets the full rewrite recursively (its own FROM resolves
    * its own schema, innermost first, so by the time an outer LIMIT-0
    * probe runs its subqueries are already plain SQL). Correlated
    * bodies whose probe can't resolve pass through and stay loud,
    * the established contract.
    */
  private def rewriteSubqueryColumns(spark: SparkSession, sql: String): String = {
    if (!containsUnquoted(sql, "COLUMNS")) return sql
    val mask = quoteMask(sql)
    val sb = new StringBuilder
    var i = 0
    while (i < sql.length) {
      if (!mask(i) && sql.charAt(i) == '(') {
        var depth = 0; var j = i; var close = -1
        while (j < sql.length && close < 0) {
          if (!mask(j)) {
            if (sql.charAt(j) == '(') depth += 1
            else if (sql.charAt(j) == ')') { depth -= 1; if (depth == 0) close = j }
          }
          j += 1
        }
        if (close < 0) { sb.append(sql.substring(i)); i = sql.length }
        else {
          val content = sql.substring(i + 1, close)
          val trimmed = content.trim
          val rewritten =
            if (trimmed.length >= 6 &&
                trimmed.substring(0, 6).equalsIgnoreCase("SELECT") &&
                containsUnquoted(content, "COLUMNS"))
              rewriteColumns(spark, content)
            else rewriteSubqueryColumns(spark, content)
          sb.append('(').append(rewritten).append(')')
          i = close + 1
        }
      } else { sb.append(sql.charAt(i)); i += 1 }
    }
    sb.toString
  }

  private def rewriteColumns(spark: SparkSession, sql0: String): String = {
    if (!containsUnquoted(sql0, "COLUMNS")) return sql0
    val sql = rewriteSubqueryColumns(spark, sql0)
    val sel = firstTopLevel(sql, "SELECT")
    val fromAt = firstTopLevel(sql, "FROM")
    if (sel < 0 || fromAt < sel) return sql
    val selList = sql.substring(sel + 6, fromAt)
    val fromSeg = sql.substring(fromAt + 4)
    val cutAt = Seq("WHERE", "GROUP", "HAVING", "QUALIFY", "WINDOW",
        "ORDER", "LIMIT", "OFFSET")
      .map(k => firstTopLevel(fromSeg, k)).filter(_ >= 0).sorted.headOption
    val fromSrc = cutAt.map(fromSeg.substring(0, _)).getOrElse(fromSeg)
      .trim.stripSuffix(";")
    val allCols =
      try spark.sql(s"SELECT * FROM $fromSrc LIMIT 0").schema.fieldNames.toSeq
      catch { case scala.util.control.NonFatal(_) => return sql } // let the original fail loudly
    // Per-column copies of `item` with every COLUMNS(arg) occurrence
    // replaced by one matched column; None when item has no call.
    def expansions(item: String): Option[Seq[String]] = {
      val occ = columnsCalls(item)
      if (occ.isEmpty) None
      else {
        val args = occ.map { case (_, open, close) => item.substring(open + 1, close).trim }
        if (args.distinct.length != 1)
          throw new IllegalArgumentException(
            "multiple COLUMNS() with different arguments in one expression")
        val names = columnsMatch(spark, args.head, allCols)
        if (names.isEmpty)
          throw new IllegalArgumentException(
            s"COLUMNS(${args.head}) matched no columns")
        Some(names.map { n =>
          occ.sortBy(-_._1).foldLeft(item) { case (acc, (st, _, cl)) =>
            acc.substring(0, st) + s"`$n`" + acc.substring(cl + 1)
          }.trim
        })
      }
    }
    var out = sql
    if (columnsCalls(selList).nonEmpty) {
      val expanded = splitTopLevel(selList, ',').flatMap { item =>
        expansions(item).getOrElse(Seq(item.trim))
      }
      out = sql.substring(0, sel + 6) + " " + expanded.mkString(", ") + " " + sql.substring(fromAt)
    }
    // COLUMNS in WHERE: DuckDB duplicates the WHOLE predicate per
    // matched column and combines with AND (verified: `WHERE
    // COLUMNS('[xy]') IS NOT NULL OR s = 'b'` keeps a row iff the
    // disjunction holds for EVERY matched column). Outer query only —
    // a COLUMNS in a subquery clause stays loud, like the select-list
    // rewrite's contract.
    val whereAt = firstTopLevel(out, "WHERE")
    if (whereAt >= 0) {
      val tail = out.substring(whereAt + 5)
      val end = Seq("GROUP", "HAVING", "QUALIFY", "WINDOW", "ORDER", "LIMIT", "OFFSET")
        .map(k => firstTopLevel(tail, k)).filter(_ >= 0).sorted.headOption
        .getOrElse(tail.length)
      val seg0 = tail.substring(0, end)
      val trailingSemi = seg0.trim.endsWith(";") && end == tail.length
      val seg = seg0.stripSuffix(" ").trim.stripSuffix(";")
      if (columnsCalls(seg).nonEmpty)
        expansions(seg).foreach { copies =>
          out = out.substring(0, whereAt + 5) + " " +
            copies.map(c => s"($c)").mkString(" AND ") +
            (if (trailingSemi) ";" else " ") + tail.substring(end)
        }
    }
    // COLUMNS in ORDER BY: each order item expands to one sort key per
    // matched column, any ASC/DESC/NULLS suffix carried onto every
    // copy (verified: `ORDER BY COLUMNS('[xy]') DESC` ≡ x DESC, y DESC).
    val orderAt = firstTopLevel(out, "ORDER BY")
    if (orderAt >= 0) {
      val tail = out.substring(orderAt + 8)
      val end = Seq("LIMIT", "OFFSET")
        .map(k => firstTopLevel(tail, k)).filter(_ >= 0).sorted.headOption
        .getOrElse(tail.length)
      val seg0 = tail.substring(0, end)
      val trailingSemi = seg0.trim.endsWith(";") && end == tail.length
      val seg = seg0.trim.stripSuffix(";")
      if (columnsCalls(seg).nonEmpty) {
        val keys = splitTopLevel(seg, ',').flatMap { item =>
          expansions(item) match {
            case None => Seq(item.trim)
            case Some(copies) =>
              // generated keys get DuckDB's default NULL order spelled
              // out (NULLS LAST both directions; Spark's ASC default
              // is NULLS FIRST — a silent reorder otherwise)
              copies.map { c =>
                if (c.toUpperCase.contains("NULLS")) c else s"$c NULLS LAST"
              }
          }
        }
        out = out.substring(0, orderAt + 8) + " " + keys.mkString(", ") +
          (if (trailingSemi) ";" else " ") + tail.substring(end)
      }
    }
    out
  }

  /** `(content, remainder)` of a leading parenthesized group (after
    * optional whitespace); None when `s` doesn't start with one.
    */
  private def parenGroup(s: String): Option[(String, String)] = {
    var i = 0
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    if (i >= s.length || s.charAt(i) != '(') return None
    val mask = quoteMask(s)
    var depth = 0; var j = i; var close = -1
    while (j < s.length && close < 0) {
      if (!mask(j)) {
        if (s.charAt(j) == '(') depth += 1
        else if (s.charAt(j) == ')') { depth -= 1; if (depth == 0) close = j }
      }
      j += 1
    }
    if (close < 0) None
    else Some((s.substring(i + 1, close), s.substring(close + 1)))
  }

  /** DuckDB `* [EXCLUDE (…)] REPLACE (expr AS col, …)` star-modifier
    * in the top-level select list. Spark understands `* EXCEPT` but
    * has no REPLACE, so the shim expands the star against the FROM
    * segment's schema (same LIMIT-0 analysis probe as COLUMNS) with
    * the replaced columns swapped IN PLACE — column order and names
    * exactly as DuckDB produces them. Replacing a column that doesn't
    * exist is a loud error (DuckDB: Binder Error), not a no-op.
    * Qualified stars (`t.* REPLACE`) and nested positions pass
    * through and fail loudly downstream.
    */
  private def rewriteReplace(spark: SparkSession, sql: String): String = {
    if (!containsUnquoted(sql, "REPLACE")) return sql
    val sel = firstTopLevel(sql, "SELECT")
    val fromAt = firstTopLevel(sql, "FROM")
    if (sel < 0 || fromAt < sel) return sql
    val selList = sql.substring(sel + 6, fromAt)
    val items = splitTopLevel(selList, ',').map(_.trim)
    val idx = items.indexWhere(it =>
      it.startsWith("*") && containsUnquoted(it, "REPLACE"))
    if (idx < 0) return sql
    val item = items(idx)
    var rest = item.substring(1).trim
    var excluded = Set.empty[String]
    if (rest.toUpperCase.startsWith("EXCLUDE")) {
      val g = parenGroup(rest.substring(7)).getOrElse(return sql)
      excluded = splitTopLevel(g._1, ',')
        .map(_.trim.stripPrefix("\"").stripSuffix("\"").toLowerCase).toSet
      rest = g._2.trim
    }
    if (!rest.toUpperCase.startsWith("REPLACE")) return sql
    val g = parenGroup(rest.substring(7)).getOrElse(return sql)
    if (g._2.trim.nonEmpty) return sql // trailing text after REPLACE (…) — not the modifier shape
    val replacements: Seq[(String, String)] = splitTopLevel(g._1, ',').map { r =>
      val asAt = lastTopLevel(r, "AS")
      if (asAt < 0)
        throw new IllegalArgumentException(s"REPLACE entry must be `expr AS col`: ${r.trim}")
      val expr = r.substring(0, asAt).trim
      val name = r.substring(asAt + 2).trim
        .stripPrefix("\"").stripSuffix("\"").stripPrefix("`").stripSuffix("`")
      name.toLowerCase -> expr
    }
    val fromSeg = sql.substring(fromAt + 4)
    val cutAt = Seq("WHERE", "GROUP", "HAVING", "QUALIFY", "WINDOW",
        "ORDER", "LIMIT", "OFFSET")
      .map(k => firstTopLevel(fromSeg, k)).filter(_ >= 0).sorted.headOption
    val fromSrc = cutAt.map(fromSeg.substring(0, _)).getOrElse(fromSeg)
      .trim.stripSuffix(";")
    val allCols =
      try spark.sql(s"SELECT * FROM $fromSrc LIMIT 0").schema.fieldNames.toSeq
      catch { case scala.util.control.NonFatal(_) => return sql }
    val known = allCols.map(_.toLowerCase).toSet
    replacements.collectFirst { case (n, _) if !known(n) => n }.foreach { n =>
      throw new IllegalArgumentException(s"REPLACE names a column that does not exist: $n")
    }
    val replMap = replacements.toMap
    val expandedStar = allCols
      .filterNot(c => excluded(c.toLowerCase))
      .map { c =>
        replMap.get(c.toLowerCase) match {
          case Some(e) => s"($e) AS `$c`"
          case None => s"`$c`"
        }
      }
    val newItems = items.updated(idx, expandedStar.mkString(", "))
    sql.substring(0, sel + 6) + " " + newItems.mkString(", ") + " " + sql.substring(fromAt)
  }

  /** All depth-0, unmasked, word-bounded occurrences of `kw`. */
  private def allTopLevelKeyword(content: String, kw: String): Seq[Int] = {
    val mask = quoteMask(content)
    val upper = content.toUpperCase
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var depth = 0
    var i = 0
    while (i < content.length) {
      if (!mask(i)) {
        content.charAt(i) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case _ =>
            if (depth == 0 && upper.startsWith(kw, i) &&
                (i == 0 || !isWordChar(content.charAt(i - 1))) &&
                (i + kw.length >= content.length || !isWordChar(content.charAt(i + kw.length))))
              out += i
        }
      }
      i += 1
    }
    out.toSeq
  }

  /** DuckDB `ASOF [LEFT|INNER] JOIN` SQL over HTTP — the reference's
    * docs lead with this spelling, and Spark has no ASOF join. Covered
    * shape (the documented one): `<left> ASOF [LEFT] JOIN <right>
    * [AS] alias ON <equi-conds> AND <one inequality on the times>`.
    *
    * Realization: the VALIDITY-INTERVAL rewrite. Each right row is
    * valid from its own time until the key's next right row
    * (`LEAD(t) OVER (PARTITION BY keys ORDER BY t)` — `LAG` for the
    * forward directions), so the as-of collapses to an ordinary
    * equi-join with a half-open interval residual: at most one right
    * row matches each left row, arbitrary select lists (incl. alias.*)
    * keep working, and Spark plans the equi key as a normal
    * shuffle/broadcast join instead of anything quadratic. A top-level
    * bare `*` select list becomes `* EXCEPT (__vf, __vu)` so the
    * synthesized interval columns never leak into results. Shapes the
    * shim can't classify (no alias, unqualified columns, zero or
    * several inequalities, USING) pass through and fail loudly.
    */
  private def rewriteAsOf(sql: String): String = {
    val asofAt = firstTopLevel(sql, "ASOF")
    if (asofAt < 0) return sql
    val afterAsof = sql.substring(asofAt + 4)
    val jm = """(?is)^\s*(LEFT\s+|INNER\s+)?JOIN\b""".r.findFirstMatchIn(afterAsof).getOrElse(return sql)
    val joinType =
      if (jm.group(1) != null && jm.group(1).trim.equalsIgnoreCase("LEFT")) "LEFT" else "INNER"
    val bStart = asofAt + 4 + jm.end
    val rest = sql.substring(bStart)
    val onAt = firstTopLevel(rest, "ON")
    if (onAt < 0) return sql
    val bText = rest.substring(0, onAt).trim
    // right-side base + alias (references in ON/select list use the alias)
    val bare = """^[A-Za-z_][A-Za-z0-9_.]*$""".r
    val aliased = """(?is)^(.*?)(?:\s+AS)?\s+([A-Za-z_][A-Za-z0-9_]*)\s*$""".r
    val (bBase, bAlias) = bText match {
      case bare() => (bText, bText.split('.').last)
      case aliased(base, al)
          if !Seq("select", "from", "where", "on", "join").contains(al.toLowerCase) =>
        (base.trim, al)
      case _ => return sql
    }
    // ON segment up to the next top-level clause / further join
    val condSeg = rest.substring(onAt + 2)
    val cutAt = Seq("WHERE", "GROUP", "HAVING", "QUALIFY", "WINDOW", "ORDER",
        "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT",
        "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "CROSS", "ASOF")
      .map(k => firstTopLevel(condSeg, k)).filter(_ >= 0).sorted.headOption
    val cond = cutAt.map(condSeg.substring(0, _)).getOrElse(condSeg)
    val tail = cutAt.map(condSeg.substring(_)).getOrElse("")
    // split conjuncts on top-level AND
    val andAts = allTopLevelKeyword(cond, "AND")
    val bounds = (-3 +: andAts) :+ cond.length
    val conjuncts = bounds.sliding(2).map { case Seq(a, b) => cond.substring(a + 3, b).trim }.toSeq
    def refsB(side: String): Boolean = {
      val lower = side.toLowerCase
      val at = lower.indexOf(bAlias.toLowerCase + ".")
      at >= 0 && (at == 0 || !isWordChar(side.charAt(at - 1)))
    }
    // classify: exactly one inequality conjunct, the rest equi keys
    def topCompareOp(c: String): Option[(Int, String)] = {
      val mask = quoteMask(c)
      var depth = 0
      var i = 0
      while (i < c.length) {
        if (!mask(i)) {
          c.charAt(i) match {
            case '(' | '[' => depth += 1
            case ')' | ']' => depth -= 1
            case ch @ ('<' | '>') if depth == 0 =>
              val op = if (i + 1 < c.length && c.charAt(i + 1) == '=') s"$ch=" else s"$ch"
              if (!(ch == '<' && i + 1 < c.length && c.charAt(i + 1) == '>')) // skip <>
                return Some((i, op))
            case _ =>
          }
        }
        i += 1
      }
      None
    }
    val classified = conjuncts.map(c => (c, topCompareOp(c)))
    val ineqs = classified.filter(_._2.isDefined)
    if (ineqs.length != 1) return sql
    val equis = classified.filter(_._2.isEmpty).map(_._1)
    if (equis.isEmpty || !equis.forall(e => containsUnquoted(e, "="))) return sql
    val (ineq, Some((opAt, op))) = ineqs.head: @unchecked
    val (s1, s2) = (ineq.substring(0, opAt).trim, ineq.substring(opAt + op.length).trim)
    // normalize to  <leftTime> OP <rightTime>
    val (lt, rt, normOp) =
      if (refsB(s2) && !refsB(s1)) (s1, s2, op)
      else if (refsB(s1) && !refsB(s2))
        (s2, s1, op match { case ">" => "<"; case "<" => ">"; case ">=" => "<="; case _ => ">=" })
      else return sql
    // right-side partition keys = the B side of each equality
    val rkeys = equis.map { e =>
      val eq = e.indexOf('=')
      val (a, b) = (e.substring(0, eq).trim, e.substring(eq + 1).trim)
      if (refsB(a) && !refsB(b)) a
      else if (refsB(b) && !refsB(a)) b
      else return sql
    }
    val backward = normOp == ">=" || normOp == ">"
    val (winFn, vfCond) =
      if (backward)
        ("LEAD", normOp match {
          case ">=" => s"$lt >= $bAlias.__vf AND ($bAlias.__vu IS NULL OR $lt < $bAlias.__vu)"
          case _    => s"$lt > $bAlias.__vf AND ($bAlias.__vu IS NULL OR $lt <= $bAlias.__vu)"
        })
      else
        ("LAG", normOp match {
          case "<=" => s"$lt <= $bAlias.__vf AND ($bAlias.__vu IS NULL OR $lt > $bAlias.__vu)"
          case _    => s"$lt < $bAlias.__vf AND ($bAlias.__vu IS NULL OR $lt >= $bAlias.__vu)"
        })
    val newB =
      s"""(SELECT $bAlias.*, $rt AS __vf,
         |  $winFn($rt) OVER (PARTITION BY ${rkeys.mkString(", ")} ORDER BY $rt) AS __vu
         |  FROM $bBase $bAlias) $bAlias""".stripMargin
    val newCond = (equis :+ s"($vfCond)").mkString(" AND ")
    var out = sql.substring(0, asofAt) + joinType + " JOIN " + newB +
      " ON " + newCond + " " + tail
    // keep the synthesized columns out of a bare `SELECT *`
    val sel = firstTopLevel(out, "SELECT")
    val fromAt = firstTopLevel(out, "FROM")
    if (sel >= 0 && fromAt > sel && out.substring(sel + 6, fromAt).trim == "*")
      out = out.substring(0, sel + 6) + " * EXCEPT (__vf, __vu) " + out.substring(fromAt)
    rewriteAsOf(out) // a second ASOF join, if any
  }

  /** `expr [NOT] SIMILAR TO '<regex>'` → `expr [NOT] RLIKE
    * '^(?:<regex>)$'`. DuckDB's SIMILAR TO is regex-based (RE2, not
    * SQL-standard wildcards) and matches the ENTIRE string, hence the
    * anchors; a preceding NOT keeps working because Spark parses
    * `NOT RLIKE` natively. Only literal patterns rewrite — a computed
    * pattern can't be anchored safely at rewrite time and fails loudly.
    */
  private def rewriteSimilarTo(sql: String): String = {
    if (!containsUnquoted(sql, "SIMILAR")) return sql
    val mask = quoteMask(sql)
    val upper = sql.toUpperCase
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      var matched = false
      if (!mask(i) && upper.startsWith("SIMILAR", i) &&
          (i == 0 || !isWordChar(sql.charAt(i - 1)))) {
        var k = i + 7
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        if (upper.startsWith("TO", k) &&
            (k + 2 >= sql.length || !isWordChar(sql.charAt(k + 2)))) {
          var p = k + 2
          while (p < sql.length && sql.charAt(p).isWhitespace) p += 1
          if (p < sql.length && sql.charAt(p) == '\'') {
            var q = p + 1
            while (q < sql.length && mask(q)) q += 1
            val inner = sql.substring(p + 1, q - 1)
            out.append("RLIKE '^(?:").append(inner).append(")$'")
            i = q
            matched = true
          }
        }
      }
      if (!matched) { out.append(sql.charAt(i)); i += 1 }
    }
    out.toString
  }

  /** DuckDB allows DESCRIBE of a subquery (`DESCRIBE SELECT ...`) and
    * DESCRIBE as a relation (`SELECT * FROM (DESCRIBE t)`). Spark
    * spells the first `DESCRIBE QUERY ...`; the second has no Spark
    * spelling, so the parenthesized DESCRIBE is materialized into a
    * temp view at rewrite time (the output is a handful of schema
    * rows — col_name/data_type/comment, Spark's describe columns,
    * the same column-name policy as the existing table form).
    */
  private val describeViewN = new java.util.concurrent.atomic.AtomicLong(0L)
  private def rewriteDescribe(spark: SparkSession, sql: String): String = {
    var out = sql
    // DESC is DuckDB's DESCRIBE abbreviation; only the subquery form
    // needs rewriting (plain `DESC t` is already Spark syntax)
    val top = """(?is)^(\s*)DESC(?:RIBE)?\s+(.*)$""".r
    out match {
      case top(ws, body0) =>
        val body = body0.trim
        val isQuery =
          """(?is)^\(?\s*(SELECT|WITH|VALUES|FROM)\b""".r.findFirstIn(body).isDefined
        if (isQuery) {
          val norm =
            if (body.toUpperCase.startsWith("FROM")) rewriteFromFirst(body) else body
          out = s"${ws}DESCRIBE QUERY $norm"
        }
      case _ => ()
    }
    if (!containsUnquoted(out, "DESCRIBE")) return out
    val rel = """(?is)\(\s*DESCRIBE\s+([A-Za-z_][A-Za-z0-9_.]*)\s*\)""".r
    val mask = quoteMask(out)
    rel.replaceAllIn(out, m =>
      if (mask(m.start)) java.util.regex.Matcher.quoteReplacement(m.matched)
      else {
        val v = s"__graft_describe_${describeViewN.incrementAndGet()}"
        spark.sql(s"DESCRIBE ${m.group(1)}").createOrReplaceTempView(v)
        v
      })
  }

  /** DuckDB `a POSITIONAL JOIN b` — zip two relations by row order.
    * Row order is not a Spark SQL concept, so the two FROM-clause
    * relations are materialized, zipped by operators.PositionalJoin
    * (distributed zipWithIndex — NOT the single-partition
    * `row_number() OVER ()` trap), registered as a temp view sorted
    * by position (SQL-surface fidelity: DuckDB streams the zip in
    * order; the operator API stays the no-sort scale path), and the
    * join span is replaced by the view name. Covers the
    * `FROM <rel> POSITIONAL JOIN <rel>` form — bare tables, aliased
    * subqueries, chains; each operand is whatever SQL parses inside
    * `SELECT * FROM <operand>`. Any other placement (operand crossing
    * an enclosing paren, comma-join prefix ambiguity) is left for
    * Spark to reject loudly rather than guessed at.
    */
  private val posJoinViewN = new java.util.concurrent.atomic.AtomicLong(0L)
  private def rewritePositionalJoin(spark: SparkSession, sql: String): String = {
    if (!containsUnquoted(sql, "POSITIONAL")) return sql
    val m = """(?is)\bPOSITIONAL\s+JOIN\b""".r.findFirstMatchIn(sql).getOrElse(return sql)
    val mask = quoteMask(sql)
    if (mask(m.start)) return sql
    // left bound: the governing FROM at the same paren depth
    var i = m.start - 1; var depth = 0; var fromEnd = -1
    while (i >= 0 && fromEnd < 0) {
      if (!mask(i)) sql.charAt(i) match {
        case ')' => depth += 1
        case '(' => depth -= 1; if (depth < 0) return sql
        case c if depth == 0 && (c == 'm' || c == 'M') && i >= 3 &&
            sql.substring(i - 3, i + 1).equalsIgnoreCase("from") &&
            (i - 3 == 0 || !isWordChar(sql.charAt(i - 4))) &&
            !isWordChar(sql.charAt(i + 1)) =>
          fromEnd = i + 1
        case _ => ()
      }
      i -= 1
    }
    if (fromEnd < 0) return sql
    val leftSeg = sql.substring(fromEnd, m.start)
    val maskL = quoteMask(leftSeg)
    var dl = 0
    for (k <- 0 until leftSeg.length) { // comma-join prefix: bail loud
      if (!maskL(k)) leftSeg.charAt(k) match {
        case '(' => dl += 1
        case ')' => dl -= 1
        case ',' if dl == 0 => return sql
        case _ => ()
      }
    }
    val leftRel = leftSeg.trim
    // right bound: next top-level clause keyword, another join, a ')'
    // closing an enclosing scope, a comma, a semicolon, or the end
    val rest = sql.substring(m.end)
    val maskR = quoteMask(rest)
    var j = 0; var d2 = 0; var punctCut = -1
    while (j < rest.length && punctCut < 0) {
      if (!maskR(j)) rest.charAt(j) match {
        case '(' => d2 += 1
        case ')' => d2 -= 1; if (d2 < 0) punctCut = j
        case ',' | ';' if d2 == 0 => punctCut = j
        case _ => ()
      }
      j += 1
    }
    val kwCut = Seq("WHERE", "GROUP", "HAVING", "QUALIFY", "WINDOW", "ORDER",
        "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT",
        "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "CROSS", "ASOF", "POSITIONAL")
      .map(k => firstTopLevel(rest, k)).filter(_ >= 0)
    val cutAt = (kwCut ++ Some(punctCut).filter(_ >= 0)).sorted.headOption
    val rightRel = cutAt.map(rest.substring(0, _)).getOrElse(rest).trim
    val tail = cutAt.map(rest.substring(_)).getOrElse("")
    if (leftRel.isEmpty || rightRel.isEmpty) return sql
    val l = spark.sql(s"SELECT * FROM $leftRel")
    val r = spark.sql(s"SELECT * FROM $rightRel")
    val v = s"__graft_posjoin_${posJoinViewN.incrementAndGet()}"
    graft.operators.PositionalJoin(l, r).orderBy("pos").drop("pos")
      .createOrReplaceTempView(v)
    rewritePositionalJoin(spark, sql.substring(0, fromEnd) + s" $v $tail")
  }

  private def rewritePragma(sql: String): String = {
    val ti = """(?i)^\s*PRAGMA\s+table_info\s*\(\s*'([A-Za-z_][A-Za-z0-9_.]*)'\s*\)\s*;?\s*$""".r
    val st = """(?i)^\s*PRAGMA\s+show_tables\s*;?\s*$""".r
    val sat = """(?i)^\s*SHOW\s+ALL\s+TABLES\s*;?\s*$""".r
    // DuckDB `SHOW t` describes the table; SHOW TABLES/DATABASES etc.
    // stay Spark verbs (the exclusion list keeps every Spark SHOW form)
    val sh = """(?i)^\s*SHOW\s+([A-Za-z_][A-Za-z0-9_.]*)\s*;?\s*$""".r
    val showKeywords = Set("tables", "databases", "schemas", "views",
      "functions", "catalogs", "columns", "partitions", "tblproperties",
      "create", "current", "namespaces")
    // DuckDB EXPLAIN ANALYZE profiles the run; Spark has no ANALYZE
    // mode, so the plan renders WITHOUT timings (visible difference,
    // never silently-different data — COVERAGE.md documents it)
    val ea = """(?is)^(\s*)EXPLAIN\s+ANALYZE\s+(.*)$""".r
    sql match {
      case ti(table) => s"DESCRIBE $table"
      case st() => "SHOW TABLES"
      case sat() => "SHOW TABLES"
      case ea(ws, rest) => s"${ws}EXPLAIN $rest"
      case sh(ident) if !showKeywords.contains(ident.toLowerCase) =>
        s"DESCRIBE $ident"
      case _ => sql
    }
  }

  /** DuckDB `UNION [ALL] BY NAME` — columns match by NAME, either
    * side's missing columns fill with NULL (DuckDB semantics; Spark
    * SQL has no BY NAME spelling). Both branches' schemas come from a
    * LIMIT-0 analysis probe; output columns are the left branch's
    * order followed by right-only names, and each branch is wrapped
    * into a SELECT projecting exactly that list. A trailing top-level
    * ORDER BY / LIMIT / OFFSET on the right branch belongs to the
    * whole union (DuckDB binds it there) and is hoisted out.
    */
  private def rewriteUnionByName(spark: SparkSession, sql: String): String = {
    if (!containsUnquoted(sql, "UNION")) return sql
    val un = """(?is)\bUNION\s+(ALL\s+)?BY\s+NAME\b""".r
    val m = un.findFirstMatchIn(sql).getOrElse(return sql)
    // a BY NAME union nested inside a paren span (derived table,
    // IN-subquery, CTE body — round-14 fuzz v8) rewrites by applying
    // this same function to the innermost enclosing span's content,
    // where the union IS top-level; repeat until no nested match is
    // left or a span makes no progress (then pass through loud)
    if (firstTopLevel(sql, "UNION") != m.start) {
      val mask = quoteMask(sql)
      var depth = 0; var j = 0
      val stack = new Array[Int](sql.length)
      while (j < m.start) {
        if (!mask(j)) sql.charAt(j) match {
          case '(' => stack(depth) = j; depth += 1
          case ')' => if (depth > 0) depth -= 1
          case _ => ()
        }
        j += 1
      }
      if (depth == 0) {
        // BY NAME is top-level but NOT the first top-level set op
        // (round-14 advice: `A UNION B UNION ALL BY NAME C` passed
        // through unrewritten → loud 400 while DuckDB serves it).
        // Set ops bind left-assoc, so the plain-op prefix is the BY
        // NAME's left branch — wrap it as a derived table and
        // recurse; the BY NAME is then the first top-level op. A
        // top-level WITH stays loud: its CTEs may be referenced on
        // BOTH sides and wrapping the prefix would break scoping.
        val prefix = sql.substring(0, m.start).trim
        if (prefix.isEmpty || prefix.toUpperCase.startsWith("WITH")) return sql
        return rewriteUnionByName(spark,
          s"SELECT * FROM ($prefix) __ubn_p ${sql.substring(m.start)}")
      }
      val open = stack(depth - 1)
      var d = 0; var k = open; var close = -1
      while (k < sql.length && close < 0) {
        if (!mask(k)) sql.charAt(k) match {
          case '(' => d += 1
          case ')' => d -= 1; if (d == 0) close = k
          case _ => ()
        }
        k += 1
      }
      if (close < 0) return sql
      val inner = sql.substring(open + 1, close)
      val rewritten = rewriteUnionByName(spark, inner)
      if (rewritten == inner) return sql
      return rewriteUnionByName(spark,
        sql.substring(0, open + 1) + rewritten + sql.substring(close))
    }
    val all = m.group(1) != null
    val left = sql.substring(0, m.start).trim
    var right = sql.substring(m.end).trim.stripSuffix(";")
    // CHAINED set ops after the BY NAME branch (round-14): set ops of
    // equal precedence bind LEFT-assoc, so `A UNION BY NAME B UNION C`
    // is `(A ubn B) UNION C` — rewrite only the (left, first-segment)
    // pair, wrap it as a derived table, and recurse over the remainder.
    // INTERSECT binds tighter than UNION/EXCEPT and stays inside the
    // segment; a following UNION or EXCEPT ends it.
    val segEnd = Seq(firstTopLevel(right, "UNION"), firstTopLevel(right, "EXCEPT"))
      .filter(_ >= 0).sorted.headOption
    segEnd.foreach { at =>
      val seg = right.substring(0, at).trim
      val rest = right.substring(at)
      val pair = s"$left UNION ${if (all) "ALL " else ""}BY NAME $seg"
      val combined = rewriteUnionByName(spark, pair)
      if (combined == pair) return sql
      return rewriteUnionByName(spark,
        s"SELECT * FROM ($combined) __ubn_c $rest")
    }
    // hoist a trailing top-level ORDER BY / LIMIT / OFFSET
    val tailAt = Seq("ORDER", "LIMIT", "OFFSET")
      .map(k => firstTopLevel(right, k)).filter(_ >= 0).sorted.headOption
    val tail = tailAt.map(right.substring(_)).getOrElse("")
    right = tailAt.map(right.substring(0, _)).getOrElse(right).trim
    val (lCols, rCols) =
      try (spark.sql(s"SELECT * FROM ($left) __ubn_l LIMIT 0").schema.fieldNames.toSeq,
           spark.sql(s"SELECT * FROM ($right) __ubn_r LIMIT 0").schema.fieldNames.toSeq)
      catch { case scala.util.control.NonFatal(_) => return sql }
    val lSet = lCols.map(_.toLowerCase).toSet
    val outCols = lCols ++ rCols.filterNot(c => lSet(c.toLowerCase))
    def proj(have: Seq[String]): String = {
      val hset = have.map(_.toLowerCase).toSet
      outCols.map(c => if (hset(c.toLowerCase)) s"`$c`" else s"NULL AS `$c`").mkString(", ")
    }
    val op = if (all) "UNION ALL" else "UNION"
    (s"SELECT ${proj(lCols)} FROM ($left) __ubn_l $op " +
      s"SELECT ${proj(rCols)} FROM ($right) __ubn_r $tail").trim
  }

  // ---------------------------------------------------------------
  // Runtime macros — DuckDB `CREATE MACRO` over the HTTP endpoint.
  //
  // Macros are the reference's only user-extension mechanism
  // (docs/docs/advanced-tutorials/custom-database.md:8,28; table-macro
  // test src/main.rs:413-450). DuckDB stores a macro as an unbound
  // parse tree and substitutes arguments at bind time — parameters are
  // UNTYPED, so Spark's `CREATE FUNCTION` (typed parameters, probed on
  // 4.1) cannot carry them faithfully: `f(x) AS x+1` must work for
  // ints, doubles and intervals alike. The shim therefore implements
  // exactly DuckDB's model: bind-time template expansion. Bodies are
  // stored raw and substituted into the query BEFORE the rest of the
  // dialect pipeline, so a body full of DuckDB-isms (read_csv, [..]
  // lists, //) is rewritten like any directly-posted SQL — and file
  // paths inside macro bodies hit the sandbox check at USE time.
  // ---------------------------------------------------------------

  private[graft] final case class MacroDef(
      params: Seq[(String, Option[String])], // name → optional default (`x := 10`)
      body: String,
      isTable: Boolean)

  // per-session registries (the server serves all requests from one
  // session, so macros persist for the server's life). This lifetime
  // MATCHES the reference exactly: it attaches its .db READ_ONLY
  // (src/cli/options.rs:185), so a runtime CREATE MACRO there lands in
  // DuckDB's in-memory default catalog and is equally lost on restart —
  // durable macros go in the init script on both engines.
  // Weak keys let test sessions be collected.
  // A name maps to its OVERLOAD SET (DuckDB: one CREATE MACRO may
  // declare several signatures `f(a) AS …, (a, b) AS …`, resolved by
  // argument count at bind time).
  private val macroRegistry = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[String, Seq[MacroDef]]]())

  private def macrosFor(spark: SparkSession): scala.collection.concurrent.TrieMap[String, Seq[MacroDef]] =
    macroRegistry.synchronized {
      var m = macroRegistry.get(spark)
      if (m == null) { m = scala.collection.concurrent.TrieMap.empty; macroRegistry.put(spark, m) }
      m
    }

  // macro names may be schema-qualified; only DuckDB's default schema
  // `main` exists here (no binary .db attach — COVERAGE.md omissions),
  // so `main.f` resolves to `f` and any other schema fails loudly
  private def resolveMacroName(raw: String): String = {
    val parts = raw.split('.')
    if (parts.length == 1) raw.toLowerCase
    else if (parts.length == 2 && parts(0).equalsIgnoreCase("main")) parts(1).toLowerCase
    else throw new IllegalArgumentException(s"unknown schema in macro name: $raw")
  }

  private val CreateMacroRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?MACRO(\s+TABLE)?\s+([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?)\s*\(""".r
  private val DropMacroRe =
    """(?is)^\s*DROP\s+MACRO(?:\s+TABLE)?(\s+IF\s+EXISTS)?\s+([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?)\s*;?\s*$""".r

  /** Handle `CREATE [OR REPLACE] [TEMP] MACRO [TABLE] f(params) AS
    * [TABLE] body` / `DROP MACRO [TABLE] [IF EXISTS] f`. Returns the
    * acknowledgment SQL (empty result set, like DuckDB's `[]`) when the
    * statement is a macro verb, None otherwise. `MACRO TABLE` is the
    * pre-1.x spelling the reference's tests/test.db was built with;
    * `AS TABLE` is current DuckDB.
    */
  /** Parse a parameter-list text into (name → default) pairs; None
    * when any entry isn't `identifier [:= default]` (used both to
    * parse real signatures and to PROBE whether text after a comma
    * starts another overload signature).
    */
  private def parseParamList(group: String): Option[Seq[(String, Option[String])]] = {
    val raw = group.trim
    val params: Seq[(String, Option[String])] =
      if (raw.isEmpty) Nil
      else splitTopLevel(raw, ',').map { p =>
        val d = p.indexOf(":=")
        if (d >= 0) (p.substring(0, d).trim.toLowerCase, Some(p.substring(d + 2).trim))
        else (p.trim.toLowerCase, None)
      }
    if (params.exists(p => p._1.isEmpty || !p._1.forall(isWordChar))) None
    else Some(params)
  }

  /** One macro body: strip TABLE spelling + trailing ';', normalize
    * DuckDB FROM-first form at registration (round-4 advice: expansion
    * happens AFTER the query-level rewriteFromFirst, so an
    * un-normalized `AS TABLE FROM t SELECT x` body would fail to parse
    * when substituted).
    */
  private def finishBody(raw: String, tableSpelling: Boolean): MacroDef = {
    var body = raw.trim.stripSuffix(";").trim
    var isTable = tableSpelling
    if ("""(?is)^TABLE\b""".r.findFirstIn(body).isDefined) {
      isTable = true; body = body.substring(5).trim
    }
    MacroDef(Nil, rewriteFromFirst(body), isTable) // params filled by caller
  }

  // ---------------------------------------------------------------
  // Session DDL/DML verbs: CREATE [OR REPLACE] [TEMP] TABLE (AS and
  // typed), CREATE [OR REPLACE] VIEW, INSERT, DELETE, UPDATE, DROP.
  // The reference's embedded DuckDB accepts all of these against its
  // in-memory default database; the Spark-first realization is
  // session temp views — CTAS/mutations MATERIALIZE via
  // localCheckpoint (distributed block storage, matching DuckDB's
  // materialized tables), views stay lazy plans (matching DuckDB
  // views). Lifetime is the server process, exactly like DuckDB's
  // :memory: catalog. Result shapes mirror DuckDB: mutating verbs
  // return one `Count` row; schema/view/drop verbs return empty.
  // Mutations rewrite the whole table (O(table) per statement) — the
  // session-DDL surface is for interactive use, not a write path;
  // documented in COVERAGE.md.
  // ---------------------------------------------------------------

  private val CreateTableAsRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+(.*)$""".r
  private val CreateTableTypedRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s*\((.*)\)\s*;?\s*$""".r
  private val CreateViewRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+(.*)$""".r
  private val InsertRe =
    """(?is)^\s*INSERT\s+INTO\s+([A-Za-z_][A-Za-z0-9_]*)\s*(\([^)]*\))?\s*(VALUES\b.*|SELECT\b.*|WITH\b.*|FROM\b.*)$""".r
  private val DeleteRe =
    """(?is)^\s*DELETE\s+FROM\s+([A-Za-z_][A-Za-z0-9_]*)(?:\s+WHERE\s+(.*?))?\s*;?\s*$""".r
  private val UpdateRe =
    """(?is)^\s*UPDATE\s+([A-Za-z_][A-Za-z0-9_]*)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*?))?\s*;?\s*$""".r
  private val DropTableRe =
    """(?is)^\s*DROP\s+(?:TABLE|VIEW)(\s+IF\s+EXISTS)?\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""".r

  private val EmptyAck = "SELECT CAST(NULL AS BIGINT) AS Count WHERE false"
  private def countAck(n: Long) = s"SELECT CAST($n AS BIGINT) AS Count"

  /** DuckDB DDL type spellings → Spark DDL (the CAST-position alias
    * rewrite covers expressions; DDL column lists need their own map).
    * Constraints are refused loudly — silently ignoring NOT NULL or a
    * PRIMARY KEY would diverge invisibly.
    */
  private def ddlSchema(colDefs: String): String = {
    splitTopLevel(colDefs).map { cd =>
      val t = cd.trim
      require("""(?i).*\b(PRIMARY|UNIQUE|CHECK|REFERENCES|NOT\s+NULL|DEFAULT)\b.*""".r
        .findFirstIn(t).isEmpty,
        s"column constraints are not supported in session tables: $t")
      val parts = t.split("\\s+", 2)
      require(parts.length == 2, s"invalid column definition: $t")
      val sparkType = parts(1).trim.toUpperCase match {
        case "VARCHAR" | "TEXT" | "BPCHAR" | "STRING" => "STRING"
        case "INTEGER" | "INT" | "INT4" | "SIGNED" => "INT"
        case "BIGINT" | "INT8" | "LONG" => "BIGINT"
        case "SMALLINT" | "INT2" => "SMALLINT"
        case "TINYINT" | "INT1" => "TINYINT"
        case "DOUBLE" | "FLOAT8" => "DOUBLE"
        case "REAL" | "FLOAT" | "FLOAT4" => "FLOAT"
        case "BOOLEAN" | "BOOL" => "BOOLEAN"
        case "DATE" => "DATE"
        case "TIMESTAMP" | "DATETIME" => "TIMESTAMP"
        case other if other.startsWith("DECIMAL") || other.startsWith("NUMERIC") =>
          other.replace("NUMERIC", "DECIMAL")
        case other => throw new IllegalArgumentException(
          s"unsupported column type in session table: $other")
      }
      s"${parts(0)} $sparkType"
    }.mkString(", ")
  }

  /** Split a column-definition list on top-level commas. */
  private def splitTopLevel(s: String): Seq[String] = {
    val mask = quoteMask(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var start = 0; var i = 0
    while (i < s.length) {
      if (!mask(i)) s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq
  }

  private def sessionTable(spark: SparkSession, name: String): org.apache.spark.sql.DataFrame = {
    require(spark.catalog.tableExists(name),
      s"table or view $name does not exist")
    spark.table(name)
  }

  // Per-session handle on each table's current checkpointed blocks,
  // so replacing or dropping a materialization frees the OLD blocks
  // immediately instead of waiting for driver GC + ContextCleaner — a
  // hot INSERT/UPDATE loop used to spike storage memory between GC
  // cycles (round-8 verdict #4). WeakHashMap: a dropped session must
  // not be pinned by its leftover handles.
  private val materializedRdds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, org.apache.spark.rdd.RDD[_]]]())

  private def materializedFor(spark: SparkSession) =
    materializedRdds.computeIfAbsent(spark, _ => scala.collection.concurrent.TrieMap.empty)

  private def releaseMaterialized(spark: SparkSession, name: String): Unit =
    materializedFor(spark).remove(name.toLowerCase)
      .foreach(_.unpersist(blocking = false))

  // Serializes the DDL verbs' check-then-act on shared temp views: the
  // server pool (4 threads) can land two CREATEs or two read-modify-
  // write mutations on the same table concurrently, and without this
  // one of them is silently lost (round-9 advice). Coarse one-lock-
  // per-session is right-sized: session DDL is an interactive surface.
  private val ddlLocks = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Object]())

  private def ddlLockFor(spark: SparkSession): Object =
    ddlLocks.synchronized {
      var l = ddlLocks.get(spark)
      if (l == null) { l = new Object; ddlLocks.put(spark, l) }
      l
    }

  private def materializeAs(spark: SparkSession, name: String,
      df: org.apache.spark.sql.DataFrame): Long = {
    val mat = df.localCheckpoint(true)
    // the RDD, not the frame: a frame would pin its session in the weak map
    val rdd = graft.Retained.checkpointed(mat)
    mat.createOrReplaceTempView(name)
    releaseMaterialized(spark, name) // free the REPLACED blocks, if any
    rdd.foreach(r => materializedFor(spark).put(name.toLowerCase, r))
    mat.count()
  }

  private def handleDdlVerb(spark: SparkSession, sql: String,
      pathOk: String => Boolean, readOnly: Boolean): Option[String] = {
    def sub(q: String): org.apache.spark.sql.DataFrame =
      spark.sql(rewrite(spark, q, pathOk))
    // sandboxed servers keep the reference's read-only posture: the
    // session-DDL surface is refused outright, never partially
    def reject(): Nothing = throw new IllegalArgumentException(
      "only read-only queries are allowed when a filesystem sandbox is configured")
    if (readOnly && (CreateTableAsRe.findFirstIn(sql).isDefined ||
        CreateTableTypedRe.findFirstIn(sql).isDefined ||
        CreateViewRe.findFirstIn(sql).isDefined ||
        InsertRe.findFirstIn(sql).isDefined ||
        DeleteRe.findFirstIn(sql).isDefined ||
        UpdateRe.findFirstIn(sql).isDefined ||
        DropTableRe.findFirstIn(sql).isDefined)) reject()
    ddlLockFor(spark).synchronized { sql match {
      case CreateTableAsRe(orReplace, name, query) =>
        if (orReplace == null)
          require(!spark.catalog.tableExists(name), s"table $name already exists")
        Some(countAck(materializeAs(spark, name, sub(query))))
      case CreateTableTypedRe(orReplace, name, colDefs) =>
        if (orReplace == null)
          require(!spark.catalog.tableExists(name), s"table $name already exists")
        val schema = org.apache.spark.sql.types.StructType.fromDDL(ddlSchema(colDefs))
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
          .createOrReplaceTempView(name)
        Some(EmptyAck)
      case CreateViewRe(orReplace, name, query) =>
        if (orReplace == null)
          require(!spark.catalog.tableExists(name), s"view $name already exists")
        // register through SQL DDL, not createOrReplaceTempView: the
        // DataFrame path freezes the ANALYZED plan, while a DuckDB
        // view re-binds its base tables at query time — Spark's
        // CREATE TEMP VIEW re-analyzes per query, matching that
        spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $name AS ${rewrite(spark, query, pathOk)}")
        Some(EmptyAck)
      case InsertRe(name, colList, src) =>
        val target = sessionTable(spark, name)
        val srcSql = if (src.trim.toUpperCase.startsWith("VALUES"))
          s"SELECT * FROM ($src)" else src
        var incoming = sub(srcSql)
        if (colList != null) {
          // named-column form: listed columns from the source, the
          // rest NULL. Every listed name must resolve (case-
          // insensitively, like DuckDB identifiers) to a target
          // column — an unknown name is a DuckDB binder error, and
          // silently inserting an all-NULL row instead would be
          // exactly the silent divergence this shim's policy forbids
          // (round-9 advice, medium).
          val named = colList.stripPrefix("(").stripSuffix(")")
            .split(",").map(_.trim).toSeq
          require(named.size == incoming.columns.length,
            s"INSERT column list has ${named.size} names but the source has ${incoming.columns.length} columns")
          val resolved = named.map { n =>
            target.schema.fields.map(_.name).find(_.equalsIgnoreCase(n))
              .getOrElse(throw new IllegalArgumentException(
                s"""INSERT: column "$n" does not exist in $name"""))
          }
          require(resolved.distinct.size == resolved.size,
            s"INSERT: duplicate column in list: ${named.mkString(", ")}")
          val renamed = incoming.toDF(resolved: _*)
          incoming = renamed.select(target.schema.fields.map { f =>
            if (resolved.contains(f.name))
              org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)
            else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
          }.toSeq: _*)
        } else {
          require(incoming.columns.length == target.schema.fields.length,
            s"INSERT has ${incoming.columns.length} columns but $name has ${target.schema.fields.length}")
          // positional, cast to the target types like DuckDB
          incoming = incoming.select(incoming.columns.zip(target.schema.fields).map {
            case (c, f) => org.apache.spark.sql.functions.col(c).cast(f.dataType).as(f.name)
          }.toSeq: _*)
        }
        val n = incoming.count()
        materializeAs(spark, name, target.unionByName(incoming))
        Some(countAck(n))
      case DeleteRe(name, where) =>
        val target = sessionTable(spark, name)
        if (where == null) {
          val n = target.count()
          materializeAs(spark, name, target.limit(0))
          Some(countAck(n))
        } else {
          val total = target.count()
          // keep rows where the predicate is NOT true (NULL keeps)
          val kept = sub(s"SELECT * FROM $name WHERE NOT coalesce(($where), false)")
          val remaining = materializeAs(spark, name, kept)
          Some(countAck(total - remaining))
        }
      case UpdateRe(name, setList, where) =>
        val target = sessionTable(spark, name)
        val assigns = splitTopLevel(setList).map { a =>
          val eq = a.indexOf('=')
          require(eq > 0, s"invalid SET assignment: $a")
          a.substring(0, eq).trim -> a.substring(eq + 1).trim
        }.toMap
        val unknown = assigns.keySet.diff(target.columns.toSet)
        require(unknown.isEmpty, s"UPDATE: unknown column(s): ${unknown.mkString(", ")}")
        val cond = if (where == null) "true" else s"coalesce(($where), false)"
        val projected = target.columns.map { c =>
          assigns.get(c) match {
            case Some(e) => s"CASE WHEN $cond THEN CAST(($e) AS ${
              target.schema(c).dataType.sql}) ELSE $c END AS $c"
            case None => c
          }
        }
        val n = sub(s"SELECT count(*) AS n FROM $name WHERE $cond").head().getLong(0)
        materializeAs(spark, name,
          sub(s"SELECT ${projected.mkString(", ")} FROM $name"))
        Some(countAck(n))
      case DropTableRe(ifExists, name) =>
        val dropped = spark.catalog.dropTempView(name)
        if (!dropped && ifExists == null)
          throw new IllegalArgumentException(s"table or view $name does not exist")
        releaseMaterialized(spark, name)
        Some(EmptyAck)
      case _ => None
    } }
  }

  private def handleMacroVerb(spark: SparkSession, sql: String): Option[String] = {
    DropMacroRe.findFirstMatchIn(sql).foreach { m =>
      val existed = macrosFor(spark).remove(resolveMacroName(m.group(2))).isDefined
      if (!existed && m.group(1) == null)
        throw new IllegalArgumentException(s"macro ${m.group(2)} does not exist")
      return Some("SELECT true AS ok WHERE false")
    }
    val m = CreateMacroRe.findFirstMatchIn(sql).getOrElse(return None)
    val tableSpelling = m.group(1) != null
    val name = resolveMacroName(m.group(2))
    // signatures: `(params) AS body [, (params) AS body …]` — DuckDB's
    // overload-set form; bodies may themselves contain top-level commas
    // (table macros with a select list), so a comma only ends a body
    // when what follows PARSES as `(param-list) AS`
    val defs = scala.collection.mutable.ArrayBuffer.empty[MacroDef]
    var cursor = m.end - 1 // at the '(' opening the current signature
    var done = false
    while (!done) {
      val g = parenGroup(sql.substring(cursor)).getOrElse(
        throw new IllegalArgumentException(s"unbalanced parameter list in CREATE MACRO $name"))
      val params = parseParamList(g._1).getOrElse(
        throw new IllegalArgumentException(s"invalid parameter list in CREATE MACRO $name"))
      val afterParams = g._2
      val asAt = firstTopLevel(afterParams, "AS")
      if (asAt < 0) throw new IllegalArgumentException(s"CREATE MACRO $name: missing AS")
      val bodyAll = afterParams.substring(asAt + 2)
      // find a top-level comma that begins the next signature
      val bmask = quoteMask(bodyAll)
      var depth = 0; var i = 0; var bodyEnd = -1
      while (i < bodyAll.length && bodyEnd < 0) {
        if (!bmask(i)) {
          bodyAll.charAt(i) match {
            case '(' | '[' | '{' => depth += 1
            case ')' | ']' | '}' => depth -= 1
            case ',' if depth == 0 =>
              val probe = parenGroup(bodyAll.substring(i + 1))
              if (probe.exists { case (grp, rest) =>
                    parseParamList(grp).isDefined &&
                      firstTopLevel(rest, "AS") >= 0 &&
                      rest.substring(0, firstTopLevel(rest, "AS")).trim.isEmpty })
                bodyEnd = i
            case _ =>
          }
        }
        i += 1
      }
      val (bodyText, nextCursor) =
        if (bodyEnd < 0) (bodyAll, -1)
        else {
          // absolute index of the '(' after the comma
          val afterComma = bodyAll.substring(bodyEnd + 1)
          val parenOffset = afterComma.indexWhere(!_.isWhitespace)
          val absBase = sql.length - bodyAll.length
          (bodyAll.substring(0, bodyEnd), absBase + bodyEnd + 1 + parenOffset)
        }
      defs += finishBody(bodyText, tableSpelling).copy(params = params)
      if (nextCursor < 0) done = true else cursor = nextCursor
    }
    if (defs.map(_.params.length).distinct.length != defs.length)
      throw new IllegalArgumentException(
        s"CREATE MACRO $name: duplicate overload arity")
    macrosFor(spark).put(name, defs.toSeq)
    Some("SELECT true AS ok WHERE false")
  }

  private val NamedArgRe = """(?s)^([A-Za-z_][A-Za-z0-9_]*)\s*:=\s*(.+)$""".r

  /** Bind a call's argument texts to parameter names: positional args
    * first, then DuckDB named arguments (`fill := '_'`), then declared
    * defaults. Unknown names, duplicates, positional-after-named and
    * missing parameters all fail loudly, as DuckDB does.
    */
  private def bindArgs(name: String, mdef: MacroDef, args: Seq[String]): Seq[(String, String)] = {
    val positional = args.takeWhile(a => !NamedArgRe.pattern.matcher(a).matches())
    val named: Seq[(String, String)] = args.drop(positional.length).map {
      case NamedArgRe(n, v) => n.toLowerCase -> v.trim
      case other => throw new IllegalArgumentException(
        s"macro $name: positional argument after named arguments: $other")
    }
    named.foreach { case (n, _) =>
      if (!mdef.params.exists(_._1 == n))
        throw new IllegalArgumentException(s"macro $name has no parameter named $n")
    }
    if (named.map(_._1).distinct.length != named.length)
      throw new IllegalArgumentException(s"macro $name: duplicate named argument")
    if (positional.length > mdef.params.length)
      throw new IllegalArgumentException(
        s"macro $name expects at most ${mdef.params.length} arguments, got ${args.length}")
    val namedMap = named.toMap
    mdef.params.zipWithIndex.map { case ((p, dflt), idx) =>
      if (idx < positional.length) {
        if (namedMap.contains(p)) throw new IllegalArgumentException(
          s"macro $name: parameter $p bound both positionally and by name")
        p -> positional(idx)
      } else p -> namedMap.getOrElse(p, dflt.getOrElse(throw new IllegalArgumentException(
        s"macro $name: missing argument for parameter $p")))
    }
  }

  /** Expand registered macro calls (scalar and table) by bind-time
    * template substitution; iterates so macros may reference macros,
    * with a depth guard against recursion (DuckDB likewise rejects
    * recursive macros). Each round expands EVERY top-level call site
    * in one left-to-right pass — the guard counts nesting depth, so a
    * flat query with dozens of independent macro calls is fine and
    * only a genuinely recursive / 10-deep-nested macro trips it
    * (round-4 advice: the old per-call-site counter rejected
    * `SELECT add2(1,2), … ×10` as "recursive").
    */
  private def expandMacros(spark: SparkSession, sql0: String): String = {
    val macros = macroRegistry.synchronized(Option(macroRegistry.get(spark))).getOrElse(return sql0)
    if (macros.isEmpty) return sql0
    var sql = sql0
    var rounds = 0
    var changed = true
    while (changed) {
      changed = false
      rounds += 1
      if (rounds > 10)
        throw new IllegalArgumentException("macro expansion exceeded depth 10 (recursive macro?)")
      val mask = quoteMask(sql)
      val lower = sql.toLowerCase
      val out = new StringBuilder
      var i = 0
      // `main.f(…)` is a valid spelling of `f(…)` (DuckDB's default
      // schema); any other qualifier means member access, not a macro
      def qualifiedStart(pos: Int): Int =
        if (pos >= 5 && lower.startsWith("main.", pos - 5) &&
            (pos - 5 == 0 ||
              !isWordChar(sql.charAt(pos - 6)) && sql.charAt(pos - 6) != '.'))
          pos - 5
        else pos
      while (i < sql.length) {
        val hit = macros.keysIterator.find { name =>
          !mask(i) && lower.startsWith(name, i) &&
            (i == 0 || !isWordChar(sql.charAt(i - 1)) &&
              (sql.charAt(i - 1) != '.' || qualifiedStart(i) != i)) &&
            {
              var k = i + name.length
              // no word char directly after, then optional spaces then '('
              (k >= sql.length || !isWordChar(sql.charAt(k))) && {
                while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
                k < sql.length && sql.charAt(k) == '('
              }
            }
        }
        hit match {
          case None => out.append(sql.charAt(i)); i += 1
          case Some(name) =>
            val defs = macros(name)
            var k = i + name.length
            while (sql.charAt(k) != '(') k += 1
            var depth = 0; var j = k; var close = -1
            while (j < sql.length && close < 0) {
              if (!mask(j)) {
                if (sql.charAt(j) == '(') depth += 1
                else if (sql.charAt(j) == ')') { depth -= 1; if (depth == 0) close = j }
              }
              j += 1
            }
            if (close < 0) { out.append(sql.charAt(i)); i += 1 } // unbalanced — leave for the parser
            else {
              val rawArgs = sql.substring(k + 1, close).trim
              val args = if (rawArgs.isEmpty) Nil else splitTopLevel(rawArgs, ',').map(_.trim)
              // overload resolution by binding: first signature (in
              // declaration order) whose parameters the args bind to
              val errors = scala.collection.mutable.ArrayBuffer.empty[String]
              val resolved = defs.iterator.flatMap { d =>
                try Iterator.single((d, bindArgs(name, d, args)))
                catch { case e: IllegalArgumentException => errors += e.getMessage; Iterator.empty }
              }.nextOption().getOrElse(throw new IllegalArgumentException(
                errors.mkString("; ")))
              // a `main.` qualifier was already copied to `out` while
              // scanning — drop it so the whole call site is replaced
              val spanStart = qualifiedStart(i)
              if (spanStart < i) out.setLength(out.length - (i - spanStart))
              // scalar and table macros both expand to a parenthesized
              // body: `(expr)` in expression position, `(SELECT …)` as
              // an unnamed derived table (DuckDB does NOT auto-alias
              // table macros by name — verified against 1.5). Nested
              // macro calls inside the body or the arguments are NOT
              // re-scanned this round — the next round picks them up,
              // which is what makes `rounds` a true nesting depth.
              out.append("(").append(substituteParams(resolved._1.body, resolved._2)).append(")")
              i = close + 1
              changed = true
            }
        }
      }
      sql = out.toString
    }
    sql
  }

  /** Whole-word, quote-masked substitution of parameter names by their
    * (parenthesized) argument expressions inside a macro body.
    */
  private def substituteParams(body: String, bound: Seq[(String, String)]): String = {
    if (bound.isEmpty) return body
    val byName = bound.toMap
    val mask = quoteMask(body)
    val lower = body.toLowerCase
    val out = new StringBuilder
    var i = 0
    while (i < body.length) {
      val hit = if (mask(i)) None
        else byName.keysIterator.find { p =>
          lower.startsWith(p, i) &&
            (i == 0 || !isWordChar(body.charAt(i - 1)) && body.charAt(i - 1) != '.') &&
            (i + p.length >= body.length || !isWordChar(body.charAt(i + p.length)))
        }
      hit match {
        case Some(p) =>
          // args are expressions: parenthesize so precedence survives
          out.append("(").append(byName(p)).append(")")
          i += p.length
        case None =>
          out.append(body.charAt(i)); i += 1
      }
    }
    out.toString
  }

  /** DuckDB's `FROM generate_series(a, b[, step])` table function —
    * INCLUSIVE bounds, column named `generate_series` — becomes an
    * exploded `sequence()` derived table (Spark's own `range()` TVF
    * already parses natively and shares DuckDB's exclusive-end
    * semantics, so only generate_series needs the shim). Works with
    * trailing `AS t(x)` aliases because the replacement is a plain
    * derived table. Arguments with nested parens are left untouched
    * and fail loudly.
    */
  private val GenSeries =
    """(?is)\b(FROM|JOIN)\s+generate_series\s*\(([^()]*)\)""".r
  private def rewriteGenerateSeries(sql: String): String =
    GenSeries.replaceAllIn(sql, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"${m.group(1)} (SELECT explode(sequence(${m.group(2)})) AS generate_series)"))

  private val ReadFn =
    """(?i)\b(read_parquet|parquet_scan|read_csv_auto|read_csv|read_json_auto|read_json|read_text|read_blob)\s*\(\s*'([^']+)'\s*((?:,[^()]*)?)\)""".r
  private val BarePath =
    """(?i)\b(FROM|JOIN)\s+'([^']+\.(?:parquet|csv|tsv|json|jsonl|ndjson))'""".r

  /** Replace DuckDB file-reader calls and bare quoted paths with Spark
    * sources. CSV/JSON go through temp views so DuckDB's automatic
    * header/type inference semantics apply; parquet maps to the native
    * `parquet.` table syntax. read_csv's common named options
    * (`header = true`, `delim = ';'`, `quote`, `skip`, `all_varchar`)
    * translate to the Spark reader; unknown options throw — a loud 400
    * beats silently ignoring an option that changes the data.
    * pathOk is consulted BEFORE any read.
    */
  private def rewriteSources(spark: SparkSession, sql: String,
      pathOk: String => Boolean): String = {
    def viewFor(kind: String, path: String, opts: String): String = {
      if (!pathOk(path)) throw RejectedPath(path)
      // full md5 of (kind, path, opts): a 32-bit hashCode collision would
      // silently alias two different files under one view name
      val name = "graft_src_" + java.security.MessageDigest.getInstance("MD5")
        .digest(s"$kind:$path:$opts".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      if (!spark.catalog.tableExists(name)) {
        val df = kind match {
          case "csv" =>
            var r = spark.read.option("header", "true").option("inferSchema", "true")
            splitTopLevel(opts, ',').map(_.trim).filter(_.nonEmpty).foreach { o =>
              val eq = o.indexOf('=')
              val (k, v) =
                if (eq < 0) (o.trim.toLowerCase, "true")
                else (o.substring(0, eq).trim.toLowerCase,
                  o.substring(eq + 1).trim.stripPrefix("'").stripSuffix("'"))
              k match {
                case "header" => r = r.option("header", v)
                case "delim" | "sep" | "delimiter" => r = r.option("sep", v)
                case "quote" => r = r.option("quote", v)
                case "skip" => throw new IllegalArgumentException(
                  "read_csv skip option not supported (Spark's CSV reader has no row-skip)")
                case "all_varchar" =>
                  if (v.equalsIgnoreCase("true") || v == "1") r = r.option("inferSchema", "false")
                case "auto_detect" => () // Spark inference is already on
                case other => throw new IllegalArgumentException(
                  s"read_csv option not supported: $other")
              }
            }
            r.csv(path)
          // DuckDB's file-per-row readers (verified schemas: read_text →
          // filename, content VARCHAR, size, last_modified; read_blob →
          // filename, content BLOB, size, last_modified). Spark's
          // binaryFile source provides the same four facts; the path
          // column normalizes from the file: URI to DuckDB's plain path
          case "text" | "blob" =>
            if (opts.trim.nonEmpty) throw new IllegalArgumentException(
              s"read_$kind options not supported: $opts")
            val raw = spark.read.format("binaryFile").load(path)
            val content =
              if (kind == "text")
                org.apache.spark.sql.functions.col("content").cast("string")
              else org.apache.spark.sql.functions.col("content")
            raw.select(
              org.apache.spark.sql.functions.regexp_replace(
                org.apache.spark.sql.functions.col("path"), "^file:/+", "/").as("filename"),
              content.as("content"),
              org.apache.spark.sql.functions.col("length").as("size"),
              org.apache.spark.sql.functions.col("modificationTime").as("last_modified"))
          case _ =>
            if (opts.trim.nonEmpty) throw new IllegalArgumentException(
              s"read_json options not supported: $opts")
            spark.read.json(path)
        }
        df.createOrReplaceTempView(name)
      }
      name
    }
    def sub(kindRaw: String, path: String, opts: String): String = kindRaw.toLowerCase match {
      case "read_parquet" | "parquet_scan" =>
        if (!pathOk(path)) throw RejectedPath(path)
        if (opts.trim.nonEmpty) throw new IllegalArgumentException(
          s"read_parquet options not supported: $opts")
        s"parquet.`$path`"
      case k if k.startsWith("read_csv") => viewFor("csv", path, opts)
      case "read_text" => viewFor("text", path, opts)
      case "read_blob" => viewFor("blob", path, opts)
      case _ => viewFor("json", path, opts)
    }
    val step1 = ReadFn.replaceAllIn(sql, m =>
      java.util.regex.Matcher.quoteReplacement(
        sub(m.group(1), m.group(2), Option(m.group(3)).getOrElse("").stripPrefix(","))))
    BarePath.replaceAllIn(step1, { m =>
      val (kw, path) = (m.group(1), m.group(2))
      val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
      val src = ext match {
        case "parquet" =>
          if (!pathOk(path)) throw RejectedPath(path)
          s"parquet.`$path`"
        case "csv" | "tsv" => viewFor("csv", path, "")
        case _ => viewFor("json", path, "")
      }
      java.util.regex.Matcher.quoteReplacement(s"$kw $src")
    })
  }

  /** DuckDB type-name aliases in cast positions ONLY (`x::TYPE` and
    * the trailing `AS TYPE` of CAST/TRY_CAST) — never bare words, so a
    * column named `text` is untouched. Unsigned types map to the next
    * WIDER signed type (UBIGINT → DECIMAL(20,0)) so the full value
    * range survives; TIMESTAMPTZ maps to TIMESTAMP (sessions run UTC).
    */
  private val TypeAliasMap: Map[String, String] = Map(
    "INT1" -> "TINYINT", "INT2" -> "SMALLINT", "INT4" -> "INT",
    "INT8" -> "BIGINT", "SIGNED" -> "BIGINT", "LOGICAL" -> "BOOLEAN",
    "FLOAT4" -> "FLOAT", "FLOAT8" -> "DOUBLE",
    "UTINYINT" -> "SMALLINT", "USMALLINT" -> "INT", "UINTEGER" -> "BIGINT",
    "UBIGINT" -> "DECIMAL(20,0)", "HUGEINT" -> "DECIMAL(38,0)",
    "UHUGEINT" -> "DECIMAL(38,0)",
    "TEXT" -> "STRING", "BPCHAR" -> "STRING", "VARCHAR" -> "STRING",
    "BLOB" -> "BINARY", "BYTEA" -> "BINARY", "VARBINARY" -> "BINARY",
    "TIMESTAMPTZ" -> "TIMESTAMP", "TIMESTAMP_S" -> "TIMESTAMP",
    "TIMESTAMP_MS" -> "TIMESTAMP", "TIMESTAMP_NS" -> "TIMESTAMP")

  private val TypeAliasNames = TypeAliasMap.keys.mkString("|")
  private val ColonTypeRe = ("""(?i)::\s*(""" + TypeAliasNames + """)\b(?!\s*\()""").r
  private val CastTypeRe = ("""(?i)\bAS\s+(""" + TypeAliasNames + """)\s*\)""").r

  private def rewriteTypeAliases(sql: String): String = {
    val mask = quoteMask(sql)
    val s1 = ColonTypeRe.replaceAllIn(sql, m =>
      if (mask(m.start)) java.util.regex.Matcher.quoteReplacement(m.matched)
      else "::" + TypeAliasMap(m.group(1).toUpperCase))
    // `AS TYPE)` only INSIDE a CAST/TRY_CAST argument list: find each
    // CAST(, scan to its close, rewrite within that span
    val castRe = """(?i)\b(?:try_)?cast\s*\(""".r
    val mask1 = quoteMask(s1)
    val spans = castRe.findAllMatchIn(s1).filterNot(m => mask1(m.start)).flatMap { m =>
      var depth = 0; var j = m.end - 1; var close = -1
      while (j < s1.length && close < 0) {
        if (!mask1(j)) s1.charAt(j) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) close = j
          case _ => ()
        }
        j += 1
      }
      if (close < 0) None else Some((m.start, close))
    }.toList
    if (spans.isEmpty) return s1
    var out = s1
    spans.sortBy(-_._1).foreach { case (start, close) =>
      val seg = out.substring(start, close + 1)
      val segRewritten = CastTypeRe.replaceAllIn(seg, mm =>
        java.util.regex.Matcher.quoteReplacement(
          "AS " + TypeAliasMap(mm.group(1).toUpperCase) + ")"))
      out = out.substring(0, start) + segRewritten + out.substring(close + 1)
    }
    out
  }

  /** DuckDB accepts the extract field as a string literal:
    * `extract('year' FROM d)` → `extract(YEAR FROM d)`.
    */
  private val ExtractQuotedRe =
    """(?i)\b(extract\s*\(\s*)'([A-Za-z_]+)'(\s+FROM\b)""".r
  private def rewriteExtractQuoted(sql: String): String = {
    val mask = quoteMask(sql)
    ExtractQuotedRe.replaceAllIn(sql, m =>
      java.util.regex.Matcher.quoteReplacement(
        if (mask(m.start)) m.matched
        else m.group(1) + m.group(2).toUpperCase + m.group(3)))
  }

  /** Extract fields Spark's parser lacks (probe 12): `extract(epoch
    * FROM x)` → `graft_extract_epoch(x)` — the operand and its closing
    * paren carry over verbatim, so nesting is free. EPOCH / DECADE /
    * CENTURY / MILLENNIUM / MILLISECONDS / MICROSECONDS; everything
    * else (YEAR, DOW, DOY, …) Spark evaluates natively with
    * DuckDB-identical numbering (DOW Sunday=0, pinned).
    */
  private val ExtractFieldRe =
    ("""(?i)\bextract\s*\(\s*(epoch|decade|century|millennium|milliseconds|""" +
      """microseconds|dow|weekday|isodow|isoyear)\s+FROM\b""").r
  private val ExtractFieldFn = Map(
    "epoch" -> "graft_extract_epoch", "decade" -> "graft_extract_decade",
    "century" -> "graft_extract_century", "millennium" -> "graft_extract_millennium",
    "milliseconds" -> "graft_extract_milliseconds",
    "microseconds" -> "graft_extract_microseconds",
    // Spark's own extract(DOW) is 1-based — these route through the
    // registered DuckDB-numbered functions instead (Sunday=0 / ISO 7)
    "dow" -> "dayofweek", "weekday" -> "dayofweek",
    "isodow" -> "isodow", "isoyear" -> "isoyear")
  private def rewriteExtractFields(sql: String): String = {
    // filter matches through quoteMask like the neighboring rewrites —
    // "extract(epoch FROM ..." inside a string literal must survive
    val mask = quoteMask(sql)
    ExtractFieldRe.replaceAllIn(sql, m =>
      java.util.regex.Matcher.quoteReplacement(
        if (mask(m.start)) m.matched
        else ExtractFieldFn(m.group(1).toLowerCase) + "("))
  }

  /** `agg(args) FILTER (WHERE pred) OVER ...` — Spark supports agg
    * FILTER only OUTSIDE windows (probe 14: "Window aggregate function
    * with filter predicate is not supported yet"). For NULL-IGNORING
    * aggregates the filter is exactly a CASE on the argument, so the
    * windowed form rewrites to `agg(CASE WHEN pred THEN args END)
    * OVER ...` (count(*) → count(CASE WHEN pred THEN 1 END)).
    * Null-RESPECTING functions (first/last/lag/...) are NOT rewritten
    * — the CASE would change their semantics — and keep Spark's loud
    * error. Non-window FILTER is untouched (native).
    */
  private val FilterIgnoringAggs = Set(
    "count", "sum", "avg", "mean", "min", "max", "median", "product",
    "stddev", "stddev_samp", "stddev_pop", "var_samp", "var_pop", "variance",
    "string_agg", "group_concat", "listagg", "array_agg", "list",
    "bit_and", "bit_or", "bit_xor", "bool_and", "bool_or", "fsum", "favg")
  private val FilterWhereRe = """(?i)\bfilter\s*\(\s*where\b""".r
  /** DuckDB window-frame `EXCLUDE CURRENT ROW / GROUP / TIES` (round-14
    * fuzz v8 — Spark has no EXCLUDE syntax at all, so these were loud
    * 400s where DuckDB runs them). The DECOMPOSABLE aggregates rewrite
    * into arithmetic over window aggregates sharing the same spec:
    *
    *   sum(x) OVER (spec EXCLUDE e)
    *     = CASE WHEN kept-nonnull-count = 0 THEN NULL
    *            ELSE sum(x) OVER spec' − excluded-sum END
    *   count(x)/count(*) subtract the excluded counts (0 on empty);
    *   avg = decomposed sum / decomposed count.
    *
    * The excluded GROUP/TIES terms are aggregates over the PEER frame
    * (`RANGE BETWEEN CURRENT ROW AND CURRENT ROW` under the same
    * partition/order — exactly the peer set), so GROUP/TIES support
    * RANGE frames and the default frame (both peer-aligned: a RANGE
    * frame containing the current row contains ALL its peers) plus the
    * whole-partition `ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
    * FOLLOWING` form; a bounded ROWS frame can cover a peer group
    * PARTIALLY, which no decomposition can observe — stays loud.
    * EXCLUDE CURRENT ROW is exact on every frame; when the bounds
    * don't straddle the current row the clause removes nothing and
    * just drops (DuckDB semantics). `EXCLUDE NO OTHERS` is the no-op
    * spelling. min/max (round 15, r14 ask #7) use the COLLECTED-frame
    * decomposition — sorted collect_list with one instance removed
    * for CURRENT ROW, a null-safe peer-key filter for GROUP/TIES
    * (single-expression ORDER BY only; multi-key stays loud) — O(frame)
    * state per row, the price of an exact non-decomposable EXCLUDE.
    * Other aggregates stay loud (Spark's parse error names the
    * EXCLUDE text) — loud beats wrong. Pinned vs DuckDB in DialectSpec
    * (partition-edge frames, empty-after-exclusion → NULL / count 0,
    * all-NULL peers, string min/max, duplicate values).
    *
    * MULTI-EVALUATION CONSTRAINT (round-14 advice): the rewrite
    * splices the aggregate's argument text into the replacement up to
    * ~6 times (full/peer sums and counts, the null-count and current-
    * row terms). For a DETERMINISTIC operand the copies are
    * value-identical and the decomposition is exact; a
    * non-deterministic operand (random()) would draw independently
    * per copy — different from DuckDB's single evaluation — so those
    * bail to the loud path below. Query-text size also multiplies
    * with the argument length; acceptable for the served surface
    * (256 KiB request cap bounds it).
    */
  private def rewriteFrameExclude(sql: String): String = {
    if (!containsUnquoted(sql, "EXCLUDE")) return sql
    val mask = quoteMask(sql)
    val upper = sql.toUpperCase
    // ---- locate an EXCLUDE that terminates an OVER ( … ) spec ----
    var i = 0
    while (i < sql.length) {
      val atKw = !mask(i) && upper.startsWith("EXCLUDE", i) &&
        (i == 0 || !isWordChar(sql.charAt(i - 1))) &&
        (i + 7 >= sql.length || !isWordChar(sql.charAt(i + 7)))
      if (atKw) {
        // innermost unclosed '(' enclosing position i
        var depth = 0; var open = -1; var j = 0
        val stack = new Array[Int](sql.length)
        while (j < i) {
          if (!mask(j)) sql.charAt(j) match {
            case '(' => stack(depth) = j; depth += 1
            case ')' => if (depth > 0) depth -= 1
            case _ => ()
          }
          j += 1
        }
        if (depth > 0) open = stack(depth - 1)
        // the '(' must belong to an OVER clause
        val isOver = open >= 0 && {
          val before = sql.substring(0, open).reverse.dropWhile(_.isWhitespace)
          before.length >= 4 && before.substring(0, 4).equalsIgnoreCase("revo") &&
            (before.length == 4 || !isWordChar(before.charAt(4)))
        }
        if (isOver) {
          // matching close of the OVER paren
          var d = 0; var k = open; var close = -1
          while (k < sql.length && close < 0) {
            if (!mask(k)) sql.charAt(k) match {
              case '(' => d += 1
              case ')' => d -= 1; if (d == 0) close = k
              case _ => ()
            }
            k += 1
          }
          // the aggregate call before OVER: `name ( args ) OVER (`
          val beforeOver = {
            var p = open - 1
            while (p >= 0 && sql.charAt(p).isWhitespace) p -= 1
            p -= 4 // step past "OVER" (p sat on its last char)
            while (p >= 0 && sql.charAt(p).isWhitespace) p -= 1
            p
          }
          var fnClose = beforeOver
          var argOpen = -1
          if (fnClose >= 0 && sql.charAt(fnClose) == ')') {
            var d2 = 0; var q = fnClose
            while (q >= 0 && argOpen < 0) {
              if (!mask(q)) sql.charAt(q) match {
                case ')' => d2 += 1
                case '(' => d2 -= 1; if (d2 == 0) argOpen = q
                case _ => ()
              }
              q -= 1
            }
          }
          var ns = argOpen - 1
          while (ns >= 0 && sql.charAt(ns).isWhitespace) ns -= 1
          val nameEnd = ns + 1
          while (ns >= 0 && isWordChar(sql.charAt(ns))) ns -= 1
          val fn = if (argOpen > 0) sql.substring(ns + 1, nameEnd).toLowerCase else ""
          // EXCLUDE terminates the frame grammar, so the remainder of
          // the spec IS the kind phrase (anything else -> unsupported,
          // loud downstream)
          val kindOpt = if (close < 0) None
            else sql.substring(i + 7, close).trim
              .replaceAll("\\s+", " ").toUpperCase match {
              case "CURRENT ROW" => Some("CUR")
              case "GROUP" => Some("GROUP")
              case "TIES" => Some("TIES")
              case "NO OTHERS" => Some("NOOP")
              case _ => None
            }
          // the decomposition evaluates the argument text up to ~6
          // times — exact only for deterministic operands; a random()
          // draw per copy would silently diverge from DuckDB's single
          // evaluation, so those stay loud (see scaladoc)
          def nondeterministicArg(a: String): Boolean = {
            val u = a.toUpperCase
            Seq("RANDOM", "UUID", "GEN_RANDOM_UUID", "RAND", "UUIDV4", "UUIDV7")
              .exists { f =>
                val r = (s"""\\b$f\\s*\\(""").r
                r.findFirstIn(u).isDefined
              }
          }
          if (close > 0 && kindOpt.isDefined &&
              Set("sum", "count", "avg", "min", "max").contains(fn) &&
              !nondeterministicArg(sql.substring(argOpen + 1, fnClose))) {
            val x = sql.substring(argOpen + 1, fnClose).trim
            val specNE = sql.substring(open + 1, i).trim
            // frame analysis over the EXCLUDE-free spec
            val specU = specNE.toUpperCase
            def kwAt(kw: String): Int = firstTopLevel(specNE, kw)
            val frameAt = Seq(kwAt("ROWS"), kwAt("RANGE"), kwAt("GROUPS"))
              .filter(_ >= 0).sorted.headOption.getOrElse(-1)
            val frameTxt = if (frameAt >= 0)
              specU.substring(frameAt).replaceAll("\\s+", " ").trim else ""
            val isRows = frameTxt.startsWith("ROWS")
            val isGroups = frameTxt.startsWith("GROUPS")
            val wholeRows = frameTxt ==
              "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
            // does the frame contain the current row? (bounds straddle)
            val fb = """BETWEEN (UNBOUNDED PRECEDING|\d+ PRECEDING|CURRENT ROW|\d+ FOLLOWING) AND (UNBOUNDED FOLLOWING|\d+ FOLLOWING|CURRENT ROW|\d+ PRECEDING)""".r
            val shorthand = """(ROWS|RANGE) (UNBOUNDED PRECEDING|\d+ PRECEDING|CURRENT ROW)$""".r
            val contains =
              if (frameTxt.isEmpty) true // default frame: UNBOUNDED PRECEDING..CURRENT ROW
              else fb.findFirstMatchIn(frameTxt) match {
                case Some(m) => !m.group(1).endsWith("FOLLOWING") && !m.group(2).endsWith("PRECEDING")
                case None => shorthand.findFirstMatchIn(frameTxt).isDefined
              }
            val parseable = frameTxt.isEmpty ||
              fb.findFirstMatchIn(frameTxt).isDefined ||
              shorthand.findFirstMatchIn(frameTxt).isDefined
            val hasOrder = kwAt("ORDER") >= 0
            val kindK = kindOpt.get
            // DuckDB requires an explicit frame clause before EXCLUDE
            // (`ORDER BY k EXCLUDE GROUP` is a parse error there) —
            // stay loud on the frameless spelling for parity
            val supported = frameAt >= 0 && parseable && !isGroups &&
              (kindK match {
                case "NOOP" => true
                case "CUR" => true
                case _ => hasOrder && (!isRows || wholeRows)
              })
            if (supported) {
              val peerSpec = (if (frameAt >= 0) specNE.substring(0, frameAt)
                else specNE).trim + " RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
              val star = x == "*"
              def full(f: String) = s"$f($x) OVER ($specNE)"
              def peer(f: String) = s"$f($x) OVER ($peerSpec)"
              val xNN = if (star) "1" else s"(CASE WHEN ($x) IS NULL THEN 0 ELSE 1 END)"
              val xV0 = s"(CASE WHEN ($x) IS NULL THEN 0 ELSE ($x) END)"
              val dropOnly = kindK == "NOOP" || !contains
              val keptCnt = kindK match {
                case _ if dropOnly => full("count")
                case "CUR" => s"(${full("count")} - $xNN)"
                case "GROUP" => s"(${full("count")} - ${peer("count")})"
                case "TIES" => s"(${full("count")} - ${peer("count")} + $xNN)"
              }
              // single-expression ORDER BY key (bare, modifiers
              // stripped) — required by the min/max GROUP/TIES
              // decomposition, whose peer test re-evaluates the key
              val orderKey: Option[String] = {
                val oAt = kwAt("ORDER")
                if (oAt < 0 || frameAt <= oAt) None
                else "(?is)^ORDER\\s+BY\\s+(.*)$".r
                  .findFirstMatchIn(specNE.substring(oAt, frameAt).trim)
                  .map(_.group(1).trim)
                  .filter(k => !topLevelComma(k))
                  .map(_.replaceAll("(?i)\\s+NULLS\\s+(FIRST|LAST)$", "")
                    .replaceAll("(?i)\\s+(ASC|DESC)$", "").trim)
              }
              val replacementOpt: Option[String] = fn match {
                case _ if dropOnly => Some(full(fn))
                case "count" => Some(keptCnt)
                case "sum" | "avg" =>
                  val sumKept = kindK match {
                    case "CUR" => s"${full("sum")} - $xV0"
                    case "GROUP" => s"${full("sum")} - coalesce(${peer("sum")}, 0)"
                    case _ => s"${full("sum")} - coalesce(${peer("sum")}, 0) + $xV0"
                  }
                  val guarded = s"(CASE WHEN $keptCnt = 0 THEN NULL ELSE $sumKept END)"
                  Some(if (fn == "sum") guarded
                  else s"($guarded / nullif($keptCnt, 0))")
                case "min" | "max" if x != "*" =>
                  // round-15 (verdict r14 ask #7): min/max are not
                  // subtraction-decomposable, so the kept set is
                  // materialized as a COLLECTED frame (collect_list
                  // skips NULLs, matching min/max's NULL-ignoring):
                  //   CUR — remove exactly ONE instance of the current
                  //     row's value (duplicates keep the value; empty
                  //     → NULL; a NULL current value removes nothing).
                  //   GROUP — collect (key, value) pairs, drop the
                  //     current row's PEERS (null-safe key equality —
                  //     DuckDB treats NULL order keys as peers), fold.
                  //   TIES — GROUP's kept set plus the current row.
                  // O(frame) state per row vs sum's O(1) — the price
                  // of an exact non-decomposable EXCLUDE; pinned vs
                  // the oracle in DialectSpec.
                  // r15 optimization: the reduction over the collected
                  // frame is a fused codegen kernel
                  // (functions/FrameExcludeMinMax.scala) — ONE window
                  // expression and one primitive loop per row, where
                  // the build-phase spelling planned 4 identical
                  // collect_list windows + per-row array_sorts (CUR)
                  // or 2 interpreted HOF passes with intermediate
                  // arrays (GROUP/TIES). Values identical: the kernel
                  // compares through Spark's own genComp/ordering —
                  // the same primitives array_sort/array_min/`<`/`<=>`
                  // compiled to — and DialectSpec + fuzz pins re-ran
                  // green on the kernel path.
                  val isMin = fn == "min"
                  kindK match {
                    case "CUR" =>
                      Some(s"fe_mm_excl_cur(collect_list($x) OVER ($specNE), ($x), $isMin)")
                    case _ =>
                      orderKey.map { k =>
                        s"fe_mm_excl_peers(collect_list(" +
                          s"CASE WHEN ($x) IS NULL THEN NULL ELSE named_struct('k', ($k), 'v', ($x)) END" +
                          s") OVER ($specNE), ($k), ($x), $isMin, ${kindK == "TIES"})"
                      }
                  }
                case _ => None
              }
              replacementOpt match {
                case Some(replacement) =>
                  return rewriteFrameExclude(
                    sql.substring(0, ns + 1) + replacement + sql.substring(close + 1))
                case None => () // stays loud; keep scanning
              }
            }
          }
        }
      }
      i += 1
    }
    sql
  }

  private def rewriteWindowFilter(sql: String): String = {
    var out = sql
    var changed = true
    var guard = 0
    while (changed && guard < 100) {
      changed = false
      guard += 1
      val mask = quoteMask(out)
      val hit = FilterWhereRe.findAllMatchIn(out).filterNot(m => mask(m.start))
        .toSeq.reverseIterator.flatMap { m =>
          // matching close of the FILTER( group
          val openIdx = out.indexOf('(', m.start)
          var depth = 0; var j = openIdx; var close = -1
          while (j < out.length && close < 0) {
            if (!mask(j)) out.charAt(j) match {
              case '(' => depth += 1
              case ')' => depth -= 1; if (depth == 0) close = j
              case _ => ()
            }
            j += 1
          }
          if (close < 0) None
          else {
            var k = close + 1
            while (k < out.length && out.charAt(k).isWhitespace) k += 1
            val hasOver = out.regionMatches(true, k, "over", 0, 4) &&
              (k + 4 >= out.length || !isWordChar(out.charAt(k + 4)))
            if (!hasOver) None
            else {
              // the aggregate call directly before FILTER
              var p = m.start - 1
              while (p >= 0 && out.charAt(p).isWhitespace) p -= 1
              if (p < 0 || out.charAt(p) != ')') None
              else {
                var d2 = 0; var q = p; var open2 = -1
                while (q >= 0 && open2 < 0) {
                  if (!mask(q)) out.charAt(q) match {
                    case ')' => d2 += 1
                    case '(' => d2 -= 1; if (d2 == 0) open2 = q
                    case _ => ()
                  }
                  q -= 1
                }
                if (open2 < 0) None
                else {
                  var ns = open2 - 1
                  while (ns >= 0 && isWordChar(out.charAt(ns))) ns -= 1
                  val fname = out.substring(ns + 1, open2).trim.toLowerCase
                  if (!FilterIgnoringAggs.contains(fname)) None
                  else {
                    val argsTxt = out.substring(open2 + 1, p).trim
                    val pred = {
                      val inner = out.substring(openIdx + 1, close).trim
                      inner.substring(5).trim // drop leading WHERE
                    }
                    if (fname == "count" && argsTxt == "*")
                      Some((ns + 1, close, s"count(CASE WHEN $pred THEN 1 END)"))
                    else if (topLevelComma(argsTxt)) None // multi-arg: stays loud
                    else Some((ns + 1, close,
                      s"$fname(CASE WHEN $pred THEN $argsTxt END)"))
                  }
                }
              }
            }
          }
        }.toSeq.headOption
      hit.foreach { case (start, close, repl) =>
        out = out.substring(0, start) + repl + out.substring(close + 1)
        changed = true
      }
    }
    out
  }

  /** DuckDB's `unnest(x, recursive := true)` named-argument form
    * (probe 14): `recursive := true` flattens one list level before
    * the unnest (covers the list-of-list case DuckDB's own docs
    * demonstrate; deeper nesting or struct recursion stays loud);
    * `recursive := false` just drops the argument.
    */
  private val UnnestRecRe = """(?i)\bunnest\s*\(""".r
  private def rewriteUnnestRecursive(sql: String): String = {
    var out = sql
    var changed = true
    var guard = 0
    while (changed && guard < 50) {
      changed = false
      guard += 1
      val mask = quoteMask(out)
      UnnestRecRe.findAllMatchIn(out).filterNot(m => mask(m.start)).toSeq.reverseIterator
        .foreach { m =>
          if (!changed) {
            var depth = 0; var j = m.end - 1; var close = -1
            while (j < out.length && close < 0) {
              if (!mask(j)) out.charAt(j) match {
                case '(' => depth += 1
                case ')' => depth -= 1; if (depth == 0) close = j
                case _ => ()
              }
              j += 1
            }
            if (close >= 0) {
              val content = out.substring(m.end, close)
              val recRe = """(?i),\s*recursive\s*:=\s*(true|false)\s*$""".r
              recRe.findFirstMatchIn(content).foreach { rm =>
                val inner = content.substring(0, rm.start).trim
                val repl =
                  if (rm.group(1).equalsIgnoreCase("true")) s"unnest(flatten($inner))"
                  else s"unnest($inner)"
                out = out.substring(0, m.start) + repl + out.substring(close + 1)
                changed = true
              }
            }
          }
        }
    }
    out
  }

  /** DuckDB string literals are STANDARD SQL: no backslash escape
    * processing ('\d' is backslash-d; e'...' is the opt-in escaped
    * form). Spark's default parser processes backslash escapes in
    * EVERY literal — '\d' silently became 'd', breaking every served
    * regex character class (probe 19: regexp_extract('2024-01-02',
    * '(\d+)-(\d+)', 2) returned '' and regexp_split_to_array never
    * split). Backslashes inside plain quoted literals DOUBLE
    * (round-tripping to the exact DuckDB bytes through Spark's escape
    * processing); e'...'/E'...' literals drop the prefix and keep
    * their backslashes, so Spark's processing plays the escape-string
    * role. Runs INNERMOST (on the raw request) so literal content
    * later rewrites extract is already in Spark spelling; macro
    * bodies spliced from stored definitions bypass it — a documented
    * niche (define backslash-using macros with e'...').
    */
  private def rewriteStringEscapes(sql: String): String = {
    if (sql.indexOf('\\') < 0 && sql.toLowerCase.indexOf("e'") < 0) return sql
    // A single forward scan that knows WHICH quote opened each span:
    // backslashes double only inside single-quoted STRING literals
    // (standard-SQL round-trip through Spark's escape processing);
    // "…" / `…` identifier spans copy verbatim — a global
    // all-quoted-spans mask silently renamed identifiers containing a
    // backslash. e'…' literals drop the prefix, keep their backslashes
    // (Spark's processing plays the escape-string role), and honor
    // BOTH of DuckDB's quote escapes there: '' doubling and \'.
    val sb = new StringBuilder(sql.length + 8)
    val n = sql.length
    var i = 0
    while (i < n) {
      val c = sql.charAt(i)
      if ((c == 'e' || c == 'E') && i + 1 < n && sql.charAt(i + 1) == '\'' &&
          (i == 0 || !isWordChar(sql.charAt(i - 1)))) {
        sb.append('\''); i += 2
        var open = true
        while (i < n && open) {
          val d = sql.charAt(i)
          if (d == '\\' && i + 1 < n) { sb.append(d).append(sql.charAt(i + 1)); i += 2 }
          else if (d == '\'' && i + 1 < n && sql.charAt(i + 1) == '\'') { sb.append("''"); i += 2 }
          else if (d == '\'') { sb.append(d); i += 1; open = false }
          else { sb.append(d); i += 1 }
        }
      } else if (c == '\'') {
        sb.append(c); i += 1
        var open = true
        while (i < n && open) {
          val d = sql.charAt(i)
          if (d == '\\') { sb.append("\\\\"); i += 1 }
          else if (d == '\'' && i + 1 < n && sql.charAt(i + 1) == '\'') { sb.append("''"); i += 2 }
          else if (d == '\'') { sb.append(d); i += 1; open = false }
          else { sb.append(d); i += 1 }
        }
      } else if (c == '"' || c == '`') {
        sb.append(c); i += 1
        var open = true
        while (i < n && open) {
          val d = sql.charAt(i); sb.append(d); i += 1
          if (d == c) open = false
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** MULTIPLE `unnest(...)` items in one select list ZIP in DuckDB
    * (Postgres-style: rows = the longest list, shorter lists
    * NULL-fill — probe 18b pinned [(1,30),(2,40),(NULL,50)]), while
    * Spark's multiple generators CROSS-product — a silent row-set
    * divergence. Rewrite: the shared row index explodes once in a
    * derived table (CASE-guarded sequence so all-empty lists produce
    * ZERO rows, like DuckDB), and each unnest item becomes
    * try_element_at(list, index) — NULL past the end = the NULL fill.
    * Scope: every multi-unnest item needs an AS alias, and top-level
    * GROUP BY / HAVING / DISTINCT with zipped unnests stays LOUD
    * (throw → 400) rather than risking a silent mis-rewrite; single
    * unnests keep the plain explode path.
    */
  private def rewriteMultiUnnest(sql: String): String = {
    val up = sql.toUpperCase(java.util.Locale.ROOT)
    if (!up.contains("UNNEST")) return sql
    val selAt = firstTopLevel(sql, "SELECT")
    if (selAt != 0) return sql // subquery-leading forms: leave alone
    val fromAt = firstTopLevel(sql, "FROM")
    val listEnd = if (fromAt >= 0) fromAt else sql.length
    val listStr = sql.substring(selAt + "SELECT".length, listEnd)
    val items = splitTopLevel(listStr, ',').map(_.trim)
    val ItemRe = """(?is)^unnest\s*\((.*)\)(?:\s+(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*))?$""".r
    val unnestish = items.count(i =>
      """(?is)^unnest\s*\(.*""".r.findFirstIn(i).isDefined)
    if (unnestish < 2) return sql
    if (firstTopLevel(sql, "GROUP BY") >= 0 || firstTopLevel(sql, "HAVING") >= 0 ||
        listStr.trim.toUpperCase.startsWith("DISTINCT"))
      throw new IllegalArgumentException(
        "multiple unnest() items zip row-wise in DuckDB; combining them with " +
          "GROUP BY/HAVING/DISTINCT is not supported here — unnest in a subquery first")
    val exprs = items.map {
      case ItemRe(inner, alias) => Some((inner.trim, Option(alias)))
      case _ => None
    }
    if (exprs.flatten.length != unnestish || exprs.flatten.exists(_._2.isEmpty))
      throw new IllegalArgumentException(
        "multiple unnest() items zip row-wise in DuckDB; each needs to be a " +
          "plain aliased item (unnest(expr) AS name) here")
    val lists = exprs.flatten.map(_._1)
    val g = lists.map(e => s"size($e)").mkString("greatest(", ", ", ")")
    val seq = s"CASE WHEN coalesce($g, 0) <= 0 THEN array() ELSE sequence(1, $g) END"
    // ORDER BY / LIMIT / OFFSET stay with the OUTER select
    val tail = if (fromAt >= 0) sql.substring(fromAt) else ""
    val cutAt = Seq("ORDER BY", "LIMIT", "OFFSET")
      .map(k => firstTopLevel(tail, k)).filter(_ >= 0).sorted.headOption
    val (innerTail, outerTail) = cutAt match {
      case Some(c) => (tail.substring(0, c), " " + tail.substring(c))
      case None => (tail, "")
    }
    val outItems = items.map {
      case ItemRe(inner, alias) =>
        s"try_element_at(${inner.trim}, __uzi) AS $alias"
      case other => other
    }
    val innerSel =
      if (innerTail.trim.isEmpty) s"SELECT explode($seq) AS __uzi"
      else s"SELECT *, explode($seq) AS __uzi $innerTail"
    s"SELECT ${outItems.mkString(", ")} FROM ($innerSel) __uzq$outerTail"
  }

  /** DuckDB rounds on casts to integer types where Spark truncates
    * (probe 13; rules per source type live in
    * graft.functions.IntCastDispatch). CAST(x AS INT) /
    * TRY_CAST(x AS INT) / x::INT rewrite to the graft_int_cast
    * dispatch function — innermost-first with a rescan after each
    * replacement, so nested casts stay index-safe. Runs AFTER
    * rewriteTypeAliases (type names already canonical; HUGEINT/
    * UBIGINT became DECIMAL targets, which Spark already rounds).
    */
  private val IntTargetRe =
    """(?i)\s+AS\s+(TINYINT|SMALLINT|INT|INTEGER|BIGINT)\s*\)$""".r
  private val ColonIntRe = """::\s*(?i)(TINYINT|SMALLINT|INT|INTEGER|BIGINT)\b""".r
  private def rewriteIntCasts(sql: String): String = {
    var out = sql
    var changed = true
    var guard = 0
    val castRe = """(?i)\b(try_)?cast\s*\(""".r
    while (changed && guard < 200) {
      changed = false
      guard += 1
      val mask = quoteMask(out)
      // innermost-first: pick the LAST cast-open whose span has an
      // integer target and no nested cast inside
      val opens = castRe.findAllMatchIn(out).filterNot(m => mask(m.start)).toList
      val candidates = opens.reverseIterator.flatMap { m =>
        var depth = 0; var j = m.end - 1; var close = -1
        while (j < out.length && close < 0) {
          if (!mask(j)) out.charAt(j) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) close = j
            case _ => ()
          }
          j += 1
        }
        if (close < 0) None
        else {
          val seg = out.substring(m.start, close + 1)
          IntTargetRe.findFirstMatchIn(seg).map { tm =>
            val isTry = m.group(1) != null
            val openParen = seg.indexOf('(')
            val inner = seg.substring(openParen + 1, tm.start)
            val fn = if (isTry) "graft_try_int_cast" else "graft_int_cast"
            (m.start, close, s"$fn($inner, '${tm.group(1).toUpperCase}')")
          }
        }
      }
      candidates.toSeq.headOption.foreach { case (start, close, repl) =>
        out = out.substring(0, start) + repl + out.substring(close + 1)
        changed = true
      }
      if (!changed) {
        // x::INT form: capture the left primary with operandStart
        val mask2 = quoteMask(out)
        ColonIntRe.findAllMatchIn(out).filterNot(m => mask2(m.start)).toSeq.lastOption
          .foreach { m =>
            val start = operandStart(out, m.start - 1)
            val lhs = out.substring(start, m.start)
            out = out.substring(0, start) +
              s"graft_int_cast($lhs, '${m.group(1).toUpperCase}')" +
              out.substring(m.end)
            changed = true
          }
      }
    }
    out
  }

  /** CAST(x AS VARCHAR) carries Java's floating rendering ('1.0E8',
    * 'NaN') where DuckDB prints '100000000.0' / 'nan' (probe 26) —
    * rewrite to graft_varchar_cast, whose dispatch sends DOUBLE/FLOAT
    * children through the DuckDB text renderer and leaves every other
    * source on Spark's cast. Same innermost-first scan discipline as
    * rewriteIntCasts. Sized VARCHAR(n) targets take the same path with
    * the size DROPPED: DuckDB ignores the length entirely
    * (12345::VARCHAR(3) = '12345') while Spark's native varchar(n)
    * cast enforces it — passing the size through was both a silent
    * truncation hazard and, via ColonVarcharRe's old unguarded match,
    * a parse error (`graft_varchar_cast(x)(10)`).
    */
  private val VarcharTargetRe =
    """(?i)\s+AS\s+(VARCHAR|STRING|TEXT)\s*(?:\(\s*\d+\s*\))?\s*\)$""".r
  private val ColonVarcharRe =
    """::\s*(?i)(VARCHAR|STRING|TEXT)\b(?:\s*\(\s*\d+\s*\))?""".r
  private def rewriteVarcharCasts(sql: String): String = {
    var out = sql
    var changed = true
    var guard = 0
    val castRe = """(?i)\b(try_)?cast\s*\(""".r
    while (changed && guard < 200) {
      changed = false
      guard += 1
      val mask = quoteMask(out)
      val opens = castRe.findAllMatchIn(out).filterNot(m => mask(m.start)).toList
      val candidates = opens.reverseIterator.flatMap { m =>
        var depth = 0; var j = m.end - 1; var close = -1
        while (j < out.length && close < 0) {
          if (!mask(j)) out.charAt(j) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) close = j
            case _ => ()
          }
          j += 1
        }
        if (close < 0) None
        else {
          val seg = out.substring(m.start, close + 1)
          VarcharTargetRe.findFirstMatchIn(seg).map { tm =>
            val isTry = m.group(1) != null
            val openParen = seg.indexOf('(')
            val inner = seg.substring(openParen + 1, tm.start)
            val fn = if (isTry) "graft_try_varchar_cast" else "graft_varchar_cast"
            (m.start, close, s"$fn($inner)")
          }
        }
      }
      candidates.toSeq.headOption.foreach { case (start, close, repl) =>
        out = out.substring(0, start) + repl + out.substring(close + 1)
        changed = true
      }
      if (!changed) {
        val mask2 = quoteMask(out)
        ColonVarcharRe.findAllMatchIn(out).filterNot(m => mask2(m.start)).toSeq.lastOption
          .foreach { m =>
            val start = operandStart(out, m.start - 1)
            val lhs = out.substring(start, m.start)
            out = out.substring(0, start) +
              s"graft_varchar_cast($lhs)" +
              out.substring(m.end)
            changed = true
          }
      }
    }
    out
  }

  /** DuckDB's default NULL order is NULLS LAST in BOTH directions
    * (default_null_order = 'nulls_last'); Spark's ASC default is
    * NULLS FIRST — so every plain `ORDER BY x` silently reordered
    * NULL rows until probe 26 caught it (the COLUMNS expansion and
    * the in-aggregate rewrite already spelled it out, but plain keys
    * fell through). Every ORDER BY key that does not spell a NULLS
    * order — in the outer query, subqueries, OVER(...) windows, and
    * inside aggregate calls — gets an explicit NULLS LAST appended.
    * Processed right-to-left so splices never invalidate earlier
    * match positions; a key "contains NULLS" only when the word
    * appears at its own paren depth (a subquery inside a key that
    * already got the suffix does not mask the outer key).
    */
  /** Words whose right side is an EXPRESSION slot — a sign after one
    * of these is unary (see rewritePower's includeUnarySign). */
  private val UnaryContextKw = Set(
    "SELECT", "WHERE", "WHEN", "THEN", "ELSE", "AND", "OR", "NOT", "ON",
    "BY", "HAVING", "RETURN", "RETURNS", "AS", "IN", "LIKE", "BETWEEN",
    "CASE", "SET", "VALUES", "DISTINCT", "ALL", "UNION", "EXCEPT",
    "INTERSECT", "LIMIT", "OFFSET", "QUALIFY", "IS", "COALESCE", "ILIKE")

  private val OrderByRe = """(?i)\bORDER\s+BY\b""".r
  private val OrderEndKw = Seq("LIMIT", "OFFSET", "FETCH", "ROWS", "RANGE",
    "GROUPS", "WINDOW", "UNION", "INTERSECT", "EXCEPT", "HAVING", "QUALIFY")
  private[graft] def rewriteOrderNulls(sql: String): String = {
    var out = sql
    val matches = {
      val mask = quoteMask(out)
      OrderByRe.findAllMatchIn(out).filterNot(m => mask(m.start))
        .map(_.end).toList.reverse
    }
    matches.foreach { segStart =>
      val mask = quoteMask(out)
      // find the segment end: depth-0 terminator keyword, a ')' that
      // would close the enclosing paren, ';', or end of string
      var i = segStart
      var depth = 0
      var end = -1
      while (i < out.length && end < 0) {
        val c = out.charAt(i)
        if (!mask(i)) c match {
          case '(' => depth += 1; i += 1
          case ')' => if (depth == 0) end = i else { depth -= 1; i += 1 }
          case ';' if depth == 0 => end = i
          case ch if depth == 0 && (ch.isLetter) &&
              (i == 0 || !out.charAt(i - 1).isLetterOrDigit && out.charAt(i - 1) != '_') =>
            val w = out.substring(i).takeWhile(x => x.isLetterOrDigit || x == '_')
            if (OrderEndKw.contains(w.toUpperCase)) {
              // an unquoted sort COLUMN named `range`/`rows`/`offset`
              // used to truncate the segment here, so the whole ORDER
              // BY silently kept Spark's NULLS FIRST. A keyword is
              // only a real terminator when (a) it does not stand in
              // an expression slot (right after ORDER BY or a comma),
              // (b) what follows can continue its clause (not ','/')'
              // /';'/ASC/DESC/NULLS/end-of-string), and (c) a frame
              // keyword is followed by a frame operand.
              var j = i + w.length
              while (j < out.length && out.charAt(j).isWhitespace) j += 1
              val nextTok = (if (j >= out.length) ""
                else out.substring(j).takeWhile(x =>
                  x.isLetterOrDigit || x == '_')).toUpperCase
              val keyEnder = j >= out.length || ",);".contains(out.charAt(j)) ||
                Seq("ASC", "DESC", "NULLS").contains(nextTok)
              val frameKw = Seq("ROWS", "RANGE", "GROUPS").contains(w.toUpperCase)
              val frameFollows =
                Seq("BETWEEN", "UNBOUNDED", "CURRENT", "INTERVAL").contains(nextTok) ||
                  (nextTok.nonEmpty && nextTok.charAt(0).isDigit)
              var b = i - 1
              while (b >= segStart && out.charAt(b).isWhitespace) b -= 1
              val exprSlot = b < segStart || out.charAt(b) == ','
              if (!exprSlot && !keyEnder && (!frameKw || frameFollows)) end = i
              else i += w.length
            } else i += w.length
          case _ => i += 1
        } else i += 1
      }
      if (end < 0) end = out.length
      val seg = out.substring(segStart, end)
      val keys = splitTopLevel(seg, ',')
      val hasNullsRe = """(?i)\bNULLS\b""".r
      def topLevelNulls(key: String): Boolean = {
        val km = quoteMask(key)
        var d = 0
        var found = false
        hasNullsRe.findAllMatchIn(key).foreach { m =>
          if (!km(m.start)) {
            val before = key.substring(0, m.start)
            val bm = quoteMask(before)
            val dd = before.zipWithIndex.count { case (ch, ix) => ch == '(' && !bm(ix) } -
              before.zipWithIndex.count { case (ch, ix) => ch == ')' && !bm(ix) }
            if (dd == 0) found = true
          }
        }
        d == 0 && found
      }
      if (keys.nonEmpty && keys.forall(_.trim.nonEmpty)) {
        val rewritten = keys.map { k =>
          val t = k.trim
          if (topLevelNulls(t)) t else s"$t NULLS LAST"
        }
        out = out.substring(0, segStart) + " " + rewritten.mkString(", ") +
          (if (end < out.length && out.charAt(end) == ')') "" else " ") +
          out.substring(end)
      }
    }
    out
  }

  def rewrite(spark: SparkSession, sql: String,
      pathOk: String => Boolean = _ => true,
      readOnly: Boolean = false): String =
    // macro verbs short-circuit; macro CALLS expand right after the
    // FROM-first normalization so the substituted bodies flow through
    // every later rewrite (read_csv, brackets, //, …) and their file
    // paths hit the sandbox check at use time
    // rewriteFactorialAbs runs OUTSIDE rewritePower deliberately: DuckDB
    // parses `2^3!` as `(2^3)!` (verified — it is a binder error there,
    // because postfix `!` binds INTEGER only and 2^3 is DOUBLE), so
    // factorial(power(2,3)) is the faithful shape and FactorialDispatch
    // reproduces the loud binder failure; `2^(3!)` = 64.0 both engines.
    handleMacroVerb(spark, sql).orElse(
      handleDdlVerb(spark, sql, pathOk, readOnly)).getOrElse(
      rewriteOrderNulls(rewritePositionalJoin(spark,
      // rewriteQuantified runs AFTER rewriteShiftOps (and power/glob):
      // `a << 1 = ANY (SELECT …)` must see graft_shiftl(a, 1) as an
      // absorbable primary when capturing the comparison LHS, not bind
      // the quantified CASE as the shift's right operand
      rewriteDistinctOn(rewriteQualify(rewriteExclude(rewriteOffsetLimit(rewriteFactorialAbs(rewriteQuantified(rewriteShiftOps(rewritePower(rewriteGlob(rewriteTildeOps(rewriteAggOrder(rewriteSimilarTo(rewriteJsonOps(rewriteDateDiff(rewriteIntDiv(
        rewriteSample(rewriteStructPack(rewriteBrackets(rewriteBraces(
          rewriteVarcharCasts(rewriteIntCasts(rewriteTypeAliases(rewriteFrameExclude(rewriteWindowFilter(rewriteMultiUnnest(rewriteUnnestRecursive(rewriteExtractFields(rewriteExtractQuoted(
          rewriteUnionByName(spark, rewriteReplace(spark, rewriteColumns(spark, rewriteAsOf(rewriteGenerateSeries(rewriteSources(spark,
            rewritePivot(spark, rewriteUnpivot(rewriteSummarize(spark,
              rewritePragma(rewriteDescribe(spark, expandMacros(spark, rewriteFromFirst(rewriteStringEscapes(sql)))))))),
            pathOk)))))))))))))))))))))))))))))))))))))

  /** The serving plane's spark.sql: parse, then rewrite arithmetic to
    * DuckDB semantics BEFORE analysis so Catalyst's own coercion
    * re-runs over the replacements (probe tier 15, all verified
    * against DuckDB 2026-08-15):
    *
    *   - every `/` → graft_div (DivDispatch): result is ALWAYS DOUBLE
    *     like DuckDB (Spark keeps DECIMAL for decimal operands —
    *     5.0/2 rendered 2.500000 vs 2.5), zero divisor → NULL instead
    *     of the ANSI error, intervals keep interval division with the
    *     same guard;
    *   - `%` and `div` keep Spark's operand typing (it matches DuckDB)
    *     but the divisor gets a zero→NULL guard (1%0 is NULL there).
    *
    * A textual operator rewrite can't bound arbitrary left operands
    * (`CASE … END / x`), and transforming the ANALYZED plan can't
    * retype decimal divisions without desyncing parent operators —
    * parse-level is the one altitude where both come out right. The
    * guard references the divisor twice; for a NONDETERMINISTIC
    * divisor (rand()) the null-check draw and the dividing draw
    * differ — pathological input, accepted.
    */
  def sqlServed(spark: SparkSession, sql: String): org.apache.spark.sql.DataFrame = {
    // r15: the frame-EXCLUDE min/max rewrite emits the fused kernels
    // fe_mm_excl_cur/fe_mm_excl_peers — ensure they resolve on every
    // sqlServed session (the server session already has them via
    // injectInto; the declared-query path runs on the shared library
    // session, where only this narrow additive registration is safe)
    graft.GraftExtensions.injectFrameExcludeKernels(spark)
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{Cast => CastE, Divide, EqualTo, Expression, If, IntegralDivide, Literal, Remainder, SubqueryExpression, WindowExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
    import org.apache.spark.sql.types.{LongType => LongT}
    def guard(r: Expression): Expression =
      If(EqualTo(r, Literal(0)), Literal(null), r)
    // set when a sum/avg(DISTINCT) OVER fold was built — gates the
    // one-shot floating rebuild below
    var usedDistinctFold = false
    // DuckDB runs `count(DISTINCT x) OVER (…)` where Spark's window
    // exec refuses DISTINCT aggregates. Per-frame distinct count IS
    // size(collect_set(x) OVER same-spec) — identical on every frame
    // shape (default RANGE, bounded ROWS, plain PARTITION BY) and on
    // NULLs (count DISTINCT ignores them, collect_set drops them);
    // pinned vs DuckDB in probe 22. Only single-argument count is
    // rewritten; sum/avg(DISTINCT) OVER keep the loud error (their
    // result types diverge under a collected-set rebuild).
    def isDistinctCount(f: UnresolvedFunction): Boolean =
      f.isDistinct && f.nameParts.last.equalsIgnoreCase("count") &&
        f.arguments.length == 1 && f.filter.isEmpty
    // sum/avg(DISTINCT) OVER (round-13, closing the round-12 omission
    // row): the per-frame distinct SET is collect_set over the same
    // spec, and for INTEGRAL elements its sum is exact and
    // order-independent — fold with a BIGINT accumulator. Empty/
    // all-NULL frames guard to NULL like DuckDB (pinned: sum NULL,
    // avg NULL; sum(DISTINCT) is HUGEINT there, BIGINT here — the
    // documented width mapping).
    //
    // FLOATING elements (round-14 ask #6, closing the r13 omission
    // row): the element type is unknown at parse level, so the
    // integral fold is built first; if ANALYSIS rejects the BIGINT
    // accumulator against a float/decimal element, sqlServed rebuilds
    // once with the floating fold — the distinct set sorted ascending
    // (array_sort: a canonical order, so the result is DETERMINISTIC)
    // and folded with a DOUBLE accumulator. DuckDB's own accumulation
    // order over its hash set can differ in the last ulp; the pinned
    // frames use binary-exact values and the oracle compares float
    // results at 1e-9 relative tolerance. Decimal elements take the
    // same DOUBLE path (DuckDB keeps DECIMAL — the documented width
    // mapping, values equal).
    def isDistinctSumAvg(f: UnresolvedFunction): Boolean =
      f.isDistinct &&
        (f.nameParts.last.equalsIgnoreCase("sum") ||
          f.nameParts.last.equalsIgnoreCase("avg")) &&
        f.arguments.length == 1 && f.filter.isEmpty
    def distinctFold(f: UnresolvedFunction, windowed: Expression,
        floating: Boolean): Expression = {
      import org.apache.spark.sql.catalyst.expressions.{Add, GreaterThan,
        LambdaFunction, Size, UnresolvedNamedLambdaVariable}
      val acc = UnresolvedNamedLambdaVariable(Seq("__wda_acc"))
      val x = UnresolvedNamedLambdaVariable(Seq("__wda_x"))
      val setExpr =
        if (floating) UnresolvedFunction("array_sort", Seq(windowed), isDistinct = false)
        else windowed
      val seed: Expression =
        if (floating) Literal(0.0) else Literal(0L)
      val total = UnresolvedFunction("aggregate",
        Seq(setExpr, seed, LambdaFunction(Add(acc, x), Seq(acc, x))),
        isDistinct = false)
      val n = Size(windowed)
      val value =
        if (f.nameParts.last.equalsIgnoreCase("sum")) total
        else Divide(CastE(total, org.apache.spark.sql.types.DoubleType),
          CastE(n, org.apache.spark.sql.types.DoubleType))
      If(GreaterThan(n, Literal(0)), value, Literal(null))
    }
    def collectSet(f: UnresolvedFunction): UnresolvedFunction =
      UnresolvedFunction("collect_set", f.arguments, isDistinct = false)
    // size/cast wrap OUTSIDE the window: the OVER child must stay a
    // bare aggregate (collect_set), the set's size is row-local
    def sizeOf(windowed: Expression): Expression =
      CastE(UnresolvedFunction("size", Seq(windowed), isDistinct = false), LongT)
    // DuckDB's list/array_agg OVER (...) keep NULL elements and yield
    // NULL on an empty frame (probe 24). The group-by forms are fixed
    // by the registrations11 builders, but a builder result must BE a
    // bare aggregate inside OVER — so the window form rewrites here:
    // struct-wrap the element (a struct row survives collect_list even
    // when its field is NULL), collect over the same spec, and unwrap
    // + empty-guard OUTSIDE the window.
    // skewness/kurtosis under OVER: the registry's sample-corrected
    // composites (fuzz v4) cannot sit inside a WindowExpression, but
    // the correction is expressible as arithmetic over SEVERAL window
    // aggregates sharing the spec — same trick as the distinct-count
    // fold above. The population aggregates are constructed directly
    // (a registry lookup would return the composite again);
    // nullOnDivideByZero carries the zero-variance NULL.
    def isMoment(f: UnresolvedFunction): Boolean =
      !f.isDistinct && f.filter.isEmpty &&
        ((f.arguments.length == 1 &&
          (f.nameParts.last.equalsIgnoreCase("skewness") ||
            f.nameParts.last.equalsIgnoreCase("kurtosis"))) ||
         (f.arguments.length == 2 && f.nameParts.last.equalsIgnoreCase("corr")))
    def momentWin(f: UnresolvedFunction, wrap: Expression => Expression): Expression = {
      import org.apache.spark.sql.catalyst.expressions.{Add, CaseWhen,
        EqualTo, IsNull, LessThan, Multiply, Or, Sqrt, Subtract}
      import org.apache.spark.sql.catalyst.expressions.aggregate.{Count,
        CovSample, Kurtosis, Skewness, StddevSamp}
      import org.apache.spark.sql.types.DoubleType
      val nullD = Literal(null, DoubleType)
      if (f.nameParts.last.equalsIgnoreCase("corr")) {
        // corr OVER: covar_samp / stddev product over the
        // pairwise-complete columns, per-spec window aggregates
        val y = CastE(f.arguments(0), DoubleType)
        val x = CastE(f.arguments(1), DoubleType)
        val xp = If(IsNull(y), nullD, x)
        val yp = If(IsNull(x), nullD, y)
        val num = wrap(CovSample(yp, xp, nullOnDivideByZero = true).toAggregateExpression())
        val den = Multiply(
          wrap(StddevSamp(xp, nullOnDivideByZero = true).toAggregateExpression()),
          wrap(StddevSamp(yp, nullOnDivideByZero = true).toAggregateExpression()))
        return CaseWhen(Seq(
          (Or(IsNull(den), EqualTo(den, Literal(0.0))), nullD)),
          Some(UnresolvedFunction("nanvl", Seq(Divide(num, den), nullD),
            isDistinct = false)))
      }
      val x = CastE(f.arguments.head, DoubleType)
      val n = CastE(wrap(Count(Seq(x)).toAggregateExpression()), DoubleType)
      if (f.nameParts.last.equalsIgnoreCase("skewness")) {
        val g1 = wrap(Skewness(x, nullOnDivideByZero = true).toAggregateExpression())
        val corrected = Multiply(g1, Divide(
          Sqrt(Multiply(n, Subtract(n, Literal(1.0)))), Subtract(n, Literal(2.0))))
        CaseWhen(Seq((LessThan(n, Literal(3.0)), nullD)), Some(corrected))
      } else {
        val g2 = wrap(Kurtosis(x, nullOnDivideByZero = true).toAggregateExpression())
        val corrected = Divide(
          Multiply(Add(Multiply(Add(n, Literal(1.0)), g2), Literal(6.0)),
            Subtract(n, Literal(1.0))),
          Multiply(Subtract(n, Literal(2.0)), Subtract(n, Literal(3.0))))
        CaseWhen(Seq((LessThan(n, Literal(4.0)), nullD)), Some(corrected))
      }
    }
    def isListAgg(f: UnresolvedFunction): Boolean =
      !f.isDistinct && f.filter.isEmpty && f.arguments.length == 1 &&
        (f.nameParts.last.equalsIgnoreCase("list") ||
         f.nameParts.last.equalsIgnoreCase("array_agg"))
    def structWrap(f: UnresolvedFunction): UnresolvedFunction = {
      import org.apache.spark.sql.catalyst.expressions.CreateNamedStruct
      UnresolvedFunction("collect_list",
        Seq(CreateNamedStruct(Seq(Literal("v"), f.arguments.head))),
        isDistinct = false)
    }
    def listWin(windowed: Expression): Expression = {
      import org.apache.spark.sql.catalyst.expressions.{ArrayTransform,
        LambdaFunction, UnresolvedNamedLambdaVariable}
      import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
      val s = UnresolvedNamedLambdaVariable(Seq("__lwin_s"))
      val unwrapped = ArrayTransform(windowed,
        LambdaFunction(UnresolvedExtractValue(s, Literal("v")), Seq(s)))
      If(EqualTo(
        UnresolvedFunction("size", Seq(unwrapped), isDistinct = false),
        Literal(0)), Literal(null), unwrapped)
    }
    // transformAllExpressions alone never reaches CTE bodies
    // (UnresolvedWith keeps cteRelations as innerChildren, not
    // children) or SubqueryExpression inner plans, so `/` in
    // `WITH q AS (SELECT 5.0/2 AS r) ...` kept Spark's DECIMAL and
    // ANSI-on-zero semantics — descend into both explicitly.
    def rewriteDiv(plan: LogicalPlan,
        floatingDistinct: Boolean = false): LogicalPlan = {
      val cteMapped = plan.transformDown {
        case w: UnresolvedWith =>
          w.copy(cteRelations = w.cteRelations.map { rel =>
            rel.copy(_2 = rewriteDiv(rel._2, floatingDistinct)
              .asInstanceOf[SubqueryAlias])
          })
      }
      def intervalLit(e: Expression): Boolean = e.resolved && (e.dataType match {
        case _: org.apache.spark.sql.types.DayTimeIntervalType => true
        case _: org.apache.spark.sql.types.YearMonthIntervalType => true
        case _ => false
      })
      import org.apache.spark.sql.catalyst.expressions.{Add, Subtract}
      // DuckDB propagates an UNTYPED SQLNULL through null-intolerant
      // arithmetic — typeof(NULL * 0.0) is "NULL" there, so the dead
      // branch never influences type unification (coalesce(100.0,
      // NULL*0.0) stays DECIMAL(4,1) and renders '100.0') and untyped
      // bitwise operands are legal (3 | abs(NULL) is NULL). Spark
      // types the subtree eagerly (DECIMAL widening; bitwise ops
      // reject VOID outright — fuzz v4/v6). Fold definitely-null
      // arithmetic back to the bare untyped literal BEFORE analysis;
      // the whitelist keeps the fold to null-in-null-out shapes.
      def isNullPoisoned(e: Expression): Boolean = e match {
        case l: org.apache.spark.sql.catalyst.expressions.Literal =>
          l.value == null && l.dataType == org.apache.spark.sql.types.NullType
        case b: org.apache.spark.sql.catalyst.expressions.BinaryArithmetic =>
          isNullPoisoned(b.left) || isNullPoisoned(b.right)
        case u: org.apache.spark.sql.catalyst.expressions.UnaryMinus =>
          isNullPoisoned(u.child)
        case f: UnresolvedFunction
            if f.nameParts.length == 1 && !f.isDistinct && f.filter.isEmpty &&
              Set("abs", "sign", "signum", "xor", "graft_div", "graft_intdiv")
                .contains(f.nameParts.head.toLowerCase(java.util.Locale.ROOT)) =>
          f.arguments.exists(isNullPoisoned)
        case _ => false
      }
      cteMapped.transformAllExpressions {
        case e: org.apache.spark.sql.catalyst.expressions.BinaryArithmetic
            if isNullPoisoned(e) => Literal(null)
        case u: org.apache.spark.sql.catalyst.expressions.UnaryMinus
            if isNullPoisoned(u) => Literal(null)
        case f: UnresolvedFunction if isNullPoisoned(f) => Literal(null)
        case Divide(l, r, _) =>
          UnresolvedFunction("graft_div", Seq(l, r), isDistinct = false)
        // `date ± INTERVAL` is TIMESTAMP in DuckDB for every grain and
        // operand order (round-13 fuzz); Spark keeps DATE for
        // day-precision intervals. Promote the date operand of a
        // LITERAL-interval arithmetic (function-produced intervals
        // aren't detectable at parse level — those keep Spark's typing,
        // documented residue).
        case Add(l, r, ev) if intervalLit(r) && !intervalLit(l) =>
          Add(graft.functions.DateToTsOperand(l), r, ev)
        case Add(l, r, ev) if intervalLit(l) && !intervalLit(r) =>
          Add(l, graft.functions.DateToTsOperand(r), ev)
        case Subtract(l, r, ev) if intervalLit(r) && !intervalLit(l) =>
          Subtract(graft.functions.DateToTsOperand(l), r, ev)
        // DuckDB accepts a bare NULL condition (`CASE WHEN NULL THEN …`
        // falls through to ELSE); Spark's CaseWhen rejects NullType
        // conditions outright (round-13 fuzz finding — coercion covers
        // the branch VALUES, never the predicate slot). Retype the
        // literal; non-literal NullType conditions (NOT NULL, x AND
        // NULL) already coerce via the operators' own input types.
        case cw: org.apache.spark.sql.catalyst.expressions.CaseWhen
            if cw.branches.exists(_._1 == Literal(null)) =>
          cw.copy(branches = cw.branches.map {
            case (c, v) if c == Literal(null) =>
              (Literal(null, org.apache.spark.sql.types.BooleanType), v)
            case other => other
          })
        // same DuckDB rule for aggregate FILTER clauses: a bare NULL
        // condition keeps no rows there, Spark rejects the NullType
        // predicate (INVALID_AGGREGATE_FILTER.NOT_BOOLEAN — fuzz v4)
        case f: UnresolvedFunction if f.filter.contains(Literal(null)) =>
          f.copy(filter = Some(
            Literal(null, org.apache.spark.sql.types.BooleanType)))
        // DuckDB's any_value returns the first NON-NULL value (fuzz
        // v4); a registry override can't carry this — Spark's parser
        // special-cases any_value into a concrete AnyValue node before
        // any registry lookup — so flip ignoreNulls on the node itself
        // (the ordered any_value(x ORDER BY k) form was already
        // rewritten to the NULL-skipping min_by/max_by at text level)
        case av: org.apache.spark.sql.catalyst.expressions.aggregate.AnyValue
            if !av.ignoreNulls =>
          org.apache.spark.sql.catalyst.expressions.aggregate.AnyValue(
            av.child, ignoreNulls = true)
        case Remainder(l, r, ev) => Remainder(l, guard(r), ev)
        case IntegralDivide(l, r, ev) => IntegralDivide(l, guard(r), ev)
        case WindowExpression(f: UnresolvedFunction, spec) if isDistinctCount(f) =>
          sizeOf(WindowExpression(collectSet(f), spec))
        case org.apache.spark.sql.catalyst.expressions.UnresolvedWindowExpression(
            f: UnresolvedFunction, ref) if isDistinctCount(f) =>
          sizeOf(org.apache.spark.sql.catalyst.expressions.UnresolvedWindowExpression(
            collectSet(f), ref))
        case WindowExpression(f: UnresolvedFunction, spec) if isDistinctSumAvg(f) =>
          usedDistinctFold = true
          distinctFold(f, WindowExpression(collectSet(f), spec), floatingDistinct)
        case org.apache.spark.sql.catalyst.expressions.UnresolvedWindowExpression(
            f: UnresolvedFunction, ref) if isDistinctSumAvg(f) =>
          usedDistinctFold = true
          distinctFold(f,
            org.apache.spark.sql.catalyst.expressions.UnresolvedWindowExpression(
              collectSet(f), ref), floatingDistinct)
        case WindowExpression(f: UnresolvedFunction, spec) if isMoment(f) =>
          momentWin(f, e => WindowExpression(e, spec))
        case org.apache.spark.sql.catalyst.expressions.UnresolvedWindowExpression(
            f: UnresolvedFunction, ref) if isMoment(f) =>
          momentWin(f,
            e => org.apache.spark.sql.catalyst.expressions.UnresolvedWindowExpression(e, ref))
        case WindowExpression(f: UnresolvedFunction, spec) if isListAgg(f) =>
          listWin(WindowExpression(structWrap(f), spec))
        case org.apache.spark.sql.catalyst.expressions.UnresolvedWindowExpression(
            f: UnresolvedFunction, ref) if isListAgg(f) =>
          listWin(org.apache.spark.sql.catalyst.expressions.UnresolvedWindowExpression(
            structWrap(f), ref))
        case sub: SubqueryExpression =>
          sub.withNewPlan(rewriteDiv(sub.plan, floatingDistinct))
      }
    }
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    usedDistinctFold = false
    val guarded = rewriteDiv(parsed)
    // the integral distinct fold is built blind to the element type;
    // when analysis rejects its BIGINT accumulator (float/decimal
    // elements), rebuild ONCE with the canonical-order DOUBLE fold.
    // Unrelated analysis failures fail in both builds — the original
    // error is what the caller sees.
    val df =
      try org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, guarded)
      catch {
        case first: org.apache.spark.sql.AnalysisException if usedDistinctFold =>
          try org.apache.spark.sql.graft.ColumnBridge.ofRows(
            spark, rewriteDiv(parsed, floatingDistinct = true))
          catch { case _: Throwable => throw first }
      }
    // DuckDB types DATE - DATE as BIGINT days (probe tier 16:
    // DATE '2024-03-05' - DATE '2024-02-28' = 6) where Spark yields
    // INTERVAL '6' DAY. Flip the resolved SubtractDates node to
    // datediff-as-bigint and RE-ANALYZE: a parent that consumed the
    // interval re-resolves against the new type — succeeding where
    // DuckDB's integer arithmetic would ((d1 - d2) + 5 works on both
    // engines now), failing LOUDLY where it can't, never silently.
    // (In the ANALYZED plan, CTE bodies sit in WithCTE's regular
    // children; subquery inner plans still need the explicit descent.)
    import org.apache.spark.sql.catalyst.expressions.{Cast, DateDiff, SubtractDates}
    import org.apache.spark.sql.types.LongType
    def flipDates(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
      case SubtractDates(l, r, _) => Cast(DateDiff(l, r), LongType)
      case sub: SubqueryExpression =>
        val inner = flipDates(sub.plan)
        if (inner eq sub.plan) sub else sub.withNewPlan(inner)
    }
    val analyzed = df.queryExecution.analyzed
    val flipped = flipDates(analyzed)
    if (flipped eq analyzed) df
    else org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, flipped)
  }
}
