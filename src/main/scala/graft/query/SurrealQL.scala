package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ingest.Load.WikiTables

/** Interpreter for the reference's DOCUMENTED SurrealQL surface — the
  * exact grammar exercised by `Useful queries.md` and
  * `tests/data/test_filter.surql` — so a reference user's existing
  * scripts run verbatim against the Spark tables (SURVEY §2.B, all of
  * B1-B16 + B18 in string form):
  *
  *   - `LET $var = <expr>;` / `RETURN <expr>;`
  *   - scalar arithmetic in expressions: `$a * 2`, `$x + $y`, ...
  *   - `SELECT <proj,...> FROM Entity|$var [WHERE <cond>]
  *     [GROUP BY f, ... | GROUP ALL]
  *     [ORDER BY f [ASC|DESC], ...] [LIMIT n]` — aggregates:
  *     `count()`, `math::sum|mean|max|min(<path>)`
  *   - projections: `*`, `<path> [AS alias]`, parenthesized
  *     subselects with `[0]`/`.field` postfix, `count(<subselect>)`,
  *     and projection-position subselects `(SELECT <agg|path> FROM
  *     src [WHERE f = $parent.g ...]) AS x` (correlated via
  *     SurrealQL's `$parent`, compiled to one aggregate + left join)
  *   - paths: `claims.claims[WHERE id = Property:N]`, `[0]`,
  *     `.value.Thing`, `.value.ClaimValueData.Quantity.amount`, ...
  *   - conds: `label = "..."`, `<path> == []`, AND of those
  *   - `DELETE $var;` (entity or claims record sets, co-deletion)
  *   - `UPDATE Entity SET f = $var|lit WHERE <cond>;`
  *   - `DEFINE TABLE <name> TYPE NORMAL AS <select>;` (view)
  *   - `DEFINE ANALYZER ...;` (accepted; analyzer itself is
  *     TextFunctions.analyzeBlankEnglish)
  *
  * Execution model: each statement compiles to DataFrame operations
  * over the wiki tables (traversal = the Paths join; array ops =
  * higher-order functions) — Catalyst plans them like any native
  * query. `$vars` hold DataFrames (a LET is a named lazy plan,
  * exactly SurrealQL's semantics). A script that only DELETEs row
  * selections also has a join-free form, [[rowKeep]]: the per-row keep
  * predicates the filtered load writes through.
  */
object SurrealQL {

  /** A registered `DEFINE ANALYZER` pipeline: tokenize + filter chain
    * compiled to a Column transform (`Useful queries.md:28` declares
    * `blank_english` this way; no documented query consumes it, so
    * registration + the compiled function IS the DDL's whole
    * observable surface). Unknown tokenizers/filters fail loudly at
    * parse — a silently-dropped filter would change every downstream
    * token. */
  final case class AnalyzerDef(name: String, tokenizers: Seq[String],
                               filters: Seq[String]) {
    import graft.functions.TextFunctions
    private def filterFn(f: String): Column => Column = f match {
      case "lowercase" => lower(_)
      case "ascii" => TextFunctions.ascii_fold(_)
      case "snowball(english)" => TextFunctions.snowball_stem(_)
      case other =>
        throw new IllegalArgumentException(s"unsupported analyzer filter: $other")
    }
    tokenizers.foreach { t =>
      if (t != "blank")
        throw new IllegalArgumentException(s"unsupported tokenizer: $t")
    }
    private val chain: Column => Column =
      filters.map(filterFn).foldLeft(identity[Column] _)((acc, f) => acc.andThen(f))
    /** text column → array of analyzed tokens. */
    def apply(text: Column): Column =
      transform(split(trim(text), "\\s+"), t => chain(t))
  }

  final case class Result(tables: WikiTables,
                          views: Map[String, DataFrame],
                          returned: Option[DataFrame],
                          analyzers: Map[String, AnalyzerDef] = Map.empty)

  private val letRe = "(?is)^LET\\s+\\$([a-zA-Z_][a-zA-Z0-9_]*)\\s*=\\s*(.+)$".r
  private val delRe = "(?is)^DELETE\\s+\\$([a-zA-Z_][a-zA-Z0-9_]*)$".r

  private def statementsOf(script: String): Seq[String] =
    Script.split(stripComments(script)).map(_.trim).filter(_.nonEmpty)

  def run(tables: WikiTables, script: String): Result = {
    var t = tables
    var vars = Map.empty[String, DataFrame]
    var views = Map.empty[String, DataFrame]
    var returned: Option[DataFrame] = None

    val statements = statementsOf(script)
    val retRe = "(?is)^RETURN\\s+(.+)$".r
    // value: $var, quoted string (may contain spaces), or bare literal
    val updRe = "(?is)^UPDATE\\s+Entity\\s+SET\\s+([a-zA-Z_][a-zA-Z0-9_]*)\\s*=\\s*(\"[^\"]*\"|\\S+)\\s+WHERE\\s+(.+)$".r
    val defTableRe = "(?is)^DEFINE\\s+TABLE\\s+(?:OVERWRITE\\s+)?([a-zA-Z_][a-zA-Z0-9_]*)\\s+TYPE\\s+NORMAL\\s+AS\\s+(.+)$".r
    val defAnalyzerRe =
      ("(?is)^DEFINE\\s+ANALYZER\\s+(?:OVERWRITE\\s+)?([a-zA-Z_][a-zA-Z0-9_]*)" +
        "\\s+TOKENIZERS\\s+([a-zA-Z_]+(?:\\s*,\\s*[a-zA-Z_]+)*)" +
        "\\s+FILTERS\\s+(.+)$").r
    var analyzers = Map.empty[String, AnalyzerDef]

    statements.foreach {
      case letRe(name, expr) =>
        vars += name -> evalExpr(expr.trim, t, vars)
      case retRe(expr) =>
        returned = Some(evalExpr(expr.trim, t, vars).drop("_claims_src_tb"))
      case delRe(name) =>
        val df = vars.getOrElse(name,
          throw new IllegalArgumentException(s"unknown $$$name"))
        t = deleteRecords(t, df)
      case updRe(field, value, cond) =>
        val v: Column = value match {
          case s if s.startsWith("$") =>
            lit(scalarOf(vars(s.drop(1))))
          case s => literal(s)
        }
        // match set scoped to the named table (UPDATE Entity must not
        // touch Property/Lexeme rows that happen to satisfy WHERE)
        val entities = Paths.withClaims(
          t.entities.filter(col("id.tb") === "Entity"), t.claims)
        val pred = compileCond(cond.trim)
        // non-matching rows KEEP their value (or null for a new field)
        val prev: Column =
          if (t.entities.columns.contains(field)) col(field)
          else lit(null)
        val updated = t.entities
          .join(entities.filter(pred).select(col("id").as("_m_id")),
            t.entities("id") === col("_m_id"), "left")
          .withColumn(field, when(col("_m_id").isNotNull, v).otherwise(prev))
          .drop("_m_id")
        t = WikiTables(updated, t.claims)
      case defAnalyzerRe(name, toks, filters) => // B17 DDL registration
        analyzers += name -> AnalyzerDef(name,
          toks.split(",").map(_.trim).toSeq,
          // filters split at top-level commas only: snowball(english)
          // keeps its parenthesized argument intact
          filters.trim.split(",(?![^()]*\\))").map(_.trim.toLowerCase).toSeq)
      case defTableRe(name, select) =>
        views += name -> evalExpr(select.trim, t, vars).drop("_claims_src_tb")
      case other =>
        returned = Some(evalExpr(other.trim, t, vars).drop("_claims_src_tb"))
    }
    Result(t, views, returned, analyzers)
  }

  /** What a row-selection script keeps: one predicate over entity rows
    * and one over claims rows, both Columns of the normalized row
    * (`Transform.normalize`: `id`, `label`, `description` and the
    * entity's own `claims_arr`), never null. See [[rowKeep]]. */
  final case class RowKeep(entities: Column, claims: Column)

  /** The fold rule: a script that only deletes row selections, as a
    * [[RowKeep]] over the normalized rows instead of [[run]]'s joins.
    *
    * A `LET $v = SELECT id|claims FROM Entity|Property|Lexeme WHERE
    * <cond>` is a row selection when [[compileCond]] compiles `cond`
    * alone (an IN/INSIDE subselect does not) and the SELECT has no
    * GROUP, ORDER BY, LIMIT, `[0]` or projection subselect. A script of
    * such LETs followed by `DELETE`s of them folds: each `DELETE $v`
    * ANDs `NOT coalesce(id.tb = X AND cond, false)` into the side `$v`
    * names, entity rows for `id` and claims rows for `claims`. A row
    * whose cond is NULL is not in `$v`, hence the `coalesce`: it stays.
    * Every LET sees the unmodified tables, as in [[run]], because they
    * all come before the first DELETE.
    *
    * Any other script — UPDATE, DEFINE, RETURN, a LET that is no row
    * selection, a LET after a DELETE, a DELETE of an unknown name —
    * returns None and runs through [[run]], whose anti-join is the
    * general semantics.
    *
    * The fold is exact when each (tb, id) occurs once in the rows,
    * which a Wikidata dump guarantees: the fold judges each row on its
    * own cond, the anti-join judges a key by every row that holds it. */
  def rowKeep(script: String): Option[RowKeep] = {
    val (lets, deletes) = statementsOf(script).span(letRe.matches(_))
    val selections = lets.map { case letRe(name, expr) =>
      rowSelection(expr.trim).map(name -> _) }
    val named = selections.flatten.toMap
    val dropped = deletes.map {
      case delRe(name) => named.get(name)
      case _ => None
    }
    def keep(side: String): Column =
      dropped.flatten.collect { case (`side`, sel) => !coalesce(sel, lit(false)) }
        .foldLeft(lit(true))(_ && _)
    if (selections.exists(_.isEmpty) || dropped.exists(_.isEmpty)) None
    else Some(RowKeep(keep("id"), keep("claims")))
  }

  /** A row selection's side (`id` or `claims`) and its predicate. */
  private def rowSelection(expr: String): Option[(String, Column)] =
    parseSelect(expr).flatMap {
      case (side @ ("id" | "claims"), tb @ ("Entity" | "Property" | "Lexeme"),
            cond, null, null, null) if cond != null =>
        scala.util.Try(compileCond(cond.trim)).toOption
          .map(c => side -> (col("id.tb") === tb && c))
      case _ => None
    }

  // -------------------------------------------------- expressions //

  /** expr := count( <expr> ) | ( <expr> )<postfix> | $var<postfix>
    *        | select ... */
  private def evalExpr(e0: String, t: WikiTables,
                       vars: Map[String, DataFrame]): DataFrame = {
    // `let $x = return (select ...)` — RETURN also appears as an
    // expression prefix (test_filter.surql:3-4)
    val e = e0.replaceFirst("(?is)^RETURN\\s+", "")
    val countRe = "(?is)^count\\s*\\((.+)\\)$".r
    val parenRe = "(?s)^\\((.+)\\)\\s*((?:\\[0\\]|\\.[a-zA-Z_][a-zA-Z0-9_]*)*)$".r
    val varRe = "(?s)^\\$([a-zA-Z_][a-zA-Z0-9_]*)\\s*((?:\\[0\\]|\\.[a-zA-Z_][a-zA-Z0-9_]*)*)$".r
    e match {
      // balanced() guard as on parenRe: without it the greedy match
      // swallows arithmetic BETWEEN two count() terms — e.g.
      // `count($a) + count($b)` captured inner "$a) + count($b"
      // (code-review r10)
      case countRe(inner) if balanced(inner) =>
        val n = evalExpr(inner.trim, t, vars).count()
        val spark = t.entities.sparkSession
        spark.range(1).select(lit(n).as("count"))
      case varRe(name, postfix) =>
        applyPostfix(vars(name), postfix)
      case parenRe(inner, postfix) if balanced(inner) =>
        applyPostfix(evalExpr(inner.trim, t, vars), postfix)
      // bare literals: `LET $x = 2;` / `= 2.5` / `= "s"` are valid
      // SurrealQL — found by SurrealQLProps' generated LET chains
      // (every hand-written script happened to bind selects or
      // arithmetic, never a lone literal)
      case _ if e.matches("-?[0-9]+") =>
        t.entities.sparkSession.range(1).select(lit(e.toLong).as("value"))
      case _ if e.matches("-?[0-9]*\\.[0-9]+") =>
        t.entities.sparkSession.range(1).select(lit(e.toDouble).as("value"))
      case _ if e.length >= 2 && e.startsWith("\"") && e.endsWith("\"") &&
          !e.substring(1, e.length - 1).contains("\"") =>
        t.entities.sparkSession.range(1)
          .select(lit(e.substring(1, e.length - 1)).as("value"))
      case _ if !e.matches("(?is)^SELECT\\b.*") && topLevelOp(e).isDefined =>
        val (lhs, op, rhs) = topLevelOp(e).get
        val a = numOf(lhs, t, vars)
        val b = numOf(rhs, t, vars)
        val spark = t.entities.sparkSession
        val value: Column = (a, b) match {
          // integral stays integral except under division
          case (x: Long, y: Long) if op != '/' =>
            lit(op match {
              case '+' => x + y
              case '-' => x - y
              case '*' => x * y
            })
          case _ =>
            val (x, y) = (toD(a), toD(b))
            lit(op match {
              case '+' => x + y
              case '-' => x - y
              case '*' => x * y
              case '/' => x / y
            })
        }
        spark.range(1).select(value.as("value"))
      case _ => evalSelect(e, t, vars)
    }
  }

  /** Rightmost top-level (not inside parens/brackets/strings) binary
    * arithmetic operator, additive before multiplicative — the scalar
    * algebra of LET/RETURN expressions. `-` counts only when preceded
    * by a term (else it's a sign). */
  private def topLevelOp(s: String): Option[(String, Char, String)] = {
    var depth = 0; var quote = false
    var addIdx = -1; var mulIdx = -1
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => quote = !quote
        case '(' | '[' if !quote => depth += 1
        case ')' | ']' if !quote => depth -= 1
        case '+' if !quote && depth == 0 => addIdx = i
        case '*' | '/' if !quote && depth == 0 => mulIdx = i
        case '-' if !quote && depth == 0 =>
          val prev = s.substring(0, i).reverse.dropWhile(_.isWhitespace)
            .headOption
          if (prev.exists(p => p.isLetterOrDigit || p == ')' || p == ']'))
            addIdx = i
        case _ =>
      }
      i += 1
    }
    val idx = if (addIdx >= 0) addIdx else mulIdx
    if (idx < 0) None
    else Some((s.substring(0, idx).trim, s.charAt(idx),
      s.substring(idx + 1).trim))
  }

  /** A scalar term: numeric literal, or any expression whose 1-row
    * result yields a number. */
  private def numOf(s: String, t: WikiTables,
                    vars: Map[String, DataFrame]): Any =
    if (s.matches("-?[0-9]+")) s.toLong
    else if (s.matches("-?[0-9]*\\.[0-9]+")) s.toDouble
    else scalarOf(evalExpr(s, t, vars)) match {
      case null => throw new IllegalArgumentException(
        s"non-scalar arithmetic term: $s")
      case n: java.lang.Double => n.doubleValue()
      case n: java.lang.Float => n.doubleValue()
      case n: java.math.BigDecimal => n.doubleValue()
      case n: Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"non-numeric arithmetic term: $s = $other")
    }

  private def toD(a: Any): Double = a match {
    case n: Number => n.doubleValue()
    case _ => throw new IllegalArgumentException(s"not a number: $a")
  }

  /** `[0]` on a DataFrame = first row (SurrealQL array-of-rows);
    * `.field` = project that column. */
  /** `[0]` must be DETERMINISTIC: SurrealDB returns record-id-ordered
    * results, so `(SELECT ...)[0]` means the smallest id, not
    * whichever partition answers a bare limit(1) first — scripts that
    * DELETE/UPDATE through a `[0]` binding would otherwise touch a
    * different record per run (code-review r10). Order by `id` when
    * present, else by every visible column. */
  private def firstRow(df: DataFrame): DataFrame = {
    val cols =
      if (df.columns.contains("id")) Seq(col("id"))
      else {
        val visible = df.columns.toSeq.filterNot(_.startsWith("_"))
        (if (visible.nonEmpty) visible else df.columns.toSeq).map(col)
      }
    df.orderBy(cols: _*).limit(1)
  }

  private def applyPostfix(df0: DataFrame, postfix: String): DataFrame = {
    var df = df0
    val tokens = "\\[0\\]|\\.[a-zA-Z_][a-zA-Z0-9_]*".r
      .findAllIn(Option(postfix).getOrElse("")).toList
    tokens.foreach {
      case "[0]" => df = firstRow(df)
      case f =>
        val name = f.drop(1)
        // keep the hidden claims-owner provenance alongside a claims
        // link projection — DELETE needs it to key (src_tb, id)
        df = if (name == "claims" && df.columns.contains("_claims_src_tb"))
          df.select(col(name), col("_claims_src_tb"))
        else df.select(col(name))
    }
    df
  }

  /** A SELECT's clauses — projections, source, WHERE, GROUP, ORDER BY,
    * LIMIT (null when absent) — or None when `sql` is no SELECT. */
  private def parseSelect(sql: String)
      : Option[(String, String, String, String, String, String)] = {
    // the projection list splits off at the TOP-LEVEL FROM (quote-,
    // paren- and whitespace-aware): projection-position subselects
    // carry their own FROM inside parens, which a non-greedy regex
    // would latch onto
    val splitAt =
      if (sql.matches("(?is)^SELECT\\b.*")) topLevelKeyword(sql, "FROM")
      else None
    val tailRe = ("(?is)^(\\S+)" +
      "(?:\\s+WHERE\\s+(.+?))?" +
      "(?:\\s+GROUP\\s+(ALL|BY\\s+[a-zA-Z_][a-zA-Z0-9_]*" +
      "(?:\\s*,\\s*[a-zA-Z_][a-zA-Z0-9_]*)*))?" +
      "(?:\\s+ORDER\\s+BY\\s+([a-zA-Z_][a-zA-Z0-9_]*(?:\\s+(?:ASC|DESC))?" +
      "(?:\\s*,\\s*[a-zA-Z_][a-zA-Z0-9_]*(?:\\s+(?:ASC|DESC))?)*))?" +
      "(?:\\s+LIMIT\\s+([0-9]+))?$").r
    splitAt.flatMap { i =>
      val projs = sql.substring(0, i).replaceFirst("(?is)^SELECT\\s+", "").trim
      sql.substring(i + "FROM".length).trim match {
        case tailRe(source, cond, groupSpec, orderBy, limit) =>
          Some((projs, source, cond, groupSpec, orderBy, limit))
        case _ => None
      }
    }
  }

  private def evalSelect(sql: String, t: WikiTables,
                         vars: Map[String, DataFrame]): DataFrame = {
    parseSelect(sql) match {
      case Some((projs, source, cond, groupSpec, orderBy, limit)) =>
        val base = source match {
          // the three wiki tables the reference routes by id prefix
          // (Q→Entity, P→Property, L→Lexeme — utils.rs:144-158):
          // one entities table filtered on the (tb, id) key, so
          // `select * from Property` (integration.rs:78-84) and the
          // documented Lexeme table (README.md:91-100) run verbatim
          case "Entity" | "Property" | "Lexeme" => Paths.withClaims(
            t.entities.filter(col("id.tb") === source), t.claims)
          case v if v.startsWith("$") => vars(v.drop(1))
          case other => throw new IllegalArgumentException(
            s"unknown source '$other'")
        }
        val filtered = Option(cond) match {
          case Some(c) => applyWhere(base, c.trim, t, vars)
          case None => base
        }
        val items = splitTop(projs, ',').map(_.trim).filter(_.nonEmpty)
        val asRe = "(?is)^(.*?)\\s+AS\\s+([a-zA-Z_][a-zA-Z0-9_]*)$".r
        // projection-position subselects: `(SELECT <agg|path> FROM src
        // [WHERE ...]) AS alias`, per-row correlated on
        // `<field> = $parent.<outerField>` conjuncts — each compiles
        // to ONE inner aggregate + left join (no per-row execution,
        // no driver collect); see [[projSubselect]]
        val subRe = "(?is)^\\(\\s*(SELECT\\b.+)\\)\\s+AS\\s+([a-zA-Z_][a-zA-Z0-9_]*)$".r
        val subItems = items.collect { case subRe(inner, alias) => (inner, alias) }
        require(subItems.isEmpty || groupSpec == null,
          "projection subselects under GROUP are not supported")
        val subAliases = subItems.map(_._2).toSet
        val joined = subItems.foldLeft(filtered) { case (df, (inner, alias)) =>
          projSubselect(df, inner.trim, alias, t, vars)
        }
        // lazy: under GROUP the items are aggregate calls, not paths
        lazy val cols = items.flatMap {
          case "*" =>
            joined.columns
              .filter(c => c != "claims_arr" && c != "_claims_src_tb" &&
                !subAliases.contains(c))
              .map(col).toSeq
          case subRe(_, alias) => Seq(col(alias))
          case asRe(path, alias) =>
            Seq(compileProj(path.trim).as(alias))
          case p if p.matches("[a-zA-Z_][a-zA-Z0-9_]*") => Seq(col(p))
          case path =>
            Seq(compileProj(path).as(path.replaceAll("[^a-zA-Z0-9_]", "_")
              .replaceAll("_+", "_").stripSuffix("_").stripPrefix("_")))
        }
        // a projected `claims` record link loses its owner table (the
        // Thing is ("Claims", N) for Entity:N, Property:N and
        // Lexeme:N alike) — carry the owner as hidden provenance so a
        // later DELETE anti-joins claims on the collision-free
        // (src_tb, id) key instead of the numeric id alone
        lazy val withProv =
          if (items.contains("claims") && !items.contains("*")) {
            if (joined.columns.contains("id"))
              cols :+ col("id.tb").as("_claims_src_tb")
            else if (joined.columns.contains("_claims_src_tb"))
              cols :+ col("_claims_src_tb")
            else cols
          } else cols
        // GROUP BY f,... / GROUP ALL (SurrealQL's aggregation forms):
        // aggregate projections are count() and the math:: family over
        // a claims path; group keys project implicitly
        val projected = Option(groupSpec) match {
          case Some(g) =>
            val keys =
              if (g.equalsIgnoreCase("ALL")) Seq.empty[String]
              else g.replaceFirst("(?is)^BY\\s+", "")
                .split(",").map(_.trim).toSeq
            val aggRe = ("(?is)^(count|math::sum|math::mean|math::max|" +
              "math::min)\\s*\\(\\s*(.*?)\\s*\\)" +
              "(?:\\s+AS\\s+([a-zA-Z_][a-zA-Z0-9_]*))?$").r
            // each projection is an aggregate call or a group key
            // (optionally aliased); anything else would silently
            // vanish from the output — error instead
            val parsed: Seq[Either[(String, String), (Column, String)]] =
              items.map {
                case aggRe(fn, arg, alias) =>
                  val c = fn.toLowerCase match {
                    case "count" => count(lit(1))
                    case "math::sum" => sum(compileProj(arg))
                    case "math::mean" => avg(compileProj(arg))
                    case "math::max" => max(compileProj(arg))
                    case "math::min" => min(compileProj(arg))
                  }
                  val name = Option(alias).getOrElse(fn.replace("::", "_"))
                  Right(c.as(name) -> name)
                case asRe(p, alias) if keys.contains(p.trim) =>
                  Left(p.trim -> alias)
                case i if keys.contains(i) => Left(i -> i)
                case i => throw new IllegalArgumentException(
                  s"non-aggregate projections must be GROUP BY keys: $i")
              }
            val aggs = parsed.collect { case Right((c, _)) => c }
            require(aggs.nonEmpty, s"GROUP without aggregates: $sql")
            val agged = filtered.groupBy(keys.map(col): _*)
              .agg(aggs.head, aggs.tail: _*)
            // output columns in projection order, key aliases honored
            agged.select(parsed.map {
              case Left((k, a)) => col(k).as(a)
              case Right((_, name)) => col(name)
            }: _*)
          case None => joined.select(withProv: _*)
        }
        // ORDER BY names output fields (aliases included), SurrealQL
        // style; LIMIT after ordering
        val ordered = Option(orderBy) match {
          case Some(ob) =>
            val sorts = ob.split(",").map(_.trim).map { item =>
              item.split("\\s+").toList match {
                case f :: Nil => col(f).asc
                case f :: d :: Nil if d.equalsIgnoreCase("desc") => col(f).desc
                case f :: _ => col(f).asc
                case Nil => throw new IllegalArgumentException("empty ORDER BY")
              }
            }
            projected.orderBy(sorts.toIndexedSeq: _*)
          case None => projected
        }
        Option(limit).map(n => ordered.limit(n.toInt)).getOrElse(ordered)
      case _ => throw new IllegalArgumentException(s"cannot parse: $sql")
    }
  }

  /** Projection-position subselect `(SELECT <agg|path> FROM src
    * [WHERE ...]) AS alias`, correlated per-row on the outer record
    * via `<innerField> = $parent.<outerField>` equality conjuncts —
    * SurrealQL's `$parent` binding. Compiled set-at-a-time: the inner
    * table aggregates ONCE grouped by its correlation fields, then
    * left-joins onto the outer rows — per-row subquery semantics with
    * no per-row execution and no driver collect. An uncorrelated
    * subselect aggregates to a single broadcast row. `count()`
    * coalesces to 0 for unmatched outer rows (SurrealQL counts an
    * empty set as 0); a plain path projection yields the array of
    * matched values (SurrealQL's array-of-results shape). */
  private def projSubselect(outer: DataFrame, inner: String, alias: String,
                            t: WikiTables,
                            vars: Map[String, DataFrame]): DataFrame = {
    val innerRe = "(?is)^SELECT\\s+(.+?)\\s+FROM\\s+(\\S+)(?:\\s+WHERE\\s+(.+))?$".r
    inner match {
      case innerRe(proj, source, cond) =>
        val base = source match {
          case "Entity" | "Property" | "Lexeme" => Paths.withClaims(
            t.entities.filter(col("id.tb") === source), t.claims)
          case v if v.startsWith("$") => vars(v.drop(1))
          case other => throw new IllegalArgumentException(
            s"unknown subselect source '$other'")
        }
        val corrRe = ("(?is)^([a-zA-Z_][a-zA-Z0-9_]*)\\s*=\\s*" +
          "\\$parent\\.([a-zA-Z_][a-zA-Z0-9_]*)$").r
        val conjuncts = Option(cond)
          .map(c => splitTopWord(c.trim, "AND").map(_.trim)).getOrElse(Seq.empty)
        val (corr, plain) = conjuncts.partition(corrRe.matches(_))
        val keys = corr.map { case corrRe(ik, of) => (ik, of) }
        val filteredInner = plain.foldLeft(base)((d, c) => d.filter(compileCond(c)))
        val aggRe = ("(?is)^(count|math::sum|math::mean|math::max|" +
          "math::min)\\s*\\(\\s*(.*?)\\s*\\)$").r
        val (aggCol, isCount) = proj.trim match {
          case aggRe(fn, arg) => (fn.toLowerCase match {
            case "count" => count(lit(1))
            case "math::sum" => sum(compileProj(arg))
            case "math::mean" => avg(compileProj(arg))
            case "math::max" => max(compileProj(arg))
            case "math::min" => min(compileProj(arg))
          }, fn.equalsIgnoreCase("count"))
          case p => (collect_list(compileProj(p)), false)
        }
        val j =
          if (keys.isEmpty)
            outer.crossJoin(broadcast(filteredInner.agg(aggCol.as(alias))))
          else {
            val kcols = keys.map(_._1).distinct
            val agged = filteredInner.groupBy(kcols.map(col): _*)
              .agg(aggCol.as(alias))
              .select(kcols.zipWithIndex.map { case (k, i) =>
                col(k).as(s"_sub_k$i") } :+ col(alias): _*)
            val on = keys.map { case (ik, of) =>
              col(s"_sub_k${kcols.indexOf(ik)}") === outer(of) }.reduce(_ && _)
            outer.join(agged, on, "left")
              .drop(kcols.indices.map(i => s"_sub_k$i"): _*)
          }
        if (isCount) j.withColumn(alias, coalesce(col(alias), lit(0L))) else j
      case _ => throw new IllegalArgumentException(
        s"cannot parse projection subselect: $inner")
    }
  }

  /** A projection item: a plain column, a claims path, a
    * parenthesized path with trailing index — `(path)[0]`, the Media
    * view's shape — or a scalar `math::` aggregate over an array path
    * (`math::sum(claims.claims[...].value...amount)`): SurrealQL's
    * math:: family works per-ROW on arrays, distinct from its use as
    * a group aggregate (which the GROUP branch compiles separately).
    * Elements cast to double, nulls skipped; empty array → sum 0,
    * mean/max/min null — per-row higher-order fold, zero shuffle. */
  private def compileProj(path: String): Column = {
    val parenIdx = "(?s)^\\((.+)\\)\\s*\\[0\\]$".r
    val mathRe = "(?is)^math::(sum|mean|max|min)\\s*\\((.+)\\)$".r
    path match {
      case p if p.matches("[a-zA-Z_][a-zA-Z0-9_]*") => col(p)
      case mathRe(fn, arg) if balanced(arg) =>
        val arr = filter(transform(compilePath(arg.trim),
          v => v.cast("double")), v => v.isNotNull)
        fn.toLowerCase match {
          case "sum" => aggregate(arr, lit(0.0), (a, x) => a + x)
          case "mean" =>
            when(size(arr) > 0,
              aggregate(arr, lit(0.0), (a, x) => a + x) /
                size(arr).cast("double"))
          case "max" => array_max(arr)
          case "min" => array_min(arr)
        }
      case parenIdx(inner) => compilePath(inner.trim + "[0]")
      case p => compilePath(p)
    }
  }

  /** claims.claims[WHERE id = Property:N]([0])?(.value....)? */
  private[query] def compilePath(path: String): Column = {
    val pathRe =
      ("(?is)^claims\\.claims\\s*\\[\\s*WHERE\\s+id\\s*=\\s*" +
        "([a-zA-Z]+):([0-9]+)\\s*\\]" +
        "(\\[0\\])?" +
        "((?:\\.[a-zA-Z_][a-zA-Z0-9_]*)*)" +
        "(\\[0\\])?$").r
    path match {
      case pathRe(tb, pid, idx0, fields, idx1) =>
        val filtered = Paths.claimsWhere(col("claims_arr"), pid.toLong, tb)
        val fieldList = Option(fields).getOrElse("")
          .split("\\.").toList.filter(_.nonEmpty)
        def project(elem: Column): Column =
          fieldList.foldLeft(elem)((c, f) => c.getField(f))
        (Option(idx0), Option(idx1)) match {
          case (Some(_), _) => // [0] BEFORE fields: first claim, then descend
            project(try_element_at(filtered, lit(1)))
          case (None, Some(_)) => // fields over array, then [0]
            try_element_at(transform(filtered, project(_)), lit(1))
          case (None, None) if fieldList.isEmpty => filtered
          case (None, None) =>
            transform(filtered, project(_))
        }
      case _ => throw new IllegalArgumentException(s"cannot parse path: $path")
    }
  }

  /** WHERE application. Subselect membership — `f IN (SELECT ...)`,
    * `f INSIDE (...)`, `f NOT IN (...)` (extension beyond the
    * documented reference surface; SurrealQL's own operator is
    * INSIDE) — compiles to a left-semi/anti join against the
    * subquery's first column: set membership stays distributed, no
    * value list ever collects to the driver. Subselect conjuncts join
    * at the top-level AND chain; any other condition (including
    * everything under an OR) compiles to a predicate Column via
    * [[compileCond]] as before. */
  private def applyWhere(base: DataFrame, cond0: String, t: WikiTables,
                         vars: Map[String, DataFrame]): DataFrame = {
    val inRe = ("(?is)^([a-zA-Z_][a-zA-Z0-9_]*)\\s+(NOT\\s+)?" +
      "(?:IN|INSIDE)\\s*\\((.+)\\)$").r
    // a fully-parenthesized condition is the same condition
    var cond = cond0.trim
    while (cond.startsWith("(") && cond.endsWith(")") &&
        balanced(cond.substring(1, cond.length - 1)))
      cond = cond.substring(1, cond.length - 1).trim
    val ors = splitTopWord(cond, "OR")
    if (ors.length > 1) {
      // subselects rewrite to joins, which have no disjunctive form
      // here — fail with the real reason, not a generic parse error
      val inDisjunct = ors.exists(o =>
        splitTopWord(o, "AND").exists(c => inRe.findFirstIn(c.trim).isDefined))
      if (inDisjunct) throw new IllegalArgumentException(
        "IN/INSIDE subselects are supported in top-level AND chains, not under OR")
      base.filter(compileCond(cond))
    } else splitTopWord(cond, "AND").map(_.trim).foldLeft(base) { (df, c) =>
      c match {
        case inRe(field, not, sub) if balanced(sub) =>
          val subDf = evalExpr(sub.trim, t, vars)
          val key = subDf.columns.filterNot(_ == "_claims_src_tb").head
          df.join(subDf.select(col(key).as("_in_key")).distinct(),
            df(field) === col("_in_key"),
            if (not != null) "left_anti" else "left_semi")
        case other => df.filter(compileCond(other))
      }
    }
  }

  /** cond := label = "..." | <path> == [] | != [] | cond AND cond */
  /** cond := cond OR cond | cond AND cond | ( cond )
    *        | field =|!= "str" | path ==|!= [] | path cmp number
    * — OR binds loosest, AND next, parens group (the split helpers
    * are quote- and paren-aware, so labels containing AND/OR and
    * bracketed paths never confuse precedence). */
  private[query] def compileCond(cond: String): Column = {
    val ors = splitTopWord(cond, "OR")
    if (ors.length > 1) return ors.map(c => compileCond(c.trim)).reduce(_ || _)
    val ands = splitTopWord(cond, "AND")
    if (ands.length > 1) return ands.map(c => compileCond(c.trim)).reduce(_ && _)
    val c = cond.trim
    if (c.startsWith("(") && c.endsWith(")") &&
        balanced(c.substring(1, c.length - 1)))
      return compileCond(c.substring(1, c.length - 1))
    val eqStrRe = "(?is)^([a-zA-Z_][a-zA-Z0-9_]*)\\s*(=|!=)\\s*\"(.*)\"$".r
    val emptyRe = "(?is)^(.+?)\\s*(==|!=)\\s*\\[\\]$".r
    val numRe = "(?is)^(.+?)\\s*(==|!=|>=|<=|>|<|=)\\s*([0-9]+(?:\\.[0-9]+)?)$".r
    c match {
      case eqStrRe(field, op, value) =>
        if (op == "=") col(field) === lit(value) else col(field) =!= lit(value)
      case emptyRe(path, op) =>
        val arr = compilePath(path.trim)
        if (op == "==") size(arr) === 0 else size(arr) > 0
      case numRe(path, op, num) =>
        val l = compilePath(path.trim); val r = lit(num.toDouble)
        op match {
          case "=" | "==" => l === r
          case "!=" => l =!= r
          case ">=" => l >= r
          case "<=" => l <= r
          case ">" => l > r
          case "<" => l < r
        }
      case other => throw new IllegalArgumentException(
        s"cannot parse condition: $other")
    }
  }

  // ------------------------------------------------------ helpers //

  /** DELETE $var: var rows carry record ids (`id` Thing column) or
    * claims links (`claims` Thing column / bare Thing rows). Entity
    * things delete entity rows; Claims things delete claims rows —
    * keyed (src_tb, id) when the hidden `_claims_src_tb` provenance
    * column survived projection (it does for every documented script
    * shape), falling back to numeric id alone for bare Things whose
    * owner is genuinely unknown (Entity:N / Property:N / Lexeme:N
    * claims would collide there — the reference has the same
    * ambiguity in its single Claims table). */
  private def deleteRecords(t: WikiTables, df: DataFrame): WikiTables = {
    val colName = df.columns.filterNot(_ == "_claims_src_tb").head
    val hasOwner = df.columns.contains("_claims_src_tb")
    val things = (if (hasOwner)
        df.select(col(colName).as("_thing"),
          col("_claims_src_tb").as("_owner_tb"))
      else df.select(col(colName).as("_thing"),
        lit(null).cast("string").as("_owner_tb")))
      .filter(col("_thing").isNotNull)
    val entityIds = things.filter(col("_thing.tb") =!= "Claims")
      .select(col("_thing.tb").as("_d_tb"), col("_thing.id").as("_d_id"))
    val claimsIds = things.filter(col("_thing.tb") === "Claims")
      .select(col("_thing.id").as("_d_id"), col("_owner_tb"))
    val entities = t.entities.join(entityIds,
      t.entities("id.tb") === col("_d_tb") &&
        t.entities("id.id") === col("_d_id"), "left_anti")
    val claims =
      if (hasOwner)
        t.claims.join(claimsIds,
          t.claims("src_tb") === col("_owner_tb") &&
            t.claims("id.id") === col("_d_id"), "left_anti")
      else
        t.claims.join(claimsIds.select(col("_d_id")),
          t.claims("id.id") === col("_d_id"), "left_anti")
    WikiTables(entities, claims)
  }

  private def scalarOf(df: DataFrame): Any = firstRow(df).collect() match {
    case Array(row) if !row.isNullAt(0) => row.get(0)
    case _ => null
  }

  private def literal(s: String): Column =
    if (s.startsWith("\"") && s.endsWith("\"")) lit(s.stripPrefix("\"").stripSuffix("\""))
    else if (s.matches("-?[0-9]+")) lit(s.toLong)
    else if (s.matches("-?[0-9.]+")) lit(s.toDouble)
    else throw new IllegalArgumentException(s"cannot parse literal: $s")

  /** Strip `#` line comments, quote-aware (a `#` inside a string
    * literal is content, not a comment). */
  private def stripComments(s: String): String =
    s.linesIterator.map { l =>
      var quote = false
      var cut = l.length
      var i = 0
      while (i < l.length && cut == l.length) {
        l.charAt(i) match {
          case '"' => quote = !quote
          case '#' if !quote && (i == 0 || l.charAt(i - 1).isWhitespace) =>
            cut = i
          case _ =>
        }
        i += 1
      }
      l.substring(0, cut)
    }.mkString("\n")

  private def balanced(s: String): Boolean =
    s.foldLeft(0) { (d, c) =>
      if (d < 0) d else if (c == '(') d + 1 else if (c == ')') d - 1 else d
    } == 0

  /** Split on `sep` at top level (outside parens/brackets/quotes). */
  private def splitTop(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0; var quote = false
    s.foreach {
      case '"' => quote = !quote; cur += '"'
      case c@('(' | '[') if !quote => depth += 1; cur += c
      case c@(')' | ']') if !quote => depth -= 1; cur += c
      case c if c == sep && depth == 0 && !quote =>
        out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.result()
  }

  /** Index of the first top-level occurrence of `word` bounded by
    * whitespace on both sides — outside parens, brackets and string
    * literals. Used to find the clause keyword a projection-position
    * subselect's own copy must not shadow. */
  private def topLevelKeyword(s: String, word: String): Option[Int] = {
    var depth = 0; var quote = false; var i = 0
    val upper = s.toUpperCase
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => quote = !quote
        case '(' | '[' if !quote => depth += 1
        case ')' | ']' if !quote => depth -= 1
        case _ =>
          if (!quote && depth == 0 && i > 0 &&
              s.charAt(i - 1).isWhitespace && upper.startsWith(word, i) &&
              i + word.length < s.length &&
              s.charAt(i + word.length).isWhitespace)
            return Some(i)
      }
      i += 1
    }
    None
  }

  /** Split on a keyword at top level — outside parens, brackets, AND
    * string literals (a label like "War and Peace" must not split). */
  private def splitTopWord(s: String, word: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var depth = 0; var quote = false; var start = 0; var i = 0
    val upper = s.toUpperCase
    // ANY whitespace delimits the keyword (newline-indented AND/OR in
    // verbatim multi-line scripts, tabs) — matching topLevelKeyword's
    // tolerance; a single-literal-space match silently failed to
    // split and made run() reject the condition (code-review r10)
    def wordAt(j: Int): Boolean =
      j > 0 && s.charAt(j - 1).isWhitespace &&
        upper.startsWith(word, j) &&
        j + word.length < s.length &&
        s.charAt(j + word.length).isWhitespace
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => quote = !quote
        case '(' | '[' if !quote => depth += 1
        case ')' | ']' if !quote => depth -= 1
        case _ =>
          if (!quote && depth == 0 && wordAt(i)) {
            parts += s.substring(start, i - 1)
            start = i + word.length + 1
            i = start - 1
          }
      }
      i += 1
    }
    parts += s.substring(start)
    parts.result()
  }
}
