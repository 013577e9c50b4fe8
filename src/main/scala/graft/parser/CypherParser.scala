package graft.parser

import graft.ast._

/** Hand-rolled lexer + recursive-descent parser for the openCypher subset
  * in graft.ast. The reference free-rides on Neo4j's v9_0 front end
  * (okapi-ir/.../impl/parse/CypherParser.scala:66-78), which is unavailable
  * on Scala 2.13/Spark 4, so the grammar is reimplemented directly.
  */
object CypherParser {
  def parse(query: String): Query = new Parser(Lexer.tokenize(query)).parseQuery()

  /** Any statement: a query, EXPLAIN / PROFILE, CATALOG, SHOW, or index and
    * constraint DDL. */
  def parseStatement(text: String): Statement =
    new Parser(Lexer.tokenize(text)).parseStatement()

  /** Temporal type names that form namespaced function calls
    * (`duration.between(...)`, `datetime.truncate(...)`). */
  private val temporalNamespaces: Set[String] =
    Set("duration", "date", "datetime", "localdatetime", "time", "localtime",
      // spatial namespace (point.distance / point.withinBBox, round 11) —
      // same `ns . member (` lookahead disambiguation.
      "point")

  // ------------------------------------------------------------------ lexer
  sealed trait Tok { def pos: Int }
  case class Ident(s: String, pos: Int) extends Tok      // bare or `quoted`
  case class Kw(s: String, orig: String, pos: Int) extends Tok // upper-cased keyword + original text
  case class NumTok(s: String, pos: Int) extends Tok
  case class StrTok(s: String, pos: Int) extends Tok
  case class Punct(s: String, pos: Int) extends Tok
  case class Eof(pos: Int) extends Tok

  /** Words that the lexer promotes from Ident to Kw (case-insensitive). */
  private val keywords = Set(
    "MATCH", "OPTIONAL", "WHERE", "WITH", "RETURN", "UNWIND", "AS", "UNION",
    "ALL", "DISTINCT", "ORDER", "BY", "SKIP", "LIMIT", "ASC", "ASCENDING",
    "DESC", "DESCENDING", "AND", "OR", "XOR", "NOT", "IN", "IS", "NULL",
    "TRUE", "FALSE", "STARTS", "ENDS", "CONTAINS", "CASE", "WHEN", "THEN",
    "ELSE", "END", "EXISTS", "ANY", "NONE", "SINGLE", "REDUCE", "COUNT",
    "FROM", "GRAPH", "CONSTRUCT", "NEW", "CREATE", "CLONE", "COPY", "OF",
    "USE", "ON", "SET", "CALL", "YIELD",
    "MERGE", "DELETE", "DETACH", "REMOVE", "FOREACH")

  object Lexer {
    private def isHexDigit(c: Char): Boolean =
      c.isDigit || ('a' <= c.toLower && c.toLower <= 'f')

    def tokenize(s: String): Vector[Tok] = {
      val out = Vector.newBuilder[Tok]
      var i = 0
      val n = s.length
      def err(msg: String) = throw new CypherParseException(s"$msg at offset $i in: $s")
      while (i < n) {
        val c = s(i)
        if (c.isWhitespace) i += 1
        else if (c == '/' && i + 1 < n && s(i + 1) == '/') {
          while (i < n && s(i) != '\n') i += 1
        } else if (c == '/' && i + 1 < n && s(i + 1) == '*') {
          i += 2
          while (i + 1 < n && !(s(i) == '*' && s(i + 1) == '/')) i += 1
          i += 2
        } else if (c == '0' && i + 1 < n && (s(i + 1) == 'x' || s(i + 1) == 'X')
            && i + 2 < n && isHexDigit(s(i + 2))) {
          // hex integer literal (openCypher: 0x13af, 0xFC3A9, -0x66eff)
          val st = i
          i += 2
          while (i < n && isHexDigit(s(i))) i += 1
          out += NumTok(s.substring(st, i), st)
        } else if (c == '0' && i + 1 < n && (s(i + 1) == 'o' || s(i + 1) == 'O')
            && i + 2 < n && s(i + 2) >= '0' && s(i + 2) <= '7') {
          // octal integer literal (openCypher: 0o1372, -0o5671)
          val st = i
          i += 2
          while (i < n && s(i) >= '0' && s(i) <= '7') i += 1
          out += NumTok(s.substring(st, i), st)
        } else if (c.isDigit || (c == '.' && i + 1 < n && s(i + 1).isDigit)) {
          val st = i
          while (i < n && s(i).isDigit) i += 1
          // '..' is the range operator, not a decimal point
          if (i + 1 < n && s(i) == '.' && s(i + 1).isDigit) {
            i += 1
            while (i < n && s(i).isDigit) i += 1
          }
          if (i < n && (s(i) == 'e' || s(i) == 'E')) {
            i += 1
            if (i < n && (s(i) == '+' || s(i) == '-')) i += 1
            while (i < n && s(i).isDigit) i += 1
          }
          out += NumTok(s.substring(st, i), st)
        } else if (c.isLetter || c == '_') {
          val st = i
          while (i < n && (s(i).isLetterOrDigit || s(i) == '_')) i += 1
          val word = s.substring(st, i)
          if (keywords.contains(word.toUpperCase)) out += Kw(word.toUpperCase, word, st)
          else out += Ident(word, st)
        } else if (c == '`') {
          val st = i
          i += 1
          val sb = new StringBuilder
          while (i < n && s(i) != '`') { sb += s(i); i += 1 }
          if (i >= n) err("unterminated backtick identifier")
          i += 1
          out += Ident(sb.toString, st)
        } else if (c == '\'' || c == '"') {
          val st = i
          val quote = c
          i += 1
          val sb = new StringBuilder
          while (i < n && s(i) != quote) {
            if (s(i) == '\\' && i + 1 < n) {
              i += 1
              sb += (s(i) match {
                case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
                case 'b' => '\b'; case 'f' => '\f'
                case '\\' => '\\'; case '\'' => '\''; case '"' => '"'
                case 'u' if i + 4 < n => // \uXXXX unicode escape
                  val hex = s.substring(i + 1, i + 5)
                  i += 4
                  Integer.parseInt(hex, 16).toChar
                case other => other
              })
            } else sb += s(i)
            i += 1
          }
          if (i >= n) err("unterminated string literal")
          i += 1
          out += StrTok(sb.toString, st)
        } else {
          val st = i
          val two = if (i + 1 < n) s.substring(i, i + 2) else ""
          val multi = Seq("<=", ">=", "<>", "=~", "->", "<-", "..", "+=", "::", "||")
          if (multi.contains(two)) { out += Punct(two, st); i += 2 }
          else {
            val singles = "()[]{},.:;|+-*/%^=<>$!&"
            if (singles.indexOf(c) >= 0) { out += Punct(c.toString, st); i += 1 }
            else err(s"unexpected character '$c'")
          }
        }
      }
      out += Eof(n)
      out.result()
    }
  }

  class CypherParseException(msg: String,
      detail: String = graft.api.CypherError.InvalidSyntax)
    extends graft.api.CypherException(graft.api.CypherError.SyntaxError,
      graft.api.CypherError.CompileTime, detail, msg)

  // ----------------------------------------------------------------- parser
  private class Parser(toks: Vector[Tok]) {
    private var p = 0
    private def peek: Tok = toks(p)
    private def peek2: Tok = if (p + 1 < toks.length) toks(p + 1) else toks.last
    private def tokAt(i: Int): Tok = if (i < toks.length) toks(i) else toks.last
    private def advance(): Tok = { val t = toks(p); p += 1; t }
    private def fail(msg: String): Nothing =
      throw new CypherParseException(s"$msg near offset ${peek.pos} (token $peek)")

    private def isKw(s: String): Boolean = peek match {
      case Kw(k, _, _) => k == s
      case _ => false
    }
    private def eatKw(s: String): Unit =
      if (isKw(s)) p += 1 else fail(s"expected $s")
    private def tryKw(s: String): Boolean = if (isKw(s)) { p += 1; true } else false

    /** The token at `i` is the upper-case word `w`: an identifier in any
      * case, or the keyword. Unreserved words (statement words, LET,
      * OFFSET, hints, path selectors) are matched this way, in context, so
      * they stay usable as names. */
    private def wordAt(i: Int, w: String): Boolean = tokAt(i) match {
      case Ident(s, _) => s.equalsIgnoreCase(w)
      case Kw(k, _, _) => k == w
      case _ => false
    }
    private def isWord(w: String): Boolean = wordAt(p, w)
    private def tryWord(w: String): Boolean =
      if (isWord(w)) { p += 1; true } else false
    private def eatWord(w: String): Unit =
      if (!tryWord(w)) fail(s"expected $w, got $peek")

    /** After UNION: optional ALL, or the explicit GQL DISTINCT keyword
      * (the default, so it parses to all=false). */
    private def unionAll(): Boolean =
      if (tryKw("ALL")) true else { tryKw("DISTINCT"); false }
    /** SKIP or its Cypher-5 synonym OFFSET (an Ident, not a keyword). */
    private def trySkipWord(): Boolean = tryKw("SKIP") || tryWord("OFFSET")
    private def isPunct(s: String): Boolean = peek match {
      case Punct(x, _) => x == s
      case _ => false
    }
    private def eatPunct(s: String): Unit =
      if (isPunct(s)) p += 1 else fail(s"expected '$s'")
    private def tryPunct(s: String): Boolean = if (isPunct(s)) { p += 1; true } else false

    /** Identifier; keywords that double as function/variable names allowed. */
    private def ident(): String = advance() match {
      case Ident(s, _) => s
      case Kw(_, orig, _) => orig
      case t => fail(s"expected identifier, got $t")
    }

    // ---- statements ----
    def parseStatement(): Statement = {
      val s =
        if (tryWord("EXPLAIN")) Explain(profile = false, statementBody())
        else if (tryWord("PROFILE")) Explain(profile = true, statementBody())
        else statementBody()
      end()
      s
    }

    private val indexKinds =
      Seq("TEXT", "POINT", "RANGE", "LOOKUP", "FULLTEXT", "VECTOR")

    private def statementBody(): Statement = {
      // `CREATE index = (a)` binds a path named index: DDL words only
      // count when no `=` follows them.
      def ddlWordAt(i: Int, w: String) = wordAt(i, w) &&
        (tokAt(i + 1) match { case Punct("=", _) => false; case _ => true })
      val createIndex = isWord("CREATE") && (ddlWordAt(p + 1, "INDEX") ||
        indexKinds.exists(wordAt(p + 1, _)) && ddlWordAt(p + 2, "INDEX"))
      if (tryWord("CATALOG")) parseCatalog()
      else if (tryWord("SHOW")) parseShow()
      else if (createIndex || isWord("DROP") && wordAt(p + 1, "INDEX")) {
        skipStatement(); IndexDdl
      } else if (isWord("CREATE") && ddlWordAt(p + 1, "CONSTRAINT")) {
        skipStatement(); CreateConstraint
      } else if (isWord("DROP") && wordAt(p + 1, "CONSTRAINT")) {
        p += 2
        ident()
        val ifExists = tryWord("IF")
        if (ifExists) eatKw("EXISTS") else skipStatement()
        DropConstraint(ifExists)
      } else queryBody()
    }

    /** Index and constraint DDL bodies are not retained (the statements
      * are no-ops or refusals): skip to the terminator. */
    private def skipStatement(): Unit =
      while (!isPunct(";") && !peek.isInstanceOf[Eof]) p += 1

    private def parseShow(): Statement =
      if (tryWord("PROCEDURES")) ShowProcedures
      else if (tryWord("USER")) {
        eatWord("DEFINED"); eatWord("FUNCTIONS"); ShowFunctions
      } else if (tryWord("FUNCTIONS")) ShowFunctions
      else if (tryWord("CONSTRAINTS") ||
          isWord("ALL") && wordAt(p + 1, "CONSTRAINTS") && { p += 2; true })
        ShowConstraints
      else {
        if (isWord("ALL") || indexKinds.exists(isWord)) p += 1
        eatWord("INDEXES"); ShowIndexes
      }

    /** CATALOG CREATE GRAPH / CREATE VIEW / DROP GRAPH|VIEW (the
      * reference's CatalogDDL surface). Bodies parse here, once. */
    private def parseCatalog(): Statement =
      if (tryWord("DROP")) {
        val view = tryWord("VIEW")
        if (!view) eatKw("GRAPH")
        CatalogDrop(view, ident())
      } else {
        eatKw("CREATE")
        if (tryKw("GRAPH")) CatalogCreateGraph(ident(), bracedQuery())
        else {
          eatWord("VIEW")
          val name = ident()
          val params = Seq.newBuilder[String]
          def param(): Unit = { tryPunct("$"); params += ident() }
          eatPunct("(")
          if (!isPunct(")")) { param(); while (tryPunct(",")) param() }
          eatPunct(")")
          val ps = params.result()
          graphParams = ps.toSet
          CatalogCreateView(name, ps, bracedQuery())
        }
      }

    private def bracedQuery(): Query = {
      eatPunct("{")
      val q = queryBody()
      eatPunct("}")
      q
    }

    /** Parameters of the view body being parsed: the only place a `$p`
      * graph reference is valid. */
    private var graphParams = Set.empty[String]

    // ---- query / clauses ----
    def parseQuery(): Query = {
      val q = queryBody()
      end()
      q
    }

    /** A single trailing statement terminator is tolerated (statements
      * pasted from cypher-shell / Browser end in one); anything after it is
      * still a trailing-token error. */
    private def end(): Unit = {
      tryPunct(";")
      peek match {
        case Eof(_) =>
        case t => fail(s"unexpected trailing token $t")
      }
    }

    private def queryBody(): Query = {
      // Neo4j query preamble `CYPHER [version] [key=value ...]` (e.g.
      // `CYPHER 25 runtime=parallel MATCH …`): version pins and
      // planner/runtime options name Neo4j machinery with no analogue
      // here (Catalyst owns planning) — accepted and DISCARDED so queries
      // copied from Neo4j applications run unmodified. Documented in
      // tck_blacklist.md.
      if (tryWord("CYPHER")) {
        var more = true
        while (more) peek match {
          case NumTok(_, _) => p += 1 // version: 5 / 25 / 2025.06
          case Ident(_, _) if (peek2 match {
            case Punct("=", _) => true
            case _ => false
          }) =>
            p += 2
            peek match {
              case Ident(_, _) | NumTok(_, _) => p += 1
              case t => fail(s"expected a CYPHER option value, got $t")
            }
          case _ => more = false
        }
      }
      // Neo4j 4.x `USING PERIODIC COMMIT [n]` (LOAD CSV batching):
      // accepted and DISCARDED like the other USING hints — the engine
      // has no transaction machinery to batch, and LOAD CSV runs as one
      // distributed scan. Keeps 4.x migration scripts running unmodified.
      if (isWord("USING") && wordAt(p + 1, "PERIODIC")) {
        p += 2
        eatWord("COMMIT")
        peek match { case NumTok(_, _) => p += 1; case _ => () }
      }
      def unionQuery(): Query = {
        val first = parseSingleQuery()
        val rest = Seq.newBuilder[(Boolean, SingleQuery)]
        while (tryKw("UNION")) {
          val all = unionAll()
          rest += ((all, parseSingleQuery()))
        }
        Query(first, rest.result())
      }
      var q = unionQuery()
      // GQL / Cypher-2025 linear composition: `q1 NEXT q2 NEXT …` — each
      // segment's RETURN columns become (exactly) the working table of
      // the following segment. UNION binds tighter than NEXT. Desugared
      // onto WITH (the re-scoping projection NEXT specifies); a UNION
      // first segment plans as an uncorrelated CALL { } whose output
      // rows seed the working table.
      if (isWord("NEXT")) {
        val segs = Seq.newBuilder[Query]
        segs += q
        while (tryWord("NEXT")) segs += unionQuery()
        q = desugarNext(segs.result())
      }
      q
    }

    private def desugarNext(segs: Seq[Query]): Query = {
      val clauses = Seq.newBuilder[Clause]
      segs.zipWithIndex.foreach { case (q, i) =>
        val isLast = i == segs.size - 1
        if (q.rest.nonEmpty) {
          // A UNION segment evaluates whole-table; only the leading
          // position has no incoming working table to thread through the
          // arms, so only it is supported (as an uncorrelated CALL { }).
          if (i != 0) fail(
            "NEXT: a UNION segment is only supported in first position")
          clauses += CallSubquery(q)
        } else if (isLast) {
          clauses ++= q.first.clauses
        } else q.first.clauses.lastOption match {
          case Some(r: Return) =>
            clauses ++= q.first.clauses.init
            clauses += With(r.distinct, r.star, r.items, r.orderBy,
              r.skip, r.limit, None)
          case _ => fail(
            "NEXT: every segment except the last must end in RETURN")
        }
      }
      Query(SingleQuery(clauses.result()), Seq.empty)
    }

    private def parseSingleQuery(): SingleQuery = {
      if (peek.isInstanceOf[Eof])
        fail("empty query")
      val clauses = Seq.newBuilder[Clause]
      var done = false
      while (!done) {
        val update = parseUpdateClause()
        if (update.isDefined) clauses ++= update
        else peek match {
          case Kw("MATCH", _, _) => p += 1; clauses += parseMatch(optional = false)
          case Kw("OPTIONAL", _, _) =>
            p += 1
            if (isKw("CALL")) { p += 1; clauses ++= parseCallClause(optional = true) }
            else { eatKw("MATCH"); clauses += parseMatch(optional = true) }
          case Kw("UNWIND", _, _) =>
            p += 1
            val e = parseExpr()
            eatKw("AS")
            clauses += Unwind(e, ident())
          case Kw("WITH", _, _) => p += 1; clauses += parseWith()
          // ---- GQL / Cypher-2025 standalone clauses, all sugar over
          //      WITH * (LET adds bindings, FILTER a predicate, ORDER BY /
          //      SKIP / OFFSET / LIMIT their modifiers) ----
          case Ident(s, _) if s.equalsIgnoreCase("LET") =>
            p += 1
            // One WITH * per binding: LET items are sequential (a later
            // binding may read an earlier one).
            def one(): Unit = {
              val v = ident(); eatPunct("=")
              clauses += With(distinct = false, star = true,
                Seq(ReturnItem(parseExpr(), Some(v))),
                Seq.empty, None, None, None)
            }
            one()
            while (tryPunct(",")) one()
          case Ident(s, _) if s.equalsIgnoreCase("FILTER") =>
            p += 1
            tryKw("WHERE") // GQL allows both FILTER <pred> and FILTER WHERE <pred>
            clauses += With(distinct = false, star = true, Seq.empty,
              Seq.empty, None, None, Some(parseExpr()))
          case Kw("ORDER", _, _) =>
            val order = parseOrderBy()
            val skip = if (trySkipWord()) Some(parseExpr()) else None
            val limit = if (tryKw("LIMIT")) Some(parseExpr()) else None
            clauses += With(distinct = false, star = true, Seq.empty,
              order, skip, limit, None)
          case Kw("SKIP", _, _) =>
            p += 1
            clauses += With(distinct = false, star = true, Seq.empty,
              Seq.empty, Some(parseExpr()), None, None)
          case Ident(s, _) if s.equalsIgnoreCase("OFFSET") =>
            p += 1
            clauses += With(distinct = false, star = true, Seq.empty,
              Seq.empty, Some(parseExpr()), None, None)
          case Kw("LIMIT", _, _) =>
            p += 1
            clauses += With(distinct = false, star = true, Seq.empty,
              Seq.empty, None, Some(parseExpr()), None)
          case Kw("FROM", _, _) =>
            p += 1; eatKw("GRAPH"); clauses += FromGraph(parseGraphRef())
          case Kw("USE", _, _) => p += 1; clauses += FromGraph(parseGraphRef())
          case Kw("CALL", _, _) =>
            p += 1; clauses ++= parseCallClause(optional = false)
          case Kw("CONSTRUCT", _, _) =>
            p += 1
            val on = Seq.newBuilder[GraphRef]
            if (tryKw("ON")) {
              on += parseGraphRef()
              while (tryPunct(",")) on += parseGraphRef()
            }
            val parts = Seq.newBuilder[PatternPart]
            val sets = Seq.newBuilder[SetItem]
            val clones = Seq.newBuilder[(String, String)]
            var more = true
            while (more) {
              // NEW is the original okapi keyword; later Morpheus uses CREATE.
              if (tryKw("NEW") || tryKw("CREATE")) {
                parts += parsePatternPart()
                while (tryPunct(",")) parts += parsePatternPart()
              } else if (tryKw("SET")) {
                def setItem(): Unit = {
                  val v = ident()
                  if (tryPunct(".")) {
                    val k = ident()
                    eatPunct("=")
                    sets += SetProp(v, k, parseExpr())
                  } else {
                    val ls = Seq.newBuilder[String]
                    while (tryPunct(":")) ls += ident()
                    sets += SetLabel(v, ls.result())
                  }
                }
                setItem()
                while (tryPunct(",")) setItem()
              } else if (tryKw("CLONE")) {
                def cloneItem(): Unit = {
                  val src = ident()
                  val alias = if (tryKw("AS")) ident() else src
                  clones += ((src, alias))
                }
                cloneItem()
                while (tryPunct(",")) cloneItem()
              } else more = false
            }
            if (tryKw("RETURN")) eatKw("GRAPH")
            clauses += Construct(on.result(), parts.result(), sets.result(),
              clones.result())
            done = true
          case Kw("RETURN", _, _) =>
            // CONSTRUCT consumes its own RETURN GRAPH tail; a bare
            // RETURN GRAPH here returns the working graph (the
            // reference's ReturnGraph operator without a CONSTRUCT).
            p += 1
            if (isKw("GRAPH")) { p += 1; clauses += ReturnGraph }
            else clauses += parseReturn()
            done = true
          case Ident(s, _) if s.equalsIgnoreCase("FINISH") =>
            p += 1; clauses += Finish; done = true
          // LOAD CSV [WITH HEADERS] FROM url AS var [FIELDTERMINATOR s]
          case Ident(s, _) if s.equalsIgnoreCase("LOAD") && wordAt(p + 1, "CSV") =>
            p += 2
            val headers = tryKw("WITH") && { eatWord("HEADERS"); true }
            eatKw("FROM")
            val url = parseExpr()
            eatKw("AS")
            val alias = ident()
            val sep = if (!tryWord("FIELDTERMINATOR")) None
              else advance() match {
                case StrTok(t, _) => Some(t)
                case t => fail(s"expected a string FIELDTERMINATOR, got $t")
              }
            clauses += LoadCsv(headers, url, alias, sep)
          case _ => done = true
        }
      }
      SingleQuery(clauses.result())
    }

    /** SET items of a write clause: `v.k = e`, `v:L1:L2`, `v = map`,
      * `v += map`. */
    private def parseSetItems(): Seq[SetItem] = {
      val items = Seq.newBuilder[SetItem]
      def item(): Unit = {
        val v = ident()
        if (tryPunct(".")) {
          val k = ident()
          eatPunct("=")
          items += SetProp(v, k, parseExpr())
        } else if (tryPunct("[")) {
          // dynamic property: SET n[keyExpr] = value (Neo4j 5.24)
          val k = parseExpr()
          eatPunct("]")
          eatPunct("=")
          items += SetDynProp(v, k, parseExpr())
        } else if (tryPunct("+=")) {
          items += SetAllProps(v, parseExpr(), additive = true)
        } else if (tryPunct("=")) {
          items += SetAllProps(v, parseExpr(), additive = false)
        } else {
          val statics = Seq.newBuilder[String]
          val dyns = Seq.newBuilder[Expr]
          var any = false
          while (tryPunct(":")) {
            any = true
            // dynamic label: SET n:$(expr) (Neo4j 5.24)
            if (tryPunct("$")) { eatPunct("("); dyns += parseExpr(); eatPunct(")") }
            else statics += ident()
          }
          if (!any) fail("expected '.prop', '[key]', ':Label', '=' or '+=' in SET")
          val l = statics.result()
          if (l.nonEmpty) items += SetLabel(v, l)
          val d = dyns.result()
          if (d.nonEmpty) items += SetDynLabel(v, d)
        }
      }
      item()
      while (tryPunct(",")) item()
      items.result()
    }

    /** An update clause (CREATE/INSERT, MERGE, SET, REMOVE, DELETE in its
      * three forms, FOREACH), or None with nothing consumed. One parser for
      * a query's clause list and a FOREACH body. */
    private def parseUpdateClause(): Option[Clause] = {
      def parts(): Pattern = {
        val ps = Seq.newBuilder[PatternPart]
        ps += parsePatternPart()
        while (tryPunct(",")) ps += parsePatternPart()
        Pattern(ps.result())
      }
      Some(peek match {
        case Kw("CREATE", _, _) => p += 1; Create(parts())
        // INSERT: the GQL-conformant CREATE synonym (Neo4j 5.18).
        case Ident(s, _) if s.equalsIgnoreCase("INSERT") &&
            (peek2 match {
              case Punct("(", _) => true
              case _ => false
            }) =>
          p += 1; Create(parts())
        case Kw("MERGE", _, _) =>
          p += 1
          val part = parsePatternPart()
          val onCreate = Seq.newBuilder[SetItem]
          val onMatch = Seq.newBuilder[SetItem]
          while (isKw("ON")) {
            p += 1
            if (tryKw("CREATE")) { eatKw("SET"); onCreate ++= parseSetItems() }
            else if (tryKw("MATCH")) { eatKw("SET"); onMatch ++= parseSetItems() }
            else fail("expected CREATE or MATCH after ON")
          }
          Merge(part, onCreate.result(), onMatch.result())
        case Kw("SET", _, _) => p += 1; SetClause(parseSetItems())
        case Kw("REMOVE", _, _) => p += 1; parseRemove()
        case Kw("FOREACH", _, _) => p += 1; parseForeach()
        case Kw("DELETE", _, _) => p += 1; parseDelete(detach = false)
        case Kw("DETACH", _, _) =>
          p += 1; eatKw("DELETE"); parseDelete(detach = true)
        // NODETACH DELETE: the explicit non-detaching form (Neo4j 5).
        case Ident(s, _) if s.equalsIgnoreCase("NODETACH") &&
            wordAt(p + 1, "DELETE") =>
          p += 2; parseDelete(detach = false)
        case _ => return None
      })
    }

    private def parseRemove(): Remove = {
      val items = Seq.newBuilder[RemoveItem]
      def removeItem(): Unit = {
        val v = ident()
        if (tryPunct(".")) items += RemoveProp(v, ident())
        else if (tryPunct("[")) {
          // dynamic property: REMOVE n[keyExpr] (Neo4j 5.24)
          val k = parseExpr()
          eatPunct("]")
          items += RemoveDynProp(v, k)
        } else {
          val statics = Seq.newBuilder[String]
          val dyns = Seq.newBuilder[Expr]
          var any = false
          while (tryPunct(":")) {
            any = true
            if (tryPunct("$")) {
              eatPunct("("); dyns += parseExpr(); eatPunct(")")
            } else statics += ident()
          }
          if (!any) fail("expected .prop, [key] or :Label in REMOVE")
          val l = statics.result()
          if (l.nonEmpty) items += RemoveLabel(v, l)
          val d = dyns.result()
          if (d.nonEmpty) items += RemoveDynLabel(v, d)
        }
      }
      removeItem()
      while (tryPunct(",")) removeItem()
      Remove(items.result())
    }

    /** FOREACH ( x IN list | update-clauses ): the unit subquery
      * `CALL (*) { UNWIND list AS x update-clauses }`. */
    private def parseForeach(): CallSubquery = {
      eatPunct("(")
      val v = ident()
      eatKw("IN")
      val list = guardLabelOr(parseExpr())
      eatPunct("|")
      val body = Iterator.continually(parseUpdateClause())
        .takeWhile(_.isDefined).flatten.toSeq
      eatPunct(")")
      if (body.isEmpty) fail("FOREACH requires at least one update clause")
      CallSubquery(Query(SingleQuery(
        With(distinct = false, star = true, Seq.empty, Seq.empty, None, None, None) +:
          Unwind(list, v) +: body), Seq.empty))
    }

    private def parseDelete(detach: Boolean): Delete = {
      val es = Seq.newBuilder[Expr]
      es += parseExpr()
      while (tryPunct(",")) es += parseExpr()
      Delete(es.result(), detach)
    }

    // Inline pattern predicates (Cypher 5 `(n:A WHERE pred)` /
    // `-[r:T WHERE pred]->`): collected per pattern CONTEXT (MATCH, QPP
    // group, comprehension, EXISTS/COUNT/COLLECT subquery, pattern
    // predicate) and conjoined into that context's WHERE — never hoisted
    // past a scope that binds local variables.
    private var inlineWheres: List[scala.collection.mutable.ListBuffer[Expr]] =
      Nil
    private def addInlineWhere(e: Expr): Unit = inlineWheres match {
      case top :: _ => top += e
      case Nil => fail(
        "inline WHERE is not supported in this pattern position")
    }
    private def withInlineFrame[T](body: => T): (T, Seq[Expr]) = {
      val frame = scala.collection.mutable.ListBuffer.empty[Expr]
      inlineWheres = frame :: inlineWheres
      try { (body, frame.toList) }
      finally { inlineWheres = inlineWheres.tail }
    }
    private def conj(inline: Seq[Expr], where: Option[Expr]): Option[Expr] =
      inline ++ where.toSeq match {
        case Seq() => None
        case Seq(one) => Some(one)
        case many => Some(Ands(many))
      }

    private def parseMatch(optional: Boolean): Match = {
      val (pattern, inline) = withInlineFrame(parsePattern())
      // Neo4j planner hints between the pattern and WHERE: validated
      // syntactically, then DISCARDED — there is no index machinery to
      // hint and Catalyst owns join order (tck_blacklist.md). Grammar:
      //   USING [RANGE|TEXT|POINT] INDEX [SEEK] v:Label(prop[, prop…])
      //   USING SCAN v:Label
      //   USING JOIN ON v[, v…]
      while (tryWord("USING")) {
        tryWord("RANGE") || tryWord("TEXT") || tryWord("POINT")
        if (tryWord("INDEX")) {
          tryWord("SEEK")
          ident(); eatPunct(":"); ident()
          eatPunct("(")
          ident()
          while (tryPunct(",")) ident()
          eatPunct(")")
        } else if (tryWord("SCAN")) {
          ident(); eatPunct(":"); ident()
        } else if (tryWord("JOIN")) {
          eatWord("ON")
          ident()
          while (tryPunct(",")) ident()
        } else fail(s"expected INDEX, SCAN or JOIN after USING, got $peek")
      }
      val where = if (tryKw("WHERE")) Some(parseExpr()) else None
      Match(optional, pattern, conj(inline, where))
    }

    private def parseWith(): With = {
      val distinct = tryKw("DISTINCT")
      val (star, items) = parseReturnItems()
      // openCypher: every WITH item that is not a bare variable must be
      // aliased (TCK SyntaxError/NoExpressionAlias) — unlike RETURN, where
      // the expression text becomes the column name.
      items.find(i => i.alias.isEmpty && !i.expr.isInstanceOf[Var])
        .foreach { i =>
          throw new CypherParseException(
            s"expression in WITH must be aliased (use AS): ${i.expr}",
            graft.api.CypherError.NoExpressionAlias)
        }
      val order = parseOrderBy()
      val skip = if (trySkipWord()) Some(parseExpr()) else None
      val limit = if (tryKw("LIMIT")) Some(parseExpr()) else None
      val where = if (tryKw("WHERE")) Some(parseExpr()) else None
      With(distinct, star, items, order, skip, limit, where)
    }

    /** Graph reference: a possibly-qualified name (ns.graph, backticked
      * segments allowed), a view invocation name(ref, ...), or a view
      * parameter `$p` inside a view body. */
    private def parseGraphRef(): GraphRef =
      if (tryPunct("$")) {
        val n = ident()
        if (!graphParams(n)) fail(s"graph parameter $$$n outside a " +
          "CATALOG CREATE VIEW body that declares it")
        GraphParam(n)
      } else {
        val parts = Seq.newBuilder[String]
        parts += ident()
        while (tryPunct(".")) parts += ident()
        if (tryPunct("(")) {
          val args = Seq.newBuilder[GraphRef]
          if (!isPunct(")")) {
            args += parseGraphRef()
            while (tryPunct(",")) args += parseGraphRef()
          }
          eatPunct(")")
          ViewCall(parts.result().mkString("."), args.result())
        } else GraphName(parts.result())
      }

    private def parseReturn(): Return = {
      val distinct = tryKw("DISTINCT")
      val (star, items) = parseReturnItems()
      val order = parseOrderBy()
      val skip = if (trySkipWord()) Some(parseExpr()) else None
      val limit = if (tryKw("LIMIT")) Some(parseExpr()) else None
      Return(distinct, star, items, order, skip, limit)
    }

    private def parseReturnItems(): (Boolean, Seq[ReturnItem]) = {
      var star = false
      val items = Seq.newBuilder[ReturnItem]
      def item(): Unit = {
        if (isPunct("*")) { p += 1; star = true }
        else {
          val e = parseExpr()
          val alias = if (tryKw("AS")) Some(ident()) else None
          items += ReturnItem(e, alias)
        }
      }
      item()
      while (tryPunct(",")) item()
      (star, items.result())
    }

    private def parseOrderBy(): Seq[SortItem] = {
      if (!tryKw("ORDER")) return Seq.empty
      eatKw("BY")
      val items = Seq.newBuilder[SortItem]
      def one(): Unit = {
        val e = parseExpr()
        val asc =
          if (tryKw("DESC") || tryKw("DESCENDING")) false
          else { tryKw("ASC"); tryKw("ASCENDING"); true }
        items += SortItem(e, asc)
      }
      one()
      while (tryPunct(",")) one()
      items.result()
    }

    // ---- patterns ----
    private def parsePattern(): Pattern = {
      val parts = Seq.newBuilder[PatternPart]
      parts += parsePatternPart()
      while (tryPunct(",")) parts += parsePatternPart()
      Pattern(parts.result())
    }

    private def parsePatternPart(): PatternPart = {
      // optional `p = (a)-[..]->(b)` path binding
      val pathVar = peek match {
        case Ident(name, _) if peek2 == Punct("=", peek2.pos) =>
          p += 2; Some(name)
        case _ => None
      }
      // Cypher-5 / GQL keyword path selector (after any `p =` binding):
      //   ANY [SHORTEST | k] | ALL SHORTEST | SHORTEST k [GROUP|GROUPS] | ALL
      // each with an optional PATH/PATHS noise word. Bare ALL is the default
      // semantics and parses to no selector.
      def selInt(): Option[Int] = peek match {
        case NumTok(s, _) if s.nonEmpty && s.forall(_.isDigit) =>
          p += 1; Some(s.toInt)
        case _ => None
      }
      def pathNoise(): Unit = tryWord("PATH") || tryWord("PATHS")
      def groupsWord(): Boolean = tryWord("GROUP") || tryWord("GROUPS")
      val kwSel: Option[PathSelector] =
        if (tryWord("ANY")) {
          if (tryWord("SHORTEST")) { pathNoise(); Some(PathSelector("shortest")) }
          else selInt() match {
            case Some(k) if k < 1 => fail("path-selector count must be >= 1")
            case Some(k) if k >= 2 => pathNoise(); Some(PathSelector("shortestk", k))
            case _ => pathNoise(); Some(PathSelector("shortest"))
          }
        } else if (tryWord("SHORTEST")) {
          val k = selInt().getOrElse(
            fail("SHORTEST path selector needs a count (SHORTEST k [GROUPS])"))
          if (k < 1) fail("path-selector count must be >= 1")
          val grouped = groupsWord() || { pathNoise(); groupsWord() }
          if (grouped)
            Some(if (k == 1) PathSelector("allshortest")
                 else PathSelector("shortestgroups", k))
          else
            Some(if (k == 1) PathSelector("shortest")
                 else PathSelector("shortestk", k))
        } else if (isWord("ALL") && Seq("SHORTEST", "PATH", "PATHS")
            .exists(wordAt(p + 1, _))) {
          p += 1
          if (tryWord("SHORTEST")) { pathNoise(); Some(PathSelector("allshortest")) }
          else { pathNoise(); None } // ALL PATHS = default semantics
        } else None
      // legacy shortestPath(...) / allShortestPaths(...) function wrapper
      val fnSel: Option[PathSelector] =
        if (kwSel.isDefined) None
        else peek match {
          case Ident(name, _)
              if (name.equalsIgnoreCase("shortestPath") ||
                name.equalsIgnoreCase("allShortestPaths")) &&
                peek2 == Punct("(", peek2.pos) =>
            p += 2
            Some(if (name.equalsIgnoreCase("shortestPath")) PathSelector("shortest")
                 else PathSelector("allshortest"))
          case _ => None
        }
      val shortest = kwSel.orElse(fnSel)
      // A leading `((` is a QPP group with no juxtaposed outer node
      // (GQL abbreviated form): synthesize an anonymous head — the group's
      // per-iteration source unification constrains it.
      def anon = NodePattern(None, Seq.empty, Seq.empty, None, None)
      val head =
        if (isPunct("(") && peek2 == Punct("(", peek2.pos)) anon
        else parseNodePattern()
      val tail = Seq.newBuilder[(RelPattern, NodePattern)]
      while (isPunct("-") || isPunct("<-") || isPunct("(")) {
        // `(` mid-chain starts a quantified path pattern group:
        // ((x)-[r:T]->(y) [WHERE pred]){m,n} | ...+ | ...*
        val isGroup = isPunct("(")
        val rel = if (isGroup) parseQppGroup() else parseRelPattern()
        // after a group the juxtaposed node may be elided (trailing form)
        val node =
          if (isGroup && !isPunct("(")) anon
          else parseNodePattern()
        tail += ((rel, node))
      }
      if (fnSel.isDefined) eatPunct(")")
      PatternPart(head, tail.result(), pathVar, shortest)
    }

    private def parseNodePattern(): NodePattern = {
      eatPunct("(")
      val variable = peek match {
        case Ident(name, _) => p += 1; Some(name)
        case _ => None
      }
      // (f COPY OF a): new element copying a's labels and properties.
      val copyOf =
        if (tryKw("COPY")) { eatKw("OF"); Some(ident()) } else None
      // Label expression (Cypher 5): ':' starts one; legacy ':A:B' chains
      // parse as conjunction. Precedence ! > & > |.
      var labelTree: Option[LabelExpr] = None
      while (tryPunct(":")) {
        val e = parseLabelOr()
        labelTree = Some(labelTree.map(LabelAnd(_, e)).getOrElse(e))
      }
      // A pure conjunction keeps the legacy labels-list fast path.
      def conjAtoms(e: LabelExpr): Option[Seq[String]] = e match {
        case LabelAtom(n) => Some(Seq(n))
        case LabelAnd(a, b) =>
          for (x <- conjAtoms(a); y <- conjAtoms(b)) yield x ++ y
        case _ => None
      }
      val (labels, labelExpr) = labelTree match {
        case None => (Seq.empty[String], None)
        case Some(t) => conjAtoms(t) match {
          case Some(atoms) => (atoms, None)
          case None => (Seq.empty[String], Some(t))
        }
      }
      val props = if (isPunct("{")) parsePropMap() else Seq.empty
      if (tryKw("WHERE")) addInlineWhere(parseExpr())
      eatPunct(")")
      NodePattern(variable, labels, props, copyOf, labelExpr)
    }

    private def parseLabelOr(): LabelExpr = {
      var e = parseLabelAnd()
      while (tryPunct("|")) e = LabelOr(e, parseLabelAnd())
      e
    }
    private def parseLabelAnd(): LabelExpr = {
      var e = parseLabelTerm()
      while (tryPunct("&")) e = LabelAnd(e, parseLabelTerm())
      e
    }
    private def parseLabelTerm(): LabelExpr =
      if (tryPunct("!")) LabelNot(parseLabelTerm())
      else if (tryPunct("%")) LabelWildcard
      else if (tryPunct("$")) {
        // Dynamic label `:$(expr)` (Neo4j 5.26/2025): resolved at runtime
        // as a row filter, so scan pruning stays optimistic.
        eatPunct("(")
        val e = parseExpr()
        eatPunct(")")
        LabelDynamic(e)
      } else if (tryPunct("(")) {
        val e = parseLabelOr(); eatPunct(")"); e
      } else LabelAtom(ident())

    /** Reduce a flat relationship type expression — (negated, type)
      * alternatives joined uniformly by `sep` — to the planner's
      * (types, complemented) pair, exploiting that a relationship carries
      * exactly ONE type:
      *   | union:        no negations -> the positive set;
      *                   two distinct negations (!A|!B) -> every type;
      *                   A|!A -> every type;
      *                   otherwise (P...|!N) -> everything except N.
      *   & intersection: all negated (!A&!B) -> complement of the set;
      *                   two distinct positives (A&B) -> no type;
      *                   A&!A -> no type; A&!B -> just A.
      * (Seq.empty, false) encodes "every type"; (Seq(NoneType), false)
      * encodes "no type" (NoneType matches no relationship table). */
    private def reduceRelTypeAlts(alts: Seq[(Boolean, String)],
        sep: String): (Seq[String], Boolean) = {
      val pos = alts.collect { case (false, t) => t }.distinct
      val neg = alts.collect { case (true, t) => t }.distinct
      if (sep == "&" && alts.size > 1) {
        if (pos.size > 1) (Seq(RelPattern.NoneType), false)
        else if (pos.size == 1)
          if (neg.contains(pos.head)) (Seq(RelPattern.NoneType), false)
          else (pos, false)
        else (neg, true)
      } else {
        if (neg.isEmpty) (pos, false)
        else if (neg.size >= 2) (Seq.empty, false)
        else if (pos.contains(neg.head)) (Seq.empty, false)
        else (Seq(neg.head), true)
      }
    }

    private def parseRelPattern(): RelPattern = {
      // -[r:T*1..2 {p:v}]->  |  <-[...]–  |  -[...]-  |  -->  |  <--  |  --
      val leftArrow = tryPunct("<-")
      if (!leftArrow) eatPunct("-")
      var variable: Option[String] = None
      var types = Seq.empty[String]
      var typesNegated = false
      var dynType: Option[(Boolean, Expr)] = None
      var props = Seq.empty[(String, Expr)]
      var varLength: Option[(Int, Option[Int])] = None
      if (tryPunct("[")) {
        peek match {
          case Ident(name, _) => p += 1; variable = Some(name)
          case _ =>
        }
        if (tryPunct(":")) {
          // Dynamic type `:$(expr)` / `:!$(expr)` (Neo4j 5.26/2025) —
          // runtime-resolved, so it cannot participate in the static
          // type-expression reduction below; mixing it with | / &
          // alternatives is rejected.
          val dynNeg = (peek, peek2) match {
            case (Punct("!", _), Punct("$", _)) => true
            case _ => false
          }
          val isDyn = isPunct("$") || dynNeg
          if (isDyn) {
            if (dynNeg) p += 1
            eatPunct("$"); eatPunct("(")
            val e = parseExpr()
            eatPunct(")")
            if (isPunct("|") || isPunct("&")) fail(
              "a dynamic relationship type cannot be combined with | or &")
            dynType = Some((dynNeg, e))
          } else {
          // Cypher-5 relationship type expression, flat form: alternatives
          // joined by | (union) or & (intersection), each optionally
          // negated. Negation is tracked PER ALTERNATIVE and the whole
          // expression reduces to the planner's (types, negated) pair —
          // a relationship carries exactly one type, so every flat form
          // collapses to a positive set, a complemented set, all types,
          // or no type (see reduceRelTypeAlts).
          // `%` is the any-type wildcard (Cypher 5); it reduces before the
          // general (types, complemented) collapse: in a union a positive
          // `%` makes the whole expression every-type and a `!%` never
          // matches; in an intersection a `!%` makes it no-type and a
          // positive `%` is the identity.
          def alt(): (Boolean, String) =
            (tryPunct("!"), if (tryPunct("%")) "%" else ident())
          val alts = Seq.newBuilder[(Boolean, String)]
          alts += alt()
          var sep: Option[String] = None
          while (isPunct("|") || isPunct("&")) {
            val s = if (isPunct("|")) "|" else "&"
            if (sep.exists(_ != s)) fail(
              "mixing | and & in a relationship type expression needs parentheses")
            sep = Some(s)
            p += 1
            tryPunct(":") // legacy alternative form :A|:B
            alts += alt()
          }
          val raw = alts.result()
          val s0 = sep.getOrElse("|")
          val (ts, neg) =
            if (s0 == "|") {
              val kept = raw.filterNot(_ == ((true, "%")))
              if (kept.exists(_ == ((false, "%")))) (Seq.empty[String], false)
              else if (kept.isEmpty) (Seq(RelPattern.NoneType), false)
              else reduceRelTypeAlts(kept, s0)
            } else {
              if (raw.exists(_ == ((true, "%")))) (Seq(RelPattern.NoneType), false)
              else {
                val kept = raw.filterNot(_ == ((false, "%")))
                if (kept.isEmpty) (Seq.empty[String], false)
                else reduceRelTypeAlts(kept, s0)
              }
            }
          types = ts
          typesNegated = neg
          }
        }
        if (tryPunct("*")) {
          val loOpt = peek match {
            case NumTok(v, _) => p += 1; Some(v.toInt)
            case _ => None
          }
          val lo = loOpt.getOrElse(1)
          val hi =
            if (tryPunct("..")) peek match {
              case NumTok(v, _) => p += 1; Some(v.toInt)
              case _ => None // `*1..` unbounded above
            }
            else loOpt // `*2` = exactly 2; bare `*` = 1..unbounded
          varLength = Some((lo, hi))
        }
        if (isPunct("{")) props = parsePropMap()
        if (tryKw("WHERE")) addInlineWhere(parseExpr())
        eatPunct("]")
      }
      val rightArrow = tryPunct("->")
      if (!rightArrow && !leftArrow) eatPunct("-")
      else if (!rightArrow && leftArrow) eatPunct("-")
      val dir =
        if (rightArrow && !leftArrow) OUT
        else if (leftArrow && !rightArrow) INBOUND
        else BOTH
      // GQL shorthand quantifiers: -[r:T]->+ is *1.., -[r:T]->* is *0..
      // (only in quantifier position — directly after the arrow, before
      // the next node pattern — so expression `+` can never collide).
      if (varLength.isEmpty && isPunct("+")) { p += 1; varLength = Some((1, None)) }
      else if (varLength.isEmpty && isPunct("*")) { p += 1; varLength = Some((0, None)) }
      // Quantified-relationship shorthand (Cypher 5 QPP abbreviation):
      // -[:R]->{m,n} is (()-[:R]->()){m,n}. Unambiguous here — after a
      // completed arrow only a node pattern `(` may otherwise follow.
      else if (varLength.isEmpty && isPunct("{")) varLength = Some(parseQuantifier())
      RelPattern(variable, types, props, dir, varLength,
        typesNegated = typesNegated, dynType = dynType)
    }

    /** ((x)-[r:T]->(y) [WHERE pred]) followed by a quantifier. The group
      * is represented as a RelPattern whose varLength holds the
      * quantifier and whose qpp holds the inner shape; the planner
      * expands it over the restricted edge set the inner pattern
      * defines. Group direction comes from the INNER arrow. */
    private def parseQppGroup(): RelPattern = {
      eatPunct("(")
      def branch(): QppSpec = {
        val ((src, rel, dst), inline) = withInlineFrame(
          (parseNodePattern(), parseRelPattern(), parseNodePattern()))
        val where = conj(inline,
          if (tryKw("WHERE")) Some(parseExpr()) else None)
        QppSpec(src, rel, dst, where)
      }
      // Pattern union inside the group (GQL/Cypher-2025): each repetition
      // may take any `|` branch — the step relation unions per branch.
      val first = branch()
      val alts = Seq.newBuilder[QppSpec]
      while (tryPunct("|")) alts += branch()
      eatPunct(")")
      val (lo, hi) = parseQuantifier()
      val altSeq = alts.result()
      val spec = first.copy(alts = altSeq)
      // The group RelPattern's types only inform header typing of the
      // exported relationship list: across a union, merge the branch type
      // sets; any open (or negated) branch opens the whole set.
      val branchTypes = (first +: altSeq).map(_.rel)
      val mergedTypes =
        if (altSeq.isEmpty) first.rel.types
        else if (branchTypes.exists(r => r.types.isEmpty || r.typesNegated))
          Seq.empty
        else branchTypes.flatMap(_.types).distinct
      RelPattern(first.rel.variable, mergedTypes, first.rel.props, OUT,
        Some((lo, hi)), dynType = first.rel.dynType, qpp = Some(spec))
    }

    /** {m,n} | {m,} | {,n} | {n} | + | * */
    private def parseQuantifier(): (Int, Option[Int]) =
      if (tryPunct("+")) (1, None)
      else if (tryPunct("*")) (0, None)
      else {
        eatPunct("{")
        val lo = peek match {
          case NumTok(v, _) => p += 1; v.toInt
          case _ => 0 // {,n}
        }
        val hi =
          if (tryPunct(",")) peek match {
            case NumTok(v, _) => p += 1; Some(v.toInt)
            case _ => None // {m,} unbounded
          }
          else Some(lo) // {n} = exactly n
        eatPunct("}")
        (lo, hi)
      }

    private def parsePropMap(): Seq[(String, Expr)] = {
      eatPunct("{")
      val props = Seq.newBuilder[(String, Expr)]
      if (!isPunct("}")) {
        def one(): Unit = {
          val k = ident()
          eatPunct(":")
          props += ((k, parseExpr()))
        }
        one()
        while (tryPunct(",")) one()
      }
      eatPunct("}")
      props.result()
    }

    // ---- expressions (precedence climbing) ----
    def parseExpr(): Expr = parseOr()

    private def parseOr(): Expr = {
      var e = parseXor()
      if (isKw("OR")) {
        val parts = Seq.newBuilder[Expr]
        parts += e
        while (tryKw("OR")) parts += parseXor()
        e = Ors(parts.result())
      }
      e
    }

    private def parseXor(): Expr = {
      var e = parseAnd()
      while (tryKw("XOR")) e = Xor(e, parseAnd())
      e
    }

    private def parseAnd(): Expr = {
      var e = parseNot()
      if (isKw("AND")) {
        val parts = Seq.newBuilder[Expr]
        parts += e
        while (tryKw("AND")) parts += parseNot()
        e = Ands(parts.result())
      }
      e
    }

    private def parseNot(): Expr =
      if (tryKw("NOT")) Not(parseNot()) else parseComparison()

    /** After `IS [NOT]`: `[NFC|NFD|NFKC|NFKD] NORMALIZED` (neither word
      * is a reserved keyword, so both arrive as Ident). Returns the
      * normal form (NFC when unstated) or None when the tail is not a
      * NORMALIZED predicate (e.g. `IS NULL`). */
    private def parseNormalizedTail(): Option[String] = peek match {
      case Ident(s, _) if s.equalsIgnoreCase("NORMALIZED") =>
        p += 1; Some("NFC")
      case Ident(s, _) if graft.functions.UnicodeNormalize.forms(s.toUpperCase) &&
          wordAt(p + 1, "NORMALIZED") =>
        p += 2; Some(s.toUpperCase)
      case _ => None
    }

    private def parseComparison(): Expr = {
      var e = parseAddSub()
      // openCypher comparison chaining: `1 < 2 < 3` is the conjunction
      // (1 < 2) AND (2 < 3), each operand paired with its neighbours —
      // NOT the left fold ((1 < 2) < 3). Only the six comparison
      // operators chain; the other predicates below reset the chain (so
      // `x IS NULL = true` compares the predicate's result).
      var chain: List[Expr] = Nil
      var prev = e
      var done = false
      while (!done) {
        peek match {
          case Punct(op @ ("=" | "<>" | "<" | "<=" | ">" | ">="), _) =>
            p += 1
            val rhs = parseAddSub()
            chain = Cmp(op, prev, rhs) :: chain
            prev = rhs
            e = if (chain.lengthCompare(1) == 0) chain.head
                else Ands(chain.reverse)
          case Punct("=~", _) =>
            p += 1
            e = RegexMatch(e, parseAddSub()); chain = Nil; prev = e
          case Kw("IS", _, _) =>
            p += 1
            val negated = tryKw("NOT")
            // IS [NOT] TYPED <type> is the GQL keyword synonym of `::`.
            val typed = tryPunct("::") || tryWord("TYPED")
            if (typed) e = IsTyped(e, parseTypeSpec(), negated)
            else parseNormalizedTail() match {
              case Some(form) => e = IsNormalized(e, form, negated)
              case None => eatKw("NULL"); e = IsNull(e, negated)
            }
            chain = Nil; prev = e
          case Punct("::", _) =>
            p += 1
            e = IsTyped(e, parseTypeSpec(), negated = false)
            chain = Nil; prev = e
          case Kw("IN", _, _) =>
            p += 1
            e = In(e, parseAddSub()); chain = Nil; prev = e
          case Kw("STARTS", _, _) =>
            p += 1; eatKw("WITH")
            e = StartsWith(e, parseAddSub()); chain = Nil; prev = e
          case Kw("ENDS", _, _) =>
            p += 1; eatKw("WITH")
            e = EndsWith(e, parseAddSub()); chain = Nil; prev = e
          case Kw("CONTAINS", _, _) =>
            p += 1
            e = Contains(e, parseAddSub()); chain = Nil; prev = e
          case _ => done = true
        }
      }
      e
    }

    /** `IN [[n] CONCURRENT] TRANSACTIONS [OF n ROW[S]]
      * [ON ERROR CONTINUE|BREAK|FAIL|RETRY [FOR d] [THEN ...]]
      * [REPORT STATUS AS var]` after CALL { } (Neo4j 5/2025 surface).
      * Batching/concurrency controls commit atomicity, not results, and
      * this engine computes over an immutable snapshot (writes produce a
      * new graph), so the unbatched execution is result-identical and the
      * batch shape is accepted and ignored. ON ERROR is parsed and
      * validated; error-path behavior deviates (a failing query fails
      * atomically instead of per-batch — documented in tck_blacklist.md).
      * Returns the REPORT STATUS variable, if any; the caller desugars it
      * to `WITH *, {…} AS var` (no-error statuses: started/committed true,
      * transactionId/errorMessage null — the ids are not exposed here). */
    private def parseInTransactions(): Option[String] = peek match {
      case Kw("IN", _, _) if (peek2 match {
        case Ident(w, _) => w.equalsIgnoreCase("TRANSACTIONS") ||
          w.equalsIgnoreCase("CONCURRENT")
        case NumTok(_, _) | Punct("$", _) => true
        case _ => false
      }) =>
        p += 1
        // integer literal or $parameter (batch size / concurrency)
        def numOrParam(): Boolean = peek match {
          case NumTok(_, _) => p += 1; true
          case Punct("$", _) => p += 1; ident(); true
          case _ => false
        }
        // [n|$p] CONCURRENT
        if (numOrParam()) eatWord("CONCURRENT")
        else tryWord("CONCURRENT")
        eatWord("TRANSACTIONS")
        if (tryKw("OF")) {
          if (!numOrParam()) fail(s"expected a row count after OF, got $peek")
          if (!tryWord("ROWS") && !tryWord("ROW")) fail(s"expected ROWS, got $peek")
        }
        var onErrorSkips = false // CONTINUE or BREAK (REPORT STATUS gate)
        if (tryWord("ON")) {
          eatWord("ERROR")
          def handler(): Unit =
            if (tryWord("CONTINUE") || tryWord("BREAK")) onErrorSkips = true
            else if (!tryWord("FAIL"))
              fail(s"expected CONTINUE, BREAK or FAIL, got $peek")
          if (tryWord("RETRY")) {
            if (tryWord("FOR")) {
              parseExpr() // max retry duration value
              // Neo4j 2025 writes the duration with a unit word
              // (`RETRY FOR 5 SECONDS`); a bare duration expression
              // stays legal too.
              Seq("SECOND", "SECONDS", "MILLISECOND", "MILLISECONDS",
                "MINUTE", "MINUTES", "HOUR", "HOURS").exists(tryWord)
            }
            if (tryWord("THEN")) handler()
          } else handler()
        }
        if (tryWord("REPORT")) {
          eatWord("STATUS")
          if (!tryKw("AS")) fail(s"expected AS after REPORT STATUS, got $peek")
          val v = ident()
          if (!onErrorSkips) fail(
            "REPORT STATUS can only be used with ON ERROR CONTINUE or " +
              "ON ERROR BREAK")
          Some(v)
        } else None
      case _ => None
    }
    private def statusWith(v: String): Clause =
      With(distinct = false, star = true, Seq(ReturnItem(MapLit(Seq(
        "started" -> BoolLit(true), "committed" -> BoolLit(true),
        "transactionId" -> NullLit, "errorMessage" -> NullLit)), Some(v))),
        Seq.empty, None, None, None)

    /** Full-query subquery-expression body after '{': a complete
      * SingleQuery (+ UNION arms) closed by '}'. Used when the simple
      * pattern form of EXISTS/COUNT/COLLECT { } does not parse. */
    private def parseQuerySubBody(kind: String): Expr = {
      val first = parseSingleQuery()
      val unions = Seq.newBuilder[(Boolean, SingleQuery)]
      while (tryKw("UNION")) {
        val all = unionAll()
        unions += ((all, parseSingleQuery()))
      }
      eatPunct("}")
      QuerySub(kind, Query(first, unions.result()))
    }

    /** CALL in clause position, after the CALL keyword is consumed:
      * `CALL { ... }`, the Neo4j 5.23 scoped form `CALL (a, b) { ... }` /
      * `CALL () { ... }` (desugared to the importing-WITH body), or a
      * procedure `CALL name(args) [YIELD cols [WHERE pred]]` (the WHERE
      * desugars to a star-projecting WITH). `optional` marks
      * OPTIONAL CALL (Neo4j 5.21/5.24). */
    private def parseCallClause(optional: Boolean): Seq[Clause] = {
      // scoped subquery: CALL (vars) { ... }
      if (isPunct("(")) {
        p += 1
        val vars = Seq.newBuilder[String]
        var importAll = false
        if (!isPunct(")")) {
          if (tryPunct("*")) importAll = true // CALL (*): import full scope
          else {
            vars += ident()
            while (tryPunct(",")) vars += ident()
          }
        }
        eatPunct(")")
        eatPunct("{")
        val first0 = parseSingleQuery()
        val imports = vars.result()
        // CALL (*) desugars to a star importing-WITH; the planner expands
        // the star to the outer scope (unknown at parse time).
        def prependImports(sq: SingleQuery): SingleQuery =
          if (importAll) SingleQuery(With(distinct = false, star = true,
            Seq.empty, Seq.empty, None, None, None) +: sq.clauses)
          else if (imports.isEmpty) sq
          else SingleQuery(With(distinct = false, star = false,
            imports.map(v => ReturnItem(Var(v), None)),
            Seq.empty, None, None, None) +: sq.clauses)
        val unions = Seq.newBuilder[(Boolean, SingleQuery)]
        while (tryKw("UNION")) {
          val all = unionAll()
          unions += ((all, prependImports(parseSingleQuery())))
        }
        eatPunct("}")
        val report = parseInTransactions()
        Seq(CallSubquery(Query(prependImports(first0), unions.result()),
          optional)) ++ report.map(statusWith)
      } else if (isPunct("{")) {
        p += 1
        val first = parseSingleQuery()
        val unions = Seq.newBuilder[(Boolean, SingleQuery)]
        while (tryKw("UNION")) {
          val all = unionAll()
          unions += ((all, parseSingleQuery()))
        }
        eatPunct("}")
        val report = parseInTransactions()
        Seq(CallSubquery(Query(first, unions.result()), optional)) ++
          report.map(statusWith)
      } else {
        // dotted procedure names (db.labels, dbms.components, ...)
        var name = ident()
        while (tryPunct(".")) name = name + "." + ident()
        val args = Seq.newBuilder[Expr]
        if (tryPunct("(")) {
          if (!isPunct(")")) {
            args += parseExpr()
            while (tryPunct(",")) args += parseExpr()
          }
          eatPunct(")")
        }
        val yields = Seq.newBuilder[String]
        var where: Option[Expr] = None
        if (tryKw("YIELD")) {
          // `YIELD *` = every column the procedure returns (same as no
          // YIELD clause, which already binds all columns).
          if (!tryPunct("*")) {
            yields += ident()
            while (tryPunct(",")) yields += ident()
          }
          if (tryKw("WHERE")) where = Some(parseExpr())
        }
        val call = CallProc(name.toLowerCase, args.result(), yields.result(),
          optional)
        where match {
          case Some(pred) => Seq(call, With(distinct = false, star = true,
            Seq.empty, Seq.empty, None, None, Some(pred)))
          case None => Seq(call)
        }
      }
    }

    /** Cypher 5 type spec after `IS ::` / `::`: an (optionally LOCAL/
      * ZONED-prefixed) type name, LIST/ARRAY element specs in <>, and an
      * optional NOT NULL suffix. */
    private def parseTypeSpec(): CypherTypeSpec = {
      val first = ident().toUpperCase
      val name = first match {
        case "LOCAL" | "ZONED" => s"$first ${ident().toUpperCase}"
        case other => other
      }
      val elem =
        if ((name == "LIST" || name == "ARRAY") && tryPunct("<")) {
          val e = parseTypeSpec()
          eatPunct(">")
          Some(e)
        } else None
      // NOT NULL, or its Cypher-2025 shorthand `!` (INTEGER! etc.).
      val notNull = isKw("NOT") && (peek2 match {
        case Kw("NULL", _, _) => true
        case _ => false
      })
      if (notNull) { p += 2 }
      val bang = !notNull && tryPunct("!")
      CypherTypeSpec(name, elem, notNull || bang)
    }

    private def parseAddSub(): Expr = {
      var e = parseMulDiv()
      var done = false
      while (!done) {
        if (tryPunct("+")) e = Arith("+", e, parseMulDiv())
        // Cypher 5 / GQL concatenation: same semantics as + on strings
        // and lists.
        else if (tryPunct("||")) e = Arith("+", e, parseMulDiv())
        else if (tryPunct("-")) e = Arith("-", e, parseMulDiv())
        else done = true
      }
      e
    }

    private def parseMulDiv(): Expr = {
      var e = parseUnary()
      var done = false
      while (!done) {
        if (tryPunct("*")) e = Arith("*", e, parseUnary())
        else if (tryPunct("/")) e = Arith("/", e, parseUnary())
        else if (tryPunct("%")) e = Arith("%", e, parseUnary())
        else done = true
      }
      e
    }

    // Exponentiation binds TIGHTER than unary minus (-2 ^ 2 = -4) and is
    // right-associative; its right operand may itself be signed (2 ^ -1).
    private def parseUnary(): Expr =
      if (tryPunct("-")) Neg(parseUnary())
      else if (tryPunct("+")) parseUnary()
      else parsePow()

    private def parsePow(): Expr = {
      val e = parsePostfix()
      if (tryPunct("^")) Arith("^", e, parseUnary()) else e
    }

    private def parsePostfix(): Expr = {
      var e = parseAtom()
      var done = false
      while (!done) {
        if (isPunct(".")) {
          p += 1
          e = Prop(e, ident())
        } else if (isPunct("[")) {
          p += 1
          // slice or index
          if (isPunct("..")) {
            p += 1
            val to = if (!isPunct("]")) Some(parseExpr()) else None
            eatPunct("]")
            e = Slice(e, None, to)
          } else {
            val first = parseExpr()
            if (tryPunct("..")) {
              val to = if (!isPunct("]")) Some(parseExpr()) else None
              eatPunct("]")
              e = Slice(e, Some(first), to)
            } else {
              eatPunct("]")
              e = Index(e, first)
            }
          }
        } else if (isPunct("{") && e.isInstanceOf[Var]) {
          // map projection: n {.name, .*, extra: expr, other}
          p += 1
          val items = Seq.newBuilder[MapProjItem]
          if (!isPunct("}")) {
            def item(): Unit = {
              if (tryPunct(".")) {
                if (tryPunct("*")) items += ProjAll
                else items += ProjProp(ident())
              } else {
                val name = ident()
                if (tryPunct(":")) items += ProjExpr(name, parseExpr())
                else items += ProjVar(name)
              }
            }
            item()
            while (tryPunct(",")) item()
          }
          eatPunct("}")
          e = MapProjection(e.asInstanceOf[Var].name, items.result())
        } else if (isPunct(":") && canBeLabelPredicate(e)) {
          // Label expression in value position. Top-level | is supported
          // (n:A|B) EXCEPT directly inside a comprehension/FOREACH/reduce
          // sub-expression that a projection separator terminates
          // (`[p WHERE x:L | proj]`) — there | ends the predicate, and a
          // disjunction needs the parenthesized form `x:(A|B)`, matching
          // Neo4j's resolution of the same ambiguity.
          var tree: Option[LabelExpr] = None
          while (tryPunct(":")) {
            val t = if (noTopLabelOr > 0) parseLabelAnd() else parseLabelOr()
            tree = Some(tree.map(LabelAnd(_, t)).getOrElse(t))
          }
          def lp(le: LabelExpr): Expr = le match {
            case LabelAtom(n) => HasLabels(e, Seq(n))
            case LabelWildcard => Cmp(">", FuncCall("size",
              Seq(FuncCall("labels", Seq(e), distinct = false)),
              distinct = false), IntLit(0))
            case LabelAnd(a, b) => Ands(Seq(lp(a), lp(b)))
            case LabelOr(a, b) => Ors(Seq(lp(a), lp(b)))
            case LabelNot(x) => Not(lp(x))
          }
          e = lp(tree.get)
        } else done = true
      }
      e
    }

    /** `x:Label` only valid right after a variable/property-less atom; avoids
      * consuming the `:` of map literals etc. */
    private def canBeLabelPredicate(e: Expr): Boolean = e match {
      case Var(_) => true
      case _ => false
    }

    /** Depth counter for sub-expressions a top-level `|` terminates
      * (comprehension predicate/source, FOREACH/reduce list): label
      * predicates inside must leave `|` unconsumed. */
    private var noTopLabelOr = 0
    private def guardLabelOr[T](body: => T): T = {
      noTopLabelOr += 1
      try body finally noTopLabelOr -= 1
    }

    private def parseAtom(): Expr = {
      peek match {
        case NumTok(s, _) =>
          p += 1
          val low = s.toLowerCase
          // prefix checks first: hex digits may contain 'e'
          if (low.startsWith("0x")) IntLit(java.lang.Long.parseLong(low.drop(2), 16))
          else if (low.startsWith("0o")) IntLit(java.lang.Long.parseLong(low.drop(2), 8))
          else if (s.contains('.') || low.contains('e')) FloatLit(s.toDouble)
          else IntLit(s.toLong)
        case StrTok(s, _) => p += 1; StrLit(s)
        case Punct("$", _) => p += 1; Param(ident())
        case Kw("TRUE", _, _) => p += 1; BoolLit(true)
        case Kw("FALSE", _, _) => p += 1; BoolLit(false)
        case Kw("NULL", _, _) => p += 1; NullLit
        // COUNT { (n)-->(m) [WHERE pred] } — GQL-style count subquery,
        // rewritten to the size of a constant-projection comprehension.
        case Kw("COUNT", _, _) if peek2 == Punct("{", peek2.pos) =>
          p += 2
          val sp = p
          val simple =
            try {
              tryKw("MATCH")
              val (part, inline) = withInlineFrame(parsePatternPart())
              val where = conj(inline,
                if (tryKw("WHERE")) Some(parseExpr()) else None)
              eatPunct("}")
              Some(FuncCall("size", Seq(PatternComp(part, where, IntLit(1))),
                distinct = false))
            } catch { case _: CypherParseException => p = sp; None }
          simple.getOrElse(parseQuerySubBody("count"))
        case Kw("COUNT", _, _) if peek2 == Punct("(", peek2.pos) =>
          // count(*) | count(expr) | count(DISTINCT expr)
          p += 2
          if (tryPunct("*")) { eatPunct(")"); CountStar }
          else {
            val distinct = tryKw("DISTINCT")
            val e = parseExpr()
            eatPunct(")")
            FuncCall("count", Seq(e), distinct)
          }
        // COLLECT { MATCH (n)-->(m) [WHERE pred] RETURN expr } — Cypher 5
        // collect subquery; the single-MATCH form IS a pattern
        // comprehension, so it desugars to one (RETURN DISTINCT dedups
        // via the engine's toSet rewrite below).
        case Ident(w, _) if w.equalsIgnoreCase("COLLECT") &&
            peek2 == Punct("{", peek2.pos) =>
          p += 2
          val sp = p
          val simple =
            try {
              tryKw("MATCH")
              val (part, inline) = withInlineFrame(parsePatternPart())
              val where = conj(inline,
                if (tryKw("WHERE")) Some(parseExpr()) else None)
              eatKw("RETURN")
              val distinct = tryKw("DISTINCT")
              val proj = parseExpr()
              eatPunct("}")
              val comp = PatternComp(part, where, proj)
              Some(if (distinct) FuncCall("toset", Seq(comp), distinct = false)
                   else comp)
            } catch { case _: CypherParseException => p = sp; None }
          simple.getOrElse(parseQuerySubBody("collect"))
        case Kw("CASE", _, _) => p += 1; parseCase()
        case Kw("EXISTS", _, _) => p += 1; parseExists()
        case Kw(kind @ ("ANY" | "ALL" | "NONE" | "SINGLE"), _, _)
            if peek2 == Punct("(", peek2.pos) =>
          p += 2
          val v = ident()
          eatKw("IN")
          val list = parseExpr()
          eatKw("WHERE")
          val pred = parseExpr()
          eatPunct(")")
          IterablePredicate(kind.toLowerCase, v, list, pred)
        case Kw("REDUCE", _, _) =>
          p += 1
          eatPunct("(")
          val acc = ident()
          eatPunct("=")
          val init = parseExpr()
          eatPunct(",")
          val v = ident()
          eatKw("IN")
          val list = guardLabelOr(parseExpr())
          eatPunct("|")
          val step = parseExpr()
          eatPunct(")")
          Reduce(acc, init, v, list, step)
        case Punct("(", _) =>
          // parenthesized expr OR inline pattern predicate like (a)-->(b)
          if (looksLikePattern()) {
            val (part, inline) = withInlineFrame(parsePatternPart())
            PatternPredicate(part, negated = false, conj(inline, None))
          }
          else {
            p += 1
            val e = parseExpr()
            eatPunct(")")
            e
          }
        case Punct("[", _) =>
          // list literal, list comprehension, or pattern comprehension
          p += 1
          if (isPunct("]")) { p += 1; ListLit(Seq.empty) }
          else {
            val savept = p
            // try comprehension: ident IN ...
            peek match {
              case Ident(v, _) if (peek2 match { case Kw("IN", _, _) => true; case _ => false }) =>
                p += 2
                val list = guardLabelOr(parseExpr())
                val where =
                  if (tryKw("WHERE")) Some(guardLabelOr(parseExpr())) else None
                val proj = if (tryPunct("|")) Some(parseExpr()) else None
                eatPunct("]")
                ListComprehension(v, list, where, proj)
              // path-bound form [ p = (a)-->(b) ... | proj ]: the path
              // variable parses inside parsePatternPart. Backtracks to the
              // expression-list reading on failure so an equality over a
              // parenthesized expression ([a = (1 + 2)]) stays a literal.
              case Ident(_, _) if (peek2 match {
                  case Punct("=", _) => true
                  case _ => false
                }) && (tokAt(p + 2) match {
                  case Punct("(", _) => true
                  case _ => false
                }) =>
                val sp = p
                val attempt =
                  try {
                    val (part, inline) = withInlineFrame(parsePatternPart())
                    val where = conj(inline,
                      if (tryKw("WHERE")) Some(guardLabelOr(parseExpr()))
                      else None)
                    eatPunct("|")
                    val proj = parseExpr()
                    eatPunct("]")
                    Some(PatternComp(part, where, proj))
                  } catch {
                    case _: CypherParseException => p = sp; None
                  }
                attempt.getOrElse {
                  val items = Seq.newBuilder[Expr]
                  items += parseExpr()
                  while (tryPunct(",")) items += parseExpr()
                  eatPunct("]")
                  ListLit(items.result())
                }
              case _ if looksLikePattern() =>
                // [ (a)-->(b) WHERE pred | proj ]
                val (part, inline) = withInlineFrame(parsePatternPart())
                val where = conj(inline,
                  if (tryKw("WHERE")) Some(guardLabelOr(parseExpr()))
                  else None)
                eatPunct("|")
                val proj = parseExpr()
                eatPunct("]")
                PatternComp(part, where, proj)
              case _ =>
                p = savept
                val items = Seq.newBuilder[Expr]
                items += parseExpr()
                while (tryPunct(",")) items += parseExpr()
                eatPunct("]")
                ListLit(items.result())
            }
          }
        case Punct("{", _) =>
          MapLit(parsePropMap())
        // Vector similarity functions (Neo4j 5.13):
        // `vector . similarity . member (` — 6-token lookahead, same
        // disambiguation argument as the temporal namespaces below.
        case Ident(ns, _) if ns.toLowerCase == "vector" &&
            (peek2 match { case Punct(".", _) => true; case _ => false }) &&
            (tokAt(p + 2) match {
              case Ident(s, _) => s.toLowerCase == "similarity"
              case _ => false }) &&
            (tokAt(p + 3) match { case Punct(".", _) => true; case _ => false }) &&
            (tokAt(p + 4) match { case Ident(_, _) => true; case _ => false }) &&
            (tokAt(p + 5) match { case Punct("(", _) => true; case _ => false }) =>
          val member = tokAt(p + 4).asInstanceOf[Ident].s
          p += 6
          val args = Seq.newBuilder[Expr]
          if (!isPunct(")")) {
            args += parseExpr()
            while (tryPunct(",")) args += parseExpr()
          }
          eatPunct(")")
          FuncCall(s"vector.similarity.${member.toLowerCase}",
            args.result(), distinct = false)
        // Namespaced temporal functions (duration.between, datetime.truncate,
        // …): `ns . member (` where ns is a temporal type name. Plain
        // property access can never be followed by `(` in Cypher, so the
        // 4-token lookahead is unambiguous.
        case Ident(ns, _)
            if CypherParser.temporalNamespaces(ns.toLowerCase) &&
              (peek2 match { case Punct(".", _) => true; case _ => false }) &&
              (tokAt(p + 2) match { case Ident(_, _) => true; case _ => false }) &&
              (tokAt(p + 3) match { case Punct("(", _) => true; case _ => false }) =>
          val member = tokAt(p + 2).asInstanceOf[Ident].s
          p += 4
          val full = s"${ns.toLowerCase}.${member.toLowerCase}"
          if (isPunct(")")) { p += 1; FuncCall(full, Seq.empty, distinct = false) }
          else {
            val args = Seq.newBuilder[Expr]
            args += parseExpr()
            while (tryPunct(",")) args += parseExpr()
            eatPunct(")")
            FuncCall(full, args.result(), distinct = false)
          }
        case Ident(name, _) if peek2 == Punct("(", peek2.pos) =>
          p += 2
          if (tryPunct("*")) { eatPunct(")"); CountStar } // e.g. size(*) guard
          else if (isPunct(")")) { p += 1; FuncCall(name.toLowerCase, Seq.empty, distinct = false) }
          else if (name.equalsIgnoreCase("trim") && (peek match {
            case Ident(w, _) =>
              Seq("BOTH", "LEADING", "TRAILING").contains(w.toUpperCase) &&
                // a bare variable named e.g. `both` stays an expression
                (peek2 match {
                  case Punct(("," | ")" | "." | "["), _) => false
                  case _ => true
                })
            case Kw("FROM", _, _) => true
            case _ => false
          })) {
            // SQL-style TRIM (Cypher 5):
            // trim([[BOTH|LEADING|TRAILING] [char] FROM] input)
            val fn = if (tryWord("LEADING")) "ltrim"
              else if (tryWord("TRAILING")) "rtrim"
              else { tryWord("BOTH"); "trim" }
            val ch = if (tryKw("FROM")) None
              else { val c = parseExpr(); eatKw("FROM"); Some(c) }
            val input = parseExpr()
            eatPunct(")")
            FuncCall(fn, input +: ch.toSeq, distinct = false)
          }
          else {
            val distinct = tryKw("DISTINCT")
            val args = Seq.newBuilder[Expr]
            args += parseExpr()
            // `trim(expr FROM input)` — char form without a side keyword
            if (name.equalsIgnoreCase("trim") && isKw("FROM")) {
              p += 1
              val input = parseExpr()
              eatPunct(")")
              FuncCall("trim", Seq(input, args.result().head),
                distinct = false)
            } else {
              while (tryPunct(",")) args += parseExpr()
              eatPunct(")")
              desugarPathFn(name, args.result(), distinct)
            }
          }
        case Ident(name, _) => p += 1; Var(name)
        case t => fail(s"unexpected token $t in expression")
      }
    }

    /** shortestPath()/allShortestPaths() in EXPRESSION position (Neo4j:
      * `WHERE shortestPath(...) IS NOT NULL`, `RETURN shortestPath(...)`).
      * The argument parses as a pattern predicate; desugar onto the
      * pattern-comprehension machinery with the matching path selector —
      * shortestPath yields ONE path or null (head of the selected set),
      * allShortestPaths the LIST of minimal-length paths. */
    private def desugarPathFn(name: String, args: Seq[Expr],
        distinct: Boolean): Expr = {
      val lower = name.toLowerCase
      val isSp = lower == "shortestpath" || lower == "allshortestpaths"
      (if (isSp) args else Seq.empty) match {
        case Seq(PatternPredicate(part, false, where)) =>
          spExprCount += 1
          val pv = part.pathVar.getOrElse(s"_spx$spExprCount")
          val mode = if (lower == "shortestpath") "shortest" else "allshortest"
          val comp = PatternComp(
            part.copy(pathVar = Some(pv), shortest = Some(PathSelector(mode))),
            where, Var(pv))
          if (lower == "shortestpath") FuncCall("head", Seq(comp), distinct = false)
          else comp
        case _ => FuncCall(lower, args, distinct)
      }
    }
    private var spExprCount = 0

    /** Lookahead: does `(` start a node pattern followed by a relationship?
      * Distinguishes `(a)-->(b)` pattern predicates from `(a+1)*2`. */
    private def looksLikePattern(): Boolean = {
      var i = p
      def tok(j: Int): Tok = if (j < toks.length) toks(j) else toks.last
      if (!tok(i).isInstanceOf[Punct] || tok(i).asInstanceOf[Punct].s != "(") return false
      i += 1
      tok(i) match {
        case Ident(_, _) => i += 1
        case _ =>
      }
      // labels / props
      var guard = 0
      while (guard < 64 && (tok(i) match {
            case Punct(":", _) => i += 2; true
            case Punct("{", _) =>
              var depth = 1
              i += 1
              while (depth > 0 && i < toks.length) {
                tok(i) match {
                  case Punct("{", _) => depth += 1
                  case Punct("}", _) => depth -= 1
                  case _ =>
                }
                i += 1
              }
              true
            case _ => false
          })) guard += 1
      tok(i) match {
        case Punct(")", _) =>
          tok(i + 1) match {
            case Punct("-", _) | Punct("<-", _) => true
            case _ => false
          }
        // inline WHERE (Cypher 5): scan to the node's closing paren
        case Kw("WHERE", _, _) =>
          var depth = 0
          var j = i + 1
          var close = -1
          while (close < 0 && j < toks.length) {
            tok(j) match {
              case Punct("(", _) => depth += 1
              case Punct(")", _) if depth == 0 => close = j
              case Punct(")", _) => depth -= 1
              case _ =>
            }
            j += 1
          }
          close >= 0 && (tok(close + 1) match {
            case Punct("-", _) | Punct("<-", _) => true
            case _ => false
          })
        case _ => false
      }
    }

    private def parseCase(): Expr = {
      val subject = if (!isKw("WHEN")) Some(parseExpr()) else None
      // Extended CASE (Neo4j 5), subject form: each WHEN holds a
      // comma-list of alternatives, each either a plain value (equality)
      // or an OPERATOR form applied to the subject (`WHEN > 4`,
      // `WHEN IS NULL`, `WHEN STARTS WITH 'x'`, `WHEN =~ p`,
      // `WHEN IS :: INTEGER`). Any operator alternative desugars the
      // whole CASE to the searched form with the subject inlined
      // (pure column expression — codegen CSE dedups it).
      var sawOperator = false
      // (alternative, isOperatorForm)
      def parseAlt(subj: Expr): (Expr, Boolean) = peek match {
        case Punct(op @ ("=" | "<>" | "<" | "<=" | ">" | ">="), _) =>
          sawOperator = true; p += 1; (Cmp(op, subj, parseAddSub()), true)
        case Punct("=~", _) =>
          sawOperator = true; p += 1; (RegexMatch(subj, parseAddSub()), true)
        case Kw("IS", _, _) =>
          sawOperator = true; p += 1
          val neg = tryKw("NOT")
          if (tryPunct("::")) (IsTyped(subj, parseTypeSpec(), neg), true)
          else parseNormalizedTail() match {
            case Some(form) => (IsNormalized(subj, form, neg), true)
            case None => eatKw("NULL"); (IsNull(subj, neg), true)
          }
        case Kw("STARTS", _, _) =>
          sawOperator = true; p += 1; eatKw("WITH")
          (StartsWith(subj, parseAddSub()), true)
        case Kw("ENDS", _, _) =>
          sawOperator = true; p += 1; eatKw("WITH")
          (EndsWith(subj, parseAddSub()), true)
        case Kw("CONTAINS", _, _) =>
          sawOperator = true; p += 1; (Contains(subj, parseAddSub()), true)
        case Kw("IN", _, _) =>
          sawOperator = true; p += 1; (In(subj, parseAddSub()), true)
        case _ => (parseExpr(), false)
      }
      val alts = Seq.newBuilder[(Expr, Expr, Boolean)]
      while (tryKw("WHEN")) {
        val conds = Seq.newBuilder[(Expr, Boolean)]
        conds += (if (subject.isDefined) parseAlt(subject.get)
          else (parseExpr(), false))
        while (subject.isDefined && tryPunct(","))
          conds += parseAlt(subject.get)
        eatKw("THEN")
        val result = parseExpr()
        conds.result().foreach { case (c, op) => alts += ((c, result, op)) }
      }
      val default = if (tryKw("ELSE")) Some(parseExpr()) else None
      eatKw("END")
      if (subject.isDefined && sawOperator) {
        // searched form: plain-value alternatives become subject = value
        val preds = alts.result().map {
          case (c, r, true) => (c, r)
          case (v, r, false) => (Cmp("=", subject.get, v), r)
        }
        CaseExpr(None, preds, default)
      } else CaseExpr(subject, alts.result().map(a => (a._1, a._2)), default)
    }

    private def parseExists(): Expr = {
      // EXISTS { pattern } | EXISTS { MATCH pattern } | EXISTS(expr)
      if (tryPunct("{")) {
        val sp = p
        val simple =
          try {
            tryKw("MATCH")
            val (part, inline) = withInlineFrame(parsePatternPart())
            val where = conj(inline,
              if (tryKw("WHERE")) Some(parseExpr()) else None)
            eatPunct("}")
            Some(PatternPredicate(part, negated = false, where))
          } catch { case _: CypherParseException => p = sp; None }
        simple.getOrElse(parseQuerySubBody("exists"))
      } else {
        eatPunct("(")
        if (looksLikePattern()) {
          val (part, inline) = withInlineFrame(parsePatternPart())
          eatPunct(")")
          PatternPredicate(part, negated = false, conj(inline, None))
        } else {
          val e = parseExpr()
          eatPunct(")")
          FuncCall("exists", Seq(e), distinct = false)
        }
      }
    }
  }
}
