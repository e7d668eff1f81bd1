package graft.sql

import scala.collection.mutable.ArrayBuffer

/** Minimal SQL tokenizer for the dialect rewriter: splits a statement into
  * words, numbers, string literals, quoted identifiers, comments, symbols
  * and whitespace WITHOUT interpreting grammar. Rewrites then operate on
  * the token vector, so string literals and quoted identifiers are never
  * corrupted by textual substitution (the classic failure mode of
  * regex-based dialect shims).
  */
object SqlTokens {
  sealed trait Kind
  case object Word extends Kind      // identifiers & keywords
  case object Num extends Kind
  case object Str extends Kind       // '...' with '' escapes
  case object QIdent extends Kind    // "..." with "" escapes
  case object Comment extends Kind   // -- … \n  and  /* … */
  case object DollarStr extends Kind // $tag$ … $tag$ PostgreSQL dollar quoting
  case object Sym extends Kind       // single operator/punct char
  case object Ws extends Kind

  final case class Tok(kind: Kind, text: String) {
    def isWord(w: String): Boolean = kind == Word && text.equalsIgnoreCase(w)
  }

  def tokenize(sql: String): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    val n = sql.length
    // index just past the last DollarStr emitted: a `$` that merely CLOSED
    // a dollar string is a token boundary, so it must not block the very
    // next opener (`$$a$$$$b$$` is two adjacent strings in PG's lexer,
    // ADVICE r12) the way a glued identifier character does.
    var lastDollarEnd = -1
    def peek(k: Int) = if (i + k < n) sql.charAt(i + k) else '\u0000'
    while (i < n) {
      val c = sql.charAt(i)
      if (c.isWhitespace) {
        val j = i; while (i < n && sql.charAt(i).isWhitespace) i += 1
        out += Tok(Ws, sql.substring(j, i))
      } else if (c == '\'') {
        val j = i; i += 1
        var done = false
        while (i < n && !done) {
          if (sql.charAt(i) == '\'')
            if (peek(1) == '\'') i += 2 else { i += 1; done = true }
          else i += 1
        }
        out += Tok(Str, sql.substring(j, i))
      } else if (c == '"') {
        val j = i; i += 1
        var done = false
        while (i < n && !done) {
          if (sql.charAt(i) == '"')
            if (peek(1) == '"') i += 2 else { i += 1; done = true }
          else i += 1
        }
        out += Tok(QIdent, sql.substring(j, i))
      } else if (c == '-' && peek(1) == '-') {
        val j = i; while (i < n && sql.charAt(i) != '\n') i += 1
        out += Tok(Comment, sql.substring(j, i))
      } else if (c == '/' && peek(1) == '*') {
        val j = i; i += 2
        while (i < n && !(sql.charAt(i) == '*' && peek(1) == '/')) i += 1
        i = math.min(n, i + 2)
        out += Tok(Comment, sql.substring(j, i))
      } else if (c == '$' && dollarStrEnd(sql, i, i == lastDollarEnd) > 0) {
        // PostgreSQL/Redshift dollar-quoted string: $$…$$ or $tag$…$tag$
        // (the CREATE FUNCTION body carrier). The tag follows unquoted-
        // identifier rules, so `$1` (a prepared-statement parameter) never
        // opens one; an opener glued to an identifier (`a$x$` — Redshift
        // identifiers may contain $) or with no closing delimiter anywhere
        // is NOT a quote (PG's own lexer rule — identifier characters
        // absorb the $), so a $-bearing identifier can never swallow the
        // rest of the script. One token spans the whole body — semicolons
        // and quotes inside a UDF body must not split or confuse
        // statements.
        val end = dollarStrEnd(sql, i, i == lastDollarEnd)
        out += Tok(DollarStr, sql.substring(i, end))
        i = end
        lastDollarEnd = end
      } else if (c.isLetter || c == '_') {
        val j = i
        while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
        out += Tok(Word, sql.substring(j, i))
      } else if (c.isDigit || (c == '.' && peek(1).isDigit)) {
        // digits and dots, plus a well-formed exponent suffix (e[+-]?digits,
        // consumed only when a digit actually follows the e/sign). Trailing
        // letters are NOT part of the number: `123abc` is Num(123)+Word(abc),
        // never one Num token — a rewrite matching `TOP <num>` must not be
        // fooled by an adjacent identifier.
        val j = i
        while (i < n && (sql.charAt(i).isDigit || sql.charAt(i) == '.')) i += 1
        if (i < n && (sql.charAt(i) == 'e' || sql.charAt(i) == 'E')) {
          var k = i + 1
          if (k < n && (sql.charAt(k) == '+' || sql.charAt(k) == '-')) k += 1
          if (k < n && sql.charAt(k).isDigit) {
            i = k
            while (i < n && sql.charAt(i).isDigit) i += 1
          }
        }
        out += Tok(Num, sql.substring(j, i))
      } else {
        out += Tok(Sym, c.toString); i += 1
      }
    }
    out.toVector
  }

  /** If a complete dollar-quoted string starts at `sql(at)`, the index
    * just past its CLOSING delimiter; else -1. Requires all three of:
    * the opener is not glued to a preceding identifier character, the
    * delimiter parses (`$` + optional identifier tag + `$`; a digit after
    * `$` is a `$n` parameter, not a tag), and the closing delimiter
    * exists — otherwise the `$` stays a plain symbol.
    * `afterDollarStr` marks `at` as the first char after a just-closed
    * dollar string — a TOKEN boundary, where the glued-character guard
    * must not apply (adjacent strings `$$a$$$$b$$`). */
  private def dollarStrEnd(sql: String, at: Int, afterDollarStr: Boolean = false): Int = {
    if (at > 0 && !afterDollarStr) {
      val p = sql.charAt(at - 1)
      if (p.isLetterOrDigit || p == '_' || p == '$') return -1
    }
    var j = at + 1
    val tagEnd =
      if (j < sql.length && sql.charAt(j) == '$') j + 1
      else if (j < sql.length && (sql.charAt(j).isLetter || sql.charAt(j) == '_')) {
        while (j < sql.length && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '_')) j += 1
        if (j < sql.length && sql.charAt(j) == '$') j + 1 else -1
      } else -1
    if (tagEnd < 0) return -1
    val tag = sql.substring(at, tagEnd)
    val close = sql.indexOf(tag, tagEnd)
    if (close < 0) -1 else close + tag.length
  }

  /** The payload of a DollarStr token: the text between the delimiters. */
  def dollarBody(t: Tok): String = {
    require(t.kind == DollarStr, s"expected a dollar-quoted string, got ${t.kind}")
    val tagLen = t.text.indexOf('$', 1) + 1
    val inner = t.text.substring(tagLen)
    if (inner.endsWith(t.text.substring(0, tagLen)))
      inner.substring(0, inner.length - tagLen)
    else inner // unterminated: everything after the opener
  }

  def render(toks: Seq[Tok]): String = toks.iterator.map(_.text).mkString

  /** Index of the next non-whitespace/comment token at or after `from`. */
  def nextCode(toks: Vector[Tok], from: Int): Int = {
    var i = from
    while (i < toks.length && (toks(i).kind == Ws || toks(i).kind == Comment)) i += 1
    i
  }

  /** Given `open` = index of a '(' token, index of its matching ')'.
    * Raises on an unclosed paren: every caller sits just after a real '('
    * in a construct it is about to consume, and a silent -1 sentinel has
    * twice produced empty-slice/infinite-rescan bugs downstream. */
  def matchParen(toks: Vector[Tok], open: Int): Int = {
    var depth = 0
    var i = open
    while (i < toks.length) {
      val t = toks(i)
      if (t.kind == Sym && t.text == "(") depth += 1
      else if (t.kind == Sym && t.text == ")") {
        depth -= 1
        if (depth == 0) return i
      }
      i += 1
    }
    throw new IllegalArgumentException(
      s"unbalanced parentheses after: …${render(toks.slice(open, math.min(toks.length, open + 8)))}")
  }

  /** Parse a parenthesized identifier list: `open` must index a '(';
    * returns (names, index of the matching ')'). Shared by COPY column
    * lists, UNLOAD PARTITION BY and ANALYZE column lists. */
  def nameList(toks: Vector[Tok], open: Int): (Seq[String], Int) = {
    require(open < toks.length && toks(open).kind == Sym && toks(open).text == "(",
      "expected a '(' identifier list")
    val close = matchParen(toks, open)
    val names = toks.slice(open + 1, close).collect {
      case t if t.kind == Word => t.text
      case t if t.kind == QIdent => t.text.stripPrefix("\"").stripSuffix("\"")
    }
    (names, close)
  }

  /** Consume a (possibly schema-qualified, possibly quoted) table/column
    * name starting at `from`; returns (rendered name, index after it). */
  def qualifiedName(toks: Vector[Tok], from: Int): (String, Int) = {
    var i = nextCode(toks, from)
    val sb = new StringBuilder
    var done = false
    while (i < toks.length && !done) {
      toks(i).kind match {
        case Word | QIdent | Num =>
          sb.append(toks(i).text); i += 1
          if (i < toks.length && toks(i).kind == Sym && toks(i).text == ".") {
            sb.append('.'); i += 1
          } else done = true
        case _ => done = true
      }
    }
    require(sb.nonEmpty, "expected a name")
    (sb.toString, i)
  }

  /** Indices in `[from, until)` of the tokens at paren depth 0 relative to
    * `from` — the one depth rule every clause scan uses. A `(` is yielded
    * and its span skipped through the matching `)`; a `)` with no open `(`
    * closes the enclosing block and is the last index yielded; an unclosed
    * `(` hides the rest. Depth counts `(`/`)` Sym tokens only: string
    * literals, quoted identifiers and comments are single tokens, so a
    * paren inside one never counts. */
  def topLevel(toks: Vector[Tok], from: Int, until: Int = Int.MaxValue): Iterator[Int] =
    new Iterator[Int] {
      private val end = math.min(until, toks.length)
      private var i = from // the next index to yield
      def hasNext: Boolean = i < end
      def next(): Int = {
        val at = i
        i = at + 1
        if (isSym(toks(at), ")")) i = end
        else if (isSym(toks(at), "(")) {
          var depth = 1
          while (i < end && depth > 0) {
            if (isSym(toks(i), "(")) depth += 1
            else if (isSym(toks(i), ")")) depth -= 1
            i += 1
          }
        }
        at
      }
    }

  def isSym(t: Tok, s: String): Boolean = t.kind == Sym && t.text == s

  private val setOps = Set("union", "intersect", "except", "minus")

  /** End of the SELECT block starting at `from`: the `)` that closes it, a
    * depth-0 `;` or set operator, or the end of the tokens. */
  def blockEnd(toks: Vector[Tok], from: Int): Int =
    topLevel(toks, from).find { j =>
      val t = toks(j)
      isSym(t, ")") || isSym(t, ";") || (t.kind == Word && setOps.contains(t.text.toLowerCase))
    }.getOrElse(toks.length)

  /** Indices of depth-1 commas between a '(' at `open` and its match. */
  def topCommas(toks: Vector[Tok], open: Int, close: Int): Seq[Int] =
    topLevel(toks, open + 1, close).filter(i => isSym(toks(i), ",")).toVector

  /** The index just past an `IF NOT EXISTS` starting at the first code
    * token at or after `from`; -1 when there is none. */
  private def ifNotExists(toks: Vector[Tok], from: Int): Int = {
    val i = nextCode(toks, from)
    val n = if (i < toks.length && toks(i).isWord("if")) nextCode(toks, i + 1) else toks.length
    val e = if (n < toks.length && toks(n).isWord("not")) nextCode(toks, n + 1) else toks.length
    if (e < toks.length && toks(e).isWord("exists")) e + 1 else -1
  }

  /** A parsed `CREATE [modifier…] <kind> [IF NOT EXISTS] <name>` header:
    * the modifier words' indices, the name as `nameOf` rendered it and the
    * index after it. */
  final case class CreateHeader(modifiers: Vector[Int], ifNotExists: Boolean,
                                name: String, afterName: Int)

  /** Parses the header of a `CREATE … <kind>` statement. Up to four
    * modifier words (LOCAL, TEMP, EXTERNAL, …) may precede `kind`; None
    * when the statement does not begin that way or `accept` rejects the
    * lower-cased modifiers. A missing name raises from `nameOf`. */
  def createHeader(toks: Vector[Tok], kind: String, accept: Seq[String] => Boolean,
                   nameOf: (Vector[Tok], Int) => (String, Int) = qualifiedName)
      : Option[CreateHeader] = {
    val c = nextCode(toks, 0)
    if (c >= toks.length || !toks(c).isWord("create")) return None
    var modifiers = Vector.empty[Int]
    var w = nextCode(toks, c + 1)
    while (w < toks.length && toks(w).kind == Word && modifiers.length < 4 &&
        !toks(w).isWord(kind)) {
      modifiers :+= w; w = nextCode(toks, w + 1)
    }
    if (w >= toks.length || !toks(w).isWord(kind) ||
        !accept(modifiers.map(toks(_).text.toLowerCase))) return None
    val ine = ifNotExists(toks, w + 1)
    val (name, afterName) = nameOf(toks, if (ine >= 0) ine else w + 1)
    Some(CreateHeader(modifiers, ine >= 0, name, afterName))
  }
}
