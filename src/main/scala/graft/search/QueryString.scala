package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ES `query_string` mini-parser — the syntax the reference's search
  * box actually accepts: its UI passes the raw `q=` to Elasticsearch's
  * query-string parser (reference `indexView.html:13-20`), which
  * supports more than a bare keyword. Supported grammar (the subset a
  * user can type into that box):
  *
  * {{{
  *   query   := orExpr
  *   orExpr  := andExpr ((OR | ε) andExpr)*        ε = adjacency, ES
  *                                                 default_operator=OR
  *   andExpr := notExpr ((AND | NOT) notExpr)*     a NOT b ≡ a AND NOT b
  *   notExpr := NOT notExpr
  *            | '(' orExpr ')' ['^' number]
  *            | atom
  *   atom    := [field ':'] ( '"' phrase '"' | '/' regexp '/' | word['*'] ) ['^' number]
  * }}}
  *
  * Precedence NOT > AND > OR, left-associative — Lucene's "classic"
  * operator precedence, with `a NOT b` given its Lucene meaning
  * (a minus b) rather than the implicit-OR reading. Match semantics
  * compile onto the engine's existing search primitives over the SAME
  * pinned stringification the bulk importer uses:
  *
  *  - `word`    — some whitespace token of the field equals the word
  *                (case-insensitive; `search_tokenized_match` shape)
  *  - `word*`   — some token starts with the prefix
  *                (`search_prefix_match` shape)
  *  - `"a b"`   — whitespace-normalized containment
  *                (`search_phrase_match` shape)
  *  - `/re/`    — Lucene regexp term: some token matches the WHOLE
  *                pattern (Lucene regexps are implicitly anchored —
  *                compiled as `^(?:re)$`; the alternation/class/
  *                quantifier core shared by Lucene and Java regex is
  *                supported, Lucene-only extras like `~` complement
  *                and `<n-m>` intervals are not; whitespace inside
  *                the pattern is not supported — use `\s`; a literal
  *                '/' inside the pattern must be escaped `\/` (Lucene
  *                rule), and `field:/...` ALWAYS reads as a regexp,
  *                never a path-like word — Lucene precedence)
  *  - no field  — disjunction over every column, like the ES `_all`
  *                search the reference delegates to
  *  - `x^2.5`   — Lucene boost on a term, phrase, or parenthesized
  *                group: no effect on MATCHING (boost-transparent
  *                predicate), multiplies the clause's SCORE
  *                contribution; nested boosts multiply
  *                (`(a^2 b)^3` scores a at 6). [[boostedTerms]] hands
  *                the per-term weights to the BM25 scorer.
  *
  * Everything compiles to one codegen'd per-row predicate: a scan +
  * filter with no shuffle — the query-string front end costs nothing
  * at 100 TB beyond the scan it already implies.
  */
object QueryString {

  // ---- AST -------------------------------------------------------------
  sealed trait Node
  final case class Term(field: Option[String], word: String, prefix: Boolean) extends Node
  final case class Phrase(field: Option[String], phrase: String) extends Node
  final case class Regex(field: Option[String], pattern: String) extends Node
  final case class And(l: Node, r: Node) extends Node
  final case class Or(l: Node, r: Node) extends Node
  final case class Not(n: Node) extends Node
  final case class Boost(n: Node, boost: Double) extends Node

  // ---- Tokenizer ---------------------------------------------------------
  private sealed trait Tok
  private case object LP extends Tok
  private case object RP extends Tok
  private case object AndT extends Tok
  private case object OrT extends Tok
  private case object NotT extends Tok
  private final case class PhraseT(field: Option[String], s: String) extends Tok
  private final case class WordT(field: Option[String], s: String, prefix: Boolean) extends Tok
  private final case class RegexT(field: Option[String], pattern: String) extends Tok
  private final case class CaretT(boost: Double) extends Tok // `^2.5` after ')' or '"'

  /** A Lucene boost literal: a positive number after `^`. */
  private def parseBoost(s: String): Option[Double] =
    s.toDoubleOption.filter(b => b > 0 && !b.isInfinite)

  private def tokenize(q: String): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer.empty[Tok]
    var i = 0
    def closingQuote(from: Int): Int = {
      val end = q.indexOf('"', from)
      if (end < 0) throw new IllegalArgumentException(
        s"query_string: unterminated quote at offset ${from - 1} in <$q>")
      end
    }
    while (i < q.length) {
      val c = q(i)
      if (c.isWhitespace) i += 1
      else if (c == '(') { out += LP; i += 1 }
      else if (c == ')') { out += RP; i += 1 }
      else if (c == '"') {
        val end = closingQuote(i + 1)
        out += PhraseT(None, q.substring(i + 1, end)); i = end + 1
      } else {
        val start = i
        // A regexp literal (`/re/` or `field:/re/`) scans to its
        // closing '/' like a quoted phrase does — the pattern may
        // contain the word delimiters ( ) " freely. A '/' elsewhere
        // inside a word (a path token like `a/b`) stays a word.
        while (i < q.length && !q(i).isWhitespace && q(i) != '(' &&
          q(i) != ')' && q(i) != '"' && q(i) != '/') i += 1
        if (i < q.length && q(i) == '/' && (i == start || q(i - 1) == ':')) {
          val fld = if (i == start) None else Some(q.substring(start, i - 1))
          // Lucene allows `\/` inside a regexp literal — skip escape
          // pairs when scanning for the closing delimiter, so
          // `path:/a\/b/` is ONE pattern matching `a/b` (Java regex
          // treats `\/` as an escaped literal '/', so the pattern
          // passes through to rlike unmodified). Note `field:/...`
          // always reads as a regexp, never a path-like word — the
          // Lucene precedence; escape the slash to get the word.
          var j = i + 1
          while (j < q.length && q(j) != '/')
            j += (if (q(j) == '\\' && j + 1 < q.length) 2 else 1)
          val end = if (j < q.length) j else -1
          if (end < 0 || end == i + 1) throw new IllegalArgumentException(
            s"query_string: unterminated or empty regexp at offset $i in <$q>")
          out += RegexT(fld, q.substring(i + 1, end))
          i = end + 1
          if (i < q.length && q(i) == '^') { // trailing boost
            val bs = i + 1
            while (i < q.length && !q(i).isWhitespace &&
              q(i) != '(' && q(i) != ')' && q(i) != '"') i += 1
            parseBoost(q.substring(bs, i)) match {
              case Some(b) => out += CaretT(b)
              case None => throw new IllegalArgumentException(
                s"query_string: bad boost after regexp at offset $bs in <$q>")
            }
          }
        } else {
        while (i < q.length && !q(i).isWhitespace &&
          q(i) != '(' && q(i) != ')' && q(i) != '"') i += 1
        val w = q.substring(start, i)
        if (i < q.length && q(i) == '"' && w.nonEmpty && w.endsWith(":")) {
          val end = closingQuote(i + 1) // field:"quoted phrase"
          out += PhraseT(Some(w.dropRight(1)), q.substring(i + 1, end)); i = end + 1
        } else w match {
          case "AND" => out += AndT
          case "OR"  => out += OrT
          case "NOT" => out += NotT
          // A standalone `^2` follows a ')' or closing '"' (the boost
          // of a group/phrase lands in its own token because both
          // delimiters cut the word scan).
          case _ if w.startsWith("^") && parseBoost(w.drop(1)).isDefined =>
            out += CaretT(parseBoost(w.drop(1)).get)
          case _ =>
            // Trailing `^boost` on a bare word (`spark^2`,
            // `field:term^0.5`, `app*^3` — Lucene puts boost last).
            val (body, boost) = w.lastIndexOf('^') match {
              case -1 => (w, None)
              case p => parseBoost(w.substring(p + 1)) match {
                case some @ Some(_) => (w.substring(0, p), some)
                case None => (w, None)
              }
            }
            val (field, rest) = body.indexOf(':') match {
              case -1 => (None, body)
              case p  => (Some(body.substring(0, p)), body.substring(p + 1))
            }
            val (word, pre) =
              if (rest.endsWith("*")) (rest.dropRight(1), true) else (rest, false)
            if (word.isEmpty) throw new IllegalArgumentException(
              s"query_string: empty term <$w> in <$q>")
            out += WordT(field, word, pre)
            boost.foreach(b => out += CaretT(b))
        }
        }
      }
    }
    out.toList
  }

  // ---- Recursive-descent parser -------------------------------------------
  def parse(q: String): Node = {
    var toks = tokenize(q)
    if (toks.isEmpty)
      throw new IllegalArgumentException("query_string: empty query")
    def peek: Option[Tok] = toks.headOption
    def next(): Tok = { val t = toks.head; toks = toks.tail; t }

    def parseOr(): Node = {
      var n = parseAnd()
      var continue = true
      while (continue) peek match {
        case Some(OrT) => next(); n = Or(n, parseAnd())
        case Some(LP | NotT | _: WordT | _: PhraseT | _: RegexT) => // adjacency = OR
          n = Or(n, parseAnd())
        case _ => continue = false
      }
      n
    }
    def parseAnd(): Node = {
      var n = parseNot()
      var continue = true
      while (continue) peek match {
        case Some(AndT) => next(); n = And(n, parseNot())
        case Some(NotT) => next(); n = And(n, Not(parseNot())) // a NOT b
        case _ => continue = false
      }
      n
    }
    // A caret binds to the clause just parsed (term, phrase, group) —
    // tighter than NOT/AND/OR, like Lucene.
    def withBoost(n: Node): Node = peek match {
      case Some(CaretT(b)) => next(); Boost(n, b)
      case _ => n
    }
    def parseNot(): Node = peek match {
      case Some(NotT) => next(); Not(parseNot())
      case Some(LP) =>
        next()
        val n = parseOr()
        if (peek.contains(RP)) next()
        else throw new IllegalArgumentException(s"query_string: missing ')' in <$q>")
        withBoost(n)
      case Some(w: WordT)   => next(); withBoost(Term(w.field, w.s, w.prefix))
      case Some(p: PhraseT) => next(); withBoost(Phrase(p.field, p.s))
      case Some(r: RegexT)  => next(); withBoost(Regex(r.field, r.pattern))
      case t => throw new IllegalArgumentException(
        s"query_string: expected clause, found $t in <$q>")
    }

    val root = parseOr()
    if (toks.nonEmpty) throw new IllegalArgumentException(
      s"query_string: trailing input $toks in <$q>")
    root
  }

  // ---- Compile to a Column predicate ---------------------------------------

  /** A column's searchable token stream: pinned stringification (same
    * as the bulk importer / `anyFieldContains`), lowercased, split on
    * whitespace.
    */
  private def toks(df: DataFrame, name: String): Column = {
    val f = df.schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"query_string: unknown field <$name>; have ${df.columns.mkString(", ")}"))
    SearchQueries.tokens(graft.etl.Stringify.column(col(f.name), f.dataType))
  }

  /** Per-field atom predicates, null-safe (a NULL field value is a
    * non-match, never an UNKNOWN that flips under NOT).
    */
  private def fieldMatch(df: DataFrame, name: String, atom: Node): Column = {
    val t = toks(df, name)
    val raw = atom match {
      case Term(_, w, false) => array_contains(t, w.toLowerCase)
      case Term(_, w, true)  => exists(t, x => x.startsWith(w.toLowerCase))
      case Phrase(_, p) =>
        concat_ws(" ", t).contains(p.toLowerCase.trim.replaceAll("\\s+", " "))
      // Lucene regexp terms match the ENTIRE token (implicit anchors).
      case Regex(_, p) => exists(t, x => x.rlike(s"^(?:$p)$$"))
      case other => throw new IllegalArgumentException(s"not an atom: $other")
    }
    coalesce(raw, lit(false))
  }

  private def atomMatch(df: DataFrame, field: Option[String], atom: Node): Column =
    field match {
      case Some(f) => fieldMatch(df, f, atom)
      case None => // the ES _all behavior the reference's UI relies on
        df.columns.map(fieldMatch(df, _, atom)).reduce(_ || _)
    }

  /** Compile a parsed query to one boolean `Column` over `df`.
    * Boost is scoring metadata — transparent to matching, like Lucene.
    */
  def compile(df: DataFrame, node: Node): Column = node match {
    case t @ Term(f, _, _)   => atomMatch(df, f, t)
    case p @ Phrase(f, _)    => atomMatch(df, f, p)
    case r @ Regex(f, _)     => atomMatch(df, f, r)
    case And(l, r)           => compile(df, l) && compile(df, r)
    case Or(l, r)            => compile(df, l) || compile(df, r)
    case Not(n)              => !compile(df, n)
    case Boost(n, _)         => compile(df, n)
  }

  /** The query's scoring terms with their effective weights: every
    * non-prefix [[Term]] under AND/OR, its weight the product of the
    * boosts enclosing it (`(a^2 b)^3` → a at 6.0, b at 3.0). NOT
    * subtrees contribute nothing (ES `must_not` clauses filter, never
    * score); prefix terms and phrases are match-only here (ES scores
    * them constant-score/rewritten — out of scope for the BM25 path).
    * Order is query order, so a scorer's float sum is deterministic.
    */
  def boostedTerms(node: Node, mult: Double = 1.0): Seq[(Option[String], String, Double)] =
    node match {
      case Term(f, w, false) => Seq((f, w.toLowerCase, mult))
      case Term(_, _, true)  => Seq.empty
      case Phrase(_, _)      => Seq.empty
      case Regex(_, _)       => Seq.empty // multi-term: match-only, like prefix
      case And(l, r)         => boostedTerms(l, mult) ++ boostedTerms(r, mult)
      case Or(l, r)          => boostedTerms(l, mult) ++ boostedTerms(r, mult)
      case Not(_)            => Seq.empty
      case Boost(n, b)       => boostedTerms(n, mult * b)
    }

  /** One-call front end: `df.filter(QueryString(df, q))`. */
  def apply(df: DataFrame, q: String): Column = compile(df, parse(q))
}
