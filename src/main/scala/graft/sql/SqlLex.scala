package graft.sql

/** The dialect's one SQL lexer: which characters of a text are code and
  * which lie inside a quoted span — `'…'` (with `''`), `"…"` (with
  * `""`), `$$…$$` bodies and `--` line comments, the quoting rules of
  * PostgreSQL's scan.l that a textual rewrite has to respect. Every
  * split or textual rewrite of SQL in the dialect goes through the
  * helpers below; each is one pass over the text and allocates nothing
  * per character. Nesting depth counts `(…)` and `[…]` in code. */
private[graft] object SqlLex {

  /** End (exclusive) of the quoted span or comment that starts at `i`,
    * or `i` itself when `s(i)` is code. An unterminated span runs to
    * the end of the text; a comment ends before its newline. */
  private def spanEnd(s: String, i: Int): Int = s.charAt(i) match {
    case q @ ('\'' | '"') =>
      var j = i + 1
      while (j < s.length) {
        if (s.charAt(j) != q) j += 1
        else if (j + 1 < s.length && s.charAt(j + 1) == q) j += 2
        else return j + 1
      }
      s.length
    case '$' if s.startsWith("$$", i) =>
      val e = s.indexOf("$$", i + 2)
      if (e < 0) s.length else e + 2
    case '-' if s.startsWith("--", i) =>
      val e = s.indexOf('\n', i + 2)
      if (e < 0) s.length else e
    case _ => i
  }

  /** Index of the first code character at or after `from` for which
    * `hit(index, depth)` holds — `depth` counting the brackets opened
    * since `from` and not yet closed — or -1. */
  def find(s: String, from: Int = 0)(hit: (Int, Int) => Boolean): Int = {
    var depth = 0
    var i = from
    while (i < s.length) {
      val e = spanEnd(s, i)
      if (e > i) i = e
      else {
        if (hit(i, depth)) return i
        val c = s.charAt(i)
        if (c == '(' || c == '[') depth += 1
        else if ((c == ')' || c == ']') && depth > 0) depth -= 1
        i += 1
      }
    }
    -1
  }

  /** True iff `s(i)` is code. */
  def isCode(s: String, i: Int): Boolean = find(s)((j, _) => j >= i) == i

  /** The trimmed, non-empty pieces of `s` between top-level `sep`s. */
  def split(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0
    var i = 0
    while (i >= 0) {
      i = find(s, start)((j, d) => d == 0 && s.charAt(j) == sep)
      val piece = s.substring(start, if (i < 0) s.length else i).trim
      if (piece.nonEmpty) out += piece
      start = i + 1
    }
    out.result()
  }

  /** Index of the first top-level, whole-word, case-insensitive `kw`
    * at or after `from`, or -1. */
  def keyword(s: String, kw: String, from: Int = 0): Int = {
    def word(j: Int) = j >= 0 && j < s.length &&
      (Character.isLetterOrDigit(s.charAt(j)) || s.charAt(j) == '_')
    find(s, from)((j, d) => d == 0 && s.regionMatches(true, j, kw, 0,
      kw.length) && !word(j - 1) && !word(j + kw.length))
  }

  /** Index of the bracket that closes the `(` or `[` at `open`, or -1. */
  def matchParen(s: String, open: Int): Int =
    find(s, open + 1)((j, d) => d == 0 && (s.charAt(j) == ')' ||
      s.charAt(j) == ']'))

  /** `s` with `f` applied to each run of code between quoted spans and
    * comments; the spans themselves pass through verbatim. */
  def mapCode(s: String)(f: String => String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var run = 0
    var i = 0
    while (i < s.length) {
      val e = spanEnd(s, i)
      if (e > i) {
        out.append(f(s.substring(run, i))).append(s, i, e)
        i = e
        run = e
      } else i += 1
    }
    out.append(f(s.substring(run))).toString
  }

  /** `s` with every quoted span and comment blanked to spaces: the same
    * length, so a position found by a regex over the mask is a position
    * in `s`, and nothing quoted can match. */
  def mask(s: String): String = {
    val a = s.toCharArray
    var i = 0
    while (i < a.length) {
      val e = spanEnd(s, i)
      if (e > i) { java.util.Arrays.fill(a, i, e, ' '); i = e }
      else i += 1
    }
    new String(a)
  }
}
