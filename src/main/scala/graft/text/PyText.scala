package graft.text

/** Python-compatible string semantics used by the reference pipeline.
  *
  * The reference (CPython) defines "whitespace", "letter", "digit" and line
  * boundaries via the Unicode database (`str.isspace`, `str.isalpha`,
  * `str.splitlines` — see `/root/reference/data/the_stack/create_stack_snippets.py:120-175`).
  * JVM `Character.isWhitespace` differs on a few codepoints (e.g. U+00A0),
  * so we pin the Python definitions here once and use them everywhere the
  * north rule requires decision parity with the reference.
  *
  * All functions iterate by codepoint (not UTF-16 char) so supplementary
  * planes are counted as one character, matching Python's len()/iteration.
  */
object PyText {

  /** Python `str.isspace` for a single codepoint: Unicode Zs, or
    * bidirectional class WS/B/S. JVM equivalent: isWhitespace ∪ isSpaceChar.
    */
  @inline def isSpace(cp: Int): Boolean =
    Character.isWhitespace(cp) || Character.isSpaceChar(cp) ||
      cp == 0x85 // NEL: Python isspace=True, JVM misses it (Cc, non-Zs)

  /** Python `str.isalpha`: Unicode general category L*. */
  @inline def isAlpha(cp: Int): Boolean = Character.isLetter(cp)

  /** Python `str.isdigit`: decimal digits (Nd) plus digit-property chars.
    * JVM Character.isDigit covers Nd; the extra Python digits (e.g. '²')
    * have Character.getType == OTHER_NUMBER with a defined digit value.
    */
  @inline def isDigit(cp: Int): Boolean =
    Character.isDigit(cp) || {
      // Numeric_Type=Digit chars (e.g. '²', '①') are category No with a
      // single-digit numeric value; fractions like '½' report -2.
      Character.getType(cp) == Character.OTHER_NUMBER && {
        val v = Character.getNumericValue(cp); v >= 0 && v <= 9
      }
    }

  /** Python `str.isalnum`: isalpha or isdecimal or isdigit or isnumeric. */
  @inline def isAlnum(cp: Int): Boolean =
    Character.isLetterOrDigit(cp) || {
      val t = Character.getType(cp)
      t == Character.LETTER_NUMBER || t == Character.OTHER_NUMBER
    }

  /** True if `s.strip()` would be non-empty in Python (any non-space cp). */
  def hasNonSpace(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (!isSpace(cp)) return true
      i += Character.charCount(cp)
    }
    false
  }

  /** Line terminators recognized by Python `str.splitlines`. */
  @inline def isPyLineBreak(c: Char): Boolean = isLineBreak(c)

  @inline private def isLineBreak(c: Char): Boolean = c match {
    case '\n' | '\r' | '\u000b' | '\u000c' | '\u001c' | '\u001d' |
        '\u001e' | '\u0085' | '\u2028' | '\u2029' => true
    case _ => false
  }

  /** Python `str.splitlines()` (keepends=false). Notably: no trailing empty
    * line for a trailing terminator, "" → [], "\r\n" is one break.
    */
  def splitLines(s: String): Array[String] = {
    if (s.isEmpty) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (isLineBreak(c)) {
        out += s.substring(start, i)
        if (c == '\r' && i + 1 < n && s.charAt(i + 1) == '\n') i += 2 else i += 1
        start = i
      } else i += 1
    }
    if (start < n) out += s.substring(start)
    out.toArray
  }
}
