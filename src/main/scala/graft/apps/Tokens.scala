package graft.apps

/** The facade apps' tokenizer: the reference's `stringstream >>` words
  * (`src/WordCounter.cpp:24-29`), i.e. a `\s+` split with empty tokens
  * dropped. Java's `\s` is exactly `[ \t\n\x0B\f\r]`, so a char loop
  * over those six separators yields the same tokens as
  * `Pattern.compile("\\s+").split` without running a regex per line. */
private[apps] object Tokens {

  /** `\s` without UNICODE_CHARACTER_CLASS: space and `\t` .. `\r`. */
  private def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  def apply(line: String): Iterator[String] = new Iterator[String] {
    private var i = skipSpaces(0)

    private def skipSpaces(from: Int): Int = {
      var j = from
      while (j < line.length && isSpace(line.charAt(j))) j += 1
      j
    }

    def hasNext: Boolean = i < line.length

    def next(): String = {
      if (!hasNext) throw new NoSuchElementException("no more tokens")
      val start = i
      while (i < line.length && !isSpace(line.charAt(i))) i += 1
      val token = line.substring(start, i)
      i = skipSpaces(i)
      token
    }
  }
}
