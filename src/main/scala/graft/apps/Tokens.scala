package graft.apps

import java.util.regex.Pattern

/** The facade apps' tokenizer: the reference's `stringstream >>` words
  * (`src/WordCounter.cpp:24-29`), i.e. a `\s+` split with empty tokens
  * dropped. The pattern is compiled once: `String.split` would compile
  * it again for every line, and delegates to the same `Pattern.split`,
  * so the tokens are identical. */
private[apps] object Tokens {
  private val Whitespace = Pattern.compile("\\s+")

  def apply(line: String): Iterator[String] = Whitespace.split(line).iterator.filter(_.nonEmpty)
}
