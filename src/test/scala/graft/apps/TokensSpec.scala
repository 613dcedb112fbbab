package graft.apps

import java.util.regex.Pattern
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** `Tokens` must split exactly like the regex it replaces, a `\s+`
  * split with empty tokens dropped, on any mix of `\s` separators,
  * whitespace `\s` does not match, and non-ASCII letters. (Raw
  * ScalaCheck Gen sampling under a fixed seed, as in
  * MapReducePropertySpec.) */
class TokensSpec extends AnyFunSuite {

  private val regex = Pattern.compile("\\s+")

  private val charGen: Gen[Char] = Gen.frequency(
    6 -> Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r'), // Java's \s
    3 -> Gen.oneOf('\u00A0', '\u2003', '\u0085', '\u001C'), // whitespace \s does not match
    6 -> Gen.oneOf('a', 'Z', '9', '-', '!', '\u00E9', '\u00DF', '\u0436', '\u8A9E', '\u0301'),
    1 -> Gen.choose('\u0000', '\uFFFF'))
  private val lineGen: Gen[String] = Gen.resize(40, Gen.listOf(charGen)).map(_.mkString)

  test("Tokens == Pattern \\s+ split without empty tokens") {
    val lines = (0 until 2000).flatMap(i => lineGen.apply(Gen.Parameters.default, Seed(7L + i)))
    val edges = Seq("", " ", "\t\r\n", "a", " a ", "a  b", " a  b ", "\u0085\u001C")
    (edges ++ lines).foreach { line =>
      assert(Tokens(line).toSeq == regex.split(line).toSeq.filter(_.nonEmpty), s"line=${line.map(_.toInt)}")
    }
  }

  test("Tokens stops with NoSuchElementException past the last token") {
    val it = Tokens(" only ")
    assert(it.next() == "only" && !it.hasNext)
    assertThrows[NoSuchElementException](it.next())
  }
}
