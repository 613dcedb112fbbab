package graft.apps

import org.scalatest.funsuite.AnyFunSuite

/** InvertedIndex's reducer, the reference's `sort` + `unique`, must give
  * what `distinct.sorted` gives on any multiset of strings. */
class SortUniqueSpec extends AnyFunSuite {

  test("sortUnique == distinct.sorted (seeded)") {
    val rnd = new scala.util.Random(20261019L)
    val pieces = Seq("", "0", "1", "2", "10", "a", "é", "😀", "\uD800", "\uDC00", "￿", " ")
    def value(): String = rnd.nextInt(4) match {
      case 0 => rnd.nextInt(200).toString // line numbers: "10" < "2"
      case 1 => Seq.fill(rnd.nextInt(4))(rnd.nextInt(0x10000).toChar).mkString // lone surrogates too
      case _ => Seq.fill(rnd.nextInt(4))(pieces(rnd.nextInt(pieces.size))).mkString
    }
    val edges = Seq(Seq.empty, Seq(""), Seq("7"), Seq("2", "10", "2"), Seq("\uDC00", "😀", "￿"))
    val random = Seq.fill(500) {
      val distinct = Seq.fill(1 + rnd.nextInt(20))(value())
      Seq.fill(rnd.nextInt(60))(distinct(rnd.nextInt(distinct.size))) // duplicates
    }
    (edges ++ random).foreach { vs =>
      assert(InvertedIndex.sortUnique(vs.iterator) == vs.distinct.sorted, s"values ${vs.map(_.map(_.toInt))}")
    }
    assert(InvertedIndex.sortUnique(Iterator("2", "10", "2", "0")) == Seq("0", "10", "2"))
  }
}
