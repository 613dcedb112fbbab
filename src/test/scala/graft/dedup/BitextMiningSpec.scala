package graft.dedup

import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import graft.SparkTestBase

/** Pins q237 bitext mining against a full JVM replay of the plant and
  * the miner: banding is COMPLETE for every planted translation pair
  * (the r16 done-criterion), the Jaccard gate is exact, the mined set
  * equals the brute-force set of banding-collided pairs at J >= 0.30,
  * sides never pair within themselves, and the skew cap provably does
  * not bind at this SF (so the oracle's QUALIFY replay is vacuous-safe). */
class BitextMiningSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.01"
  private def fixture = java.nio.file.Files.exists(
    java.nio.file.Paths.get(s"$dir/documents.parquet"))

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private def toks(text: String): Vector[String] =
    text.split("\\s+").filter(_.nonEmpty).toVector
  private def shingles(ts: Vector[String], raw: String): Set[String] =
    if (ts.length >= 3) (0 to ts.length - 3).map(i => ts.slice(i, i + 3).mkString(" ")).toSet
    else Set(raw)
  private def sig(sh: Set[String], j: Int): String =
    sh.map(s => (md5hex(s"a|$s") + md5hex(s"b|$s")).substring(8 * j, 8 * j + 8)).min

  test("q237 takes the typed shuffle width: a padded ' 4 ' setting is valid") {
    assume(fixture)
    val padded = spark.newSession()
    padded.conf.set("spark.sql.shuffle.partitions", " 4 ") // Spark trims when it validates
    val plan = graft.SparkEntry.queries("q237_bitext_mining")(padded, dir).queryExecution.optimizedPlan
    assert(plan.collect { case r: RepartitionByExpression => r.numPartitions }.contains(4))
  }

  test("q237: banding complete for plants, Jaccard gate exact, mined == brute force") {
    assume(fixture)
    val docs = graft.core.Tables.documents(spark, dir)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val langs = Vector("zh", "es", "de", "fr")

    // replay the plant + the miner's normalized shingle space
    val src = docs.filter(_._2 == "en").map { case (id, _, t) =>
      id -> shingles(toks(t), t)
    }.toMap
    val planted = docs.filter { case (id, l, _) =>
      l == "en" && md5hex(s"bitext|$id").head < '8'
    }.map { case (id, _, t) =>
      val lang = langs((id % 4).toInt)
      val kept = toks(t).zipWithIndex
        .filter { case (_, i) => md5hex(s"drop|$id|$i").head != '0' }
        .map { case (tok, _) => s"$lang¦$tok" } // what the plant emits
      // the miner strips the prefix back off (inverse lexicon)
      val ntoks = kept.map(_.stripPrefix(s"$lang¦"))
      (id + 10000000000L, lang, shingles(ntoks, ntoks.mkString(" ")))
    }
    val distract = docs.filter(_._2 != "en").map { case (id, l, t) =>
      (id, l, shingles(toks(t), t))
    }
    val xx = (planted ++ distract).map { case (id, l, sh) => id -> (l, sh) }.toMap

    // banding replay: 8 bands x 1 row over minhash K=8; also check the
    // 64-cap can't bind (largest bucket counted across BOTH sides)
    val bandIndex = scala.collection.mutable.Map.empty[(Int, String), List[(Long, Boolean)]]
    src.foreach { case (id, sh) =>
      (0 until 8).foreach(j => bandIndex.updateWith((j, sig(sh, j)))(o => Some((id, true) :: o.getOrElse(Nil))))
    }
    xx.foreach { case (id, (_, sh)) =>
      (0 until 8).foreach(j => bandIndex.updateWith((j, sig(sh, j)))(o => Some((id, false) :: o.getOrElse(Nil))))
    }
    assert(bandIndex.values.map(_.length).max <= 64,
      "skew cap would bind at this SF — oracle QUALIFY no longer vacuous")
    val candidates: Set[(Long, Long)] = bandIndex.values.flatMap { bucket =>
      for ((a, true) <- bucket; (b, false) <- bucket) yield (a, b)
    }.toSet

    def jac(a: Set[String], b: Set[String]): (Long, Long) = {
      val i = a.intersect(b).size.toLong
      (i * 1000000L / (a.size + b.size - i), i)
    }

    // 1. banding is COMPLETE for the plants: every planted pair is a
    //    candidate (P[miss] ~ (1-J)^8; deterministic here)
    val plantPairs = planted.map(p => (p._1 - 10000000000L, p._1)).toSet
    assert(plantPairs.nonEmpty && plantPairs.forall(candidates.contains),
      s"banding missed plants: ${plantPairs.filterNot(candidates.contains)}")

    // 2. brute-force expected mined set: banding-collided pairs with
    //    J >= 0.30 in the normalized space
    val expected = candidates.flatMap { case (a, b) =>
      val (jppm, _) = jac(src(a), xx(b)._2)
      if (jppm >= 300000L) Some((s"en-${xx(b)._1}", a, b, jppm)) else None
    }

    val got = graft.SparkEntry.queries("q237_bitext_mining")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected,
      s"mined diff: ${got.diff(expected)} / ${expected.diff(got)}")

    // 3. the precision gate is live: exactly the sub-threshold plants
    //    are candidates-but-not-mined (doc 116 at sf0.01: a 10-token
    //    doc that lost 2 tokens, J = 3/11 = 0.27 — found by banding,
    //    correctly rejected by verification)
    val minedPlantEn = got.collect { case (_, en, x, _) if x == en + 10000000000L => en }
    val rejected = plantPairs.map(_._1).diff(minedPlantEn)
    rejected.foreach { en =>
      val (jppm, _) = jac(src(en), xx(en + 10000000000L)._2)
      assert(jppm < 300000L, s"plant $en rejected but J=$jppm >= gate")
    }
    info(s"plants: ${plantPairs.size}, mined plants: ${minedPlantEn.size}, " +
      s"gate-rejected: ${rejected.size}, cross pairs: ${got.size - minedPlantEn.size}")

    // 4. sides never pair within themselves (en-en dups and xx-xx dups
    //    are other queries' jobs): every mined pair is src x xx
    assert(got.forall { case (lp, en, x, _) =>
      src.contains(en) && xx.contains(x) && lp == s"en-${xx(x)._1}" })
  }
}
