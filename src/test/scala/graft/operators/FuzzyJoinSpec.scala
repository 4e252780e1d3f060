package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  private def brute(rows: Seq[(Long, String)],
                    maxDist: Int = 1): Set[(Long, Long, Int)] = {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && lev(sa, sb) <= maxDist
    } yield (ia, ib, lev(sa, sb))).toSet
  }

  test("matches brute force exactly: substitutions, inserts, deletes, equals") {
    val rows = Seq(
      1L -> "kitten", 2L -> "mitten", 3L -> "kittens", 4L -> "itten",
      5L -> "kitten", 6L -> "sitting", 7L -> "aaa", 8L -> "aab", 9L -> "ab",
      10L -> "x")
    val got = FuzzyJoin
      .editDistance1Pairs(rows.toDF("id", "s"), "id", "s")
      .select($"id_a", $"id_b", $"dist")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == brute(rows))
  }

  test("each qualifying pair appears exactly once despite multi-key overlap") {
    // identical strings share EVERY deletion key — the worst fan-out
    val rows = Seq(1L -> "aaaa", 2L -> "aaaa", 3L -> "aaa")
    val got = FuzzyJoin.editDistance1Pairs(rows.toDF("id", "s"), "id", "s")
    assert(got.count() == got.select("id_a", "id_b").distinct().count())
    assert(got.count() == 3)
  }

  test("randomized differential: blocked join == brute force on collision-heavy corpora") {
    val rnd = new scala.util.Random(91)
    for (round <- 1 to 5) {
      // tiny alphabet + short strings -> dense edit-distance neighborhoods
      val n = 60 + rnd.nextInt(40)
      val rows = (1 to n).map { i =>
        val len = 1 + rnd.nextInt(6)
        (i.toLong, Seq.fill(len)(('a' + rnd.nextInt(3)).toChar).mkString)
      }
      val got = FuzzyJoin
        .editDistance1Pairs(rows.toDF("id", "s"), "id", "s")
        .select($"id_a", $"id_b", $"dist")
        .as[(Long, Long, Int)].collect().toSet
      assert(got == brute(rows), s"round $round diverged (n=$n)")
    }
  }

  test("randomized differential at maxDist=2: radius-2 keys stay complete") {
    val rnd = new scala.util.Random(137)
    for (round <- 1 to 3) {
      val n = 40 + rnd.nextInt(30)
      val rows = (1 to n).map { i =>
        val len = 1 + rnd.nextInt(7)
        (i.toLong, Seq.fill(len)(('a' + rnd.nextInt(3)).toChar).mkString)
      }
      val got = FuzzyJoin
        .editDistancePairs(rows.toDF("id", "s"), "id", "s", maxDist = 2)
        .select($"id_a", $"id_b", $"dist")
        .as[(Long, Long, Int)].collect().toSet
      assert(got == brute(rows, maxDist = 2), s"round $round diverged (n=$n)")
    }
  }

  test("compiled DeletionNeighborhood == HOF reference (differential, random strings)") {
    val rnd = new scala.util.Random(23)
    val strings = Seq("", "a", "aa", "aaa", "abba", "mississippi") ++
      (1 to 200).map { _ =>
        Seq.fill(1 + rnd.nextInt(12))(('a' + rnd.nextInt(4)).toChar).mkString
      }
    val df = strings.toDF("s")
    val rows = df.select(
        org.apache.spark.sql.graft.DeletionNeighborhood($"s").as("compiled"),
        FuzzyJoin.deletionKeysHof($"s").as("hof"))
      .as[(Seq[String], Seq[String])].collect()
    for (((compiled, hof), s) <- rows.zip(strings))
      assert(compiled.toSet == hof.toSet, s"diverged on '$s'")
    // dedup is real: no duplicate keys emitted even for runs
    for ((compiled, _) <- rows)
      assert(compiled.distinct == compiled)
    // the key sets at both radii, by hand
    val abc = Seq("abc").toDF("s").select(
        org.apache.spark.sql.graft.DeletionNeighborhood($"s"),
        org.apache.spark.sql.graft.DeletionNeighborhood($"s", 2))
      .as[(Seq[String], Seq[String])].head()
    assert(abc._1.toSet == Set("abc", "bc", "ac", "ab"))
    assert(abc._2.toSet == Set("abc", "bc", "ac", "ab", "a", "b", "c"))
  }

  test("null ids and null strings are dropped") {
    val rows = Seq[(java.lang.Long, String)](
      (1L, "abc"), (2L, null), (null, "abc"), (3L, "abd"))
      .toDF("id", "s")
    val got = FuzzyJoin.editDistance1Pairs(rows, "id", "s")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 3L)))
  }

  test("duplicate-heavy corpus stays brute-exact; strings keep their ids on swap") {
    // 40 copies of one string + near neighbors: the string-level
    // candidate join must still produce exactly the brute-force pair
    // set, with each pair oriented id_a < id_b and str_a = id_a's string
    val rows = (1L to 40L).map(_ -> "aaaa") ++
      Seq(100L -> "aaab", 101L -> "aab", 50L -> "zzzz")
    val got = FuzzyJoin.editDistance1Pairs(rows.toDF("id", "s"), "id", "s")
    val tuples = got.select($"id_a", $"id_b", $"dist")
      .as[(Long, Long, Int)].collect().toSet
    assert(tuples == brute(rows))
    val byId = rows.toMap
    for ((ia, sa, ib, sb) <- got.select($"id_a", $"str_a", $"id_b", $"str_b")
        .as[(Long, String, Long, String)].collect()) {
      assert(ia < ib)
      assert(sa == byId(ia) && sb == byId(ib))
    }
  }

  test("maxFrequency cap drops hot-string blocks from pairing entirely") {
    // 5 copies of the hot string: over the cap it contributes NOTHING
    // (no within-group pairs, no cross pairs to its neighbor)
    val rows = (1L to 5L).map(_ -> "hot") ++ Seq(10L -> "hob", 11L -> "cold")
    val capped = FuzzyJoin.editDistancePairs(rows.toDF("id", "s"), "id", "s",
      maxDist = 1, maxFrequency = 4L)
    assert(capped.count() == 0)
    // at/below the cap the full brute-force set is back
    val uncapped = FuzzyJoin.editDistancePairs(rows.toDF("id", "s"), "id", "s",
      maxDist = 1, maxFrequency = 5L)
      .select($"id_a", $"id_b", $"dist").as[(Long, Long, Int)].collect().toSet
    assert(uncapped == brute(rows))
  }
}
