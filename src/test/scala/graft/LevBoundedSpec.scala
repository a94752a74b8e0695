package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

/** LevKernel.bounded — banded DP vs a reference full-matrix Levenshtein. */
class LevBoundedSpec extends AnyFunSuite {
  import TestSpark._

  private def reference(a: String, b: String): Int = {
    val s = a.codePoints().toArray; val t = b.codePoints().toArray
    val d = Array.tabulate(s.length + 1, t.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to s.length; j <- 1 to t.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (s(i - 1) == t(j - 1)) 0 else 1))
    d(s.length)(t.length)
  }

  private def bounded(a: String, b: String, k: Int): Int =
    graft.functions.LevKernel.bounded(UTF8String.fromString(a), UTF8String.fromString(b), k)

  test("bounded == min(full, k+1) on 2000 seeded random pairs, k in 0..6") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdé 字"
    def word() = (0 until rnd.nextInt(25)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    (1 to 2000).foreach { _ =>
      val (a, b, k) = (word(), word(), rnd.nextInt(7))
      val exp = math.min(reference(a, b), k + 1)
      val got = bounded(a, b, k)
      assert(got == exp, s"a='$a' b='$b' k=$k: got $got expected $exp")
    }
  }

  test("edge cases: empty strings, identical, length gap beyond bound") {
    assert(bounded("", "", 3) == 0)
    assert(bounded("", "abc", 3) == 3)
    assert(bounded("", "abcd", 3) == 4)   // k+1
    assert(bounded("same", "same", 0) == 0)
    assert(bounded("abcdefgh", "ab", 2) == 3) // length gap 6 > k → k+1
  }

  test("codegen'd lev_bounded equals interpreted and Spark's levenshtein under the bound") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    def word() = (0 until rnd.nextInt(15)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val df = Seq.fill(500)((word(), word())).toDF("a", "b")
    val rows = df.select(expr("lev_bounded(a, b, 4)").as("lb"),
        least(levenshtein(col("a"), col("b")), lit(5)).as("lv")).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("lev_bounded rejects negative k") {
    intercept[IllegalArgumentException](bounded("a", "b", -1))
  }
}
