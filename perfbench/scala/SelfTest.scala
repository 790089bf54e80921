package perfbench

import org.apache.spark.sql.SparkSession

/** Checks of the JVM half of the benchmark, run by perfbench/test_perfbench.py:
  * the row digest ignores row order and partitioning, sees a changed row,
  * and tolerates float noise below 9 significant digits; the key-order
  * permutation is a fixed function of the seed. Exits non-zero on failure.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rows = (1 to 50).map(i => (i, s"s$i", i * 0.1, Seq(i * 1.5, -i * 0.25)))
    val base = rows.toDF("a", "b", "c", "d")
    val (n, digest) = PerfBench.rowDigest(base)
    check(n == 50, s"count $n")
    val shuffled = scala.util.Random.shuffle(rows).toDF("a", "b", "c", "d")
      .repartition(7)
    check(PerfBench.rowDigest(shuffled)._2 == digest, "order changed the digest")
    val noisy = rows.map { case (a, b, c, d) => (a, b, c * (1 + 1e-13), d) }
      .toDF("a", "b", "c", "d")
    check(PerfBench.rowDigest(noisy)._2 == digest, "float noise changed the digest")
    val changed = rows.updated(3, (4, "s4", 0.5, Seq(6.0, -1.0)))
      .toDF("a", "b", "c", "d")
    check(PerfBench.rowDigest(changed)._2 != digest, "a changed row kept the digest")
    val dup = (rows :+ rows.head).toDF("a", "b", "c", "d")
    check(PerfBench.rowDigest(dup)._2 != digest, "a duplicated row kept the digest")

    val keys = (1 to 12).map(i => s"k$i")
    val p = PerfBench.permutation(keys, 7L, 3)
    check(p == PerfBench.permutation(keys, 7L, 3), "permutation not repeatable")
    check(p.sorted == keys.sorted, "permutation lost keys")
    check(p != PerfBench.permutation(keys, 8L, 3), "seed did not change the order")
    spark.stop()
    println("selftest ok")
  }

  private def check(ok: Boolean, what: String): Unit =
    if (!ok) throw new AssertionError(what)
}
