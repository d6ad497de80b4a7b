package perfbench

import graft.operators.{FixSql, TableDiff}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Tests of the benchmark's own pieces: planter determinism, the tier
  * self-check, and the output checker against the program's real fix-SQL
  * on a small table, both intact and deliberately wrong.
  *
  * Usage: python3 perfbench/run.py --selftest   (exit 0 when all pass)
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Exception =>
      println(s"  $e"); false }
    if (!pass) failures += 1
    println(s"${if (pass) "ok  " else "FAIL"} $name")
  }

  private val SfOneOrders = 1500000L
  private val drifting = Seq(Plant.Contiguous, Plant.Scattered, Plant.Pervasive)

  private def same(a: Plant.Expected, b: Plant.Expected): Boolean =
    a.missing.sameElements(b.missing) && a.mutated.sameElements(b.mutated) &&
      a.extra.sameElements(b.extra) && a.badChunks.sameElements(b.badChunks) &&
      a.mergedRanges == b.mergedRanges && a.tier == b.tier

  def main(args: Array[String]): Unit = {
    for (r <- drifting) {
      test(s"${r.name}: the same seed plants the same keys") {
        same(Plant.expected(r, 7, SfOneOrders), Plant.expected(r, 7, SfOneOrders))
      }
      test(s"${r.name}: another seed plants other keys") {
        !same(Plant.expected(r, 7, SfOneOrders), Plant.expected(r, 8, SfOneOrders))
      }
      test(s"${r.name}: seeds 1..20 at sf1 reach the ${r.tier} tier") {
        (1 to 20).forall { s =>
          Plant.refusal(r, s, SfOneOrders, Plant.expected(r, s, SfOneOrders)).isEmpty
        }
      }
    }
    test("no drift plants nothing") {
      Plant.expected(Plant.NoDrift, 7, SfOneOrders).drifted == 0
    }
    test("scattered drift over 40 chunks merges into few ranges and is refused") {
      val n = 20 * Plant.ChunkWidth
      val e = Plant.expected(Plant.Scattered, 7, n)
      e.tier == "range" && Plant.refusal(Plant.Scattered, 7, n, e).nonEmpty
    }
    test("the tier rule follows TableDiff's thresholds") {
      Plant.tierOf(0, 0) == "none" && Plant.tierOf(500, 32) == "range" &&
        Plant.tierOf(500, 33) == "semi" && Plant.tierOf(100001, 33) == "flat"
    }

    val spark = SparkSession.builder().master("local[2]")
      .appName("perfbench-selftest")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // an orders-shaped table of 24 chunks, keys 0 until n
      val n = 24 * Plant.ChunkWidth
      val id = col("id")
      val up = spark.range(n).select(id.as("o_orderkey"),
        (id % 997).as("o_custkey"),
        element_at(array(lit("O"), lit("F"), lit("P")),
          (id % 3 + 1).cast("int")).as("o_orderstatus"),
        round(id * 1.25 % 5000 + 1000, 2).as("o_totalprice"))
      val spec = TableDiff.DiffSpec(Seq("o_orderkey"), "o_orderkey",
        Plant.ChunkWidth)
      for (r <- drifting) {
        val e = Plant.expected(r, 3, n)
        val down = Plant.downstream(up, r, 3, n)
        test(s"${r.name}: replanting with one seed gives identical counts") {
          val counts = Seq.fill(2)(Plant.downstream(up, r, 3, n).count())
          counts.distinct == Seq(n - e.missing.length + e.extra.length)
        }
        val rd = TableDiff.rowDiff(up, down, spec)
        val lines = FixSql.fromRowDiff(rd, "orders", spec.pkCols)
          .select("fix_sql").collect().map(_.getString(0)).toSeq
        test(s"${r.name}: the checker accepts the program's fix-SQL") {
          Reconcile.checkFixSql(lines, "orders", "o_orderkey", e).isEmpty &&
            Reconcile.checkTier(rd, "orders", "o_orderkey", e).isEmpty
        }
        val replace = lines.filter(_.startsWith("REPLACE"))
        val delete = lines.filter(_.startsWith("DELETE"))
        val wrong = Seq(
          "a missing REPLACE" -> lines.filterNot(_ == replace.head),
          "a missing DELETE" -> lines.filterNot(_ == delete.head),
          "a DELETE for a REPLACE key" -> (lines.filterNot(_ == replace.head) :+
            s"DELETE FROM orders WHERE o_orderkey = ${
              Reconcile.parseFixSql(Seq(replace.head), "orders", "o_orderkey")._1.head};"),
          "a shifted DELETE key" -> (lines.filterNot(_ == delete.head) :+
            delete.head.replace(" = ", " = 1")),
          "a duplicated statement" -> (lines :+ lines.head),
          "an unparsable line" -> (lines :+ "UPDATE orders SET x = 1;"))
        for ((what, bad) <- wrong)
          test(s"${r.name}: the checker rejects fix-SQL with $what") {
            Reconcile.checkFixSql(bad, "orders", "o_orderkey", e).nonEmpty
          }
        test(s"${r.name}: the tier check rejects another tier") {
          Reconcile.checkTier(rd, "orders", "o_orderkey",
            e.copy(tier = if (e.tier == "range") "semi" else "range")).nonEmpty
        }
      }
    } finally spark.stop()

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
