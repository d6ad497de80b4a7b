package graft

import graft.functions.Canonical
import graft.operators._
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY.md §5.2): for arbitrary generated perturbations
  * p in {delete k, mutate k, insert k}, diff(A, p(A)) reports EXACTLY p,
  * and repairing with that diff restores equality. Generators sample from
  * fixed seeds (deterministic CI; no scalatestplus bridge in the offline
  * dependency cache, so sampling is driven directly).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val spec = TableDiff.DiffSpec(
    pkCols = Seq("id"), chunkBy = "id", chunkWidth = 16)

  private def table(n: Int) = spark.range(0, n).toDF("id")
    .withColumn("payload", concat(lit("row-"), col("id")))
    .withColumn("amount", (col("id") % 97).cast("double") / 4)

  private case class Drift(deletes: Set[Long], mutates: Set[Long], inserts: Set[Long])

  private val drifts: Gen[(Int, Drift)] = for {
    n <- Gen.choose(20, 200)
    del <- Gen.someOf(0L until n.toLong)
    mut <- Gen.someOf(0L until n.toLong)
    ins <- Gen.someOf(0L until 20L)
  } yield (n, Drift(del.toSet, mut.toSet -- del.toSet, ins.toSet))

  private def samples[A](g: Gen[A], count: Int): Seq[A] =
    (1 to count).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong * 7919)))

  test("diff(A, p(A)) reports exactly the generated perturbation, and repair undoes it") {
    samples(drifts, 8).foreach { case (n, d) =>
      val up = table(n)
      val down = up
        .filter(!col("id").isin(d.deletes.toSeq: _*))
        .withColumn("amount",
          when(col("id").isin(d.mutates.toSeq: _*), col("amount") + 1)
            .otherwise(col("amount")))
        .unionByName(
          table(n + 20).filter(col("id").isin(d.inserts.map(_ + n).toSeq: _*)))

      val rd = TableDiff.rowDiff(up, down, spec).collect()
      val byKind = rd.groupBy(_.getString(1)).view
        .mapValues(_.map(_.getLong(0)).toSet).toMap
      assert(byKind.getOrElse("missing_on_down", Set.empty) == d.deletes,
        s"n=$n drift=$d")
      assert(byKind.getOrElse("value_mismatch", Set.empty) == d.mutates)
      assert(byKind.getOrElse("extra_on_down", Set.empty) == d.inserts.map(_ + n))

      val repaired = Repair.repair(down, up,
        TableDiff.rowDiff(up, down, spec), spec.pkCols)
      assert(HashDiff.diff(up, repaired).isEmpty)
    }
  }

  test("diff(A, A) is empty for arbitrary sizes") {
    samples(Gen.choose(0, 300), 5).foreach { n =>
      val t = table(n)
      assert(TableDiff.rowDiff(t, t, spec).isEmpty)
      assert(HashDiff.diff(t, t).isEmpty)
    }
  }

  test("keyless summary equals a one-pass multiset reference under random drift") {
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"),
      when(col("id") % 13 === 0, lit(null))
        .otherwise(concat(lit("row-"), col("id"))).as("payload"),
      ((col("id") % 97).cast("double") / 4).as("amount"))
    def fpCounts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select(Canonical.fingerprint(
        df.schema.fields.toSeq.map(f => (col(f.name), f.dataType))))
        .as[String].collect().groupBy(identity).view.mapValues(_.length.toLong).toMap
    // (upcount, downcount, #fingerprints whose multiplicity differs)
    def reference(up: org.apache.spark.sql.DataFrame,
                  down: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val (u, d) = (fpCounts(up), fpCounts(down))
      (u.values.sum, d.values.sum, (u.keySet ++ d.keySet)
        .count(k => u.getOrElse(k, 0L) != d.getOrElse(k, 0L)).toLong)
    }
    def ids(n: Int, k: Int) = Gen.containerOfN[Set, Long](k, Gen.choose(0L, n - 1L))
    // regimes: zero drift, a few buckets, about half of the buckets
    // (phase 2 filters to them), every bucket (phase 2 keeps every row)
    val regimes: Seq[(Int, Int, Boolean)] = Seq(
      (3000, 0, false), (3000, 4, false), (12000, 600, false), (12000, 40, true))
    regimes.zipWithIndex.foreach { case ((n, k, mutateAll), i) =>
      val drift = for {
        missing <- ids(n, k); extra <- Gen.choose(0, k)
        mutated <- ids(n, k); dups <- ids(n, k)
      } yield (missing, extra, mutated, dups)
      samples(drift, 2).zipWithIndex.foreach { case ((missing, extra, mutated, dups), j) =>
        val up = rows(0, n).orderBy(rand(seed = i * 10 + j))
        val down = rows(0, n)
          .filter(!col("id").isin(missing.toSeq: _*))
          .withColumn("amount",
            when(lit(mutateAll) || col("id").isin(mutated.toSeq: _*), col("amount") + 1)
              .otherwise(col("amount")))
          .unionByName(rows(0, n).filter(col("id").isin(dups.toSeq: _*)))
          .unionByName(rows(n, n + extra))
        val r = HashDiff.summary(up, down).collect()(0)
        val got = (r.getLong(0), r.getLong(1), r.getLong(2))
        val want = reference(up, down)
        assert(got == want, s"n=$n missing=$missing extra=$extra mutated=$mutated " +
          s"dups=$dups mutateAll=$mutateAll")
        if (k == 0) assert(want._3 == 0L)
      }
    }
  }

  test("hash-bucket chunking is diff-invariant across arbitrary bucket counts") {
    val (n, d) = samples(drifts, 1).head
    val up = table(n)
    val down = up
      .filter(!col("id").isin(d.deletes.toSeq: _*))
      .withColumn("amount",
        when(col("id").isin(d.mutates.toSeq: _*), col("amount") + 1)
          .otherwise(col("amount")))
      .unionByName(
        table(n + 20).filter(col("id").isin(d.inserts.map(_ + n).toSeq: _*)))
    val ranged = TableDiff.rowDiff(up, down, spec)
      .orderBy("id").collect().toSeq
    // 1 bucket (everything dirty -> flat tier), prime, and power-of-two
    // counts plus random samples must all yield the identical diff
    (Seq(1, 2, 127, 4096) ++ samples(Gen.choose(3, 999), 3)).foreach { b =>
      val hashed = TableDiff.rowDiff(up, down, spec.copy(hashBuckets = Some(b)))
        .orderBy("id").collect().toSeq
      assert(hashed == ranged, s"buckets=$b diverged")
    }
  }

  test("components equal a union-find reference on arbitrary pair graphs") {
    val graphs: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.choose(5, 60)
      m <- Gen.choose(1, 80)
      pairs <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong)
        b <- Gen.choose(0L, n.toLong) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield pairs.distinct

    def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .map(x => x -> find(x)).toMap
    }

    samples(graphs, 6).filter(_.nonEmpty).foreach { pairs =>
      val got = Dedup.components(pairs.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == unionFind(pairs), s"pairs=$pairs")
    }
  }

  test("chunk checksums are insensitive to row order (commutative combine)") {
    samples(Gen.choose(10, 200), 5).foreach { n =>
      val t = table(n)
      val shuffled = t.orderBy(rand(seed = 7))
      val a = TableDiff.chunkChecksums(t, spec).orderBy("chunk_id").collect().toSeq
      val b = TableDiff.chunkChecksums(shuffled, spec).orderBy("chunk_id").collect().toSeq
      assert(a == b)
    }
  }

  test("sessionize partitions the timeline: totals preserved, gaps respect the threshold") {
    val streams: Gen[Seq[(Long, Long)]] = for {
      users <- Gen.choose(1, 5)
      events <- Gen.listOfN(40, for {
        u <- Gen.choose(1L, users.toLong)
        t <- Gen.choose(0L, 100000L)
      } yield (u, t))
    } yield events.distinct
    samples(streams, 6).foreach { evs =>
      val gap = 5000L
      val df = evs.zipWithIndex
        .map { case ((u, t), i) => (i.toLong, u, new java.sql.Timestamp(t), 1.0) }
        .toDF("event_id", "user_id", "ts", "value")
      val sessions = Sessionize.sessions(df, gap / 1000L)
        .select("user_id", "session_seq", "n_events", "start_ms", "end_ms")
        .as[(Long, Long, Long, Long, Long)].collect()
      // every event lands in exactly one session
      assert(sessions.map(_._3).sum == evs.size.toLong)
      // scala reference: per user, sorted gaps split at > gap
      sessions.groupBy(_._1).foreach { case (u, ss) =>
        val times = evs.filter(_._1 == u).map(_._2).sorted
        val expected = times.tail.foldLeft(List(List(times.head))) {
          (acc, t) => if (t - acc.head.head <= gap) (t :: acc.head) :: acc.tail
                      else List(t) :: acc
        }.map(s => (s.min, s.max, s.size.toLong)).reverse
        val got = ss.sortBy(_._2).map(s => (s._4, s._5, s._3)).toSeq
        assert(got == expected, s"user=$u")
      }
    }
  }

  test("funnel reach counts are non-increasing down the funnel") {
    val logs: Gen[Seq[(Long, Long, String)]] = for {
      events <- Gen.listOfN(60, for {
        u <- Gen.choose(1L, 8L)
        t <- Gen.choose(0L, 10000L)
        e <- Gen.oneOf("view", "click", "purchase")
      } yield (u, t, e))
    } yield events
    samples(logs, 6).filter(_.nonEmpty).foreach { evs =>
      val df = evs.zipWithIndex
        .map { case ((u, t, e), i) =>
          (i.toLong, u, new java.sql.Timestamp(t), e, 1.0) }
        .toDF("event_id", "user_id", "ts", "event_type", "value")
      val reach = Funnel.reach(df, Seq("view", "click", "purchase"))
        .orderBy("step").select("users").as[Long].collect()
      reach.sliding(2).foreach { case Array(a, b) => assert(b <= a)
                                 case _ => () }
    }
  }

  test("bloom manifest merge: arbitrary k-way splits in any order rebuild " +
    "the full manifest") {
    // The full algebra the scaladoc claims (bit_or is commutative,
    // associative, idempotent), pinned beyond the 2-way ledger proof
    // (`shard_bloom_merge`): for an arbitrary assignment of rows to k
    // batches and an arbitrary merge ORDER, folding merge over the
    // batches equals the one-shot rebuild bit-for-bit — and re-merging
    // an already-included batch changes nothing.
    val gen = for {
      k <- Gen.choose(2, 5)
      assign <- Gen.listOfN(120, Gen.choose(0, k - 1))
      shuf <- Gen.choose(0, 1000)
    } yield (k, assign, shuf)
    samples(gen, 5).foreach { case (k, assign, shuf) =>
      val rows = assign.zipWithIndex
        .map { case (b, i) => (s"s${i % 3}", i.toLong, b) }
        .toDF("shard", "doc_id", "batch")
      def rel(df: org.apache.spark.sql.DataFrame) =
        df.select("shard", "word", "bits", "set_bits")
          .as[(String, Long, Long, Long)].collect().toSet
      val full = rel(BloomManifest.manifest(rows, "shard", "doc_id"))
      val order = new scala.util.Random(shuf).shuffle((0 until k).toList)
      val parts = order.map(b => rows.filter(col("batch") === b))
      val merged = parts.tail.foldLeft(
        BloomManifest.manifest(parts.head, "shard", "doc_id")) {
        (acc, b) => BloomManifest.merge(acc, b, "shard", "doc_id")
      }
      assert(rel(merged) == full, s"k=$k order=$order")
      // idempotency: a batch folded twice is absorbed
      assert(rel(BloomManifest.merge(merged, parts.head, "shard", "doc_id"))
        == full)
    }
  }

  test("discrete quantiles match a sort-based reference") {
    val groups: Gen[Seq[(String, Long)]] =
      Gen.listOfN(120, Gen.zip(Gen.oneOf("g0", "g1", "g2"),
        Gen.choose(0L, 1000L)))
    samples(groups, 6).foreach { rows =>
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (g, v, i.toLong) }.toDF("g", "v", "id")
      val got = Quantiles.groupStats(df, "g", "v", "id")
        .as[(String, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      rows.groupBy(_._1).foreach { case (g, grp) =>
        val sorted = grp.map(_._2).sorted
        val n = sorted.size
        def q(p9: Int, p10: Int) = sorted((p9 * n + p10 - 1) / p10 - 1)
        assert(got(g) == ((g, n.toLong, sorted.head, sorted.last,
          q(1, 2), q(9, 10))), s"group=$g n=$n")
      }
    }
  }
}
