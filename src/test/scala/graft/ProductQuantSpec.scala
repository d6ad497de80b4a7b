package graft

import graft.operators.{ProductQuant, Similarity}
import graft.operators.ProductQuant.Scheme
import org.apache.spark.sql.functions._

class ProductQuantSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables.load(spark, sfDir, "embeddings")

  /** One quantizer-sidecar row: (kind, sub, ord, cid, cv). */
  private type Row5 = (String, Int, Int, Long, Seq[Double])

  test("codebook is bounded M*Ks with subspace-length centroids") {
    val dim = Similarity.dimOf(emb)
    val cb = ProductQuant.codebook(emb, dim)
      .select(col("sub"), col("cid"), size(col("cv")).as("n"))
      .as[(Int, Long, Int)].collect()
    assert(cb.nonEmpty && cb.length <= ProductQuant.M * ProductQuant.Ks)
    assert(cb.forall(_._3 == dim / ProductQuant.M))
    // at most Ks centroids per subspace, unique ids within a subspace
    cb.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.length <= ProductQuant.Ks)
      assert(rows.map(_._2).distinct.length == rows.length)
    }
  }

  test("every vector encodes to exactly M codes drawn from the codebook") {
    val dim = Similarity.dimOf(emb)
    val cb = ProductQuant.codebook(emb, dim)
    val codes = ProductQuant.encode(emb, cb, dim)
      .select("vec_id", "sub", "code").as[(Long, Int, Long)].collect()
    val n = emb.count()
    assert(codes.length == n * ProductQuant.M)
    codes.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (0 until ProductQuant.M))
    }
    val valid = cb.select("sub", "cid").as[(Int, Long)].collect().toSet
    assert(codes.forall(c => valid((c._2, c._3))))
  }

  test("partitioned IVFADC index prunes to the probed lists and matches in-memory") {
    val idxDir = Scratch.dir("ivfadc_idx_spec_")
    // few queries + shallow probing so the probed union is a strict
    // subset of the 16 lists — pruning has something to prune
    val part = ProductQuant.ivfadcPartitionedTopK(emb, col("vec_id") < 3,
      3, idxDir, nProbe = 2)
    val rows = part.orderBy("query_id", "rank").collect()
    val mem = ProductQuant.ivfadcTopK(emb, col("vec_id") < 3, 3, Scheme.Flat,
        nProbe = 2)
      .orderBy("query_id", "rank").collect()
    assert(rows.nonEmpty && rows.map(_.toSeq).toSeq == mem.map(_.toSeq).toSeq,
      "partitioned face must be row-identical to the in-memory face")
    // the index at rest has one directory per inverted list
    val lists = new java.io.File(idxDir).list().count(_.startsWith("ccid="))
    assert(lists > 2, s"expected multiple list partitions, got $lists")
    // the probe scan prunes at the partition level: ccid In (...) sits
    // in PartitionFilters, not a post-scan filter
    val plan = part.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*ccid".r.findFirstIn(plan).isDefined,
      s"probe filter not pushed to partition pruning:\n$plan")
  }

  test("ivfadc ingest appends the delta without touching standing index files") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val idxDir = Scratch.dir("ivfadc_ingest_spec_")
    // low split so the sf0.001 fixture actually has a delta batch
    val standing = col("vec_id") < 25
    // stage 1 alone: run the face but capture the file state between
    // write and append by re-running the standing write ourselves
    val r = ProductQuant.ivfadcIngestTopK(emb, standing, col("vec_id") < 3,
      3, idxDir, Scheme.Flat, nProbe = 2)
    val rows = r.orderBy("query_id", "rank").collect()
    assert(rows.nonEmpty)
    // the merged index holds BOTH batches' codes
    val merged = spark.read.parquet(idxDir)
    val nVec = emb.filter(col("embedding").isNotNull).count()
    assert(merged.select("vec_id").distinct().count() == nVec,
      "append must add the delta codes to the index")
    // standing no-rewrite: re-run ONLY the append against a snapshot of
    // the post-standing-write file list — the face writes standing with
    // mode=overwrite first, so re-running the whole face and diffing
    // file sets proves the append created strictly new files while the
    // probe read the union (same rows back)
    def files(): Set[String] =
      Files.walk(Paths.get(idxDir)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(_.toString).toSet
    val after = files()
    val r2 = ProductQuant.ivfadcIngestTopK(emb, standing, col("vec_id") < 3,
      3, idxDir, Scheme.Flat, nProbe = 2)
      .orderBy("query_id", "rank").collect()
    assert(rows.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq,
      "ingest must be deterministic across re-runs")
    assert(files().size == after.size,
      "re-ingest must not accumulate files beyond one standing+delta set")
    // the probe scan prunes to the probed lists (partitioned-face
    // contract carries over to the merged index)
    val plan = r.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*ccid".r.findFirstIn(plan).isDefined,
      s"ingest probe must prune partitions:\n$plan")
  }

  test("pqTopK reranks with the exact cosine and keeps the band contract") {
    val r = SparkEntry.queries("ann_pq")(spark, sfDir)
      .select("query_id", "cand_id", "n_match", "score", "rank")
      .as[(Long, Long, Long, Double, Int)].collect()
    assert(r.nonEmpty)
    r.foreach { case (q, c, m, _, _) =>
      assert(q != c && q < 50)
      assert(m >= 1 && m <= ProductQuant.M)
    }
    r.groupBy(_._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._5)
      assert(byRank.map(_._5).toSeq == (1 to byRank.length))
      // scores non-increasing in rank
      assert(byRank.map(_._4).toSeq.sliding(2).forall {
        case Seq(a, b) => a >= b
        case _         => true
      })
    }
    // the rerank is EXACT: every emitted score equals the brute-force
    // cosine for that pair
    graft.functions.CosineScore.register(spark)
    val dim = Similarity.dimOf(emb)
    val pairs = r.map(t => (t._1, t._2)).toSeq.toDF("query_id", "cand_id")
    def side(p: String) = emb.select(col("vec_id").as(s"${p}_id"),
      col("embedding").as(s"${p}_emb"),
      Similarity.normN(col("embedding"), dim).as(s"${p}_nrm"))
    val exact = pairs
      .join(side("q"), col("query_id") === col("q_id"))
      .join(side("c"), col("cand_id") === col("c_id"))
      .select(col("query_id"), col("cand_id"),
        expr("cosine_score(q_emb, c_emb, q_nrm, c_nrm)").as("score"))
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    r.foreach { case (q, c, _, s, _) => assert(exact((q, c)) == s) }
  }

  test("adcTopK two-stage: shortlist bound, exact rerank, cosine ranking") {
    val r = ProductQuant.adcTopK(emb, col("vec_id") < 50, 3)
      .select("query_id", "cand_id", "adc6", "score", "rank")
      .as[(Long, Long, Long, Double, Int)].collect()
    assert(r.nonEmpty)
    r.foreach { case (q, c, _, _, rk) =>
      assert(q != c && q < 50 && rk >= 1 && rk <= 3)
    }
    // final ranks order by the EXACT cosine (rerank), not the adc code
    // score; ranks are dense from 1 per query
    r.groupBy(_._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._5)
      assert(byRank.map(_._5).toSeq == (1 to byRank.length))
      assert(byRank.map(_._4).toSeq.sliding(2).forall {
        case Seq(a, b) => a >= b
        case _         => true
      })
    }
    // every emitted score equals the brute-force cosine for that pair
    graft.functions.CosineScore.register(spark)
    val dim = Similarity.dimOf(emb)
    val pairs = r.map(t => (t._1, t._2)).toSeq.toDF("query_id", "cand_id")
    def side(p: String) = emb.select(col("vec_id").as(s"${p}_id"),
      col("embedding").as(s"${p}_emb"),
      Similarity.normN(col("embedding"), dim).as(s"${p}_nrm"))
    val exact = pairs
      .join(side("q"), col("query_id") === col("q_id"))
      .join(side("c"), col("cand_id") === col("c_id"))
      .select(col("query_id"), col("cand_id"),
        expr("cosine_score(q_emb, c_emb, q_nrm, c_nrm)").as("score"))
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    r.foreach { case (q, c, _, s, _) => assert(exact((q, c)) == s) }
  }

  test("ivfadc stage 1 scans strictly less than the flat ADC code relation") {
    val nQueries = emb.filter(col("vec_id") < 50).count()
    val corpus = emb.count()
    // flat ADC stage-1 pre-agg size: every code row meets every query's
    // LUT entry once (minus self-pairs)
    val flatPairs = (corpus - 1) * nQueries * ProductQuant.AdcM
    val d = Similarity.dimOf(emb)
    val books = ProductQuant.trainBooks(emb, Scheme.Flat, 16, d)
    val ivfadcPairs = ProductQuant
      .ivfadcStage1(emb, col("vec_id") < 50, books, 4, d).count()
    assert(ivfadcPairs > 0)
    // 4 probes of 16 lists: expect ~1/4 of the flat scan; assert the
    // headline claim conservatively (strictly under half)
    assert(ivfadcPairs * 2 < flatPairs,
      s"ivfadc stage-1 $ivfadcPairs pairs vs flat $flatPairs")
    // every stage-1 row carries exactly the composed-index shape
    val row = ProductQuant.ivfadcStage1(emb, col("vec_id") < 50, books, 4, d)
      .select("ccid", "sub", "code", "q_id", "vec_id").limit(1).collect()
    assert(row.length == 1)
  }

  test("probe sweep's pair census equals the stage-1 relation's AdcM fold") {
    // r20: the sweep derives its stage-1 pair count from the
    // materialized per-pair ADC relation (one row per pair) instead of
    // a second `count div AdcM` pass over the pre-aggregation — this
    // pins the equivalence: the published scan_permille must equal the
    // one the ORIGINAL formula produces from the stage-1 relation the
    // sweep's pre mirrors at the same nprobe, and the widest sweep
    // point (every list probed) must land exactly at 1000‰.
    val q = col("vec_id") < 3
    val out = ProductQuant.ivfadcProbeSweep(emb, q, 3, sweep = Seq(2, 16))
      .select("nprobe", "scan_permille")
      .as[(Long, Long)].collect().toMap
    assert(out(16L) == 1000L,
      s"nprobe=16 probes every list, got ${out(16L)}‰")
    val nQ = emb.filter(q).count()
    val n = emb.count()
    val d = Similarity.dimOf(emb)
    val pairs2 = ProductQuant.ivfadcStage1(emb, q,
        ProductQuant.trainBooks(emb, Scheme.Flat, 16, d), 2, d).count() /
      ProductQuant.AdcM
    assert(out(2L) == 1000L * pairs2 / (nQ * (n - 1)),
      s"sweep census diverged from the stage-1 fold at nprobe=2: " +
        s"${out(2L)}‰ vs ${1000L * pairs2 / (nQ * (n - 1))}‰")
  }

  test("ivf list balance partitions the corpus exactly, integer arithmetic") {
    val corpus = emb.count()
    val out = ProductQuant.ivfListBalance(emb).collect()
    assert(out.map(_.getLong(1)).sum == corpus)
    out.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getLong(2) == r.getLong(1) * 1000 / corpus)
      assert(r.getLong(3) == r.getLong(1) * 16 * 1000 / corpus)
    }
    // assignment is a partition: one list per vector
    val a = ProductQuant.coarseAssign(emb)
    assert(a.count() == corpus)
    assert(a.select("vec_id").distinct().count() == corpus)
  }

  test("encodeWithBook: delta batches encode independently against a frozen book") {
    val dim = Similarity.dimOf(emb)
    val standing = emb.filter(col("vec_id") < 300)
    val delta = emb.filter(col("vec_id") >= 300)
    val book = ProductQuant.collectCodebook(
      ProductQuant.codebook(standing, dim))
    val onePass = ProductQuant.encodeWithBook(emb, book, dim)
      .orderBy("vec_id", "sub").collect()
    val unioned = ProductQuant.encodeWithBook(standing, book, dim)
      .unionByName(ProductQuant.encodeWithBook(delta, book, dim))
      .orderBy("vec_id", "sub").collect()
    assert(onePass.nonEmpty && onePass.toSeq == unioned.toSeq)
  }

  test("ivfadc shares the ADC scoring definition and more probes help") {
    // Shared-definition check: wherever an IVFADC pick coincides with a
    // flat ADC pick, the exact rerank SCORE is identical (one scoring
    // definition, not two implementations drifting). Full agreement is
    // NOT expected — probing legitimately changes the candidate pool
    // (ivfadcTopK scaladoc's measured curve).
    val ivf = ProductQuant.ivfadcTopK(emb, col("vec_id") < 50, 3, Scheme.Flat)
      .select("query_id", "cand_id", "score")
      .as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    val flat = ProductQuant.adcTopK(emb, col("vec_id") < 50, 3)
      .select("query_id", "cand_id", "score")
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val shared = ivf.filter { case (q, c, _) => flat.contains((q, c)) }
    assert(shared.nonEmpty)
    shared.foreach { case (q, c, s) => assert(flat((q, c)) == s) }
    // Probing monotonicity against exact truth: widening the probe set
    // can only add candidates, and measured recall rises with it.
    val truth = Similarity.bruteForceTopK(emb, col("vec_id") < 50, 3)
      .select("query_id", "cand_id")
      .as[(Long, Long)].collect().toSet
    def recallAt(np: Int): Double = {
      val got = ProductQuant
        .ivfadcTopK(emb, col("vec_id") < 50, 3, Scheme.Flat, nProbe = np)
        .select("query_id", "cand_id")
        .as[(Long, Long)].collect().toSet
      truth.count(got.contains).toDouble / truth.size
    }
    val (r2, r4) = (recallAt(2), recallAt(4))
    assert(r4 >= r2, s"recall fell with more probes: np2=$r2 np4=$r4")
  }

  test("cached probe face is row-identical to a fresh build+probe") {
    val probe = ProductQuant.ivfadcCachedProbeTopK(emb, sfDir + "#spec",
        col("vec_id") < 3, 3, nProbe = 2)
      .orderBy("query_id", "rank").collect()
    val fresh = ProductQuant.ivfadcPartitionedTopK(emb, col("vec_id") < 3,
        3, Scratch.dir("ivfadc_fresh_"), nProbe = 2)
      .orderBy("query_id", "rank").collect()
    assert(probe.nonEmpty &&
      probe.map(_.toSeq).toSeq == fresh.map(_.toSeq).toSeq,
      "cached-index probe must equal the fresh build+probe")
    // second call hits the cache (same dir) and returns the same rows
    val again = ProductQuant.ivfadcCachedProbeTopK(emb, sfDir + "#spec",
        col("vec_id") < 3, 3, nProbe = 2)
      .orderBy("query_id", "rank").collect()
    assert(again.map(_.toSeq).toSeq == probe.map(_.toSeq).toSeq)
  }

  test("compactIndex restores the 1-file-per-list invariant with rows intact") {
    val d = Similarity.dimOf(emb)
    val books = ProductQuant.trainBooks(emb, Scheme.Flat, 16, d)
    val idx = Scratch.dir("compact_spec_")
    def codes(p: org.apache.spark.sql.Column) =
      ProductQuant.codesWith(emb.filter(p), books, d)
        .repartition(col("ccid")).sortWithinPartitions("ccid", "vec_id", "sub")
    codes(col("vec_id") % 2 === 0)
      .write.mode("overwrite").partitionBy("ccid").parquet(idx)
    codes(col("vec_id") % 2 === 1)
      .write.mode("append").partitionBy("ccid").parquet(idx)
    def snapshot() = spark.read.parquet(idx)
      .select("vec_id", "ccid", "sub", "code")
      .collect().map(_.toSeq).toSet
    val before = ProductQuant.indexLayoutAudit(spark, idx).collect()
    assert(before.exists(_.getString(4) == "split_files"),
      "two half-corpus appends must fragment at least one list")
    val rowsBefore = snapshot()
    ProductQuant.compactIndex(spark, idx)
    val after = ProductQuant.indexLayoutAudit(spark, idx).collect()
    assert(after.forall(_.getLong(2) == 1L),
      s"compaction left multi-file lists: ${after.mkString(";")}")
    assert(after.forall(_.getString(4) != "split_files"))
    assert(snapshot() == rowsBefore,
      "compaction must preserve the code relation exactly")
  }

  test("index layout audit: healthy build is 1-file-per-list; skew and splits flag") {
    val d = Similarity.dimOf(emb)
    val idxDir = Scratch.dir("layout_spec_")
    ProductQuant.ivfadcBuildIndex(emb, idxDir, 16, Some(d))
    val audit = ProductQuant.indexLayoutAudit(spark, idxDir).collect()
    assert(audit.nonEmpty)
    // healthy build: exactly one file per list, bytes counted
    assert(audit.forall(r => r.getLong(2) == 1L && r.getLong(3) > 0L),
      s"expected 1 file per list with nonzero bytes: ${audit.mkString(";")}")
    assert(audit.forall(_.getString(4) != "split_files"))
    // n_rows sums to AdcM codes per non-null vector
    val nVec = emb.filter(col("embedding").isNotNull).count()
    assert(audit.map(_.getLong(1)).sum == ProductQuant.AdcM * nVec)
    // planted skew: one list holds most rows -> hot_list on it alone
    val skewDir = Scratch.dir("layout_skew_")
    spark.range(100).select(col("id").as("vec_id"),
        when(col("id") < 68, 0).otherwise(pmod(col("id"), lit(16)))
          .cast("int").as("ccid"),
        lit(0).as("sub"), lit(1L).as("code"))
      .repartition(col("ccid")).sortWithinPartitions("ccid", "vec_id")
      .write.mode("overwrite").partitionBy("ccid").parquet(skewDir)
    val skew = ProductQuant.indexLayoutAudit(spark, skewDir).collect()
      .map(r => r.getInt(0) -> r.getString(4)).toMap
    assert(skew(0) == "hot_list")
    assert(skew.filterNot(_._1 == 0).values.forall(_ == "ok"))
    // planted split: append a second file into list 3 -> split_files
    spark.range(5).select(col("id").as("vec_id"),
        lit(3).as("ccid"), lit(0).as("sub"), lit(2L).as("code"))
      .coalesce(1)
      .write.mode("append").partitionBy("ccid").parquet(skewDir)
    val split = ProductQuant.indexLayoutAudit(spark, skewDir).collect()
      .map(r => r.getInt(0) -> r.getString(4)).toMap
    assert(split(3) == "split_files",
      s"list 3 gained a second file and must flag: $split")
  }

  test("versioned publish: reader-atomic flips, pointer-loss fallback, prune") {
    val codes = ProductQuant.skewedSyntheticCodes(
      spark.range(0, 120).select(col("id").as("vec_id")))
    val base = Scratch.dir("idx_store_spec_")
    val (g1, d1) = ProductQuant.publishIndex(spark, base, codes)
    assert(g1 == 1)
    // a reader resolves-then-scans; hold its relation across a publish
    val held = spark.read.parquet(d1)
    val before = held.count()
    val (g2, d2) = ProductQuant.publishIndex(spark, base, codes,
      hotLists = Seq(0))
    assert(g2 == 2 && d2 != d1)
    // reader-atomicity: the held v1 relation is untouched by the v2
    // publish — same rows, no mid-swap window (the compactIndex
    // contract this scheme exists to remove)
    assert(held.count() == before)
    assert(ProductQuant.currentGeneration(spark, base).map(_._1)
      .contains(2))
    // pointer loss: resolution falls back to the newest _SUCCESS gen
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(fs.delete(new org.apache.hadoop.fs.Path(base, "CURRENT"), false))
    assert(ProductQuant.currentGeneration(spark, base).map(_._1)
      .contains(2))
    assert(ProductQuant.currentIndexDir(spark, base).endsWith("v2"))
    // third generation, then prune to the newest 2: v1 goes, v2/v3 stay
    ProductQuant.publishIndex(spark, base, codes)
    assert(ProductQuant.pruneGenerations(spark, base, keep = 2) == Seq(1))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(base, "v1")))
    assert(ProductQuant.currentGeneration(spark, base).map(_._1)
      .contains(3))
    // prune must never eat the live generation
    assert(ProductQuant.pruneGenerations(spark, base, keep = 1) == Seq(2))
    assert(spark.read.parquet(
      ProductQuant.currentIndexDir(spark, base)).count() == before)
    // r15 self-review #5: a CORRUPT pointer falls back, never crashes
    val curPath = new org.apache.hadoop.fs.Path(base, "CURRENT")
    val out = fs.create(curPath, true)
    out.write("not-a-generation".getBytes("UTF-8")); out.close()
    assert(ProductQuant.currentGeneration(spark, base).map(_._1)
      .contains(3))
    // r15 self-review #1: an INCOMPLETE newest generation (crashed
    // publish — a dir with no _SUCCESS) must not consume a retention
    // slot, be resolved to, be deleted (it may be in-flight), or cause
    // the live complete generation to be pruned
    fs.mkdirs(new org.apache.hadoop.fs.Path(base, "v9"))
    assert(ProductQuant.currentGeneration(spark, base).map(_._1)
      .contains(3))
    assert(ProductQuant.pruneGenerations(spark, base, keep = 1).isEmpty)
    assert(fs.exists(new org.apache.hadoop.fs.Path(base, "v3")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(base, "v9")))
    // ...and the next publish must NOT reuse/overwrite v9's number
    val (g4, _) = ProductQuant.publishIndex(spark, base, codes)
    assert(g4 == 10)
  }

  test("salted layout invariants hold at different saltTasks counts (r15 #4)") {
    // the salted shuffle's task count scales with the relation at
    // 100 TB (a hot-list rewrite must not squeeze through 64 tasks);
    // the LAYOUT invariants are count-independent because each
    // (ccid, salt) key hashes to exactly one task regardless of how
    // many tasks exist: hot list split >1 file, cold lists 1 file,
    // row set preserved
    val codes = ProductQuant.skewedSyntheticCodes(
      spark.range(0, 200).select(col("id").as("vec_id")))
    val expect = codes.groupBy("ccid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    Seq(64, 256).foreach { tasks =>
      val idx = Scratch.dir(s"salt_tasks_${tasks}_") + "/idx"
      ProductQuant.writeIndex(codes, idx, hotLists = Seq(0),
        saltTasks = Some(tasks))
      val audit = ProductQuant.indexLayoutAudit(spark, idx).collect()
      val hot = audit.find(_.getInt(0) == 0).get
      assert(hot.getLong(2) > 1L,
        s"saltTasks=$tasks: hot list did not split (${hot.getLong(2)})")
      assert(hot.getString(4) == "ok",
        s"saltTasks=$tasks: hot flag did not clear: ${hot.getString(4)}")
      assert(audit.filter(_.getInt(0) != 0).forall(_.getLong(2) == 1L),
        s"saltTasks=$tasks: a cold list lost the 1-file invariant")
      val got = spark.read.parquet(idx)
        .groupBy(col("ccid").cast("int").as("ccid")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got == expect, s"saltTasks=$tasks: row set changed")
    }
  }

  test("disparate hot lists each get their own salt width and the audit converges") {
    // round-16 review-2 #2: a single global fan-out sized for the
    // hottest list salts a MILDLY hot list past its own split_files
    // bound and the doctor->compact loop ping-pongs forever. Two hot
    // lists with ~4x different heat: 55% / 18% of the corpus against
    // a ~2% mean list
    import spark.implicits._
    val codes = spark.range(0, 2000).select(col("id").as("vec_id"),
        when(col("id") % 100 < 55, 0)
          .when(col("id") % 100 < 73, 1)
          .otherwise((col("id") % 13) + 2).cast("int").as("ccid"))
      .select(col("vec_id"), col("ccid"),
        explode(typedLit(Seq(0, 1, 2, 3))).as("sub"))
      .withColumn("code",
        ((col("vec_id") * 31 + col("sub") * 7) % 256).cast("int"))
    val idx = Scratch.dir("multi_hot_") + "/idx"
    ProductQuant.writeIndex(codes, idx)
    val pre = ProductQuant.indexLayoutAudit(spark, idx).collect()
      .map(r => r.getInt(0) -> r.getString(4)).toMap
    assert(pre(0) == "hot_list" && pre(1) == "hot_list",
      s"both planted lists must flag: $pre")
    ProductQuant.compactIndex(spark, idx)
    val post = ProductQuant.indexLayoutAudit(spark, idx).collect()
    assert(post.forall(_.getString(4) == "ok"),
      s"per-list widths must converge in ONE remedy pass: " +
        post.map(r => s"${r.getInt(0)}:${r.getString(4)}").mkString(","))
    // both hot lists physically split, the mild one within its bound
    val files = post.map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(files(0) > 1L && files(1) > 1L, files.toString)
    assert(files(1) <= ProductQuant.SaltBuckets.toLong,
      s"mild hot list over-split past its own bound: ${files(1)}")
    // row set preserved exactly
    assert(spark.read.parquet(idx).count() == codes.count())
  }

  test("tombstoned probe of the old generation equals probing the compacted store") {
    // delete parity (round 16): filter-at-probe (the window before
    // compaction) and physical removal (after) must return the SAME
    // answer — a reader should never observe which side of the
    // compaction it landed on
    val e = emb
    val d = Similarity.dimOf(e)
    val books = ProductQuant.trainBooks(e, Scheme.Flat, 16, d)
    val base = Scratch.dir("tomb_parity_")
    ProductQuant.publishIndex(spark, base,
      ProductQuant.codesWith(e, books, d), books = Some(books))
    ProductQuant.writeTombstones(spark, base,
      e.filter(col("vec_id") % 9 === 3).select("vec_id"))
    def probe() = ProductQuant.ivfadcProbeStore(e, col("vec_id") < 30,
        3, base, dim = Some(d))
      .select("query_id", "cand_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val before = probe()
    assert(before.nonEmpty)
    // no tombstoned vector is retrievable in the filtered window
    assert(before.forall(_._2 % 9 != 3))
    val (g1, g2) = ProductQuant.compactStore(spark, base)
    assert(g2 == g1 + 1)
    // physical removal: the new generation holds no tombstoned rows
    assert(spark.read.parquet(ProductQuant.currentIndexDir(spark, base))
      .filter(col("vec_id") % 9 === 3).count() == 0)
    val after = probe()
    assert(after == before, "probe answer changed across compaction")
    // the sidecar is retained (readers on the old generation need it)
    assert(ProductQuant.tombstones(spark, base).nonEmpty)
    // retried delete batches append NOTHING new — the sidecar grows
    // with distinct deletes, not with delete calls (review-4 #5)
    val sizeBefore = ProductQuant.tombstones(spark, base).get.count()
    ProductQuant.writeTombstones(spark, base,
      e.filter(col("vec_id") % 9 === 3).select("vec_id"))
    assert(ProductQuant.tombstones(spark, base).get.count() == sizeBefore)
    // ...and in ZERO new files: compaction folded the sidecar to one
    // (gcTombstones), and an all-duplicate retry appends nothing
    assert(ProductQuant.tombstoneFsStats(spark, base).map(_._1)
      .contains(1L))
    // a malformed id FAILS the delete instead of silently no-oping
    intercept[IllegalArgumentException] {
      ProductQuant.writeTombstones(spark, base,
        Seq("v123").toDF("vec_id"))
    }
    // a FULL wipe refuses to compact: an empty generation would brick
    // the store (only _SUCCESS, no readable schema)
    ProductQuant.writeTombstones(spark, base, e.select("vec_id"))
    intercept[IllegalStateException] {
      ProductQuant.compactStore(spark, base)
    }
    // ...and the store is still readable after the refusal
    assert(probe().isEmpty) // everything tombstoned -> no candidates
  }

  test("the store is self-describing: a fresh session probes through loaded books (r16 #1)") {
    val e = emb
    val d = Similarity.dimOf(e)
    val base = Scratch.dir("self_desc_")
    val books = ProductQuant.trainBooks(e, Scheme.Flat, 16, d)
    val (coarse, bySub) = (books.coarse, books.fine)
    ProductQuant.publishIndex(spark, base,
      ProductQuant.codesWith(e, books, d), books = Some(books))
    // the sidecar round-trips BIT-identically: same ids, same order,
    // same components — loaded literals plan exactly like trained ones
    val loaded = ProductQuant.loadBooks(spark,
      ProductQuant.currentIndexDir(spark, base))
    assert(loaded.scheme == Scheme.Flat)
    val (c2, b2) = (loaded.coarse, loaded.fine)
    assert(c2.map(_._1) == coarse.map(_._1))
    assert(c2.zip(coarse).forall { case ((_, a), (_, b)) =>
      a.sameElements(b) })
    assert(b2.keySet == bySub.keySet)
    assert(b2.forall { case (s, cents) =>
      cents.map(_._1) == bySub(s).map(_._1) &&
        cents.zip(bySub(s)).forall { case ((_, a), (_, b)) =>
          a.sameElements(b) } })
    // a FRESH session that never trained or held the books runs
    // resolve -> load -> pruned probe and matches the build session's
    // books-in-hand probe row-for-row — the probe-only process a
    // 100 TB embed store serves, without the corpus training scan
    val s2 = spark.newSession()
    val e2 = Tables.load(s2, sfDir, "embeddings")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val got = rows(ProductQuant.ivfadcProbeStore(e2, col("vec_id") < 30, 3,
      base, dim = Some(d)))
    val want = rows(ProductQuant.ivfadcProbeIndex(e, col("vec_id") < 30,
      3, ProductQuant.currentIndexDir(spark, base), books, dim = Some(d)))
    assert(got.nonEmpty && got == want)
    // a bookless generation (raw-codes publish) fails LOUDLY, never
    // probes wrongly
    val bare = Scratch.dir("bookless_")
    ProductQuant.publishIndex(spark, bare,
      ProductQuant.uniformSyntheticCodes(e))
    intercept[java.util.NoSuchElementException] {
      ProductQuant.loadBooks(spark,
        ProductQuant.currentIndexDir(spark, bare))
    }
    // the retrain remedy KEEPS the store self-describing (round-17
    // review #1): the fine books carry forward verbatim under the
    // RETRAINED L2-normalized coarse book, and the loaded-books probe
    // keeps working on the new generation
    ProductQuant.retrainStore(spark, base, e, 16)
    val retrained = ProductQuant.loadBooks(spark,
      ProductQuant.currentIndexDir(spark, base))
    assert(retrained.scheme == Scheme.Flat)
    val (c3, b3) = (retrained.coarse, retrained.fine)
    assert(c3.length == 16)
    assert(b3.keySet == bySub.keySet && b3.forall { case (s, cents) =>
      cents.map(_._1) == bySub(s).map(_._1) })
    assert(c3.forall { case (_, v) =>
      math.abs(v.map(x => x * x).sum - 1.0) < 1e-9 },
      "retrained coarse book must be L2-normalized")
    assert(ProductQuant.ivfadcProbeStore(e, col("vec_id") < 30, 3, base,
      dim = Some(d)).count() > 0)
  }

  test("an interrupted tombstone GC refuses to read as empty and recovers at compaction (r17)") {
    val ids = spark.range(0, 200).select(col("id").as("vec_id"))
    val base = Scratch.dir("gc_crash_")
    ProductQuant.publishIndex(spark, base,
      ProductQuant.uniformSyntheticCodes(ids))
    ProductQuant.writeTombstones(spark, base,
      ids.filter(col("vec_id") % 10 === 0))
    // simulate the crash window: the canonical sidecar was renamed
    // aside but the swap-in never happened
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    val p = new org.apache.hadoop.fs.Path(
      base + "/" + ProductQuant.TombstoneDir)
    assert(fs.rename(p,
      new org.apache.hadoop.fs.Path(p.toString + ".gc_old")))
    // readers refuse LOUDLY — reading "no tombstones" here would
    // silently resurrect every deleted vector
    intercept[IllegalStateException] {
      ProductQuant.tombstones(spark, base)
    }
    intercept[IllegalStateException] {
      ProductQuant.tombstoneFsStats(spark, base)
    }
    // the mutation path recovers: compaction renames the copy back,
    // applies the deletes physically, and the lifecycle continues
    ProductQuant.compactStore(spark, base)
    assert(spark.read.parquet(ProductQuant.currentIndexDir(spark, base))
      .filter(col("vec_id") % 10 === 0).count() == 0)
    // ids survive GC while the dirty v1 is retained
    assert(ProductQuant.tombstones(spark, base).get.count() == 20)
    // a DELETE against the parked state self-recovers too — mutation
    // paths recover, only readers refuse (round-17 review-2 #4)
    assert(fs.rename(p,
      new org.apache.hadoop.fs.Path(p.toString + ".gc_old")))
    ProductQuant.writeTombstones(spark, base,
      ids.filter(col("vec_id") === 5))
    assert(ProductQuant.tombstones(spark, base).get.count() == 21)
  }

  test("a stale .gc_old beside a FOLDED sidecar is removed as redundant, never installed over the fold versions (r20)") {
    val ids = spark.range(0, 200).select(col("id").as("vec_id"))
    val base = Scratch.dir("gc_old_folded_")
    ProductQuant.publishIndex(spark, base,
      ProductQuant.uniformSyntheticCodes(ids))
    ProductQuant.writeTombstones(spark, base,
      ids.filter(col("vec_id") % 10 === 0))
    assert(ProductQuant.gcTombstones(spark, base) == 20)
    // a SECOND fold grace-expires the consumed loose append, so the
    // sidecar's top level now holds NO parquet at all — the ids live
    // only in fold versions. That is the state the old recovery
    // condition misread as "interrupted pre-r18 swap". Plant a
    // COMMITTED pre-r18-style .gc_old holding a DIFFERENT (ancient)
    // id set — out-of-contract mixed-fleet residue. Recovery must not
    // "recover" it over the fold (that would lose the folded ids and
    // resurrect their deleted vectors); it is strictly superseded
    // residue to drop.
    assert(ProductQuant.gcTombstones(spark, base) == 20)
    val p = new org.apache.hadoop.fs.Path(
      base + "/" + ProductQuant.TombstoneDir)
    val fsChk = p.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fsChk.listStatus(p).exists(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet")),
      "precondition: the folded sidecar's top level must be parquet-free")
    val old = new org.apache.hadoop.fs.Path(p.toString + ".gc_old")
    ids.filter(col("vec_id") === 7).write.parquet(old.toString)
    // readers are unbothered (the guard's versioned carve-out)
    assert(ProductQuant.tombstones(spark, base).get.count() == 20)
    // the next mutation removes the residue and keeps the fold intact
    ProductQuant.writeTombstones(spark, base,
      ids.filter(col("vec_id") === 3))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(old), "stale .gc_old must be dropped, not kept")
    val after = ProductQuant.tombstones(spark, base).get
    assert(after.count() == 21)
    assert(after.filter(col("vec_id") === 7).isEmpty,
      "the ancient .gc_old ids must NOT resurface")
  }

  test("past the salt clamp a hot list cannot clear; retrainStore removes it (r16 #3)") {
    // fabricated 2000-vector corpus: the collapsed plant puts list 0
    // at ~150x the nonempty-list mean — past the 128x boundary (the
    // 64-file clamp x the 2x-mean hot test), where more salt
    // MATHEMATICALLY cannot clear the flag
    val emb2k = spark.range(0, 2000).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 7), i -> " +
        "cast(cast((id * 31 + i * 17) % 97 as double) / 97.0 - 0.5" +
        " as float))").as("embedding"))
    val base = Scratch.dir("retrain_boundary_")
    ProductQuant.publishIndex(spark, base,
      ProductQuant.collapsedSyntheticCodes(emb2k))
    def audit() = ProductQuant.indexLayoutAudit(spark,
      ProductQuant.currentIndexDir(spark, base)).collect()
      .map(r => r.getInt(0) -> (r.getString(4), r.getLong(2))).toMap
    assert(audit()(0)._1 == "hot_list")
    // the in-contract remedy first: compaction salts at the derived
    // width, which clamps at 64 — the flag MUST survive (the stated
    // convergence boundary, demonstrated rather than documented)
    ProductQuant.compactStore(spark, base)
    val salted = audit()
    assert(salted(0)._1 == "hot_list",
      s"a ~150x list cleared at ${salted(0)._2} files — the 128x " +
        "boundary moved")
    assert(salted(0)._2 > 1L, "the clamped salt did split physically")
    // the stated remedy: retrain the coarse quantizer and re-list
    val (gFrom, gTo) = ProductQuant.retrainStore(spark, base, emb2k, 16)
    assert(gTo == gFrom + 1)
    val after = audit()
    assert(!after.valuesIterator.exists(_._1 == "hot_list"),
      s"retrained layout still hot: $after")
    // the diff reports the re-listing: nothing added or removed, the
    // moved vectors recoded, fine codes untouched
    val diff = ProductQuant.indexGenDiff(spark, base, gFrom, gTo)
      .groupBy("status").agg(sum("n_vecs").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(diff.getOrElse("added", 0L) == 0L &&
      diff.getOrElse("removed", 0L) == 0L, diff.toString)
    assert(diff.getOrElse("recoded", 0L) > 0L, diff.toString)
    assert(diff.values.sum == 2000L, diff.toString)
    // a corpus that does not cover the index REFUSES instead of
    // silently shrinking the published generation (round-17 review #3)
    intercept[IllegalStateException] {
      ProductQuant.retrainStore(spark, base,
        emb2k.filter(col("vec_id") =!= 7), 16)
    }
    // ...and a corpus with DUPLICATED ids refuses on the duplicate
    // guard — the row-count check alone could pass by a
    // missing-vs-duplicated offset (round-17 review-2 #1)
    val dupMsg = intercept[IllegalStateException] {
      ProductQuant.retrainStore(spark, base,
        emb2k.unionByName(emb2k.limit(1)), 16)
    }
    assert(dupMsg.getMessage.contains("duplicated vec_ids"))
  }

  test("retrainStore accepts pending deletes and a grown corpus; corpus lacking a live id still refuses (r18)") {
    def mk(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 7), i -> " +
          "cast(cast((id * 31 + i * 17) % 97 as double) / 97.0 - 0.5" +
          " as float))").as("embedding"))
    val base = Scratch.dir("retrain_grown_")
    ProductQuant.publishIndex(spark, base,
      ProductQuant.uniformSyntheticCodes(mk(0, 300)))
    // pending deletes: the corpus contract says ingest already removed
    // them, so the doctor-named remedy must run WITHOUT a compaction
    // first (ADVICE r17) — and the published generation must hold
    // exactly the live rows, not the tombstoned ones
    ProductQuant.writeTombstones(spark, base,
      mk(0, 300).filter(col("vec_id") % 10 === 0).select("vec_id"))
    // grown corpus (VERDICT r17 #4): vectors the store gained since
    // the live generation published are the ingesting store's normal
    // state; a duplicate among them can't inflate the index and must
    // not refuse either (the guard is scoped to index ids)
    val grown = mk(0, 300).filter(col("vec_id") % 10 =!= 0)
      .unionByName(mk(300, 350))
      .unionByName(mk(320, 321))
    val (g1, g2) = ProductQuant.retrainStore(spark, base, grown, 16)
    assert(g2 == g1 + 1)
    val newIds = spark.read
      .parquet(ProductQuant.currentIndexDir(spark, base))
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(newIds == (0L until 300L).filter(_ % 10 != 0).toSet,
      "retrained generation must hold exactly the live ids — no " +
        "tombstoned rows, no grown-corpus rows")
    // a corpus MISSING a live id refuses exactly as before
    intercept[IllegalStateException] {
      ProductQuant.retrainStore(spark, base,
        grown.filter(col("vec_id") =!= 11), 16)
    }
  }

  test("the store records its encoding scheme; mismatched probes refuse; residual retrain re-encodes (r18)") {
    val e = emb
    val d = Similarity.dimOf(e)
    // adc6 — the scheme's approximate score — rides along, so equal
    // rows mean equal scoring, not just an equal exact rerank
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "adc6", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .sorted.toSeq
    // the ONE store probe takes no scheme: from a fresh session it reads
    // the scheme from each store's sidecar and returns that scheme's
    // in-memory answer — a flat LUT over residual codes (or the residual
    // reconstruction over flat codes) cannot be asked for
    val s2 = spark.newSession()
    val e2 = Tables.load(s2, sfDir, "embeddings")
    val flatBase = Scratch.dir("scheme_flat_")
    val resBase = Scratch.dir("scheme_res_")
    ProductQuant.ivfadcStoreTopK(e, col("vec_id") < 30, 3, flatBase,
      Scheme.Flat, dim = Some(d)).count()
    ProductQuant.ivfadcStoreTopK(e, col("vec_id") < 30, 3, resBase,
      Scheme.Residual, dim = Some(d)).count()
    def meta(base: String) = ProductQuant.loadBooks(spark,
      ProductQuant.currentIndexDir(spark, base)).meta
    assert(meta(flatBase) == ProductQuant.IndexMeta(Scheme.Flat, 16, 8, 16, d))
    assert(meta(resBase).scheme == Scheme.Residual && meta(resBase).dim == d)
    Seq(flatBase -> Scheme.Flat, resBase -> Scheme.Residual).foreach {
      case (base, scheme) =>
        val got = rows(ProductQuant.ivfadcProbeStore(e2, col("vec_id") < 30,
          3, base))
        val want = rows(ProductQuant.ivfadcTopK(e2, col("vec_id") < 30, 3,
          scheme))
        assert(got.nonEmpty && got == want, s"${scheme.name} store probe")
    }
    // the two schemes' approximate scores really differ on this
    // fixture, so the equalities above pin the scheme each probe read
    assert(rows(ProductQuant.ivfadcProbeStore(e, col("vec_id") < 30, 3,
      flatBase, dim = Some(d))) != rows(ProductQuant.ivfadcProbeStore(e,
      col("vec_id") < 30, 3, resBase, dim = Some(d))))
    // a geometry-mismatched probe refuses
    val dimEx = intercept[IllegalStateException] {
      ProductQuant.ivfadcProbeStore(e, col("vec_id") < 30, 3, resBase,
        dim = Some(d / 2))
    }
    assert(dimEx.getMessage.contains("geometry-mismatched"), dimEx.getMessage)
    // compaction carries the scheme forward with the books
    ProductQuant.writeTombstones(spark, resBase,
      e.filter(col("vec_id") % 9 === 3).select("vec_id"))
    ProductQuant.compactStore(spark, resBase)
    assert(meta(resBase).scheme == Scheme.Residual)
    // a geometry-mismatched retrain refuses before it publishes anything
    val gBefore = ProductQuant.currentGeneration(spark, resBase).map(_._1)
    val half = e.select(col("vec_id"),
      expr(s"slice(embedding, 1, ${d / 2})").as("embedding"))
    val rdimEx = intercept[IllegalStateException] {
      ProductQuant.retrainStore(spark, resBase, half, 16)
    }
    assert(rdimEx.getMessage.contains("geometry-mismatched"),
      rdimEx.getMessage)
    assert(ProductQuant.currentGeneration(spark, resBase).map(_._1) ==
      gBefore)
    // retrain on a residual generation RE-ENCODES against the new
    // coarse book (a re-list would corrupt coarse-relative codes):
    // content is preserved — nothing added or removed vs the compacted
    // generation — and the store stays probe-able through loaded books
    val (gFrom, gTo) = ProductQuant.retrainStore(spark, resBase, e, 16)
    val diff = ProductQuant.indexGenDiff(spark, resBase, gFrom, gTo)
      .groupBy("status").agg(sum("n_vecs").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(diff.getOrElse("added", 0L) == 0L &&
      diff.getOrElse("removed", 0L) == 0L, diff.toString)
    val post = ProductQuant.ivfadcProbeStore(e,
      col("vec_id") < 30, 3, resBase, dim = Some(d))
    assert(post.count() > 0)
    assert(meta(resBase).scheme == Scheme.Residual)
  }

  test("the sidecar's on-disk rows are pinned per scheme: written rows match the layout, parent-layout sidecars load") {
    val d = 16
    val coarse = Seq((7L, Array.tabulate(d)(i => i * 0.25)),
      (3L, Array.tabulate(d)(i => -i * 0.5)))
    val fine = Map(0 -> Seq((5L, Array(0.5, 1.5)), (2L, Array(-1.0, 2.0))),
      1 -> Seq((9L, Array(0.125, 0.0))))
    val rot1 = Seq((Seq.tabulate(d)(i => (i * 37L) % 11 - 5), 1234L))
    val rot2 = rot1 :+ ((Seq.tabulate(d)(i => (i * 13L) % 7 - 3), 567L))
    val schemes = Seq(0L -> Scheme.Flat, 1L -> Scheme.Residual,
      2L -> Scheme.Opq(rot1), 2L -> Scheme.Opq(rot2))
    // the exact row layout every stored generation carries: one meta
    // row (scheme code; nCoarse, m, ks, dim), one rot row per
    // reflection in application order, then the coarse and book rows
    def layout(code: Long, scheme: Scheme): Seq[Row5] = {
      val rots = scheme match {
        case Scheme.Opq(r) => r
        case _             => Nil
      }
      Seq[Row5](("meta", -1, 0, code, Seq(2.0, 2.0, 2.0, d.toDouble))) ++
        rots.zipWithIndex.map { case ((w, ww), i) =>
          ("rot", -1, i, ww, w.map(_.toDouble)) } ++
        coarse.zipWithIndex.map { case ((c, v), i) =>
          ("coarse", -1, i, c, v.toSeq) } ++
        fine.toSeq.sortBy(_._1).flatMap { case (s, cs) =>
          cs.zipWithIndex.map { case ((c, v), i) =>
            ("book", s, i, c, v.toSeq) } }
    }
    def read(gen: String): Seq[Row5] = spark.read
      .parquet(gen + "/" + ProductQuant.QuantizerDir)
      .select("kind", "sub", "ord", "cid", "cv")
      .as[Row5].collect().toSeq
    def same(a: ProductQuant.Books, b: ProductQuant.Books): Boolean =
      a.scheme == b.scheme &&
        a.coarse.map(c => (c._1, c._2.toSeq)) ==
          b.coarse.map(c => (c._1, c._2.toSeq)) &&
        a.fine.map { case (s, cs) => s -> cs.map(c => (c._1, c._2.toSeq)) } ==
          b.fine.map { case (s, cs) => s -> cs.map(c => (c._1, c._2.toSeq)) }
    schemes.foreach { case (code, scheme) =>
      val books = ProductQuant.Books(scheme, coarse, fine)
      // the writer produces exactly the layout
      val written = Scratch.dir(s"sidecar_w_${scheme.name}_")
      ProductQuant.writeQuantizers(spark, written, books)
      assert(read(written).sortBy(r => (r._1, r._2, r._3)) ==
        layout(code, scheme).sortBy(r => (r._1, r._2, r._3)),
        s"${scheme.name} sidecar rows drifted from the stored layout")
      // a sidecar hand-written in that layout (what earlier binaries
      // left on disk) loads as the same books
      val parent = Scratch.dir(s"sidecar_p_${scheme.name}_")
      layout(code, scheme).toDF("kind", "sub", "ord", "cid", "cv")
        .write.parquet(parent + "/" + ProductQuant.QuantizerDir)
      assert(same(ProductQuant.loadBooks(spark, parent), books),
        s"${scheme.name}: a stored sidecar no longer loads as its books")
    }
    // a pre-meta sidecar (no meta row) reads as flat
    val legacy = Scratch.dir("sidecar_legacy_")
    layout(0L, Scheme.Flat).filter(_._1 != "meta")
      .toDF("kind", "sub", "ord", "cid", "cv")
      .write.parquet(legacy + "/" + ProductQuant.QuantizerDir)
    assert(ProductQuant.loadBooks(spark, legacy).scheme == Scheme.Flat)
    // corrupt sidecars refuse: an unknown scheme code, opq without its
    // rotation, a rotation beside flat codes or beside no meta row, a
    // meta row disagreeing with its books, a rotation of the wrong dim
    val corrupt = Seq[Seq[Row5]](
      layout(3L, Scheme.Flat),
      layout(2L, Scheme.Flat),
      layout(2L, Scheme.Opq(rot1)).map(r =>
        if (r._1 == "meta") r.copy(_4 = 0L) else r),
      layout(2L, Scheme.Opq(rot1)).filter(_._1 != "meta"),
      layout(1L, Scheme.Residual).map(r =>
        if (r._1 == "meta") r.copy(_5 = Seq(2.0, 2.0, 2.0, 8.0)) else r),
      layout(2L, Scheme.Opq(rot1)).map(r =>
        if (r._1 == "rot") r.copy(_5 = r._5.take(8)) else r))
    corrupt.zipWithIndex.foreach { case (rows, i) =>
      val gen = Scratch.dir(s"sidecar_bad_${i}_")
      rows.toDF("kind", "sub", "ord", "cid", "cv")
        .write.parquet(gen + "/" + ProductQuant.QuantizerDir)
      intercept[IllegalStateException] {
        ProductQuant.loadBooks(spark, gen)
      }
    }
    // OPQ without a rotation is unrepresentable, so no writer can
    // produce the half-published state the loader refuses
    intercept[IllegalArgumentException] { Scheme.Opq(Nil) }
  }

  test("indexGenDiff classifies moved-list vectors as recoded under the new list") {
    import spark.implicits._
    // vec 1 stays put unchanged, vec 2 moves list 0 -> 3 (retrained
    // coarse quantizer) with identical codes, vec 3 is removed, vec 4
    // appears — the face's oracle can't exercise the moved-list case
    // (synthetic ccid is a pure function of vec_id), so it pins here
    def rel(rows: Seq[(Long, Int, Int, Int)]) =
      rows.toDF("vec_id", "ccid", "sub", "code")
    val base = Scratch.dir("gen_diff_spec_")
    // vec 5 drops its code-0 sub row between generations: the packed
    // fingerprint alone cannot see it (0 << 0 contributes nothing), so
    // the sub-row presence count must classify it 'recoded' (ADVICE r16)
    val a = rel(Seq((1L, 0, 0, 10), (1L, 0, 1, 11),
      (2L, 0, 0, 20), (2L, 0, 1, 21),
      (3L, 5, 0, 30), (3L, 5, 1, 31),
      (5L, 7, 0, 0), (5L, 7, 1, 7)))
    val b = rel(Seq((1L, 0, 0, 10), (1L, 0, 1, 11),
      (2L, 3, 0, 20), (2L, 3, 1, 21),
      (4L, 5, 0, 40), (4L, 5, 1, 41),
      (5L, 7, 1, 7)))
    val (gA, _) = ProductQuant.publishIndex(spark, base, a)
    val (gB, _) = ProductQuant.publishIndex(spark, base, b)
    val got = ProductQuant.indexGenDiff(spark, base, gA, gB).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map((0, "unchanged") -> 1L, (3, "recoded") -> 1L,
      (5, "removed") -> 1L, (5, "added") -> 1L, (7, "recoded") -> 1L),
      got.toString)
    // an INCOMPLETE generation (crashed/in-flight write) refuses to
    // diff instead of reporting its missing vectors as 'removed'
    // (round-16 review-2 #1)
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(base, "v9"))
    intercept[java.util.NoSuchElementException] {
      ProductQuant.indexGenDiff(spark, base, gA, 9)
    }
  }

  test("compactIndex preserves the hot-list salt split (r15 review #2)") {
    val codes = ProductQuant.skewedSyntheticCodes(
      spark.range(0, 200).select(col("id").as("vec_id")))
    val idx = Scratch.dir("compact_salt_") + "/idx"
    ProductQuant.writeIndex(codes, idx, hotLists = Seq(0))
    // fragment a COLD list with a stacked append (micro-batch shape)
    ProductQuant.writeIndex(
      codes.filter(col("ccid") === 3), idx, mode = "append")
    val pre = ProductQuant.indexLayoutAudit(spark, idx).collect()
      .map(r => r.getInt(0) -> r.getString(4)).toMap
    assert(pre(3) == "split_files", s"stacked cold list must flag: $pre")
    ProductQuant.compactIndex(spark, idx)
    val post = ProductQuant.indexLayoutAudit(spark, idx).collect()
    assert(post.forall(_.getString(4) == "ok"),
      s"compaction must converge to ok: ${post.mkString(";")}")
    // the hot list is STILL salt-split — compaction didn't undo the
    // other remedy (and the doubled list-3 rows are all retained)
    assert(post.find(_.getInt(0) == 0).get.getLong(2) > 1L)
    assert(post.find(_.getInt(0) == 3).get.getLong(1) ==
      codes.filter(col("ccid") === 3).count() * 2)
  }

  test("opq stores are self-describing: mismatched probes refuse, compact+retrain carry rotation+scheme (r19)") {
    val e = emb
    val d = Similarity.dimOf(e)
    val base = Scratch.dir("opq_scheme_")
    val scheme = Scheme.Opq(Seq(ProductQuant.opqRotationOf(e, d)))
    assert(ProductQuant.ivfadcStoreTopK(e, col("vec_id") < 30, 3, base,
      scheme, dim = Some(d)).count() > 0)
    assert(ProductQuant.loadBooks(spark,
      ProductQuant.currentIndexDir(spark, base)).scheme == scheme)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    // the one store probe, from a fresh session handed RAW embeddings,
    // applies the stored rotation and returns the in-memory opq answer
    val s2 = spark.newSession()
    val e2 = Tables.load(s2, sfDir, "embeddings")
    val got = rows(ProductQuant.ivfadcProbeStore(e2, col("vec_id") < 30, 3,
      base))
    assert(got.nonEmpty &&
      got == rows(ProductQuant.ivfadcTopK(e2, col("vec_id") < 30, 3, scheme)))
    // compaction carries scheme AND rotation; deletes apply physically
    def probe() = rows(ProductQuant.ivfadcProbeStore(e, col("vec_id") < 30,
        3, base, dim = Some(d)))
    ProductQuant.writeTombstones(spark, base,
      e.filter(col("vec_id") % 7 === 2).select("vec_id"))
    ProductQuant.compactStore(spark, base)
    val schemeC = ProductQuant.loadBooks(spark,
      ProductQuant.currentIndexDir(spark, base)).scheme
    assert(schemeC == scheme, schemeC.toString)
    val after = probe()
    assert(after.nonEmpty && after.forall(_._2 % 7 != 2))
    // retrain re-lists IN THE ROTATED SPACE and keeps the rotation
    ProductQuant.retrainStore(spark, base,
      e.filter(col("vec_id") % 7 =!= 2), 16)
    val schemeR = ProductQuant.loadBooks(spark,
      ProductQuant.currentIndexDir(spark, base)).scheme
    assert(schemeR == scheme, schemeR.toString)
    assert(probe().nonEmpty)
  }

  test("a k=2 rotation store round-trips: ordered rot rows, loaded-rotation probe matches in-hand, compact+retrain carry both (r20)") {
    val e = emb
    val d = Similarity.dimOf(e)
    val rots = ProductQuant.opqRotationsOf2(e, d)
    assert(rots.length == 2)
    val scheme = Scheme.Opq(rots)
    val books = ProductQuant.trainBooks(e, scheme, 16, d)
    val base = Scratch.dir("opq_k2_")
    ProductQuant.publishIndex(spark, base,
      ProductQuant.codesWith(e, books, d), books = Some(books))
    val stored = ProductQuant.loadBooks(spark,
      ProductQuant.currentIndexDir(spark, base)).scheme
    assert(stored == scheme,
      s"k=2 rotation did not round-trip in order: $stored")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    // the probe-only process (RAW corpus in a fresh session, rotations
    // loaded from the store, applied in order) equals both the build
    // session's in-hand probe and the in-memory k=2 opq answer
    val s2 = spark.newSession()
    val e2 = Tables.load(s2, sfDir, "embeddings")
    val got = rows(ProductQuant.ivfadcProbeStore(e2,
      col("vec_id") < 30, 3, base))
    val want = rows(ProductQuant.ivfadcProbeIndex(e,
      col("vec_id") < 30, 3, ProductQuant.currentIndexDir(spark, base),
      books, dim = Some(d)))
    assert(got.nonEmpty && got == want)
    assert(got == rows(ProductQuant.ivfadcTopK(e2, col("vec_id") < 30, 3,
      scheme)))
    // compact and retrain both carry the 2-row rotation verbatim
    ProductQuant.writeTombstones(spark, base,
      e.filter(col("vec_id") % 11 === 5).select("vec_id"))
    ProductQuant.compactStore(spark, base)
    assert(ProductQuant.loadBooks(spark,
      ProductQuant.currentIndexDir(spark, base)).scheme == scheme)
    ProductQuant.retrainStore(spark, base,
      e.filter(col("vec_id") % 11 =!= 5), 16)
    assert(ProductQuant.loadBooks(spark,
      ProductQuant.currentIndexDir(spark, base)).scheme == scheme)
    val after = rows(ProductQuant.ivfadcProbeStore(e,
      col("vec_id") < 30, 3, base, dim = Some(d)))
    assert(after.nonEmpty && after.forall(_._2 % 11 != 5))
  }

  test("a pinned probe refuses a pruned generation instead of answering from another snapshot (r20)") {
    val e = emb
    val d = Similarity.dimOf(e)
    val base = Scratch.dir("idx_pin_refuse_")
    val books = ProductQuant.trainBooks(e, Scheme.Flat, 16, d)
    val codes = ProductQuant.codesWith(e, books, d)
    (1 to 3).foreach(_ => ProductQuant.publishIndex(spark, base, codes,
      books = Some(books)))
    // retained pin works and equals the live probe (same codes/books)
    val pinned = ProductQuant.ivfadcProbeStore(e, col("vec_id") < 30, 3,
      base, dim = Some(d), gen = Some(2)).count()
    assert(pinned > 0)
    ProductQuant.pruneGenerations(spark, base, keep = 1)
    val ex = intercept[java.util.NoSuchElementException] {
      ProductQuant.ivfadcProbeStore(e, col("vec_id") < 30, 3, base,
        dim = Some(d), gen = Some(1))
    }
    assert(ex.getMessage.contains("pruned"), ex.getMessage)
    // a never-published generation refuses identically
    intercept[java.util.NoSuchElementException] {
      ProductQuant.ivfadcProbeStore(e, col("vec_id") < 30, 3, base,
        dim = Some(d), gen = Some(9))
    }
  }

  test("versioned tombstone fold: a reader holding a pre-fold relation stays evaluable across concurrent folds (r20)") {
    val e = emb
    val d = Similarity.dimOf(e)
    val books = ProductQuant.trainBooks(e, Scheme.Flat, 16, d)
    val base = Scratch.dir("tomb_ver_")
    ProductQuant.publishIndex(spark, base,
      ProductQuant.codesWith(e, books, d), books = Some(books))
    ProductQuant.writeTombstones(spark, base,
      e.filter(col("vec_id") % 5 === 0).select("vec_id"))
    // reader A lists BEFORE the first fold (loose appends only)
    val relA = ProductQuant.tombstones(spark, base).get
    val nA = relA.select("vec_id").distinct().count()
    val n1 = ProductQuant.gcTombstones(spark, base)
    assert(n1 == nA && n1 > 0)
    // fold 1 deleted NOTHING a pre-fold listing references
    assert(relA.select("vec_id").distinct().count() == nA,
      "fold 1 broke a pre-fold reader relation")
    // reader B lists between folds (fold version + new appends)
    ProductQuant.writeTombstones(spark, base,
      e.filter(col("vec_id") % 5 === 1).select("vec_id"))
    val relB = ProductQuant.tombstones(spark, base).get
    val nB = relB.select("vec_id").distinct().count()
    assert(nB > nA)
    val n2 = ProductQuant.gcTombstones(spark, base)
    assert(n2 == nB)
    // fold 2 pruned only what fold 1 superseded — reader B's relation
    // (v1 + the second append batch) still evaluates
    assert(relB.select("vec_id").distinct().count() == nB,
      "fold 2 broke a reader relation listed before it")
    // the probe consumes the folded sidecar with no double-counting
    val got = ProductQuant.ivfadcProbeStore(e, col("vec_id") < 30,
      3, base, dim = Some(d)).collect()
    assert(got.nonEmpty &&
      got.forall(r => r.getAs[Long]("cand_id") % 5 > 1))
    // settle: a compaction publishes a clean generation; after
    // retention drops the dirty one, successive GCs empty the sidecar
    // and then remove the directory entirely (grace-deferred)
    ProductQuant.compactStore(spark, base)
    ProductQuant.pruneGenerations(spark, base, keep = 1)
    ProductQuant.gcTombstones(spark, base) // zero survivors: empty fold
    assert(ProductQuant.tombstones(spark, base).isEmpty,
      "a zero-survivor fold must read as no tombstones")
    ProductQuant.gcTombstones(spark, base) // settled: directory drops
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(base,
      ProductQuant.TombstoneDir)),
      "a settled sidecar must eventually disappear")
  }

  test("tombstone fold width scales with survivors; a mid-fold sidecar reads as a correct superset (r19)") {
    sys.props("graft.tombfold.rowsPerFile") = "16"
    try {
      val e = emb
      val d = Similarity.dimOf(e)
      val books = ProductQuant.trainBooks(e, Scheme.Flat, 16, d)
      val base = Scratch.dir("tomb_fold_")
      ProductQuant.publishIndex(spark, base,
        ProductQuant.codesWith(e, books, d), books = Some(books))
      ProductQuant.writeTombstones(spark, base,
        e.filter(col("vec_id") % 3 === 0).select("vec_id"))
      val n = ProductQuant.gcTombstones(spark, base)
      assert(n > 16L, s"fixture too small to force a multi-file fold: $n")
      val width = ProductQuant.tombstoneFoldFiles(n)
      assert(width > 1, "the 16-row knob must force width > 1")
      assert(ProductQuant.tombstoneFsStats(spark, base).map(_._1)
        .contains(width.toLong),
        s"fold must write exactly $width files")
      // MID-FOLD state: folded files appended, one pre-fold part not
      // yet deleted — ids duplicated. Simulate by re-appending a copy
      // of one folded part; reads must stay a correct SUPERSET (the
      // anti-join dedups; no tombstoned id becomes retrievable, no
      // live id disappears).
      val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
        spark.sessionState.newHadoopConf())
      val tombDir = new org.apache.hadoop.fs.Path(base, "_tombstones")
      val part = fs.listStatus(tombDir).filter(s =>
        s.isFile && s.getPath.getName.endsWith(".parquet")).head.getPath
      org.apache.hadoop.fs.FileUtil.copy(fs, part, fs,
        new org.apache.hadoop.fs.Path(tombDir, "stale_prefold.parquet"),
        false, spark.sessionState.newHadoopConf())
      assert(ProductQuant.tombstones(spark, base).get
        .select("vec_id").distinct().count() == n,
        "mid-fold superset must dedup to the surviving set")
      val got = ProductQuant.ivfadcProbeStore(e, col("vec_id") < 30,
        3, base, dim = Some(d)).collect()
      assert(got.nonEmpty && got.forall(
        _.getAs[Long]("cand_id") % 3 != 0))
      // the next GC folds the superset back to the derived width
      val n2 = ProductQuant.gcTombstones(spark, base)
      assert(n2 == n)
      assert(ProductQuant.tombstoneFsStats(spark, base).map(_._1)
        .contains(ProductQuant.tombstoneFoldFiles(n2).toLong))
    } finally sys.props.remove("graft.tombfold.rowsPerFile")
  }
}
