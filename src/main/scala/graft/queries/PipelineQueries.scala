package graft.queries

import graft.Tables
import graft.operators._
import graft.operators.ProductQuant.Scheme
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline queries (dedup / similarity / text analysis /
  * multimodal — north-star extension, SURVEY.md §7.1 module 11), each with
  * a DuckDB oracle reproducing the exact same md5-derived hashing and
  * double-promoted float math.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** Shared exact-truth recall gate (ONE definition for every ANN face
    * — VERDICT r11 #3): per query, hits = |approx ∩ truth| against the
    * brute-force top-k, recall = hits / k_truth rounded to 6. Both
    * inputs are (query_id, cand_id, ...) top-k relations; the gate
    * always measures the face's own shipped plan — callers pass the
    * same builder the named query ships.
    */
  private def recallGate(truth: DataFrame, approx: DataFrame): DataFrame = {
    val t = truth.select("query_id", "cand_id")
    val a = approx.select(col("query_id").as("a_qid"),
      col("cand_id").as("a_cid"))
    t.join(a, t("query_id") === a("a_qid") && t("cand_id") === a("a_cid"),
        "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k_truth"),
        sum(when(col("a_qid").isNotNull, 1L).otherwise(0L)).as("hits"))
      .withColumn("recall",
        round(col("hits").cast("double") / col("k_truth"), 6))
      .orderBy("query_id")
  }

  /** The WHOLE store lifecycle composed into one face, under the scheme
    * `schemeOf` builds from the standing corpus (VERDICT r17 #3; the
    * residual and opq compositions, r18 #2 and r19 #1) — every verb is
    * individually green, but seams hide in composition: publish v1
    * (standing corpus, books trained on it — an OPQ rotation is learned
    * there too and freezes with the books) → incremental ingest (v2 =
    * the grown corpus under the SAME frozen books — append == rebuild)
    * → between-epoch deletes (tombstones) → compact (physical delete +
    * sidecar GC, the books carrying scheme and rotation forward) →
    * retention prune → coarse retrain on the surviving corpus (flat and
    * opq codes re-list under the Lloyd-1 assignment, residual codes
    * re-encode against it; fine books carried forward) → probe through
    * BOOKS LOADED FROM THE STORE. The probe reads the scheme from the
    * sidecar, so a scheme or rotation dropped anywhere along the way
    * mis-scores and the oracle row goes red. The oracle is a
    * from-scratch DuckDB lane over the surviving corpus: fine books
    * trained on the standing subset (in its rotation, on its residuals
    * under the standing-sampled coarse book), coarse book = the kmeans
    * chain over survivors, candidates = survivors (re-encoded for
    * residual), queries untouched by deletes.
    */
  private def indexLifecycle(s: SparkSession, dir: String, scratch: String,
                             schemeOf: (DataFrame, Int) => Scheme)
      : DataFrame = {
    val e = emb(s, dir)
    val d = Similarity.dimOf(e)
    val base = graft.Scratch.dir(scratch)
    val standing = e.filter(col("vec_id") < 400)
    val books =
      ProductQuant.trainBooks(standing, schemeOf(standing, d), 16, d)
    ProductQuant.publishIndex(s, base,
      ProductQuant.codesWith(standing, books, d), books = Some(books))
    ProductQuant.publishIndex(s, base,
      ProductQuant.codesWith(e, books, d), books = Some(books))
    ProductQuant.writeTombstones(s, base,
      e.filter(col("vec_id") % 9 === 3).select("vec_id"))
    ProductQuant.compactStore(s, base)
    ProductQuant.pruneGenerations(s, base, keep = 1)
    ProductQuant.retrainStore(s, base,
      e.filter(col("vec_id") % 9 =!= 3), 16)
    ProductQuant.ivfadcProbeStore(e, col("vec_id") < 50, 3, base,
      dim = Some(d))
      .orderBy("query_id", "rank")
  }

  /** Corpus with planted exact duplicates (fixtures ship none): every
    * doc_id % 7 == 0 document re-ingested under a shifted id — the
    * "same page fetched twice" case exact dedup exists for.
    */
  private def dupCorpus(d: DataFrame): DataFrame = {
    val base = d.select(col("doc_id"), col("text"))
    base.unionByName(
      base.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 10000L))
  }

  /** Corpus with a planted nav-bar suffix on every 4th document — the
    * shared-template case the boilerplate scan exists for (the fixture
    * text is synthetic and shares no natural 5-grams across documents).
    */
  private def boilCorpus(d: DataFrame): DataFrame =
    d.withColumn("text", when(col("doc_id") % 4 === 0,
      concat(col("text"),
        lit(" home login search contact about privacy terms help")))
      .otherwise(col("text")))

  /** Corpus with planted excerpts (fixtures ship none): every 6th
    * document also ingested as its leading 40% of tokens under a shifted
    * id — the "quoted excerpt / partial recrawl" case whose Jaccard to
    * the original is too low for symmetric dedup but whose CONTAINMENT
    * is ~1.
    */
  private def excerptCorpus(d: DataFrame): DataFrame = {
    val base = d.select(col("doc_id"), col("text"))
    base.unionByName(
      base.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 40000L).as("doc_id"),
          expr("array_join(slice(split(text, ' '), 1, " +
            "greatest(3, (size(split(text, ' ')) * 2) div 5)), ' ')")
            .as("text")))
  }

  /** Corpus with planted PII on every 5th document (an email + a phone
    * derived from the doc_id — deterministic and oracle-reproducible).
    */
  private def piiCorpus(d: DataFrame): DataFrame =
    d.withColumn("text", when(col("doc_id") % 5 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-"),
        lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
      .otherwise(col("text")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_stats" -> ((s, dir) => TextAnalysis.stats(docs(s, dir)).orderBy("doc_id")),

    // Per-language bigram census — collocation top-10.
    "ngram_topk" -> ((s, dir) =>
      TextAnalysis.ngramTopK(docs(s, dir), 10).orderBy("lang", "rank")),

    // PMI collocation mining — the rational (log-free) micro-unit PMI
    // over adjacent token pairs; the tokenizer-pre-merge discovery pass.
    "pmi_topk" -> ((s, dir) =>
      Lexicon.pmiTopK(docs(s, dir), 5L, 50).orderBy("rank")),

    // BPE vocabulary induction, inner step: the frequency census of
    // adjacent 2-char windows inside words — the argmax is merge rule #1.
    "bpe_pairs" -> ((s, dir) =>
      Lexicon.bpePairs(docs(s, dir), 50).orderBy("rank")),

    // BPE merge TRAINING (Lexicon.bpeTrainMerges scaladoc): three
    // learn-top-pair / apply-merge rounds over the word vocabulary —
    // later rounds see merged symbols, so this is the real tokenizer
    // induction loop, not the one-step pair census above. The oracle
    // unrolls the same three rounds as stateless CTE stages (any
    // adjacent pair; homogeneous merges via the run-parity rule —
    // Lexicon.bpeTrainMerges scaladoc).
    "bpe_train_merges" -> ((s, dir) =>
      Lexicon.bpeTrainMerges(docs(s, dir), 3).orderBy("step")),

    // Tokenizer APPLY face (Lexicon.bpeApply scaladoc): merges train on
    // the standing 4/5 of the corpus ONLY; the held-out 1/5 segments
    // against the frozen merge list — the encodeWithBook twin (ingest
    // never re-trains or rescans standing data). The oracle re-derives
    // the standing merges with the shared round CTEs, then replays the
    // shared splice over the delta words.
    "bpe_apply" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = Lexicon
        .bpeTrainMerges(d.filter(col("doc_id") % 5 =!= 0), 3)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Lexicon.bpeApply(d.filter(col("doc_id") % 5 === 0), merges)
        .orderBy("word")
    }),

    // The trained-vocabulary face (Lexicon.bpeVocab scaladoc): the
    // symbol census AFTER the three learned merges — merged symbols
    // outrank their constituent characters exactly where the merges
    // paid off.
    "bpe_vocab" -> ((s, dir) =>
      Lexicon.bpeVocab(docs(s, dir), 3, 50).orderBy("rank")),

    // Tokenizer EVAL face: per-language fertility of the trained
    // tokenizer — tokens per char and tokens per word in exact integer
    // micro-units. The standard gauge for whether a tokenizer trained
    // on a mixed corpus taxes some language disproportionately (its
    // fertility exceeds the corpus mean). Segmentation cost rides the
    // DISTINCT-word census once (bpeApply); the per-language weights
    // join back on the word key.
    "bpe_fertility" -> ((s, dir) =>
      Lexicon.fertilityByLang(docs(s, dir), 3)),

    // Capped posting lists: token -> doc frequency + first-20 doc_ids —
    // the retrieval index relation behind BM25 / contamination lookups.
    "inverted_index" -> ((s, dir) =>
      Lexicon.invertedIndex(docs(s, dir), 20).orderBy("token")),

    // Corpus-frequency boilerplate scan over the planted-template corpus:
    // every 4th doc shares the nav-bar 5-grams, the rest score zero.
    "boilerplate_ngrams" -> ((s, dir) =>
      TextAnalysis.boilerplate(boilCorpus(docs(s, dir)), 5, 2)
        .orderBy("doc_id")),

    // PII scrub over the planted corpus: match counts + redacted-text md5.
    "pii_redact" -> ((s, dir) =>
      TextAnalysis.piiRedact(piiCorpus(docs(s, dir))).orderBy("doc_id")),

    // Domain mixing: four sources resampled to 200/200/100/500 permille —
    // the feasible total water-fills from per-source counts, quota members
    // pick by a salted hash rank.
    "domain_mix" -> ((s, dir) =>
      TextAnalysis.domainMix(docs(s, dir),
        Map("src0" -> 200, "src1" -> 200, "src2" -> 100, "src3" -> 500))
        .orderBy("source", "pick_rank")),

    // α=1/2 temperature-flattened source mix (domainTemperatureMix
    // scaladoc): weights floor(sqrt(n_d)) — IEEE-correctly-rounded sqrt
    // makes the lane engine-exact; quotas integer floor-divisions.
    "domain_temperature_mix" -> ((s, dir) =>
      TextAnalysis.domainTemperatureMix(docs(s, dir), 100L)
        .orderBy("source", "pick_rank")),

    // Robust per-lang doc-length outliers by Median Absolute Deviation
    // (Quantiles.madOutliers scaladoc): discrete lower-medians by rank
    // arithmetic, integer deviations — distribution-free QA, bit-exact.
    "mad_outliers" -> ((s, dir) =>
      Quantiles.madOutliers(docs(s, dir), "lang", "doc_id", "n_chars",
        k = 2)),

    "lang_id" -> ((s, dir) => TextAnalysis.langId(docs(s, dir)).orderBy("doc_id")),

    // Confusion matrix of declared vs guessed language — the accuracy
    // face of the language-ID pass (which declared languages the n-gram
    // heuristic mislabels, and as what).
    "lang_confusion" -> ((s, dir) =>
      TextAnalysis.langId(docs(s, dir))
        .groupBy("lang_declared", "lang_guess")
        .agg(count(lit(1)).as("docs"))
        .orderBy("lang_declared", "lang_guess")),

    "doc_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(docs(s, dir)).orderBy("doc_id")),

    "token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(docs(s, dir)).orderBy("doc_id")),

    "vocab_topk" -> ((s, dir) => TextAnalysis.vocab(docs(s, dir), 100)),

    "dataset_split" -> ((s, dir) =>
      TextAnalysis.splitAssign(docs(s, dir)).orderBy("doc_id")),

    "quality_filter" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(docs(s, dir)).orderBy("doc_id")),

    // Per-language permille rates: en down-sampled less than zh, the
    // remaining languages at the default — the mixture-balancing step of
    // corpus assembly.
    "stratified_sample" -> ((s, dir) =>
      TextAnalysis.stratifiedSample(docs(s, dir),
        Map("en" -> 300, "zh" -> 500), 100).orderBy("doc_id")),

    "tfidf_topk" -> ((s, dir) =>
      TextAnalysis.tfidfTopK(docs(s, dir), 3).orderBy("doc_id", "rank")),

    // Exact discrete token-length quantiles per language — the corpus
    // distribution summary; integer rank arithmetic keeps it engine-exact.
    "length_quantiles" -> ((s, dir) =>
      Quantiles.groupStats(
        docs(s, dir).select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
        "lang", "n_tokens", "doc_id").orderBy("lang")),

    // Best-5 documents per language by the composite quality score —
    // the curation selection pass (W1-W3 generalized to top-k).
    "top_docs_per_lang" -> ((s, dir) => {
      val d = docs(s, dir)
      Rank.topKPerGroup(
        d.select("doc_id", "lang")
          .join(TextAnalysis.stats(d).select("doc_id", "quality"), "doc_id"),
        Seq("lang"), Seq(col("quality").desc, col("doc_id").asc), 5)
        .select("lang", "doc_id", "quality", "rank")
        .orderBy("lang", "rank")
    }),

    "pack_shards" -> ((s, dir) =>
      TextAnalysis.packShards(docs(s, dir), 2000L).orderBy("doc_id")),

    // Small-file compaction planning (Compaction scaladoc): first-fit
    // binning of per-source fragments toward 2 KiB output files — the
    // lake-maintenance inverse of the reference's chunk split, windowed
    // PER SOURCE so a 1000-partition lake plans 1000 independent streams.
    "compaction_plan" -> ((s, dir) =>
      Compaction.plan(docs(s, dir), "source", "doc_id", "n_chars", 2048L)),

    // JSONL source/sink roundtrip: documents → newline-delimited JSON →
    // schema-EXPLICIT read-back (no inference scan — at 100 TB an
    // inference pass is a full extra read) → per-lang totals. The oracle
    // aggregates the parquet directly, so the check proves the JSONL
    // encode/decode is lossless for doc_id/lang/n_chars/text lengths.
    "jsonl_roundtrip" -> ((s, dir) => {
      val base = graft.Scratch.dir("graft_jsonl_")
      docs(s, dir).select("doc_id", "lang", "source", "n_chars", "text")
        .write.mode("overwrite").json(base)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      s.read.schema(schema).json(base)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          sum(length(col("text"))).as("sum_textlen"))
        .orderBy("lang")
    }),

    // Token-level sequence packing: span rows for 512-token training
    // sequences, long docs split across boundaries.
    "pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(docs(s, dir), 512L)
        .orderBy("lang", "seq_id", "doc_id")),

    // Out-of-vocabulary audit against the top-100 corpus vocabulary.
    "vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(docs(s, dir), 100).orderBy("doc_id")),

    // Equal-depth token-length deciles (curriculum binning).
    "length_deciles" -> ((s, dir) =>
      TextAnalysis.lengthDeciles(docs(s, dir)).orderBy("doc_id")),

    // Eval-leakage gate: corpus docs (doc_id % 20 != 0) scanned against
    // the benchmark subset (doc_id % 20 = 0); the small benchmark posting
    // relation broadcasts, the corpus streams.
    "contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.contamination(
        d.filter(col("doc_id") % 20 =!= 0),
        d.filter(col("doc_id") % 20 === 0), 0.5)
        .orderBy("doc_id", "bench_id")
    }),

    // Char-level eval-leakage scan: every corpus doc with doc_id % 20 == 1
    // gets its neighboring benchmark doc's text APPENDED (the
    // "benchmark item pasted into a long page" leak whose symmetric
    // Jaccard is diluted below any threshold); winnow containment on the
    // benchmark side flags all 25 planted leaks at 1000 permille while
    // natural 30-word-vocabulary noise stays below ~455.
    "contamination_winnow" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("text"))
      val leaky = d.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"), col("text"))
        .join(bench.select((col("doc_id") + 1).as("__lid"),
          col("text").as("__btext")), col("doc_id") === col("__lid"), "left")
        .select(col("doc_id"),
          when(col("__btext").isNotNull,
            concat(col("text"), lit(" "), col("__btext")))
            .otherwise(col("text")).as("text"))
      Dedup.winnowContamination(leaky, bench, window = 8, minPermille = 500L)
        .orderBy("doc_id", "bench_id")
    }),

    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(dupCorpus(docs(s, dir))).orderBy("text_md5")),

    // Incremental ingest dedup: every 10th document plays the "new
    // batch", the rest the standing index; only cross pairs are mined.
    "dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.minhashAgainstIndex(
        d.filter(col("doc_id") % 10 === 0),
        d.filter(col("doc_id") % 10 =!= 0), 0.5)
        .orderBy("new_id", "index_id")
    }),

    // Shard payload assembly: concatenated doc_id-ordered text per
    // (lang, shard), emitted as the payload md5 + size stats.
    "shard_payloads" -> ((s, dir) =>
      TextAnalysis.assembleShards(docs(s, dir), 2000L)
        .orderBy("lang", "shard_id")),

    // Incremental-republish audit: pack the corpus, append a batch of NEW
    // documents (higher doc_ids — append-only growth), re-pack, and diff
    // the two shard manifests by payload md5. Because packing orders by
    // doc_id, appended docs can only extend each group's TAIL shard —
    // every earlier shard must come back byte-identical, which is the
    // property that lets a 100 TB re-publish skip re-writing (and
    // re-validating) almost all shards. The query surfaces exactly which
    // shards an incremental writer must touch.
    "shard_stability" -> ((s, dir) => {
      val d = docs(s, dir)
      // append-only growth means the delta ids must sit ABOVE the whole
      // standing corpus — derive the shift from the data (one 1-row
      // bounded collect; a fixture-sized constant collided with real
      // ids at sf1, and the duplicate-id sort tie made the payload
      // order engine-dependent — caught by the r13 sf1 oracle sweep)
      val shift = d.agg(max(col("doc_id"))).head().getLong(0) + 1L
      val delta = d.filter(col("doc_id") % 9 === 0)
        .withColumn("doc_id", col("doc_id") + lit(shift))
      val v1 = TextAnalysis.assembleShards(d, 2000L)
        .select(col("lang"), col("shard_id"),
          col("n_docs").as("n_docs_v1"), col("payload_md5").as("md5_v1"))
      val v2 = TextAnalysis.assembleShards(d.unionByName(delta), 2000L)
        .select(col("lang"), col("shard_id"),
          col("n_docs").as("n_docs_v2"), col("payload_md5").as("md5_v2"))
      v1.join(v2, Seq("lang", "shard_id"), "full_outer")
        .select(col("lang"), col("shard_id"),
          when(col("md5_v1").isNull, "new")
            .when(col("md5_v2").isNull, "removed")
            .when(col("md5_v1") === col("md5_v2"), "unchanged")
            .otherwise("changed").as("status"),
          coalesce(col("n_docs_v1"), lit(0L)).as("n_docs_v1"),
          coalesce(col("n_docs_v2"), lit(0L)).as("n_docs_v2"))
        .orderBy("lang", "shard_id")
    }),

    // Dynamic quality gate: drop each language's shortest decile — the
    // threshold comes from the DATA (per-group exact P10 by ceil-rank),
    // not a constant, so the filter adapts per stratum. The per-lang
    // threshold relation is tiny and broadcast into the filter join; the
    // ranking window is the one per-lang sort exact quantiles require.
    "quality_dynamic_filter" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val w = Window.partitionBy("lang")
        .orderBy(col("n_tokens").asc, col("doc_id").asc)
      val thr = d.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("lang")))
        .groupBy("lang")
        .agg(max(when(col("rn") === expr("(cnt + 9) div 10"),
          col("n_tokens"))).as("p10"))
      d.join(broadcast(thr), "lang")
        .filter(col("n_tokens") >= col("p10"))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("p10"))
        .orderBy("doc_id")
    }),

    // Per-source ("domain-level") rollup: doc counts, token totals and
    // mean quality per source — the RefinedWeb-style source triage view.
    // Quality averages over CANONICAL micro-units (round(q*1e6) bigint):
    // integer partial sums re-combine exactly, where a float mean would
    // depend on each engine's accumulation order.
    "source_stats" -> ((s, dir) => {
      val d = docs(s, dir)
      d.select(col("doc_id"), col("source"))
        .join(TextAnalysis.stats(d).select("doc_id", "quality", "n_tokens"),
          "doc_id")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(expr("CAST(round(quality * 1000000) AS BIGINT)")).as("q_micro"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          round(col("q_micro").cast("double") / 1000000.0 / col("n_docs"), 6)
            .as("avg_quality"))
        .orderBy("source")
    }),

    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashNearDups(docs(s, dir), 0.5).orderBy("doc_a", "doc_b")),

    // Estimator accuracy gate for the minhash family: lane-agreement
    // estimate vs exact Jaccard on every banded candidate pair.
    "minhash_accuracy" -> ((s, dir) =>
      Dedup.minhashEval(docs(s, dir)).orderBy("doc_a", "doc_b")),

    // Banding-parameter sweep (Dedup.minhashBandSweep scaladoc): the
    // recall-vs-verification-work curve per (bands, rows_per_band)
    // split of one 12-lane signature, in ONE shingle+sign pass — the
    // dedup-family twin of ivfadc_probe_sweep. The bands=12 row is the
    // self-check: truth is its own verified candidate set, recall 1000.
    // Hot band buckets (quadratic in the loosest 1-lane config on a
    // template-heavy corpus) are capped at 32 docs; the per-config
    // dropped_postings column states what the cap skipped.
    "minhash_band_sweep" -> ((s, dir) =>
      Dedup.minhashBandSweep(docs(s, dir), maxBucket = Some(32))),

    "dedup_simhash" -> ((s, dir) => Dedup.simhash(docs(s, dir)).orderBy("doc_id")),

    // Banded candidates + popcount verify; lossless for d=1 < 2 bands,
    // so the oracle is the exact all-pairs Hamming join. d=1: the 16-bit
    // fixture signature saturates (25% of ALL pairs sit within d=3 at
    // sf0.01), so only the tightest radius is a meaningful near-dup set.
    // 2 bands of 8 bits (not 4x4): band selectivity is 2^bandBits, and
    // d=1 only needs 2 bands — ~30x fewer candidate rows than 4x4.
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), 1, bands = 2, bandBits = 8)
        .orderBy("doc_a", "doc_b")),

    // 48-bit signature, 8 bands of 6 bits (lossless for d=3 < 8): the
    // scale-width variant — random pairs sit ~24 bits apart, so d<=3
    // selects genuine near-dups instead of 16-bit birthday collisions.
    "dedup_simhash48_pairs" -> ((s, dir) =>
      Dedup.simhashPairsOf(Dedup.simhash48(docs(s, dir)), 3, 8, 6)
        .orderBy("doc_a", "doc_b")),

    "dedup_jaccard" -> ((s, dir) =>
      Dedup.jaccardNearDups(docs(s, dir), 0.5).orderBy("doc_a", "doc_b")),

    // Cluster collapse — the step AFTER pair mining: near-dup pairs chain
    // into connected components and every clustered doc maps to its
    // canonical (minimum) id. The oracle is the recursive reachability
    // closure's per-node minimum.
    "dedup_clusters" -> ((s, dir) =>
      Dedup.components(
        Dedup.minhashNearDups(docs(s, dir), 0.5).select("doc_a", "doc_b"))
        .orderBy("doc_id")),

    // Representative selection — the KEEP policy on top of the cluster
    // collapse: production dedup keeps the best member of each near-dup
    // cluster (here: most tokens, lowest doc_id on ties — the "longest
    // member" rule), not an arbitrary one, and reports what the drop
    // saves. One aggregation over the labeled members: argmax by
    // max(struct(n_tokens, -doc_id)) — integer-exact, order-free — and
    // dropped_tokens = cluster total minus the kept member, i.e. the
    // per-cluster dedup savings a curation run signs off on before
    // deleting anything.
    "dedup_keep_best" -> ((s, dir) => {
      val d = docs(s, dir)
      val comp = Dedup.components(
        Dedup.minhashNearDups(d, 0.5).select("doc_a", "doc_b"))
      val toks = d.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      comp.join(toks, "doc_id")
        .groupBy("canonical_id")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_tokens"), (-col("doc_id")).as("nid"))).as("kp"),
          sum("n_tokens").as("total_tokens"))
        .select(col("canonical_id"), col("n_members"),
          (-col("kp.nid")).as("keep_id"),
          col("kp.n_tokens").as("keep_tokens"),
          (col("total_tokens") - col("kp.n_tokens")).as("dropped_tokens"))
        .orderBy("canonical_id")
    }),

    // The composed one-materialization pipeline (VERDICT r04 missing #2):
    // the shingle kernel — the dominant narrow cost shared by the minhash
    // and exact-jaccard paths — is materialized ONCE (written/read as a
    // table, the 100 TB pattern; a persist would leak past the query),
    // feeds both `*From` consumers, and the two near-dup sets reconcile
    // via a full outer join with membership flags. in_minhash=false rows
    // are the LSH recall loss (re-covered here by the exact path);
    // in_exact=false rows cannot occur (minhash verifies exact jaccard) —
    // the flag asserts that invariant in the output contract itself.
    "pipeline_composed" -> ((s, dir) => {
      val base = graft.Scratch.dir("graft_shingle_rel_")
      Dedup.shingleKernel(docs(s, dir)).write.mode("overwrite").parquet(base)
      val sk = s.read.parquet(base)
      val mh = Dedup.minhashNearDupsFrom(sk, 0.5)
        .select(col("doc_a"), col("doc_b"), col("jaccard").as("mh_jaccard"))
      val jc = Dedup.jaccardNearDupsFrom(sk, 0.5, None)
        .select(col("doc_a"), col("doc_b"), col("jaccard").as("ex_jaccard"))
      mh.join(jc, Seq("doc_a", "doc_b"), "full_outer")
        .select(col("doc_a"), col("doc_b"),
          coalesce(col("ex_jaccard"), col("mh_jaccard")).as("jaccard"),
          col("mh_jaccard").isNotNull.as("in_minhash"),
          col("ex_jaccard").isNotNull.as("in_exact"))
        .orderBy("doc_a", "doc_b")
    }),

    // The END-TO-END curation pipeline as one relation — the 100 TB usage
    // story: repetition-quality filter -> near-dup cluster collapse (keep
    // canonical members only) -> deterministic split assignment -> token
    // packing per (split, lang) -> shard manifest. Every stage is an
    // already-oracle-checked operator; this query checks their
    // COMPOSITION (filter-before-dedup ordering, join plumbing, packing
    // over the composite group) against one SQL mirror.
    "pipeline_curate" -> ((s, dir) => {
      val d = docs(s, dir)
      val keepIds = TextAnalysis.repetitionSignals(d)
        .filter(col("keep")).select("doc_id")
      val dupIds = Dedup.components(
        Dedup.minhashNearDups(d, 0.5).select("doc_a", "doc_b"))
        .filter(col("canonical_id") =!= col("doc_id")).select("doc_id")
      val kept = d.join(keepIds, "doc_id")
        .join(dupIds, Seq("doc_id"), "left_anti")
      val withSplit = kept.join(
        TextAnalysis.splitAssign(d).select("doc_id", "split"), "doc_id")
        .withColumn("grp", concat_ws("|", col("split"), col("lang")))
      TextAnalysis.packShards(withSplit, 2000L, "grp")
        .groupBy("grp", "shard_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("est_tokens")).as("shard_tokens"))
        .select(
          element_at(split(col("grp"), "\\|"), 1).as("split"),
          element_at(split(col("grp"), "\\|"), 2).as("lang"),
          col("shard_id"), col("n_docs"), col("shard_tokens"))
        .orderBy("split", "lang", "shard_id")
    }),

    // Context-window chunking: every doc becomes overlapping 200-char
    // windows at stride 150 — the long-document split before sequence
    // packing.
    "doc_chunks" -> ((s, dir) =>
      TextAnalysis.chunk(docs(s, dir), 200, 150).orderBy("doc_id", "chunk_id")),

    // Sub-document dedup-and-rewrite (Dedup.chunkDedupRewrite scaladoc):
    // 100-char spans, first-owner-wins across the corpus, documents
    // reassembled from surviving spans — the paragraph-dedup shape; the
    // rewritten bytes are witnessed by md5.
    "chunk_dedup_rewrite" -> ((s, dir) =>
      Dedup.chunkDedupRewrite(docs(s, dir), 100)),

    // Canonical-form audit: md5/length of the normalized text + changed
    // flag — the pass run before content dedup.
    "text_normalize" -> ((s, dir) =>
      TextAnalysis.normalizeStats(docs(s, dir)).orderBy("doc_id")),

    // Cross-source content dedup over a corpus with planted recrawl
    // variants (fixtures ship none): every doc_id % 5 == 0 document
    // re-ingested under source 'recrawl' with padded whitespace — byte-
    // different, so exact md5 misses it, but one content key after
    // normalization. Priority keeps the original crawl's copy.
    "cross_source_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val aug = d.unionByName(
        d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 20000L).as("doc_id"),
            lit("recrawl").as("source"),
            concat(lit("  "), col("text"), lit(" ")).as("text")))
      Dedup.canonicalByContent(aug,
          when(col("source") === "recrawl", 9L).otherwise(0L))
        .orderBy("content_key")
    }),

    // Asymmetric containment dedup over the planted-excerpt corpus:
    // every excerpt is caught with cont_a ~ 1 even though its Jaccard to
    // the full document is far below any symmetric threshold.
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(excerptCorpus(docs(s, dir)), 0.8)
        .orderBy("doc_a", "doc_b")),

    // Character-level substring-overlap pairs from winnowing fingerprint
    // SETS over the same planted-excerpt corpus — the suffix-array-free
    // exact-substring dedup face: the excerpt shares its whole character
    // prefix with the original, so >= 40% of the smaller side's
    // fingerprints co-occur (82/84 planted pairs at these settings; the
    // two misses are 3-token excerpts below the winnowing guarantee
    // length of 7 + window chars). The fixture corpus draws from a
    // ~30-word vocabulary, so lower thresholds surface GENUINE incidental
    // substring sharing between unrelated docs — the permille threshold,
    // not the raw shared count, is the dedup dial.
    "winnow_overlap" -> ((s, dir) =>
      Dedup.winnowOverlapPairs(excerptCorpus(docs(s, dir)),
        window = 8, minShared = 2L, maxBucket = Some(32), minPermille = 400L)
        .orderBy("doc_a", "doc_b")),

    // The recall gate for the substring-overlap miner (same pattern as
    // minhash_accuracy / ann_recall): every planted (original, excerpt)
    // pair either appears in winnow_overlap's output or doesn't — one
    // oracle-pinned row of (n_planted, n_caught, recall_permille), so a
    // parameter or kernel regression that silently costs recall turns
    // the ledger red instead of passing as "fewer rows".
    "winnow_accuracy" -> ((s, dir) => {
      val caught = Dedup.winnowOverlapPairs(excerptCorpus(docs(s, dir)),
        window = 8, minShared = 2L, maxBucket = Some(32), minPermille = 400L)
        .select(col("doc_a"), col("doc_b")).withColumn("__hit", lit(1))
      docs(s, dir).filter(col("doc_id") % 6 === 0)
        .select(col("doc_id").as("doc_a"),
          (col("doc_id") + 40000L).as("doc_b"))
        .join(caught, Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_planted"),
          sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_caught"))
        .withColumn("recall_permille",
          expr("n_caught * 1000 div n_planted"))
    }),

    // DSIR importance ranking: top-50 documents by hashed-ngram
    // log-likelihood ratio of the 'en' target domain vs the raw corpus —
    // the domain-targeted data-selection step (micro-nat weights keep
    // cross-engine rank order bit-stable).
    "dsir_topk" -> ((s, dir) =>
      Selection.dsirTopK(docs(s, dir), "lang = 'en'", 256, 50)
        .orderBy("rank")),

    // The paper's actual selection step: Gumbel-top-k importance
    // RESAMPLING with hash-derived (replayable) Gumbel noise — the
    // oracle pins the drawn sample itself.
    "dsir_sample" -> ((s, dir) =>
      Selection.dsirSample(docs(s, dir), "lang = 'en'", 256, 50)
        .orderBy("draw")),

    // Corpus-unigram-LM cross-entropy / perplexity per document — the
    // CCNet-style LM quality signal, engine-portable form.
    "unigram_ppl" -> ((s, dir) =>
      Selection.unigramPpl(docs(s, dir)).orderBy("doc_id")),

    // Interpolated corpus-BIGRAM-LM perplexity — the sequential quality
    // signal (word-order-aware where unigram_ppl is blind to order);
    // λ=0.8 Jelinek–Mercer back-off onto the unigram census.
    "bigram_ppl" -> ((s, dir) =>
      Selection.bigramPpl(docs(s, dir)).orderBy("doc_id")),

    // Per-source lexical drift: KL(P_source ‖ P_corpus) over the token
    // distribution, with the argmax contributing token — the mix gauge
    // DoReMi-style re-weighting reads.
    "source_token_kl" -> ((s, dir) => Selection.sourceTokenKl(docs(s, dir))),

    // Zipf power-law gauge: OLS slope + r² of the top-100
    // rank-frequency census in log-log space (Selection.zipfSlope).
    "zipf_slope" -> ((s, dir) => Selection.zipfSlope(docs(s, dir), 100)),

    // Per-source dataset card: volume, mean length, language spread,
    // dominant language + permille share (Selection.sourceProfile).
    "source_profile" -> ((s, dir) => Selection.sourceProfile(docs(s, dir))),

    // Within-doc token entropy + type-token ratio — the repetitiveness
    // pair the corpus-LM perplexities cannot see.
    "doc_token_entropy" -> ((s, dir) =>
      Selection.docTokenEntropy(docs(s, dir))),

    // Per-doc trigram novelty vs everything ingested before it (the
    // doc-level face of the vocab_growth curve).
    "ngram_novelty" -> ((s, dir) => Selection.ngramNovelty(docs(s, dir))),

    // Heaps'-law vocabulary growth: the corpus in 10 doc-id-ordered
    // increments; per increment, cumulative tokens, NEW types, and
    // cumulative vocabulary (Selection.vocabGrowth scaladoc).
    "vocab_growth" -> ((s, dir) => Selection.vocabGrowth(docs(s, dir), 10)),

    // PCA family (Pca.scala scaladoc): exact-integer covariance census
    // in one corpus scan; quantized power iteration on the collected
    // census (bounded codebook contract, bit-replayed by the oracle's
    // unrolled CTE chain); shuffle-free corpus projection.
    "embed_covariance" -> ((s, dir) => Pca.covarianceCells(emb(s, dir))),
    "embed_pca_power" -> ((s, dir) => Pca.topComponentDf(emb(s, dir))),
    "pca_explained" -> ((s, dir) => Pca.explained(emb(s, dir))),
    "embed_pca_project" -> ((s, dir) => Pca.project(emb(s, dir))),

    // Second component by integer-exact DEFLATED power iteration (each
    // matvec orthogonalized against v1 before normalization); the
    // cross_micro column pins v1·v2 ~ 0.
    "embed_pca_power2" -> ((s, dir) => Pca.secondComponentDf(emb(s, dir))),

    // Both learned components in one corpus pass — the 2-D coordinates
    // a cluster/visualize/stratify step consumes.
    "embed_pca_project2" -> ((s, dir) => Pca.projectTwo(emb(s, dir))),

    // JL random-projection distortion: ratio of projected to original
    // squared pair distance at target dims {8,16,32} — all integer up
    // to the one ratio division (Pca.jlDistortion scaladoc).
    "jl_distortion" -> ((s, dir) => Pca.jlDistortion(emb(s, dir))),

    // Per-dimension z-score standardization from the census μ/σ —
    // per-row map against literal arrays, plus the |z|>3σ outlier
    // count per vector.
    "embed_standardize" -> ((s, dir) => Pca.standardize(emb(s, dir))),

    // Incremental-ingest face of the covariance census: standing 4/5
    // and delta 1/5 census separately, merge cell-wise, finish — must
    // equal the direct full-corpus covariance (merge == rebuild, the
    // Sketches merge-face contract applied to PCA).
    "pca_census_merge" -> ((s, dir) => {
      val e = emb(s, dir)
      Pca.covarianceFromCensus(Pca.mergeCensus(Seq(
        Pca.covarianceCensus(e.filter(col("vec_id") % 5 =!= 0)),
        Pca.covarianceCensus(e.filter(col("vec_id") % 5 === 0)))))
    }),

    // BM25 retrieval ranking for the corpus's top-5 tokens as the query;
    // log-free rational idf + micro-unit per-term scores keep the
    // cross-term sum integer-exact (see TextAnalysis.bm25TopK).
    "bm25_topk" -> ((s, dir) =>
      TextAnalysis.bm25TopK(docs(s, dir), 5, 10).orderBy("rank")),

    // SemDeDup-style semantic dedup: quantizer clusters bound the pair
    // work; within-cluster cosine >= 0.4 drops the higher id. The
    // dropped=false rows are the surviving corpus.
    "semdedup" -> ((s, dir) =>
      Similarity.semdedup(emb(s, dir), 0.4).orderBy("vec_id")),

    // SemDeDup threshold operating-point sweep: per cosine threshold,
    // cleared pairs / dropped vectors / survivors in one pair-scoring
    // pass — the dedup-rate curve behind the 0.4 default (the
    // band_sweep / probe_sweep pattern on the curation face).
    "semdedup_sweep" -> ((s, dir) => Similarity.semdedupSweep(emb(s, dir))),

    "knn_cosine" -> ((s, dir) =>
      Similarity.bruteForceTopK(emb(s, dir), col("vec_id") < 10, 5)
        .orderBy("query_id", "rank")),

    // MMR diverse top-5 for query vector 0: greedy
    // relevance − ½·max-sim-to-picked, exact-integer, lowest-id ties
    // (Similarity.mmrSelect scaladoc).
    "mmr_select" -> ((s, dir) =>
      Similarity.mmrSelect(emb(s, dir), col("vec_id") === 0, 5)
        .orderBy("rank")),

    // Hard-negative mining (Similarity.hardNegatives scaladoc): per
    // query, the 3 nearest neighbors with a DIFFERENT label — the
    // contrastive-training batch; ranking after the label filter so a
    // same-label neighbor never shadows a harder negative.
    "ann_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(emb(s, dir), col("vec_id") < 10, 3)
        .orderBy("query_id", "rank")),

    // Order-preserving dense surrogate ids WITHOUT a global window
    // (Ids.denseIds scaladoc): range-bucket ranks + bucket-summary
    // prefix offsets, bit-identical to the single-partition row_number.
    "dense_ids" -> ((s, dir) =>
      Ids.denseIds(docs(s, dir), "doc_id", 100L).orderBy("doc_id")),

    // Per-lang integer-permille percentile normalization of doc length
    // (Rank.percentileNorm scaladoc) — cross-source score calibration;
    // the >=900 filter IS the per-group top-decile selection.
    "quality_percentile_norm" -> ((s, dir) =>
      Rank.percentileNorm(docs(s, dir).select("doc_id", "lang", "n_chars"),
        "lang", "n_chars", "doc_id")
        .filter(col("pr_permille") >= 900)
        .orderBy("lang", "doc_id")),

    // ANN quality gate: recall@3 of the sign-LSH index vs exact brute
    // force over the same query set — the measurement that decides
    // whether the cheap index is allowed to replace the exact scan.
    // Bench note (VERDICT r12 #3 / r13 #7): the ~0.2 s step from r11
    // is the truth lane's r12 switch to the cosine_all kernel — the
    // kernel's single corpus pass no longer shares the LSH lane's scan
    // the old join form could partially reuse. Plan read r13: brute
    // lane cosine_all + LSH lane cosine_score/BHJ + one SMJ for the
    // gate join, 6 scans, no cartesian — the knn_cosine 2x win that
    // motivated the kernel outweighs this composition's extra pass.
    // r14 drift audit (VERDICT r13 #4, the 0.53→0.72→0.97 series): a
    // job-level action census of the executed face counts exactly the
    // designed action set — one parquet listing, one dimOf head, one
    // corpus count, one bounded limit-count, plus the main query's AQE
    // stage jobs; the r13 signLshTopK→signLshTopKOn delegation passes
    // bits/dim as Some(_), and Option.getOrElse's default is BY-NAME,
    // so the deriveBits(count()) fallback provably never fires on the
    // delegated path (no second count action exists). The shared LSH
    // lane (ann_lsh) moved 0.80→0.94 s over the same rounds — the
    // uniform co-tenant drift the r13 sidecar self-flagged — and a
    // warm min-of-3 on this build reads ~0.84 s. Environment, not
    // plan: nothing to fix in the operator.
    "ann_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      recallGate(Similarity.bruteForceTopK(e, col("vec_id") < 50, 3),
        Similarity.signLshTopK(e, col("vec_id") < 50, 3))
    }),

    "ann_lsh" -> ((s, dir) =>
      Similarity.signLshTopK(emb(s, dir), col("vec_id") < 50, 3)
        .orderBy("query_id", "rank")),

    // PCA→ANN composition gate (VERDICT r12 #6): the pipeline a real
    // embed store runs — REDUCE first (Pca.jlProjectCol at k=16, the
    // operating point jl_distortion gauges at ~3% mean deviation),
    // BUCKET on the reduction (the index stores/hashes 16 floats, not
    // 64), rerank co-bucket candidates with the FULL-dim exact cosine,
    // and measure what the whole composition costs vs full-dim brute
    // force (recall@3). This proves reduction and index COMPOSE rather
    // than coexist — and measures the honest operating point: ranking
    // INSIDE the 16-dim space scores ~0.05 on this isotropic corpus
    // (near-orthogonal neighbors scramble under JL), while
    // bucket-reduced + rerank-full holds 0.59 vs the full-dim index's
    // 0.63 at sf0.01 — 4 recall points for a 4× smaller index, the
    // trade this gauge exists to price.
    "pca_ann_recall" -> ((s, dir) => {
      graft.functions.JlKernels.register(s) // jlProjectCol composes bare
      val e = emb(s, dir)
      recallGate(Similarity.bruteForceTopK(e, col("vec_id") < 50, 3),
        Similarity.signLshTopKOn(e, Pca.jlProjectCol(64, 16), 16,
          col("vec_id") < 50, 3))
    }),

    // Reciprocal-rank fusion of the two ANN indexes — the standard
    // hybrid-retrieval combiner (rank-based, so incomparable score
    // scales fuse cleanly): rrf_micro = Σ over runs of 1e6 div
    // (60 + rank). Integer per-term flooring makes the fused score
    // engine-exact; candidates surfaced by BOTH indexes outrank
    // single-run candidates of equal rank — exactly the agreement
    // bonus RRF exists to award. Re-rank is per-query, TakeOrdered
    // semantics on bounded candidate lists.
    "ann_rank_fusion" -> ((s, dir) => {
      val runs =
        Similarity.signLshTopK(emb(s, dir), col("vec_id") < 50, 3)
          .select(col("query_id"), col("cand_id"), col("rank"))
          .unionByName(
            Similarity.ivfTopK(emb(s, dir), col("vec_id") < 50, 3)
              .select(col("query_id"), col("cand_id"), col("rank")))
      runs
        .withColumn("term", expr("1000000L div (60L + rank)"))
        .groupBy("query_id", "cand_id")
        .agg(sum("term").as("rrf_micro"), count(lit(1)).as("n_runs"))
        .withColumn("fused_rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query_id")
            .orderBy(col("rrf_micro").desc, col("cand_id"))))
        .filter(col("fused_rank") <= 3)
        .orderBy("query_id", "fused_rank")
    }),

    "ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(emb(s, dir), col("vec_id") < 50, 3)
        .orderBy("query_id", "rank")),

    // One-Lloyd-iteration quantizer: assignment + probing against the
    // refined (member-mean) centroids, decimal-exact component sums so
    // the oracle reproduces the means bit-for-bit.
    "ann_ivf_kmeans" -> ((s, dir) =>
      Similarity.ivfTopKKmeans(emb(s, dir), col("vec_id") < 50, 3)
        .orderBy("query_id", "rank")),

    // Multi-band recall recovery for top-k: candidates share ANY of 4
    // independent dim-slice sign bands with the query.
    "ann_lsh_banded" -> ((s, dir) =>
      Similarity.signLshTopKBanded(emb(s, dir), col("vec_id") < 50, 3)
        .orderBy("query_id", "rank")),

    // The FULL quantizer-training loop as a relation: 3 spherical-Lloyd
    // rounds, per-round per-cluster member counts and micro-unit
    // cohesion — the training curve (Similarity.kmeansTrainCurve).
    "kmeans_train_curve" -> ((s, dir) =>
      Similarity.kmeansTrainCurve(emb(s, dir), 16, 3)),

    "dedup_jaccard_capped" -> ((s, dir) =>
      Dedup.jaccardNearDups(docs(s, dir), 0.5, maxBucket = Some(5))
        .orderBy("doc_a", "doc_b")),

    "embed_neardup" -> ((s, dir) =>
      Similarity.nearDupPairs(emb(s, dir), 0.4).orderBy("id_a", "id_b")),

    // Scale path: co-bucket equi-join candidates, exact verify — the
    // embedding analogue of dedup_jaccard_capped's capped/exact split.
    "embed_neardup_bucketed" -> ((s, dir) =>
      Similarity.nearDupPairsBucketed(emb(s, dir), 0.4).orderBy("id_a", "id_b")),

    // Multi-band recall recovery: candidates agree on ANY of 4
    // independent dim-slice sign bands; a pair escapes only if every
    // band differs.
    "embed_neardup_banded" -> ((s, dir) =>
      Similarity.nearDupPairsBanded(emb(s, dir), 0.4).orderBy("id_a", "id_b")),

    "multimodal_features" -> ((s, dir) =>
      Multimodal.features(s, docs(s, dir)).orderBy("doc_id")),

    "frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(s, Multimodal.withPayload(docs(s, dir)))
        .orderBy("doc_id", "frame_idx")),

    // Aspect-preserving resize planning into a 64x64 box over the decoded
    // (stub) dims — pure integer arithmetic, mirrored exactly in SQL.
    "image_resize" -> ((s, dir) =>
      Multimodal.resizePlan(Multimodal.features(s, docs(s, dir)), 64, 64)
        .orderBy("doc_id")),

    // Perceptual image fingerprint over the binary payload column —
    // the multimodal pillar's first-class dedup signature (VERDICT r13
    // #1): dHash's downsample→gradient-sign scheme as an exact-integer
    // box filter (dhash63 kernel), one codegen'd pass, no shuffle.
    "image_phash" -> ((s, dir) =>
      Multimodal.phash(Multimodal.withPayload(docs(s, dir)))
        .orderBy("doc_id")),

    // Image near-dup mining on the planted variant corpus: every
    // recompressed/rescaled variant must surface against its original
    // through the 9×7-band phash join (lossless at radius 4, so the
    // oracle is the brute-force all-pairs filter). The banding reuses
    // Dedup.simhashPairsOf verbatim — no new join machinery.
    "image_neardup" -> ((s, dir) =>
      Multimodal.phashPairs(
        Multimodal.withPayload(Multimodal.plantVariants(docs(s, dir))))
        .orderBy("doc_a", "doc_b")),

    // The TRUE-BINARY leg of the perceptual triad (VERDICT r14 #5):
    // every other phash face fingerprints ASCII text-bytes, leaving the
    // kernel's full-range byte path (>0x7F, 0x00) spec-tier only. This
    // corpus is md5-derived pseudo-pixel BINARY with per-doc length
    // variation (48/64 bytes), so both the hi-byte path AND the box
    // filter's fractional-block overlap weighting are oracle-tier.
    "image_phash_binary" -> ((s, dir) =>
      Multimodal.phash(Multimodal.withBinaryPayload(docs(s, dir)))
        .orderBy("doc_id")),

    // The DECODE leg of the perceptual pillar (VERDICT r17 #5): the
    // same planted pixel bytes packed into REAL grayscale PNGs
    // (javax.imageio — the JDK's own codec, no new dependency), then
    // decoded back to pixels and box-filter-hashed — decode →
    // fingerprint, the production image-dedup order. PNG grayscale is
    // lossless, so the oracle re-derives the pixel bytes from the hex
    // lane and must match bit-for-bit; the payload-vs-decode
    // divergence on a recompressed container is spec-pinned.
    "image_phash_decoded" -> ((s, dir) =>
      Multimodal.phashDecoded(Multimodal.withPngPayload(docs(s, dir)))
        .orderBy("doc_id")),

    // Near-dup mining on the planted BINARY corpus: a one-byte 0xFF
    // perturbation (≤3 gradient bits — sensor/recompression noise) and
    // exact duplicates must surface through the same 9×7-band join,
    // with the nearest random pair measured at hamming 13 — the
    // radius-4 margin holds in full-range byte space too.
    "image_neardup_binary" -> ((s, dir) =>
      Multimodal.phashPairs(Multimodal.plantBinaryVariants(docs(s, dir)))
        .orderBy("doc_a", "doc_b")),

    // Radius operating curve for the perceptual near-dup (the
    // minhash_band_sweep discipline applied to Hamming radius): ONE
    // banded pass at the widest lossless radius (8 < 9 bands), then
    // every swept radius filters the same candidate relation — pair
    // counts and planted recall per radius quantify WHY image_neardup
    // ships radius 4 (full planted recall with minimal noise pairs).
    // Static radius spine, so an empty radius reports 0, not absence.
    "image_radius_sweep" -> ((s, dir) => {
      import s.implicits._
      val d0 = docs(s, dir)
      val shift = Multimodal.plantShift(d0)
      val pairs = Multimodal.phashPairs(
        Multimodal.withPayload(Multimodal.plantVariants(d0)), maxHamming = 8)
      val plantedTotal =
        d0.filter(col("doc_id") % 20 === 0 || col("doc_id") % 20 === 10)
          .count()
      val tagged = pairs.withColumn("planted",
        (col("doc_b") === col("doc_a") + lit(shift) &&
          col("doc_a") % 20 === 0) ||
        (col("doc_b") === col("doc_a") + lit(2L * shift) &&
          col("doc_a") % 20 === 10))
      val spine = Seq(0L, 2L, 4L, 6L, 8L).toDF("max_hamming")
      // radius membership as a per-pair explode (never a join: a cross
      // join here would be the BNLJ shape PlanAuditSpec forbids)
      val counts = tagged
        .select(col("hamming"), col("planted"),
          explode(typedLit(Seq(0L, 2L, 4L, 6L, 8L))).as("max_hamming"))
        .filter(col("hamming") <= col("max_hamming"))
        .groupBy("max_hamming")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("planted"), 1L).otherwise(0L)).as("planted_pairs"))
      spine.join(counts, Seq("max_hamming"), "left")
        .select(col("max_hamming"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("planted_pairs"), lit(0L)).as("planted_pairs"),
          lit(plantedTotal).as("planted_total"),
          expr(s"coalesce(planted_pairs, 0L) * 1000 div $plantedTotal")
            .as("recall_permille"))
        .orderBy("max_hamming")
    }),

    // Audio near-dup — the SHIFT-robust triad member
    // (Multimodal.audioNearDups scaladoc): planted head/tail trims at
    // deliberately frame-UNALIGNED offsets (17 / 23 samples), paired
    // by content-defined-chunk containment; the spec proves the
    // contrast (positional video framing finds none of these pairs,
    // CDC chunking finds all of them).
    "audio_neardup" -> ((s, dir) =>
      Multimodal.audioNearDups(
        Multimodal.plantAudioVariants(docs(s, dir)))
        .orderBy("doc_a", "doc_b")),

    // Per-frame perceptual fingerprints for the (fake) video payload —
    // the temporal signature relation video_neardup pairs on; one
    // narrow codegen'd slice-and-hash pass.
    "frame_phash" -> ((s, dir) =>
      Multimodal.frameHashes(Multimodal.withPayload(docs(s, dir)))
        .orderBy("doc_id", "frame_idx")),

    // Temporal near-dup mining on planted tail-cut / intro-cut
    // variants (Multimodal.videoNearDups scaladoc): shared-frame
    // containment over an fhash inverted index with the hot-frame
    // posting cap — cuts and trims leave frame bytes intact, so every
    // planted edit must pair with its original at 1000 permille.
    "video_neardup" -> ((s, dir) =>
      Multimodal.videoNearDups(
        Multimodal.withPayload(Multimodal.plantVideoVariants(docs(s, dir))))
        .orderBy("doc_a", "doc_b")),

    // Fixed-budget per-stratum sample (TextAnalysis.reservoirSample
    // scaladoc): exactly 20 docs per language via bounded-buffer top-k on
    // salted-hash priority — no window sort, no rate/size coupling. The
    // oracle is the window form over the same priority lane.
    "reservoir_sample" -> ((s, dir) =>
      TextAnalysis.reservoirSample(docs(s, dir), "lang", 20)
        .orderBy("lang", "rank")),

    // Eval-contamination QA across the train/val/test boundary: near-dup
    // pairs (the minhash lane) joined to both endpoints' split
    // assignments, counted by split pair. Off-diagonal rows (split_lo <>
    // split_hi) are leakage — a near-dup of a test doc sitting in train
    // defeats the held-out evaluation, which is why cluster-aware
    // splitting exists. Composes two already-oracle'd lanes; the count
    // matrix is the auditable artifact a curation run signs off on.
    "split_leakage_guard" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashNearDups(d, 0.5).select("doc_a", "doc_b")
      val sp = TextAnalysis.splitAssign(d).select("doc_id", "split")
      pairs
        .join(sp.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("split", "split_a"), "doc_a")
        .join(sp.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("split", "split_b"), "doc_b")
        .select(least(col("split_a"), col("split_b")).as("split_lo"),
          greatest(col("split_a"), col("split_b")).as("split_hi"))
        .groupBy("split_lo", "split_hi")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("split_lo", "split_hi")
    }),

    // PQ ANN (ProductQuant scaladoc): 4-subspace x 8-centroid codebook
    // learned from a bounded md5-ordered sample (SampleN=80 — codebook
    // training is a sample job at 100 TB), every vector compressed to 4
    // codes, multi-probe integer code-match banding (candidate shares
    // >= 1 code with the query's nearest OR 2nd-nearest centroid per
    // subspace — bounded 2x candidate growth) and exact rounded-cosine
    // rerank. Completes the LSH / IVF / PQ ANN-trilogy; the memory face
    // of the 100 TB story (4 B/vector index vs 256 B of floats).
    "ann_pq" -> ((s, dir) =>
      ProductQuant.pqTopK(emb(s, dir), col("vec_id") < 50, 3)
        .orderBy("query_id", "rank")),

    // Recall gate for the PQ face — same exact-truth contract as
    // ann_recall: lossy code-match banding may only LOSE neighbors, and
    // this query measures exactly how many, per query.
    "pq_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      recallGate(Similarity.bruteForceTopK(e, col("vec_id") < 50, 3),
        ProductQuant.pqTopK(e, col("vec_id") < 50, 3))
    }),

    // ADC scoring lane (ProductQuant.adcTopK scaladoc) — the IVFADC
    // two-stage: code-only shortlist scan (per-subspace query dots
    // precomputed into a broadcast LUT, summed in integer micro-units —
    // exact, order-free — over an 8x16 codebook on L2-normalized
    // vectors), then exact rounded-cosine rerank of the top-150. Stage 1
    // scans a 100 TB index at 8 B/vector; stage 2 touches full vectors
    // for only the shortlist fraction.
    "ann_pq_adc" -> ((s, dir) =>
      ProductQuant.adcTopK(emb(s, dir), col("vec_id") < 50, 3)
        .orderBy("query_id", "rank")),

    // IVFADC (ProductQuant.ivfadcTopK scaladoc) — the composed
    // two-quantizer index: a 16-list coarse IVF routes the ADC code
    // scan to the query's 4 probed lists, so stage 1 touches ~1/4 of
    // the code relation instead of every code row (the r10 verdict's
    // "true IVFADC" item; Jégou 2011 §V). Scoring, shortlist rule, and
    // exact rerank are shared with ann_pq_adc — one definition.
    "ann_ivfadc" -> ((s, dir) =>
      ProductQuant.ivfadcTopK(emb(s, dir), col("vec_id") < 50, 3,
        Scheme.Flat)
        .orderBy("query_id", "rank")),

    // IVFADC against the PERSISTED ccid-partitioned index
    // (ProductQuant.ivfadcPartitionedTopK scaladoc; VERDICT r12 #3):
    // the code relation is written PARTITIONED BY ccid and the probe
    // reads back ONLY the probed lists' partitions (PartitionFilters —
    // spec-asserted). Row-identical to ann_ivfadc by construction; the
    // oracle is literally the same SQL.
    "ann_ivfadc_partitioned" -> ((s, dir) =>
      ProductQuant.ivfadcPartitionedTopK(emb(s, dir), col("vec_id") < 50,
        3, graft.Scratch.dir("ivfadc_index_"))
        .orderBy("query_id", "rank")),

    // The steady-state PROBE against the at-rest index, isolated from
    // the one-time build (VERDICT r13 #3): the per-JVM cached index is
    // built on first touch per sf, so the bench's min-of-k (and any
    // repeat query batch) times the probe alone — the comparable
    // series for the 100 TB steady state. Row-identical to
    // ann_ivfadc_partitioned; same oracle SQL.
    "ann_ivfadc_probe" -> ((s, dir) =>
      ProductQuant.ivfadcCachedProbeTopK(emb(s, dir), dir,
        col("vec_id") < 50, 3)
        .orderBy("query_id", "rank")),

    // The composed DEPLOYMENT path (VERDICT r15 #1): real PQ codes
    // published as a complete store generation (publishIndex), the
    // live generation resolved (currentIndexDir), and the probe run
    // against the resolved immutable directory (ivfadcProbeIndex) —
    // publish → resolve → probe in one face, the seam the lifecycle
    // faces (index_publish) and the steady-state probe
    // (ann_ivfadc_probe) each verified half of. Row-identical to
    // ann_ivfadc_partitioned by construction; same oracle SQL.
    "ann_ivfadc_store_probe" -> ((s, dir) =>
      ProductQuant.ivfadcStoreTopK(emb(s, dir), col("vec_id") < 50,
        3, graft.Scratch.dir("ivfadc_store_face_"), Scheme.Flat)
        .orderBy("query_id", "rank")),

    // The store's DELETE verb at probe time (round 16): tombstone
    // every 9th vector, probe the live generation through
    // ivfadcProbeStore — deleted vectors leave the candidate set
    // immediately (broadcast anti-join BEFORE scoring) while the
    // physical rows wait for the next compaction. Queries are
    // untouched (retrievability, not ask-ability, is what a delete
    // revokes). Oracle = the IVFADC chain with the same candidate
    // filter.
    "ann_ivfadc_tombstoned" -> ((s, dir) => {
      val e = emb(s, dir)
      val d = Similarity.dimOf(e)
      val books = ProductQuant.trainBooks(e, Scheme.Flat, 16, d)
      val base = graft.Scratch.dir("ivfadc_tomb_")
      ProductQuant.publishIndex(s, base,
        ProductQuant.codesWith(e, books, d), books = Some(books))
      ProductQuant.writeTombstones(s, base,
        e.filter(col("vec_id") % 9 === 3).select("vec_id"))
      // books loaded from the store, not the ones in scope — the
      // delete path exercises the same self-describing probe as the
      // deployment face (r17)
      ProductQuant.ivfadcProbeStore(e, col("vec_id") < 50, 3, base,
        dim = Some(d))
        .orderBy("query_id", "rank")
    }),

    // The DELETE verb at rest (round 16): compaction publishes the
    // next generation WITHOUT the tombstoned rows — retention prune
    // then leaves only the cleaned generation, and the audit pins the
    // per-list populations of the physically-deleted layout. The
    // probe-parity half (tombstone-filtered probe of the old
    // generation == plain probe of the compacted one, row-identical)
    // is spec-asserted in ProductQuantSpec.
    "index_tombstone_compact" -> ((s, dir) => {
      val e = emb(s, dir)
      val codes = ProductQuant.uniformSyntheticCodes(e)
      val base = graft.Scratch.dir("idx_tomb_")
      ProductQuant.publishIndex(s, base, codes)
      ProductQuant.writeTombstones(s, base,
        e.filter(col("vec_id") % 9 === 3).select("vec_id"))
      ProductQuant.compactStore(s, base)
      ProductQuant.pruneGenerations(s, base, keep = 1)
      ProductQuant.storeAudit(s, base)
        .select("generation", "ccid", "n_rows", "flag", "is_current")
        .orderBy("generation", "ccid")
    }),

    // The tombstone sidecar's own LIFECYCLE, end to end (VERDICT r16
    // #2): after the first compaction the dirty v1 is still retained,
    // so GC must KEEP every id (readers resolving v1 still need the
    // filter — the sidecar merely folds to one file); after retention
    // prunes v1 and a second compaction runs, no retained generation
    // contains a tombstoned row and GC removes the sidecar entirely.
    // Both counts are data-derived: the mid-state is the planted
    // cohort's size, the end-state is the data-derived empty relation
    // (tombstones() = None). The one-file fold and the doctor's
    // tombstone report are spec-pinned (file counts aren't
    // SQL-derivable).
    "index_tombstone_gc" -> ((s, dir) => {
      val e = emb(s, dir)
      val base = graft.Scratch.dir("idx_gc_")
      ProductQuant.publishIndex(s, base,
        ProductQuant.uniformSyntheticCodes(e))
      ProductQuant.writeTombstones(s, base,
        e.filter(col("vec_id") % 9 === 3).select("vec_id"))
      ProductQuant.compactStore(s, base)
      val afterCompact = ProductQuant.tombstones(s, base)
        .map(_.count()).getOrElse(0L)
      ProductQuant.pruneGenerations(s, base, keep = 1)
      ProductQuant.compactStore(s, base)
      val afterGc = ProductQuant.tombstones(s, base)
        .map(_.count()).getOrElse(0L)
      import s.implicits._
      Seq(("after_compact", afterCompact), ("after_gc", afterGc))
        .toDF("stage", "n_tombstones").orderBy("stage")
    }),

    // Physical-design audit of the persisted index layout (VERDICT r13
    // #8): per-list row counts from the index parquet + file counts
    // from a bounded driver listing, flagging the write path's two
    // documented hazards (split_files, hot_list). The oracle derives
    // each list's population relationally (8 code rows per assigned
    // vector) and asserts the LAYOUT INVARIANT n_files = 1 — if the
    // pre-write repartition(ccid) guard ever regresses into the
    // tasks×lists file explosion, this row goes red. Byte sizes aren't
    // SQL-derivable, so they stay on the operator (spec-pinned) and
    // off the face.
    "index_layout_audit" -> ((s, dir) => {
      val e = emb(s, dir)
      val d = Similarity.dimOf(e)
      ProductQuant.indexLayoutAudit(s,
        ProductQuant.cachedIndexDir(e, dir, 16, d))
        .select("ccid", "n_rows", "n_files", "flag")
    }),

    // Compaction EXECUTED on the index (ProductQuant.compactIndex
    // scaladoc) — the action the audit's split_files flag calls for:
    // the face deliberately fragments an index (two half-corpus
    // appends = two files per touched list), compacts it, and returns
    // the post-compaction audit pinned to the 1-file-per-list layout.
    // The codes are the BALANCED synthetic relation (ccid = vec_id
    // mod 16 — no list can be hot for ANY corpus), so the n_files=1
    // pin is corpus-robust now that compactIndex preserves hot-list
    // salting (r15 review-2 #1: with IVFADC codes the pin held only
    // while no fixture coarse list happened to exceed 2× the mean;
    // real-codes compaction, fragmentation, and the salted-hot
    // preservation are spec-asserted in ProductQuantSpec).
    "index_compact" -> ((s, dir) => {
      val codes = ProductQuant.uniformSyntheticCodes(emb(s, dir))
      val idx = graft.Scratch.dir("compact_idx_")
      ProductQuant.writeIndex(codes.filter(col("vec_id") % 2 === 0), idx)
      ProductQuant.writeIndex(codes.filter(col("vec_id") % 2 === 1), idx,
        mode = "append")
      ProductQuant.compactIndex(s, idx)
      ProductQuant.indexLayoutAudit(s, idx)
        .select("ccid", "n_rows", "n_files", "flag")
    }),

    // The audit→action loop for hot_list (VERDICT r14 #6), the salt
    // twin of index_compact's split_files remedy: a planted skew (even
    // vec_ids pile into list 0, ~4.5× the mean) writes unsalted →
    // audit flags hot_list; the flagged ccids (a ≤nCoarse bounded
    // collect) feed writeIndex's salt widening → the rewrite splits
    // ONLY the hot list (every other list keeps the 1-file invariant)
    // → the flag clears. Per-ccid sum fingerprints computed by READING
    // the salted index prove the rewrite preserved the row set — the
    // probe's input is bit-for-bit the same relation. n_files stays
    // off the face (hash-bucket counts aren't SQL-derivable);
    // physical n_files > 1 for the hot list is spec-asserted.
    "index_salt_rebalance" -> ((s, dir) => {
      val codes = ProductQuant.skewedSyntheticCodes(emb(s, dir))
      val before = graft.Scratch.dir("salt_before_")
      val after = graft.Scratch.dir("salt_after_")
      ProductQuant.writeIndex(codes, before)
      // ONE bounded collect feeds the flagged-ccid list AND the total
      // the salted write sizes its shuffle from — the audit already
      // counted every list, so the rewrite must not pay a hidden
      // codes.count() per invocation (round-16 review-2 #4)
      val auditRows = ProductQuant.indexLayoutAudit(s, before)
        .select("ccid", "n_rows", "flag").collect()
      val hot = auditRows.filter(_.getString(2) == "hot_list")
        .map(_.getInt(0)).sorted.toSeq
      val total = auditRows.map(_.getLong(1)).sum
      ProductQuant.writeIndex(codes, after, hotLists = hot,
        saltTasks = Some(ProductQuant.saltTasksFor(total,
          ProductQuant.SaltBuckets)))
      // the before-audit relation for the output joins straight from
      // the collected rows (≤nCoarse) instead of re-running the audit
      val auditBefore = {
        import s.implicits._
        auditRows.map(r => (r.getInt(0), r.getString(2))).toSeq
          .toDF("ccid", "flag_before")
      }
      val auditAfter = ProductQuant.indexLayoutAudit(s, after)
        .select(col("ccid"), col("n_rows"), col("flag").as("flag_after"))
      // pinned to writeIndex's write contract (the ProductQuant sidecar
      // discipline): skips the per-read footer-inference job over the
      // salted multi-file layout; INT32 synthetic codes widen into the
      // BIGINT lane, so code_fp's values and sum type are unchanged
      val fp = s.read.schema("vec_id BIGINT, sub INT, code BIGINT")
        .parquet(after)
        .groupBy(col("ccid").cast("int").as("ccid"))
        .agg(sum(col("vec_id")).as("sum_vec"),
          sum(col("code") * (col("sub") + 1)).as("code_fp"))
      auditBefore.join(auditAfter, Seq("ccid")).join(fp, Seq("ccid"))
        .select(col("ccid"), col("n_rows"), col("flag_before"),
          col("flag_after"), col("sum_vec"), col("code_fp"))
        .orderBy("ccid")
    }),

    // Versioned index publication (ADVICE r14, executed): generations
    // v1/v2 under one store, the pointer flips only after a complete
    // write, readers resolve-then-scan an immutable directory — the
    // reader-atomic layer over writeIndex/compactIndex. v1 publishes
    // the skewed corpus unsalted (audit: hot_list), v2 republishes it
    // salted (audit: ok) — a full maintenance cycle as generations,
    // with is_current pinning the pointer. Reader-atomicity itself
    // (a v1 DataFrame surviving the v2 publish bit-for-bit) and the
    // pointer-loss _SUCCESS fallback are spec-asserted.
    "index_publish" -> ((s, dir) => {
      val codes = ProductQuant.skewedSyntheticCodes(emb(s, dir))
      val base = graft.Scratch.dir("idx_store_")
      val (g1, d1) = ProductQuant.publishIndex(s, base, codes)
      val (g2, d2) = ProductQuant.publishIndex(s, base, codes,
        hotLists = Seq(0))
      val cur = ProductQuant.currentGeneration(s, base).map(_._1).getOrElse(0)
      def auditOf(g: Int, d: String) =
        ProductQuant.indexLayoutAudit(s, d)
          .select(lit(g).as("generation"), col("ccid"), col("n_rows"),
            col("flag"), lit(g == cur).as("is_current"))
      auditOf(g1, d1).unionByName(auditOf(g2, d2))
        .orderBy("generation", "ccid")
    }),

    // The streaming publisher's refresh cadence, batch-tier (VERDICT
    // r15 #8): three epochs append into a growing corpus, each epoch
    // publishes the CUMULATIVE snapshot as a new generation (exactly
    // what StreamingPartitionedIndexSpec's foreachBatch publisher
    // does live), then retention prunes to the newest two. The face
    // returns ProductQuant.storeAudit — whose generation list is
    // derived from the store DIRECTORY, so v1's absence after the
    // prune is a data-derived fact the oracle pins, alongside the
    // per-list populations of the retained generations and the
    // pointer (is_current on the newest). Balanced synthetic codes
    // (ccid = vec_id % 16) keep every cumulative prefix unhot, so
    // flag = ok is corpus-robust (the index_compact rationale).
    "index_stream_publish" -> ((s, dir) => {
      val codes = ProductQuant.uniformSyntheticCodes(emb(s, dir))
      val base = graft.Scratch.dir("idx_epochs_")
      (1 to 3).foreach { epoch =>
        ProductQuant.publishIndex(s, base,
          codes.filter(col("vec_id") % 3 < epoch))
      }
      ProductQuant.pruneGenerations(s, base, keep = 2)
      ProductQuant.storeAudit(s, base)
        .select("generation", "ccid", "n_rows", "flag", "is_current")
        .orderBy("generation", "ccid")
    }),

    // Refresh-cycle observability (ProductQuant.indexGenDiff scaladoc):
    // what did the new generation actually change, per inverted list —
    // added / removed / recoded / unchanged vector counts from the two
    // 8 B/vector code relations alone (codes pack losslessly into one
    // long; full vectors never touched). The planted refresh: the new
    // generation drops every 7th vector, adds the %3=2 cohort the old
    // one lacked, and bumps every 5th surviving vector's codes — so
    // all four statuses populate from pure vec_id arithmetic and the
    // oracle replays them relationally.
    "index_gen_diff" -> ((s, dir) => {
      val codes = ProductQuant.uniformSyntheticCodes(emb(s, dir))
      val base = graft.Scratch.dir("idx_diff_")
      val oldGen = codes.filter(col("vec_id") % 3 < 2)
      val newGen = codes.filter(col("vec_id") % 7 =!= 0)
        .withColumn("code",
          ((col("code") + when(col("vec_id") % 5 === 0, 1).otherwise(0))
            % 256).cast("int"))
      val (gA, _) = ProductQuant.publishIndex(s, base, oldGen)
      val (gB, _) = ProductQuant.publishIndex(s, base, newGen)
      ProductQuant.indexGenDiff(s, base, gA, gB)
        .orderBy("ccid", "status")
    }),

    // The salt clamp's convergence boundary, REMEDIED (VERDICT r16
    // #3): a collapsed coarse quantizer leaves list 0 at ~(nonempty
    // lists)/2 × the mean — past the point where salting is the wrong
    // tool (the deriveHotLists scaladoc's stated boundary; the
    // fabricated >128× corpus and the physical audit flags live in
    // ProductQuantSpec, since file counts aren't SQL-derivable) — and
    // retrainStore re-lists the generation under the one-Lloyd-round
    // k-means assignment. The face returns three relational parts:
    // per-list HEAT of both generations (rows vs 2× the nonempty-list
    // mean, the file-free half of the audit flag, computed by reading
    // the published parquet back) and the cross-generation diff, every
    // survivor classifying 'recoded' unless the retrained centroid id
    // coincides with its planted list. Oracle: the plant arithmetic +
    // the ann_ivf_kmeans refined-assignment CTEs.
    "index_retrain_rebalance" -> ((s, dir) => {
      val e = emb(s, dir)
      val base = graft.Scratch.dir("idx_retrain_")
      val (g1, _) = ProductQuant.publishIndex(s, base,
        ProductQuant.collapsedSyntheticCodes(e))
      val (_, g2) = ProductQuant.retrainStore(s, base, e, 16)
      // heat counts rows per list — the pinned id-lane read (ccid rides
      // in as the appended partition column) skips the footer-inference
      // job over the 600-directory salted layout, the face's single
      // most expensive metadata pass (~0.45 s profiled at sf0.1)
      def heat(g: Int, part: String) =
        s.read.schema("vec_id BIGINT")
          .parquet(s"${base.stripSuffix("/")}/v$g")
          .groupBy(col("ccid").cast("int").as("ccid"))
          .agg(count(lit(1)).as("n"))
          .select(lit(part).as("part"), col("ccid"),
            when(col("n") >
              avg(col("n")).over(
                org.apache.spark.sql.expressions.Window.partitionBy()) * 2.0,
              "hot")
              .otherwise("ok").as("status"),
            col("n"))
      heat(g1, "heat_old")
        .unionByName(heat(g2, "heat_new"))
        .unionByName(ProductQuant.indexGenDiff(s, base, g1, g2)
          .select(lit("diff").as("part"), col("ccid"),
            col("status"), col("n_vecs").as("n")))
        .orderBy("part", "ccid", "status")
    }),

    // The store lifecycle (indexLifecycle scaladoc), once per scheme.
    "index_lifecycle" -> ((s, dir) =>
      indexLifecycle(s, dir, "idx_life_", (_, _) => Scheme.Flat)),
    "index_lifecycle_residual" -> ((s, dir) =>
      indexLifecycle(s, dir, "idx_life_res_", (_, _) => Scheme.Residual)),
    "index_lifecycle_opq" -> ((s, dir) =>
      indexLifecycle(s, dir, "idx_life_opq_", (standing, d) =>
        Scheme.Opq(Seq(ProductQuant.opqRotationOf(standing, d))))),

    // Time-travel probe (VERDICT r19 #6 — the reference's per-source
    // snapshot pin, S6, applied to the index store): v1 publishes from
    // the STANDING corpus with its books, v2 publishes from the grown
    // corpus with retrained books and goes live — and the pinned probe
    // of v1 resolves the RETAINED generation with ITS OWN books, so
    // the answer is row-identical to the pre-v2 probe (the
    // index_publish held-relation invariant, promoted to oracle tier
    // through the loaded-books path). Oracle = the standing-trained
    // chain with candidates restricted to the standing corpus — what
    // v1 contains. A pruned generation refuses (spec-pinned).
    "index_probe_pinned" -> ((s, dir) => {
      val e = emb(s, dir)
      val d = Similarity.dimOf(e)
      val base = graft.Scratch.dir("idx_pin_")
      val standing = e.filter(col("vec_id") < 400)
      val b1 = ProductQuant.trainBooks(standing, Scheme.Flat, 16, d)
      val (g1, _) = ProductQuant.publishIndex(s, base,
        ProductQuant.codesWith(standing, b1, d), books = Some(b1))
      val b2 = ProductQuant.trainBooks(e, Scheme.Flat, 16, d)
      ProductQuant.publishIndex(s, base,
        ProductQuant.codesWith(e, b2, d), books = Some(b2))
      ProductQuant.ivfadcProbeStore(e, col("vec_id") < 50, 3, base,
        dim = Some(d), gen = Some(g1))
        .orderBy("query_id", "rank")
    }),

    // Incremental index ingest (ProductQuant.ivfadcIngestTopK
    // scaladoc): standing corpus (vec_id < 400) trains BOTH quantizers
    // and writes the partitioned index; the delta batch encodes
    // against the frozen books and APPENDS; the probe reads the merged
    // index. Oracle = one-shot encode of the whole corpus under the
    // standing-trained books — green proves append == rebuild at the
    // index level (standing files byte-identical, spec-asserted).
    "ann_ivfadc_ingest" -> ((s, dir) =>
      ProductQuant.ivfadcIngestTopK(emb(s, dir), col("vec_id") < 400,
        col("vec_id") < 50, 3, graft.Scratch.dir("ivfadc_ingest_"),
        Scheme.Flat)
        .orderBy("query_id", "rank")),

    // Recall gate for IVFADC — exact-truth contract: probing can only
    // LOSE lists vs the flat ADC scan, and this measures exactly what
    // that costs, per query, at equal shortlist (0.55 mean at sf0.01 —
    // see the ivfadcTopK scaladoc's measured curve and why the nearly
    // uniform fixture bounds it near the probed fraction).
    "ivfadc_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      recallGate(Similarity.bruteForceTopK(e, col("vec_id") < 50, 3),
        ProductQuant.ivfadcTopK(e, col("vec_id") < 50, 3, Scheme.Flat))
    }),

    // Residual IVFADC (ProductQuant.ivfadcTopK scaladoc) — the
    // full Jégou §V encoding: the fine quantizer compresses x̂ − ĉ and
    // a candidate's score reconstructs as coarse dot + residual LUT
    // sum, exact in integer micro-units end to end.
    "ann_ivfadc_residual" -> ((s, dir) =>
      ProductQuant.ivfadcTopK(emb(s, dir), col("vec_id") < 50, 3,
        Scheme.Residual)
        .orderBy("query_id", "rank")),

    // The residual DEPLOYMENT seam (VERDICT r17 #1): the best-fidelity
    // encoder published as a store generation whose sidecar records
    // `scheme = residual`, probed through BOOKS LOADED FROM THE STORE
    // via the residual reconstruction (coarse dot + residual LUT sum),
    // which the probe selects from the recorded scheme. Row-identical
    // to ann_ivfadc_residual by construction; same oracle SQL.
    "ann_ivfadc_residual_store" -> ((s, dir) =>
      ProductQuant.ivfadcStoreTopK(emb(s, dir), col("vec_id") < 50, 3,
        graft.Scratch.dir("ivfadc_res_store_"), Scheme.Residual)
        .orderBy("query_id", "rank")),

    // Incremental RESIDUAL ingest (VERDICT r18 #2 — the residual twin
    // of ann_ivfadc_ingest): standing corpus trains both quantizers,
    // the delta batch residual-encodes against the FROZEN books and
    // appends; the probe reads the merged index. Oracle = one-shot
    // residual encode of the whole corpus under the standing-trained
    // books — green proves append == rebuild for coarse-relative codes
    // too (where it matters most: a re-derived coarse book would
    // silently re-interpret every standing code word).
    "ann_ivfadc_residual_ingest" -> ((s, dir) =>
      ProductQuant.ivfadcIngestTopK(emb(s, dir),
        col("vec_id") < 400, col("vec_id") < 50, 3,
        graft.Scratch.dir("ivfadc_res_ingest_"), Scheme.Residual)
        .orderBy("query_id", "rank")),

    // Recall gate for residual IVFADC — exact-truth contract, same
    // probing loss as the non-residual face at fixture scale (the
    // shortlist rule keeps every probed candidate, so the residual
    // fidelity gain only shows once shortlist < probed pool — at scale).
    "ivfadc_residual_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      recallGate(Similarity.bruteForceTopK(e, col("vec_id") < 50, 3),
        ProductQuant.ivfadcTopK(e, col("vec_id") < 50, 3, Scheme.Residual))
    }),

    // Quantization-distortion gauge: both ADC lanes emit their integer
    // approximate score NEXT TO the exact rerank cosine, so the mean
    // absolute error between them (micro-units, integer arithmetic) is
    // one aggregation away — the measured form of the residual-PQ
    // claim: compressing x̂ − ĉ reconstructs dot(q̂,·) closer than
    // compressing x̂ (Jégou 2011 §V's motivation), visible even where
    // recall ties.
    "adc_distortion" -> ((s, dir) => {
      val e = emb(s, dir)
      val f = ProductQuant.adcTopK(e, col("vec_id") < 50, 3)
        .select(lit("flat").as("lane"), col("adc6"), col("score"))
      val r = ProductQuant.ivfadcTopK(e, col("vec_id") < 50, 3,
        Scheme.Residual)
        .select(lit("residual").as("lane"), col("adc6"), col("score"))
      f.unionByName(r)
        .groupBy("lane")
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(abs(adc6 - cast(round(score * 1000000) as bigint)))" +
            " div count(1)").as("mean_err_micro"))
        .orderBy("lane")
    }),

    // OPQ rotation gauge (Opq.opqDistortion scaladoc; VERDICT r12 #4):
    // PQ reconstruction MSE with vs without the Householder rotation
    // into the basis the covariance power iteration learns, on the
    // spike-planted corpus (fixtures ship isotropic embeddings —
    // OPQ-neutral by construction — so the gauge plants the
    // cross-subspace correlation OPQ exists to repair, then measures
    // the recovery: rotated ~3.3% below identity at sf0.01/sf0.1,
    // spec-pinned ordered).
    "opq_distortion" -> ((s, dir) => Opq.opqDistortion(emb(s, dir))),

    // Two-reflection OPQ gauge (Opq.opqDistortion2 scaladoc; VERDICT
    // r19 #4): on a RANK-2 plant the single Householder repairs only
    // the top direction — the composed (v1, deflated-v2) rotation
    // repairs both, and the MSE ordering rotated2 < rotated1 <
    // identity is the measured form of "k reflections approach Ge's
    // full orthogonal matrix" (spec-pinned ordered; every integer —
    // plant, two power chains, composition, both reflections —
    // oracle-replayed).
    "opq_distortion2" -> ((s, dir) => Opq.opqDistortion2(emb(s, dir))),

    // The OPQ deployment seam (VERDICT r18 #5): until now the sidecar's
    // scheme enum couldn't say "these codes quantize ROTATED vectors",
    // so an opq publish would read as flat and silently mis-score —
    // the exact failure class r18 closed for residual. The face learns
    // the rotation from the corpus (the proven power-iteration integers
    // on the RAW census); ivfadcStoreTopK trains + encodes in the
    // rotated space, publishes codes + books + rotation as one
    // generation carrying scheme=opq, and probes with everything LOADED
    // FROM THE STORE — the caller hands RAW embeddings and the store
    // supplies its own rotation.
    "ann_opq_store" -> ((s, dir) => {
      val e = emb(s, dir)
      val d = Similarity.dimOf(e)
      ProductQuant.ivfadcStoreTopK(e, col("vec_id") < 50, 3,
        graft.Scratch.dir("opq_store_"),
        Scheme.Opq(Seq(ProductQuant.opqRotationOf(e, d))), dim = Some(d))
        .orderBy("query_id", "rank")
    }),

    // Incremental OPQ ingest (VERDICT r19 #1 — the opq twin of
    // ann_ivfadc_ingest): the ROTATION learns from the standing corpus
    // and freezes with the books; the delta batch rotates under the
    // frozen w and encodes against the frozen books in an independent
    // pass, then appends. The oracle is the one-shot encode of the
    // whole corpus in the standing-learned rotation under the
    // standing-trained books — green proves the ingest never re-learns
    // the rotation (which would silently re-rotate the space every
    // standing code word quantizes in) nor the books.
    "ann_opq_ingest" -> ((s, dir) => {
      val e = emb(s, dir)
      val d = Similarity.dimOf(e)
      ProductQuant.ivfadcIngestTopK(e, col("vec_id") < 400,
        col("vec_id") < 50, 3, graft.Scratch.dir("opq_ingest_"),
        Scheme.Opq(Seq(ProductQuant.opqRotationOf(
          e.filter(col("vec_id") < 400), d))), dim = Some(d))
        .orderBy("query_id", "rank")
    }),

    // Additive ANN-index ingest (ProductQuant.encodeWithBook scaladoc):
    // the codebook trains on the STANDING corpus only (vec_id < 400),
    // then standing and delta batches encode in two INDEPENDENT passes
    // against the frozen book and union. The oracle is the one-pass
    // encode of the whole corpus with the same standing-trained book —
    // the green row proves ingest never re-encodes or re-trains on
    // standing data (codes are a pure per-row function of the book).
    "pq_incremental_encode" -> ((s, dir) => {
      val e = emb(s, dir)
      val d = Similarity.dimOf(e)
      val standing = e.filter(col("vec_id") < 400)
      val delta = e.filter(col("vec_id") >= 400)
      val book = ProductQuant.collectCodebook(
        ProductQuant.codebook(standing, d))
      ProductQuant.encodeWithBook(standing, book, d)
        .unionByName(ProductQuant.encodeWithBook(delta, book, d))
        .orderBy("vec_id", "sub")
    }),

    // Inverted-list balance audit (ProductQuant.ivfListBalance
    // scaladoc): per-list member count, permille share, and skew — the
    // physical-design report read before writing the IVFADC index
    // partitioned by list at 100 TB.
    "ivf_list_balance" -> ((s, dir) =>
      ProductQuant.ivfListBalance(emb(s, dir)).orderBy("ccid")),

    // Probe-sweep gauge (ProductQuant.ivfadcProbeSweep scaladoc):
    // recall@3 and stage-1 scan fraction per nprobe ∈ {1,2,4,8,16} in
    // ONE single-encode pass — the data-derived operating-point curve
    // that replaces the hardcoded nProbe=4 default. nprobe=16 probes
    // every list, so its row must land at scan=1000‰ with flat-ADC
    // recall (0.90 at sf0.01) — the built-in consistency check.
    "ivfadc_probe_sweep" -> ((s, dir) =>
      ProductQuant.ivfadcProbeSweep(emb(s, dir), col("vec_id") < 50, 3)),

    // Recall gate for ADC — same exact-truth contract as pq_recall:
    // shortlist truncation may only LOSE neighbors vs brute force, and
    // this measures exactly how many, per query.
    "adc_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      recallGate(Similarity.bruteForceTopK(e, col("vec_id") < 50, 3),
        ProductQuant.adcTopK(e, col("vec_id") < 50, 3))
    }),

    // Per-shard Bloom manifest (BloomManifest scaladoc): the membership
    // index as a TABLE — (shard, word, bits) — built with map-side
    // partial bit_or, nothing collected.
    "shard_bloom_manifest" -> ((s, dir) =>
      BloomManifest.manifest(docs(s, dir), "source", "doc_id")
        .orderBy("shard", "word")),

    // Incremental maintenance face (BloomManifest.merge scaladoc): the
    // standing manifest is built from 4/5 of the corpus, the remaining
    // 1/5 arrives as a new batch, and the merge is (shard, word) ->
    // bit_or of standing + delta — no rescan of the standing corpus.
    // The ORACLE is the full rebuild over the unioned corpus: bit_or
    // associativity makes merge == rebuild bit-for-bit, so the
    // equivalence itself is the correctness check (the additive twin of
    // dedup_incremental).
    "shard_bloom_merge" -> ((s, dir) => {
      val d = docs(s, dir)
      val standing = BloomManifest.manifest(
        d.filter(col("doc_id") % 5 =!= 0), "source", "doc_id")
      BloomManifest.merge(standing, d.filter(col("doc_id") % 5 === 0),
          "source", "doc_id")
        .orderBy("shard", "word")
    }),

    // Probe face: a simulated incoming batch (every 3rd key a true
    // member, the rest shifted out of the id space) checked against the
    // manifest, per shard: n_present <= n_maybe <= n_probes IS the Bloom
    // contract, and n_maybe - n_present the measured false-positive cost.
    "shard_bloom_probe" -> ((s, dir) => {
      val d = docs(s, dir)
      val probes = d.select(col("source"),
        when(col("doc_id") % 3 === 0, col("doc_id"))
          .otherwise(col("doc_id") + 1000000L).as("probe_key"))
      val corpus = d.select(col("source"), col("doc_id").as("probe_key"))
      val mf = BloomManifest.manifest(d, "source", "doc_id")
      BloomManifest.probe(probes, corpus, mf, "source", "probe_key")
        .orderBy("shard")
    }),

    // Content-defined chunking (TextAnalysis.cdcChunks scaladoc): chunk
    // spans + md5 per document, cut where the 8-gram hash divides 64 —
    // the insertion-robust sub-document dedup unit.
    "cdc_chunks" -> ((s, dir) =>
      TextAnalysis.cdcChunks(docs(s, dir)).orderBy("doc_id", "chunk_idx")),

    // The dedup face over those chunks: content shared by >= 2 documents
    // (the fixture's planted duplicates chunk identically), keyed by the
    // 16-byte chunk hash — chunk text never shuffles.
    "cdc_shared_chunks" -> ((s, dir) =>
      TextAnalysis.cdcChunks(docs(s, dir))
        .groupBy("chunk_md5")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          min(col("doc_id")).as("min_doc_id"),
          min(col("chunk_len")).as("chunk_len"))
        .filter(col("n_docs") >= 2)
        .orderBy("chunk_md5")))

  // ---------------------------------------------------------------- oracle

  /** 48-bit md5-derived hash of a SQL string expression (mirror of
    * Dedup.h48 / Canonical.hex48).
    */
  private def h48(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 12)) AS BIGINT)"

  /** Shared DSIR CTE chain (mirror of Selection.dsirWeights at 256
    * buckets, target lang='en'): hashed unigram+bigram occurrences,
    * per-doc histogram, Laplace-smoothed nano-nat LLRs — ends at
    * `hist(doc_id, in_tgt, f, occ)` and `llr(f, llr_nano)`.
    */
  private lazy val dsirCtes: String =
    s"""tk AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
       |            FROM documents),
       |ft AS (SELECT doc_id, (lang = 'en') AS in_tgt,
       |    unnest(list_concat(
       |      list_transform(toks, t -> ${h48("t")} % 256),
       |      CASE WHEN len(toks) >= 2 THEN
       |        list_transform(range(1, len(toks) - 1 + 1),
       |          i -> ${h48("toks[CAST(i AS INTEGER)] || '_' || toks[CAST(i + 1 AS INTEGER)]")} % 256)
       |      ELSE [] END)) AS f
       |  FROM tk),
       |hist AS (SELECT doc_id, in_tgt, f, CAST(count(*) AS BIGINT) AS occ
       |  FROM ft GROUP BY 1, 2, 3),
       |census AS (SELECT f, CAST(sum(occ) AS BIGINT) AS cnt_raw,
       |    CAST(sum(CASE WHEN in_tgt THEN occ ELSE 0 END) AS BIGINT) AS cnt_tgt
       |  FROM hist GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt_raw) AS BIGINT) AS tot_raw,
       |               CAST(sum(cnt_tgt) AS BIGINT) AS tot_tgt FROM census),
       |llr AS (SELECT f,
       |    CAST(round((ln((cnt_tgt + 1) * 1.0 / (tot_tgt + 256))
       |      - ln((cnt_raw + 1) * 1.0 / (tot_raw + 256))) * 1000000000)
       |      AS BIGINT) AS llr_nano
       |  FROM census, tot)""".stripMargin

  /** Shared winnowing pair-mining CTE chain over the planted-excerpt
    * corpus (mirror of Dedup.winnowOverlapPairs at window=8, cap=32):
    * ends at `common(doc_a, doc_b, n_a, n_b, shared)`.
    */
  private lazy val winnowPairCtes: String =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 40000,
       |    array_to_string(toks[1:greatest(3, (len(toks) * 2) // 5)], ' ')
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents WHERE doc_id % 6 = 0)),
       |hs AS (SELECT doc_id,
       |    list_transform(range(1, greatest(length(text) - 7, 1) + 1),
       |      i -> ${h48("substring(text, CAST(i AS INTEGER), 8)")}) AS hl
       |  FROM corpus),
       |ws AS (SELECT doc_id,
       |    list_distinct(list_transform(
       |      range(1, greatest(len(hl) - 8 + 1, 1) + 1),
       |      j -> list_min(hl[CAST(j AS INTEGER):CAST(j + 7 AS INTEGER)]))) AS fps
       |  FROM hs),
       |post0 AS (SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
       |          unnest(fps) AS fp FROM ws),
       |keep AS (SELECT fp FROM post0 GROUP BY fp HAVING count(*) <= 32),
       |post AS (SELECT post0.* FROM post0 JOIN keep USING (fp)),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_fp AS n_a,
       |         b.n_fp AS n_b, CAST(count(*) AS BIGINT) AS shared
       |  FROM post a JOIN post b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)""".stripMargin

  private val enStop = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")

  private def stopList(code: String): String =
    TextAnalysis.stopwords(code).map(w => s"'$w'").mkString(", ")

  /** (doc_id, toks) CTE body. */
  private val toksCte =
    "tk AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents)"

  /** (doc_id, s) distinct word-3-gram shingle sets (mirror of
    * Dedup.shingles).
    */
  private val shinglesCte =
    """sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
      |      range(1, len(toks) - 2 + 1),
      |      i -> toks[CAST(i AS INTEGER)] || '_' || toks[CAST(i + 1 AS INTEGER)] || '_' || toks[CAST(i + 2 AS INTEGER)]))
      |    ELSE [] END AS s
      |  FROM tk)""".stripMargin

  /** 16 minhash lanes from the base-hash list (mirror of
    * Dedup.minhashSignature / laneMix: affine permutation mod 2^48).
    */
  private val sigExprs: Seq[String] = (0 until 16).map { i =>
    val a = 2L * i + 3
    val b = (i + 1) * 1099511628211L
    s"COALESCE(list_min(list_transform(hb, h -> (h * $a + $b) & ${Dedup.Mask48})), -1) AS m$i"
  }

  /** 4 bands of 4 lanes (mirror of Dedup.lshBands). */
  private val bandSelects: Seq[String] = (0 until 4).map { b =>
    val lanes = (b * 4 until (b + 1) * 4).map(i => s"CAST(m$i AS VARCHAR)")
    s"SELECT doc_id, $b AS band_id, md5(${lanes.mkString(" || ',' || ")}) AS band_key FROM sig"
  }

  /** Banding-sweep mirror (Dedup.minhashBandSweep): one 12-lane
    * signature, per-config band keys unioned with a cfg tag, candidates
    * for all configs from one grouped self-join, truth = the verified
    * loosest-config (12×1) candidates. All-integer permille.
    * Mirrors the face's maxBucket=32 hot-bucket cap: postings in band
    * buckets larger than the cap are dropped before the self-join and
    * their count is stated per config as dropped_postings. NOTE
    * (ADVICE r13): the lane-subset property — (12×1) truth being a
    * superset of every config's verified candidates — holds only for
    * the UNCAPPED sweep; under the cap a pair surviving a multi-lane
    * band bucket can have its single-lane bucket capped out of the
    * truth lane. Engine and oracle apply the identical cap to the
    * identical buckets, so parity holds regardless; truth here is "the
    * capped 12×1 lane", not a guaranteed superset.
    */
  private lazy val bandSweepOracle: String = {
    val configs = Seq((2, 6), (3, 4), (4, 3), (6, 2), (12, 1))
    val cap = 32
    val sig12 = (0 until 12).map { i =>
      val a = 2L * i + 3
      val b = (i + 1) * 1099511628211L
      s"COALESCE(list_min(list_transform(hb, h -> (h * $a + $b) & ${Dedup.Mask48})), -1) AS m$i"
    }
    val bandSel = configs.zipWithIndex.flatMap { case ((bc, r), ci) =>
      (0 until bc).map { b =>
        val lanes = (b * r until (b + 1) * r).map(i => s"CAST(m$i AS VARCHAR)")
        s"SELECT doc_id, $ci AS cfg, $b AS band_id, " +
          s"md5(${lanes.mkString(" || ',' || ")}) AS band_key FROM sig"
      }
    }
    val loosest = configs.indexWhere(_._2 == 1)
    s"""WITH $toksCte,
       |$shinglesCte,
       |hbase AS (SELECT doc_id, s, list_transform(s, x -> ${h48("x")}) AS hb FROM sh),
       |sig AS (SELECT doc_id, s, ${sig12.mkString(",\n  ")} FROM hbase),
       |bands0 AS (${bandSel.mkString("\n  UNION ALL\n  ")}),
       |bfreq AS (SELECT cfg, band_id, band_key,
       |  CAST(count(*) AS BIGINT) AS f FROM bands0 GROUP BY 1, 2, 3),
       |bands AS (SELECT b.* FROM bands0 b JOIN bfreq f
       |  ON f.cfg = b.cfg AND f.band_id = b.band_id
       |    AND f.band_key = b.band_key WHERE f.f <= $cap),
       |drp AS (SELECT cfg, CAST(sum(f) AS BIGINT) AS dropped_postings
       |  FROM bfreq WHERE f > $cap GROUP BY 1),
       |cand AS (SELECT DISTINCT a.cfg, a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.cfg = b.cfg AND a.band_id = b.band_id
       |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |truth AS (SELECT c.doc_a, c.doc_b FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b
       |  WHERE c.cfg = $loosest
       |    AND len(list_intersect(sa.s, sb.s)) * 1.0
       |        / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.5),
       |ntruth AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
       |cfgs AS (SELECT unnest(range(0, ${configs.length})) AS cfg),
       |ncand AS (SELECT cfg, CAST(count(*) AS BIGINT) AS n_candidates
       |  FROM cand GROUP BY 1),
       |hit AS (SELECT c.cfg, CAST(count(*) AS BIGINT) AS hits
       |  FROM cand c JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
       |  GROUP BY 1),
       |agg AS (SELECT w.cfg,
       |    COALESCE(nc.n_candidates, 0) AS n_candidates,
       |    nt.n_truth,
       |    COALESCE(h.hits, 0) AS hits,
       |    COALESCE(d.dropped_postings, 0) AS dropped_postings
       |  FROM cfgs w
       |  LEFT JOIN ncand nc ON nc.cfg = w.cfg
       |  LEFT JOIN hit h ON h.cfg = w.cfg
       |  LEFT JOIN drp d ON d.cfg = w.cfg
       |  CROSS JOIN ntruth nt)
       |SELECT
       |  CAST([${configs.map(_._1).mkString(", ")}][CAST(cfg + 1 AS INTEGER)]
       |    AS INTEGER) AS bands,
       |  CAST([${configs.map(_._2).mkString(", ")}][CAST(cfg + 1 AS INTEGER)]
       |    AS INTEGER) AS rows_per_band,
       |  CAST(n_candidates AS BIGINT) AS n_candidates,
       |  CAST(n_truth AS BIGINT) AS n_truth,
       |  CAST(hits AS BIGINT) AS hits,
       |  CAST(CASE WHEN n_truth = 0 THEN 0
       |    ELSE 1000 * hits // n_truth END AS BIGINT) AS recall_permille,
       |  CAST(CASE WHEN n_candidates = 0 THEN 0
       |    ELSE 1000 * hits // n_candidates END AS BIGINT)
       |    AS precision_permille,
       |  CAST(dropped_postings AS BIGINT) AS dropped_postings
       |FROM agg ORDER BY bands""".stripMargin
  }

  /** Double-promoted cosine between two aliased vector columns (mirror of
    * Similarity.cosine: left-fold double sums).
    */
  private def cosOf(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a) + 1), i -> $a[CAST(i AS INTEGER)] * $b[CAST(i AS INTEGER)]))
       | / (sqrt(list_sum(list_transform(range(1, len($a) + 1), i -> $a[CAST(i AS INTEGER)] * $a[CAST(i AS INTEGER)])))
       |    * sqrt(list_sum(list_transform(range(1, len($a) + 1), i -> $b[CAST(i AS INTEGER)] * $b[CAST(i AS INTEGER)]))))""".stripMargin

  private val cosSql = cosOf("q.v", "c.v")

  private val embCte =
    "e AS (SELECT vec_id, embedding, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"

  /** Derived sign-LSH bit count (mirror of Similarity.deriveBits:
    * bit-length of (n-1)//target clamped to [1,16] — integer-only, no
    * float-log parity risk). Target 1000 for top-k probing; 250 for
    * pair mining (mirror of Similarity.PairMiningTargetBucket).
    */
  private def bitsCte(target: Long) =
    s"""nb AS (SELECT LEAST(16, (SELECT len(embedding) FROM embeddings LIMIT 1),
       |  GREATEST(1, LENGTH(BIN((COUNT(*) - 1) // $target)))) AS b FROM embeddings)""".stripMargin

  /** Derived-bits sign bucket (mirror of Similarity.signBucket over
    * deriveBits-many leading dimensions).
    */
  private val bucketSql =
    """CAST(COALESCE(list_sum(list_transform(range(0, (SELECT b FROM nb)),
      |    i -> CASE WHEN embedding[CAST(i + 1 AS INTEGER)] > 0
      |              THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER)) ELSE 0 END)), 0) AS BIGINT)""".stripMargin

  /** Majority-vote simhash over `hs` (mirror of Dedup.simhash16 /
    * simhash48 at the given width).
    */
  private def simhashSqlBits(bits: Int): String = (0 until bits)
    .map(b => s"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> $b) & 1 = 1)) > len(hs) THEN ${1L << b} ELSE 0 END)")
    .mkString(" + ")

  private val simhashSql = simhashSqlBits(16)

  /** Box-filter dhash63 mirror (TextKernels.dhash63) over a `src`
    * (doc_id, text) CTE: byte i (value via ascii — the fixture is
    * ASCII, the frame_sample convention) spans [64i, 64(i+1)) and
    * block b spans [bL, (b+1)L) in 1/(64·L) units; exact overlap-
    * weighted block sums, bit b = s_b > s_{b+1}. Yields CTE `ph`
    * (doc_id, phash).
    */
  private def dhashCtesOver(keys: Seq[String]): String = {
    val ks = keys.mkString(", ")
    val aks = keys.map(k => s"a.$k").mkString(", ")
    val cond = keys.map(k => s"b2.$k = a.$k").mkString(" AND ")
    s"""dt AS (SELECT $ks, text, length(text) AS L,
       |  unnest(range(0, length(text))) AS i FROM src),
       |db AS (SELECT $ks,
       |  CAST(ascii(substring(text, CAST(i + 1 AS INTEGER), 1)) AS BIGINT) AS bv,
       |  L, 64 * i AS lo, 64 * i + 64 AS hi,
       |  unnest(range((64 * i) // L, (64 * i + 63) // L + 1)) AS blk FROM dt),
       |dw AS (SELECT $ks, CAST(blk AS INTEGER) AS blk,
       |  sum(bv * (least(hi, (blk + 1) * L) - greatest(lo, blk * L))) AS s
       |  FROM db GROUP BY ALL),
       |ph AS (SELECT $aks,
       |  CAST(sum(CASE WHEN a.s > b2.s THEN (CAST(1 AS BIGINT) << a.blk)
       |           ELSE 0 END) AS BIGINT) AS phash
       |  FROM dw a JOIN dw b2 ON $cond AND b2.blk = a.blk + 1
       |  GROUP BY ALL)""".stripMargin
  }

  private val dhashCtes = dhashCtesOver(Seq("doc_id"))

  /** [[dhashCtesOver]]'s FULL-RANGE twin for the binary payload lane
    * (VERDICT r14 #5): the src CTE carries `hx` (the payload's hex
    * image) instead of text, and byte i's value parses from hex pair
    * 2i+1..2i+2 via nibble lookup — so the oracle replays bytes 0x00–
    * 0xFF that `ascii(substring(text,…))` can never produce. The block
    * math is IDENTICAL to the text lane (same 1/(64·L) units, same
    * overlap weighting); only bv's source changes. Yields CTE `ph`
    * (doc_id, phash).
    */
  private val dhashHexCtes = {
    val nib = (pos: String) =>
      s"(strpos('0123456789abcdef', substring(hx, CAST($pos AS INTEGER), 1)) - 1)"
    s"""dt AS (SELECT doc_id, hx, length(hx) // 2 AS L,
       |  unnest(range(0, length(hx) // 2)) AS i FROM src),
       |db AS (SELECT doc_id,
       |  CAST(${nib("2 * i + 1")} * 16 + ${nib("2 * i + 2")} AS BIGINT) AS bv,
       |  L, 64 * i AS lo, 64 * i + 64 AS hi,
       |  unnest(range((64 * i) // L, (64 * i + 63) // L + 1)) AS blk FROM dt),
       |dw AS (SELECT doc_id, CAST(blk AS INTEGER) AS blk,
       |  sum(bv * (least(hi, (blk + 1) * L) - greatest(lo, blk * L))) AS s
       |  FROM db GROUP BY ALL),
       |ph AS (SELECT a.doc_id,
       |  CAST(sum(CASE WHEN a.s > b2.s THEN (CAST(1 AS BIGINT) << a.blk)
       |           ELSE 0 END) AS BIGINT) AS phash
       |  FROM dw a JOIN dw b2 ON b2.doc_id = a.doc_id AND b2.blk = a.blk + 1
       |  GROUP BY ALL)""".stripMargin
  }

  /** [[Multimodal.binaryPayloadHex]] mirror: md5-chained pseudo-pixel
    * hex, 48 or 64 bytes per doc (`3 + doc_id % 2` md5 blocks); docs
    * with `doc_id % 50 = 7` carry a zero-length payload (r15 #5) —
    * the per-byte unnest then yields no fingerprint row, mirroring
    * the engine's "no fingerprint, not fingerprint-0" filter.
    */
  private val binaryHexCte =
    """b0 AS (SELECT doc_id,
      |  substring(concat(md5(text), md5(text || ':1'), md5(text || ':2'),
      |                   md5(text || ':3')),
      |            1, CAST(32 * (3 + doc_id % 2)
      |                    * CASE WHEN doc_id % 50 = 7 THEN 0 ELSE 1 END
      |               AS INTEGER)) AS hx
      |  FROM documents)""".stripMargin

  /** [[Multimodal.plantBinaryVariants]] mirror: originals + one-byte
    * 0xFF perturbation (hex chars 35–36) + exact duplicates, ids
    * shifted by max(doc_id)+1.
    */
  private val binaryVariantCte =
    """bsh AS (SELECT max(doc_id) + 1 AS s FROM documents),
      |src AS (
      |  SELECT doc_id, hx FROM b0
      |  UNION ALL
      |  SELECT doc_id + bsh.s,
      |    substring(hx, 1, 34) || 'ff' || substring(hx, 37)
      |    FROM b0, bsh WHERE doc_id % 20 = 0
      |  UNION ALL
      |  SELECT doc_id + 2 * bsh.s, hx FROM b0, bsh WHERE doc_id % 20 = 10)""".stripMargin

  /** [[Multimodal.plantVideoVariants]] mirror (frameBytes = 32):
    * originals + 60%-of-frames tail cuts + two-frame intro cuts, ids
    * shifted by max(doc_id)+1.
    */
  private val videoCorpusCte =
    """vsh AS (SELECT max(doc_id) + 1 AS s FROM documents),
      |vsrc AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + vsh.s,
      |    substring(text, 1,
      |      CAST(GREATEST((length(text) // 32) * 3 // 5, 1) * 32 AS INTEGER))
      |    FROM documents, vsh WHERE doc_id % 20 = 5
      |  UNION ALL
      |  SELECT doc_id + 2 * vsh.s, substring(text, 65)
      |    FROM documents, vsh WHERE doc_id % 20 = 15 AND length(text) >= 97)""".stripMargin

  /** Frame slicing mirror (frameBytes = 32) over `vsrc` → CTE `src`
    * keyed (doc_id, frame_idx) with each frame's text — feeds
    * [[dhashCtesOver]].
    */
  private val frameSrcCte =
    """src AS (SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
      |  substring(text, CAST(i * 32 + 1 AS INTEGER), 32) AS text
      |  FROM (SELECT doc_id, text, unnest(range(0, length(text) // 32)) AS i
      |        FROM vsrc))""".stripMargin

  /** [[Multimodal.plantVariants]] mirror: originals + jittered
    * (translate a→c) + 2×-upsampled-and-jittered variants, ids shifted
    * by the data-derived max(doc_id)+1.
    */
  private val variantCorpusCte =
    """sh AS (SELECT max(doc_id) + 1 AS s FROM documents),
      |src AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + sh.s, translate(text, 'a', 'c')
      |    FROM documents, sh WHERE doc_id % 20 = 0
      |  UNION ALL
      |  SELECT doc_id + 2 * sh.s,
      |         translate(regexp_replace(text, '(.)', '\1\1', 'g'), 'e', 'f')
      |    FROM documents, sh WHERE doc_id % 20 = 10)""".stripMargin

  private val dupCorpusCte =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  private lazy val langIdSql: String =
    s"""WITH $toksCte,
       |h AS (SELECT doc_id, lang,
       |  CAST(len(list_filter(toks, x -> x IN (${stopList("de")}))) AS BIGINT) AS h_de,
       |  CAST(len(list_filter(toks, x -> x IN (${stopList("en")}))) AS BIGINT) AS h_en,
       |  CAST(len(list_filter(toks, x -> x IN (${stopList("es")}))) AS BIGINT) AS h_es,
       |  CAST(len(list_filter(toks, x -> x IN (${stopList("fr")}))) AS BIGINT) AS h_fr
       |  FROM tk)
       |SELECT doc_id, lang AS lang_declared,
       |  CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
       |       WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
       |       WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
       |       WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
       |       ELSE 'fr' END AS lang_guess,
       |  greatest(h_de, h_en, h_es, h_fr) AS hits
       |FROM h""".stripMargin

  /** Full ANN index pipelines as standalone SELECTs — used verbatim for
    * their own ledger entries AND composed as subqueries by the RRF
    * fusion oracle (one source of truth per index). */
  private lazy val annLshOracle: String =
    s"""WITH ${bitsCte(1000)},
       |eb AS (SELECT vec_id, embedding,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |  $bucketSql AS bucket FROM embeddings),
       |s AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, round($cosSql, 6) AS score
       |  FROM eb q JOIN eb c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 50),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank FROM s)
       |SELECT query_id, cand_id, score, CAST(rank AS INTEGER) AS rank FROM r
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Shared PQ CTE chain — bounded training sample through the encoded
    * `codes` relation (and the full-corpus subspace-dot relation `sd1`
    * it derives from) — composed by annPqOracle (code-match banding +
    * exact rerank, over the raw `e`) AND the ADC oracle (code-only
    * integer scoring, over the L2-normalized `en`). One source of truth
    * for the trained codebook per oracle, exactly like the Spark side's
    * single collectCodebook; `trainSrc` is the (vec_id, v) relation the
    * codebook trains on, `corpusSrc` the one the corpus encodes from,
    * and (m, subLen, ks, sampN) the codebook geometry (mirror of
    * ProductQuant.M/Ks/SampleN and the AdcM/AdcKs/AdcSampleN pair). The
    * ADC lane trains on the normalized `en` but encodes the RAW corpus
    * with each subspace dot divided by the vector norm — the exact float
    * path of ProductQuant's `div` scoring (normalized arrays are never
    * materialized on either engine).
    */
  private def pqCodesCtes(trainSrc: String, m: Int = 4, subLen: Int = 16,
                          ks: Int = 8, sampN: Int = 80,
                          corpusSrc: String = "", normDot: Boolean = false)
      : String = {
    val cSrc = if (corpusSrc.isEmpty) trainSrc else corpusSrc
    val sdExpr =
      if (!normDot)
        s"""round(list_sum(list_transform(range(1, ${subLen + 1}),
           |    i -> e.v[CAST(cb.sub * $subLen + i AS INTEGER)]
           |         * cb.cv[CAST(i AS INTEGER)])), 6)""".stripMargin
      else
        s"""round(list_sum(list_transform(range(1, ${subLen + 1}),
           |    i -> e.v[CAST(cb.sub * $subLen + i AS INTEGER)]
           |         * cb.cv[CAST(i AS INTEGER)]))
           |  / sqrt(list_sum(list_transform(e.v, y -> y * y))), 6)""".stripMargin
    s"""samp AS (SELECT vec_id, v FROM $trainSrc
       |         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $sampN),
       |cent AS (SELECT vec_id AS cid, v AS cv FROM samp
       |         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $ks),
       |subs AS (SELECT unnest(range(0, $m)) AS sub),
       |sd0 AS (SELECT samp.vec_id, s.sub, cent.cid,
       |  round(list_sum(list_transform(range(1, ${subLen + 1}),
       |    i -> samp.v[CAST(s.sub * $subLen + i AS INTEGER)]
       |         * cent.cv[CAST(s.sub * $subLen + i AS INTEGER)])), 6) AS sd
       |  FROM samp, subs s, cent),
       |a0 AS (SELECT vec_id, sub, cid FROM (
       |    SELECT vec_id, sub, cid, row_number() OVER
       |      (PARTITION BY vec_id, sub ORDER BY sd DESC, cid) AS rn
       |    FROM sd0) WHERE rn = 1),
       |dims AS (SELECT unnest(range(1, ${subLen + 1})) AS pos),
       |comp AS (SELECT a0.sub, a0.cid, d.pos,
       |    CAST(SUM(CAST(samp.v[CAST(a0.sub * $subLen + d.pos AS INTEGER)]
       |      AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c
       |  FROM a0 JOIN samp ON samp.vec_id = a0.vec_id CROSS JOIN dims d
       |  GROUP BY 1, 2, 3),
       |cb AS (SELECT sub, cid, list(c ORDER BY pos) AS cv FROM comp
       |       GROUP BY 1, 2),
       |sd1 AS (SELECT e.vec_id, cb.sub, cb.cid,
       |  $sdExpr AS sd
       |  FROM $cSrc AS e, cb),
       |codes AS (SELECT vec_id, sub, cid AS code FROM (
       |    SELECT vec_id, sub, cid, row_number() OVER
       |      (PARTITION BY vec_id, sub ORDER BY sd DESC, cid) AS rn
       |    FROM sd1) WHERE rn = 1)""".stripMargin
  }

  private lazy val annPqOracle: String =
    s"""WITH $embCte,
       |${pqCodesCtes("e")},
       |qcodes AS (SELECT vec_id, sub, cid AS code FROM (
       |    SELECT vec_id, sub, cid, row_number() OVER
       |      (PARTITION BY vec_id, sub ORDER BY sd DESC, cid) AS rn
       |    FROM sd1 WHERE vec_id < 50) WHERE rn <= 2),
       |cand AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    CAST(count(*) AS BIGINT) AS n_match
       |  FROM qcodes q JOIN codes c
       |    ON q.sub = c.sub AND q.code = c.code AND q.vec_id <> c.vec_id
       |  GROUP BY 1, 2 HAVING count(*) >= 1),
       |sc AS (SELECT query_id, cand_id, n_match, round($cosSql, 6) AS score
       |  FROM cand JOIN e q ON q.vec_id = query_id
       |            JOIN e c ON c.vec_id = cand_id),
       |r AS (SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
       |  FROM sc)
       |SELECT query_id, cand_id, n_match, score, CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** ADC mirror of ProductQuant.adcTopK (two-stage): the 8×16 codebook
    * trains on the L2-normalized `en`, the corpus encodes from the RAW
    * `e` with norm-divided subspace dots; the LUT is sd1 restricted to
    * query vectors with each round6 subspace dot fixed to BIGINT
    * micro-units; shortlist = top-150 by exact integer code-score; final
    * ranks from the shared rounded-cosine rerank over the RAW vectors
    * (the same cosSql every other ANN lane reranks with). Used verbatim
    * for `ann_pq_adc` AND composed by `adc_recall`.
    */
  private lazy val annPqAdcOracle: String =
    s"""WITH $embCte,
       |en AS (SELECT vec_id, list_transform(v, x ->
       |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS v
       |  FROM e),
       |${pqCodesCtes("en", m = 8, subLen = 8, ks = 16, sampN = 160,
                      corpusSrc = "e", normDot = true)},
       |lut AS (SELECT vec_id AS q_id, sub, cid AS code,
       |    CAST(round(sd * 1000000) AS BIGINT) AS sd6
       |  FROM sd1 WHERE vec_id < 50),
       |adc AS (SELECT l.q_id AS query_id, c.vec_id AS cand_id,
       |    CAST(SUM(l.sd6) AS BIGINT) AS adc6
       |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
       |    AND l.q_id <> c.vec_id
       |  GROUP BY 1, 2),
       |sr AS (SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY adc6 DESC, cand_id) AS srank
       |  FROM adc),
       |short AS (SELECT query_id, cand_id, adc6 FROM sr
       |  WHERE srank <= greatest(150, (SELECT count(*) FROM e) // 20)),
       |sc AS (SELECT s.query_id, s.cand_id, s.adc6, round($cosSql, 6) AS score
       |  FROM short s JOIN e q ON q.vec_id = s.query_id
       |               JOIN e c ON c.vec_id = s.cand_id),
       |r AS (SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
       |  FROM sc)
       |SELECT query_id, cand_id, adc6, score, CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** IVFADC mirror (ProductQuant.ivfadcTopK): the ADC codebook/codes
    * CTEs composed with a COARSE quantizer — 16 md5-seeded centroids
    * L2-normalized in SQL exactly as the Spark side normalizes its
    * collected sample, assignment/probing by round6 norm-divided dot
    * (= cosine), and the ADC scoring join restricted to candidates whose
    * list the query probes. Shortlist/rerank identical to the flat ADC
    * oracle (shared scalar-subquery shortlist rule).
    */
  private lazy val annIvfadcOracle: String = annIvfadcOracleFrom("en", "")

  /** Layout-audit mirror: list populations from the IVFADC coarse-
    * assign chain (8 code rows per vector), n_files pinned to the
    * 1-file-per-list write invariant (unsalted builds produce exactly
    * one file per list for ANY corpus), hot_list as rows > 2× the
    * mean over present lists — `index_layout_audit`'s mirror.
    */
  private lazy val indexLayoutOracle: String =
    s"""WITH $embCte,
       |en AS (SELECT vec_id, list_transform(v, x ->
       |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS v
       |  FROM e),
       |ccent AS (SELECT vec_id AS ccid, v AS cv FROM en
       |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |csim AS (SELECT e.vec_id, ccent.ccid,
       |  round(list_sum(list_transform(range(1, len(e.v) + 1),
       |      i -> e.v[CAST(i AS INTEGER)] * ccent.cv[CAST(i AS INTEGER)]))
       |    / sqrt(list_sum(list_transform(e.v, y -> y * y))), 6) AS s
       |  FROM e, ccent),
       |cassign AS (SELECT vec_id, ccid FROM (
       |    SELECT vec_id, ccid, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
       |    FROM csim) WHERE rn = 1),
       |g AS (SELECT CAST(ccid AS INTEGER) AS ccid,
       |    CAST(8 * count(*) AS BIGINT) AS n_rows
       |  FROM cassign GROUP BY 1)
       |SELECT ccid, n_rows, CAST(1 AS BIGINT) AS n_files,
       |  CASE WHEN n_rows > 2.0 * avg(n_rows) OVER () THEN 'hot_list'
       |       ELSE 'ok' END AS flag
       |FROM g ORDER BY ccid""".stripMargin

  /** Salt-rebalance mirror ([[ProductQuant.skewedSyntheticCodes]] +
    * the flag algebra): the whole relation is replayable SQL, so the
    * oracle pins the hot list's BEFORE flag (rows > 2× mean, one
    * file), the universal 'ok' AFTER the salted rewrite, and the
    * per-list content fingerprints the engine computes by reading the
    * salted parquet back — row-set preservation, pinned relationally.
    */
  private lazy val indexSaltOracle: String =
    s"""WITH $embCte,
       |a AS (SELECT vec_id,
       |    CAST(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE vec_id % 16 END
       |         AS INTEGER) AS ccid
       |  FROM e),
       |c AS (SELECT vec_id, ccid, CAST(unnest(range(0, 4)) AS INTEGER) AS sub
       |  FROM a),
       |cc AS (SELECT vec_id, ccid, sub,
       |    CAST((vec_id * 31 + sub * 7) % 256 AS INTEGER) AS code FROM c),
       |g AS (SELECT ccid, CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(vec_id) AS BIGINT) AS sum_vec,
       |    CAST(sum(code * (sub + 1)) AS BIGINT) AS code_fp
       |  FROM cc GROUP BY 1)
       |SELECT ccid, n_rows,
       |  CASE WHEN n_rows > 2.0 * avg(n_rows) OVER () THEN 'hot_list'
       |       ELSE 'ok' END AS flag_before,
       |  'ok' AS flag_after,
       |  sum_vec, code_fp
       |FROM g ORDER BY ccid""".stripMargin

  /** Retrain-rebalance mirror ([[ProductQuant.collapsedSyntheticCodes]]
    * + [[ProductQuant.retrainStore]]): the collapsed plant's heat
    * replays from vec_id arithmetic, the retrained generation's heat
    * and the diff replay from the one-Lloyd-round refined assignment —
    * the exact CTE chain the green `ann_ivf_kmeans` face already pins
    * (seed → assign → decimal-exact member means → re-assign). Every
    * vector is present in both generations with identical fine codes,
    * so the diff splits purely on the list move.
    */
  private lazy val indexRetrainOracle: String =
    s"""WITH $embCte,
       |a1 AS (SELECT vec_id,
       |    CAST(CASE WHEN vec_id % 2 = 0 THEN 0
       |         ELSE 1 + vec_id % 600 END AS INTEGER) AS ccid
       |  FROM e),
       |g1 AS (SELECT ccid, CAST(4 * count(*) AS BIGINT) AS n
       |  FROM a1 GROUP BY 1),
       |h1 AS (SELECT 'heat_old' AS part, ccid,
       |    CASE WHEN n > 2.0 * avg(n) OVER () THEN 'hot' ELSE 'ok' END
       |      AS status, n
       |  FROM g1),
       |cent AS (SELECT vec_id AS cid, v AS cv FROM e
       |         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |sim0 AS (
       |  SELECT e.vec_id, cent.cid, ${cosOf("e.v", "cent.cv")} AS s
       |  FROM e, cent),
       |a0 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |    FROM sim0) WHERE rn = 1),
       |dims AS (SELECT unnest(range(1, (SELECT len(embedding) FROM embeddings LIMIT 1) + 1)) AS pos),
       |comp AS (
       |  SELECT a0.cid, d.pos,
       |         CAST(SUM(CAST(e.v[CAST(d.pos AS INTEGER)] AS DECIMAL(27,10))) AS DOUBLE)
       |           / COUNT(*) AS c
       |  FROM a0 JOIN e ON e.vec_id = a0.vec_id CROSS JOIN dims d
       |  GROUP BY a0.cid, d.pos),
       |cent2 AS (SELECT cid, list(c ORDER BY pos) AS cv FROM comp GROUP BY cid),
       |sim2 AS (
       |  SELECT e.vec_id, c2.cid, ${cosOf("e.v", "c2.cv")} AS s
       |  FROM e, cent2 c2),
       |a2 AS (
       |  SELECT vec_id, CAST(cid AS INTEGER) AS ccid FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |    FROM sim2) WHERE rn = 1),
       |g2 AS (SELECT ccid, CAST(4 * count(*) AS BIGINT) AS n
       |  FROM a2 GROUP BY 1),
       |h2 AS (SELECT 'heat_new' AS part, ccid,
       |    CASE WHEN n > 2.0 * avg(n) OVER () THEN 'hot' ELSE 'ok' END
       |      AS status, n
       |  FROM g2),
       |d AS (SELECT a2.ccid,
       |    CASE WHEN a1.ccid <> a2.ccid THEN 'recoded'
       |         ELSE 'unchanged' END AS status
       |  FROM a1 JOIN a2 USING (vec_id)),
       |dd AS (SELECT 'diff' AS part, ccid, status,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM d GROUP BY 1, 2, 3)
       |SELECT part, ccid, status, n FROM h1
       |UNION ALL SELECT part, ccid, status, n FROM h2
       |UNION ALL SELECT part, ccid, status, n FROM dd
       |ORDER BY part, ccid, status""".stripMargin

  /** Lifecycle mirror (VERDICT r17 #3): the final probe of the
    * composed publish → ingest → delete → compact → prune → retrain →
    * probe face, rebuilt FROM SCRATCH over the surviving corpus. Fine
    * books train on the normalized standing subset (the frozen-book
    * ingest contract — pqCodesCtes over `stn`, codes for the whole
    * corpus); the coarse book is the Lloyd-1 k-means chain over the
    * SURVIVORS (seed → assign → exact-decimal mean → normalized
    * centroid), because that is what the retrain left in the sidecar;
    * the candidate lists are the survivors' trainer assignments
    * (full-precision cosine vs the raw means — the indexRetrainOracle
    * convention), the probe ranking is round6 against the NORMALIZED
    * means (the stored-book probe path, mirrored in its operation
    * order), and deleted vectors query but are never candidates.
    */
  private lazy val indexLifecycleOracle: String =
    indexLifecycleOracleOver("", "e")

  /** The flat lifecycle chain over an arbitrary base relation `b`
    * (aliased `e` internally) with optional preceding CTEs — "e" for
    * the flat face; the rotated corpus `er` (with [[opqRotatedCte]]
    * prepended) for the opq lifecycle, whose every stage — training,
    * retrain chain, candidates, probe, rerank — runs in the
    * standing-learned rotation's space.
    */
  private def indexLifecycleOracleOver(preCtes: String,
                                       b: String): String =
    s"""WITH $embCte,$preCtes
       |en AS (SELECT vec_id, list_transform(v, x ->
       |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS v
       |  FROM $b),
       |stn AS (SELECT vec_id, v FROM en WHERE vec_id < 400),
       |surv AS (SELECT vec_id, v FROM $b WHERE vec_id % 9 <> 3),
       |${pqCodesCtes("stn", m = 8, subLen = 8, ks = 16, sampN = 160,
                      corpusSrc = b, normDot = true)},
       |centk AS (SELECT vec_id AS cid, v AS cv FROM surv
       |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |simk AS (SELECT s.vec_id, c.cid, ${cosOf("s.v", "c.cv")} AS sc
       |  FROM surv s, centk c),
       |ak AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY sc DESC, cid) AS rn
       |    FROM simk) WHERE rn = 1),
       |kdims AS (SELECT unnest(range(1, (SELECT len(embedding)
       |    FROM embeddings LIMIT 1) + 1)) AS pos),
       |compk AS (SELECT ak.cid, d.pos,
       |    CAST(SUM(CAST(s.v[CAST(d.pos AS INTEGER)] AS DECIMAL(27,10)))
       |      AS DOUBLE) / COUNT(*) AS c
       |  FROM ak JOIN surv s ON s.vec_id = ak.vec_id CROSS JOIN kdims d
       |  GROUP BY ak.cid, d.pos),
       |centr AS (SELECT cid, list(c ORDER BY pos) AS cv FROM compk
       |  GROUP BY cid),
       |centrn AS (SELECT cid, list_transform(cv, y ->
       |    y / sqrt(list_sum(list_transform(cv, z -> z * z)))) AS cv
       |  FROM centr),
       |simr AS (SELECT v.vec_id, r.cid, ${cosOf("v.v", "r.cv")} AS sc
       |  FROM surv v, centr r),
       |cassign AS (SELECT vec_id, CAST(cid AS INTEGER) AS ccid FROM (
       |    SELECT vec_id, cid, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY sc DESC, cid) AS rn
       |    FROM simr) WHERE rn = 1),
       |csimp AS (SELECT e.vec_id, r.cid AS ccid,
       |    round(list_sum(list_transform(range(1, len(e.v) + 1),
       |        i -> e.v[CAST(i AS INTEGER)] * r.cv[CAST(i AS INTEGER)]))
       |      / sqrt(list_sum(list_transform(e.v, y -> y * y))), 6) AS s
       |  FROM $b e, centrn r),
       |cprobe AS (SELECT vec_id AS q_id, ccid FROM (
       |    SELECT vec_id, ccid, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
       |    FROM csimp WHERE vec_id < 50) WHERE rn <= 4),
       |lut AS (SELECT vec_id AS q_id, sub, cid AS code,
       |    CAST(round(sd * 1000000) AS BIGINT) AS sd6
       |  FROM sd1 WHERE vec_id < 50),
       |adc AS (SELECT p.q_id AS query_id, a.vec_id AS cand_id,
       |    CAST(SUM(l.sd6) AS BIGINT) AS adc6
       |  FROM cassign a JOIN cprobe p ON p.ccid = a.ccid
       |    AND p.q_id <> a.vec_id
       |  JOIN codes c ON c.vec_id = a.vec_id
       |  JOIN lut l ON l.q_id = p.q_id AND l.sub = c.sub AND l.code = c.code
       |  GROUP BY 1, 2),
       |sr AS (SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY adc6 DESC, cand_id) AS srank
       |  FROM adc),
       |short AS (SELECT query_id, cand_id, adc6 FROM sr
       |  WHERE srank <= greatest(150, (SELECT count(*) FROM $b) // 20)),
       |sc AS (SELECT s.query_id, s.cand_id, s.adc6, round($cosSql, 6) AS score
       |  FROM short s JOIN $b q ON q.vec_id = s.query_id
       |               JOIN $b c ON c.vec_id = s.cand_id),
       |r AS (SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
       |  FROM sc)
       |SELECT query_id, cand_id, adc6, score, CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** OPQ-lifecycle mirror (VERDICT r19 #1): the whole flat lifecycle
    * chain run IN THE ROTATED SPACE, rotation learned from the RAW
    * STANDING subset (the engine face freezes it at the first publish
    * and every later verb carries it).
    */
  private lazy val indexLifecycleOpqOracle: String =
    indexLifecycleOracleOver(
      opqRotatedCte("(SELECT * FROM embeddings WHERE vec_id < 400)"),
      "er")

  /** Residual-lifecycle mirror (VERDICT r18 #2): the final probe of
    * the composed residual publish → frozen-book ingest → delete →
    * compact → prune → re-encoding retrain → loaded-books probe, rebuilt
    * FROM SCRATCH. Fine books train on the STANDING subset's
    * residuals under the standing-sampled coarse book (ccent0/cas0 —
    * the [[annIvfadcResOracleFrom]] convention); the retrained coarse
    * book is the Lloyd-1 chain over the SURVIVORS
    * (centk→ak→compk→centrn, the [[indexLifecycleOracle]] convention);
    * candidates are the survivors RE-ENCODED against the retrained
    * normalized book (casn/rsurv — what retrainStore publishes,
    * never a re-list of coarse-relative code words); the probe scores
    * coarse dot + residual LUT sum over books "loaded from the store";
    * deleted vectors query but are never candidates.
    */
  private lazy val indexLifecycleResidualOracle: String =
    s"""WITH $embCte,
       |en AS (SELECT vec_id, list_transform(v, x ->
       |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS v
       |  FROM e),
       |stn AS (SELECT vec_id, v FROM en WHERE vec_id < 400),
       |surv AS (SELECT vec_id, v FROM e WHERE vec_id % 9 <> 3),
       |ccent0 AS (SELECT vec_id AS ccid, v AS cv FROM stn
       |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |csim0 AS (SELECT e.vec_id, c0.ccid,
       |  round(list_sum(list_transform(range(1, len(e.v) + 1),
       |      i -> e.v[CAST(i AS INTEGER)] * c0.cv[CAST(i AS INTEGER)]))
       |    / sqrt(list_sum(list_transform(e.v, y -> y * y))), 6) AS s
       |  FROM e, ccent0 c0 WHERE e.vec_id < 400),
       |cas0 AS (SELECT vec_id, ccid FROM (
       |    SELECT vec_id, ccid, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
       |    FROM csim0) WHERE rn = 1),
       |rstn0 AS (SELECT en.vec_id, list_transform(range(1, len(en.v) + 1),
       |    i -> en.v[CAST(i AS INTEGER)] - cc.cv[CAST(i AS INTEGER)]) AS v
       |  FROM en JOIN cas0 a ON a.vec_id = en.vec_id
       |          JOIN ccent0 cc ON cc.ccid = a.ccid),
       |centk AS (SELECT vec_id AS cid, v AS cv FROM surv
       |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |simk AS (SELECT s.vec_id, c.cid, ${cosOf("s.v", "c.cv")} AS sc
       |  FROM surv s, centk c),
       |ak AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY sc DESC, cid) AS rn
       |    FROM simk) WHERE rn = 1),
       |kdims AS (SELECT unnest(range(1, (SELECT len(embedding)
       |    FROM embeddings LIMIT 1) + 1)) AS pos),
       |compk AS (SELECT ak.cid, d.pos,
       |    CAST(SUM(CAST(s.v[CAST(d.pos AS INTEGER)] AS DECIMAL(27,10)))
       |      AS DOUBLE) / COUNT(*) AS c
       |  FROM ak JOIN surv s ON s.vec_id = ak.vec_id CROSS JOIN kdims d
       |  GROUP BY ak.cid, d.pos),
       |centr AS (SELECT cid, list(c ORDER BY pos) AS cv FROM compk
       |  GROUP BY cid),
       |centrn AS (SELECT cid, list_transform(cv, y ->
       |    y / sqrt(list_sum(list_transform(cv, z -> z * z)))) AS cv
       |  FROM centr),
       |csimp AS (SELECT e.vec_id, r.cid AS ccid,
       |    round(list_sum(list_transform(range(1, len(e.v) + 1),
       |        i -> e.v[CAST(i AS INTEGER)] * r.cv[CAST(i AS INTEGER)]))
       |      / sqrt(list_sum(list_transform(e.v, y -> y * y))), 6) AS s
       |  FROM e, centrn r),
       |casn AS (SELECT vec_id, ccid FROM (
       |    SELECT vec_id, ccid, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
       |    FROM csimp) WHERE rn = 1),
       |rsurv AS (SELECT en.vec_id, list_transform(range(1, len(en.v) + 1),
       |    i -> en.v[CAST(i AS INTEGER)] - r.cv[CAST(i AS INTEGER)]) AS v
       |  FROM en JOIN casn a ON a.vec_id = en.vec_id
       |          JOIN centrn r ON r.cid = a.ccid
       |  WHERE en.vec_id % 9 <> 3),
       |${pqCodesCtes("rstn0", m = 8, subLen = 8, ks = 16, sampN = 160,
                      corpusSrc = "rsurv")},
       |cprobe AS (SELECT q_id, ccid, CAST(round(s * 1000000) AS BIGINT)
       |    AS sd6c FROM (
       |    SELECT vec_id AS q_id, ccid, s, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
       |    FROM csimp WHERE vec_id < 50) WHERE rn <= 4),
       |lutf AS (SELECT e.vec_id AS q_id, cb.sub, cb.cid AS code,
       |    CAST(round(round(list_sum(list_transform(range(1, 9),
       |      i -> e.v[CAST(cb.sub * 8 + i AS INTEGER)]
       |           * cb.cv[CAST(i AS INTEGER)]))
       |      / sqrt(list_sum(list_transform(e.v, y -> y * y))), 6)
       |      * 1000000) AS BIGINT) AS sd6f
       |  FROM e, cb WHERE e.vec_id < 50),
       |adc AS (SELECT p.q_id AS query_id, a.vec_id AS cand_id,
       |    CAST(MIN(p.sd6c) + SUM(l.sd6f) AS BIGINT) AS adc6
       |  FROM (SELECT vec_id, ccid FROM casn WHERE vec_id % 9 <> 3) a
       |  JOIN cprobe p ON p.ccid = a.ccid AND p.q_id <> a.vec_id
       |  JOIN codes c ON c.vec_id = a.vec_id
       |  JOIN lutf l ON l.q_id = p.q_id AND l.sub = c.sub AND l.code = c.code
       |  GROUP BY 1, 2),
       |sr AS (SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY adc6 DESC, cand_id) AS srank
       |  FROM adc),
       |short AS (SELECT query_id, cand_id, adc6 FROM sr
       |  WHERE srank <= greatest(150, (SELECT count(*) FROM e) // 20)),
       |sc AS (SELECT s.query_id, s.cand_id, s.adc6, round($cosSql, 6) AS score
       |  FROM short s JOIN e q ON q.vec_id = s.query_id
       |               JOIN e c ON c.vec_id = s.cand_id),
       |r AS (SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
       |  FROM sc)
       |SELECT query_id, cand_id, adc6, score, CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** The IVFADC mirror chain with BOTH quantizers trained from
    * `trainSrc` (a (vec_id, v)-normalized CTE; "en" = the full corpus,
    * the default faces' contract; a standing subset = the ingest
    * face's frozen-book contract). `extraCtes` splices additional CTE
    * definitions (e.g. the standing filter) after `en`.
    */
  private def annIvfadcOracleFrom(trainSrc: String,
                                  extraCtes: String,
                                  candFilter: String = "",
                                  baseSrc: String = "e",
                                  preCtes: String = ""): String =
    s"""WITH $embCte,$preCtes
       |en AS (SELECT vec_id, list_transform(v, x ->
       |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS v
       |  FROM $baseSrc),$extraCtes
       |${pqCodesCtes(trainSrc, m = 8, subLen = 8, ks = 16, sampN = 160,
                      corpusSrc = baseSrc, normDot = true)},
       |ccent AS (SELECT vec_id AS ccid, v AS cv FROM $trainSrc
       |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |csim AS (SELECT e.vec_id, ccent.ccid,
       |  round(list_sum(list_transform(range(1, len(e.v) + 1),
       |      i -> e.v[CAST(i AS INTEGER)] * ccent.cv[CAST(i AS INTEGER)]))
       |    / sqrt(list_sum(list_transform(e.v, y -> y * y))), 6) AS s
       |  FROM $baseSrc e, ccent),
       |cassign AS (SELECT vec_id, ccid FROM (
       |    SELECT vec_id, ccid, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
       |    FROM csim) WHERE rn = 1),
       |cprobe AS (SELECT vec_id AS q_id, ccid FROM (
       |    SELECT vec_id, ccid, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
       |    FROM csim WHERE vec_id < 50) WHERE rn <= 4),
       |lut AS (SELECT vec_id AS q_id, sub, cid AS code,
       |    CAST(round(sd * 1000000) AS BIGINT) AS sd6
       |  FROM sd1 WHERE vec_id < 50),
       |adc AS (SELECT p.q_id AS query_id, a.vec_id AS cand_id,
       |    CAST(SUM(l.sd6) AS BIGINT) AS adc6
       |  FROM cassign a JOIN cprobe p ON p.ccid = a.ccid
       |    AND p.q_id <> a.vec_id$candFilter
       |  JOIN codes c ON c.vec_id = a.vec_id
       |  JOIN lut l ON l.q_id = p.q_id AND l.sub = c.sub AND l.code = c.code
       |  GROUP BY 1, 2),
       |sr AS (SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY adc6 DESC, cand_id) AS srank
       |  FROM adc),
       |short AS (SELECT query_id, cand_id, adc6 FROM sr
       |  WHERE srank <= greatest(150, (SELECT count(*) FROM $baseSrc) // 20)),
       |sc AS (SELECT s.query_id, s.cand_id, s.adc6, round($cosSql, 6) AS score
       |  FROM short s JOIN $baseSrc q ON q.vec_id = s.query_id
       |               JOIN $baseSrc c ON c.vec_id = s.cand_id),
       |r AS (SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
       |  FROM sc)
       |SELECT query_id, cand_id, adc6, score, CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** The opq store mirror (VERDICT r18 #5): the whole
    * [[annIvfadcOracleFrom]] chain run IN THE ROTATED SPACE — the
    * Householder derives from the raw corpus's learned top component
    * exactly as [[Opq]]'s proven integers do (the pcaCov/pcaPower
    * chain on the RAW census, w = v₁ − N·e₀, one exact-long w·x per
    * row, one double rescale-and-round per cell), and the rotated
    * relation `er` replaces the corpus everywhere: training, coarse
    * assignment, codes, LUT, shortlist census, and the rerank cosine.
    * The rotation lives in its own nested WITH so its CTE names can't
    * collide with the chain's.
    */
  /** The rotated-corpus CTE `er` shared by every opq oracle: the
    * Householder learns from `censusSrc` (the full raw corpus for the
    * store face; the STANDING subset for the ingest/lifecycle faces —
    * the frozen-rotation contract) and the FULL corpus rotates under
    * it. Nested WITH so the pca chain's CTE names can't collide with
    * the outer chain's.
    */
  private def opqRotatedCte(censusSrc: String): String =
    s"""
       |er AS MATERIALIZED (
       |  WITH cen AS MATERIALIZED (SELECT * FROM $censusSrc),
       |  ${pcaCovCtes(64, "cen")},
       |  ${pcaPowerCtes(30)},
       |  hh AS MATERIALIZED (SELECT list(v ORDER BY i) AS v1 FROM v30),
       |  wv AS MATERIALIZED (SELECT
       |      list_transform(range(1, 65), i -> CASE WHEN i = 1
       |        THEN v1[CAST(i AS INTEGER)]
       |          - CAST(round(sqrt(CAST(list_sum(list_transform(v1, x -> x * x)) AS DOUBLE))) AS BIGINT)
       |        ELSE v1[CAST(i AS INTEGER)] END) AS w
       |    FROM hh),
       |  wb AS MATERIALIZED (SELECT w,
       |      CAST(list_sum(list_transform(w, x -> x * x)) AS BIGINT) AS ww FROM wv),
       |  xm AS MATERIALIZED (SELECT vec_id,
       |      list_transform(embedding, v ->
       |        CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS xm
       |    FROM embeddings),
       |  wx AS MATERIALIZED (SELECT x.vec_id,
       |      CAST(list_sum(list_transform(range(1, 65), i ->
       |        b.w[CAST(i AS INTEGER)] * x.xm[CAST(i AS INTEGER)])) AS BIGINT) AS wx
       |    FROM xm x CROSS JOIN wb b)
       |  SELECT x.vec_id, list_transform(range(1, 65), i ->
       |      CAST(CAST((x.xm[CAST(i AS INTEGER)]
       |        - CAST(round(2.0 * q.wx / b.ww * b.w[CAST(i AS INTEGER)]) AS BIGINT))
       |      / 1000000.0 AS REAL) AS DOUBLE)) AS v
       |  FROM xm x JOIN wx q USING (vec_id) CROSS JOIN wb b),""".stripMargin

  private lazy val annOpqStoreOracle: String =
    annIvfadcOracleFrom("en", "", baseSrc = "er",
      preCtes = opqRotatedCte("embeddings"))

  /** OPQ ingest mirror (VERDICT r19 #1): the rotated-space IVFADC
    * chain with the rotation learned from the STANDING raw subset and
    * both quantizers trained on the rotated standing subset — the
    * one-shot encode of the whole rotated corpus under those frozen
    * (w, books) equals the engine's append path.
    */
  private lazy val annOpqIngestOracle: String =
    annIvfadcOracleFrom("ens",
      "\nens AS (SELECT vec_id, v FROM en WHERE vec_id < 400),",
      baseSrc = "er",
      preCtes = opqRotatedCte(
        "(SELECT * FROM embeddings WHERE vec_id < 400)"))

  /** Probe-sweep mirror (ProductQuant.ivfadcProbeSweep): the IVFADC
    * chain with the probe CTE keeping each probed list's RANK, swept
    * against the nprobe values via prank <= nprobe; shortlist/rerank
    * windows partition by (nprobe, query); recall joins the brute-force
    * truth replicated per sweep point. All-integer permille outputs.
    */
  private lazy val annIvfadcSweepOracle: String =
    s"""WITH $embCte,
       |en AS (SELECT vec_id, list_transform(v, x ->
       |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS v
       |  FROM e),
       |${pqCodesCtes("en", m = 8, subLen = 8, ks = 16, sampN = 160,
                      corpusSrc = "e", normDot = true)},
       |ccent AS (SELECT vec_id AS ccid, v AS cv FROM en
       |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |csim AS (SELECT e.vec_id, ccent.ccid,
       |  round(list_sum(list_transform(range(1, len(e.v) + 1),
       |      i -> e.v[CAST(i AS INTEGER)] * ccent.cv[CAST(i AS INTEGER)]))
       |    / sqrt(list_sum(list_transform(e.v, y -> y * y))), 6) AS s
       |  FROM e, ccent),
       |cassign AS (SELECT vec_id, ccid FROM (
       |    SELECT vec_id, ccid, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
       |    FROM csim) WHERE rn = 1),
       |cprobe AS (SELECT vec_id AS q_id, ccid, CAST(rn AS BIGINT) AS prank
       |  FROM (
       |    SELECT vec_id, ccid, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
       |    FROM csim WHERE vec_id < 50) WHERE rn <= 16),
       |sweep AS (SELECT CAST(unnest([1, 2, 4, 8, 16]) AS BIGINT) AS nprobe),
       |lut AS (SELECT vec_id AS q_id, sub, cid AS code,
       |    CAST(round(sd * 1000000) AS BIGINT) AS sd6
       |  FROM sd1 WHERE vec_id < 50),
       |pre AS (SELECT w.nprobe, p.q_id AS query_id, a.vec_id AS cand_id,
       |    l.sd6
       |  FROM sweep w
       |  JOIN cprobe p ON p.prank <= w.nprobe
       |  JOIN cassign a ON p.ccid = a.ccid AND p.q_id <> a.vec_id
       |  JOIN codes c ON c.vec_id = a.vec_id
       |  JOIN lut l ON l.q_id = p.q_id AND l.sub = c.sub AND l.code = c.code),
       |s1 AS (SELECT nprobe, CAST(count(*) // 8 AS BIGINT) AS pairs
       |  FROM pre GROUP BY 1),
       |adc AS (SELECT nprobe, query_id, cand_id,
       |    CAST(SUM(sd6) AS BIGINT) AS adc6
       |  FROM pre GROUP BY 1, 2, 3),
       |sr AS (SELECT *, row_number() OVER
       |    (PARTITION BY nprobe, query_id ORDER BY adc6 DESC, cand_id)
       |    AS srank FROM adc),
       |short AS (SELECT nprobe, query_id, cand_id FROM sr
       |  WHERE srank <= greatest(150, (SELECT count(*) FROM e) // 20)),
       |sc AS (SELECT s.nprobe, s.query_id, s.cand_id, round($cosSql, 6) AS score
       |  FROM short s JOIN e q ON q.vec_id = s.query_id
       |               JOIN e c ON c.vec_id = s.cand_id),
       |rr AS (SELECT *, row_number() OVER
       |    (PARTITION BY nprobe, query_id ORDER BY score DESC, cand_id)
       |    AS rank FROM sc),
       |approx AS (SELECT nprobe, query_id, cand_id FROM rr WHERE rank <= 3),
       |ts AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    round($cosSql, 6) AS score
       |  FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
       |truth AS (SELECT query_id, cand_id FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
       |    FROM ts) WHERE rank <= 3),
       |rec AS (SELECT w.nprobe, CAST(count(*) AS BIGINT) AS n_truth,
       |    CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS hits
       |  FROM truth t CROSS JOIN sweep w
       |  LEFT JOIN approx a ON a.nprobe = w.nprobe
       |    AND a.query_id = t.query_id AND a.cand_id = t.cand_id
       |  GROUP BY 1)
       |SELECT r.nprobe,
       |  CAST(1000 * r.hits // r.n_truth AS BIGINT) AS recall_permille,
       |  CAST(1000 * s.pairs //
       |    ((SELECT count(*) FROM e WHERE vec_id < 50) *
       |     ((SELECT count(*) FROM e) - 1)) AS BIGINT) AS scan_permille
       |FROM rec r JOIN s1 s ON s.nprobe = r.nprobe
       |ORDER BY r.nprobe""".stripMargin

  /** One BPE learn/apply round as CTEs p$k/m$k/s$k/a$k over the prior
    * round's symbol relation s${k-1}: mergeable-pair census (any pair;
    * homogeneous positions count at odd run parity only — the
    * left-to-right non-overlap rule), top-1 merge selection, stateless
    * per-position splice (parity-gated for l = r —
    * Lexicon.bpeTrainMerges scaladoc), weighted symbol count.
    * If the pair census runs dry before round k, m$k is empty and the
    * LEFT JOIN .. ON TRUE keeps s$k = s${k-1} unchanged — matching the
    * engine's graceful early stop (bpeTrainLoop keeps the last
    * vocabulary) instead of collapsing the chain to zero rows.
    */
  /** Run-prefix parity of the maximal same-symbol run ending at i —
    * the stateless left-to-right non-overlap rule for homogeneous
    * pairs (Lexicon.bpeTrainMerges scaladoc): odd = merge start,
    * even = consumed second slot.
    */
  /** Covariance-census CTE prefix shared by the PCA oracles (mirror of
    * Pca.covarianceCells): per-row micro-quantized first/second-order
    * terms, exact long sums, one fixed double expression per cell.
    * MATERIALIZED throughout — the power chain references each CTE more
    * than once and must not re-inline (exponential blowup otherwise).
    */
  private def pcaCovCtes(d: Int, src: String = "embeddings"): String =
    s"""dims AS MATERIALIZED (SELECT CAST(i AS INTEGER) AS i FROM range(0, $d) t(i)),
       |x AS MATERIALIZED (SELECT vec_id, d.i AS i,
       |       CAST(round(CAST(embedding[d.i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS xq,
       |       CAST(embedding[d.i + 1] AS DOUBLE) AS xd
       |     FROM $src CROSS JOIN dims d),
       |nrows AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM $src),
       |s2 AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
       |       CAST(sum(CAST(round(a.xd * b.xd * 1000000) AS BIGINT)) AS BIGINT) AS s2
       |     FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i GROUP BY 1, 2),
       |s1 AS MATERIALIZED (SELECT i, CAST(sum(xq) AS BIGINT) AS s1 FROM x GROUP BY 1),
       |cov AS MATERIALIZED (SELECT s2.i, s2.j,
       |       CAST(round((CAST(s2.s2 AS DOUBLE) - CAST(si.s1 AS DOUBLE) * sj.s1
       |         / (CAST(n.n AS DOUBLE) * 1000000)) / n.n) AS BIGINT) AS cm
       |     FROM s2 JOIN s1 si ON si.i = s2.i JOIN s1 sj ON sj.i = s2.j
       |     CROSS JOIN nrows n),
       |covf AS MATERIALIZED (SELECT i AS r, j AS c, cm FROM cov
       |       UNION ALL SELECT j, i, cm FROM cov WHERE i < j)""".stripMargin

  /** Unrolled quantized power-iteration chain (mirror of
    * Pca.topComponent): v0 = all 1e6; each round an exact-long matvec,
    * an exact-long (|t|/1e5)² norm census, and one fixed double
    * rescale-and-round back to micro units. Ends at CTE `v$rounds`.
    */
  private def pcaPowerCtes(rounds: Int): String =
    (Seq("v0 AS MATERIALIZED (SELECT i, CAST(1000000 AS BIGINT) AS v FROM dims)") ++
      (1 to rounds).map { k =>
        s"""t$k AS MATERIALIZED (SELECT f.r AS i, CAST(sum(f.cm * v.v) AS BIGINT) AS t
           |  FROM covf f JOIN v${k - 1} v ON v.i = f.c GROUP BY 1),
           |n$k AS MATERIALIZED (SELECT
           |    CAST(sum((abs(t) // 100000) * (abs(t) // 100000)) AS BIGINT) AS ss
           |  FROM t$k),
           |v$k AS MATERIALIZED (SELECT i,
           |    CAST(round(CAST(t AS DOUBLE) * 10.0 / sqrt(CAST(ss AS DOUBLE))) AS BIGINT) AS v
           |  FROM t$k CROSS JOIN n$k)""".stripMargin
      }).mkString(",\n")

  /** Rayleigh-quotient CTEs over the final iterate `v$rounds`: the
    * pre-shrunk exact product sums and λ as one double round. Ends at
    * CTE `ray(num, den)`.
    */
  private def pcaRayleighCtes(rounds: Int): String =
    s"""tF AS MATERIALIZED (SELECT f.r AS i, CAST(sum(f.cm * v.v) AS BIGINT) AS t
       |  FROM covf f JOIN v$rounds v ON v.i = f.c GROUP BY 1),
       |ray AS MATERIALIZED (SELECT
       |    CAST(sum((CASE WHEN t < 0 THEN -(abs(t) // 1000000)
       |              ELSE abs(t) // 1000000 END) * v.v) AS BIGINT) AS num,
       |    CAST(sum(v.v * v.v) AS BIGINT) AS den
       |  FROM tF JOIN v$rounds v USING (i))""".stripMargin

  /** Deflated power chain for the SECOND component (mirror of
    * Pca.powerLoop with ortho = v1): alternating-sign start, each
    * round's matvec orthogonalized against the first chain's final
    * iterate `v$vrounds` via the integer-exact α before the usual
    * quantized normalization. Ends at CTE `w$rounds`.
    */
  private def pcaPower2Ctes(rounds: Int, vrounds: Int): String = {
    val shrinkT = "CASE WHEN t < 0 THEN -(abs(t) // 1000000) " +
      "ELSE abs(t) // 1000000 END"
    (Seq("w0 AS MATERIALIZED (SELECT i, CAST(CASE WHEN i % 2 = 0 THEN 1000000 " +
      "ELSE -1000000 END AS BIGINT) AS v FROM dims)") ++
      (1 to rounds).map { k =>
        s"""t2_$k AS MATERIALIZED (SELECT f.r AS i, CAST(sum(f.cm * v.v) AS BIGINT) AS t
           |  FROM covf f JOIN w${k - 1} v ON v.i = f.c GROUP BY 1),
           |o2_$k AS MATERIALIZED (SELECT
           |    CAST(sum(($shrinkT) * u.v) AS BIGINT) AS num,
           |    CAST(sum(u.v * u.v) AS BIGINT) AS den
           |  FROM t2_$k JOIN v$vrounds u USING (i)),
           |a2_$k AS MATERIALIZED (SELECT
           |    CAST(round(CAST(num AS DOUBLE) * 1000000 / den) AS BIGINT) AS alpha
           |  FROM o2_$k),
           |d2_$k AS MATERIALIZED (SELECT t.i, t.t - a.alpha * u.v AS t
           |  FROM t2_$k t JOIN v$vrounds u USING (i) CROSS JOIN a2_$k a),
           |n2_$k AS MATERIALIZED (SELECT
           |    CAST(sum((abs(t) // 100000) * (abs(t) // 100000)) AS BIGINT) AS ss
           |  FROM d2_$k),
           |w$k AS MATERIALIZED (SELECT i,
           |    CAST(round(CAST(t AS DOUBLE) * 10.0 / sqrt(CAST(ss AS DOUBLE))) AS BIGINT) AS v
           |  FROM d2_$k CROSS JOIN n2_$k)""".stripMargin
      }).mkString(",\n")
  }

  private def bpeRunpar(sym: String): String =
    s"""(i - coalesce(list_max(list_filter(range(1, CAST(i AS INTEGER) + 1),
       |   j -> syms[CAST(j AS INTEGER)] <> $sym)), 0)) % 2""".stripMargin

  /** One merge-splice CTE: `out` = `src` with merge relation `m`
    * (one row (l, r) or empty) applied to `syms`; `carry` lists the
    * pass-through columns. ONE definition for the trainer rounds AND
    * the frozen-merge apply chain (mirror of Lexicon.spliceCol).
    */
  private def bpeSpliceCte(out: String, src: String, m: String,
                           carry: String): String =
    s"""$out AS (SELECT $carry, CASE WHEN m.l IS NULL THEN syms
       |         ELSE list_filter(list_transform(
       |         range(1, len(syms) + 1), i ->
       |         CASE WHEN i < len(syms)
       |                   AND syms[CAST(i AS INTEGER)] = m.l
       |                   AND syms[CAST(i + 1 AS INTEGER)] = m.r
       |                   AND (m.l <> m.r OR ${bpeRunpar("m.l")} = 1)
       |              THEN m.l || m.r
       |              WHEN i > 1
       |                   AND syms[CAST(i - 1 AS INTEGER)] = m.l
       |                   AND syms[CAST(i AS INTEGER)] = m.r
       |                   AND (m.l <> m.r OR ${bpeRunpar("m.l")} = 0)
       |              THEN NULL
       |              ELSE syms[CAST(i AS INTEGER)] END),
       |         x -> x IS NOT NULL) END AS syms
       |       FROM $src LEFT JOIN $m m ON TRUE)""".stripMargin

  private def bpeRoundCtes(k: Int): String = {
    val prev = s"s${k - 1}"
    s"""p$k AS (SELECT syms[CAST(u.i AS INTEGER)] AS l,
       |         syms[CAST(u.i + 1 AS INTEGER)] AS r,
       |         CAST(SUM(freq) AS BIGINT) AS cnt
       |       FROM $prev, UNNEST(generate_series(1, len(syms) - 1)) AS u(i)
       |       WHERE syms[CAST(u.i AS INTEGER)]
       |             <> syms[CAST(u.i + 1 AS INTEGER)]
       |          OR (u.i - coalesce(list_max(list_filter(
       |               range(1, CAST(u.i AS INTEGER) + 1),
       |               j -> syms[CAST(j AS INTEGER)]
       |                    <> syms[CAST(u.i AS INTEGER)])), 0)) % 2 = 1
       |       GROUP BY 1, 2),
       |m$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
       |${bpeSpliceCte(s"s$k", prev, s"m$k", "freq")},
       |a$k AS (SELECT CAST(SUM(freq * len(syms)) AS BIGINT) AS after
       |        FROM s$k)""".stripMargin
  }

  /** Shared MinHash-cluster LABEL chain: shingles → signatures → bands
    * → verified near-dup pairs → recursive reachability closure →
    * per-node min label, ending in CTE `lab(doc_id, canonical_id)` —
    * one source of truth for `dedup_clusters` and the
    * representative-selection face composed on top of it.
    */
  private lazy val clusterLabelCtes: String =
    s"""WITH RECURSIVE $toksCte,
       |$shinglesCte,
       |hbase AS (SELECT doc_id, s, list_transform(s, x -> ${h48("x")}) AS hb FROM sh),
       |sig AS (SELECT doc_id, s, ${sigExprs.mkString(",\n  ")} FROM hbase),
       |bands AS (${bandSelects.mkString("\n  UNION ALL\n  ")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(sa.s, sb.s)) * 1.0 / len(list_distinct(list_concat(sa.s, sb.s))) AS jac
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = doc_a
       |  JOIN sh sb ON sb.doc_id = doc_b),
       |mh AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.5),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mh
       |          UNION SELECT doc_b, doc_a FROM mh),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(a, b) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
       |lab AS (SELECT a AS doc_id, min(b) AS canonical_id FROM reach
       |        GROUP BY a)""".stripMargin

  /** Residual-IVFADC mirror (ProductQuant.ivfadcTopK, Scheme.Residual): the
    * coarse CTEs as in the non-residual face, then `rall` materializes
    * every vector's residual (normalized vector minus assigned coarse
    * centroid) and the SHARED pq chain trains/encodes over residuals.
    * A candidate's score = its probed cell's coarse dot (micro-units)
    * + the sum of its residual codes' fine-LUT entries — exact integer
    * reconstruction of dot(q̂, ĉ + f(codes)).
    */
  private lazy val annIvfadcResOracle: String = annIvfadcResOracleFrom("en")

  /** The residual-IVFADC mirror chain with BOTH quantizers trained
    * from `trainSrc` (a (vec_id, v)-normalized CTE; "en" = the full
    * corpus; a standing subset = the residual ingest face's
    * frozen-book contract). `extraCtes` splices additional CTE
    * definitions after `en`. The fine books train on `trainSrc`'s
    * rows residualized against the `trainSrc`-sampled coarse book
    * (rstn — for trainSrc = "en" that is all residuals, the original
    * chain verbatim), while the CORPUS encodes in full against those
    * frozen books.
    */
  private def annIvfadcResOracleFrom(trainSrc: String,
                                     extraCtes: String = ""): String =
    s"""WITH $embCte,
       |en AS (SELECT vec_id, list_transform(v, x ->
       |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS v
       |  FROM e),$extraCtes
       |ccent AS (SELECT vec_id AS ccid, v AS cv FROM $trainSrc
       |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |csim AS (SELECT e.vec_id, ccent.ccid,
       |  round(list_sum(list_transform(range(1, len(e.v) + 1),
       |      i -> e.v[CAST(i AS INTEGER)] * ccent.cv[CAST(i AS INTEGER)]))
       |    / sqrt(list_sum(list_transform(e.v, y -> y * y))), 6) AS s
       |  FROM e, ccent),
       |cassign AS (SELECT vec_id, ccid FROM (
       |    SELECT vec_id, ccid, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
       |    FROM csim) WHERE rn = 1),
       |rall AS (SELECT en.vec_id, list_transform(range(1, len(en.v) + 1),
       |    i -> en.v[CAST(i AS INTEGER)] - cc.cv[CAST(i AS INTEGER)]) AS v
       |  FROM en JOIN cassign a ON a.vec_id = en.vec_id
       |          JOIN ccent cc ON cc.ccid = a.ccid),
       |rstn AS (SELECT r.vec_id, r.v FROM rall r
       |         WHERE r.vec_id IN (SELECT vec_id FROM $trainSrc)),
       |${pqCodesCtes("rstn", m = 8, subLen = 8, ks = 16, sampN = 160,
                      corpusSrc = "rall")},
       |cprobe AS (SELECT q_id, ccid, CAST(round(s * 1000000) AS BIGINT)
       |    AS sd6c FROM (
       |    SELECT vec_id AS q_id, ccid, s, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
       |    FROM csim WHERE vec_id < 50) WHERE rn <= 4),
       |lutf AS (SELECT e.vec_id AS q_id, cb.sub, cb.cid AS code,
       |    CAST(round(round(list_sum(list_transform(range(1, 9),
       |      i -> e.v[CAST(cb.sub * 8 + i AS INTEGER)]
       |           * cb.cv[CAST(i AS INTEGER)]))
       |      / sqrt(list_sum(list_transform(e.v, y -> y * y))), 6)
       |      * 1000000) AS BIGINT) AS sd6f
       |  FROM e, cb WHERE e.vec_id < 50),
       |adc AS (SELECT p.q_id AS query_id, a.vec_id AS cand_id,
       |    CAST(MIN(p.sd6c) + SUM(l.sd6f) AS BIGINT) AS adc6
       |  FROM cassign a JOIN cprobe p ON p.ccid = a.ccid
       |    AND p.q_id <> a.vec_id
       |  JOIN codes c ON c.vec_id = a.vec_id
       |  JOIN lutf l ON l.q_id = p.q_id AND l.sub = c.sub AND l.code = c.code
       |  GROUP BY 1, 2),
       |sr AS (SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY adc6 DESC, cand_id) AS srank
       |  FROM adc),
       |short AS (SELECT query_id, cand_id, adc6 FROM sr
       |  WHERE srank <= greatest(150, (SELECT count(*) FROM e) // 20)),
       |sc AS (SELECT s.query_id, s.cand_id, s.adc6, round($cosSql, 6) AS score
       |  FROM short s JOIN e q ON q.vec_id = s.query_id
       |               JOIN e c ON c.vec_id = s.cand_id),
       |r AS (SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
       |  FROM sc)
       |SELECT query_id, cand_id, adc6, score, CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Unrolled MMR mirror (Similarity.mmrSelect): per greedy round, the
    * max-sim census against the union of prior picks, the sign-aware
    * integer λ=½ penalty, and a (score DESC, vec_id) LIMIT 1 argmax.
    */
  private def mmrOracle(k: Int): String = {
    def selUnion(r: Int) =
      (1 until r).map(i => s"SELECT vec_id FROM s$i").mkString(" UNION ALL ")
    val rounds = (1 to k).map { r =>
      if (r == 1)
        s"""s1 AS MATERIALIZED (SELECT vec_id, rel, rel AS score, 1 AS rank
           |  FROM rel ORDER BY rel DESC, vec_id LIMIT 1)""".stripMargin
      else
        s"""sel$r AS MATERIALIZED (${selUnion(r)}),
           |m$r AS MATERIALIZED (
           |  SELECT c.vec_id,
           |         max(CAST(round(round(${cosOf("c.v", "s.v")}, 6) * 1000000)
           |             AS BIGINT)) AS ms
           |  FROM e c JOIN e s ON s.vec_id IN (SELECT vec_id FROM sel$r)
           |  WHERE c.vec_id <> 0 AND c.vec_id NOT IN (SELECT vec_id FROM sel$r)
           |  GROUP BY 1),
           |s$r AS MATERIALIZED (
           |  SELECT m.vec_id, rel.rel,
           |         rel.rel - (CASE WHEN ms < 0 THEN -((-ms) // 2)
           |                    ELSE ms // 2 END) AS score, $r AS rank
           |  FROM m$r m JOIN rel ON rel.vec_id = m.vec_id
           |  ORDER BY score DESC, m.vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $embCte,
       |rel AS MATERIALIZED (
       |  SELECT c.vec_id,
       |         CAST(round(round(${cosOf("c.v", "q.v")}, 6) * 1000000)
       |           AS BIGINT) AS rel
       |  FROM e c JOIN e q ON q.vec_id = 0 WHERE c.vec_id <> 0),
       |$rounds
       |SELECT CAST(rank AS INTEGER) AS rank, vec_id, rel AS rel_micro,
       |       CAST(score AS BIGINT) AS score_micro
       |FROM (${(1 to k).map(r => s"SELECT * FROM s$r").mkString(" UNION ALL ")})
       |ORDER BY rank""".stripMargin
  }

  /** Unrolled spherical-Lloyd mirror (Similarity.kmeansTrainCurve):
    * per round an assignment (cosine, (s DESC, cid) order), a stats
    * census over round(round(s,6)·1e6), and a DECIMAL-exact mean
    * update feeding the next round's centroid relation.
    */
  private def kmeansCurveOracle(rounds: Int): String = {
    val dims = "kdims AS (SELECT unnest(range(1, (SELECT len(embedding) " +
      "FROM embeddings LIMIT 1) + 1)) AS pos)"
    val body = (1 to rounds).map { r =>
      val update =
        if (r == rounds) ""
        else s""",
          |comp$r AS MATERIALIZED (
          |  SELECT a.cid, d.pos,
          |         CAST(SUM(CAST(e.v[CAST(d.pos AS INTEGER)] AS DECIMAL(27,10))) AS DOUBLE)
          |           / COUNT(*) AS c
          |  FROM a$r a JOIN e ON e.vec_id = a.vec_id CROSS JOIN kdims d
          |  GROUP BY a.cid, d.pos),
          |cent${r + 1} AS MATERIALIZED (
          |  SELECT cid, list(c ORDER BY pos) AS cv FROM comp$r GROUP BY cid)""".stripMargin
      s"""sim$r AS MATERIALIZED (
         |  SELECT e.vec_id, c.cid, ${cosOf("e.v", "c.cv")} AS s
         |  FROM e, cent$r c),
         |a$r AS MATERIALIZED (
         |  SELECT vec_id, cid, s FROM (
         |    SELECT vec_id, cid, s,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |    FROM sim$r) WHERE rn = 1),
         |st$r AS (
         |  SELECT $r AS round, cid, CAST(count(*) AS BIGINT) AS n_members,
         |         CAST(sum(CAST(round(round(s, 6) * 1000000) AS BIGINT)) AS BIGINT)
         |           AS cohesion_micro
         |  FROM a$r GROUP BY 2)$update""".stripMargin
    }.mkString(",\n")
    s"""WITH $embCte,
       |cent1 AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM e
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |$dims,
       |$body
       |SELECT * FROM (${(1 to rounds).map(r => s"SELECT * FROM st$r")
        .mkString(" UNION ALL ")})
       |ORDER BY round, cid""".stripMargin
  }

  private lazy val annIvfOracle: String =
    s"""WITH $embCte,
       |cent AS (SELECT vec_id AS cid, v AS cv FROM e
       |         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |sim AS (
       |  SELECT e.vec_id, cent.cid, ${cosOf("e.v", "cent.cv")} AS s
       |  FROM e, cent),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |    FROM sim) WHERE rn = 1),
       |probe AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |    FROM sim WHERE vec_id < 50) WHERE rn <= 2),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS cand_id, round($cosSql, 6) AS score
       |  FROM probe p
       |  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
       |  JOIN e q ON q.vec_id = p.query_id
       |  JOIN e c ON c.vec_id = a.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank FROM scored)
       |SELECT query_id, cand_id, score, CAST(rank AS INTEGER) AS rank FROM r
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_containment" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 40000,
        |    array_to_string(toks[1:greatest(3, (len(toks) * 2) // 5)], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents WHERE doc_id % 6 = 0)),
        |tk2 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
        |sh2 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
        |      range(1, len(toks) - 2 + 1),
        |      i -> toks[CAST(i AS INTEGER)] || '_' || toks[CAST(i + 1 AS INTEGER)] || '_' || toks[CAST(i + 2 AS INTEGER)]))
        |    ELSE [] END AS s
        |  FROM tk2),
        |post AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS sh_n,
        |         unnest(s) AS sh_h FROM sh2),
        |common AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh_n AS n_a,
        |         b.sh_n AS n_b, count(*) AS common
        |  FROM post a JOIN post b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_a, doc_b,
        |  round(common * 1.0 / n_a, 6) AS cont_a,
        |  round(common * 1.0 / n_b, 6) AS cont_b
        |FROM common
        |WHERE common * 1.0 / n_a >= 0.8 OR common * 1.0 / n_b >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Winnowing mirror: per-char-position 8-gram h48 list; window (8)
    // minima; distinct fingerprint set; capped inverted-index pair join.
    "winnow_overlap" ->
      s"""WITH $winnowPairCtes
         |SELECT doc_a, doc_b, shared, n_a, n_b,
         |       shared * 1000 // least(n_a, n_b) AS overlap_permille
         |FROM common WHERE shared >= 2
         |  AND shared * 1000 // least(n_a, n_b) >= 400
         |ORDER BY doc_a, doc_b""".stripMargin,

    "winnow_accuracy" ->
      s"""WITH $winnowPairCtes,
         |pairs AS (SELECT doc_a, doc_b FROM common
         |          WHERE shared >= 2
         |            AND shared * 1000 // least(n_a, n_b) >= 400),
         |planted AS (SELECT doc_id AS doc_a, doc_id + 40000 AS doc_b
         |            FROM documents WHERE doc_id % 6 = 0)
         |SELECT CAST(count(*) AS BIGINT) AS n_planted,
         |  CAST(sum(CASE WHEN pr.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_caught,
         |  CAST(sum(CASE WHEN pr.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000 // CAST(count(*) AS BIGINT) AS recall_permille
         |FROM planted pl LEFT JOIN pairs pr
         |  ON pl.doc_a = pr.doc_a AND pl.doc_b = pr.doc_b""".stripMargin,

    // DSIR mirror: hashed unigram+bigram occurrences into 256 buckets,
    // Laplace-smoothed target/raw log-likelihood ratio per bucket,
    // per-doc micro-nat weight sum, global top-50.
    "dsir_topk" ->
      s"""WITH $dsirCtes,
         |wt AS (SELECT doc_id,
         |    CAST(round(CAST(sum(occ * llr_nano) AS DOUBLE) / 1000) AS BIGINT)
         |      AS weight_micro,
         |    CAST(sum(occ) AS BIGINT) AS n_feats
         |  FROM hist JOIN llr USING (f) GROUP BY 1),
         |r AS (SELECT *, row_number() OVER (
         |        ORDER BY weight_micro DESC, doc_id) AS rank FROM wt)
         |SELECT CAST(rank AS INTEGER) AS rank, doc_id, weight_micro, n_feats
         |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin,

    // Gumbel-top-k mirror: u from the doc-id hash, g = -ln(-ln(u)),
    // score = log-weight + g in integer micro units.
    "dsir_sample" ->
      s"""WITH $dsirCtes,
         |wt AS (SELECT doc_id, CAST(sum(occ * llr_nano) AS BIGINT) AS w_nano,
         |    CAST(sum(occ) AS BIGINT) AS n_feats
         |  FROM hist JOIN llr USING (f) GROUP BY 1),
         |sc AS (SELECT doc_id, n_feats,
         |    CAST(round((CAST(w_nano AS DOUBLE) / 1000000000
         |      + (-ln(-ln((${h48("CAST(doc_id AS VARCHAR)")} + 0.5)
         |                 / 281474976710656.0)))) * 1000000) AS BIGINT)
         |      AS score_micro
         |  FROM wt),
         |r AS (SELECT *, row_number() OVER (
         |        ORDER BY score_micro DESC, doc_id) AS draw FROM sc)
         |SELECT CAST(draw AS INTEGER) AS draw, doc_id, score_micro, n_feats
         |FROM r WHERE draw <= 50 ORDER BY draw""".stripMargin,

    // Corpus-unigram-LM mirror: vocabulary census with per-token
    // log-probabilities quantized to integer NANO-nats (one ln per
    // distinct token — the order-stable exact-long-sum form the Spark
    // side uses), per-doc mean from the long sum, perplexity = e^H.
    "unigram_ppl" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |u0 AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
        |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM u0),
        |u AS (SELECT tok,
        |        CAST(round(ln(cnt * 1.0 / total) * 1000000000) AS BIGINT)
        |          AS llp_nano
        |      FROM u0, tt),
        |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |             -(sum(llp_nano) * 1.0 / (count(*) * 1000000000)) AS h
        |      FROM t JOIN u USING (tok) GROUP BY doc_id)
        |SELECT doc_id, n_tokens, round(h, 6) AS h_nats, round(exp(h), 6) AS ppl
        |FROM d ORDER BY doc_id""".stripMargin,

    // Bigram-LM mirror: adjacent pairs from 1-indexed list slices (no
    // window), λ-interpolated probability quantized to nano-nats once
    // per DISTINCT pair, exact long sums per document. The 0.8/0.2
    // weights are spelled as literals on both engines (Selection
    // .bigramPpl determinism note).
    "bigram_ppl" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, w[CAST(i AS INTEGER)] AS w1,
        |             w[CAST(i + 1 AS INTEGER)] AS w2
        |      FROM d, unnest(range(1, len(w))) AS u(i)),
        |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM b GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
        |cu AS (SELECT tok AS w2, CAST(count(*) AS BIGINT) AS cu
        |       FROM (SELECT unnest(w) AS tok FROM d) GROUP BY 1),
        |tt AS (SELECT CAST(sum(cu) AS BIGINT) AS tt FROM cu),
        |p AS (SELECT w1, w2,
        |        CAST(round(ln(0.8 * (CAST(c2.c2 AS DOUBLE) / c1.c1)
        |                   + 0.2 * (CAST(cu.cu AS DOUBLE) / tt.tt))
        |             * 1000000000) AS BIGINT) AS llp_nano
        |      FROM c2 JOIN c1 USING (w1) JOIN cu USING (w2) CROSS JOIN tt),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |             -(sum(llp_nano) * 1.0 / (count(*) * 1000000000)) AS h
        |      FROM b JOIN p USING (w1, w2) GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, round(h, 6) AS h_nats, round(exp(h), 6) AS ppl
        |FROM s ORDER BY doc_id""".stripMargin,

    // Source-drift mirror: per-(source,token) KL term quantized to
    // nano-nats once in the joined census, exact long sum per source,
    // argmax token via the same (term desc, tok asc) window order.
    "source_token_kl" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |cs AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cs
        |       FROM t GROUP BY 1, 2),
        |tots AS (SELECT source, CAST(sum(cs) AS BIGINT) AS tots
        |         FROM cs GROUP BY 1),
        |cc AS (SELECT tok, CAST(sum(cs) AS BIGINT) AS cc FROM cs GROUP BY 1),
        |tt AS (SELECT CAST(sum(tots) AS BIGINT) AS tt FROM tots),
        |terms AS (SELECT source, tok, tots,
        |    CAST(round((CAST(cs AS DOUBLE) / tots)
        |         * ln((CAST(cs AS DOUBLE) / tots) / (CAST(cc AS DOUBLE) / tt))
        |         * 1000000000) AS BIGINT) AS term_nano
        |  FROM cs JOIN tots USING (source) JOIN cc USING (tok) CROSS JOIN tt),
        |top AS (SELECT source, tok AS top_tok FROM (
        |    SELECT source, tok, row_number() OVER (
        |      PARTITION BY source ORDER BY term_nano DESC, tok ASC) AS r
        |    FROM terms) WHERE r = 1),
        |g AS (SELECT source, max(tots) AS n_tokens,
        |             CAST(count(*) AS BIGINT) AS n_distinct,
        |             CAST(sum(term_nano) AS BIGINT) AS kl
        |      FROM terms GROUP BY 1)
        |SELECT source, n_tokens, n_distinct,
        |       round(CAST(kl AS DOUBLE) / 1000000000, 6) AS kl_nats, top_tok
        |FROM g JOIN top USING (source) ORDER BY source""".stripMargin,

    // Dataset-card mirror: exact-integer aggregates + the same
    // (count DESC, lang ASC) dominant-language window.
    "source_profile" ->
      """WITH b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |           FROM documents GROUP BY 1),
        |sl AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        |       FROM documents GROUP BY 1, 2),
        |top AS (SELECT source, lang AS top_lang, c FROM (
        |          SELECT source, lang, c, row_number() OVER (
        |            PARTITION BY source ORDER BY c DESC, lang ASC) AS r
        |          FROM sl) WHERE r = 1)
        |SELECT b.source, b.n_docs, b.n_chars,
        |       b.n_chars // b.n_docs AS mean_chars, b.n_langs, top.top_lang,
        |       (top.c * 1000) // b.n_docs AS top_lang_permille
        |FROM b JOIN top USING (source) ORDER BY b.source""".stripMargin,

    // Entropy mirror: nano-nat term per (doc, token), exact long sums,
    // integer TTR.
    "doc_token_entropy" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |ct AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |       FROM t GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |             CAST(count(*) AS BIGINT) AS n_distinct FROM ct GROUP BY 1),
        |tm AS (SELECT ct.doc_id, n.n, n.n_distinct,
        |         CAST(round((CAST(c AS DOUBLE) / n.n)
        |              * ln(CAST(c AS DOUBLE) / n.n) * 1000000000) AS BIGINT)
        |           AS term_nano
        |       FROM ct JOIN n USING (doc_id))
        |SELECT doc_id, max(n) AS n_tokens, max(n_distinct) AS n_distinct,
        |       round(-(CAST(sum(term_nano) AS BIGINT) * 1.0 / 1000000000), 6)
        |         AS h_nats,
        |       (max(n_distinct) * 1000) // max(n) AS ttr_permille
        |FROM tm GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Novelty mirror: distinct (doc, trigram), trigram-keyed min census.
    "ngram_novelty" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |tri AS (SELECT DISTINCT doc_id,
        |          w[CAST(i AS INTEGER)] || '_' || w[CAST(i + 1 AS INTEGER)]
        |          || '_' || w[CAST(i + 2 AS INTEGER)] AS g
        |        FROM d, unnest(range(1, len(w) - 1)) AS u(i)),
        |f AS (SELECT g, min(doc_id) AS first_doc FROM tri GROUP BY 1)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_novel,
        |       (CAST(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
        |         AS BIGINT) * 1000) // count(*) AS novelty_permille
        |FROM tri t JOIN f USING (g) GROUP BY 1 ORDER BY 1""".stripMargin,

    // Zipf mirror: identical micro-quantized log-log points, exact-long
    // OLS sums, identical double expressions; NULL r² on zero variance.
    "zipf_slope" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
        |      FROM c),
        |p AS (SELECT CAST(round(ln(rnk) * 1000000) AS BIGINT) AS x,
        |             CAST(round(ln(cnt) * 1000000) AS BIGINT) AS y
        |      FROM r WHERE rnk <= 100),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |             CAST(sum(x*y) AS BIGINT) AS sxy,
        |             CAST(sum(x*x) AS BIGINT) AS sxx,
        |             CAST(sum(y*y) AS BIGINT) AS syy FROM p),
        |f AS (SELECT n, n*sxy - sx*sy AS num, n*sxx - sx*sx AS denx,
        |             n*syy - sy*sy AS deny FROM s)
        |SELECT n,
        |  CAST(round(CAST(num AS DOUBLE) * 1000 / denx) AS BIGINT) AS slope_milli,
        |  CASE WHEN deny = 0 THEN NULL
        |       ELSE CAST(round(CAST(num AS DOUBLE) * num * 1000
        |            / (CAST(denx AS DOUBLE) * deny)) AS BIGINT)
        |  END AS r2_permille
        |FROM f""".stripMargin,

    // Heaps-curve mirror: identical integer bucket rule off the 1-row
    // max, min-bucket-per-token census, cumulative window sums.
    "vocab_growth" ->
      """WITH mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx FROM documents),
        |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |      FROM documents),
        |tb AS (SELECT CAST(least(9, doc_id * 10 // (mx.mx + 1)) AS INTEGER)
        |         AS bucket, tok
        |       FROM t CROSS JOIN mx),
        |occ AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_occ
        |        FROM tb GROUP BY 1),
        |ty AS (SELECT CAST(count(*) AS BIGINT) AS n_types_new, bucket FROM (
        |         SELECT tok, min(bucket) AS bucket FROM tb GROUP BY tok)
        |       GROUP BY bucket)
        |SELECT occ.bucket, occ.n_occ,
        |       CAST(sum(occ.n_occ) OVER (ORDER BY occ.bucket
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_tokens_cum,
        |       CAST(coalesce(ty.n_types_new, 0) AS BIGINT) AS n_types_new,
        |       CAST(sum(coalesce(ty.n_types_new, 0)) OVER (ORDER BY occ.bucket
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_types_cum
        |FROM occ LEFT JOIN ty USING (bucket) ORDER BY occ.bucket""".stripMargin,

    // PCA mirrors: the covariance census alone; + the 30-round unrolled
    // quantized power chain; + Rayleigh variance accounting; + the
    // per-vector projection. All integer steps are exact on both
    // engines; every double expression is spelled identically.
    "embed_covariance" ->
      s"""WITH ${pcaCovCtes(64)}
         |SELECT cov.i, cov.j, n.n AS n, cov.cm AS cov_micro
         |FROM cov CROSS JOIN nrows n ORDER BY cov.i, cov.j""".stripMargin,

    "embed_pca_power" ->
      s"""WITH ${pcaCovCtes(64)},
         |${pcaPowerCtes(30)},
         |${pcaRayleighCtes(30)}
         |SELECT v.i, v.v AS v_micro,
         |       CAST(round(CAST(num AS DOUBLE) * 1000000 / den) AS BIGINT)
         |         AS lambda_micro
         |FROM v30 v CROSS JOIN ray ORDER BY v.i""".stripMargin,

    "pca_explained" ->
      s"""WITH ${pcaCovCtes(64)},
         |${pcaPowerCtes(30)},
         |${pcaRayleighCtes(30)},
         |tr AS (SELECT CAST(sum(cm) AS BIGINT) AS trace_micro
         |       FROM cov WHERE i = j),
         |lam AS (SELECT CAST(round(CAST(num AS DOUBLE) * 1000000 / den) AS BIGINT)
         |          AS lambda_micro FROM ray)
         |SELECT lambda_micro, trace_micro,
         |       (lambda_micro * 1000) // trace_micro AS explained_permille
         |FROM lam CROSS JOIN tr""".stripMargin,

    // Second-component mirror: the full v-chain, then the deflated
    // w-chain, then λ2 Rayleigh + the v1·v2 residual cross-term.
    "embed_pca_power2" ->
      s"""WITH ${pcaCovCtes(64)},
         |${pcaPowerCtes(30)},
         |${pcaPower2Ctes(30, 30)},
         |tF2 AS MATERIALIZED (SELECT f.r AS i, CAST(sum(f.cm * v.v) AS BIGINT) AS t
         |  FROM covf f JOIN w30 v ON v.i = f.c GROUP BY 1),
         |ray2 AS MATERIALIZED (SELECT
         |    CAST(sum((CASE WHEN t < 0 THEN -(abs(t) // 1000000)
         |              ELSE abs(t) // 1000000 END) * v.v) AS BIGINT) AS num,
         |    CAST(sum(v.v * v.v) AS BIGINT) AS den
         |  FROM tF2 JOIN w30 v USING (i)),
         |cr AS (SELECT CAST(sum(a.v * b.v) AS BIGINT) AS cx
         |       FROM v30 a JOIN w30 b USING (i))
         |SELECT w.i, w.v AS v_micro,
         |       CAST(round(CAST(num AS DOUBLE) * 1000000 / den) AS BIGINT)
         |         AS lambda_micro,
         |       CASE WHEN cx < 0 THEN -(abs(cx) // 1000000)
         |            ELSE abs(cx) // 1000000 END AS cross_micro
         |FROM w30 w CROSS JOIN ray2 CROSS JOIN cr ORDER BY w.i""".stripMargin,

    // JL mirror: identical Rademacher parity matrix, integer projection
    // sums, one double ratio per (pair, target).
    "jl_distortion" ->
      """WITH pr AS (SELECT vec_id,
        |  list_transform(range(0, 32), k ->
        |    list_sum(list_transform(range(0, 64), i ->
        |      (CASE WHEN bit_count((i * 64 + k) * 2654435761 % 4294967296) % 2 = 0
        |            THEN 1 ELSE -1 END)
        |      * CAST(round(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE)
        |          * 1000000) AS BIGINT)))) AS z,
        |  list_transform(range(0, 64), i ->
        |    CAST(round(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE)
        |        * 1000000) AS BIGINT)) AS x
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS pair_id,
        |        list_transform(range(1, 33), j ->
        |          a.z[CAST(j AS INTEGER)] - b.z[CAST(j AS INTEGER)]) AS dz,
        |        list_sum(list_transform(range(1, 65), j ->
        |          (a.x[CAST(j AS INTEGER)] - b.x[CAST(j AS INTEGER)])
        |          * (a.x[CAST(j AS INTEGER)] - b.x[CAST(j AS INTEGER)]))) AS do2
        |      FROM pr a JOIN pr b ON b.vec_id = a.vec_id + 1),
        |p2 AS (SELECT * FROM p WHERE do2 > 0),
        |t AS (SELECT CAST(unnest([8, 16, 32]) AS BIGINT) AS target_dim),
        |d AS (SELECT t.target_dim,
        |        abs(CAST(round(CAST(list_sum(list_transform(
        |            range(1, CAST(t.target_dim + 1 AS INTEGER)), j ->
        |            dz[CAST(j AS INTEGER)] * dz[CAST(j AS INTEGER)])) AS DOUBLE)
        |          * 1000000 / (t.target_dim * do2)) AS BIGINT) - 1000000) AS dev
        |      FROM p2 CROSS JOIN t)
        |SELECT target_dim, CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(sum(dev) // count(*) AS BIGINT) AS mean_dev_micro,
        |       CAST(max(dev) AS BIGINT) AS max_dev_micro
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    // Standardization mirror: μ = round(s1/n) micro, σ = round(√(cov·1e6))
    // micro from the census diagonal, z in milli via the identical
    // double expression; the per-vector string aggregates in i order.
    "embed_standardize" ->
      s"""WITH ${pcaCovCtes(64)},
         |mu AS (SELECT i, CAST(round(CAST(s1 AS DOUBLE) / n.n) AS BIGINT) AS mu
         |       FROM s1 CROSS JOIN nrows n),
         |sg AS (SELECT i, CAST(round(sqrt(CAST(cm AS DOUBLE) * 1000000)) AS BIGINT) AS sg
         |       FROM cov WHERE i = j),
         |z AS (SELECT e.vec_id, d.i,
         |        CAST(round(CAST(CAST(round(CAST(e.embedding[d.i + 1] AS DOUBLE)
         |          * 1000000) AS BIGINT) - mu.mu AS DOUBLE) * 1000 / sg.sg)
         |          AS BIGINT) AS zm
         |      FROM embeddings e CROSS JOIN dims d
         |      JOIN mu ON mu.i = d.i JOIN sg ON sg.i = d.i)
         |SELECT vec_id,
         |       string_agg(CAST(zm AS VARCHAR), ' ' ORDER BY i) AS z,
         |       CAST(sum(CASE WHEN abs(zm) > 3000 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_out3
         |FROM z GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // Merge-face mirror: the ORACLE computes the direct full-corpus
    // covariance; the engine arrives via two partial censuses merged
    // cell-wise — equality proves merge == rebuild.
    "pca_census_merge" ->
      s"""WITH ${pcaCovCtes(64)}
         |SELECT cov.i, cov.j, n.n AS n, cov.cm AS cov_micro
         |FROM cov CROSS JOIN nrows n ORDER BY cov.i, cov.j""".stripMargin,

    // 2-D projection mirror: the v-chain AND the deflated w-chain, both
    // quantized dots per vector in one grouped pass.
    "embed_pca_project2" ->
      s"""WITH ${pcaCovCtes(64)},
         |${pcaPowerCtes(30)},
         |${pcaPower2Ctes(30, 30)},
         |proj AS (SELECT e.vec_id,
         |    CAST(sum(CAST(round(CAST(e.embedding[d.i + 1] AS DOUBLE) * 1000000)
         |      AS BIGINT) * a.v) AS BIGINT) AS s1,
         |    CAST(sum(CAST(round(CAST(e.embedding[d.i + 1] AS DOUBLE) * 1000000)
         |      AS BIGINT) * b.v) AS BIGINT) AS s2
         |  FROM embeddings e CROSS JOIN dims d
         |  JOIN v30 a ON a.i = d.i JOIN w30 b ON b.i = d.i
         |  GROUP BY 1)
         |SELECT vec_id,
         |       CASE WHEN s1 < 0 THEN -((abs(s1) + 500000) // 1000000)
         |            ELSE (abs(s1) + 500000) // 1000000 END AS pc1_micro,
         |       CASE WHEN s2 < 0 THEN -((abs(s2) + 500000) // 1000000)
         |            ELSE (abs(s2) + 500000) // 1000000 END AS pc2_micro
         |FROM proj ORDER BY vec_id""".stripMargin,

    "embed_pca_project" ->
      s"""WITH ${pcaCovCtes(64)},
         |${pcaPowerCtes(30)},
         |proj AS (SELECT e.vec_id,
         |    CAST(sum(CAST(round(CAST(e.embedding[d.i + 1] AS DOUBLE) * 1000000)
         |      AS BIGINT) * v.v) AS BIGINT) AS s
         |  FROM embeddings e CROSS JOIN dims d JOIN v30 v ON v.i = d.i
         |  GROUP BY 1)
         |SELECT vec_id,
         |       CASE WHEN s < 0 THEN -((abs(s) + 500000) // 1000000)
         |            ELSE (abs(s) + 500000) // 1000000 END AS pc1_micro
         |FROM proj ORDER BY vec_id""".stripMargin,

    "bm25_topk" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
        |dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs,
        |  CAST(SUM(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |terms AS (SELECT token FROM t GROUP BY token
        |          ORDER BY count(*) DESC, token LIMIT 5),
        |s AS (SELECT tf.doc_id,
        |  CAST(round(((CAST(st.n_docs - dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5))
        |    * (CAST(tf.tf AS DOUBLE) * 2.2)
        |    / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / st.avgdl)))
        |    * 1000000) AS BIGINT) AS micro
        |  FROM tf JOIN terms USING (token) JOIN dfr USING (token)
        |  JOIN dl USING (doc_id) CROSS JOIN st),
        |g AS (SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS score_u,
        |      CAST(count(*) AS BIGINT) AS n_terms FROM s GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY score_u DESC, doc_id) AS rank
        |      FROM g)
        |SELECT doc_id, round(CAST(score_u AS DOUBLE) / 1000000.0, 6) AS score,
        |       n_terms, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin,

    "semdedup" ->
      s"""WITH $embCte,
         |cent AS (SELECT vec_id AS cid, v AS cv FROM e
         |         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |sim AS (
         |  SELECT e.vec_id, cent.cid, ${cosOf("e.v", "cent.cv")} AS s
         |  FROM e, cent),
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |    FROM sim) WHERE rn = 1),
         |m AS (SELECT a.vec_id, a.cid, e.v FROM assign a
         |      JOIN e ON e.vec_id = a.vec_id),
         |p AS (SELECT y.vec_id AS vid, round(${cosOf("x.v", "y.v")}, 6) AS score
         |      FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id),
         |d AS (SELECT vid AS vec_id, count(*) AS n_dups FROM p
         |      WHERE score >= 0.4 GROUP BY 1)
         |SELECT m.vec_id, m.cid,
         |  CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_dups,
         |  (d.vec_id IS NOT NULL) AS dropped
         |FROM m LEFT JOIN d ON d.vec_id = m.vec_id
         |ORDER BY m.vec_id""".stripMargin,

    // Sweep mirror: the same cluster-pair relation, per-threshold
    // counts over micro-quantized scores and per-vector maxima.
    "semdedup_sweep" ->
      s"""WITH $embCte,
         |cent AS (SELECT vec_id AS cid, v AS cv FROM e
         |         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |sim AS (
         |  SELECT e.vec_id, cent.cid, ${cosOf("e.v", "cent.cv")} AS s
         |  FROM e, cent),
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |    FROM sim) WHERE rn = 1),
         |m AS (SELECT a.vec_id, a.cid, e.v FROM assign a
         |      JOIN e ON e.vec_id = a.vec_id),
         |p AS (SELECT y.vec_id AS vid,
         |        CAST(round(round(${cosOf("x.v", "y.v")}, 6) * 1000000) AS BIGINT)
         |          AS micro
         |      FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id),
         |mx AS (SELECT vid, max(micro) AS mx FROM p GROUP BY vid),
         |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM embeddings),
         |thr AS (SELECT CAST(unnest([300, 400, 500, 600, 700]) AS BIGINT)
         |          AS threshold_milli)
         |SELECT t.threshold_milli, nv.n_vectors,
         |  CAST((SELECT count(*) FROM p
         |        WHERE micro >= t.threshold_milli * 1000) AS BIGINT) AS n_pairs,
         |  CAST((SELECT count(*) FROM mx
         |        WHERE mx >= t.threshold_milli * 1000) AS BIGINT) AS n_dropped,
         |  nv.n_vectors - CAST((SELECT count(*) FROM mx
         |        WHERE mx >= t.threshold_milli * 1000) AS BIGINT) AS n_survivors
         |FROM thr t CROSS JOIN nv ORDER BY t.threshold_milli""".stripMargin,

    "lang_confusion" ->
      s"""WITH li AS ($langIdSql)
         |SELECT lang_declared, lang_guess, count(*) AS docs
         |FROM li GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "text_stats" ->
      s"""WITH $toksCte
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS text_chars,
         |  round(list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks), 6) AS avg_token_len,
         |  round(len(list_filter(toks, t -> t IN ($enStop))) * 1.0 / len(toks), 6) AS stopword_ratio,
         |  round(len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$$'))) * 1.0 / len(toks), 6) AS alpha_ratio,
         |  round(least(len(toks) / 100.0, 1.0)
         |        * (0.5 + 0.5 * (len(list_filter(toks, t -> t IN ($enStop))) * 1.0 / len(toks))), 6) AS quality
         |FROM tk ORDER BY doc_id""".stripMargin,

    "lang_id" -> s"$langIdSql ORDER BY doc_id",

    "ngram_topk" ->
      s"""WITH $toksCte,
         |g AS (SELECT lang, toks[i] || ' ' || toks[i+1] AS ngram
         |      FROM tk, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
         |      WHERE len(toks) >= 2),
         |c AS (SELECT lang, ngram, count(*) AS occurrences FROM g GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (
         |        PARTITION BY lang ORDER BY occurrences DESC, ngram) AS rank FROM c)
         |SELECT lang, ngram, occurrences, CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 10 ORDER BY lang, rank""".stripMargin,

    "pmi_topk" ->
      s"""WITH $toksCte,
         |u AS (SELECT t AS tok, CAST(count(*) AS BIGINT) AS cnt
         |      FROM tk, UNNEST(toks) AS z(t) GROUP BY 1),
         |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM u),
         |p AS (SELECT toks[i] AS tok_a, toks[i+1] AS tok_b,
         |             CAST(count(*) AS BIGINT) AS pair_cnt
         |      FROM tk, UNNEST(generate_series(1, len(toks) - 1)) AS w(i)
         |      WHERE len(toks) >= 2 GROUP BY 1, 2 HAVING count(*) >= 5),
         |sc AS (SELECT tok_a, tok_b, pair_cnt, ua.cnt AS cnt_a, ub.cnt AS cnt_b,
         |         CAST(pair_cnt * n_tokens * 1000000 // (ua.cnt * ub.cnt) AS BIGINT)
         |           AS pmi_micro
         |       FROM p JOIN u ua ON p.tok_a = ua.tok
         |              JOIN u ub ON p.tok_b = ub.tok, n),
         |r AS (SELECT *, row_number() OVER (
         |        ORDER BY pmi_micro DESC, tok_a, tok_b) AS rank FROM sc)
         |SELECT CAST(rank AS INTEGER) AS rank, tok_a, tok_b, pair_cnt,
         |       cnt_a, cnt_b, pmi_micro
         |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin,

    "bpe_pairs" ->
      """WITH wd AS (SELECT t AS word FROM documents,
        |             UNNEST(string_split(text, ' ')) AS z(t)
        |             WHERE len(t) >= 2),
        |v AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM wd GROUP BY 1),
        |p AS (SELECT substring(word, CAST(i AS INTEGER), 2) AS pair, freq
        |      FROM v, UNNEST(generate_series(1, len(word) - 1)) AS w(i)),
        |c AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
        |      FROM p GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (
        |        ORDER BY pair_count DESC, pair) AS rank FROM c)
        |SELECT CAST(rank AS INTEGER) AS rank, pair, pair_count
        |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin,

    // BPE-training mirror: 3 unrolled learn/apply rounds — pair census
    // over symbol lists (heterogeneous pairs only), top-1 by (count
    // DESC, l, r), stateless per-position splice, weighted symbol
    // census after each round.
    "bpe_train_merges" ->
      s"""WITH wd AS (SELECT t AS word FROM documents,
         |             UNNEST(string_split(text, ' ')) AS z(t)
         |             WHERE len(t) >= 2),
         |v AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM wd GROUP BY 1),
         |s0 AS (SELECT freq, list_transform(range(1, len(word) + 1),
         |         i -> substring(word, CAST(i AS INTEGER), 1)) AS syms
         |       FROM v),
         |${(1 to 3).map(bpeRoundCtes).mkString(",\n")}
         |SELECT CAST(1 AS INTEGER) AS step, m1.l AS left_sym,
         |       m1.r AS right_sym, m1.cnt AS pair_count,
         |       (SELECT after FROM a1) AS symbols_after FROM m1
         |UNION ALL
         |SELECT CAST(2 AS INTEGER), m2.l, m2.r, m2.cnt,
         |       (SELECT after FROM a2) FROM m2
         |UNION ALL
         |SELECT CAST(3 AS INTEGER), m3.l, m3.r, m3.cnt,
         |       (SELECT after FROM a3) FROM m3
         |ORDER BY step""".stripMargin,

    // Apply-face mirror: the trainer's three rounds over the STANDING
    // 4/5 of the corpus derive m1..m3, then the shared splice CTE
    // replays them in order over the held-out words.
    "bpe_apply" ->
      s"""WITH wd AS (SELECT t AS word FROM documents,
         |             UNNEST(string_split(text, ' ')) AS z(t)
         |             WHERE len(t) >= 2 AND doc_id % 5 <> 0),
         |v AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM wd GROUP BY 1),
         |s0 AS (SELECT freq, list_transform(range(1, len(word) + 1),
         |         i -> substring(word, CAST(i AS INTEGER), 1)) AS syms
         |       FROM v),
         |${(1 to 3).map(bpeRoundCtes).mkString(",\n")},
         |dw AS (SELECT t AS word FROM documents,
         |             UNNEST(string_split(text, ' ')) AS z(t)
         |             WHERE len(t) >= 2 AND doc_id % 5 = 0),
         |dv AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM dw GROUP BY 1),
         |d0 AS (SELECT word, freq, list_transform(range(1, len(word) + 1),
         |         i -> substring(word, CAST(i AS INTEGER), 1)) AS syms
         |       FROM dv),
         |${bpeSpliceCte("d1", "d0", "m1", "word, freq")},
         |${bpeSpliceCte("d2", "d1", "m2", "word, freq")},
         |${bpeSpliceCte("d3", "d2", "m3", "word, freq")}
         |SELECT word, freq, array_to_string(syms, ' ') AS segmented,
         |       CAST(len(syms) AS BIGINT) AS n_syms
         |FROM d3 ORDER BY word""".stripMargin,

    // Vocabulary-face mirror: the same three unrolled rounds, then a
    // weighted symbol census over the final symbol relation s3.
    "bpe_vocab" ->
      s"""WITH wd AS (SELECT t AS word FROM documents,
         |             UNNEST(string_split(text, ' ')) AS z(t)
         |             WHERE len(t) >= 2),
         |v AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM wd GROUP BY 1),
         |s0 AS (SELECT freq, list_transform(range(1, len(word) + 1),
         |         i -> substring(word, CAST(i AS INTEGER), 1)) AS syms
         |       FROM v),
         |${(1 to 3).map(bpeRoundCtes).mkString(",\n")},
         |c AS (SELECT u.s AS symbol, CAST(SUM(freq) AS BIGINT) AS weighted_count
         |      FROM s3, UNNEST(syms) AS u(s) GROUP BY 1),
         |r AS (SELECT *, row_number() OVER (
         |        ORDER BY weighted_count DESC, symbol) AS rank FROM c)
         |SELECT CAST(rank AS INTEGER) AS rank, symbol, weighted_count
         |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin,

    // Fertility mirror: full-corpus trainer rounds derive m1..m3, the
    // shared splice chain segments the distinct-word census (carrying
    // word), and per-language weights join back on the word key; both
    // ratios are exact integer division in micro-units.
    "bpe_fertility" ->
      s"""WITH wd AS (SELECT t AS word FROM documents,
         |             UNNEST(string_split(text, ' ')) AS z(t)
         |             WHERE len(t) >= 2),
         |v AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM wd GROUP BY 1),
         |s0 AS (SELECT freq, list_transform(range(1, len(word) + 1),
         |         i -> substring(word, CAST(i AS INTEGER), 1)) AS syms
         |       FROM v),
         |${(1 to 3).map(bpeRoundCtes).mkString(",\n")},
         |d0 AS (SELECT word, freq, list_transform(range(1, len(word) + 1),
         |         i -> substring(word, CAST(i AS INTEGER), 1)) AS syms
         |       FROM v),
         |${bpeSpliceCte("d1", "d0", "m1", "word, freq")},
         |${bpeSpliceCte("d2", "d1", "m2", "word, freq")},
         |${bpeSpliceCte("d3", "d2", "m3", "word, freq")},
         |lw AS (SELECT lang, t AS word, CAST(count(*) AS BIGINT) AS freql
         |       FROM documents, UNNEST(string_split(text, ' ')) AS z(t)
         |       WHERE len(t) >= 2 GROUP BY 1, 2),
         |g AS (SELECT lang,
         |        CAST(sum(freql) AS BIGINT) AS n_words,
         |        CAST(sum(freql * len(word)) AS BIGINT) AS n_chars,
         |        CAST(sum(freql * len(syms)) AS BIGINT) AS n_syms
         |      FROM lw JOIN d3 USING (word) GROUP BY 1)
         |SELECT lang, n_words, n_chars, n_syms,
         |       (n_syms * 1000000) // n_chars AS fertility_micro,
         |       (n_syms * 1000000) // n_words AS tpw_micro
         |FROM g ORDER BY lang""".stripMargin,

    "inverted_index" ->
      """WITH td AS (SELECT DISTINCT t AS token, doc_id FROM documents,
        |              UNNEST(string_split(text, ' ')) AS z(t)),
        |f AS (SELECT token, CAST(count(*) AS BIGINT) AS doc_freq
        |      FROM td GROUP BY 1),
        |rn AS (SELECT token, doc_id, row_number() OVER (
        |         PARTITION BY token ORDER BY doc_id) AS rn FROM td),
        |h AS (SELECT token,
        |        string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |          AS postings
        |      FROM rn WHERE rn <= 20 GROUP BY token)
        |SELECT token, doc_freq,
        |       CAST(least(doc_freq, 20) AS BIGINT) AS postings_len, postings
        |FROM f JOIN h USING (token) ORDER BY token""".stripMargin,

    "boilerplate_ngrams" ->
      """WITH bc AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |         THEN text || ' home login search contact about privacy terms help'
        |         ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM bc),
        |w AS (SELECT doc_id,
        |        substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
        |               || toks[i+3] || ' ' || toks[i+4]), 1, 12) AS w_hash
        |      FROM t, UNNEST(generate_series(1, len(toks) - 4)) AS u(i)
        |      WHERE len(toks) >= 5),
        |f AS (SELECT w_hash, count(DISTINCT doc_id) AS w_docs FROM w GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |       CAST(sum(CASE WHEN w_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS boiler_windows,
        |       round(sum(CASE WHEN w_docs >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS boiler_frac
        |FROM w JOIN f USING (w_hash) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "pii_redact" ->
      """WITH pc AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |         THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
        |              || '@example.com or 555-'
        |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         ELSE text END AS text
        |  FROM documents),
        |r AS (SELECT doc_id, text,
        |        regexp_replace(
        |          regexp_replace(text, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |          '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS red
        |      FROM pc)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.]+')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  md5(red) AS redacted_md5,
        |  red <> text AS redacted
        |FROM r ORDER BY doc_id""".stripMargin,

    "domain_mix" ->
      """WITH shares(source, share_pm) AS (
        |  VALUES ('src0', 200), ('src1', 200), ('src2', 100), ('src3', 500)),
        |scoped AS (SELECT d.doc_id, d.source, s.share_pm
        |           FROM documents d JOIN shares s USING (source)),
        |counts AS (SELECT source, share_pm, count(*) AS n_total
        |           FROM scoped GROUP BY 1, 2),
        |t AS (SELECT min(n_total * 1000 // share_pm) AS t_total FROM counts),
        |q AS (SELECT source,
        |        CAST((SELECT t_total FROM t) * share_pm // 1000 AS BIGINT) AS quota
        |      FROM counts),
        |r AS (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 12),
        |                   doc_id) AS pick_rank
        |      FROM scoped)
        |SELECT r.doc_id, r.source, CAST(r.pick_rank AS INTEGER) AS pick_rank, q.quota
        |FROM r JOIN q USING (source) WHERE r.pick_rank <= q.quota
        |ORDER BY source, pick_rank""".stripMargin,

    // Temperature-mix mirror: identical floor(sqrt(double)) weights
    // (IEEE sqrt is correctly rounded in both engines), identical integer
    // quota divisions and seeded-md5 pick ranks.
    "domain_temperature_mix" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_total
        |           FROM documents GROUP BY 1),
        |w AS (SELECT source, n_total,
        |        CAST(floor(sqrt(CAST(n_total AS DOUBLE))) AS BIGINT) AS wgt
        |      FROM c),
        |t AS (SELECT CAST(sum(wgt) AS BIGINT) AS w_sum FROM w),
        |q AS (SELECT source,
        |        LEAST(100 * wgt // (SELECT w_sum FROM t), n_total) AS quota
        |      FROM w),
        |r AS (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY substr(md5('tmix:' || CAST(doc_id AS VARCHAR)), 1, 12),
        |                   doc_id) AS pick_rank
        |      FROM documents)
        |SELECT r.doc_id, r.source, CAST(r.pick_rank AS INTEGER) AS pick_rank,
        |       CAST(q.quota AS BIGINT) AS quota
        |FROM r JOIN q USING (source) WHERE r.pick_rank <= q.quota
        |ORDER BY source, pick_rank""".stripMargin,

    // MAD mirror: identical rank-selected lower-medians and integer
    // deviation comparisons.
    "mad_outliers" ->
      """WITH base AS (SELECT lang AS g, CAST(doc_id AS BIGINT) AS id,
        |                CAST(n_chars AS BIGINT) AS v FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY g ORDER BY v, id)
        |          AS rn,
        |        count(*) OVER (PARTITION BY g) AS cnt FROM base),
        |med AS (SELECT g, v AS med FROM r WHERE rn = (cnt + 1) // 2),
        |d AS (SELECT base.g, base.id, base.v, med.med,
        |        abs(base.v - med.med) AS dev
        |      FROM base JOIN med USING (g)),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY g ORDER BY dev, id)
        |           AS rn2,
        |         count(*) OVER (PARTITION BY g) AS cnt2 FROM d),
        |mad AS (SELECT g, dev AS mad FROM r2 WHERE rn2 = (cnt2 + 1) // 2)
        |SELECT d.g AS lang, d.id AS doc_id, d.v AS n_chars, d.med,
        |       mad.mad, d.dev
        |FROM d JOIN mad USING (g) WHERE d.dev > 2 * mad.mad
        |ORDER BY lang, doc_id""".stripMargin,

    "ann_recall" ->
      s"""WITH ${bitsCte(1000)},
         |$embCte,
         |eb AS (SELECT vec_id, embedding,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |  $bucketSql AS bucket FROM embeddings),
         |ts AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id, round($cosSql, 6) AS score
         |       FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
         |tr AS (SELECT *, row_number() OVER (
         |         PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank FROM ts),
         |truth AS (SELECT query_id, cand_id FROM tr WHERE rank <= 3),
         |asx AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id, round($cosSql, 6) AS score
         |        FROM eb q JOIN eb c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
         |        WHERE q.vec_id < 50),
         |ar AS (SELECT *, row_number() OVER (
         |         PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank FROM asx),
         |approx AS (SELECT query_id, cand_id FROM ar WHERE rank <= 3)
         |SELECT t.query_id, CAST(count(*) AS BIGINT) AS k_truth,
         |       CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |       round(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS recall
         |FROM truth t LEFT JOIN approx a
         |  ON t.query_id = a.query_id AND t.cand_id = a.cand_id
         |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin,

    // PCA→ANN composition mirror: the jl_distortion Rademacher parity
    // matrix projects to 16 float dims (exact long micro sums, one
    // /1e6 double divide, one REAL round — Pca.jlProjectCol's cell),
    // the LSH lane BUCKETS on the reduction (bits clamped by the
    // 16-dim width) but SCORES co-bucket candidates with the full-dim
    // cosine; truth stays full-dim brute force.
    "pca_ann_recall" ->
      s"""WITH ${bitsCte(1000)},
         |$embCte,
         |pr AS (SELECT vec_id,
         |  list_transform(range(0, 16), k ->
         |    CAST(CAST(list_sum(list_transform(range(0, 64), i ->
         |      (CASE WHEN bit_count((i * 64 + k) * 2654435761 % 4294967296) % 2 = 0
         |            THEN 1 ELSE -1 END)
         |      * CAST(round(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE)
         |          * 1000000) AS BIGINT))) / 1000000.0 AS REAL) AS DOUBLE)) AS rv
         |  FROM embeddings),
         |eb AS (SELECT vec_id,
         |  CAST(COALESCE(list_sum(list_transform(range(0, LEAST((SELECT b FROM nb), 16)),
         |    i -> CASE WHEN rv[CAST(i + 1 AS INTEGER)] > 0
         |              THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER)) ELSE 0 END)), 0)
         |    AS BIGINT) AS bucket FROM pr),
         |ts AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id, round($cosSql, 6) AS score
         |       FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
         |tr AS (SELECT *, row_number() OVER (
         |         PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank FROM ts),
         |truth AS (SELECT query_id, cand_id FROM tr WHERE rank <= 3),
         |asx AS (SELECT s.query_id, s.cand_id, s.score FROM ts s
         |        JOIN eb q ON q.vec_id = s.query_id
         |        JOIN eb c ON c.vec_id = s.cand_id
         |        WHERE q.bucket = c.bucket),
         |ar AS (SELECT *, row_number() OVER (
         |         PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank FROM asx),
         |approx AS (SELECT query_id, cand_id FROM ar WHERE rank <= 3)
         |SELECT t.query_id, CAST(count(*) AS BIGINT) AS k_truth,
         |       CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |       round(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS recall
         |FROM truth t LEFT JOIN approx a
         |  ON t.query_id = a.query_id AND t.cand_id = a.cand_id
         |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin,

    "doc_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS text_md5,
         |  list_min(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
         |    i -> ${h48("substring(text, CAST(i AS INTEGER), 8)")})) AS winnow_fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "token_counts" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
        |  CAST((length(text) + 3) // 4 AS BIGINT) AS est_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "vocab_topk" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS token
        |  FROM documents)
        |SELECT token, count(*) AS occurrences,
        |       count(DISTINCT doc_id) AS doc_freq
        |FROM t GROUP BY token
        |ORDER BY occurrences DESC, token LIMIT 100""".stripMargin,

    "dataset_split" ->
      s"""WITH b AS (SELECT doc_id,
         |  ${h48("CAST(doc_id AS VARCHAR)")} % 1000 AS bucket FROM documents)
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < 50 THEN 'test'
         |       WHEN bucket < 100 THEN 'val'
         |       ELSE 'train' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,

    "pack_shards" ->
      """WITH c AS (SELECT doc_id, lang,
        |  CAST((length(text) + 3) // 4 AS BIGINT) AS est_tokens,
        |  SUM(CAST((length(text) + 3) // 4 AS BIGINT))
        |    OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents)
        |SELECT doc_id, lang, est_tokens,
        |  CAST((cum - 1) // 2000 AS BIGINT) AS shard_id
        |FROM c ORDER BY doc_id""".stripMargin,

    // Compaction mirror: identical ROWS-window prefix sum and floor
    // division (all operands non-negative, `//` == Spark DIV).
    "compaction_plan" ->
      """WITH f AS (SELECT source, doc_id AS frag_id,
        |             CAST(n_chars AS BIGINT) AS bytes FROM documents),
        |c AS (SELECT source, frag_id, bytes,
        |        CAST(SUM(bytes) OVER (PARTITION BY source ORDER BY frag_id
        |               ROWS UNBOUNDED PRECEDING) - bytes AS BIGINT)
        |          AS cum_before
        |      FROM f),
        |b AS (SELECT source, frag_id, bytes,
        |        CAST(cum_before // 2048 AS BIGINT) AS bin FROM c)
        |SELECT source, bin, CAST(count(*) AS BIGINT) AS n_frags,
        |       CAST(sum(bytes) AS BIGINT) AS bin_bytes,
        |       CAST(min(frag_id) AS BIGINT) AS first_frag,
        |       CAST(max(frag_id) AS BIGINT) AS last_frag,
        |       (count(*) = 1 AND sum(bytes) > 2048) AS oversized
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // JSONL roundtrip mirror: aggregates the parquet directly — equality
    // proves the Spark-side JSONL encode/decode was lossless.
    "jsonl_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_textlen
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "quality_filter" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(list_max(list_transform(list_distinct(toks),
        |    t -> len(list_filter(toks, x -> x = t)))) AS BIGINT) AS top_cnt,
        |  list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS grams
        |  FROM tk),
        |q AS (SELECT doc_id, n_tokens,
        |  round(top_cnt * 1.0 / n_tokens, 6) AS top_token_share,
        |  CASE WHEN len(grams) > 0
        |    THEN round((len(grams) - len(list_distinct(grams))) * 1.0 / len(grams), 6)
        |    ELSE 0.0 END AS dup_bigram_frac
        |  FROM s)
        |SELECT doc_id, n_tokens, top_token_share, dup_bigram_frac,
        |  (n_tokens >= 20 AND top_token_share <= 0.12
        |   AND dup_bigram_frac <= 0.05) AS keep
        |FROM q ORDER BY doc_id""".stripMargin,

    "stratified_sample" ->
      s"""WITH b AS (SELECT doc_id, lang,
         |  ${h48("'sample:' || CAST(doc_id AS VARCHAR)")} % 1000 AS bucket
         |  FROM documents)
         |SELECT doc_id, lang, bucket FROM b
         |WHERE bucket < CASE WHEN lang = 'en' THEN 300
         |                    WHEN lang = 'zh' THEN 500 ELSE 100 END
         |ORDER BY doc_id""".stripMargin,

    "tfidf_topk" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |  CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS raw,
        |  row_number() OVER (PARTITION BY tf.doc_id
        |    ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / df.df DESC, tf.token)
        |    AS rank
        |  FROM tf JOIN df USING (token) CROSS JOIN n)
        |SELECT doc_id, token, tf, df, round(raw, 6) AS score, rank
        |FROM s WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "length_quantiles" ->
      """WITH t AS (SELECT lang, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |r AS (SELECT lang, n,
        |  row_number() OVER (PARTITION BY lang ORDER BY n, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS grp_cnt
        |  FROM t)
        |SELECT lang, count(*) AS cnt, min(n) AS min_v, max(n) AS max_v,
        |  max(CASE WHEN rn = (grp_cnt + 1) // 2 THEN n END) AS p50,
        |  max(CASE WHEN rn = (9 * grp_cnt + 9) // 10 THEN n END) AS p90
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    "top_docs_per_lang" ->
      s"""WITH $toksCte,
         |q AS (SELECT doc_id, lang,
         |  round(least(len(toks) / 100.0, 1.0)
         |    * (0.5 + 0.5 * (len(list_filter(toks, t -> t IN ($enStop))) * 1.0 / len(toks))), 6) AS quality
         |  FROM tk),
         |r AS (SELECT lang, doc_id, quality,
         |  row_number() OVER (PARTITION BY lang
         |    ORDER BY quality DESC, doc_id) AS rank
         |  FROM q)
         |SELECT lang, doc_id, quality, rank
         |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,

    "contamination" ->
      s"""WITH $toksCte,
         |$shinglesCte,
         |cp AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n_c, unnest(s) AS sh_h
         |       FROM sh WHERE doc_id % 20 <> 0),
         |bp AS (SELECT doc_id AS bench_id, CAST(len(s) AS BIGINT) AS n_b, unnest(s) AS sh_h
         |       FROM sh WHERE doc_id % 20 = 0),
         |cm AS (
         |  SELECT cp.doc_id, bp.bench_id, cp.n_c, bp.n_b, count(*) AS common
         |  FROM cp JOIN bp ON cp.sh_h = bp.sh_h
         |  GROUP BY 1, 2, 3, 4)
         |SELECT doc_id, bench_id,
         |       round(common * 1.0 / (n_c + n_b - common), 6) AS jaccard
         |FROM cm WHERE common * 1.0 / (n_c + n_b - common) >= 0.5
         |ORDER BY doc_id, bench_id""".stripMargin,

    // Winnowing containment mirror over the planted-leak corpus.
    "contamination_winnow" ->
      s"""WITH corpus AS (
         |  SELECT c.doc_id,
         |    CASE WHEN b.text IS NOT NULL THEN c.text || ' ' || b.text
         |         ELSE c.text END AS text
         |  FROM documents c
         |  LEFT JOIN documents b
         |    ON b.doc_id = c.doc_id - 1 AND b.doc_id % 20 = 0
         |  WHERE c.doc_id % 20 <> 0),
         |ch AS (SELECT doc_id,
         |    list_transform(range(1, greatest(length(text) - 7, 1) + 1),
         |      i -> ${h48("substring(text, CAST(i AS INTEGER), 8)")}) AS hl
         |  FROM corpus),
         |cw AS (SELECT doc_id,
         |    list_distinct(list_transform(
         |      range(1, greatest(len(hl) - 8 + 1, 1) + 1),
         |      j -> list_min(hl[CAST(j AS INTEGER):CAST(j + 7 AS INTEGER)]))) AS fps
         |  FROM ch),
         |bh AS (SELECT doc_id AS bench_id,
         |    list_transform(range(1, greatest(length(text) - 7, 1) + 1),
         |      i -> ${h48("substring(text, CAST(i AS INTEGER), 8)")}) AS hl
         |  FROM documents WHERE doc_id % 20 = 0),
         |bw AS (SELECT bench_id,
         |    list_distinct(list_transform(
         |      range(1, greatest(len(hl) - 8 + 1, 1) + 1),
         |      j -> list_min(hl[CAST(j AS INTEGER):CAST(j + 7 AS INTEGER)]))) AS fps
         |  FROM bh),
         |cp AS (SELECT doc_id, unnest(fps) AS fp FROM cw),
         |bp AS (SELECT bench_id, CAST(len(fps) AS BIGINT) AS n_b,
         |       unnest(fps) AS fp FROM bw),
         |cm AS (SELECT doc_id, bench_id, n_b, CAST(count(*) AS BIGINT) AS shared
         |       FROM cp JOIN bp USING (fp) GROUP BY 1, 2, 3)
         |SELECT doc_id, bench_id, shared, n_b,
         |       shared * 1000 // n_b AS bench_permille
         |FROM cm WHERE shared * 1000 // n_b >= 500
         |ORDER BY doc_id, bench_id""".stripMargin,

    "dedup_exact" ->
      s"""WITH $dupCorpusCte
         |SELECT md5(text) AS text_md5, min(doc_id) AS canonical_doc_id,
         |       count(*) AS dup_count
         |FROM corpus GROUP BY 1 HAVING count(*) > 1 ORDER BY text_md5""".stripMargin,

    "dedup_minhash" ->
      s"""WITH $toksCte,
         |$shinglesCte,
         |hbase AS (SELECT doc_id, s, list_transform(s, x -> ${h48("x")}) AS hb FROM sh),
         |sig AS (SELECT doc_id, s, ${sigExprs.mkString(",\n  ")} FROM hbase),
         |bands AS (${bandSelects.mkString("\n  UNION ALL\n  ")}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |j AS (
         |  SELECT doc_a, doc_b,
         |    len(list_intersect(sa.s, sb.s)) * 1.0 / len(list_distinct(list_concat(sa.s, sb.s))) AS jac
         |  FROM cand
         |  JOIN sh sa ON sa.doc_id = doc_a
         |  JOIN sh sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM j
         |WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,

    "pack_sequences" ->
      """WITH d AS (SELECT doc_id, lang,
        |  CAST((length(text) + 3) // 4 AS BIGINT) AS est FROM documents),
        |c AS (SELECT *, CAST(coalesce(SUM(est) OVER (PARTITION BY lang
        |        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) AS cum_before FROM d),
        |e AS (SELECT lang, doc_id, est, cum_before, s.seq_id
        |      FROM c, UNNEST(generate_series(cum_before // 512,
        |        (cum_before + est - 1) // 512)) AS s(seq_id))
        |SELECT lang, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
        |  CAST(greatest(0, seq_id * 512 - cum_before) AS BIGINT) AS tok_start,
        |  CAST(least(est, (seq_id + 1) * 512 - cum_before) AS BIGINT) AS tok_end,
        |  CAST(least(est, (seq_id + 1) * 512 - cum_before)
        |       - greatest(0, seq_id * 512 - cum_before) AS BIGINT) AS n_toks
        |FROM e ORDER BY lang, seq_id, doc_id""".stripMargin,

    "vocab_coverage" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS token
        |  FROM documents),
        |v AS (SELECT token FROM t GROUP BY token
        |      ORDER BY count(*) DESC, token LIMIT 100)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_bpe,
        |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov,
        |  round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS oov_rate
        |FROM t LEFT JOIN v ON t.token = v.token
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "length_deciles" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(ntile(10) OVER (ORDER BY len(string_split(text, ' ')), doc_id)
        |       AS INTEGER) AS decile
        |FROM documents ORDER BY doc_id""".stripMargin,

    "minhash_band_sweep" -> bandSweepOracle,

    "minhash_accuracy" ->
      s"""WITH $toksCte,
         |$shinglesCte,
         |hbase AS (SELECT doc_id, s, list_transform(s, x -> ${h48("x")}) AS hb FROM sh),
         |sig AS (SELECT doc_id, s, ${sigExprs.mkString(",\n  ")} FROM hbase),
         |bands AS (${bandSelects.mkString("\n  UNION ALL\n  ")}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |j AS (
         |  SELECT doc_a, doc_b,
         |    round((${(0 until 16).map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")}) * 1.0 / 16, 6) AS est_jaccard,
         |    round(len(list_intersect(sa.s, sb.s)) * 1.0 / len(list_distinct(list_concat(sa.s, sb.s))), 6) AS jaccard
         |  FROM cand
         |  JOIN sig sa ON sa.doc_id = doc_a
         |  JOIN sig sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, est_jaccard, jaccard,
         |       round(abs(est_jaccard - jaccard), 6) AS abs_err
         |FROM j ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_incremental" ->
      s"""WITH $toksCte,
         |$shinglesCte,
         |hbase AS (SELECT doc_id, s, list_transform(s, x -> ${h48("x")}) AS hb FROM sh),
         |sig AS (SELECT doc_id, s, ${sigExprs.mkString(",\n  ")} FROM hbase),
         |bands AS (${bandSelects.mkString("\n  UNION ALL\n  ")}),
         |nb AS (SELECT * FROM bands WHERE doc_id % 10 = 0),
         |ib AS (SELECT * FROM bands WHERE doc_id % 10 <> 0),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id
         |  FROM nb a JOIN ib b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key),
         |j AS (
         |  SELECT new_id, index_id,
         |    len(list_intersect(sa.s, sb.s)) * 1.0 / len(list_distinct(list_concat(sa.s, sb.s))) AS jac
         |  FROM cand
         |  JOIN sh sa ON sa.doc_id = new_id
         |  JOIN sh sb ON sb.doc_id = index_id)
         |SELECT new_id, index_id, round(jac, 6) AS jaccard FROM j
         |WHERE jac >= 0.5 ORDER BY new_id, index_id""".stripMargin,

    "shard_payloads" ->
      """WITH c AS (SELECT doc_id, lang, text,
        |  CAST((length(text) + 3) // 4 AS BIGINT) AS est_tokens,
        |  SUM(CAST((length(text) + 3) // 4 AS BIGINT))
        |    OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents),
        |p AS (SELECT doc_id, lang, text, est_tokens,
        |  CAST((cum - 1) // 2000 AS BIGINT) AS shard_id FROM c)
        |SELECT lang, shard_id, count(*) AS n_docs,
        |  CAST(SUM(est_tokens) AS BIGINT) AS shard_tokens,
        |  md5(string_agg(text, chr(10) ORDER BY doc_id)) AS payload_md5
        |FROM p GROUP BY 1, 2 ORDER BY lang, shard_id""".stripMargin,

    "shard_stability" ->
      """WITH aug AS (
        |  SELECT doc_id, lang, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), lang, text
        |  FROM documents WHERE doc_id % 9 = 0),
        |c1 AS (SELECT doc_id, lang, text,
        |  CAST((length(text) + 3) // 4 AS BIGINT) AS est,
        |  SUM(CAST((length(text) + 3) // 4 AS BIGINT))
        |    OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents),
        |v1 AS (SELECT lang, CAST((cum - 1) // 2000 AS BIGINT) AS shard_id,
        |  count(*) AS n_docs, md5(string_agg(text, chr(10) ORDER BY doc_id)) AS pm
        |  FROM c1 GROUP BY 1, 2),
        |c2 AS (SELECT doc_id, lang, text,
        |  CAST((length(text) + 3) // 4 AS BIGINT) AS est,
        |  SUM(CAST((length(text) + 3) // 4 AS BIGINT))
        |    OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM aug),
        |v2 AS (SELECT lang, CAST((cum - 1) // 2000 AS BIGINT) AS shard_id,
        |  count(*) AS n_docs, md5(string_agg(text, chr(10) ORDER BY doc_id)) AS pm
        |  FROM c2 GROUP BY 1, 2)
        |SELECT coalesce(v1.lang, v2.lang) AS lang,
        |  coalesce(v1.shard_id, v2.shard_id) AS shard_id,
        |  CASE WHEN v1.pm IS NULL THEN 'new'
        |       WHEN v2.pm IS NULL THEN 'removed'
        |       WHEN v1.pm = v2.pm THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  CAST(coalesce(v1.n_docs, 0) AS BIGINT) AS n_docs_v1,
        |  CAST(coalesce(v2.n_docs, 0) AS BIGINT) AS n_docs_v2
        |FROM v1 FULL OUTER JOIN v2
        |  ON v1.lang = v2.lang AND v1.shard_id = v2.shard_id
        |ORDER BY lang, shard_id""".stripMargin,

    "quality_dynamic_filter" ->
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, lang, n_tokens,
        |  row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM t),
        |thr AS (SELECT lang,
        |  max(CASE WHEN rn = (cnt + 9) // 10 THEN n_tokens END) AS p10
        |  FROM r GROUP BY lang)
        |SELECT t.doc_id, t.lang, t.n_tokens, CAST(thr.p10 AS BIGINT) AS p10
        |FROM t JOIN thr USING (lang)
        |WHERE t.n_tokens >= thr.p10
        |ORDER BY t.doc_id""".stripMargin,

    "source_stats" ->
      s"""WITH tks AS (SELECT doc_id, source,
         |  string_split(text, ' ') AS toks FROM documents),
         |q AS (SELECT doc_id, source,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  round(least(len(toks) / 100.0, 1.0)
         |    * (0.5 + 0.5 * (len(list_filter(toks, t -> t IN ($enStop))) * 1.0 / len(toks))), 6) AS quality
         |  FROM tks)
         |SELECT source, count(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  round(CAST(SUM(CAST(round(quality * 1000000) AS BIGINT)) AS DOUBLE)
         |        / 1000000.0 / count(*), 6) AS avg_quality
         |FROM q GROUP BY source ORDER BY source""".stripMargin,

    "dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id,
         |  list_transform(string_split(text, ' '), x -> ${h48("x")}) AS hs FROM documents)
         |SELECT doc_id, CAST($simhashSql AS BIGINT) AS simhash
         |FROM t ORDER BY doc_id""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""WITH t AS (SELECT doc_id,
         |  list_transform(string_split(text, ' '), x -> ${h48("x")}) AS hs FROM documents),
         |s AS (SELECT doc_id, CAST($simhashSql AS BIGINT) AS simhash FROM t)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_simhash48_pairs" ->
      s"""WITH t AS (SELECT doc_id,
         |  list_transform(string_split(text, ' '), x -> ${h48("x")}) AS hs FROM documents),
         |s AS (SELECT doc_id, CAST(${simhashSqlBits(48)} AS BIGINT) AS simhash FROM t)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_clusters" ->
      s"""$clusterLabelCtes
         |SELECT doc_id, canonical_id FROM lab ORDER BY doc_id""".stripMargin,

    // Representative-selection mirror: the shared cluster-label chain,
    // token counts, and a (n_tokens DESC, doc_id) window pick — the
    // same total order as the Spark side's max(struct(n_tokens, -id)).
    "dedup_keep_best" ->
      s"""$clusterLabelCtes,
         |tok AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |m AS (SELECT l.canonical_id, t.doc_id, t.n_tokens
         |      FROM lab l JOIN tok t USING (doc_id)),
         |pick AS (SELECT canonical_id, doc_id, n_tokens,
         |    row_number() OVER (PARTITION BY canonical_id
         |      ORDER BY n_tokens DESC, doc_id) AS rn FROM m),
         |agg AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS n_members,
         |    CAST(sum(n_tokens) AS BIGINT) AS total FROM m GROUP BY 1)
         |SELECT a.canonical_id, a.n_members, p.doc_id AS keep_id,
         |  p.n_tokens AS keep_tokens, a.total - p.n_tokens AS dropped_tokens
         |FROM agg a JOIN pick p
         |  ON p.canonical_id = a.canonical_id AND p.rn = 1
         |ORDER BY a.canonical_id""".stripMargin,

    "doc_chunks" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    (greatest(1, length(text) - 50) + 149) // 150 AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_id,
        |    substr(text, CAST(u.i * 150 + 1 AS INTEGER), 200) AS ct
        |  FROM base, unnest(range(0, CAST(n AS BIGINT))) AS u(i))
        |SELECT doc_id, chunk_id, chunk_id * 150 AS chunk_start,
        |  CAST(length(ct) AS BIGINT) AS chunk_len, md5(ct) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // Rewrite mirror: identical span split, first-owner rule, and
    // in-order reassembly (string_agg ORDER BY == array_sort join).
    "chunk_dedup_rewrite" ->
      """WITH base AS (SELECT doc_id, text,
        |    greatest(1, (length(text) + 99) // 100) AS n FROM documents),
        |c AS (SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_id,
        |        substr(text, CAST(u.i * 100 + 1 AS INT), 100) AS ct
        |      FROM base, unnest(range(0, CAST(n AS BIGINT))) AS u(i)),
        |own AS (SELECT ct, min(doc_id) AS keep_doc FROM c GROUP BY 1),
        |k AS (SELECT c.doc_id, c.chunk_id, c.ct
        |      FROM c JOIN own USING (ct) WHERE c.doc_id = own.keep_doc),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_chunks,
        |          string_agg(ct, '' ORDER BY chunk_id) AS newtext
        |        FROM k GROUP BY 1)
        |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_chunks,
        |       COALESCE(a.kept_chunks, 0) AS kept_chunks,
        |       CAST(length(COALESCE(a.newtext, '')) AS BIGINT) AS new_len,
        |       md5(COALESCE(a.newtext, '')) AS new_md5
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "text_normalize" ->
      """WITH n AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N} ]', ' ', 'g'), ' +', ' ', 'g')) AS nt
        |  FROM documents)
        |SELECT doc_id, md5(nt) AS norm_md5,
        |  CAST(length(nt) AS BIGINT) AS norm_len, (nt <> text) AS changed
        |FROM n ORDER BY doc_id""".stripMargin,

    "cross_source_dedup" ->
      """WITH aug AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, 'recrawl', '  ' || text || ' '
        |  FROM documents WHERE doc_id % 5 = 0),
        |n AS (
        |  SELECT doc_id, source,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N} ]', ' ', 'g'), ' +', ' ', 'g'))) AS ck,
        |    CASE WHEN source = 'recrawl' THEN 9 ELSE 0 END AS prio
        |  FROM aug),
        |r AS (
        |  SELECT doc_id, source, ck,
        |    row_number() OVER (PARTITION BY ck ORDER BY prio, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY ck) AS n_copies
        |  FROM n)
        |SELECT ck AS content_key, doc_id, source,
        |  CAST(n_copies AS BIGINT) AS n_copies
        |FROM r WHERE rn = 1 ORDER BY content_key""".stripMargin,

    "pipeline_curate" ->
      s"""WITH RECURSIVE $toksCte,
         |$shinglesCte,
         |hbase AS (SELECT doc_id, s, list_transform(s, x -> ${h48("x")}) AS hb FROM sh),
         |sig AS (SELECT doc_id, s, ${sigExprs.mkString(",\n  ")} FROM hbase),
         |bands AS (${bandSelects.mkString("\n  UNION ALL\n  ")}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |jj AS (
         |  SELECT doc_a, doc_b,
         |    len(list_intersect(sa.s, sb.s)) * 1.0 / len(list_distinct(list_concat(sa.s, sb.s))) AS jac
         |  FROM cand
         |  JOIN sh sa ON sa.doc_id = doc_a
         |  JOIN sh sb ON sb.doc_id = doc_b),
         |mh AS (SELECT doc_a, doc_b FROM jj WHERE jac >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mh
         |          UNION SELECT doc_b, doc_a FROM mh),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(a, b) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |dropd AS (SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) <> a),
         |qs AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(list_max(list_transform(list_distinct(toks),
         |    t -> len(list_filter(toks, x -> x = t)))) AS BIGINT) AS top_cnt,
         |  list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS grams
         |  FROM tk),
         |qk AS (SELECT doc_id FROM (
         |  SELECT doc_id, n_tokens,
         |    round(top_cnt * 1.0 / n_tokens, 6) AS tts,
         |    CASE WHEN len(grams) > 0
         |      THEN round((len(grams) - len(list_distinct(grams))) * 1.0 / len(grams), 6)
         |      ELSE 0.0 END AS dbf
         |  FROM qs)
         |  WHERE n_tokens >= 20 AND tts <= 0.12 AND dbf <= 0.05),
         |kept AS (SELECT t.doc_id, t.lang, t.text FROM tk t
         |  JOIN qk USING (doc_id)
         |  WHERE t.doc_id NOT IN (SELECT doc_id FROM dropd)),
         |sa2 AS (SELECT doc_id, lang, text,
         |  CASE WHEN ${h48("CAST(doc_id AS VARCHAR)")} % 1000 < 50 THEN 'test'
         |       WHEN ${h48("CAST(doc_id AS VARCHAR)")} % 1000 < 100 THEN 'val'
         |       ELSE 'train' END AS split
         |  FROM kept),
         |cum AS (SELECT split, lang,
         |  CAST((length(text) + 3) // 4 AS BIGINT) AS est,
         |  SUM(CAST((length(text) + 3) // 4 AS BIGINT))
         |    OVER (PARTITION BY split, lang ORDER BY doc_id
         |          ROWS UNBOUNDED PRECEDING) AS c
         |  FROM sa2),
         |p AS (SELECT split, lang, est,
         |  CAST((c - 1) // 2000 AS BIGINT) AS shard_id FROM cum)
         |SELECT split, lang, shard_id, count(*) AS n_docs,
         |  CAST(SUM(est) AS BIGINT) AS shard_tokens
         |FROM p GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "pipeline_composed" ->
      s"""WITH $toksCte,
         |$shinglesCte,
         |hbase AS (SELECT doc_id, s, list_transform(s, x -> ${h48("x")}) AS hb FROM sh),
         |sig AS (SELECT doc_id, s, ${sigExprs.mkString(",\n  ")} FROM hbase),
         |bands AS (${bandSelects.mkString("\n  UNION ALL\n  ")}),
         |mcand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |mj AS (
         |  SELECT doc_a, doc_b,
         |    len(list_intersect(sa.s, sb.s)) * 1.0 / len(list_distinct(list_concat(sa.s, sb.s))) AS jac
         |  FROM mcand
         |  JOIN sh sa ON sa.doc_id = doc_a
         |  JOIN sh sb ON sb.doc_id = doc_b),
         |mh AS (SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM mj WHERE jac >= 0.5),
         |post AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS sh_n,
         |         unnest(s) AS sh_h FROM sh),
         |cmn AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh_n AS n_a, b.sh_n AS n_b,
         |         count(*) AS common
         |  FROM post a JOIN post b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |jc AS (
         |  SELECT doc_a, doc_b,
         |       round(common * 1.0 / (n_a + n_b - common), 6) AS jaccard
         |  FROM cmn WHERE common * 1.0 / (n_a + n_b - common) >= 0.5)
         |SELECT COALESCE(m.doc_a, x.doc_a) AS doc_a,
         |       COALESCE(m.doc_b, x.doc_b) AS doc_b,
         |       COALESCE(x.jaccard, m.jaccard) AS jaccard,
         |       (m.doc_a IS NOT NULL) AS in_minhash,
         |       (x.doc_a IS NOT NULL) AS in_exact
         |FROM mh m FULL OUTER JOIN jc x
         |  ON m.doc_a = x.doc_a AND m.doc_b = x.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_jaccard" ->
      s"""WITH $toksCte,
         |$shinglesCte,
         |post AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS sh_n,
         |         unnest(s) AS sh_h FROM sh),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh_n AS n_a, b.sh_n AS n_b,
         |         count(*) AS common
         |  FROM post a JOIN post b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT doc_a, doc_b,
         |       round(common * 1.0 / (n_a + n_b - common), 6) AS jaccard
         |FROM common WHERE common * 1.0 / (n_a + n_b - common) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "knn_cosine" ->
      s"""WITH $embCte,
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, round($cosSql, 6) AS score
         |  FROM e q, e c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank FROM s)
         |SELECT query_id, cand_id, score, CAST(rank AS INTEGER) AS rank FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Hard-negative mirror: identical scoring, label filter BEFORE rank.
    "ann_hard_negatives" ->
      s"""WITH $embCte,
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, round($cosSql, 6) AS score
         |  FROM e q, e c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |f AS (SELECT s.query_id, ql.label AS q_label, s.cand_id,
         |        cl.label AS c_label, s.score
         |      FROM s JOIN lab ql ON s.query_id = ql.vec_id
         |             JOIN lab cl ON s.cand_id = cl.vec_id
         |      WHERE ql.label <> cl.label),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, cand_id) AS rank FROM f)
         |SELECT query_id, q_label, cand_id, c_label, score,
         |       CAST(rank AS INTEGER) AS rank FROM r
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // Dense-id mirror: the GLOBAL row_number the two-phase form must
    // reproduce bit for bit.
    "dense_ids" ->
      """SELECT doc_id,
        |       row_number() OVER (ORDER BY doc_id) - 1 AS dense_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Percentile-norm mirror: identical integer rank arithmetic.
    "quality_percentile_norm" ->
      """WITH r AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
        |      AS rn,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM documents)
        |SELECT doc_id, lang, n_chars,
        |       CAST(CASE WHEN cnt = 1 THEN 0
        |            ELSE (rn - 1) * 1000 // (cnt - 1) END AS BIGINT)
        |         AS pr_permille
        |FROM r WHERE (CASE WHEN cnt = 1 THEN 0
        |              ELSE (rn - 1) * 1000 // (cnt - 1) END) >= 900
        |ORDER BY lang, doc_id""".stripMargin,

    "ann_lsh" -> annLshOracle,

    "ann_ivf" -> annIvfOracle,

    "kmeans_train_curve" -> kmeansCurveOracle(3),

    "mmr_select" -> mmrOracle(5),

    // RRF mirror: both full index pipelines as subqueries, identical
    // per-term integer flooring.
    "ann_rank_fusion" ->
      s"""WITH runs AS (
         |  SELECT query_id, cand_id, rank FROM ($annLshOracle)
         |  UNION ALL
         |  SELECT query_id, cand_id, rank FROM ($annIvfOracle)),
         |fused AS (
         |  SELECT query_id, cand_id,
         |    CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro,
         |    CAST(count(*) AS BIGINT) AS n_runs
         |  FROM runs GROUP BY 1, 2),
         |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY rrf_micro DESC, cand_id) AS fused_rank
         |       FROM fused)
         |SELECT query_id, cand_id, rrf_micro, n_runs,
         |       CAST(fused_rank AS INTEGER) AS fused_rank
         |FROM rr WHERE fused_rank <= 3
         |ORDER BY query_id, fused_rank""".stripMargin,

    "ann_ivf_kmeans" ->
      s"""WITH $embCte,
         |cent AS (SELECT vec_id AS cid, v AS cv FROM e
         |         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |sim0 AS (
         |  SELECT e.vec_id, cent.cid, ${cosOf("e.v", "cent.cv")} AS s
         |  FROM e, cent),
         |a0 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |    FROM sim0) WHERE rn = 1),
         |dims AS (SELECT unnest(range(1, (SELECT len(embedding) FROM embeddings LIMIT 1) + 1)) AS pos),
         |comp AS (
         |  SELECT a0.cid, d.pos,
         |         CAST(SUM(CAST(e.v[CAST(d.pos AS INTEGER)] AS DECIMAL(27,10))) AS DOUBLE)
         |           / COUNT(*) AS c
         |  FROM a0 JOIN e ON e.vec_id = a0.vec_id CROSS JOIN dims d
         |  GROUP BY a0.cid, d.pos),
         |cent2 AS (SELECT cid, list(c ORDER BY pos) AS cv FROM comp GROUP BY cid),
         |sim2 AS (
         |  SELECT e.vec_id, c2.cid, ${cosOf("e.v", "c2.cv")} AS s
         |  FROM e, cent2 c2),
         |a2 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |    FROM sim2) WHERE rn = 1),
         |p2 AS (
         |  SELECT vec_id AS query_id, cid FROM (
         |    SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |    FROM sim2 WHERE vec_id < 50) WHERE rn <= 2),
         |scored AS (
         |  SELECT p.query_id, a.vec_id AS cand_id, round($cosSql, 6) AS score
         |  FROM p2 p
         |  JOIN a2 a ON a.cid = p.cid AND a.vec_id <> p.query_id
         |  JOIN e q ON q.vec_id = p.query_id
         |  JOIN e c ON c.vec_id = a.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank FROM scored)
         |SELECT query_id, cand_id, score, CAST(rank AS INTEGER) AS rank FROM r
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "ann_lsh_banded" ->
      s"""WITH params AS (SELECT LEAST(16, (SELECT len(embedding) FROM embeddings LIMIT 1), GREATEST(1, LENGTH(BIN((COUNT(*) - 1) // 1000)))) AS bits FROM embeddings),
         |dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
         |nbands AS (SELECT GREATEST(1, LEAST(4, (SELECT dim FROM dims) // (SELECT bits FROM params))) AS n),
         |$embCte,
         |base AS (SELECT vec_id, embedding, p.bits AS bits,
         |         unnest(range(0, (SELECT n FROM nbands))) AS band_id
         |         FROM embeddings CROSS JOIN params p),
         |bands AS (SELECT vec_id, band_id,
         |  CAST(COALESCE(list_sum(list_transform(range(0, bits),
         |    i -> CASE WHEN embedding[CAST(band_id * bits + i + 1 AS INTEGER)] > 0
         |              THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER)) ELSE 0 END)), 0) AS BIGINT) AS bkey
         |  FROM base),
         |cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS cand_id
         |  FROM bands qb JOIN bands cb
         |    ON qb.band_id = cb.band_id AND qb.bkey = cb.bkey AND qb.vec_id <> cb.vec_id
         |  WHERE qb.vec_id < 50),
         |s AS (SELECT query_id, cand_id, round($cosSql, 6) AS score
         |  FROM cand JOIN e q ON q.vec_id = query_id JOIN e c ON c.vec_id = cand_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank FROM s)
         |SELECT query_id, cand_id, score, CAST(rank AS INTEGER) AS rank FROM r
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "dedup_jaccard_capped" ->
      s"""WITH $toksCte,
         |$shinglesCte,
         |allpost AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS sh_n,
         |            unnest(s) AS sh_h FROM sh),
         |keep AS (SELECT sh_h FROM allpost GROUP BY 1 HAVING count(*) <= 5),
         |post AS (SELECT p.* FROM allpost p
         |         WHERE EXISTS (SELECT 1 FROM keep k WHERE k.sh_h = p.sh_h)),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh_n AS n_a, b.sh_n AS n_b,
         |         count(*) AS common
         |  FROM post a JOIN post b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT doc_a, doc_b,
         |       round(common * 1.0 / (n_a + n_b - common), 6) AS jaccard
         |FROM common WHERE common * 1.0 / (n_a + n_b - common) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "embed_neardup" ->
      s"""WITH $embCte,
         |s AS (
         |  SELECT q.vec_id AS id_a, c.vec_id AS id_b, round($cosSql, 6) AS score
         |  FROM e q, e c WHERE q.vec_id < c.vec_id)
         |SELECT id_a, id_b, score FROM s WHERE score >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    "embed_neardup_bucketed" ->
      s"""WITH ${bitsCte(Similarity.PairMiningTargetBucket)},
         |eb AS (SELECT vec_id, embedding,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |  $bucketSql AS bucket FROM embeddings),
         |s AS (
         |  SELECT q.vec_id AS id_a, c.vec_id AS id_b, round($cosSql, 6) AS score
         |  FROM eb q JOIN eb c ON q.bucket = c.bucket AND q.vec_id < c.vec_id)
         |SELECT id_a, id_b, score FROM s WHERE score >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    "embed_neardup_banded" ->
      s"""WITH params AS (SELECT LEAST(16, (SELECT len(embedding) FROM embeddings LIMIT 1), GREATEST(1, LENGTH(BIN((COUNT(*) - 1) // ${Similarity.PairMiningTargetBucket})))) AS bits FROM embeddings),
         |dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
         |nbands AS (SELECT GREATEST(1, LEAST(4, (SELECT dim FROM dims) // (SELECT bits FROM params))) AS n),
         |$embCte,
         |base AS (SELECT vec_id, embedding, p.bits AS bits,
         |         unnest(range(0, (SELECT n FROM nbands))) AS band_id
         |         FROM embeddings CROSS JOIN params p),
         |bands AS (SELECT vec_id, band_id,
         |  CAST(COALESCE(list_sum(list_transform(range(0, bits),
         |    i -> CASE WHEN embedding[CAST(band_id * bits + i + 1 AS INTEGER)] > 0
         |              THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER)) ELSE 0 END)), 0) AS BIGINT) AS bkey
         |  FROM base),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
         |  FROM bands a JOIN bands b2
         |    ON a.band_id = b2.band_id AND a.bkey = b2.bkey AND a.vec_id < b2.vec_id),
         |s AS (SELECT id_a, id_b, round($cosSql, 6) AS score
         |  FROM cand JOIN e q ON q.vec_id = id_a JOIN e c ON c.vec_id = id_b)
         |SELECT id_a, id_b, score FROM s WHERE score >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    "multimodal_features" ->
      s"""WITH f AS (SELECT doc_id, text, ${h48("text")} AS fp FROM documents)
         |SELECT doc_id,
         |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
         |  CAST(16 + (fp % 240) AS INTEGER) AS width,
         |  CAST(16 + ((fp // 240) % 240) AS INTEGER) AS height,
         |  CAST(3 AS INTEGER) AS channels,
         |  (fp % 1000) / 1000.0 AS luminance
         |FROM f ORDER BY doc_id""".stripMargin,

    "image_resize" ->
      s"""WITH f AS (SELECT doc_id, text, ${h48("text")} AS fp FROM documents),
         |d AS (SELECT doc_id,
         |  CAST(16 + (fp % 240) AS INTEGER) AS width,
         |  CAST(16 + ((fp // 240) % 240) AS INTEGER) AS height
         |  FROM f)
         |SELECT doc_id, width, height,
         |  CAST(CASE WHEN width * 64 <= height * 64
         |       THEN GREATEST((width * 64) // height, 1) ELSE 64 END AS INTEGER) AS out_w,
         |  CAST(CASE WHEN width * 64 <= height * 64
         |       THEN 64 ELSE GREATEST((height * 64) // width, 1) END AS INTEGER) AS out_h
         |FROM d ORDER BY doc_id""".stripMargin,

    "image_phash" ->
      s"""WITH src AS (SELECT doc_id, text FROM documents),
         |$dhashCtes
         |SELECT doc_id, phash FROM ph ORDER BY doc_id""".stripMargin,

    // Brute-force all-pairs truth: the engine's 9×7 banding is lossless
    // at radius 4 (< 9 bands), so the banded join must EQUAL this.
    "image_neardup" ->
      s"""WITH $variantCorpusCte,
         |$dhashCtes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
         |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 4
         |ORDER BY doc_a, doc_b""".stripMargin,

    "image_phash_binary" ->
      s"""WITH $binaryHexCte,
         |src AS (SELECT doc_id, hx FROM b0),
         |$dhashHexCtes
         |SELECT doc_id, phash FROM ph ORDER BY doc_id""".stripMargin,

    // decode(encode(px)) == px for lossless grayscale PNG, so the
    // decoded lane's truth is the SAME hex-lane mirror — the engine
    // goes the long way through the real compressed container and must
    // land on identical hashes
    "image_phash_decoded" ->
      s"""WITH $binaryHexCte,
         |src AS (SELECT doc_id, hx FROM b0),
         |$dhashHexCtes
         |SELECT doc_id, phash FROM ph ORDER BY doc_id""".stripMargin,

    // Brute-force all-pairs truth over the binary corpus — the banded
    // join is lossless at radius 4 here too (9 bands > 4).
    "image_neardup_binary" ->
      s"""WITH $binaryHexCte,
         |$binaryVariantCte,
         |$dhashHexCtes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
         |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 4
         |ORDER BY doc_a, doc_b""".stripMargin,

    "frame_sample" ->
      s"""WITH t AS (SELECT doc_id, text,
         |  unnest(range(0, octet_length(encode(text)) // 32)) AS i FROM documents)
         |SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
         |  md5(substring(text, CAST(i * 32 + 1 AS INTEGER), 32)) AS frame_md5
         |FROM t WHERE i % 4 = 0 ORDER BY doc_id, frame_idx""".stripMargin,

    // Reservoir mirror: the WINDOW form — row_number over the identical
    // salted priority lane — proves the bounded-buffer aggregate samples
    // identically.
    "reservoir_sample" ->
      s"""WITH b AS (SELECT lang, doc_id,
         |    ${h48("'res:' || CAST(doc_id AS VARCHAR)")} % 1000000007 AS pri
         |  FROM documents),
         |r AS (SELECT lang, doc_id, pri,
         |    row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id)
         |      AS rank FROM b)
         |SELECT lang, CAST(rank AS BIGINT) AS rank, pri AS priority, doc_id
         |FROM r WHERE rank <= 20 ORDER BY lang, rank""".stripMargin,

    // Leakage mirror: the full minhash candidate chain (one source of
    // truth with dedup_minhash) joined to the split-bucket CASE.
    "split_leakage_guard" ->
      s"""WITH $toksCte,
         |$shinglesCte,
         |hbase AS (SELECT doc_id, s, list_transform(s, x -> ${h48("x")}) AS hb FROM sh),
         |sig AS (SELECT doc_id, s, ${sigExprs.mkString(",\n  ")} FROM hbase),
         |bands AS (${bandSelects.mkString("\n  UNION ALL\n  ")}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |j AS (
         |  SELECT doc_a, doc_b,
         |    len(list_intersect(sa.s, sb.s)) * 1.0 / len(list_distinct(list_concat(sa.s, sb.s))) AS jac
         |  FROM cand
         |  JOIN sh sa ON sa.doc_id = doc_a
         |  JOIN sh sb ON sb.doc_id = doc_b),
         |mh AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.5),
         |sp AS (SELECT doc_id,
         |  CASE WHEN ${h48("CAST(doc_id AS VARCHAR)")} % 1000 < 50 THEN 'test'
         |       WHEN ${h48("CAST(doc_id AS VARCHAR)")} % 1000 < 100 THEN 'val'
         |       ELSE 'train' END AS split
         |  FROM documents)
         |SELECT least(sa.split, sb.split) AS split_lo,
         |       greatest(sa.split, sb.split) AS split_hi,
         |       CAST(count(*) AS BIGINT) AS n_pairs
         |FROM mh JOIN sp sa ON sa.doc_id = mh.doc_a
         |        JOIN sp sb ON sb.doc_id = mh.doc_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // PQ mirror: identical md5-ordered seeds, round6 subspace dots with
    // (sd DESC, cid) assignment, DECIMAL(27,10) member means, code-match
    // candidate counts, and the shared rounded-cosine rerank.
    "ann_pq" -> annPqOracle,

    // ADC mirror: the shared PQ codebook/codes CTEs, then the query-side
    // LUT is sd1 (full-corpus round6 subspace dots) filtered to the query
    // set and fixed to BIGINT micro-units; a candidate's score is the
    // exact integer sum of its codes' LUT entries.
    "ann_pq_adc" -> annPqAdcOracle,

    // IVFADC mirror: coarse quantizer CTEs composed over the shared ADC
    // codebook chain; scoring join restricted to probed lists.
    "ann_ivfadc" -> annIvfadcOracle,
    // the partitioned-index face is row-identical to the in-memory one
    "ann_ivfadc_partitioned" -> annIvfadcOracle,
    // probe-only face: row-identical to the partitioned face by the
    // cachedIndex determinism argument — literally the same truth
    "ann_ivfadc_probe" -> annIvfadcOracle,
    // publish → resolve → probe composition: the published codes are
    // the same single-scan relation and the probe is the same
    // function over the resolved generation — same truth again
    "ann_ivfadc_store_probe" -> annIvfadcOracle,
    // same chain with the tombstoned cohort filtered from CANDIDATES
    // only (queries untouched — a delete revokes retrievability)
    "ann_ivfadc_tombstoned" ->
      annIvfadcOracleFrom("en", "", " AND a.vec_id % 9 <> 3"),

    // layout audit: list populations from the same coarse-assign chain
    // as the IVFADC faces (8 code rows per vector), n_files pinned to
    // the 1-file-per-list write invariant, hot_list mirrored as
    // rows > 2x the mean over present lists.
    "index_layout_audit" -> indexLayoutOracle,

    // Balanced synthetic corpus: lists are count/16 ± 1, never hot, so
    // the restored layout is exactly 1 file per list, flag ok — for
    // any corpus.
    "index_compact" ->
      s"""WITH $embCte,
         |a AS (SELECT vec_id, CAST(vec_id % 16 AS INTEGER) AS ccid FROM e),
         |g AS (SELECT ccid, CAST(4 * count(*) AS BIGINT) AS n_rows
         |  FROM a GROUP BY 1)
         |SELECT ccid, n_rows, CAST(1 AS BIGINT) AS n_files, 'ok' AS flag
         |FROM g ORDER BY ccid""".stripMargin,

    "index_salt_rebalance" -> indexSaltOracle,

    // Two generations of the same skewed relation: v1 unsalted (the
    // hot flag), v2 salted (ok), pointer on v2.
    "index_publish" ->
      s"""WITH $embCte,
         |a AS (SELECT vec_id,
         |    CAST(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE vec_id % 16 END
         |         AS INTEGER) AS ccid
         |  FROM e),
         |c AS (SELECT vec_id, ccid,
         |    CAST(unnest(range(0, 4)) AS INTEGER) AS sub FROM a),
         |g AS (SELECT ccid, CAST(count(*) AS BIGINT) AS n_rows
         |  FROM c GROUP BY 1),
         |f AS (SELECT ccid, n_rows,
         |    CASE WHEN n_rows > 2.0 * avg(n_rows) OVER () THEN 'hot_list'
         |         ELSE 'ok' END AS hot_flag
         |  FROM g)
         |SELECT CAST(1 AS INTEGER) AS generation, ccid, n_rows,
         |  hot_flag AS flag, false AS is_current FROM f
         |UNION ALL
         |SELECT CAST(2 AS INTEGER), ccid, n_rows, 'ok', true FROM f
         |ORDER BY generation, ccid""".stripMargin,

    // Three cumulative epoch publishes pruned to the newest two: the
    // retained generations' per-list populations replay relationally
    // (epoch g holds vec_id % 3 < g, 4 code rows per vector), v1's
    // ABSENCE is pinned because the engine's generation list derives
    // from the store directory, and the pointer sits on the newest.
    // Balanced ccid = vec_id % 16 keeps every prefix unhot -> 'ok'.
    "index_stream_publish" ->
      s"""WITH $embCte,
         |a AS (SELECT vec_id, CAST(vec_id % 16 AS INTEGER) AS ccid FROM e),
         |r AS (SELECT CAST(unnest([2, 3]) AS INTEGER) AS generation),
         |g AS (SELECT r.generation, a.ccid,
         |    CAST(4 * count(*) AS BIGINT) AS n_rows
         |  FROM r JOIN a ON a.vec_id % 3 < r.generation
         |  GROUP BY 1, 2)
         |SELECT generation, ccid, n_rows, 'ok' AS flag,
         |  generation = 3 AS is_current
         |FROM g ORDER BY generation, ccid""".stripMargin,

    // Planted-refresh diff replayed from vec_id arithmetic: old gen =
    // %3<2, new gen = %7<>0 with a code bump on %5=0; a vector in
    // NEITHER generation contributes nothing, added/removed classify
    // by the side present, survivors split recoded/unchanged on the
    // %5 bump.
    "index_gen_diff" ->
      s"""WITH $embCte,
         |v AS (SELECT vec_id, CAST(vec_id % 16 AS INTEGER) AS ccid FROM e),
         |st AS (SELECT ccid,
         |    CASE WHEN vec_id % 3 >= 2 AND vec_id % 7 <> 0 THEN 'added'
         |         WHEN vec_id % 3 < 2 AND vec_id % 7 = 0 THEN 'removed'
         |         WHEN vec_id % 5 = 0 THEN 'recoded'
         |         ELSE 'unchanged' END AS status
         |  FROM v
         |  WHERE NOT (vec_id % 3 >= 2 AND vec_id % 7 = 0))
         |SELECT ccid, status, CAST(count(*) AS BIGINT) AS n_vecs
         |FROM st GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The cleaned generation after tombstone compaction + prune: one
    // retained generation holding 4 code rows per SURVIVING vector
    // (every 9th deleted), balanced ccid keeps the layout unhot.
    "index_tombstone_compact" ->
      s"""WITH $embCte,
         |a AS (SELECT vec_id, CAST(vec_id % 16 AS INTEGER) AS ccid
         |  FROM e WHERE vec_id % 9 <> 3),
         |g AS (SELECT ccid, CAST(4 * count(*) AS BIGINT) AS n_rows
         |  FROM a GROUP BY 1)
         |SELECT CAST(2 AS INTEGER) AS generation, ccid, n_rows,
         |  'ok' AS flag, true AS is_current
         |FROM g ORDER BY generation, ccid""".stripMargin,

    // Sidecar lifecycle: while the dirty v1 is retained GC keeps every
    // planted id (the mid-state is the cohort's data-derived size);
    // once retention drops v1 and the second compaction runs, no
    // retained generation contains a tombstoned row and the sidecar is
    // removed — the end-state zero is the engine reading an ABSENT
    // sidecar, not an empty relation.
    "index_tombstone_gc" ->
      s"""WITH $embCte
         |SELECT 'after_compact' AS stage,
         |  CAST((SELECT count(*) FROM e WHERE vec_id % 9 = 3) AS BIGINT)
         |    AS n_tombstones
         |UNION ALL
         |SELECT 'after_gc' AS stage, CAST(0 AS BIGINT) AS n_tombstones
         |ORDER BY stage""".stripMargin,

    "index_retrain_rebalance" -> indexRetrainOracle,
    "index_lifecycle" -> indexLifecycleOracle,
    "index_lifecycle_residual" -> indexLifecycleResidualOracle,
    // opq lifecycle mirror: the flat lifecycle chain in the rotated
    // space, rotation learned from the raw standing subset and frozen
    // (indexLifecycleOpqOracle scaladoc)
    "index_lifecycle_opq" -> indexLifecycleOpqOracle,

    // radius operating curve: brute-force pairs at radius <= 8, tagged
    // planted by the variant id arithmetic, left-joined onto the
    // static radius spine so empty radii report zero
    "image_radius_sweep" ->
      s"""WITH $variantCorpusCte,
         |$dhashCtes,
         |ap AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS h
         |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 8),
         |tag AS (SELECT h,
         |    ((doc_b = doc_a + (SELECT s FROM sh) AND doc_a % 20 = 0) OR
         |     (doc_b = doc_a + 2 * (SELECT s FROM sh) AND doc_a % 20 = 10))
         |      AS planted
         |  FROM ap),
         |tot AS (SELECT count(*) AS pt FROM documents
         |        WHERE doc_id % 20 IN (0, 10)),
         |r AS (SELECT CAST(unnest([0, 2, 4, 6, 8]) AS BIGINT) AS max_hamming)
         |SELECT r.max_hamming,
         |  CAST(count(t.h) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(sum(CASE WHEN t.planted THEN 1 ELSE 0 END), 0)
         |       AS BIGINT) AS planted_pairs,
         |  (SELECT pt FROM tot) AS planted_total,
         |  CAST(coalesce(sum(CASE WHEN t.planted THEN 1 ELSE 0 END), 0) * 1000
         |    // (SELECT pt FROM tot) AS BIGINT) AS recall_permille
         |FROM r LEFT JOIN tag t ON t.h <= r.max_hamming
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-frame box-filter dhash over 32-byte frame slices — the
    // keyed form of the image_phash mirror
    "frame_phash" ->
      s"""WITH vsrc AS (SELECT doc_id, text FROM documents),
         |$frameSrcCte,
         |${dhashCtesOver(Seq("doc_id", "frame_idx"))}
         |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
         |  phash AS fhash
         |FROM ph ORDER BY doc_id, frame_idx""".stripMargin,

    // shift-robust containment over content-defined chunk hashes
    // (the cdc_chunks CTE chain at d=16 over the planted trim corpus),
    // same cap/containment algebra as video_neardup
    "audio_neardup" ->
      s"""WITH vsh AS (SELECT max(doc_id) + 1 AS s FROM documents),
         |vsrc AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + vsh.s, substring(text, 18)
         |    FROM documents, vsh WHERE doc_id % 20 = 3 AND length(text) >= 50
         |  UNION ALL
         |  SELECT doc_id + 2 * vsh.s,
         |         substring(text, 1, CAST(length(text) - 23 AS INTEGER))
         |    FROM documents, vsh WHERE doc_id % 20 = 13 AND length(text) >= 55),
         |base AS (SELECT doc_id, text,
         |  greatest(length(text) - 7, 1) AS n FROM vsrc),
         |bnd AS (SELECT doc_id, text, list_filter(range(1, n + 1),
         |  i -> i > 1 AND
         |    ${h48("substring(text, CAST(i AS INTEGER), 8)")} % 16 = 0) AS b
         |  FROM base),
         |cuts AS (SELECT doc_id, text,
         |  list_concat(list_concat([CAST(1 AS BIGINT)], b),
         |    [CAST(length(text) + 1 AS BIGINT)]) AS c FROM bnd),
         |ch AS (SELECT doc_id,
         |    c[CAST(j + 1 AS INTEGER)] - c[CAST(j AS INTEGER)] AS ln,
         |    md5(substring(text,
         |      CAST(c[CAST(j AS INTEGER)] AS INTEGER),
         |      CAST(c[CAST(j + 1 AS INTEGER)] - c[CAST(j AS INTEGER)]
         |           AS INTEGER))) AS cm
         |  FROM cuts, UNNEST(range(1, len(c))) AS t(j)),
         |fh AS (SELECT DISTINCT doc_id, cm FROM ch WHERE ln >= 8),
         |nf AS (SELECT doc_id, count(*) AS nf FROM fh GROUP BY 1),
         |keep AS (SELECT cm FROM fh GROUP BY cm HAVING count(*) <= 64),
         |cf AS (SELECT fh.doc_id, fh.cm FROM fh JOIN keep USING (cm)),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM cf a JOIN cf b ON a.cm = b.cm AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sc AS (SELECT doc_a, doc_b, shared,
         |    shared * 1000 // least(na.nf, nb.nf) AS containment_permille
         |  FROM pairs JOIN nf na ON na.doc_id = doc_a
         |             JOIN nf nb ON nb.doc_id = doc_b)
         |SELECT doc_a, doc_b, shared, containment_permille
         |FROM sc WHERE containment_permille >= 500
         |ORDER BY doc_a, doc_b""".stripMargin,

    // temporal containment over shared distinct frame hashes, with the
    // hot-frame posting cap (df <= 64) mirrored on the distinct
    // (doc, fhash) relation
    "video_neardup" ->
      s"""WITH $videoCorpusCte,
         |$frameSrcCte,
         |${dhashCtesOver(Seq("doc_id", "frame_idx"))},
         |fh AS (SELECT DISTINCT doc_id, phash AS fhash FROM ph),
         |nf AS (SELECT doc_id, count(*) AS nf FROM fh GROUP BY 1),
         |keep AS (SELECT fhash FROM fh GROUP BY fhash
         |         HAVING count(*) <= 64),
         |cf AS (SELECT fh.doc_id, fh.fhash FROM fh
         |       JOIN keep USING (fhash)),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM cf a JOIN cf b ON a.fhash = b.fhash
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sc AS (SELECT doc_a, doc_b, shared,
         |    shared * 1000 // least(na.nf, nb.nf) AS containment_permille
         |  FROM pairs JOIN nf na ON na.doc_id = doc_a
         |             JOIN nf nb ON nb.doc_id = doc_b)
         |SELECT doc_a, doc_b, shared, containment_permille
         |FROM sc WHERE containment_permille >= 500
         |ORDER BY doc_a, doc_b""".stripMargin,
    // ingest mirror: the SAME chain with both quantizers trained on
    // the standing subset and the corpus one-shot-encoded under those
    // frozen books — equality with the engine's append path is the
    // merge == rebuild proof
    "ann_ivfadc_ingest" -> annIvfadcOracleFrom("ens",
      "\nens AS (SELECT vec_id, v FROM en WHERE vec_id < 400),"),
    // pinned-probe mirror: v1's books ARE the standing-trained books
    // and v1's contents ARE the standing codes — the ingest chain with
    // candidates restricted to the standing corpus
    "index_probe_pinned" -> annIvfadcOracleFrom("ens",
      "\nens AS (SELECT vec_id, v FROM en WHERE vec_id < 400),",
      candFilter = " AND a.vec_id < 400"),
    "ivfadc_probe_sweep" -> annIvfadcSweepOracle,
    // opq store mirror: the IVFADC chain in the rotated space, rotation
    // learned from the raw census (annOpqStoreOracle scaladoc)
    "ann_opq_store" -> annOpqStoreOracle,
    // opq ingest mirror: the rotated chain with rotation AND books
    // frozen from the standing subset — the one-shot encode equals the
    // engine's append path (annOpqIngestOracle scaladoc)
    "ann_opq_ingest" -> annOpqIngestOracle,

    // Residual-IVFADC mirror (annIvfadcResOracle scaladoc).
    "ann_ivfadc_residual" -> annIvfadcResOracle,
    // the published-store residual probe is row-identical to the
    // inline face by construction (same codes, same loaded books,
    // same reconstruction) — same mirror
    "ann_ivfadc_residual_store" -> annIvfadcResOracle,
    // residual ingest mirror: the SAME residual chain with both
    // quantizers trained on the standing subset and the corpus
    // one-shot-encoded under those frozen books — equality with the
    // engine's append path is the merge == rebuild proof for
    // coarse-relative codes
    "ann_ivfadc_residual_ingest" -> annIvfadcResOracleFrom("ens",
      "\nens AS (SELECT vec_id, v FROM en WHERE vec_id < 400),"),

    // Residual-IVFADC recall gate: brute-force truth vs the residual
    // oracle as a subquery (one source of truth per lane).
    "ivfadc_residual_recall" ->
      s"""WITH $embCte,
         |ts AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id, round($cosSql, 6) AS score
         |       FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
         |tr AS (SELECT *, row_number() OVER (
         |         PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank FROM ts),
         |truth AS (SELECT query_id, cand_id FROM tr WHERE rank <= 3),
         |approx AS (SELECT query_id, cand_id FROM ($annIvfadcResOracle))
         |SELECT t.query_id, CAST(count(*) AS BIGINT) AS k_truth,
         |       CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |       round(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS recall
         |FROM truth t LEFT JOIN approx a
         |  ON t.query_id = a.query_id AND t.cand_id = a.cand_id
         |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin,

    // Distortion-gauge mirror: both lanes' oracle chains composed as
    // subqueries, integer mean-abs-error per lane.
    "adc_distortion" ->
      s"""WITH u AS (
         |  SELECT 'flat' AS lane, adc6, score FROM ($annPqAdcOracle)
         |  UNION ALL
         |  SELECT 'residual' AS lane, adc6, score FROM ($annIvfadcResOracle))
         |SELECT lane, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(ABS(adc6 - CAST(round(score * 1000000) AS BIGINT)))
         |       AS BIGINT) // count(*) AS mean_err_micro
         |FROM u GROUP BY lane ORDER BY lane""".stripMargin,

    // OPQ mirror (Opq.opqDistortion scaladoc): the spike plant, the
    // proven power chain on the PLANTED census, the Householder
    // integers, the md5 sample, and both lanes' min-distance sums —
    // every step the same exact-long/one-double-round discipline.
    "opq_distortion" -> {
      val spikeS = (0 until 64).map(j =>
        s"(${if (j % 2 == 0) 1 else -1} * CAST(round(CAST(embedding[${j + 1}] AS DOUBLE) * 1000000) AS BIGINT))")
        .mkString(" + ")
      s"""WITH spx AS MATERIALIZED (SELECT vec_id, embedding,
         |    CAST($spikeS AS BIGINT) AS s
         |  FROM embeddings),
         |planted AS MATERIALIZED (SELECT vec_id,
         |    list_transform(range(0, 64), i ->
         |      (CAST(round(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE) * 1000000) AS BIGINT)
         |        + (CASE WHEN i % 2 = 0 THEN 1 ELSE -1 END)
         |        * (CASE WHEN s < 0 THEN -(abs(s) // 32) ELSE abs(s) // 32 END))
         |      / 1000000.0) AS embedding
         |  FROM spx),
         |${pcaCovCtes(64, "planted")},
         |${pcaPowerCtes(30)},
         |hh AS MATERIALIZED (SELECT list(v ORDER BY i) AS v1 FROM v30),
         |wv AS MATERIALIZED (SELECT
         |    list_transform(range(1, 65), i -> CASE WHEN i = 1
         |      THEN v1[CAST(i AS INTEGER)]
         |        - CAST(round(sqrt(CAST(list_sum(list_transform(v1, x -> x * x)) AS DOUBLE))) AS BIGINT)
         |      ELSE v1[CAST(i AS INTEGER)] END) AS w
         |  FROM hh),
         |wb AS MATERIALIZED (SELECT w,
         |    CAST(list_sum(list_transform(w, x -> x * x)) AS BIGINT) AS ww FROM wv),
         |xm AS MATERIALIZED (SELECT vec_id,
         |    list_transform(embedding, v -> CAST(round(v * 1000000) AS BIGINT)) AS xm
         |  FROM planted),
         |wx AS MATERIALIZED (SELECT x.vec_id,
         |    CAST(list_sum(list_transform(range(1, 65), i ->
         |      b.w[CAST(i AS INTEGER)] * x.xm[CAST(i AS INTEGER)])) AS BIGINT) AS wx
         |  FROM xm x CROSS JOIN wb b),
         |ym AS MATERIALIZED (SELECT x.vec_id,
         |    list_transform(range(1, 65), i -> x.xm[CAST(i AS INTEGER)]
         |      - CAST(round(2.0 * q.wx / b.ww * b.w[CAST(i AS INTEGER)]) AS BIGINT)) AS ym
         |  FROM xm x JOIN wx q USING (vec_id) CROSS JOIN wb b),
         |samp AS MATERIALIZED (SELECT vec_id FROM planted
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |ci AS MATERIALIZED (SELECT x.xm AS cm FROM samp s JOIN xm x USING (vec_id)),
         |cr AS MATERIALIZED (SELECT y.ym AS cm FROM samp s JOIN ym y USING (vec_id)),
         |subs AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS sub),
         |di AS (SELECT x.vec_id,
         |    CAST(sum(best) AS BIGINT) // 1000000 AS tot
         |  FROM (SELECT x2.vec_id, sb.sub,
         |      min(CAST(list_sum(list_transform(range(1, 9), i ->
         |        (x2.xm[CAST(sb.sub * 8 + i AS INTEGER)] - c.cm[CAST(sb.sub * 8 + i AS INTEGER)])
         |        * (x2.xm[CAST(sb.sub * 8 + i AS INTEGER)] - c.cm[CAST(sb.sub * 8 + i AS INTEGER)])))
         |        AS BIGINT)) AS best
         |    FROM xm x2 CROSS JOIN subs sb CROSS JOIN ci c GROUP BY 1, 2) x
         |  GROUP BY 1),
         |dr AS (SELECT y.vec_id,
         |    CAST(sum(best) AS BIGINT) // 1000000 AS tot
         |  FROM (SELECT y2.vec_id, sb.sub,
         |      min(CAST(list_sum(list_transform(range(1, 9), i ->
         |        (y2.ym[CAST(sb.sub * 8 + i AS INTEGER)] - c.cm[CAST(sb.sub * 8 + i AS INTEGER)])
         |        * (y2.ym[CAST(sb.sub * 8 + i AS INTEGER)] - c.cm[CAST(sb.sub * 8 + i AS INTEGER)])))
         |        AS BIGINT)) AS best
         |    FROM ym y2 CROSS JOIN subs sb CROSS JOIN cr c GROUP BY 1, 2) y
         |  GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM planted)
         |SELECT 'identity' AS lane, nn.n AS n_vectors,
         |    CAST((SELECT CAST(sum(tot) AS BIGINT) FROM di) // nn.n AS BIGINT) AS mse_milli2
         |  FROM nn
         |UNION ALL
         |SELECT 'rotated', nn.n,
         |    CAST((SELECT CAST(sum(tot) AS BIGINT) FROM dr) // nn.n AS BIGINT)
         |  FROM nn
         |ORDER BY lane""".stripMargin
    },

    // Two-reflection gauge mirror (VERDICT r19 #4): rank-2 plant, the
    // unrolled first power chain (v30), the DEFLATED second chain
    // (w30), the composition — H1 from v1, H1·v2 via one exact-long
    // dot + per-cell round, H2 from the reflected v2 onto e1 — and the
    // three lanes' min-distance totals, every integer replayed.
    "opq_distortion2" -> {
      def sSum(sign: Int => Int) = (0 until 64).map(j =>
        s"(${sign(j)} * CAST(round(CAST(embedding[${j + 1}] AS DOUBLE) * 1000000) AS BIGINT))")
        .mkString(" + ")
      val s1 = sSum(j => if (j % 2 == 0) 1 else -1)
      val s2 = sSum(j => if ((j / 2) % 2 == 0) 1 else -1)
      s"""WITH spx AS MATERIALIZED (SELECT vec_id, embedding,
         |    CAST($s1 AS BIGINT) AS s1s, CAST($s2 AS BIGINT) AS s2s
         |  FROM embeddings),
         |planted AS MATERIALIZED (SELECT vec_id,
         |    list_transform(range(0, 64), i ->
         |      (CAST(round(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE) * 1000000) AS BIGINT)
         |        + (CASE WHEN i % 2 = 0 THEN 1 ELSE -1 END)
         |        * (CASE WHEN s1s < 0 THEN -(abs(s1s) // 32) ELSE abs(s1s) // 32 END)
         |        + (CASE WHEN (i // 2) % 2 = 0 THEN 1 ELSE -1 END)
         |        * (CASE WHEN s2s < 0 THEN -(abs(s2s) // 32) ELSE abs(s2s) // 32 END))
         |      / 1000000.0) AS embedding
         |  FROM spx),
         |${pcaCovCtes(64, "planted")},
         |${pcaPowerCtes(30)},
         |${pcaPower2Ctes(30, 30)},
         |hh AS MATERIALIZED (SELECT list(v ORDER BY i) AS v1 FROM v30),
         |hh2 AS MATERIALIZED (SELECT list(v ORDER BY i) AS v2 FROM w30),
         |wv AS MATERIALIZED (SELECT
         |    list_transform(range(1, 65), i -> CASE WHEN i = 1
         |      THEN v1[CAST(i AS INTEGER)]
         |        - CAST(round(sqrt(CAST(list_sum(list_transform(v1, x -> x * x)) AS DOUBLE))) AS BIGINT)
         |      ELSE v1[CAST(i AS INTEGER)] END) AS w
         |  FROM hh),
         |wb AS MATERIALIZED (SELECT w,
         |    CAST(list_sum(list_transform(w, x -> x * x)) AS BIGINT) AS ww FROM wv),
         |v2r AS MATERIALIZED (SELECT
         |    list_transform(range(1, 65), i -> h.v2[CAST(i AS INTEGER)]
         |      - CAST(round(2.0 * CAST(list_sum(list_transform(range(1, 65), j ->
         |          b.w[CAST(j AS INTEGER)] * h.v2[CAST(j AS INTEGER)])) AS BIGINT)
         |        / b.ww * b.w[CAST(i AS INTEGER)]) AS BIGINT)) AS t2
         |  FROM hh2 h CROSS JOIN wb b),
         |wv2 AS MATERIALIZED (SELECT
         |    list_transform(range(1, 65), i -> CASE WHEN i = 2
         |      THEN t2[CAST(i AS INTEGER)]
         |        - CAST(round(sqrt(CAST(list_sum(list_transform(t2, x -> x * x)) AS DOUBLE))) AS BIGINT)
         |      ELSE t2[CAST(i AS INTEGER)] END) AS w
         |  FROM v2r),
         |wb2 AS MATERIALIZED (SELECT w AS w2,
         |    CAST(list_sum(list_transform(w, x -> x * x)) AS BIGINT) AS ww2 FROM wv2),
         |xm AS MATERIALIZED (SELECT vec_id,
         |    list_transform(embedding, v -> CAST(round(v * 1000000) AS BIGINT)) AS xm
         |  FROM planted),
         |wx AS MATERIALIZED (SELECT x.vec_id,
         |    CAST(list_sum(list_transform(range(1, 65), i ->
         |      b.w[CAST(i AS INTEGER)] * x.xm[CAST(i AS INTEGER)])) AS BIGINT) AS wx
         |  FROM xm x CROSS JOIN wb b),
         |ym AS MATERIALIZED (SELECT x.vec_id,
         |    list_transform(range(1, 65), i -> x.xm[CAST(i AS INTEGER)]
         |      - CAST(round(2.0 * q.wx / b.ww * b.w[CAST(i AS INTEGER)]) AS BIGINT)) AS ym
         |  FROM xm x JOIN wx q USING (vec_id) CROSS JOIN wb b),
         |wx2 AS MATERIALIZED (SELECT y.vec_id,
         |    CAST(list_sum(list_transform(range(1, 65), i ->
         |      b.w2[CAST(i AS INTEGER)] * y.ym[CAST(i AS INTEGER)])) AS BIGINT) AS wx
         |  FROM ym y CROSS JOIN wb2 b),
         |zm AS MATERIALIZED (SELECT y.vec_id,
         |    list_transform(range(1, 65), i -> y.ym[CAST(i AS INTEGER)]
         |      - CAST(round(2.0 * q.wx / b.ww2 * b.w2[CAST(i AS INTEGER)]) AS BIGINT)) AS zm
         |  FROM ym y JOIN wx2 q USING (vec_id) CROSS JOIN wb2 b),
         |samp AS MATERIALIZED (SELECT vec_id FROM planted
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |ci AS MATERIALIZED (SELECT x.xm AS cm FROM samp s JOIN xm x USING (vec_id)),
         |cr1 AS MATERIALIZED (SELECT y.ym AS cm FROM samp s JOIN ym y USING (vec_id)),
         |cr2 AS MATERIALIZED (SELECT z.zm AS cm FROM samp s JOIN zm z USING (vec_id)),
         |subs AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS sub),
         |di AS (SELECT x.vec_id,
         |    CAST(sum(best) AS BIGINT) // 1000000 AS tot
         |  FROM (SELECT x2.vec_id, sb.sub,
         |      min(CAST(list_sum(list_transform(range(1, 9), i ->
         |        (x2.xm[CAST(sb.sub * 8 + i AS INTEGER)] - c.cm[CAST(sb.sub * 8 + i AS INTEGER)])
         |        * (x2.xm[CAST(sb.sub * 8 + i AS INTEGER)] - c.cm[CAST(sb.sub * 8 + i AS INTEGER)])))
         |        AS BIGINT)) AS best
         |    FROM xm x2 CROSS JOIN subs sb CROSS JOIN ci c GROUP BY 1, 2) x
         |  GROUP BY 1),
         |dr1 AS (SELECT y.vec_id,
         |    CAST(sum(best) AS BIGINT) // 1000000 AS tot
         |  FROM (SELECT y2.vec_id, sb.sub,
         |      min(CAST(list_sum(list_transform(range(1, 9), i ->
         |        (y2.ym[CAST(sb.sub * 8 + i AS INTEGER)] - c.cm[CAST(sb.sub * 8 + i AS INTEGER)])
         |        * (y2.ym[CAST(sb.sub * 8 + i AS INTEGER)] - c.cm[CAST(sb.sub * 8 + i AS INTEGER)])))
         |        AS BIGINT)) AS best
         |    FROM ym y2 CROSS JOIN subs sb CROSS JOIN cr1 c GROUP BY 1, 2) y
         |  GROUP BY 1),
         |dr2 AS (SELECT z.vec_id,
         |    CAST(sum(best) AS BIGINT) // 1000000 AS tot
         |  FROM (SELECT z2.vec_id, sb.sub,
         |      min(CAST(list_sum(list_transform(range(1, 9), i ->
         |        (z2.zm[CAST(sb.sub * 8 + i AS INTEGER)] - c.cm[CAST(sb.sub * 8 + i AS INTEGER)])
         |        * (z2.zm[CAST(sb.sub * 8 + i AS INTEGER)] - c.cm[CAST(sb.sub * 8 + i AS INTEGER)])))
         |        AS BIGINT)) AS best
         |    FROM zm z2 CROSS JOIN subs sb CROSS JOIN cr2 c GROUP BY 1, 2) z
         |  GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM planted)
         |SELECT 'identity' AS lane, nn.n AS n_vectors,
         |    CAST((SELECT CAST(sum(tot) AS BIGINT) FROM di) // nn.n AS BIGINT) AS mse_milli2
         |  FROM nn
         |UNION ALL
         |SELECT 'rotated1', nn.n,
         |    CAST((SELECT CAST(sum(tot) AS BIGINT) FROM dr1) // nn.n AS BIGINT)
         |  FROM nn
         |UNION ALL
         |SELECT 'rotated2', nn.n,
         |    CAST((SELECT CAST(sum(tot) AS BIGINT) FROM dr2) // nn.n AS BIGINT)
         |  FROM nn
         |ORDER BY lane""".stripMargin
    },

    // Incremental-encode mirror: ONE-PASS encode of the full corpus
    // against the standing-trained codebook — equality with the Spark
    // side's two-batch union is the additive-ingest proof.
    "pq_incremental_encode" ->
      s"""WITH $embCte,
         |standing AS (SELECT vec_id, v FROM e WHERE vec_id < 400),
         |${pqCodesCtes("standing", corpusSrc = "e")}
         |SELECT vec_id, CAST(sub AS INTEGER) AS sub, code FROM codes
         |ORDER BY vec_id, sub""".stripMargin,

    // List-balance mirror: the IVFADC coarse assignment (normalized
    // centroids, round6 cosine rank) grouped per list with integer
    // permille share/skew.
    "ivf_list_balance" ->
      s"""WITH $embCte,
         |en AS (SELECT vec_id, list_transform(v, x ->
         |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS v
         |  FROM e),
         |ccent AS (SELECT vec_id AS ccid, v AS cv FROM en
         |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |csim AS (SELECT e.vec_id, ccent.ccid,
         |  round(list_sum(list_transform(range(1, len(e.v) + 1),
         |      i -> e.v[CAST(i AS INTEGER)] * ccent.cv[CAST(i AS INTEGER)]))
         |    / sqrt(list_sum(list_transform(e.v, y -> y * y))), 6) AS s
         |  FROM e, ccent),
         |cassign AS (SELECT vec_id, ccid FROM (
         |    SELECT vec_id, ccid, row_number() OVER
         |      (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
         |    FROM csim) WHERE rn = 1),
         |g AS (SELECT ccid, CAST(count(*) AS BIGINT) AS n_vectors
         |      FROM cassign GROUP BY 1),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM e)
         |SELECT ccid, n_vectors,
         |  n_vectors * 1000 // total AS share_permille,
         |  n_vectors * 16 * 1000 // total AS skew_permille
         |FROM g, t ORDER BY ccid""".stripMargin,

    // IVFADC recall gate: brute-force truth vs the IVFADC oracle as a
    // subquery (the adc_recall pattern — one source of truth per lane).
    "ivfadc_recall" ->
      s"""WITH $embCte,
         |ts AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id, round($cosSql, 6) AS score
         |       FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
         |tr AS (SELECT *, row_number() OVER (
         |         PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank FROM ts),
         |truth AS (SELECT query_id, cand_id FROM tr WHERE rank <= 3),
         |approx AS (SELECT query_id, cand_id FROM ($annIvfadcOracle))
         |SELECT t.query_id, CAST(count(*) AS BIGINT) AS k_truth,
         |       CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |       round(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS recall
         |FROM truth t LEFT JOIN approx a
         |  ON t.query_id = a.query_id AND t.cand_id = a.cand_id
         |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin,

    // ADC recall gate: brute-force truth vs the ADC oracle composed as a
    // subquery (the pq_recall pattern — one source of truth per lane).
    "adc_recall" ->
      s"""WITH $embCte,
         |ts AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id, round($cosSql, 6) AS score
         |       FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
         |tr AS (SELECT *, row_number() OVER (
         |         PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank FROM ts),
         |truth AS (SELECT query_id, cand_id FROM tr WHERE rank <= 3),
         |approx AS (SELECT query_id, cand_id FROM ($annPqAdcOracle))
         |SELECT t.query_id, CAST(count(*) AS BIGINT) AS k_truth,
         |       CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |       round(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS recall
         |FROM truth t LEFT JOIN approx a
         |  ON t.query_id = a.query_id AND t.cand_id = a.cand_id
         |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin,

    // PQ recall gate: exact brute-force truth vs the PQ face (one source
    // of truth — annPqOracle composed as a subquery, the ann_rank_fusion
    // pattern).
    "pq_recall" ->
      s"""WITH $embCte,
         |ts AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id, round($cosSql, 6) AS score
         |       FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
         |tr AS (SELECT *, row_number() OVER (
         |         PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank FROM ts),
         |truth AS (SELECT query_id, cand_id FROM tr WHERE rank <= 3),
         |approx AS (SELECT query_id, cand_id FROM ($annPqOracle))
         |SELECT t.query_id, CAST(count(*) AS BIGINT) AS k_truth,
         |       CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |       round(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS recall
         |FROM truth t LEFT JOIN approx a
         |  ON t.query_id = a.query_id AND t.cand_id = a.cand_id
         |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin,

    // Bloom-manifest mirror: identical salted positions, 60-bit words,
    // bit_or assembly.
    "shard_bloom_manifest" ->
      s"""WITH pos AS (
         |  SELECT source AS shard, ${h48("'bm0:' || CAST(doc_id AS VARCHAR)")} % 1020 AS pos FROM documents
         |  UNION ALL
         |  SELECT source, ${h48("'bm1:' || CAST(doc_id AS VARCHAR)")} % 1020 FROM documents
         |  UNION ALL
         |  SELECT source, ${h48("'bm2:' || CAST(doc_id AS VARCHAR)")} % 1020 FROM documents),
         |w AS (SELECT shard, pos // 60 AS word,
         |        bit_or(CAST(1 AS BIGINT) << CAST(pos % 60 AS INTEGER)) AS bits
         |      FROM pos GROUP BY 1, 2)
         |SELECT shard, CAST(word AS BIGINT) AS word, bits,
         |       CAST(bit_count(bits) AS BIGINT) AS set_bits
         |FROM w ORDER BY shard, word""".stripMargin,

    // Merge-face mirror: the FULL REBUILD over the unioned corpus — the
    // Spark side merged standing (4/5) + batch (1/5) manifests, and
    // bit_or associativity demands bit-identity with this rebuild.
    "shard_bloom_merge" ->
      s"""WITH pos AS (
         |  SELECT source AS shard, ${h48("'bm0:' || CAST(doc_id AS VARCHAR)")} % 1020 AS pos FROM documents
         |  UNION ALL
         |  SELECT source, ${h48("'bm1:' || CAST(doc_id AS VARCHAR)")} % 1020 FROM documents
         |  UNION ALL
         |  SELECT source, ${h48("'bm2:' || CAST(doc_id AS VARCHAR)")} % 1020 FROM documents),
         |w AS (SELECT shard, pos // 60 AS word,
         |        bit_or(CAST(1 AS BIGINT) << CAST(pos % 60 AS INTEGER)) AS bits
         |      FROM pos GROUP BY 1, 2)
         |SELECT shard, CAST(word AS BIGINT) AS word, bits,
         |       CAST(bit_count(bits) AS BIGINT) AS set_bits
         |FROM w ORDER BY shard, word""".stripMargin,

    // CDC mirror: identical 8-gram h48 boundary rule, cut-list assembly,
    // span arithmetic, chunk md5.
    "cdc_chunks" ->
      s"""WITH base AS (SELECT doc_id, text,
         |  greatest(length(text) - 7, 1) AS n FROM documents),
         |bnd AS (SELECT doc_id, text,
         |  list_filter(range(1, n + 1),
         |    i -> i > 1 AND ${h48("substring(text, CAST(i AS INTEGER), 8)")} % 64 = 0) AS b
         |  FROM base),
         |cuts AS (SELECT doc_id, text,
         |  list_concat(list_concat([CAST(1 AS BIGINT)], b),
         |    [CAST(length(text) + 1 AS BIGINT)]) AS c
         |  FROM bnd),
         |ch AS (SELECT doc_id, text, j,
         |  c[CAST(j AS INTEGER)] AS start,
         |  c[CAST(j + 1 AS INTEGER)] - c[CAST(j AS INTEGER)] AS len
         |  FROM cuts, UNNEST(range(1, len(c))) AS t(j))
         |SELECT doc_id, CAST(j AS BIGINT) AS chunk_idx,
         |  CAST(start AS BIGINT) AS start, CAST(len AS BIGINT) AS chunk_len,
         |  md5(substring(text, CAST(start AS INTEGER), CAST(len AS INTEGER)))
         |    AS chunk_md5
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    "cdc_shared_chunks" ->
      s"""WITH base AS (SELECT doc_id, text,
         |  greatest(length(text) - 7, 1) AS n FROM documents),
         |bnd AS (SELECT doc_id, text,
         |  list_filter(range(1, n + 1),
         |    i -> i > 1 AND ${h48("substring(text, CAST(i AS INTEGER), 8)")} % 64 = 0) AS b
         |  FROM base),
         |cuts AS (SELECT doc_id, text,
         |  list_concat(list_concat([CAST(1 AS BIGINT)], b),
         |    [CAST(length(text) + 1 AS BIGINT)]) AS c
         |  FROM bnd),
         |ch AS (SELECT doc_id, text,
         |  c[CAST(j AS INTEGER)] AS start,
         |  c[CAST(j + 1 AS INTEGER)] - c[CAST(j AS INTEGER)] AS len
         |  FROM cuts, UNNEST(range(1, len(c))) AS t(j)),
         |sel AS (SELECT doc_id, len,
         |  md5(substring(text, CAST(start AS INTEGER), CAST(len AS INTEGER)))
         |    AS chunk_md5
         |  FROM ch)
         |SELECT chunk_md5,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occurrences,
         |  CAST(min(doc_id) AS BIGINT) AS min_doc_id,
         |  CAST(min(len) AS BIGINT) AS chunk_len
         |FROM sel GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY chunk_md5""".stripMargin,

    // Probe mirror: same manifest chain, LEFT JOIN with clear-bit
    // coalesce for absent words, EXISTS ground truth.
    "shard_bloom_probe" ->
      s"""WITH pos AS (
         |  SELECT source AS shard, ${h48("'bm0:' || CAST(doc_id AS VARCHAR)")} % 1020 AS pos FROM documents
         |  UNION ALL
         |  SELECT source, ${h48("'bm1:' || CAST(doc_id AS VARCHAR)")} % 1020 FROM documents
         |  UNION ALL
         |  SELECT source, ${h48("'bm2:' || CAST(doc_id AS VARCHAR)")} % 1020 FROM documents),
         |w AS (SELECT shard, pos // 60 AS word,
         |        bit_or(CAST(1 AS BIGINT) << CAST(pos % 60 AS INTEGER)) AS bits
         |      FROM pos GROUP BY 1, 2),
         |pr AS (SELECT source AS shard,
         |         CASE WHEN doc_id % 3 = 0 THEN doc_id
         |              ELSE doc_id + 1000000 END AS key
         |       FROM documents),
         |ppos AS (
         |  SELECT shard, key, ${h48("'bm0:' || CAST(key AS VARCHAR)")} % 1020 AS pos FROM pr
         |  UNION ALL
         |  SELECT shard, key, ${h48("'bm1:' || CAST(key AS VARCHAR)")} % 1020 FROM pr
         |  UNION ALL
         |  SELECT shard, key, ${h48("'bm2:' || CAST(key AS VARCHAR)")} % 1020 FROM pr),
         |chk AS (
         |  SELECT ppos.shard, ppos.key,
         |    min(CASE WHEN coalesce(w.bits, 0)
         |               & (CAST(1 AS BIGINT) << CAST(ppos.pos % 60 AS INTEGER)) <> 0
         |             THEN 1 ELSE 0 END) AS maybe
         |  FROM ppos LEFT JOIN w
         |    ON w.shard = ppos.shard AND w.word = ppos.pos // 60
         |  GROUP BY 1, 2),
         |tr AS (SELECT DISTINCT source AS shard, doc_id AS key, 1 AS present
         |       FROM documents)
         |SELECT chk.shard, CAST(count(*) AS BIGINT) AS n_probes,
         |       CAST(sum(chk.maybe) AS BIGINT) AS n_maybe,
         |       CAST(sum(coalesce(tr.present, 0)) AS BIGINT) AS n_present
         |FROM chk LEFT JOIN tr ON tr.shard = chk.shard AND tr.key = chk.key
         |GROUP BY 1 ORDER BY 1""".stripMargin)
}
