package graft

import graft.streaming.StreamingDiff
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

class StreamingCdcSpec extends SparkSpec {
  import spark.implicits._
  import graft.streaming.StreamingCdc
  import graft.streaming.StreamingCdc.{Change, Current}

  test("latest-wins upsert state: late versions cannot regress, deletes tombstone") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Change]
    val q = StreamingCdc.latestWins(mem.toDS())
      .writeStream.format("memory").queryName("cdc_cur")
      .outputMode("update").start()
    try {
      // wave 1: inserts for 1..4; k=2 updated; k=3's v2 arrives FIRST
      mem.addData(
        Change(1, 0, "I", "A", 100), Change(2, 0, "I", "A", 200),
        Change(3, 0, "I", "B", 300), Change(4, 0, "I", "B", 400),
        Change(2, 1, "U", "A", 250), Change(3, 2, "U", "B", 390))
      q.processAllAvailable()
      // wave 2: k=3's v1 arrives LATE (must not regress v2); k=4 deleted
      mem.addData(Change(3, 1, "U", "B", 350), Change(4, 1, "D", "B", 400))
      q.processAllAvailable()
      // latest emission per key = the key's current row
      val cur = spark.table("cdc_cur").as[Current].collect()
        .groupBy(_.k).map { case (_, rows) => rows.maxBy(_.version) }
      val live = cur.filter(_.op != "D").map(c => (c.k, c.version, c.cents))
      assert(live.toSet == Set((1L, 0L, 100L), (2L, 1L, 250L), (3L, 2L, 390L)))
      assert(cur.find(_.k == 4).map(_.op).contains("D")) // tombstone emitted
      // replay equals the batch collapse: max_by(struct, version) per key
      val batchCur = Seq(
        Change(1, 0, "I", "A", 100), Change(2, 0, "I", "A", 200),
        Change(3, 0, "I", "B", 300), Change(4, 0, "I", "B", 400),
        Change(2, 1, "U", "A", 250), Change(3, 2, "U", "B", 390),
        Change(3, 1, "U", "B", 350), Change(4, 1, "D", "B", 400))
        .toDS().groupBy(col("k"))
        .agg(max_by(struct(col("version"), col("op"), col("cents")),
          col("version")).as("c"))
        .filter(col("c.op") =!= "D")
        .select(col("k"), col("c.version"), col("c.cents"))
        .as[(Long, Long, Long)].collect().toSet
      assert(batchCur == live.toSet.map((t: (Long, Long, Long)) => t))
    } finally q.stop()
  }
}

class StreamingChunkerSpec extends SparkSpec {
  import spark.implicits._
  import graft.streaming.StreamingChunker
  import graft.streaming.StreamingChunker.{Chunk, Delta}

  test("streaming CDC chunk replay is bit-identical to the batch face") {
    implicit val sc = spark.sqlContext
    // fixture docs (incl. multi-chunk ones) + a surrogate-pair doc, each
    // split into 3 code-point-boundary deltas delivered over 3 batches
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1).take(40).toSeq
    val emoji = (9999L,
      (1 to 60).map(i => s"🦀 streamed crab segment $i 🚀").mkString(" "))
    val docs = base :+ emoji
    def cpSplit3(s: String): Seq[String] = {
      val cp = s.codePointCount(0, s.length)
      val cuts = Seq(0, cp / 3, 2 * cp / 3, cp)
      cuts.sliding(2).map { case Seq(a, b) =>
        val ca = s.offsetByCodePoints(0, a)
        s.substring(ca, s.offsetByCodePoints(ca, b - a))
      }.toSeq
    }
    val waves: Seq[Seq[Delta]] = (0 until 3).map { w =>
      docs.map { case (id, t) => Delta(id, w, cpSplit3(t)(w), fin = false) }
    } :+ docs.map { case (id, _) => Delta(id, 3, "", fin = true) }

    val mem = MemoryStream[Delta]
    val q = StreamingChunker.chunkStream(mem.toDS())
      .writeStream.format("memory").queryName("cdc_stream")
      .outputMode("append").start()
    try {
      waves.foreach { w => mem.addData(w: _*); q.processAllAvailable() }
      val streamed = spark.table("cdc_stream").as[Chunk].collect()
        .map(c => (c.doc_id, c.chunk_idx, c.start, c.chunk_len, c.chunk_md5))
        .toSet
      val batchChunks = graft.operators.TextAnalysis.cdcChunks(
          docs.toDF("doc_id", "text"))
        .select("doc_id", "chunk_idx", "start", "chunk_len", "chunk_md5")
        .as[(Long, Long, Long, Long, String)].collect().toSet
      assert(streamed == batchChunks,
        "streamed chunk replay must equal the batch cdc_chunks face")
      assert(streamed.map(_._1).contains(9999L))
      assert(batchChunks.count(_._1 == 9999L) >= 2,
        "emoji doc should produce multiple chunks to make the test real")
    } finally q.stop()
  }

  test("mid-stream chunks are emitted before fin and state stays bounded") {
    // pure-fold check of the same advance() the operator runs: a long doc
    // appended in many small deltas must ship closed chunks as they
    // confirm, with the open tail (state) never holding the whole doc
    val text = (1 to 400).map(i => s"bounded tail check $i").mkString(" ")
    val pieces = text.grouped(37).toSeq
    var st = StreamingChunker.Tail(0L, 1L, "")
    var emitted = Vector.empty[Chunk]
    var maxTail = 0
    pieces.zipWithIndex.foreach { case (p, i) =>
      val (next, out) = StreamingChunker.advance(
        7L, st, Seq(Delta(7L, i.toLong, p, fin = false)), 64)
      st = next
      emitted ++= out
      maxTail = math.max(maxTail, next.tail.length)
    }
    val (fin, last) = StreamingChunker.advance(
      7L, st, Seq(Delta(7L, 9999L, "", fin = true)), 64)
    emitted ++= last
    assert(emitted.nonEmpty && emitted.size >= 3)
    assert(maxTail < text.length,
      "open-tail state must stay bounded below the document length")
    assert(fin.tail.isEmpty)
    // and the fold agrees with the single-shot fold over the whole text
    val (_, oneShot) = StreamingChunker.advance(7L,
      StreamingChunker.Tail(0L, 1L, ""),
      Seq(Delta(7L, 0L, text, fin = false), Delta(7L, 1L, "", fin = true)), 64)
    assert(emitted == oneShot.toVector)
  }
}

class StreamingManifestSpec extends SparkSpec {
  import spark.implicits._
  import graft.streaming.StreamingManifest
  import graft.streaming.StreamingManifest.{KeyIngest, WordBits}

  test("streamed manifest replay equals the batch-built manifest") {
    implicit val sc = spark.sqlContext
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source", "doc_id").as[(String, Long)].collect().toSeq
    // three waves with overlap: idempotent bit_or must absorb replays
    val waves = Seq(
      docs.take(docs.size / 2),
      docs.drop(docs.size / 3), // overlaps wave 1
      docs.take(10)) // pure replay
    val mem = MemoryStream[KeyIngest]
    val q = StreamingManifest.maintain(mem.toDS())
      .writeStream.format("memory").queryName("mf_stream")
      .outputMode("update").start()
    try {
      waves.foreach { w =>
        mem.addData(w.map { case (s, k) => KeyIngest(s, k) }: _*)
        q.processAllAvailable()
      }
      // the group's emissions form a monotonic bit_or chain, so the final
      // bitmap is the OR-fold over them (collect order irrelevant)
      val streamed = spark.table("mf_stream").as[WordBits].collect()
        .groupBy(w => (w.shard, w.word))
        .map { case ((shard, word), rows) =>
          val bits = rows.map(_.bits).reduce(_ | _)
          (shard, word, bits, java.lang.Long.bitCount(bits).toLong)
        }.toSet
      val batch = graft.operators.BloomManifest.manifest(
          docs.toDF("source", "doc_id"), "source", "doc_id")
        .select("shard", "word", "bits", "set_bits")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        "streamed manifest must equal the batch build bit-for-bit")
    } finally q.stop()
  }
}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)

  private val batch = Seq(
    Ev(1, ts(0), 10, "click", 1.5),
    Ev(2, ts(10), 11, "click", 2.5),
    Ev(3, ts(70), 10, "error", 3.5),
    Ev(4, ts(80), 12, "click", 4.5))

  test("streaming windowed checksums converge to the batch answer") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val stream = StreamingDiff.windowedChecksums(
      mem.toDF(), "1 hour", watermark = Some("10 minutes"))
    val q = stream.writeStream
      .format("memory").queryName("win_chk").outputMode("complete").start()
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
      val got = spark.table("win_chk")
        .orderBy("window_start", "event_type").collect().toSeq
      val want = StreamingDiff.windowedChecksums(batch.toDF(), "1 hour")
        .orderBy("window_start", "event_type").collect().toSeq
      assert(got == want)
      assert(want.size == 3) // (h0 click), (h1 click), (h1 error)
    } finally q.stop()
  }

  test("dual-stream windowed diff surfaces exactly the drifted windows (streaming face)") {
    implicit val sc = spark.sqlContext
    val up = MemoryStream[Ev]
    val down = MemoryStream[Ev]
    val q = StreamingDiff.windowedDiff(
      up.toDF(), down.toDF(), "1 hour", watermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("win_diff")
      .outputMode("complete").start()
    try {
      // downstream drops event 2 (h0) and mutates event 3's value (h1
      // error window); the h1 click window (event 4) stays clean
      val downBatch = Seq(batch(0), batch(2).copy(value = 9.9), batch(3))
      up.addData(batch: _*)
      down.addData(downBatch: _*)
      q.processAllAvailable()
      val got = spark.table("win_diff")
        .orderBy("window_start", "event_type").collect().toSeq
      val want = StreamingDiff.windowedDiff(
        batch.toDF(), downBatch.toDF(), "1 hour")
        .orderBy("window_start", "event_type").collect().toSeq
      assert(got == want)
      assert(want.size == 2) // (h0 click count drift), (h1 error checksum drift)
      val counts = got.map(r => (r.getLong(2), r.getLong(4))) // (up_cnt, down_cnt)
      assert(counts.contains((2L, 1L))) // the dropped h0 click
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingDiff.dedupStream(mem.toDF(), "1 hour")
      .writeStream.format("memory").queryName("dedup_ev")
      .outputMode("append").start()
    try {
      mem.addData(batch ++ Seq(batch(0), batch(1)): _*) // re-deliver 2 events
      q.processAllAvailable()
      assert(spark.table("dedup_ev").count() == batch.size)
    } finally q.stop()
  }

  test("flatMapGroupsWithState tracker accumulates count and checksum") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val q = StreamingDiff.trackChunks(mem.toDS())
      .writeStream.format("memory").queryName("chunk_track")
      .outputMode("append").start()
    try {
      mem.addData(("a", 5L), ("a", 7L), ("b", 11L))
      q.processAllAvailable()
      mem.addData(("a", 13L))
      q.processAllAvailable()
      val last = spark.table("chunk_track")
        .groupBy("event_type")
        .agg(max(struct(col("cnt"), col("checksum"))).as("m"))
        .select(col("event_type"), col("m.cnt"), col("m.checksum"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(last("a") == ((3L, 25L)))
      assert(last("b") == ((1L, 11L)))
    } finally q.stop()
  }
}

class EngineConfSpec extends SparkSpec {
  import graft.conf.EngineConf

  private val toml =
    """# engine config
      |[connection]
      |master_ip = "10.0.0.1"
      |master_port = "4000"
      |master_user = "root"
      |master_password = "cGFzc3dvcmQ="
      |slave_ip = "10.0.0.2"
      |slave_port = "4000"
      |slave_user = "ro"
      |slave_password = "plain!pw"
      |check_sql = "SELECT schema_name, table_name FROM graft_manifest"
      |thread_count = "8"
      |chunk_size = "5000"
      |output_dir = "/tmp/out"
      |""".stripMargin

  test("parse decodes base64 passwords and falls back to plaintext") {
    val c = EngineConf.parse(toml)
    assert(c.master.password == "password") // decoded
    assert(c.slave.password == "plain!pw") // fallback verbatim
    assert(c.threadCount == 8 && c.chunkSize == 5000L)
  }

  test("missing required keys are reported") {
    val e = intercept[IllegalArgumentException] {
      EngineConf.parse("master_ip = \"x\"")
    }
    assert(e.getMessage.contains("check_sql"))
  }

  test("masked form never leaks the password") {
    val c = EngineConf.parse(toml)
    assert(!c.master.masked.contains("password"))
    assert(c.master.masked.contains("****"))
  }

  test("check_struct_only parses from either key spelling, defaults false") {
    assert(!EngineConf.parse(toml).structOnly)
    assert(EngineConf.parse(toml + "check_struct_only = \"true\"\n").structOnly)
    assert(EngineConf.parse(toml + "check-struct-only = \"true\"\n").structOnly)
    val t = EngineConf.renderTaskToml(
      EngineConf.parse(toml + "check_struct_only = \"true\"\n"), "main", "orders", "r1")
    assert(t.contains("check-struct-only = true"))
  }

  test("task TOML renders per-table with run id") {
    val t = EngineConf.renderTaskToml(EngineConf.parse(toml), "main", "orders", "r1")
    assert(t.contains("target-check-tables = [\"main.orders\"]"))
    assert(t.contains("output-dir = \"/tmp/out/main_orders_r1\""))
    assert(!t.contains("password")) // credentials never serialized to task files
  }
}

class OrchestrateSpec extends SparkSpec {
  import graft.operators._

  test("runAll produces per-table verdicts, totals, and exit code") {
    val specs = Map(
      "orders" -> TableDiff.DiffSpec(Seq("o_orderkey"), "o_orderkey", 500),
      "events" -> TableDiff.DiffSpec(Seq("event_id"), "event_id", 500))
    def down(table: String, up: org.apache.spark.sql.DataFrame) =
      if (table == "orders") Perturb.ordersDownstream(up) else up
    val rep = Orchestrate.runAll(spark, sfDir,
      Discover.defaultCheckSql(500), down, specs)
    val rows = rep.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(rows("orders") == "diff")
    assert(rows("events") == "ok")
    assert(rows("lineitem") == "ok") // keyless path, identity downstream
    assert(rows.contains("TOTAL"))
    assert(Report.exitCode(rep) == 1)
  }

  test("check-struct-only skips the data stage entirely") {
    // downstream whose DATA is poisoned (any row-level action throws) but
    // whose schema is intact: struct-only must succeed — proof no data
    // job ran — while the full run fails on the first data action
    def poisoned(table: String, up: org.apache.spark.sql.DataFrame) = {
      val boom = org.apache.spark.sql.functions.udf { (_: Long) =>
        throw new IllegalStateException("data stage ran"); 0L
      }
      val pk = up.columns.head
      up.withColumn(pk, boom(org.apache.spark.sql.functions.col(pk)))
        .select(up.columns.map(org.apache.spark.sql.functions.col): _*)
    }
    val rep = Orchestrate.runAll(spark, sfDir,
      Discover.defaultCheckSql(500), poisoned, Map.empty, structOnly = true)
      .collect().map(r => (r.getString(0), r.getString(2), r.getLong(3)))
    assert(rep.nonEmpty)
    assert(rep.filter(_._1 != "TOTAL").forall(r => r._2 == "skipped" && r._3 == 0L))
    intercept[Exception] {
      Orchestrate.runAll(spark, sfDir,
        Discover.defaultCheckSql(500), poisoned, Map.empty).collect()
    }
  }

  test("parallel table execution matches serial") {
    val specs = Map(
      "orders" -> TableDiff.DiffSpec(Seq("o_orderkey"), "o_orderkey", 500))
    def down(table: String, up: org.apache.spark.sql.DataFrame) = up
    val serial = Orchestrate.runAll(spark, sfDir,
      Discover.defaultCheckSql(500), down, specs).collect().toSeq
    val par = Orchestrate.runAll(spark, sfDir,
      Discover.defaultCheckSql(500), down, specs, tableParallelism = 3)
      .collect().toSeq
    assert(serial == par)
  }
}

case class VecRow(vec_id: Long, embedding: Seq[Float])

class StreamingIndexSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.{ProductQuant, Similarity}
  import org.apache.spark.sql.functions.col

  test("ANN index ingest is a stateless streaming projection: replay == batch") {
    // The stream twin of `pq_incremental_encode`, with NO wrapper code:
    // encodeWithBook is a pure projection over a frozen codebook, so
    // the SAME batch face runs under Structured Streaming in append
    // mode — no state store, no watermark — and two micro-batches must
    // produce bit-identical codes to the one-pass batch encode.
    implicit val sc = spark.sqlContext
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val d = Similarity.dimOf(emb)
    val book = ProductQuant.collectCodebook(
      ProductQuant.codebook(emb.filter(col("vec_id") < 300), d))
    val rows = emb.as[VecRow].collect().toSeq
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[VecRow]
    val q = ProductQuant.encodeWithBook(mem.toDF(), book, d)
      .writeStream.format("memory").queryName("pq_stream_ingest")
      .outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      mem.addData(a: _*)
      q.processAllAvailable()
      mem.addData(b: _*)
      q.processAllAvailable()
      val got = spark.table("pq_stream_ingest")
        .as[(Long, Int, Long)].collect().toSet
      val want = ProductQuant.encodeWithBook(emb, book, d)
        .as[(Long, Int, Long)].collect().toSet
      assert(got.nonEmpty && got == want)
    } finally q.stop()
  }
}

class StreamingPartitionedIndexSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.{ProductQuant, Similarity}
  import org.apache.spark.sql.functions.col

  test("streamed micro-batch appends build the same partitioned index as one shot") {
    // The streaming twin of ann_ivfadc_ingest (VERDICT r13 #7): both
    // quantizers freeze up front, each micro-batch encodes against the
    // frozen books inside foreachBatch and APPENDS into the same
    // ccid-partitioned layout ProductQuant.ivfadcBuildIndex writes —
    // the code relation is a pure per-row function of the books, so
    // replay must equal the one-shot build row-for-row and
    // list-for-list.
    implicit val sc = spark.sqlContext
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").filter(col("embedding").isNotNull)
    val d = Similarity.dimOf(emb)
    val books = ProductQuant.trainBooks(emb, ProductQuant.Scheme.Flat, 16, d)
    val streamDir = Scratch.dir("stream_pidx_")
    val rows = emb.as[VecRow].collect().toSeq
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[VecRow]
    val q = mem.toDF().writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          ProductQuant.writeIndex(
            ProductQuant.codesWith(batch.toDF(), books, d,
              spread = false),
            streamDir, mode = "append")
          ()
      }
      .start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      mem.addData(a: _*)
      q.processAllAvailable()
      mem.addData(b: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batchDir = Scratch.dir("batch_pidx_")
    ProductQuant.ivfadcBuildIndex(emb, batchDir, 16, Some(d))
    def codes(dir: String): Set[Seq[Any]] = spark.read.parquet(dir)
      .select("vec_id", "ccid", "sub", "code")
      .collect().map(_.toSeq).toSet
    val got = codes(streamDir)
    assert(got.nonEmpty && got == codes(batchDir),
      "streamed appends must reproduce the one-shot index relation")
    // identical inverted-list layout: same partition directory set
    def lists(dir: String): Set[String] =
      new java.io.File(dir).list().filter(_.startsWith("ccid=")).toSet
    assert(lists(streamDir) == lists(batchDir))
    // the layout audit sees what streaming ingest costs physically:
    // per-batch appends stack one file per batch per touched list,
    // exactly the split_files condition it exists to surface (the
    // compaction trigger at 100 TB)
    val audit = ProductQuant.indexLayoutAudit(spark, streamDir).collect()
    assert(audit.exists(_.getString(4) == "split_files"))
  }

  test("per-epoch generation publishing: reader-atomic refresh under a stream") {
    // The streaming face of the versioned store (r15): each micro-batch
    // APPENDS its codes into a staging dir (the additive-ingest half)
    // and then PUBLISHES the cumulative snapshot as a new generation —
    // the refresh cadence a 100 TB embed store runs (readers always
    // resolve a complete immutable generation; the pointer flips
    // between epochs, never mid-scan).
    implicit val sc = spark.sqlContext
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").filter(col("embedding").isNotNull)
    val d = Similarity.dimOf(emb)
    val books = ProductQuant.trainBooks(emb, ProductQuant.Scheme.Flat, 16, d)
    val staging = Scratch.dir("stream_stage_")
    val store = Scratch.dir("stream_store_")
    val rows = emb.as[VecRow].collect().toSeq
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[VecRow]
    val q = mem.toDF().writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          ProductQuant.writeIndex(
            ProductQuant.codesWith(batch.toDF(), books, d,
              spread = false),
            staging, mode = "append")
          ProductQuant.publishIndex(spark, store,
            spark.read.parquet(staging)
              .select(col("vec_id"), col("ccid").cast("int").as("ccid"),
                col("sub"), col("code")))
          ()
      }
      .start()
    val (a, b) = rows.splitAt(rows.length / 2)
    val heldSnapshot = try {
      mem.addData(a: _*)
      q.processAllAvailable()
      assert(ProductQuant.currentGeneration(spark, store).map(_._1)
        .contains(1))
      // a reader resolves generation 1 and holds it across the next
      // epoch's publish (canonical column order: the partition column
      // reads back LAST and as its partition type, so project like
      // every real probe does)
      val held = spark.read.parquet(
          ProductQuant.currentIndexDir(spark, store))
        .select(col("vec_id"), col("ccid").cast("int").as("ccid"),
          col("sub"), col("code"))
      val snap = held.collect().map(_.toSeq).toSet
      mem.addData(b: _*)
      q.processAllAvailable()
      // the held relation is untouched by the v2 publish
      assert(held.collect().map(_.toSeq).toSet == snap)
      snap
    } finally q.stop()
    assert(ProductQuant.currentGeneration(spark, store).map(_._1)
      .contains(2))
    // the live generation equals the one-shot build of everything seen
    val batchDir = Scratch.dir("batch_store_")
    ProductQuant.ivfadcBuildIndex(emb, batchDir, 16, Some(d))
    def codes(dir: String): Set[Seq[Any]] = spark.read.parquet(dir)
      .select(col("vec_id"), col("ccid").cast("int"), col("sub"),
        col("code"))
      .collect().map(_.toSeq).toSet
    val live = codes(ProductQuant.currentIndexDir(spark, store))
    assert(live == codes(batchDir),
      "epoch-published generation must equal the one-shot index")
    assert(heldSnapshot.subsetOf(live), "epochs are additive")
    // retention: prune to the live generation only
    assert(ProductQuant.pruneGenerations(spark, store, keep = 1) == Seq(1))
    assert(ProductQuant.currentGeneration(spark, store).map(_._1)
      .contains(2))
  }

  test("streaming deletes: between-epoch tombstones hit the next probe; compaction drops them (r16 #4)") {
    // the delete half of the per-epoch publisher (VERDICT r16 #4):
    // delete events arriving BETWEEN epochs feed writeTombstones, the
    // very next store probe reflects them (including deletes of ids
    // that only ARRIVE in a later epoch — the standing sidecar filters
    // every generation), and the epoch-N compaction applies them
    // physically — replay == the batch index_tombstone_compact /
    // index_tombstone_gc semantics, bit for bit.
    implicit val sc = spark.sqlContext
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").filter(col("embedding").isNotNull)
    val d = Similarity.dimOf(emb)
    val books = ProductQuant.trainBooks(emb, ProductQuant.Scheme.Flat, 16, d)
    val staging = Scratch.dir("stream_del_stage_")
    val store = Scratch.dir("stream_del_store_")
    val rows = emb.as[VecRow].collect().toSeq
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[VecRow]
    val q = mem.toDF().writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          ProductQuant.writeIndex(
            ProductQuant.codesWith(batch.toDF(), books, d,
              spread = false),
            staging, mode = "append")
          // each epoch publishes a SELF-DESCRIBING generation: the
          // between-epoch probes below load books from the store
          ProductQuant.publishIndex(spark, store,
            spark.read.parquet(staging)
              .select(col("vec_id"), col("ccid").cast("int").as("ccid"),
                col("sub"), col("code")),
            books = Some(books))
          ()
      }
      .start()
    def probe() = ProductQuant.ivfadcProbeStore(emb, col("vec_id") < 30,
        3, store, dim = Some(d))
      .select("cand_id").collect().map(_.getLong(0)).toSet
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      mem.addData(a: _*)
      q.processAllAvailable()
      // delete events land between epoch 1 and epoch 2 — the whole
      // %9=3 cohort, including ids epoch 2 hasn't ingested yet
      ProductQuant.writeTombstones(spark, store,
        emb.filter(col("vec_id") % 9 === 3).select("vec_id"))
      val afterDelete = probe()
      assert(afterDelete.nonEmpty && afterDelete.forall(_ % 9 != 3),
        "a tombstoned vector survived the next probe")
      mem.addData(b: _*)
      q.processAllAvailable()
      // the standing sidecar filters epoch 2's generation too — a
      // delete of a late-arriving id takes effect the moment the id
      // appears
      assert(probe().forall(_ % 9 != 3),
        "a tombstoned late-arrival was retrievable after its epoch")
    } finally q.stop()
    // epoch-N compaction applies the deletes physically: the live
    // generation equals the one-shot encode of everything-seen MINUS
    // the deleted cohort, under the same frozen books
    val preCompact = probe()
    ProductQuant.compactStore(spark, store)
    def codes(dir: String): Set[Seq[Any]] = spark.read.parquet(dir)
      .select(col("vec_id"), col("ccid").cast("int"), col("sub"),
        col("code")).collect().map(_.toSeq).toSet
    val want = ProductQuant.codesWith(
        emb.filter(col("vec_id") % 9 =!= 3), books, d)
      .select(col("vec_id"), col("ccid").cast("int"), col("sub"),
        col("code")).collect().map(_.toSeq).toSet
    assert(codes(ProductQuant.currentIndexDir(spark, store)) == want,
      "compacted generation != one-shot encode of the undeleted corpus")
    // filter-at-probe == physical-removal, across the stream's epochs
    assert(probe() == preCompact,
      "probe answer changed across the compaction")
    // once retention drops the dirty epochs, GC removes the sidecar
    ProductQuant.pruneGenerations(spark, store, keep = 1)
    ProductQuant.compactStore(spark, store)
    assert(ProductQuant.tombstones(spark, store).isEmpty,
      "sidecar survived with no retained generation containing its ids")
  }
}
