package graft.operators

import graft.functions.Canonical
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-phase chunked table comparison — the engine's core operator.
  *
  * Re-expresses the reference's `sync_diff_inspector` pipeline
  * (configured at `/root/reference/syncdiff_config2/my_database_users.toml`)
  * as declarative Spark plans:
  *
  *   phase 1 (cheap, full-scan):  per-chunk (count, checksum) on both sides,
  *     full-outer equi-join on chunk_id, keep mismatches   [SURVEY.md J1/A1/C1]
  *   phase 2 (row drill-down):    both sides pruned to bad chunks, full-outer
  *     join on PK, classify missing / extra / mismatch     [SURVEY.md J2]
  *
  * Scale posture (100 TB): phase 1 is one shuffle per side (partial
  * aggregation map-side, 48-bit fingerprints sum without overflow); the bad
  * chunk list is small in the common near-identical case, so phase 2 prunes
  * with either (a) pushed-down PK range predicates when few chunks differ —
  * the parquet scan then skips row groups via min/max stats, the direct
  * analogue of the reference's index-hinted chunk range scans
  * (`my_database_users.toml:21,30`) — or (b) a broadcast semi-join on
  * chunk_id when many differ. Nothing unbounded is collected: the range
  * pushdown path caps the collected chunk list and falls back to (b).
  */
object TableDiff {

  /** Comparison parameters for one table pair.
    *
    * @param pkCols     primary-key columns (row identity — SURVEY.md §1.1)
    * @param chunkBy    numeric leading-PK column used for range chunking
    * @param chunkWidth PK-value width of one chunk (reference chunk-size
    *                   analogue, `config.toml:21`)
    * @param range      free-form SQL row restriction, both sides
    *                   (`my_database_users.toml:46`, default "1 = 1")
    * @param hashBuckets when set, chunk by md5-hash bucket of the row
    *                   fingerprint instead of leading-column ranges — the
    *                   composite / non-numeric PK fallback (SURVEY.md
    *                   §7.4). Hash chunks have no contiguous range
    *                   predicate, so the row pass always uses the
    *                   semi-join / flat tiers. Size the bucket count WELL
    *                   ABOVE the expected number of drifted rows (so most
    *                   buckets stay clean and the semi-join actually
    *                   prunes — VERDICT r03 #2): at 100 TB with
    *                   replication-lag-sized drift, 2^16..2^20 buckets.
    */
  case class DiffSpec(
      pkCols: Seq[String],
      chunkBy: String,
      chunkWidth: Long,
      range: String = "1 = 1",
      hashBuckets: Option[Int] = None,
      crcCompat: Boolean = false)

  /** The row pass takes the range-pushdown tier up to this many MERGED
    * bad-chunk ranges (see [[rowDiff]] for why merged ranges, not ids).
    */
  private val MaxPushdownRanges = 32

  /** The row pass takes the broadcast semi-join tier up to this many bad
    * chunk ids (~800 KB of driver-collected longs); past it, drift is
    * pervasive and the flat full-table join is cheaper.
    */
  private val MaxBroadcastChunks = 100000

  /** Chunk-id expression for a side under the spec's chunking mode. */
  private def chunkCol(df: DataFrame, spec: DiffSpec): Column =
    spec.hashBuckets match {
      case Some(b) =>
        Canonical.chunkIdFromFp(Canonical.fingerprint48(fpCols(df)), b)
      case None => Canonical.chunkId(col(spec.chunkBy), spec.chunkWidth)
    }

  private def fpCols(df: DataFrame): Seq[(Column, org.apache.spark.sql.types.DataType)] =
    df.schema.fields.toSeq.map(f => (col(f.name), f.dataType))

  /** Phase-1 input: side with chunk_id + 48-bit checksum-lane fingerprint
    * (row EQUALITY elsewhere uses the full 128-bit lane — see
    * [[graft.functions.Canonical]] collision discipline).
    */
  def withFingerprint(df: DataFrame, spec: DiffSpec): DataFrame = {
    val base = df.filter(expr(spec.range))
      .withColumn("row_fp", Canonical.fingerprint48(fpCols(df)))
    spec.hashBuckets match {
      // hash mode: ONE md5 per row serves both the checksum lane and the
      // chunk id (VERDICT r03 #2 — the chunk id derives from row_fp, not
      // from a second digest of the PK serial)
      case Some(b) =>
        base.withColumn("chunk_id", Canonical.chunkIdFromFp(col("row_fp"), b))
      case None =>
        base.withColumn("chunk_id",
          Canonical.chunkId(col(spec.chunkBy), spec.chunkWidth))
    }
  }

  /** Per-chunk (row count, commutative checksum). One shuffle; partial agg
    * happens map-side (HashAggregateExec partial/final).
    *
    * `spec.crcCompat` switches the checksum lane from SUM-of-48-bit-md5
    * (the engine default — order-independent AND duplicate-sensitive) to
    * sync_diff_inspector's published `BIT_XOR(CRC32(serial))`, letting a
    * migrating user cross-validate chunk checksums against a live
    * TiDB/MySQL endpoint byte for byte (see [[Canonical.crcRow]] for the
    * construction and the XOR duplicate-blindness caveat that keeps this
    * opt-in). Both lanes are map-side-combining single-shuffle aggregates.
    */
  def chunkChecksums(df: DataFrame, spec: DiffSpec): DataFrame =
    if (spec.crcCompat) {
      // crc lane only — the md5 lane is not computed here unless hash
      // bucketing needs it for the chunk id.
      df.filter(expr(spec.range))
        .withColumn("row_crc", Canonical.crcRow(fpCols(df)))
        .withColumn("chunk_id", chunkCol(df, spec))
        .groupBy("chunk_id")
        .agg(count(lit(1)).as("cnt"), expr("bit_xor(row_crc)").as("checksum"))
    } else
      withFingerprint(df, spec)
        .groupBy("chunk_id")
        .agg(count(lit(1)).as("cnt"), sum(col("row_fp")).as("checksum"))

  /** Joined per-chunk relation of both sides with a badness flag — shared
    * by [[badChunks]] (filter) and [[summary]] (aggregate) so the report
    * path runs ONE chunk-level pass instead of re-running the full diff
    * pipeline per verdict/count.
    */
  private def chunkJoin(up: DataFrame, down: DataFrame, spec: DiffSpec): DataFrame = {
    val u = chunkChecksums(up, spec)
      .withColumnsRenamed(Map("cnt" -> "up_cnt", "checksum" -> "up_checksum"))
    val d = chunkChecksums(down, spec)
      .withColumnsRenamed(Map("cnt" -> "down_cnt", "checksum" -> "down_checksum"))
    u.join(d, Seq("chunk_id"), "full_outer")
      .withColumn("is_bad",
        col("up_cnt").isNull || col("down_cnt").isNull ||
          col("up_cnt") =!= col("down_cnt") ||
          col("up_checksum") =!= col("down_checksum"))
  }

  /** One-pass per-table comparison summary: both row counts plus the
    * bad-chunk tally, from a single chunk-level aggregation (one shuffle
    * per side + one tiny global agg). The report stage uses this instead
    * of recomputing the whole diff pipeline per verdict/count.
    */
  def summary(up: DataFrame, down: DataFrame, spec: DiffSpec): DataFrame =
    chunkJoin(up, down, spec).agg(
      sum(coalesce(col("up_cnt"), lit(0L))).as("upcount"),
      sum(coalesce(col("down_cnt"), lit(0L))).as("downcount"),
      sum(when(col("is_bad"), 1L).otherwise(0L)).as("bad_chunks"))

  /** Chunk-level full-outer diff: chunks present on one side only, or with
    * differing count/checksum. Output is small (bad chunks only).
    */
  def badChunks(up: DataFrame, down: DataFrame, spec: DiffSpec): DataFrame =
    chunkJoin(up, down, spec).filter(col("is_bad")).drop("is_bad")

  /** Bad chunk ids merged into maximal contiguous PK ranges. */
  def mergedRanges(ids: Seq[Long], spec: DiffSpec): List[(Long, Long)] =
    ids.sorted
      .foldLeft[List[(Long, Long)]](Nil) { // merge adjacent chunk ranges
        case ((lo, hi) :: rest, id) if id * spec.chunkWidth == hi + 1 =>
          (lo, (id + 1) * spec.chunkWidth - 1) :: rest
        case (acc, id) =>
          (id * spec.chunkWidth, (id + 1) * spec.chunkWidth - 1) :: acc
      }

  /** Pushed-down PK range predicate covering the given chunk ids: adjacent
    * chunks merge into one `BETWEEN`, so the parquet scan skips clean row
    * groups via min/max stats — the direct analogue of the reference's
    * index-hinted chunk range scans (`my_database_users.toml:21,30`).
    */
  def chunkRangePredicate(ids: Seq[Long], spec: DiffSpec): Column =
    if (ids.isEmpty) lit(false)
    else mergedRanges(ids, spec)
      .map { case (lo, hi) => col(spec.chunkBy).between(lo, hi) }
      .reduce(_ || _)

  /** Semi-join one side down to the given (bad) chunk ids — the phase-2
    * prune tier for chunkings with no contiguous range predicate. Public
    * so the prune's effectiveness is assertable in specs: with buckets ≫
    * drift, this scans FEWER rows than the flat join would.
    */
  def pruneToChunks(df: DataFrame, ids: Seq[Long], spec: DiffSpec): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val idDf = ids.toDF("__bad_chunk_id")
    df.join(broadcast(idDf),
      chunkCol(df, spec) === col("__bad_chunk_id"), "left_semi")
  }

  /** Phase-2 row-level full-outer diff restricted to bad chunks.
    *
    * Output: PK columns (coalesced), diff_kind in
    * {missing_on_down, extra_on_down, value_mismatch}, both fingerprints,
    * and the upstream row's canonical CSV payload (for fix-SQL).
    */
  def rowDiff(up: DataFrame, down: DataFrame, spec: DiffSpec,
              twoPhase: Boolean = true): DataFrame = {

    // Row-level join: equality on the FULL 128-bit md5 lane; repair payload
    // is the executable SQL-literal form (not the fingerprint serial).
    def join(upIn: DataFrame, downIn: DataFrame): DataFrame = {
      val u = upIn.filter(expr(spec.range)).select(
        spec.pkCols.map(col) ++ Seq(
          Canonical.fingerprint(fpCols(up)).as("up_fp"),
          Canonical.sqlValues(fpCols(up)).as("up_vals")): _*)
      val d = downIn.filter(expr(spec.range)).select(
        spec.pkCols.map(col) :+
          Canonical.fingerprint(fpCols(down)).as("down_fp"): _*)
      u.join(d, spec.pkCols, "full_outer")
        .withColumn(
          "diff_kind",
          when(col("down_fp").isNull, lit("missing_on_down"))
            .when(col("up_fp").isNull, lit("extra_on_down"))
            .when(col("up_fp") =!= col("down_fp"), lit("value_mismatch")))
        .filter(col("diff_kind").isNotNull)
        .select((spec.pkCols.map(col) ++
          Seq(col("diff_kind"), col("up_fp"), col("down_fp"), col("up_vals"))): _*)
    }

    if (!twoPhase) return join(up, down)

    // One phase-1 pass collects bad chunk ids (driver memory bounded by
    // MaxBroadcastChunks ≈ 800 KB). Nothing is cached — the previous
    // persist-based variant leaked MEMORY_AND_DISK cache across calls
    // (ADVICE r01).
    val ids = badChunks(up, down, spec).select("chunk_id")
      .limit(MaxBroadcastChunks + 1)
      .collect().map(_.getLong(0)).toSeq

    // The pushdown tier is gated on the count of MERGED ranges, not raw
    // chunk ids: a big OR-of-BETWEEN over scattered singleton chunks
    // costs more per scanned row than a broadcast hash semi-join and
    // skips no row groups (plan-audited at sf0.1: ~190 scattered ranges
    // benched slower than the semi tier). Few/contiguous ranges are the
    // case where min/max stats actually prune IO.
    lazy val ranges = mergedRanges(ids, spec)
    if (spec.hashBuckets.isEmpty && ranges.length <= MaxPushdownRanges) {
      val pred = chunkRangePredicate(ids, spec)
      join(up.filter(pred), down.filter(pred))
    } else if (ids.length <= MaxBroadcastChunks) {
      // Moderate drift: broadcast the id list (local relation — no
      // recompute of phase 1) and semi-join both sides on chunk_id.
      join(pruneToChunks(up, ids, spec), pruneToChunks(down, ids, spec))
    } else {
      // Pervasive drift: pruning would keep ~everything; the flat
      // full-table row join is cheaper than a giant broadcast.
      join(up, down)
    }
  }
}
