package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical, engine-portable row serialization + fingerprinting.
  *
  * The reference's diff engine compares chunks by checksum and rows by value
  * (published `sync_diff_inspector` behavior enabled at
  * `/root/reference/syncdiff_config2/my_database_users.toml:40,45`). To make
  * every checksum independently verifiable by an external SQL oracle
  * (DuckDB), the row hash here is NOT Spark-private (`xxhash64`) but a
  * *portable* construction reproducible in any engine with `md5`:
  *
  *   serial(row)  = concat_ws('|', canonical(col1), ..., canonical(colN))
  *   fp(row)      = md5(serial)                    -- full 128 bits (equality)
  *   fp48(row)    = bigint(first 12 hex of fp)     -- 48 bits (checksum lane)
  *   checksum(S)  = sum(fp48(row) for row in S)    -- commutative
  *
  * Collision discipline (SURVEY.md §7.4): ROW EQUALITY is always decided on
  * the full 128-bit md5 — at 100 TB (~10^11 rows) the birthday bound for a
  * truncated 48-bit lane (~N²/2^49) would silently mask real differences,
  * while 128 bits keep it below 2^-35. The 48-bit truncation exists ONLY
  * inside the per-chunk commutative checksum, where the SUM needs overflow
  * headroom: 48-bit fingerprints summed over <= 2^14-row chunks stay far
  * below 2^63, the sum is order-independent, and partial aggregation
  * (map-side combine) applies — Catalyst plans this as a two-phase
  * HashAggregate with no extra shuffle beyond the groupBy(chunk). A chunk
  * checksum collision is caught downstream by the row pass (full md5), so
  * only a *simultaneous* 48-bit sum collision AND equal row counts could
  * mask a chunk — and that chunk's rows are still compared whenever any
  * other chunk flags.
  *
  * Canonicalization rules (must match the oracle SQL in
  * [[graft.SparkEntry.oracleSql]] exactly):
  *   - integral types: decimal string form
  *   - doubles (money-like, 2dp in fixtures): round(x*100) as bigint —
  *     avoids engine-specific double→string formatting (SURVEY.md §7.4)
  *   - timestamps: epoch milliseconds (UTC session)
  *   - strings: verbatim
  *   - NULL: sentinel "@NULL@" (concat_ws silently drops nulls — SURVEY.md
  *     §7.4 "NULL semantics in row hash")
  *
  * A third, engine-internal lane [[multisetLane]] hashes typed values with
  * a seeded `xxhash64` for the keyless compare's bucket checksums; it is
  * never oracle-checked and never decides row equality.
  */
object Canonical {

  val NullSentinel = "@NULL@"

  /** Epoch milliseconds of a timestamp column, NTZ-safe.
    *
    * Parquet TIMESTAMP(isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ in
    * Spark 4, and `unix_millis` rejects NTZ outright (DATATYPE_MISMATCH) —
    * the r7 `repair_roundtrip` breakage. The engine runs a UTC session, so
    * NTZ→TZ cast is the identity (and a TZ→TZ cast is a no-op), making this
    * the single safe spelling for EVERY fixture timestamp column. All epoch
    * conversions in the codebase must route through here rather than call
    * `unix_millis` raw, so a fixture regeneration flipping TZ-ness cannot
    * break registered plans.
    */
  def epochMs(c: Column): Column = unix_millis(c.cast(TimestampType))

  /** Canonical string form of one column, by declared type. */
  def canonical(c: Column, dt: DataType): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => c.cast(StringType)
    case BooleanType => c.cast(IntegerType).cast(StringType)
    case FloatType | DoubleType =>
      // 2-decimal fixed-point; exact for the fixture money columns and
      // identical to DuckDB's CAST(round(x*100) AS BIGINT).
      round(c.cast(DoubleType) * lit(100)).cast(LongType).cast(StringType)
    case _: DecimalType => c.cast(StringType)
    case TimestampType | TimestampNTZType =>
      // Epoch millis match DuckDB's epoch_ms over the same file; epochMs
      // handles the NTZ case (see its scaladoc).
      epochMs(c).cast(StringType)
    case DateType => c.cast(StringType)
    case StringType => c
    case BinaryType => md5(c)
    case other =>
      // Nested/array types: canonical JSON; not oracle-portable, used only
      // by the engine-internal lane.
      to_json(struct(c.as("v")))
  }

  private def serialize(cols: Seq[(Column, DataType)], sep: String): Column =
    concat_ws(sep, cols.map { case (c, dt) =>
      coalesce(canonical(c, dt), lit(NullSentinel))
    }: _*)

  /** Pipe-joined canonical serialization of the given columns. */
  def serial(cols: Seq[(Column, DataType)]): Column = serialize(cols, "|")

  /** Comma-joined form — sample payload for diff inspection. */
  def serialCsv(cols: Seq[(Column, DataType)]): Column = serialize(cols, ",")

  /** Executable SQL literal form of one column — the repair-statement
    * payload (reference `export-fix-sql`, `my_database_users.toml:8`,
    * emits properly quoted literal values; sync_diff_inspector's published
    * behavior). Distinct from the fingerprint serialization on purpose:
    *   - strings: single-quoted, embedded quotes doubled
    *   - money doubles: original 2dp scale (not the x100 canonical form)
    *   - timestamps: 'yyyy-MM-dd HH:mm:ss.SSSSSS' literals
    *   - NULL: the keyword NULL
    */
  def sqlLiteral(c: Column, dt: DataType): Column = {
    def quoted(s: Column): Column =
      concat(lit("'"), regexp_replace(s, "'", "''"), lit("'"))
    val v = dt match {
      case ByteType | ShortType | IntegerType | LongType => c.cast(StringType)
      case BooleanType => c.cast(IntegerType).cast(StringType)
      case FloatType | DoubleType =>
        c.cast(DecimalType(18, 2)).cast(StringType)
      case _: DecimalType => c.cast(StringType)
      case TimestampType => quoted(date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      case TimestampNTZType =>
        quoted(date_format(c.cast(TimestampType), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      case DateType => quoted(c.cast(StringType))
      case StringType => quoted(c)
      case BinaryType => concat(lit("x'"), hex(c), lit("'"))
      case _ => quoted(to_json(struct(c.as("v"))))
    }
    coalesce(v, lit("NULL"))
  }

  /** Comma-joined executable VALUES payload over the given columns. */
  def sqlValues(cols: Seq[(Column, DataType)]): Column =
    concat_ws(", ", cols.map { case (c, dt) => sqlLiteral(c, dt) }: _*)

  /** Portable full-128-bit row fingerprint (lowercase md5 hex,
    * oracle-reproducible). The ONLY basis for row-equality decisions.
    */
  def fingerprint(cols: Seq[(Column, DataType)]): Column =
    md5(serial(cols))

  /** 48-bit fingerprint for the commutative chunk-checksum lane only —
    * never used alone for row equality (see collision discipline above).
    */
  def fingerprint48(cols: Seq[(Column, DataType)]): Column =
    hex48(md5(serial(cols)))

  /** First 12 hex chars of a hex string, as a bigint (48 bits). */
  def hex48(hexCol: Column): Column =
    conv(substring(hexCol, 1, 12), 16, 10).cast(LongType)

  /** Seeded 64-bit hash of a row's typed values — the additive multiset
    * lane behind [[graft.operators.HashDiff]]'s bucket checksums (Clarke et
    * al., "Incremental Multiset Hash Functions", ASIACRYPT 2003). It skips
    * the string serialization: `xxhash64` runs on the decoded values.
    *
    * Contract:
    *   - Atomic columns (integral, floating, decimal, boolean, date,
    *     timestamp, binary and UTF8_BINARY strings) hash raw. Every
    *     [[canonical]] form is a function of the typed value, so rows with
    *     equal typed values have equal serials: a canonical difference
    *     always changes the lane, while a typed-only one (10.001 vs 10.0)
    *     may change it without changing the md5 fingerprint.
    *   - Array, struct, map, collated-string and every other column type
    *     hash their [[canonical]] JSON/string form: raw hashing skips
    *     nested nulls, and collation-aware hashing folds case.
    *   - Each column enters as the pair (isnull(c), c). Spark's hash skips
    *     nulls, so without the flag (NULL, 5) and (5, NULL) would collide.
    *   - The lane is comparable only between sides with identical column
    *     types (an int 5 and a bigint 5 hash differently).
    *   - It decides bucket ACCEPTANCE only. Row equality is always decided
    *     on the full 128-bit [[fingerprint]].
    */
  def multisetLane(cols: Seq[(Column, DataType)], seed: Long): Column =
    xxhash64(lit(seed) +: cols.flatMap { case (c, dt) =>
      Seq(isnull(c), if (hashesRaw(dt)) c else canonical(c, dt))
    }: _*)

  private def hashesRaw(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | BooleanType | DateType | TimestampType |
         TimestampNTZType | BinaryType | _: DecimalType => true
    case s: StringType => s == StringType // UTF8_BINARY, as in canonical
    case _ => false
  }

  /** MySQL/TiDB-shaped rendering of one column for the CRC-compat lane —
    * the string CONCAT_WS sees when sync_diff_inspector's checksum SQL
    * (`BIT_XOR(CAST(CRC32(CONCAT_WS(',', cols..., CONCAT(ISNULL(col)...)))
    * AS UNSIGNED))`) runs server-side. Byte-identical for integral,
    * decimal, string, date, and second-precision timestamp columns; for
    * FLOAT/DOUBLE the caller should pre-cast to the MySQL column's
    * DECIMAL type (server float formatting is not reproducible bit-for-bit
    * from another engine — same caveat the repair literal lane documents).
    */
  def mysqlRepr(c: Column, dt: DataType): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => c.cast(StringType)
    case BooleanType => c.cast(IntegerType).cast(StringType)
    case _: DecimalType => c.cast(StringType)
    case FloatType | DoubleType => c.cast(StringType)
    case TimestampType | TimestampNTZType =>
      date_format(c.cast(TimestampType), "yyyy-MM-dd HH:mm:ss")
    case DateType => c.cast(StringType)
    case StringType => c
    case _ => c.cast(StringType)
  }

  /** CRC-compat per-row hash (SURVEY §2.5 A1 note): CRC32 over the
    * MySQL-shaped serial, combinable across rows with BIT_XOR — the exact
    * construction sync_diff_inspector issues to both endpoints, letting a
    * user migrating off the reference cross-validate per-chunk checksums
    * against a live TiDB/MySQL byte for byte. XOR (unlike the default
    * lane's SUM of 48-bit fingerprints) is self-inverse — a chunk
    * containing the same row an EVEN number of times XORs to the same
    * value as zero copies — which is why this lane is opt-in compat
    * rather than the default: the md5-sum lane detects duplicate-row
    * drift that BIT_XOR provably cannot.
    */
  def crcRow(cols: Seq[(Column, DataType)]): Column = {
    val nullFlags = concat(cols.map { case (c, _) =>
      isnull(c).cast(IntegerType).cast(StringType)
    }: _*)
    val serial = concat_ws(",",
      cols.map { case (c, dt) => mysqlRepr(c, dt) } :+ nullFlags: _*)
    crc32(serial.cast(BinaryType))
  }

  /** Chunk id from a numeric leading-PK column: contiguous ranges of
    * `width` key values — the file-source analogue of the reference's
    * PK-range chunks (`my_database_users.toml:45`, chunk-size 5000).
    * Positive keys only in fixtures; floor handles negatives too.
    */
  def chunkId(pk: Column, width: Long): Column =
    floor(pk / lit(width)).cast(LongType)

  /** Hash-bucket chunk id for arbitrary (composite / non-numeric) PK
    * tables — the fallback when no numeric leading PK supports range
    * chunks (SURVEY.md §7.4). Derived from the row's OWN 48-bit
    * checksum-lane fingerprint, so the one md5 already paid for the
    * chunk checksum also yields the chunk id (the r3 form digested the
    * PK serial a second time per row — VERDICT r03 #2). A mutated row's
    * two versions may land in different buckets; each such bucket then
    * flags by row count, so detection is preserved, and the row pass
    * re-verifies everything on the full 128-bit lane as always. Buckets
    * lose the range-pushdown row pass (no contiguous predicate exists),
    * so the row drill-down uses the semi-join/flat tiers instead.
    */
  def chunkIdFromFp(fp48: Column, buckets: Int): Column =
    pmod(fp48, lit(buckets.toLong))
}
