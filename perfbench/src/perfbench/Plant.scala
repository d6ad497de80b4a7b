package perfbench

/** Seeded drift planter for the orders table.
  *
  * Drift is a row-local function of (seed, key): [[Plant.kind]] decides,
  * for every key of the domain `[0, n + extChunks * width)`, whether the
  * downstream drops the upstream row (missing), changes one value
  * (mutated), keeps it, or (for keys past the upstream's last key) holds
  * a row the upstream never had (extra). The same function writes the
  * downstream (as a UDF) and, evaluated on the driver, gives the expected
  * key sets, bad chunks, merged ranges and drill-down tier.
  */
object Plant {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{col, udf, when}

  val ChunkWidth = 5000L
  // TableDiff.DiffSpec defaults: the thresholds that pick rowDiff's tier
  val MaxPushdownRanges = 32
  val MaxBroadcastChunks = 100000

  val Keep = 0
  val Missing = 1
  val Mutated = 2
  val Extra = 3
  val Absent = 4

  /** One drift regime: its own rule over keys plus the tier it targets. */
  sealed abstract class Regime(val name: String, val extChunks: Int,
                               val tier: String)
  case object NoDrift extends Regime("none", 0, "none")
  /** A seed-placed window of adjacent chunks, plus extras right past the
    * last key: at most two merged ranges, so rowDiff prunes by PK range. */
  case object Contiguous extends Regime("contiguous", 1, "range") {
    val windowChunks = 4
    val p = 0.02
  }
  /** ~40% of chunks carry one drifted row each: many singleton ranges, so
    * rowDiff semi-joins on a broadcast chunk-id list. */
  case object Scattered extends Regime("scattered", 20, "semi") {
    val p = 0.4
  }
  /** ~3% of rows in every chunk: all chunks merge into one range, so the
    * range tier covers the whole table. */
  case object Pervasive extends Regime("pervasive", 1, "range") {
    val p = 0.03
  }

  /** splitmix64 finalizer. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1) from (seed, a, lane). */
  def unit(seed: Long, a: Long, lane: Int): Double =
    (mix(mix(mix(seed) ^ a) + lane) >>> 11).toDouble / (1L << 53).toDouble

  private def upKind(seed: Long, key: Long): Int =
    if (unit(seed, key, 2) < 0.5) Missing else Mutated

  /** Drift kind of `key` under `regime`, for an upstream of keys
    * `0 until n`. */
  def kind(regime: Regime, seed: Long, n: Long, key: Long): Int = {
    val inUp = key >= 0 && key < n
    val drifted: Boolean = regime match {
      case NoDrift => false
      case Contiguous =>
        val chunks = n / ChunkWidth
        val start = (unit(seed, -1L, 0) *
          (chunks - Contiguous.windowChunks + 1)).toLong * ChunkWidth
        val inWindow = key >= start && key < start + Contiguous.windowChunks * ChunkWidth
        (inWindow || !inUp) && unit(seed, key, 1) < Contiguous.p
      case Scattered =>
        val chunk = Math.floorDiv(key, ChunkWidth)
        unit(seed, chunk, 3) < Scattered.p &&
          Math.floorMod(key, ChunkWidth) ==
            (unit(seed, chunk, 4) * ChunkWidth).toLong
      case Pervasive => unit(seed, key, 1) < Pervasive.p
    }
    if (inUp) { if (drifted) upKind(seed, key) else Keep }
    else if (drifted) Extra else Absent
  }

  /** Everything the plant implies for one (regime, seed, n). */
  final case class Expected(missing: Array[Long], mutated: Array[Long],
                            extra: Array[Long], badChunks: Array[Long],
                            mergedRanges: Int, tier: String) {
    def drifted: Int = missing.length + mutated.length + extra.length
    def replaceKeys: Array[Long] = (missing ++ mutated).sorted
  }

  /** Number of maximal runs of consecutive ids in a sorted id list. */
  def runs(sorted: Array[Long]): Int =
    sorted.indices.count(i => i == 0 || sorted(i) != sorted(i - 1) + 1)

  /** The tier TableDiff.rowDiff picks for these bad chunks (range-chunked
    * spec with default thresholds). */
  def tierOf(badChunks: Int, mergedRanges: Int): String =
    if (badChunks == 0) "none"
    else if (mergedRanges <= MaxPushdownRanges) "range"
    else if (badChunks <= MaxBroadcastChunks) "semi"
    else "flat"

  /** Why a workload must not run with this seed, if it must not: the
    * plant would put it on another tier than the one it targets, leave
    * out a drift kind, or (pervasive) leave a chunk clean. */
  def refusal(regime: Regime, seed: Long, n: Long, e: Expected): Option[String] =
    if (regime == NoDrift) None
    else if (regime.extChunks * ChunkWidth > n)
      Some(s"an upstream of $n rows is too small to copy extras from")
    else if (e.tier != regime.tier)
      Some(s"seed $seed puts ${regime.name} drift on the ${e.tier} tier " +
        s"(${e.badChunks.length} bad chunks, ${e.mergedRanges} merged " +
        s"ranges); it targets the ${regime.tier} tier")
    else if (Seq(e.missing, e.mutated, e.extra).exists(_.isEmpty))
      Some(s"seed $seed plants no row of some drift kind")
    else if (regime == Pervasive && (e.mergedRanges != 1 ||
        e.badChunks.length != n / ChunkWidth + regime.extChunks))
      Some(s"seed $seed leaves a chunk clean under pervasive drift")
    else None

  def expected(regime: Regime, seed: Long, n: Long): Expected = {
    val missing, mutated, extra = Array.newBuilder[Long]
    val bad = scala.collection.mutable.TreeSet[Long]()
    val end = n + regime.extChunks * ChunkWidth
    var k = 0L
    while (k < end) {
      val kd = kind(regime, seed, n, k)
      kd match {
        case Missing => missing += k
        case Mutated => mutated += k
        case Extra => extra += k
        case _ =>
      }
      if (kd == Missing || kd == Mutated || kd == Extra)
        bad += Math.floorDiv(k, ChunkWidth)
      k += 1
    }
    val chunks = bad.toArray
    val ranges = runs(chunks)
    Expected(missing.result(), mutated.result(), extra.result(), chunks,
      ranges, tierOf(chunks.length, ranges))
  }

  /** The drifted downstream of an orders relation whose keys are
    * `0 until n`, with n at least `extChunks` chunks: missing rows dropped, mutated rows with o_totalprice
    * raised by 1.00, extras copied from the first rows and re-keyed past
    * the last key. */
  def downstream(up: DataFrame, regime: Regime, seed: Long, n: Long): DataFrame = {
    val kindOf = udf((k: Long) => kind(regime, seed, n, k))
    val key = col("o_orderkey")
    val kept = up.withColumn("__kind", kindOf(key))
      .filter(col("__kind") =!= Missing)
      .withColumn("o_totalprice",
        when(col("__kind") === Mutated, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      .drop("__kind")
    val extra = up.filter(key < regime.extChunks * ChunkWidth)
      .withColumn("o_orderkey", key + n)
      .filter(kindOf(col("o_orderkey")) === Extra)
    kept.unionByName(extra)
  }
}
