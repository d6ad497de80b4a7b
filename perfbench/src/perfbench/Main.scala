package perfbench

import graft.{GraftExtensions, Tables}
import graft.operators.Discover
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Reconciliation benchmark over the sf1 fixture and a seeded drifted
  * copy of it. One process: set up (session, plant, warm-up), then time
  * whole reconciliations for the requested seconds, check each one's
  * outputs against the plant, and print one JSON result line.
  *
  * Usage: perfbench.Main --root <checkout> --workload <name> --seed <n>
  *          --seconds <s> --trace <0|1> [--source-id <id>]
  */
object Main {

  final case class Workload(name: String, regime: Plant.Regime,
                            checkSql: String)

  /** Tables above this row count are discovered by the default check_sql:
    * at sf1 that is orders and events (keyed) and lineitem (keyless). */
  val MinRows = 100000L
  private val OrdersOnly =
    "SELECT schema_name, table_name FROM graft_manifest " +
      "WHERE table_name = 'orders'"

  val workloads: Seq[Workload] = Seq(
    Workload("insync_sf1", Plant.NoDrift, Discover.defaultCheckSql(MinRows)),
    Workload("contiguous_sf1", Plant.Contiguous, OrdersOnly),
    Workload("scattered_sf1", Plant.Scattered, OrdersOnly),
    Workload("pervasive_sf1", Plant.Pervasive, OrdersOnly))

  val Layers = Seq("discover", "checksum", "keyless", "rowdiff", "fixsql",
    "report")
  /** Repetitions of the per-seed set-up step (planting), reported as the
    * median. */
  val PlantReps = 3

  final class Refused(msg: String) extends RuntimeException(msg)

  /** One checked reconciliation: its outputs, whether they matched the
    * plant, the fix-SQL statements and bytes it wrote, and the share of
    * CPU time the hypervisor stole from the box while it ran. */
  final case class Done(o: Reconcile.Output, ok: Boolean, stmts: Long,
                        bytes: Long, stealFrac: Double)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def secs(ns: Long): Double = ns / 1e9

  def session(cpus: Int, scratch: Path): SparkSession = {
    // as Cli.buildSession builds it, with local dirs kept in the checkout
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
    Tables.sessionConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def walk(p: Path): Seq[Path] =
    Using.resource(Files.walk(p))(_.iterator().asScala.toList)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      walk(p).reverse.foreach(Files.delete)
    }

  private def copyTree(from: Path, to: Path): Unit =
    walk(from).foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    }

  /** Write the downstream snapshot: every table of the workload as its
    * own files; orders through the planter, the others as byte copies. */
  def plant(spark: SparkSession, w: Workload, seed: Long, n: Long,
            tables: Seq[String], upDir: Path, downDir: Path): Unit = {
    deleteTree(downDir)
    Files.createDirectories(downDir)
    for (t <- tables) {
      val src = upDir.resolve(s"$t.parquet")
      val dst = downDir.resolve(s"$t.parquet")
      if (t != "orders" || w.regime == Plant.NoDrift) copyTree(src, dst)
      else {
        val key = col("o_orderkey")
        Plant.downstream(spark.read.parquet(src.toString), w.regime, seed, n)
          .repartitionByRange(4, key).sortWithinPartitions(key)
          .write.parquet(dst.toString)
      }
    }
  }

  /** Peak resident set of this process, MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)

  private def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def metricJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) =>
      s""""$k": {"value": ${jnum(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case r: Refused =>
        System.err.println(s"perfbench: refused: ${r.getMessage}")
        sys.exit(3)
    }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val root = Paths.get(opt("--root")).toAbsolutePath
    val w = workloads.find(_.name == opt("--workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opt("--workload")}"))
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val traced = opt("--trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val base = root.resolve(".bench_build/perfbench")
    val upDir = base.resolve("sf1")
    val work = base.resolve("work").resolve(w.name)
    val downDir = work.resolve("down")
    val outRoot = work.resolve("out")

    // ------------------------------------------------------------ set-up
    val tSetup = System.nanoTime
    val spark = session(cpus, base)
    val sessionNs = System.nanoTime - tSetup

    val tOther = System.nanoTime
    val ordersUp = spark.read.parquet(upDir.resolve("orders.parquet").toString)
    val r = ordersUp.agg(count(lit(1)), min("o_orderkey"), max("o_orderkey"))
      .collect()(0)
    val n = r.getLong(0)
    if (r.getLong(1) != 0L || r.getLong(2) != n - 1)
      throw new Refused(s"upstream orders keys are not 0..${n - 1}")
    val orders = Plant.expected(w.regime, seed, n)
    Plant.refusal(w.regime, seed, n, orders).foreach(m => throw new Refused(m))
    // the first discovery pays Discover.manifest's per-directory count memo
    val tables = Discover.discover(spark, upDir.toString, w.checkSql)
      .collect().map(_.getString(1)).toSeq.sorted
    val expect = tables.map { t =>
      val up = if (t == "orders") n
        else spark.read.parquet(upDir.resolve(s"$t.parquet").toString).count()
      val drift = t == "orders" && orders.drifted > 0
      t -> Reconcile.TableExpect(up,
        if (t == "orders") up - orders.missing.length + orders.extra.length
        else up, drift)
    }.toMap
    val otherNs = System.nanoTime - tOther

    val plantNs = (1 to PlantReps).map { _ =>
      val t = System.nanoTime
      plant(spark, w, seed, n, tables, upDir, downDir)
      val took = System.nanoTime - t
      val got = spark.read.parquet(downDir.resolve("orders.parquet").toString)
        .count()
      if (got != expect("orders").downcount)
        throw new Refused(s"planted downstream holds $got orders rows, " +
          s"the plant implies ${expect("orders").downcount}")
      took
    }

    var attempted, failed = 0
    var iter = 0
    val problemsSeen = mutable.LinkedHashSet[String]()
    def reconcileOnce(tr: Tracer): Done = {
      iter += 1
      val out = outRoot.resolve(iter.toString)
      deleteTree(out)
      Files.createDirectories(out)
      val runId = f"$iter%08d_000000"
      val (steal0, total0) = cpuTicks()
      val o = Reconcile.run(spark, upDir.toString, downDir.toString,
        w.checkSql, out, runId, tr)
      val (steal1, total1) = cpuTicks()
      val stealFrac = (steal1 - steal0).toDouble / math.max(1L, total1 - total0)
      val problems = Reconcile.check(o, expect, orders)
      problems.foreach(problemsSeen += _)
      val files = o.fixDirs.values.toSeq.flatMap(Reconcile.partFiles)
      val stmts = o.fixDirs.values.map(Reconcile.readLines(_).size.toLong).sum
      val bytes = files.map(Files.size).sum
      deleteTree(out)
      Done(o, problems.isEmpty, stmts, bytes, stealFrac)
    }
    def attempt[T](body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Exception =>
          failed += 1
          problemsSeen += s"threw: $e"
          None
      }
    }

    // Untimed reconciliations warm the JIT and Spark's code cache. A drift
    // workload warms on its own pair, so that its tier's code runs. The
    // in-sync pair takes 30 s or more to reconcile cold, more than the run
    // budget allows, so insync_sf1 warms on the sf0.1 fixture instead:
    // the same tables and calls at a tenth of the rows.
    val tWarm = System.nanoTime
    val warmOk =
      if (w.regime != Plant.NoDrift) reconcileOnce(NoTrace).ok
      else {
        val small = base.resolve("sf0.1")
        val smallDown = work.resolve("warm-down")
        plant(spark, w, seed, n, tables, small, smallDown)
        val out = Files.createDirectories(outRoot.resolve("warm"))
        Reconcile.run(spark, small.toString, smallDown.toString, w.checkSql,
          out, "00000000_000000", NoTrace)
        deleteTree(out)
        true
      }
    val warmNs = System.nanoTime - tWarm
    val setupS = secs(sessionNs + otherNs + warmNs) +
      median(plantNs.map(secs))

    // ------------------------------------------------------------ timed
    val upRows = expect.values.map(_.upcount).sum
    val walls = mutable.ArrayBuffer[Double]()
    val steals = mutable.ArrayBuffer[Double]()
    val tracedWalls = mutable.ArrayBuffer[Double]()
    val layerRuns = mutable.ArrayBuffer[Map[String, Double]]()
    val spanLog = mutable.ArrayBuffer[String]()
    var nextSpan = 1
    val tLoop = System.nanoTime
    def elapsed = secs(System.nanoTime - tLoop)
    do {
      attempt(reconcileOnce(NoTrace)).foreach { d =>
        if (d.ok) { walls += secs(d.o.wallNs); steals += d.stealFrac }
        else failed += 1
      }
      if (traced) {
        val tr = new SpanTracer(spark.sparkContext, s"$iter", nextSpan)
        val done = attempt {
          try reconcileOnce(tr) finally tr.finish()
        }
        nextSpan += tr.spans.length
        done.foreach { d =>
          if (!d.ok) failed += 1
          else {
            tracedWalls += secs(d.o.wallNs)
            layerRuns += layerMetrics(tr, d,
              expect.values.map(e => e.upcount + e.downcount).sum)
            spanLog ++= tr.spans.map(s => spanJson(s, tr.counters.get(s.id)))
          }
        }
      }
    } while (elapsed < seconds)

    val medianS = median(walls.toSeq)
    val context = Seq(
      "workload" -> jstr(w.name), "seed" -> seed.toString,
      "nproc" -> cpus.toString,
      "mem_total_mb" -> memTotalMb().toString,
      "source_id" -> jstr(opt.getOrElse("--source-id", "unknown")),
      "samples" -> walls.length.toString,
      "reconcile_s_all" -> walls.map(jnum).mkString("[", ",", "]"),
      "steal_frac_all" -> steals.map(jnum).mkString("[", ",", "]"),
      "tier" -> jstr(orders.tier),
      "bad_chunks" -> orders.badChunks.length.toString,
      "merged_ranges" -> orders.mergedRanges.toString,
      "setup_session_s" -> jnum(secs(sessionNs)),
      "setup_plant_s" -> plantNs.map(secs).map(jnum).mkString("[", ",", "]"),
      "setup_warmup_s" -> jnum(secs(warmNs)),
      "problems" -> problemsSeen.take(5).map(jstr).mkString("[", ",", "]"))
    println(context.map { case (k, v) => s""""$k": $v""" }
      .mkString("""{"context": {""", ", ", "}}"))

    val metrics =
      if (!traced) Seq(
        ("reconcile_s", medianS, "s"),
        ("rows_per_s", upRows / medianS, "rows/s"),
        ("setup_s", setupS, "s"),
        ("peak_rss_mb", peakRssMb(), "MB"))
      else {
        val keys = layerRuns.headOption.map(_.keys.toSeq).getOrElse(Nil)
        val perLayer = keys.sorted.map { k =>
          val (name, unit) = k.splitAt(k.lastIndexOf('|'))
          (name, median(layerRuns.map(_(k)).toSeq), unit.drop(1))
        }
        val tracedMs = median(tracedWalls.toSeq) * 1000
        perLayer ++ Seq(
          ("trace.reconcile_ms", tracedMs, "ms"),
          ("trace.overhead_ms", tracedMs - medianS * 1000, "ms"))
      }
    if (traced) writeTrace(base, w.name, seed, spanLog.toSeq)

    spark.stop()
    val ok = warmOk && failed == 0 && walls.nonEmpty
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${metricJson(metrics)}}""")
  }

  /** (steal, total) jiffies of all CPUs, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  def memTotalMb(): Long =
    Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024).getOrElse(-1L)

  /** Per-layer figures of one traced reconciliation, keyed `name|unit`;
    * `sides` is the row count of both snapshots of every table. */
  def layerMetrics(tr: SpanTracer, d: Done, sides: Long): Map[String, Double] = {
    val m = mutable.Map[String, Double]()
    val perLayer = Layers.map { layer =>
      val spans = tr.spans.filter(_.name == layer)
      val cs = spans.flatMap(s => tr.counters.get(s.id))
      def sum(f: Counters => Long): Double = cs.map(f).sum.toDouble
      val wall = spans.map(_.ms).sum
      m(s"$layer.ms|ms") = wall
      m(s"$layer.task_ms|ms") = sum(_.taskMs)
      m(s"$layer.driver_ms|ms") = math.max(0.0, wall - sum(_.inJobMs))
      m(s"$layer.jobs|count") = sum(_.jobs)
      m(s"$layer.stages|count") = sum(_.stages)
      m(s"$layer.rows_read|rows") = sum(_.rowsRead)
      m(s"$layer.shuffle_bytes|bytes") = sum(_.shuffleBytes)
      m(s"$layer.spill_bytes|bytes") = sum(_.spillBytes)
      m(s"$layer.peak_exec_mem|bytes") =
        cs.map(_.peakExecMem).maxOption.getOrElse(0L).toDouble
      (wall, sum(_.rowsRead))
    }
    val fixRows = m("fixsql.rows_read|rows")
    m("fixsql.statements|count") = d.stmts.toDouble
    m("fixsql.bytes_written|bytes") = d.bytes.toDouble
    m("fixsql.rows_per_stmt|rows") = if (d.stmts == 0) 0.0 else fixRows / d.stmts
    m("scan_amplification|ratio") = perLayer.map(_._2).sum / sides
    m("trace.uncovered_ms|ms") = d.o.wallNs / 1e6 - perLayer.map(_._1).sum
    m.toMap
  }

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ") + "\""

  def spanJson(s: Span, c: Option[Counters]): String = {
    val counts = c.map(c => Seq("jobs" -> c.jobs, "stages" -> c.stages,
      "task_ms" -> c.taskMs, "in_job_ms" -> c.inJobMs,
      "rows_read" -> c.rowsRead, "shuffle_bytes" -> c.shuffleBytes,
      "spill_bytes" -> c.spillBytes, "peak_exec_mem" -> c.peakExecMem))
      .getOrElse(Nil)
    (Seq("id" -> s.id.toString, "name" -> jstr(s.name),
      "parent" -> s.parent.toString, "run" -> jstr(s.runId),
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString) ++
      counts.map { case (k, v) => k -> v.toString })
      .map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}")
  }

  /** Spans of every traced reconciliation, one JSON object a line. */
  def writeTrace(base: Path, w: String, seed: Long, spans: Seq[String]): Path = {
    val dir = Files.createDirectories(base.resolve("trace"))
    val f = dir.resolve(s"${w}_seed$seed.jsonl")
    Files.write(f, spans.asJava)
    f
  }
}
