package perfbench

import graft.Tables
import graft.operators._
import org.apache.spark.sql.catalyst.expressions.{Attribute, GreaterThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** One reconciliation of an upstream/downstream snapshot pair, the way
  * `Cli run-all` plus `export-fix-sql` does it, through the program's
  * public layer calls only. Each call is wrapped in a tracer span named
  * after its layer. */
object Reconcile {

  /** The keyed diff spec `Cli run-all` builds: single-column PK of a
    * NONCLUSTERED table, chunked by that column. Other tables go keyless. */
  def keyedSpec(table: String): Option[TableDiff.DiffSpec] =
    Tables.primaryKeys.get(table).collect {
      case Seq(pk) if Tables.pkKind(table) == "NONCLUSTERED" =>
        TableDiff.DiffSpec(Seq(pk), pk, Plant.ChunkWidth)
    }

  /** What one reconciliation produced, for the checker. */
  final case class Output(wallNs: Long, reports: Seq[Report.TableReport],
                          rendered: String, rowDiffs: Map[String, DataFrame],
                          fixDirs: Map[String, Path], summaries: Path)

  def run(spark: SparkSession, upDir: String, downDir: String,
          checkSql: String, out: Path, runId: String, tr: Tracer): Output = {
    val t0 = System.nanoTime
    val o = tr.span("reconcile") {
      layers(spark, upDir, downDir, checkSql, out, runId, tr)
    }
    o.copy(wallNs = System.nanoTime - t0)
  }

  private def layers(spark: SparkSession, upDir: String, downDir: String,
                     checkSql: String, out: Path, runId: String,
                     tr: Tracer): Output = {
    val tasks = tr.span("discover") {
      Discover.discover(spark, upDir, checkSql).collect().toSeq.map(r =>
        Orchestrate.Task(r.getString(0), r.getString(1),
          keyedSpec(r.getString(1)), structOnly = false))
    }
    val downstream = (t: String, _: DataFrame) => Tables.load(spark, downDir, t)
    val reports = tasks.map { t =>
      tr.span(if (t.spec.isDefined) "checksum" else "keyless") {
        Orchestrate.compareTaskReports(spark, upDir, Seq(t), downstream).head
      }
    }
    var rowDiffs = Map.empty[String, DataFrame]
    var fixDirs = Map.empty[String, Path]
    for ((t, r) <- tasks.zip(reports); spec <- t.spec
         if r.data_result == "diff") {
      val rd = tr.span("rowdiff") {
        TableDiff.rowDiff(Tables.load(spark, upDir, t.table),
          Tables.load(spark, downDir, t.table), spec)
      }
      val dir = out.resolve(s"fix_${t.table}")
      tr.span("fixsql") {
        FixSql.fromRowDiff(rd, t.table, spec.pkCols).select("fix_sql")
          .write.mode("overwrite").text(dir.toString)
      }
      rowDiffs += t.table -> rd
      fixDirs += t.table -> dir
    }
    val summaries = out.resolve("summaries")
    val rendered = tr.span("report") {
      val text = Report.render(Report.withTotal(Report.toDF(spark, reports)))
      Files.writeString(out.resolve("report.txt"), text)
      ReportIngest.writeSummaries(reports, summaries.toString, runId)
      text
    }
    Output(0L, reports, rendered, rowDiffs, fixDirs, summaries)
  }

  // ------------------------------------------------------------- checking

  /** Expected report row of one table. */
  final case class TableExpect(upcount: Long, downcount: Long, drift: Boolean)

  /** The drill-down tier a rowDiff relation was built with, read off its
    * logical plan: a left-semi join is the broadcast tier, PK range
    * filters are the pushdown tier (reported with their range count),
    * neither is the flat tier. */
  def tierOfPlan(rd: DataFrame, chunkBy: String): (String, Int) = {
    val plan = rd.queryExecution.logical
    val semi = plan.collectFirst { case j: Join if j.joinType == LeftSemi => j }
    val lowerBounds = plan.collect { case f: Filter =>
      f.condition.collect {
        case GreaterThanOrEqual(a: Attribute, _: Literal) if a.name == chunkBy => 1
      }.sum
    }.sum
    if (semi.isDefined) ("semi", 0)
    else if (lowerBounds > 0) ("range", lowerBounds / 2) // one filter per side
    else ("flat", 0)
  }

  /** Statements of a fix-SQL text output, split into the keys of its
    * REPLACE and DELETE statements. Any other line is returned apart. */
  def parseFixSql(lines: Seq[String], table: String, pk: String)
      : (Seq[Long], Seq[Long], Seq[String]) = {
    val replace = s"REPLACE INTO $table VALUES ("
    val delete = s"DELETE FROM $table WHERE $pk = "
    val rep, del = Seq.newBuilder[Long]
    val other = Seq.newBuilder[String]
    lines.foreach { l =>
      if (l.startsWith(replace) && l.endsWith(");"))
        rep += l.substring(replace.length).takeWhile(_ != ',').trim.toLong
      else if (l.startsWith(delete) && l.endsWith(";"))
        del += l.substring(delete.length, l.length - 1).trim.toLong
      else other += l
    }
    (rep.result(), del.result(), other.result())
  }

  def children(dir: Path): Seq[Path] =
    Using.resource(Files.list(dir))(_.iterator().asScala.toList)

  /** The data files a Spark write left in `dir`. */
  def partFiles(dir: Path): Seq[Path] =
    children(dir).filter(_.getFileName.toString.startsWith("part-"))

  def readLines(dir: Path): Seq[String] =
    partFiles(dir).flatMap(f => Files.readAllLines(f).asScala)

  /** Problems found in one reconciliation's outputs; empty when every
    * output matches the plant. */
  def check(o: Output, tables: Map[String, TableExpect],
            orders: Plant.Expected): Seq[String] = {
    val drifted = tables.filter(_._2.drift).keySet
    checkReports(o.reports, o.rendered, tables) ++
      (if (tables.keySet.forall(t => children(o.summaries)
          .exists(d => d.getFileName.toString.startsWith(s"${t}_") &&
            Files.isRegularFile(d.resolve("summary.txt"))))) Nil
       else Seq("a table's summary.txt is missing")) ++
      (if (o.fixDirs.keySet == drifted) Nil
       else Seq(s"fix-SQL written for ${o.fixDirs.keySet}, drift in $drifted")) ++
      o.fixDirs.toSeq.flatMap { case (t, dir) =>
        val spec = keyedSpec(t).get
        checkFixSql(readLines(dir), t, spec.pkCols.head, orders) ++
          checkTier(o.rowDiffs(t), t, spec.chunkBy, orders)
      }
  }

  /** Report rows against the expected counts and verdicts. */
  def checkReports(reports: Seq[Report.TableReport], rendered: String,
                   tables: Map[String, TableExpect]): Seq[String] = {
    val byName = reports.map(r => r.table_name -> r).toMap
    val totalUp = tables.values.map(_.upcount).sum
    (if (byName.keySet == tables.keySet) Nil
     else Seq(s"reported tables ${byName.keySet} != ${tables.keySet}")) ++
      tables.toSeq.flatMap { case (t, e) =>
        byName.get(t).toSeq.flatMap { r =>
          Seq(
            (r.structure == "ok") -> s"$t: structure ${r.structure}",
            (r.upcount == e.upcount && r.downcount == e.downcount) ->
              s"$t: counts ${r.upcount}/${r.downcount} != ${e.upcount}/${e.downcount}",
            (r.data_result == (if (e.drift) "diff" else "ok")) ->
              s"$t: verdict ${r.data_result}").collect { case (false, m) => m }
        }
      } ++
      (if (rendered.linesIterator.exists(l =>
          l.startsWith("| TOTAL") && l.contains(s" $totalUp |"))) Nil
       else Seq("rendered report lacks the TOTAL row"))
  }

  /** Fix-SQL statements against the plant: one REPLACE per missing or
    * mutated key, one DELETE per extra key, nothing else. */
  def checkFixSql(lines: Seq[String], table: String, pk: String,
                  orders: Plant.Expected): Seq[String] = {
    val (rep, del, other) = parseFixSql(lines, table, pk)
    Seq(
      other.isEmpty -> s"$table: ${other.size} unparsable fix-SQL lines",
      (lines.size == orders.drifted) ->
        s"$table: ${lines.size} statements, planted ${orders.drifted}",
      (rep.sorted == orders.replaceKeys.toSeq) ->
        s"$table: REPLACE keys differ from planted missing+mutated",
      (del.sorted == orders.extra.toSeq) ->
        s"$table: DELETE keys differ from planted extra")
      .collect { case (false, m) => m }
  }

  /** The tier rowDiff built its relation with against the plant's. */
  def checkTier(rd: DataFrame, table: String, chunkBy: String,
                orders: Plant.Expected): Seq[String] = {
    val (tier, ranges) = tierOfPlan(rd, chunkBy)
    if (tier != orders.tier)
      Seq(s"$table: rowDiff ran the $tier tier, the plant implies ${orders.tier}")
    else if (tier == "range" && ranges != orders.mergedRanges)
      Seq(s"$table: $ranges pushed-down ranges, the plant merges to " +
        s"${orders.mergedRanges}")
    else Nil
  }
}
