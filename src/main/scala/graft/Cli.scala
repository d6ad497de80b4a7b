package graft

import graft.conf.EngineConf
import graft.operators._
import org.apache.spark.sql.SparkSession

/** Command-line entry point (SURVEY.md §7.1 module 10) — the engine's
  * `run_all.sh` analogue. Subcommands mirror the reference's stages:
  *
  *   discover  <config.toml> <fixtureDir>          step1: table discovery
  *   generate  <config.toml> <fixtureDir> <runId>  step2: task configs
  *   compare   <config.toml> <fixtureDir> [runId]  step3 STANDALONE: diff
  *                                                 from generated task
  *                                                 TOMLs, no re-discovery
  *   report    <config.toml>                       re-aggregate existing
  *                                                 summary.txt artifacts
  *   run-all   <config.toml> <fixtureDir> [--yes] [--detach]
  *                                                 steps 1-3 + report;
  *                                                 --yes skips the y/n
  *                                                 gate, --detach runs
  *                                                 off the CLI flow
  *                                                 with pid/log/report
  *                                                 artifacts
  *   doctor    <config.toml> <fixtureDir>          preflight checks
  *                                                 (README failure-class
  *                                                 matrix)
  *   doctor  --index <dir>                         index layout audit
  *   compact --index <dir>                         split_files remedy
  *   retrain --index <store> <corpusParquet>       past-clamp hot-list remedy
  *   publish --index <store> <codesDir>            new store generation
  *   prune   --index <store> [--keep N]            retention (live kept)
  *   diff    --index <store> <gA> <gB>              cross-generation diff
  *
  * `compare`/`report` are the reference's entry point C
  * (`step3_run_syncdiff.sh:67-71` refuses to run without generated
  * configs; `:149-244` re-harvests summaries) — a user re-running a
  * failed compare does NOT have to re-discover or re-generate.
  *
  * Exit code follows the reference (`step3_run_syncdiff.sh:247-249`):
  * non-zero iff any compared table differs (run-all/compare/report) or
  * a check fails (doctor). For fixtures the "slave" side is the identity
  * derivation — real dual-source wiring goes through
  * [[graft.sources.SideReader]].
  */
object Cli {

  /** The most recent `--detach` worker started by [[run]] — main() must
    * not sys.exit past a live worker (System.exit kills threads); tests
    * join it to await the background report.
    */
  @volatile var detachedWorker: Option[Thread] = None

  def main(args: Array[String]): Unit = {
    val code = run(args, buildSession())
    // detached: return normally instead of sys.exit — the JVM stays up
    // until the non-daemon worker finishes (the nohup'd-child
    // analogue), then exits 0 on its own
    if (detachedWorker.isEmpty) sys.exit(code)
  }

  private def buildSession(): SparkSession = {
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      // build-time extension injection is the stated session
      // construction default (VERDICT r15 #6): every native kernel
      // resolves in THIS session and every newSession() sibling, so a
      // plan built on one session resolves on another — runtime
      // self-registration only covers the ACTIVE session
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
    Tables.sessionConf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** Dispatch, separated from main for testability. */
  def run(args: Array[String], spark: SparkSession): Int = args.toList match {
    case "discover" :: conf :: dir :: Nil =>
      val c = parseConf(conf)
      val tables = Discover.discover(spark, dir, c.checkSql)
      tables.collect().foreach(r => println(s"${r.getString(0)}\t${r.getString(1)}"))
      0

    case "generate" :: conf :: dir :: runId :: Nil =>
      val c = parseConf(conf)
      Discover.discover(spark, dir, c.checkSql).collect().foreach { r =>
        val (schema, table) = (r.getString(0), r.getString(1))
        val out = java.nio.file.Paths.get(c.outputDir)
        java.nio.file.Files.createDirectories(out)
        java.nio.file.Files.writeString(
          out.resolve(s"${schema}_$table.toml"),
          EngineConf.renderTaskToml(c, schema, table, runId))
        println(s"generated ${schema}_$table.toml")
      }
      0

    case "run-all" :: conf :: dir :: flags
        if flags.forall(Set("--yes", "--detach")) =>
      val c = parseConf(conf)
      // Interactive gate parity (`run_all.sh:76-83`): on a TTY the long
      // compare asks y/n first and any answer but y cancels with exit 0
      // (the reference's cancel path); `--yes` skips the question, and
      // non-interactive callers (no console: tests, CI, nohup) proceed
      // — a blocking prompt nobody can answer would hang them.
      val interactive = System.console() != null ||
        sys.props.get("graft.forceInteractive").contains("true") // tests
      val proceed = flags.contains("--yes") || !interactive || {
        Console.out.print(
          "about to run the compare (may take a while); continue? (y/n) ")
        Console.out.flush()
        Option(scala.io.StdIn.readLine()).getOrElse("")
          .trim.toLowerCase.startsWith("y")
      }
      if (!proceed) {
        println("cancelled")
        0
      } else if (!flags.contains("--detach"))
        runAllOnce(c, dir, spark, println, None)
      else {
        // Detached execution parity (`run_all.sh:87-110`): the compare
        // runs off the CLI control flow, progress goes to a log file,
        // the merged report lands in final_report_<runId>.txt, a pid
        // file + status file let the caller monitor/stop — and run()
        // returns 0 immediately. Process-level survival past the
        // launching shell stays the shell's job (`nohup … &`), exactly
        // as the reference itself delegates to nohup.
        val runId = java.time.LocalDateTime.now.format(
          java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss"))
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(c.outputDir))
        val logPath = java.nio.file.Paths.get(
          c.outputDir, s"runall_$runId.log")
        val reportPath = java.nio.file.Paths.get(
          c.outputDir, s"final_report_$runId.txt")
        val statusPath = java.nio.file.Paths.get(
          c.outputDir, s".graft.status_$runId")
        def logLine(s: String): Unit = synchronized {
          java.nio.file.Files.writeString(logPath, s + "\n",
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
        }
        val worker = new Thread(() => {
          val code =
            try runAllOnce(c, dir, spark, logLine, Some(reportPath))
            catch { case e: Throwable => logLine(s"failed: $e"); 1 }
          // the status write is a caller-visible contract (pollers wait
          // on it) — if it fails, say so in the log instead of letting
          // the exception silently kill the thread (ADVICE r12 #2)
          try java.nio.file.Files.writeString(statusPath, code.toString)
          catch {
            case e: Throwable =>
              try logLine(s"status write failed ($statusPath): $e")
              catch { case _: Throwable => () }
          }
        }, s"graft-runall-$runId")
        worker.setDaemon(false)
        worker.start()
        // per-run pid file — a fixed name would be clobbered by
        // concurrent --detach launches (ADVICE r12 #3)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(c.outputDir, s".graft.pid_$runId"),
          s"${ProcessHandle.current().pid()}:${worker.getName}\n")
        detachedWorker = Some(worker)
        println(s"compare started detached (worker ${worker.getName})")
        println(s"log:        $logPath")
        println(s"report:     $reportPath (when done)")
        println(s"exit code:  $statusPath (when done)")
        0
      }

    case "compare" :: conf :: dir :: rest if rest.lengthCompare(1) <= 0 =>
      val c = parseConf(conf)
      val cfgDir = new java.io.File(c.outputDir)
      // refuse to run without generated configs, with the reference's
      // two distinct messages (`step3_run_syncdiff.sh:67-71` missing
      // dir; `:90-93` empty dir)
      if (!cfgDir.isDirectory) {
        System.err.println(
          s"task-config dir missing: ${c.outputDir}; run `generate` first")
        1
      } else {
        val taskFiles = cfgDir.listFiles()
          .filter(_.getName.endsWith(".toml")).sortBy(_.getName)
        if (taskFiles.isEmpty) {
          System.err.println(
            s"no task configs in ${c.outputDir}; run `generate` first")
          1
        } else {
          // run id defaults to the reference's wall-clock stamp
          // (`step3_run_syncdiff.sh` TIMESTAMP); tests pass it explicitly
          val runId = rest.headOption.getOrElse(
            java.time.LocalDateTime.now.format(
              java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")))
          val tasks = taskFiles.toSeq.map { f =>
            val (schema, table, chunk, so) = EngineConf.parseTaskToml(
              java.nio.file.Files.readString(f.toPath))
            val spec = Tables.primaryKeys.get(table).collect {
              case Seq(pk) if Tables.pkKind(table) == "NONCLUSTERED" =>
                TableDiff.DiffSpec(Seq(pk), pk, chunk)
            }
            Orchestrate.Task(schema, table, spec, so)
          }
          val reports = Orchestrate.compareTaskReports(spark, dir, tasks,
            (_, up) => up, tableParallelism = c.threadCount,
            onProgress = (d, n, pct) => println(s"progress: $d/$n ($pct%)"))
          ReportIngest.writeSummaries(reports, c.outputDir, runId)
          val df = Report.withTotal(Report.toDF(spark, reports))
          println(Report.render(df))
          Report.exitCode(df)
        }
      }

    case "report" :: conf :: Nil =>
      val c = parseConf(conf)
      val base = new java.io.File(c.outputDir)
      val any = base.isDirectory && base.listFiles().exists(f =>
        f.isDirectory && new java.io.File(f, "summary.txt").exists())
      if (!any) {
        // the reference's final-report branch treats absent summaries
        // as an informational line, not a failure
        // (`step3_run_syncdiff.sh:182-184`)
        println(s"no summary.txt found under ${c.outputDir}")
        0
      } else {
        // foreign artifacts can carry junk counts (P9 guard nulls
        // them); the rendered report shows 0 like the reference's
        // numeric-shape check skips them (`step3_run_syncdiff.sh:222`)
        val df = Report.withTotal(
          ReportIngest.ingestSummaries(spark, c.outputDir)
            .na.fill(0L, Seq("upcount", "downcount")))
        println(Report.render(df))
        Report.exitCode(df)
      }

    // Physical-design doctor (VERDICT r14 #8): surface
    // ProductQuant.indexLayoutAudit without a Scala REPL — the 100 TB
    // operational loop (audit → compact / salt-widen) from the shell.
    // Prints the audit relation; exits 1 when any list needs action
    // (split_files → graft compaction, hot_list → salted rewrite),
    // 0 on a clean layout, 2 when the dir isn't a partitioned index.
    // MUST precede the config-doctor case: that pattern would bind
    // conf="--index".
    // The machine-readable twin (VERDICT r17 #7): same facts, same
    // exit rules, ONE JSON object on stdout — what a fleet monitor
    // over a 100 TB store parses, instead of grepping the table.
    case "doctor" :: "--index" :: idxDir :: "--json" :: Nil =>
      indexDoctorJson(spark, idxDir)

    case "doctor" :: "--index" :: idxDir :: Nil =>
      // a VERSIONED STORE base (CURRENT pointer / v<N> generations)
      // resolves to its live generation first — the doctor audits what
      // readers actually scan
      val store = scala.util.Try(
        operators.ProductQuant.currentGeneration(spark, idxDir))
        .toOption.flatten
      val resolved = store match {
        case Some((g, dir)) =>
          println(s"versioned store: auditing live generation v$g")
          dir
        case None => idxDir
      }
      val audit = scala.util.Try(
        operators.ProductQuant.indexLayoutAudit(spark, resolved).collect())
      audit match {
        case scala.util.Failure(e) =>
          System.err.println(
            s"not a readable ccid-partitioned index at '$idxDir': " +
              firstLine(e))
          2
        case scala.util.Success(rows) =>
          println(f"${"ccid"}%6s ${"n_rows"}%10s ${"n_files"}%8s " +
            f"${"bytes"}%12s flag")
          rows.foreach { r =>
            println(f"${r.getInt(0)}%6d ${r.getLong(1)}%10d " +
              f"${r.getLong(2)}%8d ${r.getLong(3)}%12d ${r.getString(4)}")
          }
          // tombstone observability (VERDICT r16 #2): the sidecar rides
          // into every store probe's anti-join but no probe plan prints
          // it — the doctor is where its growth must surface, with the
          // compaction remedy named (compactStore applies the deletes
          // physically, folds the sidecar to one file, and GCs the ids
          // no retained generation still contains). Store-only: a bare
          // index has no delete verb.
          // tracks an interrupted tombstone GC: a state where every
          // probe and delete refuses, which MUST flip the doctor's
          // exit to 1 even over a clean layout (round-17 review-2 #3
          // — a health check scripted on the exit code would
          // otherwise report healthy on a store whose every probe is
          // bricked)
          var tombInconsistent = false
          var booksUnreadable = false
          if (store.nonEmpty) {
            // cost note: the permille denominator is a distinct count
            // over the live generation's vec_id column — one
            // column-pruned scan, on top of the audit's own. The
            // doctor is a maintenance diagnostic and prices like one;
            // no probe path pays this. An INTERRUPTED GC (sidecar
            // parked at .gc_old) makes tombstones() refuse loudly —
            // surface that as the finding it is, with the recovering
            // remedy named, instead of crashing the doctor.
            scala.util.Try {
              operators.ProductQuant.tombstoneFsStats(spark, idxDir)
                .foreach { case (files, bytes) =>
                  val n = operators.ProductQuant.tombstones(spark, idxDir)
                    .map(_.count()).getOrElse(0L)
                  val liveVecs = spark.read.parquet(resolved)
                    .select("vec_id").distinct().count()
                  val pm = if (liveVecs == 0) 0L else 1000L * n / liveVecs
                  val over =
                    if (bytes >
                      operators.ProductQuant.TombstoneBroadcastBytes)
                      " [past the broadcast budget: probes anti-join " +
                        "un-broadcast]"
                    else ""
                  // versioned-sidecar layout (round 20): which fold
                  // generation is live and how many loose appends
                  // stack on it — the growth compact's GC will fold
                  val layout = operators.ProductQuant
                    .tombstoneLayout(spark, idxDir)
                    .flatMap(_._1 match {
                      case Some(v) => Some(s", fold v$v")
                      case None    => None
                    }).getOrElse("")
                  println(s"tombstones: $n ids in $files file(s)$layout, " +
                    s"$bytes B, ~$pm permille of live vectors$over" +
                    " — remedy: compact --index")
                }
            }.failed.foreach { e =>
              tombInconsistent = true
              println(s"tombstones: INCONSISTENT — ${firstLine(e)}")
            }
            // self-description check (r17): a bookless live generation
            // is a probe-only hazard — ivfadcProbeStore fails loudly
            // on it, and the operator should learn that here, not
            // from the failed probe. ABSENT (NoSuchElementException —
            // tolerated, the bookless contract) and UNREADABLE (any
            // other failure — a corrupt sidecar, the case compaction
            // and retrain deliberately FAIL on) are different findings
            // and must not share a line or an exit code (ADVICE r17)
            scala.util.Try(
              operators.ProductQuant.loadBooks(spark, resolved))
            match {
              case scala.util.Success(books) =>
                println(s"books: present (scheme ${books.scheme.name}, " +
                  s"coarse ${books.coarse.length}, fine ${books.fine.size} " +
                  s"sub x ${books.fine.headOption.map(_._2.length)
                    .getOrElse(0)})")
              case scala.util.Failure(_: java.util.NoSuchElementException) =>
                println("books: ABSENT — store probes need " +
                  "explicitly-held quantizers; republish with books")
              case scala.util.Failure(e) =>
                booksUnreadable = true
                println(s"books: UNREADABLE — ${firstLine(e)}")
            }
            // writer-lease observability (VERDICT r18 #7): only
            // mutators could see a standing _lease; the doctor is the
            // fleet-monitoring view of a stuck writer. Informational —
            // a lease never blocks readers, and a stale one reclaims
            // on the next mutation — so the exit code is unchanged.
            operators.StoreLease.holder(spark, idxDir).foreach {
              case (id, op, mtime) =>
                val age = (System.currentTimeMillis() - mtime) / 1000L
                if (age * 1000L > operators.StoreLease.staleMillis)
                  println(s"lease: STALE — held by $id ($op, ${age}s " +
                    "old, past the " +
                    s"${operators.StoreLease.staleMillis / 60000} min " +
                    "TTL): the holder crashed or lost its heartbeat; " +
                    "the next mutation reclaims it")
                else
                  println(s"lease: held by $id ($op, ${age}s old) — " +
                    "a writer is active; concurrent mutations refuse")
            }
          }
          val bad = rows.map(_.getString(4)).filter(_ != "ok")
          // a hot list past the salt clamp's 128x-mean boundary can
          // NEVER clear by salting (deriveHotLists scaladoc) — naming
          // the salted rewrite for it would send the operator into the
          // doctor->compact ping-pong the boundary doc warns about;
          // the remedy there is coarse-quantizer retraining
          val mean = rows.map(_.getLong(1)).sum.toDouble /
            math.max(1, rows.length)
          val pastClamp = rows.filter(r => r.getString(4) == "hot_list"
            && r.getLong(1) > 128.0 * mean).map(_.getInt(0))
          if (bad.isEmpty && (tombInconsistent || booksUnreadable)) {
            val findings = Seq(
              if (tombInconsistent) Some("tombstone sidecar " +
                "inconsistent (compact --index recovers it)") else None,
              if (booksUnreadable) Some("quantizer sidecar unreadable " +
                "(republish with books — compaction/retrain refuse on " +
                "it)") else None).flatten
            println(s"index needs maintenance: ${findings.mkString("; ")}")
            1
          } else if (bad.isEmpty) { println("index layout ok"); 0 }
          else {
            println(s"index needs maintenance: " +
              bad.groupBy(identity).map { case (f, v) =>
                s"${v.length}x $f" }.toSeq.sorted.mkString(", ") +
              " (split_files -> compactIndex; hot_list -> salted rewrite)")
            if (pastClamp.nonEmpty)
              println(s"list(s) ${pastClamp.sorted.mkString(",")} exceed " +
                "128x the mean — past the salt clamp, salting cannot " +
                "clear them: remedy is retrain --index")
            1
          }
      }

    // The remedy `doctor --index` names for split_files, executable
    // from the same shell: compact, then re-print the audit. Exit
    // mirrors doctor on the POST-compaction state (0 = clean now).
    // A versioned STORE base compacts by PUBLISHING the rewritten live
    // generation as a NEW generation (readers keep resolving complete
    // dirs; the in-place swap is for bare indexes only) — without this
    // the doctor would steer store operators into a command that can't
    // read their layout (r15 review-2 #2).
    case "compact" :: "--index" :: idxDir :: rest
        if mutOpts(rest, Set("--wait")).isDefined =>
      val waitOpt = mutOpts(rest, Set("--wait")).get.get("--wait")
      scala.util.Try {
        scala.util.Try(
          operators.ProductQuant.currentGeneration(spark, idxDir))
          .toOption.flatten match {
          case Some(_) =>
            withWait(spark, idxDir, "compact", waitOpt) {
              val (g, g2) = operators.ProductQuant.compactStore(spark, idxDir)
              println(s"compacted live generation v$g into new generation v$g2")
            }
          case None =>
            // a BARE index has no lease discipline — compactIndex
            // renames the index directory itself aside during its
            // swap, so a lease file inside it would travel with the
            // rename and a concurrent --wait poller's create would
            // recreate the directory MID-SWAP, stranding or nesting
            // the compacted data (round-20 review #1). Refuse the
            // flag instead of silently weakening it.
            if (waitOpt.isDefined) throw new IllegalArgumentException(
              s"--wait needs a versioned store: '$idxDir' is a bare " +
                "index (its in-place swap has no lease discipline)")
            operators.ProductQuant.compactIndex(spark, idxDir)
        }
      } match {
        case scala.util.Failure(e) =>
          System.err.println(
            s"compaction failed for '$idxDir': " +
              firstLine(e))
          2
        case scala.util.Success(_) =>
          println(s"compacted $idxDir")
          run(Array("doctor", "--index", idxDir), spark)
      }

    // The remedy `doctor --index` names for a hot list PAST the salt
    // clamp (r17): retrain the coarse quantizer on the given corpus
    // parquet (vec_id, embedding), re-list the live generation under
    // it, publish as a new generation, and re-print the doctor — the
    // same audit -> action -> re-audit shape as compact. Exit 2 when
    // the store or corpus can't be read, else the post-retrain
    // doctor's exit.
    case "retrain" :: "--index" :: store :: corpus :: rest
        if mutOpts(rest, Set("--wait")).isDefined =>
      scala.util.Try {
        withWait(spark, store, "retrain",
          mutOpts(rest, Set("--wait")).get.get("--wait")) {
          operators.ProductQuant.retrainStore(spark, store,
            spark.read.parquet(corpus))
        }
      } match {
        case scala.util.Failure(e) =>
          System.err.println(
            s"retrain failed for '$store' on corpus '$corpus': " +
              firstLine(e))
          2
        case scala.util.Success((g, g2)) =>
          println(s"retrained coarse quantizer: v$g re-listed as v$g2")
          run(Array("doctor", "--index", store), spark)
      }

    // The store lifecycle's two WRITE/DELETE steps from the shell
    // (VERDICT r15 #2) — publish a code relation as a new generation
    // and prune retention; until now both were API-only, leaving the
    // operational loop needing a REPL exactly at its dangerous steps.
    // Publication derives hot-list salting from the relation
    // (publishStore), so a generation is born salted when its skew
    // warrants it. Exit 0 on success, 2 when the codes dir doesn't
    // read as a code relation or the store write fails.
    // `--books <dir>` (VERDICT r18 #4) copies an existing quantizer
    // sidecar (a generation dir or the `_quantizers` dir itself) into
    // the new generation after validating its meta row against the
    // books AND the codes being published — so a shell-only operator
    // can stand up a store that loaded-book probes accept, and a
    // scheme/geometry mismatch refuses with exit 2 before anything
    // becomes visible.
    case "publish" :: "--index" :: store :: from :: rest
        if mutOpts(rest, Set("--books", "--wait")).isDefined =>
      val opts = mutOpts(rest, Set("--books", "--wait")).get
      val books = opts.get("--books")
      scala.util.Try(
        withWait(spark, store, "publish", opts.get("--wait")) {
          operators.ProductQuant.publishStore(spark, store, from, books)
        })
      match {
        case scala.util.Failure(e) =>
          System.err.println(s"publish failed for '$from' -> '$store': " +
            firstLine(e))
          2
        case scala.util.Success((g, dir)) =>
          println(s"published generation v$g at $dir" +
            books.fold("")(b => s" with books from $b"))
          0
      }

    // Refresh observability from the shell: what changed between two
    // published generations (ProductQuant.indexGenDiff), printed per
    // list and totalled per status. Exit 0 with the table, 2 when a
    // named generation doesn't read as a code relation.
    case "diff" :: "--index" :: store :: gA :: gB :: Nil =>
      scala.util.Try {
        val (a, b) = (gA.stripPrefix("v").toInt, gB.stripPrefix("v").toInt)
        operators.ProductQuant.indexGenDiff(spark, store, a, b)
          .orderBy("ccid", "status").collect()
      } match {
        case scala.util.Failure(e) =>
          System.err.println(
            s"diff failed for '$store' $gA..$gB: " + firstLine(e))
          2
        case scala.util.Success(rows) =>
          println(f"${"ccid"}%6s ${"status"}%-10s ${"n_vecs"}%10s")
          rows.foreach(r => println(
            f"${r.getInt(0)}%6d ${r.getString(1)}%-10s ${r.getLong(2)}%10d"))
          val totals = rows.groupBy(_.getString(1))
            .view.mapValues(_.map(_.getLong(2)).sum).toMap
          println("totals: " + Seq("added", "removed", "recoded",
            "unchanged").map(s => s"$s=${totals.getOrElse(s, 0L)}")
            .mkString(", "))
          0
      }

    // Retention from the shell: prune to the newest N complete
    // generations (default 2; the live one is always kept). A
    // retention-violating keep (< 1) is REFUSED with exit 2 — the
    // one invocation that could delete the only readable copy — and
    // an empty store (nothing complete to retain against) is exit 2
    // too, so scripts can't mistake a no-op for a healthy prune.
    case "prune" :: "--index" :: store :: rest
        if rest.isEmpty ||
          (rest.length == 2 && rest.head == "--keep") =>
      val keepParsed = rest match {
        case "--keep" :: n :: Nil => scala.util.Try(n.toInt).toOption
        case _ => Some(2)
      }
      keepParsed match {
        case Some(keep) if keep >= 1 =>
          operators.ProductQuant.currentGeneration(spark, store) match {
            case None =>
              System.err.println(
                s"no complete index generation under '$store' — " +
                  "nothing to retain against; publish first")
              2
            case Some((live, _)) =>
              val pruned =
                operators.ProductQuant.pruneGenerations(spark, store,
                  keep, live = Some(live))
              println(
                if (pruned.isEmpty)
                  s"nothing to prune (live v$live, keep=$keep)"
                else s"pruned ${pruned.map("v" + _).mkString(", ")} " +
                  s"(live v$live, keep=$keep)")
              0
          }
        case _ =>
          System.err.println(
            s"prune refused: --keep must be a positive integer " +
              s"(got '${rest.lift(1).getOrElse("")}') — keep >= 1 " +
              "guarantees a readable generation survives")
          2
      }

    case "doctor" :: conf :: dir :: Nil =>
      // README.md:156-220 troubleshooting matrix — one distinct check
      // and one distinct remedy message per documented failure class
      // (VERDICT r11 #8); the absent-but-documented test_connection.sh
      // (README.md:49-58) is subsumed by classes 1-2.
      val confOk = scala.util.Try(parseConf(conf))
      val dirF = new java.io.File(dir)
      val reachable = dirF.exists()
      val readable = reachable && dirF.canRead &&
        new java.io.File(dirF, "orders.parquet").exists()
      val catalog = confOk.flatMap(c =>
        scala.util.Try(Discover.discover(spark, dir, c.checkSql)))
      val matched = catalog.flatMap(t => scala.util.Try(t.limit(1).count()))
      val checks = Seq(
        // class 0: config itself
        ("config parses", confOk.isSuccess,
          "fix config.toml: " +
            confOk.failed.map(_.getMessage).getOrElse("")),
        // class 1: connection refused (README #1)
        ("source reachable", reachable,
          s"can't connect: source '$dir' does not exist — check the " +
            "address/port and that the service is running"),
        // class 2: access denied (README #2)
        ("source access", readable,
          s"access denied on '$dir' — check credentials and SELECT " +
            "grants on the catalog"),
        // class 3: wrong catalog / bad check_sql (README #3)
        ("catalog query (check_sql)", catalog.isSuccess,
          "check_sql does not bind — query the manifest catalog " +
            "(graft_manifest) and verify the SQL by hand: " +
            catalog.failed.map(firstLine).getOrElse("")))
      checks.foreach { case (name, ok, remedy) =>
        println(f"${if (ok) "PASS" else "FAIL"}%-4s $name" +
          (if (ok) "" else s"\n     -> $remedy"))
      }
      // class 4: empty result is NORMAL per the README (#4) — a WARN
      // line with the documented explanation, never a doctor failure
      if (matched.toOption.contains(0L))
        println("WARN discovery matched no tables — this can be normal " +
          "(no table passes the size/pk_kind conditions); relax " +
          "check_sql conditions to debug")
      if (checks.forall(_._2)) 0 else 1

    case _ =>
      System.err.println(
        "usage: graft.Cli (discover|generate|compare|report|run-all|doctor)" +
          " <config.toml> [<fixtureDir>] [runId]" +
          " | doctor --index <dir> | compact --index <dir>" +
          " | retrain --index <store> <corpusParquet>" +
          " | publish --index <store> <codesDir>" +
          " | prune --index <store> [--keep N]" +
          " | diff --index <store> <gA> <gB>")
      2
  }

  /** One locked run-all pass — shared by the foreground and `--detach`
    * paths; `log` receives progress + the rendered report, `reportFile`
    * additionally persists the report (the reference's
    * final_report_<ts>.txt tee, `step3_run_syncdiff.sh:149-152`).
    */
  private def runAllOnce(c: EngineConf, dir: String,
                         spark: SparkSession, log: String => Unit,
                         reportFile: Option[java.nio.file.Path]): Int = {
    // Singleton run lock — the reference's PID-file guard
    // (`run_syncdiff_config.sh:81-93`): a second concurrent run-all
    // against the same output dir exits 3 instead of interleaving
    // artifacts. OS-level file lock, released on JVM exit either way.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(c.outputDir))
    val lockChannel = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(c.outputDir, ".graft.lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val lock =
      try lockChannel.tryLock()
      catch { // held by THIS JVM (another thread) -> same "busy" answer
        case _: java.nio.channels.OverlappingFileLockException => null
      }
    if (lock == null) {
      System.err.println(
        s"another run-all holds ${c.outputDir}/.graft.lock; exiting")
      lockChannel.close()
      3
    } else try {
      val specs = Tables.primaryKeys.collect {
        case (t, Seq(pk)) if Tables.pkKind(t) == "NONCLUSTERED" =>
          t -> TableDiff.DiffSpec(Seq(pk), pk, c.chunkSize)
      }
      val report = Orchestrate.runAll(spark, dir, c.checkSql,
        (_, up) => up, specs, tableParallelism = c.threadCount,
        structOnly = c.structOnly,
        onProgress = (d, n, pct) => log(s"progress: $d/$n ($pct%)"))
      val rendered = Report.render(report)
      log(rendered)
      reportFile.foreach(p =>
        java.nio.file.Files.writeString(p, rendered + "\n"))
      Report.exitCode(report)
    } finally {
      lock.release()
      lockChannel.close()
    }
  }

  /** Trailing `--key value` option pairs for the store-mutation
    * subcommands — None when the tail doesn't parse as pairs from
    * `allowed`, INCLUDING a repeated key (`--wait 5 --wait 300` must
    * fall through to usage, not silently pick one — round-20 review
    * #7); the case guard then falls through to usage.
    */
  private def mutOpts(rest: List[String],
                      allowed: Set[String]): Option[Map[String, String]] =
    rest match {
      case Nil => Some(Map.empty)
      case key :: value :: tail if allowed(key) =>
        mutOpts(tail, allowed).flatMap(m =>
          if (m.contains(key)) None else Some(m + (key -> value)))
      case _ => None
    }

  /** `--wait <secs>` (VERDICT r19 #7): wrap a store mutation in an
    * OUTER lease acquisition that retries with backoff until the live
    * holder releases or the deadline passes — the mutation's own
    * nested acquisitions ride it (the per-thread reentrancy contract),
    * so no operator signature changes. Deadline expiry surfaces the
    * standard holder-naming refusal through the caller's exit-2 path.
    * A malformed seconds value throws inside the caller's Try → exit 2.
    */
  private def withWait[T](spark: SparkSession, store: String, op: String,
                          waitSecs: Option[String])(body: => T): T =
    waitSecs.fold(body)(s =>
      operators.StoreLease.withLease(spark, store, op,
        waitMillis = s.toLong * 1000L)(body))

  /** First line of a throwable's message for one-line CLI errors —
    * total on null/empty messages (a bare NPE from Spark/Hadoop
    * internals has getMessage == null; `"".linesIterator.next()`
    * throws), so an error branch can never replace its documented
    * exit code with an uncaught crash (round-16 review #1).
    */
  private def firstLine(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .getOrElse(e.getClass.getSimpleName)

  /** `doctor --index <dir> --json` (VERDICT r17 #7): the text doctor's
    * facts — resolved generation, per-list layout audit, tombstone
    * sidecar state, book presence + encoding scheme — as one JSON
    * object, with the SAME exit-code rules (CliSpec pins text/JSON
    * exit parity across store states, so the two arms cannot drift
    * silently). Hand-rolled emission: the only JSON this CLI writes is
    * flat and bounded (≤ nCoarse list rows), and the project adds no
    * dependencies.
    */
  private def indexDoctorJson(spark: SparkSession, idxDir: String): Int = {
    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val store = scala.util.Try(
      operators.ProductQuant.currentGeneration(spark, idxDir))
      .toOption.flatten
    val resolved = store.map(_._2).getOrElse(idxDir)
    scala.util.Try(
      operators.ProductQuant.indexLayoutAudit(spark, resolved).collect())
    match {
      case scala.util.Failure(e) =>
        println(s"""{"dir":${js(idxDir)},"error":${js(firstLine(e))},""" +
          s""""exit":2}""")
        2
      case scala.util.Success(rows) =>
        val lists = rows.map { r =>
          s"""{"ccid":${r.getInt(0)},"n_rows":${r.getLong(1)},""" +
            s""""n_files":${r.getLong(2)},"bytes":${r.getLong(3)},""" +
            s""""flag":${js(r.getString(4))}}"""
        }.mkString("[", ",", "]")
        var tombInconsistent = false
        val tombJson =
          if (store.isEmpty) "null"
          else scala.util.Try {
            operators.ProductQuant.tombstoneFsStats(spark, idxDir)
              .map { case (files, bytes) =>
                val n = operators.ProductQuant.tombstones(spark, idxDir)
                  .map(_.count()).getOrElse(0L)
                val liveVecs = spark.read.parquet(resolved)
                  .select("vec_id").distinct().count()
                val pm = if (liveVecs == 0) 0L else 1000L * n / liveVecs
                val over = bytes >
                  operators.ProductQuant.TombstoneBroadcastBytes
                // versioned-sidecar layout (round 20): live fold
                // version (null pre-fold / legacy flat) + unconsumed
                // loose append count
                val (foldV, loose) = operators.ProductQuant
                  .tombstoneLayout(spark, idxDir)
                  .getOrElse((None, 0))
                s"""{"ids":$n,"files":$files,"bytes":$bytes,""" +
                  s""""fold_version":${foldV.map(_.toString)
                    .getOrElse("null")},"loose_files":$loose,""" +
                  s""""permille":$pm,"over_broadcast_budget":$over}"""
              }.getOrElse("null")
          }.recover { case e =>
            tombInconsistent = true
            s"""{"inconsistent":true,"error":${js(firstLine(e))}}"""
          }.get
        var booksUnreadable = false
        val booksJson =
          if (store.isEmpty) "null"
          else scala.util.Try(
            operators.ProductQuant.loadBooks(spark, resolved))
          match {
            case scala.util.Success(books) =>
              s"""{"status":"present","scheme":${js(books.scheme.name)},""" +
                s""""coarse":${books.coarse.length},""" +
                s""""subs":${books.fine.size},""" +
                s""""ks":${books.meta.ks},"dim":${books.meta.dim}}"""
            case scala.util.Failure(_: java.util.NoSuchElementException) =>
              """{"status":"absent"}"""
            case scala.util.Failure(e) =>
              booksUnreadable = true
              s"""{"status":"unreadable","error":${js(firstLine(e))}}"""
          }
        // the text doctor's lease line, machine-readable; null when no
        // writer holds the store (informational — exit unchanged)
        val leaseJson =
          if (store.isEmpty) "null"
          else operators.StoreLease.holder(spark, idxDir).map {
            case (id, op, mtime) =>
              val age = (System.currentTimeMillis() - mtime) / 1000L
              val stale = age * 1000L > operators.StoreLease.staleMillis
              s"""{"holder":${js(id)},"op":${js(op)},""" +
                s""""age_seconds":$age,"stale":$stale}"""
          }.getOrElse("null")
        // the text doctor's exit rules, verbatim
        val bad = rows.map(_.getString(4)).filter(_ != "ok")
        val mean = rows.map(_.getLong(1)).sum.toDouble /
          math.max(1, rows.length)
        val pastClamp = rows.filter(r => r.getString(4) == "hot_list"
          && r.getLong(1) > 128.0 * mean).map(_.getInt(0)).sorted
        val exit =
          if (bad.nonEmpty || tombInconsistent || booksUnreadable) 1
          else 0
        val gen = store.map(_._1.toString).getOrElse("null")
        println(s"""{"dir":${js(idxDir)},"store":${store.nonEmpty},""" +
          s""""generation":$gen,"resolved_dir":${js(resolved)},""" +
          s""""lists":$lists,"tombstones":$tombJson,"books":$booksJson,""" +
          s""""lease":$leaseJson,""" +
          s""""past_clamp":${pastClamp.mkString("[", ",", "]")},""" +
          s""""exit":$exit}""")
        exit
    }
  }

  private def parseConf(path: String): EngineConf =
    EngineConf.parse(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
}
