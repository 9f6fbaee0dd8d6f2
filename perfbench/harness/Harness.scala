package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.{DriverManager, SQLException, Types}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.aql.Aql
import graft.operators.Filters
import graft.sources.EventJson
import graft.streaming.{AqlPipeline, DbResume, DerbySink, EventStream}

/** Drives one benchmark run against the program's public entry points.
  *
  * Usage: `Harness <settings.properties>`. The settings name the
  * workload, the generated input and warm-up directories, the run
  * directory all state goes under, and where the result JSON goes.
  * The harness sets up (session, databases, warm-up), runs the timed
  * phase, reads the landed state back for the correctness check, and in
  * a traced run also collects per-layer metrics and writes spans.
  */
object Harness {

  final class Settings(p: java.util.Properties) {
    def str(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"missing setting $k"))
    def int(k: String): Int = str(k).toInt
    def dbl(k: String): Double = str(k).toDouble
    def opt(k: String): Option[String] = Option(p.getProperty(k)).filter(_.nonEmpty)
  }

  /** What one pass over a workload's inputs produced. */
  final case class Pass(t0: Double, tEnd: Double, progress: Seq[StreamingQueryProgress],
                        lags: Seq[Double], rows: Long, late: Seq[Double],
                        failed: Int, url: String)

  def now(): Double = System.nanoTime() / 1e6 - clockSkew
  // epoch-aligned monotonic clock: progress timestamps are epoch ms
  private val clockSkew = System.nanoTime() / 1e6 - System.currentTimeMillis()

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = new java.io.FileInputStream(args(0))
    try props.load(in) finally in.close()
    val cfg = new Settings(props)
    val code = try new Run(cfg).run() catch {
      case e: Throwable => e.printStackTrace(); 2
    }
    System.exit(code)
  }

  final class Run(cfg: Settings) {
    val workload: String = cfg.str("workload")
    val runDir: Path = Paths.get(cfg.str("run_dir")).toAbsolutePath
    val inputDir: Path = Paths.get(cfg.str("input_dir")).toAbsolutePath
    val warmDir: Path = Paths.get(cfg.str("warmup_dir")).toAbsolutePath
    val traced: Boolean = cfg.int("trace") == 1
    val aql: String = cfg.opt("aql").getOrElse("")
    val cores: Int = cfg.int("cores")
    val result = mutable.LinkedHashMap[String, Any]()
    val layer = mutable.LinkedHashMap[String, Any]()
    lazy val spark: SparkSession = SparkSession.builder()
      .appName("perfbench-" + workload)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()

    def dir(name: String): String = runDir.resolve(name).toString
    def url(name: String): String = s"jdbc:derby:${dir(name)};create=true"

    def files(d: Path): Seq[Path] =
      Files.list(d).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
        .toSeq.sortBy(_.getFileName.toString)

    /** Copies `f` into `to` under its own name, keeping its mtime; the
      * copy lands under a hidden name first (the file source skips
      * those) and becomes visible with one rename.
      */
    def hiddenCopy(f: Path, to: Path): Path = {
      val hidden = to.resolve("." + f.getFileName)
      Files.copy(f, hidden, StandardCopyOption.COPY_ATTRIBUTES)
      hidden
    }
    def reveal(hidden: Path): Unit =
      Files.move(hidden, hidden.resolveSibling(hidden.getFileName.toString.drop(1)),
        StandardCopyOption.ATOMIC_MOVE)

    def run(): Int = {
      spark.sparkContext.setLogLevel("ERROR")
      result("session_ready_epoch_ms") = System.currentTimeMillis().toDouble

      // warm-up: one pass over the warm-up inputs (files of the timed
      // phase's size), so the JIT has compiled the paths the timed phase runs
      val w0 = now()
      val warm = pass(warmDir, "warm", scheduled = false)
      shutdown("warm")
      if (warm.failed > 0) sys.error("warm-up pass failed")
      result("warmup_ms") = now() - w0
      // set-up, repeated on the warm JVM
      result("setup_reps_ms") = (0 until cfg.int("setup_reps")).map { i =>
        val t = now(); setUp(s"setup$i"); now() - t
      }
      result("settle_ms") = settle()

      val jobs = new JobTrace
      val phases = new PhaseTrace
      val main =
        if (!traced) pass(inputDir, "db", scheduled = true)
        else {
          // an untraced pass, then the traced one it is compared with; the
          // traced pass runs second, so what warm-up remains after the
          // set-up favours it and the overhead reads low rather than high
          val plain = pass(inputDir, "plain", scheduled = true)
          shutdown("plain")
          spark.sparkContext.addSparkListener(jobs)
          spark.listenerManager.register(phases)
          val p = pass(inputDir, "db", scheduled = true)
          jobs.settle()
          spark.sparkContext.removeSparkListener(jobs)
          spark.listenerManager.unregister(phases)
          val key = if (workload == "tail_json") "lag_p50_ms" else "rows_per_s"
          val base = endToEnd(plain)(key)
          // worse when traced: lower throughput, higher lag
          val sign = if (key == "rows_per_s") -1.0 else 1.0
          layer("trace.overhead_pct") = sign * (endToEnd(p)(key) - base) / base * 100
          p
        }
      result ++= endToEnd(main)
      result("trigger_series_ms") = main.progress.map(Spans.dur(_, "triggerExecution"))
      result("lag_series_ms") = main.lags
      result("attempted_triggers") = main.progress.size
      result("failed_triggers") = main.failed

      cfg.opt("inject").foreach(inject(_, main.url))
      readBack(main)
      if (traced) {
        directCalls(main)
        layers(main, jobs, phases)
        derbyMetrics()
      }
      jvmMetrics()
      result("per_layer") = layer
      result("mem_peak_mb") = vmHwmMb()
      spark.stop()
      val out = new PrintWriter(cfg.str("result"))
      try out.println(Json.render(result)) finally out.close()
      0
    }

    /** One set-up of a subscription: a fresh database and checkpoint, the
      * DDL, the query started, its first batch (one warm-up file) landed,
      * and the query stopped.
      */
    def setUp(db: String): Unit = {
      val u = url(db)
      DriverManager.getConnection(u).close() // creates the database
      val in = Files.createDirectories(runDir.resolve(db + "-in"))
      reveal(hiddenCopy(files(warmDir).head, in))
      val ck = dir(db + "-ckpt")
      val w = workload match {
        case "drain_parquet" => AqlPipeline.attach(spark, in.toString, aql, u, ck)
        case "tail_json" => AqlPipeline.attachJson(spark, in.toString, aql, u, ck)
        case "resume_restart" => DbResume.attach(spark, in.toString, u, ck, db)
      }
      val (ps, failed) = runToEnd(w.start(), () => ())
      shutdown(db)
      if (failed > 0 || ps.isEmpty) sys.error(s"set-up $db failed")
    }

    /** Lets the JVM finish what the set-up left queued before the clock
      * starts: a full collection, then a wait until the JIT has compiled
      * nothing for half a second (at most 8 s). Returns the time waited.
      */
    def settle(): Double = {
      val jit = java.lang.management.ManagementFactory.getCompilationMXBean
      val t = now()
      System.gc()
      var last = jit.getTotalCompilationTime
      var quiet = 0
      while (quiet < 2 && now() - t < 8000) {
        Thread.sleep(250)
        val c = jit.getTotalCompilationTime
        quiet = if (c == last) quiet + 1 else 0
        last = c
      }
      now() - t
    }

    // ------------------------------------------------------------ passes

    /** One pass of the workload over `input` into database `db`. */
    def pass(input: Path, db: String, scheduled: Boolean): Pass = {
      val u = url(db)
      DriverManager.getConnection(u).close() // creates the database
      workload match {
        case "drain_parquet" =>
          val ck = dir(db + "-ckpt")
          val w = AqlPipeline.attach(spark, input.toString, aql, u, ck)
          drain(u, Seq(() => w))
        case "resume_restart" =>
          val stage = Files.createDirectories(runDir.resolve(db + "-stage"))
          val all = files(input)
          val half = all.size / 2
          all.take(half).foreach(f => reveal(hiddenCopy(f, stage)))
          val w1 = DbResume.attach(spark, stage.toString, u, dir(db + "-ckpt1"), db + "-phase1")
          drain(u, Seq(() => w1, () => {
            all.drop(half).map(hiddenCopy(_, stage)).foreach(reveal)
            DbResume.attach(spark, stage.toString, u, dir(db + "-ckpt2"), db + "-phase2")
          }))
        case "tail_json" =>
          tail(u, input, db, scheduled)
      }
    }

    type Writer = org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]

    /** Closed loop: each phase's writer drains everything available; the
      * first writer is built before the clock starts, later ones (the
      * restart) inside it. A file's lag runs from the start of its phase
      * to the end of the trigger that landed it.
      */
    def drain(u: String, phases: Seq[() => Writer]): Pass = {
      val first = phases.head()
      val t0 = now()
      val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
      val lags = mutable.ArrayBuffer[Double]()
      var failed = 0
      phases.zipWithIndex.foreach { case (mk, i) =>
        val phaseStart = now()
        val w = if (i == 0) first else mk()
        val (ps, f) = runToEnd(w.start(), () => ())
        failed += f
        progress ++= ps
        lags ++= ps.map(p => Spans.startMs(p) + Spans.dur(p, "triggerExecution") - phaseStart)
      }
      val tEnd = now()
      Pass(t0, tEnd, progress.toSeq, lags.toSeq, progress.map(_.numInputRows).sum,
        Nil, failed, u)
    }

    /** Starts `q`, runs `feed` while it runs, then waits until everything
      * available has landed. Returns the progress of every trigger that
      * ran data, and 1 if the query failed.
      */
    def runToEnd(q: StreamingQuery, feed: () => Unit): (Seq[StreamingQueryProgress], Int) = {
      var failed = 0
      try {
        feed()
        q.processAllAvailable()
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] query failed: $e")
          failed = 1
      }
      // triggers that ran a batch; idle polls report no addBatch
      val ps = q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
        .groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)
      q.stop()
      (ps, failed)
    }

    /** Open loop: the inputs are staged as hidden files and revealed on a
      * fixed schedule. A file's lag runs from when it was due to the end
      * of the trigger that landed it. On a schedule the first file primes
      * the fresh query before the clock starts: its trigger is start-up
      * work (first batch of the query, first MERGE into the new database),
      * so it lands and is checked but is not timed.
      */
    def tail(u: String, input: Path, db: String, scheduled: Boolean): Pass = {
      val watched = Files.createDirectories(runDir.resolve(db + "-watched"))
      val ck = dir(db + "-ckpt")
      val staged = files(input).map(hiddenCopy(_, watched))
      val w = AqlPipeline.attachJson(spark, watched.toString, aql, u, ck)
      val period = releasePeriod
      val q = w.start()
      val (primer, hidden) = if (scheduled) staged.splitAt(1) else (Nil, staged)
      primer.foreach(reveal)
      if (primer.nonEmpty) q.processAllAvailable()
      val primed = q.recentProgress.map(_.batchId).foldLeft(-1L)(math.max)
      val tStart = now()
      val t0 = tStart + (if (scheduled) 500.0 else 0.0) // let the query idle first
      val due = hidden.indices.map(i => if (scheduled) t0 + i * period else t0)
      val late = new Array[Double](hidden.size)
      val (all, failed) = runToEnd(q, () => {
        hidden.zipWithIndex.foreach { case (h, i) =>
          var wait = due(i) - now()
          while (wait > 0) {
            java.util.concurrent.locks.LockSupport.parkNanos((wait * 1e6).toLong)
            wait = due(i) - now()
          }
          reveal(h)
          late(i) = now() - due(i)
        }
      })
      val ps = all.filter(_.batchId > primed)
      // the file source's log names the batch that read each file
      val batchOf = sourceLog(ck)
      val endOf = ps.map(p => p.batchId ->
        (Spans.startMs(p) + Spans.dur(p, "triggerExecution"))).toMap
      val lags = hidden.indices.flatMap { i =>
        val name = hidden(i).getFileName.toString.drop(1)
        batchOf.get(name).flatMap(endOf.get).map(_ - due(i))
      }
      val tEnd = if (endOf.isEmpty) now() else endOf.values.max
      Pass(t0, tEnd, ps, lags, ps.map(_.numInputRows).sum, late.toSeq,
        failed + (if (lags.size == hidden.size) 0 else 1), u)
    }

    def releasePeriod: Double = 1000.0 / cfg.dbl("release_per_second")

    /** file name → batch id, from the file source's metadata log. */
    def sourceLog(ckpt: String): Map[String, Long] = {
      val d = Paths.get(ckpt, "sources", "0")
      val entry = """"path":"([^"]+)".*?"batchId":(\d+)""".r
      if (!Files.isDirectory(d)) Map.empty
      else files(d).flatMap { f =>
        Files.readAllLines(f).asScala.flatMap { line =>
          entry.findFirstMatchIn(line).map { m =>
            m.group(1).split('/').last -> m.group(2).toLong
          }
        }
      }.toMap
    }

    def endToEnd(p: Pass): Map[String, Double] = {
      val trig = p.progress.map(Spans.dur(_, "triggerExecution"))
      Map(
        "rows_per_s" -> p.rows / math.max(1e-9, (p.tEnd - p.t0) / 1000.0),
        "trigger_p50_ms" -> median(trig),
        "trigger_p90_ms" -> quantile(trig, 0.9),
        "lag_p50_ms" -> median(p.lags),
        "lag_p90_ms" -> quantile(p.lags, 0.9),
        "timed_s" -> (p.tEnd - p.t0) / 1000.0,
        "lag_samples" -> p.lags.size.toDouble,
        "late_p90_ms" -> quantile(p.late, 0.9),
        "lag_first_q_ms" -> median(p.lags.take(math.max(1, p.lags.size / 4))),
        "lag_last_q_ms" -> median(p.lags.takeRight(math.max(1, p.lags.size / 4))))
    }

    def shutdown(db: String): Unit =
      try DriverManager.getConnection(s"jdbc:derby:${dir(db)};shutdown=true").close()
      catch { case _: SQLException => () } // 08006 means it shut down

    // --------------------------------------------------------- read back

    val table: String = workload match {
      case "drain_parquet" => DerbySink.TABLE
      case "tail_json" => "aql_sink"
      case "resume_restart" => DbResume.SINK
    }

    def inject(what: String, u: String): Unit = what match {
      case "alter_row" =>
        val c = DerbySink.connect(u)
        try c.createStatement().executeUpdate(
          s"UPDATE $table SET user_id = user_id + 1 WHERE event_id = " +
            s"(SELECT MIN(event_id) FROM $table)")
        finally c.close()
      case other => sys.error(s"unknown injection $other")
    }

    /** Writes the landed table (and the OffsetMap) as canonical lines for
      * the correctness check, plus the counts the check compares.
      */
    def readBack(p: Pass): Unit = {
      val rows = dumpQuery(p.url, s"SELECT * FROM $table", dir("rows.txt"))
      result("check_rows_file") = dir("rows.txt")
      result("check_rows") = rows
      workload match {
        case "resume_restart" =>
          result("check_fresh") = DbResume.rowsWritten(p.url)
          val offs = DbResume.readOffsets(p.url)
          val out = new PrintWriter(dir("offsets.txt"))
          try offs.toSeq.sorted.foreach { case (k, v) => out.println(s"$k\u001f$v") }
          finally out.close()
          result("check_offsets_file") = dir("offsets.txt")
        case "tail_json" =>
          result("check_rejects") =
            EventJson.rejects(EventJson.read(spark, dir("db-watched"))).count()
        case _ =>
      }
    }

    def dumpQuery(u: String, sql: String, path: String): Long = {
      val c = DerbySink.connect(u)
      val out = new PrintWriter(path)
      var n = 0L
      try {
        val rs = c.createStatement().executeQuery(sql)
        val md = rs.getMetaData
        val cols = 1 to md.getColumnCount
        while (rs.next()) {
          out.println(cols.map { i =>
            val v = md.getColumnType(i) match {
              case Types.DOUBLE | Types.FLOAT =>
                val d = rs.getDouble(i)
                java.lang.Double.doubleToRawLongBits(d).toString
              case _ => rs.getString(i)
            }
            if (rs.wasNull()) "\\N" else v
          }.mkString("\u001f"))
          n += 1
        }
      } finally { out.close(); c.close() }
      n
    }

    // ------------------------------------------------------------ layers

    def layers(p: Pass, jt: JobTrace, pt: PhaseTrace): Unit = {
      val (jobs, stages) = jt.snapshot()
      val trig = p.progress
      def med(k: String) = median(trig.map(Spans.dur(_, k)))
      layer("stream.triggers") = trig.size
      layer("stream.latest_offset_ms") = med("latestOffset")
      layer("stream.get_batch_ms") = med("getBatch")
      layer("stream.planning_ms") = med("queryPlanning")
      layer("stream.wal_commit_ms") = med("walCommit")
      layer("stream.commit_offsets_ms") = med("commitOffsets")
      val te = trig.map(Spans.dur(_, "triggerExecution")).sum
      layer("stream.overhead_share") =
        if (te > 0) (te - trig.map(Spans.dur(_, "addBatch")).sum) / te else 0.0

      // spans: run → trigger → phases; add_batch → job → stage
      val spans = mutable.ArrayBuffer[Span]()
      var nextId = 1L
      def add(name: String, s: Double, e: Double, parent: Long,
              attrs: Map[String, Any] = Map.empty): Long = {
        val id = nextId; nextId += 1
        spans += Span(id, name, s, e, parent, attrs); id
      }
      val root = add("run", p.t0, p.tEnd, 0L, Map("workload" -> workload))
      val sinkLayer = if (workload == "resume_restart") "resume" else "sink"
      val addBatchSpan = mutable.HashMap[(String, Long), Long]()
      trig.foreach { t =>
        val s = Spans.startMs(t).toDouble
        val tid = add("stream.trigger", s, s + Spans.dur(t, "triggerExecution"), root,
          Map("batch" -> t.batchId, "rows" -> t.numInputRows))
        var at = s
        Spans.Phases.foreach { ph =>
          val d = Spans.dur(t, ph)
          val name = Spans.PhaseName(ph) match {
            case "add_batch" => sinkLayer + ".add_batch"
            case n => n
          }
          val id = add(name, at, at + d, tid)
          if (ph == "addBatch") addBatchSpan((t.id.toString, t.batchId)) = id
          at += d
        }
      }
      val streamJobs = jobs.filter(j => j.batchId >= 0 && j.end >= 0 &&
        addBatchSpan.contains((j.queryId, j.batchId)))
      def jobsOf(t: StreamingQueryProgress, js: Seq[JobRec]) =
        js.filter(j => j.queryId == t.id.toString && j.batchId == t.batchId)
      def jobTime(js: Seq[JobRec]) = Spans.covered(Double.MinValue, Double.MaxValue,
        js.map(j => (j.start.toDouble, j.end.toDouble)))
      streamJobs.foreach { j =>
        val parent = addBatchSpan((j.queryId, j.batchId))
        // in a DbResume trigger the jobs that are not the sink's belong to
        // the resume protocol (fresh count, offsets advance)
        val name = if (jt.isSinkJob(j)) "sink.job" else s"$sinkLayer.job"
        val jid = add(name, j.start, j.end, parent,
          Map("job" -> j.jobId, "execution" -> j.execId))
        j.stageIds.flatMap(s => stages.get(s).map(s -> _)).filter(_._2.start >= 0)
          .foreach { case (sid, a) =>
            add("spark.stage", a.start, a.end, jid,
              Map("stage" -> sid, "tasks" -> a.tasks, "cpu_ms" -> a.cpuNs / 1e6,
                "shuffle_write" -> a.shuffleWrite))
          }
      }
      val sinkJobs = streamJobs.filter(jt.isSinkJob)
      val sinkStages = sinkJobs.flatMap(_.stageIds).distinct.flatMap(stages.get)
      // the JDBC writes run in the last stage of a trigger's last sink job
      val writeStages = sinkJobs.groupBy(j => (j.queryId, j.batchId)).values
        .flatMap(js => stages.get(js.maxBy(_.jobId).stageIds.max)).toSeq
      val n = math.max(1, trig.size)
      layer("sink.add_batch_ms") =
        if (sinkLayer == "sink") med("addBatch")
        else median(trig.map(t => jobTime(jobsOf(t, sinkJobs))))
      layer("sink.jobs_per_trigger") = sinkJobs.size.toDouble / n
      layer("sink.tasks_per_trigger") = writeStages.map(_.tasks).sum.toDouble / n
      layer("sink.useful_task_ratio") = {
        val t = writeStages.map(_.tasks).sum
        if (t == 0) 0.0 else writeStages.map(_.useful).sum.toDouble / t
      }
      layer("sink.shuffle_write_bytes") = sinkStages.map(_.shuffleWrite).sum
      layer("sink.task_cpu_ms") = sinkStages.map(_.cpuNs).sum / 1e6 / n
      layer("sink.task_wait_ms") =
        (sinkStages.map(_.runMs).sum - sinkStages.map(_.cpuNs).sum / 1e6) / n
      layer("sink.catalyst_ms") = pt.total / n

      if (workload == "resume_restart") {
        layer("resume.add_batch_ms") = med("addBatch")
        layer("resume.jobs_per_trigger") = streamJobs.size.toDouble / n
        layer("resume.driver_ms_per_trigger") =
          median(trig.map(t => Spans.dur(t, "addBatch") - jobTime(jobsOf(t, streamJobs))))
      } else {
        layer("resume.add_batch_ms") = 0.0
        layer("resume.jobs_per_trigger") = 0.0
        layer("resume.driver_ms_per_trigger") = 0.0
      }
      val allStages = streamJobs.flatMap(_.stageIds).distinct.flatMap(stages.get)
      layer("spark.jobs") = streamJobs.size
      layer("spark.stages") = allStages.size
      layer("spark.tasks") = allStages.map(_.tasks).sum
      layer("spark.shuffle_bytes") = allStages.map(_.shuffleWrite).sum
      layer("loadgen.late_p90_ms") = quantile(p.late, 0.9)
      // how late each open-loop release ran: due time to the rename
      p.late.zipWithIndex.foreach { case (l, i) =>
        add("loadgen.release", p.t0 + i * releasePeriod, p.t0 + i * releasePeriod + l, root)
      }
      if (directSpans.nonEmpty) {
        val d = add("direct", directSpans.map(_._2).min, directSpans.map(_._3).max, 0L)
        directSpans.foreach { case (name, s, e) => add(name, s, e, d) }
      }

      writeSpans(spans.toSeq, pt)
    }

    def writeSpans(spans: Seq[Span], pt: PhaseTrace): Unit = {
      val self = Spans.selfTimes(spans)
      val table = spans.groupBy(_.name).toSeq.map { case (name, ss) =>
        mutable.LinkedHashMap[String, Any]("name" -> name, "count" -> ss.size,
          "total_ms" -> ss.map(_.dur).sum, "self_ms" -> ss.map(s => self(s.id)).sum)
      }.sortBy(m => -m("self_ms").asInstanceOf[Double])
      result("self_time") = table
      result("catalyst_phases_ms") = pt.byPhase
      val f = cfg.str("spans")
      Files.createDirectories(Paths.get(f).getParent)
      val out = new PrintWriter(f)
      try spans.foreach { s =>
        out.println(Json.render(mutable.LinkedHashMap[String, Any]("id" -> s.id,
          "name" -> s.name, "start" -> s.start, "end" -> s.end, "parent" -> s.parent,
          "self_ms" -> self(s.id)) ++ s.attrs))
      } finally out.close()
      result("spans_file") = f
    }

    // ------------------------------------------------------ direct calls

    /** Direct calls, kept as spans: (name, start, end). */
    val directSpans = mutable.ArrayBuffer[(String, Double, Double)]()

    def timed[T](name: String)(body: => T): (Double, T) = {
      val t = now(); val r = body; val e = now()
      directSpans += ((name, t, e))
      (e - t, r)
    }

    /** One trigger's worth of the workload's sink input, as a static frame. */
    def triggerFrame(): DataFrame = {
      val first = files(inputDir).head.toString
      workload match {
        case "drain_parquet" =>
          val ev = Filters.withTags(EventStream.readBatch(spark, first))
          ev.filter(Aql.predicate(aql)).select(col("event_id"),
            expr("ts div 1000").as("ts_us"), col("user_id"), col("event_type"), col("value"))
        case "tail_json" =>
          val keyed = EventJson.wellFormed(EventJson.read(spark, first))
            .filter(col("event_id").isNotNull)
          Aql.sinkProjection(Filters.withTags(EventStream.withEventTime(keyed)), aql)
        case "resume_restart" =>
          EventStream.readBatch(spark, first).select(col("event_id"), col("ts_us"),
            col("user_id"), col("event_type"), col("value"))
      }
    }

    /** Timed direct calls into each layer's public functions. */
    def directCalls(p: Pass): Unit = {
      val frame = triggerFrame().persist()
      val n = frame.dropDuplicates("event_id").count().toDouble
      val u = url("direct")
      val t = "direct_sink"
      DerbySink.ensureTableFor(u, t, frame.schema, "event_id")
      // the first round warms the statement cache and is not counted
      val runs = (0 until 4).map { i =>
        val c = DerbySink.connect(u)
        try c.createStatement().executeUpdate(s"TRUNCATE TABLE $t") finally c.close()
        val (ins, _) = timed("sink.direct_insert")(DerbySink.upsertBatchAs(frame, u, t, "event_id"))
        val (upd, _) = timed("sink.direct_update")(DerbySink.upsertBatchAs(frame, u, t, "event_id"))
        (ins, upd)
      }.drop(1)
      frame.unpersist()
      shutdown("direct")
      layer("sink.insert_us_per_row") = median(runs.map(_._1)) * 1000 / n
      layer("sink.update_us_per_row") = median(runs.map(_._2)) * 1000 / n

      if (workload == "tail_json") {
        val parse = (0 until 3).map { _ =>
          timed("json.parse")(EventJson.read(spark, inputDir.toString)
            .agg(count(lit(1)), sum(hash(EventJson.schema.fieldNames.map(col).toIndexedSeq: _*)))
            .collect())._1
        }
        val lines = files(inputDir).map(f => Files.readAllLines(f).size).sum
        layer("json.parse_us_per_row") = median(parse) * 1000 / lines
        layer("json.rejects") = result("check_rejects")
      } else {
        layer("json.parse_us_per_row") = 0.0
        layer("json.rejects") = 0L
      }

      layer("aql.lower_ms") =
        if (aql.isEmpty) 0.0
        else {
          val first = files(inputDir).head.toString
          val events =
            if (workload == "tail_json")
              EventStream.withEventTime(EventJson.wellFormed(EventJson.read(spark, first)))
            else EventStream.readBatch(spark, first)
          val src = Filters.withTags(events)
          median((0 until 20).map { _ =>
            timed("aql.lower") {
              if (Aql.parse(aql).select.isEmpty) src.filter(Aql.predicate(aql))
              else Aql.sinkProjection(src, aql)
            }._1
          })
        }

      if (workload == "resume_restart") {
        val reads = (0 until 3).map(_ => timed("resume.read_offsets")(DbResume.readOffsets(p.url)))
        layer("resume.read_offsets_ms") = median(reads.map(_._1))
        layer("resume.fresh_rows") = DbResume.rowsWritten(p.url)
        layer("resume.offsets_rows") = reads.head._2.size
      } else {
        layer("resume.read_offsets_ms") = 0.0
        layer("resume.fresh_rows") = 0L
        layer("resume.offsets_rows") = 0L
      }
    }

    def derbyMetrics(): Unit = {
      val rows = result("check_rows").asInstanceOf[Long]
      shutdown("db")
      layer("derby.rows") = rows
      layer("derby.bytes_per_row") = dirBytes(runDir.resolve("db")).toDouble / math.max(1L, rows)
    }

    def dirBytes(d: Path): Long =
      Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

    def jvmMetrics(): Unit = {
      import java.lang.management.{ManagementFactory, MemoryType}
      layer("jvm.gc_ms") = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
      layer("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
    }

    /** Resident-set high-water mark of this process, in MB. */
    def vmHwmMb(): Double = {
      val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
      "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(status).map(_.group(1).toDouble / 1024)
        .getOrElse(0.0)
    }
  }
}
