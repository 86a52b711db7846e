package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{CacheFills, SparkEntry}
import graft.functions.GraftFunctions
import graft.pipeline._
import graft.serve.SecureShare

/** The benchmark's JVM half: sets up, drives one workload through the
  * program's public entry points, checks the outputs and writes raw
  * measurements to a JSON-lines record (see `Record`). Arguments come from
  * `perfbench/run.py`, which derives every seeded choice and reduces the
  * record to metrics.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val rec = new Record(a("record"))
    val bench = new Bench(a, rec)
    try bench.run()
    catch {
      case e: Throwable =>
        rec.emit("check", "name" -> "run", "ok" -> false, "detail" -> e.toString)
        throw e
    } finally {
      bench.stop()
      rec.close()
    }
  }
}

final class Bench(a: Map[String, String], rec: Record) {
  private val work = a("work")
  private val data = a("data")
  private val cores = a("cores").toInt
  private val traced = a("trace") == "1"
  private val accounts = Seq("ACCT_PUB", "ACCT_NYCHA", "ACCT_JCHA")

  private var spark: SparkSession = _
  private def now(): Long = System.currentTimeMillis()

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  def run(): Unit = a("workload") match {
    case "backfill" | "trickle" => pipelineWorkload(a("workload"))
    case "entries" => entriesWorkload()
    case w => sys.error(s"unknown workload $w")
  }

  // ---- session and phases ----------------------------------------------

  private def startSession(): Unit = {
    stop()
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          rec.emit("progress", "phase" -> phase, "batch" -> p.batchId,
            "rows" -> p.numInputRows,
            "end_ms" -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
              d.getOrElse("triggerExecution", 0L)),
            "durations" -> d.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" })
        }
      }
    })
  }

  @volatile private var phase = "setup"
  private var trace: Option[Trace] = None

  /** Run `body` once untraced ("main"), and in a traced run once more with
    * the listeners attached ("traced"), so the reducer can price tracing.
    */
  private def measured(body: String => Unit): Unit = {
    phase = "main"
    body("main")
    if (traced) {
      val t = new Trace(rec)
      trace = Some(t)
      t.attach(spark)
      phase = "traced"
      body("traced")
    }
  }

  private def timedOp[T](kind: String, fields: (String, Any)*)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val start = now()
    val r = try Right(body) catch { case e: Exception => Left(e) }
    rec.emit("op", (Seq("op" -> kind, "phase" -> phase, "start_ms" -> start,
      "ms" -> (System.nanoTime() - t0) / 1e6, "ok" -> r.isRight,
      "error" -> r.left.toOption.map(_.toString.take(300))) ++ fields): _*)
    r.toOption
  }

  private def check(name: String, ok: Boolean, detail: Any = ""): Unit =
    rec.emit("check", "name" -> name, "ok" -> ok, "detail" -> detail.toString)

  // ---- pipeline workloads ----------------------------------------------

  private val sfPipe = s"$data/sf0.1"
  private val pool = s"$work/pool"
  private val warmDays = a.getOrElse("warm-days", "0").toInt
  private val days = a.getOrElse("days", "0").toInt
  private lazy val poolFiles: Seq[Path] =
    Files.list(Paths.get(pool)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).toSeq.sortBy(_.getFileName.toString)

  private def mdy(d: java.time.LocalDate): String =
    d.format(java.time.format.DateTimeFormatter.ofPattern("MM/dd/yyyy"))

  private def pipelineWorkload(w: String): Unit = {
    val first = java.time.LocalDate.parse(a("start-day"))
    val windowStart = first.plusDays(warmDays)
    val windowEnd = first.plusDays(warmDays + days - 1)
    val t0 = System.nanoTime()
    startSession()
    val n = timedOp("Producer.unload") {
      Producer.streamData(spark, sfPipe, pool, mdy(first), mdy(windowEnd))
    }.getOrElse(0)
    val warm = PipelinePaths(s"$work/warm")
    land(poolFiles.take(warmDays), warm.stage)
    if (w == "trickle") {
      // Warm the consumers' read path while the warm batch runs.
      val q = new Pipeline(spark, warm).start(Trigger.AvailableNow())
      readCycle(spark.newSession(), warm)
      q.awaitTermination()
    } else new Pipeline(spark, warm).runAvailableNow()
    rec.emit("setup", "s" -> (System.nanoTime() - t0) / 1e9, "files" -> n,
      "bytes" -> poolFiles.map(Files.size(_)).sum)
    val window = poolFiles.drop(warmDays)
    check("pool_files", window.size == days, s"${window.size} of $days days")
    val src = CitibikeSource.trips(spark, sfPipe).filter(
      to_date(col("starttime")).between(windowStart.toString, windowEnd.toString))
    if (w == "backfill") measured(p => backfill(p, window, src))
    else measured(p => trickle(p, window, src))
  }

  /** Copy `files` into `stage` all at once (the backlog). */
  private def land(files: Seq[Path], stage: String): Unit = {
    Files.createDirectories(Paths.get(stage))
    files.foreach(f => Files.copy(f, Paths.get(stage, f.getFileName.toString)))
  }

  /** One consumer cycle: the consumption report for each account (view
    * re-registered each time), then one monitoring op. With `out` the
    * reports go to `out` instead, and the cycle ends there.
    */
  private def readCycle(s: SparkSession, paths: PipelinePaths,
      client: Int = 0, out: Option[Map[String, Map[String, Long]] => Unit] = None): Unit = {
    // Each client reads through its own read-only Pipeline: the secure
    // view registers its base views on the pipeline's session.
    val pipe = new Pipeline(s, paths)
    val t0 = System.nanoTime()
    val reports = accounts.flatMap { acct =>
      timedOp("report", "acct" -> acct, "client" -> client) {
        Trace.withOp(s, s"report:$acct:${opIds.incrementAndGet()}") {
          val t0 = System.nanoTime()
          SecureShare.registerTripsSecureView(s, pipe)
          rec.emit("register", "phase" -> phase, "ms" -> (System.nanoTime() - t0) / 1e6)
          s.conf.set(GraftFunctions.AccountConfKey, acct)
          val df = SecureShare.consumptionReport(s)
          val rows = df.collect()
          rec.emit("report_plan", "phase" -> phase, "acct" -> acct,
            "plan_ms" -> df.queryExecution.tracker.phases.values.map(_.durationMs).sum)
          acct -> rows.map(r => r.getString(0) -> r.getLong(2)).toMap
        }
      }
    }
    out.foreach(_(reports.toMap))
    if (out.isEmpty) {
      val m0 = System.nanoTime()
      timedOp("dashboard", "client" -> client) {
        Trace.withOp(s, "dashboard")(pipe.dashboard().collect())
      }
      timedOp("pipeStatus", "client" -> client) {
        Trace.withOp(s, "pipeStatus")(pipe.pipeStatus())
      }
      val end = System.nanoTime()
      rec.emit("monitor", "phase" -> phase, "ms" -> (end - m0) / 1e6)
      rec.emit("cycle", "phase" -> phase, "ms" -> (end - t0) / 1e6)
    }
  }

  private val opIds = new java.util.concurrent.atomic.AtomicLong()

  /** One drain of the whole backlog: fixed work, so two commits are
    * always compared on the same drain.
    */
  private def backfill(p: String, window: Seq[Path], src: DataFrame): Unit = {
    val paths = PipelinePaths(s"$work/$p")
    land(window, paths.stage)
    val start = now()
    window.foreach(f => rec.emit("land", "phase" -> p, "file" -> f.getFileName.toString,
      "due_ms" -> start, "landed_ms" -> start, "bytes" -> Files.size(f)))
    timedOp("drain", "files" -> window.size) {
      new Pipeline(spark, paths).runAvailableNow()
    }
    emitLoads(paths, window.map(_.getFileName.toString -> start).toMap)
    if (p == "main") {
      phase = "check"
      val pipe = new Pipeline(spark, paths)
      val cols = Transform.tripsSchema.fieldNames.map(col).toIndexedSeq
      val got = pipe.trips().select(cols: _*)
      val exp = src.select(cols: _*)
      check("trips_equal_source",
        got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)
      val progs = src.select("program_id").distinct().count()
      val stations = src.select(col("start_station_id").as("id"))
        .union(src.select(col("end_station_id").as("id"))).distinct().count()
      check("programs_distinct", pipe.programs().count() == progs &&
        pipe.programs().select("program_id").distinct().count() == progs)
      check("stations_distinct", pipe.stations().count() == stations &&
        pipe.stations().select("station_id").distinct().count() == stations)
      val ch = pipe.copyHistory().agg(count(lit(1)), sum("row_count")).head()
      check("copy_history_sums",
        ch.getLong(0) == window.size && ch.getLong(1) == src.count(),
        s"files=${ch.get(0)} rows=${ch.get(1)}")
    }
  }

  private def trickle(p: String, window: Seq[Path], src: DataFrame): Unit = {
    val interval = a("interval-ms").toLong
    val paths = PipelinePaths(s"$work/$p")
    Files.createDirectories(Paths.get(paths.stage))
    val pipe = new Pipeline(spark, paths)
    // The window's first file primes the query, so its first batch (the
    // query's own start-up) runs before the clock starts.
    val primer = window.head
    land(Seq(primer), paths.stage)
    var lines = Files.readAllLines(primer).size.toLong
    val q = pipe.start(Trigger.ProcessingTime(0))
    q.processAllAvailable()
    @volatile var stopping = false
    val clients = (0 until a("clients").toInt).map { c =>
      val s = spark.newSession()
      val t = new Thread(() => while (!stopping) readCycle(s, paths, c))
      t.start()
      t
    }
    val t0 = now() + 500
    val due = scala.collection.mutable.Map.empty[String, Long]
    window.tail.zipWithIndex.foreach { case (f, k) =>
      val at = t0 + k * interval
      val wait = at - now()
      if (wait > 0) Thread.sleep(wait)
      val name = f.getFileName.toString
      val hidden = Paths.get(paths.stage, "." + name)
      Files.copy(f, hidden)
      Files.move(hidden, Paths.get(paths.stage, name), StandardCopyOption.ATOMIC_MOVE)
      rec.emit("land", "phase" -> p, "file" -> name, "due_ms" -> at,
        "landed_ms" -> now(), "bytes" -> Files.size(f))
      due(name) = at
      lines += Files.readAllLines(f).size
    }
    stopping = true
    clients.foreach(_.join())
    timedOp("drain_rest")(q.processAllAvailable())
    q.stop()
    emitLoads(paths, due.toMap)
    if (p == "main") {
      phase = "check"
      val ch = copyHistoryWithBatch(paths)
      val perFile = ch.groupBy("file_name").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val landed = due.keySet + primer.getFileName.toString
      check("each_file_loaded_once",
        perFile.keySet == landed && perFile.values.forall(_ == 1),
        s"${perFile.size} of ${landed.size} files")
      val n = pipe.trips().count()
      check("trips_equal_landed_lines", n == lines, s"$n vs $lines")
      val expected = expectedReports(src)
      readCycle(spark.newSession(), paths, -1, Some(got =>
        accounts.foreach(acct => check(s"report_$acct",
          got.get(acct).contains(expected(acct)), got.get(acct)))))
    }
  }

  /** Each account's consumption report computed straight from the source
    * rows the window landed: trips per program name the account may see.
    */
  private def expectedReports(src: DataFrame): Map[String, Map[String, Long]] = {
    val perProgram = src.join(CitibikeSource.programs(spark, sfPipe), "program_id")
      .groupBy("program_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    SecureShare.security(spark).collect().map { r =>
      val like = r.getString(2).replace("%", ".*").r
      r.getString(1) -> perProgram.filter { case (k, _) => like.matches(k) }
    }.toMap
  }

  private def copyHistoryWithBatch(paths: PipelinePaths): DataFrame =
    // `_batch_id` is a partition column; partition discovery would infer
    // it as an int, so the schema states it as the long it is.
    spark.read.schema(StructType(Metrics.copyHistorySchema.fields :+
      StructField("_batch_id", LongType))).parquet(paths.copyHistory)

  /** The raw facts the freshness join needs — which batch loaded each file
    * and when each batch committed — plus the stored footprint.
    */
  private def emitLoads(paths: PipelinePaths, due: Map[String, Long]): Unit = {
    val run = Paths.get(paths.root).getFileName.toString
    copyHistoryWithBatch(paths).select("file_name", "_batch_id", "row_count")
      .collect().foreach(r => rec.emit("load", "phase" -> phase, "run" -> run,
        "file" -> r.getString(0), "batch" -> r.getLong(1), "rows" -> r.getLong(2),
        "due_ms" -> due.get(r.getString(0))))
    Files.list(Paths.get(paths.checkpoint, "commits")).iterator().asScala
      .filter(f => f.getFileName.toString.forall(_.isDigit)).foreach { f =>
        rec.emit("commit", "phase" -> phase, "run" -> run, "batch" -> f.getFileName.toString.toLong,
          "ms" -> Files.getLastModifiedTime(f).toMillis)
      }
    Seq("trips_raw" -> Seq(paths.rawTrips), "trips" -> Seq(paths.trips),
      "dims" -> Seq(paths.stations, paths.programs),
      "ops" -> Seq(paths.copyHistory, paths.taskHistory),
      "checkpoint" -> Seq(paths.checkpoint)).foreach { case (store, dirs) =>
      val files = dirs.map(Paths.get(_)).filter(Files.exists(_)).flatMap { d =>
        Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      }
      rec.emit("store", "phase" -> phase, "store" -> store, "files" -> files.size,
        "bytes" -> files.map(Files.size(_)).sum)
    }
  }

  // ---- entries -----------------------------------------------------------

  private def entriesWorkload(): Unit = {
    val byName = SparkEntry.packs.flatMap(pk =>
      pk.queries.map(q => q.name -> (pk.getClass.getSimpleName.stripSuffix("$"), q))).toMap
    val order = a("entries").split(",").toSeq.map(n => n -> byName(n))
    val warmSf = s"$data/sf0.001"
    val sf = s"$data/sf0.01"
    val t0 = System.nanoTime()
    startSession()
    order.foreach { case (_, (_, q)) =>
      try q.run(spark, warmSf).write.format("noop").mode("overwrite").save()
      catch { case _: Exception => () }
    }
    rec.emit("setup", "s" -> (System.nanoTime() - t0) / 1e9)
    measured { p =>
      // A traced pass gets a fresh application, so it pays the session
      // stores' fills again exactly as the untraced pass did.
      if (p == "traced") {
        startSession()
        trace.foreach(_.attach(spark))
      }
      val before = CacheFills.snapshot
      val t0 = System.nanoTime()
      order.foreach { case (name, (pack, q)) =>
        val start = now()
        val t = System.nanoTime()
        var built = 0.0
        // The output's row count rides along as an observed metric, so
        // the oracle checks the very pass that was timed.
        val rows = Observation(name)
        val r = try {
          Trace.withOp(spark, s"entry:$name") {
            val df = q.run(spark, sf)
            built = (System.nanoTime() - t) / 1e6
            df.observe(rows, count(lit(1)).as("rows"))
              .write.format("noop").mode("overwrite").save()
          }
          None
        } catch { case e: Exception => Some(e.toString.take(300)) }
        val ms = (System.nanoTime() - t) / 1e6
        rec.emit("entry", "phase" -> p, "name" -> name, "pack" -> pack,
          "start_ms" -> start, "ms" -> ms, "build_ms" -> built,
          "ok" -> r.isEmpty, "error" -> r,
          "rows" -> (if (r.isEmpty) rows.get("rows") else null))
      }
      rec.emit("pass", "phase" -> p, "s" -> (System.nanoTime() - t0) / 1e9)
      val fills = CacheFills.snapshot.filter { case (k, v) => !before.get(k).contains(v) }
      rec.emit("fills", "phase" -> p, "n" -> fills.size,
        "s" -> fills.map { case (k, v) => v - before.getOrElse(k, 0.0) }.sum)
    }
    val oracle = SparkEntry.oracleSql
    order.foreach { case (name, _) =>
      oracle.get(name).foreach(sql => rec.emit("oracle", "name" -> name, "sql" -> sql))
    }
  }
}
