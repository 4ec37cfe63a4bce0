package graft.pipebench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark JVM: runs one workload and writes its result as JSON.
  *
  * {{{
  * pipebench.Main --workload kofic_backfill|kofic_daily|analytics_board
  *   --seed N --seconds S --trace 0|1 --run-dir DIR --data SF_DIR
  *   --board-rows FILE --out FILE
  * }}}
  * `run.py` builds this and launches it; see README.md beside it.
  */
object Main {
  val Layers = Seq("setup", "ingest", "pipeline", "store", "consolidate",
    "model", "dashboard", "board")

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val traced = args("trace") == "1"
    val runDir = new File(args("run-dir"))
    val boardRows = scala.io.Source.fromFile(args("board-rows"), "UTF-8")
      .getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, n) = l.split("\\s+"); q -> n.toLong }.toMap
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"pipebench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(runDir, "local").getAbsolutePath)
      .config("spark.graft.modelgraph.stateRoot", new File(runDir, "state").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tr = new Tracer(spark.sparkContext, traced)
    val c = Ctx(spark, tr, args("seed").toLong, args("seconds").toDouble,
      runDir, new File(args("data")).getAbsolutePath, boardRows)
    val r = new Result
    try workload match {
      case "kofic_backfill" => Workloads.backfill(c, r)
      case "kofic_daily" => Workloads.daily(c, r)
      case "analytics_board" => Workloads.board(c, r)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case scala.util.control.NonFatal(e) =>
        r.failed += 1
        r.attempted += 1
        r.errors += s"workload aborted: $e"
        e.printStackTrace()
    }
    val stats = tr.stats()
    val rss = peakRssMb()
    spark.stop()

    val e2e = mutable.LinkedHashMap(
      "setup_s" -> median(r.setupS.toSeq),
      "batch_p50_s" -> median(r.batchS.toSeq))
    val named = namedMetrics(workload, r, rss)
    val layers = if (traced) perLayer(stats, r, sessionS) else mutable.LinkedHashMap.empty[String, Double]
    r.errors.foreach(e => System.err.println(s"[pipebench] check failed: $e"))
    val json = Json.obj(
      "workload" -> workload,
      "correct" -> (r.errors.isEmpty && r.failed == 0 && r.batchS.nonEmpty),
      "attempted" -> math.max(1L, r.attempted),
      "failed" -> r.failed,
      "end_to_end" -> e2e,
      "named" -> named,
      "per_layer" -> layers,
      "samples" -> mutable.LinkedHashMap("setup_s" -> r.setupS.toSeq,
        "batch_s" -> r.batchS.toSeq),
      "errors" -> r.errors.toSeq,
      "env" -> mutable.LinkedHashMap[String, Any](
        "nproc" -> cpus,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "seed" -> c.seed,
        "backfill_days" -> Workloads.BackfillDays,
        "history_days" -> Workloads.HistoryDays,
        "board_queries" -> Workloads.BoardQueries.size,
        "board_data" -> new File(c.dataDir).getName,
        "seconds" -> c.seconds),
      "spans" -> stats.map { st =>
        mutable.LinkedHashMap[String, Any](
          "id" -> st.span.id, "parent" -> st.span.parent,
          "name" -> st.span.name,
          "start_ms" -> st.span.startMs, "end_ms" -> st.span.endMs,
          "self_ms" -> st.selfMs, "wait_ms" -> st.waitMs,
          "jobs" -> st.span.jobs, "tasks" -> st.span.tasks,
          "busy_ms" -> st.span.busyMs,
          "shuffle_write_bytes" -> st.span.shuffleWriteBytes,
          "spill_bytes" -> st.span.spillBytes)
      })
    Files.write(new File(args("out")).toPath, json.getBytes(UTF_8))
  }

  /** The named metrics this workload produces, with sample counts. */
  private def namedMetrics(workload: String, r: Result, rss: Double)
      : mutable.LinkedHashMap[String, Any] = {
    val out = mutable.LinkedHashMap.empty[String, Any]
    def put(name: String, unit: String, xs: Seq[Double], q: Double): Unit =
      if (xs.nonEmpty) out(name) = mutable.LinkedHashMap(
        "value" -> quantile(xs, q), "unit" -> unit, "n" -> xs.size)
    put("setup_s", "s", r.setupS.toSeq, 0.5)
    workload match {
      case "kofic_backfill" => put("backfill_s", "s", r.batchS.toSeq, 0.5)
      case "kofic_daily" =>
        put("refresh_p50_s", "s", r.samples.getOrElse("refresh_s", Nil).toSeq, 0.5)
        val d = r.samples.getOrElse("dashboard_ms", Nil).toSeq
        put("dashboard_p50_ms", "ms", d, 0.5)
        put("dashboard_p75_ms", "ms", d, 0.75)
      case "analytics_board" => put("board_s", "s", r.samples.getOrElse("board_s", Nil).toSeq, 0.5)
      case _ =>
    }
    out("fail_ratio") = mutable.LinkedHashMap("value" ->
      r.failed.toDouble / math.max(1L, r.attempted), "unit" -> "ratio",
      "n" -> r.attempted)
    out("peak_rss_mb") = mutable.LinkedHashMap("value" -> rss, "unit" -> "MB", "n" -> 1)
    out
  }

  /** Per-layer figures of a traced run: generic counters for every layer
    * plus the named layer metrics. Layers a workload does not reach
    * read 0. */
  def perLayer(stats: Seq[SpanStat], r: Result, sessionS: Double)
      : mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    for (l <- Layers) {
      val ss = stats.filter(_.span.layer == l)
      m(s"$l.jobs") = ss.map(_.span.jobs).sum.toDouble
      m(s"$l.tasks") = ss.map(_.span.tasks).sum.toDouble
      m(s"$l.busy_s") = ss.map(_.span.busyMs).sum / 1e3
      m(s"$l.wait_s") = ss.map(_.waitMs).sum / 1e3
      m(s"$l.self_s") = ss.map(_.selfMs).sum / 1e3
    }
    def walls(name: String) = stats.filter(_.span.name == name).map(_.span.wallMs / 1e3)
    def med(name: String) = { val w = walls(name); if (w.isEmpty) 0.0 else median(w) }
    def gauge(name: String) = r.gauges.get(name).map(g => median(g.toSeq)).getOrElse(0.0)
    val days = stats.filter(_.span.name == "ingest.day")
    m("ingest.day_s") = med("ingest.day")
    m("ingest.jobs_per_day") =
      if (days.isEmpty) 0.0 else days.map(_.span.jobs).sum.toDouble / days.size
    m("ingest.files_written_per_day") = gauge("ingest.files_written_per_day")
    val nights = walls("pipeline.backfill").size
    m("pipeline.isdone_s") =
      if (nights == 0) 0.0 else walls("pipeline.isdone").sum / nights
    m("store.resolve_s") = med("store.resolve")
    Seq("store.partitions", "store.files", "store.bytes").foreach(g => m(g) = gauge(g))
    m("consolidate.views_s") = med("consolidate.views")
    Seq("box_office_data", "box_office_showrange", "movie_daily", "tests")
      .foreach(x => m(s"model.${x}_s") = med(s"model.$x"))
    m("model.state_bytes_written") = gauge("model.state_bytes_written")
    m("model.movie_daily.rewrite_ratio") = gauge("model.movie_daily.rewrite_ratio")
    Workloads.Dashboards.foreach { case (t, _) =>
      m(s"dashboard.${t}_ms") = med(s"dashboard.$t") * 1e3
    }
    m("dashboard.resolve_ms") = med("dashboard.resolve") * 1e3
    m("dashboard.execute_ms") = med("dashboard.execute") * 1e3
    val passes = math.max(1, r.samples.get("board_s").map(_.size).getOrElse(1))
    Workloads.BoardQueries.foreach { q =>
      val ss = stats.filter(_.span.name == s"board.$q")
      m(s"board.${q}_s") = med(s"board.$q")
      m(s"board.$q.jobs") = ss.map(_.span.jobs).sum.toDouble / passes
      m(s"board.$q.shuffle_write_bytes") =
        ss.map(_.span.shuffleWriteBytes).sum.toDouble / passes
      m(s"board.$q.busy_s") = ss.map(_.span.busyMs).sum / 1e3 / passes
    }
    val board = stats.filter(_.span.layer == "board")
    m("board.shuffle_write_bytes") = board.map(_.span.shuffleWriteBytes).sum.toDouble
    m("board.spill_bytes") = board.map(_.span.spillBytes).sum.toDouble
    m("setup.session_s") = sessionS
    Seq("generate", "history", "stores", "warmup")
      .foreach(x => m(s"setup.${x}_s") = med(s"setup.$x"))
    // share of the timed batches' wall time that top-level spans cover
    val roots = Tracer.merge(stats.filter(_.span.parent < 0)
      .map(s => (s.span.startMs, s.span.endMs)))
    val win = r.windows.toSeq
    val total = win.map { case (a, b) => b - a }.sum
    m("trace.coverage") = if (total <= 0) 0.0 else Tracer.overlap(win, roots) / total
    m
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def obj(kv: (String, Any)*): String = write(mutable.LinkedHashMap(kv: _*))

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }
}
