package graft.pipebench

import java.io.File
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** What one workload run measured. Times are seconds. */
final class Result {
  val setupS = mutable.ArrayBuffer.empty[Double]
  val batchS = mutable.ArrayBuffer.empty[Double]
  /** Epoch-ms windows of the timed batches (trace coverage). */
  val windows = mutable.ArrayBuffer.empty[(Double, Double)]
  /** Named timings printed beside the end-to-end metrics: name -> samples. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Traced-run gauges and counters: name -> values. */
  val gauges = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def gauge(name: String, v: Double): Unit =
    gauges.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
}

/** Run-wide inputs of a workload. `runDir` is private to this run. */
final case class Ctx(spark: SparkSession, tr: Tracer, seed: Long,
    seconds: Double, runDir: File, dataDir: String, boardRows: Map[String, Long])

object Workloads {
  /** Days the first-night backfill ingests. */
  val BackfillDays = 20
  /** History the daily refresh runs against. */
  val HistoryDays = 60
  /** Setups per run; `setup_s` is their median. */
  val Setups = 3
  /** The analytics board: the heaviest carried performance leads
    * (curation capstone, shingle/band sweep, rank fusion), a graph
    * fixpoint, an executor-bound profile scan and the streaming family.
    * Sized so a cold pass stays near 25 s. */
  val BoardQueries = Seq("pipeline_curate2", "graph_label_prop",
    "dedup_band_sweep", "retrieval_rrf", "dq_profile", "stream_session")

  private def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `batch(i)` for i = 0, 1, ... until `seconds` have passed (at
    * least `min`, at most `max` batches), timing each. A batch that
    * throws counts as failed and ends the loop. */
  private def measure(c: Ctx, r: Result, min: Int, max: Int)(
      batch: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    var ok = true
    while (ok && i < max && (i < min || (System.nanoTime() - t0) / 1e9 < c.seconds)) {
      val w0 = c.tr.nowMs
      try {
        val (_, s) = secs(batch(i))
        r.batchS += s
        r.windows += ((w0, c.tr.nowMs))
      } catch {
        case scala.util.control.NonFatal(e) =>
          ok = false
          r.failed += 1
          r.errors += s"batch $i: $e"
          e.printStackTrace()
      }
      i += 1
    }
  }

  private def freshDir(parent: File, name: String): File = {
    val d = new File(parent, name)
    Kofic.deleteRecursively(d)
    d.mkdirs()
    d
  }

  private def useState(c: Ctx, dir: File): Unit =
    c.spark.conf.set("spark.graft.modelgraph.stateRoot",
      new File(dir, "state").getAbsolutePath)

  // ---------------------------------------------------------------
  // kofic_backfill
  // ---------------------------------------------------------------

  /** The first night from scratch: `n` days through `Pipeline.backfill`
    * with `partitionDone`, then the models over the last window. */
  private def backfillOnce(c: Ctx, k: Kofic, days: IndexedSeq[Day], n: Int,
      dir: File, r: Result): Array[org.apache.spark.sql.Row] = {
    val store = new File(dir, "long").getAbsolutePath
    useState(c, dir)
    val byDate = days.take(n).map(d => d.date -> d).toMap
    val isDone = graft.pipeline.Pipeline.partitionDone(c.spark, store)
    c.tr.span("pipeline.backfill") {
      graft.pipeline.Pipeline.backfill(days.head.date, days(n - 1).date,
        d => c.tr.span("pipeline.isdone")(isDone(d)),
        d => { r.attempted += 1; k.ingestDay(byDate(d), store) })
    }
    r.attempted += 4
    k.refresh(store, days.slice(n - k.Window, n), None, n * 10L)
  }

  def backfill(c: Ctx, r: Result): Unit = {
    val k = new Kofic(c.spark, c.tr, r.gauge)
    var days: IndexedSeq[Day] = null
    (0 until Setups).foreach { i =>
      val (_, s) = secs {
        days = c.tr.span("setup.generate") {
          val ds = Gen.days(c.seed, BackfillDays)
          ds.foreach(_.payload)
          ds
        }
        // warm-up: a three-day night, so the timed nights start warm
        c.tr.span("setup.warmup") {
          backfillOnce(c, k, days, 3, freshDir(c.runDir, s"warm$i"), new Result)
        }
      }
      r.setupS += s
      Kofic.deleteRecursively(new File(c.runDir, s"warm$i"))
    }
    var last: Option[(Array[org.apache.spark.sql.Row], File)] = None
    measure(c, r, min = 1, max = 20) { i =>
      last.foreach(l => Kofic.deleteRecursively(l._2))
      val dir = freshDir(c.runDir, s"night$i")
      last = Some((backfillOnce(c, k, days, BackfillDays, dir, r), dir))
    }
    r.batchS.foreach(r.sample("backfill_s", _))
    last.foreach { case (tests, dir) =>
      val out = k.collectOutputs(days.slice(BackfillDays - k.Window, BackfillDays), tests)
      r.errors ++= Kofic.verify(out, days, BackfillDays, k.Window)
      if (!Kofic.selfTest(out, days, BackfillDays, k.Window))
        r.errors += "self-test: a perturbed generated value passed the check"
      if (c.tr.enabled) storeGauges(new File(dir, "long"), r)
    }
  }

  private def storeGauges(store: File, r: Result): Unit = {
    val parts = Option(store.listFiles()).getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.startsWith("show_range="))
    val files = Kofic.parquetFiles(store)
    r.gauge("store.partitions", parts)
    r.gauge("store.files", files.size)
    r.gauge("store.bytes", files.map(_.length).sum.toDouble)
  }

  // ---------------------------------------------------------------
  // kofic_daily
  // ---------------------------------------------------------------

  /** The paper's Preset charts, each a resolve (listing the relation it
    * reads) and an execute. `dash_long` is the long store. */
  val Dashboards: Seq[(String, String)] = Seq(
    "top10_7d" ->
      """SELECT title, SUM(audience_num) AS audience FROM dash_long
        |WHERE show_range > (SELECT date_sub(MAX(show_range), 7) FROM dash_long)
        |GROUP BY title ORDER BY audience DESC, title LIMIT 10""".stripMargin,
    "sales_trend" ->
      """SELECT show_range, SUM(sales) AS sales FROM dash_long
        |GROUP BY show_range ORDER BY show_range""".stripMargin,
    "dow_avg_sales" ->
      """SELECT dayofweek(show_range) AS dow, AVG(day_sales) AS avg_sales
        |FROM (SELECT show_range, SUM(sales) AS day_sales FROM dash_long
        |      GROUP BY show_range)
        |GROUP BY dayofweek(show_range) ORDER BY dow""".stripMargin,
    "share_pie" ->
      """SELECT title, sales_ratio FROM dash_long
        |WHERE show_range = (SELECT MAX(show_range) FROM dash_long)
        |ORDER BY sales_ratio DESC, title""".stripMargin,
    "sales_audience_corr" ->
      "SELECT corr(sales, audience_num) AS r FROM dash_long",
    "pivot_read" -> "SELECT * FROM box_office_data ORDER BY title, code")

  /** Runs one dashboard and checks what the generator can predict:
    * the trendline and the 7-day top-10 exactly, the rest non-empty. */
  private def dashboard(c: Ctx, r: Result, store: String, t: Int,
      days: IndexedSeq[Day]): Unit = {
    val (name, sql) = Dashboards(t)
    r.attempted += 1
    val (rows, s) = secs {
      c.tr.span(s"dashboard.$name") {
        c.tr.span("dashboard.resolve") {
          if (name == "pivot_read") c.spark.table("box_office_data")
          else c.spark.read.parquet(store).createOrReplaceTempView("dash_long")
        }
        c.tr.span("dashboard.execute")(c.spark.sql(sql).collect())
      }
    }
    r.sample("dashboard_ms", s * 1000)
    val errs = name match {
      case "sales_trend" =>
        val want = days.map(d => (d.date, d.entries.map(_.sales).sum))
        val got = rows.toSeq.map(x =>
          (x.getAs[java.sql.Date](0).toLocalDate, x.getLong(1)))
        if (got != want) Seq(s"dashboard sales_trend: ${got.size} points differ from the generator") else Nil
      case "top10_7d" =>
        val want = days.takeRight(7).flatMap(_.entries)
          .groupMapReduce(_.title)(_.audi)(_ + _).toSeq
          .sortBy { case (t, a) => (-a, t) }.take(10)
        val got = rows.toSeq.map(x => (x.getString(0), x.getLong(1)))
        if (got != want) Seq(s"dashboard top10_7d: $got != $want") else Nil
      case _ =>
        if (rows.isEmpty) Seq(s"dashboard $name: no rows") else Nil
    }
    r.errors ++= errs
  }

  def daily(c: Ctx, r: Result): Unit = {
    val k = new Kofic(c.spark, c.tr, r.gauge)
    val maxBatches = 60
    var days: IndexedSeq[Day] = null
    var store: String = null
    (0 until Setups).foreach { i =>
      if (i > 0) Kofic.deleteRecursively(new File(c.runDir, s"daily${i - 1}"))
      val dir = freshDir(c.runDir, s"daily$i")
      val (_, s) = secs {
        days = c.tr.span("setup.generate") {
          val ds = Gen.days(c.seed, HistoryDays + maxBatches)
          ds.foreach(_.payload)
          ds
        }
        store = new File(dir, "long").getAbsolutePath
        useState(c, dir)
        c.tr.span("setup.history") {
          k.bulkLoad(days.take(HistoryDays), store)
          val files = Kofic.parquetFiles(new File(store))
          val dirs = files.map(_.getParentFile).distinct
          if (files.size != HistoryDays || dirs.size != HistoryDays)
            r.errors += s"history layout: ${files.size} files in ${dirs.size} " +
              s"partitions, want one file in each of $HistoryDays"
          val window = days.slice(HistoryDays - k.Window, HistoryDays)
          k.runModels(store, window, None, HistoryDays * 10L)
          // re-apply the last day: warms movie_daily's incremental path
          k.runModel(k.models(window, Some(days(HistoryDays - 1).date)).last,
            days(HistoryDays - 1).entries.size.toLong)
        }
      }
      r.setupS += s
    }
    var tests: Array[org.apache.spark.sql.Row] = null
    var n = HistoryDays
    measure(c, r, min = 2, max = maxBatches) { i =>
      val day = days(n)
      r.attempted += 5
      val (t, s) = secs {
        // the nightly catch-up over a one-day interval
        val isDone = graft.pipeline.Pipeline.partitionDone(c.spark, store)
        c.tr.span("pipeline.backfill") {
          graft.pipeline.Pipeline.backfill(day.date, day.date,
            d => c.tr.span("pipeline.isdone")(isDone(d)),
            _ => k.ingestDay(day, store))
        }
        k.refresh(store, days.slice(n + 1 - k.Window, n + 1),
          Some(day.date), day.entries.size.toLong)
      }
      tests = t
      r.errors ++= Kofic.violations(t)
      n += 1
      r.sample("refresh_s", s)
      dashboard(c, r, store, (2 * i) % Dashboards.size, days.take(n))
      dashboard(c, r, store, (2 * i + 1) % Dashboards.size, days.take(n))
    }
    if (tests != null) {
      val window = days.slice(n - k.Window, n)
      val out = k.collectOutputs(window, tests)
      r.errors ++= Kofic.verify(out, days, n, k.Window)
      if (!Kofic.selfTest(out, days, n, k.Window))
        r.errors += "self-test: a perturbed generated value passed the check"
    }
    if (c.tr.enabled) storeGauges(new File(store), r)
  }

  // ---------------------------------------------------------------
  // analytics_board
  // ---------------------------------------------------------------

  /** Builds the persisted stores the board reads, cold: the run's
    * private tmpdir holds no earlier build. */
  private def buildStores(c: Ctx): Unit = c.tr.span("setup.stores") {
    graft.ops.TextSim.ensureEdgeStore(c.spark, c.dataDir)
    graft.ops.TextSim.ensureSnapshotStore(c.spark, c.dataDir)
    graft.ops.Relational.ensureChangelogStore(c.spark, c.dataDir)
    c.spark.catalog.clearCache()
  }

  def board(c: Ctx, r: Result): Unit = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    (0 until Setups).foreach { _ =>
      Option(tmp.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("graft_"))
        .foreach(Kofic.deleteRecursively)
      r.setupS += secs(buildStores(c))._2
    }
    val rows = mutable.LinkedHashMap.empty[String, Long]
    measure(c, r, min = 1, max = 5) { _ =>
      val pass = BoardQueries.map { q =>
        r.attempted += 1
        val obs = Observation(q)
        // building a query's frame can run jobs, so it is timed too
        val (_, s) = secs(c.tr.span(s"board.$q") {
          graft.SparkEntry.queries(q)(c.spark, c.dataDir)
            .observe(obs, count(lit(1)).as("rows"))
            .write.format("noop").mode("overwrite").save()
        })
        rows(q) = obs.get("rows").asInstanceOf[Long]
        c.spark.catalog.clearCache()
        s
      }
      r.sample("board_s", pass.sum)
    }
    rows.foreach { case (q, n) =>
      c.boardRows.get(q) match {
        case Some(want) if want != n => r.errors += s"board $q: $n rows, want $want"
        case None => r.errors += s"board $q: $n rows, no recorded count"
        case _ =>
      }
    }
  }
}
