package graft.pipebench

import java.io.File
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.Ingest
import graft.pipeline.{Consolidate, ModelGraph}
import graft.pipeline.ModelGraph._
import scala.util.chaining._

/** Model outputs collected to the driver for checking. */
final case class KoficOutputs(
    showRange: Map[LocalDate, Seq[Long]],
    dataRows: Seq[(String, Long, Map[String, Option[Long]])],
    dailyRows: Long, dailyKeys: Long, dailyAudience: Long,
    tests: Int, testErrors: Seq[String])

/** The paper's nightly pipeline through the layers' public functions:
  * KOFIC payload → parse → typed daily table → long format → per-day
  * partition of the long store, then the dbt model set over it. */
final class Kofic(spark: SparkSession, tr: Tracer,
    gauge: (String, Double) => Unit) {
  import spark.implicits._

  val Window = 9

  /** One day's extract-load: `parsePayload` → `requireNonEmpty` →
    * `dailyTable` → `toLong` → `upsertLongStore`. */
  def ingestDay(day: Day, store: String): Unit = tr.span("ingest.day") {
    val flat = Ingest.parsePayload(Seq(day.payload).toDS())
    val wide = Ingest.dailyTable(
      Ingest.requireNonEmpty(flat, s"day ${day.d8}"), day.d8)
    Ingest.upsertLongStore(Ingest.toLong(wide, day.d8), store)
  }.tap { _ =>
    if (tr.enabled) gauge("ingest.files_written_per_day",
      Kofic.parquetFiles(new File(store, s"show_range=${day.date}")).size)
  }

  /** Many days in one write, laid out as day-by-day ingest leaves them:
    * one file per `show_range` partition. The date-prefixed names
    * `dailyTable` generates only live between it and `toLong`, so one
    * placeholder prefix serves every day of the batch. */
  def bulkLoad(days: Seq[Day], store: String): Unit = {
    val flat = Ingest.parsePayload(days.map(_.payload).toDS())
    Ingest.upsertLongStore(
      Ingest.toLong(Ingest.dailyTable(flat, "bulk"), "bulk")
        .repartition(col("show_range")), store)
  }

  /** The three models; `movie_daily` loads the whole store on its first
    * run and only `scope`'s day afterwards. */
  def models(window: Seq[Day], scope: Option[LocalDate]): Seq[Model] = {
    val names = window.map(d => s"${d.d8}_box_office")
    Seq(
      Model("box_office_data",
        Consolidate.boxOfficeDataSql(names, n => s"raw_$n"),
        materialized = "table",
        tests = Seq(NotNull("code"), Unique("code"))),
      Model("box_office_showrange",
        Consolidate.boxOfficeShowRangeSql(names, n => s"raw_$n"),
        materialized = "table",
        tests = Seq(NotNull("showRange"), Unique("showRange"))),
      Model("movie_daily",
        "SELECT show_range, code, title, ranking, new_entry, sales, " +
          "audience_num, screen_num, screen_show FROM kofic_long" +
          scope.map(d => s" WHERE show_range = DATE'$d'").getOrElse(""),
        materialized = "incremental",
        uniqueKey = Seq("show_range", "code"),
        incrementalStrategy = "delete+insert",
        tests = Seq(NotNull("show_range"), NotNull("code"),
          AcceptedValues("new_entry", Seq("NEW", "OLD")))))
  }

  /** Lists the store, registers `kofic_long` and the window's
    * `raw_<d8>_box_office` wide views and runs each model. `batchRows`
    * is the number of rows `movie_daily`'s SELECT yields this run. */
  def runModels(store: String, window: Seq[Day], scope: Option[LocalDate],
      batchRows: Long): Unit = {
    val long = tr.span("store.resolve")(spark.read.parquet(store))
    tr.span("consolidate.views") {
      long.createOrReplaceTempView("kofic_long")
      window.foreach { d =>
        Ingest.toWide(long.where(col("show_range") === lit(d.date)), d.d8)
          .createOrReplaceTempView(s"raw_${d.d8}_box_office")
      }
    }
    models(window, scope).foreach(runModel(_, batchRows))
  }

  /** One model through `ModelGraph.run`; the views it reads must exist. */
  def runModel(m: Model, batchRows: Long): Unit = {
    tr.span(s"model.${m.name}")(ModelGraph.run(spark, Seq(m)))
    if (tr.enabled && m.name == "movie_daily") stateGauges(batchRows)
  }

  /** The models' schema tests; one report row per test. */
  def testModels(window: Seq[Day]): Array[Row] =
    tr.span("model.tests")(ModelGraph.test(spark, models(window, None)).collect())

  /** [[runModels]] then [[testModels]]: one refresh of the model set. */
  def refresh(store: String, window: Seq[Day], scope: Option[LocalDate],
      batchRows: Long): Array[Row] = {
    runModels(store, window, scope, batchRows)
    testModels(window)
  }

  /** Size of `movie_daily`'s committed state, read from the parquet
    * footers of the commit `_LATEST` names (no Spark job). */
  private def stateGauges(batchRows: Long): Unit = {
    val dir = new File(ModelGraph.stateRoot(spark), "movie_daily")
    val n = new String(java.nio.file.Files.readAllBytes(
      new File(dir, "_LATEST").toPath), "UTF-8").trim
    val files = Kofic.parquetFiles(new File(dir, s"commit_$n"))
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
    gauge("model.state_bytes_written", files.map(_.length).sum.toDouble)
    gauge("model.movie_daily.rewrite_ratio", batchRows.toDouble / rows)
  }

  def collectOutputs(window: Seq[Day], tests: Array[Row]): KoficOutputs = {
    val sr = spark.table("box_office_showrange").collect().map { r =>
      r.getAs[java.sql.Date]("showRange").toLocalDate ->
        (1 until 7).map(i => r.getLong(i))
    }.toMap
    val salesCols = window.map(d => s"${d.d8}_sales")
    val data = spark.table("box_office_data").collect().toSeq.map { r =>
      (r.getAs[String]("title"), r.getAs[Long]("code"),
        salesCols.map { c =>
          val v = r.getAs[Any](c)
          c -> Option(v).map(_.asInstanceOf[Long])
        }.toMap)
    }
    val md = spark.table("movie_daily").agg(count(lit(1)),
      count_distinct(col("show_range"), col("code")), sum("audience_num"))
      .head()
    KoficOutputs(sr, data, md.getLong(0), md.getLong(1), md.getLong(2),
      tests.length, Kofic.violations(tests))
  }
}

object Kofic {
  /** Compares model outputs against the generator's own figures for the
    * first `n` days. Returns one message per mismatch. */
  def verify(out: KoficOutputs, days: IndexedSeq[Day], n: Int,
      window: Int): Seq[String] = {
    val win = days.slice(n - window, n)
    val errs = Seq.newBuilder[String]
    val wantRange = win.map { d =>
      val es = d.entries
      d.date -> Seq(es.map(_.sales).sum, es.map(_.salesAcc).sum,
        es.map(_.audi).sum, es.map(_.audiAcc).sum,
        es.map(_.scrn).sum, es.map(_.show).sum)
    }.toMap
    if (out.showRange != wantRange)
      errs += s"box_office_showrange: ${out.showRange.toSeq.sortBy(_._1.toEpochDay)} != " +
        s"${wantRange.toSeq.sortBy(_._1.toEpochDay)}"
    val keys = win.flatMap(_.entries.map(e => (e.title, e.code))).distinct
    if (out.dataRows.size != keys.size)
      errs += s"box_office_data: ${out.dataRows.size} rows, want ${keys.size}"
    val cells = win.flatMap(d =>
      d.entries.map(e => (e.code, s"${d.d8}_sales") -> e.sales)).toMap
    out.dataRows.foreach { case (title, code, got) =>
      if (!keys.contains((title, code)))
        errs += s"box_office_data: unexpected row ($title, $code)"
      got.foreach { case (c, v) =>
        if (v != cells.get((code, c)))
          errs += s"box_office_data: ($title, $code).$c = $v, want ${cells.get((code, c))}"
      }
    }
    if (out.dailyRows != n * 10L || out.dailyKeys != out.dailyRows)
      errs += s"movie_daily: ${out.dailyRows} rows with ${out.dailyKeys} " +
        s"distinct keys, want ${n * 10L} unique"
    val aud = days.take(n).flatMap(_.entries).map(_.audi).sum
    if (out.dailyAudience != aud)
      errs += s"movie_daily: audience sum ${out.dailyAudience}, want $aud"
    if (out.tests != 7) errs += s"schema tests: ${out.tests} reported, want 7"
    errs ++= out.testErrors
    errs.result()
  }

  /** Schema tests of one refresh that report violations. */
  def violations(tests: Array[Row]): Seq[String] =
    tests.toSeq.collect { case r if r.getLong(3) != 0 =>
      s"schema test ${r.getString(0)}.${r.getString(1)}(${r.getString(2)}): " +
        s"${r.getLong(3)} violations" }

  /** The check must notice one changed generated value: raise one sales
    * figure of the last window day by one and expect a mismatch. */
  def selfTest(out: KoficOutputs, days: IndexedSeq[Day], n: Int,
      window: Int): Boolean = {
    val d = days(n - 1)
    val e = d.entries.head
    val bent = days.updated(n - 1,
      d.copy(entries = d.entries.updated(0, e.copy(sales = e.sales + 1))))
    verify(out, bent, n, window).nonEmpty
  }

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Parquet data files and bytes under a directory tree. */
  def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }
}
