package graft.pipebench

import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** One film's daily-chart row, every figure the KOFIC payload carries. */
final case class Entry(
    rank: Int, code: Long, title: String, openDt: LocalDate,
    rankInten: Int, newEntry: String,
    sales: Long, salesShare: String, salesInten: Long, salesChange: String,
    salesAcc: Long,
    audi: Long, audiInten: Long, audiChange: String, audiAcc: Long,
    scrn: Long, show: Long)

/** One day's top-10 chart and its payload text. */
final case class Day(date: LocalDate, entries: IndexedSeq[Entry]) {
  def d8: String = date.format(Gen.D8)

  /** The day's KOFIC `searchDailyBoxOfficeList` response body. Field
    * order and number formatting are fixed, so a seed always yields the
    * same bytes. */
  lazy val payload: String = {
    val list = entries.map { e =>
      def f(k: String, v: Any) = "\"" + k + "\":\"" + Gen.esc(v.toString) + "\""
      Seq(f("rnum", e.rank), f("rank", e.rank), f("rankInten", e.rankInten),
        f("rankOldAndNew", e.newEntry), f("movieCd", e.code),
        f("movieNm", e.title), f("openDt", e.openDt),
        f("salesAmt", e.sales), f("salesShare", e.salesShare),
        f("salesInten", e.salesInten), f("salesChange", e.salesChange),
        f("salesAcc", e.salesAcc), f("audiCnt", e.audi),
        f("audiInten", e.audiInten), f("audiChange", e.audiChange),
        f("audiAcc", e.audiAcc), f("scrnCnt", e.scrn), f("showCnt", e.show)
      ).mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    "{\"boxOfficeResult\":{\"boxofficeType\":\"일별 박스오피스\"," +
      "\"showRange\":\"" + d8 + "~" + d8 + "\",\"dailyBoxOfficeList\":" +
      list + "}}"
  }
}

/** Seeded KOFIC chart generator.
  *
  * A pool of films is released over time; each film's daily audience
  * decays from its opening with a weekend lift and seeded noise. Every
  * day the ten films with the largest audience form the chart, so
  * titles enter and leave it with NEW/OLD flags and rank deltas.
  * Accumulated sales and audience run over every day since release,
  * charted or not, as KOFIC's do. Titles mix Korean text, and one
  * carries a comma and double quotes, which the payload escapes.
  *
  * Generation is plain Scala on the driver and is the reference the
  * benchmark's correctness checks compare Spark's outputs against.
  */
object Gen {
  val D8: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyyMMdd")
  val Start: LocalDate = LocalDate.of(2024, 1, 1)

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c => c.toString
  }

  private val words = Seq("하얼빈", "검은 수녀들", "승부", "히트맨", "보고타",
    "소방관", "퇴마록", "말할 수 없는 비밀", "귀신경찰", "서울의 봄",
    "Dune", "Wicked", "Moana", "Paddington", "Mufasa", "Sonic")

  private final class Film(val code: Long, val title: String,
      val open: Int, val base: Double, val decay: Double, val price: Int) {
    var salesAcc = 0L
    var audiAcc = 0L
    var lastSales = 0L
    var lastAudi = 0L
  }

  private def fmt1(x: Double): String =
    java.math.BigDecimal.valueOf(x)
      .setScale(1, java.math.RoundingMode.HALF_UP).toPlainString

  private def pct(now: Long, before: Long): String =
    if (before == 0) "100.0" else fmt1((now - before) * 100.0 / before)

  /** `n` consecutive days of charts from [[Start]], fully determined by
    * `seed`. Days are generated in order, so a prefix of a longer run
    * equals the shorter run. */
  def days(seed: Long, n: Int): IndexedSeq[Day] = {
    val rnd = new scala.util.Random(seed)
    val films = scala.collection.mutable.ArrayBuffer.empty[Film]
    def release(day: Int): Unit = {
      val i = films.size
      val title =
        if (i == 1) "Fixture, The \"Second\""
        else s"${words(rnd.nextInt(words.size))} ${i + 1}"
      films += new Film(20240000L + i * 7 + 1, title, day,
        base = 20000 + rnd.nextInt(180000), decay = 0.80 + rnd.nextDouble() * 0.17,
        price = 9000 + 500 * rnd.nextInt(8))
    }
    (-14 until 0).foreach(release) // a chart already running on day 0
    var prevRank = Map.empty[Long, Int]
    (0 until n).map { day =>
      if (rnd.nextInt(7) < 3) release(day)
      val date = Start.plusDays(day.toLong)
      val weekend = date.getDayOfWeek.getValue >= 5
      val showing = films.filter(_.open <= day).map { f =>
        val age = day - f.open
        val noise = 0.85 + rnd.nextDouble() * 0.3
        val audi = math.max(1L,
          (f.base * math.pow(f.decay, age) * noise * (if (weekend) 1.6 else 1.0)).toLong)
        (f, audi, audi * f.price)
      }
      val dayTotal = showing.map(_._3).sum
      val chart = showing.sortBy { case (f, a, _) => (-a, f.code) }.take(10)
      val entries = chart.zipWithIndex.map { case ((f, audi, sales), i) =>
        val rank = i + 1
        val prev = prevRank.get(f.code)
        val scrn = 50L + audi / 40
        Entry(rank, f.code, f.title,
          Start.plusDays(f.open.toLong),
          prev.map(_ - rank).getOrElse(0), if (prev.isEmpty) "NEW" else "OLD",
          sales, fmt1(sales * 100.0 / dayTotal), sales - f.lastSales,
          pct(sales, f.lastSales), f.salesAcc + sales,
          audi, audi - f.lastAudi, pct(audi, f.lastAudi), f.audiAcc + audi,
          scrn, scrn * 4 + rnd.nextInt(50))
      }
      showing.foreach { case (f, audi, sales) =>
        f.salesAcc += sales; f.audiAcc += audi
        f.lastSales = sales; f.lastAudi = audi
      }
      prevRank = entries.map(e => e.code -> e.rank).toMap
      Day(date, entries.toIndexedSeq)
    }
  }
}
