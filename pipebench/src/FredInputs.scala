package pipebench

import java.time.{DayOfWeek, LocalDate, YearMonth}

import graft.fred.io.FredSource

/** Seeded FRED fixtures for the reference YAML's 11 series, and the
  * values the pipeline must produce from them, worked out in plain
  * Scala.
  *
  * Daily series carry one observation per weekday; monthly series one
  * per month. Every daily month holds exactly [[DailySentinels]] `'.'`
  * sentinels and [[DailyBad]] unparsable values at seeded positions;
  * every sixth month of a monthly series is `'.'` and every eleventh
  * unparsable, on a seed-free schedule. Only values and positions
  * depend on the seed, so row, partition and file counts do not. */
object FredInputs {

  /** (series id, daily?) — frequencies as FRED publishes them. */
  val Series: Seq[(String, Boolean)] = Seq(
    "DGS10" -> true, "EFFR" -> true, "CSUSHPINSA" -> false,
    "UNRATE" -> false, "CPIAUCSL" -> false, "PCE" -> false,
    "JTSJOL" -> false, "JTSHIR" -> false, "JTSTSR" -> false,
    "PSAVERT" -> false, "CSCICP03USM665S" -> false)
  val DailySentinels = 2
  val DailyBad = 1
  private val Levels = Map(
    "DGS10" -> 4.0, "EFFR" -> 5.3, "CSUSHPINSA" -> 310.0, "UNRATE" -> 3.9,
    "CPIAUCSL" -> 305.0, "PCE" -> 18900.0, "JTSJOL" -> 8800.0,
    "JTSHIR" -> 5900.0, "JTSTSR" -> 5600.0, "PSAVERT" -> 4.1,
    "CSCICP03USM665S" -> 98.5)

  final case class Obs(date: LocalDate, value: String)
  final case class Month(series: String, ym: YearMonth, obs: Seq[Obs]) {
    /** Values the silver cast keeps, as exact decimals. */
    val valid: Seq[BigDecimal] = obs.map(_.value)
      .filter(v => v != "." && v.matches("-?[0-9]+\\.[0-9]+")).map(BigDecimal(_))
    val sentinels: Int = obs.count(_.value == ".")
    val castDrops: Int = obs.size - valid.size - sentinels
    def mean: Option[BigDecimal] =
      if (valid.isEmpty) None else Some(valid.sum / valid.size)
  }

  /** Observations of `series` for every month in `months`. */
  def generate(seed: Long, months: Seq[YearMonth]): Seq[Month] =
    Series.zipWithIndex.flatMap { case ((id, daily), si) =>
      months.map { ym =>
        val rnd = new scala.util.Random(seed * 1000003L + si * 7919L +
          ym.getYear * 13L + ym.getMonthValue)
        val dates =
          if (daily) (1 to ym.lengthOfMonth).map(ym.atDay)
            .filterNot(d => d.getDayOfWeek == DayOfWeek.SATURDAY ||
              d.getDayOfWeek == DayOfWeek.SUNDAY)
          else Seq(ym.atDay(1))
        val idx = ym.getYear * 12 + ym.getMonthValue
        val level = Levels(id) * (1.0 + 0.01 * ((idx % 24) - 12) / 12.0)
        val values = dates.map { _ =>
          val v = level * (1.0 + 0.02 * (rnd.nextDouble() - 0.5))
          (if (daily) "%.3f" else "%.2f").formatLocal(java.util.Locale.ROOT, v)
        }.toArray
        if (daily) {
          val picks = rnd.shuffle(values.indices.toList)
            .take(DailySentinels + DailyBad)
          picks.take(DailySentinels).foreach(values(_) = ".")
          picks.drop(DailySentinels).foreach(values(_) = "n/a")
        } else if ((idx + si) % 6 == 0) values(0) = "."
        else if ((idx + si) % 11 == 0) values(0) = "n/a"
        Month(id, ym, dates.zip(values).map { case (d, v) => Obs(d, v) })
      }
    }

  /** The raw API response for one month, in FRED's JSON shape. */
  def responseJson(m: Month): String =
    m.obs.map { o =>
      s"""{"realtime_start":"2024-06-01","realtime_end":"2024-06-01","date":"${o.date}","value":"${o.value}"}"""
    }.mkString("""{"units":"lin","count":""" + m.obs.size + ""","observations":[""", ",", "]}")

  def fixture(months: Seq[Month]): FredSource =
    new FredSource.Fixture(months.map(m =>
      (m.series, m.ym.getYear, m.ym.getMonthValue) -> responseJson(m)).toMap)

  def monthsFrom(first: YearMonth, n: Int): Seq[YearMonth] =
    (0 until n).map(first.plusMonths(_))
}
