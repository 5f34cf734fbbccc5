package perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** One raw BanRep file of the generated zone: the payload in the wire
  * shape `[["epoch_ms","valor"],...]`, and what ingesting it must yield.
  *
  * @param epochSeconds the raw-zone key (`dolar-<epochSeconds>.json`)
  * @param valid        second-truncated epoch seconds of the valid rows, ascending
  * @param bad          rows the loader must drop and count as bad
  */
final case class RawFile(epochSeconds: Long, payload: String,
                         valid: Array[Long], bad: Int)

/** A request to `/api/v1/dolar/intervalo` and the answer it must get. */
final case class IntervalRequest(start: LocalDateTime, end: LocalDateTime) {
  def isValid: Boolean = end.isAfter(start)
  def body: String = s"""{"start":"${DolarGen.iso(start)}","end":"${DolarGen.iso(end)}"}"""
}

/** Seeded generator of dolar raw zones and interval requests.
  *
  * Each file holds one day of intraday points on a fixed grid with a
  * random sub-second jitter, valued by a random walk. About 1 % of the
  * rows are bad in one of the ways the loader drops per row (unparseable
  * value, empty value, unparseable timestamp, wrong arity). No file is
  * corrupt as a whole: a corrupt file stops the stream.
  */
object DolarGen {
  val DaySeconds = 86400L
  /** 2024-01-01T00:00:00Z, the first generated day. */
  val Epoch0 = 1704067200L
  val BadShare = 0.01

  private val IsoSecond = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val IsoMilli = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS")

  def iso(t: LocalDateTime): String =
    if (t.getNano == 0) t.format(IsoSecond) else t.format(IsoMilli)

  def at(epochSeconds: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(epochSeconds, 0, ZoneOffset.UTC)

  /** `days` files starting `firstDay` days after [[Epoch0]], with
    * `points` rows each.
    */
  def zone(seed: Long, firstDay: Int, days: Int, points: Int): Seq[RawFile] = {
    val rnd = new scala.util.Random(seed * 1000003L + firstDay)
    var value = 3900.0 + rnd.nextDouble() * 400.0
    val step = DaySeconds / points
    (firstDay until firstDay + days).map { day =>
      val dayStart = Epoch0 + day * DaySeconds
      val sb = new StringBuilder("[")
      val valid = Array.newBuilder[Long]
      var bad = 0
      for (i <- 0 until points) {
        val t = dayStart + i * step
        val ms = (t * 1000L + rnd.nextInt(1000)).toString
        value = math.max(1000.0, value + rnd.nextGaussian() * 2.0)
        val v = f"$value%.4f".replace(',', '.')
        if (i > 0) sb.append(',')
        if (rnd.nextDouble() < BadShare) {
          bad += 1
          rnd.nextInt(4) match {
            case 0 => sb.append(s"""["$ms","abc"]""")
            case 1 => sb.append(s"""["$ms",""]""")
            case 2 => sb.append(s"""["x$ms","$v"]""")
            case _ => sb.append(s"""["$ms"]""")
          }
        } else {
          sb.append(s"""["$ms","$v"]""")
          valid += t
        }
      }
      sb.append(']')
      RawFile(dayStart + DaySeconds - 1, sb.toString, valid.result(), bad)
    }
  }

  /** `n` interval requests over the days `[firstDay, firstDay + days)`,
    * in seeded blocks of 20 that each hold exactly 12 widths under a day,
    * 6 under a week and 2 under 30 days, one of the 20 turned into an
    * interval with `end <= start`: every seed sends the same mix, so the
    * seed moves which intervals are asked, not how heavy the run is.
    * About 30 % of the bounds carry milliseconds, which the API truncates.
    */
  def requests(seed: Long, firstDay: Int, days: Int, n: Int): IndexedSeq[IntervalRequest] = {
    val rnd = new scala.util.Random(seed * 7919L + 17)
    val lo = Epoch0 + firstDay * DaySeconds
    val span = days * DaySeconds
    def uniform(a: Long, b: Long): Long = a + (rnd.nextDouble() * (b - a)).toLong
    def withMs(s: Long): LocalDateTime =
      if (rnd.nextDouble() < 0.3) at(s).withNano(rnd.nextInt(1000) * 1000000)
      else at(s)
    val block = Seq.fill(12)((60L, DaySeconds)) ++ Seq.fill(6)((DaySeconds, 7 * DaySeconds)) ++
      Seq.fill(2)((7 * DaySeconds, 30 * DaySeconds))
    Iterator.continually {
      val invalid = rnd.nextInt(block.size)
      rnd.shuffle(block).zipWithIndex.map { case ((a, b), k) => (uniform(a, b), k == invalid) }
    }.flatten.take(n).map { case (width, invalid) =>
      val start = uniform(lo - DaySeconds, lo + span - width + DaySeconds)
      if (invalid) {
        val s = withMs(start)
        // equal bounds are an error too, not an empty result
        IntervalRequest(s, if (rnd.nextBoolean()) s else s.minusSeconds(uniform(1, DaySeconds)))
      } else IntervalRequest(withMs(start), withMs(start + width))
    }.toIndexedSeq
  }

  /** Count, first and last second of the valid rows in `[start, end]`,
    * both bounds truncated to the second, over ascending `times`.
    */
  def expect(times: Array[Long], r: IntervalRequest): (Int, Long, Long) = {
    val s = r.start.toEpochSecond(ZoneOffset.UTC)
    val e = r.end.toEpochSecond(ZoneOffset.UTC)
    val a = lowerBound(times, s)
    val b = lowerBound(times, e + 1)
    if (b > a) (b - a, times(a), times(b - 1)) else (0, 0L, 0L)
  }

  private def lowerBound(xs: Array[Long], key: Long): Int = {
    var lo = 0; var hi = xs.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (xs(m) < key) lo = m + 1 else hi = m }
    lo
  }
}
