package perfbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** One generated earthquake event, in AFAD wire format. */
final case class WireEvent(id: Long, lastUpdate: String, magnitude: String,
    json: String)

/** A message for the source: its payload and the events a parser
  * should find in it (none for an unparseable payload). */
final case class Message(payload: String, events: Seq[WireEvent])

/** Seeded AFAD event feed (the cases of FIXTURES.md §1).
  *
  * Messages follow a fixed 50-message pattern, so any 50 consecutive
  * messages carry the same number of events: arrays of [[ArraySize]]
  * events, every tenth message a single object, every 25th an
  * unparseable payload. Events are new (with 20% of them dated up to
  * six hours back, out of order but far inside the 8-day watermark),
  * exact re-sends of a recent event, or updates of a recent event
  * (same `eventID` and `date`, a later `lastUpdateDate`, a new
  * magnitude). Event time advances 30 s per new event, so a run's
  * events span days: every lake upsert touches one or two daily
  * partitions.
  *
  * [[FeedTruth]] keeps what the output checks need. */
final class EventFeed(seed: Long) {
  import EventFeed._

  private val rnd = new java.util.SplittableRandom(seed)
  private var index = 0L
  private var newEvents = 0L
  private var updates = 0L
  private val recent = new Array[WireEvent](RecentWindow)
  private val recentDate = new Array[String](RecentWindow)
  private var recentCount = 0

  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

  private def render(id: Long, date: String, province: String,
      district: String, lat: Double, lon: Double, depth: Double,
      magnitude: String, update: String): String =
    f"""{"date":"$date","rms":"${0.1 + rnd.nextInt(9) / 10.0}%.1f","eventID":"$id","location":"$district ($province)","latitude":"$lat%.3f","longitude":"$lon%.3f","depth":"$depth%.1f","type":"Ke","magnitude":"$magnitude","country":"Türkiye","province":"$province","district":"$district","neighborhood":"${pick(Neighborhoods)}","isEventUpdate":"${update.nonEmpty}","lastUpdateDate":"$update"}"""

  private def magnitude(): String =
    f"${math.max(2.5, math.min(7.8, 4.0 + rnd.nextGaussian() * 0.5))}%.1f"

  /** A ring of the last [[RecentWindow]] new events: re-sends and
    * updates only reach back that far (under a day of event time). */
  private def remember(e: WireEvent, date: String): Unit = {
    val slot = ((newEvents - 1) % RecentWindow).toInt
    recentCount = math.min(recentCount + 1, RecentWindow)
    recent(slot) = e
    recentDate(slot) = date
  }

  private def event(): WireEvent = {
    val r = rnd.nextDouble()
    val e =
      if (recentCount > 0 && r < ResendShare) recent(rnd.nextInt(recentCount))
      else if (recentCount > 0 && r < ResendShare + UpdateShare) {
        val slot = rnd.nextInt(recentCount)
        val old = recent(slot)
        updates += 1
        val upd = Base.plusDays(30).plusSeconds(updates).format(Stamp)
        val mag = magnitude()
        val province = pick(Provinces)
        val u = WireEvent(old.id, upd, mag, render(old.id, recentDate(slot),
          province, pick(Districts), 36 + rnd.nextDouble() * 6,
          26 + rnd.nextDouble() * 19, 1 + rnd.nextDouble() * 29, mag, upd))
        recent(slot) = u
        u
      } else {
        newEvents += 1
        val back = if (rnd.nextDouble() < 0.2) rnd.nextInt(6 * 3600) else 0
        val date = Base.plusSeconds(newEvents * 30 - back).format(Stamp)
        val id = FirstId + newEvents
        val mag = magnitude()
        val e = WireEvent(id, "", mag, render(id, date, pick(Provinces),
          pick(Districts), 36 + rnd.nextDouble() * 6,
          26 + rnd.nextDouble() * 19, 1 + rnd.nextDouble() * 29, mag, ""))
        remember(e, date)
        e
      }
    e
  }

  def next(): Message = {
    val i = index % 50
    index += 1
    if (i % 25 == 24)
      Message(s"""[{"date":"2023-02-06T04:17:00","eventID":"${rnd.nextInt(1000)}",""", Nil)
    else if (i % 10 == 9) {
      val e = event()
      Message(e.json, Seq(e))
    } else {
      val es = Seq.fill(ArraySize)(event())
      Message(es.map(_.json).mkString("[", ",", "]"), es)
    }
  }

  def take(n: Int): Seq[Message] = Seq.fill(n)(next())
}

/** What the sink must hold after the events sent so far, computed from
  * the feed and not with the engine. */
final class FeedTruth {
  /** Distinct valid (eventID, lastUpdateDate) pairs: one ES document
    * each. */
  val pairs = mutable.Set.empty[(Long, String)]
  /** eventID -> (lastUpdateDate, magnitude) of its latest version: one
    * lake row each. */
  val latest = mutable.Map.empty[Long, (String, String)]

  /** Record a sent event; true if its pair is new. */
  def add(e: WireEvent): Boolean = {
    latest.get(e.id) match {
      case Some((u, _)) if u >= e.lastUpdate =>
      case _ => latest(e.id) = (e.lastUpdate, e.magnitude)
    }
    pairs.add((e.id, e.lastUpdate))
  }
}

object EventFeed {
  val ArraySize = 40
  /** Events in any 50 consecutive messages: 44 arrays, 4 singles. */
  val EventsPer50: Int = 44 * ArraySize + 4
  val ResendShare = 0.06
  val UpdateShare = 0.06
  val RecentWindow = 2000
  val FirstId = 600000L
  private val Base = LocalDateTime.of(2023, 2, 6, 0, 0, 0)
  private val Stamp = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  /** The three fault-line city lists, plus provinces on none of them. */
  val Provinces: Seq[String] = Seq("Hatay", "Kahramanmaraş", "Ağrı",
    "Şanlıurfa", "Malatya", "İstanbul", "Düzce", "Muş", "Çanakkale",
    "İzmir", "Muğla", "Denizli", "Balıkesir", "Trabzon", "Mersin", "Niğde",
    "Yozgat", "Şırnak", "Iğdır")
  val Districts: Seq[String] = Seq("Pazarcık", "Nurdağı", "Elbistan",
    "Göksun", "Sındırgı", "Gölcük", "Şile", "Çeşme", "Ürgüp", "Kağızman")
  val Neighborhoods: Seq[String] = Seq("Gazi", "Yeşilyurt", "Çarşı",
    "Cumhuriyet", "İnönü", "Bağlar")
}
