package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

/** Seeded rows for the streaming workload and the parser probes: service
  * log lines, events with redeliveries, and documents. Row i of a stream
  * is the same for a given seed whatever the run length.
  */
final class Inputs(seed: Long) {
  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
    "Oct", "Nov", "Dec")
  private val paths = Array("/", "/api/feeds", "/api/articles", "/api/search", "/api/recap",
    "/login", "/static/app.js", "/api/tags")
  private val agents = Array("Mozilla/5.0", "curl/8.4.0", "alt-frontend/2.1", "Go-http-client/1.1")
  private val kinds = Array("click", "view", "purchase")
  private val stop = Array("the", "of", "and", "to", "that", "with", "have", "be")
  private val words = Array("museum", "exhibition", "festival", "pipeline", "market", "league",
    "election", "research", "climate", "startup", "software", "concert", "report", "season",
    "analysis", "network", "energy", "policy", "science", "history", "travel", "recipe")

  private def rng(stream: Int, i: Long) = new SplittableRandom(seed * 1000003L + stream * 7919L + i)

  /** Event time of row i: 1.08 s apart, so a few thousand rows span the
    * two-hour watermark and windows close during a run.
    */
  def tsMs(i: Long): Long = t0 + i * 1080L

  def line(i: Long): String = {
    val r = rng(1, i)
    val instant = java.time.Instant.ofEpochMilli(tsMs(i))
    val ts = instant.atZone(java.time.ZoneOffset.UTC)
    val hms = f"${ts.getHour}%02d:${ts.getMinute}%02d:${ts.getSecond}%02d"
    r.nextInt(20) match {
      case 0 => s"""{"time":"$instant","level":"INFO","msg":"feed sync done","feeds":"${r.nextInt(90)}"}"""
      case 1 => s"${ts.toLocalDate} $hms.000 UTC [${r.nextInt(999)}] LOG:  checkpoint complete"
      case _ =>
        val status = if (r.nextInt(25) == 0) 500 + r.nextInt(4) else if (r.nextInt(10) == 0) 404 else 200
        f"10.0.${r.nextInt(8)}.${r.nextInt(250)} - - [${ts.getDayOfMonth}%02d/${months(ts.getMonthValue - 1)}/" +
          s"${ts.getYear}:$hms +0000] " +
          s""""GET ${paths(r.nextInt(paths.length))} HTTP/1.1" $status ${100 + r.nextInt(50000)} """ +
          s""""-" "${agents(r.nextInt(agents.length))}""""
    }
  }

  /** (event_id, ts, user_id, event_type, value); about one event in ten
    * is a redelivery of one of the previous 50.
    */
  def event(i: Long): (Long, Timestamp, Long, String, Double) = {
    val r = rng(2, i)
    val id = if (i > 50 && r.nextInt(10) == 0) i - 1 - r.nextInt(50) else i
    val o = rng(3, id)
    (id, new Timestamp(tsMs(id)), o.nextLong(1500), kinds(o.nextInt(kinds.length)),
      math.round(o.nextDouble() * 50000) / 100.0)
  }

  /** (doc_id, source, content): 50-120 words, most of them long enough to
    * pass the quality gate; every seventh is junk the gate drops.
    */
  def doc(i: Long): (Long, String, String) = {
    val r = rng(4, i)
    val n = if (i % 7 == 3) 12 else 50 + r.nextInt(70)
    val text = (0 until n).map { j =>
      if (j % 4 == 1) stop(r.nextInt(stop.length)) else words(r.nextInt(words.length))
    }.mkString(" ")
    (i, s"feed${i % 12}", if (r.nextInt(5) == 0) s"<p>$text</p>" else text)
  }
}
