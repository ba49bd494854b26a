package perfbench

import java.io.File

/** Expected content of each sink channel of the benchmark instance,
  * folded from the generator's truth, and the canonical form of the
  * records the program wrote there. */
object Truth {
  /** Sink directories (sharded `<path>.d`) under the instance's `out/`. */
  val WebAll = "web_all.dat"
  val WebServerErr = "web_server_err.dat"
  val Intercept = "intercept.dat"
  val EventsAll = "events_all.dat"
  val Miss = "miss.dat"
  val Error = "error.dat"
  val Residue = "residue.dat"
  val Default = "default.dat"
  val Channels: Vector[String] =
    Vector(WebAll, WebServerErr, Intercept, EventsAll, Miss, Error, Residue, Default)
  /** Every input line lands in exactly one of these. */
  val Primary: Vector[String] = Vector(WebAll, EventsAll, Miss, Error, Default)
  val JsonChannels: Set[String] = Set(WebAll, WebServerErr, Intercept, EventsAll, Default)

  private def web(l: Gen.Line) =
    s"web|${l.id}|${l.ip}|${l.status}|${l.statusClass}|${l.zone}|${l.bytes}"

  /** (channel, canonical record) pairs the line must produce. */
  def expected(l: Gen.Line): Seq[(String, String)] = l.kind match {
    case Gen.Nginx | Gen.NginxPartial =>
      val w = web(l)
      Seq(WebAll -> w, (if (l.status >= 500) WebServerErr else Intercept) -> w) ++
        (if (l.residue != null) Seq(Residue -> l.residue.trim) else Nil)
    case Gen.SensorKnown => Seq(EventsAll -> s"sensor|${l.site}")
    case Gen.SensorUnknown => Seq(Error -> l.text)
    case Gen.Kv => Seq(EventsAll -> s"kv|${l.id}|${l.user}|${l.tag}")
    case Gen.Js => Seq(EventsAll -> s"js|${l.id}|${l.user}|${l.tag}")
    case _ => Seq(Miss -> l.text)
  }

  /** The generator line id a record carries, or -1 (sensor records and
    * residue text carry none). */
  def idOf(channel: String, line: String): Long = {
    def num(s: String) = try s.toLong catch { case _: NumberFormatException => -1L }
    if (JsonChannels(channel)) {
      val f = Check.jsonFields(line)
      f.get("ref").map(r => num(r.substring(r.lastIndexOf('/') + 1)))
        .orElse(f.get("id").map(num)).getOrElse(-1L)
    } else if (channel == Residue) num(line.trim.stripPrefix("#t"))
    else if (line.startsWith("~~ corrupted frame ")) num(line.split(' ')(3))
    else -1L
  }

  /** Canonical form of one written record, comparable with [[expected]]. */
  def canon(channel: String, line: String): String =
    if (!JsonChannels(channel)) (if (channel == Residue) line.trim else line)
    else {
      val f = Check.jsonFields(line)
      def g(k: String) = f.getOrElse(k, "<none>")
      if (f.contains("ref")) {
        val r = g("ref")
        s"web|${r.substring(r.lastIndexOf('/') + 1)}|${g("sip")}|${g("status")}|${g("class")}|${g("zone")}|${g("bytes")}"
      } else if (f.contains("kind")) s"kv|${g("id")}|${g("user")}|${g("kind")}"
      else if (f.contains("tag")) s"js|${g("id")}|${g("user")}|${g("tag")}"
      else if (f.contains("site")) s"sensor|${g("site")}"
      else s"unknown|$line"
    }

  final class Acc {
    val fps: Array[Fp] = Array.fill(Channels.size)(Fp.empty)
    def add(l: Gen.Line): Unit = expected(l).foreach { case (ch, c) =>
      val i = Channels.indexOf(ch)
      fps(i) = fps(i).add(c)
    }
    def fp(ch: String): Fp = fps(Channels.indexOf(ch))
  }

  /** Compare every channel under `out` with the expected fingerprints;
    * returns the problems found and the number of records read. */
  def compare(out: File, want: Acc, inputLines: Long, threads: Int,
              res: Result): Long = {
    val got = Channels.map { ch =>
      ch -> Check.fingerprint(new File(out, ch + ".d"), threads)(canon(ch, _))
    }.toMap
    Channels.foreach { ch =>
      res.check(got(ch) == want.fp(ch),
        s"channel $ch: ${got(ch).n} records, expected ${want.fp(ch).n}" +
          (if (got(ch).n == want.fp(ch).n) " (same count, different records)" else ""))
    }
    val primary = Primary.map(got(_).n).sum
    res.check(primary == inputLines,
      s"conservation: primary channels hold $primary records for $inputLines input lines")
    got.values.map(_.n).sum
  }
}
