package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}

/** Seeded line generator for the pipeline workloads, and the truth it
  * keeps about each line: its kind, the channels it must reach and the
  * field values the program must produce for it, computed here apart
  * from the program (status class, ip-range zone, site lookup). */
object Gen {
  // line kinds
  final val Nginx = 0
  final val NginxPartial = 1 // nginx line + a short tail: parsed with residue
  final val SensorKnown = 2  // device in the `sites` table: transformed
  final val SensorUnknown = 3 // device not in `sites`: transform fails → error
  final val Kv = 4
  final val Js = 5
  final val Garbage = 6      // no rule matches → miss

  /** Cumulative weights (per 1000) of the kinds above. */
  private val cumWeights = Array(400, 450, 510, 530, 750, 920, 1000)

  final case class Line(kind: Int, id: Long, text: String,
                        ip: String = null, zone: String = null, status: Int = 0,
                        bytes: Long = 0, user: Long = 0, tag: String = null,
                        dev: Int = -1, residue: String = null) {
    def statusClass: String = s"${status / 100}xx"
    def site: String = if (dev >= 0 && dev < KnownDevices) s"site-${dev % 7}" else null
  }

  /** Devices `dev-0 … dev-39` are in the `sites` knowledge table. */
  final val KnownDevices = 40
  private val statuses = Array(200, 200, 200, 200, 200, 200, 201, 204, 301, 304,
    400, 403, 404, 404, 500, 502, 503)
  private val methods = Array("GET", "GET", "GET", "POST", "PUT", "DELETE")
  private val types = Array("click", "view", "buy", "share")
  private val months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug",
    "Sep", "Oct", "Nov", "Dec")

  /** SplitMix64 step: the stream for line `id` depends only on (seed, id). */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** IPv4 zone rule, written independently of the knowdb table: zone-k
    * holds first octets 16k … 16k+15. */
  def zoneOf(ip: String): String = s"zone-${ip.takeWhile(_ != '.').toInt / 16}"

  def line(seed: Long, id: Long): Line = {
    var s = mix(seed * 0x100000001B3L + id)
    def next(n: Int): Int = { s = mix(s); ((s >>> 1) % n).toInt }
    val w = next(1000)
    val kind = cumWeights.indexWhere(w < _)
    kind match {
      case Nginx | NginxPartial =>
        val ip = s"${1 + next(254)}.${next(256)}.${next(256)}.${1 + next(254)}"
        val status = statuses(next(statuses.length))
        val bytes = next(200000).toLong
        val day = 1 + next(28)
        val ts = f"$day%02d/${months(next(12))}/2025:${next(24)}%02d:${next(60)}%02d:${next(60)}%02d"
        val m = methods(next(methods.length))
        val base = s"""$ip - - [$ts +0000] "$m /p/$id?q=${next(1000)} HTTP/1.1" $status $bytes "https://r.example/$id" "Agent/${next(50)}" "-""""
        if (kind == Nginx)
          Line(kind, id, base, ip = ip, zone = zoneOf(ip), status = status, bytes = bytes)
        else {
          val tail = s" #t$id"
          Line(kind, id, base + tail, ip = ip, zone = zoneOf(ip), status = status,
            bytes = bytes, residue = tail)
        }
      case SensorKnown | SensorUnknown =>
        val dev = if (kind == SensorKnown) next(KnownDevices) else KnownDevices + next(20)
        Line(kind, id, s"dev-$dev ${next(400) / 10.0}", dev = dev)
      case Kv =>
        val user = next(100000).toLong
        val tag = types(next(types.length))
        Line(kind, id, s"id=$id type=$tag user=$user amount=${next(100000) / 100.0}",
          user = user, tag = tag)
      case Js =>
        val user = next(100000).toLong
        val tag = types(next(types.length))
        Line(kind, id, s"""{"id":$id,"user":$user,"tag":"$tag","score":${next(1000)}}""",
          user = user, tag = tag)
      case _ =>
        Line(Garbage, id, s"~~ corrupted frame $id ~~ ${java.lang.Long.toHexString(s)} #")
    }
  }

  /** Write lines [from, until) to `f`, handing each to `seen`; returns
    * the byte count. */
  def writeFile(f: File, seed: Long, from: Long, until: Long)(seen: Line => Unit): Long = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), "UTF-8"),
      1 << 16)
    var bytes = 0L
    try {
      var i = from
      while (i < until) {
        val l = line(seed, i)
        val t = l.text
        w.write(t); w.write('\n')
        seen(l)
        bytes += t.length + 1
        i += 1
      }
    } finally w.close()
    bytes
  }
}
