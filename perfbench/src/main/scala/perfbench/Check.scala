package perfbench

import java.io.File
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import com.fasterxml.jackson.databind.ObjectMapper

/** Order-independent multiset fingerprint of canonical record strings:
  * count, sum of 64-bit hashes and sum of their squares (mod 2^64). Two
  * channels agree only if they hold the same records the same number of
  * times (up to a 2^-64-scale hash collision). Fingerprints add, so part
  * files can be folded in parallel. */
final case class Fp(n: Long, s1: Long, s2: Long) {
  def +(o: Fp): Fp = Fp(n + o.n, s1 + o.s1, s2 + o.s2)
  def add(canon: String): Fp = {
    val h = Fp.hash(canon)
    Fp(n + 1, s1 + h, s2 + h * h)
  }
}

object Fp {
  val empty: Fp = Fp(0, 0, 0)
  def hash(s: String): Long = {
    val a = MurmurHash3.stringHash(s, 0x3c6ef372)
    val b = MurmurHash3.stringHash(s, 0x7f4a7c15)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }
}

/** Reads the pipeline's sink outputs and turns each record into the
  * canonical string the generator's truth is compared with. */
object Check {

  private val mapper = new ObjectMapper()

  /** Top-level fields of one JSON object line: scalars as their text,
    * nested objects/arrays as JSON; none if the line is not a JSON object
    * (its record then matches no expected one). */
  def jsonFields(line: String): Map[String, String] =
    try mapper.readTree(line).fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> (if (v.isValueNode) v.asText else v.toString)
    }.toMap
    catch { case _: java.io.IOException => Map.empty }

  /** Fingerprint every part file under `dir` in parallel; `canon` maps
    * one output line to its canonical record (or a marker of why not). */
  def fingerprint(dir: File, threads: Int)(canon: String => String): Fp = {
    val files = Common.partFiles(dir)
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val tasks = files.map(f => new Callable[Fp] {
        def call(): Fp = Common.readLines(f).foldLeft(Fp.empty)((fp, l) => fp.add(canon(l)))
      })
      pool.invokeAll(tasks.asJava).asScala.map(_.get).foldLeft(Fp.empty)(_ + _)
    } finally pool.shutdown()
  }
}
