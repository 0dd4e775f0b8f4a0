package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Whether an operation counts toward the pooled write or read timings. */
sealed trait Kind
case object Write extends Kind
case object Read extends Kind

/** One operation of a workload's seeded sequence. `body` is the timed
  * call into graft; `rows` maps its result to the user rows it accepted
  * (writes); `after` runs untimed with the result, updates the
  * benchmark's model and checks the answer. */
final case class Op(name: String, kind: Kind, body: () => Any,
    rows: Any => Long = _ => 0L, after: Any => Unit = _ => ())

/** An op failure graft contained and reported instead of throwing
  * (Ingest's per-table error containment); `cls` is the class of the
  * original exception. */
final class ContainedFailure(val cls: String, msg: String)
    extends RuntimeException(msg)

/** One timed execution. A failed op has no timing: it is kept only to
  * count against every latency limit (see [[Stats.withFailures]]). */
final case class Sample(index: Int, op: String, kind: Kind, seconds: Double,
    ok: Boolean, traced: Boolean, rows: Long, startMs: Long, endMs: Long)

/** Correctness checks of one run; any failure makes `correct` false. */
final class Checks {
  private val failed = mutable.ArrayBuffer.empty[String]
  private var n = 0
  def check(ok: Boolean, what: => String): Unit = synchronized {
    n += 1
    if (!ok) failed += what
  }
  def passed: Boolean = synchronized(failed.isEmpty)
  def count: Int = synchronized(n)
  def failures: Seq[String] = synchronized(failed.toList)
}

object Stats {
  /** Linear-interpolated percentile (p in 0..100) of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.size == 1) s.head
    else {
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The percentiles a tail may be reported at, highest first. */
  private val TailCandidates = Seq(99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest candidate percentile with at least ten samples beyond
    * it, and its value; a sample under twenty supports none of them
    * and reports its median at percentile 50. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = TailCandidates.find(p => xs.size * (1 - p / 100.0) >= 10)
      .getOrElse(50.0)
    (pct(xs, p), p)
  }

  /** Timings with every failed attempt counted as missing any limit. */
  def withFailures(samples: Seq[Sample]): Seq[Double] =
    samples.map(s => if (s.ok) s.seconds else Double.PositiveInfinity)
}

object Fs {
  /** Regular files under `dir`, recursively (hidden checksum files
    * included: they are bytes on disk too). */
  def files(dir: String): Seq[File] = {
    val root = new File(dir)
    if (!root.exists()) Seq.empty
    else {
      val out = mutable.ArrayBuffer.empty[File]
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else out += f
      walk(root)
      out.toSeq
    }
  }

  def bytes(dirs: String*): Long = dirs.flatMap(files).map(_.length).sum

  def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  def write(path: String, text: String): Unit = {
    val p: Path = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, text.getBytes("UTF-8"))
  }
}

/** Content digest of generated inputs, taken as observed metrics of
  * the very write job that lands them (no extra pass). It is over rows,
  * not file bytes: two JVMs writing the same rows do not write the same
  * bytes, because the parquet writer serializes a set of column
  * encodings in identity-hash order, so the footer differs while every
  * row is equal. Per written dir: row count and two order-free sums of
  * a hash of every column. */
object Digest {
  import org.apache.spark.sql.{DataFrame, Observation}
  import org.apache.spark.sql.functions._

  /** `df` with a digest observer attached; read it with [[value]]
    * after the write ran. */
  def observe(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val h = xxhash64(df.columns.toSeq.map(col): _*)
    (df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(pmod(h, lit(2147483647L))).as("s")), obs)
  }

  def value(obs: Observation): String =
    obs.get.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")

  /** Write `df` as parquet (`how` configures the writer) and return
    * the digest of what was written. */
  def write(df: DataFrame, path: String)(
      how: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =>
        org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
        identity): String = {
    val (d, obs) = observe(df)
    how(d.write).parquet(path)
    s"${new java.io.File(path).getName}:${value(obs)}"
  }

  def combine(parts: Iterable[String]): String =
    Fs.sha256(parts.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}

/** Deterministic helpers over java.util.SplittableRandom. */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def long(lo: Long, hi: Long): Long = r.nextLong(lo, hi)
  def double(): Double = r.nextDouble()
  /** Jitter a size by up to +-frac, seeded. */
  def jitter(n: Int, frac: Double): Int =
    math.max(1, math.round(n * (1 - frac + 2 * frac * r.nextDouble())).toInt)
  def shuffle[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
  /** Zipf-like rank in [0, n): rank 0 is the most likely. */
  def zipf(n: Int, s: Double = 1.1): Int = {
    // inverse-CDF of the continuous power law, clamped to the range
    val u = r.nextDouble()
    val x = math.pow(1 - u * (1 - math.pow(n + 1.0, 1 - s)), 1 / (1 - s)) - 1
    math.min(n - 1, math.max(0, x.toInt))
  }
}
