package graft.perfbench

import scala.util.Random

import graft.core.{IpCodec, RmnDate}
import graft.sources.fst.XdfFormat

/** Single-threaded microbenchmarks of the codec and scalar layers, at
  * fixed element counts, each with a check on the decoded values.
  */
object Micro {
  val CodecElements = 262144
  val ScalarCount = 1000000
  val Reps = 5

  final case class Result(metrics: Seq[(String, Double, String)],
                          checks: Int, failures: Seq[String])

  /** Median of `reps` timed calls, after as many untimed ones. */
  private def medianMs(reps: Int)(f: => Unit): Double = {
    (0 until reps).foreach(_ => f)
    val ts = (0 until reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    Pct.median(ts)
  }

  /** Encode/decode throughput and space cost per datyp. */
  def codec(seed: Long): Result = {
    val r = new Random(seed)
    val v = Gen.smooth(512, CodecElements / 512, 12.0, 30.0, r)
    var failures = Seq.empty[String]
    val ms = Gen.RtCodecs.flatMap { case (datyp, nbits) =>
      val words = XdfFormat.encodePayload(datyp, nbits, v)
      val back = XdfFormat.decodePayload(datyp, nbits, v.length, words)
      val tol = Gen.quantTol(datyp, nbits, v)
      val worst = v.indices.iterator
        .map(i => math.abs(back(i) - v(i))).max
      if (back.length != v.length || !(worst <= tol))
        failures :+= s"codec d$datyp: max error $worst > $tol"
      val enc = medianMs(Reps)(XdfFormat.encodePayload(datyp, nbits, v))
      val dec = medianMs(Reps)(
        XdfFormat.decodePayload(datyp, nbits, v.length, words))
      val n = v.length.toDouble
      Seq((s"codec.encode_melem_s.d$datyp", n / enc / 1e3, "Melem/s"),
        (s"codec.decode_melem_s.d$datyp", n / dec / 1e3, "Melem/s"),
        (s"codec.bytes_per_elem.d$datyp", words.length * 4.0 / n, "B/elem"))
    }
    Result(ms, Gen.RtCodecs.size, failures)
  }

  /** IP and date-stamp decode throughput. */
  def scalars(seed: Long): Result = {
    val r = new Random(seed)
    val kinds = Array(0, 1, 2, 5)
    val vals = Array.fill(ScalarCount)(
      (r.nextInt(100000) + 1) / 100.0f)
    val ks = Array.fill(ScalarCount)(kinds(r.nextInt(kinds.length)))
    val ips = Array.tabulate(ScalarCount)(i => IpCodec.encode(vals(i), ks(i)))
    val epochs = Array.fill(ScalarCount)(
      Gen.D0Epoch + 5L * r.nextInt(50000000))
    val stamps = epochs.map(RmnDate.fromEpochSeconds)
    var failures = Seq.empty[String]
    var sink = 0.0
    val ipBad = ips.indices.count { i =>
      val (v, k) = IpCodec.decode(ips(i))
      k != ks(i) || math.abs(v - vals(i)) > 1e-5 * math.max(1f, vals(i))
    }
    if (ipBad > 0) failures :+= s"IpCodec.decode: $ipBad mismatches"
    val dateBad = stamps.indices.count(i =>
      !RmnDate.toEpochSeconds(stamps(i)).contains(epochs(i)))
    if (dateBad > 0) failures :+= s"RmnDate.toEpochSeconds: $dateBad mismatches"
    val ipMs = medianMs(Reps) {
      var i = 0
      while (i < ips.length) { sink += IpCodec.decode(ips(i))._1; i += 1 }
    }
    val dateMs = medianMs(Reps) {
      var i = 0
      while (i < stamps.length) {
        sink += RmnDate.toEpochSeconds(stamps(i)).getOrElse(0L); i += 1
      }
    }
    if (sink == 42.0) println("")
    Result(Seq(
      ("core.ipcodec_decode_mops", ScalarCount / ipMs / 1e3, "Mop/s"),
      ("core.rmndate_decode_mops", ScalarCount / dateMs / 1e3, "Mop/s")),
      2, failures)
  }

  /** Fixed-work host probe: the same single-threaded integer work on
    * every run, so its seconds describe the machine, not the code.
    */
  def calibSeconds(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      val a = new Array[Long](1 << 20)
      var x = 88172645463325252L
      var rep = 0
      while (rep < 2) {
        var i = 0
        while (i < a.length) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          a(i) = x; i += 1
        }
        java.util.Arrays.sort(a)
        rep += 1
      }
      if (a(0) == 42L) println("")
      (System.nanoTime() - t0) / 1e9
    }
    Pct.median(Seq(once(), once(), once()))
  }
}

object Pct {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}
