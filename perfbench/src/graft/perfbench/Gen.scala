package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import graft.core.{IpCodec, RmnDate}
import graft.sources.fst.{FstFormat, XdfFormat}

/** Seeded input generators. Every generator takes the seed as an
  * argument and returns the answers the checks need; the engine only
  * ever sees the files it writes.
  */
object Gen {
  val D0Epoch: Long = 1594728000L // 2020-07-14T12:00:00Z
  val D0: Long = RmnDate.fromEpochSeconds(D0Epoch)

  def meta(nomvar: String, typvar: String, etiket: String, ni: Int,
           nj: Int, dateo: Long, ip1: Int, ip2: Int, deet: Int, npas: Int,
           datyp: Int, nbits: Int, grtyp: String, ig1: Int, ig2: Int,
           ig3: Int, ig4: Int): FstFormat.Meta =
    FstFormat.Meta(nomvar, typvar, etiket, ni, nj, 1, dateo, ip1, ip2, 0,
      deet, npas, datyp, nbits, grtyp, ig1, ig2, ig3, ig4, D0, 0, 0)

  def writeXdf(path: String,
               recs: Seq[(FstFormat.Meta, Array[Double])]): Unit =
    Files.write(Paths.get(path), XdfFormat.writeFile(recs))

  /** Smooth field on an ni x nj grid, Fortran (column-major) order. */
  def smooth(ni: Int, nj: Int, c0: Double, amp: Double, r: Random)
      : Array[Double] = {
    val fx = 1 + r.nextInt(3); val fy = 1 + r.nextInt(3)
    val px = r.nextDouble() * 6.28; val py = r.nextDouble() * 6.28
    val tilt = amp * 0.2 * r.nextDouble()
    val out = new Array[Double](ni * nj)
    var j = 0
    while (j < nj) {
      val cy = math.cos(6.283185307179586 * fy * j / nj + py)
      var i = 0
      while (i < ni) {
        out(j * ni + i) = c0 + tilt * i / ni +
          amp * math.sin(6.283185307179586 * fx * i / ni + px) * cy
        i += 1
      }
      j += 1
    }
    out
  }

  /** Worst-case absolute error of one encode/decode of `v` under
    * (datyp, nbits), from the codec's documented quantization.
    */
  def quantTol(datyp: Int, nbits: Int, v: Array[Double]): Double = {
    val mx = v.max; val mn = v.min
    val maxAbs = math.max(math.abs(mx), math.abs(mn))
    val f32 = maxAbs * 2.4e-7
    datyp match {
      case 1 => (mx - mn) / ((1L << nbits) - 1) + f32
      case 134 => maxAbs * math.pow(2, 2 - nbits) + f32
      case _ => f32
    }
  }

  // ---------------------------------------------------------------
  // fst_roundtrip: realistic field sizes, mixed codecs
  // ---------------------------------------------------------------

  final case class Field(nomvar: String, ig1: Int, ip1: Int, datyp: Int,
                         nbits: Int, values: Array[Double]) {
    lazy val min: Double = values.min
    lazy val max: Double = values.max
    lazy val mean: Double = values.sum / values.length
    lazy val tol: Double = quantTol(datyp, nbits, values)
  }

  final case class RoundtripSet(files: Seq[String], fields: Seq[Field],
                                metaRecords: Int, metaElements: Long) {
    val dataElements: Long = fields.map(_.values.length.toLong).sum
  }

  val RtFiles = 4
  val RtShapes: Seq[(Int, Int)] = Seq((200, 100), (160, 125), (250, 80),
    (125, 160))
  val RtNomvars: Seq[String] = Seq("TT", "ES", "UU", "VV")
  val RtTemperature: Set[String] = Set("TT", "ES")
  val RtLevels: Seq[Float] = Seq(1.0f, 0.85f, 0.7f, 0.5f, 0.25f)
  val RtCodecs: IndexedSeq[(Int, Int)] =
    IndexedSeq((1, 16), (5, 32), (133, 32), (134, 16))
  private val RtBase: Map[String, (Double, Double, Double, Double)] = Map(
    "TT" -> ((-30.0, 20.0, 5.0, 25.0)), "ES" -> ((1.0, 8.0, 0.5, 3.0)),
    "UU" -> ((-10.0, 10.0, 5.0, 30.0)), "VV" -> ((-10.0, 10.0, 5.0, 30.0)))

  def roundtrip(dir: String, seed: Long): RoundtripSet = {
    Files.createDirectories(Paths.get(dir))
    val perFile = (0 until RtFiles).map { g =>
      val r = new Random(seed * 1000003L + g)
      val (ni, nj) = RtShapes(g % RtShapes.size)
      val ig1 = 33792 + g
      val lon = Array.tabulate(ni)(i => 10.0 + 0.25 * i)
      val lat = Array.tabulate(nj)(j => -45.0 + 0.25 * j)
      val p0 = smooth(ni, nj, 1000.0, 20.0, r)
      val metaRecs = Seq(
        meta(">>", "X", "GRID", ni, 1, D0, ig1, 77761, 0, 0, 5, 32, "E",
          900, 0, 43200, 43200) -> lon,
        meta("^^", "X", "GRID", 1, nj, D0, ig1, 77761, 0, 0, 5, 32, "E",
          900, 0, 43200, 43200) -> lat,
        meta("P0", "P", "OPERATION", ni, nj, D0, 0, 0, 0, 0, 5, 32, "Z",
          ig1, 77761, 1, 0) -> p0)
      val fields = for {
        (nv, n) <- RtNomvars.zipWithIndex
        (lvl, l) <- RtLevels.zipWithIndex
      } yield {
        val (datyp, nbits) = RtCodecs((n + l + g) % RtCodecs.size)
        val (lo, hi, alo, ahi) = RtBase(nv)
        val v = smooth(ni, nj, lo + (hi - lo) * r.nextDouble(),
          alo + (ahi - alo) * r.nextDouble(), r)
        Field(nv, ig1, IpCodec.encode(lvl, 1), datyp, nbits, v)
      }
      val dataRecs = fields.map { f =>
        meta(f.nomvar, "P", "R1_V710_N", ni, nj, D0, f.ip1, 0, 300, 0,
          f.datyp, f.nbits, "Z", ig1, 77761, 1, 0) -> f.values
      }
      val path = s"$dir/rt_$g.fst"
      writeXdf(path, metaRecs ++ dataRecs)
      (path, fields, metaRecs.size, metaRecs.map(_._2.length.toLong).sum)
    }
    RoundtripSet(perFile.map(_._1), perFile.flatMap(_._2),
      perFile.map(_._3).sum, perFile.map(_._4).sum)
  }

  // ---------------------------------------------------------------
  // fst_session: small payloads, full vertical metadata
  // ---------------------------------------------------------------

  val SsNomvars: Seq[String] = Seq("TT", "UU", "VV", "ES", "GZ", "HU")
  val SsEtikets: Seq[String] =
    Seq("R1_V710_N", "G133K80P", "G133K80P001", "OPERATION")
  /** Level kind per grid: pressure, sigma (+P0), eta (+P0+PT), hybrid
    * 5005 (+P0+!!), hybrid 5001 (+P0+HY).
    */
  val SsGridKinds: IndexedSeq[Int] = IndexedSeq(2, 1, 1, 5, 5)
  val SsPressure: Seq[Float] = Seq(1000f, 850f, 500f, 250f)
  val SsSigma: Seq[Float] = Seq(1.0f, 0.85f, 0.5f, 0.25f)
  val SsHours = 5
  val SsCodecs: Seq[(Int, Int)] = Seq((5, 32), (1, 24), (133, 16), (134, 12))
  val SsNi = 8
  val SsNj = 6

  final case class SessionSet(files: Seq[String], dataRecords: Int,
                              metaRecords: Int)

  def ssIp1(gid: Int, lv: Int): Int =
    if (gid == 0) IpCodec.encode(SsPressure(lv), 2)
    else IpCodec.encode(SsSigma(lv), SsGridKinds(gid))

  def session(dir: String, seed: Long): SessionSet = {
    Files.createDirectories(Paths.get(dir))
    val r = new Random(seed)
    val (ni, nj) = (SsNi, SsNj)
    val n = ni * nj
    def gg(gid: Int) = 33792 + gid
    val deform = SsGridKinds.indices.flatMap { gid =>
      Seq(
        meta(">>", "X", "GRID", ni, 1, D0, gg(gid), 77761, 0, 0, 5, 32,
          "E", 900, 0, 43200, 43200) ->
          Array.tabulate(ni)(i => 10.0 + 10 * i),
        meta("^^", "X", "GRID", 1, nj, D0, gg(gid), 77761, 0, 0, 5, 32,
          "E", 900, 0, 43200, 43200) ->
          Array.tabulate(nj)(j => 45.0 + j))
    }
    val p0 = (1 until SsGridKinds.size).map { gid =>
      meta("P0", "P", "OPERATION", ni, nj, D0, 0, 0, 0, 0, 5, 32, "Z",
        gg(gid), 77761, 1, 0) ->
        Array.tabulate(n)(k => 1000.0 + k + r.nextInt(8))
    }
    val pt = Seq(meta("PT", "P", "OPERATION", ni, nj, D0, 0, 0, 0, 0, 5,
      32, "Z", gg(2), 77761, 1, 0) -> Array.fill(n)(10.0))
    // !! vcode 5005 for grid 3: the (3 x nj) A/B table, column j holds
    // (ip1, A, B); slot 1 carries pref in A
    val tocToc = {
      val cols = Seq((0.0, 0.0, 0.0), (1.0, 100000.0, 0.0)) ++
        (0 until 4).map { lv =>
          (ssIp1(3, lv).toFloat.toDouble,
            math.log(SsSigma(lv).toDouble * 100000.0), 1.0)
        }
      Seq(meta("!!", "X", "TOCTOC", 3, cols.size, D0, gg(3), 77761, 0, 0,
        5, 32, "X", 5005, 0, 0, 0) ->
        cols.flatMap { case (a, b, c) => Seq(a, b, c) }.toArray)
    }
    val hy = Seq(meta("HY", "X", "OPERATION", 1, 1, D0,
      IpCodec.encode(0.3f, 5), 0, 0, 0, 5, 32, "X", 800, 1000, 0, 0) ->
      Array(10.0))
    val metaRecs = deform ++ p0 ++ pt ++ tocToc ++ hy
    val files = SsEtikets.grouped(2).zipWithIndex.map { case (ets, e) =>
      val data = for {
        et <- ets
        nv <- SsNomvars
        gid <- SsGridKinds.indices
        lv <- 0 until 4
        h <- 0 until SsHours
      } yield {
        val ip2 = h * 6
        val (datyp, nbits) = SsCodecs(lv)
        val c = r.nextInt(100) / 2.0
        meta(nv, "P", et, ni, nj,
          RmnDate.fromEpochSeconds(D0Epoch - ip2 * 3600L), ssIp1(gid, lv),
          ip2, 300, ip2 * 12, datyp, nbits, "Z", gg(gid), 77761, 1, 0) ->
          Array.tabulate(n)(k => c + k / 2.0)
      }
      val path = s"$dir/session_$e.fst"
      writeXdf(path, (if (e == 0) metaRecs else Nil) ++ data)
      path
    }.toSeq
    SessionSet(files, SsNomvars.size * SsGridKinds.size * 4 * SsHours *
      SsEtikets.size, metaRecs.size)
  }

  // ---------------------------------------------------------------
  // curate: Zipfian corpus with planted exact and near duplicates
  // ---------------------------------------------------------------

  final case class Corpus(docs: Seq[(Long, String, String)],
                          exactCopies: Int, nearCopies: Int,
                          gatePass: Set[Long], nearIds: Set[Long],
                          nearGatePass: Set[Long])

  val CorpusOriginals = 960
  val CorpusExact = 120
  val CorpusNear = 120
  val Vocab = 20000
  val MinTokens = 50

  private def word(rank: Int): String = {
    val syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze",
      "pa", "qu", "di", "fe", "go", "hu", "jy")
    val sb = new StringBuilder
    var x = rank + 17
    while (x > 0) { sb ++= syl(x % 16); x /= 16 }
    sb.toString
  }

  def corpus(seed: Long): Corpus = {
    val r = new Random(seed)
    val words = Array.tabulate(Vocab)(word)
    // Zipf(s = 1.07) over the vocabulary, by inverse CDF
    val cdf = {
      val w = Array.tabulate(Vocab)(k => 1.0 / math.pow(k + 1, 1.07))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def draw(): String = {
      val u = r.nextDouble()
      val k = java.util.Arrays.binarySearch(cdf, u)
      words(math.min(Vocab - 1, if (k >= 0) k else -k - 1))
    }
    val originals = (1 to CorpusOriginals).map { id =>
      val len = 40 + r.nextInt(101)
      val toks = Array.fill(len)(draw())
      val lang = if (r.nextDouble() < 0.85) "en" else "fr"
      (id.toLong, toks, lang)
    }
    val picks = r.shuffle(originals.indices.toList)
    val exactSrc = picks.take(CorpusExact)
    val nearSrc = picks.slice(CorpusExact, CorpusExact + CorpusNear)
    var nextId = CorpusOriginals.toLong
    val exact = exactSrc.map { i =>
      nextId += 1
      val (_, toks, lang) = originals(i)
      (nextId, toks, lang)
    }
    val near = nearSrc.map { i =>
      nextId += 1
      val (_, toks0, lang) = originals(i)
      val toks = toks0.clone()
      // one substituted word per 40 tokens keeps the shingle Jaccard
      // near 0.85, far above the 0.5 threshold
      (0 until math.max(1, toks.length / 40)).foreach { _ =>
        val p = r.nextInt(toks.length)
        var w = draw()
        while (w == toks(p)) w = draw()
        toks(p) = w
      }
      (nextId, toks, lang)
    }
    val all = originals ++ exact ++ near
    def passes(t: (Long, Array[String], String)) =
      t._3 == "en" && t._2.length >= MinTokens
    val docs = r.shuffle(all.map { case (id, toks, lang) =>
      (id, toks.mkString(" "), lang)
    })
    Corpus(docs, CorpusExact, CorpusNear,
      originals.filter(passes).map(_._1).toSet, near.map(_._1).toSet,
      near.filter(passes).map(_._1).toSet)
  }
}
