package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Api
import graft.ops.{Select, Stats, UnitConvert, VCoord}

/** Where a layer call runs: straight through, or inside a span. */
trait Scope {
  def apply[T](layer: String, name: String)(f: => T): T
}

object Untraced extends Scope {
  def apply[T](layer: String, name: String)(f: => T): T = f
}

final class Traced(tracer: Tracer) extends Scope {
  def apply[T](layer: String, name: String)(f: => T): T =
    tracer.span(layer, name)(f)
}

/** One timed operation of the closed loop. */
final case class Op(kind: String, ms: Double, ok: Boolean, items: Long,
                    note: String = "")

/** A benchmark workload: seeded inputs, a closed loop of rounds, and
  * checks against answers the generator knows.
  */
trait Workload {
  /** Generate this seed's inputs under `dir` (untimed in the loop,
    * part of set-up).
    */
  def generate(spark: SparkSession, dir: String, seed: Long): Unit
  /** One round of operations, each timed and checked on its own.
    * Rounds repeat until the measuring window has passed, and the
    * latency metrics are medians over them.
    */
  def round(spark: SparkSession, s: Scope): Seq[Op]
  /** Wall time of each user-level operation in `ops`. */
  def opTimes(ops: Seq[Op]): Seq[Double] = ops.map(_.ms)
  /** The latency samples behind op_p50_ms / op_p90_ms. */
  def latencies(ops: Seq[Op]): Seq[Double] = opTimes(ops)
  /** Checks on the last outputs, once after the timed loop; returns
    * (checks attempted, failures).
    */
  def finalChecks(spark: SparkSession): (Int, Seq[String])
  /** Untimed layer probes after a traced round. */
  def probe(spark: SparkSession, t: Traced): Unit = ()
  /** Per-layer metrics from the traced rounds' spans. */
  def layerMetrics(t: Tracer): Map[String, Double] = Map.empty
  /** Derived figures printed beside the metrics. */
  def info(ops: Seq[Op]): Seq[(String, Double, String)] = Nil
}

object Workload {
  def byName(name: String, out: String): Workload = name match {
    case "fst_roundtrip" => new Roundtrip(out)
    case "fst_session" => new Session(out)
    case "curate" => new Curate(out)
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Run one operation: build its frame and consume it, each in its
    * own span, so jobs started while building show apart from the
    * jobs of the action. Caches the operation left behind are released
    * after the clock stops, so no operation reuses another's.
    */
  def op[R](spark: SparkSession, s: Scope, layer: String, kind: String)(
      build: => DataFrame)(action: DataFrame => R): (R, Double) = {
    val out = timed {
      s(layer, kind) {
        val df = s(layer, kind + ".build")(build)
        s(layer, kind + ".action")(action(df))
      }
    }
    Main.releaseCaches(spark)
    out
  }

  /** Consume every column of `df`: row count and an order-free digest
    * of all values.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      bit_xor(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*)))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def dirStats(path: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val files = walk(new File(path))
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    (files.size.toLong, files.map(_.length).sum)
  }

  /** Median span wall time and work over the traced spans of `name`. */
  def spanMedians(t: Tracer, layer: String, name: String)
      : Option[(Double, Seq[Work])] = {
    val ss = t.spans.filter(s => s.layer == layer && s.name == name)
    if (ss.isEmpty) None
    else Some((Pct.median(ss.map(_.ms)), ss.map(s => t.total(s.id))))
  }

  /** ops.<kind>.{ms,plan_ms,build_jobs,jobs,exchanges} medians. */
  def opMetrics(t: Tracer, kind: String): Map[String, Double] = {
    val prefix = s"ops.$kind"
    val ops = t.spans.filter(s => s.layer == "ops" && s.name == kind)
    if (ops.isEmpty) Map.empty
    else {
      def child(s: Span, n: String) = t.spans
        .find(c => c.parent == s.id && c.name == n).map(c => t.total(c.id))
        .getOrElse(new Work)
      def med(f: Span => Double) = Pct.median(ops.map(f))
      Map(
        s"$prefix.ms" -> med(_.ms),
        s"$prefix.plan_ms" -> med(s => t.total(s.id).planMs.toDouble),
        s"$prefix.build_jobs" ->
          med(s => child(s, kind + ".build").jobs.toDouble),
        s"$prefix.jobs" -> med(s => child(s, kind + ".action").jobs.toDouble),
        s"$prefix.exchanges" ->
          med(s => child(s, kind + ".action").exchanges.toDouble))
    }
  }

  /** Payload and payload-pruned scans of the input files. */
  def scanProbe(spark: SparkSession, t: Traced, files: Seq[String]): Unit = {
    t("sources.fst", "scan.payload") {
      spark.read.format("fstrec").load(files: _*)
        .write.format("noop").mode("overwrite").save()
    }
    t("sources.fst", "scan.meta") {
      spark.read.format("fstrec").load(files: _*).drop("d")
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** Scan probes, plus the input bytes the operations of a traced
    * round read.
    */
  def scanMetrics(t: Tracer, elements: Long): Map[String, Double] = {
    val out = mutable.Map[String, Double]()
    spanMedians(t, "sources.fst", "scan.payload").foreach { case (ms, ws) =>
      out("fst.scan.payload_ms") = ms
      out("fst.scan.tasks") = Pct.median(ws.map(_.tasks.toDouble))
      out("fst.scan.melem_s_core") = Pct.median(ws.map(w =>
        elements / math.max(1.0, w.runMs.toDouble) / 1e3))
    }
    spanMedians(t, "sources.fst", "scan.meta").foreach { case (ms, _) =>
      out("fst.scan.meta_ms") = ms
    }
    out("fst.scan.bytes_read") = Pct.median(t.spans
      .filter(_.layer == "round").map(s => t.total(s.id).bytesRead.toDouble))
    out.toMap
  }

  /** Metadata cleanup alone, the first stage of every write. */
  def cleanupProbe(spark: SparkSession, t: Traced, df: => DataFrame): Unit =
    op(spark, t, "ops", "cleanup")(Select.metadataCleanup(df)) {
      _.write.format("noop").mode("overwrite").save()
    }

  /** The write operation's time and the files it left in `out`. */
  def writeMetrics(t: Tracer, out: String): Map[String, Double] = {
    val (files, bytes) = dirStats(out)
    spanMedians(t, "sources.fst", "write").map { case (ms, _) =>
      Map("fst.write.ms" -> ms, "fst.write.bytes" -> bytes.toDouble,
        "fst.write.files" -> files.toDouble) ++
        spanMedians(t, "ops", "cleanup")
          .map(c => "fst.write.cleanup_ms" -> c._1)
    }.getOrElse(Map.empty)
  }
}

import Workload._

// -------------------------------------------------------------------
// fst_roundtrip
// -------------------------------------------------------------------

/** Read + decode + fststat over a realistic XDF file set, then unit
  * conversion and an XDF write of the whole catalog.
  */
final class Roundtrip(out: String) extends Workload {
  private var set: Gen.RoundtripSet = _
  private var byKey = Map.empty[(String, Int, Int), Gen.Field]
  private val outDir = s"$out/roundtrip_out"
  private val query = Gen.RtNomvars.map(n => s"'$n'")
    .mkString("nomvar IN (", ",", ")")

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    set = Gen.roundtrip(dir, seed)
    byKey = set.fields.map(f => (f.nomvar, f.ig1, f.ip1) -> f).toMap
  }

  /** A round (read half + write half) is one operation. */
  override def opTimes(ops: Seq[Op]): Seq[Double] =
    ops.grouped(2).map(_.map(_.ms).sum).toSeq

  def round(spark: SparkSession, s: Scope): Seq[Op] = {
    val read = try {
      val (rows, ms) = op(spark, s, "ops", "fststat") {
        Stats.fststat(Api.read(spark, set.files, decodeMetadata = true,
          query = Some(query)))
      } { st =>
        st.select(col("nomvar"), col("ig1"), col("ip1"), col("min"),
          col("max"), col("mean"),
          xxhash64(st.columns.map(c => col(s"`$c`")).toSeq: _*))
          .collect()
      }
      val bad = rows.count { r =>
        byKey.get((r.getString(0), r.getInt(1), r.getInt(2))).forall { f =>
          math.abs(r.getFloat(3) - f.min) > f.tol ||
          math.abs(r.getFloat(4) - f.max) > f.tol ||
          math.abs(r.getDouble(5) - f.mean) > f.tol
        }
      }
      val ok = rows.length == set.fields.size && bad == 0
      Op("read", ms, ok, set.dataElements,
        if (ok) "" else s"fststat: ${rows.length} rows, $bad off")
    } catch { case e: Exception => Op("read", 0, ok = false, 0, e.toString) }
    val write = try {
      val (_, ms) = op(spark, s, "sources.fst", "write") {
        UnitConvert.unitConvert(Api.read(spark, set.files), "kelvin")
      } { df => Api.write(df, outDir, container = "xdf") }
      Op("write", ms, ok = true, set.dataElements + set.metaElements)
    } catch { case e: Exception => Op("write", 0, ok = false, 0, e.toString) }
    Seq(read, write)
  }

  /** Every re-read value lies within the quantization of the original
    * encode plus the re-encode of the converted value: one check per
    * data record, plus the record count.
    */
  def finalChecks(spark: SparkSession): (Int, Seq[String]) = {
    val rows = spark.read.format("fstrec").load(outDir)
      .select("nomvar", "ig1", "ip1", "datyp", "nbits", "d").collect()
    val want = set.fields.size + set.metaRecords
    var failures = Seq.empty[String]
    if (rows.length != want)
      failures :+= s"re-read: ${rows.length} records, want $want"
    var seen = 0
    rows.foreach { r =>
      byKey.get((r.getString(0), r.getInt(1), r.getInt(2))).foreach { f =>
        seen += 1
        val shift = if (Gen.RtTemperature(f.nomvar)) 273.15 else 0.0
        val conv = f.values.map(_ + shift)
        val tol = f.tol + Gen.quantTol(f.datyp, f.nbits, conv)
        val d = r.getSeq[Float](5)
        val worst = if (d.length != conv.length) Double.PositiveInfinity
          else conv.indices.iterator.map(i => math.abs(d(i) - conv(i))).max
        if (!(worst <= tol))
          failures :+= s"re-read ${f.nomvar}/${f.ig1}/${f.ip1}: " +
            s"error $worst > $tol"
      }
    }
    if (seen != set.fields.size)
      failures :+= s"re-read: $seen data records, want ${set.fields.size}"
    (set.fields.size + 1, failures)
  }

  override def probe(spark: SparkSession, t: Traced): Unit = {
    scanProbe(spark, t, set.files)
    cleanupProbe(spark, t,
      UnitConvert.unitConvert(Api.read(spark, set.files), "kelvin"))
  }

  override def layerMetrics(t: Tracer): Map[String, Double] =
    opMetrics(t, "fststat") ++ opMetrics(t, "cleanup") ++
      scanMetrics(t, set.dataElements + set.metaElements) ++
      writeMetrics(t, outDir)

  override def info(ops: Seq[Op]): Seq[(String, Double, String)] = {
    def rate(kind: String) = {
      val k = ops.filter(_.kind == kind)
      k.map(_.items).sum / math.max(1e-9, k.map(_.ms).sum) / 1e3
    }
    Seq(("read_melem_s", rate("read"), "Melem/s"),
      ("write_melem_s", rate("write"), "Melem/s"),
      ("input_file_bytes", set.files.map(f => new File(f).length).sum.toDouble,
        "B"))
  }
}

// -------------------------------------------------------------------
// fst_session
// -------------------------------------------------------------------

/** Interactive catalog operations over a small-payload catalog with
  * the full vertical metadata; one round runs each operation once.
  */
final class Session(out: String) extends Workload {
  private var set: Gen.SessionSet = _
  private val outDir = s"$out/session_out"
  private val digests = mutable.Map[String, Long]()

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    set = Gen.session(dir, seed)
    digests.clear()
  }

  private def cat(spark: SparkSession): DataFrame = Api.read(spark, set.files)

  /** Data records per (grid, level, hour, etiket) slice, by nomvar. */
  private def perNomvar = set.dataRecords / Gen.SsNomvars.size

  /** (kind, build, expected row count). */
  private def ops(spark: SparkSession): Seq[(String, () => DataFrame, Long)] =
    Seq(
      ("decode", () => Api.read(spark, set.files, decodeMetadata = true,
        query = Some("level == 500.0")),
        (set.dataRecords / Gen.SsGridKinds.size / 4).toLong),
      ("select_meta", () => Select.selectWithMeta(cat(spark), Seq("TT")),
        (perNomvar + set.metaRecords).toLong),
      ("fststat", () => Stats.fststat(cat(spark)
        .filter(col("nomvar") === "UU")), perNomvar.toLong),
      ("unit_convert", () => UnitConvert.unitConvert(cat(spark), "kelvin"),
        (set.dataRecords + set.metaRecords).toLong),
      ("quick_pressure", () => VCoord.quickPressure(cat(spark)),
        (Gen.SsGridKinds.size * 4).toLong),
      ("to_cube", () => Api.toCube(cat(spark)),
        (Gen.SsNomvars.size * Gen.SsGridKinds.size +
          Session.CubeMetaVariables).toLong))

  def round(spark: SparkSession, s: Scope): Seq[Op] = {
    val reads = ops(spark).map { case (kind, build, want) =>
      try {
        val ((n, h), ms) = op(spark, s, "ops", kind)(build())(digest)
        val first = digests.getOrElseUpdate(kind, h)
        val ok = n == want && h == first
        Op(kind, ms, ok, n,
          if (ok) "" else s"$kind: $n rows (want $want), digest $h vs $first")
      } catch { case e: Exception => Op(kind, 0, ok = false, 0, e.toString) }
    }
    val write = try {
      val (_, ms) = op(spark, s, "sources.fst", "write") {
        cat(spark).filter(col("ip2") === 0 ||
          col("nomvar").isin(VCoord.VcMeta: _*))
      } { df => Api.write(df, outDir, container = "xdf") }
      val n = spark.read.format("fstrec").load(outDir).count()
      val want = perNomvar / Gen.SsHours * Gen.SsNomvars.size +
        set.metaRecords
      Op("write", ms, n == want, n,
        if (n == want) "" else s"write: $n records (want $want)")
    } catch { case e: Exception => Op("write", 0, ok = false, 0, e.toString) }
    reads :+ write
  }

  def finalChecks(spark: SparkSession): (Int, Seq[String]) = (0, Nil)

  /** Operation types differ up to 8x in cost, so each type counts
    * once, by its median over the run's rounds: pooled samples would
    * put the percentiles on a type boundary that moves with the round
    * count.
    */
  override def latencies(ops: Seq[Op]): Seq[Double] =
    ops.groupBy(_.kind).values.map(os => Pct.median(os.map(_.ms))).toSeq

  override def probe(spark: SparkSession, t: Traced): Unit = {
    scanProbe(spark, t, set.files)
    cleanupProbe(spark, t, cat(spark).filter(col("ip2") === 0 ||
      col("nomvar").isin(VCoord.VcMeta: _*)))
  }

  override def layerMetrics(t: Tracer): Map[String, Double] =
    Session.OpKinds.flatMap(k => opMetrics(t, k)).toMap ++
      scanMetrics(t, set.dataRecords.toLong * Gen.SsNi * Gen.SsNj) ++
      writeMetrics(t, outDir)
}

object Session {
  /** The ops-layer operations of a round (a round also writes). */
  val RoundKinds: Seq[String] = Seq("decode", "select_meta", "fststat",
    "unit_convert", "quick_pressure", "to_cube")
  /** ops-layer metrics: the round's operations and the cleanup probe. */
  val OpKinds: Seq[String] = RoundKinds :+ "cleanup"
  /** P0 (four grids) and PT (one grid) become cube variables too. */
  val CubeMetaVariables = 5
}

// -------------------------------------------------------------------
// curate
// -------------------------------------------------------------------

/** The curation funnel to hash-sharded output over a seeded corpus
  * with planted duplicates; a round is [[Curate.Calls]] calls of
  * `Api.curateToShards`.
  */
final class Curate(out: String) extends Workload {
  import Curate.Shards
  private var corpus: Gen.Corpus = _
  private var path: String = _
  private val outDir = s"$out/curate_out"
  private var lastS3 = -1L
  /** (LSH pairs, connected-components rounds) of each traced call. */
  private val ccStats = mutable.ArrayBuffer[(Double, Double)]()

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    corpus = Gen.corpus(seed)
    path = s"$dir/corpus.parquet"
    import spark.implicits._
    corpus.docs.toDF("doc_id", "text", "lang")
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .write.mode("overwrite").parquet(path)
  }

  private def n = corpus.docs.size.toLong
  private def tol = math.max(3L, corpus.nearCopies / 50L)

  def round(spark: SparkSession, s: Scope): Seq[Op] =
    (1 to Curate.Calls).map(_ => call(spark, s))

  private def call(spark: SparkSession, s: Scope): Op =
    try {
      val (acct, ms) = op(spark, s, "pipeline", "curate") {
        Api.curateToShards(spark.read.parquet(path), outDir, Shards,
          minTokens = Gen.MinTokens)
      } { _.collect() }
      val got = acct.map(r => r.getString(0) -> r.getLong(1)).toMap
      val s1 = n - corpus.exactCopies
      val s2 = s1 - corpus.nearCopies
      val s3 = corpus.gatePass.size.toLong
      val passed = Seq(
        got.get("s0_raw").contains(n),
        got.get("s1_exact").contains(s1),
        got.get("s2_neardup").exists(v => v >= s2 - tol && v <= s2 + tol),
        got.get("s3_quality").exists(v =>
          v >= s3 - tol && v <= s3 + corpus.nearGatePass.size))
      lastS3 = got.getOrElse("s3_quality", -1L)
      if (s.isInstanceOf[Traced])
        graft.pipeline.Clusters.lastStats.foreach { js =>
          val pairs = "\"pairs\":(\\d+)".r.findFirstMatchIn(js)
            .map(_.group(1).toDouble).getOrElse(0.0)
          val rounds = "\"rounds\":\\[([^\\]]*)\\]".r.findFirstMatchIn(js)
            .map(_.group(1).split(",").count(_.trim.nonEmpty).toDouble)
            .getOrElse(0.0)
          ccStats += ((pairs, rounds))
        }
      val ok = passed.forall(identity)
      Op("curate", ms, ok, n, if (ok) "" else s"curate accounting: $got")
    } catch { case e: Exception => Op("curate", 0, ok = false, 0, e.toString) }

  /** The shards hold exactly the s3 survivors: no exact copy, every
    * id an original (or a missed near copy) that passes the gate.
    */
  def finalChecks(spark: SparkSession): (Int, Seq[String]) = {
    val rows = spark.read.parquet(outDir).select("doc_id", "shard").collect()
    val ids = rows.map(_.getLong(0))
    val allowed = corpus.gatePass ++ corpus.nearGatePass
    var failures = Seq.empty[String]
    if (ids.length != lastS3)
      failures :+= s"shards hold ${ids.length} docs, s3 says $lastS3"
    if (ids.distinct.length != ids.length) failures :+= "duplicate doc_id"
    val stray = ids.count(i => !allowed(i))
    if (stray > 0) failures :+= s"$stray shard docs are not survivors"
    if (rows.map(_.getInt(1)).distinct.exists(k => k < 0 || k >= Shards))
      failures :+= "shard index out of range"
    (1, failures)
  }

  override def layerMetrics(t: Tracer): Map[String, Double] = {
    val calls = t.spans.filter(s => s.layer == "pipeline" && s.name == "curate")
    if (calls.isEmpty) Map.empty
    else {
      def child(s: Span, n: String) =
        t.spans.find(c => c.parent == s.id && c.name == n).get
      def med(f: Span => Double) = Pct.median(calls.map(f))
      Map(
        "pipeline.curate.build_ms" -> med(child(_, "curate.build").ms),
        "pipeline.curate.exec_ms" -> med(child(_, "curate.action").ms),
        "pipeline.curate.jobs" -> med(s => t.total(s.id).jobs.toDouble),
        "pipeline.shard_write_ms" -> med(s => t.total(s.id).fileWriteMs),
        "pipeline.lsh.pairs" -> Pct.median(ccStats.map(_._1).toSeq),
        "pipeline.cc.rounds" -> Pct.median(ccStats.map(_._2).toSeq))
    }
  }

  override def info(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val c = ops.filter(_.kind == "curate")
    Seq(("curate_docs_per_s",
      c.map(_.items).sum / math.max(1e-9, c.map(_.ms).sum) * 1e3, "1/s"))
  }
}

object Curate {
  val Calls = 2
  val Shards = 4
}
