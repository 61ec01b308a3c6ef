package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one closed-loop
  * client in one local Spark process.
  *
  *   --workload fst_roundtrip|fst_session|curate --seed N --seconds S
  *   --trace 0|1 --cores C --work DIR --artifacts DIR
  *
  * Set-up (session start, input generation, [[WarmupRounds]] untimed
  * warm-up rounds) is `setup_s`; it runs once, because the cold first
  * round alone takes 15-30 s on a 4-core box. Then whole rounds run until
  * `--seconds` have passed. With `--trace 1`, rounds alternate
  * untraced, traced, untraced; the traced one feeds the per-layer
  * metrics, and comparing it with the untraced ones gives the tracing
  * overhead. The last stdout line is the result object.
  */
object Main {
  /** Untimed rounds before timing starts: the second round in a JVM is
    * still 30-50% slower than the third, so timing starts at the third.
    */
  val WarmupRounds = 2

  private val Datyps = Gen.RtCodecs.map(_._1)

  /** Per-layer metrics; each workload reports all of them, and a layer
    * the workload never reaches reads 0.
    */
  val PerLayer: Seq[(String, String)] =
    Seq("fst.scan.payload_ms" -> "ms", "fst.scan.meta_ms" -> "ms",
      "fst.scan.bytes_read" -> "B", "fst.scan.tasks" -> "count",
      "fst.scan.melem_s_core" -> "Melem/s") ++
    Datyps.flatMap(d => Seq(s"codec.decode_melem_s.d$d" -> "Melem/s",
      s"codec.encode_melem_s.d$d" -> "Melem/s",
      s"codec.bytes_per_elem.d$d" -> "B/elem")) ++
    Seq("fst.write.ms" -> "ms", "fst.write.bytes" -> "B",
      "fst.write.files" -> "count", "fst.write.cleanup_ms" -> "ms",
      "core.ipcodec_decode_mops" -> "Mop/s",
      "core.rmndate_decode_mops" -> "Mop/s") ++
    Session.OpKinds.flatMap(k => Seq(s"ops.$k.ms" -> "ms",
      s"ops.$k.plan_ms" -> "ms", s"ops.$k.build_jobs" -> "count",
      s"ops.$k.jobs" -> "count", s"ops.$k.exchanges" -> "count")) ++
    Seq("pipeline.curate.build_ms" -> "ms", "pipeline.curate.exec_ms" -> "ms",
      "pipeline.curate.jobs" -> "count", "pipeline.lsh.pairs" -> "count",
      "pipeline.cc.rounds" -> "count", "pipeline.shard_write_ms" -> "ms",
      "spark.jobs" -> "count", "spark.tasks" -> "count",
      "spark.cpu_ms" -> "ms", "spark.run_ms" -> "ms", "spark.gc_ms" -> "ms",
      "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
      "spark.sched_delay_ms" -> "ms", "trace.overhead_pct" -> "%",
      "host.calib_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, work: String,
                        artifacts: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, m("work"), m("artifacts"))
  }

  /** The bench's session config: graft.Bench's documented deployment
    * conf, shuffle partitions = cores, all scratch space under `work`.
    */
  def newSession(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "8192")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Drop every cached intermediate (outside timed regions). */
  def releaseCaches(spark: SparkSession): Unit = {
    graft.core.CacheRegistry.releaseAll()
    spark.catalog.clearCache()
  }

  /** Reset all process-global state between rounds. */
  def hygiene(spark: SparkSession): Unit = {
    releaseCaches(spark)
    graft.pipeline.Clusters.lastStats = None
  }

  private def secondsSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch { case e: Throwable =>
        System.err.println("perfbench: run failed")
        e.printStackTrace()
        1
      }
    System.out.flush()
    sys.exit(code)
  }

  def run(a: Args): Int = {
    val calib = Micro.calibSeconds()
    val wl = Workload.byName(a.workload, s"${a.work}/out")
    val t0 = System.nanoTime()
    val spark = newSession(a.cores, a.work)
    wl.generate(spark, s"${a.work}/data", a.seed)
    (1 to WarmupRounds).foreach { _ =>
      wl.round(spark, Untraced).filterNot(_.ok)
        .foreach(o => System.err.println(s"perfbench warm-up: ${o.note}"))
      hygiene(spark)
    }
    val setupS = secondsSince(t0)

    val tracer = if (a.trace) Some(new Tracer(spark,
      s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")) else None
    val ops = mutable.ArrayBuffer[(Op, Boolean)]()
    val rounds = mutable.ArrayBuffer[(Double, Boolean)]()
    // a traced run brackets its traced round between untraced ones, so
    // the overhead estimate is not skewed by the JIT still warming up
    val minRounds = if (a.trace) 3 else 1
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var r = 0
    while (System.nanoTime() < deadline || r < minRounds) {
      val traced = tracer.isDefined && r % 2 == 1
      val res = tracer.filter(_ => traced) match {
        case Some(t) =>
          val sc = new Traced(t)
          val out = t.span("round", "round")(wl.round(spark, sc))
          hygiene(spark)
          wl.probe(spark, sc)
          out
        case None => wl.round(spark, Untraced)
      }
      hygiene(spark)
      res.foreach(o => ops += ((o, traced)))
      rounds += ((res.map(_.ms).sum, traced))
      r += 1
    }
    val (checks, checkFailures) =
      try wl.finalChecks(spark)
      catch { case e: Exception => (1, Seq(s"final checks: $e")) }

    val plain = ops.filterNot(_._2).map(_._1).toSeq
    val samples = wl.latencies(plain)
    val times = wl.opTimes(plain)
    val opsPerS = times.size / (times.sum / 1e3)
    val micro = if (a.trace) Seq(Micro.codec(a.seed), Micro.scalars(a.seed))
      else Nil
    val opFailures = ops.map(_._1).filterNot(_.ok).map(_.note)
    val failures = opFailures ++ checkFailures ++ micro.flatMap(_.failures)
    val attempted = ops.size + checks + micro.map(_.checks).sum
    // a check group can report several mismatches; it fails once
    val failed = opFailures.size + math.min(checks, checkFailures.size) +
      micro.map(m => math.min(m.checks, m.failures.size)).sum

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        Seq(("setup_s", setupS, "s"),
          ("op_p50_ms", Pct.median(samples), "ms"),
          ("ops_per_s", opsPerS, "1/s"))
      case Some(t) =>
        val roundSpans = t.spans.filter(_.layer == "round")
        val works = roundSpans.map(s => t.total(s.id))
        def perRound(f: Work => Double) = works.map(f).sum / works.size
        val tracedMs = Pct.median(rounds.filter(_._2).map(_._1).toSeq)
        val plainMs = rounds.filterNot(_._2).map(_._1).sum /
          rounds.count(!_._2)
        val got = wl.layerMetrics(t) ++ micro.flatMap(_.metrics)
          .map(m => m._1 -> m._2) ++ Map(
          "spark.jobs" -> perRound(_.jobs.toDouble),
          "spark.tasks" -> perRound(_.tasks.toDouble),
          "spark.cpu_ms" -> perRound(_.cpuMs),
          "spark.run_ms" -> perRound(_.runMs.toDouble),
          "spark.gc_ms" -> perRound(_.gcMs.toDouble),
          "spark.shuffle_write_bytes" -> perRound(_.shuffleWriteBytes.toDouble),
          "spark.spill_bytes" -> perRound(_.spillBytes.toDouble),
          "spark.sched_delay_ms" -> perRound(_.schedDelayMs.toDouble),
          "trace.overhead_pct" -> (tracedMs / plainMs - 1) * 100,
          "host.calib_s" -> calib)
        val unknown = got.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
        PerLayer.map { case (n, u) => (n, got.getOrElse(n, 0.0), u) }
    }

    // a run holds too few samples for ten to lie beyond p90, so p90 is
    // reported beside the metrics rather than as one
    val info = wl.info(plain) ++ Seq(
      ("op_p90_ms", Pct.quantile(samples, 0.9), "ms"),
      ("samples", samples.size.toDouble, "count"),
      ("rounds", rounds.size.toDouble, "count"),
      ("failed_frac", failed.toDouble / math.max(1, attempted), "ratio"),
      ("host.calib_s", calib, "s"))
    def asJson(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, u) =>
      n -> Map("value" -> v, "unit" -> u) }
    val detail = Json.obj(Seq("workload" -> a.workload, "seed" -> a.seed,
      "trace" -> a.trace, "cores" -> a.cores,
      "setup_s" -> setupS,
      "op_ms" -> plain.groupBy(_.kind).map { case (k, os) =>
        k -> os.map(o => math.rint(o.ms * 10) / 10) },
      "failures" -> failures.take(20).toSeq))
    println("perfbench detail " + detail)
    println("perfbench info " + Json.obj(asJson(info)))
    val result = Json.obj(Seq("correct" -> (failed == 0),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(asJson(metrics)))))

    val stem = s"${a.artifacts}/${a.workload}-seed${a.seed}-trace" +
      s"${if (a.trace) 1 else 0}-${ProcessHandle.current().pid()}"
    new File(a.artifacts).mkdirs()
    val w = new java.io.PrintWriter(stem + ".json", "UTF-8")
    try {
      w.println(detail); w.println(Json.obj(asJson(info))); w.println(result)
    } finally w.close()
    tracer.foreach { t => t.close(); t.writeSpans(stem + ".spans.jsonl") }
    hygiene(spark)
    spark.stop()
    println(result)
    0
  }

}
