package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: PAIRED A/B timing of one query in a single warm JVM.
  * The local box's throughput drifts ±40% over hours (DESIGN.md
  * round 7), so unpaired runs cannot resolve sub-second deltas; this
  * alternates the two variants run-by-run (A B A B ...) so both see
  * the same drift, and reports per-variant medians.
  *
  * The variant switch is a Spark session conf set via
  * `spark.conf.set` (e.g. A/B-ing
  * `spark.sql.optimizer.windowGroupLimitThreshold`); any other key is
  * rejected. The engine has one implementation per operator, so an
  * A/B of two code paths pairs two builds (perfbench/), not a switch.
  *
  * Usage: runMain graft.AbProfile <sfDir> <query> <reps-per-variant>
  *   <propKey> <valueA> <valueB>
  */
object AbProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = args(2).toInt
    val propKey = args(3)
    val va = args(4)
    val vb = args(5)
    require(propKey.startsWith("spark."),
      s"AbProfile varies a Spark session conf; '$propKey' is not a " +
        "spark.* key")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def setVariant(v: String): Unit = spark.conf.set(propKey, v)
    try SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // untimed warmup of the query itself under each variant: plan
    // codegen is per-variant and must not land on either's run 1
    Seq(va, vb).foreach { v =>
      setVariant(v)
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => () }
      graft.core.CacheRegistry.releaseAll(); spark.catalog.clearCache()
    }
    val times = scala.collection.mutable.Map(
      va -> Vector.empty[Double], vb -> Vector.empty[Double])
    var rows = Map.empty[String, Long]
    (1 to reps).foreach { i =>
      Seq(va, vb).foreach { v =>
        setVariant(v)
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        val secs = (System.nanoTime() - t0) / 1e9
        graft.core.CacheRegistry.releaseAll(); spark.catalog.clearCache()
        times(v) :+= secs
        rows += v -> n
        println(f"[ab] $name $propKey=$v round $i: $secs%.2f s ($n rows)")
      }
    }
    def med(xs: Vector[Double]): Double = {
      // true median: average the two middle elements for even rep
      // counts — the upper-middle alone biases high by up to one
      // inter-run gap, material for a tool resolving sub-second deltas
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    Seq(va, vb).foreach { v =>
      println(f"[ab] MEDIAN $propKey=$v: ${med(times(v))}%.2f s " +
        f"(${rows(v)} rows; ${times(v).map(t => f"$t%.2f").mkString(", ")})")
    }
    spark.stop()
  }
}
