package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of selected queries so
  * shuffle/broadcast/pushdown posture can be audited by eye.
  * Usage: runMain graft.PlanAudit <sfDir> <query...>
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq("f12_metadata_cleanup")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // same session-conf override hook as graft.Profile (e.g.
    // SPARK_GRAFT_CONF="spark.sql.optimizer.windowGroupLimitThreshold=8192")
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.startsWith("spark.") =>
            spark.conf.set(k, v)
            println(s"[planaudit] conf override: $k=$v")
          case _ => sys.error(
            s"SPARK_GRAFT_CONF entry '$kv' is not spark.*=value")
        }
      }
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
