package graft.kg

import org.apache.spark.sql.SparkSession

/** The local Spark session recipe shared by graft's tool mains. The
  * `spark-submit` entry points (graft.Main, StreamMain) leave the master to
  * the launcher and do not use it. */
object LocalSpark {

  /** Cores for `local[N]`: `SPARK_GRAFT_CPUS`, otherwise every available
    * processor. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(cores: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      // 4 tasks/core: amortizes stragglers without tiny-task overhead
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      // tmpfs shuffle dir: a VM disk adds noise to the tiny shuffles
      // here; a real cluster uses local SSDs
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
