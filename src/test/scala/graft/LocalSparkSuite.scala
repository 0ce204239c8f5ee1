package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One local Spark session per suite, stopped after its last test:
  * local[4], 8 shuffle partitions, UI off, UTC. */
trait LocalSparkSuite extends BeforeAndAfterAll { this: Suite =>

  protected lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()
}
