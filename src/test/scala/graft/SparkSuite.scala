package graft

import org.apache.spark.sql.SparkSession

/** The test JVM's one Spark session: `graft.Session` on four cores with a
  * per-JVM temp warehouse dir, logging at WARN like the mains. Every suite
  * shares it and none stops it, so no suite's settings depend on which
  * suite happened to start first.
  * Suites that pin a runtime setting use `spark.conf.set`.
  */
trait SparkSuite {
  protected lazy val spark: SparkSession = SparkSuite.spark
}

object SparkSuite {
  lazy val spark: SparkSession = {
    val s = Session.builder(cpus = 4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
