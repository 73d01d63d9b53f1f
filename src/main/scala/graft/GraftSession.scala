package graft

import org.apache.spark.sql.SparkSession

/** The one session factory every driver shares (Bench, Verify, Cli, the
  * plan-audit tool, the test suites, the scaling probe): local mode on
  * `cpus` cores, `shuffle.partitions = cpus`, a UTC session time zone
  * (the oracle-parity convention for timestamp arithmetic), no UI, and
  * WARN logging. `conf` adds driver-specific settings on top, e.g. the
  * bench's tmpfs `spark.local.dir`. AQE is left at Spark's default
  * (enabled).
  *
  * The generated-class cache is not set here: it is a JVM-wide static
  * conf, read once before any session exists, so `build.sbt`'s
  * `javaOptions` set it (`spark.sql.codegen.cache.maxEntries`), together
  * with `spark.sql.codegen.useIdInClassName=false`, which keeps a plan's
  * generated code byte-stable from run to run. Every driver run with the
  * build's options gets both. */
object GraftSession {
  def build(cpus: Int, conf: (String, String)*): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
