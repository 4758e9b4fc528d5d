package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession recipe shared by every entry point (Bench,
  * Verify, Explain, Profile, ScaleProbe) and the test suite: `cpus`
  * task slots and as many shuffle partitions, UTC session time, parquet
  * TIMESTAMP(NANOS) read as long (see core.Tables), AQE on, no UI.
  */
object GraftSession {

  /** Task slots: `SPARK_GRAFT_CPUS`, else every available processor. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `extraConf` entries apply after the shared ones, so they win. */
  def local(cpus: Int = defaultCpus, logLevel: String = "WARN",
      extraConf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
