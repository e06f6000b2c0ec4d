package graft

import org.apache.spark.sql.SparkSession

/** The local session every main runs on: `SPARK_GRAFT_CPUS` cores
  * (`defaultCpus` when unset) and as many shuffle partitions, UTC
  * session time, no UI, WARN logging. */
object LocalSpark {
  def session(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
