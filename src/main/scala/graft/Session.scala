package graft

import org.apache.spark.sql.SparkSession

/** The local session of the command-line entry points (Bench, Verify,
  * JobCount and TimeOne): `local[N]` with N shuffle
  * partitions, N from SPARK_GRAFT_CPUS (default 4), with the tables
  * configured. Spark's generated-class cache holds 100 entries (a static
  * conf), and a 369-key run evicts everything; it is sized here to hold
  * the whole registry's stages. */
object Session {
  def local(logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Tables.configure(spark)
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
