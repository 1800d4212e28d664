package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local-mode defaults are tuned for the test harness (local[32],
  * 128 GiB single JVM) but every setting here is what we would also
  * ship on a real cluster: AQE on (runtime re-planning, skew-join
  * handling), shuffle partitions sized to the parallelism rather than
  * the Spark default of 200, UTC session time zone for oracle parity.
  */
object GraftSession {
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // iterative plans generate a codegen class per loop round —
      // size the class cache so mixed workloads don't recompile them
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // iterative loops under a session checkpoint dir write one
      // frame per round; without this the files outlive their RDDs
      // (Spark's default) and a deep job leaks O(rounds) durable
      // storage — must be set at session build, the ContextCleaner
      // reads it once at startup
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
