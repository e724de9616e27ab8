package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession recipe every main runs on (Smoke, Verify,
  * Bench, PlanDump, Profile): `local[cpus]` with as many shuffle
  * partitions, UTC session time, nanos-as-long parquet timestamps (the
  * events fixture carries TIMESTAMP(NANOS); `Tables.events` converts the
  * long back) and no UI. Any other Spark setting reaches SparkConf as a
  * `-Dspark.*` JVM property. */
object Session {
  def local(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** [[local]] on `SPARK_GRAFT_CPUS` cores, `defaultCpus` when unset. */
  def fromEnv(defaultCpus: String): SparkSession =
    local(sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus))

  /** Untimed JIT/codegen warm-up: one scan-join-aggregate round trip
    * over the fixture's lineitem and orders, so the first timed query
    * does not pay class loading and codegen. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("l_returnflag").count().count()
    ()
  }
}
