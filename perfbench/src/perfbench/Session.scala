package perfbench

import org.apache.spark.sql.SparkSession

/** Session settings and set-up. One process, one session at a time,
  * `local[N]` with N = min(4, cores) and N shuffle partitions. */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val n: Int = math.min(4, cores)

  def build(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$work/checkpoints")
    s
  }

  /** What a reader needs to reproduce the numbers. */
  def settings(spark: SparkSession): Seq[(String, String)] = {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    Seq(
      "master" -> Json.str(spark.sparkContext.master),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "driver_max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jvm_flags" -> Json.arr(jvm.getInputArguments.toArray.map(a => Json.str(a.toString)).toSeq),
      "nproc" -> cores.toString,
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")))
  }
}
