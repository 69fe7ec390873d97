package graft.tools

import graft.Harness

/** Dump `.explain("formatted")` for a set of queries to files — the
  * optimization round's plan evidence (plans/r14/<q>_<tag>.txt). AQE
  * stays ON (the execution-time default) but the dump records the
  * static plan; exchange counts and join strategies read the same
  * either way at this stage. The session is `local[8]` whatever the
  * host, so dumps from two hosts compare.
  *
  *   sbt -batch "runMain graft.tools.ExplainDump <outDir> <tag> q1,q2,..."
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <outDir> <tag> <q1,q2,...>")
    val outDir = java.nio.file.Paths.get(args(0))
    val tag = args(1)
    val names = Harness.select(args(2))
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session(8)
    spark.conf.set("spark.sql.debug.maxToStringFields", "250")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    Harness.runAll(spark, sfDir, "explain", names) { (n, df) =>
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(outDir.resolve(s"${n}_$tag.txt"), txt)
      println(s"[explain] wrote ${n}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
