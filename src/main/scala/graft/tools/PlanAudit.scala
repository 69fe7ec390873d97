package graft.tools

import graft.{Harness, SparkEntry}
import org.apache.spark.sql.DataFrame

/** Plan-shape dossier generator (PLANS.md): for every registered
  * query, extract the physical-plan facts that matter at 100 TB —
  * exchange count, broadcast-join usage, whole-stage-codegen span
  * count, TakeOrdered presence, scan column widths (pruning) and
  * pushed filters. AQE is disabled for the audit so the static plan
  * carries its WholeStageCodegen span markers (*(n)) — the committed
  * shape; AQE can only improve it at runtime. Output is WRITTEN
  * DIRECTLY to the dossier file (arg 0, default PLANS.md) — r14
  * hygiene: the old stdout-pipe regeneration let sbt-prefixed stderr
  * WARN lines leak into the committed markdown once; writing the
  * file from inside the JVM makes that impossible by construction.
  * Regenerate with:
  *   sbt -batch "runMain graft.tools.PlanAudit"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outFile = args.headOption.getOrElse("PLANS.md")
    val spark = Harness.session(8)
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    val names = SparkEntry.queries.keys.toSeq.sorted
    val rows = Harness.runAll(spark, sfDir, "planaudit", names)(row).map {
      case (n, r) => r.result.fold(e => s"| $n | plan error: $e |", identity)
    }
    val header =
      """# Physical-plan dossier (sf0.01, AQE disabled for the audit)
        |
        |Generated by `tools/PlanAudit` for every registered query. Columns:
        |shuffle Exchange count, broadcast-exchange count, WholeStageCodegen
        |span count, TakeOrdered used, per-scan ReadSchema column widths, any
        |PushedFilters present. AQE is off so codegen spans are visible in the
        |static plan; at run time AQE only re-plans in the engine's favor
        |(skew splits, bcast promotion). Iterative operators (q_pagerank) plan
        |per-round frames eagerly, so their one-shot plan shows the final
        |assembly only, and graph operators whose edges pass the broadcast
        |byte gate (q_pagerank, q_sssp, q_kcore) solve on the driver at
        |construction time, so their plan is a LocalTableScan plus the output
        |projection; bounded-collect operators (q_markov_attrib, q_cox_ph)
        |run their grid aggregation at construction time, so the audited plan
        |is the final scalar assembly -- the distributed work is in the
        |collect. q_archive_e2e and q_wet_export write their output at
        |construction time (a bounded foreachPartition), so their audited plan
        |is the read half: for q_archive_e2e the read+route, which is the
        |claim (map-only after the file scan), for q_wet_export the
        |conversion read.
        |
        || query | exch | bcast | wscg | takeOrdered | scan widths | pushed |
        ||---|---|---|---|---|---|---|
        |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      header + rows.mkString("", "\n", "\n"))
    println(s"[planaudit] wrote $outFile (${names.size} queries)")
    spark.stop()
  }

  /** Static plans (AQE off) printed in full: no truncated field lists
    * or ReadSchema strings. */
  val conf = Seq("spark.sql.adaptive.enabled" -> "false",
    "spark.sql.debug.maxToStringFields" -> "250",
    "spark.sql.maxMetadataStringLength" -> "2000")

  /** One dossier row from the query's physical plan: `| query | exch |
    * bcast | wscg | takeOrdered | scan widths | pushed |`. */
  def row(name: String, df: DataFrame): String = {
    val p = df.queryExecution.executedPlan.toString
    val exch = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    val bcast = "BroadcastExchange".r.findAllIn(p).size
    val wscg = "\\*\\(([0-9]+)\\)".r.findAllMatchIn(p)
      .map(_.group(1)).toSet.size
    val tops = if (p.contains("TakeOrderedAndProject")) "yes" else "-"
    val widths = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p)
      .map(m => if (m.group(1).isEmpty) 0
        else m.group(1).split(",").length)
      .toSeq
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1).trim)
      .count(_.nonEmpty)
    val w = if (widths.isEmpty) "-"
      else widths.groupBy(identity).toSeq.sortBy(_._1)
        .map { case (k, vs) => if (vs.size == 1) s"$k" else s"${k}x${vs.size}" }
        .mkString(",")
    s"| $name | $exch | $bcast | $wscg | $tops | $w | " +
      s"${if (pushed > 0) s"$pushed scans" else "-"} |"
  }
}
