package graft.tools

/** Dev utility: dump formatted physical plans for the headline queries so
  * pushdown/broadcast/codegen can be audited (the "is this the plan you'd
  * want" loop). */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = "/root/testdata/sf0.01"
    val names = if (args.nonEmpty) args.toSeq
      else Seq("j1_assembly_join", "p4_status_filter", "sim2_ivf_ann",
        "a10_stats_agg", "s10_retain_gc")
    val spark = graft.GraftSession.build(8)
    val qs = graft.SparkEntry.queries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      qs(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
