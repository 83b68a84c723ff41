package graft

/** Plan-inspection helper: prints the formatted physical plan for the
  * named queries (or a default headline set) so scan pruning, pushed
  * filters, join strategies, and codegen spans can be reviewed.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("a1_pricing_summary", "j2_broadcast_join", "j7_multiway_join", "p2_filter_combo",
        "l3_cosine_topk", "w5_topk_per_group", "t4_late_data", "l4i_decontaminate", "l4j_seq_packing")
    val spark = GraftSession.builder(4, graft.ingest.Scratch.warehouse.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
