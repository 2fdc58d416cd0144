package graft.perfbench

import java.nio.file.Paths

import graft.Tables

/** Tooling for the pinned outputs ([[Expected]]):
  *
  *   gen DIR        write the fixed-seed star-schema and corpus tables
  *                  into DIR, for `graft.Verify` and tools/check.py;
  *   digest OUT     print expected.tsv lines for the benchmark's ops from
  *                  the per-query parquet a `graft.Verify DIR OUT` run
  *                  wrote.
  */
object Pin {
  /** Benchmark op name -> the engine's query name in `SparkEntry`. */
  val QueryNames: Seq[(String, String)] = {
    val dats = Seq("q1_second_level", "q2_dataset_variables", "q3_study_group_members",
      "q4_subject_samples", "q5_subject_characteristics", "q6_sample_characteristics",
      "q7_tabular_dump")
    dats.zipWithIndex.flatMap { case (q, i) =>
      Seq(s"q${i + 1}_direct" -> q, s"q${i + 1}_mat" -> s"${q}_mat")
    } ++ Seq("sim_knn_graph_refined", "sim_cluster_exemplars", "dedup_clusters_star",
      "dedup_minhash_lsh", "dedup_ngram_jaccard", "text_cross_source_overlap",
      "sim_ivf_topk").map(n => n -> n)
  }

  def main(args: Array[String]): Unit = {
    val spark = Tables.session("perfbench-pin")
    spark.sparkContext.setLogLevel("ERROR")
    try args.toSeq match {
      case Seq("gen", dir) =>
        Inputs.writeDats(spark, Paths.get(dir))
        Inputs.writeCorpus(spark, Paths.get(dir))
      case Seq("digest", out) =>
        QueryNames.foreach { case (op, q) =>
          val (rows, hash) = Stats.digest(spark.read.parquet(s"$out/$q"))
          println(s"$op\t$rows\t$hash")
        }
      case _ => sys.error("usage: Pin gen DIR | Pin digest VERIFY_OUT")
    } finally spark.stop()
  }
}
