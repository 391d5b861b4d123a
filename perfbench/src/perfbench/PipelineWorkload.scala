package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** pipeline_heavy: registered operator queries from the construction-heavy
  * families, each run through `SparkEntry.queries` and timed until its
  * result is counted.
  */
object PipelineWorkload {
  val Families: Seq[(String, Seq[String])] = Seq(
    "graph" -> Seq("q139_pagerank", "q179_label_propagation", "q186_sssp_weighted",
      "q141_bfs_distances", "q125_connected_components", "q185_kcore", "q146_triangle_count"),
    "pairs" -> Seq("q42_minhash_clusters", "q71_ngram_jaccard_pairs", "q86_dedup_against",
      "q59_knn_ivf", "q44b_embedding_dedup_exact"),
    "guard" -> Seq("q204_pair_affinity", "q215_negative_samples"),
    "text" -> Seq("q87_tfidf_terms"))
  val FamilyOf: Map[String, String] = Families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
}

final class PipelineWorkload(spark: SparkSession, dir: String, tracer: Tracer,
    order: Seq[String]) extends Workload {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  private var dumpSeconds = 0.0
  /** Row count of every op, by query, for the oracle comparison. */
  val counts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]

  /** One pass over the query list. */
  def repetition(index: Int, dumpTo: Option[String]): Double = {
    dumpSeconds = 0.0
    order.foreach(q => run(q, s"pass$index", dumpTo))
    dumpSeconds
  }

  /** One op: construct the query, plan it, count its rows. With `dumpTo`,
    * the result is also written out for the oracle check, after the op's
    * clock has stopped.
    */
  def run(name: String, session: String, dumpTo: Option[String]): Unit = {
    val idx = ops.size
    tracer.currentOp = idx
    var df: org.apache.spark.sql.DataFrame = null
    val t0 = System.nanoTime()
    val err = try {
      val n = tracer.span(s"op.${PipelineWorkload.FamilyOf(name)}") {
        df = tracer.span("pipeline.construct")(graft.SparkEntry.queries(name)(spark, dir))
        tracer.span("pipeline.plan")(df.queryExecution.executedPlan)
        tracer.span("pipeline.exec")(df.count())
      }
      counts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += n
      ""
    } catch { case e: Throwable => s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}" }
    ops += OpRec(idx, session, name, (System.nanoTime() - t0) / 1e9, err.isEmpty, err)
    tracer.currentOp = -1
    if (err.isEmpty) dumpTo.foreach { d =>
      val t1 = System.nanoTime()
      df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
      dumpSeconds += (System.nanoTime() - t1) / 1e9
    }
  }
}
