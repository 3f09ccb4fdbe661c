package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The adaptive-branch record: which size- and recall-driven branches the
  * engine took on the generated inputs. A seed whose record differs from
  * the reference seed's does different work, so its times are not
  * comparable as a change of speed. The only place the benchmark reads
  * engine internals (package-private), and only after the ops have run. */
object Branches {
  import graft.functions.{KnnDescent, Similarity}

  /** Branch values for `workload` over the dataset at `dir`. Reads the kNN
    * build's memo, so call it while the graph of the last kNN op is still
    * cached. */
  def record(s: SparkSession, workload: String, dir: String): Map[String, Any] =
    workload match {
      case "graph_iter" =>
        val emb = graft.Tables.embeddings(s, dir)
        val n = emb.count()
        Map(
          "ivf_k" -> Similarity.ivfK(n),
          "lsh_n_planes" -> Similarity.lshNPlanes(n),
          "knn_auto_radius" -> KnnDescent.autoRadius(s, emb, dir),
          "knn_recall_legs" -> KnnDescent.measuredRecallMicro(s, emb, dir)
            .map { case (leg, micro) => Map("leg" -> leg, "recall_micro" -> micro) })
      case _ => Map.empty
    }
}
