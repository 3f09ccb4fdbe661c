package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Production-calibration pipeline profile (round-14 judge task #6):
  * the non-degeneracy SMOKE (CurationPipelineSpec) proves no gate
  * collapses at [[graft.Thresholds.Production]] on a crafted corpus;
  * this main gives the production constants a MEASURED baseline — the
  * q221 pipeline plan (the real [[graft.operators.CurationPipeline
  * .buildProvenanceOf]], not a re-implementation) run over a fixture
  * corpus at BOTH calibrations, with per-gate drop counts and keep
  * rates printed as one JSON line. Dev-side tooling — NOT part of the
  * library runtime; queries and oracles never read the Production
  * object (the fixture values stay the paired calibration).
  */
object ProductionProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val corpus = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 5 =!= 0)
    val grams = graft.operators.CurationPipeline.benchGramSet(spark, sfDir)
    val labels = graft.functions.Dedup.nearDupLabels(spark, sfDir)
    val verdictOrder = Seq("url_dup", "repetition", "quality",
      "cluster_dup", "contaminated", "keep")

    def profile(topBi: Double, dup5: Double): (Long, Map[String, Long]) = {
      val prov = graft.operators.CurationPipeline.buildProvenanceOf(
        spark, corpus, grams, labels, topBi, dup5)
      val counts = prov.groupBy(col("verdict")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (counts.values.sum, counts)
    }

    val (nFix, fix) = profile(graft.Thresholds.RepTopBigramMax,
      graft.Thresholds.RepDup5gramMax)
    val (nProd, prod) = profile(
      graft.Thresholds.Production.RepTopBigramMax,
      graft.Thresholds.Production.RepDup5gramMax)
    require(nFix == nProd, s"population drifted between profiles: $nFix vs $nProd")

    def js(m: Map[String, Long]): String = verdictOrder
      .map(v => "\"" + v + "\":" + m.getOrElse(v, 0L))
      .mkString("{", ",", "}")
    def rate(m: Map[String, Long]): Double =
      math.round(m.getOrElse("keep", 0L).toDouble / nFix * 1e4) / 1e4
    println(
      s"""{"metric":"production_profile","sf":"$sfDir","n_corpus":$nFix,""" +
      s""""fixture":${js(fix)},"fixture_keep_rate":${rate(fix)},""" +
      s""""production":${js(prod)},"production_keep_rate":${rate(prod)},""" +
      s""""prod_top_bigram_max":${graft.Thresholds.Production.RepTopBigramMax},""" +
      s""""prod_dup_5gram_max":${graft.Thresholds.Production.RepDup5gramMax}}""")
    graft.PersistTracker.releaseAll(spark)
    spark.stop()
  }
}
