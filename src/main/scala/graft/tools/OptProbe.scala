package graft.tools

import org.apache.spark.sql.SparkSession

/** Optimization probe (dev-side tooling, not library runtime): for each
  * named query at $SPARK_GRAFT_SF_DIR (default sf0.1) on
  * local[$SPARK_GRAFT_CPUS], time min-of-3 noop-sink runs exactly like
  * Bench (module caches released between queries, never between a
  * query's three runs) and/or dump `.explain("formatted")` to
  * plans/$GRAFT_PLAN_ROUND/<query>_<tag>.txt so plan claims in
  * OPTIMIZATION_r{N}.md are checkable without running Spark.
  *
  * `inner` mode (r19, the r18 verdict's evidence-gap fix): the
  * checkpoint-truncated kernels' headline plans collapse to a
  * LogicalRDD scan, hiding the per-round seams the optimization log
  * cites — this mode dumps the PRE-checkpoint inner plan of each
  * iterative kernel (one pagerank round, one label-prop round, one
  * NN-descent round, the q248 admission) to
  * plans/$GRAFT_PLAN_ROUND/<kernel>_inner_<tag>.txt.
  *
  * Usage: runMain graft.tools.OptProbe [time|plan|both|inner] q166,...
  * Env: GRAFT_PLAN_TAG=before|after (plan file suffix, default before),
  * GRAFT_PLAN_ROUND=r19 (plans/ subdir, default r19).
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "both"
    val names = if (args.length > 1) args(1).split(",").toSeq else Seq.empty
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val tag = sys.env.getOrElse("GRAFT_PLAN_TAG", "before")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val resolved = names.flatMap { sub =>
      val hit = graft.SparkEntry.queries.keys.toSeq.sorted.filter(_.contains(sub))
      if (hit.isEmpty) System.err.println(s"[opt] no query matches '$sub'")
      hit
    }.distinct

    def releaseAll(): Unit = {
      graft.PersistTracker.releaseAll(spark)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
    }

    // one warmup pass at sf0.001 so timings measure the plan, not JIT
    val warmDir = "/root/testdata/sf0.001"
    if (mode != "plan" && new java.io.File(warmDir).isDirectory) {
      resolved.foreach { n =>
        try graft.SparkEntry.queries(n)(spark, warmDir)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      releaseAll()
    }

    val planDir = new java.io.File(
      sys.env.getOrElse("GRAFT_REPO_ROOT", "."),
      "plans/" + sys.env.getOrElse("GRAFT_PLAN_ROUND", "r19"))
    planDir.mkdirs()

    def dumpPlan(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(
        new java.io.File(planDir, s"${name}_$tag.txt"))
      try w.println(txt) finally w.close()
      val exch = "Exchange".r.findAllIn(txt).size
      System.err.println(s"[opt] $name plan -> ${name}_$tag.txt " +
        s"(${txt.linesIterator.size} lines, $exch Exchange refs)")
    }

    // PRE-checkpoint inner plans of the iterative kernels (r19 — the r18
    // verdict's evidence gap: the headline dumps collapse to LogicalRDD
    // scans past each truncate, so the per-round seams the optimization
    // log cites were not verifiable from plans/ alone). Each block
    // mirrors the kernel's own setup (same caches, same layout, same
    // broadcast gate branch the fixture takes) and dumps the ONE-round
    // dataflow through the kernel's own seam function.
    if (mode == "inner") {
      import org.apache.spark.sql.functions._
      val s = spark
      // q152: one pagerank round over the dst-cached adjacency
      locally {
        val edges = graft.operators.GraphOps.tradeEdges(s, sfDir)
          .localCheckpoint()
        val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .select(col("src").as("node"), col("deg")).persist()
        val n = deg.count()
        val adj = edges
          .join(deg.select(col("node").as("src"), col("deg")), "src")
          .repartition(col("dst")).persist()
        adj.count()
        val base = (100L - graft.operators.GraphOps.Damp) *
          graft.operators.GraphOps.Mass / (100L * n)
        val pr0 = deg.select(col("node"),
          lit(graft.operators.GraphOps.Mass / n).as("pr"))
        dumpPlan("q152_pagerank_round_inner",
          graft.operators.GraphOps.pagerankRound(adj, pr0, small = true, base))
        adj.unpersist(); deg.unpersist(); ()
      }
      // q175: the new edge derivation + one LP round over the PERSISTED
      // dst-partitioned edges (the boundary the query adopted in r19 —
      // a checkpoint LogicalRDD loses the partitioning, the cache
      // doesn't)
      locally {
        dumpPlan("q175_edges_inner",
          graft.operators.GraphOps.lpEdges(s, sfDir))
        val edges = graft.operators.GraphOps.lpEdges(s, sfDir).persist()
        edges.count()
        val labels0 = edges.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("lbl"))
        dumpPlan("q175_lp_round_inner",
          graft.operators.GraphOps.lpRound(edges, labels0, small = true))
        edges.unpersist(); ()
      }
      // q157/q202: the shared incidence/co-purchase seams (no checkpoint
      // hides q157's edge derivation, but the headline q157 plan reads
      // it through the truncate — dump the derivations directly)
      dumpPlan("q157_copurchase_edges_inner",
        graft.operators.GraphOps.coPurchaseEdges(s, sfDir))
      locally {
        val op = graft.operators.GraphOps.orderParts(s, sfDir).persist()
        op.count()
        dumpPlan("q202_rules_inner",
          graft.operators.GraphOps.assocRulesPlan(s, sfDir, op))
        op.unpersist(); ()
      }
      // q231/q248: one NN-descent round (the full-build round seam; the
      // q248 admission's own seams are visible in its headline dump now
      // that only the per-round cuts truncate)
      locally {
        val emb = graft.Tables.embeddings(s, sfDir)
          .select(col("vec_id"), col("embedding"))
        val g0 = graft.functions.KnnDescent
          .stages(s, emb, sfDir + "#optprobe_inner").head
        dumpPlan("q231_descent_round_inner",
          graft.functions.KnnDescent.roundPlan(emb, g0))
        releaseAll()
      }
    }

    resolved.foreach { n =>
      if (mode == "plan" || mode == "both") {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(
          new java.io.File(planDir, s"${n}_$tag.txt"))
        try w.println(txt) finally w.close()
        val exch = "Exchange".r.findAllIn(txt).size
        System.err.println(s"[opt] $n plan -> ${n}_$tag.txt " +
          s"(${txt.linesIterator.size} lines, $exch Exchange refs)")
        releaseAll()
      }
      if (mode == "time" || mode == "both") {
        spark.sparkContext.setJobDescription(s"opt: $n")
        val rs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          try graft.SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            System.err.println(s"[opt] $n FAILED: ${e.getMessage}")
          }
          (System.nanoTime() - t0) / 1e9
        }
        spark.sparkContext.setJobDescription(null)
        releaseAll()
        println(f"[opt] $n runs=${rs.map(r => f"$r%.2f").mkString("[", ",", "]")} min=${rs.min}%.2f")
      }
    }
    spark.stop()
  }
}
