package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import Layers.median

/** One timed operation: a build call that returns the result DataFrame
  * (iterative kernels do their work here, through eager checkpoints) and
  * the module that owns it. The harness then forces the result with a
  * `noop` sink. */
final case class Op(name: String, module: String, build: () => DataFrame)

/** A workload: its op mix, whether engine caches are released before
  * every op (cold state) or kept across passes (warm state), and how many
  * untimed passes set it up. JIT and codegen keep speeding passes up for
  * dozens of passes, so the warm-up is a fixed pass count: every run then
  * times the same pass positions. */
final case class Workload(ops: Seq[Op], releaseBeforeOp: Boolean, warmupPasses: Int)

/** The benchmark's JVM side. One SparkSession at local[cores]; a closed
  * loop with one client runs the workload's ops back to back, pass after
  * pass, for the requested seconds. Writes one JSON result file; run.py
  * turns it into the benchmark's output line.
  *
  * Usage: Harness <workload> <dataDir> <workDir> <seconds> <trace 0|1>
  */
object Harness {
  private def q(name: String)(s: SparkSession, d: String): () => DataFrame =
    () => graft.SparkEntry.queries(name)(s, d)

  def workload(name: String, s: SparkSession, d: String): Workload = name match {
    // The paper's own job, as test-mr.sh runs it: the façade over whole-text
    // files with the reference apps, and the DataFrame twins over the same
    // text. Shuffle, sort and task CPU dominate; no engine caches.
    case "mr_text" =>
      val glob = s"$d/text/*.txt"
      def text = s.read.option("wholetext", value = true).text(glob)
        .select(input_file_name().as("file"), col("value").as("contents"))
      Workload(Seq(
        Op("mr_wordcount", "core", () =>
          graft.core.MapReduceJob.run(s, glob, graft.apps.RefApps.WordCount).toDF()),
        Op("mr_indexer", "core", () =>
          graft.core.MapReduceJob.run(s, glob, graft.apps.RefApps.Indexer).toDF()),
        Op("df_wordcount", "apps", () => graft.apps.RefApps.wordCountDF(text, "contents")),
        Op("df_inverted_index", "apps", () =>
          graft.apps.RefApps.invertedIndexDF(text, "contents", "file"))),
        releaseBeforeOp = false, warmupPasses = 3)
    // Fixed cost per job: small data, caches released before every op, so
    // build calls, eager checkpoints, planning and job count dominate.
    // q231 stays last: the branch record reads its graph memo.
    case "graph_iter" =>
      Workload(Seq(
        Op("q152_pagerank", "operators", q("q152_pagerank")(s, d)),
        Op("q157_triangle_doulion", "operators", q("q157_triangle_doulion")(s, d)),
        Op("q175_label_propagation", "operators", q("q175_label_propagation")(s, d)),
        Op("q231_knn_descent", "functions", q("q231_knn_descent")(s, d))),
        releaseBeforeOp = true, warmupPasses = 1)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Every module's memo release plus a sweep of the remaining persisted
    * RDDs (localCheckpoint blocks of finished kernels). */
  def releaseAll(s: SparkSession): Unit = {
    graft.functions.Dedup.releaseCaches(s)
    graft.functions.Similarity.releaseCaches(s)
    graft.functions.KnnDescent.releaseCaches(s)
    graft.functions.TextQueries.releaseCaches(s)
    graft.functions.Embeddings.releaseCaches(s)
    graft.operators.Multimodal.releaseCaches(s)
    graft.operators.SignatureStore.releaseCaches(s)
    graft.operators.PipelineOps.releaseCaches(s)
    graft.operators.CurationPipeline.releaseCaches(s)
    graft.operators.CurationAudits.releaseCaches(s)
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ >= 0).sum

  private def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap the run still holds after the timed passes: heap used after a
    * full collection (G1 runs one for `System.gc()`), so it counts what the
    * engine and Spark keep, not how far the fixed-size heap was touched.
    * Spark's ContextCleaner frees shuffle and broadcast state only once the
    * first collection has queued their references, so the reading comes
    * from a second collection after the cleaner has had time to run. */
  private def liveHeapMb: Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val Array(wlName, dataDir, workDir, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val wl = workload(wlName, spark, dataDir)
    val spans = new SpanLog
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0
    val opSamples = mutable.HashMap.empty[Int, Map[String, Double]]

    def phase(parent: Int, kind: String, op: Op)(body: => Unit): Span = {
      val o = spans.open()
      sc.setJobGroup(s"perfbench|${o.id}", s"${op.name} $kind", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      spans.close(o, parent, kind, op.name, op.module)
    }

    /** One pass over the op mix. `sink` forces each result. Returns the
      * pass span and its op spans. */
    def runPass(label: String, sink: (Op, DataFrame) => Unit): (Span, Seq[Span]) = {
      val passOpen = spans.open()
      val opSpans = wl.ops.map { op =>
        val opOpen = spans.open()
        val opId = opOpen.id
        val gc0 = gcMs
        attempted += 1
        try {
          if (wl.releaseBeforeOp) phase(opId, "release", op)(releaseAll(spark))
          var df: DataFrame = null
          phase(opId, "build", op) { df = op.build() }
          phase(opId, "exec", op) { sink(op, df) }
        } catch {
          case e: Throwable =>
            failures += Map("op" -> op.name, "pass" -> label,
              "error" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
            System.err.println(s"[perfbench] $label ${op.name} FAILED: ${e.getMessage}")
        }
        val span = spans.close(opOpen, passOpen.id, "op", op.name, op.module)
        if (trace) {
          val info = sc.getRDDStorageInfo
          opSamples(opId) = Map("gc_ms" -> (gcMs - gc0).toDouble,
            "cached_mb" -> info.map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0),
            "rdds" -> sc.getPersistentRDDs.size.toDouble)
        }
        span
      }
      (spans.close(passOpen, 0, "pass", label, ""), opSpans)
    }

    def noop(op: Op, df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // ---- set-up: the first warm-up pass doubles as the correctness pass ----
    val gateDir = s"$workDir/gate"
    val collected = mutable.HashMap.empty[String, Array[org.apache.spark.sql.Row]]
    runPass("warmup0", (op, df) =>
      if (wlName == "mr_text") collected(op.name) = df.collect()
      else df.coalesce(1).write.mode("overwrite").parquet(s"$gateDir/${op.name}"))
    (1 until wl.warmupPasses).foreach(i => runPass(s"warmup$i", noop))
    val readyEpochMs = System.currentTimeMillis()
    val branches =
      try graft.perfbench.Branches.record(spark, wlName, dataDir)
      catch { case e: Throwable => Map("error" -> String.valueOf(e.getMessage)) }

    // ---- correctness, before the timed passes: façade and DataFrame twins
    // against the paper's sequential oracle (mr_text); the DuckDB replay of
    // graph_iter runs in run.py over the parquet written above ----
    val gate = mutable.ArrayBuffer.empty[Map[String, Any]]
    if (wlName == "mr_text") {
      val names = spark.read.option("wholetext", value = true).text(s"$dataDir/text/*.txt")
        .select(input_file_name()).collect().map(_.getString(0)).sorted
      val inputs = names.toSeq.map(n => n -> new String(
        Files.readAllBytes(Paths.get(new java.net.URI(n))), "UTF-8"))
      val wc = graft.core.SequentialOracle.run(graft.apps.RefApps.WordCount, inputs)
        .map(kv => kv.key -> kv.value).toMap
      val ix = graft.core.SequentialOracle.run(graft.apps.RefApps.Indexer, inputs)
        .map(kv => kv.key -> kv.value).toMap
      def check(op: String, expect: Map[String, String],
          row: org.apache.spark.sql.Row => (String, String)): Unit =
        collected.get(op).foreach { rows =>
          val got = rows.map(row).toMap
          val bad = (expect.keySet ++ got.keySet).count(k => expect.get(k) != got.get(k))
          gate += Map("op" -> op, "rows" -> got.size, "expected_rows" -> expect.size,
            "mismatches" -> bad, "ok" -> (bad == 0 && got.size == rows.length))
        }
      check("mr_wordcount", wc, r => r.getString(0) -> r.getString(1))
      check("mr_indexer", ix, r => r.getString(0) -> r.getString(1))
      check("df_wordcount", wc, r => r.getString(0) -> r.getLong(1).toString)
      check("df_inverted_index", ix, r => r.getString(0) -> s"${r.getLong(1)} ${r.getString(2)}")
    } else {
      val oracles = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(s"$gateDir/oracle_sql.json"),
        Json.write(wl.ops.map(o => o.name -> oracles.getOrElse(o.name, "")).toMap))
    }
    collected.clear()

    System.err.println(s"[perfbench] $wlName set up; timing for $seconds s")

    // ---- timed passes; in trace mode the census listeners are attached
    // for the whole window, so a traced run times the same pass positions
    // as an untraced run and the difference of their pass_s is the tracing
    // overhead ----
    val census = new Census
    if (trace) {
      sc.addSparkListener(census)
      spark.listenerManager.register(census)
    }
    val window = mutable.ArrayBuffer.empty[(Span, Seq[Span], Long)]
    val windowFromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    while (window.size < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val cpu0 = processCpuNs
      val (p, ops) = runPass(s"pass${window.size}", noop)
      window += ((p, ops, processCpuNs - cpu0))
    }
    val timed = window.toSeq
    val windowToMs = System.currentTimeMillis()
    val liveHeap = liveHeapMb

    spark.stop() // drains the listener bus before the census is folded

    // ---- per-layer census and span tree (trace mode) ----
    val layer = mutable.LinkedHashMap.empty[String, Any]
    if (trace) {
      val all0 = spans.spans.toSeq
      val phases = all0.filter(s => Set("release", "build", "exec")(s.kind))
      val derived = Layers.jobSpans(census, phases.map(_.id).toSet,
        all0.map(_.id).max + 1)
      val all = all0 ++ derived
      val self = Layers.selfTimes(all)
      val byParent = all.groupBy(_.parent)
      val passMetrics = timed.map { case (p, ops, _) =>
        val perOp = ops.map { o =>
          o -> Layers.perOp(o, byParent.getOrElse(o.id, Nil), census, cores,
            opSamples.getOrElse(o.id, Map.empty))
        }
        (perOp, Layers.perPass(p, perOp.map(_._2), cores))
      }
      layer("workload") = Layers.medianOver(passMetrics.map(_._2)).to(ListMap)
      layer("per_op") = wl.ops.map { op =>
        op.name -> (Map("module" -> op.module) ++ Layers.Names.map { n =>
          n -> median(passMetrics.flatMap(_._1.filter(_._1.name == op.name).map(_._2(n))))
        })
      }.to(ListMap)
      layer("span_check") = Layers.jobCheck(census, phases.map(p => p.id -> p).toMap,
        windowFromMs, windowToMs)
      Files.writeString(Paths.get(s"$workDir/spans.json"), Json.write(all.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "module" -> s.module, "start_us" -> s.startUs, "end_us" -> s.endUs,
          "self_us" -> self(s.id)))))
    }

    val passS = timed.map(_._1.durUs / 1e6)
    val slowest = timed.map(_._2.map(_.durUs / 1e6).max)
    val result = Map(
      "workload" -> wlName,
      "cores" -> cores,
      "ready_epoch_ms" -> readyEpochMs,
      "warmup_passes" -> wl.warmupPasses,
      "passes" -> passS.size,
      "pass_s_samples" -> passS,
      "pass_s" -> median(passS),
      "slowest_op_s" -> median(slowest),
      "cpu_s_per_pass" -> timed.map(_._3 / 1e9).sum / timed.size,
      "live_heap_mb" -> liveHeap,
      "op_s" -> wl.ops.map(op => op.name -> median(timed.flatMap(_._2)
        .filter(_.name == op.name).map(_.durUs / 1e6))).to(ListMap),
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "jvm_gate" -> gate.toSeq,
      "gate_dir" -> gateDir,
      "ops" -> wl.ops.map(_.name),
      "branches" -> branches,
      "layers" -> layer)
    Files.writeString(Paths.get(s"$workDir/result.json"), Json.write(result))
  }
}
