package graft.perfbench

import scala.collection.mutable

/** Everything one run reports: checks, operation counts, the end-to-end
  * metrics (untraced runs) or the per-layer metrics (traced runs), the
  * workload-specific view of the end-to-end metrics, and context. */
final class Outcome(val workload: String) {
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  var attempted = 0
  var failed = 0
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val report = mutable.LinkedHashMap[String, (Double, String)]()
  val context = mutable.LinkedHashMap[String, Any]()

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED $name $detail")
    }
  }

  def layer(name: String, value: Double, unit: String): Unit = {
    require(Layers.units.get(name).contains(unit), s"undeclared layer metric $name [$unit]")
    layers(name) = (value, unit)
  }

  def correct: Boolean = checks.forall(_._2) && failed == 0

  def toJson(traced: Boolean): String = {
    def metricMap(m: collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    // every declared layer metric is present (layers a workload does not
    // exercise read 0)
    val layerOut = mutable.LinkedHashMap[String, (Double, String)]()
    Layers.all.foreach { case (n, u) => layerOut(n) = layers.getOrElse(n, (0.0, u)) }
    Json.render(mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "correct" -> correct,
      "attempted" -> math.max(attempted, 1),
      "failed" -> math.min(failed, math.max(attempted, 1)),
      "metrics" -> metricMap(if (traced) layerOut else endToEnd),
      "report" -> metricMap(report),
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "context" -> context))
  }
}

/** Per-layer metric names and units. */
object Layers {
  val kernels: Seq[(String, String)] = Seq(
    "core.extract_us_per_doc" -> "us", "core.doc_features_us_per_doc" -> "us",
    "core.minhash_us_per_doc" -> "us", "core.simhash_us_per_doc" -> "us",
    "core.winnow_us_per_doc" -> "us", "core.jaccard_us_per_pair" -> "us",
    "core.req_update_ns" -> "ns", "core.req_merge_us" -> "us", "core.req_serde_us" -> "us",
    "core.hll_update_ns" -> "ns", "core.theta_update_ns" -> "ns")

  val lanes: Seq[(String, String)] = Seq(
    "op.minhash.candidates" -> "count", "op.minhash.verified" -> "count",
    "op.minhash.yield" -> "ratio", "op.minhash.cand_s" -> "s", "op.minhash.verify_s" -> "s",
    "op.exact.s" -> "s", "op.simhash.s" -> "s", "op.simhash.pairs" -> "count",
    "op.substring.candidates" -> "count", "op.substring.verified" -> "count",
    "op.substring.s" -> "s", "op.cc.s" -> "s", "op.cc.edges" -> "count",
    "op.cc.components" -> "count")

  val stages: Seq[String] = Seq("extracted", "edges_exact", "edges_minhash", "edges_simhash",
    "edges_substring", "clusters", "cluster_stats")

  val pipeline: Seq[(String, String)] =
    stages.map(s => s"pipe.stage.$s.s" -> "s") ++ Seq(
      "pipe.lane_overlap" -> "ratio", "pipe.serial_tail_s" -> "s", "pipe.commit_s" -> "s")

  val namedQueries: Seq[String] = Seq("q_incremental_clusters", "q_index_retire",
    "q_training_prep", "q_simhash_incremental", "q_cluster_stability", "q_semantic_dedup",
    "q_similar_topk", "q_ngram_jaccard", "q_pages_pipeline")

  val entry: Seq[(String, String)] = Seq(
    "sweep.build_s" -> "s", "sweep.plan_s" -> "s", "sweep.exec_s" -> "s",
    "sweep.jobs_total" -> "count", "sweep.jobs_per_query_p50" -> "count") ++
    namedQueries.flatMap(q => Seq(s"query.$q.s" -> "s", s"query.$q.jobs" -> "count"))

  val runtime: Seq[(String, String)] = Seq(
    "rt.jobs" -> "count", "rt.tasks" -> "count", "rt.executor_cpu_s" -> "s",
    "rt.cpu_util" -> "ratio", "rt.gc_s" -> "s", "rt.shuffle_write_mb" -> "MB",
    "rt.shuffle_read_mb" -> "MB", "rt.spill_mb" -> "MB", "rt.task_p50_ms" -> "ms",
    "rt.task_p99_ms" -> "ms") ++
    stages.flatMap(s => Seq(s"rt.stage.$s.jobs" -> "count", s"rt.stage.$s.executor_cpu_s" -> "s"))

  val tracing: Seq[(String, String)] = Seq("trace.overhead_share" -> "ratio")

  /** The per-layer metrics every traced run emits (BENCHMARK.json). */
  val all: Seq[(String, String)] = kernels ++ lanes ++ pipeline ++ entry ++ runtime ++ tracing
  val units: Map[String, String] = all.toMap
}
