package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** `query_sweep`: passes of `count()` over every `SparkEntry.queries` entry
  * on small generated tables, where planning, job scheduling and the eager
  * materialization jobs dominate. */
object QuerySweep {
  private val docsPipeline = "q_pages_pipeline"

  /** Set-up warm-up: a few queries across the layers, so JVM class loading
    * and first-use costs do not land on the first timed queries. A full
    * warm pass would cost as much as the timed pass: per-query fixed costs
    * dominate at this size. */
  private val warmUp = Seq("q1_agg", "q2_join_agg", "q_exact_dedup", "q_minhash_neardup",
    "q_incremental_neardup", "q_req_quantiles", "q_hll_distinct", "q_theta_distinct")

  private def digest(df: DataFrame): String =
    Digest.of(df.select(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)).as("j")), "j")

  def run(spark: SparkSession, o: Opts, out: Outcome, tracer: Tracer,
          rt: RuntimeListener, work: String, sessionS: Double): Unit = {
    val sc = spark.sparkContext
    val sf = if (o.smoke) 0.001 else 0.01
    val dir = s"$work/sweep_data"
    val names = SparkEntry.queries.keys.toSeq.sorted
    val queries = SparkEntry.queries

    def fresh(q: String): Unit = if (q == docsPipeline) SparkEntry.resetEntryPipelineWork()

    // ---- set-up: tables (median of three builds) and the warm-up queries
    val builds = (1 to 3).map(_ => Stats.timed(SweepData.write(spark, dir, o.seed, sf))._2)
    val (_, warmS) = Stats.timed(warmUp.foreach(q => queries(q)(spark, dir).count()))
    val setupS = sessionS + Stats.median(builds) + warmS
    out.context("setup_builds_s") = builds

    val walls = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
    val rows = mutable.LinkedHashMap[String, Long]()
    val heap = ArrayBuffer[Double]()

    /** One query's row count and wall. Traced, the query is split into
      * build, plan and execute spans, and `split` gets those times and the
      * number of jobs the query ran. */
    def query(q: String, traced: Boolean,
              split: mutable.Map[String, (Double, Double, Double, Int)]): (Long, Double) = {
      fresh(q)
      tracer.traceId += 1
      if (!traced) Stats.timed(queries(q)(spark, dir).count())
      else tracer.span(s"query.$q") {
        GraftBridge.drainListenerBus(sc)
        val jobs0 = rt.jobsStarted.get()
        val (df, buildS) = Stats.timed(tracer.span("entry.build")(queries(q)(spark, dir)))
        val (_, planS) = Stats.timed(tracer.span("spark.plan")(df.queryExecution.executedPlan))
        val (n, execS) = Stats.timed(tracer.span("spark.exec")(df.count()))
        GraftBridge.drainListenerBus(sc)
        split(q) = (buildS, planS, execS, rt.jobsStarted.get() - jobs0)
        (n, buildS + planS + execS)
      }
    }

    /** One timed pass over every query, returning the sum of its walls. */
    def pass(traced: Boolean, split: mutable.Map[String, (Double, Double, Double, Int)]): Double = {
      var sum = 0.0
      names.foreach { q =>
        out.attempted += 1
        try {
          val (n, wall) = query(q, traced, split)
          sum += wall
          walls.getOrElseUpdate(q, ArrayBuffer()) += wall
          val first = rows.getOrElseUpdate(q, n)
          if (first != n) out.check(s"sweep.$q.count_repeat", ok = false, s"$n vs $first")
        } catch {
          case e: Exception => out.check(s"sweep.$q.runs", ok = false, e.toString)
        }
      }
      sum
    }

    val passWalls = ArrayBuffer[Double]()
    if (!o.trace) {
      val t0 = System.nanoTime()
      while (passWalls.isEmpty || Stats.secondsSince(t0) < o.seconds) {
        passWalls += pass(traced = false, mutable.Map())
        heap += Jvm.liveHeapMb()
      }
    } else {
      rt.reset()
      sc.addSparkListener(rt)
      val gc0 = Jvm.gcSeconds
      val split = mutable.LinkedHashMap[String, (Double, Double, Double, Int)]()
      val t0 = System.nanoTime()
      passWalls += pass(traced = true, split)
      val wall = Stats.secondsSince(t0)
      GraftBridge.drainListenerBus(sc)
      sc.removeSparkListener(rt)
      RuntimeListener.metrics(rt.group(""), wall, Jvm.gcSeconds - gc0, 1)
        .foreach { case (n, v, u) => out.layer(n, v, u) }
      out.layer("sweep.build_s", split.values.map(_._1).sum, "s")
      out.layer("sweep.plan_s", split.values.map(_._2).sum, "s")
      out.layer("sweep.exec_s", split.values.map(_._3).sum, "s")
      out.layer("sweep.jobs_total", split.values.map(_._4).sum.toDouble, "count")
      out.layer("sweep.jobs_per_query_p50", Stats.median(split.values.map(_._4.toDouble).toSeq), "count")
      Layers.namedQueries.foreach { q =>
        split.get(q).foreach { case (b, p, e, j) =>
          out.layer(s"query.$q.s", b + p + e, "s")
          out.layer(s"query.$q.jobs", j.toDouble, "count")
        }
      }
      // Tracing overhead: a second untraced pass would cost as much as the
      // whole run budget, so the (by now warm) set-up queries are timed
      // untraced and traced in turn, three rounds, alternating which goes
      // first. Traced queries run with the listener attached, as in the pass.
      val (plain, withTrace) = (ArrayBuffer[Double](), ArrayBuffer[Double]())
      (0 until 3).foreach { round =>
        val order = if (round % 2 == 0) Seq(false, true) else Seq(true, false)
        order.foreach { traced =>
          if (traced) sc.addSparkListener(rt)
          val sum = warmUp.map(q => query(q, traced, mutable.Map())._2).sum
          GraftBridge.drainListenerBus(sc)
          if (traced) sc.removeSparkListener(rt)
          (if (traced) withTrace else plain) += sum
        }
      }
      out.layer("trace.overhead_share", Stats.median(withTrace.toSeq) / Stats.median(plain.toSeq) - 1, "ratio")
      out.report("trace.untraced_warm_queries_s") = (Stats.median(plain.toSeq), "s")
      out.report("trace.traced_warm_queries_s") = (Stats.median(withTrace.toSeq), "s")

      val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
        .orderBy("doc_id").limit(500).collect().map(r => (r.getLong(0), r.getString(1)))
      val texts = docs.map(_._2).toIndexedSeq
      val urls = docs.map { case (id, _) => s"https://docs.example/d/$id" }.toIndexedSeq
      Kernels.measure(out, tracer,
        urls.zip(texts).map { case (u, t) => graft.core.HtmlText.wrap(u, s"Doc $u", t) },
        texts, texts.zip(texts.drop(1)), urls, docs.map(_._1).toIndexedSeq)
    }

    // content digests (outside every timed region) in smoke mode: run.py
    // compares them with the golden file for the smoke seed and size
    if (o.smoke) out.context("query_digests") = names.map { q =>
      fresh(q)
      q -> (try digest(queries(q)(spark, dir)) catch { case e: Exception => s"error: $e" })
    }.toMap
    out.context("query_rows") = rows
    out.context("pass_totals_s") = passWalls.toSeq
    out.context("query_walls_s") = walls.map { case (q, w) => q -> w.toSeq }
    out.context("sf") = sf

    val perQuery = walls.values.map(w => Stats.median(w.toSeq)).toSeq
    if (perQuery.nonEmpty) {
      val total = Stats.median(passWalls.toSeq)
      val p50 = Stats.median(perQuery)
      val p90 = Stats.percentile(perQuery, 90)
      out.report("sweep.total_s") = (total, "s")
      out.report("sweep.query_p50_s") = (p50, "s")
      out.report(s"sweep.query_p90_s (of ${perQuery.length})") = (p90, "s")
      out.report("sweep.query_tail_s (slowest tenth)") = (Stats.tailMean(perQuery), "s")
      if (!o.trace) {
        out.endToEnd("setup_s") = (setupS, "s")
        out.endToEnd("op_p50_s") = (p50, "s")
        out.endToEnd("op_tail_s") = (Stats.tailMean(perQuery), "s")
        out.endToEnd("throughput_per_s") = (names.length / total, "1/s")
        out.endToEnd("live_heap_mb") = (heap.max, "MB")
      }
    }
  }
}
