package graft.perfbench

/** Benchmark program: runs one workload and writes `result.json` (and, for
  * traced runs, `spans.jsonl`) into `--out`. run.py builds and launches it
  * and prints the result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    new java.io.File(o.out).mkdirs()
    val work = new java.io.File(o.out, "work").getAbsolutePath
    val out = new Outcome(o.workload)
    val tracer = new Tracer(o.trace)
    val rt = new RuntimeListener
    val calibrateS = Jvm.calibrate(Session.cpus)
    out.context("calibrate_before_s") = calibrateS
    val spark = Session.start()
    // JVM launch to a ready session, as seen from the launcher
    val sessionS = (System.currentTimeMillis() - o.launchedMs) / 1000.0 - calibrateS
    out.context("session_s") = sessionS
    out.context("cores") = Session.cpus
    out.context("max_heap_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    try {
      o.workload match {
        case "pipeline_batch" => PipelineBatch.run(spark, o, out, tracer, rt, work, sessionS)
        case "query_sweep" =>
          QuerySweep.run(spark, o, out, tracer, rt, work, sessionS)
          write(s"${o.out}/oracle_sql.json", Json.render(graft.SparkEntry.oracleSql))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Exception =>
        e.printStackTrace()
        out.check("workload.completed", ok = false, e.toString)
    }
    out.context("calibrate_after_s") = Jvm.calibrate(Session.cpus)
    if (o.trace) {
      tracer.write(s"${o.out}/spans.jsonl")
      out.context("spans") = tracer.all.length
    }
    write(s"${o.out}/result.json", out.toJson(o.trace))
    spark.stop()
  }

  private def write(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), s.getBytes("UTF-8"))
}
