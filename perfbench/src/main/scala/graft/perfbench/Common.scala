package graft.perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Command-line options passed by run.py. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      smoke: Boolean, out: String, launchedMs: Long) {
  /** Scale a size knob down in smoke mode. */
  def size(full: Int, smokeSize: Int): Int = if (smoke) smokeSize else full
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      kv.get("trace").contains("1"), kv.get("smoke").contains("1"),
      need("out"), need("launched-ms").toLong)
  }
}

/** Order-insensitive content digest of a frame: row count plus the XOR of
  * per-row hashes of `cols`. */
object Digest {
  def of(df: org.apache.spark.sql.DataFrame, cols: String*): String = {
    import org.apache.spark.sql.functions.{count, expr, lit}
    val r = df.agg(count(lit(1)), expr(s"bit_xor(xxhash64(${cols.mkString(", ")}))")).first()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (p in 0..100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.length - 1) * p / 100.0
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Mean of the slowest tenth of `xs` (at least two values): a tail that
    * does not jump between neighbouring order statistics. */
  def tailMean(xs: Seq[Double]): Double = {
    val k = math.min(xs.length, math.max(2, math.ceil(xs.length / 10.0).toInt))
    xs.sorted.takeRight(k).sum / k
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }
}

/** JVM-level probes: old-generation occupancy after a full collection
  * (the live heap) and total collector wall time. */
object Jvm {
  private def oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Live heap in MB: old-gen usage right after an explicit full GC (the
    * parallel collector compacts every survivor into the old generation).
    * The first collection lets Spark's ContextCleaner drop blocks of frames
    * that are already unreachable; the second measures what is left. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldGen.map(_.getCollectionUsage.getUsed).getOrElse(
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** Host-capacity probe (the logic of `graft.Bench.calibrate`): wall time
    * of a fixed register-only mixing loop on `threads` threads, best of 2.
    * It moves 1:1 with how much CPU the host grants during the window and
    * is recorded beside the metrics as context, never as a metric. */
  def calibrate(threads: Int, perThread: Long = 50000000L): Double = {
    def once(): Double = {
      val ts = (0 until threads).map { t =>
        new Thread(() => {
          var acc = t.toLong; var i = 0L
          while (i < perThread) { acc = graft.core.SplitMix64.mix(acc); i += 1 }
          if (acc == 42L) System.err.print("")
        })
      }
      val t0 = System.nanoTime()
      ts.foreach(_.start()); ts.foreach(_.join())
      Stats.secondsSince(t0)
    }
    math.min(once(), once())
  }
}

object Session {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The session conf of `graft.Bench.session` at local[nproc]. Scratch
    * space, the FAIR pool file and the warehouse stay inside the working
    * directory (run.py points GRAFT_LOCAL_DIR and java.io.tmpdir there). */
  def start(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.local.dir", graft.spark.Scratch.localDir)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", graft.spark.Scratch.fairPoolsXml)
      .config("spark.file.transferTo", "false")
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.memory.offHeap.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        new java.io.File(System.getProperty("java.io.tmpdir"), "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.spark.Scratch.warmBlockManager(s)
    s
  }
}

/** Minimal JSON rendering for the result file (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
