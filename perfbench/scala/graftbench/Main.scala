package graftbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** What one measured operation did. `items` counts the workload's unit
  * of throughput (a query, a scored row) produced in `itemNs`;
  * `failures` names every check that failed. */
final case class OpResult(items: Long, itemNs: Long, failures: Seq[String] = Nil,
                          layers: Map[String, Double] = Map.empty)

/** Time the current op spent on untimed work (output checks,
  * housekeeping), taken out of its latency by the harness. */
object Untimed {
  var ns = 0L
}

/** One benchmark workload, driven from outside through graft's public
  * functions. `warmup` is the pass set-up runs; `op` is one measured
  * operation. */
trait Workload {
  def opName: String
  /** Ops per round; measurement stops only at a round boundary, so every
    * entry of a mixed workload is sampled equally often. */
  def roundSize: Int = 1
  def warmup(spark: SparkSession, tr: Trace): Seq[String]
  def op(spark: SparkSession, tr: Trace, i: Int): OpResult
  /** Untimed warm-up passes between set-up and measurement, so that the
    * measured ops do not still carry the JIT's first compilations. */
  def settlePasses: Int = 0
  /** Untimed work after set-up, e.g. writing reference results. */
  def afterSetup(spark: SparkSession, work: String): Unit = ()
  def info: Map[String, Any] = Map.empty
}

/** Benchmark harness: one JVM, one `GraftSession.local(cores = nproc)`
  * session, one client.
  *
  * {{{
  * graftbench.Main --workload W --inputs DIR --work DIR --seed N --seconds S
  *                 --trace 0|1 --out FILE
  * }}}
  *
  * Set-up is the JVM's first Spark work: start the session and run one
  * warm-up pass, so it carries the JIT, codegen and catalog cost of a cold
  * start. After the workload's untimed settle passes, operations run back
  * to back until S seconds have passed and the current round is complete.
  * The result goes to FILE as one JSON object; spans go next to it when
  * tracing. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = try run(opt) catch {
      case e: Throwable =>
        System.err.println(s"graftbench: ${opt.getOrElse("workload", "?")} aborted: $e")
        e.printStackTrace()
        1
    }
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def run(opt: Map[String, String]): Int = {
    val name = opt("workload")
    val inputs = opt("inputs")
    val work = opt("work")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val w: Workload = name match {
      case "dashboard" => new Dashboard(inputs, seed)
      case "monthly_dag" => new MonthlyDag(inputs, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var failures = Vector.empty[String]
    var attempted = 0L

    // set-up: session start + one warm-up pass in a cold JVM
    val s0 = System.nanoTime()
    val spark = GraftSession.local(cores = cores)
    val bad = w.warmup(spark, new Trace(spark.sparkContext, on = false))
    val setupS = (System.nanoTime() - s0) / 1e9
    attempted += 1
    failures ++= bad.map(b => s"setup: $b")

    w.afterSetup(spark, work)
    (1 to w.settlePasses).foreach { k =>
      val bad = w.warmup(spark, new Trace(spark.sparkContext, on = false))
      attempted += 1
      failures ++= bad.map(b => s"settle[$k]: $b")
    }

    // measurement
    val tr = new Trace(spark.sparkContext, on = traced)
    val lat = Vector.newBuilder[Double]
    val perOp = Vector.newBuilder[Map[String, Double]]
    var items = 0L
    var itemNs = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i % w.roundSize != 0) {
      val gc0 = gcMs
      Untimed.ns = 0L
      val o0 = System.nanoTime()
      tr.beginOp(i)
      val r = try tr.span(w.opName)(w.op(spark, tr, i)) catch {
        case e: Exception =>
          OpResult(0L, 0L, failures = Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      tr.endOp()
      val wallNs = System.nanoTime() - o0 - Untimed.ns
      attempted += 1
      failures ++= r.failures.map(f => s"${w.opName}[$i]: $f")
      lat += wallNs / 1e6
      items += r.items
      itemNs += r.itemNs
      perOp += r.layers ++ Map("jvm.gc_s" -> (gcMs - gc0) / 1e3, "__wall_ms" -> wallNs / 1e6)
      i += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val latency = lat.result()

    val e2e = Map[String, Double](
      "setup_s" -> setupS,
      "op_p50_ms" -> quantile(latency, 0.5),
      "items_per_s" -> (if (itemNs > 0) items / (itemNs / 1e9) else 0.0),
      "peak_rss_mb" -> peakRssMb)

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else Layers.summarise(tr, perOp.result(), cores)

    val outFile = opt("out")
    if (traced) tr.write(outFile.stripSuffix(".json") + ".spans.jsonl", s"$name-$seed")
    val result = Json.obj(Seq(
      "workload" -> name, "seed" -> seed, "traced" -> traced,
      "attempted" -> attempted, "failed" -> failures.size.toLong,
      "failures" -> failures.take(50),
      "ops" -> latency.size, "measured_s" -> measuredS,
      "latencies_ms" -> latency,
      "e2e" -> e2e, "layers" -> layers,
      "session" -> Map("master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "adaptive" -> spark.conf.get("spark.sql.adaptive.enabled"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)),
      "info" -> w.info))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), result)
    0
  }
}
