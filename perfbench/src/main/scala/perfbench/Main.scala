package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Operations attempted and failed, with the first failure messages. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def attempt(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 50) failures += what
    }
  }
}

/** One workload run: its arguments, the Spark session, and everything it
  * reports. `e2e` metrics come from the timed runs (no listener is
  * registered while they run); `layer` metrics from the traced pass.
  */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val dataDir: String, val outDir: Path, val workDir: Path) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val ops = new Ops
  private val e2eM = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layerM = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val infoM = mutable.LinkedHashMap.empty[String, Any]
  private var current: Option[SparkSession] = None
  private var setupS: Option[Double] = None

  def e2e(name: String, v: Double, unit: String): Unit = e2eM(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerM(name) = (v, unit)
  def info(name: String, v: Any): Unit = infoM(name) = v

  /** A fresh `local[cores]` session built the way the program builds its
    * own, with scratch space inside the run's work directory.
    */
  def session(cores: Int): SparkSession = {
    stop()
    val s = GraftSession.builder("perfbench", cores.toString)
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    current = Some(s)
    s
  }

  def spark: SparkSession = current.getOrElse(sys.error("no Spark session"))

  def stop(): Unit = {
    current.foreach(_.stop())
    current = None
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Marks the start of the first timed operation: `setup_s` is the time
    * since the JVM started.
    */
  def setupDone(): Unit = if (setupS.isEmpty) {
    val started = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    setupS = Some((System.currentTimeMillis() - started) / 1e3)
    e2e("setup_s", setupS.get, "s")
  }

  /** The end-to-end metrics every workload reports over the latencies
    * (ms) of its operations: their mean, median and 99th percentile.
    */
  def latencies(ms: Seq[Double]): Unit = {
    e2e("latency_mean_ms", ms.sum / ms.size, "ms")
    e2e("latency_p50_ms", Stats.median(ms), "ms")
    e2e("latency_p99_ms", Stats.quantile(ms, 0.99), "ms")
  }

  /** A registered tracer; `name` labels its spans file and metrics. */
  def tracer(spark: SparkSession, name: String): Tracer = {
    val t = new Tracer(spark, name, s"$name-$seed", spark.sparkContext.defaultParallelism)
    t.register()
    t
  }

  /** Checks each span against its stages (see [[Tracer.overhangMs]]); a
    * span that does not reconcile is a failed operation.
    */
  def reconcile(tr: Tracer, spans: Seq[Span]): Unit = {
    val worst = spans.map(s => s -> tr.overhangMs(s))
    worst.foreach { case (s, o) =>
      ops.attempt(o <= Tracer.ReconcileTolMs,
        f"span ${s.name} does not reconcile: a stage sticks out by $o%.1f ms")
    }
    layer(s"trace.${tr.name}.reconcile_overhang_ms",
      (0.0 +: worst.map(_._2)).max, "ms")
    info("reconcile_tolerance_ms", Tracer.ReconcileTolMs)
  }

  /** The per-layer metrics every workload reports over its units of work
    * in the traced pass (batch queries, hop triggers): `exec.*` over all of
    * them, and the mean wall and planning time of one.
    */
  def units(tr: Tracer, spans: Seq[Span], planningMs: Seq[Double]): Unit = {
    tr.execOf(spans).metrics("exec").foreach { case (n, v, u) => layer(n, v, u) }
    layer("units.wall_ms", spans.map(_.wallMs).sum / spans.size, "ms")
    layer("sql.planning_ms", planningMs.sum / planningMs.size, "ms")
  }

  def spans(tr: Tracer): Unit =
    Json.write(outDir.resolve(s"spans_${tr.name}.json"), tr.spanJson())

  def result(): ListMap[String, Any] = {
    // a non-finite value renders as null, which the runner reports as missing
    def ms(m: mutable.LinkedHashMap[String, (Double, String)]) = ListMap(m.toSeq.map {
      case (k, (v, u)) => k -> ListMap("value" -> (if (v.isNaN || v.isInfinite) null else v), "unit" -> u)
    }: _*)
    ListMap("workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "attempted" -> ops.attempted, "failed" -> ops.failed,
      "failures" -> ops.failures.toSeq, "end_to_end" -> ms(e2eM), "per_layer" -> ms(layerM),
      "info" -> ListMap(infoM.toSeq: _*))
  }
}

/** Benchmark JVM entry point:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <outDir> <workDir>`.
  * Writes `<outDir>/result.json` (and `spans_<name>.json` when tracing); exits
  * non-zero if the workload throws.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, outDir, workDir) = args
    val ctx = new Ctx(workload, seed.toLong, seconds.toDouble, trace == "1", dataDir,
      Paths.get(outDir), Paths.get(workDir))
    Files.createDirectories(ctx.outDir)
    var code = 0
    try workload match {
      case "batch_sf01" => Batch.run(ctx)
      case "stream_hop_open" => Hop.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        ctx.info("error", s"${t.getClass.getName}: ${t.getMessage}")
        code = 1
    } finally {
      try ctx.stop() catch { case _: Throwable => }
      Json.write(ctx.outDir.resolve("result.json"), ctx.result())
    }
    sys.exit(code)
  }
}
