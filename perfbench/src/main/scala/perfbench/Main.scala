package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one closed-loop operation did. `kind` separates the primary
  * operations (migration jobs, queries, index batches) that the
  * end-to-end latency metrics are taken over from secondary ones
  * (index probes and compactions). `units` is the work it completed:
  * scripts, queries or input rows. */
final case class OpOut(kind: String, units: Double)

/** A benchmark workload. The runner makes its inputs several times,
  * warms it up once, calls [[op]] in a closed loop with one client until
  * the run's seconds are spent, then runs the untimed output checks. */
trait Workload {
  /** Make the inputs from the seed under `dir`; the last set of inputs
    * is the one the run uses. */
  def setup(dir: File): Unit

  /** One-time work between the inputs and the timed loop: first-touch
    * builds, index bootstraps, and the JIT warm-up they bring. */
  def warmUp(): Unit

  /** Name of the i-th operation and the operation itself. */
  def op(i: Int): (String, () => OpOut)

  /** Fewest operations one run makes, whatever the clock says. */
  def minOps: Int

  /** Kind of the operations the end-to-end latency metrics cover. */
  def primaryKind: String

  /** Whether the i-th operation runs traced in a traced run; traced and
    * untraced operations alternate so the run measures its own tracing
    * overhead. */
  def traced(i: Int): Boolean = i % 2 == 1

  /** Untimed output checks; each returned string is one failure. */
  def check(): Seq[String]

  /** Workload-specific end-to-end figures, printed beside the generic
    * ones: (name, value, unit, samples). */
  def detail(ops: Seq[Main.Sample]): Seq[(String, Double, String, Int)]

  /** Workload-specific layer counters of a traced run. */
  def layers(tracer: Tracer, traced: Seq[(Main.Sample, Map[String, Double])]): Map[String, Double]
}

object Main {
  final case class Sample(i: Int, name: String, kind: String, secs: Double,
      units: Double, traced: Boolean, span: Option[Span])

  val SetupReps = 3
  val Cores = 4

  def session(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .withExtensions(new graft.api.GraftExtensions)
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  private def secondsOf[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def phase(p: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s: $p")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    val out = Paths.get(opts("out"))
    work.mkdirs()

    val spark = session(work)
    phase("session up")
    val wl: Workload = workload match {
      case "ddl_migrate" => new DdlMigrate(spark, seed)
      case "query_suite" => new QuerySuite(spark, seed, new File(work, "results"))
      case "index_maintain" => new IndexMaintain(spark, seed)
      case other => sys.error(s"unknown workload $other")
    }

    val setups = (0 until SetupReps).map(r => secondsOf(wl.setup(new File(work, s"setup$r")))._2)
    val warm = secondsOf(wl.warmUp())._2
    val setupS = Stats.median(setups) + warm
    phase(f"set up: inputs ${setups.mkString(" ")} s, warm-up $warm%.1f s")

    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.start())
    val samples = mutable.ArrayBuffer.empty[Sample]
    val failed = mutable.ArrayBuffer.empty[String]
    var i = 0
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    while (elapsed < seconds || i < wl.minOps) {
      val (name, body) = wl.op(i)
      val traced = tracer.filter(_ => wl.traced(i))
      Calls.tracer = traced
      val t0 = System.nanoTime()
      try {
        val o = traced match {
          case Some(t) => t.span(name, "op")(body())
          case None => body()
        }
        val secs = (System.nanoTime() - t0) / 1e9
        samples += Sample(i, name, o.kind, secs, o.units, traced.isDefined,
          traced.flatMap(_.ops.lastOption))
      } catch {
        // a failed op is counted and named, and never enters a latency
        // sample; fatal errors still end the run
        case NonFatal(e) =>
          failed += name
          System.err.println(s"[perfbench] op $i $name failed: $e")
      }
      i += 1
    }
    Calls.tracer = None
    val wall = elapsed
    tracer.foreach(_.stop())
    phase(f"timed loop: $i ops in $wall%.1f s")

    val (checkFailures, checkSecs) = secondsOf {
      try wl.check() catch { case NonFatal(e) => Seq(s"check threw: $e") }
    }
    phase(f"checks: $checkSecs%.1f s")

    val primary = samples.filter(_.kind == wl.primaryKind)
    val untraced = primary.filterNot(_.traced)
    val lat = untraced.map(_.secs).toSeq
    val rss = peakRssMb()
    val metrics = Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> rss,
      "ok_share" -> samples.size.toDouble / i,
      "op_geomean_s" -> Stats.geomean(untraced.groupBy(_.name).values
        .map(s => Stats.median(s.map(_.secs).toSeq)).toSeq),
      "units_per_s" -> untraced.map(_.units).sum / untraced.map(_.secs).sum)
    val detail = wl.detail(samples.filterNot(_.traced).toSeq) ++ Seq(
      ("setup_s", setupS, "s", setups.size),
      ("peak_rss_mb", rss, "MB", 1),
      ("failed_share", failed.size.toDouble / math.max(1, i), "share", i))

    val perLayer: Map[String, Double] = tracer.map { t =>
      val tracedOps = samples.filter(s => s.traced && s.span.isDefined)
        .map(s => s -> t.opCounters(s.span.get)).toSeq
      val tracedPrimary = primary.filter(_.traced).map(_.secs).toSeq
      t.write(work.toPath.resolve("spans.jsonl"))
      Files.writeString(work.toPath.resolve("self_times.json"), Stats.json(t.selfTimes))
      val own = wl.layers(t, tracedOps)
      // the pure-library layers are timed on every workload, on a small
      // seeded corpus where the workload has none of its own
      val library = if (own.contains("parse.tables")) Map.empty[String, Double]
        else Layers.library(DdlCorpus.corpus(seed, 1, 100, 1))
      library ++ own ++
        Layers.common(tracedOps) ++ Map(
          "trace.overhead_ratio" -> (if (tracedPrimary.isEmpty || lat.isEmpty) Double.NaN
            else Stats.median(tracedPrimary) / Stats.median(lat)),
          "trace.parent_fallbacks" -> t.parentFallbacks.toDouble)
    }.getOrElse(Map.empty)
    if (trace) phase("layers")

    val result = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "wall_s" -> wall, "check_s" -> checkSecs, "trace" -> trace,
      "attempted" -> i, "failed" -> failed.size, "failed_ops" -> failed.toSeq,
      "check_failures" -> checkFailures,
      "setup_runs_s" -> setups, "warm_up_s" -> warm,
      "metrics" -> metrics,
      "per_layer" -> perLayer,
      "op_counters" -> tracer.map(t => samples.filter(_.traced).flatMap(s =>
        s.span.map(sp => Map("name" -> s.name, "counters" -> t.opCounters(sp))))).getOrElse(Nil),
      "detail" -> detail.map { case (n, v, u, c) =>
        Map("name" -> n, "value" -> v, "unit" -> u, "n" -> c) },
      "ops" -> samples.map(s => Map("name" -> s.name, "kind" -> s.kind,
        "secs" -> s.secs, "traced" -> s.traced)))
    Files.writeString(out, Stats.json(result))
    spark.stop()
    phase("stopped")
  }
}
