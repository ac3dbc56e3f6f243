package perfbench

import java.io.File
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.api.Engine
import graft.assess.{Assessor, ReportRenderer}
import graft.convert.Db2Renderer
import graft.parse.Db2Parser
import graft.snowflake.SnowflakeRenderer

/** The paper's workload: migration jobs over a seeded corpus of DB2 and
  * Snowflake scripts. Almost all the work is map-side parse, render
  * and assess code, Dataset row encoding and the per-script shuffle;
  * planning is a small share. Each job reads one slice of the corpus
  * from parquet and runs the whole pipeline on it. */
final class DdlMigrate(spark: SparkSession, seed: Long) extends Workload {
  import DdlMigrate._

  private var scripts = Seq.empty[DdlCorpus.Script]
  private var bySlice = Map.empty[Int, Seq[DdlCorpus.Script]]
  private var corpusPath: String = _

  /** Collected outputs of one job, for the untimed check. */
  private final case class Out(conv: Array[Row], roll: Array[Row], dist: Array[Row],
      feats: Array[Row], report: Array[Row], sf: Array[Row]) {
    def digest: Int = Seq(conv, roll, dist, feats, report, sf)
      .map(_.map(_.toString).sorted.toSeq.hashCode).hashCode
  }
  private val firstOut = mutable.Map.empty[Int, Out]
  private val repeats = mutable.ArrayBuffer.empty[(Int, Out)]

  def setup(dir: File): Unit = {
    import spark.implicits._
    corpusPath = new File(dir, "corpus").getPath
    scripts = DdlCorpus.corpus(seed, Slices, PerSlice, DumpsPerSlice)
    bySlice = scripts.groupBy(_.job)
    scripts.map(s => (s.id, s.job, s.dialect, s.ddl)).toDF("script_id", "job", "dialect", "ddl")
      .repartition(2 * Main.Cores)
      .write.partitionBy("job").mode("overwrite").parquet(corpusPath)
  }

  /** One job on the first slice, so the JIT warm-up stays out of the
    * timed jobs; its outputs are checked like theirs. */
  def warmUp(): Unit = op(0)._2()

  def minOps: Int = Slices
  def primaryKind: String = "job"

  def op(i: Int): (String, () => OpOut) = {
    val k = i % Slices
    (f"job$k%02d", () => {
      val src = spark.read.parquet(corpusPath).where(col("job") === k)
      val db2 = src.where(col("dialect") === "db2").select("script_id", "ddl")
      val sf = src.where(col("dialect") === "sf").select("script_id", "ddl")
      val tables = Calls("Engine.parseDb2") {
        val t = Engine.parseDb2(db2).persist()
        t.count()
        t
      }
      try {
        val rows = Engine.assessRows(tables)
        val out = Out(
          Calls("Engine.convertDb2")(Engine.convertDb2(tables).collect()),
          Calls("Engine.assessRollup")(Engine.assessRollup(rows).collect()),
          Calls("Engine.typeDistribution")(Engine.typeDistribution(rows).collect()),
          Calls("Engine.featureUsage")(Engine.featureUsage(tables).collect()),
          Calls("Engine.conversionReportLines")(
            Engine.conversionReportLines(db2, GeneratedAt).collect()),
          Calls("Engine.convertSnowflake")(Engine.convertSnowflake(sf).collect()))
        if (firstOut.contains(k)) repeats += k -> out else firstOut(k) = out
        OpOut("job", bySlice(k).size)
      } finally tables.unpersist()
    })
  }

  /** Each slice's first job's outputs equal direct library calls on the
    * same scripts; every repeat of a slice equals its first job; the
    * embedded samples reproduce the golden bytes. */
  def check(): Seq[String] = {
    val pool = Executors.newFixedThreadPool(Main.Cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val perSlice = firstOut.toSeq.map { case (k, out) => Future(checkSlice(k, out)) }
      val fails = Await.result(Future.sequence(perSlice), Duration.Inf).flatten
      val firstDigest = firstOut.map { case (k, o) => k -> o.digest }
      fails ++ repeats.collect { case (k, o) if firstDigest(k) != o.digest => s"slice $k: repeat differs" } ++
        golden()
    } finally pool.shutdown()
  }

  private def checkSlice(k: Int, out: Out): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    def expect(cond: Boolean, what: => String): Unit = if (!cond && fails.size < 5) fails += s"slice $k: $what"
    val conv = out.conv.map(r => r.getString(0) -> r).toMap
    val roll = out.roll.filter(_.getAs[Int]("agg_level") == 3).map(r => r.getString(0) -> r).toMap
    val dist = out.dist.groupBy(_.getString(0)).map { case (id, rs) =>
      id -> rs.map(r => r.getString(1) -> r.getInt(2)).toMap }
    val feats = out.feats.map(r => r.getString(0) -> r).toMap
    val report = out.report.groupBy(_.getString(0)).map { case (id, rs) =>
      id -> rs.sortBy(_.getInt(1)).map(_.getString(2)).toSeq }
    val sf = out.sf.map(r => r.getString(0) -> r).toMap
    for (s <- bySlice(k)) {
      if (s.dialect == "db2") {
        val c = Db2Renderer.convert(s.ddl)
        val a = Assessor.assess(s.ddl)
        conv.get(s.id) match {
          case Some(r) =>
            expect(r.getAs[String]("iceberg_ddl") == c.icebergDdl, s"${s.id} iceberg_ddl")
            expect(r.getAs[Int]("ewi_count") == c.ewiCount, s"${s.id} ewi_count")
            expect(r.getAs[Int]("tables_converted") == c.tablesConverted, s"${s.id} tables_converted")
          case None => expect(false, s"${s.id} missing from convertDb2")
        }
        roll.get(s.id) match {
          case Some(r) =>
            expect(r.getAs[Int]("tables_total") == a.tablesTotal, s"${s.id} tables_total")
            expect(r.getAs[Int]("tables_auto") == a.tablesAuto, s"${s.id} tables_auto")
            expect(r.getAs[Int]("tables_blocked") == a.tablesBlocked, s"${s.id} tables_blocked")
            expect(r.getAs[Int]("total_columns") == a.totalColumns, s"${s.id} total_columns")
            expect(r.getAs[Int]("critical_issues") == a.criticalIssues.size, s"${s.id} critical")
            expect(r.getAs[Int]("warning_issues") == a.warnings.size, s"${s.id} warnings")
            expect(r.getAs[Int]("info_issues") == a.infoItems.size, s"${s.id} info")
            expect(math.abs(r.getAs[Double]("overall_score") - a.overallScore) < 1e-9, s"${s.id} score")
            expect(r.getAs[String]("overall_level") == a.overallLevel, s"${s.id} level")
          case None => expect(false, s"${s.id} missing from assessRollup")
        }
        expect(dist.getOrElse(s.id, Map.empty) == a.typeDistribution, s"${s.id} typeDistribution")
        val f = Assessor.aggregateFeatures(Db2Parser.parse(s.ddl).tables)
        feats.get(s.id) match {
          case Some(r) => f.foreach { case (name, v) => expect(r.getAs[Int](name) == v, s"${s.id} feature $name") }
          case None => expect(false, s"${s.id} missing from featureUsage")
        }
        expect(report.getOrElse(s.id, Nil) == ReportRenderer.renderConversion(c, a, GeneratedAt),
          s"${s.id} conversion report")
      } else {
        val c = SnowflakeRenderer.convert(s.ddl)
        sf.get(s.id) match {
          case Some(r) =>
            expect(r.getAs[String]("iceberg_ddl") == c.icebergDdl, s"${s.id} iceberg_ddl")
            expect(r.getAs[Int]("ewi_count") == c.ewiCount, s"${s.id} ewi_count")
            expect(r.getAs[Int]("tables_converted") == c.tablesConverted, s"${s.id} tables_converted")
          case None => expect(false, s"${s.id} missing from convertSnowflake")
        }
      }
    }
    fails.toSeq
  }

  private def golden(): Seq[String] = {
    val db2 = Engine.sampleDdl("sample_db2.sql")
    val c = Db2Renderer.convert(db2)
    val a = Assessor.assess(db2)
    Seq(
      "sample_db2.iceberg.sql" -> c.icebergDdl,
      "sample_db2.conversion.txt" ->
        (ReportRenderer.renderConversion(c, a, GeneratedAt).mkString("\n") + "\n"),
      "sample_db2.report.txt" ->
        (ReportRenderer.renderAssessment(a, GeneratedAt).mkString("\n") + "\n"),
      "sample_snowflake.iceberg.sql" ->
        SnowflakeRenderer.convert(Engine.sampleDdl("sample_snowflake.sql")).icebergDdl)
      .collect { case (f, got) if got != Engine.sampleDdl(f) => s"golden $f differs" }
  }

  /** The fixed hostile-literal scripts, run once through the same
    * pipeline outside the timed loop: (script, error) per failure. */
  private lazy val hostileOutcome: Seq[(String, String)] =
    DdlCorpus.hostile(seed).flatMap { s =>
      val df = Engine.scriptsOf(spark, Seq(s.id -> s.ddl))
      try {
        if (s.dialect == "db2") Engine.convertDb2(Engine.parseDb2(df)).collect()
        else Engine.convertSnowflake(df).collect()
        None
      } catch { case NonFatal(e) =>
        val root = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
        Some(s.id -> root.toString)
      }
    }

  def detail(ops: Seq[Main.Sample]): Seq[(String, Double, String, Int)] = {
    val jobs = ops.filter(_.kind == "job")
    val lat = jobs.map(_.secs)
    hostileOutcome.foreach { case (id, err) =>
      System.err.println(s"[perfbench] known defect: hostile script $id fails its job: $err") }
    Seq(
      ("ddl.scripts_per_s", jobs.map(_.units).sum / lat.sum, "1/s", jobs.size),
      ("ddl.job_p50_s", Stats.median(lat), "s", jobs.size),
      Stats.tailFigure("ddl.job", lat),
      ("ddl.hostile_jobs_failed", hostileOutcome.size.toDouble, "count", DdlCorpus.hostile(seed).size))
  }

  def layers(t: Tracer, traced: Seq[(Main.Sample, Map[String, Double])]): Map[String, Double] = {
    val parseTask = t.callRunMs("Engine.parseDb2")
    val slices = traced.map(_._1.i % Slices).distinct
    // direct single-threaded parse of the same scripts, per slice
    val direct = slices.map { k =>
      val ddl = bySlice(k).filter(_.dialect == "db2").map(_.ddl)
      ddl.foreach(Db2Parser.parse)
      val t0 = System.nanoTime()
      ddl.foreach(Db2Parser.parse)
      k -> (System.nanoTime() - t0) / 1e6
    }.toMap
    val directPerJob = traced.map(s => direct(s._1.i % Slices))
    val parseMean = if (parseTask.isEmpty) 0.0 else parseTask.sum / parseTask.size
    val corpusScripts = scripts.size + DdlCorpus.hostile(seed).size
    Layers.library(slices.take(2).flatMap(bySlice)) ++ Map(
      "engine.parse_task_ms" -> parseMean,
      "engine.encode_overhead_ms" -> (parseMean -
        (if (directPerJob.isEmpty) 0.0 else directPerJob.sum / directPerJob.size)),
      "engine.task_skew" -> (if (traced.isEmpty) 1.0
        else traced.map(_._2("task_skew")).sum / traced.size),
      "engine.scripts_ok_share" -> (corpusScripts - hostileOutcome.size).toDouble / corpusScripts)
  }
}

object DdlMigrate {
  val GeneratedAt = "2026-01-01 00:00:00"
  val Slices = 6
  val PerSlice = 150
  val DumpsPerSlice = 1
}
