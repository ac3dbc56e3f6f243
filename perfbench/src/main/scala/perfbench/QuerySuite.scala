package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Registered queries over seeded sf0.01 fixtures, each pass in a seeded
  * order. Fixed per-query costs dominate here: planning, job scheduling
  * and driver round trips; parse and render work is negligible. */
final class QuerySuite(spark: SparkSession, seed: Long, results: File) extends Workload {
  import QuerySuite._

  private val names: IndexedSeq[String] = Subset.map(_._1).toIndexedSeq
  private var fixture: File = _
  private val warmUpFailures = mutable.ArrayBuffer.empty[String]

  private def query(name: String) = SparkEntry.queries(name)(spark, fixture.getPath)

  private def clean(): Unit = QuerySuite.clean(spark)

  def setup(dir: File): Unit = {
    fixture = new File(dir, "fixture")
    Fixtures.write(spark, fixture, seed)
  }

  /** The first touch builds the fixture-keyed indexes and tables. It
    * also writes each result for the DuckDB oracle compare, and requires
    * rows from the queries that have no oracle. */
  def warmUp(): Unit = {
    results.mkdirs()
    val oracle = SparkEntry.oracleSql
    names.foreach { name =>
      try {
        if (oracle.contains(name))
          query(name).coalesce(1).write.mode("overwrite").parquet(new File(results, name).getPath)
        else if (query(name).limit(1).count() == 0) warmUpFailures += s"$name returned no rows"
      } catch { case NonFatal(e) => warmUpFailures += s"$name failed on first touch: $e" }
    }
    java.nio.file.Files.writeString(new File(results, "oracle_sql.json").toPath,
      Stats.json(names.filter(oracle.contains).map(n => n -> oracle(n)).toMap))
    java.nio.file.Files.writeString(new File(results, "fixture").toPath, fixture.getPath)
    clean()
  }

  def primaryKind: String = "query"
  /** Four passes: a query's median over four samples rides over the
    * short stalls that move a sub-second query by a fifth. */
  def minOps: Int = 4 * names.size

  private def order(pass: Int): IndexedSeq[String] = {
    val r = new SplittableRandom(seed * 1000003L + pass)
    val a = names.toArray
    for (k <- a.indices.reverse) { val j = r.nextInt(k + 1); val t = a(k); a(k) = a(j); a(j) = t }
    a.toIndexedSeq
  }

  private var passOrder = (-1, IndexedSeq.empty[String])
  private def nameAt(i: Int): String = {
    val pass = i / names.size
    if (passOrder._1 != pass) passOrder = (pass, order(pass))
    passOrder._2(i % names.size)
  }
  private val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def op(i: Int): (String, () => OpOut) = {
    val name = nameAt(i)
    (name, () => {
      if (i % names.size == 0) clean()
      val t0 = System.nanoTime()
      Calls(name)(query(name).write.format("noop").mode("overwrite").save())
      times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      OpOut("query", 1)
    })
  }

  /** Each query runs traced in every other pass, half of them in even
    * passes and half in odd ones, so the traced and untraced samples
    * hold the same queries from the same passes. */
  override def traced(i: Int): Boolean =
    (names.indexOf(nameAt(i)) + i / names.size) % 2 == 1

  /** The oracle compare itself runs after the JVM exits (oracle.py). */
  def check(): Seq[String] = warmUpFailures.toSeq

  def detail(ops: Seq[Main.Sample]): Seq[(String, Double, String, Int)] = {
    val lat = ops.map(_.secs)
    val passes = ops.groupBy(_.i / names.size).values.filter(_.size == names.size)
    Seq(
      ("query.p50_s", Stats.median(lat), "s", lat.size),
      Stats.tailFigure("query", lat),
      ("query.pass_s", if (passes.isEmpty) lat.sum * names.size / lat.size
        else Stats.median(passes.map(_.map(_.secs).sum).toSeq), "s", passes.size),
      ("query.count", names.size.toDouble, "count", 1))
  }

  /** Seconds each family adds to a pass: its queries' median times. */
  def layers(t: Tracer, traced: Seq[(Main.Sample, Map[String, Double])]): Map[String, Double] =
    Families.map { f =>
      s"family.${f}_s" -> times.collect { case (n, ts) if family(n) == f => Stats.median(ts.toSeq) }.sum
    }.toMap
}

object QuerySuite {
  /** The queries a pass runs, with their operator family. Each family
    * has a representative that takes under a second warm at sf0.01 on 4
    * cores, plus q60, which trains IVF and PQ together; a pass takes
    * about 6 s. The other queries (143 in all, up to 3.3 s each, and
    * some with first touches of several seconds) would not fit a run;
    * all of them pass the same checks on these fixtures. */
  val Subset: Seq[(String, String)] = Seq(
    "q1_agg" -> "relational", "ddl_convert" -> "ddl", "q16_text_stats" -> "text",
    "q22_cosine_topk" -> "vector", "q60_ivfpq_recall" -> "vector",
    "q71_indexed_probe" -> "indexed",
    "q100_iceberg_pruned_read" -> "iceberg_read", "q104_write_roundtrip" -> "iceberg_write",
    "q83_wav_features" -> "multimodal", "q98_url_dedup" -> "crawl")

  val Families: Seq[String] = Subset.map(_._2).distinct
  val family: Map[String, String] = Subset.toMap

  /** Drops cached tables and checkpointed blocks, so every pass starts
    * from the same cold cache. */
  def clean(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
