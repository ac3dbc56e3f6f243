package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, md5}

import graft.operators.{Bm25, FingerprintLedger, IvfPq, Search, Similarity}
import graft.streaming.StreamingOps

/** Index maintenance beside reads: seeded micro-batches of sf0.1-sized
  * `documents` and `embeddings` go through the four streaming index
  * sinks (BM25, phrase, IVF-PQ, fingerprint ledger), probes run every
  * few rounds, and each family is compacted once mid-run, so appends
  * are timed both before and after compaction. The commit and metadata
  * plane and the index write path carry this load. */
final class IndexMaintain(spark: SparkSession, seed: Long) extends Workload {
  import IndexMaintain._
  import spark.implicits._

  private val docRows = Fixtures.documentRows(new SplittableRandom(seed * 31 + 7), Docs)
  private val vecRows = Fixtures.embeddingRows(new SplittableRandom(seed * 31 + 8), Vecs)
  private def docBatch(b: Int) = docRows.slice(b * Docs / Batches, (b + 1) * Docs / Batches)
  private def vecBatch(b: Int) = vecRows.slice(b * Vecs / Batches, (b + 1) * Vecs / Batches)

  private var root: File = _
  private var sinks: Map[String, (DataFrame, Long) => Unit] = Map.empty
  private def path(f: String) = new File(root, f).getPath
  private def read(table: String, keep: org.apache.spark.sql.Column): DataFrame =
    spark.read.parquet(path(table)).where(keep).drop("batch")
  private def docsUpTo(b: Int) = read("in_docs", col("batch") <= b)
  private def vecsUpTo(b: Int) = read("in_vecs", col("batch") <= b)

  private val lastBatch = mutable.Map.empty[String, Int]
  private val pending = mutable.Queue.empty[(String, () => OpOut)]
  private var round = 0
  private val growth = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val filesWritten = mutable.ArrayBuffer.empty[Double]

  def setup(dir: File): Unit = {
    root = dir
    def write(name: String, schema: org.apache.spark.sql.types.StructType,
        batch: Int => Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(
        (0 until Batches).flatMap(b => batch(b).map(r => Row.fromSeq(r.toSeq :+ b)))),
        schema.add("batch", "int")).write.partitionBy("batch").parquet(path(name))
    write("in_docs", Fixtures.DocumentSchema, docBatch)
    write("in_vecs", Fixtures.EmbeddingSchema, vecBatch)
  }

  /** Batch 0 bootstraps every index; the IVF-PQ model trains on it. */
  def warmUp(): Unit = {
    sinks = Map(
      "bm25" -> StreamingOps.bm25IndexSink("doc_id", "text", path("bm25"),
        nBuckets = 16, txnAppId = Some("perfbench_bm25")),
      "phrase" -> StreamingOps.phraseIndexSink("doc_id", "text", path("phrase"),
        nBuckets = 16, txnAppId = Some("perfbench_phrase")),
      "ivfpq" -> StreamingOps.ivfPqIndexSink(path("ivfpq"), nCentroids = Centroids,
        centroidIters = 2, dim = 64, nSub = 8, codewords = 16, pqIters = 1,
        txnAppId = Some("perfbench_ivfpq")),
      "ledger" -> StreamingOps.ledgerDedupSink("fp", path("ledger"), path("ledger_out"),
        txnAppId = "perfbench_ledger", nBuckets = 16))
    Families.foreach { f => append(f, 0); lastBatch(f) = 0 }
  }

  private def append(f: String, b: Int): Unit = {
    val docs = read("in_docs", col("batch") === b)
    sinks(f)(f match {
      case "ivfpq" => read("in_vecs", col("batch") === b)
      // the sink's caller contract: fingerprints are distinct within a batch
      case "ledger" => docs.select(md5(col("text")).as("fp")).distinct()
      case _ => docs
    }, b.toLong)
  }

  private def filesUnder(p: String): Seq[File] = {
    def walk(d: File): Seq[File] =
      if (d.isDirectory) Option(d.listFiles()).toSeq.flatten.flatMap(walk) else Seq(d)
    walk(new File(p)).filter(f => f.isFile && !f.getName.endsWith(".crc"))
  }

  private def bm25Probe(p: String): Seq[String] =
    Bm25.searchIndex(spark, p, ProbeTerms.toDF("q_id", "term"), "doc_id", k = 10)
      .collect().map(_.toString).sorted.toSeq
  private def phraseProbe(p: String): Seq[String] =
    Search.phraseProbe(spark, p, Phrase).collect().map(_.toString).sorted.toSeq
  private def ivfQueries = vecsUpTo(0).where(col("vec_id") < 5).select("vec_id", "embedding")
  private def pairs(df: DataFrame): Seq[String] =
    df.select("q_id", "c_id").collect().map(_.toString).sorted.toSeq
  // every centroid probed and every candidate re-ranked: the answer is
  // the exact top-k, as brute force over the same rows finds it
  private def ivfProbe(p: String): Seq[String] =
    pairs(IvfPq.searchIndex(spark, p, ivfQueries, k = 5, nProbe = Centroids, rerank = Vecs))
  private val probeFns: Seq[(String, String, String => Seq[String])] = Seq(
    ("bm25", "Bm25.searchIndex", bm25Probe), ("phrase", "Search.phraseProbe", phraseProbe),
    ("ivfpq", "IvfPq.searchIndex", ivfProbe))

  private def enqueueProbes(): Unit = probeFns.foreach { case (f, call, probe) =>
    pending.enqueue((s"probe_$f", () => { Calls(call)(probe(path(f))); OpOut("probe", 1) }))
  }

  private def enqueueRound(): Unit = {
    if (round == CompactAfter) {
      // every family compacts once, between rounds of appends
      Seq("bm25" -> (() => Bm25.compactIndex(spark, path("bm25"))),
        "phrase" -> (() => Search.compactIndex(spark, path("phrase"))),
        "ivfpq" -> (() => IvfPq.compactIndex(spark, path("ivfpq"))),
        "ledger" -> (() => FingerprintLedger.compactLedger(spark, path("ledger"))))
        .foreach { case (f, run) =>
          pending.enqueue((s"compact_$f", () => { Calls(s"compact $f")(run()); OpOut("compact", 0) }))
        }
      enqueueProbes()
    }
    round += 1
    val b = round
    if (b < Batches) Families.foreach { f =>
      pending.enqueue((s"${f}_batch$b", () => {
        val traced = Calls.tracer.isDefined
        val before = if (traced) filesUnder(path(f)).size else 0
        val t0 = System.nanoTime()
        Calls(s"sink $f")(append(f, b))
        growth.getOrElseUpdate(f, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
        if (traced) filesWritten += (filesUnder(path(f)).size - before).toDouble
        lastBatch(f) = b
        OpOut("batch", if (f == "ivfpq") vecBatch(b).size else docBatch(b).size)
      }))
    }
    if (round % ProbeEvery == 0) enqueueProbes()
  }

  def primaryKind: String = "batch"
  /** Appends before and after compaction, and the probes around it. */
  def minOps: Int = Families.size * (CompactAfter + 2) + probeFns.size

  def op(i: Int): (String, () => OpOut) = {
    if (pending.isEmpty) enqueueRound()
    pending.dequeue()
  }

  /** After the appends and the compaction, probe answers equal those of
    * indexes built from scratch over the same rows (for IVF-PQ, the
    * exact top-k); the ledger and the dedup output hold each distinct
    * fingerprint exactly once. */
  def check(): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    val scratch = new File(root, "scratch").getPath
    Bm25.writeIndex(docsUpTo(lastBatch("bm25")), "doc_id", "text", scratch + "/bm25", 16)
    Search.writeIndex(docsUpTo(lastBatch("phrase")), "doc_id", "text", scratch + "/phrase", 16)
    if (bm25Probe(path("bm25")) != bm25Probe(scratch + "/bm25"))
      fails += "bm25 probe answers differ from a from-scratch index"
    if (phraseProbe(path("phrase")) != phraseProbe(scratch + "/phrase"))
      fails += "phrase probe answers differ from a from-scratch index"
    if (ivfProbe(path("ivfpq")) !=
        pairs(Similarity.bruteForceTopK(vecsUpTo(lastBatch("ivfpq")), ivfQueries, 5)))
      fails += "ivfpq probe answers differ from the exact top-k"
    val distinctFps = docsUpTo(lastBatch("ledger")).select(md5(col("text"))).distinct().count()
    val ledger = FingerprintLedger.effectiveFps(spark, path("ledger"),
      FingerprintLedger.currentVersion(spark, path("ledger")))
    if (ledger.count() != distinctFps || ledger.select("fp").distinct().count() != distinctFps)
      fails += s"ledger does not hold each of $distinctFps fingerprints once"
    val passed = spark.read.parquet(path("ledger_out")).count()
    if (passed != distinctFps)
      fails += s"dedup output passed $passed rows for $distinctFps distinct fingerprints"
    fails.toSeq
  }

  /** Bytes of the input the sinks consumed: document text once per
    * document family, 4 bytes per embedding float. */
  private def inputBytes: Double = Families.map { f =>
    (0 to lastBatch(f)).map { b =>
      if (f == "ivfpq") vecBatch(b).size * 64 * 4.0
      else docBatch(b).map(_.getString(1).length.toDouble).sum
    }.sum
  }.sum

  private def storedPerInput: Double =
    Families.map(f => filesUnder(path(f)).map(_.length).sum).sum / inputBytes

  def detail(ops: Seq[Main.Sample]): Seq[(String, Double, String, Int)] = {
    val batches = ops.filter(_.kind == "batch").map(_.secs)
    val probeLat = ops.filter(_.kind == "probe").map(_.secs)
    Seq(
      ("index.batch_p50_s", Stats.median(batches), "s", batches.size),
      Stats.tailFigure("index.batch", batches),
      ("index.probe_p50_s", if (probeLat.isEmpty) Double.NaN else Stats.median(probeLat), "s",
        probeLat.size),
      ("index.stored_bytes_per_input_byte", storedPerInput, "ratio", 1))
  }

  def layers(t: Tracer, traced: Seq[(Main.Sample, Map[String, Double])]): Map[String, Double] = {
    val batchOps = traced.filter(_._1.kind == "batch")
    val compactOps = traced.filter(_._1.kind == "compact")
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "commit.files_written" -> mean(filesWritten.toSeq),
      "commit.output_bytes" -> mean(batchOps.map(_._2("output_bytes"))),
      "commit.versions" -> (Bm25.currentVersion(spark, path("bm25")) +
        Search.currentVersion(spark, path("phrase")) + IvfPq.currentVersion(spark, path("ivfpq")) +
        FingerprintLedger.currentVersion(spark, path("ledger"))).toDouble,
      "compact.ms" -> mean(compactOps.map(_._1.secs * 1000)),
      "compact.bytes_rewritten" -> mean(compactOps.map(_._2("output_bytes"))),
      "index.files_live" -> Families.map(f => filesUnder(path(f)).size).sum.toDouble,
      "index.stored_bytes_per_input_byte" -> storedPerInput) ++
      Families.map { f =>
        val g = growth.getOrElse(f, mutable.ArrayBuffer(1.0))
        s"index.append_growth_$f" -> g.last / g.head
      }
  }
}

object IndexMaintain {
  val Docs = 5000
  val Vecs = 2000
  val Batches = 40
  val Centroids = 16
  val ProbeEvery = 2
  val CompactAfter = 1
  val Families = Seq("bm25", "phrase", "ivfpq", "ledger")
  val ProbeTerms = Seq((1, "spark"), (1, "vector"), (2, "merge"), (2, "window"), (3, "the"))
  val Phrase = Seq("spark", "join")
}
