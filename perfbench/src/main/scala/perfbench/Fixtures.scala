package perfbench

import java.io.File
import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded stand-ins for the engine's parquet fixtures: the TPC-H-like
  * star schema, the `events` stream, `documents` and `embeddings`, with
  * the same table names, column types, value domains and sf0.01 row
  * counts (60,000 lineitems). Each table is one parquet file,
  * `<dir>/<table>.parquet`. */
object Fixtures {

  private def round2(d: Double) = math.round(d * 100) / 100.0

  val Vocab: Seq[String] = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "data", "agg", "value", "key", "stream", "window", "a", "spark",
    "part", "group", "big", "sort", "query", "fast", "the")

  private def write(spark: SparkSession, dir: File, name: String,
      schema: StructType, rows: Seq[Row]): Unit = {
    val tmp = new File(dir, s".$name.tmp")
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, new File(dir, s"$name.parquet").toPath)
    tmp.listFiles().foreach(_.delete())
    tmp.delete()
  }

  private def ts(base: LocalDateTime, r: SplittableRandom, days: Int): LocalDateTime =
    base.plusDays(r.nextInt(days).toLong)

  /** Documents: word-salad texts over [[Vocab]] in five languages; about
    * one in twenty repeats an earlier document with a " dup" suffix. */
  def documentRows(r: SplittableRandom, n: Int, idBase: Long = 0L): IndexedSeq[Row] = {
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val text =
        if (i > 0 && r.nextDouble() < 0.05) texts(r.nextInt(i)) + " dup"
        else Seq.fill(8 + r.nextInt(89))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      texts(i) = text
      val u = r.nextDouble()
      val lang = if (u < 0.43) "en" else Seq("zh", "es", "de", "fr")(((u - 0.43) / 0.1425).toInt.min(3))
      Row(idBase + i, text, lang, s"src${(idBase + i) % 20}", text.length.toLong)
    }
  }

  val DocumentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Embeddings: 64-dim unit vectors around ten label centroids. */
  def embeddingRows(r: SplittableRandom, n: Int, idBase: Long = 0L): IndexedSeq[Row] = {
    val centers = Array.fill(10, 64)(r.nextGaussian().toFloat)
    (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(64)(d => centers(label)(d) * 0.14f + r.nextGaussian().toFloat)
      val norm = math.sqrt(v.map(x => x * x).sum).toFloat
      Row(idBase + i, v.map(_ / norm).toSeq, label)
    }
  }

  val EmbeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def write(spark: SparkSession, dir: File, seed: Long): Unit = {
    dir.mkdirs()
    def rnd(table: Int) = new SplittableRandom(seed * 31 + table)
    val customers = 1500
    val suppliers = 100
    val parts = 2000
    val orders = 15000
    val lines = 60000

    write(spark, dir, "region", StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (nm, i) => Row(i, nm) })
    write(spark, dir, "nation", StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segs = Seq("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
    val rc = rnd(1)
    write(spark, dir, "customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      (0 until customers).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        round2(-1000 + rc.nextDouble() * 11000), segs(rc.nextInt(5)))))

    val rs = rnd(2)
    write(spark, dir, "supplier", StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
      (0 until suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        round2(-1000 + rs.nextDouble() * 11000))))

    val adj = Seq("small", "red", "blue", "hot", "old", "large", "cold", "shiny")
    val noun = Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "spring")
    val types = Seq("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
    val rp = rnd(3)
    write(spark, dir, "part", StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
      (0 until parts).map(i => Row(i.toLong, s"${adj(rp.nextInt(8))} ${noun(rp.nextInt(8))}",
        s"Brand#${1 + rp.nextInt(25)}", types(rp.nextInt(6)), 1 + rp.nextInt(50),
        math.round(9000 + i % 1000) / 10.0)))

    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val ro = rnd(4)
    write(spark, dir, "orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType))),
      (0 until orders).map(i => Row(i.toLong, ro.nextInt(customers).toLong,
        Seq("P", "O", "F")(ro.nextInt(3)), round2(1000 + ro.nextDouble() * 499000),
        ts(LocalDateTime.of(1995, 1, 1, 0, 0), ro, 2404), prio(ro.nextInt(5)))))

    val rl = rnd(5)
    write(spark, dir, "lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType))),
      (0 until lines).map(_ => Row(rl.nextInt(orders).toLong, rl.nextInt(parts).toLong,
        rl.nextInt(suppliers).toLong, 1 + rl.nextInt(7), (1 + rl.nextInt(50)).toDouble,
        round2(900 + rl.nextDouble() * 104100), rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
        Seq("R", "A", "N")(rl.nextInt(3)), Seq("O", "F")(rl.nextInt(2)),
        ts(LocalDateTime.of(1995, 1, 2, 0, 0), rl, 2499))))

    val kinds = Seq("signup", "error", "click", "view", "purchase")
    val re = rnd(6)
    val nEvents = 10000
    var clock = LocalDateTime.of(2024, 1, 1, 0, 0)
    val stepUs = 30L * 86400 * 1000000 / nEvents
    write(spark, dir, "events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      (0 until nEvents).map { i =>
        clock = clock.plusNanos((re.nextLong(2 * stepUs) + 1) * 1000)
        Row(i.toLong, clock, re.nextInt(math.max(1, customers / 10)).toLong, kinds(re.nextInt(5)),
          round2(-50 * math.log(1 - re.nextDouble())), s"""{"k": ${re.nextInt(100)}}""")
      })

    write(spark, dir, "documents", DocumentSchema, documentRows(rnd(7), 500))
    write(spark, dir, "embeddings", EmbeddingSchema, embeddingRows(rnd(8), 500))
  }
}
