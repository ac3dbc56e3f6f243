package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Job counts the tracer records for named queries, for comparison with
  * `graft.tools.JobProfile` under the same settings (see crosscheck.py).
  * Like JobProfile, each query runs once to warm up and then once
  * measured, after the cache is cleared.
  *
  * Usage: perfbench.Crosscheck <fixtureDir> <out.json> <query>...
  * The fixture is made from seed 1 when `fixtureDir` does not exist. */
object Crosscheck {
  def main(args: Array[String]): Unit = {
    val fixture = new File(args(0))
    val out = Paths.get(args(1))
    val names = args.drop(2).toSeq
    val spark = Main.session(fixture.getParentFile)
    if (!fixture.exists()) Fixtures.write(spark, fixture, 1L)
    def clean(): Unit = QuerySuite.clean(spark)
    def run(name: String): Unit = SparkEntry.queries(name)(spark, fixture.getPath)
      .write.format("noop").mode("overwrite").save()
    val tracer = new Tracer(spark)
    tracer.start()
    val counts = names.map { name =>
      clean()
      run(name)
      clean()
      tracer.span(name, "op")(run(name))
      name
    }
    tracer.stop()
    val byName = tracer.ops.map(op => op.name -> tracer.opCounters(op)).toMap
    Files.writeString(out, Stats.json(counts.map(n => n -> byName(n)).toMap))
    spark.stop()
  }
}
