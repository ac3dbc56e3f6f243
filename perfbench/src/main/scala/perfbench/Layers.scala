package perfbench

import graft.assess.{Assessor, ReportRenderer}
import graft.convert.{Db2Renderer, RenderConfig}
import graft.mapping.TypeMapper
import graft.parse.{Db2Parser, StatementSplitter}
import graft.snowflake.{SnowflakeParser, SnowflakeRenderer}

/** Per-layer metrics of a traced run. */
object Layers {

  /** Driver, planning, expression, shuffle and scan counters, as means
    * per traced op. */
  def common(ops: Seq[(Main.Sample, Map[String, Double])]): Map[String, Double] = {
    def mean(k: String) =
      if (ops.isEmpty) 0.0 else ops.map(_._2.getOrElse(k, 0.0)).sum / ops.size
    Map(
      "driver.jobs" -> mean("jobs"),
      "driver.stages" -> mean("stages"),
      "driver.tasks" -> mean("tasks"),
      "driver.gap_ms" -> mean("gap_ms"),
      "plan.analysis_ms" -> mean("analysis_ms"),
      "plan.optimization_ms" -> mean("optimization_ms"),
      "plan.planning_ms" -> mean("planning_ms"),
      "expr.exec_cpu_ms" -> mean("cpu_ms"),
      "expr.gc_ms" -> mean("gc_ms"),
      "expr.codegen_fallback_nodes" -> mean("fallback_exprs"),
      "shuffle.exchanges" -> mean("exchanges"),
      "shuffle.write_bytes" -> mean("shuffle_write_bytes"),
      "shuffle.read_bytes" -> mean("shuffle_read_bytes"),
      "shuffle.spill_bytes" -> mean("spill_bytes"),
      "scan.input_bytes" -> mean("input_bytes"),
      "scan.input_records" -> mean("input_records"),
      "scan.files_read" -> mean("files_read"),
      "trace.ops" -> ops.size.toDouble)
  }

  /** Results of the timed library calls end here, so the JIT cannot
    * drop the calls as dead code. */
  @volatile private var consumed = 0L

  /** Seconds per call of `f` over `xs`, repeated until at least
    * `minSecs` have passed, after as long again untimed to warm the JIT. */
  private def perItem[A](xs: Seq[A], minSecs: Double = 0.15)(f: A => Unit): Double = {
    def repeat(): (Long, Double) = {
      var n = 0L
      val t0 = System.nanoTime()
      var el = 0.0
      while (el < minSecs || n == 0) {
        xs.foreach(f)
        n += xs.size
        el = (System.nanoTime() - t0) / 1e9
      }
      (n, el)
    }
    repeat()
    val (n, el) = repeat()
    el / n
  }

  /** Single-threaded timings of the pure-library layers (split, parse,
    * type-map, render, assess) called directly on `scripts`. */
  def library(scripts: Seq[DdlCorpus.Script]): Map[String, Double] = {
    val cfg = RenderConfig()
    val db2 = scripts.filter(_.dialect == "db2").map(_.ddl)
    val sf = scripts.filter(_.dialect == "sf").map(_.ddl)
    val kb = db2.map(_.length).sum / 1024.0
    var sink = 0L
    val splitS = perItem(db2)(d => sink += StatementSplitter.split(d).size) * db2.size
    val parsed = db2.map(Db2Parser.parse)
    val tables = parsed.flatMap(_.tables)
    val statements = db2.map(d => StatementSplitter.split(d).size).sum
    val parseS = perItem(db2)(d => sink += Db2Parser.parse(d).tables.size) * db2.size
    val columns = tables.flatMap(_.columns)
    val mapS = perItem(columns) { c =>
      sink += TypeMapper.mapType(c.dataType, c.length, c.precision, c.scale,
        c.forBitData, c.ccsid).hashCode
    }
    var ewi = 0
    tables.foreach(t => ewi += Db2Renderer.convertTable(t, cfg)._2)
    val renderS = perItem(tables)(t => sink += Db2Renderer.convertTable(t, cfg)._2)
    val assessS = perItem(tables)(t => sink += Assessor.assessTable(t).columnCount)
    val reports = db2.map(d => (Db2Renderer.convert(d, cfg), Assessor.assess(d)))
    val reportS = perItem(reports) { case (c, a) =>
      sink += ReportRenderer.renderConversion(c, a, DdlMigrate.GeneratedAt).size
    }
    val sfTables = sf.flatMap(SnowflakeParser.parse)
    val sfParseS = perItem(sf)(d => sink += SnowflakeParser.parse(d).size) * sf.size
    val sfRenderS = perItem(sfTables)(t => sink += SnowflakeRenderer.convertTable(t, cfg)._2)
    consumed = sink
    Map(
      "parse.split_us_per_kb" -> splitS * 1e6 / kb,
      "parse.db2_us_per_table" -> parseS * 1e6 / math.max(1, tables.size),
      "parse.statements" -> statements.toDouble,
      "parse.tables" -> tables.size.toDouble,
      "mapping.map_type_ns_per_column" -> mapS * 1e9,
      "mapping.columns" -> columns.size.toDouble,
      "convert.render_us_per_table" -> renderS * 1e6,
      "convert.ewi_markers" -> ewi.toDouble,
      "assess.us_per_table" -> assessS * 1e6,
      "assess.report_us_per_script" -> reportS * 1e6,
      "snowflake.parse_us_per_table" -> sfParseS * 1e6 / math.max(1, sfTables.size),
      "snowflake.render_us_per_table" -> sfRenderS * 1e6)
  }
}
