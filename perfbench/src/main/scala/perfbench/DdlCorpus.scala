package perfbench

import java.util.SplittableRandom

/** Seeded DB2 and Snowflake DDL scripts, built from the grammar of the
  * engine's embedded golden samples: renamed schemas and tables, varied
  * column types and modifiers, inline and two-pass (ALTER TABLE,
  * DISTRIBUTE BY HASH) constraints and partitions, comments, and the
  * temporary, volatile, transient, dynamic, external and hybrid table
  * kinds. */
object DdlCorpus {

  final case class Script(id: String, job: Int, dialect: String, ddl: String, tables: Int)

  /** An oversize length or retention literal. The reference reads these
    * as Python ints; they do not fit a JVM Int. */
  val HostileLiteral = "99999999999"

  private val Schemas = Seq("SALES", "HR", "FINANCE", "INVENTORY", "ANALYTICS",
    "GEO", "SYSTEM", "SECURE", "STAGING", "RAW", "OPERATIONAL", "CATALOG")
  private val Words = Seq("ID", "NAME", "CODE", "DATE", "TS", "AMOUNT", "QTY",
    "STATUS", "TYPE", "DESC", "KEY", "VALUE", "FLAG", "NOTE", "PRICE", "REF")

  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def chance(r: SplittableRandom, p: Double): Boolean = r.nextDouble() < p

  /** Tables in a regular script at quantile q: 1 to 29, log-uniform, so
    * most scripts are small. */
  def regularSize(q: Double): Int = math.min(29, math.exp(q * math.log(30)).toInt.max(1))

  /** Tables in a schema dump at quantile q: 200 to 2,000, log-uniform. */
  def dumpSize(q: Double): Int = (200 * math.pow(10, q)).round.toInt

  private def db2Type(r: SplittableRandom, hostile: Boolean): String = {
    if (hostile) return s"VARCHAR($HostileLiteral)"
    r.nextInt(30) match {
      case 0 | 1 | 2 | 3 => "INTEGER"
      case 4 => "INT"
      case 5 | 6 => "BIGINT"
      case 7 => "SMALLINT"
      case 8 | 9 => s"DECIMAL(${5 + r.nextInt(27)},${r.nextInt(5)})"
      case 10 => s"NUMERIC(${5 + r.nextInt(20)},${r.nextInt(3)})"
      case 11 => pick(r, Seq("REAL", "DOUBLE", "FLOAT"))
      case 12 => s"DECFLOAT(${pick(r, Seq(16, 34))})"
      case 13 | 14 | 15 | 16 => s"VARCHAR(${pick(r, Seq(10, 20, 50, 100, 255, 500, 4000))})"
      case 17 | 18 => s"CHAR(${1 + r.nextInt(20)})"
      case 19 => s"CHAR(${1 + r.nextInt(16)}) FOR BIT DATA"
      case 20 => pick(r, Seq("CLOB(1M)", "BLOB(100K)", "DBCLOB(64K)"))
      case 21 => s"${pick(r, Seq("GRAPHIC", "VARGRAPHIC"))}(${1 + r.nextInt(100)})"
      case 22 => s"${pick(r, Seq("BINARY", "VARBINARY"))}(${1 + r.nextInt(64)})"
      case 23 | 24 => "DATE"
      case 25 => "TIME"
      case 26 | 27 => pick(r, Seq("TIMESTAMP", "TIMESTAMP(6)", "TIMESTAMP(12)"))
      case 28 => pick(r, Seq("XML", "ROWID"))
      case _ => "BOOLEAN"
    }
  }

  private def db2Table(r: SplittableRandom, schema: String, name: String,
      earlier: IndexedSeq[(String, String)], hostile: Boolean,
      sb: StringBuilder, alters: StringBuilder): Unit = {
    val nCols = 3 + math.exp(r.nextDouble() * math.log(38)).toInt
    val cols = (1 to nCols).map(i => s"${pick(r, Words)}_$i")
    val kind = r.nextInt(50)
    val head =
      if (kind == 0) s"CREATE VOLATILE TABLE SESSION.$name ("
      else if (kind == 1) s"CREATE GLOBAL TEMPORARY TABLE SESSION.$name ("
      else if (kind == 2) s"DECLARE GLOBAL TEMPORARY TABLE SESSION.$name ("
      else s"CREATE TABLE $schema.$name ("
    sb.append("-- ").append(name.toLowerCase).append(" table\n").append(head).append('\n')
    val defs = cols.zipWithIndex.map { case (c, i) =>
      val ty = if (i == 0) pick(r, Seq("INTEGER", "BIGINT")) else db2Type(r, hostile && i == 1)
      val mods = new StringBuilder
      if (i == 0 || chance(r, 0.3)) mods.append(" NOT NULL")
      if (i == 0 && chance(r, 0.1)) mods.append(" GENERATED ALWAYS AS IDENTITY")
      else if (i == 0 && chance(r, 0.05)) mods.append(" GENERATED BY DEFAULT AS IDENTITY")
      if (i > 0 && chance(r, 0.08)) mods.append(pick(r, Seq(" DEFAULT 1", " DEFAULT 'N'", " DEFAULT CURRENT DATE")))
      if (i > 0 && chance(r, 0.02)) mods.append(s" FIELDPROC FP_$i")
      if (i > 0 && chance(r, 0.02)) mods.append(" CCSID UNICODE")
      s"    $c $ty$mods"
    }.toBuffer
    val inlinePk = chance(r, 0.75)
    if (inlinePk) defs += s"    PRIMARY KEY (${cols.take(1 + r.nextInt(2).min(nCols - 1)).mkString(", ")})"
    if (chance(r, 0.2)) defs += s"    UNIQUE (${cols(nCols - 1)})"
    if (earlier.nonEmpty && chance(r, 0.2)) {
      val (s, t) = pick(r, earlier)
      defs += s"    FOREIGN KEY (${cols(0)}) REFERENCES $s.$t(${cols(0)})"
    }
    if (chance(r, 0.08)) defs += s"    CONSTRAINT CK_$name CHECK (${cols(0)} > 0)"
    sb.append(defs.mkString(",\n")).append("\n)")
    if (chance(r, 0.1)) sb.append(s" IN TS_${pick(r, Schemas)}")
    if (chance(r, 0.04)) sb.append(s" EDITPROC EP_$name")
    if (chance(r, 0.03)) sb.append(s" VALIDPROC VP_$name")
    if (chance(r, 0.05)) sb.append(" AUDIT CHANGES")
    if (chance(r, 0.05)) sb.append(" DATA CAPTURE CHANGES")
    if (chance(r, 0.1)) sb.append(s" PARTITION BY RANGE (${cols(math.min(1, nCols - 1))})")
    sb.append(";\n\n")
    if (chance(r, 0.05)) sb.append(s"DISTRIBUTE BY HASH (${cols(0)});\n\n")
    if (!inlinePk && chance(r, 0.5))
      alters.append(s"ALTER TABLE $schema.$name ADD CONSTRAINT PK_$name PRIMARY KEY (${cols(0)});\n")
    if (chance(r, 0.05))
      alters.append(s"ALTER TABLE $schema.$name PARTITION BY HASH (${cols(0)});\n")
  }

  private def sfType(r: SplittableRandom): String = r.nextInt(22) match {
    case 0 | 1 | 2 | 3 => s"NUMBER(${pick(r, Seq(38, 18, 10, 5))},${pick(r, Seq(0, 0, 2, 4))})"
    case 4 | 5 | 6 | 7 => s"VARCHAR(${pick(r, Seq(20, 50, 100, 255, 4000))})"
    case 8 => "VARCHAR"
    case 9 => pick(r, Seq("TEXT", "STRING"))
    case 10 | 11 => "DATE"
    case 12 | 13 => pick(r, Seq("TIMESTAMP_NTZ", "TIMESTAMP_LTZ", "TIMESTAMP_TZ"))
    case 14 => "BOOLEAN"
    case 15 => pick(r, Seq("FLOAT", "DOUBLE"))
    case 16 => "VARIANT"
    case 17 => pick(r, Seq("OBJECT", "ARRAY"))
    case 18 => "GEOGRAPHY"
    case 19 => "BINARY"
    case 20 => "TIME"
    case _ => "INTEGER"
  }

  private def sfTable(r: SplittableRandom, schema: String, name: String,
      earlier: IndexedSeq[(String, String)], hostile: Boolean, sb: StringBuilder): Unit = {
    val nCols = 2 + math.exp(r.nextDouble() * math.log(30)).toInt
    val cols = (1 to nCols).map(i => s"${pick(r, Words)}_$i")
    val kind = r.nextInt(40)
    val full = s"$schema.$name"
    sb.append("-- ").append(name.toLowerCase).append('\n')
    if (kind == 0) {
      sb.append(s"CREATE OR REPLACE EXTERNAL TABLE $full (\n")
      sb.append(cols.map(c => s"    $c VARCHAR AS (VALUE:${c.toLowerCase}::VARCHAR)").mkString(",\n"))
      sb.append(s"\n)\nWITH LOCATION = @$schema.STAGE_$name/\nAUTO_REFRESH = TRUE\nFILE_FORMAT = (TYPE = JSON);\n\n")
      return
    }
    val head = kind match {
      case 1 | 2 => "CREATE TEMPORARY TABLE"
      case 3 | 4 => "CREATE TRANSIENT TABLE"
      case 5 => "CREATE OR REPLACE DYNAMIC TABLE"
      case 6 => "CREATE OR REPLACE HYBRID TABLE"
      case _ => "CREATE OR REPLACE TABLE"
    }
    sb.append(s"$head $full (\n")
    val defs = cols.zipWithIndex.map { case (c, i) =>
      val mods = new StringBuilder
      if (i == 0 || chance(r, 0.25)) mods.append(" NOT NULL")
      if (i == 0 && chance(r, 0.15)) mods.append(" AUTOINCREMENT")
      if (i > 0 && chance(r, 0.08)) mods.append(pick(r, Seq(" DEFAULT CURRENT_TIMESTAMP()", " DEFAULT 0", " DEFAULT TRUE")))
      if (i > 0 && chance(r, 0.05)) mods.append(s" COMMENT 'column $i'")
      s"    $c ${if (i == 0) "NUMBER(38,0)" else sfType(r)}$mods"
    }.toBuffer
    if (chance(r, 0.7)) defs += s"    PRIMARY KEY (${cols(0)})"
    if (chance(r, 0.15)) defs += s"    UNIQUE (${cols(nCols - 1)})"
    if (earlier.nonEmpty && chance(r, 0.2)) {
      val (s, t) = pick(r, earlier)
      defs += s"    FOREIGN KEY (${cols(0)}) REFERENCES $s.$t(${cols(0)})"
    }
    sb.append(defs.mkString(",\n")).append("\n)")
    if (kind == 5)
      sb.append(s"\nTARGET_LAG = '1 hour'\nWAREHOUSE = COMPUTE_WH\nAS\nSELECT ${cols(0)} FROM $full")
    else {
      if (chance(r, 0.3)) sb.append(s"\nCLUSTER BY (${cols.take(1 + r.nextInt(2).min(nCols - 1)).mkString(", ")})")
      if (hostile) sb.append(s"\nDATA_RETENTION_TIME_IN_DAYS = $HostileLiteral")
      else if (chance(r, 0.2)) sb.append(s"\nDATA_RETENTION_TIME_IN_DAYS = ${1 + r.nextInt(90)}")
      if (chance(r, 0.1)) sb.append("\nCHANGE_TRACKING = TRUE")
      if (chance(r, 0.2)) sb.append(s"\nCOMMENT = '$name table'")
    }
    sb.append(";\n\n")
  }

  /** One script of `nTables` tables. A hostile script carries one
    * oversize literal in its first table. */
  def script(r: SplittableRandom, id: String, job: Int, dialect: String,
      nTables: Int, hostile: Boolean = false): Script = {
    val sb = new StringBuilder
    val alters = new StringBuilder
    sb.append(s"-- ============================================\n-- $id: generated $dialect DDL\n")
      .append("-- ============================================\n\n")
    val tag = id.filter(_.isLetterOrDigit).takeRight(6).toUpperCase
    val earlier = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    for (t <- 0 until nTables) {
      val schema = pick(r, Schemas)
      val name = s"T${tag}_$t"
      if (dialect == "db2") db2Table(r, schema, name, earlier.toIndexedSeq, hostile && t == 0, sb, alters)
      else sfTable(r, schema, name, earlier.toIndexedSeq, hostile && t == 0, sb)
      earlier += schema -> name
    }
    if (alters.nonEmpty) sb.append("-- two-pass linkage\n").append(alters)
    Script(id, job, dialect, sb.toString, nTables)
  }

  /** `jobs` slices of `perJob` scripts, about 3:1 DB2 to Snowflake.
    * Each slice holds `dumpsPerJob` schema dumps. Script sizes are
    * evenly spaced quantiles of their distributions, dealt in seeded
    * order: every seed gets the same dump sizes, and every slice the
    * same regular sizes, so slices and seeds carry comparable work. */
  def corpus(seed: Long, jobs: Int, perJob: Int, dumpsPerJob: Int): Seq[Script] = {
    val r = new SplittableRandom(seed)
    def shuffledQuantiles(n: Int): Array[Double] = {
      val qs = Array.tabulate(n)(k => (k + 0.5) / n)
      for (k <- qs.indices.reverse) { val j = r.nextInt(k + 1); val t = qs(k); qs(k) = qs(j); qs(j) = t }
      qs
    }
    val dumpQ = shuffledQuantiles(jobs * dumpsPerJob)
    (0 until jobs).flatMap { j =>
      val regularQ = shuffledQuantiles(perJob - dumpsPerJob)
      (0 until perJob).map { s =>
        val dialect = if (s % 4 == 3) "sf" else "db2"
        val size =
          if (s < dumpsPerJob) dumpSize(dumpQ(j * dumpsPerJob + s))
          else regularSize(regularQ(s - dumpsPerJob))
        script(r.split(), f"j$j%03d_s$s%04d", j, dialect, size)
      }
    }
  }

  /** The fixed hostile scripts: one DB2 and one Snowflake. */
  def hostile(seed: Long): Seq[Script] = {
    val r = new SplittableRandom(seed ^ 0x5eed)
    Seq(script(r, "hostile_db2", -1, "db2", 3, hostile = true),
      script(r, "hostile_sf", -1, "sf", 3, hostile = true))
  }
}
