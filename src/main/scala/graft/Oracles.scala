package graft

/** DuckDB-dialect oracle SQL, kept in lockstep with the Spark-side
  * derivations (graft.fixtures.TimesheetFixture / graft.pipelines).
  * The driver registers each testdata parquet as a bare-named view and
  * runs these against the same scale factor as Verify.
  */
object Oracles {

  private val dayNames =
    Seq("lunedi", "martedi", "mercoledi", "giovedi", "venerdi", "sabato", "domenica")

  private def hourSql(d: Int): String = {
    val v = s"CAST((o_orderkey * ${d + 2} + o_custkey) % 11 AS VARCHAR)"
    s"CASE WHEN (o_orderkey + $d) % 13 = 0 THEN NULL " +
      s"WHEN (o_orderkey + $d) % 17 = 0 THEN 'n/a' " +
      s"WHEN $d = 3 THEN chr(160) || $v || ' ' " +
      s"ELSE $v END AS h_${dayNames(d)}"
  }

  /** The week-start parse for the timesheet fixture's oracles: only the
    * three shapes `TimesheetFixture.wide` writes (day-first slash,
    * day-first dash, ISO; first success wins), not the whole
    * `Cleansing.parseDateLenient` cascade. q225 and q265 prove the other
    * shapes with identity oracles instead. */
  def dateLenientSql(x: String): String =
    s"CAST(coalesce(try_strptime($x, '%d/%m/%Y'), " +
      s"try_strptime($x, '%d-%m-%Y'), try_strptime($x, '%Y-%m-%d')) AS DATE)"

  /** Mirrors TimesheetFixture.wide. */
  val wideCte: String = {
    val hours = (0 until 7).map(hourSql).mkString(", ")
    def range(fmt: String): String =
      s"strftime(date_trunc('week', CAST(o_orderdate AS DATE)), '$fmt') || ' al ' || " +
        s"strftime(date_trunc('week', CAST(o_orderdate AS DATE)) + INTERVAL 6 DAY, '$fmt')"
    "wide AS (SELECT o_orderkey AS rid, o_orderstatus AS sheet, " +
      "CASE WHEN o_orderkey % 97 = 0 THEN 'garbage' " +
      s"WHEN o_orderkey % 7 = 1 THEN ${range("%d-%m-%Y")} " +
      s"WHEN o_orderkey % 7 = 2 THEN ${range("%Y-%m-%d")} " +
      s"ELSE ${range("%d/%m/%Y")} END AS weekrange, " +
      "CASE WHEN o_orderkey % 89 = 0 THEN '  ' ELSE 'Mario ROSSI' || lpad(CAST(o_custkey % 50 AS VARCHAR), 2, '0') END AS autore, " +
      "CASE WHEN o_orderstatus = 'O' THEN 'SHEET-O' ELSE o_orderpriority END AS commessa, " +
      hours + " FROM orders)"
  }

  /** Mirrors Reshape.meltWeek over the wide fixture (nulls retained). */
  val meltCte: String = {
    val branches = dayNames.zipWithIndex.map { case (n, d) =>
      s"SELECT rid, sheet, weekrange, autore, commessa, '$n' AS giorno, $d AS doff, h_$n AS ore_raw FROM wide"
    }
    "melt AS (" + branches.mkString(" UNION ALL ") + ")"
  }

  /** Mirrors TimesheetPipeline.cleansedRecords (P1,P2,P4,P5,P6,P7,P8). */
  val cleanCte: String =
    "clean AS (SELECT rid, commessa, " +
      s"${dateLenientSql("trim(split_part(weekrange, ' al ', 1))")} + doff AS data, " +
      "CASE WHEN trim(autore) = '' THEN 'unknown' ELSE lower(regexp_split_to_array(trim(autore), '\\s+')[-1]) END AS surname, " +
      "coalesce(try_cast(trim(replace(ore_raw, chr(160), '')) AS DOUBLE), 0.0) AS ore, ore_raw " +
      "FROM melt WHERE weekrange LIKE '% al %') , " +
      "kept AS (SELECT rid, commessa, data, surname, ore FROM clean " +
      "WHERE ore_raw IS NOT NULL AND ore <> 0.0 AND data IS NOT NULL)"

  /** Mirrors TimesheetFixture.mapping. */
  val mappingCte: String =
    "mapping(code_raw, code_mapped) AS (VALUES " +
      "('1-URGENT', 'P1-URG'), ('2-HIGH', 'P2-HIGH'), ('3-MEDIUM', 'P3-MED'))"

  /** Full cleansed-record pipeline prefix: wide → melt → clean/kept. */
  val recordsWith: String = s"WITH $wideCte, $meltCte, $cleanCte"

  /** E1 flagship oracle (J1 + A2 on the cleansed records). */
  val flagship: String =
    s"$recordsWith, $mappingCte, " +
      "joined AS (SELECT k.data, k.surname, coalesce(m.code_mapped, k.commessa) AS commessa, k.ore " +
      "FROM kept k LEFT JOIN mapping m ON k.commessa = m.code_raw) " +
      "SELECT data, surname, string_agg(DISTINCT commessa, '; ' ORDER BY commessa) AS commessa, " +
      "sum(ore) AS ore FROM joined GROUP BY data, surname ORDER BY data, surname"
}
