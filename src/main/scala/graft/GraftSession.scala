package graft

import org.apache.spark.sql.SparkSession

/** The one session factory. Bench, Verify, Smoke, every tool and every
  * test suite take their SparkSession from here, so all of them run the
  * engine as it ships: the same extensions, the same shuffle writer and
  * the same timestamp reading.
  *
  * Entry points and tools call [[fromEnv]], which two environment
  * variables shape:
  *   - `SPARK_GRAFT_CPUS` sets the cores (4 when unset);
  *   - `SPARK_GRAFT_CONF="k=v;k=v"` sets any Spark conf, applied last so
  *     it overrides the defaults below (A/B experiments, e.g.
  *     `SPARK_GRAFT_CONF=spark.shuffle.sort.bypassMergeThreshold=200`).
  * Test suites call [[local]] with fixed cores and read neither, so an
  * export left over from an experiment cannot change what they test.
  */
object GraftSession {

  /** The entry-point session: `SPARK_GRAFT_CPUS` cores (else 4) and the
    * `SPARK_GRAFT_CONF` overrides. */
  def fromEnv(): SparkSession =
    local(sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt), envConf)

  /** `SPARK_GRAFT_CONF` parsed into (key, value) pairs, in order. */
  private def envConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
        kv.take(i).trim -> kv.drop(i + 1).trim
      }

  /** A local session on `cpus` cores with `conf` applied last (or the
    * running one: builder confs that cannot change after start are then
    * ignored by Spark). */
  def local(cpus: Int, conf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      // SQL functions (vec_dot, nfc_normalize, hilbert_index), the top-k
      // rank-filter rewrite and its physical operator
      .withExtensions(new graft.ext.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Always the sort-based shuffle writer, never bypass-merge. With
      // partitions = cores every local shuffle sits under the default
      // threshold (200), and bypass-merge opens one file per reducer per
      // map task and NIO-merges them: at local[32] task time ran 7x CPU
      // time, blocked in file creates, mmap copies and the index-commit
      // lock. Production shuffles (R > 200) never bypass, so this also
      // makes local runs take the at-scale writer path.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // TIMESTAMP(NANOS) parquet columns read as long;
      // Sources.normalizeTimestamps turns them back into timestamps
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // tz-naive parquet timestamps read as instants in the UTC session,
      // not TIMESTAMP_NTZ, which streaming watermarks reject and which
      // would diverge from the DuckDB oracle's naive-as-UTC semantics
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // saveAsTable locations must not outlive the in-memory catalog
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
