package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expressions.LenientDate
import graft.fixtures.TimesheetFixture
import graft.ops._
import graft.pipelines.TimesheetPipeline
import Common._

/** The timesheet pipeline and its layers: wide-sheet sources, the
  * lenient week parse, unpivot, lookup, set-join aggregates, keyed merges,
  * file round trips and xlsx read/write/merge. */
private[graft] object TimesheetQueries {

  def all: Seq[Query] = Seq(
    // ───── E1 flagship: scan → unpivot → cleanse → join → agg ─────
    Query("q01_e1_flagship", (s, dir) => TimesheetPipeline.flagship(s, dir),
      oracle = Oracles.flagship),

    // ───── S2: heterogeneous multi-sheet union with column defaulting ─────
    Query("q02_union_sheets", { (s, dir) =>
      val o = t(s, dir, "orders")
      val sheetF = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderpriority").as("commessa"),
          col("o_totalprice").as("val"))
      val sheetO = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_totalprice").as("val")) // no commessa
      val sheetP = o.filter(col("o_orderstatus") === "P")
        .select(col("o_orderkey"), col("o_orderpriority").as("commessa")) // no val
      Sources.unionSheets(
          Seq("F" -> sheetF, "O" -> sheetO, "P" -> sheetP), defaultCol = "commessa")
        .orderBy("o_orderkey")
    },
      oracle = "SELECT o_orderkey, o_orderpriority AS commessa, o_totalprice AS val, 'F' AS _sheet FROM orders WHERE o_orderstatus = 'F' " +
        "UNION ALL SELECT o_orderkey, 'O', o_totalprice, 'O' FROM orders WHERE o_orderstatus = 'O' " +
        "UNION ALL SELECT o_orderkey, o_orderpriority, NULL, 'P' FROM orders WHERE o_orderstatus = 'P' " +
        "ORDER BY o_orderkey"),

    // ───── P1/P2/P4/P5: scalar cleansing layer ─────
    Query("q03_cleanse_scalars", { (s, dir) =>
      TimesheetFixture.wide(s, dir).select(
          col("rid"),
          Cleansing.weekStart(col("weekrange")).as("week_start"),
          Cleansing.surname(col("autore")).as("surname"),
          Cleansing.cleanHours(col("h_giovedi")).as("ore_gio"))
        .orderBy("rid")
    },
      oracle = s"WITH ${Oracles.wideCte} SELECT rid, " +
        s"${Oracles.dateLenientSql("trim(split_part(weekrange, ' al ', 1))")} AS week_start, " +
        "CASE WHEN trim(autore) = '' THEN 'unknown' ELSE lower(regexp_split_to_array(trim(autore), '\\s+')[-1]) END AS surname, " +
        "coalesce(try_cast(trim(replace(h_giovedi, chr(160), '')) AS DOUBLE), 0.0) AS ore_gio " +
        "FROM wide ORDER BY rid"),

    // ───── R1: weekday unpivot ─────
    Query("q04_unpivot", { (s, dir) =>
      Reshape.meltWeek(TimesheetFixture.wide(s, dir),
          idCols = Seq("rid", "sheet", "weekrange", "autore", "commessa"))
        .filter(col("ore_raw").isNotNull)
        .select("rid", "giorno", "doff", "ore_raw")
        .orderBy("rid", "doff")
    },
      oracle = s"WITH ${Oracles.wideCte}, ${Oracles.meltCte} " +
        "SELECT rid, giorno, doff, ore_raw FROM melt WHERE ore_raw IS NOT NULL ORDER BY rid, doff"),

    // ───── J1/P3: broadcast lookup join with fall-through default ─────
    Query("q05_lookup_join", { (s, dir) =>
      import s.implicits._
      val m = Seq(("BUILDING", "B2B"), ("AUTOMOBILE", "AUTO"))
        .toDF("seg_raw", "seg_mapped")
      Lookup.mapWithDefault(
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment").as("segment")),
          "segment", m)
        .orderBy("c_custkey")
    },
      oracle = "WITH m(seg_raw, seg_mapped) AS (VALUES ('BUILDING', 'B2B'), ('AUTOMOBILE', 'AUTO')) " +
        "SELECT c_custkey, coalesce(m.seg_mapped, c.c_mktsegment) AS segment " +
        "FROM customer c LEFT JOIN m ON c.c_mktsegment = m.seg_raw ORDER BY c_custkey"),

    // ───── A2: distinct-set string-join + sum aggregate ─────
    Query("q07_agg_setjoin", { (s, dir) =>
      val li = t(s, dir, "lineitem").select(
        col("l_shipdate").cast("date").as("data"),
        col("l_returnflag").as("surname"),
        col("l_linestatus").as("commessa"),
        col("l_quantity").as("ore"))
      Aggregates.setJoinSum(li, Seq("data", "surname"), "commessa", "ore")
        .orderBy("data", "surname")
    },
      oracle = "SELECT CAST(l_shipdate AS DATE) AS data, l_returnflag AS surname, " +
        "string_agg(DISTINCT l_linestatus, '; ' ORDER BY l_linestatus) AS commessa, " +
        "sum(l_quantity) AS ore FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"),

    // ───── S5/J2: update-only keyed merge ─────
    Query("q08_merge_update", { (s, dir) =>
      val target = t(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderpriority").as("commessa"),
        col("o_totalprice").as("ore"))
      val updates = Aggregates.setJoinSum(
        t(s, dir, "lineitem").select(
          col("l_orderkey").as("o_orderkey"),
          col("l_returnflag").as("commessa"),
          col("l_quantity").as("ore")),
        Seq("o_orderkey"), "commessa", "ore")
      MergeUpdate.updateOnly(target, updates, Seq("o_orderkey"),
          Map("commessa" -> "commessa", "ore" -> "ore"))
        .orderBy("o_orderkey")
    },
      oracle = "WITH u AS (SELECT l_orderkey, string_agg(DISTINCT l_returnflag, '; ' ORDER BY l_returnflag) AS c, " +
        "sum(l_quantity) AS s FROM lineitem GROUP BY 1) " +
        "SELECT o_orderkey, coalesce(u.c, o_orderpriority) AS commessa, coalesce(u.s, o_totalprice) AS ore " +
        "FROM orders o LEFT JOIN u ON o.o_orderkey = u.l_orderkey ORDER BY o_orderkey"),

    // ───── SCD2: history-keeping dimension merge (S5's insert-capable dual) ─────
    Query("q56_scd2_merge", { (s, dir) =>
      val dim = t(s, dir, "customer").select(
        col("c_custkey").as("k"), col("c_mktsegment").as("attr"),
        lit(java.sql.Date.valueOf("2024-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"))
      // every 3rd key updates (half changed, half identical); some brand-new keys
      val c = t(s, dir, "customer")
      val updates = c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("k"),
          when(col("c_custkey") % 2 === 0, col("c_mktsegment"))
            .otherwise(concat(lit("SEG-"), col("c_mktsegment"))).as("attr"))
        .union(c.filter(col("c_custkey") % 500 === 0)
          .select((col("c_custkey") + 10000000L).as("k"), lit("NEWSEG").as("attr")))
      MergeUpdate.scd2(dim, updates, Seq("k"), "attr", "valid_from", "valid_to",
          lit(java.sql.Date.valueOf("2024-06-01")))
        .orderBy("k", "valid_from")
    },
      oracle = "WITH dim AS (SELECT c_custkey AS k, c_mktsegment AS attr, " +
        "DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to FROM customer), " +
        "upd AS (SELECT c_custkey AS k, CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment " +
        "ELSE 'SEG-' || c_mktsegment END AS attr FROM customer WHERE c_custkey % 3 = 0 " +
        "UNION ALL SELECT c_custkey + 10000000, 'NEWSEG' FROM customer WHERE c_custkey % 500 = 0), " +
        "j AS (SELECT coalesce(d.k, u.k) AS k, d.attr AS old_attr, u.attr AS new_attr, " +
        "d.valid_from FROM dim d FULL JOIN upd u ON d.k = u.k), " +
        "kept AS (SELECT k, old_attr AS attr, valid_from, " +
        "CASE WHEN new_attr IS NOT NULL AND new_attr <> old_attr THEN DATE '2024-06-01' END AS valid_to " +
        "FROM j WHERE old_attr IS NOT NULL), " +
        "opened AS (SELECT k, new_attr AS attr, DATE '2024-06-01' AS valid_from, " +
        "CAST(NULL AS DATE) AS valid_to FROM j " +
        "WHERE old_attr IS NULL OR (new_attr IS NOT NULL AND new_attr <> old_attr)) " +
        "SELECT * FROM kept UNION ALL SELECT * FROM opened ORDER BY k, valid_from"),

    // ───── S4: partitioned write + read-back round trip ─────
    Query("q11_part_write", { (s, dir) =>
      val out = scratch("s4_part_write")
      Sinks.writePartitioned(
        TimesheetPipeline.flagshipUnordered(s, dir), "surname", out)
      s.read.parquet(out)
        .groupBy("surname")
        .agg(count(lit(1)).as("n_rows"), sum("ore").as("sum_ore"))
        .orderBy("surname")
    },
      oracle = s"${Oracles.recordsWith}, ${Oracles.mappingCte}, " +
        "joined AS (SELECT k.data, k.surname, coalesce(m.code_mapped, k.commessa) AS commessa, k.ore " +
        "FROM kept k LEFT JOIN mapping m ON k.commessa = m.code_raw), " +
        "agg AS (SELECT data, surname, string_agg(DISTINCT commessa, '; ' ORDER BY commessa) AS commessa, " +
        "sum(ore) AS ore FROM joined GROUP BY data, surname) " +
        "SELECT surname, count(*) AS n_rows, sum(ore) AS sum_ore FROM agg GROUP BY surname ORDER BY surname"),

    // ───── S1 containers: CSV and JSON-lines round trips ─────
    // write a typed extract to the container format, read it back
    // schema-first, aggregate — proves the non-parquet sources preserve
    // types/nulls end to end (oracle = same aggregate off the original)
    Query("q53_csv_roundtrip", { (s, dir) =>
      val out = scratch("csv_roundtrip")
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .write.mode("overwrite").option("header", true).csv(out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE")
      Sources.csvTable(s, out, schema)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("sum_bal"))
        .orderBy("c_mktsegment")
    },
      // round trips change only the storage container, never the values
      oracle = "SELECT c_mktsegment, count(*)::BIGINT AS n, " +
        "round(sum(c_acctbal), 2) AS sum_bal FROM customer GROUP BY 1 ORDER BY 1"),

    Query("q54_json_roundtrip", { (s, dir) =>
      val out = scratch("json_roundtrip")
      t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
        .write.mode("overwrite").json(out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "s_suppkey BIGINT, s_nationkey BIGINT, s_acctbal DOUBLE")
      Sources.jsonTable(s, out, schema)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), round(sum("s_acctbal"), 2).as("sum_bal"))
        .orderBy("s_nationkey")
    },
      oracle = "SELECT s_nationkey, count(*)::BIGINT AS n, " +
        "round(sum(s_acctbal), 2) AS sum_bal FROM supplier GROUP BY 1 ORDER BY 1"),

    Query("q62_orc_roundtrip", { (s, dir) =>
      val out = scratch("orc_roundtrip")
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
        .write.mode("overwrite").orc(out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "p_partkey BIGINT, p_brand STRING, p_retailprice DOUBLE")
      Sources.orcTable(s, out, schema)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), round(sum("p_retailprice"), 2).as("sum_price"))
        .orderBy("p_brand")
    },
      oracle = "SELECT p_brand, count(*)::BIGINT AS n, " +
        "round(sum(p_retailprice), 2) AS sum_price FROM part GROUP BY 1 ORDER BY 1"),

    // ───── E2/E3: the v1/v2 pipeline (case-preserved surname, A1 agg) ─────
    Query("q25_e2_pipeline", (s, dir) => TimesheetPipeline.pipelineV1(s, dir),
      // E2/E3 (v1/v2) pipeline: case-preserving UNKNOWN surname + A1 3-key
      // sum aggregate — mirrors TimesheetPipeline.pipelineV1.
      oracle = s"WITH ${Oracles.wideCte}, ${Oracles.meltCte}, " +
        "cleanv1 AS (SELECT rid, commessa, " +
        s"${Oracles.dateLenientSql("trim(split_part(weekrange, ' al ', 1))")} + doff AS data, " +
        "CASE WHEN trim(autore) = '' THEN 'UNKNOWN' ELSE regexp_split_to_array(trim(autore), '\\s+')[-1] END AS surname, " +
        "coalesce(try_cast(trim(replace(ore_raw, chr(160), '')) AS DOUBLE), 0.0) AS ore, ore_raw " +
        "FROM melt WHERE weekrange LIKE '% al %'), " +
        "keptv1 AS (SELECT data, commessa, surname, ore FROM cleanv1 " +
        "WHERE ore_raw IS NOT NULL AND ore <> 0.0 AND data IS NOT NULL) " +
        "SELECT data, commessa, surname, sum(ore) AS ore FROM keptv1 " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),

    // ───── Bucketed storage: write bucketed tables, join shuffle-free ─────
    Query("q33_bucketed_join", { (s, dir) =>
      for (tbl <- Seq("g33_orders", "g33_lineitem")) {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val loc = new java.io.File(
          new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath, tbl)
        if (loc.exists()) { loc.listFiles().foreach(_.delete()); loc.delete() }
      }
      Sinks.writeBucketed(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        "o_orderkey", 8, "g33_orders")
      Sinks.writeBucketed(
        t(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey"),
          col("l_quantity")),
        "o_orderkey", 8, "g33_lineitem")
      s.table("g33_orders").join(s.table("g33_lineitem"), "o_orderkey")
        .groupBy("o_orderkey")
        .agg(sum("l_quantity").as("sum_qty"),
          max("o_totalprice").as("price"))
        .orderBy("o_orderkey")
    },
      // bucketing/salting change the physical plan, never the result: both
      // oracles are the plain logical join.
      oracle = "SELECT o.o_orderkey, sum(l.l_quantity) AS sum_qty, max(o.o_totalprice) AS price " +
        "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey " +
        "GROUP BY 1 ORDER BY 1"),

    // ───── Pivot: the dual of R1 — long records back to weekday columns ─────
    // explicit value list: pivot without one collects distinct values to
    // the driver first (an extra job, unbounded at scale)
    Query("q44_pivot", { (s, dir) =>
      Reshape.meltWeek(TimesheetFixture.wide(s, dir), idCols = Seq("rid"))
        .withColumn("ore", Cleansing.cleanHours(col("ore_raw")))
        .filter(Cleansing.keepHours(col("ore_raw"), col("ore")))
        .groupBy("rid")
        .pivot("giorno", Reshape.weekdays.map(_._2))
        .agg(round(sum("ore"), 6))
        .orderBy("rid")
    },
      oracle = {
        val cases = Reshape.weekdays.map { case (_, label, _) =>
          s"round(sum(CASE WHEN giorno = '$label' THEN ore END), 6) AS $label"
        }.mkString(", ")
        s"WITH ${Oracles.wideCte}, ${Oracles.meltCte}, " +
          "c AS (SELECT rid, giorno, " +
          "coalesce(try_cast(trim(replace(ore_raw, chr(160), '')) AS DOUBLE), 0.0) AS ore, ore_raw FROM melt), " +
          "k AS (SELECT rid, giorno, ore FROM c WHERE ore_raw IS NOT NULL AND ore <> 0.0) " +
          s"SELECT rid, $cases FROM k GROUP BY rid ORDER BY rid"
      }),

    // ───── classic upsert MERGE (WHEN MATCHED UPDATE / WHEN NOT MATCHED
    // INSERT): updates bump every 7th customer's balance + segment and
    // insert a shifted-key row for every 13th — matched rows take the
    // batch verbatim, new keys append ─────
    Query("q75_upsert_merge", { (s, dir) =>
      val c = t(s, dir, "customer")
      val target = c.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val updates = c.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), lit("UPSERTED").as("u_seg"),
          round(col("c_acctbal") + 100, 2).as("u_bal"))
        .unionByName(c.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            lit("NEWSEG").as("u_seg"), lit(0.0).as("u_bal")))
      MergeUpdate.upsert(target, updates, Seq("c_custkey"),
          Map("c_mktsegment" -> "u_seg", "c_acctbal" -> "u_bal"))
        .withColumn("c_acctbal", round(col("c_acctbal"), 2))
        .orderBy("c_custkey")
    },
      oracle = "WITH upd AS (" +
        "SELECT c_custkey AS k, 'UPSERTED' AS seg, round(c_acctbal + 100, 2) AS bal " +
        "FROM customer WHERE c_custkey % 7 = 0 " +
        "UNION ALL SELECT c_custkey + 1000000, 'NEWSEG', 0.0 " +
        "FROM customer WHERE c_custkey % 13 = 0), " +
        "t AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer) " +
        "SELECT coalesce(t.c_custkey, u.k) AS c_custkey, " +
        "CASE WHEN u.k IS NOT NULL THEN u.seg ELSE t.c_mktsegment END AS c_mktsegment, " +
        "round(CASE WHEN u.k IS NOT NULL THEN u.bal ELSE t.c_acctbal END, 2) AS c_acctbal " +
        "FROM t FULL JOIN upd u ON t.c_custkey = u.k ORDER BY c_custkey"),

    // ───── additive MERGE (incremental view maintenance): a per-customer
    // sales store materialized from pre-cutoff history, the post-cutoff
    // batch merged in as partial-aggregate ADDs — nightly-incremental ≡
    // full-recompute for distributive aggregates, without rescanning
    // history ─────
    Query("q159_additive_merge", { (s, dir) =>
      val orders = t(s, dir, "orders")
      val cut = lit("1999-01-01").cast("timestamp")
      def agg(df: DataFrame) = df.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
      val store = agg(orders.filter(col("o_orderdate") < cut))
      val delta = agg(orders.filter(col("o_orderdate") >= cut))
      MergeUpdate.mergeAdditive(store, delta, Seq("o_custkey"),
          Map("n_orders" -> "n_orders", "sum_price" -> "sum_price"))
        .orderBy("o_custkey")
    },
      // two-stage partials (each 2dp-rounded) added without re-rounding —
      // mirrored exactly, so the float add is bit-identical
      oracle = "WITH s AS (SELECT o_custkey, count(*)::BIGINT AS n_orders, " +
        "round(sum(o_totalprice), 2) AS sum_price FROM orders " +
        "WHERE o_orderdate < TIMESTAMP '1999-01-01' GROUP BY 1), " +
        "d AS (SELECT o_custkey, count(*)::BIGINT AS n_orders, " +
        "round(sum(o_totalprice), 2) AS sum_price FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1999-01-01' GROUP BY 1) " +
        "SELECT coalesce(s.o_custkey, d.o_custkey) AS o_custkey, " +
        "coalesce(s.n_orders, 0) + coalesce(d.n_orders, 0) AS n_orders, " +
        "coalesce(s.sum_price, 0) + coalesce(d.sum_price, 0) AS sum_price " +
        "FROM s FULL JOIN d ON s.o_custkey = d.o_custkey ORDER BY 1"),

    // ───── MERGE with change-data-feed output: the upsert's changes as
    // a Delta/Debezium-shaped feed — insert rows, update pre/post image
    // pairs, and NOTHING for no-op updates (replay-safe); one full-outer
    // join prices the feed at the cost of the merge itself ─────
    Query("q152_cdc_merge", { (s, dir) =>
      val orders = t(s, dir, "orders")
      val target = orders.filter(col("o_orderkey") % 5 =!= 0)
      val noop = col("o_orderkey") % 4 === 0
      val updates = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
          when(noop, col("o_totalprice"))
            .otherwise(col("o_totalprice") + 1000.0).as("new_price"),
          when(noop, col("o_orderstatus")).otherwise(lit("U")).as("new_status"))
      MergeUpdate.upsertWithCdf(target, updates, Seq("o_orderkey"),
          Map("o_totalprice" -> "new_price", "o_orderstatus" -> "new_status"))
        .orderBy("o_orderkey", "_change_type")
    },
      // the upsert's change feed: pre/post pairs for real changes, insert
      // rows for unseen keys, silence for no-op updates
      oracle = "WITH t AS (SELECT * FROM orders WHERE o_orderkey % 5 <> 0), " +
        "u AS (SELECT o_orderkey, CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice " +
        "ELSE o_totalprice + 1000.0 END AS new_price, " +
        "CASE WHEN o_orderkey % 4 = 0 THEN o_orderstatus ELSE 'U' END AS new_status " +
        "FROM orders WHERE o_orderkey % 2 = 0), " +
        "m AS (SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, t.o_totalprice, " +
        "t.o_orderdate, t.o_orderpriority, u.new_price, u.new_status " +
        "FROM t JOIN u USING (o_orderkey) " +
        "WHERE u.new_price IS DISTINCT FROM t.o_totalprice " +
        "OR u.new_status IS DISTINCT FROM t.o_orderstatus) " +
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
        "o_orderpriority, 'update_preimage' AS _change_type FROM m " +
        "UNION ALL SELECT o_orderkey, o_custkey, new_status, new_price, " +
        "o_orderdate, o_orderpriority, 'update_postimage' FROM m " +
        "UNION ALL SELECT u.o_orderkey, NULL, u.new_status, u.new_price, " +
        "NULL, NULL, 'insert' FROM u " +
        "WHERE u.o_orderkey NOT IN (SELECT o_orderkey FROM t) " +
        "ORDER BY o_orderkey, _change_type"),

    // ───── row-level snapshot reconciliation: two derived orders
    // snapshots (dropped rows, inserted rows, price/status edits)
    // full-outer joined on the key → added/removed/changed/unchanged per
    // row with the differing columns named — q188's column-grain profile
    // diff at row grain ─────
    Query("q190_table_diff", { (s, dir) =>
      val o = t(s, dir, "orders")
      val ref = o.filter(col("o_orderkey") % 5 =!= 0)
      val cur = o.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 11 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      MergeUpdate.tableDiff(ref, cur, Seq("o_orderkey"),
          Seq("o_totalprice", "o_orderstatus"))
        .orderBy("o_orderkey")
    },
      // same derived snapshots, full-outer joined; IS DISTINCT FROM is the
      // null-safe compare, concat_ws drops the NULL (unchanged) arms
      oracle = "WITH r AS (SELECT o_orderkey, o_totalprice, o_orderstatus " +
        "FROM orders WHERE o_orderkey % 5 != 0), " +
        "c AS (SELECT o_orderkey, CASE WHEN o_orderkey % 3 = 0 " +
        "THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice, " +
        "CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END " +
        "AS o_orderstatus FROM orders WHERE o_orderkey % 7 != 0), " +
        "j AS (SELECT coalesce(r.o_orderkey, c.o_orderkey) AS o_orderkey, " +
        "r.o_orderkey IS NOT NULL AS in_ref, c.o_orderkey IS NOT NULL AS in_cur, " +
        "concat_ws(';', CASE WHEN r.o_totalprice IS DISTINCT FROM c.o_totalprice " +
        "THEN 'o_totalprice' END, CASE WHEN r.o_orderstatus IS DISTINCT FROM " +
        "c.o_orderstatus THEN 'o_orderstatus' END) AS cc " +
        "FROM r FULL JOIN c ON r.o_orderkey = c.o_orderkey) " +
        "SELECT o_orderkey, CASE WHEN NOT in_ref THEN 'added' " +
        "WHEN NOT in_cur THEN 'removed' WHEN cc != '' THEN 'changed' " +
        "ELSE 'unchanged' END AS diff_status, " +
        "CASE WHEN in_ref AND in_cur AND cc != '' THEN cc END AS changed_cols " +
        "FROM j ORDER BY o_orderkey"),

    // ───── S1, REAL Excel container: typed extract → .xlsx workbook
    // (pure-JDK zip+XML codec, Xlsx.scala) → read back through the
    // binaryFile-scan parser → strict re-cast. Dates round-trip through
    // Excel serials + date styles; the oracle is the same extract off
    // the original parquet — container round trip is content identity ─────
    Query("q222_xlsx_roundtrip", { (s, dir) =>
      val out = scratch("xlsx_roundtrip")
      Xlsx.writeSheet(
        t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey"), col("o_orderdate"),
            col("o_totalprice"), col("o_orderpriority")),
        s"$out/orders.xlsx")
      Xlsx.readSheet(s, s"$out/orders.xlsx", Some("Sheet1"))
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("o_orderpriority"))
        .orderBy("o_orderkey")
    },
      // container round trip is content identity: the oracle is the same
      // extract straight off the parquet table
      oracle = "SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority " +
        "FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey"),

    // ───── S2/S4, Excel container: the reference's one-sheet-per-key
    // workbook (v1:91-100) written for real — per-segment sheets in ONE
    // workbook, key column dropped per sheet, read back via the
    // all-sheets scan with the sheet name as lineage ─────
    Query("q223_xlsx_sheets", { (s, dir) =>
      val out = scratch("xlsx_sheets")
      Xlsx.writeSheets(
        t(s, dir, "customer")
          .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal")),
        "c_mktsegment", s"$out/segments.xlsx")
      Xlsx.readSheet(s, s"$out/segments.xlsx", sheet = None)
        .groupBy(col("_sheet").as("segment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal").cast("double")), 2).as("sum_bal"))
        .orderBy("segment")
    },
      // per-sheet fan-out + union-back ≡ a plain GROUP BY on the source
      oracle = "SELECT c_mktsegment AS segment, count(*)::BIGINT AS n, " +
        "round(sum(c_acctbal)::DOUBLE, 2) AS sum_bal " +
        "FROM customer GROUP BY 1 ORDER BY 1"),

    // ───── S5 END TO END through the REAL container, IN PLACE — the
    // reference's final script (timesheet_transform.py:98-138) exactly:
    // write a per-surname target workbook, read it back, and PATCH ONLY
    // the matched rows' commessa/ore cells through the style-preserving
    // patch-through writer (Xlsx.patchSheets — every untouched zip part
    // and cell span stays byte-verbatim; update matched, never insert),
    // then read the patched workbook AGAIN. The oracle is the pure-SQL
    // merge on the source table ─────
    Query("q224_xlsx_merge", { (s, dir) =>
      val out = scratch("xlsx_merge")
      val orders = t(s, dir, "orders")
      val target = orders
        .groupBy(col("o_orderpriority").as("surname"),
          col("o_orderdate").as("data"))
        .agg(min(col("o_orderstatus")).as("commessa"),
          round(sum(col("o_totalprice")), 2).as("ore"))
      Xlsx.writeSheets(target.select(col("surname"), col("data"),
        col("commessa"), col("ore")), "surname", s"$out/target.xlsx")
      val updates = orders.filter(col("o_orderkey") % 3 === 0)
        .groupBy(lower(col("o_orderpriority")).as("_k"),
          col("o_orderdate").as("data"))
        .agg(concat_ws("; ", sort_array(collect_set(col("o_orderstatus"))))
            .as("u_commessa"),
          round(sum(col("o_totalprice")), 2).as("u_ore"))
      val back = Xlsx.readSheet(s, s"$out/target.xlsx", sheet = None)
      // matched (sheet, row) → new cell values: the reference's
      // case-insensitive surname + day-granularity date match
      val patch = back
        .select(col("_sheet"), col("_row"), lower(col("_sheet")).as("bk"),
          col("data").cast("date").as("bdata"))
        .join(updates.select(col("_k").as("uk"), col("data").as("udata"),
          col("u_commessa"), col("u_ore")),
          col("bk") === col("uk") && col("bdata") === col("udata"))
        .select(col("_sheet"), col("_row"),
          col("u_commessa").as("commessa"), col("u_ore").as("ore"))
      Xlsx.patchSheets(s, s"$out/target.xlsx", s"$out/updated.xlsx",
        patch, Seq("commessa", "ore"))
      Xlsx.readSheet(s, s"$out/updated.xlsx", sheet = None)
        .select(col("_sheet").as("surname"),
          col("data").cast("date").as("data"),
          col("commessa"), col("ore").cast("double").as("ore"))
        .orderBy("surname", "data")
    },
      // the two container cycles are content identity, so the oracle is
      // q08's merge shape in pure SQL: grouped target LEFT JOIN grouped
      // updates on (lower(key), date), coalesce per set column
      oracle = "WITH t AS (SELECT o_orderpriority AS surname, o_orderdate AS data, " +
        "min(o_orderstatus) AS commessa, " +
        "round(sum(o_totalprice)::DOUBLE, 2) AS ore " +
        "FROM orders GROUP BY 1, 2), " +
        "u AS (SELECT lower(o_orderpriority) AS k, o_orderdate AS data, " +
        "string_agg(DISTINCT o_orderstatus, '; ' ORDER BY o_orderstatus) AS u_commessa, " +
        "round(sum(o_totalprice)::DOUBLE, 2) AS u_ore " +
        "FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1, 2) " +
        "SELECT t.surname, t.data AS data, " +
        "coalesce(u.u_commessa, t.commessa) AS commessa, " +
        "coalesce(u.u_ore, t.ore) AS ore " +
        "FROM t LEFT JOIN u ON lower(t.surname) = u.k AND t.data = u.data " +
        "ORDER BY surname, t.data"),

    // ───── P2 lenient-date cascade, oracle-proven over EVERY branch:
    // each order date renders into one of ten dirty shapes (slash /
    // dash / ISO / dotted / compact / short + full month names /
    // ordinal-suffix days / two-digit years) and parses back through
    // Cleansing.parseDateLenient. The oracle is the IDENTITY — the
    // cascade must invert every rendering exactly, including the POSIX
    // two-digit-year pivot (TPC-H's 199x dates exercise the 19xx arm) ─────
    Query("q225_date_cascade", { (s, dir) =>
      val d0 = col("o_orderdate").cast("date")
      val day = dayofmonth(d0)
      val suf = when(pmod(day, lit(100)).isin(11, 12, 13), lit("th"))
        .when(pmod(day, lit(10)) === 1, lit("st"))
        .when(pmod(day, lit(10)) === 2, lit("nd"))
        .when(pmod(day, lit(10)) === 3, lit("rd"))
        .otherwise(lit("th"))
      val shape = pmod(col("o_orderkey"), lit(17))
      val m = month(d0)
      val yr = year(d0).cast("string")
      // deterministic synthetic time-of-day for the datetime shapes —
      // the parse must TRUNCATE it away (timesheet_transform.py:122-125)
      val hh = pmod(col("o_orderkey"), lit(24)).cast("string")
      val mm = lpad(pmod(col("o_orderkey") * 7, lit(60)).cast("string"),
        2, "0")
      val ss = lpad(pmod(col("o_orderkey") * 13, lit(60)).cast("string"),
        2, "0")
      val rendered = when(shape === 0, date_format(d0, "d/M/yyyy"))
        .when(shape === 1, date_format(d0, "d-M-yyyy"))
        .when(shape === 2, date_format(d0, "yyyy-MM-dd"))
        .when(shape === 3, date_format(d0, "d.M.yyyy"))
        .when(shape === 4, date_format(d0, "yyyyMMdd"))
        .when(shape === 5, date_format(d0, "d MMM yyyy"))
        .when(shape === 6, date_format(d0, "MMMM d, yyyy"))
        .when(shape === 7, date_format(d0, "d MMMM yyyy"))
        .when(shape === 8, concat(day.cast("string"), suf, lit(" "),
          date_format(d0, "MMMM yyyy")))
        .when(shape === 9, date_format(d0, "d/M/yy"))
        // locale month names (the reference is an Italian tool): Italian
        // full + abbreviated, French accented, German "5. März 2025"
        // day-dot convention, Spanish "de" connective
        .when(shape === 10, concat(day.cast("string"), lit(" "),
          element_at(typedlit(LenientDate.monthsIt), m), lit(" "), yr))
        .when(shape === 11, concat(day.cast("string"), lit(" "),
          element_at(typedlit(LenientDate.monthsItAbbr), m), lit(" "), yr))
        .when(shape === 12, concat(day.cast("string"), lit(" "),
          element_at(typedlit(LenientDate.monthsFr), m), lit(" "), yr))
        .when(shape === 13, concat(day.cast("string"), lit(". "),
          initcap(element_at(typedlit(LenientDate.monthsDe), m)), lit(" "), yr))
        .when(shape === 14, concat(day.cast("string"), lit(" de "),
          element_at(typedlit(LenientDate.monthsEs), m), lit(" de "), yr))
        // datetime strings: the reference's target-cell pd.to_datetime
        // accepts these and .date() truncates — the cascade must too
        .when(shape === 15, concat(date_format(d0, "d/M/yyyy"), lit(" "),
          hh, lit(":"), mm))
        .otherwise(concat(date_format(d0, "yyyy-MM-dd"),
          when(col("o_orderkey") % 2 === 0, lit("T")).otherwise(lit(" ")),
          hh, lit(":"), mm, lit(":"), ss))
      // balanced scan (r11): the 17-shape render + full lenient-parse
      // cascade is the heaviest per-row expression in the suite, and the
      // single-row-group orders file made it run on ONE core (measured
      // 7.2 s at c32 AND c8 — parallelism-blind). tb() spreads it.
      tb(s, dir, "orders")
        .select(col("o_orderkey").as("k"), shape.as("shape"),
          Cleansing.parseDateLenient(rendered).as("parsed"))
        .orderBy("k")
    },
      // the cascade must be the exact inverse of every rendering, so the
      // oracle needs no date logic at all — it selects the ORIGINAL date
      oracle = "SELECT o_orderkey AS k, (o_orderkey % 17)::BIGINT AS shape, " +
        "o_orderdate AS parsed FROM orders ORDER BY k"),

    // ───── xlsx as a CORPUS format, end to end: one workbook per source
    // written fully in PARALLEL (one shuffle by key), then the
    // multi-workbook glob scan — binaryFile distributes the FILES, each
    // executor parses its own workbooks' bytes — with the key recovered
    // from file lineage. The 100 TB xlsx story (per-file parallelism)
    // as an oracle-proven row, not just a spec ─────
    Query("q251_xlsx_corpus", { (s, dir) =>
      val out = scratch("xlsx_corpus")
      Xlsx.writeWorkbooks(
        t(s, dir, "documents").select(col("source"), col("doc_id"),
          col("n_chars")),
        "source", out)
      Xlsx.readSheet(s, s"$out/*.xlsx")
        .select(regexp_extract(col("_file"), "([^/]+)\\.xlsx$", 1).as("source"),
          col("doc_id").cast("bigint").as("doc_id"),
          col("n_chars").cast("bigint").as("n_chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("source")
    },
      // the parallel per-source workbook fan-out + glob scan is content
      // identity, so the oracle is a plain GROUP BY on the source table
      oracle = "SELECT source, count(*)::BIGINT AS n_docs, " +
        "sum(n_chars)::BIGINT AS sum_chars, min(doc_id)::BIGINT AS min_id, " +
        "max(doc_id)::BIGINT AS max_id FROM documents " +
        "GROUP BY source ORDER BY source"),

    // ───── Yearless free-form dates (dateutil's last leniency shape:
    // "Wed, March 5", "March 5th", "5 March", "5/3") — the fill year is
    // an EXPLICIT parameter, not the run date; identity oracle over a
    // single-year slice, the q225 posture ─────
    Query("q265_date_yearless", { (s, dir) =>
      val d0 = col("o_orderdate").cast("date")
      val day = dayofmonth(d0)
      val suf = when(pmod(day, lit(100)).isin(11, 12, 13), lit("th"))
        .when(pmod(day, lit(10)) === 1, lit("st"))
        .when(pmod(day, lit(10)) === 2, lit("nd"))
        .when(pmod(day, lit(10)) === 3, lit("rd"))
        .otherwise(lit("th"))
      val shape = pmod(col("o_orderkey"), lit(6))
      val rendered = when(shape === 0, date_format(d0, "EEEE, MMMM d"))
        .when(shape === 1, date_format(d0, "EEE, MMM d"))
        .when(shape === 2, date_format(d0, "MMMM d"))
        .when(shape === 3, date_format(d0, "d MMMM"))
        .when(shape === 4, date_format(d0, "d/M"))
        .otherwise(concat(date_format(d0, "MMMM "), day.cast("string"), suf))
      // balanced scan (r11): same single-core cascade fix as q225
      tb(s, dir, "orders")
        .filter(year(d0) === 1995)
        .select(col("o_orderkey").as("k"), shape.as("shape"),
          Cleansing.parseDateLenientYearless(rendered, defaultYear = 1995)
            .as("parsed"))
        .orderBy("k")
    },
      // identity oracle over the single-year slice (the q225 posture)
      oracle = "SELECT o_orderkey AS k, (o_orderkey % 6)::BIGINT AS shape, " +
        "o_orderdate AS parsed FROM orders " +
        "WHERE year(o_orderdate) = 1995 ORDER BY k"),

    // ───── Mojibake repair: deterministic double-encoding injection
    // (each doc gets one of the 12 signature sequences), then the pinned
    // ftfy-fast-path replace chain; severity = signature sites before
    // and after — per-row projection, no shuffle ─────
    Query("q285_mojibake_repair", { (s, dir) =>
      val snippets = Cleansing.mojibakeMap.map(_._1)
      val pick = element_at(
        array(snippets.map(lit): _*),
        (pmod(col("doc_id"), lit(snippets.size)) + 1).cast("int"))
      val dirty = concat(substring(col("text"), 1, 40),
        lit(" x"), pick, lit("y "), pick)
      tb(s, dir, "documents")
        .select(col("doc_id"), dirty.as("dirty"))
        .select(col("doc_id"),
          Cleansing.fixMojibake(col("dirty")).as("fixed"),
          regexp_count(col("dirty"), lit(Cleansing.mojibakeSignature))
            .cast("long").as("sig_before"),
          regexp_count(Cleansing.fixMojibake(col("dirty")),
            lit(Cleansing.mojibakeSignature)).cast("long").as("sig_after"))
        .orderBy("doc_id")
    },
      // q285: Cleansing.fixMojibake mirror — the SAME pinned map drives the
      // SQL injection CASE and the replace chain, so the two engines can't
      // drift.
      oracle = {
        def esc(s: String): String = s.replace("'", "''")
        val snippets = graft.ops.Cleansing.mojibakeMap.map(_._1)
        val pick = snippets.zipWithIndex
          .map { case (s, i) => s"WHEN $i THEN '${esc(s)}'" }
          .mkString(s"CASE doc_id % ${snippets.size} ", " ", " END")
        val fixed = graft.ops.Cleansing.mojibakeMap.foldLeft("dirty") {
          case (acc, (bad, good)) => s"replace($acc, '${esc(bad)}', '${esc(good)}')"
        }
        val sig = graft.ops.Cleansing.mojibakeSignature
        s"WITH d AS (SELECT doc_id, substr(text, 1, 40) || ' x' || ($pick) || " +
          s"'y ' || ($pick) AS dirty FROM documents), " +
          s"f AS (SELECT doc_id, dirty, $fixed AS fixed FROM d) " +
          s"SELECT doc_id, fixed, " +
          s"len(regexp_extract_all(dirty, '$sig'))::BIGINT AS sig_before, " +
          s"len(regexp_extract_all(fixed, '$sig'))::BIGINT AS sig_after " +
          "FROM f ORDER BY doc_id"
      }),

    // ───── Avro container round trip: write one REAL Object Container
    // File per partition through the Avro core library, read back via
    // the binaryFile decode boundary, aggregate — the q62 ORC shape for
    // the interchange format Spark ships no datasource for here ─────
    Query("q289_avro_roundtrip", { (s, dir) =>
      val out = scratch("avro_roundtrip")
      ops.Avro.writeAvro(
        t(s, dir, "orders")
          .select("o_orderkey", "o_orderpriority", "o_totalprice"), out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE")
      ops.Avro.readAvro(s, s"$out/*.avro", schema)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_orderpriority")
    },
      oracle = "SELECT o_orderpriority, count(*)::BIGINT AS n, " +
        "round(sum(o_totalprice), 2) AS sum_price FROM orders " +
        "GROUP BY 1 ORDER BY 1")
  )
}
