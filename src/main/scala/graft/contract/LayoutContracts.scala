package graft
package contract

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Cdc, Layout, Upsert}

import Contract.{dsum, t}

/** Storage-layout and IO contracts: CSV/ORC/JSON/JDBC round trips,
  * space-filling-curve layouts, partitioned sinks, upserts, CDC and SCD2,
  * schema evolution, time travel and snapshot diffs.
  */
object LayoutContracts {

  val contracts: Seq[Contract] = Seq(
    // S1/S2/S4: CSV sink + schema-enforced PERMISSIVE CSV scan round-trip
    // (ingestion_pyspark.py:28-35 pattern); oracle checks against the
    // original parquet, so the round-trip must be lossless.
    Contract("q_csv_roundtrip", (s, d) => {
      val dir = "target/tmp/csv_roundtrip"
      val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
      t(s, d, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite")
        .option("header", "true").option("timestampFormat", tsFmt)
        .csv(dir)
      val schema = StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")
      s.read
        .option("header", "true").option("mode", "PERMISSIVE")
        .option("timestampFormat", tsFmt)
        .schema(schema)
        .csv(dir)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          unix_micros(min(col("ts"))).as("min_ts_us"),
          unix_micros(max(col("ts"))).as("max_ts_us"),
          dsum(col("value")).as("total_value"))
        .orderBy("event_type")
    },
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       epoch_us(CAST(min(ts) AS TIMESTAMP)) AS min_ts_us,
        |       epoch_us(CAST(max(ts) AS TIMESTAMP)) AS max_ts_us,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ORC sink + scan round-trip: the second columnar format Spark ships
    // natively (Avro would need the spark-avro jar — absent offline).
    // Oracle checks against the original parquet, so the round-trip must
    // be lossless, decimals included.
    Contract("q_orc_roundtrip", (s, d) => {
      val dir = "target/tmp/orc_roundtrip"
      t(s, d, "customer").write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n"),
          dsum(col("c_acctbal")).as("total_bal"),
          countDistinct(col("c_nationkey")).as("n_nations"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
        |       CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // JSON-lines sink + schema-enforced scan round-trip: the interchange
    // format of every scraped/LLM corpus. Timestamps go through unix
    // micros (JSON has no timestamp type) so the round-trip is exact.
    Contract("q_json_roundtrip", (s, d) => {
      val dir = "target/tmp/json_roundtrip"
      t(s, d, "events")
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").json(dir)
      val schema = StructType.fromDDL(
        "event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      s.read.schema(schema).json(dir)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          min(col("ts_us")).as("min_ts_us"),
          dsum(col("value")).as("total_value"))
        .orderBy("event_type")
    },
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       epoch_us(CAST(min(ts) AS TIMESTAMP)) AS min_ts_us,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // JDBC sink + partitioned-read round-trip through embedded Derby (the
    // one RDBMS whose driver ships with the Spark jars). The read-back is
    // range-partitioned on s_suppkey — the parallel-scan shape a real
    // Postgres/MySQL mart read uses at scale — and the oracle checks
    // against the original parquet, so the round-trip must be lossless.
    Contract("q_jdbc_roundtrip", (s, d) => {
      val url = graft.sources.JdbcIO.derbyUrl("target/tmp/derby/graftdb")
      graft.sources.JdbcIO.write(t(s, d, "supplier"), url, "supplier_rt")
      graft.sources.JdbcIO
        .readPartitioned(s, url, "supplier_rt", "s_suppkey",
          lowerBound = 0L, upperBound = 100000L, numPartitions = 8)
        .groupBy("s_nationkey")
        .agg(
          count(lit(1)).as("n"),
          dsum(col("s_acctbal")).as("total_bal"),
          min(col("s_suppkey")).as("min_suppkey"))
        .orderBy("s_nationkey")
    },
      """SELECT s_nationkey,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
        |       CAST(min(s_suppkey) AS BIGINT) AS min_suppkey
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin),

    // Snapshot diff (CDC without table-format ACID): synthesize
    // version B deterministically from documents — drop id%7==0, flip
    // text case for id%11==0, re-add docs 0..4 under shifted ids —
    // and emit the added/removed/changed delta. Wide columns never
    // shuffle (row-local md5, only id+digest cross the wire).
    Contract("q_snapshot_diff", (s, d) => {
      val a = t(s, d, "documents")
      val b = a.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(11)) === 0, upper(col("text")))
            .otherwise(col("text")))
        .unionByName(
          a.filter(col("doc_id") < 5).withColumn("doc_id", col("doc_id") + 10000))
      graft.operators.SnapshotDiff.snapshotDiff(a, b, "doc_id", Seq("text", "source"))
        .orderBy("doc_id")
    },
      // Same synthesized snapshot B; chr(1)/chr(0) reproduce the Spark
      // side's u0001 separator and u0000 null-marker framing bytes.
      """WITH b AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text,
        |         source
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000, text, source FROM documents WHERE doc_id < 5
        |), ha AS (
        |  SELECT doc_id, md5(concat_ws(chr(1), coalesce(text, chr(0)), coalesce(source, chr(0)))) AS h
        |  FROM documents
        |), hb AS (
        |  SELECT doc_id, md5(concat_ws(chr(1), coalesce(text, chr(0)), coalesce(source, chr(0)))) AS h
        |  FROM b
        |)
        |SELECT COALESCE(ha.doc_id, hb.doc_id) AS doc_id,
        |       CASE WHEN ha.h IS NULL THEN 'added'
        |            WHEN hb.h IS NULL THEN 'removed'
        |            ELSE 'changed' END AS status
        |FROM ha FULL OUTER JOIN hb ON ha.doc_id = hb.doc_id
        |WHERE ha.h IS NULL OR hb.h IS NULL OR ha.h <> hb.h
        |ORDER BY doc_id""".stripMargin),

    // Z-order clustering key: bucket (value, user_id) on fixed linear
    // boundaries and interleave the bits — the row-local half of
    // Layout.writeZOrdered (the layout win itself is pinned in
    // LayoutSpec's file-pruning test; the curve math is oracle-exact).
    Contract("q_zorder", (s, d) => {
      val vB = Layout.linearBoundaries(0.0, 512.0, 3)
      val uB = Layout.linearBoundaries(0.0, 1600.0, 3)
      t(s, d, "events")
        .select(
          col("event_id"),
          Layout.bucketIndex(col("value"), vB).as("bx"),
          Layout.bucketIndex(col("user_id").cast("double"), uB).as("by"))
        .withColumn("z_value", Layout.zValue(Seq(col("bx"), col("by")), bits = 3))
        .orderBy("event_id")
    },
      // NULL pin: Spark's bucketIndex sends NULL inputs to bucket 0, so the
      // oracle leads each CASE with an IS NULL -> 0 arm (the bare ELSE 7
      // would silently diverge if events ever gains nulls).
      """WITH b AS (
        |  SELECT event_id,
        |         CASE WHEN value IS NULL THEN 0
        |              WHEN value <= 64 THEN 0 WHEN value <= 128 THEN 1
        |              WHEN value <= 192 THEN 2 WHEN value <= 256 THEN 3
        |              WHEN value <= 320 THEN 4 WHEN value <= 384 THEN 5
        |              WHEN value <= 448 THEN 6 ELSE 7 END AS bx,
        |         CASE WHEN user_id IS NULL THEN 0
        |              WHEN user_id <= 200 THEN 0 WHEN user_id <= 400 THEN 1
        |              WHEN user_id <= 600 THEN 2 WHEN user_id <= 800 THEN 3
        |              WHEN user_id <= 1000 THEN 4 WHEN user_id <= 1200 THEN 5
        |              WHEN user_id <= 1400 THEN 6 ELSE 7 END AS by
        |  FROM events
        |)
        |SELECT event_id, bx, by,
        |       CAST(((bx >> 0) & 1) * 1  + ((by >> 0) & 1) * 2 +
        |            ((bx >> 1) & 1) * 4  + ((by >> 1) & 1) * 8 +
        |            ((bx >> 2) & 1) * 16 + ((by >> 2) & 1) * 32 AS BIGINT) AS z_value
        |FROM b ORDER BY event_id""".stripMargin),

    // Hilbert clustering key on the same buckets as q_zorder: the
    // no-jump space-filling curve (canonical xy2d orientation for 2-D).
    // The oracle replays the quadrant-rotation loop as a recursive CTE —
    // the curve math is deterministic, so this is hash-matched, not
    // rows-only.
    Contract("q_hilbert", (s, d) => {
      val vB = Layout.linearBoundaries(0.0, 512.0, 3)
      val uB = Layout.linearBoundaries(0.0, 1600.0, 3)
      t(s, d, "events")
        .select(
          col("event_id"),
          Layout.bucketIndex(col("value"), vB).as("bx"),
          Layout.bucketIndex(col("user_id").cast("double"), uB).as("by"))
        .withColumn("h_value", Layout.hilbertValue(Seq(col("bx"), col("by")), bits = 3))
        .orderBy("event_id")
    },
      // The xy2d quadrant-rotation loop replayed as a recursive CTE: state
      // (x, y, d) steps s = 4 -> 2 -> 1, rows finalize at s = 0. rx/ry are
      // inlined as CASE on the OLD x/y (all SELECT expressions in one
      // recursion step see the previous iteration's values).
      """WITH RECURSIVE b AS (
        |  SELECT event_id,
        |         CASE WHEN value IS NULL THEN 0
        |              WHEN value <= 64 THEN 0 WHEN value <= 128 THEN 1
        |              WHEN value <= 192 THEN 2 WHEN value <= 256 THEN 3
        |              WHEN value <= 320 THEN 4 WHEN value <= 384 THEN 5
        |              WHEN value <= 448 THEN 6 ELSE 7 END AS bx,
        |         CASE WHEN user_id IS NULL THEN 0
        |              WHEN user_id <= 200 THEN 0 WHEN user_id <= 400 THEN 1
        |              WHEN user_id <= 600 THEN 2 WHEN user_id <= 800 THEN 3
        |              WHEN user_id <= 1000 THEN 4 WHEN user_id <= 1200 THEN 5
        |              WHEN user_id <= 1400 THEN 6 ELSE 7 END AS by
        |  FROM events
        |), h AS (
        |  SELECT event_id, bx, by, bx AS x, by AS y, CAST(0 AS BIGINT) AS d, 4 AS s FROM b
        |  UNION ALL
        |  SELECT event_id, bx, by,
        |    CASE WHEN (y & s) = 0 THEN CASE WHEN (x & s) > 0 THEN 7 - y ELSE y END ELSE x END,
        |    CASE WHEN (y & s) = 0 THEN CASE WHEN (x & s) > 0 THEN 7 - x ELSE x END ELSE y END,
        |    d + s * s * xor(CASE WHEN (x & s) > 0 THEN 3 ELSE 0 END,
        |                    CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END),
        |    s // 2
        |  FROM h WHERE s > 0
        |)
        |SELECT event_id, bx, by, CAST(d AS BIGINT) AS h_value
        |FROM h WHERE s = 0 ORDER BY event_id""".stripMargin),

    // 3-D Hilbert key (value x user_id x hour-of-day buckets) through
    // the Skilling transpose kernel — curve parity at every
    // dimensionality Z-order serves. The oracle replays the transform
    // as a recursive CTE over (a, b, c, q) state with the sequential
    // per-dimension exchange steps nested as subqueries, so this is
    // hash-matched like the 2-D xy2d oracle, not rows-only.
    Contract("q_hilbert3", (s, d) => {
      val vB = Layout.linearBoundaries(0.0, 512.0, 3)
      val uB = Layout.linearBoundaries(0.0, 1600.0, 3)
      val hB = Layout.linearBoundaries(0.0, 24.0, 3)
      t(s, d, "events")
        .select(
          col("event_id"),
          Layout.bucketIndex(col("value"), vB).as("bx"),
          Layout.bucketIndex(col("user_id").cast("double"), uB).as("by"),
          Layout.bucketIndex(hour(col("ts")).cast("double"), hB).as("bz"))
        .withColumn("h3_value",
          Layout.hilbertValue(Seq(col("bx"), col("by"), col("bz")), bits = 3))
        .orderBy("event_id")
    },
      // Skilling's transpose algorithm replayed as a recursive CTE: state
      // (a, b, c) = the three coordinates, q halves 4 -> 2 -> 1. Each
      // iteration applies the dimension loop SEQUENTIALLY (dim i reads
      // dim 0's value as updated by dims < i), so the three exchange
      // steps nest as subqueries (s0 = after dim 0, s1a/s1b = after dim
      // 1). The epilogue (Gray-encode, t-correction, MSB-first gather)
      // is loop-free and inlined on the q = 1 rows.
      """WITH RECURSIVE b AS (
        |  SELECT event_id,
        |         CASE WHEN value IS NULL THEN 0
        |              WHEN value <= 64 THEN 0 WHEN value <= 128 THEN 1
        |              WHEN value <= 192 THEN 2 WHEN value <= 256 THEN 3
        |              WHEN value <= 320 THEN 4 WHEN value <= 384 THEN 5
        |              WHEN value <= 448 THEN 6 ELSE 7 END AS bx,
        |         CASE WHEN user_id IS NULL THEN 0
        |              WHEN user_id <= 200 THEN 0 WHEN user_id <= 400 THEN 1
        |              WHEN user_id <= 600 THEN 2 WHEN user_id <= 800 THEN 3
        |              WHEN user_id <= 1000 THEN 4 WHEN user_id <= 1200 THEN 5
        |              WHEN user_id <= 1400 THEN 6 ELSE 7 END AS by,
        |         CASE WHEN hour(ts) IS NULL THEN 0
        |              WHEN hour(ts) <= 3 THEN 0 WHEN hour(ts) <= 6 THEN 1
        |              WHEN hour(ts) <= 9 THEN 2 WHEN hour(ts) <= 12 THEN 3
        |              WHEN hour(ts) <= 15 THEN 4 WHEN hour(ts) <= 18 THEN 5
        |              WHEN hour(ts) <= 21 THEN 6 ELSE 7 END AS bz
        |  FROM events
        |), h AS (
        |  SELECT event_id, bx, by, bz,
        |         CAST(bx AS BIGINT) AS a, CAST(by AS BIGINT) AS b2, CAST(bz AS BIGINT) AS c,
        |         CAST(4 AS BIGINT) AS q
        |  FROM b
        |  UNION ALL
        |  SELECT event_id, bx, by, bz,
        |         CASE WHEN (c & q) != 0 THEN xor(s1a, q-1)
        |              ELSE xor(s1a, xor(s1a, c) & (q-1)) END,
        |         s1b,
        |         CASE WHEN (c & q) != 0 THEN c
        |              ELSE xor(c, xor(s1a, c) & (q-1)) END,
        |         q // 2
        |  FROM (
        |    SELECT event_id, bx, by, bz, b2, c, q,
        |           CASE WHEN (b2 & q) != 0 THEN xor(s0, q-1)
        |                ELSE xor(s0, xor(s0, b2) & (q-1)) END AS s1a,
        |           CASE WHEN (b2 & q) != 0 THEN b2
        |                ELSE xor(b2, xor(s0, b2) & (q-1)) END AS s1b
        |    FROM (
        |      SELECT event_id, bx, by, bz, b2, c, q,
        |             CASE WHEN (a & q) != 0 THEN xor(a, q-1) ELSE a END AS s0
        |      FROM h WHERE q > 1
        |    )
        |  )
        |)
        |SELECT event_id, bx, by, bz,
        |       CAST(((xor(g0, tt) >> 2) & 1) * 256 + ((xor(g1, tt) >> 2) & 1) * 128 +
        |            ((xor(g2, tt) >> 2) & 1) * 64  + ((xor(g0, tt) >> 1) & 1) * 32 +
        |            ((xor(g1, tt) >> 1) & 1) * 16  + ((xor(g2, tt) >> 1) & 1) * 8 +
        |            (xor(g0, tt) & 1) * 4 + (xor(g1, tt) & 1) * 2 +
        |            (xor(g2, tt) & 1) AS BIGINT) AS h3_value
        |FROM (
        |  SELECT event_id, bx, by, bz, g0, g1, g2,
        |         xor(CASE WHEN (g2 & 4) != 0 THEN 3 ELSE 0 END,
        |             CASE WHEN (g2 & 2) != 0 THEN 1 ELSE 0 END) AS tt
        |  FROM (
        |    SELECT event_id, bx, by, bz,
        |           a AS g0, xor(b2, a) AS g1, xor(c, xor(b2, a)) AS g2
        |    FROM h WHERE q = 1
        |  )
        |)
        |ORDER BY event_id""".stripMargin),

    // S4 + partition pruning: partitioned parquet sink round-trip. The
    // read-back filter on the partition column prunes to 1/|years| of the
    // files (PartitionFilters in the scan); oracle checks against the
    // source table, so the round-trip must be lossless.
    Contract("q_sink_partitioned", (s, d) => {
      val dir = "target/tmp/orders_by_year"
      t(s, d, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        // Partition-aligned repartition: one writer task per year value
        // instead of every task writing every partition (32 tasks x 7
        // years = 224 small files -> 7 right-sized files; at cluster
        // scale this is the standard dynamic-partition small-files fix).
        .repartition(col("o_year"))
        .write.mode("overwrite").partitionBy("o_year").parquet(dir)
      s.read.parquet(dir)
        .filter(col("o_year") === 1997)
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_value"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM orders
        |WHERE year(o_orderdate) = 1997
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // MERGE INTO semantics ([[Upsert.merge]]): matched orders replaced
    // wholesale, unmatched inserted — anti-join + union, the exact plan
    // the oracle replays in SQL. Updated money goes through DECIMAL so
    // the +1000 stays engine-exact.
    Contract("q_upsert_merge", (s, d) => {
      val orders = t(s, d, "orders")
      val updates = orders.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice",
          (col("o_totalprice").cast("decimal(18,2)") + lit(1000)).cast("double"))
        .withColumn("o_orderpriority", lit("1-URGENT"))
      val inserts = orders.filter(col("o_orderkey") % 89 === 3)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      Upsert.merge(orders, updates.unionByName(inserts), Seq("o_orderkey"))
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_value"))
        .orderBy("o_orderstatus", "o_orderpriority")
    },
      """WITH updates AS (
        |  SELECT o_orderkey, o_orderstatus, '1-URGENT' AS o_orderpriority,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000 AS DOUBLE) AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_orderstatus, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 89 = 3
        |), merged AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice FROM updates
        |)
        |SELECT o_orderstatus, o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM merged
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin),

    // Partition-scoped copy-on-write upsert over a keyed parquet store
    // ([[Upsert.upsertPartitioned]]): the batch contains partition-MOVERS
    // (o_year+1), so matched rows relocate across partition directories
    // and only affected partitions rewrite. The read-back equals the
    // logical merge, which is what the oracle computes from the raw
    // table — so the physical store machinery (manifest pruning, dynamic
    // overwrite, drain cleanup) is behind a full hash gate.
    Contract("q_upsert_partitioned", (s, d) => {
      val dir = "target/tmp/upsert_store_contract"
      val orders = t(s, d, "orders").withColumn("o_year", year(col("o_orderdate")))
      Upsert.writeKeyedTable(orders, dir, "o_year", "o_orderkey")
      val updates = orders.filter(col("o_orderkey") % 131 === 0)
        .withColumn("o_year", col("o_year") + lit(1))
        .withColumn("o_totalprice",
          (col("o_totalprice").cast("decimal(18,2)") + lit(500)).cast("double"))
      Upsert.upsertPartitioned(s, dir, "o_year", "o_orderkey", updates)
      Upsert.readKeyedTable(s, dir)
        .groupBy("o_year")
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_value"))
        .orderBy("o_year")
    },
      """WITH base AS (
        |  SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year, o_totalprice
        |  FROM orders
        |), updates AS (
        |  SELECT o_orderkey, CAST(o_year + 1 AS INT) AS o_year,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 500 AS DOUBLE) AS o_totalprice
        |  FROM base WHERE o_orderkey % 131 = 0
        |), merged AS (
        |  SELECT o_orderkey, o_year, o_totalprice FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        |  UNION ALL
        |  SELECT o_orderkey, o_year, o_totalprice FROM updates
        |)
        |SELECT o_year,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM merged
        |GROUP BY o_year ORDER BY o_year""".stripMargin),

    // Changelog application ([[Cdc.applyChangelog]]): a Debezium-shaped
    // op stream (upsert/delete + seq) folds onto a keyed snapshot,
    // highest seq per key winning. The synthesized log has conflicting
    // upserts (seq 1 vs 2), deletes that override them (seq 3 on keys in
    // both residue classes), and fresh inserts — the oracle replays the
    // same rank window + anti-join + union in SQL.
    Contract("q_cdc_apply", (s, d) => {
      val orders = t(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
      def bump(amt: Int) = (col("o_totalprice").cast("decimal(18,2)") + lit(amt)).cast("double")
      val c1 = orders.filter(col("o_orderkey") % 113 === 0)
        .withColumn("o_totalprice", bump(100))
        .withColumn("seq", lit(1L)).withColumn("op", lit("upsert"))
      val c2 = orders.filter(col("o_orderkey") % 113 === 0)
        .withColumn("o_totalprice", bump(200))
        .withColumn("o_orderstatus", lit("X"))
        .withColumn("seq", lit(2L)).withColumn("op", lit("upsert"))
      val c3 = orders.filter(col("o_orderkey") % 127 === 0)
        .withColumn("seq", lit(3L)).withColumn("op", lit("delete"))
      val c4 = orders.filter(col("o_orderkey") % 151 === 3)
        .withColumn("o_orderkey", col("o_orderkey") + lit(200000000L))
        .withColumn("seq", lit(1L)).withColumn("op", lit("upsert"))
      val changes = c1.unionByName(c2).unionByName(c3).unionByName(c4)
      Cdc.applyChangelog(orders, changes, "o_orderkey", "seq", "op")
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_value"))
        .orderBy("o_orderstatus")
    },
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |), changes AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 100 AS DOUBLE) AS o_totalprice,
        |         1 AS seq, 'upsert' AS op
        |  FROM base WHERE o_orderkey % 113 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'X',
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 200 AS DOUBLE),
        |         2, 'upsert'
        |  FROM base WHERE o_orderkey % 113 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 3, 'delete'
        |  FROM base WHERE o_orderkey % 127 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 200000000, o_orderstatus, o_totalprice, 1, 'upsert'
        |  FROM base WHERE o_orderkey % 151 = 3
        |), latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |    FROM changes) WHERE rn = 1
        |), applied AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM latest
        |  WHERE lower(op) <> 'delete'
        |)
        |SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM applied
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // SCD Type-2 dimension history ([[Cdc.scd2Init]]/[[scd2Apply]]): two
    // successive attribute snapshots fold into a versioned customer
    // dimension (%5 keys change at fold 1, %10 ⊂ %5 change again at
    // fold 2 → three versions). The oracle writes the version table
    // directly from the residue classes; the (is_current, valid_from)
    // rollup pins closure dates, flags, and per-version balances.
    Contract("q_scd2", (s, d) => {
      val cust = t(s, d, "customer").select("c_custkey", "c_name", "c_acctbal")
      def bump(amt: Int) = (col("c_acctbal").cast("decimal(18,2)") + lit(amt)).cast("double")
      val dim0 = Cdc.scd2Init(cust, to_date(lit("2024-01-01")))
      val u1 = cust.filter(col("c_custkey") % 5 === 0).withColumn("c_acctbal", bump(100))
      val dim1 = Cdc.scd2Apply(dim0, u1, "c_custkey", Seq("c_name", "c_acctbal"),
        to_date(lit("2024-02-01")))
      val u2 = cust.filter(col("c_custkey") % 10 === 0).withColumn("c_acctbal", bump(200))
      val dim2 = Cdc.scd2Apply(dim1, u2, "c_custkey", Seq("c_name", "c_acctbal"),
        to_date(lit("2024-03-01")))
      dim2.groupBy("is_current", "valid_from")
        .agg(
          count(lit(1)).as("n_rows"),
          dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy("is_current", "valid_from")
    },
      """WITH base AS (
        |  SELECT c_custkey, c_acctbal FROM customer
        |), hist AS (
        |  SELECT c_custkey, c_acctbal, DATE '2024-01-01' AS valid_from,
        |         c_custkey % 5 <> 0 AS is_current
        |  FROM base
        |  UNION ALL
        |  SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100 AS DOUBLE),
        |         DATE '2024-02-01', c_custkey % 10 <> 0
        |  FROM base WHERE c_custkey % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 200 AS DOUBLE),
        |         DATE '2024-03-01', true
        |  FROM base WHERE c_custkey % 10 = 0
        |)
        |SELECT is_current, valid_from,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM hist
        |GROUP BY is_current, valid_from
        |ORDER BY is_current, valid_from""".stripMargin),

    // Snapshot-versioned table ([[VersionedTable]]): two appends, then
    // an overwrite — reading BOTH v2 (pre-overwrite) and v3 afterwards
    // proves old versions stay readable (time travel) and the overwrite
    // is a manifest reset, not a data rewrite. Versions are
    // deterministic year slices, so the readback hash-matches SQL that
    // reconstructs each version's contents from the base table.
    // Schema evolution on the versioned table (r13, closing S7's
    // overwriteSchema gap on the plain-parquet substitute): v1 commits
    // (doc_id, lang) for even ids, v2 appends (doc_id, lang, source)
    // for odd ids under mergeSchema — the latest read returns the
    // EVOLVED schema with v1's rows null in the new column (explicit-
    // schema name-resolved read; no mergeSchema footer scan). Oracle
    // replays the null-fill rule directly.
    Contract("q_schema_evolution", (s, d) => {
      val dir = "target/tmp/vtable_schema_contract"
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val docs = t(s, d, "documents")
      graft.sources.VersionedTable.commit(s, dir,
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0).select("doc_id", "lang"))
      graft.sources.VersionedTable.commit(s, dir,
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1)
          .select("doc_id", "lang", "source"),
        mergeSchema = true)
      graft.sources.VersionedTable.read(s, dir)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
      // Schema-evolution replay: even-id rows predate the new column and
      // read as null there; odd-id rows carry their source.
      """SELECT doc_id, lang,
        |       CASE WHEN doc_id % 2 = 1 THEN source END AS source
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    Contract("q_time_travel", (s, d) => {
      val dir = "target/tmp/vtable_contract"
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val orders = t(s, d, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
      graft.sources.VersionedTable.commit(s, dir,
        orders.filter(year(col("o_orderdate")) <= 1994))
      graft.sources.VersionedTable.commit(s, dir,
        orders.filter(year(col("o_orderdate")).isin(1995, 1996)))
      graft.sources.VersionedTable.commit(s, dir,
        orders.filter(year(col("o_orderdate")) >= 1997), overwrite = true)
      val v2 = graft.sources.VersionedTable.read(s, dir, 2).withColumn("version", lit(2))
      val v3 = graft.sources.VersionedTable.read(s, dir, 3).withColumn("version", lit(3))
      v2.unionByName(v3)
        .groupBy("version", "o_orderpriority")
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_value"))
        .orderBy("version", "o_orderpriority")
    },
      """WITH v2 AS (
        |  SELECT o_orderpriority, o_totalprice FROM orders
        |  WHERE year(o_orderdate) <= 1996
        |), v3 AS (
        |  SELECT o_orderpriority, o_totalprice FROM orders
        |  WHERE year(o_orderdate) >= 1997
        |), u AS (
        |  SELECT 2 AS version, * FROM v2
        |  UNION ALL
        |  SELECT 3 AS version, * FROM v3
        |)
        |SELECT version, o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM u
        |GROUP BY version, o_orderpriority
        |ORDER BY version, o_orderpriority""".stripMargin))
}
