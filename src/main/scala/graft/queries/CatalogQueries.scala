package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.catalog.GraftCatalog

/** Catalog + SQL-text surface (SURVEY D1/D7/D8 + §2.11 SQL forms):
  * tables registered under `graft.<db>.<table>` and queried through
  * SQL text — joins, aggregation, and time travel included — exactly
  * how the reference addresses `iceberg.employee_db.employee`
  * (apiv15.py:65, notebook cells 2-5).
  */
object CatalogQueries {

  import Scratch.{dir => scratch, setupOnce}

  /** Deterministic entries/manifests fixture shared by q102/q103
    * (memoized once per scale under the q102 key; either query may run
    * first): three single-file commits (seq 1-3) + one MoR positional
    * delete (seq 4) over nation.
    */
  private def entriesWarehouse(s: org.apache.spark.sql.SparkSession,
      d: String): String = setupOnce("q102", d) {
    val w = scratch("entriesmeta")
    val cat = new GraftCatalog(s, w)
    cat.createDatabase("db1")
    val n = Tables.nation(s, d)
      .select("n_nationkey", "n_name", "n_regionkey")
    val t = cat.createTableAs("db1", "nation_en",
      n.filter(col("n_nationkey") < 10).coalesce(1))
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    t.append(n.filter(col("n_nationkey") >= 10 &&
      col("n_nationkey") < 20).coalesce(1))
    t.append(n.filter(col("n_nationkey") >= 20).coalesce(1))
    t.delete(col("n_nationkey") % 7 === 0)
    w
  }

  /** Deterministic MoR delete-file fixture shared by q99/q113
    * (memoized under the q99 key; either query may run first): CTAS
    * (seq 1), one equality upsert batch (seq 2: data + equality delete
    * file), one MoR positional delete (seq 3) over supplier.
    */
  private def delFilesWarehouse(s: org.apache.spark.sql.SparkSession,
      d: String): String = setupOnce("q99", d) {
    val w = scratch("delfilesmeta")
    val cat = new GraftCatalog(s, w)
    cat.createDatabase("db1")
    val sup = Tables.supplier(s, d)
      .select("s_suppkey", "s_name", "s_acctbal")
    val t = cat.createTableAs("db1", "supplier_df", sup)
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    val b1 = sup.filter(col("s_suppkey") % 3 === 0)
      .withColumn("s_acctbal", col("s_acctbal") + 500.0)
    t.upsertEqIfNewMarker(b1, Seq("s_suppkey"), "graft.q99.batch", 1L)
    t.delete(col("s_suppkey") % 5 === 0)
    w
  }

  /** Transactional two-table fixture shared by q166/q168 (memoized
    * under the q166 key; either query may run first): a corpus table
    * and its fingerprint index populated by THREE two-table
    * transactions on the loopback catalog service (each batch = one
    * customer key-residue class), the ambient FileIO backend restored
    * after. Every transaction commits exactly one snapshot per table,
    * both stamped with the transaction's shared commit timestamp.
    */
  private def txnWarehouse(s: org.apache.spark.sql.SparkSession,
      d: String): String = setupOnce("q166", d) {
    val w = scratch("txn")
    val before = graft.tableformat.FileIO.io
    val server = new graft.tableformat.CatalogCommitServer
    try {
      graft.tableformat.FileIO.install(
        new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
      val cat = new GraftCatalog(s, w)
      cat.createDatabase("db1")
      val corpus = cat.createTable("db1", "txn_corpus", Seq(
        "c_custkey" -> "long", "c_name" -> "string",
        "c_acctbal" -> "double"))
      val index = cat.createTable("db1", "txn_fp", Seq(
        "c_custkey" -> "long", "fp" -> "long"))
      val base = Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal")
      Seq(0L, 1L, 2L).foreach { part =>
        val batch = base.filter(col("c_custkey") % 3 === part)
        val fps = batch.select(col("c_custkey"),
          length(col("c_name")).cast("long").as("fp"))
        cat.transact(corpus -> batch, index -> fps)
      }
      require(corpus.meta.snapshots.size == 3 &&
        index.meta.snapshots.size == 3,
        "each transaction must commit exactly one snapshot per table")
    } finally {
      graft.tableformat.FileIO.install(before)
      server.close()
    }
    w
  }

  val all: Seq[QueryDef] = Seq(

    // SQL text over graft.db.t names, with a join + agg through Spark's
    // own parser and the graft catalog (GraftExtensions)
    QueryDef(
      "q53_catalog_sql",
      (s, d) => {
        val wh = setupOnce("q53", d) {
          val w = scratch("cat")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          cat.createTableAs("db1", "region_t", Tables.region(s, d))
          cat.createTableAs("db1", "nation_t", Tables.nation(s, d))
          w
        }
        // other queries repoint the session's graft warehouse between
        // invocations — native resolution follows the conf, so pin it
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT r.r_name, count(*) AS n_nations
          FROM graft.db1.nation_t n
          JOIN graft.db1.region_t r ON n.n_regionkey = r.r_regionkey
          GROUP BY r.r_name
          ORDER BY r.r_name""")
      },
      Some("""
        SELECT r_name, CAST(count(*) AS BIGINT) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
      """)),

    // NATIVE SQL through the injected Catalyst rule: Spark's own parser
    // and analyzer resolve graft.db.t and its VERSION AS OF clause —
    // no text rewriting anywhere in this path
    QueryDef(
      "q57_native_sql",
      (s, d) => {
        val (wh, v) = setupOnce("q57", d) {
          val w = scratch("natcat")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val t = cat.createTableAs("db1", "part_t",
            Tables.part(s, d).select("p_partkey", "p_name", "p_brand"))
          val v0 = t.meta.currentSnapshot.get.snapshotId
          t.append(Tables.part(s, d)
            .select("p_partkey", "p_name", "p_brand")
            .limit(0)) // second snapshot, same rows
          (w, java.lang.Long.valueOf(v0))
        }
        // other queries repoint the session's graft warehouse between
        // invocations — native resolution follows the conf, so pin it
        s.conf.set("spark.graft.warehouse", wh)
        s.sql(s"""
          SELECT p_brand, count(*) AS n
          FROM graft.db1.part_t VERSION AS OF ${v.longValue()}
          GROUP BY p_brand ORDER BY p_brand""")
      },
      Some("""
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n
        FROM part GROUP BY p_brand ORDER BY p_brand
      """))
  ) ++ Seq(

    // SQL-text time travel: native VERSION AS OF on a graft table
    QueryDef(
      "q54_catalog_time_travel_sql",
      (s, d) => {
        val (wh, v) = setupOnce("q54", d) {
          val w = scratch("cattt")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val sup = Tables.supplier(s, d)
          val t = cat.createTableAs("db1", "supp_t",
            sup.filter(col("s_suppkey") <= 50))
          val v0 = t.meta.currentSnapshot.get.snapshotId
          t.append(sup.filter(col("s_suppkey") > 50))
          (w, java.lang.Long.valueOf(v0))
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql(s"""
          SELECT s_suppkey, s_name
          FROM graft.db1.supp_t VERSION AS OF ${v.longValue()}
          ORDER BY s_suppkey""")
      },
      Some("""
        SELECT s_suppkey, s_name FROM supplier
        WHERE s_suppkey <= 50 ORDER BY s_suppkey
      """)),

    // SQL-addressable metadata tables (M1-M4 + M3's oracle): the
    // reference's most common metadata access is
    // `iceberg.employee_db.t.history` through SQL (apiv15.py:80,
    // notebook cells 16-17). Snapshot ids/timestamps are
    // nondeterministic; the operation sequence, ancestry flags, and
    // commit counts are not — oracle against literal VALUES.
    QueryDef(
      "q59_sql_metadata_tables",
      (s, d) => {
        val wh = setupOnce("q59", d) {
          val w = scratch("sqlmeta")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val t = cat.createTableAs("db1", "region_m", Tables.region(s, d))
          t.append(Tables.region(s, d))
          t.delete(col("r_regionkey") === 0)
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        // rank via a theta self-join over the O(#snapshots) metadata
        // rows: seq = how many commits are <= this one. A row_number
        // window here would be unpartitioned (Spark folds a constant
        // PARTITION BY away) and warn WindowExec into every bench log
        s.sql("""
          WITH s0 AS (
            SELECT snapshot_id, committed_at, operation
            FROM graft.db1.region_m.snapshots),
          snaps AS (
            SELECT x.operation, CAST(count(*) AS INT) AS seq
            FROM s0 x JOIN s0 y
              ON y.committed_at < x.committed_at
              OR (y.committed_at = x.committed_at
                  AND y.snapshot_id <= x.snapshot_id)
            GROUP BY x.snapshot_id, x.operation),
          h AS (
            SELECT count(*) AS n_history,
                   sum(CASE WHEN is_current_ancestor THEN 1 ELSE 0 END)
                     AS n_ancestors
            FROM graft.db1.region_m.history),
          m AS (
            SELECT count(*) AS n_meta
            FROM graft.db1.region_m.metadata_log_entries),
          r AS (SELECT name AS ref_name, type AS ref_type
                FROM graft.db1.region_m.refs)
          SELECT seq, operation, n_history, n_ancestors, n_meta,
                 ref_name, ref_type
          FROM snaps CROSS JOIN h CROSS JOIN m CROSS JOIN r
          ORDER BY seq""")
      },
      Some("""
        SELECT seq, operation,
               CAST(3 AS BIGINT) AS n_history, CAST(3 AS BIGINT) AS n_ancestors,
               CAST(4 AS BIGINT) AS n_meta,
               'main' AS ref_name, 'BRANCH' AS ref_type
        FROM (VALUES (1, 'append'), (2, 'append'), (3, 'delete'))
             AS t(seq, operation)
        ORDER BY seq
      """)),

    // Changelog through SQL (M5 via the `changes` suffix — the
    // reference's create_changelog_view, notebook cells 32-35, filters
    // _change_type through SQL): last commit appends the odd nations,
    // so `changes` must surface exactly those rows as inserts.
    QueryDef(
      "q60_sql_changelog",
      (s, d) => {
        val wh = setupOnce("q60", d) {
          val w = scratch("sqlcdc")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val n = Tables.nation(s, d)
          val t = cat.createTableAs("db1", "nation_c",
            n.filter(col("n_nationkey") % 2 === 0))
          t.append(n.filter(col("n_nationkey") % 2 === 1))
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT n_nationkey, n_name, _change_type
          FROM graft.db1.nation_c.changes
          WHERE _change_type = 'insert'
          ORDER BY n_nationkey""")
      },
      Some("""
        SELECT n_nationkey, n_name, 'insert' AS _change_type
        FROM nation WHERE n_nationkey % 2 = 1 ORDER BY n_nationkey
      """)),

    // current_timestamp() through native SQL INSERT (the reference's
    // own insert idiom, notebook cells 11/22/27: `VALUES (1, 'Alice',
    // current_timestamp())`), read back through a deterministic
    // projection: the timestamp is non-reproducible, its presence and
    // plausibility flags are not.
    QueryDef(
      "q61_insert_current_timestamp",
      (s, d) => {
        val wh = setupOnce("q61", d) {
          val w = scratch("inserts")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          s.conf.set("spark.graft.warehouse", w)
          s.sql("""CREATE TABLE graft.db1.people_t
                  |  (id INT, name STRING, added_at TIMESTAMP)""".stripMargin)
          s.sql("""INSERT INTO graft.db1.people_t VALUES
                  |  (1, 'Alice', current_timestamp()),
                  |  (2, 'Bob',   current_timestamp()),
                  |  (3, 'Carol', current_timestamp())""".stripMargin)
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT id, name,
                 added_at IS NOT NULL AS ts_set,
                 added_at <= current_timestamp() AS ts_past
          FROM graft.db1.people_t ORDER BY id""")
      },
      Some("""
        SELECT id, name, CAST(1 AS BOOLEAN) AS ts_set,
               CAST(1 AS BOOLEAN) AS ts_past
        FROM (VALUES (1, 'Alice'), (2, 'Bob'), (3, 'Carol')) AS t(id, name)
        ORDER BY id
      """)),

    // Partitions metadata table (Iceberg's `partitions`): per-partition
    // record counts answered from the manifest alone — zero data I/O —
    // queried through the SQL suffix and oracled against a real
    // aggregation over the source rows.
    QueryDef(
      "q81_partitions_metadata",
      (s, d) => {
        val wh = setupOnce("q81", d) {
          val w = scratch("partsmeta")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val ev = Tables.events(s, d)
            .select("event_id", "ts", "event_type", "value")
          cat.createTableAs("db1", "events_p", ev,
            partition = Seq("ts" -> "day"))
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT partition['ts_day'] AS day, record_count
          FROM graft.db1.events_p.partitions
          ORDER BY day""")
      },
      Some("""
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               CAST(count(*) AS BIGINT) AS record_count
        FROM events GROUP BY 1 ORDER BY day
      """)),

    // MERGE INTO through native SQL (copy-on-write): matched rows split
    // update-vs-delete on a source predicate, unmatched source rows
    // insert with a partial column list (o_orderstatus null-fills) —
    // the one Iceberg-standard DML the reference's MoR table properties
    // (notebook cell 18) exist for. First-TRUE-clause-wins ordering and
    // the ISO cardinality gate are covered in NativeSqlSpec; this query
    // pushes the end state through the DuckDB oracle.
    QueryDef(
      "q76_merge_into",
      (s, d) => {
        val wh = setupOnce("q76", d) {
          val w = scratch("merge")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val orders = Tables.orders(s, d)
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
          cat.createTableAs("db1", "orders_m",
            orders.filter(col("o_orderkey") % 4 <= 1))
          s.conf.set("spark.graft.warehouse", w)
          Tables.orders(s, d)
            .filter(col("o_orderkey") % 4 === 1 || col("o_orderkey") % 4 === 2)
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .createOrReplaceTempView("q76_src")
          s.sql("""
            MERGE INTO graft.db1.orders_m t
            USING q76_src s
            ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED AND s.o_custkey % 2 = 0 THEN
              UPDATE SET o_totalprice = s.o_totalprice + 10.0,
                         t.o_orderstatus = 'U'
            WHEN MATCHED THEN DELETE
            WHEN NOT MATCHED AND s.o_custkey % 2 = 0 THEN
              INSERT (o_orderkey, o_custkey, o_totalprice)
              VALUES (s.o_orderkey, s.o_custkey, s.o_totalprice)""")
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT o_orderkey, o_custkey,
                 round(o_totalprice, 2) AS o_totalprice, o_orderstatus
          FROM graft.db1.orders_m ORDER BY o_orderkey""")
      },
      Some("""
        WITH t AS (
          SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
          FROM orders WHERE o_orderkey % 4 <= 1),
        s AS (
          SELECT o_orderkey, o_custkey, o_totalprice
          FROM orders WHERE o_orderkey % 4 IN (1, 2)),
        kept AS (
          SELECT t.o_orderkey, t.o_custkey,
                 CASE WHEN s.o_orderkey IS NOT NULL
                      THEN s.o_totalprice + 10.0 ELSE t.o_totalprice
                 END AS o_totalprice,
                 CASE WHEN s.o_orderkey IS NOT NULL
                      THEN 'U' ELSE t.o_orderstatus
                 END AS o_orderstatus
          FROM t LEFT JOIN s ON t.o_orderkey = s.o_orderkey
          WHERE s.o_orderkey IS NULL OR s.o_custkey % 2 = 0),
        ins AS (
          SELECT s.o_orderkey, s.o_custkey, s.o_totalprice,
                 CAST(NULL AS VARCHAR) AS o_orderstatus
          FROM s
          WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM t)
            AND s.o_custkey % 2 = 0)
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice,
               o_orderstatus
        FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        ORDER BY o_orderkey
      """)),

    // SHOW TABLES + DESCRIBE through the catalog plugin (D7/D8 — the
    // reference's most-typed commands after SELECT, notebook cells
    // 2/4/5/15), oracled against literal VALUES: table listings and
    // column rows are fully determined by the setup.
    QueryDef(
      "q62_show_describe",
      (s, d) => {
        val wh = setupOnce("q62", d) {
          val w = scratch("showdesc")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("dbx")
          cat.createTableAs("dbx", "region_d", Tables.region(s, d))
          cat.createTableAs("dbx", "nation_d",
            Tables.nation(s, d).select("n_nationkey", "n_name"))
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        val shown = s.sql("SHOW TABLES IN graft.dbx")
          .select(lit("table").as("kind"), col("tableName").as("name"),
            lit("").as("type"))
        // keep only the column rows: section markers/blank separators
        // are presentation, not catalog facts
        val desc = s.sql("DESCRIBE TABLE graft.dbx.region_d")
          .filter(col("col_name") =!= "" && !col("col_name").startsWith("#"))
          .select(lit("column").as("kind"), col("col_name").as("name"),
            col("data_type").as("type"))
        shown.unionByName(desc).orderBy(col("kind"), col("name"))
      },
      Some("""
        SELECT kind, name, type FROM (VALUES
          ('column', 'r_name',      'string'),
          ('column', 'r_regionkey', 'int'),
          ('table',  'nation_d',    ''),
          ('table',  'region_d',    '')) AS t(kind, name, type)
        ORDER BY kind, name
      """)),

    // delete_files metadata table (Iceberg's `delete_files`): the MoR
    // maintenance observable, answered from the manifest alone. After a
    // deterministic CDC sequence — one equality upsert batch, one MoR
    // positional DELETE — the per-kind hidden-row totals are pure
    // functions of the source data, so plain SQL over the source
    // parquet oracles the metadata table itself.
    QueryDef(
      "q99_delete_files_metadata",
      (s, d) => {
        s.conf.set("spark.graft.warehouse", delFilesWarehouse(s, d))
        // content = Iceberg's integer codes (1 positional, 2 equality);
        // kind = the readable label alongside
        s.sql("""
          SELECT content, kind,
                 CAST(sum(record_count) AS BIGINT) AS rows_hidden
          FROM graft.db1.supplier_df.delete_files
          GROUP BY content, kind ORDER BY content""")
      },
      Some("""
        SELECT * FROM (
          SELECT 1 AS content, 'positional' AS kind,
                 CAST(count(*) AS BIGINT) AS rows_hidden
          FROM supplier WHERE s_suppkey % 5 = 0
          UNION ALL
          SELECT 2 AS content, 'equality' AS kind,
                 CAST(count(*) AS BIGINT) AS rows_hidden
          FROM supplier WHERE s_suppkey % 3 = 0
        ) ORDER BY content
      """)),

    // entries metadata table (Iceberg's `entries`): the per-file
    // manifest ledger of the current snapshot — status (added by this
    // commit vs carried), content code, and commit sequence, straight
    // from the embedded manifest. Deterministic build: three
    // single-file appends (seq 1-3) + one MoR positional delete
    // (seq 4), so every (status, content, sequence) group's row total
    // is a pure function of the source nation table and plain SQL
    // oracles the manifest itself.
    QueryDef(
      "q102_metadata_entries",
      (s, d) => {
        s.conf.set("spark.graft.warehouse", entriesWarehouse(s, d))
        // file counts are asserted for DATA commits only (coalesced to
        // one file each); a MoR delete's file count tracks the write's
        // parallelism, not semantics — NULL on both sides
        s.sql("""
          SELECT status, content, sequence_number,
                 CAST(sum(record_count) AS BIGINT) AS rows,
                 CASE WHEN content = 0
                      THEN CAST(count(*) AS BIGINT) END AS files
          FROM graft.db1.nation_en.entries
          GROUP BY status, content, sequence_number
          ORDER BY sequence_number, content""")
      },
      Some("""
        SELECT * FROM (
          SELECT 0 AS status, 0 AS content,
                 CAST(1 AS BIGINT) AS sequence_number,
                 CAST(count(*) AS BIGINT) AS rows,
                 CAST(1 AS BIGINT) AS files
          FROM nation WHERE n_nationkey < 10
          UNION ALL
          SELECT 0, 0, CAST(2 AS BIGINT), CAST(count(*) AS BIGINT), CAST(1 AS BIGINT)
          FROM nation WHERE n_nationkey >= 10 AND n_nationkey < 20
          UNION ALL
          SELECT 0, 0, CAST(3 AS BIGINT), CAST(count(*) AS BIGINT), CAST(1 AS BIGINT)
          FROM nation WHERE n_nationkey >= 20
          UNION ALL
          SELECT 1, 1, CAST(4 AS BIGINT), CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT)
          FROM nation WHERE n_nationkey % 7 = 0
        ) ORDER BY sequence_number, content
      """)),

    // manifests metadata table: the commit-grouped rollup of `entries`
    // (this format embeds the manifest in the snapshot, so "one
    // manifest" = the files one commit added, sharing one sequence
    // number). Same deterministic build as q102 via the shared
    // scratch; the scheduler-facing numbers — files and rows per
    // commit still live in the current snapshot — oracle from source
    // SQL alone.
    QueryDef(
      "q103_metadata_manifests",
      (s, d) => {
        s.conf.set("spark.graft.warehouse", entriesWarehouse(s, d))
        s.sql("""
          SELECT content, sequence_number,
                 CASE WHEN content = 0 THEN file_count END AS file_count,
                 CAST(record_count AS BIGINT) AS rows
          FROM graft.db1.nation_en.manifests
          ORDER BY sequence_number, content""")
      },
      Some("""
        SELECT * FROM (
          SELECT 0 AS content, CAST(1 AS BIGINT) AS sequence_number,
                 CAST(1 AS BIGINT) AS file_count,
                 CAST(count(*) AS BIGINT) AS rows
          FROM nation WHERE n_nationkey < 10
          UNION ALL
          SELECT 0, CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(count(*) AS BIGINT)
          FROM nation WHERE n_nationkey >= 10 AND n_nationkey < 20
          UNION ALL
          SELECT 0, CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(count(*) AS BIGINT)
          FROM nation WHERE n_nationkey >= 20
          UNION ALL
          SELECT 1, CAST(4 AS BIGINT), CAST(NULL AS BIGINT), CAST(count(*) AS BIGINT)
          FROM nation WHERE n_nationkey % 7 = 0
        ) ORDER BY sequence_number, content
      """)),

    // all_data_files metadata table (Iceberg's `all_data_files`): every
    // data file ANY retained snapshot references — including files a
    // CoW rewrite replaced, which the current-snapshot `files` table no
    // longer shows. Deterministic build: three single-file appends
    // (seq 1-3), then a COPY-ON-WRITE delete that rewrites all three
    // (every range holds a key % 7 == 0) into seq-4 survivors. The
    // per-sequence row totals — 3 original batches plus the rewritten
    // remainder — are pure functions of nation, so source SQL oracles
    // the union-of-history view itself.
    QueryDef(
      "q104_all_data_files",
      (s, d) => {
        val wh = setupOnce("q104", d) {
          val w = scratch("alldatafiles")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val n = Tables.nation(s, d)
            .select("n_nationkey", "n_name", "n_regionkey")
          val t = cat.createTableAs("db1", "nation_adf",
            n.filter(col("n_nationkey") < 10).coalesce(1))
          t.append(n.filter(col("n_nationkey") >= 10 &&
            col("n_nationkey") < 20).coalesce(1))
          t.append(n.filter(col("n_nationkey") >= 20).coalesce(1))
          t.delete(col("n_nationkey") % 7 === 0) // CoW: rewrites all 3
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT sequence_number,
                 CAST(sum(record_count) AS BIGINT) AS rows
          FROM graft.db1.nation_adf.all_data_files
          GROUP BY sequence_number ORDER BY sequence_number""")
      },
      Some("""
        SELECT * FROM (
          SELECT CAST(1 AS BIGINT) AS sequence_number,
                 CAST(count(*) AS BIGINT) AS rows
          FROM nation WHERE n_nationkey < 10
          UNION ALL
          SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT)
          FROM nation WHERE n_nationkey >= 10 AND n_nationkey < 20
          UNION ALL
          SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT)
          FROM nation WHERE n_nationkey >= 20
          UNION ALL
          SELECT CAST(4 AS BIGINT), CAST(count(*) AS BIGINT)
          FROM nation WHERE n_nationkey % 7 <> 0
        ) ORDER BY sequence_number
      """)),

    // position_deletes metadata table (Iceberg's `position_deletes`):
    // the tombstone ROWS themselves, read as a distributed scan of the
    // delete parquets. The fixture writes the table as ONE sorted data
    // file (repartition(1) + sortWithinPartitions), so each tombstone's
    // `pos` is exactly the 0-based rank of its key in suppkey order —
    // a window function over the source parquet oracles the physical
    // row positions the MoR delete recorded. (file_path is excluded:
    // it carries a per-run scratch UUID; pos + sequence_number are the
    // portable content.)
    QueryDef(
      "q107_position_deletes",
      (s, d) => {
        val wh = setupOnce("q107", d) {
          val w = scratch("posdeletes")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val sup = Tables.supplier(s, d).select("s_suppkey", "s_name")
            .repartition(1).sortWithinPartitions("s_suppkey")
          val t = cat.createTableAs("db1", "supplier_pd", sup)
          t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
          t.delete(col("s_suppkey") % 5 === 0)
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT pos, sequence_number
          FROM graft.db1.supplier_pd.position_deletes
          ORDER BY pos""")
      },
      Some("""
        WITH ranked AS (
          SELECT s_suppkey,
                 row_number() OVER (ORDER BY s_suppkey) - 1 AS pos
          FROM supplier
        )
        SELECT CAST(pos AS BIGINT) AS pos,
               CAST(2 AS BIGINT) AS sequence_number
        FROM ranked WHERE s_suppkey % 5 = 0 ORDER BY pos
      """)),

    // files metadata table with per-file column bounds: the manifest's
    // stats-pruning min/max, re-keyed to current column names. Same
    // deterministic build as q102 (three range-disjoint single-file
    // appends; the MoR delete adds no data files), so each file's
    // n_nationkey bounds are the range min/max of its source slice.
    QueryDef(
      "q109_files_bounds",
      (s, d) => {
        s.conf.set("spark.graft.warehouse", entriesWarehouse(s, d))
        s.sql("""
          SELECT CAST(lower_bounds['n_nationkey'] AS INT) AS lo,
                 CAST(upper_bounds['n_nationkey'] AS INT) AS hi,
                 CAST(record_count AS BIGINT) AS rows
          FROM graft.db1.nation_en.files
          ORDER BY lo""")
      },
      Some("""
        SELECT * FROM (
          SELECT CAST(min(n_nationkey) AS INT) AS lo,
                 CAST(max(n_nationkey) AS INT) AS hi,
                 CAST(count(*) AS BIGINT) AS rows
          FROM nation WHERE n_nationkey < 10
          UNION ALL
          SELECT CAST(min(n_nationkey) AS INT), CAST(max(n_nationkey) AS INT),
                 CAST(count(*) AS BIGINT)
          FROM nation WHERE n_nationkey >= 10 AND n_nationkey < 20
          UNION ALL
          SELECT CAST(min(n_nationkey) AS INT), CAST(max(n_nationkey) AS INT),
                 CAST(count(*) AS BIGINT)
          FROM nation WHERE n_nationkey >= 20
        ) ORDER BY lo
      """)),

    // all_files metadata table (Iceberg's `all_files`): the union-of-
    // history view over data AND delete files with the spec's content
    // codes. Same fixture as q99 — each (content, sequence) group's
    // row total is a pure function of supplier: CTAS data (0, 1),
    // upsert batch data (0, 2) + its equality delete file (2, 2), MoR
    // positional delete (1, 3).
    QueryDef(
      "q113_all_files",
      (s, d) => {
        s.conf.set("spark.graft.warehouse", delFilesWarehouse(s, d))
        s.sql("""
          SELECT content, sequence_number,
                 CAST(sum(record_count) AS BIGINT) AS rows
          FROM graft.db1.supplier_df.all_files
          GROUP BY content, sequence_number
          ORDER BY sequence_number, content""")
      },
      Some("""
        SELECT * FROM (
          SELECT 0 AS content, CAST(1 AS BIGINT) AS sequence_number,
                 CAST(count(*) AS BIGINT) AS rows
          FROM supplier
          UNION ALL
          SELECT 0, CAST(2 AS BIGINT), CAST(count(*) AS BIGINT)
          FROM supplier WHERE s_suppkey % 3 = 0
          UNION ALL
          SELECT 2, CAST(2 AS BIGINT), CAST(count(*) AS BIGINT)
          FROM supplier WHERE s_suppkey % 3 = 0
          UNION ALL
          SELECT 1, CAST(3 AS BIGINT), CAST(count(*) AS BIGINT)
          FROM supplier WHERE s_suppkey % 5 = 0
        ) ORDER BY sequence_number, content
      """)),

    // SQL aggregate pushdown: a bare count/count(col)/min/max SELECT
    // over a graft table answers from MANIFEST ARITHMETIC — the
    // resolution rule collapses the whole query to a LocalRelation
    // (zero file scans, zero Spark jobs; NativeSqlSpec pins the plan
    // shape and job count, plus the MoR-deletes exact fallback). The
    // oracle recomputes every cell by scanning, so the gate is
    // "manifest literals equal the scan" across long, double,
    // timestamp, and string domains at once.
    QueryDef(
      "q145_sql_agg_pushdown",
      (s, d) => {
        val wh = setupOnce("q145", d) {
          val w = scratch("aggpush")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          cat.createTableAs("db1", "orders_ap", Tables.orders(s, d))
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT count(*) AS n_rows, count(o_orderstatus) AS nn_status,
                 min(o_custkey) AS lo_cust, max(o_custkey) AS hi_cust,
                 min(o_totalprice) AS lo_price, max(o_totalprice) AS hi_price,
                 min(o_orderdate) AS lo_date, max(o_orderdate) AS hi_date,
                 min(o_orderpriority) AS lo_prio, max(o_orderpriority) AS hi_prio
          FROM graft.db1.orders_ap""")
      },
      Some("""
        SELECT count(*) AS n_rows, count(o_orderstatus) AS nn_status,
               min(o_custkey) AS lo_cust, max(o_custkey) AS hi_cust,
               min(o_totalprice) AS lo_price, max(o_totalprice) AS hi_price,
               CAST(min(o_orderdate) AS TIMESTAMP) AS lo_date,
               CAST(max(o_orderdate) AS TIMESTAMP) AS hi_date,
               min(o_orderpriority) AS lo_prio, max(o_orderpriority) AS hi_prio
        FROM orders
      """)),

    // Filtered SQL aggregate pushdown: the table is appended in
    // key-range batches (the time-clustered shape), so a WHERE at a
    // batch boundary is STRICTLY provable file-wise and the whole
    // filtered count/min/max still collapses to manifest literals —
    // zero file scans (NativeSqlSpec pins the plan and the boundary /
    // NULL fallbacks). The oracle recomputes by scanning.
    QueryDef(
      "q148_filtered_agg_pushdown",
      (s, d) => {
        val wh = setupOnce("q148", d) {
          val w = scratch("faggpush")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val o = Tables.orders(s, d)
          val t = cat.createTable("db1", "orders_fp", Seq(
            "o_orderkey" -> "long", "o_custkey" -> "long",
            "o_orderstatus" -> "string", "o_totalprice" -> "double"))
          val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice")
          t.append(o.filter(col("o_orderkey") < 20000).select(cols.map(col): _*))
          t.append(o.filter(col("o_orderkey") >= 20000 &&
            col("o_orderkey") < 40000).select(cols.map(col): _*))
          t.append(o.filter(col("o_orderkey") >= 40000).select(cols.map(col): _*))
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT count(*) AS n_rows, count(o_orderstatus) AS nn_status,
                 min(o_custkey) AS lo_cust, max(o_custkey) AS hi_cust,
                 min(o_totalprice) AS lo_price, max(o_totalprice) AS hi_price
          FROM graft.db1.orders_fp WHERE o_orderkey >= 20000""")
      },
      Some("""
        SELECT count(*) AS n_rows, count(o_orderstatus) AS nn_status,
               min(o_custkey) AS lo_cust, max(o_custkey) AS hi_cust,
               min(o_totalprice) AS lo_price, max(o_totalprice) AS hi_price
        FROM orders WHERE o_orderkey >= 20000
      """)),

    // Grouped SQL aggregate pushdown: GROUP BY an identity-partitioned
    // column — every file belongs to exactly one group, so the per-
    // status rollup is per-group-of-files manifest arithmetic (the
    // per-day report a day-partitioned 100 TB table serves without
    // opening a file; NativeSqlSpec pins the LocalTableScan plan, the
    // NULL group, and the MoR / non-partition-column fallbacks). The
    // oracle recomputes every group by scanning.
    QueryDef(
      "q149_grouped_agg_pushdown",
      (s, d) => {
        val wh = setupOnce("q149", d) {
          val w = scratch("gaggpush")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          cat.createTableAs("db1", "orders_gp",
            Tables.orders(s, d).select("o_orderkey", "o_custkey",
              "o_orderstatus", "o_totalprice"),
            partition = Seq("o_orderstatus" -> "identity"))
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT o_orderstatus, count(*) AS n_rows,
                 count(o_custkey) AS nn_cust,
                 min(o_custkey) AS lo_cust, max(o_custkey) AS hi_cust,
                 min(o_totalprice) AS lo_price, max(o_totalprice) AS hi_price
          FROM graft.db1.orders_gp
          GROUP BY o_orderstatus ORDER BY o_orderstatus""")
      },
      Some("""
        SELECT o_orderstatus, count(*) AS n_rows,
               count(o_custkey) AS nn_cust,
               min(o_custkey) AS lo_cust, max(o_custkey) AS hi_cust,
               min(o_totalprice) AS lo_price, max(o_totalprice) AS hi_price
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
      """)),

    // Day-rollup grouped pushdown: GROUP BY to_date(ts) over a
    // day(ts)-partitioned table is the SAME per-cell manifest
    // arithmetic as an identity grouping — hidden partitioning means
    // every file belongs to exactly one day cell, so the canonical
    // daily report never opens a file (NativeSqlSpec pins the
    // LocalTableScan plan and the NTZ fallback). The oracle recomputes
    // the rollup by scanning.
    QueryDef(
      "q154_day_rollup_pushdown",
      (s, d) => {
        val wh = setupOnce("q154", d) {
          val w = scratch("dayrollup")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val ev = Tables.events(s, d)
            .select("event_id", "ts", "event_type", "value")
          cat.createTableAs("db1", "events_dr", ev,
            partition = Seq("ts" -> "day"))
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT to_date(ts) AS day, count(*) AS n_rows,
                 count(value) AS nn_value,
                 min(event_id) AS lo_id, max(event_id) AS hi_id
          FROM graft.db1.events_dr
          GROUP BY to_date(ts) ORDER BY day""")
      },
      Some("""
        SELECT CAST(ts AS DATE) AS day, count(*) AS n_rows,
               count(value) AS nn_value,
               min(event_id) AS lo_id, max(event_id) AS hi_id
        FROM events GROUP BY 1 ORDER BY day
      """)),

    // Materialized-view rewrite: a GROUP BY covered by a registered
    // IncrementalAgg state table answers from the STATE (MB-scale)
    // instead of the base (100 TB-scale) whenever the view is exactly
    // fresh — snapshot-id freshness, not staleness windows. The
    // require pins that the plan scanned the state table; the oracle
    // recomputes every aggregate from the raw rows (long sums/avgs and
    // raw min/max doubles keep both routes bit-exact). NativeSqlSpec
    // pins the stale/uncovered/non-key-filter fallbacks.
    QueryDef(
      "q158_mview_rewrite",
      (s, d) => {
        val wh = setupOnce("q158", d) {
          val w = scratch("mview")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val base = cat.createTableAs("db1", "orders_mv",
            Tables.orders(s, d).select("o_orderkey", "o_custkey",
              "o_orderstatus", "o_totalprice"))
          val keys = Seq("o_orderstatus")
          val sums = Seq("o_custkey"); val exts = Seq("o_totalprice")
          val st = graft.engine.GraftTable.createAs(s, s"$w/mv_state",
            "orders_mv_agg",
            graft.operators.IncrementalAgg.initialWithExtremes(
              base.read(), keys, sums, exts).filter(lit(false)))
          require(graft.operators.IncrementalAgg.refreshWithExtremes(
            base, st, keys, sums, exts), "mview bootstrap refresh")
          base.registerMaterializedView("default", s"$w/mv_state",
            keys, sums, exts)
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        val df = s.sql("""
          SELECT o_orderstatus, n_rows, nn_cust, sum_cust,
                 round(avg_cust, 4) AS avg_cust, lo_price, hi_price
          FROM (
            SELECT o_orderstatus, count(*) AS n_rows,
                   count(o_custkey) AS nn_cust,
                   sum(o_custkey) AS sum_cust, avg(o_custkey) AS avg_cust,
                   min(o_totalprice) AS lo_price,
                   max(o_totalprice) AS hi_price
            FROM graft.db1.orders_mv GROUP BY o_orderstatus)
          ORDER BY o_orderstatus""")
        require(df.queryExecution.executedPlan.toString.contains("mv_state"),
          "expected the materialized-view rewrite to serve the plan")
        df
      },
      Some("""
        SELECT o_orderstatus, count(*) AS n_rows,
               count(o_custkey) AS nn_cust,
               CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
               round(avg(o_custkey), 4) AS avg_cust,
               min(o_totalprice) AS lo_price,
               max(o_totalprice) AS hi_price
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
      """)),

    // Zero-copy clone (Iceberg's snapshot procedure / Delta shallow
    // clone): forking a table is O(#files) metadata — the clone
    // references the source's files in place, then diverges with its
    // own DML while the source keeps moving. The requires pin the
    // zero-copy property (no data dir materializes at clone time) and
    // mutual isolation (a post-clone source append stays invisible);
    // the oracle recomputes the fork's final state from raw rows.
    QueryDef(
      "q159_zero_copy_clone",
      (s, d) => {
        val wh = setupOnce("q159", d) {
          val w = scratch("clone")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val src = cat.createTableAs("db1", "cust_src",
            Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal"))
          s.conf.set("spark.graft.warehouse", w)
          s.sql("CALL graft.system.snapshot('db1.cust_src', 'db1.cust_fork')")
          val dst = graft.engine.GraftTable.load(s,
            java.nio.file.Paths.get(w, "db1", "cust_fork").toString)
          require(!java.nio.file.Files.exists(java.nio.file.Paths
            .get(dst.location, "data")), "clone copied data")
          // diverge: the fork drops negative balances; the source then
          // appends a row the fork must never see
          dst.delete(col("c_acctbal") < 0)
          import s.implicits._
          src.append(Seq((-1L, "SRC ONLY", 123.0))
            .toDF("c_custkey", "c_name", "c_acctbal").coalesce(1))
          require(dst.countRows() == dst.read().count(), "clone count drift")
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT count(*) AS n_rows,
                 CAST(sum(c_custkey) AS BIGINT) AS sum_key,
                 min(c_acctbal) AS lo_bal, max(c_acctbal) AS hi_bal
          FROM graft.db1.cust_fork""")
      },
      Some("""
        SELECT count(*) AS n_rows,
               CAST(sum(c_custkey) AS BIGINT) AS sum_key,
               min(c_acctbal) AS lo_bal, max(c_acctbal) AS hi_bal
        FROM customer WHERE c_acctbal >= 0
      """)),

    // Integrity audit as SQL (CALL graft.system.audit_integrity): a
    // deliberately mangled warehouse — one referenced data file
    // deleted, one overwritten with junk of the wrong size — surfaces
    // exactly one finding per defect class, as ROWS (the report form;
    // verify_table is the throwing CI-gate twin). The audit is
    // read-only and stats-only, so the junk file's content is never
    // parsed. The oracle is the known defect inventory.
    QueryDef(
      "q164_audit_integrity",
      (s, d) => {
        val wh = setupOnce("q164", d) {
          val w = scratch("audit")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val t = cat.createTableAs("db1", "aud_t",
            Tables.customer(s, d).select("c_custkey", "c_acctbal")
              .repartition(3))
          val files = t.meta.currentSnapshot.get.files.sortBy(_.path)
          require(files.size >= 2, s"need >=2 files, got ${files.size}")
          val io = graft.tableformat.FileIO.io
          io.delete(s"${t.location}/${files(0).path}")
          io.writeString(s"${t.location}/${files(1).path}",
            "junk-not-parquet") // wrong size; audit never reads content
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("CALL graft.system.audit_integrity('db1.aud_t')")
          .select(when(col("finding").startsWith("missing file"),
              "missing_file")
            .when(col("finding").startsWith("size mismatch"),
              "size_mismatch")
            .otherwise("other").as("kind"))
          .groupBy("kind").agg(count(lit(1)).as("n"))
          .orderBy("kind")
      },
      Some("""
        SELECT * FROM (
          SELECT 'missing_file' AS kind, CAST(1 AS BIGINT) AS n
          UNION ALL
          SELECT 'size_mismatch' AS kind, CAST(1 AS BIGINT) AS n
        ) ORDER BY kind
      """)),

    // Clone rehoming (CALL graft.system.rehome_clone): the clone-side
    // release valve for the retention guard — still-shared files copy
    // into the clone's own location, snapshots rewrite to the local
    // copies, the source registration releases, and the SOURCE then
    // expires + GCs its rewritten history without stranding the clone.
    // The oracle is the clone's divergent content, read AFTER the
    // source physically deleted the files the clone used to share.
    QueryDef(
      "q165_rehome_clone",
      (s, d) => {
        val wh = setupOnce("q165", d) {
          val w = scratch("rehome")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val src = cat.createTableAs("db1", "reh_src",
            Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal"))
          s.conf.set("spark.graft.warehouse", w)
          s.sql("CALL graft.system.snapshot('db1.reh_src', 'db1.reh_fork')")
          val dst = graft.engine.GraftTable.load(s,
            java.nio.file.Paths.get(w, "db1", "reh_fork").toString)
          // diverge both sides, then REWRITE the source so its old
          // files (the shared ones) become expiry-reclaimable
          dst.delete(col("c_acctbal") < 0)
          val kept = Tables.customer(s, d)
            .select("c_custkey", "c_name", "c_acctbal")
            .filter(col("c_custkey") <= 10)
          val nKept = kept.count()
          src.overwrite(kept)
          // with the clone registered, source retention refuses...
          val refused =
            try { src.expireSnapshots(keepLast = 1); false }
            catch { case _: Exception => true }
          require(refused, "retention must refuse while the clone is live")
          s.sql("CALL graft.system.rehome_clone('db1.reh_fork')")
          // ...after rehome it proceeds and physically reclaims
          src.expireSnapshots(keepLast = 1)
          src.removeOrphanFiles(olderThanMs = 0)
          require(src.read().count() == nKept, "source content after expiry")
          // the clone's whole file inventory is local now
          val foreignLeft = dst.meta.snapshots
            .flatMap(sn => sn.files ++ sn.deleteFiles)
            .count(f => f.path.startsWith("/") &&
              !f.path.startsWith(dst.location + "/"))
          require(foreignLeft == 0, s"$foreignLeft foreign refs remain")
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT count(*) AS n_rows,
                 CAST(sum(c_custkey) AS BIGINT) AS sum_key,
                 min(c_acctbal) AS lo_bal, max(c_acctbal) AS hi_bal
          FROM graft.db1.reh_fork""")
      },
      Some("""
        SELECT count(*) AS n_rows,
               CAST(sum(c_custkey) AS BIGINT) AS sum_key,
               min(c_acctbal) AS lo_bal, max(c_acctbal) AS hi_bal
        FROM customer WHERE c_acctbal >= 0
      """)),

    // Multi-table transaction (GraftCatalog.transact): a corpus table
    // and its fingerprint index publish in LOCKSTEP — one catalog CAS
    // claims both tables' next versions, so no reader ever sees a
    // corpus batch whose fingerprints are missing (the dedup-pipeline
    // consistency hole single-table commits leave open). Requires the
    // catalog-arbitrated backend, so the setup spins up the loopback
    // commit service for its three transactional batches and restores
    // the ambient backend after. The oracle joins the two tables: any
    // torn commit would break the equijoin's counts.
    QueryDef(
      "q166_multi_table_transaction",
      (s, d) => {
        val wh = txnWarehouse(s, d)
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT count(*) AS n_rows,
                 CAST(sum(c.c_custkey) AS BIGINT) AS sum_key,
                 CAST(sum(f.fp) AS BIGINT) AS sum_fp
          FROM graft.db1.txn_corpus c
          JOIN graft.db1.txn_fp f ON c.c_custkey = f.c_custkey""")
      },
      Some("""
        SELECT count(*) AS n_rows,
               CAST(sum(c_custkey) AS BIGINT) AS sum_key,
               CAST(sum(length(c_name)) AS BIGINT) AS sum_fp
        FROM customer
      """)),

    // View-version retention (CALL graft.system.expire_view_versions):
    // five CREATE OR REPLACE generations, keep the newest two — the
    // versions audit table lists exactly the survivors, the current
    // definition still reads, and a pinned read of an expired version
    // fails loudly (required in setup). The row count rides along so
    // the oracle also pins that the CURRENT definition (generation 5)
    // is the one serving reads.
    QueryDef(
      "q167_expire_view_versions",
      (s, d) => {
        val wh = setupOnce("q167", d) {
          val w = scratch("vexp")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          cat.createTableAs("db1", "vexp_base",
            Tables.customer(s, d).select("c_custkey", "c_acctbal"))
          s.conf.set("spark.graft.warehouse", w)
          (1 to 5).foreach { k =>
            s.sql("CREATE OR REPLACE VIEW graft.db1.vexp AS " +
              s"SELECT c_custkey, c_acctbal + $k AS adj " +
              "FROM graft.db1.vexp_base")
          }
          s.sql("CALL graft.system.expire_view_versions('db1.vexp', 2)")
          val failed =
            try {
              s.sql("SELECT * FROM graft.db1.vexp VERSION AS OF 1").collect()
              false
            } catch { case _: Exception => true }
          require(failed, "pinned read of an expired version must fail")
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT v.version_id, v.is_current, t.n_rows
          FROM graft.db1.vexp.versions v
          CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_rows
                      FROM graft.db1.vexp WHERE adj > 0) t
          ORDER BY v.version_id""")
      },
      Some("""
        SELECT v.version_id, v.is_current, t.n_rows
        FROM (SELECT 4 AS version_id, false AS is_current
              UNION ALL SELECT 5, true) v
        CROSS JOIN (SELECT count(*) AS n_rows FROM customer
                    WHERE c_acctbal + 5 > 0) t
        ORDER BY v.version_id
      """)),

    // Transaction-consistent TIME TRAVEL: every table in one
    // transaction stamps its snapshot with the transaction's SHARED
    // commit timestamp, so `AS OF` any instant reads a consistent set
    // — no probe time can fall between the corpus commit and its
    // fingerprint-index commit (per-table wall clocks would leave a
    // torn-pair window at every transaction). The query requires exact
    // timestamp alignment in metadata, then reads BOTH tables AS OF
    // each transaction boundary; the oracle derives the per-boundary
    // counts from the batch residue classes.
    QueryDef(
      "q168_txn_time_travel",
      (s, d) => {
        val wh = txnWarehouse(s, d)
        s.conf.set("spark.graft.warehouse", wh)
        val corpus = graft.engine.GraftTable.load(s,
          java.nio.file.Paths.get(wh, "db1", "txn_corpus").toString)
        val fp = graft.engine.GraftTable.load(s,
          java.nio.file.Paths.get(wh, "db1", "txn_fp").toString)
        val cTs = corpus.meta.snapshots.sortBy(_.timestampMs).map(_.timestampMs)
        val fTs = fp.meta.snapshots.sortBy(_.timestampMs).map(_.timestampMs)
        require(cTs == fTs,
          s"transaction snapshots not timestamp-aligned: $cTs vs $fTs")
        import s.implicits._
        cTs.zipWithIndex.map { case (ts, i) =>
          (i + 1, corpus.readAsOfTime(ts).count(), fp.readAsOfTime(ts).count())
        }.toDF("batch", "n_corpus", "n_fp").orderBy("batch")
      },
      Some("""
        SELECT b.batch,
               (SELECT count(*) FROM customer
                WHERE c_custkey % 3 < b.batch) AS n_corpus,
               (SELECT count(*) FROM customer
                WHERE c_custkey % 3 < b.batch) AS n_fp
        FROM (SELECT 1 AS batch UNION ALL SELECT 2 UNION ALL SELECT 3) b
        ORDER BY batch
      """)),

    // JOIN-DRIVEN DYNAMIC FILE PRUNING (JoinFilePruning): the fact is
    // bucket(64)-partitioned on the join key (hash write distribution:
    // one file per bucket); the dim predicate selects a handful of
    // customers, so the evaluated key domain collapses the fact's file
    // list to at most one bucket file per key BEFORE the scan plan is
    // built — the star-schema shape that decides whether a 100 TB
    // fact-dim query opens a few files or the table's. The pin is
    // Manifests.parseCount-style: the prune must FIRE, and the kept
    // file count must be bounded by the build key count and strictly
    // below the table's file total, at every scale factor.
    QueryDef(
      "q169_join_dynamic_pruning",
      (s, d) => {
        val wh = setupOnce("q169", d) {
          val w = scratch("dynprune")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val fact = cat.createTable("db1", "orders_dp", Seq(
            "o_orderkey" -> "long", "o_custkey" -> "long",
            "o_totalprice" -> "double"),
            Seq("o_custkey" -> "bucket(64)"),
            Map("write.distribution-mode" -> "hash"))
          fact.append(Tables.orders(s, d)
            .select("o_orderkey", "o_custkey", "o_totalprice"))
          cat.createTableAs("db1", "customer_dp", Tables.customer(s, d)
            .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"))
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        graft.catalog.JoinFilePruning.pruneEvents.set(0L)
        val df = s.sql("""
          SELECT c.c_custkey, c.c_name,
                 CAST(count(*) AS BIGINT) AS n_orders,
                 round(sum(o.o_totalprice), 2) AS revenue
          FROM graft.db1.orders_dp o
          JOIN graft.db1.customer_dp c ON o.o_custkey = c.c_custkey
          WHERE c.c_mktsegment = 'BUILDING' AND c.c_acctbal >= 9900.0
          GROUP BY c.c_custkey, c.c_name
          ORDER BY c.c_custkey""")
        val fired = graft.catalog.JoinFilePruning.pruneEvents.get()
        val keys = graft.catalog.JoinFilePruning.lastBuildKeys.get()
        val kept = graft.engine.GraftTable.lastPrunedReadFiles.get()
        val total = graft.engine.GraftTable.load(s,
          java.nio.file.Paths.get(wh, "db1", "orders_dp").toString)
          .meta.currentSnapshot.get.files.size.toLong
        require(fired >= 1, "dynamic pruning did not fire")
        require(keys >= 0 && kept >= 0 && kept <= keys && kept < total,
          s"fact file list did not collapse: kept $kept of $total " +
            s"(build keys: $keys)")
        df
      },
      Some("""
        SELECT c_custkey, c_name, CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING' AND c_acctbal >= 9900.0
        GROUP BY c_custkey, c_name ORDER BY c_custkey
      """)),

    // MERGE SOURCE-KEY PRUNING: the CDC upsert at scale — a small
    // batch merges into a bucket(256, o_orderkey) fact (hash write
    // distribution: one file per bucket), and the engine evaluates the
    // SOURCE's key domain to plan the merge against only the buckets
    // holding those keys instead of scanning the fact. The pin (inside
    // the memoized setup, where the merge runs) requires the planned
    // candidate count to be bounded by the batch's key count and
    // strictly below the fact's file total at every scale factor; the
    // oracle recomputes the merged end state, so a lost update or a
    // wrongly-pruned match breaks the sums.
    QueryDef(
      "q171_merge_source_pruning",
      (s, d) => {
        val wh = setupOnce("q171", d) {
          val w = scratch("mergeprune")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val orders = Tables.orders(s, d)
            .select("o_orderkey", "o_custkey", "o_totalprice")
          val fact = cat.createTable("db1", "orders_mp", Seq(
            "o_orderkey" -> "long", "o_custkey" -> "long",
            "o_totalprice" -> "double"),
            Seq("o_orderkey" -> "bucket(256)"),
            Map("write.distribution-mode" -> "hash"))
          fact.append(orders)
          val total = fact.meta.currentSnapshot.get.files.size.toLong
          s.conf.set("spark.graft.warehouse", w)
          orders.filter(col("o_orderkey") % 4000 === 0)
            .select(col("o_orderkey"), col("o_totalprice"))
            .union(s.range(1).select(lit(-1L), lit(9.99)))
            .toDF("k", "p").createOrReplaceTempView("q171_src")
          val keys = s.table("q171_src").count()
          graft.engine.GraftTable.lastMergeCandidateFiles.set(-1L)
          s.sql("""
            MERGE INTO graft.db1.orders_mp t
            USING q171_src s
            ON t.o_orderkey = s.k
            WHEN MATCHED THEN UPDATE SET o_totalprice = s.p + 1000.0
            WHEN NOT MATCHED THEN
              INSERT (o_orderkey, o_totalprice) VALUES (s.k, s.p)""")
          val cand = graft.engine.GraftTable.lastMergeCandidateFiles.get()
          require(cand >= 0 && cand <= keys && cand < total,
            s"merge did not prune: planned $cand of $total files " +
              s"for a $keys-key batch")
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT CAST(count(*) AS BIGINT) AS n_rows,
                 round(sum(o_totalprice), 2) AS sum_price,
                 CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END)
                   AS BIGINT) AS n_inserted
          FROM graft.db1.orders_mp""")
      },
      Some("""
        SELECT CAST(count(*) + 1 AS BIGINT) AS n_rows,
               round(sum(CASE WHEN o_orderkey % 4000 = 0
                              THEN o_totalprice + 1000.0
                              ELSE o_totalprice END) + 9.99, 2) AS sum_price,
               CAST(1 AS BIGINT) AS n_inserted
        FROM orders
      """)),

    // SUBQUERY-DOMAIN DML PRUNING: the dedup-sweep DELETE —
    // `DELETE ... WHERE key IN (SELECT key FROM dup_ids)` — evaluates
    // the subquery's key domain once and plans the CoW rewrite against
    // only the buckets holding those keys (SubqueryPruning), instead
    // of scanning the corpus to find them. The pin (inside the
    // memoized setup, where the DELETE runs) bounds the planned
    // candidates by the dup-table's key count and strictly below the
    // corpus's file total; the oracle recomputes the swept end state.
    QueryDef(
      "q172_subquery_dml_pruning",
      (s, d) => {
        val wh = setupOnce("q172", d) {
          val w = scratch("subqdml")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val corpus = cat.createTable("db1", "corpus_sq", Seq(
            "c_custkey" -> "long", "c_name" -> "string",
            "c_acctbal" -> "double"),
            Seq("c_custkey" -> "bucket(64)"),
            Map("write.distribution-mode" -> "hash"))
          corpus.append(Tables.customer(s, d)
            .select("c_custkey", "c_name", "c_acctbal"))
          val dup = cat.createTable("db1", "dup_sq", Seq("c_custkey" -> "long"))
          dup.append(Tables.customer(s, d)
            .filter(col("c_custkey") % 250 === 0).select("c_custkey"))
          val total = corpus.meta.currentSnapshot.get.files.size.toLong
          val keys = dup.read().count()
          s.conf.set("spark.graft.warehouse", w)
          graft.engine.GraftTable.lastDmlCandidateFiles.set(-1L)
          s.sql("""DELETE FROM graft.db1.corpus_sq
            WHERE c_custkey IN (SELECT c_custkey FROM graft.db1.dup_sq)""")
          val cand = graft.engine.GraftTable.lastDmlCandidateFiles.get()
          require(cand >= 0 && cand <= keys && cand < total,
            s"sweep did not prune: planned $cand of $total files " +
              s"for a $keys-key dup set")
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(c_custkey) AS BIGINT) AS sum_key,
                 round(sum(c_acctbal), 2) AS sum_bal
          FROM graft.db1.corpus_sq""")
      },
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c_custkey) AS BIGINT) AS sum_key,
               round(sum(c_acctbal), 2) AS sum_bal
        FROM customer WHERE c_custkey % 250 <> 0
      """)),

    // TRANSACTIONAL DML (GraftCatalog.transactOps / Tx.Delete /
    // Tx.Update): the dedup-sweep shape — a CoW DELETE of corpus rows
    // and the retraction of their fingerprint-index rows commit through
    // ONE atomic catalog CAS, so no reader ever joins a shrunken corpus
    // against a stale index; a second transaction stages a CoW UPDATE.
    // Rewritten files are written before the claim; the staged
    // transforms re-validate their base snapshot at claim time. The
    // oracle recomputes the post-transaction state from the source
    // table — any torn commit breaks the equijoin's counts/sums.
    QueryDef(
      "q170_transactional_dml",
      (s, d) => {
        val wh = setupOnce("q170", d) {
          val w = scratch("txndml")
          val before = graft.tableformat.FileIO.io
          val server = new graft.tableformat.CatalogCommitServer
          try {
            graft.tableformat.FileIO.install(
              new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
            val cat = new GraftCatalog(s, w)
            cat.createDatabase("db1")
            val corpus = cat.createTable("db1", "dml_corpus", Seq(
              "c_custkey" -> "long", "c_name" -> "string",
              "c_acctbal" -> "double"))
            val index = cat.createTable("db1", "dml_fp", Seq(
              "c_custkey" -> "long", "fp" -> "long"))
            val base = Tables.customer(s, d)
              .select("c_custkey", "c_name", "c_acctbal")
            val fps = base.select(col("c_custkey"),
              length(col("c_name")).cast("long").as("fp"))
            cat.transact(corpus -> base, index -> fps)
            // the sweep: delete every key ≡ 0 (mod 5) from BOTH tables
            // in one transaction
            cat.transactOps(Seq(
              graft.catalog.Tx.Delete(corpus, col("c_custkey") % 5 === 0),
              graft.catalog.Tx.Delete(index, col("c_custkey") % 5 === 0)))
            require(corpus.read().count() == index.read().count(),
              "corpus and index diverged after the transactional sweep")
            // staged CoW UPDATE through the same commit path
            cat.transactOps(Seq(
              graft.catalog.Tx.Update(corpus, col("c_custkey") % 7 === 0,
                Map("c_acctbal" -> (col("c_acctbal") + lit(1000.0))))))
          } finally {
            graft.tableformat.FileIO.install(before)
            server.close()
          }
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT count(*) AS n_rows,
                 CAST(sum(c.c_custkey) AS BIGINT) AS sum_key,
                 round(sum(c.c_acctbal), 2) AS sum_bal,
                 CAST(sum(f.fp) AS BIGINT) AS sum_fp
          FROM graft.db1.dml_corpus c
          JOIN graft.db1.dml_fp f ON c.c_custkey = f.c_custkey""")
      },
      Some("""
        SELECT count(*) AS n_rows,
               CAST(sum(c_custkey) AS BIGINT) AS sum_key,
               round(sum(CASE WHEN c_custkey % 7 = 0
                              THEN c_acctbal + 1000.0
                              ELSE c_acctbal END), 2) AS sum_bal,
               CAST(sum(length(c_name)) AS BIGINT) AS sum_fp
        FROM customer WHERE c_custkey % 5 <> 0
      """)),

    // EXISTS-DOMAIN pruning end-to-end (SubqueryPruning.existsDomain):
    // the idiomatic SQL dedup probe — `EXISTS (SELECT 1 FROM dup d
    // WHERE d.key = f.key)` — evaluates the correlated
    // equi-conjunct's inner domain once and plans the bucket(64) probe
    // against only the buckets holding those keys. The pin requires
    // the probe read to have collapsed below the key count and the
    // file total; the oracle recomputes the probe from the source.
    QueryDef(
      "q173_exists_probe_pruning",
      (s, d) => {
        val wh = setupOnce("q173", d) {
          val w = scratch("existsprobe")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val corpus = cat.createTable("db1", "corpus_ex", Seq(
            "c_custkey" -> "long", "c_acctbal" -> "double"),
            Seq("c_custkey" -> "bucket(64)"),
            Map("write.distribution-mode" -> "hash"))
          corpus.append(Tables.customer(s, d)
            .select("c_custkey", "c_acctbal"))
          val probe = cat.createTable("db1", "probe_ex",
            Seq("c_custkey" -> "long"))
          probe.append(Tables.customer(s, d)
            .filter(col("c_custkey") % 300 === 0).select("c_custkey"))
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        graft.engine.GraftTable.lastPrunedReadFiles.set(-1L)
        val df = s.sql("""
          SELECT CAST(count(*) AS BIGINT) AS n_probe,
                 CAST(sum(f.c_custkey) AS BIGINT) AS sum_key
          FROM graft.db1.corpus_ex f
          WHERE EXISTS (SELECT 1 FROM graft.db1.probe_ex d
                        WHERE d.c_custkey = f.c_custkey)""")
        val kept = graft.engine.GraftTable.lastPrunedReadFiles.get()
        val keys = graft.engine.GraftTable.load(s,
          java.nio.file.Paths.get(wh, "db1", "probe_ex").toString)
          .read().count()
        val total = graft.engine.GraftTable.load(s,
          java.nio.file.Paths.get(wh, "db1", "corpus_ex").toString)
          .meta.currentSnapshot.get.files.size.toLong
        require(kept >= 0 && kept <= keys && kept < total,
          s"EXISTS probe did not prune: kept $kept of $total " +
            s"for a $keys-key probe set")
        df
      },
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS n_probe,
               CAST(sum(c_custkey) AS BIGINT) AS sum_key
        FROM customer WHERE c_custkey % 300 = 0
      """)),

    // TRANSACTIONAL MERGE + multi-statement chain + read-your-own-
    // writes: the CDC upsert (MERGE into the fact) commits with its
    // index append AND a follow-up DELETE on the same fact in ONE SQL
    // transaction — the fact's two statements compose into a single
    // published snapshot (chained planning against the transaction's
    // preview), reads inside the transaction see the staged merge
    // (RYOW pin) while the committed table does not, and the oracle
    // recomputes the end state from the source: a torn commit, a lost
    // chain link, or a stale-read-fed plan all break the join's sums.
    QueryDef(
      "q174_transactional_merge",
      (s, d) => {
        val wh = setupOnce("q174", d) {
          val w = scratch("txnmerge")
          val before = graft.tableformat.FileIO.io
          val server = new graft.tableformat.CatalogCommitServer
          try {
            graft.tableformat.FileIO.install(
              new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
            val cat = new GraftCatalog(s, w)
            cat.createDatabase("db1")
            val orders = Tables.orders(s, d)
              .select("o_orderkey", "o_totalprice")
            val fact = cat.createTable("db1", "orders_tm", Seq(
              "o_orderkey" -> "long", "o_totalprice" -> "double"),
              Seq("o_orderkey" -> "bucket(64)"),
              Map("write.distribution-mode" -> "hash"))
            fact.append(orders)
            val index = cat.createTable("db1", "tm_fp", Seq(
              "o_orderkey" -> "long", "fp" -> "long"))
            index.append(orders.select(col("o_orderkey"),
              (col("o_orderkey") % 97).cast("long").as("fp")))
            s.conf.set("spark.graft.warehouse", w)
            val probeKey = orders.filter(col("o_orderkey") % 3000 === 0)
              .agg(min(col("o_orderkey"))).head().getLong(0)
            val oldPrice = fact.read()
              .filter(col("o_orderkey") === probeKey)
              .head().getDouble(1)
            val snaps0 = fact.meta.snapshots.size
            try {
              s.sql("BEGIN TRANSACTION")
              s.sql("""
                MERGE INTO graft.db1.orders_tm t
                USING (SELECT o_orderkey AS k,
                              o_totalprice + 1000.0 AS p
                       FROM graft.db1.orders_tm
                       WHERE o_orderkey % 3000 = 0
                       UNION ALL SELECT -1L, 9.99) s
                ON t.o_orderkey = s.k
                WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
                WHEN NOT MATCHED THEN
                  INSERT (o_orderkey, o_totalprice) VALUES (s.k, s.p)""")
              s.sql("INSERT INTO graft.db1.tm_fp VALUES (-1, 0)")
              // read-your-own-writes pin: this session's SQL reads see
              // the staged merge; the committed table does not
              val staged = s.sql("SELECT o_totalprice FROM " +
                s"graft.db1.orders_tm WHERE o_orderkey = $probeKey")
                .head().getDouble(0)
              require(math.abs(staged - (oldPrice + 1000.0)) < 1e-6,
                s"RYOW: staged merge invisible ($staged vs " +
                  s"${oldPrice + 1000.0})")
              require(math.abs(fact.read()
                .filter(col("o_orderkey") === probeKey).head().getDouble(1)
                - oldPrice) < 1e-6,
                "staged merge leaked into the committed table")
              // second statement on the SAME fact: chained against the
              // transaction's preview (sees the merge's output)
              s.sql("DELETE FROM graft.db1.orders_tm WHERE o_orderkey % 9000 = 0")
              s.sql("COMMIT")
            } finally {
              if (graft.catalog.GraftSqlTransactions.active(s))
                s.sql("ROLLBACK")
            }
            require(fact.meta.snapshots.size == snaps0 + 1,
              "chained MERGE+DELETE must publish ONE fact snapshot")
            require(fact.meta.currentSnapshot.get.timestampMs ==
              index.meta.currentSnapshot.get.timestampMs,
              "transaction timestamps diverged")
          } finally {
            graft.tableformat.FileIO.install(before)
            server.close()
          }
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT CAST(count(*) AS BIGINT) AS n_rows,
                 round(sum(t.o_totalprice), 2) AS sum_price,
                 CAST(sum(f.fp) AS BIGINT) AS sum_fp
          FROM graft.db1.orders_tm t
          JOIN graft.db1.tm_fp f ON t.o_orderkey = f.o_orderkey""")
      },
      Some("""
        SELECT CAST(count(*) + 1 AS BIGINT) AS n_rows,
               round(sum(CASE WHEN o_orderkey % 3000 = 0
                              THEN o_totalprice + 1000.0
                              ELSE o_totalprice END) + 9.99, 2) AS sum_price,
               CAST(sum(o_orderkey % 97) AS BIGINT) AS sum_fp
        FROM orders WHERE o_orderkey % 9000 <> 0
      """)),

    // TRANSACTIONAL MERGE-ON-READ DML: the dedup sweep on a
    // merge-on-read corpus — DELETE + a chained UPDATE on the corpus
    // plus the index retraction commit in ONE SQL transaction as
    // positional delete files + appended copies, with the corpus's
    // base data files untouched (pinned: the file list is unchanged
    // across the transaction and exactly one snapshot publishes). The
    // oracle recomputes the swept-then-updated end state; a rewrite, a
    // torn commit, or a chain link planning against the wrong preview
    // all break the join's sums.
    QueryDef(
      "q175_transactional_mor_sweep",
      (s, d) => {
        val wh = setupOnce("q175", d) {
          val w = scratch("txnmor")
          val before = graft.tableformat.FileIO.io
          val server = new graft.tableformat.CatalogCommitServer
          try {
            graft.tableformat.FileIO.install(
              new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
            val cat = new GraftCatalog(s, w)
            cat.createDatabase("db1")
            val corpus = cat.createTable("db1", "mor_corpus", Seq(
              "c_custkey" -> "long", "c_acctbal" -> "double"),
              Nil, Map(
                "write.delete.mode" -> "merge-on-read",
                "write.update.mode" -> "merge-on-read"))
            corpus.append(Tables.customer(s, d)
              .select("c_custkey", "c_acctbal"))
            val index = cat.createTable("db1", "mor_fp", Seq(
              "c_custkey" -> "long", "fp" -> "long"))
            index.append(Tables.customer(s, d).select(col("c_custkey"),
              (col("c_custkey") % 89).cast("long").as("fp")))
            s.conf.set("spark.graft.warehouse", w)
            val filesBefore = corpus.meta.currentSnapshot.get.files.map(_.path)
            val snaps0 = corpus.meta.snapshots.size
            try {
              s.sql("BEGIN TRANSACTION")
              s.sql("DELETE FROM graft.db1.mor_corpus WHERE c_custkey % 11 = 0")
              s.sql("DELETE FROM graft.db1.mor_fp WHERE c_custkey % 11 = 0")
              // chained second statement on the MoR corpus: planned
              // against the preview, so it must NOT resurrect or
              // re-update the rows the first statement deleted
              s.sql("""UPDATE graft.db1.mor_corpus
                SET c_acctbal = c_acctbal + 500.0 WHERE c_custkey % 13 = 0""")
              s.sql("COMMIT")
            } finally {
              if (graft.catalog.GraftSqlTransactions.active(s))
                s.sql("ROLLBACK")
            }
            require(corpus.meta.currentSnapshot.get.files.map(_.path)
              .containsSlice(filesBefore),
              "merge-on-read transaction must not rewrite base data files")
            require(corpus.meta.currentSnapshot.get.deleteFiles.nonEmpty,
              "merge-on-read transaction must publish delete files")
            require(corpus.meta.snapshots.size == snaps0 + 1,
              "chained DELETE+UPDATE must publish ONE corpus snapshot")
            require(corpus.meta.currentSnapshot.get.timestampMs ==
              index.meta.currentSnapshot.get.timestampMs,
              "transaction timestamps diverged")
          } finally {
            graft.tableformat.FileIO.install(before)
            server.close()
          }
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT CAST(count(*) AS BIGINT) AS n_rows,
                 round(sum(c.c_acctbal), 2) AS sum_bal,
                 CAST(sum(f.fp) AS BIGINT) AS sum_fp
          FROM graft.db1.mor_corpus c
          JOIN graft.db1.mor_fp f ON c.c_custkey = f.c_custkey""")
      },
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               round(sum(CASE WHEN c_custkey % 13 = 0
                              THEN c_acctbal + 500.0
                              ELSE c_acctbal END), 2) AS sum_bal,
               CAST(sum(c_custkey % 89) AS BIGINT) AS sum_fp
        FROM customer WHERE c_custkey % 11 <> 0
      """)),

    // DISTINCT-BUILD dynamic pruning: the idiomatic
    // `JOIN (SELECT DISTINCT key FROM dim WHERE ...)` build — the
    // graft-side walk passes through DISTINCT (deduplication never
    // changes a column's value set), so the duplicated dim keeps the
    // manifest-estimated path and its evaluated key domain collapses
    // the bucket(64) fact's file list. Pin: pruning fired and
    // kept ≤ distinct keys < total files, at every scale factor.
    QueryDef(
      "q176_distinct_build_pruning",
      (s, d) => {
        val wh = setupOnce("q176", d) {
          val w = scratch("distinctprune")
          val cat = new GraftCatalog(s, w)
          cat.createDatabase("db1")
          val fact = cat.createTable("db1", "orders_dd", Seq(
            "o_orderkey" -> "long", "o_custkey" -> "long",
            "o_totalprice" -> "double"),
            Seq("o_custkey" -> "bucket(64)"),
            Map("write.distribution-mode" -> "hash"))
          fact.append(Tables.orders(s, d)
            .select("o_orderkey", "o_custkey", "o_totalprice"))
          // every customer TWICE: the DISTINCT genuinely dedups
          val c = Tables.customer(s, d)
            .select("c_custkey", "c_mktsegment", "c_acctbal")
          cat.createTableAs("db1", "ddup", c.unionAll(c))
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        graft.catalog.JoinFilePruning.pruneEvents.set(0L)
        graft.engine.GraftTable.lastPrunedReadFiles.set(-1L)
        val df = s.sql("""
          SELECT f.o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
                 round(sum(f.o_totalprice), 2) AS revenue
          FROM graft.db1.orders_dd f
          JOIN (SELECT DISTINCT c_custkey FROM graft.db1.ddup
                WHERE c_mktsegment = 'BUILDING'
                  AND c_acctbal >= 9900.0) d
            ON f.o_custkey = d.c_custkey
          GROUP BY f.o_custkey
          ORDER BY f.o_custkey""")
        val fired = graft.catalog.JoinFilePruning.pruneEvents.get()
        val keys = graft.catalog.JoinFilePruning.lastBuildKeys.get()
        val kept = graft.engine.GraftTable.lastPrunedReadFiles.get()
        val total = graft.engine.GraftTable.load(s,
          java.nio.file.Paths.get(wh, "db1", "orders_dd").toString)
          .meta.currentSnapshot.get.files.size.toLong
        require(fired >= 1, "DISTINCT-build pruning did not fire")
        require(keys >= 0 && kept >= 0 && kept <= keys && kept < total,
          s"fact file list did not collapse: kept $kept of $total " +
            s"(distinct build keys: $keys)")
        df
      },
      Some("""
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING'
                              AND c_acctbal >= 9900.0)
        GROUP BY o_custkey ORDER BY o_custkey
      """)),

    // TRANSACTIONAL DDL + DEPENDENT-VIEW REPAIR: the reference's own
    // schema-evolution story (apiv15.py:352 renames Phone and repairs
    // the API layer) as ONE SQL transaction — ALTER TABLE ... RENAME
    // COLUMN and the dependent view's CREATE OR REPLACE publish
    // through one atomic claim set, so no reader window pairs the
    // renamed table with the stale definition. Pins: ROLLBACK discards
    // a staged rename whole; inside the transaction the STAGED view
    // over the STAGED schema serves read-your-own-writes; after COMMIT
    // the pair flips together. The oracle recomputes the repaired
    // view's result from the base parquet — a half-applied pair breaks
    // it as an analysis error (stale view names a dead column), a torn
    // rename breaks the sums.
    QueryDef(
      "q177_transactional_ddl_view",
      (s, d) => {
        val wh = setupOnce("q177", d) {
          val w = scratch("txnddl")
          val before = graft.tableformat.FileIO.io
          val server = new graft.tableformat.CatalogCommitServer
          try {
            graft.tableformat.FileIO.install(
              new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
            val cat = new GraftCatalog(s, w)
            cat.createDatabase("db1")
            val emp = cat.createTable("db1", "emp_ddl", Seq(
              "c_custkey" -> "long", "Phone" -> "string"))
            emp.append(Tables.customer(s, d)
              .select(col("c_custkey"), col("c_name").as("Phone")))
            s.conf.set("spark.graft.warehouse", w)
            s.sql("CREATE VIEW graft.db1.emp_v AS " +
              "SELECT Phone AS phone, c_custkey FROM graft.db1.emp_ddl")
            try {
              // ROLLBACK discards a staged rename whole
              s.sql("BEGIN TRANSACTION")
              s.sql("ALTER TABLE graft.db1.emp_ddl " +
                "RENAME COLUMN Phone TO `Phone number`")
              s.sql("ROLLBACK")
              require(emp.meta.currentSchema.fieldByName("Phone").isDefined,
                "ROLLBACK must discard the staged rename")
              // rename + view repair in ONE transaction
              s.sql("BEGIN TRANSACTION")
              s.sql("ALTER TABLE graft.db1.emp_ddl " +
                "RENAME COLUMN Phone TO `Phone number`")
              s.sql("CREATE OR REPLACE VIEW graft.db1.emp_v AS " +
                "SELECT `Phone number` AS phone, c_custkey " +
                "FROM graft.db1.emp_ddl")
              require(s.sql("SELECT count(*) FROM graft.db1.emp_v")
                .head().getLong(0) > 0,
                "the staged view over the staged schema must serve RYOW")
              require(emp.meta.currentSchema.fieldByName("Phone").isDefined,
                "the staged rename leaked into the committed schema")
              s.sql("COMMIT")
            } finally {
              if (graft.catalog.GraftSqlTransactions.active(s))
                s.sql("ROLLBACK")
            }
            require(emp.meta.currentSchema
              .fieldByName("Phone number").isDefined,
              "the rename did not commit")
          } finally {
            graft.tableformat.FileIO.install(before)
            server.close()
          }
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT CAST(count(*) AS BIGINT) AS n_rows,
                 min(phone) AS min_phone, max(phone) AS max_phone,
                 CAST(sum(c_custkey) AS BIGINT) AS sum_key
          FROM graft.db1.emp_v""")
      },
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               min(c_name) AS min_phone, max(c_name) AS max_phone,
               CAST(sum(c_custkey) AS BIGINT) AS sum_key
        FROM customer
      """)),

    // SAVEPOINT / ROLLBACK TO SAVEPOINT: partial rollback inside one
    // SQL transaction. The flow stages an INSERT, marks a savepoint,
    // stages a DELETE that turns out to be wrong, and rolls back TO
    // the mark — COMMIT publishes the INSERT and NOT the DELETE, in
    // one snapshot. The oracle recomputes the committed state from the
    // base parquet: base customers plus the inserted block, with the
    // "deleted" segment fully intact — a leaked DELETE breaks the
    // BUILDING row counts, a lost INSERT breaks the offset block.
    QueryDef(
      "q178_savepoint_partial_rollback",
      (s, d) => {
        val wh = setupOnce("q178", d) {
          val w = scratch("savepoint")
          val before = graft.tableformat.FileIO.io
          val server = new graft.tableformat.CatalogCommitServer
          try {
            graft.tableformat.FileIO.install(
              new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
            val cat = new GraftCatalog(s, w)
            cat.createDatabase("db1")
            val t = cat.createTable("db1", "sp_docs", Seq(
              "c_custkey" -> "long", "seg" -> "string"))
            t.append(Tables.customer(s, d)
              .select(col("c_custkey"), col("c_mktsegment").as("seg")))
            val base = t.countRows()
            val snaps0 = t.meta.snapshots.size
            s.conf.set("spark.graft.warehouse", w)
            try {
              s.sql("BEGIN TRANSACTION")
              s.sql("INSERT INTO graft.db1.sp_docs " +
                "SELECT c_custkey + 1000000, seg FROM graft.db1.sp_docs " +
                "WHERE seg = 'MACHINERY'")
              s.sql("SAVEPOINT cleanup")
              s.sql("DELETE FROM graft.db1.sp_docs WHERE seg = 'BUILDING'")
              require(s.sql("SELECT count(*) FROM graft.db1.sp_docs " +
                "WHERE seg = 'BUILDING'").head().getLong(0) == 0L,
                "RYOW must serve the staged DELETE before the rollback")
              s.sql("ROLLBACK TO SAVEPOINT cleanup")
              require(s.sql("SELECT count(*) FROM graft.db1.sp_docs " +
                "WHERE seg = 'BUILDING'").head().getLong(0) > 0L,
                "the partial rollback must restore the deleted segment")
              s.sql("COMMIT")
            } finally {
              if (graft.catalog.GraftSqlTransactions.active(s))
                s.sql("ROLLBACK")
            }
            require(t.countRows() > base,
              "the pre-savepoint INSERT did not commit")
            require(t.meta.snapshots.size == snaps0 + 1,
              "the surviving chain must publish ONE snapshot")
          } finally {
            graft.tableformat.FileIO.install(before)
            server.close()
          }
          w
        }
        s.conf.set("spark.graft.warehouse", wh)
        s.sql("""
          SELECT seg, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(c_custkey) AS BIGINT) AS sum_key
          FROM graft.db1.sp_docs
          GROUP BY seg ORDER BY seg""")
      },
      Some("""
        SELECT seg, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c_custkey) AS BIGINT) AS sum_key
        FROM (
          SELECT c_mktsegment AS seg, c_custkey FROM customer
          UNION ALL
          SELECT c_mktsegment AS seg, c_custkey + 1000000 FROM customer
          WHERE c_mktsegment = 'MACHINERY'
        )
        GROUP BY seg ORDER BY seg
      """))
  )
}
