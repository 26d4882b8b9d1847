package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.GraftTable
import graft.ingest.JsonIngest

/** The last four SURVEY §2 rows previously checked only by units, pushed
  * through the driver's oracle gate with the VALUES pattern (q62/q65):
  *
  *   - S4  metadata-JSON read (reference notebook cells 49-50:
  *     `spark.read.json(".../v1.metadata.json")`) — q66;
  *   - S8  JSON-records serving edge (apiv15.py:66
  *     `df.toPandas().to_dict(orient="records")`) — q67;
  *   - P4  columns introspection (apiv15.py:172 `spark.table(t).columns`)
  *     — q68;
  *   - H3  positional column resolution (apiv15.py:238-249 keys on
  *     "column #2" regardless of its current name) — q69.
  *
  * Each builds a scratch graft table once per (query, sfDir), runs the
  * operator, and returns a result plain SQL reproduces exactly — the
  * outputs are deterministic given the setup, so they oracle as VALUES.
  */
object ApiSurface {

  import Scratch.{dir => scratch, setupOnce}

  val all: Seq[QueryDef] = Seq(

    // S4: a graft metadata document read back with spark.read.json and
    // introspected with SQL — schema history as queryable data, the
    // reference's cells 49-50 over our vN.metadata.json.
    QueryDef(
      "q66_json_metadata_read",
      (s, d) => {
        val loc = setupOnce("q66", d) {
          val l = scratch("jsonmeta")
          GraftTable.createAs(s, l, "region_j", Tables.region(s, d))
            .renameColumn("r_name", "region_name")
          l
        }
        JsonIngest.readTableMetadata(s, loc)
          .select(col("formatVersion").cast("int").as("format_version"),
            col("currentSchemaId").cast("int").as("current_schema_id"),
            explode(col("schemas")).as("sch"))
          .select(col("format_version"), col("current_schema_id"),
            col("sch.schemaId").cast("int").as("schema_id"),
            concat_ws(",", col("sch.fields.name")).as("field_names"))
          .orderBy(col("schema_id"))
      },
      Some("""
        SELECT * FROM (VALUES
          (2, 1, 0, 'r_regionkey,r_name'),
          (2, 1, 1, 'r_regionkey,region_name'))
          AS t(format_version, current_schema_id, schema_id, field_names)
        ORDER BY schema_id
      """)),

    // S8: the serving edge's JSON row records — every reference endpoint
    // ends in to_dict(orient="records"); ours is a to_json projection
    // collected from the reading query, and the record strings
    // themselves are the checked output.
    QueryDef(
      "q67_serving_records",
      (s, d) => {
        val loc = setupOnce("q67", d) {
          import s.implicits._
          val l = scratch("serving")
          GraftTable.createAs(s, l, "tiny",
            Seq((1, "alpha"), (2, "beta"), (3, "gamma")).toDF("id", "label"))
          l
        }
        import s.implicits._
        val records = graft.api.Serving.getTable(GraftTable.load(s, loc)) match {
          case graft.api.Serving.Ok(rows) => rows
          case other => sys.error(s"serving edge failed: $other")
        }
        records.sorted.toDF("record")
      },
      Some("""
        SELECT * FROM (VALUES
          ('{"id":1,"label":"alpha"}'),
          ('{"id":2,"label":"beta"}'),
          ('{"id":3,"label":"gamma"}'))
          AS t(record)
        ORDER BY record
      """)),

    // P4: columns introspection after the full evolution cycle (add,
    // rename, drop) — the reference's set-membership guard before every
    // query (apiv15.py:172-174) needs exactly this list.
    QueryDef(
      "q68_columns_introspection",
      (s, d) => {
        val loc = setupOnce("q68", d) {
          val l = scratch("columns")
          val t = GraftTable.createAs(s, l, "part_c",
            Tables.part(s, d).select("p_partkey", "p_name", "p_size"))
          t.addColumn("grade", "string")
          t.renameColumn("p_name", "part_label")
          t.dropColumn("p_size")
          l
        }
        import s.implicits._
        GraftTable.load(s, loc).read().schema.fieldNames.toSeq.zipWithIndex
          .map { case (n, i) => (i + 1, n) }
          .toDF("position", "column_name")
          .orderBy(col("position"))
      },
      Some("""
        SELECT * FROM (VALUES
          (1, 'p_partkey'), (2, 'part_label'), (3, 'grade'))
          AS t(position, column_name)
        ORDER BY position
      """)),

    // H3: positional resolution on a renamed table — "column #2" keeps
    // answering across renames because position is schema-ordinal, not
    // name-bound (apiv15.py:238-249; SchemaHistory.byPosition).
    QueryDef(
      "q69_positional_resolution",
      (s, d) => {
        val loc = setupOnce("q69", d) {
          val l = scratch("positional")
          GraftTable.createAs(s, l, "nation_p",
            Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey"))
            .renameColumn("n_name", "nation_label")
          l
        }
        val m = GraftTable.load(s, loc).meta
        import s.implicits._
        import graft.tableformat.SchemaHistory
        Seq(0, 1, 2, 99).map { p =>
          SchemaHistory.byPosition(m, p) match {
            case Some(n) => (p, n, "ok")
            case None    => (p, "", "not_found")
          }
        }.toDF("position", "column_name", "status")
          .orderBy(col("position"))
      },
      Some("""
        SELECT * FROM (VALUES
          (0,  'n_nationkey',  'ok'),
          (1,  'nation_label', 'ok'),
          (2,  'n_regionkey',  'ok'),
          (99, '',             'not_found'))
          AS t(position, column_name, status)
        ORDER BY position
      """))
  )
}
