package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, InSet, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.LongType
import graft.engine.GraftTable
import graft.tableformat.SchemaHistory

/** Serving edge: the reference's Flask endpoint semantics as plain
  * functions (SURVEY §2.1 S8 + §3.1). Every reference endpoint ends in
  * `df.toPandas().to_dict(orient="records")` (apiv15.py:66) — JSON row
  * records; here that's `jsonRecords`, one `to_json` projection inside
  * the query that reads the rows. The HTTP framing is deliberately
  * absent: the capability is "collect-as-JSON-rows + endpoint
  * semantics", transport-agnostic.
  *
  * Error surface mirrors the reference's HTTP codes as a sealed result
  * (Ok / NotFound / BadRequest) so callers — or a thin HTTP wrapper —
  * map outcomes 1:1 (apiv15.py returns 404 for NO MATCH, 400 for
  * AMBIGUOUS).
  *
  * Scale note: the serving edge COLLECTS — it exists for endpoint-sized
  * results (single columns, filtered rows, snapshots of small tables).
  * A data endpoint runs exactly one query, encoding on the executors;
  * the manifest-only endpoints (`getHistory`, `getStats`) run none.
  * Analytics paths return DataFrames and never pass through here.
  */
object Serving {

  sealed trait Result
  final case class Ok(rows: Seq[String]) extends Result
  final case class NotFound(message: String) extends Result
  final case class BadRequest(message: String) extends Result

  /** DataFrame -> JSON row records (the reference's to_dict shape).
    *
    * The encoding is a `to_json(struct(*))` projection on top of the
    * reading plan, so it runs inside that query: the same
    * `JacksonGenerator`, session time zone and `ignoreNullFields` conf
    * as `Dataset.toJSON`, hence the same bytes, but with no `Row`
    * round trip. Over a local relation (every manifest-only metadata
    * frame) the optimizer folds the projection at planning time and
    * the call launches no Spark job.
    */
  def jsonRecords(df: DataFrame): Seq[String] =
    df.select(to_json(struct(col("*")))).collect().map(_.getString(0)).toSeq

  /** GET /<table> — full scan (apiv15.py:65). */
  def getTable(t: GraftTable): Result = Ok(jsonRecords(t.read()))

  /** GET /<table>/<column> — fast path on the current schema, slow path
    * through field-id history (apiv15.py:170-209), 404 otherwise.
    */
  def getColumn(t: GraftTable, column: String): Result =
    SchemaHistory.resolve(t.meta, column) match {
      case SchemaHistory.Current(n) =>
        Ok(jsonRecords(t.read().select(col(s"`$n`"))))
      case SchemaHistory.Renamed(n, _, _) =>
        Ok(jsonRecords(t.read().select(col(s"`$n`"))))
      case SchemaHistory.Dropped(id) =>
        NotFound(s"column '$column' (field-id $id) was dropped")
      case SchemaHistory.NeverExisted =>
        NotFound(s"column '$column' does not exist")
    }

  /** GET /<table>/ai/<column> — the reference's LLM matcher endpoint
    * (apiv15.py:396-421 GetColumnAI), served by the deterministic
    * resolver: NO MATCH -> 404, AMBIGUOUS -> 400.
    */
  def getColumnFuzzy(t: GraftTable, column: String): Result =
    ColumnResolver.resolve(t.meta, column) match {
      case ColumnResolver.Resolved(n, _) =>
        Ok(jsonRecords(t.read().select(col(s"`$n`"))))
      case ColumnResolver.Ambiguous(cands) =>
        BadRequest(s"ambiguous column '$column': ${cands.mkString(", ")}")
      case ColumnResolver.NoMatch =>
        NotFound(s"no column matches '$column'")
    }

  /** GET /<table>/snapshot/<date> — FOR SYSTEM_TIME AS OF with the
    * reference's input normalization (apiv15.py:136,153: pandas
    * to_datetime then %Y-%m-%d). Accepts date or timestamp strings; a
    * timestamp may carry an ISO-8601 offset or `Z`, and without one it
    * is read in UTC, as is a date (commit timestamps are epoch millis
    * and the session timezone is pinned UTC — a JVM-default-zone parse
    * would make the same call return different snapshots on different
    * hosts).
    */
  def getSnapshot(t: GraftTable, asOf: String): Result = {
    import java.time.{LocalDate, LocalDateTime, OffsetDateTime, ZoneOffset}
    val ts =
      try {
        val s = asOf.trim.replace(" ", "T")
        if (!s.contains(":")) // end of the named day, inclusive
          LocalDate.parse(s).plusDays(1).atStartOfDay
            .toInstant(ZoneOffset.UTC).toEpochMilli - 1L
        // the date's own hyphens end before the `T` at index 10, so a
        // later `Z`, `+` or `-` starts a zone offset
        else if (s.lastIndexWhere(c => c == 'Z' || c == '+' || c == '-') > 10)
          OffsetDateTime.parse(s).toInstant.toEpochMilli
        else
          LocalDateTime.parse(s).toInstant(ZoneOffset.UTC).toEpochMilli
      } catch {
        case _: java.time.format.DateTimeParseException =>
          return BadRequest(s"unparseable timestamp '$asOf'")
      }
    Ok(jsonRecords(t.readAsOfTime(ts)))
  }

  /** Positional projection — H3 (apiv15.py:238-249 keys on column #1
    * regardless of its current name).
    */
  def getColumnByPosition(t: GraftTable, pos: Int): Result =
    SchemaHistory.byPosition(t.meta, pos) match {
      case Some(n) => Ok(jsonRecords(t.read().select(col(s"`$n`"))))
      case None    => NotFound(s"no column at position $pos")
    }

  /** GET /<table>/row/<key> — equality filter on a key column
    * (apiv15.py:219 `WHERE Index = {id}`), parameterized not f-string'd.
    *
    * The key binds as a one-element `InSet` of the column's own type,
    * through the pruned read: manifest bounds and partition transforms
    * drop the files that cannot hold it, and because `InSet` holds its
    * set by reference the generated code is the same for every key (a
    * literal would be inlined — one fresh compile per key). `InSet`
    * skips the analyzer's type coercion, so the value is cast here; a
    * key the column cannot represent is NotFound.
    */
  def getRowsByKey(t: GraftTable, keyCol: String, value: Long): Result = {
    val m = t.meta
    val name = SchemaHistory.resolve(m, keyCol) match {
      case SchemaHistory.Current(n)       => n
      case SchemaHistory.Renamed(n, _, _) => n
      case _ => return NotFound(s"key column '$keyCol' does not exist")
    }
    val dt = m.currentSchema.fieldByName(name).get.sparkType
    val key =
      if (!Cast.canAnsiCast(LongType, dt)) None
      else try Option(Cast(Literal(value), dt, evalMode = EvalMode.ANSI).eval())
      catch { case scala.util.control.NonFatal(_) => None }
    key match {
      case Some(k) =>
        Ok(jsonRecords(t.readWhere(graftshim.columnOf(
          InSet(UnresolvedAttribute.quoted(name), Set(k))))))
      case None =>
        NotFound(s"key $value is not a value of column '$name' ($dt)")
    }
  }

  /** GET /<table>/history (apiv15.py:80). */
  def getHistory(t: GraftTable): Result = Ok(jsonRecords(t.history))

  /** GET /<table>/stats — beyond the reference: the manifest-only
    * per-column aggregate trio (count / non-null / min / max), zero
    * data I/O, NULL cells where manifest arithmetic is unsound — the
    * endpoint a dashboard polls on a 100 TB table for free.
    */
  def getStats(t: GraftTable): Result = Ok(jsonRecords(t.statsDf))
}
