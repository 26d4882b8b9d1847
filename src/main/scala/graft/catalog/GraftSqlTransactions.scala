package graft.catalog

import org.apache.spark.sql.SparkSession
import graft.tableformat.{MetadataIO, TableMetadata}

/** SQL-surface transactions: `BEGIN TRANSACTION; <DML...>; COMMIT` —
  * the multi-statement seam over [[GraftCatalog.transactOps]], so the
  * two-table publish a warehouse user writes as plain SQL commits
  * through ONE atomic catalog CAS:
  *
  *   BEGIN TRANSACTION;
  *   INSERT INTO graft.db.corpus SELECT ...;
  *   INSERT INTO graft.db.fp_index SELECT ...;
  *   COMMIT;
  *
  * While a transaction is open on the session, graft INSERT / DELETE /
  * UPDATE / MERGE commands STAGE their work here (data files written
  * immediately — invisible until referenced, the same order every
  * commit uses) instead of committing; COMMIT publishes every staged
  * op in one claim set with one shared commit timestamp, ROLLBACK
  * discards (the staged files become GC-able orphans). `SAVEPOINT
  * <name>` / `ROLLBACK TO SAVEPOINT <name>` / `RELEASE SAVEPOINT
  * <name>` give partial rollback inside the open transaction: a mark
  * captures the staged buffers and previews, rollback-to restores
  * them (reads resume serving the restored preview; a chain whose
  * row-level DML was all rolled back composes as pure-append again),
  * release destroys the mark keeping the work. Catalog-
  * arbitrated backends only — COMMIT on a bare store refuses loudly,
  * like every multi-document transaction.
  *
  * Scope, stated plainly: DML (INSERT INTO, DELETE, UPDATE, MERGE)
  * plus the STAGEABLE DDL — ALTER TABLE column evolution /
  * SET TBLPROPERTIES and view redefinition (CREATE OR REPLACE VIEW of
  * an existing view, ALTER VIEW) — so the reference's own
  * rename-then-repair story (apiv15.py:352) commits atomically with
  * its dependent view. A table may appear in SEVERAL statements: each
  * statement past the first plans against the transaction's PREVIEW
  * of that table (the prior staged transforms applied in order) and
  * the statements compose into ONE claim-set slot at COMMIT.
  * Non-stageable statements (CTAS, TRUNCATE, INSERT OVERWRITE,
  * CREATE/DROP/RENAME TABLE, brand-new CREATE VIEW, DROP/RENAME VIEW)
  * refuse loudly rather than silently committing outside the
  * transaction.
  *
  * Reads are SNAPSHOT-ISOLATED at ONE INSTANT: a staged table resolves
  * against the preview metadata (read-your-own-writes, [[readView]]
  * wired through the relation swap in [[ResolveGraftRelations]]); an
  * untouched table is PINNED to its snapshot AT THE TRANSACTION'S
  * BEGIN instant (evaluated lazily at first touch), so a concurrent
  * commit between two statements cannot change the second statement's
  * input — and because every table pins to the SAME instant, and the
  * write side stamps a multi-table transaction's slots with one shared
  * timestamp, two pinned reads can never observe HALF of a racing
  * multi-table commit (the torn corpus-without-index pair). The
  * begin-instant clock argument is same-process: [[begin]] spins past
  * its own millisecond, so any commit PUBLISHING after BEGIN on this
  * clock carries a strictly later timestamp; cross-process writers
  * with skewed-backward clocks share the residual hazard of every
  * timestamp-ordered read (the same one TIMESTAMP AS OF has). One more
  * bounded residual, in the SAFE direction: a commit's stamp can run
  * PAST its publish wall-time — by a few ms under same-millisecond
  * crowding (the per-document monotonic floor), or by the full skew
  * when a cross-process writer's clock runs fast (including a
  * transaction that LIFTED its shared instant past such a racer's
  * stamp — the lift propagates the skew to every slot of that set).
  * A commit stamped in the future is invisible to pins until the wall
  * clock passes its stamp: reads stay SELF-CONSISTENT (timestamps are
  * the one cross-document order; every `TIMESTAMP AS OF` probe of the
  * instant agrees with the transaction's view), and a revalidating
  * chain on such a table aborts spuriously rather than silently —
  * cleared by the retry for ms-scale crowding, or once the clock
  * catches up for seconds-scale skew (the standard availability cost
  * of timestamp-ordered transactions under broken clocks; the unsound
  * alternatives are serving half a transaction or silently landing a
  * stale-planned rewrite). Explicit
  * VERSION/TIMESTAMP AS OF overrides the pin (it names its own
  * snapshot); metadata tables (history/snapshots/refs) keep showing
  * committed state — staged work is not a snapshot yet.
  *
  * Conflict contract: any chain containing row-level DML or DDL
  * REVALIDATES its table's committed metadata DOCUMENT version against
  * the transaction's pin at claim time — a racing commit between BEGIN
  * and COMMIT (data OR metadata-only: schema evolution and property
  * commits produce no snapshot but still invalidate the plan) aborts
  * the whole transaction loudly (first-committer-wins snapshot
  * isolation), never silently lands a rewrite planned against stale
  * state. A racer landing in the BEGIN-to-first-touch window is caught
  * too: the pin records the table as DIRTY (its live snapshot is
  * younger than the begin instant), and COMMIT refuses any
  * revalidating chain on a dirty table — its plan was made against the
  * begin-time state the reads served, not the racer's. Staged view
  * redefinitions revalidate their document's version id the same way.
  * Pure-append chains skip the checks: appends compose with any base
  * by construction.
  */
object GraftSqlTransactions {

  private final case class Staged(location: String, statement: String,
      f: (TableMetadata, Long) => TableMetadata)

  /** Per-session transaction state. ALL mutation happens inside
    * `state.synchronized` — Spark sessions are routinely shared across
    * threads, and two threads staging into one open transaction must
    * both land (or refuse cleanly), never corrupt the list. `closed`
    * marks the COMMIT/ROLLBACK point: a stager racing past it refuses
    * loudly instead of appending into a buffer whose snapshot was
    * already taken (the op would silently vanish).
    *
    * `previews` holds, per table location, the metadata produced by
    * applying the staged transforms so far — the read-your-own-writes
    * source and the planning base for follow-up statements on the same
    * table. `pins` records each location's metadata AT THE BEGIN
    * INSTANT, evaluated at its first touch (read or write): the
    * committed document read then, with its current snapshot rewound
    * to `beginMillis` when a racer already moved it past the instant —
    * the one-instant snapshot-isolation read view and the base that
    * revalidating chains check at claim time. `dirtySinceBegin` marks
    * pins that WERE rewound (the table moved between BEGIN and first
    * touch): reads stay consistent, but COMMIT refuses revalidating
    * chains on them — first-committer-wins against the begin instant.
    * `revalidating` marks locations whose chain contains row-level DML
    * or DDL (planned against specific files/schema — a racing commit
    * must abort, not silently compose).
    */
  private final class TxState {
    val ops = scala.collection.mutable.ArrayBuffer.empty[Staged]
    val previews =
      scala.collection.mutable.LinkedHashMap.empty[String, TableMetadata]
    val pins =
      scala.collection.mutable.LinkedHashMap.empty[String, TableMetadata]
    val dirtySinceBegin = scala.collection.mutable.Set.empty[String]
    val viewDirtySinceBegin = scala.collection.mutable.Set.empty[String]
    val revalidating = scala.collection.mutable.Set.empty[String]
    /** The transaction's snapshot instant — every pin resolves to this
      * one moment, recorded when [[begin]] runs (which then spins past
      * the millisecond, so no same-clock commit publishing after BEGIN
      * can tie it).
      */
    var beginMillis: Long = 0L
    val viewOps = scala.collection.mutable.ArrayBuffer
      .empty[(String, ViewMetadata => ViewMetadata)]
    val viewPreviews =
      scala.collection.mutable.LinkedHashMap.empty[String, ViewMetadata]
    // begin-time pins for VIEW DOCUMENTS (the definition a reader
    // expands) — views get the same snapshot-isolation contract as
    // tables: first touch records the committed document, later
    // statements expand the same definition whatever concurrent
    // redefinitions commit
    val viewPins =
      scala.collection.mutable.LinkedHashMap.empty[String, ViewMetadata]
    // committed DOCUMENT version at each view's first touch (the doc
    // version moves on EVERY commit, property-only ones included) —
    // COMMIT revalidates staged views against it, so a racing commit
    // of ANY kind aborts loudly instead of being silently superseded
    val viewPinVersions =
      scala.collection.mutable.LinkedHashMap.empty[String, Int]
    var closed = false
    /** `BEGIN TRANSACTION AS OF '<ts>'`: every table pins to its
      * snapshot at this instant instead of its current one — a
      * reproducible multi-statement read over one historical moment
      * (the audit/debug twin of transaction-consistent time travel).
      * Read-only: staging refuses.
      */
    var asOfMillis: Option[Long] = None
    /** SAVEPOINT marks, in declaration order. A mark captures the
      * staged-buffer lengths and the preview/revalidating state —
      * everything ROLLBACK TO SAVEPOINT restores. Pins, dirty sets,
      * and view pin versions are NOT part of a mark: they are
      * first-touch READ state, monotone over the transaction's life,
      * and restoring them would un-observe reads that already
      * happened.
      */
    val savepoints =
      scala.collection.mutable.LinkedHashMap.empty[String, SavepointMark]
  }

  private final case class SavepointMark(opsLen: Int, viewOpsLen: Int,
      previews: Map[String, TableMetadata],
      viewPreviews: Map[String, ViewMetadata],
      revalidating: Set[String])

  // session-keyed so independent SparkSessions (tests, notebooks
  // sharing a JVM) can't observe each other's open transaction; weak
  // so a dropped session can't pin its buffer
  private val open = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, TxState]())

  def active(session: SparkSession): Boolean = open.containsKey(session)

  /** The one-instant pin: `m` unchanged when the main pointer last
    * MOVED at or before the instant (the overwhelmingly common case —
    * identity, zero behavior change), else the document with its
    * current snapshot rewound to the instant via the snapshot log.
    * The boolean is DIRTY — the table moved past the instant before
    * first touch; reads off the rewound pin stay consistent, but a
    * revalidating chain planned against it must refuse at COMMIT.
    * The SNAPSHOT LOG (the pointer's move history), not the current
    * snapshot's creation time, is the clean-check: a pointer-move
    * commit (rollback_to_snapshot / set_current_snapshot /
    * fast_forward) makes an OLD snapshot current again with its
    * original creation stamp, which would pass a creation-time check
    * and silently pin the racer's rolled-back state as clean — no
    * rewind, no dirty mark, snapshot isolation and the
    * first-committer-wins refusal both bypassed. Log entries are
    * appended on every pointer move, so "no entry after the instant"
    * is exactly "the state a begin-instant probe would read".
    * Snapshot timestamps (not metadata-log ones) are the selector
    * because the write side stamps a multi-table transaction's slots
    * with ONE shared, per-document-floored timestamp — so two pins at
    * one instant see all of a racing transaction or none of it.
    */
  private def pinAt(m: TableMetadata, instant: Long)
      : (TableMetadata, Boolean) =
    if (!m.snapshotLog.exists(_.timestampMs > instant)) (m, false)
    else {
      val asOf = m.snapshotAsOfTime(instant)
      // a rewind to "no snapshot" is legitimate only when the table
      // really had none at the instant (created/first-committed after
      // BEGIN). Two truncation shapes must refuse loudly instead of
      // silently serving an empty table — the one outcome worse than
      // an abort: (a) a DIVERGENT document — the log names a
      // pre-instant snapshot that `snapshots` no longer resolves
      // (hand-truncated metadata; engine expiry trims both together);
      // (b) the ENGINE-EXPIRY shape — a racer committed after BEGIN
      // and expireSnapshots then removed every pre-instant snapshot
      // AND its log entry, leaving the earliest surviving pointer-log
      // entry mid-chain (its snapshot carries a parentId; a table's
      // genuine first commit has none). The checks are log-based on
      // purpose: `snapshots` also holds never-published branch
      // commits, whose creation times say nothing about main. A
      // same-window false refusal is possible only for a table whose
      // ENTIRE surviving history is younger than the instant — the
      // abort-safe direction, cleared on retry.
      val truncated = asOf.isEmpty && (
        m.snapshotLog.exists(_.timestampMs <= instant) ||
        m.snapshotLog.headOption
          .flatMap(e => m.snapshotById(e.snapshotId))
          .exists(_.parentId.isDefined))
      if (truncated)
        sys.error(s"table ${m.name}: the snapshot current at the " +
          "transaction's instant has been expired — the begin-time " +
          "state is no longer readable; retry the transaction")
      (m.copy(currentSnapshotId = asOf.map(_.snapshotId)), true)
    }

  /** The transaction's READ view of a location: the staged PREVIEW
    * when this transaction staged the table (read-your-own-writes),
    * else the BEGIN-INSTANT PIN — on first touch the caller's `live`
    * committed metadata is read and rewound to the begin instant
    * ([[pinAt]]), and every later statement resolves the table to that
    * same pin. One instant for ALL tables: a concurrent commit between
    * two SELECTs cannot change the second result, and two tables read
    * in one transaction can never observe half of a racing multi-table
    * commit. None when no transaction is open.
    */
  private[catalog] def readView(session: SparkSession, location: String,
      live: => TableMetadata): Option[TableMetadata] = {
    val st = open.get(session)
    if (st == null) return None
    // fast path: an existing preview/pin answers under the lock alone
    st.synchronized {
      if (st.closed) return None
      val hit = st.previews.get(location).orElse(st.pins.get(location))
      if (hit.isDefined) return hit
    }
    // first touch: evaluate the committed metadata OUTSIDE the lock —
    // it is file/network I/O (CatalogFileIO round-trips), and holding
    // the state lock through it would serialize every concurrent
    // stage()/readView() on the session behind the fetch. A losing
    // racer's extra read is an idempotent committed read; the first
    // recorded pin wins, as before.
    // AS OF transaction: the instant is the requested historical one
    // (a table with no snapshot then reads empty — the engine's own
    // readAsOfTime contract); otherwise the BEGIN instant
    val (fresh, dirty) =
      pinAt(live, st.asOfMillis.getOrElse(st.beginMillis))
    st.synchronized {
      if (st.closed) None
      else Some(st.previews.getOrElse(location, {
        if (!st.pins.contains(location)) {
          st.pins(location) = fresh
          if (dirty) st.dirtySinceBegin += location
        }
        st.pins(location)
      }))
    }
  }

  /** [[readView]] for VIEW DOCUMENTS: the staged redefinition preview
    * (read-your-own-writes), else the begin-instant document pin — the
    * committed document with its CURRENT pointer rewound to the
    * definition at the transaction's instant, so a concurrent CREATE
    * OR REPLACE VIEW between two statements cannot change which
    * definition the second statement expands, whether it lands after
    * the view's first touch or between BEGIN and it (same one-instant
    * contract as tables; a view created after the instant refuses
    * loudly). The pin records the committed DOCUMENT version alongside
    * (one atomic readWithVersion), the base staged redefinitions
    * revalidate at COMMIT; a rewound pin additionally marks the view
    * DIRTY — COMMIT refuses a staged redefinition of it
    * (first-committer-wins against the instant). None when no
    * transaction is open.
    */
  private[catalog] def viewReadView(session: SparkSession,
      location: String): Option[ViewMetadata] = {
    val st = open.get(session)
    if (st == null) return None
    st.synchronized {
      if (st.closed) return None
      val hit = st.viewPreviews.get(location)
        .orElse(st.viewPins.get(location))
      if (hit.isDefined) return hit
    }
    val (doc, v) = ViewIO.readWithVersion(location) // I/O outside the lock
    val instant =
      st.synchronized(st.asOfMillis.getOrElse(st.beginMillis))
    val (pinned, dirty) =
      if (doc.current.timestampMs <= instant) (doc, false)
      else {
        val cands = doc.versions.filter(_.timestampMs <= instant)
        if (cands.isEmpty) sys.error(
          s"view ${doc.name}: no version existed at the transaction's " +
            "instant — the view was created after it")
        (doc.copy(
          currentVersionId = cands.maxBy(_.timestampMs).versionId), true)
      }
    st.synchronized {
      if (st.closed) None
      else Some(st.viewPreviews.getOrElse(location, {
        if (!st.viewPins.contains(location)) {
          st.viewPins(location) = pinned
          st.viewPinVersions(location) = v
          if (dirty) st.viewDirtySinceBegin += location
        }
        st.viewPins(location)
      }))
    }
  }

  /** The open transaction's AS OF instant, if any — view expansion
    * resolves the DEFINITION version at this instant (tables pin their
    * data snapshot through [[readView]]; views version their SQL, so
    * the historical read needs the definition that was current then).
    */
  private[catalog] def asOfMillisOf(session: SparkSession): Option[Long] = {
    val st = open.get(session)
    if (st == null) None else st.synchronized(st.asOfMillis)
  }

  def begin(session: SparkSession, asOfMillis: Option[Long] = None): Unit = {
    require(!active(session),
      "a transaction is already open on this session — COMMIT or " +
        "ROLLBACK it first (nested transactions are not supported)")
    val st = new TxState
    st.asOfMillis = asOfMillis
    st.beginMillis = System.currentTimeMillis()
    // spin past the begin millisecond (≤1 ms, once per BEGIN): any
    // commit that PUBLISHES after this point on the same clock gets a
    // strictly later timestamp, so a pin at beginMillis either sees it
    // nowhere or — if it published before BEGIN — everywhere. Without
    // the spin, a same-millisecond racer landing between two first
    // touches could be half-seen.
    while (System.currentTimeMillis() <= st.beginMillis) Thread.onSpinWait()
    open.put(session, st)
  }

  /** The metadata a DML/DDL statement must PLAN against: the staged
    * preview if this transaction already staged the table, else the
    * begin-time pin (recorded from `live` on first touch). The caller
    * passes the SAME object back to [[stage]] as `plannedAgainst`,
    * which verifies under the lock that no concurrent thread staged in
    * between (the plan would silently drop that thread's statement).
    * The boolean is `isFirstStatement` — true when no statement has
    * staged this table yet (the engine stage-transform should
    * revalidate its own base).
    */
  private[catalog] def planBase(session: SparkSession, location: String,
      live: => TableMetadata): (TableMetadata, Boolean) = {
    val st = open.get(session)
    require(st != null, "no open transaction")
    def guards(): Unit = {
      require(!st.closed,
        "transaction already closed by a concurrent COMMIT/ROLLBACK")
      require(st.asOfMillis.isEmpty,
        "DML/DDL is not supported inside BEGIN TRANSACTION AS OF — " +
          "a historical transaction is read-only")
    }
    st.synchronized {
      guards()
      st.previews.get(location) match {
        case Some(p) => return (p, false)
        case None =>
      }
      st.pins.get(location) match {
        case Some(p) => return (p, true)
        case None =>
      }
    }
    // metadata I/O outside the lock (see readView); the plan base is
    // the same begin-instant pin reads use — a DML statement must plan
    // against exactly the state the transaction's reads serve
    val (fresh, dirty) = pinAt(live, st.beginMillis)
    st.synchronized {
      guards()
      st.previews.get(location) match {
        case Some(p) => (p, false)
        case None =>
          if (!st.pins.contains(location)) {
            st.pins(location) = fresh
            if (dirty) st.dirtySinceBegin += location
          }
          (st.pins(location), true)
      }
    }
  }

  /** Called by the DML/DDL commands when a transaction is open.
    * `plannedAgainst` is the metadata the statement planned against
    * (from [[planBase]]); the new preview is the transform applied to
    * it. `revalidates` marks the chain as requiring the committed-base
    * check at claim time — true for anything planned against specific
    * files or a specific schema (row-level DML, DDL), false for pure
    * appends, which compose with any base.
    */
  private[catalog] def stage(session: SparkSession, location: String,
      statement: String, plannedAgainst: TableMetadata,
      revalidates: Boolean,
      f: (TableMetadata, Long) => TableMetadata): Unit = {
    val st = open.get(session)
    require(st != null, "no open transaction")
    st.synchronized {
      require(!st.closed,
        "transaction already closed by a concurrent COMMIT/ROLLBACK — " +
          s"$statement on $location was not staged")
      require(st.asOfMillis.isEmpty,
        s"$statement is not supported inside BEGIN TRANSACTION AS OF — " +
          "a historical transaction is read-only")
      // two threads planning statements on the SAME table in one open
      // transaction: the later stage would record a preview (and a
      // commit transform) planned WITHOUT the earlier statement's
      // effects, silently dropping it at COMMIT. Plan-dependent ops
      // (row-level DML, DDL — anything that chose files or a schema
      // from its base) refuse loudly and the caller re-plans; appends
      // depend on no base state, so they REBASE onto the current
      // preview and both land. (eq, not ==: the planning base IS the
      // object this state handed out.)
      val current = st.previews.get(location)
        .orElse(st.pins.get(location)).getOrElse(plannedAgainst)
      if (revalidates) require(current eq plannedAgainst,
        s"$statement on $location was planned against a stale " +
          "transaction preview (another statement staged on this table " +
          "concurrently) — re-run the statement")
      // preview FIRST: if the transform's own preconditions throw
      // (e.g. a staged ALTER adding a duplicate column), nothing is
      // recorded — an op buffered without its preview would publish a
      // statement the session never saw succeed. Preview timestamps/
      // snapshot ids are preview-only; COMMIT re-applies the chain
      // with the shared transaction timestamp.
      val next = f(current, System.currentTimeMillis())
      st.ops += Staged(location, statement, f)
      if (revalidates) st.revalidating += location
      st.previews(location) = next
    }
  }

  /** Stage a VIEW redefinition (CREATE OR REPLACE VIEW / ALTER VIEW of
    * an existing view) — it publishes in COMMIT's same atomic claim
    * set as the table slots, so a column rename and its dependent
    * view's repair land together with no stale-pair reader window.
    * The preview is applied immediately (its `require`s surface at the
    * statement) and serves this session's view reads
    * ([[viewReadView]]). Returns the staged PREVIEW document, so
    * callers hand back a handle without a second (race-prone) state
    * lookup.
    */
  private[catalog] def stageView(session: SparkSession, location: String,
      statement: String, f: ViewMetadata => ViewMetadata): ViewMetadata = {
    val st = open.get(session)
    require(st != null, "no open transaction")
    // first touch pins the committed document AND its doc version (I/O
    // outside the lock); the doc version is the base COMMIT
    // revalidates against — a racing commit of ANY kind (redefinition
    // or property-only) must abort the transaction, never be silently
    // buried or overwritten
    val base = viewReadView(session, location)
      .getOrElse(sys.error(
        s"$statement on $location: transaction closed concurrently"))
    st.synchronized {
      require(!st.closed,
        "transaction already closed by a concurrent COMMIT/ROLLBACK — " +
          s"$statement on $location was not staged")
      require(st.asOfMillis.isEmpty,
        s"$statement is not supported inside BEGIN TRANSACTION AS OF — " +
          "a historical transaction is read-only")
      val next = f(st.viewPreviews.getOrElse(location, base))
      st.viewPreviews(location) = next
      st.viewOps += location -> f
      next
    }
  }

  /** Statements with no staged form refuse inside a transaction
    * instead of silently committing outside it.
    */
  private[catalog] def refuse(session: SparkSession, what: String): Unit =
    require(!active(session),
      s"$what is not supported inside BEGIN TRANSACTION — " +
        "COMMIT or ROLLBACK first")

  /** Publish the staged set atomically. Returns the number of staged
    * ops committed (0 = empty transaction, nothing written). On ANY
    * failure (conflict, bare-store refusal) the transaction is closed
    * and its staged ops discarded — a retry re-runs the statements.
    */
  def commit(session: SparkSession): Int = {
    val st = open.remove(session)
    require(st != null, "COMMIT without an open transaction")
    val (ops, viewOps, pins, revalidating, viewPins, viewPinVersions,
        dirty, viewDirty) =
      st.synchronized {
        st.closed = true
        (st.ops.toVector, st.viewOps.toVector, st.pins.toMap,
          st.revalidating.toSet, st.viewPins.toMap,
          st.viewPinVersions.toMap, st.dirtySinceBegin.toSet,
          st.viewDirtySinceBegin.toSet)
      }
    if (ops.isEmpty && viewOps.isEmpty) return 0
    // first-committer-wins against the BEGIN instant: a revalidating
    // chain (row-level DML / DDL) on a table that had already moved
    // past the instant at first touch was planned against the
    // begin-time state the reads served — committing it would land a
    // rewrite that silently ignores the racer. Same for a staged
    // redefinition of a view whose pinned definition was rewound.
    // (Pure-append chains and plain reads of dirty documents are fine:
    // appends compose with any base, reads never publish.)
    (ops.map(_.location).filter(l => revalidating(l) && dirty(l)) ++
      viewOps.map(_._1).filter(viewDirty)).headOption.foreach { loc =>
      throw new java.util.ConcurrentModificationException(
        s"transaction aborted: $loc was committed concurrently between " +
          "BEGIN and this transaction's first touch of it — the staged " +
          "statements were planned against the begin-instant state; " +
          "retry the transaction")
    }
    // compose per-location chains in statement order: each table gets
    // ONE claim-set slot whose transform applies its statements
    // sequentially. The chain's intermediate snapshots are then
    // COLLAPSED: one published snapshot per table per transaction,
    // stamped with the shared timestamp, so transaction-consistent
    // time travel holds (no probe instant can fall between a table's
    // own statements) and incremental consumers see the transaction as
    // one commit.
    val byLoc = scala.collection.mutable.LinkedHashMap
      .empty[String, (TableMetadata, Long) => TableMetadata]
    ops.foreach { s =>
      byLoc(s.location) = byLoc.get(s.location) match {
        case None    => s.f
        case Some(g) => collapsed((cur, ts) => s.f(g(cur, ts), ts))
      }
    }
    // the shared instant is FLOORED past every participating
    // document's observed history (pinned table snapshots, pinned view
    // versions): a prior writer with a skewed-forward clock — or
    // same-millisecond crowding — must not leave the transaction's
    // table stamp behind its view stamp, or a TIMESTAMP AS OF probe
    // in between would pair the new table state with the stale view
    // definition. The PIN-derived floor alone is not enough: a
    // PURE-APPEND chain legally composes over a post-pin racer
    // (revalidating chains and staged views abort on them, appends
    // don't), and if that racer carried a skewed-forward stamp above
    // sharedTs, the engine's per-document monotonic floor
    // (withSnapshot) would silently stamp that one table HIGHER than
    // the transaction's other slots — reopening the torn window.
    // So every table slot re-checks the floor against its CLAIM-TIME
    // document ([[SharedInstant.check]]); the retry loop lifts the
    // floor and re-prepares the whole set.
    val tsFloorInit = (pins.values.flatMap(m =>
      m.snapshots.map(_.timestampMs) ++ m.snapshotLog.map(_.timestampMs)) ++
      viewPins.values.flatMap(_.versions.map(_.timestampMs)))
      .maxOption.getOrElse(0L)
    val tsFloor = new java.util.concurrent.atomic.AtomicLong(tsFloorInit)
    def nowTs(): Long = SharedInstant.stampAbove(tsFloor)
    val sharedTs = new java.util.concurrent.atomic.AtomicLong(0L)
    val multiSlot =
      byLoc.size + viewOps.map(_._1).distinct.size > 1
    val tableTransforms = byLoc.toSeq.zipWithIndex.map { case ((loc, f), i) =>
      // a chain containing row-level DML or DDL was planned against
      // the transaction's pinned base — whatever kind its FIRST link
      // was (an INSERT-led chain validates nothing on its own):
      // revalidate the committed METADATA DOCUMENT version at claim
      // time and abort loudly on a racing commit, never silently land
      // a rewrite planned against stale state. The doc version (not
      // the snapshot id) is the pin: a racing schema evolution or
      // property commit produces no snapshot but still invalidates
      // the plan — and must never be silently overwritten either.
      val pinnedDoc = pins.get(loc).map(MetadataIO.docVersion)
      loc -> ((cur: TableMetadata) => {
        if (revalidating(loc))
          pinnedDoc.filter(_ != MetadataIO.docVersion(cur)).foreach { base =>
            throw new java.util.ConcurrentModificationException(
              s"transaction aborted: $loc was committed concurrently " +
                s"(planned against metadata v$base, now at " +
                s"v${MetadataIO.docVersion(cur)}) — the staged " +
                "statements were planned against stale state; " +
                "retry the transaction")
          }
        if (i == 0) sharedTs.set(nowTs())
        if (multiSlot) SharedInstant.check(cur, sharedTs.get)
        f(cur, sharedTs.get)
      })
    }
    def withFloorRetries[A](attempt: () => A): A =
      SharedInstant.withFloorRetries(tsFloor)(attempt)
    if (viewOps.isEmpty) {
      withFloorRetries(() => MetadataIO.commitAll(tableTransforms))
    } else {
      // view redefinitions join the SAME claim set (the DDL +
      // dependent-view-repair shape); per-location view chains compose
      // in statement order like table chains
      val viewByLoc = scala.collection.mutable.LinkedHashMap
        .empty[String, ViewMetadata => ViewMetadata]
      viewOps.foreach { case (loc, f) =>
        viewByLoc(loc) = viewByLoc.get(loc) match {
          case None    => f
          case Some(g) => (m: ViewMetadata) => f(g(m))
        }
      }
      withFloorRetries(() => MetadataIO.commitSlots(
        tableTransforms.map { case (loc, f) =>
          () => MetadataIO.prepareTableSlot(loc, f)
        } ++ viewByLoc.toSeq.map { case (loc, f) =>
          // view twin of the table chains' base revalidation, on the
          // DOCUMENT version (it moves on every commit, property-only
          // included): the redefinition was planned against the pinned
          // document — a racing commit of any kind aborts loudly
          // (first committer wins), never gets silently superseded or
          // overwritten. Checked in the slot thunk: a racer landing
          // between this check and our claim fails the claim itself,
          // and commitSlots' retry re-runs the thunk into the abort.
          val baseDocV = viewPinVersions.get(loc)
          () => {
            baseDocV.filter(_ != ViewIO.docVersionOf(loc)).foreach { b =>
              throw new java.util.ConcurrentModificationException(
                s"transaction aborted: view $loc was committed " +
                  s"concurrently (planned against document v$b, now at " +
                  s"v${ViewIO.docVersionOf(loc)}) — retry the transaction")
            }
            ViewIO.prepareSlot(loc, (cur: ViewMetadata) => {
              val next = f(cur)
              // stamp ADDED versions with the transaction's shared
              // instant: the rename + view-repair pair must leave no
              // probe window where TIMESTAMP AS OF pairs the renamed
              // table with the stale definition. Table slots prepare
              // first (slot order), so sharedTs is set when any exist;
              // a view-only transaction stamps here. The shared
              // instant is already floored past every pinned
              // document's history (nowTs).
              if (sharedTs.get == 0L) sharedTs.set(nowTs())
              val curIds = cur.versions.map(_.versionId).toSet
              next.copy(versions = next.versions.map(v =>
                if (curIds(v.versionId)) v
                else v.copy(timestampMs = sharedTs.get)))
            })
          }
        }))
    }
    ops.size + viewOps.size
  }


  /** Splice a multi-statement chain's intermediate snapshots out of
    * the committed metadata: the chain's FINAL state becomes one
    * snapshot re-parented onto the pre-transaction tip, its timestamp
    * the shared transaction instant (strictly monotonic vs the real
    * history only — the spliced intermediates never publish), and its
    * `added-*` summary recomputed against the pre-transaction file set
    * so incremental consumers price the transaction as the one commit
    * it observably is.
    */
  private def collapsed(chain: (TableMetadata, Long) => TableMetadata)
      : (TableMetadata, Long) => TableMetadata = (cur, ts) => {
    val end = chain(cur, ts)
    val added = end.snapshots.drop(cur.snapshots.size)
    if (added.size <= 1) end
    else {
      val last = added.last
      val now = math.max(ts, math.max(
        cur.snapshots.map(_.timestampMs).maxOption.getOrElse(Long.MinValue),
        cur.snapshotLog.map(_.timestampMs).maxOption.getOrElse(Long.MinValue))
        + 1)
      val curKnown = cur.currentSnapshot
        .map(s => (s.files ++ s.deleteFiles).map(_.path).toSet)
        .getOrElse(Set.empty[String])
      val addedFiles = last.inlineFiles.filterNot(f => curKnown(f.path))
      val merged = last.copy(
        parentId = cur.currentSnapshotId, timestampMs = now,
        summary = last.summary ++ Map(
          "added-data-files" -> addedFiles.size.toString,
          "added-records" -> addedFiles.map(_.recordCount).sum.toString,
          "added-files-size-bytes" ->
            addedFiles.map(_.fileSizeBytes).sum.toString))
      end.copy(
        currentSnapshotId = Some(merged.snapshotId),
        snapshots = cur.snapshots :+ merged,
        snapshotLog = cur.snapshotLog :+
          graft.tableformat.SnapshotLogEntry(now, merged.snapshotId))
    }
  }

  /** Discard the staged set (data files already written become
    * orphans for GC; staged DDL and view redefinitions are
    * metadata-only and vanish with the buffer). Returns how many ops
    * were discarded.
    */
  def rollback(session: SparkSession): Int = {
    val st = open.remove(session)
    require(st != null, "ROLLBACK without an open transaction")
    st.synchronized { st.closed = true; st.ops.size + st.viewOps.size }
  }

  // ------------------------------------------------------------ savepoints

  /** `SAVEPOINT <name>`: mark the current staged state. Re-declaring a
    * name MOVES it (the SQL-standard destroy-and-recreate); marks
    * declared after it are unaffected until a rollback crosses them.
    */
  def savepoint(session: SparkSession, name: String): Unit = {
    val st = open.get(session)
    require(st != null, s"SAVEPOINT $name without an open transaction")
    st.synchronized {
      require(!st.closed,
        "transaction already closed by a concurrent COMMIT/ROLLBACK")
      st.savepoints.remove(name) // re-declaration moves the mark
      st.savepoints(name) = SavepointMark(st.ops.length, st.viewOps.length,
        st.previews.toMap, st.viewPreviews.toMap, st.revalidating.toSet)
    }
  }

  /** `ROLLBACK TO SAVEPOINT <name>`: discard every statement staged
    * after the mark — the staged buffers truncate, the previews and
    * the revalidating set restore (a chain whose only row-level DML
    * was rolled back is a pure-append chain again and composes at
    * COMMIT), and reads resume serving the restored preview (or the
    * pin, for a table whose every op was discarded). Marks declared
    * AFTER the target are destroyed; the target itself survives (SQL
    * standard — it can be rolled back to again). Data files of
    * discarded statements become GC orphans, exactly like ROLLBACK's.
    * Pins and dirty sets are untouched: they record what the
    * transaction has READ, which a partial rollback cannot un-observe.
    */
  def rollbackToSavepoint(session: SparkSession, name: String): Unit = {
    val st = open.get(session)
    require(st != null,
      s"ROLLBACK TO SAVEPOINT $name without an open transaction")
    st.synchronized {
      require(!st.closed,
        "transaction already closed by a concurrent COMMIT/ROLLBACK")
      val m = st.savepoints.getOrElse(name,
        sys.error(s"no savepoint $name in this transaction"))
      st.ops.remove(m.opsLen, st.ops.length - m.opsLen)
      st.viewOps.remove(m.viewOpsLen, st.viewOps.length - m.viewOpsLen)
      st.previews.clear(); st.previews ++= m.previews
      st.viewPreviews.clear(); st.viewPreviews ++= m.viewPreviews
      st.revalidating.clear(); st.revalidating ++= m.revalidating
      dropMarksFrom(st, name, inclusive = false)
    }
  }

  /** Destroy `name` and/or the marks declared after it (declaration
    * order = LinkedHashMap insertion order): rollback-to destroys only
    * the LATER marks (the target survives and can be rolled back to
    * again), RELEASE destroys the target too. Caller holds the state
    * lock.
    */
  private def dropMarksFrom(st: TxState, name: String,
      inclusive: Boolean): Unit =
    st.savepoints.keys.iterator.dropWhile(_ != name)
      .drop(if (inclusive) 0 else 1).toVector
      .foreach(st.savepoints.remove)

  /** `RELEASE SAVEPOINT <name>`: destroy the mark (and every one
    * declared after it, per the SQL standard) — staged work is KEPT.
    */
  def releaseSavepoint(session: SparkSession, name: String): Unit = {
    val st = open.get(session)
    require(st != null,
      s"RELEASE SAVEPOINT $name without an open transaction")
    st.synchronized {
      require(!st.closed,
        "transaction already closed by a concurrent COMMIT/ROLLBACK")
      require(st.savepoints.contains(name),
        s"no savepoint $name in this transaction")
      dropMarksFrom(st, name, inclusive = true)
    }
  }

  private val BeginRe =
    "(?is)^\\s*BEGIN\\s+TRANSACTION(?:\\s+AS\\s+OF\\s+'([^']+)')?\\s*;?\\s*$".r
  private val CommitRe = "(?is)^\\s*COMMIT(\\s+TRANSACTION)?\\s*;?\\s*$".r
  private val RollbackRe =
    "(?is)^\\s*ROLLBACK(\\s+TRANSACTION)?\\s*;?\\s*$".r
  private val SavepointRe =
    "(?is)^\\s*SAVEPOINT\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*;?\\s*$".r
  private val RollbackToRe = ("(?is)^\\s*ROLLBACK\\s+(?:TRANSACTION\\s+)?" +
    "TO\\s+(?:SAVEPOINT\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s*;?\\s*$").r
  private val ReleaseRe = ("(?is)^\\s*RELEASE\\s+(?:SAVEPOINT\\s+)?" +
    "([A-Za-z_][A-Za-z0-9_]*)\\s*;?\\s*$").r

  /** Parser hook ([[GraftSqlParser]]): claim the three transaction
    * statements (BEGIN TRANSACTION optionally `AS OF '<ts>'` for a
    * read-only historical transaction). Spark has no COMMIT/ROLLBACK
    * of its own, and BEGIN is claimed only in its `BEGIN TRANSACTION`
    * form so SQL-scripting `BEGIN ... END` blocks stay Spark's.
    */
  private[catalog] def intercept(sqlText: String)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    sqlText match {
      case BeginRe(asOf)   =>
        Some(GraftBeginTransactionCommand(Option(asOf)))
      case CommitRe(_)     => Some(GraftCommitTransactionCommand())
      // savepoint names fold like unquoted SQL identifiers (Spark is
      // case-insensitive; so is PostgreSQL's savepoint semantics this
      // follows). A bare keyword captured as the "name" (the user
      // forgot one: `ROLLBACK TO SAVEPOINT`) falls through to Spark's
      // parser for a syntax error instead of a misleading
      // "no savepoint SAVEPOINT" runtime failure.
      case RollbackToRe(n) if !n.equalsIgnoreCase("savepoint") =>
        Some(GraftRollbackToSavepointCommand(fold(n)))
      case RollbackRe(_)   => Some(GraftRollbackTransactionCommand())
      case SavepointRe(n)  => Some(GraftSavepointCommand(fold(n)))
      case ReleaseRe(n) if !n.equalsIgnoreCase("savepoint") =>
        Some(GraftReleaseSavepointCommand(fold(n)))
      case _               => None
    }

  private def fold(name: String): String =
    name.toLowerCase(java.util.Locale.ROOT)

  /** Timestamps/dates in the AS OF clause are interpreted in UTC,
    * matching the pinned session timezone and the engine's other
    * time-travel surfaces.
    */
  private[catalog] def parseTsUtc(s: String): Long = {
    val t = s.trim
    if (t.contains(":"))
      java.time.LocalDateTime.parse(t.replace(" ", "T"))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    else
      java.time.LocalDate.parse(t).atStartOfDay
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
  }
}

final case class GraftBeginTransactionCommand(asOf: Option[String] = None)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(session: SparkSession): Seq[org.apache.spark.sql.Row] = {
    GraftSqlTransactions.begin(session,
      asOf.map(GraftSqlTransactions.parseTsUtc))
    Nil
  }
}

final case class GraftCommitTransactionCommand()
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(session: SparkSession): Seq[org.apache.spark.sql.Row] = {
    GraftSqlTransactions.commit(session)
    Nil
  }
}

final case class GraftRollbackTransactionCommand()
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(session: SparkSession): Seq[org.apache.spark.sql.Row] = {
    GraftSqlTransactions.rollback(session)
    Nil
  }
}

final case class GraftSavepointCommand(name: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(session: SparkSession): Seq[org.apache.spark.sql.Row] = {
    GraftSqlTransactions.savepoint(session, name)
    Nil
  }
}

final case class GraftRollbackToSavepointCommand(name: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(session: SparkSession): Seq[org.apache.spark.sql.Row] = {
    GraftSqlTransactions.rollbackToSavepoint(session, name)
    Nil
  }
}

final case class GraftReleaseSavepointCommand(name: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(session: SparkSession): Seq[org.apache.spark.sql.Row] = {
    GraftSqlTransactions.releaseSavepoint(session, name)
    Nil
  }
}

/** The ONE-INSTANT stamp discipline shared by every multi-table
  * transaction surface (SQL COMMIT and the API-level `transactOps`
  * family): all slots of a transaction publish with one shared
  * timestamp, or a `TIMESTAMP AS OF` probe falling between two slots'
  * stamps reads HALF the transaction. The engine's per-document
  * monotonic floor (`withSnapshot`) silently bumps a stamp past the
  * document's claim-time history — correct per table, torn across the
  * set — so the shared instant must clear EVERY slot's claim-time
  * floor: each slot [[check]]s its document, and a [[TooLow]] raise
  * makes the commit loop lift the floor and re-prepare the whole set.
  * Safe by construction: claims happen only after every prep thunk
  * returned, so a raise never strands a partially-claimed set.
  */
private[catalog] object SharedInstant {

  /** A slot's claim-time document floor sits above the chosen shared
    * instant (a post-pin racer with a skewed-forward or
    * same-millisecond-crowded stamp that a pure-append chain legally
    * composes over) — lift and re-prepare.
    */
  final class TooLow(val need: Long)
      extends RuntimeException(s"shared commit instant below $need",
        null, false, false)

  /** The stamp `withSnapshot`'s monotonic floor would force on a new
    * snapshot of `cur` — mirrored exactly (snapshots AND the pointer
    * log; log-only entries from pointer moves count).
    */
  def needFor(cur: TableMetadata): Long = math.max(
    cur.snapshots.map(_.timestampMs).maxOption.getOrElse(0L),
    cur.snapshotLog.map(_.timestampMs).maxOption.getOrElse(0L)) + 1

  def check(cur: TableMetadata, sharedTs: Long): Unit = {
    val need = needFor(cur)
    if (need > sharedTs) throw new TooLow(need)
  }

  /** The shared instant for this attempt: now, lifted past the floor.
    * The pairing with [[TooLow.need]] (stamp == max(now, need)) is
    * what makes the lift protocol converge — every caller of
    * [[withFloorRetries]] must stamp through this one expression.
    */
  def stampAbove(floor: java.util.concurrent.atomic.AtomicLong): Long =
    math.max(System.currentTimeMillis(), floor.get + 1)

  /** Run `attempt`, lifting `floor` past any [[TooLow]] raise and
    * retrying. Each re-fire needs a FRESH racer landing an even higher
    * stamp between attempts (the floor covers the observed need), so
    * the bound is a backstop, not a budget.
    */
  def withFloorRetries[A](
      floor: java.util.concurrent.atomic.AtomicLong)(attempt: () => A): A = {
    var tries = 0
    while (true) {
      try return attempt()
      catch {
        case e: TooLow =>
          tries += 1
          if (tries >= 50)
            throw new java.util.ConcurrentModificationException(
              "transaction aborted: the shared commit instant could not " +
                "be floored past concurrent writers after 50 attempts")
          floor.getAndUpdate(f => math.max(f, e.need - 1))
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
