package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (Type 2) snapshot merge.
  *
  * The reference's warehouse is snapshot-SCD by construction: one
  * fact row per (id, filename-month), full history retained, no row
  * ever closed (workfile_design_data_warehouse.sql:3 "be careful of
  * SCDs"; PK design.sql:413; snapshot-validity filter design.sql:543).
  * That layout re-stores every attribute every month — at 100 TB the
  * history table is 12× the entity count per year even when nothing
  * changed. The classic Type-2 ledger stores one row per VERSION
  * (valid_from / valid_to / is_current) and is the form warehouse
  * migrations ask for first, so the engine provides the merge as an
  * operator.
  *
  * Semantics of one merge step, given the current ledger and a full
  * snapshot taken at `asOf`:
  *   - unchanged entity  → current row untouched
  *   - changed entity    → current row closed (valid_to = asOf) + a new
  *                         current row (valid_from = asOf)
  *   - new entity        → new current row
  *   - absent entity     → current row closed (soft delete)
  * Closed (historical) rows pass through untouched. Change detection
  * compares the tracked attribute columns value-by-value, null-safe.
  *
  * Scale shape: one full-outer shuffle join of the CURRENT slice
  * against the snapshot on the entity key — history rows are routed
  * around the join with a cheap filter-union, so the join input is
  * |entities|, not |versions|. No window, no sort, no driver collect.
  */
object Snapshot {

  /** Column layout of the ledger: entity key cols + tracked attribute
    * cols + (valid_from: DATE, valid_to: DATE nullable, is_current).
    *
    * Closed rows pass through a filter; the CURRENT slice is joined
    * against the snapshot and each joined row emits its output role(s).
    * Two plan-shape decisions, both load-bearing at scale:
    *   - Sides are prefix-RENAMED before the join (never resolved via
    *     DataFrame-object attributes): ledger and snapshot frequently
    *     share lineage (a ledger re-merged with the snapshot that built
    *     it), and self-join attribute ambiguity then binds both "sides"
    *     to one relation, silently corrupting output.
    *   - Roles are emitted via ONE exploded struct array — a
    *     filter-per-role union makes Catalyst specialize the join per
    *     branch (observed: inner + left-outer + right-outer), tripling
    *     the snapshot computation.
    */
  def scd2Merge(
      ledger: DataFrame,
      snapshot: DataFrame,
      keyCols: Seq[String],
      attrCols: Seq[String],
      asOf: Column): DataFrame = {
    def l(c: String) = col("__l_" + c)
    def r(c: String) = col("__r_" + c)
    val cur = ledger.filter(col("is_current"))
      .select((keyCols ++ attrCols :+ "valid_from")
        .map(c => col(c).as("__l_" + c)) :+ lit(true).as("__l_present"): _*)
    val inc = snapshot
      .select((keyCols ++ attrCols)
        .map(c => col(c).as("__r_" + c)) :+ lit(true).as("__r_present"): _*)
    val joined = cur.join(inc,
      keyCols.map(k => l(k) === r(k)).reduce(_ && _), "full_outer")

    // side presence via literal markers, NOT key-null tests: a current
    // row whose key column is NULL never equi-matches, and a null-key
    // test would misread it as "absent from the ledger" and replace it
    // with a fabricated all-NULL opened row — the marker keeps it on
    // the close/keep path like any other unmatched current row
    val inCur = col("__l_present").isNotNull
    val inInc = col("__r_present").isNotNull
    // null-safe per-column equality; <=> treats NULL==NULL as true
    val same = attrCols.map(c => l(c) <=> r(c)).reduce(_ && _)

    def row(side: String => Column, from: Column, to: Column, isCur: Column) =
      struct(keyCols.map(k => side(k).as(k)) ++
        attrCols.map(a => side(a).as(a)) ++ Seq(
          from.as("valid_from"), to.as("valid_to"), isCur.as("is_current")): _*)
    val nullDate = lit(null).cast("date")
    val keepRow = row(l, l("valid_from"), nullDate, lit(true))
    val closeRow = row(l, l("valid_from"), asOf, lit(false))
    val openRow = row(r, asOf, nullDate, lit(true))
    val emitted =
      when(inCur && inInc && same, array(keepRow))
        .when(inCur && inInc && !same, array(closeRow, openRow))
        .when(inCur && !inInc, array(closeRow)) // soft delete
        .otherwise(array(openRow)) // brand new
    ledger.filter(!col("is_current"))
      .unionByName(joined.select(explode(emitted).as("r")).select(col("r.*")))
  }

  /** Bootstrap a ledger from the first snapshot. */
  def scd2Init(snapshot: DataFrame, asOf: Column): DataFrame =
    snapshot
      .withColumn("valid_from", asOf)
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))

  /** CDC merge-apply — the lakehouse `MERGE INTO` / Debezium-sink
    * semantics: apply a change log of (key, seq, op ∈ I|U|D, payload)
    * rows to a snapshot, keeping only each key's LATEST change
    * (seq desc, op asc tiebreak — a total order when (key, seq) is
    * unique, deterministic either way): latest I/U replaces (or
    * inserts) the row, latest D removes it, untouched keys pass
    * through. `changes` must carry the snapshot's columns plus
    * `seqCol`/`opCol`; output has exactly the snapshot schema.
    *
    * Scale shape: latest-per-key is a WindowGroupLimit (≤ 1 row per
    * key leaves each map task); the snapshot side is ONE left-anti
    * join on the key against the (bounded, change-sized) latest frame
    * plus a unionByName — no full-outer, no payload-wide shuffle of
    * the untouched majority beyond the join's key hashing. The
    * change-log grain is the DELTA, so cost follows churn. */
  def cdcApply(snapshot: DataFrame, changes: DataFrame, keyCols: Seq[String],
               seqCol: String, opCol: String): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val latest = Qualify.rowNumber(changes, keyCols.map(col),
      Seq(col(seqCol).desc, col(opCol).asc), n = 1)
      .localCheckpoint(true) // feeds the anti join AND the upsert side
    val survivors = snapshot.join(
      latest.select(keyCols.map(col): _*), keyCols, "left_anti")
    val upserts = latest.filter(col(opCol).isin("I", "U"))
      .select(snapshot.columns.map(col).toSeq: _*)
    survivors.unionByName(upserts)
  }

  /** Content diff of two corpus snapshots — the dataset-versioning
    * audit run between releases (what changed since the run the model
    * was trained on?): one row per id present in either snapshot whose
    * content differs — `status ∈ {added, removed, changed}` — with the
    * md5 content digests of both sides (NULL on the absent side).
    * Unchanged entities are filtered out IN the join projection, so the
    * output is bounded by the churn, not the corpus.
    *
    * Scale shape: digests are computed per row pre-shuffle, so the
    * full-outer equi-join on `id` carries (id, 32-byte digest) — never
    * the payloads; no window, no collect. At 100 TB, both sides prune
    * to two thin columns at the scan. */
  def contentDiff(oldSnap: DataFrame, newSnap: DataFrame,
                  id: Column, payload: Column): DataFrame = {
    val o = oldSnap.select(id.as("id"), md5(payload).as("old_digest"))
    val n = newSnap.select(id.as("id"), md5(payload).as("new_digest"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("old_digest").isNull, lit("added"))
          .when(col("new_digest").isNull, lit("removed"))
          .when(col("old_digest") =!= col("new_digest"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("id"), col("status"), col("old_digest"), col("new_digest"))
  }
}
