package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD TYPE-2 dimension derived from a change log: one row per
  * (key, version) with a validity interval in log-position space —
  * `valid_from` (the batch that published the image) and `valid_to`
  * (the batch that superseded it; NULL while current). This is the
  * classic warehouse move the CDC surface was missing: the log
  * already carries every historical row image
  * ([[graft.runtime.ChangeLog]] entries are `o_*`/`n_*` pairs), and an
  * as-of fact join against the intervalized form answers "what did
  * this dimension row say WHEN the fact happened" without replaying
  * the log per fact — the [[AsOfJoin]]/point-in-time-features problem
  * restated over CDC history instead of event time.
  *
  * Construction is one pass, events → intervals:
  *
  *  - every non-`removed` log entry OPENS a version at its batch
  *    (the entry's `n_*` image);
  *  - every `removed` entry is a CLOSE-ONLY event (tombstone — it
  *    terminates the predecessor, opens nothing);
  *  - a key's PRE-LOG baseline (first entry not `added` ⇒ the key
  *    existed before the log) opens at `basePosition` with the first
  *    entry's `o_*` image — the image just before the key's first
  *    logged change;
  *  - keys the log never touched open at `basePosition` with their
  *    CURRENT table image (unchanged throughout, still current).
  *
  * `valid_to` is then `lead(valid_from)` per key over all events, and
  * tombstones drop after closing their predecessor. `is_current` ⟺
  * `valid_to IS NULL`.
  *
  * Scale shape: the event frames are log-scale plus one anti-join
  * against the base (co-partitioned on the key); the single window
  * shuffles on the key with per-key state = that key's version count
  * — no skew beyond the log's own hot keys, nothing collects, no
  * iteration. At 100 TB the bill is O(base + log), the floor for a
  * full-history dimension build; an incremental variant would append
  * only new-span versions, the same delta argument as
  * [[graft.runtime.StarJoinView]].
  *
  * Granularity contract: history is exactly as fine as the LIVE log.
  * A [[graft.runtime.ChangeLog.checkpoint]] collapse folds old
  * entries into one net base entry, so versions inside the folded
  * prefix merge into their net — correct as-of semantics at or past
  * the boundary, coarser before it (the same contract every
  * `readSince` consumer already carries). `basePosition` must sit
  * strictly below every live entry id (the
  * [[graft.runtime.ChangeLog.scd2]] wrapper enforces it from the
  * log's partition listing); rows valid since the baseline carry
  * `valid_from = basePosition` meaning "at least since there".
  *
  * Reference analogue: the reference keeps no dimension history at
  * all — its gold MERGE overwrites in place
  * (`silver_user_session_events.py:149-186`); this derives the
  * history its consumers cannot reconstruct. */
object Scd2 {

  /** Value-column names of a log frame (every `o_`-prefixed non-key
    * column) — [[graft.runtime.ChangeLog]]'s convention; safe because
    * [[TableDiff.diff]]'s reserved-name guard refuses tables whose own
    * columns collide with the prefixes. */
  private def valCols(log: DataFrame, keys: Seq[String]): Seq[String] =
    log.columns.toSeq
      .filter(c => c.startsWith("o_") && !keys.contains(c))
      .map(_.stripPrefix("o_"))

  /** The open/tombstone marker column of an EVENT frame — the
    * internal algebra [[fromLog]] and the incremental store
    * ([[graft.runtime.Scd2Store]]) share. An event is
    * (keys, vals, valid_from, is_open): opens carry an image,
    * tombstones null vals. Events are FACTS — append-only, unique per
    * (keys, valid_from, is_open) — which is what makes every consumer
    * of the algebra convergent under replay: re-deriving the same
    * event is a dedup no-op, never a double-apply. */
  val OpenCol = "is_open"

  /** Log entries → events: every non-`removed` entry opens a version
    * at its batch with the entry's `n_*` image; every `removed` entry
    * is a close-only tombstone. No baseline — [[baselineEvents]]. */
  private[graft] def logEvents(log: DataFrame,
                               keys: Seq[String]): DataFrame = {
    val vals = valCols(log, keys)
    val opens = log.filter(col("diff_status") =!= "removed")
      .select(keys.map(col) ++ vals.map(c => col(s"n_$c").as(c)) :+
        col("batch_id").cast("long").as("valid_from") :+
        lit(true).as(OpenCol): _*)
    val removals = log.filter(col("diff_status") === "removed")
      .select(keys.map(col) ++
        vals.map(c => lit(null).cast(log.schema(s"n_$c").dataType)
          .as(c)) :+
        col("batch_id").cast("long").as("valid_from") :+
        lit(false).as(OpenCol): _*)
    opens.unionByName(removals)
  }

  /** Pre-log baseline events at `basePosition`: log-touched keys open
    * with their FIRST entry's `o_*` image (the state just before the
    * key's first logged change — one log-scale hash aggregate), and
    * keys the log never touched open with their CURRENT table image
    * (an anti-join on the key, co-partitioned with the base). */
  private[graft] def baselineEvents(log: DataFrame, current: DataFrame,
                                    keys: Seq[String],
                                    basePosition: Long): DataFrame = {
    val vals = valCols(log, keys)
    val firstS = struct(
      (col("diff_status") +: vals.map(c => col(s"o_$c"))): _*)
    val baselineTouched = log
      .groupBy(keys.map(col): _*)
      .agg(min_by(firstS, col("batch_id")).as("_first"))
      .filter(col("_first.diff_status") =!= "added")
      .select(keys.map(col) ++
        vals.map(c => col(s"_first.o_$c").as(c)) :+
        lit(basePosition).as("valid_from") :+ lit(true).as(OpenCol): _*)
    val untouched = current
      .join(log.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .select(keys.map(col) ++ vals.map(col) :+
        lit(basePosition).as("valid_from") :+ lit(true).as(OpenCol): _*)
    baselineTouched.unionByName(untouched)
  }

  /** Events → intervals: ONE window per key ordered by position sets
    * `valid_to = lead(valid_from)` (a tombstone closes its
    * predecessor and opens nothing). Tombstone rows are KEPT (with
    * `is_open = false` and a meaningless interval) — the incremental
    * store persists them as facts; [[fromLog]] filters them for the
    * serving shape. */
  private[graft] def intervalize(events: DataFrame,
                                 keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("valid_from"))
    events
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col(OpenCol) && col("valid_to").isNull)
  }

  /** Build the SCD2 frame from a table's accumulated change log and
    * its CURRENT snapshot. Output = key columns, the log's value
    * columns, `valid_from`, `valid_to` (NULL = current),
    * `is_current`. `basePosition` stamps the pre-log baseline; it
    * must precede every live entry id. */
  def fromLog(log: DataFrame, current: DataFrame, keys: Seq[String],
              basePosition: Long): DataFrame =
    intervalize(
      baselineEvents(log, current, keys, basePosition)
        .unionByName(logEvents(log, keys)), keys)
      .filter(col(OpenCol))
      .drop(OpenCol)

  /** The consumption face: join facts to the versioned dimension AS OF
    * each fact's position — for every fact row, the dimension version
    * whose interval contains `facts(posCol)`, or NULL dimension
    * columns when the key was absent there (never existed yet, or
    * tombstoned before the position). This is what SCD2 exists to
    * answer, and the naive encoding — a `valid_from <= pos AND pos <
    * valid_to` range join — explodes to O(facts × versions) per key;
    * this routes through [[AsOfJoin.asOf]]'s union + single-window
    * plan (one shuffle on the key, linear work), then nulls out
    * matches whose interval CLOSED at or before the position (the
    * as-of carry alone would hand a removed key its last image
    * forever — `valid_to` rides the carried payload precisely so
    * expiry is checkable per fact).
    *
    * `dim` is a [[fromLog]] frame (or any frame with per-key
    * contiguous `valid_from`/`valid_to` intervals, unique per
    * (key, valid_from)); its non-key columns must not collide with
    * fact column names — prefix/select on the way in, the
    * [[AsOfJoin]] contract. */
  def joinAsOf(facts: DataFrame, dim: DataFrame, keys: Seq[String],
               posCol: String): DataFrame = {
    val dimCols = dim.columns.toSeq.filterNot(keys.contains)
    require(dimCols.contains("valid_to"),
      "dim must carry valid_to — expiry is undecidable without it")
    val joined = AsOfJoin.asOf(facts, dim, keys, posCol, "valid_from")
    val expired = col("valid_to").isNotNull &&
      col("valid_to") <= col(posCol)
    dimCols.foldLeft(joined.withColumn("__expired", expired)) {
        (d, c) =>
      d.withColumn(c,
        when(col("__expired"), lit(null).cast(dim.schema(c).dataType))
          .otherwise(col(c)))
    }.drop("__expired")
  }
}
