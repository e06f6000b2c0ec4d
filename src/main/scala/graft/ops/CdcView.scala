package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental view maintenance driven by the CDC change log — the
  * consumer side of [[graft.runtime.ChangeLog]] taken to its point:
  * a downstream DISTRIBUTIVE group-by view (counts, sums) is kept
  * current by APPLYING each span's entries, never re-reading the
  * base table. At 100 TB the base recompute costs a full scan per
  * refresh, while the log-driven update costs O(log entries + |view|)
  * — the classic IVM result for self-maintainable aggregates,
  * re-expressed on Spark frames.
  *
  * This object holds the pieces every view form shares. The signed
  * group delta itself is [[CdcStarView.starGroupDelta]]: a
  * single-table view is its star with no dims (the fact term alone —
  * old images subtract, new images add, a key whose dims changed
  * moves between groups as (-old, +new)); [[applyDelta]] folds it
  * into the view and drops groups whose count reaches 0.
  * [[touchedGroups]] scopes the NON-distributive refresh, and
  * [[requireExactMeasures]] ENFORCES the measure contract: sums must
  * be exact arithmetic (longs / decimals — float sums would drift
  * from a recompute by association order) and fail loud at plan time
  * otherwise.
  *
  * Net-vs-sequential equivalence: contributions are additive, so
  * applying the whole span's [[graft.runtime.ChangeLog.netDiff]] in
  * one shot equals applying each batch in order — intermediate
  * reverted changes telescope to zero (CdcViewSpec pins both paths
  * against the recompute).
  *
  * Scale shape: [[applyDelta]] is ONE co-partitioned full-outer join
  * of the view with the (dims-grained, tiny) delta. Nothing reads the
  * base table and nothing collects. */
object CdcView {

  /** Enforce the distributive contract instead of documenting it:
    * every measure must carry EXACT group-summable arithmetic —
    * integral (byte/short/int/long) or decimal. A float/double
    * measure would fold to a value that drifts from the recompute by
    * association order (the signed add/subtract telescoping is only
    * an identity over exact types), and a min/max-shaped view is not
    * maintainable from deltas at all (a removed row may have BEEN the
    * min — recovering it needs the base). Both previously produced
    * silently wrong views; now they fail loud at plan time, with the
    * remedy named. */
  def requireExactMeasures(schema: org.apache.spark.sql.types.StructType,
                           measures: Seq[String]): Unit =
    measures.foreach { m =>
      val f = schema.fields.find(_.name == m).getOrElse(
        sys.error(s"measure column '$m' is not in the projected " +
          s"schema ${schema.fieldNames.mkString("[", ", ", "]")}"))
      val ok = f.dataType match {
        case _: org.apache.spark.sql.types.ByteType => true
        case _: org.apache.spark.sql.types.ShortType => true
        case _: org.apache.spark.sql.types.IntegerType => true
        case _: org.apache.spark.sql.types.LongType => true
        case _: org.apache.spark.sql.types.DecimalType => true
        case _ => false
      }
      require(ok,
        s"measure '$m' is ${f.dataType.simpleString}: log-driven view " +
          "maintenance folds SIGNED contributions, which is exact only " +
          "for integral/decimal sums (a float sum drifts from the " +
          "recompute by association order, and min/max cannot be " +
          "maintained from deltas — a removed row may have been the " +
          "extreme). Cast the measure to long/decimal (e.g. cents " +
          "instead of dollars) in the projection, or serve the view " +
          "by recompute instead")
    }

  /** Reconstitute one endpoint's row images from a net diff frame
    * (`o_`/`n_` prefixed value columns back to base names). */
  private def image(net: DataFrame, keys: Seq[String],
                    prefix: String, dropStatus: String): DataFrame = {
    val vals = net.columns.toSeq
      .filter(c => c.startsWith("o_") && !keys.contains(c))
      .map(_.stripPrefix("o_"))
    net.filter(col("diff_status") =!= dropStatus)
      .select(keys.map(col) ++
        vals.map(c => col(s"$prefix$c").as(c)): _*)
  }

  /** The DISTINCT groups a change-log span touches: the union of the
    * old images' dims and the new images' dims (a dims-move touches
    * both its source and destination group). Log-scale by
    * construction — this is the scoping frame of the NON-distributive
    * refresh ([[graft.runtime.MaterializedView.refreshByRecompute]]):
    * aggregates no signed fold can maintain (min/max — a removed row
    * may have BEEN the extreme) are instead RECOMPUTED from the base,
    * but only inside these groups; everything the span did not touch
    * is provably unchanged and never re-read. */
  def touchedGroups(net: DataFrame, keys: Seq[String],
                    project: DataFrame => DataFrame,
                    dims: Seq[String]): DataFrame =
    project(image(net, keys, "o_", "added"))
      .select(dims.map(col): _*)
      .unionByName(project(image(net, keys, "n_", "removed"))
        .select(dims.map(col): _*))
      .distinct()

  /** Apply a signed group delta ([[CdcStarView.starGroupDelta]]) to
    * the maintained view: one full-outer join on the dims,
    * coalesce-add every measure and the row count, drop groups whose
    * count reached zero (no surviving base rows).
    * The result is the view AFTER the span — CdcViewSpec proves it
    * equals the base recompute cell for cell. */
  def applyDelta(view: DataFrame, delta: DataFrame,
                 dims: Seq[String], measures: Seq[String]): DataFrame = {
    def add(name: String): Column =
      (coalesce(view(name), lit(0L)) +
        coalesce(delta(name), lit(0L))).as(name)
    view.join(delta, dims.map(n => view(n) <=> delta(n)).reduce(_ && _),
        "full_outer")
      .select(dims.map(n => coalesce(view(n), delta(n)).as(n)) ++
        ((measures :+ "n_rows").map(add)): _*)
      .filter(col("n_rows") > 0)
  }
}
