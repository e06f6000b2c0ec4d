package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Log-driven IVM for a STAR join view — one FACT table joined to K
  * dimension tables, each on its own fact columns:
  * `V = SELECT dims, SUM(ms) FROM F ⋈ D1 ⋈ … ⋈ Dk GROUP BY dims`,
  * kept current from the tables' change logs without re-running the
  * join. A single-table group-by is the K = 0 case — the fact term
  * alone: old images subtract, new images add. A join adds the
  * classic difficulty that a one-row change on one side can touch
  * MANY view rows through the join, and the classic answer is the
  * signed delta decomposition. A two-table view is the K = 1 case:
  *
  *   Δ(F ⋈ D)  =  ΔF ⋈ D₁  ∪  F₀ ⋈ ΔD         (signed multisets)
  *
  * where ΔX is the span's net row delta (old images sign −1, new
  * images sign +1 — [[graft.runtime.ChangeLog.netDiff]] images). For
  * general K the decomposition ORDERS the tables and gives each one
  * exactly one moving term — every table BEFORE the mover at its
  * span-START state, every table AFTER it at its span-END state:
  *
  *   Δ(F⋈D1⋈…⋈Dk) =  ΔF ⋈ D1₁ ⋈ … ⋈ Dk₁
  *                 ∪  F₀ ⋈ ΔD1 ⋈ D2₁ ⋈ … ⋈ Dk₁
  *                 ∪  F₀ ⋈ D1₀ ⋈ ΔD2 ⋈ D3₁ ⋈ … ⋈ Dk₁
  *                 ∪  …
  *                 ∪  F₀ ⋈ D1₀ ⋈ … ⋈ D(k−1)₀ ⋈ ΔDk
  *
  * Term i telescopes to `(…X_i₁…) − (…X_i₀…)` with everything left of
  * X at start state and everything right at end state, so
  * consecutive terms cancel pairwise and the sum collapses to
  * `F₁⋈D1₁⋈…⋈Dk₁ − F₀⋈D1₀⋈…⋈Dk₀` — the exact view delta, no
  * cancellation error because every measure is exact arithmetic
  * ([[CdcView.requireExactMeasures]], enforced).
  *
  * Scale shape: every term joins ONE log-scale signed side against
  * tables — shuffle volume O(Δ × fan-out) per term; a side that did
  * not move contributes no term at all (`net = None`); span-start
  * states are LAZY thunks ([[Side.atStart]]) evaluated only by the
  * terms that need them, so an F-only span reconstructs no snapshot
  * whatsoever, and the F₀ probe of each dim term is semi-restricted
  * to THAT term's Δ-keys ([[deltaJoinKeys]] — exact: an F₀ row with
  * no match in the moving dim's delta contributes nothing to that
  * term). `F₀` comes from [[graft.runtime.ChangeLog.snapshotAt]], the
  * time-travel reconstruction: the join-view problem is exactly why
  * that operator earns its keep beyond auditing.
  *
  * Measures are (name, expression-over-the-joined-columns) pairs
  * rather than a projection function: the signed row weight must ride
  * THROUGH the projection, and an opaque `DataFrame => DataFrame`
  * would drop it.
  *
  * Star contract: each dim joins the FACT on its own `joinKeys`
  * (columns present on the fact and on that dim's images), dims are
  * joined-frame column names, and non-key dim columns must not
  * collide across sides — project them apart on the way in, the
  * same [[AsOfJoin]]-style contract every join here carries. A
  * SNOWFLAKE (dim-on-dim chain) does NOT fit this decomposition —
  * each dim term probes the fact side directly, so a dim keyed on
  * another dim's columns would probe the wrong side;
  * [[graft.runtime.StarJoinView]] rejects such a spec loudly. The
  * workaround is to pre-join the snowflake arm into one dim table
  * (and log that table) so it joins the fact on fact columns. */
object CdcStarView {

  /** One dimension side of the star. `net` is the side's
    * [[graft.runtime.ChangeLog.netDiff]] span (None = did not move);
    * `current` its span-END state; `atStart` its span-START state,
    * lazy — only terms for LATER movers evaluate it. */
  final case class Side(keys: Seq[String], joinKeys: Seq[String],
                        current: DataFrame, net: Option[DataFrame],
                        atStart: () => DataFrame)

  private val SignCol = "_csv_sign"

  /** Signed net row images: o_ images at −1 (every key present at the
    * span start), n_ images at +1 (every key present at the end). */
  private def signedRows(net: DataFrame,
                         keys: Seq[String]): DataFrame = {
    val vals = net.columns.toSeq
      .filter(c => c.startsWith("o_") && !keys.contains(c))
      .map(_.stripPrefix("o_"))
    val minus = net.filter(col("diff_status") =!= "added")
      .select(keys.map(col) ++ vals.map(c => col(s"o_$c").as(c)) :+
        lit(-1L).as(SignCol): _*)
    val plus = net.filter(col("diff_status") =!= "removed")
      .select(keys.map(col) ++ vals.map(c => col(s"n_$c").as(c)) :+
        lit(1L).as(SignCol): _*)
    minus.unionByName(plus)
  }

  /** The DISTINCT join-key values a dim span touches — old AND new
    * images both, because a join-key move restricts F₀ on its source
    * and its destination key alike. The semi-join restriction of each
    * dim term's F₀ probe (exact, log-scale). */
  private def deltaJoinKeys(net: DataFrame, keys: Seq[String],
                            joinKeys: Seq[String]): DataFrame =
    signedRows(net, keys).select(joinKeys.map(col): _*).distinct()

  /** The per-group contribution delta of a star span. `fNet` is the
    * fact's net span (None = fact did not move), `fAtStart` the fact
    * AS OF the span start (lazy — only dim terms evaluate it, each
    * semi-restricted to its own Δ-keys; with no sides it is never
    * run). At least one side must have moved. Apply with
    * [[CdcView.applyDelta]]. */
  def starGroupDelta(fNet: Option[DataFrame], fKeys: Seq[String],
                     fAtStart: () => DataFrame, sides: Seq[Side],
                     dims: Seq[String],
                     measures: Seq[(String, Column)]): DataFrame = {
    require(fNet.isDefined || sides.exists(_.net.isDefined),
      "starGroupDelta with no moved side — skip the refresh instead")
    def contributions(joined: DataFrame): DataFrame =
      joined.select(dims.map(col) ++
        measures.map { case (n, e) => (e * col(SignCol)).as(n) } :+
        col(SignCol).as("n_rows"): _*)
    // Term 0 — the fact moved: signed ΔF against every dim's END
    // state.
    val factTerm = fNet.map { net =>
      contributions(sides.foldLeft(signedRows(net, fKeys)) {
        (acc, s) => acc.join(s.current, s.joinKeys)
      })
    }
    // Term i (1-based over sides) — dim i moved: F₀ (Δ-key
    // restricted) ⋈ starts of earlier dims ⋈ signed ΔDi ⋈ ends of
    // later dims.
    val dimTerms = sides.zipWithIndex.collect {
      case (s, i) if s.net.isDefined =>
        val net = s.net.get
        val f0 = fAtStart()
          .join(deltaJoinKeys(net, s.keys, s.joinKeys),
            s.joinKeys, "left_semi")
        val withEarlier = sides.take(i).foldLeft(f0) {
          (acc, e) => acc.join(e.atStart(), e.joinKeys)
        }
        val withMover = withEarlier.join(signedRows(net, s.keys),
          s.joinKeys)
        contributions(sides.drop(i + 1).foldLeft(withMover) {
          (acc, l) => acc.join(l.current, l.joinKeys)
        })
    }
    val delta = (factTerm.toSeq ++ dimTerms).reduce(_.unionByName(_))
      .groupBy(dims.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        measures.map { case (n, _) => sum(col(n)).as(n) }: _*)
    CdcView.requireExactMeasures(delta.schema, measures.map(_._1))
    delta
  }

  /** [[starGroupDelta]] for a CHAINED LEFT OUTER star —
    * `V = SELECT dims, SUM(ms) FROM F ⟕ D1 ⟕ … ⟕ Dk GROUP BY dims`,
    * the reference's actual gold shape (every gold join is ⟕, e.g.
    * `gold_user_daily_metrics.py:80-82`: metrics ⟕ side aggregates
    * where zero-match groups must survive; webtoon chains several —
    * J4). Because every dim joins on FACT columns, the chained left
    * joins are order-independent: a fact row's output is the cross
    * product over dims of (that dim's matching rows, or ONE
    * null-extension when it has none). The ordered decomposition then
    * holds with each ⋈ relaxed to ⟕ — the fact term is the signed
    * `ΔF ⟕ …` (unmatched delta rows ride through null-extended with
    * their sign) — and the moving dim's term picks up the
    * count-augmented outer-join correction: a ΔDi that creates a
    * key's FIRST match (or removes its LAST) must also retract (or
    * restore) the i-null-extension of every F₀ row on that key. Per
    * ΔDi join key, `cnt₀ = cnt₁ − Σ signs` (from Di's end state and
    * its span alone — no maintained count table, no extra state to
    * crash); a 0→m key RETRACTS the null-extension (its OTHER factors
    * riding along — earlier dims at span-START state, later at
    * span-END, exactly as in the inner term), an m→0 key restores it.
    *
    * NULL measure semantics, stated: contributions are summed with
    * NULL reading as 0 (the signed fold cannot distinguish "group with
    * only null-extended rows" from any other zero-sum), so a measure
    * over a dim column reads 0 — not SQL's NULL — for all-unmatched
    * groups. Seeds must fold identically (`sum(coalesce(e, 0))`) and
    * oracles mirror with `COALESCE(SUM(e), 0)`. */
  def leftStarGroupDelta(fNet: Option[DataFrame], fKeys: Seq[String],
                         fAtStart: () => DataFrame, sides: Seq[Side],
                         dims: Seq[String],
                         measures: Seq[(String, Column)]): DataFrame = {
    require(fNet.isDefined || sides.exists(_.net.isDefined),
      "leftStarGroupDelta with no moved side — skip the refresh instead")
    def contributions(joined: DataFrame): DataFrame =
      joined.select(dims.map(col) ++
        measures.map { case (n, e) =>
          coalesce(e * col(SignCol), lit(0L)).as(n) } :+
        col(SignCol).as("n_rows"): _*)
    def nullExt(df: DataFrame, s: Side): DataFrame = {
      val nulls = s.current.schema.fields
        .filterNot(f => s.joinKeys.contains(f.name))
        .map(f => lit(null).cast(f.dataType).as(f.name))
      df.select((col("*") +: nulls.toSeq): _*)
    }
    // Term 0 — the fact moved: signed ΔF LEFT-joined to every dim's
    // END state (unmatched factors ride through null-extended).
    val factTerm = fNet.map { net =>
      contributions(sides.foldLeft(signedRows(net, fKeys)) {
        (acc, s) => acc.join(s.current, s.joinKeys, "left")
      })
    }
    // Term i — dim i moved: F₀ (Δ-key restricted) ⟕ earlier dims'
    // STARTS, then the mover's two parts — the inner ⋈ signed ΔDi
    // (matched images) UNION the zero-crossing null-extension
    // corrections — then ⟕ later dims' ENDS.
    val dimTerms = sides.zipWithIndex.collect {
      case (s, i) if s.net.isDefined =>
        val net = s.net.get
        val signedD = signedRows(net, s.keys)
        val f0 = fAtStart()
          .join(deltaJoinKeys(net, s.keys, s.joinKeys),
            s.joinKeys, "left_semi")
        val withEarlier = sides.take(i).foldLeft(f0) {
          (acc, e) => acc.join(e.atStart(), e.joinKeys, "left")
        }
        val matched = withEarlier.join(signedD, s.joinKeys)
        val cnt1 = s.current
          .join(signedD.select(s.joinKeys.map(col): _*).distinct(),
            s.joinKeys, "left_semi")
          .groupBy(s.joinKeys.map(col): _*)
          .agg(count(lit(1)).as("_csv_c1"))
        val transitions = signedD
          .groupBy(s.joinKeys.map(col): _*)
          .agg(sum(col(SignCol)).as("_csv_net"))
          .join(cnt1, s.joinKeys, "left")
          .withColumn("_csv_c1", coalesce(col("_csv_c1"), lit(0L)))
          .withColumn("_csv_c0", col("_csv_c1") - col("_csv_net"))
          .filter((col("_csv_c0") === 0 && col("_csv_c1") > 0) ||
            (col("_csv_c0") > 0 && col("_csv_c1") === 0))
          .select(s.joinKeys.map(col) :+
            when(col("_csv_c0") === 0, lit(-1L)).otherwise(lit(1L))
              .as(SignCol): _*)
        val crossings = nullExt(
          withEarlier.join(transitions, s.joinKeys), s)
        // The two branches fold the later dims SEPARATELY and union
        // only their contributions: a pre-contribution union would
        // have to reconcile the full carried schemas (incidental
        // columns like partition stamps may repeat across sides —
        // legal while unreferenced, fatal in a union).
        def laterFold(df: DataFrame): DataFrame =
          sides.drop(i + 1).foldLeft(df) {
            (acc, l) => acc.join(l.current, l.joinKeys, "left")
          }
        Seq(contributions(laterFold(matched)),
          contributions(laterFold(crossings)))
    }
    val delta = (factTerm.toSeq ++ dimTerms.flatten).reduce(_.unionByName(_))
      .groupBy(dims.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        measures.map { case (n, _) => sum(col(n)).as(n) }: _*)
    CdcView.requireExactMeasures(delta.schema, measures.map(_._1))
    delta
  }
}
