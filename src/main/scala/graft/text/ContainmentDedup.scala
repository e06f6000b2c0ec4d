package graft.text

import graft.util.{Layout, Num}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale path for asymmetric containment dedup — C(a→b) = |a∩b| / |a| ≥ t
  * over char-trigram sets, same-(lang, source) pairs only (the
  * quote/boilerplate lens; reference has no analog — extension operator,
  * semantics pinned by [[TextOps.containment]], the declared all-pairs
  * baseline this module is verified against in ContainmentSpec).
  *
  * The baseline self-joins whole (lang, source) blocks — O(block²) pairs,
  * and at 100 TB a (en, web) block IS the corpus. Here candidates come
  * from the asymmetric containment prefix filter instead (Vernica et al.
  * §4 adapted to the containment measure):
  *
  * Order each doc's tokens by (block document-frequency asc, token). If
  * C(a→b) ≥ t′ then |a∩b| ≥ ⌈t′·n_a⌉ =: α, so among a's first
  * n_a − α + 1 tokens (its "prefix" — the rarest ~30% at t = 0.7) at
  * least one is shared with b — otherwise every common token would sit in
  * a's last α − 1 positions, capping |a∩b| at α − 1. Unlike the Jaccard
  * prefix there is NO symmetric bound for the container side (b may be
  * arbitrarily large, and t constrains only a), so the probe side indexes
  * ALL of b's tokens; the α ≤ |b| consequence still prunes with
  * n_b ≥ ⌈t′·n_a⌉. Joining prefix(a) × all(b) on (lang, source, token) is
  * therefore COMPLETE for C ≥ t′, with volume Σ_tok prefixCount(tok) ·
  * dfreq(tok) — small on natural corpora because frequency ordering keeps
  * common tokens out of prefixes (measured ~110 candidate pairs/doc at
  * sf0.01, ~770 at sf0.1, vs the ~8k/doc budget).
  *
  * Like [[MinHashDedup]], the registered query MEASURES its arm
  * ([[AutoArm]]): the complete prefix join while its estimated volume
  * (one aggregate over the already-built prefix frame) stays within
  * [[PrefixBudgetPerDoc]]·nDocs; past it (template families — F copies of
  * one doc put F² pairs in every prefix-token bucket) the capped arm
  * bounds every probe bucket to its [[ProbeCap]] LARGEST docs by token
  * count (big docs are the plausible containers), making total volume
  * ≤ ProbeCap · Σ prefix tokens — linear — at a documented recall trade:
  * a containee still gets ProbeCap independent candidate containers per
  * prefix token, so a genuine quote with any block-rare token keeps an
  * uncapped (complete) bucket.
  *
  * Survivors are re-ranked EXACTLY (graft_sorted_intersect two-pointer
  * merge over the sorted hashed-trigram arrays), so the output is a
  * subset of the baseline by construction, equal whenever the exact arm
  * runs — which the measured sf0.001/sf0.01/sf0.1 corpora all select, so
  * the DuckDB all-pairs oracle must match hash-for-hash.
  */
object ContainmentDedup {

  /** Candidate-generation arm (the [[MinHashDedup.Arm]] pattern). */
  sealed trait Arm
  /** Force the complete prefix-filter join (exactness guarantee). */
  case object ExactArm extends Arm
  /** Force probe-bucket capping (the dense-corpus configuration). */
  case object CappedArm extends Arm
  /** Measure the prefix volume, then choose. */
  case object AutoArm extends Arm

  /** Exact-arm volume budget in estimated candidate pairs per doc —
    * deliberately ~10× the measured sf0.1 density (~770/doc) so every
    * local scale exercises the complete arm, while a template family of
    * a few hundred docs (the regime the cap exists for) overruns it. */
  val PrefixBudgetPerDoc: Long = 8192L

  /** Max probe-bucket size on the capped arm: per prefix token a
    * containee is tried against the ProbeCap largest same-block docs
    * sharing that token. */
  val ProbeCap: Int = 64

  /** Exploded containee-prefix frame (lang, source, tok, dfreq, doc_id,
    * n): each doc's first n − ⌈t′·n⌉ + 1 tokens in block frequency
    * order. r18 shape (guide §2.4): the block document frequencies join
    * onto the exploded postings as before, but the per-doc frequency
    * rank comes from ONE hash aggregate (collect_list + a per-row
    * array_sort/slice in codegen) instead of the former
    * row_number() window — the window shuffled AND globally sorted every
    * (doc, token) posting, where the aggregate shuffles the same rows
    * once with no sort, and only the ~30% prefix slice survives to be
    * persisted/read downstream. Per-doc aggregate state is the doc's
    * token list — the same bound the window partition held. The input
    * trigram frame must already be persisted (so the explodes consume a
    * materialized attribute, not a derived array — the
    * InferFiltersFromGenerate guard, PlanSpec). */
  private def prefixPlan(withTg: DataFrame, threshold: Double): DataFrame = {
    val tp = tPrime(threshold)
    val toks = withTg.select(col("doc_id"), col("lang"), col("source"),
      size(col("tg")).as("n"), explode(col("tg")).as("tok"))
    val dfreq = toks.groupBy(col("lang"), col("source"), col("tok"))
      .agg(count(lit(1)).as("dfreq"))
    toks.join(dfreq, Seq("lang", "source", "tok"))
      .groupBy(col("doc_id"), col("lang"), col("source"), col("n"))
      .agg(collect_list(struct(col("dfreq"), col("tok"))).as("dt"))
      .select(col("doc_id"), col("lang"), col("source"), col("n"),
        // struct sort order = (dfreq asc, tok asc), exactly the former
        // window's orderBy; tok is array_distinct-unique per doc, so the
        // ordering is total and the slice deterministic.
        explode_outer(slice(array_sort(col("dt")), lit(1),
          (col("n") - ceil(lit(tp) * col("n")) + lit(1)).cast("int")))
          .as("pt"))
      .filter(col("pt").isNotNull) // outer-null = empty array only
      .select(col("lang"), col("source"), col("pt.tok").as("tok"),
        col("pt.dfreq").as("dfreq"), col("doc_id"), col("n"))
  }

  /** The probe side: every (lang, source, tok) posting of every doc —
    * containment has no symmetric prefix bound for the container, so the
    * probe indexes ALL tokens. A narrow re-explode of the persisted
    * trigram frame (no dfreq join, no rank — r18: the former shape read
    * these rows back out of the persisted ranked-window frame). */
  private def probeTokens(withTg: DataFrame): DataFrame =
    withTg.select(col("lang"), col("source"),
      col("doc_id").as("id_l"), size(col("tg")).as("n_l"),
      explode(col("tg")).as("tok"))

  /** Un-materialized candidate-join frame, for plan inspection in tests:
    * every join in it must key on the token, never the (lang, source)
    * block alone. */
  private[graft] def candidateFrame(s: SparkSession, dir: String,
                                    threshold: Double = 0.7,
                                    capped: Boolean = false): DataFrame = {
    val tg = TextOps.hashedTrigrams(s, dir)
    candidates(prefixPlan(tg, threshold), probeTokens(tg), threshold,
      capped, Long.MaxValue)
  }

  /** t′ = t − 1e−4: absorbs the contract's 4-decimal rounding before its
    * ≥-threshold cut (round4(x) ≥ t ⇒ x ≥ t − 5e−5). */
  private def tPrime(threshold: Double): Double =
    math.max(threshold - 1e-4, 0.0)

  /** Upper estimate of the prefix join's pre-distinct volume: every
    * prefix row (doc, tok) meets dfreq(tok) probe rows, so the estimate
    * is one SUM over the (persisted) prefix frame — no speculative
    * join. */
  private def volumeEstimate(pref: DataFrame): Long =
    pref.agg(coalesce(sum(col("dfreq")), lit(0L))).head().getLong(0)

  /** Candidate ordered pairs (doc_a = containee, doc_b = container),
    * pre-dedup — a pair sharing k prefix tokens appears k times; the
    * caller ([[confirmedFrame]]) dedupes before the confirm joins.
    * Complete for round4-containment ≥ threshold when `capped`
    * is false; probe buckets bounded at [[ProbeCap]] (largest-n first)
    * when true. The prefix side is broadcast under the caller's measured
    * size gate (`shortBytes` — cached plans carry no stats for AQE), so
    * within the gate candidate generation adds NO exchange: the probe
    * explode streams through a broadcast hash join. */
  private def candidates(pref: DataFrame, probeAll: DataFrame,
                         threshold: Double, capped: Boolean,
                         shortBytes: Long): DataFrame = {
    val short = Layout.maybeBroadcast(
      pref.select(col("lang"), col("source"), col("tok"),
        col("doc_id").as("id_s"), col("n").as("n_s")), shortBytes)
    val probe = if (!capped) probeAll else {
      // Keep each token bucket's ProbeCap largest docs: the window is
      // partitioned by the bucket key — a sort, never a cross product —
      // and big docs are the containers a quote actually lives in.
      val bw = Window.partitionBy(col("lang"), col("source"), col("tok"))
        .orderBy(col("n_l").desc, col("id_l"))
      probeAll.withColumn("brn", row_number().over(bw))
        .filter(col("brn") <= ProbeCap).drop("brn")
    }
    short.join(probe, Seq("lang", "source", "tok"))
      .filter(col("id_s") =!= col("id_l") &&
        // |a∩b| ≥ ⌈t′·n_a⌉ and |a∩b| ≤ n_b prune small containers early
        col("n_l") >= ceil(lit(tPrime(threshold)) * col("n_s")))
      .select(col("id_s").as("doc_a"), col("id_l").as("doc_b"))
  }

  /** Exact containment over candidate pairs — the same expression tree as
    * the all-pairs baseline ([[TextOps.containment]]) and the DuckDB
    * oracle, so confirmed values are bit-identical. Trigram-array joins
    * are broadcast only under the measured-size gate (cached plans carry
    * no stats for AQE). */
  private def exactConfirm(withTg: DataFrame, cands: DataFrame,
                           threshold: Double, totTokens: Long,
                           nDocs: Long): DataFrame = {
    val tgBytes = totTokens * 8L + nDocs * 48L
    def tg(side: String) = Layout.maybeBroadcast(
      withTg.select(col("doc_id").as(side), col("tg").as(s"tg_$side")),
      tgBytes)
    cands
      .join(tg("doc_a"), Seq("doc_a"))
      .join(tg("doc_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("graft_sorted_intersect(tg_doc_a, tg_doc_b)").cast("bigint")
          .as("inter"),
        size(col("tg_doc_a")).cast("bigint").as("sz_a"))
      .withColumn("containment",
        Num.guardedRatio(col("inter"), col("sz_a"), 4))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** Measured arm choice for a corpus — the AutoArm rule, exposed so
    * tests (and operators) can observe the decision. */
  def selectArm(s: SparkSession, dir: String,
                threshold: Double = 0.7): Arm = {
    val base = TextOps.hashedTrigrams(s, dir).persist()
    val nDocs = base.count()
    val est = volumeEstimate(prefixPlan(base, threshold))
    base.unpersist()
    if (est <= PrefixBudgetPerDoc * nDocs) ExactArm else CappedArm
  }

  /** The one stats action that gates every hint downstream: row count,
    * total token count (trigram-broadcast gate), and the prefix side's
    * bytes (prefix-broadcast gate). The prefix side holds
    * Σ_doc (n − ⌈t′·n⌉ + 1) rows; each costs ~64 B of fixed-width
    * fields (token, id, n, the two block keys' slots and word padding)
    * plus its doc's `lang` and `source` bytes, summed per slot here — a
    * flat per-row figure would under-count long block keys. */
  private[graft] def gateStats(base: DataFrame,
                               threshold: Double): (Long, Long, Long) = {
    val tp = tPrime(threshold)
    val n = size(col("tg"))
    val slots = when(n > 0,
      n.cast("long") - ceil(lit(tp) * n).cast("long") + lit(1L))
      .otherwise(lit(0L))
    val keyBytes = coalesce(octet_length(col("lang")), lit(0)) +
      coalesce(octet_length(col("source")), lit(0))
    val r = base.agg(count(lit(1)),
      coalesce(sum(n), lit(0L)),
      coalesce(sum(slots * (lit(64L) + keyBytes)), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The candidates → confirm pipeline WITHOUT the terminal checkpoint —
    * the plan graft.Explain shows as dedup_containment's localCheckpoint.
    * Leaves the trigram/token persists live; [[pairs]] wraps it and
    * releases them after checkpointing. */
  private[graft] def confirmedFrame(s: SparkSession, dir: String,
      threshold: Double = 0.7, arm: Arm = AutoArm)
      : (DataFrame, Seq[DataFrame]) = {
    val base = TextOps.hashedTrigrams(s, dir).persist()
    val (nDocs, totTokens, prefixBytes) = gateStats(base, threshold)
    val pref = prefixPlan(base, threshold).persist()
    val capped = arm match {
      case ExactArm  => false
      case CappedArm => true
      case AutoArm   =>
        volumeEstimate(pref) > PrefixBudgetPerDoc * nDocs
    }
    // One linear candidates → confirm plan; the narrow confirmed output
    // is the only materialization, after which the token/trigram caches
    // release instead of leaking into long-lived sessions.
    val cands = candidates(pref, probeTokens(base), threshold, capped,
      prefixBytes)
    // Pair dedup BEFORE the confirm: a pair sharing k prefix tokens is
    // generated k times (measured 13× at sf0.1 — 3.27 M pre- vs 251 k
    // post-distinct), and re-scoring the duplicates through the confirm
    // costs more than the distinct's narrow two-long exchange (same-
    // window A/B: post-confirm dedup 3.60 s vs pre-confirm 3.36 s), on
    // top of being the only scale-safe order when the trigram joins
    // degrade to shuffles.
    (exactConfirm(base, cands.distinct(), threshold, totTokens, nDocs),
      Seq(pref, base))
  }

  /** The registered query: ordered containment pairs
    * (doc_a, doc_b, containment ≥ threshold). Oracle:
    * OpsOracles.containment (all-pairs within (lang, source) blocks) —
    * exact-arm output is identical by the completeness argument above. */
  def pairs(s: SparkSession, dir: String, threshold: Double = 0.7,
            arm: Arm = AutoArm): DataFrame = {
    val (confirmed, persists) = confirmedFrame(s, dir, threshold, arm)
    val out = confirmed.localCheckpoint()
    persists.foreach(_.unpersist())
    out
  }
}
