package graft.text

import graft.util.{Layout, Num}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data text operators over the `documents` table: token counting,
  * quality scoring, language-ID heuristic, fingerprinting, exact dedup and
  * blocked n-gram Jaccard near-dup detection.
  *
  * Everything is built from codegen'd builtins (regexp, higher-order array
  * functions) — no UDFs — so the operators stay inside whole-stage codegen
  * and scale linearly with input splits. The Jaccard pass uses (lang, source)
  * blocking so the pairwise stage is bounded per block instead of O(N²) over
  * the corpus — the same blocking a 100 TB run would use (with minhash bands
  * as blocks, see MinHashDedup).
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** The cross-engine whitespace class, defined ONCE: Java's \s includes
    * \x0B, RE2's does not, so every oracle-compared regex spells the
    * class out — and every spelling must come from here (two escaping
    * contexts: [[Ws]] for Java-regex strings and DuckDB SQL, [[WsSql]]
    * for patterns embedded in Spark SQL string literals, which unescape
    * backslashes once). */
  val Ws: String = "[ \\t\\n\\x0B\\f\\r]"
  val WsSql: String = Ws.replace("\\", "\\\\")

  /** Token counts + quality ratios (P-class row transforms, no shuffle). */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    val sw = Stopwords.map(w => s"'$w'").mkString(", ")
    docs(s, dir)
      .withColumn("n_chars_actual", length(col("text")))
      .withColumn("n_tokens", expr(tokenCountExpr))
      .withColumn("punct_chars",
        length(regexp_replace(col("text"), "[^.,;:!?]", "")))
      .withColumn("digit_chars",
        length(regexp_replace(col("text"), "[^0-9]", "")))
      .withColumn("nonws_chars",
        length(regexp_replace(col("text"), Ws, "")))
      .withColumn("stopword_count", expr(
        s"size(filter(split(lower(trim(text)), '$WsSql+'), t -> t IN ($sw)))"))
      .withColumn("punct_ratio",
        Num.guardedRatio(col("punct_chars"), col("n_chars_actual"), 4))
      .withColumn("digit_ratio",
        Num.guardedRatio(col("digit_chars"), col("n_chars_actual"), 4))
      .withColumn("avg_token_len",
        Num.guardedRatio(col("nonws_chars"), col("n_tokens"), 2))
      .withColumn("stopword_ratio",
        Num.guardedRatio(col("stopword_count"), col("n_tokens"), 4))
      .select("doc_id", "lang", "source", "n_chars", "n_chars_actual",
        "n_tokens", "punct_ratio", "digit_ratio", "avg_token_len",
        "stopword_count", "stopword_ratio")
  }

  /** Training-corpus quality filter: documents passing the length /
    * punctuation / token-shape gates, i.e. the pre-training "keep" set.
    * Thresholds compare already-rounded stats, so the cut is exact on
    * both engines. */
  def qualityFilter(s: SparkSession, dir: String): DataFrame =
    textStats(s, dir)
      .filter(col("n_tokens") >= 20 && col("n_tokens") <= 5000 &&
        col("punct_ratio") <= 0.05 && col("digit_ratio") <= 0.2 &&
        col("avg_token_len") >= 2.0 && col("avg_token_len") <= 12.0)
      .select("doc_id", "lang", "source", "n_tokens", "avg_token_len",
        "stopword_ratio")

  /** Marker-word language-ID heuristic (first-match CASE, deterministic).
    * A real deployment would use n-gram profiles; the harness corpus is
    * synthetic English-ish text, so the heuristic doubles as a null model. */
  def langId(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("lower_text", concat(lit(" "), lower(col("text")), lit(" ")))
      .withColumn("predicted_lang", expr(
        "CASE WHEN lower_text LIKE '% the %' OR lower_text LIKE '% of %' " +
          "THEN 'en' " +
          "WHEN lower_text LIKE '% der %' OR lower_text LIKE '% und %' " +
          "THEN 'de' " +
          "WHEN lower_text LIKE '% le %' OR lower_text LIKE '% et %' " +
          "THEN 'fr' " +
          "WHEN lower_text LIKE '% el %' OR lower_text LIKE '% y %' " +
          "THEN 'es' " +
          "ELSE 'unknown' END"))
      .withColumn("lang_match",
        when(col("predicted_lang") === col("lang"), 1).otherwise(0)
          .cast("int"))
      .select("doc_id", "lang", "predicted_lang", "lang_match")

  /** Whitespace-normalized MD5 document fingerprint. */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("fp",
        md5(lower(regexp_replace(col("text"), (Ws + "+"), " "))))
      .select("doc_id", "fp")

  /** Exact dedup: hash-groupBy on the fingerprint, keep min doc_id.
    * One shuffle on fp; at 100 TB this is the cheapest dedup pass and runs
    * before any fuzzy method. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    fingerprint(s, dir)
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("dup_count"))

  /** Deterministic train/val/test assignment by content-independent hash
    * bucketing — the reproducible-split primitive of a training-data
    * pipeline. The bucket comes from md5 of the doc id (not the text, so
    * near-duplicate documents do NOT correlate across splits by
    * construction of the id; and md5 so the DuckDB oracle reproduces the
    * exact assignment). 80/10/10 by bucket < 8 / < 9 / else. Narrow
    * (no shuffle): at any scale this is a projection over the scan. */
  /** Content-independent md5 doc-id bucket, SQL-expression form — THE
    * single definition of the scheme [[hashSplit]], [[sampleStratified]]
    * and [[Packing.packSequences]] (and their DuckDB oracles) all rely
    * on being byte-identical. */
  private[text] def md5BucketExpr(mod: Long): String =
    "cast(pmod(cast(conv(substring(md5(cast(doc_id as string)), 1, " +
      s"15), 16, 10) as bigint), ${mod}L) as int)"

  /** Whitespace token count, SQL-expression form (INT; empty/blank text
    * counts 0) — the [[textStats]] tokenization, shared so
    * [[Packing.packSequences]] and its oracle tokenize identically. */
  private[text] def tokenCountExpr: String = tokenCountExprOn("text")

  /** [[tokenCountExpr]] over an arbitrary string column (chunk bodies in
    * [[Packing.packChunks]] tokenize with the identical definition). */
  private[text] def tokenCountExprOn(c: String): String =
    s"CASE WHEN trim($c) = '' THEN CAST(0 AS INT) " +
      s"ELSE size(split(trim($c), '$WsSql+')) END"

  def hashSplit(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("bucket", expr(md5BucketExpr(10)))
      .withColumn("split", expr(
        "CASE WHEN bucket < 8 THEN 'train' " +
          "WHEN bucket < 9 THEN 'val' ELSE 'test' END"))
      .select("doc_id", "lang", "source", "bucket", "split")

  /** BPE-style pre-tokenization counts: the regex split every modern
    * tokenizer runs before merges (letter runs / digit runs / single
    * punctuation, on lowered text — the cross-engine-safe core of the
    * GPT-2 pattern). Narrow projection over the scan, no shuffle; both
    * engines run the same leftmost-longest matching on these disjoint
    * alternatives, so counts are exact. Distinct-token count approximates
    * per-doc vocabulary — the usual diversity feature next to raw length.
    *
    * The whitespace class is spelled out ([ \t\n\f\r\x0B]) instead of
    * `\s` because the shorthand differs between engines — Java includes
    * \x0B in \s, RE2 does not — and the oracle must tokenize a
    * vertical-tab corpus identically. */
  def regexTokens(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .withColumn("low", lower(col("text")))
      .withColumn("toks", expr(
        "regexp_extract_all(low, " +
          "'[a-z]+|[0-9]+|[^a-z0-9 \\\\t\\\\n\\\\f\\\\r\\\\x0B]', 0)"))
      .withColumn("n_bpe_tokens", size(col("toks")))
      .withColumn("n_word_tokens",
        expr("size(filter(toks, t -> t rlike '^[a-z]+$'))"))
      .withColumn("n_num_tokens",
        expr("size(filter(toks, t -> t rlike '^[0-9]+$'))"))
      .withColumn("n_punct_tokens",
        col("n_bpe_tokens") - col("n_word_tokens") - col("n_num_tokens"))
      .withColumn("n_distinct_tokens",
        expr("size(array_distinct(toks))"))
      .select("doc_id", "lang", "source", "n_bpe_tokens", "n_word_tokens",
        "n_num_tokens", "n_punct_tokens", "n_distinct_tokens")
  }

  /** Corpus token frequency, top 100 (explode → hash agg → top-k). The
    * explode is narrow; the aggregate is the only shuffle and the top-k
    * is a TakeOrdered, so the plan never materializes the full sorted
    * token list. */
  def tokenTopK(s: SparkSession, dir: String, k: Int = 100): DataFrame =
    // explode_outer: plain explode gains an inferred size/isnotnull
    // filter (InferFiltersFromGenerate) that re-splits the text twice
    // more per doc; the null row outer emits dies in the =!= "" filter.
    Layout.spread(docs(s, dir))
      .select(explode_outer(split(lower(trim(col("text"))), (Ws + "+")))
        .as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** TF-IDF-style rarity weighting with integer-exact scores: per
    * document, the top 5 tokens by `score_ppm = (tf · 10⁶ · N) div df`
    * (tf = in-doc count, df = docs containing the token, N = corpus
    * size). Integer arithmetic replaces the usual log-idf so the score is
    * bit-identical across engines ("no double survives aggregation" —
    * both `div` and DuckDB `//` truncate identically on positives).
    * Two shuffles (doc-term counts, df) + a broadcast of the corpus
    * count; the per-doc top-5 window is partitioned by doc_id. */
  def tfIdfTopTerms(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val d = docs(s, dir)
    val n = d.select(count(lit(1)).as("n_docs"))
    val terms = Layout.spread(d)
      .select(col("doc_id"),
        // explode_outer for the same InferFiltersFromGenerate reason as
        // tokenTopK; nulls die in the =!= "" filter.
        explode_outer(split(lower(trim(col("text"))), (Ws + "+"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df_ = terms.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_ppm").desc, col("token"))
    terms.join(df_, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("score_ppm", expr("(tf * 1000000L * n_docs) div df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("doc_id", "token", "tf", "df", "score_ppm", "rk")
  }

  /** Sparse lexical retrieval: top-k documents per query by integer
    * tf-idf dot product over an inverted-index join — the sparse
    * complement to the dense ANN family (what a decontamination or
    * retrieval-augmentation sweep runs when no embeddings exist).
    *
    * Terms are word-3-SHINGLES, not unigrams: on a small-vocabulary
    * corpus every unigram is a stopword by document frequency (measured:
    * 1 of 31 harness tokens survives the df cut at sf0.1, and real web
    * corpora have the same fat head), while shingles carry the phrase-
    * level signal retrieval actually wants — the [[CorpusOps
    * .decontaminate]] n-gram move pointed at ranking instead of leakage.
    *
    * Integer-exact cross-engine ([[tfIdfTopTerms]]'s rational-idf move,
    * extended to pairwise scores): per-(doc, term) weight
    * w = least((tf·100·n_docs) div df, 10⁸) — the cap bounds the
    * df=1 idf spike so a many-term pairwise sum stays far inside
    * bigint — and score(q, c) = Σ_shared w_q·w_c. No logs, no doubles:
    * ranking and values replay exactly in DuckDB.
    *
    * Scale shape: candidates come ONLY from shared postings (term
    * equi-join — never all-pairs), and postings for terms with
    * df·2 > n_docs are dropped on BOTH sides (stopword pruning, the
    * static form of WAND-style postings skipping: candidate volume is
    * Σ_t df(t)² and the fat head dominates that sum while contributing
    * near-zero idf weight). The (query, cand) aggregate is map-side
    * combinable; the final top-k window partitions by query. */
  def tfIdfRetrieve(s: SparkSession, dir: String, nQueries: Int = 10,
                    k: Int = 5): DataFrame = {
    val d = docs(s, dir)
    val n = d.select(count(lit(1)).as("n_docs"))
    val terms = Layout.spread(d)
      .withColumn("toks", expr(
        s"filter(split(lower(trim(text)), '${WsSql}+'), t -> t <> '')"))
      // sequence(1, 0) is DESCENDING — guard short docs with CASE
      .withColumn("grams", expr(
        "CASE WHEN size(toks) >= 3 THEN " +
          "transform(sequence(1, size(toks) - 2), " +
          "i -> concat_ws(' ', slice(toks, i, 3))) ELSE array() END"))
      // explode_outer + null filter: the InferFiltersFromGenerate guard
      .select(col("doc_id"), explode_outer(col("grams")).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df_ = terms.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val w = terms.join(df_, Seq("token"))
      .crossJoin(broadcast(n))
      .filter(col("df") * 2 <= col("n_docs"))
      .withColumn("w", least(expr("(tf * 100L * n_docs) div df"),
        lit(100000000L)))
      .select("doc_id", "token", "w")
    val q = w.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("token"),
        col("w").as("wq"))
    val c = w.select(col("doc_id").as("neighbor_id"), col("token"),
      col("w").as("wc"))
    val scored = q.join(c, Seq("token"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("wq") * col("wc")).as("score"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Count-Min sketch over corpus token frequencies, with the exact
    * counts alongside — the approxDistinctUsers contract pattern applied
    * to a sketch the engine does NOT ship natively, built from plain
    * aggregates. d = [[CmDepth]] hash rows × w = [[CmWidth]] counters:
    * counter(i, b) = Σ counts of tokens with bucket_i(tok) = b, and the
    * estimate for a token is min_i counter(i, bucket_i(tok)) — ≥ the
    * exact count ALWAYS (counters only ever over-count), which the
    * emitted `overestimate` column exposes and the oracle verifies
    * cell-for-cell (buckets derive from md5, identical in both engines,
    * so the whole sketch replays exactly).
    *
    * Scale story: the counter table is FIXED-WIDTH (d·w rows) however
    * large the corpus — the map side pre-aggregates (i, bucket) partial
    * sums, the shuffle carries ≤ d·w rows per task, and the final join
    * probes d rows per reported token. This is the mergeable-sketch
    * shape (per-partition/per-day sketches SUM), where the exact path
    * shuffles every distinct token. */
  def countMinTopTokens(s: SparkSession, dir: String,
                        topK: Int = 20): DataFrame = {
    val toks = Layout.spread(docs(s, dir))
      .select(col("doc_id"),
        explode_outer(split(lower(trim(col("text"))), (Ws + "+")))
          .as("token"))
      .filter(col("token") =!= "")
    def bucket(i: Int): org.apache.spark.sql.Column =
      expr(s"cast(conv(substring(md5(concat('cm${i}_', token)), 1, 8), " +
        s"16, 10) as bigint) % $CmWidth")
    val exact = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("token"))
      .limit(topK)
    // one pass builds all d rows: explode the (row, bucket) pairs
    val pairs = toks.select(col("token"),
      array((0 until CmDepth).map(i =>
        struct(lit(i).as("row_i"), bucket(i).as("bucket"))): _*).as("rb"))
      .select(explode_outer(col("rb")).as("rb"))
      .filter(col("rb").isNotNull)
      .select(col("rb.row_i"), col("rb.bucket"))
    val counters = pairs.groupBy(col("row_i"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val probes = exact.select(col("token"), col("exact_count"),
      explode_outer(array((0 until CmDepth).map(i =>
        struct(lit(i).as("row_i"), bucket(i).as("bucket"))): _*))
        .as("rb"))
      .filter(col("rb").isNotNull)
      .select(col("token"), col("exact_count"), col("rb.row_i"),
        col("rb.bucket"))
    probes.join(counters, Seq("row_i", "bucket"))
      .groupBy(col("token"), col("exact_count"))
      .agg(min(col("c")).as("cm_estimate"))
      .withColumn("overestimate", col("cm_estimate") - col("exact_count"))
      .withColumn("bound_holds",
        (col("overestimate") >= 0).cast("int"))
  }

  /** Count-Min depth (hash rows) and width (counters per row). */
  val CmDepth = 4
  val CmWidth = 1024

  /** Character-trigram Jaccard similarity for candidate pairs within
    * (lang, source) blocks. Set sizes are integers ⇒ exact cross-engine. */
  /** doc_id + SORTED distinct xxhash64 char-trigram arrays, shared by the
    * pairwise set-similarity baselines ([[ngramJaccard]],
    * [[containment]]): 8 bytes/trigram through the shuffle and the
    * codegen'd two-pointer merge (graft_sorted_intersect) for |∩| — the
    * same exact math as the MinHashDedup confirm stage. Set sizes over
    * distinct 64-bit hashes equal the string-set sizes unless two
    * distinct trigrams of one pair collide (~1e-11; BASELINE.md). */
  private[graft] def hashedTrigrams(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SignatureExpressions.register(s, 1, Array(1L),
      Array(0L), 2147483647L)
    Layout.spread(docs(s, dir))
      .withColumn("norm",
        lower(regexp_replace(col("text"), (Ws + "+"), " ")))
      .withColumn("tg", expr(
        "CASE WHEN length(norm) >= 3 THEN " +
          "array_sort(array_distinct(transform(" +
          "sequence(1, length(norm) - 2), " +
          "i -> xxhash64(substring(norm, i, 3))))) " +
          "ELSE array() END"))
      .select("doc_id", "lang", "source", "tg")
  }

  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val withTg = hashedTrigrams(s, dir)
    val a = withTg.as("a")
    val b = withTg.as("b")
    a.join(b,
        col("a.lang") === col("b.lang") &&
          col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("graft_sorted_intersect(a.tg, b.tg)").cast("bigint")
          .as("inter"),
        (size(col("a.tg")) + size(col("b.tg"))).cast("bigint").as("sz"))
      .withColumn("uni", col("sz") - col("inter"))
      .withColumn("jaccard", Num.guardedRatio(col("inter"), col("uni"), 4))
      .withColumn("is_near_dup",
        when(col("jaccard") >= 0.5, 1).otherwise(0).cast("int"))
      .select("doc_a", "doc_b", "jaccard", "is_near_dup")
  }

  /** Asymmetric containment near-dup: ordered pairs where doc_a's trigram
    * set is mostly inside doc_b's — C(a→b) = |a∩b| / |a| ≥ threshold.
    * Jaccard misses these when the containee is much smaller (a quote, a
    * boilerplate block, a doc embedded in a digest): C ≥ J always, and a
    * 10:1 size ratio caps J at ~0.1 while C can be 1.0. The standard
    * second lens of a dedup sweep.
    *
    * Same (lang, source)-blocked pairwise shape as [[ngramJaccard]] — the
    * declared exact all-pairs baseline, kept for spec cross-validation
    * only. The REGISTERED query is [[ContainmentDedup.pairs]]: asymmetric
    * prefix-filter candidates (Vernica et al. §4) + exact rerank, with
    * measured arm selection — never this blocked self-join. */
  def containment(s: SparkSession, dir: String,
                  threshold: Double = 0.7): DataFrame = {
    val withTg = hashedTrigrams(s, dir)
    val a = withTg.as("a")
    val b = withTg.as("b")
    a.join(b,
        col("a.lang") === col("b.lang") &&
          col("a.source") === col("b.source") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("graft_sorted_intersect(a.tg, b.tg)").cast("bigint")
          .as("inter"),
        size(col("a.tg")).cast("bigint").as("sz_a"))
      .withColumn("containment",
        Num.guardedRatio(col("inter"), col("sz_a"), 4))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** Stratified deterministic sampling: per-language keep rates applied by
    * content-independent md5 bucketing (same scheme as [[hashSplit]], so
    * the sample is reproducible on any engine and stable under
    * re-partitioning — the property rand()-based sampling lacks). The
    * usual corpus-balancing move: downsample the dominant language hard,
    * keep the tail. Narrow (filter over the scan, no shuffle) at any
    * scale. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("bucket100", expr(md5BucketExpr(100)))
      .withColumn("keep_rate", expr(
        "CASE lang WHEN 'en' THEN 30 WHEN 'zh' THEN 60 ELSE 90 END"))
      .filter(col("bucket100") < col("keep_rate"))
      .select("doc_id", "lang", "source", "bucket100", "keep_rate")
}
