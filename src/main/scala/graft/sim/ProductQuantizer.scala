package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) ANN — the memory-bound embedding index for
  * corpora whose raw vectors don't fit storage: each vector is encoded as
  * [[M]] sub-codes (one byte-ish code per [[SubDim]]-dim subspace), and
  * queries score candidates with asymmetric distance computation (ADC):
  * a per-query table of exact query→centroid distances per subspace,
  * summed over the candidate's codes. 64-dim float vectors become
  * [[M]] codes (8 bytes) — a 32× compression — and scoring touches only
  * the code table, never the raw vectors (Jégou et al., TPAMI 2011).
  *
  * Deterministic and integer-exact end-to-end, so the DuckDB oracle
  * replays it cell-for-cell: micro-unit quantization first, codebooks
  * seeded from the first [[K]] vectors' sub-slices, one integer-mean
  * Lloyd refinement per subspace (the [[KMeans]] recipe, keyed by
  * subspace), and ALL distances are integer squared-L2 — no division,
  * no sqrt, no doubles anywhere.
  *
  * Plan shape at scale: codebooks are M·K·SubDim longs (tiny, broadcast);
  * encoding is one narrow pass over the corpus (M·K integer dots per
  * vector, argmin per subspace); ADC is a broadcast equi-join of the
  * per-query distance tables against the code table on (subspace, code)
  * followed by a fixed fan-in (M rows per candidate) sum — no shuffle
  * grows with corpus size except the final per-query top-k. */
object ProductQuantizer {

  val M = 8       // subspaces
  val SubDim = 8  // dims per subspace (M * SubDim = 64)
  val K = 16      // centroids per subspace

  /** (vec_id, s, sv): the quantized vector split into M subspace slices.
    * posexplode_outer + pos-null filter per the repo-wide generate rule. */
  private[sim] def subVectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), posexplode_outer(expr(
        s"transform(sequence(0, ${M - 1}), " +
          s"s -> slice(q, s * $SubDim + 1, $SubDim))"))
        .as(Seq("s", "sv")))
      .filter(col("s").isNotNull)

  /** Integer squared-L2 between two SubDim slices via dot products:
    * |x−c|² = x·x − 2x·c + c·c (all exact longs). */
  private[sim] def dist2(svn: String, cvn: String, dotc: String) =
    col(svn) - lit(2L) * col(dotc) + col(cvn)

  /** A codebook collected to the driver: subspace → its (code, cv, cvn)
    * entries. M·K·SubDim longs — metadata-scale by construction (the
    * codebook is what makes PQ a compression scheme), so shipping it as
    * an expression LITERAL is always safe. */
  private[sim] type BookMap = Map[Int, Seq[(Int, Seq[Long], Long)]]

  /** Collect a (s, code, cv, cvn) codebook frame into a [[BookMap]] —
    * one action over M·K rows. Entries are sorted by code ascending:
    * the argmin below resolves d2 ties to the FIRST minimal entry, so
    * the sort IS the lowest-code tie-break. */
  private[sim] def collectBooks(books: DataFrame): BookMap =
    books.select(col("s"), col("code"), col("cv"), col("cvn"))
      .collect()
      .map(r => (r.getInt(0), (r.getInt(1), r.getSeq[Long](2), r.getLong(3))))
      .groupBy(_._1)
      .map { case (s, rows) => s -> rows.map(_._2).sortBy(_._1).toSeq }

  /** The literal codebook's entry array for this row's subspace `s`
    * (entries are (code, cv, cvn) tuples → struct fields _1.._3). */
  private def bookEntries(bookLit: Column): Column =
    element_at(bookLit, col("s").cast("int"))

  /** d2 = svn − 2⟨sv,cv⟩ + cvn against one codebook entry — the exact
    * integer arithmetic of [[dist2]]. */
  private def entryD2(c: Column): Column =
    col("svn") - lit(2L) *
      call_function("graft_dot", col("sv"), c.getField("_2")) +
      c.getField("_3")

  /** Nearest-code assignment of sub-vectors against a collected
    * codebook; ties break to the lowest code. r18 shape (guide §2.4 /
    * §1.2 per-task work): the former plan broadcast-joined the codebook
    * (×K row fan-out) and ranked each (vec_id, s) group with a
    * row_number() window — a full exchange + sort of N·M·K rows per
    * assignment pass. The codebook is M·K·SubDim longs (metadata-scale
    * by construction), so the argmin runs as ONE narrow codegen'd
    * expression per sub-vector row: array_min over the per-code d2
    * table, array_position to its FIRST occurrence (entries are
    * code-sorted, so first minimal = lowest code — exactly the window's
    * (d2 asc, code asc) orderBy), with zero exchange. Identical integer
    * arithmetic, identical tie-break, PqSpec + oracle-verified. */
  private[sim] def assign(sub: DataFrame, books: BookMap): DataFrame = {
    val entries = bookEntries(typedLit(books))
    val dists = transform(entries, c => entryD2(c))
    sub.select(col("vec_id"), col("s"),
      element_at(entries,
        array_position(dists, array_min(dists)).cast("int"))
        .getField("_1").as("code"))
  }

  /** Seed codebook from the first [[K]] vectors' sub-slices (a true
    * order-by-limit over the sub frame — sparse or non-zero-based id
    * spaces still seed K centroids; codes are the seeds' ranks 0..K−1,
    * which coincide with the seed vec_ids on a dense 0-based corpus —
    * the oracle's formulation). ONE metadata-scale driver action: every
    * vector contributes exactly [[M]] sub rows, so the first K·M rows
    * by (vec_id, s) are precisely the first K vectors' slices. */
  private[sim] def seedBooks(sub: DataFrame): BookMap = {
    val rows = sub.select(col("vec_id"), col("s"), col("sv"))
      .orderBy(col("vec_id"), col("s")).limit(K * M).collect()
    val rank = rows.map(_.getLong(0)).distinct.sorted.zipWithIndex.toMap
    rows
      .map { r =>
        val cv = r.getSeq[Long](2)
        (r.getInt(1), (rank(r.getLong(0)), cv,
          cv.map(x => x * x).sum))
      }
      .groupBy(_._1)
      .map { case (s, es) => s -> es.map(_._2).sortBy(_._1).toSeq }
  }

  /** Codebooks after one integer-mean Lloyd step from the deterministic
    * seed. r18 shape: the assignment runs as the [[assign]] literal-
    * codebook argmin expression (no broadcast join, no window), and the
    * member sub-vectors stay IN-ROW through it — the former plan
    * re-joined the (vec_id, s) assignments back onto the sub frame to
    * recover `sv` before the dimension explode; here the code and the
    * posexplode ride one narrow projection. Aggregation shape (the two
    * fixed-width hash aggregates) unchanged. */
  private[sim] def trainedBooks(sub: DataFrame, init: BookMap): DataFrame = {
    val entries = bookEntries(typedLit(init))
    val dists = transform(entries, c => entryD2(c))
    sub
      .select(col("s"),
        element_at(entries,
          array_position(dists, array_min(dists)).cast("int"))
          .getField("_1").as("code"),
        posexplode_outer(col("sv")).as(Seq("dim", "x")))
      .filter(col("dim").isNotNull)
      .groupBy(col("s"), col("code"), col("dim"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("c"))
      .withColumn("mx",
        expr("cast(round(cast(sx as double) / c, 0) as bigint)"))
      .groupBy(col("s"), col("code"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, mx))), " +
        "p -> p.mx)").as("cv"))
      .withColumn("cvn", expr("graft_dot(cv, cv)"))
  }

  /** [[trainedBooks]] with the seed derived from the sub frame itself
    * (the [[graft.sim.IvfPq.buildIndex]] entry). */
  private[sim] def trainedBooks(sub: DataFrame): DataFrame =
    trainedBooks(sub, seedBooks(sub))

  /** [[assign]] against a codebook FRAME (persisted-index consumers):
    * collects the M·K rows and runs the literal-codebook argmin. */
  private[sim] def assign(sub: DataFrame, books: DataFrame): DataFrame =
    assign(sub, collectBooks(books))

  /** SERVING split (the [[IvfCosine.buildIndex]] pattern): persist the
    * trained codebooks and the encoded corpus so queries never re-train.
    *
    *   `indexDir/books/` (s, code, cv, cvn)   — M·K rows, broadcast;
    *   `indexDir/codes/` (neighbor_id, s, code) — the 32×-compressed
    *                                              corpus encoding.
    *
    * The codes scan is inherent to ADC (every candidate's M codes are
    * summed); composing this with the IVF partitioned-postings layout
    * (IVF-PQ: partition the codes by coarse list id) is how the scan
    * itself gets pruned at 100 TB. */
  def buildIndex(s: SparkSession, dir: String, indexDir: String): Unit = {
    val emb = Similarity.quantized(s, dir).select("vec_id", "q")
      .filter(size(col("q")) === M * SubDim)
    val sub = subVectors(emb)
      .withColumn("svn", expr("graft_dot(sv, sv)"))
      .persist()
    try {
      val books = trainedBooks(sub)
      books.write.mode("overwrite").parquet(s"$indexDir/books")
      assign(sub, s.read.parquet(s"$indexDir/books"))
        .withColumnRenamed("vec_id", "neighbor_id")
        .write.mode("overwrite").parquet(s"$indexDir/codes")
    } finally sub.unpersist()
  }

  /** Query phase against a persisted [[buildIndex]] layout: build the
    * per-query ADC distance tables from the PERSISTED books (broadcast),
    * score the PERSISTED code table with one broadcast join + fixed
    * fan-in sum, rank. No codebook training, no corpus encoding — one
    * Window node total (the final rank; AnnIndexSpec pins it). Identical
    * deterministic output to [[topK]] / the pqTopK oracle. */
  def topKIndexed(s: SparkSession, dir: String, indexDir: String,
                  nQueries: Int = 10, k: Int = 5): DataFrame = {
    graft.functions.SignatureExpressions.register(
      s, 64, Array(1L), Array(0L), 2147483647L)
    val books = s.read.parquet(s"$indexDir/books")
    val codes = s.read.parquet(s"$indexDir/codes")
    val qEmb = Similarity.quantized(s, dir).select("vec_id", "q")
      .filter(size(col("q")) === M * SubDim)
      .filter(col("vec_id") < nQueries)
    val qt = subVectors(qEmb)
      .withColumn("svn", expr("graft_dot(sv, sv)"))
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(books), Seq("s"))
      .withColumn("dot", expr("graft_dot(sv, cv)"))
      .withColumn("qd", dist2("svn", "cvn", "dot"))
      .select("query_id", "s", "code", "qd")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_d2").asc, col("neighbor_id"))
    codes.join(broadcast(qt), Seq("s", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("qd")).as("approx_d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "approx_d2", "rank")
  }

  /** The train → encode → score pipeline WITHOUT the terminal
    * checkpoint — the plan graft.Explain shows as sim_pq_topk's
    * localCheckpoint. Leaves the sub persist live; [[topK]] wraps
    * it and releases it after checkpointing. */
  private[graft] def topKFrame(s: SparkSession, dir: String,
      nQueries: Int = 10, k: Int = 5): (DataFrame, Seq[DataFrame]) = {
    // Full-dimension vectors only (oracle: WHERE len(q) = 64): a short
    // vector's past-the-end slice is an EMPTY array, whose norm is 0 in
    // Spark (graft_dot) but NULL in DuckDB (list_sum) — divergent code
    // assignment. The guard makes the contract explicit instead of
    // conventional.
    val emb = Similarity.quantized(s, dir).select("vec_id", "q")
      .filter(size(col("q")) === M * SubDim)
    val sub = subVectors(emb)
      .withColumn("svn", expr("graft_dot(sv, sv)"))
      .persist()
    // One M·K-row collect: the trained codebook then rides every
    // downstream pass as a literal (assign argmin, per-query tables) —
    // no broadcast joins, no assignment windows.
    val books = collectBooks(trainedBooks(sub, seedBooks(sub)))
    val codes = assign(sub, books)
      .withColumnRenamed("vec_id", "neighbor_id")
    // Per-query subspace distance tables: nQueries × M × K rows (tiny),
    // one narrow explode of the literal codebook's entries.
    val qt = sub.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("s"), col("sv"),
        col("svn"), explode_outer(bookEntries(typedLit(books))).as("c"))
      .filter(col("c").isNotNull)
      .select(col("query_id"), col("s"), col("c._1").as("code"),
        entryD2(col("c")).as("qd"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_d2").asc, col("neighbor_id"))
    val out = codes.join(broadcast(qt), Seq("s", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("qd")).as("approx_d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "approx_d2", "rank")
    (out, Seq(sub))
  }

  /** Registered query: ADC top-k for queries vec_id < nQueries over the
    * PQ-encoded corpus (query itself excluded). The score is the PQ
    * APPROXIMATION of squared L2 — the contract is the deterministic
    * index's output, exactly like [[LshCosine.topK]]'s bucket contract;
    * recall vs exact search is a measured property (PqSpec). */
  def topK(s: SparkSession, dir: String, nQueries: Int = 10,
           k: Int = 5): DataFrame = {
    val (frame, persists) = topKFrame(s, dir, nQueries, k)
    val out = frame.localCheckpoint()
    persists.foreach(_.unpersist())
    out
  }
}
