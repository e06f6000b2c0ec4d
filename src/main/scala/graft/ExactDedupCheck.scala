package graft

import graft.text.MinHashDedup
import graft.util.Num
import org.apache.spark.sql.functions._

/** Diagnostic main: verifies MinHashDedup.clusters against an exact
  * all-pairs trigram-Jaccard baseline computed in Spark (the DuckDB
  * recursive-CTE oracle computes the same thing, but its all-pairs
  * list_intersect is hours at sf0.1 where this is seconds on 32 cores).
  *
  *   graft.ExactDedupCheck <sfDir>   → prints PASS/FAIL + mismatch count
  *
  * Exactness is the registered contract (BASELINE.md): the LSH ∪
  * prefix-filter candidate union must reproduce the exact graph's
  * components at every scale, so a FAIL here is a bug, not bad luck.
  */
object ExactDedupCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSpark.session(32)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sigs = MinHashDedup.signatures(docs).cache()

    // Exact graph: all pairs (broadcast one side — the whole signature
    // frame is tens of MB at these scales), native sorted-intersect.
    val a = sigs.select(col("doc_id").as("doc_a"), col("tgh").as("ta"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("tgh").as("tb"))
    val exactEdges = a.join(broadcast(b), col("doc_a") < col("doc_b"))
      .withColumn("inter",
        expr("graft_sorted_intersect(ta, tb)").cast("bigint"))
      .withColumn("uni",
        (size(col("ta")) + size(col("tb"))).cast("bigint") - col("inter"))
      .withColumn("jaccard", Num.guardedRatio(col("inter"), col("uni"), 4))
      .filter(col("jaccard") >= 0.6)
      .select("doc_a", "doc_b")
    val expected = MinHashDedup
      .components(sigs.select("doc_id"), exactEdges)
      .withColumnRenamed("canonical_id", "expected_id")

    val got = MinHashDedup.clusters(spark, sfDir, threshold = 0.6)
    val joined = got.join(expected, Seq("doc_id"), "full_outer")
    val mismatches = joined
      .filter(not(col("canonical_id") <=> col("expected_id"))).count()
    val total = joined.count()
    println(s"docs=$total mismatches=$mismatches " +
      (if (mismatches == 0) "PASS" else "FAIL"))
    spark.stop()
    if (mismatches != 0) sys.exit(1)
  }
}
