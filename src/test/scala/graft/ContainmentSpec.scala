package graft

import graft.text.{ContainmentDedup, TextOps}
import org.apache.spark.sql.functions._

/** The containment scale arm vs its all-pairs baseline: exact-arm
  * equivalence (candidate completeness), capped-arm recall on a planted
  * quote, and the measured AutoArm decision in both directions. */
class ContainmentSpec extends SparkSpec {

  import spark.implicits._

  private def writeDocs(dir: String, rows: Seq[(Long, String, String)])
      : Unit =
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def pairsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("containment"))).toSet

  test("exact arm equals the all-pairs baseline on real corpus data") {
    val dir = "/root/testdata/sf0.001"
    val fast = pairsOf(
      ContainmentDedup.pairs(spark, dir, arm = ContainmentDedup.ExactArm))
    val base = pairsOf(TextOps.containment(spark, dir))
    assert(fast == base,
      s"prefix-filter candidates missed ${(base -- fast).size} pairs / " +
        s"invented ${(fast -- base).size}")
    assert(base.nonEmpty, "vacuous check: baseline found no pairs")
  }

  test("planted quote found at t=0.7 by exact AND capped arms") {
    val dir = tmpDir("cont-quote")
    val big = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi " +
      "omega one two three four five six seven eight nine ten")
    val quote = "lambda mu nu xi omicron pi rho sigma tau upsilon"
    writeDocs(dir, Seq((1L, big, "s"), (2L, quote, "s"),
      (3L, "unrelated words entirely different here", "s"),
      (4L, big, "other"))) // same text, different source: must NOT pair
    for (arm <- Seq(ContainmentDedup.ExactArm, ContainmentDedup.CappedArm)) {
      val out = ContainmentDedup.pairs(spark, dir, arm = arm)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(out.contains((2L, 1L)), s"$arm must flag quote ⊂ source")
      assert(!out.contains((1L, 2L)), s"$arm: big doc is NOT in the quote")
      assert(!out.exists(p => p._1 == 3L || p._2 == 3L), s"$arm: doc 3")
      assert(!out.exists(p => p._1 == 4L || p._2 == 4L),
        s"$arm must respect the source block")
    }
  }

  test("AutoArm measures: exact on the gate corpus, capped on a " +
      "template family") {
    assert(ContainmentDedup.selectArm(spark, "/root/testdata/sf0.001") ==
      ContainmentDedup.ExactArm,
      "gate-scale corpora must run the complete arm (oracle parity)")
    // A template family: 250 near-copies in one (lang, source) block puts
    // every token's df at ~250 and the estimated prefix volume at
    // ~250²·prefixLen ≫ budget·nDocs.
    val dir = tmpDir("cont-family")
    val tmpl = ("boilerplate header terms of service apply to all users " +
      "of this website and by continuing you agree to the following " +
      "conditions enumerated below in sections one through nine inclusive")
    writeDocs(dir, (1L to 250L).map(i => (i, s"$tmpl variant $i", "web")))
    assert(ContainmentDedup.selectArm(spark, dir) ==
      ContainmentDedup.CappedArm,
      "a dense template family must overrun the prefix budget")
  }

  test("capped arm stays linear per bucket yet links the family") {
    // On the template family the capped arm must still produce pairs
    // (every doc keeps ProbeCap candidate containers per prefix token).
    val dir = tmpDir("cont-capped")
    val tmpl = ("boilerplate header terms of service apply to all users " +
      "of this website and by continuing you agree to the conditions")
    writeDocs(dir, (1L to 100L).map(i => (i, s"$tmpl tail $i", "web")))
    val out = ContainmentDedup.pairs(spark, dir,
      arm = ContainmentDedup.CappedArm)
    assert(out.count() > 0, "near-identical family must self-link")
    // and every reported pair is a true containment (rerank is exact)
    val base = pairsOf(TextOps.containment(spark, dir))
    assert(pairsOf(out).subsetOf(base),
      "capped candidates must never invent a pair the exact measure rejects")
  }

  test("the prefix-broadcast estimate counts the block keys' bytes") {
    // Two corpora with identical trigram sets, one with 200-byte lang
    // and source values: every prefix slot carries both strings.
    val tg = Seq(Seq(1L, 2L, 3L, 4L, 5L), Seq(2L, 3L, 4L))
    def base(key: String) = tg.zipWithIndex
      .map { case (t, i) => (i.toLong, key, key, t) }
      .toDF("doc_id", "lang", "source", "tg")
    val (nS, tokS, shortBytes) = ContainmentDedup.gateStats(base("en"), 0.7)
    val long = "x" * 200
    val (nL, tokL, longBytes) = ContainmentDedup.gateStats(base(long), 0.7)
    assert((nS, tokS) === ((2L, 8L)) && (nL, tokL) === ((2L, 8L)))
    val slots = (shortBytes / (64L + 4L))
    assert(slots * (64L + 4L) === shortBytes && slots > 0L)
    assert(longBytes === slots * (64L + 400L),
      s"long block keys must raise the estimate: $shortBytes -> $longBytes")
  }
}
