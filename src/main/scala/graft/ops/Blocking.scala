package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.ArrayExprs.jaccardSorted

/** LSH bucket blocking — the candidate-generation step every banded
  * near-dup operator shares (MinHash bands in [[Dedup]] and [[Neutral]],
  * sign-LSH tables in [[Similarity]] and [[Neutral]]): bucket self-join →
  * star-cap skew policy → narrow candidate dedup. Verification is the
  * caller's; the MinHash tail ([[minHashPairs]]) lives here because both
  * MinHash forms verify identically.
  *
  * The star cap (r16) is the house skew policy. A bucket holding B ids
  * emits B² pairs, and a dominant duplicate class lands in the same
  * bucket of every band or table — measured quadratic on the r15 sf1
  * sweep. Buckets at or under the cap enumerate full pairs (exactly the
  * uncapped behavior); OVERSIZED buckets emit hub → member STAR pairs
  * only (hub = the bucket's min id), O(size) per bucket. Every candidate
  * still pays exact verification downstream, so emitted edges are never
  * approximate; only member↔member pairs meeting EXCLUSIVELY inside
  * over-cap buckets are traded for the hub edge. On a genuine duplicate
  * class every member is near the hub, so connected components are
  * unchanged (pinned by ScaleSpec). The size and rep windows ride the
  * SAME bucket key the self-join shuffles on — one exchange feeds both
  * windows and the join. */
object Blocking {

  /** Narrow canonical candidate pairs `(a, b)`, a < b, distinct, from
    * `bucketed` — one row per (`keys`..., `id`) bucket membership. `None`
    * enumerates every within-bucket pair; `Some(cap)` applies the star
    * policy to buckets larger than `cap`. */
  def candidatePairs(bucketed: DataFrame, keys: Seq[String], id: String,
      starCap: Option[Int]): DataFrame = {
    def side(t: DataFrame, as: String) =
      t.select(keys.map(col) :+ col(id).as(as): _*)
    def fullPairs(t: DataFrame) = side(t, "a").join(side(t, "b"), keys)
      .filter(col("a") < col("b"))
      .select("a", "b")
    starCap match {
      case None => fullPairs(bucketed).distinct()
      case Some(cap) =>
        val w = Window.partitionBy(keys.map(col): _*)
        val sized = bucketed
          .withColumn("bsize", count(lit(1)).over(w))
          .withColumn("rep", min(col(id)).over(w))
        // rep = min(id) over the bucket, so a < b is already canonical
        val star = sized.filter(col("bsize") > cap && col(id) =!= col("rep"))
          .select(col("rep").as("a"), col(id).as("b"))
        fullPairs(sized.filter(col("bsize") <= cap)).unionByName(star).distinct()
    }
  }

  /** DuckDB twin of [[candidatePairs]] with `Some(cap)`: CTEs `bsz` and
    * `cand(a, b)` over the relation `rel` (one row per keys + id). */
  private[ops] def starCandidateCtes(rel: String, keys: Seq[String],
      id: String, cap: Int): String = {
    def on(x: String, y: String) =
      keys.map(k => s"$x.$k = $y.$k").mkString(" AND ")
    s"""bsz AS (
       |  SELECT ${keys.mkString(", ")}, count(*) AS bsize, min($id) AS rep
       |  FROM $rel GROUP BY ${keys.mkString(", ")}
       |),
       |cand AS (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT x.$id AS a, y.$id AS b
       |    FROM $rel x
       |    JOIN bsz z ON ${on("x", "z")}
       |    JOIN $rel y ON ${on("y", "x")}
       |    WHERE z.bsize <= $cap AND x.$id < y.$id
       |    UNION ALL
       |    SELECT z.rep AS a, y.$id AS b
       |    FROM $rel y JOIN bsz z ON ${on("y", "z")}
       |    WHERE z.bsize > $cap AND y.$id <> z.rep
       |  ) u
       |)""".stripMargin
  }

  /** MinHash tail: candidate pairs of `banded` (doc_id, band, bucket),
    * deduped on narrow ids before the shingle-hash arrays re-attach for
    * exact Jaccard — no array rides the bucket shuffle. Returns (doc_a,
    * doc_b, jaccard), doc_a < doc_b. */
  def minHashPairs(banded: DataFrame, hs: DataFrame,
      starCap: Option[Int]): DataFrame =
    jaccardScored(candidatePairs(banded, Seq("band", "bucket"), "doc_id",
      starCap).toDF("doc_a", "doc_b"), hs)

  /** (doc_a, doc_b) pairs scored with the exact Jaccard of their sorted
    * shingle-hash arrays from `hs` (doc_id, hs). */
  def jaccardScored(pairs: DataFrame, hs: DataFrame): DataFrame =
    pairs
      .join(hs.select(col("doc_id").as("doc_a"), col("hs").as("sh_a")), Seq("doc_a"))
      .join(hs.select(col("doc_id").as("doc_b"), col("hs").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
}
