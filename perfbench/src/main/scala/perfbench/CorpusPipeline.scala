package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.{Classify, Dedup, Dsir, Neutral, Pins, Pipeline, Sampling, TextAnalysis}

/** Raw documents in, training shards out: served admission, text
  * annotation, classifier gate, dedup with CC labels, DSIR selection,
  * sequence packing and the shard shuffle, as one execution per cycle.
  * Every stage is materialized (local checkpoint) so its wall is its own.
  *
  * Samples: `op_ms` one execution, `write_ms` the shard write,
  * `stored_ratio` shard bytes over raw document bytes.
  *
  * Every execution checks its own output: the shards hold each
  * DSIR-selected document exactly once, at positions 0..n-1 of its shard,
  * and the packed sequences hold every selected document and token. */
final class CorpusPipeline(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}

  private val docsPath = s"${ctx.data}/docs.parquet"
  private val docsBytes = Files.size(Paths.get(docsPath)).toDouble
  private var art = ""
  private var warmDigest = ""
  private val digests = scala.collection.mutable.ArrayBuffer.empty[String]

  def setup(rep: Int): Unit = {
    art = ctx.dir(s"artifacts_$rep")
    val served = spark.read.parquet(s"${ctx.data}/served.parquet")
    tracer.span("lifecycle.build") {
      Neutral.dedupIndexBuild(served, s"$art/dedup")
      Neutral.bloomIndexBuild(served, s"$art/bloom")
      Classify.nbBuild(spark.read.parquet(s"${ctx.data}/labeled.parquet"), s"$art/nb")
      Dsir.dsirBuild(served, spark.read.parquet(s"${ctx.data}/target.parquet"), s"$art/dsir")
    }
    val (b1, f1) = Util.footprint(s"$art/dedup")
    val (b2, f2) = Util.footprint(s"$art/bloom")
    ctx.notes("index_bytes") = b1 + b2
    ctx.notes("files_per_serve") = f1 + f2
  }

  /** The whole pipeline over the small oracle slice, and the prepare stage
    * over that slice for the DuckDB comparison. */
  def warmup(): Unit = {
    val slice = spark.read.parquet(s"${ctx.data}/oracle_docs.parquet")
    warmDigest = run(slice, s"$art/warm_shards")._1
    val rows = Pipeline.prepareCorpus(slice).orderBy("doc_id").collect()
      .map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2)))
    Pins.releaseAll()
    ctx.notes("prepare_rows") = rows.toSeq
    ctx.notes("prepare_oracle_sql") = graft.SparkEntry.oracleSql("q_ns_prepare_corpus")
  }

  /** Materialize one stage's output as its own action. */
  private def stage(name: String, rowsIn: Long)(df: => DataFrame): (DataFrame, Long) =
    tracer.span(s"ops.$name", (r: (DataFrame, Long)) => Map(
      "rows_in" -> rowsIn.toDouble, "rows_out" -> r._2.toDouble)) {
      val m = df.localCheckpoint()
      (m, m.count())
    }

  /** One end-to-end execution, its output checked; returns (digest, input
    * rows). Only `measured` executions record samples. */
  private def run(docs: DataFrame, shardsDir: String,
      measured: Boolean = false): (String, Long) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val nIn = docs.count()
    val (admitted, n1) = stage("admission", nIn) {
      val fresh = Neutral.admitBloomServed(spark, s"$art/bloom", docs)
        .filter(col("admitted")).select("doc_id")
      Neutral.dedupAgainstServed(spark, s"$art/dedup",
        docs.join(fresh, Seq("doc_id"), "left_semi"))
    }
    val (annotated, n2) = stage("text", n1) {
      TextAnalysis.withPiiScrub(TextAnalysis.withQuality(TextAnalysis.withLangId(admitted)))
        .filter(col("quality_score") >= ctx.dbl("min_quality"))
        .select(col("doc_id"), col("scrubbed_pii").as("text"), col("source"))
    }
    val (gated, n3) = stage("classify", n2) {
      annotated.join(Classify.nbServe(spark, s"$art/nb", annotated)
        .filter(col("pred_label") === "en").select("doc_id"), Seq("doc_id"), "left_semi")
    }
    val (deduped, n4) = stage("dedup", n3) {
      val minJ = ctx.dbl("min_jaccard")
      val labels = Dedup.connectedComponents(Dedup.minHashCandidates(gated)
        .filter(col("jaccard") >= minJ).select("doc_a", "doc_b"))
      Dedup.dedupCorpus(gated, minJaccard = minJ)
        .join(labels, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
    }
    tracer.span("ops.dedup.survivor", (_: Unit) =>
      Map("survivor_ratio" -> (if (n3 == 0) 1.0 else n4.toDouble / n3)))(())
    val (selected, n5) = stage("dsir", n4) {
      val k = math.max(1, (n4 * ctx.dbl("keep_frac")).toInt)
      deduped.join(Dsir.dsirResample(Dsir.dsirServe(spark, s"$art/dsir", deduped), k)
        .select("doc_id"), Seq("doc_id"), "left_semi")
    }
    val packed = tracer.span("ops.pack", (r: Array[Row]) =>
        Map("rows_in" -> n5.toDouble, "rows_out" -> r.length.toDouble)) {
      Pipeline.packSequences(selected, budget = ctx.int("pack_budget")).collect()
    }
    val tw = System.nanoTime()
    tracer.span("ops.shards", (_: Unit) => Map("rows_in" -> n5.toDouble,
        "rows_out" -> n5.toDouble)) {
      Sampling.trainShards(selected, ctx.int("num_shards"))
        .write.mode("overwrite").parquet(shardsDir)
    }
    val end = System.nanoTime()
    if (measured) {
      ctx.sample("write_ms", (end - tw) / 1e6)
      ctx.sample("op_ms", (end - t0) / 1e6)
      ctx.sample("stored_ratio", Util.footprint(shardsDir)._1 / docsBytes)
      JvmCounters.markLive() // every stage's output is still held here
    }
    val shards = spark.read.parquet(shardsDir).select("doc_id", "shard", "pos", "component")
      .collect()
    checkOutput(selected.select("doc_id", "text").collect(), shards, packed)
    val digest = Util.digest(shards.map(Util.render).toSeq ++ packed.map(Util.render))
    Pins.releaseAll()
    (sc.getPersistentRDDs.keySet -- before).foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
    (digest, nIn)
  }

  /** The shards against the DSIR selection they were cut from, and the
    * packing stats against the selected texts. */
  private def checkOutput(selected: Array[Row], shards: Array[Row], packed: Array[Row]): Unit = {
    val bad = if (ctx.corrupt) 1L else 0L
    val wantIds = selected.map(_.getLong(0)).sorted.toSeq ++ (if (ctx.corrupt) Seq(-1L) else Nil)
    val ids = shards.map(_.getLong(0)).sorted.toSeq
    val positions = shards.groupBy(_.getLong(1)).values
      .forall(rows => rows.map(_.getLong(2)).sorted.toSeq == rows.indices.map(_.toLong))
    ctx.check("shards_cover_selection", ids == wantIds && positions)
    val tokens = selected.map(_.getString(1).trim.split("\\s+").count(_.nonEmpty).toLong).sum
    val packedDocs = packed.map(_.getAs[Long]("n_docs")).sum
    val packedTokens = packed.map(_.getAs[Long]("seq_tokens")).sum
    ctx.check("packing_conserves_tokens",
      packedDocs == selected.length && packedTokens == tokens + bad)
  }

  def cycle(i: Int): Unit = {
    ctx.attempted += 1
    val (digest, n) = run(spark.read.parquet(docsPath), s"${ctx.work}/shards", measured = true)
    digests += digest
    ctx.count("items", n)
  }

  /** Executions over the same input agree: those of the loop among
    * themselves, and a second execution over the oracle slice with the
    * warm-up's. */
  def verify(): Unit = {
    val slice = spark.read.parquet(s"${ctx.data}/oracle_docs.parquet")
    val again = run(slice, s"${ctx.work}/verify_shards")._1
    val (first, warm) =
      if (ctx.corrupt) ("corrupted" + digests.head, "corrupted" + warmDigest)
      else (digests.head, warmDigest)
    ctx.check("shards_stable", digests.forall(_ == first) && again == warm)
    ctx.notes("shard_digest") = digests.head
  }

  /** expr kernels, each through the public call that wraps it, over a
    * cached input (the documents, `probe_copies` times over), net of the
    * bare scan of that input; the fastest of three passes. Every variant
    * writes the input's columns plus the kernel's, so the difference is the
    * kernel alone. */
  override def probe(): Unit = {
    val one = spark.read.parquet(docsPath).select("doc_id", "text")
    val docs = (1 until ctx.int("probe_copies")).foldLeft(one) { (acc, k) =>
      acc.unionByName(one.withColumn("doc_id", col("doc_id") + k * 100000000L))
    }.repartition(ctx.cores).cache()
    val n = docs.count().toDouble
    def wall(df: => DataFrame): Double = (0 until 3).map { _ =>
      val s = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      System.nanoTime() - s
    }.min.toDouble
    def nsPerRow(name: String, t: Double, base: Double): Unit =
      ctx.counters(s"expr.$name.ns_per_row") = (t - base) / n
    val withHs = docs.withColumn("hs", graft.expr.ShingleHashes.shingleHashes(col("text"), 3))
    tracer.span("expr.probe") {
      val bare = wall(docs)
      nsPerRow("pii_scrub", wall(TextAnalysis.withPiiScrub(docs)), bare)
      nsPerRow("trigram_langid", wall(TextAnalysis.withLangIdTrigram(docs)), bare)
      // timed before `hs` below is cached: the cache would answer this
      // same plan with a scan in place of the kernel
      nsPerRow("shingle_hashes", wall(withHs), bare)
      val hs = withHs.cache()
      hs.count()
      nsPerRow("minhash_signature", wall(hs.withColumn("sig",
        graft.expr.ArrayExprs.minhashSignature(col("hs")))), wall(hs))
      hs.unpersist(true)
    }
    docs.unpersist(true)
  }
}
