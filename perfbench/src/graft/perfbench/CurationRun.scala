package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.pipeline.{Backbone, VecBackbone}

/** `curation`: the batch pipeline over a seeded corpus with planted
  * near-duplicate families and embedding clusters. A timed batch builds
  * the text backbone, the vector index and the end-to-end store, then
  * runs a fixed list of catalog consumers that read only documents and
  * embeddings. Every batch reads a fresh copy of the corpus, so no stored
  * backbone or memo from an earlier batch is reused. */
object CurationRun {
  val Families = 60
  val Singletons = 60
  val Spam = 10
  val Vectors = 240
  val Dims = 32
  val Clusters = 12
  val SetupRounds = 3
  /** Timed batches per run: a count, not a clock, so every run measures
    * the same work; `--seconds` does not change it. A traced run traces
    * the second half of them. */
  val TimedBatches = 2
  val Consumers: Seq[String] = Seq("d_dedup_cluster", "d_curation_apply",
    "d_pipeline_e2e", "d_dedup_semantic", "d_ann_ivf", "d_pack_sequences")

  private def writeCorpus(spark: SparkSession, seed: Long, dir: File): Seq[Gen.Doc] = {
    val docs = Gen.corpus(seed, Families, Singletons, Spam)
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(docs.map(d => Row(d.docId, d.text, "en", "bench", d.text.length.toLong)).asJava,
      docSchema).repartition(4).write.parquet(new File(dir, "documents.parquet").getPath)
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)), StructField("label", IntegerType)))
    spark.createDataFrame(Gen.embeddings(seed, Vectors, Dims, Clusters)
        .map { case (id, v, c) => Row(id, v.toSeq, c) }.asJava, embSchema)
      .repartition(4).write.parquet(new File(dir, "embeddings.parquet").getPath)
    docs
  }

  private def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) { to.mkdirs(); from.listFiles().foreach(f => copyTree(f, new File(to, f.getName))) }
    else java.nio.file.Files.copy(from.toPath, to.toPath)

  /** One batch over `d`: (per-consumer seconds, consumer row counts). */
  private def batch(ctx: Ctx, d: String, tag: String): (Seq[Double], Map[String, Array[Row]]) = {
    val s = ctx.spark
    def step(name: String)(body: => Unit): Double = ctx.tracer.span(name, tag) {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    s.sparkContext.setJobGroup(s"pipeline-$tag", "benchmark curation batch")
    try {
      ctx.samples.add("pipeline.backbone_s", step("pipeline.backbone") {
        Backbone.fingerprints(s, d); Backbone.labels(s, d)
      })
      ctx.samples.add("pipeline.vec_index_s", step("pipeline.vec_index") {
        VecBackbone.quantizer(s, d); VecBackbone.buckets(s, d); VecBackbone.codes(s, d)
      })
      var rows = Map.empty[String, Array[Row]]
      val lat = Consumers.map { k =>
        step(s"pipeline.consumer.$k") { rows += k -> SparkEntry.queries(k)(s, d).collect() }
      }
      ctx.samples.add("pipeline.consumers_s", lat.sum)
      System.err.println(f"[bench] batch $tag: backbone ${ctx.samples.get("pipeline.backbone_s").last}%.2f s, " +
        f"vec_index ${ctx.samples.get("pipeline.vec_index_s").last}%.2f s, " +
        Consumers.zip(lat).map { case (k, t) => f"$k $t%.2f s" }.mkString(", "))
      (lat, rows)
    } finally s.sparkContext.clearJobGroup()
  }

  /** Planted-family checks on one batch's consumer outputs. */
  private def check(ctx: Ctx, docs: Seq[Gen.Doc], rows: Map[String, Array[Row]], tag: String): Unit = {
    // clusters: the non-singleton components are exactly the families
    val clusters = rows("d_dedup_cluster").map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val planted = docs.filter(_.family >= 0).groupBy(_.family).values.map(_.map(_.docId).toSet).toSet
    ctx.outcome.check(clusters == planted,
      s"$tag: ${clusters.size} clusters found, ${planted.size} families planted")
    // curation verdicts: keep the lowest doc id of each family and every
    // clean singleton; drop exact copies, near-duplicates and spam
    val decision = rows("d_curation_apply").map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("decision")).toMap
    val keepers = docs.filter(_.family >= 0).groupBy(_.family).values.map(_.map(_.docId).min).toSet
    val kept = decision.collect { case (id, "kept") => id }.toSet
    val wantKept = keepers ++ docs.filter(d => d.family < 0 && !d.spam).map(_.docId)
    ctx.outcome.check(decision.size == docs.size && kept == wantKept &&
      docs.filter(_.spam).forall(d => decision.get(d.docId).contains("drop_quality")),
      s"$tag: ${kept.size} kept, ${wantKept.size} expected")
    // the remaining consumers: non-empty, deterministic outputs
    Consumers.filterNot(Set("d_dedup_cluster", "d_curation_apply")).foreach { k =>
      ctx.outcome.check(rows(k).nonEmpty, s"$tag: $k returned no rows")
    }
  }

  def run(ctx: Ctx): Unit = {
    val s = ctx.spark
    val rounds = ctx.setupRounds(SetupRounds) { k =>
      val dir = new File(ctx.runDir, s"corpus-$k")
      (dir, writeCorpus(s, ctx.seed, dir))
    }(r => Files.rm(r._1))
    val (src, docs) = rounds.last._2
    val corpusBytes = Files.bytes(src)
    // warm-up: one full batch on its own copy (JIT, codegen, first builds)
    val t0 = System.nanoTime()
    val warmDir = new File(ctx.runDir, "batch-warm")
    copyTree(src, warmDir)
    val (_, warmRows) = batch(ctx, warmDir.getPath, "warm")
    check(ctx, docs, warmRows, "warm-up")
    ctx.setupS = ctx.sessionS + Stats.median(rounds.map(_._1)) + (System.nanoTime() - t0) / 1e9
    Jvm.sampleLiveHeap()
    ctx.phase("set-up done")

    val warehouse = new File(sys.props("java.io.tmpdir"), "graft-backbone")
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[Double], Boolean)]
    val outputs = scala.collection.mutable.ArrayBuffer.empty[(String, Map[String, Array[Row]])]
    var n = 0
    def runBatch(traced: Boolean): Unit = {
      n += 1
      val dir = new File(ctx.runDir, s"batch-$n")
      copyTree(src, dir)
      val stored0 = Files.bytes(warehouse)
      val b0 = System.nanoTime()
      val (lat, rows) = batch(ctx, dir.getPath, s"b$n")
      batches += (((System.nanoTime() - b0) / 1e9, lat, traced))
      if (traced) ctx.samples.add("pipeline.stored_bytes_per_corpus_byte",
        (Files.bytes(warehouse) - stored0).toDouble / corpusBytes)
      outputs += ((s"batch $n", rows))
    }
    ctx.window() { _ =>
      (1 to TimedBatches).foreach(k => runBatch(traced = ctx.trace && k > TimedBatches / 2))
    }
    Jvm.sampleLiveHeap()
    ctx.phase("batches done")
    outputs.foreach { case (tag, rows) => check(ctx, docs, rows, tag) }

    val untraced = batches.filterNot(_._3)
    val lat = untraced.flatMap(_._2).map(_ * 1000)
    ctx.result.put("query_p50_ms", Stats.median(lat), "ms")
    ctx.result.put("query_p95_ms", Stats.q(lat, 0.95), "ms")
    // the consumer phase's throughput: consumer queries per second spent
    // in consumers (the backbone and index builds are batch_s's share)
    ctx.result.put("queries_per_s", lat.size / math.max(1e-9, lat.sum / 1000), "1/s")
    ctx.result.put("batch_s", Stats.median(untraced.map(_._1)), "s")
    if (ctx.trace) {
      val traced = batches.filter(_._3)
      ctx.overheadFrac = Stats.median(traced.map(_._1)) / Stats.median(untraced.map(_._1)) - 1
      pipelineMetrics(ctx, s"batch-$n")
    }
  }

  /** Listener counts of the timed batches, and the LSH candidate/verified
    * pair counts of the last batch's stored backbone. */
  private def pipelineMetrics(ctx: Ctx, lastDir: String): Unit = {
    Listeners.drain(ctx.spark)
    val c = ctx.sparkCounts.sum("pipeline-b")
    val s = ctx.samples
    s.add("pipeline.shuffle_write_bytes", c.shuffleWrite.toDouble)
    s.add("pipeline.shuffle_read_bytes", c.shuffleRead.toDouble)
    s.add("pipeline.spill_bytes", c.spill.toDouble)
    s.add("pipeline.stages", c.stages.toDouble)
    s.add("pipeline.tasks", c.tasks.toDouble)
    s.add("pipeline.task_skew", Stats.median(c.skews))
    val d = new File(ctx.runDir, lastDir).getPath
    val candidates = Backbone.bands(ctx.spark, d).groupBy("band", "bkey").count()
      .agg(coalesce(sum(expr("count * (count - 1) / 2")), lit(0)).cast("long")).head().getLong(0)
    val verified = Backbone.pairs(ctx.spark, d).count()
    s.add("pipeline.candidate_pairs", candidates.toDouble)
    s.add("pipeline.verified_pair_frac", verified.toDouble / math.max(1L, candidates))
  }
}
