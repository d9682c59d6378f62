package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.app.{CorpusPipeline, Pipeline}
import graft.conf.{EngineConfig, PreprocessConfig, TrainConfig}
import graft.ml.IvfIndex
import graft.ops.{Ann, Similarity, Sources, Text, Vocab}
import graft.streaming.StreamOps

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** An output check that did not hold. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What a workload needs from the run. */
final case class Ctx(spark: SparkSession, gen: Gen, runDir: String,
                     spans: Spans, seed: Long)

/** One closed-loop workload (or one phase of one): [[iterate]] is the
  * timed call sequence, [[check]] the untimed output checks after each
  * iteration. */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def span[T](name: String, layer: String)(body: => T): T =
    ctx.spans(name, layer)(body)
  protected def require(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new CheckFailed(msg)

  /** Input rows one iteration reads (the `rows_per_s` numerator). */
  def inputRows: Long
  /** Sizes of the generated inputs, for the report. */
  def inputSizes: Seq[Metric]
  def iterate(i: Int): Unit
  def check(i: Int): Unit
  /** Untimed after the loop: the workload's own end-to-end figures
    * (quality, trigger latency, funnel). */
  def quality(): Seq[Metric] = Seq.empty
  /** Untimed after the loop, traced run only: per-layer extras (summed
    * over phases). */
  def layerExtras(): Seq[(String, Double)] = Seq.empty
  /** Untimed after each traced iteration: forces, through their public
    * calls, the layers that [[iterate]] only builds lazily, so their
    * kernels run in jobs of their own layer. */
  def layerProbes(): Unit = ()
  /** Files and bytes the last iteration wrote. */
  def written: (Long, Long) = (0L, 0L)

  /** Runs every operator of `df` without writing its output. */
  protected def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Row count and an order-independent hash of all rows. */
  protected def checksumCols(df: DataFrame): Seq[Column] = Seq(count(lit(1)),
    coalesce(bit_xor(xxhash64(df.columns.map(col).toSeq: _*)), lit(0L)))

  protected def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(checksumCols(df).head, checksumCols(df).tail: _*).head()
    (r.getLong(0), r.getLong(1))
  }
  /** A value that must read the same after every iteration. */
  protected final class Repeats[T](what: String) {
    private var first: Option[T] = None
    def apply(v: T): Unit = first match {
      case None => first = Some(v)
      case Some(f) => require(f == v, s"$what changed between iterations: $f then $v")
    }
  }
}

/** Phases run back to back as one iteration. */
final class Composite(ctx: Ctx, phases: Seq[Workload]) extends Workload(ctx) {
  def inputRows: Long = phases.map(_.inputRows).sum
  def inputSizes: Seq[Metric] = phases.flatMap(_.inputSizes)
  def iterate(i: Int): Unit = phases.foreach(_.iterate(i))
  def check(i: Int): Unit = phases.foreach(_.check(i))
  override def layerProbes(): Unit = phases.foreach(_.layerProbes())
  override def quality(): Seq[Metric] = phases.flatMap(_.quality())
  override def layerExtras(): Seq[(String, Double)] =
    phases.flatMap(_.layerExtras()).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).sum }.toSeq
  override def written: (Long, Long) = {
    val ws = phases.map(_.written)
    (ws.map(_._1).sum, ws.map(_._2).sum)
  }
}

object Workloads {
  /** `prod2vec_search`: the reference pipeline, then exact and
    * approximate neighbour search over seeded vectors.
    * `curate_stream`: the batch curation funnel, then the streaming
    * curation gates over staged files. */
  val Names: Seq[String] = Seq("prod2vec_search", "curate_stream")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "prod2vec_search" =>
      new Composite(ctx, Seq(new Prod2VecTrain(ctx), new NeighborSearch(ctx)))
    case "curate_stream" =>
      new Composite(ctx, Seq(new CorpusCurate(ctx), new StreamIngest(ctx)))
  }

  /** The curation corpus: ids [CorpusFirstId, +CorpusDocs), written
    * as StreamFiles parquet files that the stream phase replays one per
    * trigger. Ids below CorpusFirstId are the disjoint slice the
    * stream's content-hash index is built from. */
  val CorpusDocs = 1200L
  val CorpusFirstId = 400L
  val StreamFiles = 3

  def corpus(ctx: Ctx): Gen.Inputs =
    ctx.gen.documents(CorpusFirstId, CorpusDocs, CorpusDocs, StreamFiles)

  /** The curation gates both curation phases run. */
  val KeepLangs = Set("en")
  val MinQuality = 0.5
}

/** `app.Pipeline.run` (train stage, then post-process; HPO off) on a
  * seeded basket corpus. */
final class Prod2VecTrain(ctx: Ctx) extends Workload(ctx) {
  val Orders = 5000L
  val Products = 1000
  private val data = ctx.gen.baskets(Orders, Products)
  private val out = s"${ctx.runDir}/prod2vec"
  private val cfg = EngineConfig(
    preprocess = PreprocessConfig(numProds = Products + 1),
    train = TrainConfig(embeddingDim = 16, epochs = 1))
  private val lineitem = Sources.table(spark, data.dir, "lineitem")
  private val distinctProducts =
    lineitem.select("l_partkey").distinct().count()
  private val tensorsSum = new Repeats[(Long, Long)]("tensors checksum")
  private var tensorRows = 0L
  private var modelVocab = 0L
  private var result: Pipeline.Result = _

  def inputRows: Long = data.rows("lineitem.parquet")
  def inputSizes: Seq[Metric] = Seq(
    Metric("input.line_items", inputRows, "count"),
    Metric("input.orders", Orders, "count"),
    Metric("input.products", Products, "count"),
    Metric("input.mb", data.tables.values.map(_._2).sum / 1048576.0, "MB"))

  def iterate(i: Int): Unit =
    result = span("Pipeline.run", "prod2vec") { Pipeline.run(spark, data.dir, out, cfg) }

  /** The tensors frame `Pipeline.run` returns is Vocab + Pairs
    * (skip-gram pairs, subsampling, negatives, assembly); inside the
    * run its jobs belong to the `Sources.writeParquet` that forces it. */
  override def layerProbes(): Unit =
    span("Pairs.assemble", "pairs") { force(result.tensors) }

  def check(i: Int): Unit = {
    val tensors = spark.read.parquet(s"$out/tensors")
    val tsum = checksum(tensors)
    tensorsSum(tsum)
    tensorRows = tsum._1
    if (i == 0) {
      val vocab = Vocab.topK(lineitem, "l_partkey", cfg.preprocess.numProds).count()
      require(vocab == math.min(cfg.preprocess.numProds - 1L, distinctProducts),
        s"vocab size $vocab, expected min(numProds-1, $distinctProducts)")
    }
    val emb = spark.read.parquet(s"$out/embeddings")
    val e = emb.agg(count(lit(1)),
      sum(when(size(col("embedding")) =!= cfg.train.embeddingDim, 1).otherwise(0)),
      sum(when(exists(col("embedding"), x => isnan(x) || abs(x) === Float.PositiveInfinity), 1)
        .otherwise(0))).head()
    modelVocab = e.getLong(0)
    require(modelVocab > 0 && modelVocab <= distinctProducts,
      s"embedding rows $modelVocab outside (0, $distinctProducts]")
    require(e.isNullAt(1) || e.getLong(1) == 0, s"${e.get(1)} embeddings not of dim ${cfg.train.embeddingDim}")
    require(e.isNullAt(2) || e.getLong(2) == 0, s"${e.get(2)} embeddings with non-finite values")
    val report = spark.read.parquet(s"$out/report")
    val perProbe = report.groupBy("probe_id").agg(count(lit(1)).as("n"),
      sum(when(col("probe_id") === col("vec_id"), 1).otherwise(0)).as("self"))
      .collect()
    require(perProbe.nonEmpty && perProbe.length <= cfg.train.validSize,
      s"report has ${perProbe.length} probes, expected 1..${cfg.train.validSize}")
    perProbe.foreach { r =>
      require(r.getLong(1) <= 20 && r.getLong(1) >= 1, s"probe ${r.get(0)} has ${r.get(1)} neighbours")
      require(r.getLong(2) == 0, s"probe ${r.get(0)} lists itself")
    }
  }

  override def written: (Long, Long) = Scratch.filesAndBytes(new File(out))

  /** Mean cosine of the co-purchase pairs under the trained embeddings
    * (the `Prod2Vec.tune` objective). */
  override def quality(): Seq[Metric] = {
    // the positive (target, context) pairs are the tensors' first context
    val pairs = spark.read.parquet(s"$out/tensors")
      .select(col("target"), element_at(col("contexts"), 1).as("context"))
    val vocab = Vocab.withIndex(
      Vocab.topK(lineitem, "l_partkey", cfg.preprocess.numProds))
    val coPairs = Similarity.coPurchaseTopK(pairs, 1)
      .join(broadcast(vocab.select(col("idx").as("target"),
        col("product_id").as("a"))), Seq("target"))
      .join(broadcast(vocab.select(col("idx").as("context"),
        col("product_id").as("b"))), Seq("context"))
    val emb = spark.read.parquet(s"$out/embeddings").select("vec_id", "embedding")
    val cos = coPairs
      .join(emb.select(col("vec_id").as("a"), col("embedding").as("ea")), "a")
      .join(emb.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
      .agg(avg(Similarity.cosine(col("ea"), col("eb")))).head()
    Seq(Metric("copurchase_cos", cos.getDouble(0), "cos"))
  }

  override def layerExtras(): Seq[(String, Double)] = Seq(
    "pairs.tensor_rows" -> tensorRows.toDouble,
    "prod2vec.tokens" -> inputRows.toDouble,
    "similarity.pairs_scored" -> modelVocab * cfg.train.validSize.toDouble)
}

/** `app.CorpusPipeline.curateToParquet` with the PII scrub, repetition
  * gate and boilerplate gate on. */
final class CorpusCurate(ctx: Ctx) extends Workload(ctx) {
  private val n = Workloads.CorpusDocs
  private val data = Workloads.corpus(ctx)
  private val docs = spark.read.parquet(s"${data.dir}/documents.parquet")
    .select("doc_id", "text", "lang", "source")
  private val out = s"${ctx.runDir}/chunks"
  private val cfg = CorpusPipeline.Config(
    keepLangs = Workloads.KeepLangs, minQuality = Workloads.MinQuality,
    scrubPii = true, maxDupNgramRatio = Some(0.1),
    maxBoilerRatio = Some(0.5), boilerMaxDf = n / 20)
  // (copy, original) pairs
  private val planted = ctx.gen.plantedExactDups(Workloads.CorpusFirstId, n, n)
  require(planted.nonEmpty, "the corpus holds no planted exact duplicates")
  private val funnelRepeats = new Repeats[Seq[(String, Long)]]("funnel")
  private val chunkSum = new Repeats[(Long, Long)]("chunk checksum")
  private var funnel = Seq.empty[(String, Long)]

  def inputRows: Long = n
  def inputSizes: Seq[Metric] = Seq(
    Metric("input.docs", n, "count"),
    Metric("input.planted_exact_dups", planted.size, "count"),
    Metric("input.mb", data.tables.values.map(_._2).sum / 1048576.0, "MB"))

  def iterate(i: Int): Unit = {
    funnel = span("CorpusPipeline.curateToParquet", "corpus") {
      CorpusPipeline.curateToParquet(docs, out, cfg).funnel
    }
  }

  def check(i: Int): Unit = {
    funnelRepeats(funnel)
    val docStages = funnel.filterNot(_._1 == "chunks")
    docStages.zip(docStages.drop(1)).foreach { case ((a, na), (b, nb)) =>
      require(nb <= na, s"funnel grows from $a=$na to $b=$nb") }
    val sink = spark.read.parquet(out)
      .select("doc_id", "chunk_idx", "n_tokens", "chunk", "source")
    // one pass over the sink: the chunk checksum and which planted ids
    // reached it
    val ids = planted.flatMap { case (c, o) => Seq(c, o) }
    val r = sink.agg(checksumCols(sink).head, checksumCols(sink).tail :+
      collect_set(when(col("doc_id").isin(ids: _*), col("doc_id"))): _*).head()
    chunkSum((r.getLong(0), r.getLong(1)))
    // a copy has its original's text and a larger id, so exact dedup
    // keeps the original whenever the gates keep either
    val kept = r.getSeq[Long](2).toSet
    val copies = planted.map(_._1).filter(kept)
    require(copies.isEmpty, s"planted exact duplicates ${copies.mkString(", ")} survived")
    require(planted.exists(p => kept(p._2)),
      s"none of the ${planted.size} planted originals reached the sink, so exact dedup went untested")
  }

  /** Text's gate kernels (PII mask, normalize, language id, quality
    * score, repetition ratio, boilerplate stats, chunking) over the
    * corpus; inside the funnel they run in jobs of the Barrier, Dedup
    * and CorpusPipeline calls that force them. */
  override def layerProbes(): Unit = span("Text kernels", "text") {
    val normed = docs.select(col("doc_id"),
      Text.normalize(Text.piiMasked(col("text"))).as("text"))
    force(normed.select(Text.langIdTextColumn(col("text")),
      Text.qualityScoreColumn(col("text")),
      Text.dupNgramRatioColumn(Text.tokens(col("text")), cfg.repetitionN)))
    force(Text.boilerplateStats(normed, "text", cfg.boilerN, cfg.boilerMaxDf))
    force(Text.chunk(normed, "text", cfg.chunkTokens))
  }

  override def written: (Long, Long) = Scratch.filesAndBytes(new File(out))

  override def quality(): Seq[Metric] = funnel.map { case (s, k) =>
    Metric(s"funnel.$s", k, "count") }

  override def layerExtras(): Seq[(String, Double)] = {
    val m = funnel.toMap
    val preDedup = funnel.takeWhile(_._1 != "exact_dedup").last._2.toDouble
    Seq("dedup.removed_ratio" -> (preDedup - m("near_dedup")) / preDedup,
      "corpus.survivor_ratio" -> m("near_dedup").toDouble / m("input"))
  }
}

/** Exact `Similarity.cosineTopK`, `Ann.annTopK`, and `IvfIndex.build`
  * + `search`, k = 10, over seeded 64-dim vectors. */
final class NeighborSearch(ctx: Ctx) extends Workload(ctx) {
  val N = 5000L
  val Probes = 50L
  val K = 10
  val Planes = 4
  val Cells = 16
  val NProbe = 4
  private val data = ctx.gen.vectors(N)
  private val corpus = spark.read.parquet(s"${data.dir}/embeddings.parquet")
    .select("vec_id", "embedding")
  private val probes = corpus.filter(col("vec_id") < Probes)
  private val vectors: Map[Long, Array[Float]] = corpus.collect()
    .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
  private val exactRepeats = new Repeats[Map[Long, Seq[Long]]]("exact top-k")
  private var exact, ann, ivf = Map.empty[Long, Seq[Long]]
  private var index: IvfIndex.Index = _

  def inputRows: Long = N
  def inputSizes: Seq[Metric] = Seq(
    Metric("input.vectors", N, "count"), Metric("input.probes", Probes, "count"),
    Metric("input.pairs", (N - 1) * Probes, "count"),
    Metric("input.mb", data.tables.values.map(_._2).sum / 1048576.0, "MB"))

  private def topK(df: DataFrame): Map[Long, Seq[Long]] =
    df.select("probe_id", "vec_id", "rnk").collect()
      .groupBy(_.getLong(0))
      .map { case (p, rs) => p -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }

  def iterate(i: Int): Unit = {
    exact = span("Similarity.cosineTopK", "similarity") {
      topK(Similarity.cosineTopK(corpus, probes, K)) }
    ann = span("Ann.annTopK", "ann") {
      topK(Ann.annTopK(corpus, probes, "vec_id", "embedding", Planes, K)) }
    index = span("IvfIndex.build", "ivf") {
      IvfIndex.build(corpus, "vec_id", "embedding", Cells, ctx.seed) }
    ivf = span("IvfIndex.search", "ivf") {
      topK(IvfIndex.search(index, probes, "vec_id", "embedding", NProbe, K)) }
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var ab, aa, bb = 0.0
    var j = 0
    while (j < a.length) {
      ab += a(j).toDouble * b(j); aa += a(j).toDouble * a(j)
      bb += b(j).toDouble * b(j); j += 1
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  def check(i: Int): Unit = {
    require(exact.size == Probes, s"exact top-k covers ${exact.size} of $Probes probes")
    exactRepeats(exact)
    // brute-force scan for sampled probes; ids may differ only inside a
    // cosine tie at the k-th place
    val rnd = new java.util.Random(ctx.seed + i)
    (0 until 5).map(_ => rnd.nextInt(Probes.toInt).toLong).foreach { p =>
      val pv = vectors(p)
      val scored = vectors.iterator.filter(_._1 != p)
        .map { case (id, v) => (id, cos(pv, v)) }.toArray
        .sortBy { case (id, c) => (-c, id) }
      val got = exact(p)
      require(got.size == K, s"probe $p: ${got.size} neighbours")
      val kth = scored(K - 1)._2
      val byId = scored.toMap
      val want = scored.take(K).map(_._1).toSet
      got.foreach { id =>
        require(want(id) || byId.get(id).exists(_ >= kth - 1e-8),
          s"probe $p: neighbour $id is not in the brute-force top-$K")
      }
    }
  }

  private def recall(approx: Map[Long, Seq[Long]]): Double = {
    val hits = exact.iterator.map { case (p, ids) =>
      ids.toSet.intersect(approx.getOrElse(p, Seq.empty).toSet).size }.sum
    hits.toDouble / exact.values.map(_.size).sum
  }

  override def quality(): Seq[Metric] = Seq(
    Metric("ann_recall_at_10", recall(ann), "ratio"),
    Metric("ivf_recall_at_10", recall(ivf), "ratio"))

  /** Candidates each approximate path scores, counted by running it
    * with an unbounded k. */
  override def layerExtras(): Seq[(String, Double)] = {
    val all = Int.MaxValue
    val grid = (N - 1).toDouble * Probes
    val annCands = Ann.annTopK(corpus, probes, "vec_id", "embedding", Planes, all).count()
    val ivfCands = IvfIndex.search(index, probes, "vec_id", "embedding", NProbe, all).count()
    Seq("similarity.pairs_scored" -> grid,
      "ann.candidate_ratio" -> annCands / grid,
      "ivf.candidate_ratio" -> ivfCands / grid)
  }
}

/** `streaming.StreamOps.curateStream` over staged document files,
  * replayed one file per trigger, with the exact-hash index gate. */
final class StreamIngest(ctx: Ctx) extends Workload(ctx) {
  private val data = Workloads.corpus(ctx)
  private val staged = s"${data.dir}/documents.parquet"
  private val schema = spark.read.parquet(staged).schema
  // the stored content-hash index: md5 of the curated text of the slice
  // of the corpus below the stream's ids
  private val hashData = ctx.gen.cached(
      s"stream-index-n${Workloads.CorpusFirstId}-of${Workloads.CorpusDocs}") { dir =>
    val idx = ctx.gen.documentFrame(0L, Workloads.CorpusFirstId,
      Workloads.CorpusDocs, Gen.Partitions)
    StreamOps.curateStream(idx, Workloads.KeepLangs, 0.0, scrubPii = true)
      .select(md5(col("text").cast("binary")).as("content_hash")).distinct()
      .write.parquet(s"$dir/hashes.parquet")
  }
  private val hashes = spark.read.parquet(s"${hashData.dir}/hashes.parquet")
  private def curate(docs: DataFrame): DataFrame =
    StreamOps.curateStream(docs, Workloads.KeepLangs, Workloads.MinQuality,
      scrubPii = true, existingHashes = Some(hashes))
  // the same gates over the staged files as one batch frame; computed
  // at the first check so the first replay still runs cold
  private lazy val batchSum = checksum(curate(spark.read.parquet(staged)))
  private val sinkRoot = s"${ctx.runDir}/stream"
  private var sink = ""
  private var triggers = Seq.empty[Double]
  private val triggerSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]

  def inputRows: Long = Workloads.CorpusDocs
  def inputSizes: Seq[Metric] = Seq(
    Metric("input.stream_files", Workloads.StreamFiles, "count"),
    Metric("input.index_docs", Workloads.CorpusFirstId, "count"),
    Metric("input.index_hashes", hashData.rows("hashes.parquet"), "count"))

  def iterate(i: Int): Unit = {
    Scratch.delete(new File(sinkRoot))
    sink = s"$sinkRoot/out"
    val q = span("StreamOps.curateStream", "stream") {
      val sdf = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
      curate(sdf).writeStream.format("parquet")
        .option("checkpointLocation", s"$sinkRoot/checkpoint")
        .outputMode("append").start(sink)
    }
    try span("processAllAvailable", "stream") { q.processAllAvailable() }
    finally q.stop()
    triggers = q.recentProgress.filter(_.numInputRows > 0).toSeq
      .map(_.durationMs.get("triggerExecution").longValue / 1000.0)
  }

  def check(i: Int): Unit = {
    require(triggers.size == Workloads.StreamFiles,
      s"${triggers.size} triggers, expected ${Workloads.StreamFiles}")
    val got = checksum(spark.read.parquet(sink))
    require(got == batchSum, s"sink checksum $got, batch curateStream $batchSum")
    triggerSeconds ++= triggers
  }

  /** Per-trigger latency over every trigger of the run (the first,
    * cold replay included): the median, and the highest whole
    * percentile with at least 10 triggers beyond it. */
  override def quality(): Seq[Metric] = {
    val ts = triggerSeconds.toSeq
    Seq(Metric("trigger_s.p50", Stats.percentile(ts, 50), "s")) ++
      Stats.tailPercentile(ts.size).toSeq.flatMap(p => Seq(
        Metric("trigger_s.tail", Stats.percentile(ts, p), "s"),
        Metric("trigger_s.tail_percentile", p, "pct"))) :+
      Metric("trigger_s.samples", ts.size, "count")
  }

  override def written: (Long, Long) = Scratch.filesAndBytes(new File(sink))
}
