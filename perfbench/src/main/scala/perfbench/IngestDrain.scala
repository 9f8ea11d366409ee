package perfbench

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftCaches
import graft.functions.{Dedup, Multimodal, Similarity}
import graft.streaming.IngestServing

/** `ingest_drain`: the daily write path. Setup builds the four standing
  * structures (dedup catalog at `autoBanding`, auto-geometry IVF-PQ,
  * embedding catalog, phash catalog) over the standing split and starts
  * `IngestServing.startIngestStream` with the program's defaults. Each
  * operation lands one batch file, waits for its commit, then serves one
  * query batch at the just-rolled ANN operating point. */
final class IngestDrain extends Main.Workload {
  import Main._

  // The batch size is the program's recorded ingest probe (tools/IngestProbe,
  // BENCH_INGEST_x30.json) at the committed sf0.1 scale: the probe ingests
  // the 2,000 documents that carry an embedding, keeps four fifths
  // standing and streams the last fifth in 16 batches of 25 documents.
  // The standing state is smaller than the probe's 1,600 because a
  // copy-mode batch costs time in proportion to it (about 14 s at 1,000
  // standing documents, 22-32 s at 2,000, on 4 cores) and a traced run must
  // fit two batches. 990 sits just under the embedding catalog's
  // 1,024-vector plane boundary (Dedup.autoPlanes): the warm-up batch
  // stays below it (1,015) and the first timed batch crosses it (1,040),
  // so the plane policy cuts a generation in every run. The probe plants
  // no duplicates; a fifth of each batch is planted near-duplicates here.
  val Standing = 990
  val BatchSize = 25
  val Dups = 5            // planted near-duplicates per batch
  val Batches = 8          // pre-generated; the loop stops when they run out
  val QueryBatches = 16
  val QuerySize = 16
  val K = 5
  val Threshold = 0.5
  val DedupFloor = 0.95
  val RecallFloor = 0.55

  final case class Standing4(dedup: Dedup.DedupIndex, ann: (Similarity.IvfPqIndex, Int),
      emb: Dedup.EmbIndex, phash: Multimodal.PhashIndex, spans: Map[String, Double])

  final case class BatchResult(seconds: Double, readMs: Double,
      progress: Map[String, Long], fires: Int)

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val g = Gen.ingest(spark, ctx.seed, Standing, Batches + 1, BatchSize, Dups,
      QueryBatches, QuerySize)
    val batchDir = ctx.work.resolve("batches"); Files.createDirectories(batchDir)
    val pairsDir = ctx.work.resolve("pairs")

    // setup: build the four standing structures once (a build costs about
    // 17 seconds, so repeating it does not fit the run's time budget),
    // start the stream and drain one warm-up batch
    val (st, buildS) = timed(build(spark, g.standing))
    val dedupRef = new AtomicReference(st.dedup)
    val annRef = new AtomicReference(st.ann)
    val embRef = new AtomicReference(st.emb)
    val phRef = new AtomicReference(st.phash)
    val landed = ArrayBuffer[Int]()
    stage(ctx, g, 0)
    val (stream, streamS) = timed {
      val q = IngestServing.startIngestStream(spark, batchDir.toString, dedupRef, annRef,
        Threshold, pairsDir.toString, ingestSchema = Gen.ingestSchema,
        checkpointLocation = Some(ctx.work.resolve("checkpoint").toString),
        embRef = Some(embRef), phashRef = Some(phRef))
      land(ctx, 0, batchDir); landed += 0
      q.processAllAvailable()
      serve(g.queries(0), annRef.get())
      q
    }
    val setupS = ctx.sessionS + buildS + streamS
    val storageSetup = blockMb(spark)

    try {
      val buildsBefore = GraftCaches.artifactBuildEvents()
      val (plain, traced, n) = closedLoop(ctx, (i, tracing) => {
        val b = i + 1
        if (b >= g.batches.length) None
        else {
          out.attempted += 1
          val r = batch(ctx, stream, b, batchDir, g, refs = (dedupRef, annRef, embRef, phRef),
            tracing)
          landed += b
          if (out.check(stream.exception.isEmpty, s"ingest stream died at batch $b: ${stream.exception}")) Some(r)
          else { out.failed += 1; None }
        }
      })
      val rs = plain ++ traced
      val storageEnd = blockMb(spark)
      val storage = storageEnd + Gen.dirBytes(pairsDir) / 1e6

      // output checks: planted duplicates dropped; the served ANN corpus
      // holds exactly the standing rows plus every survivor
      val served = annRef.get()._1.corpus.select(col("c_id")).collect().map(_.getLong(0)).toSet
      val committed = landed.flatMap(b => g.batches(b)._1.map(_.getLong(0))).toSet
      val planted = landed.flatMap(b => g.batches(b)._2).toSet
      val dropped = committed -- served
      val dedupRecall = (planted intersect dropped).size.toDouble / math.max(planted.size, 1)
      out.check(dedupRecall >= DedupFloor, f"dedup recall $dedupRecall%.4f below floor $DedupFloor")
      out.check(dropped.subsetOf(planted),
        s"${(dropped -- planted).size} fresh docs were dropped as duplicates")
      out.check(served.size == Standing + committed.size - dropped.size &&
          (0L until Standing.toLong).forall(served.contains),
        s"served ANN rows ${served.size} != standing $Standing + survivors ${committed.size - dropped.size}")
      // recall@k of the final served operating point over every query
      // batch, against exact cosine top-k over the served corpus
      val allQueries = g.queries.reduce(_.union(_))
      val recall = Serving.recall(serve(allQueries, annRef.get()), allQueries,
        annRef.get()._1.corpus.select(col("c_id").as("vec_id"), col("cv").as("embedding")), K)
      out.check(recall >= RecallFloor, f"serve recall@$K $recall%.4f below floor $RecallFloor")

      val lat = plain.map(_.seconds * 1000)
      out.notes += "batch ms: " + rs.map(r => f"${r.seconds * 1000}%.0f").mkString(" ") +
        "; policy cuts per batch: " + rs.map(_.fires).mkString(" ")
      out.notes += f"batches=$n ok=${rs.length} samples=${lat.length}, " +
        f"$BatchSize docs per batch ($Dups planted near-duplicates), dedup recall $dedupRecall%.4f, " +
        f"recall@$K $recall%.4f over ${QueryBatches * QuerySize} queries"
      out.e2e ++= Seq(
        M("setup_s", setupS, "s"),
        M("p50_ms", median(lat), "ms"),
        M("read_p50_ms", median(plain.map(_.readMs)), "ms"),
        M("quality", math.min(dedupRecall, recall), "ratio"),
        M("storage_mb", storage, "MB"))
      if (ctx.trace) {
        val roots = Tracer.spans.filter(s => s.onDriver && s.name == "ingest.batch")
        val jobs = roots.map(Tracer.jobsIn)
        def perBatch(f: Tracer.Jobs.Job => Double) = mean(jobs.map(_.map(f).sum))
        // wall time during which a job of module `m` ran (jobs of one
        // batch may overlap, so their durations are not summed)
        def moduleS(m: String) = mean(roots.map(r => Tracer.covered(
          Tracer.jobsIn(r).filter(Tracer.moduleOf(_).contains(m)).map(j => (j.startNs, j.endNs)),
          r.startNs, r.endNs) / 1e9))
        def progress(k: String) = mean(traced.map(_.progress.getOrElse(k, 0L).toDouble))
        val pairs = spark.read.parquet(pairsDir.toString).count()
        out.layers ++= st.spans.map { case (k, v) => M(k, v, "s") } ++ Seq(
          M("sources.scan_mb", perBatch(_.inputBytes.get / 1e6), "MB"),
          M("functions.dedup.job_s", moduleS("functions.dedup"), "s"),
          M("functions.similarity.job_s", moduleS("functions.similarity"), "s"),
          M("functions.multimodal.job_s", moduleS("functions.multimodal"), "s"),
          M("caches.job_s", moduleS("caches"), "s"),
          M("streaming.job_s", moduleS("streaming"), "s"),
          M("functions.jobs_per_batch", perBatch(_ => 1.0), "count"),
          M("functions.stages_per_batch", perBatch(_.stages.get.toDouble), "count"),
          M("functions.tasks_per_batch", perBatch(_.tasks.get.toDouble), "count"),
          M("functions.shuffle_mb_per_batch", perBatch(_.shuffleBytes.get / 1e6), "MB"),
          M("functions.spill_mb_per_batch", perBatch(_.spillBytes.get / 1e6), "MB"),
          M("functions.dedup.pairs_per_batch", pairs.toDouble / math.max(landed.length, 1), "count"),
          M("functions.dedup.dropped_per_batch", dropped.size.toDouble / math.max(landed.length, 1), "count"),
          M("streaming.trigger_ms", progress("triggerExecution"), "ms"),
          M("streaming.planning_ms", progress("queryPlanning"), "ms"),
          M("streaming.commit_ms", progress("commitOffsets"), "ms"),
          M("streaming.policy_fires", rs.map(_.fires).sum.toDouble, "count"),
          M("caches.storage_mb_setup", storageSetup, "MB"),
          M("caches.storage_growth_mb_per_batch", (storageEnd - storageSetup) / math.max(n, 1), "MB"),
          M("caches.artifact_builds_in_serve",
            (GraftCaches.artifactBuildEvents() - buildsBefore).toDouble, "count"))
        val reads = Tracer.spans.filter(s => s.onDriver && s.name == "ingest.read")
        Serving.layers(reads, out)
        Trace.common(roots, plain.map(_.seconds), traced.map(_.seconds), out, requests = reads)
      }
    } finally {
      stream.stop()
      GraftCaches.unpersistAll(blocking = true)
      GraftCaches.releaseArtifacts(blocking = true)
    }
  }

  /** Write batch `b` as one parquet file under staging/b<k>/, outside any
    * timed region. */
  def stage(ctx: Ctx, g: Gen.Ingest, b: Int): Unit =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(g.batches(b)._1, 1),
      Gen.ingestSchema).write.parquet(ctx.work.resolve("staging").resolve(s"b$b").toString)

  /** Move batch `b`'s staged file into the stream's input directory in
    * one rename, so the stream never sees a partial file. */
  def land(ctx: Ctx, b: Int, batchDir: java.nio.file.Path): Unit = {
    val src = Files.list(ctx.work.resolve("staging").resolve(s"b$b")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Gen.moveAtomic(src, batchDir.resolve(f"b$b%05d.parquet"))
  }

  def serve(queries: DataFrame, op: (Similarity.IvfPqIndex, Int)): Array[org.apache.spark.sql.Row] =
    Similarity.ivfPqTopKIndexed(queries, op._1, K, op._2).select(col("q_id"), col("c_id")).collect()

  type Refs = (AtomicReference[Dedup.DedupIndex], AtomicReference[(Similarity.IvfPqIndex, Int)],
    AtomicReference[Dedup.EmbIndex], AtomicReference[Multimodal.PhashIndex])

  /** Land batch `b`, wait for its commit, then serve one query batch at
    * the rolled operating point. */
  def batch(ctx: Ctx, q: org.apache.spark.sql.streaming.StreamingQuery, b: Int,
      batchDir: java.nio.file.Path, g: Gen.Ingest, refs: Refs,
      tracing: Boolean): BatchResult = {
    stage(ctx, g, b)
    val before = shape(refs)
    val t0 = System.nanoTime()
    Tracer.span("ingest.batch", s"batch$b") {
      land(ctx, b, batchDir)
      Tracer.span("streaming.commit_wait", waits = true)(q.processAllAvailable())
    }
    val seconds = secondsSince(t0)
    if (tracing) { Tracer.drain(ctx.spark); Tracer.Queries.take() }
    val queries = g.queries(b % g.queries.length)
    val op = refs._2.get()
    val (rows, readS) = timed {
      Tracer.span("ingest.read", s"read$b") {
        Tracer.span("functions.similarity.serve")(serve(queries, op))
      }
    }
    if (tracing) Tracer.drain(ctx.spark)
    val queryStats = if (tracing) Tracer.Queries.take() else Nil
    Serving.note(s"read$b", queryStats, QuerySize, rows.length)
    val progress = if (!tracing) Map.empty[String, Long] else
      q.recentProgress.filter(_.numInputRows > 0).lastOption
        .map(_.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap).getOrElse(Map.empty)
    val after = shape(refs)
    val fires = before.zip(after).count { case ((g0, w0), (g1, w1)) => g0 != g1 || w1 < w0 }
    BatchResult(seconds, readS * 1000, progress, fires)
  }

  /** Geometry and scheduling width of each served structure; a policy cut
    * shows as a geometry change or a narrower frame. */
  private def shape(refs: Refs): Seq[(String, Int)] = {
    val d = refs._1.get(); val (a, _) = refs._2.get(); val e = refs._3.get(); val p = refs._4.get()
    Seq(s"${d.numHashes}/${d.nBands}" -> d.bands.rdd.getNumPartitions,
      s"${a.listSizes.map(_.size)}" -> a.corpus.rdd.getNumPartitions,
      s"${e.nPlanes}" -> e.vecs.rdd.getNumPartitions,
      "" -> p.hashes.rdd.getNumPartitions)
  }

  def build(spark: SparkSession, standing: DataFrame): Standing4 = {
    val docs = standing.select(col("doc_id"), col("text"))
    val vecs = standing.select(col("doc_id").as("vec_id"), col("embedding"))
    val (nh, nb) = Dedup.autoBanding(Standing, Threshold)
    val (dedup, dS) = timed(Dedup.buildDedupIndex(docs, col("doc_id"), col("text"),
      numHashes = nh, nBands = nb, shingleK = 3))
    val (ann, aS) = timed(Similarity.ivfPqAutoIndexFor(vecs))
    val (emb, eS) = timed(Dedup.buildEmbIndex(vecs, col("vec_id"), col("embedding"),
      Dedup.autoPlanes(Standing)))
    val (ph, pS) = timed(Multimodal.buildPhashIndex(
      standing.select(col("doc_id").as("media_id"), col("payload"))))
    Standing4(dedup, ann, emb, ph, Map(
      "functions.dedup.build_s" -> dS, "functions.similarity.build_s" -> aS,
      "functions.emb.build_s" -> eS, "functions.multimodal.phash_build_s" -> pS))
  }
}
