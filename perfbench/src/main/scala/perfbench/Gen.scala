package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.kernels.Png
import graft.sources.Dicom

/** Seeded input generator. Every input a workload sees is a function of
  * the run's seed, built with the program's public encoders
  * (`Dicom.encode`, `Png.encodeGray`); nothing is read from outside the
  * benchmark and nothing is downloaded. */
object Gen {
  def rng(seed: Long, salt: Long*): java.util.SplittableRandom =
    new java.util.SplittableRandom(salt.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, s) =>
      (h ^ s) * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL))

  // ---------------------------------------------------------------- slices
  final case class Lesion(cy: Int, cx: Int, r: Int) {
    def mask(h: Int, w: Int): Array[Int] = Array.tabulate(h * w) { i =>
      val dy = i / w - cy; val dx = i % w - cx
      if (dy * dy + dx * dx <= r * r) 1 else 0
    }
  }

  /** One directory of DICOM slices: `good` decodable 16-bit slices of
    * `size`×`size` with a planted bright lesion each, plus `corrupt`
    * truncated files. The decodable files mix explicit and implicit VR,
    * files with and without the preamble, and files without window tags. */
  final case class SliceDir(dir: String, good: Int, corrupt: Int,
      lesions: Map[String, Lesion])

  def slices(dir: Path, seed: Long, batch: Int, good: Int, corrupt: Int,
      size: Int, studies: Int): SliceDir = {
    Files.createDirectories(dir)
    val lesions = (0 until good).map { i =>
      val r = rng(seed, 1, batch, i)
      val name = f"slice_b$batch%03d_$i%03d.dcm"
      val lesion = Lesion(r.nextInt(48, size - 48), r.nextInt(48, size - 48), r.nextInt(9, 17))
      val base = 900 + r.nextInt(200)
      val fy = 30.0 + r.nextInt(30); val fx = 30.0 + r.nextInt(30)
      val mask = lesion.mask(size, size)
      val px = Array.tabulate(size * size) { p =>
        val y = p / size; val x = p % size
        base + 120 * math.sin(y / fy) * math.cos(x / fx) + 6 * r.nextGaussian() +
          (if (mask(p) == 1) 700 else 0)
      }
      val tags = Map(
        "StudyInstanceUID" -> s"1.2.826.$seed.${i % studies}",
        "SeriesInstanceUID" -> s"1.2.826.$seed.${i % studies}.$batch",
        "SOPInstanceUID" -> s"1.2.826.$seed.${i % studies}.$batch.$i",
        "Modality" -> (if (i % 3 == 0) "CT" else "MR"),
        "PatientID" -> s"P$seed-${i % studies}") ++
        (if (i % 5 == 4) Map.empty
         else Map("WindowCenter" -> s"${base + 350}", "WindowWidth" -> "1400"))
      val bytes = Dicom.encode(tags, size, size, px,
        withPreamble = i % 2 == 0, implicitDataset = i % 3 == 1)
      Files.write(dir.resolve(name), bytes)
      name -> lesion
    }.toMap
    (0 until corrupt).foreach { i =>
      // a slice cut off inside its pixel data: the header parses, the
      // pixel element runs past the end of the file
      val r = rng(seed, 2, batch, i)
      val full = Dicom.encode(Map("Modality" -> "MR"), size, size,
        Array.fill(size * size)(r.nextInt(4096).toDouble))
      Files.write(dir.resolve(f"slice_b$batch%03d_x$i%02d.dcm"),
        java.util.Arrays.copyOf(full, full.length / 3))
    }
    SliceDir(dir.toString, good, corrupt, lesions)
  }

  // ------------------------------------------------------------ embeddings
  val Dim = 64
  /** Per-component noise around a cluster centre. */
  val Spread = 0.15

  /** Cluster centres shared by a corpus and its queries. */
  def centres(seed: Long, n: Int): Array[Array[Double]] = {
    val r = rng(seed, 3)
    Array.fill(n)(unit(Array.fill(Dim)(r.nextGaussian())))
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
  }

  def near(c: Array[Double], r: java.util.SplittableRandom, sigma: Double): Array[Float] =
    unit(c.map(_ + sigma * r.nextGaussian())).map(_.toFloat)

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  /** The serving corpus: `base` clustered vectors replicated `copies`
    * times; copies after the first perturb each component by a uniform
    * ±0.1 (the scaled-corpus scheme of the program's ScaleGen tool), so
    * no copy is an exact clone. Ids of copy k are offset by k·10⁷. */
  def annCorpus(spark: SparkSession, seed: Long, base: Int, copies: Int): DataFrame = {
    val cs = centres(seed, 64)
    val r = rng(seed, 4)
    val b = Array.tabulate(base)(i => near(cs(i % cs.length), r, Spread))
    val rows = for (k <- 0 until copies; i <- 0 until base) yield {
      val v = if (k == 0) b(i) else b(i).map(x => (x + (r.nextDouble() * 0.2 - 0.1)).toFloat)
      Row(k * 10000000L + i, v.toSeq)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), vecSchema)
  }

  /** Fixed-size query batches drawn from the corpus's clusters. */
  def queries(spark: SparkSession, seed: Long, batches: Int, size: Int): IndexedSeq[DataFrame] = {
    val cs = centres(seed, 64)
    val r = rng(seed, 5)
    (0 until batches).map { b =>
      val rows = (0 until size).map { i =>
        Row(2000000000L + b * size + i, near(cs(r.nextInt(cs.length)), r, Spread).toSeq)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), vecSchema).cache()
    }
  }

  // ---------------------------------------------------------------- ingest
  val ingestSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType)), StructField("payload", BinaryType)))

  final case class Doc(id: Long, words: Array[Int], emb: Array[Float], img: Array[Int])
  private val Vocab = 2000
  private val ImgSide = 32

  private def text(d: Doc): String = d.words.map(w => "w" + Integer.toString(w, 36)).mkString(" ")
  private def row(d: Doc): Row =
    Row(d.id, text(d), d.emb.toSeq, Png.encodeGray(d.img, ImgSide, ImgSide).get)

  private def freshDoc(id: Long, r: java.util.SplittableRandom, cs: Array[Array[Double]]): Doc = {
    val blocks = Array.fill(16)(r.nextInt(256))
    Doc(id, Array.fill(36 + r.nextInt(12))(r.nextInt(Vocab)),
      near(cs(r.nextInt(cs.length)), r, Spread),
      Array.tabulate(ImgSide * ImgSide) { p =>
        blocks((p / ImgSide / 8) * 4 + (p % ImgSide) / 8)
      })
  }

  /** A near-duplicate of `d`: one word replaced, the embedding nudged and
    * two pixels of the image changed. */
  private def nearDup(id: Long, d: Doc, r: java.util.SplittableRandom): Doc = {
    val w = d.words.clone(); w(r.nextInt(w.length)) = r.nextInt(Vocab)
    val img = d.img.clone()
    (0 until 2).foreach(_ => img(r.nextInt(img.length)) ^= 3)
    Doc(id, w, d.emb.map(x => (x + 0.01 * r.nextGaussian()).toFloat), img)
  }

  /** Standing corpus plus `batches` ingest batches of `batchSize` docs.
    * The first `dupsPerBatch` docs of each batch are planted near-
    * duplicates (text, embedding and image) of standing docs; the rest
    * are fresh. Returns the standing frame, and per batch its rows and the
    * planted ids. */
  final case class Ingest(standing: DataFrame,
      batches: IndexedSeq[(Seq[Row], Set[Long])], queries: IndexedSeq[DataFrame])

  def ingest(spark: SparkSession, seed: Long, standing: Int, batches: Int,
      batchSize: Int, dupsPerBatch: Int, queryBatches: Int, querySize: Int): Ingest = {
    val cs = centres(seed, 64)
    val r = rng(seed, 6)
    val docs = (0 until standing).map(i => freshDoc(i.toLong, r, cs))
    val bs = (0 until batches).map { b =>
      val ids = (0 until batchSize).map(j => 1000000L + b.toLong * batchSize + j)
      val rows = ids.zipWithIndex.map { case (id, j) =>
        if (j < dupsPerBatch) nearDup(id, docs(r.nextInt(standing)), r) else freshDoc(id, r, cs)
      }
      (rows.map(row), ids.take(dupsPerBatch).toSet)
    }
    Ingest(spark.createDataFrame(spark.sparkContext.parallelize(docs.map(row), 8),
        ingestSchema).cache(),
      bs, queries(spark, seed, queryBatches, querySize))
  }

  // ----------------------------------------------------------------- files
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def moveAtomic(from: Path, to: Path): Unit =
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
}
