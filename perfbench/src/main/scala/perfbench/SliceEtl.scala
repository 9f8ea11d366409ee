package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.kernels.{Contours, ImageKernels, Png, RegionGrowing, Ssim}
import graft.model.SliceRecord
import graft.operators.{MaskAlgebra, SlicePipeline}
import graft.sources.Dicom

/** `slice_etl`: the paper's batch job at clinical slice size. Each
  * operation takes one directory of DICOM slices through binaryFile scan →
  * decode → window/CLAHE/blur → slice-table parquet append → PNG sink →
  * region growing, area/perimeter/circularity, Dice and BF score against
  * the planted lesion → the README top-k query over the slice table. */
final class SliceEtl extends Main.Workload {
  import Main._

  val Size = 256          // slice side, 16-bit pixels
  val Good = 12           // decodable slices per directory
  val Corrupt = 1         // truncated slices per directory
  val Ring = 4            // directories cycled by the loop
  val Standing = 48       // slices in the standing table built at setup
  val Studies = 8
  val Roi = 48            // side of the lesion-centred crop the BF score reads
  val DiceFloor = 0.95
  val SetupReps = 3

  final case class MaskRow(file: String, area: Long, perimeter: Double,
      dice: Double, bf: Double, circularity: Double)

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val in = ctx.work.resolve("slices")
    val ring = (0 until Ring).map(b =>
      Gen.slices(in.resolve(s"b$b"), ctx.seed, b, Good, Corrupt, Size, Studies))
    val standingDir = Gen.slices(in.resolve("standing"), ctx.seed, 99, Standing, 0, Size, Studies)
    val table = ctx.work.resolve("slice_table")
    val pngDir = ctx.work.resolve("png")
    Files.createDirectories(pngDir)

    // setup: the standing slice table (built SetupReps times, median
    // taken), then one warm-up operation
    val builds = (0 until SetupReps).map { _ =>
      Gen.deleteTree(table)
      timed(SlicePipeline.appendFromDicomFiles(spark, standingDir.dir, table.toString))._2
    }
    val warmS = timed(op(ctx, ring(0), table, pngDir, tracing = false, unit = "warmup"))._2
    val setupS = ctx.sessionS + median(builds) + warmS

    val (plain, traced, n) = closedLoop(ctx, (i, tracing) => {
      val d = ring(i % Ring)
      val r = op(ctx, d, table, pngDir, tracing, s"op$i")
      out.attempted += 1
      val ok = out.check(r.maskRows.length == d.good,
          s"op $i: ${r.maskRows.length} mask rows for ${d.good} good slices") &&
        out.check(r.tableRows == Standing + d.good,
          s"op $i: slice table holds ${r.tableRows}, expected ${Standing + d.good}")
      if (!ok) { out.failed += 1; None } else Some(r)
    })
    val rs = plain ++ traced
    // what the job keeps: cached blocks plus the slice table (the PNG sink's
    // size depends on how many ring directories a run reached, so it is
    // left out)
    val storage = blockMb(spark) + Gen.dirBytes(table) / 1e6

    // output checks outside the timed loop
    val dice = mean(rs.flatMap(_.maskRows.map(_.dice)))
    out.check(dice >= DiceFloor, f"seg_dice $dice%.4f below floor $DiceFloor")
    val sample = ring((ctx.seed % Ring).toInt)
    checkTable(ctx, sample, out)

    val lat = plain.map(_.seconds * 1000)
    val masks = rs.flatMap(_.maskRows)
    out.notes += f"ops=$n ok=${rs.length} samples=${lat.length}, " +
      f"$Good slices of ${Size}x$Size per op; mean Dice $dice%.4f, " +
      f"BF ${mean(masks.map(_.bf))}%.4f, circularity ${mean(masks.map(_.circularity))}%.4f"
    out.e2e ++= Seq(
      M("setup_s", setupS, "s"),
      M("p50_ms", median(lat), "ms"),
      M("read_p50_ms", median(plain.map(_.analyticMs)), "ms"),
      M("quality", dice, "ratio"),
      M("storage_mb", storage, "MB"))
    if (ctx.trace) layers(plain, traced, out)
  }

  final case class OpResult(seconds: Double, analyticMs: Double, tableRows: Long,
      maskRows: Seq[MaskRow])

  /** One operation over one directory. Files this operation appended to
    * the slice table are removed afterwards, so every operation queries a
    * table of the same size. */
  def op(ctx: Ctx, d: Gen.SliceDir, table: Path, pngDir: Path, tracing: Boolean,
      unit: String): OpResult = {
    val spark = ctx.spark
    val before = listing(table)
    val t0 = System.nanoTime()
    val (rows, maskRows, analyticMs) = Tracer.span("slice_etl.op", unit) {
      Tracer.span("operators.slice_table") {
        if (tracing) tracedRecords(spark, d.dir).write.mode("append").parquet(table.toString)
        else SlicePipeline.appendFromDicomFiles(spark, d.dir, table.toString)
      }
      Tracer.span("operators.png_sink") {
        SlicePipeline.writePngBatch(spark.read.format("binaryFile").load(d.dir), pngDir.toString)
      }
      val masks = Tracer.span("operators.mask_metrics") { maskMetrics(spark, d, tracing) }
      val (top, aS) = timed {
        Tracer.span("operators.analytic") {
          SlicePipeline.avgIntensityByStudy(spark.read.parquet(table.toString)).collect()
        }
      }
      (top.map(_.getLong(2)).sum, masks, aS * 1000)
    }
    val seconds = secondsSince(t0)
    listing(table).diff(before).foreach(f => Files.deleteIfExists(table.resolve(f)))
    if (tracing) Tracer.drain(spark)
    OpResult(seconds, analyticMs, rows, maskRows)
  }

  private def listing(p: Path): Set[String] =
    if (!Files.exists(p)) Set.empty
    else { val s = Files.list(p); try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close() }

  /** The slice-table records through the same public kernels the program
    * fuses, timed per call: decode, window, CLAHE, blur and PNG encode
    * each record a span under the slice's own span. The record itself
    * comes from `SlicePipeline.processImage`, so the table is the one the
    * untraced run writes. */
  def tracedRecords(spark: SparkSession, dir: String): Dataset[SliceRecord] = {
    import spark.implicits._
    val (parent, unit) = Tracer.current
    val on = Tracer.enabled
    spark.read.format("binaryFile").load(dir)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (path, bytes) =>
          val name = path.split('/').last
          val sliceId = Tracer.newId(); val u = s"$unit/$name"
          def step[T](span: String)(f: => T): T = {
            val t = System.nanoTime(); val r = f
            Tracer.record(on, span, sliceId, u, t, System.nanoTime()); r
          }
          val t0 = System.nanoTime()
          val rec = step("sources.decode")(Dicom.decode(bytes)).flatMap { dec =>
            val img = SlicePipeline.DecodedImage(name, path, dec.rows, dec.cols, dec.pixels, dec.tags)
            def tag(k: String) = dec.tags.get(k)
              .flatMap(v => scala.util.Try(v.split("\\\\").head.trim.toDouble).toOption)
            val win = step("kernels.window") {
              ImageKernels.applyWindowing(dec.pixels, tag("WindowCenter"), tag("WindowWidth"))
            }
            val cl = step("kernels.clahe")(ImageKernels.clahe(win, dec.rows, dec.cols))
            val bl = step("kernels.blur") {
              ImageKernels.gaussianBlur(cl.map(_.toDouble), dec.rows, dec.cols, 0.5)
                .map(v => math.min(math.max(math.round(v).toInt, 0), 255))
            }
            step("kernels.png_encode")(Png.encodeGray(bl, dec.rows, dec.cols))
            step("operators.record")(SlicePipeline.processImage(img, "out/processed"))
          }
          Tracer.record(on, if (rec.isEmpty) "sources.dropped" else "slice", parent, u, t0,
            System.nanoTime(), sliceId)
          rec
        }
      }
  }

  /** Segmentation metrics per slice: region growing from the lesion seed
    * on the enhanced slice, area, perimeter, Dice against the planted
    * lesion, BF score on a lesion-centred crop; circularity through the
    * program's column expression. */
  def maskMetrics(spark: SparkSession, d: Gen.SliceDir, tracing: Boolean): Seq[MaskRow] = {
    import spark.implicits._
    val (parent, unit) = Tracer.current
    val on = tracing && Tracer.enabled
    val lesions = d.lesions
    val (size, roi) = (Size, Roi)
    val rows = spark.read.format("binaryFile").load(d.dir)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (path, bytes) =>
          val name = path.split('/').last
          val sliceId = Tracer.newId(); val u = s"$unit/$name"
          def step[T](span: String)(f: => T): T = {
            val t = System.nanoTime(); val r = f
            Tracer.record(on, span, sliceId, u, t, System.nanoTime()); r
          }
          val t0 = System.nanoTime()
          val out = for {
            lesion <- lesions.get(name)
            dec <- Dicom.decode(bytes)
          } yield {
            val img = SlicePipeline.DecodedImage(name, path, dec.rows, dec.cols, dec.pixels, dec.tags)
            val u8 = SlicePipeline.enhancedPixels(img)
            val (h, w) = (dec.rows, dec.cols)
            val mask = step("kernels.region_grow") {
              RegionGrowing.exact(u8, h, w, lesion.cy, lesion.cx, maxIterations = h * w)
            }
            val per = step("kernels.perimeter")(Contours.perimeter(mask, h, w))
            val gt = lesion.mask(h, w)
            val tp = mask.indices.count(i => mask(i) == 1 && gt(i) == 1)
            val area = mask.sum.toLong
            val dice = 2.0 * tp / (area + gt.sum)
            def crop(m: Array[Int]) = Array.tabulate(roi * roi) { i =>
              val y = math.min(math.max(lesion.cy - roi / 2, 0), size - roi) + i / roi
              val x = math.min(math.max(lesion.cx - roi / 2, 0), size - roi) + i % roi
              m(y * w + x) * 255
            }
            val bf = step("kernels.bf")(Ssim.bfScore(crop(mask), Some(crop(gt)), roi, roi))
            (name, area, per, dice, bf)
          }
          Tracer.record(on, "mask", parent, u, t0, System.nanoTime(), sliceId)
          out
        }
      }.toDF("file", "area", "perimeter", "dice", "bf")
      .withColumn("circularity", MaskAlgebra.circularity(col("area"), col("perimeter")))
      .collect()
    rows.toSeq.map(r => MaskRow(r.getString(0), r.getLong(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5)))
  }

  /** Slice-table output checks on the seeded sample directory: one fresh
    * append holds exactly the good files (drops equal the planted corrupt
    * files), each record equals `SlicePipeline.processImage` on the same
    * bytes, and the traced kernel path writes the identical table. */
  def checkTable(ctx: Ctx, d: Gen.SliceDir, out: Outcome): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = ctx.work.resolve("check_table")
    Gen.deleteTree(dir)
    SlicePipeline.appendFromDicomFiles(spark, d.dir, dir.toString)
    val table = spark.read.parquet(dir.toString).as[SliceRecord].collect().sortBy(_.file_name)
    out.check(table.length == d.good,
      s"check table holds ${table.length} records for ${d.good} good files")
    val files = Files.list(java.nio.file.Paths.get(d.dir)).iterator().asScala.toSeq.sortBy(_.toString)
    out.check(files.length - table.length == d.corrupt,
      s"${files.length - table.length} files dropped, ${d.corrupt} planted corrupt")
    val expected = files.flatMap { f =>
      val name = f.getFileName.toString
      Dicom.decode(Files.readAllBytes(f)).flatMap(dec => SlicePipeline.processImage(
        SlicePipeline.DecodedImage(name, "file:" + f.toString, dec.rows, dec.cols,
          dec.pixels, dec.tags), "out/processed"))
    }.sortBy(_.file_name)
    val sample = Gen.rng(ctx.seed, 7).ints(4, 0, math.max(expected.length, 1)).toArray.toSeq.distinct
    sample.filter(_ < expected.length).foreach { i =>
      val e = expected(i)
      val got = table.find(_.file_name == e.file_name)
      out.check(got.exists(g => g.copy(gcs_uri_raw = "") == e.copy(gcs_uri_raw = "")),
        s"record for ${e.file_name} differs from processImage: $got vs $e")
    }
    val untracedSum = checksum(table.toSeq)
    val tracedSum = checksum(tracedRecords(spark, d.dir).collect().toSeq.sortBy(_.file_name))
    out.check(untracedSum == tracedSum,
      s"traced slice-table checksum $tracedSum != untraced $untracedSum")
    out.notes += s"slice-table checksum $untracedSum (traced path $tracedSum)"
  }

  private def checksum(rs: Seq[SliceRecord]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rs.foreach(r => md.update(r.copy(gcs_uri_raw = r.gcs_uri_raw.split('/').last).toString.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  // ------------------------------------------------------------ per-layer
  def layers(plain: Seq[OpResult], traced: Seq[OpResult], out: Outcome): Unit = {
    val spans = Tracer.spans
    val ops = spans.filter(s => s.onDriver && s.name == "slice_etl.op")
    val units = ops.map(_.unit).toSet
    val mine = spans.filter(s => units.contains(s.unit.takeWhile(_ != '/')))
    def perSlice(name: String) = mean(mine.filter(_.name == name).map(_.ms))
    def perOp(name: String) = mean(mine.filter(s => s.onDriver && s.name == name).map(_.ms))
    val slicesPerOp = mine.count(s => s.name == "slice").toDouble / math.max(ops.length, 1)
    val dropped = mine.count(_.name == "sources.dropped").toDouble / math.max(ops.length, 1)
    val jobs = ops.flatMap(Tracer.jobsIn)
    out.layers ++= Seq(
      M("sources.decode_ms", perSlice("sources.decode"), "ms"),
      M("sources.scan_mb", jobs.map(_.inputBytes.get).sum / 1e6 / math.max(ops.length, 1), "MB"),
      M("sources.dropped", dropped, "count"),
      M("kernels.window_ms", perSlice("kernels.window"), "ms"),
      M("kernels.clahe_ms", perSlice("kernels.clahe"), "ms"),
      M("kernels.blur_ms", perSlice("kernels.blur"), "ms"),
      M("kernels.png_encode_ms", perSlice("kernels.png_encode"), "ms"),
      M("kernels.region_grow_ms", perSlice("kernels.region_grow"), "ms"),
      M("kernels.perimeter_ms", perSlice("kernels.perimeter"), "ms"),
      M("kernels.bf_ms", perSlice("kernels.bf"), "ms"),
      M("operators.slice_table_ms", perOp("operators.slice_table"), "ms"),
      M("operators.png_sink_ms", perOp("operators.png_sink"), "ms"),
      M("operators.mask_metrics_ms", perOp("operators.mask_metrics"), "ms"),
      M("operators.analytic_ms", perOp("operators.analytic"), "ms"))
    out.notes += f"traced: ${ops.length} ops, ${slicesPerOp}%.1f slices per op"
    Trace.common(ops, plain.map(_.seconds), traced.map(_.seconds), out)
  }
}
