package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.domain.{GlobalPipeline, Pipeline}
import graft.operators.{Grid, LinearInterp}
import graft.sinks.{CoGExport, GeoTiff, NetCDFExport, ZarrStore}
import graft.sources.netcdf.NetCDFGranules
import graft.tools.RunJob
import FrontDoor._

/** `batch_global`: one global-mode `RunJob` turns a granule-day into a
  * fresh Zarr store plus COG and netCDF-4 slices on a 1440×720 (0.25°)
  * global mesh.
  *
  * Besides its ~100 observation blocks the day carries one region each of
  * 1, 2 and 3 good soundings. The single sounding sits on a mesh-cell
  * centre, so its footprint masks one pixel and the `< 4 points → nearest`
  * fallback runs on a zero-extent point set: the degenerate-region cost
  * real granules carry, which the benchmark must show.
  */
final class BatchGlobal(seed: Long, work: Path) extends Workload {
  val Date      = "2023-06-15"
  val Soundings = 20000
  val Box       = 0.6  // degrees: a block's soundings fall inside one box
  val Half      = 0.03 // footprint half-width, degrees
  val NX        = 1440
  val NY        = 720
  val ValueCols = Seq("xco2", "xco2_uncertainty")
  val Vars      = GlobalPipeline.missionStoreVariables("oco3")
  val Xco2      = GlobalPipeline.MissionPrefix("oco3") + "xco2"

  private var granule = ""
  private var single  = (0, 0) // (lon_idx, lat_idx) of the 1-sounding region
  private var lastIter: Path = _

  def generate(spark: SparkSession): Unit = {
    val rng = new java.util.SplittableRandom(seed)
    // short regions live in a 10° × 5° window no target uses (one store
    // chunk and one raster tile whatever the seed)
    val j = ((-75.0 + rng.nextDouble() * 5.0 + 90.0) * (NY - 1) / 180.0).toInt
    val i = ((-30.0 + rng.nextDouble() * 10.0 + 180.0) * (NX - 1) / 360.0).toInt
    val (lon, lat) = Satellite.meshPoint(i, j, NX, NY)
    single = (i, j)
    val shorts = Seq(
      (2, lon + 1.0 + rng.nextDouble(), lat + rng.nextDouble()),
      (3, lon - 1.0 - rng.nextDouble(), lat + rng.nextDouble()),
      (1, lon, lat))
    granule = Satellite.writeGranule(work.resolve("in"), Date,
      Satellite.day(rng, Date, Soundings, Box, Half, shorts))
  }

  private def runConfig(dir: Path): String = {
    val p = dir.resolve("run.yaml")
    Files.write(p,
      s"""input:
         |  files: [$granule]
         |output:
         |  local: $dir/store
         |  global: true
         |  format: zarr
         |  cog: {output: {local: $dir/cog}}
         |  nc4: {output: {local: $dir/nc4}}
         |grid:
         |  latitude: $NY
         |  longitude: $NX
         |  method: linear
         |""".stripMargin.getBytes("UTF-8"))
    p.toString
  }

  def iteration(spark: SparkSession, i: Int, rec: Record, tracer: Option[Tracer]): Unit = {
    Option(lastIter).foreach(rmrf)
    val dir = work.resolve(s"batch-$i")
    Files.createDirectories(dir)
    lastIter = dir
    val yaml = runConfig(dir)
    rec.attempted += 1
    val (out, sec) = timed(span(tracer, "tools.runjob")(captureMain(RunJob.main, Array(yaml))))
    rec.walls += sec
    rec.units += Soundings.toLong
    rec.outMb += mb(du(dir))
    checks(spark, dir, jsonLong(out, "rows"), rec)
  }

  /** Store read-back against the front door's own product count, and the
    * COG / netCDF-4 slices against the store. */
  private def checks(spark: SparkSession, dir: Path, rows: Long, rec: Record): Unit = {
    val store = s"$dir/store"
    val days  = ZarrStore.existingDays(spark, store).map(java.time.LocalDate.ofEpochDay(_).toString)
    rec.check("store_day", days == Seq(Date))
    rec.check("store_rows", Vars.map(v => ZarrStore.read(spark, store, v).count()).sum == rows)
    val xco2 = ZarrStore.read(spark, store, Xco2).cache()
    val px   = xco2.count()
    val tiles = xco2.select(
      ((lit(NY - 1) - col("lat_idx")) / GeoTiff.TileSize).cast("int"),
      (col("lon_idx") / GeoTiff.TileSize).cast("int")).distinct().count()
    val cog = Files.readAllBytes(dir.resolve(s"cog/global_${Xco2}_$Date.tif"))
    rec.check("cog_tiles", px > 0 && GeoTiff.tileStats(cog)._2.toLong == tiles)
    val nc = spark.read.format("hdf5").option("rowdim", "lat")
      .load(dir.resolve(s"nc4/global_$Date.nc4").toString)
      .selectExpr(s"explode($Xco2) AS v").filter(col("v").isNotNull).count()
    rec.check("nc4_cells", nc == px)
    rec.check("degenerate_region_pixel",
      xco2.filter(col("lon_idx") === single._1 && col("lat_idx") === single._2).count() == 1)
    xco2.unpersist()
  }

  /** Materialize a layer's output so the next layer starts from data. */
  private def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)

  def traced(spark: SparkSession, tracer: Tracer, rec: Record): Unit = {
    import spark.implicits._
    val mesh  = Grid.GridSpec(-180.0, 180.0, NX, -90.0, 90.0, NY)
    val cfg   = Pipeline.Config(gridN = 64, method = "linear")
    val gspec = ZarrStore.GridSpec(NY, NX, -90.0 + 180.0 / NY / 2, 180.0 / NY,
      -180.0 + 360.0 / NX / 2, 360.0 / NX)
    val out = work.resolve("traced")
    rmrf(out)
    locally {
      val soundings = tracer.span("sources.decode") {
        materialize(NetCDFGranules.readGranules(spark, Seq(granule)).drop("sounding_id"))
      }
      val sessionized = tracer.span("domain.sessionize") {
        materialize(GlobalPipeline.sessionizePerGranule(soundings, cfg, "granule_path"))
      }
      val sessions = tracer.span("domain.quality") {
        materialize(Pipeline.qualityFilter(sessionized, cfg))
      }
      val (extents, tiles) = tracer.span("domain.tiles") {
        val e = materialize(GlobalPipeline.regionExtent(sessions))
        (e, materialize(GlobalPipeline.regionTiles(
          e.select("region_id", "fminx", "fmaxx", "fminy", "fmaxy"), mesh)))
      }
      val pixels = tracer.span("domain.mask") {
        materialize(GlobalPipeline.maskPixelsGlobal(sessions, mesh, cfg, clipTo = Some(tiles.select(
          col("region_id"), col("rkey"), col("_xlo"), col("_xhi"), col("_tylo"), col("_tyhi"))))
          .withColumn("lon", lit(mesh.minX) + col("lon_idx") * ((mesh.maxX - mesh.minX) / (mesh.nX - 1)))
          .withColumn("lat", lit(mesh.minY) + col("lat_idx") * ((mesh.maxY - mesh.minY) / (mesh.nY - 1))))
      }
      val kernels = tracer.span("functions.kernel_build") {
        LinearInterp.buildKernels(sessions, ValueCols, cfg.method).localCheckpoint(true)
      }
      // kernels are keyed by region, pixels by tile: the same re-keying
      // GlobalPipeline.process applies between the two calls
      val kernelsK = kernels.toDF()
        .join(broadcast(tiles.select(col("rkey"), col("region_id"))), Seq("region_id"))
        .drop("region_id")
        .withColumnRenamed("rkey", "region_id")
        .as[LinearInterp.RegionKernel]
      val interped = tracer.span("domain.interp") {
        materialize(LinearInterp.interpolateKernels(pixels, kernelsK, ValueCols))
      }
      // the sinks run on the product exactly as the untraced RunJob stored it
      val product = tracer.span("sinks.zarr_read") {
        materialize(Vars.map { v =>
          ZarrStore.read(spark, s"$lastIter/store", v)
            .withColumn("time", to_timestamp(lit(s"$Date 00:00:00")))
            .withColumn("lat", lit(mesh.minY) + col("lat_idx") * ((mesh.maxY - mesh.minY) / (mesh.nY - 1)))
            .withColumn("lon", lit(mesh.minX) + col("lon_idx") * ((mesh.maxX - mesh.minX) / (mesh.nX - 1)))
            .withColumn("variable", lit(v))
            .drop("time_idx")
        }.reduce(_.unionByName(_)))
      }
      val store  = s"$out/store"
      val ensure = Seq("oco2", "oco3", "oco3_sif").flatMap(GlobalPipeline.missionStoreVariables)
      tracer.span("sinks.zarr_create") {
        ZarrStore.write(product, store, gspec, ensureVariables = ensure)
      }
      def chunkStamps(): Map[String, (Long, Long)] = {
        val s = Files.walk(java.nio.file.Paths.get(store))
        try s.toArray.map(_.asInstanceOf[Path])
          .filter(_.getFileName.toString.matches("\\d+\\.\\d+\\.\\d+"))
          .map(p => p.toString -> (Files.getLastModifiedTime(p).toMillis, Files.size(p))).toMap
        finally s.close()
      }
      val before = chunkStamps()
      // the next day's append: same pixels one day later, which overlays
      // the shared boundary time-chunks of the store
      tracer.span("sinks.zarr_append") {
        ZarrStore.write(product.withColumn("time", col("time") + expr("INTERVAL 1 DAY")),
          store, gspec, ensureVariables = ensure)
      }
      val after = chunkStamps()
      rec.layer("sinks.zarr_chunks_rewritten",
        before.count { case (p, st) => after.get(p).exists(_ != st) }.toDouble, "count")
      rec.layer("sinks.bytes_per_cell", du(java.nio.file.Paths.get(store)).toDouble / (2 * product.count()), "B")
      val minLon = -180.0 + 360.0 / NX / 2; val minLat = -90.0 + 180.0 / NY / 2
      tracer.span("sinks.cog") {
        CoGExport.exportGlobalMosaic(product, s"$out/cog", NX, NY,
          minLon = minLon, dLon = 360.0 / NX, minLat = minLat, dLat = 180.0 / NY).count()
      }
      tracer.span("sinks.nc4") {
        NetCDFExport.exportGlobalDailyH5(product, s"$out/nc4", NX, NY,
          minLon = minLon, dLon = 360.0 / NX, minLat = minLat, dLat = 180.0 / NY).count()
      }
      rec.layer("sources.rows", soundings.count().toDouble, "count")
      rec.layer("sources.input_mb", mb(Files.size(java.nio.file.Paths.get(granule))), "MB")
      rec.layer("domain.regions", extents.count().toDouble, "count")
      rec.layer("domain.short_regions",
        sessions.groupBy("region_id").count().filter(col("count") < 4).count().toDouble, "count")
      val candidates = GlobalPipeline.coveredPixels(extents, mesh).count()
      rec.layer("domain.mask_keep_ratio", pixels.count().toDouble / math.max(1L, candidates), "ratio")
      rec.layer("domain.pixels_out", interped.filter(!isnan(col("xco2"))).count().toDouble, "count")
      rec.layer("functions.triangles", kernels.map(_.tri.length / 3L).reduce(_ + _).toDouble, "count")
    }
    for ((layer, spans) <- Seq(
        "sources.decode_s"         -> Seq("sources.decode"),
        "domain.sessionize_s"      -> Seq("domain.sessionize", "domain.quality"),
        "domain.mask_s"            -> Seq("domain.tiles", "domain.mask"),
        "domain.interp_s"          -> Seq("domain.interp"),
        "functions.kernel_build_s" -> Seq("functions.kernel_build"),
        "sinks.zarr_read_s"        -> Seq("sinks.zarr_read"),
        "sinks.zarr_create_s"      -> Seq("sinks.zarr_create"),
        "sinks.zarr_append_s"      -> Seq("sinks.zarr_append"),
        "sinks.cog_s"              -> Seq("sinks.cog"),
        "sinks.nc4_s"              -> Seq("sinks.nc4")))
      rec.layer(layer, spans.map(tracer.selfSeconds).sum, "s")
    rec.layer("domain.interp_max_task_s", tracer.maxTaskSeconds("domain.interp"), "s")
    rec.layer("tools.runjob_s", tracer.selfSeconds("tools.runjob"), "s")
  }
}
