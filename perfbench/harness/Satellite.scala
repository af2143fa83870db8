package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import graft.sources.SyntheticGranule.Sounding

/** Seeded L2 Lite granule-days.
  *
  * A day is a run of observation blocks of 180–220 soundings, one target
  * per block, blocks alternating SAM (mode 4) and target (mode 2), with a
  * sounding-index gap between blocks so each block is its own region. 10%
  * of the block soundings carry a bad quality flag. Short regions of 1–3
  * good soundings go between blocks.
  *
  * Targets sit on a fixed 10 × 5 lattice of boxes and the seed draws
  * everything inside them (positions, values, flags, block sizes), so
  * every seed touches the same store chunks and raster tiles.
  */
object Satellite {
  final case class Target(id: String, lon0: Double, lat0: Double)

  /** Mesh point `(i, j)` of the global `nx × ny` mesh, as
    * `GlobalPipeline` places pixel centres. */
  def meshPoint(i: Int, j: Int, nx: Int, ny: Int): (Double, Double) =
    (-180.0 + i * 360.0 / (nx - 1), -90.0 + j * 180.0 / (ny - 1))

  val Targets: IndexedSeq[Target] =
    (0 until 50).map(t => Target(f"fossil$t%04d", -170.0 + 34.0 * (t % 10), -60.0 + 25.0 * (t / 10)))

  /** One granule-day. `shortAt` gives each short region's size and centre. */
  def day(
      rng: java.util.SplittableRandom,
      date: String,
      soundings: Int,
      box: Double,
      half: Double,
      shortAt: Seq[(Int, Double, Double)]): Seq[Sounding] = {
    val time = Timestamp.valueOf(s"$date 10:30:00")
    val out  = Seq.newBuilder[Sounding]
    var idx  = 0L
    var n    = 0
    var block = 0
    var mode  = 4
    def add(lat: Double, lon: Double, qf: Int, m: Int, tgt: String): Unit = {
      out += Sounding(
        sounding_index = idx,
        sounding_id = date.replace("-", "").toLong * 100000000L + idx,
        latitude = lat, longitude = lon, time = time,
        vertex_latitude = Seq(lat - half, lat - half, lat + half, lat + half),
        vertex_longitude = Seq(lon - half, lon + half, lon + half, lon - half),
        xco2_quality_flag = qf,
        xco2 = 400.0 + rng.nextDouble() * 10.0,
        xco2_uncertainty = 0.4 + rng.nextDouble() * 0.2,
        operation_mode = m,
        target_id = tgt)
      idx += 1
    }
    // short regions go between blocks, spread through the day
    val shortEvery = math.max(1, soundings / 200 / (shortAt.size + 1))
    var shorts = shortAt.toList
    while (n < soundings) {
      val t    = Targets(block % Targets.size)
      val size = math.min(180 + rng.nextInt(41), soundings - n)
      for (_ <- 0 until size) {
        add(t.lat0 + rng.nextDouble() * box, t.lon0 + rng.nextDouble() * box,
          if (rng.nextInt(10) == 0) 1 else 0, mode, t.id)
      }
      n += size
      idx += 5 // index gap > the sessionization margin: the block ends here
      mode = if (mode == 4) 2 else 4
      block += 1
      if (block % shortEvery == 0 && shorts.nonEmpty) {
        val (k, lon, lat) = shorts.head
        shorts = shorts.tail
        // offsets are not collinear: only the 1-sounding region is degenerate
        for ((dlat, dlon) <- Seq((0.0, 0.0), (0.004, 0.007), (0.009, 0.002)).take(k))
          add(lat + dlat, lon + dlon, 0, mode, "short")
        idx += 5
        mode = if (mode == 4) 2 else 4
      }
    }
    out.result()
  }

  /** Write a day as a chunked+deflate netCDF-4 granule; returns its path. */
  def writeGranule(dir: Path, date: String, soundings: Seq[Sounding]): String = {
    Files.createDirectories(dir)
    val p = dir.resolve(s"oco3_LtCO2_${date.replace("-", "").drop(2)}_B10400Br.nc4")
    Files.write(p, graft.sources.netcdf.NetCDFGranules.writeGranuleH5(
      soundings, chunkRows = 16384, deflateLevel = 4))
    p.toString
  }
}
