package graft

import org.apache.spark.sql.functions._
import graft.domain.{Pipeline, TargetCatalog}
import graft.operators.LinearInterp
import graft.domain.TargetCatalog.Target
import graft.sources.SyntheticGranule
import graft.sources.SyntheticGranule.sounding

/** End-to-end domain pipeline over a synthetic granule (FIXTURES §A1
  * scenarios 3, 4 plus the happy path). */
class PipelineSpec extends SparkSpec {

  private lazy val catalog = TargetCatalog.toDF(
    spark,
    Seq(
      Target("fossil0001", "Plant A", 10.0, 40.0, 12.0, 42.0),
      Target("volcano0002", "Volcano B", -5.0, -1.0, -3.0, 1.0)))

  private lazy val granule = SyntheticGranule.toDF(
    spark,
    // region 1: SAM on fossil0001, 5 good soundings clustered in-bbox
    (0 until 5).map(i => sounding(i, 41.0 + 0.1 * i, 11.0 + 0.1 * i, mode = 4, target = "fossil0001", xco2 = 400.0 + i)) ++
      // nadir gap (not a kept mode)
      Seq(sounding(5, 0.0, 0.0, mode = 0, target = "Missing")) ++
      // region 2: Target mode on volcano0002
      (6 until 10).map(i => sounding(i, -0.5 + 0.2 * (i - 6), -4.5 + 0.2 * (i - 6), mode = 2, target = "volcano0002", xco2 = 410.0 + i)) ++
      // scenario 3: region with every sounding bad-quality → dropped
      (10 until 13).map(i => sounding(i, 41.0, 11.0, mode = 4, target = "fossil0001", qf = 1)) ++
      // scenario 4: target absent from catalog → dropped at association
      (13 until 16).map(i => sounding(i, 50.0, 50.0, mode = 4, target = "tccon9999")))

  test("pipeline produces masked long-form output for valid regions only") {
    val out = Pipeline.process(granule, catalog, Pipeline.Config(gridN = 8)).cache()
    val targets = out.select("target_id").distinct().collect().map(_.getString(0)).sorted
    assert(targets === Array("fossil0001", "volcano0002"))
    // two variables per masked pixel
    val vars = out.select("variable").distinct().collect().map(_.getString(0)).sorted
    assert(vars === Array("xco2", "xco2_uncertainty"))
    // every xco2 value must equal one of the region's sounding values
    // (nearest interpolation reproduces inputs exactly at sample points)
    val xs = out.filter(col("variable") === "xco2" && col("target_id") === "fossil0001")
      .select("value").distinct().collect().map(_.getDouble(0)).toSet
    assert(xs.nonEmpty && xs.subsetOf((0 until 5).map(400.0 + _).toSet))
    assert(out.count() > 0)
  }

  test("all-bad-quality region contributes nothing (scenario 3)") {
    // isolate: granule with ONLY the bad region
    val g = SyntheticGranule.toDF(
      spark,
      (0 until 3).map(i => sounding(i, 41.0, 11.0, mode = 4, target = "fossil0001", qf = 1)))
    assert(Pipeline.process(g, catalog).count() === 0)
  }

  test("unknown target dropped at catalog association (scenario 4)") {
    val g = SyntheticGranule.toDF(
      spark,
      (0 until 3).map(i => sounding(i, 50.0, 50.0, mode = 4, target = "tccon9999")))
    assert(Pipeline.process(g, catalog).count() === 0)
  }

  test("linear method interpolates within hull and falls back to nearest for tiny regions") {
    val out = Pipeline.process(granule, catalog, Pipeline.Config(gridN = 8, method = "linear")).cache()
    assert(out.count() > 0)
    // linear interpolation stays within the region's value bounds
    val xs = out
      .filter(col("variable") === "xco2" && col("target_id") === "fossil0001")
      .select("value").collect().map(_.getDouble(0))
    assert(xs.forall(v => v >= 400.0 - 1e-9 && v <= 404.0 + 1e-9))
    // a 3-point region (< 4) uses the nearest fallback and still produces output
    val tiny = SyntheticGranule.toDF(
      spark,
      (0 until 3).map(i => sounding(i, 41.0 + 0.2 * i, 11.0 + 0.2 * i, mode = 4, target = "fossil0001", xco2 = 400.0 + i)))
    val tinyOut = Pipeline.process(tiny, catalog, Pipeline.Config(gridN = 8, method = "linear"))
    assert(tinyOut.filter(col("variable") === "xco2").count() > 0)
    // cubic path runs end-to-end and reproduces the constant-uncertainty
    // field exactly (cubic of constant data is constant)
    val cub = Pipeline.process(granule, catalog, Pipeline.Config(gridN = 8, method = "cubic"))
    val unc = cub.filter(col("variable") === "xco2_uncertainty")
      .select("value").distinct().collect().map(_.getDouble(0))
    assert(unc.length === 1 && math.abs(unc(0) - 0.5) < 1e-9)
  }

  test("pre-QF branch keeps regions that have at least one good sounding") {
    val g = SyntheticGranule.toDF(
      spark,
      Seq(
        sounding(0, 41.0, 11.0, mode = 4, target = "fossil0001", qf = 0),
        sounding(1, 41.1, 11.1, mode = 4, target = "fossil0001", qf = 1)))
    val sess = Pipeline.qualityFilter(
      Pipeline.sessionize(g, Pipeline.Config()),
      Pipeline.Config(qfFilter = false))
    // both rows survive (region guard passes), including the bad one
    assert(sess.count() === 2)
  }

  test("interpolate emits a self-contained slim payload: kernel-emitted coords, no pass-through") {
    import spark.implicits._
    // the slim-payload contract (r13): extra pixel columns must NOT ride
    // the per-pixel explode through the kernel — at the 36000×18000 deploy
    // mesh a pass-through meant a second pixel-sized shuffle join whose
    // only purpose was re-attaching per-region constants
    val pixels = Seq(
      (1L, 0, 0, 10.0, 40.0, "per-region-constant"),
      (1L, 1, 0, 10.5, 40.0, "per-region-constant"),
      (1L, 0, 1, 10.0, 40.5, "per-region-constant")
    ).toDF("region_id", "lon_idx", "lat_idx", "lon", "lat", "extra_payload")
    val soundings = Seq(
      (1L, 0L, 10.0, 40.0, 400.0),
      (1L, 1L, 10.6, 40.1, 401.0)
    ).toDF("region_id", "sounding_index", "longitude", "latitude", "xco2")
    val out = LinearInterp.interpolateKernels(
      pixels, LinearInterp.buildKernels(soundings, Seq("xco2"), "nearest"), Seq("xco2"))
    assert(out.columns.toSeq === Seq("region_id", "lon_idx", "lat_idx", "lon", "lat", "xco2"))
    val got = out.collect().map(r =>
      (r.getAs[Int]("lon_idx"), r.getAs[Int]("lat_idx")) ->
        ((r.getAs[Double]("lon"), r.getAs[Double]("lat")))).toMap
    assert(got === Map(
      (0, 0) -> ((10.0, 40.0)),
      (1, 0) -> ((10.5, 40.0)),
      (0, 1) -> ((10.0, 40.5))))
  }

  test("maskPixelsOnRegionGrid equals the full-grid pixels×footprints mask exactly") {
    // the footprint-driven inversion must keep the EXACT pixel set and
    // bit-identical centers; footprints use a half-width whose scaled
    // bbox lands on grid lines (the boundary-rounding hazard)
    val cfg = Pipeline.Config(gridN = 16, maskScale = 1.2)
    val sessions = Pipeline.qualityFilter(Pipeline.sessionize(granule, cfg), cfg)
    val regions  = TargetCatalog.associate(Pipeline.regionSummary(sessions), catalog)
    val pixels   = Pipeline.regionPixels(regions, cfg)
      .select("region_id", "lon_idx", "lat_idx", "lon", "lat")
    def keySet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("region_id").cast("long"), col("lon_idx"), col("lat_idx"),
        col("lon"), col("lat"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)),
          java.lang.Double.doubleToLongBits(r.getDouble(4)))).toSet
    val oldMask = keySet(
      Pipeline.maskPixels(pixels, sessions, cfg)
        .join(pixels, Seq("region_id", "lon_idx", "lat_idx")))
    val newMask = keySet(Pipeline.maskPixelsOnRegionGrid(sessions, regions, cfg))
    assert(oldMask.nonEmpty)
    assert(newMask === oldMask) // exact, incl. bit-level lon/lat centers
  }

  test("grid-indexed nearest kernel equals the rank-1 join form exactly (incl. distance ties)") {
    import spark.implicits._
    // the kernel's nearest path now runs a point-grid ring search instead
    // of a per-pixel linear scan — the argmin (ties → lowest
    // sounding_index) must be bit-identical to the independent
    // window-join implementation. Points include EXACT duplicates
    // (distance ties) and a clustered blob far from some queries (the
    // ring search's worst case).
    val rng = new scala.util.Random(11)
    val pts = (0 until 500).map { i =>
      if (i >= 490) (1L, (i - 490).toLong + 500, 10.123, 40.456, 600.0 + i) // 10 coincident points
      else (1L, i.toLong, 10.0 + rng.nextDouble(), 40.0 + rng.nextDouble(), 400.0 + i)
    }.toDF("region_id", "sounding_index", "longitude", "latitude", "xco2")
    val pixels = (0 until 400).map { k =>
      (1L, k % 20, k / 20, 9.5 + (k % 20) * 0.1, 39.5 + (k / 20) * 0.1)
    }.toDF("region_id", "lon_idx", "lat_idx", "lon", "lat")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select("lon_idx", "lat_idx", "xco2").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val kernel = keyed(LinearInterp.interpolateKernels(
      pixels, LinearInterp.buildKernels(pts, Seq("xco2"), "nearest"), Seq("xco2")))
    val join   = keyed(graft.domain.Pipeline.interpolateNearest(pixels, pts, Seq("xco2")))
    assert(kernel.size === 400)
    assert(kernel === join)
  }

  test("kernel path per method against the nearest join and a planar field") {
    import spark.implicits._
    // the one interpolation path (buildKernels → interpolateKernels; the
    // kernel row survives an encoder round-trip) checked per method against
    // independent references. Region 1: 12 scattered points carrying a
    // planar field (xco2) and a constant (xco2_uncertainty). Region 2: a
    // 3-point region, below the 4-point triangulation minimum, so every
    // method falls back to nearest there.
    val rng = new scala.util.Random(5)
    def plane(x: Double, y: Double) = 400.0 + 2.0 * x - 3.0 * y
    val xy  = Array.fill(12)((10.0 + rng.nextDouble() * 2, 40.0 + rng.nextDouble() * 2))
    val pts = (xy.toSeq.zipWithIndex.map { case ((x, y), i) =>
      (1L, i.toLong, x, y, plane(x, y), 0.5)
    } ++ (0 until 3).map { i =>
      (2L, i.toLong, -5.0 + i * 0.3, -45.0 + i * 0.2, 500.0 + i, 0.5)
    }).toDF("region_id", "sounding_index", "longitude", "latitude", "xco2", "xco2_uncertainty")
    val pixels = ((0 until 200).map { k =>
      (1L, k % 20, k / 20, 9.8 + (k % 20) * 0.12, 39.8 + (k / 20) * 0.25)
    } ++ (0 until 20).map { k =>
      (2L, k, 0, -5.2 + k * 0.06, -44.9)
    }).toDF("region_id", "lon_idx", "lat_idx", "lon", "lat")
    val cols = Seq("xco2", "xco2_uncertainty")
    type Key = (Long, Int, Int)
    def rows(df: org.apache.spark.sql.DataFrame): Map[Key, (Double, Double, Seq[Double])] =
      df.collect().map { r =>
        (r.getAs[Long]("region_id"), r.getAs[Int]("lon_idx"), r.getAs[Int]("lat_idx")) ->
          ((r.getAs[Double]("lon"), r.getAs[Double]("lat"), cols.map(c => r.getAs[Double](c))))
      }.toMap
    val reference = rows(Pipeline.interpolateNearest(pixels, pts, cols))
    // hull membership from the same triangulation the kernel builds
    val hull = graft.functions.Delaunay.triangulate(xy.map(_._1), xy.map(_._2)).get
    val ones = Array.fill(hull.px.length)(1.0)
    def inHull(x: Double, y: Double) =
      !graft.functions.Delaunay.interpolateLinear(hull, ones, x, y).isNaN
    Seq("nearest", "linear", "cubic").foreach { m =>
      val got = rows(LinearInterp.interpolateKernels(
        pixels, LinearInterp.buildKernels(pts, cols, m), cols))
      assert(got.keySet === reference.keySet, s"method=$m")
      val (tri, fallback) = got.partition(_._1._1 == 1L)
      // the 3-point region is the nearest fallback under every method
      assert(fallback === reference.filter(_._1._1 == 2L), s"method=$m")
      if (m == "nearest") assert(tri === reference.filter(_._1._1 == 1L))
      else {
        val inside = tri.filter { case (_, (x, y, _)) => inHull(x, y) }
        assert(inside.nonEmpty && inside.size < tri.size, "the pixel grid must straddle the hull")
        tri.foreach { case (k, (x, y, Seq(v, u))) =>
          if (inside.contains(k)) {
            assert(math.abs(v - plane(x, y)) < 1e-9, s"method=$m pixel=$k")
            assert(math.abs(u - 0.5) < 1e-12, s"method=$m pixel=$k")
          } else assert(v.isNaN && u.isNaN, s"method=$m pixel=$k outside the hull")
        }
      }
    }
  }

  test("an unknown grid.method fails in every pipeline, naming the value") {
    Seq("lineer", "nearest_join").foreach { m =>
      val cfg = Pipeline.Config(gridN = 8, method = m)
      val runs: Seq[() => Any] = Seq(
        () => Pipeline.process(granule, catalog, cfg).count(),
        () => graft.domain.GlobalPipeline.process(granule, cfg = cfg).count())
      runs.foreach { run =>
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(s"'$m'"), e.getMessage)
      }
    }
  }
}
