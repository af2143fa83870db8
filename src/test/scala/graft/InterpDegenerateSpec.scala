package graft

import graft.operators.LinearInterp

/** Degenerate regions on the one interpolation path: regions that cannot be
  * triangulated (fewer than 4 soundings, collinear soundings, or every
  * sounding on one spot) take the nearest fallback under every method, and
  * the nearest search must end in bounded time even when the points have
  * zero extent on an axis. Values are pinned per pixel; equidistant
  * soundings resolve to the lowest sounding_index. */
class InterpDegenerateSpec extends SparkSpec {
  import spark.implicits._

  // (region, sounding_index, lon, lat, xco2). Sounding indexes run against
  // the spatial order in regions 3 and 4, so a tie broken by array position
  // instead of sounding_index would show.
  private lazy val soundings = Seq(
    // 1: one point
    (1L, 0L, 10.0, 40.0, 401.0),
    // 2: two points on one meridian (zero lon extent)
    (2L, 0L, 10.0, 40.0, 402.0),
    (2L, 1L, 10.0, 41.0, 403.0),
    // 3: four points on one parallel (zero lat extent), indexes reversed
    (3L, 3L, 10.0, 40.0, 410.0),
    (3L, 2L, 10.5, 40.0, 411.0),
    (3L, 1L, 11.0, 40.0, 412.0),
    (3L, 0L, 11.5, 40.0, 413.0),
    // 4: five soundings on one spot
    (4L, 7L, 20.0, 20.0, 420.0),
    (4L, 5L, 20.0, 20.0, 421.0),
    (4L, 9L, 20.0, 20.0, 422.0),
    (4L, 6L, 20.0, 20.0, 423.0),
    // 5: four points on a diagonal (extent on both axes, still collinear)
    (5L, 0L, 0.0, 0.0, 430.0),
    (5L, 1L, 1.0, 1.0, 431.0),
    (5L, 2L, 2.0, 2.0, 432.0),
    (5L, 3L, 3.0, 3.0, 433.0)
  ).toDF("region_id", "sounding_index", "longitude", "latitude", "xco2")

  // (region, pixel id, lon, lat) → the pinned xco2
  private val expected: Seq[((Long, Int, Double, Double), Double)] = Seq(
    (1L, 0, 10.0, 40.0)     -> 401.0, // on the point
    (1L, 1, -170.0, -80.0)  -> 401.0, // far below/left of the grid
    (1L, 2, 170.0, 80.0)    -> 401.0, // far above/right of the grid
    (2L, 0, 10.0, 40.2)     -> 402.0,
    (2L, 1, 12.0, 40.9)     -> 403.0,
    (2L, 2, 10.0, 40.5)     -> 402.0, // equidistant: lowest sounding_index
    (2L, 3, 9.0, 40.5)      -> 402.0, // equidistant, off the meridian
    (2L, 4, 10.0, 50.0)     -> 403.0,
    (3L, 0, 10.25, 45.0)    -> 411.0, // 10.0 (idx 3) vs 10.5 (idx 2) tie
    (3L, 1, 11.25, 39.0)    -> 413.0, // 11.0 (idx 1) vs 11.5 (idx 0) tie
    (3L, 2, 10.1, 40.0)     -> 410.0,
    (3L, 3, 1000.0, 40.0)   -> 413.0,
    (3L, 4, -1000.0, -60.0) -> 410.0,
    (4L, 0, 20.0, 20.0)     -> 421.0, // all equidistant: sounding 5
    (4L, 1, -30.0, 75.0)    -> 421.0,
    (5L, 0, 1.5, 1.5)       -> 431.0, // 1 (idx 1) vs 2 (idx 2) tie
    (5L, 1, 2.9, 3.2)       -> 433.0,
    (5L, 2, -5.0, 0.0)      -> 430.0)

  private lazy val pixels = expected.map { case ((r, k, x, y), _) => (r, k, 0, x, y) }
    .toDF("region_id", "lon_idx", "lat_idx", "lon", "lat")

  test("pinned nearest-fallback values under every method") {
    val want = expected.map { case ((r, k, _, _), v) => (r, k) -> v }.toMap
    val t0   = System.nanoTime()
    Seq("nearest", "linear", "cubic").foreach { m =>
      val got = LinearInterp
        .interpolateKernels(pixels, LinearInterp.buildKernels(soundings, Seq("xco2"), m), Seq("xco2"))
        .collect()
        .map(r => (r.getAs[Long]("region_id"), r.getAs[Int]("lon_idx")) -> r.getAs[Double]("xco2"))
        .toMap
      assert(got === want, s"method=$m")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30, f"took $secs%.1f s")
  }
}
