package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM.
  *
  * Usage: FrontDoor <workload> <seed> <seconds> <mode> <cores> <workDir> <outJson>
  *
  * `mode` is `timed` (set up, then untraced iterations for `seconds`) or
  * `traced` (set up, then one iteration with the Spark listeners attached
  * and a span around the front-door call, then the per-layer pass). The
  * run's figures go to `outJson` as one JSON object; `perfbench/run.py`
  * turns them into the benchmark's metrics.
  */
object FrontDoor {

  /** Everything one run measured and checked. */
  final class Record {
    val setup   = ArrayBuffer.empty[Double]
    val walls   = ArrayBuffer.empty[Double]
    val units   = ArrayBuffer.empty[Long]
    val outMb   = ArrayBuffer.empty[Double]
    val checks  = ArrayBuffer.empty[(String, Boolean)]
    val layers  = LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0
    var failed    = 0

    def check(name: String, ok: Boolean): Unit = {
      checks += name -> ok
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[perfbench] check failed: $name") }
    }
    def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r  = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  /** Run a CLI front door in-process and return the JSON line it prints. */
  def captureMain(main: Array[String] => Unit, args: Array[String]): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(main(args))
    new String(buf.toByteArray, UTF_8).linesIterator.filter(_.startsWith("{")).toSeq.lastOption
      .getOrElse("{}")
  }

  def jsonLong(json: String, key: String): Long =
    s""""$key"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L)

  /** The session every front door would get from `Jobs.session` with
    * `SPARK_GRAFT_CPUS = cores`; scratch space stays inside `work`. */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (cores * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(argv: Array[String]): Unit = {
    val Array(name, seedS, secondsS, mode, coresS, workS, outS) = argv
    val seed  = seedS.toLong
    val cores = coresS.toInt
    val work  = java.nio.file.Paths.get(workS)
    Files.createDirectories(work)
    val rec = new Record
    val workload: Workload = name match {
      case "batch_global"  => new BatchGlobal(seed, work)
      case "corpus_chain"  => new CorpusChain(seed, work)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up, three times: session start-up to the first finished job. The
    // first start pays class loading; the median is what later PRs gate on.
    var spark: SparkSession = null
    for (i <- 1 to 3) {
      val (s, sec) = timed { val s = session(cores, work); s.range(1).count(); s }
      rec.setup += sec
      spark = s
      if (i < 3) s.stop()
    }
    workload.generate(spark)
    val tracer = if (mode == "traced") Some(new Tracer(spark, s"$name-$seed")) else None
    try {
      tracer.foreach(_.attach())
      val t0 = System.nanoTime()
      var i  = 0
      do {
        workload.iteration(spark, i, rec, tracer)
        i += 1
      } while (mode == "timed" && (System.nanoTime() - t0) / 1e9 < secondsS.toDouble)
      tracer.foreach { t =>
        t.span("layers")(workload.traced(spark, t, rec))
        Thread.sleep(1000) // let the listener bus drain
        t.detach()
        t.sparkMetrics().foreach { case (k, v, u) => rec.layer(k, v, u) }
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        rec.attempted += 1
        rec.failed += 1
    }
    val rss = peakRssMb()
    def arr(xs: Iterable[Double]) = xs.map(num).mkString("[", ",", "]")
    val layers = rec.layers.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"workload":"$name","setup_s":${arr(rec.setup)},"wall_s":${arr(rec.walls)},""" +
        s""""units":${arr(rec.units.map(_.toDouble))},""" +
        s""""output_mb":${arr(rec.outMb)},"peak_rss_mb":${num(rss)},""" +
        s""""attempted":${rec.attempted},"failed":${rec.failed},""" +
        s""""checks":${rec.checks.map { case (c, ok) => s""""$c":$ok""" }.mkString("{", ",", "}")},""" +
        s""""layers":$layers}"""
    Files.write(java.nio.file.Paths.get(outS), json.getBytes(UTF_8))
    tracer.foreach { t =>
      Files.write(java.nio.file.Paths.get(outS + ".spans.jsonl"), (t.spansJson + "\n").getBytes(UTF_8))
    }
    spark.stop()
  }
}

/** A front-door workload: seeded inputs, one timed iteration, a traced
  * per-layer pass. */
trait Workload {
  /** Build the inputs (untimed, outside set-up). */
  def generate(spark: SparkSession): Unit
  /** One iteration through the public entry points, then its correctness
    * checks. Under a tracer the front-door call is a span. */
  def iteration(spark: SparkSession, i: Int, rec: FrontDoor.Record, tracer: Option[Tracer]): Unit
  /** The per-layer pass over the same inputs, after a traced iteration. */
  def traced(spark: SparkSession, tracer: Tracer, rec: FrontDoor.Record): Unit

  def span[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))
}
