package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sinks.TrainingExport
import graft.tools.CorpusJob
import FrontDoor._

/** `corpus_chain`: `CorpusJob.run` over a 6-step chain (exact-dedup,
  * quality-filter, neardup, decontaminate, lm-filter, pack-bins, plus
  * sharded JSONL), written to a fresh output directory every iteration so
  * no stage resumes from an earlier run. The steps are the dedup, filter,
  * contamination and LM-scoring families of the 13-step chain
  * `ScaleProbe corpusjob` drives; the other seven are left out to keep a
  * cold run inside the benchmark's time budget.
  *
  * The corpus repeats the duplicate structure of the scale probe's corpus
  * over a seeded vocabulary draw: ~60-word docs, every 50th doc an exact
  * copy of its predecessor, every other 25th a near copy differing in one
  * word. A 1/1000 slice, re-keyed, is the decontamination benchmark.
  */
final class CorpusChain(seed: Long, work: Path) extends Workload {
  val Docs  = 2000
  val Vocab = 500
  val Steps = Seq("exact-dedup", "quality-filter", "neardup", "decontaminate", "lm-filter",
    "pack-bins")

  private val corpusDir = work.resolve("corpus")
  private var lastIter: Path = _

  def generate(spark: SparkSession): Unit = {
    val docs = spark.range(Docs)
      .select(
        col("id").as("doc_id"),
        when(pmod(col("id"), lit(25)) === 1, col("id") - 1).otherwise(col("id")).as("_seed"),
        (pmod(col("id"), lit(25)) === 1 && pmod(col("id"), lit(50)) =!= 1).as("_patch"))
      .withColumn("text", concat_ws(" ", transform(sequence(lit(1), lit(60)), i =>
        when(col("_patch") && i === 7, lit("patched"))
          .otherwise(concat(lit("w"), pmod(xxhash64(lit(seed), col("_seed"), i), lit(Vocab)))))))
      .select(col("doc_id"), col("text"), concat(lit("s"), pmod(col("doc_id"), lit(16))).as("source"))
    docs.write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    docs.filter(pmod(col("doc_id"), lit(1000)) === 7)
      .select((col("doc_id") + lit(100000000L)).as("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$corpusDir/bench.parquet")
  }

  private def config(dir: Path): String = {
    val p = dir.resolve("job.yaml")
    Files.write(p,
      s"""input:
         |  documents: $corpusDir/documents.parquet
         |steps:
         |  - op: exact-dedup
         |  - op: quality-filter
         |    min-words: 10
         |    min-stop-hits: 0
         |  - op: neardup
         |    min-jaccard: 0.5
         |    keep-by: length
         |  - op: decontaminate
         |    benchmark: $corpusDir/bench.parquet
         |    min-overlap: 5
         |  - op: lm-filter
         |    max-bits-per-bigram: 30
         |    max-oov-pct: 100
         |  - op: pack-bins
         |    seq-len: 2048
         |output:
         |  local: $dir/out
         |  jsonl:
         |    dir: $dir/jsonl
         |    tokens-per-shard: 20000
         |""".stripMargin.getBytes("UTF-8"))
    p.toString
  }

  /** Rows each step must keep, from the corpus's construction: exact
    * copies and the decontamination slice go, the permissive filters keep
    * everything. Near copies go too, but MinHash LSH (8 hashes in 4 bands of
    * 2) misses a pair now and then, so neardup must remove no doc that is
    * not a near copy and at least 90% of the near copies. */
  private def rowsOk(s: CorpusJob.StepCount): Boolean = {
    val ids  = 0L until Docs
    val gone = s.rowsIn - s.rowsOut
    s.op match {
      case "exact-dedup"   => gone == ids.count(i => i % 50 == 1)
      case "neardup"       =>
        val near = ids.count(i => i % 25 == 1 && i % 50 != 1)
        gone <= near && gone * 10 >= near * 9
      case "decontaminate" => gone == ids.count(i => i % 1000 == 7)
      case _               => gone == 0
    }
  }

  private def checks(spark: SparkSession, dir: Path, sheet: CorpusJob.Datasheet, rec: Record): Unit = {
    rec.check("steps_ran", sheet.steps.map(_.op) == Steps)
    rec.check("steps_timed", sheet.steps.forall(_.sec > 0))
    sheet.steps.foreach(s => rec.check(s"rows_${s.op}", rowsOk(s)))
    val docs = spark.read.parquet(s"$dir/out/documents")
    rec.check("output_rows", docs.count() == sheet.outputRows)
    val lines = spark.read.text(s"$dir/jsonl").count()
    rec.check("jsonl_rows", lines == sheet.outputRows)
  }

  def iteration(spark: SparkSession, i: Int, rec: Record, tracer: Option[Tracer]): Unit = {
    Option(lastIter).foreach(rmrf)
    val dir = work.resolve(s"corpus-$i")
    Files.createDirectories(dir)
    lastIter = dir
    val yaml = config(dir)
    rec.attempted += 1
    val t0 = System.currentTimeMillis()
    val (sheet, sec) = timed(span(tracer, "tools.corpus_job")(CorpusJob.run(spark, yaml)))
    rec.walls += sec
    rec.units += Docs.toLong
    tracer.foreach { t =>
      rec.layer("tools.corpus_job_s", sec, "s")
      // the job runs its steps back to back; their spans come from its
      // datasheet, placed in order from the job's start
      val parent = t.spanNamed("tools.corpus_job").map(_.id).getOrElse(0)
      sheet.steps.foldLeft(t0) { (at, s) =>
        val end = at + (s.sec * 1000).toLong
        t.addSpan(s"tools.corpus.${s.op}", parent, at, end)
        end
      }
      sheet.steps.foreach { s =>
        rec.layer(s"tools.corpus.${s.op}_s", s.sec, "s")
        rec.layer(s"tools.corpus.${s.op}_keep", s.rowsOut.toDouble / math.max(1L, s.rowsIn), "ratio")
      }
    }
    rec.outMb += mb(du(dir.resolve("out")) + du(dir.resolve("jsonl")))
    checks(spark, dir, sheet, rec)
  }

  /** The job's own JSONL export, timed alone on its parquet output. */
  def traced(spark: SparkSession, tracer: Tracer, rec: Record): Unit = {
    val docs = spark.read.parquet(s"$lastIter/out/documents")
    tracer.span("sinks.jsonl") {
      TrainingExport.jsonl(docs, "doc_id", "text", s"$lastIter/jsonl-traced", 20000L, None)
    }
    rec.layer("sinks.jsonl_s", tracer.selfSeconds("sinks.jsonl"), "s")
  }
}
