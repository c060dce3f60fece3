package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.cli.CuratePipeline
import graft.etl.{CsvExtract, TxnPipeline}
import graft.queries.StarQueries
import graft.warehouse.ParquetWarehouse
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** What every workload gets: the session, the tracer, the generated inputs
  * (read only) and a scratch directory for what the engine writes.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, inputs: String, work: String, seed: Long)

/** One timed operation: its root span, and what the output checks need. */
final case class OpRec(kind: String, span: Span, info: Map[String, Any])

/** One activity of a workload: how to warm it, run its next timed
  * operation, and what to hand to the checks after the loop.
  */
trait Part {
  /** Untimed first execution of every code path, on throwaway inputs. */
  def warm(): Unit
  def finish(): Map[String, Any] = Map.empty
}

/** A workload repeats a fixed cycle of operations from its parts, so every
  * run measures the same mix whatever its seed.
  */
final class Workload(parts: Map[String, Part], cycleFn: () => Seq[OpRec]) {
  def setup(): Map[String, Double] = {
    val (_, warmS) = Workloads.secs(Workloads.concurrently(parts.values.toSeq.map(p => () => p.warm())))
    Map("warmup_s" -> warmS)
  }
  def cycle(): Seq[OpRec] = cycleFn()
  def finish(): Map[String, Any] = parts.map { case (n, p) => n -> p.finish() }
}

object Workloads {
  /** `batch`: one dirty-CSV ETL batch, then one curation pass: transform,
    * shuffle and parquet-write work with no per-operation latency target,
    * though some 30% of its wall is still driver time between jobs.
    *
    * `star_query`: Q1-Q19 once, in a seed-shuffled order. Every query is
    * small and overhead-bound.
    */
  def apply(name: String, c: Ctx): Workload = name match {
    case "batch" =>
      val etl = new EtlIngest(c)
      val curate = new CorpusCurate(c)
      new Workload(Map("etl" -> etl, "curate" -> curate), () => Seq(etl.next(), curate.next()))
    case "star_query" =>
      val star = new StarQuery(c)
      new Workload(Map("star" -> star), () => star.passOrder().map(star.run))
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Run independent warm-up tasks on a few client threads at once: a cold
    * JVM's cost is class loading, JIT and code generation, which concurrent
    * first executions share. Never used for timed operations.
    */
  def concurrently(tasks: Seq[() => Unit], threads: Int = 3): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** (data files, bytes) under a directory; Spark's marker files excluded. */
  def dirStats(path: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(path)).filter { f =>
      val n = f.getName
      !n.startsWith(".") && !n.startsWith("_")
    }
    (files.size.toLong, files.map(_.length).sum)
  }
}

import Workloads._

/** CSV batches through extract → buildStar → publish → preFlight → vacuum,
  * all into one warehouse root, in the order the ETL pipeline runs them.
  */
final class EtlIngest(c: Ctx) extends Part {
  import c._
  private val batches = new File(s"$inputs/etl").listFiles.map(_.getPath)
    .filter(_.matches(".*/batch_\\d+\\.csv")).sorted.toSeq
  private val root = s"$work/warehouse"
  private var n = 0

  private def ingest(path: String, root: String): ParquetWarehouse.PreFlight = {
    val raw = tracer.span("etl.extract")(CsvExtract.extract(spark, path))
    val star = tracer.span("etl.build_star")(TxnPipeline.buildStar(raw))
    val tables = star - "valid"
    tracer.span("warehouse.publish")(ParquetWarehouse.publishSnapshot(root, tables))
    val pf = tracer.span("warehouse.preflight")(
      ParquetWarehouse.preFlight(spark, root, tables.keys.toSeq.sorted))
    tracer.span("warehouse.vacuum")(ParquetWarehouse.vacuumSnapshots(root))
    star("valid").unpersist()
    pf
  }

  def warm(): Unit = ingest(s"$inputs/etl/warm.csv", s"$work/warm_warehouse")

  def next(): OpRec = {
    val batch = n % batches.size
    n += 1
    val (pf, span) = tracer.op("etl_batch")(ingest(batches(batch), root))
    val version = ParquetWarehouse.currentVersion(root).getOrElse("")
    val (files, bytes) = dirStats(s"$root/$version")
    OpRec("etl_batch", span, Map(
      "batch" -> batch, "preflight_ok" -> pf.ok, "problems" -> pf.problems,
      "fact_rows" -> pf.rowCounts.getOrElse("fact_transactions", -1L),
      "files_written" -> files, "bytes_written" -> bytes))
  }
}

/** The reference's Q1–Q19 over the generated star; every result is
  * collected in full.
  */
final class StarQuery(c: Ctx) extends Part {
  import c._
  private val defs = StarQueries.all.filter(q => q.name.matches("q(0[1-9]|1[0-9])_.*"))
  require(defs.size == 19, s"expected Q1-Q19, found ${defs.map(_.name)}")
  private var pass = 0
  private val firstResult = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  def warm(): Unit =
    concurrently(defs.map(q => () => { q.run(spark, s"$inputs/star_warm").collect(); () }))

  /** The next pass's query order, shuffled by seed and pass number. */
  def passOrder(): Seq[graft.QueryDef] = {
    pass += 1
    new scala.util.Random(seed * 7919 + pass).shuffle(defs)
  }

  def run(q: graft.QueryDef): OpRec = {
    val ((df, rows), span) = tracer.op("query") {
      val df = tracer.span("queries.plan") {
        val d = q.run(spark, s"$inputs/star")
        d.queryExecution.executedPlan
        d
      }
      (df, tracer.span("queries.exec")(df.collect()))
    }
    if (!firstResult.contains(q.name)) firstResult(q.name) = (df.schema, rows)
    OpRec("query", span, Map("query" -> q.name, "rows" -> rows.length))
  }

  /** Each query's first result, written as parquet beside its oracle SQL. */
  override def finish(): Map[String, Any] = {
    concurrently(firstResult.toSeq.map { case (name, (schema, rows)) => () =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/results/$name")
    }, threads = 4)
    Map("results_dir" -> s"$work/results",
      "oracles" -> defs.map(q => q.name -> q.oracleText.getOrElse("")).toMap)
  }
}

/** The curation recipe with decontamination, split and training order over
  * the generated corpus; each pass writes its output as parquet.
  */
final class CorpusCurate(c: Ctx) extends Part {
  import c._
  private var n = 0
  private val outputs = mutable.ArrayBuffer.empty[String]

  private def curate(dir: String, out: String): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val evalSet = spark.read.parquet(s"$dir/eval.parquet")
    val df = tracer.span("cli.recipe_plan") {
      val d = CuratePipeline.recipe(docs, minQuality = 0.53, lang = Some("en"),
        threshold = 0.8, benchmark = Some(evalSet), split = true, order = true)
      d.queryExecution.executedPlan
      d
    }
    tracer.span("cli.curate_write")(
      df.write.mode("overwrite").partitionBy("split").parquet(out))
  }

  def warm(): Unit = curate(s"$inputs/corpus_warm", s"$work/curated_warm")

  def next(): OpRec = {
    val out = s"$work/curated/pass_$n"
    n += 1
    val (_, span) = tracer.op("curate")(curate(s"$inputs/corpus", out))
    outputs += out
    val (files, bytes) = dirStats(out)
    OpRec("curate", span, Map("output" -> out, "files_written" -> files, "bytes_written" -> bytes))
  }

  override def finish(): Map[String, Any] = Map("outputs" -> outputs.toSeq)
}
