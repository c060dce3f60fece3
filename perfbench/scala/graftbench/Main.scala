package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** The benchmark's engine process: one client thread running one workload's
  * closed loop of whole cycles against a local Spark session.
  *
  *   graftbench.Main <workload> <seed> <seconds> <trace 0|1> <inputs dir> <work dir> <out json>
  *
  * Writes raw timings (spans, operations, listener records, environment) to
  * the output file; metrics and output checks are computed from it.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, inputs, work, out) = argv
    val traced = traceS == "1"
    val spark = GraftSession.builder()
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val listener = new SpanListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(traced, spark.sparkContext)
    try {
      val w = Workloads(workload, Ctx(spark, tracer, inputs, work, seedS.toLong))
      val setup = w.setup()
      // The measured loop's own peak: collect what set-up left behind (G1
      // returns the freed heap to the OS), then restart the high-water mark.
      val setupPeakKb = vmHwmKb()
      System.gc()
      resetHwm()
      val loopStartKb = vmHwmKb()
      val gc0 = gcTotals()
      val ops = scala.collection.mutable.ArrayBuffer.empty[OpRec]
      val cycles = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
      val t0 = System.nanoTime()
      val budget = secondsS.toDouble
      // whole cycles only, so every run measures the same operation mix
      while (ops.isEmpty || (System.nanoTime() - t0) / 1e9 < budget) {
        val cpu0 = processCpuS()
        val c = w.cycle()
        ops ++= c
        cycles += Seq(c.head.span.start, c.last.span.end, processCpuS() - cpu0)
      }
      val windowS = (System.nanoTime() - t0) / 1e9
      val loopPeakKb = vmHwmKb()
      val gc1 = gcTotals()
      val (finish, finishS) = Workloads.secs(w.finish())
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val env = Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_master" -> spark.sparkContext.master,
        "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
        "driver_heap_max_bytes" -> Runtime.getRuntime.maxMemory,
        "spark.cleaner.periodicGC.interval" ->
          spark.conf.get("spark.cleaner.periodicGC.interval", "30min"),
        "java_version" -> sys.props("java.version"),
        "spark_version" -> spark.version,
        "calib_sec" -> calibrate())
      val raw = Map(
        "workload" -> workload, "seed" -> seedS.toLong, "traced" -> traced,
        "session_start_s" -> sessionS, "setup" -> setup, "window_s" -> windowS,
        "cycles" -> cycles,
        "jvm_gc" -> gc1.map { case (k, (n, ms)) =>
          k -> Map("count" -> (n - gc0(k)._1), "ms" -> (ms - gc0(k)._2)) },
        "peak_rss_kb" -> loopPeakKb, "setup_peak_rss_kb" -> setupPeakKb,
        "loop_start_rss_kb" -> loopStartKb,
        "ops" -> ops.map(o => Map("kind" -> o.kind, "span" -> o.span.id,
          "start" -> o.span.start, "end" -> o.span.end) ++ o.info),
        "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
        "listener" -> (if (traced) listener.toJson else Map.empty),
        "finish" -> finish, "finish_s" -> finishS, "env" -> env)
      Files.write(Paths.get(out), Serialization.write(raw)(DefaultFormats).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  /** Per-collector (count, ms) of the whole JVM, driver and executors alike. */
  private def gcTotals(): Map[String, (Long, Long)] =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => b.getName -> (b.getCollectionCount, b.getCollectionTime)).toMap

  /** CPU seconds used by every thread of the process so far. Unlike wall
    * time it does not count time the host takes the CPU away.
    */
  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The process's peak resident set (VmHWM), in KiB. */
  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  /** Restarts VmHWM from the current resident set. */
  private def resetHwm(): Unit =
    Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes(StandardCharsets.US_ASCII))

  /** Single-thread spin, the same loop as the engine bench's calibration, so
    * timings from different machines can be read against each other.
    */
  private def calibrate(): Double = {
    val s = org.apache.spark.unsafe.types.UTF8String
      .fromString("graft-box-calibration-probe-0123456789abcdef")
    def pass(): Long = {
      var i = 0; var acc = 0L
      while (i < 3000000) {
        acc ^= graft.functions.PolyHashFns.polyHash(s, 9007199254740881L) + i
        i += 1
      }
      acc
    }
    pass()
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); pass(); (System.nanoTime() - t0) / 1e9
    }.sorted
    runs(1)
  }
}
