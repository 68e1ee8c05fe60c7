package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set up a workload, warm it up, time
  * its operations for a fixed wall-clock window, then hand its outputs to
  * the checker. Writes one JSON record; `run.py` turns it into metrics.
  *
  * {{{
  * Main --workload etl_daily --inputs DIR --work DIR --seconds 10 \
  *      --trace 0 --cpus 4 --out record.json
  * }}}
  */
object Main {
  /** One timed (or warm-up) operation. Times are epoch nanoseconds. */
  final case class OpRec(id: Int, due: Long, start: Long, end: Long, ok: Boolean,
      inputRows: Long, error: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt.getOrElse("cpus", "4")
    val spark = session(cpus, opt("work"))
    val tracer = new Tracer(spark.sparkContext, trace, () => dataFiles(new File(opt("work"))))
    val wl = Workload(name, spark, tracer, opt("inputs"), opt("work"), opt("seed").toLong, seconds)
    wl.setup()

    // Warm-up: a fixed number of operations, so every run and every
    // commit times the same stage of JIT and codegen-cache warming (the
    // per-op times of the warm-up are in the record)
    val warm = ArrayBuffer.empty[OpRec]
    while (warm.size < wl.warmupOps) warm += runOp(wl, tracer, -1 - warm.size, 0L)

    // Timed window: closed loop (next op when the last ends) or open loop
    // (op i is due at t0 + i * interval, late or not).
    val jvm0 = JvmCounters.read()
    val t0 = Tracer.now()
    val tEnd = t0 + (seconds * 1e9).toLong
    val ops = ArrayBuffer.empty[OpRec]
    wl.intervalSeconds match {
      case None =>
        while (Tracer.now() < tEnd) ops += runOp(wl, tracer, ops.size, 0L)
      case Some(iv) =>
        var due = t0
        while (due < tEnd) {
          val wait = (due - Tracer.now()) / 1000000L
          if (wait > 0) Thread.sleep(wait)
          ops += runOp(wl, tracer, ops.size, due)
          due += (iv * 1e9).toLong
        }
    }
    val jvm1 = JvmCounters.read()

    tracer.op = -1000000
    val checkFacts = wl.finish()
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    val out = new PrintWriter(new File(opt("out")), "UTF-8")
    try out.write(
      s"""{"workload": ${Workload.jsonStr(name)}, "trace": $trace, "cpus": $cpus,
         |"spark_version": ${Workload.jsonStr(spark.version)}, "max_heap_bytes": ${Runtime.getRuntime.maxMemory},
         |"t0": $t0, "interval_s": ${wl.intervalSeconds.getOrElse(0.0)},
         |"heap_peak_bytes": $heapPeak,
         |"jvm_timed": ${jvm1.minus(jvm0)},
         |"warmup": [${warm.map(opJson).mkString(",\n")}],
         |"ops": [${ops.map(opJson).mkString(",\n")}],
         |"check": $checkFacts,
         |"trace_data": ${if (trace) tracer.toJson else "null"}}
         |""".stripMargin)
    finally out.close()
    spark.stop()
  }

  private def runOp(wl: Workload, tracer: Tracer, id: Int, due: Long): OpRec = {
    tracer.op = id
    val start = Tracer.now()
    try {
      val rows = wl.op(id)
      OpRec(id, if (due == 0L) start else due, start, Tracer.now(), ok = true, rows, "")
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] op $id failed: $e")
        OpRec(id, if (due == 0L) start else due, start, Tracer.now(), ok = false, 0L,
          e.toString.take(300))
    }
  }

  /** Data files under the run's work dir, leaving out Spark's scratch,
    * the inputs and the checker's copies. */
  private def dataFiles(work: File): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).fold(0L)(_.map(walk).sum)
      else if (f.getName.endsWith(".crc")) 0L
      else 1L
    val skip = Set("spark-local", "tmp", "inputs", "check", "warehouse")
    Option(work.listFiles).fold(0L)(_.filterNot(d => skip(d.getName)).map(walk).sum)
  }

  private def opJson(o: OpRec): String =
    s"""{"id": ${o.id}, "due": ${o.due}, "start": ${o.start}, "end": ${o.end}, "ok": ${o.ok}, """ +
      s""""input_rows": ${o.inputRows}, "error": ${Workload.jsonStr(o.error)}}"""

  /** Same settings as graft's own bench session (graft.Bench), at `cpus`
    * local slots, with every scratch write kept under `work`. */
  private def session(cpus: String, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.openCostInBytes", "16384")
      .config("spark.sql.files.minPartitionNum", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** JVM and host counters read at the edges of the timed window. */
  final case class JvmCounters(gcMs: Long, jitMs: Long, cpuNs: Long, hostBusy: Long,
      hostTotal: Long, wallNs: Long) {
    def minus(o: JvmCounters): String =
      s"""{"gc_s": ${(gcMs - o.gcMs) / 1e3}, "jit_s": ${(jitMs - o.jitMs) / 1e3}, """ +
        s""""process_cpu_s": ${(cpuNs - o.cpuNs) / 1e9}, "host_busy_ticks": ${hostBusy - o.hostBusy}, """ +
        s""""host_total_ticks": ${hostTotal - o.hostTotal}, "wall_s": ${(wallNs - o.wallNs) / 1e9}}"""
  }
  object JvmCounters {
    def read(): JvmCounters = {
      val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
      val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
      val cpu = ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
        case _ => 0L
      }
      // /proc/stat "cpu" line: user nice system idle iowait irq softirq steal
      val ticks = scala.util.Try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
        finally src.close()
      }.getOrElse(Array.fill(8)(0L))
      val idle = ticks(3) + ticks(4)
      JvmCounters(gc, jit, cpu, ticks.sum - idle, ticks.sum, Tracer.now())
    }
  }
}
