package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.SliceRoot

/** Benchmark main: one workload in one JVM, a closed loop with a single
  * client. Sets up (session, then an untimed warm-up pass over a small
  * input of the same shape), runs timed iterations until `--seconds`
  * have passed, and writes everything it measured as one JSON file for
  * the harness (perfbench/run.py), which checks outputs and prints the
  * metrics.
  *
  * With `--trace 1` iterations alternate between untraced and traced, so
  * the file also carries the tracing overhead; layer probes run after
  * each traced iteration, outside its timing.
  *
  * Usage: Main --workload W --input DIR --warm DIR --work DIR --out FILE
  *   --seconds N --trace 0|1 [--plant-ms N]
  *
  * Each input directory holds the generated tables and `params.json`.
  */
object Main {
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    Files.createDirectories(work)
    def params(dir: String) = Json.read(Files.readString(Paths.get(dir, "params.json")))
    val cpus = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace) builder
      .config("spark.sql.queryExecutionListeners", classOf[JoinRowsListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart = (System.currentTimeMillis() - jvmStart) / 1e3
    val sessionS = sinceStart

    // one workload instance per input: the slice roots and scrub pepper
    // are seeded per input
    def workloadFor(dir: String): Workload = workload match {
      case "slice_restore" =>
        val p = params(dir)
        val roots = p.get("roots").elements().asScala.map(r =>
          SliceRoot(r.get(0).asText(), r.get(1).asText())).toSeq
        new SliceRestoreWorkload(spark, work, roots,
          p.get("scrub_pepper").asText(), opt.getOrElse("plant-ms", "0").toLong)
      case "vector_index" => new VectorWorkload(spark, work)
      case other => sys.error(s"unknown workload $other")
    }
    if (trace) spark.sparkContext.addSparkListener(new Trace.JobListener)

    // untimed warm-up: the same calls over a small input, so the first
    // timed iteration does not pay class loading, JIT and codegen
    val warmW = workloadFor(opt("warm"))
    val warm = warmW.warm(opt("warm"))
    warmW.release()
    val warmFailures = warm.filterNot(_.ok)
    require(warmFailures.isEmpty, s"warm-up failed: ${warmFailures.mkString("; ")}")
    System.gc()
    val baselineRdds = spark.sparkContext.getPersistentRDDs.size
    val setupS = sinceStart
    val warmupS = setupS - sessionS

    // timed closed loop; in a traced run even iterations stay untraced
    val dir = opt("input")
    val w = workloadFor(dir)
    val iterations = collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var i = 0
    while (i < (if (trace) 2 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && i % 2 == 1
      Trace.setEnabled(traced)
      val gc0 = gcSeconds
      val it0 = System.nanoTime()
      val startMs = Trace.nowMs
      val it = w.run(dir, i, s"i$i")
      val flowS = (System.nanoTime() - it0) / 1e9
      Trace.setEnabled(false)
      val heldMb = spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1e6
      val gcS = gcSeconds - gc0
      if (traced) {
        Trace.setEnabled(true)
        w.probes()
        Trace.setEnabled(false)
      }
      w.release()
      System.gc()
      val leak = spark.sparkContext.getPersistentRDDs.size - baselineRdds
      val release = Op("release", leak <= 0,
        if (leak > 0) s"$leak persisted RDDs above the post-setup baseline" else "")
      iterations += Map(
        "i" -> i, "traced" -> traced, "flow_s" -> flowS, "phases" -> it.phases,
        "start_ms" -> startMs, "end_ms" -> (startMs + flowS * 1e3),
        "gc_s" -> gcS, "leak_rdds" -> math.max(leak, 0), "held_mb" -> heldMb,
        "ops" -> (it.ops :+ release).map(o => Map(
          "name" -> o.name, "ok" -> o.ok, "detail" -> o.detail, "output" -> o.output)))
      i += 1
    }

    // CPU calibration probe (graft.Bench's): executor cpu of a fixed
    // md5 job, the yardstick for reading cpu_s across machines
    val calibCpu = {
      import org.apache.spark.sql.functions._
      val cpuNs = new java.util.concurrent.atomic.AtomicLong
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m => cpuNs.addAndGet(m.executorCpuTime))
      }
      def probe() = spark.range(0, 1L << 19, 1, cpus)
        .select(md5(concat(col("id").cast("string"), lit("calib"))).as("h"))
        .agg(count(when(substring(col("h"), 1, 1) === "0", 1))).collect()
      probe()
      drain(spark)
      spark.sparkContext.addSparkListener(l)
      probe()
      drain(spark)
      spark.sparkContext.removeSparkListener(l)
      cpuNs.get / 1e9
    }

    val spans = Trace.allSpans
    val summary = if (trace) Trace.summarise() else Map.empty[Int, Map[String, Double]]
    val result = Map(
      "workload" -> workload,
      "nproc" -> cpus,
      "setup" -> Map("setup_s" -> setupS, "session_s" -> sessionS, "warmup_s" -> warmupS),
      "calib_cpu_s" -> calibCpu,
      "iterations" -> iterations,
      "spans" -> spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "iter" -> s.iter,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "metrics" -> summary.getOrElse(s.id, Map.empty))))
    Files.writeString(Paths.get(opt("out")), Json.write(result))
    spark.stop()
  }
}
