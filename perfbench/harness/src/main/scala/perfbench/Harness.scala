package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in one JVM, driven by `perfbench/run.py`:
  *
  *   1. set-up: build the session and run `--warmup-ops` untimed
  *      warm-up operations;
  *   2. a closed loop of operations, one at a time, until `--seconds`
  *      have passed and at least `--min-ops` operations have run, with
  *      every cache and checkpoint dropped before each step of an
  *      operation (`runOp`);
  *   3. with `--trace 1`, operations alternate between traced (span
  *      listener attached) and untraced, and one more operation runs on
  *      a `local[1]` session for the serial reference.
  *
  * Writes its measurements to `--out` and, when tracing, the raw spans
  * next to it. Output checks are done by run.py. */
object Harness {
  final case class Opts(
      workload: String, seconds: Double, warmupOps: Int, minOps: Int, trace: Boolean, cores: Int,
      seed: Long,
      inputs: String, work: String, fixture: String, out: String)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val o = Opts(kv("workload"), kv("seconds").toDouble, kv("warmup-ops").toInt,
      kv("min-ops").toInt, kv("trace") == "1",
      kv("cores").toInt, kv("seed").toLong,
      kv("inputs"), kv("work"), kv("fixture"), kv("out"))
    val result = run(o)
    Files.write(Paths.get(o.out), Json(result).getBytes(UTF_8))
  }

  /** The session `KMeansMain.main` builds, at a given core count, with
    * Spark's scratch space kept inside the work directory and the
    * context cleaner off. The cleaner removes an unreachable RDD's blocks
    * after a garbage collection happens to find it, so with it on a
    * step's storage peak took one of two values from run to run; the
    * harness drops every block itself between steps (`dropCaches`). */
  def session(o: Opts, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops everything an operation left in the block manager: catalog
    * caches, persisted RDDs, local checkpoints, and the blocks of RDDs
    * that are no longer reachable. */
  def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Bus.dropRddBlocks(spark.sparkContext)
  }

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU nanoseconds used so far by each live Java thread: the Spark
    * driver, executor task threads and Spark's services. JIT compiler and GC
    * threads are not Java threads and are not counted; in a run this
    * short their work is warm-up, not the operation's. */
  private def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** CPU seconds used by Java threads since `before`; a thread that
    * ended in between is not counted. */
  private def cpuSince(before: Map[Long, Long]): Double =
    threadCpu().map { case (id, t) => t - before.getOrElse(id, 0L) }.sum / 1e9

  /** Bytes read through Hadoop's local file system so far (file scans;
    * cached blocks and shuffle files are not read through it). */
  private def fileBytesRead(): Long =
    Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesRead")))
      .map(_.longValue).getOrElse(0L)

  /** One measured operation: the sum of its steps' wall and CPU times
    * and file bytes read, the largest storage peak of a step, and each
    * step's wall time and clock window. Before each step the harness
    * runs a full GC and drops every block the step before left, so a
    * step starts from an empty block manager and a similar heap. */
  final case class OpRecord(
      wall: Double, cpu: Double, peakBytes: Long, readBytes: Long,
      steps: Seq[(String, Double)], windows: Seq[(Long, Long)], error: Option[String])

  def runOp(spark: SparkSession, wl: Workload, meter: StorageMeter, tag: String): OpRecord = {
    val sc = spark.sparkContext
    var wall, cpu = 0.0
    var peak, read = 0L
    val steps = mutable.ArrayBuffer.empty[(String, Double)]
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    var error = Option.empty[String]
    val it = wl.steps.iterator
    while (error.isEmpty && it.hasNext) {
      val name = it.next()
      System.gc()
      dropCaches(spark)
      Bus.drain(sc)
      meter.reset()
      val read0 = fileBytesRead()
      val startMs = System.currentTimeMillis()
      val cpu0 = threadCpu()
      val t0 = System.nanoTime()
      try wl.step(spark, tag, name)
      catch { case e: Exception => error = Some(s"$name: ${e.getClass.getName}: ${e.getMessage}") }
      val sec = (System.nanoTime() - t0) / 1e9
      cpu += cpuSince(cpu0)
      windows += ((startMs, System.currentTimeMillis()))
      read += fileBytesRead() - read0
      Bus.drain(sc)
      wall += sec
      peak = math.max(peak, meter.peakBytes)
      steps += name -> sec
    }
    if (error.isEmpty) wl.saveOutputs(spark, tag)
    dropCaches(spark)
    OpRecord(wall, cpu, peak, read, steps.toSeq, windows.toSeq, error)
  }

  def run(o: Opts): Map[String, Any] = {
    val wl = Workload(o.workload, o.inputs, o.work, o.fixture, o.seed)
    val meter = new StorageMeter
    val setupStart = System.nanoTime()
    var spark = session(o, o.cores)
    spark.sparkContext.addSparkListener(meter)
    val warmup = (0 until o.warmupOps).map(i => runOp(spark, wl, meter, s"warmup$i"))
    val setup = (System.nanoTime() - setupStart) / 1e9
    warmup.flatMap(_.error).foreach(e => throw new IllegalStateException(s"warm-up failed: $e"))

    val spans = new SpanRecorder
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val loopStart = System.nanoTime()
    // a traced run alternates traced and untraced operations
    val minOps = if (o.trace) math.max(2, o.minOps) else o.minOps
    var i = 0
    while (i < minOps || (System.nanoTime() - loopStart) / 1e9 < o.seconds) {
      val tag = f"op$i%03d"
      val traced = o.trace && i % 2 == 0
      val sc = spark.sparkContext
      if (traced) { Bus.drain(sc); sc.addSparkListener(spans) }
      val r = runOp(spark, wl, meter, tag)
      if (traced) { Bus.drain(sc); sc.removeSparkListener(spans) }
      ops += Map(
        "tag" -> tag, "traced" -> traced, "wall_s" -> r.wall, "cpu_s" -> r.cpu,
        "peak_storage_bytes" -> r.peakBytes, "file_read_bytes" -> r.readBytes,
        "windows_ms" -> r.windows.map { case (a, b) => Seq(a, b) },
        "steps_s" -> r.steps.toMap,
        "out" -> Map("dir" -> wl.outDir(tag)),
        "error" -> r.error)
      i += 1
    }

    val serial =
      if (!o.trace) None
      else {
        spark.stop()
        spark = session(o, 1)
        Some(runOp(spark, wl, meter, "serial").wall)
      }
    spark.stop()

    if (o.trace) {
      val spanOps = ops.filter(_("traced") == true).map(op =>
        Map("tag" -> op("tag"), "windows_ms" -> op("windows_ms")))
      Files.write(Paths.get(o.out).resolveSibling("spans.json"),
        spans.toJson(spanOps.toSeq).getBytes(UTF_8))
    }
    Map(
      "workload" -> o.workload,
      "cores" -> o.cores,
      "setup_s" -> setup,
      "warmup_s" -> warmup.map(_.wall),
      "ops" -> ops.toSeq,
      "serial_s" -> serial,
      "oracle_sql" -> (if (o.workload == "operator_slice") OperatorSlice.oracleSql else Map.empty))
  }
}
