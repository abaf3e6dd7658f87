package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

trait Workload {
  /** Builds what the workload reads. */
  def setup(): Unit
  /** Untimed operations between set-up and the measured ones. */
  def warmup(rec: Recorder): Unit = ()
  /** Runs the measured operations: as many as the spec lists, never
    * stopped by the clock, so every run measures the same work. */
  def run(rec: Recorder): Unit
  /** Correctness checks, outside the timed region; returns failures. */
  def check(): Seq[String]
  def info: Map[String, Double]
}

/** One benchmark run in its own JVM. Reads the generated spec, sets up,
  * warms up, measures, checks, and writes every raw figure as JSON for
  * the caller to reduce.
  *
  * Usage: Main --workload <name> --trace <0|1> --cores <n> --work <dir>
  */
object Main {
  implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = a("work")
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val spec = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(s"$work/spec.json")), "UTF-8"))
    val w: Workload = a("workload") match {
      case "whisper_write" => new WhisperWrite(spark, work, spec)
      case "corpus_batch" => new CorpusBatch(spark, work, spec, cores)
    }
    val ts = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - ts) / 1e9
    val tw = System.nanoTime()
    w.warmup(new Recorder(spark))
    val warmupS = (System.nanoTime() - tw) / 1e9

    val rec = new Recorder(spark)
    rec.tracedRun = trace
    val probe = if (trace) Some(Probe.attach(spark)) else None
    Heap.install()
    val gc0 = gcMs()
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = rec.nowMs
    w.run(rec)
    val endMs = rec.nowMs
    Heap.collect()
    val layers = probe.fold(Map.empty[String, Double]) { p =>
      BenchBus.drain(spark.sparkContext)
      Probe.detach(spark, p)
      val n = math.max(1, rec.opList.size).toDouble
      Layers.reduce(p, rec, rec.opList.filter(o => o.traced && o.ok), cores) ++ Map(
        "jvm.gc_ms" -> (gcMs() - gc0) / n,
        "codegen.compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0) / n)
    }
    val heapPeakMb = Heap.peakMb
    val tc = System.nanoTime()
    val failures = w.check()
    val checkS = (System.nanoTime() - tc) / 1e9
    val out = Map(
      "workload" -> a("workload"),
      "cores" -> cores,
      "session_s" -> sessionS,
      "setup_s" -> setupS,
      "warmup_s" -> warmupS,
      "t0_ms" -> t0,
      "end_ms" -> endMs,
      "heap_live_peak_mb" -> heapPeakMb,
      "ops" -> rec.opList,
      "spans" -> rec.spanList,
      "layers" -> layers,
      "info" -> w.info,
      "check_failures" -> failures,
      "check_s" -> checkS)
    Files.write(Paths.get(s"$work/result.json"), Serialization.write(out).getBytes("UTF-8"))
    spark.stop()
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Largest heap still in use right after a collection. */
  private object Heap {
    @volatile private var peak = 0L
    private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    def peakMb: Double = peak / 1048576.0
    /** Collects once more so a window without a collection still counts. */
    def collect(): Unit = {
      System.gc()
      val used = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => heapPools(p.getName)).flatMap(p => Option(p.getCollectionUsage))
        .map(_.getUsed).sum
      synchronized { if (used > peak) peak = used }
    }
    def install(): Unit = {
      System.gc()
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { if (used > peak) peak = used }
          }, null, null)
        case _ => ()
      }
    }
  }
}

/** Runs workloads one after another in this one JVM, each from its own
  * work directory with its spec, so a class-data archive dumped when the
  * JVM exits holds the classes every workload loads, traced or not.
  *
  * Usage: Prime <cores> <workload>=<work dir>...
  */
object Prime {
  def main(args: Array[String]): Unit =
    for (Array(w, work) <- args.drop(1).map(_.split("=", 2)))
      Main.main(Array("--workload", w, "--trace", "1", "--cores", args(0), "--work", work))
}
