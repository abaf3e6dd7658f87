package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.{TimeSeriesPoint, WhisperTable}
import graft.model.Retentions
import graft.ops.{Buckets, RenderTarget}
import graft.sources.Carbon
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.json4s._

/** `whisper_write`: carbon ingest with reads on the same table, as one
  * writer in a closed loop — the shape of a carbon-cache flush. Each
  * cycle parses a batch of carbon lines, writes it with `updateMany`
  * while `now` moves forward, and reads back series it just wrote the
  * ways graphite does: `fetch`, `fetchMany`, `fetchGlob`, a render of a
  * dashboard target over the fetched series, and a `format("wsp")` read
  * of the `.wsp` tree exported after the warm-up cycles.
  */
final class WhisperWrite(spark: SparkSession, work: String, spec: JValue)
    extends Workload {
  import WhisperWrite._
  implicit val formats: Formats = DefaultFormats

  private val batches = (spec \ "batches").extract[Seq[Batch]]
  private val warmupCycles = (spec \ "warmup_cycles").extract[Int]
  private val series = (spec \ "series").extract[Seq[String]]
  private val tree = s"$work/wsp"
  private var table: WhisperTable = _
  private var next = 0
  private var exportMs = 0.0

  def setup(): Unit =
    table = WhisperTable.create(spark, s"$work/table", Retentions.std)

  /** The first cycles, the `.wsp` export of what they wrote, and one
    * untimed render and tree read. */
  override def warmup(rec: Recorder): Unit = {
    while (next < warmupCycles) cycle(rec)
    val t0 = System.nanoTime()
    table.exportWsp(tree).collect()
    exportMs = (System.nanoTime() - t0) / 1e6
    Ops.noop(render(batches(next - 1)))
    Ops.noop(wspRead(batches(next - 1)))
  }

  /** Every remaining batch. Cycles differ in cost: each rewrites the day
    * partition the earlier ones filled, and the JIT warms as they go. A
    * run that stopped on time would weigh them by the engine's speed. */
  def run(rec: Recorder): Unit =
    while (next < batches.size) cycle(rec)

  private def cycle(rec: Recorder): Unit = {
    import spark.implicits._
    val b = batches(next)
    next += 1
    val before = files(table.path)
    val r = rec.op("cycle") { ctx =>
      val (pts, obs) = Carbon.parsedObserved(spark.read.text(b.file), b.now)
      val parsed = pts.persist()
      try {
        ctx.layer("carbon.parse")(Ops.noop(parsed))
        val counts = obs.get
        ctx.extra("dropped") = counts("dropped").asInstanceOf[Long].toDouble
        ctx.extra("parsed") = counts("accepted").asInstanceOf[Long].toDouble
        val res = ctx.layer("whisper.update")(table.updateMany(
          parsed.select(col("metric"), col("ts_s").as("time"), col("value"))
            .as[TimeSeriesPoint], b.now))
        ctx.extra("accepted") = res.accepted.toDouble
        ctx.extra("rejected") = res.rejected.toDouble
      } finally parsed.unpersist()
      for ((read, i) <- fetches(b).zipWithIndex) {
        val t0 = rec.nowMs
        ctx.layer("whisper.fetch")(Ops.noop(read()))
        ctx.extra(s"read$i" + "_ms") = rec.nowMs - t0
      }
      // the tree exists once the warm-up cycles have written it
      if (next > warmupCycles) {
        val t0 = rec.nowMs
        ctx.materialize(ctx.layer("ops.construct")(render(b)))
        val t1 = rec.nowMs
        ctx.materialize(ctx.layer("wsp.scan")(wspRead(b)))
        ctx.extra("render_ms") = t1 - t0
        ctx.extra("wsp_ms") = rec.nowMs - t1
      }
    }
    // write amplification, listed outside the timed cycle
    val after = files(table.path)
    val written = after.filterNot { case (p, _) => before.contains(p) }
    rec.amend(r.id, Map("files_written" -> written.size.toDouble,
      "bytes_written" -> written.values.sum.toDouble, "cycle" -> b.cycle.toDouble))
  }

  private def fetches(b: Batch): Seq[() => DataFrame] = Seq(
    () => table.fetch(b.reads.fetch, b.now - 3600, b.now, b.now),
    () => table.fetchMany(b.reads.fetchMany, b.now - 6 * 3600, b.now, b.now),
    () => table.fetchGlob(b.reads.fetchGlob, b.now - 3600, b.now, b.now))

  /** A dashboard panel over the host just written, rendered from the
    * table's own fetch of the last hour at the finest archive. */
  private def render(b: Batch): DataFrame = {
    val from = b.now - 3600
    val pts = table.fetchGlob(b.reads.fetchGlob, from - RenderHistoryS, b.now, b.now)
      .filter(col("value").isNotNull)
      .select(col("metric"), col("bucket_ts").as("ts_s"), col("value"))
    RenderTarget.evaluate(spark, pts,
      s"movingAverage(sumSeries(${b.reads.fetchGlob}), 5)", from, b.now, 60)
  }

  /** One series of the exported tree, finest archive. */
  private def wspRead(b: Batch): DataFrame =
    spark.read.format("wsp").load(tree)
      .filter(col("metric") === b.reads.fetch && col("archive") === 0)
      .select(col("ts_s"), col("value"))

  def check(): Seq[String] = {
    val last = batches(next - 1)
    val now = last.now
    // the finest archive's live content, for the caller to compare with
    // the generator's LWW model
    table.fetchMany(series, now - 86400, now, now)
      .filter(col("value").isNotNull)
      .write.parquet(s"$work/final_1m")
    // the last cycle's render and .wsp read, by the row counts they imply
    val failures = Seq.newBuilder[String]
    val renderRows = render(last).count()
    val buckets = (Buckets.fetchInterval(now, 60) - Buckets.fetchInterval(now - 3600, 60)) / 60
    if (renderRows != buckets) failures += s"render: $renderRows rows, window implies $buckets"
    // the tree holds the buckets the warm-up cycles wrote for the series
    val slice = batches(1).now - batches(0).now
    val written = table.fetch(last.reads.fetch, batches(0).now - slice - 1,
      batches(warmupCycles - 1).now - 1, now).filter(col("value").isNotNull).count()
    val wspRows = wspRead(last).count()
    if (wspRows != written) failures += s"wsp read: $wspRows rows, the warm-up wrote $written"
    failures.result()
  }

  def info: Map[String, Double] = Map(
    "cycles_run" -> next.toDouble,
    "table_bytes" -> files(table.path).values.sum.toDouble,
    "wsp.export_ms" -> exportMs)
}

object WhisperWrite {
  final case class Reads(fetch: String, fetchMany: Seq[String], fetchGlob: String)
  final case class Batch(cycle: Int, now: Long, file: String, reads: Reads)

  /** The history `movingAverage(…, 5)` needs at 60 s steps. */
  private val RenderHistoryS = 300L

  /** Data files of the table: path -> bytes. */
  def files(root: String): Map[String, Long] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map((p: Path) => p.toString -> Files.size(p)).toMap
    finally s.close()
  }
}
