package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation as the benchmark saw it. Times are epoch ms. */
final case class OpRec(id: Long, kind: String, startMs: Double, endMs: Double, ok: Boolean, error: String, traced: Boolean,
    extra: Map[String, Double])

/** A layer-boundary span: the call into one layer's public function. */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startMs: Double, endMs: Double)

/** Records operations and, when tracing, their spans. Spans are kept in
  * memory and written out with the result when the run ends.
  */
final class Recorder(spark: SparkSession) {
  val ops = new ConcurrentLinkedQueue[OpRec]
  val spans = new ConcurrentLinkedQueue[Span]
  private val nextOp = new AtomicLong(0)
  private val nextSpan = new AtomicInteger(0)
  /** In a traced run every other operation is traced: the untraced ones
    * in between give the tracing overhead from the same run. */
  @volatile var tracedRun = false

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Runs one operation. A throw marks it failed; a failed operation is
    * recorded without a usable time.
    */
  def op(kind: String)(body: OpCtx => Unit): OpRec = {
    val id = nextOp.getAndIncrement()
    val traced = tracedRun && id % 2 == 1
    val ctx = new OpCtx(id, traced)
    val start = nowMs
    val rootId = if (traced) nextSpan.getAndIncrement() else -1
    ctx.parents = List(rootId)
    val err = try { body(ctx); "" } catch {
      case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(300)
    }
    val end = nowMs
    if (traced) spans.add(Span(rootId, -1, id, "op", start, end))
    val rec = OpRec(id, kind, start, end, err.isEmpty, err, traced, ctx.extra.toMap)
    ops.add(rec)
    rec
  }

  final class OpCtx(val id: Long, val traced: Boolean) {
    private[Recorder] var parents: List[Int] = Nil
    val extra = scala.collection.mutable.Map.empty[String, Double]

    /** A call into one layer: tagged for the listeners, spanned when
      * tracing, and its wall time added to `extra(name + "_ms")`.
      */
    def layer[T](name: String)(f: => T): T = {
      val sid = if (traced) nextSpan.getAndIncrement() else -1
      val parent = parents.head
      parents = sid :: parents
      val t0 = nowMs
      // tags name the outermost layer: nested calls inherit its tags
      try if (traced && parents.size == 2) Probe.tagged(spark, id, name)(f) else f
      finally {
        val t1 = nowMs
        parents = parents.tail
        extra(name + "_ms") = extra.getOrElse(name + "_ms", 0.0) + (t1 - t0)
        if (traced) spans.add(Span(sid, parent, id, name, t0, t1))
      }
    }

    def materialize(df: DataFrame): Unit = layer("materialize")(Ops.noop(df))
  }

  private val amended = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Double]]

  /** Adds figures measured after the operation ended. */
  def amend(id: Long, extra: Map[String, Double]): Unit = amended.put(id, extra)

  /** Adds a span recorded outside the calling thread (listener-derived). */
  def addSpan(parent: Int, op: Long, name: String, startMs: Double, endMs: Double): Unit =
    spans.add(Span(nextSpan.getAndIncrement(), parent, op, name, startMs, endMs))

  def opList: Seq[OpRec] = ops.asScala.toSeq.sortBy(_.id).map { o =>
    Option(amended.get(o.id)).fold(o)(a => o.copy(extra = o.extra ++ a))
  }
  def spanList: Seq[Span] = spans.asScala.toSeq
}

object Ops {
  /** Runs `f` over `items` on `threads` threads; rethrows the first failure. */
  def parallel[T](items: Seq[T], threads: Int)(f: T => Unit): Unit = {
    val next = new AtomicInteger(0)
    val errors = new ConcurrentLinkedQueue[Throwable]
    val ts = (0 until math.min(threads, items.size)).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < items.size) {
          try f(items(i)) catch { case e: Throwable => errors.add(e) }
          i = next.getAndIncrement()
        }
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** Computes every row and column of `df`: the noop sink, never count(). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
