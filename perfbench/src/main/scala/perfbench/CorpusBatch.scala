package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._

/** `corpus_batch`: LLM-data curation over the corpus, one client in a
  * closed loop running a seeded operator sequence with repeats.
  *
  * Set-up runs every operator once in a separate session, which builds
  * the shared indexes and warms the JVM. The index cache spans the JVM
  * but the plan memo belongs to one session, so the first timed call of
  * a key pays its own construction and its repeats show what the memo
  * saves.
  */
final class CorpusBatch(spark: SparkSession, work: String, spec: JValue, cores: Int)
    extends Workload {
  implicit val formats: Formats = DefaultFormats

  private val data = (spec \ "data").extract[String]
  private val sequence = (spec \ "sequence").extract[Seq[String]]
  private val passLength = (spec \ "pass_length").extract[Int]
  private var next = 0
  private val returned = mutable.Map.empty[String, DataFrame]

  def setup(): Unit = {
    val indexSession = spark.newSession()
    Ops.parallel(sequence.take(passLength), cores)(k =>
      Ops.noop(SparkEntry.queries(k)(indexSession, data)))
  }

  /** Runs the whole sequence. A run that stopped on time would hold
    * fewer repeats when the machine is slow, and its mean would move with
    * the share of first calls rather than with their cost. */
  def run(rec: Recorder): Unit =
    for (key <- sequence) {
      next += 1
      rec.op(key) { ctx =>
        val df = ctx.layer("ops.construct")(SparkEntry.queries(key)(spark, data))
        ctx.extra("plancache_hit") = if (returned.get(key).exists(_ eq df)) 1 else 0
        returned(key) = df
        ctx.materialize(df)
      }
    }

  /** Writes each executed key's result next to its oracle SQL; the
    * caller compares them with DuckDB.
    */
  def check(): Seq[String] = {
    val keys = sequence.take(next).distinct.sorted
    val out = s"$work/oracle"
    val sql = SparkEntry.oracleSql
    val missing = keys.filterNot(sql.contains)
    Ops.parallel(keys.filter(sql.contains), cores)(k =>
      SparkEntry.queries(k)(spark, data).write.parquet(s"$out/$k"))
    Files.createDirectories(Paths.get(out))
    val json = org.json4s.jackson.Serialization.write(keys.filter(sql.contains).map(k => k -> sql(k)).toMap)
    Files.write(Paths.get(s"$out/oracle_sql.json"), json.getBytes("UTF-8"))
    missing.map(k => s"$k: no oracle SQL")
  }

  def info: Map[String, Double] = Map("ops_run" -> next.toDouble)
}
