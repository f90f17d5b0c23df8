package perfbench

import java.io.File
import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** One timed operation as the benchmark saw it. `wallS` is the time of
  * the calls into the program; `buildS` the part spent before the final
  * action (registry rows only). `layer` holds per-operation layer counts
  * that the workload measures outside the listeners. */
final case class Sample(name: String, startNs: Long, wallS: Double,
                        buildS: Double, ok: Boolean, counts: Option[OpCounts],
                        layer: Map[String, Double])

/** An operation of a round. `index` selects its input (a day, a registry
  * row); `slot` is stable across rounds, so the traced run can alternate
  * traced and untraced executions of the same operation. */
final case class Op(name: String, index: Int, slot: Int)

trait Workload {
  def setup(): Unit
  /** The operations of round `k`, empty when the landed inputs are used up. */
  def round(k: Int): Seq[Op]
  def exec(op: Op, tracer: Option[Tracer]): Sample
}

object Workload {
  /** Time `f` (in seconds), with the listeners attached when tracing. The
    * clock stops before the bus is drained. */
  def timed[A](tracer: Option[Tracer])(f: => A): ((A, Double), Option[OpCounts]) = {
    def run: (A, Double) = { val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9) }
    tracer match {
      case Some(t) => val (r, c) = t(run); (r, Some(c))
      case None => (run, None)
    }
  }
}

/** `WeatherPipeline.runBatch` over landed days of `rows` payloads each:
  * `warmDays` untimed days into a throwaway root, then up to `days` timed
  * consecutive days into one output root, as the reference's daily runs
  * land: each day appends to `raw/weather`, overwrites `dim_locations` and
  * replaces only its own `extraction_date` partition of the fact table,
  * next to the earlier days' partitions. */
final class PipelineWorkload(spark: SparkSession, work: File, seed: Long,
                             rows: Int, days: Int, warmDays: Int) extends Workload {
  private val landingSchema = StructType(Seq(
    StructField("city", StringType), StructField("raw_json", StringType)))
  private val day0 = LocalDate.of(2026, 3, 1)
  private val expected = scala.collection.mutable.Map.empty[Int, Payloads.Expected]
  private val out = new File(work, "out")

  private def landing(day: Int) = new File(work, s"landing/day-$day")
  private def date(day: Int) = day0.plusDays(day.toLong)
  private def at(day: Int, minutes: Int) = Timestamp.from(
    date(day).atStartOfDay(ZoneOffset.UTC).toInstant.plusSeconds(minutes * 60L))

  def setup(): Unit = {
    (-warmDays until days).foreach(d => expected(d) = Payloads.land(landing(d), seed, d, rows))
    val warm = new File(work, "warm")
    (-warmDays until 0).foreach { d =>
      val s = batch(d, None, warm, -warmDays)
      require(s.ok, s"warm-up day $d failed its output check")
      System.err.println(f"[perfbench] warm-up day $d ${s.wallS}%.2f s")
    }
    graft.Fs.deleteRecursively(warm)
  }

  def round(k: Int): Seq[Op] = if (k < days) Seq(Op("batch", k, 0)) else Nil

  def exec(op: Op, tracer: Option[Tracer]): Sample = batch(op.index, tracer, out, 0)

  /** Day `day` into `root`, which holds the days `first` until `day`
    * already. After the batch: the cumulative raw count, that day's dim
    * and fact counts, the fact total and the partition set of all days so
    * far must equal the closed-form expectations. */
  private def batch(day: Int, tracer: Option[Tracer], root: File, first: Int): Sample = {
    val before = snapshot(root)
    val start = System.nanoTime()
    try {
      val ((_, wall), counts) = Workload.timed(tracer) {
        val (payloads, _) = graft.sources.IO.routeErrors(
          graft.sources.IO.readJsonPermissive(spark, landingSchema, landing(day).getPath))
        graft.pipeline.WeatherPipeline.runBatch(payloads, at(day, 0), at(day, 90), root.getPath)
      }
      // routeErrors caches the parsed landing; let it go like a daily job would
      spark.catalog.clearCache()
      val e = expected(day)
      val sofar = (first to day).map(expected)
      def rowsAt(p: String): Long = spark.read.parquet(new File(root, p).getPath).count()
      val fct = "marts/fct_weather_observations"
      val parts = Option(new File(root, fct).list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("extraction_date=")).toSet
      val got = (rowsAt("raw/weather"), rowsAt("marts/dim_locations"),
        rowsAt(s"$fct/extraction_date=${date(day)}"), rowsAt(fct), parts)
      val want = (sofar.map(_.raw).sum, e.kept, e.kept, sofar.map(_.kept).sum,
        (first to day).map(d => s"extraction_date=${date(d)}").toSet)
      val ok = got == want
      if (!ok) System.err.println(s"[perfbench] batch day $day: (raw, dim, fct day, fct, " +
        s"partitions) $got, expected $want")
      val written = snapshot(root).filter { case (p, v) => !before.get(p).contains(v) }
      Sample("batch", start, wall, 0.0, ok, counts, Map(
        "pipeline.rows_in" -> e.rowsIn.toDouble,
        "pipeline.rows_routed" -> e.routed.toDouble,
        "pipeline.rows_filtered" -> e.filtered.toDouble,
        "pipeline.rows_kept" -> e.kept.toDouble,
        "sources.bytes_written" -> written.values.map(_._1).sum.toDouble,
        "sources.files_written" -> written.size.toDouble))
    } catch {
      case ex: Exception =>
        System.err.println(s"[perfbench] batch day $day failed: $ex")
        Sample("batch", start, 0.0, 0.0, ok = false, None, Map.empty)
    }
  }

  /** Every file under `f` with its length and modification time. */
  private def snapshot(f: File): Map[String, (Long, Long)] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(snapshot).toMap
    else if (f.isFile) Map(f.getPath -> (f.length, f.lastModified))
    else Map.empty
}

/** Registry rows over one data directory, after `warmPasses` untimed
  * passes. Each pass runs the rows in its own order drawn from the seed:
  * a row's time depends on the row before it (one fixed order moved a
  * run's total by ~10% on 4 vCPUs), so a run averages over several orders
  * instead of fixing one. Every row
  * starts with released caches; its timed action is a fingerprint
  * aggregate checked against the recorded fingerprint of that row. */
final class RegistryWorkload(spark: SparkSession, dataDir: String, rows: Seq[String],
                             fingerprints: Map[String, String], seed: Long,
                             warmPasses: Int) extends Workload {
  private val sorted = rows.sorted

  def setup(): Unit = (1 to warmPasses).foreach { p =>
    val t0 = System.nanoTime()
    round(-p).foreach { op =>
      if (!exec(op, None).ok) System.err.println(s"[perfbench] warm-up ${op.name} failed")
    }
    System.err.println(f"[perfbench] warm-up pass $p ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def round(k: Int): Seq[Op] = new scala.util.Random(seed * 1000003L + k)
    .shuffle(sorted.indices.toVector).map(i => Op(sorted(i), i, i))

  def exec(op: Op, tracer: Option[Tracer]): Sample = {
    spark.catalog.clearCache()
    graft.Caches.release()
    val start = System.nanoTime()
    try {
      val (((fp, buildS), wall), counts) = Workload.timed(tracer) {
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(op.name)(spark, dataDir)
        val buildS = (System.nanoTime() - t0) / 1e9
        (Registry.fingerprint(df), buildS)
      }
      val ok = fingerprints.get(op.name).contains(fp)
      if (!ok) System.err.println(s"[perfbench] ${op.name}: fingerprint $fp, recorded " +
        fingerprints.getOrElse(op.name, "none"))
      Sample(op.name, start, wall, buildS, ok, counts, Map(
        "caches.built" -> graft.Caches.builtCount.toDouble,
        "caches.memos" -> graft.Caches.memoCount.toDouble))
    } catch {
      case ex: Exception =>
        System.err.println(s"[perfbench] ${op.name} failed: $ex")
        Sample(op.name, start, 0.0, 0.0, ok = false, None, Map.empty)
    }
  }
}

object Registry {
  /** `count(*)` and the sum of `xxhash64` over every column cast to
    * string, as `n:h`. Unlike `count()`, this forces every output column
    * to be computed. The hashes are summed as decimals so the sum cannot
    * overflow under ANSI arithmetic. */
  def fingerprint(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toSeq.map(c => col(s"`$c`").cast("string")): _*)
        .cast("decimal(20,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("null")}"
  }

  def loadFingerprints(f: File): Map[String, String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(name, fp) = l.split("\t"); name -> fp
    }.toMap
    finally src.close()
  }
}
