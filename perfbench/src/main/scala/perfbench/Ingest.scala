package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.AirQualityEtl
import graft.operators.TableStore
import graft.sources.Html

/** `ingest_hourly`: the reference's own traffic. One cycle applies one
  * generated report page with `AirQualityEtl.runBatch` and then reads
  * the current air per station (the newest hour) back, collected. A
  * pass is `CyclesPerPass` consecutive pages. The warm-up pass applies
  * the first pages to a fresh store, and the timed passes continue the
  * same feed into it, so every timed cycle merges into tables that grow
  * through the run. */
final class Ingest(env: Env) extends Workload {
  val name = "ingest_hourly"
  val CyclesPerPass = 3
  val minPasses = 1

  private val expected = Json.obj(Json.read(s"${env.pages}/expected.json"))
  private val pages = Json.arr(expected("pages")).map(Json.obj)
  private def html(i: Int): String = Disk.readString(s"${env.pages}/${pages(i)("file")}")

  private val store = new TableStore(s"${env.state}/ingest-store")
  private var cursor = 0 // pages applied to the store

  def ownedRoots: Seq[String] = Seq(store.root)

  /** The "current air per station" read — the engine's `etl_current_air`
    * shape: readings of the newest hour, with their update counts. */
  private def currentAir(spark: SparkSession, st: TableStore): Seq[Seq[Any]] = {
    val cdmx = st.read(spark, "cdmx")
    cdmx.join(broadcast(cdmx.agg(max(col("report_ts")).as("mts"))), col("report_ts") === col("mts"))
      .select("clave_str", "alcaldia_str", "calidad_del_aire_str", "parametro_str", "nupdates")
      .orderBy("clave_str")
      .collect().toSeq.map(r => r.toSeq.map {
        case l: java.lang.Long => l.longValue: Any
        case x => x
      })
  }

  private def expectedCurrent(i: Int): Seq[Seq[Any]] =
    Json.arr(pages(i)("current")).map(r => Json.arr(r).map {
      case n: java.lang.Integer => n.longValue: Any
      case n: java.lang.Long => n.longValue: Any
      case x => x
    })

  /** One cycle; returns true if the answer matched. */
  private def cycle(spark: SparkSession, tr: Tracer, st: TableStore, i: Int): Boolean = {
    val page = html(i)
    if (tr.enabled) {
      tr.span("parse") { AirQualityEtl.parseMeta(Html.parse(page)) }
      tr.span("transform") { AirQualityEtl.batchFromHtml(spark, page) }
    }
    tr.span("runBatch") { AirQualityEtl.runBatch(spark, st, page) }
    val got = tr.span("read") { currentAir(spark, st) }
    got == expectedCurrent(i)
  }

  /** Starts the feed on the (freshly wiped) store. */
  def warm(spark: SparkSession): Unit =
    for (i <- 0 until CyclesPerPass) {
      if (!cycle(spark, Tracer.off, store, i)) System.err.println(s"[perfbench] warm-up cycle $i: wrong current air")
      cursor = i + 1
    }

  def pass(spark: SparkSession, tr: Tracer, k: Int): PassResult = {
    require(cursor + CyclesPerPass <= pages.size, "ran out of generated pages")
    val ops = mutable.ArrayBuffer.empty[(String, Double)]
    var failed = 0
    val t0 = System.nanoTime()
    tr.span(s"$name.pass", s"pass$k") {
      for (_ <- 0 until CyclesPerPass) {
        val c0 = System.nanoTime()
        val ok = tr.span("cycle", s"cycle$cursor") {
          try cycle(spark, tr, store, cursor)
          catch { case e: Exception => System.err.println(s"[perfbench] cycle $cursor: $e"); false }
        }
        ops += s"cycle$cursor" -> (System.nanoTime() - c0) / 1e6
        if (!ok) { failed += 1; System.err.println(s"[perfbench] cycle $cursor: wrong current air") }
        cursor += 1
      }
    }
    PassResult(ops.toSeq, (System.nanoTime() - t0) / 1e9, CyclesPerPass, failed)
  }

  /** Row counts and per-key `nupdates` of all three tables must equal
    * the generator's delivery counts for the pages applied. */
  def verify(spark: SparkSession): (Int, Int) = {
    val want = mutable.Map.empty[(String, Long, String), Long]
    for (p <- pages.take(cursor)) {
      val ts = p("report_ts").toString.toLong
      val keys = Json.obj(p("keys"))
      for (t <- Seq("cdmx", "edomex"); k <- Json.arr(keys(t)))
        want((t, ts, k.toString)) = want.getOrElse((t, ts, k.toString), 0L) + 1
      want(("gral_stats", ts, "")) = want.getOrElse(("gral_stats", ts, ""), 0L) + 1
    }
    var failed = 0
    for (t <- Seq("cdmx", "edomex", "gral_stats")) {
      val keyCols = if (t == "gral_stats") Seq(col("report_ts"), lit("")) else Seq(col("report_ts"), col("clave_str"))
      val got = store.read(spark, t).select(keyCols :+ col("nupdates"): _*).collect()
        .map((r: Row) => (t, r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val exp = want.filter(_._1._1 == t).toMap
      if (got != exp) {
        failed += 1
        System.err.println(s"[perfbench] $t: ${got.size} rows vs ${exp.size} expected, " +
          s"${got.count { case (k, v) => exp.get(k).contains(v) }} keys agree")
      }
    }
    (3, failed)
  }

  def layers(spark: SparkSession, tr: Tracer, spans: Seq[Span], self: Map[Int, Long]): Seq[Metric] = {
    val cycles = spans.filter(s => s.name == "cycle" && s.kind == "call").sortBy(_.start)
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    def desc(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil).flatMap(c => c +: desc(c))
    def child(c: Span, n: String) = kids.getOrElse(c.id, Nil).find(_.name == n).map(s => Workload.ms(s.dur)).getOrElse(0.0)
    val upserts = cycles.map(c => child(c, "runBatch") - child(c, "transform"))
    val perCycle = cycles.map(desc)
    val n = cycles.size.toDouble
    def perJob(attr: String) = perCycle.map(d => Workload.jobSum(d, attr)).sum / n
    val third = math.max(1, cycles.size / 3)
    val (files, bytes) = Disk.census(store.root)
    val rows = Seq("cdmx", "edomex", "gral_stats").map(t => store.read(spark, t).count()).sum
    Seq(
      Metric("ingest.parse_ms", Stats.median(cycles.map(child(_, "parse"))), "ms"),
      Metric("ingest.transform_ms", Stats.median(cycles.map(child(_, "transform"))), "ms"),
      Metric("ingest.upsert_ms", Stats.median(upserts), "ms"),
      Metric("ingest.read_ms", Stats.median(cycles.map(child(_, "read"))), "ms"),
      Metric("ingest.files_per_cycle", files.toDouble / cursor, "count"),
      Metric("ingest.store_bytes_per_row", bytes.toDouble / rows, "B"),
      Metric("ingest.upsert_growth", Stats.median(upserts.takeRight(third)) / Stats.median(upserts.take(third)), "ratio"),
      Metric("ingest.jobs_per_cycle", perCycle.map(_.count(_.kind == "job")).sum / n, "count"),
      Metric("ingest.tasks_per_cycle", perJob("tasks"), "count"),
      Metric("ingest.task_run_ms_per_cycle", perJob("task_run_ms"), "ms"),
      Metric("ingest.task_cpu_ms_per_cycle", perJob("task_cpu_ms"), "ms"),
      Metric("ingest.driver_self_ms_per_cycle",
        perCycle.zip(cycles).map { case (d, c) =>
          (c +: d).filter(_.kind == "call").map(s => Workload.ms(self(s.id))).sum }.sum / n, "ms"))
  }
}
