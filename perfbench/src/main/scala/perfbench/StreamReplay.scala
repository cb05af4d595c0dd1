package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.etl.AirQualityEtl
import graft.operators.TableStore
import graft.streaming.Streams

/** The mix's `stream_replay` member: the hourly feed replayed through
  * Spark's micro-batch engine, one report page per trigger (AvailableNow,
  * `maxFilesPerTrigger` 1). A replay runs two queries over the same
  * staged pages, each from a fresh checkpoint:
  *  - `upsert`: pages parsed executor-side (`AirQualityEtl.archiveReadings`)
  *    into the partitioned keyed-merge sink `Streams.upsertSinkPartitioned`
  *    — checkpoint WAL and commit plus one store commit per trigger;
  *  - `state`: the per-station delivery counter `Streams.runningKeyCounts`
  *    (mapGroupsWithState) — the state store on every trigger.
  * The pages come from the ingest generator with a fixed seed, so the
  * answer has a golden like every other mix member. */
final class StreamReplay(env: Env) {
  private val pages = Json.arr(Json.obj(Json.read(s"${env.streamPages}/expected.json"))("pages")).map(Json.obj)
  private def stageDir = s"${env.state}/stream-stage"
  private def runDir(k: Int) = s"${env.state}/stream-run-$k"

  /** Progress of every replay's queries, and the replays that were traced. */
  private val progress = mutable.ArrayBuffer.empty[(Int, String, org.apache.spark.sql.streaming.StreamingQueryProgress)]
  private val traced = mutable.Set.empty[Int]
  private var replays = 0
  private var last: Option[(TableStore, mutable.Map[String, Long])] = None
  private val storeFiles = mutable.ArrayBuffer.empty[Long] // after each traced replay

  /** Copies the first pages into the stage dir, with ascending mtimes
    * so the file source replays them in feed order. */
  private def stage(): Unit = if (!Files.exists(Paths.get(stageDir))) {
    Files.createDirectories(Paths.get(stageDir))
    for ((p, i) <- pages.zipWithIndex) {
      val dst = Paths.get(stageDir, p("file").toString)
      Files.copy(Paths.get(env.streamPages, p("file").toString), dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 1000L))
    }
  }

  private def readings(spark: SparkSession) = {
    import spark.implicits._
    val html = spark.readStream.option("wholetext", "true").option("maxFilesPerTrigger", 1L)
      .text(stageDir).as[String]
    AirQualityEtl.archiveReadings(spark, html)
  }

  private def await(q: StreamingQuery): StreamingQuery = { q.awaitTermination(); q }

  /** One replay; returns the stored readings. */
  def run(spark: SparkSession, tr: Tracer): DataFrame = {
    import spark.implicits._
    stage()
    val k = replays
    replays += 1
    if (tr.enabled) traced += k
    val dir = runDir(k)
    Disk.delete(runDir(k - 2)) // keep the work dir small
    val store = new TableStore(s"$dir/store")
    val counts = mutable.Map.empty[String, Long]
    val qa = tr.span("upsert") {
      await(Streams.upsertSinkPartitioned(
        readings(spark).withColumn("p_date", (col("report_ts") / 100).cast("int")),
        store, "cdmx", Seq("report_ts", "clave_str"), "p_date")
        .trigger(Trigger.AvailableNow()).option("checkpointLocation", s"$dir/ckpt-upsert").start())
    }
    val qb = tr.span("state") {
      val events = readings(spark).select(col("clave_str").as("key"), col("report_time").as("ts"))
        .as[Streams.KeyedEvent]
      await(Streams.runningKeyCounts(events).writeStream.outputMode("update")
        .foreachBatch { (b: Dataset[Streams.KeyCount], _: Long) =>
          b.collect().foreach(kc => counts(kc.key) = kc.n) }
        .trigger(Trigger.AvailableNow()).option("checkpointLocation", s"$dir/ckpt-state").start())
    }
    for (q <- Seq(qa, qb); p <- q.recentProgress) progress += ((k, if (q eq qa) "upsert" else "state", p))
    if (tr.enabled) for (q <- Seq(qa, qb); p <- q.recentProgress if p.durationMs.containsKey("triggerExecution")) {
      val start = java.time.Instant.parse(p.timestamp)
      val s0 = start.getEpochSecond * 1000000000L + start.getNano
      tr.trigger(s"trigger ${p.batchId}", s0, s0 + p.durationMs.get("triggerExecution") * 1000000L)
    }
    if (tr.enabled) storeFiles += Disk.census(store.root)._1
    last = Some((store, counts))
    store.read(spark, "cdmx")
      .select("report_ts", "clave_str", "alcaldia_str", "calidad_del_aire_str", "parametro_str", "nupdates")
      .orderBy("report_ts", "clave_str")
  }

  /** The last replay's stored `nupdates` per (hour, station) and its
    * streamed counter per station must equal the generator's delivery
    * counts. */
  def check(spark: SparkSession): Boolean = {
    val (store, counts) = last.getOrElse(throw new IllegalStateException("no replay yet"))
    val want = mutable.Map.empty[(Long, String), Long]
    for (p <- pages; s <- Json.arr(Json.obj(p("keys"))("cdmx"))) {
      val key = (p("report_ts").toString.toLong, s.toString)
      want(key) = want.getOrElse(key, 0L) + 1
    }
    val got = store.read(spark, "cdmx").select("report_ts", "clave_str", "nupdates").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val perStation = want.toSeq.groupBy(_._1._2).map { case (s, xs) => s -> xs.map(_._2).sum }
    val ok = got == want.toMap && counts.toMap == perStation
    if (!ok) System.err.println(s"[perfbench] stream replay wrong: ${got.size} stored keys vs ${want.size}, " +
      s"${counts.size} counters vs ${perStation.size}")
    ok
  }

  private val phases = Seq("addBatch" -> "add_batch_ms", "queryPlanning" -> "query_planning_ms",
    "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms",
    "latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms")

  /** From the traced replays. */
  def layers(spans: Seq[Span]): Seq[Metric] = {
    val ps = progress.filter(p => traced.contains(p._1)).toSeq
    def phase(n: String) = Stats.median(ps.map(p => Option(p._3.durationMs.get(n)).map(_.toDouble).getOrElse(0.0)))
    def leg(n: String) = Stats.median(spans.filter(s => s.name == n && s.kind == "call").map(s => s.dur / 1e9))
    val trig = spans.filter(_.kind == "trigger")
    val trigJobs = spans.filter(s => s.kind == "job" && s.parent >= 0 && spans(s.parent).kind == "trigger")
    val lastState = ps.filter(_._2 == "state").lastOption.map(_._3.stateOperators).getOrElse(Array.empty)
    Seq(Metric("stream.upsert.pass_s", leg("upsert"), "s"), Metric("stream.state.pass_s", leg("state"), "s")) ++
      phases.map { case (k, n) => Metric(s"stream.$n", phase(k), "ms") } ++ Seq(
      Metric("stream.state_rows", lastState.map(_.numRowsTotal).sum.toDouble, "count"),
      Metric("stream.state_mem_mb", lastState.map(_.memoryUsedBytes).sum / 1e6, "MB"),
      Metric("stream.jobs_per_batch", trigJobs.size.toDouble / trig.size, "count"),
      Metric("stream.tasks_per_batch", Workload.jobSum(trigJobs, "tasks") / trig.size, "count"),
      Metric("stream.files_per_batch", Stats.median(storeFiles.map(_.toDouble).toSeq) / pages.size, "count"))
  }
}
