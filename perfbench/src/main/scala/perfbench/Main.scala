package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.operators.StoreStats

/** Benchmark harness: runs one workload against the engine's public
  * entry points and writes the result as JSON to `--out`.
  *
  *   --workload ingest_hourly|query_mix --seed N --seconds S --trace 0|1
  *   --cores N --work DIR --data DIR --pages DIR --stream-pages DIR
  *   --mix FILE --goldens FILE --out FILE
  *
  * Set-up (session start plus one warm-up pass) runs three times, each on
  * a wiped state dir; the last session stays for the timed passes. Timed
  * passes start until `--seconds` have passed, and there are at least
  * the workload's `minPasses`. With `--trace 1` there are at least two:
  * odd passes are traced and even ones are not (their ratio is the
  * tracing overhead), and the other workload runs a short
  * traced probe afterwards, so every traced run reports every layer.
  *
  * `--dump DIR` instead writes each mix query's answer as parquet plus
  * the engine's oracle SQL, and the goldens, for a one-off DuckDB check.
  */
object Main {
  val Workloads = Seq("ingest_hourly", "query_mix")
  val Setups = 3
  /** Layer spans must cover at least this share of each traced pass's
    * wall time (the pass span's own self time is harness bookkeeping). */
  val AccountedMin = 0.90
  /** Passes of the other workload in a traced run's probe. */
  val ProbePasses = Map("ingest_hourly" -> 2, "query_mix" -> 1)

  def make(name: String, env: Env): Workload = name match {
    case "ingest_hourly" => new Ingest(env)
    case "query_mix" => new Mix(env)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(cores: Int): SparkSession = {
    val s = GraftSession.builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val env = Env(a("work"), a("data"), a("pages"), a("stream-pages"), a("mix"), a("goldens"),
      a.getOrElse("seed", "1").toLong)
    val cores = a("cores").toInt
    if (a.contains("dump")) Dump.run(session(cores), new Mix(env), env, a("dump"), a.get("watch"))
    else {
      val out = run(env, a("workload"), a("seconds").toDouble, a("trace") == "1", cores)
      val w = new java.io.PrintWriter(a("out"), "UTF-8")
      try w.println(out) finally w.close()
    }
  }

  def run(env: Env, name: String, seconds: Double, trace: Boolean, cores: Int): String = {
    val wl = make(name, env)
    var attempted = 0L
    var failed = 0L

    // set-up, several times; report medians
    val setupS = mutable.ArrayBuffer.empty[(Double, Double)]
    var spark: SparkSession = null
    for (k <- 0 until Setups) {
      if (spark != null) spark.stop()
      Disk.delete(env.state)
      val t0 = System.nanoTime()
      spark = session(cores)
      val t1 = System.nanoTime()
      wl.warm(spark)
      setupS += (((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9))
      System.err.println(f"[perfbench] set-up $k: session ${setupS.last._1}%.2f s, warm-up ${setupS.last._2}%.2f s")
    }
    val sc = spark.sparkContext

    // timed passes
    val tr = new Tracer(trace)
    val plain = mutable.ArrayBuffer.empty[PassResult]
    val traced = mutable.ArrayBuffer.empty[PassResult]
    StoreStats.reset()
    val start = System.nanoTime()
    var k = 0
    while (k < math.max(wl.minPasses, if (trace) 2 else 1) || (System.nanoTime() - start) / 1e9 < seconds) {
      val on = trace && k % 2 == 1
      if (on) sc.addSparkListener(tr.listener)
      val r = wl.pass(spark, if (on) tr else Tracer.off, k)
      if (on) { tr.drain(); sc.removeSparkListener(tr.listener) }
      (if (on) traced else plain) += r
      System.err.println(f"[perfbench] pass $k${if (on) " (traced)" else ""}: ${r.wallS}%.2f s, " +
        s"${r.opsMs.size} ops, ${r.failed} failed")
      attempted += r.attempted
      failed += r.failed
      k += 1
    }
    // warm-store audit: a miss outside the workload's own fresh stores
    // means a store was built inside the timed passes
    val misses = StoreStats.snapshot()._2.filter { case (p, _) => !wl.ownedRoots.exists(p.startsWith) }
    misses.foreach { case (p, n) => System.err.println(s"[perfbench] store miss in timed passes: $p x$n") }
    attempted += 1
    if (misses.nonEmpty) failed += 1

    val (va, vf) = wl.verify(spark)
    attempted += va
    failed += vf

    // Interference from other tenants only ever adds time, and comes in
    // stretches of seconds to minutes: each operation counts with its
    // fastest pass, and the pass time is the fastest pass.
    val ops = plain.flatMap(_.opsMs).groupBy(_._1).values.map(_.map(_._2).min).toSeq
    val walls = plain.map(_.wallS).toSeq
    val named = namedMetrics(name, ops, walls) :+ Metric("rss_peak_mb", Disk.rssPeakMb(), "MB")
    val metrics: Seq[Metric] =
      if (!trace) Seq(
        Metric("setup_s", Stats.median(setupS.map(s => s._1 + s._2).toSeq), "s"),
        Metric("op_geomean_ms", Stats.geomean(ops), "ms"),
        Metric("pass_s", walls.min, "s"))
      else {
        // probes: every other workload, traced, after the main window
        val probes = Workloads.filter(_ != name).map(o => o -> make(o, env)).toMap
        for ((o, p) <- probes) {
          p.warm(spark)
          sc.addSparkListener(tr.listener)
          for (j <- 0 until ProbePasses(o)) {
            val r = p.pass(spark, tr, 2 * j + 1)
            attempted += r.attempted
            failed += r.failed
          }
          tr.drain()
          sc.removeSparkListener(tr.listener)
          val (pa, pf) = p.verify(spark)
          attempted += pa
          failed += pf
        }
        val spans = tr.finish()
        val self = tr.selfTimes(spans)
        tr.write(s"${env.work}/spans.jsonl", spans, self)
        val roots = spans.filter(s => s.name == s"$name.pass" && s.parent < 0)
        val wall = roots.map(_.dur).sum.toDouble
        val inTree = spans.filter(s => roots.exists(_.id == tr.rootOf(s).id))
        // self times of all spans sum to the wall time plus the time
        // layers ran concurrently (AQE stages, broadcasts)
        val accounted = 1 - roots.map(s => self(s.id)).sum / wall
        val overlap = inTree.map(s => self(s.id)).sum / wall - 1
        if (accounted < AccountedMin || overlap < -1e-9) {
          System.err.println(f"[perfbench] layer spans cover $accounted%.3f of pass wall time, overlap $overlap%.3f")
          failed += 1
        }
        attempted += 1
        val layerMetrics = Workloads.flatMap(n => probes.getOrElse(n, wl).layers(spark, tr, spans, self))
        Seq(
          Metric("setup.session_s", Stats.median(setupS.map(_._1).toSeq), "s"),
          Metric("setup.warm_s", Stats.median(setupS.map(_._2).toSeq), "s"),
          Metric("trace.overhead_pct", 100 * (Stats.median(traced.map(_.wallS).toSeq) /
            Stats.median(plain.map(_.wallS).toSeq) - 1), "%"),
          Metric("trace.accounted_share", accounted, "ratio"),
          Metric("trace.overlap_share", overlap, "ratio"),
          Metric("trace.spans", spans.size.toDouble, "count"),
          Metric("jvm.rss_peak_mb", Disk.rssPeakMb(), "MB"),
          Metric("audit.store_misses", misses.values.sum.toDouble, "count")) ++ layerMetrics
      }
    val confs = spark.conf.getAll.toSeq.sorted
      .filterNot { case (key, _) => Seq("spark.app.id", "spark.app.startTime", "spark.driver.port",
        "spark.driver.host", "spark.app.submitTime").contains(key) }
    spark.stop()
    def obj(ms: Seq[Metric]) = ms.map(m =>
      s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}").mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":${obj(metrics)},""" +
      s""""named":${obj(named)},"pass_walls_s":${walls.map(w => Json.num(w)).mkString("[", ",", "]")},""" +
      s""""samples":${ops.size},""" +
      s""""session_confs":${confs.map { case (k2, v) => s"${Json.str(k2)}:${Json.str(v)}" }.mkString("{", ",", "}")}}"""
  }

  /** The end-to-end metrics under the names the workload's users know;
    * a tail only where the run holds ten samples beyond it. */
  def namedMetrics(name: String, ops: Seq[Double], walls: Seq[Double]): Seq[Metric] = name match {
    case "ingest_hourly" => Metric("ingest_cycle_p50_ms", Stats.median(ops), "ms") +:
      Stats.tailLevel(ops.size).toSeq.map(q => Metric(f"ingest_cycle_p${q * 100}%.0f_ms", Stats.quantile(ops, q), "ms"))
    case _ => Seq(Metric("mix_pass_s", walls.min, "s"), Metric("mix_query_geomean_ms", Stats.geomean(ops), "ms"))
  }
}
