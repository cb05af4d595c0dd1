package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.Functions.dsum
import graft.operators.{Graph, TableStore}
import graft.sources.Tables

/** `query_mix`: a fixed list of batch queries from `SparkEntry.queries`
  * over the benchmark's copy of the sf0.01 tables, plus three members
  * the harness drives itself: `a16_pagerank` over co-purchase pairs it
  * derives itself (family `graph`), a bulk `TableStore` job (family
  * `store`) and a streamed replay of the hourly feed (family `stream`,
  * see `StreamReplay`). The seed sets only the order of the queries within
  * a pass. Each query is timed as construct (building the DataFrame:
  * planning, driver-side loops, store commits, streamed replays) plus
  * execute (collecting its rows: at most a few thousand here). Every
  * collected answer is then compared, untimed, with its golden. */
final class Mix(env: Env) extends Workload {
  val name = "query_mix"
  /** A pass takes about the whole timed window; two passes at least
    * halve the weight of one slow stretch of the machine. */
  val minPasses = 2

  private val mixSpec = Json.obj(Json.read(env.mixFile))
  /** (query, family), in the file's order. */
  val queries: Seq[(String, String)] =
    Json.arr(mixSpec("queries")).map(Json.obj).map(q => (q("name").toString, q("family").toString))
  private val family = queries.toMap
  private lazy val goldens = Json.obj(Json.obj(Json.read(env.goldensFile))("queries")).map {
    case (q, g) => q -> Json.obj(g)
  }

  private val storeRoot = s"${env.state}/mix-store"
  private val replay = new StreamReplay(env)
  def ownedRoots: Seq[String] = Seq(storeRoot, s"${env.state}/stream-run-")

  /** The store family's harness job: a fresh partitioned table takes
    * the orders table in one keyed upsert, then a second upsert
    * rewrites a fifth of the keys (ON CONFLICT bumps `nupdates`). */
  private def storeUpsertBulk(spark: SparkSession, dir: String): DataFrame = {
    Disk.delete(storeRoot)
    val st = new TableStore(storeRoot)
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("p_year", year(col("o_orderdate")))
    st.upsertPartitioned(spark, "orders", orders, Seq("o_orderkey"), "p_year")
    st.upsertPartitioned(spark, "orders",
      orders.where(col("o_orderkey") % 5 === 0).withColumn("o_totalprice", col("o_totalprice") + 1),
      Seq("o_orderkey"), "p_year")
    st.read(spark, "orders").groupBy("p_year")
      .agg(count(lit(1)).as("n"), sum("nupdates").as("nupdates"), dsum(col("o_totalprice")).as("total"))
      .orderBy("p_year")
  }

  /** The graph family's harness job: the engine's `a16_pagerank` (same
    * `Graph.rankPowerIteration` call and output) over the co-purchase
    * pairs of lineitem. The engine's query reads those pairs from a
    * build-once store under its fixed work root, outside the checkout;
    * here they are derived in the plan, as its oracle SQL does. */
  private def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey").distinct()
    val pairs = items.toDF("l_orderkey", "a").join(items.toDF("l_orderkey", "b"), "l_orderkey")
      .filter(col("a") < col("b")).select("a", "b").distinct()
    Graph.rankPowerIteration(pairs, rounds = 3, personalized = false)
      .select(col("node").as("part"), col("r").as("rank_ppm"), col("d").as("degree"))
      .orderBy(col("rank_ppm").desc, col("part"))
      .limit(25)
  }

  /** The engine query whose oracle SQL a harness member answers. */
  val oracleOf: Map[String, String] = Map("graph_pagerank" -> "a16_pagerank")

  def query(q: String, tr: Tracer = Tracer.off): (SparkSession, String) => DataFrame = q match {
    case "graph_pagerank" => graphPagerank
    case "store_upsert_bulk" => storeUpsertBulk
    case "stream_replay" => (spark, _) => replay.run(spark, tr)
    case _ => SparkEntry.queries(q)
  }

  private def run(spark: SparkSession, tr: Tracer, q: String, k: Int): Seq[Row] =
    tr.span(q, s"$q@pass$k") {
      val df = tr.span("construct") { query(q, tr)(spark, env.data) }
      tr.span("execute") { df.collect().toSeq }
    }

  /** True if `rows` match the query's golden. */
  private def matches(q: String, rows: Seq[Row]): Boolean = {
    val (n, hash) = Golden.of(rows)
    val g = goldens(q)
    val same = g("rows").toString.toLong == n && g("sha256") == hash
    if (!same) System.err.println(s"[perfbench] $q: $n rows $hash, golden ${g("rows")} ${g("sha256")}")
    same
  }

  private def order(k: Int): Seq[String] =
    new scala.util.Random(env.seed * 1000003L + k).shuffle(queries.map(_._1))

  def warm(spark: SparkSession): Unit = order(-1).foreach(q => run(spark, Tracer.off, q, -1))

  def pass(spark: SparkSession, tr: Tracer, k: Int): PassResult = {
    val ops = mutable.ArrayBuffer.empty[(String, Double)]
    var failed = 0
    val t0 = System.nanoTime()
    tr.span(s"$name.pass", s"pass$k") {
      for (q <- order(k)) {
        val q0 = System.nanoTime()
        val rows = try Some(run(spark, tr, q, k))
        catch { case e: Exception => System.err.println(s"[perfbench] $q failed: $e"); None }
        ops += q -> (System.nanoTime() - q0) / 1e6
        if (!rows.exists(matches(q, _))) failed += 1
      }
    }
    PassResult(ops.toSeq, (System.nanoTime() - t0) / 1e9, queries.size, failed)
  }

  /** The generator's independent check of the last streamed replay. */
  def verify(spark: SparkSession): (Int, Int) = (1, if (replay.check(spark)) 0 else 1)

  def families: Seq[String] = queries.map(_._2).distinct

  def layers(spark: SparkSession, tr: Tracer, spans: Seq[Span], self: Map[Int, Long]): Seq[Metric] = {
    val passes = spans.count(s => s.name == s"$name.pass")
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    def desc(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil).flatMap(c => c +: desc(c))
    val top = spans.filter(s => s.kind == "call" && s.parent >= 0 && spans(s.parent).name == s"$name.pass")
    def leg(q: String, l: String) = Stats.median(top.filter(_.name == q).map(s =>
      kids.getOrElse(s.id, Nil).find(_.name == l).map(c => Workload.ms(c.dur)).getOrElse(0.0)))
    val byFamily = top.groupBy(s => family(s.name)).map { case (f, ss) => f -> ss.flatMap(s => s +: desc(s)) }
    def fam(f: String, attr: String) = Workload.jobSum(byFamily.getOrElse(f, Nil), attr) / passes
    queries.flatMap { case (q, _) =>
      Seq(Metric(s"mix.$q.construct_ms", leg(q, "construct"), "ms"), Metric(s"mix.$q.execute_ms", leg(q, "execute"), "ms"))
    } ++ families.flatMap(f => Seq(
      Metric(s"mix.$f.jobs", byFamily.getOrElse(f, Nil).count(_.kind == "job").toDouble / passes, "count"),
      Metric(s"mix.$f.task_cpu_s", fam(f, "task_cpu_ms") / 1000, "s"),
      Metric(s"mix.$f.shuffle_mb", (fam(f, "shuffle_read_bytes") + fam(f, "shuffle_write_bytes")) / 1e6, "MB"))) ++ Seq(
      Metric("mix.driver_self_s",
        top.flatMap(s => s +: desc(s)).filter(_.kind == "call").map(s => self(s.id)).sum / 1e9 / passes, "s")) ++
      replay.layers(spans)
  }
}

/** Result goldens: the row count and a SHA-256 over the sorted,
  * canonically printed rows. Doubles keep 9 significant digits, so a
  * different summation order cannot flip a golden. */
object Golden {
  def value(v: Any): String = v match {
    case null => "\\N"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString
    case f: Float => value(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case x => x.toString
  }

  def of(rows: Seq[Row]): (Long, String) = {
    val lines = rows.map(r => r.toSeq.map(value).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    (rows.size.toLong, md.digest().map(b => f"$b%02x").mkString)
  }
}
