package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One-off: each mix query's answer as parquet under `dir/<query>/`,
  * the engine's oracle SQL in `dir/oracle_sql.json` (the layout the
  * engine's DuckDB comparison reads), and the goldens in
  * `dir/goldens.json`. */
object Dump {
  def run(spark: SparkSession, mix: Mix, env: Env, dir: String, watch: Option[String]): Unit = {
    val goldens = mix.queries.map { case (q, _) =>
      val t0 = System.currentTimeMillis()
      val df = mix.query(q)(spark, env.data)
      val (rows, hash) = Golden.of(df.collect().toSeq)
      df.write.mode("overwrite").parquet(s"$dir/$q")
      val check = if (q == "stream_replay") s""","check":"generator delivery counts ${
        if (mix.verify(spark)._2 == 0) "PASS" else "FAIL"}"""" else ""
      // writes outside the benchmark's own dirs: `watch` is a directory
      // the engine might write to; list what the query touched there
      val touched = watch.toSeq.flatMap { w =>
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(w))
        try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
          .filter(p => java.nio.file.Files.getLastModifiedTime(p).toMillis >= t0).map(_.toString).toList
        finally s.close()
      }
      System.err.println(s"[perfbench] dumped $q: $rows rows, ${System.currentTimeMillis() - t0} ms, " +
        s"${touched.size} paths written under watch ${touched.take(3).mkString(" ")}")
      s"${Json.str(q)}:{\"rows\":$rows,\"sha256\":${Json.str(hash)}$check}"
    }
    val oracle = mix.queries.map(_._1).flatMap(q =>
      SparkEntry.oracleSql.get(mix.oracleOf.getOrElse(q, q)).map(sql => s"${Json.str(q)}:${Json.str(sql)}"))
    def write(name: String, body: String): Unit = {
      val w = new java.io.PrintWriter(s"$dir/$name", "UTF-8")
      try w.println(body) finally w.close()
    }
    write("oracle_sql.json", oracle.mkString("{", ",", "}"))
    write("goldens.json", goldens.mkString("{", ",\n", "}"))
    spark.stop()
  }
}
