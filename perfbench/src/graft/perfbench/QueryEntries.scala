package graft.perfbench

import java.nio.file.Files

/** graft's operator library (`graft.queries`, `graft.functions`) on the
  * workload's sf0.1 tables. Each entry of [[Names]] runs once through
  * `SparkEntry.queries` and is written to `<run dir>/entries/<name>/`
  * beside `oracle_sql.json`, the layout `scripts/check.py` compares against
  * DuckDB; run.py makes that comparison after the JVM exits. The entries
  * run after the timed loop, so they move no end-to-end metric; a traced
  * run reports their time and Spark work under `functions.*`. */
object QueryEntries {
  /** the lightest training-data entry of graft's own bench set: the heavy
    * ones take 10 s each at sf0.1 on 4 cores, more than a run can spare */
  val Names = Seq("td_exact_dedup")

  def metrics: Seq[(String, String)] = Names.map(n => s"functions.${n}_s" -> "s") ++ Seq(
    "functions.executor_cpu_s" -> "s", "functions.shuffle_write_bytes" -> "bytes")

  def run(run: Run): Unit = {
    val out = Files.createDirectories(run.root.resolve("entries"))
    val sc = run.spark.sparkContext
    // every job these entries start counts as `functions`, whatever the
    // innermost graft frame of its call site
    sc.setLocalProperty(JobStats.LayerProperty, "functions")
    run.jobs.enabled = run.traced
    val secs = try Names.map { name =>
      val (_, s) = Stats.time(run.op(s"entry $name")(graft.SparkEntry.queries(name)(
        run.spark, run.data.toString).write.parquet(out.resolve(name).toString)))
      name -> s
    } finally { run.jobs.enabled = false; sc.setLocalProperty(JobStats.LayerProperty, null) }
    val oracle = graft.SparkEntry.oracleSql
    Files.write(out.resolve("oracle_sql.json"), Names.map(n =>
      s"${Json.str(n)}: ${Json.str(oracle(n))}").mkString("{", ", ", "}").getBytes("UTF-8"))
    run.report += f"operator entries       ${secs.map { case (n, s) => f"$n $s%.3f s" }.mkString(", ")}  (untimed, checked against DuckDB)"
    if (run.traced) {
      secs.foreach { case (n, s) => run.layers(s"functions.${n}_s") = s }
      val f = run.jobs.layer("functions")
      run.layers("functions.executor_cpu_s") = f.cpuNs / 1e9
      run.layers("functions.shuffle_write_bytes") = f.shuffleWrite.toDouble
    }
  }
}
