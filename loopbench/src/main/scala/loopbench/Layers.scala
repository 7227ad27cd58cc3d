package loopbench

import java.io.File

/** Per-layer metrics of a traced phase, named `<layer>.<span>.<metric>`.
  *
  * Unless a name says otherwise a value is per op of the phase (per op of
  * its own family for `SparkEntry.*`). `io.files_written` and
  * `io.output_bytes` are what the lane's sinks hold at the end divided by
  * the op count: sinks start empty and are only appended to. A layer the
  * workload never reaches reads 0. Every name here is declared in
  * BENCHMARK.json's `per_layer`.
  */
object Layers {
  private type Key = (String, String) => Boolean

  private def span(name: String): Key = (s, _) => s == name
  /** Jobs `MicroBatchRunner` ran from one call (`head`, `parquet`, `count`). */
  private def runner(call: String): Key =
    (s, c) => s == "streaming.runner" && c.startsWith(s"$call at MicroBatchRunner.scala")
  private val any: Key = (_, _) => true

  def apply(w: Workload, p: Main.Lane, t: Tracer): Map[String, Double] = {
    val ops = p.latencies.size.toDouble
    val records = p.spanRecords.toSeq
    def spanWall(name: String) = records.collect { case (`name`, a, b) => b - a }.sum / 1e3
    def spanDriver(name: String) =
      t.driverSeconds(records.collect { case (`name`, a, b) => (a, b) }, span(name))

    val head = t.total(runner("head")); val write = t.total(runner("parquet"))
    val recount = t.total(runner("count"))
    val run = t.total(span("streaming.runner"))
    val proj = t.total(span("pipelines.graphProjection"))
    val checks = t.total(span("checks.Validations"))
    val all = t.total(any)

    val sinks = w.sinkDirs(p.dir)
    def files(dirs: Seq[File]) = dirs.flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(_.getName.endsWith(".parquet"))
    val written = files(sinks)

    val families = QueryMix.Families.flatMap { f =>
      val name = s"SparkEntry.$f"
      val a = t.total(span(name))
      val n = math.max(1, p.latencies.indices.count(i => w.family(i) == f)).toDouble
      Seq(
        s"$name.wall_s" -> spanWall(name) / n,
        s"$name.jobs" -> a.jobs / n,
        s"$name.tasks" -> a.tasks / n,
        s"$name.task_cpu_s" -> a.cpuNs / 1e9 / n,
        s"$name.shuffle_read_bytes" -> a.shuffleRead / n,
        s"$name.shuffle_write_bytes" -> a.shuffleWrite / n,
        s"$name.spill_bytes" -> a.spill / n,
        s"$name.driver_s" -> spanDriver(name) / n)
    }

    Map(
      "streaming.head_probe.jobs" -> head.jobs / ops,
      "streaming.head_probe.wall_s" -> t.jobWall(runner("head")) / ops,
      "streaming.write.wall_s" -> t.jobWall(runner("parquet")) / ops,
      "streaming.write.task_cpu_s" -> write.cpuNs / 1e9 / ops,
      "streaming.write.shuffle_write_bytes" -> write.shuffleWrite / ops,
      "streaming.write.output_rows" -> write.outputRows / ops,
      "streaming.recount.input_rows" -> recount.inputRows / ops,
      "streaming.reread_ratio" ->
        (if (write.outputRows == 0) 0.0 else recount.inputRows.toDouble / write.outputRows),
      "streaming.runner.wall_s" -> spanWall("streaming.runner") / ops,
      "streaming.runner.jobs" -> run.jobs / ops,
      "streaming.runner.driver_s" -> spanDriver("streaming.runner") / ops,
      "pipelines.graphProjection.wall_s" -> spanWall("pipelines.graphProjection") / ops,
      "pipelines.graphProjection.jobs" -> proj.jobs / ops,
      "pipelines.graphProjection.task_cpu_s" -> proj.cpuNs / 1e9 / ops,
      "pipelines.graphProjection.shuffle_write_bytes" -> proj.shuffleWrite / ops,
      "pipelines.graphProjection.driver_s" -> spanDriver("pipelines.graphProjection") / ops,
      "checks.Validations.wall_s" -> spanWall("checks.Validations") / ops,
      "checks.Validations.jobs" -> checks.jobs / ops,
      "checks.Validations.input_rows" -> checks.inputRows / ops,
      "io.files_written" -> written.size / ops,
      "io.output_bytes" -> written.map(_.length).sum / ops,
      "io.sink_files_total" -> written.size.toDouble,
      "sources.input_rows" -> all.inputRows / ops,
      "sources.input_bytes" -> all.inputBytes / ops,
      "spark.jobs_per_op" -> all.jobs / ops,
      "spark.stages_per_op" -> all.stages / ops,
      "spark.tasks_per_op" -> all.tasks / ops,
      "spark.driver_s_frac" -> t.driverSeconds(p.intervals.toSeq, any) /
        math.max(1e-3, p.intervals.map { case (a, b) => b - a }.sum / 1e3),
      "spark.task_blocked_s" -> (all.runMs / 1e3 - all.cpuNs / 1e9) / ops,
      "jvm.gc_s" -> p.gcMs / 1e3,
      "jvm.jit_s" -> p.jitMs / 1e3,
      "host.steal_frac" -> p.stealFrac
    ) ++ families
  }
}
