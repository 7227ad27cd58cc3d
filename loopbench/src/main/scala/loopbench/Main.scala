package loopbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftSession, SparkEntry}
import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Process-level counters read at the edges of a timed phase. */
final case class Cond(wallNs: Long, cpuNs: Long, gcMs: Long, jitMs: Long,
    steal: Long, jiffies: Long)

object Cond {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def take(): Cond = {
    // /proc/stat "cpu" line: user nice system idle iowait irq softirq steal ...
    val cpu = scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try f.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong) finally f.close()
    }.getOrElse(Array.fill(8)(0L))
    Cond(System.nanoTime(), os.getProcessCpuTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      jitMs, cpu(7), cpu.sum)
  }
}

/** Old-generation occupancy after a full collection, when it is the live
  * heap. (G1's young collections do not update the reading and its mixed
  * ones leave garbage in it.) The peak over the samples is kept. */
final class HeapPeak {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old Gen"))
  var peakMb = 0.0
  /** Spark frees the blocks of dead broadcasts and shuffles from a cleaner
    * thread once a collection has found them unreachable; a second
    * collection after the cleaner has run reads the heap without them. */
  def sample(): Unit = {
    System.gc(); Thread.sleep(HeapPeak.CleanerWaitMs); System.gc()
    pools.foreach { p =>
      Option(p.getCollectionUsage).foreach(u => peakMb = math.max(peakMb, u.getUsed / 1048576.0))
    }
  }
}

object HeapPeak {
  val CleanerWaitMs = 500L
}

object Main {
  val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Scale factor of the query workload's star schema. */
  val QuerySf = 0.01

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = o("work")
    val slots = Runtime.getRuntime.availableProcessors
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.builder("loopbench", slots.toString).master(s"local[$slots]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try {
        o.get("record") match {
          case Some(out) => record(spark, out)
          case None => bench(spark, o, work, slots, jvmStart)
        }
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    // Exit now rather than wait for the pool threads Spark leaves behind.
    sys.exit(code)
  }

  private def now = System.currentTimeMillis()

  def bench(spark: SparkSession, o: Map[String, String], work: String, slots: Int,
      jvmStart: Long): Unit = {
    val workload = o("workload"); val seed = o("seed").toLong
    val seconds = o("seconds").toInt; val traced = o("trace") == "1"
    val sessionS = (now - jvmStart) / 1e3
    val spans = new Spans(spark.sparkContext)

    val in = Workloads.emptyDir(s"$work/in")
    val stageStart = now
    val facts = workload match {
      case "query_mix" => StarGen.stage(spark, QuerySf, in, slots)
      case _ => ChainGen.stage(spark, seed, ChainGen.Default, in, slots)
    }
    val stageS = (now - stageStart) / 1e3
    val w: Workload = workload match {
      case "block_sync" =>
        new BlockSync(new SyncLoop(spark, in, facts.asInstanceOf[ChainGen.Facts], spans))
      case "query_mix" =>
        val expected = mapper.readValue(new File(o("expected")), classOf[Map[String, Seq[String]]])
        new QueryMix(spark, in, seed, spans, expected)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Warm-up: the workload's own op at the target size on throwaway
    // state and sinks, in rounds (see Workload.warmRounds).
    val warmStart = now
    val warmDir = Workloads.emptyDir(s"$work/warm")
    val rounds = (0 until w.warmRounds).map { r =>
      val j0 = Cond.jitMs; val t0 = now
      (0 until w.opsPerRound).foreach(i => w.warmOp(r * w.opsPerRound + i, warmDir))
      ((now - t0) / 1e3, (Cond.jitMs - j0) / 1e3)
    }
    Workloads.delete(new File(warmDir))
    val warmS = (now - warmStart) / 1e3

    val n = w.ops(seconds)
    val main = new Lane(s"$work/run", None)
    val tracedLane = if (traced) Some(new Lane(s"$work/traced", Some(new Tracer))) else None
    val (phaseStart, heapPeakMb) = phase(spark, w, main +: tracedLane.toSeq, n, spans)
    val setupS = (phaseStart - jvmStart) / 1e3
    val checksStart = now
    val endProblems = try w.endChecks(main.dir) catch { case e: Exception => Seq(s"end check: $e") }
    val checksEnd = now
    val failedOps = main.problems.count(_.nonEmpty) + (if (endProblems.nonEmpty) 1 else 0)
    (main.problems.flatten ++ endProblems).distinct.take(20)
      .foreach(p => System.err.println(s"[loopbench] FAILED: $p"))

    val out = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "slots" -> slots,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "inputs" -> w.inputs,
      "setup" -> Map("setup_s" -> setupS, "session_s" -> sessionS, "stage_s" -> stageS,
        "warmup_s" -> warmS, "warmup_rounds_s_jit_s" -> rounds.toSeq),
      "phase_wall_s" -> (checksStart - phaseStart) / 1e3,
      "end_checks_s" -> (checksEnd - checksStart) / 1e3,
      "attempted" -> (n + w.endChecksCount),
      "failed" -> failedOps,
      "phase" -> main.summary(heapPeakMb),
      "traced" -> tracedLane.map(l => l.summary(heapPeakMb) ++
        Map("layers" -> Layers(w, l, l.tracer.get)))
    )
    println("LOOPBENCH_RAW " + mapper.writeValueAsString(out))
  }

  /** One sequence of timed ops on its own state under `dir`. */
  final class Lane(val dir: String, val tracer: Option[Tracer]) {
    val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
    val problems = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val intervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val spanRecords = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    var cpuNs, gcMs, jitMs, steal, jiffies = 0L

    def add(c0: Cond, c1: Cond): Unit = {
      latencies += (c1.wallNs - c0.wallNs) / 1e9
      cpuNs += c1.cpuNs - c0.cpuNs; gcMs += c1.gcMs - c0.gcMs; jitMs += c1.jitMs - c0.jitMs
      steal += c1.steal - c0.steal; jiffies += c1.jiffies - c0.jiffies
    }
    def stealFrac: Double = steal.toDouble / math.max(1L, jiffies)
    def summary(heapPeakMb: Double): Map[String, Any] = Map(
      "op_s" -> latencies.toSeq, "run_s" -> latencies.sum, "cpu_s" -> cpuNs / 1e9,
      "heap_live_peak_mb" -> heapPeakMb, "jvm_gc_s" -> gcMs / 1e3,
      "jvm_jit_s" -> jitMs / 1e3, "host_steal_frac" -> stealFrac)
  }

  /** Runs `n` ops in each lane on fresh state. Lanes take turns op by op,
    * alternating which goes first, so a traced lane and an untraced one
    * see the same JIT state and host load, and their difference is the
    * tracing overhead. Full collections before the first op give every
    * run the same starting heap; after that the program's allocation
    * triggers its own collections inside the ops, and their time counts
    * in the ops. The timed phase is the sum of op times. The live heap is
    * read before the first op and, outside every op, after the last.
    * Returns the time the first op started and the larger of the two
    * live-heap readings. */
  def phase(spark: SparkSession, w: Workload, lanes: Seq[Lane], n: Int,
      spans: Spans): (Long, Double) = {
    val sc = spark.sparkContext
    lanes.foreach(l => Workloads.emptyDir(l.dir))
    val heap = new HeapPeak
    heap.sample()
    val start = now
    for (i <- 0 until n; l <- if (i % 2 == 0) lanes else lanes.reverse) {
      l.tracer.foreach(sc.addSparkListener)
      val from = spans.records.size
      val c0 = Cond.take(); val t0 = now
      l.problems += (try w.op(i, l.dir) catch { case e: Exception => Seq(s"${w.opName(i)}: $e") })
      val c1 = Cond.take()
      l.intervals += ((t0, now))
      l.add(c0, c1)
      l.spanRecords ++= spans.records.drop(from)
      l.tracer.foreach { t => ListenerDrain(sc); sc.removeSparkListener(t) }
    }
    heap.sample()
    (start, heap.peakMb)
  }

  /** Writes the query workload's correctness record to `out`: the staged
    * tables as single files under `tables/`, each query's result as
    * parquet under `results/` with the DuckDB oracle SQL beside it, and
    * `expected.json` with each query's row count and checksum. Then
    * `python3 scripts/compare.py <out>/tables <out>/results` checks the
    * results against the oracle. */
  def record(spark: SparkSession, out: String): Unit = {
    val data = Workloads.emptyDir(s"$out/data")
    StarGen.stage(spark, QuerySf, data, 1)
    val mix = new QueryMix(spark, data, 0L, new Spans(spark.sparkContext), Map.empty)
    val names = QueryMix.Queries.map(_._1)
    names.foreach(q => SparkEntry.queries(q)(spark, data).write.parquet(s"$out/results/$q"))
    Files.writeString(Paths.get(s"$out/results/oracle_sql.json"),
      mapper.writeValueAsString(names.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    Files.writeString(Paths.get(s"$out/expected.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(
        scala.collection.immutable.TreeMap(names.map(q => q -> mix.signature(q)): _*)))
    Workloads.emptyDir(s"$out/tables")
    new File(data).listFiles().foreach { t =>
      val part = t.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$out/tables/${t.getName}"))
    }
  }
}
