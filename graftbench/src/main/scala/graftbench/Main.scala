package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** Runs one workload in this JVM and writes the raw record (ops, spans,
  * jobs, stages, planning phases, set-up time, JVM figures) as JSON.
  * The metrics are computed from it by `graftbench/run.py`.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --data DIR
  *       --work DIR --raw FILE
  * The timed phase runs whole blocks (see [[Workload]]) until S seconds
  * have passed. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)

    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val trace = new Trace(traced, spark)
    val w: Workload = workload match {
      case "store_ingest" => new StoreIngest(spark, trace, seed, args("data"), work.toString)
      case "analytics" => new Analytics(spark, trace, seed, args("data"), work.toString)
      case other => sys.error(s"unknown workload $other")
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    def phase(name: String)(body: => Unit): Unit = {
      val t = Clock.nowMs
      body
      System.err.println(f"[graftbench] $name%s ${(Clock.nowMs - t) / 1000}%.2f s")
    }
    System.err.println(f"[graftbench] session ${(Clock.nowMs - jvmStart) / 1000}%.2f s")
    phase("setup")(w.setup())
    phase("warmup")(w.warmup())
    trace.drain()
    val warmupFailed = trace.ops.count(!_.ok)
    Seq(trace.ops, trace.spans, trace.jobs, trace.stages, trace.plans).foreach(b => b.synchronized(b.clear()))
    val whBefore = w.facts().toMap.getOrElse("warehouse_bytes", 0.0)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val t0 = Clock.nowMs
    val setupS = (t0 - jvmStart) / 1000
    val deadline = t0 + seconds * 1000
    while (Clock.nowMs < deadline) w.block()
    val t1 = Clock.nowMs
    val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1000.0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val rssMb = peakRssMb()
    trace.drain()

    val verified = w.verify()
    val facts = w.facts() ++ Seq("warehouse_bytes_before" -> whBefore)
    val writeFiles = w match {
      case s: StoreIngest => s.writeFiles.toSeq.map { case (verb, (n, b)) =>
        verb -> Json.obj(Seq("files" -> n.toString, "bytes" -> b.toString)) }
      case _ => Nil
    }

    import Json._
    val raw = obj(Seq(
      "workload" -> str(workload), "seed" -> seed.toString, "traced" -> traced.toString,
      "cpus" -> cpus, "setup_s" -> num(setupS), "t0" -> num(t0), "t1" -> num(t1),
      "warmup_failed" -> warmupFailed.toString, "verified" -> verified.toString,
      "gc_s" -> num(gcS), "heap_peak_mb" -> num(heapPeakMb), "peak_rss_mb" -> num(rssMb),
      "facts" -> obj(facts.map { case (k, v) => k -> num(v) }),
      "write_files" -> obj(writeFiles),
      "ops" -> arr(trace.ops.map(o => obj(Seq("id" -> o.id.toString, "kind" -> str(o.kind),
        "start" -> num(o.start), "end" -> num(o.end), "ok" -> o.ok.toString,
        "rows" -> o.rows.toString)))),
      "spans" -> arr(trace.spans.map(s => obj(Seq("id" -> s.id.toString, "name" -> str(s.name),
        "start" -> num(s.start), "end" -> num(s.end), "parent" -> s.parent.toString,
        "op" -> s.op.toString)))),
      "jobs" -> arr(trace.jobs.map(j => obj(Seq("id" -> j.id.toString, "start" -> num(j.start),
        "end" -> num(j.end), "span" -> j.span.toString,
        "stages" -> arr(j.stageIds.map(_.toString)))))),
      "stages" -> arr(trace.stages.map(s => obj(Seq("id" -> s.id.toString,
        "tasks" -> s.tasks.toString, "task_s" -> num(s.taskS),
        "shuffle_bytes" -> s.shuffleBytes.toString, "spill_bytes" -> s.spillBytes.toString,
        "input_bytes" -> s.inputBytes.toString, "input_records" -> s.inputRecords.toString)))),
      "plans" -> arr(trace.plans.map(p => obj(Seq("start" -> num(p.start), "plan_ms" -> num(p.planMs)))))
    ))
    Files.writeString(Paths.get(args("raw")), raw)
    spark.stop()
  }

  /** The process's peak resident set (Linux `VmHWM`), in MiB. */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}
