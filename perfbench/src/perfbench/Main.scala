package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import graft.sources.{ParquetTap, SinkMode}

/** The benchmark's JVM side: one closed loop that runs the named flows of
  * `graft.SparkEntry.queries` one at a time, each body call followed by its
  * sink write, and appends one JSON record per flow to `--records` as soon
  * as the flow is measured. `run.py` computes the metrics from the records.
  *
  * Run shape: session start; two warm-up passes, the first with its
  * outputs digested (the correctness check); a box fingerprint; at least
  * three timed passes, more while `--seconds` allows; a closing box
  * fingerprint. The seed sets the order of flows in each pass. A traced run
  * makes its timed passes in blocks of four, untraced, traced, traced,
  * untraced, so that it reports its own tracing overhead with a linear
  * warm-up drift cancelled; spans are kept in memory and written to
  * `--spans` when the run ends or is killed.
  */
object Main {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  /** Epoch microseconds on the monotonic clock, comparable with the
    * millisecond timestamps of Spark's listener events. */
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val flows = o("flows").split(",").toSeq.filter(_.nonEmpty)
    val data = o("data")
    val sink = o("sink")
    require(sink == "parquet" || sink == "noop", s"unknown sink $sink")
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val work = o("work")
    val out = o.getOrElse("out", s"$work/out")
    val cpus = o("cpus").toInt
    // three passes for a per-flow median; a traced run makes one block of
    // four (two untraced, two traced)
    val minPasses = o.get("passes").map(_.toInt).getOrElse(if (traced) 4 else 3)
    val block = if (traced) 4 else 1
    val rng = new scala.util.Random(o("seed").toLong)

    val records = new Records(o("records"))
    val spans = mutable.ArrayBuffer.empty[(Int, String, Seq[Span])]
    var spansWritten = false
    def writeSpans(): Unit = spans.synchronized {
      if (traced && !spansWritten) {
        spansWritten = true
        Records.writeSpans(o("spans"), spans.toSeq)
      }
    }
    // a killed run still leaves the spans of the flows it finished
    sys.addShutdownHook(writeSpans())

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // Spark keeps finished jobs, stages and queries for its status store;
      // a small cap stops that store from growing with the number of flows
      // run, which would make retained heap follow run length
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val sessionMs = System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime
    val trace = new Trace(traced)
    trace.register(spark)
    val registry = graft.SparkEntry.queries
    flows.foreach(f => require(registry.contains(f), s"unknown flow $f"))
    o.get("oracle").foreach { path =>
      val sql = graft.SparkEntry.oracleSql
      Records.writeJson(path, flows.filter(sql.contains).map(f => f -> sql(f)).toMap)
    }

    def write(name: String, df: DataFrame): Unit =
      if (sink == "parquet") ParquetTap(s"$out/$name").write(df, SinkMode.Replace)
      else df.write.mode("overwrite").format("noop").save()

    /** Runs one flow and records it; returns its wall time in µs, or None
      * when it threw or its output failed the digest step. */
    def runFlow(pass: Int, phase: String, name: String, tracedFlow: Boolean,
                withDigest: Boolean): Option[Long] = {
      val rddsBefore = sc.getPersistentRDDs.size
      val cgNs0 = CodeGenerator.compileTime
      val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      trace.begin(tracedFlow)
      val t0 = nowUs()
      var t1 = 0L
      var df: DataFrame = null
      val error = try {
        df = registry(name)(spark, data)
        t1 = nowUs()
        write(name, df)
        None
      } catch { case t: Throwable => Some(t) }
      val t2 = nowUs()
      PerfbenchBus.drain(sc)
      val c = trace.end()
      val rec = mutable.LinkedHashMap[String, Any](
        "type" -> "flow", "phase" -> phase, "pass" -> pass, "flow" -> name,
        "traced" -> tracedFlow, "ok" -> error.isEmpty)
      error match {
        case Some(t) =>
          // a flow that threw has no timing: time-to-exception is kept out
          rec("error") = (t.getClass.getSimpleName + ": " +
            Option(t.getMessage).getOrElse("").takeWhile(_ != '\n')).take(300)
          System.err.println(s"perfbench: $name failed: $t")
        case None =>
          rec ++= Seq("start_us" -> t0, "end_us" -> t2, "body_us" -> (t1 - t0),
            "sink_us" -> (t2 - t1), "input_rows" -> c.inputRows,
            "batch_ms" -> c.batches.map(b => (b.endUs - b.startUs) / 1000.0).toSeq)
          if (tracedFlow) {
            val files = if (sink == "parquet")
              Option(new java.io.File(s"$out/$name").listFiles).toSeq.flatten
                .filter(_.getName.startsWith("part-"))
            else Seq.empty
            rec ++= counters(c, df, t1, cgNs0, cgN0, rddsBefore) ++ Seq(
              "sources.files_written" -> files.size,
              "sources.bytes_written" -> files.map(_.length).sum)
            spans.synchronized(spans += ((pass, name, flowSpans(c, df, t0, t1, t2))))
          }
          if (withDigest) {
            try {
              val (rows, digest) = Digest.of(
                if (sink == "parquet") spark.read.parquet(s"$out/$name") else df)
              rec ++= Seq("rows" -> rows, "digest" -> digest)
            } catch {
              case t: Throwable =>
                rec("ok") = false
                rec("error") = s"digest: $t".take(300)
            }
            PerfbenchBus.drain(sc)
            trace.end()
          }
      }
      // a flow cut short by the run being stopped is not a result
      if (!sc.isStopped) records.append(rec)
      if (rec("ok") == true) Some(t2 - t0) else None
    }

    def counters(c: FlowCollector, df: DataFrame, t1: Long, cgNs0: Long, cgN0: Long,
                 rddsBefore: Int): Seq[(String, Any)] = {
      val skews = c.stageTaskRunMs.values.collect {
        case xs if xs.size >= 2 && xs.sum > 0 => xs.max.toDouble * xs.size / xs.sum
      }.toSeq.sorted
      val stagesRun = c.stages.keySet
      Seq(
        "lower.jobs_in_build" -> c.jobs.values.count(_._1 * 1000L < t1),
        "lower.logical_nodes" -> df.queryExecution.logical.collect { case n => n }.size,
        "catalyst.codegen_compiles" ->
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0),
        "catalyst.codegen_ms" -> (CodeGenerator.compileTime - cgNs0) / 1e6,
        "catalyst.exchanges" -> c.exchanges,
        "spark.jobs" -> c.jobs.size,
        "spark.stages" -> stagesRun.size,
        "spark.stages_skipped" -> (c.jobs.values.flatMap(_._3).toSet -- stagesRun).size,
        "spark.tasks" -> c.tasks,
        "spark.task_failures" -> c.taskFailures,
        "spark.task_run_ms" -> c.taskRunMs,
        "spark.task_cpu_ms" -> c.taskCpuNs / 1e6,
        "spark.task_gc_ms" -> c.taskGcMs,
        "spark.task_wait_ms" -> c.taskWaitMs,
        "spark.stage_skew" -> (if (skews.isEmpty) 1.0 else skews(skews.size / 2)),
        "spark.input_rows" -> c.inputRows,
        "spark.input_bytes" -> c.inputBytes,
        "spark.shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spark.shuffle_read_bytes" -> c.shuffleReadBytes,
        "spark.spill_bytes" -> c.spillBytes,
        "loops.rdds_leaked" -> (sc.getPersistentRDDs.size - rddsBefore),
        "loops.cached_bytes_peak" -> c.cachedBytesPeak,
        "streaming.phase_ms" -> c.batchPhaseMs.toMap,
        "streaming.state_commit_ms" -> c.stateCommitMs,
        "streaming.state_rows" -> c.stateRows)
    }

    def flowSpans(c: FlowCollector, df: DataFrame, t0: Long, t1: Long, t2: Long): Seq[Span] = {
      // the body's result is analysed eagerly, inside the body call
      val analysis = df.queryExecution.tracker.phases.get("analysis").toSeq.map(s =>
        Span("analysis", "catalyst", s.startTimeMs * 1000L, s.endTimeMs * 1000L))
      val jobs = c.jobs.toSeq.collect { case (id, (s, e, _)) if e > 0 =>
        Span(s"job $id", "jobs", s * 1000L, e * 1000L) }
      val stageJob = c.jobs.toSeq.flatMap { case (id, (_, _, st)) => st.map(_ -> id) }.toMap
      val stages = c.stages.toSeq.collect { case (id, (s, e)) if s > 0 && e > 0 =>
        Span(s"stage $id", "jobs", s * 1000L, e * 1000L,
          stageJob.get(id).map(j => s"job $j").getOrElse("")) }
      Seq(Span("flow", "other", t0, t2), Span("build", "build", t0, t1),
        Span("sink", "sink_write", t1, t2)) ++ analysis ++ c.phases ++ c.batches ++
        jobs ++ stages
    }

    // Spark's ContextCleaner drops shuffle and broadcast state only after a
    // GC has cleared their references; the second GC collects what it freed
    def heapAfterGcMb(): Double = {
      System.gc()
      Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }

    def box(when: String): Unit = {
      val (cpu, shuffle) = Box.fingerprint(spark, cpus)
      records.append(mutable.LinkedHashMap("type" -> "box", "when" -> when,
        "nproc" -> Runtime.getRuntime.availableProcessors, "cpus" -> cpus,
        "loadavg" -> Box.loadavg(), "cpu_s" -> cpu, "shuffle_s" -> shuffle))
    }

    // set-up: session, then two warm-up passes; the outputs of the first
    // are digested. Measured on a 4-core box, the first pass after a single
    // warm-up pass still ran ~20% slower than the later ones (JIT).
    val jit0 = jitMs
    val warm = rng.shuffle(flows).map(f => runFlow(0, "warm", f, tracedFlow = false,
      withDigest = true)) ++ rng.shuffle(flows).map(f => runFlow(0, "warm2", f,
      tracedFlow = false, withDigest = false))
    records.append(mutable.LinkedHashMap("type" -> "setup",
      "session_ms" -> sessionMs, "warm_ms" -> warm.flatten.sum / 1000.0,
      "warm_failed" -> warm.count(_.isEmpty), "jit_ms" -> (jitMs - jit0)))
    box("start")

    // whole blocks only: another block starts while it is projected to end
    // within --seconds (at the mean pass time so far)
    val tStart = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - tStart) / 1e9
    while (pass < minPasses || elapsed * (pass + block) / pass <= seconds) {
      for (_ <- 1 to block) {
        pass += 1
        val tracedPass = traced && pass % 4 >= 2
        val (gc0, jit1) = (gcMs, jitMs)
        val times = rng.shuffle(flows).map(f =>
          runFlow(pass, "timed", f, tracedPass, withDigest = false))
        val (gc1, jit2) = (gcMs, jitMs)
        records.append(mutable.LinkedHashMap("type" -> "pass", "pass" -> pass,
          "traced" -> tracedPass, "flows" -> times.size, "failed" -> times.count(_.isEmpty),
          "pass_ms" -> times.flatten.sum / 1000.0, "gc_ms" -> (gc1 - gc0),
          "jit_ms" -> (jit2 - jit1), "heap_retained_mb" -> heapAfterGcMb()))
      }
    }
    box("end")
    writeSpans()
    records.append(mutable.LinkedHashMap("type" -> "end", "passes" -> pass))
    records.close()
    spark.stop()
  }
}

/** Order-independent digest of a flow's output: the row count plus the
  * 64-bit wrapping sum of one xxhash64 per row, over the columns in name
  * order (the digest does not depend on row or column order). */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = order.toSeq.map { i =>
      val c = col(s"c$i")
      named.schema(i).dataType match {
        case _: org.apache.spark.sql.types.MapType => to_json(c)
        case _ => c
      }
    }
    val h = xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (l(0), java.lang.Long.toHexString(l(1) + (l(2) << 32)))
  }
}

/** Box context, recorded as run attributes and not as metrics. */
object Box {
  def loadavg(): Seq[Double] =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim.split("\\s+").take(3)
      .toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq.empty }

  /** A fixed CPU pass (hash fold over a range) and a fixed shuffle pass
    * (group a range by 65536 keys); seconds for each. */
  def fingerprint(spark: SparkSession, cpus: Int): (Double, Double) = {
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def cpuPass(n: Long): Unit = spark.range(0L, n, 1L, cpus)
      .select(xxhash64(concat(col("id").cast("string"), lit("box"))).as("h"))
      .agg(bit_xor(col("h"))).collect()
    def shufflePass(n: Long): Unit = spark.range(0L, n, 1L, cpus)
      .groupBy((col("id") % 65536L).as("k")).agg(sum(col("id")).as("s"))
      .agg(sum(col("s"))).collect()
    cpuPass(100000L); shufflePass(100000L)
    (time(cpuPass(8000000L)), time(shufflePass(4000000L)))
  }
}
