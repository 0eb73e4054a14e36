package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: build the session, run the workload's
  * passes in a closed loop for `--seconds` (at least one pass), then write
  * the run record (`--record`) for `run.py` to check and summarise.
  *
  * Usage: perfbench.Main --workload W --data DIR --out DIR
  *          --record FILE --seconds S --trace 0|1 --seed N --cores C
  *          [--tera-rows R] [--warmup N]
  *
  * `--warmup N` runs N untimed passes first (no spans, listeners or heap
  * sampling), so the timed passes run on compiled code.
  */
object Main {

  final case class Job(name: String, pass: Int, startMs: Long, endMs: Long, ok: Boolean,
                       error: String)
  /** `samplingMs`: time the pass spent in the harness's own heap-sampling
    * collections, which `wall_s` leaves out. `jitMs` and `cpuMs`: JIT
    * compiler time and process CPU time during the pass — metadata, not
    * metrics. */
  final case class Pass(pass: Int, startMs: Long, endMs: Long, samplingMs: Long, jitMs: Long,
                        cpuMs: Long)

  def cpuMs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1000000
    case _ => 0L
  }

  /** What a workload shares with the loop that drives it. */
  final class Ctx(val spark: SparkSession, val spans: Spans, val opts: Map[String, String]) {
    val jobs: mutable.ArrayBuffer[Job] = mutable.ArrayBuffer.empty
    /** Facts the output checks need (TeraValidate results, CC rounds, ...). */
    val facts: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
    /** Counters of the traced run, summed over its passes. */
    val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
    @volatile var pass = -1
    /** Request a full collection after each job, so the GC notifications
      * sample the live heap between jobs (outside the job's own time). */
    @volatile var gcAfterJobs = false
    @volatile var samplingMs = 0L

    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))

    /** One closed-loop job: timed, spanned under `name`, and counted as
      * failed (not fatal) when it throws. */
    def job(name: String)(body: => Unit): Boolean = {
      val start = System.currentTimeMillis()
      val err = try { spans(name)(body); null } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] job $name failed: $e")
          Option(e.getMessage).getOrElse(e.toString).take(500)
      }
      jobs.synchronized(
        jobs += Job(name, pass, start, System.currentTimeMillis(), err == null, err))
      if (gcAfterJobs) {
        val t = System.currentTimeMillis()
        System.gc()
        samplingMs += System.currentTimeMillis() - t
      }
      err == null
    }

    def fact(kv: (String, Any)*): Unit = facts.synchronized(facts += (kv.toMap + ("pass" -> pass)))
    def count(k: String, v: Double): Unit = if (spans.enabled) counters.synchronized(counters(k) += v)
  }

  trait Workload {
    /** One pass over the inputs in `data`, writing results under `out`. */
    def pass(data: String, out: String): Unit
    /** After the timed loop: untimed work the checks or the trace need. */
    def finish(data: String, out: String): Unit = ()
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    opts.get("dump-oracle").foreach { f =>
      // the declared oracle SQL texts, for the DuckDB side of the checks
      json.writeValue(new File(f), graft.SparkEntry.oracleSql)
      return
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val traceRun = opts.getOrElse("trace", "0") == "1"
    val spans = new Spans(opts("seed").toInt)
    val heap = new HeapWatch
    spans.enabled = traceRun
    val t0 = System.nanoTime()
    val spark = spans("Engine.session") {
      graft.Engine.session("perfbench", s"local[${opts("cores")}]")
    }
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, spans, opts)
    val workload: Workload = opts("workload") match {
      case "mr_batch" => new MrBatch(ctx)
      case "llm_curation" => new LlmCuration(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val out = opts("out")
    val jit = ManagementFactory.getCompilationMXBean
    def runPass(p: Int): Pass = {
      val dir = s"$out/pass"
      deleteTree(Paths.get(dir))
      ctx.pass = p
      val (jit0, cpu0) = (jit.getTotalCompilationTime, cpuMs())
      val start = System.currentTimeMillis()
      val sampled = ctx.samplingMs
      spans("pass")(workload.pass(opts("data"), dir))
      Pass(p, start, System.currentTimeMillis(), ctx.samplingMs - sampled,
        jit.getTotalCompilationTime - jit0, cpuMs() - cpu0)
    }
    val warmupStart = System.currentTimeMillis()
    spans.enabled = false
    val warmup = (0 until opts.getOrElse("warmup", "0").toInt).map(runPass)
    spans.enabled = traceRun
    val trace = if (traceRun) Some(new SparkTrace(spark)) else None
    trace.foreach(_.register())
    val seconds = opts("seconds").toDouble
    val passes = mutable.ArrayBuffer.empty[Pass]
    heap.armed = true
    ctx.gcAfterJobs = true
    val jitStartMs = jit.getTotalCompilationTime
    val timedStart = System.currentTimeMillis()
    // closed loop: the next pass starts only after the previous one ends
    while (passes.isEmpty || System.currentTimeMillis() - timedStart < seconds * 1000)
      passes += runPass(warmup.size + passes.size)
    val jitMs = jit.getTotalCompilationTime - jitStartMs
    heap.armed = false
    ctx.gcAfterJobs = false
    trace.foreach(_.unregister())
    workload.finish(opts("data"), s"$out/pass")
    spans.enabled = false
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> opts("workload"),
      "jvm_start_ms" -> jvmStartMs,
      "first_job_ms" -> warmupStart,
      "timed_start_ms" -> timedStart,
      "warmup" -> warmup,
      "session_s" -> sessionS,
      "cores" -> opts("cores").toInt,
      "passes" -> passes,
      "jobs" -> ctx.jobs,
      "facts" -> ctx.facts,
      "counters" -> ctx.counters,
      "peak_live_heap_mb" -> heap.peakMb,
      // JIT compiler-thread time during the passes (off the job threads)
      "jit_ms" -> jitMs,
      "outputs" -> s"$out/pass")
    trace.foreach { t =>
      record("spans") = spans.all
      record("stages") = t.stages.values.toSeq.map(s => Map(
        "stage" -> s.stageId, "submit_ms" -> s.submitMs, "complete_ms" -> s.completeMs,
        "tasks" -> s.numTasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "shuffle_write" -> s.shuffleWrite, "shuffle_write_ns" -> s.shuffleWriteNs,
        "shuffle_read" -> s.shuffleRead, "fetch_wait_ms" -> s.fetchWaitMs,
        "spill_disk" -> s.spillDisk, "peak_exec" -> s.peakExec,
        "input_bytes" -> s.inputBytes, "input_records" -> s.inputRecords,
        "output_bytes" -> s.outputBytes, "task_ms" -> s.taskMs.sorted))
      record("spark_jobs") = t.jobs
      record("plan_ms") = t.planMs
      record("batch_ms") = t.batchDurations.map { case (trig, add) => Seq(trig, add) }
    }
    json.writeValue(new File(opts("record")), record)
    spark.stop()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Files under the given directories (recursively), by path → size. */
  def listing(dirs: Seq[String]): Map[String, Long] = dirs.flatMap { d =>
    val root = Paths.get(d)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try {
        val b = mutable.ArrayBuffer.empty[(String, Long)]
        s.filter(f => Files.isRegularFile(f)).forEach(f => b += (f.toString -> Files.size(f)))
        b
      } finally s.close()
    }
  }.toMap

  def move(src: File, dst: File): Unit =
    Files.move(src.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
}
