package perfbench

import graft.core.Sessions
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run in one JVM, with a `local[4]` session and a single
  * closed-loop client: each engine call starts when the previous one has
  * returned.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --run-dir D
  *     --setup-start-ms M [--data-dir T --warm-dir U --queries F]   (the last three: query_sweep only)
  *
  * The run sets up once (a session over fresh temp and shuffle
  * directories, and a warm-up), then repeats timed passes of the workload
  * until S seconds have gone. Set-up time runs from M, the epoch
  * milliseconds at which the caller began to set up (before it made the
  * inputs and started this JVM), to the start of the first pass. The
  * outputs of every pass are checked after the pass, outside its timing.
  * Raw measurements go to D/run.json; spans of a traced run to
  * D/spans.jsonl.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val run = new Run(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("run-dir"), opt("setup-start-ms").toLong, opt)
    val workload: Workload = run.workload match {
      case "corpus_graph" => new CorpusGraph(run)
      case "query_sweep" => new QuerySweep(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    try run.execute(workload) finally run.stop()
  }
}

/** A workload: the warm-up made during set-up, and one timed pass. */
trait Workload {
  /** The pass's engine calls on other inputs, so that the JIT and
    * Spark's code generation are warm before the first timed pass.
    */
  def warmUp(): Unit
  /** Runs the timed engine calls of a pass through [[Run.op]] and returns
    * the output checks, which the run executes after timing the pass.
    */
  def pass(unit: Int): () => Unit
}

final class Run(val workload: String, val seed: Long, seconds: Double, trace: Boolean, val dir: String,
                setupStartMs: Long, val opt: Map[String, String]) {
  import Run._

  val runId = s"$workload-$seed-${ProcessHandle.current().pid()}"
  val tracer = new Tracer(runId)
  var spark: SparkSession = _

  private val ops = mutable.ArrayBuffer.empty[OpRecord]
  private val failures = mutable.Map.empty[(Int, String), String]
  private var setupSeconds = 0.0
  private val passes = mutable.ArrayBuffer.empty[String]
  private var warmUpSeconds = 0.0
  private var checkSeconds = 0.0

  /** Times one engine call. A call that throws is recorded as failed with
    * the time it took, and the pass goes on.
    */
  def op[A](unit: Int, name: String, span: String, phase: String)(f: => A): Option[A] = {
    val t0 = System.nanoTime()
    val r = try Right(tracer.span(spark.sparkContext, unit, span, Some(phase))(f))
      catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
    ops += OpRecord(unit, name, (System.nanoTime() - t0) / 1e9, r.left.toOption)
    r.toOption
  }

  /** Runs an output check of the named call of a pass: `f` returns why
    * the output is wrong, if it is. A check that throws fails too.
    */
  def check(unit: Int, name: String)(f: => Option[String]): Unit =
    (try f catch { case e: Throwable => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") })
      .foreach(why => failures((unit, name)) = failures.get((unit, name)).fold(why)(_ + "; " + why))

  def execute(w: Workload): Unit = {
    Seq("tmp", "local").foreach(d => Files.createDirectories(Paths.get(dir, d)))
    // fresh per run: the engine's part-edge cache lives under
    // java.io.tmpdir, Spark's shuffle and spill files under the local dir
    System.setProperty("java.io.tmpdir", s"$dir/tmp")
    System.setProperty("spark.graft.local.dir", s"$dir/local")
    spark = Sessions.local(Cores, s"perfbench-$workload")
    tracer.attach(spark.sparkContext)
    val w0 = System.nanoTime()
    w.warmUp()
    warmUpSeconds = (System.nanoTime() - w0) / 1e9
    setupSeconds = (System.currentTimeMillis() - setupStartMs) / 1e3
    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val start = System.nanoTime()
    var unit = 0
    while (unit == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      tracer.enabled = trace
      val t0 = System.nanoTime()
      val cpu0 = cpu.getProcessCpuTime
      val jit0 = jitCpuSeconds
      val checks = tracer.span(spark.sparkContext, unit, "pass", None)(w.pass(unit))
      val secs = (System.nanoTime() - t0) / 1e9
      val cpuSecs = (cpu.getProcessCpuTime - cpu0) / 1e9
      val jitSecs = jitCpuSeconds - jit0
      tracer.enabled = false
      val c0 = System.nanoTime()
      checks()
      checkSeconds += (System.nanoTime() - c0) / 1e9
      passes += passJson(unit, secs, cpuSecs, jitSecs)
      unit += 1
    }
  }

  private def passJson(unit: Int, secs: Double, cpuSecs: Double, jitSecs: Double): String =
    Json.obj("unit" -> unit, "seconds" -> secs, "cpu_seconds" -> cpuSecs, "jit_seconds" -> jitSecs,
      "layers" -> (if (trace) tracer.layers(unit) else Map.empty[String, Double]))

  def stop(): Unit = {
    if (spark != null) spark.stop()
    val opsJson = ops.map(o => Json.obj("unit" -> o.unit, "name" -> o.name, "seconds" -> o.seconds,
      "error" -> o.error.orElse(failures.get((o.unit, o.name))).orNull))
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "run_id" -> runId, "cores" -> Cores,
      "setup_s" -> setupSeconds,
      "warm_up_s" -> warmUpSeconds,
      "check_s" -> checkSeconds,
      "passes" -> passes.map(Json.Raw).toSeq,
      "ops" -> opsJson.map(Json.Raw).toSeq,
      "peak_rss_mb" -> peakRssMb)
    Files.writeString(Paths.get(dir, "run.json"), record)
    Files.writeString(Paths.get(dir, "spans.jsonl"), tracer.spansJson.mkString("", "\n", "\n"))
  }

  /** CPU time of this process's JIT compiler threads, from /proc in
    * clock ticks. The JVM runs with a fixed set of compiler threads
    * (-XX:-UseDynamicNumberOfCompilerThreads), so none ends during a pass
    * and takes its time out of the sum.
    */
  private def jitCpuSeconds: Double =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.flatMap { t =>
      try {
        val stat = Files.readString(t.toPath.resolve("stat"))
        val close = stat.lastIndexOf(')')
        if (!stat.substring(stat.indexOf('(') + 1, close).contains("CompilerThre")) None
        else {
          val f = stat.substring(close + 2).split(' ') // from field 3, the state
          Some((f(11).toLong + f(12).toLong) / ClockTicks) // utime + stime
        }
      } catch { case _: java.io.IOException => None } // a thread that has just ended
    }.sum

  /** VmHWM of this process, in MB. */
  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

object Run {
  val Cores = 4
  /** USER_HZ, the unit of the CPU times in /proc. */
  val ClockTicks = 100.0

  private final case class OpRecord(unit: Int, name: String, seconds: Double, error: Option[String])
}
