package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** One benchmark run: generate the seed's inputs (untimed), set up the
  * workload three times (each a fresh SparkSession, input load and pin),
  * then drive the workload's rounds in a closed loop with one client until
  * `--seconds` have passed and at least `minRounds` rounds are done,
  * checking every output. Writes the raw run
  * record as JSON to `--out`; `perfbench/run.py` turns it into metrics.
  *
  * {{{
  * Main --workload batch|serve --seed N --seconds S --trace 0|1
  *      --work DIR --out FILE
  * }}}
  */
object Main {

  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = BigInt(opt("seed")).toLong // any integer; its low 64 bits
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val workload: Workload = opt("workload") match {
      case "batch" => new Batch
      case "serve" => new Serve
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val cpus = Runtime.getRuntime.availableProcessors()

    val t00 = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"perfbench phase $name at ${(System.nanoTime() - t00) / 1e9}%.2f s")
    val gen = session(work, cpus, "gen")
    phase("gen-session")
    workload.generate(gen, seed, work.resolve("input"))
    phase("generated")
    gen.stop()
    resetPeakRss()

    val runStartMs = System.currentTimeMillis()
    var spark: SparkSession = null
    var recorder: Recorder = null
    val setupS = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work, cpus, "run")
      recorder = if (trace) {
        val r = new Recorder
        spark.sparkContext.addSparkListener(r)
        r
      } else null
      spark.sparkContext.setJobGroup("setup", "setup")
      workload.setup(spark, work.resolve("input"))
      spark.sparkContext.clearJobGroup()
      (System.nanoTime() - t0) / 1e9
    }

    phase("setup")
    val runner = new Runner(spark, work.resolve("scratch"))
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var rounds = 0
    while (rounds < workload.minRounds || System.nanoTime() < deadline) {
      rounds += 1
      workload.round(runner, rounds)
    }
    val runEndMs = System.currentTimeMillis()
    phase("measured")
    spark.stop()
    phase("stopped")

    val rt = Runtime.getRuntime
    val record = Map(
      "workload" -> opt("workload"), "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "scale" -> workload.scale,
      "env" -> Map(
        "nproc" -> cpus, "heap_max_mb" -> rt.maxMemory() / (1 << 20),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "scala" -> scala.util.Properties.versionNumberString,
        "java" -> System.getProperty("java.vm.version"),
        "load_avg_start" -> loadAvg()),
      "setup_s" -> setupS,
      "run_start_ms" -> runStartMs, "run_end_ms" -> runEndMs,
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> runner.ops,
      "jobs" -> Option(recorder).map(_.jobsJson).getOrElse(Nil),
      "stages" -> Option(recorder).map(_.stagesJson).getOrElse(Nil))
    Files.write(Paths.get(opt("out")),
      org.json4s.jackson.Serialization.write(record)(org.json4s.DefaultFormats).getBytes("UTF-8"))
  }

  def session(work: Path, cpus: Int, name: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def loadAvg(): Double =
    Try(Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble).getOrElse(-1.0)

  /** Resets the kernel's peak-RSS mark, so input generation is not counted. */
  private def resetPeakRss(): Unit =
    Try(Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes))

  private def peakRssMb(): Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** Times op calls from outside the program. Each call runs under its own
  * Spark job group, so the listener can attribute jobs to it; the output
  * check runs afterwards, untimed, under the group `check`.
  */
final class Runner(val spark: SparkSession, val scratch: Path) {
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val cpus = Runtime.getRuntime.availableProcessors()

  /** Per-call values an op reports besides its wall time. */
  final class Ctx {
    var lowerS = 0.0
    var rows = 0L
    val extra = mutable.LinkedHashMap.empty[String, Any]
  }

  /** Runs `call` timed, then `check` on its result untimed. `check`
    * returns an error message, or None when the output is correct.
    */
  def op[A](kind: String, round: Int, label: String = "")(call: Ctx => A)(
      check: (A, Ctx) => Option[String]): Unit = {
    val group = s"op-${ops.size + 1}"
    val ctx = new Ctx
    val sc = spark.sparkContext
    sc.setJobGroup(group, kind)
    val load0 = Main.loadAvg()
    val cpu0 = os.getProcessCpuTime
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = Try(call(ctx))
    val wall = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val load1 = Main.loadAvg()
    sc.setJobGroup("check", "check")
    val err = res.fold(
      e => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"),
      a => Try(check(a, ctx)).fold(e => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}"), identity))
    sc.clearJobGroup()
    err.foreach(e => System.err.println(s"FAILED $kind $label: $e"))
    ops += Map(
      "kind" -> kind, "group" -> group, "round" -> round, "label" -> label,
      "start_ms" -> ms0, "end_ms" -> ms1, "wall_s" -> wall,
      "ok" -> err.isEmpty, "error" -> err.getOrElse(""),
      "rows" -> ctx.rows, "lower_s" -> ctx.lowerS,
      "load" -> math.max(load0, load1),
      "cpu_util" -> (if (wall > 0) cpuS / (wall * cpus) else 0.0),
      "extra" -> ctx.extra)
  }
}

trait Workload {
  /** Scale parameters, recorded with the run. */
  def scale: Map[String, Any]
  /** Writes the seed's inputs under `dir` and computes the reference answers. */
  def generate(spark: SparkSession, seed: Long, dir: Path): Unit
  /** Session-side set-up: load the inputs and pin what the ops read. */
  def setup(spark: SparkSession, dir: Path): Unit
  /** Rounds a run makes even when `--seconds` has passed. */
  def minRounds: Int
  /** One closed-loop round of op calls. */
  def round(r: Runner, n: Int): Unit
}
