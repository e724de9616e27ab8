package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one workload iteration reports back to the loop. `ops` are the
  * operations it attempted, each with its latency in seconds and whether
  * it succeeded (ran without error and produced the recorded output). */
final case class Op(name: String, seconds: Double, ok: Boolean)

/** The measured part of one iteration: wall and process CPU seconds,
  * the JVM's JIT-compile and GC seconds, and the host's foreign-CPU and
  * steal shares over the same window. */
final case class Window(wall: Double, cpu: Double, foreign: Double,
                        steal: Double, jit: Double = 0, gc: Double = 0)

object Window {
  def measure[T](body: => T): (T, Window) = {
    val h0 = Host.sample(); val c0 = Cpu.processSeconds
    val j0 = Jvm.jitSeconds; val g0 = Jvm.gcSeconds
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Cpu.processSeconds - c0
    val (foreign, steal) = Host.shares(h0, Host.sample())
    (out, Window(wall, cpu, foreign, steal, Jvm.jitSeconds - j0,
      Jvm.gcSeconds - g0))
  }
}

/** Times the calls of one iteration: the `iteration` span, the window's
  * wall/CPU/JVM/host readings and the post-GC heap peak. The listener bus
  * is drained on both edges so every Spark event of the window, and none
  * of the checks after it, lands in the trace folds. */
final class Meter(spark: SparkSession, val trace: Tracer) {
  private def drain(): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
  def apply[T](iter: Int)(body: => T): (T, Window) = {
    drain(); HeapPeak.on = true
    try Window.measure(trace("iteration", iter)(body))
    finally {
      drain(); HeapPeak.on = false
    }
  }
}

/** One benchmark workload. `prepare` derives the inputs (not timed, not
  * part of set-up); `warm` runs the untimed warm-up iteration, records
  * its outputs as the reference and self-checks the inputs, returning the
  * checks and the warm-up seconds; `iterate` runs one timed iteration,
  * timing only the calls into the program and checking their outputs
  * afterwards. */
trait Workload {
  def prepare(): Unit
  def warm(): (Seq[Check], Double)
  def iterate(iter: Int, meter: Meter): (Window, Seq[Op], Map[String, Any])
  /** Bytes of the parquet inputs one iteration reads. */
  def inputBytes: Long
}

final case class Check(name: String, ok: Boolean, detail: String = "")

object Main {
  private def arg(args: Array[String], k: String, dflt: String): String = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) args(i + 1) else dflt
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload", "")
    val seed = arg(args, "--seed", "1").toLong
    val seconds = arg(args, "--seconds", "10").toDouble
    val trace = arg(args, "--trace", "0") == "1"
    val data = arg(args, "--data", "")
    val work = arg(args, "--work", "")
    val record = arg(args, "--record", "")
    val cores = arg(args, "--cores", "4").toInt
    val t0 = System.nanoTime()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    HeapPeak.install()
    val tracer = new Tracer(spark.sparkContext, t0)
    val meter = new Meter(spark, tracer)

    val w: Workload = workload match {
      case "monthly_batch" =>
        new MonthlyBatch(spark, data, work, seed, rerunCheck = trace)
      case "curation" => new CurationRun(spark, data, work)
      case "reporting_mix" => new ReportingMix(spark, data, work, seed)
      case other => throw new IllegalArgumentException(s"workload: $other")
    }
    val genStart = System.nanoTime()
    w.prepare()
    val prepareS = (System.nanoTime() - genStart) / 1e9
    val (checks, warmS) = w.warm()
    // set-up: JVM start to a ready session, plus the warm-up iteration;
    // the input derivation and the checks are benchmark code
    val setupS = sessionS + warmS

    // closed loop, one client: the next iteration starts when the last
    // one ends. A traced run spends its first half untraced, so the
    // ratio of the two halves' medians is the tracing overhead.
    val iters = mutable.ArrayBuffer.empty[Map[String, Any]]
    val fold = new ExecFold(tracer)
    val plan = new PlanFold
    def loop(budget: Double, traced: Boolean): Unit = {
      val start = System.nanoTime()
      var n = 0
      while (n == 0 || (System.nanoTime() - start) / 1e9 < budget) {
        val i = iters.size
        val (win, ops, extra) = w.iterate(i, meter)
        iters += Map("iter" -> i, "traced" -> traced, "wall_s" -> win.wall,
          "cpu_s" -> win.cpu, "jit_s" -> win.jit, "gc_s" -> win.gc,
          "host_foreign_cpu_share" -> win.foreign,
          "host_steal_share" -> win.steal,
          "ops" -> ops.map(o => Map("name" -> o.name, "s" -> o.seconds,
            "ok" -> o.ok))) ++ extra
        n += 1
      }
    }
    if (trace) {
      loop(seconds / 2, traced = false)
      spark.sparkContext.addSparkListener(fold)
      spark.listenerManager.register(plan)
      tracer.enabled = true
      loop(seconds / 2, traced = true)
      tracer.enabled = false
    } else loop(seconds, traced = false)

    // innermost span (latest start) open when each planning began
    val planBySpan = plan.phases.asScala.toSeq.flatMap { case (ms, p) =>
      tracer.spans.filter(s => s.wallStartMs <= ms && ms <= s.wallEndMs)
        .maxByOption(s => (s.wallStartMs, s.id)).map(_.id -> p)
    }.groupMap(_._1)(_._2)
    val spanRecs = tracer.spans.map { s =>
      val phases = planBySpan.getOrElse(s.id, Nil)
      def phase(k: String) = phases.map(_.getOrElse(k, 0.0)).sum
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "iter" -> s.iter, "start" -> s.start, "end" -> s.end,
        "plan" -> Map("analysis_s" -> phase("analysis"),
          "optimization_s" -> phase("optimization"),
          "planning_s" -> phase("planning")),
        "exec" -> Option(fold.bySpan.get(s.id)).map(_.toMap)
          .getOrElse(Map.empty))
    }
    val out = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "seconds" -> seconds, "trace" -> trace,
      "setup_s" -> setupS, "session_s" -> sessionS, "warm_s" -> warmS,
      "prepare_s" -> prepareS,
      "mem_peak_mb" -> HeapPeak.peak / 1048576.0,
      "gc_count" -> HeapPeak.count,
      "input_bytes" -> w.inputBytes,
      "iterations" -> iters,
      "checks" -> checks.map(c =>
        Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "spans" -> spanRecs)
    val f = new java.io.File(record)
    java.nio.file.Files.write(f.toPath, Json(out).getBytes("UTF-8"))
    spark.stop()
  }
}
