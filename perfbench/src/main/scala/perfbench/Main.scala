package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up (which also writes the outputs
  * the checks read), then a closed-loop timed phase with a single client.
  * Everything is written to `<out>/result.json` for `run.py`, which derives
  * the metrics and runs the output checks.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <data> <work> <out> <cpus>
  */
object Main {
  /** At least two samples of every op per run. Without it, a workload
    * whose rounds take about `seconds` ran one round or two depending on
    * the machine's speed at the time, and the first timed round, still
    * JIT-warming, moved `sql_small`'s figures by 15–20 % between runs. */
  val MinRounds = 2

  private def nowMs: Double = System.currentTimeMillis().toDouble

  private def session(cpus: Int, work: String, w: Workload): SparkSession = {
    val b = graft.GraftSession.builder("perfbench", Some(s"local[$cpus]"))
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    w.conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else x.toString

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val Array(workload, seedS, secondsS, traceS, data, work, out, cpusS) = argv
    val (seed, seconds, traced, cpus) =
      (seedS.toLong, secondsS.toDouble, traceS == "1", cpusS.toInt)
    val w = Workloads(workload, data, work)

    // Set-up: the session, input staging and every op once as warm-up, its
    // output written for the checks. `setup_s` runs from JVM start to the
    // first timed op.
    val spark = session(cpus, work, w)
    val tSession = nowMs
    w.stage(spark)
    val tStage = nowMs
    w.ops.foreach(op => w.run(spark, op, NoTrace, w.checkSink(op, s"$out/check")))
    val tSetup = nowMs
    val setupParts = f"""{"session_s":${(tSession - jvmStart) / 1e3}%.3f,""" +
      f""""stage_s":${(tStage - tSession) / 1e3}%.3f,"ops_s":${(tSetup - tStage) / 1e3}%.3f}"""
    val jitSetup = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

    val tracer = if (traced) new SpanTracer(spark, cpus) else NoTrace
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // Timed phase: whole rounds, each a seeded permutation of the op set,
    // until `seconds` have passed and at least MinRounds have run. A failed
    // op is counted and its time stays in the wall.
    val rng = new scala.util.Random(seed)
    val results = mutable.ArrayBuffer[(String, Double, Boolean)]()
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val setup = (System.currentTimeMillis() - jvmStart) / 1e3
    val deadline = t0 + (seconds * 1e9).toLong
    var rounds = 0
    while (rounds < MinRounds || System.nanoTime() < deadline) {
      rng.shuffle(w.ops).foreach { op =>
        val s = System.nanoTime()
        val ok = try { tracer.op(op.name, op.family)(w.run(spark, op, tracer)); true }
        catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] op ${op.name} failed: $e")
          e.printStackTrace()
          false
        }
        results += ((op.name, (System.nanoTime() - s) / 1e9, ok))
      }
      rounds += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    // Spark's ContextCleaner frees unreferenced shuffle, broadcast and
    // checkpoint blocks only after a GC finds them, on its own thread.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val traceJson = tracer match {
      case t: SpanTracer =>
        t.detach()
        val scans = (1 to 3).map { _ =>
          val s = System.nanoTime(); w.scan(spark); (System.nanoTime() - s) / 1e9
        }.sorted
        Files.write(Paths.get(out, "spans.jsonl"), t.spansJson.mkString("", "\n", "\n").getBytes("UTF-8"))
        val opsJson = t.ops.map { case (n, f, figs) =>
          val fs = figs.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
          s"""{"op":"$n","family":"$f","figures":$fs}"""
        }.mkString("[", ",", "]")
        s""","trace":{"ops":$opsJson,"run":{"source.scan_s":${scans(1)},"jvm.jit_s":$jitSetup}}"""
      case _ => ""
    }

    val checks = w.checkFacts(spark)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val ops = results.map { case (n, s, ok) => s"""["$n",$s,$ok]""" }.mkString("[", ",", "]")
    val json = s"""{"workload":"$workload","cpus":$cpus,""" +
      s""""setup_s":$setup,"setup_parts":$setupParts,"rounds":$rounds,""" +
      s""""wall_s":$wall,"cpu_s":$cpu,"live_heap_mb":$liveHeapMb,""" +
      s""""ops":$ops,"check":$checks$traceJson}"""
    Files.write(Paths.get(out, "result.json"), json.getBytes("UTF-8"))
    spark.stop()
    // A non-daemon thread left by a library must not keep the run alive.
    sys.exit(0)
  }
}
