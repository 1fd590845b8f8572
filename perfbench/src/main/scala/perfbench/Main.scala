package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark harness: one closed-loop client thread driving one
  * workload through the engine's public functions on `local[N]`.
  *
  * A run sets up once (session, inputs staged, pass 0 run as a
  * verified warm-up) and then times whole passes, so every run times
  * the same mix of ops. Untraced (`--trace 0`) it starts passes until `--seconds`
  * have gone by. Traced (`--trace 1`) it does so for half of
  * `--seconds`, then runs the same number of passes with the tracer's
  * listeners attached, then as many untraced again; traced against
  * untraced gives the tracing overhead. It writes its raw record (set-up times, every op, the
  * trace, end checks) as JSON to `--out`; `run.py` turns that into
  * metrics.
  *
  * Usage: perfbench.Main --workload analytics|kv_churn|stream_cdc
  *   --seed N --seconds S --trace 0|1 --data DIR --out FILE [--smoke]
  *        perfbench.Main --dump-oracles FILE
  */
object Main {
  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
                        trace: Boolean = false, data: String = "", out: String = "",
                        smoke: Boolean = false, dumpOracles: String = "")

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--smoke" :: t => parse(t, o.copy(smoke = true))
    case "--dump-oracles" :: v :: t => parse(t, o.copy(dumpOracles = v))
    case Nil => o
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "analytics" => new Analytics(ctx)
    case "kv_churn" => new KvChurn(ctx)
    case "stream_cdc" => new StreamCdc(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(UTF_8))

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toList)
    if (o.dumpOracles.nonEmpty) {
      write(o.dumpOracles, Json.render(Analytics.Mix.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap))
      return
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.local()
    val sessionMs = System.currentTimeMillis()
    val dir = new File("setup").getAbsoluteFile
    dir.mkdirs()
    val ctx = new Ctx(spark, o.data, dir.getPath, o.seed, o.smoke, new Tracer(spark, enabled = false))
    val w = workload(o.workload, ctx)
    var opCount = 0

    def runOp(op: Op, phase: String, tracer: Tracer): Map[String, Any] = {
      w.betweenOps()
      val id = opCount
      opCount += 1
      val gc0 = gcMs()
      heapPools.foreach(_.resetPeakUsage())
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try Right(tracer.span(op.name, id)(op.body())) catch { case NonFatal(e) => Left(e) }
      val t1 = System.nanoTime()
      val gc = gcMs() - gc0
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
      val v = res match {
        case Left(e) => Verdict(ok = false, s"threw: $e")
        case Right(r) => try op.verify(r) catch { case NonFatal(e) => Verdict(ok = false, s"verify threw: $e") }
      }
      if (!v.ok) System.err.println(s"[perfbench] op $id ${op.name} failed: ${v.detail}")
      Map("id" -> id, "name" -> op.name, "kind" -> op.kind, "module" -> op.module,
        "phase" -> phase, "start_ms" -> wall0, "latency_s" -> (t1 - t0) / 1e9,
        "threw" -> res.isLeft, "ok" -> v.ok, "detail" -> v.detail,
        "fingerprint" -> v.fingerprint, "extra" -> v.extra,
        "gc_s" -> gc / 1e3, "heap_peak_mb" -> heapPeak / 1e6)
    }

    w.setup()
    val stagedMs = System.currentTimeMillis()
    val warmup = w.pass(0).map(op => runOp(op, "warmup", ctx.tracer)).toSeq
    val warmMs = System.currentTimeMillis()
    val setupS = (warmMs - jvmStartMs) / 1e3
    val setupParts = Map("session" -> (sessionMs - jvmStartMs) / 1e3,
      "stage" -> (stagedMs - sessionMs) / 1e3, "warmup" -> (warmMs - stagedMs) / 1e3)

    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    var nextPass = 1
    /** Runs whole passes until `stop(passes so far)` holds before one.
      * Returns the count. */
    def runPasses(phase: String, tracer: Tracer)(stop: Int => Boolean): Int = {
      ctx.tracer = tracer
      var done = 0
      while (!stop(done)) {
        w.pass(nextPass).foreach(op => ops += runOp(op, phase, tracer))
        nextPass += 1
        done += 1
      }
      done
    }

    val timedStart = System.nanoTime()
    val traceReport =
      if (!o.trace) {
        val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
        runPasses("timed", ctx.tracer)(_ => System.nanoTime() >= deadline)
        None
      } else {
        val half = System.nanoTime() + (o.seconds * 0.5e9).toLong
        val untraced = ctx.tracer
        val passes = runPasses("untraced", untraced)(_ => System.nanoTime() >= half)
        val tracer = new Tracer(spark, enabled = true)
        tracer.attach()
        runPasses("traced", tracer)(_ >= passes)
        val report = tracer.report()
        tracer.detach()
        // untraced again, so a warm-up trend across the run cancels out
        // of the traced/untraced comparison
        runPasses("untraced", untraced)(_ >= passes)
        Some(report)
      }

    val finishStart = System.nanoTime()
    val endChecks = try w.finish() catch { case NonFatal(e) => Seq(("finish", false, s"threw: $e")) }
    endChecks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] end check ${c._1} failed: ${c._3}"))
    val endMetrics = w.endMetrics()
    val env = Map(
      "workload" -> o.workload, "seed" -> o.seed, "smoke" -> o.smoke,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master, "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-Xm")).toSeq,
      "java_version" -> System.getProperty("java.version"))
    val stopStart = System.nanoTime()
    w.teardown()
    spark.stop()
    val end = System.nanoTime()
    val phases = Map("timed" -> (finishStart - timedStart) / 1e9,
      "finish" -> (stopStart - finishStart) / 1e9, "stop" -> (end - stopStart) / 1e9)
    write(o.out, Json.render(Map(
      "env" -> env, "setup_s" -> setupS, "setup_parts_s" -> setupParts,
      "phase_s" -> phases, "warmup" -> warmup, "ops" -> ops,
      "trace" -> traceReport,
      "end_checks" -> endChecks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "end_metrics" -> endMetrics)))
  }
}
