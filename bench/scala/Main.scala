package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import graft.parser.{Parser, Tokenizer}

/** One benchmark operation. `run` does the work; in traced mode it also
  * records the spans only it can see into the [[Ctx]]. */
final case class Op(name: String, kind: String, run: Ctx => Unit)

/** Per-execution context: capture (write the result for checking instead
  * of discarding it), tracing state and the recorded spans (ms). */
final class Ctx(val traced: Boolean, val capture: Option[String]) {
  val rec = mutable.LinkedHashMap.empty[String, Double]
  var buildEnd = Long.MaxValue
  val qes = mutable.ArrayBuffer.empty[QueryExecution]
  /** Wire operations: the client-side round trip, and the in-process
    * replay the traced run splits into layers. */
  var wall: Option[Double] = None
  var shadow: Option[Ctx => Double] = None

  def put(k: String, v: Double): Unit = if (traced) rec(k) = rec.getOrElse(k, 0.0) + v
  def timed[A](k: String)(body: => A): A =
    if (!traced) body
    else { val t = System.nanoTime(); val r = body; put(k, (System.nanoTime() - t) / 1e6); r }
  def built(df: DataFrame): DataFrame = {
    buildEnd = System.currentTimeMillis()
    if (traced) qes += df.queryExecution
    df
  }
  def builtNow(): Unit = buildEnd = System.currentTimeMillis()

  /** Time the dialect front end from outside: the public tokenizer and
    * parser on the same statement text. */
  def front(sql: String): Unit = if (traced) {
    timed("tokenize")(Tokenizer.tokenize(sql))
    timed("parse")(Parser.parse(sql))
  }

  /** Drive a result to the `noop` sink, or to parquet when capturing. */
  def sink(df: DataFrame): Unit = capture match {
    case Some(p) => df.coalesce(1).write.mode("overwrite").parquet(p)
    case None => df.write.format("noop").mode("overwrite").save()
  }
}

/** An output check: a result at `path` that run.py compares with DuckDB
  * running `sql` over the input tables plus `views`. The result is a
  * parquet directory, or with `wire` a JSON list of the text rows a
  * client received over pgwire. It compares column types too when
  * `typed`, as the driver's oracle compare does. */
final case class Check(name: String, path: String, sql: String,
    views: Map[String, String] = Map.empty,
    typed: Boolean = false, wire: Boolean = false)

trait Workload {
  /** The session the operations run on (set by [[setup]]). */
  var session: SparkSession = _
  /** Build all per-session state from scratch on `spark`. */
  def setup(spark: SparkSession, rep: Int): Unit
  /** Nominal time of one warm pass on a 4-core host; sets the pass count. */
  def passSeconds: Double
  /** One pass of operations, in seeded order. */
  def pass(rng: Random): Seq[Op]
  /** Checks for what the capture pass wrote, plus any others. */
  def checks(): Seq[Check]
  def extra(): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Main {
  val SetupReps = 3
  /** Directory for result files and check outputs. */
  var outDir = ""

  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val out = o("out")
    outDir = out
    val cpus = o("cpus").toInt
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", o("work") + "/warehouse")
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val contextMs = (System.currentTimeMillis() - jvmStart).toDouble

    val w: Workload = o("workload") match {
      case "analytic" => new Analytic(o("data"))
      case "interactive" => new Interactive(o("data"))
      case "maintain" => new Maintain(o("data"), o("work"), seed)
    }
    // set-up is repeated from a fresh session each time; the last one
    // serves the run
    val setupMs = (0 until SetupReps).map { rep =>
      if (rep > 0) w.close()
      val t = System.nanoTime()
      w.session = spark.newSession()
      w.setup(w.session, rep)
      (System.nanoTime() - t) / 1e6
    }
    val rng = new Random(seed)
    val sc = spark.sparkContext

    def runOp(op: Op, traced: Boolean, capture: Option[String]): (Double, Option[String], Map[String, Double]) = {
      val ctx = new Ctx(traced, capture)
      if (traced) Trace.begin(sc)
      val t0 = System.nanoTime()
      val err = try { op.run(ctx); None } catch {
        case NonFatal(e) => Some(Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" "))
      }
      val ms = ctx.wall.getOrElse((System.nanoTime() - t0) / 1e6)
      if (!traced) return (ms, err, Map.empty)
      val main = Trace.summarize(Trace.end(sc), ctx.buildEnd, ctx.qes.toSeq) ++ ctx.rec
      val rec = ctx.shadow match {
        case Some(replay) if err.isEmpty =>
          // wire statement: Spark work and bytes from the round trip,
          // front end and planning phases from the in-process replay
          val sctx = new Ctx(true, None)
          Trace.begin(sc)
          val core = replay(sctx)
          val s = Trace.summarize(Trace.end(sc), sctx.buildEnd, sctx.qes.toSeq) ++ sctx.rec
          val fromWire = Seq("exec_ms", "jobs", "stages", "tasks", "task_busy", "task_wait",
            "gc", "shuffle_w", "shuffle_r", "spill", "task_failures", "rt", "bytes_out")
          val replayWall = core + s.getOrElse("tokenize", 0.0) + s.getOrElse("parse", 0.0)
          s -- fromWire ++ main.filter(kv => fromWire.contains(kv._1)) ++
            Map("unaccounted" -> unaccounted(s, replayWall), "overhead" -> (ms - core))
        case _ => main + ("unaccounted" -> unaccounted(main, ms))
      }
      (ms, err, rec.toMap + ("wall" -> ms))
    }

    /** Wall time no layer accounts for: the statement minus the
      * front-end replay (tokenize, then parse), the build span (statement
      * compile, driver function or write) and the union of the planning
      * phases and jobs that ran after the build returned. */
    def unaccounted(r: Map[String, Double], wall: Double): Double = {
      def g(k: String) = r.getOrElse(k, 0.0)
      val build = Seq("compile_total", "queries_build", "operators_build", "write_ms").map(g).sum
      wall - g("tokenize") - g("parse") - build - g("covered_after_build")
    }

    // one capture pass: every operation once, results kept for checks
    val capDir = out + "/capture"
    val t0 = System.nanoTime()
    val capErrors = w.pass(new Random(seed)).zipWithIndex.flatMap { case (op, i) =>
      runOp(op, traced = false, Some(s"$capDir/$i")) match {
        case (_, Some(e), _) => Some(op.name -> e)
        case _ => None
      }
    }
    val warmupMs = (System.nanoTime() - t0) / 1e6
    if (traced) { sc.addSparkListener(Trace); w.session.listenerManager.register(Trace) }

    // timed loop: a fixed number of whole passes, about --seconds long
    // on a 4-core host, so both sides of a comparison do the same work.
    // Traced runs do twice as many passes (at least four), untraced and
    // traced in ABBA order, so the tracing overhead is measured on the
    // same tree in the same process without favouring the later, warmer
    // passes
    val n = math.max(1, math.round(seconds / w.passSeconds).toInt)
    val passes = if (traced) math.max(4, 2 * n) else n
    val ops = mutable.ArrayBuffer.empty[(String, String, Double, Option[String], Boolean)]
    val recs = mutable.ArrayBuffer.empty[(String, String, Map[String, Double])]
    val loopStart = System.nanoTime()
    for (passNo <- 0 until passes) {
      val tracedPass = traced && (passNo % 4 == 1 || passNo % 4 == 2)
      w.pass(rng).foreach { op =>
        val (ms, err, rec) = runOp(op, tracedPass, None)
        ops += ((op.name, op.kind, ms, err, tracedPass))
        if (tracedPass) recs += ((op.name, op.kind, rec))
      }
    }
    val loopMs = (System.nanoTime() - loopStart) / 1e6
    if (traced) { sc.removeSparkListener(Trace); w.session.listenerManager.unregister(Trace) }

    val checks = w.checks()
    val extra = w.extra()
    w.close()
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

    val result = Map(
      "context_ms" -> contextMs, "setup_ms" -> setupMs, "warmup_ms" -> warmupMs,
      "loop_ms" -> loopMs, "passes" -> passes, "rss_mb" -> rssMb,
      "capture_errors" -> capErrors.map { case (n, e) => Map("name" -> n, "err" -> e) },
      "ops" -> ops.map { case (n, k, ms, e, t) =>
        Map("name" -> n, "kind" -> k, "ms" -> ms, "err" -> e, "traced" -> t) },
      "trace" -> recs.zipWithIndex.map { case ((n, k, r), id) =>
        Map("id" -> id, "name" -> n, "kind" -> k, "rec" -> r) },
      "checks" -> checks,
      "extra" -> extra)
    Json.mapper.writeValue(Paths.get(out, "result.json").toFile, result)
    spark.stop()
  }
}

/** JSON for the result file and the check inputs (Scala collections,
  * options and case classes). */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
