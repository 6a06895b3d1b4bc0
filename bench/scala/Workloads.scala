package graftbench

import java.io.File
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.SparkEntry
import graft.exec.Executor
import graft.server.PgWireServer
import graft.sources.{Skipping, Tables}
import graft.tools.SqlFuzzer

/** Driver queries at sf0.1 through the `noop` sink: the TPC-H-style
  * DataFrame-API (`q*`) and dialect-SQL (`fq_q*`) entries, bound by scan,
  * join, aggregation and shuffle, plus two LLM-data operator entries:
  * simhash dedup, and PCA whitening, whose model fit runs eager driver
  * jobs before the DataFrame returns. The DataFrame-API entries are built
  * by their registry function; the `fq_*` entries, whose oracle text is
  * the engine text, go through an Executor so the front end is on the
  * path. */
final class Analytic(dir: String) extends Workload {
  val passSeconds = 3.5
  private val names = Seq("q3_segment_revenue", "q5_nation_revenue", "q6_forecast_revenue",
    "fq_q2_best_supplier", "fq_q22_idle_balance", "dd_simhash", "sim_pca_whiten")
  private lazy val fns = SparkEntry.queries
  private lazy val oracle = SparkEntry.oracleSql
  private var exec: Executor = _
  private val captured = mutable.LinkedHashMap.empty[String, String]

  def setup(spark: SparkSession, rep: Int): Unit = {
    // the scope reads every table's footer; the executor serves fq_*
    exec = new Executor(spark, Tables.scope(spark, dir))
  }

  private lazy val ops: Seq[Op] = names.map { n =>
    if (n.startsWith("fq_")) {
      val sql = oracle(n)
      Op(n, "read", ctx => {
        ctx.front(sql)
        val df = ctx.timed("compile_total")(exec.query(sql))
        ctx.built(df)
        ctx.sink(df)
        ctx.capture.foreach(captured(n) = _)
      })
    } else Op(n, "read", ctx => {
      val layer = if (n.startsWith("q")) "queries_build" else "operators_build"
      val df = ctx.timed(layer)(fns(n)(session, dir))
      ctx.built(df)
      ctx.sink(df)
      ctx.capture.foreach(captured(n) = _)
    })
  }

  def pass(rng: Random): Seq[Op] = rng.shuffle(ops)

  def checks(): Seq[Check] = captured.toSeq.map { case (n, p) =>
    Check(n, path = p, sql = oracle(n), typed = true)
  }
}

/** SqlFuzzer SELECTs and DML programs over one pgwire connection. The
  * statements are the head of the fuzzer's committed corpora (fixed
  * fuzzer seeds), so every run measures the same statement mix; the run
  * seed draws the data, the statement order and where each DML program
  * sits. */
final class Interactive(dir: String) extends Workload {
  val passSeconds = 5.5
  val nV1 = 10; val nV2 = 3; val nV3 = 1; val nPrograms = 1
  private val reads: Seq[(String, String)] =
    (0 until nV1).map(i => s"v1_$i" -> SqlFuzzer.query(SqlFuzzer.CorpusSeed, i)) ++
    (0 until nV2).map(i => s"v2_$i" -> SqlFuzzer.queryV2(SqlFuzzer.CorpusV2Seed, i)) ++
    (0 until nV3).map(i => s"v3_$i" -> SqlFuzzer.queryV3(SqlFuzzer.CorpusV3Seed, i))
  private val programs = (0 until nPrograms).map(j => SqlFuzzer.programV4(SqlFuzzer.CorpusV4Seed, j))
  private var server: PgWireServer = _
  private var client: PgClient = _
  private var mirror: Executor = _
  private val wireRows = mutable.LinkedHashMap.empty[String, Vector[Array[String]]]

  def setup(spark: SparkSession, rep: Int): Unit = {
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", LongType)))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val scope = Tables.scope(spark, dir) ++ Map("t0" -> empty, "t" -> empty)
    server = new PgWireServer(spark, scope, defaultMaxRows = 1000000)
    client = new PgClient(server.boundPort)
    mirror = new Executor(spark, scope)
  }

  private def wireOp(name: String, kind: String, sql: String,
      verify: Vector[Array[String]] => Option[String] = _ => None): Op =
    Op(name, kind, ctx => {
      val t = System.nanoTime()
      val r = client.query(sql)
      ctx.wall = Some((System.nanoTime() - t) / 1e6)
      r.error.foreach(e => throw new IllegalStateException(e))
      verify(r.rows).foreach(e => throw new IllegalStateException(s"wrong answer: $e"))
      if (ctx.capture.isDefined) wireRows(name) = r.rows
      ctx.put("bytes_out", r.bytes.toDouble)
      ctx.shadow = Some(replay(kind, sql))
    })

  /** The same statement in-process on a mirror session; returns the
    * statement's wall time without the front-end replay. */
  private def replay(kind: String, sql: String)(ctx: Ctx): Double = {
    ctx.front(sql)
    val t = System.nanoTime()
    if (kind == "read") {
      val df = ctx.timed("compile_total")(mirror.query(sql))
      ctx.built(df)
      df.collect()
    } else {
      ctx.timed("write_ms") { mirror.execute(sql); mirror.lastCommandTag }
      ctx.builtNow()
      ctx.put("plan_nodes", mirror.table("t")
        .map(_.queryExecution.analyzed.collect { case p => p }.size.toDouble).getOrElse(0.0))
    }
    (System.nanoTime() - t) / 1e6
  }

  private def programOps(p: SqlFuzzer.DmlProgram, j: Int): Seq[Op] = {
    def cell(s: String) = Option(s).map(_.toLong)
    val expected = p.expected.map(_.toString).sorted
    wireOp(s"dml${j}_reset", "write", "CREATE TABLE t AS SELECT id, v FROM t0") +:
      p.statements.zipWithIndex.map { case (s, k) => wireOp(s"dml${j}_$k", "write", s) } :+
      wireOp(s"dml${j}_result", "read", "SELECT id, v FROM t", rows => {
        val got = rows.map(r => (cell(r(0)), cell(r(1))).toString).sorted
        if (got == expected) None else Some(s"program $j: got ${got.size} rows, expected ${expected.size}")
      })
  }

  private lazy val readOps = reads.map { case (n, sql) => wireOp(n, "read", sql) }

  /** Shuffled reads with each DML program inserted whole at a seeded
    * read position (programs share `t`, so they never interleave). */
  def pass(rng: Random): Seq[Op] = {
    val rs = rng.shuffle(readOps).toVector
    val at = programs.indices.map(j => (rng.nextInt(rs.size + 1), j)).sorted
    val out = Vector.newBuilder[Op]
    var i = 0
    at.foreach { case (pos, j) =>
      out ++= rs.slice(i, pos) ++= programOps(programs(j), j)
      i = pos
    }
    (out ++= rs.drop(i)).result()
  }

  /** Each SELECT's text rows as the client received them in the capture
    * pass, for run.py to compare with DuckDB. */
  def checks(): Seq[Check] = {
    val base = new File(s"${Main.outDir}/wire")
    base.mkdirs()
    reads.filter(r => wireRows.contains(r._1)).map { case (n, sql) =>
      val f = new File(base, s"$n.json")
      Json.mapper.writeValue(f, wireRows(n))
      Check(n, path = f.getAbsolutePath, sql = sql, wire = true)
    }
  }

  override def close(): Unit = {
    if (client != null) client.close()
    if (server != null) server.close()
  }
}

/** Each pass rewrites a seeded slice of `events` as a persisted table
  * (CTAS) and OPTIMIZEs it with Z-order, index, bloom, ndv and hll
  * sidecars; then probes it: range and point probes the manifest prunes,
  * a metadata-only aggregate, a top-k and an unprunable probe on the
  * non-indexed `props`. The probe set runs once on the driver stats
  * cache and once with `graft.skipping.statsDriverMaxBytes` below the
  * manifest size (the distributed path of very large tables), and that
  * pair of groups repeats [[GroupPairs]] times. The first group on each
  * path after the writes loads that path's stats; the later ones find
  * them cached. */
final class Maintain(dir: String, work: String, seed: Long) extends Workload {
  val passSeconds = 10.0
  val GroupPairs = 3
  private val r = new Random(seed * 7919L + 17)
  private val cols = "event_id, ts, user_id, event_type, value, props"
  private val u0 = r.nextInt(1400)
  private val probes: Seq[(String, String, String)] = Seq(
    ("range", "pruned", "select count(1) as n, cast(sum(cast(value as decimal(18,2))) as decimal(18,2)) as v " +
      s"from sl where user_id between $u0 and ${u0 + 20}"),
    ("point", "pruned", "select count(1) as n, min(event_id) as lo, max(event_id) as hi " +
      s"from sl where user_id = ${r.nextInt(1500)}"),
    ("meta_count", "metadata", "select count(1) as n, min(user_id) as lo, max(user_id) as hi from sl"),
    ("topk", "topk", "select event_id, user_id from sl order by user_id desc, event_id desc limit 5"),
    ("bypass", "bypass", s"select count(1) as n from sl where props = '{\"k\": ${r.nextInt(100)}}'"))
  private val sliceRows = 20000
  private val sliceLo = r.nextInt(80000)
  private val slice = s"event_id between $sliceLo and ${sliceLo + sliceRows - 1}"
  private val sliceView = Map("sl" -> s"select $cols from events where $slice")
  private var exec: Executor = _
  private val captured = mutable.LinkedHashMap.empty[String, String]

  def setup(spark: SparkSession, rep: Int): Unit = {
    exec = new Executor(spark, Map("events" -> Tables.load(spark, dir, "events")))
    exec.setBasepath(new File(s"$work/maintain/$rep").getAbsolutePath)
  }

  private def slPath = s"${exec.basepath}/sl.parquet"

  private def probeOp(name: String, kind: String, sql: String, distributed: Boolean): Op = {
    val full = name + (if (distributed) "@distributed" else "@driver")
    Op(full, "read", ctx => {
      if (distributed) sys.props("graft.skipping.statsDriverMaxBytes") = "1"
      try {
        ctx.front(sql)
        val df = ctx.timed("compile_total")(exec.query(sql))
        ctx.built(df)
        df.collect()
        ctx.capture.filterNot(_ => captured.contains(full)).foreach { p =>
          df.coalesce(1).write.mode("overwrite").parquet(p)
          captured(full) = p
        }
        if (ctx.traced) {
          ctx.put("files_scanned", Trace.filesScanned(df.queryExecution.executedPlan).toDouble)
          ctx.put("files_total", Skipping.dataFiles(session, slPath).size.toDouble)
          ctx.put(s"probe_$kind", 1.0)
          ctx.put(if (distributed) "path_distributed" else "path_driver", 1.0)
        }
      } finally if (distributed) sys.props.remove("graft.skipping.statsDriverMaxBytes")
    })
  }

  private def writeOp(name: String, sql: String): Op = Op(name, "write", ctx => {
    ctx.front(sql)
    ctx.timed("write_ms") { exec.execute(sql); exec.lastCommandTag }
    ctx.builtNow()
    ctx.put("sources_build", ctx.rec.getOrElse("write_ms", 0.0))
  })

  private lazy val writes = Seq(
    writeOp("ctas_slice", s"CREATE TABLE sl WITH (persist 'parquet') AS SELECT $cols FROM events WHERE $slice"),
    writeOp("optimize_slice", "OPTIMIZE sl ZORDER BY (user_id) WITH (files '4', " +
      "index 'user_id,value', bloom 'user_id', ndv 'event_type', hll 'user_id')"))

  def pass(rng: Random): Seq[Op] = {
    def group(distributed: Boolean) =
      rng.shuffle(probes.map { case (n, k, sql) => probeOp(n, k, sql, distributed) })
    writes ++ (0 until GroupPairs).flatMap(_ => group(false) ++ group(true))
  }

  def checks(): Seq[Check] = {
    val sliceSql = "select count(1) as n, min(event_id) as lo, max(event_id) as hi, " +
      "count(distinct user_id) as u from sl"
    val p = new File(s"${Main.outDir}/slice").getAbsolutePath
    exec.query(sliceSql).coalesce(1).write.mode("overwrite").parquet(p)
    captured.toSeq.map { case (n, path) =>
      Check(n, path = path, sql = probes.find(x => n.startsWith(x._1 + "@")).get._3, views = sliceView)
    } :+ Check("ctas_slice", path = p, sql = sliceSql, views = sliceView)
  }

  override def extra(): Map[String, Double] = {
    def du(f: File): Long = if (f.isDirectory) f.listFiles().map(du).sum else f.length()
    val root = new File(slPath)
    val data = Skipping.dataFiles(session, slPath).map(n => new File(root, n).length()).sum
    val source = new File(s"$dir/events.parquet")
    val sourceRows = session.read.parquet(source.getPath).count()
    Map("stored_bytes" -> du(root).toDouble, "manifest_bytes" -> (du(root) - data).toDouble,
      "source_bytes" -> source.length().toDouble * sliceRows / sourceRows)
  }
}
