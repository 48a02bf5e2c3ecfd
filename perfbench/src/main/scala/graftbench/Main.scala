package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge

import graft.{CacheRegistry, functions => gf}
import graft.etl.{Schemas, Transform}
import graft.pipeline.JobsPipeline
import graft.queries._
import graft.star.SkStrategy
import graft.streaming.IncrementalStar
import graft.streaming.IncrementalStar.DimSpec

/** One benchmark run: set up once, run the workload's operations in a
  * closed loop with one client for the requested seconds, then check
  * outputs outside the timed region. Writes raw samples (and, when
  * traced, the span file) as JSON; `perfbench/run.py` turns them into
  * metrics.
  *
  * Usage: graftbench.Main <workload> <dataDir> <jobsDir> <workDir>
  *   <seed> <seconds> <trace 0|1> <outJson>
  */
object Main {

  final case class Op(name: String, kind: String, latencyS: Double, buildS: Double,
      drainS: Double, tracked: Int, ok: Boolean, traced: Boolean)

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, jobsDir, workDir, seedS, secondsS, traceS,
      outJson) = args
    val h = new Harness(workload, dataDir, jobsDir, workDir, seedS.toLong,
      secondsS.toDouble, traceS == "1")
    val out = try h.run() finally h.stop()
    Files.writeString(Paths.get(outJson), out)
  }

  /** The relational, star, SQL-view and event queries: the BI surface. */
  val biQueries: Seq[QueryDef] =
    CoreQueries.defs ++ StarQueries.defs ++ SqlViews.defs ++ EventQueries.defs
  val VerifySlices = 8
}

final class Harness(workload: String, dataDir: String, jobsDir: String,
    workDir: String, seed: Long, seconds: Double, traced: Boolean) {
  import Main.Op

  private val cpus = Runtime.getRuntime.availableProcessors()
  private var spark: SparkSession = _
  private val trace = new Trace
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val checks = mutable.ArrayBuffer.empty[String]
  private val extra = mutable.ArrayBuffer.empty[(String, String)]

  private def now = System.nanoTime()
  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** A session on a fresh warehouse and local dir, with the same
    * settings as graft.Bench (GraftExtensions, AQE on, UTC). */
  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The shapes graft.Bench warms before timing: scan + agg, sort-merge
    * and broadcast joins, window, explode, regexp, JSON, collect_list. */
  private def warmShapes(): Unit = {
    import org.apache.spark.sql.expressions.Window
    val s = spark
    import s.implicits._
    spark.read.parquet(s"$dataDir/lineitem.parquet").groupBy("l_returnflag")
      .count().write.format("noop").mode("overwrite").save()
    val tiny = (1 to 1000).map(i => (i.toLong % 37, i.toLong, s"v$i $i"))
      .toDF("k", "id", "s")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try tiny.join(tiny.groupBy("k").agg(count(lit(1)).as("c")), "k")
      .write.format("noop").mode("overwrite").save()
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    tiny.withColumn("rn", row_number().over(Window.partitionBy("k").orderBy(desc("id"))))
      .filter(col("rn") <= 2)
      .join(broadcast(tiny.limit(10).select("k")), Seq("k"), "left_semi")
      .select(col("k"), explode(split(col("s"), " ")).as("t"),
        md5(col("s")).as("h"), regexp_extract(col("s"), "\\d+", 0).as("d"),
        from_json(lit("[1,2]"), lit("array<int>")).as("j"))
      .groupBy("k").agg(collect_list(col("t")).as("ts"))
      .select(size(array_distinct(flatten(array(col("ts"))))).as("n"))
      .orderBy("n").write.format("noop").mode("overwrite").save()
  }

  /** Set-up: session creation and warm-up. Returns the seconds from the
    * JVM's start to the end of set-up, which is where the first timed
    * operation starts. The shapes are warmed four times, so that the
    * JIT has compiled the planner and scheduler paths before the loop:
    * after a single round, the first ten queries of a pass ran about
    * twice as slow as the rest. */
  private def setUp(): Double = {
    spark = newSession()
    (1 to 4).foreach(_ => warmShapes())
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  }

  private def setGroup(id: String): Unit =
    spark.sparkContext.setJobGroup(id, id, interruptOnCancel = false)

  /** Attaches (or detaches) the tracing listeners. Before detaching,
    * the listener bus delivers every event still queued, so a traced
    * operation's spans are complete. */
  private def tracing(on: Boolean): Unit = if (on != trace.enabled) {
    CatalystBridge.waitListenerBusEmpty(spark)
    if (on) {
      spark.sparkContext.addSparkListener(trace.sparkListener)
      spark.listenerManager.register(trace.planListener)
    } else {
      spark.sparkContext.removeSparkListener(trace.sparkListener)
      spark.listenerManager.unregister(trace.planListener)
    }
    trace.enabled = on
  }

  /** Times one operation; exceptions count as a failed op. */
  private def timed(name: String, kind: String)(
      body: String => Double): Unit = {
    val id = s"op:${ops.size}"
    val startMs = System.currentTimeMillis()
    val t0 = now
    var buildS = 0.0
    val ok = try { buildS = body(id); true } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        false
    }
    val lat = secs(t0)
    val t1 = now
    val tracked = CacheRegistry.trackedCount
    setGroup(s"$id/drain")
    CacheRegistry.drain()
    spark.catalog.clearCache()
    val drainS = secs(t1)
    val endMs = System.currentTimeMillis()
    trace.span(id, "op", name, "workload", startMs, endMs)
    ops += Op(name, kind, lat, buildS, drainS, tracked, ok, trace.enabled)
  }

  /** A phase span inside an op: the jobs it launches carry its group. */
  private def phase[T](op: String, name: String)(f: => T): T = {
    val id = s"$op/$name"
    setGroup(id)
    val s0 = System.currentTimeMillis()
    try f finally trace.span(id, "phase", name, op, s0, System.currentTimeMillis())
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var loopCpuS = 0.0
  private var passes = 0
  private var incrWallS = 0.0 // wall time of the incremental phases

  /** Closed loop, one client: whole passes (`body(n)`) for as long as
    * the next pass is predicted to end within `seconds`; at least
    * `minPasses`. Returns the loop's wall seconds; `loopCpuS` gets its
    * process CPU and `passes` the number of passes. */
  private def loop(minPasses: Int)(body: Int => Unit): Double = {
    val t0 = now
    val cpu0 = os.getProcessCpuTime
    var n = 0
    while ({ body(n); n += 1; n < minPasses || secs(t0) * (n + 1) / n <= seconds }) ()
    loopCpuS = (os.getProcessCpuTime - cpu0) / 1e9
    passes = n
    secs(t0)
  }

  // ---- query workload -----------------------------------------------

  /** One pass over every query, in a seeded order. In a traced run every
    * query is traced, and every other one also runs untraced, right
    * before or after (alternately): the tracing overhead compares these
    * twins, whose warm-up differs only by that order. */
  private def queryPass(defs: Seq[QueryDef], rng: scala.util.Random): Unit =
    rng.shuffle(defs).zipWithIndex.foreach { case (d, k) =>
      val modes = if (!traced) Seq(false) else k % 4 match {
        case 0 => Seq(true, false)
        case 2 => Seq(false, true)
        case _ => Seq(true)
      }
      modes.foreach { on =>
        tracing(on)
        timed(d.name, "query") { id =>
          val b0 = now
          val df = phase(id, "build")(d.build(spark, dataDir))
          val b = secs(b0)
          phase(id, "run")(df.write.format("noop").mode("overwrite").save())
          b
        }
      }
    }

  /** Writes each query's result for the oracle comparison in run.py. */
  private def verifyQueries(defs: Seq[QueryDef], dir: String): Unit = {
    defs.foreach { d =>
      try d.build(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/${d.name}")
      catch { case NonFatal(e) => check(d.name, ok = false, s"engine error: ${e.getMessage}") }
      finally { CacheRegistry.drain(); spark.catalog.clearCache() }
    }
    val oracle = defs.flatMap(d => d.oracle.map(d.name -> Json.str(_)))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), Json.obj(oracle))
  }

  // ---- ETL workload -------------------------------------------------

  private lazy val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File(s"$jobsDir/manifest.json"))
  private lazy val nowCol = lit(manifest.get("now").asText).cast("timestamp")

  private val incrDims = Seq(
    DimSpec("dim_company", "company_sk", Seq("employer_name")),
    DimSpec("dim_publisher", "publisher_sk", Seq("publisher_name")),
    DimSpec("dim_employment_type", "employment_type_sk", Seq("employment_type_name")),
    DimSpec("dim_location", "location_sk", Seq("job_location"),
      Seq("job_city", "job_state", "job_country")))
  private val incrFactCols = Seq("job_natural_key", "company_sk", "publisher_sk",
    "employment_type_sk", "location_sk")

  /** The micro-batch feed: one generated file per trigger, conformed and
    * keyed the way the batch star keys its dimensions. */
  private def incrLanding(): DataFrame = {
    val raw = spark.readStream.schema(Schemas.RawJob)
      .option("maxFilesPerTrigger", "1").json(s"$jobsDir/incr")
    Transform.conform(raw, nowCol).select(
      gf.stableHash(concat_ws("", Seq("job_title", "employer_name", "job_publisher",
        "job_location", "job_posted_at_datetime_utc").map(col): _*)).as("job_natural_key"),
      gf.normName(col("employer_name")).as("employer_name"),
      gf.normTitle(col("job_publisher")).as("publisher_name"),
      gf.normTitle(col("job_employment_type")).as("employment_type_name"),
      col("job_location"), col("job_city"), col("job_state"), col("job_country"))
  }

  private def dirBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(c => dirBytes(c.getPath)).sum
  }

  private def check(name: String, ok: Boolean, detail: String): Unit =
    checks += Json.obj(Seq("name" -> Json.str(name), "ok" -> ok.toString,
      "detail" -> Json.str(detail)))

  private def etlDb(c: Int) = s"etl_c$c"
  private def etlPaths(c: Int) = JobsPipeline.Paths(s"$workDir/etl/c$c")

  /** One cycle into its own database: the batch chain as one op (its
    * stages are phases), then the incremental star over the micro-batch
    * files (each micro-batch an op, timed by the stream's own progress
    * report). A traced run has at least three cycles: an untraced
    * warm-up whose operations are dropped, then traced and untraced
    * cycles in turn, starting with the seed's parity; the tracing
    * overhead compares them. */
  private def etlCycle(c: Int): Unit = {
    val db = etlDb(c)
    val paths = etlPaths(c)
    var raw, landing, loaded: DataFrame = null
    tracing(traced && c > 0 && Math.floorMod(c + seed, 2L) == 0)
    timed("pipeline.batch", "batch") { id =>
      phase(id, "pipeline.setup")(JobsPipeline.setup(spark, db))
      phase(id, "pipeline.extract") {
        raw = JobsPipeline.extract(spark, s"$jobsDir/raw_jobs.json", paths)
      }
      phase(id, "pipeline.transform") {
        landing = JobsPipeline.transform(spark, raw, nowCol, paths)
      }
      phase(id, "pipeline.load") { loaded = JobsPipeline.load(spark, landing, db) }
      phase(id, "star.build")(
        JobsPipeline.buildStar(spark, loaded, nowCol, db, SkStrategy.Auto))
      0.0
    }
    if (c == 0) extra += "bytes_written" -> (dirBytes(paths.rawDir) +
      dirBytes(paths.transformedDir) + dirBytes(s"$workDir/warehouse/$db.db")).toString
    val t0 = now
    val q = IncrementalStar.stream(incrLanding(), db, incrDims,
        "fact_job_postings_incr", incrFactCols)
      .option("checkpointLocation", s"${paths.workDir}/checkpoint")
      .start()
    q.awaitTermination()
    incrWallS += secs(t0)
    q.recentProgress.foreach { p =>
      def durS(k: String): Double = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val endMs = startMs + (durS("triggerExecution") * 1e3).toLong
      val id = s"op:${ops.size}"
      trace.span(id, "op", "streaming.batch", "workload", startMs, endMs,
        s""","rows":${p.numInputRows},"add_batch_s":${Json.num(durS("addBatch"))},""" +
          s""""commit_s":${Json.num(durS("commitOffsets") + durS("walCommit"))}""")
      // Micro-batch jobs attach to this op through their batch id.
      trace.span(s"batch:${p.runId}:${p.batchId}", "phase", "run", id, startMs, endMs)
      ops += Op("streaming.batch", "microbatch", durS("triggerExecution"), 0.0, 0.0, 0,
        ok = true, trace.enabled)
    }
    q.exception.foreach(e => check("streaming", ok = false, e.getMessage))
    CacheRegistry.drain()
    spark.catalog.clearCache()
  }

  /** The star and incremental checks, on the last cycle's database. */
  private def checkEtl(c: Int): Unit = {
    val db = etlDb(c)
    Seq("fact_job_postings_incr", "dim_company", "dim_publisher",
      "dim_employment_type", "dim_location").foreach(t => spark.catalog.refreshTable(s"$db.$t"))
    manifest.get("expected_after_incr").fields.forEachRemaining { e =>
      val (t, want) = (e.getKey, e.getValue.asLong)
      val n = spark.table(s"$db.$t").count()
      check(s"star.$t.rows", n == want, s"$n rows, expected $want")
    }
    val fact = spark.table(s"$db.fact_job_postings")
    val bridge = spark.table(s"$db.bridge_job_skill")
    val pks = fact.select(countDistinct("job_posting_pk")).head().getLong(0)
    check("star.fact.unique_pk", pks == fact.count(), s"$pks distinct pks")
    val orphanFact = bridge.join(fact, Seq("job_posting_pk"), "left_anti").count()
    val orphanSkill =
      bridge.join(spark.table(s"$db.dim_skill"), Seq("skill_sk"), "left_anti").count()
    check("star.bridge.covered", orphanFact == 0 && orphanSkill == 0,
      s"$orphanFact pairs without a fact row, $orphanSkill without a skill")
    val n = spark.table(s"$db.fact_job_postings_incr").count()
    val fed = manifest.get("incr_rows").asLong
    check("incremental.fact_rows", n == fed, s"$n rows, fed $fed")
  }

  // ---- run ----------------------------------------------------------

  def run(): String = {
    val setupS = setUp()
    var loopS, rssMb, unitWallS = 0.0
    var last = 0
    // Peak RSS of set-up and loop, read before the checks run.
    def peakRss() = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    workload match {
      case "bi_queries" =>
        val defs = Main.biQueries
        val rng = new scala.util.Random(seed)
        loopS = loop(1)(_ => queryPass(defs, rng))
        unitWallS = loopS
        rssMb = peakRss()
        tracing(false)
        // A seed-chosen eighth of the queries per run (a run has no
        // room for a second full pass): over any eight consecutive
        // seeds every query is checked.
        verifyQueries(defs.zipWithIndex.collect {
          case (d, i) if i % Main.VerifySlices == Math.floorMod(seed, Main.VerifySlices) => d
        }, s"$workDir/verify")
      case "etl_pipeline" =>
        loopS = loop(if (traced) 3 else 1) { c =>
          etlCycle(c)
          if (traced && c == 0) ops.clear() // the warm-up cycle
          last = c
        }
        unitWallS = incrWallS
        rssMb = peakRss()
        tracing(false)
        checkEtl(last)
    }
    val opsJson = ops.toSeq.map(o => Json.obj(Seq(
      "name" -> Json.str(o.name), "kind" -> Json.str(o.kind), "latency_s" -> Json.num(o.latencyS),
      "build_s" -> Json.num(o.buildS), "drain_s" -> Json.num(o.drainS),
      "tracked" -> o.tracked.toString, "ok" -> o.ok.toString, "traced" -> o.traced.toString)))
    Json.obj(Seq(
      "workload" -> Json.str(workload), "cpus" -> cpus.toString, "traced" -> traced.toString,
      "setup_s" -> Json.num(setupS), "loop_s" -> Json.num(loopS), "passes" -> passes.toString,
      "unit_wall_s" -> Json.num(unitWallS), "loop_cpu_s" -> Json.num(loopCpuS),
      "peak_rss_mb" -> Json.num(rssMb), "ops" -> Json.arr(opsJson),
      "checks" -> Json.arr(checks.toSeq), "extra" -> Json.obj(extra.toSeq)) ++
      (if (traced) Seq("trace" -> trace.json) else Nil))
  }

  def stop(): Unit = if (spark != null) spark.stop()
}
