package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.sql.DriverManager

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.BenchReset
import graft.core.Pipeline
import graft.load.Loader

/** Command-line options; see run.py for how they are filled in. */
case class Options(
    mode: String, // bench | goldens
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: String,
    work: String,
    goldens: String,
    dump: Option[String])

object Options {
  def parse(args: Array[String]): Options = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Options(kv.getOrElse("mode", "bench"), kv.getOrElse("workload", ""),
      kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1", need("data"), need("work"),
      kv.getOrElse("goldens", ""), kv.get("dump"))
  }
}

/** Everything measured for one operation (a request or a query). */
final class OpRecord(val k: Int, val name: String, val module: String,
                     val traced: Boolean) {
  var wallNs = 0L
  var ok = true
  var error = ""
  /** Per-layer quantities, keyed by metric suffix (construct_s, ingest.jobs, ...). */
  val m = mutable.LinkedHashMap.empty[String, Double]
  def add(key: String, v: Double): Unit = m(key) = m.getOrElse(key, 0.0) + v
}

object Main {

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val o = Options.parse(args)
        o.mode match {
          case "bench" => new BenchRun(o).run()
          case "goldens" => Goldens.write(o)
          case m => throw new IllegalArgumentException(s"unknown mode $m")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val started = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since the JVM started. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - started) / 1e9}%.1fs $msg")

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Peak resident set of this JVM, from /proc (0 where unavailable). */
  def peakRssMb: Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }

  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** One benchmark run: set-up (session build + warm-up), the timed
  * closed loop over the run's operations with one in flight at a time,
  * output checks outside the timed region, and the result line.
  */
final class BenchRun(o: Options) {
  import Main._

  private val isRequest = o.workload == "etl_request"
  require(isRequest || o.workload == "catalog", s"unknown workload '${o.workload}'")
  private lazy val goldens: Map[String, Fingerprint] = Goldens.read(o.goldens)

  private var spark: SparkSession = _
  private var rec: Recorder = _
  private var plans: PlanListener = _
  private var storage: BenchReset.BroadcastTracker = _
  private val tracer = new Tracer(false)
  private val ops = ArrayBuffer.empty[OpRecord]
  private val csvHashes = mutable.HashMap.empty[String, String]
  private var nextOp = 0
  // epoch-ms -> benchmark-clock ns, for job spans taken from listener events
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** One pass is a request pair (about 15 s) or the catalog entries
    * (about 7.5 s); a run makes one per that many --seconds, at least one.
    */
  private val passes = math.max(1, math.round(o.seconds / (if (isRequest) 15 else 7.5)).toInt)

  /** The run's operations, fixed by workload, seed and --seconds. */
  private def plan(): Seq[Either[PipelineRequest, Entry]] =
    (0 until passes).flatMap { p =>
      if (isRequest) RequestGen.pair(o.seed, p).map(Left(_))
      else Catalog.pass(o.seed, p).map(Right(_))
    }

  private def startSession(): Unit = {
    spark = session(o.work)
    rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    plans = new PlanListener
    spark.listenerManager.register(plans)
    storage = BenchReset.install(spark)
    LogCounter.install()
  }

  /** Goldens recording: the CSV hashes of the warm-up requests. */
  def warmupCsvHashes(): Map[String, String] = {
    startSession()
    RequestGen.warmups.foreach { req =>
      val r = runRequest(req, traced = false)
      require(r.ok, s"warm-up request ${req.id} failed: ${r.error}")
    }
    spark.stop()
    csvHashes.toMap
  }

  private def runOp(op: Either[PipelineRequest, Entry], traced: Boolean): OpRecord = {
    tracer.enabled = traced
    try op.fold(runRequest(_, traced), runQuery(_, traced))
    finally tracer.enabled = false
  }

  def run(): Unit = {
    Files.createDirectories(Paths.get(o.work))
    if (isRequest) csvHashes ++= Goldens.requestHashes(o.goldens)
    // set-up: the session build, cold as a user meets it, then the
    // warm-up operations, once each
    val s0 = System.nanoTime()
    startSession()
    note("session built")
    val planned = plan()
    val warm =
      if (isRequest) RequestGen.warmups.map(runRequest(_, traced = false))
      else Catalog.entries.map(runQuery(_, traced = false, check = false))
    val setupS = (System.nanoTime() - s0) / 1e9
    note("set-up done")
    ops.clear()

    // the timed operations, one at a time; a traced run executes each
    // operation twice, traced and untraced in alternating order, so it
    // measures its own tracing overhead
    BusBridge.drain(spark.sparkContext) // warm-up events must not count as timed
    val cpu0 = rec.cpuNs
    val timed = planned.zipWithIndex.flatMap { case (op, j) =>
      if (!o.trace) Seq(runOp(op, traced = false))
      else if (j % 2 == 0) Seq(runOp(op, traced = false), runOp(op, traced = true))
      else Seq(runOp(op, traced = true), runOp(op, traced = false))
    }
    BusBridge.drain(spark.sparkContext)
    val cpuS = (rec.cpuNs - cpu0) / 1e9

    val failed = (warm ++ timed).filter(!_.ok)
    failed.foreach(r => System.err.println(s"[perfbench] check failed: ${r.name}: ${r.error}"))
    val metrics = if (o.trace) perLayer() else endToEnd(setupS, cpuS)
    if (o.trace) writeTrace()
    spark.stop()
    note("session stopped")
    val body = metrics.map { case (k, (v, unit)) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(unit)}}"
    }.mkString(", ")
    println(s"""{"correct": ${failed.isEmpty}, "attempted": ${timed.size}, """ +
      s""""failed": ${timed.count(!_.ok)}, "metrics": {$body}}""")
  }

  // ------------------------------------------------------------ operations

  private def begin(name: String, module: String, traced: Boolean): OpRecord = {
    val r = new OpRecord(nextOp, name, module, traced)
    nextOp += 1
    ops += r
    r
  }

  private def group(r: OpRecord, phase: String): Unit =
    spark.sparkContext.setJobGroup(if (r.traced) s"op${r.k}|$phase" else s"u|$phase", phase)

  private def fail(r: OpRecord, e: Throwable): Unit = {
    r.ok = false
    r.error = Option(e.getMessage).getOrElse(e.toString).linesIterator.take(1).mkString
  }

  private def runQuery(e: Entry, traced: Boolean, check: Boolean = true): OpRecord = {
    if (traced) settle()
    val r = begin(e.name, e.module, traced)
    val logs0 = LogCounter.snapshot
    val epoch0 = System.currentTimeMillis()
    var df: DataFrame = null
    val gc0 = gcMs
    val t0 = System.nanoTime()
    try tracer.span(e.name, "op", -1, r.k) { opSpan =>
      tracer.span("construct", "construct", opSpan, r.k) { _ =>
        group(r, "construct")
        val c0 = System.nanoTime()
        df = e.query(spark, o.data)
        r.add("construct_s", (System.nanoTime() - c0) / 1e9)
      }
      tracer.span("execute", "execute", opSpan, r.k) { _ =>
        group(r, "execute")
        val x0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        r.add("execute_s", (System.nanoTime() - x0) / 1e9)
      }
    } catch { case ex: Throwable => fail(r, ex) }
    r.wallNs = System.nanoTime() - t0
    r.add("gc_s", (gcMs - gc0) / 1e3)
    val epoch1 = System.currentTimeMillis()
    if (traced) attribute(r, epoch0, epoch1, logs0) { (prefix, jobs) =>
      val construct = jobs.filter(_.group == prefix + "construct")
      r.add("construct_jobs", construct.size)
      r.add("read_schema_jobs", construct.count(_.firstStage.startsWith("parquet at")))
      r.add("execute_jobs", jobs.count(_.group == prefix + "execute"))
      // the noop write in overwrite mode reports as "overwrite"
      val writes = plans.take().filter(_._1 == "overwrite")
      r.add("plan_ms", writes.lastOption.map(_._2.values.sum.toDouble).getOrElse(0.0))
    }
    // output check, outside the timed region
    if (r.ok && check) {
      group(r, "check")
      try {
        val got = Fingerprint.of(df)
        goldens.get(e.name) match {
          case Some(want) if want == got => ()
          case Some(want) => r.ok = false; r.error = s"output $got != golden $want"
          case None => r.ok = false; r.error = "no golden output recorded"
        }
      } catch { case ex: Throwable => fail(r, ex) }
    }
    reset(r)
    note(f"${e.name} ${r.wallNs / 1e9}%.3f s${if (r.traced) " traced" else ""}")
    r
  }

  /** Before a traced operation: deliver every pending event of earlier
    * ones, so nothing of theirs is attributed to it.
    */
  private def settle(): Unit = {
    BusBridge.drain(spark.sparkContext)
    plans.take()
  }

  /** A traced operation's jobs, task metrics and log events, attributed
    * through its job groups once the listener bus has delivered them;
    * `phaseJobs` adds the operation kind's own job counts.
    */
  private def attribute(r: OpRecord, epoch0: Long, epoch1: Long, logs0: (Long, Long))(
      phaseJobs: (String, Seq[JobRecord]) => Unit): Unit = {
    BusBridge.drain(spark.sparkContext)
    val prefix = s"op${r.k}|"
    val jobs = rec.jobsIn(prefix)
    phaseJobs(prefix, jobs)
    val t = rec.totalsIn(prefix)
    r.add("cpu_s", t.cpuNs / 1e9)
    r.add("shuffle_read_bytes", t.shuffleRead.toDouble)
    r.add("shuffle_write_bytes", t.shuffleWrite.toDouble)
    r.add("spill_bytes", t.spill.toDouble)
    r.add("peak_mem_bytes", t.peakMem.toDouble)
    val logs1 = LogCounter.snapshot
    r.add("codegen_fallbacks", (logs1._1 - logs0._1).toDouble)
    r.add("unpartitioned_window_warns", (logs1._2 - logs0._2).toDouble)
    addJobSpans(r, jobs, epoch0, epoch1)
    rec.forget(prefix)
  }

  /** Spark jobs become child spans of the phase span they ran under. */
  private def addJobSpans(r: OpRecord, jobs: Seq[JobRecord], epoch0: Long, epoch1: Long): Unit = {
    val phaseSpans = tracer.spans.filter(s => s.op == r.k && s.layer != "op" && s.layer != "spark_job")
    jobs.filter(_.endMs >= 0).foreach { j =>
      val phase = j.group.split('|').last
      phaseSpans.find(_.name == phase).foreach { parent =>
        tracer.add(s"job ${j.id}: ${j.firstStage}", "spark_job",
          j.startMs * 1000000L + clockOffsetNs, j.endMs * 1000000L + clockOffsetNs,
          parent.id, r.k)
      }
    }
    val inOp = jobs.filter(j => j.endMs >= 0 && j.startMs <= epoch1 && j.endMs >= epoch0)
    val busy = Spans.unionLength(inOp.map(j => (math.max(j.startMs, epoch0), math.min(j.endMs, epoch1))))
    r.add("no_job_s", math.max(0L, (epoch1 - epoch0) - busy) / 1e3)
  }

  private def reset(r: OpRecord): Unit = {
    val t0 = System.nanoTime()
    try BenchReset.resetOrFail(spark, storage)
    catch { case ex: Throwable => fail(r, ex) }
    r.add("reset_s", (System.nanoTime() - t0) / 1e9)
    spark.sparkContext.clearJobGroup()
  }

  private val stageOf = Map(10 -> "ingest", 40 -> "integrate", 70 -> "transform", 90 -> "load.jdbc")

  private def runRequest(req: PipelineRequest, traced: Boolean): OpRecord = {
    if (traced) settle()
    val r = begin(req.id, "request", traced)
    val db = s"memory:perfbench_${r.k}"
    DriverManager.getConnection(s"jdbc:derby:$db;create=true").close()
    val dir = Paths.get(o.work, "requests", s"op${r.k}")
    Files.createDirectories(dir)
    val pipeline = new Pipeline(today = RequestGen.Today)
    val loader = new Loader(s"jdbc:derby:$db;create=true")
    val logs0 = LogCounter.snapshot
    var run: graft.core.PipelineRun = null
    val epoch0 = System.currentTimeMillis()
    val gc0 = gcMs
    val t0 = System.nanoTime()
    try tracer.span(req.id, "op", -1, r.k) { opSpan =>
      // stage spans are cut at the pipeline's own progress marks
      var open: Option[(String, Long)] = None
      def close(at: Long): Unit = open.foreach { case (stage, s0) =>
        r.add(s"$stage.s", (at - s0) / 1e9)
        tracer.add(stage, stage.replace('.', '_'), s0, at, opSpan, r.k)
        open = None
      }
      run = pipeline.run(spark, req.plan,
        fetch = a => req.payloads.get(s"${a.endpointName}:${a.parameters("symbol")}"),
        dslRecipe = Some(req.recipe),
        keyFeatures = Seq("open", "close", "volume"),
        loader = Some(loader),
        reportDir = Some(dir.resolve("reports").toString),
        onStage = (progress, _, _) => stageOf.get(progress).foreach { stage =>
          val now = System.nanoTime()
          close(now)
          open = Some(stage -> now)
          group(r, stage)
        })
      close(System.nanoTime())
      group(r, "load.csv")
      val c0 = System.nanoTime()
      Loader.writeCsv(run.outputs, dir.toString)
      val c1 = System.nanoTime()
      r.add("load.csv.s", (c1 - c0) / 1e9)
      tracer.add("load.csv", "load_csv", c0, c1, opSpan, r.k)
    } catch { case ex: Throwable => fail(r, ex) }
    r.wallNs = System.nanoTime() - t0
    r.add("gc_s", (gcMs - gc0) / 1e3)
    val epoch1 = System.currentTimeMillis()
    if (traced) attribute(r, epoch0, epoch1, logs0) { (prefix, jobs) =>
      Seq("ingest", "integrate", "transform").foreach(s =>
        r.add(s"$s.jobs", jobs.count(_.group == prefix + s)))
      r.add("load.jobs", jobs.count(_.group.startsWith(prefix + "load.")))
      r.add("read_schema_jobs", jobs.count(_.firstStage.startsWith("parquet at")))
    }
    if (r.ok) checkRequest(r, req, run, dir)
    try {
      pipeline.validator.joinEngine.cleanup()
      pipeline.transformPipeline.cleanup()
    } catch { case ex: Throwable => fail(r, ex) }
    try DriverManager.getConnection(s"jdbc:derby:$db;drop=true").close()
    catch { case _: java.sql.SQLException => () } // a successful drop reports as an exception
    deleteTree(dir)
    reset(r)
    note(f"${req.id} ${r.wallNs / 1e9}%.3f s${if (r.traced) " traced" else ""} " +
      s"bars ${req.bars.values.mkString(",")} frames ${Option(run).map(_.outputs.size).getOrElse(0)} " +
      s"joins ${r.m.getOrElse("integrate.join_accepted", 0.0)}/${r.m.getOrElse("integrate.join_pairs_tried", 0.0)} " +
      s"rows ${r.m.getOrElse("load.rows_expected", 0.0)}")
    r
  }

  /** Load succeeded, every loaded row is in the CSVs, every requested
    * series bar arrived, every recipe feature was computed, and a
    * request seen before hashes to the same CSV bytes.
    */
  private def checkRequest(r: OpRecord, req: PipelineRequest, run: graft.core.PipelineRun,
                           dir: Path): Unit = {
    def bad(msg: String): Unit = if (r.ok) { r.ok = false; r.error = msg }
    val ingest = run.ingest
    r.add("ingest.requests", req.plan.rankedRequests.size)
    r.add("ingest.failed", ingest.failedRequests.size)
    val v = run.validation
    val joins = v.stage1Operations ++ v.stage2Operations
    r.add("integrate.union_ops", v.unionOperations.size)
    r.add("integrate.join_pairs_tried", joins.size)
    r.add("integrate.join_accepted", joins.count(_.compatible))
    val csvLines = Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("result_")).sortBy(_.toString)
      .flatMap { p =>
        val parts = Files.list(p).iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".csv")).sortBy(_.toString)
        parts.flatMap(f => Files.readAllLines(f, StandardCharsets.UTF_8).asScala)
      }
    val headers = run.outputs.size
    val csvRows = csvLines.size - headers
    val loaded = run.load.map(_.totalRowsLoaded).getOrElse(0L)
    r.add("load.rows_loaded", loaded.toDouble)
    r.add("load.rows_expected", csvRows.toDouble)
    val hash = sha256(csvLines.sorted.mkString("\n").getBytes(StandardCharsets.UTF_8))
    // Every output frame that has the price columns the recipe reads was
    // enriched, and every recipe feature is one of its columns. Only on
    // the join path may the post-enrichment cleaning drop a feature under
    // its null-ratio rule: a joined frame keeps a few quarterly rows,
    // fewer than most windows span. A frame without prices (earnings the
    // join did not accept) cannot be enriched by a price recipe.
    val priced = run.outputs.zip(run.transform.results)
      .filter { case (df, _) => Seq("open", "high", "low", "close").forall(df.columns.contains) }
    val notApplied = priced.map(_._2).filter(_.enrichmentStatus != "applied")
    val missing = priced.flatMap { case (df, res) =>
      val dropped = res.postCleaning.toSeq.flatMap(_.columnsDeleted)
        .filter(d => d.nullRatio > d.threshold).map(_.column).toSet
      req.featureColumns.filterNot(c => df.columns.contains(c) || (req.joins > 0 && dropped(c)))
    }
    if (ingest.failedRequests.nonEmpty) bad(s"ingest failed: ${ingest.failedRequests}")
    else if (!run.load.exists(_.status == "success")) bad(s"load status ${run.load.map(_.status)}")
    else if (loaded != csvRows) bad(s"loaded $loaded rows but the CSVs hold $csvRows")
    else if (req.joins == 0 && csvRows != req.bars.values.sum)
      bad(s"$csvRows rows for ${req.bars.values.sum} generated bars")
    else if (csvRows == 0) bad("no rows loaded")
    else if (priced.isEmpty) bad("no output frame carries prices")
    else if (notApplied.nonEmpty) bad(s"enrichment not applied: ${notApplied.flatMap(_.errors)}")
    else if (missing.nonEmpty) bad(s"missing feature columns ${missing.distinct}")
    else csvHashes.get(req.id) match {
      case Some(h) if h != hash => bad("CSV output differs from an earlier run of the same request")
      case _ => csvHashes(req.id) = hash
    }
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount)
    all.foreach(Files.delete)
  }

  // --------------------------------------------------------------- metrics

  private def endToEnd(setupS: Double, cpuS: Double): Seq[(String, (Double, String))] = {
    val walls = ops.map(_.wallNs / 1e9).toSeq
    Seq(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (walls.sum / passes, "s"),
      "executor_cpu_s" -> (cpuS / passes, "s"))
  }

  private def perLayer(): Seq[(String, (Double, String))] = {
    val tOps = ops.filter(_.traced).toSeq
    val nOps = math.max(tOps.size, 1).toDouble
    def sum(rs: Seq[OpRecord], key: String): Double = rs.map(_.m.getOrElse(key, 0.0)).sum
    def perPass(rs: Seq[OpRecord], key: String): Double = sum(rs, key) / passes
    def perOp(key: String): Double = sum(tOps, key) / nOps
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    val out = ArrayBuffer.empty[(String, (Double, String))]
    def put(k: String, v: Double, unit: String): Unit = out += k -> (v, unit)

    // request stages, per request
    put("ingest.s", perOp("ingest.s"), "s")
    put("ingest.jobs", perOp("ingest.jobs"), "count")
    put("ingest.failed_ratio", ratio(sum(tOps, "ingest.failed"), sum(tOps, "ingest.requests")), "ratio")
    put("integrate.s", perOp("integrate.s"), "s")
    put("integrate.jobs", perOp("integrate.jobs"), "count")
    put("integrate.union_ops", perOp("integrate.union_ops"), "count")
    put("integrate.join_pairs_tried", perOp("integrate.join_pairs_tried"), "count")
    put("integrate.join_accept_ratio",
      ratio(sum(tOps, "integrate.join_accepted"), sum(tOps, "integrate.join_pairs_tried")), "ratio")
    put("transform.s", perOp("transform.s"), "s")
    put("transform.jobs", perOp("transform.jobs"), "count")
    put("load.jdbc_s", perOp("load.jdbc.s"), "s")
    put("load.csv_s", perOp("load.csv.s"), "s")
    put("load.jobs", perOp("load.jobs"), "count")
    put("load.rows_verified_ratio",
      ratio(sum(tOps, "load.rows_loaded"), sum(tOps, "load.rows_expected")), "ratio")
    put("spark.no_job_s", perOp("no_job_s"), "s")

    // catalog modules, per pass
    Catalog.modules.foreach { mod =>
      val rs = tOps.filter(_.module == mod)
      put(s"$mod.construct_s", perPass(rs, "construct_s"), "s")
      put(s"$mod.construct_jobs", perPass(rs, "construct_jobs"), "count")
      put(s"$mod.plan_ms", perPass(rs, "plan_ms"), "ms")
      put(s"$mod.execute_s", perPass(rs, "execute_s"), "s")
      put(s"$mod.execute_jobs", perPass(rs, "execute_jobs"), "count")
      put(s"$mod.cpu_s", perPass(rs, "cpu_s"), "s")
    }
    put("construct.read_schema_jobs", perPass(tOps, "read_schema_jobs"), "count")

    // execute side, per pass
    val wall = tOps.map(_.wallNs).sum / 1e9
    val cpu = sum(tOps, "cpu_s")
    put("shuffle.read_bytes", perPass(tOps, "shuffle_read_bytes"), "bytes")
    put("shuffle.write_bytes", perPass(tOps, "shuffle_write_bytes"), "bytes")
    put("spill.bytes", perPass(tOps, "spill_bytes"), "bytes")
    put("exec.peak_mem_bytes", tOps.map(_.m.getOrElse("peak_mem_bytes", 0.0)).foldLeft(0.0)(math.max), "bytes")
    put("exec.core_util", ratio(cpu, wall * 4), "ratio")

    // capstones, per execution
    Catalog.capstones.foreach { q =>
      val rs = tOps.filter(_.name == q)
      val n = math.max(rs.size, 1).toDouble
      put(s"q.$q.construct_s", sum(rs, "construct_s") / n, "s")
      put(s"q.$q.construct_jobs", sum(rs, "construct_jobs") / n, "count")
      put(s"q.$q.execute_s", sum(rs, "execute_s") / n, "s")
    }

    // counts and housekeeping, per pass
    put("catalyst.codegen_fallbacks", perPass(tOps, "codegen_fallbacks"), "count")
    put("plan.unpartitioned_window_warns", perPass(tOps, "unpartitioned_window_warns"), "count")
    put("reset.s", perPass(tOps, "reset_s"), "s")
    put("jvm.gc_s", perPass(tOps, "gc_s"), "s")
    put("jvm.peak_rss_mb", peakRssMb, "MB")

    // self time per layer, per operation
    val self = Spans.selfTimeByLayer(tracer.spans.toSeq)
    Seq("construct", "execute", "ingest", "integrate", "transform", "load_jdbc",
      "load_csv", "spark_job").foreach { layer =>
      put(s"self.${layer}_s", self.getOrElse(layer, 0L) / 1e9 / nOps, "s")
    }

    // tracing overhead: each operation ran traced and untraced
    val untraced = ops.filterNot(_.traced).map(_.wallNs).sum / 1e9
    put("trace.overhead_ratio", ratio(wall, untraced) - 1.0, "ratio")
    out.toSeq
  }

  /** Spans, per-layer self time and per-operation records, as JSON. */
  private def writeTrace(): Unit = {
    val dir = Paths.get(o.work, "trace")
    Files.createDirectories(dir)
    val file = dir.resolve(s"${o.workload}-seed${o.seed}.json")
    val spans = tracer.spans.map { s =>
      s"""{"id": ${s.id}, "name": ${str(s.name)}, "layer": ${str(s.layer)}, "start_ns": ${s.start}, """ +
        s""""end_ns": ${s.end}, "parent": ${s.parent}, "op": ${s.op}}"""
    }
    val self = Spans.selfTimeByLayer(tracer.spans.toSeq).toSeq.sortBy(_._1).map { case (l, ns) =>
      s"${str(l)}: ${num(ns / 1e9)}"
    }
    val opsJson = ops.filter(_.traced).map { r =>
      val fields = r.m.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
      s"""{"op": ${r.k}, "name": ${str(r.name)}, "module": ${str(r.module)}, """ +
        s""""wall_s": ${num(r.wallNs / 1e9)}, "ok": ${r.ok}, "layers": {$fields}}"""
    }
    Files.writeString(file,
      s"""{"workload": ${str(o.workload)}, "seed": ${o.seed}, "timed_ops": ${ops.count(!_.traced)},\n""" +
        s""""self_time_s": {${self.mkString(", ")}},\n""" +
        s""""ops": [\n${opsJson.mkString(",\n")}],\n"spans": [\n${spans.mkString(",\n")}]}\n""")
    System.err.println(s"[perfbench] trace written to $file")
  }
}

/** Golden outputs of the catalog workloads: recorded once from a known
  * good tree, checked after every timed query.
  */
object Goldens {
  import Main._
  import org.json4s._
  import org.json4s.jackson.JsonMethods
  private implicit val formats: Formats = DefaultFormats

  private def json(path: String): JValue = JsonMethods.parse(Files.readString(Paths.get(path)))

  def read(path: String): Map[String, Fingerprint] =
    (json(path) \ "entries").asInstanceOf[JObject].obj.map { case (name, v) =>
      name -> Fingerprint((v \ "rows").extract[Long], (v \ "schema").extract[String],
        (v \ "hash").extract[String])
    }.toMap

  /** CSV hashes of fixed requests (the set-up warm-up requests). */
  def requestHashes(path: String): Map[String, String] =
    (json(path) \ "request_csv_sha256").extract[Map[String, String]]

  /** Runs the `catalog` entries and the warm-up requests once, and
    * writes their fingerprints; with --dump also writes each query
    * output as parquet plus the DuckDB oracle SQL, in the layout
    * tools/localverify.py reads.
    */
  def write(o: Options): Unit = {
    val spark = session(o.work)
    val fps = Catalog.entries.map { e =>
      val df = e.query(spark, o.data)
      val fp = Fingerprint.of(df)
      o.dump.foreach(d => df.write.mode("overwrite").parquet(s"$d/${e.name}"))
      System.err.println(s"[perfbench] ${e.name}: $fp")
      spark.catalog.clearCache()
      e.name -> fp
    }
    o.dump.foreach { d =>
      val names = Catalog.workload.toSet
      val oracles = graft.QueryCatalog.oracleSql.filter { case (n, _) => names(n) }
      Files.writeString(Paths.get(d, "oracle_sql.json"),
        oracles.toSeq.sortBy(_._1).map { case (n, q) => s"${str(n)}: ${str(q)}" }
          .mkString("{\n", ",\n", "\n}\n"))
    }
    spark.stop()
    val requests = new BenchRun(o.copy(workload = "etl_request")).warmupCsvHashes()
    val body = fps.map { case (n, f) =>
      s"""  ${str(n)}: {"rows": ${f.rows}, "schema": ${str(f.schema)}, "hash": ${str(f.hash)}}"""
    }.mkString(",\n")
    val req = requests.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString(", ")
    Files.writeString(Paths.get(o.goldens),
      s"""{"request_csv_sha256": {$req},\n"entries": {\n$body\n}}\n""")
  }
}
