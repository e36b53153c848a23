package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one workload per process. `perfbench/run.py` builds the
  * arguments, generates the catalog tables into `RUN_DIR/data` and checks the
  * catalog results this writes to `RUN_DIR/results`.
  *
  * {{{
  * Main --workload ingest_api|catalog_mix --seed N --trace 0|1 --run-dir DIR
  *      (--ops N | --passes P)
  * }}}
  *
  * Set-up runs [[Setups]] times with fresh state; `setup_s` is their median
  * and the timed phase runs in the last set-up's session. The last stdout
  * line starting with `PERFBENCH ` holds the result.
  */
object Main {
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val trace = args("trace") == "1"
    val runDir = Paths.get(args("run-dir")).toAbsolutePath
    val ingest = workload == "ingest_api"
    val names = if (ingest) Nil else CatalogBench.mix

    var spark: SparkSession = null
    var ingestBench: IngestBench = null
    var catalogBench: CatalogBench = null
    var tracer: Tracer = null
    val checkFailures = scala.collection.mutable.LinkedHashSet.empty[String]

    // ingest: each set-up starts a fresh session with an empty store, the API
    // and user servers, and runs one warm-up job.
    // catalog: each set-up is the build half of a cold pass: the first call
    // to each query function on its own copy of the tables (copied before
    // the timer), which builds the query's artifacts. The set-ups share the
    // run's one session, started untimed: GraphOps keeps the frames it
    // persisted in a JVM-wide tracker and fails to release them once their
    // session has stopped, so the catalog cannot restart its session.
    val stateDir = runDir.resolve("state")
    if (!ingest) {
      spark = session(runDir, stateDir)
      tracer = new Tracer(spark.sparkContext)
      catalogBench = new CatalogBench(spark, names, tracer)
    }
    def timed(what: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      val secs = (System.nanoTime() - t0) / 1e9
      log(f"$what: $secs%.2f s")
      secs
    }
    val setupTimes = (1 to Setups).map { rep =>
      if (ingest) {
        if (spark != null) {
          ingestBench.stop()
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
          deleteDir(stateDir)
        }
        timed(s"set-up $rep") {
          spark = session(runDir, stateDir)
          tracer = new Tracer(spark.sparkContext)
          ingestBench = new IngestBench(spark, stateDir, seed, tracer)
          ingestBench.warmUp()
        }
      } else {
        val tables = runDir.resolve(s"data-setup-$rep")
        copyDir(runDir.resolve("data"), tables)
        val secs = timed(s"set-up $rep")(checkFailures ++= catalogBench.build(tables.toString))
        // an untimed check pass serves every query on the last set-up's
        // tables and artifacts and writes the results for the oracle check
        if (rep == Setups) timed("check pass") {
          checkFailures ++= catalogBench.dump(tables.toString, runDir.resolve("results"))
        }
        deleteDir(tables)
        secs
      }
    }

    val meter = if (trace) {
      val m = new SparkMeter(spark.sparkContext)
      spark.sparkContext.addSparkListener(m)
      Some(m)
    } else None

    // The timed phase: a fixed op count, one client, closed loop. In a traced
    // run every other op is traced; catalog passes alternate which queries,
    // so that over two passes each query runs traced once and untraced once.
    // Each catalog pass reads a fresh copy of the tables, so every op pays
    // its artifact builds, as the set-up's cold pass did.
    final case class Op(id: Long, name: String, traced: Boolean, ok: Boolean,
        secs: Double, startMs: Long, endMs: Long)
    var wall = 0.0
    def timedPass(ops: Seq[(Long, String, Boolean, () => Boolean)]): Seq[Op] = {
      val tPass = System.nanoTime()
      val done = ops.map { case (id, name, traced, run) =>
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val ok =
          try run()
          catch {
            case e: Throwable =>
              log(s"op $id failed: $e")
              false
          }
        Op(id, name, traced, ok, (System.nanoTime() - t0) / 1e9, startMs,
          System.currentTimeMillis())
      }
      wall += (System.nanoTime() - tPass) / 1e9
      done
    }
    val ops =
      if (ingest) timedPass((0 until args("ops").toInt).map { i =>
        val traced = trace && i % 2 == 1
        (i.toLong, "ingest", traced, () => ingestBench.op(i.toLong, traced))
      })
      else (0 until args("passes").toInt).flatMap { p =>
        val dir = runDir.resolve(s"data-pass-$p")
        copyDir(runDir.resolve("data"), dir)
        val done = timedPass(names.zipWithIndex.map { case (n, j) =>
          val id = (p * names.size + j).toLong
          val traced = trace && (p + j) % 2 == 1
          (id, n, traced, () => catalogBench.op(n, dir.toString, id, traced))
        })
        deleteDir(dir)
        done
      }

    log(f"timed phase: $wall%.2f s")
    val storeErrors =
      if (ingest) ingestBench.checkStore()
      else Nil
    storeErrors.foreach(e => log(s"store check: $e"))
    val disk = dirBytes(stateDir) + dirBytes(Paths.get(System.getProperty("java.io.tmpdir")))

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val info = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val untracedSecs = ops.filterNot(_.traced).map(_.secs)
    if (!trace) {
      val (tail, pct) = tailOf(untracedSecs)
      metrics ++= Seq("setup_s" -> median(setupTimes), "wall_s" -> wall,
        "op_p50_s" -> median(untracedSecs), "op_tail_s" -> tail, "disk_mb" -> disk / 1e6)
      info ++= Seq("op_tail_percentile" -> f"$pct%.1f", "op_samples" -> untracedSecs.size.toString,
        "peak_rss_mb" -> f"${peakRssKb / 1024.0}%.1f")
      if (ingest) info += "op_s" -> untracedSecs.map(t => f"$t%.3f").mkString(" ")
      else info ++= ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (q, os) =>
        s"op_s.$q" -> f"${median(os.map(_.secs))}%.3f"
      }
    } else {
      val m = meter.get
      m.drain()
      val tracedOps = ops.filter(_.traced)
      val tracedSecs = tracedOps.map(_.secs)
      metrics ++= Seq("trace.op_s" -> median(tracedSecs),
        "trace.overhead_s" -> (median(tracedSecs) - median(untracedSecs)),
        "jvm.peak_rss_mb" -> peakRssKb / 1024.0)
      metrics ++= layerMetrics(tracer, m, tracedOps.map(o => (o.id, o.startMs, o.endMs)),
        perPass = if (ingest) 1 else names.size)
    }
    info ++= Seq("setup_runs_s" -> setupTimes.map(t => f"$t%.3f").mkString(" "),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "jvm" -> System.getProperty("java.version"), "spark" -> spark.version)

    val errors = checkFailures.toSeq.map(n => s"check pass: $n") ++ storeErrors
    val failed = ops.count(!_.ok) + (if (errors.nonEmpty) ops.size else 0)
    println("PERFBENCH " + Json.obj(Seq(
      "attempted" -> ops.size.toString,
      "failed" -> math.min(failed, ops.size).toString,
      "errors" -> Json.arr(errors.map(Json.str)),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) => k -> v.toString }),
      "info" -> Json.obj(info.toSeq.map { case (k, v) => k -> Json.str(v) }))))
    if (ingestBench != null) ingestBench.stop()
    spark.stop()
  }

  private[perfbench] def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def session(runDir: Path, repDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", repDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Per-layer means over the traced ops. Span names are `Layer.step`; a
    * module's catalog spans are `Module.query|build|serve`. `perPass` turns
    * per-op module sums into per-pass sums for the catalog workloads. */
  private def layerMetrics(tr: Tracer, m: SparkMeter, ops: Seq[(Long, Long, Long)],
      perPass: Int): Seq[(String, Double)] = {
    val n = ops.size.toDouble
    val ids = ops.map(_._1).toSet
    val spans = tr.all.filter(s => ids(s.op))
    val self = tr.selfSeconds
    val counts = m.snapshot
    val allTasks = counts.values.flatMap(_.intervals).toSeq
    def sumCounts(spanIds: Iterable[Long])(f: m.Counts => Double): Double =
      spanIds.flatMap(counts.get).map(f).sum
    val bySpanName = spans.groupBy(_.name)
    def selfOf(name: String): Double =
      bySpanName.getOrElse(name, Nil).map(s => self(s.id)).sum / n
    def attr(name: String, key: String): Double =
      bySpanName.getOrElse(name, Nil).map(_.attrs.getOrElse(key, 0.0)).sum / n

    val opIdle = ops.map { case (id, s, e) => id -> Intervals.idleMs(allTasks, s, e) / 1e3 }.toMap
    val opWall = ops.map { case (id, s, e) => id -> (e - s) / 1e3 }.toMap
    val spanIds = spans.map(_.id)
    val taskS = sumCounts(spanIds)(_.taskMs / 1e3)
    val spark = Seq(
      "spark.jobs" -> sumCounts(spanIds)(_.jobs.toDouble) / n,
      "spark.tasks" -> sumCounts(spanIds)(_.tasks.toDouble) / n,
      "spark.task_s" -> taskS / n,
      "spark.shuffle_mb" -> sumCounts(spanIds)(_.shuffleBytes / 1e6) / n,
      "spark.spill_mb" -> sumCounts(spanIds)(_.spillBytes / 1e6) / n,
      "spark.gc_s" -> sumCounts(spanIds)(_.gcMs / 1e3) / n,
      "spark.idle_s" -> opIdle.values.sum / n,
      "spark.core_util" -> taskS / (opWall.values.sum * Runtime.getRuntime.availableProcessors))

    val ingest = Seq(
      "ApiServer.self_s" -> selfOf("ApiServer"),
      "OpsRunner.self_s" -> selfOf("OpsRunner"),
      "IngestionJob.self_s" -> selfOf("IngestionJob"),
      "Acquisition.fetch_s" -> selfOf("Acquisition.fetch"),
      "Acquisition.bytes" -> attr("Acquisition.fetch", "bytes"),
      "Acquisition.retries" -> attr("Acquisition.fetch", "retries"),
      "IngestionJob.parse_s" -> selfOf("IngestionJob.parse"),
      "IngestionJob.write_s" -> selfOf("IngestionJob.write"),
      "IngestionJob.commit_s" -> selfOf("IngestionJob.commit"),
      "IngestionJob.bytes_written" -> attr("IngestionJob.write", "bytes"),
      "Crypto.secure_s" -> selfOf("Crypto.secure"),
      "Crypto.rows" -> attr("Crypto.secure", "rows"),
      "Upsert.merge_s" -> selfOf("Upsert.merge"),
      "Upsert.rows_in" -> attr("Upsert.merge", "rows_in"),
      "Upsert.keep_ratio" -> {
        val in = attr("Upsert.merge", "rows_in")
        if (in > 0) attr("Upsert.merge", "rows_out") / in else 0.0
      })

    val modules = CatalogBench.modules.map(_._1).flatMap { mod =>
      val q = bySpanName.getOrElse(s"$mod.query", Nil)
      if (q.isEmpty) Nil
      else {
        val passes = n / perPass
        val sub = spans.filter(_.name.startsWith(s"$mod.")).map(_.id)
        val modOps = q.map(_.op).toSet
        def per(v: Double) = v / passes
        Seq(
          s"$mod.build_s" -> per(bySpanName(s"$mod.build").map(_.seconds).sum),
          s"$mod.serve_s" -> per(bySpanName(s"$mod.serve").map(_.seconds).sum),
          s"$mod.jobs" -> per(sumCounts(sub)(_.jobs.toDouble)),
          s"$mod.tasks" -> per(sumCounts(sub)(_.tasks.toDouble)),
          s"$mod.task_s" -> per(sumCounts(sub)(_.taskMs / 1e3)),
          s"$mod.idle_s" -> per(modOps.toSeq.map(opIdle).sum),
          s"$mod.shuffle_mb" -> per(sumCounts(sub)(_.shuffleBytes / 1e6)))
      }
    }
    spark ++ ingest ++ modules
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, and which
    * percentile that is. With 20 samples or fewer that percentile would not
    * lie above the median, so the maximum is reported instead. */
  def tailOf(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 20) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  /** Peak resident memory of this JVM (Linux `VmHWM`). */
  private def peakRssKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  private def deleteDir(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  private def copyDir(from: Path, to: Path): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(from.toFile, to.toFile)
}

/** Minimal JSON writing for the result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def obj(kv: Map[String, String]): String = obj(kv.toSeq.sortBy(_._1))
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
