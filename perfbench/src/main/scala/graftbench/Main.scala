package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession

/** One benchmark workload: a fixed set of seeded inputs driven through the
  * engine's public functions by `clients` client threads. */
trait Workload {
  def clients: Int
  /** Loop type and client count, as recorded in the run's info line. */
  def loop: String
  /** What one input row is, and the input size. */
  def rowsWhat: String
  /** The engine's set-up: loads fixtures and bootstraps indexes under the
    * run's data directory. Timed once, as part of `setup_s`. */
  def setup(): Unit
  /** The benchmark's own reference answers for the checks, computed once
    * after set-up (not part of `setup_s`). */
  def prepare(): Unit
  /** One op: (every check passed, input rows it completed). */
  def op(client: Int, seq: Long): (Boolean, Long)
  /** Input bytes one op hands the index writers (0 when it writes none). */
  def inputBytesPerOp: Double
  /** ANN recall@10 over every probe made, when the workload probes. */
  def annRecall: Option[Double]
  /** Untimed ops before the timed phase. */
  def warmupOps: Int = 1
  /** Ops each client completes in an untraced run even when `--seconds`
    * has passed: the median of three discards one op disturbed by a load
    * burst on the machine. */
  def minTimedOps: Int = 3
}

/** The benchmark's JVM entry point:
  * `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --work DIR --data SF_DIR --cpus C`.
  * Every path it writes is under `--work`. The last stdout line is the
  * result object; the line before it records the run's context (load,
  * cpus, seed, loop, tail percentile). */
object Main {
  final case class OpRec(startMs: Long, endMs: Long, secs: Double, ok: Boolean,
                         rows: Long)

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val name = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val data = arg("data")
    val cpus = arg("cpus").toInt
    val load0 = loadAvg()
    // Utils.getCallSite reads this system property; the long call site must
    // reach the engine frame under deep MLlib and Future stacks
    System.setProperty("spark.callstack.depth", "400")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tr = new Tracer(spark.sparkContext)
    val root = work.resolve("data").toString
    val wl: Workload = name match {
      case "curate_stream" => new CurateStream(spark, data, root, seed, tr)
      case "retrieve" => new Retrieve(spark, data, root, seed, tr)
      case "trend_analytics" => new TrendAnalytics(spark, data, root, seed, tr)
      case other => sys.error(s"unknown workload $other")
    }

    val setupS = timed(wl.setup())._2
    val prepareS = timed(wl.prepare())._2
    val seq = new AtomicLong(0)
    val (warm, warmS) = timed((0 until wl.warmupOps).map(_ =>
      runOp(wl, 0, seq.getAndIncrement())))

    // timed phase: untraced only, or untraced/traced blocks in ABBA order
    // so the traced and untraced ops sit equally far into the run
    val census = new JobCensus
    val blocks = if (trace) Seq(false, true, true, false) else Seq(false)
    val recs = blocks.map { traced =>
      if (traced) {
        spark.sparkContext.addSparkListener(census)
        tr.enabled = true
      }
      val r = runBlock(wl, seq, seconds / blocks.size,
        if (trace) 1 else wl.minTimedOps)
      if (traced) {
        tr.enabled = false
        Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(census)
      }
      traced -> r
    }
    val load1 = loadAvg()

    val all = recs.flatMap(_._2._1)
    val attempted = all.size + warm.size
    val failed = all.count(!_.ok) + warm.count(!_.ok)
    val untraced = recs.filterNot(_._1)
    val lat = untraced.flatMap(_._2._1).map(_.secs).sorted
    val (tail, tailPct, beyond) = tailOf(lat)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val rows = untraced.flatMap(_._2._1).map(_.rows).sum
        val wall = untraced.map(_._2._2).sum
        Seq(
          ("setup_s", sessionS + setupS + warmS, "s"),
          ("op_p50_s", median(lat), "s"),
          ("op_tail_s", tail, "s"),
          ("rows_per_s", rows / wall, "1/s"),
          ("ok_rate", (attempted - failed).toDouble / attempted, "ratio"),
          ("disk_mb", treeBytes(Paths.get(root)) / 1e6, "MB"),
          ("peak_rss_mb", vmHwmKb() / 1024.0, "MB"),
          ("ann_recall_at_10", wl.annRecall.getOrElse(1.0), "ratio"))
      } else layerMetrics(recs, census, tr, wl)

    val info = Seq(
      "workload" -> q(name), "seed" -> seed.toString, "nproc" -> cpus.toString,
      "loop" -> q(wl.loop), "rows" -> q(wl.rowsWhat),
      "loadavg_start" -> fmt(load0), "loadavg_end" -> fmt(load1),
      "ops" -> lat.size.toString,
      "op_s" -> all.map(r => fmt(r.secs)).mkString("[", ",", "]"),
      "tail_percentile" -> fmt(tailPct),
      "tail_samples_beyond" -> beyond.toString,
      "session_s" -> fmt(sessionS),
      "engine_setup_s" -> fmt(setupS),
      "prepare_s" -> fmt(prepareS),
      "warmup_s" -> fmt(warmS),
      "ann_probes" -> q(if (wl.annRecall.isDefined) "measured" else "none (reported as 1)"),
      "unattributed_sites" -> census.unattributedSites.distinct.take(10)
        .map(q).mkString("[", ",", "]"),
      "other_layers" -> q(census.otherLayers.mkString(" ")))
    println(info.map { case (k, v) => q(k) + ":" + v }.mkString("{\"info\":{", ",", "}}"))
    val ms = metrics.map { case (k, v, u) =>
      s"${q(k)}:{${q("value")}:${num(v)},${q("unit")}:${q(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$ms}""")
    spark.stop()
  }

  private def runOp(wl: Workload, client: Int, s: Long): OpRec = {
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val (ok, rows) =
      try wl.op(client, s)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] op $s failed: $e")
        (false, 0L)
      }
    if (!ok) System.err.println(s"[perfbench] op $s: a check failed")
    OpRec(t0, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e9, ok, rows)
  }

  /** Runs every client in a closed loop until `secs` have passed and it
    * has completed `minOps` ops; an op in flight at the deadline completes.
    * Returns the ops and the block wall. */
  private def runBlock(wl: Workload, seq: AtomicLong, secs: Double,
                       minOps: Int): (Seq[OpRec], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (secs * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[OpRec]
    val threads = (0 until wl.clients).map { c =>
      val t = new Thread(() => {
        var done = 0
        while (System.nanoTime() < deadline || done < minOps) {
          val r = runOp(wl, c, seq.getAndIncrement())
          out.synchronized { out += r }
          done += 1
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    (out.toList, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-layer numbers of the traced blocks, each per traced op. */
  private def layerMetrics(recs: Seq[(Boolean, (Seq[OpRec], Double))],
                           c: JobCensus, tr: Tracer, wl: Workload)
      : Seq[(String, Double, String)] = {
    val tOps = recs.filter(_._1).flatMap(_._2._1)
    val uOps = recs.filterNot(_._1).flatMap(_._2._1)
    val n = math.max(1, tOps.size).toDouble
    val spans = tr.recorded.groupBy(_.layer)
    val perLayer = Layers.All.flatMap { l =>
      val t = c.layer(l)
      val sp = spans.getOrElse(l, Nil)
      Seq(
        (s"$l.calls", sp.size / n, "count"),
        (s"$l.wall_s", sp.map(s => s.endMs - s.startMs).sum / 1000.0 / n, "s"),
        (s"$l.jobs", t.jobs / n, "count"),
        (s"$l.stages", t.stages / n, "count"),
        (s"$l.tasks", t.tasks / n, "count"),
        (s"$l.sql_execs", t.sqlExecs.size / n, "count"),
        (s"$l.job_wall_s", t.jobWallMs / 1000.0 / n, "s"),
        (s"$l.task_cpu_s", t.taskCpuNs / 1e9 / n, "s"),
        (s"$l.gc_s", t.gcMs / 1000.0 / n, "s"),
        (s"$l.input_mb", t.inputBytes / 1e6 / n, "MB"),
        (s"$l.shuffle_mb", t.shuffleBytes / 1e6 / n, "MB"),
        (s"$l.output_mb", t.outputBytes / 1e6 / n, "MB"))
    }
    val jobs = c.jobIntervals.toList
    val gaps = tOps.map { o =>
      val covered = union(jobs.collect {
        case (_, s, e) if e > o.startMs && s < o.endMs =>
          (math.max(s, o.startMs), math.min(e, o.endMs))
      })
      (o.endMs - o.startMs - covered) / 1000.0
    }
    val written = c.allLayers.map(_.outputBytes).sum / n
    perLayer ++ Seq(
      ("op.jobs", c.allLayers.map(_.jobs).sum / n, "count"),
      ("op.driver_gap_s", median(gaps), "s"),
      ("curation.write_amp",
        if (wl.inputBytesPerOp > 0) written / wl.inputBytesPerOp else 0.0, "ratio"),
      ("unattributed.jobs", c.layer(Layers.Unattributed).jobs.toDouble, "count"),
      ("trace.overhead_pct",
        100.0 * (median(tOps.map(_.secs)) / median(uOps.map(_.secs)) - 1), "%"))
  }

  /** Total length of the union of [start, end) intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** The latency with exactly ten samples above it, its percentile and
    * the count beyond; with fewer than eleven samples, the maximum. */
  private def tailOf(sorted: Seq[Double]): (Double, Double, Int) =
    if (sorted.isEmpty) (0.0, 0.0, 0)
    else if (sorted.size < 11) (sorted.last, 100.0, 0)
    else (sorted(sorted.size - 11), 100.0 * (sorted.size - 10) / sorted.size, 10)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def vmHwmKb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  private def treeBytes(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum.toDouble
      finally s.close()
    }

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
