package graftbench

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ml.TrendModel
import graft.ops.StockOps
import graft.streaming.Pipelines
import graft.tables.Tables
import graft.timeseries.{Indicators, TimeSeries}

/** `trend_analytics`: one client in a closed loop. Each op is one trend
  * session of the reference's E1→E3 flow over a seeded window of the
  * `events` tick stand-in: load the window, filter it incrementally
  * against a high watermark, resample bars, moving
  * averages, an as-of join and Bollinger/RSI indicators, per-symbol
  * random-forest training and scoring, and a latest-wins upsert of the
  * predictions into a parquet sink. The index layers sit idle. */
final class TrendAnalytics(spark: SparkSession, data: String, root: String,
                           seed: Long, tr: Tracer) extends Workload {
  import TrendAnalytics._

  val clients = 1
  val loop = "closed loop, 1 client"
  val rowsWhat = s"ticks ($WindowDays-day windows of the events table)"

  /** One window: [lo, hi) in epoch µs, its tick count, the ticks newer
    * than their user's high watermark over the window's first half, and
    * the plain-SQL fingerprints of its bars and indicators. */
  final case class Win(lo: Long, hi: Long, ticks: Long, newer: Long, bars: Fp,
                       ind: Fp)
  private var pool: IndexedSeq[Win] = _
  /** Bars are coalesced before the fits, as q46/q64 do, to one partition
    * per core, so each tree job runs one wave of tasks. */
  private val Parts = spark.sparkContext.defaultParallelism
  private var sinkDir: String = _

  /** Nothing to bootstrap: each op loads its own window. */
  def setup(): Unit = sinkDir = s"$root/predictions"

  def prepare(): Unit = {
    // the reference reads the parquet itself: raw int64 ts, unit taken
    // from its magnitude, windows and sessions in plain SQL text
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.schema(Tables.eventsRawSchema)
      .parquet(s"$data/events*.parquet")
    val range = raw.agg(min("ts"), max("ts")).head()
    val maxTs = range.getLong(1)
    val perMicro = if (maxTs > 100000000000000000L) 1000L
      else if (maxTs > 100000000000000L) 1L else -1000L
    def toUs(ts: Long): Long = if (perMicro > 0) ts / perMicro else ts * 1000L
    val tsUs = if (perMicro > 0) col("ts").divide(perMicro).cast("long")
      else col("ts") * 1000L
    val events = raw.select(col("event_id"), tsUs.as("ts_us"), col("user_id"),
      col("value")).cache()
    events.createOrReplaceTempView("bench_events")
    val first = toUs(range.getLong(0)) - toUs(range.getLong(0)) % DayUs
    val last = toUs(maxTs)
    val days = ((last - first) / DayUs).toInt + 1
    // every disjoint window the fixture holds, at a seeded day offset and
    // in a seeded order, so the sink holds each window once the pool has
    // cycled
    val n = days / WindowDays
    require(n >= 2, s"events at $data span only $days days")
    val rng = new Random(seed)
    val base = first + rng.nextInt(days - n * WindowDays + 1).toLong * DayUs
    val span = WindowDays * DayUs
    // every reference answer in one pass over all windows, keyed by `win`;
    // the four queries run concurrently
    spark.sql(s"""SELECT *, CAST((ts_us - $base) DIV $span AS INT) AS win
        FROM bench_events WHERE ts_us >= $base AND ts_us < ${base + n * span}""")
      .createOrReplaceTempView("bench_win")
    def counts(query: String): Map[Int, Long] =
      spark.sql(query).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ticks = Future(counts("SELECT win, count(*) FROM bench_win GROUP BY win"))
    val newer = Future(counts(s"""SELECT w.win, count(*) FROM bench_win w LEFT JOIN
        (SELECT win, user_id, max(ts_us) AS m FROM bench_win
         WHERE ts_us < $base + win * $span + ${span / 2}
         GROUP BY win, user_id) s ON w.win = s.win AND w.user_id = s.user_id
      WHERE s.m IS NULL OR w.ts_us > s.m GROUP BY w.win"""))
    val bars = Future(sqlFingerprints(spark, s"""SELECT win, user_id,
        timestamp_micros(ts_us - pmod(ts_us, $HourUs)) AS bar_start,
        min_by(value, event_id) AS open, max(value) AS high,
        min(value) AS low, max_by(value, event_id) AS close,
        count(*) AS n_ticks
      FROM bench_win GROUP BY win, user_id, ts_us - pmod(ts_us, $HourUs)""",
      BarCols))
    val ind = Future(sqlFingerprints(spark, indicatorSql("bench_win"), IndCols))
    def get[A](f: Future[A]): A = Await.result(f, Duration.Inf)
    pool = rng.shuffle((0 until n).toIndexedSeq).map { i =>
      val lo = base + i * span
      Win(lo, lo + span, get(ticks)(i), get(newer)(i), get(bars)(i), get(ind)(i))
    }
    events.unpersist()
    ()
  }

  def op(client: Int, seq: Long): (Boolean, Long) = {
    val w = pool((seq % pool.size).toInt)
    val ev = tr.span("tables", client, seq) {
      val e = Tables.events(spark, data)
        .where(unix_micros(col("ts")) >= w.lo && unix_micros(col("ts")) < w.hi)
        .localCheckpoint(true)
      (e, e.count())
    }
    val (events, ticks) = ev
    try {
      // the collector's incremental filter (E1): ticks past each user's
      // high watermark over the first half of the window
      val newer = tr.span("ops", client, seq)(StockOps.incrementalFilter(events,
        events.where(unix_micros(col("ts")) < mid(w.lo, w.hi)), "user_id", "ts")
        .count())
      val okSeries = tr.span("timeseries", client, seq) {
        val bars = TimeSeries.resampleBars(events, "user_id", "ts", "value",
          "event_id", "1 hour")
        val okBars = fingerprint(bars, BarCols) == w.bars
        val okInd = fingerprint(indicators(events), IndCols) == w.ind
        val sma = TimeSeries.sma(bars, "user_id", "bar_start", col("close"), 5,
          "sma5")
        val nEma = TimeSeries.ema(bars, "user_id", "bar_start", "close", 0.3,
          "ema").count()
        // every tick's own bar starts at or before it, so every tick
        // picks up an as-of payload
        val aj = TimeSeries.asofJoin(events, sma, "user_id", "ts", "bar_start",
          Seq("sma5"), "bar_start").agg(count(lit(1)), count(col("sma5"))).head()
        okBars && okInd && nEma == w.bars.rows &&
          aj.getLong(0) == ticks && aj.getLong(1) == ticks
      }
      val bars = tr.span("ml", client, seq)(
        TrendModel.dailyBars(events).coalesce(Parts).cache())
      try {
        val preds = tr.span("ml", client, seq)(TrendModel.scoreBatch(bars,
          TrendModel.trainPerSymbol(bars, seed = seed, numTrees = Trees)))
        tr.span("streaming", client, seq)(Pipelines.mergeIntoParquet(
          preds.withColumn("pk", concat_ws("|", col("symbol"),
              col("user_id").cast("string"), col("day")))
            .withColumn("op_seq", lit(seq)),
          sinkDir, key = "pk", version = "op_seq", tiebreak = "pk",
          nBuckets = SinkBuckets))
        val sink = spark.read.parquet(sinkDir)
          .agg(count(lit(1)), countDistinct(col("symbol"), col("user_id"),
            col("day")), sum(when(col("op_seq") === seq, 1L).otherwise(0L)))
          .head()
        val okSink = sink.getLong(0) == sink.getLong(1) &&
          sink.getLong(2) == bars.count()
        (okSeries && ticks == w.ticks && newer == w.newer && okSink, ticks)
      } finally { bars.unpersist(); () }
    } finally CuratedCorpus.release(events)
  }

  def inputBytesPerOp: Double = 0.0
  def annRecall: Option[Double] = None
  /** Two timed ops: a third would leave the repeated-run protocol almost
    * no margin within its time budget (see README, "Run shape"). */
  override def minTimedOps: Int = 2
}

/** An order-free fingerprint of a frame: rows, XOR and sum mod p of the
  * per-row 64-bit hashes. */
final case class Fp(rows: Long, xor: Long, sum: Long)

/** Sizes from the reference and the repository's own trend queries. */
object TrendAnalytics {
  /** The reference's training window: a 7-day backfill
    * (`kafka_producer.py`, `start = now - 7d`; BASELINE.md). The 30-day
    * fixture holds four disjoint such windows. */
  val WindowDays = 7
  /** q46/q64 fit 10 trees per symbol. */
  val Trees = 10
  /** q309's CDC merge writes 8 buckets. */
  val SinkBuckets = 8
  val HourUs = 3600L * 1000000L
  val DayUs = 24L * HourUs
  val BarCols = Seq("user_id", "bar_start", "open", "high", "low", "close",
    "n_ticks")
  val IndCols = Seq("user_id", "event_id", "mid", "sd", "up", "lo", "rsi")

  def mid(lo: Long, hi: Long): Long = lo + (hi - lo) / 2

  private def hash(cols: Seq[String]): Column = xxhash64(cols.map(col): _*)

  def fingerprint(df: DataFrame, cols: Seq[String]): Fp = {
    val r = df.agg(count(lit(1)), bit_xor(hash(cols)),
      sum(pmod(hash(cols), lit(1000000007L)))).head()
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** `fingerprint` of each window of a query with a `win` column. */
  def sqlFingerprints(spark: SparkSession, query: String, cols: Seq[String])
      : Map[Int, Fp] = {
    val h = cols.mkString("xxhash64(", ", ", ")")
    spark.sql(
      s"""SELECT win, count(*), bit_xor($h), sum(pmod($h, 1000000007))
          FROM ($query) GROUP BY win""").collect()
      .map(r => r.getInt(0) -> Fp(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
  }

  /** Bollinger(20, 2σ) and Cutler RSI(14) per user over the event order,
    * through the engine's `Indicators` (the q124 shape). */
  def indicators(events: DataFrame): DataFrame = {
    val byKey = Window.partitionBy("user_id").orderBy("event_id")
    val (mid, sd, up, lo) = Indicators.bollinger(col("cents"),
      byKey.rowsBetween(-19, 0), 20, 2)
    events.select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .select(col("user_id"), col("event_id"), mid.as("mid"), sd.as("sd"),
        up.as("up"), lo.as("lo"),
        Indicators.rsi(col("cents"), byKey, byKey.rowsBetween(-13, 0), 14)
          .as("rsi"))
  }

  /** The same indicators written independently in SQL, per window of a
    * view with a `win` column. */
  def indicatorSql(view: String): String = s"""
    WITH c AS (SELECT win, user_id, event_id,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents FROM $view),
    d AS (SELECT *, cents - LAG(cents, 1) OVER (PARTITION BY win, user_id
                 ORDER BY event_id) AS dd FROM c),
    s AS (SELECT win, user_id, event_id,
            COUNT(1) OVER w20 AS n, SUM(cents) OVER w20 AS s1,
            SUM(cents * cents) OVER w20 AS s2, COUNT(dd) OVER w14 AS nd,
            SUM(CASE WHEN dd > 0 THEN dd ELSE 0 END) OVER w14 AS sg,
            SUM(CASE WHEN dd < 0 THEN -dd ELSE 0 END) OVER w14 AS sl
          FROM d
          WINDOW w20 AS (PARTITION BY win, user_id ORDER BY event_id
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
                 w14 AS (PARTITION BY win, user_id ORDER BY event_id
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
    i AS (SELECT win, user_id, event_id,
            CASE WHEN n = 20 THEN CAST(s1 AS DOUBLE) / n / 100 END AS mid,
            CASE WHEN n = 20 THEN
              SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * (n - 1))) / 100
            END AS sd,
            CASE WHEN nd = 14 AND sg + sl > 0 THEN
              100 * CAST(sg AS DOUBLE) / (sg + sl) END AS rsi
          FROM s)
    SELECT win, user_id, event_id, mid, sd, mid + sd * 2 AS up,
           mid - sd * 2 AS lo, rsi FROM i"""
}
