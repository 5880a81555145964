package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.sources.MergeSink
import graft.streaming.{LiveCycle, LivePortfolio}

/** The streaming live cycle over a bar table, closed loop with one
  * feeder: each micro-batch adds the next slice of bars in time order and
  * waits for processAllAvailable, through LiveCycle.fills →
  * LivePortfolio.upsertFills → MergeSink. The first micro-batch carries
  * the history every ticker needs before it trades; each later one holds
  * one trading date, so it trades and commits. */
final class LiveLeg(val bars: Array[LiveCycle.Bar], cycles: Int) {
  private val dates = bars.map(_.ts.getTime).distinct.sorted
  private val firstTrade = dates.length - cycles
  /** AutoTrader's first cycle sees `dates − cycles + 1` bars per ticker. */
  val minBars: Int = firstTrade + 1
  val slices: Seq[Seq[LiveCycle.Bar]] = {
    val (history, trading) = bars.partition(_.ts.getTime < dates(firstTrade))
    history.toSeq +: dates.drop(firstTrade).map(d => trading.filter(_.ts.getTime == d).toSeq).toSeq
  }
  /** Micro-batches that trade: all but the history batch. */
  def tradingBatches: Int = slices.size - 1

  /** Feeds the first `n` slices; returns the leg's wall time (query start
    * to the last commit, less the traced bookkeeping), the trading
    * micro-batch latencies in ms, and the sink directory. */
  def run(spark: SparkSession, work: File, tr: Tracer, n: Int): (Double, Seq[Double], File) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val spark2 = spark
    import spark2.implicits._
    val sinkDir = new File(work, "fills")
    val sink = new MergeSink(spark, sinkDir.getPath,
      keyCols = Seq("ticker", "tradeId"), partitionCol = "fill_date")
    val input = MemoryStream[LiveCycle.Bar]
    val latencies = mutable.ArrayBuffer.empty[Double]
    var excluded = 0L
    val t0 = System.nanoTime()
    val q = LivePortfolio.upsertFills(
      LiveCycle.fills(input.toDS(), minBars, sigCfg = TradeBatch.sigCfg,
        gateCfg = None, riskMode = TradeBatch.mode), sink, new File(work, "ckpt").getPath)
    try {
      var before = Map.empty[String, Long]
      slices.take(n).zipWithIndex.foreach { case (slice, i) =>
        val b0 = System.nanoTime()
        def feed(): Unit = { input.addData(slice); q.processAllAvailable() }
        if (i == 0) feed() else tr.span("streaming.batch")(feed())
        if (i > 0) latencies += (System.nanoTime() - b0) / 1e6
        if (tr.enabled) {
          // the files this micro-batch wrote into the sink, counted off the clock
          val c0 = System.nanoTime()
          val now = Fs.dataFiles(sinkDir).map(x => x.getPath -> x.lastModified).toMap
          if (i > 0) {
            val written = now.filter { case (p, m) => !before.get(p).contains(m) }.keys
            tr.count("sink.files", written.size.toDouble)
            tr.count("sink.bytes", written.map(p => new File(p).length).sum.toDouble)
          }
          before = now
          excluded += System.nanoTime() - c0
        }
      }
    } finally q.stop()
    val wall = (System.nanoTime() - t0 - excluded) / 1e9
    Heap.mark()
    (wall, latencies.toSeq, sinkDir)
  }
}

object LiveLeg {
  def load(spark: SparkSession, bars: DataFrame, cycles: Int): LiveLeg = {
    val spark2 = spark
    import spark2.implicits._
    new LiveLeg(bars.select($"ticker", $"date".as("ts"), $"close", $"high", $"low")
      .as[LiveCycle.Bar].collect().sortBy(b => (b.ts.getTime, b.ticker)), cycles)
  }

  def fills(spark: SparkSession, sinkDir: File): Seq[String] =
    spark.read.parquet(sinkDir.getPath).select(TradeBatch.fillCols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq

  /** Progress of the traded micro-batches (the history batch is left
    * out), as medians recorded on the span `on`. */
  def record(on: Span, progress: Seq[StreamingQueryProgress], batches: Int): Unit = {
    val traded = progress.filter(p => p.batchId > 0 && p.numInputRows > 0)
    def med(f: StreamingQueryProgress => Double): Double =
      if (traded.isEmpty) 0.0 else Stats.median(traded.map(f))
    def dur(k: String)(p: StreamingQueryProgress): Double =
      p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)
    val n = math.max(1, batches)
    on.attrs ++= Seq(
      "streaming.add_batch_ms" -> med(dur("addBatch")),
      "streaming.wal_commit_ms" -> med(dur("walCommit")),
      "streaming.planning_ms" -> med(dur("queryPlanning")),
      "streaming.state_rows" -> med(_.stateOperators.map(_.numRowsTotal).sum.toDouble),
      "streaming.state_mb" -> med(_.stateOperators.map(_.memoryUsedBytes).sum / 1e6),
      "sources.sink_files_per_batch" -> on.attrs.getOrElse("sink.files", 0.0) / n,
      "sources.sink_mb_per_batch" -> on.attrs.getOrElse("sink.bytes", 0.0) / 1e6 / n)
  }
}
