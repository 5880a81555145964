package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.forecast.ForecastEngine
import graft.pipeline.{AutoTrader, EtlPipeline}
import graft.sources.SyntheticSource
import graft.store.{IntegrityAuditor, TradeViews}

/** The trading product over one seeded bar table (parquet), in two legs.
  *
  * Batch leg (`wall_s`): EtlPipeline.run → AutoTrader.runDetailed over
  * the processed stage → the TradeViews dashboard reads and
  * IntegrityAuditor.audit over the fills. Its time goes to the
  * per-(ticker, cycle) forecast kernels and the ETL stage writes, with
  * almost no shuffle.
  *
  * Live leg (`batch_p50_ms`, `rows_per_s`): the same bars replayed through
  * the streaming live cycle ([[LiveLeg]]), which must reproduce the batch
  * leg's fills fill for fill: the same forecast kernel one bar at a time,
  * with a transactional sink write per micro-batch. */
final class TradeBatch(smoke: Boolean) extends Workload {
  val name = "trade_batch"

  // (tickers, bars per ticker, trading cycles); AutoTrader needs more than
  // cycles + 60 dates. The live leg trades one date per micro-batch.
  private val full = if (smoke) (2, 70, 3) else (8, 100, 6)

  private var barsPath = ""
  private var live: LiveLeg = _
  private var bytes = 0L
  private var digest: Option[String] = None

  def inputBytes: Long = bytes
  override def opsPerPass: Int = 1 + live.tradingBatches

  def setup(spark: SparkSession, dir: File, seed: Long): Unit = {
    val (nTickers, nBars, cycles) = full
    barsPath = new File(dir, "bars.parquet").getPath
    SyntheticSource.generate(spark, (1 to nTickers).map(i => f"TB$i%03d"), nBars, seed = seed,
      cfg = SyntheticSource.Config(model = "merton", marketCorr = 0.3))
      .toDF().write.mode("overwrite").parquet(barsPath)
    live = LiveLeg.load(spark, spark.read.parquet(barsPath), cycles)
    bytes = Fs.bytes(new File(barsPath))
    digest = None
  }

  final case class Out(etl: EtlPipeline.RunResult, fills: Seq[String],
      audit: IntegrityAuditor.AuditReport, streamed: Seq[String])

  /** The batch leg and the live leg's history and first trading batch. */
  def warm(spark: SparkSession, work: File): Unit = {
    runPass(spark, work, new Tracer(false), liveSlices = 2)
    ()
  }

  def pass(spark: SparkSession, work: File, tr: Tracer): PassOut =
    runPass(spark, work, tr, live.slices.size)

  private def runPass(spark: SparkSession, work: File, tr: Tracer, liveSlices: Int): PassOut = {
    Fs.rm(work)
    val out = new File(work, "etl")
    var paused = 0L
    val t0 = System.nanoTime()
    val etl = tr.span("pipeline.etl") {
      EtlPipeline.run(spark, spark.read.parquet(barsPath), EtlPipeline.Config(outDir = out.getPath))
    }
    paused += Heap.mark()
    val fills = tr.span("pipeline.autotrader") {
      val processed = spark.read.parquet(etl.stageDirs("processed"))
      AutoTrader.runDetailed(spark, processed, full._3, sigCfg = TradeBatch.sigCfg,
        gateCfg = None, riskMode = TradeBatch.mode)._2
    }
    paused += Heap.mark()
    val trades = TradeBatch.trades(fills)
    tr.span("store.views") {
      val closed = TradeViews.productionClosedTrades(trades)
      TradeViews.roundTrips(trades).write.format("noop").mode("overwrite").save()
      TradeViews.performanceSummary(closed).collect()
      TradeViews.equityCurve(closed).write.format("noop").mode("overwrite").save()
    }
    val audit = tr.span("store.audit")(IntegrityAuditor.audit(trades))
    paused += Heap.mark()
    val wall = (System.nanoTime() - t0 - paused) / 1e9
    // off the clocks: the batch fills, the reference for the live leg
    val batchFills = fills.select(TradeBatch.fillCols.map(col): _*).collect().map(_.toString).sorted.toSeq
    val stageBytes = Fs.bytes(out)
    tr.count("sources.stage_files", Fs.dataFiles(out).size.toDouble)
    tr.count("sources.stage_mb", stageBytes / 1e6)

    val (liveWall, latencies, sinkDir) = live.run(spark, new File(work, "live"), tr, liveSlices)
    PassOut(wall, latencies, live.bars.length / liveWall, stageBytes + Fs.bytes(sinkDir),
      Out(etl, batchFills, audit, LiveLeg.fills(spark, sinkDir)))
  }

  def check(spark: SparkSession, out: PassOut): Seq[String] = {
    val o = out.data.asInstanceOf[Out]
    val census = o.etl.rowsPerSplit.values.sum
    val d = TradeBatch.sha(o.fills)
    val first = digest.getOrElse { digest = Some(d); d }
    Seq(
      (census == live.bars.length) -> s"split census $census != input rows ${live.bars.length}",
      (o.etl.quality.status != "FAIL") -> s"validation ${o.etl.quality.status}",
      o.fills.nonEmpty -> "no fills",
      o.audit.clean -> s"integrity audit not clean: ${o.audit}",
      (d == first) -> "fills digest differs between passes with one seed",
      (o.streamed == o.fills) ->
        s"streamed fills (${o.streamed.size}) differ from the batch auto-trader's (${o.fills.size})"
    ).collect { case (false, msg) => msg }
  }

  /** Times ForecastEngine.forecastOne on histories sampled from the
    * cycles AutoTrader runs; the kernel's share of a pass is this × the
    * pass's (ticker, cycle) call count. */
  override def probe(spark: SparkSession, work: File, tr: Tracer): Seq[String] = {
    if (!tr.enabled) return Seq.empty
    val (nTickers, nBars, cycles) = full
    val byTicker = live.bars.groupBy(_.ticker).toSeq.sortBy(_._1)
      .map { case (t, bs) => t -> bs.sortBy(_.ts.getTime).map(_.close) }
    val cfg = ForecastEngine.Config(horizon = 5, mcPaths = 100)
    val all = for ((t, closes) <- byTicker; c <- 0 until cycles)
      yield (t, closes.take(nBars - cycles + c + 1))
    val step = math.max(1, all.size / 12)
    val samples = all.indices.filter(_ % step == 0).map(all)
    tr.root("probe") {
      tr.span("forecast.forecast_one") {
        samples.foreach { case (t, h) => ForecastEngine.forecastOne(t, h, cfg) }
        val ms = samples.map { case (t, h) =>
          val t0 = System.nanoTime()
          ForecastEngine.forecastOne(t, h, cfg)
          (System.nanoTime() - t0) / 1e6
        }
        val one = Stats.median(ms)
        val calls = (nTickers * cycles).toDouble
        tr.count("forecast.forecast_one_ms", one)
        tr.count("forecast.calls", calls)
        tr.count("forecast.kernel_s", one * calls / 1e3)
      }
    }
    Seq.empty
  }

  /** Splits the pipeline.etl span into its SQL executions, named by the
    * stage they serve: the processed-stage write is where the preprocess
    * and feature kernels run, the split write is where the split and
    * normalisation run, Validator's actions are the validation, and the
    * other writes (raw stage, run catalog) are plain stage writes. Then
    * records the live leg's micro-batch progress. */
  override def afterTrace(tr: Tracer, trace: Int, jobs: JobTap, streams: StreamTap): Unit = {
    val spans = tr.ofTrace(trace)
    spans.find(_.name == "pipeline.etl").foreach { etl =>
      // the formatted plan lists the write's output path first among its arguments
      val write = """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand\s.*?Arguments: (\S+?),""".r
      jobs.executions
        .filter(e => e.id == e.root && e.startMs >= etl.startMs && e.startMs <= etl.endMs && e.endMs >= 0)
        .foreach { e =>
          val name = write.findFirstMatchIn(e.plan).map(_.group(1)) match {
            case Some(p) if p.endsWith("/processed") => "features.build"
            case Some(p) if p.contains("_splits_tmp") => "etl.split"
            case Some(_) => "sources.stage_write"
            case None =>
              val frame = e.callSite.split("\n").map(_.trim).find(_.startsWith("graft.")).getOrElse("")
              if (frame.startsWith("graft.etl.Validator")) "etl.validate" else "etl.split"
          }
          tr.derived(name, etl, e.startMs, e.endMs)
        }
    }
    spans.find(_.parent < 0).foreach(root =>
      LiveLeg.record(root, streams.snapshot, spans.count(_.name == "streaming.batch")))
  }
}

object TradeBatch {
  /** Permissive decision stack (diagnostic risk mode, loose signal
    * thresholds, no quant gate) so short synthetic histories trade. */
  val mode: Option[AutoTrader.RiskPolicy] = Some(AutoTrader.RiskPolicy.diagnostic)
  val sigCfg: graft.signals.SignalGenerator.Config = graft.signals.SignalGenerator.Config(
    minExpectedReturn = 0.0002, minConfidence = 0.15, minSnr = 0.05)
  val fillCols: Seq[String] = Seq("ticker", "tradeId", "action", "quantity", "price",
    "isClose", "entryTradeId", "pnl", "exitReason", "isSynthetic", "side")

  /** The engine's fills in the trades-table shape the store layer reads.
    * Engine trade ids count per ticker, so the ticker prefixes them. */
  def trades(fills: DataFrame): DataFrame = {
    def id(c: String) = concat_ws(":", col("ticker"), col(c).cast("string"))
    fills.select(
      id("tradeId").as("trade_id"), col("ticker"), col("ts"), col("action"),
      col("quantity"), col("price"), col("isClose").as("is_close"),
      when(col("isClose"), id("entryTradeId")).as("entry_trade_id"),
      col("pnl"), col("isSynthetic").as("is_synthetic"),
      lit("synthetic").as("data_source"))
  }

  def sha(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}
