package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one timed pass hands back: the wall time of its batch work, the
  * latencies of its micro-batches when it streams (else none: the pass is
  * the one commit), input rows per second through the committing leg,
  * the bytes it left on disk, and whatever the correctness checks need. */
final case class PassOut(wallS: Double, opsMs: Seq[Double], rowsPerS: Double,
    storedBytes: Long, data: Any)

/** A whole-pipeline workload driven through the program's entry points.
  * The program only ever reads the files `setup` generates from the seed. */
trait Workload {
  def name: String
  /** Bytes on disk of the generated input one pass reads. */
  def inputBytes: Long
  /** Operations in one pass: the batch work and each micro-batch. */
  def opsPerPass: Int = 1
  def setup(spark: SparkSession, dir: File, seed: Long): Unit
  /** An untimed pass over the generated inputs (JIT and codegen). */
  def warm(spark: SparkSession, work: File): Unit
  def pass(spark: SparkSession, work: File, tr: Tracer): PassOut
  /** Correctness of one pass, run outside its clock; the failed checks. */
  def check(spark: SparkSession, out: PassOut): Seq[String]
  /** Once per run after the timed passes: layer probes and the checks that
    * cover every pass of the run alike; the failed checks. */
  def probe(spark: SparkSession, work: File, tr: Tracer): Seq[String] = Seq.empty
  /** After a traced pass: derive spans and counters from the listeners. */
  def afterTrace(tr: Tracer, trace: Int, jobs: JobTap, streams: StreamTap): Unit = ()
}

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, smoke: Boolean)

  def parse(args: Array[String]): Opts = {
    val smoke = args.contains("--smoke")
    val kv = args.filter(_ != "--smoke").grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case o => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $o")
    }
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, trace, smoke)
  }

  def workload(name: String, smoke: Boolean): Workload = name match {
    case "trade_batch" => new TradeBatch(smoke)
    case "corpus_curation" => new CorpusCuration(smoke)
    case o => throw new IllegalArgumentException(s"unknown workload: $o")
  }

  /** One core is left to query planning, the JIT and the collector: on
    * four cores that made passes both faster and steadier. */
  val cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors) - 1)

  def session(root: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(root, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Median wall time of a trivial one-task job: the fixed price of
    * scheduling one Spark job on this box. */
  def jobOverheadMs(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    (0 until 3).foreach(_ => sc.parallelize(Seq(1), 1).count())
    Stats.median((0 until 15).map { _ =>
      val t0 = System.nanoTime()
      sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t0) / 1e6
    })
  }

  def main(args: Array[String]): Unit = {
    val opts = try parse(args) catch {
      case e: Exception =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val wl = workload(opts.workload, opts.smoke)
    val root = new File(".bench_build").getAbsoluteFile
    val work = new File(root, s"work/${wl.name}-${ProcessHandle.current().pid()}")
    try {
      val out = run(wl, opts, root, work)
      println(out)
      System.out.flush()
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
      Fs.rm(work)
    }
    sys.exit(0)
  }

  def run(wl: Workload, opts: Opts, root: File, work: File): String = {
    // Set-up: the JVM's and the session's start, input generation from the
    // seed, and one untimed warm-up pass. It runs once: a run's cold start
    // is most of its cost, and it varies little between runs.
    Fs.rm(work)
    val spark = session(root)
    wl.setup(spark, new File(work, "in"), opts.seed)
    wl.warm(spark, new File(work, "warm"))
    spark.catalog.clearCache()
    val overheadMs = jobOverheadMs(spark)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"perfbench: set-up: $setupS%.2f s")

    val tracer = new Tracer(true)
    val off = new Tracer(false)
    val jobs = new JobTap
    val streams = new StreamTap
    val untracedWall = mutable.ArrayBuffer.empty[Double]
    val tracedWall = mutable.ArrayBuffer.empty[Double]
    val traces = mutable.ArrayBuffer.empty[Int]
    val walls = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Double]
    val rates = mutable.ArrayBuffer.empty[Double]
    val heap = mutable.ArrayBuffer.empty[Double]
    val stored = mutable.ArrayBuffer.empty[Double]
    var attempted = 0L
    var failed = 0L
    val passWork = new File(work, "pass")

    // Timed passes while the next one still fits the window (judged by the
    // longest pass so far), at least one. A traced run alternates untraced
    // and traced passes, at least three, so the tracing overhead is
    // measured on the same box state. No pass starts that would end past
    // 150 s of the process's life.
    val minPasses = if (opts.trace) 3 else 1
    val start = System.nanoTime()
    val window = start + opts.seconds * 1000000000L
    val hardStop = start + (ManagementFactory.getRuntimeMXBean.getStartTime + 150000L -
      System.currentTimeMillis()) * 1000000L
    var longest = 0L
    var i = 0
    def fits(until: Long) = System.nanoTime() + longest <= until
    while (i == 0 || fits(hardStop) && (i < minPasses || fits(window))) {
      val p0 = System.nanoTime()
      val traced = opts.trace && i % 2 == 1
      Heap.mark()
      Heap.reset()
      if (traced) {
        jobs.clear(); streams.clear()
        spark.sparkContext.addSparkListener(jobs)
        spark.streams.addListener(streams)
      }
      val tr = if (traced) tracer else off
      val res = try Right(tr.root("pass")(wl.pass(spark, passWork, tr)))
        catch { case e: Exception => Left(e) }
      heap += Heap.peakMb
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(jobs)
        spark.streams.removeListener(streams)
        val t = tracer.currentTrace
        wl.afterTrace(tracer, t, jobs, streams)
        tracer.attribute(t, jobs)
        traces += t
      }
      attempted += wl.opsPerPass
      res match {
        case Right(out) =>
          val bad = try wl.check(spark, out) catch { case e: Exception => Seq(s"check threw: $e") }
          if (bad.nonEmpty) {
            failed += wl.opsPerPass
            bad.foreach(b => System.err.println(s"perfbench: pass $i check failed: $b"))
          }
          walls += out.wallS
          System.err.println(f"perfbench: pass $i${if (traced) " (traced)" else ""}: ${out.wallS}%.3f s")
          ops ++= out.opsMs
          rates += out.rowsPerS
          stored += out.storedBytes.toDouble / wl.inputBytes
          (if (traced) tracedWall else untracedWall) += out.wallS
        case Left(e) =>
          failed += wl.opsPerPass
          System.err.println(s"perfbench: pass $i failed: $e")
          e.printStackTrace()
      }
      spark.catalog.clearCache()
      longest = math.max(longest, System.nanoTime() - p0)
      i += 1
    }

    if (opts.trace) {
      jobs.clear()
      spark.sparkContext.addSparkListener(jobs)
    }
    val probeBad = try wl.probe(spark, new File(work, "probe"), if (opts.trace) tracer else off)
      catch { case e: Exception => Seq(s"probe threw: $e") }
    if (opts.trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
      tracer.attribute(tracer.currentTrace, jobs)
    }
    if (probeBad.nonEmpty) {
      probeBad.foreach(b => System.err.println(s"perfbench: run check failed: $b"))
      failed = attempted
    }
    require(walls.nonEmpty, "no pass completed")

    val metrics: Seq[(String, Double, String)] =
      if (!opts.trace) {
        val latencies = if (ops.nonEmpty) ops.toSeq else walls.map(_ * 1e3).toSeq
        Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", Stats.median(walls.toSeq), "s"),
          ("rows_per_s", Stats.median(rates.toSeq), "rows/s"),
          ("batch_p50_ms", Stats.median(latencies), "ms"),
          ("ok_frac", 1.0 - failed.toDouble / attempted, "ratio"),
          ("heap_peak_mb", Stats.median(heap.toSeq), "MB"),
          ("stored_bytes_per_input_byte", Stats.median(stored.toSeq), "ratio"))
      } else {
        val overhead =
          if (tracedWall.nonEmpty && untracedWall.nonEmpty)
            Stats.median(tracedWall.toSeq) - Stats.median(untracedWall.toSeq)
          else 0.0
        Layers.metrics(tracer, traces.toSeq, overheadMs, overhead, ops.toSeq)
      }

    if (opts.trace) {
      val dir = new File(root, "traces")
      dir.mkdirs()
      val f = new File(dir, s"${wl.name}-seed${opts.seed}.json")
      java.nio.file.Files.writeString(f.toPath, tracer.toJson)
      System.err.println(s"perfbench: spans written to $f")
    }

    val body = metrics.map { case (k, v, u) =>
      s"${Json.str(k)}: {${"\"value\""}: ${Json.num(v)}, ${"\"unit\""}: ${Json.str(u)}}"
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}
