package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.ConnectedComponents

/** Corpus curation: a seeded corpus with planted exact duplicates,
  * near-duplicate chains and contaminated documents, written as
  * `documents.parquet`; one pass runs q127_corpus_filter (written out as
  * the decision table) and q137_source_report through SparkEntry.queries.
  *
  * Shuffle-heavy with many jobs, and never touches the forecast layer. */
final class CorpusCuration(smoke: Boolean) extends Workload {
  import CorpusCuration._
  val name = "corpus_curation"

  private val full = if (smoke) Shape(300, 4) else Shape(1200, 8)

  private var dir = ""
  private var planted = 0L
  private var bytes = 0L

  def inputBytes: Long = bytes

  def setup(spark: SparkSession, in: File, seed: Long): Unit = {
    dir = new File(in, "corpus").getPath
    planted = write(spark, dir, full, seed)
    bytes = Fs.bytes(new File(dir, "documents.parquet"))
  }

  final case class Out(decisions: String, report: Array[(String, String, Long)])

  def warm(spark: SparkSession, work: File): Unit = {
    pass(spark, work, new Tracer(false))
    ()
  }

  def pass(spark: SparkSession, work: File, tr: Tracer): PassOut = {
    Fs.rm(work)
    val decisions = new File(work, "decisions").getPath
    val t0 = System.nanoTime()
    tr.span("queries.q127_compose") {
      SparkEntry.queries("q127_corpus_filter")(spark, dir)
        .write.mode("overwrite").parquet(decisions)
    }
    val paused = Heap.mark()
    val report = tr.span("queries.q137_report") {
      SparkEntry.queries("q137_source_report")(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    }
    val wall = (System.nanoTime() - t0 - paused) / 1e9
    Heap.mark()
    PassOut(wall, Seq.empty, full.docs / wall, Fs.bytes(new File(decisions)), Out(decisions, report))
  }

  def check(spark: SparkSession, out: PassOut): Seq[String] = {
    val o = out.data.asInstanceOf[Out]
    val d = spark.read.parquet(o.decisions)
    val Array(n, distinct, exact) = d.agg(count(lit(1)), countDistinct(col("doc_id")),
      sum(when(col("reason") === "exact_dup", 1L).otherwise(0L))).head().toSeq.toArray
      .map(v => Option(v).map(_.asInstanceOf[Long]).getOrElse(0L))
    val reported = o.report.map(_._3).sum
    Seq(
      (n == full.docs && distinct == full.docs) ->
        s"$n decisions for $distinct distinct docs, expected one each for ${full.docs}",
      (exact == planted) -> s"exact_dup $exact != planted $planted",
      (reported == full.docs) -> s"q137 counts sum to $reported, not ${full.docs}"
    ).collect { case (false, msg) => msg }
  }

  /** The q127 inputs one at a time on the same corpus, and the
    * connected-components check: both algorithms, on the same cached
    * pairs, must label every node alike. Both run their distributed
    * rounds (no local finish), so the chain length sets the round count. */
  override def probe(spark: SparkSession, work: File, tr: Tracer): Seq[String] =
    tr.root("probe") {
      val pairs = tr.span("queries.q90_pairs") {
        val p = SparkEntry.queries("q90_neardup_lsh_verify")(spark, dir).select("da", "db").cache()
        tr.count("queries.q90_pairs.rows", p.count().toDouble)
        p
      }
      val prop = tr.span("operators.cc") {
        labels(ConnectedComponents.run(pairs, "da", "db", localFinishEdges = 0L))
      }
      val stars = tr.span("operators.cc_stars") {
        val (df, rounds) = ConnectedComponents.runStarsCounted(pairs, "da", "db", localFinishEdges = 0L)
        tr.count("operators.cc_rounds", rounds.toDouble)
        labels(df)
      }
      tr.span("queries.q125_contamination") {
        SparkEntry.queries("q125_contamination")(spark, dir).write.format("noop").mode("overwrite").save()
      }
      pairs.unpersist()
      if (prop.sameElements(stars)) Seq.empty
      else Seq(s"ConnectedComponents.run and runStars disagree (${prop.length} vs ${stars.length} labels)")
    }

  private def labels(df: DataFrame): Array[(Long, Long)] =
    df.select(col("node").cast("long"), col("component").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
}

object CorpusCuration {
  /** `docs` documents; near-duplicate families are chains of `chain`
    * members, each one small edit from the previous, so neighbours are
    * near-duplicates and the ends are not. */
  final case class Shape(docs: Int, chain: Int)

  /** Planted shares of the corpus. Each seed plants exactly these counts,
    * at seeded positions, so seeds differ in content but not in shape. */
  val exactShare = 0.06
  val contaminatedShare = 0.04
  val familyShare = 0.20

  private val stop = Vector("the", "a", "of", "and", "to", "in", "is")
  private val vocab = Vector.tabulate(600)(i => "w" + Integer.toString(i * 7919 % 46656, 36))

  private sealed trait Role
  private case object Base extends Role
  private case object Exact extends Role
  private case object Contaminated extends Role
  private case object Family extends Role

  /** Writes the corpus under `dir`; returns the planted exact-duplicate
    * count. q127's benchmark slice (id % 11 == 0) takes precedence over
    * every other reason, so those ids always hold fresh documents, as do
    * the first ids, which every copy and contamination draws from. */
  def write(spark: SparkSession, dir: String, shape: Shape, seed: Long): Long = {
    val rnd = new Random(seed)
    val free = (0 until shape.docs).filter(id => id >= 22 && id % 11 != 0)
    val nExact = math.round(shape.docs * exactShare).toInt
    val nContaminated = math.round(shape.docs * contaminatedShare).toInt
    val nFamily = math.round(shape.docs * familyShare).toInt
    val roles = Array.fill[Role](shape.docs)(Base)
    rnd.shuffle(free).zip(Seq.fill(nExact)(Exact) ++ Seq.fill(nContaminated)(Contaminated) ++
      Seq.fill(nFamily)(Family)).foreach { case (id, r) => roles(id) = r }

    val seen = mutable.HashSet.empty[String]
    def fresh(): Array[String] = {
      val n = 40 + rnd.nextInt(120)
      // about one doc in ten has no stopwords (q127's "lang" reason)
      val stopP = if (rnd.nextInt(10) == 0) 0.0 else 0.08 + 0.15 * rnd.nextDouble()
      Array.fill(n)(if (rnd.nextDouble() < stopP) stop(rnd.nextInt(stop.size)) else vocab(rnd.nextInt(vocab.size)))
    }
    def unique(make: () => Array[String]): Array[String] = {
      var t = make()
      while (seen.contains(t.mkString(" "))) t = make()
      seen += t.mkString(" ")
      t
    }
    def edit(t: Array[String]): Array[String] = {
      val c = t.clone()
      (0 until 2).foreach { _ =>
        val i = rnd.nextInt(c.length)
        var w = vocab(rnd.nextInt(vocab.size))
        while (w == c(i)) w = vocab(rnd.nextInt(vocab.size))
        c(i) = w
      }
      c
    }
    val originals = mutable.ArrayBuffer.empty[Array[String]]
    val bench = mutable.ArrayBuffer.empty[Array[String]]
    var chain: List[Array[String]] = Nil
    val docs = (0 until shape.docs).map { id =>
      val text = roles(id) match {
        case Exact => originals(rnd.nextInt(originals.size))
        case Contaminated =>
          val b = bench(rnd.nextInt(bench.size))
          val start = rnd.nextInt(b.length - 12)
          unique(() => { val t = fresh(); t.take(t.length / 2) ++ b.slice(start, start + 12) ++ t.drop(t.length / 2) })
        case Family =>
          // family members follow each other in id order, `chain` per family
          val next = if (chain.isEmpty || chain.size >= shape.chain) unique(fresh) else unique(() => edit(chain.head))
          chain = if (chain.size >= shape.chain) List(next) else next :: chain
          next
        case Base =>
          val t = unique(fresh)
          originals += t
          if (id % 11 == 0) bench += t
          t
      }
      (id.toLong, text.mkString(" "), Seq("en", "de", "fr")(id % 3), s"src${id % 7}")
    }
    import spark.implicits._
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    nExact.toLong
  }
}
