package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.SparkEntry
import graft.jobs.CanonicalJobs
import graft.operators.MRJob

/** A workload: what set-up renders, which items (queries or jobs) one
  * pass runs, and how each item is built, forced and checked.
  */
trait Workload {
  /** One-time work before the first item is submitted (renders, corpus). */
  def setup(spark: SparkSession): Unit
  /** Computed once after set-up; the check compares against it. */
  def prepareCheck(): Unit = ()
  def items: Seq[String]
  /** Construct the item's result (Spark may already run jobs here). */
  def build(spark: SparkSession, item: String): AnyRef
  /** Force the built result the way the timed passes do. */
  def exec(spark: SparkSession, item: String, built: AnyRef): Unit
  /** Force the built result and compare it; Some(reason) on a mismatch. */
  def check(spark: SparkSession, item: String, built: AnyRef): Option[String]
  /** About how long a warm pass takes on 4 cores; `--seconds` divided by
    * it is the number of timed passes. */
  def nominalPassS: Double
  /** Input megabytes one pass offers, for `input_mb_per_s`. */
  def inputMbPerPass: Double
  /** Parquet tables a direct `Tables.table` read is timed on. */
  def tablesDir: String
  def tables: Seq[String]
  /** Committed output files of the last pass. */
  def outputFiles: Int = 0
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirMb(dir: String): Double = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum / (1024.0 * 1024.0)
    finally s.close()
  }

  def compare(got: RowHash, want: RowHash, ordered: Boolean): Option[String] =
    if (got.rows != want.rows) Some(s"rows ${got.rows} != expected ${want.rows}")
    else if (got.sum != want.sum) Some(s"hash ${got.hex} != expected ${want.hex}")
    else if (ordered && got.ordered != want.ordered) Some("row order differs from expected")
    else None
}

/** All registered queries over the fixed seed-42 testdata, each checked
  * against a row count and hash recorded from an oracle-checked run.
  */
final class Registry(sfDir: String, expectedFile: String, selection: Seq[String]) extends Workload {
  private val queries = SparkEntry.queries
  private val expected: Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(expectedFile)).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, rows, hash) = l.split('\t')
      n -> (rows.toLong, hash)
    }.toMap

  val items: Seq[String] = selection.map { n =>
    require(queries.contains(n), s"query $n is not registered"); n
  }

  /** The one-time renders of the selected queries, as graft.Bench runs them. */
  def setup(spark: SparkSession): Unit =
    SparkEntry.setups.toSeq.sortBy(_._1).filter(s => items.contains(s._1))
      .foreach { case (_, f) => f(spark, sfDir) }

  def build(spark: SparkSession, item: String): AnyRef = queries(item)(spark, sfDir)
  def exec(spark: SparkSession, item: String, built: AnyRef): Unit =
    Workload.noop(built.asInstanceOf[DataFrame])

  def check(spark: SparkSession, item: String, built: AnyRef): Option[String] = {
    val got = new RowHash
    built.asInstanceOf[DataFrame].collect().foreach(got.addRow)
    expected.get(item) match {
      case None => Some("no expected value recorded")
      case Some((rows, hash)) =>
        if (got.rows != rows) Some(s"rows ${got.rows} != expected $rows")
        else if (got.hex != hash) Some(s"hash ${got.hex} != expected $hash")
        else None
    }
  }

  def nominalPassS: Double = 0.75 * items.size
  private lazy val dataMb = Workload.dirMb(sfDir)
  def inputMbPerPass: Double = dataMb * items.size
  def tablesDir: String = sfDir
  def tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}

object Registry {
  /** The queries a timed registry pass runs. A pass over all 181 takes
    * over a minute warm on 4 cores, longer than a run may take, so a
    * pass is a fixed sample, the same work at every seed. It holds
    * every 48th registered query in name order, starting at the 7th,
    * plus `q_bucketed_join`, whose render set-up pays for. Together they
    * cover schema inference, staging (the iterative graph tail), a
    * multi-join plan, a cube aggregate, a sampling query and a bucketed
    * join.
    */
  val Sample: Seq[String] = Seq(
    "q10_returned_items", "q_bucketed_join", "q_cube", "q_graph_bfs_hops",
    "q_llm_weighted_sample")
}

/** Shared by the two corpus workloads: the seeded corpus and its
  * single-threaded reference results.
  */
abstract class CorpusWorkload(seed: Long, nDocs: Int, work: String) extends Workload {
  protected val corpusDir = s"$work/corpus"
  protected var docs: Array[Doc] = Array.empty
  protected var reference: Map[String, RowHash] = Map.empty
  var referenceS = 0.0

  protected def generate(): Unit = docs = Corpus.generate(seed, nDocs)

  override def prepareCheck(): Unit = {
    val t0 = System.nanoTime()
    reference = Reference.compute(docs)
    referenceS = (System.nanoTime() - t0) / 1e9
  }

  protected lazy val textMb: Double = docs.iterator.map(_.n_chars).sum / (1024.0 * 1024.0)
  def inputMbPerPass: Double = textMb * items.size
  def tablesDir: String = corpusDir
}

/** The canonical MapReduce jobs as DataFrame queries over a generated
  * `documents.parquet`.
  */
final class MrSql(seed: Long, nDocs: Int, work: String, cores: Int)
    extends CorpusWorkload(seed, nDocs, work) {
  val items: Seq[String] = Seq("wordcount", "sqlWordcount", "invertedIndex", "grep", "sortDocs")
  def nominalPassS: Double = 2.8 * nDocs / 12000
  def tables: Seq[String] = Seq("documents")

  def setup(spark: SparkSession): Unit = {
    generate()
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(docs.toSeq, cores * 2))
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
  }

  def build(spark: SparkSession, item: String): AnyRef = item match {
    case "wordcount" => CanonicalJobs.wordcount(spark, corpusDir)
    case "sqlWordcount" => CanonicalJobs.sqlWordcount(spark, corpusDir)
    case "invertedIndex" => CanonicalJobs.invertedIndex(spark, corpusDir)
    case "grep" => CanonicalJobs.grep(spark, corpusDir, Corpus.GrepPattern)
    case "sortDocs" => CanonicalJobs.sortDocs(spark, corpusDir)
  }

  def exec(spark: SparkSession, item: String, built: AnyRef): Unit =
    Workload.noop(built.asInstanceOf[DataFrame])

  def check(spark: SparkSession, item: String, built: AnyRef): Option[String] = {
    val got = new RowHash
    built.asInstanceOf[DataFrame].toLocalIterator().asScala.foreach(got.addRow)
    Workload.compare(got, reference(item), ordered = item == "sortDocs")
  }
}

/** The programmable surface: `MRJob` closures over the corpus written
  * as text files, each result committed with `writeTextOutput`.
  */
final class MrApi(seed: Long, nDocs: Int, work: String, files: Int)
    extends CorpusWorkload(seed, nDocs, work) {
  val items: Seq[String] = Seq("mr_wordcount", "mr_inverted_index", "assoc_wordcount")
  private val textDir = s"$corpusDir/text"
  private val outDir = s"$work/out"
  private val glob = s"$textDir/*.txt"
  private var lastFiles = 0
  def nominalPassS: Double = 4.2 * nDocs / 10000
  /** reads text files, no parquet table */
  def tables: Seq[String] = Nil

  private val wordCount = MRJob[String, Long, Long](MrApi.countWords, (_, vs) => vs.sum)
  private val index = MRJob[String, Long, String](MrApi.postings,
    (_, ids) => ids.toSeq.distinct.sorted.mkString(","))

  def setup(spark: SparkSession): Unit = {
    generate()
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(docs.toSeq.map(Corpus.line), files))
      .write.mode("overwrite").text(textDir)
  }

  def build(spark: SparkSession, item: String): AnyRef = {
    import spark.implicits._
    item match {
      case "mr_wordcount" => wordCount.run(spark, glob)
      case "mr_inverted_index" => index.run(spark, glob)
      case "assoc_wordcount" =>
        val pairs = spark.createDataset(spark.sparkContext.wholeTextFiles(glob)
          .flatMap { case (f, c) => MrApi.countWords(f, c) })
        wordCount.runAssociative(pairs, _ + _)
    }
  }

  def exec(spark: SparkSession, item: String, built: AnyRef): Unit = item match {
    case "mr_inverted_index" => index.writeTextOutput(built.asInstanceOf[Dataset[(String, String)]], s"$outDir/$item")
    case _ => wordCount.writeTextOutput(built.asInstanceOf[Dataset[(String, Long)]], s"$outDir/$item")
  }

  /** Commit, then read the committed files back as plain text. */
  def check(spark: SparkSession, item: String, built: AnyRef): Option[String] = {
    exec(spark, item, built)
    val parts = Files.list(Paths.get(s"$outDir/$item")).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
    lastFiles = parts.size
    val got = new RowHash
    var unsorted = 0
    parts.foreach { p =>
      val keys = Files.readAllLines(p).asScala.map { l => got.add(l); l.takeWhile(_ != ' ') }
      if (keys.iterator.sliding(2).exists { case Seq(a, b) => a > b; case _ => false }) unsorted += 1
    }
    if (unsorted > 0) Some(s"$unsorted output files not sorted by key")
    else Workload.compare(got, reference(item), ordered = false)
  }

  override def outputFiles: Int = lastFiles
}

object MrApi {
  /** mapf of word count: (word, 1) for every token of every document. */
  val countWords: (String, String) => IterableOnce[(String, Long)] = (_, contents) =>
    contents.linesIterator.flatMap(l => Corpus.tokens(Corpus.parseLine(l)._2).map(_ -> 1L))

  /** mapf of the inverted index: (word, doc_id) once per word of each document. */
  val postings: (String, String) => IterableOnce[(String, Long)] = (_, contents) =>
    contents.linesIterator.flatMap { l =>
      val (id, text) = Corpus.parseLine(l)
      Corpus.tokens(text).distinct.map(_ -> id)
    }
}
