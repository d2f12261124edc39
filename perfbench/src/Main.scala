package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry, Tables}

/** The benchmark's JVM side. `perfbench/run.py` builds it and passes:
  *
  *   --workload registry|mr_sql|mr_api  --seed N  --seconds S  --trace 0|1
  *   --size bench|smoke  --data DIR  --work DIR
  *   [--queries sample|all]      registry: the fixed sample or every query
  *   [--gen-expected VERIFY_OUT] print expected row counts and hashes of a
  *                               graft.Verify dump instead of running
  *
  * One JVM, `local[cores]`, one driver thread, a closed loop: each item
  * (query or job) is submitted only after the previous one finished.
  * The last stdout line is the result JSON.
  */
object Main {
  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10,
      trace: Boolean = false, size: String = "bench", data: String = "perfbench/data",
      work: String = ".bench_build/work", queries: String = "sample",
      genExpected: Option[String] = None)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--size" :: v :: t => parse(t, o.copy(size = v))
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--queries" :: v :: t => parse(t, o.copy(queries = v))
    case "--gen-expected" :: v :: t => parse(t, o.copy(genExpected = Some(v)))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  /** Corpus sizes: documents per run (about 250 bytes of text each). */
  val CorpusDocs = Map(("mr_sql", "bench") -> 12000, ("mr_api", "bench") -> 10000,
    ("mr_sql", "smoke") -> 2000, ("mr_api", "smoke") -> 2000)
  /** Text files the `mr_api` corpus is written as. */
  val ApiFiles = 16
  val SetupRepeats = 3
  val TableReadRepeats = 3
  /** Documents the registry's box-health control (the reference jobs) runs over. */
  val RegistryBaselineDocs = 20000

  def main(args: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val o = parse(args.toList)
    val t00 = System.nanoTime()
    def progress(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${jvmStartS + (System.nanoTime() - t00) / 1e9}%.2f s")
    val cores = Runtime.getRuntime.availableProcessors()
    val sf = if (o.size == "smoke") "sf0.001" else "sf0.01"
    o.genExpected match {
      case Some(dir) => genExpected(GraftSession.local(cores), dir); return
      case None =>
    }
    val w: Workload = o.workload match {
      case "registry" =>
        new Registry(s"${o.data}/$sf", s"${o.data}/expected_$sf.tsv",
          if (o.queries == "all") SparkEntry.queries.keys.toSeq.sorted else Registry.Sample)
      case "mr_sql" => new MrSql(o.seed, CorpusDocs(("mr_sql", o.size)), o.work, cores)
      case "mr_api" => new MrApi(o.seed, CorpusDocs(("mr_api", o.size)), o.work, ApiFiles)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    // set-up, repeated; the median is reported and the last session kept
    var spark: SparkSession = null
    val setupS = (1 to SetupRepeats).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores)
      val t1 = System.nanoTime()
      w.setup(spark)
      progress(f"set-up: session ${(t1 - t0) / 1e9}%.2f s, workload ${(System.nanoTime() - t1) / 1e9}%.2f s")
      jvmStartS + (System.nanoTime() - t0) / 1e9
    }
    w.prepareCheck()
    progress("reference done")
    // every pass takes the next permutation from the seeded generator
    val rng = new scala.util.Random(o.seed)
    val run = new Runner(spark, w, () => rng.shuffle(w.items))

    run.pass(check = true, traced = None)   // cold: the untimed checking pass
    progress("checking pass done")
    val tracer = if (o.trace) Some(new Tracer) else None
    // A fixed number of passes, sized so that they take about --seconds
    // here. A deadline would let a fast box run more passes, and since a
    // pass keeps getting faster as the JVM warms up, that would move the
    // median by more than the box speed itself.
    // On a box much slower than that, the passes stop at twice --seconds,
    // so that the run still ends in time.
    val nPasses = math.max(1, math.round(o.seconds / w.nominalPassS).toInt)
    val stopAt = System.nanoTime() + (2 * o.seconds * 1e9).toLong
    val timed = mutable.ArrayBuffer.empty[Runner.PassResult]
    while (timed.size < nPasses && System.nanoTime() < stopAt) timed += run.pass(check = false, tracer)
    val passes = timed.toSeq
    progress(s"${passes.size} timed passes done")
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        // a median pass: each item's median latency over the timed passes, summed
        val wall = w.items.map(i => Stats.median(passes.map(_.latencies(i)))).sum
        val lat = passes.flatMap(_.latencies.values).sorted
        Seq(
          ("setup_s", Stats.median(setupS), "s"),
          ("wall_s", wall, "s"),
          ("query_p50_s", Stats.quantile(lat, 0.5), "s"),
          ("input_mb_per_s", w.inputMbPerPass / wall, "MB/s"),
          ("peak_rss_mb", Stats.peakRssMb(), "MB"))
      case Some(_) =>
        val layers = passes.map(_.layers)
        val names = layers.head.keys.toSeq.sorted
        val tableS = w.tables.map { name =>
          Stats.median((1 to TableReadRepeats).map { _ =>
            val t0 = System.nanoTime()
            Tables.table(spark, w.tablesDir, name)
            (System.nanoTime() - t0) / 1e9
          })
        }
        val baselineS = w match {
          case c: CorpusWorkload => c.referenceS
          case _ =>
            val docs = Corpus.generate(o.seed, RegistryBaselineDocs)
            val t0 = System.nanoTime(); Reference.compute(docs); (System.nanoTime() - t0) / 1e9
        }
        passes.head.items.foreach { case (item, counts, sites) =>
          val siteJson = sites.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
          println(counts.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }
            .mkString(s"""{"trace_item":"$item",""", ",", s""","build_sites":$siteJson}"""))
        }
        Runner.writeSpans(s"${o.work}/trace/${o.workload}-seed${o.seed}.tsv",
          passes.flatMap(_.spans))
        names.map(n => (n, Stats.median(layers.map(_(n))), Stats.unit(n))) ++ Seq(
          ("tables.read_s", Stats.median(tableS), "s"),
          ("commit.files", w.outputFiles.toDouble, "count"),
          ("baseline.single_thread_s", baselineS, "s"),
          // minus the untraced run's wall_s at the same seed: the tracing overhead
          ("trace.wall_s", Stats.median(passes.map(_.wallS)), "s"))
    }
    spark.stop()

    val failed = run.failed
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":${run.attempted},"failed":$failed,"metrics":{$body}}""")
  }

  /** Expected row count and hash of every query in a graft.Verify dump. */
  def genExpected(spark: SparkSession, dir: String): Unit = {
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val h = new RowHash
      spark.read.parquet(s"$dir/$name").collect().foreach(h.addRow)
      println(s"$name\t${h.rows}\t${h.hex}")
    }
    spark.stop()
  }
}

/** Runs passes over a workload's items and keeps the failure count. */
final class Runner(spark: SparkSession, w: Workload, nextOrder: () => Seq[String]) {
  import Runner._
  var attempted = 0
  var failed = 0
  private var passNo = 0
  private val cores = spark.sparkContext.defaultParallelism

  def pass(check: Boolean, traced: Option[Tracer]): PassResult = {
    passNo += 1
    val sc = spark.sparkContext
    traced.foreach { t =>
      Bus.drain(sc); t.clear()
      sc.addSparkListener(t); spark.listenerManager.register(t)
    }
    val order = nextOrder()
    val spans = mutable.ArrayBuffer.empty[Span]
    val latencies = mutable.LinkedHashMap.empty[String, Double]
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    order.foreach { item =>
      val group = s"p$passNo/$item"
      def phase[A](name: String)(body: => A): A = {
        if (traced.isDefined) sc.setJobGroup(s"$group/$name", null)  // no description: SQL executions keep their call site
        val s = System.currentTimeMillis()
        try body finally spans += Span(passNo, item, name, s"$group/$name", s, System.currentTimeMillis())
      }
      attempted += 1
      val q0 = System.nanoTime()
      val problem =
        try {
          val built = phase("build")(w.build(spark, item))
          phase("exec")(if (check) w.check(spark, item, built) else { w.exec(spark, item, built); None })
        } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      latencies(item) = (System.nanoTime() - q0) / 1e9
      problem.foreach { p =>
        failed += 1
        System.err.println(s"[perfbench] $item failed: ${p.linesIterator.take(1).mkString.take(400)}")
      }
    }
    if (traced.isDefined) sc.clearJobGroup()
    val wallS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] pass $passNo%d${if (check) " (check)" else ""}%s: $wallS%.3f s; " +
      latencies.map { case (i, l) => f"$i%s=$l%.3f" }.mkString(" "))
    val endMs = System.currentTimeMillis()
    traced match {
      case Some(t) =>
        Bus.drain(sc)
        sc.removeSparkListener(t); spark.listenerManager.unregister(t)
        PassResult(wallS, latencies.toMap, spans.toSeq,
          Layers.of(t, spans.toSeq, startMs, endMs, cores), Layers.perItem(t))
      case None => PassResult(wallS, latencies.toMap, spans.toSeq, Map.empty, Seq.empty)
    }
  }
}

object Runner {
  final case class PassResult(wallS: Double, latencies: Map[String, Double], spans: Seq[Span],
      layers: Map[String, Double], items: Seq[(String, Map[String, Int], Map[String, Int])])

  /** Spans of the traced passes, one per line, written when the run ends. */
  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, ("pass\titem\tphase\tstart_ms\tend_ms\n" + spans.map { s =>
      s"${s.pass}\t${s.item}\t${s.phase}\t${s.startMs}\t${s.endMs}\n"
    }.mkString).getBytes("UTF-8"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def unit(metric: String): String =
    if (metric.endsWith("_s") || metric.endsWith(".s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("_frac") || metric.endsWith("_ratio")) "ratio"
    else "count"
}
