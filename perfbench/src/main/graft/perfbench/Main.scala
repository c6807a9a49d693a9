package graft.perfbench

import graft.Page
import graft.operators.{ExtractJob, ExtractKernel}
import graft.sources.{ManifestTable, WarcReader}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Command line of one benchmark run. `work` is the directory the run may
  * write: cached inputs, committed tables, Spark scratch and the trace.
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, s"expected --key value pairs, got ${argv.mkString(" ")}")
    val kv = argv.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected an option, got $k")
      k.drop(2) -> v
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "work")
    require(kv.keySet.subsetOf(known), s"unknown options ${(kv.keySet -- known).mkString(", ")}")
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      Paths.get(get("work")).toAbsolutePath)
    require(Workloads.Names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seed >= 0 && a.seed < (1L << 30), s"seed ${a.seed} outside [0, 2^30)")
    require(a.seconds >= 1, s"--seconds ${a.seconds} < 1")
    require(Set("0", "1").contains(get("trace")), "--trace must be 0 or 1")
    a
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** Outcome of one run: the timed operations attempted and failed, the
  * pages whose text differs from the golden, and the metrics.
  */
final case class Outcome(attempted: Int, failed: Int, mismatched: Long, metrics: Seq[Metric]) {
  metrics.foreach(m => require(Stats.validName(m.name), s"bad metric name ${m.name}"))
  def correct: Boolean = failed == 0 && mismatched == 0

  def json: String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)
    val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

object Main {

  def main(argv: Array[String]): Unit = {
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = Args.parse(argv)
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val startS = jvmS + (System.nanoTime() - t0) / 1e9
    val out =
      try new Run(spark, a, startS).execute()
      finally spark.stop()
    out.metrics.foreach(m => println(f"metric ${m.name}%-28s ${m.value}%14.4f ${m.unit}"))
    println(s"mismatched_pages ${out.mismatched} count")
    println(s"ops_failed_share ${Stats.ratio(out.failed, out.attempted)} ratio")
    println(out.json)
    sys.exit(if (out.correct) 0 else 1)
  }

  /** One JVM at local[P], P = available processors. Scratch space stays
    * under the work directory.
    */
  def session(work: Path): SparkSession = {
    val p = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$p]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      // loopback only: the run must not depend on the host name resolving
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", p.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // the page tables are tens of MB: split scans so every core gets work
      .config("spark.sql.files.maxPartitionBytes", "8m")
      // keep little job history: the status store would otherwise grow with
      // every job and show in heap.live_peak_mb
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** One benchmark run: set-up, the timed closed loop, the output checks, and
  * with tracing the per-layer probes. One Spark action is in flight at a
  * time.
  */
final class Run(spark: SparkSession, a: Args, startS: Double) {
  import spark.implicits._

  /** Set-up repetitions; setup_s reports their median. */
  private val SetupReps = 3
  /** Batch workloads: least rounds of (pass, pass, commit), even past
    * --seconds; the medians then rest on at least 6 passes and 3 commits.
    */
  private val MinRounds = 3
  /** recrawl: extract-all passes over its small base table. */
  private val RecrawlPasses = 7
  /** Full readLatest aggregates after the timed loop; read_latest_s is
    * their median.
    */
  private val ReadReps = 5
  /** Pages in the single-thread kernel sample (every n-th url by hash). */
  private val KernelSample = 1500
  /** recrawl: layer probes run before every n-th batch. */
  private val ProbeEvery = 10

  private val P = spark.sparkContext.defaultParallelism
  private val tables = a.work.resolve("tables")
  private val heap = new HeapPeak
  private val tracer = new Tracer
  private val censuses = ArrayBuffer.empty[OpCensus]
  private val commitPhases = ArrayBuffer.empty[ManifestTable.CommitPhases]
  private var attempted = 0
  private var failed = 0
  private var ops = 0
  private var roots = 0

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def freshRoot(): String = {
    roots += 1
    tables.resolve(s"t$roots").toString
  }

  private def drop(root: String): Unit = graft.Fs.deleteRecursively(Paths.get(root))

  private def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** One timed operation: `f` is timed, then `check` judges its output
    * untimed. An exception or a failed check counts the operation failed.
    * With tracing, the call is a span and a Spark census is taken.
    */
  private def op[T](name: String)(f: => T)(check: T => Boolean): Option[(T, Double)] = {
    attempted += 1
    ops += 1
    try {
      val (out, s) =
        if (!a.trace) seconds(f)
        else {
          val (r, c) = Census.around(spark)(tracer.span(name, ops)(seconds(f)))
          censuses += c
          r
        }
      if (check(out)) Some((out, s))
      else {
        failed += 1
        log(s"$name: output check failed")
        None
      }
    } catch {
      case NonFatal(e) =>
        failed += 1
        log(s"$name failed: $e")
        None
    }
  }

  private def pages(in: Inputs): Dataset[Page] = spark.read.parquet(in.pagesPath).as[Page]

  private def extractPass(in: Inputs): (Long, Long) = {
    val r = ExtractKernel.extract(pages(in))
      .agg(count(lit(1)), coalesce(sum(length(col("text"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def passOk(in: Inputs)(r: (Long, Long)): Boolean = r == ((in.golden.rows, in.golden.chars))

  /** Rows the latest commit's manifest records. */
  private def committedRows(root: String): Long = ManifestTable.latestStats(root).map(_.rows).sum

  /** A commit must record every page; the final table is compared row by
    * row after the loop.
    */
  private def commitOk(in: Inputs, root: String)(seq: Long): Boolean = {
    commitPhases += ManifestTable.lastCommitPhases(root)
    committedRows(root) == in.pages
  }

  /** A batch commits its new urls and at most its changed ones. */
  private def upsertOk(root: String)(seq: Long): Boolean = {
    commitPhases += ManifestTable.lastCommitPhases(root)
    val rows = committedRows(root)
    rows >= Workloads.Fresh && rows <= Workloads.Fresh + Workloads.Changed
  }

  /** Rows of `actual` whose text differs from `expected`, joined by url,
    * plus rows present on one side only.
    */
  private def mismatches(actual: DataFrame, expected: DataFrame): Long =
    actual.select(col("url"), col("text").as("got"))
      .join(expected.select(col("url"), col("text").as("want")), Seq("url"), "full_outer")
      .filter(!col("got").eqNullSafe(col("want")))
      .count()

  def execute(): Outcome = {
    graft.Fs.deleteRecursively(tables)
    val recrawl = a.workload == "recrawl"

    // ---- set-up, repeated; setup_s is JVM + session start plus the median
    var in: Inputs = null
    var base: String = null
    val setupS = (1 to SetupReps).map { _ =>
      seconds {
        in = Workloads.prepare(spark, a.workload, a.seed, a.work.resolve("data"))
        if (recrawl) {
          if (base != null) drop(base)
          base = freshRoot()
          ExtractJob.extractAll(pages(in), base, P)
          // warm the WARC parse and the diff against the committed base
          ExtractJob.diffChanged(ExtractKernel.extract(
            Workloads.segmentPages(spark, in.segments.head)), base).count()
          extractPass(in)
          Digest.of(ManifestTable.readLatest(spark, base))
        } else {
          // warm-up: one round of every timed operation; three of them
          // bring the JIT close to steady state
          extractPass(in)
          val warm = freshRoot()
          ExtractJob.extractAll(pages(in), warm, P)
          Digest.of(ManifestTable.readLatest(spark, warm))
          drop(warm)
        }
      }._2
    }
    log(f"set-up ${setupS.map(s => f"$s%.2f").mkString(" ")} s; session $startS%.2f s")

    // ---- timed closed loop
    heap.sample()
    heap.arm()
    val passS = ArrayBuffer.empty[Double]
    val commitS = ArrayBuffer.empty[Double]
    val liveBefore = ArrayBuffer.empty[Double]
    val ingestS = ArrayBuffer.empty[Double]
    val diffS = ArrayBuffer.empty[Double]
    var root: String = null
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9

    if (!recrawl) {
      var rounds = 0
      while (rounds < MinRounds || elapsed < a.seconds) {
        rounds += 1
        (1 to 2).foreach(_ => op("extract_pass")(extractPass(in))(passOk(in)).foreach(passS += _._2))
        // keep the last root that committed and passed its check; the
        // reads and the final comparison use that one
        val next = freshRoot()
        val done = op("commit")(ExtractJob.extractAll(pages(in), next, P))(commitOk(in, next))
        done.foreach(commitS += _._2)
        heap.sample()
        if (done.isEmpty) drop(next)
        else {
          if (root != null) drop(root)
          root = next
        }
      }
    } else {
      root = base
      (1 to RecrawlPasses).foreach(_ => op("extract_pass")(extractPass(in))(passOk(in)).foreach(passS += _._2))
      in.segments.zipWithIndex.foreach { case (seg, b) =>
        if (a.trace && b % ProbeEvery == 0) {
          ingestS += noop(WarcReader.readWarcs(spark, seg))
          diffS += seconds(ExtractJob.diffChanged(
            ExtractKernel.extract(Workloads.segmentPages(spark, seg)), root).count())._2
        }
        liveBefore += ManifestTable.liveSeqs(root).length
        op("upsert")(ExtractJob.upsertChanged(Workloads.segmentPages(spark, seg), root, P))(upsertOk(root))
          .foreach(commitS += _._2)
        if (b % ProbeEvery == ProbeEvery - 1) heap.sample()
      }
    }
    val want = if (recrawl) in.expected else in.golden
    val readS = (1 to ReadReps).flatMap(_ =>
      op("read_latest")(Digest.of(ManifestTable.readLatest(spark, root)))(_ == want).map(_._2))
    heap.sample()
    heap.disarm()
    def show(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(" ")
    log(f"timed phase $elapsed%.1f s; pass s: ${show(passS.toSeq)}; commit s: ${show(commitS.toSeq)}; " +
      s"read_latest s: ${show(readS)}")

    // ---- output check against the goldens, every row; when no table
    // committed or the check itself throws, every expected page counts
    // as mismatched
    val mismatched =
      try {
        require(root != null, "no commit succeeded")
        val expectedRows =
          if (recrawl) spark.read.parquet(in.expectedPath) else pages(in).select(col("url"), col("text"))
        val actual = if (recrawl) ManifestTable.readLatest(spark, root) else ManifestTable.read(spark, root)
        mismatches(actual, expectedRows)
      } catch {
        case NonFatal(e) =>
          log(s"output check failed: $e")
          want.rows
      }
    if (mismatched > 0) log(s"$mismatched pages differ from the golden text")

    val pagesPerS = Stats.ratio(in.pages.toDouble, if (passS.isEmpty) 0 else Stats.median(passS.toSeq))
    val endToEnd = Seq(
      Metric("setup_s", startS + Stats.median(setupS), "s"),
      Metric("extract_pages_per_s", pagesPerS, "pages/s"),
      Metric("commit_s", if (commitS.isEmpty) 0 else Stats.median(commitS.toSeq), "s"),
      Metric("read_latest_s", if (readS.isEmpty) 0 else Stats.median(readS), "s"))

    // the per-layer probes count as one more operation when they throw;
    // the run then still prints its end-to-end metrics
    val metrics =
      if (!a.trace) endToEnd
      else
        try layers(in, root, heap.peakMb, commitS.toSeq, liveBefore.toSeq, ingestS.toSeq, diffS.toSeq)
        catch {
          case NonFatal(e) =>
            attempted += 1
            failed += 1
            log(s"per-layer probes failed: $e")
            endToEnd
        }
    if (a.trace) tracer.writeJson(a.work.resolve(s"traces/${a.workload}.json"))
    if (root != null) drop(root)
    Outcome(attempted, failed, mismatched, metrics)
  }

  // ---- traced run: per-layer metrics -------------------------------------

  private def noop(df: DataFrame): Double =
    seconds(df.write.format("noop").mode("overwrite").save())._2

  private def median3(f: => Double): Double = Stats.median(Seq(f, f, f))

  private def dataBytes(root: String): Long = {
    val dir = Paths.get(ManifestTable.dataPath(root))
    if (!Files.exists(dir)) 0L
    else scala.util.Using.resource(Files.walk(dir)) { w =>
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }
  }

  private def layers(
      in: Inputs,
      root: String,
      heapPeakMb: Double,
      commitS: Seq[Double],
      liveBefore: Seq[Double],
      ingestS: Seq[Double],
      diffS: Seq[Double]): Seq[Metric] = {
    val recrawl = a.workload == "recrawl"

    // tracing overhead: untraced and traced passes, interleaved
    val plain = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    (1 to MinRounds).foreach { _ =>
      plain += seconds(extractPass(in))._2
      op("extract_pass")(extractPass(in))(passOk(in)).foreach(traced += _._2)
    }
    val overhead = Stats.ratio(Stats.median(traced.toSeq) - Stats.median(plain.toSeq), Stats.median(plain.toSeq))

    // single-thread kernel profile over a fixed hash sample of the table
    val n = in.pages
    val sample = pages(in)
      .filter(pmod(xxhash64(col("url")), lit(math.max(1L, n / KernelSample))) === 0)
      .collect().toIndexedSeq.sortBy(_.url)
    val prof = KernelTrace.profile(sample, reps = 3, tracer, firstOp = ops + 1)
    ops += sample.length
    if (prof.diverged > 0) {
      log(s"kernel trace diverged from extractOne on ${prof.diverged} pages")
      failed += 1
    }
    def layer(name: String) = prof.layers(name)

    // Spark-side layers, each its own action into the noop sink
    val cols = Seq("url", "warc_ts", "html", "lang").map(col)
    val scanS = median3(noop(spark.read.parquet(in.pagesPath).select(cols: _*)))
    val deserS = median3(noop(spark.read.parquet(in.pagesPath).select(cols: _*).as[graft.PageIn]
      .map(identity).toDF()))
    val stageS = median3(noop(ExtractKernel.extract(pages(in)).toDF()))
    val readS = seconds(Digest.of(ManifestTable.read(spark, root)))._2

    // WARC parse, single thread, over every segment
    val (records, parseS) =
      if (!recrawl) (0L, 0.0)
      else seconds(in.segments.map(s => WarcReader.parseWarc(Files.readAllBytes(Paths.get(s))).length.toLong).sum)
    val committedRows =
      if (!recrawl) 0L else ManifestTable.read(spark, root).count() - in.pages
    val fetched = in.segments.length.toLong * in.segmentRecords
    val inputBytes = in.inBytes + (if (recrawl) in.segmentBytes else 0L)

    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def cmed(f: OpCensus => Double) = if (censuses.isEmpty) 0.0 else Stats.median(censuses.toSeq.map(f))
    def pmed(f: ManifestTable.CommitPhases => Double) = med(commitPhases.toSeq.map(f))

    Seq(
      Metric("kernel.pages_per_s_1t", prof.pagesPerS, "pages/s"),
      Metric("kernel.alloc_b_per_in_b", prof.allocPerInByte, "B/B"),
      Metric("kernel.coverage", prof.coverage, "ratio"),
      Metric("gzip.busy_s", layer("gzip").busyS, "s"),
      Metric("sniff.busy_s", layer("sniff").busyS, "s"),
      Metric("charset.busy_s", layer("charset").busyS, "s"),
      Metric("charset.mb_per_s", layer("charset").mbPerS, "MB/s"),
      Metric("charset.alloc_b_per_in_b", layer("charset").allocPerInByte, "B/B")) ++
      Seq("html", "pdf", "office").flatMap(l => Seq(
        Metric(s"$l.busy_s", layer(l).busyS, "s"),
        Metric(s"$l.mb_per_s", layer(l).mbPerS, "MB/s"),
        Metric(s"$l.alloc_b_per_in_b", layer(l).allocPerInByte, "B/B"),
        Metric(s"$l.failed_share", layer(l).failedShare, "ratio"))) ++ Seq(
      Metric("csv_rtf.busy_s", layer("csv_rtf").busyS, "s"),
      Metric("scan.s", scanS, "s"),
      Metric("scan.mb_per_s", Stats.ratio(in.inBytes / 1e6, scanS), "MB/s"),
      Metric("deser.s", deserS, "s"),
      Metric("stage.s", stageS, "s"),
      Metric("spark.parallel_eff", Stats.ratio(in.pages / Stats.median(plain.toSeq), P * prof.pagesPerS), "ratio"),
      Metric("spark.jobs", cmed(_.jobs.toDouble), "count"),
      Metric("spark.stages", cmed(_.stages.toDouble), "count"),
      Metric("spark.tasks", cmed(_.tasks.toDouble), "count"),
      Metric("spark.task_ms_max_over_p50", cmed(_.taskMaxOverP50), "ratio"),
      Metric("spark.gc_ms", cmed(_.gcMs.toDouble), "ms"),
      Metric("spark.shuffle_mb", cmed(_.shuffleBytes / 1048576.0), "MB"),
      Metric("spark.spill_mb", cmed(_.spillBytes / 1048576.0), "MB"),
      Metric("commit.stage_s", pmed(_.stage), "s"),
      Metric("commit.stats_s", pmed(_.stats), "s"),
      Metric("commit.move_s", pmed(_.move), "s"),
      Metric("commit.publish_s", pmed(_.publish), "s"),
      Metric("commit.out_b_per_in_b", Stats.ratio(dataBytes(root).toDouble, inputBytes.toDouble), "B/B"),
      Metric("warc.parse_mb_per_s", Stats.ratio(in.segmentBytes / 1e6, parseS), "MB/s"),
      Metric("warc.records", records.toDouble, "count"),
      Metric("upsert.ingest_s", med(ingestS), "s"),
      Metric("upsert.diff_s", med(diffS), "s"),
      Metric("upsert.committed_per_fetched", Stats.ratio(committedRows.toDouble, fetched.toDouble), "ratio"),
      Metric("upsert.ms_slope_per_commit",
        if (!recrawl || commitS.length != liveBefore.length) 0.0 else Stats.slope(liveBefore, commitS.map(_ * 1e3)),
        "ms/commit"),
      Metric("table.live_commits", ManifestTable.liveSeqs(root).length.toDouble, "count"),
      Metric("read.s", readS, "s"),
      Metric("heap.live_peak_mb", heapPeakMb, "MB"),
      Metric("trace.overhead_share", overhead, "ratio"))
  }
}
