package graft.perfbench

import graft.Page
import graft.fixtures.CorpusGen
import graft.sources.{Corpus, WarcReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One re-fetch in a recrawl batch: the page at `urlId` now serves the bytes
  * CorpusGen generates for `contentId` (equal ids: unchanged content).
  */
final case class Fetch(urlId: Long, contentId: Long)

/** A generated workload input, materialized under the data directory.
  *
  * @param pagesPath  parquet page table (url, warc_ts, html, text golden, lang)
  * @param pages      rows in the page table
  * @param inBytes    sum of raw payload bytes in the page table
  * @param golden     (rows, text chars, digest) the extraction of the page
  *                   table must reproduce
  * @param segments   recrawl `.warc.gz` segments, in send order
  * @param expectedPath parquet (url, text) of the table after every segment
  *                   is upserted; empty when there are no segments
  * @param expected   (rows, text chars, digest) of `expectedPath`
  * @param segmentRecords records per segment
  * @param segmentBytes bytes of all segment files
  */
final case class Inputs(
    pagesPath: String,
    pages: Long,
    inBytes: Long,
    golden: Digest,
    segments: IndexedSeq[String],
    expectedPath: String,
    expected: Digest,
    segmentRecords: Int,
    segmentBytes: Long)

/** Order-independent summary of a (url, text) set: row count, total text
  * characters, and a sum of per-row hashes of url and text.
  */
final case class Digest(rows: Long, chars: Long, hash: Long)

object Digest {
  /** Digest of a frame with `url` and `text` columns, in one Spark job. */
  def of(df: org.apache.spark.sql.DataFrame): Digest = {
    val r = df.agg(
      count(lit(1)),
      coalesce(sum(length(col("text"))), lit(0L)),
      coalesce(sum(pmod(xxhash64(col("url"), col("text")), lit(2147483647L))), lit(0L))
    ).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** The three workloads. Every input derives from (workload, seed): seeds
  * shift CorpusGen ids by a multiple of 40, the period of its format mix,
  * so each seed has other bytes and the same format histogram.
  */
object Workloads {

  val Names: Seq[String] = Seq("web_crawl", "doc_archive", "recrawl")

  /** Id span owned by one seed; a multiple of 40. */
  final val SeedStride = 40L << 24

  /** web_crawl pages: about 30 MB, so one extract-all pass at local[4]
    * takes about half a second and a run holds several passes and commits.
    */
  final val WebPages = 4000L

  /** doc_archive pages: PDF and zip kernels run about 4x slower per page
    * than the web mix, so fewer pages give a pass of similar length.
    */
  final val DocPages = 3000L

  /** CorpusGen families of doc_archive: PDF (20-26), CSV, RTF and the four
    * office formats (33-38). No HTML, text or degenerate pages.
    */
  val DocFamilies: Array[Int] = (20 to 26).toArray ++ (33 to 38)

  /** recrawl base table: committed in set-up; small, so a batch costs
    * little more than the commit protocol's fixed jobs.
    *
    * The recrawl traffic below (base size, batch size and the unchanged,
    * changed and new shares) is a placeholder picked for this benchmark, not
    * derived from a measured recrawl change rate. It fixes how much each
    * `upsertChanged` writes and how fast the live-commit count grows, so
    * recrawl figures compare one build of the engine with another on this
    * traffic only; they say nothing about a real crawl's change rate.
    */
  final val RecrawlBase = 1000L

  /** recrawl batches sent per run. Fixed, not time-bounded: the live-commit
    * count, and so every read, must match between the commits compared.
    * At about 1 s a batch on a 4-core box, 20 batches fill a 15 s run.
    * Placeholder, like the traffic shares; see [[RecrawlBase]].
    */
  final val RecrawlBatches = 20

  /** Records per batch: re-fetched unchanged, re-fetched with new content,
    * and urls not in the table. 6 of 24 rows commit per batch. Placeholder
    * shares; see [[RecrawlBase]].
    */
  final val Unchanged = 18
  final val Changed = 3
  final val Fresh = 3

  /** Id shift of the n-th new content version of a url; a multiple of 40,
    * so the new content keeps the url's format family.
    */
  private final val VersionStride = 40L << 16

  /** Bump when the layout or the sizes above change, so cached inputs
    * are regenerated.
    */
  final val LayoutVersion = 4

  def pageCount(workload: String): Long = workload match {
    case "web_crawl"   => WebPages
    case "doc_archive" => DocPages
    case "recrawl"     => RecrawlBase
    case other         => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** CorpusGen id of the i-th page of a workload's table. */
  def pageId(workload: String, seed: Long, i: Long): Long = {
    val base = seed * SeedStride
    if (workload == "doc_archive") base + 40L * (i / DocFamilies.length) + DocFamilies((i % DocFamilies.length).toInt)
    else base + i
  }

  /** The recrawl send plan: which url serves which content in each batch.
    * Pure function of the seed.
    */
  def recrawlPlan(seed: Long): IndexedSeq[IndexedSeq[Fetch]] = {
    val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val base = seed * SeedStride
    val current = scala.collection.mutable.HashMap.empty[Long, Long]
    def content(u: Long): Long = current.getOrElse(u, u)
    (0 until RecrawlBatches).map { b =>
      val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
      def pick(ok: Long => Boolean): Long = {
        var u = base + rnd.nextLong(RecrawlBase)
        while (picked.contains(u) || !ok(u)) u = base + rnd.nextLong(RecrawlBase)
        picked += u
        u
      }
      val same = (0 until Unchanged).map { _ => val u = pick(_ => true); Fetch(u, content(u)) }
      // degenerate pages (family 39) fail or are unsupported; the upsert
      // keeps the old row for those by design, so they are never changed
      val changed = (0 until Changed).map { _ =>
        val u = pick(id => id % 40 != 39)
        val c = content(u) + VersionStride
        current(u) = c
        Fetch(u, c)
      }
      val fresh = (0 until Fresh).map { j =>
        val u = base + RecrawlBase + b.toLong * Fresh + j
        current(u) = u
        Fetch(u, u)
      }
      same ++ changed ++ fresh
    }
  }

  private def digestLine(d: Digest): String = s"${d.rows} ${d.chars} ${d.hash}"
  private def parseDigest(s: String): Digest = {
    val p = s.trim.split(" ").map(_.toLong)
    Digest(p(0), p(1), p(2))
  }

  /** Cached inputs of other workloads and seeds kept besides the current. */
  private final val KeepEntries = 2

  /** Materialize (or reuse) the inputs of one workload and seed under
    * `dataRoot`. The cache key is the directory name.
    */
  def prepare(spark: SparkSession, workload: String, seed: Long, dataRoot: Path): Inputs = {
    val n = pageCount(workload)
    val key = s"$workload-seed$seed-n$n-gen${Corpus.GenVersion}-layout$LayoutVersion"
    val dir = dataRoot.resolve(key)
    val meta = dir.resolve("_SUCCESS")
    if (!Files.exists(meta)) {
      val t0 = System.nanoTime()
      evict(dataRoot, KeepEntries)
      graft.Fs.deleteRecursively(dir)
      Files.createDirectories(dir)
      val lines = generate(spark, workload, seed, n, dir)
      Files.write(meta, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      System.err.println(f"[perfbench] generated $key in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    Files.setLastModifiedTime(meta, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    val m = new String(Files.readAllBytes(meta), StandardCharsets.UTF_8).split("\n")
    val nSeg = m(3).trim.toInt
    Inputs(
      pagesPath = dir.resolve("pages").toString,
      pages = n,
      inBytes = m(0).trim.toLong,
      golden = parseDigest(m(1)),
      segments = (0 until nSeg).map(b => segmentPath(dir, b)),
      expectedPath = dir.resolve("expected").toString,
      expected = parseDigest(m(2)),
      segmentRecords = Unchanged + Changed + Fresh,
      segmentBytes = m(4).trim.toLong)
  }

  private def segmentPath(dir: Path, b: Int): String = dir.resolve(f"segments/batch-$b%05d.warc.gz").toString

  private def evict(dataRoot: Path, keep: Int): Unit = if (Files.isDirectory(dataRoot)) {
    val ls = Files.list(dataRoot)
    val entries = try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.toSeq
    } finally ls.close()
    val byAge = entries.sortBy(p =>
      if (Files.exists(p.resolve("_SUCCESS"))) Files.getLastModifiedTime(p.resolve("_SUCCESS")).toMillis else 0L)
    byAge.dropRight(keep).foreach(graft.Fs.deleteRecursively)
  }

  /** Returns the metadata lines: input bytes, golden digest, expected
    * digest, segment count, segment bytes.
    */
  private def generate(spark: SparkSession, workload: String, seed: Long, n: Long, dir: Path): Seq[String] = {
    import spark.implicits._
    // four scan splits per core for the batch tables; one file per core for
    // the recrawl base, whose commit then writes few files for every
    // batch's diff to read
    val files = (if (workload == "recrawl") 1 else 4) * spark.sparkContext.defaultParallelism
    spark.range(0L, n, 1L, files).as[Long]
      .map(i => CorpusGen.page(pageId(workload, seed, i)))
      .write.parquet(dir.resolve("pages").toString)
    val pages = spark.read.parquet(dir.resolve("pages").toString)
    val inBytes = pages.agg(sum(length(col("html")))).head().getLong(0)
    val golden = Digest.of(pages)
    if (workload != "recrawl") Seq(inBytes.toString, digestLine(golden), digestLine(Digest(0, 0, 0)), "0", "0")
    else {
      val plan = recrawlPlan(seed)
      val segDir = dir.resolve("segments").toString
      Files.createDirectories(dir.resolve("segments"))
      spark.sparkContext.parallelize(plan.indices, files).foreach { b =>
        val records = plan(b).map { f =>
          val p = CorpusGen.page(f.contentId)
          (CorpusGen.page(f.urlId).url, p.warc_ts, p.html)
        }
        Files.write(java.nio.file.Paths.get(segDir, f"batch-$b%05d.warc.gz"),
          WarcReader.writeWarcRecordGz(records))
        ()
      }
      val last = plan.flatten.foldLeft(Map.empty[Long, Long])((m, f) => m.updated(f.urlId, f.contentId))
      val baseIds = (0L until n).map(i => pageId(workload, seed, i))
      val finalState = baseIds.map(u => u -> last.getOrElse(u, u)) ++
        last.filter { case (u, _) => u >= seed * SeedStride + n }.toSeq
      spark.createDataset(finalState).repartition(files)
        .map { case (u, c) => (CorpusGen.page(u).url, CorpusGen.page(c).text) }
        .toDF("url", "text")
        .write.parquet(dir.resolve("expected").toString)
      val expected = Digest.of(spark.read.parquet(dir.resolve("expected").toString))
      val segBytes = plan.indices.map(b => Files.size(java.nio.file.Paths.get(segmentPath(dir, b)))).sum
      Seq(inBytes.toString, digestLine(golden), digestLine(expected), plan.length.toString, segBytes.toString)
    }
  }

  /** A segment as a page dataset (the `text` golden column is absent from
    * WARC input and not read by extraction).
    */
  def segmentPages(spark: SparkSession, segment: String): Dataset[Page] = {
    import spark.implicits._
    WarcReader.readWarcs(spark, segment)
      .select(col("url"), col("warc_ts"), col("html"), lit(null).cast("string").as("text"), col("lang"))
      .as[Page]
  }
}
