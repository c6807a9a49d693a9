package graft.perfbench

import graft.fixtures.CorpusGen

/** Unit tests of the benchmark's helpers: run with
  * `python3 perfbench/run.py --selftest`. Exits non-zero on any failure.
  */
object SelfTest {

  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def throws(f: => Any): Boolean = try { f; false } catch { case _: IllegalArgumentException => true }

  private def digest(bytes: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    bytes.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }

  /** SHA-256 over the raw bytes and golden text of a workload's first pages. */
  private def pagesDigest(workload: String, seed: Long, n: Int): String =
    digest((0 until n).iterator.flatMap { i =>
      val p = CorpusGen.page(Workloads.pageId(workload, seed, i))
      Iterator(p.url.getBytes("UTF-8"), p.html, p.text.getBytes("UTF-8"))
    })

  private def families(workload: String, seed: Long, n: Int): Map[Int, Int] =
    (0 until n).map(i => (Workloads.pageId(workload, seed, i) % 40).toInt).groupBy(identity).view.mapValues(_.size).toMap

  def main(args: Array[String]): Unit = {
    check("median of odd and even counts, in any order") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 &&
      Stats.median(Seq(5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 9.0, 8.0, 7.0, 6.0)) == 5.5
    }
    check("median rejects empty input") {
      throws(Stats.median(Nil))
    }
    check("least-squares slope") {
      val x = Seq(1.0, 2.0, 3.0, 4.0)
      math.abs(Stats.slope(x, x.map(v => 3 * v + 7)) - 3.0) < 1e-12 &&
      math.abs(Stats.slope(x, Seq(1.0, 3.0, 2.0, 4.0)) - 0.8) < 1e-12 &&
      Stats.slope(Seq(2.0, 2.0), Seq(1.0, 5.0)) == 0.0
    }
    check("ratio reads 0 for a zero denominator") {
      Stats.ratio(5, 0) == 0.0 && Stats.ratio(6, 3) == 2.0
    }
    check("metric-name pattern") {
      Seq("setup_s", "html.busy_s", "spark.task_ms_max_over_p50", "kernel.pages_per_s_1t", "a-1.b_2")
        .forall(Stats.validName) &&
      !Seq("", "_x", ".x", "a b", "a/b", "é", "x" * 65).exists(Stats.validName)
    }
    check("span self time subtracts covered child time") {
      val spans = Seq(
        Span(0, "op", 0, 100, -1, 1),
        Span(1, "a", 10, 30, 0, 1),
        Span(2, "b", 20, 50, 0, 1),
        Span(3, "a", 60, 70, 0, 1))
      val self = Tracer.selfSeconds(spans)
      math.abs(self("op") * 1e9 - 50) < 1e-6 && math.abs(self("a") * 1e9 - 30) < 1e-6 &&
      math.abs(self("b") * 1e9 - 30) < 1e-6
    }
    check("same seed gives the same digest") {
      Workloads.Names.forall(w => pagesDigest(w, 7, 80) == pagesDigest(w, 7, 80))
    }
    check("another seed gives other bytes") {
      Workloads.Names.forall(w => pagesDigest(w, 7, 80) != pagesDigest(w, 8, 80))
    }
    check("another seed keeps the format histogram") {
      Workloads.Names.forall(w => families(w, 7, 520) == families(w, 8, 520))
    }
    check("doc_archive holds only PDF, office, CSV and RTF families") {
      families("doc_archive", 3, 520).keySet == Workloads.DocFamilies.toSet
    }
    check("recrawl plan is a pure function of the seed") {
      Workloads.recrawlPlan(5) == Workloads.recrawlPlan(5) && Workloads.recrawlPlan(5) != Workloads.recrawlPlan(6)
    }
    check("recrawl batches hold distinct urls and the fixed shares") {
      val firstNew = 5 * Workloads.SeedStride + Workloads.RecrawlBase
      val plan = Workloads.recrawlPlan(5)
      plan.length == Workloads.RecrawlBatches && plan.forall { b =>
        b.map(_.urlId).distinct.length == b.length &&
        b.count(_.urlId >= firstNew) == Workloads.Fresh &&
        b.length == Workloads.Unchanged + Workloads.Changed + Workloads.Fresh
      }
    }

    if (failures > 0) {
      println(s"$failures check(s) failed")
      sys.exit(1)
    }
    println("all checks passed")
  }
}
