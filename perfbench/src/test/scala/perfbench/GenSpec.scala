package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** Generate every input file of both workloads into a fresh directory
    * and return (relative path -> bytes). */
  private def generate(seed: Long): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-gen")
    try {
      Gen.revisionFile(dir.resolve("crawl"), seed, 4, -1, 0 until 3, 0, withQuality = false)
      for (c <- 3 until 6) Gen.crawlFile(dir.resolve("crawl"), seed, 4, c, withQuality = c > 3)
      Gen.revisionFile(dir.resolve("crawl"), seed, 4, 5, Seq(3, 4), 5, withQuality = true)
      Gen.dashboardFiles(dir.resolve("dashboard"), seed, 4, 3)
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        dir.relativize(p).toString -> Files.readAllBytes(p).toSeq
      }.toMap
      finally s.close()
    } finally Bench.deleteTree(dir)
  }

  test("one seed generates byte-identical inputs; another seed differs") {
    val a = generate(7)
    val b = generate(7)
    val c = generate(8)
    assert(a.size == 7)
    assert(a == b)
    assert(a.keySet == c.keySet)
    assert(a.keySet.forall(k => k.startsWith("dashboard/regions") || a(k) != c(k)))
  }

  test("vendor dialect: decimal comma, thousands dots, N.A. gaps") {
    assert(Gen.germanNumber(123456789L) == "1.234.567,89")
    assert(Gen.germanNumber(5L) == "0,05")
    val csv = Gen.energyCsv(1, 3, Seq(0), 0, withQuality = true)
    val lines = csv.split("\n")
    assert(lines.head == Gen.CsvHeader + ";Qualität")
    assert(lines.length == 1 + 3 * Gen.SlotsPerDay)
    assert(lines(1).startsWith("01.01.2024;00:00;UTC;s000;"))
    val gaps = (0 until 200).count(d =>
      Gen.pointCents(1, 0, d, 0, 0).isEmpty)
    assert(gaps > 0 && gaps < 20) // about one point in 61
  }

  test("a revision changes every published value") {
    for (d <- 0 until 5; slot <- 0 until Gen.SlotsPerDay) {
      val (a, b) = (Gen.pointCents(3, 1, d, slot, 0), Gen.pointCents(3, 1, d, slot, 9))
      assert(a.isDefined == b.isDefined)
      assert(a.isEmpty || a != b)
    }
  }

  test("vectors are seeded, in [0, 1), and differ between seeds") {
    val a = (0 until 8).map(Gen.vector(3, _, 16).toSeq)
    assert(a == (0 until 8).map(Gen.vector(3, _, 16).toSeq))
    assert(a != (0 until 8).map(Gen.vector(4, _, 16).toSeq))
    assert(a.flatten.forall(x => x >= 0f && x < 1f))
  }
}
