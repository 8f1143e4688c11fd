package graft

import scala.jdk.CollectionConverters._

import graft.analytics.CitationAnalytics
import graft.sources.{CitationLoaders, Sinks}

/** CSV sink behavior (K1/K2): single file, header, sorted content. */
class SinksSpec extends SparkSpec {

  test("saveSortedAsCsv: one part file, header, globally sorted rows") {
    val fixtures = ReferenceFixtures.toyDir
    val density = CitationAnalytics.density(
      CitationLoaders.loadCitations(spark, s"$fixtures/citations.txt"),
      CitationLoaders.loadPublishedDates(spark, s"$fixtures/published-dates.txt"))
    val tmp = java.nio.file.Files.createTempDirectory("sink").toString
    Sinks.saveSortedAsCsv(density, tmp, "densities", "year")

    val dir = new java.io.File(s"$tmp/densities")
    val parts = dir.listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length === 1)
    val lines = java.nio.file.Files.readAllLines(parts.head.toPath).asScala.toSeq
    assert(lines.head === "year,n(t),e(t)")
    assert(lines.tail.head === "1993,3,2")
    assert(lines.tail.last === "1998,11,17")
    val years = lines.tail.map(_.split(",")(0).toInt)
    assert(years === years.sorted)
  }
}
