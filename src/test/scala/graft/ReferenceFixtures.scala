package graft

import java.nio.file.{Path, Paths}

/** The reference's citation fixtures, read from the test classpath
  * (src/test/resources/reference/). */
object ReferenceFixtures {

  /** Directory of the toy fixture: citations.txt (17 edges) and
    * published-dates.txt (11 nodes, 1992-1998). */
  lazy val toyDir: String = resource("citations.txt")
    .getOrElse(throw new IllegalStateException("toy fixture missing from the test classpath"))
    .getParent.toString

  /** The reference's golden `data/output/densities.csv` (11 rows,
    * 1992-2002). Only its 2002 row is recorded in this repository, so the
    * file is not vendored; the message says where to restore it. */
  def densities: Option[Path] = resource("densities.csv")

  val DensitiesMissing: String =
    "precondition failed: the reference's golden data/output/densities.csv is " +
      "missing; restore it as src/test/resources/reference/densities.csv"

  private def resource(name: String): Option[Path] =
    Option(getClass.getResource(s"/reference/$name")).map(u => Paths.get(u.toURI))
}
