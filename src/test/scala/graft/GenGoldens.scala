package graft

/** One-shot generator for the synthesized-graph golden files under
  * src/test/resources/goldens/ (VERDICT r2 #7): runs the real CLI
  * diameter task on the SynthCitations graph for the reference's golden
  * years and copies each sorted CSV out. The synthesizer is
  * deterministic, so these files are stable; CitationScaleSpec pins the
  * CLI output against them byte-for-byte on every test run.
  *
  *   sbt "Test/runMain graft.GenGoldens"
  */
object GenGoldens {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val out = java.nio.file.Files.createTempDirectory("goldens").toString
    // 1992-1994 by default: the synthesized graph is randomly wired, so
    // its 90%-coverage BFS carries far more pairs than the real citation
    // graph at the same node count (random graphs have ~log n diameter);
    // 1995+ exceeds the 8g test JVM. The REAL graph's 1995-1997 runs are
    // what the reference published; its hop structure can't be matched
    // here (missing blob), so pinning stops where the synthetic analogue
    // is tractable.
    val years = if (args.nonEmpty) args.map(_.toInt).toSeq else (1992 to 1994)
    for (y <- years) {
      val t0 = System.nanoTime()
      Main.runTask(spark, "diameter", SynthCitations.inDir, out, Seq(y))
      println(f"[goldens] diameter_$y in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val dst = java.nio.file.Paths.get("src/test/resources/goldens")
    java.nio.file.Files.createDirectories(dst)
    for (y <- years) {
      val part = new java.io.File(s"$out/diameter_$y").listFiles()
        .filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.copy(part.toPath, dst.resolve(s"diameter_$y.csv"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      println(s"[goldens] wrote ${dst.resolve(s"diameter_$y.csv")}")
    }
    spark.stop()
  }
}
