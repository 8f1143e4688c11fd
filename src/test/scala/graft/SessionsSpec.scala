package graft

import org.apache.spark.sql.SparkSession

/** The entry points' session factory: the SQL confs the DuckDB oracles
  * read, and a master that spark-submit injected is left alone. */
class SessionsSpec extends SparkSpec {

  /** The builder's pending options (Scala-protected, public in bytecode). */
  private def options(b: SparkSession.Builder): Map[String, String] =
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.mutable.Map[String, String]].toMap

  test("a factory session carries the SQL confs the oracles depend on") {
    // a new session reads the factory's confs, not what a spec set since
    val conf = spark.newSession().conf
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") === "false")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.sparkContext.master === "local[4]")
  }

  test("an injected spark.master is not overridden") {
    assert(options(Sessions.builder(3))("spark.master") === "local[3]")
    val prior = sys.props.get("spark.master")
    sys.props("spark.master") = "spark://injected:7077"
    try {
      val o = options(Sessions.builder(3))
      assert(!o.contains("spark.master"))
      assert(o("spark.sql.shuffle.partitions") === "3")
    } finally prior match {
      case Some(v) => sys.props("spark.master") = v
      case None => sys.props -= "spark.master"
    }
  }
}
