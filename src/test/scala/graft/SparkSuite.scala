package graft

import org.apache.spark.sql.SparkSession

/** Shared session for test suites — one lazy session per JVM (suites run
  * sequentially; CatalogSpec manages its own Hive-enabled session and
  * restores a clean slate afterwards). The width is fixed at local[4]:
  * the mains' `SPARK_GRAFT_CPUS` never reaches the suites.
  *
  * `SPARK_GRAFT_SHUFFLE` overrides the shuffle partition count (default
  * 4) — the partitioning-invariance audit re-runs the whole suite at the
  * box width (32) to prove plan shapes and result hashes don't depend on
  * the global parallelism knob (README "Invariance audit"). */
trait SparkSuite {
  lazy val spark: SparkSession = GraftSession.builder(4)
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "4"))
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}
