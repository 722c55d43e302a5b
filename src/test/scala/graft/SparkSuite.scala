package graft

import org.apache.spark.sql.SparkSession

/** One shared local session across suites (getOrCreate dedupes). Specs
  * run on sf0.001 for speed — full DuckDB-oracle hash checks run at
  * sf0.01 via graft.Verify (see tools/verify.sh). */
trait SparkSuite {
  lazy val spark: SparkSession = SparkSuite.sessionLock.synchronized {
    // pinned at 4 partitions on any host; plan-string assertions read
    // PushedFilters/ReadSchema, which the default 100-char metadata
    // truncation would cut off mid-list
    GraftSession.local("graft-test", cpus = 4,
      confs = Map("spark.sql.maxMetadataStringLength" -> "10000"))
  }

  val SF: String = "/root/testdata/sf0.001"
}

object SparkSuite {
  /** Suites run in parallel inside the forked test JVM, and
    * [[ExtensionsSpec]] must clear the default session while it builds
    * its extensions-bearing one — without a lock, a concurrently
    * initializing suite can publish a fresh default session inside
    * that window and ExtensionsSpec's getOrCreate adopts it
    * (extensions-less → UNRESOLVED_ROUTINE). Every session
    * construction path in the test JVM takes this lock. */
  val sessionLock = new Object
}
