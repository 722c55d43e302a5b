package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]] is the only session builder in `src/main`, the app
  * path leaves an existing session's confs alone, and a `local-cluster`
  * master hands this JVM's flags on to its executors. */
class GraftSessionSpec extends AnyFunSuite with SparkSuite {

  test("no src/main file but GraftSession.scala calls SparkSession.builder()") {
    val stream = Files.walk(Paths.get("src/main"))
    val offenders =
      try stream.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "GraftSession.scala" &&
          Files.readString(p).contains("SparkSession.builder()"))
        .map(_.toString).sorted
      finally stream.close()
    assert(offenders.isEmpty, s"build sessions through GraftSession: $offenders")
  }

  test("the app path keeps an existing session's confs and sets only the UTC timezone") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "7")
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val got = SparkSuite.sessionLock.synchronized {
      val prior = SparkSession.getActiveSession
      SparkSession.setActiveSession(s)
      try GraftSession.builder("graft-app-spec").getOrCreate()
      finally prior.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
    assert(got eq s)
    assert(s.conf.get("spark.sql.shuffle.partitions") === "7")
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("local-cluster executors get this JVM's --add-opens; local[N] adds nothing") {
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(_.startsWith("--add-opens="))
    // the build forks the test JVM with the JDK 17 opens Spark needs
    assert(opens.contains("--add-opens=java.base/sun.nio.ch=ALL-UNNAMED"), opens)
    val confs = GraftSession.executorConfs("local-cluster[2,1,1024]")
    assert(confs("spark.executor.extraJavaOptions").split(' ').toSeq === opens)
    assert(confs("spark.executor.extraClassPath") === sys.props("java.class.path"))
    assert(GraftSession.executorConfs("local[4]").isEmpty)
  }
}
