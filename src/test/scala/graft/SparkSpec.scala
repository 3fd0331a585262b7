package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (single JVM under Test/fork). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(s)
    // Build the analyzer now, before any suite registers an analyzer rule
    // on the extensions every newSession() shares, so this session stays
    // plain Spark whichever suite runs first.
    s.sessionState.analyzer
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"
}

/** Counts the Spark jobs a block launches from the calling thread. */
object JobCount {
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

  /** `body`'s result and the jobs it started, tagged by a job group set on
    * this thread. The listener bus delivers in order: once a fence job's
    * start arrives, every job `body` launched has been seen. */
  def of[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val starts = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id", "")).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val result = body
      sc.setJobGroup(group + "-fence", "fence")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      var jobs = 0
      var fenced = false
      while (!fenced) {
        val g = starts.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(g != null, "the fence job's start never reached the listener")
        if (g == group + "-fence") fenced = true
        else if (g == group) jobs += 1
      }
      (result, jobs)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
