package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, sbt forks once). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** The number of Spark jobs `body` starts, counted by an `onJobStart`
    * listener. The listener bus is asynchronous, so a marker job runs
    * after `body`: once the listener has seen the marker, it has seen
    * every job started before it. */
  def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = s"jobsStartedBy-marker-${java.util.UUID.randomUUID}"
    val started = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(p =>
            p.getProperty("spark.job.description") == marker))
          markerSeen.countDown()
        else if (markerSeen.getCount > 0) started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markerSeen.await(60, TimeUnit.SECONDS), "the listener never saw the marker job")
      started.get
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  // maxTaskFailures=2: task retry enabled so sink specs can prove
  // retry-idempotency under a real mid-partition task death
  lazy val session: SparkSession = Sessions.local("4", "4", maxTaskFailures = 2)
}
