package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.algos.{Coloring, KCores, Mis}
import graft.engine.Superstep

/** The fixpoint loops that run on [[Superstep.run]] keep its cost model:
  * one convergence aggregate per superstep, which also materializes the
  * lazily checkpointed state.
  */
class LoopDriverSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark

  /** Runs `f` in its own job group and returns (result, Spark jobs it ran).
    * A sentinel job in a second group flushes the listener queue: events
    * are delivered in order, so once the sentinel's start arrives every job
    * of `f` has been counted.
    */
  private def countJobs[T](s: SparkSession)(f: => T): (T, Int) = {
    val group = s"loop-jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)                     => jobs.incrementAndGet()
          case Some(g) if g == group + "-flush" => flushed.countDown()
          case _                                 => ()
        }
    }
    val sc = s.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try f finally sc.clearJobGroup()
      sc.setJobGroup(group + "-flush", "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener never flushed")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  test("ported loops run at most 2 Spark jobs per superstep") {
    // iterative algorithms run with AQE off (Jobs.session); a private
    // session keeps that setting away from concurrently running suites
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val ring = graft.core.Planted.ringOfCliques(s, nCliques = 24, s = 5)
      .withColumn("weight", lit(1.0))
    // fixed prep jobs: KCores materializes its two static edge views
    val cases = Seq[(String, Int, () => Superstep.RunResult)](
      ("kcores", 2, () => KCores.run(s, ring, maxIters = 200)),
      ("coloring", 0,
        () => Coloring.run(ring, 64, 42L, largestFirst = false)),
      ("mis", 0, () => Mis.run(ring)))
    for ((name, prep, run) <- cases) {
      val (res, jobs) = countJobs(s)(run())
      info(s"$name: $jobs jobs over ${res.supersteps} supersteps")
      assert(res.converged, name)
      assert(jobs <= prep + 2 * res.supersteps,
        s"$name: $jobs jobs for ${res.supersteps} supersteps")
    }
  }
}
