package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import scala.jdk.CollectionConverters._

/** The Spark jobs a block starts on the calling thread. The block runs
  * under a job group of its own, and a marker job flushes the
  * asynchronous listener bus before the log is read. */
trait JobLog { self: SparkSpec =>

  /** The SQL execution id of each job `run` started, None for a job
    * outside any SQL action (AQE map-stage jobs share their action's id). */
  def jobsOf(run: => Unit): Seq[Option[String]] = {
    val group = s"job-log-${java.util.UUID.randomUUID()}"
    val marker = "marker"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          started.add((String.valueOf(e.properties.getProperty("spark.job.description")),
            Option(e.properties.getProperty("spark.sql.execution.id"))))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "logged")
      try {
        run
        sc.setJobDescription(marker)
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.asScala.exists(_._1 == marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(started.asScala.exists(_._1 == marker), "listener bus did not flush")
      started.asScala.toSeq.collect { case (d, id) if d != marker => id }
    } finally sc.removeSparkListener(listener)
  }

  /** The number of distinct SQL actions among `jobs`, failing on any job
    * that ran outside one. */
  def actionsOf(jobs: Seq[Option[String]]): Int = {
    assert(jobs.forall(_.isDefined), s"job outside any SQL action: $jobs")
    jobs.flatten.distinct.size
  }
}
