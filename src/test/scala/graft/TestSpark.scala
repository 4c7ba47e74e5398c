package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession =
    Graft.session(master = "local[4]", shufflePartitions = 4, appName = "graft-test")

  val Sf0001 = "/root/testdata/sf0.001"

  /** Path of a test resource on disk. */
  def resource(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  /** Run `body`, returning its result and the job descriptions ("" when
    * unset) of every job it started. A labelled sentinel job runs after
    * `body`; listener events arrive in order, so once the sentinel's
    * start is seen every earlier job has been counted, and a test can
    * assert that no job ran.
    */
  def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sentinel = s"jobsDuring sentinel ${System.nanoTime}"
    sc.addSparkListener(l)
    try {
      val out = body
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("spark.job.description", prev)
      val deadline = System.nanoTime + 30L * 1000000000L
      while (!descs.contains(sentinel) && System.nanoTime < deadline) Thread.sleep(20)
      assert(descs.contains(sentinel), "listener never saw the sentinel job")
      import scala.jdk.CollectionConverters._
      (out, descs.asScala.toSeq.takeWhile(_ != sentinel))
    } finally sc.removeSparkListener(l)
  }

  /** Execute (intended for small inputs) and return the FINAL AQE
    * physical plan text — the string form appends the pre-AQE
    * "Initial Plan", which must not be graded.
    */
  def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }
}
