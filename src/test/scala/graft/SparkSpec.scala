package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // the library's documented session shape (Engine.session): native
    // expressions + the rowImages feed rewrite resolve
    .withExtensions(new graft.functions.GraftExtensions)
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The job group (`""` for none) of every Spark job started, on any
    * thread, while `body` ran. A marker job closes the window: the
    * listener bus delivers events in order, so once the marker's start
    * arrives every job `body` launched has been seen.
    */
  def jobGroupsDuring(body: => Any): Seq[String] = {
    import java.util.concurrent.TimeUnit.SECONDS
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    val marker = s"spec-marker-${java.util.UUID.randomUUID()}"
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val seen = scala.collection.mutable.ListBuffer.empty[String]
      var g = groups.poll(60, SECONDS)
      while (g != null && g != marker) { seen += g; g = groups.poll(60, SECONDS) }
      assert(g == marker, "the listener bus did not deliver the marker job within 60 s")
      seen.toList
    } finally sc.removeSparkListener(listener)
  }
}
