package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkTest extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  def edgesDf(edges: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    edges.toDF("src", "dst")
  }

  def vertsDf(vertices: Seq[Long], u: Set[Long] = Set.empty): DataFrame = {
    val s = spark
    import s.implicits._
    vertices.map(v => (v, u(v))).toDF("id", "isU")
  }

  /** Run `f` and return, in start order, each job it started as its
    * `callSite.short` label (null if unset) and the names of its stages. */
  def jobsOf[T](f: => T): (T, Vector[(String, Seq[String])]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add((Option(js.properties).map(_.getProperty("callSite.short")).orNull,
          js.stageInfos.map(_.name)))
    }
    sc.addSparkListener(listener)
    try {
      val r = f
      GraftShims.drainListenerBus(sc)
      (r, scala.jdk.CollectionConverters.IterableHasAsScala(jobs).asScala.toVector)
    } finally sc.removeSparkListener(listener)
  }

  /** Load a reference-format graph fixture from test resources. */
  def fixture(name: String): (Seq[(Long, Long)], Long, Set[Long]) = {
    val text = scala.io.Source.fromResource(s"graphs/$name").mkString
    GraphFixtures.parseLocal(text)
  }
}
