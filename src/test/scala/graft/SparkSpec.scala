package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the test
  * run fast; suites must not mutate session-global state destructively). */
object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(cores = 4, appName = "graft-test")

  /** The smallest generated scale factor (TESTDATA.md). */
  val Sf0001: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body`'s result and the ids of the RDDs it created and unpersisted: one
    * per pin it filled and released. RDD ids only grow, and older ids are
    * left out: the ContextCleaner posts the same event when it collects an
    * RDD that an earlier test pinned. */
  def releasedRdds[T](body: => T): (T, Set[Int]) = {
    val firstId = spark.sparkContext.emptyRDD[Int].id
    val ids = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = ids.add(e.rddId)
    }
    spark.sparkContext.addSparkListener(listener)
    val result = try { val r = body; ListenerBusDrain(spark.sparkContext); r }
    finally spark.sparkContext.removeSparkListener(listener)
    (result, ids.asScala.toSet.filter(_ > firstId))
  }
}
