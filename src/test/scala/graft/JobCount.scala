package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBus

/** The number of Spark jobs `body` launches. Only jobs carrying this
  * call's local-property tag count (threads `body` starts inherit it),
  * so a stream left running by another suite cannot add to the tally;
  * the listener bus is drained before the listener is attached and
  * before it is read. */
object JobCount {
  private val Tag = "graft.test.jobcount"
  private val calls = new AtomicInteger()

  def apply(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"call-${calls.incrementAndGet()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) == tag)) n.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, tag)
    try { body; ListenerBus.drain(sc) }
    finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
    n.get
  }
}
