package graft.streaming

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Spark's own per-batch progress for the streaming queries that one
  * piece of code runs: a `StreamingQueryListener` on the session,
  * registered around the call. */
object StreamProgress {

  private final class Recorder extends StreamingQueryListener {
    val started = ConcurrentHashMap.newKeySet[UUID]()
    val terminated = ConcurrentHashMap.newKeySet[UUID]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

    override def onQueryStarted(e: QueryStartedEvent): Unit = { started.add(e.id); () }
    override def onQueryProgress(e: QueryProgressEvent): Unit = { progress.add(e.progress); () }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.synchronized {
      terminated.add(e.id)
      terminated.notifyAll()
    }
  }

  /** `body`'s result and the progress of every micro-batch of every
    * streaming query started while it ran, in arrival order. The started
    * event is delivered synchronously by `start()`; progress and
    * termination come on the asynchronous listener bus, which delivers
    * one query's events in order, so a query's batches are all recorded
    * once its terminated event has arrived. */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[StreamingQueryProgress]) = {
    val rec = new Recorder
    spark.streams.addListener(rec)
    try {
      val out = body
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      rec.terminated.synchronized {
        while (!rec.started.asScala.forall(rec.terminated.contains) &&
            System.nanoTime() < deadline)
          rec.terminated.wait(100L)
      }
      val pending = rec.started.asScala.filterNot(rec.terminated.contains)
      assert(pending.isEmpty, s"no terminated event within 60 s for queries $pending")
      (out, rec.progress.asScala.filter(p => rec.started.contains(p.id)).toSeq)
    } finally spark.streams.removeListener(rec)
  }
}
