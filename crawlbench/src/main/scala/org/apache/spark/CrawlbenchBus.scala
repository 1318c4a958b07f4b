package org.apache.spark

/** Reaches the listener bus, which is private to Spark, so the traced run
  * can wait until every event of a crawl has reached its listener. */
object CrawlbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
