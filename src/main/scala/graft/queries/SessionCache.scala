package graft.queries

import org.apache.spark.sql.SparkSession

/** A build-once memo per (session, key) for the harness's ingest-time
  * artifacts (indexes, checkpointed corpora, bucketed tables). Keyed by
  * session because checkpointed data is bound to the session that built
  * it. Entries owned by stopped sessions are evicted before every
  * access: their checkpointed blocks are gone, and retaining the
  * (session, value) pair would pin dead sessions in a long-lived JVM
  * forever. */
private[queries] final class SessionCache[V] {
  private val cache = scala.collection.concurrent.TrieMap.empty[(SparkSession, String), V]

  def apply(s: SparkSession, key: String)(build: => V): V = {
    cache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
    cache.getOrElseUpdate((s, key), build)
  }
}
