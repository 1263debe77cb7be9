package graft.operators

import graft.spark.SparkTestBase

/** The dedup and embedding catalog queries do all of their work on every
  * call and leave no state in the session: none registers a frame with the
  * session's cache manager, so a repeated call (a timed rep) cannot read
  * what an earlier call cached. A frame one call reads more than once is
  * `localCheckpoint`ed, which no later query's plan can match. */
class NoSessionCacheSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  for ((name, query) <- (DedupOps.queries ++ EmbeddingOps.queries).toSeq.sortBy(_._1))
    test(s"$name leaves no cached data in the session") {
      spark.catalog.clearCache()
      query(spark, sfDir).collect()
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left cached frames")
    }
}
