package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

/** The session memo registry's CONTRACT ([[SessionMemo]]): the frame
  * namespace's LRU bound is sized for two concurrent sfDirs' full
  * working sets (cap/2 keys each — the inventory is enumerated at the
  * cap's declaration); the eviction tests guard the policy for whoever
  * adds a working set or a 3rd concurrent dir, written against
  * [[SessionMemo.frames]]'s cap itself so a resize keeps the contract
  * checked, not the constants. The last test pins [[SessionMemo.clear]]
  * as the ONE cold reset: every namespace, one session only. */
class MemoPolicySpec extends SparkSpec {
  import spark.implicits._

  private val cap = SessionMemo.frames.cap

  private def ws(tag: String) =
    SessionMemo.frames(spark, s"memopolicy|$tag")(
      Seq((tag, 1L)).toDF("k", "n"))

  test("eviction unpersists: cycling past the cap never leaks cache entries") {
    // fill the map with cap+4 distinct working sets; the overflow
    // must leave every evicted DataFrame UNPERSISTED (eviction that
    // forgets to unpersist would pin CacheManager entries for the
    // session's lifetime — exactly the leak the memo exists to stop)
    val dfs = (0 until cap + 4).map(i => ws(s"evict$i"))
    val persisted = dfs.count(_.storageLevel != StorageLevel.NONE)
    assert(persisted <= cap, s"$persisted live entries > cap $cap")
    // the survivors are exactly the most recently used tail
    assert(dfs.takeRight(cap).forall(_.storageLevel != StorageLevel.NONE))
    assert(dfs.take(4).forall(_.storageLevel == StorageLevel.NONE))
  }

  test("re-request of an evicted key re-persists (no permanent demotion)") {
    (0 until cap + 4).foreach(i => ws(s"cycle$i"))
    val first = ws("cycle0") // was evicted above — must come back hot
    assert(first.storageLevel != StorageLevel.NONE)
  }

  test("three sfDirs' worth of keys cannot thrash the hot tail") {
    // 3 dirs × (cap/2) keys = 1.5·cap > cap: verify the policy
    // degrades as an LRU should — the LAST `cap` touched stay
    // persisted, so a verify / bench driver iterating dir-by-dir (not
    // interleaving) always finds its CURRENT dir's whole working set
    // hot. perDir tracks the cap's sizing contract (cap = 2 dirs'
    // working sets) so a resize keeps this spec meaningful.
    val dirs = Seq("dA", "dB", "dC")
    val perDir = cap / 2
    val byDir = dirs.map { d =>
      d -> (0 until perDir).map(i => ws(s"$d|k$i"))
    }.toMap
    val nEvicted = dirs.size * perDir - cap
    assert(nEvicted > 0, "spec assumes 3 dirs overflow the cap")
    // the `cap` most recent — all of dC and dB, plus dA's tail — hot
    assert(byDir("dC").forall(_.storageLevel != StorageLevel.NONE))
    assert(byDir("dB").forall(_.storageLevel != StorageLevel.NONE))
    assert(byDir("dA").drop(nEvicted)
      .forall(_.storageLevel != StorageLevel.NONE))
    // dA's head was evicted, and evicted means unpersisted, not orphaned
    assert(byDir("dA").take(nEvicted)
      .forall(_.storageLevel == StorageLevel.NONE))
  }

  test("clear(spark) drops every namespace's entries of that session only") {
    val other = spark.newSession()
    // distinct frame plans per session: the CacheManager is shared
    // across sessions and matches cached data by plan
    val frames = Seq(spark, other).zipWithIndex.map { case (s, i) =>
      Tables.tables(s, ("memopolicy", "t"))(s.range(1).toDF())
      Tables.spreads(s, ("memopolicy", 1))(1)
      Tables.counts(s, ("memopolicy", "t"))(1L)
      Similarity.queryVecMemo(s, "memopolicy")(Seq((0L, Seq(1.0))))
      Similarity.ivfCentMemo(s, "memopolicy")(Array((0L, IndexedSeq(1.0))))
      Similarity.kmeansCentMemo(s, "memopolicy")(IndexedSeq(IndexedSeq(1.0)))
      Similarity.pqBooksMemo(s, "memopolicy")(IndexedSeq.empty)
      Scale.memoizedShards(s, "memopolicy", 4, lit(1))(lit(0))
      Scale.memoizedCutsMulti(s, "memopolicy", 4, Seq(lit(1)))(Seq(Seq(0L)))
      SessionMemo.frames(s, "memopolicy|clear")(s.range(i + 1).toDF())
    }
    val namespaces = SessionMemo.namespaces
    assert(namespaces.forall(ns => ns.size(spark) > 0 && ns.size(other) > 0))
    val kept = namespaces.map(_.size(other))

    SessionMemo.clear(spark)
    assert(namespaces.forall(_.size(spark) == 0))
    assert(namespaces.map(_.size(other)) == kept)
    assert(frames.head.storageLevel == StorageLevel.NONE)
    assert(frames.last.storageLevel != StorageLevel.NONE)
    SessionMemo.clear(other)
  }
}
