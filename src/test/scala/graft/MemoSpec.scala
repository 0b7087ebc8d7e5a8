package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.storage.StorageLevel
import graft.sim.Similarity

/** The session-memo lifecycle: one build per key under concurrent
  * callers, `clear` releasing what a memo holds, `Memos.clearAll`
  * un-caching memoized frames so the next call rebuilds, unique memo
  * names, and q35 leaving no cached frame behind per call.
  */
class MemoSpec extends SparkSpec {

  test("8 concurrent callers of one key run the build exactly once") {
    val builds = new AtomicInteger
    val m = new Memo[String, Int]("spec.concurrent")
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map { _ =>
        pool.submit(() => {
          go.await()
          m("k") { builds.incrementAndGet(); Thread.sleep(50); 42 }
        })
      }
      go.countDown()
      assert(calls.map(_.get(30, TimeUnit.SECONDS)) == Seq.fill(8)(42))
    } finally pool.shutdown()
    assert(builds.get == 1)
    assert(m.size == 1)
  }

  test("clear releases every held value, then forgets it") {
    val released = scala.collection.mutable.ArrayBuffer[Int]()
    val m = new Memo[Int, Int]("spec.release", released += _)
    Seq(1, 2, 3).foreach(k => m(k)(k * 10))
    m.clear()
    assert(released.sorted == Seq(10, 20, 30))
    assert(m.size == 0)
    assert(m(1)(11) == 11, "a cleared key builds again")
  }

  test("Memos.clearAll un-caches the kNN graph; the next call rebuilds it") {
    val g = Similarity.approxKnnGraphCached(spark, sfDir, 3)
    val n = g.count()
    assert(g.storageLevel != StorageLevel.NONE)
    assert(Memos.held.contains("sim.knnGraph" -> 1))
    Memos.clearAll()
    assert(g.storageLevel == StorageLevel.NONE, "clearAll left the frame cached")
    assert(Memos.held.forall(_._2 == 0))
    val g2 = Similarity.approxKnnGraphCached(spark, sfDir, 3)
    assert(!(g2 eq g), "the memo served the cleared frame")
    assert(g2.storageLevel != StorageLevel.NONE)
    assert(g2.count() == n)
  }

  test("memo names are unique") {
    // touch every object that owns a memo: memos register on first init
    Seq[AnyRef](Tables, graph.Graph, text.TextAnalysis, multimodal.Binary,
      operators.Relational, operators.Incremental, dedup.Dedup, dedup.Dict,
      Similarity, ml.Whitening, ml.Centroids, ml.Gan)
    val names = Memos.held.map(_._1)
    assert(names.size >= 30)
    assert(names.distinct.size == names.size,
      s"duplicates: ${names.diff(names.distinct)}")
  }

  test("two q35 calls leave no more cached relations than one") {
    // a cached relation's RDD is named after its plan; local checkpoints
    // are unnamed and reclaimed by the context cleaner
    def cachedRelations: Int =
      spark.sparkContext.getPersistentRDDs.values.count(_.name != null)
    val q35 = SparkEntry.queries("q35_tsne_project")
    q35(spark, sfDir).count()
    val once = cachedRelations
    q35(spark, sfDir).count()
    assert(cachedRelations <= once)
  }

  test("the seed-cell assignments leave their memo build materialized") {
    Memos.clearAll()
    val cells = dedup.Dedup.seedCellAssignments(spark, sfDir)
    val cached = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(cells.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    assert(cached.exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded),
      "the consumers' self-join stages would both find the block missing")
  }
}
