package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

/** Barrier lifetimes are per thread: one thread's `releaseAll` frees its
  * own barriers and memo entries, never those another thread sharing the
  * session still reads.
  */
class CheckpointScopeSpec extends SparkSpecBase {

  test("releaseAll on one thread leaves another thread's Dedup barriers readable") {
    val built, released = new CountDownLatch(1)
    @volatile var failure: Option[Throwable] = None
    val other = new Thread(() => {
      try {
        assert(built.await(5, TimeUnit.MINUTES))
        assert(llm.Corpus.corpusPipeline(spark, sfDir).count() > 0)
        Checkpoints.releaseAll()
      } catch { case t: Throwable => failure = Some(t) }
      finally released.countDown()
    })
    other.start()
    try {
      // reads the toks/shingles barriers this thread builds and memoises
      val held = llm.Dedup.minhashSignatures(spark, sfDir)
      built.countDown()
      assert(released.await(5, TimeUnit.MINUTES))
      failure.foreach(t => fail("corpus pipeline thread failed", t))
      assert(held.collect().nonEmpty)
    } finally {
      built.countDown()
      other.join()
      Checkpoints.releaseAll()
    }
  }
}
