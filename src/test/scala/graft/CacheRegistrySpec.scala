package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** The registry's release boundaries: a shared frame lives across
  * per-query clears until clearAll, and a batch scope releases exactly
  * the frames its own thread registered inside it.
  */
class CacheRegistrySpec extends SparkSpec {
  import spark.implicits._

  private def frame = Seq(1, 2, 3).toDF("x")
  private def cached(df: org.apache.spark.sql.DataFrame) =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE

  test("a shared frame survives clear(), is built once per key, clearAll frees it") {
    CacheRegistry.clearAll()
    val f = CacheRegistry.shared("vecs:/tmp/b")(frame)
    f.count()
    CacheRegistry.clear()
    assert(cached(f), "a per-query clear must not release a shared frame")
    var rebuilt = false
    val again = CacheRegistry.shared("vecs:/tmp/b") { rebuilt = true; frame }
    assert(!rebuilt, "a live key must not run its builder again")
    assert(again eq f)
    CacheRegistry.clearAll()
    assert(!cached(f), "clearAll must unpersist the shared frame")
  }

  test("two threads' scopes each release only their own frames, on their own exit") {
    CacheRegistry.clearAll()
    val (aIn, bIn, aOut) =
      (new CountDownLatch(1), new CountDownLatch(1), new CountDownLatch(1))
    def await(l: CountDownLatch) =
      assert(l.await(60, TimeUnit.SECONDS), "the other scope never arrived")
    val a = Future {
      val fa = frame.filter($"x" > 1)
      CacheRegistry.scoped {
        CacheRegistry.persist(fa) // registered before b's scope opens
        aIn.countDown(); await(bIn)
        assert(cached(fa))
      }
      aOut.countDown()
      fa
    }
    val b = Future {
      val fb = frame.filter($"x" > 2)
      await(aIn)
      CacheRegistry.scoped {
        CacheRegistry.persist(fb)
        bIn.countDown(); await(aOut) // a's scope has exited
        assert(cached(fb), "another thread's scope exit released this frame")
      }
      fb
    }
    val (fa, fb) = (Await.result(a, 2.minutes), Await.result(b, 2.minutes))
    assert(!cached(fa) && !cached(fb), "each scope releases its frames on exit")
    CacheRegistry.clearAll()
  }
}
