package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** [[Cached]]'s contract: what a scope releases, what it leaves alone. */
class CachedSpec extends SparkSpec {

  private def cm = spark.sharedState.cacheManager

  /** A fresh frame with its own plan (the salt keeps plans distinct). */
  private def frame(salt: Int): DataFrame =
    spark.range(20).withColumn("v", col("id") * salt)

  private def cached(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  test("a scope releases what it persisted, on return and on throw") {
    spark.catalog.clearCache()
    val rows = frame(2).rdd
    val n = Cached.scope {
      val a = Cached.persist(frame(1))
      Cached.persist(rows)
      assert(cached(a) && rows.getStorageLevel == Cached.Level)
      a.count() + rows.count()
    }
    n shouldBe 40L
    assert(cm.isEmpty, "a scoped frame outlived its scope")
    rows.getStorageLevel shouldBe StorageLevel.NONE
    intercept[IllegalStateException] {
      Cached.scope {
        Cached.persist(frame(3)).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(cm.isEmpty, "a throwing scope kept its frame")
  }

  test("a nested scope releases only its own frames") {
    spark.catalog.clearCache()
    val outer = frame(4)
    val inner = frame(5)
    Cached.scope {
      Cached.persist(outer)
      Cached.scope(Cached.persist(inner).count())
      assert(!cached(inner), "the inner scope kept its frame")
      assert(cached(outer), "the inner scope released the outer frame")
    }
    assert(!cached(outer))
    assert(cm.isEmpty)
  }

  test("a frame the caller cached first survives the scope") {
    spark.catalog.clearCache()
    val mine = frame(6).cache()
    Cached.scope(Cached.persist(frame(6)).count())
    assert(cached(mine), "the scope released the caller's cache entry")
    mine.unpersist(blocking = true)
  }

  test("outside a scope, persist leaves the entry to clearCache") {
    spark.catalog.clearCache()
    val df = Cached.persist(frame(7))
    df.storageLevel shouldBe Cached.Level
    Cached.scope(frame(8).count())
    assert(cached(df), "an unrelated scope released an unscoped frame")
    spark.catalog.clearCache()
    assert(cm.isEmpty)
  }

  test("a thread started inside a scope does not register into it") {
    spark.catalog.clearCache()
    val fromThread = frame(9)
    Cached.scope {
      val t = new Thread(() => { Cached.persist(fromThread); () })
      t.start()
      t.join()
    }
    assert(cached(fromThread), "the scope released another thread's frame")
    spark.catalog.clearCache()
  }
}
