package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** PerAppCache's keying and eviction. This suite runs in its own JVM and
  * starts (and stops) its own sessions instead of the shared one. */
class PerAppCacheSpec extends AnyFunSuite {

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-perappcache")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // a persisted, materialized relation; `n` keeps each plan distinct so
  // the CacheManager does not fold two builds into one cached copy
  private def persisted(s: SparkSession, n: Int): DataFrame = {
    val df = s.range(n).toDF("id").persist()
    df.count()
    df
  }

  test("one build per (site, app, dir); evictAll unpersists every entry, tuples included") {
    val s = session()
    var builds = 0
    def rel(site: String, d: String): DataFrame =
      PerAppCache.cachedPerApp(site, s, d) {
        builds += 1
        persisted(s, 10 + builds)
      }
    val a = rel("PerAppCacheSpec.a", "d1")
    assert(rel("PerAppCacheSpec.a", "d1") eq a)
    assert(builds == 1)
    val b = rel("PerAppCacheSpec.b", "d1")
    assert(builds == 2 && !(b eq a))
    val a2 = rel("PerAppCacheSpec.a", "d2")
    assert(builds == 3 && !(a2 eq a))

    def pair(): (DataFrame, DataFrame) =
      PerAppCache.cachedPerApp("PerAppCacheSpec.pair", s, "d1") {
        builds += 1
        (s.range(3).toDF("x"), persisted(s, 100))
      }
    val p = pair()
    assert(pair() eq p)
    assert(builds == 4)
    assert(s.sparkContext.getPersistentRDDs.size == 4)

    PerAppCache.evictAll()
    assert(s.sparkContext.getPersistentRDDs.isEmpty)
    val again = rel("PerAppCacheSpec.a", "d1")
    assert(builds == 5 && !(again eq a))
    assert(!(pair() eq p))
    assert(builds == 6)
    PerAppCache.evictAll()
  }

  test("after stop() and a new session, the old app's entry is dropped and rebuilt") {
    val s1 = session()
    var builds = 0
    def rel(s: SparkSession): DataFrame =
      PerAppCache.cachedPerApp("PerAppCacheSpec.app", s, "d") {
        builds += 1
        persisted(s, 7)
      }
    val first = rel(s1)
    assert(rel(s1) eq first)
    val app1 = s1.sparkContext.applicationId
    s1.stop()
    assert(first.storageLevel != StorageLevel.NONE)

    val s2 = session()
    assert(s2.sparkContext.applicationId != app1)
    val second = rel(s2)
    assert(builds == 2 && !(second eq first))
    // the stopped app's entry was dropped: its relation is uncached
    assert(first.storageLevel == StorageLevel.NONE)
    assert(rel(s2) eq second)
    assert(s2.sparkContext.getPersistentRDDs.size == 1)
    PerAppCache.evictAll()
    assert(s2.sparkContext.getPersistentRDDs.isEmpty)
    s2.stop()
  }
}
