package graft.operators

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class OpCacheSpec extends AnyFunSuite with SparkSpec {
  private def frame(tag: Long) = spark.range(0, 1000).withColumn("tag", lit(tag))
  private def cached(df: DataFrame) =
    spark.sharedState.cacheManager.lookupCachedData(df.asInstanceOf[classic.Dataset[_]])

  test("a call over a live entry's plan keeps that entry's cache") {
    val cache = new OpCache(1)
    val first = cache(frame(1L))
    assert(first.count() == 1000L)
    val entry = cached(first).get
    val second = cache(frame(1L))
    // the materialized entry still serves both calls
    assert(cached(second).exists(_ eq entry))
    assert(entry.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
    first.unpersist(blocking = true)
  }

  test("evicting an older duplicate does not unpersist the newer call's cache") {
    val cache = new OpCache(2)
    cache(frame(2L))
    val shared = cache(frame(2L))
    val other = cache(frame(3L))
    assert(cached(shared).isDefined)
    assert(cached(other).isDefined)
    shared.unpersist(blocking = true)
    other.unpersist(blocking = true)
  }
}
