package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One keyed memo for the relations the fixture modules build once per
  * (Spark application, SF dir). An entry's key is `(site, applicationId,
  * dir)`. The site is a string literal named `"<Module>.<relation>"`
  * (`"DedupOps.shingles"`, `"StreamingOps.x42Gate"`), and each name is
  * used at exactly one call site, so the site is also the name a per-site
  * report can key on. Keyed caching avoids the single-slot hazard of
  * unpersisting a relation a concurrent or lazily-built query still
  * needs, and the application-id component keeps a relation bound to a
  * stopped session from leaking into a new one: entries under other
  * (i.e. stopped) app ids are evicted on each access (one live app per
  * JVM in practice). Fixture-only: the parametric API
  * (graft.api.TrainingData) never persists internally — callers own
  * caching there via the `FromShingles`/`FromWeights` variants.
  *
  * Footprint bound: 45 sites per (app, dir) across DedupOps, VectorOps,
  * TextOps, SamplingOps, ReplayQueries and StreamingOps. Two of them
  * (`TextOps.bpe`, `TextOps.bpeBatched`) hold a (merge table, vocab) pair
  * from one training run; the 13 StreamingOps gates hold a read of their
  * parquet readout and persist nothing. The persisted relations (shingles
  * ~100k rows, minhash signatures ~500×16 longs, pairs, labels, tf-idf
  * weights, normed embeddings, …) are a few MB at sf0.1, linear in SF.
  * All use `Dataset.persist()`'s default StorageLevel (MEMORY_AND_DISK:
  * overflow spills, never OOMs). An evicted value is unpersisted on
  * removal, every Dataset inside a tuple value included, and
  * [[evictAll]] lets a long-lived session (an SF sweep, a bench between
  * phases) drop every cached relation at once. */
private[graft] object PerAppCache {
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), AnyRef]

  // best-effort: a relation bound to a stopped SparkContext throws on
  // unpersist, and blocks already freed with the app — swallow THAT, the
  // map entry removal is the part that must not fail. NonFatal only:
  // OOM/interrupt must propagate, not vanish mid-eviction
  private def unpersist(v: Any): Unit = v match {
    case ds: Dataset[_] =>
      try ds.unpersist()
      catch { case scala.util.control.NonFatal(_) => () }
    case p: Product => p.productIterator.foreach(unpersist)
    case _ => ()
  }

  private def drop(k: (String, String, String)): Unit =
    memo.remove(k).foreach(unpersist)

  /** The value `build` returns for `(site, s's app, d)`, built on the
    * first access and reused after. A value is a DataFrame or a tuple of
    * them. */
  def cachedPerApp[T <: AnyRef](site: String, s: SparkSession, d: String)(
      build: => T): T = {
    val appId = s.sparkContext.applicationId
    memo.keys.filter(_._2 != appId).foreach(drop)
    memo.getOrElseUpdate((site, appId, d), build).asInstanceOf[T]
  }

  /** Persist + materialize, respreading ONLY when the materialized
    * relation landed on fewer partitions than the session's parallelism.
    *
    * Why (r17, measured): AQE sizes post-shuffle partitions by BYTES, so
    * a narrow count/signature relation ends up as ONE cached partition
    * at fixture scale — and every consumer's map-side pass over the
    * cache (tokenize-free, but hashing/metric/aggregation work) runs on
    * one core (the x150 candidate cache ran its whole Damerau–
    * Levenshtein verification single-threaded: 1.9 s → 0.8 s respread).
    * The respread is CONDITIONAL on the observed partition count, so at
    * production scale — where the same relation materializes onto many
    * partitions — no extra shuffle ever happens; this is a small-data
    * remedy that vanishes at 100 TB rather than a local[32] constant.
    * The copy reads the HOT cache (one bounded pass), never the source
    * lineage. */
  def persistSpread(s: SparkSession, df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count() // materialize so the partition count below is the real one
    val want = s.sparkContext.defaultParallelism
    if (p.rdd.getNumPartitions >= want) p
    else {
      val spread = p.repartition(want).persist()
      spread.count() // copy out of the hot cache before dropping it
      try p.unpersist()
      catch { case scala.util.control.NonFatal(_) => () }
      spread
    }
  }

  /** Unpersist and forget every cached relation of every site. Call
    * between phases of a long-lived multi-dir session; the next fixture
    * query rebuilds (and re-persists) what it needs. */
  def evictAll(): Unit = memo.keys.foreach(drop)
}
