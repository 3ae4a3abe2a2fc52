package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE shared-artifact cache discipline (generalized from the
  * round-10..16 `DedupQueries.cachedLabels`): compute-once-per-
  * (session, dataset) materialization of an intermediate several
  * queries share — the component labelings d06/d14/p14 and d16 read,
  * and the graph family's supplier↔customer edge table. At deployment
  * each of these is a one-time indexing job whose artifact downstream
  * queries read; here the localCheckpoint'd table stands in for that
  * artifact. Properties, all load-bearing:
  *
  *  - **Content-stamp keyed** (round-10 advisory): entries key on the
  *    `(name, length, mtime)` listing of the source table(s), not just
  *    the path — a restaged directory yields a new stamp, so stale
  *    artifacts can never be served and the superseded entry drops at
  *    that moment. Stamping is driver-side metadata only (one
  *    `listStatus` per table, no job).
  *  - **LRU-bounded**: a long-lived session staging many datasets
  *    evicts least-recently-USED entries past `bound`.
  *  - **Checkpoint-liveness self-healing** (round-16): a locally-
  *    checkpointed Dataset cannot recompute (lineage truncated), so a
  *    served entry is validated against the live persistent-RDD set
  *    and silently rebuilt when its blocks are gone — the cache is a
  *    compute-once optimization, never a correctness dependency.
  *  - **PINNED out of the harness storage sweep** (round-17 verdict
  *    task 1 — the fix the ledger called `Engine.pinnedRDDs`): Bench
  *    and Verify run a blocking unpersist of all persistent RDDs
  *    between queries to keep dead checkpoint blocks from bleeding
  *    into later queries' memory headroom; that sweep was ALSO killing
  *    these live artifacts, so every consumer after the first paid a
  *    full rebuild (sf10: d14 2.0 → 21.7 s, p14 0.9 → 21.7 s). Each
  *    artifact's RDD id is registered in [[graft.Engine.pinnedRDDs]]
  *    on materialization and unregistered on eviction/stale-drop, so
  *    retirement makes the blocks sweepable again.
  *
  * Concurrency (round-18 advisory): map mutation is `synchronized`,
  * but the filesystem stamp listing and the distributed
  * build+localCheckpoint job run OUTSIDE the lock — a per-key
  * build latch keeps two threads from racing one artifact's build
  * without serializing unrelated datasets behind it.
  */
final class ArtifactCache(bound: Int = 8) {
  private val cache = scala.collection.mutable.LinkedHashMap
    .empty[(SparkSession, String, String), DataFrame]
  private val building = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), java.util.concurrent.CountDownLatch]

  /** The dataset content stamp: flat listing of each source table's
    * files as `name:length:mtime`, tables joined by `;`. */
  private def stampOf(s: SparkSession, d: String, tables: Seq[String]): String =
    tables.map { t =>
      val p = new org.apache.hadoop.fs.Path(d, t)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val files = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
      files.map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
        .sorted.mkString(",")
    }.mkString(";")

  /** The checkpoint's persistent RDD id — a localCheckpoint'd Dataset
    * analyzes to a [[org.apache.spark.sql.execution.LogicalRDD]];
    * anything else has no single block-backed id (treated as always
    * alive and never pinned). */
  private def rddIdOf(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd.id)
      case _ => None
    }

  private def alive(s: SparkSession, df: DataFrame): Boolean =
    rddIdOf(df).forall(s.sparkContext.getPersistentRDDs.contains)

  private def pin(s: SparkSession, df: DataFrame): Unit =
    rddIdOf(df).foreach(id =>
      graft.Engine.pinnedRDDs.add(graft.Engine.pinKey(s, id)))

  private def unpin(s: SparkSession, df: DataFrame): Unit =
    rddIdOf(df).foreach(id =>
      graft.Engine.pinnedRDDs.remove(graft.Engine.pinKey(s, id)))
  // NOTE on unpin-without-unpersist: an evicted/stale artifact is only
  // UNPINNED here, not unpersisted — a consumer query planned against
  // the checkpoint may still be executing, and a localCheckpoint cannot
  // recompute. Unpinning is what releases it: the next harness sweep
  // (or the ContextCleaner once the frame is unreachable) frees the
  // blocks.

  /** The live entry for `key`, refreshed to most-recently-used. Drops
    * the same dataset's superseded stamps and a dead checkpoint. */
  private def lookup(key: (SparkSession, String, String)): Option[DataFrame] = {
    val (s, d, stamp) = key
    cache.synchronized {
      cache.keys.filter(k => k._1 == s && k._2 == d && k._3 != stamp)
        .toSeq.foreach(k => cache.remove(k).foreach(unpin(s, _)))
      // remove-then-insert keeps the LinkedHashMap in access order, so
      // eviction is least-recently-USED, not just oldest
      cache.remove(key) match {
        case Some(df) if alive(s, df) => cache.put(key, df); Some(df)
        case Some(df) => unpin(s, df); None // dead checkpoint
        case None => None
      }
    }
  }

  /** Pin and insert a freshly built artifact, evicting past `bound`. */
  private def insert(
      key: (SparkSession, String, String), built: DataFrame): DataFrame =
    cache.synchronized {
      // an entry the put would displace must not keep its pin
      cache.remove(key).foreach(unpin(key._1, _))
      pin(key._1, built)
      cache.put(key, built)
      while (cache.size > bound) {
        val (k, v) = cache.head
        cache.remove(k)
        unpin(k._1, v)
      }
      built
    }

  /** Serve the artifact for `(s, d, tables-stamp)`, building (and
    * localCheckpoint-materializing, and pinning) it on first touch,
    * stale stamp, or dead checkpoint. The stamp listing and the build
    * run outside the map lock; a per-key latch de-duplicates
    * concurrent builds of the SAME artifact. */
  def artifact(s: SparkSession, d: String, tables: Seq[String])(
      build: => DataFrame): DataFrame = {
    val key = (s, d, stampOf(s, d, tables)) // fs metadata, outside the lock
    var served = lookup(key)
    while (served.isEmpty) {
      val latch = new java.util.concurrent.CountDownLatch(1)
      building.putIfAbsent(key, latch) match {
        case null => // this thread owns the build
          try {
            // a build that finished between the lookup above and
            // winning the latch left its entry: serve it, don't rebuild
            served = lookup(key).orElse(Some(insert(key, build.localCheckpoint())))
          } finally {
            building.remove(key)
            latch.countDown()
          }
        case other => // another thread is building: wait, then re-read
          other.await()
          served = lookup(key)
      }
    }
    served.get
  }
}
