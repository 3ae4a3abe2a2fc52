package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns._

/** Persisted ANN index artifacts — the offline half of the similarity
  * search story.
  *
  * At 100 TB the coarse quantizer (IVF centroids) and the at-rest
  * partitioning of the corpus by its blocking key are OFFLINE artifacts:
  * built once by an indexing job, read by every query. Training the
  * quantizer inside the query (as v03 did through round 3) re-scans and
  * re-explodes the full corpus per execution — correct, but the wrong
  * plan at scale.
  *
  * Two artifacts, both derived from `embeddings` and cached per
  * source-fingerprint under /tmp:
  *
  *  - **IVF**: per-label mean vectors (`centroids/`: label, ce) plus the
  *    corpus re-written `partitionBy(label)` (`corpus/`). A probe reads
  *    the tiny centroid table, picks the nprobe nearest labels, and joins
  *    them against the partitioned corpus — the join key IS the partition
  *    column, so dynamic partition pruning opens only the probed
  *    directories. Scan cost: nprobe/|labels| of the data.
  *
  *  - **SRP**: the corpus re-written `partitionBy(pbucket)` where
  *    pbucket = 'b' + the 4-bit sign-random-projection bucket (the 'b'
  *    prefix keeps partition-value inference from reading "0110" as the
  *    integer 110). v02/v05 probe it with the query vector's bucket(s) —
  *    again partition-pruned to probes/2^bits of the corpus.
  *
  * The cache key fingerprints the source file (size + mtime), so a
  * regenerated testdata dir invalidates the artifact instead of silently
  * serving stale vectors.
  */
object VectorIndex {

  /** Floor width of the SRP blocking key (16 buckets minimum). The
    * ACTUAL width adapts to the corpus via [[srpBitsFor]] — a fixed
    * width means a fixed 2^bits partitions whose buckets deepen linearly
    * with the corpus, so every probe's scan grows linearly too; the
    * adaptive width holds expected bucket occupancy at ≤ ~64 vectors
    * (measured on the ×30 estate: probed fraction 6.4% → 0.1% of the
    * corpus). Documentation-only: key builders take the
    * width EXPLICITLY (no default) so a caller can never silently probe
    * a 4-bit key against a wider partition layout. */
  val SrpBits = 4

  /** Target rows per index partition — the file-layout variant of the
    * width rule (see [[graft.functions.VectorFns.adaptiveSrpBits]]):
    * an index bucket is a PARTITION DIRECTORY, so it wants thousands of
    * rows per file, not d05's pair-work-tight 64. */
  val IndexBucketTarget = 4096L

  /** The corpus row count behind every adaptive width decision, cached
    * per CONTENT fingerprint (size + mtime — the ccCache discipline):
    * the count is a pure function of the source file, but left uncached
    * it was an eager Spark job on EVERY query construction (v02 paid it
    * twice — once directly, once inside ensureSrp — before any probe
    * work ran). A restaged dir gets a fresh fingerprint, so the cache
    * can never serve a stale count. */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def corpusCount(s: SparkSession, sfDir: String): Long =
    countCache.computeIfAbsent(fingerprint(sfDir),
      _ => graft.Tables.embeddings(s, sfDir).count()).longValue()

  /** The index's key width for `sfDir`'s corpus — the shared
    * [[graft.functions.VectorFns.adaptiveSrpBits]] rule (at
    * [[IndexBucketTarget]]) over the cached [[corpusCount]]. Writer and
    * every probe MUST derive the width through this one definition, so
    * the probe always re-derives the width the artifact was built
    * with. */
  def srpBitsFor(s: SparkSession, sfDir: String): Int =
    graft.functions.VectorFns.adaptiveSrpBits(
      corpusCount(s, sfDir), IndexBucketTarget)

  private def fingerprint(sfDir: String): String = {
    val p = Paths.get(sfDir, "embeddings.parquet")
    val key = s"$sfDir:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    // stable short hash for a filesystem-safe cache dir name
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }

  private def indexRoot(sfDir: String): String =
    s"/tmp/graft_index/${fingerprint(sfDir)}"

  private def built(dir: String): Boolean =
    Files.exists(Paths.get(dir, "_SUCCESS"))

  /** Build into a process-private staging dir, then ATOMIC-rename onto
    * the final path. The JVM-level `synchronized` on the ensure methods
    * only serializes one process; Verify/Bench/forked-test JVMs can race
    * the same /tmp cache — with the rename, a reader either sees no
    * `_SUCCESS` (and builds its own staging copy) or a complete
    * artifact, never a half-written directory. The rename loser simply
    * discards its staging copy. */
  private def buildAtomic(finalDir: String)(write: String => Unit): Unit = {
    if (built(finalDir)) return
    val staging = s"$finalDir.build-${ProcessHandle.current().pid()}"
    write(staging)
    try Files.move(
      Paths.get(staging), Paths.get(finalDir), StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: FileAlreadyExistsException | _: java.nio.file.FileSystemException =>
        // lost the race — a concurrent builder finished first; use theirs
        Files.walk(Paths.get(staging)).sorted(Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
    }
  }

  /** Build (once) and return (centroidsPath, corpusPath) for the IVF
    * index over `sfDir`'s embeddings. Synchronized: suites running in
    * parallel in one JVM must not race the build. */
  def ensureIvf(s: SparkSession, sfDir: String): (String, String) = synchronized {
    val root = indexRoot(sfDir)
    val cent = s"$root/ivf_centroids"
    val corp = s"$root/ivf_corpus"
    buildAtomic(cent) { dst =>
      val e = graft.Tables.embeddings(s, sfDir)
        .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("e"))
      // per-label mean vector: posexplode → per-(label,dim) avg → sorted
      // re-assembly. One bounded shuffle (|labels|·64 rows out).
      e.select(col("label"), posexplode(col("e")).as(Seq("i", "x")))
        .groupBy("label", "i")
        .agg(avg("x").as("cx"))
        .groupBy("label")
        .agg(
          transform(
            sort_array(collect_list(struct(col("i"), col("cx")))),
            p => p.getField("cx")).as("ce"))
        .coalesce(1)
        .write.mode("overwrite").parquet(dst)
    }
    // the corpus at rest, one directory per coarse cell
    buildAtomic(corp) { dst =>
      graft.Tables.embeddings(s, sfDir)
        .write.partitionBy("label").mode("overwrite").parquet(dst)
    }
    (cent, corp)
  }

  /** Build (once) and return the path of the SRP-bucket-partitioned
    * corpus: columns (vec_id, embedding, label, pbucket), partitioned by
    * pbucket. */
  def ensureSrp(s: SparkSession, sfDir: String): String = synchronized {
    val root = indexRoot(sfDir)
    val bits = srpBitsFor(s, sfDir)
    // the width is PART of the artifact identity: a probe computing
    // b-bit keys against a corpus partitioned at a different width
    // would join against nothing, silently — so a width change (rule
    // change, or a corpus edit that crosses a 64·2^k threshold) builds
    // a fresh directory instead of serving the stale layout
    val corp = s"$root/srp_corpus_b$bits"
    buildAtomic(corp) { dst =>
      graft.Tables.embeddings(s, sfDir)
        .withColumn("pbucket", pbucketOf(toDouble(col("embedding")), bits))
        .write.partitionBy("pbucket").mode("overwrite").parquet(dst)
    }
    corp
  }

  /** How many independent hash tables the multi-table SRP index carries
    * (disjoint 16-coordinate blocks of a 64-dim embedding). */
  val SrpTables = 4

  /** Build (once) and return the MULTI-TABLE SRP corpus: the corpus
    * stored [[SrpTables]] times, table t partitioned by the sign key of
    * its own disjoint 16-dim coordinate block (columns vec_id,
    * embedding, label, tbl, pbucket; partitioned by (tbl, pbucket)).
    *
    * This is the third corner of the LSH serving triangle, and the one
    * single-table layouts cannot reach: one table must trade recall
    * against scanned fraction (fewer bits = bigger buckets; more
    * probes = more scan), but L INDEPENDENT keys multiply the miss
    * probabilities — recall 1 − (1 − p)^L for ~L/2^bits of the corpus
    * scanned. Measured on sf0.1 (recall@10 vs exact): at 4-bit keys
    * L=4 reaches 0.6 scanning 21% of one corpus copy where the
    * same-width hd≤1 multi-probe needs ~31% for the same 0.6; one bit
    * wider the gap grows — 0.5 @ 11% vs 0.3 @ ~19%. The price is ×L
    * storage — the textbook LSH cost, paid at index-build time, which
    * is what a serving deployment amortizes. */
  def ensureSrpTables(s: SparkSession, sfDir: String): String = synchronized {
    val root = indexRoot(sfDir)
    val bits = srpBitsFor(s, sfDir)
    val corp = s"$root/srp_tables_b$bits" // width is part of the identity
    buildAtomic(corp) { dst =>
      val e = graft.Tables.embeddings(s, sfDir)
      (0 until SrpTables).map { t =>
        e.withColumn("tbl", lit(t))
          .withColumn("pbucket",
            tableBucketOf(toDouble(col("embedding")), t, bits))
      }.reduce(_ unionByName _)
        .write.partitionBy("tbl", "pbucket").mode("overwrite").parquet(dst)
    }
    corp
  }

  /** Table t's partition-safe bucket key: the sign pattern of the
    * `bits` coordinates in t's disjoint 16-dim block — writer and probe
    * share this one definition ([[pbucketOf]]'s contract, per table). */
  def tableBucketOf(e: Column, table: Int, bits: Int): Column =
    concat(lit("b"), graft.functions.VectorFns.srpBucketFrom(e, table * 16, bits))

  /** The partition-safe SRP bucket key for a (double-widened) embedding
    * column at the given width ([[srpBitsFor]] for a corpus) — both the
    * writer and every probe MUST derive the key through this one
    * definition or the partition join silently misses. */
  def pbucketOf(e: Column, bits: Int): Column =
    concat(lit("b"), srpBucket(e, bits))

  /** Multi-probe key set for a query embedding: its own bucket plus the
    * `bits` one-bit-flip neighbors, as partition-safe pbucket strings —
    * the probe side of v05, derived from the SAME width/prefix
    * definition as the writer (a probe building its own keys drifts the
    * moment the width changes, and the partition join then silently
    * matches nothing). The probe count rides the width: a wider key
    * (bigger corpus) probes more neighbor buckets, which is exactly the
    * multi-probe recall dial compensating for the finer split. */
  def multiProbeKeys(e: Column, bits: Int): Column = {
    val qb = srpBucket(e, bits)
    val flips = (1 to bits).map(j =>
      concat(
        substring(qb, 1, j - 1),
        when(substring(qb, j, 1) === "1", "0").otherwise("1"),
        substring(qb, j + 1, bits - j)))
    transform(array(qb +: flips: _*), b => concat(lit("b"), b))
  }
}
