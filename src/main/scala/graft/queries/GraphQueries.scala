package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.Num.oround

/** Iterative / multi-hop GRAPH algorithms over relational edge sets —
  * the third graph operator family after connected components
  * (`ops.ConnectedComponents`, d06) and the one-hop join zoo:
  *
  *  - g01: fixed-iteration PageRank over the undirected supplier↔customer
  *    ship-to graph (who supplies whom, via lineitem⋈orders). Each
  *    iteration is ONE shuffle join (ranks⋈edges on src) + ONE partially
  *    aggregated shuffle (contributions by dst) — the textbook
  *    distributed PageRank step. The degree column is folded into the
  *    edge table ONCE and the joined edge table is localCheckpoint'd, so
  *    the source scans and the degree aggregation never re-execute
  *    across iterations (the d02/t06 compute-once lesson applied to a
  *    loop). At 100 TB the edge table would be bucketed by src so the
  *    per-iteration join is exchange-free on the big side; the rank
  *    table (|V| rows, two columns) is the only thing that moves.
  *  - g02: triangle counting over the embedding near-dup similarity
  *    graph — the edge set IS [[DedupQueries.cosineEdges]] (one shared
  *    definition with d05). Edges are oriented va < vb, so each triangle
  *    is enumerated exactly once as a < b < c: two equi-joins, no
  *    explosion beyond real wedges, never a cross join. The wedge join
  *    (e1.vb = e2.va) is the standard vertex-ordered triangle count;
  *    at 100 TB orient by (degree, id) instead of raw id to bound the
  *    wedge fan-out of hub vertices.
  */
object GraphQueries {

  /** The supplier↔customer SHIP-TO graph — `(src, dst, deg)`, both
    * orientations — as the graph family's ONE shared artifact:
    * g01/g03/g05/g06 all iterate over exactly this edge table, and
    * each was paying its own lineitem⋈orders scan + distinct + degree
    * aggregation to rebuild it (4× the same three exchanges per bench
    * sweep). Cached under the [[graft.ops.ArtifactCache]] discipline
    * (content-stamp keyed on BOTH source tables, checkpoint-self-
    * healing, pinned out of the harness sweep) — the same
    * one-time-indexing-job analogy as d06's component labels: at
    * deployment the edge table is bucketed by `src` at rest and every
    * per-iteration join is exchange-free on the big side; here the
    * localCheckpoint stands in for that at-rest artifact. Consumers
    * needing only (src, dst) project the deg column away. */
  private val edgeCache = new graft.ops.ArtifactCache()
  private def shipEdges(s: SparkSession, d: String): DataFrame =
    edgeCache.artifact(s, d, Seq("lineitem.parquet", "orders.parquet")) {
      val pairs = lineitem(s, d)
        .select(col("l_orderkey").as("ok"),
          (col("l_suppkey") + lit(1000000L)).as("supp"))
        .join(orders(s, d)
          .select(col("o_orderkey").as("ok"), col("o_custkey").as("cust")), "ok")
        .select("supp", "cust").distinct()
      val edges = pairs.select(col("supp").as("src"), col("cust").as("dst"))
        .unionAll(pairs.select(col("cust").as("src"), col("supp").as("dst")))
      edges.join(edges.groupBy("src").agg(count(lit(1)).as("deg")), "src")
    }

  /** G1 — PageRank, 3 iterations, damping 0.85, on the undirected
    * bipartite supplier↔customer graph. Node ids: customers keep their
    * key; suppliers are offset by 1,000,000 into a disjoint range.
    * Returns the top 50 nodes by rounded rank (id tiebreak). */
  private def g01(s: SparkSession, d: String): DataFrame = {
    // (src, dst, deg) computed ONCE — three iterations re-join against
    // the shared materialized artifact, not the scan+join+agg subtree.
    val ew = shipEdges(s, d)
    // |V| as a 1-row broadcast frame (never a driver-side collect).
    val n = ew.select(countDistinct("src").as("n"))
    val init = ew.select(col("src").as("id")).distinct()
      .crossJoin(broadcast(n))
      .select(col("id"), (lit(1.0) / col("n")).as("r"))
    val ranks = (1 to 3).foldLeft(init) { (r, _) =>
      ew.join(r, ew("src") === r("id"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("r") / col("deg")).as("m"))
        .crossJoin(broadcast(n))
        .select(col("id"), (lit(0.15) / col("n") + lit(0.85) * col("m")).as("r"))
    }
    // In the undirected graph every node has in-edges, so iteration
    // output covers the full vertex set — no dangling left join needed.
    ranks.select(col("id"), oround(col("r"), 6).as("rank"))
      .orderBy(col("rank").desc, col("id"))
      .limit(50)
  }

  /** One PageRank iteration in DuckDB: contributions r/deg summed by
    * destination, plus teleport. */
  private def iter(prev: String, out: String): String =
    s"""$out AS (SELECT ew.dst AS id, 0.15/(SELECT n FROM nn) + 0.85*sum($prev.r/ew.deg) AS r
       |  FROM ew JOIN $prev ON ew.src = $prev.id GROUP BY ew.dst)""".stripMargin

  private val og01 =
    s"""WITH e0 AS (SELECT DISTINCT l_suppkey + 1000000 AS supp, o_custkey AS cust
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT supp AS src, cust AS dst FROM e0
       |          UNION ALL SELECT cust AS src, supp AS dst FROM e0),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |ew AS (SELECT e.src, e.dst, dg.deg FROM edges e JOIN deg dg ON e.src = dg.src),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT src AS id, 1.0/(SELECT n FROM nn) AS r FROM deg),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT id, ROUND(r, 6) AS rank FROM r3 ORDER BY rank DESC, id LIMIT 50""".stripMargin

  /** G2 — triangles in the near-dup similarity graph (the d05 edge
    * DEFINITION at a looser τ=0.2, where the graph is dense enough to
    * close triangles). va < vb orientation ⇒ each triangle appears once as
    * (a, b, c) with a < b < c. The edge set is localCheckpoint'd: it
    * feeds three sides of the two joins and must not recompute the
    * bucket join three times. */
  private def g02(s: SparkSession, d: String): DataFrame = {
    val e = DedupQueries.cosineEdges(s, d, tau = 0.2).select("va", "vb").localCheckpoint()
    val wedges = e.as("e1")
      .join(e.as("e2"), col("e1.vb") === col("e2.va"))
      .select(col("e1.va").as("a"), col("e1.vb").as("b"), col("e2.vb").as("c"))
    wedges
      .join(e.as("e3"), col("a") === col("e3.va") && col("c") === col("e3.vb"))
      .select(col("a"), col("b"), col("c"))
      .orderBy("a", "b", "c")
  }

  private val og02 =
    s"""WITH ${DedupQueries.cosineEdgeCtes(0.2)}
       |SELECT e1.va AS a, e1.vb AS b, e2.vb AS c
       |FROM ce e1 JOIN ce e2 ON e1.vb = e2.va
       |  JOIN ce e3 ON e3.va = e1.va AND e3.vb = e2.vb
       |ORDER BY a, b, c""".stripMargin

  /** G3 — bounded-hop BFS shortest paths from a seed over the same
    * supplier↔customer graph as g01: hop distance ≤ 4 from customer 1.
    * Level-synchronous relaxation, the distributed-BFS shape: each
    * round joins the CURRENT distance table (≤|V| rows, two columns —
    * the only thing that moves) against the checkpointed edge table
    * and keeps the per-node minimum; distances are monotone, so four
    * rounds yield exactly the ≤4-hop BFS frontier. The per-round
    * localCheckpoint is the g01/d06 iteration discipline — without it
    * round h's plan contains h nested joins and re-executes them all.
    * The oracle is a recursive CTE whose UNION (not UNION ALL)
    * deduplicates (id, dist) pairs — semi-naive evaluation, |V|×hops
    * rows, never path enumeration (paths in a dense bipartite graph
    * are exponential; node-level dedup is what makes BOTH sides
    * tractable, which is the algorithmic point of the query). At
    * 100 TB the edge table is bucketed by src (g01's note) and each
    * round is one exchange of the frontier. */
  private def g03(s: SparkSession, d: String): DataFrame = {
    val edges = shipEdges(s, d).select("src", "dst")
    val seed = s.range(1).select(lit(1L).as("id"), lit(0).as("dist"))
    val dist = (1 to 4).foldLeft(seed) { (cur, _) =>
      cur.unionByName(
        cur.join(edges, cur("id") === edges("src"))
          .select(col("dst").as("id"), (col("dist") + 1).as("dist")))
        .groupBy("id").agg(min("dist").as("dist"))
        .localCheckpoint()
    }
    dist.orderBy("id")
  }

  private val og03 =
    """WITH RECURSIVE e0 AS (SELECT DISTINCT l_suppkey + 1000000 AS supp, o_custkey AS cust
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (SELECT supp AS src, cust AS dst FROM e0
      |          UNION ALL SELECT cust AS src, supp AS dst FROM e0),
      |bfs(id, dist) AS (
      |  SELECT 1::BIGINT AS id, 0 AS dist
      |  UNION
      |  SELECT e.dst, b.dist + 1 FROM bfs b JOIN edges e ON e.src = b.id
      |  WHERE b.dist < 4)
      |SELECT id, min(dist) AS dist FROM bfs GROUP BY id ORDER BY id""".stripMargin

  /** G4 — co-purchase link prediction: customer pairs ranked by Jaccard
    * similarity of their purchased-part baskets. The shared-part wedge
    * is the standard distributed common-neighbor count; its one scale
    * hazard is hub items — a part in b baskets emits C(b,2) pairs — so
    * ubiquitous parts (> 40 distinct buyers) are pruned first, the
    * item-cooccurrence analogue of stopword removal. After pruning,
    * pair volume is Σ C(min(b,40),2) — linear in |edges| with a
    * constant cap.
    *
    * PLAN SHAPE (rewritten by the round-14 sf10 sweep — the pre-cap
    * stages carried the α): the original distinct → per-part count →
    * join-back → SELF-JOIN chain pushed the edge table through four
    * exchanges. Now the edge stream crosses ONE exchange
    * (`repartition(pk)`): the (ck,pk) distinct needs no exchange of
    * its own (pk-hash co-locates equal pairs — HashPartitioning on a
    * subset of the grouping keys satisfies the clustering), the buyer
    * cap is a window census over the co-located key, and pair emission
    * is d13's bounded posting-list shape — `collect_list` per part,
    * ≤ 40 by the filter preceding it, then a combinations lambda
    * emits each sorted (ca < cb) pair exactly once.
    *
    * THE PAIR STREAM CROSSES EXACTLY ONE EXCHANGE — its own
    * aggregation, the operator's irreducible cost (measured: pair
    * mass is exactly linear, 84M → 840M across the decade, and the
    * bare aggregation ~103 s at sf10 against a 249 s full query). Two
    * rejected alternatives, both measured: shuffle-joining the
    * aggregated pairs to the degree table added two more full
    * exchanges of the biggest table in the query (~80 s), and carrying
    * (deg) inside the posting-list structs doubled the explode AND
    * widened the aggregation keys 16B → 32B (explode 24 → 105 s, agg
    * 159 → 214 s — worse on both ends).
    *
    * PACKED PAIR KEY (round-15, the verdict's closing lever): the
    * (ca, cb) key the 840 M-row stream shuffles and hash-aggregates on
    * is ONE long — `ca << 32 | cb` — packed inside the combinations
    * lambda, so the explode emits 8-byte longs instead of 16-byte
    * structs and the aggregation hashes/compares/spills ONE word per
    * row; (ca, cb) unpack AFTER the aggregation with two codegen'd bit
    * ops on the ~collapsed output. Precondition, static on this data
    * model: custkeys are positive and < 2³¹ (TPC-H custkey ≈ 1.5M × SF
    * — fine beyond sf100; an estate past 2³¹ customers needs the
    * 2-column key back).
    *
    * Degrees join as a SIZE-GATED BROADCAST: deg is a per-customer
    * aggregate — the customer DIM, 10²–10³× smaller than the pair
    * stream, the textbook broadcast side. The explicit `broadcast()`
    * hint is UNCONDITIONAL in Spark (it would override AQE and OOM the
    * driver long before the 8 GB broadcast hard limit), so the hint is
    * applied only while the customer table's parquet footprint —
    * deg's strict upper bound at ~10× deg's row width — stays under
    * [[DegBroadcastMaxDimBytes]]; past the gate the SAME algebra runs
    * as a shuffle join, the degradation the dropped hint claims, now
    * actually wired. Width and heap were probed too: 256 shuffle
    * partitions ≈ 32 (115 vs 103–159 s, run noise) — the aggregation
    * is mass-bound, not width-bound; the residual spill is the
    * local-harness memory ceiling a real cluster scales away with
    * executor count. Same pair set, same n_common, same oracle. */
  private def g04(s: SparkSession, d: String): DataFrame = {
    val kept = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .join(orders(s, d).select(col("o_orderkey").as("ok"), col("o_custkey").as("ck")), "ok")
      .select("ck", "pk")
      .repartition(col("pk"))
      .distinct()
      .withColumn("np", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("pk")))
      .filter(col("np") <= 40)
    val deg = kept.groupBy("ck").agg(count(lit(1)).as("deg"))
    val degA = deg.select(col("ck").as("ca"), col("deg").as("da"))
    val degB = deg.select(col("ck").as("cb"), col("deg").as("db"))
    val (dimA, dimB) =
      if (dimBytes(s, d, "customer.parquet") <= DegBroadcastMaxDimBytes)
        (broadcast(degA), broadcast(degB))
      else (degA, degB)
    val ds = col("ds")
    val comb = flatten(transform(ds, (a, i) =>
      transform(slice(ds, i + lit(2), size(ds)),
        b => shiftleft(a.cast("long"), 32).bitwiseOR(b.cast("long")))))
    kept.groupBy("pk").agg(sort_array(collect_list("ck")).as("ds"))
      .select(explode(comb).as("cc"))
      .groupBy("cc")
      .agg(count(lit(1)).as("n_common"))
      .select(
        shiftright(col("cc"), 32).as("ca"),
        col("cc").bitwiseAND(lit(0xFFFFFFFFL)).as("cb"),
        col("n_common"))
      .join(dimA, "ca")
      .join(dimB, "cb")
      .select(
        col("ca"), col("cb"), col("n_common"),
        oround(col("n_common") / (col("da") + col("db") - col("n_common")), 4)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("ca"), col("cb"))
      .limit(20)
  }

  /** g04's broadcast gate: the degree dim is hinted broadcast only
    * while the CUSTOMER table's on-disk parquet bytes (deg's strict
    * upper bound — every deg row is one customer, at a fraction of the
    * table's row width) stay under this. 1 GiB of customer parquet ≈
    * 6–7 M customers ≈ an ~100 MB two-long broadcast — comfortably
    * inside executor memory; past it the algebra degrades to a shuffle
    * join instead of an unconditional hint OOMing the driver. */
  private final val DegBroadcastMaxDimBytes = 1L << 30

  /** Metadata-only dim-size estimate: total bytes of the table's
    * parquet files (one `listStatus`, no data read — the
    * [[graft.queries.DedupQueries]] datasetStamp discipline). */
  private def dimBytes(s: SparkSession, d: String, table: String): Long = {
    val p = new org.apache.hadoop.fs.Path(d, table)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (st.isDirectory) fs.listStatus(p).map(_.getLen).sum else st.getLen
  }

  private val og04 =
    """WITH e AS (SELECT DISTINCT o_custkey ck, l_partkey pk
      |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |kept AS (SELECT ck, pk FROM e WHERE pk IN (
      |    SELECT pk FROM e GROUP BY pk HAVING count(*) <= 40)),
      |deg AS (SELECT ck, count(*) AS deg FROM kept GROUP BY 1),
      |pairs AS (
      |  SELECT a.ck ca, b.ck cb, count(*) AS n_common
      |  FROM kept a JOIN kept b ON a.pk = b.pk AND a.ck < b.ck
      |  GROUP BY 1, 2)
      |SELECT ca, cb, n_common,
      |  ROUND(n_common::DOUBLE / (da.deg + db.deg - n_common), 4) AS jaccard
      |FROM pairs
      |JOIN deg da ON pairs.ca = da.ck
      |JOIN deg db ON pairs.cb = db.ck
      |ORDER BY jaccard DESC, ca, cb LIMIT 20""".stripMargin

  /** G5 — community detection by synchronous MAJORITY label
    * propagation over the g01 supplier↔customer graph: each node starts
    * as its own community, and each round adopts the most frequent
    * label among its neighbors with a fully deterministic tie-break
    * (highest count, then smallest label — classic async LPA is
    * run-order-dependent; the synchronous + total-order variant is what
    * a distributed engine can actually promise). Two rounds, each ONE
    * shuffle join (labels⋈edges on src, labels re-checkpointed per
    * round like g01's loop) + one partially-aggregated count + a
    * per-node arg-max window over the |neighbors-of-node| label counts.
    * Result is the bounded top-20 community census. d06 is the
    * CONNECTIVITY fixpoint (min-label, converges to components); this
    * is the DENSITY heuristic (majority vote) — different algorithm,
    * different answer, same per-round plan shape. */
  private def g05(s: SparkSession, d: String): DataFrame = {
    val edges = shipEdges(s, d).select("src", "dst")
    val byNode = Window.partitionBy("id").orderBy(col("c").desc, col("lbl"))
    def round(labels: DataFrame): DataFrame =
      edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("lbl"))
        .groupBy("id", "lbl").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(byNode))
        .filter(col("rn") === 1)
        .select(col("id"), col("lbl"))
        .localCheckpoint()
    val l0 = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    round(round(l0))
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(20)
  }

  private val og05 =
    """WITH e0 AS (SELECT DISTINCT l_suppkey + 1000000 AS supp, o_custkey AS cust
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (SELECT supp AS src, cust AS dst FROM e0
      |  UNION ALL SELECT cust, supp FROM e0),
      |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges),
      |c1 AS (SELECT e.dst AS id, l.lbl, count(*) AS c
      |  FROM edges e JOIN l0 l ON e.src = l.id GROUP BY 1, 2),
      |p1 AS (SELECT id, lbl FROM (SELECT id, lbl,
      |    row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) rn FROM c1)
      |  WHERE rn = 1),
      |c2 AS (SELECT e.dst AS id, l.lbl, count(*) AS c
      |  FROM edges e JOIN p1 l ON e.src = l.id GROUP BY 1, 2),
      |p2 AS (SELECT id, lbl FROM (SELECT id, lbl,
      |    row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) rn FROM c2)
      |  WHERE rn = 1)
      |SELECT lbl AS community, count(*) AS n_members FROM p2
      |GROUP BY lbl ORDER BY n_members DESC, community LIMIT 20""".stripMargin

  /** G6 — PERSONALIZED PageRank: teleport mass flows back to a SEED
    * vertex instead of uniformly — the proximity score behind
    * "customers like you" recommendations (random walks restarting at
    * the seed). Same checkpointed-edge iteration discipline as g01
    * (the (src, dst, deg) table is materialized once; three iterations
    * re-join it); the differences are the init vector (1 at the seed,
    * 0 elsewhere) and the teleport term (0.15 · 1[v = seed]). The seed
    * arrives as a 1-row broadcast frame — never a driver-side collect
    * — and after k iterations only the k-hop neighborhood holds mass,
    * which is the point: proximity, not global centrality. Top-50. */
  private def g06(s: SparkSession, d: String): DataFrame = {
    val ew = shipEdges(s, d)
    val seed = ew.select(min(when(col("src") < 1000000L, col("src"))).as("sid"))
    val init = ew.select(col("src").as("id")).distinct()
      .crossJoin(broadcast(seed))
      .select(col("id"), when(col("id") === col("sid"), 1.0).otherwise(0.0).as("r"))
    val ranks = (1 to 3).foldLeft(init) { (r, _) =>
      ew.join(r, ew("src") === r("id"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("r") / col("deg")).as("m"))
        .crossJoin(broadcast(seed))
        .select(col("id"),
          (when(col("id") === col("sid"), 0.15).otherwise(0.0) + lit(0.85) * col("m"))
            .as("r"))
    }
    ranks.filter(col("r") > 0)
      .select(col("id"), oround(col("r"), 6).as("prox"))
      .orderBy(col("prox").desc, col("id"))
      .limit(50)
  }

  /** One PPR iteration in DuckDB — teleport to the seed only. */
  private def pprIter(prev: String, out: String): String =
    s"""$out AS (SELECT ew.dst AS id,
       |  (CASE WHEN ew.dst = (SELECT sid FROM sd) THEN 0.15 ELSE 0.0 END)
       |    + 0.85*sum($prev.r/ew.deg) AS r
       |  FROM ew JOIN $prev ON ew.src = $prev.id GROUP BY ew.dst)""".stripMargin

  private val og06 =
    s"""WITH e0 AS (SELECT DISTINCT l_suppkey + 1000000 AS supp, o_custkey AS cust
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT supp AS src, cust AS dst FROM e0
       |          UNION ALL SELECT cust AS src, supp AS dst FROM e0),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |ew AS (SELECT e.src, e.dst, dg.deg FROM edges e JOIN deg dg ON e.src = dg.src),
       |sd AS (SELECT min(CASE WHEN src < 1000000 THEN src END) AS sid FROM ew),
       |r0 AS (SELECT src AS id,
       |         CASE WHEN src = (SELECT sid FROM sd) THEN 1.0 ELSE 0.0 END AS r
       |       FROM deg),
       |${pprIter("r0", "r1")},
       |${pprIter("r1", "r2")},
       |${pprIter("r2", "r3")}
       |SELECT id, ROUND(r, 6) AS prox FROM r3 WHERE r > 0
       |ORDER BY prox DESC, id LIMIT 50""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("g01_pagerank", g01, Some(og01)),
    QueryDef("g02_triangles", g02, Some(og02)),
    QueryDef("g03_bfs_hops", g03, Some(og03)),
    QueryDef("g04_copurchase_jaccard", g04, Some(og04)),
    QueryDef("g05_labelprop", g05, Some(og05)),
    QueryDef("g06_personalized_pagerank", g06, Some(og06)))
}
