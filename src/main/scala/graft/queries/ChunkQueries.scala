package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.Num.oround
import graft.functions.TextFns

/** Corpus packaging — the operators that turn a cleaned document corpus
  * into model-ready input: fixed-window chunking with overlap (the RAG /
  * context-window splitter), chunk-level duplicate detection (boilerplate
  * chunks repeat across documents even when whole docs are unique), and
  * sequence packing into token-budget bins (the concat-in-order packing a
  * pretraining dataloader performs).
  *
  * Scale shape: chunking is a per-row generator (narrow, no shuffle until
  * the bounded aggregate); chunk-dedup is one map-side-combined shuffle on
  * the chunk hash (the same exact-dedup shape as q18, one level down the
  * document hierarchy); packing is a per-stratum running sum — one shuffle
  * on the stratum key, linear state. None of them carries the chunk TEXT
  * past the hash, so shuffle payloads stay scalar.
  */
object ChunkQueries {

  /** Chunk window of 32 tokens, stride 24 (8-token overlap) — overlap
    * preserves context at chunk boundaries, the standard RAG setting.
    * Tail chunks shorter than the window are kept (both engines' slice
    * clamps at the array end). One definition feeds c01 and c02 so the
    * stats and the dedup can never disagree on chunk identity. */
  private val W = 32
  private val S = 24

  /** md5 per chunk, in document order, from a materialized token array
    * (TextFns performance contract: lambdas read attributes, never
    * recompute the split). */
  private def chunkHashes(toks: org.apache.spark.sql.Column) =
    transform(
      sequence(lit(1), size(toks), lit(S)),
      s => md5(concat_ws(" ", slice(toks, s, lit(W))).cast("binary")))

  /** C1 — per-document chunking stats: how many chunks the doc splits
    * into and how many are distinct (a doc whose chunks collapse is
    * internally repetitive — the chunk-level twin of t08). */
  private def c01(s: SparkSession, d: String): DataFrame =
    graft.Tables.rebalance(s, documents(s, d))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), chunkHashes(col("toks")).as("hs"))
      .select(
        col("doc_id"),
        size(col("hs")).cast("long").as("n_chunks"),
        size(array_distinct(col("hs"))).cast("long").as("n_distinct"))
      .orderBy("doc_id")
      .limit(100)

  /** C2 — cross-document chunk dedup: chunks appearing in more than one
    * document (within-doc repeats collapsed first, so n_docs counts
    * documents, not occurrences). The top shared chunks are the
    * boilerplate a corpus cleaner strips even when no two whole docs are
    * equal. One explode + one hash-keyed shuffle carrying (hash) only. */
  // rebalance (here and c01): the single-file corpus would otherwise run
  // the per-chunk md5 stream — the family's expensive stage — on one core
  private def c02(s: SparkSession, d: String): DataFrame =
    graft.Tables.rebalance(s, documents(s, d))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(array_distinct(chunkHashes(col("toks")))).as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .orderBy(col("n_docs").desc, col("h"))
      .limit(20)

  /** C3 — sequence packing audit: documents concatenated in doc_id order
    * per language, assigned to 512-token bins by their starting offset
    * (bin = prior tokens ÷ 512) — the deterministic first-fit-in-order
    * packing a pretraining dataloader uses, with per-bin fill factor as
    * the audit output. The running sum is per-stratum (lang), so at scale
    * each stratum packs independently after ONE shuffle on the stratum
    * key; there is no global order dependency across strata. */
  private def c03(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select(col("doc_id"), col("lang"), size(TextFns.tokens(col("text"))).as("nt"))
      .select(
        col("lang"), col("nt"),
        floor((sum("nt").over(w) - col("nt")) / 512).as("bin"))
      .groupBy("lang", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("nt").cast("long").as("n_tokens"),
        oround(sum("nt").cast("double") / 512, 3).as("fill"))
      .orderBy("lang", "bin")
  }

  /** C4 — the PACKING-EFFICIENCY CURVE: c03's first-fit-in-order
    * packing swept across context lengths L ∈ {512, 1024, 2048} — per
    * L the bin count, the fill fraction (tokens ÷ bins·L: what the
    * training run actually utilizes; the remainder is padding) and
    * docs-per-bin. The fourth tuning-curve query (v23 sweeps ANN probe
    * width, d18 LSH banding, t22 the quality threshold; this sweeps
    * the dataloader's context budget) — the table read before
    * committing a context length to a full packing run: longer
    * contexts waste less padding per bin boundary but concentrate
    * more docs per sequence. ONE pass: the per-stratum running token
    * sum is computed once (identical for every L — bin assignment is
    * just a different divisor of the same prefix sum), the 3-way
    * explode carries two scalars, and the aggregate is |L| rows. */
  private def c04(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(TextFns.tokens(col("text"))).as("nt"))
      .select(col("lang"), col("nt"),
        (sum("nt").over(w) - col("nt")).as("prior"))
      .select(col("lang"), col("nt"), col("prior"),
        explode(array(lit(512), lit(1024), lit(2048))).as("context_len"))
      .select(col("context_len"), col("nt"),
        concat_ws(":", col("lang"),
          floor(col("prior") / col("context_len"))).as("bin_key"))
      .groupBy("context_len")
      .agg(
        countDistinct("bin_key").as("n_bins"),
        count(lit(1)).as("n_docs"),
        sum("nt").cast("long").as("n_tokens"),
        oround(
          sum("nt").cast("double") /
            (countDistinct("bin_key") * col("context_len")), 4)
          .as("fill_frac"),
        oround(count(lit(1)) / countDistinct("bin_key").cast("double"), 4)
          .as("docs_per_bin"))
      .orderBy("context_len")
  }

  private val oc04 =
    """WITH t AS (SELECT doc_id, lang, len(string_split(text,' ')) nt FROM documents),
      |p AS (SELECT lang, nt,
      |        sum(nt) OVER (PARTITION BY lang ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS prior
      |      FROM t),
      |x AS (SELECT lang, nt, prior, context_len,
      |        lang || ':' || (prior // context_len)::VARCHAR AS bin_key
      |      FROM p, (SELECT unnest([512, 1024, 2048]) AS context_len))
      |SELECT context_len, count(DISTINCT bin_key) AS n_bins, count(*) AS n_docs,
      |  sum(nt)::BIGINT AS n_tokens,
      |  ROUND(sum(nt)::DOUBLE / (count(DISTINCT bin_key) * context_len), 4) AS fill_frac,
      |  ROUND(count(*)::DOUBLE / count(DISTINCT bin_key), 4) AS docs_per_bin
      |FROM x GROUP BY context_len ORDER BY context_len""".stripMargin

  // ------------------------------------------------------------------
  // DuckDB oracles
  // ------------------------------------------------------------------

  private val oc01 =
    """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |c AS (SELECT doc_id, list_transform(generate_series(1, len(toks), 24),
      |        s -> md5(array_to_string(toks[s:s+31], ' '))) hs
      |      FROM t)
      |SELECT doc_id, len(hs) AS n_chunks, len(list_distinct(hs)) AS n_distinct
      |FROM c ORDER BY doc_id LIMIT 100""".stripMargin

  private val oc02 =
    """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |c AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(toks), 24),
      |        s -> md5(array_to_string(toks[s:s+31], ' '))))) h
      |      FROM t)
      |SELECT h, count(*) AS n_docs FROM c GROUP BY h HAVING count(*) > 1
      |ORDER BY n_docs DESC, h LIMIT 20""".stripMargin

  private val oc03 =
    """WITH t AS (SELECT doc_id, lang, len(string_split(text,' ')) nt FROM documents),
      |b AS (SELECT lang, nt,
      |        (sum(nt) OVER (PARTITION BY lang ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt) // 512 AS bin
      |      FROM t)
      |SELECT lang, bin::BIGINT AS bin, count(*) AS n_docs, sum(nt)::BIGINT AS n_tokens,
      |  ROUND(sum(nt)::DOUBLE / 512, 3) AS fill
      |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("c01_chunk_stats", c01, Some(oc01)),
    QueryDef("c02_chunk_dedup", c02, Some(oc02)),
    QueryDef("c03_pack_sequences", c03, Some(oc03)),
    QueryDef("c04_packing_curve", c04, Some(oc04)))
}
