package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.NearDup

/** Pins q54's stream band cap ([[NearDup.StreamBandCap]]) on one
  * micro-batch: a template farm whose copies each differ by one word
  * defeats the exact tier (every copy is its own class), so its
  * shared band keys hold more members than the cap. Those keys must
  * drop out of pair enumeration WITH a `<resDir>_capcensus` row, the
  * genuine near-dup pairs beside the farm must still be found, and a
  * farm-free batch must write no census at all.
  *
  * Fixture: the template is 100 distinct words; replacing one word
  * changes at most two of its 99 bigram shingles, so a copy keeps the
  * template's key in a band with probability ≈ 0.92 — 400 copies put
  * ~370 members on each farm key, well past the 256 cap. Each genuine
  * pair is 60 words of its own vocabulary with the last word changed
  * (Jaccard 58/60 ≥ 0.8). */
class NearDupCapSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  /** Words over the corpus alphabet (a–y), distinct per index. */
  private def word(i: Int): String = {
    val sb = new StringBuilder("w")
    var n = i
    do { sb.append(('a' + n % 25).toChar); n /= 25 } while (n > 0)
    sb.toString
  }

  private val template = (0 until 100).map(word)
  private val farm = (1 to 400).map { c =>
    (100000L + c, template.updated(c % 100, word(5000 + c)).mkString(" "))
  }
  private val genuine = (0 until 3).map { p =>
    val body = (0 until 60).map(i => word(1000 + 100 * p + i))
    val a = 10L + 2 * p
    ((a, body.mkString(" ")),
      (a + 1, body.updated(59, word(9000 + p)).mkString(" ")))
  }

  /** One batch through the q54 step; returns (result dir, results). */
  private def runBatch(docs: Seq[(Long, String)]): (String, DataFrame) = {
    val root = Files.createTempDirectory("graft_neardup_cap").toString
    val resDir = s"$root/out"
    NearDup.processBatch(
      docs.toDF("doc_id", "text").localCheckpoint(), 0L,
      resDir = resDir, bandRoot = s"$root/index", exactRoot = s"$root/exact")
    (resDir, spark.read.parquet(resDir))
  }

  private def pairs(res: DataFrame): Set[(Long, Long)] =
    res.select("doc_id", "dup_of").as[(Long, Long)].collect().toSet

  private val genuinePairs = genuine.map { case ((a, _), (b, _)) => (b, a) }.toSet
  private val genuineDocs = genuine.flatMap { case (x, y) => Seq(x, y) }

  test("a template farm over the cap is dropped with a census row; genuine pairs survive") {
    val (resDir, res) = runBatch(farm ++ genuineDocs)
    val census = spark.read.parquet(resDir + "_capcensus").collect()
    assert(census.nonEmpty, "a capped-out key must leave a census row")
    val hot = census.map(_.getAs[Long]("hot_keys")).max
    assert(hot > 0)
    assert(census.map(_.getAs[Long]("max_bucket")).max > NearDup.StreamBandCap)
    val found = pairs(res)
    assert(genuinePairs.subsetOf(found),
      s"genuine pairs missing: ${genuinePairs.diff(found)}")
  }

  test("without the farm no census file appears") {
    val (resDir, res) = runBatch(genuineDocs)
    assert(!Files.exists(Paths.get(resDir + "_capcensus")),
      "a batch under the cap must not write a census")
    assert(pairs(res) == genuinePairs)
  }
}
