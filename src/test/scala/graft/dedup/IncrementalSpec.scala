package graft.dedup

import graft.SparkSpec

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  // tokens with pairwise-distinct word codes (the code is length + first
  // char, so "w10".."w79" would all collapse to ONE code and starve the
  // shingle sets)
  private val toks = (0 until 80).map(i => ("" + ('a' + i % 26).toChar) * (1 + i / 26))
  private val refText1 = toks.mkString(" ")
  private val refText2 = (100 to 130).map(i => s"v$i").mkString(" ")
  // near-dup of refText1: only the last token differs (3-shingle Jaccard
  // 77/79 ~ 0.975; all 4 LSH bands collide on this data — checked offline)
  private val nearText = (toks.dropRight(1) :+ "ZZZZ").mkString(" ")

  test("new docs drop on exact fingerprint or verified band collision") {
    val ref = Seq((1L, refText1), (2L, refText2)).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, refText1),                       // exact duplicate of ref 1
      (11L, nearText),                       // near duplicate of ref 1
      (12L, "totally different words only")) // clean
      .toDF("doc_id", "text")
    val out = Incremental.survivors(fresh, ref, "doc_id", "text", minBp = 8000L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(12L))
  }

  test("within-batch duplicates are not this operator's concern") {
    val ref = Seq((1L, refText1)).toDF("doc_id", "text")
    val dup = "same text repeated across the new batch only"
    val fresh = Seq((20L, dup), (21L, dup)).toDF("doc_id", "text")
    val out = Incremental.survivors(fresh, ref, "doc_id", "text", minBp = 8000L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(20L, 21L)) // both survive: neither is in the reference
  }

  test("short docs (<3 tokens) skip the band legs but still exact-dedup") {
    // every short doc shares the sentinel minhash signature; without the
    // band-leg prefilter this corpus would band-join all short pairs M x N
    val ref = Seq((1L, "ok"), (2L, "hi there"), (3L, refText1)).toDF("doc_id", "text")
    val fresh = Seq(
      (40L, "ok"),        // exact dup of a short ref doc -> dropped
      (41L, "yo"),        // short but unique -> survives
      (42L, nearText))    // near dup of long ref doc -> dropped
      .toDF("doc_id", "text")
    val out = Incremental.survivors(fresh, ref, "doc_id", "text", minBp = 8000L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(41L))
  }

  test("persisted index: refresh runs from parquet alone and matches inline") {
    val dir = java.nio.file.Files.createTempDirectory("graft-incr-index").toFile
    val ref = Seq((1L, refText1), (2L, refText2)).toDF("doc_id", "text")
    Incremental.saveIndex(
      Incremental.buildIndex(ref, "doc_id", "text"), dir.toString)
    // the refresh side: loadIndex is pure parquet scans — the reference
    // TEXT is not an input anywhere on this path, so nothing reference-side
    // can be recomputed
    val idx = Incremental.loadIndex(spark, dir.toString)
    assert(idx.fps.schema.fieldNames.toSeq == Seq("__id", "__fp"))
    val fresh = Seq(
      (10L, refText1),                       // exact duplicate of ref 1
      (11L, nearText),                       // near duplicate of ref 1
      (12L, "totally different words only")) // clean
      .toDF("doc_id", "text")
    val fromIndex = Incremental
      .survivors(fresh, idx, "doc_id", "text", 8000L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val inline = Incremental.survivors(fresh, ref, "doc_id", "text", minBp = 8000L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(fromIndex == Seq(12L))
    assert(fromIndex == inline)
    // a second batch reuses the same loaded index unchanged
    val batch2 = Seq((20L, refText2), (21L, "yet another clean document text"))
      .toDF("doc_id", "text")
    val out2 = Incremental
      .survivors(batch2, idx, "doc_id", "text", 8000L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out2 == Seq(21L))
  }

  test("an empty reference drops nothing") {
    val ref = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val fresh = Seq((30L, refText1), (31L, refText2)).toDF("doc_id", "text")
    val out = Incremental.survivors(fresh, ref, "doc_id", "text", minBp = 8000L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(30L, 31L))
  }
}
