package graft.streaming

import graft.{Queries, SparkSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.Files
import java.sql.Timestamp

/** Structured Streaming facade: AvailableNow incremental passes over a file
  * source, and mapGroupsWithState offset tracking.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("hourlyBinCounts processes only new files per AvailableNow pass") {
    val dir = Files.createTempDirectory("graft-stream").toFile
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    Seq((1L, ts(10, 5), "view"), (2L, ts(10, 20), "click"), (3L, ts(11, 1), "view"))
      .toDF("event_id", "ts", "event_type")
      .write.parquet(in)

    val q1 = Streaming.hourlyBinCounts(spark, in, out, cp)
    q1.awaitTermination()
    // append mode emits a window only once the watermark (which advances
    // BETWEEN batches) passes its end — after pass 1 the watermark is
    // 11:01-2h, so nothing is final yet

    // second batch of files: a late 11:xx record plus a 14:xx record that
    // advances the watermark past both the 10:00 and 11:00 windows
    Seq((4L, ts(11, 30), "view"), (5L, ts(14, 10), "view"))
      .toDF("event_id", "ts", "event_type")
      .write.mode("append").parquet(in)
    val q2 = Streaming.hourlyBinCounts(spark, in, out, cp)
    q2.awaitTermination()
    val r2 = spark.read.parquet(out)
      .select("bin", "event_type", "n").as[(String, String, Long)].collect().toSet
    assert(r2 == Set(
      ("20240301_1000", "view", 1L),
      ("20240301_1000", "click", 1L),
      ("20240301_1100", "view", 2L))) // late 11:30 joined the 11:00 window
  }

  test("sessionCounts closes session windows once the watermark passes") {
    val dir = Files.createTempDirectory("graft-stream-sess").toFile
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    // u1: two events 10 min apart (one session), then a 40-min quiet gap
    // and one more (second session); u2: a single event
    Seq((1L, ts(10, 0)), (1L, ts(10, 10)), (1L, ts(10, 50)), (2L, ts(10, 5)))
      .toDF("user_id", "ts")
      .write.parquet(in)
    Streaming.sessionCounts(spark, in, out, cp).awaitTermination()
    // advance the watermark far enough to close every session above
    Seq((9L, ts(15, 0))).toDF("user_id", "ts")
      .write.mode("append").parquet(in)
    Streaming.sessionCounts(spark, in, out, cp).awaitTermination()
    val got = spark.read.parquet(out)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    def us(h: Int, m: Int) = ts(h, m).getTime * 1000L
    assert(got == Set(
      (1L, us(10, 0), us(10, 40), 2L),  // window end = last event + gap
      (1L, us(10, 50), us(11, 20), 1L),
      (2L, us(10, 5), us(10, 35), 1L)))
  }

  test("dedupStream emits each key once across micro-batches") {
    val dir = Files.createTempDirectory("graft-stream-dedup").toFile
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    // batch 1: id 2 duplicated inside the batch
    Seq((1L, ts(10, 0), "view"), (2L, ts(10, 5), "click"), (2L, ts(10, 6), "click"))
      .toDF("event_id", "ts", "event_type")
      .write.parquet(in)
    Streaming.dedupStream(spark, in, out, cp).awaitTermination()
    // batch 2: id 1 re-arrives within the watermark (dropped), id 3 is new
    Seq((1L, ts(10, 30), "view"), (3L, ts(11, 0), "scroll"))
      .toDF("event_id", "ts", "event_type")
      .write.mode("append").parquet(in)
    Streaming.dedupStream(spark, in, out, cp).awaitTermination()
    val ids = spark.read.parquet(out).select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("curateStream gates quality and dedups by fingerprint across batches") {
    val dir = Files.createTempDirectory("graft-stream-curate").toFile
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    val longA = "the quick brown fox jumps over the dog"
    val longB = "pack my box with five dozen liquor jugs"
    // batch 1: doc 2 duplicates doc 1's text; doc 3 is too short
    Seq((1L, ts(10, 0), longA), (2L, ts(10, 5), longA), (3L, ts(10, 6), "too short"))
      .toDF("doc_id", "ts", "text")
      .write.parquet(in)
    Streaming.curateStream(spark, in, out, cp).awaitTermination()
    // batch 2: doc 4 re-duplicates doc 1 within the watermark; doc 5 is new
    Seq((4L, ts(10, 30), longA), (5L, ts(11, 0), longB))
      .toDF("doc_id", "ts", "text")
      .write.mode("append").parquet(in)
    Streaming.curateStream(spark, in, out, cp).awaitTermination()
    val rows = spark.read.parquet(out)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows.map(_._1) == Seq(1L, 5L))
    assert(rows.forall(_._2 >= 5L))
  }

  test("curateStream keeps DISTINCT docs whose tokens share (length, first char)") {
    // the batch twin dedups on clean_text itself; a hash-fingerprint key
    // here once collapsed docs whose word codes collide — 'hello world'
    // and 'happy wings' agree pairwise in token length and first char —
    // silently deleting real data from the curated stream
    val dir = Files.createTempDirectory("graft-stream-collide").toFile
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val ts0 = Timestamp.valueOf("2024-03-01 10:00:00")
    Seq(
      (1L, ts0, "hello world fills enough tokens here today"),
      (2L, ts0, "happy wings fills enough tokens here today"))
      .toDF("doc_id", "ts", "text")
      .write.parquet(in)
    Streaming.curateStream(spark, in, out, cp).awaitTermination()
    val kept = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L), "word-code-colliding distinct docs must BOTH survive")
  }

  test("curateStream applies the batch pipeline's language gate (keepLangs)") {
    val dir = Files.createTempDirectory("graft-stream-curate-lang").toFile
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    def ts(m: Int) = Timestamp.valueOf(f"2024-03-01 10:$m%02d:00")
    val docs = Seq(
      (1L, ts(0), "the quick brown fox jumps over the dog"),
      (2L, ts(1), "der schnelle braune fuchs springt und der hund schläft und"))
    docs.toDF("doc_id", "ts", "text").write.parquet(in)
    val cfg = graft.pipelines.CorpusPipeline.Config(keepLangs = Set("en"))
    Streaming.curateStream(spark, in, out, cp, cfg = cfg).awaitTermination()
    val got = spark.read.parquet(out).select("doc_id", "pred_lang")
      .as[(Long, String)].collect().toSeq
    // identical gate as batch: whatever langs the batch rowLocalGate keeps,
    // the stream keeps — computed from the same annotate output
    val batchKept = graft.pipelines.CorpusPipeline
      .rowLocalGate(graft.pipelines.CorpusPipeline.annotate(
        docs.toDF("doc_id", "ts", "text"), "text"), cfg)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(got.map(_._1).sorted == batchKept)
    assert(got.forall(_._2 == "en"))
  }

  test("incrementalDedupStream dedups each batch against the persisted index") {
    val dir = Files.createTempDirectory("graft-stream-incr").toFile
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"; val ix = s"$dir/ix"
    val toks = (0 until 80).map(i => ("" + ('a' + i % 26).toChar) * (1 + i / 26))
    val refText = toks.mkString(" ")
    val nearText = (toks.dropRight(1) :+ "ZZZZ").mkString(" ")
    val ref = Seq((1L, refText)).toDF("doc_id", "text")
    graft.dedup.Incremental.saveIndex(
      graft.dedup.Incremental.buildIndex(ref, "doc_id", "text"), ix)
    // batch 1: an exact dup of the reference + a clean doc
    Seq((10L, refText), (11L, "totally different words only"))
      .toDF("doc_id", "text").write.parquet(in)
    Streaming.incrementalDedupStream(spark, in, out, cp, ix).awaitTermination()
    // batch 2: a near dup of the reference + another clean doc
    Seq((20L, nearText), (21L, "yet another clean document text"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)
    Streaming.incrementalDedupStream(spark, in, out, cp, ix).awaitTermination()
    val ids = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(11L, 21L))
    // third pass admits nothing new (checkpointed exactly-once)
    Streaming.incrementalDedupStream(spark, in, out, cp, ix).awaitTermination()
    assert(spark.read.parquet(out).count() == 2)
  }

  test("pqEncodeStream encodes arriving vectors against the persisted codebooks") {
    val dir = Files.createTempDirectory("graft-stream-pq").toFile
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"; val ix = s"$dir/ix"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") < 100)
    val cb = graft.similarity.PQ.train(corpus, "vec_id", "embedding", m = 8, ksub = 16, iters = 1)
    graft.similarity.PQ.saveIndex(cb,
      graft.similarity.PQ.encode(cb, corpus, "vec_id", "embedding"), ix)
    // two arrival batches of NEW vectors
    emb.filter(col("vec_id").between(100, 119)).write.parquet(in)
    Streaming.pqEncodeStream(spark, in, out, cp, ix).awaitTermination()
    emb.filter(col("vec_id").between(120, 139)).write.mode("append").parquet(in)
    Streaming.pqEncodeStream(spark, in, out, cp, ix).awaitTermination()
    val got = spark.read.parquet(out)
      .select(col("__id"), col("__codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val expect = graft.similarity.PQ
      .encode(cb, emb.filter(col("vec_id").between(100, 139)), "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(got == expect)
    // re-run admits nothing new (checkpointed exactly-once)
    Streaming.pqEncodeStream(spark, in, out, cp, ix).awaitTermination()
    assert(spark.read.parquet(out).count() == 40)
  }

  test("ivfEncodeStream assigns arriving vectors against the persisted centroids") {
    val dir = Files.createTempDirectory("graft-stream-ivf").toFile
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"; val ix = s"$dir/ix"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") < 100)
    val idx = graft.similarity.IVF.build(corpus, "vec_id", "embedding", nlist = 8, iters = 1)
    graft.similarity.IVF.saveIndex(idx, ix)
    // two arrival batches of NEW vectors
    emb.filter(col("vec_id").between(100, 119)).write.parquet(in)
    Streaming.ivfEncodeStream(spark, in, out, cp, ix).awaitTermination()
    emb.filter(col("vec_id").between(120, 139)).write.mode("append").parquet(in)
    Streaming.ivfEncodeStream(spark, in, out, cp, ix).awaitTermination()
    val got = spark.read.parquet(out)
      .select(col("__id"), col("__list"), col("__v"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2).toList))).toMap
    val expect = graft.similarity.IVF
      .encodeNew(idx.centroids, emb.filter(col("vec_id").between(100, 139)),
        "vec_id", "embedding")
      .select(col("__id"), col("__list"), col("__v"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2).toList))).toMap
    assert(got == expect)
    // re-run admits nothing new (checkpointed exactly-once)
    Streaming.ivfEncodeStream(spark, in, out, cp, ix).awaitTermination()
    assert(spark.read.parquet(out).count() == 40)
  }

  test("bqEncodeStream packs arriving vectors identically to the batch encode") {
    val dir = Files.createTempDirectory("graft-stream-bq").toFile
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // two arrival batches — BQ has no codebook, so there is no train step
    emb.filter(col("vec_id") < 20).write.parquet(in)
    Streaming.bqEncodeStream(spark, in, out, cp).awaitTermination()
    emb.filter(col("vec_id").between(20, 39)).write.mode("append").parquet(in)
    Streaming.bqEncodeStream(spark, in, out, cp).awaitTermination()
    val got = spark.read.parquet(out)
      .select(col("__id"), col("__code"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val expect = graft.similarity.BQ
      .encode(emb.filter(col("vec_id") < 40), "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(got == expect)
    // replay admits nothing new (checkpointed exactly-once)
    Streaming.bqEncodeStream(spark, in, out, cp).awaitTermination()
    assert(spark.read.parquet(out).count() == 40)
  }

  test("cmsStream deltas merge to the batch sketch's counters exactly") {
    val dir = Files.createTempDirectory("graft-stream-cms").toFile
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // two arrival waves
    docs.filter(col("doc_id") < 25).write.parquet(in)
    Streaming.cmsStream(spark, in, out, cp).awaitTermination()
    docs.filter(col("doc_id") >= 25).write.mode("append").parquet(in)
    Streaming.cmsStream(spark, in, out, cp).awaitTermination()
    val merged = Streaming.cmsCounters(spark, out)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the batch formulation over the SAME corpus in one pass
    import graft.text.Hashing.{A, B, P}
    val code = graft.text.Text.wordCode(col("w"))
    val buckets = (0 until 4).map { j =>
      struct(lit(j).as("j"), (((code % P) * A(j) + B(j)) % P % 256L).as("b"))
    }
    val expect = docs
      .select(explode(graft.text.Text.tokens(col("text"))).as("w"))
      .select(explode(array(buckets: _*)).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == expect)
    // replay admits nothing new (checkpointed exactly-once)
    Streaming.cmsStream(spark, in, out, cp).awaitTermination()
    val again = Streaming.cmsCounters(spark, out)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again == merged)
  }

  test("hllStream deltas max-merge to the batch sketch's registers exactly") {
    val dir = Files.createTempDirectory("graft-stream-hll").toFile
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // two arrival waves
    docs.filter(col("doc_id") < 25).write.parquet(in)
    Streaming.hllStream(spark, in, out, cp).awaitTermination()
    docs.filter(col("doc_id") >= 25).write.mode("append").parquet(in)
    Streaming.hllStream(spark, in, out, cp).awaitTermination()
    val merged = Streaming.hllRegisters(spark, out)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the batch formulation over the SAME corpus in one pass
    val hashed = docs
      .select(col("source"),
        explode(call_function("graft_shingles", col("text"))).as("sh"))
      .select(col("source"), graft.sketch.HLL.mix(col("sh")).as("h"))
    val expect = graft.sketch.HLL.registers(hashed, Seq("source"), "h")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == expect)
    // replay admits nothing new (idempotent max-merge + checkpoint)
    Streaming.hllStream(spark, in, out, cp).awaitTermination()
    val again = Streaming.hllRegisters(spark, out)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again == merged)
  }

  test("urlDedupStream admits one spelling per canonical URL; bad URLs all pass") {
    val dir = Files.createTempDirectory("graft-stream-url").toFile
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    def ts(m: Int) = Timestamp.valueOf(f"2024-03-01 10:$m%02d:00")
    // wave 1: two spellings of page 1 + one bad URL
    Seq(
      (1L, "https://a.com/p/1?utm_source=f", ts(0)),
      (2L, "HTTPS://WWW.A.com:443/p/1/", ts(1)),
      (3L, "not a url", ts(2)))
      .toDF("doc_id", "url", "ts").write.parquet(in)
    Streaming.urlDedupStream(spark, in, out, cp).awaitTermination()
    // wave 2: page 1 again under a third spelling, a new page, another bad URL
    Seq(
      (4L, "https://a.com/p/1#frag", ts(3)),
      (5L, "https://a.com/p/2", ts(4)),
      (6L, "also bad", ts(5)))
      .toDF("doc_id", "url", "ts").write.mode("append").parquet(in)
    Streaming.urlDedupStream(spark, in, out, cp).awaitTermination()
    val ids = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // page 1 admitted once (doc 1 or 2 — whichever the first batch emitted,
    // but never doc 4: its key was seen in an earlier batch); both bad-URL
    // docs survive; page 2 admitted
    assert(ids.intersect(Set(1L, 2L)).size == 1)
    assert(!ids.contains(4L))
    assert(Set(3L, 5L, 6L).subsetOf(ids))
  }

  test("urlFrontierRefreshStream: persisted frontier bars re-admission across waves") {
    val dir = Files.createTempDirectory("graft-stream-frontier").toFile
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val fp = s"$dir/frontier"
    def ts(m: Int) = Timestamp.valueOf(f"2024-03-01 10:$m%02d:00")
    // generation 1 (batch-built, persisted): page 1 is already crawled
    graft.dedup.UrlFrontier.saveIndex(
      graft.dedup.UrlFrontier.buildIndex(
        Seq((1L, "https://a.com/p/1?utm_source=f"))
          .toDF("doc_id", "url"), "doc_id", "url"), fp)
    // wave 1: a page-1 refetch, a new page, a bad URL
    Seq(
      (10L, "HTTPS://WWW.A.com:443/p/1/", ts(0)),
      (11L, "https://a.com/p/2", ts(1)),
      (12L, "not a url", ts(2)))
      .toDF("doc_id", "url", "ts").write.parquet(in)
    Streaming.urlFrontierRefreshStream(spark, in, out, cp, fp).awaitTermination()
    // wave 2: page 2 again (within-run state catches it), page 1 yet again
    // (the FRONTIER catches it), a new page
    Seq(
      (13L, "https://a.com/p/2#frag", ts(3)),
      (14L, "https://a.com/p/1", ts(4)),
      (15L, "https://a.com/p/3", ts(5)))
      .toDF("doc_id", "url", "ts").write.mode("append").parquet(in)
    Streaming.urlFrontierRefreshStream(spark, in, out, cp, fp).awaitTermination()
    val ids = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(11L, 12L, 15L))
    // batch parity: UrlFrontier.refresh over the union of both waves
    // admits the same docs (arrival order == id order here, so the
    // stream's keep-first matches the batch keep-min)
    val batchIds = graft.dedup.UrlFrontier.refresh(
        spark.read.parquet(in).select("doc_id", "url"),
        graft.dedup.UrlFrontier.loadIndex(spark, fp), "doc_id", "url")
      .select("doc_id").as[Long].collect().toSet
    assert(batchIds == ids)
  }

  test("quantileSampleStream deltas re-rank to the batch sample's quantiles exactly") {
    val dir = Files.createTempDirectory("graft-stream-quant").toFile
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // two arrival waves
    docs.filter(col("doc_id") < 25).write.parquet(in)
    Streaming.quantileSampleStream(spark, in, out, cp).awaitTermination()
    docs.filter(col("doc_id") >= 25).write.mode("append").parquet(in)
    Streaming.quantileSampleStream(spark, in, out, cp).awaitTermination()
    val merged = Streaming.quantileSample(spark, out)
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    // the batch formulation over the SAME corpus in one pass
    val expect = graft.sketch.SampleQuantiles.quantilesOfSample(
        graft.sketch.SampleQuantiles.bottomK(
          docs.select("source", "doc_id", "n_chars"), Seq("source"), "doc_id"),
        Seq("source"), "n_chars", "doc_id")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(merged == expect)
    // replay admits nothing new (idempotent delta overwrite + re-rank)
    Streaming.quantileSampleStream(spark, in, out, cp).awaitTermination()
    val again = Streaming.quantileSample(spark, out)
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(again == merged)
  }

  test("ewmaStream folds batches on top of prior state, equal to one batch fold") {
    val dir = Files.createTempDirectory("graft-stream-ewma").toFile
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // two arrival waves split by event id (ids arrive non-decreasing)
    events.filter(col("event_id") < 500).write.parquet(in)
    Streaming.ewmaStream(spark, in, out, cp).awaitTermination()
    events.filter(col("event_id") >= 500).write.mode("append").parquet(in)
    Streaming.ewmaStream(spark, in, out, cp).awaitTermination()
    val got = Streaming.ewmaState(spark, out)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the batch catalog query over the SAME events in one pass
    val expect = Queries.userEwma(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expect)
    // replay rebuilds the same state (keyed by batch id, not double-folded)
    Streaming.ewmaStream(spark, in, out, cp).awaitTermination()
    val again = Streaming.ewmaState(spark, out)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(again === got)
  }

  test("trackOffsets keeps per-key max offset and count across a batch") {
    val out = Streaming.trackOffsets(Seq((1L, 10L), (1L, 7L), (2L, 3L)).toDS())
      .collect().map(p => p.key -> (p.maxOffset, p.total)).toMap
    assert(out == Map(1L -> (10L, 2L), 2L -> (3L, 1L)))
  }
}
