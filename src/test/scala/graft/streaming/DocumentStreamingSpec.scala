package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession

final case class DocArrival(doc_id: Long, text: String, lang: String,
    arrived_at: Timestamp)

final case class EncodedArrival(doc_id: Long, source: String, n_tok: Long)

final case class TokArrival(doc_id: Long, source: String,
    pieces: Seq[String])

final case class CurDocArrival(doc_id: Long, text: String)

/** Streaming document dedup/profile under a real readStream with
  * watermarked state (the training-data intake path). */
class DocumentStreamingSpec extends AnyFunSuite with SparkTestSession {

  private def doc(id: Long, text: String, t: String, lang: String = "en") =
    DocArrival(id, text, lang, Timestamp.valueOf(t))

  test("dedupArrivals drops in-horizon duplicate content, keeps first") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[DocArrival]
    val query = DocumentStreaming.dedupArrivals(mem.toDF())
      .writeStream.format("memory").queryName("doc_dedup")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        doc(1, "the quick brown fox", "2024-01-01 00:00:00"),
        doc(2, "a different document", "2024-01-01 00:01:00"))
      query.processAllAvailable()
      // same content again (normalized: case/whitespace) in a later
      // micro-batch, still inside the watermark horizon -> dropped
      mem.addData(
        doc(3, "  The QUICK brown fox ", "2024-01-01 00:10:00"),
        doc(4, "yet another document", "2024-01-01 00:12:00"))
      query.processAllAvailable()
      val ids = sp.sql("SELECT doc_id FROM doc_dedup ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(1L, 2L, 4L))
    } finally query.stop()
  }

  test("arrivalProfile closes windowed language counts") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[DocArrival]
    val query = DocumentStreaming.arrivalProfile(mem.toDF())
      .writeStream.format("memory").queryName("doc_profile")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        doc(1, "abcd", "2024-01-01 00:10:00"),
        doc(2, "abcdefgh", "2024-01-01 00:20:00"),
        doc(3, "quatre", "2024-01-01 00:30:00", lang = "fr"))
      query.processAllAvailable()
      mem.addData(doc(9, "late", "2024-01-01 06:00:00")) // close windows
      query.processAllAvailable()
      val rows = sp.sql(
        """SELECT lang, n_docs, mean_len FROM doc_profile
          |WHERE ws = TIMESTAMP '2024-01-01 00:00:00'
          |ORDER BY lang""".stripMargin).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(rows == Seq(("en", 2L, 6.0), ("fr", 1L, 6.0)))
    } finally query.stop()
  }

  test("admissionSink dedups each batch against the accumulated index") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val root = java.nio.file.Files.createTempDirectory("admit").toString
    val (ix, out) = (s"$root/index", s"$root/admitted")
    val mem = MemoryStream[DocArrival]
    val query = mem.toDF().writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(DocumentStreaming.admissionSink(ix, out,
        "text", "doc_id"))
      .start()
    try {
      mem.addData(
        doc(1, "the quick brown fox jumps over the lazy dog",
          "2024-01-01 00:00:00"),
        doc(2, "completely different content about spark engines",
          "2024-01-01 00:01:00"))
      query.processAllAvailable()
      // batch 2: 10 dups batch1/#1 (cross-batch, caught via the index),
      // 11 fresh, 12 dups 11 (within-batch)
      mem.addData(
        doc(10, "the quick brown fox jumps over the lazy dog",
          "2024-01-01 01:00:00"),
        doc(11, "a corpus of training documents for language models",
          "2024-01-01 01:01:00"),
        doc(12, "a corpus of training documents for language models",
          "2024-01-01 01:02:00"))
      query.processAllAvailable()
      val admitted = sp.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      assert(admitted == Seq(1L, 2L, 11L))
      // the index holds exactly the admitted docs' signatures
      val indexed = sp.read.parquet(ix)
        .select("id").collect().map(_.getLong(0)).toSeq.sorted
      assert(indexed == Seq(1L, 2L, 11L))
    } finally query.stop()
  }

  test("substringStripSink strips duplicated runs against the " +
      "accumulated digest index across batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val root = java.nio.file.Files.createTempDirectory("sstrip").toString
    val (ix, out) = (s"$root/index", s"$root/stripped")
    val run = "one two three four five six"
    val mem = MemoryStream[DocArrival]
    val query = mem.toDF().writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(DocumentStreaming.substringStripSink(ix, out,
        "text", "doc_id", windowTokens = 4))
      .start()
    try {
      mem.addData(
        doc(1, s"$run aa bb", "2024-01-01 00:00:00"),
        doc(2, "solo words only here", "2024-01-01 00:01:00"))
      query.processAllAvailable()
      // batch 2: 10 copies batch1's run (cross-batch, via the index);
      // 11 is fresh and survives verbatim
      mem.addData(
        doc(10, s"xx $run yy", "2024-01-01 01:00:00"),
        doc(11, "fa fb fc fd fe m1 m2", "2024-01-01 01:01:00"))
      query.processAllAvailable()
      val texts = sp.read.parquet(out)
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(texts(1L) == s"$run aa bb")   // batch 1 admitted verbatim
      assert(texts(10L) == "xx yy")        // cross-batch run stripped
      assert(texts(11L) == "fa fb fc fd fe m1 m2")
      // the index accumulates distinct window digests across batches:
      // batch1 contributes 6 (5 from doc1 + 1 from doc2), batch2 adds
      // doc10's 2 fresh boundary windows + doc11's 4
      assert(sp.read.parquet(ix).distinct().count() == 12L)
    } finally query.stop()
  }

  test("contaminationSink screens arrivals; registerSuite grows the vocab") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val root = java.nio.file.Files.createTempDirectory("contam").toString
    val (vocab, out) = (s"$root/vocab", s"$root/screened")
    val benchA = "alpha beta gamma delta epsilon zeta"
    val benchB = "one two three four five six"
    DocumentStreaming.registerSuite(sp, vocab,
      Seq((100L, benchA)).toDF("doc_id", "text"), "text", "doc_id")
    val mem = MemoryStream[DocArrival]
    val query = mem.toDF().writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(DocumentStreaming.contaminationSink(vocab, out,
        "text", "doc_id"))
      .start()
    try {
      // batch 1: doc 1 copies suite A (flags), doc 2 copies suite B
      // (NOT yet registered — explicitly clean decision row)
      mem.addData(
        doc(1, benchA, "2024-01-01 00:00:00"),
        doc(2, benchB, "2024-01-01 00:01:00"))
      query.processAllAvailable()
      // suite B registers between batches; re-registering A is a no-op
      DocumentStreaming.registerSuite(sp, vocab,
        Seq((101L, benchB), (100L, benchA)).toDF("doc_id", "text"),
        "text", "doc_id")
      // batch 2: doc 3 copies suite B (now flags)
      mem.addData(doc(3, benchB, "2024-01-01 01:00:00"))
      query.processAllAvailable()
      val got = sp.read.parquet(out).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_hit"), r.getAs[Boolean]("contaminated"))))
        .toMap
      assert(got == Map(1L -> ((4L, true)), 2L -> ((0L, false)),
        3L -> ((4L, true))))
      // vocab stayed distinct across the duplicate registration
      val vx = sp.read.parquet(vocab)
      assert(vx.count() == vx.distinct().count() && vx.count() == 8L)
    } finally query.stop()
  }

  test("curationSink composes admission, strip and screen across batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val root = java.nio.file.Files.createTempDirectory("curate").toString
    val good = "the quick brown fox jumps over the lazy sleeping dog"
    val fresh = "many new ideas about the engines of autumn arrive today"
    // quality-PASSING suite text: doc 20's batch-3 assertion needs the
    // non-empty floor to be the binding constraint, not a quality fail
    val suite = "the ancient harbor lights glow over the quiet water tonight"
    DocumentStreaming.registerSuite(sp, s"$root/vocab",
      Seq((100L, suite)).toDF("doc_id", "text"), "text", "doc_id")
    val mem = MemoryStream[DocArrival]
    val query = mem.toDF().writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(DocumentStreaming.curationSink(root, "text",
        "doc_id", windowTokens = 4))
      .start()
    try {
      // batch 1: doc 1 clean and fresh (admitted); doc 2 copies the
      // suite verbatim (screened out)
      mem.addData(
        doc(1, good, "2024-01-01 00:00:00"),
        doc(2, suite, "2024-01-01 00:01:00"))
      query.processAllAvailable()
      // batch 2: doc 10 copies doc 1 verbatim (rejected via the sig
      // index); doc 11 embeds doc 1's run in fresh text (admitted with
      // the run stripped via the digest index)
      mem.addData(
        doc(10, good, "2024-01-01 01:00:00"),
        doc(11, s"$good $fresh", "2024-01-01 01:01:00"))
      query.processAllAvailable()
      val led = sp.read.parquet(s"$root/ledger").collect()
        .map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(led.keySet == Set(1L, 2L, 10L, 11L)) // a row per batch doc
      assert(led(1L).getAs[Boolean]("admitted") &&
        led(1L).getAs[Long]("stripped_tokens") == 0L)
      assert(led(2L).getAs[Boolean]("contaminated") &&
        !led(2L).getAs[Boolean]("admitted"))
      assert(led(10L).getAs[Boolean]("dup_of_index") &&
        !led(10L).getAs[Boolean]("admitted"))
      assert(led(11L).getAs[Boolean]("admitted") &&
        led(11L).getAs[Long]("stripped_tokens") == 10L)
      // batch 3: doc 20 re-arrives as another copy of the suite. The
      // screened-out doc 2 joined NEITHER index (a never-admitted doc
      // must not make its content permanently unadmittable), so 20
      // survives dedup AND the strip intact — and is then rejected for
      // the RIGHT reason: the screen flags it against the suite vocab
      mem.addData(doc(20, suite, "2024-01-01 02:00:00"))
      query.processAllAvailable()
      val led20 = sp.read.parquet(s"$root/ledger")
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(led20(20L).getAs[Boolean]("keep") &&
        !led20(20L).getAs[Boolean]("stripped_empty") &&
        led20(20L).getAs[Boolean]("contaminated") &&
        !led20(20L).getAs[Boolean]("admitted"))
      // the digest index holds exactly the ADMITTED text's windows:
      // doc 1's 7 + doc 11's post-strip 7; nothing from docs 2/10/20
      assert(sp.read.parquet(s"$root/substring_index").count() == 14L)
      val admitted = sp.read.parquet(s"$root/admitted").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      assert(admitted.keySet == Set(1L, 11L))
      assert(admitted(1L) == good)
      assert(admitted(11L) == fresh) // doc 1's run stripped, tail kept
      // the signature index holds ADMITTED docs only: doc 2 (screened
      // out) must not block a later clean arrival of the same text
      val ixIds = sp.read.parquet(s"$root/minhash_index")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(ixIds == Set(1L, 11L))
    } finally query.stop()
  }

  test("curationSink floors docs stripped to nothing (stripped_empty)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val root = java.nio.file.Files.createTempDirectory("curfloor").toString
    val good = "the quick brown fox jumps over the lazy sleeping dog"
    val mem = MemoryStream[DocArrival]
    // threshold 0.9 so a SUB-SLICE of an admitted doc (jaccard ~0.78)
    // passes the near-dup gate and reaches the strip
    val query = mem.toDF().writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(DocumentStreaming.curationSink(root, "text",
        "doc_id", threshold = 0.9, windowTokens = 4))
      .start()
    try {
      mem.addData(doc(1, good, "2024-01-01 00:00:00"))
      query.processAllAvailable()
      // doc 21 = tokens 1..8 of doc 1: every 4-token window is a
      // sub-window of admitted text, so the strip empties it; quality
      // passes and its zero shingles cannot flag — only the floor
      // (recorded as stripped_empty) keeps the empty doc out
      mem.addData(doc(21,
        "quick brown fox jumps over the lazy sleeping",
        "2024-01-01 01:00:00"))
      query.processAllAvailable()
      val led = sp.read.parquet(s"$root/ledger").collect()
        .map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(led(21L).getAs[Boolean]("passes") &&
        led(21L).getAs[Boolean]("keep") &&
        !led(21L).getAs[Boolean]("contaminated"))
      assert(led(21L).getAs[Boolean]("stripped_empty") &&
        !led(21L).getAs[Boolean]("admitted"))
      assert(sp.read.parquet(s"$root/admitted")
        .collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
    } finally query.stop()
  }

  test("curationSink: a quality-failed doc cannot reject or strip " +
      "its quality-passing near-dup sibling") {
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("curqual").toString
    val clean = "the quick brown fox jumps over lazy dogs tonight"
    // junk = clean + 40 copies of one token: minhash-similar to clean
    // (2 extra distinct shingles out of ~10) but diversity-FAILING
    // (10 distinct / 49 tokens < 0.3) — with the junk doc at the
    // SMALLER id, an ungated dedup would mark the clean doc
    // dup_of_delta; the quality gate must keep junk out of the feed
    val junk = clean + (" spam" * 40)
    val f = DocumentStreaming.curationSink(root, "text", "doc_id",
      windowTokens = 4)
    f(Seq((1L, junk), (2L, clean)).toDF("doc_id", "text"), 0L)
    val led = sp.read.parquet(s"$root/ledger").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!led(1L).getAs[Boolean]("passes") &&
      !led(1L).getAs[Boolean]("admitted"))
    // "never considered", not "kept": all three dedup columns false
    assert(!led(1L).getAs[Boolean]("dup_of_index") &&
      !led(1L).getAs[Boolean]("dup_of_delta") &&
      !led(1L).getAs[Boolean]("keep"))
    assert(led(2L).getAs[Boolean]("admitted") &&
      led(2L).getAs[Long]("stripped_tokens") == 0L)
    val ixIds = sp.read.parquet(s"$root/minhash_index")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ixIds == Set(2L))
  }

  test("curationSink replay recomputes identical decisions and " +
      "overwrites its own attempt (effectively-once)") {
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("curreplay").toString
    val good = "the quick brown fox jumps over the lazy sleeping dog"
    val fresh = "many new ideas about the engines of autumn arrive today"
    val f = DocumentStreaming.curationSink(root, "text", "doc_id",
      windowTokens = 4)
    f(Seq((1L, good)).toDF("doc_id", "text"), 0L)
    val b1 = Seq((10L, good), (11L, fresh)).toDF("doc_id", "text")
    f(b1, 1L)
    val firstLedger = sp.read.parquet(s"$root/ledger").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("keep"),
        r.getAs[Boolean]("admitted"))).toSet
    // the crash-replay: same batch df, same batch id — the state load
    // (batch_id < 1) must hide the first attempt's own appends, so the
    // decisions come out identical and every write lands on top of the
    // first attempt instead of beside it
    f(b1, 1L)
    val replayLedger = sp.read.parquet(s"$root/ledger").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("keep"),
        r.getAs[Boolean]("admitted"))).toSet
    assert(replayLedger == firstLedger)
    // exactly one ledger row per doc — no duplicated/contradictory rows
    assert(sp.read.parquet(s"$root/ledger").count() == 3L)
    val ix = sp.read.parquet(s"$root/minhash_index")
    assert(ix.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 11L))
    assert(sp.read.parquet(s"$root/admitted").count() == 2L)
  }

  test("admissionSink sees a flat BOOTSTRAPPED index as prior state " +
      "(not silently dropped)") {
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("admboot").toString
    val (ix, out) = (s"$root/index", s"$root/admitted")
    val good = "the quick brown fox jumps over the lazy dog"
    // bootstrap the signature index the documented way: a flat parquet
    // rebuild over the already-admitted corpus (no batch_id= dirs)
    graft.operators.TextDedup.minHashSignatures(
        Seq((1L, good)).toDF("doc_id", "text"), "text", "doc_id", 2, 16)
      .write.parquet(ix)
    val f = DocumentStreaming.admissionSink(ix, out, "text", "doc_id")
    // batch 0 re-delivers the bootstrapped content plus a fresh doc:
    // the flat rows must reject the dup (the old readState filtered
    // them out as batch_id=null and re-admitted everything)
    f(Seq((10L, good),
      (11L, "a corpus of training documents for language models"))
      .toDF("doc_id", "text"), 0L)
    assert(sp.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).toSeq == Seq(11L))
    // batch 1 sees flat bootstrap AND batch-0 state together
    f(Seq((20L, "a corpus of training documents for language models"))
      .toDF("doc_id", "text"), 1L)
    val admitted = sp.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(admitted == Set(11L))
  }

  test("compactState folds batch-keyed state into the flat bootstrap " +
      "layout a fresh-checkpoint restart can see") {
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("compact").toString
    val ix = s"$root/index"
    val good = "the quick brown fox jumps over the lazy dog"
    val fresh = "a corpus of training documents for language models"
    val f = DocumentStreaming.admissionSink(ix, s"$root/admitted",
      "text", "doc_id")
    f(Seq((1L, good)).toDF("doc_id", "text"), 0L)
    f(Seq((2L, fresh)).toDF("doc_id", "text"), 1L)
    val before = sp.read.parquet(ix).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val empty = graft.operators.TextDedup.minHashSignatures(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "text", "doc_id", 2, 16)
    DocumentStreaming.compactState(sp, ix, empty)
    // rows preserved byte-for-byte, no batch_id= dirs remain
    assert(sp.read.parquet(ix).collect().map(_.toSeq).toSet == before)
    assert(!new java.io.File(ix).listFiles().exists(_.getName
      .startsWith("batch_id=")))
    // a restarted stream (fresh checkpoint, batch ids from 0) now sees
    // the compacted state: a re-delivery of doc 1's content is rejected
    f(Seq((10L, good)).toDF("doc_id", "text"), 0L)
    val admitted = sp.read.parquet(s"$root/admitted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!admitted.contains(10L))
  }

  test("admissionSink replay: identical decisions, index cardinality " +
      "unchanged") {
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("admreplay").toString
    val (ix, out) = (s"$root/index", s"$root/admitted")
    val f = DocumentStreaming.admissionSink(ix, out, "text", "doc_id")
    f(Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"), 0L)
    val b1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // dup of 1
      (11L, "a corpus of training documents for language models"))
      .toDF("doc_id", "text")
    f(b1, 1L)
    f(b1, 1L) // replay
    assert(sp.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 11L))
    assert(sp.read.parquet(ix).count() == 2L) // one signature per kept doc
  }

  test("packSink continues sequences across micro-batches, byte-equal " +
      "to one batch run over the arrival order; replay is identical") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val root = java.nio.file.Files.createTempDirectory("packsink").toString
    val (st, out) = (s"$root/state", s"$root/packed")
    val mem = MemoryStream[EncodedArrival]
    val query = mem.toDF().writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(DocumentStreaming.packSink(st, out,
        "doc_id", "source", "n_tok", ctxLen = 10))
      .start()
    val b0 = Seq(EncodedArrival(1, "s1", 5), EncodedArrival(2, "s1", 3),
      EncodedArrival(3, "s2", 1))
    val b1 = Seq(EncodedArrival(10, "s1", 4), EncodedArrival(11, "s2", 9),
      EncodedArrival(12, "s3", 2))
    try {
      mem.addData(b0: _*); query.processAllAvailable()
      mem.addData(b1: _*); query.processAllAvailable()
    } finally query.stop()
    def packedRows = sp.read.parquet(out).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[String]("seq_id"),
        r.getAs[Long]("seq_off"))).toSet
    // byte-identical to ONE packTokenized run over the concatenated
    // arrival order (batch-0 ids sort before batch-1 ids per stream)
    val oneRun = graft.operators.Corpus.packTokenized(
      (b0 ++ b1).toDF("doc_id", "source", "n_tok"),
      "doc_id", "source", "n_tok", ctxLen = 10).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3),
        r.getLong(4))).toSet
    assert(packedRows == oneRun)
    // sequences CONTINUED: batch-1 docs pack into stream offsets the
    // batch-0 state implies, not a fresh 0
    assert(packedRows.contains((10L, "s1", 5L, "s1#1", 0L)))
    assert(packedRows.contains((11L, "s2", 10L, "s2#1", 0L)))
    // final state = latest row per stream
    def state = sp.read.parquet(st)
      .groupBy("source")
      .agg(org.apache.spark.sql.functions.max_by(
        org.apache.spark.sql.functions.col("next_end"),
        org.apache.spark.sql.functions.col("as_of_batch")).as("ne"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(state == Map("s1" -> 15L, "s2" -> 20L, "s3" -> 3L))
    // at-least-once replay of the last batch: the batch-keyed overwrite
    // + strictly-earlier state read recompute identical rows and state
    val before = packedRows
    DocumentStreaming.packSink(st, out, "doc_id", "source", "n_tok",
      ctxLen = 10)(b1.toDF(), 1L)
    assert(packedRows == before && state("s1") == 15L)
  }

  test("curationSink chains into packSink per micro-batch: only admitted " +
      "docs pack, sequences continue across batches") {
    // the full streaming training-data pipeline as a user composes it:
    // one foreachBatch closure runs curation, then token-counts THE
    // BATCH's own admitted partition (batch_id=N — replay-idempotent
    // like every stage) and packs it against the persisted fill state
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val root = java.nio.file.Files.createTempDirectory("curpack").toString
    val curate = DocumentStreaming.curationSink(root, "text", "doc_id",
      windowTokens = 4)
    val pack = DocumentStreaming.packSink(s"$root/pack_state",
      s"$root/packed", "doc_id", "source", "n_tok", ctxLen = 16)
    val pipeline: (org.apache.spark.sql.DataFrame, Long) => Unit = {
      (batch, batchId) =>
        import org.apache.spark.sql.functions.{col, lit, size}
        curate(batch, batchId)
        val admitted = sp.read.parquet(s"$root/admitted/batch_id=$batchId")
        pack(admitted.select(col("doc_id"), lit("s1").as("source"),
          size(graft.operators.Corpus.tokens(col("text"))).cast("long")
            .as("n_tok")), batchId)
    }
    val good = "the quick brown fox jumps over the lazy sleeping dog"
    val fresh = "many new ideas about the engines of autumn arrive today"
    val mem = MemoryStream[DocArrival]
    val query = mem.toDF().writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(pipeline)
      .start()
    try {
      mem.addData(doc(1, good, "2024-01-01 00:00:00"))
      query.processAllAvailable()
      // batch 2: doc 10 dups doc 1 (dropped — must NOT pack); doc 11
      // is fresh (admitted, continues doc 1's sequence)
      mem.addData(
        doc(10, good, "2024-01-01 01:00:00"),
        doc(11, fresh, "2024-01-01 01:01:00"))
      query.processAllAvailable()
    } finally query.stop()
    val packed = sp.read.parquet(s"$root/packed").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("seq_id"), r.getAs[Long]("seq_off")))).toMap
    // ONLY the admitted docs packed; doc 1 = 10 toks + eos fills
    // [0,11) of s1#0, doc 11 = 10 + eos crosses 16 -> starts s1#1 —
    // the batch-2 placement PROVES the fill state carried over
    assert(packed == Map(1L -> (("s1#0", 0L)), 11L -> (("s1#1", 0L))))
  }

  test("compactPackState re-bases to the bootstrap marker: a fresh-" +
      "checkpoint restart continues offsets and never resumes stale " +
      "pre-restart state") {
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("packrestart")
      .toString
    val st = s"$root/state"
    def sink(out: String) = DocumentStreaming.packSink(st, out,
      "doc_id", "source", "n_tok", ctxLen = 10)
    // first run: two batches end s1 at 6 then 10
    sink(s"$root/packed")(Seq((1L, "s1", 5L))
      .toDF("doc_id", "source", "n_tok"), 0L)
    sink(s"$root/packed")(Seq((2L, "s1", 3L))
      .toDF("doc_id", "source", "n_tok"), 1L)
    DocumentStreaming.compactPackState(sp, st)
    val flat = sp.read.parquet(st).collect()
    assert(flat.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq(("s1", 10L, -1L))) // one row, newest end, marker
    // fresh checkpoint: batch ids restart at 0. Restarted batch 0 must
    // continue from the compacted end (10 -> seq 1 @ 0); restarted
    // batch 1 must read batch 0's NEW state (15), which the stale
    // pre-restart as_of_batch values would have outranked un-re-based
    val out2 = s"$root/packed2"
    sink(out2)(Seq((10L, "s1", 4L))
      .toDF("doc_id", "source", "n_tok"), 0L)
    sink(out2)(Seq((11L, "s1", 4L))
      .toDF("doc_id", "source", "n_tok"), 1L)
    val got = sp.read.parquet(out2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("seq_id"), r.getAs[Long]("seq_off")))).toMap
    assert(got == Map(10L -> (("s1#1", 0L)), 11L -> (("s1#1", 5L))))
    val finalState = sp.read.parquet(st)
      .groupBy("source")
      .agg(org.apache.spark.sql.functions.max_by(
        org.apache.spark.sql.functions.col("next_end"),
        org.apache.spark.sql.functions.col("as_of_batch")).as("ne"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(finalState == Map("s1" -> 20L))
  }

  test("materializeSink emits ONLY finalized sequences per batch, " +
      "carries the partial tail, replays identically, and restarts " +
      "from the compacted snapshot") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val root = java.nio.file.Files.createTempDirectory("matsink").toString
    val (fill, tail, out) =
      (s"$root/fill", s"$root/tail", s"$root/out")
    val f = DocumentStreaming.materializeSink(fill, tail, out,
      "doc_id", "source", "pieces", ctxLen = 10)
    def toksDF(rows: (String, Seq[String])*) =
      rows.toSeq.toDF("doc_id", "pieces")
        .select(col("doc_id"), lit("s1").as("source"), col("pieces"))
    def outAt(b: Long) = sp.read.parquet(s"$out/batch_id=$b").collect()
      .map(r => r.getAs[String]("seq_id") ->
        r.getAs[Seq[String]]("tokens").toList).toMap
    def tailDocs = sp.read.parquet(tail)
    // batch 0: k 6 + k 4 land EXACTLY full -> s1#0 finalizes immediately
    f(toksDF("a1" -> Seq("t1", "t2", "t3", "t4", "t5"),
      "a2" -> Seq("u1", "u2", "u3")), 0L)
    assert(outAt(0) == Map("s1#0" -> List("t1", "t2", "t3", "t4", "t5",
      "[EOS]", "u1", "u2", "u3", "[EOS]")))
    // batch 1: k 5 starts s1#1 — partial, so NOTHING emits; a3 tails
    f(toksDF("a3" -> Seq("v1", "v2", "v3", "v4")), 1L)
    assert(outAt(1).isEmpty)
    assert(tailDocs.filter(col("as_of_batch") === 1L).collect()
      .map(_.getAs[String]("seq_id")).toSeq == Seq("s1#1"))
    // batch 2: k 10 crosses -> strands s1#1 (emitted WITH its padding)
    // and lands s1#2 exactly full (emitted too); tail empties
    f(toksDF("a4" -> (1 to 9).map(i => s"w$i")), 2L)
    assert(outAt(2) == Map(
      "s1#1" -> List("v1", "v2", "v3", "v4", "[EOS]",
        "[PAD]", "[PAD]", "[PAD]", "[PAD]", "[PAD]"),
      "s1#2" -> ((1 to 9).map(i => s"w$i").toList :+ "[EOS]")))
    assert(tailDocs.filter(col("as_of_batch") === 2L).count() == 0)
    // at-least-once replay of batch 2: identical emission, overwritten
    f(toksDF("a4" -> (1 to 9).map(i => s"w$i")), 2L)
    assert(outAt(2).keySet == Set("s1#1", "s1#2"))
    // fresh-checkpoint restart over the compacted snapshot: fill 30
    // carries (bound 3), the new doc starts s1#3 and tails
    DocumentStreaming.compactMaterializeState(sp, fill, tail)
    val out2 = s"$root/out2"
    DocumentStreaming.materializeSink(fill, tail, out2,
      "doc_id", "source", "pieces", ctxLen = 10)(
      toksDF("a5" -> Seq("x1", "x2")), 0L)
    assert(sp.read.parquet(s"$out2/batch_id=0").count() == 0)
    assert(tailDocs.filter(col("as_of_batch") === 0L).collect()
      .map(r => (r.getAs[String]("seq_id"), r.getAs[Long]("seq_off")))
      .toSeq == Seq(("s1#3", 0L)))
  }

  test("a torn materialize state pair (tail partition missing after a " +
      "crash between the paired writes) raises in the next sink batch, " +
      "compactMaterializeState and readMaterializedSink") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val root = java.nio.file.Files.createTempDirectory("matorn").toString
    val (fill, tail) = (s"$root/fill", s"$root/tail")
    val f = DocumentStreaming.materializeSink(fill, tail, s"$root/out",
      "doc_id", "source", "pieces", ctxLen = 10)
    def toksDF(id: String) = Seq(id -> Seq("t1", "t2", "t3"))
      .toDF("doc_id", "pieces")
      .select(col("doc_id"), lit("s1").as("source"), col("pieces"))
    f(toksDF("a1"), 0L)
    f(toksDF("a2"), 1L)
    graft.core.Scratch.deleteRec(s"$tail/batch_id=1")
    intercept[java.io.IOException](f(toksDF("a3"), 2L))
    intercept[java.io.IOException](
      DocumentStreaming.compactMaterializeState(sp, fill, tail))
    intercept[java.io.IOException](
      graft.operators.BpeQueries.readMaterializedSink(sp, root))
    // the refused compaction left the fill partition in place
    assert(new java.io.File(s"$fill/batch_id=1").isDirectory)
  }

  test("packSink under the real runtime: a durable file-source stream " +
      "stopped and RESTARTED on the same checkpoint resumes batch ids " +
      "and fill state; a fresh checkpoint resumes from compactPackState's " +
      "re-based bootstrap") {
    // closes the gap between "foreachBatch-compatible" (every sink spec
    // above drives the closure by hand or via MemoryStream) and "proven
    // under the real runtime": the file source's seen-files log lives in
    // the CHECKPOINT, so the restarted query must process ONLY the file
    // landed while it was down, as the next batch id — and the
    // batch-keyed parquet state must hand the fill offsets across both
    // restart styles
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("packrt").toString
    val arrivals = s"$root/arrivals"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(arrivals))
    val (st, out, out2) = (s"$root/state", s"$root/packed", s"$root/packed2")
    val sinkTo = (o: String) => DocumentStreaming.packSink(st, o,
      "doc_id", "source", "n_tok", ctxLen = 10)
    val schema = Seq.empty[EncodedArrival].toDS().schema
    // land one arrival FILE (not a parquet dir): the file source lists
    // leaf files, so write to scratch and move the part file in
    def land(dir: String, name: String, rows: Seq[EncodedArrival]): Unit = {
      val tmp = s"$root/tmp_$name"
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/$name.parquet"))
    }
    def run(src: String, ckpt: String, o: String): Unit = {
      val query = sp.readStream.schema(schema).parquet(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(sinkTo(o)).start()
      try query.processAllAvailable() finally query.stop()
    }
    val f0 = Seq(EncodedArrival(1, "a", 4), EncodedArrival(2, "a", 4),
      EncodedArrival(3, "b", 7))
    val f1 = Seq(EncodedArrival(4, "a", 3), EncodedArrival(5, "b", 10),
      EncodedArrival(6, "b", 1))
    val f2 = Seq(EncodedArrival(7, "a", 5), EncodedArrival(8, "c", 2),
      EncodedArrival(9, "b", 3))
    land(arrivals, "f0", f0)
    run(arrivals, s"$root/ckpt", out)   // batch 0 = f0
    land(arrivals, "f1", f1)            // lands while the query is DOWN
    run(arrivals, s"$root/ckpt", out)   // restart: batch 1 = f1 ONLY
    def packedOf(o: String, b: Long) =
      sp.read.parquet(s"$o/batch_id=$b").collect().map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
          r.getAs[String]("seq_id"), r.getAs[Long]("seq_off"))).toSet
    // the restarted runtime assigned f1 the NEXT batch id and saw f0's
    // state: doc 4 continues stream a at a#1, doc 6 fills b#0's tail
    assert(packedOf(out, 0L).map(_._1) == Set(1L, 2L, 3L))
    assert(packedOf(out, 1L) == Set(
      (4L, "a", "a#1", 0L), (5L, "b", null, -1L), (6L, "b", "b#0", 8L)))
    // fresh-checkpoint restart: compact the state to the -1 bootstrap
    // (batch ids restart at 0, which would hide batch-keyed rows) and
    // point the stream at a NEW landing zone + output dir (the
    // documented caveat: restarted ids OVERWRITE output partitions)
    DocumentStreaming.compactPackState(sp, st)
    val arrivals2 = s"$root/arrivals2"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(arrivals2))
    land(arrivals2, "f2", f2)
    run(arrivals2, s"$root/ckpt2", out2) // fresh batch 0 = f2
    // doc 7 lands at a#1 offset 4 — exactly where the pre-compaction
    // fill (end 14) says — so the bootstrap handed the state across
    assert(packedOf(out2, 0L) == Set(
      (7L, "a", "a#1", 4L), (8L, "c", "c#0", 0L), (9L, "b", "b#1", 0L)))
    // the three legs together are byte-identical to ONE batch run over
    // the concatenated arrival order
    val all = packedOf(out, 0L) ++ packedOf(out, 1L) ++ packedOf(out2, 0L)
    val oneRun = graft.operators.Corpus.packTokenized(
      (f0 ++ f1 ++ f2).toDF("doc_id", "source", "n_tok"),
      "doc_id", "source", "n_tok", ctxLen = 10).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(3), r.getLong(4))).toSet
    assert(all == oneRun)
    // final per-stream fill state (latest wins across bootstrap + batch)
    val state = sp.read.parquet(st)
      .groupBy("source")
      .agg(org.apache.spark.sql.functions.max_by(
        org.apache.spark.sql.functions.col("next_end"),
        org.apache.spark.sql.functions.col("as_of_batch")).as("ne"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(state == Map("a" -> 20L, "b" -> 14L, "c" -> 3L))
  }

  test("materializeSink under the real runtime: same-checkpoint restart " +
      "recovers fill AND carried tail payloads; a fresh checkpoint " +
      "resumes from compactMaterializeState's re-based snapshot") {
    // packSink's restart proof (above) covers the fill offsets; this
    // sink additionally carries PAYLOADS (the still-filling sequences'
    // token arrays) in the tail state — both restart styles must hand
    // them across, or a finalized sequence after restart would lose the
    // docs packed before it
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("matrt").toString
    val arrivals = s"$root/arrivals"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(arrivals))
    val (fill, tail) = (s"$root/fill", s"$root/tail")
    val sinkTo = (o: String) => DocumentStreaming.materializeSink(
      fill, tail, o, "doc_id", "source", "pieces", ctxLen = 6)
    val schema = Seq.empty[TokArrival].toDS().schema
    def land(dir: String, name: String, rows: Seq[TokArrival]): Unit = {
      val tmp = s"$root/tmp_$name"
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/$name.parquet"))
    }
    def run(src: String, ckpt: String, o: String): Unit = {
      val query = sp.readStream.schema(schema).parquet(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(sinkTo(o)).start()
      try query.processAllAvailable() finally query.stop()
    }
    def seqsOf(o: String, b: Long) =
      sp.read.parquet(s"$o/batch_id=$b").collect().map(r =>
        (r.getAs[String]("source"), r.getAs[String]("seq_id"),
          r.getAs[Long]("n_docs"), r.getAs[Long]("n_pad"),
          r.getAs[scala.collection.Seq[String]]("tokens").mkString(" ")))
        .toSet
    val f0 = Seq(TokArrival(1, "a", Seq("x1", "x2", "x3")),
      TokArrival(2, "b", Seq("y1", "y2")))
    val f1 = Seq(TokArrival(3, "a", Seq("x4")),
      TokArrival(4, "b", Seq("y3", "y4", "y5")))
    val f2 = Seq(TokArrival(5, "a", Seq("x5", "x6", "x7", "x8", "x9")),
      TokArrival(6, "b", Seq("y6")))
    land(arrivals, "f0", f0)
    run(arrivals, s"$root/ckpt", s"$root/out")  // batch 0 = f0
    // nothing finalizes in f0 — both streams' docs carry in the tail
    assert(seqsOf(s"$root/out", 0L).isEmpty)
    land(arrivals, "f1", f1)                    // lands while DOWN
    run(arrivals, s"$root/ckpt", s"$root/out")  // restart: batch 1 = f1
    // the restarted runtime finalized a#0 from d1's CARRIED payload +
    // d3, and b#0 from d2's carried payload alone (d4 jumps the ctx
    // boundary and carries) — restart handed fill AND tail across
    assert(seqsOf(s"$root/out", 1L) == Set(
      ("a", "a#0", 2L, 0L, "x1 x2 x3 [EOS] x4 [EOS]"),
      ("b", "b#0", 1L, 3L, "y1 y2 [EOS] [PAD] [PAD] [PAD]")))
    assert(sp.read.parquet(s"$tail/batch_id=1")
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[String]("seq_id"),
        r.getAs[scala.collection.Seq[String]]("_toks").mkString(" ")))
      .toSet == Set(("b", "b#1", "y3 y4 y5")))
    // fresh-checkpoint restart: re-base the state PAIR to the -1
    // bootstrap, then point the stream at a new landing zone + output
    DocumentStreaming.compactMaterializeState(sp, fill, tail)
    val arrivals2 = s"$root/arrivals2"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(arrivals2))
    land(arrivals2, "f2", f2)
    run(arrivals2, s"$root/ckpt2", s"$root/out2") // fresh batch 0 = f2
    // b#1 finalizes with d4's payload read through the COMPACTED tail
    assert(seqsOf(s"$root/out2", 0L) == Set(
      ("a", "a#1", 1L, 0L, "x5 x6 x7 x8 x9 [EOS]"),
      ("b", "b#1", 2L, 0L, "y3 y4 y5 [EOS] y6 [EOS]")))
    // the three legs together == ONE incrementalMaterialize run over
    // the concatenated arrival order (sequences, fill, tail)
    val all = seqsOf(s"$root/out", 0L) ++ seqsOf(s"$root/out", 1L) ++
      seqsOf(s"$root/out2", 0L)
    val (c1, f1s, t1s) = graft.operators.Corpus.incrementalMaterialize(
      (f0 ++ f1 ++ f2).toDF("doc_id", "source", "pieces"),
      graft.operators.Corpus.emptyPackState(sp),
      graft.operators.Corpus.emptyMaterializeTail(sp),
      "doc_id", "source", "pieces", ctxLen = 6)
    assert(all == c1.collect().map(r => (r.getString(0), r.getString(1),
      r.getLong(2), r.getLong(3),
      r.getAs[scala.collection.Seq[String]](4).mkString(" "))).toSet)
    assert(t1s.count() == 0L)
    val fillFinal = sp.read.parquet(s"$fill/batch_id=0")
      .collect().map(r => r.getAs[String]("source") ->
        r.getAs[Long]("next_end")).toMap
    assert(fillFinal == Map("a" -> 12L, "b" -> 12L))
    assert(fillFinal == f1s.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  test("curationSink under the real runtime: same-checkpoint restart " +
      "recovers both admission indexes; a fresh checkpoint resumes from " +
      "compactState'd index bootstraps in a new root") {
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("currt").toString
    val arrivals = s"$root/arrivals"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(arrivals))
    val root1 = s"$root/cur1"
    val sinkAt = (r: String) => DocumentStreaming.curationSink(r,
      "text", "doc_id", n = 2, numHashes = 16, bands = 4,
      threshold = 0.5, windowTokens = 4, shingleN = 3, flagAt = 0.8)
    val schema = Seq.empty[CurDocArrival].toDS().schema
    def land(dir: String, name: String, rows: Seq[CurDocArrival]): Unit = {
      val tmp = s"$root/tmp_$name"
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/$name.parquet"))
    }
    def run(src: String, ckpt: String, r: String): Unit = {
      val query = sp.readStream.schema(schema).parquet(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(sinkAt(r)).start()
      try query.processAllAvailable() finally query.stop()
    }
    def ledgerOf(r: String, b: Long) =
      sp.read.parquet(s"$r/ledger/batch_id=$b").collect().map(x =>
        x.getAs[Long]("doc_id") -> ((x.getAs[Boolean]("passes"),
          x.getAs[Boolean]("dup_of_index"),
          x.getAs[Long]("stripped_tokens"),
          x.getAs[Boolean]("contaminated"),
          x.getAs[Boolean]("admitted")))).toMap
    val d1 = CurDocArrival(1, "the w1 w2 w3 w4 w5 w6 w7")
    DocumentStreaming.registerSuite(sp, s"$root1/vocab",
      Seq((100L, (0 to 10).map(j => s"b$j").mkString(" ")))
        .toDF("doc_id", "text"), "text", "doc_id", n = 3)
    land(arrivals, "f0", Seq(d1))
    run(arrivals, s"$root/ckpt", root1)        // batch 0: d1 admitted
    assert(ledgerOf(root1, 0L) ==
      Map(1L -> ((true, false, 0L, false, true))))
    // land while DOWN: a verbatim copy (needs the minhash index), a doc
    // sharing d1's [w2 w3 w4 w5] window (needs the substring index),
    // and a fresh doc
    land(arrivals, "f1", Seq(
      CurDocArrival(2, d1.text),
      CurDocArrival(3, "the z1 z2 w2 w3 w4 w5 z3 z4 z5"),
      CurDocArrival(4, "the q1 q2 q3 q4 q5")))
    run(arrivals, s"$root/ckpt", root1)        // restart: batch 1 only
    assert(ledgerOf(root1, 1L) == Map(
      2L -> ((true, true, 0L, false, false)),   // dup via RECOVERED index
      3L -> ((true, false, 4L, false, true)),   // stripped via index
      4L -> ((true, false, 0L, false, true))))
    assert(sp.read.parquet(s"$root1/admitted/batch_id=1")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(3L -> "the z1 z2 z3 z4 z5",
        4L -> "the q1 q2 q3 q4 q5"))
    // fresh-checkpoint restart: batch ids restart at 0, which hides
    // batch-keyed state AND overwrites output partitions — so compact
    // both APPEND-style indexes to the flat bootstrap and carry them
    // (plus the flat vocab) into a NEW root
    DocumentStreaming.compactState(sp, s"$root1/minhash_index",
      graft.operators.TextDedup.minHashSignatures(
        Seq.empty[CurDocArrival].toDF("doc_id", "text").limit(0),
        "text", "doc_id", 2, 16))
    DocumentStreaming.compactState(sp, s"$root1/substring_index",
      graft.operators.Corpus.substringDigestIndex(
        Seq.empty[CurDocArrival].toDF("doc_id", "text").limit(0),
        "text", "doc_id", 4))
    val root2 = s"$root/cur2"
    Seq("minhash_index", "substring_index", "vocab").foreach { d =>
      sp.read.parquet(s"$root1/$d").write.parquet(s"$root2/$d")
    }
    val arrivals2 = s"$root/arrivals2"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(arrivals2))
    land(arrivals2, "f2", Seq(
      CurDocArrival(5, d1.text),                       // dup via bootstrap
      CurDocArrival(6, "the y1 w2 w3 w4 w5 y2 y3 y4"), // strip via bootstrap
      CurDocArrival(7, "the " + (0 to 10).map(j => s"b$j").mkString(" ")),
      CurDocArrival(8, "the r1 r2 r3 r4")))
    run(arrivals2, s"$root/ckpt2", root2)      // fresh batch 0 = f2
    assert(ledgerOf(root2, 0L) == Map(
      5L -> ((true, true, 0L, false, false)),
      6L -> ((true, false, 4L, false, true)),
      7L -> ((true, false, 0L, true, false)),  // vocab carried: contaminated
      8L -> ((true, false, 0L, false, true))))
    // the three legs admit exactly what ONE batch over the whole corpus
    // admits (this corpus sits in the split-invariance domain)
    val root3 = s"$root/cur3"
    Seq("vocab").foreach { d =>
      sp.read.parquet(s"$root1/$d").write.parquet(s"$root3/$d") }
    sinkAt(root3)(Seq(
      d1, CurDocArrival(2, d1.text),
      CurDocArrival(3, "the z1 z2 w2 w3 w4 w5 z3 z4 z5"),
      CurDocArrival(4, "the q1 q2 q3 q4 q5"),
      CurDocArrival(5, d1.text),
      CurDocArrival(6, "the y1 w2 w3 w4 w5 y2 y3 y4"),
      CurDocArrival(7, "the " + (0 to 10).map(j => s"b$j").mkString(" ")),
      CurDocArrival(8, "the r1 r2 r3 r4")).toDF("doc_id", "text"), 0L)
    def admittedAll(pairs: Seq[(String, Long)]) = pairs.flatMap {
      case (r, b) => sp.read.parquet(s"$r/admitted/batch_id=$b")
        .collect().map(x => x.getLong(0) -> x.getString(1)) }.toMap
    assert(admittedAll(Seq(root1 -> 0L, root1 -> 1L, root2 -> 0L)) ==
      admittedAll(Seq(root3 -> 0L)))
  }

  test("EmbeddingStreaming.admissionSink dedups semantically across batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val root = java.nio.file.Files.createTempDirectory("semadmit").toString
    val (ix, out) = (s"$root/index", s"$root/admitted")
    val cent = Seq((1L, Array(1.0, 0.0, 0.0)), (2L, Array(0.0, 1.0, 0.0)))
      .toDF("centroid_id", "vec")
    val mem = MemoryStream[(Long, Array[Float])]
    val query = mem.toDF().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(EmbeddingStreaming.admissionSink(ix, out, cent,
        "vec_id", "embedding", threshold = 0.95))
      .start()
    try {
      mem.addData(
        1L -> Array(1.0f, 0.0f, 0.0f),
        2L -> Array(0.0f, 1.0f, 0.0f))
      query.processAllAvailable()
      // batch 2: 10 is a semantic dup of batch-1/#1 (via the anchor
      // index), 11 is fresh, 12 dups 11 within the batch
      mem.addData(
        10L -> Array(0.95f, 0.05f, 0.0f),
        11L -> Array(0.5f, 0.5f, 0.70710678f),
        12L -> Array(0.5f, 0.5f, 0.70710678f))
      query.processAllAvailable()
      val admitted = sp.read.parquet(out)
        .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
      assert(admitted == Seq(1L, 2L, 11L))
      // the index holds the admitted vectors as cluster anchors
      val anchors = sp.read.parquet(ix)
        .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
      assert(anchors == Seq(1L, 2L, 11L))
    } finally query.stop()
  }
}
