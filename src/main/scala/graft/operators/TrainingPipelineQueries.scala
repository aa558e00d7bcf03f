package graft.operators

import org.apache.spark.sql.functions._

import graft.core.{QueryEntry, QueryModule, Tables}

/** End-to-end oracle gate for the COMPOSED streaming training pipeline:
  * [[graft.streaming.DocumentStreaming.curationSink]] → whitespace token
  * count → [[graft.streaming.DocumentStreaming.materializeSink]] (which
  * drives [[Corpus.incrementalPackTokenized]] — the packSink algebra —
  * internally; x_pack_sink gates that plumbing standalone).
  *
  * Every stage is hash-gated alone elsewhere (x_curation_sink, x_pack_sink,
  * x_materialize_incremental); this row gates the CHAIN: each arrival
  * batch's ADMITTED docs — and only those — feed packing immediately, in
  * the same micro-batch cadence a real intake runs. The DuckDB oracle
  * recomputes the whole composition from scratch (the x_curation_sink
  * three-batch expansion, then ONE greedy list_reduce fold over the
  * admitted docs in arrival order, then the sequence assembly), so the
  * admitted-only feed rule is byte-pinned: a rejected/duplicate/
  * contaminated doc consuming sequence space would shift every later
  * token in its stream and fail the hash, as would an admitted doc that
  * failed to reach packing.
  *
  * Columns gated: one row per FINALIZED training sequence — (source,
  * seq_id, n_docs, n_pad, tokens U+001F-joined byte content), each
  * stream's final fill offset (final_end) and carried-tail doc count
  * (n_tail_docs), plus the pipeline-wide ledger cardinalities
  * n_admitted / n_ledger (bounded driver-side counts; n_ledger counts
  * every corpus doc — one ledger row each — so admitted + rejected
  * coverage is pinned too).
  *
  * Scale shape: the chain adds NOTHING to the component costs — the
  * admitted batch flows straight from the curation sink's batch-keyed
  * output partition to the pack fill (O(streams) state), so the
  * composition is the sum of its stages, each already rehearsed
  * sublinear at 100×.
  */
object TrainingPipelineQueries extends QueryModule {

  private val Ctx = 384

  private def pipelineOracleSql: String =
    s"""WITH ${CurationSinkQueries.curationCtesSql},
       |admall AS (SELECT doc_id FROM adm0 UNION ALL
       |           SELECT doc_id FROM adm1 UNION ALL SELECT doc_id FROM adm2),
       |cnts AS (SELECT f.doc_id, d.source, len(f.ftoks) + 1 AS k
       |         FROM finall f JOIN admall USING (doc_id)
       |         JOIN documents d USING (doc_id)),
       |${BpeQueries.foldCtes("doc_id % 3, doc_id", Ctx)},
       |gl AS (SELECT (SELECT count(*) FROM admall) AS n_admitted,
       |              (SELECT count(*) FROM t) AS n_ledger),
       |${BpeQueries.materializeFoldSql("finall", "ftoks", Ctx,
         extraSelect = ",\n       gl.n_admitted, gl.n_ledger",
         extraFrom = "\nCROSS JOIN gl")}""".stripMargin

  override val entries: Seq[QueryEntry] = Seq(
    q("x_training_pipeline", pipelineOracleSql) { (s, dir) =>
      val d = Tables(s, dir, "documents")
      val isBench =
        pmod(col("doc_id"), lit(97)) === 0 && col("doc_id") < 5000
      val corpus = d.filter(!isBench).select("doc_id", "text")
      val srcDim = d.select(col("doc_id"), col("source")).localCheckpoint()
      val root = java.nio.file.Files
        .createTempDirectory("graft_training_pipeline").toString
      try {
        graft.streaming.DocumentStreaming.registerSuite(s,
          s"$root/cur/vocab", d.filter(isBench), "text", "doc_id", n = 3)
        // the shared parameter set — x_curation_sink's glue and the
        // oracle CTEs derive from the same object, so the chain cannot
        // silently diverge from its oracle on a constant change
        val P = CurationSinkQueries.CurationParams
        val curate = graft.streaming.DocumentStreaming.curationSink(
          s"$root/cur", "text", "doc_id", n = P.ngramN,
          numHashes = P.numHashes, bands = P.bands,
          threshold = P.threshold, windowTokens = P.windowTokens,
          shingleN = P.shingleN, flagAt = P.flagAt)
        val mat = graft.streaming.DocumentStreaming.materializeSink(
          s"$root/fill", s"$root/tail", s"$root/out",
          "doc_id", "source", "pieces", ctxLen = Ctx)
        (0 until 3).foreach { b =>
          curate(corpus.filter(pmod(col("doc_id"), lit(3)) === b), b.toLong)
          // THE chain: this batch's admitted partition — and only it —
          // feeds packing in the same micro-batch cadence
          val admitted = graft.streaming.BatchState
            .readBatch(s, s"$root/cur/admitted", b)
          mat(admitted.join(srcDim, Seq("doc_id"))
            .select(col("doc_id"), col("source"),
              Corpus.tokens(col("text")).as("pieces")), b.toLong)
        }
        // one scan for both ledger cardinalities
        val lc = s.read.parquet(s"$root/cur/ledger")
          .agg(count(lit(1)).as("n"),
            // coalesce: sum over ZERO rows is NULL, not 0 — an empty
            // corpus must report 0/0 like the oracle's count(*)s
            coalesce(sum(when(col("admitted"), 1L).otherwise(0L)),
              lit(0L)).as("na"))
          .collect()(0)
        val (nLedger, nAdmitted) = (lc.getLong(0), lc.getLong(1))
        BpeQueries.readMaterializedSink(s, root)
          .withColumn("n_admitted", lit(nAdmitted))
          .withColumn("n_ledger", lit(nLedger))
          .orderBy("source", "seq_id")
          .localCheckpoint()
      } finally CurationSinkQueries.deleteRec(root)
    })
}
