package graft.operators

import graft.core.{QueryEntry, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** BPE merge-learning queries over `documents` (see [[Bpe]]).
  *
  * Oracle strategy mirrors x_ivf_train: one training round is what SQL
  * expresses non-recursively, so x_bpe_train oracles round 1's pair
  * statistics and x_bpe_train2 oracles round 2 END-TO-END (learn the
  * argmax merge, fold it through every vocabulary word, recount) — the
  * fold is a DuckDB list_reduce with the same accumulator discipline as
  * the Spark `aggregate`. Deeper rounds are the same fold iterated;
  * BpeSpec pins them on fixtures with hand-computed merge tables.
  */
object BpeQueries extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Shared SQL prefix: word frequencies (the corpus-scale pass). */
  private val wcSql =
    """w AS (
      |  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                x -> x <> '')) AS word
      |  FROM documents),
      |wc AS (SELECT word, count(*) AS wc FROM w GROUP BY word)""".stripMargin

  /** DuckDB twin of [[Bpe.applyMerge]]: left-fold over the word's chars
    * with a tab-joined accumulator; trailing-symbol-== a test via
    * ends_with on the separator. `a`/`b` are the merge-rule columns. */
  private def foldSql(chars: String, a: String, b: String): String =
    s"""list_reduce($chars,
       |  (acc, x) -> CASE WHEN (acc = $a OR ends_with(acc, chr(9) || $a))
       |                    AND x = $b
       |              THEN acc || x ELSE acc || chr(9) || x END)""".stripMargin

  private def sparkVocab(s: SparkSession, dir: String): DataFrame =
    Bpe.wordCounts(docs(s, dir), "text")
      .select(col("wc"), Bpe.charSymbols(col("word")).as("syms"))

  /** Shared encode prefix of the x_pack_* family: the one-merge BPE
    * segmentation as a (word, pieces array) dimension. */
  private def segPieces(s: SparkSession, dir: String): DataFrame = {
    val vocab = Bpe.wordCounts(docs(s, dir), "text")
      .select(col("word"), col("wc"), Bpe.charSymbols(col("word")).as("syms"))
    val m1 = Bpe.pairCounts(vocab)
      .orderBy(col("cnt").desc, col("pair_a"), col("pair_b"))
      .limit(1)
      .select(col("pair_a").as("_ma"), col("pair_b").as("_mb"))
    vocab.join(broadcast(m1), lit(true), "left")
      .select(col("word"),
        Bpe.applyMerge(col("syms"), col("_ma"), col("_mb")).as("pieces"))
  }

  /** Per-(doc, source) BPE token counts after ONE learned merge (the
    * x_bpe_encode shape, with the source stream carried for packing). */
  private def encodedCounts(s: SparkSession, dir: String): DataFrame =
    // FanOut before the per-token explode + dimension probe: the
    // single-row-group scan otherwise runs the whole encode serially
    graft.core.FanOut(docs(s, dir))
      .select(col("doc_id"), col("source"),
        explode(Corpus.tokens(col("text"))).as("word"))
      .join(broadcast(segPieces(s, dir)
        .select(col("word"), size(col("pieces")).cast("long")
          .as("n_pieces"))), Seq("word"))
      .groupBy("doc_id", "source")
      .agg(sum("n_pieces").as("bpe_tokens"))

  /** Per-(doc, source) encoded piece ARRAYS in word order — the
    * payload twin of [[encodedCounts]] (size(pieces) == bpe_tokens by
    * construction: same [[segPieces]] dimension). */
  private def encodedTokens(s: SparkSession, dir: String): DataFrame =
    // FanOut: same reason as encodedCounts (serial scan stage)
    graft.core.FanOut(docs(s, dir))
      .select(col("doc_id"), col("source"),
        posexplode(Corpus.tokens(col("text"))).as(Seq("pos", "word")))
      .join(broadcast(segPieces(s, dir)), Seq("word"))
      .groupBy("doc_id", "source")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("pieces")))),
        p => p("pieces"))).as("pieces"))

  /** DuckDB twin of [[segPieces]] + positioned tokens: CTE block ending
    * in `segp` (word, pieces list) and `tok` (doc_id, source, word, i). */
  private val segSql =
    s"""$wcSql,
       |pr0 AS (SELECT word, wc, unnest(range(1, len(word))) AS i
       |        FROM wc WHERE len(word) >= 2),
       |pc0 AS (SELECT word[i] AS a, word[i+1] AS b, sum(wc) AS cnt
       |        FROM pr0 GROUP BY 1, 2),
       |m1 AS (SELECT a, b FROM pc0 ORDER BY cnt DESC, a, b LIMIT 1),
       |segp AS (SELECT wc.word,
       |          string_split(${foldSql(
         "list_transform(range(1, len(wc.word) + 1), i -> wc.word[i])",
         "m.a", "m.b")}, chr(9)) AS pieces
       |        FROM wc LEFT JOIN m1 m ON TRUE),
       |tokl AS (SELECT doc_id, source,
       |           list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |             x -> x <> '') AS ws
       |         FROM documents),
       |tok AS (SELECT doc_id, source, unnest(ws) AS word,
       |               unnest(range(1, len(ws) + 1)) AS i
       |        FROM tokl)""".stripMargin

  /** DuckDB twin of [[encodedCounts]] (CTE block ending in `cnts`:
    * (doc_id, source, k = bpe_tokens + 1 EOS)). */
  private val cntsSql =
    s"""$segSql,
       |cnts AS (
       |  SELECT t.doc_id, t.source,
       |         CAST(sum(len(s.pieces)) AS BIGINT) + 1 AS k
       |  FROM tok t JOIN segp s USING (word)
       |  GROUP BY t.doc_id, t.source)""".stripMargin

  /** The ONE greedy-fold CTE pair every pack oracle shares (incl.
    * x_training_pipeline's): `ord` (per-stream doc/cost lists from a
    * `cnts` CTE of (doc_id, source, k), in `orderKey` order) and `ends`
    * (the list_reduce running-end scan — seed [k1], each step either
    * continues the fill or jumps to the next ctx boundary). A fold fix
    * lands here once or the oracles diverge. */
  private[operators] def foldCtes(orderKey: String,
      ctx: Int = 384): String =
    s"""ord AS (SELECT source,
       |          list(doc_id ORDER BY $orderKey) AS ids,
       |          list(k ORDER BY $orderKey) AS ks
       |        FROM cnts WHERE k <= $ctx GROUP BY source),
       |ends AS (SELECT source, ids, ks,
       |           list_reduce(list_transform(ks, k -> [k]),
       |             (a, x) -> list_append(a,
       |               CASE WHEN (a[-1] % $ctx) + x[1] > $ctx
       |                    THEN (a[-1] // $ctx + 1) * $ctx + x[1]
       |                    ELSE a[-1] + x[1] END)) AS es
       |         FROM ord)""".stripMargin

  /** The incremental-materialization assembly every sink oracle shares
    * (on top of [[foldCtes]]'s `ends`): `bound`/`pk`/`tails`, the
    * finalized-only sequence assembly (idx < floor(final_end/ctx)), and
    * the final SELECT with the U+001F-joined tokens scalar. `tokRel`/
    * `tokCol` name the doc_id-keyed relation holding each doc's encoded
    * piece list; `extraSelect`/`extraFrom` append oracle-specific
    * columns and sources. A finalization, tail-count, or serialization
    * fix lands HERE once or the sink oracles diverge (the foldCtes
    * rule). */
  private[operators] def materializeFoldSql(tokRel: String,
      tokCol: String, ctx: Int = 384, extraSelect: String = "",
      extraFrom: String = ""): String =
    s"""bound AS (SELECT source, es[-1] AS final_end,
       |                 es[-1] // $ctx AS b
       |          FROM ends),
       |pk AS (SELECT source, unnest(ids) AS doc_id,
       |              unnest(es) AS e, unnest(ks) AS k
       |       FROM ends),
       |tails AS (SELECT p.source, count(*) AS n_tail_docs
       |          FROM pk p JOIN bound b USING (source)
       |          WHERE (p.e - p.k) // $ctx >= b.b
       |          GROUP BY p.source),
       |sq AS (SELECT p.source,
       |              p.source || '#' || CAST((p.e - p.k) // $ctx
       |                AS VARCHAR) AS seq_id,
       |              bd.final_end,
       |              count(*) AS n_docs,
       |              flatten(list(list_append(d.$tokCol, '[EOS]')
       |                ORDER BY (p.e - p.k) % $ctx)) AS body
       |       FROM pk p
       |       JOIN bound bd USING (source)
       |       JOIN $tokRel d USING (doc_id)
       |       WHERE (p.e - p.k) // $ctx < bd.b
       |       GROUP BY 1, 2, 3)
       |SELECT s.source, s.seq_id, s.n_docs,
       |       $ctx - len(body) AS n_pad,
       |       array_to_string(list_concat(body,
       |         list_transform(range(1, $ctx - len(body) + 1),
       |           x -> '[PAD]')), chr(31)) AS tokens,
       |       s.final_end,
       |       coalesce(t.n_tail_docs, 0) AS n_tail_docs$extraSelect
       |FROM sq s
       |LEFT JOIN tails t USING (source)$extraFrom
       |ORDER BY source, seq_id""".stripMargin

  /** Read back a [[graft.streaming.DocumentStreaming.materializeSink]]
    * scratch root as the oracle-comparable frame: finalized sequences
    * (tokens U+001F-joined — the j12/a4 scalar rule) joined with each
    * stream's final fill offset and carried-tail doc count, both read
    * as the sink's own paired fill/tail snapshot (latest on disk; a torn
    * pair raises). Callers append extra columns, then order and
    * checkpoint. Shared by x_materialize_incremental and
    * x_training_pipeline — glue fixes land here once. */
  private[graft] def readMaterializedSink(
      s: SparkSession, root: String): DataFrame = {
    val Seq(fillSnap, tailSnap) = graft.streaming.BatchState.readSnapshot(
      s, Long.MaxValue, s"$root/fill" -> Corpus.emptyPackState(s),
      s"$root/tail" -> Corpus.emptyMaterializeTail(s))
    val finalFill = fillSnap
      .select(col("source"), col("next_end").as("final_end"))
    val tailCnt = tailSnap
      .groupBy("source").agg(count(lit(1)).as("_nt"))
    s.read.parquet(s"$root/out")
      .join(finalFill, Seq("source"))
      .join(tailCnt, Seq("source"), "left")
      .select(col("source"), col("seq_id"), col("n_docs"),
        col("n_pad"),
        array_join(col("tokens"), "\u001f").as("tokens"),
        col("final_end"),
        coalesce(col("_nt"), lit(0L)).as("n_tail_docs"))
  }

  /** DuckDB twin of packing `cnts` incrementally in `nBatches` arrival
    * batches (batch b = doc_id % nBatches = b, ids ascending within a
    * batch): ONE list_reduce greedy fold over the concatenated order —
    * the byte-identity the incremental forms guarantee. Emits the
    * batch index as `batchCol` and each stream's final fill offset as
    * `final_end`. */
  private def packFoldSql(nBatches: Int, batchCol: String,
      ctx: Int = 384): String =
    s"""WITH $cntsSql,
       |${foldCtes(s"doc_id % $nBatches, doc_id", ctx)},
       |fe AS (SELECT source, es[-1] AS final_end FROM ends),
       |packed AS (SELECT source, unnest(ids) AS doc_id,
       |                  unnest(es) AS e, unnest(ks) AS k
       |           FROM ends)
       |SELECT p.doc_id, p.source, p.k AS n_tokens,
       |       p.source || '#' || CAST((p.e - p.k) // $ctx AS VARCHAR)
       |         AS seq_id,
       |       (p.e - p.k) % $ctx AS seq_off, FALSE AS overlong,
       |       p.doc_id % $nBatches AS $batchCol, f.final_end
       |-- null-safe state joins in BOTH branches: a null-source stream
       |-- still packs and keeps state (the operator's documented rule),
       |-- so its rows must pick up final_end, not vanish (packed
       |-- branch) or coalesce to 0 past real state (overlong branch)
       |FROM packed p JOIN fe f ON p.source IS NOT DISTINCT FROM f.source
       |UNION ALL
       |SELECT c.doc_id, c.source, c.k AS n_tokens,
       |       CAST(NULL AS VARCHAR) AS seq_id,
       |       CAST(-1 AS BIGINT) AS seq_off, TRUE AS overlong,
       |       c.doc_id % $nBatches AS $batchCol,
       |       coalesce(f.final_end, 0) AS final_end
       |FROM cnts c LEFT JOIN fe f ON c.source IS NOT DISTINCT FROM f.source
       |WHERE c.k > $ctx
       |ORDER BY doc_id""".stripMargin

  private def topPairs(pc: DataFrame, k: Int): DataFrame = {
    val ranked = pc
      .select(concat_ws(" ", col("pair_a"), col("pair_b")).as("pair"),
        col("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
    // rank over ≤ k rows: bounded single-partition window (vocabTopK's
    // TakeOrderedAndProject-then-small-window shape)
    val w = Window.orderBy(col("cnt").desc, col("pair"))
    ranked.withColumn("rank", row_number().over(w).cast("long"))
  }

  override val entries: Seq[QueryEntry] = Seq(

    // Round-1 BPE pair statistics: frequency-weighted adjacent character
    // pair counts over the DISTINCT-WORD table — the argmax row is the
    // first merge BPE learns. The corpus-scale pass is the word count
    // (map-side combine); pair explode + count run on the bounded vocab.
    q("x_bpe_train",
      s"""WITH $wcSql,
         |pr AS (SELECT word, wc, unnest(range(1, len(word))) AS i
         |       FROM wc WHERE len(word) >= 2),
         |pc AS (SELECT word[i] || ' ' || word[i+1] AS pair,
         |              CAST(sum(wc) AS BIGINT) AS cnt
         |       FROM pr GROUP BY 1)
         |SELECT pair, cnt,
         |       CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT)
         |         AS rank
         |FROM pc ORDER BY cnt DESC, pair LIMIT 20""") { (s, dir) =>
      topPairs(Bpe.pairCounts(sparkVocab(s, dir)), 20)
    },

    // Round-2 end-to-end: learn round 1's argmax merge (cnt desc, then
    // pair bytes — engine-stable), apply it to every vocabulary word
    // with the left-to-right non-overlapping fold, recount pairs over
    // the merged symbols. The merge rule reaches the fold as a broadcast
    // 1-row cross join, not a driver collect, so the whole round is one
    // declarative plan; merged symbols are multi-char, proving the fold
    // round-trips through the segmentation representation.
    q("x_bpe_train2",
      s"""WITH $wcSql,
         |pr0 AS (SELECT word, wc, unnest(range(1, len(word))) AS i
         |        FROM wc WHERE len(word) >= 2),
         |pc0 AS (SELECT word[i] AS a, word[i+1] AS b, sum(wc) AS cnt
         |        FROM pr0 GROUP BY 1, 2),
         |m1 AS (SELECT a, b FROM pc0 ORDER BY cnt DESC, a, b LIMIT 1),
         |seg AS (SELECT wc.wc,
         |          string_split(${foldSql(
               "list_transform(range(1, len(wc.word) + 1), i -> wc.word[i])",
               "m.a", "m.b")}, chr(9)) AS ss
         |        FROM wc, m1 m),
         |pr AS (SELECT wc, ss, unnest(range(1, len(ss))) AS i
         |       FROM seg WHERE len(ss) >= 2),
         |pc AS (SELECT ss[i] || ' ' || ss[i+1] AS pair,
         |              CAST(sum(wc) AS BIGINT) AS cnt
         |       FROM pr GROUP BY 1)
         |SELECT pair, cnt,
         |       CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT)
         |         AS rank
         |FROM pc ORDER BY cnt DESC, pair LIMIT 20""") { (s, dir) =>
      val vocab = sparkVocab(s, dir)
      val m1 = Bpe.pairCounts(vocab)
        .orderBy(col("cnt").desc, col("pair_a"), col("pair_b"))
        .limit(1)
        .select(col("pair_a").as("_ma"), col("pair_b").as("_mb"))
      val merged = vocab.crossJoin(broadcast(m1))
        .select(col("wc"),
          Bpe.applyMerge(col("syms"), col("_ma"), col("_mb")).as("syms"))
      topPairs(Bpe.pairCounts(merged), 20)
    },

    // Corpus-side BPE encoding — the apply half of the train/apply
    // split: the segmented DICTIONARY (bounded, one fold per distinct
    // word under the learned round-1 merge) broadcasts, and the corpus
    // streams through one dictionary join + per-doc aggregation. Piece
    // counts are what a token-budget planner consumes; at 100 TB the
    // corpus is never character-exploded — only the vocab is.
    q("x_bpe_encode",
      s"""WITH $wcSql,
         |pr0 AS (SELECT word, wc, unnest(range(1, len(word))) AS i
         |        FROM wc WHERE len(word) >= 2),
         |pc0 AS (SELECT word[i] AS a, word[i+1] AS b, sum(wc) AS cnt
         |        FROM pr0 GROUP BY 1, 2),
         |m1 AS (SELECT a, b FROM pc0 ORDER BY cnt DESC, a, b LIMIT 1),
         |-- LEFT join on TRUE, not a cross join: a corpus with no
         |-- learnable pair (every word 1 char) must still encode every
         |-- word as its characters, not annihilate the dictionary (the
         |-- fold's CASE is null-safe: null merge rule never matches)
         |seg AS (SELECT wc.word,
         |          len(string_split(${foldSql(
               "list_transform(range(1, len(wc.word) + 1), i -> wc.word[i])",
               "m.a", "m.b")}, chr(9))) AS n_pieces
         |        FROM wc LEFT JOIN m1 m ON TRUE),
         |tok AS (
         |  SELECT doc_id, unnest(list_filter(
         |           regexp_split_to_array(trim(text), '\\s+'),
         |           x -> x <> '')) AS word
         |  FROM documents)
         |SELECT t.doc_id, count(*) AS ws_tokens,
         |       CAST(sum(s.n_pieces) AS BIGINT) AS bpe_tokens
         |FROM tok t JOIN seg s USING (word)
         |GROUP BY t.doc_id ORDER BY t.doc_id""") { (s, dir) =>
      val words = Bpe.wordCounts(docs(s, dir), "text")
      val vocab = words
        .select(col("word"), col("wc"), Bpe.charSymbols(col("word")).as("syms"))
      val m1 = Bpe.pairCounts(vocab)
        .orderBy(col("cnt").desc, col("pair_a"), col("pair_b"))
        .limit(1)
        .select(col("pair_a").as("_ma"), col("pair_b").as("_mb"))
      // left join on TRUE (not crossJoin): an empty m1 must leave every
      // word segmented to its characters — the fold's `when` is
      // null-safe, a null merge rule never matches
      val seg = vocab.join(broadcast(m1), lit(true), "left")
        .select(col("word"),
          size(Bpe.applyMerge(col("syms"), col("_ma"), col("_mb")))
            .cast("long").as("n_pieces"))
      val tok = docs(s, dir).select(col("doc_id"),
        explode(Corpus.tokens(col("text"))).as("word"))
      tok.join(broadcast(seg), Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("ws_tokens"),
          sum("n_pieces").as("bpe_tokens"))
        .orderBy("doc_id")
    },

    // Tokenizer-aware sequence packing (Corpus.packTokenized) — the
    // composition of the two halves a training pipeline actually runs
    // back-to-back: the x_bpe_encode token counts (+1 EOS per doc) fill
    // fixed-384 training sequences greedily per source stream, docs
    // never split across a sequence boundary (a crossing doc starts
    // the next sequence), and docs too long for ANY sequence surface
    // as overlong instead of being truncated. The oracle re-derives
    // the greedy fold with a list_reduce scan per source — the
    // sequential-per-stream semantics is the operator's contract, so
    // both engines pay it; parallelism is across the 20 sources.
    q("x_pack_tokenized",
      s"""WITH $cntsSql,
         |${foldCtes("doc_id")},
         |packed AS (SELECT source, unnest(ids) AS doc_id,
         |                  unnest(es) AS e, unnest(ks) AS k
         |           FROM ends)
         |SELECT doc_id, source, k AS n_tokens,
         |       source || '#' || CAST((e - k) // 384 AS VARCHAR) AS seq_id,
         |       (e - k) % 384 AS seq_off, FALSE AS overlong
         |FROM packed
         |UNION ALL
         |SELECT doc_id, source, k AS n_tokens,
         |       CAST(NULL AS VARCHAR) AS seq_id,
         |       CAST(-1 AS BIGINT) AS seq_off, TRUE AS overlong
         |FROM cnts WHERE k > 384
         |ORDER BY doc_id""") { (s, dir) =>
      Corpus.packTokenized(encodedCounts(s, dir),
          "doc_id", "source", "bpe_tokens", ctxLen = 384)
        .orderBy("doc_id")
    },

    // Incremental packing (Corpus.incrementalPackTokenized): the even
    // docs arrive as batch 0 against empty state, the odd docs as
    // batch 1 against the state batch 0 returned — per-stream fill
    // state is ONE (source, next_end) row, so incremental packing is
    // byte-identical to one run over the concatenated (batch, id)
    // order, which is exactly how the oracle re-derives it (the same
    // list_reduce fold, ordered by (doc_id % 2, doc_id)). final_end
    // gates the RETURNED STATE per stream, not just the packed rows;
    // overlong docs surface with their stream's state untouched.
    q("x_incremental_pack", packFoldSql(2, "batch")) { (s, dir) =>
      val counts = encodedCounts(s, dir)
        .localCheckpoint() // two batch slices consume it below
      val (p0, st1) = Corpus.incrementalPackTokenized(
        counts.filter(pmod(col("doc_id"), lit(2)) === 0),
        Corpus.emptyPackState(s),
        "doc_id", "source", "bpe_tokens", ctxLen = 384)
      val (p1, st2) = Corpus.incrementalPackTokenized(
        counts.filter(pmod(col("doc_id"), lit(2)) === 1), st1,
        "doc_id", "source", "bpe_tokens", ctxLen = 384)
      p0.withColumn("batch", lit(0L))
        .unionByName(p1.withColumn("batch", lit(1L)))
        // null-safe: a null-source stream's rows (incl. overlong) keep
        // their state row — an inner Seq("source") join would drop them
        .join(st2.select(col("source").as("_src"),
            col("next_end").as("final_end")),
          col("source") <=> col("_src"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("seq_id"), col("seq_off"), col("overlong"), col("batch"),
          col("final_end"))
        .orderBy("doc_id")
    },

    // Packing-efficiency report (Corpus.packStats): per stream, the
    // padding the greedy no-split rule pays (boundary padding + final
    // tail = n_seqs*384 - tokens), fill ratio, and the overlong spill —
    // sized off x_pack_tokenized's assignments without re-reading the
    // corpus. The oracle re-derives the fold and aggregates the same
    // report; full join because an overlong-only stream still reports.
    q("x_pack_stats",
      s"""WITH $cntsSql,
         |${foldCtes("doc_id")},
         |packed AS (SELECT source, unnest(es) AS e, unnest(ks) AS k
         |           FROM ends),
         |pk AS (SELECT source, count(*) AS n_docs,
         |              CAST(sum(k) AS BIGINT) AS n_tokens,
         |              max((e - k) // 384) + 1 AS n_seqs
         |       FROM packed GROUP BY source),
         |ov AS (SELECT source, count(*) AS n_overlong,
         |              CAST(sum(k) AS BIGINT) AS overlong_tokens
         |       FROM cnts WHERE k > 384 GROUP BY source)
         |-- NOT DISTINCT FROM join + NULL-source casing: a NULL stream
         |-- must merge into ONE row (USING would never match NULL keys)
         |-- and reports NULL n_seqs/padding/fill, the operator's rule —
         |-- the library cannot recover a seq index from a NULL seq_id
         |-- even though this fold could
         |SELECT coalesce(pk.source, ov.source) AS source,
         |       coalesce(n_docs, 0) AS n_docs,
         |       coalesce(n_overlong, 0) AS n_overlong,
         |       coalesce(n_tokens, 0) AS n_tokens,
         |       coalesce(overlong_tokens, 0) AS overlong_tokens,
         |       CASE WHEN coalesce(pk.source, ov.source) IS NOT NULL
         |         THEN coalesce(n_seqs, 0) END AS n_seqs,
         |       CASE WHEN coalesce(pk.source, ov.source) IS NOT NULL
         |         THEN coalesce(n_seqs, 0) * 384 - coalesce(n_tokens, 0)
         |         END AS padding_tokens,
         |       CASE WHEN coalesce(pk.source, ov.source) IS NOT NULL
         |         AND n_seqs IS NOT NULL THEN
         |         round(n_tokens::DOUBLE / (n_seqs * 384), 6) END
         |         AS fill_ratio
         |FROM pk FULL JOIN ov
         |  ON pk.source IS NOT DISTINCT FROM ov.source
         |ORDER BY source""") { (s, dir) =>
      Corpus.packStats(
          Corpus.packTokenized(encodedCounts(s, dir),
            "doc_id", "source", "bpe_tokens", ctxLen = 384),
          "source", ctxLen = 384)
        .orderBy("source")
    },

    // Sequence materialization (Corpus.materializeSequences): the
    // actual training rows — each packed doc's encoded pieces at its
    // assignment, [EOS] after every doc, [PAD] to the fixed 384. The
    // oracle re-derives the greedy fold AND the payload assembly
    // (per-doc piece flatten in word order, per-sequence flatten in
    // seq_off order, pad fill), so the full byte content of every
    // training sequence is hash-gated cross-engine. The tokens column
    // crosses the gate U+001F-joined to a SCALAR (the j12/a4 house
    // convention — the driver's checker row-sorts every column raw, and
    // a raw ARRAY column errors pandas' lexsort). The hash gate is
    // unconditional either way — both engines join identically, so the
    // joined string compares byte-exact; parsing it BACK into tokens is
    // additionally lossless whenever no piece contains U+001F (true of
    // this corpus's whitespace-split-derived pieces + [EOS]/[PAD]).
    q("x_materialize_sequences",
      s"""WITH $cntsSql,
         |${foldCtes("doc_id")},
         |pk AS (SELECT source, unnest(ids) AS doc_id,
         |              unnest(es) AS e, unnest(ks) AS k
         |       FROM ends),
         |dtl AS (SELECT t.doc_id, flatten(list(s.pieces ORDER BY t.i))
         |          AS toks
         |        FROM tok t JOIN segp s USING (word)
         |        GROUP BY t.doc_id),
         |sq AS (SELECT p.source,
         |              p.source || '#' || CAST((p.e - p.k) // 384
         |                AS VARCHAR) AS seq_id,
         |              count(*) AS n_docs,
         |              flatten(list(list_append(d.toks, '[EOS]')
         |                ORDER BY (p.e - p.k) % 384)) AS body
         |       FROM pk p JOIN dtl d USING (doc_id)
         |       GROUP BY 1, 2)
         |SELECT source, seq_id, n_docs,
         |       384 - len(body) AS n_pad,
         |       array_to_string(list_concat(body,
         |         list_transform(range(1, 384 - len(body) + 1),
         |           x -> '[PAD]')), chr(31)) AS tokens
         |FROM sq
         |ORDER BY source, seq_id""") { (s, dir) =>
      val toks = encodedTokens(s, dir).localCheckpoint()
      val counts = toks.select(col("doc_id"), col("source"),
        size(col("pieces")).cast("long").as("bpe_tokens"))
      Corpus.materializeSequences(
          Corpus.packTokenized(counts, "doc_id", "source", "bpe_tokens",
            ctxLen = 384),
          toks, "doc_id", "source", "pieces", ctxLen = 384)
        .withColumn("tokens", array_join(col("tokens"), "\u001f"))
        .orderBy("source", "seq_id")
    },

    // Streaming materialization (DocumentStreaming.materializeSink)
    // driven end-to-end over a 3-batch arrival split: only FINALIZED
    // sequences are emitted (fill moved past them), the partial tail
    // carries in payload state. The oracle re-derives the concatenated-
    // order fold, materializes every sequence with index <
    // floor(final_end / 384), and pins each stream's final fill offset
    // and carried-doc count — so emission completeness, byte content,
    // AND what stayed behind are all hash-gated.
    q("x_materialize_incremental",
      s"""WITH $cntsSql,
         |${foldCtes("doc_id % 3, doc_id")},
         |dtl AS (SELECT t.doc_id, flatten(list(s.pieces ORDER BY t.i))
         |          AS toks
         |        FROM tok t JOIN segp s USING (word)
         |        GROUP BY t.doc_id),
         |${materializeFoldSql("dtl", "toks")}""") { (s, dir) =>
      val toks = encodedTokens(s, dir).localCheckpoint()
      val root = java.nio.file.Files
        .createTempDirectory("graft_mat_sink").toString
      try {
        val sink = graft.streaming.DocumentStreaming.materializeSink(
          s"$root/fill", s"$root/tail", s"$root/out",
          "doc_id", "source", "pieces", ctxLen = 384)
        (0 until 3).foreach { b =>
          sink(toks.filter(pmod(col("doc_id"), lit(3)) === b), b.toLong)
        }
        readMaterializedSink(s, root)
          .orderBy("source", "seq_id")
          .localCheckpoint()
      } finally CurationSinkQueries.deleteRec(root)
    },

    // Streaming packing sink (DocumentStreaming.packSink) driven
    // end-to-end, the x_curation_sink treatment: three arrival batches
    // through the REAL foreachBatch closure with batch-keyed parquet
    // state written and read back per batch (latest snapshot wins),
    // then packed output + each stream's final fill state hash-gated
    // against the same ONE-fold DuckDB re-derivation — the persistence
    // plumbing, not just the in-memory algebra x_incremental_pack
    // already gates, must preserve the concatenated-order identity.
    q("x_pack_sink", packFoldSql(3, "batch_id")) { (s, dir) =>
      val counts = encodedCounts(s, dir).localCheckpoint()
      val root = java.nio.file.Files
        .createTempDirectory("graft_pack_sink").toString
      try {
        val sink = graft.streaming.DocumentStreaming.packSink(
          s"$root/state", s"$root/packed",
          "doc_id", "source", "bpe_tokens", ctxLen = 384)
        (0 until 3).foreach { b =>
          sink(counts.filter(pmod(col("doc_id"), lit(3)) === b), b.toLong)
        }
        val Seq(finalState) = graft.streaming.BatchState.readSnapshot(
          s, Long.MaxValue, s"$root/state" -> Corpus.emptyPackState(s))
        s.read.parquet(s"$root/packed")
          // null-safe, mirroring the oracle (see packFoldSql): a
          // null-source stream's rows keep their state row
          .join(finalState.select(col("source").as("_src"),
            col("next_end").as("final_end")),
            col("source") <=> col("_src"))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            col("seq_id"), col("seq_off"), col("overlong"),
            col("batch_id").cast("long").as("batch_id"), col("final_end"))
          .orderBy("doc_id")
          .localCheckpoint()
      } finally CurationSinkQueries.deleteRec(root)
    },
  )
}
