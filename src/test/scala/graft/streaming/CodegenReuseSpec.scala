package graft.streaming

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession

/** Warm micro-batches reuse the whole-stage classes earlier batches
  * compiled (the codegen settings in `graft.core.Sessions.configure`).
  * Each test counts Janino compilations around every batch of a sink fed
  * same-shaped batches, so the plans repeat and only the data changes. */
class CodegenReuseSpec extends AnyFunSuite with SparkTestSession {

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compilations during each call of `sink` on `batches` (ids 0, 1, …).
    * The batch frames are built before counting starts. */
  private def perBatch(sink: (DataFrame, Long) => Unit,
      batches: Seq[DataFrame]): Seq[Long] =
    batches.zipWithIndex.map { case (b, i) =>
      val c0 = compiles
      sink(b, i.toLong)
      compiles - c0
    }

  /** `n` letters-only words unique to `(b, k)`. */
  private def words(b: Int, k: Int, n: Int): String =
    (0 until n).map(i => s"w${('a' + b + 1).toChar}${('a' + k).toChar}" +
      s"${('a' + i).toChar}x").mkString(" ")

  test("curationSink: batches after the second reuse compiled classes") {
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("curcodegen")
      .toString
    val suite = "the ancient harbor lights glow over the quiet water tonight"
    DocumentStreaming.registerSuite(sp, s"$root/vocab",
      Seq((1000L, suite)).toDF("doc_id", "text"), "text", "doc_id")
    def fresh(b: Int) = s"the ${words(b, 0, 9)}"
    // every batch has the same four outcomes, so AQE sees the same
    // shapes: a fresh doc (admitted), a copy of the previous batch's
    // fresh doc (rejected from batch 1 on), that doc plus fresh text
    // (admitted, run stripped) and a suite copy (screened out)
    val batches = (0 until 6).map { b =>
      Seq(
        (10L * b, fresh(b)),
        (10L * b + 1, fresh(b - 1)),
        (10L * b + 2, s"${fresh(b - 1)} the ${words(b, 1, 19)}"),
        (10L * b + 3, suite)).toDF("doc_id", "text")
    }
    val n = perBatch(DocumentStreaming.curationSink(root, "text",
      "doc_id", windowTokens = 4), batches)
    info(s"compiles per batch: ${n.mkString(", ")}")
    // A warm batch whose plan repeats compiles nothing. AQE can still
    // finish a join as one of a few plan variants, depending on which
    // query stage completes first; each variant is a new source and
    // compiles once, so the warm batches together compile a handful of
    // classes (0-10 seen). A cache smaller than one batch recompiles
    // every batch whole (~140 each); stage ids in class names add ~6 a
    // batch. Earlier suites in the JVM may have warmed batch 0 already.
    assert(n.drop(2).sum <= 16, s"warm batches recompiled: $n")
    // the counter is live: a fresh literal is a new source
    val c0 = compiles
    sp.range(1).selectExpr(s"id + ${System.nanoTime}").collect()
    assert(compiles > c0, "no compilation counted")
    // the batches did the work the shapes promise
    val led = sp.read.parquet(s"$root/ledger")
      .filter(col("batch_id") === 5).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("admitted"))
      .toMap
    assert(led == Map(50L -> true, 51L -> false, 52L -> true, 53L -> false))
  }

  // Snapshot sinks stamp `as_of_batch` with lit(batchId), which codegen
  // inlines into the Java source: each snapshot write compiles one fresh
  // class per batch, on the driver and again in the task (two slots).
  // Measured, not fixed; the bound keeps any other per-batch recompile out.
  test("packSink and materializeSink: warm batches compile only their " +
      "as_of_batch snapshot stamps") {
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapcodegen")
      .toString
    val pack = perBatch(DocumentStreaming.packSink(s"$root/pack_state",
        s"$root/packed", "doc_id", "source", "n_tok", ctxLen = 10),
      (0 until 6).map { b =>
        Seq((10L * b, "s1", 4L), (10L * b + 1, "s2", 7L))
          .toDF("doc_id", "source", "n_tok")
      })
    val mat = perBatch(DocumentStreaming.materializeSink(s"$root/fill",
        s"$root/tail", s"$root/out", "doc_id", "source", "pieces",
        ctxLen = 10),
      (0 until 6).map { b =>
        Seq((s"d$b", Seq("t1", "t2", "t3", "t4", "t5", "t6")))
          .toDF("doc_id", "pieces")
          .select(col("doc_id"), lit("s1").as("source"), col("pieces"))
      })
    info(s"packSink compiles per batch: ${pack.mkString(", ")}")
    info(s"materializeSink compiles per batch: ${mat.mkString(", ")}")
    // one snapshot write in packSink, two in materializeSink
    assert(pack.drop(2).forall(_ <= 2L), s"packSink: $pack")
    assert(mat.drop(2).forall(_ <= 4L), s"materializeSink: $mat")
  }
}
