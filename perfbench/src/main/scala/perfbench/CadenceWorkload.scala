package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{Bm25State, CurationRun, LmState, StateLayout}

/** `cadence`: the weekly curation cadence, write side first. One pass is
  * an init plus `Weeks` weekly increments of three state families (the
  * curation LSH-dedup and publish state, the BM25 state, the n-gram LM
  * state). A BM25 serving session opened on the init version then swaps
  * to the last week's version and answers one probe (its batch-mode
  * streaming fold), and the BM25 and LM states are rebased. One step is
  * one weekly increment of all three families. */
final class CadenceWorkload(spark: SparkSession, seed: Long) extends Workload {
  val Docs = 360
  val Weeks = 2
  private var inputs: Path = _
  private var gen: Gen.Cadence = _
  private var expected: Option[Seq[CurationRun.Stats]] = None

  /** Every batch and the benchmark set land in one parquet dataset,
    * partitioned by `part` (`batch0`.., `benchmark`). */
  def setup(dir: Path): (Double, Double) = {
    val t0 = System.nanoTime()
    gen = Gen.cadence(seed, Docs, Weeks + 1)
    val parts = gen.batches.zipWithIndex.map { case (b, i) => s"batch$i" -> b } :+
      ("benchmark" -> gen.benchmark)
    spark.createDataFrame(spark.sparkContext.parallelize(
        parts.flatMap { case (p, ds) => ds.map(d => Row(d.id, d.text, p)) }, 1),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType), StructField("part", StringType))))
      .write.partitionBy("part").parquet(s"$dir/docs")
    val genS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    spark.read.parquet(s"$dir/docs").count()
    inputs = dir
    (genS, (System.nanoTime() - t1) / 1e9)
  }

  private def input(part: String): DataFrame =
    spark.read.parquet(s"$inputs/docs").where(col("part") === part).drop("part")

  def pass(n: Int, clock: Clock, tracer: Tracer, tally: Tally): () => Unit = {
    val base = inputs.getParent.resolve(s"cadence-pass$n").toString
    def batch(i: Int) = input(s"batch$i")
    val bench = input("benchmark")
    def curation(i: Int) = s"$base/state$i"
    def bm25(i: Int) = s"$base/bm25_$i"
    def lm(i: Int) = s"$base/lm_$i"
    def call[A](name: String)(body: => A): A = {
      tally.attempted += 1
      tracer.span(s"pipeline.$name")(body)
    }

    val stats = Seq.newBuilder[CurationRun.Stats]
    stats += call("CurationRun.runInit")(CurationRun.runInit(batch(0),
      bench, s"$base/out0", curation(0), minQuality = 0.75,
      fractions = Map("en" -> 0.5), defaultFraction = 0.9))
    call("Bm25State.writeInit")(Bm25State.writeInit(batch(0), "doc_id",
      "text", bm25(0), recordIds = true))
    call("LmState.writeInit")(LmState.writeInit(batch(0), "text", lm(0),
      recordIds = true))
    val session = call("Bm25State.bm25ServeSession")(
      Bm25State.bm25ServeSession(spark, bm25(0), topK = 5))
    val probe = gen.probes(n % gen.probes.size)
    val hits = try {
      for (w <- 1 to Weeks) clock.step {
        stats += call("CurationRun.runIncremental")(CurationRun.runIncremental(
          batch(w), bench, s"$base/out$w", curation(w - 1), curation(w),
          minQuality = 0.75, fractions = Map("en" -> 0.5), defaultFraction = 0.9))
        call("Bm25State.writeIncrement")(Bm25State.writeIncrement(batch(w),
          "doc_id", "text", bm25(w - 1), bm25(w), recordIds = true))
        call("LmState.writeIncrement")(LmState.writeIncrement(batch(w), "text",
          lm(w - 1), lm(w), recordIds = true))
      }
      // The last week's version goes live: swap, then one probe.
      call("VersionedServeSession.swapTo")(session.swapTo(bm25(Weeks)))
      call("Bm25ServeSession.answer")(rows(session.answer(bm25Query(probe)), BmCols))
    } finally session.close()
    call("Bm25State.rebase")(Bm25State.rebase(spark, bm25(Weeks), s"$base/bm25_r"))
    call("LmState.rebase")(LmState.rebase(spark, lm(Weeks), s"$base/lm_r"))
    val curated = stats.result()
    () => {
      tally.check("BM25 session answer is empty")(hits.nonEmpty)
      tally.check("BM25 session answer != batch serve")(hits ==
        rows(Bm25State.serve(spark, bm25(Weeks), probe, topK = 5), BmCols))
      checkPass(base, curated, tally)
    }
  }

  private val BmCols = Seq("doc_id", "score", "rank")
  private def rows(df: DataFrame, cols: Seq[String] = Nil): Set[Row] =
    (if (cols.isEmpty) df else df.select(cols.map(col): _*)).collect().toSet
  private def bm25Query(terms: Seq[String]): DataFrame =
    spark.createDataFrame(Seq((0L, new java.sql.Timestamp(1700000000000L), terms)))
      .toDF("q_id", "ts", "terms")

  /** Stage attrition and state totals for one pass; every pass of a run
    * must report the same curation counts (same inputs, same answer).
    * Weekly runs report the composed corpus's totals, so attrition is
    * checked against the docs ingested so far. */
  private def checkPass(base: String, stats: Seq[CurationRun.Stats],
      tally: Tally): Unit = {
    var ingested = 0L
    stats.zipWithIndex.foreach { case (s, i) =>
      val size = gen.batches(i).size
      ingested += size
      tally.check(s"batch $i: input ${s.input} != $size")(s.input == size)
      tally.check(s"batch $i: no decontamination attrition ($s)")(
        s.decontaminated > 0 && s.decontaminated < ingested)
      tally.check(s"batch $i: no near-dup attrition ($s)")(
        s.kept > 0 && s.kept < s.decontaminated)
      tally.check(s"batch $i: no sampling attrition ($s)")(
        s.sampled > 0 && s.sampled < s.kept)
    }
    tally.check("composed corpus shrank between weeks")(
      stats.map(_.decontaminated).sliding(2).forall(p => p.head <= p.last))
    expected match {
      case None => expected = Some(stats)
      case Some(e) => tally.check("curation counts differ between passes")(e == stats)
    }
    val nDocs = gen.nDocs.toLong
    def bm25Docs(dir: String) = StateLayout.readSlices(spark,
        StateLayout.readLineage(dir), "stats_batch")
      .agg(sum(col("n_docs"))).head().getLong(0)
    tally.check(s"BM25 state holds ${bm25Docs(s"$base/bm25_$Weeks")} docs, want $nDocs")(
      bm25Docs(s"$base/bm25_$Weeks") == nDocs)
    tally.check("rebased BM25 state lost docs")(bm25Docs(s"$base/bm25_r") == nDocs)
  }
}
