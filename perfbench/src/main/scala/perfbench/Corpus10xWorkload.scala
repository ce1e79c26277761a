package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.{TextAnalysis, TextDedup, VectorSim}

/** `corpus_10x`: the 10x stress recipe. Every base doc plus nine
  * marker-token replicas (`doc_id*10+i`) plants a 10-doc near-dup clique,
  * and every base embedding is replicated ten times with a small
  * perturbation. One pass runs the operator chain over the 10x corpus
  * (exact dedup, shingle index, MinHash-LSH pairs, connected components,
  * quality signals, k-means, PQ train and search), then a slice of the
  * query catalog over the same tables. Every result, catalog results
  * included, lands as parquet inside its timed step, so the checks (and
  * the launcher's DuckDB oracle) can read it after the measurement.
  * One step is one engine call: an operator or a catalog query. */
final class Corpus10xWorkload(spark: SparkSession, seed: Long,
    baseDocs: Int = 1000, baseVecs: Int = 500) extends Workload {
  val Queries = 16
  /** Catalog entries that read only `documents` and `embeddings`, run
    * over the 10x tables (the family map is in the README). */
  val Catalog = Seq("q16_token_count", "q20_exact_dedup", "q25_knn_brute_force")
  private var inputs: Path = _
  private var gen: Gen.Corpus10x = _

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  private def write(rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.parquet(path)

  def setup(dir: Path): (Double, Double) = {
    val t0 = System.nanoTime()
    gen = Gen.corpus10x(seed, baseDocs, baseVecs, Queries)
    def docRows(ds: Seq[Gen.Doc]) = ds.map(d => Row(d.id, d.text, d.lang,
      s"src${d.id % 20}", d.text.codePointCount(0, d.text.length).toLong))
    def vecRows(vs: Seq[Gen.Vec]) = vs.map(v => Row(v.id, v.v.toSeq, (v.id % 10).toInt))
    write(docRows(gen.docs), docSchema, s"$dir/documents.parquet")
    write(vecRows(gen.vecs), vecSchema, s"$dir/embeddings.parquet")
    write(vecRows(gen.queries), vecSchema, s"$dir/queries.parquet")
    val genS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    Seq("documents", "embeddings", "queries")
      .foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
    inputs = dir
    (genS, (System.nanoTime() - t1) / 1e9)
  }

  /** One pass over a fiftieth-size corpus of another seed, its checks
    * skipped: JIT and codegen compilation of the operator chain happen
    * here, not in the first measured pass. */
  override def warmup(dir: Path): Unit = {
    val small = new Corpus10xWorkload(spark, seed + 1, baseDocs / 50, baseVecs / 50)
    small.setup(dir.resolve("inputs"))
    small.pass(0, new Clock, new Tracer(spark, "warmup"), new Tally)
  }

  def pass(n: Int, clock: Clock, tracer: Tracer, tally: Tally): () => Unit = {
    val out = inputs.getParent.resolve(s"corpus10x-pass$n").toString
    def table(t: String, cols: String*) =
      spark.read.parquet(s"$inputs/$t.parquet").select(cols.map(col): _*)
    val docs = table("documents", "doc_id", "text")
    val vecs = table("embeddings", "vec_id", "embedding")
    val queries = table("queries", "vec_id", "embedding")
    def land(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name")
    def read(name: String) = spark.read.parquet(s"$out/$name")
    def op[A](name: String)(body: => A): A = {
      tally.attempted += 1
      clock.step(tracer.span(s"operators.$name")(body))
    }

    op("TextDedup.exact")(land(TextDedup.exact(docs, "doc_id", "text"), "exact"))
    val idx = op("TextDedup.buildIndex") {
      val i = TextDedup.buildIndex(docs, "doc_id", "text", n = 3, bits = 32)
      i.df.persist()
      i.df.queryExecution.toRdd.count()
      i
    }
    try op("TextDedup.minhashLshPairs")(land(
      TextDedup.minhashLshPairs(idx, 0.25, numHashes = 32, bands = 16), "pairs"))
    finally idx.df.unpersist()
    op("TextDedup.connectedComponents")(land(
      TextDedup.connectedComponents(read("pairs")), "clusters"))
    op("TextAnalysis.qualitySignals")(land(
      TextAnalysis.qualitySignals(docs, "doc_id", "text"), "quality"))
    val cen = op("VectorSim.kmeansCentroids")(VectorSim.kmeansCentroids(vecs, 16, 3))
    op("VectorSim.kmeansAssignments")(land(
      VectorSim.kmeansAssignments(vecs, cen), "assign"))
    val pq = op("VectorSim.pqTrain")(
      VectorSim.pqTrain(vecs, dim = Gen.Dim, subspaces = 8, k = 16, iters = 2))
    op("VectorSim.pqSearch")(land(VectorSim.pqSearch(queries, vecs, pq, 10), "pq"))

    // Catalog queries land their results; the launcher checks each one
    // against its DuckDB oracle after the JVM exits.
    Catalog.foreach { q =>
      tally.attempted += 1
      clock.step(tracer.span(s"queries.$q") {
        val df = tracer.span("queries.build")(SparkEntry.queries(q)(spark, inputs.toString))
        tracer.span("queries.execute")(df.write.mode("overwrite").parquet(s"$out/catalog/$q"))
      })
      graft.operators.CacheLease.quiesceThenReleaseAll()
      spark.catalog.clearCache()
    }
    () => {
      checkOperators(out, cen.size, tally)
      val specs = inputs.getParent.resolve("catalog")
      java.nio.file.Files.createDirectories(specs)
      Catalog.foreach { q =>
        java.nio.file.Files.write(specs.resolve(s"pass$n-$q.json"),
          (s"""{"query":${Json.str(q)},"tables":${Json.str(inputs.toString)},""" +
            s""""dir":${Json.str(s"$out/catalog/$q")},""" +
            s""""sql":${Json.str(SparkEntry.oracleSql(q))}}""").getBytes("UTF-8"))
      }
    }
  }

  /** Outputs of the operator chain against what the generator planted. */
  private def checkOperators(out: String, nCen: Int, tally: Tally): Unit = {
    def read(name: String) = spark.read.parquet(s"$out/$name")
    val groups = read("exact").count()
    val distinct = gen.docs.map(_.text.trim.toLowerCase).distinct.size
    tally.check(s"exact: $groups groups, want $distinct")(groups == distinct)
    // Every planted 10-doc clique lies inside one cluster: all ten
    // members present with one canonical id (a cluster may hold more
    // than one clique when their texts really are near-dups).
    val cl = read("clusters")
      .groupBy(floor(col("doc_id") / 10))
      .agg(count(lit(1)).as("n"), countDistinct(col("canonical_id")).as("labels"))
      .agg(count(lit(1)), sum(when(col("n") =!= 10 || col("labels") =!= 1, 1).otherwise(0)))
      .head()
    tally.check(s"clusters: ${cl.getLong(1)} broken cliques of ${cl.getLong(0)}, " +
      s"want ${gen.base.size} whole")(cl.getLong(0) == gen.base.size && cl.getLong(1) == 0)
    val planted = read("pairs")
      .where(floor(col("doc_a") / 10) === floor(col("doc_b") / 10)).count()
    recall = planted.toDouble / (45L * gen.base.size)
    tally.check(f"pairs: recall $recall%.4f of planted pairs")(recall > 0.99)
    tally.check("quality: one row per doc")(read("quality").count() == gen.docs.size)
    val as = read("assign")
      .agg(count(lit(1)), sum(when(col("cluster").between(0, 15), 0).otherwise(1))).head()
    tally.check(s"kmeans: $nCen centroids, want 16")(nCen == 16)
    tally.check("kmeans: one assignment per vector in [0, 16)")(
      as.getLong(0) == gen.vecs.size && as.getLong(1) == 0)
    tally.check("pq: 10 neighbors per query")(
      read("pq").count() == 10L * gen.queries.size)
  }

  private var recall = 0.0

  override def report(): Seq[String] =
    Seq(f"[perfbench] detail operators.TextDedup.pair_recall=$recall%.6f")
}
