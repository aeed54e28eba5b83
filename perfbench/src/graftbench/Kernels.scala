package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators.Dedup

/**
 * Per-row cost of the native kernels, each called through its public
 * `Column` builder over the curation inputs (document token arrays,
 * embedding vectors) replicated to ~100k rows and cached. Each kernel's
 * projection is forced to the noop sink, repeated for at least half a
 * second; the same projection without the kernel is the baseline.
 * Reported as core-nanoseconds per row: (kernel − baseline) wall × cores / rows.
 */
object Kernels {

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median seconds of one noop pass, repeated for at least `minS`. */
  private def perPass(df: DataFrame, minS: Double = 0.5): Double = {
    val ts = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (ts.length < 3 || (System.nanoTime() - t0) / 1e9 < minS) ts += Host.timed(noop(df))._2
    Host.median(ts.toSeq)
  }

  def run(spark: SparkSession, data: String, cores: Int): Map[String, Double] = {
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    def replicate(df: DataFrame, rows: Long): DataFrame = {
      val times = math.max(1L, rows / math.max(1L, df.count()))
      df.crossJoin(spark.range(times).toDF("_r")).drop("_r").repartition(cores).cache()
    }
    val toks = replicate(docs.select(split(lower(col("text")), "\\W+").as("t")), 100000L)
    val vecs = replicate(emb, 100000L)
    val nToks = toks.count()
    val nVecs = vecs.count()
    val codebook = emb.limit(8).collect().zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](0)) }.toSeq
    val merges = Seq(("hash", "join"), ("big", "data"), ("a", "the"), ("spark", "query"))
    val t = col("t")
    val v = col("v")
    val kernels: Seq[(String, DataFrame, Long, Column)] = Seq(
      ("minhashSig", toks, nToks, MinhashExprs.minhashSig(t, 3, Dedup.MinhashA, Dedup.MinhashB, Dedup.MinhashP)),
      ("simhashInt", toks, nToks, MinhashExprs.simhashInt(t, 32)),
      ("shingleTokens", toks, nToks, NgramExprs.shingleTokens(t, 3)),
      ("gramCounts", toks, nToks, NgramExprs.gramCounts(t, 2)),
      ("bpeEncodeTokens", toks, nToks, BpeExprs.bpeEncodeTokens(t, merges)),
      ("winnowFingerprints", toks, nToks, WinnowExprs.winnowFingerprints(t, 16, 8)),
      ("nearestCentroidId", vecs, nVecs, CentroidExprs.nearestCentroidId(v, codebook)),
      ("cosineSim", vecs, nVecs, VectorExprs.cosineSim(v, typedLit(codebook.head._2))))
    val baseline = Map(
      toks -> perPass(toks.select(size(t))),
      vecs -> perPass(vecs.select(size(v))))
    val out = kernels.map { case (name, df, rows, k) =>
      val secs = perPass(df.select(k.as("k")))
      s"kernel.$name.ns_per_row" -> (secs - baseline(df)) * cores * 1e9 / rows
    }.toMap
    toks.unpersist(blocking = true)
    vecs.unpersist(blocking = true)
    out
  }
}
