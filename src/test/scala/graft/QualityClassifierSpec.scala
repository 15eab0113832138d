package graft

import org.apache.spark.sql.functions._

import graft.ml.QualityClassifier
import graft.sources.Tables

class QualityClassifierSpec extends SparkTestBase {
  import spark.implicits._

  /** Synthetic separable corpus: seed docs draw from one topic vocabulary,
    * web docs from another, both sharing common filler — deterministic. */
  private lazy val corpus = {
    val rnd = new scala.util.Random(7)
    val common = Seq("the", "a", "data", "value", "row")
    val seedVocab = Seq("curated", "edited", "citation", "verified", "review")
    val webVocab = Seq("click", "spam", "buy", "free", "winner")
    def doc(vocab: Seq[String]) = (1 to 30).map { _ =>
      if (rnd.nextBoolean()) vocab(rnd.nextInt(vocab.size))
      else common(rnd.nextInt(common.size))
    }.mkString(" ")
    ((0L until 100L).map(i => (i, "seed", doc(seedVocab))) ++
      (100L until 300L).map(i => (i, "web", doc(webVocab))))
      .toDF("doc_id", "source", "text")
  }

  test("labeled frame: seed positive, ~2:1 negative sample, deterministic") {
    val lab = QualityClassifier.labeled(corpus, "seed", negPerPos = 1.0)
    val bySrc = lab.groupBy("source", "label").count()
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    assert(bySrc(("seed", 1.0)) == 100L)
    assert(!bySrc.contains(("seed", 0.0)) && !bySrc.contains(("web", 1.0)))
    // 1:1 target -> frac 100/200 = 0.5; md5 buckets land within 25%
    val nNeg = bySrc(("web", 0.0))
    assert(math.abs(nNeg - 100.0) / 100.0 < 0.25, nNeg)
    // reproducible across partitionings (md5 membership, in-plan counts)
    val ids1 = lab.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = QualityClassifier.labeled(corpus.repartition(7), "seed", 1.0)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2)
    // negPerPos beyond availability: the cap keeps every negative once
    val all = QualityClassifier.labeled(corpus, "seed", negPerPos = 10.0)
    assert(all.where(col("label") === 0.0).count() == 200L)
  }

  test("separates a vocab-shifted seed source and generalizes held-out") {
    // train ONLY on even doc ids; odd ids are never seen by the fit
    val trainDocs = corpus.where(col("doc_id") % 2 === 0)
    val scored = QualityClassifier.trainScore(
      corpus, QualityClassifier.labeled(trainDocs, "seed"))
    val means = scored.where(col("doc_id") % 2 === 1) // held-out half only
      .groupBy("source").agg(avg("quality_prob").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(means("seed") > 0.8, s"held-out seed mean ${means("seed")}")
    assert(means("web") < 0.2, s"held-out web mean ${means("web")}")
    // hard separation on held-out docs: no seed doc scores below any web doc
    val minSeed = scored.where(col("doc_id") % 2 === 1 && col("source") === "seed")
      .agg(min("quality_prob")).collect()(0).getDouble(0)
    val maxWeb = scored.where(col("doc_id") % 2 === 1 && col("source") === "web")
      .agg(max("quality_prob")).collect()(0).getDouble(0)
    assert(minSeed > maxWeb, s"overlap: minSeed=$minSeed maxWeb=$maxWeb")
  }

  test("stateless serving reproduces the MLlib transform, batch and stream") {
    val lab = QualityClassifier.labeled(corpus, "seed")
    val (b, w) = QualityClassifier.exportModel(lab)
    assert(w.length == 4096)
    // parity: the column-algebra margin IS the HashingTF+LR margin
    val mllib = QualityClassifier.trainScore(corpus, lab)
      .select("doc_id", "quality_prob").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val served = QualityClassifier.scoreStateless(corpus, b, w)
      .select("doc_id", "quality_prob").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val maxDiff = mllib.keys.map(k => math.abs(mllib(k) - served(k))).max
    assert(maxDiff < 1e-9, s"serving drift $maxDiff")
    // the serving column is stateless: identical through a real stream
    val dir = withTempDir("qserve")
    corpus.write.mode("overwrite").parquet(dir)
    val src = spark.readStream.schema(corpus.schema).parquet(dir)
    QualityClassifier.scoreStateless(src, b, w)
      .select("doc_id", "quality_prob")
      .writeStream.format("memory").queryName("qserve_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val streamed = spark.table("qserve_out").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed.size == 300)
    assert(streamed.keys.map(k => math.abs(streamed(k) - served(k))).max == 0.0)
  }

  test("real-table contract path: every doc scored, probabilities valid") {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val scored = QualityClassifier.trainScore(
      d, QualityClassifier.labeled(d, "src0"))
    assert(scored.count() == d.count())
    assert(scored.where(col("quality_prob") < 0.0 ||
      col("quality_prob") > 1.0 || col("quality_prob").isNull).count() == 0)
  }
}
