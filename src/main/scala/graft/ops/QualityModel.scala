package graft.ops

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SessionCache
import graft.sources.Tables

/** Model-based document quality filtering — the classifier tier of a
  * training-data pipeline (the fastText-style screen of CCNet/GPT-3
  * style curation): distil the rule-based [[TextAnalysis.qualityScore]]
  * screen into a bag-of-words logistic-regression model, then score
  * every document with it.
  *
  * Why a model when the rules exist: the rules only see aggregate
  * ratios (length, stopword share, punctuation density); the classifier
  * learns WORD-level signal from the weakly-labelled corpus, so it
  * generalizes to documents whose ratios look fine but whose vocabulary
  * matches the junk class — and at 100 TB scoring is one broadcast of
  * the coefficient vector and a codegen'd dot product per doc, far
  * cheaper than rerunning a rule battery that needs several regex
  * passes.
  *
  * Scale shape: the FIT runs on the corpus's train split (the exact
  * `corpus_split` train bucket — deterministic, content-keyed) via
  * MLlib's distributed L-BFGS — one pass per
  * iteration, nothing driver-side but the 4096-dim coefficient vector;
  * SCORING is `model.transform` = a broadcast coefficient dot product,
  * no shuffle before the output sort. The fitted model is session-cached
  * per (app, corpus) like the coarse quantizer. L-BFGS internals aren't
  * SQL-expressible ⇒ rows-only registration; the held-out AUC gate in
  * OpsSpec is the correctness measurement.
  */
object QualityModel {

  /** Train membership = `Curation.corpusSplit`'s train bucket (first
    * two md5 hex chars < 'e6' ≈ 90%): the classifier fits on exactly
    * the corpus partition a training run would consume, and the val/
    * test buckets stay untouched for the held-out AUC gate. Content-
    * keyed ⇒ exact copies co-locate; no split leakage by construction. */
  private def trainPred = expr("substr(md5(text), 1, 2)") < "e6"

  private val HashDim = 4096

  private def featurize(docs: DataFrame): DataFrame = {
    val tok = new org.apache.spark.ml.feature.RegexTokenizer()
      .setInputCol("text").setOutputCol("toks")
      .setPattern("\\W+").setToLowercase(true)
    val tf = new org.apache.spark.ml.feature.HashingTF()
      .setInputCol("toks").setOutputCol("features").setNumFeatures(HashDim)
    // RegexTokenizer's underlying UDF NPEs on a null text value; a real
    // feed ships null fields, and a null document is simply an empty
    // bag of words to this model (scores at the intercept)
    tf.transform(tok.transform(
      docs.withColumn("text", coalesce(col("text"), lit("")))))
  }

  /** Fit (or fetch) the distilled classifier for one corpus: weak label
    * = rule-screen verdict (quality ≥ 0.5), features = hashed bag of
    * words over the TRAIN hash-split only. None when the corpus has no
    * training rows or only one label class (LR needs both). */
  private def fitted(spark: SparkSession, sfDir: String): Option[LogisticRegressionModel] =
    SessionCache(spark, Tables.paths(sfDir, "documents"), "quality.model") {
      val labelled = TextAnalysis.qualityScore(spark, sfDir)
        .select(col("doc_id"), (col("quality") >= 0.5).cast("double").as("label"))
      val train = featurize(
        graft.sources.ChunkStore.table(spark, sfDir, "documents").filter(trainPred))
        .join(labelled, "doc_id")
      val classes = train.select(col("label")).distinct().count()
      if (classes < 2) None
      else Some(new org.apache.spark.ml.classification.LogisticRegression()
        .setMaxIter(50).setRegParam(0.01)
        .setFeaturesCol("features").setLabelCol("label")
        .fit(train))
    }

  /** Apply the corpus-fitted classifier to a STREAM of documents
    * (doc_id, text, …) — the model-serving half of ingest-time
    * curation: tokenizer, hashing and the LR dot product are all
    * stateless row-local transforms, so the same fitted model scores a
    * Structured Streaming frame with zero state and no watermark
    * requirement. Output: (doc_id, quality_prob, keep). Throws if the
    * corpus has no fittable model — a streaming scorer with no model
    * is a configuration error, not a degenerate input. */
  def scoreStream(spark: SparkSession, sfDir: String, docs: DataFrame): DataFrame = {
    val model = fitted(spark, sfDir).getOrElse(throw new IllegalStateException(
      s"no fittable quality model for corpus $sfDir (empty or single-class)"))
    model.transform(featurize(docs))
      .withColumn("p1",
        org.apache.spark.ml.functions.vector_to_array(col("probability")).getItem(1))
      .select(col("doc_id"), round(col("p1"), 4).as("quality_prob"),
        (col("p1") >= 0.5d).as("keep"))
  }

  /** Score every document with the distilled classifier: (doc_id,
    * quality_prob, keep = prob ≥ 0.5, in_train = was in the fit split).
    * Falls back to an empty frame when no model is fittable (empty or
    * single-class corpus). */
  def modelScores(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.sources.ChunkStore.table(spark, sfDir, "documents")
    val model = fitted(spark, sfDir) match {
      case Some(m) => m
      case None =>
        return docs.select(col("doc_id"), lit(0.0d).as("quality_prob"),
          lit(false).as("keep"), lit(false).as("in_train")).limit(0)
    }
    // in_train is pinned from the RAW text before featurize coalesces
    // nulls to '': md5(NULL) is NULL → never in the fit split (and the
    // coalesced '' must not hash into train on the null row's behalf)
    model.transform(featurize(docs.withColumn("in_train", coalesce(trainPred, lit(false)))))
      .withColumn("p1",
        org.apache.spark.ml.functions.vector_to_array(col("probability")).getItem(1))
      .select(col("doc_id"),
        round(col("p1"), 4).as("quality_prob"),
        (col("p1") >= 0.5d).as("keep"),
        col("in_train"))
      .orderBy(col("doc_id"))
  }
}
