package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.fingerprintMd5
import graft.io.Tables

/** The end-to-end corpus-curation pipeline as ONE declarative plan.
  *
  * A training-data pipeline's final artifact is a manifest: one row per
  * document recording every gate's verdict and the resulting selection.
  * [[curationManifest]] composes the engine's own operators — EXACT
  * deduplication (min doc_id per content fingerprint, [[Dedup.exactOf]]
  * semantics), near-duplicate keep/drop ([[Dedup.dedupDecisionsOf]]
  * semantics over the LSH component table), the language/quality gate
  * ([[TextOps.qualityScoredOf]]), and the stratified split assignment
  * ([[TextOps.splitAssignOf]]) — into a single Catalyst plan, joined on
  * doc_id. `selected` marks the rows a training run would actually read:
  * dedup keeper AND quality pass AND train split.
  *
  * The keep decision is exact-AND-near: a document survives only if it is
  * BOTH its content-fingerprint group's representative AND its LSH
  * component's representative. Composing exact dedup is what closes the
  * LSH path's deliberate recall gaps — identical documents too short to
  * shingle never enter a band, and an over-full band bucket (>
  * [[Dedup.MaxLshBucketSize]] members — a giant boilerplate cluster) is
  * dropped by the cap — in both cases the identical copies are invisible
  * to the component table and would all ship with keep=1 if the manifest
  * relied on LSH alone. Exact dedup is one hash shuffle on the
  * fingerprint; running it first is what makes the bucket cap safe, so the
  * manifest must encode that contract, not assume it.
  *
  * Composition stays efficient because every ingredient is its UNSORTED
  * core: presentation sorts belong to the leaves of the API, not to frames
  * about to be joined (the joins would destroy the order after a wasted
  * range exchange). The corpus is scanned by column-pruned branches
  * (dedup needs text-derived signatures, quality needs text, split needs
  * (lang, source)) — at 100 TB each branch reads only its columns and the
  * doc_id-keyed joins shuffle manifest-width rows, not text.
  */
object Pipeline {

  def curationManifest(spark: SparkSession, sfDir: String,
                       minQuality: Double = 0.5, lang: String = "en",
                       trainPer10: Int = 8, valPer10: Int = 1): DataFrame =
    curationManifestOf(Tables.documents(spark, sfDir),
      minQuality, lang, trainPer10, valPer10)

  /** [[curationManifest]] over an arbitrary documents frame carrying
    * (doc_id, text, lang, source) — the composable/testable core. */
  def curationManifestOf(docs: DataFrame,
                         minQuality: Double = 0.5, lang: String = "en",
                         trainPer10: Int = 8, valPer10: Int = 1): DataFrame = {
    val narrowRaw = docs.select(col("doc_id"), col("text"))
    val narrow = Tables.spreadIfNarrow(narrowRaw, col("doc_id"))
    // exact-dup representative: min doc_id per content fingerprint, as a
    // window over the fingerprint partition — ONE hash shuffle, no join
    // back against a grouped table. Built on the UNSPREAD projection: the
    // window's own fingerprint exchange is this branch's parallelism, so a
    // spread repartition under it would be a second, wasted shuffle.
    val exact = narrowRaw
      .select(col("doc_id"), fingerprintMd5(col("text")).as("fp"))
      .withColumn("ex_keep",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
    val keep = exact
      .join(Dedup.componentsOf(narrow), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("doc_id") === coalesce(col("component"), col("doc_id")) &&
         col("doc_id") === col("ex_keep"))
          .cast("long").as("keep"))
    val quality = TextOps.qualityScoredOf(narrow)
      .select(col("doc_id"), col("quality_score"), col("lang_guess"))
    val split = TextOps.splitAssignOf(
        docs.select(col("doc_id"), col("lang"), col("source")),
        trainPer10, valPer10)
      .select(col("doc_id"), col("split"))
    keep.join(quality, "doc_id").join(split, "doc_id")
      .withColumn("selected",
        (col("keep") === 1L && col("lang_guess") === lang &&
         col("quality_score") >= minQuality && col("split") === "train")
          .cast("long"))
      .select(col("doc_id"), col("keep"), col("quality_score"),
              col("lang_guess"), col("split"), col("selected"))
      .orderBy(col("doc_id"))
  }

  /** The curation manifest through the REAL micro-batch engine — the proof
    * that pipeline COMPOSITION lifts to `readStream`, not just single
    * operators: one streaming query chains the stateless quality
    * projection ([[TextOps.corpusGatesOf]], the same formula as the batch
    * manifest, with the content fingerprint riding the same scan) into the
    * state-store exact-dedup decision
    * ([[graft.streaming.StatefulOps.manifestDedupStream]]: per
    * fingerprint, the owner = smallest doc_id lives in state; each
    * document emits exactly one manifest row in its arrival batch). The
    * documents replay as TWO doc_id-ordered files drained one per
    * micro-batch, so owners genuinely persist across a batch boundary —
    * a second-batch duplicate of a first-batch document gets keep=0 only
    * because the state store remembers the owner.
    *
    * Scope: the exact-dedup AND quality gates of [[curationManifestOf]].
    * The LSH near-dup component table needs corpus-wide band grouping and
    * the stratified split a per-stratum rank — both are batch (or
    * periodic-recompute) artifacts by nature, not per-record streaming
    * state; `selected` here is the exact+quality decision. */
  def curationManifestStream(spark: SparkSession, sfDir: String,
                             minQuality: Double = 0.5,
                             lang: String = "en"): DataFrame =
    curationManifestStreamOf(spark,
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
      s"docs:$sfDir", minQuality, lang)

  /** [[curationManifestStream]] over an arbitrary (doc_id, text) frame —
    * the testable core: the gate corpora contain no exact duplicates at
    * all, so the cross-batch ownership claim is pinned by a spec feeding a
    * corpus whose duplicate pair straddles the file split. `cacheKey`
    * names the per-JVM replay-copy cache entry. */
  def curationManifestStreamOf(spark: SparkSession, docs: DataFrame,
                               cacheKey: String,
                               minQuality: Double = 0.5,
                               lang: String = "en"): DataFrame = {
    import graft.streaming.StatefulOps
    implicit val enc: org.apache.spark.sql.Encoder[StatefulOps.ManifestRec] =
      org.apache.spark.sql.Encoders.product[StatefulOps.ManifestRec]
    val dir = StatefulQueries.timeOrderedFilesCopy(spark, cacheKey,
        Seq("d0.parquet", "d1.parquet")) {
      val d = docs
      val maxIdRow = d.agg(max(col("doc_id"))).head()
      if (maxIdRow.isNullAt(0)) Seq(d)
      else {
        // split at half the max doc_id — the replay contract is doc_id-
        // ordered arrival, so the boundary only needs to be a doc_id cut.
        // EITHER half can be empty (an id space starting above maxId/2
        // empties the lower one); an empty file would replay a zero-row
        // batch and fail the data-batch witness, so drop it
        val mid = maxIdRow.getLong(0) / 2
        val halves = Seq(d.filter(col("doc_id") <= mid), d.filter(col("doc_id") > mid))
          .filter(!_.isEmpty)
        if (halves.isEmpty) Seq(d) else halves
      }
    }
    StatefulQueries.drainOrderedFiles(spark, dir,
        minBatches = StatefulQueries.replayFileCount(dir)) { stream =>
      StatefulOps.manifestDedupStream(
        TextOps.corpusGatesOf(stream,
            extra = Seq(fingerprintMd5(col("text")).as("fp")))
          .select(col("fp"), col("doc_id"), col("quality_score"), col("lang_guess"))
          .as[StatefulOps.ManifestRec]).toDF()
    }
      .withColumn("selected",
        (col("keep") === 1L && col("lang_guess") === lang &&
         col("quality_score") >= minQuality).cast("long"))
      .select(col("doc_id"), col("keep"), col("quality_score"),
              col("lang_guess"), col("selected"))
      .orderBy(col("doc_id"))
  }
}
