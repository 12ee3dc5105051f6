package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation — the composite pipeline a
  * 100 TB text lake runs before tokenization:
  *
  *   1. quality gate (TextOps.textStats composite score);
  *   2. exact dedup (keep the minimum id per text digest);
  *   3. MinHash-LSH near-dup removal, TRANSITIVE: verified pairs form
  *      a graph, [[GraphOps.connectedComponents]] clusters them, and
  *      only each cluster's minimum id survives (greedy per-pair
  *      dropping under-drops: (a,c),(b,c) kept both a and b).
  *
  * Each stage is one of the engine's primitive ops; stages 1–2 are a
  * single declarative plan (scan → map-side stats → digest shuffle →
  * LSH band shuffle), stage 3 adds the iterative star-contraction
  * rounds of the clusterer over the (tiny) verified-pair set.
  */
object CorpusPipeline {

  val QualityThreshold = 0.55
  val JaccardThreshold = 0.3

  def curate(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      qualityThreshold: Double = QualityThreshold,
      jaccardThreshold: Double = JaccardThreshold): DataFrame = {
    val scored = TextOps.textStats(docs)
      .filter(col("quality_score") >= qualityThreshold)
    val keep = scored
      .groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"))
    // multi-action checkpoint before the iterative stage: `unique` is
    // consumed twice (minhash pair generation AND the final anti-join),
    // and the clusterer's per-round actions would otherwise recompute
    // the whole scan -> stats -> digest-dedup chain for each consumer.
    // Lazy — the CC initializer's first action materializes it.
    val unique = scored.join(keep, col(idCol) === col("keep_id"), "left_semi")
      .localCheckpoint(eager = false)
    val pairs = DedupOps.minhashNearDups(unique, textCol, idCol, jaccardThreshold)
    val drops = GraphOps.connectedComponents(pairs)
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    unique
      .join(drops, Seq(idCol), "left_anti")
      .select(col(idCol), col("n_tokens"), col("quality_score"))
  }

  /** Curation funnel: document and token counts surviving each stage
    * of [[curate]] (raw → quality gate → exact dedup → transitive
    * near-dup removal) plus each stage's retained-token share of raw —
    * the "what did curation cost me" dashboard every corpus release
    * starts from. Same stage rules and constants as [[curate]], so the
    * final stage's counts ARE q33's output totals.
    *
    * Scale: each stage relation is lazily checkpointed and feeds both
    * the next stage and its own 1-row aggregate — the corpus is
    * scanned once, the funnel itself is four 1-row folds unioned. */
  def curationFunnel(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      qualityThreshold: Double = QualityThreshold,
      jaccardThreshold: Double = JaccardThreshold): DataFrame = {
    // multi-action: each stage relation is read by the clusterer's
    // per-round jobs (through `unique`) AND by the funnel's own result
    // job, so a checkpoint is the only way one corpus pass serves both
    val scored = TextOps.textStats(docs).localCheckpoint(eager = false)
    val gated = scored.filter(col("quality_score") >= qualityThreshold)
      .localCheckpoint(eager = false)
    val keep = gated
      .groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"))
    val unique = gated.join(keep, col(idCol) === col("keep_id"), "left_semi")
      .localCheckpoint(eager = false)
    val pairs = DedupOps.minhashNearDups(unique, textCol, idCol, jaccardThreshold)
    val drops = GraphOps.connectedComponents(pairs)
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    val fin = unique.join(drops, Seq(idCol), "left_anti")
    def stage(df: DataFrame, i: Int, name: String) =
      df.agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .select(lit(i).as("stage"), lit(name).as("stage_name"),
          col("n_docs"), col("n_tokens"))
    val funnel = Seq(
      stage(scored, 0, "raw"),
      stage(gated, 1, "quality_gate"),
      stage(unique, 2, "exact_dedup"),
      stage(fin, 3, "near_dedup")).reduce(_ unionByName _)
    val raw = scored.agg(sum(col("n_tokens")).as("raw_tokens"))
    funnel.crossJoin(broadcast(raw))
      .select(col("stage"), col("stage_name"), col("n_docs"),
        col("n_tokens"),
        ExactRound.ratioRound(col("n_tokens"), col("raw_tokens"), 6)
          .as("token_share"))
  }
}
