package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.functions.VecDot

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Two paths:
  *   - [[bruteForceTopK]] — exact cosine top-k; the correctness
  *     baseline. Queries are broadcast, the corpus streams — one
  *     nested-loop join with no corpus shuffle, so it scales to any
  *     corpus size as long as the query batch is small.
  *   - [[ivfTopK]] — IVF-style bucketed search: corpus vectors are
  *     assigned to their nearest centroid (one broadcast join against
  *     the small centroid set), queries probe only the `nprobe`
  *     nearest buckets. At 100 TB the corpus-side assignment is
  *     map-side + one partitioned write; per-query work drops by
  *     ~(centroids/nprobe)×.
  *
  * Vectors are L2-normalized ONCE per row (so cosine = one dot
  * product per pair, not three), and the dot product is the custom
  * codegen [[graft.functions.VecDot]] expression — the interpreted
  * `aggregate(zip_with(...))` form was ~100× slower and dominated the
  * pair join. All arithmetic is sequential-fold double, bit-identical
  * to DuckDB's `list_dot_product` (verified empirically), so ranking
  * ties cannot diverge between engines.
  */
object SimilarityOps {

  /** Codegen'd sequential-fold dot product in double precision. */
  def dot(a: Column, b: Column): Column = VecDot.dot(a, b)

  /** Append an L2-normalized double-array copy of `vecCol`. */
  def withUnitVec(df: DataFrame, vecCol: String, out: String = "nv"): DataFrame = {
    VecDot.register(df.sparkSession)
    df.withColumn("__nrm", sqrt(dot(col(vecCol), col(vecCol))))
      .withColumn(out, transform(col(vecCol), x => x.cast("double") / col("__nrm")))
      .drop("__nrm")
  }

  /** Exact top-k neighbors for each query vector (query ids are a
    * small broadcast side; ranks break ties by neighbor id). */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val parallelism = corpus.sparkSession.sparkContext.defaultParallelism
    val q = withUnitVec(queries, vecCol).select(col(idCol).as("qid"), col("nv").as("qv"))
    val c = withUnitVec(corpus, vecCol).select(col(idCol).as("nid"), col("nv"))
      // the corpus arrives in O(file splits) partitions; spread the
      // nested-loop probe across the cluster
      .repartition(parallelism)
    val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("cosine", dot(col("qv"), col("nv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), round(col("cosine"), 6).as("cosine"))
  }

  /** The centroid codebook folded into ONE row holding an
    * array<struct(cid, cv)> — broadcast-joined onto every row so
    * centroid scoring runs map-side. (A per-centroid crossJoin row
    * expansion + row_number window costs a full-corpus Exchange+Sort
    * just to pick an argmax; folding the codebook makes assignment a
    * pure projection.) */
  private def codebook(cents: DataFrame): DataFrame =
    cents.agg(collect_list(struct(col("cid"), col("cv"))).as("cb"))

  /** `nprobe` nearest centroids of `vec` against codebook array `cb`,
    * map-side: score every entry as struct(-cosine, cid) — array_sort's
    * struct order (neg-cosine asc, cid asc) IS the (cosine desc, cid
    * asc) probe order — then slice. No Exchange, no Window. */
  private def nearestCentroids(cb: Column, vec: Column, nprobe: Int): Column =
    slice(array_sort(transform(cb,
      c => struct((-dot(vec, c("cv"))).as("nc"), c("cid").as("cid")))), 1, nprobe)

  /** Deterministic IVF: centroids are the vectors whose id divides
    * `centroidEvery` (a stand-in for a k-means codebook — the search
    * plumbing is what matters; swap the codebook without touching the
    * query path). Each corpus vector is assigned to its highest-cosine
    * centroid; each query probes its `nprobe` nearest buckets. Both
    * assignment and probe selection are map-side expressions over the
    * broadcast codebook — the only shuffle in the plan is the final
    * bucket join on `cid`. */
  def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroidEvery: Int,
      nprobe: Int,
      queryFilter: Column): DataFrame = {
    val cents = withUnitVec(emb, vecCol)
      .select(col(idCol).as("vid"), col("nv").as("v"))
      .filter(col("vid") % centroidEvery === 0)
      .select(col("vid").as("cid"), col("v").as("cv"))
    ivfTopKWithCodebook(emb, idCol, vecCol, cents, k, nprobe, queryFilter)
  }

  /** Spherical k-means codebook trainer — replaces [[ivfTopK]]'s
    * id-modulo stand-in centroids with real learned ones; the search
    * path is untouched (swap the codebook, keep the plan).
    *
    * Per Lloyd iteration: map-side nearest-centroid assignment against
    * the broadcast codebook (no Exchange), then one shuffle to mean
    * the assigned vectors per (centroid, dimension) and one to
    * re-assemble + L2-renormalize — the canonical distributed k-means
    * cost of one data pass + a small aggregation per iteration.
    * Initialization is deterministic (first k vectors by id).
    * Clusters that lose all members drop out (k shrinks), standard
    * Lloyd behavior. Double means here are order-sensitive in the last
    * ulp; the trainer is a numeric optimizer, not an oracle-checked
    * query, so that is acceptable (convergence is what's tested). */
  def kmeansCodebook(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): DataFrame = {
    val unit = withUnitVec(emb, vecCol).select(col(idCol).as("vid"), col("nv").as("v"))
    var cents = unit.orderBy("vid").limit(k)
      .select(col("vid").as("cid"), col("v").as("cv"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val cb = broadcast(codebook(cents))
      val assigned = unit.crossJoin(cb)
        .withColumn("cid", element_at(nearestCentroids(col("cb"), col("v"), 1), 1)("cid"))
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      val means = assigned.groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), expr("transform(pm, s -> s.m)").as("mv"))
      // spherical k-means: renormalize the mean back onto the sphere
      cents = means
        .withColumn("nrm", sqrt(dot(col("mv"), col("mv"))))
        .filter(col("nrm") > 0)
        .select(col("cid"), transform(col("mv"), x => x / col("nrm")).as("cv"))
        .localCheckpoint()
    }
    cents
  }

  /** Hubness audit of the k-NN graph: the in-degree (k-occurrence)
    * distribution of [[ivfTopK]]'s neighbor relation — positive skew
    * is THE high-dimensional pathology (a few "hub" vectors appear in
    * everyone's neighbor list while antihubs appear in none), the
    * standard before-you-trust-ANN health check (Radovanović et al.
    * 2010). One summary row: in-degree mean/sd/skewness, antihub
    * share (in-degree 0), hub count (in-degree ≥ 2k), max hub.
    *
    * Determinism: in-degrees are exact integers off the IVF edge set
    * (itself deterministic: modulo centroids, 6dp cosines, id
    * tie-breaks); the three moments fold as DECIMAL(38,0) integer
    * products; mean/sd/skew form in one shared double op order and
    * round 6dp.
    *
    * Scale: candidates come from the bucketed IVF join (never
    * all-pairs); the in-degree rollup is one shuffle on the neighbor
    * id; the moment fold is map-side-combined to a single row. */
  def hubness(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroidEvery: Int,
      nprobe: Int): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val knn = ivfTopK(emb, idCol, vecCol, k, centroidEvery, nprobe,
      lit(true))
    val indeg = emb.select(col(idCol).as("nid"))
      .join(knn.groupBy(col("nid")).agg(count(lit(1)).as("ind")),
        Seq("nid"), "left")
      .select(coalesce(col("ind"), lit(0L)).as("ind"))
    val agg = indeg.agg(count(lit(1)).as("n"),
      sum(col("ind").cast(dec)).as("s1"),
      sum((col("ind") * col("ind")).cast(dec)).as("s2"),
      sum((col("ind") * col("ind") * col("ind")).cast(dec)).as("s3"),
      sum(when(col("ind") === 0, 1L).otherwise(0L)).as("n_antihubs"),
      sum(when(col("ind") >= 2L * k, 1L).otherwise(0L)).as("n_hubs"),
      max(col("ind")).as("max_indeg"))
    val n = dbl(col("n"))
    val mu = dbl(col("s1")) / n
    val m2 = dbl(col("s2")) / n - mu * mu
    val m3 = dbl(col("s3")) / n - lit(3.0) * mu * (dbl(col("s2")) / n) +
      lit(2.0) * mu * mu * mu
    agg.select(col("n").as("n_vecs"), col("s1").cast(LongType).as("n_edges"),
      ExactRound.ratioRound(col("s1"), col("n"), 6).as("mean_indeg"),
      when(m2 > 0, round(sqrt(m2), 6)).as("sd_indeg"),
      when(m2 > 0, round(m3 / sqrt(m2 * m2 * m2), 6)).as("skew_indeg"),
      col("n_antihubs"), col("n_hubs"), col("max_indeg"))
  }

  /** kNN label purity: per label, the share of IVF k-NN edges whose
    * NEIGHBOR carries the query's own label, against the label's
    * base-rate prevalence — the instance-level "are the embeddings
    * label-coupled" read (lift ≫ 1 = the space separates labels =
    * a classifier probe would leak them; ≈ 1 = labels are not
    * geometrically encoded). The neighborhood-level companion to
    * q357's cluster-level ARI, on the SAME q333 IVF k-NN graph.
    *
    * Determinism: the k-NN edge set is [[ivfTopK]]'s deterministic
    * (cosine DESC, nid) pick; edge/same counts are integers; purity,
    * base rate, and lift each finish in one double op order, 6dp.
    *
    * Scale: the k-NN relation is the bucketed IVF join (never
    * all-pairs); two broadcast-able label attaches; a \|labels\|-row
    * aggregate. */
  def neighborLabelPurity(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      centroidEvery: Int,
      nprobe: Int): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val labels = emb.select(col(idCol).as("__lid"),
      col(labelCol).as("__lab")).localCheckpoint(eager = false)
    val knn = ivfTopK(emb, idCol, vecCol, k, centroidEvery, nprobe,
      lit(true))
    val edges = knn
      .join(labels.select(col("__lid").as("qid"),
        col("__lab").as("q_label")), "qid")
      .join(labels.select(col("__lid").as("nid"),
        col("__lab").as("n_label")), "nid")
    val perLabel = edges.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("q_label") === col("n_label"), 1L).otherwise(0L))
          .as("n_same"))
    val base = labels.groupBy(col("__lab").as("label"))
      .agg(count(lit(1)).as("n_vecs"))
    val tot = labels.agg(count(lit(1)).as("n_total"))
    val baseRate = dbl(col("n_vecs")) / dbl(col("n_total"))
    perLabel.join(base, "label").crossJoin(broadcast(tot))
      .select(col("label"), col("n_vecs"), col("n_edges"),
        col("n_same"),
        ExactRound.ratioRound(col("n_same"), col("n_edges"), 6)
          .as("purity"),
        ExactRound.ratioRound(col("n_vecs"), col("n_total"), 6)
          .as("base_rate"),
        // lift = (6dp purity)/(6dp base rate), itself an exact
        // rational of the two scaled integers
        when(baseRate > 0, ExactRound.ratioRound(
          ExactRound.ratioRoundScaled(col("n_same"), col("n_edges"), 6),
          ExactRound.ratioRoundScaled(col("n_vecs"), col("n_total"), 6),
          6)).as("lift"))
  }

  /** kNN label confusion matrix: each vector's predicted label is the
    * MAJORITY label among its IVF k nearest neighbors (ties break to
    * the smallest label), cross-tabulated against its true label —
    * the full mistake STRUCTURE behind [[neighborLabelPurity]]'s
    * per-label rate (purity says label 3 leaks; the confusion row
    * says it leaks INTO label 7 specifically, i.e. which classes the
    * embedding space actually confuses).
    *
    * Determinism: the same deterministic IVF k-NN edge set as q385;
    * votes are integer counts; the argmax is max(struct(count,
    * −label)) ⇔ (count DESC, label ASC) — identical in both engines.
    *
    * Scale: the k-NN relation is the bucketed IVF join (never
    * all-pairs); two broadcast-able label attaches; a per-query vote
    * rollup (≤ k rows in, 1 out) and a \|labels\|²-cell aggregate. */
  def knnConfusion(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      centroidEvery: Int,
      nprobe: Int): DataFrame = {
    val labels = emb.select(col(idCol).as("__lid"),
      col(labelCol).as("__lab")).localCheckpoint(eager = false)
    val knn = ivfTopK(emb, idCol, vecCol, k, centroidEvery, nprobe,
      lit(true))
    val pred = knn
      .join(labels.select(col("__lid").as("qid"),
        col("__lab").as("q_label")), "qid")
      .join(labels.select(col("__lid").as("nid"),
        col("__lab").as("n_label")), "nid")
      .groupBy(col("qid"), col("q_label"), col("n_label"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("qid"), col("q_label"))
      .agg(max(struct(col("c"), (-col("n_label")).as("nl")))
        .getField("nl").as("neg_pred"))
    pred
      .groupBy(col("q_label").as("label"),
        (-col("neg_pred")).as("pred_label"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** TwoNN intrinsic-dimension estimate (Facco et al. 2017): for each
    * vector the ratio μ = r₂/r₁ of its two nearest-neighbor distances
    * follows Pareto(d) under local uniformity, so the MLE is
    * d̂ = n / Σ ln μ — "how many dimensions do the embeddings REALLY
    * use locally", the local companion to the global spectrum views
    * (q260 PCA, q325 participation ratio): a 768-wide embedding with
    * d̂ ≈ 10 is normal; d̂ ≈ 2 means the space collapsed.
    *
    * On unit vectors r² = 2(1 − cos), so
    * ln μ = 0.5·ln((1 − c₂)/(1 − c₁)) straight from [[ivfTopK]]'s
    * 6dp cosines. Exact duplicates (c₁ = 1, r₁ = 0) drop with the
    * count reported — their μ is undefined.
    *
    * Determinism: per-vector terms round 12dp and fold as
    * DECIMAL(38,12); the estimate forms in one shared double op order
    * and rounds 6dp.
    *
    * Scale: the 2-NN relation is the bucketed IVF join (never
    * all-pairs); the pivot is one qid-keyed aggregate; the fold is
    * map-side-combined to a single row. */
  def twoNN(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroidEvery: Int,
      nprobe: Int): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val knn = ivfTopK(emb, idCol, vecCol, k = 2, centroidEvery, nprobe,
      lit(true))
    val piv = knn.groupBy(col("qid")).agg(
      max(when(col("rank") === 1, col("cosine"))).as("c1"),
      max(when(col("rank") === 2, col("cosine"))).as("c2"))
    val usable = col("c1").isNotNull && col("c2").isNotNull &&
      col("c1") < 1.0
    val term = round(lit(0.5) *
      log((lit(1.0) - col("c2")) / (lit(1.0) - col("c1"))), 12)
      .cast(DecimalType(38, 12))
    val total = emb.agg(count(lit(1)).as("n_vecs"))
    val agg = piv.agg(count(lit(1)).as("n_scored"),
      sum(when(usable, lit(1L)).otherwise(0L)).as("n_used"),
      sum(when(usable, term)).as("s"))
      .crossJoin(broadcast(total))
    agg.select(col("n_vecs"), col("n_scored"), col("n_used"),
      when(col("n_used") > 0,
        ExactRound.ratioRound(ExactRound.toUnscaled(col("s"), 12),
          col("n_used") * lit(1000000000000L), 6)).as("mean_ln_mu"),
      when(col("n_used") > 0 && dbl(col("s")) > 0,
        ExactRound.ratioRound(col("n_used") * lit(1000000000000L),
          ExactRound.toUnscaled(col("s"), 12), 6)).as("id_mle"))
  }

  /** Objective for [[kmeansCodebook]]: total cosine of every vector to
    * its nearest centroid (spherical k-means maximizes this). */
  def assignmentObjective(emb: DataFrame, idCol: String, vecCol: String, cents: DataFrame): Double = {
    val unit = withUnitVec(emb, vecCol).select(col(idCol).as("vid"), col("nv").as("v"))
    val cb = broadcast(codebook(cents))
    unit.crossJoin(cb)
      .select((-element_at(nearestCentroids(col("cb"), col("v"), 1), 1)("nc")).as("cos"))
      .agg(sum(col("cos"))).head().getDouble(0)
  }

  /** [[ivfTopK]] with a caller-supplied codebook (e.g. a trained
    * [[kmeansCodebook]]) instead of the deterministic id-modulo
    * stand-in. Same plan shape: map-side assignment + probe selection,
    * bucket join on cid. */
  def ivfTopKWithCodebook(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      cents: DataFrame,
      k: Int,
      nprobe: Int,
      queryFilter: Column): DataFrame = {
    val parallelism = emb.sparkSession.sparkContext.defaultParallelism
    val e = withUnitVec(emb, vecCol).select(col(idCol).as("vid"), col("nv").as("v"))
      .repartition(parallelism)
    val cb = broadcast(codebook(cents))
    val assigned = e.crossJoin(cb)
      .withColumn("cid", element_at(nearestCentroids(col("cb"), col("v"), 1), 1)("cid"))
      .select(col("vid"), col("v"), col("cid"))
    val q = e.filter(queryFilter).select(col("vid").as("qid"), col("v").as("qv"))
    val probes = q.crossJoin(cb)
      .select(col("qid"), col("qv"),
        explode(nearestCentroids(col("cb"), col("qv"), nprobe)).as("p"))
      .select(col("qid"), col("qv"), col("p.cid").as("cid"))
    val wRank = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vid"))
    probes.join(assigned, Seq("cid"))
      .filter(col("vid") =!= col("qid"))
      .withColumn("cosine", dot(col("qv"), col("v")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vid").as("nid"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** IVF-bucket near-dup candidates: each vector probes its `nprobe`
    * nearest centroids (map-side, broadcast codebook); a pair is a
    * candidate iff the probe sets intersect. Feeds the exact-cosine
    * verify in [[DedupOps.embeddingNearDups]] — candidates shrink
    * from n² to Σ bucket², with no corpus-sized broadcast anywhere. */
  def ivfCandidatePairs(
      unit: DataFrame,
      centroidEvery: Int,
      nprobe: Int): DataFrame = {
    val cents = unit.filter(col("vid") % centroidEvery === 0)
      .select(col("vid").as("cid"), col("v").as("cv"))
    val cb = broadcast(codebook(cents))
    val probes = unit.crossJoin(cb)
      .select(col("vid"),
        explode(nearestCentroids(col("cb"), col("v"), nprobe)).as("p"))
      .select(col("vid"), col("p.cid").as("cid"))
    probes.as("x").join(probes.as("y"),
        col("x.cid") === col("y.cid") && col("x.vid") < col("y.vid"))
      .select(col("x.vid").as("id_a"), col("y.vid").as("id_b"))
      .distinct()
  }

  /** Hard cell assignment: each unit vector's single nearest centroid
    * (cosine, lowest-cid tie-break) — the nprobe=1 slice of
    * [[ivfCandidatePairs]]'s probe step as a reusable relation.
    * Map-side over a broadcast codebook; no shuffle. */
  def cellAssignments(unit: DataFrame, centroidEvery: Int): DataFrame = {
    val cents = unit.filter(col("vid") % centroidEvery === 0)
      .select(col("vid").as("cid"), col("v").as("cv"))
    val cb = broadcast(codebook(cents))
    unit.crossJoin(cb)
      .select(col("vid"), col("v"),
        element_at(nearestCentroids(col("cb"), col("v"), 1), 1)
          .getField("cid").as("cell"))
  }

  /** Per-dimension embedding statistics: count, mean, sample variance
    * for every coordinate, ranked by variance — the anisotropy /
    * dead-dimension audit run before indexing a corpus (a handful of
    * dominant dimensions ruins PQ and IVF cell balance; near-zero
    * variance dimensions are free to drop).
    *
    * Scale: posexplode is map-side; the (dim) aggregate key is fixed
    * at the dimensionality, so the shuffle carries dim·P partial rows
    * (map-side combine); the rank window runs on |dims| rows only.
    * float→double casts are exact; per-row x and x² terms round 12dp
    * and DECIMAL-sum (partial-order-proof); mean/variance form once
    * per dim in DOUBLE mirrored by the oracle. */
  def dimStats(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      topK: Int = 10): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    def dsum(c: Column) = sum(round(c, 12).cast(DecimalType(28, 12)))
    val ex = emb
      .select(posexplode(col(vecCol)).as(Seq("pos", "xf")))
      .select((col("pos") + 1).as("dim"), col("xf").cast(DoubleType).as("x"))
    val agg = ex.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        dsum(col("x")).as("sx"),
        dsum(col("x") * col("x")).as("sxx"))
    val mean = dbl(col("sx")) / dbl(col("n"))
    val variance =
      (dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")) / dbl(col("n"))) /
        (dbl(col("n")) - 1)
    agg.filter(col("n") > 1)
      .withColumn("mean_x", round(mean, 8))
      .withColumn("var_x", round(variance, 8))
      .withColumn("var_rank",
        row_number().over(Window.orderBy(col("var_x").desc, col("dim"))))
      .select(col("dim"), col("n"), col("mean_x"), col("var_x"),
        col("var_rank"), (col("var_rank") <= topK).as("is_top"))
  }

  /** Product-quantization ENCODE: split the vector into `m` equal
    * subspaces and record, per subspace, the id of the L2-nearest
    * centroid — the compression step that turns a 100 TB float corpus
    * into RAM-resident byte codes (64 floats → m small ints here;
    * real deployments use 8-bit codes per subspace).
    *
    * Plan shape: the codebook folds into ONE broadcast row; encoding is
    * a pure map-side projection (argmin folds over the broadcast array
    * inside codegen'd HOFs) — no Exchange anywhere. The argmin fold
    * keeps the LOWEST centroid id on exact distance ties and sums
    * subspace squared-differences in index order, so the DuckDB twin
    * (row_number over (dist, cid)) reproduces codes bit-for-bit.
    *
    * Centroids default to the id-modulo stand-in ([[ivfTopK]]'s
    * convention); pass a trained [[kmeansCodebook]] per subspace for
    * real deployments — the encode path is codebook-agnostic. */
  /** Embedding-space outlier audit: each vector's Euclidean distance
    * to its label centroid, flagged when it exceeds 1.5× the label's
    * mean distance — the "mislabeled / junk embedding" data-quality
    * gate over a labeled corpus (the geometric sibling of q79's
    * robust scalar outliers).
    *
    * Determinism: centroids are [[graft.ops.CorpusOps.labelCentroids]]'
    * 6dp-rounded doubles (identical cross-engine); per-dimension
    * squared deviations floor to 1e-12 scaled longs and fold in a
    * SEQUENTIAL `aggregate` (exact integers — order could not matter
    * anyway); distances floor to 1e-6 longs; the outlier rule
    * 2·dist·n > 3·Σdist compares pure integers — no mean division.
    *
    * Scale: the centroid table (|labels|·dim rows) folds to one array
    * per label and BROADCASTS; the squared-deviation fold is map-side
    * `zip_with` (no per-dimension explode of the corpus); the only
    * corpus shuffles are the label-keyed stats rollup and its
    * broadcast join back. */
  def embedOutliers(
      emb: DataFrame,
      idCol: String = "vec_id",
      labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val dbl = (c: Column) => c.cast(org.apache.spark.sql.types.DoubleType)
    val carr = graft.ops.CorpusOps.labelCentroids(emb, labelCol, vecCol)
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("centroid"))))
        .as("pc"))
      .select(col("label"),
        transform(col("pc"), p => p.getField("centroid")).as("cvec"))
    val j = emb
      .select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        col(vecCol).cast("array<double>").as("v"))
      .join(broadcast(carr), "label")
      .withColumn("d12", aggregate(
        zip_with(col("v"), col("cvec"),
          (a, b) => floor((a - b) * (a - b) * lit(1e12) + lit(0.5))
            .cast("long")),
        lit(0L), (s, t) => s + t))
      .withColumn("dist6",
        floor(sqrt(dbl(col("d12")) / lit(1e12)) * lit(1e6) + lit(0.5))
          .cast("long"))
      .localCheckpoint(eager = false)
    val stats = j.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("dist6")).as("sd6"))
    j.join(broadcast(stats), "label")
      .select(col("vec_id"), col("label"),
        (col("dist6") / lit(1e6)).as("dist_r"),
        (col("dist6") * 2 * col("n_vecs") > lit(3L) * col("sd6"))
          .as("is_outlier"))
  }

  def pqEncode(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 4,
      centroidEvery: Int = 50): DataFrame = {
    graft.functions.PqCodes.register(emb.sparkSession)
    val cents = emb
      .filter(col(idCol) % centroidEvery === 0)
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"))
    // sort by cid so the kernel's strict-< keeps the lowest cid on ties
    val cb = broadcast(cents.agg(
      sort_array(collect_list(struct(col("cid"), col("cv")))).as("cb")))
    // encode via the codegen'd pq_codes kernel — the declarative
    // aggregate-argmin twin (PropertySpec asserts bit-equality) ran
    // interpreted at subspaces × centroids × subdim lambda dispatches
    // per corpus row and dominated q70/q97
    emb.crossJoin(cb)
      .withColumn("__codes",
        graft.functions.PqCodes.codes(col(vecCol), col("cb"), lit(m)))
      .select(col(idCol) +:
        (0 until m).map(j => element_at(col("__codes"), j + 1).as(s"c$j")): _*)
  }

  /** Squared L2 between subspace `j` (width `sd`) of vectors `x` and
    * `c` — a SEQUENTIAL left fold of squared differences in index
    * order, bit-identical to the DuckDB twin's `list_reduce` (shared
    * by [[pqEncode]] and [[pqAdcTopK]], so codes and query distance
    * tables derive from the one arithmetic rule). */
  private def subL2(x: Column, c: Column, j: Int, sd: Column): Column =
    aggregate(
      zip_with(
        slice(x, lit(j) * sd + 1, sd),
        slice(c, lit(j) * sd + 1, sd),
        (a, b) => (a.cast("double") - b.cast("double")) *
          (a.cast("double") - b.cast("double"))),
      lit(0.0), (s, z) => s + z)

  /** PQ asymmetric-distance (ADC) top-k search — the read path that
    * makes [[pqEncode]]'s compression useful: the corpus is scanned as
    * CODES only (m small ints per vector, never the float arrays), and
    * each query precomputes one distance TABLE per subspace (distance
    * from the query's subvector to every centroid). A corpus vector's
    * approximate distance is then m map lookups + a fixed-order sum —
    * no float math against corpus data at all.
    *
    * Plan shape at 100 TB: the codebook folds to one broadcast row;
    * the per-query tables (queries × m maps of `centroids` entries)
    * broadcast with the query batch; scoring is pure map-side over the
    * code stream; the ONLY shuffle is the per-query top-k window over
    * rows that survive nothing (all corpus rows score — same shape as
    * [[bruteForceTopK]], but each row costs m lookups instead of a
    * d-element dot product, and the scan reads m ints instead of d
    * floats — the 10-50× I/O cut is the point of PQ).
    *
    * Determinism: the ADC sum is an explicit left-assoc chain
    * d0+d1+d2+... (both engines evaluate in j order), each d_j comes
    * from the shared [[subL2]] fold, and ranks break ties by neighbor
    * id on the EXACT double — the DuckDB twin reproduces the ranking
    * bit-for-bit. */
  def pqAdcTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryFilter: Column,
      k: Int = 5,
      m: Int = 4,
      centroidEvery: Int = 50): DataFrame = {
    val codes = pqEncode(emb, idCol, vecCol, m, centroidEvery)
    val cents = emb
      .filter(col(idCol) % centroidEvery === 0)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val cb = broadcast(cents.agg(
      sort_array(collect_list(struct(col("cid"), col("cv")))).as("cb")))
    val sd = (size(col("qv")) / m).cast("int")
    // per-query ADC tables: one map cid -> subspace distance per j
    val q = emb.filter(queryFilter)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .crossJoin(cb)
      .select(col("qid") +: (0 until m).map(j =>
        map_from_entries(transform(col("cb"),
          e => struct(e("cid"), subL2(col("qv"), e("cv"), j, sd)))).as(s"dt$j")): _*)
    val scored = codes.join(broadcast(q), col("qid") =!= col(idCol))
      .withColumn("adc",
        (0 until m).map(j => element_at(col(s"dt$j"), col(s"c$j"))).reduce(_ + _))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col(idCol).as("nid"), col("rank").cast("int").as("rank"),
        round(col("adc"), 6).as("adc"))
  }

  /** IVF-shortlist + PQ-ADC re-rank — the composed production ANN
    * shape (FAISS's IVFPQ): the query probes its `nprobe` nearest
    * (cosine) cells, only vectors whose HARD cell is probed enter the
    * candidate set, and candidates are ranked by the [[pqAdcTopK]]
    * asymmetric distance over byte codes — the corpus is touched as
    * (cell, codes) only, never as floats.
    *
    * Scale: the two prior postures compose unchanged — broadcast
    * codebooks, map-side cell projection and encode, ONE bucket join
    * (cell) for the shortlist, ADC tables broadcast per query batch,
    * and the rank window runs over candidate rows (Σ probed-bucket
    * sizes per query), not the corpus. Same deterministic tie-breaks
    * as both parents (lowest cid on encode ties, (adc, nid) on rank
    * ties), so the DuckDB twin reproduces ranks exactly. */
  def ivfPqTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryFilter: Column,
      k: Int = 5,
      m: Int = 4,
      centroidEvery: Int = 50,
      nprobe: Int = 2): DataFrame = {
    val unit = withUnitVec(emb, vecCol)
      .select(col(idCol).as("vid"), col("nv").as("v"))
    val corpusCells = cellAssignments(unit, centroidEvery)
      .select(col("vid"), col("cell"))
    val cents0 = unit.filter(col("vid") % centroidEvery === 0)
      .select(col("vid").as("cid"), col("v").as("cv"))
    val cbU = broadcast(codebook(cents0))
    val probes = withUnitVec(emb.filter(queryFilter), vecCol)
      .select(col(idCol).as("pqid"), col("nv").as("pv"))
      .crossJoin(cbU)
      .select(col("pqid"),
        explode(nearestCentroids(col("cb"), col("pv"), nprobe)).as("p"))
      .select(col("pqid"), col("p.cid").as("cell"))
    val cand = probes.join(corpusCells, "cell")
      .filter(col("pqid") =!= col("vid"))
      .select(col("pqid"), col("vid")).distinct()
    val codes = pqEncode(emb, idCol, vecCol, m, centroidEvery)
    val cents = emb
      .filter(col(idCol) % centroidEvery === 0)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val cb = broadcast(cents.agg(
      sort_array(collect_list(struct(col("cid"), col("cv")))).as("cb")))
    val sd = (size(col("qv")) / m).cast("int")
    val q = emb.filter(queryFilter)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .crossJoin(cb)
      .select(col("qid") +: (0 until m).map(j =>
        map_from_entries(transform(col("cb"),
          e => struct(e("cid"), subL2(col("qv"), e("cv"), j, sd))))
          .as(s"dt$j")): _*)
    val scored = cand.join(codes, col("vid") === col(idCol))
      .join(broadcast(q), col("pqid") === col("qid"))
      .withColumn("adc",
        (0 until m).map(j => element_at(col(s"dt$j"), col(s"c$j")))
          .reduce(_ + _))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col(idCol).as("nid"),
        col("rank").cast("int").as("rank"), round(col("adc"), 6).as("adc"))
  }

  /** Broadcast linear-classifier inference — the "quality/toxicity
    * model scoring" stage of a corpus pipeline. Train side derives a
    * Fisher-style linear discriminant from two label centroids
    * (w = c_B − c_A, bias = −w·midpoint); inference side scores every
    * vector with one codegen dot product plus the bias.
    *
    * The model folds to ONE broadcast row — nothing corpus-sized
    * leaves the executors, and scoring is pure map-side (the same
    * shape real fasttext-/logreg-style quality filters run at 100 TB:
    * broadcast the weights, map the corpus). Centroid dims are
    * rounded to 6dp BEFORE w is built (the q40 contract), so every
    * engine folds the IDENTICAL model; margins round at emission, and
    * the predicted class derives from the ROUNDED margin so the
    * boundary cannot flip cross-engine. */
  def linearScore(
      emb: DataFrame,
      labelA: Int = 0,
      labelB: Int = 1,
      labelCol: String = "label",
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    VecDot.register(emb.sparkSession)
    val cents = CorpusOps.labelCentroids(
      emb.filter(col(labelCol).isin(labelA, labelB)), labelCol, vecCol)
    // (label, pos, centroid) rows → one row holding the two ordered
    // centroid arrays → (w, bias); max() over the single non-null
    // array per label is a deterministic pick
    val model = cents
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("centroid"))))
        .as("cs"))
      .select(col("label"),
        transform(col("cs"), s => s.getField("centroid")).as("cv"))
      .groupBy()
      .agg(
        max(when(col("label") === labelA, col("cv"))).as("ca"),
        max(when(col("label") === labelB, col("cv"))).as("cb"))
      .select(
        zip_with(col("cb"), col("ca"), (b, a) => b - a).as("w"),
        zip_with(col("cb"), col("ca"), (b, a) => (b + a) / 2).as("mid"))
      .select(col("w"), (-dot(col("w"), col("mid"))).as("bias"))
    emb
      .crossJoin(broadcast(model))
      .select(col(idCol), col(labelCol).as("label"),
        round(dot(col("w"), transform(col(vecCol), _.cast("double")))
          + col("bias"), 6).as("margin"))
      .withColumn("pred", (col("margin") > 0).cast("int"))
  }

  /** ANN index-quality evaluation IN the engine: recall@k of the IVF
    * index against the exact brute-force top-k for the same query set
    * — the acceptance metric every approximate index ships with, run
    * as one plan over the corpus instead of a driver-side eval script.
    * Both rankings use the identical (cosine desc, nid) tie-break, so
    * the metric is deterministic cross-engine.
    *
    * Scale posture = the union of its parts: the exact side streams
    * the corpus against a broadcast query batch; the IVF side probes
    * buckets; the final join/agg runs on 2·|q|·k rows — nothing new
    * shuffles at corpus size. At 100 TB the exact side is the
    * expensive half — run it on a SAMPLE of queries (the standard
    * recall-eval protocol), which is what `queryFilter` expresses. */
  def annRecall(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 5,
      centroidEvery: Int = 50,
      nprobe: Int = 2): DataFrame = {
    val exact = bruteForceTopK(emb, emb.filter(col(idCol) < 10), idCol, vecCol, k)
      .select(col("qid"), col("nid"))
    val approx = ivfTopK(emb, idCol, vecCol, k, centroidEvery, nprobe,
      queryFilter = col("vid") < 10)
      .select(col("qid"), col("nid"))
    val matched = approx.join(exact, Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_matched"))
    exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(matched, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        round(coalesce(col("n_matched"), lit(0L)).cast("double") / k, 4)
          .as("recall"))
  }

  /** Matryoshka / prefix-dimension recall curve: for each query, the
    * exact top-k under the FULL dot product vs the top-k under the
    * dot of only the first d components of the (full-norm) unit
    * vectors, for each d in `dims` — the acceptance metric for the
    * standard memory-bandwidth lever where a truncated-prefix scan
    * shortlists candidates and the full vector rescopes only the
    * shortlist (matryoshka embeddings / ADC-style first pass).
    *
    * Determinism: every score is the sequential-fold double
    * [[graft.functions.VecDot]] over identical operands in both
    * engines (prefix = slice-then-dot, bit-identical to DuckDB's
    * `list_dot_product(list_slice(...))`); ranks break ties by
    * neighbor id; hits are exact integers.
    *
    * Scale: queries broadcast (a sampled eval set, never the corpus);
    * ONE corpus scan scores all prefixes at once (the slices reuse
    * the row already in hand); the per-query rankings share one
    * qid exchange across the window passes; output |queries| rows. */
  /** Shared core of the prefix-eval ops: every (query, neighbor) pair
    * scored by the full dot and each prefix dot, ranked per qid under
    * each scoring (ties by neighbor id), one shared qid exchange. */
  private def prefixRanked(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Seq[Int],
      queryEvery: Int): DataFrame = {
    val parallelism = emb.sparkSession.sparkContext.defaultParallelism
    val base = withUnitVec(emb, vecCol)
    val q = base.filter(col(idCol) % queryEvery === 0)
      .select(col(idCol).as("qid"), col("nv").as("qv"))
    val c = base.select(col(idCol).as("nid"), col("nv"))
      .repartition(parallelism)
    val scored = dims.foldLeft(
      c.join(broadcast(q), col("qid") =!= col("nid"))
        .withColumn("f", dot(col("qv"), col("nv")))) { (df, d) =>
      df.withColumn(s"p$d",
        dot(slice(col("qv"), 1, d), slice(col("nv"), 1, d)))
    }
    val w = Window.partitionBy(col("qid"))
    dims.foldLeft(
      scored.withColumn("rf",
        row_number().over(w.orderBy(col("f").desc, col("nid"))))) { (df, d) =>
      df.withColumn(s"r$d",
        row_number().over(w.orderBy(col(s"p$d").desc, col("nid"))))
    }
  }

  def prefixRecall(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 5,
      dims: Seq[Int] = Seq(8, 16, 32),
      queryEvery: Int = 50): DataFrame = {
    val ranked = prefixRanked(emb, idCol, vecCol, dims, queryEvery)
    val aggs = dims.map(d =>
      sum(when(col(s"r$d") <= k, 1L).otherwise(0L)).as(s"hits_$d"))
    ranked.filter(col("rf") <= k)
      .groupBy(col("qid"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The 1e12-scaled DCG position discounts floor(1e12/log2(i+1)+½)
    * for positions 1..k — pinned INTEGER literals shared verbatim by
    * both engines, so DCG is an exact integer sum (never an
    * order-sensitive float fold). */
  def dcgWeights(k: Int): Seq[Long] =
    (1 to k).map(i =>
      math.floor(1e12 / (math.log(i + 1.0) / math.log(2.0)) + 0.5).toLong)

  /** Prefix-dimension nDCG@k: the position-aware companion to
    * [[prefixRecall]] — a prefix shortlist that finds all five true
    * neighbors but inverts their order scores 1.0 on recall and
    * below 1.0 here. Relevance is binary (full-ranking top-k
    * membership); the discount weights are [[dcgWeights]] pinned
    * integers, so per-query DCG is an exact integer and nDCG an
    * exact [[ExactRound]] quotient.
    *
    * Scale: identical plan to [[prefixRecall]] (same shared-exchange
    * core); output |queries| rows. */
  def prefixNdcg(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 5,
      dims: Seq[Int] = Seq(8, 16, 32),
      queryEvery: Int = 50): DataFrame = {
    val ranked = prefixRanked(emb, idCol, vecCol, dims, queryEvery)
    val ws = dcgWeights(k)
    val idcg = ws.sum
    val wArr = array(ws.map(lit): _*)
    val aggs = dims.map { d =>
      ExactRound.ratioRound(
        coalesce(sum(when(col(s"r$d") <= k && col("rf") <= k,
          element_at(wArr, col(s"r$d").cast("int")))), lit(0L)),
        lit(idcg), 6).as(s"ndcg_$d")
    }
    ranked.filter(col("rf") <= k || dims.map(d => col(s"r$d") <= k)
        .reduce(_ || _))
      .groupBy(col("qid"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Hard-negative margin analysis: per label, the distribution of
    * (best same-label cosine − best cross-label cosine) over a
    * sampled anchor set — the instance-level separability read a
    * contrastive-training run wants BEFORE mining negatives (q110
    * samples negatives; this says whether hard negatives even exist:
    * a negative mean margin means the nearest neighbor is usually the
    * WRONG class). Anchors whose label has no other member drop out
    * (no same-label best exists).
    *
    * Determinism: max() over doubles is order-insensitive (unlike
    * sum), so both bests are exact; the margin is ONE shared double
    * subtract, rounds at 12dp, folds in DECIMAL(38,12); the mean is
    * an exact [[ExactRound]] quotient and the positive-share an exact
    * count ratio.
    *
    * Scale: anchors broadcast (a sampled eval set) and the broadcast
    * is CONSTANT-SIZE at any corpus scale — after the `queryEvery`
    * stride the anchor set is cut to the `maxAnchors` smallest ids in
    * md5 order (the q55 reproducible-sample rule, executed as a
    * distributed top-k, never a corpus-sized sort), so a 100 TB corpus
    * broadcasts the same ≤ maxAnchors rows a 100 GB one does; ONE
    * corpus scan; a per-anchor two-max rollup; |labels| rows out.
    * `maxAnchors <= 0` disables the cap. */
  def hardNegativeMargin(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label",
      queryEvery: Int = 50,
      maxAnchors: Int = 1024): DataFrame = {
    val parallelism = emb.sparkSession.sparkContext.defaultParallelism
    val dec12 = DecimalType(38, 12)
    val base = withUnitVec(emb, vecCol)
    val qAll = base.filter(col(idCol) % queryEvery === 0)
      .select(col(idCol).as("qid"), col(labelCol).as("q_label"),
        col("nv").as("qv"))
    val q =
      if (maxAnchors > 0)
        qAll.orderBy(md5(col("qid").cast("string")), col("qid"))
          .limit(maxAnchors)
      else qAll
    val c = base.select(col(idCol).as("nid"), col(labelCol).as("n_label"),
        col("nv"))
      .repartition(parallelism)
    val margins = c.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("cos", dot(col("qv"), col("nv")))
      .groupBy(col("qid"), col("q_label"))
      .agg(
        max(when(col("q_label") === col("n_label"), col("cos"))).as("s"),
        max(when(col("q_label") =!= col("n_label"), col("cos"))).as("x"))
      .filter(col("s").isNotNull && col("x").isNotNull)
      .withColumn("m12", round(col("s") - col("x"), 12))
    margins.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_anchors"),
        sum(col("m12").cast(dec12)).as("sm"),
        sum(when(col("m12") > 0, 1L).otherwise(0L)).as("n_pos"))
      .select(col("label"), col("n_anchors"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("sm"), 12),
          col("n_anchors").cast(DecimalType(38, 0)) *
            lit(1000000000000L), 6).as("mean_margin"),
        ExactRound.ratioRound(col("n_pos"), col("n_anchors"), 4)
          .as("share_separable"))
  }

  /** Reproducible negative sampling for contrastive training: for
    * each vector, `k` pseudo-random "negative" partners drawn by the
    * portable md5 hash over (id, draw index) — no RNG state, so the
    * SAME pairs come out at any scale, partitioning, or retry (the
    * property a distributed sampler must have for resumable training
    * jobs). Self-draws step to the next id. Each pair is annotated
    * with the raw dot product (the training-signal sanity column) via
    * the codegen [[graft.functions.VecDot]] kernel.
    *
    * Assumes ids are dense 0..N−1 (the testdata layout); production
    * corpora get there with one `row_number` pass, which is also the
    * standard trick for O(1) random access into a parquet corpus.
    *
    * Scale posture: draws are map-side expression math; the single
    * shuffle is the join that fetches each negative's vector (k ×
    * corpus rows on a uniformly-hashed key — no hot spots by
    * construction). N folds to one broadcast row.
    */
  def negativeSample(
      emb: DataFrame,
      k: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1)
    VecDot.register(emb.sparkSession)
    val nRow = broadcast(emb.agg(count(lit(1)).as("n")))
    val draws = emb.crossJoin(nRow)
      .select(col(idCol), col(vecCol).as("av"),
        explode(transform(sequence(lit(1), lit(k)), i => {
          val h = graft.functions.CrossHash.x32(
            concat(lit("neg#"), col(idCol).cast("string"), lit("#"), i.cast("string")))
          val m = pmod(h, col("n"))
          struct(i.cast("int").as("i"),
            when(m === col(idCol), pmod(m + 1, col("n"))).otherwise(m).as("neg_id"))
        })).as("d"))
      .select(col(idCol), col("av"), col("d.i").as("i"), col("d.neg_id").as("neg_id"))
    draws
      .join(emb.select(col(idCol).as("neg_id"), col(vecCol).as("bv")), "neg_id")
      .select(col(idCol), col("i"), col("neg_id"),
        round(dot(col("av"), col("bv")), 6).as("dot"))
  }

  /** Symmetric int8 scalar quantization — the 4× storage cut that
    * usually precedes PQ: per-dimension scale s_i = max|x_i| over the
    * corpus, code c_i = floor(x_i / s_i · 127 + 0.5) clamped to
    * [-127, 127]. `floor(·+0.5)` is used instead of `round` so the
    * tie rule is a single IEEE-exact formula in both engines.
    *
    * Emits per-vector codes (first dim as a spot-check column), the
    * max absolute reconstruction error and its L2 — the quality report
    * a quantized index ships with.
    *
    * Scale posture: per-dim maxima are a (pos)-keyed map-side-combined
    * aggregate (dim-sized, tiny); they fold to ONE array row and
    * broadcast, so encode + error are pure map-side array math over
    * the corpus scan. No corpus-sized shuffle anywhere.
    */
  def int8Quantize(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val scales = emb
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(max(abs(col("x").cast("double"))).as("s"))
    // fold dim rows into one ordered array; guard s=0 dims (constant 0
    // column) by mapping them to scale 1 — code 0 either way
    val sArr = broadcast(scales.agg(
      transform(
        array_sort(collect_list(struct(col("pos"), col("s")))),
        e => when(e("s") > 0.0, e("s")).otherwise(1.0)).as("scales")))
    val codes = zip_with(col(vecCol), col("scales"),
      (x, s) => greatest(lit(-127.0),
        least(lit(127.0), floor(x.cast("double") / s * 127.0 + 0.5))).cast("int"))
    val err = zip_with(
      zip_with(col("codes"), col("scales"),
        (c, s) => c.cast("double") / 127.0 * s),
      col(vecCol),
      (r, x) => abs(r - x.cast("double")))
    emb.crossJoin(sArr)
      .withColumn("codes", codes)
      .withColumn("errv", err)
      .select(col(idCol),
        element_at(col("codes"), 1).as("c1"),
        round(aggregate(col("errv"), lit(0.0), (a, e) => greatest(a, e)), 6)
          .as("max_err"),
        round(sqrt(aggregate(col("errv"), lit(0.0), (a, e) => a + e * e)), 6)
          .as("err_l2"))
  }

  /** Embedding isotropy per label: the EXACT mean pairwise cosine of
    * the label's unit vectors, computed without any pairwise join via
    * the Gram identity  Σ_{i≠j} cos(u_i, u_j) = ‖Σu‖² − Σ‖u‖²  — the
    * anisotropy audit (embeddings clumping into a cone score near 1;
    * a well-spread space near 0) next to q187's per-dimension stats.
    * At 100 TB the identity is the whole point: the naive form is an
    * O(n²) self-join; this is one per-dimension aggregate.
    *
    * Determinism: unit components round 12dp and DECIMAL-sum per
    * (label, dim) — exact, order-free; the d per-dim squares round
    * 8dp and DECIMAL-sum again (a 64-term double sum would be
    * merge-order-sensitive); one double division at the end. */
  def isotropy(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val perDim = withUnitVec(emb, vecCol)
      .select(col(labelCol).as("label"), posexplode(col("nv")).as(Seq("pos", "u")))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("u"), 12).cast(DecimalType(28, 12))).as("su"),
        sum(round(col("u") * col("u"), 12).cast(DecimalType(28, 12)))
          .as("su2"))
    perDim
      .groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        sum(round(dbl(col("su")) * dbl(col("su")), 8)
          .cast(DecimalType(28, 8))).as("norm2"),
        sum(col("su2")).as("self2"))
      .select(col("label"), col("n_vecs"),
        round((dbl(col("norm2")) - dbl(col("self2"))) /
          (dbl(col("n_vecs")) * (dbl(col("n_vecs")) - lit(1.0))), 8)
          .as("mean_pairwise_cos"))
  }

  /** Reliability bins for a scored relation (the calibration curve):
    * the score range splits into `bins` equal-width buckets (the q115
    * histogram rule — degenerate zero-width range collapses to bin
    * 0), and each bucket reports its size, mean score, and positive
    * rate — how monotone the scorer actually is, the acceptance
    * check before its threshold gates anything (q89's margins are the
    * canonical input).
    *
    * Determinism: scores arrive pre-rounded (6dp from linearScore),
    * so the bin edges, the DECIMAL mean sums, and the integer counts
    * are all exact; the two emitted ratios divide once each.
    *
    * Scale: one 2-value global aggregate broadcast back (the q115
    * stats shape), then one map-side-combined per-bin rollup. */
  def calibrationBins(
      scores: DataFrame,
      scoreCol: String = "margin",
      labelCol: String = "label",
      posLabel: Int = 1,
      bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1 (got $bins)")
    val st = scores.agg(min(col(scoreCol)).as("lo"), max(col(scoreCol)).as("hi"))
    scores.crossJoin(broadcast(st))
      .withColumn("w", (col("hi") - col("lo")) / lit(bins.toDouble))
      .withColumn("bin",
        when(col("w") > 0,
          least(lit(bins - 1),
            floor((col(scoreCol) - col("lo")) / col("w")).cast("int")))
          .otherwise(0).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol) === posLabel, 1L).otherwise(0L)).as("n_pos"),
        sum(col(scoreCol).cast(DecimalType(28, 6))).as("ss"))
      .select(col("bin"), col("n"), col("n_pos"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("ss"), 6),
          col("n") * lit(1000000L), 6).as("mean_score"),
        ExactRound.ratioRound(col("n_pos"), col("n"), 6)
          .as("pos_rate"))
  }
  /** Shared exact centered-Gram fold (the q260 machinery): ONE
    * primitive upper-triangle accumulator per partition — scaled-1e12
    * longs with BigInteger overflow spill, so cell sums are EXACT and
    * partitioning-invariant — plus the per-row quartic Σ‖c‖⁴ the
    * Ledoit–Wolf estimator needs. Returns (G/divisor as doubles, the
    * exact scaled quartic total). Collects partitions·(d(d+1)/2 + 1)
    * cells — dimension-bounded, never corpus-sized. */
  private def centeredGram(
      emb: DataFrame,
      vecCol: String,
      means: Array[Double],
      n: Long,
      divisor: Double): (Array[Array[Double]], java.math.BigInteger) = {
    val spark = emb.sparkSession
    val d = means.length
    val bMu = spark.sparkContext.broadcast(means)
    import spark.implicits._
    val partials = emb
      .select(transform(col(vecCol), x => x.cast(DoubleType)).as("v"))
      .as[Seq[Double]]
      .rdd.mapPartitions { it =>
        val mu = bMu.value
        val dd = mu.length
        val nc = dd * (dd + 1) / 2 + 1 // final slot: Σ‖c‖⁴
        val accL = new Array[Long](nc)
        val accB = new Array[java.math.BigInteger](nc)
        def add(idx: Int, p: Long): Unit = {
          val sNew = accL(idx) + p
          if (((accL(idx) ^ sNew) & (p ^ sNew)) < 0) {
            val prev =
              if (accB(idx) == null) java.math.BigInteger.ZERO
              else accB(idx)
            accB(idx) = prev.add(java.math.BigInteger.valueOf(accL(idx)))
            accL(idx) = p
          } else accL(idx) = sNew
        }
        var any = false
        it.foreach { v =>
          any = true
          val c = new Array[Double](dd)
          var i = 0
          while (i < dd) { c(i) = v(i) - mu(i); i += 1 }
          var idx = 0
          var nrm2 = 0.0
          i = 0
          while (i < dd) {
            nrm2 += c(i) * c(i)
            var j = i
            while (j < dd) {
              // HALF_UP (half away from zero), matching the repo's 12dp
              // decimal-fold convention: Math.round alone rounds negative
              // halves toward +inf
              val p = c(i) * c(j) * 1e12
              add(idx, if (p >= 0) Math.round(p) else -Math.round(-p))
              idx += 1; j += 1
            }
            i += 1
          }
          add(nc - 1, Math.round(nrm2 * nrm2 * 1e12))
        }
        if (!any) Iterator.empty
        else Iterator.single(Array.tabulate(nc) { k =>
          val b =
            if (accB(k) == null) java.math.BigInteger.ZERO else accB(k)
          b.add(java.math.BigInteger.valueOf(accL(k)))
        })
      }.collect()
    val nc = d * (d + 1) / 2 + 1
    def cell(idx: Int): java.math.BigInteger =
      partials.foldLeft(java.math.BigInteger.ZERO)((a, p) => a.add(p(idx)))
    val g = Array.ofDim[Double](d, d)
    var idx = 0
    var ii = 0
    while (ii < d) {
      var jj = ii
      while (jj < d) {
        val v = new java.math.BigDecimal(cell(idx), 12).doubleValue / divisor
        g(ii)(jj) = v; g(jj)(ii) = v
        idx += 1; jj += 1
      }
      ii += 1
    }
    (g, cell(nc - 1))
  }

  /** Ledoit–Wolf (2004) identity-target shrinkage intensity over the
    * embedding covariance: with their normalized norm ‖A‖² = tr(AAᵀ)/d
    * and S = (1/n)·ΣccT, m = tr(S)/d, d² = ‖S − mI‖², and
    * b̄² = (1/n²)·Σ‖c‖⁴/d − tr(S²)/(n·d); b² = min(b̄², d²) and the
    * shrinkage δ = b²/d² — "how far toward m·I should the sample
    * covariance move before you trust it": the conditioning audit a
    * 100 TB covariance consumer (whitening, Mahalanobis dedup, PCA)
    * checks before inverting anything.
    *
    * The Gram fold is [[pcaTopVariance]]'s exact machinery (shared
    * helper); `mu` is ALSO emitted in the q187 moment form (12dp
    * decimal sums, 8dp per-dim 1/n-variances, exact decimal total /d)
    * so the DuckDB twin reproduces it bit-for-bit — the q260 gate
    * pattern: SQL anchors hashed, the Frobenius legs gated as bound
    * booleans, the exact values pinned by Round7Spec's dyadic
    * fixture (δ = 0.5 on the (1,0)/(0,1) pair). */
  def lwShrinkage(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 12).cast(DecimalType(28, 12)))
    val n = emb.count()
    require(n > 1, "need at least two vectors")
    val mom = emb
      .select(posexplode(col(vecCol)).as(Seq("pos", "xf")))
      .select(col("pos"), col("xf").cast(DoubleType).as("x"))
      .groupBy(col("pos"))
      .agg(dsum(col("x")).as("sx"), dsum(col("x") * col("x")).as("sxx"))
      .collect().sortBy(_.getInt(0))
    val d = mom.length
    val nD = n.toDouble
    val means = mom.map(_.getDecimal(1).doubleValue / nD)
    // m in the SQL-matchable moment form: per-dim 1/n-variance rounded
    // 8dp, exact decimal total, /d — the q260 total_var convention
    val muDec = mom.foldLeft(BigDecimal(0)) { (acc, r) =>
      val sx = r.getDecimal(1).doubleValue
      val sxx = r.getDecimal(2).doubleValue
      acc + BigDecimal((sxx - sx * sx / nD) / nD)
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)
    }
    val mu = muDec.toDouble / d
    val (sMat, quartic) = centeredGram(emb, vecCol, means, n, divisor = nD)
    var fro = 0.0
    var trS = 0.0
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) { fro += sMat(i)(j) * sMat(i)(j); j += 1 }
      trS += sMat(i)(i)
      i += 1
    }
    // d² from the Gram fold's OWN trace: ‖S − mI‖²/d = fro/d − (trS/d)²
    // only holds with m = tr(S)/d from the same matrix, so this form is
    // ≥ 0 by construction (clamped for fp dust); the moment-form `mu`
    // stays solely the emitted SQL anchor
    val d2 = math.max(fro / d - (trS / d) * (trS / d), 0.0)
    val q4 = new java.math.BigDecimal(quartic, 12).doubleValue
    val bBar2 = q4 / d / (nD * nD) - fro / (nD * d)
    val b2 = math.min(math.max(bBar2, 0.0), math.max(d2, 0.0))
    val shrink = if (d2 > 0) b2 / d2 else 1.0
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    Seq((n, d, r6(mu), r6(d2), r6(b2), r6(shrink)))
      .toDF("n_vecs", "dim", "mu", "d2", "b2", "shrinkage")
  }

  /** Participation ratio (Roy–Vetterli effective dimensionality) of
    * the embedding covariance: PR = tr(S)² / tr(S²) = (Σλ)²/Σλ² —
    * how many dimensions the variance REALLY occupies (PR = d for
    * isotropic, → 1 for rank-1 collapse) WITHOUT an eigen solve: both
    * traces are Gram invariants, so this is the eigen-spectrum
    * summary with a full-strength SQL oracle (q304's d2/b2 legs can
    * only gate as bound booleans; PR needs no eigenvector at all).
    *
    * Determinism: covariance cells come from the [[centeredGram]]
    * 12dp-exact fold, round 8dp; the diagonal trace folds those 8dp
    * values exactly; each cell SQUARES AS A DOUBLE then rounds 16dp
    * (mirroring what SQL can express — NOT BigDecimal-exact squaring,
    * which differs by an ulp) and folds exactly with the ×2
    * off-diagonal weight; PR is one double division rounded 6dp.
    *
    * Scale: one per-dim moment pass + the one-pass primitive Gram
    * fold (driver state d² cells, dimension-bounded — the q260
    * posture). */
  /** Adjusted Rand index between the deterministic IVF partition
    * (modulo centroids, (−cosine, cid) argmax — q30's assignment
    * verbatim) and the ground-truth labels: does the GEOMETRIC
    * clustering recover the label structure — the external-validity
    * check next to the internal indices (q276 silhouette, q323
    * Davies–Bouldin, q326 Calinski–Harabasz), which can all score a
    * partition highly while it cuts across every label. Emits TWO
    * rows: the fine partition vs the labels (external validity — near
    * zero when labels are geometry-independent, itself an informative
    * audit) and vs a COARSE codebook's partition (granularity
    * stability — the exercised metric: high when the fine partition
    * nests cleanly under coarsening).
    *
    * Determinism: the assignment argmax reuses q30's proven
    * cosine/tie-break; everything after is exact pair counting on the
    * (cluster, label) contingency table (nij(nij−1) longs); ARI and
    * the plain Rand index form once in a shared double op order over
    * ≤C(n,2)-sized integers (exact doubles), rounded 6dp.
    *
    * Scale: assignment is map-side against the broadcast codebook
    * (the q30 plan); the contingency table is one (cid, label)
    * aggregate (≤ k·|labels| cells — everything after is
    * cell-bounded); output is ONE row. */
  def clusterLabelAgreement(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      centroidEvery: Int,
      coarseEvery: Int): DataFrame = {
    require(coarseEvery > centroidEvery,
      s"coarse codebook must be coarser ($coarseEvery <= $centroidEvery)")
    val unit = withUnitVec(emb, vecCol)
      .select(col(idCol).as("vid"), col(labelCol).as("label"),
        col("nv").as("v"))
      .localCheckpoint(eager = false) // two codebooks + the assignment
    def cents(every: Int) = unit.filter(col("vid") % every === 0)
      .select(col("vid").as("cid"), col("v").as("cv"))
    val cbF = broadcast(codebook(cents(centroidEvery)))
    val cbC = broadcast(
      codebook(cents(coarseEvery)).withColumnRenamed("cb", "cb2"))
    val assigned = unit.crossJoin(cbF).crossJoin(cbC)
      .withColumn("cidf",
        element_at(nearestCentroids(col("cb"), col("v"), 1), 1)("cid"))
      .withColumn("cidc",
        element_at(nearestCentroids(col("cb2"), col("v"), 1), 1)("cid"))
      .select(col("cidf"), col("cidc"), col("label"))
      .localCheckpoint(eager = false) // both comparisons read it
    ariRow(assigned, "cidf", "label", "labels")
      .unionByName(ariRow(assigned, "cidf", "cidc", "coarse_codebook"))
  }

  /** One ARI/Rand row from the (aCol, bCol) contingency of `pairs` —
    * exact pair-counting integers, doubles only in the final shared
    * op order. */
  private def ariRow(
      pairs: DataFrame, aCol: String, bCol: String, tag: String): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val cells = pairs.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("nij"))
      .localCheckpoint(eager = false) // three rollups read the cells
    val tot = cells.agg(sum(col("nij")).as("n"),
      sum(col("nij") * (col("nij") - 1)).as("sij"))
    val byA = cells.groupBy(col("__a")).agg(sum(col("nij")).as("ai"))
      .agg(count(lit(1)).as("k_a"),
        sum(col("ai") * (col("ai") - 1)).as("sa"))
    val byB = cells.groupBy(col("__b")).agg(sum(col("nij")).as("bj"))
      .agg(count(lit(1)).as("k_b"),
        sum(col("bj") * (col("bj") - 1)).as("sb"))
    tot.crossJoin(byA).crossJoin(byB)
      .withColumn("idx", dbl(col("sij")) / lit(2.0))
      .withColumn("ea", dbl(col("sa")) / lit(2.0))
      .withColumn("eb", dbl(col("sb")) / lit(2.0))
      .withColumn("tt", dbl(col("n") * (col("n") - 1)) / lit(2.0))
      .withColumn("ex", col("ea") * col("eb") / col("tt"))
      .withColumn("mx", (col("ea") + col("eb")) / lit(2.0))
      .select(lit(tag).as("comparison"),
        col("n").as("n_vecs"), col("k_a"), col("k_b"),
        when(col("mx") =!= col("ex"),
          round((col("idx") - col("ex")) / (col("mx") - col("ex")), 6))
          .as("ari"),
        round((col("tt") + lit(2.0) * col("idx") - col("ea") - col("eb")) /
          col("tt"), 6).as("rand_index"))
  }

  def participationRatio(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 12).cast(DecimalType(28, 12)))
    val n = emb.count()
    require(n > 1, "need at least two vectors")
    val mom = emb
      .select(posexplode(col(vecCol)).as(Seq("pos", "xf")))
      .select(col("pos"), col("xf").cast(DoubleType).as("x"))
      .groupBy(col("pos"))
      .agg(dsum(col("x")).as("sx"))
      .collect().sortBy(_.getInt(0))
    val d = mom.length
    val nD = n.toDouble
    val means = mom.map(_.getDecimal(1).doubleValue / nD)
    val (sMat, _) = centeredGram(emb, vecCol, means, n, divisor = nD)
    def r8(x: Double) =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    var trDec = BigDecimal(0)
    var froDec = BigDecimal(0)
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val cv = r8(sMat(i)(j)).toDouble
        val sq = BigDecimal(cv * cv)
          .setScale(16, BigDecimal.RoundingMode.HALF_UP)
        froDec += (if (i == j) sq else sq * 2)
        if (i == j) trDec += r8(sMat(i)(i))
        j += 1
      }
      i += 1
    }
    val tr = trDec.toDouble
    val fro = froDec.toDouble
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pr = if (fro > 0) tr * tr / fro else Double.NaN
    import spark.implicits._
    Seq((n, d, r6(tr),
        if (fro > 0) Some(r6(pr)) else None,
        if (fro > 0) Some(r6(pr / d)) else None))
      .toDF("n_vecs", "dim", "trace", "pr", "pr_share")
  }

  /** Top-component PCA variance audit via the exact Gram matrix: one
    * mapPartitions pass folds ONE primitive upper-triangle accumulator
    * per partition (scaled-1e12 longs with BigInteger overflow spill —
    * cell sums are EXACT and partitioning-invariant), the driver runs
    * a FIXED-iteration power method (deterministic ones-vector init,
    * no RNG) with one deflation step, and the output is a single row:
    * how much variance the top and second components carry — the
    * "are these embeddings basically rank-1" audit next to isotropy
    * (q226) and per-dim stats (q187).
    *
    * `total_var` is computed in the q187 moment form (per-dim 12dp
    * decimal sums, 8dp per-dim variances, exact decimal total) so the
    * DuckDB twin reproduces it bit-for-bit — the SQL-checkable anchor
    * the q260 gate hashes, with the eigen legs gated as bound
    * booleans (λ₁ ≤ trace, λ₁ ≥ trace/d, λ₁+λ₂ ≤ trace) the way
    * q32/q44 gate sketches.
    *
    * The collects are the bounded-state exception (like the k-means
    * objective): d moment rows + partitions·d(d+1)/2 Gram cells — a
    * function of the DIMENSION, never of the corpus. Everything
    * corpus-sized stays distributed. */
  def pcaTopVariance(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      iters: Int = 50): DataFrame = {
    val spark = emb.sparkSession
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 12).cast(DecimalType(28, 12)))
    val n = emb.count()
    require(n > 1, "need at least two vectors")
    // pass A: per-dim moments (the q187 idiom) — d collected rows give
    // the centering means AND the SQL-matchable total variance
    val mom = emb
      .select(posexplode(col(vecCol)).as(Seq("pos", "xf")))
      .select(col("pos"), col("xf").cast(DoubleType).as("x"))
      .groupBy(col("pos"))
      .agg(dsum(col("x")).as("sx"), dsum(col("x") * col("x")).as("sxx"))
      .collect().sortBy(_.getInt(0))
    val d = mom.length
    val nD = n.toDouble
    val means = mom.map(_.getDecimal(1).doubleValue / nD)
    // per-dim sample variance in the exact double op order of q187's
    // twin, rounded 8dp; the total folds as EXACT decimals
    val varTotal = mom.foldLeft(BigDecimal(0)) { (acc, r) =>
      val sx = r.getDecimal(1).doubleValue
      val sxx = r.getDecimal(2).doubleValue
      acc + BigDecimal((sxx - sx * sx / nD) / (nD - 1))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)
    }
    import spark.implicits._
    // pass B: the shared centered-Gram fold (one primitive accumulator
    // per partition, one emitted row per partition)
    val (g, _) = centeredGram(emb, vecCol, means, n, divisor = n - 1.0)
    def mul(m: Array[Array[Double]], v: Array[Double]): Array[Double] =
      Array.tabulate(d)(i => (0 until d).foldLeft(0.0)((acc, j) => acc + m(i)(j) * v(j)))
    def norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)
    def power(m: Array[Array[Double]]): (Double, Array[Double]) = {
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      var i = 0
      while (i < iters) {
        val nv = mul(m, v); val nn = norm(nv)
        if (nn > 0) v = nv.map(_ / nn)
        i += 1
      }
      val mv = mul(m, v)
      ((0 until d).foldLeft(0.0)((acc, k) => acc + v(k) * mv(k)), v)
    }
    val (l1, v1) = power(g)
    // deflate: g2 = g − λ1·v1·v1ᵀ
    val g2 = Array.tabulate(d, d)((i, j) => g(i)(j) - l1 * v1(i) * v1(j))
    val (l2, _) = power(g2)
    val trace = (0 until d).foldLeft(0.0)((acc, i) => acc + g(i)(i))
    Seq((n, d,
      BigDecimal(l1).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(l2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(varTotal.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(if (trace > 0) l1 / trace else 0.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(if (trace > 0) (l1 + l2) / trace else 0.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n_vecs", "dim", "lambda1", "lambda2", "total_var",
        "top1_share", "top2_share")
  }
}
