package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Corpus-level statistics and layout operators a training-data
  * pipeline runs after curation:
  *
  *   - [[packByBudget]] — token-budget sequence packing: assign docs
  *     to fixed-token-budget bins (the layout step before tokenized
  *     examples are concatenated into training sequences);
  *   - [[termFrequency]] — corpus term/document frequencies with a
  *     deterministic top-k cut (vocabulary building, stopword mining);
  *   - [[labelCentroids]] — per-label embedding centroids (cluster
  *     summaries, classifier prototypes, drift monitoring);
  *   - [[chunk]] — overlapping token-window chunking (the
  *     context-window split step before embedding or training);
  *   - [[tfidf]] — per-document top-k TF-IDF terms (keyword
  *     extraction, relevance features).
  *
  * Scale posture: packing windows are partitioned by shard (parallel;
  * shard count scales with the cluster — a global pack order would
  * serialize on one task). Term counting is a map-side-combined
  * groupBy on the term; hot terms (stopwords) are absorbed by partial
  * aggregation, not a skewed join. Centroids explode to (label, pos)
  * keys — dims × labels groups, partial-aggregated — and accumulate
  * in DECIMAL so partial-aggregation order cannot perturb the double
  * result (same rule as the exact-statistics queries).
  */
object CorpusOps {

  /** Context-window truncation audit: for each source × token limit,
    * how many documents exceed the limit and what share of the
    * source's tokens survives a hard truncate-at-L — the
    * sequence-length budgeting table a training run reads before
    * choosing its context window (the loss side of q57's chunking and
    * q38's packing, which both KEEP the tail this op drops).
    *
    * All-integer: whitespace token counts, per-(source, limit) sums
    * of min(n, L) and of the over-limit indicator; the kept-share is
    * an exact [[ExactRound]] quotient. The limit set rides a 3-row
    * explode — map-side, no join.
    *
    * Scale: ONE corpus scan (tokenize counts only — text never
    * shuffles), one (source, limit) map-side-combined rollup over
    * |sources|·|limits| cells.
    *
    * NULL text coalesces to "" (0 tokens) BEFORE size(split(...)):
    * Spark's size() returns -1 on NULL input where DuckDB's twin
    * yields NULL (counted row, sum-skipped) — the coalesce keeps both
    * engines counting a null doc as an empty one. */
  def truncationLoss(
      docs: DataFrame,
      limits: Seq[Int] = Seq(16, 32, 64),
      textCol: String = "text"): DataFrame = {
    docs
      .select(col("source"),
        size(split(trim(coalesce(col(textCol), lit(""))), " +"))
          .cast("long").as("n"))
      .select(col("source"), col("n"),
        explode(array(limits.map(l => lit(l)): _*)).as("lim"))
      .groupBy(col("source"), col("lim"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n") > col("lim"), 1L).otherwise(0L))
          .as("n_truncated"),
        sum(col("n")).as("tokens_total"),
        sum(least(col("n"), col("lim").cast("long"))).as("tokens_kept"))
      .select(col("source"), col("lim"), col("n_docs"),
        col("n_truncated"), col("tokens_total"), col("tokens_kept"),
        ExactRound.ratioRound(col("tokens_kept"), col("tokens_total"), 6)
          .as("share_kept"))
  }

  /** Assign each document to a token-budget bin, packing in `idCol`
    * order WITHIN each of `nShards` hash shards: bin = floor((running
    * token total − 1) / budget). A document that crosses a budget
    * boundary belongs to the bin its cumulative count lands in — the
    * standard one-window approximation of greedy packing that stays
    * embarrassingly parallel across shards.
    *
    * `nShards <= 0` (the default) resolves to the cluster's default
    * parallelism, so the packing windows scale with the cluster
    * instead of capping at a constant; pass an explicit count when the
    * shard assignment itself must be reproducible across cluster
    * sizes (the q38 oracle twin pins 8). */
  def packByBudget(
      docs: DataFrame,
      budget: Long,
      nShards: Int = 0,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val shards =
      if (nShards > 0) nShards else docs.sparkSession.sparkContext.defaultParallelism
    val stats = TextOps.textStats(docs, textCol)
      .select(col(idCol), col("token_est"))
      .withColumn("shard", pmod(col(idCol), lit(shards.toLong)).cast("int"))
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stats
      .withColumn("cum_tokens", sum(col("token_est")).over(w))
      .withColumn("bin",
        floor((col("cum_tokens") - 1) / lit(budget.toDouble)).cast("long"))
  }

  /** Overlapping token-window chunking: window c of a document covers
    * tokens [c·stride+1, c·stride+chunkLen]; a document shorter than
    * one window yields a single (shorter) chunk, and the final window
    * may be partial.
    *
    * The tokenized rows pass one round-robin Exchange
    * ([[Dist.materialize]]) before the explode: `toks` is computed
    * once per document, not re-split per chunk, and a few-split input
    * (tiny files, a bench-scale scan) spreads across
    * `defaultParallelism` tasks before the chunk expansion. */
  def chunk(
      docs: DataFrame,
      chunkLen: Int = 64,
      stride: Int = 48,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(stride >= 1 && chunkLen >= stride,
      s"need 1 <= stride <= chunkLen (got chunkLen=$chunkLen stride=$stride)")
    Dist.materialize(docs.withColumn("toks", TextOps.tokens(col(textCol)))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") >= 1))
      .withColumn("n_chunks",
        when(col("n") <= chunkLen, lit(1L))
          .otherwise(ceil((col("n") - lit(chunkLen)).cast(DoubleType) / stride)
            .cast("long") + 1L))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("n_chunks") - 1)))
      .select(
        col(idCol), col("chunk_id"),
        concat_ws(" ",
          slice(col("toks"), col("chunk_id") * stride + 1, lit(chunkLen))).as("chunk_text"),
        least(lit(chunkLen.toLong), col("n") - col("chunk_id") * stride).as("chunk_tokens"))
  }

  /** Per-document top-k TF-IDF terms: tf(d,t)·ln(N/df(t)), ranked by
    * (rounded score desc, term asc) — rounding BEFORE ranking makes the
    * cut deterministic across engines (raw doubles can differ by an
    * ulp; at 6 dp near-ties collapse and break on the term).
    *
    * Scale posture: one explode → (doc, term) partial-aggregated count,
    * the only token-level shuffle; df is a per-term window count over
    * that tf relation, N counts the tokenized docs and broadcasts as a
    * 1-row join. The per-doc rank window partitions by doc_id — no
    * global sort.
    */
  def tfidf(
      docs: DataFrame,
      topPerDoc: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // ONE tokenize+explode pass feeds ONE token-level shuffle (the
    // (doc, term) tf aggregate). df(term) is tf's per-term row count,
    // taken as a window over tf itself: a df aggregate joined back
    // would re-plan the tf aggregate with its count pruned away, and
    // that second copy cannot reuse the first one's token shuffle.
    // n_docs is the distinct doc count of the tokenized (pre-explode)
    // docs, the same value as tf's distinct doc count.
    val toks = Dist.materialize(
      docs.withColumn("toks", TextOps.tokens(col(textCol)))
        .filter(size(col("toks")) >= 1))
    val tf = toks.select(col(idCol), explode(col("toks")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val n = toks.agg(count_distinct(col(idCol)).as("n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast(DoubleType) / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topPerDoc)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Corpus term frequency (tf) and document frequency (df), top `k`
    * by (tf desc, term asc) — a total order, so the cut is
    * deterministic. */
  def termFrequency(
      docs: DataFrame,
      k: Int,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), count_distinct(col(idCol)).as("df"))
      .orderBy(col("tf").desc, col("term"))
      .limit(k)

  /** Per-class training weights over a labeled table: the
    * inverse-frequency weight N/(k·N_c) (sums to N over the dataset —
    * the sklearn "balanced" convention) and the class-balanced
    * effective-number weight (1−β)/(1−β^{N_c}) of Cui et al. 2019 —
    * the two standard corrections a trainer applies when labels are
    * skewed, computed engine-side so the training job receives a
    * ready broadcast table.
    *
    * Determinism: counts are exact integers; β^{N_c} is written as
    * exp(N_c·ln β) in BOTH engines (one shared op order, no pow
    * library variance); weights round at 6.
    *
    * Scale: one groupBy to k class rows; constant-time after. */
  def classWeights(
      emb: DataFrame,
      labelCol: String = "label",
      beta: Double = 0.99): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val counts = emb.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_c"))
    val tot = counts.agg(sum(col("n_c")).as("n"), count(lit(1)).as("k"))
    counts.crossJoin(broadcast(tot))
      .select(col("label"), col("n_c"),
        ExactRound.ratioRound(col("n"), col("k") * col("n_c"), 6)
          .as("inv_freq_w"),
        round((lit(1.0) - lit(beta)) /
          (lit(1.0) - exp(dbl(col("n_c")) * log(lit(beta)))), 6)
          .as("eff_num_w"))
  }

  /** Church–Gale term burstiness for the top-`k` terms by document
    * frequency: burstiness = tf_total/df (mean occurrences per doc
    * that CONTAINS the term) and repeat rate = P(tf ≥ 2 | tf ≥ 1) —
    * separating topical words (bursty: rare across docs, dense inside
    * them) from function words (even spread), which raw tf/df ranks
    * (q38/q57) conflate. A curation pipeline uses it to build
    * stopword lists that plain frequency would poison with topical
    * hot terms.
    *
    * Determinism: all counts are exact integers off one (doc, term)
    * aggregate; the two ratios are single rounded double divides; the
    * cut orders by (df desc, term asc) — total.
    *
    * Scale: one token shuffle to (doc, term), one to the term
    * vocabulary; the rank window runs on the vocab aggregate (q39
    * rule) and can fall back to TakeOrdered if the vocab ever
    * dominates. */
  def termBurstiness(
      docs: DataFrame,
      k: Int = 25,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    docs
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"),
        sum(when(col("tf") >= 2, 1L).otherwise(0L)).as("df_rep"))
      .orderBy(col("df").desc, col("term"))
      .limit(k)
      .select(col("term"), col("df"), col("tf_total"), col("df_rep"),
        ExactRound.ratioRound(col("tf_total"), col("df"), 6)
          .as("burstiness"),
        ExactRound.ratioRound(col("df_rep"), col("df"), 6)
          .as("repeat_rate"))
  }

  /** One BPE merge round over the corpus: global counts of ADJACENT
    * token pairs — the statistic a byte-pair / wordpiece vocabulary
    * builder maximizes each round (the top pair is the next merge).
    * Emits the top-k pairs with a deterministic dense ranking.
    *
    * Plan shape: pairs build MAP-SIDE as an array comprehension over
    * the token array (one `transform(sequence)` — no posexplode
    * self-join, no shuffle before the count), then one hash aggregate
    * on the pair key and a TakeOrderedAndProject top-k cut (per-
    * partition top-k + single merge — never a global sort of the
    * pair vocabulary). The rank window runs AFTER the cut, over k
    * rows. Tie-break (n_occ desc, pair asc) is total — pair is
    * unique post-aggregate. */
  def bpePairs(
      docs: DataFrame,
      textCol: String = "text",
      topK: Int = 20): DataFrame = {
    val pairs = transform(sequence(lit(1), size(col("toks")) - 1),
      i => concat(element_at(col("toks"), i), lit(" "),
        element_at(col("toks"), i + 1)))
    docs
      .select(TextOps.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      // barrier: keep split(text) out of the pair lambda (q315 class)
      .localCheckpoint(eager = false)
      .select(explode(pairs).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(topK)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_occ").desc, col("pair"))))
  }

  /** Tokenizer vocabulary coverage: build the top-`vocabSize` term
    * vocabulary (the q39 total-order cut), then score every document's
    * out-of-vocabulary token rate against it — the "how much of the
    * corpus does a K-term vocab explain" decision input for tokenizer
    * sizing (the doc-level view of [[termCdf]]'s corpus-level curve).
    *
    * Token occurrences join the vocabulary BROADCAST (the vocab is
    * K rows by construction — never a shuffle); the per-doc rollup is
    * the only doc-keyed aggregate. OOV rate floors at 6dp from exact
    * long counts. */
  def vocabCoverage(
      docs: DataFrame,
      vocabSize: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1 (got $vocabSize)")
    val vocab = docs
      .select(explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term"))
      .limit(vocabSize)
      .select(col("term"), lit(1).as("in_vocab"))
    docs
      .select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (floor(col("n_oov").cast(DoubleType) /
          col("n_tokens").cast(DoubleType) * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("oov_rate"))
  }

  /** Per-source dataset card: the one-screen corpus summary a data
    * release ships — docs, token volume, language spread, distinct-
    * text share, mean doc length — per source feed. The roll-up every
    * mixing/weighting decision starts from (q61 stratified rates, q75
    * mixture weights, q99 domain caps all consume exactly these
    * numbers).
    *
    * Single map-side token-length pass into ONE (source) aggregate —
    * count_distinct folds md5 digests, never text; the mean floors to
    * 6dp from exact long counts. */
  def datasetCard(
      docs: DataFrame,
      srcCol: String = "source",
      textCol: String = "text",
      langCol: String = "lang"): DataFrame =
    docs
      .select(col(srcCol).as("source"), col(langCol).as("lang"),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_toks"),
        md5(col(textCol)).as("digest"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(col("digest")).as("n_distinct_texts"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_langs"), col("n_distinct_texts"),
        (floor(col("n_tokens").cast(DoubleType) /
          col("n_docs").cast(DoubleType) * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("mean_doc_tokens"))

  /** Corpus bigram conditional entropy H(w₂|w₁) = −Σ p(w₁,w₂)·
    * ln p(w₂|w₁) and its perplexity e^H — how predictable the next
    * token is given the previous one: the corpus-level companion to
    * q96's unigram token entropy and q141's per-doc bigram NLL (a
    * low-entropy corpus is template text even when its unigram mix
    * looks rich).
    *
    * Determinism: p(w₁,w₂) = c₁₂/N and p(w₂|w₁) = c₁₂/c₁ are
    * integer-backed rationals; each term (one shared ×/ln op order)
    * floors to a 1e-12 scaled long, so the entropy sum is an exact
    * integer; perplexity exponentiates once at emission, both floored
    * 6dp. Output is ONE row.
    *
    * Scale: pairs build map-side (the q155 comprehension); ONE
    * (w₁,w₂) shuffle feeds c₁₂, c₁ (same-prefix re-aggregate), and N;
    * the final fold is a 1-row aggregate. */
  def bigramEntropy(
      docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val pairs = transform(sequence(lit(1), size(col("toks")) - 1),
      i => concat(element_at(col("toks"), i), lit(" "),
        element_at(col("toks"), i + 1)))
    // barrier: the tokenize materializes BEFORE the pair transform;
    // projection collapse would otherwise inline split(text) into the
    // lambda and re-tokenize per element — O(tokens²) interpreted
    // regex work per doc (the q315 blow-up class; HOFs get no
    // codegen/CSE)
    val c12 = docs
      .select(TextOps.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .localCheckpoint(eager = false)
      .select(explode(pairs).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("pair"), " ", 1))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val n = c12.agg(sum(col("c12")).as("nn"))
    c12.join(c1, "w1")
      .crossJoin(broadcast(n))
      .withColumn("t12",
        floor(dbl(col("c12")) / dbl(col("nn")) *
          log(dbl(col("c12")) / dbl(col("c1"))) * lit(1e12) + lit(0.5))
          .cast("long"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("c12")).as("n_pairs"),
        sum(col("t12").cast(dec)).as("s12"))
      .select(col("n_bigrams"), col("n_pairs"),
        (floor(-dbl(col("s12")) / lit(1e12) * lit(1e6) + lit(0.5)) /
          lit(1e6)).as("h_cond"),
        (floor(exp(-dbl(col("s12")) / lit(1e12)) * lit(1e6) + lit(0.5)) /
          lit(1e6)).as("ppl"))
  }

  /** Heaps-law vocabulary growth: bucket the corpus into `nBuckets`
    * doc-id ranges, track the CUMULATIVE token count and distinct
    * vocabulary after each bucket, and fit Heaps' V = k·Nᵝ as the OLS
    * slope of ln V on ln N — the "how fast does vocabulary keep
    * growing" corpus diagnostic that, with [[termCdf]] and
    * [[vocabCoverage]], completes the tokenizer-sizing panel.
    *
    * Buckets come from pure integer math on broadcast id bounds
    * ((id − min)·nB ÷ span — NO global row_number over the corpus);
    * each term contributes to the bucket where it FIRST appears
    * (min-bucket per term), so cumulative vocabulary is an exact
    * running long sum over ≤ nBuckets rows. The β fit reuses the
    * q153 exact-scaled-long regression (the 1e6 scale cancels in the
    * slope ratio); every output row repeats the corpus-level β.
    *
    * Scale: token explode is map-side against broadcast bounds; the
    * only corpus shuffles are the (term) min-bucket aggregate and the
    * per-bucket token counts; everything after runs on nBuckets
    * rows. */
  def heapsLaw(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2 (got $nBuckets)")
    val dec = DecimalType(38, 0)
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val bounds = docs.agg(min(col(idCol)).as("mn"), max(col(idCol)).as("mx"))
    val bucketed = docs
      .crossJoin(broadcast(bounds))
      // integer `div`, not Column `/` (double division): keeps the
      // bucket exact for any 64-bit id range, matching DuckDB's `//`
      .withColumn("bkt_num", (col(idCol) - col("mn")) * nBuckets)
      .withColumn("bkt_den", col("mx") - col("mn") + 1)
      .withColumn("bucket", expr("bkt_num div bkt_den"))
      .select(col("bucket"), explode(TextOps.tokens(col(textCol))).as("term"))
    val tokCounts = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val newTerms = bucketed.groupBy(col("term"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new_terms"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val curve = tokCounts
      .join(newTerms, Seq("bucket"), "left")
      .withColumn("n_new_terms", coalesce(col("n_new_terms"), lit(0L)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_vocab", sum(col("n_new_terms")).over(w))
    val fit = curve
      .filter(col("cum_tokens") > 0 && col("cum_vocab") > 0)
      .select(
        floor(log(dbl(col("cum_tokens"))) * lit(1e6) + lit(0.5))
          .cast("long").as("x6"),
        floor(log(dbl(col("cum_vocab"))) * lit(1e6) + lit(0.5))
          .cast("long").as("y6"))
      .agg(count(lit(1)).as("n_pts"),
        sum(col("x6").cast(dec)).as("sx"),
        sum(col("y6").cast(dec)).as("sy"),
        sum((col("x6") * col("y6")).cast(dec)).as("sxy"),
        sum((col("x6") * col("x6")).cast(dec)).as("sxx"))
      .select(when(col("n_pts") >= 2,
        ExactRound.ratioRound(
          col("n_pts") * col("sxy") - col("sx") * col("sy"),
          col("n_pts") * col("sxx") - col("sx") * col("sx"), 6))
        .as("heaps_beta"))
    curve
      .crossJoin(broadcast(fit))
      .select(col("bucket"), col("n_tokens"), col("n_new_terms"),
        col("cum_tokens"), col("cum_vocab"), col("heaps_beta"))
  }

  /** Intra-corpus n-gram novelty per document: the share of a doc's
    * DISTINCT word-3-gram shingles that appear in NO other document —
    * the within-corpus boilerplate/contamination gauge next to q73's
    * against-a-benchmark decontamination (a doc full of shared
    * shingles is template text even when no single doc duplicates it).
    *
    * Shingles shuffle as 32-bit hashes (the MinHash x32 — identical
    * in the oracle), never as strings; collisions only ever LOWER
    * novelty and do so identically in both engines. Plan: distinct
    * (doc, hash) pairs → shingle-keyed df count → join back on the
    * SAME key (exchange reused) → per-doc rollup; docs too short for
    * a shingle keep n_shingles = 0 and a null score via the left
    * join. Floor-form 6dp ratio (q90 rule). */
  def ngramNovelty(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    graft.functions.Hash32Array.register(docs.sparkSession)
    // barrier: the tokens materialize before the shingle lambda
    val sh = docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("__toks"))
      .localCheckpoint(eager = false) // split once, not per shingle (q315 class)
      .select(col("doc_id"),
        explode(graft.functions.Hash32Array.hash(
          TextOps.shingles(col("__toks")))).as("h"))
      .distinct()
      // A/B-kept (q160, sf0.1 local[4]): without it 1.13 -> 1.49 s
      // wall, task 1.61 -> 2.74 s, parent spread 0.09 s
      .localCheckpoint(eager = false)
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val per = sh.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
    docs.select(col(idCol).as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(col("n_sh") > 0,
          floor((lit(1.0) - col("n_shared").cast(DoubleType) /
            col("n_sh").cast(DoubleType)) * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("novelty"))
  }

  /** Vocabulary frequency spectrum (Zipf curve): global term counts,
    * rank by (tf desc, term), and cumulative corpus share — the
    * "how much of the corpus do the top-k terms cover" diagnostic a
    * tokenizer/vocab decision needs.
    *
    * The running-sum window is GLOBAL (one partition) — safe by the
    * q39 top-k rule: it runs over the vocabulary AGGREGATE, orders of
    * magnitude smaller than the corpus, while all corpus-sized work
    * (tokenize, explode, count) stays hash-partitioned. Counts are
    * longs, so the running sum is exact; the share divides by the
    * broadcast 1-row total only at emission. */
  def termCdf(
      docs: DataFrame,
      k: Int,
      textCol: String = "text"): DataFrame = {
    // both the total and the ranked output read the counted
    // vocabulary through its one aggregate exchange (reused), so the
    // corpus-sized tokenize+count runs once (the q59 tfidf rule)
    val counts = docs
      .select(explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val total = counts.agg(sum(col("tf")).as("total"))
    val ord = Window.orderBy(col("tf").desc, col("term"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .crossJoin(broadcast(total))
      .select(col("term"), col("tf"),
        row_number().over(ord).as("rank"),
        ExactRound.ratioRound(sum(col("tf")).over(cum), col("total"), 6)
          .as("cum_share"))
      .filter(col("rank") <= k)
  }

  /** Per-document token entropy — the self-information quality signal
    * (a doc whose tokens are all the same word has entropy 0; rich
    * vocabulary pushes it toward ln of the distinct count): the
    * classic repetition/boilerplate discriminator alongside q72's
    * ratio signals.
    *
    * H = −Σ p ln p over the doc's OWN token distribution. Each term's
    * contribution is rounded to 8dp then decimal-summed (the q90
    * rule), so the per-doc sum is engine- and partitioning-exact.
    * Scale posture: two hash shuffles — (doc, term) counts, then the
    * per-doc fold; both map-side partial-aggregated, nothing global. */
  def tokenEntropy(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n", sum(col("cnt")).over(
        Window.partitionBy(col(idCol))))
      .withColumn("p", col("cnt").cast(DoubleType) / col("n"))
      .groupBy(col(idCol))
      .agg(first(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        // abs() normalizes the all-same-token doc's -0.0 to 0.0 (H >= 0
        // mathematically) so the hash gate can't see a sign-bit diff
        round(abs(-sum(round(col("p") * log(col("p")), 8)
          .cast(DecimalType(28, 8))).cast(DoubleType)), 4).as("entropy"))

  /** Unigram negative log-likelihood per document — the cheap
    * stand-in for the LM-perplexity quality filter (CCNet-style):
    * score each doc by the mean −ln p(token) under the corpus's OWN
    * unigram distribution. High avg_nll ⇒ rare-token-heavy
    * (boilerplate, noise, off-language); the filter cut is a
    * percentile over this column.
    *
    * Determinism: each token's nll is rounded to 8dp, then
    * decimal-summed (exact, order-independent); the one double
    * division happens at emission. Scale posture: the corpus
    * tokenizes ONCE (the (doc, term) count exchange is reused by both
    * the vocabulary and the scoring join — the q59 rule); the join on
    * term carries a vocab-sized build side (broadcast when it fits,
    * shuffled hash otherwise); the grand total is a broadcast 1-row
    * aggregate. */
  def unigramNll(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // aggregate to (doc, term, cnt) FIRST: the token-level relation
    // feeds exactly one shuffle; the vocabulary and the scoring join
    // then run on the collapsed counts. Σ cnt·round(nll) equals the
    // token-level decimal sum exactly (multiplicity-weighted decimal
    // multiply), so the oracle is unchanged.
    val dtf = docs
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val vocab = dtf.groupBy(col("term")).agg(sum(col("cnt")).as("tf"))
    val total = vocab.agg(sum(col("tf")).as("total"))
    // Cross-engine determinism (the hard-won sf0.1 lesson): short docs
    // make avg_nll a small-denominator rational that lands EXACTLY on
    // 4dp half boundaries, so any engine disagreement upstream — the
    // round() libraries' shortest-repr vs scaled-binary conventions,
    // or a 1-ulp ln() difference — flips the last output digit. The
    // chain therefore uses NO library round(): each term becomes a
    // scaled LONG via floor(x·1e8 + 0.5 + 1e-6) — the same IEEE op
    // sequence in both engines, with the 1e-6 epsilon absorbing
    // sub-ulp ln() jitter at half boundaries — and the per-doc fold
    // is an exact integer sum; the 4dp average then floors a quotient
    // of exactly-representable values.
    dtf.join(vocab, "term")
      .crossJoin(broadcast(total))
      .select(col(idCol), col("cnt"),
        floor(-log(col("tf").cast(DoubleType) / col("total").cast(DoubleType)) *
          lit(1e8) + lit(0.5) + lit(1e-6)).as("nll8"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_tokens"),
        (floor(sum(col("nll8") * col("cnt")).cast(DoubleType) /
          sum(col("cnt")) / lit(1e8) * lit(10000.0) + lit(0.5)) /
          lit(10000.0)).as("avg_nll"))
  }

  /** Per-source release scorecard: the one-row-per-source summary a
    * corpus release gate reads — Gopher-rule pass rate, mean document
    * length, canonical-duplicate rate, and benchmark-contamination
    * flag rate, composed from [[TextOps.gopherRules]],
    * [[TextOps.canonical]] digests, and
    * [[DedupOps.contaminationShare]]. The "which feeds are clean
    * enough to ship" table that q203's allocator consumes next.
    *
    * Scale: three independent source-keyed aggregates (each with
    * map-side partials; the contamination leg inherits its broadcast
    * bench-set posture) joined on the tiny source key. */
  def sourceScorecard(
      docs: DataFrame,
      benchFilter: Column,
      srcCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val base = TextOps.gopherRules(docs)
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pass_gopher"), 1L).otherwise(0L)).as("n_pass"),
        sum(col("n_words")).as("sum_words"),
        count_distinct(md5(TextOps.canonical(col(textCol)))).as("n_uniq"))
    val contam = DedupOps
      .contaminationShare(docs, textCol, idCol, benchFilter)
      .join(docs.select(col(idCol), col(srcCol)), idCol)
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"))
    base.join(contam, Seq(srcCol), "left")
      .select(col(srcCol), col("n_docs"),
        ExactRound.ratioRound(col("n_pass"), col("n_docs"), 4)
          .as("gopher_pass_rate"),
        ExactRound.ratioRound(col("sum_words"), col("n_docs"), 2)
          .as("mean_words"),
        ExactRound.ratioRound(col("n_docs") - col("n_uniq"),
          col("n_docs"), 4).as("dup_rate"),
        when(col("n_scored") > 0,
          ExactRound.ratioRound(col("n_flagged"), col("n_scored"), 4))
          .as("contam_flag_rate"))
  }

  /** Token-budget mixture allocation: distribute a training budget
    * (a fraction of the corpus's total tokens) across sources by
    * q75's temperature weights (sqrt-share renormalized), cap each
    * source at its available tokens, and redistribute the capped
    * surplus proportionally among sources with headroom — ONE
    * waterfall round, the standard "fill the mix without oversampling
    * small domains" step between q75's weights and q61's sampler.
    *
    * Determinism: weights form exactly as in q75 (12dp-rounded decimal
    * normalizer); every cross-source sum (allocated, open weight)
    * DECIMAL-sums 6/12dp-rounded terms; per-source arithmetic is
    * identical double op order both engines. Scale: one corpus
    * tokenize+aggregate; everything after runs on |sources| rows with
    * two 1-row broadcast folds. */
  def budgetAllocation(
      docs: DataFrame,
      budgetFrac: Double = 0.6,
      srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val bySrc = docs
      .select(col(srcCol), size(TextOps.tokens(col(textCol))).cast("long")
        .as("nt"))
      .groupBy(col(srcCol))
      .agg(sum(col("nt")).as("avail"))
    val tot = bySrc.agg(sum(col("avail")).as("total"))
    val scored = bySrc.crossJoin(broadcast(tot))
      .withColumn("w_raw", sqrt(dbl(col("avail")) / dbl(col("total"))))
    val z = scored.agg(
      sum(round(col("w_raw"), 12).cast(DecimalType(28, 12))).as("z"))
    val alloc1 = scored.crossJoin(broadcast(z))
      .withColumn("weight", col("w_raw") / dbl(col("z")))
      .withColumn("budget", floor(dbl(col("total")) * lit(budgetFrac)))
      .withColumn("target", col("budget") * col("weight"))
      .withColumn("a1", least(col("target"), dbl(col("avail"))))
      .withColumn("open", col("target") < dbl(col("avail")))
    val fold = alloc1.agg(
      sum(round(col("a1"), 6).cast(DecimalType(28, 6))).as("allocated"),
      sum(when(col("open"), round(col("weight"), 12)
        .cast(DecimalType(28, 12)))).as("w_open"))
    alloc1.crossJoin(broadcast(fold))
      .withColumn("leftover", dbl(col("budget")) - dbl(col("allocated")))
      .withColumn("a2",
        when(col("leftover") > 0 && col("open") && col("w_open").isNotNull &&
          dbl(col("w_open")) > 0,
          least(dbl(col("avail")),
            col("a1") + col("leftover") * col("weight") / dbl(col("w_open"))))
          .otherwise(col("a1")))
      .select(col(srcCol), col("avail"),
        round(col("weight"), 6).as("weight"),
        round(col("target"), 2).as("target"),
        round(col("a2"), 2).as("alloc"),
        round(col("a2") / dbl(col("avail")), 4).as("fill_rate"))
  }

  /** Positional phrase search over the inverted-index layout: exact
    * adjacent-token phrase matching via the positional postings the
    * q104 index omits — filter the token stream to the phrase's terms
    * FIRST (the q102 rule: the corpus-sized relation shrinks to the
    * phrase terms' postings before any join), then chain
    * (doc, pos+k) equi-joins, one per additional word. Emits per
    * matching document the occurrence count and first position
    * (0-based).
    *
    * Scale: each join key is (doc, pos) — fully distributable, no
    * window, no index build; join fan-out is bounded by the rarest
    * term's posting list. For a static phrase workload the same plan
    * shape serves a positional-index materialization. */
  def phraseSearch(
      docs: DataFrame,
      phrase: Seq[String],
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(phrase.size >= 2, s"phrase needs >= 2 words (got $phrase)")
    // lock-kept: lazily CHECKPOINT (not just barrier) the pruned
    // postings. Every phrase word reads this map-side relation, and no
    // exchange sits below the join legs for reuse to share, so without
    // the checkpoint each join side re-tokenizes the corpus (ScaleSpec's
    // q196 lock fails; A/B 1.20 -> 1.31 s wall at sf0.1 local[4],
    // inside the parent spread of 1.12 s)
    val pos = docs
      .select(col(idCol),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term").isin(phrase.distinct: _*))
      .localCheckpoint(eager = false)
    val p0 = pos.filter(col("term") === phrase.head)
      .select(col(idCol), col("pos"))
    val matches = phrase.tail.zipWithIndex.foldLeft(p0) {
      case (acc, (w, i)) =>
        val nxt = pos.filter(col("term") === w)
          .select(col(idCol).as("jid"), col("pos").as("jpos"))
        acc.join(nxt,
          acc(idCol) === col("jid") && col("jpos") === acc("pos") + (i + 1))
          .select(acc(idCol), acc("pos"))
    }
    matches.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matches"),
        min(col("pos")).as("first_pos"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-document mean
    * log-likelihood ratio between a TARGET-domain unigram LM and the
    * raw-corpus LM, both add-one smoothed over the shared vocabulary —
    * the score you resample raw data by to match a target domain.
    * Only non-target documents are scored (they are the resampling
    * candidates); positive weight = looks like the target.
    *
    * Numeric recipe is [[unigramNll]]'s verbatim: each per-term log
    * becomes a scaled long via floor(ln·1e8 + 0.5 + 1e-6) (no library
    * round anywhere), the ratio is an exact integer difference, the
    * per-doc fold is an exact integer sum, and the 4dp weight floors
    * a quotient of exactly-representable values.
    *
    * Scale: one tokenize pass into ONE (doc, flag, term) shuffle; the
    * LM collapse and the scoring join run on vocabulary-sized counts
    * (broadcast/hashed by the planner); totals are a 1-row broadcast. */
  def dsirWeights(
      docs: DataFrame,
      targetFilter: Column,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val dtf = docs
      .select(col(idCol), targetFilter.as("is_target"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("is_target"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val termAgg = dtf.groupBy(col("term"))
      .agg(sum(when(col("is_target"), col("cnt")).otherwise(0L)).as("ct"),
        sum(when(!col("is_target"), col("cnt")).otherwise(0L)).as("cr"))
    val tot = termAgg.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"),
      count(lit(1)).as("v"))
    def lg8(num: Column, den: Column) =
      floor(log(dbl(num) / dbl(den)) * lit(1e8) + lit(0.5) + lit(1e-6))
        .cast("long")
    val lr = termAgg.crossJoin(broadcast(tot))
      .select(col("term"),
        (lg8(col("ct") + 1, col("nt") + col("v")) -
          lg8(col("cr") + 1, col("nr") + col("v"))).as("lr8"))
    dtf.filter(!col("is_target"))
      .join(lr, "term")
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("lr8") * col("cnt")).as("s8"))
      .select(col(idCol), col("n_tokens"),
        (floor(dbl(col("s8")) / dbl(col("n_tokens")) / lit(1e8) *
          lit(1e4) + lit(0.5)) / lit(1e4)).as("dsir_w"))
  }

  /** Reciprocal-rank fusion of two rankings — the standard hybrid-
    * retrieval merge (lexical BM25 + a second signal, e.g. a quality
    * prior or ANN ranks): score = Σ 1/(c + rank) over the rankers
    * that listed the doc, re-ranked by (score desc, id). Rank-based,
    * so the two rankers' score scales never need calibrating.
    *
    * Determinism: each term 1/(c + rank) is one double divide from
    * small integers and the two-term sum has a FIXED operand order
    * (ranker-1 term + ranker-2 term) — identical doubles in both
    * engines; ties break on the id. Scores round 8dp at emission,
    * AFTER the re-rank cut.
    *
    * Scale: both inputs are top-k relations (k rows each) — the
    * fusion join, re-rank window, and cut all run on 2k rows. */
  def rrfFuse(
      r1: DataFrame,
      r2: DataFrame,
      idCol: String,
      c: Int = 60,
      k: Int = 25): DataFrame = {
    val a = r1.select(col(idCol), col("rank").as("rank1"))
    val b = r2.select(col(idCol), col("rank").as("rank2"))
    val wr = Window.orderBy(col("rrf").desc, col(idCol))
    a.join(b, Seq(idCol), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c) + col("rank1")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rank2")), lit(0.0)))
      .withColumn("fused_rank", row_number().over(wr))
      .filter(col("fused_rank") <= k)
      .select(col("fused_rank"), col(idCol), col("rank1"), col("rank2"),
        round(col("rrf"), 8).as("rrf_score"))
      .orderBy(col("fused_rank"))
  }

  /** Efraimidis–Spirakis weighted sampling without replacement, k per
    * label: each doc draws key = ln(u)/w (the log form of u^(1/w))
    * with u a PORTABLE md5-derived uniform in (0,1] — no RNG state,
    * so the draw is identical at any partitioning, scale, or retry
    * (the q55/q61/q110 reproducibility requirement, here with
    * per-item WEIGHTS — the corpus-mixing "sample long docs
    * proportionally" rule). Weight = token count.
    *
    * Determinism: u = (h32 + 1)/2^32 ∈ (0,1] from the md5 prefix,
    * one ln + one divide — identical doubles in both engines; the
    * per-label rank breaks ties on the id. Keys round 8dp at
    * emission, AFTER the cut.
    *
    * Scale: the rank window partitions by label over the corpus-sized
    * relation — the q49 hot-key class when labels are few; the
    * standard escape is a per-partition local top-k pre-prune (any
    * local top-k superset contains the global top-k) before the final
    * k·P-row window. */
  def weightedSample(
      docs: DataFrame,
      k: Int = 5,
      labelCol: String = "lang",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val u = (graft.functions.CrossHash.x32(
      concat_ws("#", lit("ws"), col(idCol))) + lit(1L))
      .cast(DoubleType) / lit(4294967296.0)
    val wr = Window.partitionBy(col("label"))
      .orderBy(col("skey").desc, col(idCol))
    docs
      .select(col(labelCol).as("label"), col(idCol),
        size(TextOps.tokens(col(textCol))).cast("long").as("w"))
      .filter(col("w") > 0)
      .withColumn("skey", log(u) / col("w").cast(DoubleType))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("label"), col("rank"), col(idCol), col("w"),
        round(col("skey"), 8).as("skey_r"))
      .orderBy(col("label"), col("rank"))
  }

  /** Per-doc bigram language-model score — the KenLM-style fluency
    * filter next to [[unigramNll]]'s frequency filter: avg −ln
    * p̂(w2|w1) under the corpus's own add-one-smoothed bigram model,
    * p̂(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V). Word-order-scrambled
    * boilerplate scores high here even when its unigrams are common.
    *
    * Model convention: c(w1) is the full unigram count (every token
    * appears exactly once as a bigram head, the final token with a
    * null successor — the q119 zip trick), and V is the full distinct
    * vocabulary; docs with < 2 tokens emit no row.
    *
    * Determinism: the q90 scaled-long chain — each bigram's nll
    * floors to a long at 1e8 (with the 1e-6 sub-ulp-ln guard), the
    * per-doc fold is an exact integer sum, the 4dp average floors a
    * quotient of exactly-representable values. Zero library round().
    *
    * Scale: the token stream feeds exactly ONE shuffle — the
    * (doc, w1, w2) aggregate; bigram counts, unigram counts, and the
    * vocabulary all derive from it (the q59/q90 rework rule). The
    * scoring join runs on collapsed (doc, bigram) counts; only the
    * 1-row vocabulary broadcasts. */
  def bigramNll(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val dbf = docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("t"))
      .select(col(idCol), explode(zip_with(
        col("t"),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col(idCol), col("p.w1"), col("p.w2"))
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      // A/B-kept with `big` (q141, sf0.1 local[4]): without both
      // 1.15 -> 2.08 s wall, task 2.06 -> 5.63 s, parent spread 0.39 s
      .localCheckpoint(eager = false)
    val big = dbf.groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).as("c2"))
      .localCheckpoint(eager = false) // A/B-kept with dbf (q141)
    val uni = big.groupBy(col("w1")).agg(sum(col("c2")).as("cu"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    dbf.filter(col("w2").isNotNull)
      .join(big.filter(col("w2").isNotNull), Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol), col("cnt"),
        floor(-log((col("c2") + lit(1L)).cast(DoubleType) /
          (col("cu") + col("v")).cast(DoubleType)) * lit(1e8) +
          lit(0.5) + lit(1e-6)).as("nll8"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_bigrams"),
        (floor(sum(col("nll8") * col("cnt")).cast(DoubleType) /
          sum(col("cnt")) / lit(1e8) * lit(10000.0) + lit(0.5)) /
          lit(10000.0)).as("avg_nll2"))
  }

  /** Per-label Gini coefficient of the term-frequency distribution —
    * the rank-based concentration measure next to HHI's share-based
    * one (q124): G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over frequencies
    * sorted ascending. 0 = perfectly uniform vocabulary use, → 1 =
    * a few terms dominate (boilerplate / template corpora).
    *
    * Exactness: every sum is an exact BIGINT/DECIMAL fold (rank ×
    * frequency products are longs), and Σ i·xᵢ is INVARIANT under
    * permuting equal frequencies, so the tie order inside the rank
    * window cannot perturb the result; the single double divide
    * floors at 6dp.
    *
    * Scale: one (label, term) token-level shuffle (chi2Keyness's
    * shape); the rank window runs over the vocabulary-sized aggregate
    * only (q39 rule). */
  def termGini(
      docs: DataFrame,
      labelCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy(col("label")).orderBy(col("tf"), col("term"))
    docs
      .select(col(labelCol).as("label"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("label"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("i", row_number().over(w))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("tf").cast(dec)).as("st"),
        sum((col("i") * col("tf")).cast(dec)).as("s1"))
      .select(col("label"), col("n_terms"),
        col("st").cast("long").as("n_tokens"),
        (floor((lit(2).cast(dec) * col("s1") -
          (col("n_terms") + lit(1)).cast(dec) * col("st")).cast(DoubleType) /
          (col("n_terms").cast(dec) * col("st")).cast(DoubleType) *
          lit(1e6) + lit(0.5)) / lit(1e6)).as("gini"))
  }

  /** Per-(label, dimension) embedding centroid: mean of each vector
    * position, decimal-accumulated, rounded to 6 places. Output one
    * row per (label, pos) — dims × labels rows. */
  def labelCentroids(
      emb: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    emb
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(DoubleType).cast(DecimalType(28, 12))).as("sx"))
      .select(col("label"), col("pos"), col("n"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("sx"), 12),
          col("n") * lit(1000000000000L), 6).as("centroid"))

  /** Per-domain cap sampling — the anti-domination rule of corpus
    * mixes (no single source may contribute more than `cap` docs):
    * docs rank within their domain by the portable md5 hash (a
    * deterministic stand-in for a random draw — reproducible under any
    * partitioning, any scale, no RNG state), and ranks above the cap
    * drop.
    *
    * One shuffle on the domain key. Domain cardinality GROWS with
    * corpus size (millions of hosts at 100 TB), so the per-domain
    * window has no hot-key ceiling; a pathological mega-domain is
    * exactly the doc set the cap is about to cut, and top-`cap`-per-key
    * can fall back to the q39 aggregate-then-limit shape if one key
    * ever dominates a partition. */
  def capPerDomain(
      docs: DataFrame,
      domainCol: String = "source",
      idCol: String = "doc_id",
      cap: Int = 10): DataFrame = {
    val w = Window.partitionBy(col(domainCol)).orderBy(col("hk"), col(idCol))
    docs
      .withColumn("hk",
        graft.functions.CrossHash.x32(concat(lit("cap#"), col(idCol))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= cap)
      .select(col(idCol), col(domainCol), col("rank").cast("int").as("rank"))
  }

  /** Neyman-optimal stratified sampling allocation: splits a sampling
    * budget across strata proportionally to N_h·S_h (stratum size ×
    * stratum std of `sizeCol`) — the textbook minimum-variance
    * allocation, and the principled replacement for the proportional
    * split when strata have very different spreads (a volatile crawl
    * source earns MORE than its share of audit samples). Pairs with
    * [[capPerDomain]]/[[weightedSample]], which do the per-doc
    * selection once the per-stratum quota is known.
    *
    * Determinism: per-stratum moments are exact DECIMAL integer sums;
    * S_h is one shared-order double formula rounded at 6; the weights
    * fold in DECIMAL(38,6) so the grand total is partition-exact, and
    * the floor-form rounding of each quota is engine-identical.
    *
    * Scale: one groupBy to \|strata\| rows; everything after is
    * broadcast arithmetic on that tiny relation. */
  def neymanAllocation(
      docs: DataFrame,
      strataCol: String = "source",
      sizeCol: String = "n_chars",
      budget: Int = 1000): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val dec0 = DecimalType(38, 0)
    val strata = docs
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(sizeCol).cast(dec0)).as("sx"),
        sum((col(sizeCol).cast(dec0) * col(sizeCol).cast(dec0))).as("sxx"))
      .withColumn("sd",
        when(col("n_docs") > 1,
          round(sqrt((dbl(col("n_docs")) * dbl(col("sxx")) -
            dbl(col("sx")) * dbl(col("sx"))) /
            (dbl(col("n_docs")) * (dbl(col("n_docs")) - lit(1.0)))), 6))
          .otherwise(lit(0.0)))
      .withColumn("w",
        round(dbl(col("n_docs")) * col("sd"), 6)
          .cast(DecimalType(38, 6)))
    val tot = strata.agg(sum(col("w")).as("wsum"))
    strata.crossJoin(broadcast(tot))
      .select(col(strataCol), col("n_docs"), col("sd"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("w"), 6),
          ExactRound.toUnscaled(col("wsum"), 6), 6).as("share"),
        when(col("wsum") > 0,
          floor(lit(budget.toDouble) * dbl(col("w")) / dbl(col("wsum")) +
            lit(0.5)).cast("long")).otherwise(0L).as("n_alloc"))
  }

  /** BM25 keyword retrieval (Okapi, Lucene idf form): global top-`k`
    * documents for a fixed bag of query terms.
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avgdl))
    *   idf(t)   = ln( (N − df + 0.5)/(df + 0.5) + 1 )
    *
    * Scores round to 6 dp BEFORE ranking (q59's rule) and tie-break on
    * doc_id, so the global cut is engine-deterministic.
    *
    * Scale posture: the term filter lands BEFORE the (doc, term)
    * aggregate, so only postings of the |q| query terms shuffle —
    * corpus-sized token traffic never leaves the map side. df/N/avgdl
    * fold to |q|+1 rows and broadcast. The final top-k is a sort-limit
    * (TakeOrdered — per-partition heaps, no global sort); the rank
    * window runs on the k surviving rows only.
    */
  def bm25(
      docs: DataFrame,
      queryTerms: Seq[String],
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    // one tokenize pass feeds doc lengths AND query-term tf
    val toks = Dist.materialize(
      docs.withColumn("toks", TextOps.tokens(col(textCol)))
        .filter(size(col("toks")) >= 1))
      .select(col(idCol), col("toks"), size(col("toks")).cast("long").as("dl"))
    bm25FromToks(toks, queryTerms, k, k1, b, idCol)
  }

  /** [[bm25]] over a PRE-TOKENIZED `(id, toks, dl)` relation — the
    * shared-scan entry for hybrid-retrieval plans (q148) whose other
    * leg reads the same tokens: tokenize ONCE upstream behind a
    * [[Dist.materialize]] barrier and feed both legs. Callers must
    * pass the relation already filtered to non-empty `toks` and
    * materialized (this function adds no barrier). */
  def bm25FromToks(
      toks: DataFrame,
      queryTerms: Seq[String],
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val stats = toks.agg(
      count(lit(1)).as("n_docs"),
      // decimal-accumulated so partial-agg order cannot perturb avgdl
      sum(col("dl").cast(DecimalType(28, 6))).as("sum_dl"))
    val hits = toks
      .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
    val tf = hits.groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // df = rows per term in the tf aggregate (≡ distinct docs per
    // term) — no second pass over the exploded tokens
    val dfAgg = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfAgg), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast(DoubleType) / col("n_docs"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col(idCol), col("dl"))
      // contributions sum in DECIMAL (q34 rule) so partial-agg order
      // cannot perturb the rounded score
      .agg(round(sum(col("contrib").cast(DecimalType(28, 12))).cast(DoubleType), 6)
        .as("score"),
        count(lit(1)).as("n_terms"))
    val top = scored.orderBy(col("score").desc, col(idCol).asc).limit(k)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col(idCol).asc)).cast("int"))
      .select(col("rank"), col(idCol), col("dl"), col("n_terms"), col("score"))
  }

  /** Inverted-index build: posting lists for the `topTerms` most
    * frequent terms (df desc, term asc — rounded-free, so the cut is
    * exact). Postings emit as a comma-joined sorted doc_id string —
    * canonical and hash-stable across engines.
    *
    * Scale posture: df is a map-side-combined aggregate; the top-k cut
    * folds to `topTerms` rows and BROADCASTS back as a semi-join, so
    * only postings of surviving terms shuffle into collect_list. A
    * posting list's width is bounded by df — at 100 TB the top terms
    * are stopwords with corpus-sized postings, which is why real
    * deployments cap or skip-list them; the broadcast-prune shape here
    * is the right frame for that cap (add `maxDf` like q77's).
    */
  def invertedIndex(
      docs: DataFrame,
      topTerms: Int = 20,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val pairs = docs
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("term"))
      .distinct()
    val top = pairs.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(topTerms)
    pairs.join(broadcast(top), "term")
      .groupBy(col("term"), col("df"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .select(col("term"), col("df"),
        size(col("ids")).cast("long").as("n_postings"),
        // sort NUMERICALLY first, cast after — string sort would put 10 < 2
        array_join(transform(col("ids"), x => x.cast("string")), ",").as("postings"))
  }

  /** Bigram collocations ranked by pointwise mutual information —
    * the statistic behind BPE-style merge candidates, multi-word
    * expression mining, and tokenizer-vocabulary analysis:
    * pmi(x,y) = ln( p(xy) / (p(x)·p(y)) ) with p(xy) = c_xy/N_bi and
    * p(w) = c_w/N_uni.
    *
    * Plan: ONE tokenize+explode pass emits (w, next) per token —
    * `zip_with` against the tail of the token array pads the final
    * token's `next` with null, so unigram AND bigram counts both
    * derive from the single (w, next) aggregate (one token-level
    * shuffle, checkpointed for its consumers). Unigram/bigram totals
    * fold to one broadcast row; vocabulary-sized count relations
    * broadcast onto the bigram side.
    *
    * Determinism: every count is an exact BIGINT; the pmi argument is
    * formed as (c_xy·N_uni·N_uni) / (N_bi·c_x·c_y) — two exact integer
    * products cast to double, one divide, one ln, round 6 — so both
    * engines evaluate the identical float expression.
    */
  def collocations(
      docs: DataFrame,
      minCount: Int = 5,
      k: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val pairs = docs
      .select(TextOps.tokens(col(textCol)).as("t"))
      .select(explode(zip_with(
        col("t"),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
        (a, b) => struct(a.as("w"), b.as("nxt")))).as("p"))
      .select(col("p.w"), col("p.nxt"))
      .groupBy(col("w"), col("nxt"))
      .agg(count(lit(1)).as("c"))
      // A/B-kept (q119, sf0.1 local[4]): without it 0.60 -> 0.95 s
      // wall, task 0.65 -> 1.96 s, parent spread 0.06 s
      .localCheckpoint(eager = false)
    val uni = pairs.groupBy(col("w")).agg(sum(col("c")).as("cw"))
    val totals = pairs.agg(
      sum(col("c")).as("nu"),
      sum(when(col("nxt").isNotNull, col("c"))).as("nb"))
    pairs.filter(col("nxt").isNotNull)
      .filter(col("c") >= minCount)
      .join(broadcast(uni.withColumnRenamed("w", "w1")
        .withColumnRenamed("cw", "c_w1")), col("w") === col("w1"))
      .join(broadcast(uni.withColumnRenamed("w", "w2")
        .withColumnRenamed("cw", "c_w2")), col("nxt") === col("w2"))
      .crossJoin(broadcast(totals))
      .select(
        col("w1"), col("w2"), col("c").as("c_pair"),
        col("c_w1"), col("c_w2"),
        round(log((col("c") * col("nu") * col("nu")).cast(DoubleType) /
          (col("nb") * col("c_w1") * col("c_w2")).cast(DoubleType)), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Per-label term keyness (χ²): which terms are over-represented in
    * one label's documents vs the rest of the corpus — the classic
    * corpus-linguistics keyness statistic, used here for domain/source
    * drift inspection and classifier feature mining. Contingency cells
    * are token-occurrence counts: a = term in label, with margins
    * t_term (term total), n_l (label total), N (corpus total); the
    * remaining cells derive as b = t_term−a, c = n_l−a,
    * d = N−n_l−b, and χ² = N·(ad−bc)² / (t_term·(N−t_term)·n_l·(N−n_l)).
    * Top `k` terms per label by (χ² desc, term), keeping terms with
    * a ≥ `minCount` in-label occurrences.
    *
    * Determinism: every margin is an exact long; products form in
    * DOUBLE (a long up to 2^53 converts exactly; long×long would
    * overflow at corpus scale) with ONE explicit op order shared
    * verbatim with the oracle, flooring at 6dp (the q90 rule — no
    * library round()).
    *
    * Scale: one (label, term) count shuffle (map-side-combined); term
    * and label totals are aggregates OF that aggregate, broadcast back
    * onto it. The top-k window runs over the vocabulary-sized
    * (label, term) relation, never the corpus (q39 top-k rule). */
  def chi2Keyness(
      docs: DataFrame,
      minCount: Long = 5,
      k: Int = 25,
      labelCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val lt = docs
      .select(col(labelCol).as("label"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("label"), col("term"))
      .agg(count(lit(1)).as("a"))
      // A/B-kept (q135, sf0.1 local[4]): without it 1.33 -> 1.69 s
      // wall, task 0.96 -> 1.69 s, parent spread 0.31 s
      .localCheckpoint(eager = false)
    val termTot = lt.groupBy(col("term")).agg(sum(col("a")).as("t_term"))
    val labelTot = lt.groupBy(col("label")).agg(sum(col("a")).as("n_l"))
    val total = lt.agg(sum(col("a")).as("n"))
    // all-long cell completion, then the χ² ratio in DOUBLE with the
    // oracle's exact op order: N·det·det / (t_term·(N−t_term)) /
    // (n_l·(N−n_l))
    val b = col("t_term") - col("a")
    val c = col("n_l") - col("a")
    val d = col("n") - col("n_l") - b
    val det = col("a").cast(DoubleType) * d.cast(DoubleType) -
      b.cast(DoubleType) * c.cast(DoubleType)
    val chi2 = col("n").cast(DoubleType) * det * det /
      (col("t_term").cast(DoubleType) *
        (col("n") - col("t_term")).cast(DoubleType)) /
      (col("n_l").cast(DoubleType) *
        (col("n") - col("n_l")).cast(DoubleType))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("chi2").desc, col("term"))
    lt.filter(col("a") >= minCount)
      .join(termTot, "term")
      .join(broadcast(labelTot), "label")
      .crossJoin(broadcast(total))
      .select(col("label"), col("term"), col("a"), col("t_term"),
        (floor(chi2 * lit(1e6) + lit(0.5)) / lit(1e6)).as("chi2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy(col("label"), col("rn"))
  }

  /** Jensen–Shannon divergence between the term distributions of a
    * corpus slice (rows where `slice` is true) and its complement —
    * the distribution-drift statistic for "did this source/language/
    * date-range shift the corpus mix", with the top-k contributing
    * terms for drift debugging. Per-term contribution
    * ½p·ln(p/m) + ½q·ln(q/m) (m the midpoint) is non-negative by
    * the log-sum inequality, so the top-k ranking is meaningful; the
    * global JSD rides along as the exact sum of the per-term terms.
    *
    * Determinism (the q90 scaled-long rule): p, q, m derive from
    * exact long counts via correctly-rounded divisions; each ln()
    * contribution becomes a long via floor(x·1e8 + 0.5 + 1e-6) — the
    * epsilon absorbs sub-ulp ln() jitter — and both the total and the
    * ranking run on exact longs. The single-partition rank/total
    * window sees only the vocabulary AGGREGATE (q39 rule); all
    * corpus-sized work is hash-partitioned map-side counting. */
  def jsDivergence(
      docs: DataFrame,
      slice: org.apache.spark.sql.Column,
      k: Int = 25,
      textCol: String = "text"): DataFrame = {
    val cnt = docs
      .select(slice.as("in_p"), explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("term"))
      .agg(sum(when(col("in_p"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("in_p"), 1L).otherwise(0L)).as("b"))
    val tot = cnt.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    val p = col("a").cast(DoubleType) / col("na").cast(DoubleType)
    val q = col("b").cast(DoubleType) / col("nb").cast(DoubleType)
    val m = (p + q) / lit(2.0)
    val contrib =
      when(col("a") > 0, lit(0.5) * p * log(p / m)).otherwise(lit(0.0)) +
        when(col("b") > 0, lit(0.5) * q * log(q / m)).otherwise(lit(0.0))
    val wAll = Window.partitionBy()
    val wRank = Window.orderBy(col("jsd8").desc, col("term"))
    cnt.crossJoin(broadcast(tot))
      .select(col("term"), col("a"), col("b"),
        floor(contrib * lit(1e8) + lit(0.5) + lit(1e-6)).cast("long").as("jsd8"))
      .withColumn("jsd_total",
        sum(col("jsd8")).over(wAll).cast(DoubleType) / lit(1e8))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= k)
      .select(col("term"), col("a"), col("b"),
        (col("jsd8").cast(DoubleType) / lit(1e8)).as("contrib"),
        col("jsd_total"), col("rn"))
      .orderBy(col("rn"))
  }

  /** Distinct-n lexical diversity per source: for n = 1..`maxN`, the
    * share of n-grams that are unique — the standard repetitiveness /
    * mode-collapse telemetry for generated or scraped text (low
    * distinct-2 ⇒ the source loops the same phrases). Counts are pure
    * integers; the only double is the final ratio.
    *
    * Scale: the corpus tokenizes ONCE behind a materialization
    * barrier ([[graft.ops.Dist.materialize]] — otherwise
    * CollapseProject re-splits per n-level), each n-level is a
    * map-side n-gram explode into a (source, n, gram) count-distinct
    * pair of aggregates (two-level, no distinct-within-window), and
    * the three levels union AFTER aggregation — |sources|·maxN rows. */
  def distinctN(
      docs: DataFrame,
      textCol: String = "text",
      sourceCol: String = "source",
      maxN: Int = 3): DataFrame = {
    require(maxN >= 1, s"maxN must be >= 1 (got $maxN)")
    val tok = Dist.materialize(
      docs.select(col(sourceCol).as("source"),
        TextOps.tokens(col(textCol)).as("toks")))
    val levels = (1 to maxN).map { n =>
      val grams =
        if (n == 1) col("toks") else TextOps.shingles(col("toks"), n)
      tok
        .select(col("source"), explode(grams).as("gram"))
        .groupBy(col("source"), col("gram"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"))
        .agg(sum(col("cnt")).as("total_ngrams"),
          count(lit(1)).as("distinct_ngrams"))
        .select(col("source"), lit(n).as("n"),
          col("total_ngrams"), col("distinct_ngrams"),
          ExactRound.ratioRound(col("distinct_ngrams"),
            col("total_ngrams"), 6).as("distinct_ratio"))
    }
    levels.reduce(_.unionByName(_))
  }

  /** Class-based TF-IDF (the BERTopic weighting): treating each source
    * as a class, W(t, c) = tf_{t,c} · ln(1 + A / f_t) with f_t the
    * corpus-wide frequency of t and A the average token count per
    * class — the "what words CHARACTERIZE this source" keyword list,
    * the per-class sibling of q59's per-document TF-IDF.
    *
    * Determinism: tf, f_t, and A's inputs are exact integers; A and
    * each score evaluate in one fixed double op order (ln is the q92
    * bit-identical precedent) and round 6dp before the (score desc,
    * term) rank — ties cut lexically.
    *
    * Scale: one tokenize pass, one (source, term) shuffle; f_t and A
    * live on vocabulary-sized aggregates (f_t joined back BY TERM on
    * the vocab relation, A a 1-row broadcast), and the per-source
    * top-k window runs on the aggregate, never the corpus (q39 rule). */
  def ctfidf(
      docs: DataFrame,
      textCol: String = "text",
      sourceCol: String = "source",
      topK: Int = 5): DataFrame = {
    val tf = docs
      .select(col(sourceCol).as("source"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val ft = tf.groupBy(col("term")).agg(sum(col("tf")).as("f_t"))
    val avgClass = tf.groupBy(col("source"))
      .agg(sum(col("tf")).as("class_toks"))
      .agg((sum(col("class_toks")).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("a_avg"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("term"))
    tf.join(ft, "term")
      .crossJoin(broadcast(avgClass))
      .withColumn("score",
        round(col("tf").cast(DoubleType) *
          log(lit(1.0) + col("a_avg") / col("f_t").cast(DoubleType)), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("source"), col("rank"), col("term"), col("tf"),
        col("f_t"), col("score"))
  }

  /** Term burstiness (index of dispersion): for the corpus' top-k
    * terms by frequency, the variance-to-mean ratio of the term's
    * per-document count ACROSS ALL documents (absent docs count as
    * zero) — ≈1 for Poisson "function words", ≫1 for topical terms
    * that clump into few documents. The keyword/topicality signal
    * that pure frequency can't give.
    *
    * Determinism: with Σc, Σc², N, tf all exact integers the
    * dispersion is (N·Σc² − tf²)/(N·tf) — exact BIGINT numerator and
    * denominator, ONE double division, round 6.
    *
    * Scale: one tokenize pass into the (doc, term) aggregate, a
    * vocab-sized rollup, a 1-row doc-count broadcast; the top-k
    * window runs on the vocab aggregate (q39 rule). */
  def burstiness(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      topK: Int = 20): DataFrame = {
    val dec = DecimalType(38, 0)
    val dt = docs
      .select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.orderBy(col("tf").desc, col("term"))
    dt.groupBy(col("term"))
      .agg(sum(col("c")).as("tf"),
        sum((col("c") * col("c")).cast(dec)).as("s2"),
        count(lit(1)).as("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .crossJoin(broadcast(nDocs))
      .select(col("rank"), col("term"), col("tf"), col("df"),
        ExactRound.ratioRound(
          col("n_docs") * col("s2") - (col("tf") * col("tf")).cast(dec),
          col("n_docs") * col("tf"), 6).as("dispersion"))
  }

  /** Hapax/dis legomena share per source: the fraction of each
    * source's vocabulary seen exactly once (hapax) and exactly twice
    * (dis) — the vocabulary-freshness companion to Heaps' law (q171);
    * a source whose hapax share collapses is recycling its text.
    * All-integer until the two final ratios. One tokenize pass, one
    * (source, term) shuffle, one source-keyed rollup. */
  def hapaxShare(
      docs: DataFrame,
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    docs
      .select(col(sourceCol).as("source"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("tf") === 2, 1L).otherwise(0L)).as("n_dis"))
      .select(col("source"), col("vocab"), col("n_hapax"), col("n_dis"),
        ExactRound.ratioRound(col("n_hapax"), col("vocab"), 6)
          .as("hapax_share"),
        ExactRound.ratioRound(col("n_dis"), col("vocab"), 6)
          .as("dis_share"))
  }

  /** Inter-centroid distance matrix: Euclidean distance between every
    * label pair's mean embedding — the class-separability audit
    * (labels whose centroids nearly coincide are candidates for merge
    * or label noise), read next to the isotropy score (q226) and the
    * per-label scorer (q89).
    *
    * Determinism: centroids arrive 6dp-rounded from [[labelCentroids]]
    * (exact decimal sums underneath), each squared difference rounds
    * 12dp and DECIMAL-sums across dims (a d-term double sum would be
    * merge-order-sensitive), one sqrt at the end.
    *
    * Scale: the corpus collapses to \|labels\|·d centroid rows first;
    * the pairwise join runs on THAT (broadcast, \|labels\|² output) —
    * the corpus itself is touched exactly once. */
  def centroidDistances(
      emb: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val cents = labelCentroids(emb, labelCol, vecCol)
      .select(col("label"), col("pos"), col("centroid"))
    val a = cents.select(col("label").as("label_a"), col("pos"),
      col("centroid").as("ma"))
    val b = cents.select(col("label").as("label_b"), col("pos"),
      col("centroid").as("mb"))
    a.join(broadcast(b), Seq("pos"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(round((col("ma") - col("mb")) * (col("ma") - col("mb")), 12)
        .cast(DecimalType(28, 12))).as("d2"))
      .select(col("label_a"), col("label_b"),
        round(sqrt(dbl(col("d2"))), 6).as("dist"))
  }

  /** Mutual information between two categorical document columns
    * (e.g. lang × source): MI = Σ_xy p_xy ln(p_xy / (p_x p_y)) in
    * nats, the marginal entropies, and the normalized
    * NMI = MI / √(H_x · H_y) — the corpus-composition audit that
    * answers "does source determine language?" (NMI→1) vs "are the
    * axes independent?" (NMI→0), which no per-column profile can see.
    *
    * Determinism: every input is an exact integer count (one
    * aggregation to |X|·|Y| cells, two marginal rollups); each cell's
    * double term uses one shared op order, rounds at 12 dp and folds
    * in DECIMAL(38,12); NMI is computed from the DECIMAL sums (not
    * the re-rounded outputs) and rounds once at 6.
    *
    * Scale: cells are bounded by distinct-value products, not rows —
    * the whole statistic is one groupBy shuffle plus broadcast joins
    * of two tiny marginal relations. */
  def categoricalMI(
      docs: DataFrame, xCol: String, yCol: String): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 12)
    val cells = docs.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("cxy"))
      // A/B-kept (q273, sf0.1 local[4], 8 runs a side): without it
      // 0.45 -> 0.77 s wall, task 0.28 -> 0.89 s, parent spread 0.31 s
      .localCheckpoint(eager = false)
    val mx = cells.groupBy(col("x")).agg(sum(col("cxy")).as("cx"))
    val my = cells.groupBy(col("y")).agg(sum(col("cxy")).as("cy"))
    val n = cells.agg(sum(col("cxy")).as("n"),
      count(lit(1)).as("n_cells"))
    val mi = cells.join(broadcast(mx), "x").join(broadcast(my), "y")
      .crossJoin(broadcast(n.select(col("n"))))
      .withColumn("term",
        round(dbl(col("cxy")) / dbl(col("n")) *
          log(dbl(col("cxy")) * dbl(col("n")) /
            (dbl(col("cx")) * dbl(col("cy")))), 12).cast(dec))
      .agg(sum(col("term")).as("mi_d"))
    def entropy(marg: DataFrame, c: String, out: String) =
      marg.crossJoin(broadcast(n.select(col("n"))))
        .withColumn("term",
          round(dbl(col(c)) / dbl(col("n")) *
            log(dbl(col(c)) / dbl(col("n"))), 12).cast(dec))
        .agg((-sum(col("term"))).as(out))
    mi.crossJoin(entropy(mx, "cx", "h_x"))
      .crossJoin(entropy(my, "cy", "h_y"))
      .crossJoin(n)
      .select(col("n").as("n_docs"), col("n_cells"),
        round(col("mi_d"), 6).cast(DoubleType).as("mi_nats"),
        round(col("h_x"), 6).cast(DoubleType).as("h_x"),
        round(col("h_y"), 6).cast(DoubleType).as("h_y"),
        when(col("h_x") > 0 && col("h_y") > 0,
          round(dbl(col("mi_d")) /
            sqrt(dbl(col("h_x")) * dbl(col("h_y"))), 6)).as("nmi"))
  }

  /** Simplified (centroid-based) silhouette per label over the
    * embedding table: for each vector, a = distance to its OWN label
    * centroid, b = min distance to any OTHER centroid,
    * s = (b − a)/max(a, b) — the cluster-quality audit on top of the
    * q40/q243 centroid family. Unlike the textbook silhouette (O(n²)
    * pairwise), the centroid form is one broadcast join: n·k·d rows,
    * linear in the table.
    *
    * Determinism: centroids are the 6 dp [[labelCentroids]] means;
    * each squared-difference term rounds at 12 dp and folds in
    * DECIMAL(28,12) over a position-keyed join (the q243 recipe); s
    * rounds at 6 and the per-label mean folds the ROUNDED s in
    * DECIMAL. Degenerate a = b = 0 points emit null s and drop from
    * the mean (count reported separately). */
  def silhouette(
      emb: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val cents = labelCentroids(emb, labelCol, vecCol)
      .select(col("label").as("clabel"), col("pos"), col("centroid"))
    val pts = emb.select(col(idCol).as("id"), col(labelCol).as("label"),
      posexplode(col(vecCol)).as(Seq("pos", "x")))
    val dists = pts.join(broadcast(cents), "pos")
      .groupBy(col("id"), col("label"), col("clabel"))
      .agg(sum(round((dbl(col("x")) - col("centroid")) *
          (dbl(col("x")) - col("centroid")), 12)
        .cast(DecimalType(28, 12))).as("d2"))
      .select(col("id"), col("label"), col("clabel"),
        sqrt(dbl(col("d2"))).as("dist"))
    val s = dists.groupBy(col("id"), col("label"))
      .agg(min(when(col("clabel") === col("label"), col("dist"))).as("a"),
        min(when(col("clabel") =!= col("label"), col("dist"))).as("b"))
      .withColumn("s",
        when(greatest(col("a"), col("b")) > 0,
          round((col("b") - col("a")) / greatest(col("a"), col("b")), 6)))
    s.groupBy(col("label"))
      .agg(count(lit(1)).as("n_points"),
        count(col("s")).as("n_scored"),
        ExactRound.ratioRound(
          ExactRound.toUnscaled(sum(col("s").cast(DecimalType(18, 6))), 6),
          count(col("s")) * lit(1000000L), 6).as("mean_sil"),
        round(min(col("s")), 6).as("min_sil"))
  }

  /** Davies–Bouldin index over the label clustering: per cluster the
    * mean member distance to its own centroid (the scatter S_k), per
    * cluster pair the centroid distance d_ij, and
    * DB_k = max_{j≠k} (S_k + S_j)/d_kj — lower is tighter/better
    * separated. The "are the clusters distinct" view [[silhouette]]'s
    * per-point cohesion score summarizes differently (DB penalizes
    * the WORST-separated neighbor, silhouette averages); every output
    * row repeats the corpus-level index (the q153 rule).
    *
    * Determinism: centroids are [[labelCentroids]]' 6dp values, each
    * squared deviation rounds 12dp and folds as DECIMAL (the q276
    * machinery verbatim), member distances round 6dp before the
    * DECIMAL scatter fold, ratios round 6dp before the max, and the
    * index is a DECIMAL mean of per-cluster maxima.
    *
    * Scale: centroids are |labels|·dims rows — broadcast; the only
    * corpus-sized work is the member-distance aggregate (one
    * (id, label) shuffle of posexploded dims); the pair matrix is
    * |labels|² cells. */
  def daviesBouldin(
      emb: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val cents = labelCentroids(emb, labelCol, vecCol)
      .select(col("label").as("clabel"), col("pos"), col("centroid"))
    val pts = emb.select(col(idCol).as("id"), col(labelCol).as("clabel"),
      posexplode(col(vecCol)).as(Seq("pos", "x")))
    val sk = pts.join(broadcast(cents), Seq("pos", "clabel"))
      .groupBy(col("id"), col("clabel"))
      .agg(sum(round((dbl(col("x")) - col("centroid")) *
          (dbl(col("x")) - col("centroid")), 12)
        .cast(DecimalType(28, 12))).as("d2"))
      .select(col("clabel"), round(sqrt(dbl(col("d2"))), 6).as("dist"))
      .groupBy(col("clabel"))
      .agg(count(lit(1)).as("n_points"),
        ExactRound.ratioRound(
          ExactRound.toUnscaled(
            sum(col("dist").cast(DecimalType(18, 6))), 6),
          count(lit(1)) * lit(1000000L), 6).as("s_intra"))
    val ca = cents.select(col("clabel").as("la"), col("pos"),
      col("centroid").as("ma"))
    val cb = cents.select(col("clabel").as("lb"), col("pos"),
      col("centroid").as("mb"))
    val dij = ca.join(cb, "pos").filter(col("la") =!= col("lb"))
      .groupBy(col("la"), col("lb"))
      .agg(sum(round((col("ma") - col("mb")) * (col("ma") - col("mb")), 12)
        .cast(DecimalType(28, 12))).as("d2"))
      .select(col("la"), col("lb"), sqrt(dbl(col("d2"))).as("dij"))
    val dbk = dij
      .join(broadcast(sk.select(col("clabel").as("la"),
        col("s_intra").as("si"))), "la")
      .join(broadcast(sk.select(col("clabel").as("lb"),
        col("s_intra").as("sj"))), "lb")
      .withColumn("rij",
        when(col("dij") > 0,
          round((col("si") + col("sj")) / col("dij"), 6)))
      .groupBy(col("la"))
      .agg(max(col("rij")).as("db_k"))
    val overall = dbk.agg(
      ExactRound.ratioRound(
        ExactRound.toUnscaled(
          sum(col("db_k").cast(DecimalType(18, 6))), 6),
        count(col("db_k")) * lit(1000000L), 6).as("db_index"))
    sk.join(dbk.select(col("la").as("clabel"), col("db_k")),
        Seq("clabel"), "left")
      .crossJoin(broadcast(overall))
      .select(col("clabel").as("label"), col("n_points"),
        col("s_intra"), col("db_k"), col("db_index"))
  }

  /** Calinski–Harabasz (variance-ratio) index over the label
    * clustering: CH = (BSS/(k−1)) / (WSS/(n−k)) — higher is
    * better-separated. Completes the internal-validity panel with
    * [[silhouette]] (per-point cohesion) and [[daviesBouldin]]
    * (worst-neighbor ratio): CH is the global F-statistic view, the
    * one that admits a FULL-strength SQL oracle because it never
    * takes a per-point max. Per-label scatter rows carry the
    * corpus-level index on every row (the q153 rule).
    *
    * Determinism: centroids are [[labelCentroids]]' 6dp values and
    * the global centroid applies the same rounding; every squared
    * deviation rounds 12dp and folds as DECIMAL (the q276 machinery);
    * per-label WSS/BSS round 6dp before the DECIMAL index folds; CH
    * forms in one shared double op order and rounds 6dp.
    *
    * Scale: the only corpus-sized work is ONE posexplode aggregate
    * against broadcast centroids (no per-point shuffle key beyond
    * the label); the global centroid is dims rows; the index lives on
    * |labels| rows. */
  def calinskiHarabasz(
      emb: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val cents = labelCentroids(emb, labelCol, vecCol)
      .select(col("label").as("clabel"), col("pos"), col("n"),
        col("centroid"))
    val gcent = cents
      .groupBy(col("pos"))
      .agg(ExactRound.ratioRound(
        ExactRound.toUnscaled(sum((col("centroid") * dbl(col("n")))
          .cast(DecimalType(28, 12))), 12),
        sum(col("n")) * lit(1000000000000L), 6).as("gm"))
    val pts = emb.select(col(labelCol).as("clabel"),
      posexplode(col(vecCol)).as(Seq("pos", "x")))
    val wss = pts.join(broadcast(cents.select(col("clabel"), col("pos"),
        col("centroid"))), Seq("pos", "clabel"))
      .groupBy(col("clabel"))
      .agg(sum(round((dbl(col("x")) - col("centroid")) *
          (dbl(col("x")) - col("centroid")), 12)
        .cast(DecimalType(38, 12))).as("w2"))
      .select(col("clabel"),
        round(col("w2"), 6).cast(DoubleType).as("wss_k"))
    val bss = cents.join(broadcast(gcent), "pos")
      .groupBy(col("clabel"))
      .agg(max(col("n")).as("n_points"),
        sum(round((col("centroid") - col("gm")) *
            (col("centroid") - col("gm")), 12)
          .cast(DecimalType(38, 12))).as("b2"))
      .select(col("clabel"), col("n_points"),
        ExactRound.ratioRound(
          ExactRound.toUnscaled(col("b2"), 12) * col("n_points"),
          lit(1000000000000L), 6).as("bss_k"))
    val perLabel = bss.join(wss, "clabel")
    val overall = perLabel.agg(
        count(lit(1)).as("k"), sum(col("n_points")).as("n"),
        sum(col("wss_k").cast(DecimalType(38, 6))).as("wt"),
        sum(col("bss_k").cast(DecimalType(38, 6))).as("bt"))
      .select(col("k"), col("n"),
        when(col("k") > 1 && col("n") > col("k") && dbl(col("wt")) > 0,
          ExactRound.ratioRound(
            ExactRound.toUnscaled(col("bt"), 6) *
              (col("n") - col("k")),
            ExactRound.toUnscaled(col("wt"), 6) * (col("k") - lit(1L)),
            6)).as("ch_index"))
    perLabel.crossJoin(broadcast(overall))
      .select(col("clabel").as("label"), col("n_points"),
        col("wss_k"), col("bss_k"), col("k"), col("n"), col("ch_index"))
  }

  /** Burrows' Delta stylometric distance between sources: over the
    * top-`topK` corpus terms, each source's relative term frequency
    * becomes a z-score against the across-source mean/sd, and
    * Δ(a, b) = mean_t |z_a(t) − z_b(t)| — the classic authorship /
    * register drift measure (Burrows 2002). Near-zero Δ between two
    * "different" sources is the template-crawl tell that vocabulary
    * Jaccard ([[vocabOverlap]]) misses when the WORD SETS differ but
    * the USAGE PROFILE doesn't.
    *
    * Determinism: the top-K cut is a distributed TakeOrdered on
    * (corpus tf DESC, term ASC) — exact, total-ordered; relative
    * frequencies round 8dp; across-source mean/sd fold the ROUNDED
    * frequencies as DECIMAL with the sample-variance op order; z
    * rounds 6dp; Δ is a DECIMAL mean of 6dp |z| gaps. Zero-sd terms
    * drop from every pair symmetrically (n_terms reports the kept
    * count).
    *
    * Scale: one tokenize pass into the (source, term) aggregate; the
    * top-K cut is TakeOrderedAndProject (never a single-partition
    * window); everything after lives on K·|sources| rows, pairs on
    * K·|sources|². */
  def burrowsDelta(
      docs: DataFrame,
      textCol: String = "text",
      sourceCol: String = "source",
      topK: Int = 40): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val tf = docs
      .select(col(sourceCol).as("source"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
      // A/B-kept with `f` (q329, sf0.1 local[4]): without both
      // 0.99 -> 1.39 s wall, task 0.47 -> 0.94 s, parent spread 0.21 s
      .localCheckpoint(eager = false) // top-K leg + totals + freq leg
    val top = topTermsByCount(tf, topK)
    val totals = tf.groupBy(col("source")).agg(sum(col("tf")).as("nt"))
    val f = totals.crossJoin(broadcast(top))
      .join(tf, Seq("source", "term"), "left")
      .select(col("source"), col("term"),
        ExactRound.ratioRound(coalesce(col("tf"), lit(0L)),
          col("nt"), 8).as("f"))
      .localCheckpoint(eager = false) // A/B-kept with tf (q329)
    val stats = f.groupBy(col("term"))
      .agg(count(lit(1)).as("ns"),
        sum(col("f").cast(DecimalType(28, 8))).as("sf"),
        sum(round(col("f") * col("f"), 16).cast(DecimalType(38, 16)))
          .as("sf2"))
      .select(col("term"), col("ns"),
        ExactRound.ratioRound(ExactRound.toUnscaled(col("sf"), 8),
          col("ns") * lit(100000000L), 8).as("mu"),
        when(col("ns") > 1,
          round(sqrt((dbl(col("sf2")) -
            dbl(col("sf")) * dbl(col("sf")) / dbl(col("ns"))) /
            (dbl(col("ns")) - 1)), 8)).as("sd"))
    val z = f.join(broadcast(stats), "term")
      .filter(col("sd") > 0)
      .select(col("source"), col("term"),
        round((col("f") - col("mu")) / col("sd"), 6).as("z"))
    val za = z.select(col("source").as("source_a"), col("term"),
      col("z").as("za"))
    val zb = z.select(col("source").as("source_b"), col("term"),
      col("z").as("zb"))
    za.join(zb, "term")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_terms"),
        ExactRound.ratioRound(
          ExactRound.toUnscaled(sum(round(abs(col("za") - col("zb")), 6)
            .cast(DecimalType(18, 6))), 6),
          count(lit(1)) * lit(1000000L), 6).as("delta"))
  }

  /** MATTR — moving-average type-token ratio per document (Covington
    * & McFall 2010): mean distinct-share over every length-`window`
    * sliding token window. The LENGTH-INVARIANT lexical-diversity
    * measure plain TTR isn't (TTR collapses as docs grow, so it
    * can't compare a tweet to a book chapter); reported next to raw
    * TTR so the length bias is visible.
    *
    * Computed WITHOUT materializing windows: token instance at
    * position p is the first occurrence of its term inside window
    * start s iff s > prevOcc(p), so its distinct-contribution is the
    * exact integer count of valid starts
    * max(0, min(p, n−w) − max(p−w+1, prevOcc+1, 0) + 1), and
    * Σ contributions = Σ_windows distinct(window). One lag over the
    * (doc, term) occurrence chain — all integers until the final 6dp
    * division.
    *
    * Scale: the per-doc/per-(doc, term) windows are DOC-BOUNDED
    * (documents are atomic units, never a growing key); one
    * token-level shuffle. Docs shorter than the window emit null
    * mattr. */
  def mattr(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      window: Int = 50): DataFrame = {
    val wOcc = Window.partitionBy(col("doc_id"), col("term"))
      .orderBy(col("pos"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "term")))
    val contrib = toks
      .withColumn("prev", lag(col("pos"), 1).over(wOcc))
      .withColumn("n", count(lit(1)).over(wDoc))
      .withColumn("c",
        greatest(lit(0L),
          least(col("pos"), col("n") - window).cast("long") -
            greatest(col("pos") - window + 1,
              coalesce(col("prev"), lit(-1)) + 1, lit(0)).cast("long") +
            1L))
    contrib.groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_tokens"),
        count_distinct(col("term")).as("n_types"),
        sum(col("c")).as("tot"))
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_types"),
        ExactRound.ratioRound(col("n_types"), col("n_tokens"), 6)
          .as("ttr"),
        when(col("n_tokens") >= window,
          ExactRound.ratioRound(col("tot"),
            (col("n_tokens") - window + 1) * lit(window.toLong), 6))
          .as("mattr"))
  }

  /** Pairwise Jensen–Shannon divergence between source term
    * distributions — the full |sources|² distributional-distance
    * matrix where q137's jsDivergence compares ONE split and
    * [[vocabOverlap]] sees only vocabulary SETS (two sources can
    * share every word and still use them at wildly different rates).
    * JSD in nats plus the ln2-normalized [0, 1] form.
    *
    * Decomposition keeps the pair join on SHARED terms only:
    * JSD = H(m) − (H_p + H_q)/2 with
    * H(m) = S₁ + (G_a − S₂ₐ) + (G_b − S₂ᵦ), where G is each source's
    * own Σ −(p/2)·ln(p/2) and S₂ its shared-term part — terms private
    * to one source never enter the join (their m = p/2 contribution
    * folds into G), so the fan-out is bounded by shared vocabulary.
    *
    * Determinism: probabilities are exact-integer ratios in one
    * shared op order; every entropy term rounds 12dp and folds as
    * DECIMAL(38,12) (the identical formula on the identical double
    * cancels exactly between G and S₂); JSD rounds 6dp.
    *
    * Scale: one tokenize pass to (source, term) counts; per-source
    * scalars broadcast; the only fan-out is the term-keyed pair join
    * (≤ |sources|² rows per shared term — the vocabOverlap shape). */
  def sourceJsd(
      docs: DataFrame,
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val dec12 = DecimalType(38, 12)
    val tf = docs
      .select(col(sourceCol).as("source"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val totals = tf.groupBy(col("source")).agg(sum(col("tf")).as("nt"))
    val withP = tf.join(broadcast(totals), "source")
      .withColumn("p", dbl(col("tf")) / dbl(col("nt")))
    val scalars = withP.groupBy(col("source"))
      .agg(sum(round(-col("p") * log(col("p")), 12).cast(dec12)).as("h"),
        sum(round(-(col("p") / 2) * log(col("p") / 2), 12).cast(dec12))
          .as("g"))
    val pa = withP.select(col("source").as("source_a"), col("term"),
      col("p").as("p_a"))
    val pb = withP.select(col("source").as("source_b"), col("term"),
      col("p").as("p_b"))
    val m = (col("p_a") + col("p_b")) / lit(2.0)
    val shared = pa.join(pb, "term")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_terms"),
        sum(round(-m * log(m), 12).cast(dec12)).as("s1"),
        sum(round(-(col("p_a") / 2) * log(col("p_a") / 2), 12)
          .cast(dec12)).as("s2a"),
        sum(round(-(col("p_b") / 2) * log(col("p_b") / 2), 12)
          .cast(dec12)).as("s2b"))
    val jsd = (coalesce(dbl(col("s1")), lit(0.0)) +
      (dbl(col("ga")) - coalesce(dbl(col("s2a")), lit(0.0))) +
      (dbl(col("gb")) - coalesce(dbl(col("s2b")), lit(0.0)))) -
      (dbl(col("ha")) + dbl(col("hb"))) / lit(2.0)
    // every pair emits — disjoint-vocabulary pairs have no shared
    // rows and coalesce to the pure-G form (JSD = ln 2 exactly)
    scalars.select(col("source").as("source_a"), col("h").as("ha"),
        col("g").as("ga"))
      .crossJoin(broadcast(scalars.select(col("source").as("source_b"),
        col("h").as("hb"), col("g").as("gb"))))
      .filter(col("source_a") < col("source_b"))
      .join(shared, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_shared_terms"), lit(0L)).as("n_shared_terms"),
        round(jsd, 6).as("jsd"),
        round(jsd / log(lit(2.0)), 6).as("jsd_norm"))
  }

  /** Top-K corpus terms by total frequency from a (source, term, tf)
    * relation, total-ordered (ctf DESC, term ASC). The orderBy+limit
    * shape compiles to TakeOrderedAndProject — a DISTRIBUTED top-k,
    * never a single-partition rank window over the growing
    * vocabulary (ScaleSpec locks the plan). */
  def topTermsByCount(tf: DataFrame, topK: Int): DataFrame =
    tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
      .orderBy(col("ctf").desc, col("term")).limit(topK)
      .select(col("term"))

  /** Yule's K vocabulary-richness characteristic per source:
    * K = 10⁴·(Σ_m m²·V_m − N)/N² over the term-frequency spectrum
    * (V_m = #terms occurring m times), plus Simpson's repeat rate
    * D = Σ_t tf·(tf−1)/(N·(N−1)) — both LENGTH-INVARIANT repetition
    * measures (unlike distinct_ratio, which collapses as N grows), so
    * they compare sources of very different sizes: high K = a few
    * tokens dominate = templated/boilerplate text. Complements
    * [[heapsLaw]] (growth curve) and hapax share (spectrum tail) with
    * the spectrum's second moment.
    *
    * Determinism: all-integer numerators (Σ tf² and Σ tf(tf−1) fold
    * as DECIMAL products), one double ratio each, rounded 6dp.
    *
    * Scale: one tokenize pass into the (source, term) aggregate, one
    * per-source fold — the Σ m²·V_m ≡ Σ_t tf² identity skips the
    * spectrum regrouping entirely. */
  def yulesK(
      docs: DataFrame,
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val dec = DecimalType(38, 0)
    val agg = docs
      .select(col(sourceCol).as("source"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("source"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("v_types"),
        sum((col("tf") * col("tf")).cast(dec)).as("m2"),
        sum((col("tf") * (col("tf") - 1)).cast(dec)).as("rep"))
    agg.select(col("source"), col("n_tokens"), col("v_types"),
      when(col("n_tokens") > 0,
        ExactRound.ratioRound(
          (col("m2") - col("n_tokens")) * lit(10000L),
          (col("n_tokens") * col("n_tokens")).cast(dec), 6))
        .as("yules_k"),
      when(col("n_tokens") > 1,
        ExactRound.ratioRound(col("rep"),
          (col("n_tokens") * (col("n_tokens") - 1)).cast(dec), 6))
        .as("simpson_d"))
  }

  /** Unseen-vocabulary estimators per source off the term-frequency
    * spectrum: Good–Turing missing mass f₁/N (the probability the
    * NEXT token is a never-seen type — how "open" the source's
    * vocabulary still is), its complement the GT coverage, and the
    * bias-corrected Chao1 richness V + f₁(f₁−1)/(2(f₂+1)) (a lower
    * bound on the TRUE vocabulary size this crawl would converge to)
    * — the "is more of this source worth crawling" companion to
    * [[heapsLaw]]'s growth curve and q371's novelty-by-tranche: high
    * missing mass = the source still yields new types per token.
    *
    * Determinism: all-integer spectrum cells (N, V, f₁, f₂ are
    * counts); the three ratios each finish in one double op order
    * rounded 6dp.
    *
    * `ngram` > 1 reads the spectrum over word n-gram shingles instead
    * of unigrams — the form crawl-value estimation actually uses (a
    * small closed vocabulary can have ZERO unigram hapaxes while its
    * n-gram space is still wide open; the driver corpus is exactly
    * that case, so q377 gates the trigram read).
    *
    * Scale: ONE tokenize pass into the (source, term) aggregate
    * (map-side combined), one per-source fold — the [[yulesK]]
    * posture; text never moves after the explode. */
  def vocabRichness(
      docs: DataFrame,
      textCol: String = "text",
      sourceCol: String = "source",
      ngram: Int = 1): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val toks = TextOps.tokens(col(textCol))
    val terms = if (ngram == 1) toks else TextOps.shingles(toks, ngram)
    val agg = docs
      .select(col(sourceCol).as("source"),
        explode(terms).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("source"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("v_types"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("tf") === 2, 1L).otherwise(0L)).as("f2"))
    val chao1 = dbl(col("v_types")) +
      dbl(col("f1")) * (dbl(col("f1")) - 1) /
        (lit(2.0) * (dbl(col("f2")) + 1))
    // chao1 = V + f1(f1-1)/(2(f2+1)) is the exact integer rational
    // (2V(f2+1) + f1(f1-1)) / (2(f2+1)); unseen_share = f1(f1-1) over
    // the same numerator — class-4 conversions, guards keep the raw
    // double expression
    agg.select(col("source"), col("n_tokens"), col("v_types"),
      col("f1"), col("f2"),
      when(col("n_tokens") > 0,
        ExactRound.ratioRound(col("f1"), col("n_tokens"), 6))
        .as("gt_missing_mass"),
      when(col("n_tokens") > 0,
        ExactRound.ratioRound(col("n_tokens") - col("f1"),
          col("n_tokens"), 6))
        .as("gt_coverage"),
      ExactRound.ratioRound(
        lit(2L) * col("v_types") * (col("f2") + 1L) +
          col("f1") * (col("f1") - 1L),
        lit(2L) * (col("f2") + 1L), 6).as("chao1"),
      when(chao1 > 0,
        ExactRound.ratioRound(col("f1") * (col("f1") - 1L),
          lit(2L) * col("v_types") * (col("f2") + 1L) +
            col("f1") * (col("f1") - 1L), 6))
        .as("unseen_share"))
  }

  /** Doc-length log-normal fit per source: natural text lengths are
    * famously log-normal, so fit ln(n_tokens) by moments and report
    * the Lilliefors KS distance against the fitted normal — a
    * corpus-SHAPE audit (reject = truncation, templating, or a mixed
    * crawl) that q266's length Gini (inequality only) and q21's raw
    * stats can't see.
    *
    * Determinism: the q346 recipe on ln token counts — each ln
    * rounds 12dp into DECIMAL moment folds; the rank runs through
    * [[graft.ops.ScalableRank]] on the (l12, doc_id) total order
    * (docs per source GROW with the corpus, so a per-source rank
    * window would be a single-task pass); Φ is the shared A–S
    * erf polynomial; D and the 0.886/√n fence round 6dp.
    *
    * Scale: one tokenize-count pass; the exact rank window; one
    * moment aggregate; \|sources\| rows out. */
  def doclenLognormal(
      docs: DataFrame,
      textCol: String = "text",
      sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val dec12 = DecimalType(38, 12)
    val lens = docs
      .select(col(sourceCol).as("source"), col(idCol).as("doc"),
        size(TextOps.tokens(col(textCol))).cast(LongType).as("nt"))
      .filter(col("nt") > 0)
      .withColumn("l12", round(log(dbl(col("nt"))), 12))
      // A/B-kept (q389, sf0.1 local[4]): without it 0.70 -> 0.81 s
      // wall, task 0.52 -> 0.78 s, parent spread 0.04 s
      .localCheckpoint(eager = false) // moments + rank legs
    val stats = lens.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("l12").cast(dec12)).as("s1"),
        sum(round(col("l12") * col("l12"), 12).cast(dec12)).as("s2"))
      .withColumn("mu", dbl(col("s1")) / dbl(col("n")))
      .withColumn("sd",
        sqrt((dbl(col("n")) * dbl(col("s2")) -
          dbl(col("s1")) * dbl(col("s1"))) /
          (dbl(col("n")) * (dbl(col("n")) - 1))))
      .select(col("source"), col("n"), col("mu"), col("sd"))
    def phi(z: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val x = abs(z) / lit(1.4142135623730951)
      val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t +
        lit(1.421413741)) * t - lit(0.284496736)) * t +
        lit(0.254829592)) * t
      val erf = lit(1.0) - poly * exp(-x * x)
      when(z >= 0, lit(0.5) * (lit(1.0) + erf))
        .otherwise(lit(0.5) * (lit(1.0) - erf))
    }
    val ranked = ScalableRank.withRowIndex(lens, Seq("source"),
      Seq(col("l12"), col("doc")), "i", "__gn")
    val z = (col("l12") - col("mu")) / col("sd")
    val nd = dbl(col("n"))
    val dPlus = dbl(col("i")) / nd - col("ph")
    val dMinus = col("ph") - (dbl(col("i")) - 1) / nd
    ranked.join(broadcast(stats), "source")
      .filter(col("sd") > 0)
      .withColumn("ph", phi(z))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"),
        max(col("mu")).as("mu_raw"), max(col("sd")).as("sd_raw"),
        max(greatest(dPlus, dMinus)).as("d_raw"))
      .select(col("source"), col("n_docs"),
        round(col("mu_raw"), 6).as("ln_mean"),
        round(col("sd_raw"), 6).as("ln_sd"),
        round(col("d_raw"), 6).as("ks_d"),
        round(lit(0.886) / sqrt(dbl(col("n_docs"))), 6).as("crit_5pct"),
        (col("d_raw") > lit(0.886) / sqrt(dbl(col("n_docs"))))
          .as("reject_lognormal"))
  }

  /** Crawl quality drift per source: mean TextOps quality score per
    * id-tranche (q371's bucketing — ids proxy crawl order) plus the
    * OLS drift slope across tranches — "did this source's crawl get
    * WORSE over time", the temporal companion to q193's point-in-time
    * source scorecard. A negative slope on a big source is the
    * classic crawl-rot signal (later frontier pages are thinner) that
    * a whole-corpus mean hides.
    *
    * Determinism: per-doc quality is the q21 4dp score snapped to
    * exact 1e6 longs; tranche means fold as DECIMAL and re-snap to
    * micro-units (one floor(x + 0.5)); the slope runs the q121
    * integer co-moment OLS on (bucket, y6) — all-integer until one
    * double finish, 6dp.
    *
    * Scale: ONE tokenize pass (textStats' own barrier), one
    * (source, bucket) aggregate — map-side combined, key count
    * bounded by \|sources\|·buckets; the max-id probe is a 1-row
    * broadcast. */
  def qualityDrift(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      sourceCol: String = "source",
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2 (got $buckets)")
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val dec = DecimalType(38, 0)
    val mx = docs.agg(max(col(idCol)).as("mx"))
    val q = TextOps.textStats(docs, textCol)
      .select(col(sourceCol).as("source"), col(idCol).as("doc"),
        floor(col("quality_score") * lit(1e6) + lit(0.5)).cast("long")
          .as("q6"))
    val bucketOf =
      least(floor(dbl(col("doc")) * buckets / (dbl(col("mx")) + 1)) + 1,
        lit(buckets.toLong)).cast("int")
    val cell = q.crossJoin(broadcast(mx))
      .groupBy(col("source"), bucketOf.as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("q6").cast(dec)).as("sq"))
      .withColumn("y6",
        floor(dbl(col("sq")) / dbl(col("n_docs")) + lit(0.5))
          .cast("long"))
    val agg = cell.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_buckets"),
        sum(col("bucket").cast(LongType)).as("sx"),
        sum((col("bucket") * col("bucket")).cast(LongType)).as("sxx"),
        sum(col("y6")).as("sy"),
        sum(col("bucket").cast(LongType) * col("y6")).as("sxy"),
        max(when(col("bucket") === 1, col("y6"))).as("yf"),
        max(when(col("bucket") === buckets, col("y6"))).as("yl"))
    val nb = dbl(col("n_buckets"))
    val den = nb * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    agg.select(col("source"), col("n_docs"), col("n_buckets"),
      ExactRound.ratioRound(col("yf"), lit(1000000L), 6).as("q_first"),
      ExactRound.ratioRound(col("yl"), lit(1000000L), 6).as("q_last"),
      when(den > 0,
        ExactRound.ratioRound(
          col("n_buckets") * col("sxy") - col("sx") * col("sy"),
          (col("n_buckets") * col("sxx") - col("sx") * col("sx")) *
            lit(1000000L), 6)).as("drift_slope"))
  }

  /** Vocabulary drift across crawl tranches: per id-bucket, the share
    * of word-`ngram` TOKENS (and distinct TYPES) unseen in tranche 1
    * — "is the crawl's LANGUAGE moving", the vocabulary companion to
    * [[qualityDrift]]'s score trend and q371's whole-document novelty
    * (a crawl can stay document-novel while its n-gram space
    * saturates, and vice versa). Runs on n-grams because a closed
    * unigram vocabulary (the driver corpus) reads zero drift by
    * construction at n = 1.
    *
    * Determinism: all-integer — token/type counts against an exact
    * anti-join on the tranche-1 term set; two 6dp ratios.
    *
    * Scale: ONE tokenize pass into the (bucket, term) aggregate; the
    * reference vocabulary is the bucket-1 slice of the SAME relation
    * (term-keyed join, never the corpus); \|buckets\| rows out. */
  def vocabDrift(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      buckets: Int = 10,
      ngram: Int = 3): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2 (got $buckets)")
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val mx = docs.agg(max(col(idCol)).as("mx"))
    val toks = TextOps.tokens(col(textCol))
    val terms = if (ngram == 1) toks else TextOps.shingles(toks, ngram)
    val bucketOf =
      least(floor(dbl(col(idCol)) * buckets / (dbl(col("mx")) + 1)) + 1,
        lit(buckets.toLong)).cast("int")
    val tf = docs.crossJoin(broadcast(mx))
      .select(bucketOf.as("bucket"), explode(terms).as("term"))
      .groupBy(col("bucket"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val t1 = tf.filter(col("bucket") === 1)
      .select(col("term"), lit(true).as("__in1"))
    tf.join(t1, Seq("term"), "left")
      .groupBy(col("bucket"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__in1").isNull, col("tf")).otherwise(lit(0L)))
          .as("oov_tokens"),
        sum(when(col("__in1").isNull, 1L).otherwise(0L))
          .as("oov_types"))
      .select(col("bucket"), col("n_tokens"), col("n_types"),
        col("oov_tokens"), col("oov_types"),
        when(col("n_tokens") > 0,
          ExactRound.ratioRound(col("oov_tokens"), col("n_tokens"), 6))
          .as("oov_token_share"),
        when(col("n_types") > 0,
          ExactRound.ratioRound(col("oov_types"), col("n_types"), 6))
          .as("oov_type_share"))
  }

  /** Pairwise source vocabulary overlap: exact Jaccard between every
    * source pair's distinct-term sets — the source-redundancy audit
    * ("are src3 and src7 the same crawl twice?") that the per-doc
    * dedup family (q24/q25/q165) can't see when the DOCUMENTS differ
    * but the LANGUAGE doesn't.
    *
    * Determinism: all-integer — intersection counts from an exact
    * term equi-join, union by inclusion-exclusion, one final rounded
    * ratio.
    *
    * Scale: the corpus collapses to the (source, term) DISTINCT
    * relation first (one token-level shuffle); the pair join runs on
    * term-keyed vocab rows, so a term shared by s sources fans out
    * s·(s−1)/2 pair rows — bounded by \|sources\|², never by docs. */
  def vocabOverlap(
      docs: DataFrame,
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val vocab = docs
      .select(col(sourceCol).as("source"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .distinct()
      // A/B-kept (q249, sf0.1 local[4]): without it 0.51 -> 0.59 s
      // wall, task 0.34 -> 0.47 s, parent spread 0.08 s
      .localCheckpoint(eager = false)
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("v"))
    val a = vocab.select(col("source").as("source_a"), col("term"))
    val b = vocab.select(col("source").as("source_b"), col("term"))
    a.join(b, Seq("term"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(broadcast(sizes.withColumnRenamed("source", "source_a")
        .withColumnRenamed("v", "va")), Seq("source_a"))
      .join(broadcast(sizes.withColumnRenamed("source", "source_b")
        .withColumnRenamed("v", "vb")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_inter"),
        (col("va") + col("vb") - col("n_inter")).as("n_union"),
        ExactRound.ratioRound(col("n_inter"),
          col("va") + col("vb") - col("n_inter"), 6).as("jaccard"))
  }

  /** Per-source Zipf slope: the OLS slope of ln(freq) on ln(rank)
    * over the source's term-frequency ranking — healthy natural text
    * sits near −1; templated/generated text flattens (vocabulary too
    * even) or steepens (a few tokens dominate). The per-source
    * vocabulary-health scalar next to the corpus-level CDF (q86) and
    * Heaps growth (q171).
    *
    * Determinism: ranks are exact row_numbers over (freq desc, term),
    * both ln() inputs are exact integers (q92 bit-identity), each
    * product term rounds 12dp and DECIMAL-sums, and the slope forms
    * in the q121 double op order, rounded 6dp.
    *
    * Scale: one tokenize pass into the (source, term) aggregate; the
    * rank window and the regression both run on vocabulary-sized
    * relations (q39 rule). */
  def zipfSlope(
      docs: DataFrame,
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val dec12 = DecimalType(38, 12)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("tf").desc, col("term"))
    val ranked = docs
      .select(col(sourceCol).as("source"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("rnk", row_number().over(w))
      .select(col("source"),
        log(dbl(col("rnk"))).as("x"), log(dbl(col("tf"))).as("y"))
    ranked
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("x"), 12).cast(dec12)).as("sx"),
        sum(round(col("y"), 12).cast(dec12)).as("sy"),
        sum(round(col("x") * col("y"), 12).cast(dec12)).as("sxy"),
        sum(round(col("x") * col("x"), 12).cast(dec12)).as("sxx"))
      .select(col("source"), col("n"),
        round((dbl(col("n")) * dbl(col("sxy")) -
          dbl(col("sx")) * dbl(col("sy"))) /
          (dbl(col("n")) * dbl(col("sxx")) -
            dbl(col("sx")) * dbl(col("sx"))), 6).as("zipf_slope"))
  }

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases
    * are maximal stopword-free token runs; each word scores
    * degree/frequency over the candidate set (degree = Σ length of
    * phrases containing it), a phrase scores the sum of its word
    * scores, and the corpus top-k phrases surface — the unsupervised
    * keyphrase sibling of the c-TF-IDF class keywords (q225).
    *
    * Determinism: stopword breaks are exact island ids (prefix sums),
    * degree/freq are exact integers, each word score snaps via
    * floor(degree·1e6/freq + 0.5) so the per-phrase sum folds in LONG
    * arithmetic (a double sum over words would be order-sensitive),
    * and the top-k cuts on (score desc, phrase).
    *
    * Scale: two token-level shuffles (islands, then word stats) and a
    * candidate-phrase aggregate; the rank window runs on distinct
    * phrase texts (vocabulary-class cardinality, q39 rule). */
  def rakeKeywords(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      topK: Int = 20): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    val tk = docs
      .select(col(idCol).as("doc_id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "term")))
      .withColumn("is_stop", col("term").isin(TextOps.Stopwords: _*))
      .withColumn("grp",
        sum(when(col("is_stop"), 1L).otherwise(0L)).over(run))
    val phrases = tk
      .filter(!col("is_stop") && col("term") =!= "")
      .groupBy(col("doc_id"), col("grp"))
      .agg(array_sort(collect_list(struct(col("pos"), col("term"))))
        .as("ps"))
      .select(
        concat_ws(" ", transform(col("ps"), p => p.getField("term")))
          .as("phrase"),
        size(col("ps")).as("plen"))
      // A/B-kept (q251, sf0.1 local[4]): without it 1.31 -> 1.72 s
      // wall, task 2.06 -> 2.66 s, parent spread 0.34 s
      .localCheckpoint(eager = false)
    val words = phrases
      .select(explode(split(col("phrase"), " ")).as("term"), col("plen"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .withColumn("wscore6",
        floor(dbl(col("degree")) * lit(1e6) / dbl(col("freq")) + lit(0.5))
          .cast("long"))
    val distinctPhrases = phrases
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("occurrences"), max(col("plen")).as("plen"))
    val scored = distinctPhrases
      .select(col("phrase"), col("occurrences"), col("plen"),
        explode(split(col("phrase"), " ")).as("term"))
      .join(words.select(col("term"), col("wscore6")), "term")
      .groupBy(col("phrase"), col("occurrences"), col("plen"))
      .agg((sum(col("wscore6")).cast(DoubleType) / lit(1e6)).as("score"))
    val rank = Window.orderBy(col("score").desc, col("phrase"))
    scored
      .withColumn("rank", row_number().over(rank))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("phrase"), col("occurrences"), col("plen"),
        col("score"))
  }

  /** Per-source effective vocabulary: unigram Shannon entropy H over
    * the term-frequency distribution, its perplexity form exp(H)
    * ("the source behaves like a uniform vocabulary of this many
    * terms"), and the type-token ratio — the diversity scalar set
    * completing [[zipfSlope]] (shape) and the hapax spectrum (tail):
    * a boilerplate-heavy source shows eff_vocab ≪ n_terms.
    *
    * Determinism: term probabilities and each −p·ln p term form in
    * one shared double op order, round 12dp, fold in DECIMAL(38,12);
    * H rounds 6dp and exp evaluates once at emission on the
    * UNROUNDED decimal-sum double (ln/exp are bit-identical
    * cross-engine — the q92 precedent).
    *
    * Scale: ONE tokenize pass, one (source, term) shuffle to the
    * vocabulary relation, source-count-sized totals broadcast back —
    * nothing row-scale past the first aggregate. */
  def effectiveVocab(
      docs: DataFrame,
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val dec12 = DecimalType(38, 12)
    val tf = docs
      .select(col(sourceCol).as("source"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val tot = tf.groupBy(col("source"))
      .agg(sum(col("tf")).as("n_tokens"), count(lit(1)).as("n_terms"))
    val p = dbl(col("tf")) / dbl(col("n_tokens"))
    tf.join(broadcast(tot), "source")
      .withColumn("hterm", round(-p * log(p), 12).cast(dec12))
      .groupBy(col("source"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        max(col("n_terms")).as("n_terms"),
        sum(col("hterm")).as("hd"))
      .select(col("source"), col("n_tokens"), col("n_terms"),
        round(col("hd"), 6).cast(DoubleType).as("entropy"),
        round(exp(dbl(col("hd"))), 6).as("eff_vocab"),
        ExactRound.ratioRound(col("n_terms"), col("n_tokens"), 6)
          .as("ttr"))
  }

  /** Log-normality audit of document lengths per source: Jarque–Bera
    * over y = ln(n_chars) — natural corpora show log-normal length
    * distributions, so a rejecting source signals truncation,
    * boilerplate floods, or a concatenation bug (the shape-level
    * sibling of the q266 length Gini).
    *
    * Determinism (the jarqueBera discipline): per-source moments of
    * the 12dp-rounded y fold as decimals, z-powers round 12dp and
    * fold in DECIMAL(38,12) on a second pass against the broadcast
    * per-source (μ, σ), S/K/JB form in one shared double op order
    * (JB from the UNROUNDED S and K), outputs round 6dp.
    *
    * Scale: two map-side-combined per-source aggregates with a
    * source-count-sized broadcast between them. */
  def lengthLognormal(
      docs: DataFrame,
      sourceCol: String = "source",
      lenCol: String = "n_chars"): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val dec12 = DecimalType(38, 12)
    val y = docs.filter(col(lenCol) > 0)
      .select(col(sourceCol).as("source"),
        round(log(dbl(col(lenCol))), 12).as("y"))
    val st = y.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("y").cast(dec12)).as("s1"),
        sum(round(col("y") * col("y"), 12).cast(dec12)).as("s2"))
      .withColumn("mu", dbl(col("s1")) / dbl(col("n")))
      .withColumn("sd",
        sqrt((dbl(col("n")) * dbl(col("s2")) -
          dbl(col("s1")) * dbl(col("s1"))) / (dbl(col("n")) * dbl(col("n")))))
      .select(col("source"), col("n"), col("mu"), col("sd"))
    val z = (col("y") - col("mu")) / col("sd")
    val skew = dbl(col("sz3")) / dbl(col("n"))
    val exKurt = dbl(col("sz4")) / dbl(col("n")) - lit(3.0)
    val jb = dbl(col("n")) / lit(6.0) *
      (skew * skew + exKurt * exKurt / lit(4.0))
    y.join(broadcast(st), "source")
      .filter(col("sd") > 0)
      .withColumn("z3", round(z * z * z, 12).cast(dec12))
      .withColumn("z4", round(z * z * z * z, 12).cast(dec12))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n"),
        sum(col("z3")).as("sz3"), sum(col("z4")).as("sz4"))
      .select(col("source"), col("n"),
        round(skew, 6).as("skewness"),
        round(exKurt, 6).as("ex_kurtosis"),
        round(jb, 6).as("jb"),
        (jb > lit(5.991465)).as("reject_lognormal"))
  }
}
