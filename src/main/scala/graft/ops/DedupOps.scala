package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.functions.CrossHash

/** Deduplication operators for a large-scale corpus: exact hash dedup,
  * MinHash + LSH near-dup candidate generation with exact-Jaccard
  * verification, banded SimHash, and embedding-cosine near-dup.
  *
  * Scale posture (100 TB):
  *   - exact dedup is one hash-partitioned groupBy on a 128-bit text
  *     digest — never on the raw text (shuffling full documents);
  *   - MinHash signatures are computed map-side by ONE fused codegen
  *     kernel (text → sig + shingle-hash set, no intermediate columns,
  *     no materialization barriers); the only shuffles are the
  *     band-key self-join — key cardinality ≈ corpus size × bands,
  *     uniformly hash-distributed, the canonical LSH-dedup layout —
  *     and the candidate set-lookups;
  *   - exact Jaccard runs only on the candidate pairs that share a
  *     band (tiny vs n²);
  *   - SimHash is 64-bit with 4×16-bit pigeonhole bands, so hamming
  *     ≤ 3 pairs are provably a subset of band-equal pairs — again no
  *     n² pass — and band-key cardinality (65,536 per band) keeps
  *     bucket sizes sub-linear in corpus size.
  */
object DedupOps {

  /** MinHash signature length. */
  val K = 32
  /** LSH bands (rows-per-band = K / Bands = 2). */
  val Bands = 16
  val RowsPerBand: Int = K / Bands

  val A: Seq[Long] = CrossHash.hashA(K)
  val B: Seq[Long] = CrossHash.hashB(K)

  /** Exact-duplicate groups: one row per distinct text digest with the
    * surviving (minimum) id and the duplicate count. */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Cross-source duplicate leakage: for every source pair, how many
    * DISTINCT lead fingerprints (md5 of the first `prefixTokens`
    * tokens — the "same article, different boilerplate tail" match
    * key; full-text digests almost never collide across feeds) appear
    * in both — the "which feeds recycle each other's content"
    * provenance matrix that decides dedup ORDER (dedup the leakier
    * pair first) and flags contamination between corpus slices.
    * Only (digest, source) distinct pairs join — one digest-keyed
    * shuffle of 32-hex strings, never text; the source-pair output
    * domain is |sources|², tiny. */
  def crossSourceDups(
      df: DataFrame,
      textCol: String = "text",
      srcCol: String = "source",
      prefixTokens: Int = 5): DataFrame = {
    require(prefixTokens >= 1, s"prefixTokens must be >= 1 (got $prefixTokens)")
    val ds = df.select(
        md5(concat_ws(" ",
          slice(TextOps.tokens(col(textCol)), 1, prefixTokens))).as("digest"),
        col(srcCol).as("src"))
      .distinct()
    ds.alias("a")
      .join(ds.alias("b"),
        col("a.digest") === col("b.digest") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared_texts"))
  }

  /** Duplication spectrum: the cluster-SIZE histogram over exact-dup
    * digest groups — how much of the corpus is unique (sz = 1) vs
    * boilerplate replicated N× (the long tail a dedup pass removes).
    * Two shuffles on growing keys (digest, then the tiny size domain),
    * both map-side-combined; raw text never shuffles — only the 32-hex
    * digest. All-integer output. */
  def dupClusterHist(df: DataFrame, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("digest"))
      .groupBy(col("digest")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
      .select(col("sz"), col("n_clusters"),
        (col("sz") * col("n_clusters")).as("n_docs"))

  /** K-element MinHash signature from the distinct shingle hashes —
    * the codegen'd [[graft.functions.MinHashSig]] expression. The
    * declarative equivalent (kept for reference, arithmetic identical):
    * {{{
    * transform(sequence(lit(0), lit(K-1)), i =>
    *   array_min(transform(hs, x =>
    *     (element_at(typedlit(A), i+1) * x + element_at(typedlit(B), i+1)) % CrossHash.P)))
    * }}}
    * ran interpreted and dominated the whole LSH pipeline. */
  def minhashSignature(hs: Column): Column = graft.functions.MinHashSig.sig(hs)

  /** Explode a signature into (band, band_sig) rows for the LSH
    * bucket-join. */
  def lshBands(sig: Column): Column =
    explode(transform(sequence(lit(0), lit(Bands - 1)),
      j =>
        struct(
          j.as("band"),
          concat_ws("_",
            (1 to RowsPerBand).map(r => element_at(sig, j * RowsPerBand + r)): _*).as("bsig"))))

  /** The fused-kernel doc relation (doc, sig, sset) shared by the
    * minhash family (the MinHash-LSH near-duplicate pairs and their
    * recall audit). Signature derivation is the FUSED
    * [[graft.functions.MinHashDoc]] kernel (text → struct(sig, sset)
    * in one codegen'd pass), so the plan needs no round-robin
    * Exchange: the staged form's intermediate array columns — which
    * CollapseProject re-inlined into every consumer unless pinned
    * behind two full-corpus Exchanges — never exist. */
  private def minhashDocs(
      df: DataFrame, textCol: String, idCol: String): DataFrame = {
    graft.functions.MinHashDoc.register(df.sparkSession, A, B, CrossHash.P)
    // Pre-filter short docs on the RAW text (>=3 tokens <=> non-empty
    // shingle set) — cheap split+size, keeps the kernel off empty docs.
    val out = df.filter(size(TextOps.tokens(col(textCol))) >= 3)
      .select(col(idCol).as("doc"),
        graft.functions.MinHashDoc.doc(col(textCol)).as("d"))
      .select(col("doc"), col("d.sig").as("sig"), col("d.sset").as("sset"))
    // Three consumers read this relation (the band build and both
    // verify join sides); without a barrier each re-runs the kernel
    // map-side. Materializing it once turns three kernel passes into
    // one, with results unchanged. A/B-kept (sf0.1 local[4]): without
    // it q33 took 2.13 -> 2.63 s wall (task 3.09 -> 4.21 s, parent
    // spread 0.25 s) and q345 5.17 -> 6.77 s
    out.localCheckpoint(eager = false)
  }

  /** The LSH band-join candidate pair set (id_a < id_b, distinct) —
    * the stage whose misses [[lshRecall]] audits. */
  private def bandCandidates(docs: DataFrame): DataFrame = {
    val bands = docs.select(col("doc"), lshBands(col("sig")).as("b"))
      .select(col("doc"), col("b.band"), col("b.bsig"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("id_a"), col("y.doc").as("id_b"))
      .distinct()
  }

  /** Train/validation split-leakage audit: hash-split docs 90/10 on a
    * portable md5 draw of the doc id (RNG-free, the q328 convention —
    * the split is REPRODUCIBLE anywhere, which is the whole point of
    * hash splits), then count the exact near-dup pairs
    * ([[ngramJaccardPairs]]) that STRADDLE the split — each one is a
    * validation doc whose near-twin sits in training, i.e. silent
    * eval contamination the q73/q107 decontamination checks (which
    * compare against an EXTERNAL benchmark) cannot see.
    *
    * Determinism: the split is an exact integer compare on the md5
    * draw; pair counts are integers off the 4dp PPJoin jaccard; the
    * leak rate floors at 6dp.
    *
    * Scale: the PPJoin prefix-filter posture (never all-pairs); the
    * split relation joins the pair list by id (growing-key hash
    * joins); output is ONE row. */
  def splitLeakage(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.2,
      maxDf: Int = 100,
      trainPct: Int = 90): DataFrame = {
    require(trainPct > 0 && trainPct < 100, s"bad trainPct $trainPct")
    def dbl(c: Column) = c.cast(org.apache.spark.sql.types.DoubleType)
    val split = df.select(col(idCol).as("doc"),
        (graft.functions.CrossHash.x32(
          concat_ws("#", lit("split"), col(idCol))) % 100 < trainPct)
          .as("is_train"))
    val pairs = ngramJaccardPairs(df, textCol, idCol, n = 3, threshold,
      maxDf).select(col("id_a"), col("id_b"))
    val tot = split.agg(
      sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
      sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_val"))
    pairs
      .join(split.select(col("doc").as("id_a"), col("is_train").as("tr_a")),
        "id_a")
      .join(split.select(col("doc").as("id_b"), col("is_train").as("tr_b")),
        "id_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("tr_a") =!= col("tr_b"), 1L).otherwise(0L))
          .as("n_cross"))
      .crossJoin(tot)
      .select(col("n_train"), col("n_val"), col("n_pairs"), col("n_cross"),
        when(col("n_pairs") > 0,
          floor(dbl(col("n_cross")) / dbl(col("n_pairs")) * lit(1e6) +
            lit(0.5)) / lit(1e6)).as("leak_rate"))
  }

  /** Corpus novelty-growth curve: slice the corpus into `buckets`
    * id-ordered tranches (ingestion-order stand-in) and report each
    * tranche's share of FIRST-SEEN exact digests plus the cumulative
    * distinct share — the marginal-value curve that sizes a crawl
    * extension BEFORE paying for it (flat tail = new data is mostly
    * re-crawl); the corpus-level view of q160's per-doc shingle
    * novelty.
    *
    * Determinism: all-integer — first occurrence = min doc id per
    * digest, buckets are value-based id cuts, rates floor 6dp.
    *
    * Scale: one digest groupBy (raw text never shuffles — only the
    * 32-hex md5), one broadcast max-id, map-side bucketing; the
    * output is `buckets` rows and the cumulative window runs on that
    * aggregate alone. */
  def noveltyCurve(
      df: DataFrame,
      textCol: String,
      idCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2 (got $buckets)")
    def dbl(c: Column) = c.cast(org.apache.spark.sql.types.DoubleType)
    val mx = df.agg(max(col(idCol)).as("mx"))
    val base = df.select(col(idCol).as("doc"), md5(col(textCol)).as("digest"))
    def bucketOf(c: Column) =
      least(floor(dbl(c) * buckets / (dbl(col("mx")) + 1)) + 1,
        lit(buckets)).cast("int")
    val docsPer = base.crossJoin(broadcast(mx))
      .groupBy(bucketOf(col("doc")).as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val firsts = base.groupBy(col("digest")).agg(min(col("doc")).as("fid"))
      .crossJoin(broadcast(mx))
      .groupBy(bucketOf(col("fid")).as("bucket"))
      .agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    docsPer.join(firsts, Seq("bucket"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("cd", sum(col("n_docs")).over(w))
      .withColumn("cn", sum(col("n_new")).over(w))
      .select(col("bucket"), col("n_docs"), col("n_new"),
        (floor(dbl(col("n_new")) / dbl(col("n_docs")) * lit(1e6) +
          lit(0.5)) / lit(1e6)).as("novelty_rate"),
        (floor(dbl(col("cn")) / dbl(col("cd")) * lit(1e6) + lit(0.5)) /
          lit(1e6)).as("cum_distinct_share"))
  }

  /** Public face of [[bandCandidates]] (the q25 candidate stage) for
    * the streaming twin and the recall audit: the distinct LSH pair
    * set BEFORE exact verification. */
  def lshCandidatePairs(
      df: DataFrame, textCol: String, idCol: String): DataFrame =
    bandCandidates(minhashDocs(df, textCol, idCol))

  /** MinHash-LSH near-duplicate pairs, verified with exact Jaccard on
    * the distinct shingle-hash sets. Output: (id_a, id_b, jaccard)
    * with id_a < id_b and jaccard >= threshold. The LSH band self-join
    * and the two candidate set-lookups are the only shuffles. */
  def minhashNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.3): DataFrame = {
    graft.functions.SetIntersect.register(df.sparkSession)
    val docs = minhashDocs(df, textCol, idCol)
    val cand = bandCandidates(docs)
    val sets = docs.select(col("doc"), col("sset"))
    cand
      .join(sets.as("sa"), col("id_a") === col("sa.doc"))
      .join(sets.as("sb"), col("id_b") === col("sb.doc"))
      .withColumn("jaccard",
        graft.functions.SetJaccard.jac(col("sa.sset"), col("sb.sset")))
      .filter(col("jaccard") >= threshold)
      // emission is the exact integer rational |∩|/|∪| (class 4 —
      // never round() the double quotient); the threshold filter
      // stays on the raw double (both engines IEEE-divide alike)
      .withColumn("ni",
        graft.functions.SetIntersect.count(col("sa.sset"), col("sb.sset")))
      .select(col("id_a"), col("id_b"),
        ExactRound.ratioRound(col("ni"),
          size(col("sa.sset")) + size(col("sb.sset")) - col("ni"), 4)
          .as("jaccard"))
  }

  /** MinHash sketch-quality audit: on the LSH candidate pairs, compare
    * the K-function signature ESTIMATE of Jaccard (matching-position
    * fraction) against the EXACT set Jaccard, and report the
    * absolute-error distribution — the "is K big enough" calibration
    * a dedup pipeline should run before trusting its sketches (the
    * sketch sibling of q113's ANN recall audit). Theory says
    * E[est] = J with σ = √(J(1−J)/K); the histogram makes the actual
    * tail visible.
    *
    * Determinism: the match count m is an integer zip_with fold; est =
    * m/K and the exact Jaccard are rationals evaluated in one shared
    * op order, so err and its decile bucket are identical doubles in
    * both engines; per-bucket mean errors floor from 1e-6 scaled-long
    * sums.
    *
    * Scale: identical plan shape to [[minhashNearDups]] (fused kernel
    * map-side, band join the only corpus shuffle, verify on candidates
    * only) + one tiny 11-key rollup. */
  def sketchError(
      df: DataFrame,
      textCol: String,
      idCol: String): DataFrame = {
    val docs = minhashDocs(df, textCol, idCol)
    val cand = bandCandidates(docs)
    val sides = docs.select(col("doc"), col("sig"), col("sset"))
    val pairs = cand
      .join(sides.as("sa"), col("id_a") === col("sa.doc"))
      .join(sides.as("sb"), col("id_b") === col("sb.doc"))
      .withColumn("m", aggregate(
        zip_with(col("sa.sig"), col("sb.sig"),
          (a, b) => when(a === b, 1L).otherwise(0L)),
        lit(0L), (s, t) => s + t))
      .withColumn("jac",
        graft.functions.SetJaccard.jac(col("sa.sset"), col("sb.sset")))
      .withColumn("err",
        abs(col("m").cast(DoubleType) / lit(K.toDouble) - col("jac")))
    pairs
      .groupBy(floor(col("err") * lit(10.0)).cast("int").as("err_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(floor(col("err") * lit(1e6) + lit(0.5)).cast("long")).as("se6"))
      .select(col("err_decile"), col("n_pairs"),
        (floor(col("se6").cast(DoubleType) /
          col("n_pairs").cast(DoubleType) + lit(0.5)) / lit(1e6))
          .as("mean_abs_err"))
  }

  /** Benchmark decontamination — the test-set n-gram overlap check an
    * LLM pretraining pipeline runs before training: flag every
    * training document that shares at least `minShared` distinct
    * word-3-gram shingle hashes with any benchmark document. Output:
    * (doc_id, bench_id, n_shared), one row per contaminated
    * (training doc, benchmark doc) pair.
    *
    * Scale posture: shingle-hash sets come from the SAME fused
    * map-side [[graft.functions.MinHashDoc]] kernel as LSH dedup (no
    * barriers); the benchmark side is tiny by construction (a test
    * set, not a corpus) so its exploded shingles BROADCAST — the
    * training corpus streams map-side through one hash join, and the
    * only shuffle is the (doc, bench) overlap count, whose volume is
    * bounded by actual collisions, not the corpus. */
  def decontaminate(
      df: DataFrame,
      textCol: String,
      idCol: String,
      benchFilter: Column,
      minShared: Int = 2): DataFrame = {
    graft.functions.MinHashDoc.register(df.sparkSession, A, B, CrossHash.P)
    val eligible = df.filter(size(TextOps.tokens(col(textCol))) >= 3)
    val exploded = eligible
      .select(col(idCol).as("doc"), benchFilter.as("is_bench"),
        explode(graft.functions.MinHashDoc.doc(col(textCol))("sset")).as("h"))
    val bench = exploded.filter(col("is_bench"))
      .select(col("doc").as("bench_id"), col("h"))
    val train = exploded.filter(!col("is_bench"))
      .select(col("doc").as("doc_id"), col("h"))
    train.join(broadcast(bench), "h")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Bloom-accelerated [[decontaminate]] — bit-identical output, but
    * the corpus side is pre-filtered by a Bloom filter of the bench
    * shingle hashes BEFORE the join, so at scale the broadcast join
    * probes only the (tiny) candidate fraction instead of every corpus
    * shingle row.
    *
    * Why this matters at 100 TB: the exact path broadcasts the bench
    * hash TABLE and probes it with every corpus shingle — the probe is
    * cheap but every row still flows through the join operator. A
    * Bloom of the same keys is ~10 bits/key (a 100M-shingle benchmark
    * ≈ 125 MB), and `mightContain` rejects ~99% of corpus shingles in
    * a tight primitive loop before any join machinery. False positives
    * are harmless: the exact join after the filter discards them, so
    * the result equals [[decontaminate]] exactly — which is why this
    * query shares q73's oracle family.
    *
    * The membership probe is a lambda filter over a typed projection
    * (no built-in exposes sketch membership as a Column); it sits on
    * an (id, hash) pair stream, not on document text, so the
    * deserialization surface is two longs per row.
    */
  def decontaminateBloom(
      df: DataFrame,
      textCol: String,
      idCol: String,
      benchFilter: Column,
      minShared: Int = 2,
      fpp: Double = 0.01): DataFrame = {
    graft.functions.MinHashDoc.register(df.sparkSession, A, B, CrossHash.P)
    val eligible = df.filter(size(TextOps.tokens(col(textCol))) >= 3)
    val exploded = eligible
      .select(col(idCol).as("doc"), benchFilter.as("is_bench"),
        explode(graft.functions.MinHashDoc.doc(col(textCol))("sset")).as("h"))
    // multi-action: bench.count(), the bloom build and the result
    // plan each run a job over this relation
    val bench = exploded.filter(col("is_bench"))
      .select(col("doc").as("bench_id"), col("h"))
      .localCheckpoint(eager = false)
    val nBench = math.max(1L, bench.count())
    val bf = bench.stat.bloomFilter("h", nBench, fpp)
    val bcBf = df.sparkSession.sparkContext.broadcast(bf)
    import df.sparkSession.implicits._
    val candidates = exploded.filter(!col("is_bench"))
      .select(col("doc").as("doc_id"), col("h"))
      .as[(Long, Long)]
      .filter(t => bcBf.value.mightContainLong(t._2))
      .toDF("doc_id", "h")
    candidates.join(broadcast(bench), "h")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** 64-bit SimHash over token hashes (with multiplicity): per bit
    * position, tokens vote +1/-1 by their hash bit; the sign of the
    * vote sum becomes the SimHash bit — the codegen'd
    * [[graft.functions.SimHash64]] kernel (the declarative nested-
    * aggregate equivalent, which the DuckDB oracle runs, ran
    * interpreted: 64 bit-positions × n tokens of lambda dispatch per
    * document). 64-bit (not 32): with 32-bit hashes the banded LSH
    * below has only 4×256 = 1,024 distinct band keys TOTAL, so bucket
    * sizes grow O(n) and candidates O(n²) — a measured 2.8M raw
    * candidates at just 5k docs. 16-bit bands give 65,536 keys per
    * band; candidate volume drops ~256× per band. */
  def withSimhash64(df: DataFrame, textCol: String, out: String = "sh"): DataFrame = {
    graft.functions.Hash32Array.register(df.sparkSession)
    Dist.materialize(
      df.withColumn("__xs", graft.functions.Hash32Array.hash64(TextOps.tokens(col(textCol)))))
      .withColumn(out, graft.functions.SimHash64.sim(col("__xs")))
      .drop("__xs")
  }

  /** SimHash near-dup pairs via 4×16-bit pigeonhole bands: any pair at
    * hamming distance <= 3 differs in at most 3 of the 4 bands, so it
    * shares at least one — the band equi-join finds all such pairs
    * without an n² pass. Band extraction is arithmetic-shift + mask
    * (`(sh >> 16b) & 0xFFFF`), exact for negative simhashes (bit 63
    * set) on both engines. */
  def simhashNearDups(df: DataFrame, textCol: String, idCol: String, maxHamming: Int = 3): DataFrame =
    hammingNearDups(
      Dist.materialize(
        withSimhash64(df, textCol).select(col(idCol).as("doc"), col("sh"))),
      "doc", "sh", maxHamming)

  /** Generic 64-bit hamming near-dup band join — the machinery behind
    * [[simhashNearDups]], reusable for ANY 64-bit perceptual
    * fingerprint (text SimHash, image aHash from
    * [[graft.ops.MultimodalOps.imageHashes]], audio chromaprints…):
    * any pair at hamming distance <= 3 differs in at most 3 of the 4
    * 16-bit bands, so it shares at least one — the band equi-join
    * finds all such pairs without an n² pass. Band extraction is
    * arithmetic-shift + mask (`(h >> 16b) & 0xFFFF`), exact for
    * negative hashes (bit 63 set) on both engines. */
  def hammingNearDups(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3): DataFrame = {
    val docs = hashes.select(col(idCol).as("doc"), col(hashCol).as("sh"))
    val bands = docs.select(col("doc"), col("sh"),
      explode(expr("transform(sequence(0, 3), b -> struct(b AS band, shiftright(sh, b*16) & 65535 AS bval))")).as("bb"))
      .select(col("doc"), col("sh"), col("bb.band"), col("bb.bval"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("id_a"), col("y.doc").as("id_b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
      // filter BEFORE distinct: clustered hashes make band buckets
      // large, and deduplicating millions of non-matching candidates
      // cost more than the whole rest of the query
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs: IVF-bucket candidate
    * generation (each vector probes its `nprobe` nearest centroids
    * map-side against the broadcast codebook; a pair is a candidate
    * iff the probe sets intersect) followed by exact-cosine verify on
    * the candidates only. Nothing corpus-sized is ever broadcast and
    * no n² pass exists — candidate volume is Σ bucket², tunable via
    * `centroidEvery`/`nprobe`. Vectors are L2-normalized once so each
    * verified pair costs one codegen'd dot product. */
  def embeddingNearDups(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      centroidEvery: Int = 50,
      nprobe: Int = 2): DataFrame = {
    val unit = Dist.materialize(
      SimilarityOps.withUnitVec(emb, vecCol)
        .select(col(idCol).as("vid"), col("nv").as("v"))
        .repartition(emb.sparkSession.sparkContext.defaultParallelism))
    val cand = SimilarityOps.ivfCandidatePairs(unit, centroidEvery, nprobe)
    val vecs = unit.select(col("vid"), col("v"))
    cand
      .join(vecs.as("ea"), col("id_a") === col("ea.vid"))
      .join(vecs.as("eb"), col("id_b") === col("eb.vid"))
      .withColumn("cosine", SimilarityOps.dot(col("ea.v"), col("eb.v")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** The posting chain shared by [[ngramJaccardPairs]] and
    * [[containmentPairs]]: word-`n`-gram shingles hashed to 64-bit
    * digests, folded into `maxDf`-capped posting buckets `(gk, docs)`;
    * [[gramSets]] turns them into the per-doc gram sets.
    *
    * Grams travel as PRIMITIVE 64-bit digests from the start: the
    * hash64_array kernel hashes the whole shingle array in one codegen
    * pass BEFORE the explode, so the posting-list groupBy shuffles
    * 8-byte keys instead of 32-char md5 strings (64-bit collisions are
    * ~1e-8 at corpus scale, and both engines hash identically, so the
    * gate still compares exactly). collect_set folds the (doc, gram)
    * dedup INTO the posting aggregate (partial collect_set dedups
    * map-side): one exchange of the widest relation in the op instead
    * of distinct() + groupBy, and stop-grams drop while still one row
    * each. */
  private def gramBuckets(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      maxDf: Int): DataFrame = {
    graft.functions.Hash32Array.register(df.sparkSession)
    // barrier: tokens materialize BEFORE the shingle lambda; inlined,
    // each element_at would re-run split(text) — an O(tokens)-fold
    // regex tax per row (the q315 interpreted-HOF class)
    val grams = df
      .select(col(idCol).as("doc"), TextOps.tokens(col(textCol)).as("__toks"))
      .localCheckpoint(eager = false)
      .select(col("doc"),
        explode(graft.functions.Hash32Array.hash64(
          TextOps.shingles(col("__toks"), n))).as("gk"))
    grams.groupBy(col("gk"))
      .agg(array_sort(collect_set(col("doc"))).as("docs"))
      .filter(size(col("docs")) <= maxDf)
  }

  /** One sorted gram set per doc `(doc, set, sz)`, re-derived from
    * [[gramBuckets]]' pruned postings (no join). */
  private def gramSets(buckets: DataFrame): DataFrame =
    buckets.select(col("gk"), explode(col("docs")).as("doc"))
      .groupBy(col("doc"))
      .agg(array_sort(collect_list(col("gk"))).as("set"))
      .withColumn("sz", size(col("set")))

  /** Direct word-n-gram Jaccard near-duplicate pairs — the exact-set
    * sibling of [[minhashNearDups]]: no signatures, no probabilistic
    * bands. Pairs come from an inverted index on the n-grams
    * themselves and Jaccard is computed exactly from shared-gram
    * counts: |A∩B| / (|A| + |B| − |A∩B|). Output (id_a, id_b,
    * n_shared, jaccard) with id_a < id_b and jaccard >= threshold.
    *
    * Stop-gram pruning: n-grams occurring in more than `maxDf`
    * documents are removed from the vocabulary BEFORE set sizes and
    * intersections are computed (engine and oracle apply the same
    * rule), so Jaccard is exact over the pruned vocabulary and stays
    * deterministic. The cap is what makes the inverted index scale: a
    * boilerplate gram shared by k documents alone creates k²/2 join
    * rows, so the self-join fan-out is bounded by maxDf² per gram
    * instead of corpus².
    *
    * Scale posture (100 TB): grams shuffle as 128-bit md5 digests,
    * never raw text (the same narrow-shuffle rule as exact dedup).
    * Pairs come from posting-list buckets — ONE groupBy on the digest
    * builds the per-gram doc list, the maxDf filter drops stop-gram
    * buckets before any pair exists, and pair explosion is map-side
    * over the surviving (≤ maxDf-element) lists — strictly cheaper
    * than a digest self-join, which shuffles the posting relation
    * twice and materializes the quadratic blow-up inside the join
    * instead of capping it first. */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.3,
      maxDf: Int = 100): DataFrame = {
    val hs = gramSets(gramBuckets(df, textCol, idCol, n, maxDf))
    // PPJoin prefix filter (lossless for jaccard >= t): a qualifying
    // pair must collide inside the first sz − ⌊t·sz⌋ + 1 grams of the
    // GLOBAL hash order, so candidate pairs generate from prefix
    // buckets only (~(1−t)² of the full bucket fan-out) and the exact
    // overlap is recomputed per candidate by the codegen sorted-merge
    // — the 4M-row count-every-collision aggregate disappears
    val prefLen = (col("sz") - floor(lit(threshold) * col("sz")).cast("int") + 1)
    // PPJoin positional filter on top: shared grams appear in the SAME
    // relative order in both sorted sets, so the first shared gram
    // minimizes both prefix positions at once and bounds the overlap,
    // n_shared <= 1 + min(sza − pa − 1, szb − pb − 1) (0-based). A
    // true pair (jaccard >= t, hence n_shared >= t/(1+t)·(sza+szb))
    // has its first shared gram inside BOTH prefixes, so pruning
    // candidates whose bound cannot reach that floor (with 1e-9 slack
    // for the double divide) never drops a qualifying pair — it only
    // spares the verify joins + sorted-merge intersections the pairs
    // that cannot pass the exact filter anyway. The pair dedup rides
    // the same exchange the old distinct() paid (groupBy id_a, id_b).
    val cand = hs
      .select(col("doc"), col("sz"),
        posexplode(slice(col("set"), lit(1), prefLen)).as(Seq("pos", "gk")))
      .groupBy(col("gk"))
      .agg(array_sort(collect_list(
        struct(col("doc"), col("pos"), col("sz")))).as("es"))
      .select(explode(expr(
        """flatten(transform(es, (x, i) ->
           transform(slice(es, i + 2, size(es)),
                     y -> struct(x.doc AS id_a, y.doc AS id_b,
                                 x.pos AS pa, y.pos AS pb,
                                 x.sz AS sza, y.sz AS szb))))""")).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(min(col("p.pa")).as("__pa"), min(col("p.pb")).as("__pb"),
        first(col("p.sza")).as("__sza"), first(col("p.szb")).as("__szb"))
      .filter(lit(1) +
        least(col("__sza") - col("__pa") - 1, col("__szb") - col("__pb") - 1)
          >= lit(threshold / (1.0 + threshold)) *
            (col("__sza") + col("__szb")) - lit(1e-9))
      .select(col("id_a"), col("id_b"))
    graft.functions.SetIntersect.register(df.sparkSession)
    cand
      .join(hs.select(col("doc").as("id_a"), col("set").as("seta"), col("sz").as("sza")), "id_a")
      .join(hs.select(col("doc").as("id_b"), col("set").as("setb"), col("sz").as("szb")), "id_b")
      .withColumn("n_shared",
        graft.functions.SetIntersect.count(col("seta"), col("setb")))
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("sza") + col("szb") - col("n_shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_shared"),
        ExactRound.ratioRound(col("n_shared"),
          col("sza") + col("szb") - col("n_shared"), 4).as("jaccard"))
  }

  /** Sub-document (span-level) dedup — the C4/RefinedWeb rule that
    * EXACT doc dedup can't express: boilerplate repeated ACROSS
    * different documents (headers, license blocks, navigation chrome)
    * is removed from every doc except the first one to contain it,
    * while each doc's unique content survives.
    *
    * Docs split into NON-overlapping `spanLen`-token spans (remainder
    * tail span kept). A span instance survives iff its `(doc, pos)` is
    * the global minimum for that span's content — deterministic
    * first-occurrence ownership, independent of partitioning. Output
    * per doc: span counts, kept share, and the doc re-assembled from
    * surviving spans in position order.
    *
    * Plan shape: tokenize + span explode are map-side; ownership is ONE
    * shuffle on the span digest (rows per digest = duplicate count, so
    * no hot keys at any scale); re-assembly is one shuffle back on the
    * doc id. Spans travel as md5 digests + their text (needed for
    * re-assembly) — at 100 TB the digest shuffle is the same size class
    * as the exact-dedup shuffle, ~1× corpus bytes. */
  def spanDedup(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      spanLen: Int = 8): DataFrame = {
    require(spanLen >= 1, s"spanLen must be >= 1 (got $spanLen)")
    val spans = docs
      .select(col(idCol).as("doc"), TextOps.tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") >= 1)
      // integer-exact span count: (n-1) div spanLen + 1 in both engines
      .withColumn("n_spans",
        ((col("n") - 1).cast("double") / spanLen).cast("long") + 1)
      .withColumn("pos", explode(sequence(lit(0L), col("n_spans") - 1)))
      .select(col("doc"), col("pos"),
        concat_ws(" ", slice(col("toks"), (col("pos") * spanLen + 1).cast("int"),
          lit(spanLen))).as("span"))
      .withColumn("sk", md5(col("span")))
    val firstOwner = Window.partitionBy(col("sk")).orderBy(col("doc"), col("pos"))
    spans
      .withColumn("keep", row_number().over(firstOwner) === 1)
      .groupBy(col("doc"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("keep").cast("long")).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("pos"), col("span"))))),
            s => s.getField("span")), " ").as("clean_text"))
      .select(col("doc").as(idCol), col("n_spans"), col("n_kept"),
        ExactRound.ratioRound(col("n_kept"), col("n_spans"), 6)
          .as("share_kept"),
        col("clean_text"))
  }

  /** SimHash precision audit, per hamming distance: for every
    * [[simhashNearDups]] pair, the EXACT Jaccard over the distinct
    * shingle-hash sets (q25's ground truth), folded to pair count,
    * mean Jaccard, and the share at or above the near-dup threshold —
    * the precision side of the sketch-tuning story next to q170's
    * MinHash error (how many SimHash "near-dups" are real?).
    *
    * Scale: rides the band-join pair plan; hash sets attach by id
    * join, the verify is set-intersection on candidate pairs only;
    * output ≤ maxHamming+1 rows. Docs under 3 tokens carry no shingle
    * set and drop from the audit (both engines). */
  def simhashPrecision(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      jacThreshold: Double = 0.3): DataFrame = {
    graft.functions.MinHashDoc.register(df.sparkSession, A, B, CrossHash.P)
    val pairs = simhashNearDups(df, textCol, idCol, maxHamming)
    val hsets = df.filter(size(TextOps.tokens(col(textCol))) >= 3)
      .select(col(idCol).as("hd"),
        graft.functions.MinHashDoc.doc(col(textCol))("sset").as("hset"))
    // per-pair 6dp Jaccard as the exact SCALED integer (class-4
    // discipline: intersect/union are integers, so the 6dp value is
    // an exact rational — never round() its double quotient); the
    // threshold compares scaled integers, the mean divides the
    // scaled-sum exactly
    val thr6 = math.round(jacThreshold * 1e6)
    pairs
      .join(hsets.select(col("hd").as("id_a"), col("hset").as("ha")), "id_a")
      .join(hsets.select(col("hd").as("id_b"), col("hset").as("hb")), "id_b")
      .withColumn("jac6",
        ExactRound.ratioRoundScaled(
          size(array_intersect(col("ha"), col("hb"))),
          size(array_union(col("ha"), col("hb"))), 6))
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("jac6")).as("sj6"),
        sum(when(col("jac6") >= thr6, 1L).otherwise(0L)).as("n_good"))
      .select(col("hamming"), col("n_pairs"),
        ExactRound.ratioRound(col("sj6"),
          col("n_pairs") * lit(1000000L), 6).as("mean_jac"),
        ExactRound.ratioRound(col("n_good"), col("n_pairs"), 4)
          .as("precision"))
  }

  /** Soft n-gram contamination share — the graded sibling of
    * [[decontaminate]]'s pair report: for every training document, the
    * fraction of its DISTINCT word-3-gram hashes that appear anywhere
    * in the benchmark subset (the union set, not per-bench-doc), plus
    * a flag at `flagAt`. This is the GPT-3-style "n-gram overlap with
    * eval" screen where a document is discounted by how much of it is
    * benchmark material, rather than dropped on a 2-shingle match.
    *
    * Scale: the benchmark collapses to a distinct 32-bit hash set and
    * BROADCASTS (eval suites are small by construction); corpus
    * shingles probe it map-side, so the only shuffle is the doc-keyed
    * rollup of (hash, hit) pairs — raw text never moves. */
  def contaminationShare(
      df: DataFrame,
      textCol: String,
      idCol: String,
      benchFilter: Column,
      flagAt: Double = 0.2): DataFrame = {
    graft.functions.MinHashDoc.register(df.sparkSession, A, B, CrossHash.P)
    val eligible = df.filter(size(TextOps.tokens(col(textCol))) >= 3)
    val exploded = eligible
      .select(col(idCol).as("doc_id"), benchFilter.as("is_bench"),
        explode(graft.functions.MinHashDoc.doc(col(textCol))("sset")).as("h"))
    val bench = exploded.filter(col("is_bench"))
      .select(col("h")).distinct().withColumn("hit", lit(1))
    exploded.filter(!col("is_bench"))
      .join(broadcast(bench), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hit"))
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        ExactRound.ratioRound(col("n_hit"), col("n_shingles"), 6)
          .as("contam_frac"))
      .withColumn("flagged", col("contam_frac") >= flagAt)
  }

  /** Quality-aware duplicate-cluster representative selection: cluster
    * by the canonical-text digest (so near-identical variants that
    * differ only in case/punctuation/whitespace collide — q112's
    * cluster rule), then keep the variant with the MOST original
    * characters, lowest id on ties — instead of [[exactDupGroups]]'
    * blind min-id. The "keep the richest copy" policy every curation
    * pipeline wants once duplicates carry different formatting.
    *
    * One digest-keyed shuffle; the argmax is a `max(struct(len, -id))`
    * inside the same hash aggregate (no window, no second pass), and
    * only digests + two longs move — never text. */
  def keepBestCanonical(
      df: DataFrame,
      textCol: String,
      idCol: String): DataFrame = {
    val d = df.select(col(idCol).as("doc_id"),
      length(col(textCol)).as("len"),
      md5(TextOps.canonical(col(textCol))).as("canon_md5"))
    val best = d.groupBy(col("canon_md5"))
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("len").as("l"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("canon_md5"), col("cluster_size"),
        (-col("b.nid")).as("keep_id"))
    d.join(best, "canon_md5")
      .select(col("doc_id"), col("canon_md5"), col("cluster_size"),
        col("len"), col("keep_id"), (col("doc_id") === col("keep_id"))
          .as("is_kept"))
  }

  /** SemDeDup (Abbas et al. 2023) semantic deduplication: assign each
    * embedding to its nearest deterministic IVF cell, then drop any
    * vector that has a lower-id neighbor at cosine ≥ `threshold`
    * among the IVF candidate pairs. First-occurrence ownership — the
    * same partitioning-independent convention as [[spanDedup]]; the
    * candidate set probes `nprobe` cells so boundary pairs straddling
    * two cells are still seen.
    *
    * Scale: identical posture to [[embeddingNearDups]] (broadcast
    * codebook, bucket-join candidates, nothing corpus-sized collected)
    * plus one map-side cell projection and an id-keyed anti-join-shaped
    * left join for the drop flag. */
  def semDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.9,
      centroidEvery: Int = 50,
      nprobe: Int = 2): DataFrame = {
    val unit = Dist.materialize(
      SimilarityOps.withUnitVec(emb, vecCol)
        .select(col(idCol).as("vid"), col("nv").as("v"))
        .repartition(emb.sparkSession.sparkContext.defaultParallelism))
    val vecs = unit.select(col("vid"), col("v"))
    val dropped = SimilarityOps.ivfCandidatePairs(unit, centroidEvery, nprobe)
      .join(vecs.as("ea"), col("id_a") === col("ea.vid"))
      .join(vecs.as("eb"), col("id_b") === col("eb.vid"))
      .filter(SimilarityOps.dot(col("ea.v"), col("eb.v")) >= threshold)
      .select(col("id_b")).distinct().withColumn("is_dropped", lit(true))
    SimilarityOps.cellAssignments(unit, centroidEvery)
      .join(dropped, col("vid") === col("id_b"), "left")
      .select(col("vid").as("vec_id"), col("cell"),
        coalesce(col("is_dropped"), lit(false)).as("is_dropped"))
  }

  /** Asymmetric CONTAINMENT near-dup pairs: C(A→B) = |A∩B| / |A| over
    * word-n-gram shingle sets — the quote/repost/excerpt detector the
    * symmetric Jaccard (q77) structurally misses: a short doc fully
    * embedded in a long one has C ≈ 1 while J ≈ |A|/|B| can sit far
    * below any Jaccard threshold. Emits one DIRECTIONAL row per
    * (contained, container) pair with containment ≥ `threshold`.
    *
    * Candidate generation keeps the PPJoin discipline one-sided: for
    * C(A→B) ≥ t, A must share a gram inside its first
    * ⌊(1−t)·|A|⌋ + 1 grams of the GLOBAL hash order (the containment
    * prefix bound — B's side cannot be pruned, so probes join the
    * FULL df-capped posting lists). Stop-grams (df > maxDf) drop
    * before any pairing, exactly as [[ngramJaccardPairs]]; the exact
    * overlap recomputes per candidate via the codegen sorted-merge.
    *
    * Scale: grams travel as 64-bit digests; the probe fan-out is
    * (1−t) of each doc's set against ≤ maxDf postings — the same size
    * class as the Jaccard prefix join — and nothing corpus-sized is
    * ever collected or broadcast. */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxDf: Int = 100): DataFrame = {
    // A/B-kept pair (q316, sf0.1 local[4]): without both checkpoints
    // 3.26 -> 4.50 s wall, parent spread 0.23 s — the buckets feed
    // the sets and the probe join, the sets all three candidate legs
    val buckets = gramBuckets(df, textCol, idCol, n, maxDf)
      .localCheckpoint(eager = false)
    val hs = gramSets(buckets).localCheckpoint(eager = false)
    // one-sided prefix probe: the contained side exposes its first
    // ⌊(1−t)·sz⌋ + 1 grams, the container side answers from the full
    // posting list
    val prefLen =
      (floor(lit(1.0 - threshold) * col("sz")).cast("int") + 1)
    val cand = hs
      .select(col("doc").as("id_a"),
        explode(slice(col("set"), lit(1), prefLen)).as("gk"))
      .join(buckets, "gk")
      .select(col("id_a"), explode(col("docs")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    graft.functions.SetIntersect.register(df.sparkSession)
    cand
      .join(hs.select(col("doc").as("id_a"), col("set").as("seta"),
        col("sz").as("sza")), "id_a")
      .join(hs.select(col("doc").as("id_b"), col("set").as("setb")), "id_b")
      .withColumn("n_shared",
        graft.functions.SetIntersect.count(col("seta"), col("setb")))
      .withColumn("containment",
        col("n_shared").cast(DoubleType) / col("sza").cast(DoubleType))
      .filter(col("containment") >= threshold)
      .select(col("id_a").as("contained"), col("id_b").as("container"),
        col("n_shared"), col("sza").as("sz_contained"),
        ExactRound.ratioRound(col("n_shared"), col("sza"), 4)
          .as("containment"))
  }

  /** Winnowing (MOSS-style) fingerprint overlap: each doc selects the
    * minimum shingle hash of every `window`-wide sliding window over
    * its POSITIONAL hash sequence (the Schleimer–Wilkerson–Aiken
    * guarantee: any shared run of window+n−1 tokens shares ≥ 1
    * selected fingerprint), docs pair on selected values, and pairs
    * with ≥ `minShared` shared fingerprints emit with an overlap
    * score — the plagiarism/boilerplate-detection shape next to the
    * set-similarity dedups (q77 asks "how alike are the SETS"; this
    * asks "do they share contiguous RUNS").
    *
    * Fingerprints are the DISTINCT per-window minima (selection is a
    * pure value set, so tie positions cancel out and both engines
    * agree bit-for-bit); docs shorter than one window winnow their
    * whole sequence. Stop-fingerprints (df > maxDf) drop before
    * pairing.
    *
    * Scale: winnowing is per-doc bounded map-side array math; the
    * only corpus shuffles are the fingerprint posting-list groupBy
    * and the df-capped pair explode — the LSH-band layout. */
  def winnowingOverlap(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      window: Int = 4,
      minShared: Int = 3,
      maxDf: Int = 100): DataFrame = {
    graft.functions.Hash32Array.register(df.sparkSession)
    // barriers: checkpoint the tokens and the positional hash sequence
    // BEFORE the shingle and window transforms: higher-order functions
    // run interpreted (no codegen, no subexpression elimination), so
    // if projection collapse inlines the tokenize→shingle→hash chain
    // into the lambda, `slice(hs, …)` and `least(…, m)` re-derive it
    // from the raw text for EVERY j —
    // O(m²) regex splits per doc (measured: ~0.25 s/row, a 1000×
    // blow-up). Materialized, the transform is plain array math.
    val h = df
      .select(col(idCol).as("doc"), TextOps.tokens(col(textCol)).as("__toks"))
      .localCheckpoint(eager = false) // split once, not per shingle
      .select(col("doc"),
        graft.functions.Hash32Array.hash64(
          TextOps.shingles(col("__toks"), n)).as("hs"))
      .withColumn("m", size(col("hs")))
      .filter(col("m") >= 1)
      .localCheckpoint(eager = false)
    val winLen = least(lit(window), col("m"))
    // both the per-doc fingerprint counts and the posting-list groupBy
    // read the un-exploded fingerprint arrays: the per-doc counts take
    // size(fps) map-side instead of re-deduplicating the exploded
    // relation (the old distinct() shuffle)
    val fpArr = h
      .withColumn("fps", array_distinct(
        transform(
          sequence(lit(1), greatest(col("m") - lit(window) + 1, lit(1))),
          j => array_min(slice(col("hs"), j, winLen)))))
      .select(col("doc"), col("fps"))
    val perDoc = fpArr.select(col("doc"), size(col("fps")).as("n_fp"))
    val fps = fpArr.select(col("doc"), explode(col("fps")).as("v"))
    val buckets = fps.groupBy(col("v"))
      .agg(array_sort(collect_list(col("doc"))).as("docs"))
      .filter(size(col("docs")) <= maxDf)
    val pairs = buckets
      .select(explode(expr(
        """flatten(transform(docs, (x, i) ->
           transform(slice(docs, i + 2, size(docs)),
                     y -> struct(x AS id_a, y AS id_b))))""")).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= minShared)
    pairs
      .join(perDoc.select(col("doc").as("id_a"), col("n_fp").as("fp_a")),
        "id_a")
      .join(perDoc.select(col("doc").as("id_b"), col("n_fp").as("fp_b")),
        "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared_fp"),
        col("fp_a"), col("fp_b"),
        ExactRound.ratioRound(col("n_shared_fp"),
          least(col("fp_a"), col("fp_b")), 4).as("overlap"))
  }

  /** LSH candidate-recall curve by similarity band: which TRUE
    * near-dup pairs (the exact PPJoin list at a low threshold) does
    * the minhash BAND JOIN even surface as candidates — the
    * miss-rate audit of the stage [[sketchError]]'s estimate-error
    * audit sits after, reported against the banding scheme's
    * theoretical s-curve P(candidate) = 1 − (1 − s^r)^b. Low-band
    * recall is EXPECTED to be low (that's what banding buys); the
    * audit is whether the empirical curve tracks theory at and above
    * the design threshold.
    *
    * Truth and candidates measure slightly different universes
    * (PPJoin's Jaccard is over maxDf-filtered rare grams, the
    * verify's over all grams) — deliberate: the truth list is what a
    * production dedup would act on.
    *
    * Determinism: bands are integer deciles of the 4dp PPJoin
    * jaccard; hits are integer joins; recall is one rounded ratio;
    * the theoretical curve expands (1−s²)¹⁶ by explicit repeated
    * squaring (no pow — cross-engine pow is not ulp-stable).
    *
    * Scale: the PPJoin prefix-filtered pair list + the band join —
    * both already never-all-pairs; the rollup is ≤10 rows. */
  def lshRecall(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.2,
      maxDf: Int = 100): DataFrame = {
    def dbl(c: Column) = c.cast(DoubleType)
    val truth = ngramJaccardPairs(df, textCol, idCol, n = 3, threshold,
      maxDf)
    val cand = bandCandidates(minhashDocs(df, textCol, idCol))
      .withColumn("hit", lit(1L))
    val banded = truth
      .withColumn("bd", least(floor(col("jaccard") * 10), lit(9.0))
        .cast("int"))
      .join(cand, Seq("id_a", "id_b"), "left")
    // the repeated-squaring expansion below hardcodes the s-curve
    // exponents for r = RowsPerBand = 2 (mid*mid) and b = Bands = 16
    // (four squarings); changing the banding constants must change
    // this expansion or the "theory" column silently lies
    require(RowsPerBand == 2 && Bands == 16,
      s"lshRecall theory curve is expanded for r=2, b=16 " +
        s"(got r=$RowsPerBand, b=$Bands) — update the expansion")
    val mid = (dbl(col("bd")) + lit(0.5)) / lit(10.0)
    val u = lit(1.0) - mid * mid
    val u2 = u * u; val u4 = u2 * u2; val u8 = u4 * u4
    banded.groupBy(col("bd"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
      .select(col("bd").as("band"), col("n_true"), col("n_caught"),
        ExactRound.ratioRound(col("n_caught"), col("n_true"), 6)
          .as("recall"),
        round(lit(1.0) - u8 * u8, 6).as("theory"))
  }
}
