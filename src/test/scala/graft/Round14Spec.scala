package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{MultimodalOps, TextOps}

/** Round-14 pinned fixtures: the mojibake script-audit gate (q425) and
  * the video-frame container walk + near-dup gate (q426). */
class Round14Spec extends AnyFunSuite {
  import SparkTestSession._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  test("syntheticMojibake translates md5 hex through the exact char map") {
    import spark.implicits._
    // doc_id 3 (≡0 mod 3) takes the mojibake map, doc_id 4 pure ASCII
    val docs = Seq((3L, "s"), (4L, "s")).toDF("doc_id", "source")
    val out = TextOps.syntheticMojibake(docs).orderBy("doc_id")
      .select("text").as[String].collect()
    val mojiMap =
      "abcdefghij" + "éßλ中" + "" + "�"
    def xlate(h: String, map: String): String =
      h.map(c => map("0123456789abcdef".indexOf(c))).mkString
    assert(out(0) === xlate(md5hex("scr:3"), mojiMap))
    assert(out(1) === xlate(md5hex("scr:4"), "abcdefghijklmnop"))
    assert(out(0).length === 32 && out(1).length === 32)
    assert(out(1).forall(_ < 0x80), "ASCII doc must stay pure ASCII")
  }

  test("scriptAudit counts pin on a hand-built mixed fixture") {
    import spark.implicits._
    // doc 1 = é, U+FFFD, BEL, 'a' → n_na 2 (é + FFFD), n_repl 1,
    // n_ctl 1, per-doc ratio 2/4 = 0.5; doc 2 pure ASCII → all zero
    val docs = Seq(("s", "é�a"), ("s", "abcd"))
      .toDF("source", "text")
    val r = TextOps.scriptAudit(docs).collect().head
    assert(r.getAs[Long]("n_docs") === 2L)
    assert(r.getAs[Long]("docs_nonascii") === 1L)
    assert(r.getAs[Long]("n_replacement") === 1L)
    assert(r.getAs[Long]("n_control") === 1L)
    assert(r.getAs[Double]("nonascii_doc_share") === 0.5)
    // per-doc r6: doc1 = 500000, doc2 = 0 → mean 250000 → 0.25
    assert(r.getAs[Double]("avg_nonascii_ratio") === 0.25)
  }

  test("videoFrames walks the container and samples every 2nd frame") {
    import spark.implicits._
    // id 2 → 3 + 2%3 = 5 frames, sampled f ∈ {0, 2, 4};
    // id 4 → 3 + 4%3 = 4 frames, sampled f ∈ {0, 2}
    val ids = Seq(2L, 4L).toDF("vec_id")
    val frames = MultimodalOps.videoFrames(
      MultimodalOps.syntheticVideoAssets(ids, "vec_id"), every = 2)
      .collect().map(_.asset_id).sorted
    assert(frames.toSeq === Seq(2L * 16, 2L * 16 + 2, 2L * 16 + 4,
      4L * 16, 4L * 16 + 2))
  }

  test("walked frame bytes hash identically to the directly-built BMP") {
    // frame (id=1, f=3): the container slice the walker emits must be
    // byte-equivalent (to the real decoder) to bmp8x8 over the same
    // md5 cells — pins the walk offsets against one-off errors
    val ids = { import spark.implicits._; Seq(1L).toDF("vec_id") }
    // every=1 keeps all 3 + 1%3 = 4 frames; take f=3
    val fr = MultimodalOps.videoFrames(
      MultimodalOps.syntheticVideoAssets(ids, "vec_id"), every = 1)
      .collect().find(_.asset_id == 1L * 16 + 3).get
    val ah = MultimodalOps.aHash64(fr.payload)
    val direct = MultimodalOps.aHash64(
      MultimodalOps.bmp8x8(MultimodalOps.syntheticVideoCells(1L, 3)))
    assert(ah.isDefined && ah === direct)
  }

  test("stock frames shared across videos are identical cells") {
    // (id=5, f=0): (5+0)%5=0 → shared, k=(5/5)%7=1, tw=(5+0)%2=1
    // (id=2, f=1): (2+3)%5=0 → shared, k=(5/5)%7=1, tw=(2+1)%2=1
    // → the same stock frame appears in two different videos
    val a = MultimodalOps.syntheticVideoCells(5L, 0)
    val b = MultimodalOps.syntheticVideoCells(2L, 1)
    assert(a.toSeq === b.toSeq)
    // (id=4, f=2): (4+6)%5=0 → k=(10/5)%7=2, tw=(4+2)%2=0
    // (id=1, f=3): (1+9)%5=0 → k=(10/5)%7=2, tw=(1+3)%2=0
    val c = MultimodalOps.syntheticVideoCells(4L, 2)
    val d = MultimodalOps.syntheticVideoCells(1L, 3)
    assert(c.toSeq === d.toSeq, "same (k, tw) ⇒ identical stock cells")
  }

  test("scene video: cuts sit exactly at scene boundaries") {
    import spark.implicits._
    // id 0 → 6 frames = scenes {0,0,1,1,2,2}: gaps at f=1→2 and
    // f=3→4 are cross-scene (big hamming), the rest within-scene
    // (cell-1 jitter only → tiny hamming)
    def ah(id: Long, f: Int): Long = MultimodalOps.aHash64(
      MultimodalOps.bmp8x8(MultimodalOps.syntheticSceneCells(id, f))).get
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val within = Seq(ham(ah(0, 0), ah(0, 1)), ham(ah(0, 2), ah(0, 3)),
      ham(ah(0, 4), ah(0, 5)))
    val across = Seq(ham(ah(0, 1), ah(0, 2)), ham(ah(0, 3), ah(0, 4)))
    assert(within.forall(_ < 16), s"within-scene hamming too big: $within")
    assert(across.forall(_ >= 16), s"cross-scene hamming too small: $across")
    // the full query agrees: video 0 has 5 gaps, exactly 2 cuts
    val r = SparkEntry.queries("q427_scene_cuts")(
      spark, "/root/testdata/sf0.001").filter(col("vid") === 0).collect().head
    assert(r.getAs[Long]("n_gaps") === 5L)
    assert(r.getAs[Long]("n_cuts") === 2L)
  }

  test("tweaked stock variant differs only in cell 0 (+16 mod 256)") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def stock(k: Long, c: Int): Int = {
      md.reset(); md.update(s"vf:$k:$c".getBytes("UTF-8"))
      md.digest()(0) & 0xff
    }
    // (id=20, f=0): (20+0)%5=0 → k=(20/5)%7=4, tw=0 → raw stock 4
    val base = MultimodalOps.syntheticVideoCells(20L, 0)
    assert(base.toSeq === (0 until 64).map(stock(4L, _)))
    // (id=26, f=3): (26+9)%5=0 → k=(35/5)%7=0, tw=(26+3)%2=1 →
    // tweaked copy of stock 0: cell 0 shifted, all others equal
    val tw = MultimodalOps.syntheticVideoCells(26L, 3)
    assert(tw(0) === (stock(0L, 0) + 16) % 256)
    assert((1 until 64).forall(c => tw(c) === stock(0L, c)))
  }

  // ---- ScalableWindow / ScalableRank against plain Window references ----

  /** Sparse + dense days, unique in-key timestamps, two keys. */
  private def scopedFixture = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0 until 400).map { i =>
      val series = if (i % 2 == 0) "A" else "B"
      // days 1..12, deliberately gappy for key B; minute unique per key
      val day = 1 + (if (series == "B" && i % 7 == 0) rnd.nextInt(3) else i % 12)
      val ts = java.sql.Timestamp.valueOf(
        f"2031-01-$day%02d ${9 + i % 7}%02d:${i % 60}%02d:${(i * 13) % 60}%02d")
      (series, ts, 100.0 + (i % 50) / 7.0)
    }.toDF("pair_name", "bar_ts", "spread")
      .groupBy("pair_name", "bar_ts")
      .agg(max(col("spread")).as("spread")) // unique (key, ts)
  }

  /** Same column names, types and order, and the same rows in the
    * same `orderBy(keys)` order. */
  private def assertSame(got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame, keys: String*): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) ===
      want.schema.map(f => (f.name, f.dataType)), "column order/types must match")
    assert(got.orderBy(keys.map(col): _*).collect().toSeq ===
      want.orderBy(keys.map(col): _*).collect().toSeq)
  }

  // Each ScalableWindow wrapper equals a hand-written per-key Window
  // formulation of the same columns.
  test("small-input route equals the forced-scaled path bit-for-bit") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val df = scopedFixture
    val byPair = Window.partitionBy(col("pair_name")).orderBy(col("bar_ts"))

    val zw = byPair.rowsBetween(-29, Window.currentRow)
    val zWant = df
      .withColumn("rolling_mean", mean(col("spread")).over(zw))
      .withColumn("rolling_std", stddev(col("spread")).over(zw))
      .withColumn("window_size", count(lit(1)).over(zw))
      .withColumn("z_score",
        when(col("window_size") >= 10 && col("rolling_std").isNotNull &&
          col("rolling_std") =!= 0.0,
          (col("spread") - col("rolling_mean")) / col("rolling_std")))
    assertSame(graft.ops.PairAnalytics.rollingZScore(df, 30, 10),
      zWant, "pair_name", "bar_ts")

    val series = df.withColumn("series", col("pair_name"))
      .select("series", "pair_name", "bar_ts", "spread")
    val tw = Window.partitionBy(col("series")).orderBy(col("bar_ts"))
      .rowsBetween(-19, Window.currentRow)
    val dv = col("spread").cast(DecimalType(18, 6))
    val (s1, s2, n) = (col("__s1"), col("__s2"), col("n_win"))
    val tWant = series
      .withColumn("__s1", sum(dv).over(tw).cast("double"))
      .withColumn("__s2", sum(dv * dv).over(tw).cast("double"))
      .withColumn("n_win", count(lit(1)).over(tw))
      .withColumn("r_mean", round(s1 / n, 6))
      .withColumn("r_std", when(n > 1,
        round(sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), lit(0.0))), 6)))
      .drop("__s1", "__s2")
    assertSame(graft.ops.ScalableWindow.trailingStats(series, Seq("series"),
      Seq("bar_ts"), "spread", 20), tWant, "series", "bar_ts")

    val spWant = df
      .withColumn("ntot", count(lit(1)).over(Window.partitionBy(col("pair_name"))))
      .withColumn("rn", row_number().over(byPair).cast("long"))
      .withColumn("prev", lag(col("spread"), 1).over(byPair))
    assertSame(graft.ops.ScalableWindow.withSeqPrev(df, Seq("pair_name"),
      Seq("bar_ts"), "rn", Seq("spread" -> "prev"), Some("ntot")),
      spWant, "pair_name", "bar_ts")

    val bySeries = Window.partitionBy(col("series")).orderBy(col("bar_ts"))
    val lgWant = series
      .withColumn("pc", lag(col("spread"), 1).over(bySeries))
      .filter(col("pc").isNotNull)
    assertSame(graft.ops.ScalableWindow.laggedScope(series, Seq("series"),
        Seq("bar_ts"), "spread", "pc", col("pc").isNotNull),
      lgWant, "series", "bar_ts")
  }

  // ScalableRank's ntile and fused index + running sum equal the plain
  // ntile / row_number / count / running-sum windows.
  test("ScalableRank small-input route equals the two-pass escape bit-for-bit") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val df = scopedFixture
    val ntWant = df.withColumn("q", ntile(5).over(Window.partitionBy(col("pair_name"))
      .orderBy(col("spread"), col("bar_ts"))))
    assertSame(graft.ops.ScalableRank.ntile(df, Seq("pair_name"),
      Seq(col("spread"), col("bar_ts")), 5, "q"), ntWant, "pair_name", "bar_ts")

    val w = Window.partitionBy(col("pair_name")).orderBy(col("bar_ts"))
    val csWant = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("pair_name"))))
      .withColumn("run", sum(col("spread").cast(DecimalType(18, 6)))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast(DecimalType(38, 6)))
    assertSame(graft.ops.ScalableRank.withIndexAndCumSum(df, Seq("pair_name"),
      Seq(col("bar_ts")), col("spread").cast(DecimalType(18, 6)), "run", "rn", "n"),
      csWant, "pair_name", "bar_ts")
  }
}
