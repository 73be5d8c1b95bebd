package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.{SharedFrames, SparkSpec, SparkEntry}

/** Edge-case behavior the driver corpus cannot exercise: the test tables
  * contain no degenerate rows (zero vectors, empty documents), so these
  * build tiny parquet dirs of their own and run the REAL query entries
  * against them — the query code path, not a re-implementation.
  */
class QueryEdgeSpec extends SparkSpec {

  /** Write a miniature sf dir containing only the named table. */
  private def miniDir(table: String, rows: Seq[Row], schema: StructType): String = {
    val dir = Files.createTempDirectory("graft_edge").toString
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    dir
  }

  test("s05: an all-zero embedding quantizes to the zero vector instead of " +
      "dividing by zero, and scores 0 against every query") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType, nullable = false)))
    // vec_id 0 is a query vector (vec_id < 5 is the query set); 7 is a
    // corpus vector. Both zero + two normal vectors so ranking is exercised.
    val rows = Seq(
      Row(0L, Array.fill(4)(0f).toSeq, 0),
      Row(1L, Seq(1f, -2f, 3f, -4f), 0),
      Row(7L, Array.fill(4)(0f).toSeq, 0),
      Row(8L, Seq(2f, 2f, -1f, 0.5f), 0))
    val dir = miniDir("embeddings", rows, schema)
    val out = SparkEntry.queries("s05")(spark, dir)
      .orderBy(col("q_id"), col("rank")).collect()
    // no NaN/null anywhere; the zero query's dots are all 0
    assert(out.nonEmpty)
    assert(out.forall(r => !r.isNullAt(2)), out.mkString("\n"))
    val zeroQ = out.filter(_.getLong(0) == 0L)
    assert(zeroQ.nonEmpty && zeroQ.forall(_.getLong(2) == 0L), zeroQ.mkString("\n"))
    // the zero corpus vector scores 0 against the nonzero query too
    val zeroCorpus = out.filter(r => r.getLong(0) == 1L && r.getLong(1) == 7L)
    assert(zeroCorpus.forall(_.getLong(2) == 0L), zeroCorpus.mkString("\n"))
  }

  test("m05: a document id exercising every frame-count residue emits " +
      "ceil(nFrames/2) sampled frames with stride-2 indices") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    // ids 0..4 cover nFrames = 4..8 (4 + id % 5)
    val rows = (0L to 4L).map(id => Row(id, "x", "en", "s", 1L))
    val dir = miniDir("documents", rows, schema)
    val out = SparkEntry.queries("m05")(spark, dir).collect()
    val byDoc = out.groupBy(_.getLong(0))
    for (id <- 0L to 4L) {
      val nFrames = 4 + (id % 5).toInt
      val expected = (0 until nFrames by 2).toSet
      assert(byDoc(id).map(_.getInt(1)).toSet == expected,
        s"doc $id: ${byDoc(id).mkString(",")}")
    }
    // every frame decodes to 8x8 and the checksum is consistent with the
    // arithmetic the oracle uses: frame 0 of doc 0 has v(k) = (7k) % 256
    val f00 = out.find(r => r.getLong(0) == 0L && r.getInt(1) == 0).get
    assert(f00.getInt(2) == 8 && f00.getInt(3) == 8)
    val vs = (0 until 64).map(k => (7L * k) % 256)
    val ws = (0 until 64).map(k => (k / 16) * 4 + (k % 8) / 2 + 1)
    assert(f00.getLong(4) == vs.sum, s"sum_px ${f00.getLong(4)} != ${vs.sum}")
    val expectedCk = vs.zip(ws).map { case (v, w) => v * w }.sum
    assert(f00.getLong(5) == expectedCk,
      s"pool_checksum ${f00.getLong(5)} != $expectedCk")
  }

  test("w04: the two-phase (source, chunk) prefix sum is bit-identical to " +
      "the naive single-window formulation at a forced multi-chunk span") {
    // span 7 over sf0.001's dense doc_ids forces many chunks per source,
    // exercising the offset-repair join; the auto-span default run is the
    // oracle-gated path. Output must match the naive Window.partitionBy
    // (source) running total EXACTLY — packing placement is contractual.
    val sf = "/root/testdata/sf0.001"
    val naive = {
      import graft.functions.TextFns
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
      graft.Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("source"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_id", expr("(cum - n_tokens) div 2048"))
        .withColumn("pack_offset",
          col("cum") - col("n_tokens") - col("pack_id") * 2048)
        .drop("cum")
        .orderBy("doc_id").collect()
    }
    // span 7 = many chunks; 1 = every doc its own chunk (offset repair
    // does ALL the work); 10^9 = one chunk (window does all the work)
    for (span <- Seq(7L, 1L, 1000000000L)) {
      val chunked = SamplingQueries.w04Packs(spark, sf, span)
        .orderBy("doc_id").collect()
      assert(chunked.length == naive.length && chunked.length > 0)
      chunked.zip(naive).foreach { case (c, n) =>
        assert(c.getLong(0) == n.getLong(0) &&
          c.getLong(3) == n.getLong(3) && c.getLong(4) == n.getLong(4),
          s"span $span placement diverged: two-phase $c vs naive $n")
      }
    }
    // the auto-span query is the same placement
    val auto = SparkEntry.queries("w04")(spark, sf).orderBy("doc_id").collect()
    assert(auto.toSeq == SamplingQueries.w04Packs(spark, sf, 7L)
      .orderBy("doc_id").collect().toSeq)
    // span 0 would NULL every chunk (rows vanish through the equi-join),
    // negative spans reverse chunk monotonicity — both must be loud
    for (bad <- Seq(0L, -4L))
      intercept[IllegalArgumentException](SamplingQueries.w04Packs(spark, sf, bad))
    // span 7 really did produce more window partitions than sources
    val nChunkKeys = SamplingQueries.w04Packs(spark, sf, 7L)
      .select((col("doc_id") / 7).cast("long").as("chunk"), col("source"))
      .distinct().count()
    val nSources = naive.map(_.getString(1)).distinct.length
    assert(nChunkKeys > nSources * 2,
      s"only $nChunkKeys (source, chunk) keys for $nSources sources")
  }

  test("m06: negative doc_id keeps sign-of-dividend modulo — the DuckDB " +
      "oracle's % semantics — not pmod") {
    // The engine and the oracle must share one modulo convention for ALL
    // inputs, not just the non-negative test corpus: pmod on the Spark
    // side silently diverged from DuckDB's % for doc_id < 0. JVM % is
    // sign-of-dividend like DuckDB's, so this recomputation is the
    // oracle-side value.
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    val ids = Seq(-3L, -14L, 6L)
    val dir = miniDir("documents", ids.map(Row(_, "x", "en", "web", 1L)), schema)
    val out = SparkEntry.queries("m06")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getInt(3), r.getLong(4))).toMap
    for (id <- ids) {
      val nFrames = (5 + id % 5).toInt
      val frames = (0 until nFrames).map { f =>
        if ((f + id) % 7 == 0) 0L
        else (0 until 160).map { i =>
          val g = f.toLong * 160 + i
          val v = (id * 7919 + g * 31) % 256 - 128
          v * v
        }.sum
      }
      val expect = (nFrames, frames.sum, frames.count(_ == 0L), frames.max)
      assert(out(id) == expect, s"doc_id=$id: got ${out(id)}, want $expect")
    }
    assert(out(-3L)._1 == 2 && out(-14L)._1 == 1,
      "negative ids must SHRINK the frame count (sign-of-dividend), " +
        "matching DuckDB range(5 + doc_id % 5)")
  }

  test("m07: negative doc_id — sign-of-dividend modulo AND the one-frame " +
      "guard (Spark sequence(1,0) is DESCENDING [1,0], not empty)") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    // -7 % 8 = -7 -> nFrames = 1: the empty-deltas path the guard exists
    // for; -3 and 5 exercise signed vs unsigned energies
    val ids = Seq(-7L, -3L, 5L)
    val dir = miniDir("documents", ids.map(Row(_, "x", "en", "web", 1L)), schema)
    val out = SparkEntry.queries("m07")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5)))
      .toMap
    for (id <- ids) {
      val nFrames = (8 + id % 8).toInt
      def e(f: Long) = (id * 131 + f * f * 7919 + f * 31) % 1000
      val deltas = (1 until nFrames).map(f => math.abs(e(f) - e(f - 1)))
      val changes = (1 until nFrames).filter(f => math.abs(e(f) - e(f - 1)) > 400)
      val expect = (nFrames, changes.size, changes.headOption.getOrElse(-1),
        deltas.sum.toLong, if (deltas.isEmpty) 0L else deltas.max.toLong)
      assert(out(id) == expect, s"doc_id=$id: got ${out(id)}, want $expect")
    }
    assert(out(-7L)._1 == 1 && out(-7L)._2 == 0 && out(-7L)._3 == -1,
      "one-frame doc must yield NO deltas — an unguarded sequence(1,0) " +
        "would fabricate frames [1,0]")
  }

  test("m09: a signed doc_id shrinking the frame count to 1 yields fp=0 — " +
      "the unguarded sequence(0,-1) ANSI-threw at element_at(fe, 0|1)") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    // -14 % 5 = -4 -> 1 frame (the guard case); -3 -> 2 frames; 6 -> 6
    val ids = Seq(-14L, -3L, 6L)
    val dir = miniDir("documents", ids.map(Row(_, "x", "en", "web", 1L)), schema)
    val out = SparkEntry.queries("m09")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    def energies(id: Long): IndexedSeq[Long] = {
      val nFrames = (5 + id % 5).toInt
      (0 until nFrames).map { f =>
        if ((f + id) % 7 == 0) 0L
        else (0 until 160).map { i =>
          val g = f.toLong * 160 + i
          val v = (id * 7919 + g * 31) % 256 - 128
          v * v
        }.sum
      }
    }
    val expect = ids.map { id =>
      val e = energies(id)
      val fp = (0 until e.size - 1).map(f =>
        if (e(f + 1) > e(f)) 1L << f else 0L).sum
      (e.size, fp) -> id
    }.groupBy(_._1).map { case (k, v) =>
      k -> (v.size.toLong, v.map(_._2).min)
    }
    assert(out == expect, s"got $out, want $expect")
    assert(out.contains((1, 0L)),
      "the 1-frame doc must survive with fp=0 (oracle: LEFT-join sum)")
  }

  test("q39: the child session inherits a RUNTIME-set session timezone " +
      "(newSession starts from the original SparkConf, not runtime confs)") {
    // Driver sessions set UTC via conf.set() at runtime, not --conf; the
    // sbt test JVM masks that (build.sbt passes the -D into SparkConf), so
    // simulate it with a zone nobody's host uses: +08:45. If the child
    // session fell back to the JVM-default zone, the spine bounds and the
    // TIMESTAMP literals parsed from them would shift by the offset and
    // the months would not land on Eucla midnights.
    val zone = "Australia/Eucla"
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try {
      val months = SparkEntry.queries("q39")(spark, "/root/testdata/sf0.001")
        .select(col("month")).collect().map(_.getTimestamp(0))
      assert(months.nonEmpty)
      val fmt = java.time.format.DateTimeFormatter.ofPattern("dd HH:mm:ss")
        .withZone(java.time.ZoneId.of(zone))
      for (m <- months) {
        val rendered = fmt.format(m.toInstant)
        assert(rendered == "01 00:00:00",
          s"month $m renders as $rendered in $zone — child session lost " +
            "the runtime timezone")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("q40: the closed-form decile formula matches Spark's own ntile(10) " +
      "on every awkward size (N<10, N%10!=0, ties in the sort key)") {
    import org.apache.spark.sql.expressions.Window
    val schema = StructType(Seq(
      StructField("c_custkey", LongType, nullable = false),
      StructField("c_acctbal", DoubleType, nullable = false)))
    // sizes straddling every remainder case; balances collide (i/7) so
    // the within-bucket tiebreak (c_custkey) is load-bearing
    for (n <- Seq(1, 3, 9, 10, 11, 64, 100, 103)) {
      val rows = (1 to n).map(i => Row(i.toLong, (i / 7).toDouble))
      val dir = miniDir("customer", rows, schema)
      val got = SparkEntry.queries("q40")(spark, dir)
        .orderBy("decile").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      val want = spark.read.parquet(s"$dir/customer.parquet")
        .withColumn("decile", ntile(10).over(
          Window.orderBy(col("c_acctbal"), col("c_custkey"))))
        .groupBy("decile").agg(count(lit(1)).as("n"))
        .orderBy("decile").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      assert(got == want, s"n=$n: got $got, want $want")
    }
  }

  test("q45: the two-phase banded Pareto matches the naive global-window " +
      "construction on awkward shapes (n=1, all-equal revenue collapsing " +
      "the histogram to one band, ties, an exact-80% knife edge)") {
    import org.apache.spark.sql.expressions.Window
    val schema = StructType(Seq(
      StructField("o_custkey", LongType, nullable = false),
      StructField("o_totalprice", DoubleType, nullable = false)))
    val cases: Seq[Seq[(Long, Double)]] = Seq(
      Seq(1L -> 123.45),                               // single customer
      (1L to 50L).map(_ -> 10.0),                      // all equal → 1 band
      (1L to 40L).map(i => i -> ((i % 5) * 100.0 + 1.0)), // heavy ties
      Seq(1L -> 0.80, 2L -> 0.20),                     // cum/total == 0.8 exactly
      (1L to 200L).map(i => i -> (i * i % 997).toDouble / 100.0))
    for ((c, idx) <- cases.zipWithIndex) {
      val rows = c.map { case (k, p) => Row(k, p) }
      val dir = miniDir("orders", rows, schema)
      val got = SparkEntry.queries("q45")(spark, dir).collect().head
      // the naive construction the r12 version used, in exact cents
      val rev = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("o_custkey").agg(sum("cents").as("rev"))
      val w = Window.orderBy(col("rev").desc, col("o_custkey"))
      val want = rev
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("cum",
          sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(rev.agg(sum("rev").as("tot"), count(lit(1)).as("n")))
        .filter(col("cum") * 5 >= col("tot") * 4)
        .agg(min("rank").as("n80"), max("n").as("n")).collect().head
      assert(got.getLong(0) == want.getLong(0) &&
        got.getLong(1) == want.getLong(1),
        s"case $idx: got (${got.getLong(0)},${got.getLong(1)}), " +
          s"want (${want.getLong(0)},${want.getLong(1)})")
      assert(math.abs(got.getDouble(2) -
        want.getLong(0).toDouble / want.getLong(1)) < 5e-5, s"case $idx frac")
    }
  }

  test("q46: the funnel is STRICTLY ordered — a click before the first " +
      "view, or a purchase before the first qualifying click, does not " +
      "count; ties on the boundary timestamp do not count either (>)") {
    val schema = StructType(Seq(
      StructField("user_id", LongType, nullable = false),
      StructField("event_type", StringType, nullable = false),
      StructField("ts", TimestampType, nullable = false)))
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val rows = Seq(
      // u1: full funnel in order
      Row(1L, "view", t(0)), Row(1L, "click", t(1)), Row(1L, "purchase", t(2)),
      // u2: click BEFORE view — view counts, click does not
      Row(2L, "click", t(0)), Row(2L, "view", t(1)),
      // u3: purchase between view and click — only view+click count
      Row(3L, "view", t(0)), Row(3L, "purchase", t(1)), Row(3L, "click", t(2)),
      // u4: click at EXACTLY the view ts — strict > excludes it
      Row(4L, "view", t(0)), Row(4L, "click", t(0)),
      // u5: no view at all — enters no stage
      Row(5L, "click", t(0)), Row(5L, "purchase", t(1)))
    val dir = miniDir("events", rows, schema)
    val r = SparkEntry.queries("q46")(spark, dir).collect().head
    assert(r.getLong(0) == 4, s"n_view ${r.getLong(0)}")       // u1 u2 u3 u4
    // u1, and u3 (its click at t2 IS after its first view) — but u3's
    // purchase predates its qualifying click, so it never finishes
    assert(r.getLong(1) == 2, s"n_view_click ${r.getLong(1)}")
    assert(r.getLong(2) == 1, s"n_full_funnel ${r.getLong(2)}")
  }

  test("q47: single-event users emit no transitions, and equal timestamps " +
      "order by event_id so the matrix is deterministic") {
    val schema = StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("user_id", LongType, nullable = false),
      StructField("event_type", StringType, nullable = false),
      StructField("ts", TimestampType, nullable = false)))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val rows = Seq(
      Row(1L, 1L, "view", t0), Row(2L, 1L, "click", t0), // tie: id order
      Row(3L, 2L, "view", t0))                           // single event
    val dir = miniDir("events", rows, schema)
    val out = SparkEntry.queries("q47")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(("view", "click") -> 1L),
      s"only u1's id-ordered view→click transition must appear: $out")
  }

  test("d15: a shared 8-gram is flagged across documents, a within-doc " +
      "repeat alone is not, and short docs get 0/0/0.0 (the descending-" +
      "sequence guard)") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val span = "a b c d e f g h"                 // the shared 8 tokens
    val rows = Seq(
      Row(1L, "s", s"$span x y z"),              // span at pos 1 → flagged
      Row(2L, "s", s"p q r $span"),              // span at pos 4 → flagged
      Row(3L, "s", s"$span $span"),              // internal repeat + shared
      Row(4L, "s", "u v w m n o k1 k2 k3 u v w m n o k1 k2 k3"), // repeat ONLY within itself
      Row(5L, "s", "too short"))                 // 2 tokens → no grams
    val dir = miniDir("documents", rows, schema)
    val out = SparkEntry.queries("d15")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(5L) == (0L, 0L), "short doc must yield 0 grams, not a crash")
    assert(out(1L)._2 >= 1 && out(2L)._2 >= 1,
      s"the shared span must flag in both docs: $out")
    // doc 3 shares grams with 1 and 2 (the span occurs twice) — every
    // occurrence counts
    assert(out(3L)._2 >= 2, out(3L).toString)
    // doc 4's repeated trigram block collides with NO other document, and
    // distinct-(gh, doc) counting means self-repeats alone never flag
    assert(out(4L)._2 == 0L,
      s"within-doc repetition alone must not count as duplication: ${out(4L)}")
  }

  test("d19: a band-minima collision with ZERO shared shingles emits a " +
      "j_exact = 0 row (the estimate-only pair geometry audits depend on)") {
    // d19's calibration semantics hinge on keeping candidate pairs whose
    // exact Jaccard is 0 — they ARE the LSH false positives the abs_err
    // column measures. Manufacture one: "x y 13639" and "x y 46711" are an
    // md5-32 prefix collision (both hash to 1547047260, found by birthday
    // search), so as single-shingle documents ALL six band minima agree
    // while the shingle sets are disjoint. The left join from candidates
    // to the exact-intersection frame must coalesce the missing overlap to
    // 0, not drop the row.
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    val rows = Seq(
      Row(1L, "x y 13639", "en", "s", 9L),
      Row(2L, "x y 46711", "en", "s", 9L),
      Row(3L, "completely different tokens here", "en", "s", 32L))
    val dir = miniDir("documents", rows, schema)
    // d19 reads the shared calibration checkpoint (r20) — release the
    // mini-dir entry after so this test leaves no cached blocks behind
    val out = try SparkEntry.queries("d19")(spark, dir).collect()
    finally SharedFrames.release(spark, "minhash")
    val pair = out.filter(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(pair.length == 1, out.mkString("\n"))
    val r = pair.head
    assert(r.getLong(2) == 6L, s"all six bands must agree: $r")      // n_agree
    assert(r.getDouble(3) == 1.0, s"j_est: $r")                      // 6/6
    assert(r.getDouble(4) == 0.0, s"j_exact must be 0, not dropped: $r")
    assert(r.getDouble(5) == 1.0, s"abs_err: $r")
    // and no phantom pairs involving the unrelated doc
    assert(out.forall(p => p.getLong(0) != 3L && p.getLong(1) != 3L),
      out.mkString("\n"))
  }

  test("s06: a duplicate seed vector empties one cluster (tie-break to the " +
      "lower cid) and the empty cluster is absent from the output") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false),
        nullable = false),
      StructField("label", IntegerType, nullable = false)))
    def v(xs: Double*) = xs.map(_.toFloat)
    // seeds 0..7; seed 7 duplicates seed 0 exactly, so every vector near
    // that point assigns to cid 0 and cluster 7 ends empty
    val seeds = (0 until 8).map { i =>
      val base = if (i == 7) 0 else i
      Row(i.toLong, v(base.toDouble, base * 2.0, 1.0), i)
    }
    val extra = (8 until 20).map { i =>
      Row(i.toLong, v((i % 7).toDouble + 0.1, (i % 7) * 2.0, 1.0), 0)
    }
    val dir = miniDir("embeddings", seeds ++ extra, schema)
    val out = SparkEntry.queries("s06")(spark, dir).collect()
    val cids = out.map(_.getInt(0)).toSet
    assert(!cids.contains(7), s"cluster 7 must be empty (dup of seed 0): $cids")
    assert(cids.contains(0))
    // cluster sizes: n is constant across a cid's coordinates and sums to
    // the corpus size over distinct cids
    val sizes = out.groupBy(_.getInt(0)).map { case (cid, rs) =>
      val ns = rs.map(_.getLong(2)).toSet
      assert(ns.size == 1, s"cid $cid has inconsistent n: $ns")
      ns.head
    }
    assert(sizes.sum == 20L, sizes.toString)
  }

  test("w09: exact per-stratum quota — max(1, n/10) rows survive per " +
      "source, they are the hash-smallest, and a 1-doc stratum keeps its " +
      "one document (the greatest(1, ...) floor)") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("source", StringType, nullable = false)))
    // strata of size 1 (quota floor), 9 (div rounds to 0 -> floor), 25, 40
    val rows =
      Seq(Row(1000L, "one")) ++
        (1 to 9).map(i => Row(2000L + i, "nine")) ++
        (1 to 25).map(i => Row(3000L + i, "mid")) ++
        (1 to 40).map(i => Row(4000L + i, "big"))
    val dir = miniDir("documents", rows, schema)
    val out = SparkEntry.queries("w09")(spark, dir).collect()
    val bySrc = out.groupBy(_.getString(1))
    assert(bySrc("one").length == 1 && bySrc("nine").length == 1 &&
      bySrc("mid").length == 2 && bySrc("big").length == 4,
      bySrc.view.mapValues(_.length).toMap.toString)
    // survivors are exactly the quota smallest hashes of each stratum
    for ((src, kept) <- bySrc) {
      val all = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("source") === src)
        .select(graft.functions.TextFns.md5Hash32(
          col("doc_id").cast("string"), seed = 9).as("h"))
        .orderBy("h").collect().map(_.getLong(0)).toSeq
      val want = all.take(kept.length)
      assert(kept.map(_.getLong(2)).sorted.toSeq == want, src)
    }
  }

  test("d16: with a single centroid (one cluster) the output is the exact " +
      "brute-force pair semantics — partner counts and the lower-id keep " +
      "rule — and partner-free vectors are absent (implicitly kept)") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType, nullable = false)))
    // two similarity pairs (0,100) and (102,103) above tau=0.4, one
    // isolate (104). Centroids are the vectors with vec_id < k (k = 8
    // here), so vec_id 0 is the only one and every vector joins cid 0
    val rows = Seq(
      Row(0L, Seq(1f, 0f, 0f, 0f), 0),
      Row(100L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      Row(102L, Seq(0f, 1f, 0f, 0f), 0),
      Row(103L, Seq(0f, 0.9f, 0.2f, 0f), 0),
      Row(104L, Seq(0f, 0f, 1f, 0f), 0))
    val dir = miniDir("embeddings", rows, schema)
    val out = SparkEntry.queries("d16")(spark, dir)
      .orderBy("vec_id").collect()
    // (vec_id, n_partners, keep); cid is 0 for every row
    assert(out.map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq == Seq((0L, 1L, true), (100L, 1L, false),
        (102L, 1L, true), (103L, 1L, false)),
      out.mkString("\n"))
    assert(out.forall(_.getLong(0) == 0L), "single cluster expected")
  }

  test("s07: a query alone in its LSH bucket scores recall 0 (not an " +
      "absent row) while bucket-mates with full candidate sets score 1") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType, nullable = false)))
    // 8 dims = the full signBucket window. vec 0 is all-negative (bucket
    // 0, alone); vecs 1..7 all-positive variants (bucket 255 together).
    val rows = Row(0L, Seq.fill(8)(-1f), 0) +: (1L to 7L).map { i =>
      Row(i, (0 until 8).map(d => 1f + 0.01f * (i * 8 + d).toFloat), 0)
    }
    val dir = miniDir("embeddings", rows, schema)
    val out = SparkEntry.queries("s07")(spark, dir)
      .orderBy("q_id").collect()
    assert(out.length == 5, out.mkString("\n"))
    val recall = out.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(recall(0L) == 0.0, s"lone-bucket query: $recall")
    // every other query's bucket holds all its true neighbors: vec 0
    // ranks last in the exact arm (negative cosine), so exact top-3 ⊆
    // bucket 255 and recall is exactly 1
    assert((1L to 4L).forall(recall(_) == 1.0), recall.toString)
    assert(out.forall(_.getLong(1) == 3L), "k_exact must be 3 for all")
  }

  test("w11: an oversubscribed budget (source smaller than its share) " +
      "degrades to keep-everything for that source — never an error, and " +
      "cum_tokens stays the exact prefix sum") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("text", StringType, nullable = false)))
    // 'tiny' has 2 docs of 3 tokens each (6 ≪ its budget share);
    // 'big' has 40 docs of 8 tokens (320 tokens, budget-limited)
    val rows = Seq(
      Row(1L, "tiny", "a b c"), Row(2L, "tiny", "d e f")) ++
      (1L to 40L).map(i => Row(100L + i, "big", "t u v w x y z q"))
    val dir = miniDir("documents", rows, schema)
    val out = SparkEntry.queries("w11")(spark, dir).collect()
    val bySrc = out.groupBy(_.getString(1))
    // tiny keeps BOTH docs (cum 3, 6 vs a budget in the thousands)
    assert(bySrc("tiny").length == 2, bySrc.view.mapValues(_.length).toMap.toString)
    // big keeps at most budget/8 docs and every kept cum <= budget
    for (r <- out) assert(r.getLong(3) <= r.getLong(4),
      s"cum ${r.getLong(3)} > budget ${r.getLong(4)}")
  }

  test("t14: a single-source corpus has zero KL drift by definition — " +
      "every term is ln(1) and the fixed-point sum is exactly 0") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val rows = Seq(
      Row(1L, "only", "alpha beta gamma alpha"),
      Row(2L, "only", "beta gamma delta"))
    val dir = miniDir("documents", rows, schema)
    val out = SparkEntry.queries("t14")(spark, dir).collect()
    assert(out.length == 1 && out.head.getString(0) == "only")
    assert(out.head.getLong(1) == 7L && out.head.getLong(2) == 4L,
      out.head.toString)
    assert(out.head.getLong(3) == 0L,
      s"single-source KL must be exactly 0: ${out.head}")
  }

  test("d20 ensemble invariants on real data: vote count is the flag sum, " +
      "and every minhash-verified pair also carries the exact-ngram vote " +
      "(d02 ⊆ d04 — LSH only prunes candidates, never adds pairs)") {
    val out = SparkEntry.queries("d20")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val (votes, mh, sh, ng) =
        (r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5))
      assert(votes == mh + sh + ng, r.toString)
      assert(mh == 0 || ng == 1,
        s"minhash-verified pair missing its exact-ngram vote: $r")
    }
    SharedFrames.release(spark)
  }

  test("t15 confusion-matrix invariants on real data: per-class cells sum " +
      "to n_actual and per-class fracs sum to ~1") {
    val out = SparkEntry.queries("t15")(spark, "/root/testdata/sf0.001")
      .collect()
    val byActual = out.groupBy(_.getString(0))
    for ((lang, rows) <- byActual) {
      val nActual = rows.head.getLong(3)
      assert(rows.map(_.getLong(2)).sum == nActual, lang)
      val fracSum = rows.map(_.getDouble(4)).sum
      assert(math.abs(fracSum - 1.0) < 1e-3, s"$lang fracs sum to $fracSum")
    }
  }

  test("q43: a customer whose only order IS the corpus max date has " +
      "recency 0, and every segment verdict follows the integer gates") {
    val out = SparkEntry.queries("q43")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    assert(out.exists(_.getInt(1) == 0), "someone ordered on the max date")
    for (r <- out) {
      val (rec, freq, seg) = (r.getInt(1), r.getLong(2), r.getString(4))
      val want =
        if (rec <= 365 && freq >= 10) "champion"
        else if (rec <= 365) "active"
        else if (freq >= 10) "lapsed_loyal"
        else "dormant"
      assert(seg == want, r.toString)
    }
  }
}
