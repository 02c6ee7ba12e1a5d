package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.engine.SparkSpec

/** Unit pins for the LLM-data-pipeline operators on small literal data
  * (the sf0.01 oracle gate covers them at table scale; these pin the
  * algorithmic semantics on inputs small enough to eyeball).
  */
class DataPipelineSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("test"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("exactGroups: identical texts collapse to one group") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val g = Dedup.exactGroups(d).orderBy("representative").collect()
    assert(g.length == 2)
    assert(g.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((2L, 1L), (1L, 3L))) // (n_docs, representative)
  }

  test("shingles: word 3-grams, distinct, <3-token docs drop") {
    val d = docs(1L -> "a b c d", 2L -> "a b")
    val sh = Dedup.shingles(d).orderBy("doc_id", "shingle").collect()
    assert(sh.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a b c"), (1L, "b c d")))
  }

  test("lshBuckets: near-identical docs share buckets, disjoint docs don't") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog again today",
      2L -> "the quick brown fox jumps over the lazy dog again tomorrow",
      3L -> "completely different words entirely unrelated content here now")
    val buckets = Dedup.lshBuckets(d).collect()
    assert(buckets.nonEmpty)
    // every multi-doc bucket contains only the near-dup pair
    assert(buckets.forall(_.getString(3).split(",").toSet.subsetOf(Set("1", "2"))))
  }

  test("nearDupPairs: jaccard-verified pair with exact value") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog again today",
      2L -> "the quick brown fox jumps over the lazy dog again tomorrow",
      3L -> "completely different words entirely unrelated content here now")
    val pairs = Dedup.nearDupPairs(d).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    // 11 tokens each → 9 shingles; 8 shared → J = 8/(9+9-8) = 0.8
    assert(math.abs(pairs.head.getDouble(3) - 0.8) < 1e-12)
  }

  test("simhash: 16 hex chars, equal for equal text, stable") {
    val d = docs(1L -> "spark scala data", 2L -> "spark scala data",
      3L -> "other words here")
    val sig = Dedup.simhash(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sig.values.forall(_.matches("[0-9a-f]{16}")))
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  private def embs(rows: (Long, Seq[Float], Int)*) =
    rows.toDF("vec_id", "embedding", "label")

  test("cosineTopK: orthogonal/parallel vectors rank correctly") {
    val e = embs(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(2f, 0f, 0f, 0f), 0), // parallel to 0 → cosine 1
      (2L, Seq(0f, 1f, 0f, 0f), 1), // orthogonal → cosine 0
      (3L, Seq(1f, 1f, 0f, 0f), 0)) // 45° → ~0.7071
    val top = Similarity.cosineTopK(e, maxQid = 1, k = 3).collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(1L, 3L, 2L))
    assert(math.abs(top(0).getDouble(2) - 1.0) < 1e-9)
    assert(math.abs(top(1).getDouble(2) - math.sqrt(0.5)) < 1e-9)
    assert(math.abs(top(2).getDouble(2)) < 1e-9)
  }

  test("ivfTopK: probes only the nearest cluster") {
    val e = embs(
      (0L, Seq(1f, 0.1f, 0f, 0f), 0),
      (1L, Seq(1f, 0f, 0f, 0f), 0),
      (2L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (3L, Seq(0f, 1f, 0f, 0f), 1),
      (4L, Seq(0.1f, 1f, 0f, 0f), 1))
    val top = Similarity.ivfTopK(e, maxQid = 1, k = 5).collect()
    // query 0 probes cluster 0 → only vec 1 and 2 can appear
    assert(top.map(_.getLong(1)).toSet == Set(1L, 2L))
  }

  test("native cosine_sim_q expression matches the HOF spec bit-for-bit") {
    graft.functions.GraftFunctions.install(spark)
    val e = embs(
      (0L, Seq(0.3f, -0.7f, 0.21f, 0.001f), 0),
      (1L, Seq(-0.11f, 0.55f, 0.9f, -0.33f), 0),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.5f), 1))
    val pairs = e.as("a").crossJoin(e.as("b"))
      .where(col("a.vec_id") < col("b.vec_id"))
      .select(
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("native"),
        Similarity.cosineHof(col("a.embedding"), col("b.embedding")).as("hof"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}"))
  }

  test("native hex_prefix_long matches the instr/substr SQL chain") {
    graft.functions.GraftFunctions.install(spark)
    val d = docs((1L to 50L).map(i =>
      i -> s"text number $i with varied content"): _*)
    val r = d.select(md5(col("text").cast("binary")).as("h"))
      .select(
        graft.functions.HexPrefixLong(col("h"), 1).as("n1"),
        expr(Dedup.hexToLongSql("h", 1, "instr")).as("s1"),
        graft.functions.HexPrefixLong(col("h"), 9).as("n9"),
        expr(Dedup.hexToLongSql("h", 9, "instr")).as("s9"))
      .collect()
    assert(r.length == 50)
    r.foreach { x =>
      assert(x.getLong(0) == x.getLong(1))
      assert(x.getLong(2) == x.getLong(3))
    }
    // a string too short for the window surfaces as NULL, never a
    // plausible-looking number
    val short = d.limit(1)
      .select(graft.functions.HexPrefixLong(lit("abc"), 1).as("n"))
      .collect()
    assert(short.head.isNullAt(0))
  }

  test("native token_run_count matches regexp_count(lower, BPE pattern)") {
    graft.functions.GraftFunctions.install(spark)
    val texts = Seq(
      "", " ", "abc", "ABC", "a1b2", "123", "a.b,c!", "  leading space",
      "trailing  ", "MiXeD CaSe 42x", "!!!", "a\tb\nc\rd\fe",
      "hello, world! 99 bottles... of beer-on-the-wall",
      "digits123letters then- -then 00a00", "über café naïve", // 2-byte UTF-8
      "emoji 😀 mid", // 4-byte UTF-8 surrogate pair
      "vertical tab", // Java \s includes \x0B
      "punct)(*&^%$#@ runs")
    val d = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val r = d.select(col("id"), col("text"),
        graft.functions.TokenRunCount(col("text")).as("native"),
        expr("regexp_count(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]')")
          .cast("long").as("rx"))
      .collect()
    assert(r.length == texts.length)
    r.foreach { x =>
      assert(x.getLong(2) == x.getLong(3),
        s"text '${x.getString(1)}': native ${x.getLong(2)} != regex ${x.getLong(3)}")
    }
    // NULL in, NULL out
    val n = d.limit(1)
      .select(graft.functions.TokenRunCount(lit(null).cast("string")))
      .collect()
    assert(n.head.isNullAt(0))
  }

  test("native word_run_count matches size(tokens) exactly") {
    graft.functions.GraftFunctions.install(spark)
    val texts = Seq(
      "", " ", "   ", "a", " a ", "a b c", "a  b   c", "über café",
      "tab\tis not a separator", "nor\nnewline", "😀 emoji word",
      "trailing space ", " leading", "ab")
    val d = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val r = d.select(col("id"), col("text"),
        graft.functions.WordRunCount(col("text")).as("native"),
        size(Dedup.tokens(col("text"))).cast("long").as("arr"))
      .collect()
    r.foreach { x =>
      assert(x.getLong(2) == x.getLong(3),
        s"text '${x.getString(1)}': native ${x.getLong(2)} != array ${x.getLong(3)}")
    }
  }

  test("native min_k_hex_hashes matches the explode/window/sort SQL chain") {
    graft.functions.GraftFunctions.install(spark)
    val texts = Seq(
      "a b c",                                       // 1 shingle
      "a b c d e",                                   // 3 shingles
      "p q r s t u v w x y z p q r s t u v w x y z", // > k, with dups
      "x x x x x x",                                 // all-identical shingles
      "one two three four five six seven")
    val d = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), Dedup.tokens(col("text")).as("w"))
    val sqlForm = d
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(w) - 2), " +
          "i -> concat_ws(' ', slice(w, i, 3))))")).as("shingle"))
      .select(col("doc_id"), md5(col("shingle").cast("binary")).as("h"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("h"))))
      .where(col("r") <= 4)
      .groupBy(col("doc_id"))
      .agg(array_join(sort_array(collect_list(col("h"))), "").as("sql"))
    val r = d
      .select(col("doc_id"),
        graft.functions.MinKHexHashes(col("w"), 4).as("native"))
      .join(sqlForm, "doc_id")
      .collect()
    assert(r.length == texts.length)
    r.foreach { x =>
      assert(x.getString(1) == x.getString(2),
        s"doc ${x.getLong(0)}: native ${x.getString(1)} != sql ${x.getString(2)}")
    }
    // < 3 tokens → NULL
    val short = Seq((9L, "a b")).toDF("doc_id", "text")
      .select(graft.functions.MinKHexHashes(Dedup.tokens(col("text")), 4))
      .collect()
    assert(short.head.isNullAt(0))
  }

  test("cosine_sim_q accepts mixed float/double arrays without casting") {
    graft.functions.GraftFunctions.install(spark)
    val e = embs((0L, Seq(0.6f, 0.8f), 0))
      .withColumn("dbl", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    val r = e.select(
      Similarity.cosine(col("embedding"), col("dbl")).as("c")).collect()
    assert(math.abs(r.head.getDouble(0) - 1.0) < 1e-9)
  }

  test("embeddingNearDup: finds exact duplicates, skips unrelated vectors") {
    val e = embs(
      (0L, Seq(0.3f, -0.7f, 0.2f, 0.1f), 0),
      (1L, Seq(0.3f, -0.7f, 0.2f, 0.1f), 0), // exact dup of 0
      (2L, Seq(-0.5f, 0.5f, 0.5f, -0.5f), 1))
      .withColumn("embedding",
        expr("concat(embedding, array_repeat(CAST(0.0 AS FLOAT), 60))"))
    val pairs = Similarity.embeddingNearDup(e).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)))
    assert(math.abs(pairs.head.getDouble(2) - 1.0) < 1e-9)
  }

  test("textStats: token counts and ttr") {
    val d = docs(1L -> "a b a b c")
    val r = TextAnalysis.stats(d).collect().head
    assert(r.getAs[Long]("n_tokens") == 5)
    assert(r.getAs[Long]("n_distinct") == 3)
    assert(math.abs(r.getAs[Double]("ttr") - 0.6) < 1e-12)
    assert(r.getAs[String]("quality") == "poor") // < 20 tokens
  }

  test("fingerprint: k smallest shingle hashes, stable ordering") {
    val d = docs(1L -> "a b c d e f g h i j")
    val fp = TextAnalysis.fingerprint(d, k = 2).collect().head.getString(1)
    assert(fp.matches("[0-9a-f]{64}")) // 2 × 32-hex md5
    // recompute expected: two smallest md5s of the 8 shingles
    val toks = "a b c d e f g h i j".split(" ")
    val expected = toks.sliding(3).map(_.mkString(" "))
      .map { sh =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(sh.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }.toSeq.sorted.take(2).mkString("")
    assert(fp == expected)
  }

  test("media pipeline: real PNG encode/decode round-trips pixel values") {
    val d = docs(0L -> "x", 5L -> "y")
    val media = MediaPipeline.pngMediaFromDocs(d).collect()
    // the bytes are genuinely PNG (magic number), not a synthetic header
    val m0 = media.find(_.media_id == 0L).get
    assert(m0.data.take(4).map(_ & 0xff).toSeq == Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt))
    val decoded = MediaPipeline.decodeImage(
      MediaPipeline.pngMediaFromDocs(d)).collect()
    val d0 = decoded.find(_.media_id == 0L).get
    assert(d0.width == 16 && d0.height == 16 && d0.n_bytes == 256)
    // doc 0: gray(i) = (7i) mod 256 — check decode recovered the formula
    assert(d0.pixels.zipWithIndex.forall { case (p, i) =>
      (p & 0xff) == (i * 7) % 256
    })
    // doc 5: width 16+8=24, height 16+16=32
    val d5 = decoded.find(_.media_id == 5L).get
    assert(d5.width == 24 && d5.height == 32)
    assert(d5.pixels.zipWithIndex.forall { case (p, i) =>
      (p & 0xff) == ((5 * 31 + i * 7) % 256)
    })
  }

  test("media pipeline: real resize strides the decoded raster") {
    val d = docs(0L -> "x")
    val resized = MediaPipeline.resizeImage(
      MediaPipeline.decodeImage(MediaPipeline.pngMediaFromDocs(d)), 2)
      .collect()
    val r0 = resized.head
    assert(r0.width == 8 && r0.height == 8 && r0.pixels.length == 64)
    // doc 0 source pixel: gray(i) = (7i) mod 256 on a 16-wide raster;
    // nearest-neighbor ÷2 keeps src index 2y*16 + 2x
    assert(r0.pixels.zipWithIndex.forall { case (p, j) =>
      val (x, y) = (j % 8, j / 8)
      (p & 0xff) == ((y * 2 * 16 + x * 2) * 7) % 256
    })
  }

  test("media pipeline: GVID container demux samples before decoding") {
    val d = docs(0L -> "x", 1L -> "y")
    val media = MediaPipeline.videoMediaFromDocs(d).collect()
    val m0 = media.find(_.media_id == 0L).get
    // container leads with the GVID magic, then dims + frame count
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(m0.data))
    assert(in.readInt() == 0x47564944)
    assert(in.readInt() == 8 && in.readInt() == 8 && in.readInt() == 6)
    // every stored frame is a REAL PNG (magic number)
    val len0 = in.readInt()
    val f0 = new Array[Byte](len0); in.readFully(f0)
    assert(f0.take(4).map(_ & 0xff).toSeq ==
      Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt))

    val frames = MediaPipeline.demuxVideo(
      MediaPipeline.videoMediaFromDocs(d), stride = 2).collect()
    // doc 0: nf=6 -> sampled frames 0,2,4; doc 1: nf=7 -> 0,2,4,6
    assert(frames.filter(_.media_id == 0L).map(_.frame_idx).sorted.toSeq ==
      Seq(0, 2, 4))
    assert(frames.filter(_.media_id == 1L).map(_.frame_idx).sorted.toSeq ==
      Seq(0, 2, 4, 6))
    // decoded pixels recover the generating formula for a non-zero frame
    val fr2 = frames.find(f => f.media_id == 1L && f.frame_idx == 2).get
    assert(fr2.width == 16 && fr2.height == 12 && fr2.n_frames == 7)
    assert(fr2.pixels.zipWithIndex.forall { case (p, i) =>
      (p & 0xff) == ((1 * 31 + 2 * 13 + i * 7) % 256)
    })
  }

  test("redactPii scrubs emails/phones/ips and counts them") {
    val d = docs(
      1L -> "mail a.b+c@sub.example.org then call +1-415-555-0199 via 10.0.0.7 done",
      2L -> "no pii here, just 1.5 and v2.0.1 and a@b (not an email)")
    val out = TextAnalysis.redactPii(d).collect()
    val r1 = out.find(_.getAs[Long]("doc_id") == 1L).get
    assert(r1.getAs[Long]("n_emails") == 1L)
    assert(r1.getAs[Long]("n_phones") == 1L)
    assert(r1.getAs[Long]("n_ips") == 1L)
    assert(r1.getAs[String]("redacted") ==
      "mail [EMAIL] then call [PHONE] via [IP] done")
    val r2 = out.find(_.getAs[Long]("doc_id") == 2L).get
    // version strings and bare a@b must NOT trip the patterns
    assert(r2.getAs[Long]("n_emails") == 0L)
    assert(r2.getAs[Long]("n_phones") == 0L)
    assert(r2.getAs[Long]("n_ips") == 0L)
    assert(r2.getAs[String]("redacted") ==
      "no pii here, just 1.5 and v2.0.1 and a@b (not an email)")
  }

  test("packSequences chunks the concatenated token stream at the budget") {
    // one shard so order is pure doc_id; token counts 3,4,2,5, budget 5:
    // exclusive offsets 0,3,7,9 -> chunks 0,0,1,1 (doc 2 straddles the
    // boundary and belongs to the chunk it STARTS in)
    val d = docs(1L -> "a b c", 2L -> "d e f g", 3L -> "h i",
      4L -> "j k l m n")
    val out = TextAnalysis.packSequences(d, budget = 5, shards = 1).collect()
    assert(out.length == 2)
    val s0 = out.find(_.getAs[Long]("seq_in_shard") == 0L).get
    assert(s0.getAs[Long]("n_docs") == 2L &&
      s0.getAs[Long]("seq_tokens") == 7L &&
      s0.getAs[Long]("first_doc") == 1L && s0.getAs[Long]("last_doc") == 2L)
    val s1 = out.find(_.getAs[Long]("seq_in_shard") == 1L).get
    assert(s1.getAs[Long]("n_docs") == 2L &&
      s1.getAs[Long]("seq_tokens") == 7L &&
      s1.getAs[Long]("first_doc") == 3L && s1.getAs[Long]("last_doc") == 4L)
  }

  test("contaminated flags trigram overlap with the benchmark set only") {
    val d = docs(
      10L -> "alpha beta gamma delta",        // benchmark
      1L -> "x alpha beta gamma y",           // shares "alpha beta gamma"
      2L -> "p q r s t u")                    // clean
    val out = TextAnalysis.contaminated(d, col("doc_id") === 10L).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("doc_id") == 1L)
    assert(r.getAs[Long]("n_shared_shingles") == 1L)
    assert(r.getAs[Long]("n_benchmarks_hit") == 1L)
  }

  test("repetition flags high duplicate-bigram fraction") {
    val d = docs(1L -> "a b a b a b", 2L -> "a b c d")
    val out = TextAnalysis.repetition(d).collect()
    val r1 = out.find(_.getAs[Long]("doc_id") == 1L).get
    // bigrams: "a b" x3, "b a" x2 -> 5 total, 2 distinct, dup 3/5
    assert(r1.getAs[Long]("n_bigrams") == 5L)
    assert(r1.getAs[Long]("n_distinct_bigrams") == 2L)
    assert(r1.getAs[Long]("top_bigram_n") == 3L)
    assert(r1.getAs[Double]("dup_bigram_frac") == 0.6)
    assert(r1.getAs[String]("flag") == "repetitive")
    val r2 = out.find(_.getAs[Long]("doc_id") == 2L).get
    assert(r2.getAs[Double]("dup_bigram_frac") == 0.0)
    assert(r2.getAs[String]("flag") == "ok")
  }

  test("nearDupClusters: collapsed form equals the direct pair-graph CC " +
      "on a dup-rich corpus") {
    // exercises every collapse case: a 3-member exact group whose rep
    // near-dups a second group, a dup group of short (<3-token) texts
    // that must stay excluded, an unpaired multi-member exact group
    // (within-group clique only), and singletons
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog again today",
      4L -> "the quick brown fox jumps over the lazy dog again today",
      9L -> "the quick brown fox jumps over the lazy dog again today",
      2L -> "the quick brown fox jumps over the lazy dog again tomorrow",
      7L -> "the quick brown fox jumps over the lazy dog again tomorrow",
      3L -> "completely different words entirely unrelated content here now",
      5L -> "too short",
      6L -> "too short",
      8L -> "isolated exact pair of documents sharing all their words",
      10L -> "isolated exact pair of documents sharing all their words")
    // the pre-r17 direct form: CC over the full verified pair graph
    val direct = Dedup.connectedComponents(
      Dedup.nearDupPairs(d).select(col("a"), col("b")))
      .orderBy("doc_id").collect().toSeq
    val collapsed = Dedup.nearDupClusters(d).collect().toSeq
    assert(collapsed == direct)
    // and the expected shape: {1,4,9,2,7} min-labeled 1, {8,10} at 8;
    // short-text dups and the singleton are absent
    val m = collapsed.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m.keySet == Set(1L, 2L, 4L, 7L, 9L, 8L, 10L))
    assert(Seq(1L, 2L, 4L, 7L, 9L).forall(m(_) == (1L, 5L)))
    assert(m(8L) == (8L, 2L) && m(10L) == (8L, 2L))
  }

  test("lshBuckets: collapsed form equals the direct minhash rollup " +
      "on a dup-rich corpus") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog again today",
      4L -> "the quick brown fox jumps over the lazy dog again today",
      2L -> "the quick brown fox jumps over the lazy dog again tomorrow",
      5L -> "too short",
      6L -> "too short",
      3L -> "completely different words entirely unrelated content here now")
    val direct = Dedup.minhash(d)
      .groupBy(col("band"), col("minhash"))
      .agg(count(lit(1)).as("n_docs"),
        array_join(transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string")), ",").as("docs"))
      .where(col("n_docs") > 1)
      .orderBy("band", "minhash").collect().toSeq
    val collapsed = Dedup.lshBuckets(d)
      .orderBy("band", "minhash").collect().toSeq
    assert(collapsed == direct)
    // exact dups 1/4 share every bucket; short-text dups appear in none
    assert(direct.nonEmpty)
    assert(direct.forall(r => !r.getString(3).split(",").contains("5")))
  }

  test("connectedComponents labels transitive chains by component min") {
    val s = spark
    import s.implicits._
    // chain 1-2-3 (1 and 3 never share an edge) + isolated pair 7-5:
    // transitivity must still pull 3 into cluster 1, and the min label
    // wins regardless of pair orientation
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 5L)).toDF("a", "b")
    val out = graft.operators.Dedup.connectedComponents(pairs)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("cluster"), r.getAs[Long]("cluster_size"))))
      .toMap
    assert(out(1L) == (1L, 3L) && out(2L) == (1L, 3L) && out(3L) == (1L, 3L))
    assert(out(5L) == (5L, 2L) && out(7L) == (5L, 2L))
  }

  test("connectedComponents throws rather than return non-converged labels") {
    val s = spark
    import s.implicits._
    // maxIter=1 cannot certify a fixpoint on a graph that needs any
    // contraction at all — the silent-wrong-answer path must throw
    val chain = (1L to 6L).sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      graft.operators.Dedup.connectedComponents(chain, maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // and with enough rounds the same graph converges to one component
    val ok = graft.operators.Dedup.connectedComponents(chain, maxIter = 10)
      .collect()
    assert(ok.forall(_.getAs[Long]("cluster") == 1L))
  }

  test("connectedComponents converges on a 1000-node path graph") {
    val s = spark
    import s.implicits._
    // adversarial diameter: min-label propagation needs 999 rounds here
    // and previously threw; star contraction converges in O(log n)
    // rounds within the default budget
    val path = (1L to 1000L).sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("a", "b")
    val out = graft.operators.Dedup.connectedComponents(path).collect()
    assert(out.length == 1000)
    assert(out.forall(_.getAs[Long]("cluster") == 1L))
    assert(out.forall(_.getAs[Long]("cluster_size") == 1000L))
  }

  test("training-corpus minTokens below 2 keeps 0/1-token docs (left-join " +
    "quality stage)") {
    val d = docs(
      1L -> "solo",                                     // 1 token
      2L -> "",                                         // 0 tokens
      3L -> "a perfectly ordinary document with words") // control
    val (corpus, _) = graft.operators.TrainingCorpus.build(
      d, isBenchmark = lit(false), minTokens = 0)
    // repetition() never scores docs with < 2 tokens; the quality stage
    // must not let that inner-join artifact impose a hidden 2-token floor
    assert(corpus.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
    val (corpus1, _) = graft.operators.TrainingCorpus.build(
      d, isBenchmark = lit(false), minTokens = 1)
    assert(corpus1.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L))
  }

  test("bpePairs counts adjacent token pairs with an exact top-k order") {
    val d = docs(1L -> "a b a b", 2L -> "a b", 3L -> "solo")
    val out = TextAnalysis.bpePairs(d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // doc1 pairs: (a,b) (b,a) (a,b); doc2: (a,b); doc3: none
    assert(out.toSeq == Seq(("a", "b", 3L), ("b", "a", 1L)))
    val top1 = TextAnalysis.bpePairs(d, topK = 1).collect()
    assert(top1.length == 1 && top1.head.getString(0) == "a")
  }

  test("stratifiedSample keeps exactly the md5 buckets under each rate") {
    val d = docs((1L to 200L).map(i =>
      i -> s"doc number $i"): _*)
      .withColumn("lang", when(col("doc_id") % 2 === 0, "en").otherwise("de"))
    // recompute the content-stable bucket independently of Spark
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"s:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 100
    }
    val expected = (1L to 200L).filter { i =>
      bucket(i) < (if (i % 2 == 0) 10 else 30)
    }.toSet
    val got = TextAnalysis.stratifiedSample(d).collect()
      .map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("transitions counts consecutive per-user pairs with P(to|from)") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, 100L, 1L, "view"), (2L, 200L, 1L, "click"),
      (3L, 300L, 1L, "view"),
      (4L, 100L, 2L, "click"), // single event: no transition
      (5L, 400L, 1L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.operators.EventFunnel.transitions(ev).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // user 1 sequence: view→click→view→click
    assert(out(("view", "click")) == (2L, 1.0))
    assert(out(("click", "view")) == (1L, 1.0))
    assert(out.size == 2)
  }

  test("containmentPairs flags the embedded doc, not the container") {
    val d = docs(
      1L -> "a b c d e f", // shingles: abc bcd cde def
      2L -> "a b c d",     // shingles: abc bcd — fully contained in 1
      3L -> "x y z w")     // unrelated
    val out = graft.operators.Dedup.containmentPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // containment(2 in 1) = 2/2 = 1.0; containment(1 in 2) = 2/4 = 0.5
    // stays under the 0.8 threshold — asymmetry is the point
    assert(out.toSeq == Seq((2L, 1L, 2L, 1.0)))
  }

  test("bigramCoverage scores docs against the top-k bigram vocabulary") {
    val d = docs(1L -> "a b a b", 2L -> "a b c")
    // corpus counts: (a,b)=3, (b,a)=1, (b,c)=1 → top-1 vocab = {(a,b)}
    val out = TextAnalysis.bigramCoverage(d, vocabK = 1).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == (3L, 2L, 2.0 / 3))
    assert(out(2L) == (2L, 1L, 0.5))
  }

  test("sourceOverlap counts distinct shingles shared per source pair") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a b c d", "srcA"), // shingles: abc, bcd
      (2L, "a b c", "srcB"),   // shingles: abc
      (3L, "x y z", "srcB"),   // shingles: xyz (unshared)
      (4L, "a b c", "srcA"))   // dup shingle within A — distinct collapses
      .toDF("doc_id", "text", "source")
    val out = graft.operators.TextAnalysis.sourceOverlap(d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(("srcA", "srcB", 1L)))
  }

  test("dailyAnomalies flags days above the exact 1.15x-average cut") {
    val s = spark
    import s.implicits._
    val day = 86400L * 1000000000L
    val ev = Seq(
      // type x: day 0 has 3 events, day 1 has 1 → avg 2, cut 2.3
      (1L, 0L, 1L, "x"), (2L, 1L, 1L, "x"), (3L, 2L, 1L, "x"),
      (4L, day, 1L, "x"),
      // type y: single day can never beat its own average
      (5L, 0L, 2L, "y"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.operators.EventFunnel.dailyAnomalies(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(("x", 0L, 3L, 2.0)))
  }

  test("quotaSample takes exactly N per stratum in md5 order") {
    val d = docs((1L to 7L).map(i => i -> s"doc $i"): _*)
      .withColumn("lang", when(col("doc_id") <= 5L, "en").otherwise("de"))
    def key(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"q:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    def quota(ids: Seq[Long], lang: String) =
      ids.sortBy(i => (key(i), i)).take(2).zipWithIndex
        .map { case (i, ix) => (lang, i, ix + 1L) }
    val expected = quota(Seq(6L, 7L), "de") ++ quota(1L to 5L, "en")
    val out = TextAnalysis.quotaSample(d, perStratum = 2).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    assert(out.toSeq == expected)
  }

  test("rareTerms ranks each doc's tokens by ascending corpus df") {
    val d = docs(1L -> "a b c", 2L -> "a b", 3L -> "a")
    val out = TextAnalysis.rareTerms(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "c", 1L, 1L), (1L, "b", 2L, 2L), (1L, "a", 3L, 3L),
      (2L, "b", 2L, 1L), (2L, "a", 3L, 2L),
      (3L, "a", 3L, 1L)))
  }

  test("hybridTopK ranks only corpus vectors passing the metadata filter") {
    val s = spark
    import s.implicits._
    val e = embs(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),  // query
      (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f), 0),  // en, close
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 0),  // en, orthogonal
      (4L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0))  // identical but filtered out
    val d = Seq((1L, "q", "en"), (2L, "x", "en"),
      (3L, "y", "en"), (4L, "z", "de"))
      .toDF("doc_id", "text", "lang")
    val out = graft.operators.Similarity
      .hybridTopK(e, d, maxQid = 2, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // vec 4 would be the perfect match but fails the lang filter
    assert(out.toSeq == Seq((1L, 2L, 1L), (1L, 3L, 2L)))
  }

  test("sessionFeatures emits per-session rows with exact value sums") {
    val s = spark
    import s.implicits._
    val ns = 1000000000L
    val ev = Seq(
      (1L, 0L * ns, 1L, "view", 1.5),
      (2L, 100L * ns, 1L, "click", 2.25),
      (3L, 5000L * ns, 1L, "view", 0.5), // gap > 1800s → new session
      (4L, 0L * ns, 2L, "view", 10.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = graft.operators.EventFunnel.sessionFeatures(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (1L, 1L, 2L, 100L, 3.75),
      (1L, 2L, 1L, 0L, 0.5),
      (2L, 1L, 1L, 0L, 10.0)))
  }

  test("embeddingQc reports per-label dim bounds and quantized norms") {
    val e = embs(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Seq(2.0f, 0.0f, 0.0f, 0.0f), 0),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 1))
    val out = graft.operators.Similarity.embeddingQc(e).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(out(0) == (2L, 4L, 4L, 1.0, 4.0, 2.5))
    assert(out(1) == (1L, 4L, 4L, 1.0, 1.0, 1.0))
  }

  test("incrementalStatus classifies a batch as exact/near/novel") {
    val twenty = (0 until 20).map(i => s"tok$i")
    val existing = docs(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> twenty.mkString(" "),
      3L -> "completely unrelated existing content lives here now")
    val batch = docs(
      10L -> "the quick brown fox jumps over the lazy dog tonight", // exact
      11L -> (twenty.dropRight(1) :+ "tokX").mkString(" "),         // near
      12L -> "a brand new document nothing has ever seen before")   // novel
    val out = graft.operators.Dedup.incrementalStatus(batch, existing)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(10L -> "exact_dup", 11L -> "near_dup",
      12L -> "novel"))
  }

  test("lengthDeciles cuts the total (n_chars, doc_id) order into tenths") {
    val d = docs((1L to 20L).map(i => i -> ("x" * i.toInt)): _*)
    val out = TextAnalysis.lengthDeciles(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 20 docs with n_chars = 1..20 → each decile holds 2, bounds exact
    assert(out.toSeq == (1L to 10L).map(dec =>
      (dec, 2L, dec * 2 - 1, dec * 2)))
  }

  test("lengthDeciles matches SQL NTILE sizing when n is not divisible") {
    // n=13: NTILE(10) puts ceil sizes first — 2,2,2,1,1,1,1,1,1,1
    val d = docs((1L to 13L).map(i => i -> ("x" * i.toInt)): _*)
    val out = TextAnalysis.lengthDeciles(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = Seq(
      (1L, 2L, 1L, 2L), (2L, 2L, 3L, 4L), (3L, 2L, 5L, 6L)) ++
      (4L to 10L).map(dec => (dec, 1L, dec + 3, dec + 3))
    assert(out.toSeq == expected)
  }

  test("dupRateBySource measures exact-dup share per source") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "same text", "mirror"), (2L, "same text", "mirror"),
      (3L, "other text", "mirror"),
      (4L, "clean one", "fresh"), (5L, "clean two", "fresh"),
      // null-text docs must NOT count as duplicates of each other —
      // countDistinct(md5(text)) ignores them, so the denominator must too
      (6L, null, "fresh"), (7L, null, "fresh"))
      .toDF("doc_id", "text", "source")
    val out = graft.operators.TextAnalysis.dupRateBySource(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.toSeq == Seq(
      ("fresh", 2L, 2L, 2L, 0.0),
      ("mirror", 3L, 0L, 2L, 1.0 / 3)))
  }

  test("splitContamination: identical texts leak fully, unique texts not at all") {
    // same text everywhere → every eval doc is an exact dup of train and
    // every eval shingle ("a b c", "b c d") exists in train
    val same = docs((1L to 200L).map(i => i -> "a b c d"): _*)
    val leakyBySplit = TextAnalysis.splitContamination(same).collect()
      .map(r => r.getString(0) -> r).toMap
    val splitsOf = TextAnalysis.withSplit(same)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (s <- Seq("test", "val")) {
      val r = leakyBySplit(s)
      assert(r.getLong(1) == splitsOf(s)) // n_docs
      assert(r.getLong(2) == splitsOf(s)) // all exact dups of train
      assert(r.getLong(3) == 2L && r.getLong(4) == 2L) // both shingles leak
      assert(r.getDouble(5) == 1.0)
    }
    // disjoint vocabularies → zero leakage
    val unique = docs((1L to 200L).map(i =>
      i -> s"u${i}a u${i}b u${i}c u${i}d"): _*)
    TextAnalysis.splitContamination(unique).collect().foreach { r =>
      assert(r.getLong(2) == 0L && r.getLong(4) == 0L)
      assert(r.getDouble(5) == 0.0)
    }
  }

  test("langReport aggregates exact char/token totals per language") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "one two", "en", "srcA"),
      (2L, "three four five", "en", "srcB"),
      (3L, "eins  zwei", "de", "srcA")) // double space: empty tokens drop
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextAnalysis.langReport(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(out.toSeq == Seq(
      ("de", 1L, 1L, 10L, 2L, 10.0, 2.0),
      ("en", 2L, 2L, 22L, 5L, 11.0, 2.5)))
  }

  test("topDuplicatedTexts ranks exact-dup groups by copy count") {
    val d = docs(
      1L -> "thrice", 2L -> "thrice", 3L -> "thrice",
      4L -> "twice", 5L -> "twice",
      6L -> "once")
    val out = TextAnalysis.topDuplicatedTexts(d).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((3L, 1L), (2L, 4L))) // singles excluded
  }

  test("topDuplicatedTexts prefixLen groups on openings, not full text") {
    val d = docs(
      1L -> "SHARED HEADER then tail one",
      2L -> "SHARED HEADER then tail two",
      3L -> "SHARED HEADER then tail three",
      4L -> "unique opening four")
    // no exact dups at all...
    assert(TextAnalysis.topDuplicatedTexts(d).count() == 0L)
    // ...but a 13-char prefix fingerprint groups the shared opening
    val out = TextAnalysis.topDuplicatedTexts(d, prefixLen = 13).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((3L, 1L)))
    // prefixLen past the longest text degenerates to exact grouping
    assert(TextAnalysis.topDuplicatedTexts(d, prefixLen = 999).count() == 0L)
  }

  test("samplingWeights up-weights low-resource languages at alpha=0.5") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "one two three four five", "en", "srcA"),
      (2L, "six seven eight nine", "en", "srcA"),
      (3L, "zehn", "de", "srcB")) // en: 9 tokens, de: 1 token
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextAnalysis.samplingWeights(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    // w = floor(sqrt(tokens)*1e6 + 0.5): de = 1e6, en = 3e6
    assert(out(0) == ("de", 1L, 1L, 1000000L, 0.1, 0.25, 0.25 / 0.1))
    assert(out(1) == ("en", 2L, 9L, 3000000L, 0.9, 0.75, 0.75 / 0.9))
    // sqrt-temperature sampling boosts the low-resource language
    assert(out(0)._7 > 1.0 && out(1)._7 < 1.0)
  }

  test("clusterSizeHistogram counts clusters and docs per size") {
    val d = docs(
      1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> "alpha beta gamma delta",
      4L -> "epsilon zeta eta theta", 5L -> "epsilon zeta eta theta",
      6L -> "iota kappa lambda mu") // singleton: not a cluster
    val out = Dedup.clusterSizeHistogram(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((2L, 1L, 2L), (3L, 1L, 3L)))
  }

  test("lshCalibration: identical docs share all 8 bands at jaccard 1.0") {
    val d = docs(
      1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> "epsilon zeta eta theta", 4L -> "epsilon zeta eta theta",
      5L -> "iota kappa lambda mu")
    val out = Dedup.lshCalibration(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(out.toSeq == Seq((8L, 2L, 1.0, 1.0, 1.0)))
  }

  test("clusterRepresentatives keeps the longest copy, min-id tiebreak") {
    val twenty = (0 until 20).map(i => s"tok$i")
    val d = docs(
      1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> twenty.mkString(" "),
      4L -> (twenty :+ "extra").mkString(" "), // superset near-dup, longer
      5L -> "iota kappa lambda mu") // singleton: absent from the output
    val out = Dedup.clusterRepresentatives(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(out.toSeq == Seq(
      (1L, 1L, 2L, 1L, "keep"), // equal lengths -> min doc_id wins
      (2L, 1L, 2L, 1L, "drop"),
      (3L, 3L, 2L, 4L, "drop"), // 4 is the longer copy
      (4L, 3L, 2L, 4L, "keep")))
  }

  test("centroidCosine: orthogonal labels 0, 45-degree labels 1/sqrt(2)") {
    val e = embs(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(3f, 0f, 0f, 0f), 0), // label-0 centroid = (2, 0, 0, 0)
      (2L, Seq(0f, 2f, 0f, 0f), 1),
      (3L, Seq(1f, 1f, 0f, 0f), 2))
    val out = Similarity.centroidCosine(e).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val inv = 2.0e12 / (math.sqrt(4.0e12) * math.sqrt(2.0e12))
    assert(out.toSeq == Seq((0, 1, 0.0), (0, 2, inv), (1, 2, inv)))
  }

  test("vocabGrowth: 100% row is the full corpus; curve is monotone") {
    val d = docs((1L to 120L).map(i =>
      i -> s"common w${i % 9} w${i % 4} unique$i"): _*)
    val rows = TextAnalysis.vocabGrowth(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(10L, 25L, 50L, 100L))
    // the 100% row equals exact whole-corpus counts: 120 unique$i +
    // "common" + w0..w8 (w{i%4} values are a subset of w{i%9}'s)
    assert(rows.last == ((100L, 120L, 480L, 130L)))
    // nested subsets: every count is non-decreasing in pct
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4)
    }
  }

  test("tokenBudgetPlan allocates floor(budget * prob) per language") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "one two three four five", "en", "srcA"),
      (2L, "six seven eight nine", "en", "srcA"),
      (3L, "zehn", "de", "srcB")) // en: 9 tokens, de: 1 token
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextAnalysis.tokenBudgetPlan(d, budget = 1000L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4)))
    // probs: de sqrt(1)/4 = 0.25, en sqrt(9)*1e6/4e6 = 0.75
    assert(out.toSeq == Seq(
      ("de", 1L, 0.25, 250L, 250.0),
      ("en", 9L, 0.75, 750L, 750.0 / 9)))
  }

  test("oovBySource counts tokens outside the top-k vocabulary cut") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a a a b b rare1", "en", "clean"),
      (2L, "a b a b a b", "en", "clean"),
      (3L, "rare2 rare3 a", "en", "noisy"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    // vocab cut at k=2 by (cf desc, token): a (7), b (5)
    val out = TextAnalysis.oovBySource(d, vocabK = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("clean", 12L, 1L, 1.0 / 12),
      ("noisy", 3L, 2L, 2.0 / 3)))
  }

  test("quantizeInt8 codes hit the int8 range with round-half-up") {
    val d = embs((1L, Seq(1.0f, -0.5f, 0.25f, 0.0f), 0))
    val r = Similarity.quantizeInt8(d).collect().head
    // scale = 1/127; codes: 127, floor(-63.5+0.5) = -63, floor(32.25) = 32, 0
    assert(r.getAs[Long]("n_dims") == 4L)
    assert(r.getAs[Double]("scale") == 1.0 / 127)
    assert(r.getAs[Long]("sum_q") == 127L - 63L + 32L)
    assert(r.getAs[Long]("max_q") == 127L)
    // max|x| reconstructs exactly, so the error is strictly below the
    // half-step bound (scale/2)^2 per element * 1e12 * n
    assert(r.getAs[Long]("recon_err_pico") >= 0L &&
      r.getAs[Long]("recon_err_pico") < 4L * 16L * 1000000L)
  }

  test("demuxVideo rejects non-GVID bytes with a descriptive error") {
    val s = spark
    import s.implicits._
    val bad = Seq(graft.operators.MediaPipeline.MediaRecord(
      9L, "video", "video/x-graft-gvid", 8, 8,
      Array[Byte](1, 2, 3, 4, 5, 6, 7, 8))).toDS()
    val ex = intercept[org.apache.spark.SparkException] {
      graft.operators.MediaPipeline.demuxVideo(bad).collect()
    }
    val msg = Option(ex.getCause).map(_.getMessage).getOrElse(ex.getMessage)
    assert(msg.contains("media_id=9") && msg.contains("not a GVID"))
  }

  test("chunkDocuments slides with overlap and never emits contained tails") {
    val d = docs(1L -> (0 until 10).map(i => s"t$i").mkString(" "))
    val out = TextAnalysis.chunkDocuments(d, chunkTokens = 4, overlap = 2)
      .collect()
    // stride 2 over 10 tokens: ceil((10-2)/2) = 4 chunks; a naive
    // ceil(n/stride) would emit a 5th chunk [8,10) fully inside [6,10)
    assert(out.length == 4)
    assert(out.map(_.getAs[Long]("start_tok")).toSeq == Seq(0L, 2L, 4L, 6L))
    assert(out.forall(_.getAs[Long]("n_toks") == 4L))
    assert(out(1).getAs[String]("chunk_text") == "t2 t3 t4 t5")
    assert(out(3).getAs[String]("chunk_text") == "t6 t7 t8 t9")
  }

  test("corpus writer lays out hive partitions with bounded files") {
    val d = docs((1L to 40L).map(i =>
      i -> s"doc $i ${if (i % 2 == 0) "even" else "odd"}"): _*)
      .withColumn("lang",
        when(col("doc_id") % 2 === 0, "en").otherwise("de"))
    val out = java.nio.file.Files.createTempDirectory("corpus").toString
    val written = graft.operators.CorpusWriter.writePartitioned(
      d, out, partitionCols = Seq("lang"), maxRecordsPerFile = 5)
    assert(written == 40L)
    // hive-style partition dirs exist for both languages
    val dirs = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(dirs.contains("lang=en") && dirs.contains("lang=de"))
    // the per-file record cap holds: 20 rows per lang / 5 => >= 4 files,
    // and no parquet file exceeds the cap
    val s = spark
    val back = s.read.parquet(out)
    assert(back.count() == 40L)
    val perFile = back
      .select(col("doc_id"),
        org.apache.spark.sql.functions.input_file_name().as("f"))
      .groupBy("f").count().collect()
    assert(perFile.forall(_.getAs[Long]("count") <= 5L))
    assert(perFile.length >= 8)
    // round trip preserves the rows (content-stable layout, no loss)
    assert(back.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 40L))
  }

  test("dedupBlockingPlan: k=0 default switches to two-level at the " +
      "measured crossover") {
    import graft.operators.Similarity
    // below the threshold: single-level at k ~ sqrt(n/2)
    assert(Similarity.dedupBlockingPlan(100L) == Left(8)) // floor
    assert(Similarity.dedupBlockingPlan(19999L) ==
      Left(math.ceil(math.sqrt(19999 / 2.0)).toInt))
    // at/above: two-level at k1 = k2 ~ n^(1/3)
    assert(Similarity.dedupBlockingPlan(20000L) ==
      Right(math.ceil(math.cbrt(20000.0)).toInt))
    assert(Similarity.dedupBlockingPlan(400000L) == Right(74))
    // the q122 contract is untouched: an explicit k pins single-level
    // (checked by the gate itself; here just the threshold constant)
    assert(Similarity.TwoLevelAutoThreshold == 20000L)
  }

  test("CacheRegistry.release drops every engine-persisted frame") {
    val s = spark
    import s.implicits._
    val ev = Seq((1L, 10L, 7L, "view", 1.0), (2L, 20L, 7L, "view", 1.0))
      .toDF("event_id", "sec", "user_id", "event_type", "value")
      .select(col("event_id"), expr("timestamp_seconds(sec)").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    // interArrival trackedPersists its gap count table; materialize it
    val ia = EventFunnel.interArrival(ev)
    assert(ia.collect().nonEmpty)
    assert(graft.operators.CacheRegistry.size >= 1)
    graft.operators.CacheRegistry.release()
    assert(graft.operators.CacheRegistry.size == 0)
    // the released frames really are un-cached (storageLevel NONE is
    // observable per-frame without racing other suites' caches), and a
    // fresh invocation re-persists and re-registers — release is safe
    // mid-session, not a one-shot
    val ia2 = EventFunnel.interArrival(ev)
    assert(ia2.collect().nonEmpty)
    assert(graft.operators.CacheRegistry.size >= 1)
    // registrations are canonicalized-plan-keyed (ADVICE r10): the
    // SAME (corpus, parameters) called again holds the same tracked
    // entries, mirroring the single CacheManager entry — a long-lived
    // session repeating one operator does not grow the registry
    val before = graft.operators.CacheRegistry.size
    assert(EventFunnel.interArrival(ev).collect().nonEmpty)
    assert(graft.operators.CacheRegistry.size == before,
      "repeat same-parameter call must not grow the registry")
    graft.operators.CacheRegistry.release()
    assert(graft.operators.CacheRegistry.size == 0)
  }

  test("noveltyReport: first-occurrence shingle attribution per source") {
    val s = spark
    import s.implicits._
    // doc1 owns both its shingles; doc2 re-uses 'a b c' (1 of 2 novel);
    // doc3 repeats doc1 exactly (0 novel); doc4 is sub-shingle length
    val d = Seq(
      (1L, "a b c d", "A"), (2L, "a b c x", "A"),
      (3L, "a b c d", "B"), (4L, "q q", "B"))
      .toDF("doc_id", "text", "source")
    val r = Dedup.noveltyReport(d).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5))).toSeq
    assert(r == Seq(
      ("A", 2L, 4L, 3L, 750000L, 1L),
      ("B", 1L, 2L, 0L, 0L, 0L)))
  }

  test("lengthPercentiles: exact integer-rank percentiles per source") {
    val s = spark
    import s.implicits._
    // token counts 1..4 in one source → p50=2 (lower median), p90=4,
    // p99=4, totals 4 docs / 10 tokens
    val d = Seq(
      (1L, "a"), (2L, "a b"), (3L, "a b c"), (4L, "a b c d"))
      .toDF("doc_id", "text").withColumn("source", lit("X"))
    val r = Sampling.lengthPercentiles(d).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5), x.getLong(6), x.getLong(7))).toSeq
    assert(r == Seq(("X", 4L, 10L, 1L, 2L, 4L, 4L, 4L)))
  }

  test("boilerplateCensus: per-source top-k bigram mass concentration") {
    val s = spark
    import s.implicits._
    // T: two copies of "x y x y x y" — 2 distinct bigrams carry all 10
    // occurrences (ppm 1000000). O: 11 distinct singleton bigrams, the
    // (n DESC, a, b) tie-break keeps the lexicographically-first 10
    // (ppm 10e6 DIV 11); the single-word doc contributes nothing.
    val d = Seq(
      (1L, "x y x y x y", "T"), (2L, "x y x y x y", "T"),
      (3L, "a b c d e f g h i j k l", "O"), (4L, "z", "O"))
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.boilerplateCensus(d).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4))).toSeq
    assert(r == Seq(
      ("O", 11L, 11L, 10L, 909090L),
      ("T", 10L, 2L, 10L, 1000000L)))
  }

  test("chunkTokens: striding windows, suffix tail, engine-stable hash") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "a b c d e"), (2L, "x"), (3L, ""), (4L, "  "))
      .toDF("doc_id", "text")
    val r = TextAnalysis.chunkTokens(d, window = 3, stride = 2).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    // doc1: starts 0/2/4 -> "a b c", "c d e" (overlap window-stride=1), "e";
    // doc2 one whole-doc chunk; empty/blank docs emit nothing
    assert(r.map(x => (x._1, x._2, x._3, x._4)).toSeq == Seq(
      (1L, 0L, 0L, 3L), (1L, 1L, 2L, 3L), (1L, 2L, 4L, 1L),
      (2L, 0L, 0L, 1L)))
    // the chunk hash is the md5 prefix of the space-joined token slice
    val expected = d.sparkSession.range(1)
      .select(graft.operators.Dedup.hexPrefix(
        md5(lit("c d e").cast("binary")))).collect().head.getLong(0)
    assert(r.find(x => x._1 == 1L && x._2 == 1L).get._5 == expected)
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkTokens(d, window = 2, stride = 3)
    }
  }

  test("chunkDedupCensus: within-source duplicate window mass, exact ppm") {
    val s = spark
    import s.implicits._
    // A: doc1 chunks "a b c"/"c d e"/"e", doc2 chunks "a b c"/"c" ->
    // the repeated "a b c" window is the only reclaim (3 of 11 tokens,
    // ppm 3e6 DIV 11); B has nothing to reclaim
    val d = Seq(
      (1L, "a b c d e", "A"), (2L, "a b c", "A"), (3L, "x", "B"))
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.chunkDedupCensus(d, window = 3, stride = 2)
      .collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5))).toSeq
    assert(r == Seq(
      ("A", 5L, 4L, 11L, 3L, 272727L),
      ("B", 1L, 1L, 1L, 0L, 0L)))
  }

  test("waterfillPlan: exact hand-computed allocation, caps honored, " +
      "budget conserved, zero-token NULL epochs") {
    val s = spark
    import s.implicits._
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    // tokens A=100 B=10000 C=2500 D=0 -> weights 10/100/50/0,
    // caps=tokens at 1 epoch; ratio order A(10) < C(50) < B(100).
    // A saturates ((5000-0)*10 >= 100*160); C fails ((4900)*50 <
    // 2500*150) freezing the level; B_last=4900, W_last=150 ->
    // need C = floor(4900*50/150) = 1633, B = 3266; sum = 4999.
    val d = Seq((1L, words(100), "A"), (2L, words(10000), "B"),
      (3L, words(2500), "C"), (4L, "", "D"))
      .toDF("doc_id", "text", "source")
    val r = graft.operators.Sampling
      .waterfillPlan(d, budgetTokens = 5000L, capPpm = 1000000L)
      .collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getBoolean(4), x.getLong(5),
        if (x.isNullAt(6)) -1L else x.getLong(6), x.getLong(7))).toSeq
    assert(r == Seq(
      ("A", 100L, 10L, 100L, true, 100L, 1000000L, 20000L),
      ("B", 10000L, 100L, 10000L, false, 3266L, 326600L, 653200L),
      ("C", 2500L, 50L, 2500L, false, 1633L, 653200L, 326600L),
      ("D", 0L, 0L, 0L, true, 0L, -1L, 0L)), r.toString)
    // flooring slack strictly below the unsaturated count
    assert(5000L - r.map(_._6).sum < r.count(x => !x._5))
    // abundant budget: every source saturates at its cap
    val all = graft.operators.Sampling
      .waterfillPlan(d, budgetTokens = 1000000000L, capPpm = 1000000L)
      .collect()
      .map(x => (x.getString(0), x.getBoolean(4), x.getLong(5),
        x.getLong(3))).toSeq
    assert(all.forall(x => x._2 && x._3 == x._4), all.toString)
  }

  test("cdcChunkCensus: banner-shifted re-crawl dedups chunk-for-chunk " +
      "where fixed offsets share nothing") {
    val s = spark
    import s.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ") // ~380 chars
    val banner = "breaking banner here: " // 22 chars, not a multiple of 32
    val d = Seq((1L, base, "orig"), (2L, banner + base, "re"))
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.cdcChunkCensus(d).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getLong(5)))).toMap
    val orig = r("orig"); val re = r("re")
    // conservation: every char lands in exactly one chunk
    assert(orig._3 == base.length.toLong)
    assert(re._3 == (banner + base).length.toLong)
    // resynchronization: the shared tail dedups across sources — most
    // of each side's char mass sits in corpus-duplicated chunks
    // despite the 22-char shift (a strided chunker at any window
    // would share ZERO offsets, pinned below)
    assert(orig._5 > 500000L && re._5 > 500000L,
      s"cdc resync failed: orig ppm ${orig._5}, re ppm ${re._5}")
    // the offset-addressed contrast: fixed 32-char windows of the two
    // texts share no content at any aligned offset
    val w1 = base.grouped(32).toSet
    val w2 = (banner + base).grouped(32).toSet
    assert((w1 & w2).isEmpty)
    // degenerate exactness: texts shorter than the window are one
    // chunk [L]; two identical ones in different sources are fully
    // corpus-duplicated on both sides
    val tiny = Seq((1L, "same text", "a"), (2L, "same text", "b"))
      .toDF("doc_id", "text", "source")
    val t = TextAnalysis.cdcChunkCensus(tiny).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5))).toSeq
    assert(t == Seq(("a", 1L, 1L, 9L, 9L, 1000000L),
      ("b", 1L, 1L, 9L, 9L, 1000000L)))
  }

  test("stickiness: exact avg-DAU/WAU ppm per epoch week") {
    val s = spark
    import s.implicits._
    // week 0: u1 on days 0/1/2 (two events day 0 collapse), u2 on day 0
    //   -> sum_dau 4, wau 2, ppm = 4e6 DIV 14; week 1: u1 only
    val ev = Seq(
      (1L, 0L, 1L), (2L, 100L, 1L), (3L, 86400L, 1L), (4L, 172800L, 1L),
      (5L, 50L, 2L), (6L, 604800L, 1L))
      .toDF("event_id", "sec", "user_id")
      .select(col("event_id"), expr("timestamp_seconds(sec)").as("ts"),
        col("user_id"))
    val r = EventFunnel.stickiness(ev).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4))).toSeq
    assert(r == Seq(
      (0L, 3L, 4L, 2L, 285714L),
      (1L, 1L, 1L, 1L, 142857L)))
  }

  test("growthAccounting: new/retained/resurrected/churned per week") {
    val s = spark
    import s.implicits._
    // u1 wks {0,1,3}, u2 {0}, u3 {1,3}: wk1 retains u1, births u3,
    // churns u2; wk3 resurrects both actives after the quiet wk2
    val ev = Seq(
      (1L, 0L, 1L), (2L, 604800L, 1L), (3L, 3 * 604800L, 1L),
      (4L, 10L, 2L), (5L, 604810L, 3L), (6L, 3 * 604800L + 5, 3L))
      .toDF("event_id", "sec", "user_id")
      .select(col("event_id"), expr("timestamp_seconds(sec)").as("ts"),
        col("user_id"))
    val r = EventFunnel.growthAccounting(ev).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5))).toSeq
    assert(r == Seq(
      (0L, 2L, 2L, 0L, 0L, 0L),
      (1L, 2L, 1L, 1L, 0L, 1L),
      (3L, 2L, 0L, 0L, 2L, 2L)))
  }

  test("sourceNearDupMatrix: verified pairs per unordered source pair") {
    val s = spark
    import s.implicits._
    // docs 1/2 duplicate across A-B, docs 3/4 within A; doc5 unrelated
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "A"),
      (2L, "the quick brown fox jumps over the lazy dog", "B"),
      (3L, "completely different words here entirely unrelated tokens", "A"),
      (4L, "completely different words here entirely unrelated tokens", "A"),
      (5L, "nothing in common with any of the other documents listed", "C"))
      .toDF("doc_id", "text", "source")
    val r = graft.operators.Dedup.sourceNearDupMatrix(d).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSeq
    assert(r == Seq(("A", "A", 1L), ("A", "B", 1L)))
  }

  test("splitLeakage equals the manual pairs-joined-to-splits rollup " +
      "and flags only cross-split rows") {
    val s = spark
    import s.implicits._
    // 30 near-dup pairs (identical 20-token texts per pair, token
    // alphabets fully DISJOINT across pairs so no cross-pair shingle
    // overlap) spread over md5-assigned splits — enough ids that
    // train/val/test all appear with high probability
    val d = docs((1L to 60L).map { i =>
      val k = (i + 1) / 2
      i -> (1 to 20).map(j => s"k${k}t$j").mkString(" ")
    }: _*)
    // doc 2k-1 and 2k share text => near-dup pair per k
    val r = graft.operators.Dedup.splitLeakage(d).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getBoolean(3))).toSeq
    // reference: compose the same rollup by hand from the public parts
    val sp = graft.operators.TextAnalysis.withSplit(d)
      .select(col("doc_id"), col("split")).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    val expect = (1L to 30L).map { k =>
      val (sa, sb) = (sp(2 * k - 1), sp(2 * k))
      if (sa <= sb) (sa, sb) else (sb, sa)
    }.groupBy(identity).map { case ((sa, sb), v) =>
      (sa, sb, v.size.toLong, sa != sb)
    }.toSeq.sorted
    assert(r.sorted == expect)
    assert(r.exists(_._4), "test construction should yield leakage rows")
    r.foreach { case (sa, sb, _, leak) => assert(leak == (sa != sb)) }
  }

  test("budgetSelect: two-phase prefix equals the single-window " +
      "spelling; greedy prefix semantics exact") {
    val s = spark
    import s.implicits._
    // hand case first: tokens 3 each, budget 7 => exactly the first
    // TWO docs in hash order are kept (3, 6 <= 7; 9 > 7)
    val d3 = Seq((1L, "a b c", "S"), (2L, "d e f", "S"), (3L, "g h i", "S"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val hand = graft.operators.Sampling.budgetSelect(d3, budgetTokens = 7L)
      .collect().head
    assert((hand.getLong(1), hand.getLong(2), hand.getLong(3),
      hand.getLong(5)) == (3L, 2L, 6L, 6L * 1000000 / 7))
    // property: the bucketed two-phase cumsum equals the plain
    // per-source window over a 300-doc two-source frame, at several
    // budgets, and is layout-independent
    val big = (1L to 300L).map(i =>
        (i, (1 to (i % 7 + 1).toInt).map(j => s"w$j").mkString(" "),
          if (i % 2 == 0) "even" else "odd"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    graft.functions.GraftFunctions.install(s)
    for (budget <- Seq(50L, 200L, 1000L)) {
      val got = graft.operators.Sampling.budgetSelect(big, budget)
        .collect().map(_.toSeq).toSeq
      val gotR = graft.operators.Sampling
        .budgetSelect(big.repartition(13), budget)
        .collect().map(_.toSeq).toSeq
      assert(got == gotR, s"budget $budget: layout changed the result")
      // single-window reference (the q144 oracle's formulation)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val ref = big.select(col("source"), col("doc_id"),
          graft.functions.TokenRunCount(col("text")).as("t"),
          graft.operators.Dedup.hexPrefix(
            md5(concat(col("doc_id").cast("string"), lit("|budget"))
              .cast("binary"))).as("h"))
        .withColumn("cum", sum(col("t")).over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cum") <= budget, 1L).otherwise(0L))
            .as("n_selected"),
          sum(when(col("cum") <= budget, col("t")).otherwise(0L))
            .as("tokens_selected"))
        .select(col("source"), col("n_docs"), col("n_selected"),
          col("tokens_selected"), lit(budget).as("budget_tokens"),
          expr("tokens_selected * 1000000 DIV budget_tokens")
            .as("utilization_ppm"))
        .orderBy("source")
        .collect().map(_.toSeq).toSeq
      assert(got == ref, s"budget $budget: two-phase != window")
    }
  }

  test("dupRateSweep: counts monotone non-increasing, exact at J=1, " +
      "sub-banding thresholds rejected") {
    val s = spark
    // docs 1/2 identical (J=1); docs 3/4 share most shingles (J<1)
    val twenty = (1 to 20).map(i => s"tok$i")
    val d = docs(
      1L -> twenty.mkString(" "),
      2L -> twenty.mkString(" "),
      3L -> twenty.mkString(" "),
      4L -> (twenty.dropRight(1) :+ "tail").mkString(" "),
      5L -> "one two three four five six seven eight nine ten")
    val r = graft.operators.Dedup.dupRateSweep(d).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r.map(_._1) == Seq(500000L, 600000L, 700000L, 800000L,
      900000L, 1000000L))
    // monotone: higher threshold can only lose pairs/docs
    r.sliding(2).foreach { case Seq(lo, hi) =>
      assert(lo._2 >= hi._2 && lo._3 >= hi._3)
    }
    // at t=1.0 only the J=1 triangle among docs 1/2/3 survives
    assert(r.last == (1000000L, 3L, 3L))
    // docs 4 pairs with 1/2/3 at J = 18/20-ish shingles (19/21 windows
    // share 18) => present at 0.5, absent at 1.0
    assert(r.head._2 > r.last._2)
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.dupRateSweep(d, thresholdsPpm = Seq(300000L))
    }
    // the exact-dup collapse is value-identical to the UNCOLLAPSED
    // formulation (the q145 oracle's spelling) on a duplicate-heavy
    // frame — the q141 expansion argument, re-pinned for the sweep
    val dupHeavy = docs((1L to 24L).map { i =>
      // 4 text groups x 6 copies; group 3 shares group 2's alphabet
      // with a divergent tail (J = 17/19), so a CROSS-group near-dup
      // rep pair exists alongside the J=1 within-group pairs
      val t =
        if (i % 4 == 3) (1 to 19).map(j => s"g2w$j") :+ "tail"
        else (1 to 20).map(j => s"g${i % 4}w$j")
      i -> t.mkString(" ")
    }: _*)
    val got = graft.operators.Dedup.dupRateSweep(dupHeavy).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    val thr = Seq(500000L, 600000L, 700000L, 800000L, 900000L, 1000000L)
    val stats = graft.operators.Dedup.verifiedPairStats(dupHeavy)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3))).toSeq
    val ref = thr.map { t =>
      val pass = stats.filter { case (_, _, i, u) => i * 1000000L >= t * u }
      val docsTouched = pass.flatMap(p => Seq(p._1, p._2)).distinct.size
      (t, pass.size.toLong, docsTouched.toLong)
    }
    assert(got == ref, s"collapsed $got != uncollapsed $ref")
    // non-degenerate: the frame really has cross-group AND within rows
    assert(got.head._2 > 0 && got.last._2 > 0 && got.head._2 > got.last._2)
  }

  test("snapshotDiff: added/removed/changed/unchanged per source") {
    val s = spark
    import s.implicits._
    val old = Seq((1L, "a", "S"), (2L, "b", "S"), (3L, "c", "T"),
      (5L, "e", "S"))
      .toDF("doc_id", "text", "source")
    // doc1 removed, doc2 rewritten, doc3 untouched, doc4 new, doc5
    // moved S->T with identical bytes (counts under the NEW source)
    val nw = Seq((2L, "b2", "S"), (3L, "c", "T"), (4L, "d", "T"),
      (5L, "e", "T"))
      .toDF("doc_id", "text", "source")
    val r = graft.operators.Dedup.snapshotDiff(old, nw).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4))).toSeq
    assert(r == Seq(("S", 0L, 1L, 1L, 0L), ("T", 1L, 0L, 0L, 2L)))
  }

  test("snapshotDiff: NULL text classifies by PRESENCE, null-safe " +
      "digest compare") {
    val s = spark
    import s.implicits._
    // ADVICE r10: md5(NULL) is NULL, so digest-nullness misread a
    // present-both NULL-text doc as 'added'. The contract now: doc6
    // NULL-on-both-sides is UNCHANGED, doc7 text->NULL is CHANGED,
    // doc8 NULL->text is CHANGED, doc9 NULL text only in new is ADDED
    val old = Seq((6L, null.asInstanceOf[String], "S"), (7L, "t", "S"),
      (8L, null.asInstanceOf[String], "S"))
      .toDF("doc_id", "text", "source")
    val nw = Seq((6L, null.asInstanceOf[String], "S"),
      (7L, null.asInstanceOf[String], "S"), (8L, "u", "S"),
      (9L, null.asInstanceOf[String], "S"))
      .toDF("doc_id", "text", "source")
    val r = graft.operators.Dedup.snapshotDiff(old, nw).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4))).toSeq
    // (source, added, removed, changed, unchanged)
    assert(r == Seq(("S", 1L, 0L, 2L, 1L)))
  }

  test("saltedJoin equals the plain join and shuffles on the salt") {
    val s = spark
    import s.implicits._
    // 300 of 320 fact rows share key 1 — the skew a plain hash join
    // sends to one reducer
    val fact = ((1L to 300L).map(i => (1L, i)) ++
      (301L to 320L).map(i => (i % 7 + 2, i))).toDF("k", "payload")
    val dim = (1L to 10L).map(i => (i, s"name$i")).toDF("dk", "name")
    val plain = fact.join(dim, col("k") === col("dk")).drop("dk")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val saltedDf = graft.operators.SkewJoin.saltedJoin(fact, "k", dim, "dk",
      salts = 8)
    val salted = saltedDf.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(salted == plain)
    // the fact-side shuffle must be keyed on (k, salt), not k alone
    val plan = saltedDf.queryExecution.executedPlan.toString
    assert(plan.contains("graft_salt"), plan)
  }

  test("operators are partition-invariant: same result at any parallelism") {
    // the determinism contract that matters on a real cluster: value
    // equality when the SAME data arrives in different partition layouts
    // and orders. Order-dependent double sums, non-commutative merges,
    // or partition-local state would all break this.
    val base = docs((1L to 60L).map(i =>
      i -> s"w${i % 7} w${i % 5} w${i % 3} w${i % 11} w${i % 2} tail$i"): _*)
      .withColumn("lang", when(col("doc_id") % 2 === 0, "en").otherwise("de"))
      .withColumn("n_chars", length(col("text")))
    val layouts = Seq(base.repartition(1), base.repartition(13),
      base.repartition(7, col("lang")))
    def fingerprintOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    for (op <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "simhash" -> (d => graft.operators.Dedup.simhash(d).orderBy("doc_id")),
      "fingerprint" -> (d => TextAnalysis.fingerprint(d)),
      "trainSplit" -> (d => TextAnalysis.trainSplit(d)),
      "stats" -> (d => TextAnalysis.stats(d)),
      "packSequences" -> (d => TextAnalysis.packSequences(d, 16, 4)),
      "repetition" -> (d => TextAnalysis.repetition(d)),
      "langReport" -> (d => TextAnalysis.langReport(d)),
      "samplingWeights" -> (d => TextAnalysis.samplingWeights(d)),
      "splitContamination" -> (d => TextAnalysis.splitContamination(d)),
      "topDuplicatedPrefixes" ->
        (d => TextAnalysis.topDuplicatedTexts(d, prefixLen = 5)),
      "clusterSizeHistogram" ->
        (d => graft.operators.Dedup.clusterSizeHistogram(d)),
      "lshCalibration" -> (d => graft.operators.Dedup.lshCalibration(d)),
      "vocabGrowth" -> (d => TextAnalysis.vocabGrowth(d)),
      "tokenBudgetPlan" -> (d => TextAnalysis.tokenBudgetPlan(d)),
      "clusterRepresentatives" ->
        (d => graft.operators.Dedup.clusterRepresentatives(d)),
      "substringDupSpans" -> (d => TextAnalysis.substringDupSpans(d, k = 4)),
      "dsirWeights" -> (d => TextAnalysis.dsirWeights(d, topK = 10)),
      "tokenizerFertility" -> (d => TextAnalysis.tokenizerFertility(d)))) {
      val (name, f) = op
      val results = layouts.map(l => fingerprintOf(f(l)))
      assert(results(0) == results(1) && results(0) == results(2),
        s"$name diverged across partition layouts")
    }
  }

  test("centroidCosine is partition-invariant over embedding layouts") {
    val e = embs((0L until 40L).map(i =>
      (i, Seq.tabulate(4)(d => ((i + d) % 7).toFloat / 7f),
        (i % 3).toInt)): _*)
    val layouts =
      Seq(e.repartition(1), e.repartition(11), e.repartition(5, col("label")))
    val res = layouts.map(l =>
      Similarity.centroidCosine(l).collect().toSeq.map(_.toSeq))
    assert(res(0) == res(1) && res(0) == res(2))
  }

  test("round-8 embedding operators are partition-invariant") {
    val e = embs((0L until 40L).map(i =>
      (i, Seq.tabulate(4)(d => ((i + d) % 7).toFloat / 7f),
        (i % 3).toInt)): _*)
    val layouts =
      Seq(e.repartition(1), e.repartition(11), e.repartition(5, col("label")))
    for (op <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "semanticDedup" ->
        (d => Similarity.semanticDedup(d, k = 4, sampleN = 40, iters = 1)),
      "hardNegatives" -> (d => Similarity.hardNegatives(d, maxQid = 5)),
      "dimMoments" -> (d => Similarity.dimMoments(d)),
      "semanticDecontamination" ->
        (d => Similarity.semanticDecontamination(d,
          isBench = col("vec_id") % 7 === 0, k = 4, sampleN = 40,
          iters = 1)))) {
      val (name, f) = op
      val res = layouts.map(l => f(l).collect().toSeq.map(_.toSeq))
      assert(res(0) == res(1) && res(0) == res(2),
        s"$name diverged across partition layouts")
    }
  }

  test("training-corpus funnel composes the battery end to end") {
    val twenty = (0 until 20).map(i => s"tok$i")
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "the quick brown fox jumps over the lazy dog tonight", // exact dup of 1
      3L -> twenty.mkString(" "),                        // near-dup rep
      4L -> (twenty.dropRight(1) :+ "tokX").mkString(" "), // near-dup of 3
      5L -> "x y x y x y x y x y x y",                   // repetitive -> drop
      6L -> "one two three",                             // < 4 tokens -> drop
      7L -> "ship logs to admin@example.com for the audit trail tonight",
      10L -> "benchmark alpha beta gamma delta question answer",
      11L -> "train doc sharing alpha beta gamma with the benchmark",
      12L -> "an ordinary clean training document with plenty of words here")
    val (corpus, funnel) = graft.operators.TrainingCorpus.build(
      d, isBenchmark = col("doc_id") === 10L)
    val counts = funnel.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("1_input") == 10L)
    assert(counts("2_exact_dedup") == 9L)        // doc 2 collapsed into 1
    assert(counts("3_near_dup_collapse") == 8L)  // doc 4 collapsed into 3
    assert(counts("4_quality") == 6L)            // docs 5 and 6 dropped
    assert(counts("5_decontaminated") == 4L)     // bench 10 + contaminated 11 out
    val byId = corpus.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(byId.keySet == Set(1L, 3L, 7L, 12L))
    // PII was scrubbed in the surviving text
    assert(byId(7L).contains("[EMAIL]") && !byId(7L).contains("@"))
    // every survivor carries a deterministic split
    assert(corpus.select("split").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("vocabulary ranks by cf with lexicographic tiebreak and exact df") {
    val d = docs(1L -> "b a b c", 2L -> "a b", 3L -> "c a")
    val out = TextAnalysis.vocabulary(d, topK = 2).collect()
    // cf: b=4? no — b appears 2(doc1)+1(doc2)=3; a=1+1+1=3; c=1+1=2.
    // tie a/b at cf=3 -> lexicographic: a first
    assert(out.length == 2)
    assert(out(0).getAs[String]("token") == "a" &&
      out(0).getAs[Long]("cf") == 3L && out(0).getAs[Long]("df") == 3L)
    assert(out(1).getAs[String]("token") == "b" &&
      out(1).getAs[Long]("cf") == 3L && out(1).getAs[Long]("df") == 2L)
  }

  test("funnel counts only strictly-ordered step completions") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      // user 1: full funnel in order
      (1L, 100L, 1L, "view"), (2L, 200L, 1L, "click"),
      (3L, 300L, 1L, "purchase"),
      // user 2: click BEFORE first view -> stops at step 1
      (4L, 100L, 2L, "click"), (5L, 200L, 2L, "view"),
      // user 3: view then purchase but no click -> stops at step 1
      (6L, 100L, 3L, "view"), (7L, 200L, 3L, "purchase"),
      // user 4: never views -> not even step 1
      (8L, 100L, 4L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.operators.EventFunnel.funnel(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("step1_view" -> 3L, "step2_click" -> 1L,
      "step3_purchase" -> 1L))
  }

  test("retention buckets users by first epoch week and offset") {
    val s = spark
    import s.implicits._
    val W = 604800L * 1000000000L // one epoch week in nanos
    val ev = Seq(
      (1L, 0L * W + 5L, 1L, "view"), (2L, 1L * W + 9L, 1L, "click"),
      (3L, 3L * W + 1L, 1L, "view"),                     // A: weeks 0,1,3
      (4L, 0L * W + 7L, 2L, "view"),                     // B: week 0 only
      (5L, 1L * W + 2L, 3L, "view"), (6L, 2L * W + 3L, 3L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.operators.EventFunnel.retention(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 3L) -> 1L,
      (1L, 0L) -> 1L, (1L, 1L) -> 1L))
  }

  test("trainedIvfTopK: recall@5 >= 0.9 vs brute force at nprobe=2") {
    // 8 well-separated deterministic clusters (block-one-hot centers +
    // small formula perturbation), 200 vectors. On clustered data the
    // trained quantizer must recover the partition, so multi-probe
    // search finds (almost) every brute-force neighbour. The q52 gate
    // separately pins the algorithm EXACTLY vs the DuckDB replay; this
    // pins that the algorithm is a good ANN index where IVF applies.
    val s = spark
    import s.implicits._
    val vecs = (0L until 200L).map { id =>
      val c = (id % 8).toInt
      val arr = Array.tabulate(64) { d =>
        val base = if (d / 8 == c) 1.0f else 0.0f
        base + (((id * 31 + d * 7) % 13).toFloat - 6f) / 100f
      }
      (id, arr, c.toLong)
    }.toDF("vec_id", "embedding", "label")
    val exact = Similarity.cosineTopK(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.trainedIvfTopK(vecs, sampleN = 200).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@5 = $recall")
  }

  test("recallReport matches a hand-computed exact/IVF overlap") {
    val s = spark
    import s.implicits._
    val vecs = (0L until 200L).map { id =>
      val c = (id % 8).toInt
      val arr = Array.tabulate(64) { d =>
        val base = if (d / 8 == c) 1.0f else 0.0f
        base + (((id * 31 + d * 7) % 13).toFloat - 6f) / 100f
      }
      (id, arr, c.toLong)
    }.toDF("vec_id", "embedding", "label")
    val exByQ = Similarity.cosineTopK(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivByQ = Similarity.trainedIvfTopK(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val out = Similarity.recallReport(vecs).collect()
    assert(out.map(_.getLong(0)).toSeq == (0L until 10L))
    out.foreach { r =>
      val ex = exByQ(r.getLong(0))
      val hits = ex.intersect(ivByQ.getOrElse(r.getLong(0), Set.empty)).size
      assert(r.getLong(1) == ex.size && r.getLong(2) == hits.toLong)
      assert(r.getDouble(3) == hits.toDouble / ex.size)
    }
  }

  test("trainedCentroids: empty clusters keep their previous centroid") {
    val s = spark
    import s.implicits._
    // 10 near-identical vectors: after iteration 1 every sample lands in
    // one cluster, so 7 of 8 seeds go empty — they must keep coordinates
    // (not vanish) for the oracle's COALESCE to mirror
    val vecs = (0L until 10L).map { id =>
      (id, Array.tabulate(64)(d => 1.0f + (id + d).toFloat * 1e-4f), 0L)
    }.toDF("vec_id", "embedding", "label")
    val cent = Similarity.trainedCentroids(vecs, k = 8, sampleN = 10)
    assert(cent.select("k").distinct().count() == 8)
    assert(cent.count() == 8 * 64)
  }

  test("media pipeline: real WAV encode/decode round-trips PCM samples") {
    val d = docs(0L -> "x", 3L -> "y")
    val media = MediaPipeline.wavMediaFromDocs(d).collect()
    // the bytes are a genuine RIFF/WAVE container, not a synthetic header
    val m0 = media.find(_.media_id == 0L).get
    assert(new String(m0.data.take(4), "US-ASCII") == "RIFF")
    assert(new String(m0.data.slice(8, 12), "US-ASCII") == "WAVE")
    val decoded = MediaPipeline.decodeWav(
      MediaPipeline.wavMediaFromDocs(d)).collect()
    // doc 0: n = 512, s(i) = (11i mod 65536) - 32768
    val d0 = decoded.find(_.media_id == 0L).get
    assert(d0.sample_rate == 8000L && d0.samples.length == 512)
    assert(d0.samples.zipWithIndex.forall { case (s, i) =>
      s == ((i * 11) % 65536) - 32768
    })
    // doc 3: n = 512 + 3*128 = 896
    val d3 = decoded.find(_.media_id == 3L).get
    assert(d3.samples.length == 896)
    assert(d3.samples.zipWithIndex.forall { case (s, i) =>
      s == ((3 * 37 + i * 11) % 65536) - 32768
    })
    // feature table integer exactness on doc 0
    val f0 = MediaPipeline.wavFeatureTable(d)
      .where(col("media_id") === 0L).collect().head
    val ref = (0 until 512).map(i => ((i * 11) % 65536) - 32768)
    assert(f0.getAs[Long]("sum_sample") == ref.map(_.toLong).sum)
    assert(f0.getAs[Long]("max_abs") == ref.map(s => math.abs(s.toLong)).max)
  }

  test("lmQuality: mean conditional bigram probability, micro-quantized") {
    // corpus model: c(a,b)=2, c(a,c)=1, c(a,·)=3
    // pq(a,b) = floor(2/3*1e6 + 0.5) = 666667; pq(a,c) = 333333
    val d = docs(1L -> "a b", 2L -> "a b", 3L -> "a c", 4L -> "solo")
    val r = TextAnalysis.lmQuality(d).collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L)) // <2 tokens drop
    val byDoc = r.map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(byDoc(1L) == ((1L, 666667.0 / 1e6)))
    assert(byDoc(3L) == ((1L, 333333.0 / 1e6)))
  }

  test("tfidfBySource: rational idf, per-source total-ordered top-k") {
    val d = Seq((1L, "a b", "s1"), (2L, "a c", "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = TextAnalysis.tfidfBySource(d).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getLong(5)))
    // s1: b = (1/2)*(2/1)*1e6 = 1000000 beats a = (1/2)*(2/2)*1e6 = 500000
    assert(r.toSeq == Seq(
      ("s1", "b", 1L, 1L, 1000000L, 1L),
      ("s1", "a", 1L, 2L, 500000L, 2L),
      ("s2", "c", 1L, 1L, 1000000L, 1L),
      ("s2", "a", 1L, 2L, 500000L, 2L)))
  }

  test("corpusCard: one-row exact counts and rates") {
    val d = docs(1L -> "a b", 2L -> "a b", 3L -> "c")
    val r = TextAnalysis.corpusCard(d).collect()
    assert(r.length == 1)
    val c = r.head
    assert(c.getAs[Long]("n_docs") == 3L)
    assert(c.getAs[Long]("n_tokens") == 5L)
    assert(c.getAs[Long]("n_distinct_tokens") == 3L)
    assert(c.getAs[Long]("n_langs") == 1L)
    assert(c.getAs[Long]("n_sources") == 1L)
    assert(c.getAs[Long]("total_chars") == 7L)
    assert(c.getAs[Long]("n_dup_docs") == 1L)
    assert(c.getAs[Double]("dup_rate") == 1.0 / 3)
    assert(c.getAs[Double]("avg_doc_tokens") == 5.0 / 3)
  }

  test("heavyHitters: exact ppm shares, cumulative, multiple-of-mean") {
    // key 1: 6 rows, key 2: 3 rows, key 3: 1 row — total 10, 3 keys
    val d = (Seq.fill(6)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }
      .toDF("event_id", "user_id")
    val r = KeyStats.heavyHitters(d, "user_id", k = 2).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getLong(5)))
    assert(r.toSeq == Seq(
      // (key, n, rk, share_ppm, cum_ppm, mean_mult_pct)
      (1L, 6L, 1L, 600000L, 600000L, 180L), // 6*3*100/10
      (2L, 3L, 2L, 300000L, 900000L, 90L)))
  }

  test("labelConflicts: only dup groups with metadata disagreement") {
    val d = Seq(
      (1L, "same text", "en", "s1"),
      (2L, "same text", "en", "s2"),   // source conflict with doc 1
      (3L, "other text", "en", "s1"),
      (4L, "other text", "en", "s1"),  // dup but NO conflict
      (5L, "third text", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = Dedup.labelConflicts(d).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("representative") == 1L)
    assert(r.head.getAs[Long]("n_docs") == 2L)
    assert(r.head.getAs[Long]("n_sources") == 2L)
    assert(r.head.getAs[Long]("n_langs") == 1L)
  }

  test("piiStatsBySource: per-source counts and exact ppm rate") {
    val d = Seq(
      (1L, "mail me at a@b.io now", "s1"),
      (2L, "clean doc", "s1"),
      (3L, "two mails a@b.io c@d.org and ip 10.0.0.1 here", "s1"),
      (4L, "call +1-555-123-4567", "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = TextAnalysis.piiStatsBySource(d).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5), x.getLong(6)))
    assert(r.toSeq == Seq(
      // (source, n_docs, n_emails, n_phones, n_ips, n_docs_with_pii, ppm)
      ("s1", 3L, 3L, 0L, 1L, 2L, 666666L),
      ("s2", 1L, 0L, 1L, 0L, 1L, 1000000L)))
  }

  test("sourceScorecard: per-source dup ppm, token and char averages") {
    val d = Seq(
      (1L, "a b", "s1"), (2L, "a b", "s1"), (3L, "c", "s1"),
      (4L, "x y z", "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = TextAnalysis.sourceScorecard(d).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5), x.getDouble(6), x.getDouble(7)))
    assert(r.toSeq == Seq(
      ("s1", 3L, 1L, 333333L, 5L, 3L, 5.0 / 3, 7.0 / 3),
      ("s2", 1L, 0L, 0L, 3L, 3L, 3.0, 5.0)))
  }

  test("centroidAssignment: mislabeled vector lands off-diagonal") {
    // label 0 holds two x-axis vectors plus one MISLABELED y-axis
    // vector; label 1 holds two y-axis vectors. The y-axis stray must
    // assign to label 1's centroid.
    val d = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 0), // mislabeled
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.centroidAssignment(d).collect()
      .map(x => (x.getInt(0), x.getInt(1), x.getLong(2)))
    assert(r.toSeq == Seq((0, 0, 2L), (0, 1, 1L), (1, 1, 2L)))
  }

  test("collocations: ratio-form PMI ranks association over frequency") {
    // "x y x y z": bigrams xy=2, yx=1, yz=1; unigrams x=2 y=2 z=1;
    // Nu=5, Nb=4. pmi(xy) = 2*25/(4*2*2) = 3.125, pmi(yz) =
    // 1*25/(4*2*1) = 3.125 (rarer pair, same association),
    // pmi(yx) = 1.5625. Ties break on (a, b).
    val d = docs(1L -> "x y x y z")
    val r = TextAnalysis.collocations(d, minCount = 1, topK = 3).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getDouble(5)))
    assert(r.toSeq == Seq(
      ("x", "y", 2L, 2L, 2L, 3.125),
      ("y", "z", 1L, 2L, 1L, 3.125),
      ("y", "x", 1L, 2L, 2L, 1.5625)))
  }

  test("corpusDiff: added/removed/changed/unchanged by fingerprint") {
    def snap(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    val prev = snap((1L, "a", "s1"), (2L, "b", "s1"), (3L, "c", "s2"))
    val next = snap((1L, "a", "s1"),      // unchanged
      (2L, "b CHANGED", "s1"),            // changed
      (4L, "d", "s2"))                    // added; doc 3 removed
    val r = TextAnalysis.corpusDiff(prev, next).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    assert(r.toSeq == Seq(
      ("s1", "changed", 1L), ("s1", "unchanged", 1L),
      ("s2", "added", 1L), ("s2", "removed", 1L)))
  }

  test("embeddingCoverage: per-source indexed counts and exact ppm") {
    val d = Seq((1L, "a", "s1"), (2L, "b", "s1"), (3L, "c", "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val e = Seq((1L, Array(1.0f), 0), (3L, Array(1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.embeddingCoverage(d, e).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4)))
    assert(r.toSeq == Seq(
      ("s1", 2L, 1L, 1L, 500000L),
      ("s2", 1L, 1L, 0L, 1000000L)))
  }

  test("segmentDedup: shared segment counted per occurrence, partial tail kept") {
    // segLen=3: doc1 = [a b c][d e f][g], doc2 = [a b c][x y]
    // "a b c" has df=2 → 2 dup occurrences (3 tokens each);
    // doc1 contributes 3 segments (incl. 1-token tail), doc2 two.
    val d = Seq(
      (1L, "a b c d e f g", "s1"),
      (2L, "a b c x y", "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = TextAnalysis.segmentDedup(d, segLen = 3).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getLong(5)))
    assert(r.toSeq == Seq(
      ("s1", 1L, 3L, 1L, 333333L, 3L),
      ("s2", 1L, 2L, 1L, 500000L, 3L)))
  }

  test("normalizationGain: casing/spacing dups collapse only after canon") {
    // 1=2 raw dups; 3 is 1 uppercased+double-spaced (norm dup only);
    // 4 unique. raw: 4 docs, 3 distinct; norm: 2 distinct.
    val d = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "A  B  C"), (4L, "x y"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.normalizationGain(d).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (4L, 1L, 2L, 1L))
  }

  test("winnowReport: 3-token doc selects its only hash; identical docs " +
    "in different sources report identically") {
    val d = Seq(
      (1L, "a b c", "s1"),                       // P=1 → 1 selected print
      (2L, "p q r s t u v w x y", "s2"),         // P=8
      (3L, "p q r s t u v w x y", "s3"))         // same text, same prints
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = TextAnalysis.winnowReport(d).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5))).toSeq
    val Seq(s1, s2, s3) = r
    assert(s1 == ("s1", 1L, 1L, 1L, 1000000L, 1L))
    // identical text → identical selection (winnowing is content-pure)
    assert(s2._2 == 1L && s2._3 == 8L)
    assert(s2.copy(_1 = "s3") == s3)
    // density bounded: selected ≤ window starts = P - w + 1 bounded
    // below by 1; for P=8, w=4 → ≤ 5 starts, ≥ ceil(P/w)=2 distinct
    assert(s2._4 >= 2L && s2._4 <= 5L)
  }

  test("native winnow_prints matches the hex_prefix_long/array-HOF SQL chain") {
    graft.functions.GraftFunctions.install(spark)
    // varied lengths incl. p < w (truncated single window), repeated
    // tokens (duplicate window minima to collapse), and 3-token docs
    val d = Seq(
      "a b c",
      "a b c d",
      "p q r s t u v w x y",
      "x x x x x x x x",
      "one two three four five six seven eight nine ten eleven twelve",
      "a b a b a b a b a b a b")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.tokens(col("text")).as("w"))
    val r = d.select(col("doc_id"),
        graft.functions.WinnowPrints(col("w"), 4).as("native"),
        expr("array_distinct(transform(" +
          "sequence(1, greatest(size(w) - 2 - 3, 1)), " +
          "s -> array_min(slice(transform(sequence(1, size(w) - 2), " +
          "i -> hex_prefix_long(md5(CAST(concat_ws(' ', slice(w, i, 3)) " +
          s"AS BINARY)), 1) * ${1L << 20} + CAST(i - 1 AS BIGINT)), " +
          "s, 4))))").as("sql"))
      .collect()
    r.foreach { x =>
      assert(x.getSeq[Long](1) == x.getSeq[Long](2),
        s"doc ${x.getLong(0)}: native ${x.getSeq[Long](1)} != sql ${x.getSeq[Long](2)}")
    }
    // fewer than 3 tokens → empty selection, not a crash
    val short = Seq((9L, "a b")).toDF("doc_id", "text")
      .select(graft.functions.WinnowPrints(Dedup.tokens(col("text")), 4))
      .collect()
    assert(short.head.getSeq[Long](0).isEmpty)
  }

  test("sourceSegmentOverlap: shared distinct segments with exact ppm") {
    // s1 has segments {a b c, d e f}; s2 has {a b c, x y z}
    // (duplicate occurrence of "a b c" in s2 collapses) → shared = 1
    val d = Seq(
      (1L, "a b c d e f", "s1"),
      (2L, "a b c x y z", "s2"),
      (3L, "a b c q q q", "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = TextAnalysis.sourceSegmentOverlap(d, segLen = 3).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getLong(3), x.getLong(4)))
    assert(r.toSeq == Seq(("s1", "s2", 1L, 500000L, 333333L)))
  }

  test("imageAHash: real decode reproduces the formula-computed hash") {
    val d = (0L to 23L).map(i => (i, "t")).toDF("doc_id", "text")
    val hashes = MediaPipeline.imageAHash(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def formulaHash(id: Long): String = {
      val w = (16 + (id % 4) * 8).toInt
      val h = (16 + (id % 3) * 8).toInt
      val s = (0 until 64).map { k =>
        val y = k / 8; val x = k % 8
        ((id * 31 + (y * (h / 8) * w + x * (w / 8)) * 7) % 256).toInt
      }
      val mean = s.map(_.toLong).sum / 64
      (0 until 16).map { j =>
        val n = (0 until 4).map(b => if (s(4 * j + b) > mean) 1 << b else 0).sum
        "0123456789abcdef".charAt(n)
      }.mkString
    }
    (0L to 23L).foreach(id => assert(hashes(id) == formulaHash(id), s"id=$id"))
    // near-dup links: representatives only, ordered, hamming in [1, 3]
    val pairs = MediaPipeline.imagePerceptualDup(d).collect()
    assert(pairs.forall(p => p.getLong(0) < p.getLong(1) &&
      p.getLong(4) >= 1 && p.getLong(4) <= 3))
  }

  test("audioEnvelopeHash: real WAV decode reproduces the formula hash") {
    val d = (0L to 15L).map(i => (i, "t")).toDF("doc_id", "text")
    val hashes = MediaPipeline.audioEnvelopeHash(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def formulaHash(id: Long): String = {
      val n = (512 + (id % 4) * 128).toInt
      val wl = n / 64
      val e = (0 until 64).map { j =>
        (0 until wl).map { o =>
          val i = j * wl + o
          val base = (((id * 37 + i * 11) % 65536) - 32768).toInt
          val g = (1 + (id * 13 + j.toLong * 7) % 16).toInt
          math.abs(((base * g) / 16).toLong)
        }.sum / wl
      }
      val mean = e.sum / 64
      (0 until 16).map { j =>
        val nb = (0 until 4).map(b => if (e(4 * j + b) > mean) 1 << b else 0).sum
        "0123456789abcdef".charAt(nb)
      }.mkString
    }
    (0L to 15L).foreach(id => assert(hashes(id) == formulaHash(id), s"id=$id"))
    val pairs = MediaPipeline.audioPerceptualDup(d).collect()
    assert(pairs.forall(p => p.getLong(0) < p.getLong(1) &&
      p.getLong(4) >= 1 && p.getLong(4) <= 3))
  }

  test("bloomDecontCalibration: no false negatives; counts consistent") {
    // doc 10 is the benchmark; 1 shares a shingle with it, 2 doesn't
    val d = docs(
      10L -> "alpha beta gamma delta",
      1L -> "alpha beta gamma zeta xi",
      2L -> "completely different tokens here")
    val r = TextAnalysis.bloomDecontCalibration(
      d, col("doc_id") === 10L).collect().head
    val (n, exact, flagged, fp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n == 2L && exact == 1L)
    assert(flagged >= exact) // Bloom never misses a contaminated doc
    assert(fp == flagged - exact && fp >= 0L)
  }

  test("cmsCalibration: estimates never underestimate; exact at low load") {
    // 3 distinct keys in a 4x1024 sketch → no collisions expected,
    // but the invariant est >= exact holds regardless
    val d = (Seq.fill(5)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L))
      .map(u => (u, "e")).toDF("user_id", "event_type")
    val r = KeyStats.cmsCalibration(d, "user_id").collect()
    assert(r.length == 3)
    assert(r.forall(x => x.getLong(2) >= x.getLong(1))) // est >= exact
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("1", 5L), ("2", 3L), ("3", 1L)))
    // 3 keys across 4096 cells: collisions vanish → est == exact
    assert(r.forall(x => x.getLong(3) == 0L))
  }

  test("videoSharedFrames: pair invariants and real-decode consistency") {
    val d = (0L to 23L).map(i => (i, "t")).toDF("doc_id", "text")
    val r = MediaPipeline.videoSharedFrames(d).collect()
    // ordered pairs, min-shared enforced
    assert(r.forall(p => p.getLong(0) < p.getLong(1) && p.getLong(2) >= 2))
    // determinism: identical run → identical rows
    val r2 = MediaPipeline.videoSharedFrames(d).collect()
    assert(r.map(_.toString).toSeq == r2.map(_.toString).toSeq)
  }

  test("stitchPairs: suffix==prefix pairs found, boilerplate df-capped") {
    val d = docs(
      1L -> "a b c d e f g",   // ends with "c d e f g"
      2L -> "c d e f g h i",   // starts with "c d e f g" → (1, 2)
      3L -> "x y z w v u t")   // unrelated
    val r = Dedup.stitchPairs(d).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    assert(r.toSeq == Seq((1L, 2L, "c d e f g")))
    // cap: a phrase shared by maxDf+1 right-sides drops entirely
    val many = (10L to 12L).map(i => i -> "p q r s t tail")
    val capped = docs((1L -> "x p q r s t") +: many: _*)
    assert(Dedup.stitchPairs(capped, maxDf = 2).collect()
      .forall(_.getString(2) != "p q r s t"))
  }

  test("substringDupSpans: shared 8-token runs merge into maximal spans") {
    val d = docs(
      1L -> "a b c d e f g h i j",   // shares a 9-token run with doc 2
      2L -> "z a b c d e f g h i",
      3L -> "u v w x y z2 t")        // < 8 shared tokens with anyone
    val r = TextAnalysis.substringDupSpans(d).collect()
    assert(r.length == 1) // one source
    val row = r.head
    // (source, n_docs, total_tokens, docs_with_dup, n_spans, dup_tokens,
    //  dup_ppm): two overlapping dup windows per doc merge to ONE span
    // of 9 tokens each; doc 3 contributes nothing.
    assert(row.getLong(1) == 3L && row.getLong(2) == 27L)
    assert(row.getLong(3) == 2L && row.getLong(4) == 2L)
    assert(row.getLong(5) == 18L)
    assert(row.getLong(6) == 18L * 1000000 / 27)
  }

  test("dsirWeights: target-like docs outrank off-target docs") {
    val s2 = spark
    import s2.implicits._
    val d = Seq(
      (1L, "x y x y x y", "en"),   // pure target bigrams
      (2L, "x y a b c",   "de"),   // one target-seen bigram
      (3L, "p q r s t",   "de"))   // no target bigrams
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("test"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = TextAnalysis.dsirWeights(d).collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r.size == 3)
    assert(r(1L) > r(3L) && r(2L) > r(3L))
  }

  test("semanticDedup: identical cluster-mates drop, orthogonal survive") {
    val e = embs(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(1f, 0f, 0f, 0f), 0), // identical to 0 → dropped
      (2L, Seq(0f, 1f, 0f, 0f), 1),
      (3L, Seq(0f, 0f, 1f, 0f), 1))
    val r = Similarity.semanticDedup(e, threshold = 0.9, k = 2,
      sampleN = 4, iters = 1).collect()
    assert(r.map(_.getLong(1)).sum == 4L) // every vector counted once
    assert(r.map(_.getLong(2)).sum == 1L) // exactly vec 1 dropped
    // keep_ppm consistency on every cluster row
    assert(r.forall(x =>
      x.getLong(3) == (x.getLong(1) - x.getLong(2)) * 1000000 / x.getLong(1)))
  }

  test("semanticDedupTwoLevel: identical vectors share both cells and drop") {
    val e = embs(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(1f, 0f, 0f, 0f), 0), // identical to 0 → same (k1,k2) cell
      (2L, Seq(0f, 1f, 0f, 0f), 1),
      (3L, Seq(0f, 0f, 1f, 0f), 1))
    val r = Similarity.semanticDedupTwoLevel(e, threshold = 0.9,
      k1 = 2, k2 = 2, sampleN = 4, iters = 1).collect()
    assert(r.map(_.getLong(1)).sum == 4L) // every vector counted once
    assert(r.map(_.getLong(2)).sum == 1L) // identical pair still caught
    assert(r.forall(x =>
      x.getLong(3) == (x.getLong(1) - x.getLong(2)) * 1000000 / x.getLong(1)))
    // the two-level prune is a subset of single-level: never drops MORE
    val single = Similarity.semanticDedup(e, threshold = 0.9, k = 2,
      sampleN = 4, iters = 1).collect()
    assert(r.map(_.getLong(2)).sum <= single.map(_.getLong(2)).sum)
  }

  test("sourceMixture: sqrt tempering boosts the small source") {
    val s = spark
    import s.implicits._
    // 16 docs in "big", 4 in "small": natural 800000/200000 ppm;
    // sqrt weights 4e6/2e6 → tempered 666666/333333 ppm
    val d = ((1L to 16L).map(i => (i, s"text $i", "big")) ++
      (17L to 20L).map(i => (i, s"text $i", "small")))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = Sampling.sourceMixture(d).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(3), x.getLong(4),
        x.getLong(5))).toSeq
    assert(r == Seq(
      ("big", 16L, 800000L, 666666L, 833332L),
      ("small", 4L, 200000L, 333333L, 1666665L)))
  }

  test("packingReport: exact truncation and waste under both regimes") {
    val s = spark
    import s.implicits._
    // token counts (letters-only texts): 3, 5 → with L=4: doc2
    // truncates 1 token; concat: 8 tokens → 2 seqs, 0 waste;
    // isolated: ceil(3/4)+ceil(5/4) = 3 seqs → 12-8 = 4 pad tokens
    val d = Seq((1L, "a b c", "s1"), (2L, "a b c d e", "s1"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = Sampling.packingReport(d, seqLen = 4).collect()
    assert(r.length == 1)
    val x = r.head
    // (source, n_docs, n_tokens, docs_truncated, tokens_lost,
    //  concat_seqs, isolated_seqs, concat_waste_ppm, isolated_waste_ppm)
    assert((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4),
      x.getLong(5), x.getLong(6), x.getLong(7), x.getLong(8)) ==
      (2L, 8L, 1L, 1L, 2L, 3L, 0L, 4L * 1000000 / 12))
  }

  test("packingReport: zero-token source yields NULL waste, never raises") {
    val s = spark
    import s.implicits._
    // whitespace-only texts tokenize to 0 subword tokens, so both seq
    // counts are 0 — the ppm denominators the CASE guards protect. The
    // pin: NULL on both engines (the q131 oracle carries the same CASE;
    // DuckDB's bare // would raise instead).
    val d = Seq((1L, "   ", "empty"), (2L, "", "empty"),
        (3L, "a b c", "real"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = Sampling.packingReport(d, seqLen = 4).collect()
      .sortBy(_.getString(0))
    assert(r.length == 2)
    val e = r.head
    assert((e.getString(0), e.getLong(1), e.getLong(2), e.getLong(5),
      e.getLong(6)) == ("empty", 2L, 0L, 0L, 0L))
    assert(e.isNullAt(7) && e.isNullAt(8),
      "zero-seq source must report NULL waste ppm")
    val x = r(1)
    assert(x.getString(0) == "real" && !x.isNullAt(7) && !x.isNullAt(8))
  }

  test("sampleRateCensus: deterministic across layouts, near-target rate") {
    val s = spark
    import s.implicits._
    val d = (1L to 400L).map(i => (i, s"text $i", s"s${i % 2}"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r1 = Sampling.sampleRateCensus(d).collect().map(_.toSeq).toSeq
    val r2 = Sampling.sampleRateCensus(d.repartition(13)).collect()
      .map(_.toSeq).toSeq
    assert(r1 == r2) // content-pure: partitioning can't change the sample
    // md5 mixing keeps each stratum near the 25% target (loose band —
    // the pin is determinism and the census shape, not the tail bound)
    r1.foreach { row =>
      val ppm = row(4).asInstanceOf[Long]
      assert(ppm > 120000 && ppm < 380000, s"achieved_ppm $ppm off target")
    }
  }

  test("repetitionReport: looping doc flagged, varied doc clean") {
    val d = docs(
      1L -> "buy now buy now buy now buy now", // "buy now" 4 of 7 bigrams
      2L -> "one two three four five six seven eight", // all distinct
      3L -> "solo") // < 2 tokens: no bigrams, absent from the report
    val r = TextAnalysis.repetitionReport(d).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getBoolean(4))).toSeq
    assert(r == Seq(
      (1L, 7L, 4L, 4L * 1000000 / 7, true),
      (2L, 7L, 1L, 1L * 1000000 / 7, false)))
  }

  test("tokenizerFertility: exact word/subword/char ratios per lang") {
    val d = docs(1L -> "ab cd.") // 2 words; regex tokens: ab, cd, "."
    val r = TextAnalysis.tokenizerFertility(d).collect()
    assert(r.length == 1)
    val row = r.head
    // (lang, n_docs, n_words, n_bpe_tokens, n_chars, fertility_ppm,
    //  chars_per_token_ppm)
    assert(row.getLong(2) == 2L && row.getLong(3) == 3L)
    assert(row.getLong(5) == 1500000L)
    assert(row.getLong(6) == 6L * 1000000 / 3)
  }

  test("dimMoments: exact mean and variance per dimension") {
    val e = embs((0L, Seq(1f, 3f), 0), (1L, Seq(3f, 1f), 1))
    val r = Similarity.dimMoments(e).collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(r.forall(_.getLong(1) == 2L))
    assert(r.forall(x => x.getDouble(2) == 2.0 && x.getDouble(3) == 1.0))
  }

  test("semanticDecontamination: near-bench train vectors flagged") {
    val e = embs(
      (0L, Seq(1f, 0f, 0f, 0f), 0),  // bench
      (1L, Seq(1f, 0f, 0f, 0f), 0),  // train, identical → flagged
      (2L, Seq(0f, 1f, 0f, 0f), 1),  // train, orthogonal → clean
      (3L, Seq(0f, 0f, 1f, 0f), 1))  // train, orthogonal → clean
    val r = Similarity.semanticDecontamination(e,
      isBench = col("vec_id") === 0, threshold = 0.9, k = 2,
      sampleN = 4, iters = 1, nprobe = 2).collect()
    assert(r.map(_.getLong(1)).sum == 3L) // every train vector counted
    assert(r.map(_.getLong(2)).sum == 1L) // exactly vec 1 flagged
  }

  test("hardNegatives: same-label vectors excluded, rank by cosine") {
    val e = embs(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(1f, 0f, 0f, 0f), 0), // same label → never a negative
      (2L, Seq(1f, 1f, 0f, 0f), 1), // cos ≈ 0.707 → rank 1
      (3L, Seq(0f, 1f, 0f, 0f), 1)) // cos 0 → rank 2
    val r = Similarity.hardNegatives(e, maxQid = 1, k = 2).collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(2L, 3L))
    assert(r.map(_.getLong(3)).toSeq == Seq(1L, 2L))
  }

  test("sessionPaths: trigrams never cross a session boundary") {
    val s2 = spark
    import s2.implicits._
    // user 1: (view click view click) | >30min gap | (view click);
    // the session-spanning windows around the gap must NOT count.
    // user 2: (view click view) — one more (view,click,view).
    val ev = Seq(
      (1L, 0L, 1L, "view"), (2L, 10L * 1000000000L, 1L, "click"),
      (3L, 20L * 1000000000L, 1L, "view"), (4L, 30L * 1000000000L, 1L, "click"),
      (5L, 10000L * 1000000000L, 1L, "view"),
      (6L, 10010L * 1000000000L, 1L, "click"),
      (7L, 0L, 2L, "view"), (8L, 5L * 1000000000L, 2L, "click"),
      (9L, 10L * 1000000000L, 2L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = EventFunnel.sessionPaths(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("view", "click", "view", 2L), ("click", "view", "click", 1L)))
  }

  test("transitionConcentration: modal share + Simpson, min-type tiebreak") {
    val s2 = spark
    import s2.implicits._
    // user 1: view→click→view→click; user 3: a→b→a→c (a's next ties)
    val ev = Seq(
      (1L, 0L, 1L, "view"), (2L, 1000000000L, 1L, "click"),
      (3L, 2000000000L, 1L, "view"), (4L, 3000000000L, 1L, "click"),
      (10L, 0L, 3L, "a"), (11L, 1000000000L, 3L, "b"),
      (12L, 2000000000L, 3L, "a"), (13L, 3000000000L, 3L, "c"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = EventFunnel.transitionConcentration(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4),
          r.getDouble(5)))).toMap
    assert(out("view") == ((2L, 1L, "click", 1000000L, 1.0)))
    assert(out("click") == ((1L, 1L, "view", 1000000L, 1.0)))
    // a→{b:1, c:1}: tie resolves to the smaller type; Simpson = 2/4
    assert(out("a") == ((2L, 2L, "b", 500000L, 0.5)))
    assert(out("b") == ((1L, 1L, "a", 1000000L, 1.0)))
  }

  test("acquisitionAttribution: first-touch buckets with exact ppm rates") {
    val s2 = spark
    import s2.implicits._
    val ev = Seq(
      (1L, 0L, 1L, "view"), (2L, 1000000000L, 1L, "purchase"),
      (3L, 2000000000L, 1L, "purchase"),
      (4L, 5000000000L, 2L, "view"),
      (5L, 0L, 3L, "signup"), (6L, 1000000000L, 3L, "purchase"),
      // user 4: two events in the SAME truncated second — the
      // smaller event_id (8 → click) is the first touch
      (9L, 900000000L, 4L, "error"), (8L, 100000000L, 4L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = EventFunnel.acquisitionAttribution(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(out("view") == ((2L, 1L, 2L, 500000L, 1000000L)))
    assert(out("signup") == ((1L, 1L, 1L, 1000000L, 1000000L)))
    assert(out("click") == ((1L, 0L, 0L, 0L, 0L)))
    assert(!out.contains("error"))
  }

  test("robustLengthOutliers: lower-median MAD census, MAD=0 degradation") {
    val s2 = spark
    import s2.implicits._
    val d = Seq(
      (1L, 10L, "s1"), (2L, 12L, "s1"), (3L, 11L, "s1"),
      (4L, 13L, "s1"), (5L, 100L, "s1"),
      // s2: over half at one length → MAD 0 → every off-median doc flags
      (6L, 5L, "s2"), (7L, 5L, "s2"), (8L, 5L, "s2"), (9L, 7L, "s2"))
      .toDF("doc_id", "n_chars", "source")
    val out = Sampling.robustLengthOutliers(d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    // s1: med 12, devs {2,1,0,1,88} → MAD 1; 88·10 > 35 → one outlier
    assert(out("s1") == ((5L, 12L, 1L, 1L, 88L)))
    // s2: med 5, MAD 0; dev 2 flags (2·10 > 0)
    assert(out("s2") == ((4L, 5L, 0L, 1L, 2L)))
  }

  test("methodAgreement: lexical × semantic confusion cells") {
    val s2 = spark
    import s2.implicits._
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog again today",
      2L -> "the quick brown fox jumps over the lazy dog again tomorrow",
      4L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa one",
      5L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa two",
      3L -> "completely different words entirely unrelated content here now")
    val embs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)), // identical → cos 1
      (4L, Array(1f, 0f)), (5L, Array(0f, 1f)), // orthogonal → cos 0
      (3L, Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Dedup.methodAgreement(d, embs).collect()
      .map(r => ((r.getBoolean(0), r.getBoolean(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6))))
    // candidates are exactly (1,2) and (4,5), both J = 0.8 → text dups;
    // the embedding verdict splits them into two cells
    assert(out.toSeq == Seq(
      ((true, false), (1L, 800000L, 800000L, 0.0, 0.0)),
      ((true, true), (1L, 800000L, 800000L, 1.0, 1.0))))
  }

  test("pqCensus: identical vectors collapse to code 0 with zero error") {
    val s2 = spark
    import s2.implicits._
    // 4 identical vectors: every init centroid is the same point, so
    // ties route every subvector to code 0 and the quantization error
    // is exactly zero in both subspaces
    val embs = Seq.tabulate(4)(i =>
      (i.toLong, Array(1f, 0f, 0.5f, -0.25f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.pqCensus(embs, m = 2, dim = 4, codes = 2,
      sampleN = 4, iters = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 0L, 4L, 0L), (1L, 0L, 4L, 0L)))
  }

  test("pqCensus: counts conserve per subspace; error is iteration-" +
    "monotone non-increasing on the training sample") {
    val s2 = spark
    import s2.implicits._
    // deterministic spread of 12 vectors in 2 subspaces of 2 dims
    val embs = Seq.tabulate(12) { i =>
      (i.toLong, Array(
        (i % 3).toFloat, ((i * 7) % 5).toFloat / 4f,
        ((i * 3) % 4).toFloat / 3f, (i % 2).toFloat))
    }.toDF("vec_id", "embedding")
    def run(iters: Int) = Similarity.pqCensus(embs, m = 2, dim = 4,
      codes = 2, sampleN = 12, iters = iters).collect()
    val two = run(2)
    // every subspace's code counts sum to N
    assert(two.groupBy(_.getLong(0)).values
      .forall(_.map(_.getLong(2)).sum == 12L))
    // Lloyd never increases total quantization error when the sample
    // IS the corpus (assignment and update steps both non-increasing)
    val err = (1 to 3).map(it => run(it).map(_.getLong(3)).sum)
    assert(err.sliding(2).forall { case Seq(a, b) => b <= a })
    // deterministic: same plan → identical rows on re-run
    assert(run(2).map(_.toSeq).toSeq == two.map(_.toSeq).toSeq)
  }

  test("pqAdcTopK: separated blobs rank own-cluster candidates first " +
    "with exact table-sum distances") {
    val s2 = spark
    import s2.implicits._
    // two exactly-repeated blobs: X=[1,0] (ids 0-2), Y=[0,1] (ids 3-5).
    // Lloyd separates them within 2 iterations from ANY md5 init (both
    // seeds in one blob: iter1 centers {mean, X}, iter2 splits), so the
    // ADC distances are exactly 0 (own code) and 2 (other code)
    val embs = (Seq.tabulate(3)(i => (i.toLong, Array(1f, 0f))) ++
      Seq.tabulate(3)(i => (i + 3L, Array(0f, 1f))))
      .toDF("vec_id", "embedding")
    val out = Similarity.pqAdcTopK(embs, maxQid = 1, topK = 5, m = 1,
      dim = 2, codes = 2, sampleN = 6, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, 1L, 0.0, 1L), (0L, 2L, 0.0, 2L),
      (0L, 3L, 2.0, 3L), (0L, 4L, 2.0, 4L), (0L, 5L, 2.0, 5L)))
  }

  test("pqRecall: perfect recall on separated blobs, zero-hit queries " +
    "still report") {
    val s2 = spark
    import s2.implicits._
    val embs = (Seq.tabulate(3)(i => (i.toLong, Array(1f, 0f))) ++
      Seq.tabulate(3)(i => (i + 3L, Array(0f, 1f))))
      .toDF("vec_id", "embedding")
    // blobs: ADC and exact L2 agree on every neighbor → recall 10⁶ ppm
    val out = Similarity.pqRecall(embs, maxQid = 1, topK = 5, m = 1,
      dim = 2, codes = 2, sampleN = 6, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 5L, 1000000L)))
  }

  test("volumeTrend: exact closed-form slope; single-day type is NULL") {
    val s2 = spark
    import s2.implicits._
    val D = 86400L * 1000000000L
    // type a: counts 1,2,3 on days 0,1,2 → slope exactly 1.0
    // type b: one active day → denominator 0 → NULL slope
    val ev = (Seq((1L, 0L * D, 1L, "a"),
      (2L, 1L * D, 1L, "a"), (3L, 1L * D + 5, 2L, "a"),
      (4L, 2L * D, 1L, "a"), (5L, 2L * D + 5, 2L, "a"),
      (6L, 2L * D + 9, 3L, "a"),
      (7L, 0L, 9L, "b")))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = EventFunnel.volumeTrend(ev).collect()
    val a = out.find(_.getString(0) == "a").get
    assert((a.getLong(1), a.getLong(2), a.getLong(3), a.getLong(4),
      a.getDouble(5)) == ((3L, 6L, 0L, 2L, 1.0)))
    val b = out.find(_.getString(0) == "b").get
    assert(b.isNullAt(5) && b.getLong(1) == 1L)
  }

  test("volumeTrend: final-select products survive int64-wrapping " +
    "moment magnitudes (DECIMAL path)") {
    val s2 = spark
    import s2.implicits._
    // a corpus the moment columns can carry in int64 but whose
    // final-select products (n_days·Σxy, Σx·total) wrap int64: a
    // ~20k-day span at ~10 M events/day. Feed the moments directly —
    // 2·10¹¹ rows cannot be materialized in a test. Exact linear
    // y = 10_000_000·1 per day over days d0..d0+n-1 → slope must come
    // out exactly 0.0 (constant counts) with NO sign flip / garbage
    // from a wrapped product.
    val d0 = 20000L
    val n = 20000L
    val perDay = 10000000L
    val days = (d0 until d0 + n)
    val moments = Seq(("big", n, perDay * n, d0, d0 + n - 1,
      days.map(d => d * perDay).sum, // Σxy ≈ 6·10¹⁵ — fits int64
      days.sum, days.map(d => d * d).sum))
      .toDF("event_type", "n_days", "total", "first_day", "last_day",
        "sxy", "sx", "sxx")
    // int64 products would wrap: n_days·Σxy ≈ 1.2·10²⁰ > 2⁶³
    assert(BigInt(n) * days.map(d => d * perDay).sum > BigInt(Long.MaxValue))
    val out = EventFunnel.volumeTrendFromMoments(moments).collect()
    assert(out.length == 1 && out.head.getDouble(5) == 0.0)

    // and a sloped variant: counts perDay + d − d0 → slope exactly 1.0
    val m2 = Seq(("big2", n, days.map(d => perDay + d - d0).sum,
      d0, d0 + n - 1,
      days.map(d => d * (perDay + d - d0)).sum,
      days.sum, days.map(d => d * d).sum))
      .toDF("event_type", "n_days", "total", "first_day", "last_day",
        "sxy", "sx", "sxx")
    val out2 = EventFunnel.volumeTrendFromMoments(m2).collect()
    assert(out2.length == 1 && out2.head.getDouble(5) == 1.0)
  }

  test("methodAgreement: exact-dup collapse equals the uncollapsed " +
    "spelling on a duplicated corpus") {
    val s2 = spark
    import s2.implicits._
    // near-dup texts A/B plus EXACT copies of each (the replica
    // structure that blew up the uncollapsed path), one unrelated
    val tA = "the quick brown fox jumps over the lazy dog again today"
    val tB = "the quick brown fox jumps over the lazy dog again tomorrow"
    val d = docs(1L -> tA, 11L -> tA, 2L -> tB, 21L -> tB,
      3L -> "completely different words entirely unrelated content here now")
    // copies get DIFFERENT embeddings so per-member-pair cosines differ
    // (the reason expansion must materialize pairs, not just counts)
    val embs = Seq(
      (1L, Array(1f, 0f)), (11L, Array(0f, 1f)),
      (2L, Array(1f, 0f)), (21L, Array(0.8f, 0.6f)),
      (3L, Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    val collapsed = Dedup.methodAgreement(d, embs).collect()
    // the uncollapsed spelling: verifiedPairStats over the FULL corpus
    val e = embs.select(col("vec_id"), col("embedding"))
    val uncollapsed = Dedup.verifiedPairStats(d)
      .join(e.select(col("vec_id").as("a"), col("embedding").as("ea")), "a")
      .join(e.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
      .select(col("i"), col("u"),
        Similarity.cosine(col("ea"), col("eb")).as("cos"))
      .groupBy((col("i") * 1000000L >= lit(500000L) * col("u")).as("text_dup"),
        (col("cos") * 1000 >= lit(900.0)).as("embed_dup"))
      .agg(count(lit(1)).as("n_pairs"),
        min(expr("i * 1000000 DIV u")).as("min_jac_ppm"),
        max(expr("i * 1000000 DIV u")).as("max_jac_ppm"),
        min(col("cos")).as("min_cos"), max(col("cos")).as("max_cos"))
      .orderBy("text_dup", "embed_dup").collect()
    assert(collapsed.toSeq == uncollapsed.toSeq)
    // and the duplicated corpus genuinely exercises both cells with
    // multi-pair counts: 2 within-group J=1 pairs + 4 cross near-dup
    // pairs split by the embedding verdict
    assert(collapsed.map(_.getLong(2)).sum == 6L)
  }

  test("timeToConvert: strictly-after first view, exact cohort percentiles") {
    val s2 = spark
    import s2.implicits._
    val G = 1000000000L
    val ev = Seq(
      // u1: view@10s, purchase@30s → delay 20 (an earlier purchase@5s
      // must NOT count — not strictly after the first view)
      (1L, 5L * G, 1L, "purchase"), (2L, 10L * G, 1L, "view"),
      (3L, 30L * G, 1L, "purchase"),
      // u2: view@0, purchase@100 → delay 100
      (4L, 0L, 2L, "view"), (5L, 100L * G, 2L, "purchase"),
      // u3: view only — never converts
      (6L, 0L, 3L, "view"),
      // u4: purchase only — no view, excluded
      (7L, 50L * G, 4L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = EventFunnel.timeToConvert(ev).collect()
    assert(out.length == 1)
    val r = out.head
    // cohort week 0: delays {20, 100} → n 2, p50 20 (lower), p90 100
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((0L, 2L, 20L, 20L, 100L, 100L)))
  }

  test("rfmSegments: value-based tercile cuts over exact cents") {
    val s2 = spark
    import s2.implicits._
    val G = 1000000000L
    val D = 86400L * G
    // three purchasers: u1 recent/frequent/big, u2 middle, u3 stale/
    // one-shot/small; anchor day = u1's last purchase day (day 10)
    val ev = Seq(
      (1L, 10L * D, 1L, "purchase", 50.0), (2L, 10L * D + G, 1L, "purchase", 50.0),
      (3L, 10L * D + 2 * G, 1L, "purchase", 50.0),
      (4L, 8L * D, 2L, "purchase", 20.0), (5L, 9L * D, 2L, "purchase", 20.0),
      (6L, 1L * D, 3L, "purchase", 5.0),
      (7L, 10L * D, 3L, "view", 1.0)) // non-purchase: ignored
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventFunnel.rfmSegments(ev).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        (r.getLong(3), r.getLong(4), r.getDouble(5))))
    // recency: u1 0, u2 1, u3 9 → cuts t1=0, t2=1 → segs 1/2/3
    // freq:    u1 3, u2 2, u3 1 → cuts t1=1, t2=2 → segs 3/2/1
    // dollars: u1 150, u2 40, u3 5 → cuts t1=5, t2=40 → segs 3/2/1
    assert(out.toSeq == Seq(
      ((1L, 3L, 3L), (1L, 3L, 150.0)),
      ((2L, 2L, 2L), (1L, 2L, 40.0)),
      ((3L, 1L, 1L), (1L, 1L, 5.0))))
  }

  test("tokenGini: closed-form rank sums match the textbook Gini; " +
    "degenerate source is NULL") {
    // source x token counts [1,1,2,4]: sorted ranks 1..4 →
    // R = 1+2+6+16 = 25, G = (2·25 − 5·8)/(4·8) = 10/32 = 0.3125.
    // source y: one doc → G = (2·1 − 2·1)/(1·1) = 0.
    // source z: empty texts only → total 0 → NULL.
    val d = Seq(
      (1L, "a", "x"), (2L, "b", "x"), (3L, "a b", "x"),
      (4L, "a b c d", "x"),
      (5L, "hello", "y"),
      (6L, "", "z"), (7L, "", "z"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.tokenGini(d).collect()
    val x = out.find(_.getString(0) == "x").get
    assert((x.getLong(1), x.getLong(2), x.getDouble(3)) == ((4L, 8L, 0.3125)))
    assert(out.find(_.getString(0) == "y").get.getDouble(3) == 0.0)
    assert(out.find(_.getString(0) == "z").get.isNullAt(3))
  }

  test("typeAffinity: pair counts, support and lift over sessions") {
    val D = 86400L * 1000000000L
    // user 1: session {a, b} then (gap > 1800s) session {b, c};
    // user 2: session {b}. n_sessions = 3, n_a = 1, n_b = 3, n_c = 1.
    val ev = Seq(
      (1L, 0L, 1L, "a"), (2L, 100L * 1000000000L, 1L, "b"),
      (3L, D, 1L, "b"), (4L, D + 500L * 1000000000L, 1L, "c"),
      (5L, 0L, 2L, "b"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = EventFunnel.typeAffinity(ev).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))))
    // (a,b): n_ab=1, support 1e6//3, lift = 1·3·1e6 // (1·3) = 1e6
    // (b,c): n_ab=1, lift = 1·3·1e6 // (3·1) = 1e6
    assert(out.toSeq == Seq(
      (("a", "b"), (1L, 1L, 3L, 3L, 333333L, 1000000L)),
      (("b", "c"), (1L, 3L, 1L, 3L, 333333L, 1000000L))))
  }

  test("weeklySeasonality: ISO weekday anchor, peak and exact Simpson") {
    val D = 86400L * 1000000000L
    // epoch day 0 = Thursday → ISO dow 3; day 1 = Friday → 4.
    // type a: 2 events Thursday + 1 Friday → peak (3, 666666 ppm),
    // hhi = (4+1)·10⁶ // 9 = 555555.
    val ev = Seq(
      (1L, 0L, 1L, "a"), (2L, 5L, 2L, "a"), (3L, D, 1L, "a"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = EventFunnel.weeklySeasonality(ev).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq ==
      Seq(("a", 3L, 2L, 3L, 666666L, 555555L)))
  }

  test("dupSpreadCensus: cross-source vs intra-source spread; " +
    "singletons excluded") {
    // text A ×3 over two sources (2 in s1, 1 in s2) → cell (3, 2):
    // spill 1 → 333333 ppm. text B ×2 in one source → cell (2, 1):
    // spill 0. text C singleton → excluded.
    val d = Seq(
      (1L, "aaa", "s1"), (2L, "aaa", "s1"), (3L, "aaa", "s2"),
      (4L, "bbb", "s1"), (5L, "bbb", "s1"),
      (6L, "ccc", "s1"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.dupSpreadCensus(d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    assert(out.toSeq == Seq(
      ((2L, 1L), (1L, 2L, 0L, 0L)),
      ((3L, 2L), (1L, 3L, 1L, 333333L))))
  }

  test("sourceDrift: exact total-variation ppm incl. absent-term mass") {
    // s1 = "a a b" (a:2, b:1, S=3); s2 = "b" (S=1). Corpus: a:2, b:2,
    // T=4. TV(s1) = ½(|2/3−1/2| + |1/3−1/2|) = 1/6 → 166666 ppm.
    // TV(s2) = ½(|0−1/2| + |1−1/2|) = 1/2 → 500000 ppm (the a-term is
    // ABSENT from s2 — covers the (T−cov)·S term).
    val d = Seq((1L, "a a b", "s1"), (2L, "b", "s2"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceDrift(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("s1", 3L, 2L, 166666L), ("s2", 1L, 1L, 500000L)))
  }

  test("powerUserShare: straddling value-run sliced exactly") {
    val G = 1000000000L
    // users with counts u1:10, u2:10, u3:1 — the 50% cut (k=2) lands
    // INSIDE the c=10 run: covered = 10·min(2, 2−0) = 20 of 21.
    val ev = (Seq.tabulate(10)(i => (i.toLong, i * G, 1L, "e")) ++
      Seq.tabulate(10)(i => (100L + i, i * G, 2L, "e")) ++
      Seq((200L, 0L, 3L, "e")))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = EventFunnel.powerUserShare(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // pct 1: k=(3·1+99)//100=1 → 10/21; pct 10: k=1 → 10/21;
    // pct 50: k=(150+99)//100=2 → 20/21.
    assert(out.toSeq == Seq(
      (1L, 1L, 21L, 10L, 476190L),
      (10L, 1L, 21L, 10L, 476190L),
      (50L, 2L, 21L, 20L, 952380L)))
  }

  test("seasonalAnomalies: hot/cold judged against the day's own " +
    "weekday mean by exact cross-multiplication") {
    val D = 86400L * 1000000000L
    // type a on three Thursdays (days 0, 7, 14) with counts 1, 1, 4:
    // weekday mean 2 → the two 1-count days are cold (0.5×), the
    // 4-count day hot (2.0×); ratios 500000 / 2000000 ppm exactly.
    val ev = (Seq((1L, 0L, 1L, "a"), (2L, 7L * D, 1L, "a")) ++
      Seq.tabulate(4)(i => (10L + i, 14L * D + i, 1L, "a")))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = EventFunnel.seasonalAnomalies(ev).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq ==
      Seq(("a", 3L, 1L, 2L, 2000000L, 500000L)))
  }

  test("rollingActive: trailing-window distinct actives with span trim") {
    val D = 86400L * 1000000000L
    // u1 active on days 0 and 8, u2 on day 1 → windows [d, d+6];
    // day 8's window is trimmed at the observed max day.
    val ev = Seq(
      (1L, 0L, 1L, "e"), (2L, 10L, 1L, "e"), // same (user, day): collapses
      (3L, 1L * D, 2L, "e"), (4L, 8L * D, 1L, "e"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = EventFunnel.rollingActive(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, 1L, 1L, 1000000L), (1L, 1L, 2L, 500000L),
      (2L, 0L, 2L, 0L), (3L, 0L, 2L, 0L), (4L, 0L, 2L, 0L),
      (5L, 0L, 2L, 0L), (6L, 0L, 2L, 0L), (7L, 0L, 1L, 0L),
      (8L, 1L, 1L, 1000000L)))
  }

  test("rollingActive: delta, fan-out and bitmap spellings are " +
    "value-identical across word boundaries, gaps, and window widths") {
    val s2 = spark
    import s2.implicits._
    val D = 86400L * 1000000000L
    // deterministic pseudo-random active days engineered around the
    // 64-day word structure: boundary days (63, 64, 127, 128),
    // adjacent-word spans, multi-word gaps, isolated singletons
    val rnd = new scala.util.Random(13)
    val rows = (1 to 40).flatMap { u =>
      val base = rnd.nextInt(200).toLong
      val days = Seq(base, base + 63, base + 64, base + 1,
        base + 130 + rnd.nextInt(5)) ++
        Seq.fill(rnd.nextInt(4))(rnd.nextInt(400).toLong)
      days.distinct.zipWithIndex.map { case (d, i) =>
        (u * 1000L + i, d * D + rnd.nextInt(1000), u.toLong, "e")
      }
    }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type")
    for (w <- Seq(1, 2, 7, 13, 63, 64)) {
      val a = EventFunnel.rollingActive(ev, w).collect().toSeq
      val b = EventFunnel.rollingActiveBitmap(ev, w).collect().toSeq
      val c = EventFunnel.rollingActiveFanout(ev, w).collect().toSeq
      assert(a == b, s"delta vs bitmap, windowDays=$w")
      assert(a == c, s"delta vs fanout, windowDays=$w")
    }
    // past the bitmap's 64-day single-word spill bound the delta and
    // fan-out spellings still agree
    for (w <- Seq(90, 365)) {
      val a = EventFunnel.rollingActive(ev, w).collect().toSeq
      val c = EventFunnel.rollingActiveFanout(ev, w).collect().toSeq
      assert(a == c, s"delta vs fanout, windowDays=$w")
    }
  }

  test("knnLabelEval: majority vote over exact-cosine neighbours, " +
    "per-label accuracy") {
    val s2 = spark
    import s2.implicits._
    // eval: 0 (label 1, ≈x-axis), 17 (label 2, ≈y-axis); train: 1,2,3
    // label 1 near x, 4,5 label 2 near y. k=5 takes ALL train → votes
    // 3:2 label 1 every time → eval 0 correct, eval 17 wrong.
    val embs = Seq(
      (0L, Array(1f, 0f), 1), (17L, Array(0f, 1f), 2),
      (1L, Array(1f, 0.01f), 1), (2L, Array(1f, 0.02f), 1),
      (3L, Array(1f, 0.03f), 1),
      (4L, Array(0.01f, 1f), 2), (5L, Array(0.02f, 1f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelEval(embs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 1L, 1L, 1000000L), (2L, 1L, 0L, 0L)))
  }

  test("knnLabelEvalBlocked: probing every cluster (nprobe = k) " +
    "degenerates to the exact eval") {
    val s2 = spark
    import s2.implicits._
    val embs = Seq(
      (0L, Array(1f, 0f), 1), (17L, Array(0f, 1f), 2),
      (1L, Array(1f, 0.01f), 1), (2L, Array(1f, 0.02f), 1),
      (3L, Array(1f, 0.03f), 1),
      (4L, Array(0.01f, 1f), 2), (5L, Array(0.02f, 1f), 2))
      .toDF("vec_id", "embedding", "label")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // candidates = union of ALL blocks = the full train set → the
    // blocked path must reproduce the exact census bit for bit
    assert(rows(Similarity.knnLabelEvalBlocked(embs, nClusters = 2,
      nprobe = 2, sampleN = 8, iters = 1)) ==
      rows(Similarity.knnLabelEval(embs)))
  }

  test("knnEvalPlan: exact broadcast below the crossover, derived " +
    "blocking at or above it") {
    assert(Similarity.knnEvalPlan(353L, 5647L) == Left(353L))
    assert(Similarity.knnEvalPlan(Similarity.KnnEvalExactMax - 1,
      1000000L) == Left(Similarity.KnnEvalExactMax - 1))
    // at the crossover the default must stop broadcasting: blocked,
    // with the knnGraph block sizing ceil(sqrt(nTrain/2))
    assert(Similarity.knnEvalPlan(Similarity.KnnEvalExactMax,
      1000000L) == Right(708))
    assert(Similarity.knnEvalPlan(100000L, 50L) == Right(8)) // floor
  }
}
