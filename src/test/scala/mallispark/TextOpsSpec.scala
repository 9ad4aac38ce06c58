package mallispark

import org.apache.spark.sql.Row
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.text.{Dedup, Multimodal, Similarity, TextOps}

/** Training-data ops: dedup families, similarity, text analysis,
  * multimodal stub plumbing. */
class TextOpsSpec extends SparkSuite {
  import scala.jdk.CollectionConverters._

  private def df(rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)

  private val docSchema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat today"), // near dup
    (4L, "completely different words about spark and data engineering"),
    (5L, "der hund und die katze sind nicht das problem heute"))

  private lazy val d = df(corpus.map(c => Row(c._1, c._2)), docSchema)

  test("exact dedup finds the identical pair only") {
    val groups = Dedup.exactDupGroups(d, "id", "text").collect()
    assert(groups.length === 1)
    assert(groups(0).getSeq[Long](2).sorted === Seq(1L, 2L))
  }

  test("minhash LSH: exact dups collide in every band; near-dups in some") {
    val cand = Dedup.minhashLSH(d, "id", "text", k = 16, bands = 8, n = 2)
      .collect()
    val pairs = cand.map(_.getSeq[Long](3).toSet)
    // exact dups have identical signatures: co-bucketed in ALL 8 bands
    // (the near-dup doc 3 may legitimately join some of those buckets)
    assert(pairs.count(p => p.contains(1L) && p.contains(2L)) === 8)
    assert(pairs.forall(p => p.contains(1L) == p.contains(2L)))
    // doc 4/5 share no shingles with 1-3: never bucketed together
    assert(!pairs.exists(p => p.contains(4L) && p.contains(1L)))
  }

  test("dupClusters: chains merge transitively; singletons never appear") {
    // edges 1-2, 2-3 (chain → one component {1,2,3}); 10-20 isolated pair;
    // vertex ids only from edges (no singleton rows)
    val pairSchema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))
    val pairs = df(Seq(Row(1L, 2L), Row(2L, 3L), Row(10L, 20L)), pairSchema)
    val out = Dedup.dupClusters(pairs, "id_a", "id_b")
      .orderBy("cluster_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ===
      Seq((1L, 3L, "1,2,3"), (10L, 2L, "10,20")))
    // empty pair set → empty output
    assert(Dedup.dupClusters(df(Seq.empty, pairSchema), "id_a", "id_b")
      .count() === 0L)
    // long chain needs multiple propagation rounds (diameter 5)
    val chain = df((1L to 5L).map(i => Row(i, i + 1)), pairSchema)
    val c2 = Dedup.dupClusters(chain, "id_a", "id_b").collect()
    assert(c2.length === 1 && c2(0).getString(2) === "1,2,3,4,5,6")
  }

  test("dupClustersStar: matches min-label output, handles long chains") {
    val pairSchema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))
    // adversarial diameter: a 40-node chain — O(log d) star rounds
    val chain = df((1L to 39L).map(i => Row(i, i + 1)), pairSchema)
    val c = Dedup.dupClustersStar(chain, "id_a", "id_b").collect()
    assert(c.length === 1 && c(0).getLong(0) === 1L && c(0).getLong(1) === 40L)
    // random-ish mixed graph: identical clusters from both algorithms
    val rnd = new scala.util.Random(7)
    val edges = (1 to 60).map { _ =>
      Row(rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)
    }.filter(r => r.getLong(0) != r.getLong(1))
    val pairs = df(edges, pairSchema)
    def canon(out: Array[org.apache.spark.sql.Row]) =
      out.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    assert(canon(Dedup.dupClustersStar(pairs, "id_a", "id_b").collect()) ===
      canon(Dedup.dupClusters(pairs, "id_a", "id_b", maxIter = 40).collect()))
    // empty input
    assert(Dedup.dupClustersStar(df(Seq.empty, pairSchema), "id_a", "id_b")
      .count() === 0L)
  }

  test("native minhashLSHFast: MinHashFromText signatures; dups collide") {
    import mallispark.expressions.MinHashFromText
    // the signature minhashLSHFast bands at k = 16, n = 2 (its codegen ≡
    // interpreted check is the MinHashFromText test below)
    val sig = d.select(F.col("id"),
        MinHashFromText(F.col("text"), 2, 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1L) === sig(2L)) // exact dups: same signature
    assert(sig(1L) !== sig(4L))
    assert(sig(1L).length === 16)
    // end-to-end fast LSH: dup pair co-bucketed in all bands
    val cand = Dedup.minhashLSHFast(d, "id", "text", k = 16, bands = 8, n = 2)
      .collect().map(_.getSeq[Long](3).toSet)
    assert(cand.count(p => p.contains(1L) && p.contains(2L)) === 8)
  }

  test("native SimHashFromText: codegen == interpreted; dups collide") {
    val sigDf = Dedup.simhashFast(d, "id", "text")
    val withCodegen = sigDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interpreted = try sigDf.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(withCodegen === interpreted)
    assert(withCodegen(1L) === withCodegen(2L)) // exact dups: same signature
    assert(withCodegen(1L) !== withCodegen(4L))
    // near-dup: small hamming distance → shares a 16-bit band
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(withCodegen(1L), withCodegen(3L)) < 16)
    val cands = Dedup.simhashFastCandidates(d, "id", "text")
      .collect().map(_.getSeq[Long](3).toSet)
    assert(cands.count(p => p.contains(1L) && p.contains(2L)) === 4)
  }

  test("simhash: identical texts share both halves; distinct texts differ") {
    val sigs = Dedup.simhashDF(d, "id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(4L))
    // near-dup: hamming distance of hi halves is small
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L)._1, sigs(3L)._1) +
      hamming(sigs(1L)._2, sigs(3L)._2) < 20)
    assert(sigs.values.forall { case (hi, lo) =>
      hi >= 0 && hi < (1L << 32) && lo >= 0 && lo < (1L << 32) })
  }

  test("ngram jaccard: dup pair = 1.0; near pair high; cross pair absent") {
    val pairs = Dedup.ngramJaccardPairs(d, "id", "text", n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0.5)
    assert(!pairs.keySet.exists(k => k._1 == 4L || k._2 == 4L))
  }

  test("LSH-gated jaccard recalls the full self-join pairs (scale path)") {
    // the within-buckets refinement must find every pair the standalone
    // quadratic join finds at a high threshold (near-dups co-bucket)
    val full = Dedup.ngramJaccardPairs(d, "id", "text", n = 2,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // rows-per-band = 1 → per-band collision prob = s; a 0.5-similar pair
    // misses all 16 bands with prob (1-s)^16 ≈ 1.5e-5 — deterministic here
    val gated = Dedup.ngramJaccardWithinBuckets(d, "id", "text", n = 2,
        threshold = 0.5, k = 16, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gated === full)
  }

  test("ShingleMinHash/H60Set kernels are BIT-identical to the Column md5 path") {
    import mallispark.expressions.{ShingleH60Set, ShingleMinHash}
    // edge cases the kernel must mirror exactly: leading whitespace
    // (split emits a leading empty token), whitespace runs, uppercase
    // (incl. non-ASCII È → è via UTF8String.toLowerCase), short docs
    val rows = Seq(
      Row(1L, "The quick Brown fox jumps over the lazy dog"),
      Row(2L, "  leading space then words go here"),
      Row(3L, "tabs\tand\nnewlines   and  runs of spaces everywhere"),
      Row(4L, "ÈCLAIR École mixed CASE tokens here"),
      Row(5L, "two words"),
      Row(6L, "one two three four five six seven"))
    val t = df(rows, StructType(Seq(StructField("id", LongType),
      StructField("text", StringType))))
    val sh = F.array_distinct(TextOps.shingles(F.col("text"), 3))
    val colSig = AffineMinHash(F.transform(sh, s => TextOps.h32(s)), 8)
    val kernelSig = ShingleMinHash(F.col("text"), 3, 8)
    val colSet = F.sort_array(F.array_distinct(F.transform(sh, s =>
      F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(LongType))))
    val kernelSet = ShingleH60Set(F.col("text"), 3)
    val got = t.select(F.col("id"), colSig.as("a"), kernelSig.as("b"),
      colSet.as("c"), kernelSet.as("d")).collect()
    got.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"minhash mismatch id=${r.getLong(0)}")
      assert(r.getSeq[Long](3) === r.getSeq[Long](4),
        s"h60 set mismatch id=${r.getLong(0)}")
    }
    // AffineMinHash itself: codegen == the k-pass Column formulation
    val mixCol = F.array((0 until 8).map(seed =>
      F.coalesce(F.array_min(F.transform(F.transform(sh, s => TextOps.h32(s)),
        h => (h * F.lit(2L * seed + 1) + F.lit(99991L * seed)) %
          Dedup.MinhashP)), F.lit(Long.MaxValue))): _*)
    val both = t.select(mixCol.as("x"), colSig.as("y")).collect()
    both.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("SimHashPortable kernel is BIT-identical to the Column vote path") {
    import mallispark.expressions.SimHashPortable
    val rows = Seq(
      Row(1L, "the Same tokens the same TOKENS repeated here now"),
      Row(2L, "  leading space and\ttabs mixed È uppercase"),
      Row(3L, "totally different words appear in this one text"))
    val t = df(rows, StructType(Seq(StructField("id", LongType),
      StructField("text", StringType))))
    val toks = F.array_distinct(TextOps.tokens(F.col("text")))
    val colHi = HashRefs.packBits(HashRefs.voteBits(
      F.transform(toks, x => TextOps.h32(F.lit("hi"), x))))
    val colLo = HashRefs.packBits(HashRefs.voteBits(
      F.transform(toks, x => TextOps.h32(F.lit("lo"), x))))
    val got = t.select(F.col("id"), colHi.as("chi"), colLo.as("clo"),
      SimHashPortable(F.col("text")).as("k")).collect()
    got.foreach { r =>
      assert(r.getLong(1) === r.getSeq[Long](3)(0),
        s"hi mismatch id=${r.getLong(0)}")
      assert(r.getLong(2) === r.getSeq[Long](3)(1),
        s"lo mismatch id=${r.getLong(0)}")
    }
  }

  test("MinHashFromText: codegen == interpreted; matches token semantics") {
    import mallispark.expressions.MinHashFromText
    val sigDf = d.select(F.col("id"),
      MinHashFromText(F.col("text"), 2, 16).as("sig"))
    val withCodegen = sigDf.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interpreted = try sigDf.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(withCodegen === interpreted)
    assert(withCodegen(1L) === withCodegen(2L)) // exact dups
    assert(withCodegen(1L) !== withCodegen(4L))
    assert(withCodegen(1L).length === 16)
    // case-insensitive (ASCII lowercase happens in the loop) and
    // whitespace-run tolerant
    val pair = df(Seq(Row(1L, "Alpha  Beta\tGamma"), Row(2L, "alpha beta gamma")),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
    val sigs = pair.select(F.col("id"),
      MinHashFromText(F.col("text"), 2, 8).as("s")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L))
  }

  test("shingle frequency cap drops ubiquitous shingles from the join") {
    // every doc shares the hot bigram "x x"; cap 2 removes it so the
    // only surviving intersections are the discriminative shingles
    val rows = Seq(
      Row(1L, "x x a b c"), Row(2L, "x x a b c"),
      Row(3L, "x x p q r"), Row(4L, "x x s t u"))
    val hot = df(rows, StructType(Seq(StructField("id", LongType),
      StructField("text", StringType))))
    val uncapped = Dedup.ngramJaccardPairs(hot, "id", "text", n = 2,
      threshold = 0.1).count()
    val capped = Dedup.ngramJaccardPairs(hot, "id", "text", n = 2,
      threshold = 0.1, maxShingleDf = 2).collect()
    assert(uncapped === 6) // all pairs share "x x" → full quadratic blowup
    // capped: only (1,2) survive — they share real content shingles
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L)))
  }

  test("BoundedCollectMin == slice(sort_array(collect_list),1,k) incl. merge") {
    import mallispark.expressions.BoundedCollectMin
    // 8 input partitions force the partial-aggregate merge path; group
    // sizes (~143) straddle both k=10 (truncating) and k=10000 (full)
    val rows = spark.range(0, 1000, 1, 8)
      .select(F.pmod(F.col("id") * 37, F.lit(7L)).as("g"), F.col("id"))
    for (k <- Seq(10, 10000)) {
      val mismatches = rows.groupBy("g").agg(
          BoundedCollectMin(F.col("id"), k).as("b"),
          F.slice(F.sort_array(F.collect_list(F.col("id"))), 1, k).as("ref"))
        .where(F.col("b") =!= F.col("ref")).count()
      assert(mismatches === 0, s"k=$k")
    }
  }

  test("BoundedStringSet: k smallest distinct strings across partitions") {
    import mallispark.expressions.BoundedStringSet
    val rows = spark.range(0, 300, 1, 6) // 6 partitions force merges
      .select(F.concat(F.lit("v"), F.pmod(F.col("id"), F.lit(20L))).as("s"))
    val got = rows.agg(BoundedStringSet(F.col("s"), 8).as("b"))
      .collect()(0).getSeq[String](0)
    val full = (0L until 20L).map(i => s"v$i").sorted
    assert(got === full.take(8))
    // k above the true cardinality: the COMPLETE distinct set
    val all = rows.agg(BoundedStringSet(F.col("s"), 64).as("b"))
      .collect()(0).getSeq[String](0)
    assert(all === full)

    // binary (UTF-8 byte) order, NOT UTF-16 code-unit order: U+FFFF is
    // a 3-byte sequence (EF BF BF) and sorts BELOW supplementary-plane
    // U+10000 (4-byte F0 90 80 80), while String.compareTo puts the
    // surrogate pair 𐀀 (0xD800 < 0xFFFF) first. The k=1
    // survivor must agree with Spark's own min() — and with DuckDB.
    val bmp = "￿"            // U+FFFF
    val supp = new String(Character.toChars(0x10000)) // U+10000
    assert(bmp.compareTo(supp) > 0) // UTF-16 order would pick supp
    val tricky = spark.createDataFrame(
      Seq(Tuple1(bmp), Tuple1(supp))).toDF("s").repartition(2)
    val one = tricky.agg(BoundedStringSet(F.col("s"), 1).as("b"),
        F.min(F.col("s")).as("m")).collect()(0)
    assert(one.getSeq[String](0) === Seq(one.getString(1)))
    assert(one.getString(1) === bmp) // UTF-8 byte order
    // both elements present and ascending in UTF-8 order at k=2
    assert(tricky.agg(BoundedStringSet(F.col("s"), 2).as("b"))
      .collect()(0).getSeq[String](0) === Seq(bmp, supp))
  }

  test("degenerate corpus: 100k-copy group emits bounded rows + true count") {
    val degen = spark.range(100000)
      .select(F.col("id"), F.lit("one boilerplate body").as("text"))
      .unionByName(d.select((F.col("id") + 1000000L).as("id"),
        F.col("text")))
    val g = Dedup.exactDupGroups(degen, "id", "text", maxMembers = 50)
      .collect()
    val big = g.find(_.getLong(1) === 100000L).get
    assert(big.getSeq[Long](2) === (0L until 50L)) // 50 smallest ids only
    val small = g.find(_.getLong(1) === 2L).get // base corpus's dup pair
    assert(small.getSeq[Long](2) === Seq(1000001L, 1000002L))
  }

  test("adversarial vocab at maxShingleDf=1: hot removal stays per-doc bounded") {
    // 2000 docs in 1000 identical pairs (doc 2j ≡ doc 2j+1): at df cap 1
    // EVERY shingle in the corpus is hot (df ≥ 2), so the hot set is the
    // whole ~3000-entry vocabulary — the shape that made the old
    // single-row collect_list broadcast grow with corpus content. The
    // exploded anti-join must drop them all: every doc's set empties,
    // all 1000 dup pairs vanish, and the job completes with per-doc
    // bounded aggregation state. Uncapped, the same corpus yields
    // exactly the 1000 identical pairs.
    val docs = spark.range(2000)
      .select(F.col("id"),
        F.concat(F.lit("common common u"), F.floor(F.col("id") / 2),
          F.lit(" v"), F.floor(F.col("id") / 2),
          F.lit(" w"), F.floor(F.col("id") / 2)).as("text"))
    val capped = Dedup.ngramJaccardWithinBuckets(docs.toDF(), "id", "text",
      n = 2, threshold = 0.5, k = 8, bands = 4, maxShingleDf = 1)
    assert(capped.count() === 0)
    // force the big-hot-set branch (anti-join) with a tiny broadcast cap:
    // same result, per-doc bounded state
    val cappedAnti = Dedup.ngramJaccardWithinBuckets(docs.toDF(), "id",
      "text", n = 2, threshold = 0.5, k = 8, bands = 4, maxShingleDf = 1,
      maxHotBroadcast = 10)
    assert(cappedAnti.count() === 0)
    val open = Dedup.ngramJaccardWithinBuckets(docs.toDF(), "id", "text",
      n = 2, threshold = 0.5, k = 8, bands = 4, maxShingleDf = 0)
    val pairs = open.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === (0L until 1000L).map(j => (2 * j, 2 * j + 1)).toSet)
  }

  test("hot-bucket cap: oversized LSH buckets are skipped, not expanded") {
    // 50 identical ≥n-token docs → every band bucket holds all 50 ids
    val many = spark.range(50).select(F.col("id"),
      F.lit("alpha beta gamma delta epsilon zeta").as("text"))
    val capped = Dedup.ngramJaccardWithinBuckets(many.toDF(), "id", "text",
      n = 2, threshold = 0.5, k = 8, bands = 4, maxBucket = 10)
    assert(capped.count() === 0) // buckets of 50 > 10: dropped, job alive
    val open = Dedup.ngramJaccardWithinBuckets(many.toDF(), "id", "text",
      n = 2, threshold = 0.5, k = 8, bands = 4, maxBucket = 100)
    assert(open.count() === 50L * 49 / 2) // cap above bucket size: exact
  }

  test("embedding near-dup hot-bucket cap skips oversized cells") {
    val emb = spark.range(20).select(F.col("id"),
      F.array_repeat(F.lit(1.0f), 8).as("v"))
    val capped = Similarity.nearDupPairs(emb.toDF(), "id", "v",
      threshold = 0.9, planes = 2, tables = 2, dims = 8, maxBucket = 10)
    assert(capped.count() === 0) // the single 20-member cell is skipped
    val open = Similarity.nearDupPairs(emb.toDF(), "id", "v",
      threshold = 0.9, planes = 2, tables = 2, dims = 8, maxBucket = 100)
    assert(open.count() === 20L * 19 / 2)
  }

  test("embedding near-dup pairs reject a non-integral id column") {
    val emb = spark.range(3).select(F.col("id").cast("string").as("sid"),
      F.array_repeat(F.lit(1.0f), 8).as("v"))
    val e = intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(emb, "sid", "v",
        threshold = 0.9, planes = 2, tables = 2, dims = 8)
    }
    assert(e.getMessage.contains("'sid'"), e.getMessage)
  }

  test("dupClustersStar refuses to label from a non-converged forest") {
    val pairs = df(Seq(Row(1L, 2L), Row(2L, 3L)),
      StructType(Seq(StructField("a", LongType), StructField("b", LongType))))
    intercept[IllegalStateException] {
      Dedup.dupClustersStar(pairs, "a", "b", maxIter = 0)
    }
    // min-label needs diameter rounds: a 4-chain cannot converge in 1
    intercept[IllegalStateException] {
      Dedup.dupClusters(df(Seq(Row(1L, 2L), Row(2L, 3L), Row(3L, 4L)),
        StructType(Seq(StructField("a", LongType),
          StructField("b", LongType)))), "a", "b", maxIter = 1)
    }
  }

  test("CosineSim kernel is BIT-identical to the Column HOF cosine") {
    val vecs = (0L to 199L).map { i =>
      Row(i,
        Array.tabulate(64)(j => (((i * 31 + j * 7) % 23).toFloat - 11f)),
        Array.tabulate(64)(j => (((i * 17 + j * 13) % 19).toFloat - 9f)))
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("a", ArrayType(FloatType)),
      StructField("b", ArrayType(FloatType))))
    val mismatches = df(vecs, schema)
      .select(Similarity.cosine(F.col("a"), F.col("b")).as("k"),
        Similarity.cosineColumns(F.col("a"), F.col("b")).as("c"))
      .where(F.col("k") =!= F.col("c")).count() // exact double equality
    assert(mismatches === 0)
    // length mismatch → null (zip_with null-padding semantics)
    val short = df(Seq(Row(1L, Array(1f, 2f), Array(1f, 2f, 3f))), schema)
      .select(Similarity.cosine(F.col("a"), F.col("b")).as("k")).collect()
    assert(short(0).isNullAt(0))
    // a null ELEMENT → null, matching the HOF form's null propagation
    val nullable = StructType(Seq(StructField("id", LongType),
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true))))
    val withNull = df(Seq(
      Row(1L, Seq[Any](1f, null, 2f), Seq[Any](1f, 1f, 1f)),
      Row(2L, Seq[Any](1f, 2f, 3f), Seq[Any](1f, 1f, 1f))), nullable)
      .select(F.col("id"), Similarity.cosine(F.col("a"), F.col("b")).as("k"),
        Similarity.cosineColumns(F.col("a"), F.col("b")).as("c"))
      .orderBy("id").collect()
    assert(withNull(0).isNullAt(1) && withNull(0).isNullAt(2))
    assert(!withNull(1).isNullAt(1) &&
      withNull(1).getDouble(1) === withNull(1).getDouble(2))
  }

  test("brute-force cosine top-k: self-match ranks first") {
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val vecs = (0L to 19L).map { i =>
      Row(i, Array.tabulate(8)(j => ((i * 7 + j * 3) % 10 + 1).toFloat))
    }
    val emb = df(vecs, embSchema)
    // queries = copies of corpus vectors 0..2 (shifted ids)
    val qs = emb.where(F.col("vec_id") < 3)
      .select((F.col("vec_id") + 100L).as("query_id"),
        F.col("embedding").as("qe"))
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      qs, "query_id", "qe", k = 3).collect()
    val rank1 = top.filter(_.getInt(3) === 1)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical vector => cosine 1.0 => must rank first
    assert(rank1(100L) === 0L && rank1(101L) === 1L && rank1(102L) === 2L)
  }

  test("ANN LSH top-k: identical vector lands in the same bucket, rank 1") {
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val vecs = (0L to 49L).map { i =>
      Row(i, Array.tabulate(8)(j =>
        (((i * 13 + j * 5) % 19).toFloat - 9f)))
    }
    val emb = df(vecs, embSchema)
    val qs = emb.where(F.col("vec_id") === 7L)
      .select((F.col("vec_id") + 100L).as("query_id"),
        F.col("embedding").as("qe"))
    val top = Similarity.annTopK(emb, "vec_id", "embedding",
      qs, "query_id", "qe", k = 3, planes = 4, tables = 2, dims = 8).collect()
    assert(top.exists(r => r.getLong(1) === 7L && r.getInt(3) === 1))
  }

  test("HyperplaneBuckets kernel is BIT-identical to per-table lshBucket") {
    import mallispark.expressions.HyperplaneBuckets
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val vecs = (0L to 99L).map { i =>
      Row(i, Array.tabulate(16)(j =>
        (((i * 13 + j * 5) % 19).toFloat - 9f) / 3f))
    }
    val emb = df(vecs, embSchema)
    val planes = 5; val tables = 4
    val colBuckets = F.array((0 until tables).map(t =>
      Similarity.lshBucket(F.col("embedding"), planes, 16, t)): _*)
    val got = emb.select(
      colBuckets.as("a"),
      HyperplaneBuckets(F.col("embedding"), planes, tables, 16).as("b"))
      .collect()
    got.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("ANN LSH recall ≥ 0.9 vs brute force (multi-table OR-banding)") {
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val vecs = (0L to 199L).map { i =>
      Row(i, Array.tabulate(16)(j =>
        (((i * 13 + j * 5) % 19).toFloat - 9f) +
          ((i * 7 + j * 11) % 23).toFloat / 23f))
    }
    val emb = df(vecs, embSchema)
    val corpus = emb.where(F.col("vec_id") >= 10L)
    val qs = emb.where(F.col("vec_id") < 10L)
      .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qe"))
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      qs, "query_id", "qe", k = 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.annTopK(corpus, "vec_id", "embedding",
      qs, "query_id", "qe", k = 5, planes = 5, tables = 4, dims = 16)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall below 0.9")
  }

  test("IVF ANN: clustered vectors recall fully with few probes") {
    // 4 tight clusters → a query's neighbors live in its own cell, so
    // nprobe=2 of 8 cells (25% of the corpus) already recalls everything —
    // the structured-data case where IVF pruning actually pays
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val vecs = (0L to 199L).map { i =>
      val c = (i % 4).toInt
      Row(i, Array.tabulate(8)(j =>
        (if (j % 4 == c) 10f else 0f) + ((i * 7 + j * 3) % 5) / 10f))
    }
    val emb = df(vecs, embSchema)
    val corpus = emb.where(F.col("vec_id") >= 8L)
    val qs = emb.where(F.col("vec_id") < 4L)
      .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qe"))
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      qs, "query_id", "qe", k = 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      qs, "query_id", "qe", k = 5, nCentroids = 8, nprobe = 2)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall below 0.9 on clustered data")
  }

  test("langId picks marker language; 'und' without markers") {
    val texts = df(Seq(
      Row(1L, "the cat and the dog of a house"),
      Row(2L, "der hund und die katze ist nicht"),
      Row(3L, "le chien et la maison est une"),
      Row(4L, "xyzzy qwerty plugh")), docSchema)
    val out = texts.select(F.col("id"), TextOps.langId(F.col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "und"))
  }

  test("token counts + fingerprint: order-sensitive") {
    val t = df(Seq(Row(1L, "a b c!"), Row(2L, "c b a!")), docSchema)
    val fp = t.select(TextOps.fingerprint(F.col("text"))).collect()
    assert(fp(0).getLong(0) !== fp(1).getLong(0)) // order matters
    val counts = t.select(TextOps.tokenCount(F.col("text")),
      TextOps.bpeTokenCount(F.col("text"))).collect()(0)
    assert(counts.getInt(0) === 3 && counts.getInt(1) === 4) // a,b,c,!
  }

  private def unhex(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // hand-assembled 2×2 24-bit BMP: spec values w=2 h=2,
  // sums B=383 G=319 R=447 (row padding excluded)
  private val goldenBmp = unhex(
    "424D460000000000000036000000" +
      "280000000200000002000000010018000000000010000000" +
      "130B0000130B00000000000000000000" +
      "FF000000FF000000" + "0000FF8040C00000")

  // canonical RIFF/WAVE PCM s16le mono 8kHz, samples 1000,-2000,32767,
  // -32768: n=4, sum_sq=2152418113, peak=32768
  private val goldenWav = unhex(
    "524946462C00000057415645" +
      "666D74201000000001000100401F0000803E000002001000" +
      "6461746108000000" + "E80330F8FF7F0080")

  test("multimodal: metadata sniffs magic bytes; real decode hits spec values") {
    val binSchema = StructType(Seq(StructField("id", LongType),
      StructField("bin", BinaryType)))
    val jpeg = Array(0xFF, 0xD8, 0x01, 0x02).map(_.toByte)
    val png = Array(0x89, 0x50, 0x4E, 0x47, 0x01).map(_.toByte)
    val b = df(Seq(Row(1L, jpeg), Row(2L, png)), binSchema)
    val meta = b.select(Multimodal.mediaMetadata(F.col("bin")).as("m"))
      .select(F.col("m.kind"), F.col("m.n_bytes")).collect()
    assert(meta.map(_.getString(0)).toSeq === Seq("jpeg", "png"))
    val windows = b.select(Multimodal.sampleWindows(F.col("bin"), 2, 2))
      .collect()(0).getSeq[Array[Byte]](0)
    assert(windows.length === 2)

    // JVM path: golden files decode to their hand-computed spec values
    val (bk, bf) = Multimodal.decodeOne(goldenBmp)
    assert(bk === "bmp")
    assert(bf.toSeq === Seq(383f / 4, 319f / 4, 447f / 4, 4f))
    val (wk, wf) = Multimodal.decodeOne(goldenWav)
    assert(wk === "wav")
    assert(wf(0) === math.sqrt(2152418113L / 4.0).toFloat &&
      wf(1) === 1f && wf(2) === 4f && wf(3) === 8000f)
    // opaque fallback
    assert(Multimodal.decodeOne(jpeg)._1 === "unknown")

    // Column path: same binaries through the pure-Column hex arithmetic
    val g = df(Seq(Row(1L, goldenBmp), Row(2L, goldenWav)), binSchema)
    val dec = g.select(F.col("id"), Multimodal.decodeMedia(F.col("bin")).as("m"))
      .orderBy("id")
      .select(F.col("id"), F.col("m.kind"),
        F.col("m.img.width"), F.col("m.img.height"), F.col("m.img.sum_b"),
        F.col("m.img.sum_g"), F.col("m.img.sum_r"),
        F.col("m.aud.n_samples"), F.col("m.aud.sample_rate"),
        F.col("m.aud.sum_sq"), F.col("m.aud.peak_abs"))
      .collect()
    assert(dec(0).getString(1) === "bmp")
    assert(Seq(2L, 2L, 383L, 319L, 447L) ===
      (2 to 6).map(dec(0).getLong(_)))
    assert(dec(1).getString(1) === "wav")
    assert(Seq(4L, 8000L, 2152418113L, 32768L) ===
      (7 to 10).map(dec(1).getLong(_)))
    // both paths agree through extractFeatures
    val feats = Multimodal.extractFeatures(g, "id", "bin").collect()
      .sortBy(_.doc_id)
    assert(feats(0).kind === "bmp" && feats(1).kind === "wav")
    assert(feats(0).features.toSeq === bf.toSeq)
    assert(feats(1).features.toSeq === wf.toSeq)
  }

  test("decodeOne: crafted overflow headers fall through, never crash") {
    // BM magic, bpp=24, width=height=0xFFFFFFFF: w*h wraps negative —
    // must take the opaque fallback instead of indexing past the array
    val bmp = unhex("424D460000000000000036000000" +
      "28000000" + "FFFFFFFF" + "FFFFFFFF" + "01001800" +
      "00" * 26)
    assert(Multimodal.decodeOne(bmp)._1 === "unknown")
    // RIFF/WAVE with fmt-chunk size 0x7FFFFFFF: 20+fmtSize wraps to a
    // negative Int — must not throw
    val wav = unhex("524946462C00000057415645" +
      "666D7420" + "FFFFFF7F" + "0100010040" +
      "1F0000803E000002001000" + "6461746108000000" + "E80330F8FF7F0080")
    assert(Multimodal.decodeOne(wav)._1 === "unknown")
  }

  test("PNG decode: deflated truecolor, all 5 filter types, split IDAT") {
    import java.util.zip.{CRC32, Deflater}
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val crc = new CRC32()
      crc.update(tag.getBytes("US-ASCII")); crc.update(data)
      be32(data.length) ++ tag.getBytes("US-ASCII") ++ data ++
        be32(crc.getValue)
    }
    val (w, h) = (3, 5)
    val px = Array.tabulate(h, w)((y, x) =>
      Array(x * 40 + y, x * 7 + y * 11, 255 - x * 20 - y * 9))
    val stride = 3 * w
    val flat = px.map(_.flatten.map(_.toByte)) // per-row RGB bytes
    // forward-filter row y with type y%5 (reference values = original
    // bytes — filtering is lossless)
    val filtered = (0 until h).flatMap { y =>
      val ft = y % 5
      val cur = flat(y).map(_ & 0xff)
      val up = if (y > 0) flat(y - 1).map(_ & 0xff) else new Array[Int](stride)
      ft.toByte +: (0 until stride).map { x =>
        val a = if (x >= 3) cur(x - 3) else 0
        val b = up(x)
        val c = if (x >= 3) up(x - 3) else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 =>
            val p = a + b - c
            val (pa, pb, pc) =
              (math.abs(p - a), math.abs(p - b), math.abs(p - c))
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        ((cur(x) - pred) & 0xff).toByte
      }
    }.toArray
    val defl = new Deflater()
    defl.setInput(filtered); defl.finish()
    val zbuf = new Array[Byte](filtered.length + 64)
    val zlen = defl.deflate(zbuf); defl.end()
    val z = zbuf.take(zlen)
    val ihdr = be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    // IDAT split across two chunks — the walk must concatenate them
    val (z1, z2) = z.splitAt(z.length / 2)
    val png = sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", z1) ++
      chunk("IDAT", z2) ++ chunk("IEND", Array.empty)
    val (kind, feats) = Multimodal.decodeOne(png)
    assert(kind === "png")
    val all = px.flatten
    def mean(i: Int) = all.map(_(i)).sum.toDouble / (w * h)
    assert(feats(0) === mean(0).toFloat && feats(1) === mean(1).toFloat &&
      feats(2) === mean(2).toFloat && feats(3) === (w * h).toFloat)
    // truncated (no IEND) and unsupported color type → opaque fallback
    val (k2, _) = Multimodal.decodeOne(png.dropRight(12))
    assert(k2 === "unknown")
    val rgba = sig ++ chunk("IHDR", be32(w) ++ be32(h) ++
      Array[Byte](8, 6, 0, 0, 0)) ++ chunk("IDAT", z) ++
      chunk("IEND", Array.empty)
    assert(Multimodal.decodeOne(rgba)._1 === "unknown")
  }

  test("minhash drops shingle-less docs (cross-engine parity) — both paths") {
    val short = df(Seq(Row(1L, "a b"), Row(2L, "c d"), Row(3L, "x y")),
      docSchema) // all under n=3 tokens → no shingles
    assert(Dedup.minhashLSH(short, "id", "text", k = 8, bands = 4, n = 3)
      .count() === 0) // no sentinel mega-bucket
    assert(Dedup.minhashLSHFast(short, "id", "text", k = 8, bands = 4, n = 3)
      .count() === 0)
  }

  test("sampleWindows n=1 yields one window (no zero stride)") {
    val b = df(Seq(Row(1L, Array.fill(64)(7.toByte))),
      StructType(Seq(StructField("id", LongType), StructField("bin", BinaryType))))
    val w = b.select(Multimodal.sampleWindows(F.col("bin"), 1, 16))
      .collect()(0).getSeq[Array[Byte]](0)
    assert(w.length === 1 && w.head.length === 16)
  }

  test("portable h32 matches the DuckDB formula on a known value") {
    // DuckDB: ('0x' || substring(md5('abc'),1,8))::BIGINT = 2416005272
    val one = spark.range(1).select(TextOps.h32(F.lit("abc"))).collect()(0)
    assert(one.getLong(0) === 2416005272L)
  }
}
