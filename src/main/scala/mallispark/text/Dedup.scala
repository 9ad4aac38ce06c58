package mallispark.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import TextOps._

/** Deduplication operators for web-scale corpora.
  *
  * Scale design (10^12 docs):
  *  - `exactDupGroups` shuffles only (hash, id) pairs — never text bodies.
  *  - MinHash/SimHash signatures are computed scan-side (one pass, pure
  *    Column codegen); candidate generation shuffles (band_key, id) pairs,
  *    so the join fan-out is bounded by bucket sizes, not corpus size².
  *  - n-gram Jaccard self-join is quadratic per token bucket — kept for
  *    oracle-verifiable exact semantics at small scale and as the in-bucket
  *    refinement step after LSH at large scale.
  * All hashes are md5-derived (portable to the DuckDB oracle). */
object Dedup {

  /** Default member-list cap for group outputs: groups larger than this
    * emit their `maxMembers` smallest ids plus the TRUE `dup_cnt`
    * (truncation is visible as `dup_cnt > size(doc_ids)`). The aggregate
    * state itself is bounded ([[mallispark.expressions.BoundedCollectMin]]
    * — a k-capped max-heap, partial-merge-able), so a degenerate corpus
    * (10^8 copies of one boilerplate page in one hash/bucket) costs O(k)
    * executor memory, never a multi-GB row. */
  val DefaultMaxMembers: Int = 10000

  /** Bounded sorted member list — `slice(sort_array(collect_list(id)),1,k)`
    * semantics with O(k) aggregation state. Ids must be INTEGRAL (the
    * bounded heap is a long heap; output is array<bigint> regardless of
    * the input's integral width) — map string/UUID ids to a numeric
    * surrogate before deduping. */
  private def memberIds(id: String, maxMembers: Int): Column =
    mallispark.expressions.BoundedCollectMin(
      F.col(id).cast(LongType), maxMembers)

  /** Exact duplicate groups by md5(text): (text_hash, dup_cnt, doc_ids).
    * `doc_ids` holds the `maxMembers` smallest ids; `dup_cnt` is always
    * the full group size. */
  def exactDupGroups(df: DataFrame, id: String, text: String,
                     maxMembers: Int = DefaultMaxMembers): DataFrame =
    df.select(F.col(id), F.md5(F.col(text)).as("text_hash"))
      .groupBy("text_hash")
      .agg(F.count(F.lit(1)).as("dup_cnt"),
        memberIds(id, maxMembers).as("doc_ids"))
      .where(F.col("dup_cnt") > 1)

  /** Modulus for the affine MinHash family: 2^61 - 1 (Mersenne prime).
    * Base hashes are < 2^32 and multipliers < 2^8, so products never
    * overflow a signed 64-bit long. */
  val MinhashP: Long = 2305843009213693951L

  // The affine family (h * (2s+1) + 99991 s) mod P lives in
  // expressions.ShingleMinHash — ONE md5 per shingle total, k per-seed
  // integer mixes in a tight loop. Bit-parity with the Column
  // formulation is asserted in TextOpsSpec.

  /** MinHash+LSH candidate pairs: signature → `bands` bands of `k/bands`
    * rows each → band bucket key → ids sharing a bucket.
    * Returns (band, band_key, dup_cnt, doc_ids) for buckets with >1 doc.
    * One shuffle of (band_key, id); text never moves. The base hashes are
    * materialized in their own projection so Catalyst cannot inline the
    * md5 work into each of the k seed lambdas. */
  /** Per-doc (band, band_key) rows from the portable MinHash family —
    * the candidate-generation substrate shared by `minhashLSH` (bucket
    * groups) and `ngramJaccardWithinBuckets` (in-bucket refinement).
    * The signature comes from the `ShingleMinHash` kernel: BIT-IDENTICAL
    * md5+affine minima, one pass, no intermediate shingle strings.
    * Docs with no shingles (under n tokens) keep the max-long sentinel
    * and are dropped HERE so Spark and the DuckDB oracle (whose unnest
    * drops them implicitly) agree — a sentinel signature would bucket
    * all short docs together on one engine only. */
  /** Band-key moduli/multipliers: two independent 31-bit modular
    * polynomial folds over the signature slice, packed into one ≤2^62
    * BIGINT — `(fold31 * M2 + fold37)`. Pure BIGINT arithmetic on both
    * engines (no string construction, 8-byte shuffle key): DuckDB mirrors
    * the sequential fold as a HUGEINT weighted sum
    * `Σ (mh % M) * mult^(rows-1-i) (mod M)`, which is the same
    * polynomial. Cross-band collision odds ~2^-62 per bucket pair. */
  import TextOps.obsName

  val BandM1: Long = 2147483647L // 2^31 - 1
  val BandM2: Long = 2147483629L
  val BandMult1: Long = 31L
  val BandMult2: Long = 37L

  /** Numeric band key of a signature slice (array<long>, values ≥ 0). */
  def bandKey(slice: Column): Column = {
    val k1 = F.aggregate(slice, F.lit(0L),
      (acc, x) => (acc * BandMult1 + x % BandM1) % BandM1)
    val k2 = F.aggregate(slice, F.lit(0L),
      (acc, x) => (acc * BandMult2 + x % BandM2) % BandM2)
    k1 * BandM2 + k2
  }

  def minhashBands(df: DataFrame, id: String, text: String,
                   k: Int, bands: Int, n: Int): DataFrame =
    bandsFromSig(
      df.select(F.col(id),
        mallispark.expressions.ShingleMinHash(F.col(text), n, k).as("sig")),
      id, k, bands, shiftNonneg = false)

  /** Banding over an already-computed `sig` column (array<long>, length
    * `k`): sentinel filter + per-band polynomial fold. Shared by the
    * portable and native paths so callers can materialize the signature
    * scan ONCE and band it without re-running the text kernel.
    * `shiftNonneg` pmods native (possibly negative) xxhash64 minima into
    * the nonneg domain the modular band-key fold expects. */
  private def bandsFromSig(sig: DataFrame, id: String, k: Int, bands: Int,
                           shiftNonneg: Boolean): DataFrame = {
    val rows = k / bands
    def slice(b: Column) = {
      val raw = F.slice(F.col("sig"), b * rows + 1, F.lit(rows))
      if (shiftNonneg) F.transform(raw, x => F.pmod(x, F.lit(Long.MaxValue)))
      else raw
    }
    // explode_OUTER: the band array has constant length `bands` ≥ 1, so
    // outer explode emits identical rows — but a plain explode lets
    // InferFiltersFromGenerate add a size(<band transform>) Filter below
    // the projection, re-running the per-band key folds (and, when the
    // signature is computed in the same projection, the text kernel) a
    // second time per row
    sig.where(F.element_at(F.col("sig"), 1) =!= Long.MaxValue)
      .select(F.col(id), F.explode_outer(
        F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), b =>
          F.struct(b.as("band"),
            bandKey(slice(b)).as("band_key")))).as("bk"))
      .select(F.col(id), F.col("bk.band").as("band"),
        F.col("bk.band_key").as("band_key"))
  }

  def minhashLSH(df: DataFrame, id: String, text: String,
                 k: Int = 16, bands: Int = 4, n: Int = 3,
                 maxMembers: Int = DefaultMaxMembers): DataFrame =
    minhashBands(df, id, text, k, bands, n)
      .groupBy("band", "band_key")
      .agg(F.count(F.lit(1)).as("dup_cnt"),
        memberIds(id, maxMembers).as("doc_ids"))
      .where(F.col("dup_cnt") > 1)

  /** Scale-path MinHash+LSH using the native codegen'd
    * `MinHashFromText` expression (xxhash64 minima straight from the
    * text, one pass, no intermediate shingle strings — no md5, no
    * interpreted HOFs). Same banding
    * and bucket-join downstream; NOT DuckDB-portable (use `minhashLSH`
    * for the oracle-checked path). */
  def minhashLSHFast(df: DataFrame, id: String, text: String,
                     k: Int = 64, bands: Int = 16, n: Int = 3,
                     maxMembers: Int = DefaultMaxMembers): DataFrame =
    minhashBandsFast(df, id, text, k, bands, n)
      .groupBy("band", "band_key")
      .agg(F.count(F.lit(1)).as("dup_cnt"),
        memberIds(id, maxMembers).as("doc_ids"))
      .where(F.col("dup_cnt") > 1)

  /** 64-bit SimHash (two portable 32-bit halves) per document, via the
    * `SimHashPortable` kernel — bit-identical to the md5 "hi:"/"lo:"
    * token-vote formulation the DuckDB oracle computes, in one pass. */
  def simhashDF(df: DataFrame, id: String, text: String): DataFrame =
    df.select(F.col(id),
        mallispark.expressions.SimHashPortable(F.col(text)).as("sig"))
      .select(F.col(id),
        F.element_at(F.col("sig"), 1).as("hi"),
        F.element_at(F.col("sig"), 2).as("lo"))

  /** SimHash near-dup candidates: exact match on either 32-bit half
    * (standard block-permutation trick — a ≤32-bit-different pair shares a
    * half with high probability for small hamming distances). */
  def simhashCandidates(df: DataFrame, id: String, text: String,
                        maxMembers: Int = DefaultMaxMembers): DataFrame = {
    // ONE kernel pass + ONE shuffle: explode each doc into its two
    // (half, half_key) rows and group once — the per-half groupBy pair
    // ran the SimHash kernel scan twice (once per union branch) for the
    // same result set
    val halves = simhashDF(df, id, text)
      .select(F.col(id), F.explode_outer(F.array(
        F.struct(F.lit("hi").as("half"), F.col("hi").as("half_key")),
        F.struct(F.lit("lo").as("half"), F.col("lo").as("half_key"))))
        .as("hk"))
      .select(F.col(id), F.col("hk.half").as("half"),
        F.col("hk.half_key").as("half_key"))
    halves.groupBy("half", "half_key")
      .agg(F.count(F.lit(1)).as("dup_cnt"),
        memberIds(id, maxMembers).as("doc_ids"))
      .where(F.col("dup_cnt") > 1)
      .select("half", "half_key", "dup_cnt", "doc_ids")
  }

  /** Exact n-gram (word) Jaccard similarity for candidate pairs: distinct
    * shingles exploded, self-joined on shingle, |A∩B| counted, Jaccard =
    * inter / (|A|+|B|-inter). Quadratic within shingle buckets — use after
    * LSH at scale; exact and oracle-checkable at test scale.
    * Returns pairs with jaccard ≥ threshold (id_a < id_b). */
  /** Distinct shingles exploded per doc, optionally frequency-capped:
    * shingles appearing in more than `maxShingleDf` docs are dropped —
    * a ubiquitous shingle ("click here to") cannot discriminate near-dups
    * but turns the shingle self-join into a cartesian bomb (bucket cost is
    * O(df²)). The cap bounds per-shingle join fan-out to maxShingleDf².
    * Jaccard is then defined over the DISCRIMINATIVE shingle space — the
    * DuckDB oracle applies the identical cap. */
  private def shingleSet(df: DataFrame, id: String, text: String, n: Int,
                         maxShingleDf: Int): DataFrame = {
    // explode_OUTER + null-filter: a plain explode lets the optimizer
    // infer a size() Filter that re-runs the shingle HOF chain per row
    val sh = df.select(F.col(id).as("doc"),
        F.explode_outer(F.array_distinct(shingles(F.col(text), n)))
          .as("shingle"))
      .where(F.col("shingle").isNotNull)
    if (maxShingleDf <= 0) sh
    else {
      // hot-shingle set is tiny by construction → broadcast anti-join
      val hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).as("df"))
        .where(F.col("df") > maxShingleDf).select("shingle")
      sh.join(F.broadcast(hot), Seq("shingle"), "left_anti")
    }
  }

  private def jaccardFilter(pairs: DataFrame, sizes: DataFrame,
                            threshold: Double): DataFrame =
    pairs
      .join(sizes.withColumnRenamed("doc", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("doc", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        F.col("inter").cast(DoubleType) /
          (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
      .where(F.col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")

  /** Scale-path SimHash: the fused `SimHashFromText` kernel (tokenize +
    * xxhash64 + 64 vote adds in one pass, no token array). NOT
    * DuckDB-portable — use `simhashCandidates` for the oracle-checked
    * path. */
  def simhashFast(df: DataFrame, id: String, text: String): DataFrame =
    df.select(F.col(id),
      mallispark.expressions.SimHashFromText(F.col(text)).as("sig"))

  /** Candidates from the native signature: exact match on any of the four
    * 16-bit bands (block permutation — pairs within hamming distance 3
    * share at least one band). One shuffle of (band, band_key, id). */
  def simhashFastCandidates(df: DataFrame, id: String, text: String,
                            maxMembers: Int = DefaultMaxMembers): DataFrame = {
    val withSig = simhashFast(df, id, text)
    val banded = withSig.select(F.col(id), F.explode_outer(F.array(
      (0 until 4).map(b => F.struct(F.lit(b).as("band"),
        F.shiftrightunsigned(F.col("sig"), b * 16)
          .bitwiseAND(F.lit(0xFFFFL)).as("band_key"))): _*)).as("bk"))
      .select(F.col(id), F.col("bk.band").as("band"),
        F.col("bk.band_key").as("band_key"))
    banded.groupBy("band", "band_key")
      .agg(F.count(F.lit(1)).as("dup_cnt"),
        memberIds(id, maxMembers).as("doc_ids"))
      .where(F.col("dup_cnt") > 1)
  }

  /** Exact n-gram (word) Jaccard for ALL pairs sharing a shingle: the
    * self-join is O(Σ df²) over shingle buckets — ONLY safe with a
    * frequency cap or at small scale. At 100 TB use
    * `ngramJaccardWithinBuckets` (LSH-gated refinement) instead. */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String,
                        n: Int = 3, threshold: Double = 0.8,
                        maxShingleDf: Int = 0): DataFrame = {
    val sh = shingleSet(df, id, text, n, maxShingleDf)
    val sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).as("sz"))
    val pairs = sh.as("a").join(sh.as("b"),
        F.col("a.shingle") === F.col("b.shingle") &&
          F.col("a.doc") < F.col("b.doc"))
      .groupBy(F.col("a.doc").as("id_a"), F.col("b.doc").as("id_b"))
      .agg(F.count(F.lit(1)).as("inter"))
    jaccardFilter(pairs, sizes, threshold)
  }

  /** Native-signature (band, band_key) rows — same banding as
    * `minhashBands` but over the codegen `MinHashFromText` expression
    * (tokenize→shingle→hash→minima in ONE generated loop: no md5, no
    * interpreted HOFs, no intermediate shingle strings — the string
    * construction alone is ~45% of the portable path's cost).
    * Candidate-generation only: band keys are engine-native, so anything
    * CONSUMING them must re-verify exactly. */
  def minhashBandsFast(df: DataFrame, id: String, text: String,
                       k: Int, bands: Int, n: Int): DataFrame =
    // native xxhash64 minima can be negative — shift to nonneg before the
    // modular band-key fold (engine-internal keys, grouping-equivalent)
    bandsFromSig(
      df.select(F.col(id),
        mallispark.expressions.MinHashFromText(F.col(text), n, k).as("sig")),
      id, k, bands, shiftNonneg = true)


  /** In-bucket candidate-pair expansion shared by the text (MinHash) and
    * embedding (hyperplane) LSH paths: each bucket row carries its
    * ascending, k-capped member list in `idsCol`; explode it into the
    * ordered pairs (id_a < id_b, guaranteed by the ascending order) and
    * dedup across buckets. Outer explode + null-filter on the GENERATED
    * column so the optimizer cannot infer a size() filter that re-runs
    * the pair transform per row. */
  private[text] def bucketPairs(buckets: DataFrame,
                                idsCol: String): DataFrame = {
    val ids = F.col(idsCol)
    buckets.select(F.explode_outer(
        F.flatten(F.transform(ids, (x, i) =>
          F.transform(F.slice(ids, i + 2, F.size(ids) - i - 1),
            y => F.struct(x.as("a"), y.as("b")))))).as("p"))
      .where(F.col("p").isNotNull)
      .select(F.col("p.a").as("id_a"), F.col("p.b").as("id_b"))
      .distinct()
  }

  /** Scale path: exact Jaccard REFINEMENT of MinHash-LSH candidates —
    * the quadratic pair expansion runs only inside LSH buckets (candidate
    * pairs ≪ corpus²), then TRUE Jaccard is verified with one
    * (doc,shingle)-keyed join per pair side. Candidates come from the
    * NATIVE codegen signature (cheap); because the output keeps only
    * pairs whose exact Jaccard ≥ threshold, it equals the full self-join
    * result whenever the LSH recalls every qualifying pair — at
    * threshold t with k/bands rows per band, a qualifying pair misses
    * every band with probability (1-t^(k/bands))^bands (≈2e-6 at t=0.8,
    * k=16, bands=8), so the exact capped self-join IS the oracle.
    * Set `portable = true` to generate candidates with the md5 family
    * instead (bit-identical banding across engines, ~10× dearer). */
  def ngramJaccardWithinBuckets(df: DataFrame, id: String, text: String,
                                n: Int = 3, threshold: Double = 0.8,
                                k: Int = 16, bands: Int = 8,
                                maxShingleDf: Int = 0,
                                portable: Boolean = false,
                                maxBucket: Int = 4096,
                                maxHotBroadcast: Int = 1 << 20,
                                materialize: Boolean = true,
                                scaledShingleDf: Option[(Int, Long)] = None)
      : DataFrame = {
    // candidate pairs from ONE pass over the banded signatures: group a
    // band bucket, explode its id pairs (bucket sizes are LSH-bounded, so
    // the per-bucket pair expansion is small by construction). HOT-BUCKET
    // CAP (standard LSH practice): a pathological (band, band_key) bucket
    // — e.g. an adversarial corpus of near-identical ≥n-token docs —
    // would expand |bucket|² pairs; buckets over `maxBucket` are SKIPPED
    // (recall degrades, the job survives), with the skip count exposed as
    // the `lsh_dropped_buckets` observed metric on every action. The
    // member collect is itself state-bounded (maxBucket+1-capped heap),
    // so even the dropped bucket's aggregation state is O(maxBucket).
    // ONE text-kernel scan for the whole pipeline: the signature (LSH
    // banding) and the 60-bit shingle set (exact refinement) are computed
    // in the same projection and materialized (localCheckpoint). The
    // naive layout ran the text kernels once per downstream reference —
    // banding, the hot-shingle df pass AND the per-doc set each re-read
    // parquet and re-tokenized (and a pushed-down size(hs0)>0 filter
    // doubled the set kernel again within one pass) — ~4 kernel scans
    // where one suffices (guide §1.2: fix the pass count first; §5:
    // cache exactly the reused, expensive-to-recompute intermediate).
    // State is per-doc arrays (k longs + distinct-shingle hashes), far
    // smaller than the text payload it replaces. `materialize = false`
    // keeps the kernel projection in-plan (recompute per reference) —
    // used by plan specs that assert the kernel wiring.
    //
    // `scaledShingleDf = Some((floor, divisor))` derives the ubiquitous-
    // shingle cap from the corpus itself — max(floor, N/divisor) with N =
    // docs with nonempty text — riding N on the base materialization as
    // an `observe` metric (Observations complete on an eager
    // localCheckpoint) instead of the caller paying a SEPARATE corpus
    // scan for the count. Overrides `maxShingleDf` when set.
    val wantScaled = scaledShingleDf.isDefined && materialize
    val obsOpt =
      if (wantScaled)
        Some(org.apache.spark.sql.Observation(obsName("jaccard_corpus_n")))
      else None
    val baseCols = Seq(F.col(id).as("doc"),
        (if (portable)
          mallispark.expressions.ShingleMinHash(F.col(text), n, k)
        else
          mallispark.expressions.MinHashFromText(F.col(text), n, k))
          .as("sig"),
        mallispark.expressions.ShingleH60Set(F.col(text), n).as("hs0")) ++
      (if (wantScaled) Seq((F.length(F.col(text)) > 0).as("len_ok"))
       else Nil)
    val baseSel = df.select(baseCols: _*)
    val base0 = obsOpt.map(o => baseSel.observe(o,
        F.coalesce(F.sum(F.when(F.col("len_ok"), 1L).otherwise(0L)),
          F.lit(0L)).as("n"))).getOrElse(baseSel)
    val base = if (materialize) base0.localCheckpoint(true) else base0
    val effMaxShingleDf = scaledShingleDf match {
      case Some((floor, div)) if materialize =>
        math.max(floor.toLong,
          obsOpt.get.get("n").asInstanceOf[Long] / div).toInt
      case Some((floor, div)) => // unmaterialized: pay the explicit count
        math.max(floor.toLong,
          df.where(F.length(F.col(text)) > 0).count() / div).toInt
      case None => maxShingleDf
    }
    val bd = bandsFromSig(base.select(F.col("doc"), F.col("sig")), "doc",
        k, bands, shiftNonneg = !portable)
      .select(F.col("doc"), F.col("band"), F.col("band_key"))
    val buckets = bd.groupBy("band", "band_key")
      .agg(mallispark.expressions.BoundedCollectMin(
          F.col("doc").cast(LongType), maxBucket + 1).as("ids"),
        F.count(F.lit(1)).as("bsz"))
      .observe(obsName("jaccard_lsh_dropped_buckets"),
        F.coalesce(F.sum(F.when(F.col("bsz") > maxBucket, 1L)
          .otherwise(0L)), F.lit(0L)).as("dropped"))
      .where(F.col("bsz") > 1 && F.col("bsz") <= maxBucket)
    val cand = bucketPairs(buckets, "ids")
    // per-doc sorted 60-bit shingle-hash sets from the ShingleH60Set
    // kernel (bit-identical to md5 of the shingle strings; collision odds
    // 2^-60-scale — the DuckDB oracle counts the strings themselves).
    // Hot shingles (document frequency > maxShingleDf) are removed
    // ADAPTIVELY, the same small-side/big-side split AQE applies to
    // joins. The hot set is materialized post-aggregation (it is tiny
    // AFTER the df filter even when the corpus is huge) and counted:
    //  - empty → the kernel arrays pass through untouched (no extra
    //    shuffle at all — the common case for a healthy df cap);
    //  - ≤ maxHotBroadcast → one bounded collect (k-capped, nothing can
    //    be dropped because the count was just verified) broadcast to an
    //    array_except over the intact per-doc arrays — ONE map-side pass,
    //    no per-(doc,shingle) shuffle;
    //  - larger → exploded anti-join + per-doc re-collect, whose
    //    aggregation state is bounded by each document's own shingle
    //    count, never by corpus content.
    // Either way no aggregation buffer grows with corpus content.
    // Intersections are array_intersect on the candidate pair rows:
    // shingle rows never join against each other.
    val hs60 = base.select(F.col("doc"), F.col("hs0"))
      .where(F.size(F.col("hs0")) > 0)
    val docsets =
      if (effMaxShingleDf <= 0)
        hs60.select(F.col("doc"), F.col("hs0").as("hs"))
      else {
        val exploded = hs60.select(F.col("doc"),
          F.explode(F.col("hs0")).as("h"))
        // one pass over the exploded rows; what survives is small
        val hot = exploded.groupBy("h").agg(F.count(F.lit(1)).as("df"))
          .where(F.col("df") > effMaxShingleDf)
          .select("h")
          .localCheckpoint(true)
        val nHot = hot.count() // free: runs on the checkpointed blocks
        if (nHot == 0L)
          hs60.select(F.col("doc"), F.col("hs0").as("hs"))
        else if (nHot <= maxHotBroadcast) {
          val hotArr = hot.agg(mallispark.expressions.BoundedCollectMin(
            F.col("h").cast(LongType), maxHotBroadcast + 1).as("hot_arr"))
          hs60.crossJoin(F.broadcast(hotArr))
            .select(F.col("doc"),
              F.array_except(F.col("hs0"), F.col("hot_arr")).as("hs"))
            .where(F.size(F.col("hs")) > 0)
        } else {
          // re-collect each doc's surviving shingles through the k-capped
          // heap, never collect_list (the repo-wide bounded-group-state
          // rule): the cap only bites a doc with > 2^20 DISTINCT
          // shingles, and keeping the 2^20 SMALLEST hashes is exactly
          // minhash truncation — Jaccard estimates for such pathological
          // docs degrade gracefully instead of one agg buffer absorbing
          // the whole document. BoundedCollectMin emits ascending order
          // (the kernel's set order) by construction; docs whose every
          // shingle is hot vanish, matching the size(hs)>0 filter above
          exploded.join(hot, Seq("h"), "left_anti")
            .groupBy("doc")
            .agg(mallispark.expressions.BoundedCollectMin(
              F.col("h").cast(LongType), 1 << 20).as("hs"))
        }
      }
    val pairs = cand
      .join(docsets.select(F.col("doc").as("id_a"), F.col("hs").as("hs_a")),
        "id_a")
      .join(docsets.select(F.col("doc").as("id_b"), F.col("hs").as("hs_b")),
        "id_b")
      .select(F.col("id_a"), F.col("id_b"),
        F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
          .cast(LongType).as("inter"),
        F.size(F.col("hs_a")).cast(LongType).as("sz_a"),
        F.size(F.col("hs_b")).cast(LongType).as("sz_b"))
    pairs.withColumn("jaccard",
        F.col("inter").cast(DoubleType) /
          (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
      .where(F.col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")
  }

  /** Near-dup CLUSTER formation: connected components over verified
    * candidate pairs — the step a dedup pipeline needs after pair
    * generation (keep one representative per component, not per pair).
    *
    * Algorithm: iterative MIN-LABEL propagation to a fixpoint — every
    * vertex takes the min of its own and its neighbors' labels each
    * round; the fixpoint labels every member with its component's
    * minimum id (deterministic: min is order-independent, and the
    * fixpoint is unique regardless of iteration schedule). Lineage is
    * truncated per round (localCheckpoint) so plans stay flat.
    *
    * Scale: each round is one (b)-keyed join + one groupBy over the EDGE
    * list — O(E) shuffle per round, rounds = component diameter, and
    * exactly ONE Spark job per round: the changed-label count rides the
    * checkpoint materialization as an `observe` metric instead of a
    * separate count() job. Near-dup graphs are overwhelmingly tiny
    * cliques (diameter ≤ 2-3); for adversarial long-chain graphs use
    * [[dupClustersStar]] (same join primitives, O(log d) rounds).
    *
    * Returns (cluster_id = min member id, sz, members = sorted csv). */
  def dupClusters(pairs: DataFrame, aCol: String, bCol: String,
                  maxIter: Int = 20,
                  maxMembers: Int = DefaultMaxMembers): DataFrame = {
    // pairs is typically the OUTPUT of the whole LSH+refine pipeline and
    // is referenced twice below — materialize it once (near-dup pairs
    // are ≪ corpus, so the checkpoint is small at any scale)
    // symmetrize with ONE reference to the (usually pipeline-produced)
    // pair list — explode each pair into both orientations — so the
    // whole pair pipeline runs inside the single edges-checkpoint job;
    // the former union-of-two-projections shape needed its own pairs
    // checkpoint first to avoid running the pipeline twice (outer
    // explode: the 2-element array is never empty, and a plain explode
    // would get a size() filter inferred below the projection)
    val edges = pairs.select(F.explode_outer(F.array(
        F.struct(F.col(aCol).as("a"), F.col(bCol).as("b")),
        F.struct(F.col(bCol).as("a"), F.col(aCol).as("b")))).as("e"))
      .select(F.col("e.a").as("a"), F.col("e.b").as("b"))
      .distinct().localCheckpoint(true)
    // seed labels lazily (id → id over the edge endpoints) — round 1's
    // groupBy dedups them, so no separate distinct/checkpoint job
    var labels = edges.select(F.col("a").as("id"), F.col("a").as("label"))
    // Each round is ONE equi-join + ONE groupBy: every endpoint takes
    // min(own ∪ neighbors' labels) via `(edges ⋈ labels on b) ∪ labels
    // → min per id` — the previous formulation added a second (outer)
    // join per round just to pair old/new labels for the changed-count
    // metric. Labels are monotonically non-increasing, so the label SUM
    // (summed exactly in decimal — no overflow, ANSI-safe) is strictly
    // decreasing until the fixpoint and stalls exactly there: comparing
    // consecutive round sums detects convergence with no old/new pairing
    // at all. ~1/3 less shuffle work per round (guide §2.4), identical
    // fixpoint.
    var prevSum: Option[java.math.BigDecimal] = None
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val obs = org.apache.spark.sql.Observation(s"cc_round_$it")
      val next = edges
        .join(labels.select(F.col("id").as("b"), F.col("label")), "b")
        .select(F.col("a").as("id"), F.col("label"))
        .unionAll(labels)
        .groupBy("id").agg(F.min("label").as("label"))
        .observe(obs, F.coalesce(
          F.sum(F.col("label").cast(DecimalType(38, 0))),
          F.lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 0)))
          .as("lsum"))
        .localCheckpoint(true) // eager: fires the round's ONE job
      val lsum = obs.get("lsum").asInstanceOf[java.math.BigDecimal]
      converged = prevSum.exists(_.compareTo(lsum) == 0)
      prevSum = Some(lsum)
      labels = next
      it += 1
    }
    // labels that are still moving are NOT component ids — refuse to
    // emit wrong clusters (min-label needs diameter rounds; raise
    // maxIter or use dupClustersStar for adversarial chains)
    if (!converged) throw new IllegalStateException(
      s"dupClusters: min-label propagation did not converge in $maxIter " +
        "rounds — raise maxIter or use dupClustersStar (O(log d) rounds)")
    // members sort NUMERICALLY (a string sort would put "10" before "2");
    // the list is state-bounded: maxMembers smallest ids + full sz
    labels.groupBy(F.col("label").as("cluster_id"))
      .agg(F.count(F.lit(1)).as("sz"),
        F.array_join(F.transform(memberIds("id", maxMembers),
          x => x.cast(org.apache.spark.sql.types.StringType)), ",")
          .as("members"))
  }

  /** Adversarial-diameter cluster formation: alternating
    * large-star/small-star edge contraction (the public MapReduce
    * connected-components algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond") — O(log d) rounds instead of
    * the O(d) of min-label propagation, same join/groupBy primitives
    * and one composite job per round plus a cheap exact star-forest
    * test on the round's checkpoint (recognizing the forest ON SIGHT
    * ends the loop a full round earlier than fixpoint detection would).
    * Prefer [[dupClusters]] for ordinary near-dup graphs
    * (tiny cliques); use this when components can be long chains.
    * Identical output contract: (cluster_id = min member id, sz,
    * members = sorted csv). */
  def dupClustersStar(pairs: DataFrame, aCol: String, bCol: String,
                      maxIter: Int = 25,
                      maxMembers: Int = DefaultMaxMembers): DataFrame = {
    // materialize the (usually pipeline-produced) pair list once: it is
    // referenced by the oriented edge set AND the node set below
    val p = pairs.select(F.col(aCol), F.col(bCol)).localCheckpoint(true)
    // orientation invariant: edges always point larger → smaller
    var e = p.select(
        F.greatest(F.col(aCol), F.col(bCol)).as("a"),
        F.least(F.col(aCol), F.col(bCol)).as("b"))
      .where(F.col("a") =!= F.col("b")).distinct().localCheckpoint(true)

    // large-star: every node u, each STRICTLY LARGER neighbor v joins
    // min(Γ(u) ∪ {u}); small-star: each neighbor ≤ u (plus u itself)
    // joins the min. Both preserve components and the orientation.
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.unionAll(
        edges.select(F.col("b").as("a"), F.col("a").as("b")))
      val mins = sym.groupBy("a")
        .agg(F.least(F.min("b"), F.col("a")).as("m"))
      sym.join(mins, "a").where(F.col("b") > F.col("a"))
        .select(F.col("b").as("a"), F.col("m").as("b"))
        .where(F.col("a") =!= F.col("b")).distinct()
    }
    def smallStar(edges: DataFrame): DataFrame = {
      val mins = edges.groupBy("a")
        .agg(F.least(F.min("b"), F.col("a")).as("m"))
      edges.join(mins, "a")
        .select(F.col("b").as("a"), F.col("m").as("b"))
        .unionAll(mins.select(F.col("a"), F.col("m").as("b")))
        .where(F.col("a") =!= F.col("b")).distinct()
    }

    // Termination: the contraction is DONE exactly when the edge set is
    // a star forest — no node appears as both a child (a side) and a
    // root (b side). Testing that property directly on the round's
    // checkpointed output detects convergence one full composite round
    // earlier than the previous consecutive-round signature comparison
    // (a fixpoint can only be RECOGNIZED by re-applying the round; the
    // forest property is recognizable on sight), and it is exact — no
    // hash-collision caveat. The test is one small intersect job per
    // round over the MATERIALIZED (checkpointed, shrinking) edge list —
    // one shuffle per side vs the composite round's ~6 shuffles plus
    // checkpoint write, so paying it every round to save a whole round
    // wins for the 2-5 round graphs near-dup corpora produce (and is
    // bounded at ~15% overhead for adversarial-diameter chains).
    def isStarForest(edges: DataFrame): Boolean =
      edges.select("a").intersect(edges.select("b")).isEmpty
    var it = 0
    var done = isStarForest(e) // already-converged (or empty) input
    while (!done && it < maxIter) {
      e = smallStar(largeStar(e)).localCheckpoint(true)
      done = isStarForest(e)
      it += 1
    }
    // a non-converged star forest would silently label clusters wrong —
    // refuse instead (maxIter = 25 covers diameter ~2^25 graphs; hitting
    // it means something is broken, not that the graph is large)
    if (!done) throw new IllegalStateException(
      s"dupClustersStar: star contraction did not converge in $maxIter " +
        "rounds — raise maxIter or use dupClusters (min-label) instead")

    // converged star forest: each non-root points straight at its root
    val nodes = p.select(F.col(aCol).as("id"))
      .unionAll(p.select(F.col(bCol).as("id"))).distinct()
    val labels = nodes
      .join(e.select(F.col("a").as("id"), F.col("b").as("root")),
        Seq("id"), "left")
      .groupBy("id")
      .agg(F.coalesce(F.min("root"), F.first("id")).as("label"))
    labels.groupBy(F.col("label").as("cluster_id"))
      .agg(F.count(F.lit(1)).as("sz"),
        F.array_join(F.transform(memberIds("id", maxMembers),
          x => x.cast(org.apache.spark.sql.types.StringType)), ",")
          .as("members"))
  }

  /** Portable 60-bit hash (15 md5 hex chars — fits signed 64-bit on both
    * engines). Collision-free for practical shingle-set sizes. */
  private def h60(c: Column): Column =
    F.conv(F.substring(F.md5(c.cast(StringType)), 1, 15), 16, 10)
      .cast(LongType)
}
