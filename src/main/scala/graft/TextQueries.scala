package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.text.{Dedup, TextOps}

/** Text queries over documents: the quality funnel, the dedup family
  * (exact, degenerate corpus, MinHash/SimHash banding, verified Jaccard
  * pairs and their clusters) and text analysis (language id, quality
  * features, token counts, fingerprints). */
private[graft] object TextQueries {
  import SparkEntry.{dh32, P, pages, t}

  // Corpus-scaled ubiquitous-shingle cap for the Jaccard family: a FIXED
  // df cap stops meaning "ubiquitous" as the corpus grows (at web scale
  // nearly every distinct shingle exceeds df 20, and the hot set itself
  // grows with corpus content), so the cap tracks corpus size: a shingle
  // is hot only past 1% of the shingled-document count, floor 20 — the
  // `scaledShingleDf = Some((20, 100L))` argument the Jaccard builders
  // pass. The count rides the pipeline's base materialization as an
  // observe metric (no separate corpus scan); the SQL oracle computes
  // the identical value as greatest(20, (SELECT count(*) FROM toks)//100)
  // over the same length(text)>0 population.

  /** One boilerplate body, injected 10^5 times by the degenerate-corpus
    * dedup gate (shared verbatim with its DuckDB oracle literal). */
  private val DegenerateText =
    "click here to accept cookies and continue to the requested page"

  private val shinglesCte =
    """toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
      |  FROM pages WHERE length(text) > 0),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(0, greatest(len(w)-2, 0)),
      |    i -> array_to_string(w[(i+1):(i+3)], ' ')))) AS s
      |  FROM toks)""".stripMargin

  private def langIdSql: String = {
    val scores = TextOps.Markers.map { case (lang, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(w, t -> t IN ($inList))) AS s_$lang"
    }.mkString(",\n    ")
    val maxE = TextOps.Markers.map(m => s"s_${m._1}")
      .reduce((a, b) => s"greatest($a, $b)")
    val cases = TextOps.Markers.map { case (lang, _) =>
      s"WHEN s_$lang = m AND m > 0 THEN '$lang'"
    }.mkString(" ")
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    $scores
       |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
       |        FROM documents)),
       |m AS (SELECT doc_id, $maxE AS m, * FROM scored)
       |SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** The oracle of both cluster gates: the star contraction must produce
    * the SAME clusters as the min-label fixpoint. WITH RECURSIVE
    * transitive closure (UNION set-semantics terminates); component
    * label = min reachable id, mirroring the propagation fixpoint. */
  private def clustersSql: String =
    s"""${P.replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |$shinglesCte,
       |capped AS (SELECT sh.* FROM sh
       |  JOIN (SELECT s FROM sh GROUP BY s HAVING count(*) <= greatest(20, (SELECT count(*) FROM toks) // 100)) ok
       |    ON sh.s = ok.s),
       |sizes AS (SELECT doc_id AS doc, CAST(count(*) AS BIGINT) AS sz
       |          FROM capped GROUP BY 1),
       |jpairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(count(*) AS BIGINT) AS inter
       |  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |good AS (SELECT id_a, id_b FROM jpairs
       |  JOIN sizes sa ON sa.doc = id_a JOIN sizes sb ON sb.doc = id_b
       |  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.9),
       |edges AS (SELECT id_a AS a, id_b AS b FROM good
       |          UNION SELECT id_b, id_a FROM good),
       |walk(a, l) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) q
       |  UNION
       |  SELECT e.a, w.l FROM edges e JOIN walk w ON e.b = w.a),
       |labels AS (SELECT a AS id, min(l) AS cluster_id FROM walk GROUP BY a)
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz,
       |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
       |FROM labels GROUP BY 1 ORDER BY 1""".stripMargin

  def specs: Seq[QuerySpec] = Seq(

    // ---- end-to-end quality funnel: quality thresholds → predicted-lang
    //      whitelist → exact-dedup (keep min doc_id per md5(text)) —
    //      the composed pipeline a training-data run actually executes ----
    QuerySpec("pipeline_survivors", (s, dir) => {
      val d = t(s, dir, "documents")
      val filtered = d.select(F.col("doc_id"), F.col("text"),
          TextOps.langId(F.col("text")).as("lang_pred"),
          TextOps.qualityFeatures(F.col("text")).as("q"))
        .where(F.col("q.n_tokens") >= 20 && F.col("q.stop_cnt") >= 1 &&
          F.col("lang_pred").isin("en", "de", "es"))
      filtered
        .groupBy(F.md5(F.col("text")).as("h"))
        .agg(F.min(F.struct(F.col("doc_id"), F.col("lang_pred"))).as("m"))
        .groupBy(F.col("m.lang_pred").as("lang_pred"))
        .agg(F.count(F.lit(1)).as("n_survivors"))
        .orderBy("lang_pred")
    }, oracle = Some {
      // same funnel: quality thresholds → lang whitelist → keep min doc_id
      // per md5(text); survivor counts per predicted lang
      val stopList = TextOps.Stopwords.map(w => s"'$w'").mkString(", ")
      val scores = TextOps.Markers.map { case (lang, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(w, t -> t IN ($inList))) AS s_$lang"
      }.mkString(",\n    ")
      val maxE = TextOps.Markers.map(m => s"s_${m._1}")
        .reduce((a, b) => s"greatest($a, $b)")
      val cases = TextOps.Markers.map { case (lang, _) =>
        s"WHEN s_$lang = m AND m > 0 THEN '$lang'"
      }.mkString(" ")
      s"""WITH toks AS (SELECT doc_id, text,
         |    regexp_split_to_array(lower(text), '\\s+') AS w FROM documents),
         |feat AS (SELECT doc_id, text, len(w) AS n_tokens,
         |    len(list_filter(w, t -> t IN ($stopList))) AS stop_cnt,
         |    $scores
         |  FROM toks),
         |lp AS (SELECT *, CASE $cases ELSE 'und' END AS lang_pred
         |  FROM (SELECT *, $maxE AS m FROM feat)),
         |fil AS (SELECT doc_id, text, lang_pred FROM lp
         |  WHERE n_tokens >= 20 AND stop_cnt >= 1
         |    AND lang_pred IN ('en','de','es')),
         |kept AS (SELECT md5(text) AS h, min(doc_id) AS keep_id
         |  FROM fil GROUP BY 1),
         |surv AS (SELECT f.lang_pred FROM kept k
         |  JOIN fil f ON f.doc_id = k.keep_id AND md5(f.text) = k.h)
         |SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_survivors
         |FROM surv GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // ---- dedup family over pages ----
    QuerySpec("dedup_exact", (s, dir) => {
      Dedup.exactDupGroups(pages(s, dir), "doc_id", "text")
        .select("text_hash", "dup_cnt").orderBy("text_hash")
    }, oracle = Some(
      s"""$P
         |SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS dup_cnt
         |FROM pages GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin)),

    // ---- degenerate-corpus gate: 10^5 injected copies of ONE
    //      boilerplate text. The group output stays BOUNDED (the
    //      maxMembers=100 smallest ids + the true dup_cnt) because the
    //      member collect is a k-capped heap (BoundedCollectMin), never
    //      a full collect_list — the one shape that would OOM an
    //      executor at 100 TB on a boilerplate-heavy crawl ----
    QuerySpec("dedup_degenerate", (s, dir) => {
      val base = pages(s, dir).select(F.col("doc_id"), F.col("text"))
      val degen = s.range(100000).select(
        (F.col("id") + 50000000L).as("doc_id"),
        F.lit(DegenerateText).as("text"))
      Dedup.exactDupGroups(base.unionByName(degen), "doc_id", "text",
          maxMembers = 100)
        .select(F.col("text_hash"), F.col("dup_cnt"),
          F.size(F.col("doc_ids")).cast(LongType).as("kept"),
          F.try_element_at(F.col("doc_ids"), F.lit(1)).as("id_first"),
          F.try_element_at(F.col("doc_ids"), F.size(F.col("doc_ids")))
            .as("id_last_kept"))
        .orderBy("text_hash")
    }, oracle = Some(
      // bounded group shape under a 10^5-copy degenerate corpus: the kept
      // member list is exactly the 100 smallest ids (list_slice of the
      // full sorted list — the engine side never materializes that full
      // list; its aggregate state is a 100-capped heap)
      s"""$P,
         |degen AS (
         |  SELECT doc_id, text FROM pages
         |  UNION ALL
         |  SELECT 50000000 + CAST(i AS BIGINT), '$DegenerateText'
         |  FROM range(100000) t(i)),
         |grp AS (SELECT md5(text) AS text_hash,
         |    CAST(count(*) AS BIGINT) AS dup_cnt,
         |    list_slice(list_sort(list(doc_id)), 1, 100) AS ids
         |  FROM degen GROUP BY 1 HAVING count(*) > 1)
         |SELECT text_hash, dup_cnt, CAST(len(ids) AS BIGINT) AS kept,
         |  ids[1] AS id_first, ids[len(ids)] AS id_last_kept
         |FROM grp ORDER BY text_hash""".stripMargin)),

    // ---- the SQL surface for the custom kernels (SparkSessionExtensions
    //      / live registrar): `shingle_minhash` invoked through
    //      spark.sql must produce the exact md5+affine minima DuckDB
    //      re-derives — proving the registered-function path end-to-end
    //      against the oracle, not just SQL ≡ Column (ExtensionsSpec) ----
    QuerySpec("sql_kernel_minhash", (s, dir) => {
      mallispark.expressions.MallisparkExtensions.register(s)
      pages(s, dir).select("doc_id", "text")
        .where(F.octet_length(F.col("text")) > 0)
        .createOrReplaceTempView("sqlk_pages")
      s.sql(
          "SELECT doc_id, shingle_minhash(text, 3, 4) AS sig FROM sqlk_pages")
        .where(F.try_element_at(F.col("sig"), F.lit(1)) =!= Long.MaxValue)
        .select(F.col("doc_id"),
          F.try_element_at(F.col("sig"), F.lit(1)).as("mh0"),
          F.try_element_at(F.col("sig"), F.lit(2)).as("mh1"),
          F.try_element_at(F.col("sig"), F.lit(3)).as("mh2"),
          F.try_element_at(F.col("sig"), F.lit(4)).as("mh3"))
        .orderBy("doc_id")
    }, oracle = Some(
      // same md5+affine minima arithmetic as dedup_minhash_lsh's mins
      // CTE, pivoted to one row per doc (k = 4 seeds)
      s"""$P,
         |$shinglesCte,
         |hs AS (SELECT doc_id, ${dh32("s")} AS h FROM sh),
         |mins AS (
         |  SELECT doc_id, seed,
         |    min((h * (2 * seed + 1) + 99991 * seed)
         |        % ${Dedup.MinhashP}) AS mh
         |  FROM hs CROSS JOIN (SELECT unnest(range(4)) AS seed) seeds
         |  GROUP BY doc_id, seed)
         |SELECT doc_id,
         |  max(CASE WHEN seed = 0 THEN mh END) AS mh0,
         |  max(CASE WHEN seed = 1 THEN mh END) AS mh1,
         |  max(CASE WHEN seed = 2 THEN mh END) AS mh2,
         |  max(CASE WHEN seed = 3 THEN mh END) AS mh3
         |FROM mins GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QuerySpec("dedup_minhash_lsh", (s, dir) => {
      Dedup.minhashLSH(pages(s, dir).where(F.octet_length(F.col("text")) > 0),
          "doc_id", "text", k = 8, bands = 4, n = 3)
        .select(F.col("band").cast(LongType).as("band"),
          F.col("band_key"), F.col("dup_cnt"))
        .orderBy("band", "band_key")
    }, oracle = Some(
      // band_key mirrors Dedup.bandKey: the Spark sequential fold
      // ((acc*m + x%M) % M) over the 2-row slice equals the HUGEINT
      // polynomial sum Σ (mh%M)*m^(rows-1-i) mod M; packed k1*M2+k2 < 2^62
      s"""$P,
         |$shinglesCte,
         |hs AS (SELECT doc_id, ${dh32("s")} AS h FROM sh),
         |mins AS (
         |  SELECT doc_id, seed,
         |    min((h * (2 * seed + 1) + 99991 * seed)
         |        % ${Dedup.MinhashP}) AS mh
         |  FROM hs CROSS JOIN (SELECT unnest(range(8)) AS seed) seeds
         |  GROUP BY doc_id, seed),
         |sigs AS (
         |  SELECT doc_id, seed // 2 AS band,
         |    CAST(sum(CAST(mh % ${Dedup.BandM1} AS HUGEINT)
         |          * CAST(round(pow(${Dedup.BandMult1}, 1 - seed % 2)) AS HUGEINT))
         |        % ${Dedup.BandM1} AS BIGINT) * ${Dedup.BandM2}
         |    + CAST(sum(CAST(mh % ${Dedup.BandM2} AS HUGEINT)
         |          * CAST(round(pow(${Dedup.BandMult2}, 1 - seed % 2)) AS HUGEINT))
         |        % ${Dedup.BandM2} AS BIGINT) AS band_key
         |  FROM mins GROUP BY doc_id, seed // 2)
         |SELECT band, band_key, CAST(count(*) AS BIGINT) AS dup_cnt
         |FROM sigs GROUP BY 1, 2 HAVING count(*) > 1 ORDER BY 1, 2""".stripMargin)),

    // native-Expression MinHash (codegen xxhash64) — scale path
    QuerySpec("dedup_minhash_fast", (s, dir) => {
      Dedup.minhashLSHFast(pages(s, dir)
          .where(F.octet_length(F.col("text")) > 0),
          "doc_id", "text", k = 64, bands = 16, n = 3)
        .select(F.col("band").cast(LongType).as("band"),
          F.col("band_key"), F.col("dup_cnt"))
        .orderBy("band", "band_key")
    }, oracle = None),

    QuerySpec("dedup_simhash", (s, dir) => {
      Dedup.simhashCandidates(
          pages(s, dir).where(F.octet_length(F.col("text")) > 0), "doc_id", "text")
        .select("half", "half_key", "dup_cnt")
        .orderBy("half", "half_key")
    }, oracle = Some(
      s"""$P,
         |toks AS (SELECT doc_id,
         |    unnest(list_distinct(regexp_split_to_array(lower(text), '\\s+'))) AS t
         |  FROM pages WHERE length(text) > 0),
         |bits AS (SELECT doc_id, b.bit,
         |   sum(CASE WHEN CAST(floor(${dh32("'hi:' || t")} / pow(2, b.bit)) AS BIGINT) % 2 = 1
         |            THEN 1 ELSE -1 END) AS v_hi,
         |   sum(CASE WHEN CAST(floor(${dh32("'lo:' || t")} / pow(2, b.bit)) AS BIGINT) % 2 = 1
         |            THEN 1 ELSE -1 END) AS v_lo
         |  FROM toks CROSS JOIN (SELECT unnest(range(32)) AS bit) b GROUP BY 1, 2),
         |packed AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN v_hi > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS hi,
         |    CAST(sum(CASE WHEN v_lo > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS lo
         |  FROM bits GROUP BY 1),
         |cands AS (
         |  SELECT 'hi' AS half, hi AS half_key, CAST(count(*) AS BIGINT) AS dup_cnt
         |    FROM packed GROUP BY 2 HAVING count(*) > 1
         |  UNION ALL
         |  SELECT 'lo', lo, CAST(count(*) AS BIGINT) FROM packed
         |    GROUP BY 2 HAVING count(*) > 1)
         |SELECT half, half_key, dup_cnt FROM cands ORDER BY half, half_key""".stripMargin)),

    // native-Expression SimHash (codegen xxhash64 votes) — scale path
    QuerySpec("dedup_simhash_fast", (s, dir) => {
      Dedup.simhashFastCandidates(
          pages(s, dir).where(F.octet_length(F.col("text")) > 0),
          "doc_id", "text")
        .select(F.col("band").cast(LongType).as("band"),
          F.col("band_key"), F.col("dup_cnt"))
        .orderBy("band", "band_key")
    }, oracle = None),

    // scale-sane exact Jaccard: quadratic pair expansion gated to NATIVE
    // MinHash LSH buckets + ubiquitous-shingle frequency cap; the output
    // keeps only exactly-verified pairs, so the oracle is the capped full
    // self-join (LSH miss probability for a 0.9-pair: (1-.9²)^8 ≈ 2e-8).
    // The hot-bucket cap (maxBucket=4096) is likewise a miss-probability
    // term rather than an oracle clause — native xxhash bands aren't SQL-
    // replayable — and cannot fire at gate scale: the largest possible
    // bucket is the biggest exact-dup text group (≪ 4096 at any sf;
    // TextOpsSpec covers cap behavior directly)
    QuerySpec("dedup_jaccard", (s, dir) => {
      val p = pages(s, dir)
      Dedup.ngramJaccardWithinBuckets(p, "doc_id", "text",
          n = 3, threshold = 0.9, k = 16, bands = 8,
          scaledShingleDf = Some((20, 100L)))
        .select("id_a", "id_b", "inter", "sz_a", "sz_b")
        .orderBy("id_a", "id_b")
    }, oracle = Some(
      s"""$P,
         |$shinglesCte,
         |capped AS (SELECT sh.* FROM sh
         |  JOIN (SELECT s FROM sh GROUP BY s HAVING count(*) <= greatest(20, (SELECT count(*) FROM toks) // 100)) ok
         |    ON sh.s = ok.s),
         |sizes AS (SELECT doc_id AS doc, CAST(count(*) AS BIGINT) AS sz
         |          FROM capped GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(count(*) AS BIGINT) AS inter
         |  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b
         |FROM pairs JOIN sizes sa ON sa.doc = id_a JOIN sizes sb ON sb.doc = id_b
         |WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.9
         |ORDER BY id_a, id_b""".stripMargin)),

    // near-dup components over the verified jaccard pairs: min-label
    // propagation to a fixpoint; oracle = DuckDB recursive transitive
    // closure over the identical pair set
    QuerySpec("dedup_clusters", (s, dir) => {
      val p = pages(s, dir)
      Dedup.dupClusters(
          Dedup.ngramJaccardWithinBuckets(p, "doc_id", "text",
            n = 3, threshold = 0.9, k = 16, bands = 8,
            scaledShingleDf = Some((20, 100L))),
          "id_a", "id_b")
        .orderBy("cluster_id")
    }, oracle = Some(clustersSql)),

    // same pairs through the O(log d) large-star/small-star contraction —
    // must agree with the min-label fixpoint exactly
    QuerySpec("dedup_clusters_star", (s, dir) => {
      val p = pages(s, dir)
      Dedup.dupClustersStar(
          Dedup.ngramJaccardWithinBuckets(p, "doc_id", "text",
            n = 3, threshold = 0.9, k = 16, bands = 8,
            scaledShingleDf = Some((20, 100L))),
          "id_a", "id_b")
        .orderBy("cluster_id")
    }, oracle = Some(clustersSql)),

    // ---- text analysis over documents ----
    QuerySpec("lang_id", (s, dir) => {
      t(s, dir, "documents").select(F.col("doc_id"),
          TextOps.langId(F.col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }, oracle = Some(langIdSql)),

    QuerySpec("text_quality", (s, dir) => {
      t(s, dir, "documents").select(F.col("doc_id"),
          TextOps.qualityFeatures(F.col("text")).as("q"))
        .select(F.col("doc_id"), F.col("q.n_chars").as("n_chars"),
          F.col("q.n_tokens").as("n_tokens"),
          F.col("q.punct_cnt").as("punct_cnt"),
          F.col("q.stop_cnt").as("stop_cnt"),
          F.col("q.mean_tok_len_x1000").as("mean_tok_len_x1000"))
        .orderBy("doc_id")
    }, oracle = Some {
      val stopList = TextOps.Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, text,
         |    regexp_split_to_array(lower(text), '\\s+') AS w FROM documents)
         |SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT)
         |    AS punct_cnt,
         |  CAST(len(list_filter(w, t -> t IN ($stopList))) AS BIGINT) AS stop_cnt,
         |  CAST(CAST(list_sum(list_transform(w, t -> length(t))) AS BIGINT)
         |       * 1000 // len(w) AS BIGINT) AS mean_tok_len_x1000
         |FROM toks ORDER BY doc_id""".stripMargin
    }),

    QuerySpec("token_counts", (s, dir) => {
      t(s, dir, "documents").select(F.col("doc_id"),
          TextOps.tokenCount(F.col("text")).cast(LongType).as("ws_tokens"),
          TextOps.bpeTokenCount(F.col("text")).cast(LongType).as("bpe_tokens"))
        .orderBy("doc_id")
    }, oracle = Some(
      s"""SELECT doc_id,
         |  CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT)
         |    AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextOps.BpePattern}')) AS BIGINT)
         |    AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin)),

    QuerySpec("fingerprint", (s, dir) => {
      t(s, dir, "documents").select(F.col("doc_id"),
          TextOps.fingerprint(F.col("text")).as("fp"))
        .orderBy("doc_id")
    }, oracle = Some(
      s"""WITH toks AS (SELECT doc_id,
         |    regexp_split_to_array(lower(text), '\\s+') AS w FROM documents)
         |SELECT doc_id,
         |  CAST(sum(o * ${dh32("t")}) AS BIGINT) AS fp
         |FROM (SELECT doc_id, unnest(w) AS t, generate_subscripts(w, 1) AS o
         |      FROM toks)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  )
}
