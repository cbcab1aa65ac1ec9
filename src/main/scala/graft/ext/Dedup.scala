package graft.ext

import graft.Q
import graft.sources.{Layout, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over `documents` — the dedup family a
  * training-data pipeline runs at 100 TB (north-star extension surface):
  * n-gram Jaccard via inverted index, MinHash+LSH banding, and SimHash
  * signatures.
  *
  * Scale design (the whole point of these shapes):
  *   - NO pairwise cross join anywhere. d4 joins docs through an inverted
  *     shingle index (cost ~ sum of per-shingle df^2, not n^2); d2 joins
  *     through LSH band buckets (cost ~ per-bucket collisions only).
  *   - Signatures (minhash/simhash) are per-row Column expressions —
  *     computed in one narrow projection during the scan, no shuffle.
  *   - At 100 TB both joins are plain shuffle-hash/sort-merge joins on
  *     high-cardinality keys, which AQE re-balances; hot shingles (low
  *     information, high df) are the classic skew source — the standard
  *     production guard is a df cap on the inverted index, which is a
  *     semantic parameter documented on d4 rather than hard-coded.
  */
object Dedup {
  import Portable._

  /** Exact-Jaccard near-dup threshold (matches the planted near-dup pairs
    * in the synthetic corpus; 25 pairs >= 0.5 at sf0.01). */
  val JaccardThreshold = 0.5

  /** d12 asymmetric containment gate (single definition interpolated
    * into BOTH the engine filter and the oracle WHERE). */
  val ContainmentThreshold = 0.6

  private def shingled(spark: SparkSession, dir: String): DataFrame =
    spread(Tables.documents(spark, dir), "doc_id")
      // equivalent to size(sh) > 0, but filtering BEFORE the projection:
      // a post-projection filter gets pushed down with the whole shingle
      // expression inlined into the Filter, computing it twice per row
      .where(size(tokens(col("text"))) >= 3)
      .select(col("doc_id"), shingles3(tokens(col("text"))).as("sh"))

  /** (doc_id, sh, sig) for any (doc_id, text) frame — the signature
    * projection shared by the batch dedup queries and the streaming
    * ingest (`streaming/Pipeline.dedupIngest`). Docs with fewer than 3
    * tokens have no 3-shingle signature and are passed through upstream.
    */
  def signatures(docs: DataFrame): DataFrame =
    docs
      .where(size(tokens(col("text"))) >= 3)
      .select(col("doc_id"), shingles3(tokens(col("text"))).as("sh"))
      .select(col("doc_id"), col("sh"), minhashSig(col("sh")).as("sig"))

  /** Exploded LSH band rows (doc_id, sh, bi, bk) — the index layout the
    * incremental probe joins against. `sh` rides along so candidate
    * pairs verify with exact Jaccard without a second lookup join.
    */
  def bandRows(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("sh"),
      posexplode(bandKeys(col("sig"))).as(Seq("bi", "bk")))

  private val shingledCte =
    s"""sh0 AS (SELECT doc_id, ${sqlShingles3(sqlTokens("text"))} AS sh FROM documents),
       |shingled AS (SELECT * FROM sh0 WHERE len(sh) > 0)""".stripMargin

  // ---- Winnow-gated pair tier (round 15) --------------------------------
  //
  // The uncapped inverted-index pair join carries Σ_g df(g)² candidate
  // rows through one exchange. This corpus's df is BELL-SHAPED (measured
  // at data/sf10: max df 25, mean 9.6, Σdf² = 279M over 26M postings), so
  // the d6 df-cap never binds and no rare-shingle trick (prefix filter,
  // cap) can cut the mass — at 5M docs the candidate shuffle (~2.8B rows)
  // exceeded the sf100 scratch (round-14 ENOSPC). Past [[PairGateMinDocs]]
  // the pair build DISPATCHES onto winnowing (Schleimer et al., MOSS —
  // the x_winnow selection at window [[PairWinnowW]]): fingerprint
  // postings are ~2/(w+1) of the shingle postings and the candidate mass
  // drops ×8 (measured 34.7M vs 279M at data/sf10), candidates are gated
  // on winnowed-set jaccard ≥ [[WinnowGateSlack]] (63k survivors vs 14.6M
  // share-one-fingerprint pairs at data/sf10) and every survivor is
  // VERIFIED with exact full-shingle jaccard — so emitted pairs are true
  // ≥-threshold pairs with their exact score. The cost is recall on pairs
  // that share no winnow fingerprint or miss the slack (measured 700 of
  // 25 600 true pairs = 2.7% at data/sf10; the winnow guarantee bounds
  // the misses to pairs with no shared ≥ w+2-token run). The oracle
  // dispatches on the SAME constants (the SemDedup/IVF-PQ precedent), so
  // plan and oracle agree at every corpus size; d4/d5 below
  // [[PairGateMinDocs]] remain the uncapped exact references.
  val PairGateMinDocs = 100000L
  val PairWinnowW = 9
  val WinnowGateSlack = 0.2
  val ContainGateSlack = 0.3

  /** Pair-route identity tag for persisted pair/loser artifacts: the
    * route's constants are build logic, so they belong in the table name
    * (the Layout contract). Empty on the small arm. */
  private[graft] def gateTag(nDocs: Long): String =
    if (nDocs <= PairGateMinDocs) ""
    else s"_w${PairWinnowW}g${math.round(WinnowGateSlack * 100)}"

  /** Corpus row count from parquet footer metadata (round 17 — see
    * [[graft.sources.Layout.rowCount]]): the pair-tier dispatch ran a
    * sequential count job per query build. */
  private def nDocsOf(s: SparkSession, dir: String): Long =
    graft.sources.Layout.rowCount(s, s"$dir/documents.parquet")

  /** Winnowed fingerprints (doc_id, sel) at window [[PairWinnowW]] — the
    * x_winnow selection (positional 3-gram hashes, per-window minima,
    * distinct), docs with an empty selection dropped. The selection is
    * the [[graft.functions.WinnowSelK]] KERNEL, and the emptiness filter
    * is the cheap equivalent precondition size(tokens) ≥ w+2 applied
    * BEFORE the projection (sel is empty iff n_grams = size−2 < w): the
    * first cut filtered on size(sel) > 0 AFTER an HOF projection, which
    * inlined the whole interpreted sha-per-gram tree into the filter
    * predicate and computed it twice per row — stack-sampled at ~40 min
    * per corpus pass in the killed sf100 full run. */
  private def winnowSel(s: SparkSession, dir: String): DataFrame =
    spread(Tables.documents(s, dir), "doc_id")
      .where(size(tokens(col("text"))) >= PairWinnowW + 2)
      .select(col("doc_id"),
        graft.functions.ArrayOps.winnowSel(tokens(col("text")), PairWinnowW)
          .as("sel"))

  /** Large-arm gated candidates: winnowed-fingerprint self-join, gated on
    * winnowed-set similarity. `directed = false` emits doc_a < doc_b
    * gated on winnowed jaccard; `directed = true` emits both orientations
    * gated on winnowed containment iw/|sel_a|. Returns the gate-survivor
    * pair list, localCheckpointed (near-dup-sized). */
  private def winnowGated(s: SparkSession, dir: String,
      directed: Boolean): DataFrame = {
    val sel = { val c = winnowSel(s, dir).cache(); c.count(); c }
    val e = sel.select(col("doc_id"), explode(col("sel")).as("g"))
    val n = sel.select(col("doc_id"), size(col("sel")).as("nw"))
    val cond =
      if (directed) col("a.doc_id") =!= col("b.doc_id")
      else col("a.doc_id") < col("b.doc_id")
    val p = e.as("a").join(e.as("b").hint("shuffle_hash"),
        col("a.g") === col("b.g") && cond)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("iw"))
    val gate =
      if (directed) col("iw") * 1.0 / col("na.nw") >= ContainGateSlack
      else col("iw") * 1.0 /
        (col("na.nw") + col("nb.nw") - col("iw")) >= WinnowGateSlack
    val gated = p.join(n.as("na"), col("doc_a") === col("na.doc_id"))
      .join(n.as("nb"), col("doc_b") === col("nb.doc_id"))
      .where(gate)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    sel.unpersist()
    gated
  }

  /** Full shingle sets for the (request-sized) doc ids appearing in a
    * candidate pair list — tokenization runs only on those rows. */
  private def shinglesFor(s: SparkSession, dir: String,
      cands: DataFrame): DataFrame = {
    val ids = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    spread(Tables.documents(s, dir), "doc_id")
      .join(broadcast(ids), "doc_id")
      .where(size(tokens(col("text"))) >= 3)
      .select(col("doc_id"), shingles3(tokens(col("text"))).as("sh"))
  }

  /** Large-arm exact near-dup pairs: winnow-gated candidates verified
    * with exact full-shingle jaccard (emitted score is exact). */
  private[graft] def winnowPairs(s: SparkSession, dir: String): DataFrame = {
    val gated = winnowGated(s, dir, directed = false)
    val shg = shinglesFor(s, dir, gated)
    val inter = size(array_intersect(col("sa.sh"), col("sb.sh")))
    gated.join(shg.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(shg.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (inter * 1.0 /
          (size(col("sa.sh")) + size(col("sb.sh")) - inter)).as("jaccard"))
      .where(col("jaccard") >= JaccardThreshold)
  }

  /** Small-arm exact pairs — the uncapped inverted-index counting join
    * (the d4 reference shape, unchanged). `materialize` eagerly
    * checkpoints the (near-dup-sized) pair list and releases the
    * corpus-sized shingle cache — the artifact-build hygiene; the query
    * surface passes false so the returned plan IS the pinned join shape
    * (PlanShapeSpec) and the harness clears the cache per query. */
  private[graft] def countingPairs(s: SparkSession, dir: String,
      materialize: Boolean): DataFrame = {
    // cached: the tokenize+shingle projection (interpreted kernel, the
    // most expensive per-row step) feeds the index explode AND the two
    // size-lookup joins — 3 consumers, one computation
    val sh = shingled(s, dir).cache()
    val n = sh.select(col("doc_id"), size(col("sh")).as("ns"))
    val e = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    // shuffle-hash, not broadcast: the exploded index is O(corpus) — at
    // scale it cannot broadcast. The two sides are DUPLICATED subtree
    // copies (no ReusedExchange fires), but the duplicate explode
    // pipelines run CONCURRENTLY on otherwise-idle cores: materializing
    // the postings pre-partitioned on g (cache + eager count) was A/B'd
    // round 17 and WON at sf0.1 (d4 1.54->1.37 s) but REGRESSED 1.6x at
    // sf1 (3.10->4.92 s) — the string-postings cache build serializes
    // what concurrency was hiding, and the cache grows with the corpus.
    // The recompute shape is the scale-safe one; kept.
    val p = e.as("a").join(e.as("b").hint("shuffle_hash"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val out = p.join(n.as("na"), col("doc_a") === col("na.doc_id"))
      .join(n.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter") * 1.0 /
          (col("na.ns") + col("nb.ns") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= JaccardThreshold)
    if (materialize) {
      val pairs = out.localCheckpoint()
      sh.unpersist()
      pairs
    } else out
  }

  /** The size-dispatched exact pair list (doc_a < doc_b, exact jaccard ≥
    * [[JaccardThreshold]]) — d4/d5 and the pipeline loser sets. */
  private[graft] def exactPairsTiered(s: SparkSession, dir: String,
      materialize: Boolean = false): DataFrame =
    if (nDocsOf(s, dir) <= PairGateMinDocs) countingPairs(s, dir, materialize)
    else winnowPairs(s, dir)

  /** Oracle CTE block for the dispatched pair list: `pairs(doc_a, doc_b,
    * jaccard)` — the small arm is the uncapped counting join, the large
    * arm the winnow-gate + exact verify, each guarded on the SAME
    * [[PairGateMinDocs]] constant as the plan (exactly one leg non-empty).
    * Requires `$shingledCte` already in scope. */
  /** The large arm's oracle CTEs alone (ndoc guard → winnow selection →
    * gated self-join → exact verify as `wverify(doc_a, doc_b, jaccard)`),
    * shared by [[pairsDispatchCtes]] and the d7-family `compCte`. */
  private val winnowArmCtes: String = {
    val gramHash = sqlHash32("array_to_string(toks[i+1:i+3], ' ')")
    s"""ndoc AS (SELECT count(*) AS n FROM documents),
       |wt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |       WHERE (SELECT n FROM ndoc) > $PairGateMinDocs),
       |wg AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
       |         list_transform(range(0, len(toks) - 2), i -> $gramHash)
       |       ELSE CAST([] AS BIGINT[]) END AS hs FROM wt),
       |wsel AS (SELECT doc_id, CASE WHEN len(hs) >= $PairWinnowW THEN
       |           list_distinct(list_transform(range(0, len(hs) - ${PairWinnowW - 1}),
       |                         j -> list_min(hs[j+1:j+$PairWinnowW])))
       |         ELSE CAST([] AS BIGINT[]) END AS sel FROM wg),
       |wn AS (SELECT doc_id, len(sel) AS nw FROM wsel WHERE len(sel) > 0),
       |we AS (SELECT doc_id, unnest(sel) AS g FROM wsel),
       |wp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS iw
       |       FROM we a JOIN we b ON a.g = b.g AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |wgated AS (SELECT doc_a, doc_b
       |       FROM wp JOIN wn na ON na.doc_id = wp.doc_a
       |               JOIN wn nb ON nb.doc_id = wp.doc_b
       |       WHERE iw * 1.0 / (na.nw + nb.nw - iw) >= $WinnowGateSlack),
       |wverify AS (SELECT doc_a, doc_b,
       |       len(list_intersect(sa.sh, sb.sh)) * 1.0 /
       |         (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
       |       FROM wgated JOIN shingled sa ON sa.doc_id = wgated.doc_a
       |                   JOIN shingled sb ON sb.doc_id = wgated.doc_b)""".stripMargin
  }

  private val pairsDispatchCtes: String =
    s"""$winnowArmCtes,
       |xn AS (SELECT doc_id, len(sh) AS ns FROM shingled),
       |xe AS (SELECT doc_id, unnest(sh) AS g FROM shingled
       |       WHERE (SELECT n FROM ndoc) <= $PairGateMinDocs),
       |xp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |       FROM xe a JOIN xe b ON a.g = b.g AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |xj AS (SELECT doc_a, doc_b,
       |              inter * 1.0 / (na.ns + nb.ns - inter) AS jaccard
       |       FROM xp JOIN xn na ON na.doc_id = xp.doc_a
       |               JOIN xn nb ON nb.doc_id = xp.doc_b
       |       WHERE inter * 1.0 / (na.ns + nb.ns - inter) >= $JaccardThreshold),
       |pairs AS (SELECT doc_a, doc_b, jaccard FROM xj
       |          UNION ALL
       |          SELECT doc_a, doc_b, jaccard FROM wverify
       |          WHERE jaccard >= $JaccardThreshold)""".stripMargin

  def queries: Seq[Q] = Seq(

    // d4: exact 3-gram Jaccard pairs via inverted shingle index — the
    // uncapped counting join below PairGateMinDocs, the winnow-gated +
    // exact-verified route above it (see the tier note), oracle
    // dispatched on the same constant.
    Q("d4_ngram_jaccard",
      s"""WITH $shingledCte,
         |$pairsDispatchCtes
         |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
         |FROM pairs ORDER BY doc_a, doc_b""".stripMargin) {
      (s, dir) =>
        exactPairsTiered(s, dir)
          .select(col("doc_a"), col("doc_b"), graft.Q.r6(col("jaccard")).as("jaccard"))
          .transform(d => graft.Q.sorted(d, "doc_a", "doc_b"))
    },

    // d12: asymmetric shingle CONTAINMENT C(A->B) = |A∩B| / |A| — the
    // quote/subset detector Jaccard misses (a short doc fully contained
    // in a long one has low Jaccard but containment ~1; Broder's
    // original distinction). Same inverted-index shape as d4 — one
    // exploded self-join on the shingle key, never n² — but DIRECTED:
    // both (a,b) orientations emit, normalized by the contained side
    // only. Past PairGateMinDocs the candidates route through the winnow
    // gate (directed: winnowed containment ≥ ContainGateSlack) and every
    // survivor verifies with exact full-shingle containment — the same
    // tier as d4, oracle dispatched on the same constants.
    Q("d12_containment",
      s"""WITH $shingledCte,
         |ndoc AS (SELECT count(*) AS n FROM documents),
         |n AS (SELECT doc_id, len(sh) AS ns FROM shingled),
         |e AS (SELECT doc_id, unnest(sh) AS g FROM shingled
         |      WHERE (SELECT n FROM ndoc) <= $PairGateMinDocs),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id <> b.doc_id
         |      GROUP BY 1, 2),
         |c AS (SELECT doc_a, doc_b, inter * 1.0 / na.ns AS containment
         |      FROM p JOIN n na ON na.doc_id = p.doc_a),
         |wt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |       WHERE (SELECT n FROM ndoc) > $PairGateMinDocs),
         |wg AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
         |         list_transform(range(0, len(toks) - 2),
         |                        i -> ${sqlHash32("array_to_string(toks[i+1:i+3], ' ')")})
         |       ELSE CAST([] AS BIGINT[]) END AS hs FROM wt),
         |wsel AS (SELECT doc_id, CASE WHEN len(hs) >= $PairWinnowW THEN
         |           list_distinct(list_transform(range(0, len(hs) - ${PairWinnowW - 1}),
         |                         j -> list_min(hs[j+1:j+$PairWinnowW])))
         |         ELSE CAST([] AS BIGINT[]) END AS sel FROM wg),
         |wn AS (SELECT doc_id, len(sel) AS nw FROM wsel WHERE len(sel) > 0),
         |we AS (SELECT doc_id, unnest(sel) AS g FROM wsel),
         |wp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS iw
         |       FROM we a JOIN we b ON a.g = b.g AND a.doc_id <> b.doc_id
         |       GROUP BY 1, 2),
         |wgated AS (SELECT doc_a, doc_b
         |       FROM wp JOIN wn na ON na.doc_id = wp.doc_a
         |       WHERE iw * 1.0 / na.nw >= $ContainGateSlack),
         |wc AS (SELECT doc_a, doc_b,
         |       len(list_intersect(sa.sh, sb.sh)) * 1.0 / len(sa.sh) AS containment
         |       FROM wgated JOIN shingled sa ON sa.doc_id = wgated.doc_a
         |                   JOIN shingled sb ON sb.doc_id = wgated.doc_b),
         |cc AS (SELECT doc_a, doc_b, containment FROM c
         |       UNION ALL SELECT doc_a, doc_b, containment FROM wc)
         |SELECT doc_a, doc_b, round(containment, 6) AS containment
         |FROM cc WHERE containment >= $ContainmentThreshold
         |ORDER BY doc_a, doc_b""".stripMargin) {
      (s, dir) => {
        if (nDocsOf(s, dir) > PairGateMinDocs) {
          val gated = winnowGated(s, dir, directed = true)
          val shg = shinglesFor(s, dir, gated)
          val out = gated
            .join(shg.as("sa"), col("doc_a") === col("sa.doc_id"))
            .join(shg.as("sb"), col("doc_b") === col("sb.doc_id"))
            .select(col("doc_a"), col("doc_b"),
              (size(array_intersect(col("sa.sh"), col("sb.sh"))) * 1.0 /
                size(col("sa.sh"))).as("containment"))
            .where(col("containment") >= ContainmentThreshold)
            .select(col("doc_a"), col("doc_b"),
              graft.Q.r6(col("containment")).as("containment"))
          graft.Q.sorted(out, "doc_a", "doc_b")
        } else {
          val sh = shingled(s, dir).cache()
          val n = sh.select(col("doc_id"), size(col("sh")).as("ns"))
          // duplicated-subtree recompute kept deliberately — see the
          // countingPairs note (materialization won at sf0.1, regressed
          // 1.6x at sf1)
          val e = sh.select(col("doc_id"), explode(col("sh")).as("g"))
          val p = e.as("a").join(e.as("b").hint("shuffle_hash"),
              col("a.g") === col("b.g") && col("a.doc_id") =!= col("b.doc_id"))
            .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
            .agg(count(lit(1)).as("inter"))
          val c = p.join(n.as("na"), col("doc_a") === col("na.doc_id"))
            .select(col("doc_a"), col("doc_b"),
              (col("inter") * 1.0 / col("na.ns")).as("containment"))
          val out = c.where(col("containment") >= ContainmentThreshold)
            .select(col("doc_a"), col("doc_b"), graft.Q.r6(col("containment")).as("containment"))
            .localCheckpoint() // materialize the (tiny) contained-pair set,
                               // then release the corpus-sized shingle cache
                               // (the nearDupLosersBuild hygiene)
          sh.unpersist()
          graft.Q.sorted(out, "doc_a", "doc_b")
        }
      }
    },

    // d2: MinHash signatures + LSH banding -> candidate pairs -> exact
    // Jaccard verification. Output = verified candidates (so recall is
    // whatever 8x4 banding yields — identical on both sides by
    // construction).
    Q("d2_minhash_lsh",
      s"""WITH $shingledCte,
         |sig AS (SELECT doc_id, sh, ${sqlMinhashSig("sh")} AS sig FROM shingled),
         |bands AS (SELECT doc_id, r.bi AS bi, (${sqlBandKeys("sig")})[r.bi + 1] AS bk
         |          FROM sig CROSS JOIN (SELECT unnest(range(0, $LshBands)) AS bi) r),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |verified AS (SELECT doc_a, doc_b,
         |    len(list_intersect(sa.sh, sb.sh)) * 1.0 /
         |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard,
         |    len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2])) / ${MinhashK}.0 AS sim_est
         |  FROM cand JOIN sig sa ON sa.doc_id = cand.doc_a
         |            JOIN sig sb ON sb.doc_id = cand.doc_b)
         |SELECT doc_a, doc_b, round(sim_est, 6) AS sim_est, round(jaccard, 6) AS jaccard
         |FROM verified WHERE jaccard >= $JaccardThreshold ORDER BY doc_a, doc_b""".stripMargin) {
      (s, dir) => {
        // cached: feeds the band explode AND both sides of the verify
        // join — without it the sha256+signature work runs three times.
        // Materialized EAGERLY (round 16): AQE submits this query's
        // independent shuffle/broadcast stages concurrently, and every
        // one that arrives before the cache is built re-runs the
        // sha256-per-shingle signature pipeline (same race as x_lm_df).
        val sig = shingled(s, dir)
          .select(col("doc_id"), col("sh"), minhashSig(col("sh")).as("sig"))
          .cache()
        sig.count()
        val bands = sig.select(col("doc_id"),
          posexplode(bandKeys(col("sig"))).as(Seq("bi", "bk")))
        val cand = bands.as("a").join(bands.as("b").hint("shuffle_hash"),
            col("a.bi") === col("b.bi") && col("a.bk") === col("b.bk") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        val verified = cand
          .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
          .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
          .select(col("doc_a"), col("doc_b"),
            (size(array_intersect(col("sa.sh"), col("sb.sh"))) * 1.0 /
              (size(col("sa.sh")) + size(col("sb.sh")) -
                size(array_intersect(col("sa.sh"), col("sb.sh"))))).as("jaccard"),
            (size(filter(zip_with(col("sa.sig"), col("sb.sig"), (x, y) => x === y),
              b => b)) / lit(MinhashK.toDouble)).as("sim_est"))
        verified.where(col("jaccard") >= JaccardThreshold)
          .select(col("doc_a"), col("doc_b"),
            graft.Q.r6(col("sim_est")).as("sim_est"), graft.Q.r6(col("jaccard")).as("jaccard"))
          .transform(d => graft.Q.sorted(d, "doc_a", "doc_b"))
      }
    },

    // d5: edit-distance verification of the n-gram candidates — the last
    // rung of the near-dup ladder (cheap signatures -> set overlap ->
    // exact character distance on the few surviving pairs). Levenshtein
    // is integer DP, identical in both engines; the expensive O(len^2)
    // compare runs only on pairs that already passed the Jaccard gate.
    Q("d5_edit_distance",
      s"""WITH $shingledCte,
         |$pairsDispatchCtes
         |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard,
         |       levenshtein(da.text, db.text) AS edit_dist
         |FROM pairs j JOIN documents da ON da.doc_id = j.doc_a
         |             JOIN documents db ON db.doc_id = j.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin) {
      (s, dir) => {
        val j = exactPairsTiered(s, dir)
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        j.join(docs.as("da"), col("doc_a") === col("da.doc_id"))
          .join(docs.as("db"), col("doc_b") === col("db.doc_id"))
          .select(col("doc_a"), col("doc_b"), graft.Q.r6(col("jaccard")).as("jaccard"),
            levenshtein(col("da.text"), col("db.text")).cast("long").as("edit_dist"))
          .transform(d => graft.Q.sorted(d, "doc_a", "doc_b"))
      }
    },

    // d3: SimHash 32-bit signatures (token multiset, occurrence-weighted).
    Q("d3_simhash",
      s"""SELECT doc_id, ${sqlSimhash32(sqlTokens("text"))} AS simhash
         |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        spread(Tables.documents(s, dir), "doc_id")
          .select(col("doc_id"), simhash32(tokens(col("text"))).as("simhash"))
          .transform(d => graft.Q.sorted(d, "doc_id"))
    },

    // d6: the df-capped inverted index — the production skew guard for
    // d4/d5 at 100 TB. A shingle shared by millions of documents (a
    // boilerplate header, a licence line) is (a) the classic join-skew
    // key that strands one reducer with df^2 pair work and (b) carries
    // no dedup signal. Dropping index postings with df > cap bounds
    // per-key join fan-out at cap^2. Two-stage, same ladder as d2:
    // candidates are GATED on the capped-index jaccard (pure counting,
    // no array payloads in the wide join), and only gate survivors pay
    // the exact verification against the FULL shingle sets — so the
    // REPORTED jaccard is exact, and the cap costs recall only (a pair
    // whose similarity rests on hot shingles can miss the gate;
    // documented tradeoff of every production df cap). The CAP is
    // size-dispatched (round 15): this corpus's df is bell-shaped (max
    // 25), so the 50 skew guard never binds and d6 carried the full
    // Σdf² candidate mass that overran the sf100 scratch — past
    // PairGateMinDocs the cap drops to DfCapLarge, cutting the mass
    // 6.1× (measured at data/sf10: 45.7M vs 279M) at the documented
    // recall cost; the oracle dispatches on the same constants.
    //
    // Postings are HASHED ([[Portable.hash32]]) and df comes from a
    // hash AGGREGATE, not a window: the window formulation sorted the
    // full 260M-posting index (strings) before the cap could drop
    // anything and its sort spill alone overran the sf100 scratch even
    // solo with 36 GB free (round-15 retry). Hashed 16-byte rows + a
    // sort-free groupBy/semi-join — both hashpartitioned on h, so the
    // exchange is still reused across the self-join legs — cut the
    // disk footprint ~5×. Both engines hash identically, so any
    // 32-bit collision (expected O(100) at 2.7M distinct shingles)
    // affects the GATE identically on both sides; the emitted jaccard
    // is still the exact full-shingle verification.
    Q("d6_jaccard_dfcap",
      s"""WITH $shingledCte,
         |ndoc AS (SELECT count(*) AS n FROM documents),
         |eh AS (SELECT doc_id, ${sqlHash32("g")} AS h FROM (
         |         SELECT doc_id, unnest(sh) AS g FROM shingled)),
         |dfk AS (SELECT h FROM (SELECT h, count(*) AS df FROM eh GROUP BY h)
         |        WHERE df <= (SELECT CASE WHEN n > $PairGateMinDocs
         |                     THEN $DfCapLarge ELSE $DfCap END FROM ndoc)),
         |ek AS (SELECT doc_id, h FROM eh JOIN dfk USING (h)),
         |nk AS (SELECT doc_id, count(*) AS nks FROM ek GROUP BY 1),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM ek a JOIN ek b ON a.h = b.h AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |gated AS (SELECT doc_a, doc_b
         |      FROM p JOIN nk na ON na.doc_id = p.doc_a
         |             JOIN nk nb ON nb.doc_id = p.doc_b
         |      WHERE inter * 1.0 / (na.nks + nb.nks - inter) >= $JaccardThreshold),
         |verified AS (SELECT doc_a, doc_b,
         |    len(list_intersect(sa.sh, sb.sh)) * 1.0 /
         |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
         |  FROM gated JOIN shingled sa ON sa.doc_id = gated.doc_a
         |             JOIN shingled sb ON sb.doc_id = gated.doc_b)
         |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
         |FROM verified WHERE jaccard >= $JaccardThreshold
         |ORDER BY doc_a, doc_b""".stripMargin) {
      (s, dir) => {
        val cap = if (nDocsOf(s, dir) > PairGateMinDocs) DfCapLarge else DfCap
        d6PairsAtCap(s, dir, cap)
      }
    })

  /** d6's capped-index gate + exact verify at an EXPLICIT cap — one
    * implementation shared by the d6 query body (cap dispatched on
    * [[PairGateMinDocs]]) and [[graft.tools.Recall]], which
    * re-runs it at both caps to measure what the harder
    * [[DfCapLarge]] gate costs in pair recall (the oracle dispatches on
    * the same constants, so in-band correctness can't see that number).
    */
  private[graft] def d6PairsAtCap(s: SparkSession, dir: String,
      cap: Int): DataFrame = {
        val sh = shingled(s, dir).cache() // index AND both verify sides
        val eh = sh.select(col("doc_id"), explode(col("sh")).as("g"))
          .select(col("doc_id"), hash32(col("g")).as("h"))
        // Round-16 (guide §2.4): eh used to feed TWO exchanges — the df
        // aggregate's (partial-agg rows) and the semi-join's (raw rows).
        // DataFrame reuse duplicates the logical subtree and column
        // pruning makes the copies canonically unequal, so neither AQE
        // nor the exchange-reuse rule dedups them: the explode+sha256
        // map side ran once PER CONSUMER (measured: two ~2.5 s
        // IMR-scanning stages at sf0.1). A bare repartition doesn't fix
        // it (each copy materializes its own exchange — measured, see
        // plans/r16/d6_jaccard_dfcap_tmp.txt); the postings frame must
        // be MATERIALIZED pre-partitioned on h, so the hash pass runs
        // once and every consumer reads h-partitioned cached rows with
        // no further exchange. Below the pair-tier threshold the 16-byte
        // posting rows cache comfortably; above it (sf100 rung) the
        // recompute shape that survived the round-15 solo run stays.
        // NOT eagerly materialized (round-17 close of the round-16
        // advice item): the concurrent-consumer cache race fails SOFT —
        // both consumers building the cache is exactly the old
        // duplicated-map-side shape, never worse — while an eager
        // count() measurably serializes the hash pass (A/B'd at
        // sf0.1/sf1, round 17).
        val ehx = if (nDocsOf(s, dir) > PairGateMinDocs) eh
                  else spread(eh, "h").cache()
        val dfk = ehx.groupBy("h").agg(count(lit(1)).as("df"))
          .where(col("df") <= cap).select(col("h"))
        val ek = ehx.join(dfk.hint("shuffle_hash"), "h")
          .select(col("doc_id"), col("h"))
        val nk = ek.groupBy("doc_id").agg(count(lit(1)).as("nks"))
        val p = ek.as("a").join(ek.as("b").hint("shuffle_hash"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
        val gated = p.join(nk.as("na"), col("doc_a") === col("na.doc_id"))
          .join(nk.as("nb"), col("doc_b") === col("nb.doc_id"))
          .where(col("inter") * 1.0 /
            (col("na.nks") + col("nb.nks") - col("inter")) >= JaccardThreshold)
          .select(col("doc_a"), col("doc_b"))
        val verified = gated
          .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
          .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
          .select(col("doc_a"), col("doc_b"),
            (size(array_intersect(col("sa.sh"), col("sb.sh"))) * 1.0 /
              (size(col("sa.sh")) + size(col("sb.sh")) -
                size(array_intersect(col("sa.sh"), col("sb.sh"))))).as("jaccard"))
        verified.where(col("jaccard") >= JaccardThreshold)
          .select(col("doc_a"), col("doc_b"), graft.Q.r6(col("jaccard")).as("jaccard"))
          .transform(d => graft.Q.sorted(d, "doc_a", "doc_b"))
  }

  /** Hot-shingle document-frequency cap for the d6 inverted index. */
  val DfCap = 50

  /** d6's cap past [[PairGateMinDocs]]: with this corpus's bell-shaped
    * df (max 25) the skew-guard 50 never binds, so at scale the cap must
    * bind on the BULK to bound the candidate mass — df ≤ 8 keeps ~26% of
    * postings and cuts Σdf² 6.1× (measured at data/sf10). Harder capping
    * costs gate recall (capped-set jaccard is noisier), the documented
    * d6 trade; d4's winnow tier is the recall-preserving route. */
  val DfCapLarge = 8

  /** Max label-propagation rounds for d7. With the pointer-jumping step
    * each round at least halves the remaining label depth, so 15 rounds
    * cover components of diameter ~2^15 — far beyond any real near-dup
    * cluster; the loop exits on convergence well before it. */
  val CcMaxIters = 15

  /** The jaccard-gated pair list (doc_a < doc_b), shared by d7/d8 —
    * same inverted-index plan as d4 without the jaccard payload: one
    * self-join on the exploded shingle index counts every pair's
    * intersection in a single partial-aggregated pass (cost Σ_g df(g)²,
    * which this corpus bounds at ~10·|index| — max shingle df is ~25 at
    * every SF because near-dup clusters are small; d6 is the query whose
    * ORACLE pins the df-cap semantics themselves).
    *
    * A PPJoin-style prefix-filter rewrite (index each doc's rarest
    * |sh|-⌈t|sh|⌉+1 shingles, verify candidates by array_intersect on
    * the full shingle sets) measured 3.6× SLOWER at sf1 and filled
    * 70 GB of shuffle at sf10: with no df skew the candidate set is
    * barely smaller than the exact pair set, so the rewrite pays an
    * extra window sort, a distinct, and two joins that ship full
    * shingle ARRAYS per candidate — the counting join ships 16-byte
    * pair rows. Prefix filtering only buys anything when hot shingles
    * dominate Σ df²; this index is verified flat.
    *
    * Memory hygiene at scale: the reused artifacts are the capped
    * exploded (doc_id, g) index (cached COLUMNAR — strings compress;
    * per-doc lengths derive from it by a count, since shingles3 emits
    * distinct shingles) and, since the r7 exact-verify promotion, the
    * full shingle-ARRAY rows that feed both verify sides. Array rows
    * pinning gigabytes of MemoryStore destabilized sf10 runs when the
    * cache outlived the query — so BOTH caches are scoped: the returned
    * pair list is eagerly materialized via localCheckpoint (it is
    * near-dup-sized, orders of magnitude smaller than the corpus) and
    * sh/e are unpersisted before this method returns. Callers hold
    * checkpointed pairs; no corpus-sized block survives the call.
    *
    * Skew guard (round-6 verdict, promoted from d6): the index is
    * df-capped BY DEFAULT — postings whose shingle document frequency
    * exceeds `dfCap` are dropped before the self-join, bounding the
    * counting join at Σ_{df(g)<=cap} df(g)² <= cap·|index| no matter how
    * hot a real corpus's stopword-like shingles get. Candidate gating
    * then runs over the capped universe (d6's recall-oriented estimate
    * tier) and every candidate is VERIFIED with exact full-shingle
    * jaccard, so emitted pairs are true >= threshold pairs regardless of
    * the cap; the only cap effect is possible false NEGATIVES among
    * pairs whose similarity lives entirely in hot shingles — the
    * standard (and intended) trade, since df>cap shingles carry no
    * near-dup signal. The d7/d8 oracle SQL (compCte) mirrors these
    * capped-gate + exact-verify semantics, so it adjudicates this path
    * exactly at any df distribution; d4/d5 remain the uncapped
    * references. (At every gate SF max df ≈ 25 < 50 = DfCap, so capped
    * and uncapped are additionally bit-identical there.)
    */
  private def jaccardPairs(s: SparkSession, dir: String,
      dfCap: Int = DfCap): DataFrame = {
    // size dispatch (round 15): past PairGateMinDocs the candidate mass
    // routes through the winnow gate (see the tier note above) — the
    // df-cap below stays as the skew guard of the small arm, where the
    // counting join is the cheaper exact shape
    if (nDocsOf(s, dir) > PairGateMinDocs)
      return winnowPairs(s, dir).select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
    val sh = shingled(s, dir).cache() // index AND both exact-verify sides
    val e = sh.select(col("doc_id"), explode(col("sh")).as("g"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")))
      .where(col("df") <= dfCap)
      .select(col("doc_id"), col("g"))
      .cache()
    val n = e.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    val p = e.as("a").join(e.as("b").hint("shuffle_hash"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val gated = p.join(n.as("na"), col("doc_a") === col("na.doc_id"))
      .join(n.as("nb"), col("doc_b") === col("nb.doc_id"))
      .where(col("inter") * 1.0 /
        (col("na.ns") + col("nb.ns") - col("inter")) >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
    // exact verification against the FULL shingle sets: candidates are a
    // near-dup-sized set (orders of magnitude smaller than the corpus),
    // so these two joins ship almost nothing; with the cap not binding
    // the predicate is a no-op re-check of the gate
    val inter = size(array_intersect(col("sa.sh"), col("sb.sh")))
    val pairs = gated
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .where(inter * 1.0 /
        (size(col("sa.sh")) + size(col("sb.sh")) - inter) >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint() // materialize the (tiny) pair list, then drop the
                         // corpus-sized caches — see "Memory hygiene" above
    e.unpersist()
    sh.unpersist()
    pairs
  }

  /** Connected components over the near-dup pair graph via min-label
    * propagation: every vertex starts as its own component id and
    * repeatedly takes the min over its neighborhood until a fixpoint —
    * O(component diameter) rounds, each one join + one min-aggregate,
    * lineage cut per round with `localCheckpoint` so the plan doesn't
    * grow with iterations. Convergence test is the monotone-decreasing
    * integer sum of labels (an O(1)-row driver read per round, not a
    * data collect). Near-dup graphs at 100 TB are overwhelmingly tiny
    * star/path components, so rounds ~ 2-4; the O(log n)
    * large-star/small-star variant is the upgrade path if adversarial
    * long chains ever dominate. Returns (doc_id, component) for every
    * doc that appears in at least one near-dup pair; component = min
    * doc_id reachable.
    */
  private def components(s: SparkSession, dir: String): DataFrame = {
    val pairs = persistedJaccardPairs(s, dir)
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
    labelPropagate(edges).select(col("u").as("doc_id"), col("comp").as("component"))
  }

  /** The verified near-dup pair list as a build-once persisted artifact
    * (the CoPurchase pattern, round-10 verdict task 1): d7, d8 and every
    * bench iteration of them consume the SAME pair graph, but each call
    * used to re-run the full shingle-index self-join. The pair list is
    * near-dup-sized (orders of magnitude below the corpus), so the
    * artifact is tiny; the expensive derivation runs once per corpus
    * fingerprint and later sessions re-register the files. */
  private def persistedJaccardPairs(s: SparkSession, dir: String): DataFrame =
    Layout.ensureBucketedArtifact(
      s, s"graft_ndpairs_${Layout.sourceFingerprint(s, s"$dir/documents.parquet")}" +
        gateTag(nDocsOf(s, dir)),
      "doc_a", 8) { jaccardPairs(s, dir) }

  /** Min-label propagation with pointer jumping over an undirected edge
    * list (both directions present). Each round: (1) every vertex takes
    * the min label over its neighborhood, (2) every vertex replaces its
    * label with its LABEL's label (pointer jumping — labels are always
    * vertex ids, so the label vertex has a row). Step 1 alone needs
    * O(diameter) rounds and would silently truncate on a long chain;
    * step 2 halves the remaining depth per round, giving O(log n) —
    * the same compression trick as the Hash-to-Min / large-star
    * small-star MapReduce CC algorithms. Exposed for the property spec,
    * which checks it against driver-side union-find on adversarial
    * graphs (chains, stars, cliques).
    */
  def labelPropagate(edgesIn: DataFrame): DataFrame = {
    // lazy checkpoints (round 17): the prevSum probe right below is the
    // materializing action for BOTH frames — edges persists when the
    // labels job first computes it; the eager variant paid a dedicated
    // pass per frame
    val edges = edgesIn.localCheckpoint(eager = false) // upstream runs once, not once per round
    var labels = edges.select(col("u")).distinct()
      .select(col("u"), col("u").as("comp"))
      .localCheckpoint(eager = false)
    var prevSum = labels.agg(sum("comp")).head().getLong(0)
    var converged = false
    var iters = 0
    while (!converged && iters < CcMaxIters) {
      val msgs = edges.as("e")
        .join(labels.as("l"), col("e.v") === col("l.u"))
        .select(col("e.u").as("u"), col("l.comp").as("comp"))
      // pointer jump through the PREVIOUS round's (already checkpointed)
      // label map — compresses label chains without materializing an
      // extra intermediate per round; renamed projection keeps the
      // self-referencing join unambiguous
      val prev = labels.select(col("u").as("lu"), col("comp").as("lcomp"))
      labels = labels.union(msgs).groupBy("u")
        .agg(min("comp").as("comp"))
        .join(prev, col("comp") === col("lu"), "left")
        .select(col("u"), coalesce(col("lcomp"), col("comp")).as("comp"))
        // lazy: the sum probe materializes the round's labels in one job
        .localCheckpoint(eager = false)
      val sumNow = labels.agg(sum("comp")).head().getLong(0)
      converged = sumNow == prevSum
      prevSum = sumNow
      iters += 1
    }
    // Truncation must be LOUD: exiting via the iteration cap instead of
    // the fixpoint test means the labels are not components and every
    // downstream keep/drop decision would silently be wrong. Pointer
    // jumping bounds convergence at O(log n) rounds, so hitting the cap
    // indicates a bug or a graph beyond the configured scale — fail.
    if (!converged)
      throw new IllegalStateException(
        s"labelPropagate did not converge within $CcMaxIters rounds; " +
          "component labels would be truncated (raise CcMaxIters only if " +
          "log2(max component diameter) genuinely exceeds it)")
    labels
  }

  /** The oracle-side mirror of [[components]]: DuckDB's recursive CTE
    * computing min reachable id — a different algorithm (transitive
    * closure) arriving at the same fixpoint, which is exactly what makes
    * it a trustworthy oracle. Defines CTE `comp(doc_id, component)`;
    * must follow `WITH RECURSIVE $shingledCte`.
    *
    * The pair stage mirrors the ENGINE's production semantics exactly
    * (round-7 advice): df-capped gate over the capped index, then exact
    * verification on the full shingle sets — so on a corpus where df
    * exceeds DfCap the oracle pins the documented capped-recall
    * behavior the engine actually ships, instead of reporting a
    * mismatch that needs hand-adjudication. d4/d5 remain the UNCAPPED
    * exact-Jaccard reference queries.
    */
  private val compCte =
    s"""$winnowArmCtes,
       |e0 AS (SELECT doc_id, unnest(sh) AS g FROM shingled
       |       WHERE (SELECT n FROM ndoc) <= $PairGateMinDocs),
       |e AS (SELECT doc_id, g FROM (
       |        SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM e0)
       |      WHERE df <= $DfCap),
       |nk AS (SELECT doc_id, count(*) AS nks FROM e GROUP BY 1),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |gated AS (SELECT doc_a, doc_b
       |      FROM p JOIN nk na ON na.doc_id = p.doc_a
       |             JOIN nk nb ON nb.doc_id = p.doc_b
       |      WHERE inter * 1.0 / (na.nks + nb.nks - inter) >= $JaccardThreshold),
       |pairs AS (SELECT doc_a, doc_b
       |      FROM gated JOIN shingled sa ON sa.doc_id = gated.doc_a
       |                 JOIN shingled sb ON sb.doc_id = gated.doc_b
       |      WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
       |            (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
       |            >= $JaccardThreshold
       |      UNION ALL
       |      SELECT doc_a, doc_b FROM wverify
       |      WHERE jaccard >= $JaccardThreshold),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(u, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.v),
       |comp AS (SELECT u AS doc_id, min(r) AS component FROM reach GROUP BY u)""".stripMargin

  /** d7/d8/d9 — the group/decide/decontaminate tail of the dedup
    * pipeline: pairs -> components -> per-component keep decision, and
    * benchmark decontamination.
    */
  def ccQueries: Seq[Q] = Seq(

    // d7: the step that turns PAIRS into dedup GROUPS (keep one doc per
    // component, not one per pair: pairs (A,B),(B,C) must collapse to
    // ONE group even though (A,C) was never emitted).
    Q("d7_cc_groups",
      s"""WITH RECURSIVE $shingledCte,
         |$compCte
         |SELECT doc_id, component,
         |       count(*) OVER (PARTITION BY component) AS comp_size
         |FROM comp ORDER BY doc_id""".stripMargin) {
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
        components(s, dir)
          .withColumn("comp_size", count(lit(1)).over(w))
          .transform(d => graft.Q.sorted(d, "doc_id"))
      }
    },

    // d13: dedup-sweep observability — the cluster-size histogram every
    // production dedup run reports (how much mass sits in how-large
    // duplicate clusters; the number that decides whether near-dup
    // pressure is head- or tail-shaped). Two exact-integer aggregations
    // over the (pairs-only, tiny) component map — the corpus itself is
    // never touched past the d7 pair graph.
    Q("d13_cluster_stats",
      s"""WITH RECURSIVE $shingledCte,
         |$compCte,
         |sz AS (SELECT component, count(*) AS comp_size FROM comp GROUP BY component)
         |SELECT CAST(comp_size AS BIGINT) AS comp_size,
         |       CAST(count(*) AS BIGINT) AS n_components,
         |       CAST(sum(comp_size) AS BIGINT) AS n_docs
         |FROM sz GROUP BY comp_size ORDER BY comp_size""".stripMargin) {
      (s, dir) =>
        components(s, dir)
          .groupBy("component").agg(count(lit(1)).as("comp_size"))
          .groupBy("comp_size")
          .agg(count(lit(1)).as("n_components"),
            sum(col("comp_size")).as("n_docs"))
          .transform(d => graft.Q.sorted(d, "comp_size"))
    },

    // d8: the KEEP decision — per duplicate component retain the best
    // member (longest in bytes, doc_id as the deterministic tie-break);
    // docs in no component keep themselves. This is the row-level
    // verdict a dedup sweep actually emits at 100 TB: a boolean per
    // document, computed with one left join against the (tiny, pairs-
    // only) component map and one per-component window — the full
    // corpus is never shuffled except by component, whose groups are
    // duplicate clusters (bounded, skew-free by construction).
    Q("d8_dedup_keep",
      s"""WITH RECURSIVE $shingledCte,
         |$compCte,
         |lab AS (SELECT d.doc_id,
         |               coalesce(comp.component, d.doc_id) AS component,
         |               strlen(d.text) AS sz
         |        FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id),
         |ranked AS (SELECT doc_id, component,
         |                  row_number() OVER (PARTITION BY component
         |                                     ORDER BY sz DESC, doc_id) AS rk
         |           FROM lab)
         |SELECT doc_id, component, rk = 1 AS keep
         |FROM ranked ORDER BY doc_id""".stripMargin) {
      (s, dir) => {
        val comp = components(s, dir)
        val lab = Tables.documents(s, dir)
          .select(col("doc_id"), octet_length(col("text")).as("sz"))
          .join(comp.withColumnRenamed("doc_id", "c_doc"),
            col("doc_id") === col("c_doc"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component"),
            col("sz"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("component")
          .orderBy(col("sz").desc, col("doc_id"))
        lab.withColumn("keep", row_number().over(w) === 1)
          .select(col("doc_id"), col("component"), col("keep"))
          .transform(d => graft.Q.sorted(d, "doc_id"))
      }
    },

    // d10: INCREMENTAL dedup — the shape production ingestion actually
    // runs: a new batch (here the deterministic doc_id%5=0 fifth of the
    // corpus) is deduped against the EXISTING corpus and against
    // earlier-id members of its own batch, via LSH band collisions
    // verified with exact Jaccard. Nothing old-vs-old is ever recomputed
    // — at 100 TB the old side is a stored band index (bucketed by band
    // key via `sources/Layout`, so the probe join is co-located and
    // shuffle-free), and per-batch cost is O(batch), not O(corpus).
    Q("d10_incremental",
      s"""WITH $shingledCte,
         |sig AS (SELECT doc_id, sh, ${sqlMinhashSig("sh")} AS sig FROM shingled),
         |bands AS (SELECT doc_id, r.bi AS bi, (${sqlBandKeys("sig")})[r.bi + 1] AS bk
         |          FROM sig CROSS JOIN (SELECT unnest(range(0, $LshBands)) AS bi) r),
         |bn AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
         |bo AS (SELECT * FROM bands WHERE doc_id % 5 <> 0),
         |co AS (SELECT DISTINCT a.doc_id AS nid, b.doc_id AS oid
         |       FROM bn a JOIN bo b ON a.bi = b.bi AND a.bk = b.bk),
         |cn AS (SELECT DISTINCT a.doc_id AS nid, b.doc_id AS oid
         |       FROM bn a JOIN bn b ON a.bi = b.bi AND a.bk = b.bk
         |                          AND a.doc_id > b.doc_id),
         |vo AS (SELECT nid, count(DISTINCT oid) AS n FROM co
         |       JOIN sig sa ON sa.doc_id = co.nid JOIN sig sb ON sb.doc_id = co.oid
         |       WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
         |             (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
         |             >= $JaccardThreshold
         |       GROUP BY 1),
         |vn AS (SELECT nid, count(DISTINCT oid) AS n FROM cn
         |       JOIN sig sa ON sa.doc_id = cn.nid JOIN sig sb ON sb.doc_id = cn.oid
         |       WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
         |             (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
         |             >= $JaccardThreshold
         |       GROUP BY 1)
         |SELECT s.doc_id AS doc_id,
         |       CAST(coalesce(vo.n, 0) AS BIGINT) AS n_old_dups,
         |       CAST(coalesce(vn.n, 0) AS BIGINT) AS n_prior_new_dups,
         |       coalesce(vo.n, 0) = 0 AND coalesce(vn.n, 0) = 0 AS keep
         |FROM sig s LEFT JOIN vo ON vo.nid = s.doc_id
         |           LEFT JOIN vn ON vn.nid = s.doc_id
         |WHERE s.doc_id % 5 = 0 ORDER BY 1""".stripMargin) {
      (s, dir) => {
        // eagerly materialized — see d2's note (the concurrent-stage
        // cache race re-ran the signature pipeline per consumer here
        // too: twelve ~1 s stages at sf0.1, each scanning 8.4 MB)
        val sig = shingled(s, dir)
          .select(col("doc_id"), col("sh"), minhashSig(col("sh")).as("sig"))
          .cache()
        sig.count()
        // (A/B'd and kept out, round 16: materializing the narrow band
        // rows once pre-partitioned on bk + inverting the verify joins
        // to broadcast the tiny candidate frames measured SLOWER —
        // 1.84 → 2.70 s at sf0.1. The duplicate wide-cache scans run
        // CONCURRENTLY on otherwise-idle cores, so the extra
        // materialization barriers cost more wall than the saved work.)
        val bands = sig.select(col("doc_id"),
          posexplode(bandKeys(col("sig"))).as(Seq("bi", "bk")))
        val bNew = bands.where(col("doc_id") % 5 === 0)
        val bOld = bands.where(col("doc_id") % 5 =!= 0)
        val candOld = bNew.as("a").join(bOld.as("b").hint("shuffle_hash"),
            col("a.bi") === col("b.bi") && col("a.bk") === col("b.bk"))
          .select(col("a.doc_id").as("nid"), col("b.doc_id").as("oid")).distinct()
        val candNew = bNew.as("a").join(bNew.as("b").hint("shuffle_hash"),
            col("a.bi") === col("b.bi") && col("a.bk") === col("b.bk") &&
              col("a.doc_id") > col("b.doc_id"))
          .select(col("a.doc_id").as("nid"), col("b.doc_id").as("oid")).distinct()
        def verified(cand: org.apache.spark.sql.DataFrame, out: String) = {
          val inter = size(array_intersect(col("sa.sh"), col("sb.sh")))
          cand.join(sig.as("sa"), col("nid") === col("sa.doc_id"))
            .join(sig.as("sb"), col("oid") === col("sb.doc_id"))
            .where(inter * 1.0 /
              (size(col("sa.sh")) + size(col("sb.sh")) - inter) >= JaccardThreshold)
            .groupBy("nid").agg(countDistinct(col("oid")).as(out))
        }
        val vo = verified(candOld, "n_old_dups")
        val vn = verified(candNew, "n_prior_new_dups")
        sig.where(col("doc_id") % 5 === 0).select(col("doc_id"))
          .join(vo, col("doc_id") === vo("nid"), "left").drop("nid")
          .join(vn, col("doc_id") === vn("nid"), "left").drop("nid")
          .select(col("doc_id"),
            coalesce(col("n_old_dups"), lit(0L)).as("n_old_dups"),
            coalesce(col("n_prior_new_dups"), lit(0L)).as("n_prior_new_dups"),
            (coalesce(col("n_old_dups"), lit(0L)) === 0 &&
              coalesce(col("n_prior_new_dups"), lit(0L)) === 0).as("keep"))
          .transform(d => graft.Q.sorted(d, "doc_id"))
      }
    },

    // d9: benchmark decontamination — flag corpus docs sharing any
    // 3-shingle with a held-out benchmark set (here: doc_id % 97 = 0, a
    // deterministic stand-in for an eval suite). The benchmark n-gram
    // index is tiny by definition, so it BROADCASTS and the 100 TB
    // corpus streams through the collision probe with zero pre-join
    // shuffle — the only shuffle is the final per-doc aggregate.
    Q("d9_decontaminate",
      s"""WITH $shingledCte,
         |c AS (SELECT doc_id, unnest(sh) AS g FROM shingled WHERE doc_id % 97 <> 0),
         |b AS (SELECT doc_id, unnest(sh) AS g FROM shingled WHERE doc_id % 97 = 0)
         |SELECT c.doc_id AS doc_id,
         |       count(DISTINCT b.doc_id) AS n_bench_docs,
         |       count(DISTINCT c.g) AS n_shared_shingles
         |FROM c JOIN b ON c.g = b.g
         |GROUP BY 1 ORDER BY 1""".stripMargin) {
      (s, dir) => {
        val sh = shingled(s, dir)
        val corpus = sh.where(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"), explode(col("sh")).as("g"))
        val bench = sh.where(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("bench_id"), explode(col("sh")).as("g"))
        Q.norm(
          corpus.join(broadcast(bench), Seq("g"))
            .groupBy("doc_id")
            .agg(
              countDistinct(col("bench_id")).as("n_bench_docs"),
              countDistinct(col("g")).as("n_shared_shingles")),
          "doc_id")
      }
    })

  /** Quality floor for the composed keep-pipeline (x_keep_pipeline). */
  val QualityFloor = 3.5

  /** The end-use composition every piece above exists for: one query
    * that decides which documents SURVIVE a training-data sweep —
    * quality-score floor AND not the losing side of a near-dup pair
    * (higher doc_id of each >= 0.5 Jaccard pair drops; keep-lowest is
    * the standard deterministic tie-break). Shape at 100 TB: the narrow
    * per-row quality scan, the d4 inverted-index pair join, and one
    * LEFT ANTI join — no new operator classes, pure composition.
    */
  def pipelineQueries: Seq[Q] = Seq(
    Q("x_keep_pipeline", {
      val nstop = TextStats.sqlMarkerCountPublic("toks", TextStats.Stopwords)
      s"""WITH $shingledCte,
         |$pairsDispatchCtes,
         |losers AS (SELECT DISTINCT doc_b FROM pairs),
         |t AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks FROM documents),
         |q AS (SELECT doc_id, lang,
         |             ln(1 + n_chars) * (1.0 - $nstop * 1.0 / len(toks)) AS quality
         |      FROM t)
         |SELECT doc_id, lang, round(quality, 6) AS quality
         |FROM q
         |WHERE quality >= $QualityFloor
         |  AND doc_id NOT IN (SELECT doc_b FROM losers)
         |ORDER BY doc_id""".stripMargin
    }) {
      (s, dir) => {
        val losers = nearDupLosers(s, dir)
        val t = Portable.spread(Tables.documents(s, dir), "doc_id")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            tokens(col("text")).as("toks"))
        val q = t.select(col("doc_id"), col("lang"),
          (log(lit(1) + col("n_chars")) *
            (lit(1.0) - TextStats.markerCountPublic(col("toks"), TextStats.Stopwords) * 1.0 /
              size(col("toks")))).as("quality"))
        q.where(col("quality") >= QualityFloor)
          .join(losers, q("doc_id") === losers("doc_b"), "left_anti")
          .select(col("doc_id"), col("lang"), graft.Q.r6(col("quality")).as("quality"))
          .transform(d => graft.Q.sorted(d, "doc_id"))
      }
    },

    // The round-8 curation capstone: the query that WRITES the training
    // set. A document survives iff (a) it is long enough, (b) its
    // unigram-LM mean NLL says it looks like the corpus (the x_unigram_nll
    // perplexity-proxy, ceiling in exact integer micro-nats), and (c) it
    // is not the losing side of a >= 0.5-Jaccard near-dup pair; survivors
    // egress with their exact-substring-CLEANED text (x_substr_dedup's
    // removal pass). Every gate is integer-exact or an established
    // float-compare; the three signal frames are the already-verified
    // building blocks, so this is pure composition — the x_keep_pipeline
    // shape upgraded with this round's in-distribution and span-cleaning
    // signals. Scale: three independent linear passes plus one anti join
    // and one doc-keyed join; nothing new shuffles more than its
    // standalone query already did.
    Q("x_curation_pipeline", {
      s"""WITH $shingledCte,
         |$pairsDispatchCtes,
         |losers AS (SELECT DISTINCT doc_b FROM pairs),
         |ut AS (SELECT doc_id, u.t AS tok
         |       FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |            UNNEST(toks) u(t)),
         |utf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM ut GROUP BY 1, 2),
         |ucnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS ct FROM ut GROUP BY 1),
         |utot AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM ucnt),
         |uq AS (SELECT tok,
         |              CAST(round(ln(CAST(n AS DOUBLE) / CAST(ct AS DOUBLE)) * 1e6, 0) AS BIGINT)
         |                AS qnll
         |       FROM ucnt, utot),
         |unll AS (SELECT utf.doc_id, CAST(sum(utf.c) AS BIGINT) AS n_tokens,
         |                CAST(sum(utf.c * uq.qnll) // sum(utf.c) AS BIGINT) AS micro_mean_nll
         |         FROM utf JOIN uq USING (tok) GROUP BY 1),
         |${Boilerplate.substrCleanSqlCtes}
         |SELECT unll.doc_id, unll.n_tokens, unll.micro_mean_nll,
         |       CAST(t.n - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
         |       coalesce(k.cleaned_text, '') AS cleaned_text
         |FROM unll JOIN t USING (doc_id) LEFT JOIN k USING (doc_id)
         |WHERE unll.n_tokens >= $CurationMinTokens
         |  AND unll.micro_mean_nll <= $CurationNllCeiling
         |  AND unll.doc_id NOT IN (SELECT doc_b FROM losers)
         |ORDER BY unll.doc_id""".stripMargin
    }) {
      (s, dir) => {
        val unll = Lm.unigramNll(s, dir)
        val cleaned = Boilerplate.substrCleaned(s, dir)
          .select(col("doc_id"), col("n_removed"), col("cleaned_text"))
        val losers = nearDupLosers(s, dir)
        unll
          .where(col("n_tokens") >= CurationMinTokens &&
            col("micro_mean_nll") <= CurationNllCeiling)
          .join(losers, unll("doc_id") === losers("doc_b"), "left_anti")
          .join(cleaned, Seq("doc_id"))
          .select(col("doc_id"), col("n_tokens"), col("micro_mean_nll"),
            col("n_removed"), col("cleaned_text"))
          .transform(d => graft.Q.sorted(d, "doc_id"))
      }
    })

  /** Curation-pipeline gates: minimum document length and the
    * in-distribution ceiling on x_unigram_nll's micro-nat mean NLL
    * (~p95 of the gate corpus, so the filter is non-vacuous on BOTH
    * sides at every SF). */
  val CurationMinTokens = 20
  val CurationNllCeiling = 3450000L

  /** doc_ids that LOSE a >= JaccardThreshold near-dup pair (keep-lowest
    * tie-break) over the UNCAPPED exact index — the anti-join side of
    * x_keep_pipeline and x_curation_pipeline. Persisted build-once (the
    * CoPurchase pattern): the loser set is near-dup-sized and both
    * pipelines plus every bench iteration consume the identical set, so
    * the shingle self-join runs once per corpus fingerprint. */
  def nearDupLosers(s: SparkSession, dir: String): DataFrame =
    Layout.ensureBucketedArtifact(
      s, s"graft_ndlosers_${Layout.sourceFingerprint(s, s"$dir/documents.parquet")}" +
        gateTag(nDocsOf(s, dir)),
      "doc_b", 8) {
      // the dispatched pair list (uncapped counting join on the small
      // arm, winnow gate + exact verify on the large — see the tier
      // note); losers = the higher-id side of each pair, distinct.
      // materialize = true: the build checkpoints the near-dup-sized
      // pair list and releases the corpus-sized shingle cache.
      exactPairsTiered(s, dir, materialize = true)
        .select(col("doc_b")).distinct()
        .localCheckpoint()
    }
}
